package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[Par.fanOut]] laws after the round-19 probe fix (plan inspection,
  * never execution): starved narrow scans fan out to the session core
  * count; exchange- or subquery-bearing plans return the SAME object
  * (no probe, no added repartition — the old `df.rdd` probe eagerly
  * materialized AQE query stages and could misread coalesced counts);
  * already-parallel narrow chains pass through.
  */
class ParSpec extends AnyFunSuite with SparkSpec {

  private def onePartParquet(): org.apache.spark.sql.DataFrame = {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("par_fanout").toString + "/t"
    (0L until 64L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("fanOut repartitions a single-split narrow scan to the core count") {
    val df = onePartParquet()
    assert(df.rdd.getNumPartitions === 1)
    val out = Par.fanOut(df.select(col("doc_id"), md5(col("text"))))
    assert(out.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    // value-identity: same rows, only placement changed
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted
      === (0L until 64L).toArray)
  }

  test("fanOut counts only splits holding data: a split single-row-group file still fans out") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("par_fanout_rg").toString + "/t"
    // incompressible hex text: one ~300 KB file, one row group
    (0L until 4000L).map(i => (i, (0 until 2).map(j =>
      java.util.UUID.nameUUIDFromBytes(s"$i/$j".getBytes).toString).mkString))
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length === 1 && files.head.length > 250000L, files.map(_.length).toSeq)
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, 64L * 1024)
    try {
      val df = spark.read.parquet(dir).select(col("doc_id"), md5(col("text")))
      val target = spark.sparkContext.defaultParallelism
      assert(df.rdd.getNumPartitions > target)
      val out = Par.fanOut(df)
      assert(out.rdd.getNumPartitions === target)
      assert(out.select("doc_id").collect().map(_.getLong(0)).sorted
        === (0L until 4000L).toArray)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("fanOut is reference-identity on exchange-bearing plans (no probe, no extra shuffle)") {
    val agg = onePartParquet().groupBy("text").agg(count(lit(1)).as("n"))
    assert(Par.fanOut(agg) eq agg)
    val rep = onePartParquet().repartition(2)
    assert(Par.fanOut(rep) eq rep)
  }

  test("fanOut is reference-identity on subquery-bearing plans") {
    val df = onePartParquet()
    df.createOrReplaceTempView("par_fanout_t")
    val sq = spark.sql(
      "SELECT doc_id FROM par_fanout_t " +
        "WHERE doc_id > (SELECT min(doc_id) FROM par_fanout_t)")
    assert(Par.fanOut(sq) eq sq)
  }

  test("fanOut passes an already-parallel narrow chain through unchanged") {
    val s = spark; import s.implicits._
    val target = spark.sparkContext.defaultParallelism
    val df = spark.range(0, 100, 1, target).select(col("id"))
    assert(Par.fanOut(df) eq df)
  }
}
