package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Scratch A/B for the pair-miner total-order tail:
  * `sbt "Test/runMain graft.operators.TailProbe /root/testdata/sf0.1"`.
  */
object TailProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, d)

    def core(): DataFrame = {
      val sigs = Dedup.simhash(docs).cache()
      val a = sigs.select(col("bucket"), col("doc_id").as("doc_a"),
        col("simhash").as("sig_a"))
      val b = sigs.select(col("bucket"), col("doc_id").as("doc_b"),
        col("simhash").as("sig_b"))
      a.join(b, Seq("bucket"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("hamming",
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
        .filter(col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    }

    def exec(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def time(name: String)(f: => DataFrame): Unit = {
      exec(f) // warm
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); exec(f); (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-30s min=${ts.min}%5.2f  runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }

    println(s"pair count at $d: ${core().count()}")
    time("no tail") { core() }
    time("orderBy") { core().orderBy("doc_a", "doc_b") }
    time("coalesce(1)+swp") { core().coalesce(1).sortWithinPartitions("doc_a", "doc_b") }
    time("repartition(1)+swp") { core().repartition(1).sortWithinPartitions("doc_a", "doc_b") }
    spark.conf.set("spark.sql.execution.sortBeforeRepartition", "false")
    time("repart(1)+swp noSBR") { core().repartition(1).sortWithinPartitions("doc_a", "doc_b") }
    spark.conf.set("spark.sql.execution.sortBeforeRepartition", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    time("repart(1)+swp noAQE") { core().repartition(1).sortWithinPartitions("doc_a", "doc_b") }
    time("coalesce(1)+swp noAQE") { core().coalesce(1).sortWithinPartitions("doc_a", "doc_b") }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    core().repartition(1).sortWithinPartitions("doc_a", "doc_b").explain("formatted")
    spark.stop()
  }
}
