package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class SinksSpec extends AnyFunSuite with SparkSpec {

  private lazy val df = spark.createDataFrame(Seq(
    ("Uber", 1, "11.00"), ("Lyft", 1, "-3.00")))
    .toDF("business", "month", "total_profit")

  test("single-file CSV sink: one part file, header, values round-trip") {
    val dir = Files.createTempDirectory("graft_csv").toString
    Sinks.writeCsvSingle(df, dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(parts.length === 1) // coalesce(1) → a single CSV file
    val back = spark.read.option("header", "true").csv(dir)
      .orderBy("business").collect().map(_.toSeq).toSeq
    assert(back === Seq(Seq("Lyft", "1", "-3.00"), Seq("Uber", "1", "11.00")))
  }

  test("JSONL round-trip: documents survive write+schema-enforced read") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "hello world", "en", "web", 11L),
      (2L, "ein \"zitat\" mit unicode: один", "de", "books", 29L),
      (3L, "", "en", "web", 0L)) // empty text must survive, not null out
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = Files.createTempDirectory("graft_jsonl").toString
    Sinks.writeJsonl(docs, dir)
    // the written files ARE line-delimited JSON (one object per line)
    val lines = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".json"))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines())
    assert(lines.length === 3)
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
    val back = Tables.documentsJsonl(spark, dir)
    assert(back.schema === Tables.documentsSchema)
    assert(back.orderBy("doc_id").collect().map(_.toSeq).toSeq ===
      docs.orderBy("doc_id").collect().map(_.toSeq).toSeq)
  }

  test("JSONL round-trip: embeddings float arrays are value-exact") {
    val s = spark; import s.implicits._
    val embs = Seq(
      (1L, Seq(0.25f, -1.5f, 3.125f), 0),
      (2L, Seq.empty[Float], 1))
      .toDF("vec_id", "embedding", "label")
    val dir = Files.createTempDirectory("graft_jsonl_e").toString
    Sinks.writeJsonl(embs, dir)
    val back = Tables.embeddingsJsonl(spark, dir)
    assert(back.schema === Tables.embeddingsSchema)
    // exactly-representable floats chosen so JSON decimal round-trip
    // cannot drift them
    assert(back.orderBy("vec_id").collect().map(_.toSeq).toSeq ===
      embs.orderBy("vec_id").collect().map(_.toSeq).toSeq)
  }

  test("ORC round-trip: documents + embeddings, schema-enforced") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "hello world", "en", "web", 11L),
      (2L, "ein \"zitat\" mit unicode: один", "de", "books", 29L),
      (3L, "", "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = Files.createTempDirectory("graft_orc").toString
    Sinks.writeOrc(docs, dir)
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName.endsWith(".orc")))
    val back = Tables.documentsOrc(spark, dir)
    assert(back.schema === Tables.documentsSchema)
    assert(back.orderBy("doc_id").collect().map(_.toSeq).toSeq ===
      docs.orderBy("doc_id").collect().map(_.toSeq).toSeq)
    val embs = Seq(
      (1L, Seq(0.25f, -1.5f, 3.125f), 0),
      (2L, Seq.empty[Float], 1))
      .toDF("vec_id", "embedding", "label")
    val dirE = Files.createTempDirectory("graft_orc_e").toString
    Sinks.writeOrc(embs, dirE)
    val backE = Tables.embeddingsOrc(spark, dirE)
    assert(backE.schema === Tables.embeddingsSchema)
    assert(backE.orderBy("vec_id").collect().map(_.toSeq).toSeq ===
      embs.orderBy("vec_id").collect().map(_.toSeq).toSeq)
  }

  test("ORC scan pushes filters and prunes columns") {
    val s = spark; import s.implicits._
    val docs = (0L until 50L).map(i =>
      (i, s"text $i", "en", s"src${i % 4}", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = Files.createTempDirectory("graft_orc_p").toString
    Sinks.writeOrc(docs, dir)
    val q = Tables.documentsOrc(spark, dir)
      .filter(org.apache.spark.sql.functions.col("doc_id") > 40L)
      .select("doc_id", "source")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThan(doc_id,40)"), plan)
    assert(q.count() === 9)
  }

  test("compaction rewrites a fragmented sink, values intact") {
    val s = spark; import s.implicits._
    val rows = (0L until 500L).map(i => (i, s"text body number $i"))
    val dir = Files.createTempDirectory("graft_compact").toString + "/data"
    // fragment: 20 small files
    rows.toDF("doc_id", "text").repartition(20)
      .write.mode("overwrite").parquet(dir)
    def parquetFiles = {
      val d = new java.io.File(dir)
      if (d.exists) d.listFiles().count(_.getName.endsWith(".parquet"))
      else 0
    }
    assert(parquetFiles === 20)
    val n = Sinks.compactParquet(spark, dir, targetBytes = 64L * 1024)
    assert(n >= 1 && n < 20)
    assert(parquetFiles === n)
    // byte-identical content, no leftover staging dirs
    val back = spark.read.parquet(dir).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back === rows)
    assert(!new java.io.File(dir + ".compact").exists)
    assert(!new java.io.File(dir + ".precompact").exists)
  }

  test("partitioned parquet sink prunes by partition column") {
    val dir = Files.createTempDirectory("graft_pq").toString
    Sinks.writeParquet(df, dir, partitionBy = Seq("business"))
    assert(new java.io.File(s"$dir/business=Uber").isDirectory)
    val uber = spark.read.parquet(dir).filter("business = 'Uber'")
    assert(uber.count() === 1)
    // partition pruning visible in the plan: only one partition dir read
    val scan = uber.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"))
  }

  test("exportSorted: one partition, totally ordered, same rows") {
    val s = spark; import s.implicits._
    // a dhash-pairs-shaped frame with repeated leading keys, spread
    // over several input partitions
    val pairs = (0L until 60L).map(i => (i % 7, i, i % 4))
      .toDF("doc_a", "doc_b", "hamming").repartition(4)
    val single = Sinks.exportSorted(pairs, Seq("doc_a", "doc_b"))
    assert(single.rdd.getNumPartitions === 1)
    val srows = single.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(srows === srows.sorted)
    assert(srows.sorted ===
      pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
  }
}
