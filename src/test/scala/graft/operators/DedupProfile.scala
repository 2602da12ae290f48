package graft.operators

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** One-off profiling runner for the pair-mining hot path:
  * `sbt "Test/runMain graft.operators.DedupProfile /root/testdata/sf0.1"`.
  */
object DedupProfile {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, d)
    import graft.functions.TextFunctions._

    def time(name: String)(f: => Long): Unit = {
      // warm
      f
      val t0 = System.nanoTime(); val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s  rows=$n")
    }

    time("scan") { docs.count() }
    time("shingles only") {
      docs.select(col("doc_id"), shingles2(col("text")).as("sh"))
        .select(count(lit(1))).head().getLong(0)
    }
    time("shingle hashes") {
      docs.select(shingleHashes(shingles2(col("text"))).as("hs"))
        .select(sum(size(col("hs")))).head(); 0L
    }
    time("band keys (sig)") { Dedup.minhashSignatures(docs).count() }
    time("candidates only") {
      val bands = docs
        .select(col("doc_id"), shingleHashes(shingles2(col("text"))).as("hs"))
        .select(col("doc_id"), posexplode(
          array((0 until 4).map(b => bandKeyInt(col("hs"), b)): _*))
          .as(Seq("pos", "band")))
      bands.select(col("doc_id").as("doc_a"), col("pos"), col("band"))
        .join(bands.select(col("doc_id").as("doc_b"), col("pos"), col("band")),
          Seq("pos", "band"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct().count()
    }
    time("full minhashPairs") { Dedup.minhashPairs(docs).count() }
    spark.stop()
  }
}
