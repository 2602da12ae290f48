package graft
import java.nio.file.{Files, Paths}

import graft.sources.{CacheScope, ModelStore}
import Harness.jsonStr

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // the correctness gate always exercises the FULL
    // train+save+load path: stored ModelStore artifacts from an
    // earlier session could otherwise serve a stale model after a
    // trainer change and turn a code regression into an
    // unexplainable oracle mismatch (Bench keeps the artifacts —
    // amortization is what it measures; unconditional: a partial
    // SPARK_GRAFT_ONLY run must not poison a later full one)
    ModelStore.invalidate(spark, ModelStore.Root)
    SparkEntry.queries.filter { case (n, _) => Harness.selected(n) }
      .foreach { case (name, fn) =>
        // one scope per query: the operators' persists are released
        // after its write, and any that escape the scope are reported
        val (plans0, rdds0) = CacheScope.held(spark)
        Harness.run {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }.error.foreach(t =>
          System.err.println(s"[verify] $name failed: ${t.getMessage}"))
        val (plans1, rdds1) = CacheScope.held(spark)
        val leaked = math.max(plans1 - plans0, rdds1 - rdds0)
        if (leaked > 0)
          System.err.println(s"[verify] $name leaked $leaked persists")
      }
    // exact escaping: a tab or CR in an oracle's SQL must still parse as
    // JSON, or the oracle compare fails for every query at once
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
