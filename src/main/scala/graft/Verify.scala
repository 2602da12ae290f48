package graft
import java.nio.file.{Files, Paths}

import graft.sources.CacheScope

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
    def rmTree(p: java.io.File): Unit = {
      if (p.isDirectory) Option(p.listFiles).foreach(_.foreach(rmTree))
      p.delete(); ()
    }
    rmTree(new java.io.File("target/models"))
    // comma-separated subset for local iteration (same contract as Bench)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      // one scope per query: the operators' persists are released after
      // its write, and any that escape the scope are reported
      val (plans0, rdds0) = CacheScope.held(spark)
      try CacheScope.run {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val (plans1, rdds1) = CacheScope.held(spark)
      val leaked = math.max(plans1 - plans0, rdds1 - rdds0)
      if (leaked > 0)
        System.err.println(s"[verify] $name leaked $leaked persists")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
