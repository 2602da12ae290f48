package graft.sources

import org.apache.spark.sql.DataFrame

/** Output operators matching the reference's sink surface (SURVEY.md
  * §2.1) plus the parquet path the verify harness uses.
  */
object Sinks {

  /** Reference operator S3 (`codes/task2.py:109-111`,
    * `codes/task5.py:88`): one CSV file with a header row.
    * `coalesce(1)` collapses the final stage to a single task — correct
    * for the reference's small aggregate results (≤ dozens of rows),
    * and exactly what NOT to do for large outputs; use
    * [[writeParquet]] with partitioning for anything sized by the data.
    */
  def writeCsvSingle(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)

  /** Scale-shaped sink: parquet, optionally hive-partitioned by low-
    * cardinality columns so downstream reads prune partitions.
    */
  def writeParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** The export order of a registry entry: one partition, sorted by
    * `sortCols`. Library operators return unordered frames; the entry
    * that needs its oracle's row order ends here (or in `orderBy`).
    *
    * A round-robin `repartition(1)` then a one-task sort, rather than
    * `orderBy`: a range exchange first samples its child, which runs
    * the upstream join+verify pipeline twice. Rather than
    * `coalesce(1)`: coalesce is a narrow dependency that would collapse
    * the upstream stage itself into one task; the exchange keeps it
    * parallel and moves only the output rows into the sort task. So
    * this shape suits an output that is a small fraction of its input
    * (a pair list, a hit list, a k-row-per-vector graph); it is the one
    * place a range sort for unbounded outputs will go.
    */
  def exportSorted(df: DataFrame, sortCols: Seq[String]): DataFrame = {
    require(sortCols.nonEmpty, "exportSorted: need at least one sort column")
    import org.apache.spark.sql.functions.col
    df.repartition(1).sortWithinPartitions(sortCols.map(col): _*)
  }

  /** Reference operator S4: console sink (`show`). */
  def show(df: DataFrame, n: Int = 20): Unit = df.show(n, truncate = false)

  /** JSONL sink (one JSON object per line — the interchange format
    * training corpora ship in). Spark's json writer IS line-delimited,
    * so output stays splittable: a downstream 1000-executor read
    * parallelizes by newline with no coordination. Optional
    * partitioning as in [[writeParquet]].
    */
  def writeJsonl(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .json(path)
  }

  /** Small-file compaction — the maintenance pass every streaming
    * sink eventually needs (the ingest pipeline's idempotent
    * per-batch partitions each hold a micro-batch's worth of files;
    * a 1000-batch day leaves thousands of kilobyte parquet files
    * whose open/footer overhead dominates downstream scans).
    * Rewrites the dataset at `path` into ~`targetBytes`-sized files:
    * file count = ceil(current total bytes / targetBytes), laid out
    * by `repartition` (round-robin — even sizes without a sort).
    * Writes to `path + ".compact"` then swaps via two renames
    * (`path` → `.precompact`, `.compact` → `path`), each CHECKED —
    * Hadoop `rename` reports failure by returning false, so an
    * unchecked swap could silently leave the sink uncompacted or
    * half-swapped. Crash recovery: a crash before the first rename
    * leaves the original intact (stale `.compact` is overwritten on
    * re-run); a crash BETWEEN the renames leaves no dataset at
    * `path` — the data survives at `.precompact`, and the next run
    * restores it automatically before compacting. Returns the output
    * file count.
    *
    * Hive-partitioned inputs (the ingest sink's `batch_id=N` layout)
    * flatten: the partition column becomes an ordinary data column in
    * the compacted output — provenance preserved as data, not layout.
    * Stop the writing stream before compacting its sink (the standard
    * maintenance-window contract; a restarted query would interleave
    * fresh partition dirs with the flattened files).
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession,
      path: String, targetBytes: Long = 128L * 1024 * 1024): Long = {
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + ".compact")
    val old = new org.apache.hadoop.fs.Path(path + ".precompact")
    // recover from a prior crash: between the two renames there is no
    // dataset at `path` — the data lives at `.precompact`; restore it.
    // After a completed swap that crashed before cleanup, both exist —
    // `path` is the compacted data and `.precompact` is stale; drop it.
    if (fs.exists(old)) {
      if (!fs.exists(hPath)) require(fs.rename(old, hPath),
        s"recovery rename $old -> $hPath failed; restore manually")
      else require(fs.delete(old, true),
        s"could not delete stale $old from a prior crash")
    }
    val totalBytes = fs.getContentSummary(hPath).getLength
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
    spark.read.parquet(path)
      .repartition(nFiles.toInt)
      .write.mode("overwrite").parquet(tmp.toString)
    require(fs.rename(hPath, old),
      s"rename $hPath -> $old failed; sink left uncompacted (intact)")
    require(fs.rename(tmp, hPath),
      s"rename $tmp -> $hPath failed; original preserved at $old — " +
        "re-run to recover")
    fs.delete(old, true) // best-effort: next run drops a leftover
    nFiles
  }

  /** ORC sink — the other columnar interchange format (Hive-native
    * stacks). Same scale shape as [[writeParquet]]: columnar + striped
    * so downstream scans prune columns and split by stripe; zstd keeps
    * parity with the parquet default. Optional hive partitioning.
    */
  def writeOrc(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").option("compression", "zstd")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .orc(path)
  }
}
