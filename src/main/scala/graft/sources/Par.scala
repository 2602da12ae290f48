package graft.sources

import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.execution.exchange.Exchange

/** Scale-adaptive compute fan-out (optimization guide §2.5 "input
  * skew: one huge unsplittable file … repartition immediately after
  * the read").
  *
  * The driver's testdata ships every table as ONE parquet row group,
  * and Spark cannot split a row group across scan tasks — so every
  * compute-heavy map side (the fused gram/md5 walk, PQ/IVF encode,
  * shingle hashing) runs on a single core until the first exchange,
  * however many executor threads exist. [[fanOut]] inserts a
  * round-robin repartition to the session's core count, but ONLY when
  * the plan's scan parallelism is actually below it — at deployment
  * scale a corpus has thousands of splits, the probe sees
  * partitions ≥ cores, and the call is a no-op (zero added shuffle).
  * That conditionality is what makes the fix scale-correct rather
  * than a local-mode tuning hack: any deployment whose scan
  * parallelism is starved (one .gz shard, a single giant row group,
  * a coalesced upstream write) gets the same unstarving.
  *
  * Probing is plan-inspection only, never execution (round-19 ADVICE):
  * the previous `df.rdd.getNumPartitions` probe forced
  * AdaptiveSparkPlanExec to materialize intermediate query stages on
  * any exchange-bearing input — eagerly running upstream shuffle (and
  * broadcast) jobs whose output the later real action does not reuse —
  * and AQE partition coalescing could report post-exchange counts
  * below `defaultParallelism`, turning the documented "no-op when the
  * chain already has an exchange" into a redundant full shuffle. Now
  * a plan containing any [[Exchange]] or subquery returns unchanged
  * (its downstream parallelism is the session shuffle-partition
  * count, ≥ cores by config), and only a genuinely scan-rooted narrow
  * chain — where building the RDD runs no job — is probed for its
  * split count.
  *
  * The probe counts only splits that hold data. A split is not a unit
  * of work: a parquet split reads only the row groups whose midpoint
  * falls inside it, so a single-row-group file planned as 4 splits
  * still runs on one core (the other 3 read nothing), and a
  * `getNumPartitions >= cores` test passes it through unfanned. With
  * the local split floor of 256 KB ([[graft.GraftSession]]) any
  * single-row-group file above about 0.75 MB splits this way. So a
  * parquet split counts only when one of its files keeps a row group
  * under Spark's own midpoint filter
  * (`ParquetFooterReader.buildFilter`, read through its footer); a
  * split of another format counts when it holds any bytes, and a
  * partition that comes from no file scan always counts. The footers
  * are read on the driver and no job runs. They are not read at all
  * when the chain has fewer partitions than cores, and the count stops
  * at the core count.
  *
  * Value safety: a keyless repartition only re-buckets rows, so it is
  * result-identical for every downstream whose arithmetic is
  * order-free — the house integer-exact discipline (micro-nat grids,
  * integer sums, tie-broken windows) guarantees exactly that. Callers
  * feeding order-SENSITIVE float accumulations must not use it.
  *
  * Streaming frames pass through untouched (`.rdd` is illegal on a
  * streaming plan, and the repartition would break the audited
  * streaming-legal plan shapes).
  */
object Par {
  def fanOut(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (target <= 1) return df
    // Prepared physical plan: building it plans the query but runs
    // nothing. Exchange-or-subquery detection uses AQE's OWN
    // applicability test — InsertAdaptiveSparkPlan wraps the plan in
    // AdaptiveSparkPlanExec exactly when it contains an exchange or a
    // subquery (the cases where a `.rdd` probe would eagerly run query
    // stages). The direct Exchange scan below it covers AQE-off
    // sessions, where EnsureRequirements has already inserted the
    // exchanges into the prepared plan. (`sparkPlan` is NOT enough:
    // it predates EnsureRequirements, so join/aggregate exchanges are
    // not in it yet — only explicit repartitions are.)
    val exec = df.queryExecution.executedPlan
    if (exec.isInstanceOf[
          org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec] ||
        exec.exists(_.isInstanceOf[Exchange]))
      df
    // narrow scan-rooted chain: toRdd builds lineage without running a
    // job, and its partitions are the scan's splits
    else if (dataSplitsReach(exec, df.rdd.getNumPartitions, target)) df
    else df.repartition(target)
  }

  /** Whether at least `target` of a narrow chain's `splits` partitions
    * hold data: each file-scan split that holds none is taken off.
    */
  private def dataSplitsReach(exec: SparkPlan, splits: Int,
      target: Int): Boolean = splits >= target && {
    val scans = exec.collect { case s: FileSourceScanExec => s }
    val parts = scans.map(s => s -> s.inputRDD.partitions.collect {
      case p: FilePartition => p })
    val need = target - (splits - parts.map(_._2.length).sum)
    need <= 0 || parts.iterator.flatMap { case (scan, ps) =>
      val holds = holdsData(scan)
      ps.iterator.filter(p => p.files.exists(holds))
    }.take(need).size == need
  }

  /** The scan's test of whether one file's split reads any row. */
  private def holdsData(scan: FileSourceScanExec): PartitionedFile => Boolean =
    scan.relation.fileFormat match {
      case _: ParquetFileFormat =>
        val conf = scan.session.sessionState
          .newHadoopConfWithOptions(scan.relation.options)
        f => f.length > 0 && !ParquetFooterReader.readFooter(
          HadoopInputFile.fromPath(f.toPath, conf),
          ParquetFooterReader.buildFilter(conf, f, false)).getBlocks.isEmpty
      case _ => _.length > 0
    }
}
