package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session defaults — every main/test
  * builder composes this instead of repeating config:
  *   - UTC session timezone (oracle parity for date-derived columns),
  *   - GraftExtensions (native function registration),
  *   - AQE on with skew-join handling (Spark defaults kept explicit
  *     because the engine's scale story depends on them),
  *   - shuffle partitions sized to the local core count (a cluster
  *     deployment overrides via --conf; 200 default partitions on
  *     local[N] just schedules overhead),
  *   - a compiled-class cache that holds the engine's working set.
  *
  * The codegen cache (`spark.sql.codegen.cache.maxEntries`) is static
  * and JVM-wide: `CodeGenerator` reads it once, at its first compile,
  * so it must be set on the first session of the JVM, before any
  * query runs. Spark's default of 100 entries is smaller than one pass
  * of either measured workload, so every pass recompiled almost all
  * of its classes (25–33 ms each). Working sets measured with
  * `CodegenMetrics` (distinct classes compiled, no bound):
  *   - rideshare T1–T7 (18 actions): 169 classes;
  *   - the 7-query corpus/ML mix (one registry query per family): 234;
  *   - all 243 registry queries at sf0.001 (one Verify sweep): 3,110,
  *     which at the default bound cost 7,813 compiles.
  * 1024 entries is about 4× the larger per-workload set. A cached class
  * holds about 25–70 KB of heap, so a full cache costs at most ~70 MB.
  * A sweep of all 243 queries still cycles the cache; it holds the
  * classes of a repeated mix, which is what a serving or bench loop
  * runs.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)

  /** The defaults alone, with master and shuffle partitions left to the
    * deployment (`spark-submit --master … --conf …`).
    */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime bloom-filter pushdown: shuffle-join probe sides get a
      // build-side bloom filter injected below their scan — a large
      // win for the selective fact⋈fact joins at cluster scale
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", 1024)
      // shuffle/spill scratch on tmpfs when available: the harness box
      // intermittently throttles block-device writes to ~15 MB/s,
      // which turns every exchange into an IO stall and benches the
      // hypervisor instead of the plan. RAM-backed scratch is the
      // local[N] analog of a cluster's local NVMe — correctness is
      // unaffected (scratch is ephemeral by contract), and local-mode
      // shuffle volumes here are MBs against a 128 GiB box.
      .config("spark.local.dir", localScratchDir)

  /** Prefer /dev/shm (tmpfs) for Spark scratch; fall back to the JVM
    * default temp dir where it doesn't exist or isn't writable.
    */
  private lazy val localScratchDir: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft-spark-local")
      d.mkdirs()
      d.getAbsolutePath
    } else sys.props.getOrElse("java.io.tmpdir", "/tmp")
  }
}
