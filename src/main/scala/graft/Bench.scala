package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

import Harness.jsonStr

/** Driver-run benchmark: times every registered query at
  * SPARK_GRAFT_SF_DIR and prints ONE compact JSON line on stdout
  * (stdout is forwarded verbatim — build.sbt sets run/outputStrategy).
  *
  * Transport contract (round-4 lesson, re-broken by registry growth in
  * round 6): the driver tail-captures the LAST ~2000 bytes of stdout
  * and parses the last line as JSON — a bulky line gets its HEAD
  * (including `"metric"`) clipped and the round loses its bench grade.
  * At 82 queries the embedded per-query map alone was ~2.8 KB, so
  * stdout now carries ONLY the registry-size-INDEPENDENT summary
  * (metric/value/totals/n_runs/failed-count/sf — [[stdoutLine]],
  * asserted under the clip budget by BenchLineSpec); the per-query
  * best times and the per-run times maps — both O(registry) — go to
  * stderr, printed BEFORE the stdout line. Errors are capped at
  * [[MaxErrorsInline]] entries (the rest are counted, and all of them
  * land on stderr) so even a mass failure cannot re-clip the line.
  *
  * A warmup pass at the smallest scale factor runs first (unless
  * SPARK_GRAFT_WARMUP=0): it pays JIT/codegen/classloader costs once so
  * the timed pass measures query execution, not JVM ramp — round 1's
  * first-timed query carried ~5s of warmup noise.
  */
object Bench {

  /** Error entries inlined into the stdout summary; the full map is on
    * stderr. Messages are truncated to [[InlineErrorChars]] chars
    * before escaping, so even pathological all-escaping messages keep
    * the line hundreds of bytes under the driver's tail window.
    */
  val MaxErrorsInline = 3
  val InlineErrorChars = 60

  /** An error message as a JSON string, control chars blanked to
    * spaces: each stays one byte, so [[InlineErrorChars]] bounds the
    * inline entries, and the line and the BENCHQ file keep the bytes
    * they have always had.
    */
  private def errorJson(e: String): String =
    jsonStr(e.map(c => if (c < ' ') ' ' else c))

  /** The driver-parsed stdout line. Every field is either scalar or
    * bounded ([[MaxErrorsInline]]) — its length must NOT grow with the
    * registry (BenchLineSpec pins this with a worst-case failure set).
    */
  private[graft] def stdoutLine(total: Double, coreTotal: Double,
      nRuns: Int, failures: Seq[(String, String)], sfDir: String): String = {
    val failedJson = failures.map(f => jsonStr(f._1))
      .take(MaxErrorsInline).mkString("[", ",", "]")
    val errorsJson = failures.take(MaxErrorsInline)
      .map { case (n, e) => jsonStr(n) + ":" + errorJson(e.take(InlineErrorChars)) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","core_total":$coreTotal,"extension_total":${total - coreTotal},"n_runs":$nRuns,"n_failed":${failures.size},"failed":$failedJson,"errors":$errorsJson,"sf":${jsonStr(sfDir)}}"""
  }

  def main(args: Array[String]): Unit = {
    val mainT0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val queries = SparkEntry.queries.filter { case (n, _) => Harness.selected(n) }

    // queries that ALWAYS get the widest sample (3N runs), regardless
    // of observed spread: dedup_incremental's FIRST run builds its
    // stored corpus-band-table artifact (ModelStore.ensureFrame —
    // round 14; before that, a session-cache rebuild with 13x ambient
    // spread, round-10 verdict); later runs probe the parquet and sit
    // within ~15% of each other. The wide sample guarantees the
    // reported min is a steady-state probe, with the artifact built
    // during warmup so no measured run pays it.
    val wideSample = Set("dedup_incremental")
    // single-run tier (round-14 ask, extended round 16 per the r15
    // verdict): queries that retrain a model stack, round-trip a
    // ModelStore artifact, or run a brute-force truth leg PER RUN BY
    // DESIGN — in-plan A/B reference arms for their _loaded twins,
    // the eval_* recall/PRF gates (each pays an exact truth leg), the
    // artifact round-trip gates, and the retrain-cycle arms. There is
    // no steady state for best-of-N to probe (every run pays the same
    // training/truth cost), so extra runs on these buy nothing but
    // wall time. ONE timed run each; the loaded twins and every
    // operator-surface query stay multi-run steady-state probes. The
    // lighter in-plan twins (sim_ivf2_topk ~2 s) also stay multi-run —
    // their round-over-round trend is still being adjudicated.
    val singleRun = Set(
      // in-plan heavy baseline arms (round 14)
      "sim_rrf_topk", "sim_pq_topk",
      // recall/quality gates with a brute-force or rule-label truth
      // leg per run (round-15 verdict ask #3)
      "eval_quality_nb_prf", "eval_ivfpq_refined_metrics",
      "sim_ivfpq_refined", "eval_ivfpq_metrics", "eval_ivf2_metrics",
      "quality_nb_score", "eval_langid_prf",
      // ModelStore round-trip gates: train + save + load per run
      "model_store_langid", "model_store_pq",
      // in-plan NB training arm (baseline for the loaded/PRF twins)
      "text_langid_nb",
      // round-16 retrain-by-design arms: the refresh cycle trains
      // twice per run (that IS the cycle), the sweep brute-forces
      // truth + six refine rankings per run
      "model_store_refresh_cycle", "eval_ivfpq_refined_sweep",
      // round-16 session 2: the near-dup recall gate pays a
      // slice x corpus brute truth leg per run by design; the
      // NN-descent gate additionally rebuilds graph + refinement
      "eval_neardup_recall", "eval_nndescent_metrics",
      "eval_nndescent2_metrics",
      // round 17: the miner recall gates each pay their slice x
      // corpus brute truth leg per run (Hamming / uncapped-fp /
      // shingle-containment); the H2 probe arm adds the ~8x probe
      // fan-out on top; the converged operator runs two full descent
      // rounds + stop-count actions per run by design
      "eval_simhash_recall", "eval_winnow_recall",
      "eval_containment_recall", "eval_dhash_recall",
      "eval_neardup_recall2", "sim_nndescent_converged",
      // round 17 session 2: the round-3 convergence point (three
      // descent rounds through the loop operator + brute truth per
      // run) and the H2-probed graph grade (8x probe fan-out + brute
      // truth per run)
      "eval_nndescent3_metrics", "eval_knngraph2_metrics",
      // the same ladder arms on the derived clustered-geometry
      // fixture — each pays the fixture derivation + brute truth per
      // run
      "eval_knngraph_clustered_metrics",
      "eval_nndescent_clustered_metrics",
      "eval_knngraph2_clustered_metrics",
      // round 18: the composed ladder cell (H2 probes + one descent
      // round + brute truth per run, both geometries) and the
      // word-feature quality gate (trains the doubled-feature NB and
      // pays the rule-label leg per run, the eval_quality_nb_prf
      // pattern)
      "eval_knngraph2_descent_metrics",
      "eval_knngraph2_descent_clustered_metrics",
      "eval_quality_nb2_prf")
    // every query that probes a stored ModelStore artifact (ensure* —
    // built once per data dir): the warmup below runs each ONCE at the
    // timed dir so the build lands outside the measurement and the
    // published run arrays are uniform steady-state probes
    val artifactWarm = wideSample ++ Set(
      "sim_rrf_topk_loaded", "sim_ivf2_topk_loaded", "eval_langid_prf_loaded",
      "text_hard_negatives", "text_hybrid_topk", "stream_bm25_screen",
      // round 15: the upsert probes a stored slice-trained router +
      // list frame; the stale gate builds its NB artifact once; the
      // loaded SQ8 twin stores its code table via ensureFrame
      "sim_ivf2_upsert", "model_store_stale_check", "sim_sq_topk_loaded",
      // the model-quality screen probes the stored weak-label NB
      "stream_quality_nb_screen",
      // round-16 session 2: propagation served from the stored kNN
      // edge list (built once per data dir)
      "sim_labelprop_loaded",
      // round 17: the two consumers of the stored REFINED graph
      // (one artifact dir, built on first touch of a data dir)
      "sim_nndescent_loaded", "emb_outliers_loaded",
      // round 18: the classify screen's stored labeled index
      "stream_knn_classify_loaded")
    val warmupDir = "/root/testdata/sf0.001"
    val warmT0 = System.nanoTime()
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0" &&
        new java.io.File(warmupDir).isDirectory) {
      // BOTH warmup passes cover every MULTI-RUN query (round-9
      // verdict: single-warmup runs left 3-9x per-run spread on the
      // fast core queries — the second pass catches codegen/
      // classloader tails the first one triggered but didn't finish
      // absorbing; a round-16 attempt to skip pass 2 by pass-1 time
      // mis-fired, because pass-1 times are COLD times — the t4c
      // class benched uniformly 4-6x slow, stuck in a lower JIT tier
      // all session). The singleRun tier skips warmup ENTIRELY
      // (round-16 wall-budget trim): those arms are measured once and
      // work-dominated (3-8 s of training/truth legs at the timed
      // SF), so the one-time plan-codegen cost their single run now
      // carries is bounded noise (~0.1-0.3 s) — and a deployment's
      // only run of a training job pays it too.
      // warmup failures are LOGGED, never swallowed silently (round-14
      // ADVICE): a query that fails here still gets measured below
      // (where its error is fatal to the bench), but a failed
      // artifact-warm build would silently shift the one-time build
      // cost into the first measured run — the log makes that visible.
      // Each query releases its persists in its own scope (scopes are
      // per thread, so the pooled warmup below keeps them apart).
      def warmExec(n: String, fn: (SparkSession, String) => DataFrame,
          dir: String): Unit =
        Harness.warm(n, dir)(Harness.noop(fn(spark, dir)))
      // CONCURRENT warmup (round-18 ask #5): warmup exists to absorb
      // JIT/codegen/classloader ramp, not to measure — so its queries
      // need not run one at a time. At sf0.001 each query is
      // work-tiny but latency-bound (~1 s of driver/plan/stage
      // round-trips), so a small pool overlaps those latencies and cuts
      // the warmup wall ~Nx without changing WHAT gets warmed (every
      // query still executes, twice). Spark sessions are thread-safe for
      // concurrent actions; the STORED-ARTIFACT queries are excluded
      // from the pool — two ensureFrame calls racing on one artifact
      // dir (sim_nndescent_loaded + emb_outliers_loaded share theirs)
      // could interleave a parquet overwrite — and warm serially
      // below, exactly as before.
      def warmMany(qs: Seq[(String, (SparkSession, String) => DataFrame)],
          dir: String): Unit = {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
        try qs.map { case (n, fn) =>
          pool.submit(new Runnable { def run(): Unit = warmExec(n, fn, dir) })
        }.foreach(_.get())
        finally pool.shutdown()
      }
      (1 to 2).foreach { _ =>
        warmMany(queries.filter { case (n, _) =>
          !singleRun(n) && !artifactWarm(n) }.toSeq, warmupDir)
        // the artifact probers build their sf0.001 artifacts here —
        // serial, for the shared-dir reason above
        queries.filter { case (n, _) => !singleRun(n) && artifactWarm(n) }
          .foreach { case (n, fn) => warmExec(n, fn, warmupDir) }
      }
      // stored-artifact queries build their ModelStore artifact on the
      // first run against a data dir; build it HERE, at the timed dir,
      // so every measured run is a steady-state probe — the artifact
      // outlives any single query in a deployment, and warmup is the
      // phase that exists to pay one-time costs outside the measurement
      queries.filter { case (n, _) => artifactWarm(n) }
        .foreach { case (n, fn) => warmExec(n, fn, sfDir) }
    }
    val warmupSec = (System.nanoTime() - warmT0) / 1e9

    // best-of-N steady-state timing (N = SPARK_GRAFT_RUNS, default 3,
    // clamped to >= 1 — a junk env value must not kill the bench line):
    // the warmup pass above paid JIT and classloading; the min of the
    // measured runs drops residual GC / scheduler / page-cache noise
    // from the reported figure. Queries whose min still exceeds 1 s get
    // up to N extra runs — the heavy pair miners swing ~2x under
    // ambient load on a shared box, and a wider sample keeps the
    // round-over-round comparison measuring the code, not the neighbor.
    //
    // Failures are NOT swallowed: a throwing query would otherwise
    // bench as ~0 s and read as a speedup. Each query records its
    // error; failed queries are EXCLUDED from value/queries/totals (a
    // near-zero wall time for a crash must not read as a speedup), the
    // JSON carries "failed"/"errors", and the process exits nonzero.
    val runs = math.max(1,
      sys.env.get("SPARK_GRAFT_RUNS").flatMap(_.toIntOption).getOrElse(3))
    val results = queries.map { case (name, fn) =>
      var err: Option[String] = None
      // one scope per RUN (which also covers per-query): pair miners
      // persist candidate / signature frames internally and
      // CacheManager matches re-built plans by canonical form, so
      // without the release the 2nd+ runs of a cached-artifact query
      // time cache hits instead of the operator — and stale blocks
      // would distort later queries via memory pressure.
      def timed(): Double = {
        val r = Harness.run(Harness.noop(fn(spark, sfDir)))
        if (r.error.nonEmpty) err = r.error.map(Harness.errorText)
        r.seconds
      }
      val base =
        if (singleRun(name)) Seq(timed())
        else (1 to runs).map(_ => timed())
      // extra-run policy (round-9 verdict, retuned rounds 14 and 17):
      // widen the sample for NOISY queries — ones whose base runs
      // disagree by more than 2x — not for merely SLOW ones. The
      // round-13 tail shows the old unconditional min>0.25s widening
      // spent 6.7 min of the 24.7-min wall re-running heavy queries
      // whose runs already agreed within ~20% (sim_rrf_topk spread
      // 1.2 → 3 extra runs bought nothing); the spread trigger
      // (tightened 3x → 2x) keeps the extra samples exactly where
      // min-of-N needs them. Round-17 retune: FAST queries
      // (min ≤ 0.3 s) never widen — under ambient host load the
      // spread trigger fired on 33 queries (188.8 s of reruns,
      // BENCHQ_r17), most of them sub-second ones whose min was
      // already stable to ~10%; scheduler noise on a 0.2 s query is
      // spread without information. And the spread trigger widens
      // ONCE, not twice: in BENCHQ_r17's ambient sample 32 queries
      // took the second widening (90.1 s of wall) and not one min
      // moved more than ~8% — persistent ambient spread re-triggers
      // forever without converging, and the first widening already
      // doubled the sample. Only the wideSample tier (whose FIRST
      // run builds an artifact by design) keeps its guaranteed 3N.
      def spread(ts: Seq[Double]): Double =
        ts.max / math.max(ts.min, 1e-9)
      var times = base
      if (err.isEmpty && !singleRun(name) &&
          (wideSample(name) || (spread(times) > 2.0 && times.min > 0.3)))
        times = times ++ (1 to runs).map(_ => timed())
      if (err.isEmpty && !singleRun(name) && wideSample(name))
        times = times ++ (1 to runs).map(_ => timed())
      (name, times, err)
    }
    val ok = results.filter(_._3.isEmpty)
    val best = ok.map { case (name, times, _) => name -> times.min }
    val qs = best.map { case (k, v) => jsonStr(k) + ":" + v }
      .mkString("{", ",", "}")
    val runsJson = results.map { case (name, times, _) =>
      jsonStr(name) + ":" + times.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failures = results.collect { case (name, _, Some(e)) => name -> e }.toSeq
    val total = if (best.nonEmpty) best.map(_._2).sum else 0.0
    // reference-surface queries (t1..t10 + events analogs) vs the
    // extension families — lets the harness compare the reference
    // surface against BASELINE directly. Match t<digit>, not a bare
    // "t" prefix: text_* and table_profile are EXTENSION queries and a
    // prefix test silently counted them as core (inflating core_total
    // by the whole text-analysis family).
    val core = best.filter { case (k, _) =>
      k.matches("t\\d.*") || k.startsWith("events_") }
    val coreTotal = if (core.nonEmpty) core.map(_._2).sum else 0.0
    // diagnostic O(registry) maps — per-query best times, per-run
    // times, the FULL error map: stderr, BEFORE the stdout line, so
    // the driver's stdout tail-capture sees only the bounded summary
    val allErrorsJson = failures
      .map { case (n, e) => jsonStr(n) + ":" + errorJson(e) }
      .mkString("{", ",", "}")
    System.err.println(s"""{"bench_queries":$qs}""")
    System.err.println(s"""{"bench_runs":$runsJson}""")
    System.err.println(s"""{"bench_errors":$allErrorsJson}""")
    // DURABLE per-query artifact (stderr scrolls past the driver's tail
    // window; rounds 7-8 lost every per-query number to it). One file,
    // registry-complete: best times, all run samples, the FULL
    // failed-query list and error map — committed per round as
    // BENCHQ_r{N}.json so round-over-round perf diffs never depend on
    // the 2000-byte stdout tail again. Best-effort: an unwritable path
    // must not kill the bench line.
    val benchqPath = sys.env.getOrElse("SPARK_GRAFT_BENCHQ",
      "target/bench_queries.json")
    val failedAllJson = failures.map(f => jsonStr(f._1))
      .mkString("[", ",", "]")
    // wall accounting (round 16): warmup_sec is the pre-measurement
    // phase, wall_sec is the whole main() so far — the two let a
    // reader split the bench wall into warmup / measured / overhead
    // without re-deriving it from run arrays
    val wallSec = (System.nanoTime() - mainT0) / 1e9
    val benchq =
      s"""{"sf":${jsonStr(sfDir)},"n_runs":$runs,"total":$total,"core_total":$coreTotal,"warmup_sec":$warmupSec,"wall_sec":$wallSec,"best":$qs,"runs":$runsJson,"failed":$failedAllJson,"errors":$allErrorsJson}"""
    try {
      val p = java.nio.file.Paths.get(benchqPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p,
        benchq.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case t: Throwable =>
      System.err.println(s"benchq write failed: $t")
    }
    println(stdoutLine(total, coreTotal, runs, failures, sfDir))
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
