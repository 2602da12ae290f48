package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{CacheScope, ModelStore, Sinks, Tables}
import Harness.jsonStr

/** Scaling-curve harness: measures how the pair-miner / ANN family
  * grows with corpus size — the empirical backing for every "scale-
  * safe" claim in PLANS.md (which otherwise rest on plan shape at one
  * size). Synthesizes k× corpora (k = 1,2,4,8) from the sf0.1
  * documents/embeddings tables, times each operator at every size, and
  * prints per-query growth exponents (log-log slope between 1× and the
  * largest size). A blocked/banded miner should land ~n^1.0–1.3; a
  * quadratic one shows as ~n^2 immediately at 8×.
  *
  * Corpus synthesis (replica r of k):
  *   - documents: doc_id += r·10⁷; every whitespace token gets a
  *     replica suffix ("w" → "w~r") for r > 0. Token-level salting
  *     preserves ALL intra-replica structure exactly — token counts,
  *     distinctness, shingle sets, length buckets — while md5-derived
  *     hashes (minhash bands, simhash bits) decorrelate completely
  *     across replicas, so the duplicate-pair DENSITY of the base
  *     corpus is preserved under growth (the property real corpus
  *     growth has: duplicate fraction roughly constant, not rising).
  *     `source` also gets the replica suffix: block diversity grows
  *     with the corpus, which is [[graft.operators.Dedup.ngramJaccardPairs]]'s
  *     documented operating regime; the fixed-source adversarial
  *     regime is measured separately (`dedup_ngram_fixedsrc`).
  *   - embeddings: vec_id += r·10⁷; element i is sign-flipped by a
  *     deterministic per-replica pattern (xxhash64(r, i) parity).
  *     Same flips within a replica ⇒ intra-replica dot products are
  *     bit-exact; across replicas the pattern decorrelates cosine to
  *     ~N(0, 1/√d), so near-dup structure per replica is preserved
  *     and cross-replica pairs are (as in a real corpus) rare.
  *
  * Usage:
  *   sbt "runMain graft.ScalingBench [baseSfDir] [outRoot]"
  * Env: SPARK_GRAFT_CPUS (default: all processors), SPARK_GRAFT_SCALING_RUNS
  * (default 2, best-of), SPARK_GRAFT_SCALES (default "1,2,4,8"),
  * SPARK_GRAFT_ONLY (comma-separated subject names).
  * Stdout: one JSON line (times, counts, exponents). Stderr: the
  * ready-to-paste SCALING.md table.
  */
object ScalingBench {

  private val IdOffset = 10000000L

  /** Salted k× replication of the documents table (see class doc). */
  def scaleDocuments(docs: DataFrame, k: Int): DataFrame =
    (0 until k).map { r =>
      if (r == 0) docs
      else {
        val salted = array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"~$r"))),
          " ")
        docs.select(
          (col("doc_id") + lit(r * IdOffset)).as("doc_id"),
          salted.as("text"),
          col("lang"),
          concat(col("source"), lit(s"~$r")).as("source"),
          length(salted).cast("long").as("n_chars"))
      }
    }.reduce(_ unionByName _)

  /** Sign-flipped k× replication of the embeddings table (see class
    * doc). The flip pattern depends only on (replica, element index),
    * so it is deterministic across runs and identical for every vector
    * of one replica — intra-replica cosine is bit-exact.
    */
  def scaleEmbeddings(embs: DataFrame, k: Int): DataFrame =
    (0 until k).map { r =>
      if (r == 0) embs
      else {
        val flipped = transform(col("embedding"), (x, i) =>
          when(pmod(xxhash64(lit(r), i), lit(2)) === 0, x).otherwise(-x))
        embs.select(
          (col("vec_id") + lit(r * IdOffset)).as("vec_id"),
          flipped.as("embedding"),
          col("label"))
      }
    }.reduce(_ unionByName _)

  def synthesize(spark: SparkSession, baseDir: String, outDir: String,
      k: Int): Unit = {
    scaleDocuments(Tables.documents(spark, baseDir), k)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    scaleEmbeddings(Tables.embeddings(spark, baseDir), k)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** Zipfian-vocabulary k× corpus: every token of every doc (and of
    * every replica) is rewritten to `w<rank>` with rank drawn
    * Zipf(1)-distributed over a SHARED `vocab`-word vocabulary —
    * rank = ⌊V^u⌋ for u uniform (inverse-CDF of p(r) ∝ 1/r), u from
    * xxhash64(doc_id, position, replica). This is the regime the
    * base corpus can't produce (TESTDATA: ~31 words, every term in
    * ~78% of docs — every query term matches nearly every doc and
    * BM25's matched-pairs set degenerates to the cross product): a
    * realistic corpus keeps its vocabulary as it grows, stop-word df
    * grows ∝ N and trips the probe's df cap, while the Zipf tail
    * keeps per-term fan-out sublinear. Token COUNT per doc is
    * preserved (lengths, adl unchanged); only identity changes.
    */
  def scaleDocumentsZipf(docs: DataFrame, k: Int,
      vocab: Int = 10000): DataFrame =
    (0 until k).map { r =>
      val zipfWord = (i: org.apache.spark.sql.Column) => {
        val u = pmod(xxhash64(col("doc_id"), i, lit(r)), lit(1000000L))
          .cast("double") / 1e6
        concat(lit("w"), least(lit(vocab.toLong), greatest(lit(1L),
          floor(pow(lit(vocab.toDouble), u)).cast("long"))))
      }
      val rewritten = array_join(
        transform(split(col("text"), " "), (_, i) => zipfWord(i)), " ")
      docs.select(
        (col("doc_id") + lit(r * IdOffset)).as("doc_id"),
        rewritten.as("text"),
        col("lang"),
        concat(col("source"), lit(if (r == 0) "" else s"~$r")).as("source"),
        length(rewritten).cast("long").as("n_chars"))
    }.reduce(_ unionByName _)

  def synthesizeZipf(spark: SparkSession, baseDir: String,
      outDir: String, k: Int): Unit =
    scaleDocumentsZipf(Tables.documents(spark, baseDir), k)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

  /** The operators under test. Registry entries are reused verbatim
    * (they read documents/embeddings via Tables from the passed dir);
    * `dedup_ngram_fixedsrc` additionally measures the ngram miner's
    * ADVERSARIAL regime — source diversity held constant while the
    * corpus grows, so same-block cohorts grow k× and the blocked
    * verify is expected ~n^2 (the documented "compose with
    * minhashPairs" regime, here quantified).
    */
  private def subjects: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val names = Seq(
      "dedup_exact", "dedup_minhash_pairs", "dedup_simhash_pairs",
      "dedup_ngram_jaccard", "dedup_embedding_cosine", "dedup_clusters",
      "emb_dedup_survivors", "sim_lsh_topk", "sim_ivf_topk",
      "decontam_hits", "pipeline_curate_full", "dedup_winnow_pairs",
      "text_winnow", "decontam_bloom_survivors", "text_rare_bigram_rate",
      "dedup_incremental", "pii_scrub", "pipeline_select_budget",
      "dedup_semantic", "pipeline_pack", "pipeline_chunks",
      "dedup_chunk_stats", "dedup_chunk_clean", "emb_quantize",
      "dedup_substring", "text_bpe_count", "dedup_substring_clean",
      "stream_substring_screen", "quality_gopher_rules", "quality_c4_clean",
      "curation_dsir_weights", "quality_gopher_repetition",
      "quality_perplexity", "quality_perplexity_buckets",
      "text_html_extract", "domain_mix_temperature",
      "curation_unimax_alloc", "pipeline_ingest_screen",
      "dedup_paragraph_stats", "dedup_paragraph_clean", "corpus_diff",
      "mm_decode_ppm", "mm_decode_wav", "pipeline_pack_bpe",
      "stream_ivf_screen", "text_bpe_train", "mm_decode_png",
      "text_langid_nb", "mm_decode_jpeg", "mm_resize_png",
      "text_bpe_train_apply", "mm_resample_wav", "stream_asset_screen",
      "decontam_overlap_ratio", "sim_cluster_sample", "text_bm25_topk",
      // layout_zorder reads ORDERS, which the scaled corpora don't
      // replicate (documents/embeddings only) — and its shape is
      // map-only arithmetic + one range shuffle, nothing to curve
      "eval_langid_prf", "corpus_patch",
      // round 11 (layout_hilbert shares layout_zorder's exclusion
      // rationale: map-only arithmetic + one range shuffle over
      // orders, which the scaled corpora don't replicate)
      "mm_decode_adpcm", "model_store_langid", "mm_adpcm_roundtrip",
      "sim_pq_codes", "sim_pq_topk", "sim_ivfpq_topk", "mm_g711_roundtrip",
      // round 13
      "profile_merge", "mm_decode_g711_wav", "stream_pq_screen",
      "model_store_pq", "eval_langid_prf_loaded",
      // round 13 retrieval family (sim_rrf_topk's query set is fixed
      // at vec_id < 50; the text queries' %100 probe slice grows
      // WITH the corpus — the documented k^2-by-construction harness
      // artifact, same as text_bm25_topk)
      "sim_rrf_topk", "text_hybrid_topk", "text_hard_negatives",
      // round 13 late additions (sim_mmr_rerank queries fixed at
      // vec_id < 20; the sampling pair scans every doc once and keeps
      // bounded heaps)
      "sim_mmr_rerank", "curation_weighted_sample", "stream_sample_screen",
      // round 13 latest: the CM pair should be ~linear (one scan onto
      // a fixed grid; profile_cm_heavy's exact-count gate leg is the
      // vocabulary groupBy it exists to avoid — the pair's DELTA is
      // the evidence); eval_retrieval_metrics' queries are fixed at
      // vec_id < 50 (replica 0) while its brute-force truth leg scans
      // the growing corpus per query
      "profile_cm_heavy", "stream_cm_screen", "eval_retrieval_metrics",
      // round 13 closers: leak-free split = the clusters curve plus
      // one rep-bucket equi-join; fertility and emb_health are one
      // scan / one partner join — all expected ~linear
      "pipeline_split_leakfree", "text_bpe_fertility", "emb_health",
      // round 13 sketch closers: the per-source heap cap should be
      // ~linear (one scan, map-side heaps, shuffle carries ≤ 40
      // entries per source; source count grows with the corpus by
      // construction, keeping the heap frame sketch-sized). The
      // histogram pair (profile_hist_quantiles / stream_hist_screen)
      // reads EVENTS, which the scaled corpora don't replicate —
      // layout_zorder's exclusion rationale — and its shape is one
      // scan onto a ≤ bins-cell grid, nothing to curve.
      "curation_source_cap",
      // round 13 session-4 additions, all documents-keyed. Expected
      // ~linear: the perceptual fixtures (dhash/envelope/video) are
      // partition-local decode+hash with block joins whose candidate
      // lists grow with twin count; scriptProfile / blocklist are
      // map-only scalar walks; web rollup shuffles domain-sized stats
      // (domain count is doc_id%37 × suffix classes — fixed, so the
      // rollup frame does NOT grow); scene cuts add one bounded
      // per-video window
      "mm_dhash_pairs", "mm_audio_fp_pairs", "mm_scene_cuts",
      "text_script_profile", "text_blocklist_hits", "text_blocklist_scrub",
      "web_url_profile", "web_domain_stats",
      // round 14: curriculum = one TTR scan + a bounded-histogram
      // window + a broadcast stage join (~linear expected); the
      // loaded RRF ranker builds its artifacts on the first run of
      // each scale and PROBES them on the rest, so its best-of curve
      // measures the steady-state query cost against a static index;
      // ingest v2 adds one map-only url canonicalization + one
      // equi-join on clean_url to the v1 screen
      "curation_curriculum",
      "sim_rrf_topk_loaded", "pipeline_ingest_screen_v2",
      // round 14: the hierarchical router — training is 3 bounded
      // Lloyd loops (L1 + one composite fine loop), probing is two
      // narrow windows + an equi-join on the composite cell key; the
      // loaded twin probes stored artifacts (built on each scale's
      // first run), the screen routes the %20 arrival slice per row
      "sim_ivf2_topk", "sim_ivf2_topk_loaded", "stream_ivf2_screen",
      // round 15: the recall gate's curve (its brute-force truth leg
      // scans the growing corpus per fixed query — the documented
      // k²-by-construction harness artifact, as eval_retrieval_metrics)
      "eval_ivf2_metrics",
      // round 15: containment shares the winnow-fp join geometry
      // (expected ~linear like dedup_winnow_pairs; verify bounded by
      // candidates); the upsert's arrival slice grows WITH the corpus
      // (%20), so the curve measures O(|batch|) assignment + the
      // stored-list scan — the loaded-probe shape plus a batch window
      "dedup_containment", "sim_ivf2_upsert",
      // the containment screen's arrival slice grows with the corpus
      // (%2) — expected ~linear-in-hits like the other fp screens;
      // the clean adds one broadcast anti-join to the pairs plan
      "stream_containment_screen", "dedup_containment_clean",
      // round 15 SQ8 family: the exact scan is Θ(queries × corpus)
      // over a 4×-smaller column (queries fixed at vec_id < 5 →
      // expected ~linear); the screen's arrival slice grows with
      // the corpus (%20) against a growing bucketed index; the
      // filtered ranker is one broadcast equi-join + capped window
      "sim_sq_topk", "stream_sq_screen", "sim_filtered_topk",
      // round 15: two-stage serving — the ADC scan's curve plus an
      // id-pruned broadcast float fetch (fixed 50×9 shortlist), so
      // the delta vs sim_ivfpq_topk is the refine stage's cost
      "sim_ivfpq_refined",
      // round 15: keep-best completion = the dedup_clusters curve
      // plus one score join and one hash-argmax aggregate
      "dedup_survivors_best",
      // round 15: the filtered screen shares stream_sq_screen's
      // fixed-bits bucket geometry (same documented Θ(n²/2^bits)
      // pair artifact, label key thins it by the label count); the
      // balance profile is one scan into an 8-key aggregate
      "stream_filtered_screen", "eval_ivf_balance",
      // round 15: the sketch scan reads 16 longs/row — expected flat
      // like sim_sq_topk (fixed 5-query set, growing corpus); the
      // loaded SQ8 twin builds its stored code table on each scale's
      // first run and probes it on the rest (the loaded-twin curve
      // convention). The refined ranker's delta vs sim_ivfpq_topk is
      // the (corpus-independent) refine leg.
      "sim_project_topk", "sim_sq_topk_loaded",
      // round 15: the classifier-based quality filter shares
      // text_langid_nb's geometry (seed-slice train + one-scan score)
      // plus the rule pass over the corpus for labels; its screen is
      // join-free per-row scoring of the %10 arrival slice against a
      // stored model (built on each scale's first run)
      "quality_nb_score", "stream_quality_nb_screen",
      // round 16: the auto-sized SQ8 screen arm — chooseBits holds
      // bucket occupancy ~64 at every scale, so the curve should shed
      // stream_sq_screen's documented fixed-bits Θ(n²/2^bits) tail;
      // the refresh cycle is two bounded ivf2 trainings + the serve
      // probe (the sim_ivf2_topk growth shape, twice); the sweep's
      // brute-force truth leg scans the growing corpus per fixed
      // query — the documented k²-by-construction harness artifact
      // (eval_retrieval_metrics' annotation applies)
      "stream_sq_screen_auto", "model_store_refresh_cycle",
      "eval_ivfpq_refined_sweep",
      // round 16 session 2: the semantic-decontam sweep shares
      // nearDupPairs' bucket geometry with a small broadcast eval
      // side (expected ~linear — the corpus is scanned once and
      // bucket occupancy is held by chooseBits); its screen probes a
      // FIXED 4-bit eval index, so the %20 arrival slice's growth is
      // the only corpus-sized term; the kNN graph is nearDupPairs
      // plus a per-vector bounded rank window (output ≤ n·k — the
      // one miner whose OUTPUT grows linearly by construction);
      // the recall gate's truth leg is slice × corpus (the documented
      // harness-artifact shape — eval_retrieval_metrics' annotation)
      "decontam_semantic_hits", "stream_decontam_semantic",
      "sim_knn_graph", "eval_neardup_recall",
      // the NN-descent round rides the knn graph's edge list: two id
      // equi-joins bounded by k²+2k candidates per vector, so the
      // curve should track sim_knn_graph's (output is again n·k)
      "sim_nndescent_topk",
      // label propagation adds one label equi-join + two bounded
      // aggregates to the graph; the outlier screen adds one integer
      // sum per vector + a <=200·k-cell histogram cut — both expected
      // to track sim_knn_graph's curve
      "sim_label_propagation", "emb_outliers",
      // round 17: the loaded twins build their stored refined-graph
      // artifact on each scale's first run and serve from it after
      // (the loaded-twin curve convention); the converged operator is
      // two full descent rounds + two edge-list anti-join stop counts
      // (expected ~sim_nndescent_topk × 2); the Hamming-2 recall arm
      // carries the ~8× probe fan-out AND the slice × corpus brute
      // truth leg (the documented harness-artifact k² — the
      // eval_retrieval_metrics annotation applies); the winnow /
      // containment gates likewise carry brute truth legs (uncapped
      // fp join / slice × corpus shingle intersect)
      "sim_nndescent_loaded", "emb_outliers_loaded",
      "sim_nndescent_converged", "eval_neardup_recall2",
      "eval_winnow_recall", "eval_containment_recall",
      // the 64-bit-family recall laws carry slice(100) × corpus brute
      // Hamming truth legs — expected ~linear (fixed slice side); v3
      // adds one probe explode + one equi-join against a FIXED eval
      // index to the v2 screen
      "eval_simhash_recall", "eval_dhash_recall",
      "pipeline_ingest_screen_v3",
      // round 17 session 2: both carry the slice × corpus brute truth
      // leg; the descent-3 arm additionally runs three loop rounds
      "eval_nndescent3_metrics", "eval_knngraph2_metrics",
      // the clustered-geometry ladder arms add one map-only fixture
      // derivation (a per-element literal add) to the same shapes;
      // under replica scaling the 10 label centers persist, so
      // cluster OCCUPANCY grows k× — the dense-cluster regime, where
      // the bucket join's same-cluster cohorts are the growth term
      "eval_knngraph_clustered_metrics",
      "eval_nndescent_clustered_metrics",
      "eval_knngraph2_clustered_metrics",
      // the classify screen shares stream_decontam_semantic's shape
      // (growing %20 arrival slice, one stream-static bucket join
      // against a growing labeled index, scalar vote) — ~linear
      "stream_knn_classify",
      // graph pruning = the kNN graph + the dedup_clusters completion
      // over its τ-filtered (≤ n·k) edge list — expected to track
      // sim_knn_graph plus the component loop's near-flat cost
      "emb_graph_survivors",
      // round 18: the CALIBRATED arm adds the partner-sample
      // histogram (one n-row join) to the same shape — its ROWS
      // column is the round's percolation evidence (proportional
      // survivors, vs the fixed-τ arm's measured collapse); the
      // clustered semanticDedup arm measures the cell-bounded dedup
      // in the dense-cluster regime (replica scaling grows cluster
      // OCCUPANCY k×, so within-cell pair cohorts are the growth
      // term); mm_dhash_survivors joins the survivor fleet so every
      // survivor operator curves rows, not just wall (round-18 ask
      // #8); the composed ladder cell carries the H2 fan-out + one
      // descent round + the slice × corpus brute truth leg
      "emb_graph_survivors_calibrated", "dedup_semantic_clustered",
      "mm_dhash_survivors", "stream_knn_classify_loaded",
      "eval_knngraph2_descent_metrics", "eval_quality_nb2_prf",
      // the Jaccard calibration: one partner join over the word sets
      // + the blocked miner at the calibrated cut — expected to track
      // dedup_ngram_jaccard's curve plus a ~linear partner-join term;
      // its rows are the identical-set pair count (replica-preserved,
      // so ∝ n under salted scaling)
      "dedup_ngram_calibrated",
      // the discriminating arm: source salting gives each replica its
      // own template vocabulary (the fixture keys templates by the
      // source column), so cross-replica pairs stay noise-bounded
      // (≤ 0.273) and rows = same-cell pairs ∝ n at a constant τ=0.3
      "dedup_ngram_cal_clustered",
      // the Hamming calibration pair: base arm rows = exact-sketch
      // (identity-fallback) pairs, ~∝ n (set-identical pairs are
      // salting-exact; sketch-luck d=0 pairs rehash per replica); the
      // clustered arm documents the radius resampling per corpus
      // (0 ↔ 5 across scales as the thin same-cell dup mass below
      // d ≤ 5 is caught or missed by the partner permutation) — the
      // admitted pairs stay d ≤ 3 true dups either way: safety comes
      // from the geometry cap + the distance cut, not monotonicity
      "dedup_simhash_calibrated", "dedup_simhash_cal_clustered")
    val fromRegistry = names.map { n =>
      val q = Registry.all.find(_.name == n)
        .getOrElse(sys.error(s"not registered: $n"))
      q.name -> q.fn
    }
    val fixedSrc: (SparkSession, String) => DataFrame = (s, d) =>
      Sinks.exportSorted(graft.operators.Dedup.ngramJaccardPairs(
        Tables.documents(s, d).withColumn("source",
          regexp_replace(col("source"), "~\\d+$", ""))), Seq("doc_a", "doc_b"))
    // τ=0.6 twin of dedup_embedding_cosine: at τ=0.3 on d=64 unit
    // vectors, ~0.75% of ALL pairs qualify (measured on the base
    // corpus — the random-cosine floor, sd≈1/√d), so the OUTPUT is
    // Θ(n²) and no miner can beat its own output size. At τ=0.6 the
    // true-pair density is ~0 and the measurement isolates the
    // algorithm: bucketing + probe + verify, expected ~linear.
    val embCos06: (SparkSession, String) => DataFrame = (s, d) =>
      Sinks.exportSorted(graft.operators.Similarity.nearDupPairs(
        Tables.embeddings(s, d), 0.6), Seq("vec_a", "vec_b"))
    // round 15 (verdict ask #3): the GROWING-CELLS regime — both
    // routers under their own corpus-driven sizing (chooseCells ~
    // n/64 flat cells; chooseCells2 the balanced two-level split of
    // the same k), the regime the hierarchical router exists for:
    // flat per-vector assignment is k·d dot products and grows
    // linearly in n (total training/assignment work Θ(n²·d/64)),
    // two-level is (nL1+nL2)·d ≈ 2√k·d (total Θ(n^1.5)). The
    // registry queries pin FIXED geometry (4×16), which curves flat
    // by construction; these arms let the cell count follow the
    // corpus so the crossover is measurable. nprobe stays at the
    // defaults on both arms — probed-list VOLUME per query is then
    // ~2·64 vs ~4·64 vectors at every scale (occupancy is held at
    // TargetCell by the sizing), so the curve isolates routing +
    // training growth, not recall-parameter drift.
    val ivfAuto: (SparkSession, String) => DataFrame = (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.operators.Similarity.ivfTopK(e,
        nCells = graft.operators.Similarity.chooseCells(e.count()))
    }
    val ivf2Auto: (SparkSession, String) => DataFrame = (s, d) => {
      val e = Tables.embeddings(s, d)
      val (l1, l2) = graft.operators.Similarity.chooseCells2(e.count())
      graft.operators.Similarity.ivf2TopK(e, nL1 = l1, nL2 = l2)
    }
    // round 16 (verdict ask #7): the containment screen at GROWING
    // ARRIVAL fractions against a FIXED index — the deployment regime
    // (a static accepted corpus screens an arriving stream; the
    // registry query's index grows WITH the corpus, which conflates
    // index growth into the curve). Index = replica-0 evens only;
    // arrivals = every replica's odds, so the arrival count grows k×
    // while the fp index is pinned — the curve isolates per-arrival
    // cost, expected ~linear in hits.
    val containFixedIdx: (SparkSession, String) => DataFrame = (s, d) => {
      val docs = Tables.documents(s, d)
      graft.streaming.DocStreams.containmentScreen(
        docs.filter(col("doc_id") % 2 === 1),
        graft.streaming.DocStreams.winnowFpIndex(
          docs.filter(col("doc_id") % 2 === 0 &&
            col("doc_id") < IdOffset)))
    }
    // round 18 (ask #1's "Done"): the calibrated pruning arm on the
    // CLUSTERED fixture — label clusters SPAN replicas (the center
    // literals don't flip), so the 10-cluster structure persists at
    // every scale and the survivor-rows column should be
    // cluster-count-shaped (≈ constant) while the random-geometry
    // registry arm stays ~proportional — the two x-rows that
    // demonstrate structure-tracking instead of percolation.
    val calClustered: (SparkSession, String) => DataFrame = (s, d) =>
      graft.operators.Similarity.graphDedupSurvivorsCalibrated(
        graft.analog.SemanticAnalogs.clusteredEmbs(
          Tables.embeddings(s, d)), epsPm = 0L, k = 5)
    fromRegistry ++ Seq(
      "dedup_ngram_fixedsrc" -> fixedSrc,
      "dedup_embcos_t06" -> embCos06,
      "sim_ivf_autocells" -> ivfAuto,
      "sim_ivf2_autocells" -> ivf2Auto,
      "containment_screen_fixedidx" -> containFixedIdx,
      "emb_graph_surv_cal_clustered" -> calClustered)
  }

  /** Subjects measured on the ZIPFIAN corpora (see
    * [[scaleDocumentsZipf]]) — the BM25 probe's REALISTIC regime:
    * the df cap drops the Zipf head and the tail bounds per-term
    * fan-out, so this is the curve that backs the operator's scale
    * claim (the dense-31-word base corpus can only measure its
    * degenerate worst case).
    *
    * The QUERY set is held FIXED (the base replica's doc_id%100
    * slice) while the corpus grows — the deployment regime: a
    * bounded eval-prompt/citation set probes an arriving corpus. The
    * registry query's own probe slice grows WITH the corpus, which
    * measures Θ(queries × corpus) = k² work by construction — a
    * harness artifact, not an operator property (first measured
    * round 11: growing-queries tail ~1.9 on both corpus families;
    * fixed-queries is the curve with meaning).
    */
  private def zipfSubjects: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val fixedQueries: (SparkSession, String) => DataFrame = (s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Retrieval.bm25TopK(
        docs.filter(col("doc_id") % 100 === 0 &&
          col("doc_id") < IdOffset),
        docs.filter(col("doc_id") % 100 =!= 0))
    }
    val fixedScreen: (SparkSession, String) => DataFrame = (s, d) => {
      val docs = Tables.documents(s, d)
      val idx = graft.operators.Retrieval.bm25Index(
        docs.filter(col("doc_id") % 100 =!= 0))
      graft.streaming.DocStreams.bm25Screen(
        docs.filter(col("doc_id") % 100 === 0 &&
          col("doc_id") < IdOffset), idx)
    }
    Seq("bm25_zipf" -> fixedQueries,
      "bm25_screen_zipf" -> fixedScreen)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outRoot = args.drop(1).headOption.getOrElse("target/scaling")
    val runs = math.max(1, sys.env.get("SPARK_GRAFT_SCALING_RUNS")
      .flatMap(_.toIntOption).getOrElse(2))
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,2,4,8")
      .split(",").map(_.trim.toInt).toSeq
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // every subject carries its corpus family's dir prefix: the main
    // fleet runs on the salted-replica corpora (x$k), the zipf
    // subjects on the shared-vocabulary Zipfian ones (zipf/x$k)
    val allSubjects =
      subjects.map { case (n, f) => (n, f, "x") } ++
        zipfSubjects.map { case (n, f) => (n, f, "zipf/x") }
    val active = allSubjects.filter { case (n, _, _) => Harness.selected(n) }

    val prefixes = active.map(_._3).distinct
    scales.foreach { k =>
      prefixes.foreach { p =>
        val dir = s"$outRoot/$p$k"
        // marker written LAST, recording the base corpus: a dir from a
        // different base (or a run killed mid-synthesis, which never
        // wrote the marker) is re-synthesized instead of silently timed
        val marker = new java.io.File(s"$dir/_BASE")
        val markerOk = marker.isFile &&
          new String(java.nio.file.Files.readAllBytes(marker.toPath),
            java.nio.charset.StandardCharsets.UTF_8) == baseDir
        if (!markerOk) {
          System.err.println(s"synthesizing $dir ...")
          if (p == "zipf/x") synthesizeZipf(spark, baseDir, dir, k)
          else synthesize(spark, baseDir, dir, k)
          // stored-artifact invalidation (round-18 review): ModelStore
          // artifacts are keyed by md5 of the data-dir PATH
          // (ModelStore.dir: <family>_<md5>), and the serve-stale read default
          // would silently serve an index built against the dir's
          // PREVIOUS content after an in-place re-synthesis — drop
          // every artifact keyed by this dir so loaded-twin subjects
          // rebuild against the fresh corpus (invalidate also drops
          // each artifact's `.fp` fingerprint)
          ModelStore.invalidateFor(spark, dir)
          java.nio.file.Files.write(marker.toPath,
            baseDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    }

    // warmup at 1× pays JIT/codegen outside every measurement. TWO
    // passes: one execution per subject is not enough to tier-up the
    // generated code — the first measured cells (subject-major order,
    // x1 first) were repeatedly observed 2–4× slow on single-warmup
    // sessions, which corrupts the curve's low endpoint and hence the
    // exponent.
    (1 to 2).foreach { _ =>
      active.foreach { case (name, fn, p) =>
        val dir = s"$outRoot/$p${scales.head}"
        Harness.warm(name, dir)(Harness.noop(fn(spark, dir)))
      }
    }

    // rows: one untimed count per cell — the pair miners' output
    // growth (linear, not quadratic) is itself scaling evidence
    val cells = for ((name, fn, p) <- active; k <- scales) yield {
      val dir = s"$outRoot/$p$k"
      val times = (1 to runs).map { _ =>
        // one scope per RUN, not per cell (the Bench.scala lesson): the
        // miners persist derived frames internally and CacheManager
        // matches re-built plans by canonical form, so without the
        // release the 2nd+ runs time cache hits and best-of-N reports
        // warm minima — the growth exponent then measures cache-scan
        // growth, not the operator. A failed cell ends the bench.
        val r = Harness.run(Harness.noop(fn(spark, dir)))
        r.error.foreach(throw _)
        r.seconds
      }
      val rows = CacheScope.run(fn(spark, dir).count())
      System.err.println(
        f"$name%-26s x$k%-3d best=${times.min}%8.3fs rows=$rows%d")
      (name, k, times.min, rows)
    }

    val byName = cells.groupBy(_._1)
    val sorted = scales.sorted
    val maxK = sorted.last
    // two slopes per query: endpoint (first→last scale — depressed by
    // any fixed per-job overhead, so it UNDERSTATES growth) and tail
    // (last two scales — the best proxy for the asymptotic exponent)
    // exponents are undefined for a single (or duplicate) scale —
    // carry them as Option so the JSON gets null, not NaN
    val summary = active.map { case (name, _, _) =>
      val m = byName(name).map(c => c._2 -> (c._3, c._4)).toMap
      val exp = if (maxK == sorted.head) None
        else Some(math.log(m(maxK)._1 / m(sorted.head)._1) /
          math.log(maxK.toDouble / sorted.head))
      val tailExp = sorted.takeRight(2) match {
        case Seq(a, b) if a != b =>
          Some(math.log(m(b)._1 / m(a)._1) / math.log(b.toDouble / a))
        case _ => exp
      }
      (name, m, exp, tailExp)
    }

    // stderr: the SCALING.md table
    val hdr = scales.map(k => f"x$k time (s)").mkString(" | ")
    val rhdr = scales.map(k => f"x$k rows").mkString(" | ")
    System.err.println(s"\n| query | $hdr | exp | tail exp | $rhdr |")
    System.err.println(
      "|---|" + scales.map(_ => "---|").mkString +
        "---|---|" + scales.map(_ => "---|").mkString)
    def fmtExp(e: Option[Double]) = e.map(x => f"$x%.2f").getOrElse("—")
    summary.foreach { case (name, m, exp, tailExp) =>
      val ts = scales.map(k => f"${m(k)._1}%.2f").mkString(" | ")
      val rs = scales.map(k => m(k)._2.toString).mkString(" | ")
      System.err.println(
        s"| `$name` | $ts | ${fmtExp(exp)} | **${fmtExp(tailExp)}** | $rs |")
    }

    def jexp(e: Option[Double]) = e.map(x => f"$x%.3f").getOrElse("null")
    val qjson = summary.map { case (name, m, exp, tailExp) =>
      jsonStr(name) + ":{" +
        "\"times\":{" + scales.map(k => jsonStr(s"x$k") + ":" + m(k)._1)
          .mkString(",") + "}," +
        "\"rows\":{" + scales.map(k => jsonStr(s"x$k") + ":" + m(k)._2)
          .mkString(",") + "}," +
        "\"exponent\":" + jexp(exp) + "," +
        "\"tail_exponent\":" + jexp(tailExp) + "}"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scaling","base":${jsonStr(baseDir)},"scales":[${scales.mkString(",")}],"runs":$runs,"queries":$qjson}""")
    spark.stop()
  }
}
