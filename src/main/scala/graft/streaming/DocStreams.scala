package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Streaming document-pipeline pieces: near-dup screening at ingest.
  *
  * The batch half (graft.operators.Dedup.minhashSignatures) maintains a
  * band-key index of the accepted corpus; arriving documents compute
  * their own band keys and STREAM-STATIC join the index — each
  * micro-batch only touches the bands it carries, no state beyond the
  * (periodically refreshed) static index. This is the standard
  * dedup-at-ingest shape: cheap screen first, exact Jaccard verify on
  * the (tiny) hit set downstream.
  */
object DocStreams {

  /** (doc_id, pos, band) — exploded band keys for either side. */
  def bandRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), shingleHashesN(col("text")).as("hs"))
      .select(col("doc_id"), posexplode(
        array((0 until 4).map(b => bandKeyInt(col("hs"), b)): _*))
        .as(Seq("pos", "band")))

  /** Screen a stream of docs against a static signature index built by
    * [[bandRows]] over the accepted corpus. Emits one row per
    * (arriving doc, indexed doc, band position) collision; downstream
    * verifies exact similarity on this small set before rejecting.
    */
  def nearDupScreen(streamDocs: DataFrame, bandIndex: DataFrame): DataFrame =
    bandRows(streamDocs)
      .join(bandIndex
        .select(col("doc_id").as("matched_id"), col("pos"), col("band")),
        Seq("pos", "band"))
      .select(col("doc_id"), col("matched_id"), col("pos").as("band_pos"))

  /** (bench_id, h) — exploded 60-bit word-`n`-gram hashes of a
    * benchmark set, the static index for [[contamScreen]]. Benchmark
    * sets are small by definition; the index broadcasts.
    */
  def benchGramIndex(bench: DataFrame, n: Int = 3): DataFrame =
    bench.select(col("doc_id").as("bench_id"),
      explode(graft.expressions.TextExpressions.gramHashes60(
        tokens(col("text")), n)).as("h"))

  /** Contamination screen at ingest: arriving docs stream-static join
    * the benchmark n-gram index (graft.operators.Decontam's screen,
    * re-cut for Structured Streaming). Streaming can't re-aggregate
    * per pair without state, so this emits one row per (arriving doc,
    * bench doc, shared gram hash) collision — exact, stateless, each
    * micro-batch touches only its own grams; the per-pair `n_shared`
    * rollup (and the ≥ minShared verdict) is one tiny aggregation over
    * the hit stream downstream, exactly [[nearDupScreen]]'s
    * screen-then-verify split.
    */
  def contamScreen(streamDocs: DataFrame, gramIndex: DataFrame,
      n: Int = 3): DataFrame =
    streamDocs.select(col("doc_id"),
      explode(graft.expressions.TextExpressions.gramHashes60(
        tokens(col("text")), n)).as("h"))
      .join(gramIndex, "h")
      .select(col("doc_id"), col("bench_id"), col("h"))

  /** (corpus_id, corpus_pos, h) — the accepted corpus' positional gram
    * anchor table (graft.operators.Dedup.substringPairs' anchor
    * shape), the static index for [[substringScreen]]. df-capped at
    * BUILD time, corpus-side only: one boilerplate gram past `maxDf`
    * occurrences would otherwise flood every micro-batch that carries
    * it (the batch miner's cap argument, applied at the index).
    *
    * Like [[bandRows]]/[[benchGramIndex]], the builder returns a plain
    * frame; a streaming deployment persists it (or writes it out,
    * bucketed by `h`) once — an unpersisted index re-evaluates per
    * micro-batch. The df-cap is one windowed count over the single
    * anchor pass (no second corpus scan, no self-join of the build).
    */
  def substringAnchorIndex(corpus: DataFrame, gram: Int = 8,
      maxDf: Long = 128L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.operators.Dedup.positionalAnchors(corpus, gram)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("df") <= maxDf)
      .select(col("doc_id").as("corpus_id"),
        col("pos").as("corpus_pos"), col("h"))
  }

  /** Exact-substring screen at ingest: arriving docs explode their own
    * positional anchors and stream-static join the corpus anchor
    * index — stateless, each micro-batch touches only the gram hashes
    * it carries. Emits one row per anchor ALIGNMENT (arriving doc,
    * corpus doc, both positions, diagonal); the run extension that
    * turns alignments into exact shared-run verdicts is the batch
    * gaps-and-islands over this (tiny) hit set downstream — the same
    * screen-then-verify split as [[nearDupScreen]]/[[contamScreen]].
    */
  def substringScreen(streamDocs: DataFrame, anchorIndex: DataFrame,
      gram: Int = 8): DataFrame =
    streamDocs.select(col("doc_id"),
      posexplode(graft.expressions.TextExpressions.gramHashes60(
        tokens(col("text")), gram, distinct = false)).as(Seq("pos", "h")))
      .join(anchorIndex, "h")
      .select(col("doc_id"), col("corpus_id"),
        col("pos").cast("long").as("pos"),
        col("corpus_pos").cast("long").as("corpus_pos"),
        (col("pos") - col("corpus_pos")).cast("long").as("diag"))

  /** (corpus_id, fp) — the accepted corpus' winnowing-fingerprint
    * index ([[graft.operators.Dedup.containmentPairs]]'s candidate
    * geometry), the static artifact for [[containmentScreen]]. Like
    * [[bandRows]]/[[substringAnchorIndex]], the builder returns a
    * plain frame; a deployment persists it once (≈ 2/(win+1) of the
    * corpus' k-gram hashes, 16 bytes a row).
    *
    * df-capped at BUILD time, corpus-side only (the
    * [[substringAnchorIndex]] argument applied to fingerprints): one
    * boilerplate fingerprint past `maxDf` corpus occurrences would
    * otherwise flood every micro-batch that carries it. One windowed
    * count over the single build pass — no second corpus scan.
    */
  def winnowFpIndex(corpus: DataFrame, k: Int = 3,
      win: Int = 4, maxDf: Long = 128L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    corpus.select(col("doc_id").as("corpus_id"),
      explode(graft.functions.TextFunctions.winnowFingerprints(
        col("text"), k, win)).as("fp"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("df") <= maxDf)
      .select(col("corpus_id"), col("fp"))
  }

  /** Containment screen at ingest — the candidate half of
    * [[graft.operators.Dedup.containmentPairs]] re-cut for Structured
    * Streaming: arriving docs' winnowing fingerprints stream-static
    * join the corpus fp index. This is the screen that catches an
    * eval prompt / licensed passage / near-verbatim quote EMBEDDED in
    * an arriving page even when the page dwarfs it — the band screen
    * ([[nearDupScreen]]) is structurally blind there, because band
    * collision probability tracks resemblance, which vanishes for
    * small-in-large containment. Stateless, each micro-batch touches
    * only the fingerprints it carries; emits one row per (arriving
    * doc, corpus doc, shared fingerprint), and the per-pair
    * ≥ minShared rollup + exact shingle-containment verify run over
    * the small hit set downstream — the standard screen-then-verify
    * split.
    */
  def containmentScreen(streamDocs: DataFrame, fpIndex: DataFrame,
      k: Int = 3, win: Int = 4): DataFrame =
    streamDocs.select(col("doc_id"),
      explode(graft.functions.TextFunctions.winnowFingerprints(
        col("text"), k, win)).as("fp"))
      .join(fpIndex, "fp")
      .select(col("doc_id"), col("corpus_id"), col("fp"))

  /** BM25 retrieval screen at ingest: arriving query documents (eval
    * prompts being audited, candidate citations, hard-negative seeds)
    * probe the static DF-CAPPED postings index built by
    * [[graft.operators.Retrieval.bm25Index]] over the accepted corpus
    * — a stream-static equi-join on the 8-byte term hash, the
    * [[contamScreen]] / [[nearDupScreen]] shape. Stateless: each
    * micro-batch touches only the term hashes it carries, and the cap
    * bounds every term's fan-out at maxDfPermille·N/1000 (without it
    * one "the" in an arriving query would join nearly the whole
    * corpus). Emits one row per (arriving query, corpus doc, shared
    * term) with the integer score contribution `c`
    * ([[graft.operators.Retrieval.termScore]] — the SAME expression
    * the batch ranker sums, so screen and ranker cannot drift); the
    * per-pair Σc rollup and top-k window run over the (small) hit
    * stream downstream — the standard screen-then-verify split.
    */
  def bm25Screen(streamQueries: DataFrame, index: DataFrame): DataFrame =
    graft.operators.Retrieval.queryTerms(streamQueries)
      .join(index, "h")
      .select(col("query_id"), col("doc_id"), col("h"),
        graft.operators.Retrieval.termScore.as("c"))

  /** Quality screen at ingest: the C4-then-Gopher gate
    * (graft.operators.QualityFilters.screen) applied to arriving
    * documents. Unlike the dedup/contamination screens there is no
    * static index at all — the gate is per-row scalar work, so each
    * micro-batch maps through with zero state, zero joins, and no
    * watermark; downstream routes on `pass`/`reason`.
    */
  /** Per-window weighted sample of an ARRIVING corpus — A-ES
    * (Efraimidis–Spirakis) is one-pass by construction, so the
    * streaming form is just the batch draw's priority (the SHARED
    * [[graft.operators.Curation.aesPriority]] builder — batch and
    * stream draws cannot drift) under a watermarked event-time
    * window + the bounded [[graft.expressions.TopKAgg]] heap: state
    * per window is n entries, evicted by the watermark. The
    * quality-weighted ingest subsample a training pipeline draws
    * continuously. Expects (doc_id, w, ts); non-positive mass never
    * draws.
    */
  def sampleScreen(streamDocs: DataFrame, n: Int = 10): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    streamDocs
      .filter(col("w") > 0)
      .select(col("ts"), col("doc_id"),
        graft.operators.Curation.aesPriority(col("doc_id"), col("w"))
          .as("pr"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.expressions.TopKAgg.topK(
        -col("pr").cast("double"),
        format_string("%012d", col("doc_id")), n).as("top"))
      .select(col("window.start").as("hour"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("hour"), col("t.label").cast("long").as("doc_id"),
        (-col("t.score")).cast("long").as("priority"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Count-Min sketch shards at ingest: each event-time window folds
    * its arriving token stream into the depth×width grid of
    * [[graft.operators.Profile.cmSketch]] cells — the streaming leg
    * publishes SKETCH STATE, not estimates (the [[graft.operators
    * .Profile.shardProfile]] contract): any reader folds a window
    * range with [[graft.operators.Profile.cmMerge]] and point-queries
    * it via [[graft.operators.Profile.cmEstimate]], without replaying
    * a byte of the stream. State per window is bounded by the grid
    * (≤ depth·width counters) whatever the arrival rate, and cells
    * are sums, so the per-window shard is hash-identical to the batch
    * twin under any micro-batch boundary. Expects (text, ts).
    */
  def cmScreen(streamDocs: DataFrame, depth: Int = 4,
      width: Int = 64): DataFrame = {
    require(depth >= 1 && width >= 2,
      s"need depth >= 1, width >= 2, got $depth/$width")
    streamDocs
      .select(col("ts"), explode(split(col("text"), " ")).as("token"))
      .select(col("ts"), explode(graft.operators.Profile.cmCells(
        col("token"), depth, width)).as("cell"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"),
        col("cell.rw").as("rw"), col("cell.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").as("hour"), col("rw"), col("bucket"),
        col("c"))
  }

  def qualityScreen(streamDocs: DataFrame,
      reqStops: Seq[String] = graft.operators.QualityFilters.RequiredStopwords)
      : DataFrame =
    graft.operators.QualityFilters.screen(streamDocs, reqStops = reqStops)

  /** MODEL-based quality screen at ingest — the classifier
    * counterpart of [[qualityScreen]]'s rules: arriving documents
    * score against a STORED NB quality model
    * (graft.sources.ModelStore.ensureNb over rule-distilled weak
    * labels — the quality_nb_score chain, trained once on the
    * accepted corpus's seed) through the stateless per-row argmax
    * ([[graft.operators.LangId.predictRowwise]] — model as driver
    * literals, no join, no window, no state). The deployment loop:
    * rules label a seed → train once, store → every micro-batch pays
    * one native gram walk per doc.
    */
  def qualityNbScreen(streamDocs: DataFrame,
      m: graft.operators.LangId.NbModel): DataFrame =
    graft.operators.LangId.predictRowwise(streamDocs, m)
      .select(col("doc_id"), col("pred_lang").as("verdict"), col("score"))

  /** Blocklist screen at ingest: arriving documents count their
    * (position, term) blocklist hits through the Aho-Corasick
    * automaton ([[graft.operators.Scrub.blocklistHits]] — driver-built
    * once, rides the serialized expression to every micro-batch task)
    * and flag. Pure per-row scalar work: no join, no state, no
    * watermark — STATELESS per micro-batch, identical plan on a
    * finite frame as the batch twin. The point at 100 TB/day ingest:
    * per-row cost is O(len) whatever the blocklist size.
    */
  def blocklistScreen(streamDocs: DataFrame,
      terms: Seq[String]): DataFrame =
    graft.operators.Scrub.blocklistHits(streamDocs, terms)

  /** Script-routing screen at ingest: arriving documents profile
    * their script histogram (native one-walk
    * [[graft.expressions.ScriptCounts]]) and route —
    * `empty` (no script characters), `mixed` (secondary script ≥
    * `maxMixedPpm` of the primary: code-switching or mojibake,
    * quarantine), `keep` (clean `keepScript`), or `route:<script>`
    * (clean other script — forward to that language pool). Pure
    * per-row scalar work: no join, no state, no watermark —
    * STATELESS per micro-batch, so the identical plan runs on a
    * finite frame as the batch twin.
    */
  def scriptScreen(streamDocs: DataFrame, keepScript: String = "latin",
      maxMixedPpm: Long = 100000L): DataFrame =
    graft.operators.QualityFilters.scriptProfile(streamDocs)
      .withColumn("verdict",
        when(col("dominant_script") === "none", lit("empty"))
          .when(col("mixed_ppm") >= maxMixedPpm, lit("mixed"))
          .when(col("dominant_script") === keepScript, lit("keep"))
          .otherwise(concat(lit("route:"), col("dominant_script"))))
      .select("doc_id", "dominant_script", "mixed_ppm", "verdict")

  /** DSIR importance screen at ingest: arriving docs score
    * Σ ln(p_target/p_raw) against the DENSE bucket model collected by
    * [[graft.operators.Curation.dsirModel]] — a `buckets`-entry array
    * literal, O(1) lookup per feature, so scoring is pure per-row
    * scalar work: no join, no state, no watermark. Scores are
    * BIT-IDENTICAL to the batch [[graft.operators.Curation.dsirWeights]]
    * (same per-bucket micro-nat grid, integer sum) — the screen and
    * the batch selector agree on every document by construction.
    */
  def dsirScreen(streamDocs: DataFrame, model: Array[Long]): DataFrame = {
    val buckets = model.length
    val lut = typedLit(model.toSeq)
    def score(hs: org.apache.spark.sql.Column) =
      aggregate(hs, lit(0L), (acc, h) =>
        acc + element_at(lut, (pmod(h, lit(buckets.toLong)) + 1L)
          .cast("int")))
    streamDocs
      // materialize the two hash arrays ONCE (HOFs get no CSE; the
      // gram walk is the expensive part)
      .select(col("doc_id"),
        graft.expressions.TextExpressions.gramHashes60(
          tokens(col("text")), 1, distinct = false).as("_h1"),
        graft.expressions.TextExpressions.gramHashes60(
          tokens(col("text")), 2, distinct = false).as("_h2"))
      .select(col("doc_id"),
        (size(col("_h1")) + size(col("_h2"))).cast("long").as("n_feats"),
        (score(col("_h1")) + score(col("_h2"))).as("dsir_score"))
  }

  /** LM-perplexity screen at ingest: arriving docs' token-bucket
    * transitions score against the TARGET-trained bigram model
    * (graft.operators.Perplexity), via two stream-static left joins
    * (pair hit → context backoff → global floor) — both model frames
    * are target-derived (bounded by the reference set, never the
    * corpus) and broadcast. Stateless: streaming can't re-aggregate
    * per doc without state, so this emits one scored row per
    * transition — micro-nat `lp` identical to the batch
    * [[graft.operators.Perplexity.score]] inputs by construction —
    * and the per-doc rollup (Σ lp, the nll average, the tercile
    * verdict) is one tiny aggregation over the scored stream
    * downstream: [[contamScreen]]'s screen-then-verify split.
    */
  def perplexityScreen(streamDocs: DataFrame,
      lm: graft.operators.Perplexity.LmModel): DataFrame =
    graft.operators.Perplexity.scoreTransitions(streamDocs, lm)

  /** The COMPOSED ingest verdict — what a real acquisition pipeline
    * runs per batch of arriving raw pages: HTML text extraction →
    * Gopher scalar gate on the extracted text → LM-perplexity score →
    * near-dup band probe against the accepted corpus, folded into ONE
    * first-hit reject reason (`near_dup` ≻ quality rules ≻
    * `perplexity` ≻ ok — dedup first, the CCNet order; quality reasons
    * reuse gopherRules' names). Every stage is the already-verified
    * operator; the composition is one Catalyst plan (extract and gate
    * are map-only; perplexity adds the model broadcasts + a batch-local
    * (doc_id) rollup; the probe is an equi-join on band keys), so the
    * optimizer prunes across stage boundaries.
    *
    * This needs per-doc aggregation and joins, so a STREAM deployment
    * wraps it in `foreachBatch` ([[startIngestPipeline]]) — the
    * documented Structured Streaming pattern for micro-batch-local
    * batch logic; the stateless prefix (extract → gate) would also run
    * directly on the stream frame.
    */
  def ingestVerdicts(docs: DataFrame, bandIndex: DataFrame,
      lm: graft.operators.Perplexity.LmModel, maxNll: Long,
      minWords: Int = 20, minBands: Int = 2): DataFrame = {
    val extracted = graft.operators.Scrub.extractHtml(docs)
      .select(col("doc_id"), col("clean_text").as("text"))
    val q = graft.operators.QualityFilters
      .gopherRules(extracted, minWords = minWords)
    val qReason = when(col("g_words") === 0, "gopher_words")
      .when(col("g_len") === 0, "gopher_len")
      .when(col("g_sym") === 0, "gopher_sym")
      .when(col("g_alpha") === 0, "gopher_alpha")
      .when(col("g_stop") === 0, "gopher_stop")
      .otherwise("ok")
    val ppl = graft.operators.Perplexity
      .scoreTransitions(extracted, lm)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trans"), sum("lp").as("sum_lp"))
      .withColumn("nll_per_tok", expr("(-sum_lp) div n_trans"))
    // reject on >= minBands DISTINCT band-position collisions with one
    // corpus doc: a single band hit is the screen's candidate signal
    // (plentiful on same-vocabulary text), not dup evidence — true
    // replicas collide on all 4
    val dup = nearDupScreen(extracted, bandIndex)
      .groupBy("doc_id", "matched_id")
      .agg(countDistinct("band_pos").as("_nb"))
      .filter(col("_nb") >= minBands)
      .select("doc_id").distinct().withColumn("_dup", lit(1))
    q.select(col("doc_id"), col("n_words"), qReason.as("_q_reason"))
      .join(ppl.select("doc_id", "nll_per_tok"), "doc_id")
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("nll_per_tok"),
        when(col("_dup") === 1, "near_dup")
          .when(col("_q_reason") =!= "ok", col("_q_reason"))
          .when(col("nll_per_tok") > maxNll, lit("perplexity"))
          .otherwise(lit("ok")).as("reason"))
      .withColumn("pass", (col("reason") === "ok").cast("int"))
  }

  /** [[ingestVerdicts]] with the URL stage composed IN FRONT — the
    * RefinedWeb order (URL-level screens run before any content
    * stage): arriving pages carry a raw `url` column, canonicalized
    * by [[graft.operators.Web.urlProfile]] (scheme/host lowering,
    * port/fragment/tracking-param stripping), and a page whose
    * `clean_url` already exists in the accepted corpus' URL index
    * rejects as `url_dup` — the highest-precedence reason
    * (url_dup ≻ near_dup ≻ quality ≻ perplexity ≻ ok).
    *
    * `urlIndex` is one `clean_url` column over the accepted corpus —
    * a static artifact like `bandIndex`, built once
    * ([[graft.operators.Web.urlProfile]] + distinct) and probed per
    * batch with one equi-join. The url stage is the CHEAPEST stage
    * (map-only regex + that join), so evaluating it alongside the
    * content stages costs nothing here; a deployment that wants to
    * skip content work for url-dups filters on the join hit first —
    * same verdicts, fewer decoded bytes.
    */
  def ingestVerdictsUrl(docs: DataFrame, urlIndex: DataFrame,
      bandIndex: DataFrame, lm: graft.operators.Perplexity.LmModel,
      maxNll: Long, minWords: Int = 20, minBands: Int = 2): DataFrame = {
    val udup = graft.operators.Web.urlProfile(docs)
      .select(col("doc_id"), col("clean_url"))
      .join(urlIndex.select("clean_url").distinct(), Seq("clean_url"))
      .select("doc_id").distinct().withColumn("_udup", lit(1))
    ingestVerdicts(docs.select("doc_id", "text"), bandIndex, lm, maxNll,
        minWords, minBands)
      .join(udup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("nll_per_tok"),
        when(col("_udup") === 1, "url_dup").otherwise(col("reason"))
          .as("reason"))
      .withColumn("pass", (col("reason") === "ok").cast("int"))
  }

  /** [[ingestVerdictsUrl]] with the SEMANTIC-DECONTAMINATION leg
    * composed in — ingest screen v3, the full verdict chain a
    * deployment runs: the paraphrase-leakage screen the n-gram
    * near-dup stage is structurally blind to (an eval prompt
    * rewritten in different words shares no bands but sits near in
    * embedding space). `embs` maps arriving docs to their embeddings
    * (doc_id, embedding) — docs WITHOUT an embedding row simply skip
    * the leg (left semantics: no flag, content stages decide), the
    * realistic shape where embedding coverage lags ingest.
    * `evalVecIndex` is [[graft.operators.Similarity.buildIndex]] over
    * the eval/benchmark set at a PINNED `bits` (an index property —
    * the eval set is small and static, so its width never needs to
    * grow; [[graft.streaming.VecStreams.contamScreen]]'s contract).
    * Each arrival's embedding multi-probes self + Hamming-1 and a
    * cosine ≥ `tau` hit rejects as `semantic_contam`.
    *
    * Verdict precedence (documented, spec-pinned): url_dup ≻ near_dup
    * ≻ semantic_contam ≻ gopher_* ≻ perplexity ≻ ok — the dup/leak
    * legs fire before the content-quality stages (a leaked doc must
    * reject as leakage however bad its prose), and the url stage
    * stays first (cheapest; RefinedWeb order).
    *
    * Scale shape: adds ONE narrow probe explode (bits+1 rows per
    * arriving vector, no text) + one equi-join against the
    * (small, static) eval index + one audit-sized distinct to the v2
    * plan — the stream-static join discipline of every other leg.
    */
  def ingestVerdictsSemantic(docs: DataFrame, embs: DataFrame,
      urlIndex: DataFrame, bandIndex: DataFrame,
      evalVecIndex: DataFrame, lm: graft.operators.Perplexity.LmModel,
      maxNll: Long, tau: Double = 0.3, bits: Int = 4,
      minWords: Int = 20, minBands: Int = 2): DataFrame = {
    import graft.expressions.VectorExpressions.vecDot
    import graft.operators.Similarity
    val q = embs
      .withColumn("bucket", Similarity.signBucket(col("embedding"), bits))
      .withColumn("bucket",
        explode(Similarity.probeBuckets(col("bucket"), bits)))
      .withColumn("norm", sqrt(vecDot(col("embedding"), col("embedding"))))
    val e = evalVecIndex.select(col("bucket"),
      col("embedding").as("e_emb"), col("norm").as("e_norm"))
    val sdup = q.join(e, Seq("bucket"))
      .filter(round(vecDot(col("embedding"), col("e_emb")) /
        (col("norm") * col("e_norm")), 6) >= tau)
      .select("doc_id").distinct().withColumn("_sdup", lit(1))
    ingestVerdictsUrl(docs, urlIndex, bandIndex, lm, maxNll,
        minWords, minBands)
      .join(sdup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("nll_per_tok"),
        when(col("reason").isin("url_dup", "near_dup"), col("reason"))
          .when(col("_sdup") === 1, "semantic_contam")
          .otherwise(col("reason")).as("reason"))
      .withColumn("pass", (col("reason") === "ok").cast("int"))
  }

  /** Streaming deployment of [[ingestVerdicts]]: parquet-directory
    * source → per-micro-batch composed verdict → parquet verdict sink,
    * checkpointed. The corpus-derived artifacts (band index, LM model
    * frames) are built ONCE and persisted before the stream starts —
    * an unpersisted index would re-evaluate per micro-batch — and
    * refreshing them is a restart, the standard static-side contract
    * of stream-static joins. Returns the running query; callers own
    * its lifecycle — and, through [[graft.sources.CacheScope]], the
    * artifacts' persists: a scope that closes under a running query
    * makes each micro-batch recompute them.
    */
  def startIngestPipeline(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, corpus: DataFrame, target: DataFrame,
      sinkDir: String, checkpointDir: String, maxNll: Long,
      minWords: Int = 20)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val bandIndex = graft.sources.CacheScope.persist(bandRows(corpus))
    val lm = graft.operators.Perplexity.model(target).persisted()
    bandIndex.count()
    val in = spark.readStream
      .schema(graft.sources.Tables.documentsSchema)
      .parquet(srcDir)
    in.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        // idempotent sink: each micro-batch OVERWRITES its own
        // batch_id partition, so a replay after a crash between the
        // sink write and the checkpoint commit rewrites the same
        // partition instead of appending duplicate verdicts (plain
        // `append` would double-count every doc of the replayed batch)
        ingestVerdicts(b.toDF(), bandIndex, lm, maxNll, minWords)
          .write.mode("overwrite")
          .parquet(s"$sinkDir/batch_id=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }

  /** Multimodal-asset triage at ingest: attempt the full PNG decode
    * per arriving payload and emit an (ok, dims) verdict — corrupt
    * assets are flagged, never thrown past the screen. STATELESS
    * (partition-local mapPartitions, no aggregation, no watermark),
    * so the identical function runs on a batch frame and on a
    * readStream frame; DocStreamsSpec proves the streamed verdicts
    * equal the batch twin's. The heavy decode rides the stream's own
    * parallelism — at deployment scale each micro-batch's files
    * decode across the executors with zero shuffle.
    */
  def assetScreen(streamAssets: DataFrame): DataFrame =
    graft.operators.Multimodal.pngVerdicts(
      streamAssets.sparkSession, streamAssets)

  /** Static side of the streaming perceptual near-dup screen: the
    * accepted corpus's 64-bit fingerprints exploded to their Manku
    * block keys ([[graft.operators.Multimodal.hammingBlocks]] — the
    * SAME builder the batch pair miners use, so screen and miner
    * cannot drift). `hashCol` names the fingerprint column: image
    * dHash (`dhash`, the default) and the audio envelope hash (`fp`)
    * index identically.
    * Refresh periodically as the corpus grows, like [[bandRows]].
    */
  def dhashIndex(corpusHashes: DataFrame, maxHamming: Int = 3,
      hashCol: String = "dhash"): DataFrame =
    graft.operators.Multimodal.hammingBlocks(corpusHashes, hashCol, maxHamming)
      .select(col("blk"), col("bval"),
        col("doc_id").as("matched_id"), col("dhash").as("hash_b"))

  /** Perceptual near-dup screen at ingest: arriving 64-bit
    * fingerprints (image dHash or audio envelope hash — any family
    * the shared miner serves) stream-static join the corpus block
    * index on their block keys, then the XOR-popcount verify keeps
    * collisions within `maxHamming` bits. STATELESS per micro-batch
    * (the [[nearDupScreen]] shape — one row per colliding block, no
    * distinct, no watermark), so the identical plan runs on a finite
    * frame as the batch twin. Decode+hash
    * ([[graft.operators.Multimodal.dhash64]] /
    * [[graft.operators.Multimodal.audioEnvelopeHash]]) happens
    * upstream, partition-local on the stream's own parallelism.
    */
  def dhashScreen(streamHashes: DataFrame, index: DataFrame,
      maxHamming: Int = 3, hashCol: String = "dhash"): DataFrame =
    graft.operators.Multimodal.hammingBlocks(streamHashes, hashCol, maxHamming)
      .join(index, Seq("blk", "bval"))
      .filter(col("doc_id") =!= col("matched_id"))
      .withColumn("hamming",
        bit_count(col("dhash").bitwiseXOR(col("hash_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_id"), col("matched_id"),
        col("blk").cast("long").as("block_pos"), col("hamming"))

  /** First-come per-source admission quota at ingest: admit documents
    * from each source until its running total reaches `cap`, then
    * reject the rest — the arrival-order counterpart of the
    * quality-ranked batch cap ([[graft.operators.Curation
    * .capPerSource]]), for the deployment that must bound a
    * crawler's source mix BEFORE the corpus exists to rank. Running
    * per-source admission counts are the cross-batch state
    * (`flatMapGroupsWithState`, the [[graft.streaming.EventStreams
    * .sessionize]] shape); within a micro-batch, arrivals admit in
    * doc_id order so replays are deterministic. Emitted rank is the
    * source's cumulative admission index (1-based).
    *
    * Scale shape: state per source is ONE long; each micro-batch
    * group reduces through a bounded size-≤cap heap (memory O(cap)
    * per source regardless of batch size, the [[graft.expressions
    * .TopKAgg]] argument), and a source already at quota drains its
    * iterator without buffering anything. On a FINITE frame the same
    * function runs as a batch aggregation with empty initial state,
    * so the batch twin — first `cap` docs per source in doc_id
    * order — is the oracle the gate hash-verifies.
    */
  def quotaScreen(docs: org.apache.spark.sql.Dataset[QuotaDoc], cap: Int)
      : org.apache.spark.sql.Dataset[QuotaAdmit] = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[QuotaState, QuotaAdmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, it: Iterator[QuotaDoc],
            state: GroupState[QuotaState]) =>
          val already = state.getOption.map(_.admitted).getOrElse(0L)
          val room = math.max(cap - already, 0L).toInt
          if (room == 0) {
            it.foreach(_ => ()) // drain: source is at quota
            Iterator.empty
          } else {
            // bounded selection: keep the `room` smallest doc_ids in a
            // max-heap — O(room) memory however large the micro-batch
            val heap = scala.collection.mutable.PriorityQueue.empty[Long]
            it.foreach { d =>
              if (heap.size < room) heap.enqueue(d.doc_id)
              else if (d.doc_id < heap.head) {
                heap.dequeue(); heap.enqueue(d.doc_id)
              }
            }
            val ids = heap.dequeueAll.reverse // ascending doc_id
            state.update(QuotaState(already + ids.size))
            ids.iterator.zipWithIndex.map { case (id, i) =>
              QuotaAdmit(source, id, already + i + 1)
            }
          }
      }
  }
}

/** Input row of [[DocStreams.quotaScreen]]. */
final case class QuotaDoc(doc_id: Long, source: String)

/** Admission verdict of [[DocStreams.quotaScreen]]: `rank` is the
  * source's cumulative 1-based admission index across micro-batches.
  */
final case class QuotaAdmit(source: String, doc_id: Long, rank: Long)

/** Cross-batch state of [[DocStreams.quotaScreen]]: admissions so far. */
private[streaming] final case class QuotaState(admitted: Long)
