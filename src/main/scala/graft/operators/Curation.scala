package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Corpus curation: the composed pipeline a training-data run actually
  * executes — exact-dedup survivorship, quality scoring, language
  * screening, and deterministic dataset splits — as one declarative
  * frame. Each piece is the already-verified operator; the composition
  * stays a single Catalyst plan (one shuffle for the dup-group window,
  * everything else narrow), so the optimizer prunes/pushes across
  * stage boundaries — the advantage of composing plans rather than
  * materializing between steps.
  */
object Curation {

  /** THE curation quality score, over an already-tokenized column:
    * 0.5·min(1, nTok/50) + 0.3·type-token-ratio + 0.2·stopword-ratio,
    * rounded to 6 dp. One definition shared by [[curate]],
    * [[curateFull]], and [[selectBudget]] (whose documented contract is
    * "ranked by the curate quality score") — so an edit here can never
    * desynchronize the selector's ranking from the curation verdicts.
    */
  private def qualityExpr(toks: Column): Column = {
    val nTok = size(toks).cast("long")
    val ttr = size(array_distinct(toks)).cast("double") / nTok
    val stop = markerHitsTokens(toks, langMarkers.head._2).cast("double") / nTok
    round(
      lit(0.5) * least(lit(1.0), nTok / lit(50.0)) +
        lit(0.3) * ttr + lit(0.2) * stop, 6)
  }

  /** Per-doc curation verdict. Keep = exact-dup keeper AND quality at
    * or above `minQuality`; rejected rows carry the reason
    * (`dup` beats `low_quality` when both apply — dedup runs first in
    * a real pipeline, so the reason reflects the first gate hit).
    */
  def curate(docs: DataFrame, minQuality: Double = 0.5): DataFrame = {
    val w = Window.partitionBy("text_hash").orderBy("doc_id")
    // tokenize ONCE into a column: the quality terms and language-ID
    // otherwise each re-run the regex split per evaluation (Catalyst
    // has no CSE for non-cheap exprs across a single projection)
    val toks = col("_w")
    val quality = qualityExpr(toks)
    docs
      .withColumn("_w", tokens(col("text")))
      // every scalar BEFORE the dup-group window: the window's hash
      // exchange then ships five compact scalars per row instead of
      // the text and its token array (which scalars computed after
      // the window would force across the wire)
      .select(col("doc_id"), md5(col("text")).as("text_hash"),
        quality.as("quality"), langPredictTokens(toks).as("pred_lang"))
      .withColumn("rank_in_group", row_number().over(w))
      .withColumn("reject_reason",
        when(col("rank_in_group") > 1, "dup")
          .when(col("quality") < minQuality, "low_quality")
          .otherwise("ok"))
      .withColumn("keep", col("reject_reason") === "ok")
      .select("doc_id", "quality", "pred_lang", "reject_reason", "keep")
  }

  /** The FULL curation pipeline a pretraining run executes — exact
    * dedup, benchmark decontamination, quality scoring, and repetition
    * screening composed into one verdict frame, one Catalyst plan.
    * Gate order (first hit names the reason, mirroring the order a
    * real pipeline applies them): `dup` → `contaminated` →
    * `low_quality` → `repetitive` → `ok`.
    *
    * Scale shape: [[curate]]'s single dup-group window plus ONE
    * broadcast join against the (vanishing) contaminated-id set from
    * [[graft.operators.Decontam.overlapScreen]]; quality and
    * repetition are per-row scalars (the repetition walk is the
    * native `ModalRunLength`-family arithmetic, no extra shuffle).
    */
  def curateFull(docs: DataFrame, bench: DataFrame,
      minQuality: Double = 0.5, maxRepetition: Double = 0.5,
      n: Int = 3, minShared: Int = 2): DataFrame = {
    val w = Window.partitionBy("text_hash").orderBy("doc_id")
    // tokenize ONCE (see curate) — the five gates otherwise re-split
    // the text per scalar term
    val toks = col("_w")
    val quality = qualityExpr(toks)
    val tot2 = greatest(size(toks) - 1, lit(0)).cast("long")
    // fused native distinct-bigram count (string-level dedup — count
    // identical to size(shinglesNTokens))
    val dis2 = size(graft.expressions.TextExpressions.gramHashes60(toks, 2))
      .cast("long")
    val repetition = round(when(tot2 > 0,
      lit(1.0) - dis2.cast("double") / tot2.cast("double"))
      .otherwise(lit(0.0)), 6)
    val contaminatedIds = broadcast(
      graft.operators.Decontam.overlapScreen(docs, bench, n, minShared)
        .select(col("train_id").as("doc_id")).distinct()
        .withColumn("contaminated", lit(true)))
    docs
      .withColumn("_w", tokens(col("text")))
      // scalars BEFORE the dup-group window (the curate() shuffle
      // argument): the exchange carries five scalars, not text + _w
      .select(col("doc_id"), md5(col("text")).as("text_hash"),
        quality.as("quality"), repetition.as("repetition_ratio"),
        langPredictTokens(toks).as("pred_lang"))
      .withColumn("rank_in_group", row_number().over(w))
      .join(contaminatedIds, Seq("doc_id"), "left")
      .withColumn("reject_reason",
        when(col("rank_in_group") > 1, "dup")
          .when(coalesce(col("contaminated"), lit(false)), "contaminated")
          .when(col("quality") < minQuality, "low_quality")
          .when(col("repetition_ratio") > maxRepetition, "repetitive")
          .otherwise("ok"))
      .withColumn("keep", col("reject_reason") === "ok")
      .select("doc_id", "quality", "repetition_ratio", "pred_lang",
        "reject_reason", "keep")
  }

  /** Quality-ordered selection under a global token budget — the data-
    * selection step of a pretraining run: rank the corpus by the
    * [[curate]] quality score (ties broken by doc_id) and keep the
    * maximal prefix whose running token total stays within
    * `budgetTokens`. Exact and deterministic: the kept set is the
    * unique greedy prefix of the (quality DESC, doc_id ASC) order.
    *
    * Scale shape — the naive formulation is a corpus-wide cumulative
    * sum, i.e. a single-partition global window; this one never builds
    * it. The global prefix sum splits into (a) `cum_before`: the token
    * mass of all strictly-higher quality values, computed by a window
    * over the *aggregated* per-quality frame (≤ 10⁶ rows for a 6-digit
    * score, regardless of corpus size — model-parameter scale), and
    * (b) a within-quality prefix via a window PARTITIONED by quality
    * (parallel; doc_id-ordered). One groupBy exchange + one partitioned
    * window exchange + one equi-join on the score — nothing touches a
    * global sort off the export tail.
    *
    * Caveat: (b)'s parallelism assumes a near-continuous score
    * distribution. A degenerate corpus that collapses many docs onto
    * one quality value (e.g. millions of identical docs) concentrates
    * those rows into one window partition — if such corpora are in
    * scope, salt the within-quality window with a doc_id-range
    * sub-key (the [[graft.operators.Chunking.pack]] block shape) and
    * merge with a second small aggregate pass.
    */
  def selectBudget(docs: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    val toks = col("_w")
    val scored = docs.withColumn("_w", tokens(col("text")))
      .select(col("doc_id"), qualityExpr(toks).as("quality"),
        size(toks).cast("long").as("n_tok"))
    // band = the score itself: the rounded composite has FEW distinct
    // values, so the per-band cumsum frame stays small
    budgetPrefix(scored.withColumn("_band", col("quality")), "quality",
      budgetTokens)
      .select("doc_id", "quality", "n_tok", "cum_tok")
  }

  /** The maximal (`scoreCol` DESC, doc_id) prefix of `scored` whose
    * token total fits `budgetTokens`, WITHOUT a corpus-wide
    * single-partition window: (a) per-band token totals, cumsum over
    * the small distinct-band frame; (b) within-band prefix windows,
    * parallel across bands. Input carries (doc_id, scoreCol, _band,
    * n_tok) where `_band` is any value monotone in `scoreCol` with a
    * BOUNDED number of distinct values (the score itself when scores
    * are few; a truncating div when they are unique-ish).
    */
  private def budgetPrefix(scored: DataFrame, scoreCol: String,
      budgetTokens: Long): DataFrame = {
    val perB = scored.groupBy("_band").agg(sum("n_tok").as("b_tok"))
    val wb = Window.orderBy(col("_band").desc)
    val before = perB
      .withColumn("cum_before", sum("b_tok").over(wb) - col("b_tok"))
      .select("_band", "cum_before")
    val win = Window.partitionBy("_band")
      .orderBy(col(scoreCol).desc, col("doc_id"))
    scored.join(before, Seq("_band"))
      .withColumn("cum_tok", col("cum_before") + sum("n_tok").over(win))
      .filter(col("cum_tok") <= budgetTokens)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): hashed word
    * unigram+bigram features into `buckets`, Laplace-smoothed bucket
    * multinomials for the target vs the raw corpus, and per-doc
    * importance score Σ_features ln(p_target(b) / p_raw(b)) — the
    * log-likelihood ratio under the two bag-of-hashed-ngrams models.
    * Output: (doc_id, n_feats, dsir_score) for every raw doc, score in
    * MICRO-NATS (integer).
    *
    * Engine-exact determinism (the oracle must hash-match): each
    * bucket's log-ratio is rounded to an integer micro-nat grid FIRST
    * — ln(ct')−ln(cr')+ln(Nr'+B)… is ≤ 4 libm calls on exact-integer
    * doubles, so a 1-ulp divergence between engines is ~1e-16 relative
    * against a 1e-6 grid — and doc scores are then exact integer sums
    * of bucket constants.
    *
    * Scale shape: two feature explosions aggregated by bucket (B
    * bucket rows regardless of corpus size), the B-row ratio table
    * broadcast into one equi-join over the raw feature stream, one
    * groupBy(doc_id). No all-pairs anything; the target corpus is
    * typically small (a quality reference set) and never joins the
    * raw corpus directly.
    */
  /** (doc_id, b) hashed unigram+bigram feature occurrences. */
  private def dsirFeats(docs: DataFrame, buckets: Int): DataFrame = {
    val w = tokens(col("text"))
    // positional (distinct = false): multinomial counts are
    // occurrence counts, multiplicity included
    val uni = docs.select(col("doc_id"),
      explode(graft.expressions.TextExpressions
        .gramHashes60(w, 1, distinct = false)).as("h"))
    val bi = docs.select(col("doc_id"),
      explode(graft.expressions.TextExpressions
        .gramHashes60(w, 2, distinct = false)).as("h"))
    uni.unionAll(bi).select(col("doc_id"),
      pmod(col("h"), lit(buckets.toLong)).as("b"))
  }

  /** The DSIR bucket model: (b, r) micro-nat log-ratios for every
    * bucket observed on either side (see [[dsirWeights]]). Buckets
    * unseen by BOTH corpora are absent — their ratio is the shared
    * Laplace default ln((Nr+B)/(Nt+B)), which [[dsirModel]] fills in.
    */
  def dsirRatios(raw: DataFrame, target: DataFrame,
      buckets: Int = 4096): DataFrame = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    val rawF = dsirFeats(raw, buckets)
    val tgtF = dsirFeats(target, buckets)
    val cr = rawF.groupBy("b").agg(count(lit(1)).as("cr"))
    val ct = tgtF.groupBy("b").agg(count(lit(1)).as("ct"))
    // bucket model: full outer join (a bucket may appear on one side
    // only), Laplace add-1, totals broadcast as 1-row frames
    val nr = rawF.agg(count(lit(1)).as("nr"))
    val nt = tgtF.agg(count(lit(1)).as("nt"))
    cr.join(ct, Seq("b"), "full_outer")
      .select(col("b"),
        (coalesce(col("cr"), lit(0L)) + 1L).as("cr1"),
        (coalesce(col("ct"), lit(0L)) + 1L).as("ct1"))
      .crossJoin(broadcast(nr)).crossJoin(broadcast(nt))
      .select(col("b"),
        round((log(col("ct1")) - log(col("cr1"))
          + log(col("nr") + lit(buckets.toLong))
          - log(col("nt") + lit(buckets.toLong))) * 1e6)
          .cast("long").as("r"))
  }

  /** The DSIR model as a DENSE driver-side array: `model(b)` = the
    * bucket's micro-nat ratio, unseen buckets filled with the Laplace
    * default. A BOUNDED collect — `buckets` entries regardless of
    * corpus size (the Similarity k×d centroid-model precedent) — for
    * the per-row apply path ([[graft.streaming.DocStreams.dsirScreen]])
    * where a join against the corpus-derived frame isn't available.
    */
  def dsirModel(raw: DataFrame, target: DataFrame,
      buckets: Int = 4096): Array[Long] = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    val nr = dsirFeats(raw, buckets).count()
    val nt = dsirFeats(target, buckets).count()
    // BigDecimal HALF_UP matches Spark's round() exactly (Math.round
    // rounds half toward +inf, which differs on negative values)
    val default = BigDecimal(
      (math.log(nr.toDouble + buckets) - math.log(nt.toDouble + buckets))
        * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val dense = Array.fill(buckets)(default)
    dsirRatios(raw, target, buckets).collect()
      .foreach(row => dense(row.getLong(0).toInt) = row.getLong(1))
    dense
  }

  def dsirWeights(raw: DataFrame, target: DataFrame,
      buckets: Int = 4096): DataFrame = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    val rawF = dsirFeats(raw, buckets)
    val ratios = dsirRatios(raw, target, buckets)
    // every raw doc appears: even an empty text tokenizes to [""] and
    // contributes one unigram feature, so the groupBy covers the whole
    // corpus and no join-back to the raw id set (a full extra shuffle
    // at scale) is needed
    rawF.join(broadcast(ratios), "b")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_feats"), sum("r").as("dsir_score"))
  }

  /** DSIR selection under a token budget: raw docs ranked by
    * [[dsirWeights]]' importance score, keeping the maximal
    * (dsir_score DESC, doc_id) prefix fitting `budgetTokens` — the
    * deterministic top-score variant of the paper's resampling step,
    * via the same two-level prefix sum as [[selectBudget]]. Scores are
    * near-unique integers, so the band key is a truncating div onto
    * 0.01-nat bands: the distinct-band frame is bounded by the
    * LOG-RATIO RANGE (a few thousand bands), not the corpus.
    */
  def dsirSelect(raw: DataFrame, target: DataFrame, budgetTokens: Long,
      buckets: Int = 4096): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    val scored = dsirWeights(raw, target, buckets)
      .join(raw.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok")), "doc_id")
      .withColumn("_band", expr("dsir_score div 10000"))
    budgetPrefix(scored, "dsir_score", budgetTokens)
      .select("doc_id", "dsir_score", "n_tok", "cum_tok")
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): spread a total token budget as uniformly as
    * possible across sources, capping each source at
    * `maxEpochs × n_tokens` — the waterfill that gives every
    * low-resource domain its full (capped) corpus before head domains
    * absorb the rest.
    *
    * Closed-form waterfill over the capacity-sorted source frame: with
    * caps ascending and prefix sums S, source i is FULLY funded iff
    * cap_i·(k−i+1) ≤ N−S_{i−1} (caps ascending make "full" a prefix);
    * the remaining budget splits evenly over the m non-full sources as
    * a truncating div, the `mod m` remainder going one token each to
    * the first `rem` of them in sort order — so Σ alloc == min(N,
    * Σ cap) EXACTLY and every column is integer arithmetic: the
    * verdict hash-matches any engine.
    *
    * Scale: one (source) aggregation over the corpus; everything after
    * operates on the k-row source frame (k = distinct sources), whose
    * single-partition windows are bounded by k, never the corpus.
    */
  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    * 2006, the A-ES one-pass scheme): each row draws the
    * deterministic uniform u = (md5₆₀(doc_id) + 1) / 2⁶⁰ ∈ (0, 1]
    * and keeps the n BEST keys u^(1/w) — equivalently the n smallest
    * integer priorities pr = (m·10⁶) div w with m = round(−10⁶·ln u)
    * grid-rounded micro-nats (the DSIR transcendental discipline;
    * m ≤ 41.6·10⁶ so m·10⁶ is double-exact, and the division stays
    * on POSITIVE integers — truncation == floor in both engines).
    * Inclusion probability scales with weight (the quality-weighted
    * corpus subsample), selection is deterministic, and the whole
    * pass is one map + one bounded global heap
    * ([[graft.expressions.TopKAgg]], map-side combine — ≤ n rows per
    * partition cross the wire; no sort, no window). Rows with
    * non-positive weight are excluded (zero mass cannot be drawn).
    */
  /** The A-ES integer priority of (id, weight) — ONE builder shared
    * by [[sampleWeighted]] and the streaming screen
    * ([[graft.streaming.DocStreams.sampleScreen]]), so batch and
    * stream draws cannot drift. Smaller = more likely drawn.
    */
  private[graft] def aesPriority(id: Column, w: Column): Column = {
    val m = round(lit(-1e6) * log(
      (wordHash60(id.cast("string")) + lit(1L))
        .cast("double") / lit(1.152921504606846976e18))).cast("long")
    call_function("div", m * lit(1000000L), w)
  }

  def sampleWeighted(docs: DataFrame, weight: Column, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    docs.select(col("doc_id"), weight.cast("long").as("w"))
      .filter(col("w") > 0)
      .select(col("doc_id"),
        aesPriority(col("doc_id"), col("w")).as("pr"))
      .groupBy()
      .agg(graft.expressions.TopKAgg.topK(
        -col("pr").cast("double"),
        format_string("%012d", col("doc_id")), n).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.label").cast("long").as("doc_id"),
        (-col("t.score")).cast("long").as("priority"),
        (col("pos") + 1).cast("long").as("rank"))
      .orderBy("rank")
  }

  def unimaxAlloc(docs: DataFrame, budgetTokens: Long,
      maxEpochs: Int = 4): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    val perSource = docs.groupBy("source").agg(
      sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val caps = perSource.select(col("source"), col("n_tokens"),
      (col("n_tokens") * maxEpochs).as("cap"))
    val w = Window.orderBy("cap", "source")
    // sources-left = a count window from the current row to the end —
    // deriving k via a separate caps.agg would consume `caps` twice
    // and recompute the corpus-wide per-source aggregation
    val ranked = caps
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("left", count(lit(1)).over(
        w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("s_prev", coalesce(
        sum("cap").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("full",
        col("cap") * col("left") <= lit(budgetTokens) - col("s_prev"))
    // full_tok / m as whole-frame window aggregates, not a separate
    // aggregation job — keeps the corpus scan in ONE linear plan
    // (ranked would otherwise be consumed twice and the per-source
    // aggregation recomputed)
    val wAll = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    ranked
      .withColumn("full_tok",
        coalesce(sum(when(col("full"), col("cap"))).over(wAll), lit(0L)))
      .withColumn("m", sum(when(!col("full"), 1L).otherwise(0L)).over(wAll))
      .withColumn("rest", lit(budgetTokens) - col("full_tok"))
      .withColumn("base", expr("rest div greatest(m, 1)"))
      .withColumn("rem", expr("rest % greatest(m, 1)"))
      // j = rank among non-full rows in the same (cap, source) order
      .withColumn("j", col("i") - sum(when(col("full"), 1L).otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("alloc", when(col("full"), col("cap"))
        .otherwise(col("base") + when(col("j") <= col("rem"), 1L)
          .otherwise(0L)))
      .select(col("source"), col("n_tokens"), col("cap"), col("alloc"),
        round(col("alloc").cast("double") / col("n_tokens").cast("double"),
          6).as("epochs"))
      .orderBy("source")
  }

  /** Corpus snapshot diff — the versioning ledger between two corpus
    * generations (the batch counterpart of the incremental-dedup
    * screen's "what arrived" view): per doc_id, whether it was added,
    * removed, changed (content hash differs), or unchanged. ONE
    * full-outer equi-join on doc_id over two narrow (id, hash)
    * projections — no text ever shuffles.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("_oh"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("_nh"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("_oh").isNull, "added")
          .when(col("_nh").isNull, "removed")
          .when(col("_oh") =!= col("_nh"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Apply a snapshot patch — the WRITE half of the diff story
    * ([[corpusDiff]] is the read half): reconstruct v2 from v1 plus a
    * patch frame carrying the added/changed rows' NEW text and the
    * removed ids. Incremental-distribution shape: instead of
    * re-shipping a 100 TB corpus, a publisher ships the (small) patch
    * and consumers reconstruct — v1 streams through ONE left_anti
    * against the broadcast-sized dead-id set (removed ∪ changed),
    * then the replacement rows union in; the big side never shuffles.
    * Law (spec-pinned): applyPatch(v1, patchOf(diff, v2)) == v2.
    */
  def applyPatch(v1: DataFrame, patch: DataFrame): DataFrame = {
    val dead = patch.filter(col("status").isin("removed", "changed"))
      .select("doc_id")
    val fresh = patch.filter(col("status").isin("added", "changed"))
      .select("doc_id", "text")
    v1.select("doc_id", "text")
      .join(broadcast(dead), Seq("doc_id"), "left_anti")
      .unionByName(fresh)
  }

  /** Deterministic train/val/test assignment from a content-stable
    * hash (docs keep their split across reruns and re-shards; the same
    * md5 arithmetic is engine-portable for the verify oracle).
    * Buckets: [0,90) train, [90,95) val, [95,100) test.
    */
  def split(docs: DataFrame): DataFrame = {
    val bucket = wordHash(col("text")) % 100
    docs.select(col("doc_id"), bucket.as("bucket"),
      when(bucket < 90, "train").when(bucket < 95, "val")
        .otherwise("test").as("split"))
  }

  /** Leakage-safe split: assignment by NEAR-DUP CLUSTER, not by doc.
    * [[split]]'s per-doc content hash puts two near-duplicate (but not
    * byte-identical) docs in independent buckets — ~10% of every dup
    * pair straddles train/test, and the benchmark answer is in the
    * training set. Here every member of a connected component follows
    * its canonical representative's content hash ([[graft.operators
    * .Dedup.clusters]]' min-doc_id survivor), so a near-dup pair can
    * never split across sides — the contamination-by-construction
    * guard a benchmark-bearing corpus needs (law-pinned in
    * CurationSpec: every cluster is split-homogeneous).
    *
    * Scale shape: the representative's bucket frame is one projection
    * of the corpus joined to the cluster map on cluster_id — a single
    * equi-join shuffle; no pairwise work beyond what the cluster map
    * already paid.
    */
  def splitLeakFree(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val repBucket = docs.select(col("doc_id").as("cluster_id"),
      (wordHash(col("text")) % 100).as("bucket"))
    clusters.join(repBucket, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("bucket"),
        when(col("bucket") < 90, "train").when(col("bucket") < 95, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Deterministic training-order shuffle + shard assignment — the
    * last step before a training run reads the corpus: every doc gets
    * a pseudo-random but reproducible (shard, pos) coordinate, so 1000
    * data-loader workers each read one shard sequentially and the
    * global read order is a fixed permutation of the corpus.
    *
    * The scale point is what this does NOT do: no global sort. A naive
    * `ORDER BY hash` is a corpus-wide range sort; here shard =
    * id-hash mod nShards is a plain hash partition, and `pos` is a
    * row_number per shard — Spark plans one hash exchange plus a
    * local sort per shard, each shard independent (and in a real run
    * each shard writes its own file, so the sort IS the write order).
    * Hash-of-id, so the permutation is stable across reruns, engines,
    * and upstream re-shards.
    */
  /** Per-source quota cap — the over-represented-domain guard
    * (RefinedWeb/FineWeb keep a bounded number of pages per domain so
    * one crawl-heavy site cannot dominate the mixture): keep the
    * `perSource` best documents of each source by the curation quality
    * score, quality desc, doc_id asc on ties.
    *
    * Scale shape: a window row_number would shuffle AND SORT the whole
    * corpus per source; the bounded-heap top_k aggregate gets map-side
    * partial aggregation — each task reduces its slice to a
    * perSource-element heap per source, the shuffle carries ≤ perSource
    * entries per source per partition, and merge folds heaps. At
    * 100 TB with a bounded source set that is the difference between
    * shuffling the corpus and shuffling kilobytes. Labels are
    * zero-padded doc_ids so the heap's lexicographic tie-break IS the
    * numeric one ([[sampleWeighted]]'s convention).
    */
  def capPerSource(docs: DataFrame, perSource: Int): DataFrame = {
    require(perSource >= 1, s"perSource must be >= 1, got $perSource")
    docs
      .withColumn("_w", tokens(col("text")))
      .select(col("source"), col("doc_id"),
        qualityExpr(col("_w")).as("quality"))
      .groupBy("source")
      .agg(graft.expressions.TopKAgg.topK(
        col("quality"), format_string("%012d", col("doc_id")),
        perSource).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("source"), col("t.label").cast("long").as("doc_id"),
        col("t.score").as("quality"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  def shardOrder(docs: DataFrame, nShards: Int = 16): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val h = wordHash60(col("doc_id").cast("string"))
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    docs.select(col("doc_id"), h.as("h"))
      .withColumn("shard", col("h") % nShards) // h is 60-bit, >= 0
      .select(col("doc_id"), col("shard"),
        row_number().over(w).cast("long").as("pos"))
  }

  /** Deterministic stratified downsampling — the mechanism that
    * APPLIES per-domain resampling weights (graft.operators.Decontam
    * .domainMix's `samp_weight`, capped at 1): keep a doc iff its
    * id-derived md5 bucket (of 1 000 000) falls under its stratum's
    * rate. Hash-of-id (not text) so exact duplicates across strata
    * sample independently, and the choice is stable across reruns,
    * re-shards, and engines (same md5 arithmetic as the oracle).
    *
    * Scale shape: the rate map is a handful of (stratum, rate) rows —
    * a broadcast join, then one scalar comparison per row; no shuffle,
    * no sort beyond the caller's export tail. Rates outside [0,1]
    * are rejected rather than clamped: a weight > 1 means UPsampling,
    * which needs replication, not a filter — compose with explode on
    * ceil(weight) if that's intended.
    */
  def sampleStratified(docs: DataFrame, rates: Map[String, Double],
      stratumCol: String = "source"): DataFrame = {
    require(rates.nonEmpty, "rates must be non-empty")
    require(rates.values.forall(r => r >= 0 && r <= 1),
      s"rates must be in [0,1] (use resampleStratified to upsample): $rates")
    val spark = docs.sparkSession
    import spark.implicits._
    val rateDf = broadcast(rates.toSeq.toDF(stratumCol, "samp_rate"))
    val bucket =
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 1000000L
    docs.join(rateDf, stratumCol)
      .filter(bucket < (col("samp_rate") * 1000000L).cast("long"))
      .select(col("doc_id"), col(stratumCol), bucket.as("bucket"))
  }

  /** Full mixture apply — [[sampleStratified]] generalized to weights
    * above 1 (upsampling by replication, the epoch-multiplier shape of
    * a pretraining mixture): every doc gets `floor(w)` copies plus one
    * more iff its md5 bucket falls under the fractional remainder, so
    * the expected stratum mass is exactly `w` and the choice is
    * deterministic per doc. Output one row per kept copy
    * (`copy` = 1..n — downstream shuffles spread copies by any key
    * that includes it). `w ≤ 1` degenerates to the sampler (copies
    * ∈ {0, 1}).
    *
    * Scale shape: broadcast rate map, one scalar copy-count per row,
    * one `explode(sequence(...))` — output size is exactly the target
    * mixture's, no shuffle.
    */
  def resampleStratified(docs: DataFrame, weights: Map[String, Double],
      stratumCol: String = "source"): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(_ >= 0), s"weights must be >= 0: $weights")
    val spark = docs.sparkSession
    import spark.implicits._
    val rateDf = broadcast(weights.toSeq.toDF(stratumCol, "w"))
    val bucket =
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 1000000L
    val whole = floor(col("w")).cast("long")
    val fracExtra = (bucket <
      ((col("w") - floor(col("w"))) * 1000000L).cast("long")).cast("long")
    docs.join(rateDf, stratumCol)
      .withColumn("copies", whole + fracExtra)
      // guard BEFORE sequence: Spark's sequence(1, 0) is a DESCENDING
      // [1, 0], not empty — the filter keeps the explode honest
      .filter(col("copies") >= 1)
      .select(col("doc_id"), col(stratumCol),
        explode(sequence(lit(1L), col("copies"))).as("copy"))
  }

  /** Curriculum schedule: order training documents into quality
    * STAGES (ascending — the standard easy/clean-first curriculum),
    * shuffled deterministically within each stage.
    *
    * Scale shape — deliberately NO corpus-wide window: the stage
    * boundaries are exact rank quantiles computed over the per-score
    * HISTOGRAM (score is an integer ppm, so the frame is bounded by
    * 10⁶ distinct values whatever the corpus size — the selectBudget
    * band trick), broadcast back as one row. The within-stage shuffle
    * is a portable hash SORT KEY (`epoch_key`), not a materialized
    * ordinal — a row_number per stage would put n/nStages rows in one
    * window partition at 100 TB. Writers emit in
    * (stage, epoch_key, doc_id) order.
    *
    * `score` = type-token ratio in ppm, integer-exact:
    * (distinct words · 10⁶) div words. Stage s ∈ [1, nStages]:
    * the doc sits above s−1 boundaries, where boundary k is the
    * smallest score whose cumulative count reaches ⌈k·n/nStages⌉.
    */
  def curriculum(docs: DataFrame, nStages: Int = 4): DataFrame = {
    require(nStages >= 2, s"need >= 2 stages, got $nStages")
    // functions.split is shadowed by this object's dataset splitter
    val toks = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.split(col("text"), " ").as("w"))
    val scored = toks.select(col("doc_id"),
      expr("(CAST(size(array_distinct(w)) AS BIGINT) * 1000000) div " +
        "CAST(size(w) AS BIGINT)").as("score"))
    val hist = scored.groupBy("score").agg(count(lit(1)).as("cnt"))
    // n = the histogram total (max of the cumulative sum) — derived in
    // the SAME bounded-frame pass as the boundaries, so the corpus TTR
    // scan runs once for the histogram and once for the final select,
    // never a third time for a standalone count() job
    val cum = hist.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", max(col("cum")).over(
        Window.orderBy("score").rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    val bcols = (1 until nStages).map(k =>
      min(when(col("cum") * nStages >= col("n") * k, col("score")))
        .as(s"b$k"))
    val bounds = cum.agg(bcols.head, bcols.tail: _*)
    val staged = scored.crossJoin(broadcast(bounds))
    val stage = (1 until nStages)
      .map(k => (col("score") > col(s"b$k")).cast("int"))
      .reduce(_ + _) + 1
    staged.select(col("doc_id"), col("score"), stage.as("stage"),
      wordHash60(col("doc_id").cast("string")).as("epoch_key"))
  }
}
