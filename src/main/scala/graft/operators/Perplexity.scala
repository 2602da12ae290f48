package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.CacheScope

/** CCNet-style language-model perplexity filtering (Wenzek et al.
  * 2019): score every document by its negative log-likelihood under a
  * language model trained on a clean reference corpus, then route the
  * corpus into head / middle / tail terciles of the score
  * distribution — the classic Common-Crawl quality screen (CCNet
  * keeps head+middle and drops the tail). No reference counterpart
  * (the coursework's surface is the 7 rideshare tasks); this is the
  * LM half of the quality family whose rule half is
  * [[QualityFilters]] and whose corpus-frequency stand-in is
  * `Decontam.rareBigramRate`.
  *
  * Spark-first re-expression of the paper's KenLM stage: the LM is a
  * hashed-bucket bigram model — token buckets `h60(token) mod B`, a
  * beginning-of-document context `B` before the first token, and
  * add-1 smoothing over the `B` possible next-buckets:
  *
  *   p(bn | bp) = (c(bp, bn) + 1) / (c(bp) + B)
  *
  * so a transition's log-prob needs only two counts, both from the
  * TARGET corpus. Per-doc score = Σ log p over the doc's transitions;
  * `nll_per_tok` = the per-transition average negative log-prob — the
  * log of the paper's perplexity, identical ordering.
  *
  * Engine-exact determinism (the oracle must hash-match): the DSIR
  * discipline (`Curation.dsirWeights`) — each model entry's log-prob
  * is rounded to an integer MICRO-NAT grid first (≤ 2 libm calls on
  * exact-integer doubles; a 1-ulp divergence between engines is
  * ~1e-16 relative against the 1e-6 grid), doc scores are then exact
  * integer sums of model constants, and the average is a truncating
  * integer division.
  *
  * Scale shape: the model is built from the target corpus alone (a
  * reference set, small by definition) — two aggregations bounded by
  * the target's transition count. The raw corpus streams through two
  * broadcast hash joins (pair hit → context backoff → global floor)
  * and ONE groupBy(doc_id); the BOS context guarantees every doc has
  * ≥ 1 transition, so the groupBy covers the whole corpus and no
  * join-back is needed (the `dsirWeights` argument). Tercile cuts
  * come from a value HISTOGRAM — bounded by the micro-nat score
  * range, never the corpus — not from a corpus-wide sort or ntile.
  */
object Perplexity {

  /** (doc_id, pos, bp, bn): consecutive hashed-token bucket
    * transitions, 0-based `pos`, with the beginning-of-document
    * context `buckets` (one past the bucket range) before the first
    * token — so every document, including single-token ones, carries
    * ≥ 1 transition. Map-only: one fused gram-hash walk
    * (`GramHashes`), one explode; consecutive pairing happens inside
    * the per-row array (`element_at(ub, i)` = the 0-based `i-1`
    * element), never via a positional self-join.
    */
  def transitions(docs: DataFrame, buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    val b = lit(buckets.toLong)
    val ub = graft.expressions.TextExpressions.gramHashes60(
      tokens(col("text")), 1, distinct = false)
    // fan out the per-token md5 walk (round 19, guide §2.5 — the
    // LangId gramBuckets precedent): single-row-group corpora ran the
    // whole hash walk on one core; streaming frames pass through
    // fanOut untouched, and every downstream aggregate is an integer
    // count/micro-nat sum, so placement cannot change a bit
    graft.sources.Par.fanOut(docs)
      .select(col("doc_id"), transform(ub, h => pmod(h, b)).as("ub"))
      .select(col("doc_id"), posexplode(transform(col("ub"), (x, i) =>
        struct(
          when(i === 0, b).otherwise(element_at(col("ub"), i)).as("bp"),
          x.as("bn")))).as(Seq("pos", "t")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("t.bp").as("bp"), col("t.bn").as("bn"))
  }

  /** Target-side context counts: (bp, cu) transitions per context. */
  private def ctxCounts(target: DataFrame, buckets: Int): DataFrame =
    transitions(target, buckets).groupBy("bp").agg(count(lit(1)).as("cu"))

  /** The trained bigram LM: both model frames PLUS the bucket count
    * they were hashed into. The bucket count travels with the frames
    * because scoring re-buckets the scored corpus — a model built at
    * B=2048 but scored at the 4096 default would hash transitions
    * into a different bucket space and silently drop every lookup to
    * the backoff/floor. Carrying `buckets` here makes that mismatch
    * unrepresentable.
    */
  final case class LmModel(pairLp: DataFrame, ctxLp: DataFrame,
      buckets: Int) {
    /** Persisted copy (the ingest pipeline's stream-static contract:
      * an unpersisted model frame re-evaluates per micro-batch).
      * Eager — both frames are materialized before return.
      */
    def persisted(): LmModel = {
      val p = CacheScope.persist(pairLp)
      val c = CacheScope.persist(ctxLp)
      p.count(); c.count()
      LmModel(p, c, buckets)
    }
  }

  /** Train the model: see [[LmModel]]. */
  def model(target: DataFrame, buckets: Int = 4096): LmModel = {
    val (p, c) = models(target, buckets)
    LmModel(p, c, buckets)
  }

  /** Both model halves from ONE context-count frame: (pairLp, ctxLp).
    * Sharing the `ctxCounts` DataFrame keeps its aggregation subtree
    * canonically identical in the two branches, so Spark's
    * ReuseExchange computes the target's (bp) aggregate once per job.
    * Private — external callers go through [[model]], which carries
    * the bucket count with the frames.
    */
  private def models(target: DataFrame, buckets: Int = 4096)
      : (DataFrame, DataFrame) = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    val ctx = ctxCounts(target, buckets)
    val pairs = transitions(target, buckets)
      .groupBy("bp", "bn").agg(count(lit(1)).as("cb"))
    val pairLp = pairs.join(ctx, "bp")
      .select(col("bp"), col("bn"),
        round((log(col("cb") + lit(1L))
          - log(col("cu") + lit(buckets.toLong))) * 1e6)
          .cast("long").as("lp"))
    val ctxLp = ctx.select(col("bp"),
      round(-log(col("cu") + lit(buckets.toLong)) * 1e6)
        .cast("long").as("lp_ctx"))
    (pairLp, ctxLp)
  }

  /** The global floor: log-prob of a transition whose CONTEXT the
    * target never saw — ln(1) − ln(0 + B). BigDecimal HALF_UP matches
    * Spark's and DuckDB's `round` exactly (the `dsirModel` precedent:
    * `Math.round` rounds half toward +inf, which differs on negative
    * values).
    */
  def defaultLp(buckets: Int): Long = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    BigDecimal(-math.log(buckets.toDouble) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
  }

  /** Per-transition scored stream against a PRE-BUILT model —
    * (doc_id, pos, bp, bn, lp). The shared core of the batch [[score]]
    * and the stateless ingest screen
    * (graft.streaming.DocStreams.perplexityScreen): two broadcast /
    * stream-static left joins, first-hit coalesce pair → context →
    * floor. Stateless and per-row, so the identical plan runs over a
    * micro-batch.
    */
  def scoreTransitions(docs: DataFrame, lm: LmModel): DataFrame =
    transitions(docs, lm.buckets)
      .join(broadcast(lm.pairLp), Seq("bp", "bn"), "left")
      .join(broadcast(lm.ctxLp), Seq("bp"), "left")
      .select(col("doc_id"), col("pos"), col("bp"), col("bn"),
        coalesce(col("lp"), col("lp_ctx"), lit(defaultLp(lm.buckets)))
          .as("lp"))

  /** Per-doc LM score: (doc_id, n_trans, sum_lp, nll_per_tok) for
    * EVERY raw doc — `sum_lp` the exact integer micro-nat
    * log-likelihood, `nll_per_tok` its per-transition negative average
    * (truncating div; `n_trans` ≥ 1 by the BOS construction, and
    * `sum_lp` ≤ 0 since every model entry has cb+1 ≤ cu+B).
    */
  def score(raw: DataFrame, target: DataFrame,
      buckets: Int = 4096): DataFrame = {
    scoreTransitions(raw, model(target, buckets))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trans"), sum("lp").as("sum_lp"))
      .withColumn("nll_per_tok", expr("(-sum_lp) div n_trans"))
  }

  /** CCNet's head/middle/tail routing: every doc tagged by which
    * tercile of the corpus' `nll_per_tok` distribution it falls in
    * (head = lowest perplexity). Cut values are exact rank-`⌈n/3⌉` /
    * `⌈2n/3⌉` order statistics computed from a per-VALUE histogram:
    * the cumulated frame is bounded by the distinct micro-nat scores
    * (≤ the ~8.3M-value range at B=4096, in practice a few thousand),
    * so its single-partition running-sum window is over a bounded
    * frame — the `dsirSelect` band argument — and the corpus itself
    * is never globally sorted or ntile'd. The scored corpus persists
    * ([[graft.sources.CacheScope]]): it feeds both the histogram pass
    * and the final tagging pass.
    */
  def terciles(raw: DataFrame, target: DataFrame,
      buckets: Int = 4096): DataFrame = {
    val s = CacheScope.persist(score(raw, target, buckets)
      .select("doc_id", "nll_per_tok"))
    val hist = s.groupBy("nll_per_tok").agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum("c").over(Window.orderBy("nll_per_tok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = hist.agg(sum("c").as("n"))
    val cuts = cum.crossJoin(broadcast(tot)).agg(
      min(when(col("cum") >= expr("(n + 2) div 3"), col("nll_per_tok")))
        .as("t1"),
      min(when(col("cum") >= expr("(2 * n + 2) div 3"), col("nll_per_tok")))
        .as("t2"))
    s.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("nll_per_tok"),
        when(col("nll_per_tok") <= col("t1"), lit("head"))
          .when(col("nll_per_tok") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }
}
