package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Classifier evaluation over a scored frame — the metrics leg every
  * model-in-the-loop curation stack needs (quality classifiers,
  * language ID, contamination detectors all gate data on a trained
  * model; shipping the model without its measurement invites silent
  * drift). Integer-exact per the house discipline: counts are longs,
  * ratios are truncating per-myriad divisions, and F1 uses its
  * integer-exact form 2·tp·10⁴ ÷ (2·tp + fp + fn) — no floating
  * point anywhere, so the oracle matches bit-for-bit.
  *
  * Scale shape: ONE partial-aggregating groupBy over the scored
  * frame — the (label, pred) confusion matrix, ≤ |classes|² rows —
  * persisted, then per-label / per-prediction rollups and the class-
  * key full-outer join all run over that model-sized frame. The
  * corpus (and whatever expensive prediction pipeline feeds it) is
  * scanned exactly once however many metric legs derive from it; the
  * earlier two-groupBy shape re-executed the scoring subtree per leg
  * (the round-10 eval query carried its NB training twice).
  */
object Evaluation {

  /** The nDCG log2 discount table for ranks 1..k — MODEL CONSTANTS:
    * disc(r) = round(10⁶ / log2(r + 1)) computed ONCE on the driver
    * and inlined as literals into both the Spark plan and the DuckDB
    * oracle, so no per-row transcendental ever crosses engines (the
    * DSIR grid discipline taken to its limit).
    */
  def ndcgDiscounts(k: Int): Seq[Long] =
    (1 to k).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))

  /** Retrieval ranking metrics under binary relevance — the
    * measurement leg for the ANN/BM25/hybrid rankers, per query:
    * hits@k, recall@k (per-myriad, truncating), reciprocal rank
    * (10⁶ div first matched rank; 0 when nothing matched), and
    * nDCG@k (per-myriad: Σ disc(matched ranks) ÷ the ideal prefix sum
    * over min(|truth|, k) — [[ndcgDiscounts]] constants, so the whole
    * metric is integer-exact). `ranked` needs (query_id, neighbor_id,
    * rank); `truth` is the relevant (query_id, neighbor_id) set —
    * typically the exact top-k ([[Similarity.bruteForceTopK]]) when
    * grading an approximate ranker. Queries carrying truth but absent
    * from the ranking score 0s; ranked queries WITHOUT truth rows are
    * dropped (no qrels, no grade).
    *
    * Scale shape: both inputs are already per-query bounded lists, so
    * the matched join, the per-query aggregate, and the truth-size
    * join all move ≤ k rows per query — nothing corpus-sized.
    */
  def retrievalMetrics(ranked: DataFrame, truth: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val disc = ndcgDiscounts(k)
    val idcg = disc.scanLeft(0L)(_ + _).tail // ideal prefix sums
    val tn = truth.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    // both join sides are metric-sized (≤ k rows per query) by the
    // input contract, but they share lineage with the corpus-sized
    // ranker plans, so Catalyst can't see that — hint the broadcasts
    // (qrels probe-side, per-query aggregate build-side) or both
    // joins fall back to corpus-lineage sort-merges.
    val matched = ranked.filter(col("rank") <= k)
      .join(broadcast(truth), Seq("query_id", "neighbor_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("hits"), min("rank").as("first_rank"),
        sum(element_at(array(disc.map(lit): _*),
          col("rank").cast("int"))).as("dcg"))
    tn.join(broadcast(matched), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        call_function("div",
          coalesce(col("hits"), lit(0L)) * lit(10000L), col("n_rel"))
          .as("recall_pm"),
        coalesce(call_function("div", lit(1000000L), col("first_rank")),
          lit(0L)).as("rr_micro"),
        when(coalesce(col("dcg"), lit(0L)) > 0,
          call_function("div", col("dcg") * lit(10000L),
            element_at(array(idcg.map(lit): _*),
              least(col("n_rel"), lit(k.toLong)).cast("int"))))
          .otherwise(0L).as("ndcg_pm"))
      .orderBy("query_id")
  }

  /** Set metrics for a PAIR MINER against a reference pair set — the
    * dedup family's counterpart of [[retrievalMetrics]]: both inputs
    * are canonical (vec_a < vec_b) pair frames; output is ONE row
    * (n_truth, n_found, n_matched, recall_pm, precision_pm), integer
    * per-myriad with truncating division, 0 on an empty denominator.
    * Typical use: a bucketed near-dup miner's pairs vs the exact
    * threshold pairs on a bounded probe slice (the brute truth leg is
    * Θ(slice × corpus), so the CALLER bounds the slice — same contract
    * as retrievalMetrics' fixed query set).
    *
    * Scale shape: the match is one equi-join on the pair key; all
    * three aggregates are single-row. Nothing here is corpus-sized
    * beyond what the input frames already were. THE TRUTH-ROW
    * ENVELOPE IS THE CALLER'S: a slice-bounded truth is bounded in
    * the SLICE, not in the corpus — its row count is
    * |slice| × match-rate × n, which grows LINEARLY in n at any fixed
    * threshold with a nonzero floor (eval_neardup_recall's τ=0.3 on
    * d=64 random cosines clears ~0.75% of all pairs — SCALING.md), so
    * the default broadcast build side will eventually exceed executor
    * memory as the corpus grows. Callers in that regime pass
    * `broadcastTruth = false` and let the planner shuffle the match
    * join on the pair key instead; the metric is identical.
    */
  def pairRecall(found: DataFrame, truth: DataFrame,
      broadcastTruth: Boolean = true): DataFrame = {
    val f = found.select(col("vec_a"), col("vec_b"))
    val t = truth.select(col("vec_a"), col("vec_b"))
    val nf = f.agg(count(lit(1)).as("n_found"))
    val nt = t.agg(count(lit(1)).as("n_truth"))
    // truth is usually slice-bounded and broadcast-able, but its
    // LINEAGE is a corpus-sized brute scan, so Catalyst's size
    // estimate would sort-merge without the hint; the caller owns the
    // envelope call (scaladoc) because "slice-bounded" still grows
    // linearly in the corpus at a fixed match-rate floor
    val tSide = if (broadcastTruth) broadcast(t) else t
    val nm = f.join(tSide, Seq("vec_a", "vec_b"))
      .agg(count(lit(1)).as("n_matched"))
    nt.crossJoin(broadcast(nf)).crossJoin(broadcast(nm))
      .select(col("n_truth"), col("n_found"), col("n_matched"),
        when(col("n_truth") > 0,
          call_function("div", col("n_matched") * lit(10000L),
            col("n_truth"))).otherwise(0L).as("recall_pm"),
        when(col("n_found") > 0,
          call_function("div", col("n_matched") * lit(10000L),
            col("n_found"))).otherwise(0L).as("precision_pm"))
  }

  /** (label, pred, n): the confusion matrix — one corpus scan. */
  def confusion(scored: DataFrame, labelCol: String = "label",
      predCol: String = "pred"): DataFrame =
    scored.select(col(labelCol).as("label"), col(predCol).as("pred"))
      .groupBy("label", "pred").agg(count(lit(1)).as("n"))

  /** Per-class precision / recall / F1: (cls, tp, fp, fn,
    * precision_pm, recall_pm, f1_pm) over a frame carrying `label`
    * and `pred` columns. Classes = union of observed labels and
    * predictions, so a class the model never predicts (recall 0) and
    * a hallucinated class (precision 0) both get rows. A zero
    * denominator scores 0 (the conventional “no predictions → zero
    * precision” reading), never a division error.
    */
  def classPrf(scored: DataFrame, labelCol: String = "label",
      predCol: String = "pred"): DataFrame = {
    // persist is what stops the by-label and by-pred rollups each
    // re-running the (possibly corpus-sized) scoring subtree; the
    // frame itself is |classes|^2 rows at any corpus scale
    val conf = graft.sources.CacheScope.persist(
      confusion(scored, labelCol, predCol))
    val byLabel = conf.groupBy(col("label").as("cls"))
      .agg(sum("n").as("n_label"),
        sum(when(col("label") === col("pred"), col("n")).otherwise(0L))
          .as("tp_l"))
    val byPred = conf.groupBy(col("pred").as("cls"))
      .agg(sum("n").as("n_pred"))
    byLabel.join(byPred, Seq("cls"), "full_outer")
      .select(col("cls"),
        coalesce(col("tp_l"), lit(0L)).as("tp"),
        (coalesce(col("n_pred"), lit(0L))
          - coalesce(col("tp_l"), lit(0L))).as("fp"),
        (coalesce(col("n_label"), lit(0L))
          - coalesce(col("tp_l"), lit(0L))).as("fn"))
      .select(col("cls"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          expr("tp * 10000 div (tp + fp)")).otherwise(0L)
          .cast("long").as("precision_pm"),
        when(col("tp") + col("fn") > 0,
          expr("tp * 10000 div (tp + fn)")).otherwise(0L)
          .cast("long").as("recall_pm"),
        when(col("tp") * 2 + col("fp") + col("fn") > 0,
          expr("2 * tp * 10000 div (2 * tp + fp + fn)")).otherwise(0L)
          .cast("long").as("f1_pm"))
      .orderBy("cls")
  }
}
