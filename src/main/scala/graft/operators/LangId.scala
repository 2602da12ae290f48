package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TRAINED language identification: a hashed character-n-gram naive
  * Bayes classifier — the standard fastText/langid.py-shaped model
  * (char n-grams → hashed feature buckets → per-class multinomial
  * with add-1 smoothing), learned from a labeled seed slice of the
  * corpus and applied to every document. Replaces the round-7
  * marker-word heuristic (`TextFunctions.langPredict`, kept as the
  * zero-training fallback) as the primary language-ID operator.
  *
  * Engine-exact determinism (the DSIR / Perplexity discipline): every
  * log term is rounded to the integer MICRO-NAT grid independently —
  * `lp(l,b) = round(1e6·(ln(c_lb+1) − ln(c_l+B)))`, the per-class
  * floor `round(−1e6·ln(c_l+B))`, the prior
  * `round(1e6·(ln(n_l) − ln(N)))` — so a document's class score is an
  * exact integer sum of model constants and the argmax is
  * engine-independent. The unseen-bucket backoff is algebraically
  * folded: score_l = prior_l + G·floor_l + Σ_observed Δ_l(b) with
  * Δ_l(b) = lp_l(b) − floor_l, which turns "every gram needs a row
  * per class" into an INNER join against the observed model only.
  *
  * Scale shape: training is two distributed aggregations over the
  * SEED slice (bounded by slice size, grouped to ≤ L·B model rows —
  * 5·1024 here); scoring streams the corpus through one map-only
  * fused gram explode (`CharGramBuckets`), one broadcast left join
  * against the WIDE Δ model (one row crosses per gram, not per
  * gram×class), one per-doc partial-aggregating groupBy, an L-row
  * stack + broadcast prior attach, and a 5-rows-per-doc argmax
  * window. The only driver-side state is the ≤ L-entry class list
  * (the IVF-centroid precedent).
  *
  * Local-bench caveat: the sf0.1 documents parquet is ONE row group,
  * so the scan — and with it the whole fused gram/md5 map side —
  * runs on a single core until the first shuffle; the query's
  * sf-bench time is dominated by that artifact. No repartition is
  * added: at deployment scale the corpus has thousands of row groups
  * and the scan parallelizes naturally, while a forced repartition
  * would shuffle the full corpus text.
  */
object LangId {

  /** Character n-grams of `text` (positions 1..len−n+1, 1-based —
    * the DuckDB `range` mirror). Documents shorter than `n` yield an
    * empty array, NOT a descending `sequence` artifact.
    */
  def charGrams(text: Column, n: Int = 3): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** The exploded hashed-FEATURE stream (doc_id, b) used by BOTH
    * train and score: ONE native walk per row (`CharGramBuckets` —
    * slicing, md5 with a reused digest, bucket modulo fused; the
    * GramHashes precedent), then a bare long explode. No per-row gram
    * STRING array ever materializes — the composed `transform`+
    * `substr`+`md5`-hex form benched 8.5 s at sf0.1, the fused form
    * ~1 s. Value semantics are the composed form's exactly (grams at
    * character positions 1..len−n+1; first-8-hex-digit md5 value;
    * positive mod), so the DuckDB oracle is untouched.
    *
    * `wordFeats = true` (the fastText recipe's second feature family,
    * round 18) APPENDS hashed DISTINCT-word buckets: the text splits
    * on single spaces (limit −1, matching DuckDB's `string_split`
    * including trailing empties), each distinct token hashes to
    * `buckets + wordHash60(token) mod buckets` — a DISJOINT bucket
    * range, so char-gram and word evidence never collide. Word
    * identity is what char trigrams smear away, which is the lift on
    * keep/drop-style QUALITY classes whose signal is stopword/symbol
    * vocabulary, not character shape. PRESENCE (distinct per doc),
    * not multiplicity: multinomial word counts amplify the
    * class-imbalance smoothing bias linearly in document length —
    * measured on the quality fixture, count-valued word features
    * dragged every long doc to the majority class (keep-F1 3111 →
    * 1011 pm) while presence features plus vocabulary smoothing
    * (see [[train]]) lift it to 5426 pm.
    */
  private def gramBuckets(docs: DataFrame, extra: Seq[Column],
      n: Int, buckets: Int, wordFeats: Boolean = false): DataFrame =
    // fan out the hash walk (optimization round 18): the per-gram md5
    // is the dominant map-side cost of every NB query, and a
    // single-row-group input runs it on one core ([[Par.fanOut]]
    // no-ops when the scan already parallelizes). Value-safe: every
    // downstream aggregate is an integer count/sum on the micro-nat
    // grid, so row placement cannot change any result bit.
    graft.sources.Par.fanOut(docs).select(
      extra :+ explode(featureBuckets(n, buckets, wordFeats)).as("b"): _*)

  /** The ONE feature-bucket expression both scoring paths share —
    * [[predict]] (via [[gramBuckets]]) and [[predictRowwise]] are
    * spec-pinned equal, which holds only while their feature streams
    * are literally the same expression tree.
    */
  private def featureBuckets(n: Int, buckets: Int,
      wordFeats: Boolean): Column = {
    val charB = graft.expressions.TextExpressions.charGramBuckets(
      col("text"), n, buckets)
    if (!wordFeats) charB
    else concat(charB,
      transform(array_distinct(split(col("text"), " ", -1)), w =>
        lit(buckets.toLong) +
          graft.functions.TextFunctions.wordHash60(w)
            % lit(buckets.toLong)))
  }

  /** The trained model. `delta`: (lang, b, delta) — the micro-nat
    * advantage of an OBSERVED (class, bucket) pair over that class'
    * floor; `langStats`: (lang, prior, floor) — micro-nat log-prior
    * and unseen-bucket floor per class. `buckets`/`n` ride with the
    * frames so a train/score feature-space mismatch is
    * unrepresentable (the [[Perplexity.LmModel]] contract).
    */
  final case class NbModel(delta: DataFrame, langStats: DataFrame,
      buckets: Int, n: Int, wordFeats: Boolean = false,
      classes: Option[DataFrame] = None) {
    /** The class-list frame — `classes` when the trainer provided the
      * cheap (gram-walk-free) seed projection, else `langStats`
      * pruned to its label column. Both enumerate exactly the trained
      * classes; the distinction is COST only: collecting the class
      * list through `langStats` executes the full training chain
      * (seed gram walk included) just to learn the labels, which was
      * one of the redundant walks in every predict call (optimization
      * round 18).
      */
    def classList: DataFrame =
      classes.getOrElse(langStats).select("lang")
    /** Total feature-space width — the smoothing denominator and the
      * per-class LUT size: char-gram buckets plus, under [[wordFeats]],
      * the disjoint word-unigram range above them.
      */
    def totalBuckets: Int = if (wordFeats) 2 * buckets else buckets
    /** Persisted copy (the [[Perplexity.LmModel.persisted]] contract):
      * eager — both frames materialize before return, so a caller
      * composing several queries over one model (predict + evaluate,
      * or a stream's per-micro-batch scoring) executes the training
      * aggregations ONCE instead of re-running the seed gram walk
      * inside every consuming subtree.
      */
    def persisted(): NbModel = {
      val d = graft.sources.CacheScope.persist(delta)
      val s = graft.sources.CacheScope.persist(langStats)
      d.count(); s.count()
      NbModel(d, s, buckets, n, wordFeats, classes)
    }
  }

  /** Train on a labeled seed slice (`lang` column = the label).
    * Both aggregations are distributed; nothing is collected.
    */
  def train(seed: DataFrame, buckets: Int = 1024, n: Int = 3,
      wordFeats: Boolean = false): NbModel = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    require(n >= 1, s"n must be >= 1, got $n")
    val grams = gramBuckets(seed, Seq(col("lang")), n, buckets, wordFeats)
    // add-1 smoothing base. Char-only (the v1 model, byte-stable):
    // the full hashed space `buckets`. wordFeats (v2): the OBSERVED
    // vocabulary — count of distinct seed feature buckets — the
    // textbook vocabulary-based add-1, and the load-bearing half of
    // the v2 keep-F1 lift: smoothing over the full 2·buckets space
    // on a small-vocabulary corpus steals probability mass from the
    // minority class in proportion to the UNSEEN bucket count, so
    // every shared feature votes majority (measured: hash-space
    // smoothing sank keep-F1 to 1011 pm where vocabulary smoothing
    // reaches 5426 vs the 3111 baseline). V is seed-derived, bakes
    // into floor/delta at train time (scoring never needs it), and
    // converges to the hash-space constant as real vocabulary fills
    // the buckets.
    val b: Column = if (!wordFeats) lit(buckets.toLong)
      else col("_v")
    val clb = grams.groupBy("lang", "b").agg(count(lit(1)).as("clb"))
    // V = |distinct feature buckets in the seed| — derived from clb's
    // key set rather than a second walk over the gram stream: clb's
    // (lang, b) keys cover exactly the observed b values, so the
    // countDistinct is value-identical while the expensive gram
    // explode/md5 subtree appears ONCE in the plan (its aggregation
    // exchange is then shared across delta/floor/prior via exchange
    // reuse instead of re-executing per training aggregate —
    // optimization round 18, guide §2.4 "two operations keyed the
    // same way can share one exchange").
    val vFrame = clb.agg(countDistinct(col("b")).as("_v"))
    def withV(df: DataFrame): DataFrame =
      if (wordFeats) df.crossJoin(broadcast(vFrame)) else df
    val nDocs = seed.groupBy("lang").agg(count(lit(1)).as("nl"))
    // gram totals per class, LEFT-joined onto the labeled classes: a
    // class whose seed docs are all shorter than n still trains (cl =
    // 0 → floor = −log(b), no delta rows — every bucket at the
    // floor), instead of silently dropping out of langStats and
    // leaving scores to build an unparseable stack(0,) (the
    // LangIdProps-found degenerate seed). When every class has grams
    // the coalesce is a no-op and the model is bit-identical.
    // per-class gram totals from clb (Σ_b clb = the stream's per-class
    // count, exactly) — the same one-walk sharing as vFrame above
    val cl = nDocs.select("lang")
      .join(clb.groupBy("lang").agg(sum(col("clb")).as("cl")),
        Seq("lang"), "left")
      .select(col("lang"), coalesce(col("cl"), lit(0L)).as("cl"))
    val floor = round(-log(col("cl") + b) * 1e6).cast("long")
    val langFloor = withV(cl)
      .select(col("lang"), col("cl"), floor.as("floor"))
    val delta = withV(clb.join(langFloor, "lang"))
      .select(col("lang"), col("b"),
        (round((log(col("clb") + lit(1L)) - log(col("cl") + b)) * 1e6)
          .cast("long") - col("floor")).as("delta"))
    val tot = nDocs.agg(sum(col("nl")).as("nn"))
    val langStats = nDocs.crossJoin(broadcast(tot))
      .join(langFloor.select("lang", "floor"), "lang")
      .select(col("lang"),
        round((log(col("nl")) - log(col("nn"))) * 1e6).cast("long")
          .as("prior"),
        col("floor"))
    NbModel(delta, langStats, buckets, n, wordFeats,
      // the cheap class list: one count-agg over the seed labels —
      // no gram walk, unlike the langStats chain (see classList)
      classes = Some(nDocs.select("lang")))
  }

  /** Per-document class scores: (doc_id, lang, score) — one row per
    * (doc, trained class), integer micro-nats.
    *
    * Plan shape: ONE pipeline — gram explode → cross with the ≤ L-row
    * broadcast `langStats` → broadcast LEFT join against the observed
    * Δ model → a single (doc_id, lang) groupBy where G falls out as
    * `count(*)` (every gram contributes one row per class). No
    * doc-keyed join at all: the earlier hits-then-left-join shape
    * planned a SortMergeJoin + extra exchange for the re-attachment.
    * Documents shorter than `n` produce no gram rows, so they rejoin
    * as a prior-only union (G = 0, no observed hits — the same
    * algebra, zero rows of work when every doc clears `n`).
    */
  def scores(docs: DataFrame, m: NbModel): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // class list: a model-sized driver collect (the IVF-centroid /
    // DSIR precedent — classes are bounded, never corpus-sized),
    // needed to size the pivot
    val langs = m.classList.collect()
      .map(_.getString(0)).sorted.toSeq
    // an empty seed trains an empty model — out of contract for every
    // scorer (the predictRowwise require); fail loudly here too
    // instead of generating stack(0,) SQL that dies in the parser
    require(langs.nonEmpty, "scores: model has no classes (empty seed?)")
    // Δ model pivoted WIDE: one broadcast row per observed bucket
    // with a Δ column per class, so each gram crosses the join ONCE —
    // the (gram × class) long form pushed L× the rows through the
    // per-doc aggregation for the same integer sums. Pivot columns
    // are named POSITIONALLY (_d_0.._d_k from the sorted class index,
    // via the positional toDF rename): label CONTENT never reaches a
    // generated column name or stack SQL, so a class named "B" (the
    // case-insensitive bucket-key collision), or one containing a
    // backtick, dot, or quote, cannot break resolution — labels
    // rejoin only at the final tiny (li, lang) broadcast.
    val wide = m.delta.groupBy("b")
      .pivot("lang", langs).agg(first(col("delta")))
      .toDF("_bkt" +: langs.indices.map(i => s"_d_$i"): _*)
    val grams = gramBuckets(docs, Seq(col("doc_id")), m.n, m.buckets,
      m.wordFeats)
    val sums = grams.join(broadcast(wide),
        col("b") === col("_bkt"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        langs.indices.map(i =>
          sum(coalesce(col(s"_d_$i"), lit(0L))).as(s"_sd_$i")): _*)
    // melt back to (doc_id, li, sd): L rows per doc, map the index
    // back to its label, then the tiny broadcast prior/floor attach
    val stackArgs = langs.indices
      .map(i => s"${i}L, `_sd_$i`").mkString(", ")
    val langIdx = langs.zipWithIndex
      .map { case (l, i) => (i.toLong, l) }.toDF("li", "lang")
    val scored = sums
      .select(col("doc_id"), col("n_grams"),
        expr(s"stack(${langs.size}, $stackArgs) AS (li, sd)"))
      .join(broadcast(langIdx), Seq("li"))
      .join(broadcast(m.langStats), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        (col("prior") + col("n_grams") * col("floor") + col("sd"))
          .as("score"))
    // under wordFeats every doc emits ≥ 1 feature row (split of even
    // an empty text yields one token), so the feature-free rejoin
    // branch is structurally empty — skip it rather than union a
    // never-matching subtree into the plan
    if (m.wordFeats) scored
    else {
      val priorOnly = docs.filter(length(col("text")) < m.n)
        .select(col("doc_id"))
        .crossJoin(broadcast(m.langStats))
        .select(col("doc_id"), col("lang"), col("prior").as("score"))
      scored.unionByName(priorOnly)
    }
  }

  /** Per-document prediction: (doc_id, pred_lang, score) — argmax
    * class, ties broken (score DESC, lang ASC); both engines agree
    * because scores are exact integers.
    */
  def predict(docs: DataFrame, m: NbModel): DataFrame = {
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("lang").asc)
    scores(docs, m)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang").as("pred_lang"), col("score"))
  }

  /** Per-ROW (stateless) NB argmax — [[predict]]'s streaming form:
    * the model collapses to driver-held literals (per class: a
    * buckets-long Δ lookup array with 0 for unseen, plus the
    * prior/floor scalars — the dsirScreen dense-model pattern, model-
    * sized like the IVF centroid literals), and each document walks
    * its native gram-bucket array once per class through
    * `element_at`. No join, no window, no aggregation — pure per-row
    * scalar work, so the identical plan runs on an unbounded stream
    * (graft.streaming.DocStreams.qualityNbScreen) and on a finite
    * frame. Argmax ties match [[predict]] exactly: the array_max
    * struct key is (score, −classIdx) over the SORTED class list, so
    * max = (score DESC, lang ASC). Output identical to [[predict]]
    * by the algebra (prior + G·floor + Σ observed Δ — spec-pinned
    * equality law).
    */
  def predictRowwise(docs: DataFrame, m: NbModel): DataFrame = {
    val stats = m.langStats.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(stats.nonEmpty, "predictRowwise: model has no classes")
    val langs = stats.map(_._1).toSeq
    val deltaRows = m.delta.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val lutByLang = langs.map { l =>
      val a = Array.fill(m.totalBuckets)(0L)
      deltaRows.iterator.filter(_._1 == l)
        .foreach { case (_, b, d) => a(b.toInt) = d }
      l -> a.toSeq
    }.toMap
    val feats = featureBuckets(m.n, m.buckets, m.wordFeats)
    // fan out the per-row LUT walk (no-op on streams and on inputs
    // that already scan in parallel) — pure map, value-unaffected
    val withB = graft.sources.Par.fanOut(docs)
      .select(col("doc_id"), feats.as("_b"))
      .select(col("doc_id"), size(col("_b")).cast("long").as("_g"),
        col("_b"))
    val cands = stats.zipWithIndex.map { case ((l, prior, floor), i) =>
      val lut = typedLit(lutByLang(l))
      struct(
        (lit(prior) + col("_g") * lit(floor) +
          aggregate(col("_b"), lit(0L), (acc, b) =>
            acc + element_at(lut, (b + lit(1L)).cast("int")))).as("s"),
        lit(-i.toLong).as("ni"))
    }
    withB.select(col("doc_id"), array_max(array(cands: _*)).as("bst"))
      .select(col("doc_id"),
        element_at(typedLit(langs),
          (-col("bst.ni")).cast("int") + 1).as("pred_lang"),
        col("bst.s").as("score"))
  }
}
