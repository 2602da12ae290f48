package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.TopKAgg
import graft.operators.Similarity
import graft.operators.Similarity.{cosine, prepared, probed}

/** Streaming similarity: arriving embeddings are screened against a
  * static ANN index (Similarity.buildIndex) — stream-static bucket
  * join, cosine via the native VecDot expression, and the bounded-heap
  * `top_k` aggregate under a watermark. Three engine extension pieces
  * composing in one streaming plan; state per window×query is one
  * k-element heap, evicted by the watermark.
  */
object VecStreams {

  /** Top-k index matches per arriving vector (`vec_id, embedding, ts`),
    * finalized per 1-hour event-time window. Matches arrive as
    * array<struct<score,label>> best-first; label = index vec_id.
    */
  def annScreen(streamEmbs: DataFrame, index: DataFrame, k: Int = 3,
      bits: Int = 4): DataFrame =
    // multi-probe on the STREAM side (Similarity.probed): no extra
    // state; the static index stays keyed by its build-time bucket
    cosineScreen(prepared(probed(streamEmbs, bits))
      .withWatermark("ts", "1 hour"), index, "bucket", k)

  /** The screens' shared finalization over a scored (ts, vec_id, keys…,
    * score, cand) stream: per 1-hour event-time window and arriving
    * vector (and `keys`), the bounded-heap top-k of `score` over the
    * `cand` labels → (hour, vec_id, keys…, matches). State per window
    * × arrival is one k-element heap, evicted by the watermark.
    */
  private def hourlyTopK(scored: DataFrame, score: Column, k: Int,
      keys: Column*): DataFrame =
    scored.groupBy(window(col("ts"), "1 hour") +: col("vec_id") +: keys: _*)
      .agg(TopKAgg.topK(score, col("cand"), k).as("matches"))
      .select((Seq(col("window.start").as("hour"), col("vec_id")) ++ keys
        :+ col("matches")): _*)

  /** A float-index screen ([[annScreen]], [[ivfScreen]],
    * [[ivf2Screen]]): the watermarked, normed arrivals `q` equi-join
    * the index on `key`, score each candidate by [[cosine]], and
    * finalize through [[hourlyTopK]]. Labels are the candidate id as an
    * UNPADDED string, so the heap breaks a score tie lexicographically
    * ("10" before "9"), not by the batch rankers' numeric id order.
    */
  private def cosineScreen(q: DataFrame, index: DataFrame, key: String,
      k: Int): DataFrame = {
    val c = index.select(col(key), col("vec_id").as("cand_id"),
      col("embedding").as("cand_emb"), col("norm").as("cand_norm"))
    hourlyTopK(q.join(c, Seq(key))
      .select(col("ts"), col("vec_id"),
        cosine(col("embedding"), col("cand_emb"), col("norm"),
          col("cand_norm")).as("sim"),
        col("cand_id").cast("string").as("cand")), col("sim"), k)
  }

  /** Streaming kNN-CLASSIFY screen — label assignment at ingest, the
    * streaming counterpart of
    * [[graft.operators.Similarity.labelPropagateFromGraph]]: every
    * arriving vector probes the LABELED static index
    * ([[graft.operators.Similarity.buildIndexKeeping]] with `label`)
    * via self + Hamming-1 buckets, its top-`k` bucket-mates by exact
    * cosine vote, and the arrival is labeled by the
    * (votes DESC, micro-support DESC, label ASC) winner — the exact
    * integer tie rule of the batch propagation operator, so the two
    * label paths cannot drift.
    *
    * Streaming-legal by construction: ONE windowed aggregation (the
    * bounded-heap top-k), then the vote is a SCALAR higher-order-
    * function pass over the ≤ k-entry array (per distinct candidate
    * label: count + summed micro-cosine, argmax via array_max over
    * (votes, support, −label) structs) — no second aggregation, so
    * append mode and the watermark behave exactly as [[annScreen]].
    * Heap tie determinism: the payload packs the candidate id
    * zero-padded to 20 digits BEFORE the label, so the heap's
    * lexicographic tie-break is numeric-id order and the top-k set
    * is input-order independent. Arrivals with NO bucket-mate emit
    * nothing (no evidence, no label — callers route them to the
    * unlabeled pool).
    *
    * Output: (hour, vec_id, pred_label, votes, support_micro).
    */
  def knnClassifyScreen(streamEmbs: DataFrame, labeledIndex: DataFrame,
      k: Int = 5, bits: Int = 4): DataFrame = {
    val q = prepared(probed(streamEmbs, bits)).withWatermark("ts", "1 hour")
    val c = labeledIndex.select(col("bucket"),
      concat(lpad(col("vec_id").cast("string"), 20, "0"), lit(":"),
        col("label").cast("long").cast("string")).as("cand"),
      col("embedding").as("cand_emb"), col("norm").as("cand_norm"))
    val topk = q.join(c, Seq("bucket"))
      .select(col("ts"), col("vec_id"),
        cosine(col("embedding"), col("cand_emb"), col("norm"),
          col("cand_norm")).as("sim"),
        col("cand"))
      .groupBy(window(col("ts"), "1 hour"), col("vec_id"))
      .agg(TopKAgg.topK(col("sim"), col("cand"), k).as("m"))
    def lbl(e: Column) =
      split(e.getField("label"), ":").getItem(1).cast("long")
    val labels = array_distinct(transform(col("m"), e => lbl(e)))
    val scoredLabels = transform(labels, l => struct(
      size(filter(col("m"), e => lbl(e) === l)).cast("long").as("votes"),
      aggregate(filter(col("m"), e => lbl(e) === l), lit(0L),
        (acc, e) => acc + round(e.getField("score") * 1e6).cast("long"))
        .as("support"),
      (-l).as("neg_label")))
    topk
      .withColumn("best", array_max(scoredLabels))
      .select(col("window.start").as("hour"), col("vec_id"),
        (-col("best.neg_label")).as("pred_label"),
        col("best.votes").as("votes"),
        col("best.support").as("support_micro"))
  }

  /** Streaming SEMANTIC-CONTAMINATION screen — the deployment
    * direction of [[graft.operators.Decontam.semanticHits]]: the
    * benchmark/eval set is SMALL and FIXED (its bucketed index is
    * built once at a pinned `bits` — an index property, recorded with
    * the artifact), and every ARRIVING training vector is screened
    * against it before admission, the ingest-time complement of the
    * batch sweep. Each arrival computes its own sign bucket, probes
    * self + Hamming-1 (narrow bits+1 explode, no state), equi-joins
    * the eval index on the bucket, and keeps cosine ≥ `threshold`
    * matches; per 1-hour window × arrival the output row is
    * (hour, vec_id, eval_id, max_sim, n_hits) — best eval match (ties
    * to the smaller id) plus the exact distinct-eval hit count (probe
    * values are distinct, so each (arrival, eval) pair matches at most
    * once). CLEAN arrivals produce no row: the screen's output is
    * leakage-sized, and state per window×arrival is one max/count
    * cell, evicted by the watermark.
    */
  def contamScreen(streamEmbs: DataFrame, evalIndex: DataFrame,
      threshold: Double = 0.3, bits: Int = 4): DataFrame = {
    val q = prepared(probed(streamEmbs, bits)).withWatermark("ts", "1 hour")
    val e = evalIndex.select(col("bucket"),
      col("vec_id").as("eval_id"), col("embedding").as("e_emb"),
      col("norm").as("e_norm"))
    q.join(e, Seq("bucket"))
      .select(col("ts"), col("vec_id"), col("eval_id"),
        cosine(col("embedding"), col("e_emb"), col("norm"), col("e_norm"))
          .as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy(window(col("ts"), "1 hour"), col("vec_id"))
      .agg(max(struct(col("sim"), (-col("eval_id")).as("neg_eval"))).as("m"),
        count(lit(1)).as("n_hits"))
      .select(col("window.start").as("hour"), col("vec_id"),
        (-col("m.neg_eval")).as("eval_id"), col("m.sim").as("max_sim"),
        col("n_hits"))
  }

  /** IVF-routed streaming screen — the trained-index counterpart of
    * [[annScreen]]: each arriving vector ranks the k-means centroids
    * PER ROW (the model is a driver-held k×d literal — the
    * dsirScreen dense-model pattern; a window-rank over a streaming
    * frame isn't available) and probes its `nprobe` best cells'
    * inverted lists via one stream-static join. The per-row sort key
    * (−rounded sim, cent_id) reproduces the batch `assignRanked`
    * ordering exactly, so the probe set matches
    * [[graft.operators.Similarity.ivfTopK]]'s rk ≤ nprobe by
    * construction. Tail identical to [[annScreen]]: watermark, 1-hour
    * window, bounded-heap top-k.
    */
  /** Per-row router: the arriving vector's `nprobe` best IVF cells as
    * an explode over the driver-held k×d centroid literal (the
    * dsirScreen dense-model pattern — a window-rank over a streaming
    * frame isn't available). Sort key: ascending (−sim) == batch's
    * sim DESC for every real cosine; a NaN sim (zero-norm centroid)
    * must ALSO agree — Spark sorts NaN largest, so batch DESC puts it
    * FIRST, and −NaN is still NaN (last ascending): map it to −∞ so
    * it leads here too. Expects a `norm` column; reproduces the batch
    * `assignRanked` probe set exactly. Shared by [[ivfScreen]] and
    * [[pqScreen]].
    */
  private def probeCells(cents: Seq[Array[Long]], nprobe: Int): Column =
    explode(bestCids(typedLit(Similarity.centroidModel(cents)), nprobe))

  /** The `n` best centroid ids of a literal model array (entries
    * (cid, image, norm) as [[Similarity.centroidModel]] builds them)
    * for the row's `embedding`/`norm`, best first — THE per-row sort
    * key both routers share: ascending (−[[cosine]], cid).
    */
  private def bestCids(model: Column, n: Int): Column = {
    def negSim(s: Column) =
      when(isnan(s), lit(Double.NegativeInfinity)).otherwise(-s)
    transform(
      slice(array_sort(transform(model, c => struct(
        negSim(cosine(col("embedding"), c.getField("_2"), col("norm"),
          c.getField("_3"))).as("ns"),
        c.getField("_1").as("cid")))), 1, n),
      t => t.getField("cid"))
  }

  def ivfScreen(streamEmbs: DataFrame, cells: DataFrame,
      cents: Seq[Array[Long]], k: Int = 3, nprobe: Int = 2): DataFrame = {
    require(cents.nonEmpty, "cents must be non-empty")
    require(nprobe >= 1 && nprobe <= cents.size,
      s"nprobe must be in [1, ${cents.size}], got $nprobe")
    cosineScreen(prepared(streamEmbs)
      .withColumn("cell", probeCells(cents, nprobe))
      .withWatermark("ts", "1 hour"), cells, "cell", k)
  }

  /** Per-row TWO-LEVEL router — [[probeCells]]'s hierarchical form:
    * rank the nL1 coarse centroids, keep the best `nprobe1` cells,
    * then rank ONLY those cells' fine centroids (composite id
    * cid = cell·nL2 + j, cell recovered by floor division) and keep
    * the best `nprobe2` composite keys. Same (−rounded-sim, cid)
    * sort key as [[probeCells]], so the probe set equals the batch
    * [[graft.operators.Similarity.ivf2TopK]] routing windows exactly.
    * Per-row work is (nL1 + nprobe1·nL2)·d dot products over driver-
    * held literals — the hierarchy's whole point at large cell counts.
    */
  private def probeCells2(l1: Seq[Array[Long]], l2: Seq[Array[Long]],
      nL2: Int, nprobe1: Int, nprobe2: Int): Column = {
    val cellsArr = bestCids(typedLit(Similarity.centroidModel(l1)), nprobe1)
    val fine = filter(typedLit(Similarity.centroidModel(l2)), c =>
      array_contains(cellsArr,
        floor(c.getField("_1").cast("double") / nL2).cast("long")))
    explode(bestCids(fine, nprobe2))
  }

  /** Hierarchically-routed streaming screen — the two-level
    * counterpart of [[ivfScreen]]: arrivals route per row through the
    * coarse-then-fine literal models ([[probeCells2]]) and probe the
    * static two-level inverted lists
    * ([[graft.operators.Similarity.ivf2Cells]] — the same builder the
    * batch ranker scans, so candidate sets cannot drift) via one
    * stream-static equi-join on the composite cell key. Tail identical
    * to [[ivfScreen]]: watermark, 1-hour window, bounded-heap top-k.
    */
  def ivf2Screen(streamEmbs: DataFrame, cells2: DataFrame,
      l1: Seq[Array[Long]], l2: Seq[Array[Long]], nL2: Int,
      k: Int = 3, nprobe1: Int = 2, nprobe2: Int = 4): DataFrame = {
    require(l1.nonEmpty && nL2 >= 1 && l2.size == l1.size * nL2,
      s"need |l2| = |l1|*nL2, got ${l2.size} vs ${l1.size}*$nL2")
    require(nprobe1 >= 1 && nprobe1 <= l1.size,
      s"nprobe1 must be in [1, ${l1.size}], got $nprobe1")
    require(nprobe2 >= 1, s"nprobe2 must be >= 1, got $nprobe2")
    cosineScreen(prepared(streamEmbs)
      .withColumn("c2", probeCells2(l1, l2, nL2, nprobe1, nprobe2))
      .withWatermark("ts", "1 hour"), cells2, "c2", k)
  }

  /** COMPRESSED-DOMAIN streaming screen — the IVF-PQ counterpart of
    * [[ivfScreen]]: each arriving vector routes to its `nprobe` best
    * cells ([[probeCells]], the same per-row router) and precomputes
    * its m×ksub ADC lookup table from the driver-held codebook
    * ([[graft.operators.Similarity.pqLut]] — the SAME builder the
    * batch ranker uses, so stream and batch scores cannot drift); the
    * stream-static join probes [[graft.operators.Similarity
    * .ivfPqLists]]'s inverted lists, which carry only the m-byte PQ
    * codes — the static side of a 100 TB index is codes, not floats.
    * Per (window, query) state is one k-element heap; score = −adc
    * (exact integers in double), label = zero-padded cand id so the
    * heap's tie order equals the batch (adc ASC, vec_id ASC).
    */
  /** Attribute-filtered streaming screen — [[annScreen]] with the
    * query's `label` as a SECOND join key (the streaming twin of
    * [[graft.operators.Similarity.labelFilteredTopK]]): each arriving
    * vector only ever scores index entries sharing its label
    * (in-language / in-tenant ingest screening). The label is an
    * equi-key of the stream-static join, not a post-filter — at
    * 100 TB the static index is partitioned by (label, bucket), so a
    * micro-batch touches only its labels' partitions. The index must
    * carry a `label` column ([[graft.operators.Similarity.buildIndex]]
    * over a frame that kept it, or the caller's select).
    */
  def filteredScreen(streamEmbs: DataFrame, index: DataFrame, k: Int = 3,
      bits: Int = 4): DataFrame = {
    val q = prepared(probed(streamEmbs, bits)).withWatermark("ts", "1 hour")
    val c = index.select(col("bucket"), col("label"),
      col("vec_id").as("cand_id"), col("embedding").as("cand_emb"),
      col("norm").as("cand_norm"))
    hourlyTopK(q.join(c, Seq("bucket", "label"))
      .select(col("ts"), col("vec_id"), col("label"),
        cosine(col("embedding"), col("cand_emb"), col("norm"),
          col("cand_norm")).as("sim"),
        format_string("%012d", col("cand_id")).as("cand")),
      col("sim"), k, col("label"))
  }

  /** SQ8-compressed streaming screen — [[annScreen]]'s shape with the
    * static side reduced to int8 codes ([[graft.operators.Similarity
    * .sqIndex]]: codes + bucket, floats DROPPED — the 100 TB static
    * side of this join is 4× smaller than the float index annScreen
    * carries). Arrivals multi-probe their sign-bucket (self +
    * Hamming-1, same router), quantize THEMSELVES through the shared
    * [[graft.operators.Similarity.withSqCols]] definition, and score
    * each bucket-mate with one integer dot ([[graft.operators
    * .Similarity]] sqScore semantics: ⟨q̂,ĉ⟩·s_c — exact in the heap's
    * double since |score| ≲ 10¹²). Label zero-padded so heap tie order
    * equals the batch ranker's (score DESC, vec_id ASC).
    */
  def sqScreen(streamEmbs: DataFrame, index: DataFrame, k: Int = 3,
      bits: Int = 4): DataFrame = {
    val q = probed(Similarity.withSqCols(streamEmbs), bits)
      .withWatermark("ts", "1 hour")
    val c = index.select(col("bucket"), col("vec_id").as("cand_id"),
      col("scale").as("cand_scale"), col("qv").as("cand_qv"))
    hourlyTopK(q.join(c, Seq("bucket"))
      .select(col("ts"), col("vec_id"),
        Similarity.sqScore(col("sq_qv"), col("cand_qv"), col("cand_scale"))
          .cast("double").as("score"),
        format_string("%012d", col("cand_id")).as("cand")), col("score"), k)
  }

  def pqScreen(streamEmbs: DataFrame, lists: DataFrame,
      cents: Seq[Array[Long]], model: Seq[Seq[Array[Long]]],
      k: Int = 3, nprobe: Int = 2): DataFrame = {
    require(cents.nonEmpty, "cents must be non-empty")
    require(nprobe >= 1 && nprobe <= cents.size,
      s"nprobe must be in [1, ${cents.size}], got $nprobe")
    val m = model.size
    val ksub = model.head.size
    val q = prepared(streamEmbs)
      .withColumn("cell", probeCells(cents, nprobe))
      .withColumn("lut", Similarity.pqLut(Similarity.pqVd(
        col("embedding")), model))
      .withWatermark("ts", "1 hour")
    val c = lists.select(col("cell"), col("vec_id").as("cand_id"),
      col("codes"))
    hourlyTopK(q.join(c, Seq("cell"))
      .select(col("ts"), col("vec_id"),
        (-Similarity.pqAdc(col("lut"), col("codes"), m, ksub))
          .cast("double").as("score"),
        format_string("%012d", col("cand_id")).as("cand")), col("score"), k)
  }
}
