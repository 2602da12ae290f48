package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.CacheScope

/** Approximate-nearest-neighbor / similarity-search operators over an
  * embedding table (`vec_id, embedding array<float>, label`) — the
  * BASELINE.json extension family (no analog in the reference).
  *
  * Dot products are `zip_with` + `aggregate` — a left-to-right double
  * fold DuckDB reproduces bit-for-bit via
  * `list_reduce(list_prepend(0.0, list_transform(…)), +)`. Higher-order
  * array functions are interpreted (no codegen), so each operator
  * prepares its inputs once per row ([[prepared]]: double-cast array +
  * norm) and pays exactly ONE fold per candidate pair — not three.
  *
  * Scale design (billions of vectors):
  *   - brute force broadcasts the (small) query set and streams the
  *     corpus once — one shuffle of (query_id, sim) pairs bounded by
  *     k via the per-query top-k window;
  *   - the LSH variant buckets both sides by a random-hyperplane sign
  *     sketch and equi-joins on the bucket — per-bucket work is
  *     |bucket|²; the bucket count is sized from the corpus
  *     ([[chooseBits]]) so global work stays ~n·target instead of the
  *     fixed-bucket O(n²/2^bits) cliff, and Hamming-1 multi-probe
  *     recovers the recall a wider sketch would otherwise lose.
  */
object Similarity {

  /** Double dot product of two float/double-array columns — the native
    * codegen expression (graft.expressions.VecDot); same left-to-right
    * accumulation as the `zip_with`+`aggregate` fold it replaced, so
    * oracle parity is unchanged.
    */
  def dot(x: Column, y: Column): Column =
    graft.expressions.VectorExpressions.vecDot(x, y)

  /** A vector's norm, `sqrt(a·a)` — materialized once per row by
    * [[prepared]], so a pair score pays one fold, not three.
    */
  def norm(emb: Column): Column = sqrt(dot(emb, emb))

  /** THE pair score: cosine of two vectors from their [[norm]]s,
    * rounded at 6 dp — the DuckDB-parity contract (the oracle rounds
    * identically, so a last-bit FP difference never reaches a result).
    * Every ranker, router, screen and verify in this module and in
    * graft.streaming scores through this one definition.
    */
  def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    round(dot(a, b) / (na * nb), 6)

  /** Random-hyperplane LSH family (Charikar SimHash for cosine).
    *
    * 16 fixed pseudo-random hyperplanes over the first [[MaxDim]]
    * dimensions, generated by a seeded splitmix64 with components
    * rounded to 6 decimals — deterministic AND engine-portable: the
    * DuckDB oracle embeds the identical decimal literals and both
    * engines fold the dot product left-to-right, so the sign (hence
    * the bucket) matches bit-for-bit. Random orientations decorrelate
    * the sketch from per-coordinate skew, which axis-aligned sign bits
    * (the previous design) could not.
    */
  val MaxBits = 16
  val MaxDim = 64

  /** Expected bucket occupancy [[chooseBits]] sizes toward. */
  val TargetBucket = 64L

  /** Expected SemDeDup cell occupancy [[chooseCells]] sizes toward. */
  val TargetCell = 64L

  private def splitmix(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Hyperplane components in [-1, 1], rounded to 6 decimals. The
    * rounding makes the double exactly reconstructible from its
    * decimal print-out (k/10^6 parses to the same nearest double in
    * any IEEE engine), which is what lets the oracle share them.
    */
  val Hyperplanes: IndexedSeq[Array[Double]] =
    (0 until MaxBits).map { i =>
      Array.tabulate(MaxDim) { j =>
        val u = (splitmix(i.toLong * 1000003L + j) >>> 11).toDouble /
          (1L << 53).toDouble
        math.rint((2 * u - 1) * 1e6) / 1e6
      }
    }

  /** Full 16-bit sign sketch: bit i = [dot(emb, H_i) >= 0]. One
    * codegen'd VecDot per hyperplane; ~16×64 multiply-adds per row.
    */
  def sketch16(emb: Column): Column =
    (0 until MaxBits).map { i =>
      when(dot(emb, lit(Hyperplanes(i))) >= 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Smallest bits b ≥ 1 with target·2^b ≥ n, capped at [[MaxBits]] —
    * bucket count grows linearly with the corpus so per-bucket work
    * stays ~target², instead of the fixed-16-bucket O(n²/16) cliff.
    * Pure integer arithmetic so the oracle's CASE chain is exact.
    */
  def chooseBits(n: Long, target: Long = TargetBucket,
      maxBits: Int = MaxBits): Int = {
    var b = 1
    while (b < maxBits && (target << b) < n) b += 1
    b
  }

  /** Corpus-sized k-means cell count: ceil(n / target), at least 1 —
    * mean cell occupancy stays ~target vectors at ANY corpus size, so
    * [[semanticDedup]]'s within-cell quadratic verify is O(n·target)
    * total work instead of the fixed-k O(n²/k) cliff (the
    * [[chooseBits]] sizing argument, applied to k-means). Pure integer
    * arithmetic so the DuckDB oracle derives the identical k from
    * `(count(*) + target - 1) // target`.
    *
    * The flip side — stated, not hidden: Lloyd ASSIGNMENT costs
    * O(n·k·d) dot products and the trained model is k×d longs on the
    * driver, both O(n·d/target) under this rule. That is the standard
    * flat-IVF envelope; past ~10⁶ cells a deployment inserts a coarse
    * quantizer (hierarchical k-means) in front, which changes the
    * trainer, not this operator's cell semantics.
    */
  def chooseCells(n: Long, target: Long = TargetCell): Int =
    // clamp before the Int narrowing: at n > ~1.4e11 (target=64) the
    // ceil-divide exceeds Int.MaxValue and .toInt alone would wrap
    // negative; such a corpus needs a coarse quantizer anyway (see
    // above), so saturating is the honest boundary behavior.
    math.min(Int.MaxValue.toLong, math.max(1L, (n + target - 1) / target)).toInt

  /** LSH bucket: the low `bits` bits of the 16-bit sketch. */
  def signBucket(emb: Column, bits: Int = 4): Column =
    sketch16(emb).bitwiseAND(lit((1L << bits) - 1))

  /** Multi-probe set for a bucket: itself plus every bucket at Hamming
    * distance 1 within the masked bits — recall lost to wider (fewer-
    * bit-collision) buckets is recovered by probing the near misses.
    * All bits+1 values are distinct, so a probe-side explode keeps the
    * downstream equi-join duplicate-free.
    */
  def probeBuckets(bucket: Column, bits: Int): Column =
    array(bucket +: (0 until bits).map(i =>
      bucket.bitwiseXOR(lit(1L << i))): _*)

  /** [[probeBuckets]] widened to Hamming distance ≤ 2: self, every
    * single-bit flip, and every two-bit flip — 1 + b + b(b−1)/2
    * probes at `bits` = b (137 at the 16-bit cap vs 17 for Hamming-1,
    * a ~8× candidate-growth factor at fixed occupancy). The recall
    * knob for the bucketed miners: a near pair lands ≤ 2 sketch bits
    * apart far more often than ≤ 1 (each masked bit flips
    * independently with p = θ/π per the hyperplane bound), so the
    * extra probes recover most of what the Hamming-1 screen loses to
    * bucket boundaries. All values are distinct (XOR masks differ),
    * so the probe-side explode still keeps the downstream equi-join
    * duplicate-free.
    */
  def probeBuckets2(bucket: Column, bits: Int): Column = {
    val singles = (0 until bits).map(i => bucket.bitwiseXOR(lit(1L << i)))
    val doubles = for {
      i <- 0 until bits; j <- (i + 1) until bits
    } yield bucket.bitwiseXOR(lit((1L << i) | (1L << j)))
    array(bucket +: (singles ++ doubles): _*)
  }

  /** The probe set of a `probeHamming` radius — [[probeBuckets]] at 1,
    * [[probeBuckets2]] at 2; any other value rejects here, before the
    * caller runs a job.
    */
  private def hammingProbes(probeHamming: Int): (Column, Int) => Column = {
    require(probeHamming == 1 || probeHamming == 2,
      s"probeHamming must be 1 or 2, got $probeHamming")
    if (probeHamming == 1) probeBuckets else probeBuckets2
  }

  /** Stream-side multi-probe prelude: each row's `bucket` (the low
    * `bits` of its sign sketch) exploded into itself plus every
    * Hamming-1 neighbor — a narrow (bits+1)-way explode, no state. The
    * static side stays keyed by its single build-time bucket
    * ([[buildIndex]]), so an equi-join on `bucket` is the probe.
    */
  private[graft] def probed(df: DataFrame, bits: Int): DataFrame =
    df.withColumn("bucket", signBucket(col("embedding"), bits))
      .withColumn("bucket", explode(probeBuckets(col("bucket"), bits)))

  /** Embeddings with the norm materialized once per row — the per-pair
    * cosine is then a single codegen'd loop plus one divide. The float
    * array itself travels through joins/broadcasts uncast (half the
    * bytes of a double array); VecDot widens per element.
    */
  private[graft] def prepared(embs: DataFrame): DataFrame =
    embs.withColumn("norm", norm(col("embedding")))

  /** [[cosine]] between two [[side]]-tagged frames' columns. */
  private def pairSim(a: String, b: String): Column =
    cosine(col(s"${a}_emb"), col(s"${b}_emb"), col(s"${a}_norm"),
      col(s"${b}_norm"))

  private def side(embs: DataFrame, tag: String, extra: Column*): DataFrame =
    prepared(embs).select(
      col("vec_id").as(s"${tag}_id") +: col("embedding").as(s"${tag}_emb") +:
        col("norm").as(s"${tag}_norm") +: extra: _*)

  /** The exact rankers' tail over a scored (query_id, …, neighbor_id,
    * sim) frame: per query, rows ordered by (sim DESC, neighbor_id ASC)
    * — the tie rule every ranker and oracle shares — the first `k`
    * numbered as a long `rank`, the frame's columns kept, ordered by
    * (query_id, rank).
    */
  private def exactTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select((scored.columns :+ "rank").map(col): _*)
      .orderBy("query_id", "rank")
  }

  /** The bounded-heap rankers' tail over a (query_id, neighbor_id, …)
    * frame: per query the [[graft.expressions.TopKAgg]] top-`k` of
    * `score` (ties to the lower neighbor_id: the id is zero-padded, so
    * lexicographic label order is numeric order), exploded best-first
    * to (query_id, neighbor_id, out(score), rank), ordered by
    * (query_id, rank). `out` maps the heap's double score back to the
    * caller's output column.
    */
  private def heapRanked(scored: DataFrame, score: Column, k: Int)(
      out: Column => Column): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.expressions.TopKAgg.topK(
        score, format_string("%012d", col("neighbor_id")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"),
        col("t.label").cast("long").as("neighbor_id"),
        out(col("t.score")),
        (col("pos") + 1).cast("long").as("rank"))
      .orderBy("query_id", "rank")

  /** Queryable ANN index frame: (vec_id, embedding, norm, bucket) —
    * what a deployment persists (bucketed by `bucket`) and what the
    * streaming screen (graft.streaming.VecStreams) joins against.
    * `bits` stays explicit here: an index pins its bucket width at
    * build time so later streams/queries key identically.
    */
  def buildIndex(embs: DataFrame, bits: Int = 4): DataFrame =
    prepared(embs.withColumn("bucket", signBucket(col("embedding"), bits)))
      .select(col("vec_id"), col("embedding"), col("norm"), col("bucket"))

  /** [[buildIndex]] keeping named metadata columns (label, tenant,
    * source) on the index rows — the static side of the FILTERED
    * streaming screen (graft.streaming.VecStreams.filteredScreen),
    * partitionable by (attribute, bucket) so a deployment prunes to
    * the querying attribute's partitions.
    */
  def buildIndexKeeping(embs: DataFrame, bits: Int,
      keep: String*): DataFrame =
    prepared(embs.withColumn("bucket", signBucket(col("embedding"), bits)))
      .select((Seq("vec_id", "embedding", "norm", "bucket") ++ keep)
        .map(col): _*)

  /** The random-pair cosine HISTOGRAM shared by [[embHealth]] and
    * [[calibratedTauMicro]]: one deterministic hash partner per vector
    * (wordHash60(vec_id) mod n, self-pairs dropped), cosines in
    * integer micro-units folded into 10 fixed buckets over [−1, 1] —
    * (bucket, n_pairs, mean_cmicro), ≤ 10 rows at any corpus size.
    */
  private def randomPairBuckets(embs: DataFrame): DataFrame = {
    val sims = randomPartners(side(embs, "a"), "a_id", side(embs, "b"), "b_id")
      .select(round(pairSim("a", "b") * lit(1e6)).cast("long").as("cmicro"))
    sims
      .select(least(lit(9L), call_function("div",
        col("cmicro") + lit(1000000L), lit(200000L))).as("bucket"),
        col("cmicro"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        (call_function("div", sum(col("cmicro") + lit(1000000L)),
          count(lit(1))) - lit(1000000L)).as("mean_cmicro"))
  }

  /** The random-pair sample every calibration reads: each `a` row (id
    * column `aId`) joins the one `b` row whose id `bId` equals the
    * deterministic hash partner wordHash60(aId) mod n, n = |b| (one
    * eager count), self-pairs dropped (an absent partner id drops too:
    * the join is inner). The per-rule histograms and gap scans stay
    * with their rules.
    */
  private[operators] def randomPartners(a: DataFrame, aId: String,
      b: DataFrame, bId: String): DataFrame = {
    val n = b.count()
    a.withColumn("p",
      graft.functions.TextFunctions.wordHash60(col(aId).cast("string"))
        % lit(n))
      .filter(col("p") =!= col(aId))
      .join(b, col("p") === col(bId))
  }

  /** Embedding-space health profile — the random-pair cosine
    * distribution, the standard collapse/anisotropy diagnostic
    * (healthy d-dim unit embeddings pair near cos 0 with sd ≈ 1/√d;
    * a collapsed space piles mass at high cosine), read straight off
    * [[randomPairBuckets]] with per-myriad shares attached — all
    * integer-exact (the mean divides the SHIFTED nonnegative sum so
    * truncation == floor in both engines, then unshifts).
    *
    * Scale shape: one hash-partner projection + one equi-join + a
    * ≤ 10-key aggregate; the share join broadcasts a 1-row total.
    */
  def embHealth(embs: DataFrame): DataFrame = {
    val perBucket = randomPairBuckets(embs)
    val total = perBucket.agg(sum("n_pairs").as("n_total"))
    perBucket.crossJoin(broadcast(total))
      .select(col("bucket"), col("n_pairs"), col("mean_cmicro"),
        call_function("div", col("n_pairs") * lit(10000L), col("n_total"))
          .as("share_pm"))
      .orderBy("bucket")
  }

  /** Exact brute-force top-k neighbors for the query set `vec_id <
    * nQueries`: broadcast queries × full corpus scan, cosine, per-query
    * top-k by (sim desc, vec_id) via row_number. Self-pairs excluded.
    */
  def bruteForceTopK(embs: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame = {
    val q = side(embs.filter(col("vec_id") < nQueries), "q")
    // NOT fanned out (round-19 A/B): the BNLJ stream side does run on
    // the scan's split count and defers the norm dot into the
    // build-row loop, but at 64 dims that is ~16M mults per 50-query
    // truth leg — measured CHEAPER than the exchange the round-18
    // containment fix inserts (brute warm 0.4 s fused vs 0.9 s
    // fanned; the exchange only pays when the deferred projection is
    // heavy, e.g. shingle arrays).
    val c = side(embs, "c")
    exactTopK(broadcast(q).join(c, col("q_id") =!= col("c_id"))
      .select(col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        pairSim("q", "c").as("sim")), k)
  }

  /** Exact cosine top-k of an explicit query frame against an
    * explicit corpus frame — [[bruteForceTopK]]'s split form for
    * hybrid retrieval (the caller draws queries and candidates by its
    * own predicate instead of an id prefix; the two frames may be
    * disjoint slices of one table). Queries broadcast (bounded by
    * contract), corpus streams, top-k through the bounded-heap
    * [[graft.expressions.TopKAgg]] — ≤ k rows per query per
    * partition cross the wire. Ties (sim, then neighbor ASC) match
    * [[bruteForceTopK]]'s window order via the zero-padded label.
    */
  /** Ceiling on rows an exact ranker will broadcast as its query
    * side: ~300 B/row (id + 64 floats + norm) ⇒ ~30 MB at the cap —
    * comfortable for executors and driver alike, while a 10⁷-row
    * query frame (≳ 3 GB) fails loudly at the require instead of
    * OOMing the driver mid-broadcast. A larger query set should use
    * the bucketed rankers ([[lshTopK]] / [[ivfPqTopKWith]]) whose
    * query side joins on a blocking key instead of broadcasting.
    */
  val MaxBroadcastQueries = 100000L

  /** Bounded-count broadcast guard: reads at most `max`+1 rows of the
    * query frame (a local-limit scan, never a full count) and refuses
    * the broadcast when the frame exceeds the cap.
    */
  private def requireBroadcastable(queries: DataFrame, max: Long,
      what: String): Unit = {
    require(max >= 1 && max < Int.MaxValue,
      s"$what: maxQueries must be in [1, ${Int.MaxValue - 1}], got $max")
    val probe = queries.limit(max.toInt + 1).count()
    require(probe <= max,
      s"$what: query frame exceeds $max rows — too large to broadcast; " +
        "use a bucketed ranker (lshTopK / ivfPqTopKWith) for bulk query sets")
  }

  /** `guard = true` (the default) runs the bounded limit-probe guard
    * EAGERLY — one local-limit Spark job at plan-construction time —
    * so an over-cap query frame fails at the require instead of
    * OOMing the driver mid-broadcast. `guard = false` skips the probe
    * and keeps construction fully lazy (no job until the plan runs):
    * for callers whose query frame is bounded BY CONSTRUCTION (a
    * `limit`, a fixed id prefix) or who compose plans without
    * executing them (plan audits); the broadcast cap then rests on
    * the caller's contract (round-14 ADVICE: the eager probe made
    * every plan-only build pay a job).
    */
  def cosineTopKBetween(queries: DataFrame, corpus: DataFrame,
      k: Int = 10, maxQueries: Long = MaxBroadcastQueries,
      guard: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    if (guard) requireBroadcastable(queries, maxQueries, "cosineTopKBetween")
    val q = side(queries, "q")
    val c = side(corpus, "c")
    heapRanked(broadcast(q).join(c, col("q_id") =!= col("c_id"))
      .select(col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        pairSim("q", "c").as("sim")), col("sim"), k)(_.as("sim"))
  }

  /** MMR diversified rerank (Carbonell & Goldstein, SIGIR 1998): the
    * top-`kCand` cosine candidates per query, greedily re-selected to
    * `k` so each pick maximizes relevance MINUS its worst redundancy
    * against the already-picked set — the diversity rerank a
    * retrieval-augmented pipeline runs so k near-identical passages
    * don't fill the context window. Relevance and redundancy both in
    * micro-unit cosine (λ = ½), integer-exact.
    *
    * Scale shape: candidate generation is the bounded
    * [[cosineTopKBetween]]; the greedy walk is the NATIVE
    * [[graft.expressions.MmrSelect]] over each query's collected
    * kCand-row array (order-independent by tie-break, so
    * collect_list's nondeterminism is harmless) — per-group O(k·kCand)
    * on bounded data, no per-stage plan growth, nothing corpus-sized
    * past the candidate join.
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, kCand: Int = 8,
      k: Int = 4): DataFrame = {
    require(k >= 1 && kCand >= k, s"need kCand >= k >= 1, got $kCand/$k")
    val cands = cosineTopKBetween(queries, corpus, kCand)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim") * 1e6).cast("long").as("rel"))
    val vecs = corpus.select(col("vec_id").as("neighbor_id"),
      transform(col("embedding"), _.cast("double")).as("vd"))
    cands.join(vecs, Seq("neighbor_id"))
      .groupBy("query_id")
      .agg(collect_list(struct(col("neighbor_id"), col("rel"),
        col("vd"))).as("cand"))
      .select(col("query_id"), posexplode(
        graft.expressions.MmrSelect.mmr(col("cand"), k)).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        col("t.mmr").as("mmr"), (col("pos") + 1).cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** LSH-bucketed approximate top-k: both sides keyed by the random-
    * hyperplane bucket; each query scores its own bucket plus every
    * Hamming-1 probe bucket. `bits = 0` (the default) sizes the bucket
    * count from the corpus via [[chooseBits]]; a composed pipeline
    * that already knows the corpus size passes `corpusN` so the
    * one-job count() "trainer" runs at most once per pipeline, not
    * once per operator (same n ⇒ same bits ⇒ identical buckets).
    */
  def lshTopK(embs: DataFrame, nQueries: Int = 50, k: Int = 3,
      bits: Int = 0, corpusN: Long = -1L): DataFrame = {
    val b = if (bits > 0) bits
      else chooseBits(if (corpusN >= 0L) corpusN else embs.count())
    val bucketed = embs.withColumn("bucket", signBucket(col("embedding"), b))
    val q = side(bucketed.filter(col("vec_id") < nQueries), "q", col("bucket"))
      .select(col("q_id"), col("q_emb"), col("q_norm"),
        explode(probeBuckets(col("bucket"), b)).as("bucket"))
    val c = side(bucketed, "c", col("bucket"))
    exactTopK(broadcast(q).join(c, Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        pairSim("q", "c").as("sim")), k)
  }

  /** Near-dup screen COMPLETION — what a curation pipeline keeps: every
    * vector that is not the larger-id side of any [[nearDupPairs]]
    * match (pairwise drop-the-newer rule; for transitive-closure
    * survivorship compose the pairs with
    * [[graft.operators.Dedup.clusters]] instead).
    *
    * This is the composed-pipeline shape the `corpusN` parameter
    * exists for: the corpus is counted ONCE here and threaded into the
    * LSH stage, so the bucket-width "trainer" job runs once per
    * pipeline, not once per operator.
    */
  def nearDupSurvivors(embs: DataFrame, threshold: Double = 0.35): DataFrame = {
    val n = embs.count()
    val dropIds = nearDupPairs(embs, threshold, corpusN = n)
      .select(col("vec_b").as("vec_id")).distinct()
    embs.join(dropIds, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .orderBy("vec_id")
  }

  /** Integer-scaled vector: round(x·10⁶) per element as a long. The
    * k-means trainer sums these EXACTLY (integer addition commutes, so
    * partition order can't perturb a centroid), and cosine is scale-
    * invariant, so centroids never need the /n division that would
    * reintroduce FP summation-order drift between engines.
    */
  private def scaledInts(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * 1e6).cast("long"))

  /** Broadcast-able centroid frame from driver-held scaled-int
    * centroids (k×d longs — model parameters live on the driver, the
    * same shape MLlib's KMeans uses). Double images and norms are
    * precomputed here, once, with the same left-to-right fold the
    * engines use, so the per-row assignment pays one VecDot only.
    */
  /** The (cent_id, double image, norm) triples of a scaled-int
    * centroid model — THE single definition of how a model becomes
    * comparable vectors, shared by the batch [[ivfCellsWith]] frame
    * and the streaming router's literal
    * (graft.streaming.VecStreams.ivfScreen): one fold order for the
    * norm, one scaling convention, so the two paths cannot drift.
    */
  def centroidModel(cents: Seq[Array[Long]])
      : Seq[(Long, Seq[Double], Double)] =
    cents.zipWithIndex.map { case (c, i) =>
      val d = c.map(_.toDouble)
      (i.toLong, d.toSeq, math.sqrt(d.map(x => x * x).sum))
    }

  private def centFrame(spark: org.apache.spark.sql.SparkSession,
      cents: Seq[Array[Long]]): DataFrame = {
    import spark.implicits._
    centroidModel(cents).toDF("cent_id", "cent_emb", "cent_norm")
  }

  /** Every (vector, centroid) scored and ranked: rk=1 is the cell
    * assignment, rk ≤ nprobe is the query-side probe set. Ties break
    * toward the lower centroid id on the 6-dp-rounded similarity.
    * NOTE (round-14 A/B, kept as a warning to future refactors): an
    * argmax AGGREGATE — max(struct(sim, −cent_id, payload…)) — looks
    * like it should beat this window (map-side combine vs shuffle+
    * sort), but measured 3.5× SLOWER on the bench: a struct-typed
    * aggregation buffer is not HashAggregate-mutable, so the agg
    * falls back to SortAggregateExec (a sort per partial AND final
    * pass), while the rk=1/rk≤n filter on THIS window compiles to
    * WindowGroupLimit — a map-side per-group top-k BEFORE the
    * exchange — which is already the shape the aggregate was
    * supposed to buy.
    */
  private def assignRanked(prep: DataFrame, cents: DataFrame): DataFrame =
    rankCentroids(prep.crossJoin(broadcast(cents)))

  /** The centroid ranking every router shares, over (vector, centroid)
    * pair rows: `cent_sim` = [[cosine]] of the vector (`emb`, `nrm`)
    * and the centroid (`cent_emb`, `cent_norm`), `rk` = row_number
    * per `id` by (cent_sim DESC, cent_id ASC).
    */
  private def rankCentroids(pairs: DataFrame, id: String = "vec_id",
      emb: String = "embedding", nrm: String = "norm"): DataFrame = {
    val w = Window.partitionBy(id)
      .orderBy(col("cent_sim").desc, col("cent_id"))
    pairs
      .withColumn("cent_sim",
        cosine(col(emb), col("cent_emb"), col(nrm), col("cent_norm")))
      .withColumn("rk", row_number().over(w))
  }

  /** The rk=1 FINE centroid of each vector among its own coarse cell's
    * ([[centFrame2]] rows equi-joined on `cell`) — the two-level
    * router's second step, shared by the trainer and [[ivf2Cells]].
    */
  private def assignFine(cells: DataFrame, fine: DataFrame): DataFrame =
    rankCentroids(cells.join(broadcast(fine), Seq("cell")))
      .filter(col("rk") === 1)

  /** The rk=1 slice of [[assignRanked]] with `payload` columns riding
    * through (see the WindowGroupLimit note there: this window+filter
    * IS the map-side-limited argmax). Returns (vec_id, cell, payload…).
    */
  private def assignMax(prep: DataFrame, cents: DataFrame,
      payload: Seq[String] = Nil): DataFrame =
    assignRanked(prep, cents)
      .filter(col("rk") === 1)
      .select(col("vec_id") +: col("cent_id").as("cell") +:
        payload.map(col): _*)

  /** Lloyd k-means over scaled-int vectors: seed with the nCells
    * lowest vec_ids, then `iters` rounds of (distributed assign →
    * distributed per-dim integer sum → collect k×d longs). A cell
    * that loses every member keeps its previous centroid. Fully
    * deterministic and mirrored term-for-term by the DuckDB oracle.
    */
  /** Seed ranking for IVF training: md5-ranked deterministic
    * sampling, NOT the lowest vec_ids — on a corpus whose id order
    * correlates with content (sorted exports, clustered appends)
    * id-prefix seeds all land in one region and Lloyd degenerates;
    * the md5 rank is an order-free uniform draw that stays
    * engine-mirrorable (the oracle ranks md5(CAST(vec_id AS VARCHAR))
    * identically). Centroid index = rank position, so both engines
    * number cells the same way.
    */
  private[operators] def seedOrdered(df: DataFrame): DataFrame =
    df.withColumn("_sk", md5(col("vec_id").cast("string")))
      .orderBy(col("_sk"), col("vec_id"))

  def trainIvfCentroids(embs: DataFrame, nCells: Int = 8,
      iters: Int = 2): Seq[Array[Long]] = CacheScope.run {
    // training is EAGER (each round collects k×d model longs), so the
    // trainer's own scope releases its caches before it returns:
    // without them every round re-scans the corpus and re-runs the
    // scale/norm transforms — once for the assignment side, once for
    // the sum side. A projection an outer scope already caches stays
    // with that scope ([[scaledFrame]]).
    val spark = embs.sparkSession
    val scaled = CacheScope.persist(scaledFrame(embs))
    val prep = CacheScope.persist(prepared(embs))
    var cents: Seq[Array[Long]] = seedOrdered(scaled)
      .limit(nCells).collect()
      .map(_.getSeq[Long](1).toArray).toSeq
    for (_ <- 0 until iters) {
      val asg = assignMax(prep, centFrame(spark, cents))
      val sums = asg.join(scaled, "vec_id")
        .select(col("cell"), posexplode(col("vi")).as(Seq("dim", "x")))
        .groupBy("cell", "dim").agg(sum(col("x")).as("s"))
        .groupBy("cell").agg(transform(
          array_sort(collect_list(struct(col("dim"), col("s")))),
          t => t.getField("s")).as("cv"))
        .collect()
        .map(r => r.getLong(0).toInt -> r.getSeq[Long](1).toArray).toMap
      cents = (0 until nCells).map(i => sums.getOrElse(i, cents(i)))
    }
    cents
  }

  /** The scaled-integer projection both Lloyd trainers iterate over —
    * ONE canonical builder, so a caller that trains several models
    * over one corpus ([[trainPqAndIvf]], [[trainIvfTwoLevel]]) caches
    * it once in its own [[graft.sources.CacheScope]]: CacheManager
    * matches plans by canonical form, so each trainer's persist of it
    * finds that cache, leaves it to its owner, and reads it.
    */
  private[operators] def scaledFrame(embs: DataFrame): DataFrame =
    embs.select(col("vec_id"), scaledInts(col("embedding")).as("vi"))

  /** IVF cell assignment under TRAINED centroids ([[trainIvfCentroids]]).
    * Returns (vec_id, embedding, norm, cell).
    */
  def ivfCells(embs: DataFrame, nCells: Int = 8, iters: Int = 2): DataFrame =
    ivfCellsWith(embs, trainIvfCentroids(embs, nCells, iters))

  /** Cluster-balanced diversity sample: train IVF cells, then keep at
    * most `perCell` members of each cell by the md5 rank (the
    * order-free deterministic draw [[seedOrdered]] uses) — the
    * SemDeDup-adjacent topic-balancing selection a training-mix
    * pipeline runs so one dominant cluster can't flood the corpus.
    * Per-cell rank = one window partitioned by cell; at deployment
    * scale a giant cell means a giant sort partition, which is
    * inherent to exact per-cluster top-K — the documented relaxation
    * is a per-cell Bernoulli rate (no sort) when approximate counts
    * suffice.
    */
  def clusterBalancedSample(embs: DataFrame, perCell: Int,
      nCells: Int = 8, iters: Int = 2): DataFrame = {
    require(perCell >= 1, s"perCell must be >= 1, got $perCell")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cell")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    ivfCells(embs, nCells, iters)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= perCell)
      .orderBy("vec_id")
  }

  /** Cell assignment under CALLER-HELD centroids — lets a deployment
    * train once and assign several frames (the streaming IVF screen
    * routes arrivals against the same model the index was cut with).
    */
  def ivfCellsWith(embs: DataFrame,
      cents: Seq[Array[Long]]): DataFrame =
    assignMax(prepared(embs), centFrame(embs.sparkSession, cents),
        Seq("embedding", "norm"))
      .select(col("vec_id"), col("embedding"), col("norm"), col("cell"))

  /** IVF index-balance profile — the routing-skew diagnostic a 100 TB
    * deployment runs before serving: per-cell occupancy with the
    * per-myriad share and LOAD FACTOR (n_vecs·nCells·10⁴/n_total —
    * 10000 = perfectly balanced; the max row is the straggler factor
    * every probe of that cell pays, and an EMPTY cell — emitted as an
    * explicit zero row via the left join from the full cell range —
    * is wasted routing resolution). One corpus scan into an ≤ nCells-
    * key aggregate; the total broadcasts as a 1-row frame. All
    * integer (truncating div), so the oracle replays exactly.
    */
  def indexHealth(embs: DataFrame, nCells: Int = 8,
      iters: Int = 2): DataFrame = {
    // loud empty-corpus contract (there is no index to profile, and
    // downstream the share/load divisions would hit n_total = 0 where
    // Spark's div yields null but DuckDB's // errors — an engine
    // divergence better refused than served); the when() guards below
    // keep the arithmetic total even if a caller-held-cells variant
    // ever reaches them with an empty corpus
    require(!embs.isEmpty,
      "indexHealth: empty corpus — no index to profile")
    val cells = ivfCellsWith(embs, trainIvfCentroids(embs, nCells, iters))
    val counts = cells.groupBy("cell").agg(count(lit(1)).as("n"))
    val allCells = embs.sparkSession.range(nCells)
      .select(col("id").as("cell"))
    // the ≤ nCells-row COUNTS frame is the build side (broadcasting
    // the preserved side of a left join is impossible — a hint there
    // degrades to a sort-merge join)
    val filled = allCells.join(broadcast(counts), Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n"), lit(0L)).as("n_vecs"))
    val total = filled.agg(sum("n_vecs").as("n_total"))
    // empty-corpus edge: n_total = 0 would make Spark's `div` return
    // null where DuckDB's `//` errors — pin the semantics to explicit
    // zeros (an empty index is "perfectly balanced at zero", and the
    // profile stays total on its cell range either way)
    filled.crossJoin(broadcast(total))
      .select(col("cell"), col("n_vecs"),
        when(col("n_total") > 0L,
          call_function("div", col("n_vecs") * lit(10000L), col("n_total")))
          .otherwise(0L).as("share_pm"),
        when(col("n_total") > 0L,
          call_function("div",
            col("n_vecs") * lit(nCells.toLong) * lit(10000L), col("n_total")))
          .otherwise(0L).as("load_pm"))
      .orderBy("cell")
  }

  /** SemDeDup (Abbas et al., 2023 shape): semantic deduplication by
    * clustering the embedding space and keeping, per cluster, only
    * vectors no high-cosine "semantic twin" with a smaller id precedes.
    *
    * WHICH DEDUP WHEN (round 18 — the decision table the percolation
    * finding forced; curves in SCALING.md "Survivor rows, round 18"):
    *   - [[semanticDedup]] (this operator): survivor count is bounded
    *     below by the cell count (chooseCells ≈ n/64) BY CONSTRUCTION
    *     — a drop needs a smaller-id twin in its own bounded cell, so
    *     no transitive chain can cross cells and over-deletion is
    *     structurally impossible at any τ. Pick it when the threshold
    *     is loose relative to the corpus's noise floor, or unknown.
    *     Cost: Lloyd assignment (O(n·k·d)) + within-cell quadratic
    *     verify (O(n·TargetCell)). Misses twins k-means separates.
    *   - [[graphDedupSurvivorsCalibrated]]: transitively-consistent
    *     pruning (a chain a~b~c keeps exactly one) with τ derived
    *     from the corpus's measured random-pair floor — keeps the
    *     SemDeDup keep-rule's global consistency while bounding the
    *     expected noise degree, so survivors track structure instead
    *     of percolating. Pick it when chains matter (URL/paraphrase
    *     families) and the corpus fits one global τ.
    *   - [[graphDedupSurvivors]] (fixed τ): only when τ is KNOWN to
    *     clear the noise floor (validated on a slice) — at τ below
    *     the floor it measurably collapses to one survivor as the
    *     corpus grows (SCALING.md "Percolation, measured").
    * Candidates are WITHIN-CELL pairs under the deterministic
    * integer-scaled k-means of [[ivfCells]] — the quadratic verify is
    * bounded per cell because `nCells = 0` (the default) SIZES the cell
    * count from the corpus via [[chooseCells]]: k ~ n / TargetCell, so
    * within-cell pair work is O(n·TargetCell) at any scale. A composed
    * pipeline that already holds the corpus count passes `corpusN` (the
    * [[lshTopK]] convention) to skip the one-job count() trainer.
    * Returns the survivor set (vec_id, cell, label).
    *
    * CACHE LIFETIME: the assigned-cells frame is consumed THREE times
    * (both self-join sides + the survivor anti-join); Spark's
    * ReuseExchange covers the self-join but the third consumption
    * re-plans the assignment, so the frame persists through
    * [[graft.sources.CacheScope]] — k-means assignment is the
    * operator's dominant scalar cost and the cached rows are (id,
    * d floats, norm, label, cell), no text.
    */
  def semanticDedup(embs: DataFrame, nCells: Int = 0,
      threshold: Double = 0.35, iters: Int = 2,
      corpusN: Long = -1L): DataFrame = {
    val k = if (nCells > 0) nCells
      else chooseCells(if (corpusN >= 0L) corpusN else embs.count())
    val cents = centFrame(embs.sparkSession,
      trainIvfCentroids(embs, k, iters))
    // the payload rides the assignment aggregate, so `label` never
    // joins back over the whole corpus later
    val cells = CacheScope.persist(assignMax(prepared(embs), cents,
        Seq("embedding", "norm", "label"))
      .select(col("vec_id"), col("embedding"), col("norm"), col("label"),
        col("cell")))
    def tagged(t: String) = cells.select(
      col("vec_id").as(s"${t}_id"), col("embedding").as(s"${t}_emb"),
      col("norm").as(s"${t}_norm"), col("cell"))
    val drops = tagged("a").join(tagged("b"), Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .filter(pairSim("a", "b") >= threshold)
      .select(col("b_id").as("vec_id")).distinct()
    cells.join(drops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"),
        col("label").cast("long").as("label"))
      .orderBy("vec_id")
  }

  /** IVF top-k with multi-cell probing: the corpus lives in its rk=1
    * cell's inverted list; each query scores the lists of its `nprobe`
    * nearest cells. Same degrade-gracefully equi-join shape as
    * [[lshTopK]], with data-adaptive cells. Trains the router in-plan
    * and delegates to [[ivfTopKWith]]; a deployment trains once,
    * persists ([[graft.sources.ModelStore.saveIvf]]) and scores from
    * the loaded centroids.
    */
  def ivfTopK(embs: DataFrame, nQueries: Int = 50, k: Int = 3,
      nCells: Int = 8, nprobe: Int = 2, iters: Int = 2): DataFrame =
    ivfTopKWith(embs, trainIvfCentroids(embs, nCells, iters),
      nQueries, k, nprobe)

  /** [[ivfTopK]] under CALLER-HELD router centroids — the loaded-
    * artifact scoring path: a ModelStore-loaded model scores
    * identically to the in-plan-trained one (integer centroids
    * round-trip exactly), with the training subtrees absent from the
    * plan.
    */
  def ivfTopKWith(embs: DataFrame, centroids: Seq[Array[Long]],
      nQueries: Int = 50, k: Int = 3, nprobe: Int = 2): DataFrame =
    ivfTopKFromIndex(ivfCellsWith(embs, centroids), embs, centroids,
      nQueries, k, nprobe)

  /** [[ivfTopKWith]] probing a PREBUILT inverted-list index — the
    * [[ivfCellsWith]] frame (vec_id, embedding, norm, cell), typically
    * read back from storage ([[graft.sources.ModelStore.ensureFrame]]):
    * the full deployment shape, where neither the router training NOR
    * the corpus-side cell assignment re-runs per query batch. Floats,
    * doubles and longs round-trip parquet exactly, so a stored index
    * scores identically to a freshly assigned one.
    */
  def ivfTopKFromIndex(index: DataFrame, queries: DataFrame,
      centroids: Seq[Array[Long]], nQueries: Int = 50, k: Int = 3,
      nprobe: Int = 2): DataFrame = {
    val cents = centFrame(queries.sparkSession, centroids)
    val c = index
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
        col("norm").as("c_norm"), col("cell"))
    // query side: a genuine nprobe ranking, over the pre-filtered
    // query prefix only
    val q = assignRanked(prepared(queries.filter(col("vec_id") < nQueries)),
        cents)
      .filter(col("rk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("cent_id").as("cell"))
    exactTopK(broadcast(q).join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        pairSim("q", "c").as("sim")), k)
  }

  // ---- Two-level IVF (coarse quantizer + per-cell fine cells) -----------

  /** Corpus-sized two-level geometry: with total fine cells k =
    * [[chooseCells]](n) (mean occupancy ~target at any n), split
    * k across the levels as nL1 = ⌈√k⌉, nL2 = ⌈k/nL1⌉ — the balanced
    * factorization that minimizes the (nL1 + nL2)·d per-vector
    * routing cost, turning the flat router's O(k) assignment into
    * O(√k). Pure integer arithmetic (the [[chooseCells]]
    * discipline); nL1·nL2 ≥ k always, so occupancy never exceeds the
    * flat sizing's.
    */
  def chooseCells2(n: Long, target: Long = TargetCell): (Int, Int) = {
    val k = chooseCells(n, target)
    val nL1 = math.ceil(math.sqrt(k.toDouble)).toInt
    (nL1, (k + nL1 - 1) / nL1)
  }

  /** Flat (cent_id, …, cell) frame of a two-level fine-centroid table:
    * cent_id = cell·nL2 + j encodes both levels, cell = cent_id/nL2 is
    * the join key that restricts assignment to a vector's OWN coarse
    * cell.
    */
  private def centFrame2(spark: org.apache.spark.sql.SparkSession,
      cents: Seq[Array[Long]], nL2: Int): DataFrame = {
    import spark.implicits._
    centroidModel(cents).map { case (id, d, n) => (id, d, n, id / nL2) }
      .toDF("cent_id", "cent_emb", "cent_norm", "cell")
  }

  /** Two-level IVF trainer — the coarse quantizer the flat trainer's
    * scaladoc promises past ~10⁶ cells: L1 = [[trainIvfCentroids]]
    * (nL1 coarse cells), then ONE distributed Lloyd loop trains all
    * nL1·nL2 fine cells simultaneously, each vector competing only
    * among its own coarse cell's fine centroids. Assignment cost per
    * vector is (nL1 + nL2)·d dot products instead of the flat
    * (nL1·nL2)·d — the change that keeps routing affordable when the
    * cell count follows [[chooseCells]] into the millions; the model
    * stays (nL1 + nL1·nL2)·d driver longs.
    *
    * Determinism mirrors the flat trainer exactly: fine seeds are the
    * nL2 md5-ranked members OF EACH CELL (cent_id = cell·nL2 + rank−1);
    * a cell with fewer members seeds the missing slots from its L1
    * centroid; updates are exact integer sums (cosine is
    * scale-invariant, no mean division); an empty fine cell keeps its
    * previous centroid. The DuckDB oracle replays the whole
    * chain term-for-term.
    *
    * Returns (L1 centroids, flat L2 table indexed by cent_id).
    */
  def trainIvfTwoLevel(embs: DataFrame, nL1: Int = 4, nL2: Int = 4,
      iters: Int = 2): (Seq[Array[Long]], Seq[Array[Long]]) = {
    require(nL1 >= 1 && nL2 >= 1 && iters >= 0,
      s"bad nL1=$nL1 / nL2=$nL2 / iters=$iters")
    val spark = embs.sparkSession
    CacheScope.run {
      // ONE scaled cache for the L1 trainer and the L2 loop
      // ([[scaledFrame]]); the eager loop's scope releases both caches
      // before returning, and the payload rides the assignment
      // window, no join back
      val scaled = CacheScope.persist(scaledFrame(embs))
      val l1 = trainIvfCentroids(embs, nL1, iters)
      val prepCells = CacheScope.persist(assignMax(prepared(embs),
        centFrame(spark, l1), Seq("embedding", "norm")))
      val wSeed = Window.partitionBy("cell")
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      val seeds = prepCells.select(col("vec_id"), col("cell"))
        .join(scaled, "vec_id")
        .withColumn("rk", row_number().over(wSeed))
        .filter(col("rk") <= nL2)
        .select((col("cell") * nL2 + col("rk") - 1).cast("long").as("c2"),
          col("vi"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
      var cents: IndexedSeq[Array[Long]] = (0 until nL1 * nL2)
        .map(i => seeds.getOrElse(i.toLong, l1(i / nL2)))
      for (_ <- 0 until iters) {
        val asg = assignFine(prepCells, centFrame2(spark, cents, nL2))
          .select(col("vec_id"), col("cent_id").as("c2"))
        val sums = asg.join(scaled, "vec_id")
          .select(col("c2"), posexplode(col("vi")).as(Seq("dim", "x")))
          .groupBy("c2", "dim").agg(sum(col("x")).as("s"))
          .groupBy("c2").agg(transform(
            array_sort(collect_list(struct(col("dim"), col("s")))),
            t => t.getField("s")).as("cv"))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
        cents = (0 until nL1 * nL2)
          .map(i => sums.getOrElse(i.toLong, cents(i)))
      }
      (l1, cents)
    }
  }

  /** Two-level-routed top-k — the hierarchical probe: each query takes
    * its `nprobe1` nearest COARSE cells, then the `nprobe2` nearest
    * FINE cells among those cells' centroids, and exact-scores only
    * the matching inverted lists. Corpus rows live in exactly one
    * fine list ((query, neighbor) can never match twice), so the probe
    * stays a duplicate-free equi-join on the composite key. With
    * nL1 = 1 (and nprobe1 = 1) the router degenerates to flat
    * [[ivfTopK]] EXACTLY — seeds, updates, routing, ranking —
    * the equivalence SimilaritySpec pins.
    */
  /** Two-level inverted lists — (c2, vec_id, embedding, norm): each
    * corpus vector in its FINE cell under caller-held two-level
    * models. THE static artifact both the batch [[ivf2TopK]] and the
    * streaming [[graft.streaming.VecStreams.ivf2Screen]] probe — one
    * builder, so batch and stream candidate sets cannot drift (the
    * [[ivfPqLists]] convention).
    */
  def ivf2Cells(embs: DataFrame, l1: Seq[Array[Long]],
      l2: Seq[Array[Long]], nL2: Int): DataFrame = {
    val spark = embs.sparkSession
    assignFine(assignMax(prepared(embs), centFrame(spark, l1),
        Seq("embedding", "norm")), centFrame2(spark, l2, nL2))
      .select(col("cent_id").as("c2"), col("vec_id"),
        col("embedding"), col("norm"))
  }

  def ivf2TopK(embs: DataFrame, nQueries: Int = 50, k: Int = 3,
      nL1: Int = 4, nL2: Int = 4, nprobe1: Int = 2, nprobe2: Int = 4,
      iters: Int = 2): DataFrame = {
    val (l1, l2) = trainIvfTwoLevel(embs, nL1, nL2, iters)
    ivf2TopKFromIndex(ivf2Cells(embs, l1, l2, nL2), embs, l1, l2, nL2,
      nQueries, k, nprobe1, nprobe2)
  }

  /** Incremental index maintenance (upsert) — grow a two-level
    * inverted-list artifact by an arrival batch WITHOUT retraining:
    * the arrivals assign under the caller-held (typically
    * ModelStore-loaded) router via [[ivf2Cells]], and the union with
    * the stored lists is — by per-vector assignment independence —
    * EXACTLY the index a full rebuild over corpus ∪ arrivals would
    * produce under the same models (the SimilaritySpec law). Cost is
    * O(|batch|) assignment work per increment; the stored corpus is
    * never re-read. This closes the deployment loop the ModelStore
    * family ships: serve loaded ([[ivf2TopKFromIndex]]) → absorb
    * arrivals here per batch → detect router drift on schedule
    * ([[graft.sources.ModelStore.isStale]]) → retrain only then
    * ([[graft.sources.ModelStore.refreshIfStale]]). (A drifting
    * DISTRIBUTION degrades recall before it degrades correctness —
    * arrivals always land in their true nearest cells of the OLD
    * geometry; the recall gate `eval_ivf2_metrics` is the watchdog.)
    */
  def ivf2Upsert(index: DataFrame, arrivals: DataFrame,
      l1: Seq[Array[Long]], l2: Seq[Array[Long]], nL2: Int): DataFrame =
    index.unionByName(ivf2Cells(arrivals, l1, l2, nL2))

  /** [[ivf2TopK]] probing a PREBUILT two-level inverted-list frame
    * ([[ivf2Cells]], typically read back from storage) under
    * caller-held models — the [[ivfTopKFromIndex]] deployment shape
    * for the hierarchical router: per query batch neither level
    * retrains and the corpus-side fine assignment never re-runs.
    */
  def ivf2TopKFromIndex(index: DataFrame, queries: DataFrame,
      l1: Seq[Array[Long]], l2: Seq[Array[Long]], nL2: Int,
      nQueries: Int = 50, k: Int = 3, nprobe1: Int = 2,
      nprobe2: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val cf1 = centFrame(spark, l1)
    val cf2 = centFrame2(spark, l2, nL2)
    val corpus = index
      .select(col("c2"), col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"), col("norm").as("c_norm"))
    val qL1 = assignRanked(
        prepared(queries.filter(col("vec_id") < nQueries)), cf1)
      .filter(col("rk") <= nprobe1)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("cent_id").as("cell"))
    val qKeys = rankCentroids(qL1.join(broadcast(cf2), Seq("cell")),
        "query_id", "q_emb", "q_norm")
      .filter(col("rk") <= nprobe2)
      .select(col("query_id"), col("q_emb"), col("q_norm"),
        col("cent_id").as("c2"))
    exactTopK(broadcast(qKeys).join(corpus, Seq("c2"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        pairSim("q", "c").as("sim")), k)
  }

  /** Embedding near-dup pairs: candidates share a bucket or sit one
    * probe (Hamming-1) apart; cosine >= threshold verifies; a < b.
    * The probe explode stays an equi-join — per-pair match is unique
    * because the probe set's values are distinct. `bits = 0` auto-
    * sizes from the corpus ([[chooseBits]]); pass `corpusN` when the
    * caller already holds the count (see [[lshTopK]]).
    *
    * `probeHamming` widens the probe set: 1 (default) probes self +
    * single-bit flips ([[probeBuckets]]); 2 adds every two-bit flip
    * ([[probeBuckets2]]) — the recall arm (`eval_neardup_recall2`
    * grades the lift vs the ~8× candidate-growth cost at the bit
    * cap). Any other value rejects.
    */
  def nearDupPairs(embs: DataFrame, threshold: Double = 0.35,
      bits: Int = 0, corpusN: Long = -1L,
      probeHamming: Int = 1): DataFrame = {
    val probes = hammingProbes(probeHamming)
    val nb = if (bits > 0) bits
      else chooseBits(if (corpusN >= 0L) corpusN else embs.count())
    val bucketed = embs.withColumn("bucket", signBucket(col("embedding"), nb))
    val a = side(bucketed, "a", col("bucket"))
      .select(col("a_id"), col("a_emb"), col("a_norm"),
        explode(probes(col("bucket"), nb)).as("bucket"))
    val b = side(bucketed, "b", col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id").as("vec_a"), col("b_id").as("vec_b"),
        pairSim("a", "b").as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** The k-NN GRAPH: every vector's top-k bucket-mates by cosine —
    * the building block graph methods consume (SemDeDup-style
    * cluster-then-prune, NN-descent refinement, graph-based label
    * propagation), where [[lshTopK]] answers a bounded query set and
    * [[nearDupPairs]] answers a threshold. Geometry is nearDupPairs':
    * corpus-sized sign buckets ([[chooseBits]]), Hamming-1 multi-probe
    * on the query role, bucket equi-join, then a per-vector top-k
    * window instead of the threshold filter. Directed output
    * (vec_id, neighbor_id, sim, rank): a's list can contain b without
    * b's containing a, as in any kNN graph.
    *
    * Scale: per-vector candidates are bounded by occupancy×(bits+1)
    * (~17·target at the chooseBits sizing) and the ranking runs
    * through the bounded-heap [[graft.expressions.TopKAgg]] — NOT a
    * window. A window must SHUFFLE AND SORT the full candidate stream
    * (n·occupancy·(bits+1) rows ≈ 50 M at 64 k vectors — measured
    * round 17: the window shape's per-candidate cost rose 1.7× from
    * x16 to x32 as that shuffle grew, a tail the heap removes); the
    * heap reduces each map task's slice to k entries per vector
    * before the exchange, so the shuffle carries ≤ k rows per
    * (partition, vector) at any corpus size. Tie order is the
    * window's exactly: (sim DESC, neighbor_id ASC), the id
    * zero-padded to 20 digits inside the heap so its lexicographic
    * label order IS numeric order. Total work ~n·target, output
    * ≤ n·k rows.
    */
  def knnGraph(embs: DataFrame, k: Int = 5, bits: Int = 0,
      corpusN: Long = -1L, probeHamming: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // probeHamming = 2 is the mining-side recall knob ([[nearDupPairs]]'s
    // H2 arm): ~8× candidates at the bit cap buy back the neighbors
    // bucket boundaries hid WITHOUT any re-ranking round — graded
    // against the refinement ladder by eval_knngraph2_metrics
    val probes = hammingProbes(probeHamming)
    val nb = if (bits > 0) bits
      else chooseBits(if (corpusN >= 0L) corpusN else embs.count())
    val bucketed = embs.withColumn("bucket", signBucket(col("embedding"), nb))
    val q = side(bucketed, "q", col("bucket"))
      .select(col("q_id"), col("q_emb"), col("q_norm"),
        explode(probes(col("bucket"), nb)).as("bucket"))
    val c = side(bucketed, "c", col("bucket"))
    heapTopK(q.join(c, Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id").as("vec_id"), col("c_id").as("neighbor_id"),
        pairSim("q", "c").as("sim")), k)
  }

  /** Bounded-heap per-vector top-k over a (vec_id, neighbor_id, sim)
    * candidate stream → (vec_id, neighbor_id, sim, rank) — the shared
    * ranking tail of [[knnGraph]] and [[nnDescentRound]]. Map-side
    * partial aggregation: the exchange carries ≤ k heap entries per
    * (partition, vec_id), never the candidate stream. Tie order ==
    * the row_number window's (sim DESC, neighbor_id ASC): the id is
    * zero-padded to 20 digits inside the heap label, so TopKAgg's
    * lexicographic ascending tie-break IS numeric ascending for any
    * non-negative long — and ONLY for non-negative longs ("-3" sorts
    * before "-5" under lpad), so a negative neighbor_id raises
    * (round-18 ADVICE) instead of silently re-ordering ties against
    * the documented/oracle window order. One branch per candidate row;
    * vec_id is only a GROUP key (its sign never affects ordering), so
    * it needs no guard.
    */
  private def heapTopK(cands: DataFrame, k: Int,
      dedupe: Boolean = false): DataFrame =
    cands
      .groupBy("vec_id")
      .agg((if (dedupe) graft.expressions.TopKAgg.topKDistinct _
        else graft.expressions.TopKAgg.topK _)(col("sim"),
        lpad(when(col("neighbor_id") >= 0L, col("neighbor_id"))
          .otherwise(raise_error(concat(
            lit("heapTopK: negative neighbor_id breaks the zero-padded " +
              "tie order: "), col("neighbor_id").cast("string"))))
          .cast("string"), 20, "0"), k).as("m"))
      .select(col("vec_id"), posexplode(col("m")).as(Seq("pos", "e")))
      .select(col("vec_id"),
        col("e.label").cast("long").as("neighbor_id"),
        col("e.score").as("sim"),
        (col("pos") + 1).cast("long").as("rank"))

  /** ONE NN-DESCENT refinement round over a kNN graph (Dong et al.
    * 2011, www.cs.princeton.edu/cass/papers/www11.pdf): a vector's
    * improved neighbor candidates are its current neighbors, their
    * neighbors (2-hop), and its REVERSE neighbors (vectors that list
    * it) — "a neighbor of a neighbor is likely a neighbor" — exact-
    * cosine re-ranked to top-k. Recovers the recall the bucket-
    * limited [[knnGraph]] loses to LSH boundaries (two near vectors
    * bucketed apart are usually bridged by a shared third); iterating
    * converges, and each round is this same plan re-run.
    *
    * Scale shape: candidate generation is two id equi-joins on the
    * (n·k)-row edge list — per vector ≤ k² + 2k candidates, distinct-
    * deduped, so the exact re-rank joins ≤ k²+2k embedding pairs per
    * vector and the ranking runs through the bounded-heap
    * [[heapTopK]] (≤ k rows per vector cross the exchange) —
    * nothing corpus-quadratic at any n. The embeddings join back by
    * vec_id (hash equi-joins); at deployment the graph is the stored
    * artifact and this is one batch pass over it.
    */
  def nnDescentRound(embs: DataFrame, graph: DataFrame,
      k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // cached: the candidate rule reads the edge list FOUR times (fwd,
    // rev, and both sides of the 2-hop self-join) — with an in-plan
    // graph argument the whole mining subtree would re-execute per
    // reference (measured round 17: the standalone chained query ran
    // ~2× the mining cost at x32; the simhashPairs sigs.cache()
    // precedent). The frame is n·k ids — tiny at any corpus size.
    // The nnDescent loop feeds an already-materialized RDD, for which
    // this re-cache is a no-op-sized overlay, and releases it per round.
    val g = CacheScope.persist(graph.select(col("vec_id"), col("neighbor_id")))
    val fwd = g
    val rev = g.select(col("neighbor_id").as("vec_id"),
      col("vec_id").as("neighbor_id"))
    val hop2 = g.as("a").join(
        g.select(col("vec_id").as("_mid"), col("neighbor_id").as("_nn"))
          .as("b"),
        col("a.neighbor_id") === col("b._mid"))
      .select(col("a.vec_id"), col("b._nn").as("neighbor_id"))
    // NO pre-aggregation .distinct(): the candidate multiset dedupes
    // INSIDE the heap (round 19 — TopKAgg's distinct arm): duplicate
    // (vec, neighbor) rows carry the identical deterministic sim, so
    // the distinct-set top-k is recovered exactly while the full
    // (vec_id, neighbor_id) exchange the .distinct() cost per round
    // disappears; the price is re-scoring duplicates (≤ 3 narrow
    // joins' worth of 64-dim dots — map-side, no shuffle).
    val cands = fwd.unionByName(rev).unionByName(hop2)
      .filter(col("vec_id") =!= col("neighbor_id"))
    val q = side(embs, "q")
      .withColumnRenamed("q_id", "vec_id")
    val c = side(embs, "c")
      .withColumnRenamed("c_id", "neighbor_id")
    heapTopK(
      cands.join(q, Seq("vec_id")).join(c, Seq("neighbor_id"))
        .select(col("vec_id"), col("neighbor_id"),
          pairSim("q", "c").as("sim")), k, dedupe = true)
  }

  /** [[nnDescent]]'s result: the refined graph and the number of
    * refinement rounds actually run (≤ maxRounds — a fixpoint stops
    * early).
    *
    * CACHE LIFETIME (round-18 ADVICE): the loop releases every
    * superseded round's block cache AND each round's internal
    * edge-list persist before returning, so the only live cache is
    * the final graph's — which [[graph]] READS FROM, so it belongs to
    * the enclosing [[graft.sources.CacheScope]] and is released with
    * the query. Live cache stays bounded to one n·k edge list.
    */
  final case class NnDescentResult(graph: DataFrame, rounds: Int)

  /** NN-descent TO CONVERGENCE — the operator a pipeline actually
    * runs (the single-round form is the building block; Dong et al.'s
    * algorithm iterates until the graph stops improving): build the
    * bucketed kNN graph, then apply [[nnDescentRound]] until either
    * `maxRounds` is hit or the round's improved-edge count drops to
    * ≤ `minImprovedPm` per-myriad of the edge list (0 = run to the
    * exact fixpoint). "Improved" is edge-set change: new (vec_id,
    * neighbor_id) edges this round — an exact integer both engines
    * and reruns agree on.
    *
    * Scale shape per round: [[nnDescentRound]]'s two edge-list
    * equi-joins (≤ k²+2k candidates per vector) plus one anti-join of
    * two n·k edge lists for the stop count — nothing corpus-
    * quadratic. Each round materializes into the block cache and the
    * next round re-roots on the cached RDD (the [[Dedup.clusters]]
    * lineage-barrier discipline): nnDescentRound references its input
    * THREE times (fwd, rev, 2-hop), so carrying the logical plan
    * forward would TRIPLE it per round — Catalyst analysis cost goes
    * exponential in the round count even though each round's data is
    * cached.
    */
  def nnDescent(embs: DataFrame, k: Int = 5, maxRounds: Int = 5,
      minImprovedPm: Long = 0L, bits: Int = 0,
      corpusN: Long = -1L): NnDescentResult = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    require(minImprovedPm >= 0L && minImprovedPm <= 10000L,
      s"minImprovedPm must be in [0,10000], got $minImprovedPm")
    val spark = embs.sparkSession
    def materialize(df: DataFrame): DataFrame = {
      val pruned = CacheScope.persist(
        df.select("vec_id", "neighbor_id", "sim", "rank"))
      pruned.count() // land the blocks so the re-root reads the cache
      pruned
    }
    def reroot(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    var cur = materialize(knnGraph(embs, k, bits, corpusN))
    var rounds = 0
    var stop = false
    val stale = scala.collection.mutable.ArrayBuffer[DataFrame]()
    while (!stop && rounds < maxRounds) {
      // The round's internal edge-list persist is redundant here (its
      // input is the previous round's cached RDD), so the round is
      // built in its own scope, which drops that persist before
      // anything plans against it; `next` is persisted in the
      // caller's scope. ONE action then lands `next`'s blocks AND
      // counts the improved edges (round-18 optimization: the previous
      // materialize-then-anti-join shape ran the stop rule as a
      // separate job per round). `total` then reads the landed cache.
      val next = CacheScope.persist(
        CacheScope.run(nnDescentRound(embs, reroot(cur), k))
          .select("vec_id", "neighbor_id", "sim", "rank"))
      val improved =
        next.join(cur, Seq("vec_id", "neighbor_id"), "left_anti").count()
      rounds += 1
      val total = math.max(next.count(), 1L)
      stale += cur
      cur = next
      stop = improved * 10000L <= total * minImprovedPm
    }
    // release superseded rounds only AFTER the loop: the final graph's
    // RDD root reads its own cache, not its predecessors'
    stale.foreach(_.unpersist(false))
    NnDescentResult(reroot(cur), rounds)
  }

  /** kNN-graph label propagation (one round): every vector's label is
    * predicted by its graph neighbors' vote — the semi-supervised
    * labeling step a pipeline runs to transfer a seed's labels
    * (quality tiers, domains, topics) onto an unlabeled corpus.
    * Vote key: (votes DESC, summed micro-cosine support DESC, label
    * ASC) — integer-exact, so both engines agree on every tie.
    *
    * Scale shape: one hash equi-join of the n·k edge list against the
    * label projection, one (vec_id, label) aggregate, one bounded
    * argmax aggregate — nothing beyond the kNN graph's own envelope.
    * Output: (vec_id, pred_label, votes, support_micro).
    */
  def labelPropagate(embs: DataFrame, k: Int = 5, bits: Int = 0,
      corpusN: Long = -1L): DataFrame =
    labelPropagateFromGraph(
      knnGraph(embs, k, bits, corpusN), embs)

  /** [[labelPropagate]] served from a PREBUILT graph — the deployment
    * form: the kNN edge list is the stored artifact
    * (ModelStore.ensureFrame), built once per corpus snapshot, and a
    * vote round is one pass over it — no bucket mining, no rank
    * window, just the label join and two bounded aggregates.
    */
  def labelPropagateFromGraph(graph: DataFrame,
      embs: DataFrame): DataFrame = {
    val g = graph.select("vec_id", "neighbor_id", "sim")
    val labels = embs.select(col("vec_id").as("neighbor_id"),
      col("label").cast("long").as("nb_label"))
    g.join(labels, Seq("neighbor_id"))
      .groupBy(col("vec_id"), col("nb_label"))
      .agg(count(lit(1)).as("votes"),
        sum(round(col("sim") * 1e6).cast("long")).as("support"))
      .groupBy("vec_id")
      .agg(max(struct(col("votes"), col("support"),
        (-col("nb_label")).as("neg_label"))).as("m"))
      .select(col("vec_id"), (-col("m.neg_label")).as("pred_label"),
        col("m.votes").as("votes"), col("m.support").as("support_micro"))
      .orderBy("vec_id")
  }

  /** SemDeDup-style GRAPH pruning — the cluster-then-prune consumer
    * of [[knnGraph]] (with NN-descent, propagation and the outlier
    * screen, the last of the graph's named consumers): edges are the
    * graph's pairs at cosine ≥ `tau`, components come from
    * [[Dedup.clusters]]' min-label machinery (driver union-find fast
    * path, distributed loop past the threshold), and the MIN-ID
    * member of each component survives. Where [[nearDupSurvivors]]
    * drops the larger id of every mined PAIR independently, this
    * completion is transitively consistent: a near-dup chain
    * a ~ b ~ c (a–c themselves distant) keeps exactly `a` — one
    * canonical representative per semantic cluster, the SemDeDup
    * keep rule.
    *
    * Scale shape: the edge list is ≤ n·k rows BEFORE the τ filter
    * (the graph bound, not a pair-mining bound), the component loop
    * touches only edge-adjacent vectors, and the survivor join is one
    * hash equi-join of the label frame against the corpus.
    * Output: (vec_id, label) — the [[nearDupSurvivors]] shape.
    *
    * PERCOLATION CAVEAT (measured, SCALING.md round 17): at a FIXED τ
    * whose pair density has a constant floor (τ=0.3 on random d=64
    * cosines clears ~0.75 % of all pairs), the component graph
    * percolates as the corpus grows — survivors collapsed 55 → 43 →
    * 20 → 1 from 500 to 16 k vectors. Transitive CC pruning is the
    * right rule only when τ sits above the corpus' noise floor; a
    * deployment either derives τ from that floor
    * ([[graphDedupSurvivorsCalibrated]] — the round-18 fix, τ from the
    * [[embHealth]] histogram's first quiet bucket above the noise
    * mode) or prunes WITHIN bounded cells instead ([[semanticDedup]] —
    * also shipped), exactly why SemDeDup clusters before pruning.
    * This fixed-τ form remains for callers who KNOW their τ clears
    * the floor (e.g. a τ chosen on a validation slice).
    */
  def graphDedupSurvivors(embs: DataFrame, tau: Double, k: Int = 5,
      bits: Int = 0, corpusN: Long = -1L, maxIters: Int = 20,
      localThreshold: Int = 100000): DataFrame = {
    val pairs = knnGraph(embs, k, bits, corpusN)
      .filter(col("sim") >= tau)
      .select(least(col("vec_id"), col("neighbor_id")).as("doc_a"),
        greatest(col("vec_id"), col("neighbor_id")).as("doc_b"))
      .distinct()
    val labels = Dedup.clusters(embs.select(col("vec_id").as("doc_id")),
      pairs, maxIters, localThreshold)
    embs
      .join(labels.filter(col("doc_id") === col("cluster_id"))
        .select(col("doc_id").as("vec_id")), Seq("vec_id"))
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .orderBy("vec_id")
  }

  /** PERCOLATION-SAFE τ for [[graphDedupSurvivorsCalibrated]], derived
    * from the corpus's OWN random-pair cosine distribution (the
    * [[embHealth]] histogram — the measured noise floor a fixed τ
    * ignores): find the MODE bucket of the 10-bucket random-pair
    * histogram (ties to the lower bucket), then scan upward to the
    * first bucket whose share is ≤ `epsPm` per-myriad of all sampled
    * pairs; τ is that bucket's LOWER EDGE in micro-cosine units
    * (τ_micro = 200000·b − 10⁶). The share test is the exact integer
    * inequality n_pairs·10⁴ ≤ epsPm·n_total (no division, so both
    * engines agree on every boundary).
    *
    * The DEFAULT epsPm = 0 is the strictest reading — "the first
    * bucket above the mode containing NO sampled random pair" — and
    * is deliberately self-tightening: the partner sample has ~n
    * pairs, so a bucket with true pair density p escapes detection
    * with probability e^(−np) — as the corpus grows, ever-thinner
    * noise tails get detected and push τ up EXACTLY when the
    * multiprobe candidate factor (occupancy·(bits+1), growing with
    * log n via chooseBits) raises the percolation risk they carry.
    * Measured on the x-protocol corpora: random geometry calibrates
    * to τ=0.6 (no noise edges → survivors ∝ n), the clustered
    * fixture to τ=0.4 (between its noise and duplicate modes → one
    * survivor per cluster at every scale), an all-duplicates corpus
    * to τ=1.0. A positive epsPm tolerates that share of random pairs
    * above τ — the knob for corpora whose true duplicates overlap
    * the noise tail (at the cost of re-admitting percolation risk in
    * proportion).
    *
    * Why mode-then-gap instead of a global tail test: a clustered
    * corpus's random-pair distribution is BIMODAL — the cross-cluster
    * noise mass near cos 0 plus a same-cluster mass near cos 1. A
    * tail test scanning from the top would step over the duplicate
    * mass and push τ to 1 (no dedup at all); the gap rule places τ at
    * the first quiet bucket ABOVE the noise mode, below the duplicate
    * mode — edges then connect semantic twins, not noise neighbors.
    * On unimodal random geometry the two rules agree.
    *
    * The fallback bucket 10 (τ_micro = 10⁶, i.e. only exact-duplicate
    * cosines edge) always qualifies, so τ is total; a degenerate
    * corpus (< 2 vectors → empty partner sample) yields τ_micro =
    * 1000001 — no edge can qualify and every vector survives.
    *
    * Scale shape: the partner sample is one n-row equi-join
    * ([[embHealth]]'s), the calibration itself is arithmetic over the
    * ≤ 10-row histogram. Output: one row (tau_micro, mode_bucket).
    */
  def calibratedTauMicro(embs: DataFrame, epsPm: Long = 0L): DataFrame = {
    require(epsPm >= 0L && epsPm <= 10000L,
      s"epsPm must be in [0,10000], got $epsPm")
    // persisted (the sibling calibrations' discipline, applied here per
    // round-18 review): the ≤ 10-row histogram is consumed by THREE
    // aggregates (total, mode, gap scan) — and twice more when
    // graphDedupSurvivorsCalibrated broadcasts the τ frame into its
    // edge filter and output — each of which would otherwise re-run
    // the n-row partner join
    val hist = CacheScope.persist(
      randomPairBuckets(embs).select("bucket", "n_pairs"))
    val tot = hist.agg(coalesce(sum("n_pairs"), lit(0L)).as("n_total"))
    val mode = hist
      .agg(max(struct(col("n_pairs"), (-col("bucket")).as("nb"))).as("m"))
      .select((-col("m.nb")).as("mode_bucket"))
    val grid = embs.sparkSession.range(0, 11).select(col("id").as("cand"))
    val shares = grid.join(hist, col("cand") === col("bucket"), "left")
      .select(col("cand"), coalesce(col("n_pairs"), lit(0L)).as("np"))
    shares.crossJoin(broadcast(tot)).crossJoin(broadcast(mode))
      .filter(col("cand") > col("mode_bucket") &&
        col("np") * lit(10000L) <= lit(epsPm) * col("n_total"))
      .agg(min(col("cand")).as("tb"),
        max(col("mode_bucket")).as("mb"))
      .select(
        coalesce(col("tb") * lit(200000L) - lit(1000000L), lit(1000001L))
          .as("tau_micro"),
        coalesce(col("mb"), lit(-1L)).as("mode_bucket"))
  }

  /** [[graphDedupSurvivors]] at the CALIBRATED τ — the percolation-
    * safe arm (round-18 fix for the measured collapse): the fixed-τ
    * form at τ below the corpus's random-pair floor percolates as the
    * corpus grows (survivors 20→9→3→1 across x1→x8 at τ=0.3 on random
    * d=64 cosines — SCALING.md "Percolation, measured"), because a
    * CONSTANT per-pair noise density times bounded-occupancy candidate
    * counts yields a constant expected noise DEGREE, and transitive
    * min-id pruning then glues the corpus into one giant component.
    * Here τ comes from [[calibratedTauMicro]] — the first histogram
    * bucket above the noise mode whose random-pair share drops under
    * `epsPm` per-myriad — so the expected noise degree is bounded by
    * epsPm·occupancy·(bits+1)/10⁴ at ANY corpus size and survivor
    * counts track corpus structure (proportional on random geometry,
    * cluster-count-shaped on clustered geometry) instead of
    * collapsing. The edge test is integer-exact:
    * round(sim·10⁶) ≥ τ_micro.
    *
    * Output: (vec_id, label, tau_micro) — the survivor set with the
    * chosen τ riding along, so the gate verifies the calibration
    * itself, not just the pruning.
    */
  def graphDedupSurvivorsCalibrated(embs: DataFrame, epsPm: Long = 0L,
      k: Int = 5, bits: Int = 0, corpusN: Long = -1L, maxIters: Int = 20,
      localThreshold: Int = 100000): DataFrame = {
    val tauF = calibratedTauMicro(embs, epsPm).select("tau_micro")
    val pairs = knnGraph(embs, k, bits, corpusN)
      .crossJoin(broadcast(tauF))
      .filter(round(col("sim") * lit(1e6)).cast("long") >= col("tau_micro"))
      .select(least(col("vec_id"), col("neighbor_id")).as("doc_a"),
        greatest(col("vec_id"), col("neighbor_id")).as("doc_b"))
      .distinct()
    val labels = Dedup.clusters(embs.select(col("vec_id").as("doc_id")),
      pairs, maxIters, localThreshold)
    embs
      .join(labels.filter(col("doc_id") === col("cluster_id"))
        .select(col("doc_id").as("vec_id")), Seq("vec_id"))
      .crossJoin(broadcast(tauF))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("tau_micro"))
      .orderBy("vec_id")
  }

  /** Embedding-space OUTLIER screen via k-NN density: a vector's
    * score is the summed micro-cosine of its top-k graph neighbors
    * (missing neighbors count 0, so the score is a pure integer SUM —
    * no division to drift between engines); vectors in the lowest
    * `pm` permyriad of the score distribution are flagged — the
    * standard "far from everything" sample-quality screen (noisy
    * captions, corrupt decodes, wrong-modality rows land here).
    *
    * The cut is computed from a FIXED-GRID integer histogram of the
    * scores (bin width 10⁴ micro over [−k, k] cosine-sum range), the
    * [[graft.operators.Profile.histQuantiles]] discipline: the
    * threshold aggregate is ≤ 200·k cells at any corpus size, never a
    * corpus-wide rank window. Conservative by construction: the cut
    * is the (pm/10⁴)-quantile BIN's upper edge, so the flagged set
    * can slightly exceed pm/10⁴ of the corpus (bin granularity), and
    * every vector strictly below the cut flags.
    *
    * Output: (vec_id, score_micro, cut_micro, is_outlier).
    */
  def knnOutliers(embs: DataFrame, k: Int = 5, pm: Int = 500,
      bits: Int = 0, corpusN: Long = -1L): DataFrame =
    knnOutliersFromGraph(
      knnGraph(embs, k, bits, corpusN), embs, k, pm)

  /** [[knnOutliers]] served from a PREBUILT graph — the deployment
    * form (the [[labelPropagateFromGraph]] precedent): the kNN edge
    * list is the stored artifact, built once per corpus snapshot, and
    * the density screen is one integer aggregate over it plus the
    * fixed-grid histogram cut — no bucket mining and no rank window
    * anywhere in the serving plan. `k` must be the k the graph was
    * built with: it pins the score scale's lower bound (an isolated
    * vector scores −k·10⁶), so a mismatched k would shift the
    * histogram grid, not just the flagged set.
    */
  def knnOutliersFromGraph(graph: DataFrame, embs: DataFrame,
      k: Int = 5, pm: Int = 500): DataFrame = {
    require(pm >= 1 && pm <= 10000, s"pm must be in [1,10000], got $pm")
    val lo = -k.toLong * 1000000L
    val step = 10000L
    val scores = graph
      .groupBy("vec_id")
      .agg(sum(round(col("sim") * 1e6).cast("long")).as("score_micro"))
    // isolated vectors (empty candidate set) never reach the graph —
    // re-attach them at score 0? No: a vector with NO bucket-mates has
    // no neighbors and belongs at the BOTTOM of the density scale;
    // left-join the corpus and default the score to `lo` (the minimum
    // representable sum), which flags it deterministically.
    val all = embs.select(col("vec_id"))
      .join(scores, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("score_micro"), lit(lo)).as("score_micro"))
    val hist = all
      .groupBy(call_function("div", col("score_micro") - lit(lo),
        lit(step)).as("bin"))
      .agg(count(lit(1)).as("c"))
    val n = hist.agg(sum("c").as("n"))
    val cut = hist.crossJoin(broadcast(n))
      .withColumn("cum", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.orderBy("bin")))
      .agg((min(when(col("cum") >=
          call_function("div", lit(pm.toLong) * col("n") + lit(9999L),
            lit(10000L)), col("bin"))) * lit(step) + lit(lo) + lit(step))
        .as("cut_micro"))
    all.crossJoin(broadcast(cut))
      .select(col("vec_id"), col("score_micro"), col("cut_micro"),
        (col("score_micro") < col("cut_micro")).cast("long")
          .as("is_outlier"))
      .orderBy("vec_id")
  }

  /** Symmetric int8 quantization — the storage/serving prep step of an
    * embedding pipeline (4× smaller than float32, SIMD-friendly
    * dot products downstream): per vector, scale = max |component| and
    * q_i = round(x_i/scale · 127) ∈ [-127, 127].
    *
    * Engine-portability is the design constraint, so the whole
    * computation is INTEGER arithmetic on the [[scaledInts]] image
    * (the k-means trick): with v = round(x·10⁶) and s = max|v|,
    * round-half-away(v·127/s) = sign(v) · ⌊(|v|·254 + s) / (2s)⌋ —
    * exact in 64-bit (|v|·254 ≲ 2.6·10⁸ for unit-norm-ish inputs), no
    * FP division to drift between engines. The floor division runs as
    * `floor(p/q)` in double, exact here because p < 2⁵³ and a
    * non-integer true quotient sits ≥ 1/(2s) ≈ 5·10⁻⁷ from any
    * integer — far beyond double's 2⁻⁵³ relative error.
    *
    * Output (vec_id, scale, q, max_err127): `scale` in 10⁻⁶ units, `q`
    * space-joined (export convention — the driver compare wants
    * scalars), and `max_err127` = max_i |127·v_i − q_i·s|, the
    * integer-exact reconstruction-error certificate (≤ s by the
    * rounding bound). Pure per-row scalar work — the only shuffle is
    * the export sort.
    */
  def quantize(embs: DataFrame): DataFrame =
    withSqCols(embs
      .select(col("vec_id"), col("embedding"))
      .orderBy("vec_id"), // sort-first: range-sample the cheap scan
      keepImage = true)
      .select(col("vec_id"), col("sq_sc").as("scale"),
        array_join(transform(col("sq_qv"), _.cast("string")), " ").as("q"),
        coalesce(array_max(zip_with(col("sq_vi"), col("sq_qv"),
          (v, q) => abs(v * 127L - q * col("sq_sc")))), lit(0L))
          .as("max_err127"))

  // ---- Scalar-quantized (SQ8) serving ------------------------------------

  /** Adds [[quantize]]'s integer image as columns (`sq_sc`, `sq_qv`)
    * WITHOUT dropping the caller's other columns — the one definition
    * of the int8 code a row carries, shared by the batch codes frame
    * ([[sqCodes]]), the bucketed index ([[sqIndex]]) and the streaming
    * screen (graft.streaming.VecStreams.sqScreen), so the serving
    * paths cannot drift from the stored codes. Pure per-row scalar
    * work: no shuffle, no state. `keepImage = true` retains the
    * scaled-int image `sq_vi` (for [[quantize]]'s reconstruction-error
    * certificate); serving callers drop it.
    */
  private[graft] def withSqCols(df: DataFrame,
      keepImage: Boolean = false): DataFrame = {
    val sc = col("sq_sc")
    val mag = (e: Column) =>
      floor((abs(e) * 254L + sc).cast("double") / (sc * 2L).cast("double"))
        .cast("long")
    val out = df.withColumn("sq_vi", scaledInts(col("embedding")))
      .withColumn("sq_sc",
        coalesce(array_max(transform(col("sq_vi"), abs(_))), lit(0L)))
      .withColumn("sq_qv", transform(col("sq_vi"), x =>
        when(sc === 0L, lit(0L))
          .otherwise(when(x < 0L, -mag(x)).otherwise(mag(x)))))
    if (keepImage) out else out.drop("sq_vi")
  }

  /** Per-vector int8 code frame (vec_id, scale, qv) — what an SQ8
    * deployment stores instead of floats (4× smaller, and the scoring
    * side never widens past 64-bit integers). Unlike IVF/PQ there is
    * NO training step: the code is a per-row function of the vector,
    * so re-encoding is embarrassingly parallel and an incremental
    * corpus needs no ModelStore artifact — the stateless end of the
    * compression spectrum (scale ↔ recall: SQ8 keeps per-dim
    * resolution that PQ's 12-bit codes trade away).
    */
  def sqCodes(embs: DataFrame): DataFrame =
    withSqCols(embs.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("sq_sc").as("scale"), col("sq_qv").as("qv"))

  /** Bucketed SQ8 index: (vec_id, scale, qv, bucket) — the static side
    * a streaming screen joins. The float embedding is DROPPED: the
    * 100 TB static side is int8 codes plus a sign-sketch bucket key,
    * nothing else crosses into the stream-static join.
    */
  def sqIndex(embs: DataFrame, bits: Int = 4): DataFrame =
    withSqCols(embs.select(col("vec_id"), col("embedding")))
      .withColumn("bucket", signBucket(col("embedding"), bits))
      .select(col("vec_id"), col("sq_sc").as("scale"),
        col("sq_qv").as("qv"), col("bucket"))

  /** Integer SQ8 score: ⟨q̂,ĉ⟩ · s_c — the candidate-side dequantized
    * dot product, exact in 64-bit (|⟨q̂,ĉ⟩| ≤ 64·127² ≈ 1.03·10⁶ and
    * s_c ≤ 10⁶ ⇒ |score| ≲ 10¹², also exact as a double for the heap).
    * The query's own factor s_q/127²/10¹² is a positive per-query
    * constant, so ranking by this integer equals ranking by the full
    * dequantized dot — and for the unit-norm-ish corpora SQ8 serves,
    * dot order ≈ cosine order (the gap is what [[sqTopK]]'s recall
    * gate measures).
    */
  private[graft] def sqScore(qqv: Column, cqv: Column, cscale: Column): Column =
    graft.expressions.VectorExpressions.vecDotLong(qqv, cqv) * cscale

  /** Compressed-domain exact-scan top-k over int8 codes — the SQ8
    * serving path: quantize once per side, broadcast the bounded query
    * codes, stream the corpus CODES (never the floats) through one
    * integer dot per pair, bounded-heap top-k. At 100 TB the scan
    * reads a 4×-smaller column and the hot loop is 8-bit multiplies
    * summed in a long — no FP, no shuffle beyond the ≤k-per-partition
    * partial heaps. Output (query_id, neighbor_id, qscore, rank) with
    * qscore = [[sqScore]]'s integer, ties to the lower neighbor_id.
    */
  def sqTopK(embs: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame =
    sqTopKFromCodes(sqCodes(embs), embs, nQueries, k)

  /** [[sqTopK]] probing a PREBUILT code table ([[sqCodes]], typically
    * read back from storage — encode once, serve many: SQ8 has no
    * trained model, but the ENCODE pass over a 100 TB corpus is still
    * one full scan a deployment pays once, not per query batch). Per
    * batch only the query slice quantizes; the corpus is neither
    * re-encoded nor touched in float domain. Long codes round-trip
    * parquet exactly, so a stored table scores identically to a fresh
    * encode (spec-pinned).
    */
  def sqTopKFromCodes(codeTable: DataFrame, queries: DataFrame,
      nQueries: Int = 5, k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = sqCodes(queries.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"))
    val c = codeTable.select(col("vec_id").as("c_id"),
      col("scale").as("c_scale"), col("qv").as("c_qv"))
    heapRanked(broadcast(q).join(c, col("q_id") =!= col("c_id"))
      .select(col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        sqScore(col("q_qv"), col("c_qv"), col("c_scale")).as("qscore")),
      col("qscore").cast("double"), k)(_.cast("long").as("qscore"))
  }

  // ---- Attribute-filtered search -----------------------------------------

  /** Metadata-constrained exact top-k: neighbors must share the
    * query's `label` (the filtered-retrieval primitive — in-language /
    * in-source / in-tenant search). The predicate lives IN the join
    * condition, not as a post-filter over a ranked list: with
    * broadcast queries the hash probe rejects non-matching labels on
    * the cheap key compare before any 64-wide dot product runs, and at
    * fleet scale the corpus index is partitioned by the filter
    * attribute so the same plan prunes whole partitions. Post-filtering
    * an unfiltered top-k instead UNDER-FILLS k (the classic filtered-
    * ANN failure this operator exists to avoid).
    */
  def labelFilteredTopK(embs: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = side(embs.filter(col("vec_id") < nQueries), "q",
      col("label").as("q_label"))
    val c = side(embs, "c", col("label").as("c_label"))
    exactTopK(broadcast(q)
      .join(c, col("q_id") =!= col("c_id") &&
        col("q_label") === col("c_label"))
      .select(col("q_id").as("query_id"),
        col("q_label").cast("long").as("label"),
        col("c_id").as("neighbor_id"), pairSim("q", "c").as("sim")), k)
  }

  // ---- Product quantization (PQ) ----------------------------------------

  /** PQ geometry: [[MaxDim]] = PqSub × PqSubDim; PqK sub-centroids per
    * subspace. 4×3 bits = 12 bits/vector vs 64×32 float bits — the
    * 170× compression that makes a 100 TB embedding store scannable in
    * compressed domain (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011).
    */
  val PqSub = 4
  val PqSubDim = MaxDim / PqSub
  val PqK = 8

  /** Round-half-away-from-zero integer division — the engine-portable
    * centroid mean (numerator/denominator stay exact longs; both
    * engines evaluate `(|s|·2 + n) / (2n)` in integer floor division).
    */
  private[operators] def rndDiv(s: Long, n: Long): Long = {
    val q = (math.abs(s) * 2 + n) / (2 * n)
    if (s < 0) -q else q
  }

  /** Broadcast-able (sub, cent_id, cv) frame of a PQ codebook. */
  private def pqCentFrame(spark: org.apache.spark.sql.SparkSession,
      model: Seq[Seq[Array[Long]]]): DataFrame = {
    import spark.implicits._
    (for ((subs, s) <- model.zipWithIndex; (cv, c) <- subs.zipWithIndex)
      yield (s, c, cv.toSeq)).toDF("sub", "cent_id", "cv")
  }

  /** Train a PQ codebook: per subspace, Lloyd k-means under exact
    * integer squared-L2 on the [[scaledInts]] image. Seeds are the
    * ksub md5-ranked vectors ([[seedOrdered]] — the order-free draw),
    * sliced per subspace; each round assigns distributed (argmin ties
    * to the lower cent_id) and recomputes centroids as the
    * [[rndDiv]]-rounded per-dim integer mean (L2 needs a true mean —
    * unlike the cosine IVF trainer, where the scale-invariant sum
    * suffices). Every quantity is exact 64-bit integer arithmetic
    * (|v|≲10⁶ ⇒ per-dim diff² ≲ 4·10¹², ×16 dims ≲ 7·10¹³), so the
    * DuckDB oracle replays training term-for-term.
    *
    * Scale shape: each round is one corpus-slice scan — slices ⋈
    * broadcast(m·ksub centroid rows) → per-(vec,sub) argmin window →
    * per-(sub,cell,dim) integer sums — collecting exactly
    * m·ksub·subDim model longs to the driver. Model-sized driver
    * state, corpus never collected.
    */
  def pqTrain(embs: DataFrame, m: Int = PqSub, ksub: Int = PqK,
      iters: Int = 2): Seq[Seq[Array[Long]]] = CacheScope.run {
    // eager like trainIvfCentroids: its scope releases the caches it
    // made before returning, and leaves a scaled projection an outer
    // scope caches ([[scaledFrame]]) to that scope
    require(MaxDim % m == 0, s"MaxDim=$MaxDim not divisible by m=$m")
    val subDim = MaxDim / m
    val spark = embs.sparkSession
    val scaled = CacheScope.persist(scaledFrame(embs))
    val slices = CacheScope.persist(scaled.select(col("vec_id"),
      posexplode(array((0 until m).map(s0 =>
        slice(col("vi"), s0 * subDim + 1, subDim)): _*)).as(Seq("sub", "vs"))))
    var cents: Seq[Seq[Array[Long]]] = {
      val seeds = seedOrdered(scaled).limit(ksub).collect()
        .map(_.getSeq[Long](1).toArray).toSeq
      (0 until m).map(s0 =>
        seeds.map(v => v.slice(s0 * subDim, (s0 + 1) * subDim)))
    }
    for (_ <- 0 until iters) {
      // rk=1 window, NOT a min(struct(dist, cent_id, vs)) aggregate:
      // the rank filter compiles to WindowGroupLimit (map-side
      // per-group top-1 before the exchange), while a struct-typed
      // aggregation buffer falls back to SortAggregateExec — see the
      // assignRanked scaladoc for the measured A/B
      val w = Window.partitionBy("vec_id", "sub")
        .orderBy(col("dist"), col("cent_id"))
      val asg = slices
        .join(broadcast(pqCentFrame(spark, cents)), Seq("sub"))
        .withColumn("dist", aggregate(
          zip_with(col("vs"), col("cv"), (x, c) => (x - c) * (x - c)),
          lit(0L), (acc, x) => acc + x))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
      val sums = asg
        .select(col("sub"), col("cent_id"), posexplode(col("vs")).as(Seq("dim", "x")))
        .groupBy("sub", "cent_id", "dim")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
      cents = (0 until m).map { s0 =>
        (0 until ksub).map { c0 =>
          sums.get((s0, c0)) match {
            case Some(rows) =>
              val arr = new Array[Long](subDim)
              rows.foreach(r =>
                arr(r.getInt(2)) = rndDiv(r.getLong(3), r.getLong(4)))
              arr
            case None => cents(s0)(c0)
          }
        }
      }
    }
    cents
  }

  /** Exact integer squared-L2 between the s0-th subspace slice of the
    * double-image scaled vector `vd` and a codebook centroid, via the
    * expansion ‖x‖² − 2·x·c + ‖c‖² — three codegen'd [[dot]] folds over
    * values that are all exact in double (≲ 7·10¹³ ≪ 2⁵³), cast back
    * to long losslessly.
    */
  private def pqSubDist(vd: Column, s0: Int, cv: Array[Long],
      subDim: Int): Column = {
    val vs = slice(vd, s0 * subDim + 1, subDim)
    val cd = cv.map(_.toDouble)
    val cc = cd.map(x => x * x).sum
    (dot(vs, vs) - lit(2.0) * dot(vs, array(cd.map(lit): _*)) + lit(cc))
      .cast("long")
  }

  /** Internal: (vec_id, codes array<int>, recon long) under a trained
    * codebook — per-row codegen arithmetic only (the codebook is plan
    * literals, m·ksub [[dot]] folds per row), argmin per subspace via
    * `least` over (dist, cent_id) structs (ties to the lower cent_id —
    * struct ordering is lexicographic).
    */
  private def pqEncodedArr(embs: DataFrame,
      model: Seq[Seq[Array[Long]]]): DataFrame =
    // ONE compiled call per row (graft.expressions.PqEncode) instead of
    // the m·ksub literal-array `least(struct(dist, c)…)` tree it is
    // value-identical to — the round-18 measured fix for the fused
    // encode⋈join stage re-evaluating that tree per broadcast row (see
    // the PqEncode scaladoc for the mechanism and numbers). The
    // two-step select keeps the struct evaluated once per row.
    embs.select(col("vec_id"),
        graft.expressions.VectorExpressions.pqEncode(
          transform(scaledInts(col("embedding")), _.cast("double")),
          model).as("pq"))
      .select(col("vec_id"),
        col("pq").getField("codes").as("codes"),
        col("pq").getField("recon").as("recon"))

  /** The scaled-integer image of an embedding as doubles — the ADC
    * working domain (exact: values ≲ 10⁶ ≪ 2⁵³). One builder shared
    * by the batch rankers and the streaming screen so query-side
    * scaling cannot drift.
    */
  private[graft] def pqVd(emb: Column): Column =
    transform(scaledInts(emb), _.cast("double"))

  /** A query's m×ksub ADC lookup table over a codebook: exact integer
    * subspace distances to every sub-centroid, flattened
    * subspace-major (entry s·ksub + c). Shared by [[pqTopK]],
    * [[ivfPqTopKWith]] and the streaming
    * [[graft.streaming.VecStreams.pqScreen]].
    */
  private[graft] def pqLut(vd: Column,
      model: Seq[Seq[Array[Long]]]): Column =
    // one compiled call (graft.expressions.PqLut) — value-identical to
    // the m·ksub literal-array [[pqSubDist]] expansion it replaces;
    // see the PqEncode scaladoc for the round-18 mechanism/measurement
    graft.expressions.VectorExpressions.pqLut(vd, model)

  /** Compressed-domain ADC distance: m table lookups + adds over the
    * m-byte code column — the float corpus is never touched.
    */
  private[graft] def pqAdc(lut: Column, codes: Column,
      m: Int, ksub: Int): Column =
    (0 until m).map(s0 =>
      element_at(lut,
        lit(s0 * ksub) + element_at(codes, s0 + 1) + 1)).reduce(_ + _)

  /** The IVF-PQ inverted lists — (cell, vec_id, codes): each corpus
    * vector lives in its router cell carrying only its m-byte PQ
    * code. The static artifact both the batch [[ivfPqTopKWith]] and
    * the streaming [[graft.streaming.VecStreams.pqScreen]] probe —
    * one builder, so batch and stream candidate sets cannot drift.
    */
  def ivfPqLists(embs: DataFrame, model: Seq[Seq[Array[Long]]],
      cents: Seq[Array[Long]]): DataFrame =
    assignMax(prepared(embs), centFrame(embs.sparkSession, cents))
      .join(pqEncodedArr(embs, model), Seq("vec_id"))
      .select(col("cell"), col("vec_id"), col("codes"))

  /** PQ corpus encoding under a caller-held codebook ([[pqTrain]]):
    * (vec_id, codes space-joined — the export convention, recon =
    * exact integer squared-L2 to the reconstruction, the per-vector
    * quantization-error certificate). Pure per-row scalar work; only
    * the export sort shuffles.
    */
  def pqEncode(embs: DataFrame, model: Seq[Seq[Array[Long]]]): DataFrame =
    pqEncodedArr(embs, model)
      .select(col("vec_id"),
        array_join(transform(col("codes"), _.cast("string")), " ").as("codes"),
        col("recon"))
      .orderBy("vec_id")

  /** PQ asymmetric-distance (ADC) top-k: each query precomputes its
    * m×ksub lookup table of exact subspace distances to every codebook
    * centroid; the corpus is scanned in COMPRESSED domain — per
    * (query, vector) the distance is m table lookups + adds over the
    * m-byte code, never touching the float array. Top-k per query runs
    * through [[graft.expressions.TopKAgg]] (map-side bounded heaps —
    * the shuffle carries ≤ k rows per query per partition, not the
    * n×nq score stream a window sort would move; score = −adc exact in
    * double, label = zero-padded vec_id so lexicographic = numeric).
    * Ranks tie toward the lower neighbor_id, self-pairs excluded.
    */
  def pqTopK(embs: DataFrame, model: Seq[Seq[Array[Long]]],
      nQueries: Int = 50, k: Int = 3): DataFrame = {
    // bound-check BEFORE building the code-table plan, so an over-cap
    // caller gets the guard's message, not an analysis error from a
    // half-built frame
    require(nQueries >= 1 && nQueries <= MaxBroadcastQueries,
      s"pqTopK: nQueries must be in [1, $MaxBroadcastQueries] " +
        s"(the query LUT frame broadcasts), got $nQueries")
    pqTopKFromCodes(pqCodes(embs, model), embs, model, nQueries, k)
  }

  /** The PQ code table (vec_id, codes array<int>) under a caller-held
    * codebook — the corpus-side artifact [[pqTopKFromCodes]] probes;
    * a deployment encodes once and stores it
    * ([[graft.sources.ModelStore.ensureFrame]]) next to the codebook.
    */
  def pqCodes(embs: DataFrame, model: Seq[Seq[Array[Long]]]): DataFrame =
    pqEncodedArr(embs, model).select(col("vec_id"), col("codes"))

  /** [[pqTopK]] probing a PREBUILT code table ([[pqCodes]], typically
    * read back from storage): per query batch only the m×ksub LUT is
    * computed — the corpus is neither touched in float domain nor
    * re-encoded. Int codes round-trip parquet exactly, so a stored
    * table scores identically to a fresh encode.
    */
  def pqTopKFromCodes(codeTable: DataFrame, queries: DataFrame,
      model: Seq[Seq[Array[Long]]], nQueries: Int = 50,
      k: Int = 3): DataFrame = {
    // the query side is vec_id < nQueries by construction, so the
    // broadcast bound is the parameter itself — no counting job needed
    require(nQueries >= 1 && nQueries <= MaxBroadcastQueries,
      s"pqTopKFromCodes: nQueries must be in [1, $MaxBroadcastQueries] " +
        s"(the query LUT frame broadcasts), got $nQueries")
    val m = model.size
    val ksub = model.head.size
    val codes = codeTable
      .select(col("vec_id").as("neighbor_id"), col("codes"))
    val q = queries.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), pqVd(col("embedding")).as("vd"))
      .select(col("query_id"), pqLut(col("vd"), model).as("lut"))
    val adc = pqAdc(col("lut"), col("codes"), m, ksub)
    heapRanked(broadcast(q).join(codes, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), adc.as("adc"), col("neighbor_id")),
      -col("adc").cast("double"), k)(s => (-s).cast("long").as("adc"))
  }

  /** IVF-PQ top-k — the composed billion-scale ANN architecture
    * (Jégou et al. 2011; what FAISS calls IVFx,PQy): the corpus lives
    * in its IVF cell's inverted list carrying only its m-byte PQ code;
    * each query routes to its `nprobe` nearest cells (the cosine IVF
    * router) and ADC-scores ONLY those lists in compressed domain.
    * Candidate work per query is ~nprobe/nCells of the corpus, each
    * candidate m lookups + adds — neither the float corpus nor the
    * full code table is scanned. Top-k per query through the
    * bounded-heap [[graft.expressions.TopKAgg]] (map-side combine).
    *
    * Trains both models in-plan here (each an eager model-sized
    * collect) and delegates to [[ivfPqTopKWith]]; a deployment trains
    * once, persists both artifacts
    * ([[graft.sources.ModelStore.savePq]]/`saveIvf`), and scores from
    * the loaded pair — the [[ivfCellsWith]] threading precedent
    * applied to both models.
    */
  /** The PQ codebook and the IVF router trained CONCURRENTLY (driver
    * threads — optimization guide §2.6 "overlap independent jobs"):
    * the two Lloyd loops are independent eager job sequences, so
    * running them from two driver threads lets each one's small
    * stages back-fill the executor slots the other leaves idle.
    * Determinism is untouched — each trainer is a self-contained
    * deterministic job chain, and Spark schedules concurrent actions
    * safely (FIFO); results are the exact models the sequential form
    * produced.
    */
  private[graft] def trainPqAndIvf(embs: DataFrame, nCells: Int = 8,
      iters: Int = 2): (Seq[Seq[Array[Long]]], Seq[Array[Long]]) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // ONE cache of the shared scaled projection, owned by THIS scope
    // and released only after BOTH trainers complete: each trainer's
    // own persist of the identical canonical plan finds it and leaves
    // it here ([[scaledFrame]]), so neither drops it under the other.
    // The PQ leg keeps pqTrain's defaults (m/ksub/iters); `iters`
    // parameterizes only the IVF router.
    CacheScope.run {
      CacheScope.persist(scaledFrame(embs))
      val fPq = Future(pqTrain(embs))
      val cents = trainIvfCentroids(embs, nCells, iters)
      (Await.result(fPq, Duration.Inf), cents)
    }
  }

  def ivfPqTopK(embs: DataFrame, nQueries: Int = 50, k: Int = 3,
      nCells: Int = 8, nprobe: Int = 2,
      iters: Int = 2): DataFrame = {
    val (pq, cents) = trainPqAndIvf(embs, nCells, iters)
    ivfPqTopKWith(embs, pq, cents, nQueries, k, nprobe)
  }

  /** [[ivfPqTopK]] under caller-held artifacts: the PQ codebook and
    * the IVF router centroids are parameters, so a LOADED model pair
    * (ModelStore) scores identically to the in-plan-trained one — the
    * deployment path for a static 100 TB index.
    */
  def ivfPqTopKWith(embs: DataFrame, model: Seq[Seq[Array[Long]]],
      cents: Seq[Array[Long]], nQueries: Int = 50, k: Int = 3,
      nprobe: Int = 2): DataFrame = {
    val m = model.size
    val ksub = model.head.size
    val c = ivfPqLists(embs, model, cents)
      .select(col("cell"), col("vec_id").as("neighbor_id"), col("codes"))
    val q = assignRanked(prepared(embs.filter(col("vec_id") < nQueries)),
        centFrame(embs.sparkSession, cents))
      .filter(col("rk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cent_id").as("cell"),
        pqVd(col("embedding")).as("vd"))
      .select(col("query_id"), col("cell"), pqLut(col("vd"), model).as("lut"))
    val adc = pqAdc(col("lut"), col("codes"), m, ksub)
    heapRanked(broadcast(q).join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), adc.as("adc"), col("neighbor_id")),
      -col("adc").cast("double"), k)(s => (-s).cast("long").as("adc"))
  }

  /** Exact rerank of a compressed-domain shortlist (FAISS's refine
    * stage): the candidate (query_id, neighbor_id) pairs re-score
    * against the FLOAT vectors of only those candidates — the
    * shortlist (≤ nQueries·kCand rows) broadcasts with the query
    * vectors attached, the corpus streams once through a broadcast
    * hash join on neighbor_id, and only the ≤ kCand matching float
    * rows per query are ever touched in float domain. Final order is
    * exact cosine (sim DESC, neighbor_id) — quantization error now
    * affects CANDIDATE SELECTION only, never the returned ranking.
    */
  def refineTopK(shortlist: DataFrame, embs: DataFrame,
      nQueries: Int, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = side(embs.filter(col("vec_id") < nQueries), "q")
    val c = side(embs, "c")
    val cand = shortlist.select("query_id", "neighbor_id")
      .join(q, col("query_id") === col("q_id"))
    exactTopK(broadcast(cand).join(c, col("neighbor_id") === col("c_id"))
      .select(col("query_id"), col("neighbor_id"),
        pairSim("q", "c").as("sim")), k)
  }

  /** Two-stage IVF-PQ serving — [[ivfPqTopK]]'s ADC shortlist at
    * `kCand` ≥ k, exact-reranked by [[refineTopK]] (what FAISS ships
    * as IVFx,PQy + RFlat): the compressed scan proposes, the float
    * fetch of kCand ids per query disposes. Recall recovers toward
    * the ROUTER's ceiling (the nprobe routing loss is the only
    * remaining approximation — [[Evaluation.retrievalMetrics]] gates
    * the recovery in eval_ivfpq_refined_metrics) at the cost of
    * kCand·nQueries float-row fetches — at 100 TB the refine side is
    * id-pruned to megabytes while the scan side stays compressed.
    */
  def ivfPqRefinedTopK(embs: DataFrame, nQueries: Int = 50, k: Int = 3,
      kCand: Int = 9, nCells: Int = 8, nprobe: Int = 2,
      iters: Int = 2): DataFrame =
    refineTopK(
      ivfPqTopK(embs, nQueries, kCand, nCells, nprobe, iters)
        .select("query_id", "neighbor_id"),
      embs, nQueries, k)

  /** Operating-point sweep for two-stage IVF-PQ serving: ONE training
    * pass (fixed geometry — the codebook and router are the artifact;
    * nprobe/kCand are serving-time knobs), then one row per
    * (nprobe, kCand) config with the measured recall@k against the
    * exact brute-force truth AND the compressed-scan cost it paid —
    * `n_cand` = probed candidate pairs, the rows the ADC scan touches
    * (the cost that scales with nprobe/nCells of the corpus; the
    * refine stage adds ≤ nQueries·kCand float fetches on top). This
    * is the table a deployment reads to PICK its operating point:
    * recall climbs with both knobs, cost climbs with nprobe only —
    * so the sweep shows which loss (routing vs shortlist) binds where.
    *
    * All integer outputs (truncating per-myriad recall), so the
    * DuckDB oracle replays every config exactly. The truth leg and
    * the per-config rankers share two internal caches for the query —
    * the npMax candidate frame (`pairs` — one LUT array per query row,
    * materially the largest cache in the module) and the brute-truth
    * frame, each consumed once per config; both persist through
    * [[graft.sources.CacheScope]] (round-19 ADVICE).
    */
  def ivfPqRefinedSweep(embs: DataFrame,
      configs: Seq[(Int, Int)] = Seq((1, 30), (2, 30), (4, 30), (8, 30),
        (8, 120), (8, 240)),
      nQueries: Int = 50, k: Int = 10, nCells: Int = 8,
      iters: Int = 2): DataFrame = {
    require(configs.nonEmpty, "need at least one (nprobe, kCand) config")
    val (pq, cents) = trainPqAndIvf(embs, nCells, iters)
    val m = pq.size
    val ksub = pq.head.size
    val truth = CacheScope.persist(bruteForceTopK(embs, nQueries, k)
      .select(col("query_id"), col("neighbor_id")))
    // ONE shared ADC pass at npMax (round-18 optimization): every
    // corpus vector lives in exactly ONE cell (assignMax rk = 1), so a
    // (query, vector) candidate pair occurs at most once and carries
    // the rank of its cell in the query's probe list (`qrk`). Each
    // config's candidate set is then EXACTLY the qrk ≤ nprobe prefix
    // of this one cached frame — the per-config ivfPqTopKWith plans
    // previously re-derived the corpus assignment, the PQ encode, the
    // query routing, and the cell join six times for identical work.
    // The per-config heap (same TopKAgg call, same tie rules), the
    // refine leg, and the metric tail are unchanged, so every output
    // row is bit-identical to the per-config form the oracle replays.
    val npMax = configs.map(_._1).max
    val qall = assignRanked(
        prepared(embs.filter(col("vec_id") < nQueries)),
        centFrame(embs.sparkSession, cents))
      .filter(col("rk") <= npMax)
      .select(col("vec_id").as("query_id"), col("rk").as("qrk"),
        col("cent_id").as("cell"),
        pqLut(pqVd(col("embedding")), pq).as("lut"))
    val c = ivfPqLists(embs, pq, cents)
      .select(col("cell"), col("vec_id").as("neighbor_id"), col("codes"))
    val pairs = CacheScope.persist(broadcast(qall).join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("qrk"), col("neighbor_id"),
        pqAdc(col("lut"), col("codes"), m, ksub).as("adc")))
    configs.foreach { case (np, kc) =>
      require(np >= 1 && kc >= k,
        s"need nprobe >= 1 and kCand >= k, got ($np, $kc)") }
    // ONE composed plan over a config dimension (round 19; guide §1.2
    // step 1 / §2.4): the per-config form built six independent
    // heap→refine→truth→metric branches — ~24 tiny exchanges and 6×
    // the codegen surface for work whose inputs are all qrk-prefixes
    // of the one cached candidate frame. Three merges, each value-exact
    // against the per-config form the oracle replays:
    //   - ALL per-nprobe heaps in one aggregation pass: TopKAgg skips
    //     null scores, so `when(qrk <= np, -adc)` scoped per heap is
    //     exactly the per-config qrk-filter; each heap is kept at that
    //     nprobe's MAX kCand and sliced per config — TopKAgg's order is
    //     a strict total order (score desc, label asc; labels unique
    //     per group), so the top-kc prefix of the sorted top-kcMax
    //     array IS the top-kc heap;
    //   - one refine/truth/metric tail over all configs, refineTopK's
    //     exact rerank verbatim with the window re-partitioned by
    //     (nprobe, k_cand, query_id) — per-config groups identical to
    //     the separate windows;
    //   - n_cand for every nprobe from one conditional-count pass
    //     (count(when(qrk <= np, 1)) == the per-config filter count).
    // A config with zero hits keeps its row via the left join from the
    // literal config frame (the old agg-without-groupBy always emitted
    // one row), and duplicate configs still emit duplicate rows.
    val spark2 = embs.sparkSession
    val npList = configs.map(_._1).distinct.sorted
    val kcMaxByNp = configs.groupBy(_._1)
      .map { case (np, cs) => np -> cs.map(_._2).max }
    val heapCols = npList.map { np =>
      graft.expressions.TopKAgg.topK(
        when(col("qrk") <= np, -col("adc").cast("double")),
        format_string("%012d", col("neighbor_id")), kcMaxByNp(np))
        .as(s"top_$np")
    }
    val heaps = pairs.groupBy("query_id")
      .agg(heapCols.head, heapCols.tail: _*)
    val cfgArr = explode(array(configs.distinct.map { case (np, kc) =>
      struct(lit(np.toLong).as("nprobe"), lit(kc.toLong).as("k_cand"))
    }: _*)).as("cfg")
    val topOfCfg = npList.tail.foldLeft(
        when(col("cfg.nprobe") === npList.head.toLong,
          col(s"top_${npList.head}"))) { (acc, np) =>
      acc.when(col("cfg.nprobe") === np.toLong, col(s"top_$np"))
    }.otherwise(col(s"top_${npList.head}"))
    val shortlist = heaps.select(
        col("query_id") +: cfgArr +: npList.map(np => col(s"top_$np")): _*)
      .select(col("cfg.nprobe").as("nprobe"),
        col("cfg.k_cand").as("k_cand"), col("query_id"),
        explode(slice(topOfCfg, lit(1),
          col("cfg.k_cand").cast("int"))).as("t"))
      .select(col("nprobe"), col("k_cand"), col("query_id"),
        col("t.label").cast("long").as("neighbor_id"))
    val q = side(embs.filter(col("vec_id") < nQueries), "q")
    val cRef = side(embs, "c")
    val wr = Window.partitionBy("nprobe", "k_cand", "query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val hits = broadcast(shortlist.join(q, col("query_id") === col("q_id")))
      .join(cRef, col("neighbor_id") === col("c_id"))
      .select(col("nprobe"), col("k_cand"), col("query_id"),
        col("neighbor_id"), pairSim("q", "c").as("sim"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .join(truth, Seq("query_id", "neighbor_id"))
      .groupBy("nprobe", "k_cand")
      .agg(count(lit(1)).as("n_hits"))
    val ncCols = npList.map(np =>
      count(when(col("qrk") <= np, lit(1))).as(s"nc_$np"))
    val nCand = pairs.agg(ncCols.head, ncCols.tail: _*)
    val configRows = configs.map { case (np, kc) =>
      spark2.range(1).select(lit(np.toLong).as("nprobe"),
        lit(kc.toLong).as("k_cand"))
    }.reduce(_ unionByName _)
    val nCandOfCfg = npList.tail.foldLeft(
        when(col("nprobe") === npList.head.toLong,
          col(s"nc_${npList.head}"))) { (acc, np) =>
      acc.when(col("nprobe") === np.toLong, col(s"nc_$np"))
    }.otherwise(lit(0L))
    configRows
      .join(hits, Seq("nprobe", "k_cand"), "left")
      .crossJoin(broadcast(nCand))
      .select(col("nprobe"), col("k_cand"),
        nCandOfCfg.as("n_cand"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        call_function("div",
          coalesce(col("n_hits"), lit(0L)) * lit(10000L),
          lit(nQueries.toLong * k)).as("recall_pm"))
      .orderBy("nprobe", "k_cand")
  }

  /** Deterministic ±1 sign matrix for [[randomProject]]: sign(j, i)
    * from the engine-portable md5-60-bit hash of "j i" (the
    * TextFunctions.wordHash60 convention), so the DuckDB oracle
    * derives the identical matrix from the identical expression.
    * Rademacher entries satisfy the JL lemma with the same constants
    * as Gaussian ones (Achlioptas, JCSS'03).
    */
  private[operators] def projSigns(m: Int, d: Int): Array[Array[Double]] = {
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).map("%02x".format(_))
          .mkString.take(15), 16)
    }
    Array.tabulate(m, d)((j, i) => if (h60(s"$j $i") % 2 == 0) 1.0 else -1.0)
  }

  /** Johnson–Lindenstrauss random projection d → `m`: y_j = Σ_i
    * sign(j,i) · v_i over the integer image v = round(x·10⁶) — the
    * dimensionality-reduction step an embedding pipeline runs before
    * storing/indexing sketches. Unscaled integer output (the 1/√m
    * factor is a reader-side constant): every arithmetic step is
    * exact in 64-bit (|v_i| ≲ 10⁶ ⇒ |y_j| ≲ 6.4·10⁷ ≪ 2⁵³), so the
    * sketch is bit-identical across engines — the quantize() design
    * constraint.
    *
    * Scale shape: per-row scalar work against an m×d CONSTANT sign
    * matrix folded into the plan as literals (derivable anywhere, no
    * broadcast state); the native `VecDot` fold keeps the m dot
    * products codegen'd. Only the export sort shuffles. Output
    * (vec_id, proj) with proj space-joined (the export convention —
    * the driver compare wants scalars).
    */
  /** [[randomProject]]'s serving form: (vec_id, sk array<long>) with
    * every component floor(y/4) — the 2-bit downshift bounds the
    * 16-term sketch dot at 16·(6.4·10⁷/4)² ≈ 4.1·10¹⁵ < 2⁵³, so the
    * ranking integer is EXACT in the top-k heap's double (the
    * engine-portability constraint; floor(y/4.0) is the same exact
    * operation in both engines — y and y/4 are both double-exact).
    */
  def projectArr(embs: DataFrame, m: Int = 16, d: Int = 64): DataFrame = {
    require(m >= 1 && d >= 1, s"need m, d >= 1, got m=$m d=$d")
    val signs = projSigns(m, d)
    val vecDot = graft.expressions.VectorExpressions.vecDot _
    embs
      .select(col("vec_id"),
        transform(scaledInts(col("embedding")), _.cast("double")).as("vd"))
      .select(col("vec_id"),
        array((0 until m).map { j =>
          floor(vecDot(col("vd"), array(signs(j).map(lit): _*)) / lit(4.0))
            .cast("long")
        }: _*).as("sk"))
  }

  /** Sketch-space exact-scan top-k — brute force over the JL sketch
    * ([[projectArr]]): the scan reads m = 16 longs per row instead of
    * 64 floats and the per-pair work is a 16-term integer dot (E[⟨Px,
    * Py⟩] = m·⟨x,y⟩ for Rademacher P, so sketch-dot order estimates
    * dot order; the loss is JL distortion, gated in
    * eval_project_metrics). Same broadcast-queries / bounded-heap
    * shape as [[sqTopK]].
    */
  def projectTopK(embs: DataFrame, m: Int = 16, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val sk = projectArr(embs, m)
    val q = sk.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("sk").as("q_sk"))
    val c = sk.select(col("vec_id").as("c_id"), col("sk").as("c_sk"))
    heapRanked(broadcast(q).join(c, col("q_id") =!= col("c_id"))
      .select(col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        graft.expressions.VectorExpressions
          .vecDotLong(col("q_sk"), col("c_sk")).as("qscore")),
      col("qscore").cast("double"), k)(_.cast("long").as("qscore"))
  }

  /** Sketch-propose / exact-refine — [[refineTopK]] composed over the
    * JL shortlist (the third compression family through the same
    * generic refine stage, after IVF-PQ): the 16-long sketch scan
    * proposes kCand ids, the float fetch reranks exactly. JL
    * distortion now affects candidate SELECTION only.
    */
  def projectRefinedTopK(embs: DataFrame, nQueries: Int = 50,
      k: Int = 10, kCand: Int = 30, m: Int = 16): DataFrame =
    refineTopK(
      projectTopK(embs, m, nQueries, kCand)
        .select("query_id", "neighbor_id"),
      embs, nQueries, k)

  def randomProject(embs: DataFrame, m: Int = 16, d: Int = 64): DataFrame = {
    require(m >= 1 && d >= 1, s"need m, d >= 1, got m=$m d=$d")
    val signs = projSigns(m, d)
    val vecDot = graft.expressions.VectorExpressions.vecDot _
    embs
      .select(col("vec_id"), col("embedding"))
      .orderBy("vec_id") // sort-first: range-sample the cheap scan
      .select(col("vec_id"),
        transform(scaledInts(col("embedding")), _.cast("double")).as("vd"))
      .select(col("vec_id"),
        concat_ws(" ", (0 until m).map { j =>
          vecDot(col("vd"), array(signs(j).map(lit): _*))
            .cast("long").cast("string")
        }: _*).as("proj"))
  }
}
