package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.CacheScope

/** Deduplication operators over a document table (`doc_id, text, lang,
  * source, …`) — the exact / near-dup family a training-data pipeline
  * needs (BASELINE.json north star; absent from the reference, whose only
  * "dedup" is Spark's distinct pivot values, `codes/task7.py:83`).
  *
  * Scale design (100 TB of documents):
  *   - exact dedup groups on a 128-bit content hash, never on the text —
  *     the shuffle carries 16 bytes + doc_id per row;
  *   - MinHash-LSH shuffles (band_idx, 128-bit band key) pairs; candidate
  *     generation is an equi-join on those keys, so skew is bounded by
  *     bucket size, and the quadratic Jaccard verification runs only
  *     within buckets (standard MMDS ch.3 banding);
  *   - blocked pairwise Jaccard keys the self-join on (lang, source)
  *     blocking attributes — the classic entity-resolution blocking that
  *     turns O(n²) global into Σ O(block²);
  *   - SimHash is a per-row 60-bit scalar; near-dup candidates are an
  *     equi-join on its Manku block table (Manku et al., WWW'07 §3),
  *     lossless at the mined Hamming radius.
  */
object Dedup {

  /** Exact dedup: group on md5(text); keeper = min doc_id per group.
    * Output one row per distinct content hash.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
      .groupBy("text_hash")
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_copies"))
      .select("keeper_id", "n_copies", "text_hash")

  /** Band-geometry selection for MinHash LSH — the S-curve tuner
    * (Leskovec/Rajaraman/Ullman, MMDS ch. 3): with b bands of r rows
    * (b·r = n hashes), P(candidate | Jaccard = s) = 1 − (1 − s^r)^b,
    * whose inflection threshold sits at ≈ (1/b)^(1/r). Returns the
    * divisor pair (bands, rowsPerBand) whose threshold lands closest
    * to the target, tie-broken toward MORE bands (banding errs toward
    * recall: a false candidate costs one verify, a false negative is
    * an undetected duplicate forever). A MODEL CONSTANT computed once
    * on the driver — the shipped 4×2 geometry is exactly
    * `tuneBands(8, 0.5)`, pinned in DedupSpec so signature width and
    * default threshold can't drift apart silently.
    */
  def tuneBands(nHashes: Int, threshold: Double): (Int, Int) = {
    require(nHashes >= 1, s"nHashes must be >= 1, got $nHashes")
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0, 1), got $threshold")
    (1 to nHashes).filter(nHashes % _ == 0)
      .map(b => (b, nHashes / b))
      .minBy { case (b, r) =>
        (math.abs(math.pow(1.0 / b, 1.0 / r) - threshold), -b)
      }
  }

  /** Per-doc MinHash band keys (k=8 signature, 4 bands × 2 rows) over
    * word-2-gram shingles. This is the map-side half of LSH dedup; it's
    * also a useful artifact on its own (signatures can be stored and
    * diffed incrementally as the corpus grows). One md5 per shingle
    * (shingleHashes), then ALL 8 permutation minima in one native
    * array walk (graft.expressions.MinhashBands) instead of 8
    * interpreted array_min(transform(...)) scans.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.expressions.TextExpressions.minhashBands(
          shingleHashesN(col("text"))).as("bands"))
      .select(
        col("doc_id") +:
          (0 until 4).map(b => element_at(col("bands"), b + 1).as(s"band$b")): _*)

  /** MinHash-LSH near-dup pairs: docs sharing any band key become
    * candidates, verified with exact shingle-set Jaccard at `threshold`.
    * Output (doc_a, doc_b, jaccard) with a < b.
    *
    * Shuffle discipline (the 100 TB shape): candidate generation
    * explodes to (doc_id, band_pos, band:long) — 32 bytes/row, no text
    * — and equi-joins on (pos, band); only the surviving candidate ids
    * re-join the shingle arrays for verification, so full shingle sets
    * move for candidates only, never for the whole corpus×4 bands.
    *
    * `lengthPrefilter = false` disables the size-ratio candidate screen
    * (exists so DedupProps can prove the screen lossless by comparing
    * both paths; production always keeps it on). The band, candidate
    * and shingle caches persist through [[graft.sources.CacheScope]].
    */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.5,
      lengthPrefilter: Boolean = true): DataFrame = {
    // CACHED because the self-join below evaluates its input once per
    // side (the broadcast arm can't reuse the other side's exchange),
    // and the md5-per-shingle hash walk is the operator's dominant
    // scalar cost — the cache is 4 × 24-byte rows per doc, no text.
    val bands = CacheScope.persist(minhashBandTable(docs))
    // Self-join via ALIASES of one canonical projection so both sides
    // canonicalize to the same exchange (shareable at scale), and
    // PERSIST the candidate edge list: it is referenced three times
    // below (verify join + both candIds arms) and is the vanishing-
    // fraction artifact of the operator — without the persist each
    // reference re-runs the band self-join. MEMORY_AND_DISK, bounded
    // by |candidates|.
    val candidates = CacheScope.persist(bands.alias("ba")
      .join(bands.alias("bb"),
        col("ba.pos") === col("bb.pos") && col("ba.band") === col("bb.band"))
      .filter(col("ba.doc_id") < col("bb.doc_id"))
      .filter(if (lengthPrefilter) sizeOk(threshold) else lit(true))
      .select(col("ba.doc_id").as("doc_a"), col("bb.doc_id").as("doc_b"))
      .distinct())
    withCandidateShingles(docs, candidates, shingles2(col("text")))
      .withColumn("jaccard", setJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Shingle-set Jaccard of two SORTED distinct-element arrays, rounded
    * at 6 dp (the DuckDB-parity rounding every Jaccard output shares):
    * |a ∩ b| by the native merge walk, |a ∪ b| = |a| + |b| − |a ∩ b|.
    */
  private def setJaccard(a: Column, b: Column): Column = {
    val inter = graft.expressions.TextExpressions.sortedIntersectCount(a, b)
    round(inter.cast("double") /
      (size(a).cast("long") + size(b).cast("long") - inter), 6)
  }

  /** LOSSLESS length prefilter over a band self-join aliased `ba`/`bb`
    * (same algebra as ngramJaccardPairs' buckets): |A∩B| ≤ min(|A|,|B|)
    * and |A∪B| ≥ max(|A|,|B|), so J ≥ t forces min/max ≥ t. The verify
    * keeps round(J,6) ≥ t, i.e. J ≥ t − 5e-7, so screening at t − 1e-6
    * (margin > round-off plus any FP ulp in the multiply) provably
    * drops only pairs the verify would drop anyway — each skipped pair
    * saves a shingle re-join row and a merge-walk. Sizes ride the band
    * explode for one long, and the proof does not care which side a
    * doc came from.
    */
  private def sizeOk(threshold: Double): Column =
    least(col("ba.sz"), col("bb.sz")).cast("double") >=
      (lit(threshold) - lit(1e-6)) * greatest(col("ba.sz"), col("bb.sz"))

  /** A (doc_a, doc_b) candidate list with each side's sorted shingle
    * array attached: (doc_a, doc_b, sh_a, sh_b). `shingles` is the
    * per-doc shingle expression over `docs`. Only the candidate docs
    * are shingled (semi-join first): verification never re-derives
    * features for the whole corpus — at scale the survivors are a
    * vanishing fraction of the input. `candidates` is read three times
    * (both id arms and the verify join), so callers pass it persisted.
    */
  private def withCandidateShingles(docs: DataFrame, candidates: DataFrame,
      shingles: Column): DataFrame = {
    val candIds = candidates.select(col("doc_a").as("doc_id"))
      .union(candidates.select(col("doc_b").as("doc_id")))
      .distinct()
    // cached: both verify-join arms below consume it (sa broadcast +
    // sb), and recomputing means a second scan of docs — bounded by
    // |candidate docs| rows of sorted shingle arrays
    val candSh = CacheScope.persist(docs.join(candIds, "doc_id")
      .select(col("doc_id"), array_sort(shingles).as("sh")))
    // the self-join's aliasing trick for the two verify joins: candSh's
    // exchange is shared between the doc_a and doc_b sides
    candidates.alias("c")
      .join(candSh.alias("sa"), col("c.doc_a") === col("sa.doc_id"))
      .join(candSh.alias("sb"), col("c.doc_b") === col("sb.doc_id"))
      .select(col("c.doc_a").as("doc_a"), col("c.doc_b").as("doc_b"),
        col("sa.sh").as("sh_a"), col("sb.sh").as("sh_b"))
  }

  /** The corpus-side band table (doc_id, sz, pos, band) — the STORED
    * artifact the incremental screen probes (class doc of
    * [[minhashPairsIncremental]]): a deployment mines it at ingest,
    * stores it ([[graft.sources.ModelStore.ensureFrame]]), and every
    * increment probes the stored rows instead of re-shingling the
    * corpus. Longs round-trip parquet exactly, so a stored table
    * screens identically to a fresh one.
    */
  def minhashBandTable(docs: DataFrame): DataFrame =
    // fanned out (round 18): the md5-per-shingle walk is the miners'
    // dominant scalar cost and a single-row-group scan runs it on one
    // core; Par.fanOut no-ops when the scan already parallelizes, and
    // every downstream aggregate is integer-exact. Two-step select:
    // `hs` is non-cheap and referenced twice (bands + size) —
    // CollapseProject keeps the steps separate, so the shingle hashing
    // evaluates once per row.
    graft.sources.Par.fanOut(docs)
    .select(col("doc_id"), shingleHashesN(col("text")).as("hs"))
    .select(col("doc_id"),
      graft.expressions.TextExpressions.minhashBands(col("hs")).as("bands"),
      size(col("hs")).cast("long").as("sz"))
    .select(col("doc_id"), col("sz"),
      posexplode(col("bands")).as(Seq("pos", "band")))

  /** Cross-batch (incremental) MinHash-LSH screen: near-dup pairs
    * BETWEEN a new batch and an existing corpus, never within either
    * side — the daily-increment shape of LSH dedup. Output
    * (new_id, old_id, jaccard) at `threshold`, one row per cross pair
    * whose exact shingle Jaccard qualifies; ids must be disjoint
    * across the two inputs (they are distinct snapshots by contract).
    *
    * Why this exists beside [[minhashPairs]]: re-running the self-join
    * miner over corpus+batch re-shingles the whole corpus per
    * increment. Here the corpus side's band table is exactly the
    * artifact [[minhashSignatures]] describes storing — so at scale
    * only the (small) new batch computes signatures, and the join
    * PROBES the stored bands: cost per increment is O(batch) map work
    * plus an equi-join whose corpus side is a pre-bucketed 32-byte-row
    * table, not the corpus text.
    *
    * `oldBands` = a pre-mined [[minhashBandTable]] of the corpus side
    * (typically read back from storage); when absent the table is
    * derived here and persisted in-process as the next-best artifact
    * lifecycle.
    */
  def minhashPairsIncremental(newDocs: DataFrame, oldDocs: DataFrame,
      threshold: Double = 0.5,
      oldBands: Option[DataFrame] = None): DataFrame = {
    // the corpus band table IS the operator's stored artifact (class
    // doc: at scale increments probe it, they don't rebuild it) — a
    // caller-provided stored table is used as-is; otherwise persist
    // the derived one so later increments against the same corpus
    // (and bench re-runs — CacheManager matches by canonical plan)
    // probe the materialized 32-byte-row table. The batch side stays
    // unpersisted: it is consumed once and is new data each increment
    // by definition.
    val oldTable =
      oldBands.getOrElse(CacheScope.persist(minhashBandTable(oldDocs)))
    // persisted: referenced three times (verify join + both shingle
    // semi-join arms), and it is the vanishing-fraction artifact
    val candidates = CacheScope.persist(minhashBandTable(newDocs).alias("ba")
      .join(oldTable.alias("bb"),
        col("ba.pos") === col("bb.pos") && col("ba.band") === col("bb.band"))
      .filter(sizeOk(threshold))
      .select(col("ba.doc_id").as("new_id"), col("bb.doc_id").as("old_id"))
      .distinct())
    // shingle the candidate docs ONLY, per side (each side's shingle
    // frame feeds exactly one verify arm — no cross-arm reuse to cache)
    def candSh(df: DataFrame, idCol: String) = df
      .join(candidates.select(col(idCol).as("doc_id")).distinct(), "doc_id")
      .select(col("doc_id"), array_sort(shingles2(col("text"))).as("sh"))
    candidates.alias("c")
      .join(candSh(newDocs, "new_id").alias("sa"),
        col("c.new_id") === col("sa.doc_id"))
      .join(candSh(oldDocs, "old_id").alias("sb"),
        col("c.old_id") === col("sb.doc_id"))
      .select(col("c.new_id").as("new_id"), col("c.old_id").as("old_id"),
        col("sa.sh").as("sh_a"), col("sb.sh").as("sh_b"))
      .withColumn("jaccard", setJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "old_id", "jaccard")
  }

  /** Blocked pairwise n-gram Jaccard: self-join within (lang, source,
    * log-size bucket) blocks, word-set (1-gram) Jaccard at `threshold`.
    *
    * The size bucket is the classic LOSSLESS length filter: J(A,B) ≥ t
    * forces min(|A|,|B|)/max(|A|,|B|) ≥ t (since |A∩B| ≤ min and
    * |A∪B| ≥ max), so with buckets of width ln(1/t) on ln|set|, every
    * qualifying pair sits in the same or an adjacent bucket. One side
    * probes {k−1, k, k+1} (an explode, still a pure equi-join); pairs
    * two buckets apart are provably below threshold and never
    * materialize. Result set is IDENTICAL to the unblocked join.
    *
    * Scale effect: the join key is (lang, source, size-bucket), so a
    * dominant (en, web) corpus splinters across length buckets instead
    * of one near-cartesian block — the quadratic verify is bounded by
    * the largest same-length cohort, and key cardinality grows with the
    * corpus's length diversity, not with |lang × source|. For corpora
    * where even a single cohort is huge, compose with [[minhashPairs]]
    * (LSH banding) and keep (lang, source) as a pre-filter.
    */
  def ngramJaccardPairs(docs: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    require(threshold > 0 && threshold < 1, "threshold must be in (0,1)")
    val bucketWidth = -math.log(threshold) // ln(1/t)
    // word sets sorted ONCE per doc so the per-pair verify is a native
    // merge walk (SortedIntersectCount) instead of a hash-set build —
    // the verify is the quadratic-in-block part, the sort is linear.
    // CACHED: the self-join consumes it once per side (the broadcast
    // arm can't reuse the other side's exchange), and recomputing
    // means re-running tokenize+distinct+sort over the corpus. Unlike
    // the other miners' narrow caches this one carries the word-set
    // arrays — the operator's whole working set, which both sides
    // fully consume either way; MEMORY_AND_DISK trades one disk
    // materialization for the second scalar pass.
    val withSet = CacheScope.persist(graft.sources.Par.fanOut(docs)
      // fanned out (round 18) — the minhashBandTable rationale
      .select(col("doc_id"), col("lang"), col("source"),
        array_sort(wordSet(col("text"))).as("ws"))
      .withColumn("szb",
        floor(log(size(col("ws")).cast("double")) / bucketWidth).cast("long")))
    // CANDIDATES ON IDS, PAYLOADS ATTACHED AFTER (the ANN families'
    // bucket-join discipline): the block self-join carries only
    // (block key, doc_id), so whichever physical join Catalyst picks,
    // nothing corpus-sized is buffered per block group — the earlier
    // shape joined the word-set arrays directly and fell off a cliff
    // the moment the build side outgrew the broadcast threshold
    // (SortMergeJoin buffering ~300 B array rows per 250-doc group:
    // measured 3.3 s → 20.8 s across the x4 → x8 flip, where the
    // id-only join + attach holds the linear trend). The word sets
    // re-attach by doc_id to the PAIR list and the merge-walk verify
    // runs in whole-stage codegen downstream; the attach joins are
    // pair-sized streams against the cached corpus frame — broadcast
    // at local sizes, shuffle hash joins at scale, never a per-group
    // buffer. The a-side explodes the ±1 length buckets; each (a, b)
    // matches on at most one bucket key, so no pair dedup is needed.
    // The pair list inherits the a-side's partitioning, which the
    // fan-out above already widened to the session's cores.
    val ids = withSet.select(col("lang"), col("source"),
        explode(array(col("szb") - 1, col("szb"), col("szb") + 1)).as("szb"),
        col("doc_id").as("doc_a"))
      .join(withSet.select(col("lang"), col("source"), col("szb"),
        col("doc_id").as("doc_b")), Seq("lang", "source", "szb"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    ids
      .join(withSet.select(col("doc_id").as("doc_a"), col("ws").as("ws_a")),
        Seq("doc_a"))
      .join(withSet.select(col("doc_id").as("doc_b"), col("ws").as("ws_b")),
        Seq("doc_b"))
      .withColumn("jaccard", setJaccard(col("ws_a"), col("ws_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** PERCOLATION-SAFE Jaccard threshold for the word-set near-dup
    * miner, derived from the corpus's OWN random-pair Jaccard
    * distribution — [[graft.operators.Similarity.calibratedTauMicro]]'s
    * rule transplanted from cosine to Jaccard (the dedup threshold is
    * the most hand-tuned knob in a curation pipeline; this derives it
    * from the measured noise floor instead): one deterministic hash
    * partner per document (wordHash60(doc_id) mod n, self-pairs and
    * empty-union pairs dropped), word-set Jaccard in integer
    * micro-units folded into 10 fixed buckets over [0, 1]; the
    * threshold is the lower edge of the first bucket above the MODE
    * whose share is ≤ `epsPm` per-myriad of sampled pairs
    * (`n_pairs·10⁴ ≤ epsPm·n_total`, exact integers). The default
    * epsPm = 0 — "the first bucket with NO sampled random pair" —
    * self-tightens with the sample exactly as the cosine rule does.
    *
    * On a corpus whose random pairs already overlap heavily (the
    * testdata word soup: random word-set Jaccard spans the whole
    * [0,1] range), the calibration honestly saturates to 10⁶ — "this
    * measure cannot separate duplicates from this corpus's noise;
    * only IDENTICAL word sets are safe to prune" — the same
    * measure-doesn't-discriminate diagnosis [[Similarity.embHealth]]
    * gives a collapsed embedding space.
    *
    * Scale shape: one n-row partner equi-join over the word sets +
    * a ≤ 10-row aggregate. Output: one row (threshold_micro,
    * mode_bucket).
    *
    * Two caches: the sorted word sets (ONE corpus pass serves the
    * count, the partner side, and the target side — uncached this plan
    * scans the corpus three times) and the ≤ 10-row histogram
    * (consumed by the total, the mode, and the gap scan — each would
    * re-run the partner join).
    */
  def calibratedJaccardMicro(docs: DataFrame,
      epsPm: Long = 0L): DataFrame = {
    require(epsPm >= 0L && epsPm <= 10000L,
      s"epsPm must be in [0,10000], got $epsPm")
    val ws = CacheScope.persist(docs.select(col("doc_id"),
      array_sort(wordSet(col("text"))).as("ws")))
    val hist = CacheScope.persist(Similarity.randomPartners(
        ws.select(col("doc_id").as("aid"), col("ws").as("ws_a")), "aid",
        ws.select(col("doc_id").as("bid"), col("ws").as("ws_b")), "bid")
      .filter(size(col("ws_a")) + size(col("ws_b")) > 0)
      .select(round(setJaccard(col("ws_a"), col("ws_b")) * lit(1e6))
        .cast("long").as("jmicro"))
      .select(least(lit(9L),
        call_function("div", col("jmicro"), lit(100000L))).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs")))
    val tot = hist.agg(coalesce(sum("n_pairs"), lit(0L)).as("n_total"))
    val mode = hist
      .agg(max(struct(col("n_pairs"), (-col("bucket")).as("nb"))).as("m"))
      .select((-col("m.nb")).as("mode_bucket"))
    val grid = docs.sparkSession.range(0, 11).select(col("id").as("cand"))
    grid.join(hist, col("cand") === col("bucket"), "left")
      .select(col("cand"), coalesce(col("n_pairs"), lit(0L)).as("np"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(mode))
      .filter(col("cand") > col("mode_bucket") &&
        col("np") * lit(10000L) <= lit(epsPm) * col("n_total"))
      .agg(min(col("cand")).as("tb"), max(col("mode_bucket")).as("mb"))
      .select(
        coalesce(col("tb") * lit(100000L), lit(1000001L))
          .as("threshold_micro"),
        coalesce(col("mb"), lit(-1L)).as("mode_bucket"))
  }

  /** [[ngramJaccardPairs]] at the CALIBRATED threshold: mine with the
    * blocked miner at a block threshold ≤ the calibrated one (lower
    * block thresholds are lossless supersets — the length filter only
    * widens), then cut exactly at the calibrated integer micro value,
    * with `threshold_micro` riding the output so a gate verifies the
    * calibration itself. The one-row calibration is collected
    * driver-side (model-sized — the IVF-centroid precedent) because
    * the blocked miner's length-bucket WIDTH is a plan-construction
    * constant derived from the threshold.
    */
  def ngramJaccardPairsCalibrated(docs: DataFrame,
      epsPm: Long = 0L): DataFrame = {
    // the calibration's collect is terminal here, so its caches are
    // released immediately (the returned miner plan shares nothing
    // with them)
    val t = CacheScope.run {
      calibratedJaccardMicro(docs, epsPm).collect().head.getLong(0)
    }
    // an empty corpus calibrates to the 1000001 sentinel — nothing
    // can pair; keep the plan valid with an always-false cut
    val blockT = math.min(0.95, math.max(0.1, t / 1e6))
    ngramJaccardPairs(docs, blockT)
      .filter(round(col("jaccard") * lit(1e6)).cast("long") >= t)
      .withColumn("threshold_micro", lit(t))
  }

  /** SimHash signature width and the derived Manku block geometry.
    * 60 bits (not Manku's 64) keeps every value strictly positive in
    * signed int64 on any engine; 60 = 2²·3·5 divides evenly into the
    * 2..6 blocks that Hamming radii 1..5 need.
    */
  val SimhashBits = 60

  /** Per-doc 60-bit SimHash + its top-15-bit block (block 0 of the
    * Manku table — the coarse near-dup lookup key; [[simhashPairs]]
    * probes all four blocks).
    *
    * Width rationale: a 16-bit sketch SATURATES on a real corpus —
    * measured at sf0.1 (5k docs), two-thirds of all pairs fall within
    * Hamming 3 of each other, so "near-dup pairs" degenerates into a
    * quadratic-output cross join no blocking can save. At 60 bits the
    * Hamming-≤3 ball is ~36k of 2⁶⁰ patterns, so collisions mean
    * near-identical word sets, not sketch exhaustion.
    */
  def simhash(docs: DataFrame): DataFrame =
    // two-step projection: the fold is non-cheap and referenced twice
    // below — CollapseProject keeps the steps separate, so the fold
    // evaluates ONCE per row, with the block derived by a shift.
    docs.select(col("doc_id"), simhash60(col("text")).as("simhash"))
      .select(col("doc_id"), col("simhash"),
        shiftright(col("simhash"), 45).as("bucket"))

  /** PERCOLATION-SAFE SimHash Hamming radius, derived from the
    * corpus's OWN random-pair sketch-distance distribution — the
    * third leg of the calibration family
    * ([[graft.operators.Similarity.calibratedTauMicro]] for cosine,
    * [[calibratedJaccardMicro]] for Jaccard), the same rule under the
    * similarity → distance inversion: one deterministic hash partner
    * per document, exact 60-bit Hamming distances folded into 10
    * six-bit buckets, mode = the noise concentration (ties toward the
    * LARGER distance — the mirror of the Jaccard rule's ties-low),
    * and the radius is the UPPER edge (6·b + 5) of the first bucket
    * with NO sampled pair scanning DOWN from the mode — occupied
    * cells further down (sampled true duplicates) do not block, just
    * as the Jaccard scan ignores the far-side duplicate mass.
    *
    * Fallbacks mirror the Jaccard rule's virtual identity bucket:
    * when every bucket below the mode is occupied, the radius falls
    * to 0 — "the noise floor reaches the identity cell's
    * neighborhood; only exact sketch matches are safe" (the d = 0
    * analog of saturating to J ≥ 1.0). When the MODE itself is
    * bucket 0 the sentinel is −1 — mine nothing: a typical random
    * pair within 5 bits means the sketch carries no separating
    * information (a one-clone-class corpus, or a collapsed
    * vocabulary), and unlike Jaccard's J = 1.0 — which proves set
    * identity from the text itself — sketch identity proves nothing
    * when the whole distance mass has collapsed; route to [[exact]],
    * which is lossless and cheap, instead of over-deleting.
    *
    * Sensitivity: a larger corpus samples more partners, so a bucket
    * carrying pair density p is detected non-empty with probability
    * 1 − e^(−np) — NOISE buckets can only get harder to miss at
    * scale. The near-identity buckets, though, hold thin true-DUP
    * mass (random partners land on genuine duplicates at the
    * corpus's dup rate), so the measured radius resamples per corpus
    * rather than moving monotonically (0 ↔ 5 across the x-protocol's
    * replica scales — SCALING.md); the safety argument rests on the
    * geometry cap and the distance cut, both of which bound what any
    * radius can admit, not on monotonicity.
    *
    * Scale shape: one n-row partner equi-join over the 16-byte
    * signature rows + a ≤ 10-row aggregate. Output: one row
    * (radius, mode_bucket).
    *
    * The signature cache serves the count and both partner sides; the
    * ≤ 10-row histogram is cached against its two aggregate consumers.
    * `epsPm` is the same per-myriad tolerance the sibling calibrations
    * expose (a bucket counts as a gap when `n_pairs·10⁴ ≤
    * epsPm·n_total`); the strict default 0 is the shipped rule.
    */
  def calibratedHammingRadius(docs: DataFrame,
      epsPm: Long = 0L): DataFrame = {
    require(epsPm >= 0L && epsPm <= 10000L,
      s"epsPm must be in [0,10000], got $epsPm")
    val sv = CacheScope.persist(docs
      .select(col("doc_id"), simhash60(col("text")).as("simhash")))
    val hist = CacheScope.persist(Similarity.randomPartners(
        sv.select(col("doc_id").as("aid"), col("simhash").as("sig_a")), "aid",
        sv.select(col("doc_id").as("bid"), col("simhash").as("sig_b")), "bid")
      .select(least(lit(9L), call_function("div",
        Multimodal.hammingDistance(col("sig_a"), col("sig_b")),
        lit(6L))).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs")))
    // ties toward the larger distance: max(struct(count, bucket))
    val mode = hist
      .agg(max(struct(col("n_pairs"), col("bucket"))).as("m"))
      .select(col("m.bucket").as("mode_bucket"))
    val tot = hist.agg(coalesce(sum("n_pairs"), lit(0L)).as("n_total"))
    val grid = docs.sparkSession.range(0, 10).select(col("id").as("cand"))
    val gap = grid.join(hist, col("cand") === col("bucket"), "left")
      .select(col("cand"), coalesce(col("n_pairs"), lit(0L)).as("np"))
      .crossJoin(broadcast(mode)).crossJoin(broadcast(tot))
      .filter(col("cand") < col("mode_bucket") &&
        col("np") * lit(10000L) <= lit(epsPm) * col("n_total"))
      .agg(max(col("cand")).as("gb"))
    gap.crossJoin(broadcast(mode)).select(
      when(coalesce(col("mode_bucket"), lit(0L)) === lit(0L), lit(-1L))
        .otherwise(coalesce(col("gb") * lit(6L) + lit(5L), lit(0L)))
        .as("radius"),
      coalesce(col("mode_bucket"), lit(-1L)).as("mode_bucket"))
  }

  /** [[simhashPairs]] at the CALIBRATED radius: mine with the
    * standard lossless 4-block geometry (pigeonhole-complete for
    * Hamming ≤ 3), cut at `min(maxHamming, radius)` — the geometry
    * CAPS the effective radius, so a calibration above the blocks'
    * reach confirms the shipped default rather than widening past
    * what the blocking can losslessly find — with the raw calibrated
    * `radius` riding the output so a gate verifies the calibration
    * itself. Sentinel −1 mines nothing (every hamming ≥ 0 fails the
    * cut). The one-row calibration is collected driver-side
    * (model-sized — the IVF-centroid precedent) and its caches
    * released at the terminal collect.
    */
  def simhashPairsCalibrated(docs: DataFrame,
      maxHamming: Int = 3, epsPm: Long = 0L): DataFrame = {
    val r = CacheScope.run {
      calibratedHammingRadius(docs, epsPm).collect().head.getLong(0)
    }
    val eff = math.min(maxHamming.toLong, r)
    simhashPairs(docs, maxHamming)
      .filter(col("hamming") <= lit(eff))
      .withColumn("radius", lit(r))
  }

  /** SimHash near-dup pairs at Hamming ≤ `maxHamming`, via Manku et
    * al.'s (WWW'07 §3) block-permutation table: split the 60-bit
    * signature into `maxHamming + 1` equal blocks; by pigeonhole, any
    * pair differing in ≤ maxHamming bits agrees EXACTLY on at least one
    * block, so an equi-join per (block index, block value) finds every
    * qualifying pair — the blocking is LOSSLESS (verified against a
    * brute-force oracle), unlike a fixed prefix bucket.
    *
    * Scale shape: each doc explodes into maxHamming+1 rows of
    * (block idx, 15-bit value) — no text, no arrays; candidates are an
    * equi-join on that key, so per-bucket work is |bucket|² with 2¹⁵
    * buckets per block index, and the XOR-popcount verify runs inside
    * codegen per candidate. The miner is [[Multimodal.hammingPairs]]
    * at [[SimhashBits]], the one the 64-bit perceptual hashes use.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // reject a bad radius before the cache below is registered
    Multimodal.hammingBlockBits(SimhashBits, maxHamming)
    // cache: the 60-bit fold is the expensive scalar half and the
    // self-join evaluates its input once per side
    val sigs = CacheScope.persist(graft.sources.Par.fanOut(docs)
      // fanned out (round 18) — the minhashBandTable rationale
      .select(col("doc_id"), simhash60(col("text")).as("simhash")))
    Multimodal.hammingPairs(sigs, "simhash", SimhashBits, maxHamming)
  }

  /** Winnowing near-dup pairs (MOSS shape): docs sharing ≥ `minShared`
    * winnowing fingerprints
    * ([[graft.functions.TextFunctions.winnowFingerprints]]). Where
    * minhash measures SET overlap and simhash sketch distance, shared
    * winnow fingerprints witness shared CONTIGUOUS runs of at least
    * k + win − 1 words — the local-similarity (partial-plagiarism)
    * notion the other miners are blind to.
    *
    * Scale shape: explode to (doc_id, 8-byte fingerprint) — measured
    * bucket occupancy is small and hash-bounded (winnow mins are
    * biased low but tie-broken by the full 60-bit value) — equi-join,
    * count per pair, filter. Same cached-input convention as the
    * other miners.
    *
    * `maxDf` is the hot-fingerprint cap ([[substringPairs]]'s guard,
    * same key discipline): a fingerprint carried by more than `maxDf`
    * docs corpus-wide — license boilerplate, a viral footer — would
    * otherwise induce a d² candidate bucket in the self-join, the one
    * straggler shape a 100 TB run cannot absorb. A run that common is
    * boilerplate, not plagiarism signal; the cap is part of the
    * operator's semantics (the oracle applies it identically).
    */
  def winnowPairs(docs: DataFrame, k: Int = 3, win: Int = 4,
      minShared: Int = 3, maxDf: Long = 128L): DataFrame = {
    require(maxDf >= 1L, s"maxDf must be >= 1, got $maxDf")
    // cached: the self-join consumes the fingerprint table once per
    // side (plus the df aggregate); 16 bytes per (doc, fp) row, no text
    val fps = CacheScope.persist(graft.sources.Par.fanOut(docs)
      // fanned out (round 18) — the minhashBandTable rationale
      .select(col("doc_id"),
        explode(winnowFingerprints(col("text"), k, win)).as("fp")))
    val hits = capHotKeys(fps, "fp", maxDf)
    hits.alias("a")
      .join(hits.alias("b"), col("a.fp") === col("b.fp"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Hot-key cap shared by the fingerprint, anchor and bigram tables:
    * keep only the `rows` whose `key` occurs at most `maxDf` times
    * corpus-wide. One aggregate on the SAME key as the join it guards
    * (so the df table is hash-partitioned identically to the probe
    * side), returning the surviving rows with `key` first.
    */
  private[operators] def capHotKeys(rows: DataFrame, key: String,
      maxDf: Long): DataFrame = {
    val rare = rows.groupBy(key)
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(key)
    rows.join(rare, key)
  }

  /** Asymmetric near-dup (CONTAINMENT) pairs — Broder's containment
    * c = |Sh(a) ∩ Sh(b)| / min(|Sh(a)|, |Sh(b)|): the excerpt/quote
    * notion resemblance dedup is structurally blind to. A short doc
    * quoted whole inside a long article has Jaccard ≈ |a|/|b| ≈ 0 —
    * resemblance LSH cannot mine it even in principle (band collision
    * probability is a function of Jaccard, which vanishes exactly
    * where containment matters), and [[minhashPairs]]'s length
    * prefilter deliberately EXCLUDES such pairs. Training corpora
    * care: a held-out eval prompt embedded in a crawled page is a
    * containment hit, not a resemblance hit.
    *
    * Candidates come from shared WINNOWING fingerprints instead
    * ([[winnowPairs]]'s geometry): by the winnowing guarantee any
    * shared contiguous run of ≥ k + win − 1 words yields a shared
    * fingerprint, so containment candidates are mined by their shared
    * RUNS — independent of either doc's total size. `minShared`
    * trades that floor for candidate precision (≥ 2 shared
    * fingerprints needs a span of roughly k + 2·win words, or two
    * separate shared runs). Verify is exact `k`-gram shingle
    * containment on the candidate docs only (the [[minhashPairs]]
    * semi-join discipline), reported as a truncating per-myriad
    * integer so both engines agree exactly.
    *
    * Scale shape: fingerprint explode (≈ 2/(win+1) of the corpus'
    * k-grams) → equi-join on the 8-byte fingerprint → pair count
    * filter; shingle arrays are built for CANDIDATE docs only and
    * only the surviving pair list crosses the export exchange.
    *
    * `maxDf` caps hot fingerprints before the candidate self-join
    * ([[winnowPairs]]'s guard — a boilerplate fingerprint shared by d
    * docs would otherwise yield d² candidate rows before the
    * group-by). A contained passage whose EVERY fingerprint is that
    * common is boilerplate by definition; genuine excerpts keep their
    * rarer fingerprints and still clear `minShared`. The oracle
    * applies the cap identically.
    *
    * Returns (doc_a, doc_b, containment_pm) with
    * containment_pm = ⌊10⁴ · |∩| / min(|a|, |b|)⌋, pairs ≥ `thresholdPm`.
    */
  def containmentPairs(docs: DataFrame, k: Int = 3, win: Int = 4,
      minShared: Int = 2, thresholdPm: Long = 8000L,
      maxDf: Long = 128L): DataFrame =
    containmentVerified(docs, k, win, minShared, thresholdPm, maxDf)
      .select("doc_a", "doc_b", "containment_pm")

  /** Shared core of [[containmentPairs]] / [[containmentSurvivors]]:
    * verified over-threshold pairs WITH both shingle-set sizes
    * (doc_a, doc_b, containment_pm, sz_a, sz_b).
    */
  private def containmentVerified(docs: DataFrame, k: Int, win: Int,
      minShared: Int, thresholdPm: Long, maxDf: Long): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(thresholdPm >= 0L && thresholdPm <= 10000L,
      s"thresholdPm must be in [0, 10000], got $thresholdPm")
    // the candidates are winnowPairs' shared-fingerprint pairs (its
    // cached fingerprint table and hot-key cap included), persisted:
    // the verify reads them three times
    val candidates = CacheScope.persist(
      winnowPairs(docs, k, win, minShared, maxDf).select("doc_a", "doc_b"))
    val inter = graft.expressions.TextExpressions
      .sortedIntersectCount(col("sh_a"), col("sh_b")).cast("long")
    val minSz = least(size(col("sh_a")), size(col("sh_b"))).cast("long")
    withCandidateShingles(docs, candidates, shinglesN(col("text"), k))
      // a doc under k words has an EMPTY shingle set (min = 0): no
      // containment is defined for it, and it cannot clear minShared
      // candidates anyway — guard the division all the same
      .filter(minSz > 0)
      .withColumn("containment_pm",
        call_function("div", inter * lit(10000L), minSz))
      .filter(col("containment_pm") >= thresholdPm)
      .select(col("doc_a"), col("doc_b"), col("containment_pm"),
        size(col("sh_a")).cast("long").as("sz_a"),
        size(col("sh_b")).cast("long").as("sz_b"))
  }

  /** The removal half of containment dedup: survivors after dropping,
    * for every verified over-threshold pair, its CONTAINED side — the
    * doc with the smaller shingle set (the excerpt), the SUPERSET doc
    * keeps the content; equal sizes (mutual containment = the
    * near-identical case) tie to the lower doc_id, the exact-dedup
    * keeper convention. Containment is not transitive, so drops are
    * pairwise-independent: a doc contained in an itself-dropped doc
    * still drops (its content survives transitively in the chain's
    * maximal superset for verbatim chains; for near chains the
    * threshold already bounds the loss). The drop set is
    * threshold-vanishing — the anti-join broadcasts it against the
    * corpus, which never shuffles.
    */
  def containmentSurvivors(docs: DataFrame, k: Int = 3, win: Int = 4,
      minShared: Int = 2, thresholdPm: Long = 8000L,
      maxDf: Long = 128L): DataFrame = {
    val drops = containmentVerified(docs, k, win, minShared, thresholdPm,
        maxDf).select(
      when(col("sz_a") < col("sz_b"), col("doc_a"))
        .when(col("sz_b") < col("sz_a"), col("doc_b"))
        .otherwise(col("doc_b")) // equal sizes: a < b, keep a
        .as("doc_id"))
      .distinct()
    docs.join(broadcast(drops), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Exact-substring duplicate pairs (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — arXiv:2107.06499):
    * doc pairs sharing an EXACT contiguous token run of at least
    * `minRun` words, with the maximal shared run length reported.
    * Where minhash measures set overlap and winnowing samples local
    * runs, this is the exact notion: every shared run ≥ `gram` tokens
    * is found (via its positional `gram`-token anchors — a run of
    * length L contains L−gram+1 anchors, so none can be missed), then
    * extended to its true maximal length along the match diagonal.
    *
    * Lee et al. build one suffix array over the concatenated corpus —
    * inherently single-machine. The distributed re-expression: explode
    * each doc into positional 60-bit `gram`-token hashes (the fused
    * GramHashes walk), equi-join on the hash, and run gaps-and-islands
    * on each (doc_a, doc_b, pos_a − pos_b) diagonal — consecutive
    * anchor hits on one diagonal ARE the shared run, and
    * `islandSize + gram − 1` is its exact token length. Per-doc work
    * replaces the global suffix sort with one hash-keyed shuffle.
    *
    * Scale shape: the anchor table is ~24 bytes per corpus TOKEN — the
    * same O(corpus) footprint as Lee et al.'s suffix array, shuffled
    * once, keyed by gram hash. Join fan-out per key is bounded by
    * `maxDf` (anchors whose hash occurs more than `maxDf` times
    * corpus-wide are dropped): an 8-token gram repeated that often is
    * boilerplate, exactly the text Lee et al. report dominating their
    * duplicate clusters, and the cap is the standard guard that keeps
    * a viral phrase from inducing a quadratic bucket. The cap is part
    * of the operator's semantics (the oracle applies it identically).
    *
    * Returns (doc_a, doc_b, max_run, n_runs): maximal shared run in
    * tokens and the count of distinct maximal runs ≥ `minRun`.
    */
  def substringPairs(docs: DataFrame, gram: Int = 8, minRun: Int = 12,
      maxDf: Long = 128L): DataFrame =
    substringRuns(docs, gram, maxDf)
      .filter(col("run_len") >= minRun)
      .groupBy("doc_a", "doc_b")
      .agg(max(col("run_len")).as("max_run"),
        count(lit(1)).as("n_runs"))

  /** Positional gram anchors (doc_id, pos, h) — one row per token
    * position (minus the trailing gram−1), 24 bytes each, no text.
    * The shared primitive of the substring family: the batch miners
    * cache it ([[substringRuns]]); the streaming index
    * (graft.streaming.DocStreams.substringAnchorIndex) df-caps it in
    * one pass.
    */
  private[graft] def positionalAnchors(docs: DataFrame,
      gram: Int): DataFrame = {
    require(gram >= 1, s"gram must be >= 1, got $gram")
    docs.select(col("doc_id"),
      posexplode(graft.expressions.TextExpressions.gramHashes60(
        tokens(col("text")), gram, distinct = false)).as(Seq("pos", "h")))
  }

  /** Shared core of [[substringPairs]] / [[substringClean]]: maximal
    * matching runs per (doc_a < doc_b, diagonal), with 0-based span
    * starts on both sides.
    */
  private def substringRuns(docs: DataFrame, gram: Int,
      maxDf: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Cached: consumed by the df-count aggregate AND both self-join
    // sides.
    val anchors = CacheScope.persist(positionalAnchors(docs, gram))
    val hits = capHotKeys(anchors, "h", maxDf)
    // candidate anchor alignments, grouped by match diagonal
    val aligned = hits.select(col("doc_id").as("doc_a"),
        col("pos").as("pos_a"), col("h"))
      .join(hits.select(col("doc_id").as("doc_b"),
        col("pos").as("pos_b"), col("h")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("diag", col("pos_a") - col("pos_b"))
    // gaps-and-islands per diagonal: consecutive pos_a values are one
    // shared run; island size + gram − 1 is its exact token length
    val wd = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    aligned
      .withColumn("grp", col("pos_a") - row_number().over(wd))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg((count(lit(1)) + lit(gram - 1)).as("run_len"),
        min(col("pos_a")).as("start_a"))
      .withColumn("start_b", col("start_a") - col("diag"))
  }

  /** The REMOVAL half of Lee et al. 2021 (see [[substringPairs]]):
    * excise every token span that duplicates an exact run of at least
    * `minRun` tokens appearing in a LOWER-id document, and rebuild the
    * surviving text. The lowest-id holder of a duplicated span keeps
    * it; every later copy loses exactly the duplicated tokens, not the
    * whole document — the surgical alternative to document-level
    * dedup for boilerplate-heavy corpora. Overlapping spans (one doc
    * duplicating runs from several earlier docs) union before removal.
    *
    * Within-document repeats (the same doc containing its own
    * duplicated run twice) are out of scope of this pairwise screen —
    * the chunk-hash family ([[graft.operators.Chunking]]) covers that
    * shape.
    *
    * Output one row per input doc (doc_id, n_kept, clean_text),
    * rebuilt in token order; docs losing every token stay with empty
    * text (the [[graft.operators.Chunking.clean]] convention).
    */
  def substringClean(docs: DataFrame, gram: Int = 8, minRun: Int = 12,
      maxDf: Long = 128L): DataFrame = {
    val runs = substringRuns(docs, gram, maxDf)
    // spans to remove, on the HIGHER-id side of each pair; distinct
    // covered positions union overlapping spans. The explode is
    // bounded by the corpus' duplicated-token mass (run_len each).
    val covered = runs
      .filter(col("run_len") >= minRun)
      .select(col("doc_b").as("doc_id"),
        explode(sequence(col("start_b"),
          col("start_b") + col("run_len") - 1)).as("pos"))
      .distinct()
    val toks = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        // order rebuilt by pos: struct sort keys on the first field
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          t => t.getField("tok")), " ").as("clean_text"))
    docs.select("doc_id").join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** (source_a, source_b, n_pairs, n_docs): the cross-source overlap
    * matrix of a near-dup pair list — how many verified pairs link
    * each unordered source pair (source_a <= source_b; the diagonal
    * is within-source duplication) and how many distinct documents
    * those pairs touch. The mixture diagnostic a curation stack reads
    * before weighting sources: two "independent" crawls sharing a
    * large near-dup mass are one source for mixture purposes, and an
    * eval-derived source overlapping train sources is leakage.
    *
    * Scale shape: the corpus projects to its (doc_id, source) pair —
    * text never moves — and the PAIR list (a vanishing fraction of
    * the corpus) is what shuffles through two equi-joins and two
    * aggregations, both keyed on the |sources|²-bounded pair key. The
    * distinct-doc count dedups (source pair, doc) BEFORE counting, so
    * no per-group collection ever materializes.
    *
    * The tagged pair frame is persisted: it feeds BOTH aggregations,
    * and without the persist each would re-run the (expensive) pair
    * miner upstream.
    */
  def sourceOverlap(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val tagged = CacheScope.persist(pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("doc_a"), col("doc_b")))
    val nPairs = tagged.groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = tagged
      .select(col("source_a"), col("source_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .distinct()
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_docs"))
    nPairs.join(nDocs, Seq("source_a", "source_b"))
      .orderBy("source_a", "source_b")
  }

  /** Dedup completion: collapse near-dup PAIRS into clusters and pick
    * one canonical survivor (min doc_id) per cluster — what a real
    * pipeline keeps. Iterative min-label propagation over the pair
    * graph (driver-coordinated loop, each step fully distributed), the
    * standard large-graph connected-components shape; near-dup
    * components are tiny so convergence is a handful of rounds.
    * Deterministic: labels converge to min reachable doc_id, so the
    * result is iteration-order independent (DuckDB verifies via a
    * recursive transitive-closure CTE).
    */
  def clusters(docs: DataFrame, pairs: DataFrame, maxIters: Int = 20,
      localThreshold: Int = 100000): DataFrame = {
    // fast path: an LSH pair graph is normally a vanishing fraction of
    // the corpus — when it fits the driver comfortably, union-find
    // locally and broadcast the mapping instead of iterating jobs.
    // Same labels either way (min doc_id per component).
    // localThreshold <= 0 skips the probe entirely (round 19): the
    // limit-collect is a PARTIAL MINER EXECUTION (the pair miner's
    // shuffles run before limit can stop anything), and with a zero
    // threshold its answer is already known — any pair at all routes
    // distributed, and the no-pair corpus converges identically in
    // the loop's first round (empty edge set → empty labels → every
    // doc a singleton via the untouched anti-join).
    val sample = if (localThreshold <= 0) Array.empty[org.apache.spark.sql.Row]
      else pairs.select(col("doc_a"), col("doc_b"))
        .limit(localThreshold + 1).collect()
    if (localThreshold > 0 && sample.length <= localThreshold) {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x
        else { val r = find(p); parent(x) = r; r }
      }
      sample.foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ra != rb) { // attach the larger root under the smaller
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      // a snapshot of the keys: `find` writes into `parent`, and a
      // write can grow the table under a live key iterator, which then
      // skips keys (those docs would fall back to their own id)
      val mapping = parent.keys.toList.map(x => (x, find(x)))
      val spark = docs.sparkSession
      import spark.implicits._
      val mapDf = broadcast(mapping.toDF("doc_id", "root"))
      return docs.select(col("doc_id"))
        .join(mapDf, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("root"), col("doc_id")).as("cluster_id"))
    }

    // both edge orientations from ONE scan of the miner subtree
    // (round 19): the previous two-projection union executed the
    // whole upstream pair miner TWICE when this cache landed — the
    // explode emits the identical (src, dst) multiset per pair row
    val edges = CacheScope.persist(pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    // only docs touched by an edge can ever change labels — iterate on
    // that (tiny) subgraph; the untouched corpus anti-joins in at the
    // end as its own singleton clusters. At 100 TB the pair graph is a
    // vanishing fraction of the corpus, so the loop never touches the
    // bulk of the data.
    val edgeIds = CacheScope.persist(
      edges.select(col("src").as("doc_id")).distinct())
    var labels = edgeIds.select(col("doc_id"), col("doc_id").as("cluster_id"))
    var cached: DataFrame = null
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // the labels side carries its own label as `old` through the
      // aggregation (each doc has exactly ONE labels row, so min(old)
      // ignores the neighbor side's nulls and recovers it) — the
      // convergence check is then a filter over the cached result
      // instead of a join + count job per iteration
      val viaNbr = edges
        .join(labels.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst").as("doc_id"), col("cluster_id"),
          lit(null).cast("long").as("old"))
      // persisted in the caller's scope: the last round's cache backs
      // the returned labels
      val next = CacheScope.persist(labels
        .select(col("doc_id"), col("cluster_id"), col("cluster_id").as("old"))
        .union(viaNbr)
        .groupBy("doc_id")
        .agg(min("cluster_id").as("cluster_id"), min("old").as("old")))
      converged = next.filter(col("cluster_id") < col("old")).isEmpty
      if (cached != null) cached.unpersist()
      cached = next
      // lineage barrier: labels references `next` TWICE per iteration
      // (its own row + the neighbor join), so carrying the logical
      // plan forward doubles it every round — Catalyst analysis cost
      // goes exponential in the iteration count even though the
      // convergence check materializes each round into the cache.
      // Re-rooting the next iteration on the cached result's RDD
      // keeps the plan constant-size (the data never moves).
      val pruned = next.select("doc_id", "cluster_id")
      labels = docs.sparkSession.createDataFrame(pruned.rdd, pruned.schema)
      i += 1
    }
    val untouched = docs.select(col("doc_id"), col("doc_id").as("cluster_id"))
      .join(edgeIds, Seq("doc_id"), "left_anti")
    untouched.union(labels)
  }

  /** Quality-aware dedup completion — the keep-BEST policy (the
    * SlimPajama/RefinedWeb convention: keep the longest / highest-
    * quality member of each near-dup cluster, not the lowest id; a
    * min-id policy routinely keeps the tweet and drops the article,
    * the same failure [[containmentSurvivors]] avoids by keeping the
    * superset). `score` is any INTEGER-valued quality column of
    * `docs` (n_chars for keep-longest, a scaled quality composite for
    * keep-best) — integer so the argmax is engine-exact; ties break
    * to the lower doc_id. A NULL score ranks below every real score
    * (explicitly, via a Long.MinValue sort key — not via struct-null
    * ordering accident), so a null-scored doc wins only in an
    * all-null cluster, where the policy degrades to the min-doc_id
    * keeper convention; the winner's q_score is reported as-is
    * (null stays null).
    *
    * Output: one row per cluster (cluster_id, doc_id = the survivor,
    * q_score, n_docs). Scale shape: [[clusters]]' labels
    * join the (doc_id, score) projection, then ONE hash
    * aggregate with map-side combine: `max(struct(score, −doc_id))`
    * carries the argmax through the partial/final pair — no
    * corpus-wide window, no per-cluster sort; the shuffle moves one
    * struct per (partition, cluster).
    */
  def bestSurvivors(docs: DataFrame, pairs: DataFrame, score: Column,
      maxIters: Int = 20, localThreshold: Int = 100000): DataFrame = {
    val labels = clusters(docs, pairs, maxIters, localThreshold)
    val labeled = docs
      .select(col("doc_id"), score.cast("long").as("q_score"))
      .join(labels, Seq("doc_id"))
    // sort key coalesced so null scores lose EXPLICITLY (see scaladoc);
    // the raw q_score rides along as the struct's third field so the
    // winner reports its actual value, null included
    labeled.groupBy("cluster_id")
      .agg(max(struct(
          coalesce(col("q_score"), lit(Long.MinValue)).as("k"),
          (-col("doc_id")).as("nid"), col("q_score"))).as("b"),
        count(lit(1)).as("n_docs"))
      .select(col("cluster_id"), (-col("b.nid")).as("doc_id"),
        col("b.q_score").as("q_score"), col("n_docs"))
      .orderBy("cluster_id")
  }
}
