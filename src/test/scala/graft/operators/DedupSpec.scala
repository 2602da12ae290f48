package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class DedupSpec extends AnyFunSuite with SparkSpec {

  // d0≡d1 exact dup; d2 permutes d0 (same word set, different 2-grams);
  // d3 overlaps d0 at word-Jaccard 0.6; d4 disjoint. One block.
  private lazy val docs = spark.createDataFrame(Seq(
    (0L, "alpha beta gamma delta", "en", "src0"),
    (1L, "alpha beta gamma delta", "en", "src0"),
    (2L, "delta gamma beta alpha", "en", "src0"),
    (3L, "alpha beta gamma epsilon", "en", "src0"),
    (4L, "zeta eta theta iota", "en", "src0")))
    .toDF("doc_id", "text", "lang", "source")

  test("exact dedup groups identical texts under the min doc_id") {
    val got = Dedup.exact(docs).orderBy("keeper_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((0L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("minhash LSH finds the exact dup but not the permuted one") {
    val got = Dedup.minhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    // d0/d1 share all shingles (jaccard 1.0); d2's reversed order shares
    // none of d0's 2-grams, so banding never pairs them. d3 sits exactly
    // at the 0.5 threshold ({a b, b g} of {a b, b g, g d|g e}) and a
    // band collision surfaces it — verification keeps it (>= 0.5).
    assert(got === Seq((0L, 1L, 1.0), (0L, 3L, 0.5), (1L, 3L, 0.5)))
  }

  test("incremental LSH screen finds cross-batch pairs only") {
    import org.apache.spark.sql.functions.col
    // batch = {1, 3}, corpus = {0, 2, 4}: the self-join miner's pairs
    // (0,1),(0,3),(1,3) restricted to cross-side become (1,0),(3,0);
    // (1,3) is batch-internal and must NOT appear
    val got = Dedup.minhashPairsIncremental(
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    assert(got === Seq((1L, 0L, 1.0), (3L, 0L, 0.5)))
  }

  test("incremental screen releases its internal persist") {
    import org.apache.spark.sql.functions.col
    // the test above ran the same plans with no scope open and left
    // them cached; a scope never records a plan someone else cached, so
    // start from an empty cache to see this scope's own persists
    spark.catalog.clearCache()
    val before = cachedPlans
    graft.sources.CacheScope.run {
      Dedup.minhashPairsIncremental(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0)).collect()
      assert(cachedPlans > before)
    }
    assert(cachedPlans === before)
  }

  test("blocked word-set Jaccard catches exact AND permuted dups") {
    val got = Dedup.ngramJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    assert(got === Seq((0L, 1L, 1.0), (0L, 2L, 1.0), (1L, 2L, 1.0)))
  }

  test("simhash is word-set based: equal for exact and permuted dups") {
    val m = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(0L) === m(1L))
    assert(m(0L) === m(2L))
    assert(m(0L)._2 === (m(0L)._1 >> 45)) // bucket is Manku block 0
    assert((0 to 4).forall(i => m(i.toLong)._1 < (1L << 60)))
    assert((0 to 4).forall(i => m(i.toLong)._1 >= 0L))
  }

  test("simhash pairs: identical/permuted docs collide at hamming 0") {
    val got = Dedup.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // d0/d1/d2 share a word set → identical simhash → hamming 0; they
    // must all pair within the shared bucket
    assert(got.filter(_._3 == 0L).map(p => (p._1, p._2))
      .toSet.contains((0L, 1L)))
    assert(got.contains((0L, 2L, 0L)) && got.contains((1L, 2L, 0L)))
    assert(got.forall(_._3 <= 3L))
  }

  test("the Hamming miners reject a negative radius before caching anything") {
    // maxHamming + 1 blocks: -1 would be zero blocks of the 60- and
    // 64-bit fingerprints
    val hashes = spark.createDataFrame(Seq((0L, 5L), (1L, 7L)))
      .toDF("doc_id", "dhash")
    val before = cachedPlans
    intercept[IllegalArgumentException](Dedup.simhashPairs(docs, -1))
    intercept[IllegalArgumentException](Multimodal.dhashPairs(hashes, -1))
    intercept[IllegalArgumentException](Multimodal.audioFpPairs(
      hashes.withColumnRenamed("dhash", "fp"), -2))
    assert(cachedPlans === before)
  }

  test("clusters collapse pair graph to min-id survivors, singletons keep their id") {
    val got = Dedup.clusters(docs, Dedup.minhashPairs(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // pairs (0,1),(0,3),(1,3) → component {0,1,3} labeled 0;
    // d2 (permuted) and d4 (distinct) stay their own clusters
    assert(got === Seq((0L, 0L), (1L, 0L), (2L, 2L), (3L, 0L), (4L, 4L)))
  }

  test("distributed min-label clusters equal the driver union-find labels") {
    // chain components force multi-hop label propagation — the shape
    // the iterative path must converge on, not just star graphs
    val chainDocs = spark.createDataFrame(
      (0L to 9L).map(i => (i, s"text $i", "en", "s")))
      .toDF("doc_id", "text", "lang", "source")
    val pairs = spark.createDataFrame(Seq(
      (0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0), // 4-chain → label 0
      (5L, 6L, 1.0), (6L, 7L, 1.0)))               // 3-chain → label 5
      .toDF("doc_a", "doc_b", "jaccard")
    def labels(localThreshold: Int) =
      Dedup.clusters(chainDocs, pairs, localThreshold = localThreshold)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val driver = labels(100000)     // union-find fast path
    val distributed = labels(0)     // forced min-label iteration
    assert(distributed === driver)
    assert(driver === Seq(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 9L))
  }

  test("clusters' driver union-find labels every doc of a fixed edge list") {
    // the mined edge lists of two DedupProps corpora (generator seeds 109
    // and 114), in mining order: path compression writes into the
    // parent table while the mapping reads it back, and a write that
    // grows the table under a live key iteration used to drop docs from
    // the mapping, leaving them labeled as their own cluster
    val s = spark; import s.implicits._
    val cases = Seq(
      51L -> Seq((12L, 16L), (12L, 26L), (5L, 8L), (31L, 45L), (32L, 40L),
        (32L, 47L), (40L, 47L), (0L, 22L), (9L, 25L), (16L, 26L),
        (27L, 41L), (13L, 35L), (21L, 23L)),
      45L -> Seq((2L, 5L), (2L, 33L), (15L, 22L), (5L, 33L), (11L, 17L),
        (11L, 39L), (0L, 42L), (6L, 32L), (18L, 41L), (17L, 39L),
        (3L, 17L), (3L, 11L), (3L, 39L), (13L, 40L), (21L, 30L)))
    cases.foreach { case (n, edges) =>
      // component minima by relaxation to a fixpoint
      val want = Array.tabulate(n.toInt)(_.toLong)
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (a, b) =>
          val m = math.min(want(a.toInt), want(b.toInt))
          if (want(a.toInt) != m || want(b.toInt) != m) {
            want(a.toInt) = m; want(b.toInt) = m; changed = true
          }
        }
      }
      val got = Dedup.clusters((0L until n).toDF("doc_id"),
          edges.toDF("doc_a", "doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got === want.toSeq.zipWithIndex.map { case (c, d) => (d.toLong, c) })
    }
  }

  test("bestSurvivors keeps the highest score per cluster where min-id keeps the shortest") {
    val d = spark.createDataFrame(Seq(
      (0L, "tweet", 5L),           // cluster {0,1,2}: min-id keeps 0...
      (1L, "the full article body", 21L), // ...keep-best keeps 1
      (2L, "article excerpt", 15L),
      (3L, "solo", 4L)))           // singleton survives with n_docs=1
      .toDF("doc_id", "text", "n_chars")
    val pairs = spark.createDataFrame(Seq(
      (0L, 1L, 1.0), (1L, 2L, 1.0)))
      .toDF("doc_a", "doc_b", "jaccard")
    val got = Dedup.bestSurvivors(d, pairs,
      org.apache.spark.sql.functions.col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Seq((0L, 1L, 21L, 3L), (3L, 3L, 4L, 1L)))
    // tie on score breaks to the LOWER doc_id
    val tie = spark.createDataFrame(Seq(
      (7L, "aaaa", 4L), (8L, "bbbb", 4L)))
      .toDF("doc_id", "text", "n_chars")
    val tiePairs = spark.createDataFrame(Seq((7L, 8L, 1.0)))
      .toDF("doc_a", "doc_b", "jaccard")
    val tieGot = Dedup.bestSurvivors(tie, tiePairs,
      org.apache.spark.sql.functions.col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(tieGot === Seq((7L, 7L)))
  }

  test("bestSurvivors: a null score loses to ANY real score, all-null degrades to min-id") {
    import org.apache.spark.sql.functions.col
    // cluster {0,1}: doc 0 has NULL score, doc 1 scores -3 — without the
    // explicit MinValue sort key, struct-null ordering would let the
    // negative real score lose to... nothing visible; pin that the real
    // score wins even when negative
    val d = spark.createDataFrame(Seq[(Long, java.lang.Long)](
      (0L, null), (1L, -3L),
      (5L, null), (6L, null)))   // all-null cluster → min-id keeper
      .toDF("doc_id", "q")
    val pairs = spark.createDataFrame(Seq((0L, 1L, 1.0), (5L, 6L, 1.0)))
      .toDF("doc_a", "doc_b", "jaccard")
    val got = Dedup.bestSurvivors(d, pairs, col("q")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
    // winner's q_score reports as-is: -3 for the real winner, null
    // (not the MinValue sentinel) for the all-null cluster's keeper
    assert(got === Seq((0L, 1L, Some(-3L), 2L), (5L, 5L, None, 2L)))
  }

  test("hot-fingerprint df cap bounds the winnow/containment candidate blow-up") {
    // n docs all carrying one 10-word boilerplate run inside unique
    // padding: every fingerprint of the run has df = n, and the
    // UNCAPPED self-join pays the full quadratic bucket — the
    // straggler shape the cap exists to kill at 100 TB
    val boiler = "all rights reserved contact our site terms of service apply"
    val n = 12
    val d = spark.createDataFrame((0 until n).map(i =>
      (i.toLong, s"d${i}a d${i}b d${i}c $boiler d${i}x d${i}y d${i}z",
        "en", "s")))
      .toDF("doc_id", "text", "lang", "source")
    val uncapped = Dedup.winnowPairs(d, minShared = 1, maxDf = Long.MaxValue)
    assert(uncapped.count() === n.toLong * (n - 1) / 2)
    // capped below n: boilerplate fingerprints drop BEFORE the join and
    // the candidate set collapses — paddings share nothing
    assert(Dedup.winnowPairs(d, minShared = 1,
      maxDf = (n - 1).toLong).count() === 0L)
    assert(Dedup.containmentPairs(d, minShared = 1, thresholdPm = 0L,
      maxDf = (n - 1).toLong).count() === 0L)
    // a GENUINE excerpt mines through the cap: docs 0/1 additionally
    // share a rare 7-word quote (df = 2 fingerprints survive)
    val quote = "singular value decomposition of the kernel matrix"
    val d2 = spark.createDataFrame((0 until n).map { i =>
      val extra = if (i < 2) s" $quote" else ""
      (i.toLong, s"d${i}a d${i}b d${i}c $boiler d${i}x d${i}y d${i}z$extra",
        "en", "s")
    }).toDF("doc_id", "text", "lang", "source")
    val survived = Dedup.winnowPairs(d2, minShared = 1,
      maxDf = (n - 1).toLong).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(survived === Seq((0L, 1L)))
    // streaming index twin: no fingerprint past the cap ever enters the
    // static artifact (so no micro-batch can flood on it)
    val idx = graft.streaming.DocStreams.winnowFpIndex(d, maxDf = (n - 1).toLong)
    val maxIdxDf = idx.groupBy("fp").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0)
    assert(maxIdxDf.isNullAt(0) || maxIdxDf.getLong(0) <= (n - 1).toLong)
    val idxOpen = graft.streaming.DocStreams.winnowFpIndex(d, maxDf = Long.MaxValue)
    assert(idxOpen.count() > idx.count())
  }

  test("sourceOverlap: unordered source pairs, pair and distinct-doc counts") {
    val d = spark.createDataFrame(Seq(
      (0L, "srcA"), (1L, "srcB"), (2L, "srcA"), (3L, "srcB"), (4L, "srcA")))
      .toDF("doc_id", "source")
    val pairs = spark.createDataFrame(Seq(
      (0L, 1L), (0L, 3L), (2L, 4L), (1L, 3L)))
      .toDF("doc_a", "doc_b")
    val got = Dedup.sourceOverlap(d, pairs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // (A,B) from pairs (0,1),(0,3) touching docs {0,1,3}; the diagonal
    // rows count within-source duplication
    assert(got === Seq(
      ("srcA", "srcA", 1L, 2L),
      ("srcA", "srcB", 2L, 3L),
      ("srcB", "srcB", 1L, 2L)))
    // orientation-invariant: flipping every pair changes nothing
    val flipped = Dedup.sourceOverlap(d, pairs.select(
      pairs("doc_b").as("doc_a"), pairs("doc_a").as("doc_b"))).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(flipped === got)
  }

  test("containmentPairs mines the excerpt pair resemblance dedup is blind to") {
    // quote = an 11-word span quoted VERBATIM inside a 44-word article
    // padded with unrelated text: word-set Jaccard ~ 11/44 — far under
    // any resemblance threshold, and the minhash length prefilter
    // excludes the pair outright — but containment of the quote's
    // 3-gram shingles in the article is exactly 1.0
    val quote = "the quick brown fox jumps over the lazy dog every day"
    val pad1 = (1 to 11).map(i => s"p$i").mkString(" ")
    val pad2 = (12 to 33).map(i => s"p$i").mkString(" ")
    val d = spark.createDataFrame(Seq(
      (0L, quote, "en", "s"),
      (1L, s"$pad1 $quote $pad2", "en", "s"),
      (2L, (1 to 20).map(i => s"q$i").mkString(" "), "en", "s")))
      .toDF("doc_id", "text", "lang", "source")
    val got = Dedup.containmentPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((0L, 1L, 10000L)))
    // the resemblance miners genuinely miss it (the operator's reason
    // to exist): no minhash pair, and word-Jaccard is ~0.25
    assert(Dedup.minhashPairs(d).collect().isEmpty)
    // sub-threshold containment is verified OUT: doc 3 shares the
    // quote's first 9 words (7 of its 9 shingles), then diverges —
    // containment 7*10000 // 9 = 7777 pm, under the 8000 default
    val d2 = d.unionByName(spark.createDataFrame(Seq(
      (3L, "the quick brown fox jumps over the lazy dog beside a river yesterday",
        "en", "s"))).toDF("doc_id", "text", "lang", "source"))
    val got2 = Dedup.containmentPairs(d2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 === Seq((0L, 1L)))
    // and it IS reported at a lower threshold, with the truncating
    // per-myriad arithmetic exact (min side = the quote's 9 shingles)
    val loose = Dedup.containmentPairs(d2, thresholdPm = 7000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(loose.contains((0L, 3L, 7777L)))
    // its scope releases its persists (from an empty cache: the
    // unscoped calls above left the same plans cached)
    spark.catalog.clearCache()
    val before = cachedPlans
    graft.sources.CacheScope.run {
      Dedup.containmentPairs(d).collect()
      assert(cachedPlans > before)
    }
    assert(cachedPlans === before)
  }

  test("containmentSurvivors drops the contained (smaller) side, superset keeps") {
    import org.apache.spark.sql.functions.{col, length}
    val quote = "the quick brown fox jumps over the lazy dog every day"
    val pad1 = (1 to 11).map(i => s"p$i").mkString(" ")
    val pad2 = (12 to 33).map(i => s"p$i").mkString(" ")
    val d = spark.createDataFrame(Seq(
      (0L, quote, "en", "s"),
      (1L, s"$pad1 $quote $pad2", "en", "s"),
      (2L, (1 to 20).map(i => s"q$i").mkString(" "), "en", "s")))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    // doc 0 (the excerpt) drops, the ARTICLE keeps its content —
    // the reverse of a min-id convention, which would delete the
    // superset and lose text
    val got = Dedup.containmentSurvivors(d).collect()
      .map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 2L))
    // equal-size mutual containment ties to the lower id (the
    // exact-dedup keeper convention)
    val twins = spark.createDataFrame(Seq(
      (5L, quote, "en", "s"), (9L, quote, "en", "s")))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    assert(Dedup.containmentSurvivors(twins).collect()
      .map(_.getLong(0)).toSeq === Seq(5L))
  }

  test("minhash signatures are stable and identical for identical docs") {
    val sigs = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    assert(sigs(0L) === sigs(1L))
    assert(sigs(0L) !== sigs(4L))
    // band = sig·1000003 + sig with sigs < p
    assert(sigs.values.flatten.forall(b =>
      b >= 0 && b < 1000000007L * 1000003L + 1000000007L))
  }

  test("tuneBands: S-curve optimum pins the shipped 4x2 geometry") {
    // (1/b)^(1/r) at n=8: (1,8)=1.00 (2,4)=.84 (4,2)=.50 (8,1)=.125
    assert(Dedup.tuneBands(8, 0.5) === ((4, 2)))
    assert(Dedup.tuneBands(8, 0.8) === ((2, 4)))
    assert(Dedup.tuneBands(8, 0.12) === ((8, 1)))
    // geometry laws: b·r == n; target↑ never ADDS bands (monotone
    // trade of recall for precision); equidistant ties take more bands
    for (n <- Seq(8, 12, 16, 64); t <- 1 to 19) {
      val (b, r) = Dedup.tuneBands(n, t / 20.0)
      assert(b * r === n, s"n=$n t=$t")
    }
    val bandsAt = (1 to 19).map(t => Dedup.tuneBands(16, t / 20.0)._1)
    assert(bandsAt === bandsAt.sorted.reverse, s"non-monotone: $bandsAt")
    intercept[IllegalArgumentException](Dedup.tuneBands(8, 0.0))
    intercept[IllegalArgumentException](Dedup.tuneBands(0, 0.5))
  }

  test("calibratedJaccardMicro: an all-identical corpus saturates the " +
    "threshold to the exact-duplicate edge; the calibrated miner then " +
    "pairs every clone with the threshold riding the output") {
    val s = spark; import s.implicits._
    val clones = (0L until 8L).map(i =>
        (i, "alpha beta gamma delta", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
    val cal = Dedup.calibratedJaccardMicro(clones).collect().head
    // every random partner pair has J = 1.0 → mode bucket 9 → the
    // only qualifying edge is the fallback bucket 10 → J ≥ 1.0
    assert(cal.getLong(0) === 1000000L && cal.getLong(1) === 9L)
    val pairs = Dedup.ngramJaccardPairsCalibrated(clones).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(pairs.length === 8 * 7 / 2)
    assert(pairs.forall(p => p._3 === 1.0 && p._4 === 1000000L))
  }

  test("the template fixture's structural gap forces the calibration " +
    "to tau=0.3 and the miner admits exactly the same-cell pairs") {
    val s = spark; import s.implicits._
    // 240 docs on the testdata id/source layout: per source 12 docs,
    // cluster (id div 20) mod 5 -> cell sizes {3,3,2,2,2}; same-cell
    // J >= 17/25 = 0.68, cross <= 12/44 = 0.273 -> buckets 3-5 empty
    val base = (0L until 240L).map(i =>
        (i, "ignored", "en", s"src${i % 20}"))
      .toDF("doc_id", "text", "lang", "source")
    val fix = graft.analog.ExtraAnalogs.templateDocs(base)
    val cal = Dedup.calibratedJaccardMicro(fix).collect().head
    assert(cal.getLong(0) === 300000L)
    val pairs = Dedup.ngramJaccardPairsCalibrated(fix).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // pairs per source: C(3,2)*2 + C(2,2)*3 = 9 -> 180 corpus-wide
    assert(pairs.length === 180)
    assert(pairs.forall(p => p._3 >= 0.68 && p._4 === 300000L))
    // every admitted pair shares (source, cluster) -- no cross-cell
    // pair can reach 0.3 by construction
    assert(pairs.forall { case (a, b, _, _) =>
      a % 20 == b % 20 && (a / 20) % 5 == (b / 20) % 5 })
  }

  test("calibratedHammingRadius: a one-clone-class corpus puts the " +
    "mode at bucket 0 and the sentinel mines nothing (route to exact)") {
    val s = spark; import s.implicits._
    val clones = (0L until 8L).map(i =>
        (i, "alpha beta gamma delta", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
    val cal = Dedup.calibratedHammingRadius(clones).collect().head
    assert(cal.getLong(0) === -1L && cal.getLong(1) === 0L)
    assert(Dedup.simhashPairsCalibrated(clones).collect().isEmpty)
  }

  test("simhashPairsCalibrated replay law: the plain miner cut at " +
    "min(3, radius) with the raw radius riding") {
    val s = spark; import s.implicits._
    val base = (0L until 240L).map(i =>
        (i, "ignored", "en", s"src${i % 20}"))
      .toDF("doc_id", "text", "lang", "source")
    val fix = graft.analog.ExtraAnalogs.templateDocs(base)
    val cal = Dedup.calibratedHammingRadius(fix).collect().head
    val r = cal.getLong(0)
    val got = Dedup.simhashPairsCalibrated(fix).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(got.forall(p => p._3 <= math.min(3L, r) && p._4 === r))
    val plain = Dedup.simhashPairs(fix).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .filter(_._3 <= math.min(3L, r)).toSet
    assert(got.map(p => (p._1, p._2, p._3)).toSet === plain)
    assert(got.nonEmpty)
  }

  test("ngramJaccardPairsCalibrated is the plain miner cut at the " +
    "calibrated integer threshold (the replay law)") {
    val got = Dedup.ngramJaccardPairsCalibrated(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.nonEmpty)
    val t = got.head._4
    assert(got.map(_._4).distinct === Array(t))
    val plain = Dedup.ngramJaccardPairs(docs,
        math.min(0.95, math.max(0.1, t / 1e6)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => math.round(p._3 * 1e6) >= t)
      .toSet
    assert(got.map(p => (p._1, p._2, p._3)).toSet === plain)
    // the calibrated cut never admits below-threshold pairs
    assert(got.forall(p => math.round(p._3 * 1e6) >= t))
  }
}
