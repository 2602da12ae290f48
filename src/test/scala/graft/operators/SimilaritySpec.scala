package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class SimilaritySpec extends AnyFunSuite with SparkSpec {

  // v0≡v1, v2 ⟂ v0, v3 = -v0
  private lazy val embs = spark.createDataFrame(Seq(
    (0L, Seq(1f, 0f, 0f, 0f), 0),
    (1L, Seq(1f, 0f, 0f, 0f), 0),
    (2L, Seq(0f, 1f, 0f, 0f), 1),
    (3L, Seq(-1f, 0f, 0f, 0f), 1)))
    .toDF("vec_id", "embedding", "label")

  test("embHealth: orthonormal corpus lands entirely in the cos-0 bucket") {
    val s = spark; import s.implicits._
    // 8 orthonormal basis vectors: every cross pair has cosine 0 —
    // whatever partner the hash draws, the profile is ONE bucket-5
    // row with mean 0 and full share
    val ortho = (0 until 8).map { i =>
      (i.toLong, Seq.tabulate(8)(j => if (j == i) 1f else 0f), 0)
    }.toDF("vec_id", "embedding", "label")
    val got = Similarity.embHealth(ortho).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length === 1)
    val (bucket, nPairs, mean, share) = got.head
    assert(bucket === 5L && mean === 0L && share === 10000L)
    assert(nPairs >= 1L && nPairs <= 8L) // self-partners dropped
  }

  test("embHealth: aligned/opposed corpus splits across the edge buckets") {
    val s = spark; import s.implicits._
    // only ±e0: every cross pair has cosine ±1 → buckets {0, 9} only,
    // means exactly ∓10⁶, shares sum to ≤ 10000 (truncating div)
    val polar = (0 until 10).map { i =>
      (i.toLong, Seq(if (i % 2 == 0) 1f else -1f, 0f, 0f, 0f), 0)
    }.toDF("vec_id", "embedding", "label")
    val got = Similarity.embHealth(polar).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSet.subsetOf(Set(0L, 9L)))
    got.foreach { case (b, mean, _) =>
      assert(mean === (if (b == 0L) -1000000L else 1000000L))
    }
    assert(got.map(_._3).sum <= 10000L)
  }

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    val sims = embs.alias("a").crossJoin(embs.alias("b"))
      .filter(col("a.vec_id") === 0)
      .select(col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding"),
          Similarity.norm(col("a.embedding")),
          Similarity.norm(col("b.embedding"))).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sims(0L) === 1.0)
    assert(sims(1L) === 1.0)
    assert(sims(2L) === 0.0)
    assert(sims(3L) === -1.0)
  }

  test("brute-force top-k ranks by sim desc with vec_id tie-break") {
    val got = Similarity.bruteForceTopK(embs, nQueries = 1, k = 3).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got === Seq((1L, 1.0, 1L), (2L, 0.0, 2L), (3L, -1.0, 3L)))
  }

  test("cosineTopKBetween: split form equals bruteForceTopK on the prefix split") {
    import org.apache.spark.sql.functions.col
    val whole = Similarity.bruteForceTopK(embs, nQueries = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    val split = Similarity.cosineTopKBetween(
      embs.filter(col("vec_id") < 2), embs, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    assert(split === whole)
  }

  test("exact rankers refuse an over-cap query frame, accept a bounded one") {
    import org.apache.spark.sql.functions.col
    // cosineTopKBetween: bounded-count guard — the pass path (frame
    // within the cap) and the fail path (frame exceeds it) both
    // exercised with a tiny cap so the probe stays cheap
    val ok = Similarity.cosineTopKBetween(
      embs.filter(col("vec_id") < 2), embs, k = 1, maxQueries = 2)
    assert(ok.count() === 2)
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineTopKBetween(embs, embs, k = 1, maxQueries = 3)
    }
    assert(e.getMessage.contains("too large to broadcast"))
    // pqTopK's query side is id-prefix-bounded, so its guard is the
    // parameter itself — no counting job
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pqTopK(embs, Seq(Seq(Array(0L))),
        nQueries = Similarity.MaxBroadcastQueries.toInt + 1)
    }
    assert(e2.getMessage.contains("nQueries"))
  }

  test("cosineTopKBetween: guard=false composes lazily (no probe job at construction)") {
    import org.apache.spark.sql.functions.col
    // the same over-cap frame that throws under the default guard
    // CONSTRUCTS fine unguarded — proof the probe job is skipped and
    // the plan stays lazily composable (round-14 ADVICE); results are
    // identical to the guarded build on a bounded frame
    val plan = Similarity.cosineTopKBetween(embs, embs, k = 1,
      maxQueries = 3, guard = false)
    assert(plan.columns.toSeq ===
      Seq("query_id", "neighbor_id", "sim", "rank"))
    val q = embs.filter(col("vec_id") < 2)
    val guarded = Similarity.cosineTopKBetween(q, embs, k = 2).collect()
    val unguarded = Similarity.cosineTopKBetween(q, embs, k = 2,
      guard = false).collect()
    assert(guarded.map(_.toSeq).toSeq === unguarded.map(_.toSeq).toSeq)
  }

  test("ivf2Upsert == full index rebuild under the same models (per-vector independence)") {
    import org.apache.spark.sql.functions.col
    val full = spark.createDataFrame(
      (0 until 24).map { i =>
        (i.toLong,
          Seq.tabulate(8)(j => ((((i * 13 + j * 7) % 11) - 5) / 5.0f)), 0)
      }).toDF("vec_id", "embedding", "label")
    val corp = full.filter(col("vec_id") % 4 =!= 0)
    val arr = full.filter(col("vec_id") % 4 === 0)
    val (l1, l2) = Similarity.trainIvfTwoLevel(corp, 2, 2, 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("c2", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // upsert of the arrival slice into the corpus index IS the full
    // rebuild's index — assignment is per-vector, so incremental and
    // batch assignment cannot differ
    val upserted = Similarity.ivf2Upsert(
      Similarity.ivf2Cells(corp, l1, l2, 2), arr, l1, l2, 2)
    assert(rows(upserted) === rows(Similarity.ivf2Cells(full, l1, l2, 2)))
    // and the probe over the merged lists equals the rebuilt probe
    val a = Similarity.ivf2TopKFromIndex(upserted, full, l1, l2, 2,
      nQueries = 6, k = 2).collect().map(_.toSeq).toSeq
    val b = Similarity.ivf2TopKFromIndex(
      Similarity.ivf2Cells(full, l1, l2, 2), full, l1, l2, 2,
      nQueries = 6, k = 2).collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("chooseCells2: balanced factorization covers chooseCells at O(sqrt k) routing") {
    for (n <- Seq(1L, 64L, 65L, 10000L, 1000000L, 123456789L)) {
      val k = Similarity.chooseCells(n)
      val (l1, l2) = Similarity.chooseCells2(n)
      assert(l1 >= 1 && l2 >= 1)
      assert(l1.toLong * l2 >= k, s"n=$n: $l1*$l2 < $k")
      // balanced: each level within one of sqrt(k) — the routing cost
      // l1 + l2 stays O(sqrt k), the operator's reason to exist
      assert(l1 <= math.ceil(math.sqrt(k.toDouble)).toInt)
      assert(l2 <= l1 + 1 || l1.toLong * l2 - k < l1,
        s"n=$n: unbalanced split $l1 x $l2 for k=$k")
    }
  }

  test("two-level IVF with nL1=1 degenerates to flat ivfTopK exactly") {
    // 24 vectors in 4 well-separated directions + noise dims, so both
    // routers have real structure to train on
    val pts = spark.createDataFrame((0 until 24).map { i =>
      val base = Array.fill(8)(0.05f * ((i * 7 % 5) - 2))
      base(i % 4) = 1f
      (i.toLong, base.toSeq, i % 4)
    }).toDF("vec_id", "embedding", "label")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    val flat = Similarity.ivfTopK(pts, nQueries = 6, k = 3,
      nCells = 4, nprobe = 2)
    val two = Similarity.ivf2TopK(pts, nQueries = 6, k = 3,
      nL1 = 1, nL2 = 4, nprobe1 = 1, nprobe2 = 2)
    assert(rows(two) === rows(flat))
    // and the trainers agree model-for-model: one coarse cell means
    // the fine level IS the flat Lloyd (same seeds, same updates)
    val (l1, l2) = Similarity.trainIvfTwoLevel(pts, nL1 = 1, nL2 = 4)
    assert(l1.size === 1)
    assert(l2.map(_.toSeq) ===
      Similarity.trainIvfCentroids(pts, 4).map(_.toSeq))
  }

  test("two-level IVF separates clusters and recovers in-cluster neighbors") {
    val pts = spark.createDataFrame((0 until 32).map { i =>
      val base = Array.fill(8)(0f)
      base(i % 4) = 1f
      base(4 + (i % 2)) = 0.3f * ((i / 4 % 3) - 1)
      (i.toLong, base.toSeq, i % 4)
    }).toDF("vec_id", "embedding", "label")
    val got = Similarity.ivf2TopK(pts, nQueries = 4, k = 3,
      nL1 = 2, nL2 = 2, nprobe1 = 2, nprobe2 = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty)
    // every retrieved neighbor shares its query's direction class —
    // the orthogonal clusters never cross under a working router
    got.foreach { case (q, n) =>
      assert(q % 4 === n % 4, s"cross-cluster neighbor: $q -> $n")
    }
  }

  test("mmrRerank: redundant near-duplicate demoted below a diverse pick") {
    import org.apache.spark.sql.functions.col
    // q = x-axis; c2 (smallest tilt) is the best match; c1 has HIGHER
    // relevance than c3 but is a near-duplicate of the pick
    // (redundancy ~0.99995), while c3 tilts the other way
    // (redundancy ~0.93) — pure top-k ranks c1 second, MMR must rank
    // c3 second
    val q = spark.createDataFrame(Seq(
      (100L, Seq(1f, 0f, 0f, 0f), 0))).toDF("vec_id", "embedding", "label")
    val corpus = spark.createDataFrame(Seq(
      (1L, Seq(1f, 0.2f, 0f, 0f), 0),
      (2L, Seq(1f, 0.19f, 0f, 0f), 0),
      (3L, Seq(1f, -0.2f, 0f, 0f), 0))).toDF("vec_id", "embedding", "label")
    val plain = Similarity.cosineTopKBetween(q, corpus, k = 3).collect()
      .map(_.getLong(1)).toSeq
    assert(plain === Seq(2L, 1L, 3L)) // relevance order
    val mmr = Similarity.mmrRerank(q, corpus, kCand = 3, k = 3).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(mmr.map(_._1).toSeq === Seq(2L, 3L, 1L),
      s"diversity did not demote the near-dup: ${mmr.toSeq}")
    // pick 1's objective is its pure relevance; later objectives are
    // rel minus redundancy, so they strictly drop here
    assert(mmr.map(_._2).toSeq === mmr.map(_._2).sortBy(-_).toSeq)
    // determinism across runs (collect_list order independence)
    val again = Similarity.mmrRerank(q, corpus, kCand = 3, k = 3).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq === mmr.toSeq)
  }

  test("sign bucket: in range, collision for identical, flip for opposite") {
    val buckets = embs
      .select(col("vec_id"), Similarity.signBucket(col("embedding")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets.values.forall(b => b >= 0 && b < 16))
    assert(buckets(0L) === buckets(1L)) // identical vectors collide
    // -v flips the sign of every nonzero hyperplane dot, so the bucket
    // is the bitwise complement within the mask
    assert(buckets(3L) === (~buckets(0L) & 15L))
  }

  test("chooseBits sizes the bucket count with the corpus") {
    assert(Similarity.chooseBits(4) === 1)
    assert(Similarity.chooseBits(128) === 1)
    assert(Similarity.chooseBits(129) === 2)
    assert(Similarity.chooseBits(500) === 3)
    assert(Similarity.chooseBits(5000) === 7)
    assert(Similarity.chooseBits(100000000L) === 16) // capped
  }

  test("near-dup pairs: only the identical pair clears 0.9 cosine") {
    val got = Similarity.nearDupPairs(embs, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq((0L, 1L, 1.0)))
  }

  test("caller-supplied corpusN skips the count with IDENTICAL buckets/results") {
    val n = embs.count()
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    assert(pairs(Similarity.nearDupPairs(embs, 0.3, corpusN = n)) ===
      pairs(Similarity.nearDupPairs(embs, 0.3)))
    assert(Similarity.lshTopK(embs, nQueries = 2, k = 2, corpusN = n)
      .collect().toSeq ===
      Similarity.lshTopK(embs, nQueries = 2, k = 2).collect().toSeq)
  }

  test("near-dup survivors drop exactly the larger side of each pair") {
    // pairs at 0.9: only (0,1) → survivor set = all but vec 1
    val got = Similarity.nearDupSurvivors(embs, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((0L, 0L), (2L, 1L), (3L, 1L)))
  }

  test("IVF k-means separates the clusters; nprobe=2 recovers cross-cell neighbors") {
    // seeds are v0,v1 (identical) — useless as-is; two Lloyd rounds
    // must pull {v0,v1} and {v2,v3} into distinct cells
    val cells = Similarity.ivfCells(embs, nCells = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(cells(0L) === cells(1L)) // identical vectors co-assign
    assert(cells(2L) === cells(3L))
    assert(cells(0L) !== cells(2L)) // trained centroids separate them
    // query v0 probes both cells, so the orthogonal v2 is reachable
    // even though it lives in the other cell
    val got = Similarity.ivfTopK(embs, nQueries = 1, k = 2, nCells = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, 1.0), (2L, 0.0)))
  }

  test("semanticDedup keeps one of each within-cell twin pair") {
    // v0 ≡ v1 land in one cell (see the IVF test): the larger id v1
    // drops; v2 and v3 share the other cell at cosine -1 — no twin,
    // both survive
    val got = Similarity.semanticDedup(embs, nCells = 2, threshold = 0.9)
      .collect().map(r => r.getLong(0)).toSeq
    assert(got === Seq(0L, 2L, 3L))
    // threshold below -1 makes every within-cell pair a twin: only the
    // smallest id of each cell survives
    val all = Similarity.semanticDedup(embs, nCells = 2, threshold = -1.0)
      .collect().map(r => r.getLong(0)).toSeq
    assert(all === Seq(0L, 2L))
  }

  test("chooseCells: ceil(n/target), floor 1, pure integer") {
    assert(Similarity.chooseCells(0L) === 1)
    assert(Similarity.chooseCells(1L) === 1)
    assert(Similarity.chooseCells(64L) === 1)
    assert(Similarity.chooseCells(65L) === 2)
    assert(Similarity.chooseCells(500L) === 8) // sf0.01 embeddings
    assert(Similarity.chooseCells(5000L) === 79)
    assert(Similarity.chooseCells(100L, target = 10L) === 10)
  }

  test("semanticDedup auto-sizes cells and its scope releases the cache") {
    val before = cachedPlans
    val got = graft.sources.CacheScope.run {
      val rows = Similarity.semanticDedup(embs, threshold = 0.9,
        corpusN = 4L).collect().map(r => r.getLong(0)).toSeq
      assert(cachedPlans > before)
      rows
    }
    // at k = chooseCells(4) = 1 every vector shares one cell; v1 is
    // still v0's only >= 0.9 twin, so the survivor set is unchanged
    assert(got === Seq(0L, 2L, 3L))
    assert(cachedPlans === before)
  }

  test("quantize: int8 range, exact extremes, error certificate bound") {
    val s = spark; import s.implicits._
    val vecs = Seq(
      (0L, Seq(0.5f, -0.25f, 0.125f), 0),
      (1L, Seq(1f, 0f, 0f), 0),      // axis vector: q = (127, 0, 0)
      (2L, Seq(0f, 0f, 0f), 1))      // all-zero: sc = 0, q all 0
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.quantize(vecs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(3)))
      .toMap
    // max component quantizes to exactly +-127; halves of it to +-64/32
    assert(rows(0L)._2 === "127 -64 32")
    assert(rows(1L)._2 === "127 0 0")
    assert(rows(2L) === ((0L, "0 0 0", 0L)))
    // rounding bound: |127 v - q s| <= s (half-away rounding)
    rows.foreach { case (_, (sc, _, err)) => assert(err <= math.max(sc, 1L)) }
    // scale is the max |component| in 1e-6 units
    assert(rows(0L)._1 === 500000L && rows(1L)._1 === 1000000L)
  }

  test("sqTopK: hand-derived integer scores, dot-order ranking, exact ties") {
    val s = spark; import s.implicits._
    // codes are known exactly from the quantize law above:
    // v0=(127,-64,32,0)@sc=5e5, v1=(127,0,0,0)@1e6, v2=(0,127,0,0)@1e6,
    // v3=(-127,0,0,0)@1e6
    val vecs = Seq(
      (0L, Seq(0.5f, -0.25f, 0.125f, 0f), 0),
      (1L, Seq(1f, 0f, 0f, 0f), 0),
      (2L, Seq(0f, 1f, 0f, 0f), 1),
      (3L, Seq(-1f, 0f, 0f, 0f), 1)).toDF("vec_id", "embedding", "label")
    val got = Similarity.sqTopK(vecs, nQueries = 1, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // q0 vs c: dot(q̂,ĉ)·s_c — 1: 127·127·1e6; 2: −64·127·1e6; 3: −127·127·1e6
    assert(got === Seq(
      (0L, 1L, 16129000000L, 1L),
      (0L, 2L, -8128000000L, 2L),
      (0L, 3L, -16129000000L, 3L)))
  }

  test("sqTopK: recall@10 >= 0.9 vs brute force on unit-norm vectors") {
    val s = spark; import s.implicits._
    // 60 deterministic unit-norm vectors in d=64 (fixed seed): on a
    // unit-norm corpus dot order == cosine order, so the only loss is
    // int8 resolution — recall should be near-perfect, gate at 0.9
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 60L).map { id =>
      val raw = Seq.fill(64)((rnd.nextFloat() - 0.5f) * 2f)
      val n = math.sqrt(raw.map(x => x.toDouble * x).sum).toFloat
      (id, raw.map(_ / n), 0)
    }.toDF("vec_id", "embedding", "label")
    val truth = Similarity.bruteForceTopK(vecs, 5, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.sqTopK(vecs, 5, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (sq & truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"sq8 recall $recall")
  }

  test("labelFilteredTopK: neighbors share the query's label, k under-fill is real") {
    val got = Similarity.labelFilteredTopK(embs, nQueries = 5, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    // label 0 = {v0, v1} (identical), label 1 = {v2 ⟂ v3}: each query
    // has exactly ONE in-label neighbor — a post-filtered unfiltered
    // top-1 would instead return v1's twin for v2/v3 and miss these
    assert(got === Seq(
      (0L, 0L, 1L, 1.0, 1L),
      (1L, 0L, 0L, 1.0, 1L),
      (2L, 1L, 3L, 0.0, 1L),
      (3L, 1L, 2L, 0.0, 1L)))
  }

  test("indexHealth refuses an empty corpus loudly") {
    val s = spark; import s.implicits._
    val empty = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalArgumentException] {
      Similarity.indexHealth(empty)
    }
    assert(e.getMessage.contains("empty corpus"))
  }

  test("indexHealth: every cell accounted for, loads integer-exact, empties explicit") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val n = 20
    val vecs = (0L until n.toLong).map { id =>
      (id, Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2f), 0)
    }.toDF("vec_id", "embedding", "label")
    val got = Similarity.indexHealth(vecs, nCells = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1) === (0L until 8L)) // all 8 cells, empties included
    assert(got.map(_._2).sum === n.toLong)  // occupancy partitions the corpus
    got.foreach { case (_, nv, share, load) =>
      assert(share === nv * 10000L / n)
      assert(load === nv * 8L * 10000L / n)
    }
  }

  test("refineTopK: full shortlist degenerates to exact brute force") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 30L).map { id =>
      (id, Seq.fill(16)((rnd.nextFloat() - 0.5f) * 2f), 0)
    }.toDF("vec_id", "embedding", "label")
    // shortlist = ALL (query, candidate) pairs: the refine stage then
    // IS brute force — the limit law that pins the rerank's exactness
    val all = (for (q <- 0L until 5L; c <- 0L until 30L if q != c)
      yield (q, c)).toDF("query_id", "neighbor_id")
    val refined = Similarity.refineTopK(all, vecs, nQueries = 5, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    val brute = Similarity.bruteForceTopK(vecs, 5, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    assert(refined === brute)
  }

  test("ivfPqRefinedTopK: results come from the ADC shortlist, exact sims, recall never drops") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 64L).map { id =>
      (id, Seq.fill(64)((rnd.nextFloat() - 0.5f) * 2f), 0)
    }.toDF("vec_id", "embedding", "label")
    val shortlist = Similarity.ivfPqTopK(vecs, 5, 9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined = Similarity.ivfPqRefinedTopK(vecs, 5, 3, kCand = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // containment: the rerank can only reorder the shortlist
    assert(refined.forall { case (q, n, _) => shortlist((q, n)) })
    // exactness: refined sims equal the true cosines pair-for-pair
    val truth = Similarity.bruteForceTopK(vecs, 5, 63).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    refined.foreach { case (q, n, sim) => assert(sim === truth((q, n))) }
    // recall@3 of the refined ranking >= the raw ADC ranking's
    val top3 = Similarity.bruteForceTopK(vecs, 5, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val raw3 = Similarity.ivfPqTopK(vecs, 5, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined3 = refined.map { case (q, n, _) => (q, n) }.toSet
    assert((refined3 & top3).size >= (raw3 & top3).size)
  }

  test("ivfPqRefinedSweep: cost tracks nprobe only, recall is monotone in kCand, full-knob config is exact") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val n = 64
    val vecs = (0L until n.toLong).map { id =>
      (id, Seq.fill(64)((rnd.nextFloat() - 0.5f) * 2f), 0)
    }.toDF("vec_id", "embedding", "label")
    val got = Similarity.ivfPqRefinedSweep(vecs,
      configs = Seq((1, 10), (2, 10), (2, 30), (8, 10), (8, 63)),
      nQueries = 5, k = 10, nCells = 8)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // n_cand is a function of nprobe alone, strictly growing with it,
    // and at nprobe = nCells it is the whole corpus minus self
    assert(got((2L, 10L))._1 === got((2L, 30L))._1)
    assert(got((1L, 10L))._1 < got((2L, 10L))._1)
    assert(got((8L, 10L))._1 === 5L * (n - 1))
    // recall is monotone in kCand at fixed nprobe
    assert(got((2L, 30L))._3 >= got((2L, 10L))._3)
    // at full probes and kCand = corpus - 1 the shortlist is the whole
    // corpus and the exact rerank recovers recall@10 = 1 exactly
    assert(got((8L, 63L))._2 === 50L)
    assert(got((8L, 63L))._3 === 10000L)
  }

  test("sqTopKFromCodes: codes shipped through parquet score identically") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 40L).map { id =>
      (id, Seq.fill(16)((rnd.nextFloat() - 0.5f) * 2f), 0)
    }.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files
      .createTempDirectory("sq_codes").toString + "/codes"
    Similarity.sqCodes(vecs).write.mode("overwrite").parquet(dir)
    val fresh = Similarity.sqTopK(vecs, 3, 5).collect().toSeq
    val stored = Similarity.sqTopKFromCodes(
      spark.read.parquet(dir), vecs, 3, 5).collect().toSeq
    assert(stored === fresh)
  }

  test("sqIndex: static side carries codes + bucket only, floats dropped") {
    val idx = Similarity.sqIndex(embs, bits = 4)
    assert(idx.columns.toSeq === Seq("vec_id", "scale", "qv", "bucket"))
    val row = idx.filter(col("vec_id") === 1L).collect().head
    assert(row.getSeq[Long](2) === Seq(127L, 0L, 0L, 0L))
  }

  test("projectArr: the serving sketch is exactly randomProject's image, downshifted") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(19)
    val vecs = (0L until 12L).map { id =>
      (id, Seq.fill(64)((rnd.nextFloat() - 0.5f) * 2f), 0)
    }.toDF("vec_id", "embedding", "label")
    val full = Similarity.randomProject(vecs, m = 16, d = 64).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ").map(_.toLong)).toMap
    val arr = Similarity.projectArr(vecs, m = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    arr.foreach { case (id, sk) =>
      assert(sk === full(id).map(y =>
        math.floor(y / 4.0).toLong).toSeq)
    }
  }

  test("projectRefinedTopK: refine recovers over the raw sketch ranking") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 60L).map { id =>
      val raw = Seq.fill(64)((rnd.nextFloat() - 0.5f) * 2f)
      val n = math.sqrt(raw.map(x => x.toDouble * x).sum).toFloat
      (id, raw.map(_ / n), 0)
    }.toDF("vec_id", "embedding", "label")
    val truth = Similarity.bruteForceTopK(vecs, 5, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val raw = Similarity.projectTopK(vecs, 16, 5, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined = Similarity.projectRefinedTopK(vecs, 5, 5, kCand = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((refined & truth).size >= (raw & truth).size)
  }

  test("randomProject: exact integer sums against a hand-derived sign row") {
    val s = spark; import s.implicits._
    val vecs = Seq((7L, Seq(0.5f, -0.25f, 1f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.randomProject(vecs, m = 2, d = 4).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // independent derivation: v = (500000, -250000, 1000000, 0),
    // signs from the same md5 convention the operator documents
    val signs = Similarity.projSigns(2, 4)
    val v = Seq(500000L, -250000L, 1000000L, 0L)
    val want = (0 until 2).map { j =>
      v.zipWithIndex.map { case (x, i) => x * signs(j)(i).toLong }.sum
    }.mkString(" ")
    assert(got(7L) === want)
  }

  test("randomProject: JL distortion on deterministic pseudo-random vectors") {
    val s = spark; import s.implicits._
    // 20 unit-ish vectors in d=64 from a splitmix-style generator —
    // fixed seed, so the measured distortion is a stable number, not
    // a flaky statistical assertion
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 20L).map { id =>
      (id, Seq.fill(64)((rnd.nextFloat() - 0.5f) * 2f), 0)
    }.toDF("vec_id", "embedding", "label")
    val proj = Similarity.randomProject(vecs, m = 16, d = 64).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ").map(_.toDouble)).toMap
    val orig = vecs.collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble * 1e6).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val errs = for {
      i <- 0L until 20L; j <- (i + 1) until 20L
    } yield math.abs(cos(proj(i), proj(j)) - cos(orig(i), orig(j)))
    // m=16 Rademacher JL: typical distortion ~1/sqrt(m)=0.25; over
    // these 190 fixed-seed pairs the measured max is 0.659 (a tail
    // event is expected somewhere in 190 draws) and the mean ~0.19.
    // Deterministic inputs, so these bound behavior, not luck
    assert(errs.max < 0.75, s"max distortion ${errs.max}")
    assert(errs.sum / errs.size < 0.25, s"mean distortion ${errs.sum / errs.size}")
  }

  test("clusterBalancedSample caps each cell by the md5 rank") {
    val s = spark; import s.implicits._
    // 3 tight clusters of 6 vectors each, ids interleaved
    val rows = (0 until 18).map { id =>
      val cl = id % 3
      val v = Array.tabulate(6)(j =>
        (if (j == cl * 2) 10f else 0f) + ((id * 7 + j) % 5) * 0.01f)
      (id.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.clusterBalancedSample(df, perCell = 2,
      nCells = 3, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every cell contributes at most perCell rows, ranks are 1..2
    got.groupBy(_._2).foreach { case (_, g) =>
      assert(g.length <= 2)
      assert(g.map(_._3).sorted.toSeq === (1L to g.length).toSeq)
    }
    // total kept = 3 cells x 2 (every cell has >= 2 members)
    assert(got.length === 6)
    // deterministic: a second run returns the identical selection
    val again = Similarity.clusterBalancedSample(df, perCell = 2,
      nCells = 3, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === got.toSeq)
  }

  test("LSH top-k with multi-probe matches brute force on a tiny corpus") {
    // n=4 → chooseBits gives 1 bit; self + Hamming-1 probe covers both
    // buckets, so the approximate result must equal the exact one
    val got = Similarity.lshTopK(embs, nQueries = 2, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exact = Similarity.bruteForceTopK(embs, nQueries = 2, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === exact)
  }
}
