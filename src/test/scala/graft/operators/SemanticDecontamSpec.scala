package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.sources.CacheScope

/** Laws for the embedding-space hygiene family: semantic
  * decontamination (Decontam.semanticHits / semanticSurvivors, the
  * streaming contamScreen twin), the kNN-graph builder
  * (Similarity.knnGraph), and the pair-recall gate
  * (Evaluation.pairRecall).
  */
class SemanticDecontamSpec extends AnyFunSuite with SparkSpec {

  // corpus: v10 ≡ eval v0 (planted verbatim leak), v11 near-parallel
  // to v0, v12 ⟂ everything, v13 = -v0 (anti-aligned; cosine -1 must
  // NOT flag). eval: v0, plus v4 ⟂ v0 so multi-eval hits are possible.
  private lazy val corpus = spark.createDataFrame(Seq(
    (10L, Seq(1f, 0f, 0f, 0f), 0),
    (11L, Seq(0.9f, 0.1f, 0f, 0f), 0),
    (12L, Seq(0f, 0f, 1f, 0f), 1),
    (13L, Seq(-1f, 0f, 0f, 0f), 1)))
    .toDF("vec_id", "embedding", "label")

  private lazy val evalSet = spark.createDataFrame(Seq(
    (0L, Seq(1f, 0f, 0f, 0f), 0),
    (4L, Seq(0f, 0f, 0f, 1f), 0)))
    .toDF("vec_id", "embedding", "label")

  test("semanticHits: planted leak flagged at sim 1.0; orthogonal and " +
    "anti-aligned corpus vectors never flag") {
    val got = Decontam.semanticHits(corpus, evalSet, threshold = 0.8,
      bits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byId = got.map(h => h._1 -> h).toMap
    assert(byId.contains(10L) && byId(10L)._2 === 0L &&
      byId(10L)._3 === 1.0)
    assert(byId.contains(11L)) // near-parallel rewrite also caught
    assert(!byId.contains(12L) && !byId.contains(13L))
  }

  test("semanticHits: hit rows are unique per corpus vector and " +
    "n_hits counts distinct eval matches exactly") {
    val got = Decontam.semanticHits(corpus, evalSet, threshold = -1.1,
      bits = 1).collect()
    // threshold below -1: EVERY scored pair qualifies; with bits=1 and
    // Hamming-1 probes every (eval, corpus) pair is scored exactly once
    assert(got.map(_.getLong(0)).distinct.length === got.length)
    got.foreach { r =>
      assert(r.getLong(3) === evalSet.count(),
        s"vec ${r.getLong(0)}: expected every eval to hit once")
    }
  }

  test("semanticSurvivors: corpus minus flags, ids preserved") {
    val surv = Decontam.semanticSurvivors(corpus, evalSet,
      threshold = 0.8, bits = 2)
      .collect().map(_.getLong(0)).toSet
    assert(surv === Set(12L, 13L))
  }

  test("contamScreen batch twin: planted leak emits one audit row, " +
    "clean arrivals emit none") {
    val arrivals = corpus
      .withColumn("ts", expr(
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(vec_id as int),0)"))
      .select("vec_id", "embedding", "ts")
    val idx = Similarity.buildIndex(evalSet, bits = 2)
    val got = graft.streaming.VecStreams
      .contamScreen(arrivals, idx, threshold = 0.8, bits = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byId = got.map(h => h._1 -> h).toMap
    assert(byId.contains(10L) && byId(10L)._2 === 0L && byId(10L)._3 === 1.0)
    assert(byId.contains(11L))
    assert(!byId.contains(12L) && !byId.contains(13L))
  }

  test("knnGraph: self excluded, ranks dense from 1, k respected, " +
    "exact twin ranks first") {
    val embs = spark.createDataFrame(Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(1f, 0f, 0f, 0f), 0), // exact twin of 0
      (2L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (3L, Seq(0f, 1f, 0f, 0f), 1),
      (4L, Seq(0f, 0.9f, 0.1f, 0f), 1)))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnGraph(embs, k = 2, bits = 1)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    got.foreach { case (v, n, _, rk) =>
      assert(v !== n); assert(rk >= 1L && rk <= 2L)
    }
    // per-vector ranks are dense from 1
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted === (1L to rows.length).toSeq)
    }
    val first0 = got.filter(r => r._1 === 0L && r._4 === 1L).head
    assert(first0._2 === 1L && first0._3 === 1.0)
  }

  test("nnDescentRound: bridges an LSH bucket boundary through a " +
    "shared neighbor; never keeps self; ranks dense") {
    val s = spark; import s.implicits._
    // a tight cluster around e0 plus two orthogonal fillers: with
    // bits=1 some cluster members can land in opposite buckets (the
    // sign of the first hyperplane dot flips on tiny perturbations is
    // not guaranteed — so instead PLANT the boundary: hand the round
    // a graph where 0 knows 1, 1 knows 2, but 0 does not know 2; the
    // 2-hop rule must surface 2 for 0 and exact re-rank must keep it
    val embs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(0.95f, 0.05f, 0f, 0f), 0),
      (2L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (3L, Seq(0f, 1f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val plantedGraph = Seq(
      (0L, 1L), (1L, 2L), (2L, 1L), (3L, 0L))
      .toDF("vec_id", "neighbor_id")
    val got = Similarity.nnDescentRound(embs, plantedGraph, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // 0's candidates: fwd {1}, rev {3}, 2-hop {2 via 1} → top-2 by
    // cosine = 1 (0.9987) then 2 (0.9939), 3 (cos 0) ranks out
    assert(got.filter(_._1 == 0L).sortBy(_._3).map(_._2).toSeq ===
      Seq(1L, 2L))
    got.foreach { case (v, n, rk) =>
      assert(v !== n); assert(rk >= 1L)
    }
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted === (1L to rows.length).toSeq)
    }
  }

  test("nnDescentRound: a round over a complete graph is a fixpoint " +
    "(already-exact graph stays exact)") {
    val s = spark; import s.implicits._
    val embs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (2L, Seq(0f, 1f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val exact = Similarity.knnGraph(embs, k = 2, bits = 1)
    val refined = Similarity.nnDescentRound(embs, exact, k = 2)
    assert(refined.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq ===
      exact.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq)
  }

  test("labelPropagate: a clean two-cluster corpus transfers labels; " +
    "tie order is (votes, support, label asc)") {
    val s = spark; import s.implicits._
    // two tight clusters with consistent labels; each vector's
    // neighbors are its own cluster, so the vote is unanimous
    val embs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 7),
      (1L, Seq(0.99f, 0.01f, 0f, 0f), 7),
      (2L, Seq(0.98f, 0.02f, 0f, 0f), 7),
      (10L, Seq(0f, 1f, 0f, 0f), 3),
      (11L, Seq(0f, 0.99f, 0.01f, 0f), 3),
      (12L, Seq(0f, 0.98f, 0.02f, 0f), 3))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.labelPropagate(embs, k = 2, bits = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    Seq(0L, 1L, 2L).foreach(v => assert(got(v) === ((7L, 2L)), s"vec $v"))
    Seq(10L, 11L, 12L).foreach(v => assert(got(v) === ((3L, 2L)), s"vec $v"))
  }

  test("labelPropagateFromGraph: a parquet round-tripped edge list " +
    "serves the in-plan answers row-exactly (the stored-artifact law)") {
    val s = spark; import s.implicits._
    val embs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 7),
      (1L, Seq(0.99f, 0.01f, 0f, 0f), 7),
      (10L, Seq(0f, 1f, 0f, 0f), 3),
      (11L, Seq(0f, 0.99f, 0.01f, 0f), 3))
      .toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("knng").toString
    Similarity.knnGraph(embs, k = 2, bits = 1)
      .write.mode("overwrite").parquet(dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(rows(Similarity.labelPropagateFromGraph(
        spark.read.parquet(dir), embs)) ===
      rows(Similarity.labelPropagate(embs, k = 2, bits = 1)))
  }

  test("knnOutliers: the isolated vector flags, the cluster does not; " +
    "isolated-pin and cut edges are exact") {
    val s = spark; import s.implicits._
    // 19 near-identical vectors + 1 orthogonal outlier: at pm=500 the
    // p5 rank is ceil(0.05*20)=1, so exactly the score-minimum bin
    // cuts — the outlier (near-zero summed cosine) flags, the cluster
    // (scores ~2e6 at k=2) does not
    val embs = ((0L until 19L).map(i =>
        (i, Seq(1f, i.toFloat * 1e-4f, 0f, 0f), 0)) :+
        (99L, Seq(0f, 0f, 1f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnOutliers(embs, k = 2, pm = 500, bits = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byId = got.map(x => x._1 -> x).toMap
    assert(byId(99L)._4 === 1L, s"outlier must flag: ${byId(99L)}")
    (0L until 19L).foreach(v => assert(byId(v)._4 === 0L, s"vec $v"))
    // every row carries the same cut, and the flag is exactly
    // score < cut
    assert(got.map(_._3).distinct.length === 1)
    got.foreach { case (_, sc, cut, f) =>
      assert((sc < cut) === (f == 1L))
    }
  }

  test("nnDescent: a complete-graph input is a fixpoint at round 1 " +
    "(the early-stop law) and the graph equals the exact kNN graph") {
    val s = spark; import s.implicits._
    // 3 vectors, k = 2: every vector's list holds both others, so the
    // bucket graph is already complete and round 1 cannot improve it
    val embs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (2L, Seq(0f, 1f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    CacheScope.run {
      val res = Similarity.nnDescent(embs, k = 2, maxRounds = 5,
        minImprovedPm = 0L, bits = 1)
      assert(res.rounds === 1, "fixpoint must stop after round 1")
      def edges(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
      assert(edges(res.graph) ===
        edges(Similarity.knnGraph(embs, k = 2, bits = 1)))
    }
  }

  test("nnDescent at a fixed round budget equals the hand-chained " +
    "rounds (the sim_nndescent_converged oracle law)") {
    val s = spark; import s.implicits._
    val embs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(0.95f, 0.05f, 0f, 0f), 0),
      (2L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (3L, Seq(0f, 1f, 0f, 0f), 1),
      (4L, Seq(0f, 0.9f, 0.1f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    CacheScope.run {
      val looped = Similarity.nnDescent(embs, k = 2, maxRounds = 2,
        minImprovedPm = 0L, bits = 1)
      val chained = Similarity.nnDescentRound(embs,
        Similarity.nnDescentRound(embs,
          Similarity.knnGraph(embs, k = 2, bits = 1), k = 2), k = 2)
      def edges(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
      assert(edges(looped.graph) === edges(chained))
    }
  }

  test("nnDescent: minImprovedPm = 10000 stops after one round " +
    "unconditionally; maxRounds = 0 returns the raw bucket graph") {
    val s = spark; import s.implicits._
    val embs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(0.95f, 0.05f, 0f, 0f), 0),
      (2L, Seq(0f, 1f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    CacheScope.run {
      val one = Similarity.nnDescent(embs, k = 2, maxRounds = 7,
        minImprovedPm = 10000L, bits = 1)
      assert(one.rounds === 1)
    }
    CacheScope.run {
      val zero = Similarity.nnDescent(embs, k = 2, maxRounds = 0, bits = 1)
      assert(zero.rounds === 0)
      def edges(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
      assert(edges(zero.graph) ===
        edges(Similarity.knnGraph(embs, k = 2, bits = 1)))
    }
  }

  test("probeBuckets2: 1 + b + b(b-1)/2 distinct probes, every one " +
    "within Hamming 2 of the home bucket") {
    val s = spark; import s.implicits._
    (1 to 4).foreach { b =>
      val got = Seq(Tuple1(0L)).toDF("x")
        .select(Similarity.probeBuckets2(lit(5L), b).as("p"))
        .collect().head.getSeq[Long](0)
      assert(got.length === 1 + b + b * (b - 1) / 2, s"bits $b")
      assert(got.distinct.length === got.length, s"bits $b: dup probes")
      got.foreach(p => assert(
        java.lang.Long.bitCount(p ^ 5L) <= 2, s"bits $b probe $p"))
    }
  }

  test("nearDupPairs: Hamming-2 probing finds a superset of the " +
    "Hamming-1 pairs; probeHamming outside {1,2} rejects") {
    val s = spark; import s.implicits._
    val embs = (0L until 24L).map(i => (i,
        Seq(math.cos(i * 0.26).toFloat, math.sin(i * 0.26).toFloat,
          (i % 5).toFloat * 0.1f, 0.2f), 0))
      .toDF("vec_id", "embedding", "label")
    def pairs(ph: Int) = Similarity
      .nearDupPairs(embs, 0.3, bits = 4, probeHamming = ph)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val h1 = pairs(1); val h2 = pairs(2)
    assert(h1.subsetOf(h2), s"h1 \\ h2 = ${h1 -- h2}")
    intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(embs, 0.3, probeHamming = 3)
    }
  }

  test("knnOutliersFromGraph: a parquet round-tripped edge list " +
    "serves the in-plan screen row-exactly (the stored-artifact law)") {
    val s = spark; import s.implicits._
    val embs = ((0L until 9L).map(i =>
        (i, Seq(1f, i.toFloat * 1e-4f, 0f, 0f), 0)) :+
        (99L, Seq(0f, 0f, 1f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("knng_out").toString
    Similarity.knnGraph(embs, k = 2, bits = 1)
      .write.mode("overwrite").parquet(dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(rows(Similarity.knnOutliersFromGraph(
        spark.read.parquet(dir), embs, k = 2, pm = 500)) ===
      rows(Similarity.knnOutliers(embs, k = 2, pm = 500, bits = 1)))
  }

  test("graphDedupSurvivors: one canonical survivor per semantic " +
    "component; a near-dup chain collapses transitively to its min id") {
    val s = spark; import s.implicits._
    // chain 0~1~2: cos(0,1) = cos(1,2) = 0.9 > τ, cos(0,2) = 0.62 < τ
    // — the pair 0-2 is NOT an edge, yet 2 must still fall into 0's
    // component through 1 (the transitivity the pairwise screen
    // lacks); plus a 2-member cluster {5,6} and an isolated 9
    val embs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(0.9f, 0.43589f, 0f, 0f), 0),
      (2L, Seq(0.62f, 0.78465f, 0f, 0f), 0),
      (5L, Seq(0f, 0f, 1f, 0f), 1),
      (6L, Seq(0f, 0f, 0.995f, 0.0999f), 1),
      (9L, Seq(0f, 0f, 0f, 1f), 2))
      .toDF("vec_id", "embedding", "label")
    val surv = Similarity.graphDedupSurvivors(embs, tau = 0.85,
      k = 2, bits = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(surv === Seq((0L, 0L), (5L, 1L), (9L, 2L)), s"got $surv")
  }

  test("calibratedTauMicro: rule self-consistency — τ is the first " +
    "bucket edge above the histogram mode with share <= eps, exactly " +
    "as documented (recomputed from embHealth)") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val embs = (0L until 50L).map(i =>
        (i, Seq.fill(8)(rnd.nextFloat() * 2f - 1f), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val eps = 500L
    val h = Similarity.embHealth(embs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    val nTotal = h.values.map(_._1).sum
    val mode = h.toSeq.map { case (b, (np, _)) => (np, -b) }.max._2 * -1
    val expected = (0L to 10L)
      .filter(c => c > mode &&
        h.get(c).map(_._1).getOrElse(0L) * 10000L <= eps * nTotal)
      .min * 200000L - 1000000L
    val got = Similarity.calibratedTauMicro(embs, eps).collect().head
    assert(got.getLong(0) === expected, s"mode=$mode hist=$h")
    assert(got.getLong(1) === mode)
  }

  test("graphDedupSurvivorsCalibrated: survivors equal the fixed-τ " +
    "operator at the calibrated τ, with τ riding the output " +
    "(the replay law)") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    // two planted duplicate chains on an otherwise random corpus
    val base = (0L until 40L).map(i =>
      (i, Seq.fill(8)(rnd.nextFloat() * 2f - 1f), (i % 3).toInt))
    val dups = Seq(
      (100L, base(0)._2, 0), (101L, base(0)._2, 0),
      (102L, base(5)._2, 1))
    val embs = (base ++ dups).toDF("vec_id", "embedding", "label")
    val got = Similarity.graphDedupSurvivorsCalibrated(embs, epsPm = 50L,
      k = 3)
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val tau = rows.head._3
    assert(rows.map(_._3).distinct === Array(tau))
    val fixed = Similarity.graphDedupSurvivors(embs, tau = tau / 1e6,
        k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(t => (t._1, t._2)).toSet === fixed)
    // the planted exact duplicates can never BOTH survive: cosine 1.0
    // sits at/above any calibrated τ
    assert(!(rows.exists(_._1 == 0L) && rows.exists(_._1 == 100L)))
  }

  test("graphDedupSurvivorsCalibrated: an all-duplicates corpus " +
    "calibrates τ to the exact-duplicate edge and keeps one survivor") {
    val s = spark; import s.implicits._
    val embs = (0L until 8L).map(i => (i, Seq(1f, 0f, 0f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.graphDedupSurvivorsCalibrated(embs, epsPm = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // every random pair lands in the top bucket (mode = 9), so the
    // only qualifying edge is the fallback bucket 10 → τ = 10⁶,
    // exact-duplicate cosines still edge, one component survives
    assert(rows.toSeq === Seq((0L, 1000000L)), s"got ${rows.toSeq}")
  }

  test("heapTopK boundary: a negative neighbor id raises instead of " +
    "silently inverting tie order") {
    val s = spark; import s.implicits._
    val embs = Seq(
      (-5L, Seq(1f, 0f, 0f, 0f), 0),
      (-3L, Seq(1f, 0f, 0f, 0f), 0),
      (2L, Seq(1f, 0f, 0f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val ex = intercept[Exception] {
      Similarity.knnGraph(embs, k = 2, bits = 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("negative neighbor_id")),
      s"unexpected: $ex")
  }

  test("pairRecall: identical sets score 10000/10000; half-found " +
    "scores 5000 recall; empty truth scores 0 without error") {
    val s = spark; import s.implicits._
    val truth = Seq((1L, 2L), (3L, 4L)).toDF("vec_a", "vec_b")
    val all = Evaluation.pairRecall(truth, truth).collect().head
    assert(all.getLong(3) === 10000L && all.getLong(4) === 10000L)
    val half = Evaluation.pairRecall(
      Seq((1L, 2L), (7L, 8L)).toDF("vec_a", "vec_b"), truth)
      .collect().head
    assert((half.getLong(0), half.getLong(1), half.getLong(2)) ===
      ((2L, 2L, 1L)))
    assert(half.getLong(3) === 5000L && half.getLong(4) === 5000L)
    val none = Evaluation.pairRecall(truth,
      truth.filter(col("vec_a") < 0L)).collect().head
    assert(none.getLong(0) === 0L && none.getLong(3) === 0L)
  }
}
