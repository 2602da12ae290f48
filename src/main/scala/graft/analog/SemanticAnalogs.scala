package graft.analog

import org.apache.spark.sql.functions._

import graft.Q
import graft.operators.{Decontam, Evaluation, Similarity}
import graft.sources.{ModelStore, Sinks, Tables}

/** Registry entries + DuckDB oracles for the EMBEDDING-SPACE hygiene
  * operators: semantic decontamination (the paraphrase-leakage screen
  * the n-gram family is blind to), the kNN-graph builder, and the
  * near-dup miner's recall gate. The eval/benchmark set is carved from
  * the embeddings table itself (`vec_id % 40 = 0`, ~2.5%) — the
  * DecontamAnalogs split convention, so the oracle reproduces the
  * split with integer arithmetic and the screen exercises the real
  * near-dup structure of the corpus.
  *
  * All oracles reuse ExtraAnalogs' LSH CTE family (dLshPrefixWith /
  * dProbes / dDot), so routing and scoring stay byte-identical to the
  * graded ANN queries' replicas.
  */
object SemanticAnalogs {

  import ExtraAnalogs.{dBitsCase, dDot, dHp, dLshPrefix, dLshPrefixFrom,
    dLshPrefixWith, dMetricsTail, dProbes, dProbes2}

  /** CLUSTERED-GEOMETRY eval fixture: the shipped embeddings are
    * uniform-random (LSH's ADVERSARIAL case — bucket-boundary loss
    * dominates, which is exactly why the recall ladder's numbers sit
    * where they do). Real corpora cluster. This fixture derives a
    * clustered twin DETERMINISTICALLY from columns both engines hold:
    * vector′[i] = round(vector[i] + H_{label mod 16}[i], 6) — each of
    * the 10 label classes translates to its own hyperplane center
    * (norm ≈ √(64/3) ≈ 4.6 vs the unit-ish base vector, so
    * within-class cosine is high and cross-class ~the center pair's),
    * using the SAME 6-decimal hyperplane literals both engines
    * already share (dHp / Similarity.Hyperplanes), so the arithmetic
    * is bit-identical. The ladder's gates re-run on this geometry to
    * measure how the knob tradeoff shifts off the adversarial corpus.
    */
  private[graft] def clusteredEmbs(embs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val centers = array(Similarity.Hyperplanes.map(r =>
      array(r.map(lit): _*)): _*)
    embs.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        round(x.cast("double") + element_at(
          element_at(centers, (col("label") % 16).cast("int") + 1),
          i + 1), 6)).as("embedding"),
      col("label"))
  }

  /** The clustered fixture's derivation alone: hp → cemb(vec_id,
    * embedding, label) — for oracles that consume the clustered
    * vectors through a NON-LSH chain (the k-means cells of
    * dedup_semantic_clustered).
    */
  private val dClusteredCore: String =
    s"""$dHp,
      |ce0 AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |               embedding::DOUBLE[] AS emb FROM embeddings),
      |cemb AS (
      |  SELECT c.vec_id,
      |    list_transform(range(1, len(c.emb)+1),
      |      ii -> round(c.emb[ii] + hp.w[ii], 6)) AS embedding,
      |    c.label
      |  FROM ce0 c JOIN hp ON hp.i = c.label % 16
      |)""".stripMargin

  /** The clustered fixture's oracle CTE chain: hp → cemb → the shared
    * LSH prefix rooted at cemb (corpus-sized bits — same count as the
    * base table).
    */
  private val dClusteredPrefix: String =
    s"""$dClusteredCore,
      |${dLshPrefixFrom("cemb",
        s"SELECT $dBitsCase AS bits FROM (SELECT count(*) AS cnt FROM embeddings)")}"""
      .stripMargin

  /** The kNN-graph CTE prefix: gknn(vec_id, neighbor_id, sim)
    * = every vector's top-`k` bucket-mates, sims carried — shared by
    * the propagation/outlier oracles that consume the graph directly
    * and extended by [[dNnDescent]] into the refined ranking ndrk.
    */
  private def dKnn(k: Int): String =
    s"""${dProbes("qp")},
      |gp AS (
      |  SELECT q.vec_id, c.vec_id AS neighbor_id,
      |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) AS sim
      |  FROM qp q JOIN bkt c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      |), gr AS (
      |  SELECT vec_id, neighbor_id, sim, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rnk
      |  FROM gp
      |), gknn AS (SELECT vec_id, neighbor_id, sim FROM gr WHERE rnk <= $k)"""
      .stripMargin

  /** One NN-descent round appended to [[dKnn]]'s chain: the
    * candidate set (forward ∪ reverse ∪ 2-hop, self-free — UNION
    * dedups) re-ranked by exact cosine as ndrk(vec_id, neighbor_id,
    * sim, rnk). Shared by sim_nndescent_topk, sim_nndescent_loaded,
    * emb_outliers_loaded and eval_nndescent_metrics so the refined
    * ranking is byte-identical between the operator's gate, the
    * stored-artifact twins, and the recall gate.
    */
  private def dNnDescent(k: Int): String =
    s"""${dKnn(k)},
      |cand AS (
      |  SELECT vec_id, neighbor_id FROM gknn
      |  UNION
      |  SELECT neighbor_id AS vec_id, vec_id AS neighbor_id FROM gknn
      |  UNION
      |  SELECT a.vec_id, b.neighbor_id FROM gknn a
      |  JOIN gknn b ON a.neighbor_id = b.vec_id
      |), cd AS (
      |  SELECT vec_id, neighbor_id FROM cand WHERE vec_id <> neighbor_id
      |), rr AS (
      |  SELECT cd.vec_id, cd.neighbor_id,
      |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) AS sim
      |  FROM cd JOIN e q ON q.vec_id = cd.vec_id
      |          JOIN e c ON c.vec_id = cd.neighbor_id
      |), ndrk AS (
      |  SELECT vec_id, neighbor_id, sim, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rnk
      |  FROM rr
      |)""".stripMargin

  /** One generic descent step: the candidate rule (forward ∪ reverse
    * ∪ 2-hop, self-free) applied to a prior ranking CTE `prev`
    * (vec_id, neighbor_id, rnk), re-ranked as `nd${sfx}rk` — lets the
    * convergence oracles chain to any depth without copying SQL.
    */
  private def dNnStep(prev: String, sfx: String, k: Int): String =
    s"""nd$sfx AS (SELECT vec_id, neighbor_id FROM $prev WHERE rnk <= $k),
      |cand$sfx AS (
      |  SELECT vec_id, neighbor_id FROM nd$sfx
      |  UNION
      |  SELECT neighbor_id AS vec_id, vec_id AS neighbor_id FROM nd$sfx
      |  UNION
      |  SELECT a.vec_id, b.neighbor_id FROM nd$sfx a
      |  JOIN nd$sfx b ON a.neighbor_id = b.vec_id
      |), cd$sfx AS (
      |  SELECT vec_id, neighbor_id FROM cand$sfx WHERE vec_id <> neighbor_id
      |), rr$sfx AS (
      |  SELECT cd$sfx.vec_id, cd$sfx.neighbor_id,
      |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) AS sim
      |  FROM cd$sfx JOIN e q ON q.vec_id = cd$sfx.vec_id
      |           JOIN e c ON c.vec_id = cd$sfx.neighbor_id
      |), nd${sfx}rk AS (
      |  SELECT vec_id, neighbor_id, sim, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rnk
      |  FROM rr$sfx
      |)""".stripMargin

  /** A THIRD descent step chained onto [[dNnDescent2]] — the
    * round-3 convergence point's oracle leg (nd3rk).
    */
  private def dNnDescent3(k: Int): String =
    s"""${dNnDescent2(k)},
      |${dNnStep("nd2rk", "3", k)}""".stripMargin

  /** A SECOND descent step appended to [[dNnDescent]]'s chain: the
    * same candidate rule (forward ∪ reverse ∪ 2-hop) applied to the
    * round-1 output `ndrk`, re-ranked as nd2rk — the convergence
    * gate's oracle leg.
    */
  private def dNnDescent2(k: Int): String =
    s"""${dNnDescent(k)},
      |nd1 AS (SELECT vec_id, neighbor_id FROM ndrk WHERE rnk <= $k),
      |cand2 AS (
      |  SELECT vec_id, neighbor_id FROM nd1
      |  UNION
      |  SELECT neighbor_id AS vec_id, vec_id AS neighbor_id FROM nd1
      |  UNION
      |  SELECT a.vec_id, b.neighbor_id FROM nd1 a
      |  JOIN nd1 b ON a.neighbor_id = b.vec_id
      |), cd2 AS (
      |  SELECT vec_id, neighbor_id FROM cand2 WHERE vec_id <> neighbor_id
      |), rr2 AS (
      |  SELECT cd2.vec_id, cd2.neighbor_id,
      |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) AS sim
      |  FROM cd2 JOIN e q ON q.vec_id = cd2.vec_id
      |           JOIN e c ON c.vec_id = cd2.neighbor_id
      |), nd2rk AS (
      |  SELECT vec_id, neighbor_id, sim, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rnk
      |  FROM rr2
      |)""".stripMargin

  def queries: Seq[Q] = Seq(

    // The CONVERGENCE gate: a second NN-descent round, graded through
    // the same slice/truth/metric tail as eval_retrieval_metrics
    // (round 0) and eval_nndescent_metrics (round 1) — the three
    // hash-gated points are the convergence curve of neighbor
    // propagation on this corpus.
    Q("eval_nndescent2_metrics",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val r2 = Similarity.nnDescentRound(embs,
            Similarity.nnDescentRound(embs,
              Similarity.knnGraph(embs, k = 10), k = 10), k = 10)
          .filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("neighbor_id"),
            col("rank"))
        Evaluation.retrievalMetrics(r2,
          Similarity.bruteForceTopK(embs, 50, 10)
            .select("query_id", "neighbor_id"),
          k = 10)
      },
      Some(s"""WITH $dLshPrefix,
        |${dNnDescent2(10)},
        |nds2 AS (
        |  SELECT vec_id AS query_id, neighbor_id, rnk
        |  FROM nd2rk WHERE vec_id < 50
        |),
        |${dMetricsTail("nds2")}""".stripMargin)),

    // The round-3 convergence point, THROUGH THE LOOP OPERATOR: the
    // fourth hash-gated point on the neighbor-propagation curve
    // (recall@10 67.0 raw → 77.6 → 83.4 → this), produced by
    // Similarity.nnDescent itself (maxRounds = 3, lineage-barriered)
    // rather than hand-chaining — so the gate exercises the loop's
    // materialize/re-root path at depth, and the oracle is the
    // deterministic three-step chain. Cache lifetime: the final
    // graph's block cache stays live after the action by design and
    // is released with the query's CacheScope (NnDescentResult
    // scaladoc).
    Q("eval_nndescent3_metrics",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val r3 = Similarity.nnDescent(embs, k = 10, maxRounds = 3,
            minImprovedPm = 0L).graph
          .filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("neighbor_id"),
            col("rank"))
        Evaluation.retrievalMetrics(r3,
          Similarity.bruteForceTopK(embs, 50, 10)
            .select("query_id", "neighbor_id"),
          k = 10)
      },
      Some(s"""WITH $dLshPrefix,
        |${dNnDescent3(10)},
        |nds3 AS (
        |  SELECT vec_id AS query_id, neighbor_id, rnk
        |  FROM nd3rk WHERE vec_id < 50
        |),
        |${dMetricsTail("nds3")}""".stripMargin)),

    // The MINING-SIDE recall arm of the same ladder: the kNN graph
    // built with Hamming-2 probes (probeBuckets2 — ~8× candidates at
    // the bit cap, zero re-ranking rounds), graded through the
    // identical slice/truth/metric tail. Read against
    // eval_retrieval_metrics (H1 raw) and the NN-descent points: a
    // deployment picks between paying candidates at build time (this
    // arm) or rounds over the edge list (descent).
    Q("eval_knngraph2_metrics",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val g2 = Similarity.knnGraph(embs, k = 10, probeHamming = 2)
          .filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("neighbor_id"),
            col("rank"))
        Evaluation.retrievalMetrics(g2,
          Similarity.bruteForceTopK(embs, 50, 10)
            .select("query_id", "neighbor_id"),
          k = 10)
      },
      Some(s"""WITH $dLshPrefix,
        |${dProbes2("qp")},
        |g2p AS (
        |  SELECT q.vec_id, c.vec_id AS neighbor_id,
        |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) AS sim
        |  FROM qp q JOIN bkt c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        |), g2r AS (
        |  SELECT vec_id, neighbor_id, sim, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM g2p
        |), ndsg AS (
        |  SELECT vec_id AS query_id, neighbor_id, rnk
        |  FROM g2r WHERE vec_id < 50
        |),
        |${dMetricsTail("ndsg")}""".stripMargin)),

    // The COMPOSED ladder cell (round-18 ask #3): ONE NN-descent
    // round over the Hamming-2-probed graph — mining's best arm
    // (95.2 % recall@10 from H2 probes) refined by propagation's
    // cheapest step, graded through the identical slice/truth/metric
    // tail. Read against eval_knngraph2_metrics (H2 raw) and
    // eval_nndescent3_metrics (descent-only convergence): the delta
    // is what one refinement round buys ON TOP of wide probing — the
    // previously unmeasured cell of the mining-vs-refinement matrix.
    Q("eval_knngraph2_descent_metrics",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val r = Similarity.nnDescentRound(embs,
            Similarity.knnGraph(embs, k = 10, probeHamming = 2), k = 10)
          .filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("neighbor_id"),
            col("rank"))
        Evaluation.retrievalMetrics(r,
          Similarity.bruteForceTopK(embs, 50, 10)
            .select("query_id", "neighbor_id"),
          k = 10)
      },
      Some(s"""WITH $dLshPrefix,
        |${dProbes2("qp")},
        |g2p AS (
        |  SELECT q.vec_id, c.vec_id AS neighbor_id,
        |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) AS sim
        |  FROM qp q JOIN bkt c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        |), g2r AS (
        |  SELECT vec_id, neighbor_id, sim, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM g2p
        |),
        |${dNnStep("g2r", "h", 10)},
        |ndsh AS (
        |  SELECT vec_id AS query_id, neighbor_id, rnk
        |  FROM ndhrk WHERE vec_id < 50
        |),
        |${dMetricsTail("ndsh")}""".stripMargin)),

    // ── The recall ladder ON CLUSTERED GEOMETRY (see clusteredEmbs):
    // the same three arms (H1 raw graph, one descent round, H2-probed
    // graph) graded on the derived clustered twin through the same
    // slice/truth/tail — read these against the random-geometry
    // ladder (67.0 / 77.6 / 95.2 % at sf0.01) to see how the
    // mining-vs-refinement tradeoff moves when vectors cluster. ──
    Q("eval_knngraph_clustered_metrics",
      (s, d) => {
        val cemb = clusteredEmbs(Tables.embeddings(s, d))
        val g = Similarity.knnGraph(cemb, k = 10)
          .filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("neighbor_id"),
            col("rank"))
        Evaluation.retrievalMetrics(g,
          Similarity.bruteForceTopK(cemb, 50, 10)
            .select("query_id", "neighbor_id"),
          k = 10)
      },
      Some(s"""WITH $dClusteredPrefix,
        |${dProbes("qp")},
        |gp AS (
        |  SELECT q.vec_id, c.vec_id AS neighbor_id,
        |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) AS sim
        |  FROM qp q JOIN bkt c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        |), gr AS (
        |  SELECT vec_id, neighbor_id, sim, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM gp
        |), ndsc AS (
        |  SELECT vec_id AS query_id, neighbor_id, rnk
        |  FROM gr WHERE vec_id < 50
        |),
        |${dMetricsTail("ndsc")}""".stripMargin)),

    Q("eval_nndescent_clustered_metrics",
      (s, d) => {
        val cemb = clusteredEmbs(Tables.embeddings(s, d))
        val refined = Similarity.nnDescentRound(cemb,
            Similarity.knnGraph(cemb, k = 10), k = 10)
          .filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("neighbor_id"),
            col("rank"))
        Evaluation.retrievalMetrics(refined,
          Similarity.bruteForceTopK(cemb, 50, 10)
            .select("query_id", "neighbor_id"),
          k = 10)
      },
      Some(s"""WITH $dClusteredPrefix,
        |${dNnDescent(10)},
        |ndsc AS (
        |  SELECT vec_id AS query_id, neighbor_id, rnk
        |  FROM ndrk WHERE vec_id < 50
        |),
        |${dMetricsTail("ndsc")}""".stripMargin)),

    Q("eval_knngraph2_clustered_metrics",
      (s, d) => {
        val cemb = clusteredEmbs(Tables.embeddings(s, d))
        val g2 = Similarity.knnGraph(cemb, k = 10, probeHamming = 2)
          .filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("neighbor_id"),
            col("rank"))
        Evaluation.retrievalMetrics(g2,
          Similarity.bruteForceTopK(cemb, 50, 10)
            .select("query_id", "neighbor_id"),
          k = 10)
      },
      Some(s"""WITH $dClusteredPrefix,
        |${dProbes2("qp")},
        |g2p AS (
        |  SELECT q.vec_id, c.vec_id AS neighbor_id,
        |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) AS sim
        |  FROM qp q JOIN bkt c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        |), g2r AS (
        |  SELECT vec_id, neighbor_id, sim, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM g2p
        |), ndsc AS (
        |  SELECT vec_id AS query_id, neighbor_id, rnk
        |  FROM g2r WHERE vec_id < 50
        |),
        |${dMetricsTail("ndsc")}""".stripMargin)),

    // The composed cell on the CLUSTERED fixture — one descent round
    // over the H2 graph, clustered geometry, same slice/truth/tail:
    // with eval_knngraph2_clustered_metrics this completes the matrix
    // on both geometries.
    Q("eval_knngraph2_descent_clustered_metrics",
      (s, d) => {
        val cemb = clusteredEmbs(Tables.embeddings(s, d))
        val r = Similarity.nnDescentRound(cemb,
            Similarity.knnGraph(cemb, k = 10, probeHamming = 2), k = 10)
          .filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("neighbor_id"),
            col("rank"))
        Evaluation.retrievalMetrics(r,
          Similarity.bruteForceTopK(cemb, 50, 10)
            .select("query_id", "neighbor_id"),
          k = 10)
      },
      Some(s"""WITH $dClusteredPrefix,
        |${dProbes2("qp")},
        |g2p AS (
        |  SELECT q.vec_id, c.vec_id AS neighbor_id,
        |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) AS sim
        |  FROM qp q JOIN bkt c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        |), g2r AS (
        |  SELECT vec_id, neighbor_id, sim, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM g2p
        |),
        |${dNnStep("g2r", "h", 10)},
        |ndsh AS (
        |  SELECT vec_id AS query_id, neighbor_id, rnk
        |  FROM ndhrk WHERE vec_id < 50
        |),
        |${dMetricsTail("ndsh")}""".stripMargin)),

    // Embedding-space contamination flags: eval slice (vec_id%40=0)
    // probes the corpus-sized sign buckets of the train slice, cosine
    // >= 0.3 verifies, one audit row per flagged train vector (best
    // eval match + exact hit count).
    Q("decontam_semantic_hits",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val corpus = embs.filter(col("vec_id") % 40 =!= 0)
        Decontam.semanticHits(corpus,
          embs.filter(col("vec_id") % 40 === 0), threshold = 0.3)
      },
      Some(s"""WITH ${dLshPrefixWith(
          s"SELECT $dBitsCase AS bits FROM " +
            "(SELECT count(*) AS cnt FROM embeddings WHERE vec_id % 40 <> 0)")},
        |${dProbes("ep", " AND q.vec_id % 40 = 0")},
        |c AS (SELECT vec_id, emb, norm, bucket FROM bkt WHERE vec_id % 40 <> 0),
        |hits AS (
        |  SELECT c.vec_id, e.vec_id AS eval_id,
        |         round(${dDot("e.emb", "c.emb")} / (e.norm * c.norm), 6) AS sim
        |  FROM ep e JOIN c USING (bucket)
        |),
        |flagged AS (SELECT * FROM hits WHERE sim >= 0.3),
        |r AS (
        |  SELECT vec_id, eval_id, sim,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY sim DESC, eval_id) AS rk,
        |         count(*) OVER (PARTITION BY vec_id) AS n_hits
        |  FROM flagged
        |)
        |SELECT vec_id, eval_id, sim AS max_sim, CAST(n_hits AS BIGINT) AS n_hits
        |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin)),

    // The decontaminated corpus: train slice minus the flagged ids —
    // one broadcast anti-join on the audit-sized hit list.
    Q("decontam_semantic_clean",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val corpus = embs.filter(col("vec_id") % 40 =!= 0)
        Decontam.semanticSurvivors(corpus,
          embs.filter(col("vec_id") % 40 === 0), threshold = 0.3)
      },
      Some(s"""WITH ${dLshPrefixWith(
          s"SELECT $dBitsCase AS bits FROM " +
            "(SELECT count(*) AS cnt FROM embeddings WHERE vec_id % 40 <> 0)")},
        |${dProbes("ep", " AND q.vec_id % 40 = 0")},
        |c AS (SELECT vec_id, emb, norm, bucket FROM bkt WHERE vec_id % 40 <> 0),
        |drops AS (
        |  SELECT DISTINCT c.vec_id FROM ep e JOIN c USING (bucket)
        |  WHERE round(${dDot("e.emb", "c.emb")} / (e.norm * c.norm), 6) >= 0.3
        |)
        |SELECT em.vec_id, CAST(em.label AS BIGINT) AS label
        |FROM embeddings em
        |WHERE em.vec_id % 40 <> 0
        |  AND em.vec_id NOT IN (SELECT vec_id FROM drops)
        |ORDER BY em.vec_id""".stripMargin)),

    // Batch twin of the STREAMING semantic-contamination screen
    // (graft.streaming.VecStreams.contamScreen): every 20th vector
    // arrives (one minute per vec_id — the stream_ann_screen clock),
    // multi-probes a FIXED bucketed eval index (vec_id%20<>0 AND
    // vec_id%9=0, bits pinned at 4 — an index property: the eval set
    // is small and static, so its width never needs to grow), and
    // contaminated arrivals emit one audit row per 1-hour window.
    Q("stream_decontam_semantic",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val arrivals = embs.filter(col("vec_id") % 20 === 0)
          .withColumn("ts", expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(vec_id as int),0)"))
          .select("vec_id", "embedding", "ts")
        val evalIdx = Similarity.buildIndex(
          embs.filter(col("vec_id") % 20 =!= 0 && col("vec_id") % 9 === 0),
          bits = 4)
        graft.streaming.VecStreams.contamScreen(arrivals, evalIdx, 0.3, 4)
          .select(
            date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("vec_id"), col("eval_id"), col("max_sim"), col("n_hits"))
          .orderBy("vec_id")
      },
      Some(s"""WITH ${dLshPrefixWith("SELECT 4 AS bits")},
        |${dProbes("q", " AND q.vec_id % 20 = 0")},
        |c AS (SELECT vec_id, emb, norm, bucket FROM bkt
        |      WHERE vec_id % 20 <> 0 AND vec_id % 9 = 0),
        |flagged AS (
        |  SELECT q.vec_id, c.vec_id AS eval_id,
        |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) AS sim
        |  FROM q JOIN c USING (bucket)
        |  WHERE round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) >= 0.3
        |),
        |r AS (
        |  SELECT vec_id, eval_id, sim,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY sim DESC, eval_id) AS rk,
        |         count(*) OVER (PARTITION BY vec_id) AS n_hits
        |  FROM flagged
        |)
        |SELECT strftime(date_trunc('hour',
        |         timestamp '2024-01-01 00:00:00' + to_minutes(vec_id)),
        |         '%Y-%m-%d %H:%M:%S') AS hour,
        |       vec_id, eval_id, sim AS max_sim, CAST(n_hits AS BIGINT) AS n_hits
        |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin)),

    // Streaming kNN-CLASSIFY: label assignment at ingest — every 20th
    // vector arrives (the stream_ann_screen clock), probes the LABELED
    // static index of the rest (bits pinned at 4 — an index property),
    // and is labeled by its top-5 bucket-mates' vote under the batch
    // propagation tie rule (votes DESC, micro-support DESC, label
    // ASC). ONE windowed aggregation + a scalar vote over the ≤k
    // array, so the plan is append-mode streaming-legal.
    Q("stream_knn_classify",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val arrivals = embs.filter(col("vec_id") % 20 === 0)
          .withColumn("ts", expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(vec_id as int),0)"))
          .select("vec_id", "embedding", "ts")
        val idx = Similarity.buildIndexKeeping(
          embs.filter(col("vec_id") % 20 =!= 0), 4, "label")
        graft.streaming.VecStreams.knnClassifyScreen(arrivals, idx,
            k = 5, bits = 4)
          .select(
            date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("vec_id"), col("pred_label"), col("votes"),
            col("support_micro"))
          .orderBy("vec_id")
      },
      Some(s"""WITH ${dLshPrefixWith("SELECT 4 AS bits")},
        |${dProbes("aq", " AND q.vec_id % 20 = 0")},
        |cidx AS (
        |  SELECT b.vec_id, b.emb, b.norm, b.bucket,
        |         CAST(e2.label AS BIGINT) AS label
        |  FROM bkt b JOIN embeddings e2 USING (vec_id)
        |  WHERE b.vec_id % 20 <> 0),
        |scored AS (
        |  SELECT a.vec_id, c.vec_id AS cand_id, c.label,
        |         round(${dDot("a.emb", "c.emb")} / (a.norm * c.norm), 6) AS sim
        |  FROM aq a JOIN cidx c USING (bucket)),
        |rk AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY sim DESC, cand_id) AS rnk
        |  FROM scored),
        |topk AS (SELECT * FROM rk WHERE rnk <= 5),
        |votes AS (
        |  SELECT vec_id, label, CAST(count(*) AS BIGINT) AS votes,
        |         CAST(sum(CAST(round(sim * 1000000) AS BIGINT)) AS BIGINT)
        |           AS support
        |  FROM topk GROUP BY 1, 2),
        |w AS (
        |  SELECT vec_id, label, votes, support, row_number() OVER
        |    (PARTITION BY vec_id
        |     ORDER BY votes DESC, support DESC, label) AS vrk
        |  FROM votes)
        |SELECT strftime(date_trunc('hour',
        |         timestamp '2024-01-01 00:00:00' + to_minutes(vec_id)),
        |         '%Y-%m-%d %H:%M:%S') AS hour,
        |       vec_id, label AS pred_label, votes,
        |       support AS support_micro
        |FROM w WHERE vrk = 1 ORDER BY vec_id""".stripMargin)),

    // The LOADED twin of the classify screen (round-18 ask #6): the
    // labeled bucketed index is the STORED artifact
    // (ModelStore.ensureFrame — built on first touch of a data dir,
    // corpus-fingerprinted, read back after), so the serving plan
    // probes a parquet frame and never re-computes corpus-side
    // buckets/norms — the sim_labelprop_loaded discipline applied to
    // the last in-plan-index serving screen. Oracle identical to the
    // in-plan twin (round-trip law, enforced by the Verify gate's
    // from-source recompute; a serving path can additionally opt into
    // read-time validation via ensureFrame(validate = true)).
    Q("stream_knn_classify_loaded",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val arrivals = embs.filter(col("vec_id") % 20 === 0)
          .withColumn("ts", expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(vec_id as int),0)"))
          .select("vec_id", "embedding", "ts")
        val idx = graft.sources.ModelStore.ensureFrame(s,
          s"${ModelStore.dir("knncls", d)}/index",
          Similarity.buildIndexKeeping(
            embs.filter(col("vec_id") % 20 =!= 0), 4, "label"),
          fingerprintData = Some(embs))
        graft.streaming.VecStreams.knnClassifyScreen(arrivals, idx,
            k = 5, bits = 4)
          .select(
            date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("vec_id"), col("pred_label"), col("votes"),
            col("support_micro"))
          .orderBy("vec_id")
      },
      Some(s"""WITH ${dLshPrefixWith("SELECT 4 AS bits")},
        |${dProbes("aq", " AND q.vec_id % 20 = 0")},
        |cidx AS (
        |  SELECT b.vec_id, b.emb, b.norm, b.bucket,
        |         CAST(e2.label AS BIGINT) AS label
        |  FROM bkt b JOIN embeddings e2 USING (vec_id)
        |  WHERE b.vec_id % 20 <> 0),
        |scored AS (
        |  SELECT a.vec_id, c.vec_id AS cand_id, c.label,
        |         round(${dDot("a.emb", "c.emb")} / (a.norm * c.norm), 6) AS sim
        |  FROM aq a JOIN cidx c USING (bucket)),
        |rk AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY sim DESC, cand_id) AS rnk
        |  FROM scored),
        |topk AS (SELECT * FROM rk WHERE rnk <= 5),
        |votes AS (
        |  SELECT vec_id, label, CAST(count(*) AS BIGINT) AS votes,
        |         CAST(sum(CAST(round(sim * 1000000) AS BIGINT)) AS BIGINT)
        |           AS support
        |  FROM topk GROUP BY 1, 2),
        |w AS (
        |  SELECT vec_id, label, votes, support, row_number() OVER
        |    (PARTITION BY vec_id
        |     ORDER BY votes DESC, support DESC, label) AS vrk
        |  FROM votes)
        |SELECT strftime(date_trunc('hour',
        |         timestamp '2024-01-01 00:00:00' + to_minutes(vec_id)),
        |         '%Y-%m-%d %H:%M:%S') AS hour,
        |       vec_id, label AS pred_label, votes,
        |       support AS support_micro
        |FROM w WHERE vrk = 1 ORDER BY vec_id""".stripMargin)),

    // The kNN GRAPH: every vector's top-5 bucket-mates by cosine —
    // nearDupPairs' geometry with a per-vector rank window instead of
    // the threshold (the frame SemDeDup-style pruning / NN-descent /
    // label propagation consume).
    Q("sim_knn_graph",
      (s, d) => Sinks.exportSorted(
        Similarity.knnGraph(Tables.embeddings(s, d), k = 5),
        Seq("vec_id", "rank")),
      Some(s"""WITH $dLshPrefix,
        |${dProbes("qp")},
        |p AS (
        |  SELECT q.vec_id, c.vec_id AS neighbor_id,
        |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) AS sim
        |  FROM qp q JOIN bkt c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        |), r AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM p
        |)
        |SELECT vec_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 5 ORDER BY vec_id, rank""".stripMargin)),

    // One NN-descent refinement round over the kNN graph: forward ∪
    // reverse ∪ 2-hop candidates, exact-cosine re-ranked to top-5 —
    // recovers neighbors the LSH bucket boundaries hid (two near
    // vectors bucketed apart are usually bridged by a shared third).
    Q("sim_nndescent_topk",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        Sinks.exportSorted(Similarity.nnDescentRound(embs,
          Similarity.knnGraph(embs, k = 5), k = 5), Seq("vec_id", "rank"))
      },
      Some(s"""WITH $dLshPrefix,
        |${dNnDescent(5)}
        |SELECT vec_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rank
        |FROM ndrk WHERE rnk <= 5 ORDER BY vec_id, rank""".stripMargin)),

    // The LOADED twin of the refined graph: ONE NN-descent round's
    // output stored via ModelStore.ensureFrame (built on first touch
    // of a data dir, corpus-fingerprinted, read back after) — at
    // 100 TB the refined graph is the expensive artifact, so the
    // serving path reads the edge list, never re-runs bucket mining,
    // the candidate joins, or the rank window. Oracle identical to
    // the in-plan twin (round-trip law): a stale or foreign artifact
    // hash-mismatches WHEN THE VERIFY GATE RUNS (it recomputes from
    // source); a serving path alone is serve-stale by default and can
    // opt into read-time drift detection via
    // ensureFrame(validate = true) at the cost of one source scan
    // (round-18 ADVICE).
    Q("sim_nndescent_loaded",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        graft.sources.ModelStore.ensureFrame(s,
          s"${ModelStore.dir("knnd", d)}/edges",
          Similarity.nnDescentRound(e,
            Similarity.knnGraph(e, k = 5), k = 5),
          fingerprintData = Some(e))
          .orderBy("vec_id", "rank")
      },
      Some(s"""WITH $dLshPrefix,
        |${dNnDescent(5)}
        |SELECT vec_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rank
        |FROM ndrk WHERE rnk <= 5 ORDER BY vec_id, rank""".stripMargin)),

    // NN-descent TO CONVERGENCE — the loop operator (driver-
    // coordinated rounds, each fully distributed, with the
    // Dedup.clusters lineage-barrier discipline: the round plan
    // references its input three times, so each round re-roots on the
    // cached RDD). Gated at a FIXED round budget (maxRounds = 2,
    // minImprovedPm = 0) so the oracle is the deterministic two-round
    // chain; the early-stop law (a complete graph is a fixpoint at
    // round 1) is spec-pinned in SimilarityConsumersSpec. Cache
    // lifetime: the final graph's cache stays live after the action
    // by design and is released with the query's CacheScope
    // (NnDescentResult scaladoc).
    Q("sim_nndescent_converged",
      (s, d) => Similarity.nnDescent(Tables.embeddings(s, d), k = 5,
        maxRounds = 2, minImprovedPm = 0L).graph
        .orderBy("vec_id", "rank"),
      Some(s"""WITH $dLshPrefix,
        |${dNnDescent2(5)}
        |SELECT vec_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rank
        |FROM nd2rk WHERE rnk <= 5 ORDER BY vec_id, rank""".stripMargin)),

    // The outlier screen served from the STORED refined graph — the
    // second consumer of the sim_nndescent_loaded artifact (one build,
    // two serving paths: the deployment shape). The density score is
    // summed over the REFINED top-5 edges, so this is a genuinely
    // better screen than the raw-graph arm (recovered neighbors raise
    // true densities and sharpen the isolated tail), and the serving
    // plan is one integer aggregate + the fixed-grid histogram cut —
    // no mining, no rank window (PlanAuditSpec law).
    Q("emb_outliers_loaded",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val g = graft.sources.ModelStore.ensureFrame(s,
          s"${ModelStore.dir("knnd", d)}/edges",
          Similarity.nnDescentRound(e,
            Similarity.knnGraph(e, k = 5), k = 5),
          fingerprintData = Some(e))
        Similarity.knnOutliersFromGraph(g, e, k = 5, pm = 500)
      },
      Some(s"""WITH $dLshPrefix,
        |${dNnDescent(5)},
        |nd1 AS (SELECT vec_id, neighbor_id, sim FROM ndrk WHERE rnk <= 5),
        |sc AS (
        |  SELECT vec_id,
        |         CAST(sum(CAST(round(sim * 1000000) AS BIGINT)) AS BIGINT)
        |           AS score_micro
        |  FROM nd1 GROUP BY 1
        |), alls AS (
        |  SELECT em.vec_id, coalesce(sc.score_micro, -5000000) AS score_micro
        |  FROM embeddings em LEFT JOIN sc ON sc.vec_id = em.vec_id
        |), hist AS (
        |  SELECT (score_micro + 5000000) // 10000 AS bin,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM alls GROUP BY 1
        |), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
        |cum AS (
        |  SELECT bin, sum(c) OVER (ORDER BY bin) AS cum, n
        |  FROM hist CROSS JOIN tot
        |), cut AS (
        |  SELECT CAST(min(CASE WHEN cum >= (500 * n + 9999) // 10000
        |           THEN bin END) * 10000 - 5000000 + 10000 AS BIGINT)
        |           AS cut_micro
        |  FROM cum
        |)
        |SELECT a.vec_id, a.score_micro, c.cut_micro,
        |       CAST(CASE WHEN a.score_micro < c.cut_micro THEN 1 ELSE 0 END
        |         AS BIGINT) AS is_outlier
        |FROM alls a CROSS JOIN cut c ORDER BY a.vec_id""".stripMargin)),

    // The refinement's recall gate: the refined graph's vec_id<50
    // slice vs the exact brute top-10, through the shared integer
    // metric tail — read AGAINST eval_retrieval_metrics (the raw
    // LSH ranking's grade on the same slice/truth/tail): the delta
    // is what one neighbor-propagation round buys.
    Q("eval_nndescent_metrics",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val refined = Similarity.nnDescentRound(embs,
            Similarity.knnGraph(embs, k = 10), k = 10)
          .filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("neighbor_id"),
            col("rank"))
        Evaluation.retrievalMetrics(refined,
          Similarity.bruteForceTopK(embs, 50, 10)
            .select("query_id", "neighbor_id"),
          k = 10)
      },
      Some(s"""WITH $dLshPrefix,
        |${dNnDescent(10)},
        |nds AS (
        |  SELECT vec_id AS query_id, neighbor_id, rnk
        |  FROM ndrk WHERE vec_id < 50
        |),
        |${dMetricsTail("nds")}""".stripMargin)),

    // One-round label propagation over the kNN graph: neighbors vote
    // (votes DESC, micro-cosine support DESC, label ASC — integer-
    // exact tie order). On THIS fixture labels are geometry-free
    // (measured: same-label mean cosine 0.0019 vs 0.0003 cross —
    // chance-level signal), so the gate verifies the vote mechanics,
    // not a classification win; on a labeled-clusters corpus the same
    // plan transfers seed labels (the PQ uniform-random precedent:
    // the fixture is the operator's adversarial case).
    Q("sim_label_propagation",
      (s, d) => Similarity.labelPropagate(Tables.embeddings(s, d), k = 5),
      Some(s"""WITH $dLshPrefix,
        |${dKnn(5)},
        |lbl AS (SELECT vec_id AS neighbor_id, CAST(label AS BIGINT) AS nb_label
        |        FROM embeddings),
        |votes AS (
        |  SELECT g.vec_id, l.nb_label,
        |         CAST(count(*) AS BIGINT) AS votes,
        |         CAST(sum(CAST(round(g.sim * 1000000) AS BIGINT)) AS BIGINT)
        |           AS support
        |  FROM gknn g
        |  JOIN lbl l ON l.neighbor_id = g.neighbor_id
        |  GROUP BY 1, 2
        |), w AS (
        |  SELECT vec_id, nb_label, votes, support, row_number() OVER
        |    (PARTITION BY vec_id
        |     ORDER BY votes DESC, support DESC, nb_label) AS rk
        |  FROM votes
        |)
        |SELECT vec_id, nb_label AS pred_label, votes,
        |       support AS support_micro
        |FROM w WHERE rk = 1 ORDER BY vec_id""".stripMargin)),

    // The LOADED twin: propagation served from the STORED kNN edge
    // list (ModelStore.ensureFrame — built on first touch of a data
    // dir, read back after), the graph family's train-once arm: a
    // vote round is one pass over the artifact, no bucket mining or
    // rank window in the serving plan. Oracle identical to the
    // in-plan twin — a stale or foreign artifact hash-mismatches.
    Q("sim_labelprop_loaded",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val g = graft.sources.ModelStore.ensureFrame(s,
          s"${ModelStore.dir("knng", d)}/edges",
          Similarity.knnGraph(e, k = 5), fingerprintData = Some(e))
        Similarity.labelPropagateFromGraph(g, e)
      },
      Some(s"""WITH $dLshPrefix,
        |${dKnn(5)},
        |lbl AS (SELECT vec_id AS neighbor_id, CAST(label AS BIGINT) AS nb_label
        |        FROM embeddings),
        |votes AS (
        |  SELECT g.vec_id, l.nb_label,
        |         CAST(count(*) AS BIGINT) AS votes,
        |         CAST(sum(CAST(round(g.sim * 1000000) AS BIGINT)) AS BIGINT)
        |           AS support
        |  FROM gknn g
        |  JOIN lbl l ON l.neighbor_id = g.neighbor_id
        |  GROUP BY 1, 2
        |), w AS (
        |  SELECT vec_id, nb_label, votes, support, row_number() OVER
        |    (PARTITION BY vec_id
        |     ORDER BY votes DESC, support DESC, nb_label) AS rk
        |  FROM votes
        |)
        |SELECT vec_id, nb_label AS pred_label, votes,
        |       support AS support_micro
        |FROM w WHERE rk = 1 ORDER BY vec_id""".stripMargin)),

    // SemDeDup-style GRAPH pruning: the kNN graph's cosine ≥ 0.3
    // edges collapse into connected components (Dedup.clusters'
    // min-label machinery) and the min-id member of each component
    // survives — transitively consistent where the pairwise screen
    // (emb_dedup_survivors) drops per mined pair. The oracle is a
    // genuinely different algorithm: a recursive transitive-closure
    // CTE over the same edge set (the dedup_clusters precedent).
    Q("emb_graph_survivors",
      (s, d) => Similarity.graphDedupSurvivors(
        Tables.embeddings(s, d), tau = 0.3, k = 5),
      Some(s"""WITH RECURSIVE $dLshPrefix,
        |${dKnn(5)},
        |ge AS (
        |  SELECT least(vec_id, neighbor_id) AS a,
        |         greatest(vec_id, neighbor_id) AS b
        |  FROM gknn WHERE sim >= 0.3 GROUP BY 1, 2),
        |edges AS (
        |  SELECT a AS src, b AS dst FROM ge
        |  UNION ALL SELECT b, a FROM ge),
        |reach AS (
        |  SELECT vec_id AS doc_id, vec_id AS r FROM embeddings
        |  UNION
        |  SELECT e.dst AS doc_id, reach.r FROM reach JOIN edges e
        |    ON e.src = reach.doc_id),
        |clus AS (
        |  SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY 1)
        |SELECT em.vec_id, CAST(em.label AS BIGINT) AS label
        |FROM embeddings em JOIN clus
        |  ON clus.doc_id = em.vec_id AND clus.cluster_id = em.vec_id
        |ORDER BY em.vec_id""".stripMargin)),

    // The PERCOLATION-SAFE arm (round-18 ask #1): τ is not a fixed
    // constant but CALIBRATED from the corpus's own random-pair
    // cosine histogram (the emb_health partner sample) — the first
    // bucket above the noise MODE containing NO sampled random pair
    // (epsPm = 0, the strict default); its lower edge becomes
    // τ_micro. At τ=0.3 the fixed arm's noise degree is
    // constant-per-vector and transitive pruning percolates
    // (survivors 20→9→3→1 across x1→x8 — SCALING.md "Percolation,
    // measured"); the calibrated τ clears every sampled noise cosine
    // and SELF-TIGHTENS as the sample grows (see calibratedTauMicro),
    // so survivors stay ∝ n on random geometry and exactly
    // one-per-cluster on the clustered fixture at every scale.
    // The oracle REPLAYS the whole selection: histogram, mode, gap
    // rule, then the same recursive-CC completion — and τ_micro rides
    // the output so the gate verifies the calibration itself.
    Q("emb_graph_survivors_calibrated",
      (s, d) => Similarity.graphDedupSurvivorsCalibrated(
        Tables.embeddings(s, d), epsPm = 0L, k = 5),
      Some(s"""WITH RECURSIVE $dLshPrefix,
        |${dKnn(5)},
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
        |rp AS (
        |  SELECT a.vec_id AS aid,
        |    ('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 15))
        |      ::BIGINT % nn.n AS p
        |  FROM e a, nn),
        |rs AS (
        |  SELECT CAST(round(round(${dDot("a.emb", "b.emb")}
        |      / (a.norm * b.norm), 6) * 1000000) AS BIGINT) AS cmicro
        |  FROM rp JOIN e a ON a.vec_id = rp.aid
        |  JOIN e b ON b.vec_id = rp.p
        |  WHERE rp.p <> rp.aid),
        |hb AS (
        |  SELECT CAST(least(9, (cmicro + 1000000) // 200000) AS BIGINT)
        |      AS bucket,
        |    CAST(count(*) AS BIGINT) AS np
        |  FROM rs GROUP BY 1),
        |ht AS (SELECT CAST(coalesce(sum(np), 0) AS BIGINT) AS n_total FROM hb),
        |hm AS (SELECT bucket AS mode_bucket FROM hb
        |       ORDER BY np DESC, bucket LIMIT 1),
        |tb AS (
        |  SELECT CAST(min(t.c) AS BIGINT) AS cand
        |  FROM range(0, 11) t(c), ht, hm
        |  WHERE t.c > hm.mode_bucket
        |    AND coalesce((SELECT np FROM hb WHERE hb.bucket = t.c), 0) * 10000
        |        <= 0 * ht.n_total),
        |tau AS (SELECT coalesce(cand * 200000 - 1000000, 1000001)
        |          AS tau_micro FROM tb),
        |ge AS (
        |  SELECT least(vec_id, neighbor_id) AS a,
        |         greatest(vec_id, neighbor_id) AS b
        |  FROM gknn, tau
        |  WHERE CAST(round(sim * 1000000) AS BIGINT) >= tau.tau_micro
        |  GROUP BY 1, 2),
        |edges AS (
        |  SELECT a AS src, b AS dst FROM ge
        |  UNION ALL SELECT b, a FROM ge),
        |reach AS (
        |  SELECT vec_id AS doc_id, vec_id AS r FROM embeddings
        |  UNION
        |  SELECT e2.dst AS doc_id, reach.r FROM reach JOIN edges e2
        |    ON e2.src = reach.doc_id),
        |clus AS (
        |  SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY 1)
        |SELECT em.vec_id, CAST(em.label AS BIGINT) AS label,
        |       CAST(tau.tau_micro AS BIGINT) AS tau_micro
        |FROM embeddings em JOIN clus
        |  ON clus.doc_id = em.vec_id AND clus.cluster_id = em.vec_id, tau
        |ORDER BY em.vec_id""".stripMargin)),

    // Embedding-space outlier screen: k-NN density score (summed
    // micro-cosine of the top-5 neighbors — a pure integer SUM,
    // missing neighbors 0, isolated vectors pinned to the scale
    // minimum), flagged below the p5 cut of a fixed-grid integer
    // histogram (threshold state <= 200·k cells at any corpus size,
    // never a corpus-wide rank window).
    Q("emb_outliers",
      (s, d) => Similarity.knnOutliers(Tables.embeddings(s, d),
        k = 5, pm = 500),
      Some(s"""WITH $dLshPrefix,
        |${dKnn(5)},
        |sc AS (
        |  SELECT vec_id,
        |         CAST(sum(CAST(round(sim * 1000000) AS BIGINT)) AS BIGINT)
        |           AS score_micro
        |  FROM gknn GROUP BY 1
        |), alls AS (
        |  SELECT em.vec_id, coalesce(sc.score_micro, -5000000) AS score_micro
        |  FROM embeddings em LEFT JOIN sc ON sc.vec_id = em.vec_id
        |), hist AS (
        |  SELECT (score_micro + 5000000) // 10000 AS bin,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM alls GROUP BY 1
        |), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
        |cum AS (
        |  SELECT bin, sum(c) OVER (ORDER BY bin) AS cum, n
        |  FROM hist CROSS JOIN tot
        |), cut AS (
        |  SELECT CAST(min(CASE WHEN cum >= (500 * n + 9999) // 10000
        |           THEN bin END) * 10000 - 5000000 + 10000 AS BIGINT)
        |           AS cut_micro
        |  FROM cum
        |)
        |SELECT a.vec_id, a.score_micro, c.cut_micro,
        |       CAST(CASE WHEN a.score_micro < c.cut_micro THEN 1 ELSE 0 END
        |         AS BIGINT) AS is_outlier
        |FROM alls a CROSS JOIN cut c ORDER BY a.vec_id""".stripMargin)),

    // semanticDedup IN THE PERCOLATION REGIME (round-18 ask #2): the
    // cell-bounded dedup — the documented alternative to transitive
    // graph pruning — gated on the CLUSTERED fixture, where
    // within-cluster cosine is high and an unbounded completion would
    // collapse whole clusters transitively. Here every drop needs a
    // smaller-id twin IN ITS OWN k-means cell at cosine ≥ 0.35, so
    // survivor counts are bounded below by the cell count
    // (chooseCells ≈ n/64) at ANY corpus size — the structural
    // guarantee the τ-calibrated arm achieves statistically, achieved
    // here by construction. The oracle composes the clustered-fixture
    // derivation with dedup_semantic's full Lloyd/verify chain rooted
    // at cemb, so fixture and dedup arithmetic cannot drift from
    // their standalone gates.
    Q("dedup_semantic_clustered",
      (s, d) => Similarity.semanticDedup(
        clusteredEmbs(Tables.embeddings(s, d))),
      Some(s"""WITH $dClusteredCore,
        |kk AS (
        |  SELECT greatest(1, (count(*) + ${Similarity.TargetCell - 1})
        |    // ${Similarity.TargetCell}) AS k
        |  FROM embeddings),
        |${ExtraAnalogs.dKmCellsCte("(SELECT k FROM kk)", "cemb")},
        |pr AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         round(${dDot("a.emb", "b.emb")} / (a.norm * b.norm), 6) AS sim
        |  FROM cells a JOIN cells b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id
        |),
        |drops AS (SELECT DISTINCT b_id FROM pr WHERE sim >= 0.35)
        |SELECT c.vec_id, c.cell, CAST(c.label AS BIGINT) AS label
        |FROM cells c
        |WHERE c.vec_id NOT IN (SELECT b_id FROM drops)
        |ORDER BY c.vec_id""".stripMargin)),

    // Recall gate for the bucketed near-dup miner: nearDupPairs'
    // output restricted to pairs touching the probe slice (vec_id <
    // 100 — the smaller id of any touching pair is in the slice, so
    // `vec_a < 100` is the exact restriction) vs the slice's brute
    // truth (every sim >= 0.3 pair, slice x corpus). Precision is
    // 10000 by construction (the miner verifies exactly); recall is
    // the graded number — the eval-gating discipline the ANN family
    // has (eval_retrieval_metrics), extended to the dedup family.
    Q("eval_neardup_recall",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val found = Similarity.nearDupPairs(embs, 0.3)
          .filter(col("vec_a") < 100)
        def norm(e: org.apache.spark.sql.Column) =
          sqrt(Similarity.dot(e, e))
        val e = embs.select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("norm"))
        val q = e.filter(col("vec_id") < 100)
          .select(col("vec_id").as("vec_a"), col("embedding").as("q_emb"),
            col("norm").as("q_norm"))
        val truth = broadcast(q)
          .join(e.select(col("vec_id").as("vec_b"),
            col("embedding").as("c_emb"), col("norm").as("c_norm")),
            col("vec_b") > col("vec_a"))
          .filter(round(Similarity.dot(col("q_emb"), col("c_emb")) /
            (col("q_norm") * col("c_norm")), 6) >= 0.3)
          .select("vec_a", "vec_b")
        Evaluation.pairRecall(found, truth)
      },
      Some(s"""WITH $dLshPrefix,
        |${dProbes("ap")},
        |found AS (
        |  SELECT vec_a, vec_b FROM (
        |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |           round(${dDot("a.emb", "b.emb")} / (a.norm * b.norm), 6) AS sim
        |    FROM ap a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  ) WHERE sim >= 0.3 AND vec_a < 100),
        |truth AS (
        |  SELECT q.vec_id AS vec_a, c.vec_id AS vec_b
        |  FROM e q JOIN e c ON q.vec_id < 100 AND c.vec_id > q.vec_id
        |  WHERE round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) >= 0.3),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
        |nf AS (SELECT CAST(count(*) AS BIGINT) AS n_found FROM found),
        |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_matched
        |       FROM found f JOIN truth t USING (vec_a, vec_b))
        |SELECT n_truth, n_found, n_matched,
        |       CASE WHEN n_truth > 0
        |            THEN CAST(n_matched * 10000 // n_truth AS BIGINT)
        |            ELSE 0 END AS recall_pm,
        |       CASE WHEN n_found > 0
        |            THEN CAST(n_matched * 10000 // n_found AS BIGINT)
        |            ELSE 0 END AS precision_pm
        |FROM nt, nf, nm""".stripMargin)),

    // The Hamming-2 PROBE ARM graded through the same gate: the miner
    // widened to two-bit probe flips (probeBuckets2 — 1 + b + b(b−1)/2
    // probes vs 1 + b, a ~8× candidate-growth factor at the 16-bit
    // cap), same slice, same brute truth, same metric tail. Read
    // AGAINST eval_neardup_recall: the recall delta is what the extra
    // probes buy, the candidate factor is what they cost (SCALING.md
    // r17 table) — the knob a deployment turns when mined recall at
    // τ must rise without re-ranking rounds.
    Q("eval_neardup_recall2",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val found = Similarity.nearDupPairs(embs, 0.3, probeHamming = 2)
          .filter(col("vec_a") < 100)
        def norm(e: org.apache.spark.sql.Column) =
          sqrt(Similarity.dot(e, e))
        val e = embs.select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("norm"))
        val q = e.filter(col("vec_id") < 100)
          .select(col("vec_id").as("vec_a"), col("embedding").as("q_emb"),
            col("norm").as("q_norm"))
        val truth = broadcast(q)
          .join(e.select(col("vec_id").as("vec_b"),
            col("embedding").as("c_emb"), col("norm").as("c_norm")),
            col("vec_b") > col("vec_a"))
          .filter(round(Similarity.dot(col("q_emb"), col("c_emb")) /
            (col("q_norm") * col("c_norm")), 6) >= 0.3)
          .select("vec_a", "vec_b")
        Evaluation.pairRecall(found, truth)
      },
      Some(s"""WITH $dLshPrefix,
        |${dProbes2("ap")},
        |found AS (
        |  SELECT DISTINCT vec_a, vec_b FROM (
        |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |           round(${dDot("a.emb", "b.emb")} / (a.norm * b.norm), 6) AS sim
        |    FROM ap a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  ) WHERE sim >= 0.3 AND vec_a < 100),
        |truth AS (
        |  SELECT q.vec_id AS vec_a, c.vec_id AS vec_b
        |  FROM e q JOIN e c ON q.vec_id < 100 AND c.vec_id > q.vec_id
        |  WHERE round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) >= 0.3),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
        |nf AS (SELECT CAST(count(*) AS BIGINT) AS n_found FROM found),
        |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_matched
        |       FROM found f JOIN truth t USING (vec_a, vec_b))
        |SELECT n_truth, n_found, n_matched,
        |       CASE WHEN n_truth > 0
        |            THEN CAST(n_matched * 10000 // n_truth AS BIGINT)
        |            ELSE 0 END AS recall_pm,
        |       CASE WHEN n_found > 0
        |            THEN CAST(n_matched * 10000 // n_found AS BIGINT)
        |            ELSE 0 END AS precision_pm
        |FROM nt, nf, nm""".stripMargin)))
}
