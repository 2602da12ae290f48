package graft.analog

import org.apache.spark.sql.functions._

import graft.Q
import graft.operators.{Chunking, Curation, Decontam, Perplexity, Scrub}
import graft.sources.Tables

/** Registry entries + DuckDB oracles for the sequence-prep operators
  * (graft.operators.Chunking) and the corpus-frequency quality signal
  * (Decontam.rareBigramRate) — the chunk/pack half of the LLM-data
  * pipeline (no reference counterpart; the reference's surface is the
  * 7 rideshare tasks).
  *
  * The chunking convention both engines implement: token windows start
  * at 0, stride, 2·stride, … while the start lands strictly inside the
  * token sequence; the last window may be short. DuckDB's inclusive
  * list slice `w[a:b]` self-truncates at the list end, mirroring
  * Spark's `slice(w, start, length)`.
  */
object CorpusAnalogs {

  /** 60-bit word hash — TextFunctions.wordHash60. */
  private def dH60(w: String) = s"('0x' || substr(md5($w),1,15))::BIGINT"

  private val tokCte =
    "tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)"

  /** Exploded chunk CTE: one row per (doc, window) at the given
    * chunk/stride, with the window's token slice as `cw`. Select-list
    * `unnest(range(...))`, not the table function — DuckDB's lateral
    * `range` can't take column bounds.
    */
  private def chunkCte(chunk: Int, stride: Int) =
    s"""cid AS (
       |  SELECT doc_id, w,
       |         unnest(range(0, ((len(w)-1)//$stride) + 1)) AS chunk_id
       |  FROM tok
       |), c AS (
       |  SELECT doc_id, chunk_id,
       |         w[(chunk_id*$stride+1):least(chunk_id*$stride+$chunk, len(w))]
       |           AS cw
       |  FROM cid
       |)""".stripMargin

  /** Non-overlapping chunk hashes + corpus distinct-doc counts — the
    * shared base of the two CCNet-screen queries (chunk = stride = 16).
    */
  private val dupBaseCte =
    s"""$tokCte,
       |${chunkCte(16, 16)},
       |ch AS (
       |  SELECT doc_id, chunk_id, array_to_string(cw, ' ') AS chunk,
       |         ${dH60("array_to_string(cw, ' ')")} AS h
       |  FROM c
       |),
       |cnt AS (SELECT h, count(DISTINCT doc_id) AS n_docs FROM ch GROUP BY h)""".stripMargin

  /** CTE chain computing per-doc DSIR scores (needs `tok` in scope;
    * yields `sc(doc_id, n_feats, dsir_score)`). Mirrors
    * Curation.dsirWeights exactly: hashed unigram+bigram occurrences
    * into 4096 buckets, target = sources src0-src3, Laplace add-1,
    * per-bucket micro-nat log-ratio rounded BEFORE the per-doc sum.
    */
  private val dsirScoreCte: String =
    s"""uni AS (SELECT doc_id, unnest(w) AS g FROM tok),
       |bi AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
       |    i -> w[i] || ' ' || w[i+1])) AS g
       |  FROM tok),
       |feats AS (
       |  SELECT doc_id, ${dH60("g")} % 4096 AS b
       |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
       |tf AS (
       |  SELECT f.b, f.doc_id FROM feats f JOIN documents d USING (doc_id)
       |  WHERE d.source IN ('src0', 'src1', 'src2', 'src3')),
       |crb AS (SELECT b, count(*) AS cr FROM feats GROUP BY b),
       |ctb AS (SELECT b, count(*) AS ct FROM tf GROUP BY b),
       |tot AS (
       |  SELECT (SELECT count(*) FROM feats) AS nr,
       |         (SELECT count(*) FROM tf) AS nt),
       |ratio AS (
       |  SELECT COALESCE(crb.b, ctb.b) AS b,
       |    CAST(round((ln(COALESCE(ctb.ct, 0) + 1)
       |      - ln(COALESCE(crb.cr, 0) + 1)
       |      + ln(tot.nr + 4096) - ln(tot.nt + 4096)) * 1000000)
       |      AS BIGINT) AS r
       |  FROM crb FULL OUTER JOIN ctb ON crb.b = ctb.b, tot),
       |sc AS (
       |  SELECT f.doc_id, count(*) AS n_feats, sum(r.r) AS dsir_score
       |  FROM feats f JOIN ratio r USING (b) GROUP BY f.doc_id)""".stripMargin

  /** CTE chain computing the CCNet-style bigram-LM perplexity scores
    * (needs `tok` in scope; yields `tr(doc_id, pos, bp, bn)` and
    * `psc(doc_id, n_trans, sum_lp)`). Mirrors
    * graft.operators.Perplexity exactly: hashed token buckets mod
    * 4096, BOS context 4096 before the first token, target = sources
    * src0-src3, add-1 smoothing over the 4096 next-buckets, and every
    * model log-prob rounded onto the integer micro-nat grid BEFORE
    * the per-doc sum (the DSIR determinism discipline). The
    * first-hit lookup is pair log-prob → context backoff → the
    * ln(1)−ln(4096) global floor.
    */
  private[analog] val pplScoreCte: String =
    s"""tr AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(w)+1), i -> i - 1)) AS pos,
       |    unnest(list_transform(range(1, len(w)+1), i ->
       |      CASE WHEN i = 1 THEN 4096
       |           ELSE ${dH60("w[i-1]")} % 4096 END)) AS bp,
       |    unnest(list_transform(range(1, len(w)+1), i ->
       |      ${dH60("w[i]")} % 4096)) AS bn
       |  FROM tok),
       |ttr AS (
       |  SELECT tr.bp, tr.bn FROM tr JOIN documents d USING (doc_id)
       |  WHERE d.source IN ('src0', 'src1', 'src2', 'src3')),
       |pctx AS (SELECT bp, count(*) AS cu FROM ttr GROUP BY bp),
       |ppair AS (SELECT bp, bn, count(*) AS cb FROM ttr GROUP BY bp, bn),
       |rpair AS (
       |  SELECT p.bp, p.bn,
       |    CAST(round((ln(p.cb + 1) - ln(c.cu + 4096)) * 1000000)
       |      AS BIGINT) AS lp
       |  FROM ppair p JOIN pctx c USING (bp)),
       |rctx AS (
       |  SELECT bp,
       |    CAST(round((ln(1) - ln(cu + 4096)) * 1000000) AS BIGINT)
       |      AS lp_ctx
       |  FROM pctx),
       |str AS (
       |  SELECT tr.doc_id, tr.pos, tr.bp, tr.bn,
       |    COALESCE(rp.lp, rc.lp_ctx,
       |      CAST(round((ln(1) - ln(4096)) * 1000000) AS BIGINT)) AS lp
       |  FROM tr LEFT JOIN rpair rp ON tr.bp = rp.bp AND tr.bn = rp.bn
       |          LEFT JOIN rctx rc ON tr.bp = rc.bp),
       |psc AS (
       |  SELECT doc_id, count(*) AS n_trans, sum(lp) AS sum_lp
       |  FROM str GROUP BY doc_id)""".stripMargin

  val queries: Seq[Q] = Seq(

    // Overlapping fixed-token-window chunking (32-token windows every
    // 24 tokens): the context-window shaping step of sequence prep.
    Q("pipeline_chunks",
      (s, d) => Chunking.chunks(Tables.documents(s, d)),
      Some(s"""WITH $tokCte, ${chunkCte(32, 24)}
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       CAST(len(cw) AS BIGINT) AS n_tok,
        |       array_to_string(cw, ' ') AS chunk
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // CCNet cross-doc duplicated-chunk profile: per doc, how many of
    // its non-overlapping 16-token chunks appear in >= 2 distinct docs.
    Q("dedup_chunk_stats",
      (s, d) => Chunking.dupStats(Tables.documents(s, d)),
      Some(s"""WITH $dupBaseCte
        |SELECT ch.doc_id, count(*) AS n_chunks,
        |       CAST(sum(CASE WHEN cnt.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup,
        |       round(CAST(sum(CASE WHEN cnt.n_docs >= 2 THEN 1 ELSE 0 END)
        |           AS DOUBLE) / count(*), 6) AS dup_ratio
        |FROM ch JOIN cnt USING (h)
        |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin)),

    // The cleaned corpus: every doc rebuilt from only its chunks no
    // other doc carries (all copies of a cross-doc duplicate drop).
    Q("dedup_chunk_clean",
      (s, d) => Chunking.clean(Tables.documents(s, d)),
      Some(s"""WITH $dupBaseCte,
        |kept AS (
        |  SELECT ch.doc_id, count(*) AS n_kept,
        |         string_agg(ch.chunk, ' ' ORDER BY ch.chunk_id) AS clean_text
        |  FROM ch JOIN cnt USING (h)
        |  WHERE cnt.n_docs = 1
        |  GROUP BY ch.doc_id
        |)
        |SELECT d.doc_id, CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(k.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN kept k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // Greedy token-budget packing into 256-token training bins, one
    // independent packing per source partition.
    Q("pipeline_pack",
      (s, d) => Chunking.pack(Tables.documents(s, d)),
      Some("""WITH base AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, source, n_tok,
        |         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM base)
        |SELECT doc_id, source, n_tok, CAST((c - n_tok) // 256 AS BIGINT) AS bin
        |FROM cum ORDER BY doc_id""".stripMargin)),

    // Deterministic training-order shuffle: (shard, pos) coordinates
    // from an id-hash — hash partition + per-shard local sort, never a
    // corpus-wide range sort (the export ORDER BY doc_id is the
    // harness's determinism convention, not part of the operator).
    Q("pipeline_shard",
      (s, d) => Curation.shardOrder(Tables.documents(s, d)).orderBy("doc_id"),
      Some(s"""WITH h AS (
        |  SELECT doc_id, ${dH60("CAST(doc_id AS VARCHAR)")} AS h
        |  FROM documents)
        |SELECT doc_id, h % 16 AS shard,
        |       CAST(row_number() OVER (PARTITION BY h % 16
        |         ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY doc_id""".stripMargin)),

    // Corpus-frequency quality signal: per-doc share of bigrams the
    // corpus has seen at most twice (integer-exact LM-screen stand-in).
    Q("text_rare_bigram_rate",
      (s, d) => Decontam.rareBigramRate(Tables.documents(s, d)),
      Some(s"""WITH $tokCte,
        |bg0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS g
        |  FROM tok
        |),
        |bg AS (SELECT doc_id, ${dH60("g")} AS h FROM bg0),
        |cnt AS (SELECT h, count(*) AS c FROM bg GROUP BY h),
        |per AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |         CAST(sum(CASE WHEN cnt.c <= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_rare
        |  FROM bg JOIN cnt USING (h) GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |       CAST(coalesce(p.n_rare, 0) AS BIGINT) AS n_rare,
        |       round(CASE WHEN coalesce(p.n_bigrams, 0) > 0
        |         THEN CAST(p.n_rare AS DOUBLE) / p.n_bigrams
        |         ELSE 0.0 END, 6) AS rare_rate
        |FROM documents d LEFT JOIN per p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // Data selection under a global token budget: the corpus ranked by
    // the curation quality score, keeping the maximal (quality DESC,
    // doc_id) prefix whose token total fits 10k tokens. The oracle is
    // the naive global window; the operator computes the same prefix
    // sum without one (per-score aggregate cumsum + score-partitioned
    // window — see Curation.selectBudget's scaladoc).
    Q("pipeline_select_budget",
      (s, d) => Curation.selectBudget(Tables.documents(s, d), 10000L)
        .orderBy(col("quality").desc, col("doc_id")),
      Some(s"""WITH $tokCte,
        |q AS (
        |  SELECT doc_id,
        |    round(0.5::DOUBLE * least(1.0::DOUBLE, CAST(len(w) AS BIGINT) / 50.0::DOUBLE)
        |      + 0.3::DOUBLE * (CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS BIGINT))
        |      + 0.2::DOUBLE * (CAST(${ExtraAnalogs.dMarkerHits(ExtraAnalogs.stopEn)} AS DOUBLE) / CAST(len(w) AS BIGINT)), 6) AS quality,
        |    CAST(len(w) AS BIGINT) AS n_tok
        |  FROM tok),
        |cum AS (
        |  SELECT doc_id, quality, n_tok,
        |    CAST(sum(n_tok) OVER (ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tok
        |  FROM q)
        |SELECT doc_id, quality, n_tok, cum_tok FROM cum
        |WHERE cum_tok <= 10000 ORDER BY quality DESC, doc_id""".stripMargin)),

    // DSIR importance weights (Xie et al. 2023): the first four
    // sources play the "high-quality target" reference set; every raw
    // doc scores Σ_features ln(p_target/p_raw) over Laplace-smoothed
    // hashed unigram+bigram bucket multinomials (B = 4096), reported
    // in integer micro-nats (see Curation.dsirWeights' determinism
    // note — per-bucket rounding onto the 1e-6 grid BEFORE the per-doc
    // integer sum).
    Q("curation_dsir_weights",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Curation.dsirWeights(docs,
          docs.filter(col("source").isin("src0", "src1", "src2", "src3")))
          .orderBy("doc_id")
      },
      Some(s"""WITH $tokCte,
        |$dsirScoreCte
        |SELECT d.doc_id,
        |  CAST(COALESCE(sc.n_feats, 0) AS BIGINT) AS n_feats,
        |  CAST(COALESCE(sc.dsir_score, 0) AS BIGINT) AS dsir_score
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // Batch twin of the STREAMING DSIR screen
    // (graft.streaming.DocStreams.dsirScreen): the dense bucket model
    // is a BOUNDED driver-side collect (4096 entries), scoring is
    // per-row array lookups — and the scores are bit-identical to
    // curation_dsir_weights (same micro-nat grid, integer sums), so
    // the oracle IS the weights oracle. The screen path exists for
    // ingest, where a broadcast join against corpus-derived frames
    // isn't available to a stateless micro-batch.
    Q("stream_dsir_screen",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val model = Curation.dsirModel(docs,
          docs.filter(col("source").isin("src0", "src1", "src2", "src3")))
        graft.streaming.DocStreams.dsirScreen(docs, model)
          .orderBy("doc_id")
      },
      Some(s"""WITH $tokCte,
        |$dsirScoreCte
        |SELECT d.doc_id,
        |  CAST(COALESCE(sc.n_feats, 0) AS BIGINT) AS n_feats,
        |  CAST(COALESCE(sc.dsir_score, 0) AS BIGINT) AS dsir_score
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // DSIR selection under a 10k-token budget: raw docs ranked by the
    // importance score, maximal (score DESC, doc_id) prefix. Oracle is
    // the naive global window; the operator reuses selectBudget's
    // two-level prefix sum with 0.01-nat score bands as the partition
    // key (near-unique integer scores would otherwise degenerate the
    // per-score frame to corpus size).
    Q("curation_dsir_select",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Curation.dsirSelect(docs,
          docs.filter(col("source").isin("src0", "src1", "src2", "src3")),
          10000L)
          .orderBy(col("dsir_score").desc, col("doc_id"))
      },
      Some(s"""WITH $tokCte,
        |$dsirScoreCte,
        |st AS (
        |  SELECT t.doc_id, COALESCE(sc.dsir_score, 0) AS dsir_score,
        |    CAST(len(t.w) AS BIGINT) AS n_tok
        |  FROM tok t LEFT JOIN sc USING (doc_id)),
        |cum AS (
        |  SELECT doc_id, dsir_score, n_tok,
        |    CAST(sum(n_tok) OVER (ORDER BY dsir_score DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tok
        |  FROM st)
        |SELECT doc_id, CAST(dsir_score AS BIGINT) AS dsir_score, n_tok,
        |  cum_tok
        |FROM cum WHERE cum_tok <= 10000
        |ORDER BY dsir_score DESC, doc_id""".stripMargin)),

    // CCNet-style LM perplexity (Wenzek et al. 2019): every doc's
    // negative log-likelihood under a hashed-bucket bigram model
    // trained on the src0-src3 "clean reference" slice — integer
    // micro-nat sums over grid-rounded model constants (the DSIR
    // determinism discipline), per-transition average via truncating
    // integer division.
    Q("quality_perplexity",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Perplexity.score(docs,
          docs.filter(col("source").isin("src0", "src1", "src2", "src3")))
          .orderBy("doc_id")
      },
      Some(s"""WITH $tokCte,
        |$pplScoreCte
        |SELECT doc_id, CAST(n_trans AS BIGINT) AS n_trans,
        |  CAST(sum_lp AS BIGINT) AS sum_lp,
        |  CAST((-sum_lp) // n_trans AS BIGINT) AS nll_per_tok
        |FROM psc ORDER BY doc_id""".stripMargin)),

    // CCNet's head/middle/tail routing: tercile cut values as exact
    // rank-ceil(n/3)/ceil(2n/3) order statistics from a per-VALUE
    // histogram (the cumulated frame is bounded by the distinct
    // micro-nat scores, never the corpus — no global sort, no ntile).
    Q("quality_perplexity_buckets",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Perplexity.terciles(docs,
          docs.filter(col("source").isin("src0", "src1", "src2", "src3")))
          .orderBy("doc_id")
      },
      Some(s"""WITH $tokCte,
        |$pplScoreCte,
        |scored AS (
        |  SELECT doc_id,
        |    CAST((-sum_lp) // n_trans AS BIGINT) AS nll FROM psc),
        |hist AS (SELECT nll, count(*) AS c FROM scored GROUP BY nll),
        |cum AS (
        |  SELECT nll, sum(c) OVER (ORDER BY nll) AS cum FROM hist),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
        |cuts AS (
        |  SELECT min(CASE WHEN cum >= (n + 2) // 3 THEN nll END) AS t1,
        |         min(CASE WHEN cum >= (2 * n + 2) // 3 THEN nll END) AS t2
        |  FROM cum, tot)
        |SELECT s.doc_id, s.nll AS nll_per_tok,
        |  CASE WHEN s.nll <= c.t1 THEN 'head'
        |       WHEN s.nll <= c.t2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM scored s, cuts c ORDER BY s.doc_id""".stripMargin)),

    // Batch twin of the STREAMING perplexity screen
    // (graft.streaming.DocStreams.perplexityScreen): one scored row
    // per transition via two stream-static broadcast joins against
    // the target-derived model frames — stateless, so the per-doc
    // rollup happens downstream (contamScreen's screen-then-verify
    // split); the per-transition lp values feeding quality_perplexity
    // are identical by construction (shared scoreTransitions core).
    Q("stream_perplexity_screen",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val target =
          docs.filter(col("source").isin("src0", "src1", "src2", "src3"))
        graft.streaming.DocStreams.perplexityScreen(docs,
          Perplexity.model(target))
          .orderBy("doc_id", "pos")
      },
      Some(s"""WITH $tokCte,
        |$pplScoreCte
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  CAST(bp AS BIGINT) AS bp, CAST(bn AS BIGINT) AS bn,
        |  CAST(lp AS BIGINT) AS lp
        |FROM str ORDER BY doc_id, pos""".stripMargin)),

    // Corpus snapshot PATCH — the write half of the diff story:
    // reconstruct v2 from v1 + the patch frame (the diff's statuses
    // with the added/changed rows' NEW text), the incremental-
    // distribution shape where the publisher ships the small patch
    // instead of the 100 TB corpus. The oracle computes v2 DIRECTLY,
    // so the gate proves the law applyPatch(v1, patch(diff, v2)) == v2
    // on content hashes.
    Q("corpus_patch",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val oldC = docs.filter(col("doc_id") % 7 =!= 0)
        val newC = docs.filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        val patch = Curation.corpusDiff(oldC, newC)
          .filter(col("status") =!= "unchanged")
          .join(newC, Seq("doc_id"), "left")
          .select(col("doc_id"), col("status"), col("text"))
        Curation.applyPatch(oldC, patch)
          .select(col("doc_id"), md5(col("text")).as("text_hash"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2'
        |      ELSE text END) AS text_hash
        |FROM documents WHERE doc_id % 5 <> 0
        |ORDER BY doc_id""".stripMargin)),

    // Corpus snapshot diff: two deterministic "generations" carved
    // from the documents table (old drops %7 docs, new drops %5 docs
    // and rewrites %3 texts) — one full-outer join on narrow
    // (id, hash) projections classifies added/removed/changed/
    // unchanged.
    Q("corpus_diff",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val oldC = docs.filter(col("doc_id") % 7 =!= 0)
        val newC = docs.filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        Curation.corpusDiff(oldC, newC).orderBy("doc_id")
      },
      Some("""WITH o AS (
        |  SELECT doc_id, md5(text) AS oh FROM documents
        |  WHERE doc_id % 7 <> 0),
        |n AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2'
        |        ELSE text END) AS nh
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.oh <> n.nh THEN 'changed' ELSE 'unchanged' END
        |    AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin)),

    // Corpus datasheet (Gebru et al. "Datasheets for Datasets"): the
    // data card composed from already-verified aggregate operators
    // (profile, mixture, language mix, dup rate, quality pass counts)
    // rendered deterministically. The markdown/SVG render has no SQL
    // representation, so the oracle is a COMMITTED GOLDEN: the
    // (artifact, sha256, bytes) manifest pinned per scale factor,
    // dispatched on the orders row count (documents is 500 rows at
    // both small SFs — orders distinguishes all three). A driver
    // testdata regeneration or any render drift fails the gate
    // LOUDLY, which is the point; regenerate with
    //   SPARK_GRAFT_ONLY=corpus_datasheet_manifest,vis_report_manifest \
    //     sbt "runMain graft.Verify <sfDir> /tmp/out"
    // and re-pin the VALUES below.
    Q("corpus_datasheet_manifest",
      (s, d) => {
        val arts = graft.operators.Datasheet.render(Tables.documents(s, d))
        val digest = java.security.MessageDigest.getInstance("SHA-256")
        val rows = arts.map { case (name, content) =>
          val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          (name, digest.digest(bytes).map("%02x".format(_)).mkString,
            bytes.length.toLong)
        }.sortBy(_._1)
        import s.implicits._
        rows.toDF("artifact", "sha256", "bytes").orderBy("artifact")
      },
      Some("""WITH n AS (SELECT count(*) AS c FROM orders),
        |exp(artifact, sha256, bytes, c) AS (VALUES
        |  ('corpus_datasheet.md',
        |   'a0022d5a00ea817bb758f20b85c7cb03cbf183f87bc5232634c0c074e591a6ed',
        |   1789, 1500),
        |  ('corpus_mixture.svg',
        |   '7e5c9b95f338562d06b41253dd8aed662d5e6ea0317771619993df3bea8cc5a8',
        |   5081, 1500),
        |  ('corpus_datasheet.md',
        |   'd4dc98f6b9c3ceae3b8c90bbb37e3ef1d76b99de7653f9055c10e3595559e471',
        |   1799, 15000),
        |  ('corpus_mixture.svg',
        |   '89909b29f59f2b9969586e54f906dc8a81f3bafd046260d228605a2a3282b8b4',
        |   5076, 15000),
        |  ('corpus_datasheet.md',
        |   'c9f8e6c5efd1c7e897bfa066635ab74ff3b19a93b41873947936a9d12fbe1a9a',
        |   1859, 150000),
        |  ('corpus_mixture.svg',
        |   '192eb86269331888442f609b8d17fb14cfb3e4b2bc0fee92f3e1eae4c9c842d2',
        |   5074, 150000))
        |SELECT artifact, sha256, CAST(bytes AS BIGINT) AS bytes
        |FROM exp JOIN n ON exp.c = n.c ORDER BY artifact""".stripMargin)),

    // PII scrubbing: per-doc email/phone/IP match counts + the
    // redacted text. The synthetic corpus carries no natural PII, so
    // the query plants deterministic doc_id-derived PII (with CASE
    // gaps so counts vary 0/1) identically in both engines — the
    // operator itself is injection-agnostic per-row regex work.
    Q("pii_scrub",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val injected = docs.select(col("doc_id"), concat(
          col("text"),
          when(col("doc_id") % 3 =!= 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail.com"))).otherwise(lit("")),
          when(col("doc_id") % 4 =!= 0,
            concat(lit(" call 555-"),
              lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
              lit("-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          lit(" from 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 250).cast("string")).as("text"))
        // fanOut before the four regex passes (round 19, guide §2.5 —
        // the single-row-group scan ran them on one core); exportSorted
        // rather than orderBy, whose sampling job would re-run the
        // regex map
        graft.sources.Sinks.exportSorted(
          Scrub.scrubPii(graft.sources.Par.fanOut(injected))
            .select("doc_id", "n_emails", "n_phones", "n_ips", "clean"),
          Seq("doc_id"))
      },
      Some(s"""WITH inj AS (
        |  SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 3 <> 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.com'
        |      ELSE '' END) ||
        |    (CASE WHEN doc_id % 4 <> 0
        |      THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |        || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END) ||
        |    ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.0.' || CAST(doc_id % 250 AS VARCHAR) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '${Scrub.EmailRe}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(t, '${Scrub.PhoneRe}')) AS BIGINT)
        |    AS n_phones,
        |  CAST(len(regexp_extract_all(t, '${Scrub.Ipv4Re}')) AS BIGINT)
        |    AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '${Scrub.EmailRe}', '<EMAIL>', 'g'),
        |    '${Scrub.PhoneRe}', '<PHONE>', 'g'),
        |    '${Scrub.Ipv4Re}', '<IP>', 'g') AS clean
        |FROM inj ORDER BY doc_id""".stripMargin)),

    // Blocklist screening through the Aho-Corasick automaton: every
    // (position, term) hit over a nested/overlapping term set drawn
    // from the corpus vocabulary ('he' ends inside every 'the', 'an'
    // inside 'scan', 'ta' inside 'table'/'data' — the suffix-output
    // chain is load-bearing, not decorative). The oracle replays the
    // law directly: count positions where substr(text, i, len(term))
    // equals the term, per term, summed per doc. The automaton is the
    // scale story — O(len) per row whatever the blocklist size; the
    // regex-alternation route is O(terms) per position.
    Q("text_blocklist_hits",
      (s, d) => Scrub.blocklistHits(Tables.documents(s, d),
        Seq("he", "the", "ta", "scan", "an", "win", "order", "merge"))
        .orderBy("doc_id"),
      // NOTE: positions unnest from documents ALONE, the term cross
      // join comes after — a lateral unnest over an expression of both
      // sides trips a DuckDB internal binder assertion
      Some("""WITH terms AS (
        |  SELECT unnest(['he', 'the', 'ta', 'scan', 'an', 'win',
        |                 'order', 'merge']) AS t),
        |pos AS (
        |  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, count(*) AS n
        |  FROM pos, terms
        |  WHERE i + length(t) - 1 <= length(text)
        |    AND substr(text, CAST(i AS INT), CAST(length(t) AS INT)) = t
        |  GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
        |  CAST(CASE WHEN coalesce(h.n, 0) > 0 THEN 1 ELSE 0 END AS INT)
        |    AS flagged
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // Blocklist REDACTION: leftmost-longest non-overlapping greedy
    // (the FlashText discipline) through one trie walk per position —
    // term-count-free per-row cost. The oracle replays it as a
    // longest-first regex alternation: an earlier start always wins by
    // position, and at the same start the longest alternative is tried
    // first — the two disciplines coincide exactly.
    // Batch twin of the STREAMING blocklist screen
    // (DocStreams.blocklistScreen): stateless per-row automaton work,
    // so the identical plan runs on the finite frame — same oracle
    // law as text_blocklist_hits.
    Q("stream_blocklist_screen",
      (s, d) => graft.streaming.DocStreams.blocklistScreen(
        Tables.documents(s, d),
        Seq("he", "the", "ta", "scan", "an", "win", "order", "merge"))
        .orderBy("doc_id"),
      Some("""WITH terms AS (
        |  SELECT unnest(['he', 'the', 'ta', 'scan', 'an', 'win',
        |                 'order', 'merge']) AS t),
        |pos AS (
        |  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, count(*) AS n
        |  FROM pos, terms
        |  WHERE i + length(t) - 1 <= length(text)
        |    AND substr(text, CAST(i AS INT), CAST(length(t) AS INT)) = t
        |  GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
        |  CAST(CASE WHEN coalesce(h.n, 0) > 0 THEN 1 ELSE 0 END AS INT)
        |    AS flagged
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    Q("text_blocklist_scrub",
      (s, d) => Scrub.blocklistScrub(Tables.documents(s, d),
        Seq("he", "the", "ta", "scan", "an", "win", "order", "merge"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  regexp_replace(text, 'order|merge|scan|the|win|ta|he|an',
        |    '<TERM>', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin))
  )
}
