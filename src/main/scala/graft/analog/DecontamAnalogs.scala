package graft.analog

import org.apache.spark.sql.functions._

import graft.Q
import graft.operators.{Curation, Decontam}
import graft.sources.{Sinks, Tables}

/** Registry entries + DuckDB oracles for the decontamination /
  * corpus-composition operators (graft.operators.Decontam) — the
  * train-eval hygiene surface of the LLM-data pipeline (no reference
  * counterpart; the reference's surface is the 7 rideshare tasks).
  *
  * The benchmark set for the screen queries is carved from the
  * documents table itself (`doc_id % 50 = 0` — every 50th doc, ~2%),
  * so the oracle can reproduce the exact split with integer
  * arithmetic and the screen exercises the real near-dup structure of
  * the corpus (replicated docs land on both sides of the split).
  */
object DecontamAnalogs {

  /** 60-bit word hash — TextFunctions.wordHash60. */
  private def dH60(w: String) = s"('0x' || substr(md5($w),1,15))::BIGINT"

  /** FIRST digit group of a source name — must match the oracle's
    * `regexp_extract(source, '([0-9]+)', 1)` exactly (replaceAll of
    * non-digits would concatenate MULTIPLE groups and diverge);
    * digit-free sources get 0 on both sides (the oracle SQL guards
    * with the same coalesce).
    */
  private def firstDigits(src: String): Long =
    "([0-9]+)".r.findFirstIn(src).map(_.toLong).getOrElse(0L)

  /** Oracle-side twin of [[firstDigits]]. */
  private val dFirstDigits =
    "CAST(coalesce(nullif(regexp_extract(source, '([0-9]+)', 1), ''), '0') AS BIGINT)"

  /** Distinct word-3-gram CTE over documents: (doc_id, gs LIST).
    * range(1, len(w)-1) is empty for docs under 3 words — no edge
    * cases.
    */
  private val g3Cte =
    """tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g3 AS (SELECT doc_id, list_distinct(list_transform(
      |  range(1, len(w) - 1),
      |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gs FROM tok)""".stripMargin

  /** Exploded 60-bit 3-gram hashes for each side of the bench/train
    * split (train = doc_id % 50 <> 0, bench = the rest).
    */
  private val splitCte =
    s"""tg AS (SELECT doc_id AS train_id, ${dH60("g")} AS h
       |      FROM (SELECT doc_id, unnest(gs) AS g FROM g3 WHERE doc_id % 50 <> 0)),
       |bg AS (SELECT doc_id AS bench_id, ${dH60("g")} AS h
       |      FROM (SELECT doc_id, unnest(gs) AS g FROM g3 WHERE doc_id % 50 = 0))""".stripMargin

  /** Keep-set oracle shared by decontam_survivors and its
    * bloom-prescreened twin (which must be value-identical).
    */
  private val survivorsSql =
    s"""WITH $g3Cte, $splitCte,
       |hits AS (SELECT tg.train_id FROM tg JOIN bg ON tg.h = bg.h
       |         GROUP BY tg.train_id, bg.bench_id
       |         HAVING count(DISTINCT tg.h) >= 2)
       |SELECT doc_id FROM documents
       |WHERE doc_id % 50 <> 0
       |  AND doc_id NOT IN (SELECT train_id FROM hits)
       |ORDER BY doc_id""".stripMargin

  private val hitsSql =
    s"""WITH $g3Cte, $splitCte
       |SELECT tg.train_id, bg.bench_id,
       |       count(DISTINCT tg.h) AS n_shared
       |FROM tg JOIN bg ON tg.h = bg.h
       |GROUP BY 1, 2
       |HAVING count(DISTINCT tg.h) >= 2
       |ORDER BY train_id, bench_id""".stripMargin

  val queries: Seq[Q] = Seq(

    // GPT-3-style n-gram contamination screen: train docs sharing >= 2
    // distinct word 3-grams with any benchmark doc, with the overlap
    // count per (train, bench) pair.
    Q("decontam_hits",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Sinks.exportSorted(Decontam.overlapScreen(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0)), Seq("train_id", "bench_id"))
      },
      Some(hitsSql)),

    // The RATIO form of the screen (GPT-3 appendix C shape): per train
    // doc, what fraction of its distinct 3-grams appears anywhere in
    // the benchmark set — integer per-myriad, truncating.
    Q("decontam_overlap_ratio",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Decontam.overlapRatio(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0))
      },
      Some(s"""WITH $g3Cte, $splitCte,
        |bset AS (SELECT DISTINCT h FROM bg),
        |r AS (
        |  SELECT tg.train_id AS doc_id,
        |    CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN bset.h IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_contam
        |  FROM tg LEFT JOIN bset ON tg.h = bset.h
        |  GROUP BY 1)
        |SELECT doc_id, n_grams, n_contam,
        |  CAST(n_contam * 10000 // n_grams AS BIGINT) AS contam_pm
        |FROM r ORDER BY doc_id""".stripMargin)),

    // The decontaminated keep set: train docs hitting NO benchmark doc.
    Q("decontam_survivors",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Decontam.survivors(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0))
      },
      Some(survivorsSql)),

    // The same keep set computed through the Bloom-prescreen path —
    // the scale shape for benchmark sets past broadcast-join size. The
    // oracle is IDENTICAL to decontam_survivors: bloom false positives
    // are screened out by the exact verify, so any drift is a bug.
    Q("decontam_bloom_survivors",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Decontam.bloomSurvivors(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0))
      },
      Some(survivorsSql)),

    // Per-doc repetition profile over word 2-grams: the C4/Gopher-style
    // boilerplate signal (total vs distinct n-grams, modal token share).
    Q("text_repetition",
      (s, d) => Decontam.repetitionStats(Tables.documents(s, d)),
      Some("""WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g2 AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gs FROM tok),
        |modal AS (
        |  SELECT doc_id, max(c) AS best FROM (
        |    SELECT doc_id, count(*) AS c
        |    FROM (SELECT doc_id, unnest(w) AS t FROM tok)
        |    GROUP BY doc_id, t)
        |  GROUP BY doc_id)
        |SELECT tok.doc_id,
        |  CAST(greatest(len(w) - 1, 0) AS BIGINT) AS n_ngrams,
        |  CAST(len(gs) AS BIGINT) AS n_distinct,
        |  round(CASE WHEN len(w) - 1 > 0
        |    THEN 1.0 - CAST(len(gs) AS DOUBLE) / CAST(len(w) - 1 AS DOUBLE)
        |    ELSE 0.0 END, 6) AS repetition_ratio,
        |  round(CAST(best AS DOUBLE) / CAST(len(w) AS DOUBLE), 6)
        |    AS top_token_share
        |FROM tok
        |JOIN g2 ON tok.doc_id = g2.doc_id
        |JOIN modal ON tok.doc_id = modal.doc_id
        |ORDER BY tok.doc_id""".stripMargin)),

    // Batch twin of the STREAMING contamination screen
    // (graft.streaming.DocStreams.contamScreen): every 50th-plus-25
    // doc "arrives" and stream-static joins the benchmark 3-gram
    // index; one row per (arriving doc, bench doc, shared gram hash)
    // collision — the stateless screen half, with the per-pair rollup
    // left to the downstream verify (same split as nearDupScreen).
    Q("stream_contam_screen",
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.streaming.DocStreams.contamScreen(
          docs.filter(col("doc_id") % 50 === 25),
          graft.streaming.DocStreams.benchGramIndex(
            docs.filter(col("doc_id") % 50 === 0)))
          .orderBy("doc_id", "bench_id", "h")
      },
      Some(s"""WITH $g3Cte,
        |sg AS (SELECT doc_id, ${dH60("g")} AS h
        |      FROM (SELECT doc_id, unnest(gs) AS g FROM g3 WHERE doc_id % 50 = 25)),
        |bg AS (SELECT doc_id AS bench_id, ${dH60("g")} AS h
        |      FROM (SELECT doc_id, unnest(gs) AS g FROM g3 WHERE doc_id % 50 = 0))
        |SELECT sg.doc_id, bg.bench_id, sg.h
        |FROM sg JOIN bg ON sg.h = bg.h
        |ORDER BY 1, 2, 3""".stripMargin)),

    // Deterministic stratified downsampling — the apply-side of the
    // mixture weights: per-source keep rates (quarters, exactly
    // representable in binary so the threshold arithmetic is
    // bit-identical across engines), md5-of-doc_id bucket decides.
    // The distinct-source collect is bounded by stratum count (model
    // params, the k-means-centroid shape).
    Q("domain_mix_sample",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sources = docs.select("source").distinct()
          .collect().map(_.getString(0))
        val rates = sources.map(src =>
          src -> ((firstDigits(src) % 4 + 1) * 0.25)).toMap
        graft.operators.Curation.sampleStratified(docs, rates)
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, source,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT
        |    % 1000000 AS bucket
        |FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT
        |    % 1000000
        |  < CAST(($dFirstDigits
        |      % 4 + 1) * 0.25 * 1000000 AS BIGINT)
        |ORDER BY doc_id""".stripMargin)),

    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    // A-ES, round 13): inclusion probability ∝ weight (n_chars here —
    // the quality-weighted subsample), selection = the 100 smallest
    // integer priorities (m·10^6)//w with m = grid-rounded micro-nat
    // −ln of the md5-60 uniform (the DSIR transcendental discipline;
    // positive division, so trunc == floor in both engines). One map
    // + one bounded global heap on the Spark side; the oracle replays
    // the identical arithmetic per row.
    Q("curation_weighted_sample",
      (s, d) => graft.operators.Curation.sampleWeighted(
        Tables.documents(s, d), col("n_chars"), n = 100),
      Some("""WITH wt AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |    CAST(round(-1e6 * ln(
        |      (('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
        |        + 1) / 1152921504606846976.0)) AS BIGINT) AS m
        |  FROM documents WHERE n_chars > 0),
        |pr AS (SELECT doc_id, (m * 1000000) // w AS pr FROM wt),
        |r AS (
        |  SELECT doc_id, pr, row_number() OVER (ORDER BY pr, doc_id)
        |    AS rnk
        |  FROM pr)
        |SELECT doc_id, pr AS priority, CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 100 ORDER BY rank""".stripMargin)),

    // Batch twin of the STREAMING per-window weighted sample
    // (DocStreams.sampleScreen): docs arrive one minute apart, and
    // each 1-hour window draws its 10-row A-ES sample — the SHARED
    // aesPriority builder plus the watermarked TopKAgg heap, so the
    // continuous ingest subsample is the batch draw per window, and
    // the oracle replays the identical per-row arithmetic hour by
    // hour.
    Q("stream_sample_screen",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("ts", expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(doc_id as int),0)"))
          .select(col("doc_id"), col("n_chars").as("w"), col("ts"))
        graft.streaming.DocStreams.sampleScreen(docs, n = 10)
          .select(
            date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("doc_id"), col("priority"), col("rank"))
          .orderBy("hour", "rank")
      },
      Some("""WITH wt AS (
        |  SELECT doc_id,
        |    strftime(date_trunc('hour',
        |      timestamp '2024-01-01 00:00:00' + to_minutes(doc_id)),
        |      '%Y-%m-%d %H:%M:%S') AS hour,
        |    CAST(n_chars AS BIGINT) AS w,
        |    CAST(round(-1e6 * ln(
        |      (('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
        |        + 1) / 1152921504606846976.0)) AS BIGINT) AS m
        |  FROM documents WHERE n_chars > 0),
        |pr AS (SELECT doc_id, hour, (m * 1000000) // w AS pr FROM wt),
        |r AS (
        |  SELECT hour, doc_id, pr, row_number() OVER
        |    (PARTITION BY hour ORDER BY pr, doc_id) AS rnk
        |  FROM pr)
        |SELECT hour, doc_id, pr AS priority, CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 10 ORDER BY hour, rank""".stripMargin)),

    // Batch twin of the STREAMING first-come per-source quota
    // (DocStreams.quotaScreen): admit each source's docs until its
    // running total hits the cap. On the finite frame the
    // flatMapGroupsWithState function runs with empty initial state,
    // so admission is the first 40 docs per source in doc_id order —
    // the row_number oracle; DocStreamsSpec proves the two-batch
    // streamed replay (state carried across batches) emits the same
    // admissions. The arrival-order counterpart of the
    // quality-ranked curation_source_cap.
    Q("stream_quota_screen",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"))
          .as[graft.streaming.QuotaDoc]
        graft.streaming.DocStreams.quotaScreen(docs, cap = 40)
          .toDF()
          .select(col("source"), col("doc_id"), col("rank"))
          .orderBy("source", "rank")
      },
      Some("""WITH r AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rank
        |  FROM documents)
        |SELECT source, doc_id, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 40 ORDER BY source, rank""".stripMargin)),

    // Full mixture apply with upsampling: weights in halves
    // (0.5/1.0/1.5/2.0 by source index — exactly representable), docs
    // replicated floor(w) times plus a fractional md5-decided extra.
    Q("domain_mix_resample",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sources = docs.select("source").distinct()
          .collect().map(_.getString(0))
        val weights = sources.map(src =>
          src -> ((firstDigits(src) % 4 + 1) * 0.5)).toMap
        graft.operators.Curation.resampleStratified(docs, weights)
          .orderBy("doc_id", "copy")
      },
      Some(s"""WITH r AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT
        |      % 1000000 AS bucket,
        |    ($dFirstDigits
        |      % 4 + 1) * 0.5 AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |    CAST(floor(w) AS BIGINT) +
        |    (CASE WHEN bucket < CAST((w - floor(w)) * 1000000 AS BIGINT)
        |      THEN 1 ELSE 0 END) AS copies
        |  FROM r)
        |SELECT doc_id, source, unnest(range(1, copies + 1)) AS copy
        |FROM c WHERE copies >= 1
        |ORDER BY doc_id, copy""".stripMargin)),

    // Domain-mixture bookkeeping: per-source token share + the
    // uniform-target resampling weight (The Pile / DoReMi shape).
    Q("domain_mix_weights",
      (s, d) => Decontam.domainMix(Tables.documents(s, d)),
      Some("""WITH per_source AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |totals AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
        |         count(*) AS n_sources
        |  FROM per_source)
        |SELECT source, n_docs, n_tokens,
        |  round(CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE), 6)
        |    AS token_share,
        |  round((1.0 / CAST(n_sources AS DOUBLE)) /
        |    (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)), 6)
        |    AS samp_weight
        |FROM per_source CROSS JOIN totals
        |ORDER BY source""".stripMargin)),

    // Temperature-scaled mixture (mT5 recipe, alpha = 0.3): target
    // share ∝ token_share^alpha. The one transcendental (pow) lands on
    // an integer micro-unit grid first (the DSIR discipline); shares
    // and weights are then IEEE-exact double products/divisions of
    // those integers, identically parenthesized here.
    Q("domain_mix_temperature",
      (s, d) => Decontam.domainMixTemperature(Tables.documents(s, d)),
      Some("""WITH per_source AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |totals AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM per_source),
        |scored AS (
        |  SELECT source, n_docs, n_tokens, tot_tokens,
        |    CAST(round(pow(CAST(n_tokens AS DOUBLE)
        |      / CAST(tot_tokens AS DOUBLE), 0.3) * 1000000) AS BIGINT) AS a
        |  FROM per_source CROSS JOIN totals),
        |norm AS (SELECT CAST(sum(a) AS BIGINT) AS sum_a FROM scored)
        |SELECT source, n_docs, n_tokens,
        |  round(CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE), 6)
        |    AS token_share,
        |  round(CAST(a AS DOUBLE) / CAST(sum_a AS DOUBLE), 6)
        |    AS target_share,
        |  round((CAST(a AS DOUBLE) * CAST(tot_tokens AS DOUBLE)) /
        |    (CAST(sum_a AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 6)
        |    AS samp_weight
        |FROM scored CROSS JOIN norm
        |ORDER BY source""".stripMargin)),

    // UniMax budget allocation (Chung et al. 2023): uniform waterfill
    // over sources with a maxEpochs capacity cap — closed-form over
    // the capacity-sorted source frame, ALL integer arithmetic
    // (truncating div + explicit mod-remainder placement), so the
    // allocation hash-matches exactly. Budget 100k tokens, 4 epochs.
    Q("curation_unimax_alloc",
      (s, d) => Curation.unimaxAlloc(Tables.documents(s, d), 100000L),
      Some("""WITH per_source AS (
        |  SELECT source,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |caps AS (
        |  SELECT source, n_tokens, n_tokens * 4 AS cap,
        |         (SELECT count(*) FROM per_source) AS k
        |  FROM per_source),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT)
        |      AS i,
        |    COALESCE(CAST(sum(cap) OVER (ORDER BY cap, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |      0) AS s_prev
        |  FROM caps),
        |flagged AS (
        |  SELECT *, (cap * (k - i + 1) <= 100000 - s_prev) AS is_full
        |  FROM ranked),
        |leveled AS (
        |  SELECT *,
        |    COALESCE(CAST(sum(CASE WHEN is_full THEN cap END)
        |      OVER () AS BIGINT), 0) AS full_tok,
        |    CAST(sum(CASE WHEN is_full THEN 0 ELSE 1 END) OVER () AS BIGINT)
        |      AS m,
        |    CAST(sum(CASE WHEN is_full THEN 1 ELSE 0 END)
        |      OVER (ORDER BY cap, source
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS n_full_upto
        |  FROM flagged),
        |alloc AS (
        |  SELECT source, n_tokens, cap,
        |    CASE WHEN is_full THEN cap
        |         ELSE (100000 - full_tok) // greatest(m, 1)
        |           + (CASE WHEN i - n_full_upto <=
        |               (100000 - full_tok) % greatest(m, 1)
        |              THEN 1 ELSE 0 END)
        |    END AS alloc
        |  FROM leveled)
        |SELECT source, n_tokens, cap, CAST(alloc AS BIGINT) AS alloc,
        |  round(CAST(alloc AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        |    AS epochs
        |FROM alloc ORDER BY source""".stripMargin))
  )
}
