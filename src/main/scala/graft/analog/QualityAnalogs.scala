package graft.analog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.operators.{Chunking, QualityFilters}
import graft.sources.{ModelStore, Tables}

/** Registry entries + DuckDB oracles for the rule-based quality
  * filters (graft.operators.QualityFilters) — the published C4 /
  * Gopher heuristics every pretraining pipeline runs (no reference
  * counterpart; the reference's surface is the 7 rideshare tasks).
  *
  * The synthetic corpus is lowercase word-soup with no punctuation,
  * lines, digits, or symbols, so — like `pii_scrub` — each query
  * plants deterministic doc_id-derived structure identically in both
  * engines (CASE gaps so every rule fires on some docs and not
  * others); the operators themselves are injection-agnostic per-row
  * scalar work.
  */
object QualityAnalogs {

  /** 60-bit word hash — TextFunctions.wordHash60 (DuckDB side). */
  private def dH60(w: String) = s"('0x' || substr(md5($w),1,15))::BIGINT"

  /** The deterministic lined page both engines build from the line-less
    * corpus (the C4 rules need line structure): 8-token lines with a
    * terminal '.' on 3 of 4 lines (doc_id+line phase), plus a
    * javascript line on %6 (line-rule kill), a curly-brace line on %5
    * and a lorem-ipsum line on %7 (page-rule kills). The natural short
    * last line exercises the ≥5-words rule without injection.
    */
  private def linedDocs(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val nLines = (size(col("w")) + lit(7)) / lit(8)
    val built = base.select(col("doc_id"),
      transform(sequence(lit(0), nLines.cast("int") - 1), i =>
        concat(array_join(slice(col("w"), i * 8 + 1, lit(8)), " "),
          when((col("doc_id") + i) % 4 =!= 0, lit("."))
            .otherwise(lit("")))).as("l0"))
    val emptyArr = array().cast("array<string>")
    built.select(col("doc_id"), array_join(concat(
      col("l0"),
      when(col("doc_id") % 6 === 0,
        array(lit("please enable javascript to continue.")))
        .otherwise(emptyArr),
      when(col("doc_id") % 5 === 0,
        array(lit("function() { return 1; }"))).otherwise(emptyArr),
      when(col("doc_id") % 7 === 0,
        array(lit("lorem ipsum dolor sit amet."))).otherwise(emptyArr)),
      "\n").as("text"))
  }

  /** DuckDB twin of [[linedDocs]]: CTEs ending in `page(doc_id, t)`. */
  private val linedCte: String =
    """tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |built AS (
      |  SELECT doc_id,
      |    list_transform(range(0, (len(w)+7)//8), i ->
      |      array_to_string(w[(i*8+1):(i*8+8)], ' ') ||
      |      (CASE WHEN (doc_id + i) % 4 <> 0 THEN '.' ELSE '' END)) AS l0
      |  FROM tok),
      |page AS (
      |  SELECT doc_id, array_to_string(l0
      |    || (CASE WHEN doc_id % 6 = 0
      |        THEN ['please enable javascript to continue.']
      |        ELSE []::VARCHAR[] END)
      |    || (CASE WHEN doc_id % 5 = 0
      |        THEN ['function() { return 1; }'] ELSE []::VARCHAR[] END)
      |    || (CASE WHEN doc_id % 7 = 0
      |        THEN ['lorem ipsum dolor sit amet.'] ELSE []::VARCHAR[] END),
      |    chr(10)) AS t
      |  FROM built)""".stripMargin

  /** The C4 line-keep predicate as DuckDB SQL over a line var `l`. */
  private val dKeepLine =
    """regexp_matches(l, '[.!?"]$') AND len(string_split(l, ' ')) >= 5
      |      AND NOT contains(lower(l), 'javascript')""".stripMargin

  /** The Gopher-injected corpus (quality_gopher_rules' fixture). */
  private def injectedDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 2 === 0, lit(" and that have with"))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit(" 123 456 789 000 111"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit(" # # # # # #"))
          .otherwise(lit("")),
        when(col("doc_id") % 9 === 0, lit(" ... ..."))
          .otherwise(lit(""))).as("text"))

  /** Classifier-based quality filtering (the FineWeb-Edu shape, weak-
    * supervision variant): Gopher rule verdicts become keep/drop WEAK
    * LABELS, and the generic hashed-char-trigram NB (LangId.train —
    * its label column is just a class) trains on the doc_id%5 seed
    * slice and scores EVERY document. The point at 100 TB: the rules
    * run once on the seed; the full corpus pays only the one-scan NB
    * scoring — and the same machinery accepts human or LLM labels in
    * place of the rules with zero code change.
    */
  private def qualityNbBase(s: SparkSession, d: String): DataFrame =
    injectedDocs(s, d)
      // label attach is a PROJECTION (QualityFilters.gopherPass), not
      // a join back to the metric frame — the corpus never self-joins
      // for its own labels; token array materialized once (no HOF CSE)
      .select(col("doc_id"), col("text"),
        split(col("text"), " ").as("_w"))
      .select(col("doc_id"),
        when(QualityFilters.gopherPass(col("text"), col("_w")),
          lit("keep")).otherwise(lit("drop")).as("lang"),
        col("text"))

  private def qualityNbPredictions(s: SparkSession,
      d: String, wordFeats: Boolean = false): DataFrame = {
    val base = qualityNbBase(s, d)
    val m = graft.operators.LangId.train(
      base.filter(col("doc_id") % 5 === 0), wordFeats = wordFeats)
    graft.operators.LangId.predict(base, m)
      .join(base.select("doc_id", "lang"), "doc_id")
  }

  /** DuckDB twin of [[qualityNbBase]]: CTEs ending in
    * `qnb(doc_id, lang, text)` — the weak-label relation the shared
    * NB chain (ExtraAnalogs.dNbChainOn) trains and scores over.
    * concat() instead of line-leading `||` (the stripMargin gotcha).
    */
  private val dQnbCte: String =
    """inj AS (SELECT doc_id, concat(text,
      |    CASE WHEN doc_id % 2 = 0 THEN ' and that have with' ELSE '' END,
      |    CASE WHEN doc_id % 3 = 0 THEN ' 123 456 789 000 111' ELSE '' END,
      |    CASE WHEN doc_id % 4 = 0 THEN ' # # # # # #' ELSE '' END,
      |    CASE WHEN doc_id % 9 = 0 THEN ' ... ...' ELSE '' END) AS t
      |  FROM documents),
      |gtok AS (SELECT doc_id, t, string_split(t, ' ') AS w FROM inj),
      |gm AS (SELECT doc_id,
      |  CAST(len(w) AS BIGINT) AS n_words,
      |  CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
      |    AS sum_len,
      |  CAST(len(regexp_extract_all(t, '#'))
      |    + len(regexp_extract_all(t, '[.][.][.]')) AS BIGINT) AS n_symbols,
      |  CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
      |    AS BIGINT) AS n_alpha_words,
      |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
      |    x -> list_contains(w, x))) AS BIGINT) AS n_req_stop
      |  FROM gtok),
      |qnb AS (SELECT m.doc_id,
      |  CASE WHEN n_words >= 50 AND n_words <= 100000
      |    AND 3*n_words <= sum_len AND sum_len <= 10*n_words
      |    AND 10*n_symbols <= n_words
      |    AND 5*n_alpha_words >= 4*n_words
      |    AND n_req_stop >= 2 THEN 'keep' ELSE 'drop' END AS lang,
      |  i.t AS text
      |  FROM gm m JOIN inj i USING (doc_id))""".stripMargin

  /** The per-class P/R/F1 tail shared by the v1 and v2 classifier
    * gates (`eval_quality_nb_prf` / `eval_quality_nb2_prf`): the A/B
    * comparison between the feature families is meaningful only while
    * this tail is byte-identical, so it is factored once (the
    * dMetricsTail discipline) — expects a CTE `rk` (ranked
    * predictions) upstream.
    */
  private val dPrfTail: String =
    """prd AS (SELECT true_lang AS label, lang AS pred
      |        FROM rk WHERE rk = 1),
      |bl AS (SELECT label AS cls, CAST(count(*) AS BIGINT) AS n_label,
      |         CAST(sum(CASE WHEN label = pred THEN 1 ELSE 0 END)
      |           AS BIGINT) AS tp
      |       FROM prd GROUP BY 1),
      |bp AS (SELECT pred AS cls, CAST(count(*) AS BIGINT) AS n_pred
      |       FROM prd GROUP BY 1),
      |j AS (SELECT COALESCE(bl.cls, bp.cls) AS cls,
      |        COALESCE(tp, 0) AS tp,
      |        COALESCE(n_pred, 0) - COALESCE(tp, 0) AS fp,
      |        COALESCE(n_label, 0) - COALESCE(tp, 0) AS fn
      |      FROM bl FULL OUTER JOIN bp ON bl.cls = bp.cls)
      |SELECT cls, tp, fp, fn,
      |  CAST(CASE WHEN tp + fp > 0
      |    THEN tp * 10000 // (tp + fp) ELSE 0 END AS BIGINT)
      |    AS precision_pm,
      |  CAST(CASE WHEN tp + fn > 0
      |    THEN tp * 10000 // (tp + fn) ELSE 0 END AS BIGINT)
      |    AS recall_pm,
      |  CAST(CASE WHEN 2*tp + fp + fn > 0
      |    THEN 2 * tp * 10000 // (2*tp + fp + fn) ELSE 0 END
      |    AS BIGINT) AS f1_pm
      |FROM j ORDER BY cls""".stripMargin

  val queries: Seq[Q] = Seq(

    // Model-based quality scoring: weak labels from the Gopher rules
    // train the generic trigram NB on the %5 seed; every doc gets a
    // keep/drop prediction + integer micro-nat score. The oracle
    // composes the gopher-verdict CTEs with the SHARED NB chain
    // (dNbChainOn — the same arithmetic the langid queries gate), so
    // classifier and rules cannot drift apart.
    Q("quality_nb_score",
      (s, d) => qualityNbPredictions(s, d)
        .select(col("doc_id"), col("lang").as("label"),
          col("pred_lang").as("pred"), col("score"))
        .orderBy("doc_id"),
      Some(s"""WITH $dQnbCte,
        |${ExtraAnalogs.dNbChainOn("qnb")}
        |SELECT doc_id, true_lang AS label, lang AS pred,
        |  CAST(score AS BIGINT) AS score
        |FROM rk WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    // Batch twin of the STREAMING model-quality screen
    // (DocStreams.qualityNbScreen): every 10th doc "arrives" and
    // scores against the STORED NB quality model — trained ONCE on
    // the accepted (non-arriving) corpus's %10==5 seed via
    // ModelStore.ensureNb, then collapsed to driver literals and
    // applied by the stateless per-row argmax (predictRowwise — no
    // join/window/state, streaming-legal plan). The oracle replays
    // the shared NB chain with the screen's seed predicate and
    // filters to arrivals.
    Q("stream_quality_nb_screen",
      (s, d) => {
        val m = graft.sources.ModelStore.ensureNb(
          qualityNbBase(s, d).filter(col("doc_id") % 10 === 5),
          ModelStore.dir("qnb", d))
        // arrivals carry NO labels — the weak-label join belongs to
        // TRAINING (batch, pre-stream); the screen's own plan must
        // stay join-free (PlanAuditSpec pins it streaming-legal)
        graft.streaming.DocStreams.qualityNbScreen(
          injectedDocs(s, d).filter(col("doc_id") % 10 === 0), m)
          .orderBy("doc_id")
      },
      Some(s"""WITH $dQnbCte,
        |${ExtraAnalogs.dNbChainOn("qnb", "doc_id % 10 = 5")}
        |SELECT doc_id, lang AS verdict, CAST(score AS BIGINT) AS score
        |FROM rk WHERE rk = 1 AND doc_id % 10 = 0
        |ORDER BY doc_id""".stripMargin)),

    // The classifier's agreement gate: per-class P/R/F1 of the NB
    // keep/drop predictions against the rule labels themselves —
    // how faithfully the cheap one-scan model reproduces the rules
    // it distilled (the number a deployment checks before swapping
    // rules for model on the other 99.99 % of the corpus).
    Q("eval_quality_nb_prf",
      (s, d) => graft.operators.Evaluation.classPrf(
        qualityNbPredictions(s, d)
          .select(col("lang").as("label"), col("pred_lang").as("pred"))),
      Some(s"""WITH $dQnbCte,
        |${ExtraAnalogs.dNbChainOn("qnb")},
        |$dPrfTail""".stripMargin)),

    // The WORD-FEATURE arm of the same gate (round-18 ask #7 — the
    // fastText recipe's second feature family): hashed DISTINCT-word
    // features in the disjoint [1024, 2048) bucket range beside the
    // char trigrams, smoothed over the OBSERVED seed vocabulary
    // (vocabulary-based add-1), trained/scored on the IDENTICAL
    // weak-label fixture through the identical PRF tail. Both design
    // choices were MEASURED against the obvious alternative on this
    // fixture (DuckDB experiment matrix, SCALING.md round 18):
    // count-valued word features with hash-space smoothing sink
    // keep-F1 3111 → 1011 pm (the multinomial length × imbalance ×
    // oversmoothing bias — every shared soup word votes majority);
    // presence features + vocabulary smoothing lift it 3111 → 5426 pm
    // (keep recall 2651 → 6742) at drop-F1 8000 → 7767. Word
    // identity is the labels' own evidence (stopword presence,
    // symbol words) that char trigrams smear across classes.
    Q("eval_quality_nb2_prf",
      (s, d) => graft.operators.Evaluation.classPrf(
        qualityNbPredictions(s, d, wordFeats = true)
          .select(col("lang").as("label"), col("pred_lang").as("pred"))),
      Some(s"""WITH $dQnbCte,
        |${ExtraAnalogs.dNbChainOn("qnb", wordFeats = true)},
        |$dPrfTail""".stripMargin)),

    // Gopher document-level rules (Rae et al. 2021, table A1 subset
    // that applies to a line-less corpus). Injections: required
    // stopwords on doc_id%2 (g_stop), numeric words on %3 (g_alpha
    // pressure), '#' words on %4 (g_sym pressure), ellipses on %9.
    // Rule verdicts are integer arithmetic in both engines; the
    // rounded ratio columns cannot tie at the 6th digit (denominators
    // ≤ ~120 that divide 10^7 all terminate by digit 6).
    Q("quality_gopher_rules",
      (s, d) => {
        val injected = Tables.documents(s, d).select(col("doc_id"),
          concat(
            col("text"),
            when(col("doc_id") % 2 === 0, lit(" and that have with"))
              .otherwise(lit("")),
            when(col("doc_id") % 3 === 0, lit(" 123 456 789 000 111"))
              .otherwise(lit("")),
            when(col("doc_id") % 4 === 0, lit(" # # # # # #"))
              .otherwise(lit("")),
            when(col("doc_id") % 9 === 0, lit(" ... ..."))
              .otherwise(lit(""))).as("text"))
        QualityFilters.gopherRules(injected).orderBy("doc_id")
      },
      Some(s"""WITH inj AS (
        |  SELECT doc_id, text
        |    || (CASE WHEN doc_id % 2 = 0 THEN ' and that have with' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN ' 123 456 789 000 111' ELSE '' END)
        |    || (CASE WHEN doc_id % 4 = 0 THEN ' # # # # # #' ELSE '' END)
        |    || (CASE WHEN doc_id % 9 = 0 THEN ' ... ...' ELSE '' END) AS t
        |  FROM documents),
        |tok AS (SELECT doc_id, t, string_split(t, ' ') AS w FROM inj),
        |m AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
        |  CAST(len(regexp_extract_all(t, '#'))
        |    + len(regexp_extract_all(t, '[.][.][.]')) AS BIGINT) AS n_symbols,
        |  CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT)
        |    AS n_alpha_words,
        |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |    x -> list_contains(w, x))) AS BIGINT) AS n_req_stop
        |  FROM tok)
        |SELECT doc_id, n_words,
        |  round(CAST(sum_len AS DOUBLE) / n_words, 6) AS mean_word_len,
        |  round(CAST(n_symbols AS DOUBLE) / n_words, 6) AS symbol_ratio,
        |  round(CAST(n_alpha_words AS DOUBLE) / n_words, 6) AS alpha_frac,
        |  n_req_stop,
        |  CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS g_words,
        |  CASE WHEN 3*n_words <= sum_len AND sum_len <= 10*n_words THEN 1 ELSE 0 END AS g_len,
        |  CASE WHEN 10*n_symbols <= n_words THEN 1 ELSE 0 END AS g_sym,
        |  CASE WHEN 5*n_alpha_words >= 4*n_words THEN 1 ELSE 0 END AS g_alpha,
        |  CASE WHEN n_req_stop >= 2 THEN 1 ELSE 0 END AS g_stop,
        |  CASE WHEN n_words >= 50 AND n_words <= 100000
        |    AND 3*n_words <= sum_len AND sum_len <= 10*n_words
        |    AND 10*n_symbols <= n_words
        |    AND 5*n_alpha_words >= 4*n_words
        |    AND n_req_stop >= 2 THEN 1 ELSE 0 END AS pass
        |FROM m ORDER BY doc_id""".stripMargin)),

    // C4 line-level cleaning (Raffel et al. 2020 §2.2) over the
    // deterministic lined page (see linedDocs).
    Q("quality_c4_clean",
      (s, d) => QualityFilters.c4Clean(linedDocs(s, d)).orderBy("doc_id"),
      // linedCte is concatenated AFTER stripMargin: its own margins are
      // already stripped, and running stripMargin over the spliced text
      // would eat one '|' of every list-concat '||'
      Some(s"WITH $linedCte,\n" + s"""f AS (
        |  SELECT doc_id, t, string_split(t, chr(10)) AS lines,
        |    list_filter(string_split(t, chr(10)), l ->
        |      $dKeepLine) AS kept
        |  FROM page)
        |SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  COALESCE(array_to_string(kept, chr(10)), '') AS clean,
        |  CASE WHEN NOT contains(t, 'lorem ipsum') AND NOT contains(t, '{')
        |    AND len(kept) >= 3 THEN 1 ELSE 0 END AS pass
        |FROM f ORDER BY doc_id""".stripMargin)),

    // Gopher repetition rules (table A1 bottom half) over the lined
    // page, plus one more injection: doc_id%3 docs repeat their first
    // line (a real duplicate-line group), so r_line_chars genuinely
    // fires; short docs trip r_lines; the word-soup's natural bigram
    // repetition exercises r_2gram.
    Q("quality_gopher_repetition",
      (s, d) => {
        val lined = linedDocs(s, d).select(col("doc_id"), concat(
          col("text"),
          when(col("doc_id") % 3 === 0, concat(lit("\n"),
            element_at(split(col("text"), "\n"), 1)))
            .otherwise(lit(""))).as("text"))
        QualityFilters.gopherRepetition(lined).orderBy("doc_id")
      },
      Some(s"WITH $linedCte,\n" + s"""page2 AS (
        |  SELECT doc_id, t ||
        |    (CASE WHEN doc_id % 3 = 0
        |      THEN chr(10) || string_split(t, chr(10))[1] ELSE '' END) AS t
        |  FROM page),
        |ln AS (
        |  SELECT doc_id, unnest(string_split(t, chr(10))) AS l FROM page2),
        |lg AS (
        |  SELECT doc_id, l, count(*) AS c,
        |    CAST(length(l) AS BIGINT) AS lc
        |  FROM ln GROUP BY doc_id, l),
        |per_line AS (
        |  SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_lines,
        |    CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
        |      AS n_dup_lines,
        |    CAST(sum(c * lc) AS BIGINT) AS line_chars,
        |    CAST(sum(CASE WHEN c >= 2 THEN c * lc ELSE 0 END) AS BIGINT)
        |      AS dup_line_chars
        |  FROM lg GROUP BY doc_id),
        |tk AS (
        |  SELECT doc_id, t,
        |    string_split(replace(t, chr(10), ' '), ' ') AS w
        |  FROM page2),
        |bg AS (
        |  SELECT doc_id,
        |    ${dH60("w[i] || ' ' || w[i+1]")} AS h,
        |    CAST(length(w[i] || ' ' || w[i+1]) AS BIGINT) AS gc
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM tk)),
        |gg AS (
        |  SELECT doc_id, h, count(*) AS c, max(gc) AS gc
        |  FROM bg GROUP BY doc_id, h),
        |top AS (
        |  SELECT doc_id,
        |    first(c * gc ORDER BY c DESC, h ASC) AS top_cover
        |  FROM gg GROUP BY doc_id),
        |m AS (
        |  SELECT p.doc_id,
        |    CAST(length(p2.t) AS BIGINT) AS n_chars,
        |    p.n_lines, p.n_dup_lines, p.line_chars, p.dup_line_chars,
        |    CAST(COALESCE(tp.top_cover, 0) AS BIGINT) AS top_cover
        |  FROM per_line p
        |  JOIN page2 p2 ON p.doc_id = p2.doc_id
        |  LEFT JOIN top tp ON p.doc_id = tp.doc_id)
        |SELECT doc_id, n_lines,
        |  round(CAST(n_dup_lines AS DOUBLE) / n_lines, 6)
        |    AS dup_line_frac,
        |  round(CAST(dup_line_chars AS DOUBLE)
        |    / greatest(line_chars, 1), 6) AS dup_line_char_frac,
        |  round(CAST(top_cover AS DOUBLE) / greatest(n_chars, 1), 6)
        |    AS top_2gram_char_frac,
        |  CASE WHEN 10*n_dup_lines <= 3*n_lines THEN 1 ELSE 0 END
        |    AS r_lines,
        |  CASE WHEN 5*dup_line_chars <= line_chars THEN 1 ELSE 0 END
        |    AS r_line_chars,
        |  CASE WHEN 5*top_cover <= n_chars THEN 1 ELSE 0 END AS r_2gram,
        |  CASE WHEN 10*n_dup_lines <= 3*n_lines
        |    AND 5*dup_line_chars <= line_chars
        |    AND 5*top_cover <= n_chars THEN 1 ELSE 0 END AS pass
        |FROM m ORDER BY doc_id""".stripMargin)),

    // Batch twin of the STREAMING quality screen
    // (graft.streaming.DocStreams.qualityScreen): the C4-then-Gopher
    // gate as one stateless per-row pipeline with a first-hit reject
    // reason — identical plan on a finite frame. reqStops is the
    // corpus-appropriate pair {the, a} (+2 absent words), so the
    // g_stop rule genuinely splits the corpus.
    Q("stream_quality_screen",
      (s, d) => QualityFilters.screen(linedDocs(s, d),
        reqStops = Seq("the", "a", "and", "that")).orderBy("doc_id"),
      // same stripMargin-vs-'||' note as quality_c4_clean above
      Some(s"WITH $linedCte,\n" + s"""f AS (
        |  SELECT doc_id, t, string_split(t, chr(10)) AS lines,
        |    list_filter(string_split(t, chr(10)), l ->
        |      $dKeepLine) AS kept
        |  FROM page),
        |cl AS (
        |  SELECT doc_id,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(kept) AS BIGINT) AS n_kept,
        |    COALESCE(array_to_string(kept, chr(10)), '') AS clean,
        |    (NOT contains(t, 'lorem ipsum') AND NOT contains(t, '{')
        |      AND len(kept) >= 3) AS c4ok
        |  FROM f),
        |g AS (
        |  SELECT doc_id, n_lines, n_kept, c4ok, clean,
        |    string_split(replace(clean, chr(10), ' '), ' ') AS w
        |  FROM cl),
        |m AS (
        |  SELECT doc_id, n_lines, n_kept, c4ok,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
        |      AS sum_len,
        |    CAST(len(regexp_extract_all(clean, '#'))
        |      + len(regexp_extract_all(clean, '[.][.][.]')) AS BIGINT)
        |      AS n_symbols,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
        |      AS BIGINT) AS n_alpha_words,
        |    CAST(len(list_filter(['the','a','and','that'],
        |      x -> list_contains(w, x))) AS BIGINT) AS n_req_stop
        |  FROM g)
        |SELECT doc_id, n_lines, n_kept, n_words,
        |  CASE WHEN c4ok THEN 1 ELSE 0 END AS c4_pass,
        |  CASE WHEN NOT c4ok THEN 'c4_page'
        |    WHEN NOT (n_words >= 50 AND n_words <= 100000) THEN 'gopher_words'
        |    WHEN NOT (3*n_words <= sum_len AND sum_len <= 10*n_words)
        |      THEN 'gopher_len'
        |    WHEN NOT (10*n_symbols <= n_words) THEN 'gopher_sym'
        |    WHEN NOT (5*n_alpha_words >= 4*n_words) THEN 'gopher_alpha'
        |    WHEN NOT (n_req_stop >= 2) THEN 'gopher_stop'
        |    ELSE 'ok' END AS reason,
        |  CASE WHEN c4ok AND n_words >= 50 AND n_words <= 100000
        |    AND 3*n_words <= sum_len AND sum_len <= 10*n_words
        |    AND 10*n_symbols <= n_words AND 5*n_alpha_words >= 4*n_words
        |    AND n_req_stop >= 2 THEN 1 ELSE 0 END AS pass
        |FROM m ORDER BY doc_id""".stripMargin)),

    // Paragraph-level dedup over the lined pages — CCNet's actual unit
    // (the paragraph/line): the injected boilerplate lines (javascript
    // notice on %6, curly-brace line on %5, lorem ipsum on %7) repeat
    // verbatim across unrelated pages, exactly the cross-document
    // boilerplate this strips; fixed-token-window chunk dedup cannot
    // catch them (no alignment).
    Q("dedup_paragraph_stats",
      (s, d) => Chunking.paragraphDupStats(linedDocs(s, d)),
      Some(s"WITH $linedCte,\n" + s"""par AS (
        |  SELECT doc_id,
        |    unnest(string_split(t, chr(10))) AS para,
        |    unnest(range(0, len(string_split(t, chr(10))))) AS para_idx
        |  FROM page),
        |cnt AS (
        |  SELECT md5(para) AS h, count(DISTINCT doc_id) AS n_docs
        |  FROM par WHERE length(para) > 0 GROUP BY 1)
        |SELECT par.doc_id, count(*) AS n_paras,
        |  CAST(sum(CASE WHEN COALESCE(cnt.n_docs, 1) >= 2
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(CAST(sum(CASE WHEN COALESCE(cnt.n_docs, 1) >= 2
        |    THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS dup_ratio
        |FROM par LEFT JOIN cnt ON md5(par.para) = cnt.h
        |GROUP BY par.doc_id ORDER BY par.doc_id""".stripMargin)),

    Q("dedup_paragraph_clean",
      (s, d) => Chunking.paragraphClean(linedDocs(s, d)),
      Some(s"WITH $linedCte,\n" + s"""par AS (
        |  SELECT doc_id,
        |    unnest(string_split(t, chr(10))) AS para,
        |    unnest(range(0, len(string_split(t, chr(10))))) AS para_idx
        |  FROM page),
        |cnt AS (
        |  SELECT md5(para) AS h, count(DISTINCT doc_id) AS n_docs
        |  FROM par WHERE length(para) > 0 GROUP BY 1),
        |kept AS (
        |  SELECT par.doc_id, count(*) AS n_kept,
        |    string_agg(par.para, chr(10) ORDER BY par.para_idx)
        |      AS clean_text
        |  FROM par LEFT JOIN cnt ON md5(par.para) = cnt.h
        |  WHERE COALESCE(cnt.n_docs, 1) = 1
        |  GROUP BY par.doc_id)
        |SELECT p.doc_id, CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(k.clean_text, '') AS clean_text
        |FROM page p LEFT JOIN kept k USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin)),

    // HTML text extraction (the WARC→WET step): the line-less corpus
    // gets deterministic doc_id-derived markup — a wrapping page, a
    // script element whose CODE contains a bare '<' (must vanish with
    // the element), a comment, and an entity sampler exercising the
    // &amp;-last double-decode guard. Both engines strip/decode with
    // the same regex chain + literal replaces.
    Q("text_html_extract",
      (s, d) => {
        val injected = Tables.documents(s, d).select(col("doc_id"), concat(
          lit("<html><body ><p class=\"c"),
          (col("doc_id") % 7).cast("string"), lit("\">"),
          col("text"), lit("</p>"),
          when(col("doc_id") % 3 === 0, lit("<script type=\"text/javascript\">if (a<b) { alert(\"x\"); }</script>"))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit("<!-- note <hidden> -->"))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("<div>&amp;lt; &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div>"))
            .otherwise(lit("")),
          lit("</body></html>")).as("text"))
        graft.operators.Scrub.extractHtml(injected)
          .select("doc_id", "n_tags", "clean_text").orderBy("doc_id")
      },
      Some("""WITH inj AS (
        |  SELECT doc_id,
        |    '<html><body ><p class="c' || CAST(doc_id % 7 AS VARCHAR)
        |    || '">' || text || '</p>'
        |    || (CASE WHEN doc_id % 3 = 0
        |        THEN '<script type="text/javascript">if (a<b) { alert("x"); }</script>'
        |        ELSE '' END)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '<!-- note <hidden> -->'
        |        ELSE '' END)
        |    || (CASE WHEN doc_id % 5 = 0
        |        THEN '<div>&amp;lt; &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div>'
        |        ELSE '' END)
        |    || '</body></html>' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, 'TAG_RE')) AS BIGINT) AS n_tags,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        'TAG_RE', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean_text
        |FROM inj ORDER BY doc_id""".stripMargin
        // the SAME tag regex the engine applies (Scrub.TagRe is valid
        // RE2), spliced AFTER stripMargin so margin processing can't
        // touch it
        .replace("TAG_RE", graft.operators.Scrub.TagRe))),

    // Unicode-script profile (language routing / mojibake detection):
    // the ASCII word-soup corpus gets deterministic doc_id-keyed
    // multi-script injections — Cyrillic and CJK runs whose lengths
    // vary per doc (mixed_ppm gradient), single Greek/Arabic/Hangul
    // tokens (small-bucket coverage), and a %11 Cyrillic run as long
    // as the whole doc (dominant-script FLIP, exercising the argmax
    // tie-break away from latin). One identical || expression in both
    // engines; the classification itself is pure contiguous-range
    // codepoint math (native ScriptCounts <-> BETWEEN over unicode()).
    Q("text_script_profile",
      (s, d) => QualityFilters.scriptProfile(injectedScripts(s, d))
        .orderBy("doc_id"),
      Some(s"""WITH $dScriptCte
        |SELECT doc_id, n_latin, n_digit, n_punct, n_cyrillic, n_greek,
        |  n_cjk, n_arabic, n_hangul, n_other, dominant_script, mixed_ppm
        |FROM prof ORDER BY doc_id""".stripMargin)),

    // Batch twin of the STREAMING script-routing screen
    // (DocStreams.scriptScreen): the same injected corpus "arrives"
    // and routes — empty / mixed (secondary >= 10% of primary:
    // code-switching or mojibake, quarantine) / keep (clean latin) /
    // route:<script> (forward to that language pool). Stateless
    // per-row scalar work, so the identical plan runs on the finite
    // frame; the oracle appends only the verdict CASE to the shared
    // profile CTE.
    Q("stream_script_screen",
      (s, d) => graft.streaming.DocStreams.scriptScreen(
        injectedScripts(s, d)).orderBy("doc_id"),
      Some(s"""WITH $dScriptCte
        |SELECT doc_id, dominant_script, mixed_ppm,
        |  CASE WHEN dominant_script = 'none' THEN 'empty'
        |    WHEN mixed_ppm >= 100000 THEN 'mixed'
        |    WHEN dominant_script = 'latin' THEN 'keep'
        |    ELSE 'route:' || dominant_script END AS verdict
        |FROM prof ORDER BY doc_id""".stripMargin))
  )

  /** The doc_id-keyed multi-script injection both script queries feed
    * (see text_script_profile's comment): ONE expression string, the
    * DuckDB twin is textually identical inside [[dScriptCte]].
    */
  private def injectedScripts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), expr(
      "text || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' ' || " +
        "  repeat('дф', CAST(doc_id % 7 AS INT) + 1) ELSE '' END || " +
        "CASE WHEN doc_id % 4 = 0 THEN ' ' || " +
        "  repeat('中文', CAST(doc_id % 5 AS INT) + 1) ELSE '' END || " +
        "CASE WHEN doc_id % 6 = 0 THEN ' πλ' ELSE '' END || " +
        "CASE WHEN doc_id % 9 = 0 THEN ' مرحبا' ELSE '' END || " +
        "CASE WHEN doc_id % 10 = 0 THEN ' 한글' ELSE '' END || " +
        "CASE WHEN doc_id % 11 = 0 THEN ' ' || " +
        "  repeat('д', CAST(length(text) AS INT)) ELSE '' END"
    ).as("text"))

  /** WITH-fragment `inj…prof`: the injected corpus, the 9-bucket
    * contiguous-range classification (mirrors
    * graft.expressions.ScriptCount.classify), and the profile columns
    * incl. dominant script (bucket-order tie-break) and mixed_ppm.
    * Yields `prof(doc_id, n_*, dominant_script, mixed_ppm)`.
    */
  private lazy val dScriptCte: String =
    """inj AS (
    |  SELECT doc_id, text ||
    |    CASE WHEN doc_id % 3 = 0 THEN ' ' ||
    |      repeat('дф', CAST(doc_id % 7 AS INT) + 1) ELSE '' END ||
    |    CASE WHEN doc_id % 4 = 0 THEN ' ' ||
    |      repeat('中文', CAST(doc_id % 5 AS INT) + 1) ELSE '' END ||
    |    CASE WHEN doc_id % 6 = 0 THEN ' πλ' ELSE '' END ||
    |    CASE WHEN doc_id % 9 = 0 THEN ' مرحبا' ELSE '' END ||
    |    CASE WHEN doc_id % 10 = 0 THEN ' 한글' ELSE '' END ||
    |    CASE WHEN doc_id % 11 = 0 THEN ' ' ||
    |      repeat('д', CAST(length(text) AS INT)) ELSE '' END AS t
    |  FROM documents),
    |ch AS (
    |  SELECT doc_id, unicode(substr(t, CAST(i AS INT), 1)) AS cp
    |  FROM (SELECT doc_id, t, unnest(range(1, length(t) + 1)) AS i
    |        FROM inj)),
    |cls AS (
    |  SELECT doc_id, CASE
    |    WHEN (cp BETWEEN 65 AND 90) OR (cp BETWEEN 97 AND 122)
    |      OR (cp BETWEEN 192 AND 591) THEN 0
    |    WHEN cp BETWEEN 48 AND 57 THEN 1
    |    WHEN (cp BETWEEN 9 AND 13) OR (cp BETWEEN 32 AND 47)
    |      OR (cp BETWEEN 58 AND 64) OR (cp BETWEEN 91 AND 96)
    |      OR (cp BETWEEN 123 AND 126)
    |      OR (cp BETWEEN 8192 AND 8303) THEN 2
    |    WHEN cp BETWEEN 1024 AND 1279 THEN 3
    |    WHEN cp BETWEEN 880 AND 1023 THEN 4
    |    WHEN (cp BETWEEN 12352 AND 12543)
    |      OR (cp BETWEEN 19968 AND 40959) THEN 5
    |    WHEN cp BETWEEN 1536 AND 1791 THEN 6
    |    WHEN cp BETWEEN 44032 AND 55215 THEN 7
    |    ELSE 8 END AS b
    |  FROM ch),
    |agg AS (
    |  SELECT doc_id,
    |    CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_latin,
    |    CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_digit,
    |    CAST(sum(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_punct,
    |    CAST(sum(CASE WHEN b = 3 THEN 1 ELSE 0 END) AS BIGINT)
    |      AS n_cyrillic,
    |    CAST(sum(CASE WHEN b = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_greek,
    |    CAST(sum(CASE WHEN b = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_cjk,
    |    CAST(sum(CASE WHEN b = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_arabic,
    |    CAST(sum(CASE WHEN b = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_hangul,
    |    CAST(sum(CASE WHEN b = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_other
    |  FROM cls GROUP BY doc_id),
    |fin AS (
    |  SELECT *,
    |    greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic,
    |      n_hangul, n_other) AS big,
    |    list_sort([n_latin, n_cyrillic, n_greek, n_cjk, n_arabic,
    |      n_hangul, n_other])[6] AS sec
    |  FROM agg),
    |prof AS (
    |  SELECT doc_id, n_latin, n_digit, n_punct, n_cyrillic, n_greek,
    |    n_cjk, n_arabic, n_hangul, n_other,
    |    CASE WHEN big = 0 THEN 'none'
    |      WHEN n_latin = big THEN 'latin'
    |      WHEN n_cyrillic = big THEN 'cyrillic'
    |      WHEN n_greek = big THEN 'greek'
    |      WHEN n_cjk = big THEN 'cjk'
    |      WHEN n_arabic = big THEN 'arabic'
    |      WHEN n_hangul = big THEN 'hangul'
    |      ELSE 'other' END AS dominant_script,
    |    CAST(CASE WHEN big = 0 THEN 0
    |      ELSE (sec * 1000000) // big END AS BIGINT) AS mixed_ppm
    |  FROM fin)""".stripMargin
}
