package graft.analog

import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup, Evaluation, Multimodal, Similarity}
import graft.sources.{ModelStore, Sinks, Tables}

/** LLM-training-data pipeline operators (BASELINE.json north star) over
  * the `documents` / `embeddings` tables, each paired with an exactly-
  * equivalent DuckDB oracle. Parity rests on three portable primitives
  * (see graft.functions.TextFunctions): md5 hex (identical in both
  * engines), left-to-right folds with explicit zero, and integer hash
  * arithmetic. FP appears only in cosine/Jaccard ratios, where both
  * engines run the same operand-ordered double expression, rounded at 6.
  */
object ExtraAnalogs {

  /** text_bpe_train depth: deep enough to exercise the incremental
    * trainer (a naive recount loop shows quadratic drift here), safely
    * under the corpus' 89-merge exhaustion point at every shipped SF.
    */
  private val BpeTrainMerges = 64

  /** Shared trained-language-ID prediction chain (text_langid_nb +
    * eval_langid_prf): train the char-trigram NB on the doc_id%5
    * seed, score every doc, argmax into `rk` (WHERE rk = 1 = the
    * prediction, with true_lang riding along).
    */
  /** The NB train→score→argmax chain over any (doc_id, lang, text)
    * relation `src` — `lang` is the CLASS LABEL column, whatever it
    * contains: languages for the langid queries, keep/drop weak
    * labels for the classifier-based quality filter. Generalizing
    * the relation (not copying the chain) keeps every NB oracle on
    * one arithmetic definition.
    *
    * `lf` derives from the SEED classes (nd) left-joined to the
    * per-class gram counts with a coalesce(0) floor — NOT from the
    * gram-bearing classes alone — mirroring LangId.train's LEFT join:
    * a seed class whose docs are all shorter than the gram width
    * still scores (cl = 0, floor fl = round(−ln 1024 · 10⁶)) in both
    * engines (round-16 fuzz finding, oracle side fixed round 17).
    */
  private[analog] def dNbChainOn(src: String,
      seedWhere: String = "doc_id % 5 = 0",
      wordFeats: Boolean = false): String = {
    // add-1 smoothing base (LangId.train's replica): the fixed hashed
    // space for the char-only v1 model; the OBSERVED seed vocabulary
    // (count of distinct feature buckets — vocabulary-based add-1)
    // for the wordFeats v2 model
    val totB = if (wordFeats) "(SELECT count(DISTINCT b) FROM g)"
      else "1024"
    // hashed DISTINCT-word feature rows (wordHash60 % 1024 + 1024 —
    // split on single spaces INCLUDING trailing empties, matching
    // Spark's split(text, " ", -1); presence not multiplicity, the
    // array_distinct in LangId.gramBuckets)
    def wordB(key: String, rel: String) =
      s"""
        |  UNION ALL
        |  SELECT $key, 1024 + ('0x' || substr(md5(w),1,15))::BIGINT % 1024
        |    AS b
        |  FROM (SELECT $key,
        |      unnest(list_distinct(string_split(text, ' '))) AS w
        |    FROM $rel)""".stripMargin
    val ngExpr = if (wordFeats)
      "greatest(length(text) - 2, 0) + " +
        "len(list_distinct(string_split(text, ' ')))"
    else "greatest(length(text) - 2, 0)"
    s"""seed AS (
        |  SELECT doc_id, lang, text FROM $src WHERE $seedWhere),
        |g AS (
        |  SELECT lang, ('0x' || substr(md5(gr),1,8))::BIGINT % 1024 AS b
        |  FROM (SELECT lang, unnest(list_transform(
        |      range(1, length(text) - 1), i -> substr(text, i, 3))) AS gr
        |    FROM seed)${if (wordFeats) wordB("lang", "seed") else ""}),
        |clb AS (SELECT lang, b, CAST(count(*) AS BIGINT) AS clb
        |        FROM g GROUP BY lang, b),
        |nd AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl
        |       FROM seed GROUP BY lang),
        |lf AS (SELECT nd.lang, coalesce(gc.cl, 0) AS cl,
        |         CAST(round(-ln(coalesce(gc.cl, 0) + $totB) * 1e6) AS BIGINT)
        |           AS fl
        |       FROM nd LEFT JOIN (
        |         SELECT lang, CAST(count(*) AS BIGINT) AS cl
        |         FROM g GROUP BY lang) gc USING (lang)),
        |dl AS (SELECT clb.lang, b,
        |         CAST(round((ln(clb + 1) - ln(cl + $totB)) * 1e6) AS BIGINT)
        |           - fl AS delta
        |       FROM clb JOIN lf USING (lang)),
        |st AS (SELECT lang,
        |         CAST(round((ln(nl) - ln((SELECT CAST(sum(nl) AS BIGINT)
        |           FROM nd))) * 1e6) AS BIGINT) AS prior, fl
        |       FROM nd JOIN lf USING (lang)),
        |dg AS (SELECT doc_id, lang AS true_lang,
        |         CAST($ngExpr AS BIGINT) AS ng
        |       FROM $src),
        |docb AS (
        |  SELECT doc_id, ('0x' || substr(md5(gr),1,8))::BIGINT % 1024 AS b
        |  FROM (SELECT doc_id, unnest(list_transform(
        |      range(1, length(text) - 1), i -> substr(text, i, 3))) AS gr
        |    FROM $src)${if (wordFeats) wordB("doc_id", src) else ""}),
        |hits AS (SELECT doc_id, dl.lang, CAST(sum(delta) AS BIGINT) AS sd
        |         FROM docb JOIN dl USING (b) GROUP BY doc_id, dl.lang),
        |sc AS (SELECT dg.doc_id, dg.true_lang, st.lang,
        |         st.prior + dg.ng * st.fl + coalesce(hits.sd, 0) AS score
        |       FROM dg CROSS JOIN st
        |       LEFT JOIN hits ON hits.doc_id = dg.doc_id
        |         AND hits.lang = st.lang),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |         ORDER BY score DESC, lang) AS rk FROM sc)""".stripMargin
  }

  private val dLangidNbCte: String = dNbChainOn("documents")

  /** The Spark half of [[dLangidNbCte]] — ONE shared chain for
    * text_langid_nb + eval_langid_prf: train the char-trigram NB on
    * the doc_id%5 seed, predict over the full table, ride true
    * `lang` along. The model frames are left UNPERSISTED here:
    * within one query plan Catalyst's ReusedExchange dedups the
    * repeated model-sized training subtrees, and an eager
    * `NbModel.persisted()` (two materialization actions) measured
    * strictly slower at bench scale — `persisted()` is for callers
    * composing MULTIPLE queries over one model (its scaladoc
    * contract); the eval query's single-corpus-scan guarantee comes
    * from Evaluation.classPrf's persisted confusion aggregation, not
    * from model persistence.
    */
  private def langidNbPredictions(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
    val m = graft.operators.LangId.train(
      docs.filter(col("doc_id") % 5 === 0))
    graft.operators.LangId.predict(docs, m)
      .join(docs.select("doc_id", "lang"), "doc_id")
  }

  /** The stored BM25 postings index over the %100 corpus split — the
    * build-once artifact ([[graft.sources.ModelStore.ensureFrame]])
    * the retrieval family probes: first invocation builds and saves,
    * later invocations read the parquet back, so the corpus-sized
    * index scan amortizes across text_hard_negatives /
    * text_hybrid_topk / stream_bm25_screen exactly as a deployment's
    * static index would. Keyed by the data directory; results are
    * identical to the in-plan build (integer frame, exact parquet
    * round-trip), so these queries share text_bm25_topk's oracle
    * chain unchanged.
    */
  private def storedBm25Index(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.sources.ModelStore.ensureFrame(s,
      ModelStore.dir("bm25_idx", d),
      graft.operators.Retrieval.bm25Index(
        Tables.documents(s, d).filter(col("doc_id") % 100 =!= 0)))

  /** The stored MinHash signature table of the %100 corpus split —
    * mined at ingest in a deployment (the streaming near-dup screen's
    * artifact), stored once here so the hard-negative screen stops
    * re-mining the corpus per call.
    */
  private def storedCorpusSigs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.sources.ModelStore.ensureFrame(s,
      ModelStore.dir("mh_sigs", d),
      Dedup.minhashSignatures(Tables.documents(s, d)
        .filter(col("doc_id") % 100 =!= 0).select("doc_id", "text")))

  /** Shared BM25 probe chain (text_bm25_topk + stream_bm25_screen):
    * postings with tf and doc length over the corpus slice
    * (doc_id % 100 <> 0), corpus scalars, df-capped grid-rounded idf
    * (terms in > 900‰ of docs dropped), distinct query unigrams
    * (doc_id % 100 = 0), ending in `hits` — one row per (query, doc,
    * shared term) with the integer score contribution c mirroring
    * Retrieval.termScore: tf clamped at 2^25, dln = (9000·len)//adl
    * pre-truncated. Built as string concatenation AFTER stripMargin
    * (the dWordHash60 interpolations are margin-safe, but the
    * convention keeps the `||`-eats-a-pipe trap out).
    */
  private val dBm25Cte: String = s"""tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |post AS (
        |  SELECT doc_id, l AS len, ${dWordHash60("t")} AS h,
        |    CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, CAST(len(w) AS BIGINT) AS l,
        |          unnest(w) AS t
        |        FROM tok WHERE doc_id % 100 <> 0)
        |  GROUP BY 1, 2, 3),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST((100 * sum(len(w))) // count(*) AS BIGINT) AS adl
        |  FROM tok WHERE doc_id % 100 <> 0),
        |idf AS (
        |  SELECT h, CAST(round((ln(2*st.n_docs + 2) - ln(2*df + 1))
        |    * 1e6) AS BIGINT) AS idf
        |  FROM (SELECT h, CAST(count(*) AS BIGINT) AS df
        |        FROM post GROUP BY h), st
        |  WHERE df * 1000 <= st.n_docs * 900),
        |qt AS (
        |  SELECT query_id, ${dWordHash60("t")} AS h
        |  FROM (SELECT DISTINCT doc_id AS query_id, unnest(w) AS t
        |        FROM tok WHERE doc_id % 100 = 0)),
        |hits AS (
        |  SELECT qt.query_id, post.doc_id, h,
        |    (idf.idf * 220 * least(post.tf, 33554432)) //
        |      (100 * least(post.tf, 33554432) + 30
        |        + (9000 * post.len) // st.adl) AS c
        |  FROM qt JOIN post USING (h) JOIN idf USING (h), st)""".stripMargin

  /** Shared unrolled BPE-training chain (text_bpe_train +
    * text_bpe_train_apply): vf (word freq), st1 (sentinel-delimited
    * char split), then per round i the pair counts (p), the argmax
    * (b) and the merged state (st_{i+1}). st/b are MATERIALIZED —
    * DuckDB inlines CTEs by default and each round references the
    * previous one twice (2^n expansion without the keyword).
    */
  private def dBpeTrainChain(n: Int): String = {
    val iters = (1 to n).map { i =>
      s"""tk$i AS (
         |  SELECT freq, string_split(trim(s, chr(1)),
         |    chr(1) || chr(1)) AS t
         |  FROM st$i),
         |p$i AS (
         |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq,
         |      unnest(list_transform(range(1, len(t)), j -> t[j])) AS l,
         |      unnest(list_transform(range(1, len(t)), j -> t[j+1])) AS r
         |    FROM tk$i)
         |  GROUP BY l, r),
         |b$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i
         |        ORDER BY cnt DESC, l, r LIMIT 1),
         |st${i + 1} AS MATERIALIZED (
         |  SELECT w, freq,
         |    replace(s, chr(1) || b.l || chr(1) || chr(1) || b.r || chr(1),
         |      chr(1) || b.l || b.r || chr(1)) AS s
         |  FROM st$i, b$i b)""".stripMargin
    }.mkString(",\n")
    s"""vf AS (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w),
       |st1 AS MATERIALIZED (
       |  SELECT w, freq,
       |    chr(1) || array_to_string(
       |      list_transform(range(1, length(w) + 1), i -> w[i]),
       |      chr(1) || chr(1)) || chr(1) AS s
       |  FROM vf),
       |$iters""".stripMargin
  }

  // ---- DuckDB SQL fragments mirroring TextFunctions ----------------------

  /** `('0x'||substr(md5(w),1,8))::BIGINT` — TextFunctions.wordHash. */
  private def dWordHash(w: String) = s"('0x' || substr(md5($w),1,8))::BIGINT"

  /** 60-bit word hash — TextFunctions.wordHash60 (15 hex digits keep
    * the value positive in signed int64).
    */
  private def dWordHash60(w: String) = s"('0x' || substr(md5($w),1,15))::BIGINT"

  /** Shared metric tail of the retrieval graders
    * (Evaluation.retrievalMetrics at k=10): expects `e(vec_id, emb,
    * norm)` and an approx-ranked CTE `approx(query_id, neighbor_id,
    * rnk)` already defined upstream; appends the brute-force cosine
    * truth (top-10 per query over `e`, vec_id < 50) and the
    * integer-exact hits/recall/RR/nDCG select — discount and ideal-DCG
    * tables are the driver-computed `ndcgDiscounts` MODEL CONSTANTS
    * inlined as literals, identical to the Spark side's.
    */
  private[analog] def dMetricsTail(approx: String): String = {
    val disc = graft.operators.Evaluation.ndcgDiscounts(10)
    val idcg = disc.scanLeft(0L)(_ + _).tail
    val dl = disc.mkString("[", ", ", "]")
    val il = idcg.mkString("[", ", ", "]")
    s"""bq AS (SELECT vec_id, emb, norm FROM e WHERE vec_id < 50),
      |bp AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6)
      |           AS sim
      |  FROM bq q JOIN e c ON q.vec_id <> c.vec_id
      |), br AS (
      |  SELECT query_id, neighbor_id, row_number() OVER
      |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
      |  FROM bp
      |), truth AS (SELECT query_id, neighbor_id FROM br WHERE rnk <= 10),
      |tn AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
      |       FROM truth GROUP BY 1),
      |mh AS (
      |  SELECT l.query_id, CAST(count(*) AS BIGINT) AS hits,
      |    CAST(min(l.rnk) AS BIGINT) AS first_rank,
      |    CAST(sum(($dl)[CAST(l.rnk AS INTEGER)]) AS BIGINT) AS dcg
      |  FROM (SELECT * FROM $approx WHERE rnk <= 10) l
      |  JOIN truth t ON t.query_id = l.query_id
      |    AND t.neighbor_id = l.neighbor_id
      |  GROUP BY 1)
      |SELECT tn.query_id,
      |  COALESCE(hits, 0) AS hits,
      |  (COALESCE(hits, 0) * 10000) // n_rel AS recall_pm,
      |  COALESCE(1000000 // first_rank, 0) AS rr_micro,
      |  CASE WHEN COALESCE(dcg, 0) > 0
      |    THEN (dcg * 10000) //
      |      (($il)[CAST(least(n_rel, 10) AS INTEGER)])
      |    ELSE 0 END AS ndcg_pm
      |FROM tn LEFT JOIN mh ON mh.query_id = tn.query_id
      |ORDER BY tn.query_id""".stripMargin
  }

  /** Per-bit majority CASE chain — the SimhashFold semantics at the
    * 60-bit width (bit b set iff strictly more hashes carry it).
    */
  private val dSimhash60: String =
    (0 until graft.operators.Dedup.SimhashBits).map(b =>
      s"(CASE WHEN CAST(list_sum(list_transform(hs, " +
        s"h -> ((h >> $b) & 1)*2 - 1)) AS BIGINT) > 0 " +
        s"THEN ${1L << b} ELSE 0 END)").mkString(" + ")

  /** Permutation i over pre-hashed shingles — TextFunctions.minhashInt. */
  private def dSig(hs: String, i: Int) = {
    import TextFunctions.{MinhashA, MinhashB, MinhashP}
    s"list_min(list_transform($hs, h -> (${MinhashA(i)}*h + ${MinhashB(i)}) % $MinhashP))"
  }

  /** Band key j as one BIGINT — TextFunctions.bandKeyInt. */
  private def dBand(hs: String, b: Int) =
    s"(${dSig(hs, 2 * b)} * 1000003 + ${dSig(hs, 2 * b + 1)})"

  /** hs CTE (depends on sh): shingle hashes mod p, computed once. */
  private val hsCte =
    s"hsc AS (SELECT doc_id, sh, list_transform(sh, x -> ${dWordHash("x")} % ${TextFunctions.MinhashP}) AS hs FROM sh)"

  /** tok CTE: whitespace tokens per doc. */
  private val tokCte =
    "tok AS (SELECT doc_id, lang, source, text, string_split(text, ' ') AS w FROM documents)"

  /** sh CTE (depends on tok): distinct word-2-gram shingles. */
  private val shCte =
    """sh AS (SELECT doc_id, list_distinct(list_transform(
      |  range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh FROM tok)""".stripMargin

  /** Winnowing CTE (depends on tok): positional 3-gram hashes →
    * window-of-4 minima → distinct, sorted — mirrors
    * TextFunctions.winnowFingerprints(k = 3, win = 4) including the
    * short-doc conventions.
    */
  private val winnowCte =
    s"""gseq AS (SELECT doc_id, list_transform(range(1, len(w) - 1),
       |  i -> ${dWordHash60("w[i] || ' ' || w[i+1] || ' ' || w[i+2]")}) AS hs FROM tok),
       |fp AS (SELECT doc_id, list_sort(list_distinct(
       |  CASE WHEN len(hs) >= 4
       |    THEN list_transform(range(1, len(hs) - 2), i -> list_min(hs[i:i+3]))
       |  WHEN len(hs) > 0 THEN [list_min(hs)]
       |  ELSE []::BIGINT[] END)) AS fps FROM gseq)""".stripMargin

  /** Recursive BPE CTE chain (yields `bpedoc(doc_id, n_tok)`):
    * per-word start states char-split, one lowest-rank merge per
    * recursion step, fixpoint minimum per word, summed back over word
    * instances — replays the SAME BpeVocab.Merges table the native
    * BpeCount expression memoizes. Needs `WITH RECURSIVE` and the
    * concat-after-stripMargin embedding (its list-concat `||`s would
    * lose a bar under a spliced stripMargin).
    */
  private lazy val dBpeCte: String = {
    val mk = graft.expressions.BpeVocab.Merges
      .map { case (l, r) => s"'$l' || chr(1) || '$r'" }
      .mkString("[", ",", "]")
    s"""inst AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |         FROM documents),
       |wd AS (SELECT DISTINCT w FROM inst),
       |st AS (
       |  SELECT w, list_transform(range(1, length(w) + 1), i -> w[i]) AS toks
       |  FROM wd
       |  UNION ALL
       |  SELECT w, toks[1:bp-1] || [toks[bp] || toks[bp+1]] || toks[bp+2:]
       |  FROM (
       |    SELECT w, toks, list_position(rk,
       |      list_min(list_filter(rk, x -> x > 0))) AS bp
       |    FROM (
       |      SELECT w, toks, list_transform(range(1, len(toks)),
       |        i -> list_position($mk, toks[i] || chr(1) || toks[i+1])) AS rk
       |      FROM st) s1) s2
       |  WHERE bp IS NOT NULL AND bp > 0
       |),
       |bpe AS (SELECT w, min(len(toks)) AS n FROM st GROUP BY w),
       |bpedoc AS (
       |  SELECT i.doc_id, CAST(sum(b.n) AS BIGINT) AS n_tok
       |  FROM inst i JOIN bpe b USING (w)
       |  GROUP BY i.doc_id)""".stripMargin
  }

  /** WITH-fragment `g…bb`: the dHash fixture law replayed to 64-bit
    * hashes (HUGEINT assembly, two's-complement fold-back to the JVM's
    * wrapping Long) and their 4×16-bit Manku block keys — mirrors
    * Multimodal.dhashPixel/dhash64/hammingBlocks. Yields
    * `bb(doc_id, dhash, blk, bval)`.
    */
  private lazy val dDhashCte: String =
    """g AS (
    |  SELECT doc_id, unnest(range(0, 8)) AS y FROM documents),
    |px AS (SELECT doc_id, y, unnest(range(0, 9)) AS x FROM g),
    |pv AS (
    |  SELECT doc_id, y, x,
    |    CASE WHEN doc_id % 2 = 1 AND x = 0 AND y = 0
    |      THEN ((((doc_id//2)*73 + x*151 + y*179 + 17)
    |             * ((doc_id//2)*73 + x*151 + y*179 + 17) // 7) % 256
    |            + 128) % 256
    |      ELSE (((doc_id//2)*73 + x*151 + y*179 + 17)
    |            * ((doc_id//2)*73 + x*151 + y*179 + 17) // 7) % 256
    |    END AS v
    |  FROM px),
    |bits AS (
    |  SELECT a.doc_id, a.y, a.x,
    |    CASE WHEN b.v > a.v THEN 1::HUGEINT ELSE 0::HUGEINT END AS bit
    |  FROM pv a JOIN pv b
    |    ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
    |  WHERE a.x < 8),
    |hu AS (SELECT doc_id, sum(bit * (1::HUGEINT << (y*8 + x))) AS h
    |       FROM bits GROUP BY doc_id),
    |hs2 AS (SELECT doc_id,
    |  CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
    |    THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
    |    AS dhash FROM hu),
    |blk AS (SELECT doc_id, dhash, unnest(range(0, 4)) AS blk FROM hs2),
    |bb AS (SELECT doc_id, dhash, blk,
    |  (dhash >> (64 - (blk + 1) * 16)) & 65535 AS bval FROM blk)""".stripMargin

  /** WITH-fragment `s…abb`: the audio envelope-hash fixture law
    * replayed to 64-bit fingerprints and their Manku block keys —
    * mirrors Multimodal.envelopeSample/audioEnvelopeHash/hammingBlocks
    * (the [[dDhashCte]] shape on the audio family). Yields
    * `abb(doc_id, fp, blk, bval)`.
    */
  private lazy val dAudioFpCte: String =
    """s AS (
    |  SELECT doc_id, unnest(range(0, 260)) AS i FROM documents),
    |u AS (
    |  SELECT doc_id, i,
    |    ((((doc_id//2)*73 + 151*i + 17)
    |      * ((doc_id//2)*73 + 151*i + 17)) // 7) % 4096 AS u0
    |  FROM s),
    |apv AS (
    |  SELECT doc_id, i,
    |    (CASE WHEN doc_id % 2 = 1 AND i = 0
    |      THEN (u0 + 600) % 4096 ELSE u0 END) - 2048 AS v
    |  FROM u),
    |e AS (SELECT doc_id, i // 4 AS k,
    |        sum(CAST(v AS BIGINT) * v) AS en
    |      FROM apv GROUP BY doc_id, i // 4),
    |b AS (SELECT a.doc_id, a.k,
    |        CASE WHEN n.en > a.en THEN 1::HUGEINT
    |          ELSE 0::HUGEINT END AS bit
    |      FROM e a JOIN e n ON n.doc_id = a.doc_id AND n.k = a.k + 1
    |      WHERE a.k < 64),
    |ahu AS (SELECT doc_id, sum(bit * (1::HUGEINT << k)) AS h
    |        FROM b GROUP BY doc_id),
    |ahs AS (SELECT doc_id,
    |  CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
    |    THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
    |    AS fp FROM ahu),
    |ablk AS (SELECT doc_id, fp, unnest(range(0, 4)) AS blk FROM ahs),
    |abb AS (SELECT doc_id, fp, blk,
    |  (fp >> (64 - (blk + 1) * 16)) & 65535 AS bval FROM ablk)""".stripMargin

  /** WITH-fragment `tok…verified`: MinHash-LSH candidate pairs (any
    * shared band over 4 bands × 2 rows) verified at Jaccard >= 0.5 —
    * mirrors Dedup.minhashPairs. Yields `verified(doc_a, doc_b)`.
    */
  private lazy val dVerifiedPairsCte: String = {
    val bandJoin = (0 until 4).map { b =>
      s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM sig a JOIN sig b
         |  ON a.band$b = b.band$b AND a.doc_id < b.doc_id""".stripMargin
    }.mkString("\n  UNION\n")
    val bandCols = (0 until 4)
      .map(b => s"${dBand("hs", b)} AS band$b").mkString(", ")
    s"""$tokCte, $shCte, $hsCte,
    |sig AS (SELECT doc_id, $bandCols FROM hsc),
    |cand AS (
    |  $bandJoin
    |),
    |verified AS (
    |  SELECT doc_a, doc_b FROM (
    |    SELECT c.doc_a, c.doc_b,
    |           round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
    |             (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6)
    |             AS jaccard
    |    FROM cand c
    |    JOIN sh sa ON sa.doc_id = c.doc_a
    |    JOIN sh sb ON sb.doc_id = c.doc_b
    |  ) WHERE jaccard >= 0.5
    |)""".stripMargin
  }

  /** Full connected-components oracle over [[dVerifiedPairsCte]]:
    * recursive transitive closure, label = min reachable doc_id —
    * shared verbatim by `dedup_clusters` (driver union-find path) and
    * `dedup_clusters_distributed` (min-label propagation path), which
    * therefore must agree with each other bit-for-bit.
    */
  /** The component-label CTE chain ending in `clus(doc_id,
    * cluster_id)` — shared by the plain/distributed cluster queries
    * and the best-survivor policy so the labels cannot drift.
    */
  private lazy val dClustersCte: String =
    s"""$dVerifiedPairsCte,
    |edges AS (
    |  SELECT doc_a AS src, doc_b AS dst FROM verified
    |  UNION ALL SELECT doc_b, doc_a FROM verified
    |),
    |reach AS (
    |  SELECT doc_id, doc_id AS r FROM documents
    |  UNION
    |  SELECT e.dst AS doc_id, reach.r FROM reach JOIN edges e
    |    ON e.src = reach.doc_id
    |),
    |clus AS (
    |  SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id
    |  FROM reach GROUP BY 1
    |)""".stripMargin

  private lazy val dClustersSql: String =
    s"""WITH RECURSIVE $dClustersCte
    |SELECT doc_id, cluster_id FROM clus ORDER BY 1""".stripMargin

  private[analog] def dMarkerHits(markers: Seq[String]) =
    s"len(list_filter(w, t -> list_contains([${markers.map(m => s"'$m'").mkString(",")}], t)))"

  /** CASE chain identical to TextFunctions.langPredict's tie-break. */
  private val dLangCase: String = {
    val ms = TextFunctions.langMarkers
    val cases = ms.zipWithIndex.init.map { case ((l, markers), i) =>
      val cond = ms.drop(i + 1)
        .map { case (_, m2) => s"${dMarkerHits(markers)} >= ${dMarkerHits(m2)}" }
        .mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }
    s"CASE ${cases.mkString(" ")} ELSE '${ms.last._1}' END"
  }

  /** Operand-order-exact double dot product — Similarity.dot's fold. */
  private[analog] def dDot(a: String, b: String) =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(" +
      s"range(1, len($a)+1), i -> $a[i]*$b[i])), (x,y) -> x+y)"

  private[analog] def dCos(a: String, b: String) =
    s"${dDot(a, b)} / (sqrt(${dDot(a, a)}) * sqrt(${dDot(b, b)}))"

  /** Exact integer dot product over two BIGINT lists — the SQ8
    * compressed-domain score's inner loop (emb_project's sum shape).
    */
  private def dIntDot(a: String, b: String) =
    s"CAST(list_sum(list_transform(range(1, len($a)+1), " +
      s"i -> $a[i]*$b[i])) AS BIGINT)"

  /** Int8 quantization CTE mirroring Similarity.withSqCols (the
    * emb_quantize arithmetic, kept as a list): sq(vec_id, sc, qv) —
    * shared by sim_sq_topk / eval_sq_metrics / stream_sq_screen so the
    * replayed codes cannot drift between the graded oracles.
    */
  private val dSqCte: String =
    """sv AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS vi
      |  FROM embeddings),
      |ssc AS (SELECT vec_id, vi,
      |        coalesce(list_max(list_transform(vi, x -> abs(x))), 0) AS sc
      |      FROM sv),
      |sq AS (SELECT vec_id, sc,
      |        list_transform(vi, x -> CASE WHEN sc = 0 THEN 0
      |          ELSE (CASE WHEN x < 0 THEN -1 ELSE 1 END)
      |               * ((abs(x)*254 + sc) // (2*sc)) END) AS qv
      |      FROM ssc)""".stripMargin

  /** JL-sketch CTE mirroring Similarity.projectArr at m=16, d=64
    * (emb_project's sign/projection arithmetic, kept as a list and
    * floor(y/4)-downshifted): skt(vec_id, sk) — shared by
    * sim_project_topk and eval_project_metrics.
    */
  private val dSkCte: String =
    """sgn AS (
      |  SELECT j, list_transform(range(0, 64),
      |    i -> CASE WHEN ('0x' || substr(md5(concat(CAST(j AS VARCHAR),
      |           ' ', CAST(i AS VARCHAR))),1,15))::BIGINT % 2 = 0
      |         THEN 1 ELSE -1 END) AS s
      |  FROM (SELECT unnest(range(0, 16)) AS j)),
      |skv AS (SELECT vec_id, list_transform(embedding,
      |        x -> CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS vi
      |      FROM embeddings),
      |skp AS (SELECT skv.vec_id, sgn.j,
      |        CAST(list_sum(list_transform(range(1, 65),
      |          i -> vi[i]*s[i])) AS BIGINT) AS y
      |      FROM skv CROSS JOIN sgn),
      |skt AS (SELECT vec_id,
      |        list(CAST(floor(y/4.0) AS BIGINT) ORDER BY j) AS sk
      |      FROM skp GROUP BY vec_id)""".stripMargin

  /** Hyperplane CTE mirroring Similarity.Hyperplanes — the 6-decimal
    * components are generated FROM the Scala arrays, so both engines
    * parse the identical decimal literals to the identical doubles.
    */
  private[analog] val dHp: String = {
    val rows = Similarity.Hyperplanes.zipWithIndex.map { case (w, i) =>
      val comps = w.map(x =>
        String.format(java.util.Locale.ROOT, "%.6f", Double.box(x)))
      s"($i, [${comps.mkString(",")}]::DOUBLE[])"
    }
    s"hp(i, w) AS (VALUES ${rows.mkString(", ")})"
  }

  /** CASE chain computing Similarity.chooseBits(count) — pure integer
    * thresholds, so both engines agree exactly.
    */
  private[analog] val dBitsCase: String = {
    val whens = (1 until Similarity.MaxBits)
      .map(b => s"WHEN cnt <= ${Similarity.TargetBucket << b} THEN $b")
    s"CASE ${whens.mkString(" ")} ELSE ${Similarity.MaxBits} END"
  }

  /** Shared sketch/bucket CTE prefix over `embeddings`: e (emb+norm),
    * prm (corpus-sized bits), sk (16-bit hyperplane sketch — same
    * left-to-right fold as VecDot, capped at MaxDim), bkt (low-bits
    * bucket). Probes are appended by each query (range(0,17) ⋈ j≤bits,
    * because DuckDB table functions can't take subquery bounds).
    */
  private[analog] def dLshPrefixWith(prm: String): String =
    s"""$dHp,
       |${dLshPrefixFrom("embeddings", prm)}""".stripMargin

  /** The [[dLshPrefixWith]] chain WITHOUT the leading hyperplane CTE
    * and with the source relation parameterized — for oracles whose
    * vector table is itself a derived CTE (the clustered-geometry
    * eval fixture needs `hp` to BUILD its vectors, so the hp CTE must
    * precede the source). Callers emit `$dHp` (exactly once)
    * themselves.
    */
  private[analog] def dLshPrefixFrom(src: String, prm: String): String = {
    val dotW = s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(" +
      s"range(1, least(len(e.emb), ${Similarity.MaxDim})+1), " +
      s"ii -> e.emb[ii]*hp.w[ii])), (x,y) -> x+y)"
    s"""prm AS ($prm),
       |e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM $src),
       |e AS (SELECT vec_id, emb, sqrt(${dDot("emb", "emb")}) AS norm FROM e0),
       |sk AS (
       |  SELECT e.vec_id, CAST(sum(CASE WHEN $dotW >= 0
       |    THEN 1::BIGINT << hp.i ELSE 0 END) AS BIGINT) AS sketch
       |  FROM e CROSS JOIN hp GROUP BY e.vec_id
       |),
       |bkt AS (
       |  SELECT e.vec_id, e.emb, e.norm,
       |         sk.sketch % (1::BIGINT << (SELECT bits FROM prm)) AS bucket
       |  FROM e JOIN sk USING (vec_id)
       |)""".stripMargin
  }

  /** [[dLshPrefixWith]] at corpus-sized bits — the batch ANN queries. */
  private[analog] val dLshPrefix: String = dLshPrefixWith(
    s"SELECT $dBitsCase AS bits FROM (SELECT count(*) AS cnt FROM embeddings)")

  /** Multi-probe exploded side over bkt (self + Hamming-1 flips). */
  private[analog] def dProbes(alias: String, where: String = "") =
    s"""$alias AS (
       |  SELECT q.vec_id, q.emb, q.norm,
       |         CASE WHEN t.j = (SELECT bits FROM prm) THEN q.bucket
       |              ELSE xor(q.bucket, 1::BIGINT << t.j) END AS bucket
       |  FROM bkt q, range(0, ${Similarity.MaxBits + 1}) t(j)
       |  WHERE t.j <= (SELECT bits FROM prm)$where
       |)""".stripMargin

  /** [[dProbes]] widened to Hamming ≤ 2 (Similarity.probeBuckets2's
    * replica): self ∪ single-bit flips ∪ two-bit flips — the nested
    * xor avoids a mid-SQL bitwise-OR pipe (the stripMargin
    * convention). Probe values are distinct, so the downstream bucket
    * equi-join stays duplicate-free exactly as the Spark side's
    * explode does.
    */
  private[analog] def dProbes2(alias: String, where: String = "") =
    s"""$alias AS (
       |  SELECT q.vec_id, q.emb, q.norm, q.bucket
       |  FROM bkt q WHERE 1 = 1$where
       |  UNION ALL
       |  SELECT q.vec_id, q.emb, q.norm,
       |         xor(q.bucket, 1::BIGINT << t.j) AS bucket
       |  FROM bkt q, range(0, ${Similarity.MaxBits}) t(j)
       |  WHERE t.j < (SELECT bits FROM prm)$where
       |  UNION ALL
       |  SELECT q.vec_id, q.emb, q.norm,
       |         xor(xor(q.bucket, 1::BIGINT << t.i), 1::BIGINT << u.j)
       |           AS bucket
       |  FROM bkt q, range(0, ${Similarity.MaxBits}) t(i),
       |       range(0, ${Similarity.MaxBits}) u(j)
       |  WHERE t.i < u.j AND u.j < (SELECT bits FROM prm)$where
       |)""".stripMargin

  /** Double image + norm of an integer centroid table (k-means). */
  private def dKmCentw(src: String, out: String) =
    s"""$out AS (
       |  SELECT cent_id, list_transform(cv, x -> CAST(x AS DOUBLE)) AS cvd
       |  FROM $src
       |), ${out}n AS (
       |  SELECT cent_id, cvd, sqrt(${dDot("cvd", "cvd")}) AS cnorm FROM $out
       |)""".stripMargin

  /** Ranked assignment of every vector against centroid table `ct`n. */
  private def dKmAsg(name: String, ct: String) =
    s"""${name}0 AS (
       |  SELECT v.vec_id, c.cent_id,
       |         round(${dDot("v.emb", "c.cvd")} / (v.norm * c.cnorm), 6)
       |           AS cent_sim
       |  FROM v CROSS JOIN ${ct}n c
       |), $name AS (
       |  SELECT vec_id, cent_id, row_number() OVER
       |    (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rk
       |  FROM ${name}0
       |)""".stripMargin

  /** Centroid recompute: per-dim integer sums of rk=1 members; an
    * empty cell keeps its previous centroid (COALESCE), as the Scala
    * trainer does.
    */
  private def dKmRecent(a: String, prev: String, out: String) =
    s"""${out}s AS (
       |  SELECT x.cent_id AS cell, t.j AS dim,
       |         CAST(sum(v.vi[t.j]) AS BIGINT) AS s
       |  FROM $a x JOIN v USING (vec_id), range(1, ${Similarity.MaxDim + 1}) t(j)
       |  WHERE x.rk = 1 GROUP BY 1, 2
       |), ${out}r AS (
       |  SELECT cell AS cent_id, list(s ORDER BY dim) AS cv
       |  FROM ${out}s GROUP BY 1
       |), $out AS (
       |  SELECT p.cent_id, COALESCE(r.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN ${out}r r ON r.cent_id = p.cent_id
       |)""".stripMargin

  /** WITH-body prefix replicating Similarity.trainIvfCentroids +
    * ivfCells exactly (2 Lloyd rounds, `seed` centroids drawn by
    * md5-rank over vec_id — the order-free deterministic sample,
    * cent_id = rank position — integer-scaled sums): ends in
    * `cells(vec_id, emb, norm, label, cell)` with the final ranked
    * assignment available as `a3`. Shared by sim_ivf_topk (fixed
    * index-time k = 8) and dedup_semantic (corpus-sized k — a SQL
    * subselect) so the two oracles cannot drift apart.
    */
  private[analog] def dKmCellsCte(seed: String,
      src: String = "embeddings"): String =
    s"""e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM $src),
       |e AS (SELECT vec_id, emb, label, sqrt(${dDot("emb", "emb")}) AS norm
       |      FROM e0),
       |v AS (SELECT vec_id, emb, norm, label,
       |        list_transform(emb, x -> CAST(round(x*1000000.0) AS BIGINT)) AS vi
       |      FROM e),
       |c0 AS (SELECT cent_id, cv FROM (
       |  SELECT row_number() OVER (
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
       |    AS cent_id, vi AS cv FROM v)
       |  WHERE cent_id < $seed),
       |${dKmCentw("c0", "cw0")},
       |${dKmAsg("a1", "cw0")},
       |${dKmRecent("a1", "c0", "c1")},
       |${dKmCentw("c1", "cw1")},
       |${dKmAsg("a2", "cw1")},
       |${dKmRecent("a2", "c1", "c2")},
       |${dKmCentw("c2", "cw2")},
       |${dKmAsg("a3", "cw2")},
       |cells AS (
       |  SELECT v.vec_id, v.emb, v.norm, v.label, a.cent_id AS cell
       |  FROM a3 a JOIN v USING (vec_id) WHERE a.rk = 1
       |)""".stripMargin

  /** WITH-body SUFFIX over [[dKmCellsCte]] replicating
    * Similarity.trainIvfTwoLevel's FINE level term-for-term (requires
    * `cells`, `a3`, `c2`, `v` in scope): per-cell md5-ranked seeds
    * (missing slots fall back to the cell's L1 centroid), two Lloyd
    * rounds where each vector competes only among its OWN coarse
    * cell's fine centroids (cent_id = cell·nL2 + j, the composite-id
    * encoding), integer-sum updates with empty-cell COALESCE. Ends
    * with the fine centroid table `gw2n` and the final ranked fine
    * assignment `b3`.
    */
  private def dKm2Cte(nL2: Int): String = {
    def asg(name: String, ct: String) =
      s"""${name}0 AS (
         |  SELECT cl.vec_id, c.cent_id,
         |         round(${dDot("cl.emb", "c.cvd")} / (cl.norm * c.cnorm), 6)
         |           AS cent_sim
         |  FROM cells cl JOIN ${ct}n c ON c.cent_id // $nL2 = cl.cell
         |), $name AS (
         |  SELECT vec_id, cent_id, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rk
         |  FROM ${name}0
         |)""".stripMargin
    s"""gs AS (
       |  SELECT cl.cell, vv.vi, row_number() OVER (PARTITION BY cl.cell
       |    ORDER BY md5(CAST(cl.vec_id AS VARCHAR)), cl.vec_id) AS rk
       |  FROM cells cl JOIN v vv USING (vec_id)
       |),
       |g0 AS (
       |  SELECT c.cent_id * $nL2 + t.j AS cent_id,
       |         COALESCE(s.vi, c.cv) AS cv
       |  FROM c2 c CROSS JOIN range(0, $nL2) t(j)
       |  LEFT JOIN gs s ON s.cell = c.cent_id AND s.rk = t.j + 1
       |),
       |${dKmCentw("g0", "gw0")},
       |${asg("b1", "gw0")},
       |${dKmRecent("b1", "g0", "g1")},
       |${dKmCentw("g1", "gw1")},
       |${asg("b2", "gw1")},
       |${dKmRecent("b2", "g1", "g2")},
       |${dKmCentw("g2", "gw2")},
       |${asg("b3", "gw2")}""".stripMargin
  }

  /** One PQ Lloyd round against centroid table `ct`: unranked distance
    * table `{name}0` (exact integer squared-L2 per (vec, sub, cent) —
    * the same Σ(x−c)² the Scala trainer folds), ranked `{name}`
    * (argmin ties to the lower cent_id).
    */
  private def dPqAsg(name: String, ct: String) =
    s"""${name}0 AS (
       |  SELECT sl.vec_id, sl.sub, c.cent_id,
       |    list_reduce(list_prepend(0::BIGINT, list_transform(
       |      range(1, ${Similarity.PqSubDim + 1}),
       |      i -> (sl.vs[i]-c.cv[i])*(sl.vs[i]-c.cv[i]))), (x,y) -> x+y)
       |      AS dist
       |  FROM sl JOIN $ct c USING (sub)
       |), $name AS (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY vec_id, sub ORDER BY dist, cent_id) AS rk
       |  FROM ${name}0
       |)""".stripMargin

  /** PQ centroid recompute from ranked assignment `a`: per-dim integer
    * sums + counts of rk=1 members, round-half-away mean via
    * (|s|·2+n)//(2n) — Similarity.rndDiv term-for-term; an empty cell
    * keeps its previous centroid (COALESCE), as the Scala trainer does.
    */
  private def dPqRecent(a: String, prev: String, out: String) =
    s"""${out}s AS (
       |  SELECT x.sub, x.cent_id AS cell, t.j AS dim,
       |         CAST(sum(sl.vs[t.j]) AS BIGINT) AS s,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM $a x JOIN sl ON sl.vec_id = x.vec_id AND sl.sub = x.sub,
       |       range(1, ${Similarity.PqSubDim + 1}) t(j)
       |  WHERE x.rk = 1 GROUP BY 1, 2, 3
       |), ${out}r AS (
       |  SELECT sub, cell AS cent_id,
       |         list(CASE WHEN s < 0 THEN -(((-s)*2 + n) // (2*n))
       |                   ELSE (s*2 + n) // (2*n) END ORDER BY dim) AS cv
       |  FROM ${out}s GROUP BY 1, 2
       |), $out AS (
       |  SELECT p.sub, p.cent_id, COALESCE(r.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN ${out}r r
       |    ON r.sub = p.sub AND r.cent_id = p.cent_id
       |)""".stripMargin

  /** WITH-body prefix replicating Similarity.pqTrain + pqEncodedArr
    * exactly (2 Lloyd rounds of per-subspace integer-L2 k-means, seeds
    * = the PqK md5-ranked vectors sliced per subspace, cent_id = rank
    * position): ends with the final assignment ranked in `pqa3` /
    * unranked in `pqa30` against the trained codebook `pqc2`. `sl` is
    * MATERIALIZED — DuckDB inlines CTEs by default and the round chain
    * references it 2× per round (the text_bpe_train 2^n lesson).
    * Shared by sim_pq_codes + sim_pq_topk so the oracles cannot drift.
    */
  private val dPqCte: String = {
    val sd = Similarity.PqSubDim
    s"""v2 AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
       |    x -> CAST(round(x*1000000.0) AS BIGINT)) AS vi FROM embeddings),
       |sl AS MATERIALIZED (
       |  SELECT vec_id, t.s AS sub,
       |         list_slice(vi, t.s*$sd+1, t.s*$sd+$sd) AS vs
       |  FROM v2, range(0, ${Similarity.PqSub}) t(s)),
       |sdv AS (SELECT row_number() OVER (
       |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS ck, vi
       |  FROM v2),
       |pqc0 AS (
       |  SELECT t.s AS sub, ck AS cent_id,
       |         list_slice(vi, t.s*$sd+1, t.s*$sd+$sd) AS cv
       |  FROM sdv, range(0, ${Similarity.PqSub}) t(s)
       |  WHERE ck < ${Similarity.PqK}),
       |${dPqAsg("pqa1", "pqc0")},
       |${dPqRecent("pqa1", "pqc0", "pqc1")},
       |${dPqAsg("pqa2", "pqc1")},
       |${dPqRecent("pqa2", "pqc1", "pqc2")},
       |${dPqAsg("pqa3", "pqc2")}""".stripMargin
  }

  private[analog] val stopEn = TextFunctions.langMarkers.head._2

  /** Curation.qualityExpr replayed over the tok CTE's `w` column —
    * the one definition the curate/cap oracles share.
    */
  private[analog] lazy val dQuality: String =
    "round(0.5::DOUBLE * least(1.0::DOUBLE, CAST(len(w) AS BIGINT) / 50.0::DOUBLE)" +
      " + 0.3::DOUBLE * (CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS BIGINT))" +
      s" + 0.2::DOUBLE * (CAST(${dMarkerHits(stopEn)} AS DOUBLE) / CAST(len(w) AS BIGINT)), 6)"

  // ---- queries -----------------------------------------------------------

  /** The composed RRF-fusion oracle — shared verbatim by
    * sim_rrf_topk (in-plan training) and sim_rrf_topk_loaded
    * (ModelStore-loaded artifacts): the two queries MUST produce
    * identical rows by the round-trip law, so they verify against
    * one SQL text.
    */
  private lazy val dRrfOracle: String = s"""WITH ${dKmCellsCte("8")},
        |$dPqCte,
        |iq AS (
        |  SELECT v.vec_id, v.emb, v.norm, a.cent_id AS cell
        |  FROM a3 a JOIN v USING (vec_id)
        |  WHERE a.rk <= 2 AND v.vec_id < 50
        |),
        |ip AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6)
        |           AS sim
        |  FROM iq q JOIN cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id
        |), ir AS (
        |  SELECT query_id, neighbor_id, row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM ip
        |),
        |pcds AS (SELECT vec_id, sub, cent_id FROM pqa3 WHERE rk = 1),
        |padc AS (
        |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |         CAST(sum(q.dist) AS BIGINT) AS adc
        |  FROM pqa30 q JOIN pcds x
        |    ON x.sub = q.sub AND x.cent_id = q.cent_id
        |  WHERE q.vec_id < 50 AND q.vec_id <> x.vec_id
        |  GROUP BY 1, 2
        |), pr AS (
        |  SELECT query_id, neighbor_id, row_number() OVER
        |    (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rnk
        |  FROM padc
        |),
        |contrib AS (
        |  SELECT query_id, neighbor_id, 1000000 // (60 + rnk) AS c
        |  FROM ir WHERE rnk <= 10
        |  UNION ALL
        |  SELECT query_id, neighbor_id, 1000000 // (60 + rnk) AS c
        |  FROM pr WHERE rnk <= 10
        |),
        |fused AS (
        |  SELECT query_id, neighbor_id, CAST(sum(c) AS BIGINT) AS rrf
        |  FROM contrib GROUP BY 1, 2
        |), fr AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rnk
        |  FROM fused
        |)
        |SELECT query_id, neighbor_id, rrf, CAST(rnk AS BIGINT) AS rank
        |FROM fr WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  /** The two-level-router oracle — shared verbatim by
    * sim_ivf2_topk (in-plan training) and sim_ivf2_topk_loaded
    * (ModelStore-loaded levels + stored lists): identical rows by
    * the round-trip law, one SQL text.
    */
  private lazy val dIvf2Oracle: String = s"""WITH ${dKmCellsCte("4")},
        |${dKm2Cte(4)},
        |corpus2 AS (SELECT vec_id, cent_id AS c2 FROM b3 WHERE rk = 1),
        |qp1 AS (
        |  SELECT a.vec_id AS query_id, a.cent_id AS cell
        |  FROM a3 a WHERE a.rk <= 2 AND a.vec_id < 50),
        |qf0 AS (
        |  SELECT q.query_id, c.cent_id,
        |    round(${dDot("qv.emb", "c.cvd")} / (qv.norm * c.cnorm), 6)
        |      AS cent_sim
        |  FROM qp1 q JOIN v qv ON qv.vec_id = q.query_id
        |  JOIN gw2n c ON c.cent_id // 4 = q.cell),
        |qf AS (
        |  SELECT query_id, cent_id AS c2, row_number() OVER
        |    (PARTITION BY query_id ORDER BY cent_sim DESC, cent_id) AS rk
        |  FROM qf0),
        |p AS (
        |  SELECT q.query_id, x.vec_id AS neighbor_id,
        |    round(${dDot("qv.emb", "xv.emb")} / (qv.norm * xv.norm), 6)
        |      AS sim
        |  FROM qf q JOIN corpus2 x ON x.c2 = q.c2
        |  JOIN v qv ON qv.vec_id = q.query_id
        |  JOIN v xv ON xv.vec_id = x.vec_id
        |  WHERE q.rk <= 4 AND q.query_id <> x.vec_id),
        |r AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM p)
        |SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  /** The IVF-PQ operating-point sweep oracle: ONE shared training
    * chain (dKmCellsCte + dPqCte, the sim_ivfpq_topk chain verbatim),
    * one MATERIALIZED ADC candidate table per distinct nprobe, then
    * per config a kCand shortlist → exact rerank → hits-vs-truth
    * rollup. Configs must mirror Similarity.ivfPqRefinedSweep's
    * defaults exactly.
    */
  private lazy val dIvfPqSweepOracle: String = {
    val configs = Seq((1, 30), (2, 30), (4, 30), (8, 30), (8, 120),
      (8, 240))
    val npBlocks = configs.map(_._1).distinct.map { np =>
      s"""adcnp$np AS MATERIALIZED (
         |  SELECT qp.query_id, cor.vec_id AS neighbor_id,
         |         CAST(sum(qd.dist) AS BIGINT) AS adc
         |  FROM (SELECT a.vec_id AS query_id, a.cent_id AS cell
         |        FROM a3 a WHERE a.rk <= $np AND a.vec_id < 50) qp
         |  JOIN cor ON cor.cell = qp.cell AND cor.vec_id <> qp.query_id
         |  JOIN qd ON qd.query_id = qp.query_id AND qd.sub = cor.sub
         |    AND qd.cent_id = cor.cent_id
         |  GROUP BY 1, 2)""".stripMargin
    }
    val cfgBlocks = configs.zipWithIndex.map { case ((np, kc), i) =>
      s"""sl$i AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rnk
         |    FROM adcnp$np) WHERE rnk <= $kc),
         |rr$i AS (
         |  SELECT sl.query_id, sl.neighbor_id,
         |         round(${dCos("q.emb", "c.emb")}, 6) AS sim
         |  FROM sl$i sl JOIN e q ON q.vec_id = sl.query_id
         |           JOIN e c ON c.vec_id = sl.neighbor_id),
         |top$i AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |    FROM rr$i) WHERE rnk <= 10),
         |cfg$i AS (
         |  SELECT CAST($np AS BIGINT) AS nprobe,
         |         CAST($kc AS BIGINT) AS k_cand,
         |         (SELECT CAST(count(*) AS BIGINT) FROM adcnp$np) AS n_cand,
         |         (SELECT CAST(count(*) AS BIGINT)
         |          FROM top$i t JOIN truth u ON u.query_id = t.query_id
         |            AND u.neighbor_id = t.neighbor_id) AS n_hits)""".stripMargin
    }
    val union = configs.indices.map(i => s"SELECT * FROM cfg$i")
      .mkString("\n|UNION ALL ")
    s"""WITH ${dKmCellsCte("8")},
       |$dPqCte,
       |cds AS (SELECT vec_id, sub, cent_id FROM pqa3 WHERE rk = 1),
       |cor AS (SELECT c.vec_id, c.cell, x.sub, x.cent_id
       |        FROM cells c JOIN cds x USING (vec_id)),
       |qd AS (SELECT vec_id AS query_id, sub, cent_id, dist
       |       FROM pqa30 WHERE vec_id < 50),
       |bq AS (SELECT vec_id, emb, norm FROM e WHERE vec_id < 50),
       |bp AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6)
       |           AS sim
       |       FROM bq q JOIN e c ON q.vec_id <> c.vec_id),
       |br AS (SELECT query_id, neighbor_id, row_number() OVER
       |         (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
       |           AS rnk
       |       FROM bp),
       |truth AS (SELECT query_id, neighbor_id FROM br WHERE rnk <= 10),
       |${npBlocks.mkString(",\n|")},
       |${cfgBlocks.mkString(",\n|")}
       |SELECT nprobe, k_cand, n_cand, n_hits,
       |       (n_hits * 10000) // 500 AS recall_pm
       |FROM ($union)
       |ORDER BY nprobe, k_cand""".stripMargin
  }

  /** The calibrated-Jaccard oracle chain rooted at `root` (a table or
    * CTE the caller prepends): replays the whole selection —
    * deterministic md5 partner per doc, integer micro-Jaccard folded
    * into 10 buckets, mode (ties low), first bucket above the mode
    * with zero sampled pairs (epsPm = 0), then the UNBLOCKED
    * same-(lang,source) pair cut at the chosen integer threshold with
    * `threshold_micro` riding the output. Shared by
    * `dedup_ngram_calibrated` (root = documents, where the word-soup
    * corpus saturates the rule to J ≥ 1.0) and
    * `dedup_ngram_cal_clustered` (root = the template fixture, where
    * the structural gap forces τ = 0.3) so the selection logic is
    * byte-identical between the saturating and discriminating gates.
    */
  private def dJacCal(root: String): String =
    s"""wsj AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
      |  FROM $root),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM wsj),
      |rp AS (
      |  SELECT a.doc_id AS aid,
      |    ('0x' || substr(md5(CAST(a.doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % nn.n AS p
      |  FROM wsj a, nn),
      |js AS (
      |  SELECT CAST(round(round(CAST(len(list_intersect(a.ws, b.ws))
      |      AS DOUBLE) / (len(a.ws) + len(b.ws)
      |      - len(list_intersect(a.ws, b.ws))), 6) * 1000000) AS BIGINT)
      |    AS jmicro
      |  FROM rp JOIN wsj a ON a.doc_id = rp.aid
      |  JOIN wsj b ON b.doc_id = rp.p
      |  WHERE rp.p <> rp.aid AND len(a.ws) + len(b.ws) > 0),
      |hb AS (
      |  SELECT CAST(least(9, jmicro // 100000) AS BIGINT) AS bucket,
      |         CAST(count(*) AS BIGINT) AS np
      |  FROM js GROUP BY 1),
      |ht AS (SELECT CAST(coalesce(sum(np), 0) AS BIGINT) AS n_total FROM hb),
      |hm AS (SELECT bucket AS mode_bucket FROM hb
      |       ORDER BY np DESC, bucket LIMIT 1),
      |tb AS (
      |  SELECT CAST(min(t.c) AS BIGINT) AS cand
      |  FROM range(0, 11) t(c), ht, hm
      |  WHERE t.c > hm.mode_bucket
      |    AND coalesce((SELECT np FROM hb WHERE hb.bucket = t.c), 0) * 10000
      |        <= 0 * ht.n_total),
      |thr AS (SELECT coalesce(cand * 100000, 1000001)
      |          AS threshold_micro FROM tb),
      |ws AS (
      |  SELECT doc_id, lang, source,
      |         list_distinct(string_split(text, ' ')) AS ws
      |  FROM $root)
      |SELECT * FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
      |           (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 6)
      |           AS jaccard,
      |         thr.threshold_micro
      |  FROM ws a JOIN ws b
      |    ON a.lang = b.lang AND a.source = b.source
      |   AND a.doc_id < b.doc_id, thr
      |) WHERE CAST(round(jaccard * 1000000) AS BIGINT) >= threshold_micro
      |ORDER BY doc_a, doc_b""".stripMargin

  /** The calibrated-Hamming oracle chain rooted at `root` — the
    * [[dJacCal]] rule under the similarity → distance inversion:
    * deterministic md5 partner per doc, exact 60-bit sketch distances
    * folded into 10 six-bit buckets, mode ties toward the LARGER
    * distance, radius = upper edge (6b + 5) of the first empty bucket
    * scanning DOWN from the mode; fallback 0 (identity only) when
    * every bucket below the mode is occupied, sentinel −1 when the
    * mode itself is bucket 0. The pair leg is the INDEPENDENT brute
    * O(n²) Hamming join (the dedup_simhash_pairs precedent) cut at
    * `least(radius, 3)` — the Manku geometry's lossless reach caps
    * the effective radius exactly as the Spark operator does.
    */
  private def dHamCal(root: String): String =
    s"""hs AS (
      |  SELECT doc_id, list_transform(
      |    list_distinct(string_split(text, ' ')), x -> ${dWordHash60("x")}) AS hs
      |  FROM $root),
      |sv AS (SELECT doc_id, CAST($dSimhash60 AS BIGINT) AS simhash FROM hs),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sv),
      |rp AS (
      |  SELECT a.doc_id AS aid,
      |    ('0x' || substr(md5(CAST(a.doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % nn.n AS p
      |  FROM sv a, nn),
      |ds AS (
      |  SELECT CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS d
      |  FROM rp JOIN sv a ON a.doc_id = rp.aid
      |  JOIN sv b ON b.doc_id = rp.p
      |  WHERE rp.p <> rp.aid),
      |hb AS (
      |  SELECT CAST(least(9, d // 6) AS BIGINT) AS bucket,
      |         CAST(count(*) AS BIGINT) AS np
      |  FROM ds GROUP BY 1),
      |hm AS (SELECT bucket AS mode_bucket FROM hb
      |       ORDER BY np DESC, bucket DESC LIMIT 1),
      |gb AS (
      |  SELECT CAST(max(t.c) AS BIGINT) AS gb
      |  FROM range(0, 10) t(c), hm
      |  WHERE t.c < hm.mode_bucket
      |    AND coalesce((SELECT np FROM hb WHERE hb.bucket = t.c), 0) = 0),
      |rr AS (
      |  SELECT CAST(CASE
      |    WHEN coalesce((SELECT mode_bucket FROM hm), 0) = 0 THEN -1
      |    ELSE coalesce(gb * 6 + 5, 0) END AS BIGINT) AS radius
      |  FROM gb)
      |SELECT * FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming,
      |         rr.radius
      |  FROM sv a JOIN sv b ON a.doc_id < b.doc_id, rr
      |) WHERE hamming <= least(radius, 3) ORDER BY doc_a, doc_b""".stripMargin

  /** CLUSTERED-TEXT fixture — the clusteredEmbs discipline applied to
    * the text measure. The shipped documents are word soup whose
    * random-pair Jaccard spans [0, 1] (the regime where the
    * calibration honestly saturates); real near-dup corpora are
    * template-shaped: per-source boilerplate plus per-doc noise. The
    * fixture derives that twin DETERMINISTICALLY from columns both
    * engines hold: 16 template words keyed by (source, cluster) with
    * cluster = (doc_id div 20) mod 5 (5 docs per source×cluster cell
    * on the id-striped source layout), plus the NESTED noise prefix
    * n0..n(doc_id mod 12) shared corpus-wide. Resulting geometry:
    * same-cell Jaccard = (17+min_m)/(17+max_m) ≥ 17/28 ≈ 0.607,
    * cross-cell ≤ 12/44 ≈ 0.273 — buckets 3–5 are STRUCTURALLY empty,
    * so the epsPm = 0 rule must land τ = 0.3 in the gap at any corpus
    * size, and the calibrated miner admits exactly the same-template
    * pairs. lang is held constant so blocking reduces to the source
    * stripe.
    */
  private[graft] def templateDocs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cluster =
      (call_function("div", col("doc_id"), lit(20L)) % 5L).cast("string")
    val template = transform(sequence(lit(0), lit(15)), j =>
      concat(lit("t"), col("source"), lit("_"), cluster, lit("_"),
        j.cast("string")))
    val noise = transform(sequence(lit(0L), col("doc_id") % 12L), k =>
      concat(lit("n"), k.cast("string")))
    docs.select(col("doc_id"),
      array_join(concat(template, noise), " ").as("text"),
      lit("xx").as("lang"), col("source"))
  }

  /** [[templateDocs]] as the oracle CTE `tdocs`, arithmetic-identical
    * to the Spark derivation (integer div/mod, string concatenation).
    */
  private val dTemplateDocs: String =
    """tdocs AS (
      |  SELECT doc_id, 'xx' AS lang, source,
      |    array_to_string(list_concat(
      |      list_transform(range(0, 16), j -> 't' || source || '_' ||
      |        CAST((doc_id // 20) % 5 AS VARCHAR) || '_' ||
      |        CAST(j AS VARCHAR)),
      |      list_transform(range(0, doc_id % 12 + 1),
      |           k -> 'n' || CAST(k AS VARCHAR))),
      |      ' ') AS text
      |  FROM documents)""".stripMargin

  val queries: Seq[Q] = Seq(

    // Exact dedup: group on content hash, keep min doc_id.
    Q("dedup_exact",
      (s, d) => Dedup.exact(Tables.documents(s, d)).orderBy("keeper_id"),
      Some("""SELECT min(doc_id) AS keeper_id, count(*) AS n_copies,
        |       md5(text) AS text_hash
        |FROM documents GROUP BY md5(text) ORDER BY keeper_id""".stripMargin)),

    // Exact dedup on NORMALIZED text: catches cosmetic duplicates
    // (case/punctuation/whitespace variants) that byte-exact dedup
    // misses — the composition of normalize + exact.
    Q("dedup_exact_normalized",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          md5(TextFunctions.normalize(col("text"))).as("text_hash"))
        .groupBy("text_hash")
        .agg(min(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_copies"))
        .select("keeper_id", "n_copies", "text_hash")
        .orderBy("keeper_id"),
      Some("""SELECT min(doc_id) AS keeper_id, count(*) AS n_copies,
        |       md5(trim(regexp_replace(regexp_replace(lower(text),
        |         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS text_hash
        |FROM documents
        |GROUP BY 3 ORDER BY keeper_id""".stripMargin)),

    // MinHash band keys per doc (k=8 sig, 4 bands × 2 rows) — the
    // map-side artifact of LSH dedup, verified end-to-end.
    Q("dedup_minhash_sig",
      // sort-first: the signature projection is narrow (order
      // survives), so the range exchange's sampling pass re-reads the
      // scan instead of re-hashing every shingle (orderBy-last would)
      (s, d) => Dedup.minhashSignatures(
        Tables.documents(s, d).select("doc_id", "text").orderBy("doc_id")),
      Some(s"""WITH $tokCte, $shCte, $hsCte
        |SELECT doc_id, ${(0 until 4).map(b => s"${dBand("hs", b)} AS band$b").mkString(", ")}
        |FROM hsc ORDER BY doc_id""".stripMargin)),

    // LSH candidate pairs (any shared band) verified at Jaccard >= 0.5.
    Q("dedup_minhash_pairs",
      (s, d) => Sinks.exportSorted(Dedup.minhashPairs(Tables.documents(s, d)),
        Seq("doc_a", "doc_b")),
      Some {
        val bandJoin = (0 until 4).map { b =>
          s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             |FROM sig a JOIN sig b
             |  ON a.band$b = b.band$b AND a.doc_id < b.doc_id""".stripMargin
        }.mkString("\n  UNION\n")
        val bandCols = (0 until 4)
          .map(b => s"${dBand("hs", b)} AS band$b").mkString(", ")
        s"""WITH $tokCte, $shCte, $hsCte,
        |sig AS (SELECT doc_id, $bandCols FROM hsc),
        |cand AS (
        |  $bandJoin
        |)
        |SELECT * FROM (
        |  SELECT c.doc_a, c.doc_b,
        |         round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
        |           (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6)
        |           AS jaccard
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.doc_a
        |  JOIN sh sb ON sb.doc_id = c.doc_b
        |) WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin
      }),

    // Incremental (cross-batch) LSH screen: every 10th-plus-3 doc
    // "arrives" as a new batch and probes the remaining corpus's
    // STORED band table (ModelStore.ensureFrame — mined once per data
    // dir, read back thereafter, making the class doc's "increments
    // probe the stored artifact" lifecycle literal; also kills the
    // round-13 bench variance, where each run re-derived and
    // re-persisted the table under memory pressure) — near-dup pairs
    // BETWEEN the sides only.
    Q("dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val oldB = graft.sources.ModelStore.ensureFrame(s,
          ModelStore.dir("mh_bands", d),
          Dedup.minhashBandTable(docs.filter(col("doc_id") % 10 =!= 3)))
        Sinks.exportSorted(Dedup.minhashPairsIncremental(
          docs.filter(col("doc_id") % 10 === 3),
          docs.filter(col("doc_id") % 10 =!= 3),
          oldBands = Some(oldB)), Seq("new_id", "old_id"))
      },
      Some {
        val bandJoin = (0 until 4).map { b =>
          s"""SELECT a.doc_id AS new_id, b.doc_id AS old_id
             |FROM sig a JOIN sig b
             |  ON a.band$b = b.band$b
             | AND a.doc_id % 10 = 3 AND b.doc_id % 10 <> 3""".stripMargin
        }.mkString("\n  UNION\n")
        val bandCols = (0 until 4)
          .map(b => s"${dBand("hs", b)} AS band$b").mkString(", ")
        s"""WITH $tokCte, $shCte, $hsCte,
        |sig AS (SELECT doc_id, $bandCols FROM hsc),
        |cand AS (
        |  $bandJoin
        |)
        |SELECT * FROM (
        |  SELECT c.new_id, c.old_id,
        |         round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
        |           (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6)
        |           AS jaccard
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.new_id
        |  JOIN sh sb ON sb.doc_id = c.old_id
        |) WHERE jaccard >= 0.5 ORDER BY new_id, old_id""".stripMargin
      }),

    // Dedup completion: near-dup pairs → connected components → one
    // canonical survivor (min doc_id) per cluster, for every doc.
    // At gate scale the pair list fits the driver, so this exercises
    // Dedup.clusters' LOCAL union-find fast path.
    Q("dedup_clusters",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.clusters(docs, Dedup.minhashPairs(docs)).orderBy("doc_id")
      },
      Some(dClustersSql)),

    // The SAME completion forced down the DISTRIBUTED path
    // (localThreshold = 0 disables the driver union-find): the
    // iterative min-label propagation loop — the shape that actually
    // runs at 100 TB — through the identical transitive-closure
    // oracle. Labels are min reachable doc_id either way, so the two
    // queries must hash identically; this pins the loop itself (its
    // convergence check, the edge-subgraph restriction, the untouched
    // anti-join union) at the gate instead of only in specs.
    Q("dedup_clusters_distributed",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.clusters(docs, Dedup.minhashPairs(docs), localThreshold = 0)
          .orderBy("doc_id")
      },
      Some(dClustersSql)),

    // Quality-aware dedup completion — keep-BEST per cluster (the
    // SlimPajama/RefinedWeb convention; here keep-LONGEST via
    // n_chars, ties to the lower id): min-id survivor selection
    // routinely keeps the tweet and drops the article. One hash
    // aggregate carries the argmax (max(struct(score, -doc_id))) —
    // no corpus-wide window. Oracle composes the SHARED component-
    // label CTE (dClustersCte) with the argmax, so the labels cannot
    // drift from dedup_clusters.
    Q("dedup_survivors_best",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.bestSurvivors(docs, Dedup.minhashPairs(docs),
          col("n_chars"))
      },
      Some(s"""WITH RECURSIVE $dClustersCte,
        |best AS (
        |  SELECT c.cluster_id, d.doc_id, d.n_chars,
        |         row_number() OVER (PARTITION BY c.cluster_id
        |           ORDER BY d.n_chars DESC, d.doc_id) AS rnk
        |  FROM clus c JOIN documents d USING (doc_id)
        |),
        |sz AS (SELECT cluster_id, count(*) AS n_docs FROM clus GROUP BY 1)
        |SELECT b.cluster_id, b.doc_id,
        |       CAST(b.n_chars AS BIGINT) AS q_score,
        |       CAST(s.n_docs AS BIGINT) AS n_docs
        |FROM best b JOIN sz s USING (cluster_id)
        |WHERE b.rnk = 1 ORDER BY b.cluster_id""".stripMargin)),

    // Cross-source near-dup overlap matrix: verified pairs tagged with
    // both docs' sources (unordered; diagonal = within-source), pair
    // and distinct-doc counts per source pair — the mixture-weighting
    // diagnostic (two crawls sharing near-dup mass are one source).
    Q("dedup_source_overlap",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.sourceOverlap(docs, Dedup.minhashPairs(docs))
      },
      Some(s"""WITH $dVerifiedPairsCte,
        |tagged AS (
        |  SELECT least(da.source, db.source) AS source_a,
        |         greatest(da.source, db.source) AS source_b,
        |         v.doc_a, v.doc_b
        |  FROM verified v
        |  JOIN documents da ON da.doc_id = v.doc_a
        |  JOIN documents db ON db.doc_id = v.doc_b
        |),
        |np AS (
        |  SELECT source_a, source_b, count(*) AS n_pairs
        |  FROM tagged GROUP BY 1, 2
        |),
        |nd AS (
        |  SELECT source_a, source_b, count(*) AS n_docs FROM (
        |    SELECT DISTINCT source_a, source_b, unnest([doc_a, doc_b]) AS d
        |    FROM tagged)
        |  GROUP BY 1, 2
        |)
        |SELECT source_a, source_b,
        |       CAST(n_pairs AS BIGINT) AS n_pairs,
        |       CAST(n_docs AS BIGINT) AS n_docs
        |FROM np JOIN nd USING (source_a, source_b)
        |ORDER BY source_a, source_b""".stripMargin)),

    // Blocked pairwise word-set Jaccard within (lang, source).
    Q("dedup_ngram_jaccard",
      (s, d) => Sinks.exportSorted(
        Dedup.ngramJaccardPairs(Tables.documents(s, d)), Seq("doc_a", "doc_b")),
      Some("""WITH ws AS (
        |  SELECT doc_id, lang, source,
        |         list_distinct(string_split(text, ' ')) AS ws
        |  FROM documents
        |)
        |SELECT * FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
        |           (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 6)
        |           AS jaccard
        |  FROM ws a JOIN ws b
        |    ON a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |) WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin)),

    // The CALIBRATED-threshold arm of the word-set miner (round 18 —
    // the cosine calibration transplanted to Jaccard, auto-tuning the
    // most hand-tuned knob in a curation pipeline): threshold = the
    // first bucket of the random-partner Jaccard histogram above its
    // mode with NO sampled pair (epsPm = 0). On this word-soup corpus
    // random pairs span the whole [0,1] range, so the calibration
    // honestly saturates to J >= 1.0 — "word-set Jaccard cannot
    // separate duplicates from this corpus's noise; only identical
    // sets are safe" — and the output is the identical-word-set pair
    // list with the chosen threshold riding along. The oracle replays
    // the whole selection (histogram, mode, gap rule) plus the
    // unblocked same-(lang,source) join the blocked miner equals.
    Q("dedup_ngram_calibrated",
      (s, d) => Sinks.exportSorted(
        Dedup.ngramJaccardPairsCalibrated(Tables.documents(s, d)),
        Seq("doc_a", "doc_b")),
      Some(s"""WITH ${dJacCal("documents")}""".stripMargin)),

    // The calibration in its DISCRIMINATING regime: the same operator
    // over the template fixture (templateDocs), whose structural gap
    // — same-cell J ≥ 0.607, cross J ≤ 0.273, buckets 3–5 empty —
    // forces the epsPm = 0 rule to τ = 0.3 at every corpus size. The
    // base-table gate above proves the honest saturation arm; this
    // one proves the rule actually SELECTS when the measure can
    // discriminate: the output is exactly the same-template pair set
    // (J ≥ 0.68 on this id layout) with threshold_micro = 300000
    // riding, and the oracle replays fixture + selection end-to-end.
    Q("dedup_ngram_cal_clustered",
      (s, d) => Sinks.exportSorted(Dedup.ngramJaccardPairsCalibrated(
        templateDocs(Tables.documents(s, d))), Seq("doc_a", "doc_b")),
      Some(s"""WITH $dTemplateDocs,
        |${dJacCal("tdocs")}""".stripMargin)),

    // Winnowing fingerprints (Schleimer SIGMOD'03 / MOSS): positional
    // 3-gram hashes, window-of-4 minima, deduped + sorted.
    Q("text_winnow",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextFunctions.winnowFingerprints(col("text"))).as("fp"))
        .transform(Sinks.exportSorted(_, Seq("doc_id", "fp"))),
      Some(s"""WITH $tokCte, $winnowCte
        |SELECT doc_id, unnest(fps) AS fp FROM fp ORDER BY 1, 2""".stripMargin)),

    // Winnow-fingerprint near-dup pairs: shared CONTIGUOUS k+win-1
    // word runs (local similarity, the partial-plagiarism notion the
    // set/sketch miners are blind to). The oracle mirrors the full
    // semantics including the df<=128 hot-fingerprint cap (the
    // substring miner's guard: a boilerplate fingerprint shared by d
    // docs would otherwise induce a d^2 candidate bucket).
    Q("dedup_winnow_pairs",
      (s, d) => Sinks.exportSorted(
        Dedup.winnowPairs(Tables.documents(s, d)), Seq("doc_a", "doc_b")),
      Some(s"""WITH $tokCte, $winnowCte,
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
        |rare AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 128),
        |eh AS (SELECT e.doc_id, e.fp FROM e JOIN rare USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       count(*) AS n_shared
        |FROM eh a JOIN eh b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 3
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Asymmetric near-dup (CONTAINMENT) pairs — Broder's containment
    // |A∩B| / min(|A|,|B|) over word-3-gram shingles: the
    // excerpt/quote notion resemblance dedup cannot mine (a doc
    // quoted whole inside a much longer one has Jaccard ~ |a|/|b| ~ 0,
    // so resemblance LSH band collisions vanish exactly where
    // containment matters — and the minhash miner's length prefilter
    // deliberately EXCLUDES such pairs). Candidates come from shared
    // winnowing fingerprints (>= 2) — mined by shared contiguous
    // RUNS, size-independent; verify is exact shingle containment as
    // a truncating per-myriad integer. The oracle replays candidates
    // AND verify, including the df<=128 hot-fingerprint cap on the
    // candidate join.
    Q("dedup_containment",
      (s, d) => Sinks.exportSorted(
        Dedup.containmentPairs(Tables.documents(s, d)), Seq("doc_a", "doc_b")),
      Some(s"""WITH $tokCte, $winnowCte,
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
        |rare AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 128),
        |eh AS (SELECT e.doc_id, e.fp FROM e JOIN rare USING (fp)),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM eh a JOIN eh b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |s3 AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, len(w) - 1),
        |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM tok),
        |cp AS (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(sa.sh, sb.sh)) * 10000 //
        |      least(len(sa.sh), len(sb.sh)) AS BIGINT) AS containment_pm
        |  FROM cand JOIN s3 sa ON sa.doc_id = cand.doc_a
        |            JOIN s3 sb ON sb.doc_id = cand.doc_b
        |  WHERE least(len(sa.sh), len(sb.sh)) > 0)
        |SELECT doc_a, doc_b, containment_pm
        |FROM cp WHERE containment_pm >= 8000
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // ── Miner recall gates (round-17 ask #4): the eval_neardup_recall
    // discipline extended to the other pair miners — each graded
    // against a slice-brute truth IN ITS OWN similarity measure
    // (Hamming for the 64-bit sketch families, uncapped shared
    // fingerprints / exact shingle containment for the text miners),
    // through Evaluation.pairRecall's integer tail, so every future
    // blocking/cap/geometry tuning has a hash-stable recall number to
    // move instead of an asserted "output-preserving". Slice = the
    // id < 100 prefix; the smaller id of any touching pair is in the
    // slice, so `doc_a < 100` is the exact restriction. ──

    // SimHash: the Manku block table is LOSSLESS at Hamming ≤ 3 by
    // pigeonhole and the verify is exact, so this gate is a LAW —
    // recall_pm = precision_pm = 10000 — and the oracle asserts it in
    // closed form over an O(slice × corpus) brute Hamming truth: any
    // future block-geometry change that loses a pair mismatches on
    // n_found/n_matched.
    Q("eval_simhash_recall",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val found = Dedup.simhashPairs(docs)
          .filter(col("doc_a") < 100)
          .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
        val sigs = Dedup.simhash(docs).select("doc_id", "simhash")
        val truth = broadcast(sigs.filter(col("doc_id") < 100)
            .select(col("doc_id").as("vec_a"), col("simhash").as("sig_a")))
          .join(sigs.select(col("doc_id").as("vec_b"),
            col("simhash").as("sig_b")), col("vec_b") > col("vec_a"))
          .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b")))
            .cast("long") <= 3)
          .select("vec_a", "vec_b")
        Evaluation.pairRecall(found, truth)
      },
      Some(s"""WITH hs AS (
        |  SELECT doc_id, list_transform(
        |    list_distinct(string_split(text, ' ')), x -> ${dWordHash60("x")}) AS hs
        |  FROM documents
        |), sv AS (SELECT doc_id, CAST($dSimhash60 AS BIGINT) AS simhash FROM hs),
        |truth AS (
        |  SELECT a.doc_id AS vec_a, b.doc_id AS vec_b
        |  FROM sv a JOIN sv b ON a.doc_id < 100 AND b.doc_id > a.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
        |SELECT n_truth, n_truth AS n_found, n_truth AS n_matched,
        |       CAST(CASE WHEN n_truth > 0 THEN 10000 ELSE 0 END AS BIGINT)
        |         AS recall_pm,
        |       CAST(CASE WHEN n_truth > 0 THEN 10000 ELSE 0 END AS BIGINT)
        |         AS precision_pm
        |FROM nt""".stripMargin)),

    // Winnowing: truth = the UNCAPPED shared-fingerprint pairs (the
    // miner's own measure with the df ≤ 128 hot-fingerprint guard
    // lifted), so the graded number is exactly what the cap costs —
    // the one tuning knob this miner has. Precision is 10000 by
    // construction (capped hits are a subset of uncapped hits).
    Q("eval_winnow_recall",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val found = Dedup.winnowPairs(docs)
          .filter(col("doc_a") < 100)
          .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
        // SAME fanned shape as the miner's internal fingerprint frame:
        // CacheManager substitutes cached frames by canonical plan, so
        // the truth leg rides the miner's cache only while the two
        // plans stay identical (round-18 fanOut broke the match and
        // the truth walk silently re-ran — single-core)
        val fps = graft.sources.Par.fanOut(docs).select(col("doc_id"),
          explode(TextFunctions.winnowFingerprints(col("text"))).as("fp"))
        val truth = fps.filter(col("doc_id") < 100)
          .select(col("doc_id").as("vec_a"), col("fp"))
          .join(fps.select(col("doc_id").as("vec_b"), col("fp")), Seq("fp"))
          .filter(col("vec_b") > col("vec_a"))
          .groupBy("vec_a", "vec_b").agg(count(lit(1)).as("ns"))
          .filter(col("ns") >= 3)
          .select("vec_a", "vec_b")
        Evaluation.pairRecall(found, truth)
      },
      Some(s"""WITH $tokCte, $winnowCte,
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
        |rare AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 128),
        |eh AS (SELECT e.doc_id, e.fp FROM e JOIN rare USING (fp)),
        |found AS (
        |  SELECT a.doc_id AS vec_a, b.doc_id AS vec_b
        |  FROM eh a JOIN eh b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  WHERE a.doc_id < 100
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |truth AS (
        |  SELECT a.doc_id AS vec_a, b.doc_id AS vec_b
        |  FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  WHERE a.doc_id < 100
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
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

    // Containment: truth = EXACT shingle containment ≥ 8000 pm over
    // the slice × corpus brute pair set — the miner's verify measure
    // with the fingerprint candidate stage (minShared ≥ 2, df cap)
    // lifted, so the graded number is the candidate stage's recall:
    // a short doc quoted whole but sharing < 2 winnow fingerprints is
    // exactly what this gate counts. Precision is 10000 by
    // construction (the miner verifies exactly).
    Q("eval_containment_recall",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val found = Dedup.containmentPairs(docs)
          .filter(col("doc_a") < 100)
          .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
        // corpus side fanned out BEFORE the brute non-equi join
        // (round 18): the exchange both parallelizes the shingle
        // build (single-row-group scan = one core) and MATERIALIZES
        // the arrays — fused under the BroadcastNestedLoopJoin,
        // whole-stage codegen re-evaluated the shingle+sort projection
        // once per BUILD ROW (100× per corpus row; the PqEncode
        // deferral mechanism, measured there)
        val sh = graft.sources.Par.fanOut(
          docs.select(col("doc_id"),
            array_sort(TextFunctions.shinglesN(col("text"), 3)).as("sh")))
        val inter = graft.expressions.TextExpressions
          .sortedIntersectCount(col("sh_a"), col("sh_b")).cast("long")
        val minSz = least(size(col("sh_a")), size(col("sh_b"))).cast("long")
        val truth = broadcast(sh.filter(col("doc_id") < 100)
            .select(col("doc_id").as("vec_a"), col("sh").as("sh_a")))
          .join(sh.select(col("doc_id").as("vec_b"), col("sh").as("sh_b")),
            col("vec_b") > col("vec_a"))
          .filter(minSz > 0)
          .filter(call_function("div", inter * lit(10000L), minSz) >= 8000L)
          .select("vec_a", "vec_b")
        Evaluation.pairRecall(found, truth)
      },
      Some(s"""WITH $tokCte, $winnowCte,
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
        |rare AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 128),
        |eh AS (SELECT e.doc_id, e.fp FROM e JOIN rare USING (fp)),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM eh a JOIN eh b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |s3 AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, len(w) - 1),
        |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM tok),
        |found AS (
        |  SELECT doc_a AS vec_a, doc_b AS vec_b
        |  FROM cand JOIN s3 sa ON sa.doc_id = cand.doc_a
        |            JOIN s3 sb ON sb.doc_id = cand.doc_b
        |  WHERE doc_a < 100 AND least(len(sa.sh), len(sb.sh)) > 0
        |    AND len(list_intersect(sa.sh, sb.sh)) * 10000
        |        // least(len(sa.sh), len(sb.sh)) >= 8000),
        |truth AS (
        |  SELECT a.doc_id AS vec_a, b.doc_id AS vec_b
        |  FROM s3 a JOIN s3 b ON a.doc_id < 100 AND b.doc_id > a.doc_id
        |  WHERE least(len(a.sh), len(b.sh)) > 0
        |    AND len(list_intersect(a.sh, b.sh)) * 10000
        |        // least(len(a.sh), len(b.sh)) >= 8000),
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

    // Exact-substring duplicate pairs (Lee et al. 2021): maximal shared
    // EXACT token runs >= 12 words, found via positional 8-gram anchor
    // hashes + gaps-and-islands run extension along the match diagonal.
    // The oracle mirrors the full semantics including the df<=128
    // hot-gram cap; positions are 1-based here vs posexplode's 0-based,
    // which cancels — diag and island keys only ever difference them.
    Q("dedup_substring",
      (s, d) => Sinks.exportSorted(
        Dedup.substringPairs(Tables.documents(s, d)), Seq("doc_a", "doc_b")),
      Some(s"""WITH $tokCte,
        |g AS (SELECT doc_id, list_transform(range(1, len(w) - 6),
        |  i -> ${dWordHash60((0 until 8).map(k => s"w[i+$k]").mkString(" || ' ' || "))}) AS hs
        |  FROM tok),
        |e AS (SELECT doc_id, unnest(range(1, len(hs) + 1)) AS pos,
        |             unnest(hs) AS h FROM g),
        |rare AS (SELECT h FROM e GROUP BY h HAVING count(*) <= 128),
        |hits AS (SELECT e.doc_id, e.pos, e.h FROM e JOIN rare USING (h)),
        |al AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
        |         a.pos - b.pos AS diag
        |  FROM hits a JOIN hits b ON a.h = b.h AND a.doc_id < b.doc_id),
        |isl AS (
        |  SELECT doc_a, doc_b, diag,
        |         pos_a - row_number() OVER (
        |           PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
        |  FROM al),
        |runs AS (
        |  SELECT doc_a, doc_b, count(*) + 7 AS run_len
        |  FROM isl GROUP BY doc_a, doc_b, diag, grp)
        |SELECT doc_a, doc_b, CAST(max(run_len) AS BIGINT) AS max_run,
        |       count(*) AS n_runs
        |FROM runs WHERE run_len >= 12
        |GROUP BY doc_a, doc_b
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Exact-substring screen at ingest (batch twin): odd-id docs
    // "arrive" and stream-static join the even-id corpus' df-capped
    // positional anchor index; one row per anchor alignment. Oracle
    // positions are 1-based (range) vs posexplode's 0-based, hence the
    // - 1 on both exported positions; diag differences them and needs
    // no shift.
    Q("stream_substring_screen",
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.streaming.DocStreams.substringScreen(
          docs.filter(col("doc_id") % 2 === 1),
          graft.streaming.DocStreams.substringAnchorIndex(
            docs.filter(col("doc_id") % 2 === 0)))
          .orderBy("doc_id", "corpus_id", "pos", "corpus_pos")
      },
      Some(s"""WITH $tokCte,
        |g AS (SELECT doc_id, list_transform(range(1, len(w) - 6),
        |  i -> ${dWordHash60((0 until 8).map(k => s"w[i+$k]").mkString(" || ' ' || "))}) AS hs
        |  FROM tok),
        |e AS (SELECT doc_id, unnest(range(1, len(hs) + 1)) AS pos,
        |             unnest(hs) AS h FROM g),
        |c AS (SELECT doc_id AS corpus_id, pos AS corpus_pos, h
        |      FROM e WHERE doc_id % 2 = 0),
        |rare AS (SELECT h FROM c GROUP BY h HAVING count(*) <= 128),
        |idx AS (SELECT c.corpus_id, c.corpus_pos, c.h
        |        FROM c JOIN rare USING (h)),
        |s AS (SELECT doc_id, pos, h FROM e WHERE doc_id % 2 = 1)
        |SELECT s.doc_id, idx.corpus_id,
        |       s.pos - 1 AS pos, idx.corpus_pos - 1 AS corpus_pos,
        |       s.pos - idx.corpus_pos AS diag
        |FROM s JOIN idx USING (h)
        |ORDER BY s.doc_id, idx.corpus_id, s.pos, idx.corpus_pos""".stripMargin)),

    // The removal half of containment dedup: drop each verified
    // pair's CONTAINED side (the smaller shingle set — the excerpt;
    // the superset doc keeps the content; equal sizes tie to the
    // lower id, the exact-dedup keeper convention). The drop set is
    // threshold-vanishing, so the anti-join broadcasts and the corpus
    // never shuffles.
    Q("dedup_containment_clean",
      (s, d) => Dedup.containmentSurvivors(Tables.documents(s, d)),
      Some(s"""WITH $tokCte, $winnowCte,
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
        |rare AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 128),
        |eh AS (SELECT e.doc_id, e.fp FROM e JOIN rare USING (fp)),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM eh a JOIN eh b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |s3 AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, len(w) - 1),
        |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM tok),
        |cp AS (
        |  SELECT doc_a, doc_b, len(sa.sh) AS sz_a, len(sb.sh) AS sz_b,
        |    CAST(len(list_intersect(sa.sh, sb.sh)) * 10000 //
        |      least(len(sa.sh), len(sb.sh)) AS BIGINT) AS containment_pm
        |  FROM cand JOIN s3 sa ON sa.doc_id = cand.doc_a
        |            JOIN s3 sb ON sb.doc_id = cand.doc_b
        |  WHERE least(len(sa.sh), len(sb.sh)) > 0),
        |drops AS (SELECT DISTINCT
        |    CASE WHEN sz_a < sz_b THEN doc_a
        |         WHEN sz_b < sz_a THEN doc_b
        |         ELSE doc_b END AS doc_id
        |  FROM cp WHERE containment_pm >= 8000)
        |SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
        |ORDER BY d.doc_id""".stripMargin)),

    // Containment screen at ingest (batch twin): odd-id docs "arrive"
    // and stream-static join the even-id corpus' winnowing-fingerprint
    // index — the candidate half of dedup_containment at the ingest
    // boundary (catches a corpus passage EMBEDDED in a larger arriving
    // page, where the resemblance band screen is structurally blind).
    // One row per (arrival, corpus doc, shared fp); the >= minShared
    // rollup + exact containment verify run downstream. The fp index
    // is df-capped at BUILD time, corpus-side only (the substring
    // anchor-index convention) — the oracle caps idx, not arrivals.
    Q("stream_containment_screen",
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.streaming.DocStreams.containmentScreen(
          docs.filter(col("doc_id") % 2 === 1),
          graft.streaming.DocStreams.winnowFpIndex(
            docs.filter(col("doc_id") % 2 === 0)))
          .orderBy("doc_id", "corpus_id", "fp")
      },
      Some(s"""WITH $tokCte, $winnowCte,
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
        |c AS (SELECT doc_id AS corpus_id, fp FROM e WHERE doc_id % 2 = 0),
        |rare AS (SELECT fp FROM c GROUP BY fp HAVING count(*) <= 128),
        |idx AS (SELECT c.corpus_id, c.fp FROM c JOIN rare USING (fp)),
        |arrv AS (SELECT doc_id, fp FROM e WHERE doc_id % 2 = 1)
        |SELECT a.doc_id, idx.corpus_id, a.fp
        |FROM arrv a JOIN idx USING (fp)
        |ORDER BY a.doc_id, idx.corpus_id, a.fp""".stripMargin)),

    // The removal half of Lee et al.: excise token spans duplicating an
    // exact >= 12-token run from a lower-id doc, rebuild survivors.
    // Same anchor/island machinery as dedup_substring; spans land on
    // the higher-id side, overlaps union via DISTINCT covered
    // positions.
    Q("dedup_substring_clean",
      (s, d) => Dedup.substringClean(Tables.documents(s, d)),
      Some(s"""WITH $tokCte,
        |g AS (SELECT doc_id, list_transform(range(1, len(w) - 6),
        |  i -> ${dWordHash60((0 until 8).map(k => s"w[i+$k]").mkString(" || ' ' || "))}) AS hs
        |  FROM tok),
        |e AS (SELECT doc_id, unnest(range(1, len(hs) + 1)) AS pos,
        |             unnest(hs) AS h FROM g),
        |rare AS (SELECT h FROM e GROUP BY h HAVING count(*) <= 128),
        |hits AS (SELECT e.doc_id, e.pos, e.h FROM e JOIN rare USING (h)),
        |al AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
        |         a.pos - b.pos AS diag
        |  FROM hits a JOIN hits b ON a.h = b.h AND a.doc_id < b.doc_id),
        |isl AS (
        |  SELECT doc_a, doc_b, diag, pos_a,
        |         pos_a - row_number() OVER (
        |           PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
        |  FROM al),
        |runs AS (
        |  SELECT doc_b, count(*) + 7 AS run_len,
        |         min(pos_a) - diag AS start_b
        |  FROM isl GROUP BY doc_a, doc_b, diag, grp),
        |cov AS (SELECT DISTINCT doc_id, pos FROM (
        |  SELECT doc_b AS doc_id,
        |         unnest(range(start_b, start_b + run_len)) AS pos
        |  FROM runs WHERE run_len >= 12)),
        |toksd AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos,
        |                 unnest(w) AS tokn FROM tok),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tokn
        |  FROM toksd t LEFT JOIN cov c
        |    ON t.doc_id = c.doc_id AND t.pos = c.pos
        |  WHERE c.doc_id IS NULL),
        |res AS (SELECT doc_id, count(*) AS n_kept,
        |               string_agg(tokn, ' ' ORDER BY pos) AS clean_text
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(r.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN res r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // 60-bit SimHash + top-15-bit block (Manku block 0) per doc.
    Q("dedup_simhash",
      // sort-first (see dedup_minhash_sig)
      (s, d) => Dedup.simhash(
        Tables.documents(s, d).select("doc_id", "text").orderBy("doc_id")),
      Some(s"""WITH hs AS (
        |  SELECT doc_id, list_transform(
        |    list_distinct(string_split(text, ' ')), x -> ${dWordHash60("x")}) AS hs
        |  FROM documents
        |), sv AS (SELECT doc_id, CAST($dSimhash60 AS BIGINT) AS simhash FROM hs)
        |SELECT doc_id, simhash, simhash >> 45 AS bucket
        |FROM sv ORDER BY doc_id""".stripMargin)),

    // SimHash near-dup pairs. The Spark side blocks via the Manku
    // 4×15-bit table (LOSSLESS for Hamming ≤ 3 by pigeonhole), so the
    // oracle can be an INDEPENDENT brute-force O(n²) Hamming join — a
    // genuinely different algorithm that must agree pair-for-pair.
    Q("dedup_simhash_pairs",
      (s, d) => Sinks.exportSorted(
        Dedup.simhashPairs(Tables.documents(s, d)), Seq("doc_a", "doc_b")),
      Some(s"""WITH hs AS (
        |  SELECT doc_id, list_transform(
        |    list_distinct(string_split(text, ' ')), x -> ${dWordHash60("x")}) AS hs
        |  FROM documents
        |), sv AS (SELECT doc_id, CAST($dSimhash60 AS BIGINT) AS simhash FROM hs)
        |SELECT * FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |  FROM sv a JOIN sv b ON a.doc_id < b.doc_id
        |) WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin)),

    // The CALIBRATED-radius arm of the SimHash miner (round 18 — the
    // third calibration leg; cosine tau and Jaccard are the other
    // two). On this corpus the sampled noise floor reaches the
    // identity neighborhood (true duplicates land among the random
    // partners: buckets 0-2 all occupied below the mode), so the rule
    // falls back to radius 0 — "only exact sketch matches are safe" —
    // and the output is the d = 0 pair list with the radius riding.
    // The oracle replays the selection and cuts the independent brute
    // Hamming join at least(radius, 3).
    Q("dedup_simhash_calibrated",
      (s, d) => Sinks.exportSorted(
        Dedup.simhashPairsCalibrated(Tables.documents(s, d)),
        Seq("doc_a", "doc_b")),
      Some(s"""WITH ${dHamCal("documents")}""".stripMargin)),

    // The same operator in its DISCRIMINATING regime, over the shared
    // template fixture: the fixture's sketch-distance gap (bucket 1
    // empty below the mode at bucket 4) calibrates radius 11, which
    // the Manku geometry caps to the lossless 3 — the gate pins
    // gap-found + geometry-cap in one output (radius 11 riding, pairs
    // cut at hamming <= 3).
    Q("dedup_simhash_cal_clustered",
      (s, d) => Sinks.exportSorted(Dedup.simhashPairsCalibrated(
        templateDocs(Tables.documents(s, d))), Seq("doc_a", "doc_b")),
      Some(s"""WITH $dTemplateDocs,
        |${dHamCal("tdocs")}""".stripMargin)),

    // Embedding near-dup pairs: corpus-sized random-hyperplane bucket
    // + Hamming-1 multi-probe blocking, cosine >= 0.3 verify.
    Q("dedup_embedding_cosine",
      (s, d) => Sinks.exportSorted(
        Similarity.nearDupPairs(Tables.embeddings(s, d), 0.3),
        Seq("vec_a", "vec_b")),
      Some(s"""WITH $dLshPrefix,
        |${dProbes("ap")}
        |SELECT * FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         round(${dDot("a.emb", "b.emb")} / (a.norm * b.norm), 6) AS sim
        |  FROM ap a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |) WHERE sim >= 0.3 ORDER BY vec_a, vec_b""".stripMargin)),

    // Embedding near-dup SURVIVORS (the composed-pipeline completion:
    // one corpus count threads through the LSH stage via corpusN, then
    // the pairwise drop-the-larger-id screen keeps one side of every
    // match).
    Q("emb_dedup_survivors",
      (s, d) => Similarity.nearDupSurvivors(Tables.embeddings(s, d), 0.3),
      Some(s"""WITH $dLshPrefix,
        |${dProbes("ap")},
        |drops AS (
        |  SELECT DISTINCT vec_b FROM (
        |    SELECT b.vec_id AS vec_b,
        |           round(${dDot("a.emb", "b.emb")} / (a.norm * b.norm), 6) AS sim
        |    FROM ap a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  ) WHERE sim >= 0.3)
        |SELECT em.vec_id, CAST(em.label AS BIGINT) AS label
        |FROM embeddings em
        |WHERE em.vec_id NOT IN (SELECT vec_b FROM drops)
        |ORDER BY em.vec_id""".stripMargin)),

    // Brute-force exact cosine top-10 for the query set vec_id < 5.
    Q("sim_bruteforce_topk",
      (s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d)),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(${dCos("q.emb", "c.emb")}, 6) AS sim
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 5
        |), r AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM p
        |)
        |SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),

    // LSH approximate top-3 for the query set vec_id < 50: corpus-
    // sized random-hyperplane buckets, Hamming-1 multi-probe.
    Q("sim_lsh_topk",
      (s, d) => Similarity.lshTopK(Tables.embeddings(s, d)),
      Some(s"""WITH $dLshPrefix,
        |${dProbes("qp", " AND q.vec_id < 50")},
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) AS sim
        |  FROM qp q JOIN bkt c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        |), r AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM p
        |)
        |SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin)),

    // Z-order layout codes: the Morton interleave (Delta/Iceberg
    // ZORDER BY) over two 16-bit key projections of orders — the
    // locality layout whose payoff is conjunctive-range file pruning
    // (ZorderSpec measures the per-file bounding boxes). Pure column
    // arithmetic, bit-for-bit mirrored by the unrolled oracle.
    Q("layout_zorder",
      (s, d) => Tables.orders(s, d).select(
          col("o_orderkey"),
          pmod(col("o_custkey"), lit(65536L)).as("a"),
          pmod(col("o_orderkey"), lit(65536L)).as("b"))
        .withColumn("zcode",
          graft.sources.Zorder.morton(col("a"), col("b")))
        .orderBy("o_orderkey"),
      Some {
        val z = (0 until 16).map(i =>
          s"(((a >> $i) & 1) << ${2 * i}) | (((b >> $i) & 1) << ${2 * i + 1})")
          .mkString(" | ")
        s"""WITH m AS (
           |  SELECT o_orderkey, o_custkey % 65536 AS a,
           |    o_orderkey % 65536 AS b
           |  FROM orders)
           |SELECT o_orderkey, CAST(a AS BIGINT) AS a,
           |  CAST(b AS BIGINT) AS b, CAST($z AS BIGINT) AS zcode
           |FROM m ORDER BY o_orderkey""".stripMargin
      }),

    // n-D Z-order layout codes (round 13): the Morton interleave over
    // THREE 10-bit key projections — the full Delta OPTIMIZE ZORDER
    // BY (c1..ck) arity; bit i of key j lands at position 3i+j, so
    // every key contributes equally at every granularity and files
    // cover 3-D boxes. o_totalprice enters through floor() in BOTH
    // engines (Spark's double->long cast truncates, DuckDB's rounds —
    // floor first makes them agree).
    Q("layout_zorder_nd",
      (s, d) => Tables.orders(s, d).select(
          col("o_orderkey"),
          pmod(col("o_custkey"), lit(1024L)).as("a"),
          pmod(col("o_orderkey"), lit(1024L)).as("b"),
          pmod(floor(col("o_totalprice")).cast("long"), lit(1024L)).as("c"))
        .withColumn("zcode", graft.sources.Zorder.mortonN(
          Seq(col("a"), col("b"), col("c")), bits = 10))
        .orderBy("o_orderkey"),
      Some {
        val z = (0 until 10).map(i =>
          s"(((a >> $i) & 1) << ${3 * i}) | " +
            s"(((b >> $i) & 1) << ${3 * i + 1}) | " +
            s"(((c >> $i) & 1) << ${3 * i + 2})")
          .mkString(" | ")
        s"""WITH m AS (
           |  SELECT o_orderkey, o_custkey % 1024 AS a,
           |    o_orderkey % 1024 AS b,
           |    CAST(floor(o_totalprice) AS BIGINT) % 1024 AS c
           |  FROM orders)
           |SELECT o_orderkey, CAST(a AS BIGINT) AS a,
           |  CAST(b AS BIGINT) AS b, CAST(c AS BIGINT) AS c,
           |  CAST($z AS BIGINT) AS zcode
           |FROM m ORDER BY o_orderkey""".stripMargin
      }),

    // n-D Hilbert layout codes (round 13 — Skilling's transform,
    // lifting the 2-D bound): three 8-bit keys through the
    // axes->transpose invert/exchange walk (one chained-CTE stage per
    // bit plane, i-steps nested inside — x0 mutates within a stage),
    // Gray encode, the unrolled t-fold, and the MSB-first transpose
    // interleave. A decoder that misorders the i-walk, drops the
    // Gray step, or interleaves LSB-first diverges on the first row.
    Q("layout_hilbert_nd",
      (s, d) => Tables.orders(s, d).select(
          col("o_orderkey"),
          pmod(col("o_custkey"), lit(256L)).as("a"),
          pmod(col("o_orderkey"), lit(256L)).as("b"),
          pmod(floor(col("o_totalprice")).cast("long"), lit(256L)).as("c"))
        .withColumn("hcode", graft.sources.Zorder.hilbertN(
          Seq(col("a"), col("b"), col("c")), bits = 8))
        .orderBy("o_orderkey"),
      Some {
        val bits = 8
        // one stage per bit plane q = 2^(bits-1) .. 2; inside a stage
        // the i = 0, 1, 2 steps nest (step i reads step i-1's x0)
        val stages = (0 until bits - 1).map { si =>
          val q = 1L << (bits - 1 - si)
          val p = q - 1
          def step(i: Int, inner: String): String =
            if (i == 0)
              s"""    SELECT o_orderkey, a, b, c,
                 |      CASE WHEN (x0 & $q) != 0 THEN xor(x0, $p)
                 |           ELSE x0 END AS x0, x1, x2
                 |    FROM ($inner)""".stripMargin
            else
              s"""    SELECT o_orderkey, a, b, c,
                 |      CASE WHEN (x$i & $q) != 0 THEN xor(x0, $p)
                 |           ELSE xor(x0, xor(x0, x$i) & $p) END AS x0,
                 |      ${if (i == 1) s"CASE WHEN (x1 & $q) != 0 THEN x1 ELSE xor(x1, xor(x0, x1) & $p) END AS x1, x2"
                    else s"x1, CASE WHEN (x2 & $q) != 0 THEN x2 ELSE xor(x2, xor(x0, x2) & $p) END AS x2"}
                 |    FROM ($inner)""".stripMargin
          s"""s${si + 1} AS (
             |${step(2, step(1, step(0, s"SELECT * FROM s$si")))}
             |)""".stripMargin
        }.mkString(",\n")
        // t-fold over q = 2^(bits-1) .. 2 on the Gray-encoded last axis
        val tFold = (0 until bits - 1)
          .map { si =>
            val q = 1L << (bits - 1 - si)
            s"CASE WHEN (g2 & $q) != 0 THEN ${q - 1} ELSE 0 END"
          }
          .reduce((x, y) => s"xor($x, $y)")
        // MSB-first interleave: bit j of axis i at position 3j+(2-i)
        val d = (for (j <- 0 until bits; i <- 0 until 3)
          yield s"(((f$i >> $j) & 1) << ${3 * j + (2 - i)})")
          .mkString(" | ")
        s"""WITH s0 AS (
           |  SELECT o_orderkey, o_custkey % 256 AS a,
           |    o_orderkey % 256 AS b,
           |    CAST(floor(o_totalprice) AS BIGINT) % 256 AS c,
           |    o_custkey % 256 AS x0, o_orderkey % 256 AS x1,
           |    CAST(floor(o_totalprice) AS BIGINT) % 256 AS x2
           |  FROM orders),
           |$stages,
           |gr AS (
           |  SELECT o_orderkey, a, b, c, x0, xor(x1, x0) AS g1,
           |    xor(x2, xor(x1, x0)) AS g2
           |  FROM s${bits - 1}),
           |tf AS (SELECT *, $tFold AS t FROM gr),
           |fin AS (
           |  SELECT o_orderkey, a, b, c, xor(x0, t) AS f0,
           |    xor(g1, t) AS f1, xor(g2, t) AS f2
           |  FROM tf)
           |SELECT o_orderkey, CAST(a AS BIGINT) AS a,
           |  CAST(b AS BIGINT) AS b, CAST(c AS BIGINT) AS c,
           |  CAST($d AS BIGINT) AS hcode
           |FROM fin ORDER BY o_orderkey""".stripMargin
      }),

    // Hilbert-curve layout codes over the same key projection — the
    // locality-STRICT layout option (continuous curve, no Z seams;
    // ZorderSpec measures its box pruning ≤ Z-order's on the same
    // query). Native codegen expression on the Spark side; the oracle
    // replays the identical per-level reflect/transpose state machine
    // as 16 chained CTE stages generated bit-for-bit.
    Q("layout_hilbert",
      (s, d) => Tables.orders(s, d).select(
          col("o_orderkey"),
          pmod(col("o_custkey"), lit(65536L)).as("a"),
          pmod(col("o_orderkey"), lit(65536L)).as("b"))
        .withColumn("hcode",
          graft.sources.Zorder.hilbert(col("a"), col("b")))
        .orderBy("o_orderkey"),
      Some {
        val bits = 16
        val n = 1L << bits
        // stage i consumes level s = 2^(bits-1-i): quadrant digit
        // d += s^2 * ((3*rx) xor ry), then the rotation — ry=0 swaps
        // x/y (reflecting both against n-1 first when rx=1)
        val stages = (0 until bits).map { i =>
          val sh = bits - 1 - i
          val s2 = (1L << sh) * (1L << sh)
          s"""h${i + 1} AS (
             |  SELECT o_orderkey, a, b, nx AS x, ny AS y, nd AS d FROM (
             |    SELECT o_orderkey, a, b,
             |      CASE WHEN ((y >> $sh) & 1) = 0 THEN
             |        CASE WHEN ((x >> $sh) & 1) = 1
             |          THEN ${n - 1} - y ELSE y END
             |      ELSE x END AS nx,
             |      CASE WHEN ((y >> $sh) & 1) = 0 THEN
             |        CASE WHEN ((x >> $sh) & 1) = 1
             |          THEN ${n - 1} - x ELSE x END
             |      ELSE y END AS ny,
             |      d + $s2 * xor(3 * ((x >> $sh) & 1), (y >> $sh) & 1)
             |        AS nd
             |    FROM h$i))""".stripMargin
        }.mkString(",\n")
        s"""WITH h0 AS (
           |  SELECT o_orderkey, o_custkey % 65536 AS a,
           |    o_orderkey % 65536 AS b, o_custkey % 65536 AS x,
           |    o_orderkey % 65536 AS y, 0 AS d
           |  FROM orders),
           |""".stripMargin + stages + s"""
           |SELECT o_orderkey, CAST(a AS BIGINT) AS a,
           |  CAST(b AS BIGINT) AS b, CAST(d AS BIGINT) AS hcode
           |FROM h$bits ORDER BY o_orderkey""".stripMargin
      }),

    // BM25 top-3 retrieval: every 100th doc plays the query set, the
    // rest the corpus. Integer-exact end to end: grid-rounded idf
    // micro-nats (the Perplexity ln discipline), the Okapi tf
    // normalization as ONE truncating integer division per (term,
    // doc) with k1=6/5, b=3/4, the pre-truncated length penalty dln
    // = (9000·len)//adl against the centi-token integer avgdl (the
    // adl already carries the ×100 scale, so 90·len/avgdl =
    // 9000·len/adl and the term reduces to exactly idf at tf=1,
    // len=avgdl: 220/(100+30+90)), tf
    // clamped at 2^25 (saturation + unconditional int64 headroom),
    // and the score a plain integer sum — both engines rank
    // identically. Probe terms in > 900‰ of documents are dropped
    // from the index (the Zipfian stop-word cap — idf≈0, unbounded
    // fan-out at scale); on this corpus no term crosses 90% so the
    // cap executes without changing the result.
    // Exact phrase search: top-10 docs by whitespace-token phrase
    // occurrence count (overlapping starts counted), tie-break
    // doc_id. Map-only HOF scan + TakeOrderedAndProject — see
    // Retrieval.phraseCounts for why this beats an index probe for
    // an ad-hoc phrase.
    Q("text_phrase_topk",
      // phrase chosen to occur at EVERY shipped SF (sf0.001 included —
      // RegistrySmokeSpec's rows>0 law runs there; the round-13 phrase
      // 'batch window spark' first appears at sf0.01)
      (s, d) => graft.operators.Retrieval.phraseTopK(
        Tables.documents(s, d), Seq("join", "part", "filter"), 10),
      Some(s"""WITH $tokCte, occ AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 3 THEN len(list_filter(range(1, len(w) - 1),
        |      i -> w[i] = 'join' AND w[i+1] = 'part' AND w[i+2] = 'filter'))
        |    ELSE 0 END AS n_occ
        |  FROM tok)
        |SELECT doc_id, CAST(n_occ AS BIGINT) AS n_occ FROM occ
        |WHERE n_occ > 0 ORDER BY n_occ DESC, doc_id LIMIT 10""".stripMargin)),

    Q("text_bm25_topk",
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.operators.Retrieval.bm25TopK(
          docs.filter(col("doc_id") % 100 === 0),
          docs.filter(col("doc_id") % 100 =!= 0))
      },
      Some(s"""WITH $dBm25Cte,
        |sc AS (
        |  SELECT query_id, doc_id,
        |    CAST(sum(c) AS BIGINT) AS score
        |  FROM hits GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, doc_id) AS rk FROM sc)
        |SELECT query_id, doc_id, score, CAST(rk AS BIGINT) AS rank
        |FROM r WHERE rk <= 3 ORDER BY query_id, rank""".stripMargin)),

    // Batch twin of the STREAMING BM25 screen (graft.streaming
    // .DocStreams.bm25Screen): arriving queries probe the static
    // df-capped postings index and emit one scored row per (query,
    // doc, shared term) collision — stateless, so the identical
    // function runs on a readStream frame (DocStreamsSpec proves
    // stream == batch); the per-pair Σc rollup + top-k is the tiny
    // downstream aggregation, exactly the contamScreen
    // screen-then-verify split. Shares bm25Index/queryTerms/termScore
    // with text_bm25_topk, so screen and ranker cannot drift.
    Q("stream_bm25_screen",
      // the screen's index is a static deployment artifact by design —
      // probe the STORED build (storedBm25Index), not a per-call one
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.streaming.DocStreams.bm25Screen(
          docs.filter(col("doc_id") % 100 === 0), storedBm25Index(s, d))
          .orderBy("query_id", "doc_id", "h")
      },
      Some(s"""WITH $dBm25Cte
        |SELECT query_id, doc_id, h, CAST(c AS BIGINT) AS c
        |FROM hits ORDER BY query_id, doc_id, h""".stripMargin)),

    // Cluster-balanced diversity sample: the trained IVF cells capped
    // at 40 members each by md5 rank — the topic-balancing selection
    // (SemDeDup-adjacent) that stops one dominant cluster flooding a
    // training mix. Composes the SAME dKmCellsCte the index queries
    // use, so cell assignment cannot drift between them.
    Q("sim_cluster_sample",
      (s, d) => Similarity.clusterBalancedSample(
        Tables.embeddings(s, d), perCell = 40),
      Some(s"""WITH ${dKmCellsCte("8")},
        |s AS (
        |  SELECT vec_id, CAST(cell AS BIGINT) AS cell,
        |    CAST(row_number() OVER (PARTITION BY cell
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT)
        |      AS rk
        |  FROM cells)
        |SELECT vec_id, cell, rk FROM s
        |WHERE rk <= 40 ORDER BY vec_id""".stripMargin)),

    // IVF-routed approximate top-3 under TRAINED centroids: 2 Lloyd
    // iterations over integer-scaled vectors (exact, order-independent
    // sums; cosine is scale-invariant so no mean division), nprobe=2.
    Q("sim_ivf_topk",
      (s, d) => Similarity.ivfTopK(Tables.embeddings(s, d)),
      Some(s"""WITH ${dKmCellsCte("8")},
        |qcells AS (
        |  SELECT v.vec_id, v.emb, v.norm, a.cent_id AS cell
        |  FROM a3 a JOIN v USING (vec_id) WHERE a.rk <= 2 AND v.vec_id < 50
        |),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) AS sim
        |  FROM qcells q JOIN cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id
        |), r AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM p
        |)
        |SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin)),

    // TWO-LEVEL IVF top-3 — the hierarchical router (the coarse
    // quantizer FAISS puts in front of a flat index past ~10^6
    // cells): 4 coarse cells route each query to its nprobe1=2
    // nearest, then the 16 fine cells (4 per coarse cell, trained in
    // ONE distributed Lloyd loop where each vector competes only
    // within its own coarse cell) narrow to nprobe2=4 inverted
    // lists. Assignment cost per vector is (nL1+nL2)·d instead of
    // the flat (nL1·nL2)·d. The oracle replays BOTH Lloyd levels
    // term-for-term (dKmCellsCte + dKm2Cte); SimilaritySpec pins the
    // nL1=1 degeneration to flat ivfTopK exactly.
    Q("sim_ivf2_topk",
      (s, d) => Similarity.ivf2TopK(Tables.embeddings(s, d)),
      Some(dIvf2Oracle)),

    // The DEPLOYMENT twin of sim_ivf2_topk: both router levels load
    // from ModelStore (ensureIvf2 — saveIvf's flat integer format for
    // each level) and the corpus probes the STORED two-level
    // inverted-list frame (ensureFrame over ivf2Cells), so a query
    // batch against a static corpus retrains and re-assigns NOTHING.
    // Same composed oracle by the round-trip law.
    Q("sim_ivf2_topk_loaded",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ModelStore.dir("ivf2", d)
        val (l1, l2) = graft.sources.ModelStore.ensureIvf2(e, dir)
        val idx = graft.sources.ModelStore.ensureFrame(s,
          s"$dir/cells", Similarity.ivf2Cells(e, l1, l2, 4))
        Similarity.ivf2TopKFromIndex(idx, e, l1, l2, 4)
      },
      Some(dIvf2Oracle)),

    // Incremental index maintenance (round 15): the %20 arrival slice
    // UPSERTS into the stored two-level index — both router levels
    // and the inverted lists load from ModelStore (trained/assigned
    // on the %20<>0 corpus slice ONLY; the corpus-slice fingerprint
    // records beside the list frame), arrivals assign under the
    // LOADED router at O(|batch|) cost, and the merged lists serve
    // queries over the full corpus. Nothing retrains and the stored
    // corpus is never re-assigned — the deployment loop between
    // serve-loaded and refresh-on-drift. The oracle replays both
    // Lloyd levels ON THE SLICE (dKmCellsCte's src parameter), the
    // arrivals' two-stage assignment under those centroids, and the
    // merged-list probe.
    Q("sim_ivf2_upsert",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val corp = e.filter(col("vec_id") % 20 =!= 0)
        val arr = e.filter(col("vec_id") % 20 === 0)
        val dir = ModelStore.dir("ivf2u", d)
        val (l1, l2) = graft.sources.ModelStore.ensureIvf2(corp, dir)
        val idx = graft.sources.ModelStore.ensureFrame(s, s"$dir/cells",
          Similarity.ivf2Cells(corp, l1, l2, 4), Some(corp))
        Similarity.ivf2TopKFromIndex(
          Similarity.ivf2Upsert(idx, arr, l1, l2, 4), e, l1, l2, 4)
      },
      Some(s"""WITH ${dKmCellsCte("4",
          "(SELECT * FROM embeddings WHERE vec_id % 20 <> 0)")},
        |${dKm2Cte(4)},
        |cor2 AS (SELECT vec_id, cent_id AS c2 FROM b3 WHERE rk = 1),
        |fv0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |fv AS (SELECT vec_id, emb, sqrt(${dDot("emb", "emb")}) AS norm
        |       FROM fv0),
        |arr AS (SELECT * FROM fv WHERE vec_id % 20 = 0),
        |al10 AS (
        |  SELECT a.vec_id, c.cent_id,
        |    round(${dDot("a.emb", "c.cvd")} / (a.norm * c.cnorm), 6)
        |      AS cent_sim
        |  FROM arr a CROSS JOIN cw2n c),
        |al1 AS (SELECT vec_id, cent_id, row_number() OVER
        |  (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rk
        |  FROM al10),
        |af0 AS (
        |  SELECT a.vec_id, g.cent_id,
        |    round(${dDot("av.emb", "g.cvd")} / (av.norm * g.cnorm), 6)
        |      AS cent_sim
        |  FROM al1 a JOIN arr av USING (vec_id)
        |  JOIN gw2n g ON g.cent_id // 4 = a.cent_id
        |  WHERE a.rk = 1),
        |af AS (SELECT vec_id, cent_id, row_number() OVER
        |  (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rk
        |  FROM af0),
        |merged AS (SELECT * FROM cor2
        |  UNION ALL SELECT vec_id, cent_id AS c2 FROM af WHERE rk = 1),
        |qp10 AS (
        |  SELECT q.vec_id, c.cent_id,
        |    round(${dDot("q.emb", "c.cvd")} / (q.norm * c.cnorm), 6)
        |      AS cent_sim
        |  FROM fv q CROSS JOIN cw2n c WHERE q.vec_id < 50),
        |qp1r AS (SELECT vec_id, cent_id, row_number() OVER
        |  (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rk
        |  FROM qp10),
        |qp1 AS (SELECT vec_id AS query_id, cent_id AS cell
        |        FROM qp1r WHERE rk <= 2),
        |qf0 AS (
        |  SELECT q.query_id, g.cent_id,
        |    round(${dDot("qv.emb", "g.cvd")} / (qv.norm * g.cnorm), 6)
        |      AS cent_sim
        |  FROM qp1 q JOIN fv qv ON qv.vec_id = q.query_id
        |  JOIN gw2n g ON g.cent_id // 4 = q.cell),
        |qf AS (SELECT query_id, cent_id AS c2, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cent_sim DESC, cent_id) AS rk
        |  FROM qf0),
        |p AS (
        |  SELECT q.query_id, x.vec_id AS neighbor_id,
        |    round(${dDot("qv.emb", "xv.emb")} / (qv.norm * xv.norm), 6)
        |      AS sim
        |  FROM qf q JOIN merged x USING (c2)
        |  JOIN fv qv ON qv.vec_id = q.query_id
        |  JOIN fv xv ON xv.vec_id = x.vec_id
        |  WHERE q.rk <= 4 AND q.query_id <> x.vec_id),
        |r AS (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM p)
        |SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin)),

    // Recall gate for the hierarchical router (the eval_ivfpq_metrics
    // precedent): per-query hits/recall/MRR/nDCG of the two-level
    // probe's top-10 against the exact brute-force top-10 — integer
    // per-myriad metrics, hash-gated, so a routing regression (a probe
    // set that silently stops covering the true neighbors) breaks the
    // gate rather than degrading quietly. The approx chain composes
    // the SAME two-level training CTEs as sim_ivf2_topk.
    Q("eval_ivf2_metrics",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        graft.operators.Evaluation.retrievalMetrics(
          Similarity.ivf2TopK(e, 50, 10),
          Similarity.bruteForceTopK(e, 50, 10)
            .select("query_id", "neighbor_id"),
          k = 10)
      },
      Some(s"""WITH ${dKmCellsCte("4")},
        |${dKm2Cte(4)},
        |cor2 AS (SELECT vec_id, cent_id AS c2 FROM b3 WHERE rk = 1),
        |qp1 AS (
        |  SELECT a.vec_id AS query_id, a.cent_id AS cell
        |  FROM a3 a WHERE a.rk <= 2 AND a.vec_id < 50),
        |qf0 AS (
        |  SELECT q.query_id, c.cent_id,
        |    round(${dDot("qv.emb", "c.cvd")} / (qv.norm * c.cnorm), 6)
        |      AS cent_sim
        |  FROM qp1 q JOIN v qv ON qv.vec_id = q.query_id
        |  JOIN gw2n c ON c.cent_id // 4 = q.cell),
        |qf AS (
        |  SELECT query_id, cent_id AS c2, row_number() OVER
        |    (PARTITION BY query_id ORDER BY cent_sim DESC, cent_id) AS rk
        |  FROM qf0),
        |ap AS (
        |  SELECT q.query_id, x.vec_id AS neighbor_id,
        |    round(${dDot("qv.emb", "xv.emb")} / (qv.norm * xv.norm), 6)
        |      AS sim
        |  FROM qf q JOIN cor2 x USING (c2)
        |  JOIN v qv ON qv.vec_id = q.query_id
        |  JOIN v xv ON xv.vec_id = x.vec_id
        |  WHERE q.rk <= 4 AND q.query_id <> x.vec_id),
        |lr AS (
        |  SELECT query_id, neighbor_id, row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM ap),
        |${dMetricsTail("lr")}""".stripMargin)),

    // Product-quantization corpus encoding: per-subspace integer-L2
    // k-means codebook (4 subspaces x 8 centroids, trained like the
    // IVF cells but under true L2 with rounded-mean updates), each
    // vector compressed to 4 code bytes + an exact integer
    // reconstruction-error certificate. The 100 TB story: the float
    // corpus is read ONCE at encode time; everything downstream
    // (sim_pq_topk) scans 4 bytes/vector.
    Q("sim_pq_codes",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.pqEncode(e, Similarity.pqTrain(e))
      },
      Some(s"""WITH $dPqCte
        |SELECT vec_id,
        |  array_to_string(list(CAST(cent_id AS VARCHAR) ORDER BY sub), ' ')
        |    AS codes,
        |  CAST(sum(dist) AS BIGINT) AS recon
        |FROM pqa3 WHERE rk = 1
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // PQ asymmetric-distance top-3: queries precompute their 4x8
    // distance LUT; the corpus is scanned in compressed domain (4
    // lookups + adds per pair), top-k per query via the bounded-heap
    // TopKAgg (map-side combine — the shuffle carries <= k rows per
    // query per partition, not the n x nq score stream).
    Q("sim_pq_topk",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.pqTopK(e, Similarity.pqTrain(e))
      },
      Some(s"""WITH $dPqCte,
        |cds AS (SELECT vec_id, sub, cent_id FROM pqa3 WHERE rk = 1),
        |adc AS (
        |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |         CAST(sum(q.dist) AS BIGINT) AS adc
        |  FROM pqa30 q JOIN cds x
        |    ON x.sub = q.sub AND x.cent_id = q.cent_id
        |  WHERE q.vec_id < 50 AND q.vec_id <> x.vec_id
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rnk
        |  FROM adc
        |)
        |SELECT query_id, neighbor_id, adc, CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin)),

    // IVF-PQ top-3 — the composed billion-scale ANN shape (FAISS
    // IVFx,PQy): corpus rows live in their IVF cell's inverted list
    // carrying only the 4-byte PQ code; queries route to nprobe=2
    // cells via the cosine IVF router and ADC-score those lists in
    // compressed domain. The oracle composes the two shared training
    // prefixes (dKmCellsCte + dPqCte — CTE namespaces are disjoint)
    // so router, codebook, and scoring cannot drift from the
    // standalone sim_ivf_topk / sim_pq_topk oracles.
    // Embedding-space health: the random-pair cosine distribution
    // (collapse/anisotropy diagnostic — healthy unit embeddings pair
    // near cos 0, sd ≈ 1/√d; a collapsed space piles mass high).
    // One deterministic hash partner per vector (wordHash60 mod n) so
    // the diagnostic is one equi-join, never pairwise; 10 fixed
    // buckets over [−1, 1], integer-exact counts/means/shares (the
    // mean divides the SHIFTED nonnegative sum — floor == truncate in
    // both engines — then unshifts).
    Q("emb_health",
      (s, d) => Similarity.embHealth(Tables.embeddings(s, d)),
      Some(s"""WITH e0 AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |e AS (SELECT vec_id, emb, sqrt(${dDot("emb", "emb")}) AS norm
        |      FROM e0),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
        |pr AS (
        |  SELECT a.vec_id AS aid,
        |    ('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 15))
        |      ::BIGINT % nn.n AS p
        |  FROM e a, nn),
        |sims AS (
        |  SELECT CAST(round(round(${dDot("a.emb", "b.emb")}
        |      / (a.norm * b.norm), 6) * 1000000) AS BIGINT) AS cmicro
        |  FROM pr JOIN e a ON a.vec_id = pr.aid
        |  JOIN e b ON b.vec_id = pr.p
        |  WHERE pr.p <> pr.aid),
        |pb AS (
        |  SELECT CAST(least(9, (cmicro + 1000000) // 200000) AS BIGINT)
        |      AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    (CAST(sum(cmicro + 1000000) AS BIGINT)
        |      // CAST(count(*) AS BIGINT)) - 1000000 AS mean_cmicro
        |  FROM sims GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS n_total FROM pb)
        |SELECT bucket, n_pairs, mean_cmicro,
        |  (n_pairs * 10000) // n_total AS share_pm
        |FROM pb, tt ORDER BY bucket""".stripMargin)),

    Q("sim_ivfpq_topk",
      (s, d) => Similarity.ivfPqTopK(Tables.embeddings(s, d)),
      Some(s"""WITH ${dKmCellsCte("8")},
        |$dPqCte,
        |cds AS (SELECT vec_id, sub, cent_id FROM pqa3 WHERE rk = 1),
        |cor AS (SELECT c.vec_id, c.cell, x.sub, x.cent_id
        |        FROM cells c JOIN cds x USING (vec_id)),
        |qp AS (SELECT a.vec_id AS query_id, a.cent_id AS cell
        |       FROM a3 a WHERE a.rk <= 2 AND a.vec_id < 50),
        |qd AS (SELECT vec_id AS query_id, sub, cent_id, dist
        |       FROM pqa30 WHERE vec_id < 50),
        |adc AS (
        |  SELECT qp.query_id, cor.vec_id AS neighbor_id,
        |         CAST(sum(qd.dist) AS BIGINT) AS adc
        |  FROM qp JOIN cor ON cor.cell = qp.cell
        |    AND cor.vec_id <> qp.query_id
        |  JOIN qd ON qd.query_id = qp.query_id AND qd.sub = cor.sub
        |    AND qd.cent_id = cor.cent_id
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rnk
        |  FROM adc
        |)
        |SELECT query_id, neighbor_id, adc, CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin)),

    // Two-stage IVF-PQ serving (the FAISS refine pattern): the ADC
    // shortlist at kCand=9 re-scores EXACTLY against the float rows
    // of only those candidates — compressed scan proposes, id-pruned
    // float fetch disposes; the returned order is exact cosine. The
    // oracle composes sim_ivfpq_topk's training/ADC chain verbatim,
    // then joins the kCand shortlist back to `e` for the rerank.
    Q("sim_ivfpq_refined",
      (s, d) => Similarity.ivfPqRefinedTopK(Tables.embeddings(s, d)),
      Some(s"""WITH ${dKmCellsCte("8")},
        |$dPqCte,
        |cds AS (SELECT vec_id, sub, cent_id FROM pqa3 WHERE rk = 1),
        |cor AS (SELECT c.vec_id, c.cell, x.sub, x.cent_id
        |        FROM cells c JOIN cds x USING (vec_id)),
        |qp AS (SELECT a.vec_id AS query_id, a.cent_id AS cell
        |       FROM a3 a WHERE a.rk <= 2 AND a.vec_id < 50),
        |qd AS (SELECT vec_id AS query_id, sub, cent_id, dist
        |       FROM pqa30 WHERE vec_id < 50),
        |adc AS (
        |  SELECT qp.query_id, cor.vec_id AS neighbor_id,
        |         CAST(sum(qd.dist) AS BIGINT) AS adc
        |  FROM qp JOIN cor ON cor.cell = qp.cell
        |    AND cor.vec_id <> qp.query_id
        |  JOIN qd ON qd.query_id = qp.query_id AND qd.sub = cor.sub
        |    AND qd.cent_id = cor.cent_id
        |  GROUP BY 1, 2
        |), rfsl AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rnk
        |    FROM adc) WHERE rnk <= 9
        |), rfrr AS (
        |  SELECT rfsl.query_id, rfsl.neighbor_id,
        |         round(${dCos("q.emb", "c.emb")}, 6) AS sim
        |  FROM rfsl JOIN e q ON q.vec_id = rfsl.query_id
        |          JOIN e c ON c.vec_id = rfsl.neighbor_id
        |), r AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM rfrr
        |)
        |SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin)),

    // The refine stage's recall gate: two-stage IVF-PQ top-10 (ADC
    // shortlist at kCand=30, exact rerank) vs brute-force truth
    // through the shared integer metric tail — the measured recovery
    // over eval_ivfpq_metrics' raw-ADC numbers IS the refine stage's
    // value, hash-gated rather than argued.
    Q("eval_ivfpq_refined_metrics",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        graft.operators.Evaluation.retrievalMetrics(
          Similarity.ivfPqRefinedTopK(e, 50, 10, kCand = 30),
          Similarity.bruteForceTopK(e, 50, 10)
            .select("query_id", "neighbor_id"),
          k = 10)
      },
      Some(s"""WITH ${dKmCellsCte("8")},
        |$dPqCte,
        |cds AS (SELECT vec_id, sub, cent_id FROM pqa3 WHERE rk = 1),
        |cor AS (SELECT c.vec_id, c.cell, x.sub, x.cent_id
        |        FROM cells c JOIN cds x USING (vec_id)),
        |qp AS (SELECT a.vec_id AS query_id, a.cent_id AS cell
        |       FROM a3 a WHERE a.rk <= 2 AND a.vec_id < 50),
        |qd AS (SELECT vec_id AS query_id, sub, cent_id, dist
        |       FROM pqa30 WHERE vec_id < 50),
        |adc AS (
        |  SELECT qp.query_id, cor.vec_id AS neighbor_id,
        |         CAST(sum(qd.dist) AS BIGINT) AS adc
        |  FROM qp JOIN cor ON cor.cell = qp.cell
        |    AND cor.vec_id <> qp.query_id
        |  JOIN qd ON qd.query_id = qp.query_id AND qd.sub = cor.sub
        |    AND qd.cent_id = cor.cent_id
        |  GROUP BY 1, 2
        |), rfsl AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rnk
        |    FROM adc) WHERE rnk <= 30
        |), rfrr AS (
        |  SELECT rfsl.query_id, rfsl.neighbor_id,
        |         round(${dCos("q.emb", "c.emb")}, 6) AS sim
        |  FROM rfsl JOIN e q ON q.vec_id = rfsl.query_id
        |          JOIN e c ON c.vec_id = rfsl.neighbor_id
        |), rfr AS (
        |  SELECT query_id, neighbor_id, row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM rfrr
        |),
        |${dMetricsTail("rfr")}""".stripMargin)),

    // The OPERATING-POINT sweep the refine gate was missing (round-15
    // verdict ask #4): one trained geometry (nCells=8 router + PQ
    // codebook), six serving configs over the nprobe/kCand knobs,
    // each row hash-gated: recall@10 vs brute-force truth AND the
    // compressed-scan cost paid (n_cand = probed candidate pairs).
    // Measured shape on this corpus: recall climbs 21.6->30.6% with
    // nprobe at kCand=30 (routing loss retires by nprobe=4), then the
    // SHORTLIST binds — at nprobe=8 (zero routing loss) kCand 30/120/
    // 240 gives 28.2/61.8/>=80% — so the servable operating point is
    // (nprobe=8, kCand=240). The synthetic embeddings are uniform-
    // random, PQ's adversarial case (16-centroid subspaces can't
    // separate isotropic noise; real embedding manifolds compress far
    // better, and the SQ8 family's 98.6% on the SAME corpus shows the
    // scan-side ceiling isn't the issue). Single-run bench tier
    // (trains + brute-forces per run by design).
    Q("eval_ivfpq_refined_sweep",
      (s, d) => Similarity.ivfPqRefinedSweep(Tables.embeddings(s, d)),
      Some(dIvfPqSweepOracle)),

    // IVF-PQ artifact persistence in the loop: train the router
    // centroids AND the PQ codebook, SAVE both (ModelStore.saveIvf +
    // savePq — the complete deployment artifact of the composed ANN
    // index), LOAD them back, and score ivfPqTopKWith from the LOADED
    // pair. Output is identical to sim_ivfpq_topk by the round-trip
    // law (ModelStoreSpec), so the same composed oracle verifies that
    // shipping both models through disk changes nothing — a static
    // 100 TB index is built once and probed everywhere.
    Q("model_store_pq",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ModelStore.dir("ivfpq", d)
        // concurrent trainers (guide §2.6) — same artifacts, overlapped
        val (pqM, ivfM) = Similarity.trainPqAndIvf(e)
        graft.sources.ModelStore.savePq(pqM, s"$dir/pq", s)
        graft.sources.ModelStore.saveIvf(ivfM, s"$dir/ivf", s)
        Similarity.ivfPqTopKWith(e,
          graft.sources.ModelStore.loadPq(s, s"$dir/pq"),
          graft.sources.ModelStore.loadIvf(s, s"$dir/ivf"))
      },
      Some(s"""WITH ${dKmCellsCte("8")},
        |$dPqCte,
        |cds AS (SELECT vec_id, sub, cent_id FROM pqa3 WHERE rk = 1),
        |cor AS (SELECT c.vec_id, c.cell, x.sub, x.cent_id
        |        FROM cells c JOIN cds x USING (vec_id)),
        |qp AS (SELECT a.vec_id AS query_id, a.cent_id AS cell
        |       FROM a3 a WHERE a.rk <= 2 AND a.vec_id < 50),
        |qd AS (SELECT vec_id AS query_id, sub, cent_id, dist
        |       FROM pqa30 WHERE vec_id < 50),
        |adc AS (
        |  SELECT qp.query_id, cor.vec_id AS neighbor_id,
        |         CAST(sum(qd.dist) AS BIGINT) AS adc
        |  FROM qp JOIN cor ON cor.cell = qp.cell
        |    AND cor.vec_id <> qp.query_id
        |  JOIN qd ON qd.query_id = qp.query_id AND qd.sub = cor.sub
        |    AND qd.cent_id = cor.cent_id
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rnk
        |  FROM adc
        |)
        |SELECT query_id, neighbor_id, adc, CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin)),

    // HYBRID retrieval: reciprocal-rank fusion (Cormack et al., SIGIR
    // 2009) of two metric-incompatible ANN backends — the cosine IVF
    // router's top-10 and the compressed-domain flat-ADC (integer L2)
    // top-10 — fused per (query, neighbor) as Σ 10^6 // (60 + rank),
    // top-3 by (rrf DESC, neighbor ASC). Rank-based, so the lists'
    // scores never compare across backends; the truncating division
    // keeps fusion engine-exact. The oracle composes the two shared
    // training prefixes (dKmCellsCte + dPqCte) with fresh tail names,
    // so both backend lists are byte-identical to the standalone
    // sim_ivf_topk / sim_pq_topk chains.
    Q("sim_rrf_topk",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        // concurrent trainers (guide §2.6): the two backends' Lloyd
        // loops are independent job chains — overlapping them fills
        // the executor slots either alone leaves idle; models (and
        // hence both ranked lists) are the sequential form's exactly
        val (pqM, ivfM) = Similarity.trainPqAndIvf(e)
        graft.operators.Retrieval.rrfFuse(Seq(
          Similarity.ivfTopKWith(e, ivfM, 50, 10, nprobe = 2),
          Similarity.pqTopK(e, pqM, 50, 10)), k = 3)
      },
      Some(dRrfOracle)),

    // The DEPLOYMENT twin of sim_rrf_topk: both backends score from
    // the ModelStore-loaded artifact pair (ensureIvfPq — trained and
    // saved on the first invocation against this data directory,
    // loaded thereafter), so repeated fusions against a static corpus
    // pay Lloyd/PQ training ONCE instead of per query. Results are
    // identical by the round-trip law (integer models survive parquet
    // exactly — ModelStoreSpec), so the SAME composed oracle verifies
    // the loaded path end-to-end; PlanAuditSpec pins the training
    // subtrees absent (fewer exchanges than the in-plan twin).
    Q("sim_rrf_topk_loaded",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ModelStore.dir("ivfpq_rrf", d)
        val (pq, ivf) = graft.sources.ModelStore.ensureIvfPq(e, dir)
        // the corpus-side artifacts too: the stored inverted-list
        // frame and the stored code table — per query batch nothing
        // corpus-sized is retrained, re-assigned, or re-encoded
        val cellsIdx = graft.sources.ModelStore.ensureFrame(s,
          s"$dir/cells", Similarity.ivfCellsWith(e, ivf))
        val codesIdx = graft.sources.ModelStore.ensureFrame(s,
          s"$dir/codes", Similarity.pqCodes(e, pq))
        graft.operators.Retrieval.rrfFuse(Seq(
          Similarity.ivfTopKFromIndex(cellsIdx, e, ivf, 50, 10, nprobe = 2),
          Similarity.pqTopKFromCodes(codesIdx, e, pq, 50, 10)), k = 3)
      },
      Some(dRrfOracle)),


    // MMR diversified rerank (Carbonell & Goldstein 1998): top-8
    // cosine candidates per query (vec_id < 20 vs the rest), greedily
    // re-selected to 4 so each pick maximizes rel − max-redundancy
    // against the picked set, both in micro-unit cosine. The Spark
    // side runs the native MmrSelect walk over each query's bounded
    // candidate array; the oracle replays the greedy as 4 unrolled
    // argmax stages (pick t joins picks 1..t−1 for the greatest()
    // redundancy term) — a walk that misorders ties, drops the first
    // pick's rel objective, or mis-scales the cosine diverges.
    Q("sim_mmr_rerank",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.mmrRerank(e.filter(col("vec_id") < 20),
          e.filter(col("vec_id") >= 20))
      },
      Some {
        def sim(c: String, p: String) =
          s"CAST(round(1e6 * ${dDot(s"$c.vec", s"$p.vec")} / " +
            s"($c.norm * $p.norm)) AS BIGINT)"
        val stages = (2 to 4).map { t =>
          val prev = 1 until t
          val red =
            if (t == 2) sim("c", "p1")
            else s"greatest(${prev.map(j => sim("c", s"p$j")).mkString(", ")})"
          s"""m$t AS (
             |  SELECT c.query_id, c.id, c.vec, c.norm,
             |    c.rel - $red AS obj
             |  FROM cand c ${prev.map(j =>
                 s"JOIN p$j ON p$j.query_id = c.query_id").mkString(" ")}
             |  WHERE ${prev.map(j => s"c.id <> p$j.id").mkString(" AND ")}
             |), p$t AS (
             |  SELECT query_id, id, vec, norm, obj AS mmr FROM (
             |    SELECT *, row_number() OVER
             |      (PARTITION BY query_id ORDER BY obj DESC, id) AS rn
             |    FROM m$t) WHERE rn = 1
             |)""".stripMargin
        }.mkString(",\n")
        s"""WITH me AS (SELECT vec_id, embedding::DOUBLE[] AS vec
           |  FROM embeddings),
           |men AS (SELECT vec_id, vec,
           |  sqrt(${dDot("vec", "vec")}) AS norm FROM me),
           |mc0 AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS id,
           |    CAST(round(round(${dDot("q.vec", "c.vec")} /
           |      (q.norm * c.norm), 6) * 1e6) AS BIGINT) AS rel,
           |    c.vec AS vec, c.norm AS norm
           |  FROM men q JOIN men c ON q.vec_id < 20 AND c.vec_id >= 20),
           |cand AS MATERIALIZED (
           |  SELECT query_id, id, rel, vec, norm FROM (
           |    SELECT *, row_number() OVER
           |      (PARTITION BY query_id ORDER BY rel DESC, id) AS rn
           |    FROM mc0) WHERE rn <= 8),
           |p1 AS (
           |  SELECT query_id, id, vec, norm, rel AS mmr FROM (
           |    SELECT *, row_number() OVER
           |      (PARTITION BY query_id ORDER BY rel DESC, id) AS rn
           |    FROM cand) WHERE rn = 1
           |),
           |$stages
           |SELECT query_id, id AS neighbor_id, mmr,
           |  CAST(rank AS BIGINT) AS rank
           |FROM (
           |${(1 to 4).map(t =>
               s"  SELECT query_id, id, mmr, $t AS rank FROM p$t")
               .mkString("\n  UNION ALL\n")}
           |) ORDER BY query_id, rank""".stripMargin
      }),

    // HARD-NEGATIVE mining (the DPR/contrastive training recipe):
    // per query doc, the top BM25 candidates that do NOT share any
    // MinHash band with the query — lexically hard, but never an
    // actual near-duplicate (a false negative would poison the
    // contrastive loss). Composes the SHARED dBm25Cte chain with the
    // SHARED minhash banding chain (dBm25Cte's tok satisfies shCte's
    // contract), over-fetches 2k, screens, re-ranks — so candidates,
    // signatures, and the screen are all byte-identical to their
    // standalone oracles.
    Q("text_hard_negatives",
      // probes the STORED index + signature artifacts (built once per
      // data dir — storedBm25Index/storedCorpusSigs) instead of
      // re-building both corpus-sized frames per call; rows identical
      // to the in-plan build, same oracle
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.operators.Retrieval.hardNegatives(
          docs.filter(col("doc_id") % 100 === 0),
          docs.filter(col("doc_id") % 100 =!= 0), k = 5,
          index = Some(storedBm25Index(s, d)),
          corpusSigs = Some(storedCorpusSigs(s, d)))
      },
      Some(s"""WITH $dBm25Cte, $shCte, $hsCte,
        |sig AS (SELECT doc_id, ${(0 until 4).map(b =>
          s"${dBand("hs", b)} AS band$b").mkString(", ")} FROM hsc),
        |sc AS (
        |  SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score
        |  FROM hits GROUP BY 1, 2),
        |cr AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        |  FROM sc),
        |neg AS (
        |  SELECT c.query_id, c.doc_id AS neighbor_id, c.score
        |  FROM cr c JOIN sig q ON q.doc_id = c.query_id
        |            JOIN sig n ON n.doc_id = c.doc_id
        |  WHERE c.rnk <= 10 AND NOT (q.band0 = n.band0
        |    OR q.band1 = n.band1 OR q.band2 = n.band2
        |    OR q.band3 = n.band3)),
        |nr AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
        |    AS rnk
        |  FROM neg)
        |SELECT query_id, neighbor_id, score, CAST(rnk AS BIGINT) AS rank
        |FROM nr WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // LEXICAL + DENSE hybrid retrieval — the flagship hybrid-search
    // shape (BM25 over the text, exact cosine over the aligned
    // embedding table — doc_id ≡ vec_id in the testdata, the usual
    // one-row-per-document dual index), fused by RRF. The same %100
    // query/corpus split on both sides; the oracle composes the
    // SHARED dBm25Cte chain (byte-identical to text_bm25_topk's) with
    // a fresh-named dense chain and the same integer RRF arithmetic,
    // so neither backend nor the fusion can drift.
    Q("text_hybrid_topk",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val embs = Tables.embeddings(s, d)
        val lex = graft.operators.Retrieval.bm25TopK(
          docs.filter(col("doc_id") % 100 === 0),
          docs.filter(col("doc_id") % 100 =!= 0), k = 10,
          index = Some(storedBm25Index(s, d)))
          .withColumnRenamed("doc_id", "neighbor_id")
        val den = Similarity.cosineTopKBetween(
          embs.filter(col("vec_id") % 100 === 0),
          embs.filter(col("vec_id") % 100 =!= 0), k = 10)
        graft.operators.Retrieval.rrfFuse(Seq(lex, den), k = 5)
      },
      Some(s"""WITH $dBm25Cte,
        |lsc AS (
        |  SELECT query_id, doc_id AS neighbor_id,
        |    CAST(sum(c) AS BIGINT) AS score
        |  FROM hits GROUP BY 1, 2),
        |lr AS (
        |  SELECT query_id, neighbor_id, row_number() OVER
        |    (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
        |    AS rnk
        |  FROM lsc),
        |de0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |de AS (SELECT vec_id, emb, sqrt(${dDot("emb", "emb")}) AS norm
        |       FROM de0),
        |dp AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6)
        |           AS sim
        |  FROM de q JOIN de c
        |    ON q.vec_id % 100 = 0 AND c.vec_id % 100 <> 0),
        |dr AS (
        |  SELECT query_id, neighbor_id, row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM dp),
        |contrib AS (
        |  SELECT query_id, neighbor_id, 1000000 // (60 + rnk) AS cc
        |  FROM lr WHERE rnk <= 10
        |  UNION ALL
        |  SELECT query_id, neighbor_id, 1000000 // (60 + rnk) AS cc
        |  FROM dr WHERE rnk <= 10),
        |fused AS (
        |  SELECT query_id, neighbor_id, CAST(sum(cc) AS BIGINT) AS rrf
        |  FROM contrib GROUP BY 1, 2),
        |fr AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rnk
        |  FROM fused)
        |SELECT query_id, neighbor_id, rrf, CAST(rnk AS BIGINT) AS rank
        |FROM fr WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // SemDeDup: k-means the embedding space (the same deterministic
    // 2-round integer-scaled Lloyd as sim_ivf_topk but with k sized
    // from the corpus — ceil(n/64), Similarity.chooseCells, so cells
    // stay ~64 vectors at any scale), verify cosine within cells only,
    // drop the larger id of every semantic twin.
    Q("dedup_semantic",
      (s, d) => Similarity.semanticDedup(Tables.embeddings(s, d)),
      Some(s"""WITH kk AS (
        |  SELECT greatest(1, (count(*) + ${Similarity.TargetCell - 1})
        |    // ${Similarity.TargetCell}) AS k
        |  FROM embeddings),
        |${dKmCellsCte("(SELECT k FROM kk)")},
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

    // Symmetric int8 quantization of the embedding column — integer
    // arithmetic end-to-end (round-half-away via (|v|*254+s)//(2s) on
    // the 10^6-scaled image), with the reconstruction-error
    // certificate max|127*v_i - q_i*s| per vector.
    Q("emb_quantize",
      (s, d) => Similarity.quantize(Tables.embeddings(s, d)),
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS vi
        |  FROM embeddings),
        |s AS (SELECT vec_id, vi,
        |        coalesce(list_max(list_transform(vi, x -> abs(x))), 0) AS sc
        |      FROM v),
        |q AS (SELECT vec_id, vi, sc,
        |        list_transform(vi, x -> CASE WHEN sc = 0 THEN 0
        |          ELSE (CASE WHEN x < 0 THEN -1 ELSE 1 END)
        |               * ((abs(x)*254 + sc) // (2*sc)) END) AS qv
        |      FROM s)
        |SELECT vec_id, sc AS scale, array_to_string(qv, ' ') AS q,
        |       coalesce(list_max(list_transform(range(1, len(vi)+1),
        |         i -> abs(127*vi[i] - qv[i]*sc))), 0) AS max_err127
        |FROM q ORDER BY vec_id""".stripMargin)),

    // SQ8 compressed-domain serving: exact-scan top-10 over the int8
    // codes (integer dot × candidate scale — Similarity.sqScore, all
    // 64-bit-exact), never touching the float column. The stateless
    // end of the compression spectrum next to sim_pq_topk's trained
    // codebook: 4× smaller scan, per-dim resolution kept.
    Q("sim_sq_topk",
      (s, d) => Similarity.sqTopK(Tables.embeddings(s, d)),
      Some(s"""WITH $dSqCte,
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ${dIntDot("q.qv", "c.qv")} * c.sc AS qscore
        |  FROM sq q JOIN sq c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 5
        |), r AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY qscore DESC, neighbor_id) AS rnk
        |  FROM p
        |)
        |SELECT query_id, neighbor_id, CAST(qscore AS BIGINT) AS qscore,
        |       CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),

    // Encode-once SQ8 serving: the code table is a STORED artifact
    // (ModelStore.ensureFrame + corpus fingerprint beside it) and the
    // query batch probes it — SQ8 has no trained model, but the
    // encode pass over a 100 TB corpus is one full scan a deployment
    // pays once, not per batch. Long codes round-trip parquet
    // exactly, so the identical sim_sq_topk oracle verifies that
    // shipping the codes through disk changes nothing.
    Q("sim_sq_topk_loaded",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val codes = graft.sources.ModelStore.ensureFrame(s,
          s"${ModelStore.dir("sq", d)}/codes",
          Similarity.sqCodes(e), fingerprintData = Some(e))
        Similarity.sqTopKFromCodes(codes, e)
      },
      Some(s"""WITH $dSqCte,
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ${dIntDot("q.qv", "c.qv")} * c.sc AS qscore
        |  FROM sq q JOIN sq c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 5
        |), r AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY qscore DESC, neighbor_id) AS rnk
        |  FROM p
        |)
        |SELECT query_id, neighbor_id, CAST(qscore AS BIGINT) AS qscore,
        |       CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),

    // The recall gate for the SQ8 path (the eval_ivfpq_metrics grader
    // pointed at the scalar-quantized ranker): SQ8 top-10 for the 50-
    // query set vs exact brute-force truth through the identical
    // integer metric tail — quantization loss is hash-gated, not
    // argued. The oracle composes the SHARED dSqCte with the shared
    // metric tail, so the graded ranking is byte-identical to
    // sim_sq_topk's.
    Q("eval_sq_metrics",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        graft.operators.Evaluation.retrievalMetrics(
          Similarity.sqTopK(e, 50, 10),
          Similarity.bruteForceTopK(e, 50, 10)
            .select("query_id", "neighbor_id"),
          k = 10)
      },
      Some(s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb
        |  FROM embeddings),
        |e AS (SELECT vec_id, emb, sqrt(${dDot("emb", "emb")}) AS norm
        |      FROM e0),
        |$dSqCte,
        |sp AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ${dIntDot("q.qv", "c.qv")} * c.sc AS qscore
        |  FROM sq q JOIN sq c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 50
        |), sqr AS (
        |  SELECT query_id, neighbor_id, row_number() OVER
        |    (PARTITION BY query_id ORDER BY qscore DESC, neighbor_id) AS rnk
        |  FROM sp
        |),
        |${dMetricsTail("sqr")}""".stripMargin)),

    // Attribute-filtered exact top-k: neighbors constrained to the
    // query's label (in-language / in-tenant retrieval). The predicate
    // sits IN the join condition — post-filtering an unfiltered top-k
    // under-fills k; at fleet scale the index partitions by the
    // attribute and the same plan prunes whole partitions.
    Q("sim_filtered_topk",
      (s, d) => Similarity.labelFilteredTopK(Tables.embeddings(s, d)),
      Some(s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label
        |  FROM embeddings),
        |e AS (SELECT vec_id, emb, label, sqrt(${dDot("emb", "emb")}) AS norm
        |      FROM e0),
        |p AS (
        |  SELECT q.vec_id AS query_id, CAST(q.label AS BIGINT) AS label,
        |         c.vec_id AS neighbor_id,
        |         round(${dCos("q.emb", "c.emb")}, 6) AS sim
        |  FROM e q JOIN e c
        |    ON q.label = c.label AND q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 5
        |), r AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM p
        |)
        |SELECT query_id, label, neighbor_id, sim, CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),

    // Sketch-space exact scan: brute-force top-10 over the 16-long JL
    // sketch (16 longs/row instead of 64 floats; E[sketch dot] = m ×
    // true dot for Rademacher projections). The 2-bit downshift keeps
    // the ranking integer double-exact in the heap.
    Q("sim_project_topk",
      (s, d) => Similarity.projectTopK(Tables.embeddings(s, d)),
      Some(s"""WITH $dSkCte,
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ${dIntDot("q.sk", "c.sk")} AS qscore
        |  FROM skt q JOIN skt c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 5
        |), r AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY qscore DESC, neighbor_id) AS rnk
        |  FROM p
        |)
        |SELECT query_id, neighbor_id, CAST(qscore AS BIGINT) AS qscore,
        |       CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),

    // The propose/refine composition gated for the THIRD compression
    // family: JL-sketch shortlist at kCand=30, exact float rerank
    // (the same generic refineTopK the IVF-PQ path uses), measured
    // against brute-force truth through the shared metric tail.
    Q("eval_project_metrics",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        graft.operators.Evaluation.retrievalMetrics(
          Similarity.projectRefinedTopK(e, 50, 10, kCand = 30),
          Similarity.bruteForceTopK(e, 50, 10)
            .select("query_id", "neighbor_id"),
          k = 10)
      },
      Some(s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb
        |  FROM embeddings),
        |e AS (SELECT vec_id, emb, sqrt(${dDot("emb", "emb")}) AS norm
        |      FROM e0),
        |$dSkCte,
        |sp AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ${dIntDot("q.sk", "c.sk")} AS qscore
        |  FROM skt q JOIN skt c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 50
        |), rfsl AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY query_id ORDER BY qscore DESC, neighbor_id) AS rnk
        |    FROM sp) WHERE rnk <= 30
        |), rfrr AS (
        |  SELECT rfsl.query_id, rfsl.neighbor_id,
        |         round(${dCos("q.emb", "c.emb")}, 6) AS sim
        |  FROM rfsl JOIN e q ON q.vec_id = rfsl.query_id
        |          JOIN e c ON c.vec_id = rfsl.neighbor_id
        |), rfr AS (
        |  SELECT query_id, neighbor_id, row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM rfrr
        |),
        |${dMetricsTail("rfr")}""".stripMargin)),

    // JL random projection 64 -> 16: md5-derived Rademacher signs,
    // integer-exact sums — the sketch step before storing/indexing.
    Q("emb_project",
      (s, d) => Similarity.randomProject(Tables.embeddings(s, d)),
      Some("""WITH sgn AS (
        |  SELECT j, list_transform(range(0, 64),
        |    i -> CASE WHEN ('0x' || substr(md5(CAST(j AS VARCHAR)
        |           || ' ' || CAST(i AS VARCHAR)),1,15))::BIGINT % 2 = 0
        |         THEN 1 ELSE -1 END) AS s
        |  FROM (SELECT unnest(range(0, 16)) AS j)),
        |v AS (SELECT vec_id, list_transform(embedding,
        |        x -> CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS vi
        |      FROM embeddings),
        |p AS (SELECT v.vec_id, sgn.j,
        |        CAST(list_sum(list_transform(range(1, 65),
        |          i -> vi[i]*s[i])) AS BIGINT) AS y
        |      FROM v CROSS JOIN sgn)
        |SELECT vec_id, string_agg(CAST(y AS VARCHAR), ' ' ORDER BY j) AS proj
        |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // Language-ID confusion matrix: labeled lang × heuristic prediction.
    Q("text_langid",
      (s, d) => Tables.documents(s, d)
        .select(col("lang"), TextFunctions.langPredict(col("text")).as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang"),
      Some(s"""WITH $tokCte
        |SELECT lang, $dLangCase AS pred_lang, count(*) AS n
        |FROM tok GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // TRAINED language-ID: hashed char-trigram naive Bayes learned on
    // the doc_id%5 seed slice (labels = the lang column), scored on
    // the integer micro-nat grid and applied per-doc to the FULL
    // table. The oracle replays train + score + argmax term-for-term:
    // every log is independently grid-rounded, the unseen-bucket
    // backoff is folded into prior + G·floor + Σ observed Δ, ties
    // break (score DESC, lang ASC) — all integer, so both engines
    // agree exactly.
    Q("text_langid_nb",
      (s, d) => langidNbPredictions(s, d)
        .select(col("doc_id"), col("lang"), col("pred_lang"),
          col("score"))
        .orderBy("doc_id"),
      Some(s"""WITH $dLangidNbCte
        |SELECT doc_id, true_lang AS lang, lang AS pred_lang,
        |  CAST(score AS BIGINT) AS score
        |FROM rk WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    // Per-class precision/recall/F1 of the trained language-ID — the
    // measurement leg of the model-in-the-loop story (Evaluation
    // .classPrf). Integer-exact: counts, truncating per-myriad ratios
    // and the integer F1 form 2tp*10^4 // (2tp+fp+fn); the oracle
    // composes the SHARED langid-NB prediction CTE with the confusion
    // arithmetic, so the metric can never drift from the classifier.
    // Model-artifact persistence in the loop: train the NB on the
    // seed, SAVE it (graft.sources.ModelStore — parquet frames +
    // schema-checked params), LOAD it back, and score the full table
    // from the LOADED artifact. Output is identical to
    // text_langid_nb by the round-trip law (ModelStoreSpec), so the
    // same shared oracle CTE verifies that shipping the model
    // through disk changes nothing — the artifact a deployment
    // trains once and scores everywhere.
    Q("model_store_langid",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val m = graft.operators.LangId.train(
          docs.filter(col("doc_id") % 5 === 0))
        val dir = ModelStore.dir("langid_nb", d)
        graft.sources.ModelStore.saveNb(m, dir)
        val loaded = graft.sources.ModelStore.loadNb(s, dir)
        graft.operators.LangId.predict(docs, loaded)
          .join(docs.select("doc_id", "lang"), "doc_id")
          .select(col("doc_id"), col("lang"), col("pred_lang"),
            col("score"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $dLangidNbCte
        |SELECT doc_id, true_lang AS lang, lang AS pred_lang,
        |  CAST(score AS BIGINT) AS score
        |FROM rk WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    Q("eval_langid_prf",
      (s, d) => graft.operators.Evaluation.classPrf(
        langidNbPredictions(s, d)
          .select(col("lang").as("label"), col("pred_lang").as("pred"))),
      Some(s"""WITH $dLangidNbCte,
        |prd AS (SELECT true_lang AS label, lang AS pred
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
        |FROM j ORDER BY cls""".stripMargin)),

    // Deployment-shaped evaluation: the SAME P/R/F1 metric computed
    // from the LOADED NB artifact (ModelStore round-trip) instead of
    // the in-plan-trained model — the plan drops the training
    // subtrees entirely (model_store_langid precedent; PlanAuditSpec
    // pins strictly fewer exchanges than eval_langid_prf). Output is
    // identical by the round-trip law, so the shared oracle verifies
    // that evaluating a shipped artifact changes no metric.
    Q("eval_langid_prf_loaded",
      // train-once (ModelStore.ensureNb — round 14): the artifact is
      // built on the first invocation against this data dir and
      // LOADED thereafter, so the deployment-shaped eval measures
      // scoring a shipped model, not retraining it per run
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = ModelStore.dir("langid_nb_eval", d)
        val loaded = graft.sources.ModelStore.ensureNb(
          docs.filter(col("doc_id") % 5 === 0), dir)
        graft.operators.Evaluation.classPrf(
          graft.operators.LangId.predict(docs, loaded)
            .join(docs.select("doc_id", "lang"), "doc_id")
            .select(col("lang").as("label"), col("pred_lang").as("pred")))
      },
      Some(s"""WITH $dLangidNbCte,
        |prd AS (SELECT true_lang AS label, lang AS pred
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
        |FROM j ORDER BY cls""".stripMargin)),

    // The staleness gate for stored artifacts (round-14 verdict ask):
    // ModelStore records the training corpus's fingerprint (row count
    // + order-independent xxhash XOR) at every (re)build, and isStale
    // compares it against a current corpus in one scan — the
    // detection op that makes the serve-stale default SAFE to run a
    // 100 TB index on (a drifted router is now catchable by a nightly
    // check instead of silently serving wrong neighbors). This gate
    // builds an NB artifact on the %5 seed slice, then probes isStale
    // with three corpora: the identical seed (fresh — the hash is
    // order/partitioning-independent, so re-reads never false-alarm),
    // a same-row-count edit (the hash component fires), and a grown
    // corpus (the count component fires even under hash luck). The
    // oracle replays the row counts and pins the three verdicts.
    Q("model_store_stale_check",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val seed = docs.filter(col("doc_id") % 5 === 0)
        val dir = ModelStore.dir("stale_nb", d)
        graft.sources.ModelStore.ensureNb(seed, dir)
        val edited = seed.withColumn("text",
          when(col("doc_id") % 10 === 0, concat(col("text"), lit("~")))
            .otherwise(col("text")))
        val grown = seed.unionByName(seed.limit(1)
          .withColumn("doc_id", col("doc_id") + lit(10000000L)))
        val n = seed.count()
        def flag(df: org.apache.spark.sql.DataFrame): Long =
          if (graft.sources.ModelStore.isStale(s, dir, df)) 1L else 0L
        Seq(("edited", n, flag(edited)), ("grown", n + 1, flag(grown)),
          ("same", n, flag(seed)))
          .toDF("probe", "n_rows", "stale").orderBy("probe")
      },
      Some("""WITH seed AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
        |  WHERE doc_id % 5 = 0)
        |SELECT 'edited' AS probe, n AS n_rows, CAST(1 AS BIGINT) AS stale
        |  FROM seed
        |UNION ALL SELECT 'grown', n + 1, CAST(1 AS BIGINT) FROM seed
        |UNION ALL SELECT 'same', n, CAST(0 AS BIGINT) FROM seed
        |ORDER BY probe""".stripMargin)),

    // The FULL deployment loop, end-to-end at the gate (round-15
    // verdict ask): train on yesterday's corpus slice → serve loaded →
    // the corpus grows → refreshIfStale detects the drift and
    // invalidates → ensure* retrains on the grown corpus → the
    // REFRESHED artifact serves. The three verdict flips are hard
    // requires (a wrong verdict errors the query), and the served
    // output verifies against the full-corpus two-level oracle — so a
    // refresh that silently failed to fire would leave the
    // slice-trained router serving (different md5-ranked seeds,
    // different centroids — ModelStoreSpec pins that the refreshed
    // router differs from the stale one and serves the in-plan
    // answers) and diverge from the oracle. Each run restarts the
    // cycle from a clean dir, so the query is idempotent under
    // Bench's repeated runs — a deliberate retrain-twice eval arm
    // (single-run bench tier).
    Q("model_store_refresh_cycle",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val corp = e.filter(col("vec_id") % 20 =!= 0)
        val dir = ModelStore.dir("ivf2rc", d)
        graft.sources.ModelStore.invalidate(s, dir)
        graft.sources.ModelStore.ensureIvf2(corp, dir)
        require(!graft.sources.ModelStore.refreshIfStale(s, dir, corp),
          "refreshIfStale must hold an artifact fresh for its corpus")
        require(graft.sources.ModelStore.refreshIfStale(s, dir, e),
          "refreshIfStale must fire when the corpus grows")
        val (l1, l2) = graft.sources.ModelStore.ensureIvf2(e, dir)
        val idx = graft.sources.ModelStore.ensureFrame(s, s"$dir/cells",
          Similarity.ivf2Cells(e, l1, l2, 4), Some(e))
        require(!graft.sources.ModelStore.isStale(s, dir, e),
          "the retrained artifact must be fresh for the grown corpus")
        Similarity.ivf2TopKFromIndex(idx, e, l1, l2, 4)
      },
      Some(dIvf2Oracle)),

    // Retrieval ranking metrics — the measurement leg for the ANN
    // rankers: the LSH top-10 graded against the exact brute-force
    // top-10 as binary qrels, per query: hits@10, truncating
    // per-myriad recall, reciprocal rank in micro-units, and nDCG@10
    // whose log2 discount table is MODEL CONSTANTS computed once on
    // the driver and inlined into BOTH engines as literals — the
    // whole metric is integer-exact, so the approximate ranker's
    // quality is itself hash-gated, not just eyeballed.
    Q("eval_retrieval_metrics",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        graft.operators.Evaluation.retrievalMetrics(
          Similarity.lshTopK(e, 50, 10),
          Similarity.bruteForceTopK(e, 50, 10)
            .select("query_id", "neighbor_id"),
          k = 10)
      },
      Some(s"""WITH $dLshPrefix,
        |${dProbes("qp", " AND q.vec_id < 50")},
        |lp AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6)
        |           AS sim
        |  FROM qp q JOIN bkt c
        |    ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        |), lrk AS (
        |  SELECT query_id, neighbor_id, row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM lp
        |),
        |${dMetricsTail("lrk")}""".stripMargin)),

    // The same grader pointed at the COMPRESSED-DOMAIN ranker: the
    // IVF-PQ top-10 (routing loss × quantization loss — exactly the
    // compounding the recall gate exists for) against the exact
    // brute-force truth, through the identical integer metric tail —
    // so the scale-path ANN's quality is hash-gated end-to-end, not
    // only law-tested (LshRecallSpec) or argued from plan shape. The
    // oracle reuses the sim_ivfpq_topk training chain verbatim
    // (dKmCellsCte + dPqCte), so the graded ranking is byte-identical
    // to the standalone ranker's.
    Q("eval_ivfpq_metrics",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        graft.operators.Evaluation.retrievalMetrics(
          Similarity.ivfPqTopK(e, 50, 10),
          Similarity.bruteForceTopK(e, 50, 10)
            .select("query_id", "neighbor_id"),
          k = 10)
      },
      Some(s"""WITH ${dKmCellsCte("8")},
        |$dPqCte,
        |cds AS (SELECT vec_id, sub, cent_id FROM pqa3 WHERE rk = 1),
        |cor AS (SELECT c.vec_id, c.cell, x.sub, x.cent_id
        |        FROM cells c JOIN cds x USING (vec_id)),
        |qp AS (SELECT a.vec_id AS query_id, a.cent_id AS cell
        |       FROM a3 a WHERE a.rk <= 2 AND a.vec_id < 50),
        |qd AS (SELECT vec_id AS query_id, sub, cent_id, dist
        |       FROM pqa30 WHERE vec_id < 50),
        |adc AS (
        |  SELECT qp.query_id, cor.vec_id AS neighbor_id,
        |         CAST(sum(qd.dist) AS BIGINT) AS adc
        |  FROM qp JOIN cor ON cor.cell = qp.cell
        |    AND cor.vec_id <> qp.query_id
        |  JOIN qd ON qd.query_id = qp.query_id AND qd.sub = cor.sub
        |    AND qd.cent_id = cor.cent_id
        |  GROUP BY 1, 2
        |), ar AS (
        |  SELECT query_id, neighbor_id, row_number() OVER
        |    (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rnk
        |  FROM adc
        |),
        |${dMetricsTail("ar")}""".stripMargin)),

    // Per-doc quality metrics + composite score.
    //
    // Three-step select: the token pipelines are interpreted higher-
    // order functions with NO common-subexpression elimination, so one
    // flat projection referencing `tokens(text)` from six metric trees
    // re-splits and re-walks the array ~10× per row (measured 6.5 s at
    // sf0.1 vs ~0.5 s scalar siblings). Step 1 materializes the token
    // array ONCE; step 2 derives the four non-cheap scalars from the
    // attribute; step 3 is pure cheap arithmetic over those scalars.
    // CollapseProject keeps the steps apart because each step's
    // non-cheap aliases are referenced ≥2× downstream. The total order
    // comes from sorting the CHEAP base before any of this: the range
    // exchange's sampling pass re-executes only the parquet scan, not
    // the token pipeline (orderBy-last would run it twice).
    Q("text_quality",
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("doc_id"), col("text")).orderBy("doc_id")
        val withW = base.select(col("doc_id"), col("text"),
          TextFunctions.tokens(col("text")).as("w"))
        val scalars = withW.select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          size(col("w")).cast("long").as("n_tokens"),
          size(array_distinct(col("w"))).cast("long").as("n_uniq"),
          aggregate(transform(col("w"), t => length(t).cast("long")),
            lit(0L), (a, x) => a + x).as("sum_len"),
          TextFunctions.markerHits(col("text"), stopEn)
            .cast("double").as("stop_hits"))
        val ttr = col("n_uniq").cast("double") / col("n_tokens")
        val stop = col("stop_hits") / col("n_tokens")
        val lenScore = least(lit(1.0), col("n_tokens") / lit(50.0))
        scalars.select(
          col("doc_id"), col("n_chars"), col("n_tokens"), col("n_uniq"),
          round(col("sum_len").cast("double") / col("n_tokens"), 6)
            .as("avg_token_len"),
          round(ttr, 6).as("ttr"),
          round(stop, 6).as("stop_ratio"),
          round(lit(0.5) * lenScore + lit(0.3) * ttr + lit(0.2) * stop, 6)
            .as("quality"))
      },
      Some(s"""WITH $tokCte
        |SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
        |  round(CAST(CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS DOUBLE) / CAST(len(w) AS BIGINT), 6) AS avg_token_len,
        |  round(CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS BIGINT), 6) AS ttr,
        |  round(CAST(${dMarkerHits(stopEn)} AS DOUBLE) / CAST(len(w) AS BIGINT), 6) AS stop_ratio,
        |  round(0.5::DOUBLE * least(1.0::DOUBLE, CAST(len(w) AS BIGINT) / 50.0::DOUBLE)
        |    + 0.3::DOUBLE * (CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS BIGINT))
        |    + 0.2::DOUBLE * (CAST(${dMarkerHits(stopEn)} AS DOUBLE) / CAST(len(w) AS BIGINT)), 6) AS quality
        |FROM tok ORDER BY doc_id""".stripMargin)),

    // Normalization + stopword removal: canonical text, its hash, and
    // the content-token count after stopword filtering.
    // Unicode NFC canonicalization — the pre-hash normalization step
    // for corpora with decomposed forms. The corpus itself is ASCII
    // (NFC identity), so every row prepends a DECOMPOSED literal
    // (e+U+0301, a+U+0300): both engines must compose it to the
    // precomposed bytes or the md5s diverge — the oracle exercises
    // real NFC composition on every row, not the identity.
    Q("text_normalize_nfc",
      (s, d) => {
        val deco = "Cafe\u0301 vis-a\u0300-vis "
        Tables.documents(s, d)
          .select("doc_id", "text").orderBy("doc_id")
          // two-step select: the normalize evaluates once per row,
          // its two consumers read the materialized column
          .select(col("doc_id"), TextFunctions.normalizeNfc(
            concat(lit(deco), col("text"))).as("_n"))
          .select(col("doc_id"),
            octet_length(col("_n")).cast("long").as("norm_bytes"),
            md5(col("_n")).as("norm_hash"))
      },
      Some {
        val deco = "Cafe\u0301 vis-a\u0300-vis "
        s"""SELECT doc_id,
        |  CAST(strlen(nfc_normalize('$deco' || text)) AS BIGINT)
        |    AS norm_bytes,
        |  md5(nfc_normalize('$deco' || text)) AS norm_hash
        |FROM documents ORDER BY doc_id""".stripMargin
      }),

    Q("text_normalize",
      (s, d) => {
        // sort-first (see dedup_minhash_sig)
        val norm = TextFunctions.normalize(col("text"))
        Tables.documents(s, d)
          .select("doc_id", "text").orderBy("doc_id")
          .select(
            col("doc_id"),
            md5(norm).as("norm_hash"),
            size(TextFunctions.removeStopwords(col("text"), stopEn))
              .cast("long").as("n_content_tokens"))
      },
      Some(s"""WITH $tokCte
        |SELECT doc_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash,
        |  CAST(len(list_filter(w, t -> NOT list_contains(
        |    [${stopEn.map(m => s"'$m'").mkString(",")}], t))) AS BIGINT)
        |    AS n_content_tokens
        |FROM tok ORDER BY doc_id""".stripMargin)),

    // Corpus-level token frequency top-20 (explode → count → top-k).
    Q("text_token_stats",
      (s, d) => Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20),
      Some("""SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY 1 ORDER BY n DESC, token LIMIT 20""".stripMargin)),

    // Order-sensitive rolling-hash fingerprint per doc.
    Q("text_fingerprint",
      // sort-first (see dedup_minhash_sig)
      (s, d) => Tables.documents(s, d)
        .select("doc_id", "text").orderBy("doc_id")
        .select(col("doc_id"),
          TextFunctions.fingerprint(col("text")).as("fingerprint")),
      Some(s"""WITH $tokCte
        |SELECT doc_id, list_reduce(
        |  list_prepend(0::BIGINT, list_transform(w, x -> ${dWordHash("x")})),
        |  (a, b) -> (a*131 + b) % 1000000007) AS fingerprint
        |FROM tok ORDER BY doc_id""".stripMargin)),

    // Engine top-k path: bounded-heap top_k aggregate (map-side
    // combine; shuffle carries ≤k rows/group/partition) — per customer
    // nation, top-3 supplier nations by summed revenue. Verified
    // against a row_number window oracle (same total order).
    Q("t3d_topk_agg",
      (s, d) => {
        val rev = CoreAnalogs.routeLineitems(s, d)
          .groupBy("cust_nation", "supp_nation")
          .agg(round(sum(col("l_extendedprice")), 2).as("revenue"))
        rev.groupBy(col("cust_nation").as("nation"))
          .agg(graft.expressions.TopKAgg.topK(
            col("revenue"), col("supp_nation"), 3).as("top"))
          .select(col("nation"),
            posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("nation"), col("t.label").as("supp_nation"),
            col("t.score").as("revenue"),
            (col("pos") + 1).cast("long").as("rank"))
          .orderBy("nation", "rank")
      },
      Some(s"""WITH rl AS (
        |  SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
        |         l.l_extendedprice
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |),
        |rev AS (
        |  SELECT cust_nation, supp_nation,
        |         round(sum(l_extendedprice), 2) AS revenue
        |  FROM rl GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY cust_nation ORDER BY revenue DESC, supp_nation) AS rnk
        |  FROM rev
        |)
        |SELECT cust_nation AS nation, supp_nation, revenue,
        |       CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 3 ORDER BY nation, rank""".stripMargin)),

    // Token counting two ways: whitespace tokens and BPE-ish regex
    // pieces (letter runs | digit runs | single other-glyphs).
    Q("text_token_count",
      (s, d) => {
        // sort-first + two-step select: n_bpe fed chars_per_token's
        // divisor from the same regexp tree, which evaluated the
        // extraction twice per row in the flat projection
        val base = Tables.documents(s, d)
          .select("doc_id", "text").orderBy("doc_id")
        val scalars = base.select(
          col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_ws"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long")
            .as("n_bpe"),
          length(col("text")).cast("long").as("n_chars"))
        scalars.select(
          col("doc_id"), col("n_ws"), col("n_bpe"),
          round(col("n_chars").cast("double") / col("n_bpe"), 6)
            .as("chars_per_token"))
      },
      Some("""SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe,
        |  round(CAST(length(text) AS DOUBLE) /
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT), 6)
        |    AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL BPE token counting: the fixed BpeVocab merge table applied
    // by the native codegen expression; the oracle applies the SAME
    // table via a recursive CTE over the distinct vocabulary (merge
    // one lowest-rank pair per iteration; final count per word is the
    // fixpoint minimum, summed back over word instances). list_position
    // returns 0 for absent keys in DuckDB, hence the x > 0 guards.
    Q("text_bpe_count",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          graft.expressions.BpeExpressions.bpeCount(col("text"))
            .as("bpe_tokens"))
        .orderBy("doc_id"),
      Some(s"WITH RECURSIVE $dBpeCte\n" +
        """SELECT doc_id, n_tok AS bpe_tokens
        |FROM bpedoc ORDER BY doc_id""".stripMargin)),

    // Tokenizer fertility per language — the standard tokenizer-eval
    // metric (BPE tokens per whitespace word, per-myriad truncating):
    // a vocabulary trained on one language mix tokenizes
    // out-of-distribution languages into more, shorter pieces, and
    // this is the aggregate that shows it. One corpus scan (the
    // native BpeCount expression per doc) into a |lang|-row
    // aggregate; the oracle composes the same recursive BPE CTE with
    // the ratio arithmetic.
    Q("text_bpe_fertility",
      (s, d) => Tables.documents(s, d)
        .select(col("lang"),
          graft.expressions.BpeExpressions.bpeCount(col("text"))
            .as("n_tok"),
          size(split(col("text"), " ")).cast("long").as("n_words"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("n_words"), sum("n_tok").as("n_tok"),
          call_function("div", sum(col("n_tok")) * lit(10000L),
            sum(col("n_words"))).as("fertility_pm"))
        .orderBy("lang"),
      Some(s"WITH RECURSIVE $dBpeCte\n" +
        """SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_words,
        |  CAST(sum(b.n_tok) AS BIGINT) AS n_tok,
        |  (CAST(sum(b.n_tok) AS BIGINT) * 10000) //
        |    CAST(sum(len(string_split(d.text, ' '))) AS BIGINT)
        |    AS fertility_pm
        |FROM documents d JOIN bpedoc b USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // BPE merge TRAINING (Sennrich 2016 — the learn half of the BPE
    // story; text_bpe_count applies a fixed public table). The oracle
    // UNROLLS the 64 greedy iterations as chained CTEs (the Lloyd
    // k-means precedent; 64 — not 8 — exercises the trainer's
    // incremental pair maintenance through a real merge depth, and the
    // documents vocabulary supports 89 merges before exhaustion at
    // every shipped SF; st/b CTEs are MATERIALIZED because DuckDB
    // inlines CTEs by default and each round references the previous
    // one twice — 2^64 expansion without the keyword): per round,
    // weighted adjacent-pair counts
    // over the vocab, arg-max with (cnt DESC, l, r) ties, and the
    // merge applied via replace() on a sentinel-delimited token
    // string — chr(1)+l+chr(1)chr(1)+r+chr(1) → chr(1)+lr+chr(1)
    // anchors whole tokens (inner boundaries are DOUBLE sentinels)
    // and consumes one boundary per hit, which reproduces the
    // left-to-right non-overlapping greedy exactly (back-to-back
    // pairs share a boundary, so the second occurrence no longer
    // matches — same as the skip-2 loop).
    Q("text_bpe_train",
      (s, d) => graft.operators.BpeTrain
        .learnMerges(Tables.documents(s, d), nMerges = BpeTrainMerges)
        .orderBy("rank"),
      Some {
        val out = (1 to BpeTrainMerges).map(i =>
          s"SELECT $i AS rank, l AS \"left\", r AS \"right\", l || r AS merged, cnt FROM b$i")
          .mkString("\nUNION ALL\n")
        s"""WITH ${dBpeTrainChain(BpeTrainMerges)}
           |SELECT CAST(rank AS BIGINT) AS rank, "left", "right",
           |  merged, cnt
           |FROM ($out) ORDER BY rank""".stripMargin
      }),

    // TRAIN -> APPLY composition: tokenize the SAME corpus under the
    // just-learned 64-merge table. The engine side exposes the
    // trainer's own final word state (learnWithTokenization — the
    // sequential training-order application, the ground truth every
    // BPE trainer emits as a byproduct) as a vocab-bounded broadcast
    // (w, n_tok) frame; per-doc counts are one map-side join + sum.
    // The oracle replays the identical chain and reads the FINAL
    // sentinel state st{n+1}: a trainer whose application drifted
    // from its own merge choices diverges here even if the merge
    // table itself matched.
    Q("text_bpe_train_apply",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val (_, wordTok) = graft.operators.BpeTrain
          .learnWithTokenization(docs, nMerges = BpeTrainMerges)
        docs.select(col("doc_id"),
            explode(TextFunctions.tokens(col("text"))).as("w"))
          .filter(col("w") =!= "")
          .join(broadcast(wordTok), Seq("w"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"), sum("n_tok").as("n_tok"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${dBpeTrainChain(BpeTrainMerges)},
        |wt AS (
        |  SELECT w, CAST(len(string_split(trim(s, chr(1)),
        |    chr(1) || chr(1))) AS BIGINT) AS n_tok
        |  FROM st${BpeTrainMerges + 1}),
        |dw AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tok
        |FROM dw JOIN wt USING (w)
        |WHERE w <> ''
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Sequence packing keyed on REAL BPE token counts (the verdict's
    // "re-key pack on the tokenizer" thread): identical two-level
    // prefix-sum operator, the per-doc size column is the native
    // BpeCount expression; the oracle composes the recursive BPE CTE
    // with the pack window.
    Q("pipeline_pack_bpe",
      (s, d) => graft.operators.Chunking.packBy(Tables.documents(s, d),
        graft.expressions.BpeExpressions.bpeCount(col("text")))
        .orderBy("doc_id"),
      Some(s"WITH RECURSIVE $dBpeCte,\n" +
        """base AS (
        |  SELECT d.doc_id, d.source, b.n_tok
        |  FROM documents d JOIN bpedoc b USING (doc_id)),
        |cum AS (
        |  SELECT doc_id, source, n_tok,
        |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM base)
        |SELECT doc_id, source, n_tok,
        |  CAST((c - n_tok) // 256 AS BIGINT) AS bin
        |FROM cum ORDER BY doc_id""".stripMargin)),

    // Frame sampling over a binary "video" payload: one row per
    // fixed-size frame with index, length, and content hash.
    Q("mm_frames",
      (s, d) => Multimodal.frameSample(
        Tables.documents(s, d)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")))
        .orderBy("doc_id", "frame_idx"),
      Some("""WITH f AS (
        |  SELECT doc_id, text,
        |         unnest(range(0, CAST(ceil(length(text)/256.0) AS BIGINT)))
        |           AS frame_idx
        |  FROM documents
        |)
        |SELECT doc_id, frame_idx,
        |  CAST(length(substr(text, CAST(frame_idx*256+1 AS INT), 256)) AS BIGINT)
        |    AS frame_len,
        |  md5(substr(text, CAST(frame_idx*256+1 AS INT), 256)) AS frame_hash
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin)),

    // Resize metadata: aspect-preserving bounding-box arithmetic over
    // the (stubbed) decoded dimensions.
    Q("mm_resize",
      (s, d) => Multimodal.resizeMeta(
        Tables.documents(s, d)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")))
        .orderBy("doc_id"),
      Some("""WITH m AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(text),1,6))::BIGINT % 448 + 64 AS width,
        |    ('0x' || substr(md5(text),7,6))::BIGINT % 448 + 64 AS height
        |  FROM documents
        |)
        |SELECT doc_id, width, height,
        |  CAST(floor(width * 64 / greatest(width, height)) AS BIGINT) AS out_width,
        |  CAST(floor(height * 64 / greatest(width, height)) AS BIGINT) AS out_height
        |FROM m ORDER BY doc_id""".stripMargin)),

    // Composed curation pipeline: dedup survivorship + quality gate +
    // language tag in ONE Catalyst plan (single shuffle).
    Q("pipeline_curate",
      // exportSorted, not orderBy: an orderBy sampling pass would
      // re-run every post-window scalar gate
      (s, d) => Sinks.exportSorted(Curation.curate(Tables.documents(s, d)),
        Seq("doc_id")),
      Some {
        val q = dQuality
        s"""WITH $tokCte, g AS (
        |  SELECT doc_id, text, w,
        |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
        |           AS rig,
        |         $q AS quality, $dLangCase AS pred_lang
        |  FROM tok
        |)
        |SELECT doc_id, quality, pred_lang,
        |  CASE WHEN rig > 1 THEN 'dup'
        |       WHEN quality < 0.5 THEN 'low_quality' ELSE 'ok' END
        |    AS reject_reason,
        |  (CASE WHEN rig > 1 THEN 'dup'
        |        WHEN quality < 0.5 THEN 'low_quality' ELSE 'ok' END) = 'ok'
        |    AS keep
        |FROM g ORDER BY doc_id""".stripMargin
      }),

    // Per-source quota cap (the RefinedWeb/FineWeb over-represented-
    // domain guard): the best 40 docs per source by the curate quality
    // score, ranked through the bounded-heap top_k aggregate — map
    // tasks reduce to 40-element heaps per source, the shuffle carries
    // heap entries, never the corpus (the window row_number the oracle
    // replays would sort every row of every source). Tie-break
    // quality desc, doc_id asc — the heap's zero-padded-label order.
    // Curriculum schedule: quality stages via exact rank quantiles
    // over the per-score HISTOGRAM (score is integer ppm -> the
    // boundary window runs over a <= 10^6-row frame whatever the
    // corpus size — the selectBudget band trick), boundaries broadcast
    // back as ONE row, within-stage order a portable hash sort KEY
    // (never a corpus-wide row_number). The oracle replays histogram,
    // cumulative rule, and boundary CASEs exactly.
    Q("curation_curriculum",
      (s, d) => Curation.curriculum(Tables.documents(s, d))
        .orderBy("stage", "epoch_key", "doc_id"),
      Some(s"""WITH $tokCte, sc AS (
        |  SELECT doc_id,
        |    (CAST(len(list_distinct(w)) AS BIGINT) * 1000000)
        |      // CAST(len(w) AS BIGINT) AS score
        |  FROM tok),
        |hist AS (SELECT score, count(*) AS cnt FROM sc GROUP BY score),
        |cum AS (SELECT score, sum(cnt) OVER (ORDER BY score) AS cum
        |        FROM hist),
        |tot AS (SELECT count(*) AS n FROM documents),
        |bd AS (SELECT
        |    min(CASE WHEN cum*4 >= 1*n THEN score END) AS b1,
        |    min(CASE WHEN cum*4 >= 2*n THEN score END) AS b2,
        |    min(CASE WHEN cum*4 >= 3*n THEN score END) AS b3
        |  FROM cum, tot)
        |SELECT doc_id, score,
        |  CAST(1 + (score > b1)::INT + (score > b2)::INT
        |    + (score > b3)::INT AS INT) AS stage,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    AS epoch_key
        |FROM sc, bd ORDER BY stage, epoch_key, doc_id""".stripMargin)),

    Q("curation_source_cap",
      (s, d) => Curation.capPerSource(Tables.documents(s, d), 40)
        .orderBy("source", "rank"),
      Some {
        s"""WITH $tokCte, q AS (
        |  SELECT source, doc_id, $dQuality AS quality FROM tok),
        |r AS (
        |  SELECT source, doc_id, quality,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id) AS rank
        |  FROM q)
        |SELECT source, doc_id, quality, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 40 ORDER BY source, rank""".stripMargin
      }),

    // The FULL curation pipeline composed into one verdict frame:
    // exact dedup + 3-gram benchmark decontamination (bench = every
    // 50th doc, train = the rest, as in decontam_hits) + quality +
    // 2-gram repetition screening. maxRepetition = 0.06 sits at ~p90
    // of the corpus's repetition distribution, so the gate has signal.
    Q("pipeline_curate_full",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Sinks.exportSorted(Curation.curateFull(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          maxRepetition = 0.06), Seq("doc_id"))
      },
      Some {
        val q = dQuality
        val rep = "round(CASE WHEN len(w) - 1 > 0 THEN 1.0 - " +
          "CAST(len(list_distinct(list_transform(range(1, len(w)), " +
          "i -> w[i] || ' ' || w[i+1]))) AS DOUBLE) / CAST(len(w) - 1 AS DOUBLE) " +
          "ELSE 0.0 END, 6)"
        val h60 = "('0x' || substr(md5(g),1,15))::BIGINT"
        s"""WITH $tokCte,
        |g3 AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, len(w) - 1),
        |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gs FROM tok),
        |tg AS (SELECT doc_id AS train_id, $h60 AS h
        |      FROM (SELECT doc_id, unnest(gs) AS g FROM g3 WHERE doc_id % 50 <> 0)),
        |bg AS (SELECT doc_id AS bench_id, $h60 AS h
        |      FROM (SELECT doc_id, unnest(gs) AS g FROM g3 WHERE doc_id % 50 = 0)),
        |hits AS (SELECT DISTINCT train_id FROM (
        |  SELECT tg.train_id FROM tg JOIN bg ON tg.h = bg.h
        |  GROUP BY tg.train_id, bg.bench_id
        |  HAVING count(DISTINCT tg.h) >= 2)),
        |t AS (SELECT doc_id, text, w FROM tok WHERE doc_id % 50 <> 0),
        |g AS (
        |  SELECT doc_id, w,
        |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
        |           AS rig,
        |         $q AS quality, $rep AS repetition_ratio,
        |         $dLangCase AS pred_lang,
        |         doc_id IN (SELECT train_id FROM hits) AS contaminated
        |  FROM t
        |)
        |SELECT doc_id, quality, repetition_ratio, pred_lang,
        |  CASE WHEN rig > 1 THEN 'dup'
        |       WHEN contaminated THEN 'contaminated'
        |       WHEN quality < 0.5 THEN 'low_quality'
        |       WHEN repetition_ratio > 0.06 THEN 'repetitive' ELSE 'ok' END
        |    AS reject_reason,
        |  (CASE WHEN rig > 1 THEN 'dup'
        |        WHEN contaminated THEN 'contaminated'
        |        WHEN quality < 0.5 THEN 'low_quality'
        |        WHEN repetition_ratio > 0.06 THEN 'repetitive' ELSE 'ok' END)
        |    = 'ok' AS keep
        |FROM g ORDER BY doc_id""".stripMargin
      }),

    // Deterministic content-hash dataset splits (stable across reruns).
    Q("pipeline_split",
      (s, d) => Curation.split(Tables.documents(s, d)).orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  ('0x' || substr(md5(text),1,8))::BIGINT % 100 AS bucket,
        |  CASE WHEN ('0x' || substr(md5(text),1,8))::BIGINT % 100 < 90 THEN 'train'
        |       WHEN ('0x' || substr(md5(text),1,8))::BIGINT % 100 < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Leakage-safe split: assignment by NEAR-DUP CLUSTER, not by doc —
    // every member of a minhash connected component follows its
    // canonical representative's content hash, so a near-dup pair can
    // never straddle train/test (pipeline_split's per-doc hash lets
    // ~10% of every dup pair leak the benchmark side's answer into
    // training). Oracle composes the dedup_clusters RECURSIVE
    // reachability chain with the pipeline_split bucket arithmetic
    // applied to the REPRESENTATIVE's text.
    Q("pipeline_split_leakfree",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Curation.splitLeakFree(docs,
          Dedup.clusters(docs, Dedup.minhashPairs(docs)))
      },
      Some {
        val bandJoin = (0 until 4).map { b =>
          s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             |FROM sig a JOIN sig b
             |  ON a.band$b = b.band$b AND a.doc_id < b.doc_id""".stripMargin
        }.mkString("\n  UNION\n")
        val bandCols = (0 until 4)
          .map(b => s"${dBand("hs", b)} AS band$b").mkString(", ")
        s"""WITH RECURSIVE $tokCte, $shCte, $hsCte,
        |sig AS (SELECT doc_id, $bandCols FROM hsc),
        |cand AS (
        |  $bandJoin
        |),
        |verified AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT c.doc_a, c.doc_b,
        |           round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
        |             (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6)
        |             AS jaccard
        |    FROM cand c
        |    JOIN sh sa ON sa.doc_id = c.doc_a
        |    JOIN sh sb ON sb.doc_id = c.doc_b
        |  ) WHERE jaccard >= 0.5
        |),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM verified
        |  UNION ALL SELECT doc_b, doc_a FROM verified
        |),
        |reach AS (
        |  SELECT doc_id, doc_id AS r FROM documents
        |  UNION
        |  SELECT e.dst AS doc_id, reach.r FROM reach JOIN edges e
        |    ON e.src = reach.doc_id
        |),
        |cl AS (
        |  SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY 1
        |),
        |rb AS (
        |  SELECT doc_id AS cluster_id,
        |    ('0x' || substr(md5(text),1,8))::BIGINT % 100 AS bucket
        |  FROM documents
        |)
        |SELECT cl.doc_id, cl.cluster_id, rb.bucket,
        |  CASE WHEN rb.bucket < 90 THEN 'train'
        |       WHEN rb.bucket < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM cl JOIN rb USING (cluster_id)
        |ORDER BY cl.doc_id""".stripMargin
      }),

    // Multimodal metadata extraction over a binary payload column
    // (payload synthesized as utf8 bytes of text; the plumbing — binary
    // schema, magic sniffing, hash-derived dims — is what's exercised).
    Q("mm_meta",
      (s, d) => Multimodal.extractMeta(
        Tables.documents(s, d)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  hex(encode(substr(text, 1, 4))) AS magic,
        |  ('0x' || substr(md5(text),1,6))::BIGINT % 448 + 64 AS width,
        |  ('0x' || substr(md5(text),7,6))::BIGINT % 448 + 64 AS height,
        |  3::BIGINT AS channels
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL uncompressed-image decode: each doc gets a VALID binary-PPM
    // (P6) payload built byte-for-byte from doc_id (2×2 RGB, pixel
    // byte i = (doc_id·7+3i) mod 256), and Multimodal.parsePpm — an
    // actual pure-JVM header parse + pixel walk in mapPartitions —
    // recovers dims and integer channel means. The oracle KNOWS the
    // construction, so it verifies the decode in closed form: a parser
    // that misreads the header or mis-strides the pixel array diverges.
    Q("mm_decode_ppm",
      (s, d) => {
        val pix = (0 until 12).map(i =>
          lpad(hex(pmod(col("doc_id") * 7 + lit(3 * i), lit(256))), 2, "0"))
        val withPayload = Tables.documents(s, d).select(col("doc_id"),
          unhex(concat(lit("50360A3220320A3235350A") +: pix: _*))
            .as("payload"))
        Multimodal.decodePpm(s, withPayload).toDF().orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  2::BIGINT AS width, 2::BIGINT AS height, 255::BIGINT AS maxval,
        |  12::BIGINT AS n_pixel_bytes,
        |  CAST(((doc_id*7)%256 + (doc_id*7+9)%256 + (doc_id*7+18)%256
        |    + (doc_id*7+27)%256) // 4 AS BIGINT) AS mean_r,
        |  CAST(((doc_id*7+3)%256 + (doc_id*7+12)%256 + (doc_id*7+21)%256
        |    + (doc_id*7+30)%256) // 4 AS BIGINT) AS mean_g,
        |  CAST(((doc_id*7+6)%256 + (doc_id*7+15)%256 + (doc_id*7+24)%256
        |    + (doc_id*7+33)%256) // 4 AS BIGINT) AS mean_b
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Perceptual image dedup: per-id 9×8 grayscale P6 fixtures (ids
    // 2k/2k+1 near-twins differing in ONE pixel) decoded through the
    // real parser into 64-bit dHashes, then near-dup pairs within
    // hamming 3 via Manku block blocking (4×16-bit blocks — exact
    // recall at the threshold) + XOR-popcount verify. The oracle
    // replays the closed-form pixel law, assembles the hash in
    // HUGEINT (DuckDB's BIGINT << 63 overflows; two's-complement
    // fold-back matches Java's wrapping Long), and mines the same
    // blocks.
    Q("mm_dhash_pairs",
      (s, d) => Sinks.exportSorted(Multimodal.dhashPairs(
        Multimodal.dhashFixtures(s, Tables.documents(s, d)).toDF()),
        Seq("doc_a", "doc_b")),
      Some(s"""WITH $dDhashCte,
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.dhash AS ha, b.dhash AS hb
        |  FROM bb a JOIN bb b
        |    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // dHash miner recall gate (round-17 ask #4, the eval_simhash_recall
    // law on the 64-bit perceptual family): Manku 4×16-bit blocking is
    // lossless at Hamming ≤ 3 and the verify exact, so recall_pm =
    // precision_pm = 10000 — asserted in closed form over the brute
    // slice × corpus Hamming truth. Any future change to
    // hammingBlocks' geometry that loses a pair mismatches here.
    Q("eval_dhash_recall",
      (s, d) => {
        val hashes = Multimodal.dhashFixtures(
          s, Tables.documents(s, d)).toDF()
        val found = Multimodal.dhashPairs(hashes)
          .filter(col("doc_a") < 100)
          .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
        val truth = broadcast(hashes.filter(col("doc_id") < 100)
            .select(col("doc_id").as("vec_a"), col("dhash").as("h_a")))
          .join(hashes.select(col("doc_id").as("vec_b"),
            col("dhash").as("h_b")), col("vec_b") > col("vec_a"))
          .filter(bit_count(col("h_a").bitwiseXOR(col("h_b")))
            .cast("long") <= 3)
          .select("vec_a", "vec_b")
        Evaluation.pairRecall(found, truth)
      },
      Some(s"""WITH $dDhashCte,
        |truth AS (
        |  SELECT a.doc_id AS vec_a, b.doc_id AS vec_b
        |  FROM hs2 a JOIN hs2 b ON a.doc_id < 100 AND b.doc_id > a.doc_id
        |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
        |SELECT n_truth, n_truth AS n_found, n_truth AS n_matched,
        |       CAST(CASE WHEN n_truth > 0 THEN 10000 ELSE 0 END AS BIGINT)
        |         AS recall_pm,
        |       CAST(CASE WHEN n_truth > 0 THEN 10000 ELSE 0 END AS BIGINT)
        |         AS precision_pm
        |FROM nt""".stripMargin)),

    // Batch twin of the STREAMING image near-dup screen
    // (DocStreams.dhashScreen): every 10th image "arrives" and its
    // dHash blocks probe the static index of the rest — one row per
    // (arrival, corpus image, colliding block) within hamming 3, the
    // nearDupScreen shape. Shares hammingBlocks with the pair miner.
    Q("stream_dhash_screen",
      (s, d) => {
        val ids = Tables.documents(s, d)
        val arr = Multimodal.dhashFixtures(
          s, ids.filter(col("doc_id") % 10 === 0)).toDF()
        val corp = Multimodal.dhashFixtures(
          s, ids.filter(col("doc_id") % 10 =!= 0)).toDF()
        graft.streaming.DocStreams.dhashScreen(
          arr, graft.streaming.DocStreams.dhashIndex(corp))
          .orderBy("doc_id", "matched_id", "block_pos")
      },
      Some(s"""WITH $dDhashCte
        |SELECT a.doc_id, c.doc_id AS matched_id,
        |       CAST(a.blk AS BIGINT) AS block_pos,
        |       CAST(bit_count(xor(a.dhash, c.dhash)) AS BIGINT) AS hamming
        |FROM bb a JOIN bb c ON a.blk = c.blk AND a.bval = c.bval
        |WHERE a.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
        |  AND bit_count(xor(a.dhash, c.dhash)) <= 3
        |ORDER BY a.doc_id, matched_id, block_pos""".stripMargin)),

    // Video scene-cut detection: each doc is a 12-frame "video" under
    // the videoPixel law (4-frame scenes: quadratic-scramble base per
    // (id, scene), within-scene +f%4 jitter on ONLY pixel (0,0) — at
    // most 1 dHash bit, recompression-grade), every frame decodes
    // through the REAL P6 parser, and cuts fire where consecutive
    // dHashes differ by > 3 bits (within-scene transitions are <= 1,
    // boundaries >= 12 on the shipped corpus). The oracle replays
    // pixel law -> per-frame dHash (HUGEINT assembly) -> the lag
    // comparison, so a framing, decode, or window bug hash-fails.
    Q("mm_scene_cuts",
      (s, d) => Multimodal.sceneCuts(Multimodal.videoFrames(
        s, Tables.documents(s, d).select("doc_id")))
        .orderBy("doc_id", "frame_idx"),
      Some("""WITH g AS (
        |  SELECT doc_id, unnest(range(0, 12)) AS f FROM documents),
        |gy AS (SELECT doc_id, f, unnest(range(0, 8)) AS y FROM g),
        |px AS (SELECT doc_id, f, y, unnest(range(0, 9)) AS x FROM gy),
        |pv AS (
        |  SELECT doc_id, f, y, x,
        |    CASE WHEN x = 0 AND y = 0
        |      THEN (((doc_id*73 + (f//4)*1009 + x*151 + y*179 + 17)
        |             * (doc_id*73 + (f//4)*1009 + x*151 + y*179 + 17)
        |             // 7) % 256 + f % 4) % 256
        |      ELSE ((doc_id*73 + (f//4)*1009 + x*151 + y*179 + 17)
        |            * (doc_id*73 + (f//4)*1009 + x*151 + y*179 + 17)
        |            // 7) % 256
        |    END AS v
        |  FROM px),
        |bits AS (
        |  SELECT a.doc_id, a.f, a.y, a.x,
        |    CASE WHEN b.v > a.v THEN 1::HUGEINT ELSE 0::HUGEINT END AS bit
        |  FROM pv a JOIN pv b
        |    ON b.doc_id = a.doc_id AND b.f = a.f AND b.y = a.y
        |      AND b.x = a.x + 1
        |  WHERE a.x < 8),
        |hu AS (SELECT doc_id, f, sum(bit * (1::HUGEINT << (y*8 + x))) AS h
        |       FROM bits GROUP BY doc_id, f),
        |tr AS (
        |  SELECT a.doc_id, a.f AS frame_idx,
        |    bit_count(xor(
        |      CAST(CASE WHEN a.h >= 9223372036854775808::HUGEINT
        |        THEN a.h - 18446744073709551616::HUGEINT ELSE a.h END
        |        AS BIGINT),
        |      CAST(CASE WHEN p.h >= 9223372036854775808::HUGEINT
        |        THEN p.h - 18446744073709551616::HUGEINT ELSE p.h END
        |        AS BIGINT))) AS hamming
        |  FROM hu a JOIN hu p
        |    ON p.doc_id = a.doc_id AND p.f = a.f - 1)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(hamming AS BIGINT) AS hamming,
        |  CAST(CASE WHEN hamming > 3 THEN 1 ELSE 0 END AS INT) AS is_cut
        |FROM tr ORDER BY doc_id, frame_idx""".stripMargin)),

    // REAL PCM-WAV decode: a valid 44-byte RIFF/fmt/data header (8 kHz
    // mono s16le) + 8 samples u_i = (doc_id·13+5i) mod 65536 stored
    // little-endian; Multimodal.parseWav chunk-walks the container and
    // folds signed peak / Σ|s| — again closed-form verifiable.
    Q("mm_decode_wav",
      (s, d) => {
        val header = "52494646" + "34000000" + "57415645" + "666D7420" +
          "10000000" + "0100" + "0100" + "401F0000" + "803E0000" +
          "0200" + "1000" + "64617461" + "10000000"
        val samples = (0 until 8).flatMap { i =>
          val u = pmod(col("doc_id") * 13 + lit(5 * i), lit(65536))
          Seq(lpad(hex(pmod(u, lit(256))), 2, "0"),
            lpad(hex(shiftright(u.cast("int"), 8)), 2, "0"))
        }
        val withPayload = Tables.documents(s, d).select(col("doc_id"),
          unhex(concat(lit(header) +: samples: _*)).as("payload"))
        Multimodal.decodeWav(s, withPayload).toDF().orderBy("doc_id")
      },
      Some("""WITH s AS (
        |  SELECT doc_id, unnest(range(0, 8)) AS i FROM documents),
        |sv AS (
        |  SELECT doc_id,
        |    CASE WHEN (doc_id*13 + 5*i) % 65536 >= 32768
        |      THEN (doc_id*13 + 5*i) % 65536 - 65536
        |      ELSE (doc_id*13 + 5*i) % 65536 END AS v
        |  FROM s)
        |SELECT doc_id, 8000::BIGINT AS sample_rate, 1::BIGINT AS channels,
        |  16::BIGINT AS bits, 8::BIGINT AS n_samples,
        |  CAST(max(abs(v)) AS BIGINT) AS peak,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs
        |FROM sv GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // REAL audio-transform pipeline: WAV decode -> nearest-sample
    // resample 8 kHz -> 4 kHz -> RIFF re-encode -> re-decode (the
    // mm_resize_png contract for audio). Output frame i maps to input
    // frame 2i, so the re-decoded stats are closed-form: samples
    // u = (doc_id·13 + 10i) mod 65536, signed.
    Q("mm_resample_wav",
      (s, d) => {
        val header = "52494646" + "34000000" + "57415645" + "666D7420" +
          "10000000" + "0100" + "0100" + "401F0000" + "803E0000" +
          "0200" + "1000" + "64617461" + "10000000"
        val samples = (0 until 8).flatMap { i =>
          val u = pmod(col("doc_id") * 13 + lit(5 * i), lit(65536))
          Seq(lpad(hex(pmod(u, lit(256))), 2, "0"),
            lpad(hex(shiftright(u.cast("int"), 8)), 2, "0"))
        }
        val withPayload = Tables.documents(s, d).select(col("doc_id"),
          unhex(concat(lit(header) +: samples: _*)).as("payload"))
        Multimodal.resampleWav(s, withPayload, 4000)
          .toDF().orderBy("doc_id")
      },
      Some("""WITH s AS (
        |  SELECT doc_id, unnest(range(0, 4)) AS i FROM documents),
        |sv AS (
        |  SELECT doc_id,
        |    CASE WHEN (doc_id*13 + 10*i) % 65536 >= 32768
        |      THEN (doc_id*13 + 10*i) % 65536 - 65536
        |      ELSE (doc_id*13 + 10*i) % 65536 END AS v
        |  FROM s)
        |SELECT doc_id, 4000::BIGINT AS sample_rate, 1::BIGINT AS channels,
        |  16::BIGINT AS bits, 4::BIGINT AS n_samples,
        |  CAST(max(abs(v)) AS BIGINT) AS peak,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs
        |FROM sv GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // REAL audio feature extraction: the mm_decode_wav fixture (8
    // s16le samples u_i = (doc_id·13+5i) mod 65536 in a valid RIFF
    // container) framed at 4 samples/frame -> integer-exact features
    // per frame: energy = Σs², zcr = within-frame sign flips,
    // peak = max|s|, clipped = #{|s| >= 32767}. The oracle replays the
    // sample law and the identical frame math (lag window for zcr), so
    // a decoder or framing bug on ANY sample hash-fails. Scale shape:
    // decode + frame features are partition-local map-only work — the
    // 1 -> nFrames fan-out never crosses an exchange.
    Q("mm_audio_features",
      (s, d) => {
        val header = "52494646" + "34000000" + "57415645" + "666D7420" +
          "10000000" + "0100" + "0100" + "401F0000" + "803E0000" +
          "0200" + "1000" + "64617461" + "10000000"
        val samples = (0 until 8).flatMap { i =>
          val u = pmod(col("doc_id") * 13 + lit(5 * i), lit(65536))
          Seq(lpad(hex(pmod(u, lit(256))), 2, "0"),
            lpad(hex(shiftright(u.cast("int"), 8)), 2, "0"))
        }
        val withPayload = Tables.documents(s, d).select(col("doc_id"),
          unhex(concat(lit(header) +: samples: _*)).as("payload"))
        Multimodal.audioFeatures(s, withPayload, frameLen = 4)
          .toDF().orderBy("doc_id", "frame_pos")
      },
      Some("""WITH s AS (
        |  SELECT doc_id, unnest(range(0, 8)) AS i FROM documents),
        |sv AS (
        |  SELECT doc_id, i,
        |    CASE WHEN (doc_id*13 + 5*i) % 65536 >= 32768
        |      THEN (doc_id*13 + 5*i) % 65536 - 65536
        |      ELSE (doc_id*13 + 5*i) % 65536 END AS v
        |  FROM s),
        |fv AS (
        |  SELECT doc_id, i // 4 AS frame_pos, v,
        |    lag(v) OVER (PARTITION BY doc_id, i // 4 ORDER BY i) AS pv
        |  FROM sv)
        |SELECT doc_id, CAST(frame_pos AS BIGINT) AS frame_pos,
        |  CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS energy,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND ((v < 0) <> (pv < 0))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zcr,
        |  CAST(max(abs(v)) AS BIGINT) AS peak,
        |  CAST(sum(CASE WHEN abs(v) >= 32767 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS clipped
        |FROM fv GROUP BY doc_id, frame_pos
        |ORDER BY doc_id, frame_pos""".stripMargin)),

    // Perceptual AUDIO near-dup pairs: each doc gets a 260-sample clip
    // under the quadratic-scramble law v = ((t² div 7) mod 4096) − 2048,
    // t = (id div 2)·73 + 151·i + 17 (odd ids perturb ONLY sample 0 —
    // near-twins), the clip goes through the REAL container round
    // (encodeWav -> wavSamples chunk walk), and the 64-bit envelope
    // hash (bit k = E(k+1) > E(k) over 65 4-sample frame energies —
    // dHash's sign-of-delta law on the time axis) mines through the
    // SAME Manku block miner as image dHash (Multimodal.hammingPairs).
    // The oracle replays sample law -> frame energies -> delta bits ->
    // HUGEINT hash assembly with two's-complement fold-back -> the
    // identical block mine-and-verify.
    Q("mm_audio_fp_pairs",
      (s, d) => Sinks.exportSorted(Multimodal.audioFpPairs(
        Multimodal.envelopeFixtures(s, Tables.documents(s, d))),
        Seq("doc_a", "doc_b")),
      Some(s"""WITH $dAudioFpCte,
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.fp AS ha, b.fp AS hb
        |  FROM abb a JOIN abb b
        |    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Streaming AUDIO near-dup screen, batch twin: the generalized
    // perceptual screen (DocStreams.dhashScreen with hashCol = "fp")
    // probes the envelope-hash block index with every 10th clip — the
    // stream_dhash_screen shape on the audio family, zero new
    // streaming code because the block geometry is SHARED.
    Q("stream_audiofp_screen",
      (s, d) => {
        val ids = Tables.documents(s, d)
        val arr = Multimodal.envelopeFixtures(
          s, ids.filter(col("doc_id") % 10 === 0))
        val corp = Multimodal.envelopeFixtures(
          s, ids.filter(col("doc_id") % 10 =!= 0))
        graft.streaming.DocStreams.dhashScreen(
          arr, graft.streaming.DocStreams.dhashIndex(corp, hashCol = "fp"),
          hashCol = "fp")
          .orderBy("doc_id", "matched_id", "block_pos")
      },
      Some(s"""WITH $dAudioFpCte
        |SELECT a.doc_id, c.doc_id AS matched_id,
        |       CAST(a.blk AS BIGINT) AS block_pos,
        |       CAST(bit_count(xor(a.fp, c.fp)) AS BIGINT) AS hamming
        |FROM abb a JOIN abb c ON a.blk = c.blk AND a.bval = c.bval
        |WHERE a.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
        |  AND bit_count(xor(a.fp, c.fp)) <= 3
        |ORDER BY a.doc_id, matched_id, block_pos""".stripMargin)),

    // Perceptual dedup SURVIVORS: the image pair miner's output feeds
    // the SAME connected-components completion the text MinHash family
    // uses (Dedup.clusters — min doc_id per component), and the
    // survivor per cluster is its representative. Cross-family
    // composition: pairs from one modality, clustering from another
    // operator, no new machinery. The oracle replays the dHash pair
    // mine and the recursive transitive closure.
    Q("mm_dhash_survivors",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id")
        val pairs = Multimodal.dhashPairs(
          Multimodal.dhashFixtures(s, docs).toDF())
        Dedup.clusters(docs, pairs)
          .withColumn("keep",
            (col("doc_id") === col("cluster_id")).cast("int"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $dDhashCte,
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bb a JOIN bb b
        |    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM cand
        |  UNION ALL SELECT doc_b, doc_a FROM cand),
        |reach AS (
        |  SELECT doc_id, doc_id AS r FROM documents
        |  UNION
        |  SELECT e.dst AS doc_id, reach.r FROM reach JOIN edges e
        |    ON e.src = reach.doc_id),
        |lab AS (
        |  SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY 1)
        |SELECT doc_id, cluster_id,
        |  CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS INT)
        |    AS keep
        |FROM lab ORDER BY doc_id""".stripMargin)),

    // REAL compressed-audio decode, pure JVM: each doc gets a valid
    // one-block mono IMA-ADPCM WAV (format tag 0x11 — Multimodal
    // .adpcmFixture: initial predictor (id·97 mod 2001)−1000, step
    // index id mod 89, 40 nibbles (id·7+5j) mod 16), and Multimodal
    // .parseAdpcmWav chunk-walks the container and runs the published
    // table decode (89-entry step table, index-adjust walk, s16
    // clamping). The oracle replays the identical state machine as a
    // RECURSIVE CTE — one (pred, idx, Σ|s|, max|s|) state row per
    // sample step, the step table as an inline list literal — so a
    // decoder that misreads the block header, mispacks nibble order,
    // or diverges from the tables on ANY of the 40 steps hash-fails.
    Q("mm_decode_adpcm",
      (s, d) => Multimodal.decodeAdpcmFixtures(
        s, Tables.documents(s, d).select("doc_id"))
        .toDF().orderBy("doc_id"),
      Some {
        val steps = graft.operators.Multimodal.ImaSteps
          .mkString("[", ", ", "]")
        s"""WITH RECURSIVE st AS (
          |  SELECT doc_id, 0 AS j,
          |    CAST((doc_id * 97) % 2001 - 1000 AS BIGINT) AS pred,
          |    CAST(doc_id % 89 AS BIGINT) AS idx,
          |    CAST(abs((doc_id * 97) % 2001 - 1000) AS BIGINT) AS sabs,
          |    CAST(abs((doc_id * 97) % 2001 - 1000) AS BIGINT) AS peak
          |  FROM documents
          |  UNION ALL
          |  SELECT doc_id, j + 1, np AS pred,
          |    greatest(0, least(88, idx + adj)) AS idx,
          |    sabs + abs(np) AS sabs, greatest(peak, abs(np)) AS peak
          |  FROM (
          |    SELECT doc_id, j, idx, sabs, peak,
          |      greatest(-32768, least(32767, pred +
          |        CASE WHEN (nib & 8) != 0 THEN -dmag ELSE dmag END))
          |        AS np,
          |      CASE (nib & 7) WHEN 4 THEN 2 WHEN 5 THEN 4
          |        WHEN 6 THEN 6 WHEN 7 THEN 8 ELSE -1 END AS adj
          |    FROM (
          |      SELECT doc_id, j, idx, sabs, peak, pred, nib,
          |        (stp >> 3)
          |          + CASE WHEN (nib & 4) != 0 THEN stp ELSE 0 END
          |          + CASE WHEN (nib & 2) != 0 THEN (stp >> 1) ELSE 0 END
          |          + CASE WHEN (nib & 1) != 0 THEN (stp >> 2) ELSE 0 END
          |          AS dmag
          |      FROM (
          |        SELECT *, (doc_id * 7 + 5 * j) % 16 AS nib,
          |          ($steps)[CAST(idx + 1 AS INTEGER)] AS stp
          |        FROM st WHERE j < 40))))
          |SELECT doc_id, 8000::BIGINT AS sample_rate,
          |  1::BIGINT AS channels, 4::BIGINT AS bits,
          |  41::BIGINT AS n_samples, CAST(peak AS BIGINT) AS peak,
          |  CAST(sabs AS BIGINT) AS sum_abs
          |FROM st WHERE j = 40 ORDER BY doc_id""".stripMargin
      }),

    // REAL compressed-audio ENCODE + decode round trip: each doc gets
    // a closed-form 41-sample PCM waveform s_j = ((id·13+7j) mod
    // 4001) − 2000, the IMA encoder quantizes it (successive-
    // approximation nibbles against step/2/4 thresholds, decoder-
    // lockstep state update), the bytes ride a real container, and
    // parseAdpcmWav decodes them back. The oracle replays the FUSED
    // encoder+decoder state machine per sample — a recursive CTE
    // whose reconstruction cascade (b4/b2/b1 threshold subtraction,
    // rec sum, clamp, index walk) must match the published algorithm
    // on every one of the 40 steps or the stats hash-fail. This is
    // the full codec symmetry: mm_decode_adpcm proves decode,
    // this proves quantize→pack→parse→decode end to end.
    Q("mm_adpcm_roundtrip",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val pcm = Array.tabulate[Short](41)(j =>
              (((id * 13 + 7 * j) % 4001) - 2000).toShort)
            Multimodal.adpcmRoundTrip(id, 8000, pcm)
          }).toDF().orderBy("doc_id")
      },
      Some {
        val steps = graft.operators.Multimodal.ImaSteps
          .mkString("[", ", ", "]")
        s"""WITH RECURSIVE st AS (
          |  SELECT doc_id, 0 AS j,
          |    CAST((doc_id * 13) % 4001 - 2000 AS BIGINT) AS pred,
          |    CAST(0 AS BIGINT) AS idx,
          |    CAST(abs((doc_id * 13) % 4001 - 2000) AS BIGINT) AS sabs,
          |    CAST(abs((doc_id * 13) % 4001 - 2000) AS BIGINT) AS peak
          |  FROM documents
          |  UNION ALL
          |  SELECT doc_id, j + 1, np AS pred,
          |    greatest(0, least(88, idx +
          |      CASE nm WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6
          |        WHEN 7 THEN 8 ELSE -1 END)) AS idx,
          |    sabs + abs(np) AS sabs, greatest(peak, abs(np)) AS peak
          |  FROM (
          |    SELECT doc_id, j, idx, sabs, peak,
          |      greatest(-32768, least(32767, pred +
          |        CASE WHEN neg = 1 THEN -rec ELSE rec END)) AS np,
          |      4 * b4 + 2 * b2 + b1 AS nm
          |    FROM (
          |      SELECT *,
          |        (stp // 8) + b4 * stp + b2 * (stp // 2)
          |          + b1 * (stp // 4) AS rec
          |      FROM (
          |        SELECT *,
          |          CASE WHEN ad2 - b2 * (stp // 2) >= stp // 4
          |            THEN 1 ELSE 0 END AS b1
          |        FROM (
          |          SELECT *,
          |            CASE WHEN ad2 >= stp // 2 THEN 1 ELSE 0 END AS b2
          |          FROM (
          |            SELECT *, ad - b4 * stp AS ad2
          |            FROM (
          |              SELECT *,
          |                CASE WHEN ad >= stp THEN 1 ELSE 0 END AS b4
          |              FROM (
          |                SELECT doc_id, j, idx, sabs, peak, pred,
          |                  CASE WHEN sm - pred < 0 THEN 1 ELSE 0 END
          |                    AS neg,
          |                  abs(sm - pred) AS ad,
          |                  ($steps)[CAST(idx + 1 AS INTEGER)] AS stp
          |                FROM (
          |                  SELECT *, CAST((doc_id * 13 + 7 * (j + 1))
          |                    % 4001 - 2000 AS BIGINT) AS sm
          |                  FROM st WHERE j < 40)))))))))
          |SELECT doc_id, 8000::BIGINT AS sample_rate,
          |  1::BIGINT AS channels, 4::BIGINT AS bits,
          |  41::BIGINT AS n_samples, CAST(peak AS BIGINT) AS peak,
          |  CAST(sabs AS BIGINT) AS sum_abs
          |FROM st WHERE j = 40 ORDER BY doc_id""".stripMargin
      }),

    // REAL telephony codecs, both laws of ITU-T G.711: each doc's
    // closed-form full-range waveform s_j = ((id·29+11j) mod 65535) −
    // 32767 rides mu-law (bias-132, ones-complement wire bytes) and
    // A-law (13-bit segments, XOR 0x55) encode→decode; the row pins
    // decoded peak/Σ|y|/max-quant-error AND the code-byte sums (the
    // wire layout — complement + XOR — which decode∘encode alone
    // wouldn't pin). Companding is stateless, so the oracle is plain
    // per-sample CASE/shift arithmetic — no recursion needed, every
    // segment boundary and mantissa bit checked on 64 samples × every
    // doc.
    Q("mm_g711_roundtrip",
      (s, d) => Multimodal.g711Fixtures(
        s, Tables.documents(s, d).select("doc_id"))
        .toDF().orderBy("doc_id"),
      Some("""WITH sv AS (
        |  SELECT doc_id, t.j AS j,
        |    CAST((doc_id*29 + 11*t.j) % 65535 - 32767 AS BIGINT) AS x
        |  FROM documents, range(0, 64) t(j)),
        |u1 AS (SELECT doc_id, j, x, least(abs(x), 32635) + 132 AS um
        |  FROM sv),
        |u2 AS (SELECT *, CASE WHEN um >= 16384 THEN 7
        |  WHEN um >= 8192 THEN 6 WHEN um >= 4096 THEN 5
        |  WHEN um >= 2048 THEN 4 WHEN um >= 1024 THEN 3
        |  WHEN um >= 512 THEN 2 WHEN um >= 256 THEN 1 ELSE 0 END AS ue
        |  FROM u1),
        |u3 AS (SELECT *, (um >> (ue + 3)) & 15 AS umant FROM u2),
        |uu AS (SELECT doc_id, j, x,
        |  CASE WHEN x < 0 THEN -(((umant*8 + 132) << ue) - 132)
        |       ELSE ((umant*8 + 132) << ue) - 132 END AS uy,
        |  255 - ((CASE WHEN x < 0 THEN 128 ELSE 0 END) + ue*16 + umant)
        |    AS ucode
        |  FROM u3),
        |a1 AS (SELECT doc_id, j, x, least(abs(x), 32767) >> 3 AS am
        |  FROM sv),
        |a2 AS (SELECT *, CASE WHEN am >= 2048 THEN 7
        |  WHEN am >= 1024 THEN 6 WHEN am >= 512 THEN 5
        |  WHEN am >= 256 THEN 4 WHEN am >= 128 THEN 3
        |  WHEN am >= 64 THEN 2 WHEN am >= 32 THEN 1 ELSE 0 END AS ae
        |  FROM a1),
        |a3 AS (SELECT *, CASE WHEN ae = 0 THEN am >> 1
        |  ELSE (am >> ae) & 15 END AS amant FROM a2),
        |aa AS (SELECT doc_id, j, x,
        |  ((CASE WHEN ae = 0 THEN amant*2 + 1
        |        ELSE ((16 + amant) << ae) + (1 << (ae - 1)) END) << 3)
        |    * (CASE WHEN x >= 0 THEN 1 ELSE -1 END) AS ay,
        |  xor((CASE WHEN x >= 0 THEN 128 ELSE 0 END) + ae*16 + amant, 85)
        |    AS acode
        |  FROM a3)
        |SELECT u.doc_id, 64::BIGINT AS n_samples,
        |  CAST(max(abs(u.uy)) AS BIGINT) AS ulaw_peak,
        |  CAST(sum(abs(u.uy)) AS BIGINT) AS ulaw_sum_abs,
        |  CAST(max(abs(u.uy - u.x)) AS BIGINT) AS ulaw_max_err,
        |  CAST(sum(u.ucode) AS BIGINT) AS ulaw_code_sum,
        |  CAST(max(abs(a.ay)) AS BIGINT) AS alaw_peak,
        |  CAST(sum(abs(a.ay)) AS BIGINT) AS alaw_sum_abs,
        |  CAST(max(abs(a.ay - a.x)) AS BIGINT) AS alaw_max_err,
        |  CAST(sum(a.acode) AS BIGINT) AS alaw_code_sum
        |FROM uu u JOIN aa a ON a.doc_id = u.doc_id AND a.j = u.j
        |GROUP BY u.doc_id ORDER BY u.doc_id""".stripMargin)),

    // G.711 INSIDE the WAV container (format tags 6/7 — the standard
    // telephony WAV): each doc's closed-form code bytes c_j =
    // (id·13 + 7j) mod 256 ride one A-law and one µ-law RIFF
    // container (Multimodal.encodeG711Wav), and parseWav's chunk walk
    // routes the tag through alawDecode/ulawDecode (the ADPCM-tag
    // precedent) — so the container dispatch, not just the bare
    // companding math (mm_g711_roundtrip), is hash-gated. The oracle
    // replays both stateless decode laws per WIRE byte: a parser that
    // misreads the 18-byte non-PCM fmt, swaps the laws, or decodes
    // the pad byte diverges.
    Q("mm_decode_g711_wav",
      (s, d) => Multimodal.decodeG711WavFixtures(
        s, Tables.documents(s, d).select("doc_id"))
        .orderBy("doc_id", "law"),
      Some("""WITH cv AS (
        |  SELECT doc_id, t.j AS j,
        |    CAST((doc_id*13 + 7*t.j) % 256 AS BIGINT) AS c
        |  FROM documents, range(0, 48) t(j)),
        |uy AS (SELECT doc_id, j,
        |  CASE WHEN ((255 - c) & 128) != 0
        |    THEN -(((((255 - c) & 15)*8 + 132) << (((255 - c) >> 4) & 7))
        |      - 132)
        |    ELSE ((((255 - c) & 15)*8 + 132) << (((255 - c) >> 4) & 7))
        |      - 132 END AS y
        |  FROM cv),
        |ad AS (SELECT doc_id, j, xor(c, 85) AS a FROM cv),
        |ay AS (SELECT doc_id, j,
        |  ((CASE WHEN ((a >> 4) & 7) = 0 THEN (a & 15)*2 + 1
        |        ELSE ((16 + (a & 15)) << ((a >> 4) & 7))
        |          + (1 << (((a >> 4) & 7) - 1)) END) << 3)
        |    * (CASE WHEN (a & 128) != 0 THEN 1 ELSE -1 END) AS y
        |  FROM ad),
        |lw AS (
        |  SELECT doc_id, 'alaw' AS law, CAST(max(abs(y)) AS BIGINT) AS peak,
        |         CAST(sum(abs(y)) AS BIGINT) AS sum_abs
        |  FROM ay GROUP BY doc_id
        |  UNION ALL
        |  SELECT doc_id, 'ulaw' AS law, CAST(max(abs(y)) AS BIGINT) AS peak,
        |         CAST(sum(abs(y)) AS BIGINT) AS sum_abs
        |  FROM uy GROUP BY doc_id)
        |SELECT doc_id, law, 8000::BIGINT AS sample_rate,
        |  1::BIGINT AS channels, 8::BIGINT AS bits,
        |  48::BIGINT AS n_samples, peak, sum_abs
        |FROM lw ORDER BY doc_id, law""".stripMargin)),

    // REAL compressed-image decode, pure JDK: each doc gets a VALID
    // PNG payload (Multimodal.pngFixture — dims/color-type functions
    // of doc_id, pixel byte j = (doc_id·7+3j) mod 256, scanline
    // filters cycling through ALL FIVE types, stored-block zlib,
    // CRC'd chunks split into multiple IDATs), and Multimodal.parsePng
    // — signature check, CRC-verified chunk walk, Inflater, per-row
    // unfilter — recovers dims and integer channel means. The oracle
    // KNOWS the pixel construction, so a decoder that misparses the
    // header, drops an IDAT, or botches any filter's reconstruction
    // diverges. (The compressed payload itself can't be built in SQL —
    // the closed form lives in the DECODED statistics, the same
    // contract as mm_decode_ppm.)
    Q("mm_decode_png",
      (s, d) => Multimodal.decodePngFixtures(
        s, Tables.documents(s, d).select("doc_id"))
        .toDF().orderBy("doc_id"),
      Some("""WITH dims AS (
        |  SELECT doc_id, doc_id % 3 + 2 AS w, 5 + doc_id % 2 AS h,
        |    CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 6 END AS ct,
        |    CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS bpp
        |  FROM documents),
        |px AS (SELECT doc_id, w, h, ct, bpp,
        |  unnest(range(0, w*h)) AS p FROM dims),
        |sums AS (
        |  SELECT doc_id, w, h, ct, bpp,
        |    CAST(sum((doc_id*7 + 3*bpp*p) % 256) AS BIGINT) AS sr,
        |    CAST(sum((doc_id*7 + 3*bpp*p + 3) % 256) AS BIGINT) AS sg,
        |    CAST(sum((doc_id*7 + 3*bpp*p + 6) % 256) AS BIGINT) AS sb
        |  FROM px GROUP BY doc_id, w, h, ct, bpp)
        |SELECT doc_id, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height, 8::BIGINT AS bit_depth,
        |  CAST(ct AS BIGINT) AS color_type,
        |  CAST(h*(1+w*bpp) AS BIGINT) AS n_raw_bytes,
        |  CAST(sr // (w*h) AS BIGINT) AS mean_r,
        |  CAST(sg // (w*h) AS BIGINT) AS mean_g,
        |  CAST(sb // (w*h) AS BIGINT) AS mean_b
        |FROM sums ORDER BY doc_id""".stripMargin)),

    // REAL image-transform pipeline: PNG decode -> nearest-neighbor
    // resample -> PNG re-encode -> re-decode, per row, with the
    // RE-DECODED statistics exposed. Closed-form oracle: the resized
    // pixel at (x, y, c) is the fixture formula evaluated at the floor
    // source index (sx, sy) = (x·w÷outW, y·h÷outH) — a bug in either
    // codec direction OR the index arithmetic diverges the means.
    Q("mm_resize_png",
      (s, d) => {
        import s.implicits._
        val withPayload = Tables.documents(s, d).select("doc_id")
          .as[Long].mapPartitions(_.map(id => (id, Multimodal.pngFixture(id))))
          .toDF("doc_id", "payload")
        Multimodal.resizePng(s, withPayload, 3, 4).toDF().orderBy("doc_id")
      },
      Some("""WITH dims AS (
        |  SELECT doc_id, doc_id % 3 + 2 AS w, 5 + doc_id % 2 AS h,
        |    CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 6 END AS ct,
        |    CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS bpp
        |  FROM documents),
        |px AS (SELECT doc_id, w, ct, bpp,
        |    ((p % 3) * w) // 3 AS sx, ((p // 3) * h) // 4 AS sy
        |  FROM (SELECT *, unnest(range(0, 12)) AS p FROM dims)),
        |sums AS (
        |  SELECT doc_id, ct, bpp,
        |    CAST(sum((doc_id*7 + 3*(bpp*(sy*w+sx))) % 256) AS BIGINT) AS sr,
        |    CAST(sum((doc_id*7 + 3*(bpp*(sy*w+sx)) + 3) % 256) AS BIGINT) AS sg,
        |    CAST(sum((doc_id*7 + 3*(bpp*(sy*w+sx)) + 6) % 256) AS BIGINT) AS sb
        |  FROM px GROUP BY doc_id, ct, bpp)
        |SELECT doc_id, 3::BIGINT AS width, 4::BIGINT AS height,
        |  8::BIGINT AS bit_depth, CAST(ct AS BIGINT) AS color_type,
        |  CAST(4*(1+3*bpp) AS BIGINT) AS n_raw_bytes,
        |  CAST(sr // 12 AS BIGINT) AS mean_r,
        |  CAST(sg // 12 AS BIGINT) AS mean_g,
        |  CAST(sb // 12 AS BIGINT) AS mean_b
        |FROM sums ORDER BY doc_id""".stripMargin)),

    // JPEG through the PLATFORM codec (javax.imageio): real entropy
    // decode, but JPEG is lossy — pixel statistics are codec-rounding
    // dependent, so the query exposes ONLY the compression-invariant
    // columns (dims, exactly recoverable from the SOF header at any
    // quality; closed-form in doc_id). Lossy means and same-JDK
    // encode determinism are spec-pinned in MultimodalSpec.
    Q("mm_decode_jpeg",
      (s, d) => Multimodal.decodeJpegFixtures(
        s, Tables.documents(s, d).select("doc_id"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  CAST(doc_id % 3 + 2 AS BIGINT) AS width,
        |  CAST(5 + doc_id % 2 AS BIGINT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Batch twin of the STREAMING asset-triage screen
    // (graft.streaming.DocStreams.assetScreen — stateless, so the
    // identical function runs on both frame kinds; the stream/batch
    // equality is proven in DocStreamsSpec). Every 7th payload is
    // corrupted (one byte flipped inside the first IDAT's data, so
    // the chunk CRC check trips); the screen must flag it with −1
    // dims and decode the rest — closed-form both ways.
    Q("stream_asset_screen",
      (s, d) => {
        import s.implicits._
        val withPayload = Tables.documents(s, d).select("doc_id")
          .as[Long].mapPartitions(_.map { id =>
            val b = Multimodal.pngFixture(id)
            if (id % 7 == 0) b(50) = (b(50) ^ 0x55).toByte
            (id, b)
          }).toDF("doc_id", "payload")
        graft.streaming.DocStreams.assetScreen(withPayload)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS INTEGER) AS ok,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN -1
        |    ELSE doc_id % 3 + 2 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN -1
        |    ELSE 5 + doc_id % 2 END AS BIGINT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Batch twin of the STREAM-STREAM attribution join
    // (graft.streaming.EventStreams.attribution): every purchase
    // matched to same-user clicks in the preceding 30 minutes. The
    // operator is the Structured Streaming stream-stream join
    // (watermarks both sides, event-time range bounding state); in
    // batch the watermarks are no-ops and the oracle is the plain
    // inequality join.
    Q("stream_attribution",
      (s, d) => {
        val ev = Tables.events(s, d)
        graft.streaming.EventStreams.attribution(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"))
          .orderBy("purchase_id", "click_id")
      },
      Some("""SELECT p.event_id AS purchase_id, p.user_id,
        |  p.ts AS p_ts, c.event_id AS click_id, c.ts AS c_ts
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |ORDER BY purchase_id, click_id""".stripMargin)),

    // Backward as-of join (TemporalJoins.asOfJoin — union + window, one
    // equi-shuffle, never a nested loop): each purchase matched to the
    // user's latest click at-or-before it. The oracle is DuckDB's
    // native ASOF JOIN — an independent implementation of the same
    // semantics, so the hash match checks the operator, not the query.
    Q("asof_purchase_click",
      (s, d) => {
        val ev = Tables.events(s, d)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        // asOfJoin's contract wants (user_id, click_ts) unique on the
        // right: dedupe ties to a canonical winner (max value) so the
        // matched payload is well-defined in BOTH engines even if the
        // generator ever emits two same-microsecond clicks per user
        val c = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts").as("click_ts"))
          .agg(max(col("value")).as("click_value"))
        graft.operators.TemporalJoins
          .asOfJoin(p, c, Seq("user_id"), "ts", "click_ts", Seq("click_value"))
          .withColumn("gap_us",
            unix_micros(col("ts")) - unix_micros(col("click_ts")))
          .select("event_id", "user_id", "ts", "click_ts", "gap_us",
            "click_value")
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events
        |            WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, ts AS click_ts, max(value) AS click_value
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.ts, c.click_ts,
        |       epoch_us(p.ts) - epoch_us(c.click_ts) AS gap_us,
        |       c.click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.click_ts
        |ORDER BY p.event_id""".stripMargin)),

    // Interval join (TemporalJoins.rangeJoin — bucketized equi-join +
    // residual containment, explode factor ≤ 2): views landing inside
    // the hour after an error by the same user. Oracle is DuckDB's
    // inequality join — again an independent execution strategy.
    Q("range_error_views",
      (s, d) => {
        val ev = Tables.events(s, d)
        val iv = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("interval_id"), col("user_id"),
            col("ts").as("s"),
            (col("ts") + expr("INTERVAL 3600 SECONDS")).as("e"))
        val pt = ev.filter(col("event_type") === "view")
          .select(col("event_id").as("point_id"), col("user_id"), col("ts"))
        graft.operators.TemporalJoins
          .rangeJoin(pt, iv, Seq("user_id"), "ts", "s", "e", 3600L)
          .withColumn("offset_us",
            unix_micros(col("ts")) - unix_micros(col("s")))
          .select("point_id", "interval_id", "user_id", "offset_us")
          .orderBy("point_id", "interval_id")
      },
      Some("""WITH i AS (SELECT event_id AS interval_id, user_id, ts AS s,
        |                  ts + INTERVAL 3600 SECOND AS e
        |           FROM events WHERE event_type = 'error'),
        |     pt AS (SELECT event_id AS point_id, user_id, ts FROM events
        |            WHERE event_type = 'view')
        |SELECT pt.point_id, i.interval_id, pt.user_id,
        |       epoch_us(pt.ts) - epoch_us(i.s) AS offset_us
        |FROM pt JOIN i ON pt.user_id = i.user_id
        |              AND pt.ts >= i.s AND pt.ts < i.e
        |ORDER BY pt.point_id, i.interval_id""".stripMargin)),

    // TF-IDF top-3 terms per document. The idf is the BM25-style
    // RATIONAL form (n - df + 0.5)/(df + 0.5) — division and multiply
    // are correctly-rounded IEEE ops on identical operands in both
    // engines, so the scores are bit-identical with no transcendental
    // (ln) parity risk. tf/df aggregate on (doc, term)/(term); the
    // rank-3 filter compiles to WindowGroupLimit so only ≤3 rows per
    // doc survive the final window at scale.
    Q("text_tfidf_top_terms",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tf = docs.select(col("doc_id"),
            explode(TextFunctions.tokens(col("text"))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("nn"))
        val scored = tf.join(dfc, Seq("term")).crossJoin(broadcast(n))
          .withColumn("score", col("tf") *
            (((col("nn") - col("df")) + lit(0.5)) / (col("df") + lit(0.5))))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
        scored.withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("term"), col("tf"),
            col("df"), round(col("score"), 6).as("score"))
          .orderBy("doc_id", "rnk")
      },
      Some(s"""WITH $tokCte,
        |     tf AS (SELECT doc_id, t AS term, count(*)::BIGINT AS tf
        |            FROM (SELECT doc_id, unnest(w) AS t FROM tok)
        |            GROUP BY 1, 2),
        |     dfc AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |     n AS (SELECT count(*)::BIGINT AS nn FROM documents),
        |     scored AS (SELECT doc_id, term, tf, df,
        |                  tf * (((nn - df) + 0.5) / (df + 0.5)) AS score
        |                FROM tf JOIN dfc USING (term) CROSS JOIN n),
        |     ranked AS (SELECT doc_id, term, tf, df, score,
        |                  row_number() OVER (PARTITION BY doc_id
        |                    ORDER BY score DESC, term) AS rnk
        |                FROM scored)
        |SELECT doc_id, rnk, term, tf, df, round(score, 6) AS score
        |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)),

    // Batch twin of the STREAMING exact-dedup operator
    // (graft.streaming.EventStreams.dedupStream): the same code path —
    // watermark + dropDuplicatesWithinWatermark — run on a finite
    // frame, against an at-least-once replay (every event delivered
    // twice). Output determinism: the duplicates are full-row
    // identical, so whichever copy the dedup keeps, the content is
    // the same; event_id is unique, so the ORDER BY is total.
    Q("stream_dedup_replay",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
        graft.streaming.EventStreams.dedupStream(ev.union(ev))
          .select(col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
            col("user_id"), col("event_type"), col("value"))
          .orderBy("event_id")
      },
      Some("""WITH replay AS (
        |  SELECT * FROM events UNION ALL SELECT * FROM events)
        |SELECT DISTINCT event_id,
        |       strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS ts_s,
        |       user_id, event_type, value
        |FROM replay ORDER BY event_id""".stripMargin)),

    // Batch twin of the STREAMING near-dup ingest screen
    // (graft.streaming.DocStreams.nearDupScreen): every 10th doc
    // "arrives" and probes a static MinHash band index of the rest —
    // the stream-static join runs identically on a finite frame. One
    // row per (arriving doc, indexed doc, colliding band position).
    Q("stream_neardup_screen",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val screen = graft.streaming.DocStreams.nearDupScreen(
          docs.filter(col("doc_id") % 10 === 0),
          graft.streaming.DocStreams.bandRows(
            docs.filter(col("doc_id") % 10 =!= 0)))
        screen.select(col("doc_id"), col("matched_id"),
            col("band_pos").cast("long").as("band_pos"))
          .orderBy("doc_id", "matched_id", "band_pos")
      },
      Some(s"""WITH $tokCte, $shCte, $hsCte,
        |bands AS (
        |${(0 until 4).map(b =>
          s"  SELECT doc_id, ${b}::BIGINT AS band_pos, ${dBand("hs", b)} AS band FROM hsc")
          .mkString("\n  UNION ALL\n")}
        |)
        |SELECT a.doc_id, c.doc_id AS matched_id, a.band_pos
        |FROM bands a JOIN bands c
        |  ON a.band_pos = c.band_pos AND a.band = c.band
        |WHERE a.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
        |ORDER BY 1, 2, 3""".stripMargin)),

    // Batch twin of the STREAMING ANN screen
    // (graft.streaming.VecStreams.annScreen): every 20th vector
    // "arrives" (event time = one minute per vec_id), multi-probes a
    // static LSH index (bits = 4, the build-time width) and keeps its
    // top-3 matches per 1-hour window via the bounded-heap top_k
    // aggregate — watermark, stream-static bucket join, and TopKAgg
    // all on the batch path. Flattened to one row per (vec, rank) so
    // the oracle is a row_number window over the same candidates.
    Q("stream_ann_screen",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val arrivals = embs.filter(col("vec_id") % 20 === 0)
          .withColumn("ts", expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(vec_id as int),0)"))
          .select("vec_id", "embedding", "ts")
        val index = Similarity.buildIndex(
          embs.filter(col("vec_id") % 20 =!= 0), bits = 4)
        graft.streaming.VecStreams.annScreen(arrivals, index, k = 3, bits = 4)
          .select(col("hour"), col("vec_id"),
            posexplode(col("matches")).as(Seq("pos", "m")))
          .select(
            date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("vec_id"), col("m.label").as("cand"),
            col("m.score").as("sim"),
            (col("pos") + 1).cast("long").as("rank"))
          .orderBy("vec_id", "rank")
      },
      Some(s"""WITH ${dLshPrefixWith("SELECT 4 AS bits")},
        |${dProbes("q", " AND q.vec_id % 20 = 0")},
        |c AS (SELECT vec_id, emb, norm, bucket FROM bkt WHERE vec_id % 20 <> 0),
        |hits AS (
        |  SELECT q.vec_id, CAST(c.vec_id AS VARCHAR) AS cand,
        |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6) AS sim
        |  FROM q JOIN c USING (bucket)
        |),
        |ranked AS (
        |  SELECT vec_id, cand, sim,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY sim DESC, cand) AS rnk
        |  FROM hits
        |)
        |SELECT strftime(date_trunc('hour',
        |         timestamp '2024-01-01 00:00:00' + to_minutes(vec_id)),
        |         '%Y-%m-%d %H:%M:%S') AS hour,
        |       vec_id, cand, sim, rnk AS rank
        |FROM ranked WHERE rnk <= 3 ORDER BY vec_id, rank""".stripMargin)),

    // Batch twin of the SQ8-compressed streaming screen
    // (graft.streaming.VecStreams.sqScreen): every 20th vector
    // arrives, multi-probes its sign-bucket, and scores bucket-mates
    // of the non-arriving INT8 index in compressed domain — the
    // static join side carries codes + bucket only (floats dropped).
    // The oracle composes stream_ann_screen's bucket CTEs with
    // sim_sq_topk's quantization CTE, so routing and scoring each
    // stay byte-identical to their batch graders.
    Q("stream_sq_screen",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val arrivals = embs.filter(col("vec_id") % 20 === 0)
          .withColumn("ts", expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(vec_id as int),0)"))
          .select("vec_id", "embedding", "ts")
        val index = Similarity.sqIndex(
          embs.filter(col("vec_id") % 20 =!= 0), bits = 4)
        graft.streaming.VecStreams.sqScreen(arrivals, index, k = 3, bits = 4)
          .select(col("hour"), col("vec_id"),
            posexplode(col("matches")).as(Seq("pos", "m")))
          .select(
            date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("vec_id"), col("m.label").cast("long").as("cand"),
            col("m.score").cast("long").as("qscore"),
            (col("pos") + 1).cast("long").as("rank"))
          .orderBy("vec_id", "rank")
      },
      Some(s"""WITH ${dLshPrefixWith("SELECT 4 AS bits")},
        |${dProbes("qp", " AND q.vec_id % 20 = 0")},
        |$dSqCte,
        |cand AS (SELECT b.vec_id, b.bucket, s.sc, s.qv
        |         FROM bkt b JOIN sq s USING (vec_id)
        |         WHERE b.vec_id % 20 <> 0),
        |hits AS (
        |  SELECT qp.vec_id, c.vec_id AS cand_id,
        |         ${dIntDot("qs.qv", "c.qv")} * c.sc AS score
        |  FROM qp JOIN cand c ON qp.bucket = c.bucket
        |  JOIN sq qs ON qs.vec_id = qp.vec_id
        |),
        |ranked AS (
        |  SELECT vec_id, cand_id, score,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY score DESC, cand_id) AS rnk
        |  FROM hits
        |)
        |SELECT strftime(date_trunc('hour',
        |         timestamp '2024-01-01 00:00:00' + to_minutes(vec_id)),
        |         '%Y-%m-%d %H:%M:%S') AS hour,
        |       vec_id, cand_id AS cand, CAST(score AS BIGINT) AS qscore,
        |       rnk AS rank
        |FROM ranked WHERE rnk <= 3 ORDER BY vec_id, rank""".stripMargin)),

    // The AUTO-SIZED arm of the SQ8 streaming screen (round-15
    // verdict ask #8): stream_sq_screen pins bits=4 for oracle
    // determinism, which makes its scaling tail Θ(n²/2^bits) BY
    // CONSTRUCTION — chooseBits is the deployment answer, and this
    // arm makes that answer gate-visible: the index builds at
    // chooseBits(corpus count) so bucket occupancy stays ~target at
    // ANY corpus size, arrivals probe at the SAME width (bits is an
    // index property, recorded with the artifact), and the oracle
    // derives the identical width from the identical CASE chain over
    // the identical corpus-slice count.
    Q("stream_sq_screen_auto",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val corpus = embs.filter(col("vec_id") % 20 =!= 0)
        val bits = Similarity.chooseBits(corpus.count())
        val arrivals = embs.filter(col("vec_id") % 20 === 0)
          .withColumn("ts", expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(vec_id as int),0)"))
          .select("vec_id", "embedding", "ts")
        val index = Similarity.sqIndex(corpus, bits = bits)
        graft.streaming.VecStreams.sqScreen(arrivals, index, k = 3,
          bits = bits)
          .select(col("hour"), col("vec_id"),
            posexplode(col("matches")).as(Seq("pos", "m")))
          .select(
            date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("vec_id"), col("m.label").cast("long").as("cand"),
            col("m.score").cast("long").as("qscore"),
            (col("pos") + 1).cast("long").as("rank"))
          .orderBy("vec_id", "rank")
      },
      Some(s"""WITH ${dLshPrefixWith(s"SELECT $dBitsCase AS bits " +
          "FROM (SELECT count(*) AS cnt FROM embeddings " +
          "WHERE vec_id % 20 <> 0)")},
        |${dProbes("qp", " AND q.vec_id % 20 = 0")},
        |$dSqCte,
        |cand AS (SELECT b.vec_id, b.bucket, s.sc, s.qv
        |         FROM bkt b JOIN sq s USING (vec_id)
        |         WHERE b.vec_id % 20 <> 0),
        |hits AS (
        |  SELECT qp.vec_id, c.vec_id AS cand_id,
        |         ${dIntDot("qs.qv", "c.qv")} * c.sc AS score
        |  FROM qp JOIN cand c ON qp.bucket = c.bucket
        |  JOIN sq qs ON qs.vec_id = qp.vec_id
        |),
        |ranked AS (
        |  SELECT vec_id, cand_id, score,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY score DESC, cand_id) AS rnk
        |  FROM hits
        |)
        |SELECT strftime(date_trunc('hour',
        |         timestamp '2024-01-01 00:00:00' + to_minutes(vec_id)),
        |         '%Y-%m-%d %H:%M:%S') AS hour,
        |       vec_id, cand_id AS cand, CAST(score AS BIGINT) AS qscore,
        |       rnk AS rank
        |FROM ranked WHERE rnk <= 3 ORDER BY vec_id, rank""".stripMargin)),

    // Batch twin of the FILTERED streaming screen
    // (VecStreams.filteredScreen — labelFilteredTopK at the ingest
    // boundary): arrivals screen against same-LABEL index entries
    // only, the label riding the stream-static join as a second
    // equi-key (in-language / in-tenant ingest screening; a static
    // index partitioned by (label, bucket) prunes to the arriving
    // labels).
    Q("stream_filtered_screen",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val arrivals = embs.filter(col("vec_id") % 20 === 0)
          .withColumn("ts", expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(vec_id as int),0)"))
          .select("vec_id", "embedding", "label", "ts")
        val index = Similarity.buildIndexKeeping(
          embs.filter(col("vec_id") % 20 =!= 0), 4, "label")
        graft.streaming.VecStreams.filteredScreen(arrivals, index, k = 3,
          bits = 4)
          .select(col("hour"), col("vec_id"), col("label"),
            posexplode(col("matches")).as(Seq("pos", "m")))
          .select(
            date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("vec_id"), col("label").cast("long").as("label"),
            col("m.label").cast("long").as("cand"),
            col("m.score").as("sim"),
            (col("pos") + 1).cast("long").as("rank"))
          .orderBy("vec_id", "rank")
      },
      Some(s"""WITH ${dLshPrefixWith("SELECT 4 AS bits")},
        |${dProbes("qp", " AND q.vec_id % 20 = 0")},
        |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label
        |        FROM embeddings),
        |hits AS (
        |  SELECT qp.vec_id, ql.label, c.vec_id AS cand_id,
        |         round(${dDot("qp.emb", "c.emb")} / (qp.norm * c.norm), 6)
        |           AS sim
        |  FROM qp
        |  JOIN lab ql ON ql.vec_id = qp.vec_id
        |  JOIN bkt c ON c.bucket = qp.bucket AND c.vec_id % 20 <> 0
        |  JOIN lab cl ON cl.vec_id = c.vec_id AND cl.label = ql.label
        |),
        |ranked AS (
        |  SELECT vec_id, label, cand_id, sim,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY sim DESC, cand_id) AS rnk
        |  FROM hits
        |)
        |SELECT strftime(date_trunc('hour',
        |         timestamp '2024-01-01 00:00:00' + to_minutes(vec_id)),
        |         '%Y-%m-%d %H:%M:%S') AS hour,
        |       vec_id, label, cand_id AS cand, sim, rnk AS rank
        |FROM ranked WHERE rnk <= 3 ORDER BY vec_id, rank""".stripMargin)),

    // IVF index-balance profile — the routing-skew diagnostic run
    // before serving a trained index: per-cell occupancy, per-myriad
    // share, and LOAD FACTOR (10000 = balanced; the max row is the
    // straggler multiplier every probe of that cell pays; empty cells
    // appear as explicit zero rows — wasted routing resolution).
    Q("eval_ivf_balance",
      (s, d) => Similarity.indexHealth(Tables.embeddings(s, d)),
      Some(s"""WITH ${dKmCellsCte("8")},
        |cnt AS (SELECT cell, count(*) AS n FROM cells GROUP BY 1),
        |allc AS (SELECT unnest(range(0, 8)) AS cell),
        |filled AS (SELECT a.cell, COALESCE(c.n, 0) AS n_vecs
        |           FROM allc a LEFT JOIN cnt c USING (cell)),
        |tot AS (SELECT sum(n_vecs) AS n_total FROM filled)
        |SELECT cell, CAST(n_vecs AS BIGINT) AS n_vecs,
        |       CAST(n_vecs * 10000 // n_total AS BIGINT) AS share_pm,
        |       CAST(n_vecs * 8 * 10000 // n_total AS BIGINT) AS load_pm
        |FROM filled, tot ORDER BY cell""".stripMargin)),

    // Batch twin of the STREAMING IVF screen
    // (graft.streaming.VecStreams.ivfScreen): every 20th vector
    // arrives (one minute per vec_id), per-row-ranks the full-corpus
    // k-means centroids (driver-held model literal), and probes its 2
    // best cells of the non-arriving index — the trained-index
    // counterpart of stream_ann_screen, sharing the sim_ivf_topk
    // oracle's Lloyd CTE so the two cannot drift.
    Q("stream_ivf_screen",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val cents = Similarity.trainIvfCentroids(embs)
        val arrivals = embs.filter(col("vec_id") % 20 === 0)
          .withColumn("ts", expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(vec_id as int),0)"))
          .select("vec_id", "embedding", "ts")
        val index = Similarity.ivfCellsWith(
          embs.filter(col("vec_id") % 20 =!= 0), cents)
        graft.streaming.VecStreams.ivfScreen(arrivals, index, cents)
          .select(col("hour"), col("vec_id"),
            posexplode(col("matches")).as(Seq("pos", "m")))
          .select(
            date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("vec_id"), col("m.label").as("cand"),
            col("m.score").as("sim"),
            (col("pos") + 1).cast("long").as("rank"))
          .orderBy("vec_id", "rank")
      },
      Some(s"""WITH ${dKmCellsCte("8")},
        |q AS (
        |  SELECT v.vec_id, v.emb, v.norm, a.cent_id AS cell
        |  FROM a3 a JOIN v USING (vec_id)
        |  WHERE a.rk <= 2 AND v.vec_id % 20 = 0
        |),
        |c AS (SELECT vec_id, emb, norm, cell FROM cells
        |      WHERE vec_id % 20 <> 0),
        |hits AS (
        |  SELECT q.vec_id, CAST(c.vec_id AS VARCHAR) AS cand,
        |         round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6)
        |           AS sim
        |  FROM q JOIN c USING (cell)
        |),
        |ranked AS (
        |  SELECT vec_id, cand, sim,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY sim DESC, cand) AS rnk
        |  FROM hits
        |)
        |SELECT strftime(date_trunc('hour',
        |         timestamp '2024-01-01 00:00:00' + to_minutes(vec_id)),
        |         '%Y-%m-%d %H:%M:%S') AS hour,
        |       vec_id, cand, sim, rnk AS rank
        |FROM ranked WHERE rnk <= 3 ORDER BY vec_id, rank""".stripMargin)),

    // Batch twin of the HIERARCHICALLY-ROUTED streaming screen
    // (graft.streaming.VecStreams.ivf2Screen): every 20th vector
    // arrives and routes per row through the coarse-then-fine literal
    // models (nL1=4 -> nprobe1=2 cells -> nprobe2=4 fine lists of the
    // non-arriving corpus, assembled by the SAME Similarity.ivf2Cells
    // builder the batch ranker scans). The oracle composes the shared
    // two-level training CTEs (dKmCellsCte + dKm2Cte), so screen,
    // ranker, and trainer cannot drift.
    Q("stream_ivf2_screen",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val (l1, l2) = Similarity.trainIvfTwoLevel(embs)
        val arrivals = embs.filter(col("vec_id") % 20 === 0)
          .withColumn("ts", expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(vec_id as int),0)"))
          .select("vec_id", "embedding", "ts")
        val index = Similarity.ivf2Cells(
          embs.filter(col("vec_id") % 20 =!= 0), l1, l2, 4)
        graft.streaming.VecStreams.ivf2Screen(arrivals, index, l1, l2, 4)
          .select(col("hour"), col("vec_id"),
            posexplode(col("matches")).as(Seq("pos", "m")))
          .select(
            date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("vec_id"), col("m.label").as("cand"),
            col("m.score").as("sim"),
            (col("pos") + 1).cast("long").as("rank"))
          .orderBy("vec_id", "rank")
      },
      Some(s"""WITH ${dKmCellsCte("4")},
        |${dKm2Cte(4)},
        |qp1 AS (
        |  SELECT a.vec_id, a.cent_id AS cell
        |  FROM a3 a WHERE a.rk <= 2 AND a.vec_id % 20 = 0),
        |qf0 AS (
        |  SELECT q.vec_id, c.cent_id,
        |    round(${dDot("qv.emb", "c.cvd")} / (qv.norm * c.cnorm), 6)
        |      AS cent_sim
        |  FROM qp1 q JOIN v qv ON qv.vec_id = q.vec_id
        |  JOIN gw2n c ON c.cent_id // 4 = q.cell),
        |qf AS (
        |  SELECT vec_id, cent_id AS c2, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rk
        |  FROM qf0),
        |cor AS (SELECT vec_id, cent_id AS c2 FROM b3
        |        WHERE rk = 1 AND vec_id % 20 <> 0),
        |hits AS (
        |  SELECT q.vec_id, CAST(x.vec_id AS VARCHAR) AS cand,
        |    round(${dDot("qv.emb", "xv.emb")} / (qv.norm * xv.norm), 6)
        |      AS sim
        |  FROM qf q JOIN cor x USING (c2)
        |  JOIN v qv ON qv.vec_id = q.vec_id
        |  JOIN v xv ON xv.vec_id = x.vec_id
        |  WHERE q.rk <= 4),
        |ranked AS (
        |  SELECT vec_id, cand, sim,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY sim DESC, cand) AS rnk
        |  FROM hits
        |)
        |SELECT strftime(date_trunc('hour',
        |         timestamp '2024-01-01 00:00:00' + to_minutes(vec_id)),
        |         '%Y-%m-%d %H:%M:%S') AS hour,
        |       vec_id, cand, sim, rnk AS rank
        |FROM ranked WHERE rnk <= 3 ORDER BY vec_id, rank""".stripMargin)),

    // Batch twin of the COMPRESSED-DOMAIN streaming screen
    // (graft.streaming.VecStreams.pqScreen): every 20th vector
    // arrives (one minute per vec_id), routes to its 2 best IVF cells
    // per row AND precomputes its ADC lookup table from the
    // driver-held PQ codebook; the stream-static join probes the
    // non-arriving corpus's inverted lists, which carry ONLY the
    // 4-byte PQ codes — the static side of a streaming 100 TB index
    // is codes, not floats. Router, codebook, and ADC all share the
    // sim_ivfpq_topk oracle's training CTEs, so the streaming screen
    // cannot drift from the batch ranker.
    Q("stream_pq_screen",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        // concurrent trainers (guide §2.6) — same models, overlapped jobs
        val (model, cents) = Similarity.trainPqAndIvf(embs)
        val arrivals = embs.filter(col("vec_id") % 20 === 0)
          .withColumn("ts", expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(vec_id as int),0)"))
          .select("vec_id", "embedding", "ts")
        val lists = Similarity.ivfPqLists(
          embs.filter(col("vec_id") % 20 =!= 0), model, cents)
        graft.streaming.VecStreams.pqScreen(arrivals, lists, cents, model)
          .select(col("hour"), col("vec_id"),
            posexplode(col("matches")).as(Seq("pos", "m")))
          .select(
            date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("vec_id"), col("m.label").cast("long").as("cand"),
            (-col("m.score")).cast("long").as("adc"),
            (col("pos") + 1).cast("long").as("rank"))
          .orderBy("vec_id", "rank")
      },
      Some(s"""WITH ${dKmCellsCte("8")},
        |$dPqCte,
        |cds AS (SELECT vec_id, sub, cent_id FROM pqa3 WHERE rk = 1),
        |cor AS (SELECT c.vec_id, c.cell, x.sub, x.cent_id
        |        FROM cells c JOIN cds x USING (vec_id)
        |        WHERE c.vec_id % 20 <> 0),
        |qp AS (SELECT a.vec_id AS query_id, a.cent_id AS cell
        |       FROM a3 a WHERE a.rk <= 2 AND a.vec_id % 20 = 0),
        |qd AS (SELECT vec_id AS query_id, sub, cent_id, dist
        |       FROM pqa30 WHERE vec_id % 20 = 0),
        |adc AS (
        |  SELECT qp.query_id, cor.vec_id AS neighbor_id,
        |         CAST(sum(qd.dist) AS BIGINT) AS adc
        |  FROM qp JOIN cor ON cor.cell = qp.cell
        |  JOIN qd ON qd.query_id = qp.query_id AND qd.sub = cor.sub
        |    AND qd.cent_id = cor.cent_id
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rnk
        |  FROM adc
        |)
        |SELECT strftime(date_trunc('hour',
        |         timestamp '2024-01-01 00:00:00' + to_minutes(query_id)),
        |         '%Y-%m-%d %H:%M:%S') AS hour,
        |       query_id AS vec_id, neighbor_id AS cand, adc, rnk AS rank
        |FROM ranked WHERE rnk <= 3 ORDER BY vec_id, rank""".stripMargin)),

    // THE COMPOSED INGEST SCREEN (batch twin of
    // DocStreams.startIngestPipeline's per-micro-batch body): every
    // 10th doc "arrives" wrapped in deterministic HTML (a page, a
    // script with a bare '<' on %3), gets text-extracted, gated by the
    // Gopher scalar rules (stopwords injected on %2 so the stop rule
    // splits), perplexity-scored against the src0-src3 bigram LM, and
    // band-probed against the accepted (non-arriving) corpus — one
    // first-hit reject reason, near_dup ≻ quality ≻ perplexity.
    // The oracle composes the already-verified per-stage CTEs over the
    // PRE-markup injected text: extraction provably restores it (the
    // text_html_extract contract), so a broken extraction breaks this
    // hash too.
    Q("pipeline_ingest_screen",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val injected = docs.select(col("doc_id"), col("source"),
          concat(col("text"),
            when(col("doc_id") % 2 === 0, lit(" and that have with"))
              .otherwise(lit(""))).as("text"))
        val arrivingHtml = injected.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), concat(
            lit("<html><body><p>"), col("text"), lit("</p>"),
            when(col("doc_id") % 3 === 0,
              lit("<script>var a = 1 < 2;</script>")).otherwise(lit("")),
            lit("</body></html>")).as("text"))
        val corpusIdx = graft.streaming.DocStreams.bandRows(
          injected.filter(col("doc_id") % 10 =!= 0))
        val target = injected.filter(
          col("source").isin("src0", "src1", "src2", "src3"))
        graft.streaming.DocStreams.ingestVerdicts(arrivingHtml, corpusIdx,
          graft.operators.Perplexity.model(target), maxNll = 6350000L)
          .orderBy("doc_id")
      },
      Some(s"""WITH inj AS (
        |  SELECT doc_id, lang, source,
        |    text || (CASE WHEN doc_id % 2 = 0
        |      THEN ' and that have with' ELSE '' END) AS text
        |  FROM documents),
        |tok AS (SELECT doc_id, lang, source, text,
        |        string_split(text, ' ') AS w FROM inj),
        |$shCte, $hsCte,
        |bands AS (
        |${(0 until 4).map(b =>
          s"  SELECT doc_id, ${b}::BIGINT AS band_pos, ${dBand("hs", b)} AS band FROM hsc")
          .mkString("\n  UNION ALL\n")}
        |),
        |dup AS (
        |  SELECT DISTINCT a.doc_id
        |  FROM bands a JOIN bands c
        |    ON a.band_pos = c.band_pos AND a.band = c.band
        |  WHERE a.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
        |  GROUP BY a.doc_id, c.doc_id
        |  HAVING count(DISTINCT a.band_pos) >= 2),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
        |      AS sum_len,
        |    CAST(len(regexp_extract_all(text, '#'))
        |      + len(regexp_extract_all(text, '[.][.][.]')) AS BIGINT)
        |      AS n_symbols,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
        |      AS BIGINT) AS n_alpha_words,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      x -> list_contains(w, x))) AS BIGINT) AS n_req_stop
        |  FROM tok WHERE doc_id % 10 = 0),
        |${graft.analog.CorpusAnalogs.pplScoreCte},
        |v AS (
        |  SELECT m.doc_id, m.n_words,
        |    CAST((-psc.sum_lp) // psc.n_trans AS BIGINT) AS nll_per_tok,
        |    CASE WHEN dup.doc_id IS NOT NULL THEN 'near_dup'
        |      WHEN NOT (n_words >= 20 AND n_words <= 100000)
        |        THEN 'gopher_words'
        |      WHEN NOT (3*n_words <= sum_len AND sum_len <= 10*n_words)
        |        THEN 'gopher_len'
        |      WHEN NOT (10*n_symbols <= n_words) THEN 'gopher_sym'
        |      WHEN NOT (5*n_alpha_words >= 4*n_words) THEN 'gopher_alpha'
        |      WHEN NOT (n_req_stop >= 2) THEN 'gopher_stop'
        |      WHEN (-psc.sum_lp) // psc.n_trans > 6350000 THEN 'perplexity'
        |      ELSE 'ok' END AS reason
        |  FROM m JOIN psc ON m.doc_id = psc.doc_id
        |  LEFT JOIN dup ON m.doc_id = dup.doc_id)
        |SELECT doc_id, n_words, nll_per_tok, reason,
        |  CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS pass
        |FROM v ORDER BY doc_id""".stripMargin)),

    // INGEST SCREEN v2 — the URL stage composed IN FRONT (the
    // RefinedWeb order: URL-level screens run before any content
    // stage): every arriving page also carries a deterministic raw
    // URL (the WebAnalogs recipe at hostMod 3 with a doc_id-div-60
    // block path, so arrivals with doc_id%60 in {0,10,50} have an
    // in-block ±42 canonical twin in the accepted corpus and the
    // rest don't — both url verdict branches fire at EVERY shipped
    // SF); a page whose canonicalized
    // clean_url already exists in the accepted corpus' URL index
    // rejects as url_dup, the highest-precedence reason
    // (url_dup ≻ near_dup ≻ quality ≻ perplexity ≻ ok). The oracle
    // composes the v1 chain with the SHARED canonicalization CTEs
    // (WebAnalogs.dUrlCteFor — byte-identical regex text to
    // web_url_profile's), so neither the content stages nor the url
    // stage can drift from their standalone oracles.
    Q("pipeline_ingest_screen_v2",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val injected = docs.select(col("doc_id"), col("source"),
          concat(col("text"),
            when(col("doc_id") % 2 === 0, lit(" and that have with"))
              .otherwise(lit(""))).as("text"))
        val urlOf = expr(WebAnalogs.urlSql("STRING", 3, "doc_id div 60"))
        val arrivingHtml = injected.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), urlOf.as("url"), concat(
            lit("<html><body><p>"), col("text"), lit("</p>"),
            when(col("doc_id") % 3 === 0,
              lit("<script>var a = 1 < 2;</script>")).otherwise(lit("")),
            lit("</body></html>")).as("text"))
        val accepted = injected.filter(col("doc_id") % 10 =!= 0)
        val urlIdx = graft.operators.Web.urlProfile(
          accepted.select(col("doc_id"), urlOf.as("url")))
          .select("clean_url")
        val corpusIdx = graft.streaming.DocStreams.bandRows(accepted)
        val target = injected.filter(
          col("source").isin("src0", "src1", "src2", "src3"))
        graft.streaming.DocStreams.ingestVerdictsUrl(arrivingHtml, urlIdx,
          corpusIdx, graft.operators.Perplexity.model(target),
          maxNll = 6350000L)
          .orderBy("doc_id")
      },
      Some(s"""WITH inj AS (
        |  SELECT doc_id, lang, source,
        |    text || (CASE WHEN doc_id % 2 = 0
        |      THEN ' and that have with' ELSE '' END) AS text
        |  FROM documents),
        |tok AS (SELECT doc_id, lang, source, text,
        |        string_split(text, ' ') AS w FROM inj),
        |$shCte, $hsCte,
        |bands AS (
        |${(0 until 4).map(b =>
          s"  SELECT doc_id, ${b}::BIGINT AS band_pos, ${dBand("hs", b)} AS band FROM hsc")
          .mkString("\n  UNION ALL\n")}
        |),
        |dup AS (
        |  SELECT DISTINCT a.doc_id
        |  FROM bands a JOIN bands c
        |    ON a.band_pos = c.band_pos AND a.band = c.band
        |  WHERE a.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
        |  GROUP BY a.doc_id, c.doc_id
        |  HAVING count(DISTINCT a.band_pos) >= 2),
        |${WebAnalogs.dUrlCteFor(
          WebAnalogs.urlSql("VARCHAR", 3, "doc_id // 60"), "u")},
        |udup AS (
        |  SELECT DISTINCT a.doc_id
        |  FROM uprof a JOIN uprof c ON a.clean_url = c.clean_url
        |  WHERE a.doc_id % 10 = 0 AND c.doc_id % 10 <> 0),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
        |      AS sum_len,
        |    CAST(len(regexp_extract_all(text, '#'))
        |      + len(regexp_extract_all(text, '[.][.][.]')) AS BIGINT)
        |      AS n_symbols,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
        |      AS BIGINT) AS n_alpha_words,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      x -> list_contains(w, x))) AS BIGINT) AS n_req_stop
        |  FROM tok WHERE doc_id % 10 = 0),
        |${graft.analog.CorpusAnalogs.pplScoreCte},
        |v AS (
        |  SELECT m.doc_id, m.n_words,
        |    CAST((-psc.sum_lp) // psc.n_trans AS BIGINT) AS nll_per_tok,
        |    CASE WHEN udup.doc_id IS NOT NULL THEN 'url_dup'
        |      WHEN dup.doc_id IS NOT NULL THEN 'near_dup'
        |      WHEN NOT (n_words >= 20 AND n_words <= 100000)
        |        THEN 'gopher_words'
        |      WHEN NOT (3*n_words <= sum_len AND sum_len <= 10*n_words)
        |        THEN 'gopher_len'
        |      WHEN NOT (10*n_symbols <= n_words) THEN 'gopher_sym'
        |      WHEN NOT (5*n_alpha_words >= 4*n_words) THEN 'gopher_alpha'
        |      WHEN NOT (n_req_stop >= 2) THEN 'gopher_stop'
        |      WHEN (-psc.sum_lp) // psc.n_trans > 6350000 THEN 'perplexity'
        |      ELSE 'ok' END AS reason
        |  FROM m JOIN psc ON m.doc_id = psc.doc_id
        |  LEFT JOIN dup ON m.doc_id = dup.doc_id
        |  LEFT JOIN udup ON m.doc_id = udup.doc_id)
        |SELECT doc_id, n_words, nll_per_tok, reason,
        |  CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS pass
        |FROM v ORDER BY doc_id""".stripMargin)),

    // INGEST SCREEN v3 — the SEMANTIC-DECONTAMINATION leg composed in
    // (round-17 ask #6): v2's chain (url → near-dup → quality →
    // perplexity) plus the embedding-space paraphrase-leakage screen
    // the n-gram stage is blind to, at the documented precedence
    // url_dup ≻ near_dup ≻ semantic_contam ≻ gopher_* ≻ perplexity ≻
    // ok (dup/leak legs before content quality; url stays first —
    // cheapest). Arrivals map to embeddings by id (doc_id = vec_id —
    // the aligned fixture); at sf0.1 docs ≥ 2000 have NO embedding
    // row and skip the leg (left semantics — the realistic
    // embedding-coverage-lags-ingest shape, exercised at the bench
    // SF). The eval index is the stream_decontam_semantic set
    // (vec_id%10 ≠ 0 ∧ vec_id%9 = 0) at pinned bits = 4; the oracle
    // composes the v2 chain with the SHARED LSH CTE family
    // (dLshPrefixWith / dProbes), so neither the content stages nor
    // the semantic leg can drift from their standalone oracles.
    Q("pipeline_ingest_screen_v3",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val injected = docs.select(col("doc_id"), col("source"),
          concat(col("text"),
            when(col("doc_id") % 2 === 0, lit(" and that have with"))
              .otherwise(lit(""))).as("text"))
        val urlOf = expr(WebAnalogs.urlSql("STRING", 3, "doc_id div 60"))
        val arrivingHtml = injected.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), urlOf.as("url"), concat(
            lit("<html><body><p>"), col("text"), lit("</p>"),
            when(col("doc_id") % 3 === 0,
              lit("<script>var a = 1 < 2;</script>")).otherwise(lit("")),
            lit("</body></html>")).as("text"))
        val accepted = injected.filter(col("doc_id") % 10 =!= 0)
        val urlIdx = graft.operators.Web.urlProfile(
          accepted.select(col("doc_id"), urlOf.as("url")))
          .select("clean_url")
        val corpusIdx = graft.streaming.DocStreams.bandRows(accepted)
        val target = injected.filter(
          col("source").isin("src0", "src1", "src2", "src3"))
        val embs = Tables.embeddings(s, d)
        val arrEmbs = embs.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("doc_id"), col("embedding"))
        val evalIdx = Similarity.buildIndex(
          embs.filter(col("vec_id") % 10 =!= 0 && col("vec_id") % 9 === 0),
          bits = 4)
        graft.streaming.DocStreams.ingestVerdictsSemantic(arrivingHtml,
          arrEmbs, urlIdx, corpusIdx, evalIdx,
          graft.operators.Perplexity.model(target), maxNll = 6350000L)
          .orderBy("doc_id")
      },
      Some(s"""WITH inj AS (
        |  SELECT doc_id, lang, source,
        |    text || (CASE WHEN doc_id % 2 = 0
        |      THEN ' and that have with' ELSE '' END) AS text
        |  FROM documents),
        |tok AS (SELECT doc_id, lang, source, text,
        |        string_split(text, ' ') AS w FROM inj),
        |$shCte, $hsCte,
        |bands AS (
        |${(0 until 4).map(b =>
          s"  SELECT doc_id, ${b}::BIGINT AS band_pos, ${dBand("hs", b)} AS band FROM hsc")
          .mkString("\n  UNION ALL\n")}
        |),
        |dup AS (
        |  SELECT DISTINCT a.doc_id
        |  FROM bands a JOIN bands c
        |    ON a.band_pos = c.band_pos AND a.band = c.band
        |  WHERE a.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
        |  GROUP BY a.doc_id, c.doc_id
        |  HAVING count(DISTINCT a.band_pos) >= 2),
        |${WebAnalogs.dUrlCteFor(
          WebAnalogs.urlSql("VARCHAR", 3, "doc_id // 60"), "u")},
        |udup AS (
        |  SELECT DISTINCT a.doc_id
        |  FROM uprof a JOIN uprof c ON a.clean_url = c.clean_url
        |  WHERE a.doc_id % 10 = 0 AND c.doc_id % 10 <> 0),
        |${dLshPrefixWith("SELECT 4 AS bits")},
        |${dProbes("semq", " AND q.vec_id % 10 = 0")},
        |semc AS (SELECT vec_id, emb, norm, bucket FROM bkt
        |         WHERE vec_id % 10 <> 0 AND vec_id % 9 = 0),
        |sdup AS (
        |  SELECT DISTINCT q.vec_id AS doc_id
        |  FROM semq q JOIN semc c USING (bucket)
        |  WHERE round(${dDot("q.emb", "c.emb")} / (q.norm * c.norm), 6)
        |        >= 0.3),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
        |      AS sum_len,
        |    CAST(len(regexp_extract_all(text, '#'))
        |      + len(regexp_extract_all(text, '[.][.][.]')) AS BIGINT)
        |      AS n_symbols,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
        |      AS BIGINT) AS n_alpha_words,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      x -> list_contains(w, x))) AS BIGINT) AS n_req_stop
        |  FROM tok WHERE doc_id % 10 = 0),
        |${graft.analog.CorpusAnalogs.pplScoreCte},
        |v AS (
        |  SELECT m.doc_id, m.n_words,
        |    CAST((-psc.sum_lp) // psc.n_trans AS BIGINT) AS nll_per_tok,
        |    CASE WHEN udup.doc_id IS NOT NULL THEN 'url_dup'
        |      WHEN dup.doc_id IS NOT NULL THEN 'near_dup'
        |      WHEN sdup.doc_id IS NOT NULL THEN 'semantic_contam'
        |      WHEN NOT (n_words >= 20 AND n_words <= 100000)
        |        THEN 'gopher_words'
        |      WHEN NOT (3*n_words <= sum_len AND sum_len <= 10*n_words)
        |        THEN 'gopher_len'
        |      WHEN NOT (10*n_symbols <= n_words) THEN 'gopher_sym'
        |      WHEN NOT (5*n_alpha_words >= 4*n_words) THEN 'gopher_alpha'
        |      WHEN NOT (n_req_stop >= 2) THEN 'gopher_stop'
        |      WHEN (-psc.sum_lp) // psc.n_trans > 6350000 THEN 'perplexity'
        |      ELSE 'ok' END AS reason
        |  FROM m JOIN psc ON m.doc_id = psc.doc_id
        |  LEFT JOIN dup ON m.doc_id = dup.doc_id
        |  LEFT JOIN udup ON m.doc_id = udup.doc_id
        |  LEFT JOIN sdup ON m.doc_id = sdup.doc_id)
        |SELECT doc_id, n_words, nll_per_tok, reason,
        |  CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS pass
        |FROM v ORDER BY doc_id""".stripMargin))
  )
}
