package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.CacheScope

/** Benchmark decontamination and corpus-composition operators — the
  * train/eval hygiene half of an LLM-data pipeline (BASELINE.json
  * north star; no counterpart in the reference, whose surface is the
  * 7 rideshare tasks). The standard practice these implement is the
  * n-gram overlap screen of GPT-3 appendix C / PaLM §6: a training
  * document is contaminated if it shares enough distinct word n-grams
  * with any benchmark document.
  *
  * Scale design (100 TB train corpus, benchmark sets of at most a few
  * hundred thousand docs):
  *   - the benchmark side's exploded n-gram table is SMALL by
  *     definition — it broadcasts; the train side streams through one
  *     equi-join on an 8-byte n-gram hash. No shuffle of train text,
  *     no train-side self-anything.
  *   - overlap counting groups on (train doc, bench doc) — bounded by
  *     hits, which a sane screen keeps to a vanishing fraction.
  *   - the survivor set is a `left_anti` on the hit list: the corpus
  *     streams through once more and never materializes pair state.
  */
object Decontam {

  /** Distinct word n-gram shingles — forwarder kept for API locality;
    * the one implementation lives at
    * [[graft.functions.TextFunctions.shinglesN]] (shingles2 delegates
    * to it too, so the algorithms can't diverge).
    */
  def shinglesN(text: Column, n: Int): Column =
    graft.functions.TextFunctions.shinglesN(text, n)

  /** One row per (train doc, benchmark doc) sharing ≥ `minShared`
    * distinct word `n`-grams: (train_id, bench_id, n_shared). The
    * screen's hit list — audit it, then feed it to [[survivors]].
    *
    * Join key is the 60-bit md5-derived shingle hash
    * ([[graft.functions.TextFunctions.wordHash60]]): 8 bytes instead
    * of the shingle text crossing the join, with a collision rate
    * (~2⁻⁶⁰ per distinct-shingle pair) far below any screen's noise
    * floor, and exactly reproducible in the DuckDB oracle.
    *
    * `broadcastBench` (default true) force-broadcasts the EXPLODED
    * bench n-gram table — one row per (bench doc, distinct n-gram),
    * i.e. the bound is grams, not docs: right for eval suites up to
    * ~10⁷ grams (low GBs on the driver). For benchmark sets beyond
    * that, pass false — the join degrades to a shuffle on the same
    * 8-byte key with identical semantics.
    */
  def overlapScreen(train: DataFrame, bench: DataFrame, n: Int = 3,
      minShared: Int = 2, broadcastBench: Boolean = true): DataFrame =
    // repartition(1) + single-partition sort, not orderBy: the range
    // partitioner's sampling job re-executes the broadcast-join side
    // of the screen (no exchange above the scan to reuse), and the hit
    // list is a vanishing fraction of the corpus — the pair-miner tail
    // argument verbatim
    overlapCore(train, bench, n, minShared, broadcastBench)
      .repartition(1).sortWithinPartitions("train_id", "bench_id")

  /** The screen without the export tail — what composing operators
    * ([[survivors]], [[graft.operators.Curation.curateFull]]) consume:
    * a sorted single-partition hit list inside a larger plan would
    * serialize the downstream join onto one task.
    */
  private[operators] def overlapCore(train: DataFrame, bench: DataFrame,
      n: Int, minShared: Int, broadcastBench: Boolean = true): DataFrame =
    overlapOnGrams(gramHashes(train, "train_id", n),
      gramHashes(bench, "bench_id", n), minShared, broadcastBench)

  /** Exploded distinct-n-gram 60-bit hashes: (idAs, h) — the unit both
    * sides of every screen join on. The shingle walk, string-level
    * dedup, and md5 are the fused native
    * [[graft.expressions.GramHashes]] (identical values to the
    * composed explode+wordHash60 it replaced), so only longs cross
    * the explode.
    */
  private def gramHashes(df: DataFrame, idAs: String, n: Int): DataFrame =
    df.select(
      col("doc_id").as(idAs),
      explode(graft.expressions.TextExpressions.gramHashes60(
        tokens(col("text")), n)).as("h"))

  /** The pair verify over pre-computed gram tables — shared by the
    * broadcast-join path ([[overlapCore]]) and the Bloom-prescreened
    * path ([[bloomSurvivors]]), so the two can't diverge.
    */
  private def overlapOnGrams(tg: DataFrame, bg: DataFrame,
      minShared: Int, broadcastBench: Boolean): DataFrame = {
    val b = if (broadcastBench) broadcast(bg) else bg
    tg.join(b, "h")
      // distinct (train, bench, hash) — the same shared n-gram must
      // count once however many times either side repeats it
      .select("train_id", "bench_id", "h").distinct()
      .groupBy("train_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-train-doc contamination RATIO — the GPT-3-appendix form of
    * the screen ("a document is dirty if more than X% of its n-grams
    * appear in the benchmark set"), complementing the pairwise
    * [[overlapScreen]]: (doc_id, n_grams, n_contam, contam_pm) with
    * `contam_pm` the truncating per-myriad ratio n_contam·10000 ÷
    * n_grams — integer-exact, engine-portable. The bench side
    * collapses to its DISTINCT gram set (which benchmark doc matched
    * is irrelevant to the ratio), so the broadcast bound is the eval
    * suite's distinct grams. One explode + one broadcast left join +
    * one per-doc aggregate; documents with fewer than `n` tokens have
    * no grams and hence no definable ratio — they carry no row.
    */
  def overlapRatio(train: DataFrame, bench: DataFrame, n: Int = 3,
      broadcastBench: Boolean = true): DataFrame = {
    val tg = gramHashes(train, "doc_id", n)
    val bs = gramHashes(bench, "bench_id", n)
      .select("h").distinct().withColumn("_hit", lit(1L))
    val b = if (broadcastBench) broadcast(bs) else bs
    tg.join(b, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_contam"))
      .withColumn("contam_pm",
        expr("n_contam * 10000 div n_grams"))
      .orderBy("doc_id")
  }

  /** Training docs that hit NO benchmark doc at the screen's
    * threshold — the decontaminated keep set. One `left_anti` against
    * the hit list's train ids; the corpus never shuffles.
    */
  def survivors(train: DataFrame, bench: DataFrame, n: Int = 3,
      minShared: Int = 2): DataFrame =
    // sort-first (the text_quality pattern): the range exchange sorts
    // the CHEAP id scan, so its sampling pass re-reads one parquet
    // column instead of re-running the screen (orderBy-last would).
    // The broadcast anti-join streams the sorted side and preserves
    // its order — the export total order survives, fully distributed
    train.select("doc_id").orderBy("doc_id")
      .join(broadcast(overlapCore(train, bench, n, minShared)
        .select(col("train_id").as("doc_id"))),
        Seq("doc_id"), "left_anti")

  /** [[survivors]] behind a Bloom-filter prescreen — the shape the
    * screen takes when the benchmark n-gram set outgrows a broadcast
    * hash join. Result is EXACTLY `survivors(train, bench, n,
    * minShared)`:
    *
    *   1. the benchmark's distinct n-gram hashes fold into a Bloom
    *      filter on the driver (`fpp` false-positive rate; ~10 bits
    *      per gram at 1% — an order of magnitude under the ≥64-bit
    *      hash-set a broadcast join ships),
    *   2. the corpus streams through one codegen probe
    *      ([[graft.expressions.BloomMightContain]]) and the SURVIVING
    *      GRAMS feed the exact pair verify directly: bloom errors are
    *      one-sided (false POSITIVES only), so a dropped gram is
    *      certainly absent from the bench side and could never have
    *      matched the verify's equi-join — while a false-positive gram
    *      simply finds no join partner. No second corpus pass, no
    *      per-doc suspect staging: the verify's join input is already
    *      cut to ~(true hits + fpp · corpus grams),
    *   3. the confirmed train ids anti-join the full corpus for the
    *      keep set.
    *
    * The 100 TB train side is scanned once for the probe+verify and
    * once for the id export — the same two passes as [[survivors]],
    * with the bench gram table replaced by ~10 bits/gram on the probe
    * path. `broadcastBench = false` degrades the verify join to a
    * shuffle of the probe survivors (the regime the bloom path exists
    * for); the probe itself never shuffles either way.
    *
    * The bench gram table is evaluated three times (filter sizing,
    * filter fold, verify join); by the screen's contract it is small,
    * so it persists for the query's lifetime
    * ([[graft.sources.CacheScope]]).
    */
  def bloomSurvivors(train: DataFrame, bench: DataFrame, n: Int = 3,
      minShared: Int = 2, fpp: Double = 0.01,
      broadcastBench: Boolean = true): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    val bg = CacheScope.persist(gramHashes(bench, "bench_id", n))
    val benchHashes = bg.select("h").distinct()
    val nGrams = benchHashes.count()
    // empty bench side (no docs, or none long enough to carry an
    // n-gram): nothing can be contaminated — and stat.bloomFilter over
    // zero rows yields a null-buffer filter whose probe NPEs, so the
    // guard is correctness, not just a fast path
    if (nGrams == 0L) return train.select("doc_id").orderBy("doc_id")
    // numBits spelled out (Spark's own -n·ln(p)/ln²2 optimum) and
    // clamped to ≥ 8: the fpp overload TRUNCATES the optimum to long,
    // so a tiny bench at a loose fpp (1 gram at 0.9) lands on numBits
    // = 0, which bloom_filter_agg rejects at analysis. Any clamp is
    // output-safe — bloom errors are one-sided and feed the exact
    // verify — it only shifts which false positives occur.
    val nBits = math.max(8L, math.ceil(
      -nGrams * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bf = benchHashes.stat.bloomFilter("h", nGrams, nBits)
    val probed = gramHashes(train, "train_id", n)
      .filter(graft.expressions.BloomExpressions.bloomMightContain(col("h"), bf))
    val confirmed = overlapOnGrams(probed, bg, minShared, broadcastBench)
      .select(col("train_id").as("doc_id")).distinct()
    // sort-first export, the survivors() pattern: the range exchange
    // sorts the cheap id scan; the broadcast anti-join preserves order
    train.select("doc_id").orderBy("doc_id")
      .join(broadcast(confirmed), Seq("doc_id"), "left_anti")
  }

  /** Per-document repetition profile over word `n`-grams — the
    * boilerplate/spam signal every quality-filter stack carries
    * (C4/Gopher-style repetition rules): total n-grams, distinct
    * n-grams, repetition ratio (1 − distinct/total; 0 for docs too
    * short to have one), and the top single-token share. Pure per-row
    * scalar work — no shuffle except the export sort.
    */
  def repetitionStats(docs: DataFrame, n: Int = 2): DataFrame = {
    // sort-first (the text_quality pattern): order the cheap base and
    // derive the scalars ON TOP of the sorted rows — narrow
    // projections preserve the range exchange's total order, and the
    // sampling pass re-executes only the scan, not the token walks
    val base = docs.select(col("doc_id"), col("text")).orderBy("doc_id")
    // three-step select (the text_quality shape): materialize the
    // token array once, then every non-cheap scalar once, then pure
    // arithmetic — a flat projection would re-tokenize and re-walk
    // the shingle tree per referencing metric (no CSE for interpreted
    // higher-order functions)
    val withW = base.select(col("doc_id"), tokens(col("text")).as("w"))
    val w = col("w")
    val scalars = withW.select(
      col("doc_id"),
      // total n-grams = max(len(w)-(n-1), 0)
      greatest(size(w) - lit(n - 1), lit(0)).cast("long").as("n_ngrams"),
      // distinct count via the fused native gram walk (string-level
      // dedup — count identical to size(shinglesNTokens))
      size(graft.expressions.TextExpressions.gramHashes60(w, n))
        .cast("long").as("n_distinct"),
      // top token count: one native codegen run-length walk over the
      // SORTED token array (equal tokens adjacent) — the interpreted
      // struct-state `aggregate` fold this replaced copied a 3-field
      // struct per element and dominated the operator's cost
      graft.expressions.TextExpressions.modalRunLength(array_sort(w))
        .as("run_best"),
      size(w).cast("long").as("n_tok"))
    scalars.select(
      col("doc_id"),
      col("n_ngrams"),
      col("n_distinct"),
      round(when(col("n_ngrams") > 0,
        lit(1.0) - col("n_distinct").cast("double")
          / col("n_ngrams").cast("double"))
        .otherwise(lit(0.0)), 6).as("repetition_ratio"),
      round(col("run_best").cast("double") / col("n_tok").cast("double"), 6)
        .as("top_token_share"))
  }

  /** Per-doc rare-bigram rate — a corpus-statistics quality signal
    * (the integer-exact stand-in for an n-gram LM perplexity screen:
    * documents dominated by bigrams the corpus has never or barely
    * seen are noise/garble candidates). A bigram occurrence is `rare`
    * iff its corpus-wide occurrence count is ≤ `maxCount`. Output:
    * (doc_id, n_bigrams, n_rare, rare_rate) for EVERY doc (no-bigram
    * docs rate 0).
    *
    * Scale shape: the corpus bigram-frequency table aggregates on the
    * 8-byte bigram hash and joins back on the same key — two shuffles
    * of (id, hash) pairs, never text; the hot boilerplate bigrams are
    * exactly the non-rare ones, and AQE's skew split covers them. All
    * counting is integer-exact; the single division rounds at 6 dp.
    *
    * The exploded (doc, bigram-hash) table persists: it feeds both the
    * corpus frequency aggregation and the rare-hash join-back, and
    * without the persist the tokenize+explode+md5 walk runs twice (the
    * two consumers prune different columns, so the exchanges don't
    * unify for reuse).
    */
  def rareBigramRate(docs: DataFrame, maxCount: Long = 2): DataFrame = {
    // positional (distinct = false): a bigram occurring k times in a
    // doc is k rare OCCURRENCES — multiplicity is the statistic
    // fanned out (round 18) — the Dedup.minhashPairs rationale: the
    // md5-per-bigram walk on a single-row-group scan is one-core
    val bg = CacheScope.persist(graft.sources.Par.fanOut(docs)
      .select(col("doc_id"),
        explode(graft.expressions.TextExpressions.gramHashes60(
          tokens(col("text")), 2, distinct = false)).as("h")))
    // join back only the RARE hashes: every surviving row is a rare
    // occurrence, so n_rare is a plain count — the non-rare (hot,
    // skew-prone) bigrams never cross the join at all. n_bigrams is a
    // per-row scalar (positional bigram count = max(len(w)-1, 0)), not
    // a join product.
    val rare = bg.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") <= maxCount).select("h")
    val nRare = bg.join(rare, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_rare"))
    docs.select(col("doc_id"),
        greatest(size(tokens(col("text"))) - 1, lit(0)).cast("long")
          .as("n_bigrams"))
      .join(nRare, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_bigrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        round(when(col("n_bigrams") > 0,
          coalesce(col("n_rare"), lit(0L)).cast("double")
            / col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)), 6).as("rare_rate"))
      .orderBy("doc_id")
  }

  /** Per-source corpus composition and uniform-target resampling
    * weights — the domain-mixture bookkeeping of a pretraining data
    * recipe (The Pile / DoReMi shape: observed token share vs target
    * share per domain). With k observed sources and a uniform target,
    * `samp_weight` = (1/k) / token_share: multiply each source's
    * sampling rate by it and the mixture lands on target.
    *
    * Scale: one aggregation over (source); the corpus-wide token total
    * joins back as a broadcast 1-row frame (the tfidf doc-count
    * pattern) — never a second scan.
    */
  def domainMix(docs: DataFrame): DataFrame = {
    val perSource = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val totals = perSource.agg(
      sum("n_tokens").as("tot_tokens"),
      count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(totals))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tot_tokens").cast("double"),
          6).as("token_share"),
        round((lit(1.0) / col("n_sources").cast("double")) /
          (col("n_tokens").cast("double") / col("tot_tokens").cast("double")),
          6).as("samp_weight"))
      .orderBy("source")
  }

  /** Temperature-scaled mixture weights (the mT5 / multilingual-LM
    * recipe, Xue et al. 2021 §3.1): target share q_s ∝ p_s^alpha for
    * observed token share p_s — alpha = 1 reproduces the corpus, 0 the
    * uniform target of [[domainMix]]; the standard 0.3 boosts tail
    * domains without flattening the head.
    *
    * Engine-exact determinism: p_s^alpha is the one transcendental, so
    * it lands on an integer micro-unit grid FIRST (`a` =
    * round(1e6·p_s^alpha) — the DSIR discipline; libm pow divergence
    * is ~1e-16 relative against the 1e-6 grid) and the shares/weights
    * are then IEEE-exact double products and divisions of those
    * integers, identically parenthesized in the oracle.
    *
    * Scale: identical to [[domainMix]] — one (source) aggregation, a
    * 1-row totals broadcast, plus a second k-row normalization
    * aggregate (k = distinct sources, never the corpus).
    */
  def domainMixTemperature(docs: DataFrame,
      alpha: Double = 0.3): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"alpha must be in [0,1], got $alpha")
    val perSource = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val totals = perSource.agg(sum("n_tokens").as("tot_tokens"))
    val scored = perSource.crossJoin(broadcast(totals))
      .withColumn("a",
        round(pow(col("n_tokens").cast("double") /
          col("tot_tokens").cast("double"), lit(alpha)) * 1e6)
          .cast("long"))
    val norm = scored.agg(sum("a").as("sum_a"))
    scored.crossJoin(broadcast(norm))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") /
          col("tot_tokens").cast("double"), 6).as("token_share"),
        round(col("a").cast("double") / col("sum_a").cast("double"), 6)
          .as("target_share"),
        round((col("a").cast("double") * col("tot_tokens").cast("double"))
          / (col("sum_a").cast("double") * col("n_tokens").cast("double")),
          6).as("samp_weight"))
      .orderBy("source")
  }

  // ---- Semantic (embedding-space) decontamination -------------------------

  /** Embedding-space contamination flags — the SEMANTIC complement of
    * the n-gram [[overlapScreen]]: paraphrased or lightly-rewritten
    * benchmark leakage shares no 3-grams but sits at high cosine, so
    * modern pipelines run both screens (the n-gram one catches verbatim
    * copies cheaply, this one catches the rewrites the n-gram screen is
    * blind to). A training vector is flagged when its cosine to ANY
    * eval vector clears `threshold`; the output is ONE row per flagged
    * training vector — (vec_id, eval_id, max_sim, n_hits) with eval_id
    * the best-matching benchmark item (ties to the smaller id) — i.e.
    * audit-sized, never pair-sized.
    *
    * Candidate generation is the [[Similarity.nearDupPairs]] geometry,
    * cross-frame: the corpus buckets once at corpus-sized bits
    * ([[Similarity.chooseBits]] — occupancy ~target at any corpus
    * size), the eval side (small by definition, like the n-gram
    * screen's bench frame) explodes Hamming-1 probes and BROADCASTS
    * into the bucket equi-join, so the 100 TB corpus is never
    * shuffled and never self-joined. Probe values are distinct, so
    * each (eval, corpus) pair matches at most once and `n_hits` is an
    * exact distinct-eval count.
    */
  def semanticHits(corpus: DataFrame, eval: DataFrame,
      threshold: Double = 0.3, bits: Int = 0,
      corpusN: Long = -1L): DataFrame = {
    val nb = if (bits > 0) bits
      else Similarity.chooseBits(if (corpusN >= 0L) corpusN else corpus.count())
    def norm(e: Column) = sqrt(Similarity.dot(e, e))
    val c = corpus
      .withColumn("bucket", Similarity.signBucket(col("embedding"), nb))
      .select(col("vec_id"), col("embedding").as("c_emb"),
        norm(col("embedding")).as("c_norm"), col("bucket"))
    val e = eval
      .withColumn("bucket", Similarity.signBucket(col("embedding"), nb))
      .select(col("vec_id").as("eval_id"), col("embedding").as("e_emb"),
        norm(col("embedding")).as("e_norm"),
        explode(Similarity.probeBuckets(col("bucket"), nb)).as("bucket"))
    broadcast(e).join(c, Seq("bucket"))
      .select(col("vec_id"), col("eval_id"),
        round(Similarity.dot(col("e_emb"), col("c_emb")) /
          (col("e_norm") * col("c_norm")), 6).as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("eval_id")).as("neg_eval"))).as("m"),
        count(lit(1)).as("n_hits"))
      .select(col("vec_id"), (-col("m.neg_eval")).as("eval_id"),
        col("m.sim").as("max_sim"), col("n_hits"))
      .orderBy("vec_id")
  }

  /** The corpus with [[semanticHits]]' flags removed — one broadcast
    * `left_anti` on the (audit-sized) hit list, the [[survivors]]
    * shape: the corpus streams through once, no pair state.
    */
  def semanticSurvivors(corpus: DataFrame, eval: DataFrame,
      threshold: Double = 0.3, bits: Int = 0,
      corpusN: Long = -1L): DataFrame = {
    val hits = semanticHits(corpus, eval, threshold, bits, corpusN)
      .select("vec_id")
    corpus.join(broadcast(hits), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .orderBy("vec_id")
  }
}
