package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Trained-model persistence: every model the pipeline trains
  * (BPE merge tables, the naive-Bayes language-ID, the DSIR bucket
  * model, the perplexity bigram LM, IVF centroids) saves as plain
  * parquet under a model directory and loads back SCHEMA-CHECKED —
  * so pipelines ship trained artifacts between sessions instead of
  * recomputing them per run, and a stale/foreign directory fails
  * loudly at load instead of silently scoring garbage.
  *
  * Layout: one subdirectory per frame, plus a one-row `params`
  * frame carrying the integer hyper-parameters that must travel with
  * the weights (the NbModel/LmModel in-memory contract — a model
  * built at B buckets but scored at another silently drops every
  * lookup — extended to disk). Everything is model-sized: saves are
  * tiny parquet writes, loads are broadcast-ready frames; the only
  * driver-side materialization is for models whose in-memory form is
  * already a driver-side array (DSIR, IVF centroids — both bounded
  * by construction).
  *
  * Round-trip law (ModelStoreSpec, one per model kind):
  * `load(save(train(x))) == train(x)` — frames compared row-exact,
  * params exactly.
  */
object ModelStore {

  /** Where stored artifacts live, relative to the working directory. */
  val Root = "target/models"

  /** The artifact directory of `kind` built from the data directory
    * `dataDir`: `<Root>/<kind>_<md5 of the dataDir path>`. The key is a
    * 128-bit digest of the full path, so two data dirs never share an
    * artifact (a foreign same-schema artifact would pass every schema
    * check), and it is filesystem-safe whatever the path's characters.
    */
  def dir(kind: String, dataDir: String): String =
    s"$Root/${kind}_${dirKey(dataDir)}"

  private def dirKey(d: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Drops every artifact [[dir]] built from `dataDir`, so the next
    * ensure* call rebuilds it against the directory's current content.
    */
  def invalidateFor(spark: SparkSession, dataDir: String): Unit = {
    val key = dirKey(dataDir)
    Option(new java.io.File(Root).listFiles())
      .foreach(_.filter(_.getName.endsWith(key))
        .foreach(f => invalidate(spark, f.getPath)))
  }

  /** Nullability (incl. array containsNull) is normalized away: the
    * parquet writer/reader round-trip does not preserve it, and the
    * check guards against WRONG frames, not wider nullability.
    */
  private def norm(t: DataType): DataType = t match {
    case ArrayType(et, _) => ArrayType(norm(et), containsNull = true)
    case other => other
  }

  private def checkSchema(df: DataFrame, expected: Seq[(String, DataType)],
      what: String): DataFrame = {
    val got = df.schema.map(f => (f.name, norm(f.dataType)))
    val want = expected.map { case (n, t) => (n, norm(t)) }
    require(got == want,
      s"$what: schema mismatch — expected $want, found $got")
    df
  }

  private def saveParams(spark: SparkSession, dir: String,
      params: Seq[(String, Long)]): Unit = {
    import spark.implicits._
    params.toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/params")
  }

  private def loadParams(spark: SparkSession, dir: String,
      keys: Seq[String]): Map[String, Long] = {
    val df = checkSchema(spark.read.parquet(s"$dir/params"),
      Seq("k" -> StringType, "v" -> LongType), s"$dir/params")
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keys.foreach(k => require(m.contains(k),
      s"$dir/params: missing parameter '$k' (have ${m.keys.toSeq.sorted})"))
    m
  }

  // ---- naive-Bayes language ID --------------------------------------

  private val NbDeltaSchema = Seq("lang" -> StringType, "b" -> LongType,
    "delta" -> LongType)
  private val NbStatsSchema = Seq("lang" -> StringType,
    "prior" -> LongType, "floor" -> LongType)

  def saveNb(m: graft.operators.LangId.NbModel, dir: String): Unit = {
    val spark = m.delta.sparkSession
    checkSchema(m.delta, NbDeltaSchema, "NbModel.delta")
      .write.mode("overwrite").parquet(s"$dir/delta")
    checkSchema(m.langStats, NbStatsSchema, "NbModel.langStats")
      .write.mode("overwrite").parquet(s"$dir/lang_stats")
    saveParams(spark, dir,
      Seq("buckets" -> m.buckets.toLong, "n" -> m.n.toLong,
        // feature-space version (round 18): 0 = char n-grams only,
        // 1 = + hashed word unigrams in [buckets, 2·buckets)
        "wf" -> (if (m.wordFeats) 1L else 0L)))
  }

  def loadNb(spark: SparkSession, dir: String)
      : graft.operators.LangId.NbModel = {
    val p = loadParams(spark, dir, Seq("buckets", "n"))
    val stats = checkSchema(spark.read.parquet(s"$dir/lang_stats"),
      NbStatsSchema, s"$dir/lang_stats")
    graft.operators.LangId.NbModel(
      checkSchema(spark.read.parquet(s"$dir/delta"), NbDeltaSchema,
        s"$dir/delta"),
      stats,
      p("buckets").toInt, p("n").toInt,
      // absent in pre-round-18 artifacts == the char-gram-only space
      p.getOrElse("wf", 0L) == 1L,
      // classes from the SAME loaded stats projection (round-19
      // ADVICE): for a stored model the langStats fallback is already
      // a cheap parquet scan, but populating it keeps the trained and
      // loaded provenances explicitly equivalent — classList is a
      // bounded parquet projection either way, never a gram walk
      classes = Some(stats.select("lang")))
  }

  // ---- perplexity bigram LM -----------------------------------------

  private val LmPairSchema = Seq("bp" -> LongType, "bn" -> LongType,
    "lp" -> LongType)
  private val LmCtxSchema = Seq("bp" -> LongType, "lp_ctx" -> LongType)

  def saveLm(m: graft.operators.Perplexity.LmModel, dir: String): Unit = {
    val spark = m.pairLp.sparkSession
    checkSchema(m.pairLp, LmPairSchema, "LmModel.pairLp")
      .write.mode("overwrite").parquet(s"$dir/pair_lp")
    checkSchema(m.ctxLp, LmCtxSchema, "LmModel.ctxLp")
      .write.mode("overwrite").parquet(s"$dir/ctx_lp")
    saveParams(spark, dir, Seq("buckets" -> m.buckets.toLong))
  }

  def loadLm(spark: SparkSession, dir: String)
      : graft.operators.Perplexity.LmModel = {
    val p = loadParams(spark, dir, Seq("buckets"))
    graft.operators.Perplexity.LmModel(
      checkSchema(spark.read.parquet(s"$dir/pair_lp"), LmPairSchema,
        s"$dir/pair_lp"),
      checkSchema(spark.read.parquet(s"$dir/ctx_lp"), LmCtxSchema,
        s"$dir/ctx_lp"),
      p("buckets").toInt)
  }

  // ---- BPE merge table ----------------------------------------------

  private val BpeSchema = Seq("rank" -> LongType, "left" -> StringType,
    "right" -> StringType, "merged" -> StringType, "cnt" -> LongType)

  def saveBpe(merges: DataFrame, dir: String): Unit =
    checkSchema(merges, BpeSchema, "BPE merges")
      .write.mode("overwrite").parquet(s"$dir/merges")

  def loadBpe(spark: SparkSession, dir: String): DataFrame =
    checkSchema(spark.read.parquet(s"$dir/merges"), BpeSchema,
      s"$dir/merges")

  // ---- DSIR dense bucket model --------------------------------------

  def saveDsir(model: Array[Long], dir: String,
      spark: SparkSession): Unit = {
    import spark.implicits._
    model.toSeq.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("i", "w").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/dsir")
  }

  def loadDsir(spark: SparkSession, dir: String): Array[Long] = {
    val rows = checkSchema(spark.read.parquet(s"$dir/dsir"),
      Seq("i" -> LongType, "w" -> LongType), s"$dir/dsir")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    require(rows.nonEmpty &&
      rows.map(_._1).toSeq == (0L until rows.length.toLong),
      s"$dir/dsir: bucket indexes must be exactly 0..n-1")
    rows.map(_._2)
  }

  // ---- IVF centroids ------------------------------------------------

  def saveIvf(cents: Seq[Array[Long]], dir: String,
      spark: SparkSession): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (cv, i) => (i.toLong, cv.toSeq) }
      .toDF("cent_id", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
  }

  def loadIvf(spark: SparkSession, dir: String): Seq[Array[Long]] = {
    val rows = checkSchema(spark.read.parquet(s"$dir/centroids"),
      Seq("cent_id" -> LongType,
        "cv" -> ArrayType(LongType, containsNull = false)),
      s"$dir/centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    require(rows.nonEmpty &&
      rows.map(_._1).toSeq == (0L until rows.length.toLong),
      s"$dir/centroids: cent_id must be exactly 0..k-1")
    rows.map(_._2).toSeq
  }

  // ---- PQ codebook ----------------------------------------------------

  /** Persist a product-quantization codebook
    * ([[graft.operators.Similarity.pqTrain]]'s m × ksub × subDim
    * integer centroids) as one (sub, cent_id, cv) frame — the same
    * model-sized row layout the trainer broadcasts in-plan. Together
    * with [[saveIvf]] this is the complete IVF-PQ deployment
    * artifact: router centroids + codebook travel as two parquet
    * dirs, and a 100 TB corpus is encoded/scored without ever
    * re-running training.
    */
  def savePq(model: Seq[Seq[Array[Long]]], dir: String,
      spark: SparkSession): Unit = {
    import spark.implicits._
    (for ((subs, s) <- model.zipWithIndex; (cv, c) <- subs.zipWithIndex)
      yield (s.toLong, c.toLong, cv.toSeq))
      .toDF("sub", "cent_id", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/codebook")
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  // ---- staleness contract ---------------------------------------------

  /** Corpus fingerprint — (row count, order-independent content hash):
    * one scan of `df`, constant-size result. The hash is the bitwise
    * XOR of xxhash64 over every column of every row, so it is
    * insensitive to row order and partitioning (parquet round-trips
    * and repartitions don't change it) but flips under any edit,
    * insert, or delete of a row's content; the row count catches the
    * XOR's one blind spot (a duplicated row pair cancels itself).
    * Cheap relative to training — a single pass with a two-value
    * aggregate — but it IS a corpus scan: staleness checks are a
    * deliberate maintenance operation, not something the serve path
    * pays per query (the ensure* serve-stale default stands).
    */
  def fingerprintOf(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)).as("n"),
      coalesce(call_function("bit_xor",
        xxhash64(df.columns.map(col): _*)), lit(0L)).as("h"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Record the fingerprint of an artifact's TRAINING data under the
    * artifact dir — written by every ensure* at (re)build time, read
    * back by [[isStale]]. The fingerprint is what makes the
    * serve-stale default DETECTABLE: without it a router trained on
    * last month's corpus silently serves wrong neighbors with no gate
    * (round-14 verdict ask).
    */
  def recordFingerprint(data: DataFrame, dir: String): Unit = {
    val spark = data.sparkSession
    import spark.implicits._
    val (n, h) = fingerprintOf(data)
    Seq((n, h)).toDF("n", "h").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/fingerprint")
  }

  /** Drift gate: does the artifact at `dir` NOT match `data`? True
    * when no completed fingerprint is recorded (nothing provably
    * fresh to serve — legacy artifacts and missing dirs are stale by
    * definition) or when the recorded (count, hash) differs from
    * `data`'s. One scan of `data`; the stored side is a one-row read.
    */
  def isStale(spark: SparkSession, dir: String, data: DataFrame): Boolean = {
    if (!pathExists(spark, s"$dir/fingerprint/_SUCCESS")) return true
    val r = checkSchema(spark.read.parquet(s"$dir/fingerprint"),
      Seq("n" -> LongType, "h" -> LongType), s"$dir/fingerprint").head()
    (r.getLong(0), r.getLong(1)) != fingerprintOf(data)
  }

  /** Drop the artifact at `dir` entirely (plus a frame artifact's
    * `dir.fp` fingerprint sibling, if one exists), so the caller's
    * next ensure* call retrains from scratch. Returns whether
    * anything existed to drop.
    */
  def invalidate(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fp = new org.apache.hadoop.fs.Path(dir + ".fp")
    if (fs.exists(fp)) fs.delete(fp, true)
    fs.exists(p) && fs.delete(p, true)
  }

  /** The refresh entry of the staleness contract: when the artifact
    * at `dir` is stale w.r.t. `data` ([[isStale]]), invalidate it and
    * return true — the caller's next ensure* then retrains on the
    * current corpus. A fresh artifact is left untouched (returns
    * false), so wiring this before an ensure* call turns serve-stale
    * into serve-or-retrain at the cost of one detection scan.
    */
  def refreshIfStale(spark: SparkSession, dir: String,
      data: DataFrame): Boolean = {
    val stale = isStale(spark, dir, data)
    if (stale) invalidate(spark, dir)
    stale
  }

  /** Train-once / probe-everywhere for the composed IVF-PQ artifact
    * pair: if `dir` holds a COMPLETED save (both parquet `_SUCCESS`
    * markers), load it; otherwise train both models on `embs`, save,
    * and load back. The loaded pair scores identically to in-plan
    * training (integer models round-trip exactly — ModelStoreSpec),
    * so repeated queries against a static corpus pay training ONCE —
    * the 100 TB deployment shape, where the index artifact outlives
    * any single job. The caller owns cache invalidation: `dir` must
    * key the training data (and geometry, if non-default) — a stale
    * artifact over CHANGED data scores garbage that the completeness
    * markers cannot catch. Drift IS detectable on demand: every
    * (re)build records the training corpus's fingerprint, and
    * [[isStale]] / [[refreshIfStale]] compare it against the current
    * corpus in one scan (the deliberate maintenance op; serving stays
    * serve-stale by default).
    */
  def ensureIvfPq(embs: org.apache.spark.sql.DataFrame, dir: String,
      nCells: Int = 8, iters: Int = 2)
      : (Seq[Seq[Array[Long]]], Seq[Array[Long]]) = {
    val spark = embs.sparkSession
    if (!pathExists(spark, s"$dir/pq/codebook/_SUCCESS") ||
        !pathExists(spark, s"$dir/ivf/centroids/_SUCCESS")) {
      // concurrent trainers (guide §2.6) — same artifacts, overlapped
      val (pqM, ivfM) = graft.operators.Similarity.trainPqAndIvf(
        embs, nCells, iters)
      savePq(pqM, s"$dir/pq", spark)
      saveIvf(ivfM, s"$dir/ivf", spark)
      recordFingerprint(embs, dir)
    }
    (loadPq(spark, s"$dir/pq"), loadIvf(spark, s"$dir/ivf"))
  }

  /** Train-once / probe-everywhere for the TWO-LEVEL IVF router
    * ([[graft.operators.Similarity.trainIvfTwoLevel]]): both levels
    * persist through [[saveIvf]]'s flat integer-table format (the L2
    * table's cent_id IS the composite cell·nL2+j index, which the
    * loader's 0..k−1 check accepts since the trainer fills every
    * slot). Same contract as [[ensureIvfPq]]: `dir` keys the training
    * data; a completed save is served, otherwise train+save+load.
    */
  def ensureIvf2(embs: org.apache.spark.sql.DataFrame, dir: String,
      nL1: Int = 4, nL2: Int = 4, iters: Int = 2)
      : (Seq[Array[Long]], Seq[Array[Long]]) = {
    val spark = embs.sparkSession
    if (!pathExists(spark, s"$dir/l1/centroids/_SUCCESS") ||
        !pathExists(spark, s"$dir/l2/centroids/_SUCCESS")) {
      val (l1, l2) = graft.operators.Similarity.trainIvfTwoLevel(
        embs, nL1, nL2, iters)
      saveIvf(l1, s"$dir/l1", spark)
      saveIvf(l2, s"$dir/l2", spark)
      recordFingerprint(embs, dir)
    }
    (loadIvf(spark, s"$dir/l1"), loadIvf(spark, s"$dir/l2"))
  }

  /** Train-once / score-everywhere for the naive-Bayes language-ID:
    * load the artifact from `dir` when a completed save exists, else
    * train on `seed`, save, and load back — the [[ensureIvfPq]]
    * contract for the NB model (the caller keys `dir` to the seed
    * data). The loaded model scores identically to the in-plan one
    * (integer frames round-trip exactly — ModelStoreSpec).
    */
  def ensureNb(seed: org.apache.spark.sql.DataFrame, dir: String)
      : graft.operators.LangId.NbModel = {
    val spark = seed.sparkSession
    if (!pathExists(spark, s"$dir/delta/_SUCCESS") ||
        !pathExists(spark, s"$dir/lang_stats/_SUCCESS") ||
        !pathExists(spark, s"$dir/params/_SUCCESS")) {
      saveNb(graft.operators.LangId.train(seed), dir)
      recordFingerprint(seed, dir)
    }
    loadNb(spark, dir)
  }

  /** Build-once corpus-side frame artifact (a stored INDEX, not a
    * model: MinHash signature tables, BM25 postings — corpus-sized
    * frames a retrieval family probes repeatedly): if `dir` holds a
    * completed parquet save, read it back; otherwise evaluate `build`,
    * save, and read back. The read-back frame is schema-checked
    * against the builder's plan schema (names + types, nullability
    * normalized) so a foreign or stale-layout directory fails loudly.
    * Row order is NOT preserved across the round-trip — callers must
    * consume the frame order-insensitively (joins/aggregates), the
    * contract every index probe here already satisfies.
    *
    * `fingerprintData`, when given, is the SOURCE corpus the built
    * index derives from: its fingerprint records at build time (under
    * `dir.fp`, beside the frame — the frame dir itself must stay a
    * plain parquet dataset) so [[isStale]]`(spark, dir + ".fp", src)`
    * can later detect source drift without re-running the corpus-
    * sized `build`.
    *
    * `validate = true` (round-18 ADVICE) runs that staleness check ON
    * THE READ PATH: an existing artifact whose recorded fingerprint
    * mismatches `fingerprintData`'s current content (or that has no
    * recorded fingerprint at all) is invalidated and rebuilt before
    * serving. The cost is one scan of the SOURCE corpus per call —
    * right for correctness-critical serves over data that may change
    * in place; the `false` default keeps serving scan-free
    * (serve-stale, the ensure* family's documented contract), with
    * drift still detectable on demand via [[isStale]] /
    * [[refreshIfStale]] and caught end-to-end by the Verify oracle
    * gate, which recomputes results from source.
    */
  def ensureFrame(spark: SparkSession, dir: String,
      build: => DataFrame,
      fingerprintData: Option[DataFrame] = None,
      validate: Boolean = false): DataFrame = {
    val fresh = build
    val expected = fresh.schema.map(f => (f.name, f.dataType))
    val exists = pathExists(spark, s"$dir/_SUCCESS")
    val stale = validate && exists &&
      fingerprintData.exists(d => isStale(spark, s"$dir.fp", d))
    if (stale) invalidate(spark, dir)
    if (!exists || stale) {
      fresh.write.mode("overwrite").parquet(dir)
      fingerprintData.foreach(recordFingerprint(_, s"$dir.fp"))
    }
    checkSchema(spark.read.parquet(dir), expected, dir)
  }

  /** Load a PQ codebook saved by [[savePq]], shape-checked: subspace
    * ids exactly 0..m−1, every subspace the same full 0..ksub−1
    * centroid set, every centroid the same dimension — a partial or
    * foreign codebook fails loudly instead of mis-encoding.
    */
  def loadPq(spark: SparkSession, dir: String): Seq[Seq[Array[Long]]] = {
    val rows = checkSchema(spark.read.parquet(s"$dir/codebook"),
      Seq("sub" -> LongType, "cent_id" -> LongType,
        "cv" -> ArrayType(LongType, containsNull = false)),
      s"$dir/codebook")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
    require(rows.nonEmpty, s"$dir/codebook: empty codebook")
    val bySub = rows.groupBy(_._1)
    val m = bySub.size
    require(bySub.keySet == (0L until m.toLong).toSet,
      s"$dir/codebook: sub ids must be exactly 0..${m - 1}")
    val ksub = bySub(0L).length
    val subDim = rows.head._3.length
    require(rows.forall(_._3.length == subDim),
      s"$dir/codebook: centroids must share one dimension ($subDim)")
    (0 until m).map { s0 =>
      val cents = bySub(s0.toLong).sortBy(_._2)
      require(cents.map(_._2).toSeq == (0L until ksub.toLong),
        s"$dir/codebook: sub $s0 cent_id must be exactly 0..${ksub - 1}")
      cents.map(_._3).toSeq
    }
  }
}
