package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Round-trip law per persisted model kind:
  * `load(save(train(x))) == train(x)` — frames row-exact, params and
  * driver-side arrays exact — plus the loud-failure contract on a
  * wrong directory.
  */
class ModelStoreSpec extends AnyFunSuite with SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_models").toString

  private def docs =
    spark.createDataFrame(Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "en"),
      (1L, "el rapido zorro marron salta sobre el perro", "es"),
      (2L, "der schnelle braune fuchs springt hoch", "de"),
      (3L, "the dog sleeps while the fox runs", "en"),
      (4L, "un perro y un zorro corren juntos", "es")))
      .toDF("doc_id", "text", "lang")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("artifact dirs are <Root>/<kind>_<md5 of the data dir>; invalidateFor drops only that dir's") {
    assert(ModelStore.dir("ivfpq_rrf", "/data/sf0.01") ===
      "target/models/ivfpq_rrf_" + java.security.MessageDigest.getInstance("MD5")
        .digest("/data/sf0.01".getBytes("UTF-8")).map("%02x".format(_)).mkString)
    assert(ModelStore.dir("sq", "/data/sf0.01") !== ModelStore.dir("sq", "/data/sf0.1"))
    val mine = ModelStore.dir("graft_spec_kind", "/data/invalidate-me")
    val other = ModelStore.dir("graft_spec_kind", "/data/keep-me")
    try {
      Seq(mine, other).foreach(d => new java.io.File(d).mkdirs())
      ModelStore.invalidateFor(spark, "/data/invalidate-me")
      assert(!new java.io.File(mine).exists())
      assert(new java.io.File(other).exists())
    } finally ModelStore.invalidate(spark, other)
  }

  test("NbModel round-trip: frames, params, and predictions survive") {
    val dir = tmp()
    val m = graft.operators.LangId.train(docs, buckets = 64)
    ModelStore.saveNb(m, dir)
    val back = ModelStore.loadNb(spark, dir)
    assert(back.buckets === m.buckets && back.n === m.n)
    assert(rows(back.delta) === rows(m.delta))
    assert(rows(back.langStats) === rows(m.langStats))
    val fresh = rows(graft.operators.LangId.predict(docs, m))
    assert(rows(graft.operators.LangId.predict(docs, back)) === fresh)
  }

  test("NbModel round-trip preserves the word-feature flag; a " +
    "pre-flag artifact loads as char-gram-only") {
    val dir = tmp()
    val m = graft.operators.LangId.train(docs, buckets = 64,
      wordFeats = true)
    ModelStore.saveNb(m, dir)
    val back = ModelStore.loadNb(spark, dir)
    assert(back.wordFeats && back.totalBuckets === 128)
    val fresh = rows(graft.operators.LangId.predict(docs, m))
    assert(rows(graft.operators.LangId.predict(docs, back)) === fresh)
    // legacy artifact: params without "wf" (pre-round-18 layout)
    val legacy = tmp()
    val m0 = graft.operators.LangId.train(docs, buckets = 64)
    ModelStore.saveNb(m0, legacy)
    val s = spark; import s.implicits._
    Seq(("buckets", 64L), ("n", 3L)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$legacy/params")
    assert(!ModelStore.loadNb(spark, legacy).wordFeats)
  }

  test("ensureFrame(validate = true) rebuilds on source drift; the " +
    "default stays serve-stale") {
    val s = spark; import s.implicits._
    val dir = tmp() + "/frame"
    val src1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val src2 = Seq((1L, "a"), (2L, "CHANGED")).toDF("id", "v")
    def build(src: org.apache.spark.sql.DataFrame) =
      src.select(col("id"), upper(col("v")).as("v"))
    ModelStore.ensureFrame(spark, dir, build(src1), Some(src1))
    // default: drifted source, stale artifact still served
    val servedStale = ModelStore.ensureFrame(spark, dir, build(src2),
      Some(src2))
    assert(rows(servedStale) === rows(build(src1)))
    // validate: drift detected via the stored .fp, artifact rebuilt
    val rebuilt = ModelStore.ensureFrame(spark, dir, build(src2),
      Some(src2), validate = true)
    assert(rows(rebuilt) === rows(build(src2)))
    // fresh artifact + validate: no rebuild churn (content stable)
    val again = ModelStore.ensureFrame(spark, dir, build(src2),
      Some(src2), validate = true)
    assert(rows(again) === rows(build(src2)))
  }

  test("LmModel round-trip") {
    val dir = tmp()
    val m = graft.operators.Perplexity.model(docs, buckets = 128)
    ModelStore.saveLm(m, dir)
    val back = ModelStore.loadLm(spark, dir)
    assert(back.buckets === m.buckets)
    assert(rows(back.pairLp) === rows(m.pairLp))
    assert(rows(back.ctxLp) === rows(m.ctxLp))
  }

  test("BPE merge-table round-trip") {
    val dir = tmp()
    val merges = graft.operators.BpeTrain.learnMerges(docs, nMerges = 6)
    ModelStore.saveBpe(merges, dir)
    assert(rows(ModelStore.loadBpe(spark, dir)) === rows(merges))
  }

  test("DSIR dense-model round-trip, order preserved") {
    val dir = tmp()
    val m = graft.operators.Curation.dsirModel(
      docs, docs.filter(col("doc_id") < 2), buckets = 256)
    ModelStore.saveDsir(m, dir, spark)
    assert(ModelStore.loadDsir(spark, dir).toSeq === m.toSeq)
  }

  test("IVF centroid round-trip, cell order preserved") {
    val dir = tmp()
    val embs = spark.createDataFrame(
      (0 until 12).map(i => (i.toLong,
        Seq.tabulate(4)(j => ((i * 7 + j) % 5 - 2).toFloat / 2f))))
      .toDF("vec_id", "embedding")
    val cents = graft.operators.Similarity.trainIvfCentroids(embs,
      nCells = 3)
    ModelStore.saveIvf(cents, dir, spark)
    val back = ModelStore.loadIvf(spark, dir)
    assert(back.length === cents.length)
    back.zip(cents).foreach { case (b, c) => assert(b.toSeq === c.toSeq) }
  }

  test("PQ codebook round-trip: subspace and centroid order preserved") {
    val dir = tmp()
    val embs = spark.createDataFrame(
      (0 until 24).map(i => (i.toLong,
        Seq.tabulate(graft.operators.Similarity.MaxDim)(j =>
          ((i * 13 + j * 5) % 9 - 4).toFloat / 4f))))
      .toDF("vec_id", "embedding")
    val m = graft.operators.Similarity.pqTrain(embs)
    ModelStore.savePq(m, dir, spark)
    val back = ModelStore.loadPq(spark, dir)
    assert(back.length === m.length)
    back.zip(m).foreach { case (bs, ms) =>
      assert(bs.length === ms.length)
      bs.zip(ms).foreach { case (b, c) => assert(b.toSeq === c.toSeq) }
    }
    // and the loaded pair scores identically to in-plan training
    val cents = graft.operators.Similarity.trainIvfCentroids(embs,
      nCells = 3)
    ModelStore.saveIvf(cents, s"$dir/ivf", spark)
    val trained = graft.operators.Similarity.ivfPqTopKWith(
      embs, m, cents, nQueries = 4, k = 2).collect().toSeq
    val loaded = graft.operators.Similarity.ivfPqTopKWith(
      embs, back, ModelStore.loadIvf(spark, s"$dir/ivf"),
      nQueries = 4, k = 2).collect().toSeq
    assert(loaded === trained)
  }

  test("partial PQ codebook fails loudly at load") {
    val dir = tmp()
    // sub 1 missing centroid 1: not a full 0..ksub-1 set
    spark.createDataFrame(
      Seq((0L, 0L, Seq(1L, 2L)), (0L, 1L, Seq(3L, 4L)),
        (1L, 0L, Seq(5L, 6L))))
      .toDF("sub", "cent_id", "cv")
      .write.mode("overwrite").parquet(s"$dir/codebook")
    val e = intercept[Exception] { ModelStore.loadPq(spark, dir) }
    assert(e.getMessage.contains("cent_id must be exactly"))
  }

  // 64-dim deterministic vectors (the PQ geometry needs MaxDim)
  private def embs64(shift: Int) = spark.createDataFrame(
    (0 until 40).map { i =>
      (i.toLong,
        Seq.tabulate(64)(j => ((((i * 37 + j * 11 + shift) % 19) - 9) / 10.0f)),
        i % 3)
    }).toDF("vec_id", "embedding", "label")

  test("ensureIvfPq trains+saves on first call, serves the ARTIFACT thereafter") {
    val dir = tmp() + "/ivfpq"
    val e = embs64(0)
    val (pq1, ivf1) = ModelStore.ensureIvfPq(e, dir)
    // first call == in-plan training exactly
    assert(pq1.map(_.map(_.toSeq)) ===
      graft.operators.Similarity.pqTrain(e).map(_.map(_.toSeq)))
    assert(ivf1.map(_.toSeq) ===
      graft.operators.Similarity.trainIvfCentroids(e).map(_.toSeq))
    // second call with DIFFERENT data returns the SAVED pair — proof
    // the load path serves and the trainer never re-runs (the caller
    // owns dir-keying; this is the documented staleness contract)
    val shifted = embs64(7)
    val (pq2, ivf2) = ModelStore.ensureIvfPq(shifted, dir)
    assert(pq2.map(_.map(_.toSeq)) === pq1.map(_.map(_.toSeq)))
    assert(ivf2.map(_.toSeq) === ivf1.map(_.toSeq))
    // and the shifted data genuinely trains a different model
    assert(graft.operators.Similarity.pqTrain(shifted)
      .map(_.map(_.toSeq)) !== pq1.map(_.map(_.toSeq)))
  }

  test("ensureNb trains+saves on first call, serves the artifact thereafter") {
    val dir = tmp() + "/nb"
    val m1 = ModelStore.ensureNb(docs, dir)
    val fresh = graft.operators.LangId.train(docs)
    assert(rows(m1.delta) === rows(fresh.delta))
    assert(m1.buckets === fresh.buckets && m1.n === fresh.n)
    // different seed, same dir -> the SAVED model serves (ensureIvfPq's
    // staleness contract: the caller keys dir to the data)
    val m2 = ModelStore.ensureNb(docs.limit(2), dir)
    assert(rows(m2.delta) === rows(m1.delta))
    assert(m2.n === m1.n)
  }

  test("ensureFrame builds once, reads back thereafter, schema-checked") {
    val dir = tmp() + "/idx"
    val first = ModelStore.ensureFrame(spark, dir,
      spark.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("k", "v"))
    assert(rows(first) === Seq("[1,a]", "[2,b]"))
    // a second call with a different SAME-SCHEMA builder serves the
    // stored rows — the artifact, not the builder, is the truth
    val second = ModelStore.ensureFrame(spark, dir,
      spark.createDataFrame(Seq((9L, "z"))).toDF("k", "v"))
    assert(rows(second) === Seq("[1,a]", "[2,b]"))
    // a different-schema builder against the same dir fails loudly
    val e = intercept[IllegalArgumentException] {
      ModelStore.ensureFrame(spark, dir,
        spark.createDataFrame(Seq((1L, 2L))).toDF("k", "n"))
    }
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("staleness contract: isStale fires on changed data, not on identical data") {
    val dir = tmp() + "/ivf2"
    val e = embs64(0)
    ModelStore.ensureIvf2(e, dir)
    // identical data (even re-ordered/re-partitioned) is NOT stale —
    // the fingerprint hash is order-independent
    assert(!ModelStore.isStale(spark, dir, e))
    assert(!ModelStore.isStale(spark, dir,
      e.orderBy(col("vec_id").desc).repartition(3)))
    // changed content at the SAME row count fires (the hash component)
    assert(ModelStore.isStale(spark, dir, embs64(7)))
    // grown data fires (the count component, even under hash luck)
    assert(ModelStore.isStale(spark, dir, e.unionByName(
      e.limit(1).withColumn("vec_id", col("vec_id") + 1000L))))
    // a dir with no recorded fingerprint is stale by definition
    assert(ModelStore.isStale(spark, tmp() + "/nowhere", e))
  }

  test("refreshIfStale invalidates a drifted artifact so ensure* retrains; fresh stays") {
    val dir = tmp() + "/nb2"
    ModelStore.ensureNb(docs, dir)
    // fresh: no-op, the stored model keeps serving
    assert(!ModelStore.refreshIfStale(spark, dir, docs))
    val m1 = ModelStore.ensureNb(docs.limit(2), dir) // stale-serve default
    assert(m1.n === graft.operators.LangId.train(docs).n)
    // drifted: refresh drops the artifact, the next ensure retrains on
    // the CURRENT corpus and records its fingerprint
    val drifted = docs.limit(3)
    assert(ModelStore.refreshIfStale(spark, dir, drifted))
    val m2 = ModelStore.ensureNb(drifted, dir)
    assert(m2.n === 3)
    assert(!ModelStore.isStale(spark, dir, drifted))
  }

  test("refresh cycle: the refreshed router serves the GROWN corpus's answers, not the stale one's") {
    import graft.operators.Similarity
    val dir = tmp() + "/ivf2rc"
    val small = embs64(0).filter(col("vec_id") < 30)
    // growth = genuinely NEW content (a different generator shift and
    // fresh ids), not more of the same periodic pattern — embs64's
    // symmetry would otherwise let both routers serve identical top-3
    val grown = small.unionByName(embs64(7)
      .filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + 100L))
    // yesterday: train + index on the small corpus
    val (l1a, l2a) = ModelStore.ensureIvf2(small, dir)
    assert(!ModelStore.refreshIfStale(spark, dir, small))
    // today: drift fires, artifact drops, ensure retrains on grown
    assert(ModelStore.refreshIfStale(spark, dir, grown))
    val (l1b, l2b) = ModelStore.ensureIvf2(grown, dir)
    assert(!ModelStore.isStale(spark, dir, grown))
    // retraining genuinely happened on the NEW corpus: the refreshed
    // router is not the stale one (the new content pulls centroids) —
    // a refresh that silently failed to fire would hand back l1a/l2a
    assert((l1b.map(_.toSeq), l2b.map(_.toSeq)) !==
      ((l1a.map(_.toSeq), l2a.map(_.toSeq))))
    // and the refreshed artifact serves the grown corpus's answers:
    // identical to in-plan training on the grown corpus, row-exact
    val refreshed = rows(Similarity.ivf2TopKFromIndex(
      Similarity.ivf2Cells(grown, l1b, l2b, 4), grown, l1b, l2b, 4))
    val inPlan = {
      val (f1, f2) = Similarity.trainIvfTwoLevel(grown, 4, 4, 2)
      rows(Similarity.ivf2TopKFromIndex(
        Similarity.ivf2Cells(grown, f1, f2, 4), grown, f1, f2, 4))
    }
    assert(refreshed === inPlan)
  }

  test("ensureFrame records the source fingerprint beside the frame when given") {
    val dir = tmp() + "/idxfp"
    val src = spark.createDataFrame(Seq((1L, "a"), (2L, "b"), (3L, "c")))
      .toDF("doc_id", "text")
    ModelStore.ensureFrame(spark, dir,
      src.groupBy("text").count(), Some(src))
    assert(!ModelStore.isStale(spark, s"$dir.fp", src))
    assert(ModelStore.isStale(spark, s"$dir.fp", src.limit(2)))
    // invalidate drops frame AND fingerprint sibling
    assert(ModelStore.invalidate(spark, dir))
    assert(ModelStore.isStale(spark, s"$dir.fp", src))
  }

  test("wrong directory fails loudly at load, names the mismatch") {
    val dir = tmp()
    // an LM saved where an NB is expected: schema check trips before
    // any scoring can run
    ModelStore.saveLm(
      graft.operators.Perplexity.model(docs, buckets = 64), dir)
    val e = intercept[Exception] { ModelStore.loadNb(spark, dir) }
    assert(e.getMessage.contains("schema mismatch") ||
      e.getMessage.contains("missing parameter") ||
      e.getMessage.contains("PATH_NOT_FOUND"))
    // and a frame-level mismatch also trips: point loadLm at the NB
    // layout (delta where pair_lp is expected is absent -> loud)
    val dir2 = tmp()
    ModelStore.saveNb(
      graft.operators.LangId.train(docs, buckets = 32), dir2)
    intercept[Exception] { ModelStore.loadLm(spark, dir2) }
  }
}
