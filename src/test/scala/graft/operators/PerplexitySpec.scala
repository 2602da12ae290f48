package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** graft.operators.Perplexity against a plain-JVM reference that
  * computes the stated model directly (md5 hashes, Scala Maps, libm
  * log — no Spark): transition construction with the BOS context,
  * add-1 bigram log-probs on the micro-nat grid, the first-hit
  * pair → context → floor lookup, integer sums and the truncating
  * average. Seeded random corpora cover sizes/overlaps the fixed
  * fixture doesn't.
  */
class PerplexitySpec extends AnyFunSuite with SparkSpec {

  private val B = 4096

  // ---- plain-JVM reference ----

  private def h60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  private def trans(t: String): Seq[(Long, Long)] = {
    val ub = t.split(" ", -1).toSeq.map(w => h60(w) % B)
    (B.toLong +: ub.dropRight(1)).zip(ub)
  }

  private def rnd(x: Double): Long =
    BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** (n_trans, sum_lp, nll_per_tok) per raw doc. */
  private def refScores(raw: Seq[(Long, String)], target: Seq[String])
      : Map[Long, (Long, Long, Long)] = {
    val ttr = target.flatMap(trans)
    val cu = ttr.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val cb = ttr.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    def lp(p: (Long, Long)): Long =
      if (cb.contains(p)) rnd(math.log((cb(p) + 1).toDouble)
        - math.log((cu(p._1) + B).toDouble))
      else if (cu.contains(p._1)) rnd(-math.log((cu(p._1) + B).toDouble))
      else rnd(-math.log(B.toDouble))
    raw.map { case (id, t) =>
      val lps = trans(t).map(lp)
      val sum = lps.sum
      id -> (lps.size.toLong, sum, -sum / lps.size)
    }.toMap
  }

  private def df(docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(docs).toDF("doc_id", "text")

  private val fixedRaw = Seq(
    0L -> "the cat sat on the mat",
    1L -> "the cat sat on the hat",
    2L -> "one", // single token: BOS transition only
    3L -> "", // empty text tokenizes to [""]: still one transition
    4L -> "completely unrelated gibberish zqx wvu",
    5L -> "the cat sat on the mat") // exact copy of doc 0
  private val fixedTarget = Seq(
    "the cat sat on the mat",
    "the dog sat on the log",
    "a cat and a dog")

  test("score matches the plain-JVM reference on the fixed fixture") {
    val got = Perplexity.score(df(fixedRaw), df(fixedTarget.zipWithIndex
      .map { case (t, i) => (100L + i, t) }))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === refScores(fixedRaw, fixedTarget))
  }

  test("identical docs score identically; in-model beats out-of-model") {
    val s = Perplexity.score(df(fixedRaw), df(fixedTarget.zipWithIndex
      .map { case (t, i) => (100L + i, t) }))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(s(0L) === s(5L))
    // doc 0 is verbatim target text; doc 4 shares nothing with it
    assert(s(0L) < s(4L))
  }

  test("score matches the reference on seeded random corpora") {
    val rng = new scala.util.Random(42)
    val vocab = Vector("the", "cat", "dog", "sat", "ran", "on", "mat",
      "log", "a", "and", "zz", "qq")
    def doc(): String =
      Seq.fill(1 + rng.nextInt(12))(vocab(rng.nextInt(vocab.size)))
        .mkString(" ")
    for (round <- 1 to 3) {
      val raw = (0L until (5 + rng.nextInt(20)).toLong).map(i => i -> doc())
      val target = Seq.fill(1 + rng.nextInt(6))(doc())
      val got = Perplexity.score(df(raw),
        df(target.zipWithIndex.map { case (t, i) => (1000L + i, t) }))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(got === refScores(raw, target), s"round $round")
    }
  }

  test("terciles: cuts are exact order statistics, labels monotone") {
    val rng = new scala.util.Random(7)
    val vocab = Vector("w0", "w1", "w2", "w3", "w4", "w5", "w6", "w7")
    def doc(): String =
      Seq.fill(1 + rng.nextInt(10))(vocab(rng.nextInt(vocab.size)))
        .mkString(" ")
    val raw = (0L until 30L).map(i => i -> doc())
    val target = Seq.fill(4)(doc()).zipWithIndex
      .map { case (t, i) => (1000L + i, t) }
    val before = cachedPlans
    val rows = graft.sources.CacheScope.run {
      val got = Perplexity.terciles(df(raw), df(target)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      assert(cachedPlans > before)
      got
    }
    assert(cachedPlans === before)
    assert(rows.length === 30)
    val byBucket = rows.groupBy(_._3)
    // every head nll <= every middle nll <= every tail nll
    def maxOf(b: String) = byBucket.get(b).map(_.map(_._2).max)
    def minOf(b: String) = byBucket.get(b).map(_.map(_._2).min)
    for (h <- maxOf("head"); mm <- minOf("middle")) assert(h <= mm)
    for (mm <- maxOf("middle"); t <- minOf("tail")) assert(mm <= t)
    // the head bucket holds at least rank-ceil(n/3) docs (ties can
    // push it past); head+middle at least ceil(2n/3)
    val nHead = byBucket.getOrElse("head", Array.empty).length
    val nMid = byBucket.getOrElse("middle", Array.empty).length
    assert(nHead >= 10)
    assert(nHead + nMid >= 20)
    // labels agree with the scores and cut definition, recomputed here
    val nlls = rows.map(_._2).sorted
    val t1 = nlls(9) // rank ceil(30/3)=10, 0-based 9
    val t2 = nlls(19)
    rows.foreach { case (_, nll, bucket) =>
      val expect = if (nll <= t1) "head" else if (nll <= t2) "middle"
        else "tail"
      assert(bucket === expect)
    }
  }

  test("screen transitions roll up to the batch score exactly") {
    val raw = df(fixedRaw)
    val target = df(fixedTarget.zipWithIndex
      .map { case (t, i) => (100L + i, t) })
    val screened = Perplexity.scoreTransitions(raw,
      Perplexity.model(target))
    import org.apache.spark.sql.functions._
    val rolled = screened.groupBy("doc_id")
      .agg(count(lit(1)).as("n_trans"), sum("lp").as("sum_lp"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val batch = Perplexity.score(raw, target).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rolled === batch)
    // pos is a 0-based dense per-doc sequence (the screen's sort key)
    val pos = screened.orderBy("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    pos.values.foreach(ps => assert(ps === (0L until ps.length)))
  }
}
