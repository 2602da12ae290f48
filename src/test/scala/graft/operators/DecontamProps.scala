package graft.operators

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.SharedSpark
import graft.sources.CacheScope

/** The decontamination screen vs an in-memory brute-force oracle on
  * generated corpora — random duplication patterns and short-doc edge
  * cases the fixed fixtures don't reach.
  */
object DecontamProps extends Properties("decontam") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SharedSpark.spark

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta")

  // 1–10 words: includes docs below the 3-gram threshold
  private val genDoc: Gen[String] = for {
    n <- Gen.chooseNum(1, 10)
    ws <- Gen.listOfN(n, Gen.oneOf(vocab))
  } yield ws.mkString(" ")

  // sample with replacement so exact/near copies land on both sides
  private val genSplitCorpus: Gen[(List[String], List[String])] = for {
    base <- Gen.nonEmptyListOf(genDoc)
    train <- Gen.nonEmptyListOf(Gen.oneOf(base))
    bench <- Gen.nonEmptyListOf(Gen.oneOf(base))
  } yield (train, bench)

  private def df(texts: List[String], idBase: Long) =
    spark.createDataFrame(
      texts.zipWithIndex.map { case (t, i) => (idBase + i, t, "en", "s0") })
      .toDF("doc_id", "text", "lang", "source")

  private def grams3(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet

  property("overlapScreen matches the brute-force n-gram overlap") =
    forAll(genSplitCorpus) { case (train, bench) =>
      val got = Decontam
        .overlapScreen(df(train, 0L), df(bench, 1000L), n = 3, minShared = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = (for {
        (t, i) <- train.zipWithIndex
        (b, j) <- bench.zipWithIndex
        shared = (grams3(t) intersect grams3(b)).size
        if shared >= 2
      } yield (i.toLong, 1000L + j) -> shared.toLong).toMap
      got == want
    }

  property("survivors = train ids minus screened ids, exactly") =
    forAll(genSplitCorpus) { case (train, bench) =>
      val trainDf = df(train, 0L)
      val benchDf = df(bench, 1000L)
      val hit = Decontam.overlapScreen(trainDf, benchDf, 3, 2)
        .collect().map(_.getLong(0)).toSet
      val kept = Decontam.survivors(trainDf, benchDf, 3, 2)
        .collect().map(_.getLong(0)).toSeq
      kept == (train.indices.map(_.toLong).filterNot(hit)).sorted &&
        kept.toSet.intersect(hit).isEmpty
    }

  property("repetitionStats: distinct <= total, ratios in [0,1]") =
    forAll(Gen.nonEmptyListOf(genDoc)) { texts =>
      Decontam.repetitionStats(df(texts, 0L)).collect().forall { r =>
        val (total, distinct) = (r.getLong(1), r.getLong(2))
        val (ratio, share) = (r.getDouble(3), r.getDouble(4))
        distinct <= total && ratio >= 0.0 && ratio <= 1.0 &&
          share > 0.0 && share <= 1.0
      }
    }

  property("bloomSurvivors equals survivors on random corpora (any fpp)") =
    forAll(genSplitCorpus, Gen.oneOf(0.01, 0.3, 0.9)) {
      case ((train, bench), fpp) =>
        val trainDf = df(train, 0L)
        val benchDf = df(bench, 1000L)
        val plain = Decontam.survivors(trainDf, benchDf, 3, 2)
          .collect().map(_.getLong(0)).toSeq
        val before = SharedSpark.cachedPlans
        val (viaBloom, held) = CacheScope.run {
          val got = Decontam.bloomSurvivors(trainDf, benchDf, 3, 2, fpp)
            .collect().map(_.getLong(0)).toSeq
          (got, SharedSpark.cachedPlans > before)
        }
        viaBloom == plain && held && SharedSpark.cachedPlans == before
    }

  property("rareBigramRate matches a brute-force corpus frequency count") =
    forAll(Gen.nonEmptyListOf(genDoc)) { texts =>
      val got = Decontam.rareBigramRate(df(texts, 0L), maxCount = 2)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val bigrams = texts.map(_.split(" ").sliding(2)
        .filter(_.length == 2).map(_.mkString(" ")).toVector)
      val corpus = bigrams.flatten.groupBy(identity).view.mapValues(_.size)
      texts.indices.forall { i =>
        val (nb, nr) = got(i.toLong)
        nb == bigrams(i).size &&
          nr == bigrams(i).count(g => corpus(g) <= 2)
      }
    }

  // independent of the engine path: its own md5, its own window scan
  private def bruteWinnow(text: String, k: Int, win: Int): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = java.lang.Long.parseLong(
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15),
      16)
    val hs = text.split(" ").sliding(k).filter(_.length == k)
      .map(g => h60(g.mkString(" "))).toVector
    val mins =
      if (hs.isEmpty) Vector.empty[Long]
      else if (hs.length < win) Vector(hs.min)
      else hs.sliding(win).map(_.min).toVector
    mins.distinct.sorted
  }

  // longer docs than genDoc so full windows + deque evictions happen
  private val genLongDoc: Gen[String] = for {
    n <- Gen.chooseNum(1, 40)
    ws <- Gen.listOfN(n, Gen.oneOf(vocab))
  } yield ws.mkString(" ")

  property("winnowFingerprints matches a brute-force sliding-window min") =
    forAll(Gen.nonEmptyListOf(genLongDoc)) { texts =>
      import org.apache.spark.sql.functions.col
      val got = df(texts, 0L)
        .select(col("doc_id"),
          graft.functions.TextFunctions.winnowFingerprints(col("text")).as("f"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
      texts.zipWithIndex.forall { case (t, i) =>
        got(i.toLong) == bruteWinnow(t, 3, 4)
      }
    }
}
