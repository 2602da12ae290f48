package graft.operators

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.DataFrame

import graft.SharedSpark
import graft.sources.CacheScope

/** Structural invariants of the dedup family on generated corpora —
  * duplication patterns the fixed fixtures don't reach.
  */
object DedupProps extends Properties("dedup") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SharedSpark.spark

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa")

  private val genDoc: Gen[String] = for {
    n <- Gen.chooseNum(3, 12)
    ws <- Gen.listOfN(n, Gen.oneOf(vocab))
  } yield ws.mkString(" ")

  // duplicate some docs on purpose: pick texts then sample WITH replacement
  private val genCorpus: Gen[List[String]] = for {
    base <- Gen.nonEmptyListOf(genDoc)
    picks <- Gen.nonEmptyListOf(Gen.oneOf(base))
  } yield picks

  private def docsDf(texts: List[String]) =
    spark.createDataFrame(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s0") })
      .toDF("doc_id", "text", "lang", "source")

  property("exact dedup partitions the corpus; keepers are group minima") =
    forAll(genCorpus) { texts =>
      val rows = Dedup.exact(docsDf(texts)).collect()
      val copies = rows.map(_.getLong(1)).sum
      val expectGroups = texts.distinct.size
      copies == texts.size && rows.length == expectGroups &&
        rows.forall(r => r.getLong(0) == texts.indexOf(texts(r.getLong(0).toInt)))
    }

  property("minhash pairs are ordered, thresholded, and symmetric-free") =
    forAll(genCorpus) { texts =>
      val pairs = Dedup.minhashPairs(docsDf(texts)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      pairs.forall { case (a, b, j) => a < b && j >= 0.5 && j <= 1.0 } &&
        pairs.map(p => (p._1, p._2)).distinct.length == pairs.length
    }

  property("minhash length prefilter is LOSSLESS: filtered == unfiltered") =
    forAll(genCorpus) { texts =>
      // the claim behind the candidate screen: J >= t forces
      // min(|A|,|B|)/max(|A|,|B|) >= t, and the verify's round-at-6
      // keeps J >= t - 5e-7, so screening at t - 1e-6 drops only pairs
      // the verify drops. Compare both paths on the same corpus.
      val df = docsDf(texts)
      def run(pf: Boolean) = CacheScope.run {
        Dedup.minhashPairs(df, 0.5, lengthPrefilter = pf).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      }
      run(true) == run(false)
    }

  property("miners release their internal persists with their scope") =
    forAll(genCorpus) { texts =>
      val df = docsDf(texts)
      val before = SharedSpark.cachedPlans
      // each miner registers at least one persist of its own
      def persists(build: => DataFrame): (DataFrame, Boolean) = {
        val n = SharedSpark.cachedPlans
        val d = build
        (d, SharedSpark.cachedPlans > n)
      }
      val open = CacheScope.run {
        val (mh, mhOpen) = persists(Dedup.minhashPairs(df))
        val (sh, shOpen) = persists(Dedup.simhashPairs(df))
        val (ng, ngOpen) = persists(Dedup.ngramJaccardPairs(df, 0.5))
        // localThreshold = 0 forces the distributed label-propagation
        // path, whose edge/label persists are the ones worth releasing
        val (cl, clOpen) = persists(Dedup.clusters(df, mh, localThreshold = 0))
        // materialize everything, then release with the scope
        cl.collect(); sh.collect(); ng.collect()
        mhOpen && shOpen && ngOpen && clOpen
      }
      open && SharedSpark.cachedPlans == before
    }

  property("incremental screen == self-join miner restricted to cross pairs") =
    forAll(genCorpus) { texts =>
      import org.apache.spark.sql.functions.col
      // split by id parity; the self-join miner over the union, with
      // its (a < b) pairs re-oriented to (new, old), must equal the
      // two-sided screen exactly — the banding, prefilter, and verify
      // are side-blind
      val df = docsDf(texts)
      val newDf = df.filter(col("doc_id") % 2 === 1)
      val oldDf = df.filter(col("doc_id") % 2 === 0)
      val got = Dedup.minhashPairsIncremental(newDf, oldDf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val want = Dedup.minhashPairs(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .collect {
          case (a, b, j) if a % 2 == 1 && b % 2 == 0 => (a, b, j)
          case (a, b, j) if a % 2 == 0 && b % 2 == 1 => (b, a, j)
        }
        .sortBy(p => (p._1, p._2)).toSeq
      got == want
    }

  property("clusters unsorted variant has identical content") =
    forAll(genCorpus) { texts =>
      val df = docsDf(texts)
      val pairs = Dedup.minhashPairs(df)
      val sortedRows = Dedup.clusters(df, pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val unsorted = Dedup.clusters(df, pairs, sorted = false).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      unsorted.sorted == sortedRows
    }

  property("length-bucket blocking is LOSSLESS: blocked == unblocked pairs") =
    forAll(genCorpus) { texts =>
      // the claim the operator's scale design rests on: J >= t forces
      // the size ratio >= t, so same-or-adjacent ln(1/t)-wide buckets
      // can never drop a qualifying pair. Compare against a blocking-
      // free reference join on the same corpus.
      import org.apache.spark.sql.functions._
      import graft.functions.TextFunctions.wordSet
      val df = docsDf(texts)
      val got = Dedup.ngramJaccardPairs(df, 0.8).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val ws = df.select(col("doc_id"), col("lang"), col("source"),
        wordSet(col("text")).as("ws"))
      val a = ws.select(col("lang"), col("source"),
        col("doc_id").as("doc_a"), col("ws").as("ws_a"))
      val b = ws.select(col("lang"), col("source"),
        col("doc_id").as("doc_b"), col("ws").as("ws_b"))
      val inter = size(array_intersect(col("ws_a"), col("ws_b"))).cast("long")
      val union = size(col("ws_a")).cast("long") +
        size(col("ws_b")).cast("long") - inter
      val expected = a.join(b, Seq("lang", "source"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("jaccard", round(inter.cast("double") / union, 6))
        .filter(col("jaccard") >= 0.8)
        .select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2)).toSeq
      got == expected
    }

  property("Manku block blocking is LOSSLESS: blocked == brute-force pairs") =
    forAll(genCorpus) { texts =>
      // pigeonhole claim behind simhashPairs' scale design: a pair at
      // Hamming <= 3 of 60 bits agrees exactly on >= 1 of the 4 15-bit
      // blocks, so the block equi-join finds EVERY qualifying pair.
      // Reference: blocking-free O(n^2) Hamming join on the same corpus.
      import org.apache.spark.sql.functions._
      val df = docsDf(texts)
      val got = Dedup.simhashPairs(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val sigs = Dedup.simhash(df).select("doc_id", "simhash")
      val a = sigs.select(col("doc_id").as("doc_a"), col("simhash").as("sa"))
      val b = sigs.select(col("doc_id").as("doc_b"), col("simhash").as("sb"))
      val expected = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
        .withColumn("hamming",
          bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
        .filter(col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(p => (p._1, p._2)).toSeq
      got == expected
    }

  property("clusters: labels are component minima and cover every doc") =
    forAll(genCorpus) { texts =>
      val df = docsDf(texts)
      val pairs = Dedup.minhashPairs(df)
      val labels = Dedup.clusters(df, pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      labels.size == texts.size &&
        labels.forall { case (d, c) => c <= d } &&
        edges.forall { case (a, b) => labels(a) == labels(b) }
    }
}
