package graft.operators

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.SharedSpark

/** substringPairs against an independent brute-force reference: the
  * operator's banded join + diagonal gaps-and-islands must equal a
  * direct per-pair diagonal scan (for every alignment offset, walk the
  * matching token runs and keep the maximal ones ≥ minRun). The
  * reference IS the stated semantics; the property pins the
  * distributed machinery (explode, df-cap plumbing, self-join, window
  * islands, aggregation) to it on corpora with engineered shared runs
  * the fixed fixtures don't reach.
  */
object SubstringProps extends Properties("substring") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SharedSpark.spark

  private val Gram = 4
  private val MinRun = 6

  // tiny alphabet + shared motif injection → shared runs are common
  private val vocab = Vector("a", "b", "c", "d", "e")
  private val motif = Vector("m1", "m2", "m3", "m4", "m5", "m6", "m7")

  private val genDoc: Gen[List[String]] = for {
    n <- Gen.chooseNum(0, 14)
    ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    withMotif <- Gen.oneOf(true, false)
    at <- Gen.chooseNum(0, math.max(0, n))
  } yield if (withMotif) ws.take(at) ++ motif ++ ws.drop(at) else ws

  private val genCorpus: Gen[List[List[String]]] =
    Gen.chooseNum(2, 7).flatMap(k => Gen.listOfN(k, genDoc))

  /** Brute force: maximal matching runs per (pair, diagonal), each as
    * (length, start position in the higher-id doc).
    */
  private def referenceRuns(docs: List[List[String]])
      : Seq[(Int, Int, List[(Int, Int)])] =
    for {
      a <- docs.indices
      b <- docs.indices
      if a < b
    } yield {
      val (da, db) = (docs(a), docs(b))
      val runs = (for {
        d <- -(db.size - 1) to (da.size - 1)
        // maximal runs along diagonal d: positions i in da matching
        // i - d in db
        island <- {
          val hits = da.indices
            .filter(i => i - d >= 0 && i - d < db.size && da(i) == db(i - d))
          // islands of consecutive i
          hits.foldLeft(List.empty[List[Int]]) {
            case (acc, i) if acc.nonEmpty && acc.head.head == i - 1 =>
              (i :: acc.head) :: acc.tail
            case (acc, i) => List(i) :: acc
          }
        }
        if island.size >= MinRun
      } yield (island.size, island.min - d)).toList
      (a, b, runs)
    }

  private def referencePairs(docs: List[List[String]])
      : Seq[(Long, Long, Long, Long)] =
    referenceRuns(docs).collect { case (a, b, rs) if rs.nonEmpty =>
      (a.toLong, b.toLong, rs.map(_._1).max.toLong, rs.size.toLong)
    }.sortBy(p => (p._1, p._2))

  private def referenceClean(docs: List[List[String]])
      : Seq[(Long, Long, String)] = {
    val coveredByDoc = referenceRuns(docs)
      .flatMap { case (_, b, rs) =>
        rs.flatMap { case (len, startB) => (startB until startB + len).map(b -> _) }
      }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    docs.indices.map { i =>
      val cov = coveredByDoc.getOrElse(i, Set.empty)
      val kept = docs(i).zipWithIndex.collect {
        case (w, p) if !cov(p) => w
      }
      // tokenization of "" yields one empty token, like split(text," ")
      val toks = if (docs(i).isEmpty) List("") else kept.toList
      val keptN = if (docs(i).isEmpty) 1L else kept.size.toLong
      (i.toLong, keptN, toks.mkString(" "))
    }
  }

  private def toDf(docs: List[List[String]]) =
    spark.createDataFrame(
      docs.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) })
      .toDF("doc_id", "text")

  property("pairs equal the brute-force diagonal scan") =
    forAll(genCorpus) { docs =>
      val got = Dedup.substringPairs(toDf(docs), gram = Gram,
        minRun = MinRun, maxDf = 1000000L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
      val want = referencePairs(docs)
      if (got != want) println(s"docs=$docs\n got=$got\nwant=$want")
      got == want
    }

  property("clean removes exactly the brute-force covered positions") =
    forAll(genCorpus) { docs =>
      val got = Dedup.substringClean(toDf(docs), gram = Gram,
        minRun = MinRun, maxDf = 1000000L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      val want = referenceClean(docs)
      if (got != want) println(s"docs=$docs\n got=$got\nwant=$want")
      got == want
    }
}
