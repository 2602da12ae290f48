package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class SubstringDedupSpec extends AnyFunSuite with SparkSpec {

  // Token ids chosen so runs are unambiguous (no within-doc repeats).
  private def t(range: Range, prefix: String = "w"): String =
    range.map(i => s"$prefix$i").mkString(" ")

  // d0 ≡ d1: full 14-token run. d2 shares exactly tokens 0..11 of d0
  // (12-token run, the minRun boundary). d3 shares exactly 8 tokens
  // (one anchor, run 8 < 12 — must be filtered). d4 disjoint.
  // d5/d6 share TWO disjoint 12-token runs separated by a mismatch.
  private lazy val docs = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, t(0 until 14)),
      (1L, t(0 until 14)),
      (2L, t(0 until 12) + " x12 x13"),
      (3L, t(0 until 8) + " " + t(0 until 4, "z")),
      (4L, t(0 until 14, "q")),
      (5L, t(0 until 12, "a") + " gapL " + t(0 until 12, "b")),
      (6L, t(0 until 12, "a") + " gapR " + t(0 until 12, "b")))
      .toDF("doc_id", "text")
  }

  private def pairs(minRun: Int = 12) =
    Dedup.substringPairs(docs, gram = 8, minRun = minRun).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted

  test("finds exact shared runs with their maximal length") {
    assert(pairs() === Seq(
      (0L, 1L, 14L, 1L),
      (0L, 2L, 12L, 1L),
      (1L, 2L, 12L, 1L),
      (5L, 6L, 12L, 2L)))
  }

  test("a shared run shorter than minRun is dropped, not truncated") {
    // d3's 8-token overlap with d0/d1/d2 produces anchors (8 >= gram)
    // but its maximal run is 8 < 12 — the pair must be absent entirely
    assert(!pairs().exists(p => p._1 == 3L || p._2 == 3L))
    // at minRun = gram = 8 the same overlap IS a pair, exact length 8
    val loose = pairs(minRun = 8)
    assert(loose.contains((0L, 3L, 8L, 1L)))
  }

  test("hot-gram df cap drops boilerplate anchors from pairing") {
    // every anchor of d0/d1 occurs 2-3 times; cap at 1 kills them all
    val capped = Dedup.substringPairs(docs, gram = 8, minRun = 8,
      maxDf = 1L).collect()
    assert(capped.isEmpty)
  }

  test("clean excises duplicated spans from the higher-id doc only") {
    val got = Dedup.substringClean(docs, gram = 8, minRun = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got === Seq(
      (0L, 14L, t(0 until 14)),            // lowest holder keeps all
      (1L, 0L, ""),                        // full dup loses everything
      (2L, 2L, "x12 x13"),                 // loses the 12-token prefix
      (3L, 12L, t(0 until 8) + " " + t(0 until 4, "z")), // run 8 < 12
      (4L, 14L, t(0 until 14, "q")),       // disjoint, untouched
      (5L, 25L, t(0 until 12, "a") + " gapL " + t(0 until 12, "b")),
      (6L, 1L, "gapR")))                   // both 12-runs excised
  }

  test("docs shorter than the gram produce no anchors and no pairs") {
    val s = spark
    import s.implicits._
    val tiny = Seq((0L, "a b c"), (1L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.substringPairs(tiny, gram = 8, minRun = 8).collect().isEmpty)
  }
}
