package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CacheScope

/** Every registered query must plan and execute on the smallest driver
  * testdata — the same contract Verify runs at sf0.01. Core queries must
  * be non-empty; pair-mining queries may legitimately thin out at tiny
  * scale but must still execute.
  *
  * Each query builds and runs inside one [[CacheScope]], and must leave
  * the session's cached plans and persisted RDDs as it found them: a
  * persist that outlives its operator goes through `CacheScope.persist`,
  * so the scope releases it. The suite starts from an empty cache, since
  * a plan an earlier suite left cached is not the scope's to release and
  * would hide whether the query releases its own, and compares deltas.
  */
class RegistrySmokeSpec extends AnyFunSuite with SparkSpec
    with BeforeAndAfterAll {

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.catalog.clearCache()
  }

  private val sfDir = "/root/testdata/sf0.001"
  private val mayBeEmpty = Set(
    "dedup_minhash_pairs", "dedup_ngram_jaccard", "dedup_embedding_cosine")

  /** Run `body` in a scope and assert it leaves no persist behind. */
  private def leakFree[A](name: String)(body: => A): A = {
    val before = (cachedPlans, persistedRdds)
    val out = CacheScope.run(body)
    assert((cachedPlans, persistedRdds) === before,
      s"$name left persists behind (cached plans, persisted RDDs)")
    out
  }

  Registry.all.foreach { q =>
    test(s"${q.name} executes at sf0.001" +
        (if (q.oracle.isDefined) " (oracle-backed)" else "")) {
      val n = leakFree(q.name)(q.fn(spark, sfDir).count())
      if (!mayBeEmpty(q.name)) assert(n > 0)
    }
  }

  test("every query has an oracle — no exceptions since round 10") {
    // the manifest queries (rendered SVG/markdown) carry committed
    // per-SF golden-hash VALUES oracles since round 10, so the
    // rows-only escape hatch is CLOSED: a query without an oracle is
    // a registration bug
    val missing = Registry.all.filter(_.oracle.isEmpty)
    assert(missing.isEmpty, s"queries missing oracles: ${missing.map(_.name)}")
  }

  test("every query's output schema is hash-compare safe") {
    // the driver's DuckDB compare sorts columns by name and matches
    // dtypes — duplicate or case-unstable names break it silently
    Registry.all.foreach { q =>
      val names = leakFree(q.name)(q.fn(spark, sfDir).schema.fieldNames.toSeq)
      assert(names.distinct.size == names.size, s"${q.name}: dup columns $names")
      assert(names.forall(n => n == n.toLowerCase),
        s"${q.name}: non-lowercase columns $names")
    }
  }

  test("entry smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
