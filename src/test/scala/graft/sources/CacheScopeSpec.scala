package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[CacheScope]] laws: a scope releases exactly the persists recorded
  * in it, on normal exit and on exception, and a persist made with no
  * scope open is recorded nowhere.
  */
class CacheScopeSpec extends AnyFunSuite with SparkSpec {

  /** A fresh plan per call (distinct literal), so no two frames share a
    * canonical form in the CacheManager. */
  private var seq = 0L
  private def frame(): DataFrame = {
    seq += 1
    spark.range(0, 16).selectExpr(s"id * $seq AS v")
  }
  private def cached(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  test("a scope releases its persists after the action, not before") {
    val before = (cachedPlans, persistedRdds)
    val df = frame()
    val n = CacheScope.run {
      val p = CacheScope.persist(df)
      val c = p.count()
      assert(cached(df))
      assert(persistedRdds === before._2 + 1)
      c
    }
    assert(n === 16L)
    assert(!cached(df))
    assert((cachedPlans, persistedRdds) === before)
  }

  test("a nested scope releases only its own persists") {
    val (outer, inner) = (frame(), frame())
    CacheScope.run {
      CacheScope.persist(outer)
      CacheScope.run {
        CacheScope.persist(inner)
        assert(cached(outer) && cached(inner))
      }
      assert(!cached(inner))
      assert(cached(outer))
    }
    assert(!cached(outer))
  }

  test("a scope releases on exception") {
    val df = frame()
    val before = cachedPlans
    val e = intercept[IllegalStateException] {
      CacheScope.run {
        CacheScope.persist(df).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(!cached(df))
    assert(cachedPlans === before)
  }

  test("persist with no scope open caches but records nothing") {
    val df = frame()
    try {
      CacheScope.persist(df)
      assert(cached(df))
      // a later scope does not own it
      CacheScope.run(CacheScope.persist(frame()))
      assert(cached(df))
    } finally df.unpersist(blocking = true)
  }

  test("persisting an already-cached plan records it without re-caching") {
    val df = frame()
    CacheScope.run {
      val before = cachedPlans
      CacheScope.persist(df)
      CacheScope.persist(df)
      assert(cachedPlans === before + 1)
    }
    assert(!cached(df))
  }
}
