package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Round-19 cache-lifetime fixes, pinned:
  *   - [[Similarity.trainPqAndIvf]] shares ONE persisted scaled frame
  *     across the two concurrent Lloyd trainers and still returns the
  *     exact models the sequential convenience forms produce;
  *   - nothing stays persisted after the trainers return, and a
  *     trainer leaves a projection its caller's scope caches to that
  *     scope;
  *   - [[Similarity.ivfPqRefinedSweep]] registers its internal caches
  *     (the npMax candidate frame + brute truth) with the query's
  *     [[graft.sources.CacheScope]], which releases them.
  */
class TrainerSharingSpec extends AnyFunSuite with SparkSpec {

  private def vecs = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(19)
    (0L until 64L).map { id =>
      (id, Seq.fill(64)((rnd.nextFloat() - 0.5f) * 2f), 0)
    }.toDF("vec_id", "embedding", "label")
  }

  test("trainPqAndIvf returns exactly the sequential trainers' models " +
    "and leaves no persisted RDDs behind") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val v = vecs
    val (pq, cents) = Similarity.trainPqAndIvf(v, nCells = 8, iters = 2)
    val pqSeq = Similarity.pqTrain(v)
    val centsSeq = Similarity.trainIvfCentroids(v, nCells = 8, iters = 2)
    assert(pq.size === pqSeq.size)
    pq.zip(pqSeq).foreach { case (a, b) =>
      assert(a.size === b.size)
      a.zip(b).foreach { case (x, y) => assert(x.toSeq === y.toSeq) }
    }
    assert(cents.size === centsSeq.size)
    cents.zip(centsSeq).foreach { case (x, y) => assert(x.toSeq === y.toSeq) }
    // the shared persist is released by the owner after BOTH complete
    // (delta-based: an unrelated suite may legitimately hold persists)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("trainIvfCentroids and pqTrain leave a scaled-projection cache " +
    "their caller's scope owns") {
    val v = vecs
    graft.sources.CacheScope.run {
      val scaled = graft.sources.CacheScope.persist(Similarity.scaledFrame(v))
      scaled.count()
      Similarity.trainIvfCentroids(v, nCells = 8, iters = 2)
      assert(scaled.storageLevel != StorageLevel.NONE)
      Similarity.pqTrain(v)
      assert(scaled.storageLevel != StorageLevel.NONE)
    }
  }

  test("ivfPqRefinedSweep: its scope releases both internal caches") {
    val v = vecs
    val before = cachedPlans
    graft.sources.CacheScope.run {
      Similarity.ivfPqRefinedSweep(v,
        configs = Seq((1, 10), (2, 10)), nQueries = 5, k = 10, nCells = 8)
        .collect()
      assert(cachedPlans >= before + 2)
    }
    assert(cachedPlans === before)
  }
}
