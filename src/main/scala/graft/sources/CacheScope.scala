package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Query-scoped owner of the persists an operator leaves behind.
  *
  * The pair miners, calibrations and sweeps cache small derived frames
  * (signatures, candidate edge lists, histograms) that their returned
  * plan reads several times, so the cache must outlive the operator
  * call: it is needed until the query's last action. Spark's
  * CacheManager shares persisted plans by canonical form, so such a
  * persist belongs to the query, not to the operator that made it.
  *
  *   - [[persist]] caches a frame and records it in the innermost scope
  *     open on the calling thread;
  *   - [[run]] unpersists exactly what was recorded in it when its
  *     block exits, normally or by exception;
  *   - with no scope open, [[persist]] records nothing and keeps no
  *     reference: the cache lives until the session clears it.
  *
  * A harness (Bench, Verify, the registry smoke spec) wraps build and
  * action in one [[run]]; a composite that ends an inner computation
  * with a terminal `collect`/`count` wraps that in its own [[run]].
  * Releasing is always safe: a released cache is recomputed from its
  * lineage, never read stale.
  *
  * Persists an operator both makes and releases before it returns (the
  * Lloyd/PQ trainers, iterative loop caches) stay plain
  * `persist`/`unpersist` pairs; only a cache the returned plan reads
  * goes through here.
  */
object CacheScope {

  private val open = new ThreadLocal[List[ArrayBuffer[DataFrame]]] {
    override def initialValue(): List[ArrayBuffer[DataFrame]] = Nil
  }

  /** Cache `df` (MEMORY_AND_DISK, Spark's `persist()` default) unless
    * its plan is already cached, and record it in the innermost open
    * scope. Returns `df`, so it chains where `.cache()` did.
    */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) df.persist()
    open.get.headOption.foreach(_ += df)
    df
  }

  /** Run `body`, then unpersist every frame [[persist]] recorded while
    * it ran on this thread (inner scopes release their own).
    */
  def run[A](body: => A): A = {
    val mine = ArrayBuffer.empty[DataFrame]
    open.set(mine :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      mine.foreach(_.unpersist(blocking = false))
    }
  }

  /** What `spark` holds persisted: (cached plans, persisted RDDs). A lazy
    * persist counts in the first at once and in the second once it has
    * run; a leak check compares both before and after a scope.
    */
  def held(spark: SparkSession): (Int, Int) =
    (GraftBridge.cachedPlans(spark), spark.sparkContext.getPersistentRDDs.size)
}
