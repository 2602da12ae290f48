package org.apache.spark

/** The listener bus drain the benchmark needs at phase boundaries: Spark
  * delivers listener events asynchronously, and `waitUntilEmpty` is
  * package-private, so this one-line bridge lives in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
