package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The number of Spark jobs a block starts from the calling thread.
  * Listener events arrive asynchronously, so the count drains the
  * `private[spark]` listener bus before it is read.
  */
object JobCount {
  def of(sc: SparkContext)(f: => Unit): Int = {
    val group = s"job-count-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      f
      sc.listenerBus.waitUntilEmpty()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
