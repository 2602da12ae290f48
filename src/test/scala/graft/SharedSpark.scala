package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM (sessions are
  * expensive; suites share it and never stop it). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Plans the session holds cached (lazy persists count at once). */
  def cachedPlans: Int = graft.sources.CacheScope.held(spark)._1

  /** RDDs the session holds persisted (a cached plan's, once it ran). */
  def persistedRdds: Int = graft.sources.CacheScope.held(spark)._2
}

trait SparkSpec {
  def spark: SparkSession = SharedSpark.spark
  def cachedPlans: Int = SharedSpark.cachedPlans
  def persistedRdds: Int = SharedSpark.persistedRdds
}
