package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.scalatest.funsuite.AnyFunSuite

import graft.rideshare.{Enrich, RideshareSchema, RideshareTasks}
import graft.sources.Sinks

/** The session's compiled-class cache holds a repeated query mix, so a
  * mix pays code generation once, not on every run (GraftSession sizes
  * `spark.sql.codegen.cache.maxEntries`; Spark's default is 100).
  *
  * The mix is the rideshare T1–T7 outputs with RideshareApp's actions,
  * less two kinds of query that compile new code on some runs whatever
  * the cache size:
  *   - the `show`/`take` samples: a codegen'd limit stage names its
  *     counter `_limit_counter_N` from a JVM-global id (Spark's
  *     `BaseLimitExec`), so its source differs on every call;
  *   - T4c `earningsPerMile`: AQE broadcasts whichever of its two joined
  *     aggregates finishes first, so it has two plans, and a run can meet
  *     the second one for the first time.
  *
  * Order-independent: the cache is JVM-wide and other suites fill it,
  * so the spec empties it first and counts compiles as deltas of
  * `CodegenMetrics`. Its bound is fixed by the first compile in the
  * JVM; every suite's first query runs in the shared GraftSession.
  */
class CodegenCacheSpec extends AnyFunSuite with SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Spark keeps the cache private; emptying it makes the first run's
    * compile count the mix's class count. */
  private def emptyCodegenCache(): Unit = {
    val get = CodeGenerator.getClass.getDeclaredMethod("cache")
    get.setAccessible(true)
    val cache = get.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("a repeated mix of more than 100 classes compiles nothing new by its third run") {
    val dir = Files.createTempDirectory("graft_codegen").toString
    val boroughs = Seq("Manhattan", "Brooklyn", "Staten Island", "Queens")
    Files.writeString(Paths.get(s"$dir/zones.csv"),
      ("LocationID,Borough,Zone,service_zone" +: boroughs.zipWithIndex.map {
        case (b, i) => s"${i + 1},$b,Zone ${i + 1},Boro Zone"
      }).mkString("\n"))
    val times = Seq("morning", "afternoon", "evening", "night")
    val header = RideshareSchema.tripSchema.fieldNames.mkString(",")
    Files.writeString(Paths.get(s"$dir/trips.csv"),
      (header +: (0 until 64).map { i =>
        val biz = if (i % 2 == 0) "Uber" else "Lyft"
        val date = 1672531200L + (i % 40) * 86400L
        s"$biz,${i % 4 + 1},${(i / 4) % 4 + 1},${1 + i % 7}.0,${100 + 13 * i}.0," +
          s"${300 + i}.0,10.0,${310 + i}.0,${times(i % 4)},$date," +
          s"${20 + i % 9}.0,${15 + i % 5}.0,${5 - i % 3}.0,60.0,3.0"
      }).mkString("\n"))

    def pass(run: Int): Unit = {
      val enriched = Enrich.enrich(
        RideshareSchema.readTrips(spark, s"$dir/trips.csv"),
        RideshareSchema.readZones(spark, s"$dir/zones.csv"))
      def csv(df: DataFrame, name: String): Unit =
        Sinks.writeCsvSingle(df, s"$dir/out$run/$name")
      enriched.count()
      csv(RideshareTasks.tripCountsByBusinessMonth(enriched), "trip_count")
      csv(RideshareTasks.totalProfitsByBusinessMonth(enriched), "total_profit")
      csv(RideshareTasks.totalEarningsByBusinessMonth(enriched), "total_earnings")
      csv(RideshareTasks.januaryDailyAvgWait(enriched), "avg_waiting_time")
      Seq(
        RideshareTasks.topBoroughsPerMonth(enriched, "Pickup"),
        RideshareTasks.topBoroughsPerMonth(enriched, "Dropoff"),
        RideshareTasks.topRoutesByProfit(enriched),
        RideshareTasks.avgDriverPayByTimeOfDay(enriched),
        RideshareTasks.avgTripLengthByTimeOfDay(enriched),
        RideshareTasks.daysWithAvgWaitOver(enriched),
        RideshareTasks.lowVolumeBoroughSlots(enriched),
        RideshareTasks.eveningCountsByBorough(enriched),
        RideshareTasks.brooklynToStatenIsland(enriched),
        RideshareTasks.topRoutesPivotedByBusiness(enriched)).foreach(_.collect())
      RideshareTasks.brooklynToStatenIsland(enriched).count()
    }

    emptyCodegenCache()
    val perRun = (1 to 3).map { run =>
      val before = compiles
      pass(run)
      compiles - before
    }
    info(s"compiles per run: ${perRun.mkString(", ")}")
    assert(perRun.head > 100, s"the mix must exceed Spark's default bound: $perRun")
    assert(perRun(2) == 0, s"the third run recompiled classes: $perRun")
  }
}
