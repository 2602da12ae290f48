package graft.rideshare

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sources.Sinks

/** Drop-in replacement for the reference's seven spark-submit scripts
  * (`codes/task1.py` … `task7.py`): one entry point that reads the same
  * two CSVs, builds the shared enrichment once, and produces every
  * task's outputs — `show`/`count` to the console where the reference
  * used the console, single-file CSVs where the reference wrote CSV
  * (`codes/task2.py:109-111`, `codes/task5.py:88`).
  *
  * Usage:
  *   spark-submit --class graft.rideshare.RideshareApp <jar> \
  *     <rideshare_data.csv> <taxi_zone_lookup.csv> <outDir>
  *
  * Unlike the reference (which re-read and re-joined the CSVs in every
  * script), the enriched frame is built once per run; at cluster scale
  * each task still streams the scan, reading each trip's zone
  * attributes from the lookup arrays built once on the driver — nothing
  * is cached unless the deployment opts in (caching a 100 TB
  * enrichment is a capacity decision, not a default).
  */
object RideshareApp {
  def main(args: Array[String]): Unit = {
    val Array(tripsCsv, zonesCsv, outDir) = args
    val spark = GraftSession.builder()
      .appName("rideshare-analysis")
      .getOrCreate()
    try run(spark, tripsCsv, zonesCsv, outDir)
    finally spark.stop()
  }

  /** The whole seven-task pipeline over the given CSV paths. */
  def run(spark: SparkSession, tripsCsv: String, zonesCsv: String,
      outDir: String): Unit = {
    val trips = RideshareSchema.readTrips(spark, tripsCsv)
    val zones = RideshareSchema.readZones(spark, zonesCsv)
    val enriched = Enrich.enrich(trips, zones)

    // T1 (`codes/task1.py:72-79`)
    enriched.show(5, truncate = false)
    enriched.printSchema()
    println(s"enriched_count=${enriched.count()}")

    // T2 (`codes/task2.py:80-111`)
    Sinks.writeCsvSingle(
      RideshareTasks.tripCountsByBusinessMonth(enriched), s"$outDir/trip_count")
    Sinks.writeCsvSingle(
      RideshareTasks.totalProfitsByBusinessMonth(enriched), s"$outDir/total_profit")
    Sinks.writeCsvSingle(
      RideshareTasks.totalEarningsByBusinessMonth(enriched), s"$outDir/total_earnings")

    // T3 (`codes/task3.py:74-118`)
    RideshareTasks.topBoroughsPerMonth(enriched, "Pickup").show(100, truncate = false)
    RideshareTasks.topBoroughsPerMonth(enriched, "Dropoff").show(100, truncate = false)
    RideshareTasks.topRoutesByProfit(enriched).show(30, truncate = false)

    // T4 (`codes/task4.py:74-95`)
    RideshareTasks.avgDriverPayByTimeOfDay(enriched).show(truncate = false)
    RideshareTasks.avgTripLengthByTimeOfDay(enriched).show(truncate = false)
    RideshareTasks.earningsPerMile(enriched).show(truncate = false)

    // T5 (`codes/task5.py:71-92`) — threshold filter stays in Spark
    Sinks.writeCsvSingle(
      RideshareTasks.januaryDailyAvgWait(enriched), s"$outDir/avg_waiting_time")
    val overDays = RideshareTasks.daysWithAvgWaitOver(enriched)
      .collect().map(_.get(0)).mkString("[", ", ", "]")
    println(s"days_over_300s=$overDays")

    // T6 (`codes/task6.py:71-121`)
    RideshareTasks.lowVolumeBoroughSlots(enriched).show(truncate = false)
    RideshareTasks.eveningCountsByBorough(enriched).show(truncate = false)
    val bsi = RideshareTasks.brooklynToStatenIsland(enriched)
    println(s"brooklyn_to_staten_island=${bsi.count()}")
    bsi.show(10, truncate = false)

    // T7 (`codes/task7.py:79-97`)
    RideshareTasks.topRoutesPivotedByBusiness(enriched).show(10, truncate = false)
  }
}
