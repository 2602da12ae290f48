package graft.rideshare

import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.JobCount
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Join}
import org.apache.spark.sql.execution.{CollectLimitExec, FileSourceScanExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Golden tests for the reference's seven tasks (SURVEY.md §2.8) over
  * the minimal inline fixture of FIXTURES.md §A4: both businesses, all
  * four time_of_day values, months 1–5, an unmatched location (left-join
  * null path), EWR/Unknown boroughs, negative profit, route ties, and a
  * January day with wait > 300 s. Expected values are hand-computed.
  */
class RideshareTasksSpec extends AnyFunSuite with SparkSpec {

  private def epoch(y: Int, m: Int, d: Int): Long =
    LocalDate.of(y, m, d).atStartOfDay(ZoneOffset.UTC).toEpochSecond

  // (business, pu, do, trip_length, request_to_pickup, time_of_day,
  //  date, driver_total_pay, rideshare_profit)
  private lazy val trips = {
    val rows = Seq(
      ("Uber", 1, 2, 4.0, 400.0, "morning", epoch(2023, 1, 1), 20.0, 5.0),
      ("Uber", 1, 2, 2.0, 350.0, "morning", epoch(2023, 1, 1), 10.0, 2.0),
      ("Lyft", 2, 4, 10.0, 100.0, "evening", epoch(2023, 1, 2), 30.0, -3.0),
      ("Uber", 2, 4, 5.0, 200.0, "night", epoch(2023, 1, 2), 25.0, 4.0),
      ("Uber", 3, 1, 3.0, 150.0, "afternoon", epoch(2023, 2, 10), 15.0, 3.0),
      ("Lyft", 3, 1, 3.0, 250.0, "afternoon", epoch(2023, 2, 10), 18.0, 2.0),
      ("Uber", 5, 6, 8.0, 120.0, "evening", epoch(2023, 3, 5), 40.0, 8.0),
      ("Uber", 99, 1, 1.0, 80.0, "morning", epoch(2023, 3, 5), 5.0, 1.0),
      ("Uber", 1, 1, 2.5, 60.0, "evening", epoch(2023, 4, 20), 12.0, 2.5),
      ("Lyft", 1, 1, 2.5, 90.0, "evening", epoch(2023, 4, 20), 14.0, 2.0),
      ("Uber", 7, 1, 6.0, 300.0, "night", epoch(2023, 5, 15), 22.0, 4.0),
      ("Uber", 2, 3, 7.0, 500.0, "morning", epoch(2023, 5, 15), 28.0, 6.0))
    spark.createDataFrame(rows)
      .toDF("business", "pickup_location", "dropoff_location", "trip_length",
        "request_to_pickup", "time_of_day", "date", "driver_total_pay",
        "rideshare_profit")
  }

  private lazy val zones = {
    val rows = Seq(
      (1, "Manhattan", "Midtown", "Yellow Zone"),
      (2, "Brooklyn", "Park Slope", "Boro Zone"),
      (3, "Queens", "Astoria", "Boro Zone"),
      (4, "Staten Island", "St. George", "Boro Zone"),
      (5, "EWR", "Newark Airport", "EWR"),
      (6, "Unknown", "NA", "NA"),
      (7, "Bronx", "Fordham", "Boro Zone"))
    spark.createDataFrame(rows)
      .toDF("LocationID", "Borough", "Zone", "service_zone")
  }

  private lazy val enriched: DataFrame = Enrich.enrich(trips, zones).cache()

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("T1: enrichment keeps all trips (left join) and formats the date") {
    assert(enriched.count() === 12)
    val first = enriched.filter("pickup_location = 1 AND trip_length = 4.0")
      .select("date", "Pickup_Borough", "Dropoff_Zone").head()
    assert(first === Row("2023-01-01", "Manhattan", "Park Slope"))
    // unmatched pickup location survives with null zone columns
    val orphan = enriched.filter("pickup_location = 99")
      .select("Pickup_Borough", "Pickup_Zone").head()
    assert(orphan === Row(null, null))
  }

  test("T2a: trip counts per (business, month)") {
    val got = rowsOf(RideshareTasks.tripCountsByBusinessMonth(enriched)
      .orderBy("business", "month"))
    assert(got === Seq(
      Seq("Lyft", 1, 1L), Seq("Lyft", 2, 1L), Seq("Lyft", 4, 1L),
      Seq("Uber", 1, 3L), Seq("Uber", 2, 1L), Seq("Uber", 3, 2L),
      Seq("Uber", 4, 1L), Seq("Uber", 5, 2L)))
  }

  test("T2b/T2c: formatted sums incl. negative profit") {
    val profit = rowsOf(RideshareTasks.totalProfitsByBusinessMonth(enriched)
      .orderBy("business", "month"))
    assert(profit.head === Seq("Lyft", 1, "-3.00"))
    assert(profit.contains(Seq("Uber", 1, "11.00")))
    val earn = rowsOf(RideshareTasks.totalEarningsByBusinessMonth(enriched)
      .orderBy("business", "month"))
    assert(earn.contains(Seq("Uber", 1, "55.00"))) // 20+10+25
  }

  test("T3a: dense_rank top-5 keeps ties and the null-borough group") {
    val got = RideshareTasks.topBoroughsPerMonth(enriched, "Pickup")
    assert(got.count() === 8) // Jan 2, Feb 1, Mar 2 (EWR + null), Apr 1, May 2
    val jan = got.filter("month = 1").orderBy("Pickup_Borough").collect()
    assert(jan.map(_.getString(0)).toSeq === Seq("Brooklyn", "Manhattan"))
    assert(jan.forall(_.getLong(2) == 2L)) // tied at rank 1, both kept
  }

  test("T3c: top routes by driver-pay sum") {
    val got = rowsOf(RideshareTasks.topRoutesByProfit(enriched, 2))
    assert(got.head(0) === "Brooklyn to Staten Island") // 30+25=55
    assert(got.head(1) === 55.0)
  }

  test("T4: averages per time_of_day and the joined ratio") {
    val pay = rowsOf(RideshareTasks.avgDriverPayByTimeOfDay(enriched))
    assert(pay.map(_.head) === Seq("evening", "night", "afternoon", "morning"))
    assert(pay.head(1) === 24.0) // (30+40+12+14)/4
    val ratio = RideshareTasks.earningsPerMile(enriched)
      .filter("time_of_day = 'evening'").head().getDouble(1)
    assert(math.abs(ratio - 24.0 / 5.75) < 1e-12)
  }

  test("T5: January daily waits and the >300s day") {
    val daily = rowsOf(RideshareTasks.januaryDailyAvgWait(enriched))
    assert(daily === Seq(Seq(1, 375.0), Seq(2, 150.0)))
    val over = RideshareTasks.daysWithAvgWaitOver(enriched)
      .collect().map(_.getInt(0)).toSeq
    assert(over === Seq(1))
  }

  test("T6: HAVING range, evening literal, Brooklyn→Staten Island") {
    assert(RideshareTasks.lowVolumeBoroughSlots(enriched).count() === 9)
    val evening = rowsOf(RideshareTasks.eveningCountsByBorough(enriched))
    assert(evening === Seq(
      Seq("Brooklyn", "evening", 1L), Seq("EWR", "evening", 1L),
      Seq("Manhattan", "evening", 2L)))
    val bsi = RideshareTasks.brooklynToStatenIsland(enriched)
    assert(bsi.count() === 2)
    assert(rowsOf(bsi.limit(1)).head ===
      Seq("Brooklyn", "Staten Island", "Park Slope"))
  }

  /** A trips CSV of about 1.3 MB, big enough that the session's split
    * floor cuts it into one split per core. Every summed value is a
    * multiple of 0.25 and every sum stays far below 2^51, so each
    * partial sum is exact. Re-splitting a scan changes the order in
    * which a double sum adds its n terms, and any order lands within
    * (n−1)·ε·Σ|x| of the exact sum (ε = 2^-53): a relative error of at
    * most (n−1)·ε·Σ|x| / |Σx|. Here every partial sum is exact, so the
    * bound is 0 and any split gives the same bits; no tolerance is
    * needed. Averages are one division of exact operands. Each sort
    * key is unique or, for the averages, distinct per time of day, so
    * the order has no ties.
    */
  private lazy val splitCsv: String = {
    val tods = Array("morning", "afternoon", "evening", "night")
    val lines = (0 until 17000).map { i =>
      val date = epoch(2023, 1 + i % 5, 1 + (i / 5) % 28)
      Seq(if (i % 10 == 0) "Lyft" else "Uber", 1 + i % 7, 1 + (i / 7) % 7,
        1.0 + (i % 4) * 1.5 + (i % 13) * 0.25,
        60.0 + (i % 31) * 20 + (i % 11) * 0.5, 1.0, 1.0, 1.0, tods(i % 4),
        date, 1.0, 5.0 + (i % 4) * 3.5 + (i % 17) * 0.25,
        (i % 9) * 0.5 - 1.0, 1.0, 1.0).mkString(",")
    }
    val path = java.nio.file.Files.createTempDirectory("rideshare_split")
      .resolve("rideshare_data.csv")
    java.nio.file.Files.write(path, (RideshareSchema.tripSchema.fieldNames
      .mkString(",") +: lines).mkString("\n").getBytes("UTF-8"))
    path.toString
  }

  /** The tasks that order a bounded aggregate, with their sort keys. */
  private val sortedTasks: Seq[(String, DataFrame => DataFrame, Seq[Column])] = Seq(
    ("T4a", RideshareTasks.avgDriverPayByTimeOfDay,
      Seq(col("average_driver_total_pay").desc)),
    ("T4b", RideshareTasks.avgTripLengthByTimeOfDay,
      Seq(col("average_trip_length").desc)),
    ("T5a", RideshareTasks.januaryDailyAvgWait, Seq(col("day"))),
    ("T5b", RideshareTasks.daysWithAvgWaitOver(_), Seq(col("day"))),
    ("T6a", RideshareTasks.lowVolumeBoroughSlots,
      Seq(col("Pickup_Borough"), col("time_of_day"))),
    ("T6b", RideshareTasks.eveningCountsByBorough, Seq(col("Pickup_Borough"))))

  test("a 1.3 MB trips CSV scans on every core") {
    val bytes = java.nio.file.Files.size(java.nio.file.Paths.get(splitCsv))
    assert(bytes > 1200000L && bytes < 1400000L, bytes)
    assert(RideshareSchema.readTrips(spark, splitCsv).rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
  }

  test("bounded aggregates sort in one task: no range exchange, same rows and order") {
    val trips = RideshareSchema.readTrips(spark, splitCsv)
    val split = Enrich.enrich(trips, zones)
    val single = Enrich.enrich(trips.coalesce(1), zones)
    sortedTasks.foreach { case (name, task, keys) =>
      val got = task(split)
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("rangepartitioning"), s"$name:\n$plan")
      val want = rowsOf(task(single).orderBy(keys: _*))
      assert(want.nonEmpty, name)
      assert(rowsOf(got) === want, name)
    }
  }

  /** `zones` as a CSV file, read back with the declared schema. */
  private lazy val zonesCsv: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("rideshare_zones") + "/zones"
    zones.coalesce(1).write.option("header", "true").csv(dir)
    RideshareSchema.readZones(spark, dir)
  }

  private def rejection(zoneRows: DataFrame): String =
    intercept[IllegalArgumentException](Enrich.enrich(trips, zoneRows)).getMessage

  test("the zone lookup rejects a dimension it cannot represent exactly") {
    def dim(keys: Int*): DataFrame = spark.createDataFrame(
      keys.map(k => (k, s"B$k", s"Z$k", "Boro Zone")))
      .toDF("LocationID", "Borough", "Zone", "service_zone")
    assert(rejection(dim(1, 2, 2, 3)).contains("duplicate zone LocationID 2"))
    assert(rejection(dim(1, -4)).contains("negative zone LocationID -4"))
    assert(rejection(dim(1, Enrich.MaxZones)).contains(
      s"zone LocationID ${Enrich.MaxZones} exceeds"))
    val overCap = spark.range(Enrich.MaxZones + 1).select(
      col("id").cast("int").as("LocationID"), lit("B").as("Borough"),
      lit("Z").as("Zone"), lit("Boro Zone").as("service_zone"))
    assert(rejection(overCap).contains(s"more than ${Enrich.MaxZones} rows"))
    // the largest key the lookup takes, and a null key, are accepted
    assert(Enrich.enrich(trips, dim(Enrich.MaxZones - 1)).count() === 12)
    assert(Enrich.enrich(trips, zones.union(spark.createDataFrame(
      Seq(((null: Integer), "B", "Z", "Boro Zone"))).toDF(zones.columns: _*)))
      .filter("pickup_location = 1").head().getAs[String]("Pickup_Borough") === "Manhattan")
  }

  test("the zone probe reads a bounded number of rows in one job") {
    val probe = Enrich.probe(zonesCsv)
    assert(probe.queryExecution.optimizedPlan.collectFirst {
      case l: GlobalLimit => l.maxRows
    } === Some(Some(Enrich.MaxZones + 1L)))
    assert(probe.queryExecution.executedPlan.collectFirst {
      case l: CollectLimitExec => l.limit
    } === Some(Enrich.MaxZones + 1))
    assert(JobCount.of(spark.sparkContext)(Enrich.enrich(trips, zonesCsv)) === 1)
  }

  test("the enriched plan is the fact scan alone: no join, no broadcast") {
    val e = Enrich.enrich(RideshareSchema.readTrips(spark, splitCsv), zonesCsv)
    assert(e.queryExecution.optimizedPlan.collectFirst { case j: Join => j }.isEmpty)
    val plan = e.queryExecution.executedPlan
    assert(plan.collectFirst { case b: BroadcastExchangeExec => b }.isEmpty, plan)
    assert(plan.collectLeaves().map(_.getClass.getSimpleName) ===
      Seq(classOf[FileSourceScanExec].getSimpleName), plan)
    assert(e.columns.length === 21)
  }

  test("T7: pivot by business with explicit values and fillna(0)") {
    val got = RideshareTasks.topRoutesPivotedByBusiness(enriched, 10)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("Park Slope to St. George") === ((1L, 1L, 2L)))
    assert(got("Midtown to Park Slope") === ((2L, 0L, 2L))) // Lyft filled to 0
    assert(got("Newark Airport to NA") === ((1L, 0L, 1L)))
  }
}
