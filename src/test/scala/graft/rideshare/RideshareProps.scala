package graft.rideshare

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.SharedSpark

/** Property-based invariants over the rideshare task library
  * (SURVEY.md §5): run on generated trip tables so the checks hold for
  * shapes the hand-built fixture doesn't cover (ties, empty groups,
  * unmatched keys, single-business months).
  */
object RideshareProps extends Properties("rideshare") {

  // Spark jobs per case are expensive — a handful of generated tables
  // is plenty to catch structural regressions.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SharedSpark.spark

  /** Non-contiguous keys, a zone with null attributes, and a row with
    * a null key that no trip can match.
    */
  private val zones = Seq[(Integer, String, String, String)](
    (1, "Manhattan", "Midtown", "Yellow Zone"),
    (2, "Brooklyn", "Park Slope", "Boro Zone"),
    (3, "Queens", "Astoria", "Boro Zone"),
    (7, null, null, null),
    (40, "Bronx", "Fordham", "Boro Zone"),
    (null, "Staten Island", "St. George", "Boro Zone"))

  private val MaxKey = 40

  /** Matched keys, and keys no zone holds: 0, negatives, a gap, the
    * slot past the largest key, Int.MaxValue, and null.
    */
  private val genKey: Gen[Integer] = Gen.frequency(
    3 -> Gen.oneOf[Integer](1, 2, 3, 7, MaxKey),
    2 -> Gen.oneOf[Integer](0, -1, Int.MinValue, 4, MaxKey + 1, Int.MaxValue, null))

  private type Trip = (String, Integer, Integer, Double, Double, String, Long, Double, Double)

  private val genTrip: Gen[Trip] =
    for {
      business <- Gen.oneOf("Uber", "Lyft")
      pu <- genKey
      dropoff <- genKey
      len <- Gen.chooseNum(1, 20).map(_.toDouble)
      wait <- Gen.chooseNum(10, 600).map(_.toDouble)
      tod <- Gen.oneOf("morning", "afternoon", "evening", "night")
      day <- Gen.chooseNum(0, 150) // ~5 months from 2023-01-01
      pay <- Gen.chooseNum(5, 60).map(_.toDouble)
      profit <- Gen.chooseNum(-20, 20).map(_.toDouble)
    } yield (business, pu, dropoff, len, wait, tod,
      1672531200L + day * 86400L, pay, profit)

  private def tripsOf(trips: List[Trip]): DataFrame =
    spark.createDataFrame(trips)
      .toDF("business", "pickup_location", "dropoff_location", "trip_length",
        "request_to_pickup", "time_of_day", "date", "driver_total_pay",
        "rideshare_profit")

  private lazy val zonesDf = spark.createDataFrame(zones)
    .toDF("LocationID", "Borough", "Zone", "service_zone")

  private def enrichedOf(trips: List[Trip]) = Enrich.enrich(tripsOf(trips), zonesDf)

  /** The enrichment as the reference writes it (`codes/task1.py:45-69`):
    * two left joins against the prefixed zone table.
    */
  private def joinEnriched(trips: DataFrame, zones: DataFrame): DataFrame = {
    def prefixed(prefix: String) = zones.select(
      col("LocationID").as(s"${prefix}_LocationID"),
      col("Borough").as(s"${prefix}_Borough"),
      col("Zone").as(s"${prefix}_Zone"),
      col("service_zone").as(s"${prefix}_service_zone"))
    trips
      .join(broadcast(prefixed("Pickup")),
        col("pickup_location") === col("Pickup_LocationID"), "left")
      .drop("Pickup_LocationID")
      .join(broadcast(prefixed("Dropoff")),
        col("dropoff_location") === col("Dropoff_LocationID"), "left")
      .drop("Dropoff_LocationID")
      .withColumn("date", from_unixtime(col("date"), "yyyy-MM-dd"))
  }

  private val genTrips = Gen.nonEmptyListOf(genTrip)

  property("the lookup equals the two left joins: schema and rows") =
    forAll(genTrips) { trips =>
      val want = joinEnriched(tripsOf(trips), zonesDf)
      val got = enrichedOf(trips)
      def sorted(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
      Prop(got.schema == want.schema) :| s"schema ${got.schema} != ${want.schema}" &&
        Prop(sorted(got) == sorted(want)) :| s"trips=$trips"
    }

  property("enrich preserves row count (left-join, unique dim keys)") =
    forAll(genTrips) { trips =>
      enrichedOf(trips).count() == trips.length
    }

  property("top-k per month: kept counts dominate dropped counts") =
    forAll(genTrips) { trips =>
      val enr = enrichedOf(trips)
      val kept = RideshareTasks.topBoroughsPerMonth(enr, "Pickup", k = 2)
        .collect().map(r => (r.getInt(1), r.getLong(2)))
      val all = {
        enr.withColumn("month", month(col("date")))
          .groupBy("Pickup_Borough", "month").count()
          .collect().map(r => (r.getInt(1), r.getLong(2)))
      }
      val keptSet = kept.toSet
      val dropped = all.filterNot(keptSet)
      Prop(dropped.forall { case (m, c) =>
        kept.filter(_._1 == m).forall(_._2 >= c)
      }) :| s"kept=${kept.toSeq} dropped=${dropped.toSeq}"
    }

  property("pivot totals: uber+lyft = total, totals sum to row count") =
    forAll(genTrips) { trips =>
      val rows = RideshareTasks
        .topRoutesPivotedByBusiness(enrichedOf(trips), k = 1000).collect()
      val perRow = rows.forall(r => r.getLong(1) + r.getLong(2) == r.getLong(3))
      Prop(perRow && rows.map(_.getLong(3)).sum == trips.length) :|
        s"rows=${rows.length}"
    }

  property("earnings per mile = pay avg / length avg, per time_of_day") =
    forAll(genTrips) { trips =>
      val e = enrichedOf(trips)
      val pay = RideshareTasks.avgDriverPayByTimeOfDay(e).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val len = RideshareTasks.avgTripLengthByTimeOfDay(e).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val ratio = RideshareTasks.earningsPerMile(e).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      Prop(ratio.forall { case (tod, v) =>
        math.abs(v - pay(tod) / len(tod)) < 1e-9
      }) :| s"ratio=$ratio"
    }
}
