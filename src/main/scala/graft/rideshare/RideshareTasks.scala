package graft.rideshare

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's seven tasks (SURVEY.md §2.8), re-expressed as pure
  * `DataFrame => DataFrame` functions over the enriched 21-column table
  * produced by [[Enrich.enrich]]. Each function cites the reference task
  * body it reproduces. All are lazy plans; the caller picks the action.
  */
object RideshareTasks {

  /** The output order of an aggregate bounded by its key domain (4
    * times of day, 31 days, about 7 boroughs × 4): one task sorts it.
    * `orderBy` plans a range exchange, which adds a sampling job and a
    * stage of its own: 2 single-task jobs per action to order at most
    * 28 rows. `coalesce(1)` is narrow, so it collapses only the
    * post-shuffle final aggregate into the sort task, and that
    * aggregate reads at most one row per group from each map task.
    * `Sinks.exportSorted` would keep a round-robin exchange (saving one
    * job, not two) and sorts by ascending column names only.
    */
  private def sortedInOneTask(cols: Column*)(df: DataFrame): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)

  /** T2a — trip counts per (business, month). Reference
    * `codes/task2.py:77-80`. Partial aggregation (map-side combine) makes
    * this a single small shuffle of ≤ |business|×|month| groups per task.
    */
  def tripCountsByBusinessMonth(enriched: DataFrame): DataFrame =
    enriched
      .withColumn("month", month(col("date")))
      .groupBy("business", "month")
      .count()
      .withColumnRenamed("count", "trip_count")

  /** T2b — platform profits per (business, month), rendered with
    * thousands separators at 2 dp exactly like the golden CSVs
    * ("313,005,114.53"). Reference `codes/task2.py:73,86-93`; the cast
    * reproduces the reference's explicit string→float cast semantics.
    */
  def totalProfitsByBusinessMonth(enriched: DataFrame): DataFrame =
    enriched
      .withColumn("month", month(col("date")))
      .groupBy("business", "month")
      .agg(sum(col("rideshare_profit").cast("double")).as("profit"))
      .select(col("business"), col("month"),
        format_number(col("profit"), 2).as("total_profit"))

  /** T2c — driver earnings per (business, month). Reference
    * `codes/task2.py:74,96-103`. */
  def totalEarningsByBusinessMonth(enriched: DataFrame): DataFrame =
    enriched
      .withColumn("month", month(col("date")))
      .groupBy("business", "month")
      .agg(sum(col("driver_total_pay").cast("double")).as("earnings"))
      .select(col("business"), col("month"),
        format_number(col("earnings"), 2).as("total_earnings"))

  /** T3a/T3b — top-5 boroughs per month by trip count, dense_rank so ties
    * all survive (reference `codes/task3.py:74-102`; dense_rank at :83).
    * The window repartitions by `month` only — at 100 TB the per-month
    * partitions hold ≤ |borough| pre-aggregated rows, so WindowExec sorts
    * a handful of rows per partition, never raw trips.
    */
  def topBoroughsPerMonth(enriched: DataFrame, side: String, k: Int = 5): DataFrame = {
    val boroughCol = s"${side}_Borough"
    val w = Window.partitionBy("month").orderBy(col("trip_count").desc)
    enriched
      .withColumn("month", month(col("date")))
      .groupBy(boroughCol, "month")
      .count()
      .withColumnRenamed("count", "trip_count")
      .withColumn("rank", dense_rank().over(w))
      .filter(col("rank") <= k)
      .drop("rank")
  }

  /** T3c — top-30 borough→borough routes by driver pay sum. Reference
    * `codes/task3.py:106-115` (concat_ws " to " at :109). The
    * orderBy+limit collapses to TakeOrderedAndProject — distributed
    * top-k, no global sort.
    */
  def topRoutesByProfit(enriched: DataFrame, k: Int = 30): DataFrame =
    enriched
      .withColumn("Route",
        concat_ws(" to ", col("Pickup_Borough"), col("Dropoff_Borough")))
      .groupBy("Route")
      .agg(sum(col("driver_total_pay").cast("double")).as("total_profit"))
      .orderBy(col("total_profit").desc)
      .limit(k)

  /** T4a — average driver pay per time_of_day, descending. Reference
    * `codes/task4.py:74-76`. */
  def avgDriverPayByTimeOfDay(enriched: DataFrame): DataFrame =
    enriched
      .groupBy("time_of_day")
      .agg(avg(col("driver_total_pay").cast("double"))
        .as("average_driver_total_pay"))
      .transform(sortedInOneTask(col("average_driver_total_pay").desc))

  /** T4b — average trip length per time_of_day. Reference
    * `codes/task4.py:80-82`. */
  def avgTripLengthByTimeOfDay(enriched: DataFrame): DataFrame =
    enriched
      .groupBy("time_of_day")
      .agg(avg(col("trip_length").cast("double")).as("average_trip_length"))
      .transform(sortedInOneTask(col("average_trip_length").desc))

  /** T4c — earnings per mile: the T4a and T4b averages per time_of_day,
    * then their ratio. Reference `codes/task4.py:86-95` joins the two
    * aggregates; both averages come from ONE aggregate here, so the
    * input is scanned once and the query has a single plan.
    */
  def earningsPerMile(enriched: DataFrame): DataFrame =
    enriched
      .groupBy("time_of_day")
      .agg(avg(col("driver_total_pay").cast("double")).as("pay"),
        avg(col("trip_length").cast("double")).as("len"))
      .select(col("time_of_day"),
        (col("pay") / col("len")).as("average_earning_per_mile"))

  /** T5a — January-only average wait per day of month, ascending.
    * Reference `codes/task5.py:71-80`. The month filter sits below the
    * aggregate so only January rows reach the shuffle.
    */
  def januaryDailyAvgWait(enriched: DataFrame): DataFrame =
    enriched
      .filter(month(col("date")) === 1)
      .withColumn("day", dayofmonth(col("date")))
      .groupBy("day")
      .agg(avg(col("request_to_pickup").cast("double"))
        .as("average_waiting_time"))
      .transform(sortedInOneTask(col("day")))

  /** T5b — days whose average wait exceeds the threshold. The reference
    * crossed to pandas for this (`codes/task5.py:86-92`); we keep it in
    * Spark — only the ≤31-row result ever reaches the driver.
    */
  def daysWithAvgWaitOver(enriched: DataFrame, seconds: Double = 300): DataFrame =
    januaryDailyAvgWait(enriched)
      .filter(col("average_waiting_time") > seconds)
      .select("day")

  /** T6a — (Pickup_Borough, time_of_day) trip counts kept only when
    * 0 < count < 1000 (post-aggregation HAVING), multi-key sort.
    * Reference `codes/task6.py:71-81`.
    */
  def lowVolumeBoroughSlots(enriched: DataFrame): DataFrame =
    enriched
      .groupBy("Pickup_Borough", "time_of_day")
      .count()
      .withColumnRenamed("count", "trip_count")
      .filter(col("trip_count") > 0 && col("trip_count") < 1000)
      .transform(sortedInOneTask(col("Pickup_Borough"), col("time_of_day")))

  /** T6b — evening-only counts per pickup borough, the literal
    * time_of_day column re-attached after the group-by. Reference
    * `codes/task6.py:84-90` (`lit` at :88).
    */
  def eveningCountsByBorough(enriched: DataFrame): DataFrame =
    enriched
      .filter(col("time_of_day") === "evening")
      .groupBy("Pickup_Borough")
      .count()
      .withColumnRenamed("count", "trip_count")
      .withColumn("time_of_day", lit("evening"))
      .select("Pickup_Borough", "time_of_day", "trip_count")
      .transform(sortedInOneTask(col("Pickup_Borough")))

  /** T6c — Brooklyn→Staten Island trips: the conjunctive filter feeding
    * both the count and the 3-column sample. Reference
    * `codes/task6.py:96-118`.
    */
  def brooklynToStatenIsland(enriched: DataFrame): DataFrame =
    enriched
      .filter(col("Pickup_Borough") === "Brooklyn" &&
        col("Dropoff_Borough") === "Staten Island")
      .select("Pickup_Borough", "Dropoff_Borough", "Pickup_Zone")

  /** T7 — zone→zone routes pivoted by business. Passing the explicit
    * value list (`Seq("Uber","Lyft")`) elides the eager distinct-values
    * job PySpark's bare `pivot` runs (reference `codes/task7.py:79-94`).
    */
  def topRoutesPivotedByBusiness(enriched: DataFrame, k: Int = 10): DataFrame =
    enriched
      .withColumn("Route",
        concat_ws(" to ", col("Pickup_Zone"), col("Dropoff_Zone")))
      .groupBy("Route")
      .pivot("business", Seq("Uber", "Lyft"))
      .count()
      .na.fill(0)
      .withColumnRenamed("Uber", "uber_count")
      .withColumnRenamed("Lyft", "lyft_count")
      .withColumn("total_count", col("uber_count") + col("lyft_count"))
      .orderBy(col("total_count").desc)
      .limit(k)
}
