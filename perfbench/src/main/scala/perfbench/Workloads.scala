package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.rideshare.{Enrich, RideshareSchema, RideshareTasks}
import graft.sources.Sinks

/** What a timed action hands back to the output check. */
sealed trait Output
final case class Rows(rows: Seq[Row]) extends Output
final case class Count(n: Long) extends Output
final case class Written(path: String) extends Output
case object Discarded extends Output

/** Records a child span of the current phase when tracing is on. */
trait SubSpan { def apply[A](name: String)(f: => A): A }

/** One query of a pass: `build` calls the program's public entry points
  * to construct the frame, `act` runs the action. `sink` marks actions
  * that are user-visible writes through `graft.sources.Sinks`.
  */
final case class Step(name: String, family: String, build: () => DataFrame,
    act: DataFrame => Output, sink: Boolean = false)

/** The three workloads. A pass is a fixed list of steps; the registry
  * workloads take their steps from `SparkEntry.queries`.
  */
object Workloads {
  val analogCore: Seq[String] = Seq(
    "t1_enrich_count", "t1_enrich_sample", "t2a_trip_count",
    "t2b_total_profit", "t2c_total_earnings", "t3a_top5_nations_month",
    "t3b_top5_supp_nations_month", "t3c_top30_routes", "t3d_topk_agg",
    "t4a_avg_price_by_priority", "t4b_avg_qty_by_flag", "t4c_price_per_qty",
    "t5a_daily_avg_value", "t5b_days_over_threshold", "t6a_having_range",
    "t6b_urgent_by_nation", "t6c_filtered_count", "t6c_filtered_sample",
    "t7_pivot_routes", "t8_semi_anti", "t9_rollup", "t10_distinct_agg",
    "events_hourly", "events_rolling", "events_json_extract",
    "events_sessionize")

  /** One query per family, so that a run has time for two timed passes. */
  val corpusMl: Seq[String] = Seq(
    "dedup_simhash_pairs", "decontam_survivors", "quality_gopher_rules",
    "sim_nndescent_topk", "model_store_pq", "stream_bm25_screen",
    "pipeline_curate_full")

  /** Queries that probe a stored ModelStore artifact: set-up builds it. */
  val artifactProbes: Set[String] = Set("stream_bm25_screen")

  val registryWorkloads: Map[String, Seq[String]] =
    Map("analog_core" -> analogCore, "corpus_ml" -> corpusMl)

  /** Query family: the name's prefix (`model_store_pq` -> `model_store`). */
  def family(name: String): String =
    if (name.startsWith("model_store")) "model_store"
    else name.takeWhile(_ != '_')

  /** Timed action of a registry query: the no-op sink consumes every row
    * and column (a `count()` would let Catalyst prune the projected work).
    */
  def noop(df: DataFrame): Output = {
    df.write.format("noop").mode("overwrite").save()
    Discarded
  }

  def registry(names: Seq[String], dataDir: String, spark: SparkSession,
      act: (String, DataFrame) => Output): Seq[Step] = {
    val fns = SparkEntry.queries
    names.map { n =>
      val fn = fns.getOrElse(n, sys.error(s"unknown registry query $n"))
      Step(n, family(n), () => fn(spark, dataDir), df => act(n, df))
    }
  }

  /** One rideshare pass: the reads and the shared enrichment, then every
    * T1-T7 output in RideshareApp's order and with its actions -- CSV
    * sinks for T2 and T5a, row results for the outputs it shows.
    */
  def rideshare(spark: SparkSession, dataDir: String, outDir: String,
      sub: SubSpan): Seq[Step] = {
    var enriched: DataFrame = null
    def rows(df: DataFrame): Output = Rows(df.collect().toSeq)
    def csv(name: String)(df: DataFrame): Output = {
      Sinks.writeCsvSingle(df, s"$outDir/$name")
      Written(s"$outDir/$name")
    }
    val readAndEnrich = () => {
      val (trips, zones) = sub("sources.read") {
        (RideshareSchema.readTrips(spark, s"$dataDir/rideshare_data.csv"),
          RideshareSchema.readZones(spark, s"$dataDir/taxi_zone_lookup.csv"))
      }
      enriched = sub("rideshare.enrich") {
        Enrich.enrich(trips, zones)
      }
      enriched
    }
    def on(f: DataFrame => DataFrame): () => DataFrame = () => f(enriched)
    Seq(
      Step("t1_enriched_sample", "t1", readAndEnrich, df => Rows(df.take(5).toSeq)),
      Step("t1_enriched_count", "t1", () => enriched, df => Count(df.count())),
      Step("t2_trip_count", "t2", on(RideshareTasks.tripCountsByBusinessMonth),
        csv("trip_count"), sink = true),
      Step("t2_total_profit", "t2", on(RideshareTasks.totalProfitsByBusinessMonth),
        csv("total_profit"), sink = true),
      Step("t2_total_earnings", "t2", on(RideshareTasks.totalEarningsByBusinessMonth),
        csv("total_earnings"), sink = true),
      Step("t3_top_pickup_boroughs", "t3",
        on(RideshareTasks.topBoroughsPerMonth(_, "Pickup")), rows),
      Step("t3_top_dropoff_boroughs", "t3",
        on(RideshareTasks.topBoroughsPerMonth(_, "Dropoff")), rows),
      Step("t3_top_routes", "t3", on(RideshareTasks.topRoutesByProfit(_)), rows),
      Step("t4_avg_pay", "t4", on(RideshareTasks.avgDriverPayByTimeOfDay), rows),
      Step("t4_avg_length", "t4", on(RideshareTasks.avgTripLengthByTimeOfDay), rows),
      Step("t4_earning_per_mile", "t4", on(RideshareTasks.earningsPerMile), rows),
      Step("t5_january_wait", "t5", on(RideshareTasks.januaryDailyAvgWait),
        csv("avg_waiting_time"), sink = true),
      Step("t5_days_over_300", "t5", on(RideshareTasks.daysWithAvgWaitOver(_)), rows),
      Step("t6_low_volume_slots", "t6", on(RideshareTasks.lowVolumeBoroughSlots), rows),
      Step("t6_evening_counts", "t6", on(RideshareTasks.eveningCountsByBorough), rows),
      Step("t6_brooklyn_si_count", "t6", on(RideshareTasks.brooklynToStatenIsland),
        df => Count(df.count())),
      Step("t6_brooklyn_si_sample", "t6", on(RideshareTasks.brooklynToStatenIsland),
        df => Rows(df.take(10).toSeq)),
      Step("t7_top_routes", "t7", on(RideshareTasks.topRoutesPivotedByBusiness(_)),
        rows))
  }
}
