package graft.rideshare

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The shared enrichment preamble every reference task repeats verbatim
  * (`codes/task1.py:40-69`, byte-identical in task2..task7): fact table
  * left-joined twice against the 265-row zone lookup (pickup side, then
  * dropoff side), prefixed renames, drop of the duplicated join key, and
  * the epoch-seconds → "yyyy-MM-dd" date conversion.
  *
  * Scale design: the zone lookup is a tiny dimension with 265 rows at
  * any fact size, so it is read once on the driver, by one bounded
  * probe job, into three dense arrays indexed by `LocationID`
  * (Borough, Zone, service_zone). Each trip reads its zone attributes
  * with `get(array, key)`: one slot per key, no join, no broadcast job
  * per action, and the plan is the fact scan alone. `get` returns null
  * for a null, negative or out-of-range key, which is what the left join
  * gives an unmatched key. The arrays enter generated code as literal
  * reference objects, so a new call generates no new code.
  */
object Enrich {

  /** The largest zone dimension the lookup takes: at most this many
    * rows, keys in [0, MaxZones). The arrays have one slot per key and
    * travel in every stage's task binary; at 4,096 slots of zone-name
    * strings they stay well under Spark's 1000 KiB task-size warning,
    * and the NYC lookup (265 rows, keys 1–265) is 15 times smaller.
    */
  val MaxZones: Int = 4096

  private val Attributes = Seq("Borough", "Zone", "service_zone")

  /** `get` reads its index as an int, so a trip key must be no wider. */
  private val IntTypes: Set[DataType] = Set(ByteType, ShortType, IntegerType)

  /** The zone rows the lookup is built from: at most MaxZones + 1 of
    * them, so the size guard never counts the whole dimension.
    */
  private[rideshare] def probe(zones: DataFrame): DataFrame =
    zones.select(("LocationID" +: Attributes).map(col): _*).limit(MaxZones + 1)

  /** Each zone attribute as a literal array indexed by `LocationID`; a
    * key with no zone row holds null. Zone rows with a null key are
    * skipped, as the join never matches them either.
    */
  private def lookups(zones: DataFrame): Seq[(String, Column)] = {
    val keyType = zones.schema("LocationID").dataType
    require((IntTypes + LongType)(keyType), s"zone LocationID must be an integer type, got $keyType")
    val rows = probe(zones).collect()
    require(rows.length <= MaxZones,
      s"zone dimension has more than $MaxZones rows, the most the lookup holds")
    val byKey = rows.filterNot(_.isNullAt(0)).groupBy(_.getAs[Number](0).longValue)
    byKey.foreach { case (k, rs) =>
      require(k >= 0, s"negative zone LocationID $k")
      require(k < MaxZones, s"zone LocationID $k exceeds the lookup's largest key ${MaxZones - 1}")
      require(rs.length == 1, s"duplicate zone LocationID $k: the left join would duplicate its trips")
    }
    val slots = if (byKey.isEmpty) 0 else byKey.keys.max.toInt + 1
    Attributes.zipWithIndex.map { case (name, j) =>
      val values = Seq.tabulate(slots)(k => byKey.get(k).map(_.head.get(j + 1)).orNull)
      name -> GraftBridge.column(Literal.create(values, ArrayType(zones.schema(name).dataType)))
    }
  }

  /** trips ⟕ zones(pickup) ⟕ zones(dropoff) + date conversion →
    * the 21-column enriched table (reference `codes/task1.py:45-69`;
    * left-join semantics keep trips with unmatched zone ids as nulls).
    */
  def enrich(trips: DataFrame, zones: DataFrame): DataFrame = {
    Seq("pickup_location", "dropoff_location").foreach { key =>
      val t = trips.schema(key).dataType
      require(IntTypes(t), s"trip $key must be an int type, got $t")
    }
    val zone = lookups(zones)
    def side(prefix: String, key: String): Seq[Column] =
      zone.map { case (name, values) => get(values, col(key)).as(s"${prefix}_$name") }
    trips.select(col("*") +: (side("Pickup", "pickup_location") ++
        side("Dropoff", "dropoff_location")): _*)
      // epoch seconds → "yyyy-MM-dd" string (reference `codes/task1.py:69`
      // uses from_unixtime the same way; downstream month()/dayofmonth()
      // accept the string via implicit cast, as in the reference).
      .withColumn("date", from_unixtime(col("date"), "yyyy-MM-dd"))
  }
}
