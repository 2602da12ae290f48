package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import EventStreams._

class EventStreamsSpec extends AnyFunSuite with SparkSpec {

  private lazy val ss = graft.SharedSpark.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2023-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  // u1: events at 10:00/10:10 then 11:00 (50-min gap → 2 sessions);
  // u2: one event at 10:05 (1 session)
  private val fixture = Seq(
    Event(1, ts(0), 1, "view", 1.0),
    Event(2, ts(10), 1, "click", 2.0),
    Event(3, ts(60), 1, "view", 3.0),
    Event(4, ts(5), 2, "view", 4.0))

  test("batch hourly aggregate: counts and sums per window × type") {
    import ss.implicits._
    val got = hourly(fixture.toDF()).orderBy("hour", "event_type").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === Seq(
      ("2023-01-01 10:00:00.0", "click", 1L, 2.0),
      ("2023-01-01 10:00:00.0", "view", 2L, 5.0),
      ("2023-01-01 11:00:00.0", "view", 1L, 3.0)))
  }

  test("streaming hourly equals batch hourly on the same data") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    val mem = MemoryStream[Event]
    val query = hourly(mem.toDF()).writeStream
      .format("memory").queryName("hourly_stream")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(fixture: _*)
      query.processAllAvailable()
      val streamed = spark.table("hourly_stream")
        .orderBy("hour", "event_type").collect().map(_.toSeq).toSeq
      val batch = hourly(fixture.toDF())
        .orderBy("hour", "event_type").collect().map(_.toSeq).toSeq
      assert(streamed === batch)
    } finally query.stop()
  }

  test("startHourlyPipeline flushes finalized batch windows; a restart appends nothing") {
    import ss.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_hourly").toFile
    val (src, sink, ckpt) = (s"$root/src", s"$root/sink", s"$root/ckpt")
    // two events an hour from 10:00 to 15:30: the 2 h watermark
    // (15:30 - 2 h) finalizes only the windows that end by 13:30
    (0 until 12).map(i => Event(i, ts(30 * i), i % 3, Seq("view", "click")(i % 2),
      i.toDouble)).toDF().withColumn("props", lit("{}")).write.parquet(src)
    def drain(): Unit = {
      val q = startHourlyPipeline(spark, src, sink, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    try {
      drain()
      val flushed = spark.read.parquet(sink).collect().toSet
      val batch = hourly(spark.read.parquet(src)).collect().toSet
      assert(flushed.nonEmpty && flushed.subsetOf(batch))
      val lastFlushed = flushed.map(_.getTimestamp(0).getTime).max
      assert((batch -- flushed).forall(_.getTimestamp(0).getTime > lastFlushed))
      // and none is held back: the 10:00, 11:00 and 12:00 windows (a
      // view and a click row each) are all in the sink
      assert(flushed === batch.filter(_.getTimestamp(0).before(ts(180))))
      assert(flushed.size === 6)
      drain()
      assert(spark.read.parquet(sink).count() === flushed.size)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("batch session_window: 30-min gap splits u1 into two sessions") {
    import ss.implicits._
    val got = sessionWindows(fixture.toDF())
      .orderBy("user_id", "start_ts").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(got === Seq((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("batch flatMapGroupsWithState sessionize matches hand-computed sessions") {
    import ss.implicits._
    val got = sessionize(spark, fixture.toDS())
      .orderBy("user_id", "start_ts").collect().toSeq
    assert(got === Seq(
      Session(1, ts(0), ts(10), 2),
      Session(1, ts(60), ts(60), 1),
      Session(2, ts(5), ts(5), 1)))
  }

  test("streaming dedup drops replayed event_ids within the watermark") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    val mem = MemoryStream[Event]
    val query = dedupStream(mem.toDF()).writeStream
      .format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Event(1, ts(0), 1, "view", 1.0),
        Event(2, ts(5), 1, "click", 2.0))
      query.processAllAvailable()
      // replay event 1 (same id) plus one new event
      mem.addData(Event(1, ts(0), 1, "view", 1.0),
        Event(3, ts(10), 2, "view", 3.0))
      query.processAllAvailable()
      val ids = spark.table("dedup_stream").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(ids === Seq(1L, 2L, 3L)) // the replayed id survives once
    } finally query.stop()
  }

  test("streaming sessionize emits closed sessions as the watermark advances") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    val mem = MemoryStream[Event]
    val query = sessionize(spark,
      mem.toDS().withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName("session_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Event(1, ts(0), 1, "view", 1.0),
        Event(2, ts(10), 1, "click", 2.0))
      query.processAllAvailable()
      // u1's session is still open: watermark is at 10:10
      assert(spark.table("session_stream").count() === 0)
      // a much-later event pushes the watermark past 10:10 + 30 min
      mem.addData(Event(5, ts(180), 9, "view", 0.0))
      query.processAllAvailable()
      mem.addData(Event(6, ts(240), 9, "view", 0.0))
      query.processAllAvailable()
      val closed = spark.table("session_stream")
        .filter("user_id = 1").collect().toSeq
      assert(closed === Seq(org.apache.spark.sql.Row(1L, ts(0), ts(10), 2L)))
    } finally query.stop()
  }

  test("stream-stream attribution joins purchases to preceding clicks") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    // u1 purchases at 10:40: clicks at 10:15/10:39 match (within 30
    // min before), 10:05 is too old, 10:45 is after; u2 never buys
    val purchases = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val query = attribution(purchases.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(
        Event(10, ts(5), 1, "click", 0.0),
        Event(11, ts(15), 1, "click", 0.0),
        Event(12, ts(39), 1, "click", 0.0),
        Event(13, ts(45), 1, "click", 0.0),
        Event(14, ts(20), 2, "click", 0.0))
      purchases.addData(Event(20, ts(40), 1, "purchase", 9.0))
      query.processAllAvailable()
      val got = spark.table("attrib").collect()
        .map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
      assert(got === Seq((20L, 11L), (20L, 12L)))
      // a second micro-batch purchase still matches state-held clicks
      purchases.addData(Event(21, ts(50), 2, "purchase", 5.0))
      query.processAllAvailable()
      val got2 = spark.table("attrib").collect()
        .map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
      assert(got2 === Seq((20L, 11L), (20L, 12L), (21L, 14L)))
    } finally query.stop()
  }

  test("attribution batch twin: same code, watermark a no-op") {
    import ss.implicits._
    val evs = Seq(
      Event(10, ts(5), 1, "click", 0.0),
      Event(11, ts(15), 1, "click", 0.0),
      Event(20, ts(40), 1, "purchase", 9.0)).toDF()
    val got = attribution(
      evs.filter("event_type = 'purchase'"),
      evs.filter("event_type = 'click'"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(got === Seq((20L, 11L)))
  }

  test("histScreen: window histogram shards survive any micro-batch split") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    import org.apache.spark.sql.functions.col
    // one 10:00 window split across TWO micro-batches — cells are
    // sums, so the emitted shard must equal the single-batch twin
    val rows = Seq(
      Event(1, ts(1), 1, "view", 2.0),
      Event(2, ts(2), 1, "view", 7.5),
      Event(3, ts(3), 2, "view", 7.9),
      Event(4, ts(4), 2, "view", 999.0)) // clamps to the top bin
    val batch = histScreen(rows.toDF())
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(batch === Map(0L -> 1L, 1L -> 2L, 99L -> 1L))
    val mem = MemoryStream[Event]
    val query = histScreen(mem.toDF())
      .writeStream.format("memory").queryName("hist_screen")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(rows.take(2): _*)
      query.processAllAvailable()
      mem.addData(rows.drop(2): _*)
      query.processAllAvailable()
      // late arrival advances the watermark past the 10:00 window
      mem.addData(Event(9, Timestamp.valueOf("2023-01-01 14:30:00"),
        3, "view", 1.0))
      query.processAllAvailable()
      val streamed = spark.table("hist_screen")
        .filter(col("hour") < Timestamp.valueOf("2023-01-01 12:00:00"))
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(streamed === batch)
      // the emitted shard folds into the batch whole-stream sketch
      // and resolves quantiles without replaying the stream
      val q = graft.operators.Profile.histQuantiles(
        spark.table("hist_screen")
          .filter(col("hour") < Timestamp.valueOf("2023-01-01 12:00:00"))
          .select(org.apache.spark.sql.functions.lit("all").as("key"),
            col("bin"), col("c")),
        0L, 5L, Seq("p50" -> 5000)).collect().head
      assert(q.getLong(1) === 4L && q.getLong(2) === 10L) // rank 2 → bin 1 edge
    } finally query.stop()
  }
}
