package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class DocStreamsSpec extends AnyFunSuite with SparkSpec {

  private lazy val ss = graft.SharedSpark.spark

  private lazy val corpus = spark.createDataFrame(Seq(
    (100L, "alpha beta gamma delta epsilon zeta"),
    (101L, "one two three four five six"),
    (102L, "red green blue yellow purple orange")))
    .toDF("doc_id", "text")

  test("qualityNbScreen: arrivals score against the stored-model literals, stateless") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    // a separable keep/drop model (the weak-label quality shape)
    val seed = spark.createDataFrame(Seq(
      (0L, "excellent wellformed prose paragraph", "keep"),
      (1L, "excellent wellformed prose structure", "keep"),
      (2L, "garbled spam noise fragment junk", "drop"),
      (3L, "garbled spam noise junk tokens", "drop")))
      .toDF("doc_id", "text", "lang")
    val m = graft.operators.LangId.train(seed)
    val mem = MemoryStream[(Long, String)]
    val query = DocStreams.qualityNbScreen(
      mem.toDF().toDF("doc_id", "text"), m)
      .writeStream.format("memory").queryName("qnbscreen")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData((10L, "a wellformed prose paragraph arrived"),
        (11L, "garbled noise junk arrived"))
      query.processAllAvailable()
      val got = spark.table("qnbscreen").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(got === Seq((10L, "keep"), (11L, "drop")))
      // stream == batch twin (the stateless-plan law)
      val batch = DocStreams.qualityNbScreen(
        Seq((10L, "a wellformed prose paragraph arrived"),
          (11L, "garbled noise junk arrived")).toDF("doc_id", "text"), m)
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1).toSeq
      assert(got === batch)
    } finally query.stop()
  }

  test("blocklistScreen: arriving docs count automaton hits like the batch twin") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    val terms = Seq("the", "he", "spam")
    val mem = MemoryStream[(Long, String)]
    val query = DocStreams.blocklistScreen(
      mem.toDF().toDF("doc_id", "text"), terms)
      .writeStream.format("memory").queryName("blscreen")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData((1L, "the theme"), (2L, "clean row"), (3L, "spam spam"))
      query.processAllAvailable()
      val got = spark.table("blscreen").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(_._1).toSeq
      // "the theme": the@1, he@1, the@5, he@5 -> 4
      assert(got === Seq((1L, 4L, 1), (2L, 0L, 0), (3L, 2L, 1)))
      val batch = DocStreams.blocklistScreen(
        Seq((1L, "the theme"), (2L, "clean row"), (3L, "spam spam"))
          .toDF("doc_id", "text"), terms).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(_._1).toSeq
      assert(got === batch)
    } finally query.stop()
  }

  test("scriptScreen: arriving docs route by script like the batch twin") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    val mem = MemoryStream[(Long, String)]
    val query = DocStreams.scriptScreen(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("scriptscreen")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        (1L, "hello world"), // clean latin -> keep
        (2L, "ддд"),         // clean cyrillic -> route
        (3L, "aaaa дддд"),   // 4-4 tie: dominant latin, 100% mixed
        (4L, ""))            // no script chars
      query.processAllAvailable()
      val got = spark.table("scriptscreen").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).sortBy(_._1).toSeq
      assert(got === Seq(
        (1L, "latin", 0L, "keep"),
        (2L, "cyrillic", 0L, "route:cyrillic"),
        (3L, "latin", 1000000L, "mixed"),
        (4L, "none", 0L, "empty")))
      // batch twin on the same finite frame: identical rows
      val batch = DocStreams.scriptScreen(
        Seq((1L, "hello world"), (2L, "ддд"), (3L, "aaaa дддд"),
          (4L, "")).toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).sortBy(_._1).toSeq
      assert(got === batch)
    } finally query.stop()
  }

  test("dhashScreen generalizes to the audio envelope family (hashCol = fp)") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    import graft.operators.Multimodal
    import org.apache.spark.sql.functions.col
    val fps = Multimodal.envelopeFixtures(ss,
      ss.range(6).select(col("id").as("doc_id"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // corpus = the odd twins; arrivals = the even halves
    val corpus = Seq(1L, 3L, 5L).map(id => (id, fps(id))).toDF("doc_id", "fp")
    val index = DocStreams.dhashIndex(corpus, hashCol = "fp")
    val mem = MemoryStream[(Long, Long)]
    val query = DocStreams.dhashScreen(
      mem.toDF().toDF("doc_id", "fp"), index, hashCol = "fp")
      .writeStream.format("memory").queryName("audiofpscreen")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData((0L, fps(0L)), (2L, fps(2L)), (4L, fps(4L)))
      query.processAllAvailable()
      val got = spark.table("audiofpscreen").collect()
        .map(r => (r.getLong(0), r.getLong(1))).distinct.sorted.toSeq
      assert(got === Seq((0L, 1L), (2L, 3L), (4L, 5L))) // twins only
    } finally query.stop()
  }

  test("stream-static band join flags arriving near-dups of the corpus") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    val index = DocStreams.bandRows(corpus)

    val mem = MemoryStream[(Long, String)]
    val query = DocStreams.nearDupScreen(
      mem.toDF().toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("screen")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        (1L, "alpha beta gamma delta epsilon zeta"), // exact dup of 100
        (2L, "totally novel content goes here now")) // no match
      query.processAllAvailable()
      val hits = spark.table("screen").collect()
        .map(r => (r.getLong(0), r.getLong(1))).distinct.toSeq
      assert(hits === Seq((1L, 100L))) // only the dup, all 4 bands agree
      assert(spark.table("screen").count() === 4)
    } finally query.stop()
  }

  test("bandRows: a doc under 2 words has no band rows; screen hits equal the interpreted band keys'") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.{bandKeyInt, shingleHashesN}
    val docs = spark.createDataFrame(Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "solo"), (102L, ""),
      (103L, "one two three four five six"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "solo"), (4L, "")))
      .toDF("doc_id", "text")
    val (corpusDocs, arriving) =
      (docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100))
    val index = DocStreams.bandRows(corpusDocs)
    assert(index.select("doc_id").distinct().collect().map(_.getLong(0))
      .sorted.toSeq === Seq(100L, 103L))
    assert(index.count() === 8)
    // the interpreted composition the native banding replaced
    def interpreted(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id"), shingleHashesN(col("text")).as("hs"))
      .select(col("doc_id"), posexplode(
        array((0 until 4).map(b => bandKeyInt(col("hs"), b)): _*))
        .as(Seq("pos", "band")))
    def hits(stream: org.apache.spark.sql.DataFrame,
        idx: org.apache.spark.sql.DataFrame) =
      stream.join(idx.select(col("doc_id").as("matched_id"), col("pos"),
          col("band")), Seq("pos", "band"))
        .select("doc_id", "matched_id", "pos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val got = DocStreams.nearDupScreen(arriving, index).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got === hits(interpreted(arriving), interpreted(corpusDocs)))
    assert(got.map(p => (p._1, p._2)).distinct === Seq((1L, 100L), (2L, 103L)))
  }

  test("dhashScreen: streamed image hashes probe the block index like the batch twin") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    import graft.operators.Multimodal
    def hash(id: Long) = Multimodal.dhash64(id, Multimodal.dhashFixture(id))
    // corpus = odd ids (the twins of the arrivals) + unrelated evens
    val corpusIds = Seq(1L, 3L, 5L, 40L)
    val corpus = corpusIds.map(id => (id, hash(id))).toDF("doc_id", "dhash")
    val index = DocStreams.dhashIndex(corpus)
    val mem = MemoryStream[(Long, Long)]
    val query = DocStreams.dhashScreen(
      mem.toDF().toDF("doc_id", "dhash"), index)
      .writeStream.format("memory").queryName("dhashscreen")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData((0L, hash(0L)), (2L, hash(2L)), (100L, hash(100L)))
      query.processAllAvailable()
      val got = spark.table("dhashscreen").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
      // batch twin on the same finite frames
      val arrivals = Seq(0L, 2L, 100L).map(id => (id, hash(id)))
        .toDF("doc_id", "dhash")
      val batch = DocStreams.dhashScreen(arrivals, index).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
      assert(got === batch)
      // each arriving twin matches its odd partner, nothing else
      assert(got.map(t => (t._1, t._2)).distinct ===
        Seq((0L, 1L), (2L, 3L)))
      assert(got.forall(_._4 <= 3))
    } finally query.stop()
  }

  test("quotaScreen: cross-batch state caps each source; stream equals batch twin") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    val mem = MemoryStream[(Long, String)]
    val query = DocStreams.quotaScreen(
      mem.toDF().toDF("doc_id", "source").as[QuotaDoc], cap = 3)
      .writeStream.format("memory").queryName("quota")
      .outputMode(OutputMode.Append).start()
    val b1 = Seq((1L, "sa"), (2L, "sa"), (10L, "sb"))
    val b2 = Seq((20L, "sa"), (21L, "sa"), (22L, "sa"), (23L, "sb"))
    val b3 = Seq((30L, "sa")) // sa already at quota: drain, emit nothing
    try {
      mem.addData(b1: _*); query.processAllAvailable()
      mem.addData(b2: _*); query.processAllAvailable()
      mem.addData(b3: _*); query.processAllAvailable()
      val got = spark.table("quota").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._3)).toSeq
      // sa: 1,2 from batch 1 (ranks 1,2), then ONE more from batch 2 —
      // the smallest arriving id, rank continuing at 3; batch 3 rejected.
      assert(got === Seq(
        ("sa", 1L, 1L), ("sa", 2L, 2L), ("sa", 20L, 3L),
        ("sb", 10L, 1L), ("sb", 23L, 2L)))
      // batches arrived in doc_id order, so the finite-frame twin (the
      // gate's oracle shape) admits the identical set with equal ranks
      val batch = DocStreams.quotaScreen(
        (b1 ++ b2 ++ b3).toDF("doc_id", "source").as[QuotaDoc], cap = 3)
        .collect().map(q => (q.source, q.doc_id, q.rank))
        .sortBy(t => (t._1, t._3)).toSeq
      assert(batch === got)
    } finally query.stop()
  }

  test("asset screen: streamed verdicts equal the batch twin, corrupt flagged") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    import graft.operators.Multimodal
    def payload(id: Long): Array[Byte] = {
      val b = Multimodal.pngFixture(id)
      if (id % 7 == 0) b(50) = (b(50) ^ 0x55).toByte
      b
    }
    val ids = Seq(0L, 1L, 2L, 7L, 9L) // 0 and 7 corrupted
    val mem = MemoryStream[(Long, Array[Byte])]
    val query = DocStreams.assetScreen(
      mem.toDF().toDF("doc_id", "payload"))
      .writeStream.format("memory").queryName("assets")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(ids.map(id => (id, payload(id))): _*)
      query.processAllAvailable()
      val got = spark.table("assets").collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
      assert(got(0L) === ((0, -1L)))
      assert(got(7L) === ((0, -1L)))
      assert(got(1L) === ((1, 3L))) // w = 1%3+2
      assert(got(9L) === ((1, 2L))) // w = 9%3+2... = 2
      // batch twin over the same payloads — identical verdicts
      val twin = DocStreams.assetScreen(
        ids.map(id => (id, payload(id))).toDF("doc_id", "payload"))
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2)))
        .toMap
      assert(twin === got)
    } finally query.stop()
  }

  test("stream-static contamination screen flags shared 3-grams") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    val bench = spark.createDataFrame(Seq(
      (900L, "the quick brown fox jumps high")))
      .toDF("doc_id", "text")
    val index = DocStreams.benchGramIndex(bench)

    val mem = MemoryStream[(Long, String)]
    val query = DocStreams.contamScreen(
      mem.toDF().toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("contam")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        (1L, "a quick brown fox jumps over"), // shares 2 of bench's 3-grams
        (2L, "nothing in common with bench")) // none
      query.processAllAvailable()
      val hits = spark.table("contam").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(hits === Seq((1L, 900L), (1L, 900L))) // one row per shared gram
      assert(spark.table("contam").select("h").distinct().count() === 2)
    } finally query.stop()
  }

  test("stream-static bm25 screen: streamed hits equal the batch twin") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    val corpus = spark.createDataFrame(Seq(
      (1L, "cat sat here"), (2L, "dog ran far"), (3L, "dog dog dog"),
      (4L, "dog naps a lot"), (5L, "zebra only words")))
      .toDF("doc_id", "text")
    val index = graft.operators.Retrieval.bm25Index(corpus).persist()
    val arrivals = Seq((100L, "cat dog"), (200L, "unmatched vocabulary"))
    val batch = DocStreams.bm25Screen(
      spark.createDataFrame(arrivals).toDF("doc_id", "text"), index)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq

    val mem = MemoryStream[(Long, String)]
    val query = DocStreams.bm25Screen(
      mem.toDF().toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("bm25scr")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(arrivals: _*)
      query.processAllAvailable()
      val streamed = spark.table("bm25scr").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(identity).toSeq
      assert(streamed === batch)
      // query 100 hits: cat->doc1, dog->docs 2,3,4; 200 hits nothing
      assert(batch.map(_._1).distinct === Seq(100L))
      assert(batch.map(_._2).distinct.sorted === Seq(1L, 2L, 3L, 4L))
    } finally { query.stop(); index.unpersist() }
  }

  test("sampleScreen: per-window weighted draw equals the batch call") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    import java.sql.Timestamp
    // window 10:00 holds docs 1..6 (varying mass, one zero); a late
    // event at 14:30 advances the watermark past the window
    val rows = (1L to 6L).map(i =>
      (i, if (i == 4) 0L else i * 100L,
        Timestamp.valueOf(f"2023-01-01 10:0$i:00")))
    val batch = DocStreams.sampleScreen(
      spark.createDataFrame(rows).toDF("doc_id", "w", "ts"), n = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._3).toSeq
    val mem = MemoryStream[(Long, Long, Timestamp)]
    val query = DocStreams.sampleScreen(
      mem.toDF().toDF("doc_id", "w", "ts"), n = 3)
      .writeStream.format("memory").queryName("sample_screen")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      mem.addData(rows: _*)
      query.processAllAvailable()
      mem.addData((999L, 10L, Timestamp.valueOf("2023-01-01 14:30:00")))
      query.processAllAvailable()
      val streamed = spark.table("sample_screen")
        .filter("doc_id <> 999")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._3).toSeq
      assert(streamed === batch)
      assert(batch.length === 3)
      assert(!batch.map(_._1).contains(4L)) // zero mass never draws
    } finally query.stop()
  }

  test("cmScreen: window sketch shards survive any micro-batch split") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    import java.sql.Timestamp
    import org.apache.spark.sql.functions.col
    // one 10:00 window, docs split across TWO micro-batches — cells
    // are sums, so the shard must equal the single-batch twin
    val rows = Seq(
      (1L, "alpha beta alpha", Timestamp.valueOf("2023-01-01 10:01:00")),
      (2L, "beta gamma delta", Timestamp.valueOf("2023-01-01 10:02:00")),
      (3L, "alpha epsilon", Timestamp.valueOf("2023-01-01 10:03:00")))
    val batch = DocStreams.cmScreen(
      spark.createDataFrame(rows).toDF("doc_id", "text", "ts"), 3, 8)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val mem = MemoryStream[(Long, String, Timestamp)]
    val query = DocStreams.cmScreen(
      mem.toDF().toDF("doc_id", "text", "ts"), 3, 8)
      .writeStream.format("memory").queryName("cm_screen")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(rows.take(2): _*)
      query.processAllAvailable()
      mem.addData(rows.drop(2): _*)
      query.processAllAvailable()
      // late arrival advances the watermark past the 10:00 window
      mem.addData((9L, "flush", Timestamp.valueOf("2023-01-01 14:30:00")))
      query.processAllAvailable()
      val streamed = spark.table("cm_screen")
        .filter(col("hour") < Timestamp.valueOf("2023-01-01 12:00:00"))
        .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3))
        .toMap
      assert(streamed === batch)
      // the emitted shard folds into the batch whole-stream sketch
      val folded = graft.operators.Profile.cmMerge(
        spark.table("cm_screen")
          .filter(col("hour") < Timestamp.valueOf("2023-01-01 12:00:00"))
          .select("rw", "bucket", "c"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val whole = graft.operators.Profile.cmSketch(
        spark.createDataFrame(rows).toDF("doc_id", "text", "ts")
          .select(org.apache.spark.sql.functions.explode(
            org.apache.spark.sql.functions.split(col("text"), " "))
            .as("token")), 3, 8)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(folded === whole)
    } finally query.stop()
  }

  test("stream-static substring screen emits anchor alignments") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    // corpus doc 100 has 8 tokens -> one 8-gram anchor at corpus_pos 0;
    // a doc arriving with the same run shifted by 2 aligns at pos 2
    val corpus8 = spark.createDataFrame(Seq(
      (100L, "w0 w1 w2 w3 w4 w5 w6 w7")))
      .toDF("doc_id", "text")
    val index = DocStreams.substringAnchorIndex(corpus8)

    val mem = MemoryStream[(Long, String)]
    val query = DocStreams.substringScreen(
      mem.toDF().toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("subscreen")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        (1L, "x0 x1 w0 w1 w2 w3 w4 w5 w6 w7"), // shares the run at pos 2
        (2L, "totally unrelated token stream here")) // no anchors shared
      query.processAllAvailable()
      val hits = spark.table("subscreen").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
      assert(hits === Seq((1L, 100L, 2L, 0L, 2L)))
    } finally query.stop()
  }

  test("stream-static containment screen catches an embedded corpus passage") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    // corpus doc 100 is an 11-word passage; doc 1 arrives as a LONGER
    // page embedding it verbatim (the small-in-large case the band
    // screen is blind to); doc 2 shares nothing
    val passage = "the quick brown fox jumps over the lazy dog every day"
    val corpus = spark.createDataFrame(Seq((100L, passage)))
      .toDF("doc_id", "text")
    val index = DocStreams.winnowFpIndex(corpus)
    val mem = MemoryStream[(Long, String)]
    val query = DocStreams.containmentScreen(
      mem.toDF().toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("contscreen")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        (1L, s"p1 p2 p3 p4 p5 $passage q1 q2 q3 q4 q5"),
        (2L, "totally unrelated token stream flowing here"))
      query.processAllAvailable()
      val hits = spark.table("contscreen").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      // >= minShared(2) shared fingerprints from doc 1, none from doc 2
      assert(hits.count(_ == (1L, 100L)) >= 2)
      assert(!hits.exists(_._1 == 2L))
      // stream == batch twin: the same function on the finite frame
      val batch = DocStreams.containmentScreen(
        spark.createDataFrame(Seq(
          (1L, s"p1 p2 p3 p4 p5 $passage q1 q2 q3 q4 q5"),
          (2L, "totally unrelated token stream flowing here")))
          .toDF("doc_id", "text"), index)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val streamed = spark.table("contscreen").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(streamed.sorted.toSeq === batch.sorted.toSeq)
    } finally query.stop()
  }

  test("substring anchor index drops grams past the df cap") {
    val hot = spark.createDataFrame(
      (0 until 5).map(i => (i.toLong, "a b c d e f g h")))
      .toDF("doc_id", "text")
    // the single gram occurs 5 times; cap 4 empties the index
    assert(DocStreams.substringAnchorIndex(hot, maxDf = 4L).collect().isEmpty)
    assert(DocStreams.substringAnchorIndex(hot, maxDf = 5L).count() === 5)
  }

  test("streaming quality screen gates per micro-batch, stateless") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    val goodBody = (1 to 6).map(i =>
      s"the a filler line number $i word pad.").mkString("\n")

    val mem = MemoryStream[(Long, String)]
    val query = DocStreams.qualityScreen(
      mem.toDF().toDF("doc_id", "text"),
      reqStops = Seq("the", "a", "and", "that"))
      .writeStream.format("memory").queryName("qscreen")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        (1L, goodBody), // passes everything (48+ words? see below)
        (2L, goodBody + "\nlorem ipsum dolor sit amet.")) // page kill
      query.processAllAvailable()
      mem.addData( // second batch: no state carried, gating repeats
        (3L, "too. short.")) // every line < 5 words -> 0 kept
      query.processAllAvailable()
      val got = spark.table("qscreen").collect()
        .map(r => r.getLong(0) -> (r.getInt(4), r.getString(5)))
        .toMap
      // doc 1: 6 kept lines x 8 words = 48 < minWords=50 -> gopher_words
      assert(got(1L) === ((1, "gopher_words")))
      assert(got(2L) === ((0, "c4_page")))
      assert(got(3L) === ((0, "c4_page")))
    } finally query.stop()
  }

  test("batch quality screen: first-hit reason ordering") {
    val body = (1 to 7).map(i =>
      s"the a big line number $i extra word pad.").mkString("\n")
    val got = graft.operators.QualityFilters.screen(
      spark.createDataFrame(Seq(
        (0L, body), // 7 x 9 = 63 words, has the + a -> ok
        (1L, body + "\nfunction() { return 1; }"), // c4 kills first
        (2L, (1 to 7).map(i => s"zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr $i.")
          .mkString("\n")))) // mean len ok, no required stopwords -> gopher_stop
        .toDF("doc_id", "text"),
      reqStops = Seq("the", "a", "and", "that"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(5), r.getInt(6)))
    assert(got(0) === ((0L, "ok", 1)))
    assert(got(1) === ((1L, "c4_page", 0)))
    assert(got(2) === ((2L, "gopher_stop", 0)))
  }

  test("dsirScreen scores are bit-identical to the batch weights") {
    val raw = spark.createDataFrame(
      (0L to 40L).map(i => (i, s"tok$i alpha beta tok${i % 3} gamma")))
      .toDF("doc_id", "text")
    val target = raw.filter(org.apache.spark.sql.functions
      .col("doc_id") % 4 === 0)
    val model = graft.operators.Curation.dsirModel(raw, target, 256)
    val screen = DocStreams.dsirScreen(raw, model)
      .orderBy("doc_id").collect().map(_.toSeq)
    val batch = graft.operators.Curation.dsirWeights(raw, target, 256)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(screen.toSeq === batch.toSeq)
  }

  test("streaming dsir screen scores arriving docs per micro-batch") {
    import ss.implicits._
    implicit val sq = ss.sqlContext
    val corpus = spark.createDataFrame(
      (0L to 20L).map(i => (i, s"alpha beta w$i gamma")))
      .toDF("doc_id", "text")
    val target = corpus.filter(org.apache.spark.sql.functions
      .col("doc_id") < 5)
    val model = graft.operators.Curation.dsirModel(corpus, target, 128)
    val expect = DocStreams.dsirScreen(
      spark.createDataFrame(Seq(
        (100L, "alpha beta gamma"), (101L, "zz yy xx"))).toDF("doc_id", "text"),
      model).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap

    val mem = MemoryStream[(Long, String)]
    val query = DocStreams.dsirScreen(
      mem.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("dscreen")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData((100L, "alpha beta gamma"))
      query.processAllAvailable()
      mem.addData((101L, "zz yy xx"))
      query.processAllAvailable()
      val got = spark.table("dscreen").collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got === expect)
    } finally query.stop()
  }

  test("batch mode: screen equals the minhash candidate relation") {
    val hits = DocStreams.nearDupScreen(
      corpus.withColumn("doc_id", org.apache.spark.sql.functions.col("doc_id") + 1000),
      DocStreams.bandRows(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct.sorted.toSeq
    // each shifted doc matches exactly its original on all bands
    assert(hits === Seq((1100L, 100L), (1101L, 101L), (1102L, 102L)))
  }

  test("url-composed ingest verdicts: url_dup precedence, stream == batch") {
    import org.apache.spark.sql.functions._
    val accepted = spark.createDataFrame(Seq(
      (100L, "http://www.Site1.com:8080/a/1/page?utm_source=feed&x=2",
        "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "http://www.site2.com/b/page",
        "one two three four five six seven eight")))
      .toDF("doc_id", "url", "text")
    val target = spark.createDataFrame(Seq(
      (900L, "the cat and the dog have fun with the ball"),
      (901L, "the sun and the moon have light with the stars")))
      .toDF("doc_id", "text")
    val lm = graft.operators.Perplexity.model(target)
    val urlIdx = graft.operators.Web.urlProfile(accepted)
      .select("clean_url")
    val bandIdx = DocStreams.bandRows(accepted.select("doc_id", "text"))
    val arriving = Seq(
      // canonical twin of accepted 100's url (case/port/tracking/
      // fragment differ) AND a text replica: url_dup must win the
      // precedence over near_dup
      (1L, "HTTP://WWW.Site1.COM/a/1/page?utm_campaign=z&x=2#frag",
        "alpha beta gamma delta epsilon zeta eta theta"),
      // unique url, same replica text -> falls through to near_dup
      (2L, "http://www.site9.com/only",
        "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "http://www.site8.com/two", "tiny doc here"), // gopher_words
      (4L, "http://www.site7.com/ok",
        "the cat and the dog have fun with the ball")) // ok
    val arrDf = spark.createDataFrame(arriving)
      .toDF("doc_id", "url", "text")
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      DocStreams.ingestVerdictsUrl(df, urlIdx, bandIdx, lm,
        maxNll = Long.MaxValue, minWords = 5)
    val batch = verdicts(arrDf).collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getInt(4))).toMap
    assert(batch === Map(
      1L -> ("url_dup", 0), 2L -> ("near_dup", 0),
      3L -> ("gopher_words", 0), 4L -> ("ok", 1)))
    // stream == batch: the composed verdict is micro-batch-local
    // (stream-static joins + batch-local rollup, no cross-batch
    // state), run through the documented foreachBatch deployment in
    // two batches over a parquet source
    val root = java.nio.file.Files
      .createTempDirectory("graft_ingest_url").toString
    val (src, sink, ckpt) = (s"$root/src", s"$root/sink", s"$root/ckpt")
    def writeBatch(docs: Seq[(Long, String, String)]): Unit =
      spark.createDataFrame(docs).toDF("doc_id", "url", "text")
        .write.mode("append").parquet(src)
    writeBatch(arriving.take(2))
    val query = ss.readStream
      .schema("doc_id LONG, url STRING, text STRING")
      .parquet(src)
      .writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          verdicts(b.toDF()).write.mode("overwrite")
            .parquet(s"$sink/batch_id=$id")
          ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      query.processAllAvailable()
      writeBatch(arriving.drop(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(sink).collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getInt(4))).toMap
    assert(streamed === batch)
  }

  test("v3 semantic-composed ingest verdicts: precedence url_dup > " +
    "near_dup > semantic_contam > gopher > ok; missing embedding " +
    "skips the leg; stream == batch") {
    import org.apache.spark.sql.functions._
    val accepted = spark.createDataFrame(Seq(
      (100L, "http://www.Site1.com:8080/a/1/page?utm_source=feed&x=2",
        "alpha beta gamma delta epsilon zeta eta theta")))
      .toDF("doc_id", "url", "text")
    val target = spark.createDataFrame(Seq(
      (900L, "the cat and the dog have fun with the ball"),
      (901L, "the sun and the moon have light with the stars")))
      .toDF("doc_id", "text")
    val lm = graft.operators.Perplexity.model(target)
    val urlIdx = graft.operators.Web.urlProfile(accepted)
      .select("clean_url")
    val bandIdx = DocStreams.bandRows(accepted.select("doc_id", "text"))
    val evalIdx = graft.operators.Similarity.buildIndex(
      spark.createDataFrame(Seq((0L, Seq(1f, 0f, 0f, 0f), 0)))
        .toDF("vec_id", "embedding", "label"), bits = 2)
    // embeddings for docs 1-5; doc 6 has NO row (coverage lags ingest)
    val leak = Seq(1f, 0f, 0f, 0f); val clean = Seq(0f, 0f, 1f, 0f)
    val embs = spark.createDataFrame(Seq(
      (1L, leak), (2L, leak), (3L, leak), (4L, leak), (5L, clean)))
      .toDF("doc_id", "embedding")
    val arriving = Seq(
      // url twin AND replica text AND leaked embedding: url_dup wins
      (1L, "HTTP://WWW.Site1.COM/a/1/page?utm_campaign=z&x=2#frag",
        "alpha beta gamma delta epsilon zeta eta theta"),
      // replica text AND leaked embedding: near_dup wins
      (2L, "http://www.site9.com/only",
        "alpha beta gamma delta epsilon zeta eta theta"),
      // content-clean but leaked: semantic_contam
      (3L, "http://www.site8.com/three",
        "the cat and the dog have fun with the ball"),
      // gopher-bad AND leaked: semantic_contam outranks gopher_words
      (4L, "http://www.site7.com/four", "tiny doc here"),
      // clean text, clean embedding: ok
      (5L, "http://www.site6.com/five",
        "the cat and the dog have fun with the ball"),
      // clean text, NO embedding row: the leg skips, ok
      (6L, "http://www.site5.com/six",
        "the sun and the moon have light with the stars"))
    val arrDf = spark.createDataFrame(arriving)
      .toDF("doc_id", "url", "text")
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      DocStreams.ingestVerdictsSemantic(df, embs, urlIdx, bandIdx,
        evalIdx, lm, maxNll = Long.MaxValue, tau = 0.8, bits = 2,
        minWords = 5)
    val batch = verdicts(arrDf).collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getInt(4))).toMap
    assert(batch === Map(
      1L -> ("url_dup", 0), 2L -> ("near_dup", 0),
      3L -> ("semantic_contam", 0), 4L -> ("semantic_contam", 0),
      5L -> ("ok", 1), 6L -> ("ok", 1)))
    // stream == batch through the documented foreachBatch deployment
    val root = java.nio.file.Files
      .createTempDirectory("graft_ingest_v3").toString
    val (src, sink, ckpt) = (s"$root/src", s"$root/sink", s"$root/ckpt")
    def writeBatch(docs: Seq[(Long, String, String)]): Unit =
      spark.createDataFrame(docs).toDF("doc_id", "url", "text")
        .write.mode("append").parquet(src)
    writeBatch(arriving.take(3))
    val query = ss.readStream
      .schema("doc_id LONG, url STRING, text STRING")
      .parquet(src)
      .writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          verdicts(b.toDF()).write.mode("overwrite")
            .parquet(s"$sink/batch_id=$id")
          ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      query.processAllAvailable()
      writeBatch(arriving.drop(3))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(sink).collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getInt(4))).toMap
    assert(streamed === batch)
  }

  test("composed ingest pipeline: verdicts per micro-batch, checkpointed") {
    import org.apache.spark.sql.functions._
    val accepted = spark.createDataFrame(Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight")))
      .toDF("doc_id", "text")
    val target = spark.createDataFrame(Seq(
      (900L, "the cat and the dog have fun with the ball"),
      (901L, "the sun and the moon have light with the stars")))
      .toDF("doc_id", "text")
    // verdict fixtures: one per reject branch plus a clean pass
    val arriving = Seq(
      // exact replica of accepted 100 → near_dup (all 4 bands)
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "tiny doc here"), // 3 words → gopher_words at minWords=5
      // ≥5 alpha words, no required stopwords → gopher_stop
      (3L, "zebra quokka wombat dingo koala bilby"),
      // markup-wrapped copy of target 900 → extraction restores it,
      // every transition in-model → ok
      (4L, "<html><body><p>the cat and the dog have fun with the " +
        "ball</p><script>var x = 1 < 2;</script></body></html>"),
      // passes the rules (stopwords present) but transitions are
      // off-model → perplexity
      (5L, "the qqqqq and the zzzzz have wwww with the kkkkk"))
    val lm = graft.operators.Perplexity.model(target)
    // threshold between the in-model doc's score and the gibberish one
    val plain = spark.createDataFrame(Seq(
      (4L, "the cat and the dog have fun with the ball"),
      (5L, "the qqqqq and the zzzzz have wwww with the kkkkk")))
      .toDF("doc_id", "text")
    val nll = graft.operators.Perplexity.score(plain, target)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(nll(4L) < nll(5L))
    val maxNll = (nll(4L) + nll(5L)) / 2

    val root = java.nio.file.Files
      .createTempDirectory("graft_ingest").toString
    val (src, sink, ckpt) = (s"$root/src", s"$root/sink", s"$root/ckpt")
    def writeBatch(docs: Seq[(Long, String)]): Unit =
      spark.createDataFrame(docs).toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("web").as("source"), length(col("text")).as("n_chars"))
        .write.mode("append").parquet(src)
    writeBatch(arriving.take(3))
    val query = DocStreams.startIngestPipeline(ss, src, accepted, target,
      sink, ckpt, maxNll, minWords = 5)
    try {
      query.processAllAvailable()
      writeBatch(arriving.drop(3)) // second micro-batch, new files
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.read.parquet(sink).collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getInt(4))).toMap
    assert(got === Map(
      1L -> ("near_dup", 0), 2L -> ("gopher_words", 0),
      3L -> ("gopher_stop", 0), 4L -> ("ok", 1),
      5L -> ("perplexity", 0)))
    // the streamed verdicts equal the batch twin on the same input —
    // per-doc logic has no cross-batch state, so union(batches) ==
    // batch(union)
    val batchDf = spark.createDataFrame(arriving).toDF("doc_id", "text")
    val twin = DocStreams.ingestVerdicts(batchDf,
      DocStreams.bandRows(accepted), lm, maxNll, minWords = 5)
      .collect().map(r => r.getLong(0) -> (r.getString(3), r.getInt(4)))
      .toMap
    assert(twin === got)

    // checkpoint durability: a NEW query over the same checkpoint
    // resumes past the processed files — no reprocessing (sink stays
    // 5 rows for the old docs), and only the new batch appends
    writeBatch(Seq((6L, "the cat and the dog have fun with the ball")))
    val resumed = DocStreams.startIngestPipeline(ss, src, accepted,
      target, sink, ckpt, maxNll, minWords = 5)
    try resumed.processAllAvailable() finally resumed.stop()
    // row count on the RAW sink read: a reprocessed batch would
    // duplicate rows that a doc_id-keyed map would silently collapse
    assert(spark.read.parquet(sink).count() === 6)
    val after = spark.read.parquet(sink).collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getInt(4))).toMap
    assert(after(6L) === (("ok", 1)))
  }
}
