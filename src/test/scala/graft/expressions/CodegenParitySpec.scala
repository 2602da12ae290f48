package graft.expressions

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Interpreted `eval` equals generated code for every native
  * expression. Each query runs twice over the same parquet input:
  * interpreted (no whole-stage codegen, `NO_CODEGEN` projections) and
  * compiled (whole-stage codegen, `CODEGEN_ONLY`, no fallback to the
  * interpreter on a compile error), and the rows must be equal.
  *
  * The inputs are read from parquet, never from a local `Seq`:
  * `ConvertToLocalRelation` and `ConstantFolding` call `eval` while the
  * plan is optimized when the input is a local relation or a literal,
  * so the "compiled" side would silently run the interpreted path.
  */
class CodegenParitySpec extends AnyFunSuite with SparkSpec {
  import BlocklistExpressions._
  import LayoutExpressions._
  import TextExpressions._
  import VectorExpressions._

  private val Interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  private val Compiled = Seq(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")

  private def withConfs[T](kv: Seq[(String, String)])(f: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private lazy val root =
    java.nio.file.Files.createTempDirectory("graft_codegen_parity").toString

  /** Writes `rows` to parquet once and returns a reader of it. */
  private def table(name: String, schema: StructType, rows: Seq[Row]): () => DataFrame = {
    val path = s"$root/$name"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
    () => spark.read.parquet(path)
  }

  private def arrL(xs: java.lang.Long*): Seq[java.lang.Long] = xs
  private def arrS(xs: String*): Seq[String] = xs

  private lazy val text = table("text", StructType(Seq(
    StructField("id", LongType),
    StructField("hs", ArrayType(LongType)),
    StructField("toks", ArrayType(StringType)),
    StructField("sorted", ArrayType(StringType)),
    StructField("set_a", ArrayType(StringType)),
    StructField("set_b", ArrayType(StringType)),
    StructField("text", StringType))), {
    val rnd = new scala.util.Random(11)
    val longHs = Seq.fill(120)(java.lang.Long.valueOf(rnd.nextLong() >>> 4))
    Seq(
      Row(0L, arrL(), arrS(), arrS(), arrS(), arrS("a"), ""),
      Row(1L, arrL(42L), arrS("a"), arrS("a"), arrS("a"), arrS("a"), "a"),
      // fewer hashes than the default window of 4
      Row(2L, arrL(9L, 3L), arrS("the", "cat"), arrS("b", "b"),
        arrS("a", "c"), arrS("b", "c", "d"), "ab"),
      Row(3L, arrL(7L, 1L << 59, 3L, 3L, 12345678901L, 5L, 2L, 9L, 1L, 8L, 8L, 4L),
        arrS("a", "b", null, "c", "a", "b", "a", "b"),
        arrS("a", "b", "b", "b", "c", null, null),
        arrS("apple", "banana", "cherry", "kiwi"),
        arrS("banana", "cherry", "date", "kiwi", "zebra"),
        "The quick brown fox jumps over the lazy dog, naïve café"),
      // null elements where the kernel defines them (tokens, sorted
      // strings); negative hashes elsewhere
      Row(4L, arrL(5L, Long.MinValue, 3L, -1L, 8L), arrS(null, "x", null),
        arrS(null, null, null), arrS("k"), arrS(),
        "café 漢字かな привет Ελλάδα مرحبا 한국어 42!"),
      Row(5L, null, null, null, null, null, null),
      Row(6L, longHs, Seq.fill(40)(arrS("the", "cat", "sat", "on", "mat")(rnd.nextInt(5))),
        arrS("x", "x", "y", "y", "y", "z"), arrS("m", "n", "o"), arrS("m", "n", "o"),
        "matching lower filter scan column vector order join hash batch " * 3))
  })

  private val Cands = ArrayType(StructType(Seq(StructField("id", LongType),
    StructField("rel", LongType), StructField("vec", ArrayType(DoubleType)))))

  private lazy val vecs = table("vecs", StructType(Seq(
    StructField("id", LongType),
    StructField("af", ArrayType(FloatType)),
    StructField("bf", ArrayType(FloatType)),
    StructField("ad", ArrayType(DoubleType)),
    StructField("bd", ArrayType(DoubleType)),
    StructField("al", ArrayType(LongType)),
    StructField("bl", ArrayType(LongType)),
    StructField("vd", ArrayType(DoubleType)),
    StructField("x", LongType), StructField("y", LongType),
    StructField("z", LongType), StructField("cands", Cands))), {
    def c(id: Long, rel: Long, v: Double*) = Row(id, rel, v)
    Seq(
      Row(0L, Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), 0L, 0L, 0L, Seq()),
      Row(1L, Seq(1.5f), Seq(-2f), Seq(0.1), Seq(3.0), Seq(7L), Seq(-3L),
        Seq(1.0), 1L, 2L, 3L, Seq(c(5L, 10L, 1.0, 0.0))),
      // unequal lengths truncate; PQ input shorter than m·subDim
      Row(2L, Seq(0.1f, 0.2f, 0.3f), Seq(3f, 4f), Seq(0.1, 0.2, 0.3),
        Seq(1e-3, 1e9), Seq(1L << 40, 5L, 6L), Seq(3L, -2L),
        Seq(1.0, 1.0, 0.5), -1L, 31L, 100L,
        Seq(c(3L, 7L, 1.0, 0.0), c(1L, 7L, 0.0, 1.0), c(2L, 5L, 1.0, 1.0))),
      // every PQ subspace distance tied: the lower centroid id wins
      Row(3L, Seq(0.25f, -0.5f, 1e-7f, 3.4e38f), Seq(1f, 1f, 1e7f, 1f),
        Seq(0.25, -0.5, 1e-7, 1e300), Seq(1.0, 1.0, 1e7, 1e-300),
        Seq(-127L, 64L, 0L, 1L), Seq(127L, 1000000L, 5L, -1L),
        Seq(1.0, 1.0, 0.5, 0.5), 17L, 9L, 4L,
        Seq(c(4L, 0L, 0.0, 0.0), c(9L, 0L), c(8L, -3L, 2.0, 2.0))),
      Row(4L, Seq(1f, -0f, 2f), Seq(2f, 3f, 1e-3f), Seq(1.0, -0.0, 2.0),
        Seq(1e-17, 3.0, 4.0), Seq(2L, Long.MaxValue, 4L), Seq(-1L, 2L, 6L),
        Seq(3.3, -1.7, 2.2, 0.4, 9.9), 1L << 20, -(1L << 20), 15L, Seq()),
      Row(5L, null, null, null, null, null, null, null, null, null, null, null))
  })

  private lazy val scores = table("scores", StructType(Seq(
    StructField("g", LongType), StructField("score", DoubleType),
    StructField("label", StringType))), Seq(
    Row(0L, 1.0, "a"), Row(0L, 1.0, "b"), Row(0L, 1.0, "a"), Row(0L, 0.5, "c"),
    Row(1L, -2.0, "x"), Row(1L, null, "y"), Row(1L, 3.0, null),
    Row(2L, 7.0, "q")))

  /** Codebook with m = 2 subspaces of ksub = 3 centroids, subDim = 2;
    * subspace 0 holds two equal centroids.
    */
  private val Codebook: Seq[Seq[Array[Long]]] = Seq(
    Seq(Array(0L, 0L), Array(2L, 2L), Array(2L, 2L)),
    Seq(Array(1L, 0L), Array(0L, 1L), Array(-1L, 0L)))

  private lazy val bloom = {
    val f = BloomFilter.create(100)
    Seq(3L, 7L, 12345678901L).foreach(f.putLong)
    f
  }

  private def hasCodegen(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])

  /** Null elements at the ends, in the middle and in every slot of the
    * numeric array kernels' inputs. Each row with nulls follows a row
    * with values in the same slots: read one row per batch, the
    * vectorized reader's reused vectors still hold those values under
    * the nulls, so a kernel that reads a null slot sees them.
    */
  private lazy val nullElems = table("null_elems", StructType(Seq(
    StructField("id", LongType),
    StructField("hs", ArrayType(LongType)),
    StructField("af", ArrayType(FloatType)), StructField("bf", ArrayType(FloatType)),
    StructField("ad", ArrayType(DoubleType)), StructField("bd", ArrayType(DoubleType)),
    StructField("al", ArrayType(LongType)), StructField("bl", ArrayType(LongType)),
    StructField("vd", ArrayType(DoubleType)))), {
    val filled = Row(0L, Seq(7L, 11L, 3L, 13L, 12L, 5L, 6L, 8L), Seq(1f, 5f, 2f, 3f),
      Seq(2f, 3f, 7f, 1f), Seq(1.0, 9.0, 2.0), Seq(2.0, 3.0, 4.0), Seq(5L, 6L, -2L),
      Seq(8L, 4L, 3L), Seq(1.0, 7.0, 3.0, 2.0))
    def after(id: Long, r: Row) = Seq(Row.fromSeq(id +: filled.toSeq.tail), r)
    after(0L, Row(1L, Seq(7L, null, 3L, null, 12L, 5L), Seq(1f, null, 2f),
      Seq(2f, 3f, null), Seq(1.0, null, 2.0), Seq(2.0, 3.0, null), Seq(5L, null, -2L),
      Seq(null, 4L, 3L), Seq(1.0, null, null, 2.0))) ++
    after(2L, Row(3L, Seq(null), Seq(null), Seq(null), Seq(null), Seq(null), Seq(null),
      Seq(null), Seq(null, null, null, null))) ++
    after(4L, Row(5L, Seq(-1L, null, 1L << 59, null, null, 9L, 2L, null),
      Seq(3.5f, -1f, null, 4f), Seq(null, 2f, 2f, 1f), Seq(0.5, null), Seq(null, 0.25),
      Seq(1L << 40, null, 9L), Seq(2L, 7L, null), Seq(null, 0.5, 3.0)))
  })

  /** Selects `cols` from `in` under both modes; equal rows per column.
    * Returns the rows, sorted by id.
    */
  private def assertParity(in: () => DataFrame, cols: (String, Column)*): Seq[Row] = {
    def run(mode: Seq[(String, String)]): (Seq[Row], Boolean) =
      withConfs(mode) {
        // no ORDER BY: its exchange would hide the stages behind AQE
        val df = in().select(col("id") +: cols.map { case (n, c) => c.as(n) }: _*)
        (df.collect().toSeq.sortBy(_.getLong(0)), hasCodegen(df))
      }
    val (interp, interpCodegen) = run(Interpreted)
    val (comp, compCodegen) = run(Compiled)
    assert(!interpCodegen, "the interpreted run planned a codegen stage")
    assert(compCodegen, "the compiled run planned no codegen stage")
    assert(interp.size === comp.size)
    cols.zipWithIndex.foreach { case ((name, _), j) =>
      assert(interp.map(_.get(j + 1)) === comp.map(_.get(j + 1)), name)
    }
    interp
  }

  test("text kernels: interpreted eval equals generated code") {
    assertParity(text,
      "simhash_fold" -> simhashFold(col("hs")),
      "simhash_fold_60" -> simhashFold(col("hs"), 60),
      "minhash_bands" -> minhashBands(col("hs")),
      "winnow_mins" -> winnowMins(col("hs")),
      "winnow_mins_1" -> winnowMins(col("hs"), 1),
      "sorted_intersect_count" -> sortedIntersectCount(col("set_a"), col("set_b")),
      "modal_run_length" -> modalRunLength(col("sorted")),
      "gram_hashes" -> gramHashes60(col("toks"), 2),
      "gram_hashes_pos" -> gramHashes60(col("toks"), 1, distinct = false),
      "gram_hashes_mod" -> gramHashesMod(col("toks"), 2),
      "char_gram_buckets" -> charGramBuckets(col("text"), 3, 1000),
      "script_counts" -> scriptCounts(col("text")),
      "nfc_normalize" -> nfcNormalize(col("text")),
      "bpe_token_count" -> BpeExpressions.bpeCount(col("text")),
      "blocklist_hits" -> blocklistHits(col("text"), Seq("fox", "ox", "café", "漢")),
      "blocklist_scrub" -> blocklistScrub(col("text"), Seq("the", "th", "lazy"), "*"))
  }

  test("vector, layout and selection kernels: interpreted eval equals generated code") {
    assertParity(vecs,
      "vec_dot_ff" -> vecDot(col("af"), col("bf")),
      "vec_dot_fd" -> vecDot(col("af"), col("bd")),
      "vec_dot_df" -> vecDot(col("ad"), col("bf")),
      "vec_dot_dd" -> vecDot(col("ad"), col("bd")),
      "vec_dot_long" -> vecDotLong(col("al"), col("bl")),
      "pq_encode" -> pqEncode(col("vd"), Codebook),
      "pq_lut" -> pqLut(col("vd"), Codebook),
      "hilbert_index" -> hilbertIndex(col("x"), col("y"), 5),
      "hilbert_index_n" -> hilbertIndexN(Seq(col("x"), col("y"), col("z")), 4),
      "mmr_select" -> MmrSelect.mmr(col("cands"), 2),
      "bloom_might_contain" -> BloomExpressions.bloomMightContain(col("x"), bloom))
  }

  test("a null array element reads as 0 on both paths") {
    def zeroed(c: String, t: DataType): Column =
      transform(col(c), e => coalesce(e, lit(0).cast(t)))
    val (hs, al, bl) = (zeroed("hs", LongType), zeroed("al", LongType), zeroed("bl", LongType))
    val (af, bf) = (zeroed("af", FloatType), zeroed("bf", FloatType))
    val (ad, bd, vd) = (zeroed("ad", DoubleType), zeroed("bd", DoubleType),
      zeroed("vd", DoubleType))
    // each kernel over the null elements and over the same arrays zero-filled
    val pairs = Seq(
      "vec_dot_ff" -> (vecDot(col("af"), col("bf")), vecDot(af, bf)),
      "vec_dot_fd" -> (vecDot(col("af"), col("bd")), vecDot(af, bd)),
      "vec_dot_dd" -> (vecDot(col("ad"), col("bd")), vecDot(ad, bd)),
      "vec_dot_long" -> (vecDotLong(col("al"), col("bl")), vecDotLong(al, bl)),
      "pq_encode" -> (pqEncode(col("vd"), Codebook), pqEncode(vd, Codebook)),
      "pq_lut" -> (pqLut(col("vd"), Codebook), pqLut(vd, Codebook)),
      "simhash_fold" -> (simhashFold(col("hs")), simhashFold(hs)),
      "simhash_fold_60" -> (simhashFold(col("hs"), 60), simhashFold(hs, 60)),
      "minhash_bands" -> (minhashBands(col("hs")), minhashBands(hs)),
      "winnow_mins" -> (winnowMins(col("hs")), winnowMins(hs)),
      "winnow_mins_1" -> (winnowMins(col("hs"), 1), winnowMins(hs, 1)))
    // one row per batch; the raw and the zero-filled kernels run as separate
    // queries, because a lambda in the projection copies the input row first
    def rowsOf(kernels: Seq[(String, Column)]): Seq[Row] =
      withConfs(Seq("spark.sql.parquet.columnarReaderBatchSize" -> "1")) {
        assertParity(nullElems, kernels: _*)
      }
    val raw = rowsOf(pairs.map { case (name, (kernel, _)) => name -> kernel })
    val zero = rowsOf(pairs.map { case (name, (_, kernel)) => name -> kernel })
    assert(raw.size === 6)
    pairs.zipWithIndex.foreach { case ((name, _), j) =>
      assert(raw.map(_.get(j + 1)) === zero.map(_.get(j + 1)), name)
    }
  }

  test("top_k aggregate: interpreted equals compiled") {
    def run(mode: Seq[(String, String)]) = withConfs(mode) {
      scores().groupBy("g").agg(
        TopKAgg.topK(col("score"), col("label"), 2).as("top"),
        TopKAgg.topKDistinct(col("score"), col("label"), 2).as("top_distinct"))
        .orderBy("g").collect().toSeq
    }
    val interp = run(Interpreted)
    assert(interp.size === 3)
    assert(interp === run(Compiled))
  }

  test("hilbert_index_n rejects a wrong coordinate count on both paths") {
    def failure(mode: Seq[(String, String)]): Throwable = withConfs(mode) {
      val twoCoords = GraftBridge.column(HilbertIndexN(
        GraftBridge.expression(array(col("x"), col("y"))), 3, 4))
      val e = intercept[Exception] {
        vecs().select(col("id"), twoCoords).collect()
      }
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .find(_.isInstanceOf[IllegalArgumentException]).getOrElse(e)
    }
    Seq(Interpreted, Compiled).foreach { mode =>
      val t = failure(mode)
      assert(t.isInstanceOf[IllegalArgumentException], t.toString)
      assert(t.getMessage.contains("expected 3 coordinates, got 2"))
    }
  }
}
