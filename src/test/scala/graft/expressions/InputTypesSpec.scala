package graft.expressions

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Which argument types each native expression accepts at analysis:
  * one accepted and one rejected case per SQL function registered by
  * `GraftExtensions` and per expression reachable only through a
  * Column, plus the collated-string cases (a collated `StringType` is
  * a different type from the default one, and is rejected).
  */
class InputTypesSpec extends AnyFunSuite with SparkSpec {

  private lazy val view: DataFrame = {
    val df = spark.range(1).select(
      array(lit(1L), lit(2L)).as("la"),
      array(lit(1), lit(2)).as("ia"),
      array(lit(1f), lit(2f)).as("fa"),
      array(lit(1.0), lit(2.0)).as("da"),
      array(lit("a"), lit("b")).as("sa"),
      array(collate(lit("a"), "UNICODE_CI")).as("csa"),
      lit("text").as("s"),
      collate(lit("text"), "UNICODE_CI").as("cs"),
      lit(3L).as("l"),
      lit(3).as("i"),
      lit(0.5).as("d"),
      array(struct(lit(1L).as("id"), lit(2L).as("rel"),
        array(lit(1.0)).as("vec"))).as("cands"),
      array(struct(lit(1L).as("a"), lit(2L).as("b"),
        array(lit(1.0)).as("c"))).as("cands_renamed"),
      array(struct(lit(1L).as("id"), lit(2L).as("rel"),
        array(lit(1f)).as("vec"))).as("cands_float"))
    df.createOrReplaceTempView("input_types")
    df
  }

  private def sql(call: String): () => Unit =
    () => { view; spark.sql(s"SELECT $call FROM input_types"); () }

  private def column(c: => Column): () => Unit =
    () => { view.select(c); () }

  private val codebook = Seq(Seq(Array(0L, 0L)))
  private lazy val bloom = org.apache.spark.util.sketch.BloomFilter.create(10)

  /** (case, analyses?, attempt) */
  private lazy val cases: Seq[(String, Boolean, () => Unit)] = Seq(
    ("vec_dot(fa, da)", true, sql("vec_dot(fa, da)")),
    ("vec_dot(la, la)", false, sql("vec_dot(la, la)")),
    ("vec_dot_long(la, la)", true, sql("vec_dot_long(la, la)")),
    ("vec_dot_long(fa, fa)", false, sql("vec_dot_long(fa, fa)")),
    ("simhash_fold(la, 60)", true, sql("simhash_fold(la, 60)")),
    ("simhash_fold(ia)", false, sql("simhash_fold(ia)")),
    ("minhash_bands(la)", true, sql("minhash_bands(la)")),
    ("minhash_bands(sa)", false, sql("minhash_bands(sa)")),
    ("modal_run_length(sa)", true, sql("modal_run_length(sa)")),
    ("modal_run_length(la)", false, sql("modal_run_length(la)")),
    ("modal_run_length(csa)", false, sql("modal_run_length(csa)")),
    ("winnow_mins(la, 3)", true, sql("winnow_mins(la, 3)")),
    ("winnow_mins(da)", false, sql("winnow_mins(da)")),
    ("gram_hashes60(sa, 2)", true, sql("gram_hashes60(sa, 2)")),
    ("gram_hashes60(la, 2)", false, sql("gram_hashes60(la, 2)")),
    ("gram_hashes60(csa, 2)", false, sql("gram_hashes60(csa, 2)")),
    ("nfc_normalize(s)", true, sql("nfc_normalize(s)")),
    ("nfc_normalize(l)", false, sql("nfc_normalize(l)")),
    ("nfc_normalize(cs)", false, sql("nfc_normalize(cs)")),
    ("script_counts(s)", true, sql("script_counts(s)")),
    ("script_counts(sa)", false, sql("script_counts(sa)")),
    ("script_counts(cs)", false, sql("script_counts(cs)")),
    ("bpe_token_count(s)", true, sql("bpe_token_count(s)")),
    ("bpe_token_count(i)", false, sql("bpe_token_count(i)")),
    ("bpe_token_count(cs)", false, sql("bpe_token_count(cs)")),
    ("top_k(d, s, 2)", true, sql("top_k(d, s, 2)")),
    ("top_k(l, s, 2)", false, sql("top_k(l, s, 2)")),
    ("top_k(d, cs, 2)", false, sql("top_k(d, cs, 2)")),
    ("hilbert_index(l, l, 4)", true, sql("hilbert_index(l, l, 4)")),
    ("hilbert_index(i, l, 4)", false, sql("hilbert_index(i, l, 4)")),
    ("hilbert_index_n(la, 2, 4)", true, sql("hilbert_index_n(la, 2, 4)")),
    ("hilbert_index_n(ia, 2, 4)", false, sql("hilbert_index_n(ia, 2, 4)")),
    ("mmr_select(cands, 2)", true, sql("mmr_select(cands, 2)")),
    ("mmr_select(cands_renamed, 2)", true, sql("mmr_select(cands_renamed, 2)")),
    ("mmr_select(cands_float, 2)", false, sql("mmr_select(cands_float, 2)")),
    ("sorted_intersect_count(sa, sa)", true, column(
      TextExpressions.sortedIntersectCount(col("sa"), col("sa")))),
    ("sorted_intersect_count(la, sa)", false, column(
      TextExpressions.sortedIntersectCount(col("la"), col("sa")))),
    ("sorted_intersect_count(csa, csa)", false, column(
      TextExpressions.sortedIntersectCount(col("csa"), col("csa")))),
    ("char_gram_buckets(s)", true, column(
      TextExpressions.charGramBuckets(col("s"), 3, 10))),
    ("char_gram_buckets(l)", false, column(
      TextExpressions.charGramBuckets(col("l"), 3, 10))),
    ("char_gram_buckets(cs)", false, column(
      TextExpressions.charGramBuckets(col("cs"), 3, 10))),
    ("pq_encode(da)", true, column(VectorExpressions.pqEncode(col("da"), codebook))),
    ("pq_encode(fa)", false, column(VectorExpressions.pqEncode(col("fa"), codebook))),
    ("pq_lut(da)", true, column(VectorExpressions.pqLut(col("da"), codebook))),
    ("pq_lut(la)", false, column(VectorExpressions.pqLut(col("la"), codebook))),
    ("bloom_might_contain(l)", true, column(
      BloomExpressions.bloomMightContain(col("l"), bloom))),
    ("bloom_might_contain(i)", false, column(
      BloomExpressions.bloomMightContain(col("i"), bloom))),
    ("blocklist_hits(s)", true, column(
      BlocklistExpressions.blocklistHits(col("s"), Seq("x")))),
    ("blocklist_hits(l)", false, column(
      BlocklistExpressions.blocklistHits(col("l"), Seq("x")))),
    ("blocklist_hits(cs)", false, column(
      BlocklistExpressions.blocklistHits(col("cs"), Seq("x")))),
    ("blocklist_scrub(s)", true, column(
      BlocklistExpressions.blocklistScrub(col("s"), Seq("x"), "*"))),
    ("blocklist_scrub(sa)", false, column(
      BlocklistExpressions.blocklistScrub(col("sa"), Seq("x"), "*"))),
    ("blocklist_scrub(cs)", false, column(
      BlocklistExpressions.blocklistScrub(col("cs"), Seq("x"), "*"))))

  test("each native expression analyses exactly its accepted argument types") {
    val wrong = cases.flatMap { case (name, analyses, attempt) =>
      Try(attempt()) match {
        case Success(_) if !analyses => Some(s"$name analysed")
        case Failure(e: AnalysisException) if analyses =>
          Some(s"$name rejected: ${e.getMessage.take(200)}")
        case Failure(e) if !e.isInstanceOf[AnalysisException] =>
          Some(s"$name threw ${e.getClass.getName}: ${e.getMessage.take(200)}")
        case _ => None
      }
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("the table covers all 21 native expressions") {
    val names = cases.map(_._1.takeWhile(_ != '(')).distinct
    assert(names.size === 21, names.mkString(", "))
  }
}
