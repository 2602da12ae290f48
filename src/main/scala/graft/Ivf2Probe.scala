package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Similarity
import graft.sources.{ModelStore, Tables}

/** Dev probe behind the round-15 SCALING.md adjudication of the
  * two-level-router twins (round-14 verdict weak #2): component wall
  * times at one SF for (a) the two-level trainer alone, (b) the
  * corpus fine-assignment + probe under held models, (c) the full
  * in-plan query, (d) the loaded twin's steady state and its
  * construction-only cost. Run on a quiet box:
  *
  *   sbt -batch "runMain graft.Ivf2Probe [sfDir]"
  *
  * Not part of the query surface — a measurement main like
  * [[ScalingBench]], kept so the adjudication is reproducible.
  */
object Ivf2Probe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def exec(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def t(what: String)(f: => Unit): Unit = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime; f
      println(f"PROBE $what%-34s ${(System.nanoTime - t0) / 1e9}%6.2f s")
    }
    val e = Tables.embeddings(spark, d)
    println("PROBE n = " + e.count())
    val e0 = Tables.embeddings(spark, "/root/testdata/sf0.001")
    (1 to 2).foreach { _ =>
      exec(Similarity.ivf2TopK(e0)); spark.catalog.clearCache()
    }
    (1 to 3).foreach { i =>
      t(s"trainIvfTwoLevel[$i]")(Similarity.trainIvfTwoLevel(e, 4, 4, 2))
    }
    val (l1m, l2m) = Similarity.trainIvfTwoLevel(e, 4, 4, 2)
    (1 to 3).foreach { i =>
      t(s"assign+probe under held models[$i]") {
        exec(Similarity.ivf2TopKFromIndex(
          Similarity.ivf2Cells(e, l1m, l2m, 4), e, l1m, l2m, 4))
      }
    }
    (1 to 3).foreach { i => t(s"in-plan full[$i]")(exec(Similarity.ivf2TopK(e))) }
    val dir = "target/models/ivf2_probe"
    ModelStore.invalidate(spark, dir)
    def loaded(): DataFrame = {
      val (a, b) = ModelStore.ensureIvf2(e, dir)
      val idx = ModelStore.ensureFrame(spark, s"$dir/cells",
        Similarity.ivf2Cells(e, a, b, 4))
      Similarity.ivf2TopKFromIndex(idx, e, a, b, 4)
    }
    t("loaded: first build")(exec(loaded()))
    (1 to 3).foreach { i => t(s"loaded steady[$i]")(exec(loaded())) }
    (1 to 3).foreach { i => t(s"loaded construction only[$i]")(loaded()) }
    spark.stop()
  }
}
