package graft

import org.apache.spark.sql.DataFrame

/** Dev-only profiling probe (test scope — never ships): times phases
  * of heavy queries in isolation. Usage:
  *   sbt "Test/runMain graft.ProbeMain pq"
  */
object ProbeMain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = "/root/testdata/sf0.1"
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $tag%-32s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    import graft.operators.Similarity
    import graft.sources.Tables
    args.headOption.getOrElse("pq") match {
      case "pq" =>
        val e = Tables.embeddings(spark, d)
        for (i <- 1 to 2) {
          spark.catalog.clearCache()
          val m = t(s"pqTrain#$i")(Similarity.pqTrain(e))
          t(s"pqTopK-exec#$i")(noop(Similarity.pqTopK(e, m)))
        }
        for (i <- 1 to 2) {
          spark.catalog.clearCache()
          t(s"ivfTrain#$i")(Similarity.trainIvfCentroids(e))
          t(s"ivfTopK-exec#$i")(noop(Similarity.ivfTopK(e, 50, 10, nprobe = 2)))
        }
        for (i <- 1 to 2) {
          spark.catalog.clearCache()
          t(s"ivfPqRefinedSweep#$i")(noop(Similarity.ivfPqRefinedSweep(e)))
        }
      case "pq2" =>
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(
                sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              val si = sc.stageInfo
              val dur = for {
                s <- si.submissionTime; c <- si.completionTime
              } yield (c - s) / 1e3
              println(f"STAGE ${si.stageId}%4d tasks=${si.numTasks}%3d " +
                f"dur=${dur.getOrElse(-1.0)}%7.3f s  ${si.name.take(80)}")
            }
          })
        val e = Tables.embeddings(spark, d)
        val m = t("pqTrain")(Similarity.pqTrain(e))
        def dumpSoon(tag: String, delayMs: Long): Unit = {
          val th = new Thread(() => {
            Thread.sleep(delayMs)
            import scala.jdk.CollectionConverters._
            Thread.getAllStackTraces.asScala.foreach { case (t0, st) =>
              if (t0.getState == Thread.State.RUNNABLE && st.length > 8 &&
                  t0.getName != "main" && !t0.getName.contains("dump")) {
                println(s"DUMP[$tag] ${t0.getName}")
                st.take(22).foreach(f => println(s"  at $f"))
              }
            }
          })
          th.setName("dump"); th.setDaemon(true); th.start()
        }
        for (i <- 1 to 2) {
          spark.catalog.clearCache()
          t(s"pqCodes-exec#$i")(noop(Similarity.pqCodes(e, m)))
          val df = Similarity.pqTopK(e, m)
          t(s"pqTopK-plan#$i")(df.queryExecution.executedPlan)
          dumpSoon(s"exec$i-a", 1500); dumpSoon(s"exec$i-b", 3500)
          t(s"pqTopK-exec#$i")(noop(df))
        }
      case "sweep" =>
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(
                sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              val si = sc.stageInfo
              val dur = for {
                s <- si.submissionTime; c <- si.completionTime
              } yield (c - s) / 1e3
              if (dur.exists(_ > 0.25))
                println(f"STAGE ${si.stageId}%4d tasks=${si.numTasks}%3d " +
                  f"dur=${dur.getOrElse(-1.0)}%7.3f s  ${si.name.take(70)}")
            }
          })
        val e = Tables.embeddings(spark, d)
        for (i <- 1 to 2) {
          spark.catalog.clearCache()
          println(s"=== sweep run $i")
          t(s"ivfPqRefinedSweep#$i")(noop(Similarity.ivfPqRefinedSweep(e)))
        }
      case "pq3" =>
        val e = Tables.embeddings(spark, d)
        val m = t("pqTrain")(Similarity.pqTrain(e))
        for (i <- 1 to 2) {
          spark.catalog.clearCache()
          val codes = Similarity.pqCodes(e, m).persist()
          t(s"codes-materialize#$i")(codes.count())
          t(s"pqTopKFromCodes-exec#$i")(
            noop(Similarity.pqTopKFromCodes(codes, e, m)))
          codes.unpersist(true)
        }
      case "sweep2" =>
        val e = Tables.embeddings(spark, d)
        for (i <- 1 to 3) {
          spark.catalog.clearCache()
          t(s"trainPqAndIvf#$i")(Similarity.trainPqAndIvf(e))
          t(s"brute#$i")(noop(Similarity.bruteForceTopK(e, 50, 10)))
          spark.catalog.clearCache()
          t(s"sweep-full#$i")(noop(Similarity.ivfPqRefinedSweep(e)))
        }
      case "ccd" =>
        val docs = graft.sources.Tables.documents(spark, d)
        var jobs = 0
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              jobs += 1
          })
        for (i <- 1 to 3) {
          spark.catalog.clearCache()
          t(s"minhashPairs#$i")(noop(graft.operators.Dedup.minhashPairs(docs)))
          spark.catalog.clearCache()
          val j0 = jobs
          t(s"clusters-dist#$i")(noop(graft.operators.Dedup.clusters(
            docs, graft.operators.Dedup.minhashPairs(docs),
            localThreshold = 0)))
          println(s"PROBE jobs-in-clusters#$i            ${jobs - j0}")
        }
      case "nd" =>
        val e = Tables.embeddings(spark, d)
        for (i <- 1 to 2) {
          spark.catalog.clearCache()
          t(s"bruteTopK#$i")(noop(Similarity.bruteForceTopK(e, 50, 10)))
          t(s"knnGraph#$i")(noop(Similarity.knnGraph(e, k = 10)))
          val r = t(s"nnDescent3-build#$i")(
            Similarity.nnDescent(e, k = 10, maxRounds = 3, minImprovedPm = 0L))
          t(s"nnDescent3-exec#$i")(noop(r.graph))
        }
      case q if Registry.all.exists(_.name == q) =>
        var jobs = 0
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              jobs += 1
          })
        val entry = Registry.all.find(_.name == q).get
        for (i <- 1 to 5) {
          spark.catalog.clearCache()
          val j0 = jobs
          t(s"$q#$i")(noop(entry.fn(spark, d)))
          println(s"PROBE jobs#$i                        ${jobs - j0}")
        }
      case other => sys.error(s"unknown probe: $other")
    }
    spark.stop()
  }
}
