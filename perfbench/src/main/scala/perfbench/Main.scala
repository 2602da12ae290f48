package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row}

import graft.{GraftSession, SparkEntry}

/** Closed-loop benchmark runner: one client, one query in flight, one JVM
  * at `local[cores]`. Run by `perfbench/run.py`, which generates the
  * inputs, checks the outputs this runner writes and turns its record
  * into metrics.
  *
  * Usage: Main <workload> <dataDir> <outDir> <seconds> <trace 0|1> <cores>
  *   <launchEpochMs>
  *
  * Phases:
  *   1. set-up: session start, then one untimed check pass at the
  *      measured data on `cores` threads that writes every output for the
  *      check; it doubles as the warmup and builds the stored artifacts;
  *   2. timed passes over the fixed query list until `seconds` have
  *      passed, at least two (the seed varies the inputs, not the order,
  *      so the order of JIT and cache warm-up is the same in every run).
  *      With trace on, passes alternate untraced/traced (U T U ..., at
  *      least three) so the record gives the tracing overhead against
  *      untraced passes on both sides; only traced passes carry spans and
  *      counters.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, secondsArg, traceArg, coresArg,
      launchMsArg) = argv
    val originNs = System.nanoTime()
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", Paths.get("spark-local").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    def mark(what: String): Unit = System.err.println(
      f"perfbench: ${(System.currentTimeMillis() - launchMsArg.toLong) / 1e3}%.3f s $what")
    mark("session ready")
    val tracer = new Tracer(originNs)
    val qeListeners = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager
    Files.createDirectories(Paths.get(outDir))

    def clean(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
    def describe(t: Throwable): String =
      (t.getClass.getSimpleName + ": " + Option(t.getMessage).getOrElse(""))
        .take(300)

    val registry = Workloads.registryWorkloads.get(workload)
    val isRideshare = workload == "rideshare_tasks"
    require(registry.isDefined || isRideshare, s"unknown workload $workload")
    val noSub = new SubSpan { def apply[A](name: String)(f: => A): A = f }

    // ---- set-up: artifact builds, then the check pass (= warmup) ----
    // The check pass runs every step once at the measured data on `cores`
    // threads and keeps each output for the check. A step that others
    // depend on runs first: the artifact probes build their stored
    // artifacts (beside the other queries' check runs) before their own
    // check run reads them back; the rideshare read and enrichment come
    // before the tasks over it.
    val checkErrors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val outputs = new java.util.concurrent.ConcurrentHashMap[String, Any]()
    def attempt(s: Step)(keep: Output => Unit): Unit =
      try keep(s.act(s.build()))
      catch { case t: Throwable => checkErrors.put(s.name, describe(t)) }
    def concurrently(steps: Seq[Step])(keep: (Step, Output) => Unit): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
      try steps.map(s => pool.submit(new Runnable {
        def run(): Unit = attempt(s)(keep(s, _))
      })).foreach(_.get())
      finally pool.shutdown()
    }
    clean()
    registry match {
      case Some(names) =>
        def checkSteps(qs: Seq[String]) = Workloads.registry(qs, dataDir, spark, (n, df) => {
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/check/$n")
          Written(s"$outDir/check/$n")
        })
        val (probes, plain) = names.partition(Workloads.artifactProbes)
        concurrently(Workloads.registry(probes, dataDir, spark,
          (_, df) => Workloads.noop(df)) ++ checkSteps(plain))((_, _) => ())
        concurrently(checkSteps(probes))((_, _) => ())
        val oracle = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
        write(s"$outDir/oracle_sql.json", json(oracle))
      case None =>
        def keep(s: Step, o: Output): Unit = outputs.put(s.name, o match {
          case Rows(rows) => Map("rows" -> rows.map(plain))
          case Count(n) => Map("count" -> n)
          case Written(p) => Map("path" -> p)
          case Discarded => Map.empty[String, Any]
        })
        val first +: rest = Workloads.rideshare(spark, dataDir, s"$outDir/check", noSub)
        attempt(first)(keep(first, _))
        concurrently(rest)(keep)
        write(s"$outDir/rideshare_outputs.json", json(outputs.asScala))
    }
    clean()
    mark("check pass done")
    val setupS = (System.currentTimeMillis() - launchMsArg.toLong) / 1e3

    // ---- timed passes ----
    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runStep(s: Step, pass: Int, passSpan: Long, traced: Boolean): Unit = {
      clean()
      val qSpan = tracer.nextId()
      val cSpan = tracer.nextId()
      def enter(span: Long): Unit = if (traced) {
        tracer.currentPhase = span
        tracer.currentPhaseStartMs = System.currentTimeMillis()
        sc.setJobGroup(s"pb:$span", s.name, interruptOnCancel = false)
      }
      def leave(): Unit = if (traced) PerfbenchBus.drain(sc)
      var error: Option[String] = None
      val t0 = tracer.nowS
      enter(cSpan)
      val df: DataFrame =
        try s.build() catch { case t: Throwable => error = Some(describe(t)); null }
      val t1 = tracer.nowS
      leave()
      val aSpan = tracer.nextId()
      val gc0 = gcMs
      val t2 = tracer.nowS
      enter(aSpan)
      if (error.isEmpty)
        try s.act(df) catch { case t: Throwable => error = Some(describe(t)) }
      val t3 = tracer.nowS
      val gcS = (gcMs - gc0) / 1e3
      leave()
      if (traced) {
        tracer.currentPhase = -1L
        sc.clearJobGroup()
      }
      val leaked = sc.getPersistentRDDs.size
      val rec = mutable.LinkedHashMap[String, Any](
        "pass" -> pass, "q" -> s.name, "family" -> s.family, "traced" -> traced,
        "wall_s" -> (t3 - t0), "construct_s" -> (t1 - t0),
        "action_s" -> (t3 - t2), "sink" -> s.sink, "gc_s" -> gcS,
        "leaked" -> leaked, "error" -> error)
      if (traced) {
        tracer.record(qSpan, passSpan, "query", s.name, t0, t3)
        tracer.record(cSpan, qSpan, "construct", s.name, t0, t1)
        tracer.record(aSpan, qSpan, if (s.sink) "sources.write" else "action",
          s.name, t2, t3)
        rec("construct_jobs") = tracer.phase(cSpan).jobs
        rec("construct_input_b") = tracer.phase(cSpan).inputB
        tracer.phase(aSpan).toMap.foreach { case (k, v) => rec(k) = v }
      }
      execs += rec.toMap
    }

    // passes until `seconds` have passed, at least two (three with trace
    // on), so the figures are not those of a single execution per query
    val tStart = tracer.nowS
    var pass = 0
    while (pass < (if (trace) 3 else 2) ||
        tracer.nowS - tStart < secondsArg.toDouble) {
      val traced = trace && pass % 2 == 1
      if (traced) {
        sc.addSparkListener(tracer.sparkListener)
        qeListeners.register(tracer.queryListener)
      }
      val passSpan = tracer.nextId()
      val p0 = tracer.nowS
      val steps = registry match {
        case Some(names) =>
          Workloads.registry(names, dataDir, spark, (_, df) => Workloads.noop(df))
        case None =>
          val sub = if (!traced) noSub else new SubSpan {
            def apply[A](name: String)(f: => A): A = {
              val t0 = tracer.nowS
              try f finally tracer.record(tracer.nextId(), tracer.currentPhase,
                name, "", t0, tracer.nowS)
            }
          }
          Workloads.rideshare(spark, dataDir, s"$outDir/timed", sub)
      }
      steps.foreach(runStep(_, pass, passSpan, traced))
      val p1 = tracer.nowS
      if (traced) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(tracer.sparkListener)
        qeListeners.unregister(tracer.queryListener)
        tracer.record(passSpan, 0L, "pass", s"pass-$pass", p0, p1)
      }
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> (p1 - p0))
      pass += 1
    }

    mark("timed passes done")
    // what the program still holds after the last timed query: full
    // collections around a pause in which Spark's ContextCleaner drops
    // the broadcasts and shuffles the first one freed, so the figure
    // depends on neither GC timing nor cleanup lag
    System.gc()
    Thread.sleep(500)
    System.gc()
    val retainedHeapB = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    val peakRssKb = status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    write(s"$outDir/result.json", json(Map(
      "workload" -> workload, "cores" -> cores, "setup_s" -> setupS,
      "peak_rss_kb" -> peakRssKb, "retained_heap_b" -> retainedHeapB,
      "check_errors" -> checkErrors.asScala, "passes" -> passes, "execs" -> execs)))
    if (trace)
      write(s"$outDir/spans.jsonl", tracer.spans.map { s =>
        json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "query" -> s.query, "start" -> s.start, "end" -> s.end))
      }.mkString("", "\n", "\n"))
    mark("record written")
    spark.stop()
    mark("session stopped")
  }

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(UTF_8))

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private def json(v: Any): String = mapper.writeValueAsString(v)

  /** A result row as JSON-ready values: numbers, booleans and strings as
    * they are, anything else (dates, decimals) as its string form. */
  private def plain(r: Row): Seq[Any] = r.toSeq.map {
    case v @ (null | _: String | _: Boolean | _: Int | _: Long | _: Double |
        _: Float) => v
    case v => v.toString
  }
}

