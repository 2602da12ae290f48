package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for one phase (construct or action) of one query execution.
  * Filled from Spark listener events; read on the benchmark thread only
  * after the listener bus has drained.
  */
final class PhaseCounters {
  var jobs, stages, singleTaskStages, tasks = 0L
  var taskRunMs, taskCpuNs, shuffleWriteB, shuffleReadB, spillB, inputB = 0L
  var planMs = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages,
    "single_task_stages" -> singleTaskStages, "tasks" -> tasks,
    "task_run_s" -> taskRunMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9,
    "shuffle_write_b" -> shuffleWriteB, "shuffle_read_b" -> shuffleReadB,
    "spill_b" -> spillB, "input_b" -> inputB, "plan_s" -> planMs / 1e3)
}

/** One timed interval. Times are seconds since the run's clock origin. */
final case class Span(id: Long, parent: Long, name: String, query: String,
    start: Double, end: Double)

/** In-memory tracer: spans recorded around every call the benchmark makes
  * into the program, plus job spans and per-phase counters attributed
  * through the job group the benchmark sets on its own thread before each
  * phase (`pb:<phase span id>`). Everything stays in memory until the runner
  * writes it out at the end of the run.
  */
final class Tracer(originNs: Long) {
  private val originEpochMs =
    System.currentTimeMillis() - (System.nanoTime() - originNs) / 1000000.0
  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.HashMap.empty[Long, PhaseCounters]
  private val stageOwner = mutable.HashMap.empty[Int, Long]
  private val jobOwner = mutable.HashMap.empty[Int, (Long, Long)]
  /** Phase span whose plannings the QueryExecutionListener is charging. */
  @volatile var currentPhase: Long = -1L
  /** Epoch ms at which the current phase started: plannings that began
    * earlier (eager analysis at construction) are not charged to it. */
  @volatile var currentPhaseStartMs: Long = 0L

  def nowS: Double = (System.nanoTime() - originNs) / 1e9
  private def epochMsToS(ms: Long): Double = (ms - originEpochMs) / 1e3
  def nextId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, name: String, query: String,
      start: Double, end: Double): Unit =
    synchronized { spans += Span(id, parent, name, query, start, end) }

  def phase(id: Long): PhaseCounters =
    synchronized(counters.getOrElseUpdate(id, new PhaseCounters))

  private def owner(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb:")).map(_.stripPrefix("pb:").toLong)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      owner(e.properties).foreach { ph =>
        Tracer.this.synchronized {
          phase(ph).jobs += 1
          jobOwner(e.jobId) = (ph, e.time)
          e.stageIds.foreach(stageOwner(_) = ph)
        }
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized(jobOwner.remove(e.jobId)).foreach {
        case (ph, start) =>
          record(nextId(), ph, "job", s"job-${e.jobId}",
            epochMsToS(start), epochMsToS(e.time))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized(stageOwner.get(e.stageInfo.stageId)).foreach { ph =>
        val c = phase(ph)
        c.stages += 1
        if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized(stageOwner.get(e.stageId)).foreach { ph =>
        val c = phase(ph)
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.spillB += m.diskBytesSpilled
          c.inputB += m.inputMetrics.bytesRead
        }
      }
  }

  /** Catalyst time of every action: analysis + optimization + planning,
    * read from the action's own QueryPlanningTracker. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def charge(qe: QueryExecution): Unit = {
      val ph = currentPhase
      if (ph >= 0) {
        val phases = qe.tracker.phases.filter { case (name, p) =>
          Set("analysis", "optimization", "planning")(name) &&
            p.startTimeMs >= currentPhaseStartMs
        }.values
        if (phases.nonEmpty) {
          phase(ph).planMs += phases.map(_.durationMs).sum
          record(nextId(), ph, "plan", "", epochMsToS(phases.map(_.startTimeMs).min),
            epochMsToS(phases.map(_.endTimeMs).max))
        }
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      charge(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      charge(qe)
  }
}
