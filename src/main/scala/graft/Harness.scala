package graft

import org.apache.spark.sql.DataFrame

import graft.sources.CacheScope

/** The steps the harness mains (Bench, Verify, ScalingBench, Explain)
  * share: query selection, the no-op sink action, one scoped run and
  * its error text, and JSON string escaping. Each is defined here once.
  */
object Harness {

  /** The names in `SPARK_GRAFT_ONLY` (comma-separated, trimmed, empty
    * names dropped), or None when it is unset: run everything.
    */
  private lazy val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  def selected(name: String): Boolean = only.forall(_.contains(name))

  /** Consumes every row and column of `df` and writes nothing. Not
    * `count()`: under it Catalyst may prune the projected work
    * (ColumnPruning drops projected expressions, EliminateSorts a
    * trailing orderBy), so a projection-only query would time as a
    * bare row count.
    */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One run's wall seconds and, if it threw, what it threw. */
  final case class Run(seconds: Double, error: Option[Throwable])

  /** Runs `body` in one [[CacheScope.run]], so the persists it makes are
    * released after it; the clock stops inside the scope, before the
    * release. A throw is captured whole: each caller decides how much of
    * it to show.
    */
  def run(body: => Unit): Run = CacheScope.run {
    val t0 = System.nanoTime()
    val error =
      try { body; None }
      catch { case t: Throwable => Some(t) }
    Run((System.nanoTime() - t0) / 1e9, error)
  }

  /** An error as `Class: message`, capped at 160 chars: the short form
    * for a bounded output line or a log line.
    */
  def errorText(t: Throwable): String =
    (t.getClass.getSimpleName + ": " + Option(t.getMessage).getOrElse(""))
      .take(160)

  /** A run whose only use is to warm the JVM: a failure is logged, not
    * thrown, and not swallowed either — a failed warmup can shift a
    * one-time cost (an artifact build) into the first measured run.
    */
  def warm(name: String, dir: String)(body: => Unit): Unit =
    run(body).error.foreach(t =>
      System.err.println(s"warmup failed: $name @ $dir: ${errorText(t)}"))

  /** JSON string literal: escapes the quote, the backslash and every
    * control char (< 0x20), so any string yields a parseable line.
    */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
