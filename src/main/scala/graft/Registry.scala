package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: the Spark plan plus (when SQL-expressible) the
  * DuckDB oracle the driver replays on the same parquet tables.
  *
  * Determinism contract (what makes the driver's hash compare stable):
  *   - every query ends in a total order (tie-broken down to a unique key)
  *     that the query applies itself: library operators return unordered
  *     frames, so the entry ends in `orderBy` or, over a miner's output,
  *     [[graft.sources.Sinks.exportSorted]],
  *   - output column names are lowercase and identical to the oracle's,
  *   - output types match the oracle's (month/day cast to INT, counts BIGINT),
  *   - doubles are either summed exactly and rounded at a digit position
  *     with proven margin, or replaced by exact integer arithmetic.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

object Registry {
  /** Every registered query, in SURVEY.md §2 inventory order. */
  lazy val all: Seq[Q] =
    graft.analog.CoreAnalogs.queries ++ graft.analog.ExtraAnalogs.queries ++
      graft.analog.DecontamAnalogs.queries ++
      graft.analog.SemanticAnalogs.queries ++
      graft.analog.CorpusAnalogs.queries ++
      graft.analog.QualityAnalogs.queries ++ graft.analog.WebAnalogs.queries
}
