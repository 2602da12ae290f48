package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression

/** The type check of a native expression whose accepted arguments are
  * not one fixed type each ([[VecDot]]'s float-or-double sides,
  * [[MmrSelect]]'s struct of any field names); the others mix in
  * `ExpectsInputTypes`.
  */
private[expressions] object InputTypes {
  def check(e: Expression, accepted: Boolean, expected: String): TypeCheckResult =
    if (accepted) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${e.prettyName} needs $expected, " +
      s"got ${e.children.map(_.dataType.sql).mkString(", ")}")
}
