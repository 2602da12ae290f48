package graft.expressions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership probe over a 64-bit key — the broadcast
  * prescreen primitive behind [[graft.operators.Decontam.bloomSurvivors]].
  *
  * Why an expression and not a UDF: the probe sits inside the corpus
  * scan's filter at 100 TB, so it must stay inside whole-stage codegen.
  * The generated code is one virtual call on a JVM-local filter object
  * (installed via `CodegenContext.addReferenceObj`, the same mechanism
  * Spark's internal runtime bloom filters use) — no boxing, no lambda
  * dispatch, no per-row allocation. A Scala UDF would pay
  * Long-boxing + closure dispatch per gram of the corpus.
  *
  * The filter rides along with the serialized expression (Spark's
  * `sketch.BloomFilterImpl` is `Serializable`), i.e. it is shipped once
  * per task-set exactly like a broadcast variable's payload. Callers
  * size it on the driver from the SMALL side of the screen (benchmark
  * n-grams), keeping it in the tens of MB where a broadcast hash join
  * of the same key set would need GBs.
  */
case class BloomMightContain(child: Expression, filter: BloomFilter)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = BooleanType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "bloom_might_contain"

  override def inputTypes: Seq[DataType] = Seq(LongType)

  override def nullSafeEval(v: Any): Any =
    filter.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", filter, classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.mightContainLong($x);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BloomMightContain = copy(child = newChild)
}

object BloomExpressions {
  /** Column-level bloom probe backed by the codegen expression. */
  def bloomMightContain(key: Column, filter: BloomFilter): Column =
    GraftBridge.column(
      BloomMightContain(GraftBridge.expression(key), filter))
}
