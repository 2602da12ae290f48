package graft.expressions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Runtime for [[MmrSelect]] — the greedy maximal-marginal-relevance
  * walk (Carbonell & Goldstein, SIGIR 1998) over one query's bounded
  * candidate array.
  */
object MmrRuntime {

  /** Greedy MMR over (id, rel, vec) candidate structs: pick 1 is the
    * highest `rel`; pick t maximizes obj = rel − max over selected of
    * the micro-unit cosine round(10⁶·cos) (λ = ½ with both terms on
    * the same micro scale; doubling the objective changes no argmax).
    * Ties break to the lower id, so the result is independent of the
    * input array's order (collect_list order is not deterministic —
    * the operator relies on this). Cosine folds left-to-right, the
    * [[VecDot]]/oracle `dDot` convention; a zero-norm vector has
    * cosine 0 to everything. Returns array<struct<id, mmr>> in pick
    * order, min(k, n) entries.
    */
  def select(cands: ArrayData, k: Int): ArrayData = {
    val n = cands.numElements()
    val ids = new Array[Long](n)
    val rels = new Array[Long](n)
    val vecs = new Array[Array[Double]](n)
    val norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = cands.getStruct(i, 3)
      ids(i) = row.getLong(0)
      rels(i) = row.getLong(1)
      vecs(i) = row.getArray(2).toDoubleArray()
      var s = 0.0
      var j = 0
      while (j < vecs(i).length) { s += vecs(i)(j) * vecs(i)(j); j += 1 }
      norms(i) = math.sqrt(s)
      i += 1
    }
    def simMicro(a: Int, b: Int): Long = {
      if (norms(a) == 0.0 || norms(b) == 0.0) 0L
      else {
        val va = vecs(a)
        val vb = vecs(b)
        val d = math.min(va.length, vb.length)
        var s = 0.0
        var j = 0
        while (j < d) { s += va(j) * vb(j); j += 1 }
        math.round(1e6 * s / (norms(a) * norms(b)))
      }
    }
    val taken = new Array[Boolean](n)
    val sel = new scala.collection.mutable.ArrayBuffer[Int](k)
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow](k)
    var step = 0
    while (step < k && step < n) {
      var best = -1
      var bestObj = Long.MinValue
      i = 0
      while (i < n) {
        if (!taken(i)) {
          val obj =
            if (sel.isEmpty) rels(i)
            else {
              var ms = Long.MinValue
              sel.foreach { s0 =>
                val sm = simMicro(i, s0)
                if (sm > ms) ms = sm
              }
              rels(i) - ms
            }
          if (best < 0 || obj > bestObj ||
              (obj == bestObj && ids(i) < ids(best))) {
            best = i
            bestObj = obj
          }
        }
        i += 1
      }
      taken(best) = true
      sel += best
      out += InternalRow(ids(best), bestObj)
      step += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}

/** Maximal-marginal-relevance diversified selection (round 13): takes
  * ONE query's candidate list as array<struct<id bigint, rel bigint,
  * vec array<double>>> (bounded by the upstream top-k', so the
  * per-group walk is O(k·k') on k'-sized data — the data-dependent
  * iteration a composed column unrolling can't express without a
  * per-stage plan blowup; the [[HilbertIndexN]] precedent) and
  * returns the greedy MMR picks as array<struct<id, mmr>>. The DuckDB
  * oracle replays the walk as k unrolled argmax stages.
  */
case class MmrSelect(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType), StructField("mmr", LongType))))

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "mmr_select"

  override def checkInputDataTypes(): TypeCheckResult =
    InputTypes.check(this, child.dataType match {
      case ArrayType(StructType(Array(StructField(_, LongType, _, _),
          StructField(_, LongType, _, _),
          StructField(_, ArrayType(DoubleType, _), _, _))), _) => true
      case _ => false
    }, "array<struct<bigint, bigint, array<double>>>")

  override def nullSafeEval(a: Any): Any =
    MmrRuntime.select(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => s"""
       |${ev.value} = graft.expressions.MmrRuntime.select($xs, $k);
     """.stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): MmrSelect = copy(child = newChild)
}

object MmrSelect {
  /** Column wrapper for [[MmrSelect]]. */
  def mmr(cands: Column, k: Int): Column =
    GraftBridge.column(MmrSelect(GraftBridge.expression(cands), k))
}
