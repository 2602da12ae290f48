package graft.expressions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}

/** The one rule for a null element in the numeric array kernels
  * ([[VectorKernels]], [[TextKernels]]' simhash, minhash and winnowing
  * folds, [[PqCodebook]]): it reads as 0. A null slot holds whatever
  * bytes its writer left, and those differ between the interpreted and
  * the generated path, so no kernel reads them. Reading 0 keeps each
  * expression's type, nullability and plan as they were.
  */
object NullAsZero {
  def long(a: ArrayData, i: Int): Long = if (a.isNullAt(i)) 0L else a.getLong(i)
  def double(a: ArrayData, i: Int): Double = if (a.isNullAt(i)) 0.0d else a.getDouble(i)
  def float(a: ArrayData, i: Int): Double =
    if (a.isNullAt(i)) 0.0d else a.getFloat(i).toDouble
}

/** Runtime for [[VecDot]] and [[VecDotLong]] — a plain object, so the
  * generated code is one static call into the loop `eval` runs. A null
  * element reads as 0 ([[NullAsZero]]).
  */
object VectorKernels {

  /** Left-to-right double fold of `x[i]·y[i]` over the shorter
    * length; each side's elements are read as float or double.
    * Generated code passes the two flags as literals, so the JIT
    * folds the per-element choice away.
    */
  def dot(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0d
    var i = 0
    while (i < n) {
      val xe = if (xFloat) NullAsZero.float(x, i) else NullAsZero.double(x, i)
      val ye = if (yFloat) NullAsZero.float(y, i) else NullAsZero.double(y, i)
      acc += xe * ye
      i += 1
    }
    acc
  }

  /** Exact 64-bit `Σ x[i]·y[i]` over the shorter length. */
  def dotLong(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += NullAsZero.long(x, i) * NullAsZero.long(y, i)
      i += 1
    }
    acc
  }
}

/** Native Catalyst expression for the embedding hot path.
  *
  * The built-in route (`transform(cast) → zip_with(*) → aggregate(+)`)
  * is correct but interpreted: higher-order functions carry no codegen,
  * so every candidate pair pays lambda dispatch per element plus two
  * intermediate arrays. This expression's generated code is one call
  * into [[VectorKernels.dot]] (whole-stage-codegen-able) and allocates
  * nothing.
  *
  * Semantics are IDENTICAL to the fold it replaces — left-to-right
  * double accumulation over `(double) a[i] * (double) b[i]` — so the
  * DuckDB verify oracle (`list_reduce(list_prepend(0.0, …), +)`)
  * continues to match bit-for-bit. This is the preference ladder of the
  * engine design: compose built-ins first, drop to a custom Expression
  * only where the built-in plan can't express the performance.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "vec_dot"

  private def floatElem(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @transient private lazy val leftFloat = floatElem(left)
  @transient private lazy val rightFloat = floatElem(right)

  override def checkInputDataTypes(): TypeCheckResult =
    InputTypes.check(this, children.forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }), "array<float>/array<double> args")

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], leftFloat,
      b.asInstanceOf[ArrayData], rightFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => s"${ev.value} = " +
      s"graft.expressions.VectorKernels.dot($x, $leftFloat, $y, $rightFloat);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** [[VecDot]]'s integer twin for the compressed-domain hot paths
  * (SQ8 codes, JL sketches): one long-accumulating loop
  * ([[VectorKernels.dotLong]]) over two array<long> columns. Replaces
  * `aggregate(zip_with(_*_), 0L, _+_)` — same exact 64-bit result
  * (integer addition is associative), but codegen'd with zero
  * intermediate arrays where the higher-order built-ins interpret a
  * lambda per element. The caller owns the no-overflow argument (SQ8:
  * |dot·scale| ≲ 10¹²; sketches: ≤ 4·10¹⁵ by the 2-bit downshift).
  *
  * CALLER CONTRACT — equal dimensions. Mismatched arrays TRUNCATE to
  * the shorter length (the loop bound is min(|a|, |b|)), unlike the
  * replaced fold, where zip_with's null padding nulled the whole sum.
  * Every call site derives both sides from one encoder (same dim by
  * construction: SQ8 codes, JL sketches, PQ sub-codes), so the branch
  * a per-row dimension check would add to the hot loop buys nothing
  * there; a caller joining arrays of independent provenance must pre-filter
  * `size(a) = size(b)` or accept a plausible-but-partial dot.
  */
case class VecDotLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "vec_dot_long"

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.expressions.VectorKernels.dotLong($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotLong =
    copy(left = newLeft, right = newRight)
}

/** The PQ codebook kernel behind [[PqEncode]] and [[PqLut]]: `model`'s
  * m subspaces of ksub sub-centroids (each subDim wide) as a flattened
  * double image `[s·ksub + c]` with each sub-centroid's full-width
  * ‖c‖², summed left to right.
  *
  * Subspace s's distance is d(c) = Σ vs·vs − 2·Σ vs·c + ‖c‖² over the
  * slice vs of the input at s·subDim, with [[VecDot]]'s left-to-right
  * double folds and a truncating long cast; the cross and self terms
  * run over the slice's actual length, so short inputs reproduce what
  * `slice` + `vec_dot` + literal Σc² computed. A null element reads as
  * 0 ([[NullAsZero]]).
  */
final class PqCodebook(model: Seq[Seq[Seq[Long]]]) extends Serializable {
  private val m = model.size
  private val ksub = model.head.size
  private val subDim = model.head.head.size
  private val cents: Array[Array[Double]] =
    model.flatMap(_.map(_.map(_.toDouble).toArray)).toArray
  private val ccs: Array[Double] = cents.map(cd => cd.map(x => x * x).sum)

  private def sliceLen(vd: ArrayData, s: Int): Int =
    math.max(0, math.min(vd.numElements() - s * subDim, subDim))

  /** Σ x² over subspace s's slice — shared by its ksub distances. */
  private def selfDot(vd: ArrayData, s: Int): Double = {
    val start = s * subDim
    val nv = sliceLen(vd, s)
    var dxx = 0.0d
    var i = 0
    while (i < nv) {
      val x = NullAsZero.double(vd, start + i); dxx += x * x; i += 1
    }
    dxx
  }

  /** d(c) of subspace s, given the slice's [[selfDot]] `dxx`. */
  def distance(vd: ArrayData, s: Int, c: Int, dxx: Double): Long = {
    val start = s * subDim
    val nv = sliceLen(vd, s)
    val cd = cents(s * ksub + c)
    var dxc = 0.0d
    var j = 0
    while (j < nv) {
      dxc += NullAsZero.double(vd, start + j) * cd(j); j += 1
    }
    (dxx - 2.0d * dxc + ccs(s * ksub + c)).toLong
  }

  /** struct(codes, recon): per subspace the argmin centroid (ties to
    * the lower cent_id), and the sum of the chosen distances.
    */
  def encode(vd: ArrayData): InternalRow = {
    val codes = new Array[Int](m)
    var recon = 0L
    var s = 0
    while (s < m) {
      val dxx = selfDot(vd, s)
      var bestD = Long.MaxValue
      var c = 0
      while (c < ksub) {
        val d = distance(vd, s, c, dxx)
        if (d < bestD) { bestD = d; codes(s) = c }
        c += 1
      }
      recon += bestD
      s += 1
    }
    new GenericInternalRow(Array[Any](UnsafeArrayData.fromPrimitiveArray(codes), recon))
  }

  /** Every subspace distance, subspace-major: the m×ksub ADC table. */
  def lut(vd: ArrayData): ArrayData = {
    val out = new Array[Long](m * ksub)
    var s = 0
    while (s < m) {
      val dxx = selfDot(vd, s)
      var c = 0
      while (c < ksub) {
        out(s * ksub + c) = distance(vd, s, c, dxx)
        c += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Native PQ encoder — the whole per-row codebook argmin in ONE
  * compiled call ([[PqCodebook.encode]]): for each of the m subspaces,
  * the squared-L2 to all ksub sub-centroids and the argmin (ties to
  * the lower cent_id), returning struct(codes array<int>, recon
  * bigint).
  *
  * Replaces the composed tree it is value-identical to
  * ([[graft.operators.Similarity]]'s previous `least(struct(dist,c)…)`
  * over m·ksub literal-array dot expansions): the same arithmetic per
  * subspace slice, so even degenerate non-MaxDim vectors encode
  * bit-identically. The DuckDB oracle replays the same arithmetic
  * unchanged.
  *
  * Why it exists (optimization round 18, measured): the composed form
  * put ~32 literal-array dot subtrees into the encode Project; fused
  * under a BroadcastNestedLoopJoin, whole-stage codegen re-evaluated
  * that tree once per BUILD ROW (50×/row — deferred-evaluation
  * semantics), and the giant generated method plus per-eval slice
  * allocations made the fused stage a 6.7 s single task at sf0.1.
  * One compiled call is ~µs even when the join defers it, and the
  * plan/task binary shrinks by the 32 inlined centroid arrays.
  *
  * The codebook is held as constructor DATA (value-comparable nested
  * Seqs so plan canonicalization and exchange reuse still work), not
  * as child expressions.
  */
case class PqEncode(child: Expression, model: Seq[Seq[Seq[Long]]])
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("recon", LongType, nullable = false)))

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "pq_encode"

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  @transient private lazy val codebook = new PqCodebook(model)

  override def nullSafeEval(input: Any): Any =
    codebook.encode(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebook", codebook,
      classOf[PqCodebook].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.encode($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** [[PqEncode]]'s query-side twin: the full m×ksub ADC lookup table
  * (exact integer subspace distances to every sub-centroid, flattened
  * subspace-major) in ONE compiled call ([[PqCodebook.lut]]) —
  * value-identical to the m·ksub literal-array dot expansion it
  * replaces. Shrinks the query-side broadcast build's generated code by
  * the 32 inlined centroid subtrees and makes per-row LUT evaluation
  * ~µs for the streaming screen, whose arrival batches pay it per row.
  */
case class PqLut(child: Expression, model: Seq[Seq[Seq[Long]]])
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "pq_lut"

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  @transient private lazy val codebook = new PqCodebook(model)

  override def nullSafeEval(input: Any): Any =
    codebook.lut(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebook", codebook,
      classOf[PqCodebook].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.lut($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

object VectorExpressions {
  /** Column-level dot product backed by the codegen expression. */
  def vecDot(a: Column, b: Column): Column =
    GraftBridge.column(
      VecDot(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column-level integer dot product (array<long>), codegen'd. */
  def vecDotLong(a: Column, b: Column): Column =
    GraftBridge.column(
      VecDotLong(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column-level PQ encode (struct(codes, recon)) under a driver-held
    * codebook — see [[PqEncode]].
    */
  def pqEncode(vd: Column, model: Seq[Seq[Array[Long]]]): Column =
    GraftBridge.column(
      PqEncode(GraftBridge.expression(vd),
        model.map(_.map(_.toSeq))))

  /** Column-level ADC lookup table (array<long>, subspace-major) under
    * a driver-held codebook — see [[PqLut]].
    */
  def pqLut(vd: Column, model: Seq[Seq[Array[Long]]]): Column =
    GraftBridge.column(
      PqLut(GraftBridge.expression(vd),
        model.map(_.map(_.toSeq))))
}
