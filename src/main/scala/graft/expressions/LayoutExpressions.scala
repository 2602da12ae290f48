package graft.expressions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Runtime for [[HilbertIndex]] — plain object so codegen calls a
  * static forwarder (the [[CharGramHash]] pattern).
  */
object HilbertCurve {

  /** Hilbert-curve distance of the cell (x, y) on the 2^bits × 2^bits
    * grid — the classic iterative xy→d transform (quadrant digit +
    * reflect/transpose rotation per level, most-significant level
    * first). Inputs are masked to their low `bits` bits, mirroring
    * [[graft.sources.Zorder.morton]]'s low-bit contract.
    */
  def index(x0: Long, y0: Long, bits: Int): Long = {
    val n = 1L << bits
    var x = x0 & (n - 1)
    var y = y0 & (n - 1)
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) != 0) 1L else 0L
      val ry = if ((y & s) != 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

/** Hilbert-curve index of two key columns — the locality-preserving
  * alternative to the Morton/Z-order interleave for multi-dimensional
  * file layout. Z-order's weakness is its diagonal seams: every 2^k
  * boundary crossing makes a long jump in code space, so files built
  * from Morton runs cover L-shaped regions and a box query near a
  * seam touches extra files. The Hilbert curve is fully continuous
  * (adjacent codes are always grid neighbors), so equal code runs
  * tile into more compact rectangles and min/max stats prune box
  * queries at least as well — measured against Z-order on the same
  * grid in ZorderSpec, and the standard choice at 100 TB file counts
  * for exactly that reason.
  *
  * The per-level rotation state makes the transform data-dependent —
  * a composed column-arithmetic unrolling doubles the expression tree
  * per level (the conditional swap references BOTH previous x and y),
  * so this is a native codegen expression per the house preference
  * ladder: one static-call loop, whole-stage-codegen-able, allocation-
  * free. The DuckDB oracle replays the identical algorithm as `bits`
  * chained CTE stages (one materialized (x, y, d) state per level —
  * the same anti-blowup discipline, in SQL).
  */
case class HilbertIndex(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "hilbert_index"

  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)

  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertCurve.index(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => s"""
       |${ev.value} = graft.expressions.HilbertCurve.index($x, $y, $bits);
     """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)
}

/** Runtime for [[HilbertIndexN]] — Skilling's transform ("Programming
  * the Hilbert curve", J. Skilling, AIP Conf. Proc. 707, 381 (2004);
  * the public-domain n-dimensional algorithm): axes → transpose via
  * the per-bit invert/exchange walk, Gray encode, then the
  * MSB-first bit-interleave of the transpose is the index. Pure
  * integer ops on one n-long scratch array.
  */
object HilbertCurveN {

  /** Hilbert index of the cell `coords` on the (2^bits)^n grid.
    * Inputs masked to their low `bits` bits (the [[HilbertCurve]]
    * contract); n·bits ≤ 62 keeps the index a signed int64.
    */
  def index(coords: Array[Long], bits: Int): Long = {
    val n = coords.length
    val mask = (1L << bits) - 1
    val x = new Array[Long](n)
    var i = 0
    while (i < n) { x(i) = coords(i) & mask; i += 1 }
    // axes -> transpose: per bit plane (high to low), invert x(0)'s
    // low bits or exchange them with x(i)'s, per Skilling
    var q = 1L << (bits - 1)
    while (q > 1) {
      val p = q - 1
      i = 0
      while (i < n) {
        if ((x(i) & q) != 0) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    // Gray encode
    i = 1
    while (i < n) { x(i) ^= x(i - 1); i += 1 }
    var t = 0L
    q = 1L << (bits - 1)
    while (q > 1) { if ((x(n - 1) & q) != 0) t ^= q - 1; q >>= 1 }
    i = 0
    while (i < n) { x(i) ^= t; i += 1 }
    // transpose -> index: MSB-first interleave, x(0)'s bit leading
    var d = 0L
    var j = bits - 1
    while (j >= 0) {
      i = 0
      while (i < n) { d = (d << 1) | ((x(i) >> j) & 1L); i += 1 }
      j -= 1
    }
    d
  }

  /** [[index]] of an array of coordinates, which must hold `dims`. */
  def index(coords: ArrayData, dims: Int, bits: Int): Long = {
    val xs = coords.toLongArray()
    if (xs.length != dims) throw new IllegalArgumentException(
      s"hilbert_index_n: expected $dims coordinates, got ${xs.length}")
    index(xs, bits)
  }
}

/** n-dimensional Hilbert index (round 13 — lifts the 2-D design
  * bound): takes the key columns as ONE array<bigint> (built
  * codegen'd by `array(a, b, c)` at the call site — keeps this a
  * UnaryExpression, the simplest codegen shape), length fixed at plan
  * time by `dims`. Same locality story as [[HilbertIndex]], any
  * arity; the DuckDB oracle replays Skilling's walk as chained CTE
  * stages (one (x0..x_{n-1}) state per bit plane, the 2-D oracle's
  * anti-blowup discipline).
  */
case class HilbertIndexN(child: Expression, dims: Int, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(dims >= 2, s"dims must be >= 2, got $dims")
  require(bits >= 1 && dims * bits <= 62,
    s"dims*bits must be in [1,62] to fit int64, got $dims x $bits")

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "hilbert_index_n"

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override def nullSafeEval(a: Any): Any =
    HilbertCurveN.index(a.asInstanceOf[ArrayData], dims, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs =>
      s"${ev.value} = graft.expressions.HilbertCurveN.index($xs, $dims, $bits);")

  override protected def withNewChildInternal(
      newChild: Expression): HilbertIndexN = copy(child = newChild)
}

object LayoutExpressions {
  /** Column wrapper for [[HilbertIndex]]. */
  def hilbertIndex(a: Column, b: Column, bits: Int): Column =
    GraftBridge.column(HilbertIndex(
      GraftBridge.expression(a.cast("long")),
      GraftBridge.expression(b.cast("long")), bits))

  /** Column wrapper for [[HilbertIndexN]]: `cols` become one
    * codegen'd array<bigint> child.
    */
  def hilbertIndexN(cols: Seq[Column], bits: Int): Column =
    GraftBridge.column(HilbertIndexN(
      GraftBridge.expression(org.apache.spark.sql.functions.array(
        cols.map(_.cast("long")): _*)),
      cols.size, bits))
}
