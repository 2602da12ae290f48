package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) layout — the multi-dimensional locality
  * primitive lakehouse tables use (Delta OPTIMIZE ZORDER BY, Iceberg
  * sort orders): interleave the bits of two key columns and
  * range-partition + sort on the interleaved code, so files end up
  * covering small RECTANGLES of the (a, b) key space instead of
  * stripes of one key. Parquet min/max row-group stats on BOTH
  * columns then prune a conjunctive range scan (`a BETWEEN … AND b
  * BETWEEN …`) to the few files whose rectangle intersects the
  * query box — single-column sorting prunes only its own column.
  *
  * The code is pure column arithmetic (shifts/masks unrolled at plan
  * build, whole-stage codegen'd — no UDF), mirrored bit-for-bit by
  * the DuckDB oracle.
  */
object Zorder {

  /** Morton interleave of the low `bits` bits of `a` and `b`
    * (non-negative longs): bit i of `a` lands at position 2i, bit i
    * of `b` at 2i+1. 2·bits ≤ 62 keeps the code in a signed int64.
    */
  def morton(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    mortonN(Seq(a, b), bits)
  }

  /** Morton interleave of k ≥ 2 key columns — the full Delta
    * `OPTIMIZE ZORDER BY (c1, …, ck)` arity (round 13; the 2-column
    * [[morton]] delegates here). Bit i of column j lands at position
    * i·k + j, so the code cycles through the columns bit by bit and
    * every column contributes equally at every granularity — files
    * cover k-dimensional boxes of the key space. k·bits ≤ 62 keeps
    * the code a signed int64, the same bit budget Delta spends
    * (range-code each key into [0, 2^bits) first, as the layout
    * queries do with `pmod`). Still pure unrolled column arithmetic:
    * k·bits codegen'd shift/mask terms, no UDF.
    */
  def mortonN(cols: Seq[Column], bits: Int): Column = {
    val k = cols.size
    require(k >= 2, s"mortonN needs >= 2 key columns, got $k")
    require(bits >= 1 && k * bits <= 62,
      s"k*bits must be in [1,62] to fit int64, got $k x $bits")
    (for (i <- 0 until bits; (c, j) <- cols.zipWithIndex)
      yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * k + j))
      .reduce(_ bitwiseOR _)
  }

  /** Hilbert-curve index of (`a`, `b`) on the 2^bits grid — the
    * locality-strict alternative to [[morton]]: the curve is
    * continuous (no Z-seam jumps), so equal-code runs tile into more
    * compact boxes and min/max file stats prune box queries at least
    * as well (measured ≤ Z-order's file count in ZorderSpec). Native
    * codegen expression ([[graft.expressions.HilbertIndex]] — the
    * per-level rotation is data-dependent, which a composed column
    * unrolling can't express without a 2^bits tree blowup); inputs
    * masked to their low `bits` bits, like [[morton]].
    */
  def hilbert(a: Column, b: Column, bits: Int = 16): Column =
    graft.expressions.LayoutExpressions.hilbertIndex(a, b, bits)

  /** Hilbert index over k ≥ 2 keys (round 13 — Skilling's n-D
    * transform, [[graft.expressions.HilbertIndexN]]): the continuous
    * curve at [[mortonN]]'s full ZORDER BY arity. k·bits ≤ 62, inputs
    * masked to their low `bits` bits. (The 2-key [[hilbert]] keeps
    * its own classic xy walk — both are valid Hilbert curves but
    * orient differently, and its 16-stage oracle is already pinned.)
    */
  def hilbertN(cols: Seq[Column], bits: Int): Column =
    graft.expressions.LayoutExpressions.hilbertIndexN(cols, bits)

  private def writeOrderedBy(df: DataFrame, path: String, code: Column,
      nFiles: Int): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    df.withColumn("_z", code)
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Write `df` parquet in z-order on (`a`, `b`): range-partition by
    * the Morton code (balanced output files via the range sampler),
    * sort within partitions, drop the helper column. At 100 TB this
    * is the standard one-shuffle layout job whose payoff is every
    * later conjunctive scan.
    */
  def writeZordered(df: DataFrame, path: String, a: Column, b: Column,
      nFiles: Int, bits: Int = 16): Unit =
    writeOrderedBy(df, path, morton(a, b, bits), nFiles)

  /** [[writeZordered]] with the Hilbert code — same one-shuffle
    * layout job, strictly better box locality (see [[hilbert]]).
    */
  def writeHilbertOrdered(df: DataFrame, path: String, a: Column,
      b: Column, nFiles: Int, bits: Int = 16): Unit =
    writeOrderedBy(df, path, hilbert(a, b, bits), nFiles)
}
