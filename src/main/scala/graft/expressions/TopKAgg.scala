package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded-heap top-k aggregate: `top_k(score, label, k)` keeps the k
  * best (score desc, label asc) rows per group and returns them as a
  * sorted array<struct<score,label>>.
  *
  * This is the scale-correct alternative to the window-function top-k
  * (dense_rank/row_number + filter): a window must shuffle and SORT
  * every row of every group, while a TypedImperativeAggregate gets
  * partial aggregation for free — each map task reduces its slice to a
  * k-element heap, the shuffle carries ≤ k entries per group per
  * partition, and merge folds heaps. For a 100 TB fact table with
  * small k that's the difference between shuffling the table and
  * shuffling kilobytes. (The reference's own top-5 stays on dense_rank
  * for tie semantics — `codes/task3.py:83`; this operator is the
  * engine's high-cardinality path.)
  *
  * Determinism: the heap is bounded under the TOTAL order
  * (score desc, label asc), so the result is input-order independent —
  * verified against a DuckDB row_number oracle.
  */
case class TopKAgg(
    score: Expression,
    label: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
    distinct: Boolean = false)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, String)]]
  with ExpectsInputTypes {

  require(k > 0, "top_k needs k > 0")

  /** `distinct = true`: duplicate (score, label) entries collapse to
    * one — exactly `top_k(score, label, k)` over the DISTINCT input
    * set (round 19). Equivalence argument: the buffer always holds the
    * top-min(k,·) of the distinct prefix seen; a duplicate whose twin
    * is in the buffer is skipped, and one whose twin was evicted
    * re-enters and is immediately evicted again by the same total
    * order (k better entries still present). Lets a caller with a
    * duplicate-bearing candidate stream (NN-descent's fwd ∪ rev ∪
    * 2-hop rule) skip the pre-aggregation `.distinct()` EXCHANGE and
    * dedupe inside the one heap pass — the per-insert containment
    * scan is O(k), only paid under the flag.
    */
  private def put(buf: mutable.PriorityQueue[(Double, String)],
      e: (Double, String)): Unit = {
    if (distinct && buf.exists(_ == e)) return
    buf.enqueue(e)
    if (buf.size > k) { buf.dequeue(); () }
  }

  /** Heap dequeues the WORST element: lower score is worse; on ties the
    * lexicographically larger label is worse.
    */
  private def worstFirst: Ordering[(Double, String)] =
    new Ordering[(Double, String)] {
      override def compare(a: (Double, String), b: (Double, String)): Int = {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else a._2.compareTo(b._2)
      }
    }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, String)] =
    new mutable.PriorityQueue[(Double, String)]()(worstFirst)

  override def update(
      buf: mutable.PriorityQueue[(Double, String)],
      input: InternalRow): mutable.PriorityQueue[(Double, String)] = {
    val s = score.eval(input)
    val l = label.eval(input)
    if (s != null && l != null)
      put(buf, (s.asInstanceOf[Double], l.toString))
    buf
  }

  override def merge(
      b1: mutable.PriorityQueue[(Double, String)],
      b2: mutable.PriorityQueue[(Double, String)]): mutable.PriorityQueue[(Double, String)] = {
    b2.foreach(put(b1, _))
    b1
  }

  override def eval(buf: mutable.PriorityQueue[(Double, String)]): Any =
    new GenericArrayData(buf.toSeq.sortBy(t => (-t._1, t._2))
      .map(t => InternalRow(t._1, UTF8String.fromString(t._2))))

  override def serialize(buf: mutable.PriorityQueue[(Double, String)]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.foreach { case (s, l) =>
      out.writeDouble(s)
      out.writeUTF(l)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, String)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    (0 until n).foreach(_ => buf.enqueue((in.readDouble(), in.readUTF())))
    buf
  }

  override def inputTypes: Seq[DataType] = Seq(DoubleType, StringType)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("label", StringType))))

  override def nullable: Boolean = false

  override def children: Seq[Expression] = Seq(score, label)

  override def prettyName: String = "top_k"

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(score = newChildren(0), label = newChildren(1))
}

object TopKAgg {
  /** Column-level `top_k(score, label, k)` aggregate. */
  def topK(score: Column, label: Column, k: Int): Column =
    GraftBridge.column(
      TopKAgg(GraftBridge.expression(score), GraftBridge.expression(label), k)
        .toAggregateExpression())

  /** [[topK]] over the DISTINCT (score, label) set of the input —
    * see the `distinct` field. For a stream whose duplicates carry
    * identical keys this equals `.distinct()` + [[topK]] without the
    * extra exchange.
    */
  def topKDistinct(score: Column, label: Column, k: Int): Column =
    GraftBridge.column(
      TopKAgg(GraftBridge.expression(score), GraftBridge.expression(label), k,
        distinct = true)
        .toAggregateExpression())
}
