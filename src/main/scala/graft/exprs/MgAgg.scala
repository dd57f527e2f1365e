package graft.exprs

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `mg_agg(key, k)` — Misra-Gries heavy-hitter summary (Misra &amp; Gries
  * 1982) over a BIGINT key stream with at most `k − 1` counters; returns
  * the candidate key array sorted ascending.
  *
  * Guarantee (the reason the operator exists): every key with true
  * frequency &gt; N/k appears in the summary — under ANY update order and
  * ANY merge tree, by the mergeable-summaries theorem (Agarwal, Cormode,
  * Huang, Phillips, Wei &amp; Yi 2013: counter-wise add, then subtract the
  * k-th largest value and drop non-positives; errors add to ≤ N/k).
  * Counts and below-threshold membership ARE merge-order-dependent, so
  * the summary is a CANDIDATE set: consumers gate it with exact counts
  * (the contract-audit device of q_approx_distinct / q_stream_cms), and
  * the provable heavy hitters are deterministic.
  *
  * State is ≤ 2(k−1) map entries between prunes — fixed-size partials
  * through map-side aggregation, the O(1)-state shape that replaces a
  * |keys|-sized exact count at 100 TB/day stream volume.
  */
case class MgAgg(
    left: Expression,   // key: BIGINT
    right: Expression,  // k: INT literal (foldable)
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.LongMap[Long]]
  with BinaryLike[Expression] {

  private type Buf = scala.collection.mutable.LongMap[Long]

  override def prettyName: String = "mg_agg"

  @transient private lazy val kVal: Int = right.eval().asInstanceOf[Int]

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (BIGINT key, INT k), got ${left.dataType.sql}")
    else SizeArg.check(prettyName, "k", right, 2)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Buf =
    new scala.collection.mutable.LongMap[Long]()

  /** Classic MG step: hit increments; a free slot inserts; a full table
    * decrements every counter (dropping zeros) instead of inserting. */
  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = left.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[Long]
      if (buf.contains(key)) buf.update(key, buf(key) + 1L)
      else if (buf.size < kVal - 1) buf.update(key, 1L)
      else {
        // snapshot before mutating: removals during LongMap iteration are
        // not part of its contract
        val entries = buf.toArray
        entries.foreach { case (k2, c) =>
          if (c == 1L) buf.remove(k2) else buf.update(k2, c - 1L)
        }
      }
    }
    buf
  }

  /** Mergeable-summaries merge: counter-wise add, then if over k−1
    * entries subtract the k-th largest count from all and drop ≤ 0. */
  override def merge(b1: Buf, b2: Buf): Buf = {
    b2.toArray.foreach { case (k2, c) => b1.update(k2, b1.getOrElse(k2, 0L) + c) }
    if (b1.size > kVal - 1) {
      val counts = b1.values.toArray
      java.util.Arrays.sort(counts)
      // k-th largest = counts[size - k] (size > k-1 guarantees it exists)
      val sub = counts(counts.length - kVal)
      b1.toArray.foreach { case (k2, c) =>
        if (c - sub <= 0L) b1.remove(k2) else b1.update(k2, c - sub)
      }
    }
    b1
  }

  override def eval(buf: Buf): Any = {
    val keys = buf.keys.toArray
    java.util.Arrays.sort(keys)
    new GenericArrayData(keys)
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    buf.foreachEntry { (k2, c) => bb.putLong(k2); bb.putLong(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new scala.collection.mutable.LongMap[Long](math.max(n, 1))
    var i = 0
    while (i < n) { buf.update(bb.getLong, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): MgAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MgAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MgAgg =
    copy(left = newLeft, right = newRight)
}
