package graft.exprs

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded-state grouped top-k aggregate: `topk_agg(key, score, k)`
  * returns the k (key, score) pairs with the highest score per group
  * (ties broken by smaller key — a total order, so results are
  * deterministic and oracle-mirrorable by a row_number window).
  *
  * The point versus the window formulation (`row_number().over(...)
  * <= k`): a window must shuffle and SORT every row of the input
  * relation per partition key, while this aggregate carries at most
  * `2k` pairs of state per group through map-side partial aggregation —
  * at 100 TB the shuffle ships |groups|·k fixed-width pairs instead of
  * the whole relation, and nothing is ever globally sorted. Same
  * device as Spark's own `TakeOrderedAndProject`, generalized to
  * per-group and to aggregate composition.
  *
  * Buffer law: the buffer may hold up to `2k` pairs between prunes;
  * update/merge prune back to the top k whenever the bound is exceeded
  * (pruning early is safe — a pair outside a partial's top k can never
  * enter the global top k, since scores only compete, never combine).
  */
case class TopKAgg(
    first: Expression,   // key: LONG
    second: Expression,  // score: LONG
    third: Expression,   // k: INT literal (foldable)
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.ArrayBuffer[(Long, Long)]]
  with TernaryLike[Expression] {

  private type Buf = scala.collection.mutable.ArrayBuffer[(Long, Long)]

  override def prettyName: String = "topk_agg"

  @transient private lazy val kVal: Int = third.eval().asInstanceOf[Int]

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (first.dataType != LongType || second.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (BIGINT key, BIGINT score, INT k), got " +
          s"(${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql})")
    else SizeArg.check(prettyName, "k", third, 1)
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("key", LongType, nullable = false),
      StructField("score", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false

  /** score desc, then key asc — total over distinct keys. */
  private val ord: Ordering[(Long, Long)] = new Ordering[(Long, Long)] {
    override def compare(a: (Long, Long), b: (Long, Long)): Int = {
      val c = java.lang.Long.compare(b._2, a._2)
      if (c != 0) c else java.lang.Long.compare(a._1, b._1)
    }
  }

  private def prune(buf: Buf): Buf = {
    if (buf.length > 2 * kVal) {
      val top = buf.sorted(ord).take(kVal)
      buf.clear()
      buf ++= top
    }
    buf
  }

  override def createAggregationBuffer(): Buf = new Buf()

  override def update(buf: Buf, input: InternalRow): Buf = {
    val k = first.eval(input)
    val s = second.eval(input)
    if (k != null && s != null) {
      buf += ((k.asInstanceOf[Long], s.asInstanceOf[Long]))
      prune(buf)
    } else buf
  }

  override def merge(b1: Buf, b2: Buf): Buf = { b1 ++= b2; prune(b1) }

  override def eval(buf: Buf): Any = {
    val top = buf.sorted(ord).take(kVal)
    new GenericArrayData(top.map { case (k, s) =>
      new GenericInternalRow(Array[Any](k, s)): Any
    }.toArray)
  }

  override def serialize(buf: Buf): Array[Byte] = {
    prune(buf)
    val bb = ByteBuffer.allocate(4 + 16 * buf.length)
    bb.putInt(buf.length)
    buf.foreach { case (k, s) => bb.putLong(k); bb.putLong(s) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new Buf()
    var i = 0
    while (i < n) { buf += ((bb.getLong, bb.getLong)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): TopKAgg =
    copy(first = newFirst, second = newSecond, third = newThird)
}
