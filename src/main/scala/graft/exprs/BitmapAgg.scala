package graft.exprs

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Exact membership bitmap over a BOUNDED integer id universe:
  * `bitmap_agg(id, universe)` returns the set of seen ids as packed
  * 64-bit words (`array<bigint>`, ⌈universe/64⌉ elements) — the
  * ClickHouse `groupBitmap` shape. State is the fixed word array
  * (universe/8 bytes regardless of row count), update is one bit-set,
  * merge is word-wise OR — so map-side partials ship |groups|·universe/8
  * bytes however large the fact side is.
  *
  * The word-array output makes the SET ALGEBRA plain column expressions
  * — no follow-up custom functions needed:
  *   cardinality:  aggregate(transform(bm, w -> bit_count(w)), 0, +)
  *   intersection: zip_with(a, b, (x, y) -> x & y)  (then count bits)
  *   union:        zip_with(a, b, (x, y) -> x | y)
  * This is the EXACT counterpart of [[KmvAgg]] on the same overlap
  * questions: bitmaps when the id universe is bounded (users, SKUs,
  * shards), KMV estimates beyond. Results are exact, so the oracle is
  * plain COUNT(DISTINCT)/INTERSECT SQL — no kernel replay needed.
  *
  * Ids outside [0, universe) fail LOUDLY (a silently dropped id would
  * corrupt every downstream count); null ids are skipped. `universe`
  * must be a positive INT literal ≤ 2^26 (8 MiB of state — past that,
  * use [[KmvAgg]] or a hashed re-map). */
case class BitmapAgg(
    left: Expression,   // id: LONG
    right: Expression,  // universe: INT literal (foldable)
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with BinaryLike[Expression] {

  override def prettyName: String = "bitmap_agg"

  @transient private lazy val universe: Int = right.eval().asInstanceOf[Int]
  @transient private lazy val nWords: Int = (universe + 63) >>> 6

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (left.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (BIGINT id, INT universe), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
    else SizeArg.check(prettyName, "universe", right, 1, 1 << 26)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nWords)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = left.eval(input)
    if (v != null) {
      val id = v.asInstanceOf[Long]
      if (id < 0L || id >= universe.toLong)
        throw new IllegalArgumentException(
          s"bitmap_agg: id $id outside the declared universe [0, $universe) — " +
            "widen the universe or hash-remap the ids")
      buf((id >>> 6).toInt) |= 1L << (id & 63L)
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) |= b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(buf.map(w => w: Any))

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapAgg =
    copy(left = newLeft, right = newRight)
}
