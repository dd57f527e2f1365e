package graft.exprs

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** KMV (k-minimum-values) distinct-count sketch: `kmv_agg(hash, k)`
  * keeps the k smallest DISTINCT hash values seen, returned as a sorted
  * ascending BIGINT array (Bar-Yossef et al. 2002; Beyer et al. 2007's
  * unbiased estimator). State is a bounded ordered set — ≤ k longs
  * through map-side partial aggregation, merge = set-union-then-trim —
  * so a 100 TB scan ships |groups|·k fixed longs, like HLL.
  *
  * The reason this exists next to Spark's own `approx_count_distinct`
  * (HLL++): KMV sketches compose under SET ALGEBRA. The k smallest
  * hashes of A ∪ B are always contained in sketch(A) ∪ sketch(B), so a
  * union sketch is computable from two already-built sketches — and the
  * Jaccard fraction |M ∩ A ∩ B| / k of the merged sketch M yields an
  * INTERSECTION estimate, which HLL cannot provide (inclusion-exclusion
  * on HLL estimates subtracts two large noisy numbers). The closed forms
  * are plain array expressions over the returned arrays — see
  * `TextQueries.kmvOverlap` for the full union/intersection algebra.
  *
  * Estimator (m = sketch size): distinct ≈ (k−1)·M / h_(k) when m = k
  * (hashes uniform on [0, M)); exact m when m &lt; k (the sketch saw
  * every distinct hash). Hashes MUST be non-negative (pmod raw signed
  * hashes like xxhash64 into [0, 2^31) first) — a negative input fails
  * loudly at update time, since a negative h_(k) under signed comparison
  * would silently yield a nonsensical estimate.
  * Deterministic given the hash — the caller
  * supplies the hash column, so an oracle replaying the same hash
  * reproduces the estimate bit-for-bit.
  *
  * Null hashes are skipped. k must be a positive INT literal. */
case class KmvAgg(
    left: Expression,   // hash: LONG
    right: Expression,  // k: INT literal (foldable)
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends KmvSketch {

  override def prettyName: String = "kmv_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (BIGINT hash, INT k), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
    else checkK

  override def update(buf: Buf, input: InternalRow): Buf = {
    val h = left.eval(input)
    if (h != null) {
      val v = h.asInstanceOf[Long]
      if (v < 0L)
        throw new IllegalArgumentException(
          s"kmv_agg: negative hash $v — the (k-1)*M DIV h_(k) estimator " +
            "assumes hashes uniform in [0, 2^31); pmod the hash into a " +
            "non-negative range first (a silently accepted negative h_(k) " +
            "would yield a nonsensical estimate)")
      add(buf, v)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KmvAgg =
    copy(left = newLeft, right = newRight)
}

/** The ≤ k ordered-set buffer [[KmvAgg]] and [[KmvMergeAgg]] share: the
  * k smallest distinct non-negative hashes, returned ascending as
  * `array<bigint>`, serialized as a count followed by the longs. Each
  * aggregate adds only its own input handling (raw hashes vs stored
  * sketches) and its type check on the first argument. */
private[exprs] trait KmvSketch
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with BinaryLike[Expression] {

  protected type Buf = java.util.TreeSet[java.lang.Long]

  @transient protected lazy val kVal: Int = right.eval().asInstanceOf[Int]

  /** The k argument's checks, after the first argument's. */
  protected def checkK: TypeCheckResult = SizeArg.check(prettyName, "k", right, 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Buf = new Buf()

  /** Keep `h` if it is among the k smallest distinct values seen. */
  protected def add(buf: Buf, h: Long): Unit = {
    if (buf.size < kVal) { buf.add(h); () }
    else if (h < buf.last()) {
      // full and h beats the current k-th smallest: swap it in (TreeSet
      // dedups, so a repeated hash never displaces a distinct one)
      if (buf.add(h)) buf.pollLast()
      ()
    }
  }

  override def merge(b1: Buf, b2: Buf): Buf = {
    val it = b2.iterator()
    while (it.hasNext) add(b1, it.next())
    b1
  }

  override def eval(buf: Buf): Any = {
    val out = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next().longValue())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new Buf()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }
}
