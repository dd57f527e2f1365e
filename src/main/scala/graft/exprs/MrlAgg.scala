package graft.exprs

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `mrl_agg(x, k)` — mergeable QUANTILE summary over a BIGINT stream
  * (Munro &amp; Paterson 1980 / Manku, Rajagopalan &amp; Lindsay 1998; the
  * deterministic ancestor of KLL), completing the mergeable-summary
  * family next to CMS (frequency), Misra-Gries (heavy hitters), KMV
  * (distinct), bitmap (membership) and TopK (extremes): returns a
  * weighted sample as a value-sorted `ARRAY&lt;STRUCT&lt;v BIGINT,
  * w BIGINT&gt;&gt;` whose cumulative weights approximate ranks.
  *
  * Structure: level buffers; level i holds values of weight 2^i, at most
  * `2k` per level. A full level sorts and COMPACTS — every other element
  * (odd 0-based positions) promotes to level i+1 with doubled weight; an
  * odd element count leaves one value behind, so TOTAL WEIGHT always
  * equals the exact item count N (the invariant `eval` normalizes by).
  * merge = level-wise concatenation + the same compaction, so partials
  * compose under ANY merge tree — the mergeable-summaries shape
  * (Agarwal et al. 2013 §3), and state is O(k · log(N/k)) longs.
  *
  * Error: each level-i compaction perturbs any rank by at most 2^i, and
  * level i compacts at most N/(k·2^(i+1)) times, so the absolute rank
  * error is at most Σ_i N/(2k) per level ≈ N·L/(2k) with L ≈ log₂(N/k)
  * levels. The bound is DETERMINISTIC (no failure probability), but the
  * concrete output is merge-order-dependent — consumers therefore gate
  * results through the rank-window contract audit (the
  * `q_approx_pct_audit` device), and MrlAggProps property-tests the
  * bound under random splits and merge orders. Why it exists next to
  * Spark's `percentile_approx`: this one is OURS end to end — a fifth
  * custom TypedImperativeAggregate that also runs on the streaming path
  * (complete-mode, bounded state across micro-batches), where
  * `percentile_approx` cannot maintain state incrementally for us to
  * audit.
  */
case class MrlAgg(
    left: Expression,   // value: BIGINT
    right: Expression,  // k: INT literal (foldable), buffer half-width
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends MrlSketch {

  override def prettyName: String = "mrl_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (BIGINT value, INT k), got ${left.dataType.sql}")
    else checkK

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = left.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long], kVal)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MrlAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MrlAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MrlAgg =
    copy(left = l, right = r)
}

/** What [[MrlAgg]] and [[MrlMergeAgg]] share: the level buffer
  * ([[MrlAgg.Buf]]), its merge, the value-sorted `array<struct<v, w>>`
  * result, and the level codec (level count, then each level's length
  * and values). Each aggregate adds only its own input handling (raw
  * values vs stored sketches) and its type check on the first argument. */
private[exprs] trait MrlSketch
  extends TypedImperativeAggregate[MrlAgg.Buf]
  with BinaryLike[Expression] {

  protected type Buf = MrlAgg.Buf

  @transient protected lazy val kVal: Int = right.eval().asInstanceOf[Int]

  /** The k argument's checks, after the first argument's. */
  protected def checkK: TypeCheckResult = SizeArg.check(prettyName, "k", right, 2)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("v", LongType, nullable = false),
      StructField("w", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Buf = new Buf()

  override def merge(b1: Buf, b2: Buf): Buf = { b1.mergeIn(b2, kVal); b1 }

  override def eval(buf: Buf): Any = {
    val pairs = buf.weightedSorted
    new GenericArrayData(pairs.map { case (v, w) =>
      new GenericInternalRow(Array[Any](v, w)): Any
    })
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val sizes = buf.levels.map(_.length)
    val total = sizes.sum
    val bb = ByteBuffer.allocate(4 + 4 * buf.levels.length + 8 * total)
    bb.putInt(buf.levels.length)
    buf.levels.foreach { lvl =>
      bb.putInt(lvl.length)
      lvl.foreach(bb.putLong)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val nLevels = bb.getInt
    val buf = new Buf()
    var i = 0
    while (i < nLevels) {
      val n = bb.getInt
      val lvl = new scala.collection.mutable.ArrayBuffer[Long](n)
      var j = 0
      while (j < n) { lvl += bb.getLong; j += 1 }
      buf.levels += lvl
      i += 1
    }
    buf
  }
}

object MrlAgg {
  /** Level buffers: `levels(i)` holds values of weight 2^i, ≤ 2k each
    * between compactions. */
  final class Buf {
    val levels = new scala.collection.mutable.ArrayBuffer[
      scala.collection.mutable.ArrayBuffer[Long]]()

    /** Level `i`, creating the empty levels up to it. */
    def level(i: Int): scala.collection.mutable.ArrayBuffer[Long] = {
      while (levels.length <= i)
        levels += new scala.collection.mutable.ArrayBuffer[Long]()
      levels(i)
    }

    def add(v: Long, k: Int): Unit = { level(0) += v; compactFrom(0, k) }

    def mergeIn(other: Buf, k: Int): Unit = {
      var i = 0
      while (i < other.levels.length) {
        level(i) ++= other.levels(i)
        i += 1
      }
      compactFrom(0, k)
    }

    /** Compact every over-full level upward: sort, promote the odd
      * 0-based positions of an EVEN-length prefix (one value stays behind
      * when the count is odd — total weight is exactly preserved). */
    private def compactFrom(start: Int, k: Int): Unit = {
      var i = start
      while (i < levels.length) {
        val lvl = levels(i)
        if (lvl.length >= 2 * k) {
          val sorted = lvl.sorted
          val even = sorted.length & ~1
          val promoted = new scala.collection.mutable.ArrayBuffer[Long](even / 2)
          var j = 1
          while (j < even) { promoted += sorted(j); j += 2 }
          lvl.clear()
          if (even < sorted.length) lvl += sorted(sorted.length - 1)
          level(i + 1) ++= promoted
        }
        i += 1
      }
    }

    /** Total weight — equals the exact item count by the compaction
      * invariant. */
    def totalWeight: Long = {
      var w = 0L
      var i = 0
      while (i < levels.length) {
        w += levels(i).length.toLong << i
        i += 1
      }
      w
    }

    /** The summary as (value, weight) pairs sorted by value. */
    def weightedSorted: Array[(Long, Long)] = {
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var i = 0
      while (i < levels.length) {
        val w = 1L << i
        levels(i).foreach(v => out += ((v, w)))
        i += 1
      }
      out.sortBy(p => (p._1, p._2)).toArray
    }

    /** Estimated value at rank ⌈q·N⌉ (q in (0,1]): the first value whose
      * cumulative weight reaches the target. */
    def quantile(q: Double): Long = {
      val pairs = weightedSorted
      require(pairs.nonEmpty, "quantile of an empty sketch")
      val n = totalWeight
      val target = math.max(1L, math.ceil(q * n).toLong)
      var cum = 0L
      var i = 0
      while (i < pairs.length) {
        cum += pairs(i)._2
        if (cum >= target) return pairs(i)._1
        i += 1
      }
      pairs(pairs.length - 1)._1
    }
  }
}
