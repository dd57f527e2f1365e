package graft.exprs

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** KMV sketch RE-aggregation: `kmv_merge_agg(sketch, k)` folds STORED
  * [[KmvAgg]] sketches (sorted `array<bigint>` columns) into the sketch
  * of their union — the "sketch once, roll up anywhere" device
  * (ClickHouse AggregatingMergeTree / Druid sketch columns): a daily
  * cube keeps one k-long sketch per cell, and every coarser rollup
  * (weekly, per-type, global) merges the STORED sketches without ever
  * re-touching raw data.
  *
  * Correctness law (the mergeable-summaries property, Agarwal et al.
  * 2012): the k smallest distinct hashes of A ∪ B are contained in
  * sketch(A) ∪ sketch(B), so merge(sketch(A), sketch(B)) ==
  * sketch(A ∪ B) EXACTLY — property-tested against [[KmvAgg]] over raw
  * data in `KmvAggProps`. Input sketches must be KmvAgg outputs (sorted,
  * distinct, non-negative, length ≤ k with the SAME k); a longer array
  * fails loudly — merging a k'=128 sketch into a k=64 rollup would
  * silently produce a valid-looking but differently-biased estimate.
  *
  * Scale shape: state is the same ≤ k longs as KmvAgg; map-side partials
  * apply, so re-aggregating a trillion-cell cube ships |groups|·k longs. */
case class KmvMergeAgg(
    left: Expression,   // sketch: ARRAY<BIGINT> (a KmvAgg output)
    right: Expression,  // k: INT literal (foldable)
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends KmvSketch {

  override def prettyName: String = "kmv_merge_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    left.dataType match {
      case ArrayType(LongType, _) => checkK
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (ARRAY<BIGINT> sketch, INT k), got " +
            s"(${other.sql}, ${right.dataType.sql})")
    }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = left.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() > kVal)
        throw new IllegalArgumentException(
          s"kmv_merge_agg: input sketch has ${arr.numElements()} values > k=$kVal " +
            "— sketches must be built with the same k they are merged at")
      var i = 0
      while (i < arr.numElements()) {
        val h = arr.getLong(i)
        if (h < 0L)
          throw new IllegalArgumentException(
            s"kmv_merge_agg: negative hash $h in input sketch — not a KmvAgg output")
        add(buf, h)
        i += 1
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KmvMergeAgg =
    copy(left = newLeft, right = newRight)
}
