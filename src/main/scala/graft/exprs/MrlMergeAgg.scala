package graft.exprs

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** MRL quantile-summary RE-aggregation: `mrl_merge_agg(sketch, k)` folds
  * STORED [[MrlAgg]] sketch columns (value-sorted `array<struct<v,w>>`)
  * into a summary of their combined stream — the quantile member of the
  * "sketch once, roll up anywhere" family next to [[KmvMergeAgg]].
  *
  * Reconstruction device: an MrlAgg output carries its level structure
  * in the WEIGHTS — every weight is 2^i for the level the value sits at
  * — so each (v, w) pair re-enters level log₂(w) exactly, and merging is
  * [[MrlAgg.Buf.mergeIn]]'s level-wise concatenation + compaction, the
  * identical mergeable-summaries path partial aggregation takes. A
  * non-power-of-two weight fails loudly (not an MrlAgg output).
  *
  * Unlike KMV, merge is NOT bit-equal to rebuild — the deterministic
  * N·L/(2k) rank bound is the contract (it survives any merge tree,
  * Agarwal et al. 2013), so consumers gate results through the
  * rank-window audit (`q_quantile_reagg`), never through value equality.
  * State stays O(k·log(N/k)) longs; map-side partials apply. */
case class MrlMergeAgg(
    left: Expression,   // sketch: ARRAY<STRUCT<v BIGINT, w BIGINT>>
    right: Expression,  // k: INT literal (foldable)
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends MrlSketch {

  override def prettyName: String = "mrl_merge_agg"

  private def isSketchType(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(fields), _) =>
      fields.length == 2 && fields(0).dataType == LongType &&
        fields(1).dataType == LongType
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!isSketchType(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (ARRAY<STRUCT<BIGINT,BIGINT>> sketch, INT k), " +
          s"got ${left.dataType.sql}")
    else checkK

  override def update(buf: Buf, input: InternalRow): Buf = {
    val raw = left.eval(input)
    if (raw != null) {
      val arr = raw.asInstanceOf[ArrayData]
      val tmp = new Buf()
      var i = 0
      while (i < arr.numElements()) {
        val p = arr.getStruct(i, 2)
        val v = p.getLong(0)
        val w = p.getLong(1)
        if (w <= 0L || (w & (w - 1L)) != 0L)
          throw new IllegalArgumentException(
            s"mrl_merge_agg: weight $w is not a power of two — not an MrlAgg output")
        tmp.level(java.lang.Long.numberOfTrailingZeros(w)) += v
        i += 1
      }
      buf.mergeIn(tmp, kVal)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MrlMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MrlMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MrlMergeAgg =
    copy(left = l, right = r)
}
