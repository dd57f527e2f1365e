package graft.exprs

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GetStructField, PlanExpression}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** `might_contain(bloomBytes, keyHash)` — probe side of the explicit
  * semi-join reduction (see `graft.functions.bloom_filter_agg`).
  *
  * Semantically identical to Spark's internal `BloomFilterMightContain`
  * (null sketch or null key -> null; no false negatives). Its generated
  * code is the shared template, which passes the key to the body without
  * a cast, so a key that constant-folds to a negative literal compiles
  * (Spark's own template casts it, and Janino reads `(Long)-123L` as a
  * subtraction and falls back to interpreted eval).
  *
  * The sketch argument must be a constant or a scalar subquery — the same
  * contract Spark's runtime-filter expression enforces — because the
  * filter is deserialized ONCE per expression instance (once per task
  * after serialization), not per row.
  */
case class GraftMightContain(left: Expression, right: Expression)
    extends StBinary[Array[Byte], Long]("might_contain", BooleanType) {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (!base.isSuccess) base
    else left match {
      case e if e.foldable => TypeCheckResult.TypeCheckSuccess
      case _: PlanExpression[_] => TypeCheckResult.TypeCheckSuccess
      case GetStructField(_: PlanExpression[_], _, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "the bloom filter argument of might_contain must be a constant or a scalar subquery")
    }
  }

  // the sketch is a constant, so its non-null bytes deserialize once
  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(left.eval(null).asInstanceOf[Array[Byte]]))

  protected def op(sketch: Array[Byte], key: Long): Any = bloom.mightContainLong(key)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): GraftMightContain =
    copy(left = l, right = r)
}
