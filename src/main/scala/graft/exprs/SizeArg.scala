package graft.exprs

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.IntegerType

/** The analysis check for a size argument (a sketch's k, a bitmap's
  * universe, an n-gram length): an INT literal in `[min, max]`. The
  * error names the function, the argument and the range. */
private[exprs] object SizeArg {
  def check(function: String, name: String, e: Expression, min: Int,
            max: Int = Int.MaxValue): TypeCheckResult = {
    val ok = e.dataType == IntegerType && e.foldable && (e.eval() match {
      case v: Int => v >= min && v <= max
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else {
      val range = if (max == Int.MaxValue) s">= $min" else s"in [$min, $max]"
      TypeCheckResult.TypeCheckFailure(
        s"$function $name must be an INT literal $range, got ${e.sql}")
    }
  }
}
