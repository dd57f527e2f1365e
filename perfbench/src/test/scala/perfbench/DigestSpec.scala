package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("k", IntegerType), StructField("v", DoubleType),
    StructField("tags", ArrayType(StringType))))
  private val rows = Array(
    Row(1, 0.5, Seq("a", "b")), Row(2, null, Seq.empty[String]), Row(3, 1.0 / 3, Seq("c")))

  test("digest ignores row order") {
    assert(Digest.of(schema, rows) == Digest.of(schema, rows.reverse))
    assert(Digest.of(schema, rows) == Digest.of(schema, Array(rows(1), rows(2), rows(0))))
  }

  test("digest changes with any value, a duplicated row or the schema") {
    val base = Digest.of(schema, rows)
    assert(Digest.of(schema, rows.updated(0, Row(1, 0.25, Seq("a", "b")))) != base)
    assert(Digest.of(schema, rows.updated(0, Row(1, 0.5, Seq("b", "a")))) != base)
    assert(Digest.of(schema, rows :+ rows(0)) != base)
    assert(Digest.of(StructType(schema.fields.reverse), rows) != base)
  }

  test("doubles compare to 12 significant digits") {
    val close = rows.updated(2, Row(3, (1.0 / 3) * (1 + 1e-14), Seq("c")))
    assert(close(2).getDouble(1) != rows(2).getDouble(1))
    assert(Digest.of(schema, close) == Digest.of(schema, rows))
  }
}
