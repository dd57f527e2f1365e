package graft.exprs

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** The two properties that DEFINE a Hilbert curve (and catch every known
  * variant/rotation bug in the bit transform): the map is a bijection
  * onto [0, n²), and consecutive indices are always 4-neighbor adjacent
  * cells — the property Morton/Z-order lacks and the whole reason the
  * layout prefers Hilbert. Plus the executed round trip both ways. */
class HilbertSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("hilbert_index is a bijection and consecutive indices are grid-adjacent (16x16)") {
    val rows = spark.sql(
      """SELECT d, hilbert_xy(16L, d).x AS x, hilbert_xy(16L, d).y AS y,
        |       hilbert_index(16L, hilbert_xy(16L, d).x, hilbert_xy(16L, d).y) AS back
        |FROM (SELECT explode(sequence(0L, 255L)) AS d)
        |ORDER BY d""".stripMargin).collect()
    assert(rows.length == 256)
    // bijection: d2xy covers every cell exactly once, and xy2d inverts it
    val cells = rows.map(r => (r.getLong(1), r.getLong(2)))
    assert(cells.toSet.size == 256)
    rows.foreach(r => assert(r.getLong(3) == r.getLong(0), s"round trip at d=${r.getLong(0)}"))
    // unit-step adjacency along the whole curve
    cells.sliding(2).foreach { case Array((x0, y0), (x1, y1)) =>
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1,
        s"non-adjacent step ($x0,$y0) -> ($x1,$y1)")
    }
  }

  test("out-of-grid and non-power-of-two inputs are loud errors, null is null") {
    val e1 = intercept[Exception] {
      spark.sql("SELECT hilbert_index(16L, 16L, 0L)").collect()
    }
    assert(e1.getMessage.contains("outside") || e1.getCause != null)
    val e2 = intercept[Exception] {
      spark.sql("SELECT hilbert_index(12L, 1L, 1L)").collect()
    }
    assert(e2.getMessage.contains("power of two") || e2.getCause != null)
    val r = spark.sql("SELECT hilbert_index(16L, CAST(NULL AS BIGINT), 0L)").head()
    assert(r.isNullAt(0))
  }

  test("grids beyond 2^31 are rejected loudly instead of overflowing Long (ADVICE r14)") {
    // n = 2^32: n*n overflows Long, so the old bounds check rejected all
    // VALID indices with a misleading message and xy2d's s*s*3 walk would
    // overflow silently; the contract is a clear grid-size error instead
    val e = intercept[Exception] {
      spark.sql(s"SELECT hilbert_xy(${1L << 32}L, 0L)").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("2^31")), msgs(e).mkString(" | "))
    // the largest legal grid still works at the far corner
    val n = 1L << 31
    val d = spark.sql(s"SELECT hilbert_index(${n}L, ${n - 1}L, ${n - 1}L)").head().getLong(0)
    val back = spark.sql(s"SELECT hilbert_xy(${n}L, ${d}L) AS p").selectExpr("p.x", "p.y").head()
    assert(back.getLong(0) == n - 1 && back.getLong(1) == n - 1)
  }
}
