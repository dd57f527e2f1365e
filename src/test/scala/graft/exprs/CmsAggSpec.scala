package graft.exprs

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** CmsAgg/CmsEstimate laws: the one-sided error guarantee (estimate >=
  * true count, never under) under many-partition partial merges, the
  * conservation law (every sketch row sums to the stream length), the
  * empty-stream sketch, and the SQL-text surface. */
class CmsAggSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def keyOf(i: Int): String = s"key_${i % 97}"

  test("estimate >= exact for every key, row sums == N, under 32-partition partials") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 5000 rows over 97 distinct keys with skewed counts
    val rows = (0 until 5000).map(i => keyOf(i * i + i))
    val df = rows.toDF("k").repartition(32)
    val sketch = df.agg(graft.functions.cms_agg($"k").as("sk"))
      .head.getSeq[Long](0)
    assert(sketch.length == CmsKernel.Cells)
    // conservation: each of the 4 rows holds every stream element exactly once
    (0 until CmsKernel.Depth).foreach { j =>
      val rowSum = sketch.slice(j * CmsKernel.Width, (j + 1) * CmsKernel.Width).sum
      assert(rowSum == rows.length, s"row $j sums to $rowSum, want ${rows.length}")
    }
    // one-sided error: estimate >= exact, for present AND absent keys
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def estimate(key: String): Long = {
      val h = CmsKernel.keyHash(key)
      (0 until CmsKernel.Depth)
        .map(j => sketch(j * CmsKernel.Width + CmsKernel.bucket(h, j))).min
    }
    exact.foreach { case (k, n) =>
      assert(estimate(k) >= n, s"under-count for $k: ${estimate(k)} < $n")
    }
    assert(estimate("never_seen_key") >= 0L)
  }

  test("empty stream yields the all-zero sketch; estimates are 0") {
    import spark.implicits._
    val sketch = Seq.empty[String].toDF("k")
      .agg(graft.functions.cms_agg($"k").as("sk"))
      .head.getSeq[Long](0)
    assert(sketch.length == CmsKernel.Cells && sketch.forall(_ == 0L))
  }

  test("SQL-text surface: cms_agg in a scalar subquery probed by cms_estimate") {
    import spark.implicits._
    Seq("a", "b", "a", "c", "a", "b").toDF("k").createOrReplaceTempView("cms_in")
    val got = spark.sql(
      """SELECT k, cms_estimate((SELECT cms_agg(k) FROM cms_in), k) AS est
        |FROM (SELECT DISTINCT k FROM cms_in) ORDER BY k""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // 3 keys in 1024 cells: no all-rows collision, estimates are exact
    assert(got == Seq(("a", 3L), ("b", 2L), ("c", 1L)))
    spark.catalog.dropTempView("cms_in")
  }

  test("misuse fails loudly: wrong-sized sketch and non-BMP key raise clear SparkThrowables") {
    import spark.implicits._
    // wrong-sized sketch: any ARRAY<BIGINT> type-checks, so the size
    // contract must surface as a query error, not a bare require
    val eSize = intercept[Exception] {
      spark.sql("SELECT cms_estimate(array(1L, 2L, 3L), 'k')").collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(eSize).exists(c => c.isInstanceOf[org.apache.spark.SparkThrowable] &&
      c.getMessage.contains("1024-cell")), s"got: $eSize")
    // non-BMP key: the replayable-hash contract rejects supplementary chars
    val eKey = intercept[Exception] {
      Seq("ok", "😀").toDF("k")
        .agg(graft.functions.cms_agg($"k")).collect()
    }
    assert(chain(eKey).exists(c => c.isInstanceOf[org.apache.spark.SparkThrowable] &&
      c.getMessage.contains("Basic-Multilingual-Plane")), s"got: $eKey")
  }
}
