package graft.exprs

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** TopKAgg laws: exactness vs a window-sorted model (under arbitrary
  * partitioning — partial buffers prune early, which must never change
  * the answer), the deterministic tie order, and the SQL-text surface. */
class TopKAggSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("topk_agg matches the sort model under many-partition partials") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 1000 (group, key, score) rows over 4 groups and intentional ties
    val rows = (0 until 1000).map { i =>
      (i % 4, (i * 37 % 100).toLong, (i % 7).toLong)
    }
    val df = rows.toDF("g", "key", "score")
      .groupBy($"g", $"key").agg(sum($"score").as("s"))
      .repartition(32) // force many partial buffers below 2k occupancy
    val got = df.groupBy($"g")
      .agg(graft.functions.topk_agg($"key", $"s", 3).as("topk"))
      .select($"g", posexplode($"topk"))
      .select($"g", $"pos", $"col.key".as("key"), $"col.score".as("s"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    val model = rows.groupBy(r => (r._1, r._2)).view
      .mapValues(_.map(_._3).sum).toSeq
      .map { case ((g, k), s) => (g, k, s) }
      .groupBy(_._1).flatMap { case (g, grp) =>
        grp.sortBy(t => (-t._3, t._2)).take(3).zipWithIndex
          .map { case ((_, k, s), i) => (g, i, k, s) }
      }.toSet
    assert(got == model)
  }

  test("ties break by smaller key, k truncates, empty group yields empty array") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, 5L), (3L, 5L), (2L, 5L), (4L, 1L)).toDF("key", "score")
    val out = df.agg(graft.functions.topk_agg($"key", $"score", 2).as("t"))
      .select(explode($"t")).select($"col.key").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L))
    val empty = df.filter($"score" > 100L)
      .agg(graft.functions.topk_agg($"key", $"score", 2).as("t"))
      .select(size($"t")).as[Int].head()
    assert(empty == 0)
  }

  test("SQL-text surface: topk_agg(key, score, k) in spark.sql") {
    spark.range(10).createOrReplaceTempView("tk_in")
    try {
      val got = spark.sql(
        """SELECT t.key AS k FROM (
          |  SELECT explode(topk_agg(id, id * id, 3)) AS t FROM tk_in)""".stripMargin)
        .collect().map(_.getLong(0)).toSeq
      assert(got == Seq(9L, 8L, 7L))
    } finally spark.catalog.dropTempView("tk_in")
  }
}
