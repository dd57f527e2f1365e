package graft.ops

import graft.SparkFixture
import graft.SparkFixture.withConf
import graft.functions.st_point
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-collect guards on the kNN operators: an
  * oversized build side (or a pathological gridKnn cellSize) must fail
  * loudly naming the partitioned alternative, never OOM the driver. */
class SpatialJoinGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def pts(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).toDF("id")
      .withColumn("g", st_point(col("id").cast("double"), col("id").cast("double")))
  }

  test("broadcastKnn rejects an over-cap build side, naming gridKnn") {
    withConf("graft.spatial.maxBuildRows", "2") {
      val e = intercept[IllegalStateException](
        SpatialJoin.broadcastKnn(pts(1), pts(3), "g", "g", k = 1).collect())
      assert(e.getMessage.contains("gridKnn"))
      assert(e.getMessage.contains("maxBuildRows"))
    }
  }

  test("broadcast byte cap fires on an oversized geometry payload") {
    withConf("graft.spatial.maxBuildBytes", "16") {
      val e = intercept[IllegalStateException](
        SpatialJoin.broadcastKnn(pts(1), pts(3), "g", "g", k = 1).collect())
      assert(e.getMessage.contains("maxBuildBytes"))
    }
  }

  test("under-cap build sides still work (guard is not a behavior change)") {
    withConf("graft.spatial.maxBuildRows", "10") {
      // identical point sets: each left point's nearest is its twin
      assert(SpatialJoin.broadcastKnn(pts(3), pts(3), "g", "g", k = 1).count() == 3)
    }
  }

  test("gridKnn rejects a histogram over the occupied-cell cap, naming cellSize") {
    withConf("graft.spatial.maxOccupiedCells", "2") {
      // 5 points, cellSize 1.0 => 5 occupied cells > cap 2
      val e = intercept[IllegalStateException](
        SpatialJoin.gridKnn(pts(2), pts(5), "g", "g", k = 1, cellSize = 1.0).collect())
      assert(e.getMessage.contains("cellSize"))
      assert(e.getMessage.contains("maxOccupiedCells"))
    }
  }

  test("gridKnn under the cell cap matches broadcastKnn on the same input") {
    val l = pts(4)
    val r = pts(6).withColumnRenamed("id", "rid").withColumnRenamed("g", "rg")
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1))).sorted
    val a = pairs(SpatialJoin.gridKnn(l, r, "g", "rg", k = 1, cellSize = 100.0,
      outputCols = Seq("id", "rid")))
    val b = pairs(SpatialJoin.broadcastKnn(l, r, "g", "rg", k = 1,
      outputCols = Seq("id", "rid")))
    assert(a.sameElements(b))
  }
}
