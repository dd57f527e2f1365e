package graft.ops

import graft.SparkFixture
import graft.exprs.{StEnvelopeBoundsPoint, StEnvelopeBoundsRect}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 optimization pins.
  *
  * 1. `Par.fanOut` must never RUN a job to decide whether to widen:
  *    under AQE, `df.rdd` on a plan that already contains exchanges
  *    materializes every non-final query stage — a full wasted pass over
  *    the input (one orphaned 600k-row scan+shuffle job per spatial-join
  *    query before the fix). Given keys, the widen is a range exchange
  *    on them at the session width, decided the same job-free way.
  * 2. The envelope-of-constructor collapse
  *    (st_envelope_bounds(st_makeenvelope|st_point) →
  *    st_envelope_bounds_rect / _point) must be value-identical to the
  *    composed WKB round trip on every input on which the composed form
  *    is defined, including reversed corners and the NaN→empty-point
  *    convention.
  *
  * Inputs are repartitioned so the early LocalRelation batch cannot
  * constant-fold the composed form before the injected rule runs. */
class FanOutAndEnvelopeCollapseSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  /** Jobs `body` launches, counted after the listener bus drains. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftSparkShims.drainListenerBus(spark.sparkContext)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("fanOut widens a collapsed scan-like source") {
    val df = spark.range(0, 1000, 1, numPartitions = 2).toDF("id")
    val out = Par.fanOut(df)
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }

  test("fanOut on an exchange-bearing plan runs no job and adds no repartition") {
    val df = spark.range(0, 1000, 1, numPartitions = 2).toDF("id").repartition(4)
    // unkeyed and keyed alike
    Seq(Seq.empty, Seq(col("id"))).foreach { keys =>
      val (out, jobs) = jobsDuring(Par.fanOut(df, keys: _*))
      assert(jobs == 0,
        "fanOut materialized the input's exchanges as a job (the AQE .rdd trap)")
      assert(out eq df, s"already-widened plan must pass through untouched (keys $keys)")
    }
  }

  test("keyed fanOut range-partitions a collapsed source on its keys, deciding without a job") {
    val df = spark.range(0, 1000, 1, numPartitions = 2).toDF("id")
      .select((col("id") % 7).as("k1"), (col("id") % 3).as("k2"), col("id"))
    val (out, jobs) = jobsDuring(Par.fanOut(df, col("k1"), col("k2")))
    assert(jobs == 0, "the widen decision launched a job")
    val plan = Par.initialPhysical(out)
    plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning } match {
      case Seq(r: RangePartitioning) =>
        assert(r.numPartitions == spark.sparkContext.defaultParallelism, r)
        assert(r.ordering.map(_.child.asInstanceOf[Attribute].name) == Seq("k1", "k2"), r)
      case other => fail(s"expected one range exchange, got $other:\n$plan")
    }
  }

  private def bitEq(a: Row, b: Row): Boolean =
    (a == null && b == null) || (a != null && b != null && (0 to 3).forall(i =>
      java.lang.Double.doubleToLongBits(a.getDouble(i)) ==
        java.lang.Double.doubleToLongBits(b.getDouble(i))))

  test("collapsed rect bounds == composed WKB round trip on its defined domain") {
    val corners = Seq(
      (1.0, 2.0, 3.0, 4.0),          // normal corners
      (3.0, 4.0, 1.0, 2.0),          // reversed corners (JTS normalizes)
      (5.0, 5.0, 5.0, 5.0),          // degenerate point-rectangle
      (-1.5e7, -8.2e6, 2.3e3, 9.9e6) // planet-scale magnitudes
    )
    val df = corners.toDF("x0", "y0", "x1", "y1").repartition(2)
    val got = df.selectExpr(
        "x0", "st_envelope_bounds(st_makeenvelope(x0, y0, x1, y1)) AS env")
      .collect().map(r => r.getDouble(0) -> r.getStruct(1)).toMap
    corners.foreach { case (x0, y0, x1, y1) =>
      // composed-path replay straight through the WKB codec
      val e = graft.geom.Geom.fromWkb(
        graft.geom.Geom.envelopeWkb(x0, y0, x1, y1)).getEnvelopeInternal
      val want = Row(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
      assert(bitEq(got(x0), want), s"corners ($x0,$y0,$x1,$y1): ${got(x0)} != $want")
    }
  }

  test("collapsed rect bounds refine the NaN crash; NULL in stays NULL out") {
    val df = Seq[(java.lang.Double, java.lang.Double, java.lang.Double, java.lang.Double)](
      (Double.NaN, 2.0, 3.0, 4.0), (null, 2.0, 3.0, 4.0))
      .toDF("x0", "y0", "x1", "y1").repartition(2)
    val out = df.selectExpr("st_envelope_bounds(st_makeenvelope(x0, y0, x1, y1)) AS env")
      .collect().map(r => if (r.isNullAt(0)) null else r.getStruct(0))
    // composed path throws here (WKB ring closure fails on NaN != NaN);
    // the collapse refines that crash into the JTS envelope fold
    val nanRow = out.find(_ != null).get
    assert(java.lang.Double.isNaN(nanRow.getDouble(0)) && nanRow.getDouble(1) == 2.0)
    assert(out.count(_ == null) == 1, "NULL corner must still yield NULL bounds")
  }

  test("point envelope collapse: (x,y,x,y), NaN ordinate -> NULL (WKB empty point)") {
    val df = Seq((2.5, -3.5), (Double.NaN, 1.0), (1.0, Double.NaN))
      .toDF("x", "y").repartition(2)
    val got = df.selectExpr("x", "st_envelope_bounds(st_point(x, y)) AS env")
      .collect().map(r => r.getDouble(0) -> (if (r.isNullAt(1)) null else r.getStruct(1)))
    got.foreach {
      case (2.5, s) => assert(bitEq(s, Row(2.5, -3.5, 2.5, -3.5)))
      case (_, s) => assert(s == null,
        "a NaN ordinate reads back as POINT EMPTY in WKB, so bounds must be NULL")
    }
  }

  test("the collapse fires in the optimized plan and strips the WKB round trip from filters") {
    val df = spark.range(2).selectExpr("cast(id as double) AS x", "cast(id + 1 as double) AS y")
      .selectExpr("st_envelope_bounds(st_makeenvelope(x, y, x + 1.0, y + 1.0)) AS env")
      .filter(col("env").getField("xmin") <= lit(100.0))
    val opt = df.queryExecution.optimizedPlan
    val hasRect = opt.expressions.exists(_.exists(_.isInstanceOf[StEnvelopeBoundsRect]))
    assert(hasRect, s"expected StEnvelopeBoundsRect in:\n$opt")
    val stillComposed = opt.exists(_.expressions.exists(_.exists {
      case graft.exprs.StEnvelopeBounds(c) => c.isInstanceOf[graft.exprs.StMakeEnvelope]
      case _ => false
    }))
    assert(!stillComposed, s"composed envelope-of-makeenvelope survived optimization:\n$opt")
    // inferred isnotnull constraints must not hold the rect fold (they
    // rewrite to the corner arguments and stay codegen-able)
    val isNotNullOnRect = opt.exists(_.expressions.exists(_.exists {
      case org.apache.spark.sql.catalyst.expressions.IsNotNull(c) =>
        c.exists(e => e.isInstanceOf[StEnvelopeBoundsRect] ||
          e.isInstanceOf[StEnvelopeBoundsPoint])
      case _ => false
    }))
    assert(!isNotNullOnRect, s"isnotnull still wraps the rect fold:\n$opt")
  }
}
