package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `spark.sql.extensions`-style injection of the graft SQL surface — the
  * exact mechanism the reference uses to get Sedona's `ST_*` into SQL
  * (reference: airflow_dag/dag_geo_pipeline.py:20 sets
  * `spark.sql.extensions=org.apache.sedona.sql.SedonaSqlExtensions`).
  *
  * Usage: [[Session.local]], or
  * `.config("spark.sql.extensions", "graft.GraftSparkExtensions")` at
  * session build. Every entry of the one SQL function table,
  * `functions.sqlFunctions`, is then resolvable in SQL text on any session
  * of that context, with no per-session call. It is the one installer:
  * it also installs the two optimizer rules (`CollapseStTransforms`,
  * `CollapseEnvelopeBounds`), the spatial-join planner strategy and the
  * `graft_series` table function.
  *
  * It also sizes Spark's generated-class cache to graft's own inventory:
  * `spark.sql.codegen.cache.maxEntries` becomes
  * `Bridge.CodegenCacheEntries` (4096) on the context's conf unless it is
  * already set, so a user value wins. At Spark's default of 100, a pass
  * of the benchmark's six read queries (120 generated classes)
  * recompiled a large share of them every time it ran. The size is a
  * static conf that `CodeGenerator` reads once per JVM, at its first
  * use: a JVM whose first codegen ran under a session built without this
  * extension keeps 100, and on a cluster each executor sizes its own
  * cache from its own conf.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    org.apache.spark.sql.graftbridge.Bridge.sizeCodegenCache()
    // optimizer rule: fuse chained st_transform calls (SURVEY §7.5)
    ext.injectOptimizerRule(_ => graft.plans.CollapseStTransforms)
    ext.injectOptimizerRule(_ => graft.plans.CollapseEnvelopeBounds)
    // planner strategy: st_intersects join conditions plan as a broadcast
    // R-tree join instead of BroadcastNestedLoopJoin (SURVEY §2.3)
    ext.injectPlannerStrategy(_ => graft.plans.SpatialJoinStrategy)

    // table-valued function rung: graft_series(start, end[, step]) is a
    // SQL-surface dense-axis generator that plans DIRECTLY as the catalyst
    // Range node (splittable, no data source, closed-form statistics — the
    // same node `SELECT * FROM range(...)` plans to). The builder runs at
    // resolution time, so argument validation surfaces as analysis errors.
    // This is the fourth injection mechanism the engine exercises
    // (function / optimizer rule / planner strategy / table function).
    ext.injectTableFunction((
      FunctionIdentifier("graft_series"),
      new ExpressionInfo("graft.GraftSparkExtensions", "graft_series"),
      (es: Seq[Expression]) => {
        def longArg(e: Expression, what: String): Long = {
          require(e.foldable && e.eval() != null,
            s"graft_series: $what must be a non-null integer literal")
          e.eval() match {
            case i: java.lang.Integer => i.longValue()
            case l: java.lang.Long => l.longValue()
            case s: java.lang.Short => s.longValue()
            case b: java.lang.Byte => b.longValue()
            case other => throw new IllegalArgumentException(
              s"graft_series: $what must be integral, got $other")
          }
        }
        val (start, end, step) = es match {
          case Seq(a, b) => (longArg(a, "start"), longArg(b, "end"), 1L)
          case Seq(a, b, c) =>
            (longArg(a, "start"), longArg(b, "end"), longArg(c, "step"))
          case _ => throw new IllegalArgumentException(
            s"graft_series takes (start, end[, step]); got ${es.length} arguments")
        }
        require(step != 0, "graft_series: step must be non-zero")
        org.apache.spark.sql.catalyst.plans.logical.Range(start, end, step, None)
      }))

    graft.functions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, null, "", "", "", "", "", "", "scala_udf"),
        builder))
    }
  }
}
