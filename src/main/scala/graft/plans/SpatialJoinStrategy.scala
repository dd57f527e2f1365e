package graft.plans

import graft.exprs.{StDWithin, StIntersects}
import graft.geom.Geom
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf
import org.locationtech.jts.geom.Envelope
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree
import scala.jdk.CollectionConverters._

/** Planner strategy for spatial joins (SURVEY.md §2.3 stretch operator,
  * realized at tier (c) of the extension ladder: LogicalPlan pattern →
  * SparkStrategy → custom SparkPlan).
  *
  * Catalyst cannot know `st_intersects` / `st_dwithin` are
  * index-accelerable: a plain `left.join(right, st_intersects(lg, rg))`
  * is a non-equi join and planks down to BroadcastNestedLoopJoin —
  * O(|L|·|R|) full geometry tests. This strategy recognizes those exact
  * logical shapes and plans [[BroadcastRTreeSpatialJoinExec]] instead:
  * the broadcast-hinted (or stats-small) side becomes a per-partition JTS
  * STRtree, each probe row touches only envelope-overlapping candidates
  * (for `st_dwithin(a, b, d)` the probe envelope is expanded by `d`
  * before the index query, then the exact distance test filters), and
  * exact predicates run against PreparedGeometry. The big side never
  * shuffles — the same distribution shape as Spark's own broadcast hash
  * join, which is what survives a 100 TB probe side.
  *
  * Falls through (Nil) whenever the shape doesn't match — inner joins
  * only, with a clearly broadcastable build side, and (for dwithin) a
  * foldable distance — leaving Spark's default planning untouched.
  */
object SpatialJoinStrategy extends SparkStrategy {

  private def wantsBroadcast(h: Option[HintInfo]): Boolean =
    h.exists(_.strategy.contains(BROADCAST))

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Join(left, right, Inner, Some(StIntersects(a, b)), hint) =>
      planSpatial(left, right, a, b, hint.leftHint, hint.rightHint, distance = None)
    case Join(left, right, Inner, Some(StDWithin(a, b, d)), hint) if distPlannable(d) =>
      planSpatial(left, right, a, b, hint.leftHint, hint.rightHint,
        distance = Some(d))
    // spatial filtering: LEFT SEMI preserves (and streams) the left side,
    // so only the build-right orientation is valid — the broadcast R-tree
    // answers "does ANY right geometry match" per left row
    case Join(left, right, LeftSemi, Some(StIntersects(a, b)), hint) =>
      planSpatial(left, right, a, b, hint.leftHint, hint.rightHint,
        distance = None, semi = true)
    case Join(left, right, LeftSemi, Some(StDWithin(a, b, d)), hint) if distPlannable(d) =>
      planSpatial(left, right, a, b, hint.leftHint, hint.rightHint,
        distance = Some(d), semi = true)
    case _ => Nil
  }

  /** A distance expression the R-tree plan can honor: a non-negative
    * foldable value (negative is degenerate — constant-false for disjoint
    * geometries — left to default planning), or a non-foldable PER-ROW
    * expression (reference-class engines accept a distance column —
    * Sedona's ST_DWithin join does); whether its references sit on the
    * probe side is orientation-dependent, checked in planSpatial. */
  private def distPlannable(d: Expression): Boolean =
    if (!d.foldable) true
    else d.eval(null) match {
      case dist: java.lang.Double => dist >= 0.0
      case _ => false
    }

  private def planSpatial(
      left: LogicalPlan, right: LogicalPlan,
      a: Expression, b: Expression,
      leftHint: Option[HintInfo], rightHint: Option[HintInfo],
      distance: Option[Expression], semi: Boolean = false): Seq[SparkPlan] = {
    // orient the two geometry expressions to the children they reference
    val oriented: Option[(Expression, Expression)] =
      if (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet))
        Some((a, b))
      else if (b.references.subsetOf(left.outputSet) && a.references.subsetOf(right.outputSet))
        Some((b, a))
      else None
    oriented match {
      case Some((leftGeom, rightGeom)) =>
        val threshold = SQLConf.get.autoBroadcastJoinThreshold
        def small(p: LogicalPlan): Boolean =
          threshold >= 0 && p.stats.sizeInBytes <= threshold
        // a non-foldable distance is evaluated per PROBE row, so it must
        // be computable from the stream side alone for that orientation
        def distOk(streamSide: LogicalPlan): Boolean = distance.forall(d =>
          d.foldable || d.references.subsetOf(streamSide.outputSet))
        // semi mode supports ONLY build-right, so a left-side broadcast
        // hint (un-honorable there) must not suppress the one valid plan
        if (distOk(left) && (wantsBroadcast(rightHint) ||
            ((semi || !wantsBroadcast(leftHint)) && small(right))))
          BroadcastRTreeSpatialJoinExec(
            planLater(left), planLater(right), leftGeom, rightGeom,
            buildLeft = false, distance, semi) :: Nil
        else if (!semi && distOk(right) && (wantsBroadcast(leftHint) || small(left)))
          BroadcastRTreeSpatialJoinExec(
            planLater(left), planLater(right), leftGeom, rightGeom,
            buildLeft = true, distance) :: Nil
        else if (!semi)
          // stats-driven routing: NEITHER side fits under
          // autoBroadcastJoinThreshold (the same size-in-bytes signal
          // Spark's own broadcast selection reads) — rewrite the matched
          // join to the grid-partitioned equi-join decomposition instead
          // of falling through to BroadcastNestedLoopJoin. At 100 TB this
          // is the difference between a plan that runs and one that
          // collects a terabyte to the driver (or O(|L|·|R|) probes).
          distance match {
            case None => gridRewrite(left, right, leftGeom, rightGeom)
            case Some(d) if d.foldable || d.references.subsetOf(left.outputSet) =>
              gridRewriteDWithin(left, right, leftGeom, rightGeom, d,
                origOutput = left.output ++ right.output)
            case Some(d) if d.references.subsetOf(right.outputSet) =>
              // expand the side that carries the distance: same
              // decomposition with the roles swapped (st_dwithin is
              // symmetric); output order restored by the projection
              gridRewriteDWithin(right, left, rightGeom, leftGeom, d,
                origOutput = left.output ++ right.output)
            case _ => Nil
          }
        else Nil // no valid orientation: fall back to default planning
      case None => Nil
    }
  }

  /** Grid pitch (geometry units) for the stats-routed partitioned plan;
    * size near the typical geometry extent. */
  private def cellSizeConf: Double =
    SQLConf.get.getConfString("graft.spatial.grid.cellSize", "25000.0").toDouble

  /** Rewrite `Join(l, r, Inner, st_intersects(lg, rg))` into the
    * grid-partitioned decomposition ([[graft.ops.SpatialJoin
    * .gridIntersects]]: explode both sides to covering cells, ONE hash
    * equi join on the cell id, envelope prune, exact predicate,
    * reference-point dedup) and hand the re-analyzed subtree back to the
    * planner via `planLater`. The matched children keep their exprIds
    * through `Bridge.ofRows`, and the final projection selects exactly
    * `left.output ++ right.output`, so the rewritten subtree slots into
    * the surrounding (already optimized) plan unchanged. The rewritten
    * join's condition is a conjunction — not a bare StIntersects — so
    * this strategy cannot re-match it (no recursion). */
  private def gridRewrite(left: LogicalPlan, right: LogicalPlan,
                          leftGeom: Expression, rightGeom: Expression): Seq[SparkPlan] = {
    import org.apache.spark.sql.graftbridge.Bridge
    val spark = org.apache.spark.sql.SparkSession.active
    val rewritten = graft.ops.SpatialJoin.gridIntersects(
      Bridge.ofRows(spark, left), Bridge.ofRows(spark, right),
      Bridge.column(leftGeom), Bridge.column(rightGeom),
      cellSizeConf,
      (left.output ++ right.output).map(a => Bridge.column(a)))
    planLater(rewritten.queryExecution.analyzed) :: Nil
  }

  /** Same routing for `st_dwithin`: the side carrying the distance
    * expression becomes the expanded (cell-cover-by-d) side of
    * [[graft.ops.SpatialJoin.gridDWithin]]; `origOutput` restores the
    * matched join's left-then-right attribute order regardless of which
    * side was expanded. */
  private def gridRewriteDWithin(expandSide: LogicalPlan, otherSide: LogicalPlan,
                                 expandGeom: Expression, otherGeom: Expression,
                                 dist: Expression,
                                 origOutput: Seq[Attribute]): Seq[SparkPlan] = {
    import org.apache.spark.sql.graftbridge.Bridge
    val spark = org.apache.spark.sql.SparkSession.active
    val rewritten = graft.ops.SpatialJoin.gridDWithin(
      Bridge.ofRows(spark, expandSide), Bridge.ofRows(spark, otherSide),
      Bridge.column(expandGeom), Bridge.column(otherGeom),
      Bridge.column(dist), cellSizeConf,
      origOutput.map(a => Bridge.column(a)))
    planLater(rewritten.queryExecution.analyzed) :: Nil
  }
}

/** Broadcast R-tree spatial inner/semi join: collects the build side,
  * ships it as WKB + rows, builds one STRtree per probe partition (25-row
  * dimension → microseconds), and streams the probe side through envelope
  * queries + PreparedGeometry predicates. `distance = None` joins on
  * intersects; `Some(d)` joins on distance <= d (envelope expanded by d
  * for the index query, exact JTS distance as the post-filter). The
  * distance may be NON-FOLDABLE — a per-probe-row expression over the
  * stream side (Sedona's ST_DWithin join accepts a distance column the
  * same way): each probe row evaluates its own d, expands its own query
  * envelope by it, and a NULL or negative per-row d matches nothing
  * (SQL NULL-predicate / PostGIS negative-distance semantics). Inner
  * output is `left.output ++ right.output`, like Spark's join execs;
  * `semi = true` (always build-right) emits each left row at most once,
  * short-circuiting on the first matching build geometry. Everything
  * stays at the InternalRow level (no external Row round-trip). */
case class BroadcastRTreeSpatialJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftGeom: Expression, rightGeom: Expression,
    buildLeft: Boolean, distance: Option[Expression] = None,
    semi: Boolean = false) extends SparkPlan {

  require(!semi || !buildLeft, "semi mode streams (and preserves) the left side")
  // the predicate's prepared-intersects short-circuit (distance 0 implies
  // intersects) is only equivalence-preserving for d >= 0; the strategy
  // guards this at planning, this guards direct construction (per-row
  // negative distances are handled row-by-row — they match nothing)
  require(distance.forall(d => !d.foldable || (d.eval(null) match {
    case dd: java.lang.Double => dd >= 0.0
    case _ => false
  })), s"foldable distance must be non-negative, got $distance")

  override def output: Seq[Attribute] =
    if (semi) left.output else left.output ++ right.output
  override def children: Seq[SparkPlan] = Seq(left, right)
  override protected def withNewChildrenInternal(c: IndexedSeq[SparkPlan]): SparkPlan =
    copy(left = c(0), right = c(1))
  override def outputPartitioning =
    (if (buildLeft) right else left).outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val (buildPlan, streamPlan) = if (buildLeft) (left, right) else (right, left)
    val (buildGeom, streamGeom) = if (buildLeft) (leftGeom, rightGeom) else (rightGeom, leftGeom)
    val buildBound = BindReferences.bindReference(buildGeom, buildPlan.output)
    val streamBound = BindReferences.bindReference(streamGeom, streamPlan.output)
    // a per-row distance binds to the STREAM side (the strategy only
    // plans orientations where its references live there)
    val distBound = distance.map(BindReferences.bindReference(_, streamPlan.output))
    // dimension side to the driver once, WKB + row in one broadcast
    val buildRows: Array[(Array[Byte], InternalRow)] = buildPlan.executeCollect().map { r =>
      (buildBound.eval(r).asInstanceOf[Array[Byte]], r.copy())
    }
    val bc = sparkContext.broadcast(buildRows)
    val outAttrs = output
    val bLeft = buildLeft
    val hasDist = distance.isDefined
    val semiMode = semi
    streamPlan.execute().mapPartitions { it =>
      val tree = new STRtree()
      bc.value.foreach { case (wkb, row) =>
        if (wkb != null) {
          val g = Geom.fromWkb(wkb)
          tree.insert(g.getEnvelopeInternal, (PreparedGeometryFactory.prepare(g), row))
        }
      }
      tree.build()
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      // d = NaN encodes "no distance: plain intersects"
      def predicate(bg: PreparedGeometry, g: org.locationtech.jts.geom.Geometry,
                    d: Double): Boolean =
        if (d.isNaN) bg.intersects(g)
        // intersecting geometries have distance 0, so the prepared
        // (indexed) intersects test short-circuits the expensive
        // exact distance computation for the common overlap case
        else bg.intersects(g) || bg.getGeometry.isWithinDistance(g, d)
      def candidates(g: org.locationtech.jts.geom.Geometry, d: Double) = {
        val qEnv = new Envelope(g.getEnvelopeInternal)
        if (!d.isNaN) qEnv.expandBy(d)
        tree.query(qEnv).asScala.iterator
          .map(_.asInstanceOf[(PreparedGeometry, InternalRow)])
      }
      it.flatMap { srow =>
        val wkb = streamBound.eval(srow).asInstanceOf[Array[Byte]]
        // per-row distance: NULL or negative matches nothing (SQL
        // NULL-predicate / PostGIS negative-distance semantics)
        val dRaw = if (!hasDist) java.lang.Double.valueOf(Double.NaN)
                   else distBound.get.eval(srow).asInstanceOf[java.lang.Double]
        if (wkb == null || dRaw == null || (hasDist && dRaw.doubleValue() < 0.0))
          Iterator.empty
        else {
          val d = dRaw.doubleValue()
          val g = Geom.fromWkb(wkb)
          if (semiMode) {
            // at most one output row; exists short-circuits candidate scan
            if (candidates(g, d).exists { case (bg, _) => predicate(bg, g, d) })
              Iterator.single(proj(srow))
            else Iterator.empty
          } else {
            candidates(g, d)
              .filter { case (bg, _) => predicate(bg, g, d) }
              .map { case (_, brow) =>
                proj(if (bLeft) joined.withLeft(brow).withRight(srow)
                     else joined.withLeft(srow).withRight(brow))
              }
          }
        }
      }
    }
  }
}
