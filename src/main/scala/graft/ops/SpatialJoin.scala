package graft.ops

import graft.geom.Geom
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.types.StructType
import org.locationtech.jts.index.strtree.STRtree

/** Spatial join operators that Catalyst cannot plan from a declarative
  * join — the engine-level counterpart of Sedona's installed-but-unused
  * spatial-join machinery (reference: Sedona extensions loaded at
  * airflow_dag/dag_geo_pipeline.py:20, never exercised; SURVEY.md §2.3
  * marks this the capability stretch goal).
  *
  * The broadcast intersects/dwithin join has no operator here: write
  * `left.join(broadcast(right), st_intersects(lg, rg))` (or
  * `st_dwithin(lg, rg, d)`) and graft.plans.SpatialJoinStrategy plans
  * BroadcastRTreeSpatialJoinExec — one STRtree per probe partition over
  * the broadcast side, exact predicates on envelope survivors, and
  * Catalyst still prunes columns around it. When neither side fits under
  * `autoBroadcastJoinThreshold` the strategy rewrites the same join to
  * [[gridIntersects]] / [[gridDWithin]]. This object holds those two
  * partitioned joins plus the kNN family ([[knn]], [[broadcastKnn]],
  * [[gridKnn]]), which has no declarative join predicate to match.
  */
object SpatialJoin {

  /** Default cap on [[broadcastKnn]]'s build-side rows; override with
    * spark conf `graft.spatial.maxBuildRows`. */
  private val DefaultMaxBuildRows = 2000000
  /** Default cap on [[broadcastKnn]]'s build-side WKB bytes; override
    * with `graft.spatial.maxBuildBytes`. */
  private val DefaultMaxBuildBytes = 256L << 20
  /** Default cap on gridKnn's occupied-cell histogram; override with
    * `graft.spatial.maxOccupiedCells`. */
  private val DefaultMaxOccupiedCells = 1 << 20

  /** Driver-side collect of [[broadcastKnn]]'s build side, guarded: the
    * contract ("right must be the dimension side") is otherwise invisible
    * until the driver OOMs with no diagnostic. The limit-guarded collect
    * bounds driver memory even when the guard fires (at most cap+1 rows
    * ever materialize), and the error names [[gridKnn]], the partitioned
    * operator a too-large build side should use instead. */
  private def collectBuildSide(right: DataFrame,
                               geomIdx: Int): Array[(Array[Byte], Seq[Any])] = {
    val conf = right.sparkSession.conf
    val maxRows = math.min(
      conf.getOption("graft.spatial.maxBuildRows").map(_.toLong)
        .getOrElse(DefaultMaxBuildRows.toLong),
      (Int.MaxValue - 1).toLong).toInt
    val maxBytes = conf.getOption("graft.spatial.maxBuildBytes").map(_.toLong)
      .getOrElse(DefaultMaxBuildBytes)
    val rows = right.limit(maxRows + 1).collect()
    if (rows.length > maxRows)
      throw new IllegalStateException(
        s"broadcastKnn: build side exceeds graft.spatial.maxBuildRows=$maxRows — the right " +
          "side must be the dimension side; for a large build side use gridKnn")
    val out = rows.map(r => (r.getAs[Array[Byte]](geomIdx), r.toSeq))
    var bytes = 0L
    out.foreach { case (wkb, _) => if (wkb != null) bytes += wkb.length }
    if (bytes > maxBytes)
      throw new IllegalStateException(
        s"broadcastKnn: build-side geometry payload ${bytes}B exceeds " +
          s"graft.spatial.maxBuildBytes=$maxBytes — the right side must be the " +
          "dimension side; for a large build side use gridKnn")
    out
  }

  /** Partitioned large-large spatial inner join `left ⋈ right ON
    * st_intersects(leftGeom, rightGeom)` — the capability Sedona ships
    * for two sides that both exceed the broadcast threshold, here
    * expressed entirely in declarative operators so Catalyst plans a
    * plain shuffled equi join (never BroadcastNestedLoopJoin, asserted in
    * PlanShapeSpec):
    *
    *   1. each side computes its envelope once ([[graft.exprs.StEnvelopeBounds]],
    *      one WKB parse) and explodes to the fixed grid cells the envelope
    *      covers (`floor(coord / cellSize)` per axis);
    *   2. the sides equi-join on the cell id — the ONLY shuffle, both
    *      sides hash-partitioned by cell, each cell's candidates meeting
    *      in one task (AQE splits oversized cells like any skewed key);
    *   3. cheap envelope-overlap column comparisons prune candidates
    *      before any geometry is parsed, then exact `st_intersects` runs
    *      on the survivors;
    *   4. a pair whose envelopes span several common cells would emit
    *      once per cell, so the reference-point rule keeps exactly one:
    *      only the cell containing the envelope-intersection's min corner
    *      (`greatest(xmin), greatest(ymin)` — a corner guaranteed to lie
    *      in both sides' cell ranges) reports the pair.
    *
    * The geometries are expressions (not necessarily bare columns), and
    * the output is both sides' columns, or `outputCols` when given — the
    * form [[graft.plans.SpatialJoinStrategy]]'s stats-driven routing
    * needs when it rewrites a declarative `join(r, st_intersects(lg, rg))`
    * whose build side is too large to broadcast: the strategy hands the
    * matched children back through the DataFrame API with the join's own
    * geometry expressions and re-plans this decomposition.
    *
    * `cellSize` is the grid pitch in geometry units: smaller cells cut
    * per-cell candidate counts but multiply the explode factor of large
    * geometries (a geometry covers `O((extent/cellSize)²)` cells) — size
    * it near the typical geometry extent. Column names must be disjoint
    * between the two sides (standard Spark join caveat). */
  def gridIntersects(left: DataFrame, right: DataFrame,
                     leftGeom: Column, rightGeom: Column,
                     cellSize: Double,
                     outputCols: Seq[Column] = Nil): DataFrame = {
    require(cellSize > 0.0 && java.lang.Double.isFinite(cellSize),
      s"cellSize must be positive and finite, got $cellSize")
    // selective import: functions.left/right would shadow the parameters
    import org.apache.spark.sql.functions.{col, explode, expr, floor, greatest}
    import graft.functions.{st_envelope_bounds, st_intersects}
    def withCells(df: DataFrame, geom: Column, p: String): DataFrame =
      df.withColumn(s"${p}_env", st_envelope_bounds(geom))
        .withColumn(s"${p}_cell", explode(expr(
          s"""flatten(transform(
             |  sequence(floor(${p}_env.xmin / ${cellSize}D), floor(${p}_env.xmax / ${cellSize}D)),
             |  cx -> transform(
             |    sequence(floor(${p}_env.ymin / ${cellSize}D), floor(${p}_env.ymax / ${cellSize}D)),
             |    cy -> named_struct('cx', cx, 'cy', cy))))""".stripMargin)))
    val l = withCells(left, leftGeom, "gl")
    val r = withCells(right, rightGeom, "gr")
    val cond =
      col("gl_cell") === col("gr_cell") &&
      // envelope overlap: free column math ahead of the WKB parse
      col("gl_env.xmin") <= col("gr_env.xmax") && col("gr_env.xmin") <= col("gl_env.xmax") &&
      col("gl_env.ymin") <= col("gr_env.ymax") && col("gr_env.ymin") <= col("gl_env.ymax") &&
      // reference-point dedup: exactly one common cell owns the pair
      floor(greatest(col("gl_env.xmin"), col("gr_env.xmin")) / cellSize) === col("gl_cell.cx") &&
      floor(greatest(col("gl_env.ymin"), col("gr_env.ymin")) / cellSize) === col("gl_cell.cy") &&
      st_intersects(leftGeom, rightGeom)
    // NO join hint here: this operator is re-entered from
    // SpatialJoinStrategy during PHYSICAL planning, where a ResolvedHint
    // can no longer pass the optimizer (EliminateResolvedHint) — Spark
    // throws INTERNAL_ERROR. The strategy routes here exactly when the
    // build side is stats-large, i.e. at action time with current stats,
    // so the declaration-vs-action threshold gap gridKnn hints against
    // does not exist on this path.
    val joined = l.join(r, cond, "inner")
      .drop("gl_env", "gl_cell", "gr_env", "gr_cell")
    if (outputCols.isEmpty) joined else joined.select(outputCols: _*)
  }

  /** Partitioned large-large DISTANCE join — [[gridIntersects]]'s device
    * applied to `st_dwithin(leftGeom, rightGeom, distance)`: the LEFT
    * side's envelope is expanded by its row's distance BEFORE the cell
    * cover (so any pair within `d` provably shares a cell), the cell equi
    * join is the only shuffle, envelope-within-d column math prunes
    * candidates ahead of the WKB parse, exact `st_dwithin` verifies, and
    * the reference-point rule on the (expanded-left ∩ right) envelope
    * intersection keeps exactly one cell per pair. This is the plan a
    * declarative distance join routes to when neither side fits under the
    * broadcast threshold. `distance` is a column over the left side; per
    * row the semantics match the broadcast exec: a NULL or negative
    * distance matches nothing (the guarded expansion goes NULL, the cell
    * sequence goes NULL, and explode drops the row). */
  def gridDWithin(left: DataFrame, right: DataFrame,
                  leftGeom: Column, rightGeom: Column,
                  distance: Column,
                  cellSize: Double,
                  outputCols: Seq[Column] = Nil): DataFrame = {
    require(cellSize > 0.0 && java.lang.Double.isFinite(cellSize),
      s"cellSize must be positive and finite, got $cellSize")
    import org.apache.spark.sql.functions.{col, explode, expr, floor, greatest, when}
    import graft.functions.{st_dwithin, st_envelope_bounds}
    // guarded per-row expansion: NULL/negative d -> NULL -> row drops
    val l = left
      .withColumn("gd", when(distance >= 0.0, distance))
      .withColumn("gl_env", st_envelope_bounds(leftGeom))
      .withColumn("gl_cell", explode(expr(
        s"""flatten(transform(
           |  sequence(floor((gl_env.xmin - gd) / ${cellSize}D), floor((gl_env.xmax + gd) / ${cellSize}D)),
           |  cx -> transform(
           |    sequence(floor((gl_env.ymin - gd) / ${cellSize}D), floor((gl_env.ymax + gd) / ${cellSize}D)),
           |    cy -> named_struct('cx', cx, 'cy', cy))))""".stripMargin)))
    val r = right
      .withColumn("gr_env", st_envelope_bounds(rightGeom))
      .withColumn("gr_cell", explode(expr(
        s"""flatten(transform(
           |  sequence(floor(gr_env.xmin / ${cellSize}D), floor(gr_env.xmax / ${cellSize}D)),
           |  cx -> transform(
           |    sequence(floor(gr_env.ymin / ${cellSize}D), floor(gr_env.ymax / ${cellSize}D)),
           |    cy -> named_struct('cx', cx, 'cy', cy))))""".stripMargin)))
    val cond =
      col("gl_cell") === col("gr_cell") &&
      // envelope-within-d: free column math ahead of the WKB parse
      col("gl_env.xmin") - col("gd") <= col("gr_env.xmax") &&
      col("gr_env.xmin") <= col("gl_env.xmax") + col("gd") &&
      col("gl_env.ymin") - col("gd") <= col("gr_env.ymax") &&
      col("gr_env.ymin") <= col("gl_env.ymax") + col("gd") &&
      // reference-point dedup over the (expanded-left ∩ right) envelopes
      floor(greatest(col("gl_env.xmin") - col("gd"), col("gr_env.xmin")) / cellSize) === col("gl_cell.cx") &&
      floor(greatest(col("gl_env.ymin") - col("gd"), col("gr_env.ymin")) / cellSize) === col("gl_cell.cy") &&
      st_dwithin(leftGeom, rightGeom, col("gd"))
    // no hint — strategy-re-entrant like gridIntersects (see note there)
    val joined = l.join(r, cond, "inner")
      .drop("gd", "gl_env", "gl_cell", "gr_env", "gr_cell")
    if (outputCols.isEmpty) joined else joined.select(outputCols: _*)
  }

  /** Stats-routed kNN join — ONE declarative entry point that picks the
    * physical strategy the way Spark's own join planning (and this
    * engine's intersects/dwithin routing in
    * [[graft.plans.SpatialJoinStrategy]]) does: if the build side's
    * estimated `sizeInBytes` clears `autoBroadcastJoinThreshold`, plan
    * [[broadcastKnn]] (driver-collected R-tree, branch-and-bound kNN,
    * probe side never shuffles); otherwise [[gridKnn]] (both sides
    * large: the build side shuffles ONCE on its reference cell, probes
    * hash-join on the packed cell key). The signal is the optimized
    * plan's statistics — the SAME estimate Catalyst's broadcast
    * selection reads, so DSv2 sources reporting real stats
    * (LatticeSource, LedgerSink) route correctly too. The loud
    * `collectBuildSide` guard stays as the backstop for a mis-estimated
    * build side. */
  def knn(left: DataFrame, right: DataFrame,
          leftGeomCol: String, rightGeomCol: String, k: Int,
          cellSize: Double, outputCols: Seq[String] = Nil): DataFrame = {
    val threshold = left.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val buildBytes = right.queryExecution.optimizedPlan.stats.sizeInBytes
    if (threshold >= 0 && buildBytes <= threshold)
      broadcastKnn(left, right, leftGeomCol, rightGeomCol, k, outputCols)
    else
      gridKnn(left, right, leftGeomCol, rightGeomCol, k, cellSize, outputCols)
  }

  /** k-nearest-neighbour join (Sedona `ST_KNN` analogue): for each left
    * row, the `k` right rows whose geometries are nearest by exact JTS
    * euclidean distance (ties broken arbitrarily, like Sedona). Same
    * distribution shape as the planner's broadcast R-tree join
    * (BroadcastRTreeSpatialJoinExec): `right` is the dimension side
    * (collected + broadcast), one STRtree per probe partition, and each probe runs JTS's exact branch-and-bound kNN over
    * the tree — the big side never shuffles, so the plan survives a
    * 100 TB probe side. Probe rows with null geometry emit nothing; when
    * the build side has fewer than `k` rows, every build row matches. */
  def broadcastKnn(left: DataFrame, right: DataFrame,
                   leftGeomCol: String, rightGeomCol: String, k: Int,
                   outputCols: Seq[String] = Nil): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val spark = left.sparkSession
    val rightSchema = right.schema
    val rightGeomIdx = rightSchema.fieldIndex(rightGeomCol)
    val rightRows = collectBuildSide(right, rightGeomIdx)
    val bRight = spark.sparkContext.broadcast(rightRows)
    val leftSchema = left.schema
    val leftGeomIdx = leftSchema.fieldIndex(leftGeomCol)
    val (picks, outSchema) = outputPicks(leftSchema, rightSchema, outputCols)

    Par.widenDense(left).mapPartitions { it =>
      // build entries carry (geometry, row values); the probe item is a
      // bare Geometry — the ItemDistance handles both shapes
      val items = bRight.value.iterator
        .filter(_._1 != null)
        .map { case (wkb, values) => (Geom.fromWkb(wkb), values) }
        .toArray
      val tree = new STRtree()
      items.foreach { case t @ (g, _) => tree.insert(g.getEnvelopeInternal, t) }
      val kk = math.min(k, items.length)
      if (kk == 0) Iterator.empty
      else {
        tree.build()
        def geomOf(o: AnyRef): org.locationtech.jts.geom.Geometry = o match {
          case g: org.locationtech.jts.geom.Geometry => g
          case (g: org.locationtech.jts.geom.Geometry, _) => g
        }
        val itemDist = new org.locationtech.jts.index.strtree.ItemDistance {
          override def distance(x: org.locationtech.jts.index.strtree.ItemBoundable,
                                y: org.locationtech.jts.index.strtree.ItemBoundable): Double =
            geomOf(x.getItem.asInstanceOf[AnyRef]).distance(geomOf(y.getItem.asInstanceOf[AnyRef]))
        }
        it.flatMap { lrow =>
          val wkb = lrow.getAs[Array[Byte]](leftGeomIdx)
          if (wkb == null) Iterator.empty
          else {
            val lg = Geom.fromWkb(wkb)
            tree.nearestNeighbour(lg.getEnvelopeInternal, lg, itemDist, kk).iterator
              .map(_.asInstanceOf[(org.locationtech.jts.geom.Geometry, Seq[Any])])
              .map { case (_, rvals) => projectRow(picks, lrow, rvals) }
          }
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Partitioned large-large spatial kNN join — the Sedona `ST_KNN`
    * capability for two sides that BOTH exceed the broadcast threshold
    * (the one join [[broadcastKnn]] cannot serve: its build side is a
    * driver collect). Semantics match broadcastKnn: for each left row the
    * k nearest right rows by exact JTS distance, ties broken arbitrarily,
    * null-geometry probes emit nothing, `min(k, |right|)` when the build
    * side is short.
    *
    * Plan: one cheap driver statistic, then ONE hash equi join + ONE
    * per-probe window — no nested loop, no all-pairs:
    *
    *   1. each build geometry gets a single REFERENCE CELL (the fixed
    *      grid cell of its envelope min corner — no explode, the build
    *      side is never duplicated, so a (probe, build) pair meets at most
    *      once and needs no dedup);
    *   2. the per-cell histogram (occupied cell → count, plus the global
    *      max envelope extent) is collected and broadcast — the same
    *      bounded driver-read class as the bounds probes: its size is the
    *      OCCUPIED cell count, governed by `cellSize`, not the data;
    *   3. each probe derives, from the histogram alone, a distance bound
    *      `ub` guaranteed to contain ≥ k build geometries — cells are
    *      ranked by U(cell) = maxDist(probeEnv, cell) + maxDiag (an upper
    *      bound on the distance to anything referenced there, since a
    *      geometry touches its envelope's edges and the envelope's min
    *      corner lies in the cell) and ub is the U of the smallest prefix
    *      whose counts reach k — then emits exactly the occupied cells
    *      whose lower bound L(cell) = minDist(probeEnv, cell ⊕ maxExtent)
    *      is ≤ ub. Every true neighbor's reference cell satisfies
    *      L ≤ distance ≤ ub, so the candidate set is complete; the prefix
    *      cells alone guarantee ≥ k candidates, so the rank below never
    *      starves. Sparse regions need no iterative ring-widening: the
    *      ranking walks occupied cells directly, however far.
    *   4. probes explode to those candidate cell keys and hash-join the
    *      build side on the ONE packed BIGINT cell key; exact JTS
    *      distance + a row_number window per probe id keep the k nearest.
    *
    * Scale shape: the shuffles are the cell-key equi join and the
    * probe-id window — both key-partitioned, both AQE-splittable; the
    * per-probe histogram scan is O(C log C) with C = occupied cells, so
    * size `cellSize` to keep C in the thousands (expected per-cell build
    * count ≈ k makes the prefix 1-2 cells and the candidate set a small
    * neighborhood). Cell indices must fit in 32 bits
    * (|coord| / cellSize < 2³¹ — any sane pitch). Column names must be
    * disjoint between the sides (standard join caveat). */
  def gridKnn(left: DataFrame, right: DataFrame,
              leftGeomCol: String, rightGeomCol: String, k: Int,
              cellSize: Double,
              outputCols: Seq[String] = Nil): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(cellSize > 0.0 && java.lang.Double.isFinite(cellSize),
      s"cellSize must be positive and finite, got $cellSize")
    import org.apache.spark.sql.functions.{col, count, explode, expr, lit,
      max, min, monotonically_increasing_id, row_number}
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{st_distance, st_envelope_bounds}
    val spark = left.sparkSession

    val build = right.filter(col(rightGeomCol).isNotNull)
      .withColumn("gr_env", st_envelope_bounds(col(rightGeomCol)))
      .withColumn("gr_cell", expr(
        s"""(CAST(floor(gr_env.xmin / ${cellSize}D) AS BIGINT) << 32)
           | | (CAST(floor(gr_env.ymin / ${cellSize}D) AS BIGINT) & 4294967295)""".stripMargin))
    // driver statistic (the bounds-probe class): one row per OCCUPIED
    // cell, carrying the TIGHT min-corner box AND max-corner box of the
    // member envelopes — every member envelope lies inside
    // [bx0,cx1]x[by0,cy1]. Far tighter per-cell distance bounds than the
    // cell rectangle (a 50 km geometry in a 60 km cell makes rect-based
    // bounds nearly vacuous), and tighter than the r12 min-corner+max-
    // extent form: carrying the max-corner box directly removes the
    // member-DIAGONAL slack from the upper bound (the r14 profile showed
    // that slack admitting ~14 of 25 cells per probe — the suite's top
    // cost center was candidate fan-out, not distance math)
    // guard: the histogram size is governed only by cellSize — a
    // pathological pitch (cells far smaller than the data extent) makes
    // occupied-cells explode and this driver collect OOM with no
    // diagnostic. The limit bounds driver memory even when the guard
    // fires; the error names the fix.
    val maxCells = math.min(
      spark.conf.getOption("graft.spatial.maxOccupiedCells").map(_.toLong)
        .getOrElse(DefaultMaxOccupiedCells.toLong),
      (Int.MaxValue - 1).toLong).toInt
    val hist = build.groupBy(col("gr_cell")).agg(
      count(lit(1)).as("cnt"),
      min(col("gr_env.xmin")).as("bx0"), min(col("gr_env.ymin")).as("by0"),
      max(col("gr_env.xmax")).as("cx1"), max(col("gr_env.ymax")).as("cy1"))
      .limit(maxCells + 1).collect()
    if (hist.length > maxCells)
      throw new IllegalStateException(
        s"gridKnn: occupied-cell histogram exceeds graft.spatial.maxOccupiedCells=" +
          s"$maxCells — increase cellSize (or use broadcastKnn when the build side " +
          "is dimension-sized)")

    val outCols =
      if (outputCols.nonEmpty) outputCols
      else (left.schema.fieldNames ++ right.schema.fieldNames).toSeq
    val total = hist.map(_.getLong(1)).sum
    val kk = math.min(k.toLong, total)
    if (kk == 0L) {
      // empty build side: empty result with the joined schema
      val fields = outCols.map { c =>
        left.schema.fieldNames.indexOf(c) match {
          case -1 => right.schema(right.schema.fieldIndex(c))
          case i => left.schema.fields(i)
        }
      }
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], StructType(fields.toArray))
    }

    val cellKeys = hist.map(_.getLong(0))
    val cellCnts = hist.map(_.getLong(1))
    val cellBx0 = hist.map(_.getDouble(2))
    val cellBy0 = hist.map(_.getDouble(3))
    val cellCx1 = hist.map(_.getDouble(4))
    val cellCy1 = hist.map(_.getDouble(5))
    val bHist = spark.sparkContext.broadcast(
      (cellKeys, cellCnts, cellBx0, cellBy0, cellCx1, cellCy1))
    val kkNeeded = kk

    // candidate cells of one probe envelope: rank occupied cells by the
    // per-cell distance UPPER bound, take the smallest prefix holding >= k
    // build rows, emit every cell whose LOWER bound beats that prefix's U.
    //
    // Two per-row cost controls (the r09 profile showed this stage as the
    // suite's one true hot spot — the candidate fan-out, O(|candidates|)
    // exact distances + window rows per probe, plus a full histogram
    // re-sort per probe row):
    //   * the prefix is found by weighted selection with a max-heap of
    //     the current minimal prefix (O(C log m), m = prefix size, usually
    //     1-2 cells), never a full sort;
    //   * results are memoized per EXACT probe envelope — no bound
    //     inflation, and real workloads (and the fixture: lineitem rows
    //     share ~2.5k parcel positions per region) repeat probe
    //     geometries heavily. The memo is per-task deserialized closure
    //     state, capped to stay bounded.
    val candidateFn = new ((java.lang.Double, java.lang.Double,
        java.lang.Double, java.lang.Double) => Array[Long]) with Serializable {
      // per-THREAD memo: Spark gives each task its own deserialized
      // closure today, but that is engine behavior this code shouldn't
      // rest on — ThreadLocal makes the unsynchronized HashMap's safety
      // local and explicit at trivial cost
      @transient private lazy val memo = ThreadLocal.withInitial(
        () => new java.util.HashMap[(Long, Long, Long, Long), Array[Long]]())

      private def compute(qxmin: Double, qymin: Double,
                          qxmax: Double, qymax: Double): Array[Long] = {
        val (keys, cnts, bx0, by0, cx1, cy1) = bHist.value
        val c = keys.length
        val lo = new Array[Double](c)
        val up = new Array[Double](c)
        var i = 0
        while (i < c) {
          // every member envelope lies inside B = [bx0,cx1]x[by0,cy1]
          // L: min distance probeEnv -> B. For any member, its envelope
          // (hence geometry) is inside B, so dist(probe, member) >= this.
          val ldx = math.max(0.0, math.max(bx0(i) - qxmax, qxmin - cx1(i)))
          val ldy = math.max(0.0, math.max(by0(i) - qymax, qymin - cy1(i)))
          lo(i) = math.hypot(ldx, ldy)
          // U: max pointwise distance probeEnv -> B. Each member occupies
          // SOME point of B, and dist(probe, member) = min over point
          // pairs <= any single pair <= this corner-to-corner max — no
          // member-diagonal slack term (every member is wholly inside B,
          // so the farthest a member can SIT is the far corner of B).
          val udx = math.max(cx1(i) - qxmin, qxmax - bx0(i))
          val udy = math.max(cy1(i) - qymin, qymax - by0(i))
          up(i) = math.hypot(udx, udy)
          i += 1
        }
        // weighted selection of the minimal prefix by U reaching kk: a
        // max-heap (on U) of the running prefix, evicting its largest
        // entries whenever the remainder still covers kk
        val heap = new java.util.PriorityQueue[Integer](16,
          (a: Integer, b: Integer) => java.lang.Double.compare(up(b), up(a)))
        var acc = 0L
        i = 0
        while (i < c) {
          if (acc < kkNeeded) { heap.add(i); acc += cnts(i) }
          else if (up(i) < up(heap.peek())) {
            heap.add(i); acc += cnts(i)
            var trimming = true
            while (trimming) {
              val t = heap.peek()
              if (acc - cnts(t) >= kkNeeded) { heap.poll(); acc -= cnts(t) }
              else trimming = false
            }
          }
          i += 1
        }
        // the fill phase (acc < kk) admits cells in arrival order, so if
        // no later cell triggers the eviction branch the prefix can hold
        // removable large-U entries; one final trim makes ub the true
        // minimal-prefix U (candidate set stays a superset either way —
        // this only shrinks fan-out)
        var trimming = true
        while (trimming) {
          val t = heap.peek()
          if (acc - cnts(t) >= kkNeeded) { heap.poll(); acc -= cnts(t) }
          else trimming = false
        }
        val ub = up(heap.peek())
        keys.indices.collect { case j if lo(j) <= ub => keys(j) }.toArray
      }

      def apply(xmin: java.lang.Double, ymin: java.lang.Double,
                xmax: java.lang.Double, ymax: java.lang.Double): Array[Long] = {
        if (xmin == null || ymin == null || xmax == null || ymax == null)
          Array.empty[Long]
        else {
          val key = (java.lang.Double.doubleToLongBits(xmin),
                     java.lang.Double.doubleToLongBits(ymin),
                     java.lang.Double.doubleToLongBits(xmax),
                     java.lang.Double.doubleToLongBits(ymax))
          val m = memo.get()
          val hit = m.get(key)
          if (hit != null) hit
          else {
            if (m.size >= 65536) m.clear()
            val r = compute(xmin, ymin, xmax, ymax)
            m.put(key, r)
            r
          }
        }
      }
    }
    val candidateCells = org.apache.spark.sql.functions.udf(candidateFn)

    val probe = Par.widenDense(left)
      .withColumn("g_pid", monotonically_increasing_id())
      .withColumn("gl_env", st_envelope_bounds(col(leftGeomCol)))
      .withColumn("gl_cell", explode(candidateCells(
        col("gl_env.xmin"), col("gl_env.ymin"),
        col("gl_env.xmax"), col("gl_env.ymax"))))

    // SHUFFLE_HASH on the build side: gridKnn exists for build sides too
    // large to broadcast, so the cell-key exchange is part of the
    // operator's contract — hinted HERE (not via a session threshold
    // tweak at the call site) because physical planning happens at ACTION
    // time, when any caller-scoped conf suppression has already been
    // restored; the hint makes "neither side broadcasts" hold in the
    // executed plan, not just the routed intent.
    //
    // Per-probe rank stays a row_number WINDOW deliberately: Spark plans
    // it as WindowGroupLimit (partial below the g_pid exchange, final
    // above), whose per-task sort of compact 45 B pair rows beat the
    // bounded top-k AGGREGATE head-to-head at the 10× stress scale —
    // per-task g_pid cardinality is near the pair count (each probe
    // contributes ~1.2 pairs per cell partition), so a hash aggregate
    // gets almost no partial reduction and ships serialized k-item
    // buffers instead of rows (measured r14: agg 60 s / 6.8 GB spill vs
    // window 50 s / 3.7 GB at 10×; PLANS_NOTES "r14 kNN decomposition").
    val perProbe = Window.partitionBy(col("g_pid")).orderBy(col("g_dist"))
    probe.join(build.hint("shuffle_hash"),
        col("gl_cell") === col("gr_cell"), "inner")
      .withColumn("g_dist", st_distance(col(leftGeomCol), col(rightGeomCol)))
      .withColumn("g_rn", row_number().over(perProbe))
      .filter(col("g_rn") <= lit(kkNeeded))
      .select(outCols.map(col): _*)
  }

  /** [[broadcastKnn]]'s output projection: (isLeft, ordinal)
    * per emitted column, plus the emitted schema. */
  private def outputPicks(leftSchema: StructType, rightSchema: StructType,
                          outputCols: Seq[String]): (Array[(Boolean, Int)], StructType) = {
    val picks: Array[(Boolean, Int)] =
      if (outputCols.isEmpty) {
        leftSchema.fields.indices.map(i => (true, i)).toArray ++
          rightSchema.fields.indices.map(i => (false, i))
      } else outputCols.map { c =>
        val li = leftSchema.fieldNames.indexOf(c)
        if (li >= 0) (true, li)
        else (false, rightSchema.fieldIndex(c))
      }.toArray
    val outSchema = StructType(picks.map { case (isLeft, i) =>
      if (isLeft) leftSchema.fields(i) else rightSchema.fields(i)
    })
    (picks, outSchema)
  }

  private def projectRow(picks: Array[(Boolean, Int)],
                         lrow: Row, rvals: Seq[Any]): Row = {
    val vs = new Array[Any](picks.length)
    var i = 0
    while (i < picks.length) {
      val (isLeft, ord) = picks(i)
      vs(i) = if (isLeft) lrow.get(ord) else rvals(ord)
      i += 1
    }
    Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vs))
  }
}
