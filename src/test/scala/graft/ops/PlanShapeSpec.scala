package graft.ops

import graft.{FixtureDirs, SparkEntry, SparkFixture}
import graft.SparkFixture.withConf
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/** Guardrails for the 100 TB plan contract: predicates/projections reach
  * the parquet scan, dimension joins broadcast, and no registered query
  * ever plans a cartesian/nested-loop join. These are the properties the
  * reference encoded manually (SURVEY.md §4) and that must survive every
  * future query edit. */
class PlanShapeSpec extends AnyFunSuite with FixtureDirs {
  private lazy val spark = SparkFixture.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan.toString

  test("filter and projection are pushed into the parquet scan (S3/P4)") {
    val p = planOf("q_s3_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"), p)
  }

  test("dimension join is a broadcast hash join (J1)") {
    assert(planOf("q_j1_broadcast_agg").contains("BroadcastHashJoin"))
  }

  /** The flagship's physical plan with every exchange inserted, before
    * anything runs (the adaptive wrapper's initial plan). */
  private def flagshipPlan(name: String): SparkPlan =
    Par.initialPhysical(SparkEntry.queries(name)(spark, dir))

  /** Every shuffle exchange partitions on integer keys, hash or range,
    * and carries no geometry column. */
  private def assertIntegerShuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = {
    val exchanges = p.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, p.toString.take(1500))
    exchanges.foreach { e =>
      val keys = e.outputPartitioning match {
        case h: HashPartitioning => h.expressions
        case r: RangePartitioning => r.ordering.map(_.child)
        case other => fail(s"unexpected partitioning $other:\n$p")
      }
      assert(keys.nonEmpty && keys.forall(_.dataType == IntegerType),
        s"non-integer shuffle key in ${e.outputPartitioning}:\n$p")
      assert(!e.output.exists(_.name.startsWith("geo_")),
        s"geometry column in a shuffle: ${e.output.mkString(", ")}\n$p")
    }
    assert(p.toString.contains("partial_st_union_agg"),
      "union agg must have a map-side partial stage")
    exchanges
  }

  test("flagship aggregate shuffles no geometry: exchange partitions on integer keys only") {
    val scanWidth = Tables.table(spark, dir, "lineitem").rdd.getNumPartitions
    assert(scanWidth < spark.sparkContext.defaultParallelism,
      s"the fixture scan ($scanWidth splits) must be narrower than the session")
    Seq("q_geo_flagship", "q_geo_flagship_5880").foreach { q =>
      val p = flagshipPlan(q)
      // narrow scan: the one range exchange on the group keys is both
      // the aggregate's clustering and the final orderBy's ordering
      val exchanges = assertIntegerShuffles(p)
      assert(exchanges.size == 1 && exchanges.head.outputPartitioning.isInstanceOf[RangePartitioning],
        s"$q: expected exactly one range exchange:\n$p")
      val sort = p.collectFirst { case s: SortExec => s }.getOrElse(fail(s"$q: no sort:\n$p"))
      val agg = sort.collectFirst { case a: ObjectHashAggregateExec => a }
        .getOrElse(fail(s"$q: union agg should run as ObjectHashAggregate:\n$p"))
      val between = sort.collect { case e: ShuffleExchangeExec => e }
        .filterNot(e => agg.find(_ eq e).isDefined)
      assert(between.isEmpty, s"$q: exchange between the aggregate and the sort:\n$p")
    }
  }

  test("flagship on a wide scan: map-side partial union, hash on the keys, range sort") {
    // splitting the fixture file finer than the session width makes the
    // scan wide, as a production table is, so fanOut leaves it alone
    withConf("spark.sql.files.maxPartitionBytes", "8k") {
      val scanWidth = Tables.table(spark, dir, "lineitem").rdd.getNumPartitions
      assert(scanWidth >= spark.sparkContext.defaultParallelism, s"scan still narrow: $scanWidth")
      val p = flagshipPlan("q_geo_flagship")
      val kinds = assertIntegerShuffles(p).map(_.outputPartitioning.getClass.getSimpleName)
      assert(kinds.sorted == Seq("HashPartitioning", "RangePartitioning"), s"$kinds:\n$p")
    }
  }

  test("flagship joins the regions once: one broadcast hash join, no semi join, narrow and wide scans") {
    def assertOneRegionJoin(shape: String): Unit =
      Seq("q_geo_flagship", "q_geo_flagship_5880").foreach { q =>
        val p = flagshipPlan(q)
        val joins = p.collect { case j: BroadcastHashJoinExec => j }
        assert(joins.size == 1, s"$q ($shape scan): ${joins.size} broadcast hash joins:\n$p")
        assert(joins.head.joinType == Inner, s"$q ($shape scan): ${joins.head.joinType}:\n$p")
        assert(p.collect { case j: BaseJoinExec if j.joinType == LeftSemi => j }.isEmpty,
          s"$q ($shape scan): semi join in the plan:\n$p")
      }
    assertOneRegionJoin("narrow")
    withConf("spark.sql.files.maxPartitionBytes", "8k") {
      assert(Tables.table(spark, dir, "lineitem").rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
      assertOneRegionJoin("wide")
    }
  }

  test("global top-k plans as TakeOrderedAndProject, not a full sort") {
    assert(planOf("q_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("TPC-H Q3: both date filters pushed, customer side broadcast at this scale, top-10 is TakeOrderedAndProject") {
    val p = planOf("q_tpch_q3")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"), p)
  }

  test("TPC-H Q21: correlated EXISTS/NOT EXISTS decorrelate to one semi + one anti join, no per-row subquery") {
    val p = planOf("q_tpch_q21")
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    // the correlated predicates left the plan entirely: no subquery
    // expression survives into the physical tree
    assert(!p.toLowerCase.contains("subquery"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("column profile: one scan through Expand, never per-column scans") {
    // sparkPlan (pre-AQE): the adaptive wrapper hides scan leaves from
    // collectLeaves before execution, so count scans in the plan text
    val p = planOf("q_col_profile")
    assert(p.contains("Expand"), p.take(2000))
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected exactly 1 file scan, got $scans:\n${p.take(2000)}")
  }

  test("bucketed join is a shuffle-free sort-merge join") {
    // the plain join: any hashpartitioning exchange in the EXECUTED plan
    // could only come from the join inputs, so its absence proves the
    // bucketed scan satisfied the join's distribution requirement
    val df = SinkQueries.bucketedJoinPlain(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("hashpartitioning"),
      s"bucketed join should not exchange either side:\n${p.take(1500)}")
  }

  test("bloom semi-join reduction prunes the fact side BELOW its exchange") {
    val df = RelationalQueries.bloomJoin(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(2000))
    assert(p.contains("might_contain"), p.take(2000))
    // the might_contain filter must be on the scan side of the fact
    // exchange: in the plan string, the filter line appears BELOW (after)
    // the exchange line that feeds the join
    val lines = p.linesIterator.toSeq
    val exIdx = lines.indexWhere(_.contains("Exchange hashpartitioning(o_custkey"))
    val bloomIdx = lines.indexWhere(_.contains("might_contain"))
    assert(exIdx >= 0 && bloomIdx > exIdx,
      s"bloom filter should sit below the fact exchange (ex=$exIdx bloom=$bloomIdx):\n${p.take(2500)}")
  }

  test("skew join shuffles on the SALTED key pair, as a sort-merge join") {
    val df = RelationalQueries.skewJoin(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the SMJ keys must be the (event_type, salt) PAIR: the salt in the
    // shuffle key is the whole point — each hot event_type spreads over
    // 16 reducers instead of hashing to one
    val smjLine = p.linesIterator.find(_.contains("SortMergeJoin")).getOrElse("")
    assert(smjLine.contains("event_type") && smjLine.contains("salt"),
      s"SMJ not keyed on the salted pair:\n${p.take(2500)}")
    // and both join inputs exchange on that pair (the plan also has
    // single-key exchanges for the final aggregate and the dim distinct —
    // those are not the join's)
    val saltedExchanges = p.linesIterator
      .filter(l => l.contains("hashpartitioning") && l.contains("salt")).toSeq
    assert(saltedExchanges.size >= 2,
      s"expected a salted exchange per join input:\n${p.take(2500)}")
  }

  test("generation filter prunes partition directories at planning time") {
    import org.apache.spark.sql.functions.col
    // build the two-generation layout, then scan only gen=2: the partition
    // filter must reach the scan (PartitionFilters) so gen=1 files are
    // never listed into the plan — directory-level pruning, not a row filter
    // building the plan performs the generation writes; the aggregate
    // read-back itself isn't needed for the layout
    SinkQueries.schemaEvolution(spark, dir)
    val evoPath = s"${SinkQueries.OutBase}/schema_evo"
    val df = spark.read.option("mergeSchema", "true").parquet(evoPath)
      .filter(col("gen") === 2)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("gen"), p.take(1500))
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scanned = df.queryExecution.executedPlan.collectLeaves().collect {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
    val total = spark.read.option("mergeSchema", "true")
      .parquet(evoPath).inputFiles.length
    assert(scanned < total, s"gen filter did not prune files: $scanned of $total")
  }

  test("morton8 is an injective space-filling map over the full 8-bit grid") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val grid = spark.range(65536)
      .select((col("id") % 256).as("a"), (col("id") / 256).cast("long").as("b"))
    val zs = grid.select(SinkQueries.morton8(col("a"), col("b")).as("z"))
    val (distinct, mx, mn) = zs
      .agg(countDistinct(col("z")), max(col("z")), min(col("z")))
      .as[(Long, Long, Long)].head()
    // bijection onto [0, 65535]: every (a,b) pair gets a unique z
    assert(distinct == 65536L && mn == 0L && mx == 65535L, s"$distinct $mn $mx")
  }

  test("z-order layout prunes most row groups for a 2-D box scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SinkQueries.zorderScan(spark, dir)
    df.collect()
    val scans = df.queryExecution.executedPlan.collectLeaves().collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val scanned = scans.map(_.metrics("numOutputRows").value).sum
    val total = Tables.events(spark, dir).count()
    // the box covers ~1/16 of z-space; on an unclustered layout every row
    // group intersects it and the scan emits ~all rows — z-clustering must
    // let parquet stats skip well over half the table
    assert(scanned * 2 < total, s"scan emitted $scanned of $total rows - no pruning")
  }

  test("multiway star join broadcasts both dimensions; fact never sort-merges") {
    val qe = SparkEntry.queries("q_multiway_join")(spark, dir).queryExecution
    qe.executedPlan
    val p = qe.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    // the segment filter must sit below the joins, at the customer scan —
    // specifically inside the scan's PushedFilters list, not as a post-scan
    // Filter node
    // no closing bracket: the final plan's customer scan appends the join
    // key's IsNotNull to the same list
    assert(p.contains(
      "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"), p)
  }

  test("hive-partitioned scan prunes to exactly the two matching lang directories") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SinkQueries.partitionPrunedScan(spark, dir)
    df.collect()
    val scans = df.queryExecution.executedPlan.collectLeaves().collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val scan = scans.head
    // the lang predicate must be a PLANNING-time partition filter, not a
    // per-row data filter over opened files
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    assert(!scan.dataFilters.exists(_.toString.contains("lang")), scan.dataFilters.toString)
    assert(scan.metrics("numPartitions").value == 2,
      s"listed ${scan.metrics("numPartitions").value} partitions, wanted 2 (en, fr)")
  }

  test("zorderScan on an empty events table returns empty instead of throwing") {
    val tmp = fixtureDir("zorder_empty")
    Tables.events(spark, dir).limit(0).write.parquet(s"$tmp/events.parquet")
    val df = SinkQueries.zorderScan(spark, tmp)
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("event_id", "ts", "user_id", "event_type", "value"))
  }

  test("declarative st_intersects join plans as the broadcast R-tree operator") {
    // the strategy must intercept the plain join(broadcast(...), st_intersects)
    // shape; without it this exact plan is BroadcastNestedLoopJoin
    val p = planOf("q_spatial_join")
    assert(p.contains("BroadcastRTreeSpatialJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("declarative spatial LEFT SEMI join plans as the semi-mode R-tree operator") {
    // the bare join, pre-aggregate: pins the exec node AND the semi
    // output contract (probe side only, no build columns, no duplication)
    val joined = Pipelines.spatialSemiJoined(spark, dir)
    val p = joined.queryExecution.sparkPlan.toString
    assert(p.contains("BroadcastRTreeSpatialJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // probe side carries the slot multiplicity since the r18 dedup-
    // before-kernel rewrite; still probe-only, no build columns
    assert(joined.columns.toSeq == Seq("own_region", "m", "parcel_geom"), joined.columns.mkString(","))
  }

  test("st_dwithin LEFT SEMI also plans as the semi-mode R-tree operator") {
    import org.apache.spark.sql.functions._
    import graft.functions.{st_dwithin, st_makeenvelope}
    val probe = spark.range(10).select(
      st_makeenvelope(col("id").cast("double"), lit(0.0),
        col("id").cast("double") + lit(0.5), lit(0.5)).as("g"))
    val dim = spark.range(2).select(
      st_makeenvelope(lit(100.0), lit(0.0), lit(101.0), lit(1.0)).as("h"))
    val df = probe.join(broadcast(dim), st_dwithin(col("g"), col("h"), lit(1.5)), "left_semi")
    val p = df.queryExecution.sparkPlan.toString
    assert(p.contains("BroadcastRTreeSpatialJoin"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(df.count() == 0) // nearest probe is 89.5 away; distance joins respect d
  }

  test("declarative st_dwithin join plans as the broadcast R-tree operator") {
    val p = planOf("q_spatial_dwithin")
    assert(p.contains("BroadcastRTreeSpatialJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("st_dwithin with a per-row distance COLUMN plans as the R-tree operator; null/negative match nothing") {
    import org.apache.spark.sql.functions._
    import graft.functions.{st_dwithin, st_makeenvelope}
    // column-distance query's own plan
    val p = planOf("q_spatial_dwithin_col")
    assert(p.contains("BroadcastRTreeSpatialJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // per-row semantics on a closed-form fixture: unit squares at x = 10*i
    // probing one dim square at [100,101]; radius column varies per row
    val probe = spark.range(12).select(col("id"),
      st_makeenvelope(col("id").cast("double") * 10.0, lit(0.0),
        col("id").cast("double") * 10.0 + 1.0, lit(1.0)).as("g"),
      when(col("id") === 3, lit(null).cast("double"))     // null: no match
        .when(col("id") === 4, lit(-5.0))                  // negative: no match
        .otherwise(greatest(lit(99.0) - col("id").cast("double") * 10.0, lit(0.0)))
        .as("d"))                                          // EXACT gap to dim
    val dim = spark.range(1).select(
      st_makeenvelope(lit(100.0), lit(0.0), lit(101.0), lit(1.0)).as("h"))
    val joined = probe.join(broadcast(dim), st_dwithin(col("g"), col("h"), col("d")))
    val pc = joined.queryExecution.sparkPlan.toString
    assert(pc.contains("BroadcastRTreeSpatialJoin"), pc.take(1500))
    val got = joined.select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    // id i <= 9: gap to dim = 99 - 10i and d = the exact gap (boundary is
    // inclusive) => match, except null (3) and negative (4); i = 10
    // overlaps dim with d = 0 => match; i = 11 has d = 0 but gap 9 => none
    assert(got == Seq(0L, 1L, 2L, 5L, 6L, 7L, 8L, 9L, 10L), got.mkString(","))
  }

  test("st_dwithin matches own region plus reachable edge neighbors only") {
    import org.apache.spark.sql.functions._
    // fixture arithmetic mirror of the d=10700 closed form (same logic as
    // the DuckDB oracle, independent of the join machinery under test)
    val li = Tables.lineitem(spark, dir)
      .select((col("l_partkey") % 25).cast("int").as("r"),
        (((col("l_orderkey") * 7 + col("l_linenumber")) % 2500) % 50).cast("int").as("c"),
        ((((col("l_orderkey") * 7 + col("l_linenumber")) % 2500) / 50).cast("int")).as("w"))
    val own = li.select(col("r").as("region_id"))
    val leftN = li.filter(col("c") === 0 && col("r") % 5 > 0).select((col("r") - 1).as("region_id"))
    val rightN = li.filter(col("c") === 49 && col("r") % 5 < 4).select((col("r") + 1).as("region_id"))
    val downN = li.filter(col("w") === 0 && (col("r") / 5).cast("int") > 0).select((col("r") - 5).as("region_id"))
    val upN = li.filter(col("w") === 49 && (col("r") / 5).cast("int") < 4).select((col("r") + 5).as("region_id"))
    val expected = own.union(leftN).union(rightN).union(downN).union(upN)
      .groupBy("region_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("q_spatial_dwithin")(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // the distance predicate must be doing more than intersects: at least
    // one neighbor match exists on the gate corpus
    val ownOnly = own.groupBy("region_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got != ownOnly, "d=10700 should reach adjacent regions")
  }

  // shared fixture for the brute-force and grid agreement tests: the same
  // parcels/regions frames q_spatial_join / q_spatial_dwithin build
  private def parcelsAndRegions(): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    import graft.functions._
    import GeoFixtures._
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    val px0 = parcelX0(col("l_partkey") % 25, parcelIdx(col("l_orderkey"), col("l_linenumber")))
    val py0 = parcelY0(col("l_partkey") % 25, parcelIdx(col("l_orderkey"), col("l_linenumber")))
    val parcels = li.select(st_makeenvelope(px0.cast("double"), py0.cast("double"),
      (px0 + lit(ParcelSize)).cast("double"), (py0 + lit(ParcelSize)).cast("double")).as("parcel_geom"))
    val regions = Tables.nation(spark, dir)
      .select(col("n_nationkey").cast("int").as("region_id"),
        st_makevalid(st_geomfromwkt(regionWkt(col("n_nationkey")))).as("region_geom"))
    (parcels, regions)
  }

  private def perRegionCounts(df: org.apache.spark.sql.DataFrame): Map[Int, Long] = {
    import org.apache.spark.sql.functions.col
    df.groupBy(col("region_id")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  /** Per-region match counts of a JTS nested loop over the collected
    * parcels and regions: the truth, with no index and no grid. */
  private def bruteForceCounts(parcels: org.apache.spark.sql.DataFrame,
                               regions: org.apache.spark.sql.DataFrame,
                               distance: Option[Double]): Map[Int, Long] =
    BruteForceJoin.pairs(parcels, regions, "parcel_geom", "region_geom", distance)
      .groupBy(_._2.getAs[Int]("region_id")).map { case (k, v) => k -> v.size.toLong }

  /** The declarative broadcast join, asserted to plan as
    * BroadcastRTreeSpatialJoinExec, the engine's broadcast kernel. */
  private def execJoin(parcels: org.apache.spark.sql.DataFrame,
                       regions: org.apache.spark.sql.DataFrame,
                       cond: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val df = parcels.join(org.apache.spark.sql.functions.broadcast(regions), cond)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastRTreeSpatialJoin"), p.take(2000))
    df
  }

  test("q_spatial_dwithin equals brute force") {
    val (parcels, regions) = parcelsAndRegions()
    val strategy = SparkEntry.queries("q_spatial_dwithin")(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(strategy == bruteForceCounts(parcels, regions, Some(10700.0)))
  }

  test("negative distance is rejected at every distance-join entry point") {
    import org.apache.spark.sql.functions.{col, lit}
    val (parcels, regions) = parcelsAndRegions()
    // grid form: a negative distance matches nothing, per row
    assert(SpatialJoin.gridDWithin(parcels, regions, col("parcel_geom"), col("region_geom"),
      lit(-1.0), cellSize = 25000.0).count() == 0)
    // direct exec construction (the strategy itself never plans d < 0):
    // the prepared-intersects short-circuit is only valid for d >= 0
    val geomExpr = org.apache.spark.sql.graftbridge.Bridge.expression(
      graft.functions.st_point(org.apache.spark.sql.functions.lit(0.0),
        org.apache.spark.sql.functions.lit(0.0)))
    intercept[IllegalArgumentException](graft.plans.BroadcastRTreeSpatialJoinExec(
      parcels.queryExecution.sparkPlan, regions.queryExecution.sparkPlan,
      geomExpr, geomExpr, buildLeft = false,
      distance = Some(org.apache.spark.sql.catalyst.expressions.Literal(-1.0))))
  }

  test("q_spatial_join equals brute force") {
    val (parcels, regions) = parcelsAndRegions()
    val strategy = SparkEntry.queries("q_spatial_join")(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(strategy == bruteForceCounts(parcels, regions, None))
  }

  test("kNN join with k=1 matches exactly the own region at distance 0") {
    import org.apache.spark.sql.functions.col
    // every parcel lies strictly inside its own region, so its single
    // nearest region is that region with rectangle distance 0
    val rows = Pipelines.spatialKnnRollup(spark, dir, k = 1).collect()
    val expected = Tables.lineitem(spark, dir)
      .groupBy((col("l_partkey") % 25).cast("int")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r.getInt(0) -> r.getLong(1)).toMap == expected)
    assert(rows.forall(_.getLong(2) == 0L), "k=1 nearest must be the containing region")
  }

  test("kNN join with k larger than the build side emits every build row per probe") {
    import org.apache.spark.sql.functions.col
    val (parcels, regions) = parcelsAndRegions()
    val pairs = SpatialJoin.broadcastKnn(
      parcels.limit(7), regions, "parcel_geom", "region_geom", k = 100)
    assert(pairs.count() == 7L * regions.count())
    // null probe geometry emits nothing
    val withNull = parcels.limit(3)
      .withColumn("parcel_geom", org.apache.spark.sql.functions
        .lit(null).cast(org.apache.spark.sql.types.BinaryType))
    assert(SpatialJoin.broadcastKnn(withNull, regions,
      "parcel_geom", "region_geom", k = 2).count() == 0)
  }

  test("spatial-join rollup returns the closed-form per-region counts") {
    val rows = SparkEntry.queries("q_spatial_join")(spark, dir).collect()
    val expected = Tables.lineitem(spark, dir)
      .groupBy((org.apache.spark.sql.functions.col("l_partkey") % 25).cast("int"))
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r.getInt(0) -> r.getLong(1)).toMap == expected)
  }

  test("stats-driven routing: the SAME declarative st_intersects join plans broadcast under threshold, grid above") {
    import org.apache.spark.sql.functions.col
    import graft.functions.st_intersects
    val (parcels, regions) = parcelsAndRegions()
    // identical declarative form — no broadcast() hint, no API switch
    def declared() = parcels.join(regions,
      st_intersects(col("parcel_geom"), col("region_geom")))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // regions (25 rows) is stats-small under the default threshold
      val under = declared().queryExecution.executedPlan.toString
      assert(under.contains("BroadcastRTreeSpatialJoin"), under.take(2000))
      // threshold off: neither side broadcastable — the strategy must now
      // route to the grid-partitioned equi join, NOT BroadcastNestedLoopJoin
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val routed = declared()
      val over = routed.queryExecution.executedPlan.toString
      assert(!over.contains("BroadcastRTreeSpatialJoin"), over.take(2000))
      assert(!over.contains("BroadcastNestedLoopJoin") && !over.contains("CartesianProduct"),
        over.take(2000))
      assert(over.contains("SortMergeJoin") || over.contains("ShuffledHashJoin"), over.take(2000))
      // both routes compute the same join
      val gridCounts = perRegionCounts(routed.select(col("region_id")))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      val bCounts = perRegionCounts(declared().select(col("region_id")))
      assert(gridCounts == bCounts)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("grid dwithin shuffles on the cell key - no nested loop - and matches the broadcast result") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.functions.st_dwithin
    val (parcels, regions) = parcelsAndRegions()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SpatialJoin.gridDWithin(parcels, regions,
        col("parcel_geom"), col("region_geom"), lit(10700.0), cellSize = 25000.0,
        outputCols = Seq(col("region_id")))
      val counts = perRegionCounts(df)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p.take(2000))
      val broadcastCounts = perRegionCounts(execJoin(parcels, regions,
        st_dwithin(col("parcel_geom"), col("region_geom"), lit(10700.0))))
      assert(counts == broadcastCounts)
      // d = 0 degenerates to the intersects match set on these fixtures
      assert(perRegionCounts(SpatialJoin.gridDWithin(parcels, regions,
          col("parcel_geom"), col("region_geom"), lit(0.0), cellSize = 25000.0,
          outputCols = Seq(col("region_id")))) ==
        perRegionCounts(SpatialJoin.gridIntersects(parcels, regions,
          col("parcel_geom"), col("region_geom"), cellSize = 25000.0,
          outputCols = Seq(col("region_id")))))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("stats-driven routing covers st_dwithin: broadcast under threshold, grid above, column distance too") {
    import org.apache.spark.sql.functions.col
    import graft.functions.st_dwithin
    val (parcels, regions) = parcelsAndRegions()
    def declared() = parcels.join(regions,
      st_dwithin(col("parcel_geom"), col("region_geom"),
        org.apache.spark.sql.functions.lit(10700.0)))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val under = declared().queryExecution.executedPlan.toString
      assert(under.contains("BroadcastRTreeSpatialJoin"), under.take(2000))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val routed = declared()
      val over = routed.queryExecution.executedPlan.toString
      assert(!over.contains("BroadcastRTreeSpatialJoin") &&
        !over.contains("BroadcastNestedLoopJoin") && !over.contains("CartesianProduct"),
        over.take(2000))
      assert(over.contains("SortMergeJoin") || over.contains("ShuffledHashJoin"), over.take(2000))
      val gridCounts = perRegionCounts(routed.select(col("region_id")))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      assert(gridCounts == perRegionCounts(declared().select(col("region_id"))))
      // per-row distance column routes to the grid plan too (expansion
      // per probe row), with identical results to the broadcast path
      val withD = parcels.withColumn("pd", org.apache.spark.sql.functions.lit(10700.0))
      def declaredCol() = withD.join(regions,
        st_dwithin(col("parcel_geom"), col("region_geom"), col("pd")))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val colRouted = declaredCol()
      val pc = colRouted.queryExecution.executedPlan.toString
      assert(!pc.contains("BroadcastRTreeSpatialJoin") &&
        !pc.contains("BroadcastNestedLoopJoin"), pc.take(2000))
      val colCounts = perRegionCounts(colRouted.select(col("region_id")))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      assert(colCounts == perRegionCounts(declaredCol().select(col("region_id"))))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("grid join shuffles on the cell key - no broadcast, no nested loop - and matches the broadcast result") {
    import org.apache.spark.sql.functions.col
    import graft.functions.st_intersects
    val (parcels, regions) = parcelsAndRegions()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // neither side may broadcast: the exact condition under which the
      // strategy-planned path would fall back to BroadcastNestedLoopJoin
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SpatialJoin.gridIntersects(parcels, regions,
        col("parcel_geom"), col("region_geom"), cellSize = 25000.0,
        outputCols = Seq(col("region_id")))
      val counts = perRegionCounts(df)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p.take(2000))
      val broadcastCounts = perRegionCounts(execJoin(parcels, regions,
        st_intersects(col("parcel_geom"), col("region_geom"))))
      assert(counts == broadcastCounts)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("grid kNN join plans a hash equi join on the cell key - no nested loop - and matches broadcast kNN") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // neither side may broadcast: the condition under which a naive kNN
      // formulation would need a nested-loop distance join
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("q_knn_join_partitioned")(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p.take(2000))
      // identical tie-invariant rollup as the broadcast-R-tree variant
      val grid = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      val bcast = SparkEntry.queries("q_knn_join")(spark, dir).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      assert(grid == bcast)
      assert(grid.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("grid kNN cell join stays non-broadcast at ACTION time (ADVICE r13: caller restores the threshold before execution)") {
    // q_knn_join_partitioned suppresses autoBroadcastJoinThreshold only
    // while DECLARING the query (to route to gridKnn), then restores it in
    // finally — physical planning happens later, at action time, under the
    // normal threshold. The SHUFFLE_HASH hint inside gridKnn is what keeps
    // the documented "neither side broadcasts" contract in the EXECUTED
    // plan; this test runs the query with no session tweak at all.
    val df = SparkEntry.queries("q_knn_join_partitioned")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastHashJoin"),
      s"cell-key join flipped to broadcast at action time:\n${p.take(2000)}")
  }

  test("stats-routed kNN: the SAME declarative knn call plans broadcast under threshold, grid above") {
    val (parcels, regions) = parcelsAndRegions()
    // identical declarative form — no API switch, no hint
    def routed() = SpatialJoin.knn(parcels, regions,
      "parcel_geom", "region_geom", 3, cellSize = 60000.0,
      outputCols = Seq("region_id"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // regions (25 rows of nation.parquet) is stats-small by default:
      // the broadcast R-tree path has NO join exec at all — pure
      // mapPartitions over the probe side ("Join" alone would false-match
      // the SpatialJoin lambda class name in the plan string)
      val under = routed().queryExecution.executedPlan.toString
      Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
        assert(!under.contains(j), s"$j in broadcast-route plan: ${under.take(2000)}"))
      assert(under.contains("MapPartitions"), under.take(2000))
      val bcast = perRegionCounts(routed())
      // threshold off: build side is stats-large by definition — the
      // router must take the grid decomposition (ONE hash equi join on
      // the cell key), never a nested loop and never a driver collect
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val gridDf = routed()
      val over = gridDf.queryExecution.executedPlan.toString
      assert(over.contains("SortMergeJoin") || over.contains("ShuffledHashJoin"),
        over.take(2000))
      assert(!over.contains("BroadcastNestedLoopJoin") && !over.contains("CartesianProduct"),
        over.take(2000))
      // both routes emit exactly k rows per probe (per-region splits may
      // differ on k-boundary ties — tie-invariant result equality of the
      // two physical paths is asserted by the grid-kNN test's d² rollup)
      assert(perRegionCounts(gridDf).values.sum == bcast.values.sum && bcast.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("grid join reference-point rule: multi-cell pairs emit exactly once") {
    import org.apache.spark.sql.functions._
    import graft.functions.st_makeenvelope
    import spark.implicits._
    // large overlapping rectangles spanning MANY 3-unit cells each, plus
    // negative coordinates (floor vs integer-division trap) and disjoint
    // controls; a brute-force nested loop is the truth
    def rects(ids: Seq[Int], name: String, scale: Double) =
      ids.toDF("id").select(col("id").as(s"${name}_id"),
        st_makeenvelope(col("id") * scale - lit(20.0), col("id") * scale - lit(20.0),
          col("id") * scale + lit(11.0), col("id") * scale + lit(11.0)).as(s"${name}_geom"))
    val l = rects(0 until 24, "l", 7.0)
    val r = rects(-6 until 18, "r", 9.0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getInt(0), x.getInt(1))).toSeq
    val grid = pairs(SpatialJoin.gridIntersects(l, r, col("l_geom"), col("r_geom"),
      cellSize = 3.0, outputCols = Seq(col("l_id"), col("r_id"))))
    val truth = BruteForceJoin.pairs(l, r, "l_geom", "r_geom")
      .map { case (a, b) => (a.getInt(0), b.getInt(0)) }
    assert(grid.distinct.size == grid.size, "grid join emitted duplicate pairs")
    assert(grid.sorted == truth.sorted)
    assert(grid.nonEmpty)
  }

  test("no registered query plans a cartesian or nested-loop join") {
    SparkEntry.queries.keys.foreach { name =>
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name plans CartesianProduct")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans BroadcastNestedLoopJoin")
    }
  }

  test("no registered query emits a DecimalType output column") {
    // r13 regression gate: the driver's DuckDB fetch renders DECIMAL RESULT
    // columns as float64, so an emitted DECIMAL hash-matches Spark's exact
    // rendering ONLY in one narrow shape — precision <= 15 (15 significant
    // decimal digits survive a decimal->double->shortest-repr round trip)
    // AND scale == 1 (Spark pads to the scale; Python float repr always
    // prints >= 1 fractional digit, so "100.0"=="100.0", while scale 0
    // renders "100" vs "100.0" and scale >= 2 drops trailing zeros,
    // "0.30" vs "0.3"). That shape IS the deliberate ROUND(x,1)
    // DECIMAL(12,1) funnel the geo rollups use to collapse libm last-ulp
    // drift — allowed. Everything else (the r13 DECIMAL(38,0) lanes:
    // >15-digit values render "1.49e+08"-style) is rejected: emit BIGINT
    // or the tableChecksum hex device. DECIMAL stays fine (and
    // encouraged) for INTERNAL accumulation — only the emitted schema is
    // gated.
    import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, MapType, StructField, StructType}
    def renderSafe(d: DecimalType): Boolean = d.precision <= 15 && d.scale == 1
    def hasBadDecimal(dt: DataType): Boolean = dt match {
      case d: DecimalType => !renderSafe(d)
      case s: StructType => s.fields.exists(f => hasBadDecimal(f.dataType))
      case a: ArrayType => hasBadDecimal(a.elementType)
      case m: MapType => hasBadDecimal(m.keyType) || hasBadDecimal(m.valueType)
      case _ => false
    }
    def decimalCols(fields: Seq[StructField]): Seq[String] =
      fields.collect { case f if hasBadDecimal(f.dataType) => f.name }
    // detector sanity: must fire on the r13 regression shape and on each
    // unsafe-render axis, and must pass the sanctioned funnel shape
    val fixture = spark.range(1).selectExpr(
      "CAST(id AS DECIMAL(38,0)) AS d38",   // the r13 lane itself
      "CAST(id AS DECIMAL(10,0)) AS s0",    // scale 0: "100" vs "100.0"
      "CAST(id AS DECIMAL(10,2)) AS s2",    // scale 2: "0.30" vs "0.3"
      "CAST(id AS DECIMAL(16,1)) AS p16",   // >15 digits: repr truncates
      "CAST(id AS DECIMAL(12,1)) AS ok")    // the sanctioned funnel
    assert(decimalCols(fixture.schema.fields.toSeq) == Seq("d38", "s0", "s2", "p16"),
      "DecimalType detector misclassified the fixture columns")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val bad = decimalCols(SparkEntry.queries(name)(spark, dir).schema.fields.toSeq)
      if (bad.isEmpty) None else Some(s"$name(${bad.mkString(",")})")
    }
    assert(offenders.isEmpty,
      s"queries emitting DECIMAL output columns: ${offenders.mkString("; ")} — " +
        "cast to BIGINT (or hex) before emitting; DECIMAL outputs break the oracle hash compare")
  }

  test("native session_window plans as an aggregate, not window functions") {
    // the point of q_session_window vs q_sessionize: merged-window
    // AGGREGATION (map-side partials, one shuffle) instead of two
    // sort-based window functions
    val p = planOf("q_session_window")
    assert(p.contains("session_window"), p.take(1500))
    assert(!p.contains("lag("), s"island-method lag leaked into the native plan")
  }

  test("link prediction: top-50 is TakeOrderedAndProject, pair generation is join-free") {
    val p = planOf("q_link_predict")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    // in-row array pair enumeration: NO join of any kind in the plan
    assert(!p.contains("Join"), p.take(2000))
  }

  test("pq ann: encode+score is join-free — one scan, no exchange before the top-k") {
    val p = planOf("q_ann_pq")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Join"), s"PQ scoring must be a pure projection:\n${p.take(2000)}")
  }

  test("intradoc dedup aggregates with map-side partials and no extra shuffle") {
    // executedPlan: exchanges exist only after EnsureRequirements
    val qe = SparkEntry.queries("q_intradoc_dedup")(spark, dir).queryExecution
    qe.executedPlan
    val p = qe.executedPlan.toString
    assert(p.contains("partial_count"), s"map-side partials missing:\n${p.take(2000)}")
    // the only exchanges: the per-source rollup + the final presentation sort
    val exchanges = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(exchanges <= 1, s"expected at most 1 hash exchange, plan:\n${p.take(2000)}")
    assert(!p.contains("Join"), p.take(2000))
  }

  test("SQL UDFs inline: plan carries the expanded CASE/floor trees, no UDF eval boundary") {
    val df = SqlSurfaceQueries.sqlUdf(spark, dir)
    val p = df.queryExecution.sparkPlan.toString
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p.take(2000))
    assert(p.contains("CASE WHEN"), s"graft_disc_band body should be inlined:\n${p.take(2000)}")
    assert(p.toLowerCase.contains("floor"), s"graft_cents body should be inlined:\n${p.take(2000)}")
  }

  test("LATERAL top-N decorrelates: WindowGroupLimit with a partial below the shuffle, no per-row subquery") {
    val df = SqlSurfaceQueries.lateralTopN(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p.take(2500))
    assert(p.contains("Partial"), s"group-limit should prune below the exchange:\n${p.take(2500)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2500))
  }

  test("pipe-syntax WHERE before AGGREGATE reaches the parquet scan as a pushed filter") {
    val p = SqlSurfaceQueries.pipeSyntax(spark, dir).queryExecution.sparkPlan.toString
    assert(p.contains("GreaterThan(l_quantity,5.0)"), p.take(2000))
  }

  test("variant pipeline: parse+extract are scan-stage expressions; only the group keys shuffle") {
    val df = SqlSurfaceQueries.variantExtract(spark, dir)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    // AQE prints the initial plan after the final one — audit the final only
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("variant_get"), p.take(2000))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly the group-key exchange, got $exchanges:\n${p.take(2500)}")
  }

  test("TPC-H Q10: return-flag filter pushed, top-20 is TakeOrderedAndProject") {
    val p = planOf("q_tpch_q10")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)"),
      p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("TPC-H Q6: all three range filters reach the parquet scan") {
    // the printed PushedFilters list truncates at 100 chars, so assert on
    // the UNTRUNCATED DataFilters/PushedFilters of the scan node itself
    val scans = SparkEntry.queries("q_tpch_q6")(spark, dir).queryExecution.sparkPlan
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"), pushed)
    assert(pushed.contains("LessThan(l_shipdate"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(l_discount,0.05)"), pushed)
    assert(pushed.contains("LessThanOrEqual(l_discount,0.07)"), pushed)
    assert(pushed.contains("LessThan(l_quantity,24.0)"), pushed)
  }

  test("TPC-H Q7: ship-date slice pushed to the scan, nation arms broadcast") {
    val p = planOf("q_tpch_q7")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("weighted median: no per-group window over event rows — TeraSort device only") {
    // r14 verdict watch item: Window.partitionBy(event_type) routes every
    // row of a group through ONE task's external sort (event_type has a
    // handful of values). The scale-safe form computes the running weight
    // partition-locally behind a range exchange (the Scan ExistingRDD
    // boundary) and keeps the ONLY window in the plan on the tiny
    // per-(partition, group) partials relation — so no window spec may
    // ever reference the event-row sort key `cents`.
    val p = planOf("q_weighted_median")
    val rowWindows = p.linesIterator
      .filter(_.contains("windowspecdefinition")).filter(_.contains("cents"))
    assert(rowWindows.isEmpty,
      s"event-row window (single reducer per event_type at scale) leaked back:\n${rowWindows.mkString("\n")}")
    assert(p.contains("Scan ExistingRDD"),
      s"TeraSort range-shuffle boundary missing from the plan:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"per-partition offsets must broadcast back, never shuffle the events side:\n${p.take(2000)}")
  }

  test("TPC-H Q2: correlated scalar MIN decorrelates to an aggregate join-back; dims broadcast; top-100 is TakeOrderedAndProject") {
    val p = planOf("q_tpch_q2")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    // the correlated scalar MIN left the plan entirely: no subquery
    // expression survives into the physical tree — it decorrelated into
    // the per-part aggregate joined back on p_partkey
    assert(!p.toLowerCase.contains("subquery"), p.take(3000))
    // single fact visit (r16 verdict #6): the derived partsupp is an
    // eager checkpoint, so BOTH uses read the RDD boundary and the query
    // plan scans lineitem zero times — the one scan happened in the
    // checkpoint job
    assert(p.contains("Scan ExistingRDD"),
      s"checkpointed partsupp boundary missing:\n${p.take(3000)}")
    assert(!p.contains("lineitem"),
      s"lineitem re-scanned — the single-visit checkpoint regressed:\n${p.take(3000)}")
  }

  test("TPC-H Q19: disjunctive predicate factors into a hash join with an OR residual; partial disjunctions push to both scans") {
    val qe = SparkEntry.queries("q_tpch_q19")(spark, dir).queryExecution
    qe.executedPlan
    val p = qe.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the common equality was not factored out of the disjunction:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the OR survives as the join residual…
    val joinLine = p.linesIterator.find(_.contains("BroadcastHashJoin")).get
    assert(joinLine.contains(" OR "), s"OR residual missing from the join:\n$joinLine")
    // …and each side's PARTIAL disjunction reached its parquet scan
    // (PushedFilters on the scan nodes' untruncated metadata would be
    // stronger, but the Or(...) prefix in the printed plan already pins
    // that a disjunctive pushdown happened on both scans)
    val scans = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(scans.count(_.contains("Or(")) >= 2,
      s"per-side partial disjunctions not pushed:\n${scans.mkString("\n")}")
  }

  test("TPC-H Q16: NOT IN plans as the single-column NULL-AWARE broadcast anti join") {
    val qe = SparkEntry.queries("q_tpch_q16")(spark, dir).queryExecution
    qe.executedPlan
    val p = qe.executedPlan.toString
    // read isNullAwareAntiJoin STRUCTURALLY off the exec node (ADVICE
    // r16: the printed line's trailing token flips on any Spark version
    // that appends another positional field) — a plain anti join here
    // would silently change NOT IN's three-valued semantics, and a
    // non-broadcast plan would be the banned BNLJ
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    // AdaptiveSparkPlanExec is a LEAF node — collect() stops at it, so
    // unwrap to the current physical plan first
    val root = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val anti = root.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
    }
    assert(anti.nonEmpty, s"broadcast anti join missing:\n${p.take(3000)}")
    assert(anti.exists(_.isNullAwareAntiJoin),
      s"NOT IN did not plan null-aware:\n${anti.map(_.verboseString(2)).mkString("\n")}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("TPC-H Q13: the priority filter stays in the outer join's ON clause — zero-order customers survive") {
    val qe = SparkEntry.queries("q_tpch_q13")(spark, dir).queryExecution
    qe.executedPlan
    val p = qe.executedPlan.toString
    assert(p.contains("LeftOuter"), s"outer join lost:\n${p.take(2000)}")
    // the filter must ride the orders side (pushed to its scan), never
    // the post-join relation where it would re-drop the zero bucket
    assert(p.contains("PushedFilters: [IsNotNull(o_orderpriority), Not(EqualTo(o_orderpriority,1-URGENT))]")
      || p.contains("Not(EqualTo(o_orderpriority"), p.take(3000))
    // behavioral pin: the zero bucket counts EXACTLY the customers with
    // no surviving orders — the number a WHERE-clause (inner-join) form
    // would silently drop from the distribution
    import org.apache.spark.sql.functions.col
    val nCust = Tables.customer(spark, dir).count()
    val nWithOrders = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey")).distinct().count()
    val zeroBucket = SparkEntry.queries("q_tpch_q13")(spark, dir)
      .filter(col("c_count") === 0L).collect()
      .headOption.map(_.getLong(1)).getOrElse(0L)
    assert(zeroBucket == nCust - nWithOrders,
      s"zero bucket $zeroBucket != $nCust customers - $nWithOrders with orders")
  }

  test("file dedup: images enter via the binaryFile source; payload bytes never reach an exchange") {
    val qe = SparkEntry.queries("q_mm_file_dedup")(spark, dir).queryExecution
    qe.executedPlan // force planning; exchanges exist only post-EnsureRequirements
    val p = qe.executedPlan.toString
    assert(p.toLowerCase.contains("binaryfile"),
      s"binaryFile scan missing from the plan:\n${p.take(2000)}")
    // decode+hash run partition-local before the serialize boundary, so
    // the only exchanged columns are (doc_id, ahash, len_ok) — a content
    // column in any shuffle key means the payload started traveling
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && !exchanges.exists(_.contains("content")),
      s"payload column in a shuffle key:\n${exchanges.mkString("\n")}")
  }

  test("winsorize: exact bounds ride the TeraSort device — no window spec references micros") {
    // r15 verdict #1: the exact p05/p95 rank statistic was the last
    // per-group window over the fact table (a ~6-value group key routes
    // ~1/6 of the table through one task's external sort at 100 TB). The
    // device form keeps the only window on the tiny per-(partition,
    // group) partials relation, so no window spec may reference the
    // fact-row sort key `micros` (or the device's value lane `v`).
    val p = planOf("q_winsorize")
    val rowWindows = p.linesIterator
      .filter(_.contains("windowspecdefinition"))
      .filter(l => l.contains("micros") || l.contains("v#"))
    assert(rowWindows.isEmpty,
      s"fact-row window leaked back into winsorize:\n${rowWindows.mkString("\n")}")
    assert(p.contains("Scan ExistingRDD"),
      s"TeraSort range-shuffle boundary missing from the plan:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"bounds must broadcast back to the fact, never shuffle it:\n${p.take(2000)}")
  }

  test("TeraSort range exchanges track spark.sql.shuffle.partitions, floored at the historical width") {
    // r15 verdict #2: a hardcoded 32/16-way range exchange is a
    // parallelism CEILING — at 100× each range slice becomes a multi-TB
    // single-task sort. The width must follow the session's shuffle
    // parallelism (how a real cluster sizes itself) with the old literal
    // only as a floor for tiny test sessions.
    val conf = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "48")
      assert(Par.rangeWidth(spark) == 48 && Par.rangeWidth(spark, 16) == 48)
      val p = planOf("q_s2_range_partition")
      val range = p.linesIterator.filter(_.contains("rangepartitioning")).toSeq
      assert(range.nonEmpty && range.forall(_.contains(", 48)")),
        s"range exchange did not follow the conf at 48:\n${range.mkString("\n")}")
      spark.conf.set(conf, "2")
      // the floor keeps tiny sessions at the historical minimum
      assert(Par.rangeWidth(spark) == 32 && Par.rangeWidth(spark, 16) == 16)
      val p2 = planOf("q_s2_range_partition")
      val range2 = p2.linesIterator.filter(_.contains("rangepartitioning")).toSeq
      assert(range2.nonEmpty && range2.forall(_.contains(", 16)")),
        s"floor did not hold at conf=2:\n${range2.mkString("\n")}")
    } finally spark.conf.set(conf, old)
  }

  test("span excise: canonical marking is an aggregate on fp, never a per-fp window") {
    // r14 verdict watch item: a boilerplate span repeated across millions
    // of documents is ONE window partition under Window.partitionBy(fp).
    // The scale-safe form is min(struct(doc_id, st)) + min/max(doc_id) in
    // a grouped aggregate (O(1) state per fp through map-side partials)
    // joined back to the instances; the only windows left partition by
    // doc_id (bounded by document length — the islands merge).
    val p = planOf("q_span_excise")
    val fpWindows = p.linesIterator
      .filter(_.contains("windowspecdefinition(fp"))
    assert(fpWindows.isEmpty,
      s"per-fingerprint window (hot-span skew at scale) leaked back:\n${fpWindows.mkString("\n")}")
    // min(struct) has no mutable hash buffer, so the canonical marking
    // plans as SortAggregate(key=[fp#..]) — partials collapse each
    // mapper's instances of a fingerprint to ONE row, so the final side
    // sees <= numPartitions rows per fp no matter how hot the span
    assert(p.linesIterator.exists(l =>
      (l.contains("Aggregate(keys=[fp") || l.contains("Aggregate(key=[fp")) &&
        l.contains("min(")),
      s"canonical-instance aggregate on fp missing:\n${p.take(6000)}")
  }

  test("whole-stage codegen survives around the spatial expressions") {
    // the spatial expressions must not disable codegen for the rest of
    // the plan: the executed flagship still contains WholeStageCodegen
    // spans. (AQE materializes codegen stages only after execution.)
    val df = SparkEntry.queries("q_geo_flagship")(spark, dir)
    df.collect() // count() would plan a different execution; execute THIS one
    val p = df.queryExecution.executedPlan.toString
    // codegen'd operators print as "*(n) Op" in the final adaptive plan
    assert(p.contains("isFinalPlan=true") && p.contains("*("), p.take(2000))
  }
}
