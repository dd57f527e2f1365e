package graft.ops

import graft.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's flagship spatial-aggregation pipeline, re-expressed
  * Spark-first (reference: spark_job/process_geodata.py:98-144 —
  * broadcast equi join → spatial derive → grouped geometric union →
  * intersection → reproject → area → final projection).
  */
object Pipelines {

  /** Flagship pipeline over synthesized parcels/regions (GeoFixtures).
    *
    * Plan shape vs the reference: the reference groups by
    * (region_id, season_id, land_type_id, geo_region_mod), carrying the
    * region polygon WKB through the shuffle as a grouping key
    * (process_geodata.py:110-114). Since the region geometry is
    * functionally dependent on region_id (both derive from the same
    * regions row), grouping by the three integer keys and broadcast-joining
    * the 25-row region table AFTER the aggregate is semantically identical
    * and strictly cheaper at scale: the exchange carries integers + the
    * partial union buffers, never the region polygon; the region WKT is
    * parsed 25 times instead of once per fact row; and the post-agg join
    * touches only #groups rows.
    *
    * The exchanges depend on the scan's width (see [[Par.fanOut]]):
    *  - narrow scan (fewer splits than cores, the local corpus): the
    *    integer scan is range-partitioned on the three keys before any
    *    geometry is built. That one exchange satisfies both the union
    *    aggregate's clustering and the final `orderBy`, so the plan has
    *    a single shuffle carrying integers only, and union, clip,
    *    reprojection and area run once, over every core;
    *  - wide scan (production): no widen; map-side partial union (the
    *    TypedImperativeAggregate) bounds the payload of the hash
    *    exchange on the keys, and the `orderBy` adds a range exchange
    *    over the #groups aggregated rows.
    *
    * @param gapBuffer the reference's gap-sealing buffer distance
    *                  (1e-7 at process_geodata.py:102). 0.0 skips the
    *                  buffer entirely — on the already-valid fixture
    *                  rectangles buffer(0) is a per-row no-op that would
    *                  dominate runtime, and it keeps shapes closed-form
    *                  for the DuckDB oracle.
    * @param roundTo   decimal places for the output area.
    * @param to5880    reproject EPSG:3857→5880 before measuring area (the
    *                  reference's full chain, process_geodata.py:120-139).
    *                  false keeps areas in EPSG:3857 m² — closed-form
    *                  (disjoint 400 m parcels => area = 160000 · #parcels).
    */
  def flagship(spark: SparkSession, dir: String, gapBuffer: Double = 0.0,
               roundTo: Int = 2, to5880: Boolean = true): DataFrame =
    flagshipMeasured(spark, dir, gapBuffer, to5880)
      .select(col("region_id"), col("season_id"), col("land_type_id"),
        round(col("area"), roundTo).as("area"))
      .orderBy(col("region_id"), col("season_id"), col("land_type_id"))

  /** The full pipeline with the UNROUNDED measured area, shared by the
    * rounded public face and the bucketed 5880 oracle face.
    *
    * The region table is joined once, after the aggregate (one broadcast
    * hash join). That inner join on `region_id` keeps the reference's
    * inner-join semantics: `region_id` is a group key, so a group whose
    * key has no region row drops out there, exactly as its fact rows
    * would have dropped out of a join before the aggregate, and a null
    * key fails both joins alike. */
  private[ops] def flagshipMeasured(spark: SparkSession, dir: String,
                                    gapBuffer: Double, to5880: Boolean): DataFrame = {
    import GeoFixtures._
    // compute the group keys on the integer scan and fan out on them
    // BEFORE the per-row JTS kernel (WKT build/parse/makevalid): the
    // single-row-group local file otherwise plans the whole map side onto
    // ≤3 tasks, and a range exchange on the keys is the one shuffle the
    // aggregate and the final orderBy both need (no-op at production
    // scale, see Par.fanOut)
    val keys = Seq(col("region_id"), col("season_id"), col("land_type_id"))
    val li = Par.fanOut(Tables.table(spark, dir, "lineitem")
      .select((col("l_partkey") % 25).cast("int").as("region_id"),
        (month(col("l_shipdate")) % 4).cast("int").as("season_id"),
        (col("l_partkey") % 7).cast("int").as("land_type_id"),
        col("l_orderkey"), col("l_linenumber")), keys: _*)
    val rawParcel = st_makevalid(st_geomfromwkt(
      parcelWkt(col("region_id"), parcelIdx(col("l_orderkey"), col("l_linenumber")))))
    val parcels = li.select(keys :+
      (if (gapBuffer != 0.0) st_buffer(rawParcel, lit(gapBuffer)) else rawParcel)
        .as("geo_land_use_mod"): _*)

    // 25-row dimension: parse the region polygon once per region, here,
    // not once per fact row after the join (J1 broadcast, like the
    // reference's F.broadcast at process_geodata.py:101)
    val regions = Tables.table(spark, dir, "nation")
      .select(col("n_nationkey").cast("int").as("id"),
        st_makevalid(st_geomfromwkt(regionWkt(col("n_nationkey")))).as("geo_region_mod"))

    val unioned = parcels
      .groupBy(keys: _*)
      .agg(st_makevalid(st_union_agg(col("geo_land_use_mod"))).as("geo_union"))

    val clipped = unioned
      .join(broadcast(regions), unioned("region_id") === regions("id"), "inner")
      .withColumn("clip",
        st_makevalid(st_intersection(col("geo_union"), col("geo_region_mod"))))
    val measured =
      if (to5880) clipped.withColumn("area",
        st_area(st_transform(col("clip"), "EPSG:3857", "EPSG:5880")))
      else clipped.withColumn("area", st_area(col("clip")))
    measured
      .select(col("region_id"), col("season_id"), col("land_type_id"), col("area"))
  }

  /** Spatial-join rollup: parcels ⋈ regions ON st_intersects, written as a
    * PLAIN DECLARATIVE JOIN — `join(broadcast(regions), st_intersects(…))`
    * — and planned by graft.plans.SpatialJoinStrategy into the broadcast
    * R-tree physical operator (PlanShapeSpec asserts the exec node; without
    * the strategy this exact plan is BroadcastNestedLoopJoin, O(|L|·|R|)).
    * On the fixture geometry every parcel intersects exactly its own
    * region (regions are disjoint 50 km cells on a 60 km grid; parcels lie
    * strictly inside), so the result is closed-form: the per-region
    * fact-row count. */
  /** The shared probe side of every spatial-join query: fact rows fanned
    * out BEFORE the per-row envelope/WKB projection (geometry construction
    * is the expensive kernel and must not run on the handful of scan
    * tasks — see Par.fanOut), geometry built directly from numeric columns
    * (st_makeenvelope — the probe side has no reason to round-trip WKT).
    * `own_region` is the fixture's closed-form answer key, used by the
    * semi rollup and oracle mirrors. */
  private def parcelRelation(spark: SparkSession, dir: String): DataFrame = {
    import GeoFixtures._
    val li = Par.fanOut(Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey")))
    val px0 = parcelX0(col("l_partkey") % 25, parcelIdx(col("l_orderkey"), col("l_linenumber")))
    val py0 = parcelY0(col("l_partkey") % 25, parcelIdx(col("l_orderkey"), col("l_linenumber")))
    li.select(
      (col("l_partkey") % 25).cast("int").as("own_region"),
      // integral origin coordinates ride along for consumers that compute
      // exact rectangle arithmetic on the matches (e.g. the kNN rollup);
      // Catalyst prunes them from every query that selects them away
      px0.cast("long").as("px0"),
      py0.cast("long").as("py0"),
      st_makeenvelope(px0.cast("double"), py0.cast("double"),
        (px0 + lit(GeoFixtures.ParcelSize)).cast("double"),
        (py0 + lit(GeoFixtures.ParcelSize)).cast("double"))
        .as("parcel_geom"))
  }

  /** The broadcast dimension side: region polygons from WKT. */
  private def regionRelation(spark: SparkSession, dir: String): DataFrame = {
    import GeoFixtures._
    Tables.table(spark, dir, "nation")
      .select(col("n_nationkey").cast("int").as("region_id"),
        regionX0(col("n_nationkey")).cast("long").as("rx0"),
        regionY0(col("n_nationkey")).cast("long").as("ry0"),
        st_makevalid(st_geomfromwkt(regionWkt(col("n_nationkey")))).as("region_geom"))
  }

  /** Areal interpolation (area-weighted reaggregation, Goodchild &amp; Lam
    * 1980 — the GIS standard for moving an attribute between
    * incompatible zone systems, e.g. census tracts → grid cells): each
    * target zone receives Σ over source zones of value·(∩area/source
    * area). Composed entirely from the engine's own operators — the
    * declarative broadcast R-tree `st_intersects` join
    * ([[graft.plans.SpatialJoinStrategy]] plans it), `st_intersection` +
    * `st_area` for the overlap weight, and a grouped weighted sum.
    *
    * Exactness: fixture zones are axis-aligned integer-meter rectangles,
    * so every intersection area is an exact integer, the source area is
    * the constant 50 km² = 2.5e9, and the allocation is emitted as
    * (1000·Σv·∩) DIV 2.5e9 in DECIMAL(38,0) lanes.
    *
    * Scale shape: the data-sized pass is the source-value rollup; the
    * zone-pair stage is |sources|×|targets| through the R-tree join
    * (never all-pairs at scale — the tree prunes), output |targets|. */
  def arealInterp(spark: SparkSession, dir: String): DataFrame = {
    val vals = Par.fanOut(Tables.table(spark, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity")))
      .select((col("l_partkey") % 25L).cast("int").as("region_id"),
        col("l_quantity").cast("long").as("q"))
      .groupBy(col("region_id")).agg(sum(col("q")).as("v"))
    val src = regionRelation(spark, dir)
      .join(vals, Seq("region_id"), "left")
      .withColumn("v", coalesce(col("v"), lit(0L)))
    val tgt = spark.range(9)
      .select(col("id").cast("int").as("zone_id"),
        (lit(-6300000L) + (col("id") % 3).cast("long") * 100000L).as("tx0"),
        (lit(-2000000L) + expr("CAST(id DIV 3 AS LONG)") * 100000L).as("ty0"))
      .withColumn("zone_geom", st_makeenvelope(
        col("tx0").cast("double"), col("ty0").cast("double"),
        (col("tx0") + 100000L).cast("double"), (col("ty0") + 100000L).cast("double")))
    tgt.join(broadcast(src), st_intersects(col("zone_geom"), col("region_geom")))
      .withColumn("inter",
        st_area(st_intersection(col("zone_geom"), col("region_geom"))).cast("long"))
      .groupBy(col("zone_id"))
      .agg(count(lit(1)).as("n_sources"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * inter")).as("wsum"))
      .withColumn("alloc_milli",
        expr("CAST((1000 * wsum) DIV 2500000000 AS BIGINT)"))
      .select(col("zone_id"), col("n_sources"), col("alloc_milli"))
      .orderBy(col("zone_id"))
  }

  /** Integer closed form: axis overlap lengths of the 50 km source
    * squares against the 100 km target grid decide both membership
    * (≥ 0, touch included — JTS intersects on closed rectangles) and
    * the weight (ox·oy). */
  val arealInterpOracleSql: String =
    """WITH v AS (
      |  SELECT l_partkey % 25 AS r,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
      |  FROM lineitem GROUP BY r),
      |src AS (
      |  SELECT n_nationkey AS region_id,
      |    -6300000 + (n_nationkey % 5) * 60000 AS rx0,
      |    -2000000 + (n_nationkey // 5) * 60000 AS ry0,
      |    coalesce(v.v, 0) AS v
      |  FROM nation LEFT JOIN v ON v.r = n_nationkey),
      |tgt AS (
      |  SELECT t.range AS zone_id,
      |    -6300000 + (t.range % 3) * 100000 AS tx0,
      |    -2000000 + (t.range // 3) * 100000 AS ty0
      |  FROM range(9) t),
      |p AS (
      |  SELECT zone_id,
      |    least(rx0 + 50000, tx0 + 100000) - greatest(rx0, tx0) AS ox,
      |    least(ry0 + 50000, ty0 + 100000) - greatest(ry0, ty0) AS oy,
      |    v
      |  FROM tgt, src
      |  WHERE least(rx0 + 50000, tx0 + 100000) >= greatest(rx0, tx0)
      |    AND least(ry0 + 50000, ty0 + 100000) >= greatest(ry0, ty0))
      |SELECT CAST(zone_id AS INTEGER) AS zone_id, count(*) AS n_sources,
      |  CAST((1000 * sum(CAST(v AS HUGEINT) * (ox * oy))) // 2500000000
      |    AS BIGINT) AS alloc_milli
      |FROM p GROUP BY zone_id ORDER BY zone_id""".stripMargin

  /** Probe side deduped to distinct parcel SLOTS with a multiplicity
    * weight (r18, the [[parcelSlotRelation]] kNN precedent extended to
    * the whole spatial-rollup family): duplicate probe rows of one slot
    * have an identical geometry, hence an identical match set, and the
    * join emits each (probe row, region) match exactly once — so
    * `count(*)` over raw rows equals `sum(m)` over slots, while the
    * R-tree kernel probes 62.5k slots instead of 600k rows (and the gap
    * grows with scale: slots are fixed by the fixture arithmetic). The
    * oracle already aggregates the closed form over raw lineitem rows,
    * unchanged. */
  def spatialJoinRollup(spark: SparkSession, dir: String): DataFrame = {
    parcelSlotRelation(spark, dir).select(col("parcel_geom"), col("m"))
      .join(broadcast(regionRelation(spark, dir)),
        st_intersects(col("parcel_geom"), col("region_geom")))
      .groupBy(col("region_id"))
      .agg(sum(col("m")).as("n"))
      .orderBy(col("region_id"))
  }

  val spatialJoinOracleSql: String =
    """SELECT CAST(l_partkey % 25 AS INTEGER) AS region_id, count(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Distance join: parcels ⋈ regions ON st_dwithin(parcel, region, d),
    * planned by SpatialJoinStrategy as the broadcast R-tree operator with
    * the probe envelope expanded by d and exact JTS distance as the
    * post-filter (PlanShapeSpec asserts the exec node).
    *
    * d = 10700 m is chosen against the fixture grid (GeoFixtures: 50 km
    * regions on a 60 km step → 10 000 m gaps; 400 m parcels on a 1 km
    * cell grid) so the match set is closed-form AND the distance
    * semantics are actually exercised: every parcel matches its own
    * region (distance 0), an edge-column parcel also matches the adjacent
    * region — gap 10 000 m (col/row 0) or 10 600 m (col/row 49), both
    * <= d — while second-column parcels (11 000 m) and diagonal regions
    * (≥ 14 142 m) stay out. No gap equals d, so no FP boundary cases. */
  def spatialDWithinRollup(spark: SparkSession, dir: String, d: Double = 10700.0): DataFrame = {
    // slot dedup + multiplicity weight: see spatialJoinRollup
    parcelSlotRelation(spark, dir).select(col("parcel_geom"), col("m"))
      .join(broadcast(regionRelation(spark, dir)),
        st_dwithin(col("parcel_geom"), col("region_geom"), lit(d)))
      .groupBy(col("region_id"))
      .agg(sum(col("m")).as("n"))
      .orderBy(col("region_id"))
  }

  /** st_dwithin join with a NON-FOLDABLE per-row distance COLUMN
    * (Sedona's ST_DWithin join accepts a distance column the same way):
    * each parcel carries its own search radius — NULL for a sparse
    * deterministic subset (matches NOTHING, SQL null-predicate
    * semantics), 10700 m on even (c+w) parity (reaches the adjacent
    * region from edge parcels, like the foldable variant), 9000 m
    * otherwise (own region only: the inter-region gap is ≥ 10000 m).
    * Planned by SpatialJoinStrategy as the broadcast R-tree exec with
    * the distance expression bound to the PROBE row — each probe expands
    * its own envelope query (asserted in PlanShapeSpec). */
  def spatialDWithinColRollup(spark: SparkSession, dir: String): DataFrame = {
    import GeoFixtures._
    // slot dedup + multiplicity weight (see spatialJoinRollup); the
    // per-row radius is a pure function of the slot origin (c, w derive
    // from px0/py0), so duplicate rows of a slot carry the same dist_m
    // and the weighted rewrite is exact
    val parcels = parcelSlotRelation(spark, dir)
      .withColumn("c", expr(s"CAST(((px0 - $RegionX0) % $RegionStep) DIV $ParcelCell AS INT)"))
      .withColumn("w", expr(s"CAST(((py0 - $RegionY0) % $RegionStep) DIV $ParcelCell AS INT)"))
      .withColumn("dist_m", expr(
        "CASE WHEN (c * 7 + w) % 97 = 13 THEN CAST(NULL AS DOUBLE) " +
          "WHEN (c + w) % 2 = 0 THEN 10700.0D ELSE 9000.0D END"))
      .select(col("parcel_geom"), col("dist_m"), col("m"))
    parcels
      .join(broadcast(regionRelation(spark, dir)),
        st_dwithin(col("parcel_geom"), col("region_geom"), col("dist_m")))
      .groupBy(col("region_id"))
      .agg(sum(col("m")).as("n"))
      .orderBy(col("region_id"))
  }

  /** Closed-form mirror of the per-row-distance match set: non-null rows
    * match their own region always; edge parcels reach the adjacent
    * region only on the 10700 m (even-parity) branch. */
  val spatialDWithinColOracleSql: String =
    """WITH f AS (
      |  SELECT CAST(l_partkey % 25 AS INTEGER) AS r,
      |         CAST(((l_orderkey * 7 + l_linenumber) % 2500) % 50 AS INTEGER) AS c,
      |         CAST(((l_orderkey * 7 + l_linenumber) % 2500) // 50 AS INTEGER) AS w
      |  FROM lineitem),
      |g AS (
      |  SELECT r, c, w, ((c * 7 + w) % 97 = 13) AS dist_null,
      |         ((c + w) % 2 = 0) AS reach
      |  FROM f),
      |m AS (
      |  SELECT r AS region_id FROM g WHERE NOT dist_null
      |  UNION ALL SELECT r - 1 FROM g WHERE NOT dist_null AND reach AND c = 0  AND r % 5 > 0
      |  UNION ALL SELECT r + 1 FROM g WHERE NOT dist_null AND reach AND c = 49 AND r % 5 < 4
      |  UNION ALL SELECT r - 5 FROM g WHERE NOT dist_null AND reach AND w = 0  AND r // 5 > 0
      |  UNION ALL SELECT r + 5 FROM g WHERE NOT dist_null AND reach AND w = 49 AND r // 5 < 4)
      |SELECT region_id, count(*) AS n FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  /** Closed-form mirror of the d=10700 match set: own region always;
    * the four adjacent regions exactly when the parcel sits in the
    * first/last parcel column/row AND that neighbor exists in the 5×5
    * region grid. */
  val spatialDWithinOracleSql: String =
    """WITH f AS (
      |  SELECT CAST(l_partkey % 25 AS INTEGER) AS r,
      |         CAST(((l_orderkey * 7 + l_linenumber) % 2500) % 50 AS INTEGER) AS c,
      |         CAST(((l_orderkey * 7 + l_linenumber) % 2500) // 50 AS INTEGER) AS w
      |  FROM lineitem),
      |m AS (
      |  SELECT r AS region_id FROM f
      |  UNION ALL SELECT r - 1 FROM f WHERE c = 0  AND r % 5 > 0
      |  UNION ALL SELECT r + 1 FROM f WHERE c = 49 AND r % 5 < 4
      |  UNION ALL SELECT r - 5 FROM f WHERE w = 0  AND r // 5 > 0
      |  UNION ALL SELECT r + 5 FROM f WHERE w = 49 AND r // 5 < 4)
      |SELECT region_id, count(*) AS n FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  /** Spatial semi join (spatial FILTERING, not enrichment): keep parcels
    * that intersect ANY region of a flagged subset (region_id < 10),
    * planned as the broadcast R-tree exec in semi mode — each parcel
    * probes the index and is emitted at most once, short-circuiting on
    * the first match; no join-side row duplication ever reaches the
    * aggregate. Fixture arithmetic: a parcel intersects exactly its own
    * region, so the kept set is parcels whose own region is flagged. */
  /** The bare semi join (pre-aggregate), exposed so PlanShapeSpec can
    * assert the semi exec's output schema is the probe side only. */
  private[ops] def spatialSemiJoined(spark: SparkSession, dir: String): DataFrame = {
    val flagged = regionRelation(spark, dir)
      .filter(col("region_id") < 10).select(col("region_geom"))
    // slot dedup + multiplicity weight (see spatialJoinRollup): the semi
    // join keeps a slot iff its geometry matches a flagged region, and
    // every raw row of that slot would have been kept identically — the
    // kept multiplicity is exactly m
    parcelSlotRelation(spark, dir)
      .select(col("own_region"), col("m"), col("parcel_geom"))
      .join(broadcast(flagged),
        st_intersects(col("parcel_geom"), col("region_geom")), "left_semi")
  }

  def spatialSemiRollup(spark: SparkSession, dir: String): DataFrame =
    spatialSemiJoined(spark, dir)
      .groupBy(col("own_region"))
      .agg(sum(col("m")).as("n"))
      .orderBy(col("own_region"))

  val spatialSemiOracleSql: String =
    """SELECT CAST(l_partkey % 25 AS INTEGER) AS own_region, count(*) AS n
      |FROM lineitem WHERE l_partkey % 25 < 10
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Spatial k-nearest-neighbour join (Sedona `ST_KNN` analogue): each
    * parcel row matches its k=3 nearest regions by exact JTS distance,
    * via [[SpatialJoin.broadcastKnn]] (broadcast R-tree, branch-and-bound
    * kNN per probe, probe side never shuffles).
    *
    * The rollup is deliberately TIE-INVARIANT so the DuckDB oracle is
    * bit-exact: kNN ties at the k boundary are broken arbitrarily in any
    * engine, so instead of emitting match identities it aggregates the
    * per-pair SQUARED rectangle distance — an exact BIGINT from the
    * integral fixture coordinates (dx² + dy² with dx = axis gap), whose
    * per-probe top-k multiset sum is identical under any tie break.
    * Ordering by JTS double distance equals ordering by integer d²:
    * sqrt is strictly monotone and injective at these magnitudes.
    *
    * Since r13 the entry point is the STATS-ROUTED [[SpatialJoin.knn]]:
    * the 25-row region side is estimate-small under
    * `autoBroadcastJoinThreshold`, so the router plans the broadcast
    * R-tree variant here — the same declarative call plans the grid
    * decomposition in [[spatialKnnPartitionedRollup]]. */
  def spatialKnnRollup(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    knnPairsRollup(SpatialJoin.knn(
      parcelSlotRelation(spark, dir), regionRelation(spark, dir),
      "parcel_geom", "region_geom", k, cellSize = 60000.0,
      outputCols = Seq("own_region", "m", "px0", "py0", "rx0", "ry0")))

  /** Probe-side DEDUP-BEFORE-KERNEL for the kNN rollups (r18, guide §2.2
    * "shuffle fewer bytes" / §8 "decide with small rows"): lineitem probe
    * rows are NOT key-unique — every (own_region, px0, py0) parcel slot
    * recurs ~10× at sf0.1 (600k rows over 62.5k distinct slots, and the
    * multiplicity GROWS with scale while the slot count is fixed by the
    * fixture arithmetic). Duplicate rows of one slot have an identical
    * probe geometry, hence an identical kNN d² multiset (the rollup is
    * tie-invariant: ties at the k boundary have EQUAL d², so any tie
    * break yields the same multiset — the spatialKnnRollup exactness
    * argument). Pre-aggregating to distinct slots with a multiplicity
    * weight before the kernel is therefore value-identical — it is
    * literally the shape of the DuckDB oracle (`WITH p AS (SELECT ...,
    * count(*) AS m ... GROUP BY 1,2,3)`) — and shrinks the kNN kernel's
    * probe side ~10×: one cheap map-side-partial aggregate of 20-byte
    * rows buys a 10× cut in R-tree probes / candidate pairs / window
    * rows. The envelope is rebuilt from the slot origin (bit-identical
    * doubles: exact integers), so the kernel sees the same geometry. */
  private def parcelSlotRelation(spark: SparkSession, dir: String): DataFrame = {
    import GeoFixtures._
    // deliberately NOT parcelRelation: fanOut's round-robin repartition
    // would spread each slot's duplicates across tasks and destroy
    // map-side partial aggregation (measured: 600k rows in → 518k
    // partials out); aggregating straight off the scan reduces to ≤
    // |slots| per scan task before the one exchange, and the heavy
    // envelope build runs AFTER the dedup on the slot rows only
    val li = Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    val ex0 = parcelX0(col("l_partkey") % 25, parcelIdx(col("l_orderkey"), col("l_linenumber")))
    val ey0 = parcelY0(col("l_partkey") % 25, parcelIdx(col("l_orderkey"), col("l_linenumber")))
    val px0 = col("px0")
    val py0 = col("py0")
    li.select(
        (col("l_partkey") % 25).cast("int").as("own_region"),
        ex0.cast("long").as("px0"),
        ey0.cast("long").as("py0"))
      .groupBy(col("own_region"), px0, py0)
      .agg(count(lit(1)).as("m"))
      .withColumn("parcel_geom",
        st_makeenvelope(px0.cast("double"), py0.cast("double"),
          (px0 + lit(ParcelSize)).cast("double"),
          (py0 + lit(ParcelSize)).cast("double")))
  }

  /** The SAME declarative [[SpatialJoin.knn]] call routed to the
    * grid-partitioned plan — the broadcast threshold is suppressed for
    * the call (the build side is then stats-large by definition), which
    * is exactly how a 100 TB-build-side job presents: neither side
    * broadcasts, the build side shuffles once on its reference cell and
    * each probe derives its candidate cells from the broadcast per-cell
    * histogram. Cell pitch 60 km = the fixture's region step, so every
    * region owns one reference cell, the per-probe prefix is 1-3 cells,
    * and the candidate neighborhoods stay tiny while ring-walking across
    * empty cells is still exercised (region cells cover only 25 of the
    * probe-reachable grid). Same tie-invariant integer-d² rollup, same
    * closed-form oracle as the broadcast variant: same result, different
    * physical plan — that is the point (the device of
    * q_spatial_join_partitioned). */
  def spatialKnnPartitionedRollup(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try
      knnPairsRollup(SpatialJoin.knn(
        parcelSlotRelation(spark, dir), regionRelation(spark, dir),
        "parcel_geom", "region_geom", k, cellSize = 60000.0,
        outputCols = Seq("own_region", "m", "px0", "py0", "rx0", "ry0")))
    finally conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Tie-invariant aggregate over kNN pairs (see [[spatialKnnRollup]]'s
    * exactness argument): per-pair SQUARED rectangle distance in exact
    * BIGINT from the fixture coordinates, summed per region — weighted by
    * the probe slot's row multiplicity `m` since the r18 dedup-before-
    * kernel rewrite ([[parcelSlotRelation]]): n = Σm replaces count(*),
    * sum_d2 = Σ m·d² replaces Σd², exactly the oracle's own weighting. */
  private def knnPairsRollup(pairs: DataFrame): DataFrame = {
    import GeoFixtures._
    val dx = greatest(lit(0L), col("rx0") - (col("px0") + lit(ParcelSize)),
      col("px0") - (col("rx0") + lit(RegionSize)))
    val dy = greatest(lit(0L), col("ry0") - (col("py0") + lit(ParcelSize)),
      col("py0") - (col("ry0") + lit(RegionSize)))
    pairs
      .withColumn("d2", dx * dx + dy * dy)
      .groupBy(col("own_region"))
      .agg(sum(col("m")).as("n"), sum(col("m") * col("d2")).as("sum_d2"))
      .orderBy(col("own_region"))
  }

  // def, not val: spatialKnnOracleSql is declared later in this object and
  // a val here would capture its pre-init null
  def spatialKnnPartitionedOracleSql: String = spatialKnnOracleSql

  /** Mirror of the k=3 kNN rollup: every (parcel slot, region) distance is
    * closed-form rectangle arithmetic; rank per distinct parcel slot by d²
    * and keep 3, weighting by the slot's probe-row multiplicity (lineitem
    * rows are NOT key-unique in the synthetic corpus, and duplicate rows
    * of the same slot have identical kNN sets). The aggregate is
    * tie-break independent (see spatialKnnRollup). */
  val spatialKnnOracleSql: String =
    """WITH p AS (
      |  SELECT CAST(l_partkey % 25 AS INTEGER) AS own_region,
      |         -6300000 + (l_partkey % 25) % 5 * 60000
      |           + ((l_orderkey * 7 + l_linenumber) % 2500) % 50 * 1000 AS px0,
      |         -2000000 + (l_partkey % 25) // 5 * 60000
      |           + ((l_orderkey * 7 + l_linenumber) % 2500) // 50 * 1000 AS py0,
      |         count(*) AS m
      |  FROM lineitem GROUP BY 1, 2, 3),
      |r AS (
      |  SELECT -6300000 + n_nationkey % 5 * 60000 AS rx0,
      |         -2000000 + n_nationkey // 5 * 60000 AS ry0
      |  FROM nation),
      |d AS (
      |  SELECT own_region, px0, py0, m,
      |         greatest(0, rx0 - (px0 + 400), px0 - (rx0 + 50000)) AS dx,
      |         greatest(0, ry0 - (py0 + 400), py0 - (ry0 + 50000)) AS dy
      |  FROM p CROSS JOIN r),
      |ranked AS (
      |  SELECT own_region, m, dx*dx + dy*dy AS d2,
      |         row_number() OVER (PARTITION BY own_region, px0, py0
      |                            ORDER BY dx*dx + dy*dy) AS rn
      |  FROM d)
      |SELECT own_region, CAST(sum(m) AS BIGINT) AS n,
      |       CAST(sum(m * d2) AS BIGINT) AS sum_d2
      |FROM ranked WHERE rn <= 3
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The same parcels ⋈ regions intersects join as [[spatialJoinRollup]],
    * but through the partitioned (large-large) grid join — neither side
    * broadcasts; both shuffle once on the grid cell. Cell pitch 25 km:
    * the 50 km regions land on 3×3 cells (the fixture grid is
    * 25 km-aligned), the 400 m parcels on 1-4, and a parcel shares a cell
    * only with its own region (adjacent regions start ≥ 10 km away,
    * across a cell boundary), so the match set — and the oracle — is the
    * same closed form as the broadcast variant. Same result, different
    * physical plan: that is the point. */
  def spatialJoinPartitionedRollup(spark: SparkSession, dir: String): DataFrame =
    // slot dedup + multiplicity weight: see spatialJoinRollup (the grid
    // join's reference-point rule emits each (slot, region) pair once,
    // so sum(m) equals the raw-row count exactly)
    SpatialJoin.gridIntersects(
        parcelSlotRelation(spark, dir).select(col("parcel_geom"), col("m")),
        regionRelation(spark, dir),
        col("parcel_geom"), col("region_geom"), cellSize = 25000.0)
      .groupBy(col("region_id"))
      .agg(sum(col("m")).as("n"))
      .orderBy(col("region_id"))

  val spatialJoinPartitionedOracleSql: String = spatialJoinOracleSql

  /** Partitioned large-large DISTANCE join (`SpatialJoin.gridDWithin`,
    * d = 10700): the scale path a declarative `st_dwithin` join whose
    * build side is too large to broadcast routes to — left envelopes
    * expand by d before the cell cover, one cell equi join,
    * envelope-within-d prefilter, exact st_dwithin, reference-point
    * dedup. Same match set as the broadcast variant, so
    * the same closed-form oracle gates both plans. */
  def spatialDWithinPartitionedRollup(spark: SparkSession, dir: String): DataFrame =
    // slot dedup + multiplicity weight: see spatialJoinRollup
    SpatialJoin.gridDWithin(
        parcelSlotRelation(spark, dir).select(col("parcel_geom"), col("m")),
        regionRelation(spark, dir),
        col("parcel_geom"), col("region_geom"), lit(10700.0), cellSize = 25000.0)
      .groupBy(col("region_id"))
      .agg(sum(col("m")).as("n"))
      .orderBy(col("region_id"))

  val spatialDWithinPartitionedOracleSql: String = spatialDWithinOracleSql

  /** Closed-form oracle for `flagship(to5880 = false, gapBuffer = 0)`:
    * parcels are disjoint 400 m squares fully inside their region, so the
    * clipped union area is exactly 160000 · count(DISTINCT parcel index). */
  val flagshipOracleSql: String =
    """SELECT CAST(l_partkey % 25 AS INTEGER) AS region_id,
      |       CAST(month(l_shipdate) % 4 AS INTEGER) AS season_id,
      |       CAST(l_partkey % 7 AS INTEGER) AS land_type_id,
      |       ROUND(count(DISTINCT (l_orderkey * 7 + l_linenumber) % 2500) * 160000.0, 2) AS area
      |FROM lineitem JOIN nation ON (l_partkey % 25) = n_nationkey
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Funnel for the EPSG:5880 flagship (the reference's HEADLINE
    * computation, process_geodata.py:122-138): group areas bucketed at
    * 1000 m² with the bucket boundary PHASED into the widest empirical
    * gap of the fixture's area values.
    *
    * Why a phased bucket and not a plain ROUND: the 2099 group areas
    * across sf0.001/0.01/0.1 have uniformly-distributed fractional parts
    * at every grid size, so any un-phased rounding leaves some group
    * within engine-divergence distance of a boundary. Placing the
    * boundary mid-gap (widest circular gap 4.86 m² at this grid) gives a
    * measured ≥2.43 m² clearance for EVERY fixture group value, vs
    * ≤0.005 m² measured Spark-pipeline ↔ DuckDB-closed-form divergence
    * at sf0.01 (~250× headroom; `QueriesSpec` asserts a ≥1 m² margin
    * over all groups at runtime — a new scale factor whose group lands
    * nearer a boundary than that fails the spec, not the gate). */
  private[ops] val Bucket5880Size = 1000.0
  private[ops] val Bucket5880Phase = 0.664805

  /** The 5880 pipeline with the bucketed-area oracle face: the full
    * chain (WKT build → makevalid → union agg → clip → st_transform
    * 3857→5880 → st_area) runs unchanged; only the emitted column is the
    * phased 1000 m² bucket of the measured area. */
  def flagship5880Bucketed(spark: SparkSession, dir: String): DataFrame =
    flagshipMeasured(spark, dir, gapBuffer = 0.0, to5880 = true)
      .select(col("region_id"), col("season_id"), col("land_type_id"),
        floor(col("area") / lit(Bucket5880Size) - lit(Bucket5880Phase))
          .cast("long").as("area_bucket"))
      .orderBy(col("region_id"), col("season_id"), col("land_type_id"))

  /** DuckDB mirror of the 5880 chain: per distinct parcel, transform the
    * four EPSG:3857 corners through the exact op sequence of
    * `Crs.WebMercator.inverse` → `Crs.Polyconic.forward` (constants
    * embedded as round-tripping double literals from
    * [[graft.geom.Crs.Brazil5880Consts]]), shoelace each square anchored
    * at its first transformed corner (translation kills the 1e14-scale
    * cross-product cancellation), and sum per group. Last-ulp libm-vs-JVM
    * trig drift is absorbed by the phased bucket above. */
  val flagship5880OracleSql: String = {
    val c = graft.geom.Crs.Brazil5880Consts
    // Mercator inverse then deg->rad, exactly as the JVM chain computes it
    val lam = s"(((cx / ${c.A}) * ${c.Rad2Deg}) * ${c.Deg2Rad})"
    val phi = s"(((pi()/2.0 - 2.0*atan(exp((-cy) / ${c.A}))) * ${c.Rad2Deg}) * ${c.Deg2Rad})"
    s"""WITH parcels AS (
       |  SELECT DISTINCT CAST(l_partkey % 25 AS INT) AS region_id,
       |         CAST(month(l_shipdate) % 4 AS INT) AS season_id,
       |         CAST(l_partkey % 7 AS INT) AS land_type_id,
       |         CAST(-6300000 + ((l_partkey % 25) % 5) * 60000
       |              + (((l_orderkey*7 + l_linenumber) % 2500) % 50) * 1000 AS DOUBLE) AS x0,
       |         CAST(-2000000 + ((l_partkey % 25) // 5) * 60000
       |              + (((l_orderkey*7 + l_linenumber) % 2500) // 50) * 1000 AS DOUBLE) AS y0
       |  FROM lineitem),
       |corners AS (
       |  SELECT region_id, season_id, land_type_id, x0, y0, t.ci,
       |         x0 + CASE WHEN t.ci IN (1, 2) THEN 400.0 ELSE 0.0 END AS cx,
       |         y0 + CASE WHEN t.ci IN (2, 3) THEN 400.0 ELSE 0.0 END AS cy
       |  FROM parcels, range(4) t(ci)),
       |ang AS (
       |  SELECT region_id, season_id, land_type_id, x0, y0, ci,
       |         $lam AS lam, $phi AS phi, sin($phi) AS sphi
       |  FROM corners),
       |xy AS (
       |  SELECT region_id, season_id, land_type_id, x0, y0, ci,
       |    ${c.Fe} + (${c.A} / sqrt(1.0 - ${c.E2} * sphi * sphi)) * (1.0 / tan(phi))
       |            * sin((lam - ${c.Lon0Rad}) * sphi) AS px,
       |    ${c.Fn} + (${c.A} * (${c.C0} * phi - ${c.C2} * sin(2.0 * phi)
       |                         + ${c.C4} * sin(4.0 * phi) - ${c.C6} * sin(6.0 * phi))
       |               + (${c.A} / sqrt(1.0 - ${c.E2} * sphi * sphi)) * (1.0 / tan(phi))
       |               * (1.0 - cos((lam - ${c.Lon0Rad}) * sphi))) AS py
       |  FROM ang),
       |quads AS (
       |  SELECT region_id, season_id, land_type_id, x0, y0,
       |         list(px ORDER BY ci) AS xs, list(py ORDER BY ci) AS ys
       |  FROM xy GROUP BY 1, 2, 3, 4, 5),
       |areas AS (
       |  SELECT region_id, season_id, land_type_id,
       |    abs(  (xs[2]-xs[1])*(ys[3]-ys[1]) - (xs[3]-xs[1])*(ys[2]-ys[1])
       |        + (xs[3]-xs[1])*(ys[4]-ys[1]) - (xs[4]-xs[1])*(ys[3]-ys[1]) ) / 2.0 AS pa
       |  FROM quads)
       |SELECT region_id, season_id, land_type_id,
       |       CAST(floor(sum(pa) / ${Bucket5880Size} - ${Bucket5880Phase}) AS BIGINT) AS area_bucket
       |FROM areas GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  /** Geohash cell rollup (Sedona `ST_GeoHash` analogue): synthesize a
    * full-globe point per event on an exact dyadic 0.25° grid (quarters
    * are exactly representable, so the Spark and DuckDB derivations are
    * bit-identical IEEE arithmetic), bucket by the precision-6 geohash,
    * count per cell. At 100 TB the geohash IS the partition key — cell
    * assignment is one multiply+floor per axis, per-row, shuffle-free;
    * the single shuffle here is the rollup itself, with map-side partial
    * counts, and a prefix predicate on the cell key becomes a sort-key
    * range scan. */
  /** Hex-grid bucketing rollup (`functions.st_hexcell`, the H3-style
    * axial hex key): events synthesize planar meter coordinates on an
    * integer lattice, bucket by the 500 m hex cell, count per cell. The
    * cell math is composed column arithmetic (+,−,×,÷,√,floor,abs,CASE —
    * all correctly rounded IEEE ops), so the DuckDB oracle replays it
    * VERBATIM and matches bit-for-bit with no funnel. Scale shape:
    * per-row cell assignment is shuffle-free; the one shuffle is the
    * counting rollup on the packed key, map-side partials included. */
  def hexBuckets(spark: SparkSession, dir: String, sizeM: Double = 500.0): DataFrame = {
    val ev = Par.fanOut(Tables.table(spark, dir, "events")
      .select(col("event_id"), col("user_id")))
    val x = (col("user_id") % 100L).cast("double") * 137.0 - 6850.0
    val y = (col("event_id") % 100L).cast("double") * 173.0 - 8650.0
    val cell = graft.functions.st_hexcell(x, y, lit(sizeM))
    ev.select(cell.as("cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
      // sign-extending extraction (ANSI cast of the packed BIGINT would
      // overflow): arithmetic shifts recover signed q (high) and r (low)
      .select(shiftright(col("cell"), 32).cast("int").as("hq"),
        shiftright(shiftleft(col("cell"), 32), 32).cast("int").as("hr"), col("n"))
      .orderBy(col("hq"), col("hr"))
  }

  /** Verbatim IEEE mirror of the axial transform + cube rounding (same
    * operation order and the same floor(v+0.5) rounding). */
  val hexBucketsOracleSql: String =
    """WITH p AS (
      |  SELECT (user_id % 100) * 137.0 - 6850.0 AS x,
      |         (event_id % 100) * 173.0 - 8650.0 AS y
      |  FROM events),
      |f AS (
      |  SELECT x, y,
      |    (sqrt(3.0) / 3.0 * x - y / 3.0) / 500.0 AS qf,
      |    (y * 2.0 / 3.0) / 500.0 AS rf
      |  FROM p),
      |rnd AS (
      |  SELECT qf, rf, (-qf) - rf AS sf,
      |    floor(qf + 0.5) AS rq, floor(rf + 0.5) AS rr,
      |    floor(((-qf) - rf) + 0.5) AS rs
      |  FROM f),
      |fix1 AS (
      |  SELECT qf, rf, sf, rq, rr, rs,
      |    abs(rq - qf) AS dq, abs(rr - rf) AS dr, abs(rs - sf) AS ds
      |  FROM rnd),
      |fix2 AS (
      |  SELECT rr, rs, dq, dr, ds,
      |    CASE WHEN dq > dr AND dq > ds THEN (-rr) - rs ELSE rq END AS q
      |  FROM fix1),
      |ax AS (
      |  SELECT q,
      |    CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds THEN (-q) - rs
      |         ELSE rr END AS r
      |  FROM fix2)
      |SELECT CAST(q AS INTEGER) AS hq, CAST(r AS INTEGER) AS hr,
      |       count(*) AS n
      |FROM ax GROUP BY 1, 2 ORDER BY hq, hr""".stripMargin

  def geohashBuckets(spark: SparkSession, dir: String, precision: Int = 6): DataFrame = {
    val ev = Par.fanOut(Tables.table(spark, dir, "events")
      .select(col("event_id"), col("user_id")))
    val lon = (col("user_id") % 1440L) / lit(4.0) - lit(180.0)
    val lat = (col("event_id") % 720L) / lit(4.0) - lit(90.0)
    ev.select(st_geohash(st_point(lon, lat), lit(precision)).as("cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("cell"))
  }

  /** DuckDB replay of the precision-6 geohash: the same scaled-index
    * quantization (15 bits per axis), bit interleave (longitude leads,
    * MSB-first) and base-32 coding as [[graft.geom.Geohash.encode]], in
    * plain integer SQL — the whole encoder is oracle-verified, not just
    * spot vectors. */
  val geohashOracleSql: String =
    """WITH pts AS (
      |  SELECT CAST(floor((((user_id % 1440) / 4.0 - 180.0) + 180.0) / 360.0 * 32768.0) AS BIGINT) AS li,
      |         CAST(floor((((event_id % 720) / 4.0 - 90.0) + 90.0) / 180.0 * 32768.0) AS BIGINT) AS la
      |  FROM events
      |), iv AS (
      |  SELECT (SELECT SUM((((li >> i) & 1) << (2*i+1)) + (((la >> i) & 1) << (2*i)))
      |          FROM generate_series(0, 14) AS t(i)) AS c
      |  FROM pts
      |)
      |SELECT concat(
      |    substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((c >> 25) & 31 AS INTEGER)+1, 1),
      |    substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((c >> 20) & 31 AS INTEGER)+1, 1),
      |    substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((c >> 15) & 31 AS INTEGER)+1, 1),
      |    substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((c >> 10) & 31 AS INTEGER)+1, 1),
      |    substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((c >> 5) & 31 AS INTEGER)+1, 1),
      |    substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(c & 31 AS INTEGER)+1, 1)) AS cell,
      |  count(*) AS n
      |FROM iv GROUP BY 1 ORDER BY 1""".stripMargin

  /** Great-circle distance rollup (Sedona/PostGIS `ST_DistanceSphere`
    * analogue, [[graft.exprs.StDistanceSphere]]): events synthesize a
    * full-globe lon/lat point on an exact 10° integer grid, and each
    * OCCUPIED cell's haversine distance to a fixed Brazil-ish anchor
    * (−56 E, −17 S) is emitted in meters alongside the cell's event count.
    *
    * Float discipline: the trig runs per DISTINCT CELL (≤ 648 rows at any
    * input size), never per event — the per-event work is two integer
    * mods and one counting shuffle with map-side partials; distances are
    * ROUND(·,1)-collapsed into DECIMAL(12,1) so the last-ulp libm
    * differences between JVM and DuckDB trig vanish (the established
    * ROUND boundary law; haversine's sin²-form keeps the pre-round values
    * within ~1e-7 m of each other, far inside the 0.05 m guard).
    *
    * Scale shape: groupBy on the dense integer cell key is the ONLY
    * shuffle; the spherical math is a scalar projection over the
    * bounded-cardinality cell relation. At 100 TB the cell grid is the
    * partition key and the anchor distance is free column math. */
  def distanceSphereRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 36L).cast("int").as("gx"),
        (col("event_id") % 18L).cast("int").as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    val lon = col("gx").cast("double") * 10.0 - 175.0
    val lat = col("gy").cast("double") * 10.0 - 85.0
    cells
      .withColumn("d_m", st_distance_sphere(
        st_point(lon, lat), st_point(lit(-56.0), lit(-17.0))))
      .select(col("gx"), col("gy"), col("n"),
        round(col("d_m"), 1).cast("decimal(12,1)").as("dist_m"))
      .orderBy(col("gx"), col("gy"))
  }

  /** Verbatim haversine mirror — same operation order as
    * [[graft.exprs.StDistanceSphere.haversineMeters]] (sin²(Δ/2) form,
    * clamped asin, GRS80 mean radius), rounded through the same
    * DECIMAL(12,1) funnel. */
  val distanceSphereOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 36 AS INTEGER) AS gx,
      |         CAST(event_id % 18 AS INTEGER) AS gy, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |d AS (
      |  SELECT gx, gy, n,
      |    2 * 6371008.7714 * asin(least(1.0, sqrt(
      |      sin(radians(-17.0 - (gy * 10.0 - 85.0)) / 2)
      |        * sin(radians(-17.0 - (gy * 10.0 - 85.0)) / 2)
      |      + cos(radians(gy * 10.0 - 85.0)) * cos(radians(-17.0))
      |        * sin(radians(-56.0 - (gx * 10.0 - 175.0)) / 2)
      |        * sin(radians(-56.0 - (gx * 10.0 - 175.0)) / 2)))) AS d_m
      |  FROM g)
      |SELECT gx, gy, n, CAST(round(d_m, 1) AS DECIMAL(12,1)) AS dist_m
      |FROM d ORDER BY gx, gy""".stripMargin

  /** Ellipsoidal geodesic distance rollup
    * ([[graft.exprs.StDistanceSpheroid]], the Sedona `ST_DistanceSpheroid`
    * analogue): the same 10° full-globe grid and Brazil-ish anchor as
    * [[distanceSphereRollup]], measured with the Andoyer–Lambert
    * first-order GRS80 geodesic instead of the sphere. Same float
    * discipline (trig per DISTINCT CELL, ROUND(·,1) DECIMAL funnel; the
    * grid avoids every degenerate split — no cell shares the anchor's
    * latitude band or sits antipodal to it; the closest of the 648 fixed
    * values to a 0.05 m rounding boundary was checked at 2.4e-5 m, ~500×
    * the worst-case cross-engine libm drift for this op chain) and same
    * scale shape (ONE counting shuffle on the dense integer key). */
  def distanceSpheroidRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 36L).cast("int").as("gx"),
        (col("event_id") % 18L).cast("int").as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    val lon = col("gx").cast("double") * 10.0 - 175.0
    val lat = col("gy").cast("double") * 10.0 - 85.0
    cells
      .withColumn("d_m", st_distance_spheroid(
        st_point(lon, lat), st_point(lit(-56.0), lit(-17.0))))
      .select(col("gx"), col("gy"), col("n"),
        round(col("d_m"), 1).cast("decimal(12,1)").as("dist_m"))
      .orderBy(col("gx"), col("gy"))
  }

  /** Verbatim Andoyer–Lambert mirror — same operation order as
    * [[graft.exprs.StDistanceSpheroid.andoyerMeters]] (split chord terms
    * S/C, ω = atan√(S/C), H1/H2 flattening corrections on GRS80 a and f),
    * rounded through the same DECIMAL(12,1) funnel. */
  val distanceSpheroidOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 36 AS INTEGER) AS gx,
      |         CAST(event_id % 18 AS INTEGER) AS gy, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |t AS (
      |  SELECT gx, gy, n,
      |    radians((gy * 10.0 - 85.0) + (-17.0)) / 2 AS ff,
      |    radians((gy * 10.0 - 85.0) - (-17.0)) / 2 AS fg,
      |    radians((gx * 10.0 - 175.0) - (-56.0)) / 2 AS fl
      |  FROM g),
      |sc AS (
      |  SELECT gx, gy, n, ff, fg,
      |    sin(fg)*sin(fg)*cos(fl)*cos(fl) + cos(ff)*cos(ff)*sin(fl)*sin(fl) AS s,
      |    cos(fg)*cos(fg)*cos(fl)*cos(fl) + sin(ff)*sin(ff)*sin(fl)*sin(fl) AS c
      |  FROM t),
      |w AS (
      |  SELECT gx, gy, n, ff, fg, s, c, atan(sqrt(s / c)) AS om
      |  FROM sc),
      |d AS (
      |  SELECT gx, gy, n,
      |    (2 * om * 6378137.0) * (1 + (1.0/298.257222101) * (
      |      ((3 * (sqrt(s * c) / om) - 1) / (2 * c)) * sin(ff)*sin(ff)*cos(fg)*cos(fg)
      |    - ((3 * (sqrt(s * c) / om) + 1) / (2 * s)) * cos(ff)*cos(ff)*sin(fg)*sin(fg))) AS d_m
      |  FROM w)
      |SELECT gx, gy, n, CAST(round(d_m, 1) AS DECIMAL(12,1)) AS dist_m
      |FROM d ORDER BY gx, gy""".stripMargin

  /** Exact-geodesic rollup: the same 648-cell 10° grid → anchor lines as
    * [[distanceSpheroidRollup]], measured with `st_distance_geodesic` —
    * the EXACT WGS84 Vincenty inverse in fixed-iteration deterministic
    * mode — through the same ROUND(·,1) DECIMAL funnel. The oracle is a
    * MACHINE-GENERATED, fully-unrolled replay of all 30 λ-iterations
    * (see [[geodesicOracleSql]]): because the iteration count is fixed
    * and branch-free, the computation is one dataflow of
    * correctly-rounded ops + libm trig, so last-ulp drift stays within
    * the funnel's verified margins even where the iteration has not
    * fully converged (the near-antipodal cells). */
  def geodesicRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 36L).cast("int").as("gx"),
        (col("event_id") % 18L).cast("int").as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    val lon = col("gx").cast("double") * 10.0 - 175.0
    val lat = col("gy").cast("double") * 10.0 - 85.0
    cells
      .withColumn("d_m", st_distance_geodesic(
        st_point(lon, lat), st_point(lit(-56.0), lit(-17.0))))
      .select(col("gx"), col("gy"), col("n"),
        round(col("d_m"), 1).cast("decimal(12,1)").as("dist_m"))
      .orderBy(col("gx"), col("gy"))
  }

  /** Generator for the unrolled Vincenty mirror. Each unrolled iteration
    * replays `StDistanceGeodesic.lambdaStep`'s exact op sequence as
    * DuckDB lateral column aliases, wrapped so only the carried state
    * (gx, gy, n, l0, sinU/cosU, λ_k) escapes each CTE — intermediates
    * never collide across iterations. Constants are embedded as
    * round-tripping double literals from [[graft.exprs.StDistanceGeodesic]]. */
  val geodesicOracleSql: String = {
    import graft.exprs.StDistanceGeodesic.{Deg2Rad, E2b, Flattening, Iterations, SemiMinorM}
    val F = Flattening.toString
    val carried = "gx, gy, n, l0, su1, cu1, su2, cu2"
    def iterCte(k: Int): String =
      s"""i$k AS (SELECT $carried, lam$k FROM (
         |  SELECT $carried,
         |    sin(lam${k - 1}) AS sinlam, cos(lam${k - 1}) AS coslam,
         |    cu2 * sinlam AS t1, cu1 * su2 - su1 * cu2 * coslam AS t2,
         |    sqrt(t1 * t1 + t2 * t2) AS sinsig,
         |    su1 * su2 + cu1 * cu2 * coslam AS cossig,
         |    atan2(sinsig, cossig) AS sig,
         |    CASE WHEN sinsig = 0.0 THEN 0.0 ELSE cu1 * cu2 * sinlam / sinsig END AS sinalp,
         |    1.0 - sinalp * sinalp AS cos2alp,
         |    CASE WHEN cos2alp = 0.0 THEN 0.0
         |         ELSE cossig - 2.0 * su1 * su2 / cos2alp END AS cos2sm,
         |    $F / 16.0 * cos2alp * (4.0 + $F * (4.0 - 3.0 * cos2alp)) AS cc,
         |    l0 + (1.0 - cc) * $F * sinalp *
         |      (sig + cc * sinsig * (cos2sm + cc * cossig *
         |        (-1.0 + 2.0 * cos2sm * cos2sm))) AS lam$k
         |  FROM i${k - 1}))""".stripMargin
    val iters = (1 to Iterations).map(iterCte).mkString(",\n")
    s"""WITH g AS (
       |  SELECT CAST(user_id % 36 AS INTEGER) AS gx,
       |         CAST(event_id % 18 AS INTEGER) AS gy, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |i0 AS (SELECT $carried, lam0 FROM (
       |  SELECT gx, gy, n,
       |    (gx * 10.0 - 175.0) AS lon1,
       |    CASE WHEN (-56.0 - lon1) > 180.0 THEN (-56.0 - lon1) - 360.0
       |         WHEN (-56.0 - lon1) < -180.0 THEN (-56.0 - lon1) + 360.0
       |         ELSE (-56.0 - lon1) END * $Deg2Rad AS l0,
       |    atan((1.0 - $F) * tan((gy * 10.0 - 85.0) * $Deg2Rad)) AS uu1,
       |    atan((1.0 - $F) * tan((-17.0) * $Deg2Rad)) AS uu2,
       |    sin(uu1) AS su1, cos(uu1) AS cu1, sin(uu2) AS su2, cos(uu2) AS cu2,
       |    l0 AS lam0
       |  FROM g)),
       |$iters,
       |fin AS (SELECT gx, gy, n, d FROM (
       |  SELECT gx, gy, n,
       |    sin(lam$Iterations) AS sinlam, cos(lam$Iterations) AS coslam,
       |    cu2 * sinlam AS t1, cu1 * su2 - su1 * cu2 * coslam AS t2,
       |    sqrt(t1 * t1 + t2 * t2) AS sinsig,
       |    su1 * su2 + cu1 * cu2 * coslam AS cossig,
       |    atan2(sinsig, cossig) AS sig,
       |    CASE WHEN sinsig = 0.0 THEN 0.0 ELSE cu1 * cu2 * sinlam / sinsig END AS sinalp,
       |    1.0 - sinalp * sinalp AS cos2alp,
       |    CASE WHEN cos2alp = 0.0 THEN 0.0
       |         ELSE cossig - 2.0 * su1 * su2 / cos2alp END AS cos2sm,
       |    cos2alp * $E2b AS ua2,
       |    1.0 + ua2 / 16384.0 * (4096.0 + ua2 * (-768.0 + ua2 * (320.0 - 175.0 * ua2))) AS aa,
       |    ua2 / 1024.0 * (256.0 + ua2 * (-128.0 + ua2 * (74.0 - 47.0 * ua2))) AS bb,
       |    bb * sinsig * (cos2sm + bb / 4.0 * (cossig * (-1.0 + 2.0 * cos2sm * cos2sm)
       |      - bb / 6.0 * cos2sm * (-3.0 + 4.0 * sinsig * sinsig)
       |        * (-3.0 + 4.0 * cos2sm * cos2sm))) AS dsig,
       |    CASE WHEN sinsig = 0.0 THEN 0.0
       |         ELSE $SemiMinorM * aa * (sig - dsig) END AS d
       |  FROM i$Iterations))
       |SELECT gx, gy, n, CAST(round(d, 1) AS DECIMAL(12,1)) AS dist_m
       |FROM fin ORDER BY gx, gy""".stripMargin
  }

  /** Spherical polygon area rollup ([[graft.exprs.StAreaSphere]], the
    * Sedona/PostGIS spheroid-area analogue): each occupied 10° graticule
    * cell of the event grid is built as an exact-integer WKT rectangle and
    * measured on the GRS80 mean-radius sphere — the Chamberlain–Duquette
    * integral is EXACT for graticule rings, so the oracle mirrors the
    * same four edge terms verbatim. Same float discipline and scale shape
    * as [[distanceSphereRollup]]: integer grid keys per event, ONE
    * counting shuffle, all geometry/trig on the ≤648-row cell relation,
    * ROUND(·,1) into DECIMAL(14,1) to absorb last-ulp libm drift. */
  def areaSphereRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 36L).cast("int").as("gx"),
        (col("event_id") % 18L).cast("int").as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    val lon0 = (col("gx") * 10 - 180).cast("long")
    val lat0 = (col("gy") * 10 - 90).cast("long")
    cells
      .withColumn("a_m2", st_area_sphere(st_geomfromwkt(
        GeoFixtures.rectWkt(lon0, lat0, 10L, 10L))))
      .select(col("gx"), col("gy"), col("n"),
        // (14,1): render-safe through the driver's float64 fetch (<= 15
        // significant digits round-trip); max 10-degree cell area ~1.23e12
        // m^2 = 13 integer digits, comfortably inside
        round(col("a_m2"), 1).cast("decimal(14,1)").as("area_m2"))
      .orderBy(col("gx"), col("gy"))
  }

  /** Verbatim Chamberlain–Duquette mirror for the 10° cell rectangle:
    * the two meridian edges contribute exact zeros, leaving the two
    * parallel-edge terms in the engine's summation order. */
  val areaSphereOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 36 AS INTEGER) AS gx,
      |         CAST(event_id % 18 AS INTEGER) AS gy, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |a AS (
      |  SELECT gx, gy, n,
      |    abs(radians(10.0)
      |          * (2 + sin(radians(gy * 10.0 - 90.0)) + sin(radians(gy * 10.0 - 90.0)))
      |        + radians(-10.0)
      |          * (2 + sin(radians(gy * 10.0 - 80.0)) + sin(radians(gy * 10.0 - 80.0))))
      |      * 6371008.7714 * 6371008.7714 / 2 AS am
      |  FROM g)
      |SELECT gx, gy, n, CAST(round(am, 1) AS DECIMAL(14,1)) AS area_m2
      |FROM a ORDER BY gx, gy""".stripMargin

  /** Geodesic (meter-radius) buffer audit ([[graft.exprs.StBufferSpheroid]],
    * the Sedona `ST_Buffer(geom, d, useSpheroid=true)` analogue — the one
    * buffer a lon/lat corpus can use, since a degree-radius [[graft.functions.st_buffer]]
    * warps with latitude): each occupied grid cell's centre point is
    * buffered by 50 km through the best-local-UTM round trip
    * (lon/lat -> UTM meters -> JTS buffer -> lon/lat), then audited with
    * probe points at KNOWN great-circle distances. The east-offset probe
    * device makes the truth closed-form: for two points on the same
    * parallel, haversine collapses to d = 2R·asin(cos(lat)·sin(Δλ/2)) —
    * EXACT, so Δλ = 2·asin(sin(d/2R)/cos(lat)) places a probe at exactly
    * d meters (sphere). Probes at 0.90·r (must be contained) and 1.10·r
    * (must be excluded): the ±10% margins dominate the operator's whole
    * distortion budget (32-gon inradius cos(pi/32) ~ -0.5%, UTM scale
    * 0.9996 ± ~1e-3, sphere-vs-ellipsoid ≤ 0.3%), so the booleans are
    * deterministic and the oracle emits them as closed-form constants —
    * a wrong zone pick, a broken inverse, or a radius off by >8% all
    * flip a bit. Ring vertex count is the exact JTS contract (8 segments
    * per quadrant -> 33 ring coordinates). Cells keep |lat| <= 75 (UTM's
    * comfort band; the polar graticule is outside this operator's stated
    * domain, same stance as the CRS registry).
    *
    * Scale shape: identical to [[distanceSphereRollup]] — ONE counting
    * shuffle on the dense integer cell key; all geometry (buffer, two
    * containment probes) runs on the <=576-row cell relation. At 100 TB
    * the buffer is a per-row projection over whatever geometry column the
    * corpus carries — no shuffle is ever keyed on the buffered payload. */
  def geodesicBufferRollup(spark: SparkSession, dir: String): DataFrame = {
    val r = 50000.0
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 36L).cast("int").as("gx"),
        (col("event_id") % 18L).cast("int").as("gy"))
      .filter(col("gy").between(1, 16))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    val lon = col("gx").cast("double") * 10.0 - 175.0
    val lat = col("gy").cast("double") * 10.0 - 85.0
    // exact equal-latitude probe offsets (degrees) for 0.9r and 1.1r
    def probeDx(d: org.apache.spark.sql.Column) =
      degrees(lit(2.0) * asin(sin(d / lit(2.0 * 6371008.7714)) / cos(radians(lat))))
    cells
      .withColumn("buf", st_buffer_spheroid(st_point(lon, lat), lit(r)))
      .select(col("gx"), col("gy"), col("n"),
        st_npoints(col("buf")).as("n_ring"),
        st_contains(col("buf"),
          st_point(lon + probeDx(lit(0.9 * r)), lat)).cast("int").as("inside_ok"),
        (!st_contains(col("buf"),
          st_point(lon + probeDx(lit(1.1 * r)), lat))).cast("int").as("outside_ok"),
        st_isvalid(col("buf")).cast("int").as("valid"))
      .orderBy(col("gx"), col("gy"))
  }

  /** Closed-form mirror: every audit bit is a constant of the operator's
    * contract (see [[geodesicBufferRollup]]'s distortion-budget argument);
    * only the grid derivation runs on data. */
  val geodesicBufferOracleSql: String =
    """SELECT CAST(user_id % 36 AS INTEGER) AS gx,
      |       CAST(event_id % 18 AS INTEGER) AS gy,
      |       count(*) AS n,
      |       CAST(33 AS INTEGER) AS n_ring,
      |       CAST(1 AS INTEGER) AS inside_ok,
      |       CAST(1 AS INTEGER) AS outside_ok,
      |       CAST(1 AS INTEGER) AS valid
      |FROM events
      |WHERE CAST(event_id % 18 AS INTEGER) BETWEEN 1 AND 16
      |GROUP BY 1, 2 ORDER BY gx, gy""".stripMargin

  /** ST_Subdivide audit — the skew-bounding splitter every 100 TB spatial
    * pipeline runs BEFORE a grid join (one 100k-vertex coastline otherwise
    * makes a single task pay the whole polygon on every candidate pair).
    * Each occupied grid cell builds an s-step integral STAIRCASE polygon
    * (s = gx%4 + gy%3 + 3 ∈ [3,9]; ring has 2s+3 coordinates, so every
    * cell exceeds the bound and actually splits) and subdivides it to
    * ≤7 coordinates per part ([[graft.exprs.StSubdivide]]'s documented
    * midpoint rule).
    *
    * Exactness device: the staircase is axis-parallel with coordinates in
    * multiples of 1000, and envelope-midpoint split lines land on
    * multiples of 1000/2^d — every intersection vertex is an EXACT double,
    * so each part's shoelace area is exact and their sum telescopes to
    * the closed form s(s+1)/2 · 10⁶ m² with zero float residue. The
    * oracle checks that closed form plus three per-row invariants the
    * operator must uphold (every part within the vertex bound, every part
    * valid, parts re-union to the original geometry — `st_equals` after
    * exact splits). Part COUNT is deliberately not emitted: the recursion
    * shape is an implementation detail pinned by SpatialSqlSpec anchors,
    * not a semantic contract.
    *
    * Scale shape: one counting shuffle on the cell key; subdivision is a
    * per-row projection over the ≤648-row cell relation — at 100 TB it is
    * a map-side rewrite of the geometry column, no shuffle touches it. */
  def subdivideRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 36L).cast("int").as("gx"),
        (col("event_id") % 18L).cast("int").as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("s", (col("gx") % 4 + col("gy") % 3 + lit(3)).cast("int"))
      .withColumn("wkt", expr(
        """concat('POLYGON((0 0,', CAST(s * 1000 AS STRING), ' 0,',
          |  array_join(transform(sequence(1, s), i -> concat(
          |    CAST((s - i + 1) * 1000 AS STRING), ' ', CAST(i * 1000 AS STRING), ',',
          |    CAST((s - i) * 1000 AS STRING), ' ', CAST(i * 1000 AS STRING))), ','),
          |  ',0 0))')""".stripMargin))
      .withColumn("g", st_geomfromwkt(col("wkt")))
      .withColumn("parts", st_subdivide(col("g"), lit(7)))
      .select(col("gx"), col("gy"), col("n"),
        expr("CAST(forall(parts, p -> st_npoints(p) <= 7) AS INT)").as("all_bounded"),
        expr("CAST(forall(parts, p -> st_isvalid(p)) AS INT)").as("all_valid"),
        expr("""CAST(floor(aggregate(parts, 0.0D, (a, p) -> a + st_area(p))
               |     / 1000000.0D + 0.5) AS BIGINT)""".stripMargin).as("area_ku2"),
        expr("""CAST(st_equals(aggregate(slice(parts, 2, size(parts) - 1),
               |  parts[0], (a, p) -> st_union(a, p)), g) AS INT)""".stripMargin)
          .as("reunion_ok"))
      .orderBy(col("gx"), col("gy"))
  }

  /** Closed-form mirror: the invariants are constants of the operator's
    * contract; the area telescopes to s(s+1)/2 (see [[subdivideRollup]]). */
  val subdivideOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 36 AS INTEGER) AS gx,
      |         CAST(event_id % 18 AS INTEGER) AS gy, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT gx, gy, n,
      |  CAST(1 AS INTEGER) AS all_bounded,
      |  CAST(1 AS INTEGER) AS all_valid,
      |  CAST(((gx % 4 + gy % 3 + 3) * (gx % 4 + gy % 3 + 4)) // 2 AS BIGINT)
      |    AS area_ku2,
      |  CAST(1 AS INTEGER) AS reunion_ok
      |FROM g ORDER BY gx, gy""".stripMargin

  /** ST_MaximumInscribedCircle audit (JTS construct; the Sedona/PostGIS
    * polygon-labeling primitive — the "pole of inaccessibility"). Each
    * occupied cell builds a w×h integral rectangle (w = (gx%6+1) km,
    * h = (gy%5+1) km) whose inscribed radius is the closed form
    * min(w,h)/2; JTS converges to it within the 0.5 m tolerance, and the
    * hectometer funnel (floor(r/100 + 0.5)) sits 100× above that error.
    * Two further invariants: the returned center lies inside the
    * rectangle, and its distance to the boundary re-derives the radius
    * within 2·tolerance (the center of a non-square rectangle is any
    * point of the medial segment, so the CENTER itself is deliberately
    * not hashed — only its radius-consistency, which IS the contract).
    *
    * Scale shape: identical to the other cell rollups — one counting
    * shuffle, per-row geometry on the bounded cell relation. */
  def inscribedCircleRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 36L).cast("int").as("gx"),
        (col("event_id") % 18L).cast("int").as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    val w = (col("gx") % 6 + lit(1)).cast("double") * 1000.0
    val h = (col("gy") % 5 + lit(1)).cast("double") * 1000.0
    val x0 = col("gx").cast("double") * 20000.0
    val y0 = col("gy").cast("double") * 20000.0
    cells
      .withColumn("rect", st_makeenvelope(x0, y0, x0 + w, y0 + h))
      .withColumn("mic", st_maxinscribedcircle(col("rect"), lit(0.5)))
      .select(col("gx"), col("gy"), col("n"),
        expr("CAST(floor(mic.radius / 100.0D + 0.5) AS BIGINT)").as("r_hm"),
        st_contains(col("rect"), col("mic.center")).cast("int").as("center_inside"),
        (abs(st_distance(col("mic.center"), st_boundary(col("rect"))) - col("mic.radius"))
          <= lit(1.0)).cast("int").as("radius_consistent"))
      .orderBy(col("gx"), col("gy"))
  }

  /** Closed-form mirror: r = min(w,h)/2 in hectometers = 5·min(gx%6+1,
    * gy%5+1); the two invariants are contract constants. */
  val inscribedCircleOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 36 AS INTEGER) AS gx,
      |         CAST(event_id % 18 AS INTEGER) AS gy, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT gx, gy, n,
      |  CAST(5 * least(gx % 6 + 1, gy % 5 + 1) AS BIGINT) AS r_hm,
      |  CAST(1 AS INTEGER) AS center_inside,
      |  CAST(1 AS INTEGER) AS radius_consistent
      |FROM g ORDER BY gx, gy""".stripMargin

  /** ST_LargestEmptyCircle audit (JTS construct; Sedona
    * `ST_LargestEmptyCircle`) — the facility-placement dual of
    * [[inscribedCircleRollup]]: largest circle touching no obstacle with
    * center inside the boundary. Each occupied cell sets obstacles = the
    * four corners of a k-km square (k = gx%6+1) and boundary = the square
    * itself; by symmetry the unique optimum is the square's CENTER with
    * radius k·1000/√2 — both closed-form. JTS converges within the 0.5 m
    * tolerance; the hectometer radius funnel's tightest boundary margin
    * across k ∈ [1,6] is 7.1 m (k=1), 14× the tolerance, and the
    * decameter center funnel sits on exact integers 10× the tolerance
    * from any boundary.
    *
    * Scale shape: one counting shuffle on the cell key, geometry on the
    * bounded cell relation — the [[distanceSphereRollup]] pattern. */
  def emptyCircleRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 36L).cast("int").as("gx"),
        (col("event_id") % 18L).cast("int").as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    val k = (col("gx") % 6 + lit(1)).cast("double")
    val side = k * 1000.0
    val x0 = col("gx").cast("double") * 20000.0
    val y0 = col("gy").cast("double") * 20000.0
    cells
      .withColumn("boundary", st_makeenvelope(x0, y0, x0 + side, y0 + side))
      .withColumn("obstacles", st_geomfromwkt(concat(
        lit("MULTIPOINT ((") , x0, lit(" "), y0,
        lit("), ("), x0 + side, lit(" "), y0,
        lit("), ("), x0 + side, lit(" "), y0 + side,
        lit("), ("), x0, lit(" "), y0 + side, lit("))"))))
      .withColumn("lec", st_largestemptycircle(col("obstacles"), col("boundary"), lit(0.5)))
      .select(col("gx"), col("gy"), col("n"),
        expr("CAST(floor(lec.radius / 100.0D + 0.5) AS BIGINT)").as("r_hm"),
        expr("CAST(floor(st_x(lec.center) / 10.0D + 0.5) AS BIGINT)").as("cx_dam"),
        expr("CAST(floor(st_y(lec.center) / 10.0D + 0.5) AS BIGINT)").as("cy_dam"))
      .orderBy(col("gx"), col("gy"))
  }

  /** Closed-form mirror: center = square center, radius = side/√2 (see
    * [[emptyCircleRollup]]'s symmetry + funnel-margin argument). */
  val emptyCircleOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 36 AS INTEGER) AS gx,
      |         CAST(event_id % 18 AS INTEGER) AS gy, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT gx, gy, n,
      |  CAST(floor((gx % 6 + 1) * 1000.0 / sqrt(2.0) / 100.0 + 0.5) AS BIGINT)
      |    AS r_hm,
      |  CAST(gx * 2000 + (gx % 6 + 1) * 50 AS BIGINT) AS cx_dam,
      |  CAST(gy * 2000 + (gx % 6 + 1) * 50 AS BIGINT) AS cy_dam
      |FROM g ORDER BY gx, gy""".stripMargin

  /** ST_LineLocatePoint audit — the INVERSE of the linear-referencing
    * walk ([[lineInterpolateRollup]] goes fraction→point; this goes
    * point→fraction, PostGIS/Sedona `ST_LineLocatePoint`): each occupied
    * cell builds an integral L-polyline (0,0)→(a,0)→(a,b) with
    * a = (gx%5+1) km, b = (gy%4+1) km, and probes it with a point
    * (x, −100) hanging BELOW the horizontal leg at x = (gx%3+1)·250 —
    * the closest on-line point is exactly (x, 0), so the located
    * fraction is the closed form x/(a+b). Both engines evaluate the same
    * double division and the same floor(1e6·f + 0.5) ppm funnel, so the
    * emit is deterministic; a second column re-derives the probe's
    * distance to the line (must be exactly 100 — the vertical drop) as a
    * round-trip invariant.
    *
    * Scale shape: the standard cell rollup — one counting shuffle,
    * per-row geometry on the bounded cell relation; at 100 TB the locate
    * is a scalar projection over any trajectory column. */
  def lineLocateRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 36L).cast("int").as("gx"),
        (col("event_id") % 18L).cast("int").as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("a", (col("gx") % 5 + lit(1)).cast("long") * 1000L)
      .withColumn("b", (col("gy") % 4 + lit(1)).cast("long") * 1000L)
      .withColumn("x", (col("gx") % 3 + lit(1)).cast("long") * 250L)
      .withColumn("line", st_geomfromwkt(expr(
        """concat('LINESTRING (0 0, ', CAST(a AS STRING), ' 0, ',
          |  CAST(a AS STRING), ' ', CAST(b AS STRING), ')')""".stripMargin)))
      .withColumn("probe", st_point(col("x").cast("double"), lit(-100.0)))
      .select(col("gx"), col("gy"), col("n"),
        expr("""CAST(floor(1000000.0D * st_linelocatepoint(line, probe) + 0.5)
               | AS BIGINT)""".stripMargin).as("frac_ppm"),
        expr("CAST(floor(st_distance(line, probe) + 0.5) AS BIGINT)").as("probe_dist"))
      .orderBy(col("gx"), col("gy"))
  }

  /** Closed-form mirror: fraction = x/(a+b) through the identical double
    * ppm funnel; probe distance is the exact 100 m vertical drop. */
  val lineLocateOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 36 AS INTEGER) AS gx,
      |         CAST(event_id % 18 AS INTEGER) AS gy, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT gx, gy, n,
      |  CAST(floor(1000000.0 * (CAST((gx % 3 + 1) * 250 AS DOUBLE)
      |         / CAST((gx % 5 + 1) * 1000 + (gy % 4 + 1) * 1000 AS DOUBLE))
      |       + 0.5) AS BIGINT) AS frac_ppm,
      |  CAST(100 AS BIGINT) AS probe_dist
      |FROM g ORDER BY gx, gy""".stripMargin

  /** Discrete-Fréchet + shortest-line rollup
    * ([[graft.exprs.StFrechetDistance]], [[graft.exprs.StShortestLine]] —
    * the order-aware trajectory similarity and the distance witness). Each
    * occupied cell builds an integral L-polyline
    * A = (0,0)→(a,0)→(a,b) (a = (gx%5+1) km, b = (gy%4+1) km) and its
    * translate B = A + (dx, h) with dx = 3·(gx%7)−9 ∈ [−9,9] and
    * h = 25·(gy%6)+25 ∈ [25,150]:
    *
    *  - `frechet_mm`: DF(A, B). For a translate pair the endpoint pairs
    *    are FORCED into every monotone coupling (each at exactly |t| =
    *    √(dx²+h²)) and the identity coupling achieves that max, so
    *    DF = |t| exactly — the oracle is the closed-form hypotenuse
    *    through the shared floor(1000·d + 0.5) mm funnel (both engines
    *    sqrt the identical integral argument; IEEE sqrt is correctly
    *    rounded, so the doubles are bit-equal).
    *  - `frechet_rev_mm`: DF(A, reverse(B)) — the order-awareness proof.
    *    Reversal forces (A₁,B₃) and (A₃,B₁), so DF jumps from |t| to
    *    max(√((a+dx)²+(b+h)²), √((a−dx)²+(b−h)²)) — the identity
    *    coupling's middle pair (a,0)↔(a+dx,h) sits at |t| below both —
    *    while Hausdorff would be blind to the flip.
    *  - shortest line between the disjoint horizontal legs S1 =
    *    (0,0)→(a,0) and S2 = (a+g,h)→(a+g+500,h) (gap g = (gx%4+1)·100):
    *    the unique nearest pair is (a,0)→(a+g,h), checked by endpoint
    *    coordinates (`sl_*`, exact integers), length (`sl_len_mm` =
    *    hypotenuse funnel), and `sl_len_minus_dist` ≡ 0 (st_length of
    *    the witness re-sqrts the same coordinates st_distance measured).
    *
    * Scale shape: the standard cell rollup — ONE counting shuffle on the
    * dense integer cell key; all geometry runs per-row on the ≤648-row
    * cell relation. At 100 TB both functions are scalar projections over
    * trajectory columns (DF is O(mn) in the VERTEX counts — bounded by
    * simplify-before-compare, not by corpus size). */
  def frechetRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 36L).cast("int").as("gx"),
        (col("event_id") % 18L).cast("int").as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("a", (col("gx") % 5 + lit(1)).cast("long") * 1000L)
      .withColumn("b", (col("gy") % 4 + lit(1)).cast("long") * 1000L)
      .withColumn("dx", (col("gx") % 7).cast("long") * 3L - 9L)
      .withColumn("h", (col("gy") % 6).cast("long") * 25L + 25L)
      .withColumn("g", (col("gx") % 4 + lit(1)).cast("long") * 100L)
      .withColumn("lineA", st_geomfromwkt(expr(
        """concat('LINESTRING (0 0, ', CAST(a AS STRING), ' 0, ',
          |  CAST(a AS STRING), ' ', CAST(b AS STRING), ')')""".stripMargin)))
      .withColumn("lineB",
        st_translate(col("lineA"), col("dx").cast("double"), col("h").cast("double")))
      .withColumn("s1", st_geomfromwkt(expr(
        "concat('LINESTRING (0 0, ', CAST(a AS STRING), ' 0)')")))
      .withColumn("s2", st_geomfromwkt(expr(
        """concat('LINESTRING (', CAST(a + g AS STRING), ' ', CAST(h AS STRING),
          |  ', ', CAST(a + g + 500 AS STRING), ' ', CAST(h AS STRING), ')')""".stripMargin)))
      .withColumn("sl", st_shortestline(col("s1"), col("s2")))
      .select(col("gx"), col("gy"), col("n"),
        expr("""CAST(floor(1000.0D * st_frechetdistance(lineA, lineB) + 0.5)
               | AS BIGINT)""".stripMargin).as("frechet_mm"),
        expr("""CAST(floor(1000.0D * st_frechetdistance(lineA, st_reverse(lineB)) + 0.5)
               | AS BIGINT)""".stripMargin).as("frechet_rev_mm"),
        expr("CAST(floor(1000.0D * st_length(sl) + 0.5) AS BIGINT)").as("sl_len_mm"),
        expr("""CAST(floor(1000.0D * (st_length(sl) - st_distance(s1, s2)) + 0.5)
               | AS BIGINT)""".stripMargin).as("sl_len_minus_dist"),
        expr("CAST(st_x(st_startpoint(sl)) AS BIGINT)").as("sl_x0"),
        expr("CAST(st_y(st_startpoint(sl)) AS BIGINT)").as("sl_y0"),
        expr("CAST(st_x(st_endpoint(sl)) AS BIGINT)").as("sl_x1"),
        expr("CAST(st_y(st_endpoint(sl)) AS BIGINT)").as("sl_y1"))
      .orderBy(col("gx"), col("gy"))
  }

  /** Closed-form mirror: forward Fréchet is the translation hypotenuse;
    * reversed Fréchet is the max of the two forced cross-endpoint
    * distances; the shortest line is (a,0)→(a+g,h) with hypotenuse
    * length — every lane through the identical mm funnel. */
  val frechetOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 36 AS INTEGER) AS gx,
      |         CAST(event_id % 18 AS INTEGER) AS gy, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT gx, gy, n,
      |    CAST((gx % 5 + 1) * 1000 AS DOUBLE) AS a,
      |    CAST((gy % 4 + 1) * 1000 AS DOUBLE) AS b,
      |    CAST((gx % 7) * 3 - 9 AS DOUBLE) AS dx,
      |    CAST((gy % 6) * 25 + 25 AS DOUBLE) AS h,
      |    CAST((gx % 4 + 1) * 100 AS DOUBLE) AS gp
      |  FROM g)
      |SELECT gx, gy, n,
      |  CAST(floor(1000.0 * sqrt(dx*dx + h*h) + 0.5) AS BIGINT) AS frechet_mm,
      |  CAST(floor(1000.0 * greatest(
      |        sqrt((a + dx)*(a + dx) + (b + h)*(b + h)),
      |        sqrt((a - dx)*(a - dx) + (b - h)*(b - h))) + 0.5) AS BIGINT)
      |    AS frechet_rev_mm,
      |  CAST(floor(1000.0 * sqrt(gp*gp + h*h) + 0.5) AS BIGINT) AS sl_len_mm,
      |  CAST(0 AS BIGINT) AS sl_len_minus_dist,
      |  CAST(a AS BIGINT) AS sl_x0, CAST(0 AS BIGINT) AS sl_y0,
      |  CAST(a + gp AS BIGINT) AS sl_x1, CAST(h AS BIGINT) AS sl_y1
      |FROM p ORDER BY gx, gy""".stripMargin

  /** Oriented-envelope rollup ([[graft.exprs.StMinimumRotatedRectangle]],
    * [[graft.exprs.StMinimumDiameter]] — the orientation-free footprint
    * summary pair). Each occupied cell builds an integral w×h rectangle
    * (w = (gx%5+1)·100, h = (gy%4+1)·100) ROTATED about the origin by
    * θ = (gx%6)·15°, then recovers the orientation-invariant measures:
    *
    *  - `mrr_area` / `mrr_perim`: area and perimeter of the minimum
    *    rotated rectangle — for any rotation of a rectangle the minimum-
    *    area enclosing rectangle is the rectangle itself, so both are the
    *    EXACT integers w·h and 2(w+h) (rotating-calipers fp noise is
    *    ~1e-9 relative, absorbed by the floor(x+0.5) funnel), while the
    *    axis-aligned envelope inflates with θ.
    *  - `width_m`: st_minimumdiameter = the short side min(w,h) exactly —
    *    the sliver-polygon filter measure.
    *  - `mrr_le_env`: the containment invariant — the oriented envelope's
    *    area never exceeds the axis-aligned envelope's.
    *
    * Scale shape: the standard cell rollup — ONE counting shuffle on the
    * dense integer cell key; rotating calipers run per-row on the
    * ≤648-row cell relation (O(hull vertices) each). At 100 TB both are
    * scalar projections over a footprint column. */
  def orientedEnvelopeRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 36L).cast("int").as("gx"),
        (col("event_id") % 18L).cast("int").as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("w", (col("gx") % 5 + lit(1)).cast("long") * 100L)
      .withColumn("h", (col("gy") % 4 + lit(1)).cast("long") * 100L)
      .withColumn("theta",
        (col("gx") % 6).cast("double") * lit(math.Pi / 12.0))
      .withColumn("rect0", st_geomfromwkt(expr(
        """concat('POLYGON ((0 0, ', CAST(w AS STRING), ' 0, ',
          |  CAST(w AS STRING), ' ', CAST(h AS STRING), ', 0 ',
          |  CAST(h AS STRING), ', 0 0))')""".stripMargin)))
      .withColumn("g", st_rotate(col("rect0"), col("theta")))
      .withColumn("mrr", st_minimumrotatedrectangle(col("g")))
      .select(col("gx"), col("gy"), col("n"),
        expr("CAST(floor(st_area(mrr) + 0.5) AS BIGINT)").as("mrr_area"),
        expr("CAST(floor(st_perimeter(mrr) + 0.5) AS BIGINT)").as("mrr_perim"),
        expr("CAST(floor(st_minimumdiameter(g) + 0.5) AS BIGINT)").as("width_m"),
        expr("st_area(mrr) <= st_area(st_envelope(g)) + 0.5").as("mrr_le_env"))
      .orderBy(col("gx"), col("gy"))
  }

  /** Closed-form mirror: the minimum rotated rectangle of a rotated
    * rectangle is itself, so area/perimeter/width are the pre-rotation
    * integers; the envelope-domination invariant is constant TRUE. */
  val orientedEnvelopeOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 36 AS INTEGER) AS gx,
      |         CAST(event_id % 18 AS INTEGER) AS gy, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT gx, gy, n,
      |  CAST((gx % 5 + 1) * 100 * (gy % 4 + 1) * 100 AS BIGINT) AS mrr_area,
      |  CAST(2 * ((gx % 5 + 1) * 100 + (gy % 4 + 1) * 100) AS BIGINT) AS mrr_perim,
      |  CAST(least((gx % 5 + 1) * 100, (gy % 4 + 1) * 100) AS BIGINT) AS width_m,
      |  TRUE AS mrr_le_env
      |FROM g ORDER BY gx, gy""".stripMargin

  /** Geometric-median rollup ([[graft.exprs.StGeometricMedian]] — the
    * sum-of-DISTANCES minimizer, the robust center the centroid is not).
    * Each occupied cell anchors at integral (cx, cy) = (gx·1000, gy·500)
    * and probes two exactly-solvable configurations:
    *
    *  - `cross`: 4 points (cx±a, cy), (cx, cy±b) — by symmetry the
    *    median is the anchor itself; Weiszfeld starts AT the centroid
    *    (= the anchor) and is a fixed point there up to ~1e-12 relative
    *    fp noise, absorbed by the floor(x+0.5) funnel.
    *  - `maj`: 5 points with the anchor TRIPLED plus (cx+s, cy) and
    *    (cx, cy+t) — by the strict-majority theorem (w=3 of 5: the
    *    summed unit vectors of the 2 others can never reach norm 3) the
    *    median IS the anchor, returned EXACTLY by the Vardi–Zhang
    *    vertex certificate with no iteration at all.
    *  - `opt_ok`: the definitional invariant on the maj set — total
    *    distance from the median ≤ total distance from the centroid
    *    (which sits at (cx+s/5, cy+t/5) ≠ the median).
    *
    * Scale shape: the standard cell rollup — ONE counting shuffle; the
    * median solve is a per-row scalar over bounded vertex sets (at
    * 100 TB: per-group collect of bounded clusters, then this scalar). */
  def geometricMedianRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 36L).cast("int").as("gx"),
        (col("event_id") % 18L).cast("int").as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("cx", col("gx").cast("long") * 1000L)
      .withColumn("cy", col("gy").cast("long") * 500L)
      .withColumn("a", (col("gx") % 5 + lit(1)).cast("long") * 100L)
      .withColumn("b", (col("gy") % 4 + lit(1)).cast("long") * 100L)
      .withColumn("s", (col("gx") % 3 + lit(1)).cast("long") * 40L)
      .withColumn("t", (col("gy") % 3 + lit(1)).cast("long") * 60L)
      .withColumn("cross", st_geometricmedian(st_geomfromwkt(expr(
        """concat('MULTIPOINT (', CAST(cx - a AS STRING), ' ', CAST(cy AS STRING),
          |  ', ', CAST(cx + a AS STRING), ' ', CAST(cy AS STRING),
          |  ', ', CAST(cx AS STRING), ' ', CAST(cy - b AS STRING),
          |  ', ', CAST(cx AS STRING), ' ', CAST(cy + b AS STRING), ')')""".stripMargin))))
      .withColumn("maj", st_geometricmedian(st_geomfromwkt(expr(
        """concat('MULTIPOINT (', CAST(cx AS STRING), ' ', CAST(cy AS STRING),
          |  ', ', CAST(cx AS STRING), ' ', CAST(cy AS STRING),
          |  ', ', CAST(cx AS STRING), ' ', CAST(cy AS STRING),
          |  ', ', CAST(cx + s AS STRING), ' ', CAST(cy AS STRING),
          |  ', ', CAST(cx AS STRING), ' ', CAST(cy + t AS STRING), ')')""".stripMargin))))
      .withColumn("mx", expr("st_x(maj)")).withColumn("my", expr("st_y(maj)"))
      .withColumn("gcx", col("cx").cast("double") + col("s").cast("double") / 5.0)
      .withColumn("gcy", col("cy").cast("double") + col("t").cast("double") / 5.0)
      .select(col("gx"), col("gy"), col("n"),
        expr("CAST(floor(st_x(cross) + 0.5) AS BIGINT)").as("cross_x"),
        expr("CAST(floor(st_y(cross) + 0.5) AS BIGINT)").as("cross_y"),
        expr("CAST(floor(mx + 0.5) AS BIGINT)").as("maj_x"),
        expr("CAST(floor(my + 0.5) AS BIGINT)").as("maj_y"),
        expr("""3.0D * sqrt((mx - cx) * (mx - cx) + (my - cy) * (my - cy))
               |  + sqrt((mx - cx - s) * (mx - cx - s) + (my - cy) * (my - cy))
               |  + sqrt((mx - cx) * (mx - cx) + (my - cy - t) * (my - cy - t))
               |<= 3.0D * sqrt((gcx - cx) * (gcx - cx) + (gcy - cy) * (gcy - cy))
               |  + sqrt((gcx - cx - s) * (gcx - cx - s) + (gcy - cy) * (gcy - cy))
               |  + sqrt((gcx - cx) * (gcx - cx) + (gcy - cy - t) * (gcy - cy - t))
               |  + 1e-9D""".stripMargin).as("opt_ok"))
      .orderBy(col("gx"), col("gy"))
  }

  /** Closed-form mirror: both medians are the exact integer anchor; the
    * optimality invariant is constant TRUE. */
  val geometricMedianOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 36 AS INTEGER) AS gx,
      |         CAST(event_id % 18 AS INTEGER) AS gy, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT gx, gy, n,
      |  CAST(gx * 1000 AS BIGINT) AS cross_x,
      |  CAST(gy * 500 AS BIGINT) AS cross_y,
      |  CAST(gx * 1000 AS BIGINT) AS maj_x,
      |  CAST(gy * 500 AS BIGINT) AS maj_y,
      |  TRUE AS opt_ok
      |FROM g ORDER BY gx, gy""".stripMargin

  /** Vertex-angle rollup ([[graft.exprs.StAngle]] — the corner measure
    * behind turn detection and polygon-quality checks). Each occupied
    * cell anchors at the origin and probes three integral corners:
    * the exact right angle (p1 on the +x axis, p3 on the +y axis —
    * atan2(0,a) and atan2(b,0) are EXACT 0 and π/2 doubles, so the
    * emitted ppm is the constant floor(10⁶·π/2 + 0.5)), an acute corner
    * at atan2(dd,c), and an obtuse corner at |atan2(−dd,−c)| — both
    * through the atan2-mirror funnel [[azimuthRollup]] established
    * (both engines evaluate atan2 on identical integral doubles). A
    * fourth lane pins the symmetry invariant st_angle(p1,p2,p3) =
    * st_angle(p3,p2,p1) to an exact zero.
    *
    * Scale shape: the standard cell rollup — ONE counting shuffle,
    * per-row scalar trig on the bounded cell relation. */
  def angleRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 36L).cast("int").as("gx"),
        (col("event_id") % 18L).cast("int").as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("a", (col("gx") % 5 + lit(1)).cast("double") * 100.0)
      .withColumn("b", (col("gy") % 4 + lit(1)).cast("double") * 100.0)
      .withColumn("c", (col("gx") % 7 + lit(1)).cast("double") * 50.0)
      .withColumn("dd", (col("gy") % 6 + lit(1)).cast("double") * 75.0)
      .withColumn("o", st_point(lit(0.0), lit(0.0)))
      .withColumn("px", st_point(col("a"), lit(0.0)))
      .withColumn("py", st_point(lit(0.0), col("b")))
      .withColumn("pc", st_point(col("c"), col("dd")))
      .withColumn("pr", st_point(-col("c"), -col("dd")))
      .select(col("gx"), col("gy"), col("n"),
        expr("CAST(floor(1000000.0D * st_angle(px, o, py) + 0.5) AS BIGINT)")
          .as("right_ppm"),
        expr("CAST(floor(1000000.0D * st_angle(px, o, pc) + 0.5) AS BIGINT)")
          .as("acute_ppm"),
        expr("CAST(floor(1000000.0D * st_angle(px, o, pr) + 0.5) AS BIGINT)")
          .as("obtuse_ppm"),
        expr("""CAST(floor(1000000.0D * (st_angle(px, o, pc) - st_angle(pc, o, px))
               | + 0.5) AS BIGINT)""".stripMargin).as("sym_zero"))
      .orderBy(col("gx"), col("gy"))
  }

  /** Mirror: the right angle is the exact π/2 constant; acute/obtuse are
    * the verbatim atan2 forms; symmetry is an exact zero. */
  val angleOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 36 AS INTEGER) AS gx,
      |         CAST(event_id % 18 AS INTEGER) AS gy, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT gx, gy, n,
      |    CAST((gx % 7 + 1) * 50 AS DOUBLE) AS c,
      |    CAST((gy % 6 + 1) * 75 AS DOUBLE) AS dd
      |  FROM g)
      |SELECT gx, gy, n,
      |  CAST(floor(1000000.0 * (pi() / 2) + 0.5) AS BIGINT) AS right_ppm,
      |  CAST(floor(1000000.0 * atan2(dd, c) + 0.5) AS BIGINT) AS acute_ppm,
      |  CAST(floor(1000000.0 * abs(atan2(-dd, -c)) + 0.5) AS BIGINT) AS obtuse_ppm,
      |  CAST(0 AS BIGINT) AS sym_zero
      |FROM p ORDER BY gx, gy""".stripMargin

  /** Great-circle path-length rollup ([[graft.exprs.StLengthSphere]], the
    * last of the three geodesic measures): each occupied 10° cell of the
    * event grid is traced as an L-shaped two-segment lon/lat polyline —
    * along the cell's south parallel, then up its east meridian — and
    * measured in meters on the GRS80 mean-radius sphere. The engine sums
    * per-segment haversines in vertex order; the oracle replays both
    * segment haversines verbatim (the parallel segment keeps its exact-zero
    * sin²(Δφ/2) term, the meridian segment its exact-zero sin²(Δλ/2) term)
    * through the same ROUND(·,1)/DECIMAL(12,1) funnel that absorbs
    * last-ulp libm drift.
    *
    * Scale shape: identical to [[distanceSphereRollup]] — the ONLY
    * shuffle is the counting groupBy on the dense integer cell key; WKT
    * build, parse and spherical trig run on the ≤648-row cell relation. */
  def lengthSphereRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 36L).cast("int").as("gx"),
        (col("event_id") % 18L).cast("int").as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    val lon0 = (col("gx") * 10 - 180).cast("long").cast("string")
    val lat0 = (col("gy") * 10 - 90).cast("long").cast("string")
    val lon1 = (col("gx") * 10 - 170).cast("long").cast("string")
    val lat1 = (col("gy") * 10 - 80).cast("long").cast("string")
    val pathWkt = concat(
      lit("LINESTRING ("), lon0, lit(" "), lat0, lit(", "),
      lon1, lit(" "), lat0, lit(", "), lon1, lit(" "), lat1, lit(")"))
    cells
      .withColumn("l_m", st_length_sphere(st_geomfromwkt(pathWkt)))
      .select(col("gx"), col("gy"), col("n"),
        round(col("l_m"), 1).cast("decimal(12,1)").as("len_m"))
      .orderBy(col("gx"), col("gy"))
  }

  /** Verbatim two-segment haversine mirror in the engine's summation
    * order: parallel segment (Δφ = 0) first, meridian segment (Δλ = 0)
    * second, each in the sin²-form with clamped asin. */
  val lengthSphereOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 36 AS INTEGER) AS gx,
      |         CAST(event_id % 18 AS INTEGER) AS gy, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |l AS (
      |  SELECT gx, gy, n,
      |    2 * 6371008.7714 * asin(least(1.0, sqrt(
      |      sin(radians(0.0) / 2) * sin(radians(0.0) / 2)
      |      + cos(radians(gy * 10.0 - 90.0)) * cos(radians(gy * 10.0 - 90.0))
      |        * sin(radians(10.0) / 2) * sin(radians(10.0) / 2))))
      |    + 2 * 6371008.7714 * asin(least(1.0, sqrt(
      |        sin(radians(10.0) / 2) * sin(radians(10.0) / 2)
      |        + cos(radians(gy * 10.0 - 90.0)) * cos(radians(gy * 10.0 - 80.0))
      |          * sin(radians(0.0) / 2) * sin(radians(0.0) / 2)))) AS l_m
      |  FROM g)
      |SELECT gx, gy, n, CAST(round(l_m, 1) AS DECIMAL(12,1)) AS len_m
      |FROM l ORDER BY gx, gy""".stripMargin

  /** Overlay-algebra rollup (st_difference / st_symdifference /
    * st_intersection — the Sedona overlay family the flagship's
    * intersection only half-covers): each event derives a deterministic
    * PAIR of integer-cornered rectangles whose relative offset sweeps
    * every overlay regime — disjoint, partial overlap, edge-aligned and
    * contained — and the three overlay areas are measured per row with
    * the full defensive JTS overlay ladder, then summed per bucket.
    * Integer corners keep every JTS shoelace area an exact double
    * (products < 2^53), so the BIGINT sums match DuckDB's pure-integer
    * interval arithmetic exactly: for axis-aligned rectangles
    * inter = ow·oh, diff = |A|−inter, symdiff = |A|+|B|−2·inter.
    *
    * Scale shape: the overlay is map-side scalar work per row — no data
    * movement, embarrassingly parallel — and the ONLY shuffle is the
    * final bounded-key (25-bucket) partial-aggregated sum, whose
    * exchange carries 25 rows of longs per task at any input size. */
  def overlayRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Par.fanOut(Tables.table(spark, dir, "events")
      .select(col("event_id"), col("user_id")))
    val ax0 = (col("event_id") % 100L).cast("double")
    val ay0 = (col("user_id") % 100L).cast("double")
    val aw = (col("event_id") % 7L + 10L).cast("double")
    val ah = (col("user_id") % 5L + 10L).cast("double")
    val bx0 = ax0 + (col("event_id") % 41L).cast("double") - 20.0
    val by0 = ay0 + (col("user_id") % 31L).cast("double") - 15.0
    val bw = (col("event_id") % 6L + 8L).cast("double")
    val bh = (col("user_id") % 9L + 8L).cast("double")
    val ra = st_makeenvelope(ax0, ay0, ax0 + aw, ay0 + ah)
    val rb = st_makeenvelope(bx0, by0, bx0 + bw, by0 + bh)
    ev.select((col("event_id") % 25L).cast("int").as("bucket"),
        st_area(st_difference(ra, rb)).cast("long").as("d"),
        st_area(st_symdifference(ra, rb)).cast("long").as("s"),
        st_area(st_intersection(ra, rb)).cast("long").as("i"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("d")).as("diff_area"),
        sum(col("s")).as("symdiff_area"),
        sum(col("i")).as("inter_area"))
      .orderBy(col("bucket"))
  }

  /** DE-9IM predicate-family rollup (st_intersects / st_disjoint /
    * st_touches / st_overlaps / st_equals / st_covers / st_coveredby /
    * st_crosses — the full Sedona/PostGIS relate surface): the
    * [[overlayRollup]] rectangle-pair sweep already visits every
    * predicate regime (disjoint, corner/edge touch, partial overlap,
    * containment, exact coincidence), so each predicate is counted per
    * bucket over the same pairs; `crosses` needs a mixed-dimension
    * operand and gets a diagonal probe segment through rectangle A
    * (crossing, since it enters and exits) that every third event shifts
    * 1000 units east (disjoint — both truth values exercised). The
    * oracle is pure integer interval logic: overlap lengths ox/oy decide
    * everything, with covers/coveredby the boundary-INCLUSIVE
    * containments (a polygon covers its own edge — the contains trap the
    * Scaladoc on [[graft.exprs.StCovers]] documents).
    *
    * Scale shape: the predicates are per-row scalar work; the ONLY
    * shuffle is the bounded-key (25-bucket) partial-aggregated count. */
  def predicatesRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Par.fanOut(Tables.table(spark, dir, "events")
      .select(col("event_id"), col("user_id")))
    val ax0 = (col("event_id") % 100L).cast("double")
    val ay0 = (col("user_id") % 100L).cast("double")
    val aw = (col("event_id") % 7L + 10L).cast("double")
    val ah = (col("user_id") % 5L + 10L).cast("double")
    val bx0 = ax0 + (col("event_id") % 41L).cast("double") - 20.0
    val by0 = ay0 + (col("user_id") % 31L).cast("double") - 15.0
    val bw = (col("event_id") % 6L + 8L).cast("double")
    val bh = (col("user_id") % 9L + 8L).cast("double")
    val ra = st_makeenvelope(ax0, ay0, ax0 + aw, ay0 + ah)
    val rb = st_makeenvelope(bx0, by0, bx0 + bw, by0 + bh)
    val shift = when(col("event_id") % 3L === 0L, 1000L).otherwise(0L)
    def i(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(c, 1L).otherwise(0L)
    val lineWkt = concat(lit("LINESTRING ("),
      (col("event_id") % 100L - 5L + shift).cast("string"), lit(" "),
      (col("user_id") % 100L - 5L).cast("string"), lit(", "),
      (col("event_id") % 100L + col("event_id") % 7L + 15L + shift).cast("string"), lit(" "),
      (col("user_id") % 100L + col("user_id") % 5L + 15L).cast("string"), lit(")"))
    val probe = st_geomfromwkt(lineWkt)
    ev.select((col("event_id") % 25L).cast("int").as("bucket"),
        i(st_intersects(ra, rb)).as("c_int"),
        i(st_disjoint(ra, rb)).as("c_dis"),
        i(st_touches(ra, rb)).as("c_tch"),
        i(st_overlaps(ra, rb)).as("c_ovl"),
        i(st_equals(ra, rb)).as("c_eq"),
        i(st_covers(ra, rb)).as("c_cov"),
        i(st_coveredby(ra, rb)).as("c_cvb"),
        i(st_crosses(probe, ra)).as("c_crs"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_int")).as("n_intersects"),
        sum(col("c_dis")).as("n_disjoint"),
        sum(col("c_tch")).as("n_touches"),
        sum(col("c_ovl")).as("n_overlaps"),
        sum(col("c_eq")).as("n_equals"),
        sum(col("c_cov")).as("n_covers"),
        sum(col("c_cvb")).as("n_coveredby"),
        sum(col("c_crs")).as("n_crosses"))
      .orderBy(col("bucket"))
  }

  /** Integer interval-logic mirror: ox/oy overlap lengths decide every
    * predicate; crosses is the shift parity (the probe diagonal always
    * crosses its own rectangle, never the shifted-away one). */
  val predicatesOracleSql: String =
    """WITH p AS (
      |  SELECT CAST(event_id % 25 AS INTEGER) AS bucket,
      |         event_id % 100 AS ax0, user_id % 100 AS ay0,
      |         event_id % 7 + 10 AS aw, user_id % 5 + 10 AS ah,
      |         (event_id % 100) + (event_id % 41) - 20 AS bx0,
      |         (user_id % 100) + (user_id % 31) - 15 AS by0,
      |         event_id % 6 + 8 AS bw, user_id % 9 + 8 AS bh,
      |         CASE WHEN event_id % 3 = 0 THEN 0 ELSE 1 END AS crs
      |  FROM events),
      |o AS (
      |  SELECT bucket, crs,
      |    least(ax0 + aw, bx0 + bw) - greatest(ax0, bx0) AS ox,
      |    least(ay0 + ah, by0 + bh) - greatest(ay0, by0) AS oy,
      |    CASE WHEN bx0 >= ax0 AND by0 >= ay0
      |          AND bx0 + bw <= ax0 + aw AND by0 + bh <= ay0 + ah
      |         THEN 1 ELSE 0 END AS cov,
      |    CASE WHEN ax0 >= bx0 AND ay0 >= by0
      |          AND ax0 + aw <= bx0 + bw AND ay0 + ah <= by0 + bh
      |         THEN 1 ELSE 0 END AS cvb,
      |    CASE WHEN ax0 = bx0 AND ay0 = by0 AND aw = bw AND ah = bh
      |         THEN 1 ELSE 0 END AS eq
      |  FROM p)
      |SELECT bucket, count(*) AS n,
      |  CAST(sum(CASE WHEN ox >= 0 AND oy >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_intersects,
      |  CAST(sum(CASE WHEN ox < 0 OR oy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_disjoint,
      |  CAST(sum(CASE WHEN ox >= 0 AND oy >= 0 AND (ox = 0 OR oy = 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_touches,
      |  CAST(sum(CASE WHEN ox > 0 AND oy > 0 AND cov = 0 AND cvb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps,
      |  CAST(sum(eq) AS BIGINT) AS n_equals,
      |  CAST(sum(cov) AS BIGINT) AS n_covers,
      |  CAST(sum(cvb) AS BIGINT) AS n_coveredby,
      |  CAST(sum(crs) AS BIGINT) AS n_crosses
      |FROM o GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Integer interval-arithmetic mirror of [[overlayRollup]] — the
    * rectangle overlap closed form replaces the JTS overlay. */
  val overlayOracleSql: String =
    """WITH p AS (
      |  SELECT CAST(event_id % 25 AS INTEGER) AS bucket,
      |         event_id % 100 AS ax0, user_id % 100 AS ay0,
      |         event_id % 7 + 10 AS aw, user_id % 5 + 10 AS ah,
      |         (event_id % 100) + (event_id % 41) - 20 AS bx0,
      |         (user_id % 100) + (user_id % 31) - 15 AS by0,
      |         event_id % 6 + 8 AS bw, user_id % 9 + 8 AS bh
      |  FROM events),
      |o AS (
      |  SELECT bucket, aw * ah AS area_a, bw * bh AS area_b,
      |    greatest(0, least(ax0 + aw, bx0 + bw) - greatest(ax0, bx0))
      |      * greatest(0, least(ay0 + ah, by0 + bh) - greatest(ay0, by0)) AS inter
      |  FROM p)
      |SELECT bucket, count(*) AS n,
      |  CAST(sum(area_a - inter) AS BIGINT) AS diff_area,
      |  CAST(sum(area_a + area_b - 2 * inter) AS BIGINT) AS symdiff_area,
      |  CAST(sum(inter) AS BIGINT) AS inter_area
      |FROM o GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Planar-azimuth rollup (st_azimuth, PostGIS/Sedona semantics:
    * radians clockwise from north in [0, 2π)): forward and reverse
    * bearings between each occupied grid-cell anchor and a fixed survey
    * point. The oracle replays atan2(Δx, Δy) + the negative-branch wrap
    * verbatim; the BIGINT microradian funnel (floor(az·1e6 + 0.5)) fixes
    * the cross-engine DECIMAL hash-representation fragility (the r08 red
    * row) — as half-up rounding it still has half-integer boundaries,
    * but boundary-adjacent values were checked absent for this fixed
    * 36×18 grid, where last-ulp atan2 divergence is ~9 orders below the
    * nearest boundary. Scale shape: identical to
    * [[distanceSphereRollup]] — one counting shuffle, trig on the
    * bounded cell relation only. */
  def azimuthRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 36L).cast("int").as("gx"),
        (col("event_id") % 18L).cast("int").as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    val lon = col("gx").cast("double") * 10.0 - 175.0
    val lat = col("gy").cast("double") * 10.0 - 85.0
    val anchor = st_point(lit(-56.0), lit(-17.0))
    cells
      .withColumn("az_fwd", st_azimuth(st_point(lon, lat), anchor))
      .withColumn("az_rev", st_azimuth(anchor, st_point(lon, lat)))
      .select(col("gx"), col("gy"), col("n"),
        floor(col("az_fwd") * 1e6 + 0.5).as("az_fwd_urad"),
        floor(col("az_rev") * 1e6 + 0.5).as("az_rev_urad"))
      .orderBy(col("gx"), col("gy"))
  }

  /** Verbatim atan2 mirror of [[azimuthRollup]] with the same
    * negative-branch normalization. */
  val azimuthOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 36 AS INTEGER) AS gx,
      |         CAST(event_id % 18 AS INTEGER) AS gy, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |d AS (
      |  SELECT gx, gy, n,
      |    atan2(-56.0 - (gx * 10.0 - 175.0), -17.0 - (gy * 10.0 - 85.0)) AS f,
      |    atan2((gx * 10.0 - 175.0) - -56.0, (gy * 10.0 - 85.0) - -17.0) AS r
      |  FROM g)
      |SELECT gx, gy, n,
      |  CAST(floor((CASE WHEN f < 0 THEN f + 2 * pi() ELSE f END) * 1e6 + 0.5) AS BIGINT) AS az_fwd_urad,
      |  CAST(floor((CASE WHEN r < 0 THEN r + 2 * pi() ELSE r END) * 1e6 + 0.5) AS BIGINT) AS az_rev_urad
      |FROM d ORDER BY gx, gy""".stripMargin

  /** CRS-breadth reprojection rollup: each occupied event cell yields one
    * integer-degree anchor point inside each projection's service area —
    * France for EPSG:2154 (RGF93 / Lambert-93, conformal conic), CONUS
    * for EPSG:5070 (NAD83 / Conus Albers, equal-area conic), Europe for
    * EPSG:3035 (ETRS89 / LAEA, equal-area azimuthal) — pushed through
    * st_transform and read back with st_x/st_y. The DuckDB oracle
    * replays ALL THREE projections from their Snyder closed forms
    * (ch. 15 t/m/n/F/ρ, ch. 14 authalic-q/m/n/C/ρ, ch. 24 β/B/D) in
    * SQL; the ROUND(·,1) m funnel absorbs last-ulp libm drift (values
    * ~1e6 m, double agreement ~1e-8 m — seven orders inside).
    *
    * Scale shape: same as [[distanceSphereRollup]] — ONE counting
    * shuffle on the dense integer cell key; the projection trig runs on
    * the ≤108-row cell relation, never per fact row. */
  /** Geometry-accessor family rollup (st_geometrytype / st_numgeometries /
    * st_boundary / st_pointonsurface / st_closestpoint / st_perimeter /
    * st_flipcoordinates — the Sedona inspection surface): each occupied
    * region cell (key = user_id % 25) is built as its 50 km fixture
    * rectangle plus an outside probe point 10 km west of it, and every
    * accessor is measured in closed form — perimeter 2(w+h), boundary
    * length via st_length∘st_boundary, interior point = rectangle center
    * (JTS interior-point scanline midpoint, exact on integer corners),
    * closest point = the probe clamped to the rectangle, flip = the
    * probe's own y. All values are exact integer-valued doubles, emitted
    * as BIGINT so the oracle compares them with pure integer arithmetic.
    *
    * Scale shape: identical to [[distanceSphereRollup]] — ONE counting
    * shuffle on the dense integer key; all geometry on the ≤25-row cell
    * relation. The accessors themselves are per-row scalar projections
    * (no data movement) at any scale. */
  def geomAccessorsRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("user_id")))
      .select((col("user_id") % 25L).cast("int").as("r"))
      .groupBy(col("r"))
      .agg(count(lit(1)).as("n"))
    val rect = st_geomfromwkt(GeoFixtures.regionWkt(col("r")))
    val px = (GeoFixtures.regionX0(col("r")) - 10000L).cast("double")
    val py = (GeoFixtures.regionY0(col("r")) + col("r").cast("long") * 3000L).cast("double")
    val probe = st_point(px, py)
    cells
      .withColumn("pos", st_pointonsurface(rect))
      .withColumn("cp", st_closestpoint(rect, probe))
      .select(col("r"), col("n"),
        st_geometrytype(rect).as("gtype"),
        st_numgeometries(rect).as("nparts"),
        st_perimeter(rect).cast("bigint").as("perim_m"),
        st_length(st_boundary(rect)).cast("bigint").as("blen_m"),
        st_x(col("pos")).cast("bigint").as("pos_x"),
        st_y(col("pos")).cast("bigint").as("pos_y"),
        st_x(col("cp")).cast("bigint").as("cp_x"),
        st_y(col("cp")).cast("bigint").as("cp_y"),
        st_x(st_flipcoordinates(probe)).cast("bigint").as("flip_x"))
      .orderBy(col("r"))
  }

  /** Pure-integer closed forms of every accessor on the fixture grid:
    * x0/y0 from the region key, perimeter and boundary length 200000,
    * interior point the center, closest point the clamp, flip the probe y. */
  val geomAccessorsOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 25 AS INTEGER) AS r, count(*) AS n
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT r, n,
      |    -6300000 + (r % 5) * 60000 AS x0,
      |    -2000000 + (r // 5) * 60000 AS y0
      |  FROM g)
      |SELECT r, n,
      |  'ST_Polygon' AS gtype, 1 AS nparts,
      |  CAST(200000 AS BIGINT) AS perim_m, CAST(200000 AS BIGINT) AS blen_m,
      |  CAST(x0 + 25000 AS BIGINT) AS pos_x, CAST(y0 + 25000 AS BIGINT) AS pos_y,
      |  CAST(x0 AS BIGINT) AS cp_x,
      |  CAST(least(y0 + r * 3000, y0 + 50000) AS BIGINT) AS cp_y,
      |  CAST(y0 + r * 3000 AS BIGINT) AS flip_x
      |FROM c ORDER BY r""".stripMargin

  /** Linear-referencing rollup (st_lineinterpolatepoint / st_linesubstring
    * — Sedona/PostGIS `ST_LineInterpolatePoint`/`ST_LineSubstring`, the
    * trajectory resampling primitives): each occupied region cell carries
    * an L-shaped 80 km path (40 km east, then 40 km north) from its fixture
    * origin; the cell's point at length fraction (2r+1)/64 and the length
    * of the [1/4, 3/4] sub-line are emitted.
    *
    * Exactness by construction: fractions are dyadic ((2r+1)/64 — exact
    * doubles), segment lengths are powers-of-ten integers, so every
    * interpolated ordinate is an EXACT integer in both engines (JTS's
    * frac·seg arithmetic divides by the 40000 segment length and
    * multiplies it back — lossless for dyadic fractions) and the odd
    * numerator can never land on the corner (d = 1250·odd ≠ 40000). Cast
    * to BIGINT, compared by pure integer arithmetic — no rounding funnel
    * needed. Scale shape: identical to [[geomAccessorsRollup]]. */
  def lineInterpolateRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("user_id")))
      .select((col("user_id") % 25L).cast("int").as("r"))
      .groupBy(col("r"))
      .agg(count(lit(1)).as("n"))
    val sx0 = GeoFixtures.regionX0(col("r")).cast("string")
    val sy0 = GeoFixtures.regionY0(col("r")).cast("string")
    val sx1 = (GeoFixtures.regionX0(col("r")) + 40000L).cast("string")
    val sy1 = (GeoFixtures.regionY0(col("r")) + 40000L).cast("string")
    val path = st_geomfromwkt(concat(
      lit("LINESTRING ("), sx0, lit(" "), sy0, lit(", "),
      sx1, lit(" "), sy0, lit(", "), sx1, lit(" "), sy1, lit(")")))
    val f = ((col("r") * 2 + 1).cast("double") / lit(64.0))
    val ip = st_lineinterpolatepoint(path, f)
    cells.select(col("r"), col("n"),
        st_x(ip).cast("bigint").as("ip_x"),
        st_y(ip).cast("bigint").as("ip_y"),
        st_length(st_linesubstring(path, lit(0.25), lit(0.75)))
          .cast("bigint").as("sub_len"))
      .orderBy(col("r"))
  }

  /** Integer walk of the same L-path: d = 1250·(2r+1) meters along,
    * branch on the 40 km corner; the centered half sub-line is 40 km. */
  val lineInterpolateOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 25 AS INTEGER) AS r, count(*) AS n
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT r, n,
      |    -6300000 + (r % 5) * 60000 AS x0,
      |    -2000000 + (r // 5) * 60000 AS y0,
      |    (2 * r + 1) * 1250 AS d
      |  FROM g)
      |SELECT r, n,
      |  CAST(CASE WHEN d <= 40000 THEN x0 + d ELSE x0 + 40000 END AS BIGINT) AS ip_x,
      |  CAST(CASE WHEN d <= 40000 THEN y0 ELSE y0 + (d - 40000) END AS BIGINT) AS ip_y,
      |  CAST(40000 AS BIGINT) AS sub_len
      |FROM c ORDER BY r""".stripMargin

  /** st_collect rollup (Sedona/PostGIS `ST_Collect` — the non-dissolving
    * collect): each occupied region cell (key = user_id % 25) gathers its
    * distinct sub-keys s = (user_id DIV 25) % 4 as fixture points 1 km
    * west of the cell rectangle, then collects them twice — points alone
    * (homogeneous → MULTIPOINT with one part per distinct s) and points
    * plus the cell rectangle (mixed → GEOMETRYCOLLECTION). Both the
    * type-promotion rule and the part count are checked, plus the
    * collection envelope: all fixture ordinates are exact integers, so
    * the envelope corners are emitted as BIGINT and the oracle closed-form
    * is pure integer arithmetic (points sit west of the rect, inside its
    * y-span, so xmin comes from max(s) and the other corners from the
    * rect).
    *
    * Scale shape: ONE distinct + ONE collect shuffle on the dense integer
    * cell key; `collect_list` here gathers ≤4 fixture points per group —
    * the general operator's per-group memory is the caller's contract,
    * exactly as in Sedona. Part order in a collection is
    * arrival-dependent; every measured accessor (type, count, envelope)
    * is order-invariant. */
  def collectRollup(spark: SparkSession, dir: String): DataFrame = {
    val pts = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("user_id")))
      .select((col("user_id") % 25L).cast("int").as("r"),
        expr("CAST((user_id DIV 25) % 4 AS INT)").as("s"))
      .distinct()
    val pt = st_point(
      (GeoFixtures.regionX0(col("r")) - (col("s") + 1).cast("long") * 1000L).cast("double"),
      (GeoFixtures.regionY0(col("r")) + col("s").cast("long") * 2000L).cast("double"))
    val perCell = pts
      .withColumn("pt", pt)
      .groupBy(col("r"))
      .agg(collect_list(col("pt")).as("gs"), count(lit(1)).as("npts"))
    val rect = st_geomfromwkt(GeoFixtures.regionWkt(col("r")))
    val mp = st_collect(col("gs"))
    val gc = st_collect(concat(col("gs"), array(rect)))
    perCell
      .withColumn("env", st_envelope_bounds(gc))
      .select(col("r"), col("npts"),
        st_geometrytype(mp).as("mp_type"),
        st_numgeometries(mp).as("mp_n"),
        st_geometrytype(gc).as("gc_type"),
        st_numgeometries(gc).as("gc_n"),
        col("env.xmin").cast("bigint").as("gc_xmin"),
        col("env.ymin").cast("bigint").as("gc_ymin"),
        col("env.xmax").cast("bigint").as("gc_xmax"),
        col("env.ymax").cast("bigint").as("gc_ymax"))
      .orderBy(col("r"))
  }

  /** Integer closed forms: parts count = distinct s per cell (+1 for the
    * rect in the mixed collect); envelope xmin from the westmost point
    * (max s), remaining corners from the 50 km fixture rectangle. */
  val collectOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 25 AS INTEGER) AS r,
      |         CAST((user_id // 25) % 4 AS INTEGER) AS s
      |  FROM events GROUP BY 1, 2),
      |c AS (
      |  SELECT r, count(*) AS npts, max(s) AS smax FROM g GROUP BY r),
      |o AS (
      |  SELECT r, npts, smax,
      |    -6300000 + (r % 5) * 60000 AS x0,
      |    -2000000 + (r // 5) * 60000 AS y0
      |  FROM c)
      |SELECT r, CAST(npts AS BIGINT) AS npts,
      |  'ST_MultiPoint' AS mp_type, CAST(npts AS INTEGER) AS mp_n,
      |  'ST_GeometryCollection' AS gc_type, CAST(npts + 1 AS INTEGER) AS gc_n,
      |  CAST(x0 - (smax + 1) * 1000 AS BIGINT) AS gc_xmin,
      |  CAST(y0 AS BIGINT) AS gc_ymin,
      |  CAST(x0 + 50000 AS BIGINT) AS gc_xmax,
      |  CAST(y0 + 50000 AS BIGINT) AS gc_ymax
      |FROM o ORDER BY r""".stripMargin

  /** st_dump rollup (PostGIS/Sedona `ST_Dump`, the inverse of
    * [[collectRollup]]'s st_collect): the same per-cell MULTIPOINT fixture
    * is dumped back to parts with explode(st_dump(·)) and re-aggregated —
    * part count and ordinate sums per cell, all exact integers, so the
    * oracle is the same distinct-s closed form run forward. Round-trip
    * law by construction: dump ∘ collect ≡ the part set.
    *
    * Scale shape: two bounded-key shuffles (the distinct and the
    * per-cell sums); the dump itself is per-row scalar work whose output
    * arity is the member count — at scale the explode's row growth IS the
    * part relation being asked for. */
  def dumpRollup(spark: SparkSession, dir: String): DataFrame = {
    val pts = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("user_id")))
      .select((col("user_id") % 25L).cast("int").as("r"),
        expr("CAST((user_id DIV 25) % 4 AS INT)").as("s"))
      .distinct()
    val pt = st_point(
      (GeoFixtures.regionX0(col("r")) - (col("s") + 1).cast("long") * 1000L).cast("double"),
      (GeoFixtures.regionY0(col("r")) + col("s").cast("long") * 2000L).cast("double"))
    val mp = pts
      .withColumn("pt", pt)
      .groupBy(col("r"))
      .agg(collect_list(col("pt")).as("gs"))
      .withColumn("part", explode(st_dump(st_collect(col("gs")))))
    mp.groupBy(col("r"))
      .agg(count(lit(1)).as("n_parts"),
        sum(st_x(col("part")).cast("bigint")).as("sum_x"),
        sum(st_y(col("part")).cast("bigint")).as("sum_y"))
      .orderBy(col("r"))
  }

  /** Distinct-s closed form: part count = |S|, Σx = |S|·x0 − 1000(Σs+|S|),
    * Σy = |S|·y0 + 2000·Σs. */
  val dumpOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 25 AS INTEGER) AS r,
      |         CAST((user_id // 25) % 4 AS INTEGER) AS s
      |  FROM events GROUP BY 1, 2),
      |c AS (
      |  SELECT r, count(*) AS npts, sum(s) AS ssum FROM g GROUP BY r),
      |o AS (
      |  SELECT r, npts, ssum,
      |    -6300000 + (r % 5) * 60000 AS x0,
      |    -2000000 + (r // 5) * 60000 AS y0
      |  FROM c)
      |SELECT r, CAST(npts AS BIGINT) AS n_parts,
      |  CAST(npts * x0 - 1000 * (ssum + npts) AS BIGINT) AS sum_x,
      |  CAST(npts * y0 + 2000 * ssum AS BIGINT) AS sum_y
      |FROM o ORDER BY r""".stripMargin

  /** Affine-family rollup (st_translate / st_scale / st_rotate —
    * PostGIS/Sedona semantics, scale and rotate about the origin): each
    * occupied region cell's 50 km fixture rectangle is translated by a
    * cell-dependent integer offset (envelope corners stay exact
    * integers → BIGINT), scaled ×2/×3 (corners and the ×6 shoelace area
    * exact → BIGINT), and rotated by π/2 (corners pick up a
    * ~|x|·cos(π/2) ≈ 1e-9 m residue, so the rotated envelope goes
    * through the ROUND(·,1) DECIMAL funnel whose arithmetic the oracle
    * mirrors verbatim — x' = x·cos − y·sin over the four corners).
    *
    * Scale shape: identical to [[geomAccessorsRollup]] — one counting
    * shuffle on the dense key, all geometry on the ≤25-row relation. */
  def affineRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("user_id")))
      .select((col("user_id") % 25L).cast("int").as("r"))
      .groupBy(col("r"))
      .agg(count(lit(1)).as("n"))
    val rect = st_geomfromwkt(GeoFixtures.regionWkt(col("r")))
    val tr = st_translate(rect,
      (col("r").cast("long") * 1000L + 7L).cast("double"),
      (-col("r").cast("long") * 500L - 3L).cast("double"))
    val sc = st_scale(rect, lit(2.0), lit(3.0))
    val ro = st_rotate(rect, lit(math.Pi / 2))
    cells
      .withColumn("te", st_envelope_bounds(tr))
      .withColumn("se", st_envelope_bounds(sc))
      .withColumn("re", st_envelope_bounds(ro))
      .select(col("r"), col("n"),
        col("te.xmin").cast("bigint").as("t_xmin"),
        col("te.ymin").cast("bigint").as("t_ymin"),
        col("se.xmax").cast("bigint").as("s_xmax"),
        col("se.ymax").cast("bigint").as("s_ymax"),
        st_area(sc).cast("bigint").as("s_area"),
        round(col("re.xmin"), 1).cast("decimal(14,1)").as("r_xmin"),
        round(col("re.ymax"), 1).cast("decimal(14,1)").as("r_ymax"))
      .orderBy(col("r"))
  }

  /** Integer closed forms for translate/scale; the rotation envelope
    * replays x'=x·cos−y·sin / y'=x·sin+y·cos over the four corners with
    * the same θ=π/2 doubles, through the same ROUND funnel. */
  val affineOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 25 AS INTEGER) AS r, count(*) AS n
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT r, n,
      |    CAST(-6300000 + (r % 5) * 60000 AS DOUBLE) AS x0,
      |    CAST(-2000000 + (r // 5) * 60000 AS DOUBLE) AS y0
      |  FROM g),
      |k AS (
      |  SELECT r, n, x0, y0, x0 + 50000 AS x1, y0 + 50000 AS y1,
      |         cos(pi() / 2) AS ct, sin(pi() / 2) AS st
      |  FROM c)
      |SELECT r, n,
      |  CAST(x0 + r * 1000 + 7 AS BIGINT) AS t_xmin,
      |  CAST(y0 - r * 500 - 3 AS BIGINT) AS t_ymin,
      |  CAST(2 * x1 AS BIGINT) AS s_xmax,
      |  CAST(3 * y1 AS BIGINT) AS s_ymax,
      |  CAST(15000000000 AS BIGINT) AS s_area,
      |  CAST(round(least(x0*ct - y0*st, x1*ct - y0*st, x1*ct - y1*st, x0*ct - y1*st), 1)
      |       AS DECIMAL(14,1)) AS r_xmin,
      |  CAST(round(greatest(x0*st + y0*ct, x1*st + y0*ct, x1*st + y1*ct, x0*st + y1*ct), 1)
      |       AS DECIMAL(14,1)) AS r_ymax
      |FROM k ORDER BY r""".stripMargin

  /** Geometry-toolbox rollup (st_hausdorffdistance /
    * st_minimumboundingradius / st_linemerge / st_polygonize — the
    * remaining Sedona construction + similarity surface): per occupied
    * region cell,
    *   - Hausdorff distance between the fixture rectangle and its
    *     (r·97+3, 0) translate — for a congruent axis-aligned translate
    *     by t < w/2 the discrete Hausdorff is exactly t (every vertex's
    *     nearest point on the other rectangle is the perpendicular foot
    *     t away), an exact integer;
    *   - minimum bounding circle of the rectangle: center = the
    *     rectangle center and radius = 25000·√2, BOTH through the
    *     ROUND(·,1) funnel (the circumcenter's double arithmetic can
    *     leave ~1e-9 residue on integer inputs; sqrt mirrored verbatim);
    *   - the L-path's two segments fed as MULTILINESTRING to linemerge:
    *     one LINESTRING, 3 points, exact 80 km length;
    *   - the rectangle's four boundary edges fed to polygonize: exactly
    *     one polygon of the exact fixture area.
    * Scale shape: identical to [[geomAccessorsRollup]] — one counting
    * shuffle on the dense key, geometry on the ≤25-row cell relation. */
  def geomToolboxRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("user_id")))
      .select((col("user_id") % 25L).cast("int").as("r"))
      .groupBy(col("r"))
      .agg(count(lit(1)).as("n"))
    val rect = st_geomfromwkt(GeoFixtures.regionWkt(col("r")))
    val t = (col("r").cast("long") * 97L + 3L).cast("double")
    val sx0 = GeoFixtures.regionX0(col("r")).cast("string")
    val sy0 = GeoFixtures.regionY0(col("r")).cast("string")
    val sx1 = (GeoFixtures.regionX0(col("r")) + 40000L).cast("string")
    val sy1 = (GeoFixtures.regionY0(col("r")) + 40000L).cast("string")
    val ml = st_geomfromwkt(concat(
      lit("MULTILINESTRING (("), sx0, lit(" "), sy0, lit(", "), sx1, lit(" "), sy0,
      lit("), ("), sx1, lit(" "), sy0, lit(", "), sx1, lit(" "), sy1, lit("))")))
    val rx0 = GeoFixtures.regionX0(col("r")).cast("string")
    val ry0 = GeoFixtures.regionY0(col("r")).cast("string")
    val rx1 = (GeoFixtures.regionX0(col("r")) + 50000L).cast("string")
    val ry1 = (GeoFixtures.regionY0(col("r")) + 50000L).cast("string")
    def seg(ax: org.apache.spark.sql.Column, ay: org.apache.spark.sql.Column,
            bx: org.apache.spark.sql.Column, by: org.apache.spark.sql.Column) =
      st_geomfromwkt(concat(lit("LINESTRING ("), ax, lit(" "), ay,
        lit(", "), bx, lit(" "), by, lit(")")))
    val edges = array(
      seg(rx0, ry0, rx1, ry0), seg(rx1, ry0, rx1, ry1),
      seg(rx1, ry1, rx0, ry1), seg(rx0, ry1, rx0, ry0))
    val lm = st_linemerge(ml)
    val pg = st_polygonize(edges)
    cells
      .withColumn("mbr", st_minimumboundingradius(rect))
      .select(col("r"), col("n"),
        st_hausdorffdistance(rect, st_translate(rect, t, lit(0.0)))
          .cast("bigint").as("hausdorff_m"),
        round(st_x(col("mbr.center")), 1).cast("decimal(12,1)").as("mbc_x"),
        round(st_y(col("mbr.center")), 1).cast("decimal(12,1)").as("mbc_y"),
        round(col("mbr.radius"), 1).cast("decimal(12,1)").as("mbc_r"),
        st_geometrytype(lm).as("lm_type"),
        st_npoints(lm).as("lm_npoints"),
        st_length(lm).cast("bigint").as("lm_len"),
        st_numgeometries(pg).as("pg_n"),
        st_area(pg).cast("bigint").as("pg_area"))
      .orderBy(col("r"))
  }

  /** Integer closed forms (translate Hausdorff = t, merged L-path, the
    * polygonized fixture area) + the one verbatim sqrt mirror. */
  val geomToolboxOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 25 AS INTEGER) AS r, count(*) AS n
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT r, n,
      |    -6300000 + (r % 5) * 60000 AS x0,
      |    -2000000 + (r // 5) * 60000 AS y0
      |  FROM g)
      |SELECT r, n,
      |  CAST(r * 97 + 3 AS BIGINT) AS hausdorff_m,
      |  CAST(round(CAST(x0 + 25000 AS DOUBLE), 1) AS DECIMAL(12,1)) AS mbc_x,
      |  CAST(round(CAST(y0 + 25000 AS DOUBLE), 1) AS DECIMAL(12,1)) AS mbc_y,
      |  CAST(round(25000 * sqrt(2), 1) AS DECIMAL(12,1)) AS mbc_r,
      |  'ST_LineString' AS lm_type, 3 AS lm_npoints,
      |  CAST(80000 AS BIGINT) AS lm_len,
      |  1 AS pg_n, CAST(2500000000 AS BIGINT) AS pg_area
      |FROM c ORDER BY r""".stripMargin

  /** Lineal/ring accessor + WKB codec rollup (st_startpoint / st_endpoint
    * / st_pointn (incl. negative index) / st_isclosed / st_isring /
    * st_dimension / st_exteriorring / st_numinteriorrings /
    * st_interiorringn / st_isempty / st_geomfromwkb∘st_aswkb — the rest
    * of the PostGIS/Sedona inspection surface): the L-path fixture
    * provides the lineal cases, a donut (the cell rectangle with a 10 km
    * square hole) the ring cases, and a probe point round-trips through
    * the WKB codec pair. Every emitted value is an exact integer or a
    * boolean cast to INT — pure integer oracle, no funnel needed.
    * Scale shape: identical to [[geomAccessorsRollup]]. */
  def ringAccessorsRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("user_id")))
      .select((col("user_id") % 25L).cast("int").as("r"))
      .groupBy(col("r"))
      .agg(count(lit(1)).as("n"))
    val sx0 = GeoFixtures.regionX0(col("r")).cast("string")
    val sy0 = GeoFixtures.regionY0(col("r")).cast("string")
    val sx1 = (GeoFixtures.regionX0(col("r")) + 40000L).cast("string")
    val sy1 = (GeoFixtures.regionY0(col("r")) + 40000L).cast("string")
    val path = st_geomfromwkt(concat(
      lit("LINESTRING ("), sx0, lit(" "), sy0, lit(", "),
      sx1, lit(" "), sy0, lit(", "), sx1, lit(" "), sy1, lit(")")))
    def c(v: org.apache.spark.sql.Column) = v.cast("string")
    val (hx0, hy0) = (GeoFixtures.regionX0(col("r")) + 10000L,
                      GeoFixtures.regionY0(col("r")) + 10000L)
    val (hx1, hy1) = (hx0 + 10000L, hy0 + 10000L)
    val (rx1, ry1) = (GeoFixtures.regionX0(col("r")) + 50000L,
                      GeoFixtures.regionY0(col("r")) + 50000L)
    val donut = st_geomfromwkt(concat(
      lit("POLYGON (("), sx0, lit(" "), sy0, lit(", "), c(rx1), lit(" "), sy0,
      lit(", "), c(rx1), lit(" "), c(ry1), lit(", "), sx0, lit(" "), c(ry1),
      lit(", "), sx0, lit(" "), sy0, lit("), ("),
      c(hx0), lit(" "), c(hy0), lit(", "), c(hx0), lit(" "), c(hy1),
      lit(", "), c(hx1), lit(" "), c(hy1), lit(", "), c(hx1), lit(" "), c(hy0),
      lit(", "), c(hx0), lit(" "), c(hy0), lit("))")))
    val probe = st_point(
      (GeoFixtures.regionX0(col("r")) - 7L).cast("double"),
      (GeoFixtures.regionY0(col("r")) + 13L).cast("double"))
    val ring = st_exteriorring(donut)
    cells.select(col("r"), col("n"),
        st_x(st_startpoint(path)).cast("bigint").as("sp_x"),
        st_y(st_endpoint(path)).cast("bigint").as("ep_y"),
        st_x(st_pointn(path, lit(2))).cast("bigint").as("p2_x"),
        st_y(st_pointn(path, lit(-1))).cast("bigint").as("pn1_y"),
        when(st_isclosed(path), 1).otherwise(0).as("path_closed"),
        when(st_isclosed(ring), 1).otherwise(0).as("ring_closed"),
        when(st_isring(ring), 1).otherwise(0).as("ring_isring"),
        when(st_isempty(donut), 1).otherwise(0).as("donut_empty"),
        st_dimension(path).as("dim_path"),
        st_dimension(donut).as("dim_donut"),
        st_npoints(ring).as("ring_npoints"),
        st_numinteriorrings(donut).as("n_holes"),
        st_length(st_interiorringn(donut, lit(1))).cast("bigint").as("hole_len"),
        st_area(donut).cast("bigint").as("donut_area"),
        st_x(graft.functions.st_geomfromwkb(st_aswkb(probe))).cast("bigint").as("wkb_rt_x"))
      .orderBy(col("r"))
  }

  /** Pure-integer closed forms over the fixture grid; the WKB round-trip
    * is the identity on the probe's x ordinate. */
  val ringAccessorsOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 25 AS INTEGER) AS r, count(*) AS n
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT r, n,
      |    -6300000 + (r % 5) * 60000 AS x0,
      |    -2000000 + (r // 5) * 60000 AS y0
      |  FROM g)
      |SELECT r, n,
      |  CAST(x0 AS BIGINT) AS sp_x,
      |  CAST(y0 + 40000 AS BIGINT) AS ep_y,
      |  CAST(x0 + 40000 AS BIGINT) AS p2_x,
      |  CAST(y0 + 40000 AS BIGINT) AS pn1_y,
      |  0 AS path_closed, 1 AS ring_closed, 1 AS ring_isring,
      |  0 AS donut_empty, 1 AS dim_path, 2 AS dim_donut,
      |  5 AS ring_npoints, 1 AS n_holes,
      |  CAST(40000 AS BIGINT) AS hole_len,
      |  CAST(2400000000 AS BIGINT) AS donut_area,
      |  CAST(x0 - 7 AS BIGINT) AS wkb_rt_x
      |FROM c ORDER BY r""".stripMargin

  /** Triangulation/hull rollup (st_delaunaytriangles / st_voronoipolygons
    * / st_concavehull / st_convexhull / st_snap — the Sedona
    * tessellation surface): the sites are each cell rectangle's four
    * corners plus its center, a configuration whose tessellations have
    * exact closed forms — Delaunay partitions the rectangle into 4
    * center-sharing triangles (area sum = the fixture area; every vertex
    * is an integer or the half-integer center, so shoelace doubles are
    * exact), Voronoi against the rectangle extent partitions it into 5
    * cells whose dyadic-coordinate areas sum to the same, and both hulls
    * (convex, concave at ratio 1) are the rectangle itself. st_snap pulls
    * a (+3,+4) offset probe onto the nearest corner within tolerance 10
    * — exact integers again.
    * Scale shape: identical to [[geomAccessorsRollup]]. */
  def triangulateRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("user_id")))
      .select((col("user_id") % 25L).cast("int").as("r"))
      .groupBy(col("r"))
      .agg(count(lit(1)).as("n"))
    def c(v: org.apache.spark.sql.Column) = v.cast("string")
    val x0 = GeoFixtures.regionX0(col("r"))
    val y0 = GeoFixtures.regionY0(col("r"))
    val (x1, y1) = (x0 + 50000L, y0 + 50000L)
    val (cx, cy) = (x0 + 25000L, y0 + 25000L)
    val sites = st_geomfromwkt(concat(
      lit("MULTIPOINT (("), c(x0), lit(" "), c(y0), lit("), ("),
      c(x1), lit(" "), c(y0), lit("), ("), c(x1), lit(" "), c(y1), lit("), ("),
      c(x0), lit(" "), c(y1), lit("), ("), c(cx), lit(" "), c(cy), lit("))")))
    val rect = st_geomfromwkt(GeoFixtures.regionWkt(col("r")))
    val probe = st_point((x0 + 3L).cast("double"), (y0 + 4L).cast("double"))
    val tri = st_delaunaytriangles(sites)
    val vor = st_voronoipolygons(sites, rect)
    val hull = st_convexhull(sites)
    val chull = st_concavehull(sites, lit(1.0))
    val snapped = st_snap(probe, rect, lit(10.0))
    cells.select(col("r"), col("n"),
        st_numgeometries(tri).as("tri_n"),
        st_area(tri).cast("bigint").as("tri_area"),
        st_numgeometries(vor).as("vor_n"),
        st_area(vor).cast("bigint").as("vor_area"),
        st_area(hull).cast("bigint").as("hull_area"),
        st_npoints(hull).as("hull_npoints"),
        st_area(chull).cast("bigint").as("chull_area"),
        st_x(snapped).cast("bigint").as("snap_x"),
        st_y(snapped).cast("bigint").as("snap_y"))
      .orderBy(col("r"))
  }

  /** Exact tessellation closed forms on the corner+center configuration;
    * snap lands on the corner (distance 5 < tolerance 10). */
  val triangulateOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 25 AS INTEGER) AS r, count(*) AS n
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT r, n,
      |    -6300000 + (r % 5) * 60000 AS x0,
      |    -2000000 + (r // 5) * 60000 AS y0
      |  FROM g)
      |SELECT r, n,
      |  4 AS tri_n, CAST(2500000000 AS BIGINT) AS tri_area,
      |  5 AS vor_n, CAST(2500000000 AS BIGINT) AS vor_area,
      |  CAST(2500000000 AS BIGINT) AS hull_area, 5 AS hull_npoints,
      |  CAST(2500000000 AS BIGINT) AS chull_area,
      |  CAST(x0 AS BIGINT) AS snap_x,
      |  CAST(y0 AS BIGINT) AS snap_y
      |FROM c ORDER BY r""".stripMargin

  /** Normalization/precision rollup (st_reduceprecision /
    * st_simplifypreservetopology / st_normalize / st_multi /
    * st_geometryn): each cell's fixture rectangle is jittered by fixed
    * sub-unit offsets and snapped back to the integer grid
    * (reduceprecision grid 1.0 — envelope and area become exact integers
    * again), a 1-unit spike on the 40 km baseline is flattened by
    * topology-preserving simplification (2 points, exact length), a
    * reversed-and-rotated writing of the ring normalizes to byte-equality
    * with the canonical one, and st_multi/st_geometryn round-trip the
    * promote/access pair. All-integer oracle.
    * Scale shape: identical to [[geomAccessorsRollup]]. */
  def normPrecisionRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("user_id")))
      .select((col("user_id") % 25L).cast("int").as("r"))
      .groupBy(col("r"))
      .agg(count(lit(1)).as("n"))
    def c(v: org.apache.spark.sql.Column) = v.cast("string")
    val x0 = GeoFixtures.regionX0(col("r"))
    val y0 = GeoFixtures.regionY0(col("r"))
    val (x1, y1) = (x0 + 50000L, y0 + 50000L)
    // corners pushed off-grid by appending decimals to the (all-negative)
    // fixture ordinates — ".3"/".4" jitter snaps back to the same integer,
    // ".6"/".7" snaps one further from zero (x1 − 1 here); all offsets sit
    // away from the .5 rounding boundary, so the snapped result is
    // closed-form
    val jit = st_geomfromwkt(concat(
      lit("POLYGON (("), c(x0), lit(".3 "), c(y0), lit(".4, "),
      c(x1), lit(".6 "), c(y0), lit(".4, "), c(x1), lit(".6 "), c(y1), lit(".7, "),
      c(x0), lit(".3 "), c(y1), lit(".7, "), c(x0), lit(".3 "), c(y0), lit(".4))")))
    val red = st_reduceprecision(jit, lit(1.0))
    val spike = st_geomfromwkt(concat(
      lit("LINESTRING ("), c(x0), lit(" "), c(y0), lit(", "),
      c(x0 + 20000L), lit(" "), c(y0 + 1L), lit(", "),
      c(x0 + 40000L), lit(" "), c(y0), lit(")")))
    val simp = st_simplifypreservetopology(spike, lit(10.0))
    val canonical = st_geomfromwkt(GeoFixtures.regionWkt(col("r")))
    // same ring, opposite orientation, different start vertex
    val rotated = st_geomfromwkt(concat(
      lit("POLYGON (("), c(x1), lit(" "), c(y1), lit(", "),
      c(x1), lit(" "), c(y0), lit(", "), c(x0), lit(" "), c(y0), lit(", "),
      c(x0), lit(" "), c(y1), lit(", "), c(x1), lit(" "), c(y1), lit("))")))
    val probe = st_point((x0 - 11L).cast("double"), (y0 + 17L).cast("double"))
    val mp = st_multi(probe)
    cells
      .withColumn("re", st_envelope_bounds(red))
      .select(col("r"), col("n"),
        col("re.xmin").cast("bigint").as("red_xmin"),
        col("re.xmax").cast("bigint").as("red_xmax"),
        st_area(red).cast("bigint").as("red_area"),
        st_npoints(simp).as("simp_npoints"),
        st_length(simp).cast("bigint").as("simp_len"),
        when(st_astext(st_normalize(rotated)) === st_astext(st_normalize(canonical)), 1)
          .otherwise(0).as("norm_eq"),
        st_geometrytype(mp).as("multi_type"),
        st_numgeometries(mp).as("multi_n"),
        st_x(st_geometryn(mp, lit(1))).cast("bigint").as("part1_x"),
        when(st_geometryn(mp, lit(2)).isNull, 1).otherwise(0).as("oob_null"))
      .orderBy(col("r"))
  }

  /** Integer closed forms: snapped envelope/area, flattened spike,
    * canonical-form equality, promote/access round-trip. */
  val normPrecisionOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 25 AS INTEGER) AS r, count(*) AS n
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT r, n,
      |    -6300000 + (r % 5) * 60000 AS x0,
      |    -2000000 + (r // 5) * 60000 AS y0
      |  FROM g)
      |SELECT r, n,
      |  CAST(x0 AS BIGINT) AS red_xmin,
      |  CAST(x0 + 49999 AS BIGINT) AS red_xmax,
      |  CAST(CAST(49999 AS BIGINT) * 49999 AS BIGINT) AS red_area,
      |  2 AS simp_npoints, CAST(40000 AS BIGINT) AS simp_len,
      |  1 AS norm_eq, 'ST_MultiPoint' AS multi_type, 1 AS multi_n,
      |  CAST(x0 - 11 AS BIGINT) AS part1_x, 1 AS oob_null
      |FROM c ORDER BY r""".stripMargin

  def transformCrsRollup(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(Tables.table(spark, dir, "events")
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 12L).cast("int").as("gx"),
        (col("event_id") % 9L).cast("int").as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    val lonF = (col("gx") - 4).cast("double")           // -4 .. 7 °E
    val latF = (col("gy") + 42).cast("double")          // 42 .. 50 °N
    val lonU = (col("gx") * 4 - 124).cast("double")     // -124 .. -80 °E
    val latU = (col("gy") * 2 + 25).cast("double")      // 25 .. 41 °N
    val lonE = col("gx").cast("double")                 // 0 .. 11 °E
    val latE = (col("gy") + 40).cast("double")          // 40 .. 48 °N
    cells
      .withColumn("p93", st_transform(st_point(lonF, latF), "EPSG:4326", "EPSG:2154"))
      .withColumn("alb", st_transform(st_point(lonU, latU), "EPSG:4326", "EPSG:5070"))
      .withColumn("lae", st_transform(st_point(lonE, latE), "EPSG:4326", "EPSG:3035"))
      .select(col("gx"), col("gy"), col("n"),
        round(st_x(col("p93")), 1).cast("decimal(12,1)").as("l93_e"),
        round(st_y(col("p93")), 1).cast("decimal(12,1)").as("l93_n"),
        round(st_x(col("alb")), 1).cast("decimal(12,1)").as("alb_x"),
        round(st_y(col("alb")), 1).cast("decimal(12,1)").as("alb_y"),
        round(st_x(col("lae")), 1).cast("decimal(12,1)").as("laea_x"),
        round(st_y(col("lae")), 1).cast("decimal(12,1)").as("laea_y"))
      .orderBy(col("gx"), col("gy"))
  }

  /** Snyder closed-form mirror of all three projections (same parameters
    * as `Crs.Lambert93` / `Crs.ConusAlbers` / `Crs.LaeaEurope`),
    * computed entirely in DuckDB scalar SQL. */
  val transformCrsOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(user_id % 12 AS INTEGER) AS gx,
      |         CAST(event_id % 9 AS INTEGER) AS gy, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |k AS (
      |  SELECT 6378137.0 AS a,
      |         (1.0/298.257222101) * (2.0 - 1.0/298.257222101) AS e2,
      |         sqrt((1.0/298.257222101) * (2.0 - 1.0/298.257222101)) AS e),
      |lc AS ( -- EPSG:2154 cone constants (Snyder ch. 15)
      |  SELECT a, e2, e,
      |    ln( (cos(radians(44.0))/sqrt(1 - e2*sin(radians(44.0))*sin(radians(44.0))))
      |      / (cos(radians(49.0))/sqrt(1 - e2*sin(radians(49.0))*sin(radians(49.0)))) )
      |    / ln( (tan(pi()/4 - radians(44.0)/2) / pow((1 - e*sin(radians(44.0)))/(1 + e*sin(radians(44.0))), e/2))
      |        / (tan(pi()/4 - radians(49.0)/2) / pow((1 - e*sin(radians(49.0)))/(1 + e*sin(radians(49.0))), e/2)) ) AS cn
      |  FROM k),
      |lc2 AS (
      |  SELECT a, e2, e, cn,
      |    (cos(radians(44.0))/sqrt(1 - e2*sin(radians(44.0))*sin(radians(44.0))))
      |      / (cn * pow(tan(pi()/4 - radians(44.0)/2) / pow((1 - e*sin(radians(44.0)))/(1 + e*sin(radians(44.0))), e/2), cn)) AS cf
      |  FROM lc),
      |lc3 AS (
      |  SELECT a, e2, e, cn, cf,
      |    a * cf * pow(tan(pi()/4 - radians(46.5)/2) / pow((1 - e*sin(radians(46.5)))/(1 + e*sin(radians(46.5))), e/2), cn) AS rho0
      |  FROM lc2),
      |al AS ( -- EPSG:5070 cone constants (Snyder ch. 14, authalic q)
      |  SELECT a, e2, e,
      |    ( pow(cos(radians(29.5)), 2)/(1 - e2*sin(radians(29.5))*sin(radians(29.5)))
      |    - pow(cos(radians(45.5)), 2)/(1 - e2*sin(radians(45.5))*sin(radians(45.5))) )
      |    / ( (1 - e2) * (sin(radians(45.5))/(1 - e2*sin(radians(45.5))*sin(radians(45.5)))
      |          - (1/(2*e)) * ln((1 - e*sin(radians(45.5)))/(1 + e*sin(radians(45.5)))))
      |      - (1 - e2) * (sin(radians(29.5))/(1 - e2*sin(radians(29.5))*sin(radians(29.5)))
      |          - (1/(2*e)) * ln((1 - e*sin(radians(29.5)))/(1 + e*sin(radians(29.5))))) ) AS an
      |  FROM k),
      |al2 AS (
      |  SELECT a, e2, e, an,
      |    pow(cos(radians(29.5)), 2)/(1 - e2*sin(radians(29.5))*sin(radians(29.5)))
      |      + an * (1 - e2) * (sin(radians(29.5))/(1 - e2*sin(radians(29.5))*sin(radians(29.5)))
      |          - (1/(2*e)) * ln((1 - e*sin(radians(29.5)))/(1 + e*sin(radians(29.5))))) AS ac
      |  FROM al),
      |al3 AS (
      |  SELECT a, e2, e, an, ac,
      |    a * sqrt(ac - an * (1 - e2) * (sin(radians(23.0))/(1 - e2*sin(radians(23.0))*sin(radians(23.0)))
      |          - (1/(2*e)) * ln((1 - e*sin(radians(23.0)))/(1 + e*sin(radians(23.0)))))) / an AS arho0
      |  FROM al2),
      |la1 AS ( -- EPSG:3035 authalic constants (Snyder ch. 24)
      |  SELECT a, e2, e,
      |    (1 - e2) * (1/(1 - e2) - (1/(2*e)) * ln((1 - e)/(1 + e))) AS qp
      |  FROM k),
      |la2 AS (
      |  SELECT a, e2, e, qp,
      |    a * sqrt(qp/2) AS rq,
      |    asin( (1 - e2) * (sin(radians(52.0))/(1 - e2*sin(radians(52.0))*sin(radians(52.0)))
      |          - (1/(2*e)) * ln((1 - e*sin(radians(52.0)))/(1 + e*sin(radians(52.0))))) / qp ) AS b0
      |  FROM la1),
      |la3 AS (
      |  SELECT a, e2, e, qp, rq, b0,
      |    a * (cos(radians(52.0))/sqrt(1 - e2*sin(radians(52.0))*sin(radians(52.0))))
      |      / (rq * cos(b0)) AS dd
      |  FROM la2),
      |pt AS (
      |  SELECT gx, gy, n,
      |    radians(CAST(gy + 42 AS DOUBLE)) AS phiF, CAST(gx - 4 AS DOUBLE) AS lonF,
      |    radians(CAST(gy * 2 + 25 AS DOUBLE)) AS phiU, CAST(gx * 4 - 124 AS DOUBLE) AS lonU,
      |    radians(CAST(gy + 40 AS DOUBLE)) AS phiE, CAST(gx AS DOUBLE) AS lonE
      |  FROM g),
      |lb AS ( -- per-point LAEA authalic latitude + B radius
      |  SELECT pt.gx, pt.gy, pt.lonE, la3.rq, la3.b0, la3.dd,
      |    asin( (1 - la3.e2) * (sin(phiE)/(1 - la3.e2*sin(phiE)*sin(phiE))
      |          - (1/(2*la3.e)) * ln((1 - la3.e*sin(phiE))/(1 + la3.e*sin(phiE)))) / la3.qp ) AS beta
      |  FROM pt, la3),
      |lb2 AS (
      |  SELECT lb.gx, lb.gy, lb.b0, lb.dd, lb.beta,
      |    rq * sqrt(2 / (1 + sin(b0)*sin(beta) + cos(b0)*cos(beta)*cos(radians(lonE - 10.0)))) AS bb
      |  FROM lb),
      |prj AS (
      |  SELECT pt.gx, pt.gy, pt.n,
      |    4321000 + lb2.bb * lb2.dd * cos(lb2.beta) * sin(radians(pt.lonE - 10.0)) AS laea_x,
      |    3210000 + (lb2.bb / lb2.dd) * (cos(lb2.b0) * sin(lb2.beta)
      |      - sin(lb2.b0) * cos(lb2.beta) * cos(radians(pt.lonE - 10.0))) AS laea_y,
      |    700000 + (lc3.a * lc3.cf * pow(tan(pi()/4 - phiF/2) / pow((1 - lc3.e*sin(phiF))/(1 + lc3.e*sin(phiF)), lc3.e/2), lc3.cn))
      |      * sin(lc3.cn * radians(lonF - 3.0)) AS l93_e,
      |    6600000 + lc3.rho0 - (lc3.a * lc3.cf * pow(tan(pi()/4 - phiF/2) / pow((1 - lc3.e*sin(phiF))/(1 + lc3.e*sin(phiF)), lc3.e/2), lc3.cn))
      |      * cos(lc3.cn * radians(lonF - 3.0)) AS l93_n,
      |    (al3.a * sqrt(al3.ac - al3.an * (1 - al3.e2) * (sin(phiU)/(1 - al3.e2*sin(phiU)*sin(phiU))
      |          - (1/(2*al3.e)) * ln((1 - al3.e*sin(phiU))/(1 + al3.e*sin(phiU))))) / al3.an)
      |      * sin(al3.an * radians(lonU + 96.0)) AS alb_x,
      |    al3.arho0 - (al3.a * sqrt(al3.ac - al3.an * (1 - al3.e2) * (sin(phiU)/(1 - al3.e2*sin(phiU)*sin(phiU))
      |          - (1/(2*al3.e)) * ln((1 - al3.e*sin(phiU))/(1 + al3.e*sin(phiU))))) / al3.an)
      |      * cos(al3.an * radians(lonU + 96.0)) AS alb_y
      |  FROM pt, lc3, al3, lb2
      |  WHERE pt.gx = lb2.gx AND pt.gy = lb2.gy)
      |SELECT gx, gy, n,
      |  CAST(round(l93_e, 1) AS DECIMAL(12,1)) AS l93_e,
      |  CAST(round(l93_n, 1) AS DECIMAL(12,1)) AS l93_n,
      |  CAST(round(alb_x, 1) AS DECIMAL(12,1)) AS alb_x,
      |  CAST(round(alb_y, 1) AS DECIMAL(12,1)) AS alb_y,
      |  CAST(round(laea_x, 1) AS DECIMAL(12,1)) AS laea_x,
      |  CAST(round(laea_y, 1) AS DECIMAL(12,1)) AS laea_y
      |FROM prj ORDER BY gx, gy""".stripMargin

  /** Trajectory build + Douglas-Peucker thinning: per-user polyline from
    * the event stream (st_makeline over the (ts, event_id)-ordered point
    * array — one shuffle, on user_id), then st_simplify with a tolerance
    * above any deviation, which provably keeps exactly the two endpoints —
    * so vertex counts and the simplified length are closed-form for the
    * oracle (partial-simplification geometry is covered by SpatialSqlSpec
    * fixtures). Track coordinates are exact dyadic quarters/eighths:
    * endpoint deltas, their squares and sums are exact doubles and sqrt is
    * correctly rounded, so Spark (JTS Length.ofLine) and DuckDB compute
    * bit-identical lengths. At scale this is the canonical trajectory
    * compaction pass: grouped collect + per-row JTS kernel, no cross-key
    * data movement beyond the one groupBy shuffle. */
  def trajectorySimplify(spark: SparkSession, dir: String): DataFrame = {
    val ev = Par.fanOut(Tables.table(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts")))
    val x = (col("event_id") % 1000L) / lit(4.0)
    val y = (col("event_id") % 640L) / lit(8.0)
    val simplified = st_simplify(col("line"), lit(1.0e9))
    ev.select(col("user_id"),
        struct(col("ts"), col("event_id"), st_point(x, y).as("pt")).as("pt_ord"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(col("pt_ord"))).as("path"))
      .where(size(col("path")) >= 2)
      .select(col("user_id"),
        st_makeline(transform(col("path"), p => p.getField("pt"))).as("line"))
      .select(
        col("user_id"),
        st_npoints(col("line")).as("n_raw"),
        st_npoints(simplified).as("n_simplified"),
        st_length(simplified).as("len_simplified"))
      .orderBy(col("user_id"))
  }

  /** Closed form for the endpoint-only simplification: n_simplified = 2,
    * length = Euclidean distance between the (ts, event_id)-first and
    * -last track points. */
  val trajectorySimplifyOracleSql: String =
    """WITH pts AS (
      |  SELECT user_id, ts, event_id,
      |         (event_id % 1000) / 4.0 AS x, (event_id % 640) / 8.0 AS y
      |  FROM events
      |), agg AS (
      |  SELECT user_id, count(*) AS n_pts,
      |         first(x ORDER BY ts, event_id) AS x0, first(y ORDER BY ts, event_id) AS y0,
      |         last(x ORDER BY ts, event_id) AS x1, last(y ORDER BY ts, event_id) AS y1
      |  FROM pts GROUP BY user_id HAVING count(*) >= 2
      |)
      |SELECT user_id, CAST(n_pts AS INTEGER) AS n_raw,
      |       CAST(2 AS INTEGER) AS n_simplified,
      |       sqrt((x1-x0)*(x1-x0) + (y1-y0)*(y1-y0)) AS len_simplified
      |FROM agg ORDER BY user_id""".stripMargin
}
