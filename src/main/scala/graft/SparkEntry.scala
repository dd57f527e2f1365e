package graft

import graft.ops.{AsofJoin, AuditQueries, GraphQueries, JdbcQueries, Multimodal, Pipelines, RelationalQueries, SessionQueries, SinkQueries, SpatialCluster, SqlSurfaceQueries, TextQueries, VectorQueries}
import graft.streaming.StreamQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` is the engine's declared operator inventory: one entry per
  * implemented operator from SURVEY.md §2 (plus the LLM-data-pipeline
  * surface). `oracleSql` carries the DuckDB-runnable ANSI mirror for every
  * SQL-expressible query; entries absent from it get the driver's weaker
  * rows-only check.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's spatial-aggregation pipeline end to end, including the
    * EPSG:3857→5880 reprojection (spark_job/process_geodata.py:98-144). */
  def entry(spark: SparkSession): DataFrame =
    Pipelines.flagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.all ++ TextQueries.all ++ VectorQueries.all ++
    SessionQueries.all ++ SinkQueries.all ++ Multimodal.all ++ AsofJoin.all ++
    StreamQueries.all ++ JdbcQueries.all ++ AuditQueries.all ++ GraphQueries.all ++
    SpatialCluster.all ++ SqlSurfaceQueries.all ++
    Map[String, (SparkSession, String) => DataFrame](
      // A1+F1-F8: the full spatial pipeline, closed-form-area variant
      // (st_geomfromwkt/makevalid/buffer/union_agg/intersection/area).
      "q_geo_flagship" -> ((s, dir) => Pipelines.flagship(s, dir, to5880 = false)),
      // F6 st_transform: same pipeline measured in EPSG:5880 m², emitted
      // through the phased 100 m² bucket so the polyconic chain is
      // hash-checked against a DuckDB replay of the projection math
      // (Pipelines.flagship5880OracleSql; margins spec-asserted).
      "q_geo_flagship_5880" -> (Pipelines.flagship5880Bucketed _),
      // Broadcast R-tree st_intersects join (SURVEY §2.3 stretch op).
      "q_spatial_join" -> (Pipelines.spatialJoinRollup _),
      // Same operator, distance predicate: st_dwithin with envelope
      // expansion + exact post-filter.
      "q_spatial_dwithin" -> ((s, dir) => Pipelines.spatialDWithinRollup(s, dir)),
      // Per-row distance COLUMN variant (non-foldable d, probe-side
      // envelope expansion; NULL/short radii by closed-form rule).
      "q_spatial_dwithin_col" -> (Pipelines.spatialDWithinColRollup _),
      // Partitioned large-large distance join (expand-by-d cell cover).
      "q_spatial_dwithin_partitioned" -> (Pipelines.spatialDWithinPartitionedRollup _),
      // Spatial semi join (filter-by-any-match, semi-mode R-tree exec).
      "q_spatial_semi" -> (Pipelines.spatialSemiRollup _),
      // Partitioned large-large spatial join (grid cells + shuffled equi
      // join + reference-point dedup; no broadcast, no BNLJ).
      "q_spatial_join_partitioned" -> (Pipelines.spatialJoinPartitionedRollup _),
      // Spatial k-nearest-neighbour join (broadcast R-tree, exact
      // branch-and-bound kNN; tie-invariant integer-d² rollup).
      "q_knn_join" -> ((s, dir) => Pipelines.spatialKnnRollup(s, dir)),
      // Partitioned large-large spatial kNN join (reference-cell build
      // side, histogram-derived per-probe bound, hash join + rank).
      "q_knn_join_partitioned" -> ((s, dir) => Pipelines.spatialKnnPartitionedRollup(s, dir)),
      // st_geohash cell rollup (the prefix-partitionable spatial bucket
      // key; DuckDB replays the full integer encoder).
      "q_geohash" -> ((s, dir) => Pipelines.geohashBuckets(s, dir)),
      // hex-grid bucket rollup (st_hexcell, H3-style axial key; verbatim
      // IEEE mirror oracle, no funnel).
      "q_hex_buckets" -> ((s, dir) => Pipelines.hexBuckets(s, dir)),
      // st_distance_sphere: haversine meters on raw lon/lat, verbatim
      // arithmetic mirror in the oracle (ROUND(.,1) boundary law).
      "q_distance_sphere" -> (Pipelines.distanceSphereRollup _),
      // st_distance_spheroid: Andoyer-Lambert GRS80 geodesic, verbatim
      // arithmetic mirror oracle through the ROUND(.,1) funnel.
      "q_distance_spheroid" -> (Pipelines.distanceSpheroidRollup _),
      // st_distance_geodesic: EXACT WGS84 Vincenty inverse in
      // fixed-iteration deterministic mode; machine-generated fully
      // unrolled 30-iteration oracle replay.
      "q_geodesic" -> (Pipelines.geodesicRollup _),
      // st_area_sphere: Chamberlain-Duquette spherical polygon area,
      // exact on graticule cells; oracle mirrors the edge terms.
      "q_area_sphere" -> (Pipelines.areaSphereRollup _),
      // st_length_sphere: per-cell great-circle polyline length, both
      // segment haversines replayed verbatim in the oracle.
      "q_length_sphere" -> (Pipelines.lengthSphereRollup _),
      // st_buffer_spheroid: meter-radius buffer on lon/lat via the
      // best-UTM round trip; closed-form containment-probe oracle.
      "q_geodesic_buffer" -> (Pipelines.geodesicBufferRollup _),
      // st_subdivide: vertex-bounded geometry splitting (the grid-join
      // skew bounder); exact telescoping-area + invariant oracle.
      "q_subdivide" -> (Pipelines.subdivideRollup _),
      // st_maxinscribedcircle: pole-of-inaccessibility radius; closed-form
      // min(w,h)/2 oracle plus center/radius-consistency invariants.
      "q_inscribed_circle" -> (Pipelines.inscribedCircleRollup _),
      // st_largestemptycircle: facility-placement dual; closed-form
      // side/sqrt(2) radius + exact center by symmetry.
      "q_empty_circle" -> (Pipelines.emptyCircleRollup _),
      // st_linelocatepoint: inverse linear referencing; closed-form
      // x/(a+b) fraction through the shared double ppm funnel.
      "q_line_locate" -> (Pipelines.lineLocateRollup _),
      // st_frechetdistance + st_shortestline: order-aware trajectory
      // similarity (translate closed form; reversal blow-up lane) and
      // the nearest-pair witness line with exact integer endpoints.
      "q_frechet" -> (Pipelines.frechetRollup _),
      // st_minimumrotatedrectangle + st_minimumdiameter: oriented
      // footprint summary; rotation-invariant exact integer lanes.
      "q_oriented_envelope" -> (Pipelines.orientedEnvelopeRollup _),
      // st_geometricmedian: Weiszfeld + Vardi-Zhang vertex certificate;
      // symmetric-cross and strict-majority exact anchors.
      "q_geometric_median" -> (Pipelines.geometricMedianRollup _),
      // st_angle: unoriented vertex angle; exact right-angle constant +
      // atan2-mirror acute/obtuse lanes + exact symmetry zero.
      "q_angle" -> (Pipelines.angleRollup _),
      // st_azimuth: forward/reverse planar bearings, atan2 mirror oracle.
      "q_azimuth" -> (Pipelines.azimuthRollup _),
      // geometry-accessor family (type/parts/boundary/pointonsurface/
      // closestpoint/perimeter/flip), all closed-form integer oracles.
      "q_geom_accessors" -> (Pipelines.geomAccessorsRollup _),
      // linear referencing (st_lineinterpolatepoint/st_linesubstring),
      // dyadic fractions -> exact-integer walk oracle.
      "q_line_interpolate" -> (Pipelines.lineInterpolateRollup _),
      // st_collect: homogeneous -> MULTIPOINT, mixed -> GEOMETRYCOLLECTION,
      // part counts + integer envelope closed forms.
      "q_collect" -> (Pipelines.collectRollup _),
      // st_dump: explode the collected MULTIPOINT back to parts,
      // distinct-s integer closed-form oracle (collect's inverse).
      "q_dump" -> (Pipelines.dumpRollup _),
      // st_translate/st_scale/st_rotate affine family: integer envelope
      // closed forms + verbatim corner-rotation mirror.
      "q_affine" -> (Pipelines.affineRollup _),
      // st_hausdorffdistance/st_minimumboundingradius/st_linemerge/
      // st_polygonize: integer closed forms + one verbatim sqrt mirror.
      "q_geom_toolbox" -> (Pipelines.geomToolboxRollup _),
      // lineal/ring accessors + WKB codec pair: start/end/pointn,
      // closed/ring/empty/dimension, holes, pure-integer oracle.
      "q_ring_accessors" -> (Pipelines.ringAccessorsRollup _),
      // st_delaunaytriangles/st_voronoipolygons/st_concavehull/st_snap:
      // exact tessellation closed forms on corner+center sites.
      "q_triangulate" -> (Pipelines.triangulateRollup _),
      // st_reduceprecision/st_simplifypreservetopology/st_normalize/
      // st_multi/st_geometryn: all-integer closed forms.
      "q_norm_precision" -> (Pipelines.normPrecisionRollup _),
      // st_transform CRS breadth (EPSG:2154 LCC + EPSG:5070 Albers +
      // EPSG:3035 LAEA) with the Snyder closed forms replayed in SQL.
      "q_transform_crs" -> (Pipelines.transformCrsRollup _),
      // st_difference / st_symdifference / st_intersection overlay
      // algebra: per-row rectangle-pair overlay areas, exact-integer sums.
      "q_overlay" -> (Pipelines.overlayRollup _),
      // DE-9IM predicate family (touches/crosses/overlaps/disjoint/
      // equals/covers/coveredby + intersects), integer interval oracle.
      "q_predicates" -> (Pipelines.predicatesRollup _),
      // st_makeline + st_simplify + st_npoints: per-user trajectory
      // build and Douglas-Peucker thinning with a closed-form oracle.
      "q_traj_simplify" -> ((s, dir) => Pipelines.trajectorySimplify(s, dir)),
      // Areal interpolation: area-weighted attribute reaggregation
      // between incompatible zone systems (R-tree join + overlay weight).
      "q_areal_interp" -> (Pipelines.arealInterp _),
    )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ TextQueries.oracles ++ VectorQueries.oracles ++
    SessionQueries.oracles ++ SinkQueries.oracles ++ AsofJoin.oracles ++
    Multimodal.oracles ++ StreamQueries.oracles ++ JdbcQueries.oracles ++
    AuditQueries.oracles ++ GraphQueries.oracles ++ SpatialCluster.oracles ++
    SqlSurfaceQueries.oracles +
    ("q_geo_flagship" -> Pipelines.flagshipOracleSql) +
    ("q_geo_flagship_5880" -> Pipelines.flagship5880OracleSql) +
    ("q_spatial_join" -> Pipelines.spatialJoinOracleSql) +
    ("q_spatial_dwithin" -> Pipelines.spatialDWithinOracleSql) +
    ("q_spatial_dwithin_col" -> Pipelines.spatialDWithinColOracleSql) +
    ("q_spatial_dwithin_partitioned" -> Pipelines.spatialDWithinPartitionedOracleSql) +
    ("q_spatial_semi" -> Pipelines.spatialSemiOracleSql) +
    ("q_spatial_join_partitioned" -> Pipelines.spatialJoinPartitionedOracleSql) +
    ("q_knn_join" -> Pipelines.spatialKnnOracleSql) +
    ("q_knn_join_partitioned" -> Pipelines.spatialKnnPartitionedOracleSql) +
    ("q_geohash" -> Pipelines.geohashOracleSql) +
    ("q_hex_buckets" -> Pipelines.hexBucketsOracleSql) +
    ("q_distance_sphere" -> Pipelines.distanceSphereOracleSql) +
    ("q_distance_spheroid" -> Pipelines.distanceSpheroidOracleSql) +
    ("q_geodesic" -> Pipelines.geodesicOracleSql) +
    ("q_area_sphere" -> Pipelines.areaSphereOracleSql) +
    ("q_length_sphere" -> Pipelines.lengthSphereOracleSql) +
    ("q_geodesic_buffer" -> Pipelines.geodesicBufferOracleSql) +
    ("q_subdivide" -> Pipelines.subdivideOracleSql) +
    ("q_inscribed_circle" -> Pipelines.inscribedCircleOracleSql) +
    ("q_empty_circle" -> Pipelines.emptyCircleOracleSql) +
    ("q_line_locate" -> Pipelines.lineLocateOracleSql) +
    ("q_frechet" -> Pipelines.frechetOracleSql) +
    ("q_oriented_envelope" -> Pipelines.orientedEnvelopeOracleSql) +
    ("q_geometric_median" -> Pipelines.geometricMedianOracleSql) +
    ("q_angle" -> Pipelines.angleOracleSql) +
    ("q_geom_accessors" -> Pipelines.geomAccessorsOracleSql) +
    ("q_line_interpolate" -> Pipelines.lineInterpolateOracleSql) +
    ("q_collect" -> Pipelines.collectOracleSql) +
    ("q_dump" -> Pipelines.dumpOracleSql) +
    ("q_affine" -> Pipelines.affineOracleSql) +
    ("q_geom_toolbox" -> Pipelines.geomToolboxOracleSql) +
    ("q_ring_accessors" -> Pipelines.ringAccessorsOracleSql) +
    ("q_triangulate" -> Pipelines.triangulateOracleSql) +
    ("q_norm_precision" -> Pipelines.normPrecisionOracleSql) +
    ("q_overlay" -> Pipelines.overlayOracleSql) +
    ("q_predicates" -> Pipelines.predicatesOracleSql) +
    ("q_transform_crs" -> Pipelines.transformCrsOracleSql) +
    ("q_azimuth" -> Pipelines.azimuthOracleSql) +
    ("q_traj_simplify" -> Pipelines.trajectorySimplifyOracleSql) +
    ("q_areal_interp" -> Pipelines.arealInterpOracleSql)
}
