package graft

import graft.exprs._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.Bridge

/** Public Column API for graft's native expressions, mirroring the shape of
  * `org.apache.spark.sql.functions`. The spatial surface matches what the
  * reference pipeline invokes through Sedona SQL
  * (reference: spark_job/process_geodata.py:102-139).
  *
  * SQL text (`spark.sql("... st_area(g) ...")`) reaches the same
  * expressions through one table, [[sqlFunctions]], with two installers:
  * [[GraftSparkExtensions]] (`spark.sql.extensions`, the analogue of
  * Sedona's extension-based registration, reference:
  * airflow_dag/dag_geo_pipeline.py:20; every [[Session]] takes this path)
  * and [[registerAll]] for a session built without that conf. Only the
  * extension also installs the optimizer rules and `graft_series`.
  */
object functions {
  private def col(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)

  // ---- spatial scalar algebra (WKB BinaryType geometry columns) ----
  def st_geomfromwkt(wkt: Column): Column = col(StGeomFromWKT(ex(wkt)))
  def st_astext(g: Column): Column = col(StAsText(ex(g)))
  def st_point(x: Column, y: Column): Column = col(StPoint(ex(x), ex(y)))
  def st_makeenvelope(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    col(StMakeEnvelope(ex(xmin), ex(ymin), ex(xmax), ex(ymax)))
  def st_makevalid(g: Column): Column = col(StMakeValid(ex(g)))
  def st_buffer(g: Column, d: Column): Column = col(StBuffer(ex(g), ex(d)))
  def st_buffer_spheroid(g: Column, d: Column): Column =
    col(StBufferSpheroid(ex(g), ex(d)))
  def st_subdivide(g: Column, maxVertices: Column): Column =
    col(StSubdivide(ex(g), ex(maxVertices)))
  def st_maxinscribedcircle(g: Column, tolerance: Column): Column =
    col(StMaxInscribedCircle(ex(g), ex(tolerance)))
  def st_largestemptycircle(obstacles: Column, boundary: Column, tolerance: Column): Column =
    col(StLargestEmptyCircle(ex(obstacles), ex(boundary), ex(tolerance)))
  def st_linelocatepoint(line: Column, point: Column): Column =
    col(StLineLocatePoint(ex(line), ex(point)))
  def st_intersection(a: Column, b: Column): Column = col(StIntersection(ex(a), ex(b)))
  def st_union(a: Column, b: Column): Column = col(StUnion(ex(a), ex(b)))
  def st_difference(a: Column, b: Column): Column = col(StDifference(ex(a), ex(b)))
  def st_symdifference(a: Column, b: Column): Column = col(StSymDifference(ex(a), ex(b)))
  def st_azimuth(a: Column, b: Column): Column = col(StAzimuth(ex(a), ex(b)))
  def st_area(g: Column): Column = col(StArea(ex(g)))
  def st_length(g: Column): Column = col(StLength(ex(g)))
  def st_centroid(g: Column): Column = col(StCentroid(ex(g)))
  def st_envelope(g: Column): Column = col(StEnvelope(ex(g)))
  def st_envelope_bounds(g: Column): Column = col(StEnvelopeBounds(ex(g)))
  def st_x(g: Column): Column = col(StX(ex(g)))
  def st_y(g: Column): Column = col(StY(ex(g)))
  def st_isvalid(g: Column): Column = col(StIsValid(ex(g)))
  def st_intersects(a: Column, b: Column): Column = col(StIntersects(ex(a), ex(b)))
  def st_contains(a: Column, b: Column): Column = col(StContains(ex(a), ex(b)))
  def st_within(a: Column, b: Column): Column = col(StWithin(ex(a), ex(b)))
  def st_touches(a: Column, b: Column): Column = col(StTouches(ex(a), ex(b)))
  def st_crosses(a: Column, b: Column): Column = col(StCrosses(ex(a), ex(b)))
  def st_overlaps(a: Column, b: Column): Column = col(StOverlaps(ex(a), ex(b)))
  def st_disjoint(a: Column, b: Column): Column = col(StDisjoint(ex(a), ex(b)))
  def st_equals(a: Column, b: Column): Column = col(StEquals(ex(a), ex(b)))
  def st_covers(a: Column, b: Column): Column = col(StCovers(ex(a), ex(b)))
  def st_coveredby(a: Column, b: Column): Column = col(StCoveredBy(ex(a), ex(b)))
  def st_distance(a: Column, b: Column): Column = col(StDistance(ex(a), ex(b)))
  def st_distance_sphere(a: Column, b: Column): Column =
    col(StDistanceSphere(ex(a), ex(b)))
  /** Geodesic meters between lon/lat points on GRS80. ACCURACY CLASS:
    * Andoyer–Lambert first-order approximation — within tens of meters of
    * the exact Karney geodesic on intercontinental lines (Sedona's
    * `ST_DistanceSpheroid` is exact via GeographicLib, so ported absolute
    * thresholds near that tolerance may classify differently). */
  def st_distance_spheroid(a: Column, b: Column): Column =
    col(StDistanceSpheroid(ex(a), ex(b)))
  /** EXACT WGS84 geodesic meters (Vincenty inverse, fixed-iteration
    * deterministic mode) — the Sedona-accuracy-class companion to the
    * approximate st_distance_spheroid above. */
  def st_distance_geodesic(a: Column, b: Column): Column =
    col(StDistanceGeodesic(ex(a), ex(b)))
  def st_area_sphere(g: Column): Column = col(StAreaSphere(ex(g)))
  def st_length_sphere(g: Column): Column = col(StLengthSphere(ex(g)))
  def st_geometrytype(g: Column): Column = col(StGeometryType(ex(g)))
  def st_numgeometries(g: Column): Column = col(StNumGeometries(ex(g)))
  def st_boundary(g: Column): Column = col(StBoundary(ex(g)))
  def st_pointonsurface(g: Column): Column = col(StPointOnSurface(ex(g)))
  def st_closestpoint(a: Column, b: Column): Column = col(StClosestPoint(ex(a), ex(b)))
  def st_perimeter(g: Column): Column = col(StPerimeter(ex(g)))
  def st_flipcoordinates(g: Column): Column = col(StFlipCoordinates(ex(g)))
  def st_reverse(g: Column): Column = col(StReverse(ex(g)))
  def st_lineinterpolatepoint(l: Column, f: Column): Column =
    col(StLineInterpolatePoint(ex(l), ex(f)))
  def st_linesubstring(l: Column, f1: Column, f2: Column): Column =
    col(StLineSubstring(ex(l), ex(f1), ex(f2)))
  def st_collect(gs: Column): Column = col(StCollect(ex(gs)))
  def st_dump(g: Column): Column = col(StDump(ex(g)))
  def st_translate(g: Column, dx: Column, dy: Column): Column =
    col(StTranslate(ex(g), ex(dx), ex(dy)))
  def st_scale(g: Column, fx: Column, fy: Column): Column =
    col(StScale(ex(g), ex(fx), ex(fy)))
  def st_rotate(g: Column, theta: Column): Column = col(StRotate(ex(g), ex(theta)))
  def st_hausdorffdistance(a: Column, b: Column): Column =
    col(StHausdorffDistance(ex(a), ex(b)))
  def st_frechetdistance(a: Column, b: Column): Column =
    col(StFrechetDistance(ex(a), ex(b)))
  def st_shortestline(a: Column, b: Column): Column =
    col(StShortestLine(ex(a), ex(b)))
  def st_minimumboundingradius(g: Column): Column = col(StMinimumBoundingRadius(ex(g)))
  def st_minimumrotatedrectangle(g: Column): Column = col(StMinimumRotatedRectangle(ex(g)))
  def st_geometricmedian(g: Column): Column = col(StGeometricMedian(ex(g)))
  def st_angle(p1: Column, p2: Column, p3: Column): Column =
    col(StAngle(ex(p1), ex(p2), ex(p3)))
  def st_minimumdiameter(g: Column): Column = col(StMinimumDiameter(ex(g)))
  def st_linemerge(g: Column): Column = col(StLineMerge(ex(g)))
  def st_polygonize(gs: Column): Column = col(StPolygonize(ex(gs)))
  def st_delaunaytriangles(g: Column): Column = col(StDelaunayTriangles(ex(g)))
  def st_voronoipolygons(g: Column, extent: Column): Column =
    col(StVoronoiPolygons(ex(g), ex(extent)))
  def st_concavehull(g: Column, lengthRatio: Column): Column =
    col(StConcaveHull(ex(g), ex(lengthRatio)))
  def st_snap(g: Column, target: Column, tolerance: Column): Column =
    col(StSnap(ex(g), ex(target), ex(tolerance)))
  def st_reduceprecision(g: Column, gridSize: Column): Column =
    col(StReducePrecision(ex(g), ex(gridSize)))
  def st_simplifypreservetopology(g: Column, tolerance: Column): Column =
    col(StSimplifyPreserveTopology(ex(g), ex(tolerance)))
  def st_normalize(g: Column): Column = col(StNormalize(ex(g)))
  def st_multi(g: Column): Column = col(StMulti(ex(g)))
  def st_geometryn(g: Column, n: Column): Column = col(StGeometryN(ex(g), ex(n)))
  def st_geomfromwkb(b: Column): Column = col(StGeomFromWKB(ex(b)))
  def st_aswkb(g: Column): Column = col(StAsWKB(ex(g)))
  def st_isempty(g: Column): Column = col(StIsEmpty(ex(g)))
  def st_dimension(g: Column): Column = col(StDimension(ex(g)))
  def st_isclosed(g: Column): Column = col(StIsClosed(ex(g)))
  def st_isring(g: Column): Column = col(StIsRing(ex(g)))
  def st_startpoint(g: Column): Column = col(StStartPoint(ex(g)))
  def st_endpoint(g: Column): Column = col(StEndPoint(ex(g)))
  def st_pointn(g: Column, n: Column): Column = col(StPointN(ex(g), ex(n)))
  def st_exteriorring(g: Column): Column = col(StExteriorRing(ex(g)))
  def st_numinteriorrings(g: Column): Column = col(StNumInteriorRings(ex(g)))
  def st_interiorringn(g: Column, n: Column): Column = col(StInteriorRingN(ex(g), ex(n)))
  def st_dwithin(a: Column, b: Column, d: Column): Column =
    col(StDWithin(ex(a), ex(b), ex(d)))
  def st_transform(g: Column, src: Column, dst: Column): Column =
    col(StTransform(ex(g), ex(src), ex(dst)))
  def st_transform(g: Column, src: String, dst: String): Column = {
    import org.apache.spark.sql.functions.lit
    st_transform(g, lit(src), lit(dst))
  }
  def st_geohash(g: Column, precision: Column): Column = col(StGeoHash(ex(g), ex(precision)))

  /** Hexagonal grid cell of a planar point (pointy-top hexes of
    * circumradius `size`, axial coordinates packed `q<<32 | r&0xffffffff`)
    * — the H3-style spatial bucket key: near-equal-area neighborhoods
    * with 6 symmetric neighbors, the aggregation/partition key telemetry
    * pipelines prefer over square cells. Delegates to the shared
    * [[graft.exprs.HexCell]] catalyst-arithmetic builder (codegen-friendly,
    * bit-for-bit SQL-mirrorable — see its doc). */
  def st_hexcell(x: Column, y: Column, size: Column): Column =
    col(HexCell(ex(x), ex(y), ex(size)))
  def st_makeline(points: Column): Column = col(StMakeLine(ex(points)))
  def st_simplify(g: Column, tolerance: Column): Column = col(StSimplify(ex(g), ex(tolerance)))
  def st_convexhull(g: Column): Column = col(StConvexHull(ex(g)))
  def st_npoints(g: Column): Column = col(StNPoints(ex(g)))

  // ---- text dedup / fingerprinting kernels ----
  def minhash_sig(text: Column, k: Column, shingleLen: Column): Column =
    col(MinHashSig(ex(text), ex(k), ex(shingleLen)))
  def hilbert_index(n: Column, x: Column, y: Column): Column =
    col(HilbertIndex(ex(n), ex(x), ex(y)))
  def hilbert_xy(n: Column, d: Column): Column = col(HilbertXY(ex(n), ex(d)))
  def minhash_bands(text: Column, numBands: Column, rowsPerBand: Column, shingleLen: Column): Column =
    col(MinHashBands(Seq(ex(text), ex(numBands), ex(rowsPerBand), ex(shingleLen))))
  def simhash64(text: Column, shingleLen: Column): Column =
    col(SimHash64(ex(text), ex(shingleLen)))
  def hamming64(a: Column, b: Column): Column = col(Hamming64(ex(a), ex(b)))
  def ngram_jaccard(a: Column, b: Column, shingleLen: Column): Column =
    col(NGramJaccard(ex(a), ex(b), ex(shingleLen)))
  /** |a ∩ b| over ascending-sorted distinct-long arrays (two-pointer
    * merge; callers own the sorted precondition — see
    * [[graft.exprs.TextHash.sortedInterCount]]). */
  def sorted_inter_count(a: Column, b: Column): Column =
    col(SortedInterCount(ex(a), ex(b)))
  /** Lazy character n-gram GENERATOR: one row per gram, `(pos, gram)`,
    * pos 1-based. Use with a multi-alias select:
    * `df.select(explode_ngrams(col("text"), lit(3)).as(Seq("pos","gram")))`. */
  def explode_ngrams(text: Column, n: Column): Column =
    col(ExplodeNgrams(ex(text), ex(n)))

  // ---- aggregates ----
  /** Grouped geometric union (Sedona `ST_Union_Aggr` analogue). */
  def st_union_agg(g: Column): Column =
    col(StUnionAgg(ex(g)).toAggregateExpression())

  /** Bounded-state grouped top-k: the k (key, score) pairs with the
    * highest score per group (score desc, key asc). Map-side partials
    * carry ≤2k pairs per group — the aggregate form of
    * TakeOrderedAndProject, for when a window would sort the world. */
  def topk_agg(key: Column, score: Column, k: Int): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    col(TopKAgg(ex(key), ex(score), Literal(k)).toAggregateExpression())
  }

  /** Count-min sketch over a STRING key stream: 4×256 Long cells, fixed
    * 8 KiB state through map-side partials (see [[graft.exprs.CmsKernel]]).
    * Probe with [[cms_estimate]]; estimates only ever over-count. */
  def cms_agg(key: Column): Column =
    col(CmsAgg(ex(key)).toAggregateExpression())

  /** Misra-Gries heavy-hitter candidate summary over a BIGINT key stream:
    * <= k-1 counters of state, sorted candidate-key array out. Every key
    * with frequency > N/k is guaranteed present under any merge order
    * (Agarwal et al. 2013); gate with exact counts (see
    * [[graft.streaming.StreamQueries]]). */
  def mg_agg(key: Column, k: Int): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    col(MgAgg(ex(key), Literal(k)).toAggregateExpression())
  }

  /** MRL mergeable quantile summary over a BIGINT stream: value-sorted
    * (v, w) weighted sample, O(k·log(N/k)) state through map-side
    * partials, deterministic rank-error bound ≈ N·log2(N/k)/(2k) under
    * ANY merge tree (see [[graft.exprs.MrlAgg]]). Gate through the
    * rank-window contract audit; completes the mergeable-summary family
    * (frequency / heavy hitters / distinct / membership / extremes /
    * QUANTILES). */
  def mrl_agg(x: Column, k: Int): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    col(MrlAgg(ex(x), Literal(k)).toAggregateExpression())
  }

  /** RE-aggregates stored [[mrl_agg]] quantile summaries (level structure
    * recovered from the power-of-two weights) — the quantile member of
    * the sketch-rollup family; see [[graft.exprs.MrlMergeAgg]]. Bound,
    * not bit-equality, is the contract: gate through the rank audit. */
  def mrl_merge_agg(sketch: Column, k: Int): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    col(MrlMergeAgg(ex(sketch), Literal(k)).toAggregateExpression())
  }

  /** KMV distinct sketch over a BIGINT hash stream: the k smallest
    * distinct hashes as a sorted array, ≤k longs of state through
    * map-side partials. Unlike HLL the sketches compose under set
    * algebra — union by re-trimming two arrays, INTERSECTION estimate
    * via the merged sketch's Jaccard fraction (see
    * [[graft.exprs.KmvAgg]]). Deterministic given the hash column. */
  def kmv_agg(hash: Column, k: Int): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    col(KmvAgg(ex(hash), Literal(k)).toAggregateExpression())
  }

  /** RE-aggregates stored [[kmv_agg]] sketch columns into the sketch of
    * their union (merge == rebuild, the mergeable-summaries law) — the
    * "sketch once, roll up anywhere" cube device; see
    * [[graft.exprs.KmvMergeAgg]]. */
  def kmv_merge_agg(sketch: Column, k: Int): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    col(KmvMergeAgg(ex(sketch), Literal(k)).toAggregateExpression())
  }

  /** Exact membership bitmap over a bounded id universe: packed 64-bit
    * words out, fixed universe/8 bytes of state, word-wise-OR merges —
    * the ClickHouse groupBitmap shape; set algebra via zip_with/
    * bit_count column expressions. The exact counterpart of [[kmv_agg]]
    * (see [[graft.exprs.BitmapAgg]] for the universe contract). */
  def bitmap_agg(id: Column, universe: Int): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    col(BitmapAgg(ex(id), Literal(universe)).toAggregateExpression())
  }

  /** Point frequency estimate from a [[cms_agg]] sketch: min over rows of
    * the key's cell. Pure projection — pair with a scalar-subquery sketch. */
  def cms_estimate(sketch: Column, key: Column): Column =
    col(CmsEstimate(ex(sketch), ex(key)))

  // ---- runtime-filter surface (semi-join reduction) ----
  /** Bloom filter built over `xxhash64(key)` values — the build side of an
    * explicit semi-join reduction (Spark's own InjectRuntimeFilter shape,
    * exposed as an operator so a pipeline can prune a fact table BEFORE
    * its shuffle with a dimension-derived filter). */
  def bloom_filter_agg(keyHash: Column, estimatedItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    col(new BloomFilterAggregate(ex(keyHash), Literal(estimatedItems), Literal(numBits))
      .toAggregateExpression())
  }

  /** Probe side of the bloom reduction: true/possibly-true membership of
    * `xxhash64(key)` in a [[bloom_filter_agg]]-built filter. No false
    * negatives, so `fact.where(might_contain(bloom, xxhash64(k)))` never
    * changes join results — it only drops most non-matching rows early. */
  def might_contain(bloom: Column, keyHash: Column): Column =
    col(GraftMightContain(ex(bloom), ex(keyHash)))

  /** The SQL function table: every graft function that SQL text can call,
    * by name, with its builder. Each builder checks the argument count, so
    * SQL like `st_dwithin(a, b)` fails with Spark's named wrong-num-args
    * analysis error, not an IndexOutOfBoundsException. Two installers read
    * it: [[GraftSparkExtensions]] injects it into every session built with
    * `spark.sql.extensions`, and [[registerAll]] registers it on a session
    * built without that conf. */
  private[graft] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = {
    def fn(name: String, arity: Int)(b: Seq[Expression] => Expression) =
      name -> { (es: Seq[Expression]) =>
        if (es.length != arity) throw Bridge.wrongNumArgs(name, arity, es.length)
        b(es)
      }
    def f1(name: String, b: Expression => Expression) =
      fn(name, 1)(es => b(es.head))
    def f2(name: String, b: (Expression, Expression) => Expression) =
      fn(name, 2)(es => b(es.head, es(1)))
    def f3(name: String, b: (Expression, Expression, Expression) => Expression) =
      fn(name, 3)(es => b(es.head, es(1), es(2)))
    Seq(
      f1("st_geomfromwkt", StGeomFromWKT),
      f1("st_astext", StAsText),
      f2("st_point", StPoint),
      fn("st_makeenvelope", 4)(es => StMakeEnvelope(es.head, es(1), es(2), es(3))),
      f1("st_makevalid", StMakeValid),
      f2("st_buffer", StBuffer),
      f2("st_buffer_spheroid", StBufferSpheroid),
      f2("st_subdivide", StSubdivide),
      f2("st_maxinscribedcircle", StMaxInscribedCircle),
      f3("st_largestemptycircle", StLargestEmptyCircle(_, _, _)),
      f2("st_linelocatepoint", StLineLocatePoint),
      f2("st_intersection", StIntersection),
      f2("st_union", StUnion),
      f2("st_difference", StDifference),
      f2("st_symdifference", StSymDifference),
      f2("st_azimuth", StAzimuth),
      f1("st_area", StArea),
      f1("st_length", StLength),
      f1("st_centroid", StCentroid),
      f1("st_envelope", StEnvelope),
      f1("st_envelope_bounds", StEnvelopeBounds),
      f1("st_x", StX),
      f1("st_y", StY),
      f1("st_isvalid", StIsValid),
      f2("st_intersects", StIntersects),
      f2("st_contains", StContains),
      f2("st_within", StWithin),
      f2("st_touches", StTouches),
      f2("st_crosses", StCrosses),
      f2("st_overlaps", StOverlaps),
      f2("st_disjoint", StDisjoint),
      f2("st_equals", StEquals),
      f2("st_covers", StCovers),
      f2("st_coveredby", StCoveredBy),
      f2("st_distance", StDistance),
      f2("st_distance_sphere", StDistanceSphere),
      f2("st_distance_spheroid", StDistanceSpheroid),
      f2("st_distance_geodesic", StDistanceGeodesic),
      f1("st_area_sphere", StAreaSphere),
      f1("st_length_sphere", StLengthSphere),
      f1("st_geometrytype", StGeometryType),
      f1("st_numgeometries", StNumGeometries),
      f1("st_boundary", StBoundary),
      f1("st_pointonsurface", StPointOnSurface),
      f2("st_closestpoint", StClosestPoint),
      f1("st_perimeter", StPerimeter),
      f1("st_flipcoordinates", StFlipCoordinates),
      f1("st_reverse", StReverse),
      f2("st_lineinterpolatepoint", StLineInterpolatePoint),
      f3("st_linesubstring", StLineSubstring(_, _, _)),
      f1("st_collect", StCollect),
      f1("st_dump", StDump),
      f3("st_translate", StTranslate(_, _, _)),
      f3("st_scale", StScale(_, _, _)),
      f2("st_rotate", StRotate),
      f2("st_hausdorffdistance", StHausdorffDistance),
      f2("st_frechetdistance", StFrechetDistance),
      f2("st_shortestline", StShortestLine),
      f1("st_minimumboundingradius", StMinimumBoundingRadius),
      f1("st_minimumrotatedrectangle", StMinimumRotatedRectangle),
      f1("st_geometricmedian", StGeometricMedian),
      f3("st_angle", StAngle(_, _, _)),
      f1("st_minimumdiameter", StMinimumDiameter),
      f1("st_linemerge", StLineMerge),
      f1("st_polygonize", StPolygonize),
      f1("st_delaunaytriangles", StDelaunayTriangles),
      f2("st_voronoipolygons", StVoronoiPolygons),
      f2("st_concavehull", StConcaveHull),
      f3("st_snap", StSnap(_, _, _)),
      f2("st_reduceprecision", StReducePrecision),
      f2("st_simplifypreservetopology", StSimplifyPreserveTopology),
      f1("st_normalize", StNormalize),
      f1("st_multi", StMulti),
      f2("st_geometryn", StGeometryN),
      f1("st_geomfromwkb", StGeomFromWKB),
      f1("st_aswkb", StAsWKB),
      f1("st_isempty", StIsEmpty),
      f1("st_dimension", StDimension),
      f1("st_isclosed", StIsClosed),
      f1("st_isring", StIsRing),
      f1("st_startpoint", StStartPoint),
      f1("st_endpoint", StEndPoint),
      f2("st_pointn", StPointN),
      f1("st_exteriorring", StExteriorRing),
      f1("st_numinteriorrings", StNumInteriorRings),
      f2("st_interiorringn", StInteriorRingN),
      f3("st_dwithin", StDWithin(_, _, _)),
      f3("st_transform", StTransform(_, _, _)),
      f2("st_geohash", StGeoHash),
      f3("st_hexcell", HexCell(_, _, _)),
      f1("st_makeline", StMakeLine),
      f2("st_simplify", StSimplify),
      f1("st_convexhull", StConvexHull),
      f1("st_npoints", StNPoints),
      f1("st_union_agg", StUnionAgg(_)),
      f3("topk_agg", TopKAgg(_, _, _)),
      f1("cms_agg", CmsAgg(_)),
      f2("mg_agg", MgAgg(_, _)),
      f2("mrl_agg", MrlAgg(_, _)),
      f2("mrl_merge_agg", MrlMergeAgg(_, _)),
      f2("kmv_agg", KmvAgg(_, _)),
      f2("kmv_merge_agg", KmvMergeAgg(_, _)),
      f2("bitmap_agg", BitmapAgg(_, _)),
      f2("cms_estimate", CmsEstimate(_, _)),
      f3("hilbert_index", HilbertIndex(_, _, _)),
      f2("hilbert_xy", HilbertXY),
      f3("minhash_sig", MinHashSig(_, _, _)),
      fn("minhash_bands", 4)(MinHashBands(_)),
      f2("simhash64", SimHash64),
      f2("hamming64", Hamming64),
      f3("ngram_jaccard", NGramJaccard(_, _, _)),
      f2("sorted_inter_count", SortedInterCount),
      f2("explode_ngrams", ExplodeNgrams),
      // runtime-filter surface in SQL text: build the bloom in a scalar
      // subquery, probe with might_contain —
      //   WHERE might_contain((SELECT bloom_filter_agg(xxhash64(k)) FROM dim),
      //                       xxhash64(fact_k))
      // 1-3 args like Spark's builtin: (key [, estimatedItems [, numBits]])
      ("bloom_filter_agg", (es: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        es match {
          case Seq(k)       => new BloomFilterAggregate(k)
          case Seq(k, n)    => new BloomFilterAggregate(k, n)
          case Seq(k, n, m) => new BloomFilterAggregate(k, n, m)
          case _ => throw Bridge.wrongNumArgs("bloom_filter_agg", Seq(1, 2, 3), es.length)
        }
      }),
      f2("might_contain", GraftMightContain(_, _)))
  }

  /** Register every [[sqlFunctions]] entry for SQL-text use on this
    * session. Idempotent; temp (session-scoped) registrations. Also
    * installs the spatial-join planner strategy when the session's planner
    * lacks it (a session built with the extension already has it). For
    * sessions built without `spark.sql.extensions=graft.GraftSparkExtensions`;
    * it does not install the extension's optimizer rules or
    * `graft_series`, and it does not size Spark's codegen cache, a static
    * conf: a JVM whose first codegen runs under such a session keeps
    * Spark's 100-entry cache, so repeated queries recompile part of their
    * generated code. */
  def registerAll(spark: SparkSession): Unit = {
    if (!Bridge.plannerStrategies(spark).contains(graft.plans.SpatialJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.SpatialJoinStrategy
    val reg = Bridge.functionRegistry(spark)
    sqlFunctions.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }
}
