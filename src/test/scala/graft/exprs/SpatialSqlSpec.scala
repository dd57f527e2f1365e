package graft.exprs

import graft.SparkFixture
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Spatial algebra exercised through the registered SQL surface — the same
  * way the reference invokes Sedona (`F.expr` strings,
  * spark_job/process_geodata.py:102-139). */
class SpatialSqlSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def one(sql: String): Row = spark.sql(sql).head()

  test("wkt round-trip through st_geomfromwkt/st_astext") {
    assert(one("SELECT st_astext(st_geomfromwkt('POINT (3 4)')) AS t").getString(0) == "POINT (3 4)")
  }

  test("st_area / st_length on a unit square") {
    val r = one("""SELECT st_area(g) AS a, st_length(g) AS l FROM
                   (SELECT st_geomfromwkt('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))') AS g)""")
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 4.0)
  }

  test("st_x/st_y: point coordinates, null for non-points and empties") {
    val r = one("""SELECT st_x(st_point(3.5D, 7.25D)) AS x, st_y(st_point(3.5D, 7.25D)) AS y,
                          st_x(st_geomfromwkt('LINESTRING (0 0, 1 1)')) AS lx,
                          st_y(st_geomfromwkt('POINT EMPTY')) AS ey""")
    assert(r.getDouble(0) == 3.5 && r.getDouble(1) == 7.25)
    assert(r.isNullAt(2) && r.isNullAt(3))
  }

  test("st_makevalid repairs a bowtie; st_isvalid reports it") {
    val r = one("""SELECT st_isvalid(b) AS before, st_isvalid(st_makevalid(b)) AS after,
                          st_area(st_makevalid(b)) AS a
                   FROM (SELECT st_geomfromwkt('POLYGON ((0 0, 1 1, 1 0, 0 1, 0 0))') AS b)""")
    assert(!r.getBoolean(0) && r.getBoolean(1))
    assert(math.abs(r.getDouble(2) - 0.5) < 1e-12)
  }

  test("st_intersection / st_union / st_intersects / st_contains / st_within / st_distance") {
    val r = one("""SELECT st_area(st_intersection(a, b)) AS ia, st_area(st_union(a, b)) AS ua,
                          st_intersects(a, b) AS i, st_contains(a, b) AS c, st_within(b, a) AS w,
                          st_distance(a, st_geomfromwkt('POINT (5 1)')) AS d
                   FROM (SELECT st_geomfromwkt('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))') AS a,
                                st_geomfromwkt('POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))') AS b)""")
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 7.0)
    assert(r.getBoolean(2) && !r.getBoolean(3) && !r.getBoolean(4))
    assert(r.getDouble(5) == 3.0)
  }

  test("st_difference / st_symdifference overlay algebra") {
    // A = [0,2]², B = [1,3]² overlap in a unit square:
    // |A\B| = 3, |B\A| = 3, |AΔB| = 6; identical operands cancel;
    // disjoint operands pass through (difference = A, symdiff = A∪B).
    val r = one("""SELECT st_area(st_difference(a, b)) AS dab,
                          st_area(st_difference(b, a)) AS dba,
                          st_area(st_symdifference(a, b)) AS sd,
                          st_area(st_symdifference(a, a)) AS zero,
                          st_area(st_difference(a, far)) AS whole,
                          st_area(st_symdifference(a, far)) AS both
                   FROM (SELECT st_geomfromwkt('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))') AS a,
                                st_geomfromwkt('POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))') AS b,
                                st_geomfromwkt('POLYGON ((10 10, 11 10, 11 11, 10 11, 10 10))') AS far)""")
    assert(r.getDouble(0) == 3.0 && r.getDouble(1) == 3.0 && r.getDouble(2) == 6.0)
    assert(r.getDouble(3) == 0.0)
    assert(r.getDouble(4) == 4.0 && r.getDouble(5) == 5.0)
  }

  test("st_azimuth: cardinal bearings, quadrant wrap, null on coincident/non-point") {
    val r = one("""SELECT st_azimuth(st_point(0D,0D), st_point(0D,5D))  AS north,
                          st_azimuth(st_point(0D,0D), st_point(5D,0D))  AS east,
                          st_azimuth(st_point(0D,0D), st_point(0D,-5D)) AS south,
                          st_azimuth(st_point(0D,0D), st_point(-5D,0D)) AS west,
                          st_azimuth(st_point(0D,0D), st_point(-1D,1D)) AS nw,
                          st_azimuth(st_point(3D,4D), st_point(3D,4D))  AS same,
                          st_azimuth(st_geomfromwkt('LINESTRING (0 0, 1 1)'), st_point(0D,0D)) AS notpt""")
    assert(r.getDouble(0) == 0.0)
    assert(r.getDouble(1) == math.Pi / 2.0)
    assert(r.getDouble(2) == math.Pi)
    assert(r.getDouble(3) == 3.0 * math.Pi / 2.0)
    assert(math.abs(r.getDouble(4) - 7.0 * math.Pi / 4.0) < 1e-12)
    assert(r.isNullAt(5) && r.isNullAt(6))
  }

  test("overlay identity: area(AΔB) = area(A) + area(B) - 2·area(A∩B)") {
    val r = one("""SELECT st_area(st_symdifference(a, b)) AS sd,
                          st_area(a) + st_area(b) - 2 * st_area(st_intersection(a, b)) AS rhs
                   FROM (SELECT st_geomfromwkt('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))') AS a,
                                st_geomfromwkt('POLYGON ((2 1, 6 1, 6 5, 2 5, 2 1))') AS b)""")
    assert(r.getDouble(0) == r.getDouble(1))
  }

  test("st_makeenvelope builds the rectangle directly from numbers") {
    val r = one("""SELECT st_area(st_makeenvelope(0.0D, 0.0D, 3.0D, 2.0D)) AS a,
                          st_astext(st_makeenvelope(1.0D, 1.0D, 2.0D, 2.0D)) AS t""")
    assert(r.getDouble(0) == 6.0)
    assert(r.getString(1) == "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))")
  }

  test("integer literals coerce: st_makeenvelope(0,0,10,10), st_buffer(g, 0)") {
    // regression: without ImplicitCastInputTypes these threw
    // ClassCastException (Integer cannot be cast to Double)
    val r = one("""SELECT st_area(st_makeenvelope(0, 0, 10, 10)) AS a,
                          st_area(st_buffer(st_makeenvelope(0, 0, 2, 2), 0)) AS b,
                          size(minhash_bands(NULL, 4, 4, 5)) AS nb""")
    assert(r.getDouble(0) == 100.0 && r.getDouble(1) == 4.0)
    assert(r.isNullAt(2), "minhash_bands with NULL text must be NULL")
  }

  test("st_buffer(., 0) keeps a valid polygon's area") {
    val r = one("""SELECT st_area(st_buffer(st_geomfromwkt('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'), 0.0D)) AS a""")
    assert(r.getDouble(0) == 4.0)
  }

  test("st_transform 3857->5880 lands in the false-origin band and back within 1 m") {
    val r = one("""SELECT st_x(p5880) AS e, st_y(p5880) AS n,
                          st_x(back) AS bx, st_y(back) AS by
                   FROM (SELECT st_transform(st_point(-5193566.0D, -2698813.0D), 'EPSG:3857', 'EPSG:5880') AS p5880,
                                st_transform(st_transform(st_point(-5193566.0D, -2698813.0D), 'EPSG:3857', 'EPSG:5880'),
                                             'EPSG:5880', 'EPSG:3857') AS back)""")
    assert(r.getDouble(0) > 4000000 && r.getDouble(0) < 6000000)
    assert(r.getDouble(1) > 7000000 && r.getDouble(1) < 9000000)
    assert(math.hypot(r.getDouble(2) - -5193566.0, r.getDouble(3) - -2698813.0) < 1.0)
  }

  test("st_distance_sphere: closed-form and published great-circle anchors") {
    val R = StDistanceSphere.MeanRadiusM
    // 1 degree of longitude on the equator = R * 1°-in-radians
    val eq1 = one("SELECT st_distance_sphere(st_point(0.0D, 0.0D), st_point(1.0D, 0.0D)) AS d").getDouble(0)
    assert(math.abs(eq1 - R * math.toRadians(1.0)) < 1e-6, s"equator degree: $eq1")
    // pole to equator = quarter circumference
    val quarter = one("SELECT st_distance_sphere(st_point(0.0D, 0.0D), st_point(0.0D, 90.0D)) AS d").getDouble(0)
    assert(math.abs(quarter - R * math.Pi / 2) < 1e-6, s"quarter: $quarter")
    // antipodal: half circumference, asin clamp must not NaN
    val anti = one("SELECT st_distance_sphere(st_point(0.0D, 0.0D), st_point(180.0D, 0.0D)) AS d").getDouble(0)
    assert(math.abs(anti - R * math.Pi) < 1e-6, s"antipodal: $anti")
    // Paris (2.3522 E, 48.8566 N) - London (-0.1276 E, 51.5072 N): published
    // great-circle distance ~343.5 km (haversine; geodesic ~344.0 km)
    val pl = one("""SELECT st_distance_sphere(st_point(2.3522D, 48.8566D),
                                              st_point(-0.1276D, 51.5072D)) AS d""").getDouble(0)
    assert(math.abs(pl - 343500.0) < 1500.0, s"Paris-London: $pl")
    // SQL surface == kernel, symmetric
    assert(pl == StDistanceSphere.haversineMeters(2.3522, 48.8566, -0.1276, 51.5072))
    assert(pl == StDistanceSphere.haversineMeters(-0.1276, 51.5072, 2.3522, 48.8566))
    // non-point and empty input -> null (the ST_X/ST_Y convention)
    val nulls = one("""SELECT st_distance_sphere(st_geomfromwkt('LINESTRING (0 0, 1 1)'),
                                                 st_point(0.0D, 0.0D)) AS a,
                              st_distance_sphere(st_geomfromwkt('POINT EMPTY'),
                                                 st_point(0.0D, 0.0D)) AS b""")
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("st_dump: parts of multis, singletons, collect round-trip") {
    val parts = one("""SELECT size(st_dump(st_geomfromwkt(
      'MULTIPOINT ((0 0), (1 1), (2 2))'))) AS n""").getInt(0)
    assert(parts == 3)
    // a simple geometry dumps to itself
    val self = one("""SELECT st_astext(st_dump(st_point(3.0D, 4.0D))[0]) AS w""").getString(0)
    assert(self == "POINT (3 4)")
    // dump inverts collect: same part count, types preserved
    val rt = one("""SELECT size(st_dump(st_collect(array(
      st_point(0.0D, 0.0D), st_point(1.0D, 2.0D))))) AS n""").getInt(0)
    assert(rt == 2)
    // mixed collection: each part keeps its own type
    val mixed = one("""SELECT st_geometrytype(st_dump(st_collect(array(
      st_point(0.0D, 0.0D),
      st_geomfromwkt('LINESTRING (0 0, 1 1)'))))[1]) AS t""").getString(0)
    assert(mixed == "ST_LineString")
  }

  test("st_translate / st_scale / st_rotate: exact moves, origin anchoring, composition") {
    def xy(sql: String): (Double, Double) = {
      val r = one(s"SELECT st_x($sql) AS x, st_y($sql) AS y")
      (r.getDouble(0), r.getDouble(1))
    }
    assert(xy("st_translate(st_point(3.0D, 4.0D), 10.0D, -2.0D)") == ((13.0, 2.0)))
    // scale is about the ORIGIN (PostGIS semantics): a point not at the
    // origin moves
    assert(xy("st_scale(st_point(3.0D, 4.0D), 2.0D, 3.0D)") == ((6.0, 12.0)))
    // scaling a polygon multiplies area by |fx*fy|
    val a = one("""SELECT st_area(st_scale(
      st_makeenvelope(1.0D, 1.0D, 3.0D, 2.0D), 2.0D, 3.0D)) AS a""").getDouble(0)
    assert(a == 12.0)
    // rotate pi about origin: (1,2) -> (-1,-2) within float residue
    val (rx, ry) = xy("st_rotate(st_point(1.0D, 2.0D), radians(180.0D))")
    assert(math.abs(rx - -1.0) < 1e-9 && math.abs(ry - -2.0) < 1e-9)
    // rotation preserves area
    val ra = one("""SELECT st_area(st_rotate(
      st_makeenvelope(0.0D, 0.0D, 4.0D, 5.0D), 0.7D)) AS a""").getDouble(0)
    assert(math.abs(ra - 20.0) < 1e-9)
  }

  test("st_hexcell: centers map to their own cell, neighbors differ by one axial step") {
    import org.apache.spark.sql.functions.{lit => slit}
    def cell(x: Double, y: Double, s: Double): (Int, Int) = {
      val r = spark.range(1).select(
        graft.functions.st_hexcell(slit(x), slit(y), slit(s)).as("c"))
        .selectExpr("CAST(c >> 32 AS INT) AS q",
          "CAST((c << 32) >> 32 AS INT) AS r").head
      (r.getInt(0), r.getInt(1))
    }
    // origin is cell (0,0); the hex center of axial (q,r) for pointy-top
    // size s is x = s*sqrt(3)*(q + r/2), y = s*3/2*r — centers must map
    // back to their own cell
    val s = 100.0
    assert(cell(0, 0, s) == ((0, 0)))
    for (q <- -2 to 2; r <- -2 to 2) {
      val cx = s * math.sqrt(3.0) * (q + r / 2.0)
      val cy = s * 1.5 * r
      assert(cell(cx, cy, s) == ((q, r)), s"center of ($q,$r)")
    }
    // a point just inside a neighboring hex flips exactly one axial step
    assert(cell(s * math.sqrt(3.0), 0.0, s) == ((1, 0)))
    assert(cell(s * math.sqrt(3.0) / 2, s * 1.5, s) == ((0, 1)))
    // the SQL-registered surface resolves and agrees with the Column API
    val viaSql = one("SELECT st_hexcell(173.2D, 0.0D, 100.0D) AS c").getLong(0)
    assert(((viaSql >> 32).toInt, viaSql.toInt) == ((1, 0)))
  }

  test("st_reduceprecision / st_simplifypreservetopology / st_normalize / st_multi / st_geometryn") {
    // snap to the integer grid, area becomes exact again
    val rp = one("""SELECT st_area(st_reduceprecision(st_geomfromwkt(
      'POLYGON ((0.3 0.4, 10.4 0.4, 10.4 5.3, 0.3 5.3, 0.3 0.4))'), 1.0D)) AS a""").getDouble(0)
    assert(rp == 50.0, s"reduced area: $rp")
    // coarser grid: snap to multiples of 10
    val rp10 = one("""SELECT st_astext(st_reduceprecision(st_point(14.0D, 26.0D), 10.0D)) AS w""").getString(0)
    assert(rp10 == "POINT (10 30)")
    // topology-preserving simplify never collapses a ring below a polygon
    val tp = one("""SELECT st_geometrytype(st_simplifypreservetopology(st_geomfromwkt(
      'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'), 100.0D)) AS t""").getString(0)
    assert(tp == "ST_Polygon")
    // plain simplify flattens a near-collinear spike; topology variant too
    val sp = one("""SELECT st_npoints(st_simplifypreservetopology(st_geomfromwkt(
      'LINESTRING (0 0, 5 0.1, 10 0)'), 1.0D)) AS n""").getInt(0)
    assert(sp == 2)
    // normalize: orientation + start-vertex canonicalization -> byte equality
    val nm = one("""SELECT st_astext(st_normalize(st_geomfromwkt(
        'POLYGON ((4 4, 4 0, 0 0, 0 4, 4 4))'))) =
      st_astext(st_normalize(st_geomfromwkt(
        'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'))) AS eq""").getBoolean(0)
    assert(nm)
    // st_multi promotes; multi input passes through; st_geometryn accesses
    val mu = one("""SELECT st_geometrytype(st_multi(st_point(1.0D, 2.0D))) AS t,
      st_numgeometries(st_multi(st_geomfromwkt('MULTIPOINT ((0 0), (1 1))'))) AS n,
      st_x(st_geometryn(st_multi(st_point(7.0D, 8.0D)), 1)) AS x,
      st_geometryn(st_point(1.0D, 1.0D), 2) AS oob,
      st_x(st_geometryn(st_point(5.0D, 6.0D), 1)) AS selfx""")
    assert(mu.getString(0) == "ST_MultiPoint" && mu.getInt(1) == 2)
    assert(mu.getDouble(2) == 7.0 && mu.isNullAt(3) && mu.getDouble(4) == 5.0)
  }

  test("st_delaunaytriangles / st_voronoipolygons / st_concavehull / st_snap") {
    // 3 sites -> 1 triangle of the exact half-parallelogram area
    val t1 = one("""SELECT st_numgeometries(t) AS n, st_area(t) AS a FROM
      (SELECT st_delaunaytriangles(st_geomfromwkt(
        'MULTIPOINT ((0 0), (4 0), (0 6))')) AS t)""")
    assert(t1.getInt(0) == 1 && t1.getDouble(1) == 12.0)
    // 4 corners + center -> 4 triangles partitioning the square
    val t2 = one("""SELECT st_numgeometries(t) AS n, st_area(t) AS a FROM
      (SELECT st_delaunaytriangles(st_geomfromwkt(
        'MULTIPOINT ((0 0), (10 0), (10 10), (0 10), (5 5))')) AS t)""")
    assert(t2.getInt(0) == 4 && t2.getDouble(1) == 100.0)
    // voronoi clipped to the square: one cell per site, partition by area
    val v = one("""SELECT st_numgeometries(v) AS n, st_area(v) AS a FROM
      (SELECT st_voronoipolygons(st_geomfromwkt(
          'MULTIPOINT ((0 0), (10 0), (10 10), (0 10), (5 5))'),
        st_makeenvelope(0.0D, 0.0D, 10.0D, 10.0D)) AS v)""")
    assert(v.getInt(0) == 5 && v.getDouble(1) == 100.0)
    // concave hull at ratio 1 == convex hull; a tight ratio hugs an
    // L-shaped cloud below its convex-hull area
    val h = one("""SELECT
      st_area(st_concavehull(st_geomfromwkt(
        'MULTIPOINT ((0 0), (10 0), (10 10), (0 10), (5 5))'), 1.0D)) AS full,
      st_area(st_concavehull(st_geomfromwkt(
        'MULTIPOINT ((0 0), (2 0), (4 0), (6 0), (6 2), (6 4), (6 6), (0 2), (2 2), (4 2), (4 4), (4 6))'), 0.3D)) AS tight""")
    assert(h.getDouble(0) == 100.0 && h.getDouble(1) < 36.0)
    // snap pulls near-vertices onto the target within tolerance; outside
    // tolerance is the identity
    val s = one("""SELECT
      st_x(st_snap(st_point(3.0D, 4.0D), st_makeenvelope(0.0D, 0.0D, 100.0D, 100.0D), 10.0D)) AS sx,
      st_x(st_snap(st_point(3.0D, 4.0D), st_makeenvelope(0.0D, 0.0D, 100.0D, 100.0D), 1.0D)) AS ix""")
    assert(s.getDouble(0) == 0.0 && s.getDouble(1) == 3.0)
  }

  test("lineal/ring accessors and the WKB codec pair") {
    val line = "st_geomfromwkt('LINESTRING (1 2, 5 2, 5 9)')"
    val r = one(s"""SELECT
      st_x(st_startpoint($line)) AS sx, st_y(st_endpoint($line)) AS ey,
      st_x(st_pointn($line, 2)) AS p2, st_x(st_pointn($line, -1)) AS pn,
      st_pointn($line, 4) AS oob, st_isclosed($line) AS cl,
      st_dimension($line) AS dl,
      st_dimension(st_point(0.0D, 0.0D)) AS dp""")
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 9.0)
    assert(r.getDouble(2) == 5.0 && r.getDouble(3) == 5.0)
    assert(r.isNullAt(4) && !r.getBoolean(5) && r.getInt(6) == 1 && r.getInt(7) == 0)
    val donut =
      "st_geomfromwkt('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))')"
    val d = one(s"""SELECT
      st_numinteriorrings($donut) AS nh,
      st_length(st_interiorringn($donut, 1)) AS hl,
      st_interiorringn($donut, 2) AS oob,
      st_isring(st_exteriorring($donut)) AS ir,
      st_npoints(st_exteriorring($donut)) AS np,
      st_isempty($donut) AS em,
      st_isempty(st_geomfromwkt('POINT EMPTY')) AS em2""")
    assert(d.getInt(0) == 1 && d.getDouble(1) == 8.0 && d.isNullAt(2))
    assert(d.getBoolean(3) && d.getInt(4) == 5 && !d.getBoolean(5) && d.getBoolean(6))
    // WKB round-trip is the identity; a self-intersecting ring still
    // round-trips byte-exactly (codec, not repair)
    val rt = one("""SELECT st_astext(st_geomfromwkb(st_aswkb(
      st_geomfromwkt('LINESTRING (0 0, 3 4)')))) AS w""").getString(0)
    assert(rt == "LINESTRING (0 0, 3 4)")
    // non-applicable input -> null, not an error
    val nulls = one("""SELECT st_startpoint(st_point(1.0D, 1.0D)) AS a,
      st_exteriorring(st_point(1.0D, 1.0D)) AS b,
      st_isring(st_point(1.0D, 1.0D)) AS c""")
    assert(nulls.isNullAt(0) && nulls.isNullAt(1) && nulls.isNullAt(2))
  }

  test("st_hausdorffdistance / st_minimumboundingradius / st_linemerge / st_polygonize") {
    // Hausdorff: translate by (3,4) -> exactly 5 for congruent squares
    val h = one("""SELECT st_hausdorffdistance(
      st_makeenvelope(0.0D, 0.0D, 100.0D, 100.0D),
      st_translate(st_makeenvelope(0.0D, 0.0D, 100.0D, 100.0D), 3.0D, 4.0D)) AS h""").getDouble(0)
    assert(h == 5.0, s"hausdorff: $h")
    // asymmetric containment: max of both orientations (inner square's
    // vertices are 1 away; outer corners are sqrt(2*9) from the inner)
    val h2 = one("""SELECT st_hausdorffdistance(
      st_makeenvelope(0.0D, 0.0D, 10.0D, 10.0D),
      st_makeenvelope(3.0D, 3.0D, 7.0D, 7.0D)) AS h""").getDouble(0)
    assert(math.abs(h2 - 3.0 * math.sqrt(2.0)) < 1e-12, s"hausdorff asym: $h2")
    // minimum bounding circle of a 6x8 rectangle: center (3,4), radius 5
    val m = one("""SELECT st_x(m.center) AS x, st_y(m.center) AS y, m.radius AS r FROM
      (SELECT st_minimumboundingradius(st_makeenvelope(0.0D, 0.0D, 6.0D, 8.0D)) AS m)""")
    assert(m.getDouble(0) == 3.0 && m.getDouble(1) == 4.0 && math.abs(m.getDouble(2) - 5.0) < 1e-9)
    // linemerge sews two touching segments into one 3-point line
    val lm = one("""SELECT st_geometrytype(l) AS t, st_npoints(l) AS n FROM
      (SELECT st_linemerge(st_geomfromwkt(
        'MULTILINESTRING ((0 0, 5 0), (5 0, 5 5))')) AS l)""")
    assert(lm.getString(0) == "ST_LineString" && lm.getInt(1) == 3)
    // disconnected segments stay a MULTILINESTRING
    val lm2 = one("""SELECT st_geometrytype(st_linemerge(st_geomfromwkt(
      'MULTILINESTRING ((0 0, 1 0), (5 5, 6 5))'))) AS t""").getString(0)
    assert(lm2 == "ST_MultiLineString")
    // polygonize four closed edges -> one polygon of the enclosed area
    val pg = one("""SELECT st_numgeometries(p) AS n, st_area(p) AS a FROM
      (SELECT st_polygonize(array(
        st_geomfromwkt('LINESTRING (0 0, 4 0)'),
        st_geomfromwkt('LINESTRING (4 0, 4 3)'),
        st_geomfromwkt('LINESTRING (4 3, 0 3)'),
        st_geomfromwkt('LINESTRING (0 3, 0 0)'))) AS p)""")
    assert(pg.getInt(0) == 1 && pg.getDouble(1) == 12.0)
    // dangles close nothing
    val pg0 = one("""SELECT st_numgeometries(st_polygonize(array(
      st_geomfromwkt('LINESTRING (0 0, 1 0)')))) AS n""").getInt(0)
    assert(pg0 == 0)
  }

  test("DE-9IM predicate family: regimes, boundary-inclusion traps, null discipline") {
    def p(sql: String): Boolean = one(s"SELECT $sql AS v").getBoolean(0)
    val sq = "st_makeenvelope(0.0D, 0.0D, 10.0D, 10.0D)"
    // edge-adjacent square: touches, intersects, NOT overlaps
    val adj = "st_makeenvelope(10.0D, 0.0D, 20.0D, 10.0D)"
    assert(p(s"st_touches($sq, $adj)") && p(s"st_intersects($sq, $adj)"))
    assert(!p(s"st_overlaps($sq, $adj)") && !p(s"st_disjoint($sq, $adj)"))
    // corner-touching square still touches
    assert(p(s"st_touches($sq, st_makeenvelope(10.0D, 10.0D, 20.0D, 20.0D))"))
    // partial overlap: overlaps, not touches
    val part = "st_makeenvelope(5.0D, 5.0D, 15.0D, 15.0D)"
    assert(p(s"st_overlaps($sq, $part)") && !p(s"st_touches($sq, $part)"))
    // the covers-vs-contains trap: a polygon COVERS a point on its own
    // edge but does not CONTAIN it
    val edgePt = "st_point(10.0D, 5.0D)"
    assert(p(s"st_covers($sq, $edgePt)") && !p(s"st_contains($sq, $edgePt)"))
    assert(p(s"st_coveredby($edgePt, $sq)"))
    // equals is topological: vertex order and start point are irrelevant
    assert(p(s"""st_equals($sq, st_geomfromwkt(
      'POLYGON ((10 10, 0 10, 0 0, 10 0, 10 10))'))"""))
    assert(!p(s"st_equals($sq, $part)"))
    // crosses needs mixed dimension: a diagonal through the square
    // crosses it; a polygon never crosses a polygon
    assert(p(s"st_crosses(st_geomfromwkt('LINESTRING (-5 -5, 15 15)'), $sq)"))
    assert(!p(s"st_crosses($part, $sq)"))
    // containment is not overlaps; disjoint is the complement of intersects
    val inner = "st_makeenvelope(2.0D, 2.0D, 8.0D, 8.0D)"
    assert(p(s"st_covers($sq, $inner)") && !p(s"st_overlaps($sq, $inner)"))
    assert(p(s"st_disjoint($sq, st_makeenvelope(20.0D, 20.0D, 30.0D, 30.0D))"))
    // null propagation
    assert(one(s"SELECT st_touches(CAST(NULL AS BINARY), $sq) AS v").isNullAt(0))
  }

  test("st_distance_spheroid: published geodesic anchors within Andoyer tolerance") {
    // Anchors are mm-grade Karney/GeographicLib WGS84 geodesics (GRS80
    // differs below the mm); Andoyer-Lambert is first-order in f, good to
    // tens of meters on intercontinental lines and ~cm regionally.
    // 1 degree of longitude along the equator: a * 1 deg (exact on the
    // ellipsoid - the equator is a geodesic of radius a)
    val eq1 = one("SELECT st_distance_spheroid(st_point(0.0D, 0.0D), st_point(1.0D, 0.0D)) AS d").getDouble(0)
    assert(math.abs(eq1 - 6378137.0 * math.toRadians(1.0)) < 0.5, s"equator degree: $eq1")
    // equator to pole along a meridian: the quadrant arc 10001965.729 m
    val quad = one("SELECT st_distance_spheroid(st_point(0.0D, 0.0D), st_point(0.0D, 90.0D)) AS d").getDouble(0)
    assert(math.abs(quad - 10001965.729) < 40.0, s"meridian quadrant: $quad")
    // Paris-London geodesic ~343.9 km (vs 343.5 km on the sphere - the
    // flattening correction must move it the right way)
    val pl = one("""SELECT st_distance_spheroid(st_point(2.3522D, 48.8566D),
                                                st_point(-0.1276D, 51.5072D)) AS d""").getDouble(0)
    assert(math.abs(pl - 343900.0) < 600.0, s"Paris-London: $pl")
    val plSphere = one("""SELECT st_distance_sphere(st_point(2.3522D, 48.8566D),
                                                    st_point(-0.1276D, 51.5072D)) AS d""").getDouble(0)
    assert(pl > plSphere, s"spheroid $pl should exceed sphere $plSphere here")
    // JFK-LHR: Vincenty/Karney geodesic at these coordinates 5555052.4 m
    // (Andoyer lands within ~8 m of it)
    val jfk = one("""SELECT st_distance_spheroid(st_point(-73.7787D, 40.6398D),
                                                 st_point(-0.4543D, 51.4700D)) AS d""").getDouble(0)
    assert(math.abs(jfk - 5555052.4) < 60.0, s"JFK-LHR: $jfk")
    // symmetric, coincident-zero, SQL == kernel, null conventions
    assert(jfk == StDistanceSpheroid.andoyerMeters(-0.4543, 51.4700, -73.7787, 40.6398))
    assert(StDistanceSpheroid.andoyerMeters(12.5, -33.25, 12.5, -33.25) == 0.0)
    val nulls2 = one("""SELECT st_distance_spheroid(st_geomfromwkt('LINESTRING (0 0, 1 1)'),
                                                    st_point(0.0D, 0.0D)) AS a,
                               st_distance_spheroid(st_geomfromwkt('POINT EMPTY'),
                                                    st_point(0.0D, 0.0D)) AS b""")
    assert(nulls2.isNullAt(0) && nulls2.isNullAt(1))
  }

  test("st_distance_geodesic: exact WGS84 anchors, Vincenty class, antipodal determinism") {
    import graft.exprs.StDistanceGeodesic.vincentyMeters
    // meridian quadrant: the λ iteration is stationary (sinα = 0), so the
    // fixed-iteration result is the EXACT meridional arc — the published
    // WGS84 quadrant 10 001 965.7293 m to sub-mm
    val quad = vincentyMeters(0.0, 0.0, 0.0, 90.0)
    assert(math.abs(quad - 10001965.7293) < 0.001, s"meridian quadrant: $quad")
    // the equator is a geodesic of radius a: distance = a·Δλ exactly
    // (shown in closed form: λ* = L/(1−f), σ* = λ*, s = b·σ* = a·L)
    val eq90 = vincentyMeters(0.0, 0.0, 90.0, 0.0)
    assert(math.abs(eq90 - 6378137.0 * (math.Pi / 2.0)) < 1e-3, s"equator quadrant: $eq90")
    val eq1 = vincentyMeters(10.0, 0.0, 11.0, 0.0)
    assert(math.abs(eq1 - 6378137.0 * math.Pi / 180.0) < 1e-6, s"equator degree: $eq1")
    // JFK-LHR: GeographicLib/Karney geodesic at these coordinates is
    // 5 555 052.4 m; Vincenty agrees to sub-mm (vs Andoyer's ~8 m)
    val jfk = vincentyMeters(-73.7787, 40.6398, -0.4543, 51.4700)
    assert(math.abs(jfk - 5555052.4) < 0.5, s"JFK-LHR: $jfk")
    // direction symmetry (not bit-exact: the swapped evaluation is a
    // different FP op sequence, but it is the same geodesic)
    assert(math.abs(jfk - vincentyMeters(-0.4543, 51.4700, -73.7787, 40.6398)) < 1e-6)
    // lon-difference normalization: ±360° wraps measure the short way
    assert(math.abs(vincentyMeters(-175.0, 10.0, 175.0, 10.0) -
                    vincentyMeters(185.0, 10.0, 175.0, 10.0)) < 1e-6)
    // Andoyer consistency: first-order approximation lands within tens of
    // meters of the exact geodesic on an intercontinental line
    val and = StDistanceSpheroid.andoyerMeters(-73.7787, 40.6398, -0.4543, 51.4700)
    assert(math.abs(jfk - and) < 60.0, s"Vincenty $jfk vs Andoyer $and")
    // coincident points: 0 through the sinσ guard
    assert(vincentyMeters(12.5, -33.25, 12.5, -33.25) == 0.0)
    // NEAR-ANTIPODAL (Vincenty's non-converging region): fixed-iteration
    // mode must stay deterministic and land in the physically sane band
    // (all geodesic distances lie within [half meridian − f·a, half
    // meridian + slack] near the antipode)
    val anti = vincentyMeters(125.0, 15.0, -56.0, -17.0)
    assert(java.lang.Double.isFinite(anti) && anti > 1.95e7 && anti < 2.01e7,
      s"near-antipodal: $anti")
    assert(anti == vincentyMeters(125.0, 15.0, -56.0, -17.0)) // bit-deterministic
    // SQL surface + null discipline
    val r = one("""SELECT st_distance_geodesic(st_point(0.0D, 0.0D), st_point(0.0D, 90.0D)) AS d,
                          st_distance_geodesic(st_geomfromwkt('LINESTRING (0 0, 1 1)'),
                                               st_point(0.0D, 0.0D)) AS a,
                          st_distance_geodesic(st_geomfromwkt('POINT EMPTY'),
                                               st_point(0.0D, 0.0D)) AS b""")
    assert(math.abs(r.getDouble(0) - 10001965.7293) < 0.001)
    assert(r.isNullAt(1) && r.isNullAt(2))
  }

  test("st_area_sphere: graticule closed forms up to the full sphere, holes, multipolygons") {
    val R = StDistanceSphere.MeanRadiusM
    def area(wkt: String): Double =
      one(s"SELECT st_area_sphere(st_geomfromwkt('$wkt')) AS a").getDouble(0)
    // 10-degree equatorial cell: exact band closed form R^2 * dLambda * (sin 10 - sin 0)
    val cell = area("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    val cellWant = R * R * math.toRadians(10) * (math.sin(math.toRadians(10)) - 0.0)
    assert(math.abs(cell - cellWant) / cellWant < 1e-12, s"cell: $cell vs $cellWant")
    // hemisphere: 2*pi*R^2; full sphere rectangle: 4*pi*R^2
    val hemi = area("POLYGON ((-180 0, 180 0, 180 90, -180 90, -180 0))")
    assert(math.abs(hemi - 2 * math.Pi * R * R) / hemi < 1e-12, s"hemisphere: $hemi")
    val sphere = area("POLYGON ((-180 -90, 180 -90, 180 90, -180 90, -180 -90))")
    assert(math.abs(sphere - 4 * math.Pi * R * R) / sphere < 1e-12, s"sphere: $sphere")
    // hole subtracts; multipolygon sums; winding direction is irrelevant
    val holed = area("POLYGON ((0 0, 30 0, 30 30, 0 30, 0 0), (10 10, 20 10, 20 20, 10 20, 10 10))")
    val inner = area("POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10))")
    val outer = area("POLYGON ((0 0, 30 0, 30 30, 0 30, 0 0))")
    assert(math.abs(holed - (outer - inner)) < 1e-3)
    val multi = area("MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0)), ((40 0, 50 0, 50 10, 40 10, 40 0)))")
    assert(math.abs(multi - 2 * cell) < 1e-3)
    val cw = area("POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0))")
    assert(cw == cell)
    // non-areal and empty input -> null
    val nulls = one("""SELECT st_area_sphere(st_geomfromwkt('LINESTRING (0 0, 1 1)')) AS a,
                              st_area_sphere(st_geomfromwkt('POLYGON EMPTY')) AS b""")
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("st_length_sphere: segment sums, closed forms, multilines, null discipline") {
    val R = StDistanceSphere.MeanRadiusM
    def len(wkt: String): Double =
      one(s"SELECT st_length_sphere(st_geomfromwkt('$wkt')) AS l").getDouble(0)
    // meridian arc equator->pole = quarter circumference, split across
    // vertices it must sum to the same (vertices on one great circle)
    val quarter = len("LINESTRING (0 0, 0 90)")
    assert(math.abs(quarter - R * math.Pi / 2) < 1e-6, s"quarter: $quarter")
    val split = len("LINESTRING (0 0, 0 30, 0 60, 0 90)")
    assert(math.abs(split - quarter) < 1e-6, s"split: $split vs $quarter")
    // a parallel at 60N is NOT a great circle: the polyline measures the
    // great-circle chords through its vertices, so one 90-degree chord is
    // shorter than the parallel arc but longer than half of it
    val chord60 = len("LINESTRING (0 60, 90 60)")
    val parallelArc = R * math.Pi / 2 * math.cos(math.toRadians(60))
    assert(chord60 < parallelArc && chord60 > parallelArc / 2, s"chord: $chord60 vs $parallelArc")
    // each segment is exactly the haversine distance of its endpoints
    val two = len("LINESTRING (10 10, 20 20, 35 5)")
    val want = StDistanceSphere.haversineMeters(10, 10, 20, 20) +
      StDistanceSphere.haversineMeters(20, 20, 35, 5)
    assert(two == want, s"$two vs $want")
    // multiline sums parts; points measure zero; areal/empty -> null
    val multi = len("MULTILINESTRING ((0 0, 0 30), (0 30, 0 90))")
    assert(math.abs(multi - quarter) < 1e-6)
    assert(len("POINT (10 10)") == 0.0)
    val nulls = one("""SELECT st_length_sphere(st_geomfromwkt('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))')) AS a,
                              st_length_sphere(st_geomfromwkt('LINESTRING EMPTY')) AS b""")
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("geometry accessor family: type, parts, boundary, interior point, closest point, perimeter, flip, reverse") {
    val r = one(
      """SELECT st_geometrytype(st_geomfromwkt('POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))')) AS t_poly,
        |       st_geometrytype(st_point(1.0D, 2.0D)) AS t_pt,
        |       st_numgeometries(st_geomfromwkt('MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((4 0, 5 0, 5 1, 4 1, 4 0)))')) AS np,
        |       st_numgeometries(st_point(0.0D, 0.0D)) AS np1,
        |       st_perimeter(st_geomfromwkt('POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))')) AS per,
        |       st_perimeter(st_geomfromwkt('LINESTRING (0 0, 9 0)')) AS per_line,
        |       st_length(st_boundary(st_geomfromwkt('POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))'))) AS blen,
        |       st_astext(st_boundary(st_point(1.0D, 1.0D))) AS bpt""".stripMargin)
    assert(r.getString(0) == "ST_Polygon" && r.getString(1) == "ST_Point")
    assert(r.getInt(2) == 2 && r.getInt(3) == 1)
    assert(r.getDouble(4) == 12.0 && r.getDouble(5) == 0.0)
    assert(r.getDouble(6) == 12.0)
    assert(r.getString(7).contains("EMPTY"))
    // hole perimeter counts interior rings (PostGIS contract)
    val holed = one(
      """SELECT st_perimeter(st_geomfromwkt(
        |  'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))')) AS p""".stripMargin)
    assert(holed.getDouble(0) == 48.0)
    // interior point of a concave C-shape stays inside (the st_centroid
    // failure mode this function exists for)
    val c = one(
      """SELECT st_x(st_pointonsurface(g)) AS x, st_y(st_pointonsurface(g)) AS y,
        |       st_contains(g, st_pointonsurface(g)) AS inside,
        |       st_contains(g, st_centroid(g)) AS centroid_inside
        |FROM (SELECT st_geomfromwkt(
        |  'POLYGON ((0 0, 10 0, 10 2, 2 2, 2 8, 10 8, 10 10, 0 10, 0 0))') AS g)""".stripMargin)
    assert(c.getBoolean(2), s"interior point (${c.getDouble(0)}, ${c.getDouble(1)}) outside")
    assert(!c.getBoolean(3), "fixture flaw: centroid unexpectedly inside")
    // closest point: clamp law on a rectangle, identity for a contained point
    val cp = one(
      """SELECT st_x(st_closestpoint(r, p)) AS x, st_y(st_closestpoint(r, p)) AS y,
        |       st_astext(st_closestpoint(r, st_point(3.0D, 1.0D))) AS inside_cp
        |FROM (SELECT st_geomfromwkt('POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))') AS r,
        |             st_point(-3.0D, 7.0D) AS p)""".stripMargin)
    assert(cp.getDouble(0) == 0.0 && cp.getDouble(1) == 2.0)
    assert(cp.getString(2) == "POINT (3 1)")
    // flip + reverse round-trips
    val fr = one(
      """SELECT st_astext(st_flipcoordinates(st_geomfromwkt('LINESTRING (1 2, 3 4)'))) AS f,
        |       st_astext(st_flipcoordinates(st_flipcoordinates(st_geomfromwkt('LINESTRING (1 2, 3 4)')))) AS ff,
        |       st_astext(st_reverse(st_geomfromwkt('LINESTRING (1 2, 3 4)'))) AS rev,
        |       st_azimuth(st_point(0.0D, 0.0D), st_point(0.0D, 1.0D)) AS north,
        |       st_azimuth(st_point(0.0D, 1.0D), st_point(0.0D, 0.0D)) AS south""".stripMargin)
    assert(fr.getString(0) == "LINESTRING (2 1, 4 3)")
    assert(fr.getString(1) == "LINESTRING (1 2, 3 4)")
    assert(fr.getString(2) == "LINESTRING (3 4, 1 2)")
    assert(fr.getDouble(3) == 0.0 && fr.getDouble(4) == math.Pi)
  }

  test("st_lineinterpolatepoint / st_linesubstring: endpoints, midpoints, corners, null discipline") {
    val r = one(
      """SELECT st_astext(st_lineinterpolatepoint(l, 0.0D)) AS p0,
        |       st_astext(st_lineinterpolatepoint(l, 0.5D)) AS pm,
        |       st_astext(st_lineinterpolatepoint(l, 1.0D)) AS p1,
        |       st_astext(st_lineinterpolatepoint(l, 0.25D)) AS pq,
        |       st_astext(st_linesubstring(l, 0.25D, 0.75D)) AS sub,
        |       st_length(st_linesubstring(l, 0.0D, 1.0D)) AS full_len
        |FROM (SELECT st_geomfromwkt('LINESTRING (0 0, 4 0, 4 4)') AS l)""".stripMargin)
    assert(r.getString(0) == "POINT (0 0)")
    assert(r.getString(1) == "POINT (4 0)")   // f=0.5 of length 8 lands on the corner
    assert(r.getString(2) == "POINT (4 4)")
    assert(r.getString(3) == "POINT (2 0)")
    assert(r.getString(4) == "LINESTRING (2 0, 4 0, 4 2)")
    assert(r.getDouble(5) == 8.0)
    // out-of-range fraction, inverted pair, and non-line input -> null
    val nulls = one(
      """SELECT st_lineinterpolatepoint(l, 1.5D) AS a,
        |       st_lineinterpolatepoint(l, -0.1D) AS b,
        |       st_linesubstring(l, 0.75D, 0.25D) AS c,
        |       st_lineinterpolatepoint(st_point(1.0D, 1.0D), 0.5D) AS d,
        |       st_lineinterpolatepoint(st_geomfromwkt('LINESTRING EMPTY'), 0.5D) AS e
        |FROM (SELECT st_geomfromwkt('LINESTRING (0 0, 4 0)') AS l)""".stripMargin)
    (0 to 4).foreach(i => assert(nulls.isNullAt(i), s"col $i should be null"))
  }

  test("st_collect: typed multi-geometries, mixed collections, null discipline") {
    val r = one(
      """SELECT st_geometrytype(st_collect(array(st_point(0.0D, 0.0D), st_point(1.0D, 1.0D)))) AS pts,
        |       st_geometrytype(st_collect(array(
        |         st_geomfromwkt('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'),
        |         st_geomfromwkt('POLYGON ((2 0, 3 0, 3 1, 2 1, 2 0))')))) AS polys,
        |       st_geometrytype(st_collect(array(st_point(0.0D, 0.0D),
        |         st_geomfromwkt('LINESTRING (0 0, 1 1)')))) AS mixed,
        |       st_numgeometries(st_collect(array(st_point(0.0D, 0.0D), NULL, st_point(1.0D, 1.0D)))) AS np,
        |       st_collect(array(CAST(NULL AS BINARY))) AS allnull,
        |       st_geometrytype(st_collect(array(st_point(5.0D, 5.0D)))) AS single""".stripMargin)
    assert(r.getString(0) == "ST_MultiPoint")
    assert(r.getString(1) == "ST_MultiPolygon")
    assert(r.getString(2) == "ST_GeometryCollection")
    assert(r.getInt(3) == 2)
    assert(r.isNullAt(4))
    // single part is PROMOTED to its MULTI type — Sedona/PostGIS ST_Collect
    // always yields a collection (JTS buildGeometry alone would return the
    // bare geometry, the latent oracle trap fixed in round 11)
    assert(r.getString(5) == "ST_MultiPoint")
    // collect does NOT dissolve: two overlapping unit squares keep area 2·1,
    // where st_union_agg would merge to 1.75
    val a = one(
      """SELECT st_area(st_collect(array(g1, g2))) AS collected, st_area(st_union(g1, g2)) AS dissolved
        |FROM (SELECT st_geomfromwkt('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))') AS g1,
        |             st_geomfromwkt('POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))') AS g2)""".stripMargin)
    assert(a.getDouble(0) == 2.0 && a.getDouble(1) == 1.75)
  }

  test("st_union_agg unions a group, ignores empties and nulls") {
    val r = one("""SELECT st_area(st_union_agg(g)) AS a FROM (
                     SELECT st_geomfromwkt('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))') AS g
                     UNION ALL SELECT st_geomfromwkt('POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))')
                     UNION ALL SELECT st_geomfromwkt('POINT EMPTY')
                     UNION ALL SELECT CAST(NULL AS BINARY))""")
    assert(r.getDouble(0) == 7.0)
  }

  test("st_union_agg result is invariant under input permutation") {
    val areas = (0 until 3).map { seed =>
      one(s"""SELECT st_area(st_union_agg(g)) AS a FROM (
                SELECT st_geomfromwkt(concat('POLYGON ((', x, ' 0, ', x + 2, ' 0, ',
                                             x + 2, ' 2, ', x, ' 2, ', x, ' 0))')) AS g
                FROM (SELECT explode(shuffle(sequence(0, 19), $seed)) AS x))""").getDouble(0)
    }
    // 20 unit-offset 2x2 squares on a line: union area = 2 * (19 + 2) = 42? no:
    // squares [x, x+2] for x in 0..19 overlap by 1 → union is [0, 21] x [0, 2] = 42.
    assert(areas.forall(a => math.abs(a - 42.0) < 1e-9), areas.toString)
  }

  test("wrong arity in SQL text fails as a named analysis error, not an index error") {
    val e = intercept[Exception](spark.sql("SELECT st_dwithin(st_point(0D,0D), st_point(1D,1D))").head())
    val msg = e.getMessage
    assert(msg.contains("st_dwithin"), msg)
    assert(!e.isInstanceOf[IndexOutOfBoundsException])
    val e2 = intercept[Exception](spark.sql("SELECT st_transform(st_point(0D,0D), 'EPSG:4326')").head())
    assert(e2.getMessage.contains("st_transform"), e2.getMessage)
    val e3 = intercept[Exception](spark.sql("SELECT st_area()").head())
    assert(e3.getMessage.contains("st_area"), e3.getMessage)
  }

  test("bloom runtime-filter surface in SQL text: scalar-subquery build + probe") {
    val r = spark.sql(
      """SELECT
        |  might_contain((SELECT bloom_filter_agg(xxhash64(x)) FROM range(100) t(x)),
        |                xxhash64(CAST(42 AS BIGINT))) AS hit,
        |  might_contain((SELECT bloom_filter_agg(xxhash64(x)) FROM range(100) t(x)),
        |                xxhash64(CAST(1000000 AS BIGINT))) AS miss_mostly""".stripMargin).head()
    // no false negatives: 42 is in [0, 100)
    assert(r.getBoolean(0))
  }

  test("might_contain stays inside codegen for a constant-folded NEGATIVE key") {
    // Spark's own BloomFilterMightContain emits `(Long)-123L`, which Janino
    // parses as `TypeName - literal` and rejects — the stage then silently
    // falls back to interpreted eval. GraftMightContain probes with the
    // primitive long directly. With fallback disabled, a codegen regression
    // here fails the query instead of hiding in the logs.
    // (xxhash64 of a constant folds to a negative literal: that exact shape.)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val r = spark.sql(
        """SELECT might_contain((SELECT bloom_filter_agg(xxhash64(x)) FROM range(50) t(x)),
          |                     xxhash64(CAST(7 AS BIGINT))) AS hit""".stripMargin).head()
      assert(r.getBoolean(0))
      // null sketch and null key both yield null, under codegen as well
      val n = spark.sql(
        """SELECT might_contain(CAST(NULL AS BINARY), xxhash64(CAST(7 AS BIGINT))) AS a,
          |       might_contain((SELECT bloom_filter_agg(xxhash64(x)) FROM range(50) t(x)),
          |                     CAST(NULL AS BIGINT)) AS b""".stripMargin).head()
      assert(n.isNullAt(0) && n.isNullAt(1))
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("bloom_filter_agg accepts 1-3 args in SQL text, like Spark's builtin") {
    val r = spark.sql(
      """SELECT
        |  might_contain((SELECT bloom_filter_agg(xxhash64(x), 100L) FROM range(100) t(x)),
        |                xxhash64(CAST(42 AS BIGINT))) AS hit2,
        |  might_contain((SELECT bloom_filter_agg(xxhash64(x), 100L, 8192L) FROM range(100) t(x)),
        |                xxhash64(CAST(42 AS BIGINT))) AS hit3""".stripMargin).head()
    assert(r.getBoolean(0) && r.getBoolean(1))
    val e = intercept[Exception](
      spark.sql("SELECT bloom_filter_agg(1L, 2L, 3L, 4L) FROM range(1)").head())
    assert(e.getMessage.contains("bloom_filter_agg"), e.getMessage)
  }

  test("minhash/simhash/jaccard SQL registration surface") {
    val r = one("""SELECT size(minhash_sig('abcdef', 16, 5)) AS k,
                          size(minhash_bands('abcdef', 4, 4, 5)) AS b,
                          hamming64(simhash64('abc', 3), simhash64('abc', 3)) AS h,
                          ngram_jaccard('abcdef', 'abcdef', 5) AS j""")
    assert(r.getInt(0) == 16 && r.getInt(1) == 4 && r.getInt(2) == 0 && r.getDouble(3) == 1.0)
  }

  test("st_geohash: published vectors, null for non-points") {
    val r = one("""SELECT st_geohash(st_point(-5.603D, 42.605D), 5) AS ez,
                          st_geohash(st_point(-74.006D, 40.7128D), 7) AS nyc,
                          st_geohash(st_point(-180.0D, -90.0D), 6) AS lo,
                          st_geohash(st_point(179.999999D, 89.999999D), 8) AS hi,
                          st_geohash(st_geomfromwkt('LINESTRING (0 0, 1 1)'), 6) AS nonpt,
                          st_geohash(st_geomfromwkt('POINT EMPTY'), 6) AS empty""")
    assert(r.getString(0) == "ezs42")     // classic published example
    assert(r.getString(1) == "dr5regw")   // New York City
    assert(r.getString(2) == "000000" && r.getString(3) == "zzzzzzzz")
    assert(r.isNullAt(4) && r.isNullAt(5))
  }

  test("st_makeline builds an ordered linestring; null under 2 points or non-points") {
    val r = one("""SELECT st_astext(st_makeline(array(st_point(0D,0D), st_point(1D,1D), st_point(2D,0D)))) AS wkt,
                          st_makeline(array(st_point(0D,0D))) AS single,
                          st_makeline(array(st_point(0D,0D), st_geomfromwkt('LINESTRING (0 0, 1 1)'))) AS bad""")
    assert(r.getString(0) == "LINESTRING (0 0, 1 1, 2 0)")
    assert(r.isNullAt(1) && r.isNullAt(2))
  }

  test("st_simplify: Douglas-Peucker keeps deviations above tolerance, drops those below") {
    // zigzag: ±0.25 wiggles plus one spike to y=2. After the first split
    // at the spike, the wiggles deviate ≤1.317 from their sub-segments:
    // tol=1.4 drops them and keeps the spike; tol=10 keeps endpoints only.
    val line = "st_geomfromwkt('LINESTRING (0 0, 1 0.25, 2 -0.25, 3 2, 4 0.25, 5 0)')"
    val r = one(s"""SELECT st_npoints(st_simplify($line, 1.4D)) AS mid,
                           st_astext(st_simplify($line, 10.0D)) AS ends,
                           st_npoints($line) AS raw""")
    assert(r.getInt(0) == 3, s"tol=1.4 should keep (0 0, 3 2, 5 0): $r") // spike survives
    assert(r.getString(1) == "LINESTRING (0 0, 5 0)")
    assert(r.getInt(2) == 6)
  }

  test("st_simplify keeps two endpoints even on a degenerate closed track") {
    // first == last coordinate: the q_traj_simplify closed form relies on
    // the simplified line still having exactly 2 points, length 0
    val r = one("""SELECT st_npoints(st_simplify(g, 1e9D)) AS n, st_length(st_simplify(g, 1e9D)) AS l
                   FROM (SELECT st_makeline(array(st_point(1D,1D), st_point(5D,3D), st_point(1D,1D))) AS g)""")
    assert(r.getInt(0) == 2 && r.getDouble(1) == 0.0)
  }

  test("st_convexhull: hull of a concave polygon is its convex closure") {
    val r = one("""SELECT st_area(st_convexhull(g)) AS a, st_npoints(st_convexhull(g)) AS n
                   FROM (SELECT st_geomfromwkt(
                     'POLYGON ((0 0, 4 0, 4 3, 0 3, 2 1, 0 0))') AS g)""")
    // hull of the rectangle-with-a-bite is the full 4x3 rectangle
    assert(r.getDouble(0) == 12.0)
    assert(r.getInt(1) == 5) // closed ring: 4 corners + repeated start
  }

  test("st_subdivide: identity below the bound, exact split above it") {
    // a rectangle (5 ring coords) already satisfies maxV=5: identity
    val id = one("""SELECT size(st_subdivide(st_geomfromwkt(
      'POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))'), 5)) AS n""")
    assert(id.getInt(0) == 1)
    // a 3-step staircase (9 ring coords) under maxV=7: splits; parts are
    // valid, within bound, and re-union to the original with exact area
    val r = one("""SELECT
        size(parts) AS n_parts,
        forall(parts, p -> st_npoints(p) <= 7) AS bounded,
        forall(parts, p -> st_isvalid(p)) AS valid,
        aggregate(parts, 0.0D, (a, p) -> a + st_area(p)) AS area,
        st_equals(aggregate(slice(parts, 2, size(parts) - 1), parts[0],
                            (a, p) -> st_union(a, p)), g) AS reunion
      FROM (SELECT g, st_subdivide(g, 7) AS parts FROM (SELECT st_geomfromwkt(
        'POLYGON ((0 0, 3 0, 3 1, 2 1, 2 2, 1 2, 1 3, 0 3, 0 0))') AS g))""")
    assert(r.getInt(0) >= 2)
    assert(r.getBoolean(1) && r.getBoolean(2))
    assert(r.getDouble(3) == 6.0) // exact: axis-parallel integral splits
    assert(r.getBoolean(4))
  }

  test("st_subdivide: multipolygon parts split independently; sliver dimensions dropped") {
    val r = one("""SELECT size(parts) AS n,
        aggregate(parts, 0.0D, (a, p) -> a + st_area(p)) AS area
      FROM (SELECT st_subdivide(st_geomfromwkt(
        'MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 0, 8 0, 8 1, 5 1, 5 0)))'),
        5) AS parts)""")
    // first square passes through whole; second rectangle also has 5 coords
    assert(r.getInt(0) == 2 && r.getDouble(1) == 4.0)
  }

  test("st_subdivide rejects max_vertices below a closed ring") {
    val e = intercept[Exception] {
      spark.sql("SELECT st_subdivide(st_point(0.0D, 0.0D), 4)").collect()
    }
    assert(e.getMessage != null)
  }

  test("st_maxinscribedcircle: square center + half-side radius; null for lines") {
    val r = one("""SELECT mic.radius AS r,
        st_x(mic.center) AS cx, st_y(mic.center) AS cy,
        st_maxinscribedcircle(st_geomfromwkt('LINESTRING (0 0, 1 1)'), 0.01D) AS nn
      FROM (SELECT st_maxinscribedcircle(st_geomfromwkt(
        'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'), 0.001D) AS mic)""")
    assert(math.abs(r.getDouble(0) - 5.0) <= 0.001)
    assert(math.abs(r.getDouble(1) - 5.0) <= 0.01 && math.abs(r.getDouble(2) - 5.0) <= 0.01)
    assert(r.isNullAt(3))
  }

  test("st_largestemptycircle: corner obstacles in a square put the gap at the center") {
    val r = one("""SELECT lec.radius AS r, st_x(lec.center) AS cx, st_y(lec.center) AS cy,
        st_largestemptycircle(st_geomfromwkt('MULTIPOINT EMPTY'),
          st_geomfromwkt('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'), 0.01D) AS nn
      FROM (SELECT st_largestemptycircle(
        st_geomfromwkt('MULTIPOINT ((0 0), (10 0), (10 10), (0 10))'),
        st_geomfromwkt('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'), 0.001D) AS lec)""")
    assert(math.abs(r.getDouble(0) - 10.0 / math.sqrt(2.0)) <= 0.001)
    assert(math.abs(r.getDouble(1) - 5.0) <= 0.01 && math.abs(r.getDouble(2) - 5.0) <= 0.01)
    assert(r.isNullAt(3))
  }

  test("st_linelocatepoint: inverse of lineinterpolatepoint; off-line projection; nulls") {
    val r = one("""SELECT
        st_linelocatepoint(l, st_lineinterpolatepoint(l, 0.25D)) AS back,
        st_linelocatepoint(l, st_point(2.0D, -7.0D)) AS proj,
        st_linelocatepoint(st_geomfromwkt('LINESTRING (1 1, 1 1)'), st_point(0.0D, 0.0D)) AS zl,
        st_linelocatepoint(st_point(0.0D, 0.0D), st_point(0.0D, 0.0D)) AS np
      FROM (SELECT st_geomfromwkt('LINESTRING (0 0, 8 0, 8 2)') AS l)""")
    assert(math.abs(r.getDouble(0) - 0.25) < 1e-12)
    assert(math.abs(r.getDouble(1) - 0.2) < 1e-12) // closest (2,0) at 2/10 of length
    assert(r.isNullAt(2) && r.isNullAt(3))
  }

  test("st_frechetdistance: translate closed form; order-aware vs reversal; nulls") {
    val r = one("""SELECT
        st_frechetdistance(l, st_translate(l, 3.0D, 4.0D)) AS fwd,
        st_frechetdistance(l, st_reverse(l)) AS rev,
        st_frechetdistance(l, l) AS self,
        st_frechetdistance(l, st_geomfromwkt('LINESTRING EMPTY')) AS ne
      FROM (SELECT st_geomfromwkt('LINESTRING (0 0, 8 0, 8 6)') AS l)""")
    assert(r.getDouble(0) == 5.0) // exact hypotenuse of the translation
    // reversed path forces (0,0)<->(8,6): DF = 10 — Hausdorff would say 0
    assert(r.getDouble(1) == 10.0)
    assert(r.getDouble(2) == 0.0)
    assert(r.isNullAt(3))
  }

  test("st_shortestline: witness endpoints on each input; length = st_distance; nulls") {
    val r = one("""SELECT
        st_astext(st_shortestline(a, b)) AS sl,
        st_length(st_shortestline(a, b)) - st_distance(a, b) AS dlen,
        st_shortestline(a, st_geomfromwkt('POINT EMPTY')) AS ne
      FROM (SELECT st_geomfromwkt('LINESTRING (0 0, 8 0)') AS a,
                   st_geomfromwkt('LINESTRING (11 4, 20 4)') AS b)""")
    assert(r.getString(0) == "LINESTRING (8 0, 11 4)")
    assert(r.getDouble(1) == 0.0)
    assert(r.isNullAt(2))
  }

  test("st_minimumrotatedrectangle / st_minimumdiameter: diagonal sliver, degenerates, nulls") {
    val r = one("""SELECT
        st_area(st_minimumrotatedrectangle(d)) AS a,
        st_area(st_envelope(d)) AS env_a,
        st_minimumdiameter(d) AS w,
        st_astext(st_minimumrotatedrectangle(st_point(3.0D, 4.0D))) AS pt,
        st_minimumrotatedrectangle(st_geomfromwkt('POLYGON EMPTY')) AS ne,
        st_minimumdiameter(st_geomfromwkt('POLYGON EMPTY')) AS nw
      FROM (SELECT st_geomfromwkt(
        'POLYGON ((0 0, 8 6, 7.4 6.8, -0.6 0.8, 0 0))') AS d)""")
    // 10x1 rectangle tilted along (8,6)/10: oriented area 10, box area 8.6*6.8
    assert(math.abs(r.getDouble(0) - 10.0) < 1e-9)
    assert(math.abs(r.getDouble(1) - 8.6 * 6.8) < 1e-9)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-9) // width = short side
    assert(r.getString(3) == "POINT (3 4)")
    assert(r.isNullAt(4) && r.isNullAt(5))
  }

  test("st_geometricmedian: collinear middle, majority vertex, square center, nulls") {
    val r = one("""SELECT
        st_astext(st_geometricmedian(st_geomfromwkt('MULTIPOINT (0 0, 3 0, 10 0)'))) AS mid,
        st_astext(st_geometricmedian(st_geomfromwkt(
          'MULTIPOINT (5 5, 5 5, 5 5, 9 5, 5 8)'))) AS maj,
        st_x(st_geometricmedian(st_geomfromwkt('MULTIPOINT (0 0, 4 0, 4 4, 0 4)'))) AS sqx,
        st_y(st_geometricmedian(st_geomfromwkt('MULTIPOINT (0 0, 4 0, 4 4, 0 4)'))) AS sqy,
        st_astext(st_geometricmedian(st_point(7.0D, -2.0D))) AS single,
        st_geometricmedian(st_geomfromwkt('MULTIPOINT EMPTY')) AS ne""")
    // collinear: middle point is EXACT (VZ certificate: two opposing unit
    // vectors sum to 0 <= 1); majority: the tripled vertex is exact
    assert(r.getString(0) == "POINT (3 0)")
    assert(r.getString(1) == "POINT (5 5)")
    // square corners: median = center by symmetry (Weiszfeld fixed point)
    assert(math.abs(r.getDouble(2) - 2.0) < 1e-9)
    assert(math.abs(r.getDouble(3) - 2.0) < 1e-9)
    assert(r.getString(4) == "POINT (7 -2)")
    assert(r.isNullAt(5))
  }

  test("st_geometricmedian: multi-certificate tie resolves to the (x,y)-min vertex") {
    // EVEN collinear count: any point on the segment between the two
    // middle vertices minimizes the distance sum, and BOTH middles pass
    // the Vardi-Zhang certificate. The documented tie-break is the
    // (x, y)-lexicographic minimum certified vertex (ADVICE r14 #2) —
    // previously this depended on HashMap iteration order.
    val r = one("""SELECT
        st_astext(st_geometricmedian(st_geomfromwkt('MULTIPOINT (10 0, 4 0, 0 0, 7 0)'))) AS evenline,
        st_astext(st_geometricmedian(st_geomfromwkt('MULTIPOINT (2 9, 2 3, 2 5, 2 1)'))) AS evenvert""")
    // middles of {0,4,7,10} are 4 and 7 -> pick x-min 4
    assert(r.getString(0) == "POINT (4 0)")
    // middles of y in {1,3,5,9} are 3 and 5 -> equal x, pick y-min 3
    assert(r.getString(1) == "POINT (2 3)")
  }

  test("st_angle: right angle exact, straight line is pi, zero ray, nulls") {
    val r = one("""SELECT
        st_angle(st_point(5.0D, 0.0D), st_point(0.0D, 0.0D), st_point(0.0D, 3.0D)) AS right,
        st_angle(st_point(-4.0D, 0.0D), st_point(0.0D, 0.0D), st_point(9.0D, 0.0D)) AS straight,
        st_angle(st_point(2.0D, 2.0D), st_point(0.0D, 0.0D), st_point(7.0D, 7.0D)) AS zero,
        st_angle(st_point(1.0D, 0.0D), st_point(0.0D, 0.0D),
                 st_geomfromwkt('POINT EMPTY')) AS ne""")
    assert(r.getDouble(0) == math.Pi / 2)
    assert(r.getDouble(1) == math.Pi)
    assert(r.getDouble(2) == 0.0)
    assert(r.isNullAt(3))
  }
  /** The IllegalArgumentException in `body`'s failure, wherever Spark
    * wrapped it (optimizer-time folding or a failed task). */
  private def malformedError(body: => Any): IllegalArgumentException = {
    val e = intercept[Throwable](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case iae: IllegalArgumentException => iae }
      .getOrElse(fail(s"no IllegalArgumentException in the chain of $e", e))
  }

  test("malformed WKT: a named error quoting the input, for truncated text and a bad keyword") {
    val truncated = malformedError(one("SELECT st_geomfromwkt('POLYGON ((0 0, 1 0, 1 1') AS g"))
    assert(truncated.getMessage.startsWith("st_geomfromwkt: malformed input 'POLYGON ((0 0, 1 0, 1 1'"),
      truncated.getMessage)
    val keyword = malformedError(one("SELECT st_geomfromwkt('POLYGN ((0 0, 1 0, 1 1, 0 0))') AS g"))
    assert(keyword.getMessage.startsWith("st_geomfromwkt: malformed input 'POLYGN ((0 0, 1 0, 1 1, 0 0))'"),
      keyword.getMessage)
    // a long input is quoted by its first 64 characters only
    val long = "LINESTRING (" + (1 to 40).map(i => s"$i $i").mkString(", ")
    val e = malformedError(spark.sql(s"SELECT st_geomfromwkt('$long') AS g").head())
    assert(e.getMessage.startsWith(s"st_geomfromwkt: malformed input '${long.take(64)}...'"), e.getMessage)
  }

  test("malformed WKB: a named error quoting the input in hex") {
    // 5 bytes: big-endian byte order and the polygon type code, then EOF
    val e = malformedError(one("SELECT st_geomfromwkb(X'0000000003') AS g"))
    assert(e.getMessage.startsWith("st_geomfromwkb: malformed input '0000000003'"), e.getMessage)
  }

  test("a NaN ordinate makes an empty point, in generated and interpreted code") {
    // the WKB convention: st_point(NaN, 1) reads back as POINT EMPTY, and
    // each function then follows its empty-geometry rule. The ordinate
    // comes from a column, so the projection is not folded at planning
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false"))
      SparkFixture.withConf("spark.sql.codegen.factoryMode", mode) {
        SparkFixture.withConf("spark.sql.codegen.wholeStage", wholeStage) {
          SparkFixture.withConf("spark.sql.codegen.fallback", "false") {
            val r = spark.range(1)
              .selectExpr("st_point(CAST('NaN' AS DOUBLE) + id, 1) AS p")
              .selectExpr("st_astext(st_buffer(p, 1))", "st_x(p)", "st_astext(p)",
                "st_envelope_bounds(p)", "st_envelope_bounds(st_geomfromwkb(st_aswkb(p)))")
              .head()
            assert(r.getString(0) == "POLYGON EMPTY", mode)
            assert(r.isNullAt(1), mode)
            assert(r.getString(2) == "POINT EMPTY", mode)
            assert(r.isNullAt(3) && r.isNullAt(4), mode)
          }
        }
      }
  }
}
