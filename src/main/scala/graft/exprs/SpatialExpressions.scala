package graft.exprs

import graft.geom.{Crs, Geom}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry, LineString, MultiLineString,
  MultiPolygon, Point, Polygon}
import org.locationtech.jts.geom.util.AffineTransformation
import org.locationtech.jts.io.ParseException

/** Native Catalyst expressions for the spatial scalar algebra the reference
  * gets from Sedona (reference: spark_job/process_geodata.py:102-139 invokes
  * ST_GeomFromWKT / ST_AsText / ST_MakeValid / ST_Buffer / ST_Intersection /
  * ST_Transform / ST_Area via `F.expr` strings; here each is a first-class
  * `Expression`).
  *
  * Geometry columns are WKB bytes (`BinaryType`) — see SURVEY.md §7.3.
  * Each function is a case class with a body on JTS objects; its contract
  * comes from the one base every graft scalar function shares
  * (`StFunction.scala`), as Sedona's `InferredExpression` gives it: the
  * SQL name, implicit casts to the argument types, the WKB encode of a
  * JTS result and the one generated-code template, with a geometry
  * argument reaching the body decoded through its [[Arg]]. Here
  * [[StPredicate]] adds the binary form for the DE-9IM relations,
  * planned as a Catalyst `Predicate`.
  */
object SpatialExpressions {
  /** `struct(center geometry, radius double)`, the circle results. */
  private[exprs] val CircleType: StructType = StructType(Seq(
    StructField("center", BinaryType, nullable = false),
    StructField("radius", DoubleType, nullable = false)))

  /** `struct(xmin, ymin, xmax, ymax)` doubles, the envelope-corner results. */
  private[exprs] val BoundsType: StructType = StructType(
    Seq("xmin", "ymin", "xmax", "ymax").map(StructField(_, DoubleType, nullable = false)))

  private[exprs] def circle(center: Coordinate, radius: Double): InternalRow =
    new GenericInternalRow(Array[Any](Geom.toWkb(Geom.factory.createPoint(center)), radius))

  /** The error for input a geometry parser rejects: it names the function
    * and quotes at most 64 characters of the input. */
  private[exprs] def malformedGeometry(function: String, input: String,
                                       cause: ParseException): IllegalArgumentException = {
    val quoted = if (input.length > 64) input.take(64) + "..." else input
    new IllegalArgumentException(
      s"$function: malformed input '$quoted': ${cause.getMessage}", cause)
  }
}
import SpatialExpressions._

/** A DE-9IM relation of two geometries, planned as a Catalyst `Predicate`
  * (filter pushdown and `SpatialJoinStrategy` match it by class). */
abstract class StPredicate(name: String)
    extends StBinary[Geometry, Geometry](name, BooleanType) with Predicate {
  protected def op(a: Geometry, b: Geometry): Boolean
}

/** WKT text -> WKB geometry. */
case class StGeomFromWKT(child: Expression)
    extends StUnary[UTF8String]("st_geomfromwkt", BinaryType) {
  protected def op(t: UTF8String): Any = {
    val text = t.toString
    try Geom.fromWkt(text)
    catch { case e: ParseException => throw malformedGeometry(prettyName, text, e) }
  }
  override protected def withNewChildInternal(c: Expression): StGeomFromWKT = copy(child = c)
}

/** WKB geometry -> WKT text. */
case class StAsText(child: Expression) extends StUnary[Geometry]("st_astext", StringType) {
  protected def op(g: Geometry): Any = UTF8String.fromString(Geom.toWkt(g))
  override protected def withNewChildInternal(c: Expression): StAsText = copy(child = c)
}

/** (x, y) -> WKB point. */
case class StPoint(left: Expression, right: Expression)
    extends StBinary[Double, Double]("st_point", BinaryType) {
  protected def op(x: Double, y: Double): Any = Geom.factory.createPoint(new Coordinate(x, y))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StPoint =
    copy(left = l, right = r)
}

/** (xmin, ymin, xmax, ymax) -> WKB axis-aligned rectangle polygon
  * (PostGIS/Sedona ST_MakeEnvelope). Builds geometry directly from
  * numeric columns — no WKT text on the hot path. */
case class StMakeEnvelope(first: Expression, second: Expression, third: Expression,
                          fourth: Expression)
    extends StQuaternary[Double, Double, Double, Double]("st_makeenvelope", BinaryType) {
  // never folded: a literal envelope propagated into a join condition names
  // no build-side column, and the join would plan nested-loop, not R-tree
  override def foldable: Boolean = false
  protected def op(x0: Double, y0: Double, x1: Double, y1: Double): Any =
    Geom.envelopeWkb(x0, y0, x1, y1)
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression): StMakeEnvelope =
    copy(first = a, second = b, third = c, fourth = d)
}

/** Repair invalid geometry (JTS GeometryFixer); identity on valid input. */
case class StMakeValid(child: Expression) extends StUnary[Geometry]("st_makevalid", BinaryType) {
  protected def op(g: Geometry): Any = Geom.makeValid(g)
  override protected def withNewChildInternal(c: Expression): StMakeValid = copy(child = c)
}

/** Minkowski buffer; d=0 is the validity-normalizing trick the reference
  * uses (process_geodata.py:125,133), d=1e-7 its gap-sealing buffer (:102). */
case class StBuffer(left: Expression, right: Expression)
    extends StBinary[Geometry, Double]("st_buffer", BinaryType) {
  protected def op(g: Geometry, d: Double): Any = g.buffer(d)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StBuffer =
    copy(left = l, right = r)
}

/** Geodesic (meter-radius) buffer of a lon/lat geometry — the Sedona
  * `ST_Buffer(geom, d, useSpheroid=true)` analogue, and the one buffer a
  * lon/lat corpus can actually use ([[StBuffer]] in degrees warps with
  * latitude). Device: transform the geometry into its best local WGS84
  * UTM plane ([[graft.geom.Crs.bestUtm]] on the envelope centre — the
  * `_ST_BestSRID` trick), run the exact JTS Minkowski buffer in meters
  * there, and transform back. Radius fidelity is the UTM scale factor
  * (0.9996 ± ~1e-3 within a zone) — the same contract PostGIS's
  * geography buffer ships. Null-safe; an empty geometry buffers to an
  * empty polygon like JTS. */
case class StBufferSpheroid(left: Expression, right: Expression)
    extends StBinary[Geometry, Double]("st_buffer_spheroid", BinaryType) {
  protected def op(in: Geometry, d: Double): Any =
    if (in.isEmpty) in.buffer(0.0)
    else {
      val c = in.getEnvelopeInternal
      val proj = Crs.bestUtm((c.getMinX + c.getMaxX) / 2.0, (c.getMinY + c.getMaxY) / 2.0)
      val buffered = Geom.mapVertices(in)(proj.forward).buffer(d)
      Geom.mapVertices(buffered)(proj.inverse)
    }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StBufferSpheroid =
    copy(left = l, right = r)
}

/** `st_subdivide(geom, max_vertices)` — split a geometry into parts of at
  * most `max_vertices` coordinates each (PostGIS/Sedona `ST_Subdivide`
  * semantics, the skew-bounding tool: a 100k-vertex coastline in a grid
  * join makes ONE task pay the whole polygon on every candidate pair;
  * subdividing first bounds per-row geometry cost everywhere downstream).
  *
  * Deterministic split rule (documented because PostGIS leaves its own
  * unspecified): a part over the bound splits along its envelope's LONGER
  * axis at the midpoint (ties split vertically), recursively; parts of
  * lower dimension than the input (slivers where a split line grazes an
  * edge) are dropped; recursion depth is capped at 24 (a split always
  * halves an envelope axis, so 24 levels shrink any extent by 2^24 —
  * past that the input is pathological and the oversized part is emitted
  * rather than looping). `max_vertices` below 5 (a closed rectangle ring)
  * is rejected — no polygon part can satisfy it. Returns
  * `array<geometry>`; compose with `explode` for the relational form. */
case class StSubdivide(left: Expression, right: Expression)
    extends StBinary[Geometry, Int]("st_subdivide", ArrayType(BinaryType, containsNull = false)) {
  protected def op(in: Geometry, maxV: Int): Any = {
    if (maxV < 5)
      throw new IllegalArgumentException(
        s"st_subdivide: max_vertices must be >= 5 (closed ring minimum), got $maxV")
    val dim = in.getDimension
    val out = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    def emitParts(p: Geometry, depth: Int): Unit = {
      var i = 0
      while (i < p.getNumGeometries) {
        val part = p.getGeometryN(i)
        if (!part.isEmpty && part.getDimension == dim) go(part, depth)
        i += 1
      }
    }
    def go(p: Geometry, depth: Int): Unit = {
      if (p.getNumGeometries > 1) emitParts(p, depth)
      else if (p.getNumPoints <= maxV || depth >= 24) out += Geom.toWkb(p)
      else {
        val env = p.getEnvelopeInternal
        val (e1, e2) =
          if (env.getWidth >= env.getHeight) {
            val mx = (env.getMinX + env.getMaxX) / 2.0
            (new Envelope(env.getMinX, mx, env.getMinY, env.getMaxY),
             new Envelope(mx, env.getMaxX, env.getMinY, env.getMaxY))
          } else {
            val my = (env.getMinY + env.getMaxY) / 2.0
            (new Envelope(env.getMinX, env.getMaxX, env.getMinY, my),
             new Envelope(env.getMinX, env.getMaxX, my, env.getMaxY))
          }
        val f = p.getFactory
        emitParts(Geom.safeIntersection(p, f.toGeometry(e1)), depth + 1)
        emitParts(Geom.safeIntersection(p, f.toGeometry(e2)), depth + 1)
      }
    }
    if (!in.isEmpty) emitParts(in, 0)
    new GenericArrayData(out.toArray[Any])
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StSubdivide =
    copy(left = l, right = r)
}

/** `st_maxinscribedcircle(geom, tolerance)` — the largest circle that fits
  * inside a polygonal geometry (JTS MaximumInscribedCircle; Sedona ships
  * the same call): `struct(center geometry, radius double)`, radius exact
  * to `tolerance`. The polygon-labeling primitive (center = the classic
  * "pole of inaccessibility" label point) and the width measure dual to
  * [[StMinimumBoundingRadius]]. Null for non-areal or empty input —
  * no circle fits in a line. */
case class StMaxInscribedCircle(left: Expression, right: Expression)
    extends StBinary[Geometry, Double]("st_maxinscribedcircle", CircleType) {
  override def nullable: Boolean = true
  protected def op(in: Geometry, tol: Double): Any =
    if (in.isEmpty || in.getDimension < 2) null
    else {
      val mic = new org.locationtech.jts.algorithm.construct.MaximumInscribedCircle(in, tol)
      circle(mic.getCenter.getCoordinate, mic.getRadiusLine.getLength)
    }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StMaxInscribedCircle =
    copy(left = l, right = r)
}

/** `st_largestemptycircle(obstacles, boundary, tolerance)` — the largest
  * circle whose interior touches no obstacle and whose center lies inside
  * the boundary (JTS LargestEmptyCircle; Sedona `ST_LargestEmptyCircle`):
  * the facility-placement / maximal-gap dual of
  * [[StMaxInscribedCircle]]. Returns `struct(center geometry,
  * radius double)`, radius exact to `tolerance`. Null when either
  * geometry is empty. */
case class StLargestEmptyCircle(first: Expression, second: Expression, third: Expression)
    extends StTernary[Geometry, Geometry, Double]("st_largestemptycircle", CircleType) {
  override def nullable: Boolean = true
  protected def op(obstacles: Geometry, boundary: Geometry, tol: Double): Any =
    if (obstacles.isEmpty || boundary.isEmpty) null
    else {
      val lec = new org.locationtech.jts.algorithm.construct.LargestEmptyCircle(
        obstacles, boundary, tol)
      circle(lec.getCenter.getCoordinate, lec.getRadiusLine.getLength)
    }
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): StLargestEmptyCircle =
    copy(first = a, second = b, third = c)
}

/** `st_linelocatepoint(line, point)` — the fraction of `line`'s length at
  * the point on the line CLOSEST to `point` (PostGIS/Sedona
  * `ST_LineLocatePoint`; the exact inverse of
  * `st_lineinterpolatepoint`). JTS LengthIndexedLine projection over
  * total length. Null for a non-LineString, an empty/zero-length line,
  * or an empty point. */
case class StLineLocatePoint(left: Expression, right: Expression)
    extends StBinary[Geometry, Geometry]("st_linelocatepoint", DoubleType) {
  override def nullable: Boolean = true
  protected def op(l: Geometry, p: Geometry): Any = (l, p) match {
    case (line: LineString, pt: Point) if !line.isEmpty && !pt.isEmpty && line.getLength > 0.0 =>
      new org.locationtech.jts.linearref.LengthIndexedLine(line)
        .project(pt.getCoordinate) / line.getLength
    case _ => null
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StLineLocatePoint =
    copy(left = l, right = r)
}

/** Defensive geometric intersection (repair-and-retry on TopologyException).
  * A rectangle that covers a valid polygonal side's envelope clips nothing
  * from it, so that side's input bytes come back without an overlay
  * ([[Geom.rectangleCovers]]); hence the WKB arguments, decoded here. */
case class StIntersection(left: Expression, right: Expression)
    extends StBinary[Array[Byte], Array[Byte]]("st_intersection", BinaryType) {
  protected def op(a: Array[Byte], b: Array[Byte]): Any = {
    val (ga, gb) = (Geom.fromWkbCached(a), Geom.fromWkbCached(b))
    if (Geom.rectangleCovers(gb, ga)) a
    else if (Geom.rectangleCovers(ga, gb)) b
    else Geom.safeIntersection(ga, gb)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StIntersection =
    copy(left = l, right = r)
}

/** Planar azimuth from point A to point B — radians clockwise from north
  * in [0, 2π), PostGIS/Sedona ST_Azimuth semantics: atan2(Δx, Δy), NULL
  * for coincident points or non-point inputs. */
case class StAzimuth(left: Expression, right: Expression)
    extends StBinary[Geometry, Geometry]("st_azimuth", DoubleType) {
  override def nullable: Boolean = true
  protected def op(a: Geometry, b: Geometry): Any = (a, b) match {
    case (p1: Point, p2: Point) if !p1.isEmpty && !p2.isEmpty =>
      val dx = p2.getX - p1.getX
      val dy = p2.getY - p1.getY
      if (dx == 0.0 && dy == 0.0) null
      else {
        val az = math.atan2(dx, dy)
        if (az < 0.0) az + 2.0 * math.Pi else az
      }
    case _ => null
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StAzimuth =
    copy(left = l, right = r)
}

/** Geometric difference A \ B (same defensive repair ladder as
  * intersection — Sedona ST_Difference). */
case class StDifference(left: Expression, right: Expression)
    extends StBinary[Geometry, Geometry]("st_difference", BinaryType) {
  protected def op(a: Geometry, b: Geometry): Any = Geom.safeDifference(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StDifference =
    copy(left = l, right = r)
}

/** Symmetric difference (A \ B) ∪ (B \ A) — Sedona ST_SymDifference. */
case class StSymDifference(left: Expression, right: Expression)
    extends StBinary[Geometry, Geometry]("st_symdifference", BinaryType) {
  protected def op(a: Geometry, b: Geometry): Any = Geom.safeSymDifference(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StSymDifference =
    copy(left = l, right = r)
}

/** Binary geometric union. */
case class StUnion(left: Expression, right: Expression)
    extends StBinary[Geometry, Geometry]("st_union", BinaryType) {
  protected def op(a: Geometry, b: Geometry): Any = a.union(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StUnion =
    copy(left = l, right = r)
}

/** Planar area in CRS units. */
case class StArea(child: Expression) extends StUnary[Geometry]("st_area", DoubleType) {
  protected def op(g: Geometry): Any = g.getArea
  override protected def withNewChildInternal(c: Expression): StArea = copy(child = c)
}

/** Geometry length/perimeter in CRS units. */
case class StLength(child: Expression) extends StUnary[Geometry]("st_length", DoubleType) {
  protected def op(g: Geometry): Any = g.getLength
  override protected def withNewChildInternal(c: Expression): StLength = copy(child = c)
}

case class StCentroid(child: Expression) extends StUnary[Geometry]("st_centroid", BinaryType) {
  protected def op(g: Geometry): Any = g.getCentroid
  override protected def withNewChildInternal(c: Expression): StCentroid = copy(child = c)
}

case class StEnvelope(child: Expression) extends StUnary[Geometry]("st_envelope", BinaryType) {
  protected def op(g: Geometry): Any = g.getEnvelope
  override protected def withNewChildInternal(c: Expression): StEnvelope = copy(child = c)
}

/** Envelope corners of a geometry as struct<xmin,ymin,xmax,ymax> — the
  * numeric form grid partitioning needs (cell assignment, cheap overlap
  * prefilters), one WKB parse per row instead of four. Null for empty
  * geometries (their envelope is the null envelope). */
case class StEnvelopeBounds(child: Expression)
    extends StUnary[Geometry]("st_envelope_bounds", BoundsType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry): Any = {
    val env = g.getEnvelopeInternal
    if (env.isNull) null
    else new GenericInternalRow(Array[Any](env.getMinX, env.getMinY, env.getMaxX, env.getMaxY))
  }
  override protected def withNewChildInternal(c: Expression): StEnvelopeBounds = copy(child = c)
}

/** Envelope corners computed straight from constructor arguments — the
  * collapsed form of `st_envelope_bounds(st_makeenvelope(x0,y0,x1,y1))`
  * and `st_envelope_bounds(st_point(x,y))` (optimizer rule
  * [[graft.plans.CollapseEnvelopeBounds]]). The composed form builds a
  * WKB polygon and parses it back per evaluation just to read four
  * corner doubles; once Catalyst's inferred isnotnull constraints
  * duplicate that composition once per struct field below the probe-side
  * exchange (the grid spatial joins' plans), the WKB round trip was the
  * scan stage's dominant cost — measured 2.4 s of 3.9 s at sf0.1.
  *
  * Exactness: the fold below replays JTS `Envelope.expandToInclude` over
  * the rectangle's ring coordinates comparison-for-comparison (first
  * corner initializes, `<`/`>` updates — false on NaN keeps the running
  * value, exactly JTS), and the trailing `maxx < minx` null check is
  * Envelope.isNull verbatim, so the collapse is bit-identical to the
  * composed path on every input on which the composed path is DEFINED —
  * reversed corners included. The one refinement: a NaN corner makes the
  * composed path THROW (the WKB ring fails closure validation, NaN !=
  * NaN), where this fold returns the JTS envelope-fold value; no
  * previously-succeeding query can change results.
 */
case class StEnvelopeBoundsRect(first: Expression, second: Expression, third: Expression,
                                fourth: Expression)
    extends StQuaternary[Double, Double, Double, Double]("st_envelope_bounds_rect", BoundsType) {
  override def nullable: Boolean = true
  protected def op(x0: Double, y0: Double, x1: Double, y1: Double): Any = {
    var minx = x0; var maxx = x0; var miny = y0; var maxy = y0
    if (x1 < minx) minx = x1
    if (x1 > maxx) maxx = x1
    if (y1 < miny) miny = y1
    if (y1 > maxy) maxy = y1
    if (maxx < minx) null // Envelope.isNull, unreachable for real corners
    else new GenericInternalRow(Array[Any](minx, miny, maxx, maxy))
  }
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression): StEnvelopeBoundsRect =
    copy(first = a, second = b, third = c, fourth = d)
}

/** Collapsed form of `st_envelope_bounds(st_point(x, y))` — separate from
  * [[StEnvelopeBoundsRect]] because the composed path routes the point
  * through the WKB codec, and JTS `WKBReader` reads a point with a NaN
  * ordinate as POINT EMPTY (the standard WKB empty-point convention), so
  * the composed result is NULL on NaN where a rectangle fold would emit
  * the NaN struct. This form reproduces that exactly: NULL when either
  * ordinate is NULL or NaN, else (x, y, x, y). */
case class StEnvelopeBoundsPoint(left: Expression, right: Expression)
    extends StBinary[Double, Double]("st_envelope_bounds_point", BoundsType) {
  override def nullable: Boolean = true
  protected def op(x: Double, y: Double): Any =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isNaN(y)) null
    else new GenericInternalRow(Array[Any](x, y, x, y))
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): StEnvelopeBoundsPoint = copy(left = l, right = r)
}

/** X of a non-empty Point; null otherwise (PostGIS/Sedona ST_X semantics). */
case class StX(child: Expression) extends StUnary[Geometry]("st_x", DoubleType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry): Any = g match {
    case p: Point if !p.isEmpty => p.getX
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): StX = copy(child = c)
}

/** Y of a non-empty Point; null otherwise (PostGIS/Sedona ST_Y semantics). */
case class StY(child: Expression) extends StUnary[Geometry]("st_y", DoubleType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry): Any = g match {
    case p: Point if !p.isEmpty => p.getY
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): StY = copy(child = c)
}

case class StIsValid(child: Expression) extends StUnary[Geometry]("st_isvalid", BooleanType) {
  protected def op(g: Geometry): Any = g.isValid
  override protected def withNewChildInternal(c: Expression): StIsValid = copy(child = c)
}

case class StIntersects(left: Expression, right: Expression) extends StPredicate("st_intersects") {
  protected def op(a: Geometry, b: Geometry): Boolean = a.intersects(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StIntersects =
    copy(left = l, right = r)
}

case class StContains(left: Expression, right: Expression) extends StPredicate("st_contains") {
  protected def op(a: Geometry, b: Geometry): Boolean = a.contains(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StContains =
    copy(left = l, right = r)
}

case class StWithin(left: Expression, right: Expression) extends StPredicate("st_within") {
  protected def op(a: Geometry, b: Geometry): Boolean = a.within(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StWithin =
    copy(left = l, right = r)
}

/** The remaining DE-9IM predicate family (Sedona/PostGIS surface:
  * `ST_Touches/Crosses/Overlaps/Disjoint/Equals/Covers/CoveredBy`),
  * one thin JTS delegate each — kept as separate Catalyst Predicates
  * (not one st_relate(pattern) call) so each participates in filter
  * pushdown / join-condition planning under its own name, the way the
  * engines they mirror register them. Covers/CoveredBy are the
  * boundary-inclusive contains/within (a polygon COVERS its own edge
  * points; it does not CONTAIN them — the classic DE-9IM trap). */
case class StTouches(left: Expression, right: Expression) extends StPredicate("st_touches") {
  protected def op(a: Geometry, b: Geometry): Boolean = a.touches(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StTouches =
    copy(left = l, right = r)
}

case class StCrosses(left: Expression, right: Expression) extends StPredicate("st_crosses") {
  protected def op(a: Geometry, b: Geometry): Boolean = a.crosses(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StCrosses =
    copy(left = l, right = r)
}

case class StOverlaps(left: Expression, right: Expression) extends StPredicate("st_overlaps") {
  protected def op(a: Geometry, b: Geometry): Boolean = a.overlaps(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StOverlaps =
    copy(left = l, right = r)
}

case class StDisjoint(left: Expression, right: Expression) extends StPredicate("st_disjoint") {
  protected def op(a: Geometry, b: Geometry): Boolean = a.disjoint(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StDisjoint =
    copy(left = l, right = r)
}

case class StEquals(left: Expression, right: Expression) extends StPredicate("st_equals") {
  /** Topological equality (equalsTopo — same point set, any vertex
    * order/start), not coordinate-list equality. */
  protected def op(a: Geometry, b: Geometry): Boolean = a.equalsTopo(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StEquals =
    copy(left = l, right = r)
}

case class StCovers(left: Expression, right: Expression) extends StPredicate("st_covers") {
  protected def op(a: Geometry, b: Geometry): Boolean = a.covers(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StCovers =
    copy(left = l, right = r)
}

case class StCoveredBy(left: Expression, right: Expression) extends StPredicate("st_coveredby") {
  protected def op(a: Geometry, b: Geometry): Boolean = a.coveredBy(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StCoveredBy =
    copy(left = l, right = r)
}

case class StDistance(left: Expression, right: Expression)
    extends StBinary[Geometry, Geometry]("st_distance", DoubleType) {
  protected def op(a: Geometry, b: Geometry): Any = a.distance(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StDistance =
    copy(left = l, right = r)
}

/** st_distance_sphere(a, b) — great-circle distance in METERS between two
  * lon/lat POINTs (EPSG:4326 axis order x=lon, y=lat), via the haversine
  * formula on the GRS80 mean radius R1 = (2a+b)/3 = 6 371 008.7714 m —
  * the native spherical measure Sedona's GeoTools stack provides as
  * `ST_DistanceSphere` (reference: docker/Dockerfile:7-10). Without it,
  * raw 4326 data through planar [[StDistance]] silently yields DEGREES;
  * with it, lon/lat points get meters with no projection round-trip.
  * Haversine is numerically stable at small angles (the sin²(Δ/2) form
  * never cancels) and within 0.56% of the ellipsoidal geodesic anywhere.
  *
  * Non-point or empty-point input returns null (the ST_X/ST_Y
  * precedent); the sqrt argument is clamped to 1 so antipodal rounding
  * can never NaN the asin. The operation order below is mirrored
  * verbatim by the DuckDB oracle arithmetic — last-ulp libm drift is
  * absorbed by the ROUND(·,1) boundary law at the query layer. */
case class StDistanceSphere(left: Expression, right: Expression)
    extends StBinary[Geometry, Geometry]("st_distance_sphere", DoubleType) {
  override def nullable: Boolean = true
  protected def op(a: Geometry, b: Geometry): Any = (a, b) match {
    case (p: Point, q: Point) if !p.isEmpty && !q.isEmpty =>
      StDistanceSphere.haversineMeters(p.getX, p.getY, q.getX, q.getY)
    case _ => null
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StDistanceSphere =
    copy(left = l, right = r)
}

/** st_distance_spheroid(a, b) — geodesic distance in METERS between two
  * lon/lat POINTs on the GRS80 ELLIPSOID, completing the geodesic family
  * next to the spherical [[StDistanceSphere]] (Sedona 1.7.1 ships
  * `ST_DistanceSpheroid`; reference: docker/Dockerfile:7-10). Uses the
  * Andoyer–Lambert first-order-in-flattening formula (Andoyer 1950; the
  * closed form in Meeus, Astronomical Algorithms ch. 11): the spherical
  * leg plus two f-weighted correction integrals. Accuracy is O(f²·a) —
  * tens of meters on intercontinental lines, ~1000× tighter than the
  * sphere's 0.56% — and, unlike iterative Vincenty/Karney, the operation
  * sequence is branch-free and finite, so the DuckDB oracle mirrors it
  * VERBATIM and last-ulp libm drift is absorbed by the query-layer ROUND
  * funnel.
  *
  * PORTING CAVEAT: Sedona 1.7.1 implements ST_DistanceSpheroid as the
  * EXACT WGS84 geodesic (GeographicLib/Karney), so workloads comparing
  * absolute distances against thresholds within tens of meters of the
  * cut line can classify differently here; swap in an iterative Karney
  * implementation if that tolerance matters (the Andoyer form would then
  * remain only as the DuckDB-mirrorable oracle path).
  *
  * Non-point or empty-point input returns null; coincident points short-
  * circuit to 0 (the ω→0 limit, avoiding its 0/0). */
case class StDistanceSpheroid(left: Expression, right: Expression)
    extends StBinary[Geometry, Geometry]("st_distance_spheroid", DoubleType) {
  override def nullable: Boolean = true
  protected def op(a: Geometry, b: Geometry): Any = (a, b) match {
    case (p: Point, q: Point) if !p.isEmpty && !q.isEmpty =>
      StDistanceSpheroid.andoyerMeters(p.getX, p.getY, q.getX, q.getY)
    case _ => null
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StDistanceSpheroid =
    copy(left = l, right = r)
}

object StDistanceSpheroid {
  /** GRS80 semi-major axis and flattening — the same datum constants
    * `geom/Crs.scala` projects with. */
  val SemiMajorM: Double = 6378137.0
  val Flattening: Double = 1.0 / 298.257222101

  /** Andoyer–Lambert geodesic approximation (Meeus ch. 11 operation
    * order, mirrored verbatim by the q_distance_spheroid oracle SQL —
    * any change here must change that SQL identically):
    * F/G the latitude mean/half-difference, λ the half lon-difference;
    * S, C the split chord terms; ω the spherical leg; H1/H2 the
    * first-order flattening corrections. Degenerate S·C = 0 (coincident
    * or exactly-antipodal-axis inputs) falls back to the spherical leg. */
  def andoyerMeters(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val fF = Math.toRadians(lat1 + lat2) / 2
    val fG = Math.toRadians(lat1 - lat2) / 2
    val fL = Math.toRadians(lon1 - lon2) / 2
    val sinG = Math.sin(fG); val cosG = Math.cos(fG)
    val sinF = Math.sin(fF); val cosF = Math.cos(fF)
    val sinL = Math.sin(fL); val cosL = Math.cos(fL)
    val s = sinG * sinG * cosL * cosL + cosF * cosF * sinL * sinL
    val c = cosG * cosG * cosL * cosL + sinF * sinF * sinL * sinL
    if (s == 0.0) 0.0                       // coincident: ω = 0
    else if (c == 0.0) Math.PI * SemiMajorM // antipodal split: ω = π/2,
                                            // corrections 0/0 → spherical leg
    else {
      val om = Math.atan(Math.sqrt(s / c))
      val r = Math.sqrt(s * c) / om
      val d = 2 * om * SemiMajorM
      val h1 = (3 * r - 1) / (2 * c)
      val h2 = (3 * r + 1) / (2 * s)
      d * (1 + Flattening * (h1 * sinF * sinF * cosG * cosG
                           - h2 * cosF * cosF * sinG * sinG))
    }
  }
}

/** st_distance_geodesic(a, b) — EXACT geodesic distance in METERS
  * between two lon/lat POINTs on the WGS84 ellipsoid via the Vincenty
  * inverse method (Vincenty, Survey Review 23(176), 1975), completing
  * the accuracy ladder above the first-order [[StDistanceSpheroid]]:
  * sub-millimeter agreement with the Karney/GeographicLib geodesic on
  * converging lines (anchors in SpatialSqlSpec), which is the accuracy
  * class Sedona's ST_DistanceSpheroid ships.
  *
  * FIXED-ITERATION DETERMINISTIC MODE: the λ iteration always runs
  * exactly [[StDistanceGeodesic.Iterations]] rounds with no early-exit
  * branch, so the whole computation is one fixed dataflow of
  * correctly-rounded arithmetic plus libm trig — which is what lets the
  * q_geodesic audit query carry a machine-generated, fully-unrolled
  * DuckDB mirror (an early-exit data-dependent branch would make the
  * op count engine-dependent and the mirror impossible). 30 rounds is
  * far past convergence for any line that converges at all (typically
  * 4–8); NEAR-ANTIPODAL pairs (within ~0.5° of the antipode) are
  * Vincenty's documented non-converging region — there the fixed
  * iteration returns the 30th iterate, deterministic but only
  * approximate, and callers needing exactness at the antipode should
  * pre-filter (the audit query excludes that region by construction).
  *
  * Non-point or empty-point input returns null; coincident points
  * short-circuit to 0 through the sinσ = 0 guard. */
case class StDistanceGeodesic(left: Expression, right: Expression)
    extends StBinary[Geometry, Geometry]("st_distance_geodesic", DoubleType) {
  override def nullable: Boolean = true
  protected def op(a: Geometry, b: Geometry): Any = (a, b) match {
    case (p: Point, q: Point) if !p.isEmpty && !q.isEmpty =>
      StDistanceGeodesic.vincentyMeters(p.getX, p.getY, q.getX, q.getY)
    case _ => null
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StDistanceGeodesic =
    copy(left = l, right = r)
}

object StDistanceGeodesic {
  /** WGS84 (EPSG:7030) — Sedona's ST_DistanceSpheroid datum. */
  val SemiMajorM: Double = 6378137.0
  val Flattening: Double = 1.0 / 298.257223563
  val SemiMinorM: Double = SemiMajorM * (1.0 - Flattening)
  /** (a² − b²) / b² — u²'s ellipsoid factor, one constant for the SQL
    * mirror to embed. */
  val E2b: Double = (SemiMajorM * SemiMajorM - SemiMinorM * SemiMinorM) /
    (SemiMinorM * SemiMinorM)
  val Deg2Rad: Double = math.Pi / 180.0
  /** Fixed λ-iteration count (no early exit — see the class doc). */
  val Iterations: Int = 30

  /** One λ-update round, the EXACT op sequence the generated oracle SQL
    * replays per unrolled iteration (any change here must change
    * `Pipelines.geodesicOracleSql`'s generator identically). */
  @inline private def lambdaStep(bigL: Double, lam: Double,
                                 sinU1: Double, cosU1: Double,
                                 sinU2: Double, cosU2: Double): Double = {
    val sinLam = Math.sin(lam)
    val cosLam = Math.cos(lam)
    val t1 = cosU2 * sinLam
    val t2 = cosU1 * sinU2 - sinU1 * cosU2 * cosLam
    val sinSig = Math.sqrt(t1 * t1 + t2 * t2)
    val cosSig = sinU1 * sinU2 + cosU1 * cosU2 * cosLam
    val sig = Math.atan2(sinSig, cosSig)
    val sinAlp = if (sinSig == 0.0) 0.0 else cosU1 * cosU2 * sinLam / sinSig
    val cos2Alp = 1.0 - sinAlp * sinAlp
    val cos2Sm = if (cos2Alp == 0.0) 0.0 else cosSig - 2.0 * sinU1 * sinU2 / cos2Alp
    val cc = Flattening / 16.0 * cos2Alp * (4.0 + Flattening * (4.0 - 3.0 * cos2Alp))
    bigL + (1.0 - cc) * Flattening * sinAlp *
      (sig + cc * sinSig * (cos2Sm + cc * cosSig * (-1.0 + 2.0 * cos2Sm * cos2Sm)))
  }

  def vincentyMeters(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    // normalize the raw lon difference into (-180, 180] in exact degree
    // arithmetic BEFORE any trig, so both engines take the same branch
    var lDeg = lon2 - lon1
    if (lDeg > 180.0) lDeg = lDeg - 360.0
    if (lDeg < -180.0) lDeg = lDeg + 360.0
    val bigL = lDeg * Deg2Rad
    val u1 = Math.atan((1.0 - Flattening) * Math.tan(lat1 * Deg2Rad))
    val u2 = Math.atan((1.0 - Flattening) * Math.tan(lat2 * Deg2Rad))
    val sinU1 = Math.sin(u1); val cosU1 = Math.cos(u1)
    val sinU2 = Math.sin(u2); val cosU2 = Math.cos(u2)
    var lam = bigL
    var i = 0
    while (i < Iterations) {
      lam = lambdaStep(bigL, lam, sinU1, cosU1, sinU2, cosU2)
      i += 1
    }
    // final evaluation from the converged λ — same op names as lambdaStep
    val sinLam = Math.sin(lam)
    val cosLam = Math.cos(lam)
    val t1 = cosU2 * sinLam
    val t2 = cosU1 * sinU2 - sinU1 * cosU2 * cosLam
    val sinSig = Math.sqrt(t1 * t1 + t2 * t2)
    val cosSig = sinU1 * sinU2 + cosU1 * cosU2 * cosLam
    val sig = Math.atan2(sinSig, cosSig)
    if (sinSig == 0.0) 0.0 // coincident
    else {
      val sinAlp = cosU1 * cosU2 * sinLam / sinSig
      val cos2Alp = 1.0 - sinAlp * sinAlp
      val cos2Sm = if (cos2Alp == 0.0) 0.0 else cosSig - 2.0 * sinU1 * sinU2 / cos2Alp
      val ua2 = cos2Alp * E2b
      val aa = 1.0 + ua2 / 16384.0 * (4096.0 + ua2 * (-768.0 + ua2 * (320.0 - 175.0 * ua2)))
      val bb = ua2 / 1024.0 * (256.0 + ua2 * (-128.0 + ua2 * (74.0 - 47.0 * ua2)))
      val dSig = bb * sinSig * (cos2Sm + bb / 4.0 * (cosSig * (-1.0 + 2.0 * cos2Sm * cos2Sm)
        - bb / 6.0 * cos2Sm * (-3.0 + 4.0 * sinSig * sinSig) * (-3.0 + 4.0 * cos2Sm * cos2Sm)))
      SemiMinorM * aa * (sig - dSig)
    }
  }
}

object StDistanceSphere {
  /** GRS80 mean radius R1 = (2a + b)/3; PostGIS's sphere radius agrees
    * to the same 4 decimals. */
  val MeanRadiusM: Double = 6371008.7714

  def haversineMeters(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val sLat = Math.sin(Math.toRadians(lat2 - lat1) / 2)
    val sLon = Math.sin(Math.toRadians(lon2 - lon1) / 2)
    val a = sLat * sLat +
      Math.cos(Math.toRadians(lat1)) * Math.cos(Math.toRadians(lat2)) * sLon * sLon
    2 * MeanRadiusM * Math.asin(Math.min(1.0, Math.sqrt(a)))
  }
}

/** st_area_sphere(g) — area in m² of a lon/lat POLYGON / MULTIPOLYGON on
  * the GRS80 mean-radius sphere, completing the geodesic measures next to
  * [[StDistanceSphere]] (planar [[StArea]] on EPSG:4326 yields degrees²).
  * Uses the Chamberlain–Duquette line-integral (JPL Publication 07-3; the
  * same public algorithm turf.js and many GIS stacks ship):
  * `R²/2 · |Σ_edges (λ₂−λ₁)(2 + sin φ₁ + sin φ₂)|` per ring, holes
  * subtracted. The integral is EXACT for graticule-aligned rings
  * (meridian edges contribute 0; a parallel edge integrates to
  * Δλ·(1+sin φ), giving the textbook band area R²·Δλ·(sinφ₂−sinφ₁) — the
  * anchors in SpatialSqlSpec pin this closed form up to a full
  * hemisphere); general small-edge polygons carry the same
  * edge-chord approximation every C-D consumer accepts. Non-areal or
  * empty input returns null. Operation order is mirrored verbatim by the
  * DuckDB oracle under the ROUND(·,1) boundary law. */
case class StAreaSphere(child: Expression) extends StUnary[Geometry]("st_area_sphere", DoubleType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry): Any = g match {
    case p: Polygon if !p.isEmpty => StAreaSphere.polygonAreaM2(p)
    case mp: MultiPolygon if !mp.isEmpty =>
      var a = 0.0
      var i = 0
      while (i < mp.getNumGeometries) {
        a += StAreaSphere.polygonAreaM2(mp.getGeometryN(i).asInstanceOf[Polygon])
        i += 1
      }
      a
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): StAreaSphere = copy(child = c)
}

object StAreaSphere {
  private def ringAreaM2(ring: LineString): Double = {
    val cs = ring.getCoordinateSequence
    var total = 0.0
    var i = 0
    val n = cs.size - 1 // closed ring: last == first
    while (i < n) {
      val lon1 = cs.getX(i); val lat1 = cs.getY(i)
      val lon2 = cs.getX(i + 1); val lat2 = cs.getY(i + 1)
      total += Math.toRadians(lon2 - lon1) *
        (2 + Math.sin(Math.toRadians(lat1)) + Math.sin(Math.toRadians(lat2)))
      i += 1
    }
    val r = StDistanceSphere.MeanRadiusM
    Math.abs(total) * r * r / 2
  }

  def polygonAreaM2(p: Polygon): Double = {
    var a = ringAreaM2(p.getExteriorRing)
    var i = 0
    while (i < p.getNumInteriorRing) {
      a -= ringAreaM2(p.getInteriorRingN(i))
      i += 1
    }
    a
  }
}

/** st_length_sphere(g) — great-circle length in meters of a lon/lat
  * LINESTRING / MULTILINESTRING, completing the geodesic measure family
  * ([[StDistanceSphere]] for point pairs, [[StAreaSphere]] for polygons):
  * the sum of [[StDistanceSphere.haversineMeters]] over consecutive
  * vertex pairs, i.e. the length of the piecewise-great-circle path
  * through the line's vertices (the same chord-path contract PostGIS's
  * sphere length uses — each segment is measured as a great-circle arc).
  * Points measure 0 like planar `getLength`; areal or empty input
  * returns null (use [[StAreaSphere]] for areal measure). Summation
  * order is vertex order, mirrored verbatim by the DuckDB oracle under
  * the ROUND boundary law. */
case class StLengthSphere(child: Expression)
    extends StUnary[Geometry]("st_length_sphere", DoubleType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry): Any = g match {
    case l: LineString if !l.isEmpty => StLengthSphere.lineLengthM(l)
    case ml: MultiLineString if !ml.isEmpty =>
      var total = 0.0
      var i = 0
      while (i < ml.getNumGeometries) {
        total += StLengthSphere.lineLengthM(ml.getGeometryN(i).asInstanceOf[LineString])
        i += 1
      }
      total
    case p: Point if !p.isEmpty => 0.0
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): StLengthSphere = copy(child = c)
}

object StLengthSphere {
  def lineLengthM(l: LineString): Double = {
    val cs = l.getCoordinateSequence
    var total = 0.0
    var i = 0
    while (i < cs.size - 1) {
      total += StDistanceSphere.haversineMeters(
        cs.getX(i), cs.getY(i), cs.getX(i + 1), cs.getY(i + 1))
      i += 1
    }
    total
  }
}

/** st_dwithin(a, b, d) — true iff distance(a, b) <= d. A first-class
  * predicate (not sugar for st_distance(a,b) <= d) so
  * SpatialJoinStrategy can recognize it as an index-accelerable join
  * condition and plan the broadcast R-tree operator with envelope
  * expansion instead of a nested-loop distance join. */
case class StDWithin(first: Expression, second: Expression, third: Expression)
    extends StTernary[Geometry, Geometry, Double]("st_dwithin", BooleanType) with Predicate {
  protected def op(a: Geometry, b: Geometry, d: Double): Any = a.isWithinDistance(b, d)
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): StDWithin =
    copy(first = a, second = b, third = c)
}

/** Vertex-wise CRS reprojection. CRS args are usually foldable literals —
  * the point-transform closure is resolved once and cached. */
case class StTransform(first: Expression, second: Expression, third: Expression)
    extends StTernary[Geometry, UTF8String, UTF8String]("st_transform", BinaryType) {
  @transient private lazy val foldedTransform: Option[(Double, Double) => (Double, Double)] =
    if (second.foldable && third.foldable) {
      val s = second.eval().asInstanceOf[UTF8String].toString
      val d = third.eval().asInstanceOf[UTF8String].toString
      Some(Crs.pointTransform(s, d))
    } else None

  protected def op(g: Geometry, src: UTF8String, dst: UTF8String): Any =
    Geom.mapVertices(g)(foldedTransform.getOrElse(Crs.pointTransform(src.toString, dst.toString)))
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): StTransform =
    copy(first = a, second = b, third = c)
}

/** st_geohash(point, precision) — base-32 geohash cell key of a point
  * (Sedona `ST_GeoHash`). The prefix-partitionable spatial bucket key:
  * sorting/partitioning 100 TB of points by geohash co-locates spatial
  * neighbours, and a cell predicate becomes a string prefix range. Null
  * for non-point or empty geometry (Sedona semantics: points only). */
case class StGeoHash(left: Expression, right: Expression)
    extends StBinary[Geometry, Int]("st_geohash", StringType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry, precision: Int): Any = g match {
    case pt: Point if !pt.isEmpty =>
      UTF8String.fromString(graft.geom.Geohash.encode(pt.getX, pt.getY, precision))
    case _ => null
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StGeoHash =
    copy(left = l, right = r)
}

/** st_makeline(array<geometry>) — LineString through the array's points in
  * array order (PostGIS/Sedona ST_MakeLine over a collected array). The
  * trajectory constructor: `collect_list(point) over (order by ts)` or
  * `array_agg` feeds it per-key without any driver-side geometry work.
  * Null on fewer than 2 points or a non-point element. */
case class StMakeLine(child: Expression) extends StUnary[ArrayData]("st_makeline", BinaryType) {
  override def nullable: Boolean = true
  protected def op(arr: ArrayData): Any = {
    val n = arr.numElements()
    if (n < 2) null
    else {
      val coords = new Array[Coordinate](n)
      var i = 0
      var ok = true
      while (ok && i < n) {
        if (arr.isNullAt(i)) ok = false
        else Geom.fromWkbCached(arr.getBinary(i)) match {
          case p: Point if !p.isEmpty =>
            coords(i) = new Coordinate(p.getX, p.getY)
            i += 1
          case _ => ok = false
        }
      }
      if (!ok) null else Geom.factory.createLineString(coords)
    }
  }
  override protected def withNewChildInternal(c: Expression): StMakeLine = copy(child = c)
}

/** st_simplify(geom, tolerance) — Douglas-Peucker simplification (Sedona
  * `ST_Simplify`/PostGIS semantics: plain DP, may not preserve topology;
  * the vertex-thinning pass that makes 100 TB of dense trajectories /
  * high-resolution boundaries cheap to index and join). A NaN tolerance
  * is a named error: JTS passes it through its `< 0` check and then
  * recurses without end on a one-point section (`POINT (1 2)`). */
case class StSimplify(left: Expression, right: Expression)
    extends StBinary[Geometry, Double]("st_simplify", BinaryType) {
  protected def op(g: Geometry, tol: Double): Any = {
    if (tol.isNaN) throw new IllegalArgumentException(s"$prettyName: tolerance is NaN")
    org.locationtech.jts.simplify.DouglasPeuckerSimplifier.simplify(g, tol)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StSimplify =
    copy(left = l, right = r)
}

/** st_convexhull(geom) — convex hull (Sedona `ST_ConvexHull`). */
case class StConvexHull(child: Expression) extends StUnary[Geometry]("st_convexhull", BinaryType) {
  protected def op(g: Geometry): Any = g.convexHull()
  override protected def withNewChildInternal(c: Expression): StConvexHull = copy(child = c)
}

/** st_npoints(geom) — total vertex count (PostGIS/Sedona ST_NPoints). */
case class StNPoints(child: Expression) extends StUnary[Geometry]("st_npoints", IntegerType) {
  protected def op(g: Geometry): Any = g.getNumPoints
  override protected def withNewChildInternal(c: Expression): StNPoints = copy(child = c)
}

/** st_geometrytype(geom) — `"ST_Polygon"`-style type tag (Sedona/PostGIS
  * `ST_GeometryType` convention: the `ST_` prefix on the JTS type name). */
case class StGeometryType(child: Expression)
    extends StUnary[Geometry]("st_geometrytype", StringType) {
  protected def op(g: Geometry): Any = UTF8String.fromString("ST_" + g.getGeometryType)
  override protected def withNewChildInternal(c: Expression): StGeometryType = copy(child = c)
}

/** st_numgeometries(geom) — component count (1 for atomic geometries,
  * part count for multi-geometries/collections — Sedona `ST_NumGeometries`). */
case class StNumGeometries(child: Expression)
    extends StUnary[Geometry]("st_numgeometries", IntegerType) {
  protected def op(g: Geometry): Any = g.getNumGeometries
  override protected def withNewChildInternal(c: Expression): StNumGeometries = copy(child = c)
}

/** st_boundary(geom) — topological boundary (Sedona/PostGIS `ST_Boundary`):
  * polygon -> ring linework, linestring -> endpoint multipoint, point ->
  * empty. Composes with [[StLength]] for ring-length audits. */
case class StBoundary(child: Expression) extends StUnary[Geometry]("st_boundary", BinaryType) {
  protected def op(g: Geometry): Any = g.getBoundary
  override protected def withNewChildInternal(c: Expression): StBoundary = copy(child = c)
}

/** st_pointonsurface(geom) — a point GUARANTEED interior to the input
  * (Sedona/PostGIS `ST_PointOnSurface`; unlike st_centroid, which can fall
  * outside a concave polygon). JTS interior-point: for an axis-aligned
  * rectangle this is its center, which is what the closed-form oracle
  * replays. */
case class StPointOnSurface(child: Expression)
    extends StUnary[Geometry]("st_pointonsurface", BinaryType) {
  protected def op(g: Geometry): Any = g.getInteriorPoint
  override protected def withNewChildInternal(c: Expression): StPointOnSurface = copy(child = c)
}

/** st_closestpoint(a, b) — the point ON `a` nearest to `b` (Sedona/PostGIS
  * `ST_ClosestPoint`): the first element of the JTS nearest-points pair.
  * For an axis-aligned rectangle vs an outside point this is the clamp of
  * the point to the rectangle — the closed form the oracle replays. */
case class StClosestPoint(left: Expression, right: Expression)
    extends StBinary[Geometry, Geometry]("st_closestpoint", BinaryType) {
  override def nullable: Boolean = true
  protected def op(a: Geometry, b: Geometry): Any =
    if (a.isEmpty || b.isEmpty) null
    else Geom.factory.createPoint(
      org.locationtech.jts.operation.distance.DistanceOp.nearestPoints(a, b)(0))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StClosestPoint =
    copy(left = l, right = r)
}

/** st_perimeter(geom) — boundary length of an AREAL geometry (Sedona/
  * PostGIS `ST_Perimeter`): exterior + interior rings for polygons, summed
  * over multipolygon parts; 0 for points and lines (the PostGIS contract —
  * use st_length for linear measure). */
case class StPerimeter(child: Expression) extends StUnary[Geometry]("st_perimeter", DoubleType) {
  protected def op(g: Geometry): Any = g match {
    case p: Polygon => p.getLength
    case mp: MultiPolygon => mp.getLength
    case _ => 0.0
  }
  override protected def withNewChildInternal(c: Expression): StPerimeter = copy(child = c)
}

/** st_flipcoordinates(geom) — swap x/y on every vertex (Sedona
  * `ST_FlipCoordinates`, the standard lat/lon-vs-lon/lat repair). */
case class StFlipCoordinates(child: Expression)
    extends StUnary[Geometry]("st_flipcoordinates", BinaryType) {
  protected def op(g: Geometry): Any = Geom.mapVertices(g)((x, y) => (y, x))
  override protected def withNewChildInternal(c: Expression): StFlipCoordinates = copy(child = c)
}

/** st_reverse(geom) — reverse vertex order of every component (Sedona
  * `ST_Reverse`; orientation-sensitive consumers like st_azimuth paths
  * and ring-winding conventions need it). */
case class StReverse(child: Expression) extends StUnary[Geometry]("st_reverse", BinaryType) {
  protected def op(g: Geometry): Any = g.reverse()
  override protected def withNewChildInternal(c: Expression): StReverse = copy(child = c)
}

/** st_dump(g) — the component geometries of a Multi-geometry or
  * GeometryCollection as array<geometry>, a single geometry as a 1-element array
  * (PostGIS/Sedona `ST_Dump` without the path component — pair with
  * `explode` for the row-per-part relation, the inverse of
  * [[StCollect]]∘collect_list). Nested collections are dumped one level,
  * matching JTS getGeometryN. */
case class StDump(child: Expression)
    extends StUnary[Geometry]("st_dump", ArrayType(BinaryType, containsNull = false)) {
  protected def op(g: Geometry): Any =
    new GenericArrayData(Array.tabulate[Any](g.getNumGeometries)(i =>
      Geom.toWkb(g.getGeometryN(i))))
  override protected def withNewChildInternal(c: Expression): StDump = copy(child = c)
}

/** st_geomfromwkb(bytes) — WKB bytes to a geometry column. The engine's
  * internal representation IS WKB, so this is a parse-and-renormalize:
  * the input is validated (malformed bytes throw, exactly like a
  * malformed WKT in [[StGeomFromWKT]]) and re-emitted in the engine's
  * canonical encoding, so downstream equality/hashing never sees
  * byte-order or envelope-flag variants of the same geometry. The
  * argument stays WKB so the error can quote it. */
case class StGeomFromWKB(child: Expression)
    extends StUnary[Array[Byte]]("st_geomfromwkb", BinaryType) {
  protected def op(b: Array[Byte]): Any =
    try Geom.fromWkbCached(b)
    catch {
      case e: ParseException =>
        // one byte past the 64 quoted hex digits, so a longer input shows as cut
        val hex = b.iterator.take(33).map(x => f"${x & 0xff}%02x").mkString
        throw malformedGeometry(prettyName, hex, e)
    }
  override protected def withNewChildInternal(c: Expression): StGeomFromWKB = copy(child = c)
}

/** st_aswkb(g) — the canonical WKB bytes of a geometry (the identity on
  * the internal representation, published as an explicit export so user
  * schemas can declare interop intent; PostGIS `ST_AsBinary`). */
case class StAsWKB(child: Expression) extends StUnary[Array[Byte]]("st_aswkb", BinaryType) {
  protected def op(b: Array[Byte]): Any = b
  override protected def withNewChildInternal(c: Expression): StAsWKB = copy(child = c)
}

/** Lineal/ring accessor family (PostGIS/Sedona semantics; null on
  * non-applicable input, the ST_X/ST_Y convention):
  * st_isempty / st_dimension apply to any geometry; st_isclosed /
  * st_isring / st_startpoint / st_endpoint / st_pointn to lineal
  * geometries; st_exteriorring / st_numinteriorrings / st_interiorringn
  * to polygons. Point indexes are 1-based, negative counts from the end
  * (the Sedona ST_PointN extension). */
case class StIsEmpty(child: Expression)
    extends StUnary[Geometry]("st_isempty", BooleanType) with Predicate {
  protected def op(g: Geometry): Any = g.isEmpty
  override protected def withNewChildInternal(c: Expression): StIsEmpty = copy(child = c)
}

case class StDimension(child: Expression) extends StUnary[Geometry]("st_dimension", IntegerType) {
  protected def op(g: Geometry): Any = g.getDimension
  override protected def withNewChildInternal(c: Expression): StDimension = copy(child = c)
}

case class StIsClosed(child: Expression) extends StUnary[Geometry]("st_isclosed", BooleanType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry): Any = g match {
    case l: LineString => l.isClosed
    case m: MultiLineString => m.isClosed
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): StIsClosed = copy(child = c)
}

case class StIsRing(child: Expression) extends StUnary[Geometry]("st_isring", BooleanType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry): Any = g match {
    case l: LineString => l.isRing
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): StIsRing = copy(child = c)
}

case class StStartPoint(child: Expression) extends StUnary[Geometry]("st_startpoint", BinaryType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry): Any = g match {
    case l: LineString if !l.isEmpty => l.getStartPoint
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): StStartPoint = copy(child = c)
}

case class StEndPoint(child: Expression) extends StUnary[Geometry]("st_endpoint", BinaryType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry): Any = g match {
    case l: LineString if !l.isEmpty => l.getEndPoint
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): StEndPoint = copy(child = c)
}

case class StPointN(left: Expression, right: Expression)
    extends StBinary[Geometry, Int]("st_pointn", BinaryType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry, n: Int): Any = g match {
    case l: LineString =>
      val i = if (n < 0) l.getNumPoints + n else n - 1
      if (i < 0 || i >= l.getNumPoints) null else l.getPointN(i)
    case _ => null
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StPointN =
    copy(left = l, right = r)
}

case class StExteriorRing(child: Expression)
    extends StUnary[Geometry]("st_exteriorring", BinaryType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry): Any = g match {
    case p: Polygon => p.getExteriorRing
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): StExteriorRing = copy(child = c)
}

case class StNumInteriorRings(child: Expression)
    extends StUnary[Geometry]("st_numinteriorrings", IntegerType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry): Any = g match {
    case p: Polygon => p.getNumInteriorRing
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): StNumInteriorRings = copy(child = c)
}

case class StInteriorRingN(left: Expression, right: Expression)
    extends StBinary[Geometry, Int]("st_interiorringn", BinaryType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry, n: Int): Any = g match {
    case p: Polygon =>
      val i = n - 1
      if (i < 0 || i >= p.getNumInteriorRing) null else p.getInteriorRingN(i)
    case _ => null
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StInteriorRingN =
    copy(left = l, right = r)
}

/** st_hausdorffdistance(a, b) — discrete Hausdorff distance
  * (Sedona/PostGIS `ST_HausdorffDistance` default form: vertex-sampled,
  * JTS DiscreteHausdorffDistance): the max over either geometry's
  * vertices of the exact distance to the other geometry. The standard
  * similarity measure for trajectories/outlines; exact for polygons
  * whose true Hausdorff pairing happens at vertices (e.g. congruent
  * axis-aligned translates, the q_geom_toolbox device). */
case class StHausdorffDistance(left: Expression, right: Expression)
    extends StBinary[Geometry, Geometry]("st_hausdorffdistance", DoubleType) {
  protected def op(a: Geometry, b: Geometry): Any =
    org.locationtech.jts.algorithm.distance.DiscreteHausdorffDistance.distance(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StHausdorffDistance =
    copy(left = l, right = r)
}

/** st_frechetdistance(a, b) — discrete Fréchet distance (Sedona/PostGIS
  * `ST_FrechetDistance` vertex-sampled form; JTS DiscreteFrechetDistance):
  * the min over monotone vertex couplings of the max coupled-pair
  * distance. The order-aware trajectory similarity measure — unlike
  * Hausdorff it cannot "cheat" by pairing a late vertex of one path with
  * an early vertex of the other, so reversed or re-ordered paths score
  * far; the standard metric for route/trace matching. Exact closed form
  * for translate pairs: the endpoint pairs are forced into every
  * coupling (each at exactly the translation norm) and the identity
  * coupling achieves that max, so DF(A, A+t) = |t|. Null for an empty
  * input. */
case class StFrechetDistance(left: Expression, right: Expression)
    extends StBinary[Geometry, Geometry]("st_frechetdistance", DoubleType) {
  override def nullable: Boolean = true
  protected def op(a: Geometry, b: Geometry): Any =
    if (a.isEmpty || b.isEmpty) null
    else org.locationtech.jts.algorithm.distance.DiscreteFrechetDistance.distance(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StFrechetDistance =
    copy(left = l, right = r)
}

/** st_shortestline(a, b) — the 2-point LineString of closest approach
  * from `a` to `b` (PostGIS/Sedona `ST_ShortestLine`): start on `a`, end
  * on `b`, length = st_distance(a, b). The witness-producing form of the
  * distance predicate — st_closestpoint is its start point. Degenerate
  * (zero-length) when the inputs intersect; null for an empty input. */
case class StShortestLine(left: Expression, right: Expression)
    extends StBinary[Geometry, Geometry]("st_shortestline", BinaryType) {
  override def nullable: Boolean = true
  protected def op(a: Geometry, b: Geometry): Any =
    if (a.isEmpty || b.isEmpty) null
    else {
      val pts = org.locationtech.jts.operation.distance.DistanceOp.nearestPoints(a, b)
      Geom.factory.createLineString(Array(pts(0), pts(1)))
    }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StShortestLine =
    copy(left = l, right = r)
}

/** st_minimumrotatedrectangle(g) — the minimum-AREA enclosing rectangle
  * at any orientation (PostGIS `ST_OrientedEnvelope`, Sedona/GEOS
  * `ST_MinimumRotatedRectangle`; JTS MinimumAreaRectangle, rotating
  * calipers over the convex hull). The oriented counterpart of
  * st_envelope: for elongated diagonal shapes its area can be
  * arbitrarily smaller than the axis-aligned box, which is why oriented
  * footprints (roads, runways, vessels) are summarized with it.
  * Degenerates to the geometry's own point/segment for 0/1-D extents;
  * null for empty input. */
case class StMinimumRotatedRectangle(child: Expression)
    extends StUnary[Geometry]("st_minimumrotatedrectangle", BinaryType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry): Any =
    if (g.isEmpty) null
    else org.locationtech.jts.algorithm.MinimumAreaRectangle.getMinimumRectangle(g)
  override protected def withNewChildInternal(c: Expression): StMinimumRotatedRectangle =
    copy(child = c)
}

/** st_minimumdiameter(g) — the WIDTH of a geometry: the length of the
  * shortest line through it whose perpendicular extent covers it (JTS
  * MinimumDiameter; the minimum over directions of the projected
  * extent). For a rectangle this is exactly the short side — the
  * complement of st_minimumboundingradius's enclosing measure, used to
  * filter sliver polygons whose area is fine but whose width is
  * degenerate. Null for empty input. */
case class StMinimumDiameter(child: Expression)
    extends StUnary[Geometry]("st_minimumdiameter", DoubleType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry): Any =
    if (g.isEmpty) null
    else new org.locationtech.jts.algorithm.MinimumDiameter(g).getLength
  override protected def withNewChildInternal(c: Expression): StMinimumDiameter =
    copy(child = c)
}

/** st_angle(p1, p2, p3) — the UNORIENTED angle at vertex p2 between the
  * rays p2→p1 and p2→p3, in [0, π] (JTS Angle.angleBetween; the PostGIS
  * `ST_Angle` 3-point form up to orientation — PostGIS returns the
  * clockwise angle in [0, 2π), this returns the geometry of the corner
  * itself, which is what turn-detection and polygon-quality checks
  * consume). Null for empty or non-point input. */
case class StAngle(first: Expression, second: Expression, third: Expression)
    extends StTernary[Geometry, Geometry, Geometry]("st_angle", DoubleType) {
  override def nullable: Boolean = true
  protected def op(a: Geometry, b: Geometry, c: Geometry): Any = (a, b, c) match {
    case (p1: Point, p2: Point, p3: Point) if !p1.isEmpty && !p2.isEmpty && !p3.isEmpty =>
      org.locationtech.jts.algorithm.Angle.angleBetween(
        p1.getCoordinate, p2.getCoordinate, p3.getCoordinate)
    case _ => null
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): StAngle = copy(first = a, second = b, third = c)
}

/** st_geometricmedian(g) — the point minimizing the SUM of Euclidean
  * distances to the input's vertices (Sedona `ST_GeometricMedian`; the
  * robust "center" a facility-location / outlier-resistant summary
  * wants, vs the centroid's sum-of-SQUARES minimizer). Weiszfeld
  * iteration from the centroid with the Vardi–Zhang (2000) vertex
  * certificate run FIRST: a vertex p with multiplicity w_p is the exact
  * median iff the norm of the summed unit vectors toward the other
  * points is ≤ w_p — so collinear middles and strict-majority points
  * return EXACTLY (no iteration, no singular division), and the
  * iteration itself can never land on a vertex generically. Null for
  * empty input; a single point returns itself. */
case class StGeometricMedian(child: Expression)
    extends StUnary[Geometry]("st_geometricmedian", BinaryType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry): Any =
    if (g.isEmpty) null
    else {
      val cs = g.getCoordinates
      if (cs.length == 1) Geom.factory.createPoint(cs(0))
      else {
        // multiplicity-grouped distinct vertices for the VZ certificate,
        // sorted by (x, y) so a degenerate input where several vertices
        // certify (e.g. an even collinear count: both middles pass) picks
        // a documented, stable vertex instead of hash-map iteration order
        val grouped = cs.groupBy(c => (c.x, c.y)).view
          .map { case ((x, y), arr) => (x, y, arr.length.toDouble) }.toArray
          .sortBy { case (x, y, _) => (x, y) }
        val vertex = grouped.collectFirst {
          case (px, py, w) if {
            var sx = 0.0; var sy = 0.0
            grouped.foreach { case (qx, qy, wq) =>
              val (dx, dy) = (qx - px, qy - py)
              val d = math.sqrt(dx * dx + dy * dy)
              if (d > 0.0) { sx += wq * dx / d; sy += wq * dy / d }
            }
            math.sqrt(sx * sx + sy * sy) <= w
          } => (px, py)
        }
        val (mx, my) = vertex.getOrElse {
          var x = cs.map(_.x).sum / cs.length
          var y = cs.map(_.y).sum / cs.length
          val scale = math.max(1.0, math.max(math.abs(x), math.abs(y)))
          var it = 0
          var moved = true
          while (it < 64 && moved) {
            var nx = 0.0; var ny = 0.0; var sw = 0.0
            grouped.foreach { case (qx, qy, wq) =>
              val (dx, dy) = (qx - x, qy - y)
              val d = math.sqrt(dx * dx + dy * dy)
              if (d > 0.0) { nx += wq * qx / d; ny += wq * qy / d; sw += wq / d }
            }
            if (sw == 0.0) moved = false
            else {
              val (px, py) = (nx / sw, ny / sw)
              moved = math.abs(px - x) + math.abs(py - y) > 1e-12 * scale
              x = px; y = py
            }
            it += 1
          }
          (x, y)
        }
        Geom.factory.createPoint(new Coordinate(mx, my))
      }
    }
  override protected def withNewChildInternal(c: Expression): StGeometricMedian =
    copy(child = c)
}

/** st_minimumboundingradius(g) — struct<center: geometry, radius: double>
  * of the minimum enclosing circle (Sedona `ST_MinimumBoundingRadius`
  * shape; JTS MinimumBoundingCircle, exact Welzl-style support-point
  * search). The scale primitive behind radius-bounded pruning: an
  * object's every point lies within `radius` of `center`. */
case class StMinimumBoundingRadius(child: Expression)
    extends StUnary[Geometry]("st_minimumboundingradius", CircleType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry): Any =
    if (g.isEmpty) null
    else {
      val mbc = new org.locationtech.jts.algorithm.MinimumBoundingCircle(g)
      circle(mbc.getCentre, mbc.getRadius)
    }
  override protected def withNewChildInternal(c: Expression): StMinimumBoundingRadius =
    copy(child = c)
}

/** st_linemerge(g) — sew a MULTILINESTRING's touching segments into
  * maximal LINESTRINGs (Sedona/PostGIS `ST_LineMerge`; JTS LineMerger).
  * One merged line comes back as LINESTRING, several as
  * MULTILINESTRING; non-lineal input yields an empty collection
  * (PostGIS convention). */
case class StLineMerge(child: Expression) extends StUnary[Geometry]("st_linemerge", BinaryType) {
  protected def op(g: Geometry): Any = {
    val merger = new org.locationtech.jts.operation.linemerge.LineMerger
    merger.add(g)
    val merged = merger.getMergedLineStrings
    if (merged.isEmpty) Geom.factory.createGeometryCollection()
    else if (merged.size == 1) merged.iterator.next().asInstanceOf[Geometry]
    else Geom.factory.buildGeometry(merged)
  }
  override protected def withNewChildInternal(c: Expression): StLineMerge = copy(child = c)
}

/** st_polygonize(array<geometry>) — assemble polygons from fully-noded
  * linework (Sedona/PostGIS `ST_Polygonize`; JTS Polygonizer), returned
  * as a GEOMETRYCOLLECTION of the formed polygons (empty collection when
  * the edges close nothing — dangles and cut lines are dropped, the
  * PostGIS convention). Null elements are skipped. */
case class StPolygonize(child: Expression)
    extends StUnary[ArrayData]("st_polygonize", BinaryType) {
  protected def op(arr: ArrayData): Any = {
    val p = new org.locationtech.jts.operation.polygonize.Polygonizer
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) p.add(Geom.fromWkbCached(arr.getBinary(i)))
      i += 1
    }
    Geom.factory.buildGeometry(p.getPolygons)
  }
  override protected def withNewChildInternal(c: Expression): StPolygonize = copy(child = c)
}

/** st_reduceprecision(g, gridSize) — snap every ordinate to a multiple of
  * `gridSize`, keeping the result VALID (Sedona/PostGIS
  * `ST_ReducePrecision`; JTS GeometryPrecisionReducer.reduce, which
  * repairs collapses instead of emitting broken rings). The storage/
  * interop primitive behind "centimeter precision is enough" columns. */
case class StReducePrecision(left: Expression, right: Expression)
    extends StBinary[Geometry, Double]("st_reduceprecision", BinaryType) {
  protected def op(g: Geometry, grid: Double): Any =
    org.locationtech.jts.precision.GeometryPrecisionReducer.reduce(
      g, new org.locationtech.jts.geom.PrecisionModel(1.0 / grid))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StReducePrecision =
    copy(left = l, right = r)
}

/** st_simplifypreservetopology(g, tolerance) — Douglas-Peucker that never
  * collapses, self-intersects, or drops rings (Sedona/PostGIS semantics;
  * JTS TopologyPreservingSimplifier), the safe complement of the plain
  * [[StSimplify]]. */
case class StSimplifyPreserveTopology(left: Expression, right: Expression)
    extends StBinary[Geometry, Double]("st_simplifypreservetopology", BinaryType) {
  protected def op(g: Geometry, tol: Double): Any =
    org.locationtech.jts.simplify.TopologyPreservingSimplifier.simplify(g, tol)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StSimplifyPreserveTopology =
    copy(left = l, right = r)
}

/** st_normalize(g) — JTS canonical form (rings CW/CCW-normalized and
  * rotated to their minimal vertex, parts ordered): the equality/dedup
  * prep that makes structurally-different encodings of the same shape
  * byte-compare equal after [[StAsText]]/[[StAsWKB]]. */
case class StNormalize(child: Expression) extends StUnary[Geometry]("st_normalize", BinaryType) {
  protected def op(g: Geometry): Any = g.norm() // a normalized copy
  override protected def withNewChildInternal(c: Expression): StNormalize = copy(child = c)
}

/** st_multi(g) — promote a simple geometry to its Multi-type (PostGIS
  * `ST_Multi`); Multi/collection input passes through unchanged, as the
  * WKB bytes it came in. */
case class StMulti(child: Expression) extends StUnary[Array[Byte]]("st_multi", BinaryType) {
  protected def op(b: Array[Byte]): Any = Geom.fromWkbCached(b) match {
    case g: Point => Geom.factory.createMultiPoint(Array(g))
    case g: LineString => Geom.factory.createMultiLineString(Array(g))
    case g: Polygon => Geom.factory.createMultiPolygon(Array(g))
    case _ => b
  }
  override protected def withNewChildInternal(c: Expression): StMulti = copy(child = c)
}

/** st_geometryn(g, n) — 1-based part accessor (PostGIS/Sedona
  * `ST_GeometryN`): the random-access companion of [[StDump]]; a simple
  * geometry is its own part 1; out of range → null. */
case class StGeometryN(left: Expression, right: Expression)
    extends StBinary[Geometry, Int]("st_geometryn", BinaryType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry, n: Int): Any = {
    val i = n - 1
    if (i < 0 || i >= g.getNumGeometries) null else g.getGeometryN(i)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StGeometryN =
    copy(left = l, right = r)
}

/** st_hexcell(x, y, size) — hexagonal grid cell of a planar point
  * (pointy-top hexes of circumradius `size`, axial coordinates packed
  * `q<<32 | r&0xffffffff`): the H3-style spatial bucket key. Built as a
  * PLAIN CATALYST ARITHMETIC TREE (fractional axial transform + cube
  * rounding over +,−,×,÷,√,floor,abs,CASE — all correctly rounded IEEE
  * ops), so it resolves through the analyzer for SQL registration, stays
  * inside whole-stage codegen, and a SQL mirror reproduces it
  * bit-for-bit with no ROUND funnel. One builder serves the Column API
  * and both SQL registration paths. */
object HexCell {
  def apply(x: Expression, y: Expression, size: Expression): Expression = {
    def d(v: Double) = Literal(v)
    val qf = Divide(Subtract(Multiply(Divide(Sqrt(d(3.0)), d(3.0)), x),
      Divide(y, d(3.0))), size)
    val rf = Divide(Divide(Multiply(y, d(2.0)), d(3.0)), size)
    val sf = Subtract(UnaryMinus(qf), rf)       // cube: q + r + s = 0
    def rnd(c: Expression) = Floor(Add(c, d(0.5)))
    val (rq, rr, rs) = (rnd(qf), rnd(rf), rnd(sf))
    val (dq, dr, ds) =
      (Abs(Subtract(rq, qf)), Abs(Subtract(rr, rf)), Abs(Subtract(rs, sf)))
    val qBranch = And(GreaterThan(dq, dr), GreaterThan(dq, ds))
    // cube-round repair: re-derive the ordinate with the largest error
    val q = CaseWhen(Seq((qBranch, Subtract(UnaryMinus(rr), rs))), Some(rq))
    val r = CaseWhen(
      Seq((And(Not(qBranch), GreaterThan(dr, ds)), Subtract(UnaryMinus(q), rs))),
      Some(rr))
    BitwiseOr(
      ShiftLeft(Cast(q, LongType), Literal(32)),
      BitwiseAnd(Cast(r, LongType), Literal(0xffffffffL)))
  }
}

/** st_delaunaytriangles(g) — Delaunay triangulation of g's vertices as a
  * GEOMETRYCOLLECTION of POLYGON triangles (PostGIS
  * `ST_DelaunayTriangles` default mode; JTS DelaunayTriangulationBuilder).
  * The triangles partition the convex hull of the sites. */
case class StDelaunayTriangles(child: Expression)
    extends StUnary[Geometry]("st_delaunaytriangles", BinaryType) {
  protected def op(g: Geometry): Any = {
    val b = new org.locationtech.jts.triangulate.DelaunayTriangulationBuilder
    b.setSites(g)
    b.getTriangles(Geom.factory)
  }
  override protected def withNewChildInternal(c: Expression): StDelaunayTriangles =
    copy(child = c)
}

/** st_voronoipolygons(g, extent) — Voronoi cells of g's vertices, clipped
  * to `extent`'s envelope, as a GEOMETRYCOLLECTION of POLYGONs (PostGIS
  * `ST_VoronoiPolygons(g, 0, extend_to)`; JTS VoronoiDiagramBuilder).
  * With an explicit extent the cells partition it exactly — the property
  * the q_triangulate oracle checks by area. */
case class StVoronoiPolygons(left: Expression, right: Expression)
    extends StBinary[Geometry, Geometry]("st_voronoipolygons", BinaryType) {
  protected def op(g: Geometry, extent: Geometry): Any = {
    val b = new org.locationtech.jts.triangulate.VoronoiDiagramBuilder
    b.setSites(g)
    val env = extent.getEnvelopeInternal
    b.setClipEnvelope(env)
    // JTS clips cells to the DIAGRAM envelope (sites ∪ clip, expanded);
    // intersecting with the requested extent enforces the PostGIS
    // extend_to contract exactly
    val extentGeom = Geom.factory.toGeometry(env)
    val diag = b.getDiagram(Geom.factory)
    val cells = (0 until diag.getNumGeometries)
      .map(i => Geom.safeIntersection(diag.getGeometryN(i), extentGeom))
      .filterNot(_.isEmpty)
    Geom.factory.createGeometryCollection(cells.toArray)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StVoronoiPolygons =
    copy(left = l, right = r)
}

/** st_concavehull(g, lengthRatio) — concave hull by length ratio (JTS
  * ConcaveHull, the algorithm Sedona/PostGIS expose): ratio 1.0 is the
  * convex hull, smaller ratios hug the points tighter. */
case class StConcaveHull(left: Expression, right: Expression)
    extends StBinary[Geometry, Double]("st_concavehull", BinaryType) {
  protected def op(g: Geometry, ratio: Double): Any =
    org.locationtech.jts.algorithm.hull.ConcaveHull.concaveHullByLengthRatio(g, ratio)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StConcaveHull =
    copy(left = l, right = r)
}

/** st_snap(g, target, tolerance) — snap g's vertices to target's within
  * tolerance (PostGIS/Sedona `ST_Snap`; JTS GeometrySnapper), the
  * pre-overlay alignment primitive for almost-coincident boundaries. */
case class StSnap(first: Expression, second: Expression, third: Expression)
    extends StTernary[Geometry, Geometry, Double]("st_snap", BinaryType) {
  protected def op(g: Geometry, target: Geometry, tol: Double): Any =
    new org.locationtech.jts.operation.overlay.snap.GeometrySnapper(g).snapTo(target, tol)
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): StSnap =
    copy(first = a, second = b, third = c)
}

/** Affine family (PostGIS/Sedona `ST_Translate` / `ST_Scale` /
  * `ST_Rotate` semantics: scale and rotate are about the ORIGIN, compose
  * with translate for other anchors), via JTS
  * `AffineTransformation.transform`, which maps a copy. */
case class StTranslate(first: Expression, second: Expression, third: Expression)
    extends StTernary[Geometry, Double, Double]("st_translate", BinaryType) {
  protected def op(g: Geometry, dx: Double, dy: Double): Any =
    AffineTransformation.translationInstance(dx, dy).transform(g)
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): StTranslate =
    copy(first = a, second = b, third = c)
}

case class StScale(first: Expression, second: Expression, third: Expression)
    extends StTernary[Geometry, Double, Double]("st_scale", BinaryType) {
  protected def op(g: Geometry, fx: Double, fy: Double): Any =
    AffineTransformation.scaleInstance(fx, fy).transform(g)
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): StScale =
    copy(first = a, second = b, third = c)
}

/** Counter-clockwise rotation by θ radians about the origin:
  * x' = x·cosθ − y·sinθ, y' = x·sinθ + y·cosθ (the exact arithmetic the
  * q_affine oracle mirrors; θ = π/2 leaves ~1e-16-relative residue from
  * cos(π/2) ≈ 6.1e-17, absorbed by the query-layer ROUND funnel). */
case class StRotate(left: Expression, right: Expression)
    extends StBinary[Geometry, Double]("st_rotate", BinaryType) {
  protected def op(g: Geometry, theta: Double): Any =
    AffineTransformation.rotationInstance(theta).transform(g)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StRotate =
    copy(left = l, right = r)
}

/** st_lineinterpolatepoint(line, f) — the point at fraction `f` of the
  * line's length (Sedona/PostGIS `ST_LineInterpolatePoint`; linear
  * referencing via the JTS length-indexed line — the trajectory
  * resampling primitive). Null for non-LineString input or `f` outside
  * [0, 1]. */
case class StLineInterpolatePoint(left: Expression, right: Expression)
    extends StBinary[Geometry, Double]("st_lineinterpolatepoint", BinaryType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry, f: Double): Any = g match {
    case l: LineString if !l.isEmpty && f >= 0.0 && f <= 1.0 =>
      val ix = new org.locationtech.jts.linearref.LengthIndexedLine(l)
      Geom.factory.createPoint(ix.extractPoint(f * l.getLength))
    case _ => null
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StLineInterpolatePoint =
    copy(left = l, right = r)
}

/** st_linesubstring(line, f1, f2) — the sub-line between length fractions
  * `f1 <= f2` (Sedona/PostGIS `ST_LineSubstring`). Null for non-LineString
  * input or an invalid fraction pair. */
case class StLineSubstring(first: Expression, second: Expression, third: Expression)
    extends StTernary[Geometry, Double, Double]("st_linesubstring", BinaryType) {
  override def nullable: Boolean = true
  protected def op(g: Geometry, f1: Double, f2: Double): Any = g match {
    case l: LineString if !l.isEmpty && f1 >= 0.0 && f2 <= 1.0 && f1 <= f2 =>
      val ix = new org.locationtech.jts.linearref.LengthIndexedLine(l)
      ix.extractLine(f1 * l.getLength, f2 * l.getLength)
    case _ => null
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): StLineSubstring =
    copy(first = a, second = b, third = c)
}

/** st_collect(array<geometry>) — non-dissolving collect (PostGIS/Sedona
  * `ST_Collect`): homogeneous inputs become the matching Multi-type,
  * mixed inputs a GeometryCollection. Pair with `collect_list` for the
  * cheap aggregate alternative to [[StUnionAgg]] when boundaries need no
  * dissolving — it is pure concatenation, no overlay CPU, and keeps
  * part provenance. Null elements are skipped; an empty or all-null
  * array yields null. */
case class StCollect(child: Expression) extends StUnary[ArrayData]("st_collect", BinaryType) {
  override def nullable: Boolean = true
  protected def op(arr: ArrayData): Any = {
    val gs = Array.newBuilder[Geometry]
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) gs += Geom.fromWkbCached(arr.getBinary(i))
      i += 1
    }
    val parts = gs.result()
    if (parts.isEmpty) null
    else Geom.factory.buildGeometry(java.util.Arrays.asList(parts: _*)) match {
      // Sedona/PostGIS ST_Collect always yields a collection; JTS
      // buildGeometry returns the BARE geometry for a single-element
      // homogeneous input, so a singleton is promoted to its MULTI type
      // (a part that is itself a collection passes through unchanged)
      case p: Point => Geom.factory.createMultiPoint(Array(p))
      case l: LineString => Geom.factory.createMultiLineString(Array(l))
      case p: Polygon => Geom.factory.createMultiPolygon(Array(p))
      case other => other
    }
  }
  override protected def withNewChildInternal(c: Expression): StCollect = copy(child = c)
}
