package graft.geom

import graft.exprs.StIntersection
import org.apache.spark.sql.catalyst.expressions.Literal
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.operation.overlayng.{OverlayNG, OverlayNGRobust}
import org.locationtech.jts.operation.union.UnaryUnionOp
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** ScalaCheck properties over the geometry algebra (SURVEY.md §5.2):
  * codec round-trips, intersection/buffer area laws, validity repair, the
  * 3857↔5880 reprojection round-trip, and the envelope fast paths of the
  * union kernel and the rectangle clip against the plain JTS overlays.
  * Generators use integral-meter rectangles near the fixture grid (Brazil,
  * EPSG:3857) so the laws hold to tight FP tolerances. */
object GeomProps extends Properties("geom") {

  private val coord = Gen.choose(-7000000L, -5000000L)
  private val coordY = Gen.choose(-3000000L, -1000000L)
  private val side = Gen.choose(1L, 100000L)

  private case class Rect(x0: Long, y0: Long, w: Long, h: Long) {
    def wkt: String =
      s"POLYGON (($x0 $y0, ${x0 + w} $y0, ${x0 + w} ${y0 + h}, $x0 ${y0 + h}, $x0 $y0))"
    def geom: Geometry = Geom.fromWkt(wkt)
  }

  private val rects: Gen[Rect] = for {
    x0 <- coord; y0 <- coordY; w <- side; h <- side
  } yield Rect(x0, y0, w, h)

  property("WKT -> geometry -> WKT -> geometry is exact") = forAll(rects) { r =>
    val g = r.geom
    Geom.fromWkt(Geom.toWkt(g)).equalsExact(g)
  }

  property("WKB round-trip is exact") = forAll(rects) { r =>
    val g = r.geom
    Geom.fromWkb(Geom.toWkb(g)).equalsExact(g)
  }

  property("rect area is w*h exactly") = forAll(rects) { r =>
    r.geom.getArea == r.w.toDouble * r.h.toDouble
  }

  property("area(a intersect b) <= min(area a, area b)") = forAll(rects, rects) { (a, b) =>
    val ia = Geom.safeIntersection(a.geom, b.geom).getArea
    ia <= math.min(a.geom.getArea, b.geom.getArea) + 1e-6
  }

  property("buffer(d >= 0) never shrinks") = forAll(rects, Gen.choose(0L, 1000L)) { (r, d) =>
    r.geom.buffer(d.toDouble).getArea >= r.geom.getArea - 1e-6
  }

  property("makevalid is identity on valid geometry") = forAll(rects) { r =>
    val g = r.geom
    (Geom.makeValid(g) eq g) || Geom.makeValid(g).equalsExact(g)
  }

  property("union area between max(parts) and sum(parts)") = forAll(rects, rects) { (a, b) =>
    val u = a.geom.union(b.geom).getArea
    val (aa, ab) = (a.geom.getArea, b.geom.getArea)
    u >= math.max(aa, ab) - 1e-6 && u <= aa + ab + 1e-6
  }

  property("direct envelopeWkb is byte-identical to JTS-encoded polygon") =
    forAll(rects) { r =>
      val direct = Geom.envelopeWkb(r.x0.toDouble, r.y0.toDouble,
        (r.x0 + r.w).toDouble, (r.y0 + r.h).toDouble)
      java.util.Arrays.equals(direct, Geom.toWkb(r.geom))
    }

  property("3857 -> 5880 -> 3857 round-trips to < 1 m") = forAll(coord, coordY) { (x, y) =>
    val fwd = Crs.pointTransform("EPSG:3857", "EPSG:5880")
    val inv = Crs.pointTransform("EPSG:5880", "EPSG:3857")
    val (px, py) = fwd(x.toDouble, y.toDouble)
    val (bx, by) = inv(px, py)
    Prop(math.abs(bx - x) < 1.0 && math.abs(by - y) < 1.0) :|
      s"($x,$y) -> ($px,$py) -> ($bx,$by)"
  }

  // Scenes for the union and clip fast paths: small shapes on a small
  // integer grid, each one derived from a base box so that disjoint,
  // edge-touching, corner-touching, overlapping, nested and duplicated
  // parts all turn up, plus triangles and L-shapes; a bow-tie is invalid.
  private case class Box(x: Int, y: Int, w: Int, h: Int)

  private def poly(pts: (Int, Int)*): Geometry =
    Geom.fromWkt((pts :+ pts.head).map { case (x, y) => s"$x $y" }.mkString("POLYGON ((", ", ", "))"))
  private def rect(b: Box): Geometry = poly((b.x, b.y), (b.x + b.w, b.y), (b.x + b.w, b.y + b.h), (b.x, b.y + b.h))
  private def triangle(b: Box): Geometry = poly((b.x, b.y), (b.x + b.w, b.y), (b.x, b.y + b.h))
  private def lShape(b: Box): Geometry = poly((b.x, b.y), (b.x + 2 * b.w, b.y), (b.x + 2 * b.w, b.y + b.h),
    (b.x + b.w, b.y + b.h), (b.x + b.w, b.y + 2 * b.h), (b.x, b.y + 2 * b.h))
  private def bowtie(b: Box): Geometry = poly((b.x, b.y), (b.x + b.w, b.y + b.h), (b.x + b.w, b.y), (b.x, b.y + b.h))

  private val box: Gen[Box] = for {
    x <- Gen.choose(0, 24); y <- Gen.choose(0, 24); w <- Gen.choose(1, 6); h <- Gen.choose(1, 6)
  } yield Box(x, y, w, h)

  /** One base box and the valid parts derived from it. */
  private def derived(b: Box): Gen[Seq[Geometry]] = Gen.oneOf(
    Gen.const(Seq(rect(b))),
    Gen.const(Seq(rect(b), rect(b.copy(x = b.x + 100)))),                   // disjoint
    Gen.choose(1, 6).map(w => Seq(rect(b), rect(Box(b.x + b.w, b.y, w, b.h)))),       // edge touch
    Gen.choose(1, 6).map(w => Seq(rect(b), rect(Box(b.x + b.w, b.y + b.h, w, w)))),   // corner touch
    Gen.choose(1, 3).map(d => Seq(rect(b), rect(Box(b.x + d, b.y + d, b.w + 2, b.h)))), // overlap
    Gen.const(Seq(rect(b.copy(w = b.w + 2, h = b.h + 2)), rect(Box(b.x + 1, b.y + 1, b.w, b.h)))), // nested
    Gen.const(Seq(rect(b), rect(b))),                                        // exact duplicate
    Gen.const(Seq(triangle(b))),
    Gen.const(Seq(lShape(b))))

  private val validScene: Gen[Seq[Geometry]] = for {
    n <- Gen.choose(1, 8)
    boxes <- Gen.listOfN(n, box)
    parts <- Gen.sequence[List[Seq[Geometry]], Seq[Geometry]](boxes.map(derived))
  } yield parts.flatten

  private def unaryUnion(gs: Seq[Geometry]): Geometry = UnaryUnionOp.union(gs.asJava)

  /** Same point set, area and validity as `UnaryUnionOp`. Point sets are
    * compared by the area of their symmetric difference, not by
    * `equalsTopo`: where a triangle's hypotenuse passes through another
    * part's corner, `unionAll` can return a shell and a hole touching it
    * at that vertex, while `UnaryUnionOp` returns one ring whose edge,
    * between rounded ordinates, passes about 1e-15 beside the vertex. Both
    * are valid, and the sliver between them makes `equalsTopo` false. */
  private def sameUnion(gs: Seq[Geometry]): Prop = {
    val fast = Geom.unionAll(gs.asJava)
    val ref = unaryUnion(gs)
    val scale = math.max(ref.getArea, 1.0)
    val apart = OverlayNGRobust.overlay(fast, ref, OverlayNG.SYMDIFFERENCE).getArea / scale
    val relErr = math.abs(fast.getArea - ref.getArea) / scale
    (Prop(apart <= 1e-9) :| s"point sets differ by ${apart * scale}: $fast vs $ref") &&
      (Prop(relErr <= 1e-9) :| s"area ${fast.getArea} vs ${ref.getArea}") &&
      (Prop(!gs.forall(_.isValid) || fast.isValid) :| s"invalid union of valid parts: $fast")
  }

  property("unionAll equals UnaryUnionOp on disjoint/touching/overlapping/nested/duplicate parts") =
    forAll(validScene)(sameUnion)

  // a scene that falsified the property above while it compared with
  // equalsTopo: the triangle's hypotenuse passes through the first
  // rectangle's corner (15,18), where unionAll's hole touches its shell
  property("unionAll equals UnaryUnionOp where a hole touches the shell at a vertex") =
    sameUnion(Seq(rect(Box(15, 18, 4, 6)), rect(Box(12, 20, 6, 7)), rect(Box(13, 21, 4, 5)),
      rect(Box(24, 14, 5, 2)), triangle(Box(13, 15, 4, 6))))

  property("unionAll equals UnaryUnionOp on multipolygon inputs") =
    forAll(validScene, validScene) { (a, b) =>
      sameUnion(Seq(unaryUnion(a), unaryUnion(b)))
    }

  property("unionAll with an invalid bow-tie part is UnaryUnionOp's union exactly") =
    forAll(validScene, box) { (parts, b) =>
      val gs = parts :+ bowtie(b.copy(w = b.w + 1, h = b.h + 1))
      (Try(Geom.toWkb(Geom.unionAll(gs.asJava))), Try(Geom.toWkb(unaryUnion(gs)))) match {
        case (Success(fast), Success(ref)) => java.util.Arrays.equals(fast, ref)
        case (Failure(x), Failure(y)) => x.getClass == y.getClass
        case _ => false
      }
    }

  /** st_intersection's own evaluation on WKB literals. */
  private def clip(a: Geometry, b: Geometry): Array[Byte] =
    StIntersection(Literal(Geom.toWkb(a)), Literal(Geom.toWkb(b))).eval().asInstanceOf[Array[Byte]]

  /** Topological equality that also holds for two empties and for equal
    * collections (JTS `equalsTopo` is false on empties and rejects
    * geometry collections). */
  private def topoEqual(a: Geometry, b: Geometry): Boolean =
    if (a.isEmpty || b.isEmpty) a.isEmpty && b.isEmpty
    else a.norm().equalsExact(b.norm()) || a.equalsTopo(b)

  private def sameClip(g: Geometry, r: Geometry): Prop = {
    val ref = Geom.safeIntersection(g, r)
    val forward = Geom.fromWkb(clip(g, r))
    val backward = Geom.fromWkb(clip(r, g))
    (Prop(topoEqual(forward, ref)) :| s"clip($g, $r) = $forward, not $ref") &&
      (Prop(topoEqual(backward, ref)) :| s"clip($r, $g) = $backward, not $ref")
  }

  private val sceneUnion: Gen[Geometry] = validScene.map(gs => Geom.unionAll(gs.asJava))

  property("rectangle clip: a rectangle covering the other side returns that side") =
    forAll(sceneUnion, Gen.choose(0, 3), Gen.choose(0, 3)) { (g, lo, hi) =>
      val e = g.getEnvelopeInternal
      val r = rect(Box(e.getMinX.toInt - lo, e.getMinY.toInt - lo,
        e.getWidth.toInt + lo + hi, e.getHeight.toInt + lo + hi))
      (Prop(Geom.rectangleCovers(r, g)) :| "fast path not taken") &&
        (Prop(java.util.Arrays.equals(clip(g, r), Geom.toWkb(g))) :| "input bytes not returned") &&
        sameClip(g, r)
    }

  property("rectangle clip: partly covering and only touching rectangles match safeIntersection") =
    forAll(sceneUnion, box) { (g, b) =>
      val e = g.getEnvelopeInternal
      // shares the envelope's right edge: touches g wherever g reaches its max x
      val touching = rect(Box(e.getMaxX.toInt, e.getMinY.toInt, b.w, e.getHeight.toInt))
      sameClip(g, rect(b)) && sameClip(g, touching)
    }
}
