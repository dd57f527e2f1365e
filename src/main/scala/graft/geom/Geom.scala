package graft.geom

import org.locationtech.jts.geom._
import org.locationtech.jts.geom.util.GeometryFixer
import org.locationtech.jts.index.strtree.STRtree
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader, WKTWriter}
import org.locationtech.jts.operation.union.UnaryUnionOp

/** JTS geometry codecs and validity helpers.
  *
  * Storage/shuffle representation is WKB bytes in a Spark `BinaryType`
  * column (see SURVEY.md §7.3); JTS `Geometry` is the in-operator object
  * model. WKT (`StringType`) appears only at the edges, mirroring the
  * reference's WKT transport (reference: spark_job/process_geodata.py:102-103,
  * 167,173 — `ST_AsText` server-side, `ST_GeomFromWKT` in-flight).
  *
  * JTS readers/writers are not thread-safe → one instance per thread.
  */
object Geom {
  val factory = new GeometryFactory(new PrecisionModel(), 0)

  private val wktReader = ThreadLocal.withInitial[WKTReader](() => new WKTReader(factory))
  private val wktWriter = ThreadLocal.withInitial[WKTWriter](() => new WKTWriter())
  private val wkbReader = ThreadLocal.withInitial[WKBReader](() => new WKBReader(factory))
  private val wkbWriter = ThreadLocal.withInitial[WKBWriter](() => new WKBWriter())

  def fromWkt(s: String): Geometry = wktReader.get.read(s)
  def toWkt(g: Geometry): String = wktWriter.get.write(g)
  def fromWkb(b: Array[Byte]): Geometry = wkbReader.get.read(b)
  def toWkb(g: Geometry): Array[Byte] = wkbWriter.get.write(g)

  /** Per-thread direct-mapped WKB→Geometry decode memo.
    *
    * Spatial joins evaluate their predicates once per CANDIDATE PAIR, and
    * one side of every such pair is a dimension-sized relation whose few
    * distinct geometries recur millions of times (25 regions × 5.3M kNN
    * pairs at sf0.1) — re-parsing ~1 µs of WKB per evaluation was the
    * dominant per-pair cost next to the distance math itself. A content-
    * keyed cache hit costs one byte-array hash + equals (~80 ns for the
    * 93-byte envelope WKB); a miss adds the same on top of the parse.
    *
    * Safety: entries are shared within a thread across rows, so callers
    * must treat parsed geometries as immutable. The expression layer
    * rewrites coordinates only through [[mapVertices]], which copies
    * first, and JTS's own copying `AffineTransformation.transform` and
    * `Geometry.norm`; the JTS read-only predicates/overlay ops never
    * mutate inputs, and the lazily-computed internal envelope is confined
    * to this thread. This is transient
    * per-task JVM state keyed on bytes in flight, never a cross-run
    * result cache. */
  private final class DecodeCache(cap: Int) {
    private val keys = new Array[Array[Byte]](cap)
    private val vals = new Array[Geometry](cap)
    def get(b: Array[Byte]): Geometry = {
      // size bound: the memo targets small recurring geometries (the 93 B
      // probe envelopes, dimension polygons); a one-off multi-KB geometry
      // would otherwise be pinned in the thread-local until evicted —
      // retention is capped at cap × (MaxCachedWkb + decoded form) per
      // long-lived executor thread by construction
      if (b.length > DecodeCache.MaxCachedWkb) return wkbReader.get.read(b)
      val i = (java.util.Arrays.hashCode(b) & 0x7fffffff) % cap
      val k = keys(i)
      if (k != null && java.util.Arrays.equals(k, b)) vals(i)
      else {
        val g = wkbReader.get.read(b)
        // defensive copy: callers that reuse/mutate their byte buffer must
        // not be able to poison the bytes→geometry mapping (Catalyst's
        // getBinary copies today, but that is caller behavior this cache
        // shouldn't rest on); the copy only costs on misses
        keys(i) = b.clone()
        vals(i) = g
        g
      }
    }
  }
  private object DecodeCache {
    val MaxCachedWkb = 2048
  }
  // 1024 slots: the r17 64-slot cache caught only the dimension side
  // (~25 distinct geometries); pair stages also re-parse the PROBE side
  // once per candidate pair, and probe envelopes recur ~2k distinct per
  // task (r17 profile) — 1024 direct-mapped slots catch most of that at
  // a bounded worst-case footprint (1024 × ≤2 KiB WKB + decoded form)
  private val decodeCache =
    ThreadLocal.withInitial[DecodeCache](() => new DecodeCache(1024))

  /** [[fromWkb]] through the per-thread decode memo — for read-only
    * consumers (the Catalyst expression layer); see [[DecodeCache]]. */
  def fromWkbCached(b: Array[Byte]): Geometry = decodeCache.get().get(b)

  /** A copy of `g` with every vertex (x, y) replaced by `f(x, y)`. The one
    * place that rewrites a geometry's coordinates: it copies first, so a
    * geometry the decode cache shares is never changed. */
  def mapVertices(g: Geometry)(f: (Double, Double) => (Double, Double)): Geometry = {
    val out = g.copy()
    // apply() calls geometryChanged() itself, since the filter reports a change
    out.apply(new CoordinateSequenceFilter {
      override def filter(seq: CoordinateSequence, i: Int): Unit = {
        val (x, y) = f(seq.getX(i), seq.getY(i))
        seq.setOrdinate(i, 0, x)
        seq.setOrdinate(i, 1, y)
      }
      override def isDone: Boolean = false
      override def isGeometryChanged: Boolean = true
    })
    out
  }

  /** WKB of the axis-aligned rectangle [x0,x1]×[y0,y1], written directly
    * (big-endian, the same layout JTS WKBWriter emits — byte-identical to
    * encoding the equivalent JTS polygon). The envelope is the probe-side
    * geometry of every spatial join, built once per fact row: direct byte
    * writing skips five Coordinate allocations + polygon construction and
    * is a static call codegen can emit inline. */
  def envelopeWkb(x0: Double, y0: Double, x1: Double, y1: Double): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(93) // 1 + 4 + 4 + 4 + 5*16, big-endian
    buf.put(0.toByte)      // XDR byte order
    buf.putInt(3)          // wkbPolygon
    buf.putInt(1)          // one ring
    buf.putInt(5)          // five points, closed
    buf.putDouble(x0).putDouble(y0)
    buf.putDouble(x1).putDouble(y0)
    buf.putDouble(x1).putDouble(y1)
    buf.putDouble(x0).putDouble(y1)
    buf.putDouble(x0).putDouble(y0)
    buf.array()
  }

  /** Repair invalid geometry; identity on valid input.
    * Mirrors Sedona `ST_MakeValid` as exercised by the reference
    * (process_geodata.py:102,103,113,126). */
  def makeValid(g: Geometry): Geometry =
    if (g.isValid) g else GeometryFixer.fix(g)

  /** Defensive intersection: on TopologyException, repair both sides and
    * retry, then fall back to zero-buffer normalization — reproducing the
    * reference's defensive nesting (process_geodata.py:125-133). */
  def safeIntersection(a: Geometry, b: Geometry): Geometry =
    safeOverlay(a, b)(_.intersection(_))

  /** Defensive overlay ladder shared by difference/symDifference — the
    * same TopologyException nesting as [[safeIntersection]]. */
  private def safeOverlay(a: Geometry, b: Geometry)
                         (op: (Geometry, Geometry) => Geometry): Geometry =
    try op(a, b)
    catch {
      case _: TopologyException =>
        try op(makeValid(a), makeValid(b))
        catch {
          case _: TopologyException => op(a.buffer(0), b.buffer(0))
        }
    }

  /** True when `rect` is a rectangle whose envelope covers the envelope of
    * `g`, and `g` is polygonal, non-empty and valid. Then `g` lies inside
    * `rect`, so `g ∩ rect` is `g` itself. */
  def rectangleCovers(rect: Geometry, g: Geometry): Boolean = rect match {
    case r: Polygon if r.isRectangle =>
      g.isInstanceOf[Polygonal] && !g.isEmpty &&
        r.getEnvelopeInternal.covers(g.getEnvelopeInternal) && g.isValid
    case _ => false
  }

  /** Defensive A \ B. */
  def safeDifference(a: Geometry, b: Geometry): Geometry =
    safeOverlay(a, b)(_.difference(_))

  /** Defensive (A \ B) ∪ (B \ A). */
  def safeSymDifference(a: Geometry, b: Geometry): Geometry =
    safeOverlay(a, b)(_.symDifference(_))

  /** Union of many geometries, exact for any input.
    *
    * Polygonal input takes an envelope fast path (filter with cheap
    * bounds, overlay only the survivors):
    *  - the inputs are exploded into polygons, and empties and exact
    *    duplicates are dropped (union is idempotent);
    *  - the parts are split into the connected components of their
    *    envelope-intersection graph (an STRtree query per part).
    *    `Envelope.intersects` is closed, so parts that touch, even at a
    *    corner, share a component;
    *  - a one-part component is already its own union and goes straight
    *    into the output; every other component is unioned by
    *    `UnaryUnionOp` (cascaded union).
    * Parts of different components lie in disjoint closed envelopes, so
    * the output polygons never touch: it is a valid `Polygon` or
    * `MultiPolygon`, topologically equal to `UnaryUnionOp`'s. The parts
    * are ordered by envelope first, so the output's polygons follow their
    * envelopes, not the order the inputs came in. Input with a
    * non-polygonal element or an invalid part, or nothing but empties,
    * takes `UnaryUnionOp` whole, as before. */
  def unionAll(gs: java.util.Collection[Geometry]): Geometry =
    if (gs.isEmpty) factory.createGeometryCollection()
    else {
      val parts = validDistinctPolygons(gs)
      if (parts == null || parts.isEmpty) UnaryUnionOp.union(gs)
      else unionComponents(parts)
    }

  /** The distinct non-empty polygons of `gs` ordered by envelope, or null
    * when an element is not polygonal or a part is invalid. JTS
    * `Geometry.equals` is `equalsExact` and `hashCode` hashes the
    * envelope, so the set drops exact duplicates only. */
  private def validDistinctPolygons(gs: java.util.Collection[Geometry]): Array[Polygon] = {
    val seen = new java.util.HashSet[Geometry]()
    val it = gs.iterator()
    while (it.hasNext) it.next() match {
      case p: Polygon => if (!p.isEmpty) seen.add(p)
      case mp: MultiPolygon =>
        var i = 0
        while (i < mp.getNumGeometries) {
          val p = mp.getGeometryN(i)
          if (!p.isEmpty) seen.add(p)
          i += 1
        }
      case _ => return null
    }
    val parts = seen.toArray(new Array[Polygon](0))
    var i = 0
    while (i < parts.length) { if (!parts(i).isValid) return null; i += 1 }
    java.util.Arrays.sort(parts, (a: Polygon, b: Polygon) =>
      a.getEnvelopeInternal.compareTo(b.getEnvelopeInternal))
    parts
  }

  /** Union of valid, distinct polygons: one `UnaryUnionOp` per connected
    * component of the envelope-intersection graph, none for a lone part. */
  private def unionComponents(parts: Array[Polygon]): Geometry = {
    val n = parts.length
    val root = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (root(r) != r) { root(r) = root(root(r)); r = root(r) }
      r
    }
    val tree = new STRtree()
    var i = 0
    while (i < n) { tree.insert(parts(i).getEnvelopeInternal, Int.box(i)); i += 1 }
    i = 0
    while (i < n) {
      val a = i
      tree.query(parts(a).getEnvelopeInternal, (item: AnyRef) => {
        val ra = find(a)
        val rb = find(item.asInstanceOf[Integer].intValue)
        if (ra != rb) root(rb) = ra
      })
      i += 1
    }
    val members = new java.util.LinkedHashMap[Int, java.util.ArrayList[Geometry]]()
    i = 0
    while (i < n) {
      members.computeIfAbsent(find(i), _ => new java.util.ArrayList[Geometry]()).add(parts(i))
      i += 1
    }
    val out = new java.util.ArrayList[Polygon](n)
    members.values.forEach { component =>
      if (component.size == 1) out.add(component.get(0).asInstanceOf[Polygon])
      else {
        // polygonal: the union of valid polygons
        val u = UnaryUnionOp.union(component)
        var k = 0
        while (k < u.getNumGeometries) { out.add(u.getGeometryN(k).asInstanceOf[Polygon]); k += 1 }
      }
    }
    if (out.size == 1) out.get(0) else factory.createMultiPolygon(out.toArray(new Array[Polygon](0)))
  }
}
