package graft.geom

import org.locationtech.jts.geom.Geometry

/** Pluggable CRS registry + map-projection math.
  *
  * The environment ships no GeoTools, so the reference's
  * `ST_Transform(geom, 'EPSG:3857', 'EPSG:5880')`
  * (reference: spark_job/process_geodata.py:124,134-136) is implemented
  * directly from Snyder, *Map Projections — A Working Manual* (USGS
  * Professional Paper 1395):
  *   - EPSG:3857 (WGS84 / Pseudo-Mercator): spherical Mercator,
  *     eqs. 7-1/7-2 forward and 7-4/7-5 inverse, R = 6378137.
  *   - EPSG:5880 (SIRGAS 2000 / Brazil Polyconic): ellipsoidal American
  *     Polyconic on GRS80, eqs. 18-12…18-15 forward with the meridional
  *     arc series eq. 3-21; Newton inverse on the forward map.
  *   - EPSG:326xx/327xx (WGS84 / UTM N,S) and EPSG:31965-31985
  *     (SIRGAS 2000 / UTM): ellipsoidal Transverse Mercator,
  *     eqs. 8-9…8-13, resolved BY PATTERN — the whole 120-zone UTM family
  *     comes from one parameterized projection, constructed on first use.
  *   - EPSG:5070 (NAD83 / Conus Albers): ellipsoidal Albers Equal-Area
  *     Conic, ch. 14 — the equal-area workhorse for area statistics.
  *   - EPSG:2154 (RGF93 / Lambert-93): ellipsoidal Lambert Conformal
  *     Conic 2SP, ch. 15.
  *   - EPSG:3035 (ETRS89 / LAEA Europe): ellipsoidal Lambert Azimuthal
  *     Equal-Area, ch. 24. All three families are parameterized, so any
  *     other Albers/LCC/LAEA CRS plugs in via [[Crs.register]].
  * SIRGAS 2000 is realized identically to WGS84 at this precision, so the
  * lon/lat hub needs no datum shift (EPSG:4674 is the same identity hub
  * as EPSG:4326).
  *
  * Additional CRSs plug in at runtime via [[Crs.register]]; every
  * `st_transform` call resolves codes dynamically, so a registration is
  * visible to already-built plans.
  *
  * All projections convert through geographic lon/lat degrees (EPSG:4326).
  */
object Crs {

  trait Projection {
    /** projected (x, y) -> geographic (lonDeg, latDeg) */
    def inverse(x: Double, y: Double): (Double, Double)
    /** geographic (lonDeg, latDeg) -> projected (x, y) */
    def forward(lonDeg: Double, latDeg: Double): (Double, Double)
  }

  private val DegToRad = math.Pi / 180.0
  private val RadToDeg = 180.0 / math.Pi

  /** EPSG:4326 — identity hub (coordinates are lon/lat degrees). */
  object LonLat extends Projection {
    def inverse(x: Double, y: Double): (Double, Double) = (x, y)
    def forward(lon: Double, lat: Double): (Double, Double) = (lon, lat)
  }

  /** EPSG:3857 — spherical Web Mercator, R = WGS84 semi-major axis. */
  object WebMercator extends Projection {
    private val R = 6378137.0
    def inverse(x: Double, y: Double): (Double, Double) = {
      val lon = x / R * RadToDeg
      val lat = (math.Pi / 2.0 - 2.0 * math.atan(math.exp(-y / R))) * RadToDeg
      (lon, lat)
    }
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val x = R * lonDeg * DegToRad
      val y = R * math.log(math.tan(math.Pi / 4.0 + latDeg * DegToRad / 2.0))
      (x, y)
    }
  }

  /** Meridional arc length from the equator (Snyder eq. 3-21) — shared by
    * every ellipsoidal projection here. Validated absolutely against the
    * published GRS80 quarter meridian in CrsSpec. */
  final class MeridionalArc(a: Double, e2: Double) {
    private val e4 = e2 * e2
    private val e6 = e4 * e2
    // series coefficients exposed (read-only) so oracle SQL builders can
    // embed the exact double values as literals
    val c0 = 1.0 - e2 / 4.0 - 3.0 * e4 / 64.0 - 5.0 * e6 / 256.0
    val c2 = 3.0 * e2 / 8.0 + 3.0 * e4 / 32.0 + 45.0 * e6 / 1024.0
    val c4 = 15.0 * e4 / 256.0 + 45.0 * e6 / 1024.0
    val c6 = 35.0 * e6 / 3072.0
    def apply(phi: Double): Double =
      a * (c0 * phi - c2 * math.sin(2 * phi) + c4 * math.sin(4 * phi) - c6 * math.sin(6 * phi))
  }

  /** Ellipsoidal American Polyconic (Snyder ch. 18). */
  final class Polyconic(a: Double, e2: Double, lat0Deg: Double, lon0Deg: Double,
                        fe: Double, fn: Double) extends Projection with NewtonInverse {
    private val lon0 = lon0Deg * DegToRad
    private val meridArc = new MeridionalArc(a, e2)
    private val m0 = meridArc(lat0Deg * DegToRad)

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = latDeg * DegToRad
      val lam = lonDeg * DegToRad
      if (math.abs(phi) < 1e-12) {
        (fe + a * (lam - lon0), fn - m0)
      } else {
        val sinPhi = math.sin(phi)
        val n = a / math.sqrt(1.0 - e2 * sinPhi * sinPhi)
        val cot = 1.0 / math.tan(phi)
        val l = (lam - lon0) * sinPhi // Snyder eq. 18-2 ("E")
        val x = n * cot * math.sin(l)
        val y = meridArc(phi) - m0 + n * cot * (1.0 - math.cos(l))
        (fe + x, fn + y)
      }
    }

    // initial guess: equirectangular approximation around (lat0, lon0)
    protected def inverseGuess(xIn: Double, yIn: Double): (Double, Double) = {
      val lat = (yIn - fn + m0) / a * RadToDeg
      val lon = lon0Deg + (xIn - fe) / a * RadToDeg / math.max(0.2, math.cos(lat * DegToRad))
      (lon, lat)
    }
  }

  /** Inverse by damped 2-D Newton on the (tested) forward map with a
    * finite-difference Jacobian. Closed-form inverse series are
    * projection-specific and sign-sensitive (e.g. Snyder eqs. 18-18…18-21
    * have a sin(2φ) singularity near the equator); inverting the forward
    * numerically is robust everywhere the forward is defined and
    * converges in a handful of iterations (the inverse is a cold path —
    * the flagship pipeline only ever runs forward). Throws on
    * non-convergence rather than returning silently-wrong coordinates. */
  trait NewtonInverse { self: Projection =>
    /** Rough (lon, lat) starting point for the Newton iteration. */
    protected def inverseGuess(x: Double, y: Double): (Double, Double)

    def inverse(xIn: Double, yIn: Double): (Double, Double) = {
      var (lon, lat) = inverseGuess(xIn, yIn)
      val h = 1e-7 // degrees; ~1 cm — safe for forward differences in double
      var i = 0
      while (i < 60) {
        val (fx, fy) = forward(lon, lat)
        val rx = fx - xIn
        val ry = fy - yIn
        if (math.abs(rx) < 1e-6 && math.abs(ry) < 1e-6) return (lon, lat)
        val (fxLon, fyLon) = forward(lon + h, lat)
        val (fxLat, fyLat) = forward(lon, lat + h)
        val j11 = (fxLon - fx) / h; val j12 = (fxLat - fx) / h
        val j21 = (fyLon - fy) / h; val j22 = (fyLat - fy) / h
        val det = j11 * j22 - j12 * j21
        // near-singular test relative to the Jacobian's own scale (m/deg):
        // an exact ==0.0 check would let a numerically-degenerate matrix
        // produce a huge step and mask the failure as non-convergence
        val scale = math.max(math.max(math.abs(j11), math.abs(j12)),
          math.max(math.abs(j21), math.abs(j22)))
        if (det == 0.0 || math.abs(det) < 1e-12 * scale * scale)
          throw new IllegalStateException(
            s"projection inverse: near-singular Jacobian at ($xIn, $yIn)")
        var dLon = (rx * j22 - ry * j12) / det
        var dLat = (ry * j11 - rx * j21) / det
        // damp steps so iterates stay in the projection's domain
        val maxStep = 5.0
        val norm = math.max(math.abs(dLon), math.abs(dLat))
        if (norm > maxStep) { dLon *= maxStep / norm; dLat *= maxStep / norm }
        lon -= dLon
        lat -= dLat
        if (lat > 89.9) lat = 89.9
        if (lat < -89.9) lat = -89.9
        i += 1
      }
      throw new IllegalStateException(
        s"projection inverse did not converge for ($xIn, $yIn)")
    }
  }

  /** Ellipsoidal Transverse Mercator (Snyder ch. 8, eqs. 8-9…8-13) — the
    * projection behind every UTM zone. Forward is the standard 6th-order
    * series in A = Δλ·cosφ (sub-mm inside a zone's ±3°); inverse reuses
    * the Newton machinery. Validated in CrsSpec against values computed
    * independently with the Krüger third-flattening series. */
  final class TransverseMercator(a: Double, e2: Double, lon0Deg: Double,
                                 k0: Double, fe: Double, fn: Double)
      extends Projection with NewtonInverse {
    private val lon0 = lon0Deg * DegToRad
    private val ep2 = e2 / (1.0 - e2) // e'^2, Snyder eq. 8-12
    private val meridArc = new MeridionalArc(a, e2)

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = latDeg * DegToRad
      val sinPhi = math.sin(phi)
      val cosPhi = math.cos(phi)
      val n = a / math.sqrt(1.0 - e2 * sinPhi * sinPhi)
      val t = (sinPhi / cosPhi) * (sinPhi / cosPhi) // tan^2
      val c = ep2 * cosPhi * cosPhi
      val bigA = (lonDeg * DegToRad - lon0) * cosPhi
      val a2 = bigA * bigA
      val x = k0 * n * (bigA + (1.0 - t + c) * a2 * bigA / 6.0 +
        (5.0 - 18.0 * t + t * t + 72.0 * c - 58.0 * ep2) * a2 * a2 * bigA / 120.0)
      val y = k0 * (meridArc(phi) + n * (sinPhi / cosPhi) * (a2 / 2.0 +
        (5.0 - t + 9.0 * c + 4.0 * c * c) * a2 * a2 / 24.0 +
        (61.0 - 58.0 * t + t * t + 600.0 * c - 330.0 * ep2) * a2 * a2 * a2 / 720.0))
      (fe + x, fn + y)
    }

    // initial guess: rectifying-sphere latitude, equirectangular longitude
    protected def inverseGuess(xIn: Double, yIn: Double): (Double, Double) = {
      val lat = (yIn - fn) / (k0 * a) * RadToDeg
      val clampedLat = math.max(-85.0, math.min(85.0, lat))
      val lon = lon0Deg + (xIn - fe) / (k0 * a) * RadToDeg /
        math.max(0.2, math.cos(clampedLat * DegToRad))
      (lon, clampedLat)
    }
  }

  /** Authalic q (Snyder eq. 3-12) — the equal-area latitude kernel shared
    * by every equal-area projection. q(90°) = q_p gives the authalic
    * radius R_q = a·√(q_p/2); the ellipsoidal area of a lon/lat quad is
    * a²·Δλ·(q(φ₂)−q(φ₁))/2 (the closed form CrsSpec audits against). */
  def authalicQ(e2: Double, phi: Double): Double = {
    val s = math.sin(phi)
    if (e2 < 1e-15) 2.0 * s
    else {
      val e = math.sqrt(e2)
      (1.0 - e2) * (s / (1.0 - e2 * s * s) -
        (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s)))
    }
  }

  /** Ellipsoidal Albers Equal-Area Conic (Snyder ch. 14,
    * eqs. 14-3/14-4/14-12…14-15 forward). The planar map preserves
    * ellipsoidal area exactly — the property CrsSpec pins against the
    * closed-form quad area; the e→0 limit reproduces the independent
    * spherical closed form (n = (sinφ₁+sinφ₂)/2) bit-for-bit. */
  final class AlbersEqualArea(a: Double, e2: Double, lat0Deg: Double,
                              sp1Deg: Double, sp2Deg: Double, lon0Deg: Double,
                              fe: Double, fn: Double)
      extends Projection with NewtonInverse {
    private def m(phi: Double): Double = {
      val s = math.sin(phi)
      math.cos(phi) / math.sqrt(1.0 - e2 * s * s)
    }
    private val phi1 = sp1Deg * DegToRad
    private val phi2 = sp2Deg * DegToRad
    private val n =
      if (math.abs(phi1 - phi2) < 1e-12) math.sin(phi1) // one-parallel cone
      else {
        val m1 = m(phi1); val m2 = m(phi2)
        (m1 * m1 - m2 * m2) / (authalicQ(e2, phi2) - authalicQ(e2, phi1))
      }
    private val bigC = { val m1 = m(phi1); m1 * m1 + n * authalicQ(e2, phi1) }
    private def rho(phi: Double): Double =
      a * math.sqrt(math.max(0.0, bigC - n * authalicQ(e2, phi))) / n
    private val rho0 = rho(lat0Deg * DegToRad)

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val theta = n * (lonDeg - lon0Deg) * DegToRad
      val r = rho(latDeg * DegToRad)
      (fe + r * math.sin(theta), fn + rho0 - r * math.cos(theta))
    }
    protected def inverseGuess(xIn: Double, yIn: Double): (Double, Double) =
      (lon0Deg + (xIn - fe) / (a * math.max(0.2, math.cos(lat0Deg * DegToRad))) * RadToDeg,
       math.max(-89.0, math.min(89.0, lat0Deg + (yIn - fn) / a * RadToDeg)))
  }

  /** Ellipsoidal Lambert Conformal Conic, 2SP (Snyder ch. 15,
    * eqs. 15-1…15-10 forward). Conformal with true scale on both standard
    * parallels — the two properties CrsSpec audits by finite differences;
    * the e→0 limit reproduces the independent spherical closed form. */
  final class LambertConformalConic(a: Double, e2: Double, lat0Deg: Double,
                                    sp1Deg: Double, sp2Deg: Double, lon0Deg: Double,
                                    fe: Double, fn: Double)
      extends Projection with NewtonInverse {
    private val e = math.sqrt(e2)
    private def m(phi: Double): Double = {
      val s = math.sin(phi)
      math.cos(phi) / math.sqrt(1.0 - e2 * s * s)
    }
    /** Snyder eq. 15-9: t = tan(π/4 − φ/2) / ((1−e·sinφ)/(1+e·sinφ))^(e/2). */
    private def t(phi: Double): Double = {
      val s = math.sin(phi)
      val esCorr = if (e < 1e-15) 1.0
        else math.pow((1.0 - e * s) / (1.0 + e * s), e / 2.0)
      math.tan(math.Pi / 4.0 - phi / 2.0) / esCorr
    }
    private val phi1 = sp1Deg * DegToRad
    private val phi2 = sp2Deg * DegToRad
    private val n =
      if (math.abs(phi1 - phi2) < 1e-12) math.sin(phi1) // tangent cone
      else math.log(m(phi1) / m(phi2)) / math.log(t(phi1) / t(phi2))
    private val bigF = m(phi1) / (n * math.pow(t(phi1), n))
    private def rho(phi: Double): Double = a * bigF * math.pow(t(phi), n)
    private val rho0 = rho(lat0Deg * DegToRad)

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val theta = n * (lonDeg - lon0Deg) * DegToRad
      val r = rho(latDeg * DegToRad)
      (fe + r * math.sin(theta), fn + rho0 - r * math.cos(theta))
    }
    protected def inverseGuess(xIn: Double, yIn: Double): (Double, Double) =
      (lon0Deg + (xIn - fe) / (a * math.max(0.2, math.cos(lat0Deg * DegToRad))) * RadToDeg,
       math.max(-89.0, math.min(89.0, lat0Deg + (yIn - fn) / a * RadToDeg)))
  }

  /** Ellipsoidal Lambert Azimuthal Equal-Area, oblique aspect (Snyder
    * ch. 24, eqs. 24-2/3-11/3-12/24-17…24-19 forward): the projection
    * behind EPSG:3035 (ETRS89 / LAEA Europe), the EU's statistical
    * standard grid. Equal-area like Albers — same authalic-q kernel, so
    * the same CrsSpec area audit applies — but azimuthal, so it has no
    * standard parallels; scale is true at the projection center only. */
  final class LambertAzimuthalEqualArea(a: Double, e2: Double, lat0Deg: Double,
                                        lon0Deg: Double, fe: Double, fn: Double)
      extends Projection with NewtonInverse {
    private val qp = authalicQ(e2, math.Pi / 2.0)
    private val rq = a * math.sqrt(qp / 2.0)
    private val phi0 = lat0Deg * DegToRad
    private val beta0 = math.asin(math.min(1.0, math.max(-1.0, authalicQ(e2, phi0) / qp)))
    private val sinB0 = math.sin(beta0)
    private val cosB0 = math.cos(beta0)
    // D (eq. 24-20): stretches the azimuthal map so area stays true on
    // the ellipsoid; m(φ0) = cosφ0/√(1−e²sin²φ0).
    private val d = {
      val s = math.sin(phi0)
      val m0 = math.cos(phi0) / math.sqrt(1.0 - e2 * s * s)
      a * m0 / (rq * cosB0)
    }

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val beta = math.asin(math.min(1.0, math.max(-1.0,
        authalicQ(e2, latDeg * DegToRad) / qp)))
      val dLam = (lonDeg - lon0Deg) * DegToRad
      val sinB = math.sin(beta)
      val cosB = math.cos(beta)
      // B (eq. 24-19); the radicand vanishes only at the antipode
      val b = rq * math.sqrt(2.0 / (1.0 + sinB0 * sinB + cosB0 * cosB * math.cos(dLam)))
      val x = b * d * cosB * math.sin(dLam)
      val y = (b / d) * (cosB0 * sinB - sinB0 * cosB * math.cos(dLam))
      (fe + x, fn + y)
    }
    protected def inverseGuess(xIn: Double, yIn: Double): (Double, Double) =
      (lon0Deg + (xIn - fe) / (a * math.max(0.2, math.cos(phi0))) * RadToDeg,
       math.max(-89.0, math.min(89.0, lat0Deg + (yIn - fn) / a * RadToDeg)))
  }

  // GRS80 ellipsoid (EPSG:7019): a = 6378137, 1/f = 298.257222101
  private val Grs80A = 6378137.0
  private val Grs80F = 1.0 / 298.257222101
  private val Grs80E2 = Grs80F * (2.0 - Grs80F)
  // WGS84 ellipsoid (EPSG:7030): a = 6378137, 1/f = 298.257223563
  private val Wgs84A = 6378137.0
  private val Wgs84F = 1.0 / 298.257223563
  private val Wgs84E2 = Wgs84F * (2.0 - Wgs84F)

  /** EPSG:5880 — SIRGAS 2000 / Brazil Polyconic
    * (lat0=0, lon0=-54, FE=5 000 000 m, FN=10 000 000 m). */
  val BrazilPolyconic = new Polyconic(Grs80A, Grs80E2, 0.0, -54.0, 5000000.0, 10000000.0)

  /** The exact double constants of the 3857→5880 point chain, exposed so
    * an oracle SQL builder can embed THESE values as decimal literals
    * (Double.toString round-trips, so the SQL engine parses the identical
    * bits) instead of re-deriving them in SQL arithmetic. */
  private[graft] object Brazil5880Consts {
    val A: Double = Grs80A // also the 3857 sphere radius
    val E2: Double = Grs80E2
    private val m = new MeridionalArc(Grs80A, Grs80E2)
    val C0: Double = m.c0
    val C2: Double = m.c2
    val C4: Double = m.c4
    val C6: Double = m.c6
    val Lon0Rad: Double = -54.0 * DegToRad
    val Fe: Double = 5000000.0
    val Fn: Double = 10000000.0
    val Rad2Deg: Double = RadToDeg
    val Deg2Rad: Double = DegToRad
  }

  /** EPSG:5070 — NAD83 / Conus Albers (GRS80; lat0=23, sp 29.5/45.5,
    * lon0=-96, FE=FN=0). NAD83 is treated as the same lon/lat hub as
    * WGS84 — the realizations differ by up to ~2 m, beyond this
    * registry's stated precision for cross-datum work (same stance as
    * SIRGAS 2000 above); the projection math itself is exact. */
  val ConusAlbers = new AlbersEqualArea(Grs80A, Grs80E2, 23.0, 29.5, 45.5, -96.0, 0.0, 0.0)

  /** EPSG:2154 — RGF93 / Lambert-93 (GRS80; lat0=46.5, sp 44/49, lon0=3,
    * FE=700 000, FN=6 600 000). RGF93 is a WGS84-equivalent realization. */
  val Lambert93 = new LambertConformalConic(Grs80A, Grs80E2, 46.5, 44.0, 49.0, 3.0,
    700000.0, 6600000.0)

  /** EPSG:3035 — ETRS89 / LAEA Europe (GRS80; lat0=52, lon0=10,
    * FE=4 321 000, FN=3 210 000) — the EU statistical grid. ETRS89 is a
    * WGS84-equivalent realization at this registry's precision. */
  val LaeaEurope = new LambertAzimuthalEqualArea(Grs80A, Grs80E2, 52.0, 10.0,
    4321000.0, 3210000.0)

  /** Best-UTM resolver (the PostGIS/Sedona `_ST_BestSRID` device
    * restricted to the UTM bands): the WGS84 UTM zone containing
    * (lon, lat), south variant below the equator. Longitude is wrapped
    * into [-180, 180) first. Used by `st_buffer_spheroid` to pick the
    * local meter plane; callers working above |lat| 84° (outside UTM's
    * design band) get the nearest zone — adequate for buffer radii ≪
    * the zone width, documented as this registry's polar stance. */
  def bestUtm(lonDeg: Double, latDeg: Double): Projection = {
    val lon = ((lonDeg + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    val zone = math.min(60, math.max(1, (math.floor((lon + 180.0) / 6.0) + 1).toInt))
    utm(zone, south = latDeg < 0.0, Wgs84A, Wgs84E2)
  }

  /** UTM zone: lon0 = 6°·zone − 183, k0 = 0.9996, FE = 500 km,
    * FN = 0 (north) / 10 000 km (south). */
  def utm(zone: Int, south: Boolean, a: Double, e2: Double): TransverseMercator = {
    require(zone >= 1 && zone <= 60, s"UTM zone $zone out of range")
    new TransverseMercator(a, e2, 6.0 * zone - 183.0, 0.9996,
      500000.0, if (south) 10000000.0 else 0.0)
  }

  private val projections = new java.util.concurrent.ConcurrentHashMap[String, Projection]()
  projections.put("EPSG:4326", LonLat)
  projections.put("EPSG:4674", LonLat) // SIRGAS 2000 geographic — same hub
  projections.put("EPSG:3857", WebMercator)
  projections.put("EPSG:5880", BrazilPolyconic)
  projections.put("EPSG:5070", ConusAlbers)
  projections.put("EPSG:2154", Lambert93)
  projections.put("EPSG:3035", LaeaEurope)

  /** Plug in a CRS at runtime. `st_transform` resolves codes per call, so
    * a registration is visible to already-built plans (executors resolve
    * against their own JVM's registry — register from a static initializer
    * or broadcast-side code when running on a real cluster). */
  def register(code: String, p: Projection): Unit = projections.put(code, p)

  /** Registered + pattern-resolvable codes. The whole UTM family resolves
    * by EPSG-code arithmetic on first use (then caches):
    * 326zz/327zz = WGS84 UTM zone zz N/S; 31965-31976 = SIRGAS 2000 UTM
    * 11N-22N; 31977-31985 = SIRGAS 2000 UTM 17S-25S. */
  def lookup(code: String): Option[Projection] = {
    val hit = projections.get(code)
    if (hit != null) return Some(hit)
    val resolved: Option[Projection] = code match {
      case s if s.startsWith("EPSG:326") && s.length == 10 =>
        s.drop(8).toIntOption.filter(z => z >= 1 && z <= 60)
          .map(utm(_, south = false, Wgs84A, Wgs84E2))
      case s if s.startsWith("EPSG:327") && s.length == 10 =>
        s.drop(8).toIntOption.filter(z => z >= 1 && z <= 60)
          .map(utm(_, south = true, Wgs84A, Wgs84E2))
      case s if s.startsWith("EPSG:319") && s.length == 10 =>
        s.drop(5).toIntOption.collect {
          case c if c >= 31965 && c <= 31976 => utm(c - 31954, south = false, Grs80A, Grs80E2)
          case c if c >= 31977 && c <= 31985 => utm(c - 31960, south = true, Grs80A, Grs80E2)
        }
      case _ => None
    }
    resolved.foreach(p => projections.putIfAbsent(code, p))
    resolved
  }

  /** Snapshot view kept for compatibility with existing callers/tests. */
  def registry: Map[String, Projection] = {
    import scala.jdk.CollectionConverters._
    projections.asScala.toMap
  }

  /** Pointwise coordinate transform src -> dst via the lon/lat hub.
    * src == dst is the exact identity (no hub round-trip FP noise) — the
    * case CollapseStTransforms produces when fusing a→b→a chains. */
  def pointTransform(src: String, dst: String): (Double, Double) => (Double, Double) = {
    val s = lookup(src).getOrElse(throw new IllegalArgumentException(s"unknown CRS $src"))
    val d = lookup(dst).getOrElse(throw new IllegalArgumentException(s"unknown CRS $dst"))
    if (src == dst) (x, y) => (x, y)
    else (x, y) => {
      val (lon, lat) = s.inverse(x, y)
      d.forward(lon, lat)
    }
  }

  /** Vertex-wise geometry reprojection (returns a new geometry). */
  def transformGeometry(g: Geometry, src: String, dst: String): Geometry =
    Geom.mapVertices(g)(pointTransform(src, dst))
}
