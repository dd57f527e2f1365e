package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Density-based spatial clustering — grid-partitioned DBSCAN (Ester,
  * Kriegel, Sander &amp; Xu 1996), the clustering operator the reference's
  * spatial stack (Sedona) does not ship natively and users reach for
  * first when "group nearby geometries" turns into a requirement.
  *
  * Distributed shape (the MR-DBSCAN family): points hash into ε-sized
  * grid cells; the ε-neighbor relation joins each point's 3×3 cell
  * neighborhood on the CELL KEY (a shuffled hash equi join — never
  * all-pairs); core status is one grouped count; core-core components run
  * on [[TextQueries.connectedComponents]] (per-partition contraction →
  * single-task or iterative min-label tail); border points attach to the
  * MIN cluster rep among their core neighbors (the deterministic
  * resolution of DBSCAN's documented border ambiguity). Output is the
  * cluster-SIZE histogram + noise row — bounded at any input size, so a
  * 100 TB run emits KBs, not a row per cluster.
  */
object SpatialCluster {
  import Tables._

  /** Fixture points: the sparsified 1 km parcel grid (pos % 7 &lt; 3 keeps
    * ~43% of sites — below the 2-D site-percolation threshold, so the
    * ε=pitch graph fragments into many finite clusters instead of one
    * giant component). Same region/pos arithmetic as the kNN and dwithin
    * fixtures; coordinates are exact integer meters. */
  private def fixturePoints(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select((col("l_partkey") % 25).cast("int").as("r"),
        (((col("l_orderkey") * 7 + col("l_linenumber")) % 2500)).cast("int").as("pos"))
      .filter(col("pos") % 7 < 3)
      .distinct()
      .select((col("r").cast("long") * 2500L + col("pos")).as("pid"),
        (GeoFixtures.regionX0(col("r")) + (col("pos") % 50).cast("long") * 1000L)
          .cast("double").as("x"),
        (GeoFixtures.regionY0(col("r")) + expr("CAST(pos DIV 50 AS BIGINT)") * 1000L)
          .cast("double").as("y"))

  /** DBSCAN over (pid, x, y) with the grid-partitioned neighbor join.
    * Returns the cluster-size histogram: (csize, n_clusters) rows ordered
    * by csize, plus the (-1, n_noise) row counting noise points. */
  def dbscan(spark: SparkSession, dir: String, eps: Double = 1000.0,
             minPts: Int = 3): DataFrame = {
    val pts = fixturePoints(spark, dir).localCheckpoint(eager = true)
    // exact ε-neighbors (both directions), never all-pairs
    val nbr = ripleyPairs(pts, eps).select(col("a_pid"), col("b_pid"))
      .localCheckpoint(eager = true)
    val deg = nbr.groupBy(col("a_pid")).agg(count(lit(1)).as("nn"))
    // |N_eps(p)| includes p itself
    val flags = pts.join(deg, pts("pid") === deg("a_pid"), "left")
      .select(col("pid"), (coalesce(col("nn"), lit(0L)) + 1L >= minPts).as("core"))
      .localCheckpoint(eager = true)
    val cores = flags.filter(col("core")).select(col("pid"))
    val coreEdges = nbr
      .join(cores.withColumnRenamed("pid", "a_pid"), "a_pid")
      .join(cores.withColumnRenamed("pid", "b_pid"), "b_pid")
      .filter(col("a_pid") < col("b_pid"))
      .select(col("a_pid"), col("b_pid"))
      .distinct()
    val cc = TextQueries.connectedComponents(spark, coreEdges)
    // isolated cores (>= minPts-1 non-core neighbors, no core neighbor)
    // form their own singleton cluster
    val coreLabels = cores
      .join(cc, cores("pid") === cc("id"), "left")
      .select(col("pid"), coalesce(col("rep"), col("pid")).as("rep"))
      .localCheckpoint(eager = true)
    // border: non-core with >= 1 core neighbor, attached to the MIN rep
    // among its core neighbors (deterministic border resolution)
    val borderLabels = flags.filter(!col("core"))
      .join(nbr, flags("pid") === nbr("a_pid"))
      .join(coreLabels.select(col("pid").as("b_pid"), col("rep")), "b_pid")
      .groupBy(flags("pid")).agg(min(col("rep")).as("rep"))
    val sizes = coreLabels.groupBy(col("rep")).agg(count(lit(1)).as("n_core"))
      .join(borderLabels.groupBy(col("rep")).agg(count(lit(1)).as("n_border")),
        Seq("rep"), "left")
      .select(col("rep"),
        (col("n_core") + coalesce(col("n_border"), lit(0L))).as("csize"))
    val hist = sizes.groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))
    val nNoise = pts.count() -
      coreLabels.count() - borderLabels.count()
    hist.unionAll(spark.range(1).select(lit(-1L).as("csize"),
        lit(nNoise).as("n_clusters")))
      .orderBy(col("csize"))
  }

  /** The 5×5 region lattice the autocorrelation statistics read: its
    * one data-sized pass, the region rollup `(r, v)` with v = Σ lineitem
    * quantity (exact integers), and the global scalars over it. */
  private final class Lattice(val v: DataFrame) {
    import org.apache.spark.sql.graftbridge.Bridge.scalarSubquery
    /** n, the region count, and S = Σv. */
    val n: Column = scalarSubquery(v.agg(count(lit(1))))
    val s: Column = scalarSubquery(v.agg(coalesce(sum(col("v")), lit(0L))))
    /** Σ z'² with the integer-centered z' = n·v − S, in DECIMAL(38,0). */
    def zsq: Column = scalarSubquery(v
      .withColumn("n0", n).withColumn("s0", s)
      .agg(coalesce(sum(expr(
        "(CAST(n0 AS DECIMAL(38,0)) * v - s0) * (CAST(n0 AS DECIMAL(38,0)) * v - s0)")),
        expr("CAST(0 AS DECIMAL(38,0))"))))
    /** Directed rook-contiguity pairs `(r, vi, rn, vj)`: a 4-offset
      * explode and an equi join on the region relation. */
    def rookPairs: DataFrame = {
      val offsets = typedlit(Seq((-1, 0), (1, 0), (0, -1), (0, 1)))
      v.select(col("r"), col("v").as("vi"), explode(offsets).as("o"))
        .withColumn("rx", col("r") % 5 + col("o._1"))
        .withColumn("ry", expr("CAST(r DIV 5 AS INT)") + col("o._2"))
        .filter(col("rx").between(0, 4) && col("ry").between(0, 4))
        .select(col("r"), col("vi"), (col("ry") * 5 + col("rx")).as("rn"))
        .join(v.select(col("r").as("rn"), col("v").as("vj")), "rn")
    }
  }

  private def lattice(spark: SparkSession, dir: String): Lattice =
    new Lattice(lineitem(spark, dir)
      .select((col("l_partkey") % 25).cast("int").as("r"),
        col("l_quantity").cast("long").as("q"))
      .groupBy(col("r")).agg(sum(col("q")).as("v"))
      .localCheckpoint(eager = true))

  /** Global spatial autocorrelation over the 5×5 region lattice —
    * Moran's I (1950) and Geary's C (1954) with rook contiguity, the
    * standard "is the spatial pattern clustered, random, or dispersed"
    * statistics (GeoDa/PySAL's headline pair; Sedona has no native
    * equivalent). Region value = Σ lineitem quantity (exact integers).
    *
    * Exactness device: with z'_i = n·v_i − S the mean-centering becomes
    * integer (the n² scale cancels inside both ratios), every sum runs
    * in DECIMAL(38,0) lanes (the chiSquare device — z'² overflows BIGINT
    * past ~3e9 total quantity), and the statistics are emitted as
    * sign + |num|·10⁶ DIV den — truncation toward zero on positive
    * operands, identical in both engines; no float ever appears.
    *
    * Scale shape: ONE rollup of the fact table to |regions| rows (the
    * only data-sized pass, map-side partials), then a 4-offset neighbor
    * explode + equi join and single-row aggregates over the tiny region
    * relation. At 100 TB the lattice grows, not the per-cell cost. */
  def moransI(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge.scalarSubquery
    val lat = lattice(spark, dir)
    val (nS, sS) = (lat.n, lat.s)
    val pairs = lat.rookPairs
    val wS = scalarSubquery(pairs.agg(count(lit(1))))
    // Σw z'_i z'_j and Σw (v_i−v_j)² over the directed pair relation
    val czz = scalarSubquery(pairs
      .select(col("vi"), col("vj")).withColumn("n0", nS).withColumn("s0", sS)
      .agg(coalesce(sum(expr(
        "(CAST(n0 AS DECIMAL(38,0)) * vi - s0) * (CAST(n0 AS DECIMAL(38,0)) * vj - s0)")),
        expr("CAST(0 AS DECIMAL(38,0))"))))
    val cdd = scalarSubquery(pairs
      .select(col("vi"), col("vj"))
      .agg(coalesce(sum(expr(
        "(CAST(vi AS DECIMAL(38,0)) - vj) * (CAST(vi AS DECIMAL(38,0)) - vj)")),
        expr("CAST(0 AS DECIMAL(38,0))"))))
    val czsq = lat.zsq
    spark.range(1)
      .select(nS.as("n"), wS.as("w_sum"), czz.as("czz"), cdd.as("cdd"),
        czsq.as("czsq"))
      .select(col("n"), col("w_sum"),
        expr("CASE WHEN czz > 0 THEN 1 WHEN czz < 0 THEN -1 ELSE 0 END")
          .cast("int").as("moran_sign"),
        expr("""CASE WHEN w_sum = 0 OR czsq = 0 THEN CAST(0 AS BIGINT)
               |ELSE CAST((1000000 * n * abs(czz)) DIV (w_sum * czsq) AS BIGINT)
               |END""".stripMargin).as("moran_abs_micro"),
        expr("""CASE WHEN w_sum = 0 OR czsq = 0 THEN CAST(0 AS BIGINT)
               |ELSE CAST((1000000 * (n - 1) * n * n * cdd)
               |          DIV (2 * w_sum * czsq) AS BIGINT)
               |END""".stripMargin).as("geary_micro"))
  }

  /** LISA — Anselin's (1995) LOCAL Moran's I per lattice cell, the
    * hot-spot / cold-spot cluster map that the global [[moransI]]
    * summarizes: I_i = n · z'_i · Σ_j w_ij z'_j / Σ z'² with the same
    * integer mean-centering device, emitted as the classic quadrant
    * label (HH high surrounded by high, LL, HL outlier, LH outlier)
    * plus sign and |I_i|·10⁶ DIV. One fact rollup, one 4-offset
    * neighbor join, one broadcast-back of the two global scalars —
    * per-cell output, all integer. */
  def lisa(spark: SparkSession, dir: String): DataFrame = {
    val lat = lattice(spark, dir)
    val lag = lat.rookPairs
      .groupBy(col("r")).agg(sum(col("vj")).as("lag_v"), count(lit(1)).as("deg"))
    lat.v.join(lag, Seq("r"), "left")
      .withColumn("n0", lat.n).withColumn("s0", lat.s).withColumn("zsq", lat.zsq)
      // z'_i and the neighbor-lag z'-sum (Σ_j w_ij z'_j = n·Σv_j − deg·S)
      .withColumn("zi", expr("CAST(n0 AS DECIMAL(38,0)) * v - s0"))
      .withColumn("zl", expr(
        "CAST(n0 AS DECIMAL(38,0)) * coalesce(lag_v, 0) - coalesce(deg, 0) * CAST(s0 AS DECIMAL(38,0))"))
      .withColumn("quad", expr(
        """CASE WHEN zi > 0 AND zl > 0 THEN 'HH'
          |     WHEN zi < 0 AND zl < 0 THEN 'LL'
          |     WHEN zi > 0 AND zl < 0 THEN 'HL'
          |     WHEN zi < 0 AND zl > 0 THEN 'LH'
          |     ELSE 'ZERO' END""".stripMargin))
      .withColumn("lisa_sign", expr(
        "CAST(CASE WHEN zi * zl > 0 THEN 1 WHEN zi * zl < 0 THEN -1 ELSE 0 END AS INT)"))
      .withColumn("lisa_abs_micro", expr(
        """CASE WHEN zsq = 0 THEN CAST(0 AS BIGINT)
          |ELSE CAST((1000000 * n0 * abs(zi * zl)) DIV zsq AS BIGINT) END""".stripMargin))
      .select(col("r"), col("v"), coalesce(col("lag_v"), lit(0L)).as("lag_v"),
        col("quad"), col("lisa_sign"), col("lisa_abs_micro"))
      .orderBy(col("r"))
  }

  /** Getis–Ord Gi* hot-spot statistic (Getis &amp; Ord 1992, Ord &amp; Getis
    * 1995) per lattice cell — the third member of the standard local
    * spatial-statistics trio next to [[moransI]] (global) and [[lisa]]
    * (local Moran): where LISA flags clusters AND outliers by quadrant,
    * Gi* answers "is the local SUM high or low" — ArcGIS's Hot Spot
    * Analysis tool. Star variant: the neighborhood includes the cell
    * itself (rook ring + self, binary weights).
    *
    * Exactness device: with U_i = Σ_{j∈N_i∪{i}} v_j and W_i = |N_i|+1,
    * the z-score squares to the all-integer rational
    *   z_i² = (n·U_i − W_i·S)²·(n−1) / ((n·Q − S²)·(n·W_i − W_i²)),
    * (S = Σv, Q = Σv²) so the emitted columns are the numerator sign and
    * z²·10⁶ DIV denominator — DECIMAL(38,0) lanes per the chiSquare
    * ceiling (documented: v per cell must stay under ~1e13 for the
    * squared numerator ×10⁶ to fit precision 38; the fixture is 8 orders
    * below). The hot/cold label derives from the same integer (z² micro
    * against 1.96² = 3841600), so both engines classify identically —
    * no float, no rounding boundary.
    *
    * Scale shape: identical to [[lisa]] — ONE data-sized rollup to
    * |regions| rows, a 4-offset neighbor explode + equi join on the tiny
    * region relation, two broadcast-back global scalars. */
  def getisOrd(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge.scalarSubquery
    val lat = lattice(spark, dir)
    val ring = lat.rookPairs
      .groupBy(col("r")).agg(sum(col("vj")).as("ring_v"), count(lit(1)).as("deg"))
    val qS = scalarSubquery(lat.v.agg(coalesce(
      sum(expr("CAST(v AS DECIMAL(38,0)) * v")), expr("CAST(0 AS DECIMAL(38,0))"))))
    lat.v.join(ring, Seq("r"), "left")
      .withColumn("n0", lat.n).withColumn("s0", lat.s).withColumn("q0", qS)
      // U_i = self + rook ring; W_i = deg + 1 (the * of Gi*)
      .withColumn("u", expr("v + coalesce(ring_v, 0)"))
      .withColumn("w", expr("CAST(coalesce(deg, 0) + 1 AS INT)"))
      .withColumn("num", expr("CAST(n0 AS DECIMAL(38,0)) * u - CAST(w AS DECIMAL(38,0)) * s0"))
      .withColumn("den", expr(
        "(CAST(n0 AS DECIMAL(38,0)) * q0 - CAST(s0 AS DECIMAL(38,0)) * s0)" +
          " * (CAST(n0 AS DECIMAL(38,0)) * w - CAST(w AS DECIMAL(38,0)) * w)"))
      .withColumn("gi_sign", expr(
        "CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END AS INT)"))
      .withColumn("gi_sq_micro", expr(
        """CASE WHEN den = 0 THEN CAST(0 AS BIGINT)
          |ELSE CAST((1000000 * num * num * (n0 - 1)) DIV den AS BIGINT)
          |END""".stripMargin))
      .withColumn("label", expr(
        """CASE WHEN gi_sign > 0 AND gi_sq_micro > 3841600 THEN 'HOT'
          |     WHEN gi_sign < 0 AND gi_sq_micro > 3841600 THEN 'COLD'
          |     ELSE 'NS' END""".stripMargin))
      .select(col("r"), col("v"), col("u").cast("long").as("u"), col("w"),
        col("gi_sign"), col("gi_sq_micro"), col("label"))
      .orderBy(col("r"))
  }

  /** Ordered point pairs within `r` of each other from a (pid, x, y)
    * relation: `(d2, a_pid, b_pid)`, one row per ordered pair with its
    * squared distance. Points hash into r-sized grid cells and each
    * point's 3×3 cell neighborhood joins on the CELL KEY (a hash equi
    * join, never all-pairs). The exact-neighbor kernel of [[dbscan]] (at
    * ε) and [[ripleyK]] (at the largest radius); equivalence with the
    * brute-force all-pairs relation is property-tested in
    * `SpatialStatsEquivalenceSpec`. */
  private[ops] def ripleyPairs(pts: DataFrame, r: Double): DataFrame = {
    val withCell = pts
      .withColumn("cx", floor(col("x") / r).cast("long"))
      .withColumn("cy", floor(col("y") / r).cast("long"))
    val offsets = typedlit(for (dx <- -1 to 1; dy <- -1 to 1) yield (dx, dy))
    val probe = withCell
      .select(col("pid").as("a_pid"), col("x").as("ax"), col("y").as("ay"),
        col("cx"), col("cy"), explode(offsets).as("o"))
      .select(col("a_pid"), col("ax"), col("ay"),
        (col("cx") + col("o._1")).as("jcx"), (col("cy") + col("o._2")).as("jcy"))
    val build = withCell.select(col("pid").as("b_pid"), col("x").as("bx"),
      col("y").as("by"), col("cx").as("jcx"), col("cy").as("jcy"))
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    probe.join(build, Seq("jcx", "jcy"))
      .filter(col("a_pid") =!= col("b_pid") && d2 <= r * r)
      .select(d2.as("d2"), col("a_pid"), col("b_pid"))
  }

  /** Ripley's K point-pattern analysis (Ripley 1976) — the multi-scale
    * complement of [[dbscan]]'s single-ε clustering: for a ladder of
    * radii, the count of ordered point pairs within distance r,
    * normalized by n(n−1). Clustered patterns exceed, dispersed patterns
    * undershoot the CSR expectation; reading the curve ACROSS radii is
    * what distinguishes clustering scale from mere density (the
    * spatstat/PySAL K-function).
    *
    * Distributed shape: ONE neighbor join at the LARGEST radius — points
    * hash into r_max-sized grid cells, candidates come from the 3×3 cell
    * neighborhood on the CELL KEY (hash equi join, never all-pairs) —
    * and every smaller radius is a conditional aggregate over the same
    * pair relation (d² ≤ r², exact integers on the fixture). pairs_ppm
    * = 10⁶·pairs DIV n(n−1) keeps the normalization integer.
    *
    * Scale shape: the join fan-out is bounded by points-per-r_max-cell
    * (the caller's pitch contract, as in dbscan); 3 output rows. */
  def ripleyK(spark: SparkSession, dir: String,
              radii: Seq[Double] = Seq(1000.0, 2000.0, 3000.0)): DataFrame = {
    val rMax = radii.max
    val pts = fixturePoints(spark, dir).localCheckpoint(eager = true)
    val pairs = ripleyPairs(pts, rMax)
    import org.apache.spark.sql.graftbridge.Bridge.scalarSubquery
    val n = scalarSubquery(pts.agg(count(lit(1))))
    val perRadius = radii.map { r =>
      sum(when(col("d2") <= r * r, 1L).otherwise(0L)).as(s"p${r.toLong}")
    }
    val agg = pairs.agg(perRadius.head, perRadius.tail: _*)
      .withColumn("n", n)
    val rows = radii.map { r =>
      agg.select(lit(r.toLong).as("radius_m"),
        coalesce(col(s"p${r.toLong}"), lit(0L)).as("n_pairs"),
        expr(s"""CASE WHEN n * (n - 1) = 0 THEN CAST(0 AS BIGINT)
                |ELSE CAST((1000000 * coalesce(p${r.toLong}, 0)) DIV (n * (n - 1)) AS BIGINT)
                |END""".stripMargin).as("pairs_ppm"))
    }
    rows.reduce(_ unionAll _).orderBy(col("radius_m"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ripley_k" -> ((s, d) => ripleyK(s, d)),
    "q_dbscan" -> ((s, d) => dbscan(s, d)),
    "q_morans_i" -> (moransI _),
    "q_lisa" -> (lisa _),
    "q_getis_ord" -> (getisOrd _))

  /** The oracle exploits the fixture's exact-integer grid: pitch = ε =
    * 1000 m, so the ε-ball around a site is exactly its 4-adjacent sites
    * (orthogonal Δ = 1000 = ε included, diagonal Δ = 1414 &gt; ε excluded) —
    * adjacency on (gx, gy) integers with an equi key per axis keeps the
    * DuckDB join hash-shaped. Components via the same recursive closure
    * as the dedup_clusters oracle. */
  val oracles: Map[String, String] = Map(
    "q_ripley_k" ->
      """WITH pts AS (
        |  SELECT DISTINCT l_partkey % 25 AS r,
        |         (l_orderkey * 7 + l_linenumber) % 2500 AS pos
        |  FROM lineitem
        |  WHERE (l_orderkey * 7 + l_linenumber) % 2500 % 7 < 3),
        |p AS (
        |  SELECT r * 2500 + pos AS pid,
        |         (r % 5) * 60 + (pos % 50) AS gx,
        |         (r // 5) * 60 + (pos // 50) AS gy
        |  FROM pts),
        |offs AS (
        |  SELECT t1.dx, t2.dy FROM range(-3, 4) t1(dx), range(-3, 4) t2(dy)
        |  WHERE NOT (t1.dx = 0 AND t2.dy = 0)
        |    AND t1.dx * t1.dx + t2.dy * t2.dy <= 9),
        |pr AS (
        |  SELECT o.dx * o.dx + o.dy * o.dy AS d2
        |  FROM p a, offs o, p b
        |  WHERE b.gx = a.gx + o.dx AND b.gy = a.gy + o.dy),
        |s AS (
        |  SELECT (SELECT count(*) FROM p) AS n,
        |    count(*) FILTER (WHERE d2 <= 1) AS p1,
        |    count(*) FILTER (WHERE d2 <= 4) AS p2,
        |    count(*) FILTER (WHERE d2 <= 9) AS p3
        |  FROM pr)
        |SELECT CAST(v.radius_m AS BIGINT) AS radius_m,
        |  CAST(v.n_pairs AS BIGINT) AS n_pairs,
        |  CAST(CASE WHEN n * (n - 1) = 0 THEN 0
        |       ELSE (1000000 * v.n_pairs) // (n * (n - 1)) END AS BIGINT)
        |    AS pairs_ppm
        |FROM s, LATERAL (VALUES (1000, s.p1), (2000, s.p2), (3000, s.p3))
        |  AS v(radius_m, n_pairs)
        |ORDER BY radius_m""".stripMargin,
    "q_getis_ord" ->
      """WITH v AS (
        |  SELECT l_partkey % 25 AS r, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem GROUP BY r),
        |g AS (
        |  SELECT count(*) AS n, coalesce(sum(v), 0) AS s,
        |    coalesce(sum(CAST(v AS HUGEINT) * v), 0) AS q
        |  FROM v),
        |ring AS (
        |  SELECT a.r, sum(b.v) AS ring_v, count(*) AS deg
        |  FROM v a, (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) o(dx, dy), v b
        |  WHERE (a.r % 5) + o.dx BETWEEN 0 AND 4
        |    AND (a.r // 5) + o.dy BETWEEN 0 AND 4
        |    AND b.r = ((a.r // 5) + o.dy) * 5 + (a.r % 5) + o.dx
        |  GROUP BY a.r),
        |t AS (
        |  SELECT v.r, v.v,
        |    v.v + coalesce(ring.ring_v, 0) AS u,
        |    coalesce(ring.deg, 0) + 1 AS w,
        |    CAST(g.n AS HUGEINT) * (v.v + coalesce(ring.ring_v, 0))
        |      - CAST(coalesce(ring.deg, 0) + 1 AS HUGEINT) * g.s AS num,
        |    (CAST(g.n AS HUGEINT) * g.q - CAST(g.s AS HUGEINT) * g.s)
        |      * (CAST(g.n AS HUGEINT) * (coalesce(ring.deg, 0) + 1)
        |         - CAST(coalesce(ring.deg, 0) + 1 AS HUGEINT)
        |           * (coalesce(ring.deg, 0) + 1)) AS den,
        |    g.n AS n0
        |  FROM v LEFT JOIN ring ON v.r = ring.r, g),
        |z AS (
        |  SELECT r, v, u, w,
        |    CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
        |      AS INTEGER) AS gi_sign,
        |    CAST(CASE WHEN den = 0 THEN 0
        |         ELSE (1000000 * num * num * (n0 - 1)) // den END AS BIGINT)
        |      AS gi_sq_micro
        |  FROM t)
        |SELECT CAST(r AS INTEGER) AS r, v, CAST(u AS BIGINT) AS u,
        |  CAST(w AS INTEGER) AS w, gi_sign, gi_sq_micro,
        |  CASE WHEN gi_sign > 0 AND gi_sq_micro > 3841600 THEN 'HOT'
        |       WHEN gi_sign < 0 AND gi_sq_micro > 3841600 THEN 'COLD'
        |       ELSE 'NS' END AS label
        |FROM z ORDER BY r""".stripMargin,
    "q_lisa" ->
      """WITH v AS (
        |  SELECT l_partkey % 25 AS r, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem GROUP BY r),
        |g AS (SELECT count(*) AS n, coalesce(sum(v), 0) AS s FROM v),
        |zsqg AS (
        |  SELECT coalesce(sum((CAST(g.n AS HUGEINT) * v - g.s)
        |                    * (CAST(g.n AS HUGEINT) * v - g.s)), 0) AS zsq
        |  FROM v, g),
        |lag AS (
        |  SELECT a.r, sum(b.v) AS lag_v, count(*) AS deg
        |  FROM v a, (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) o(dx, dy), v b
        |  WHERE (a.r % 5) + o.dx BETWEEN 0 AND 4
        |    AND (a.r // 5) + o.dy BETWEEN 0 AND 4
        |    AND b.r = ((a.r // 5) + o.dy) * 5 + (a.r % 5) + o.dx
        |  GROUP BY a.r),
        |t AS (
        |  SELECT v.r, v.v, coalesce(lag.lag_v, 0) AS lag_v,
        |    CAST(g.n AS HUGEINT) * v.v - g.s AS zi,
        |    CAST(g.n AS HUGEINT) * coalesce(lag.lag_v, 0)
        |      - coalesce(lag.deg, 0) * CAST(g.s AS HUGEINT) AS zl,
        |    g.n AS n0, zsqg.zsq AS zsq
        |  FROM v LEFT JOIN lag ON v.r = lag.r, g, zsqg)
        |SELECT CAST(r AS INTEGER) AS r, v, CAST(lag_v AS BIGINT) AS lag_v,
        |  CASE WHEN zi > 0 AND zl > 0 THEN 'HH'
        |       WHEN zi < 0 AND zl < 0 THEN 'LL'
        |       WHEN zi > 0 AND zl < 0 THEN 'HL'
        |       WHEN zi < 0 AND zl > 0 THEN 'LH'
        |       ELSE 'ZERO' END AS quad,
        |  CAST(CASE WHEN zi * zl > 0 THEN 1 WHEN zi * zl < 0 THEN -1
        |       ELSE 0 END AS INTEGER) AS lisa_sign,
        |  CAST(CASE WHEN zsq = 0 THEN 0
        |       ELSE (1000000 * n0 * abs(zi * zl)) // zsq END AS BIGINT)
        |    AS lisa_abs_micro
        |FROM t ORDER BY r""".stripMargin,
    "q_morans_i" ->
      """WITH v AS (
        |  SELECT l_partkey % 25 AS r, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem GROUP BY r),
        |g AS (
        |  SELECT count(*) AS n, coalesce(sum(v), 0) AS s FROM v),
        |nbr AS (
        |  SELECT a.v AS vi, b.v AS vj
        |  FROM v a, (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) o(dx, dy),
        |       v b
        |  WHERE (a.r % 5) + o.dx BETWEEN 0 AND 4
        |    AND (a.r // 5) + o.dy BETWEEN 0 AND 4
        |    AND b.r = ((a.r // 5) + o.dy) * 5 + (a.r % 5) + o.dx),
        |agg AS (
        |  SELECT
        |    (SELECT count(*) FROM nbr) AS w_sum,
        |    coalesce((SELECT sum((CAST(g.n AS HUGEINT) * vi - g.s)
        |                       * (CAST(g.n AS HUGEINT) * vj - g.s))
        |              FROM nbr, g), 0) AS czz,
        |    coalesce((SELECT sum((CAST(vi AS HUGEINT) - vj)
        |                       * (CAST(vi AS HUGEINT) - vj)) FROM nbr), 0) AS cdd,
        |    coalesce((SELECT sum((CAST(g.n AS HUGEINT) * v - g.s)
        |                       * (CAST(g.n AS HUGEINT) * v - g.s))
        |              FROM v, g), 0) AS czsq,
        |    (SELECT n FROM g) AS n)
        |SELECT CAST(n AS BIGINT) AS n, CAST(w_sum AS BIGINT) AS w_sum,
        |  CAST(CASE WHEN czz > 0 THEN 1 WHEN czz < 0 THEN -1 ELSE 0 END
        |    AS INTEGER) AS moran_sign,
        |  CAST(CASE WHEN w_sum = 0 OR czsq = 0 THEN 0
        |       ELSE (1000000 * n * abs(czz)) // (w_sum * czsq)
        |       END AS BIGINT) AS moran_abs_micro,
        |  CAST(CASE WHEN w_sum = 0 OR czsq = 0 THEN 0
        |       ELSE (1000000 * (n - 1) * CAST(n AS HUGEINT) * n * cdd)
        |            // (2 * w_sum * czsq)
        |       END AS BIGINT) AS geary_micro
        |FROM agg""".stripMargin,
    "q_dbscan" ->
      """WITH RECURSIVE pts AS (
        |  SELECT DISTINCT l_partkey % 25 AS r,
        |         (l_orderkey * 7 + l_linenumber) % 2500 AS pos
        |  FROM lineitem
        |  WHERE (l_orderkey * 7 + l_linenumber) % 2500 % 7 < 3),
        |p AS (
        |  SELECT r * 2500 + pos AS pid,
        |         (r % 5) * 60 + (pos % 50) AS gx,
        |         (r // 5) * 60 + (pos // 50) AS gy
        |  FROM pts),
        |nbr AS (
        |  SELECT a.pid AS a_pid, b.pid AS b_pid
        |  FROM p a JOIN p b ON a.gx = b.gx AND abs(a.gy - b.gy) = 1
        |  UNION ALL
        |  SELECT a.pid, b.pid
        |  FROM p a JOIN p b ON a.gy = b.gy AND abs(a.gx - b.gx) = 1),
        |deg AS (SELECT a_pid AS pid, count(*) AS nn FROM nbr GROUP BY a_pid),
        |flags AS (
        |  SELECT p.pid, coalesce(deg.nn, 0) + 1 >= 3 AS core
        |  FROM p LEFT JOIN deg ON p.pid = deg.pid),
        |ce AS (
        |  SELECT n.a_pid AS u, n.b_pid AS v FROM nbr n
        |  JOIN flags fa ON n.a_pid = fa.pid AND fa.core
        |  JOIN flags fb ON n.b_pid = fb.pid AND fb.core),
        |r(u, l) AS (
        |  SELECT pid, pid FROM flags WHERE core
        |  UNION
        |  SELECT ce.v, r.l FROM r JOIN ce ON r.u = ce.u),
        |corelbl AS (SELECT u AS pid, min(l) AS rep FROM r GROUP BY u),
        |borderlbl AS (
        |  SELECT f.pid, min(c.rep) AS rep
        |  FROM flags f JOIN nbr n ON f.pid = n.a_pid
        |  JOIN corelbl c ON n.b_pid = c.pid
        |  WHERE NOT f.core GROUP BY f.pid),
        |sizes AS (
        |  SELECT c.rep,
        |    count(*) + coalesce(any_value(b.nb), 0) AS csize
        |  FROM corelbl c LEFT JOIN (
        |    SELECT rep, count(*) AS nb FROM borderlbl GROUP BY rep) b
        |    ON c.rep = b.rep
        |  GROUP BY c.rep),
        |hist AS (
        |  SELECT csize, count(*) AS n_clusters FROM sizes GROUP BY csize),
        |noise AS (
        |  SELECT CAST(-1 AS BIGINT) AS csize,
        |    (SELECT count(*) FROM p)
        |      - (SELECT count(*) FROM corelbl)
        |      - (SELECT count(*) FROM borderlbl) AS n_clusters)
        |SELECT CAST(csize AS BIGINT) AS csize,
        |       CAST(n_clusters AS BIGINT) AS n_clusters
        |FROM (SELECT * FROM hist UNION ALL SELECT * FROM noise)
        |ORDER BY csize""".stripMargin)
}
