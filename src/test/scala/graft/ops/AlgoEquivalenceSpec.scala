package graft.ops

import graft.{FixtureDirs, SparkFixture}
import org.scalatest.funsuite.AnyFunSuite

/** Equivalence of the scalable algorithms against brute-force models on
  * ADVERSARIAL fixtures — inputs chosen to hit the edges the corpus never
  * exercises: exact duplicates, sub-minimum documents, empty strings,
  * all-tied prices, duplicate points. The operators read parquet, so the
  * fixtures are written as tiny parquet tables and the ops run unchanged.
  */
class AlgoEquivalenceSpec extends AnyFunSuite with FixtureDirs {
  private lazy val spark = SparkFixture.spark

  test("setsimJoin equals brute force on an adversarial corpus (dups, tiny docs, empties)") {
    import spark.implicits._
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",      // exact dup of 1
      3L -> "the quick brown fox jumps over the lazy cat",      // near dup of 1
      4L -> "a completely different document about spark joins here",
      5L -> "a completely different document about spark joins now",  // near dup of 4
      6L -> "one two",                                          // < 3 tokens: excluded
      7L -> "",                                                 // empty: excluded
      8L -> "the quick brown fox",                              // short overlap with 1
      9L -> "pad pad pad pad pad pad pad pad pad",              // repeated token
      10L -> "pad pad pad pad pad pad pad pad pad")             // exact dup of 9
    val dir = fixtureDir("setsim")
    texts.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def grams(t: String): Set[String] = {
      val l = t.split(" ").filter(_.nonEmpty)
      if (l.length < 3) Set.empty
      else l.sliding(3).map(_.mkString(" ")).toSet
    }
    val model = (for {
      (ia, ta) <- texts; (ib, tb) <- texts
      if ia < ib
      ga = grams(ta); gb = grams(tb)
      if ga.nonEmpty && gb.nonEmpty
      inter = (ga & gb).size
      j = BigDecimal(inter.toDouble / (ga.size + gb.size - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.7
    } yield (ia, ib, j)).toSet

    val got = TextQueries.setsimJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == model, s"got=$got model=$model")
    // the fixture must actually exercise the interesting cases
    assert(model.contains((1L, 2L, 1.0)) && model.contains((9L, 10L, 1.0)))
    assert(model.exists { case (a, b, j) => j < 1.0 && j >= 0.7 })
  }

  test("containmentJoin equals brute force incl. an exactly-at-threshold pair (positional-bound losslessness)") {
    import spark.implicits._
    // t1..t12 / the same minus the last token: 10 trigrams each sharing
    // exactly 9 → containment 0.9 BOTH ways — the boundary the positional
    // filter must admit (overlap == ceil(t·sz_a) with zero slack)
    val twelve = (1 to 12).map(i => s"t$i").mkString(" ")
    val eleven = (1 to 11).map(i => s"t$i").mkString(" ") + " xx"
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "the quick brown fox jumps over the lazy dog tonight", // exact dup of 1
      3L -> "quick brown fox jumps over",     // strict sub-span of 1: 3→1 at 1.0, 1→3 below t
      4L -> twelve,                           // exactly-at-threshold pair with 5
      5L -> eleven,
      6L -> "one two",                        // < 3 tokens: excluded
      7L -> "",                               // empty: excluded
      8L -> "the quick brown cat naps under the lazy dog tonight", // shares grams, below t
      9L -> "pad pad pad pad pad",            // repeated token: 1 distinct gram
      10L -> "pad pad pad pad pad pad pad")   // superset by repetition: 9↔10 both 1.0
    val dir = fixtureDir("containment_equiv")
    texts.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def grams(t: String): Set[String] = {
      val l = t.split(" ").filter(_.nonEmpty)
      if (l.length < 3) Set.empty
      else l.sliding(3).map(_.mkString(" ")).toSet
    }
    val model = (for {
      (ia, ta) <- texts; (ib, tb) <- texts
      if ia != ib
      ga = grams(ta); gb = grams(tb)
      if ga.nonEmpty && gb.nonEmpty
      c = BigDecimal((ga & gb).size.toDouble / ga.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= 0.9
    } yield (ia, ib, c)).toSet

    val got = TextQueries.containmentJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == model, s"got=$got model=$model")
    // the fixture must actually exercise the interesting cases
    assert(model.contains((3L, 1L, 1.0)) && !model.exists(p => p._1 == 1L && p._2 == 3L),
      "asymmetry case missing")
    assert(model.contains((4L, 5L, 0.9)) && model.contains((5L, 4L, 0.9)),
      "exactly-at-threshold pair missing — the positional bound's zero-slack edge")
    assert(grams(texts(7)._2).intersect(grams(texts(0)._2)).nonEmpty &&
      !model.exists(p => p._1 == 8L), "below-threshold gram-sharing case missing")
  }

  test("skyline equals pairwise dominance on ties, duplicates, and single points") {
    import spark.implicits._
    // (flag, price, qty): equal-price columns, equal-qty rows, exact dups,
    // a strictly-dominated chain, and a singleton group
    val pts = Seq(
      ("A", 1.00, 5.0), ("A", 1.00, 7.0),   // same price, keep only qty=7
      ("A", 2.00, 7.0),                     // same qty as frontier, pricier: dominated
      ("A", 3.00, 9.0), ("A", 3.00, 9.0),   // exact dup on the frontier
      ("A", 4.00, 8.0),                     // dominated by (3, 9)
      ("B", 10.00, 1.0))                    // singleton group
    val dir = fixtureDir("skyline")
    pts.zipWithIndex.map { case ((f, p, q), i) => (f, p, q, i.toLong) }
      .toDF("l_returnflag", "l_extendedprice", "l_quantity", "l_orderkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    val cents = pts.map { case (f, p, q) =>
      (f, math.floor(p * 100 + 0.5).toLong, math.floor(q * 100 + 0.5).toLong)
    }.distinct
    val model = cents.filter { case (f, p, q) =>
      !cents.exists { case (f2, p2, q2) =>
        f2 == f && (p2 <= p && q2 >= q) && (p2 < p || q2 > q)
      }
    }.toSet
    val got = RelationalQueries.skyline(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == model, s"got=$got model=$model")
    assert(got == Set(("A", 100L, 700L), ("A", 300L, 900L), ("B", 1000L, 100L)))
  }

  test("grid kNN equals brute force on sparse cells, short build sides, nulls, and fat geometries") {
    import org.apache.spark.sql.functions._
    import graft.functions.{st_makeenvelope, st_point}
    import spark.implicits._
    // build: a dense cluster inside one 10-unit cell, far-flung singletons
    // (probes must ring-walk over many empty cells), one FAT rectangle
    // spanning several cells (drives the maxW/maxH envelope slack), and a
    // null geometry (must be ignored). Coordinates are pseudo-random reals
    // so all pairwise distances are distinct and identity compare is sound.
    val rnd = new scala.util.Random(7)
    val clustered = (0 until 8).map(i => (i, rnd.nextDouble() * 9, rnd.nextDouble() * 9))
    val singletons = Seq((8, 143.7, -221.3), (9, -387.1, 55.9), (10, 961.4, 702.2))
    val ptBuild = (clustered ++ singletons).toDF("b_id", "bx", "by")
      .select(col("b_id"), st_point(col("bx"), col("by")).as("b_geom"))
    val fat = Seq(11).toDF("b_id")
      .select(col("b_id"), st_makeenvelope(lit(50.0), lit(50.0), lit(85.0), lit(95.0)).as("b_geom"))
    val nullRow = Seq(12).toDF("b_id")
      .select(col("b_id"), lit(null).cast("binary").as("b_geom"))
    val build = ptBuild.unionByName(fat).unionByName(nullRow)

    val probes = (0 until 40).map(i =>
      (i, rnd.nextDouble() * 2200 - 600, rnd.nextDouble() * 1600 - 700))
    val probeDf = probes.toDF("p_id", "px", "py")
      .select(col("p_id"), st_point(col("px"), col("py")).as("p_geom"))

    // brute-force truth via JTS on the same geometries
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    def fatDist(px: Double, py: Double): Double = {
      val dx = math.max(0.0, math.max(50.0 - px, px - 85.0))
      val dy = math.max(0.0, math.max(50.0 - py, py - 95.0))
      math.hypot(dx, dy)
    }
    val buildPts = (clustered ++ singletons).map { case (id, x, y) => (id, (px: Double, py: Double) => math.hypot(px - x, py - y)) } :+
      ((11, (px: Double, py: Double) => fatDist(px, py)))
    for (k <- Seq(3, 20)) { // k=20 > |build|: every non-null build row matches
      val got = SpatialJoin.gridKnn(probeDf, build, "p_geom", "b_geom", k,
          cellSize = 10.0, outputCols = Seq("p_id", "b_id"))
        .collect().map(r => (r.getInt(0), r.getInt(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val want = probes.map { case (pid, px, py) =>
        pid -> buildPts.sortBy { case (_, d) => d(px, py) }.take(k).map(_._1).toSet
      }.toMap
      assert(got == want, s"k=$k")
      // and the broadcast operator agrees
      val bc = SpatialJoin.broadcastKnn(probeDf, build, "p_geom", "b_geom", k,
          outputCols = Seq("p_id", "b_id"))
        .collect().map(r => (r.getInt(0), r.getInt(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(bc == want, s"broadcast k=$k")
    }
    // null probe emits nothing; empty build side yields an empty frame
    val nullProbe = Seq(99).toDF("p_id").select(col("p_id"), lit(null).cast("binary").as("p_geom"))
    assert(SpatialJoin.gridKnn(nullProbe, build, "p_geom", "b_geom", 2,
      cellSize = 10.0, outputCols = Seq("p_id", "b_id")).count() == 0)
    val emptyBuild = build.filter(col("b_id") < 0)
    val empty = SpatialJoin.gridKnn(probeDf, emptyBuild, "p_geom", "b_geom", 2,
      cellSize = 10.0, outputCols = Seq("p_id", "b_id"))
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("p_id", "b_id"))
  }

  test("two-phase sharded skyline equals the plain single-window frontier at every shard count") {
    import spark.implicits._
    // deterministic pseudo-random cloud, big enough that every shard of a
    // 16-way salt is non-trivially populated and shard frontiers overlap
    val rnd = new scala.util.Random(42)
    val pts = (1 to 2000).map { i =>
      val f = if (rnd.nextBoolean()) "A" else "B"
      (f, (rnd.nextInt(500) + 1) / 100.0 * 100, rnd.nextInt(300) / 10.0, i.toLong)
    }
    val dir = fixtureDir("skyline_sharded")
    pts.toDF("l_returnflag", "l_extendedprice", "l_quantity", "l_orderkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    val cents = pts.map { case (f, p, q, _) =>
      (f, math.floor(p * 100 + 0.5).toLong, math.floor(q * 100 + 0.5).toLong)
    }.distinct
    val model = cents.filter { case (f, p, q) =>
      !cents.exists { case (f2, p2, q2) =>
        f2 == f && (p2 <= p && q2 >= q) && (p2 < p || q2 > q)
      }
    }.toSet
    // sharded == plain: shards = 1 IS the plain single-window frontier, so
    // equality across shard counts is the sharded==plain property
    for (shards <- Seq(1, 3, 16)) {
      val got = RelationalQueries.skyline(spark, dir, shards).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == model, s"shards=$shards got=${got.size} model=${model.size}")
    }
  }

  /** Brute-force 2-hop reach with the same mid-node out-degree cap the
    * engine applies (cap = Int.MaxValue ⇒ uncapped exact reach). */
  private def khopRef(edges: Seq[(Long, Long)], cap: Int): Map[Long, (Long, Long)] = {
    val e = edges.filter(p => p._1 != p._2).distinct
    val outdeg = e.groupBy(_._1).view.mapValues(_.size).toMap
    val mids = outdeg.filter(_._2 <= cap).keySet
    val adj = e.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val two = (for {
      (src, mid) <- e
      if mids(mid)
      dst2 <- adj.getOrElse(mid, Set.empty)
      if dst2 != src
    } yield (src, dst2)).distinct
    val h2 = two.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    outdeg.map { case (n, d) => n -> (d.toLong, h2.getOrElse(n, 0L)) }
  }

  test("khop hub cap: capped == brute force with cap, prunes ONLY hub mids") {
    import spark.implicits._
    // hub node 100 fans out to 10 targets; spokes route through it; a
    // small normal cycle coexists so capped and uncapped reach differ
    // only where the hub mediates
    val edges: Seq[(Long, Long)] =
      (200L to 209L).map(t => (100L, t)) ++              // hub out-degree 10
      (1L to 5L).map(s => (s, 100L)) ++                  // spokes into the hub
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L),       // normal cycle + tail
        (7L, 7L), (1L, 2L))                              // self-loop + dup: dropped
    val dir = fixtureDir("khop_hub")
    edges.toDF("l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    def run(cap: Int): Map[Long, (Long, Long)] =
      GraphQueries.khopReach(spark, dir, buckets = 300, maxMidDeg = cap)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    val capped = run(4)
    val uncapped = run(1000)
    assert(capped == khopRef(edges, 4))
    assert(uncapped == khopRef(edges, Int.MaxValue))
    // the cap actually trips on this fixture: hub-mediated reach vanishes
    assert(capped != uncapped)
    assert(capped(1L) == (2L, 3L),  // 1→2→{100,3,4}; mid 100 excluded (od 10 > 4)
      s"got ${capped(1L)}")
    assert(uncapped(1L)._2 == 13L)  // {100,3,4} + the hub's 10 targets
    // the hub as SOURCE is untouched — only its role as a mid is capped
    assert(capped(100L) == uncapped(100L) && capped(100L) == (10L, 0L))
  }

  test("kcore canonicalizes both edge orientations to one simple edge") {
    import spark.implicits._
    // triangle {1,2,3} with EVERY edge listed in both orientations, plus
    // a whisker 4-1 both ways: simple-graph degrees are 2,2,2,1 — the
    // pre-canonicalization bug double-counted these to 4,4,4,2
    val both = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L),
      (3L, 1L), (1L, 4L), (4L, 1L))
    val dir = fixtureDir("kcore_canon")
    both.toDF("l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val deg2 = GraphQueries.kcore(spark, dir, k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))  // whisker peeled
    // k = 3 would keep the triangle ONLY under double-counting: must be empty
    assert(GraphQueries.kcore(spark, dir, k = 3, rounds = 3).count() == 0L)
  }

  test("observeMetrics on an empty corpus: SQL aggregate semantics (nulls, not 0/NPE)") {
    import spark.implicits._
    val dir = fixtureDir("observe_empty")
    Seq.empty[(Double, Double)].toDF("l_quantity", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = RelationalQueries.observeMetrics(spark, dir).collect()(0)
    assert(r.getLong(r.fieldIndex("n_rows")) == 0L)
    assert(r.isNullAt(r.fieldIndex("sum_cents")))
    assert(r.isNullAt(r.fieldIndex("max_qty")))
    assert(r.getLong(r.fieldIndex("n_kept")) == 0L)
  }

  test("sourceMix topk_agg formulation equals the per-source ranking window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // sources under, at, and over quota; doc ids interleaved so hash
    // order differs from id order
    val docs = (1 to 35).map(i => (i.toLong, "a")) ++
      (36 to 38).map(i => (i.toLong, "b")) ++
      (39 to 48).map(i => (i.toLong, "c"))
    val dir = fixtureDir("source_mix")
    docs.map { case (id, s) => (id, s"text $id", "en", s, 10L + id) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = TextQueries.sourceMix(spark, dir, quota = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))

    // plain window reference over the SAME comparator (h60 prefix, doc_id)
    val ranked = Tables.documents(spark, dir)
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("rank", row_number().over(Window.partitionBy(col("source"))
        .orderBy(substring(col("h"), 1, 15), col("doc_id"))))
      .filter(col("rank") <= 10)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_taken"), sum(col("n_chars")).as("sum"),
        min(col("h")).as("first"))
      .orderBy(col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == ranked.toSeq)
    // quota semantics: capped at 10, under-quota sources keep everything
    val n = got.map(t => t._1 -> t._2).toMap
    assert(n == Map("a" -> 10L, "b" -> 3L, "c" -> 10L))
  }

  test("minhashAudit per-block cap: capped == windowed reference; cap >= block == full all-pairs") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // one saturated block (14 docs, token counts 10..19 => decile 1) where
    // a cap of 6 binds, one small block (5 docs, decile 0) it never touches;
    // overlapping token runs so exact Jaccard spans (0, 1)
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omi",
      "pi", "rho", "sigma", "tau", "ups")
    val big = (1 to 14).map { i =>
      val n = 10 + (i % 10)
      (i.toLong, (0 until n).map(j => words((i + j) % words.length)).mkString(" "))
    }
    val small = (15 to 19).map { i =>
      (i.toLong, (0 until 3 + (i % 4)).map(j => words((2 * i + j) % words.length)).mkString(" "))
    }
    val dir = fixtureDir("minhash_audit")
    (big ++ small).map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // independent reference: window row_number over the SAME comparator
    // (md5 15-hex prefix, doc_id) + the pre-r13 self-join formulation
    def refAudit(cap: Int): Seq[(Int, Long, Long, Long)] = {
      val base = Tables.documents(spark, dir)
        .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
        .filter(size(col("toks")) >= 3)
        .withColumn("blk", expr("concat(lang, ':', CAST(size(toks) DIV 10 AS STRING))"))
        .withColumn("rk", row_number().over(Window.partitionBy(col("blk"))
          .orderBy(substring(md5(col("doc_id").cast("string")), 1, 15), col("doc_id"))))
        .filter(col("rk") <= cap)
        .withColumn("sh", expr(
          """array_distinct(transform(sequence(1, size(toks) - 2),
            |  i -> concat_ws('_', toks[i-1], toks[i], toks[i+1])))""".stripMargin))
        .withColumn("sig", expr(
          """transform(sequence(0, 7), i ->
            |  array_min(transform(sh, s ->
            |    substring(md5(concat(CAST(i AS STRING), ':', s)), 1, 15))))""".stripMargin))
      val a = base.select(col("blk"), col("doc_id").as("a_id"),
        col("sh").as("sha"), col("sig").as("siga"))
      val b = base.select(col("blk"), col("doc_id").as("b_id"),
        col("sh").as("shb"), col("sig").as("sigb"))
      a.join(b, Seq("blk")).filter(col("a_id") < col("b_id"))
        .withColumn("inter", expr("size(array_intersect(sha, shb))"))
        .withColumn("uni", expr("size(sha) + size(shb) - inter"))
        .withColumn("exact_ppm", expr("(1000000 * CAST(inter AS BIGINT)) DIV uni"))
        .withColumn("matches", expr(
          "size(filter(zip_with(siga, sigb, (x, y) -> x = y), m -> m))"))
        .withColumn("est_ppm", col("matches").cast("long") * lit(125000L))
        .withColumn("err_bucket",
          expr("CAST(abs(est_ppm - exact_ppm) DIV 15625L AS INT)"))
        .groupBy(col("err_bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("exact_ppm")).as("sum_exact_ppm"),
          sum(col("matches").cast("long")).as("sum_matches"))
        .orderBy(col("err_bucket")).collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    def run(cap: Int): Seq[(Int, Long, Long, Long)] =
      TextQueries.minhashAudit(spark, dir, capPerBlock = cap).collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // binding cap: identical md5-ranked sample and identical histogram
    assert(run(6) == refAudit(6))
    // non-binding cap: the capped operator IS the full all-pairs audit
    assert(run(1000) == refAudit(1000))
    // the binding cap really bound: 6C2 + 5C2 = 25 pairs vs 14C2 + 5C2 = 101
    assert(run(6).map(_._2).sum == 25L)
    assert(run(1000).map(_._2).sum == 101L)
  }

  test("cdcApply latest-seq-wins: scrambled arrival, delete-last, resurrect, insert, orphan delete") {
    import spark.implicits._
    // op = orderkey % 10 (<7 U, 7-8 I, 9 D), seq = orderkey; rows offered
    // in SCRAMBLED order so arrival order can't masquerade as seq order
    val dir = fixtureDir("cdc_apply")
    Seq(
      (32L, 2L, 20.00),  // key 2: U @32 (wins over the D @19) — resurrect
      (29L, 1L, 99.00),  // key 1: D @29 (wins over the U @11) — deleted
      (47L, 2L, 47.50),  // key 1000002: I @47 — inserted
      (11L, 1L, 10.00),  // key 1: U @11 (loses)
      (39L, 9L, 1.00),   // key 9: D @39, key absent from snapshot
      (14L, 4L, 40.00),  // key 4: U @14 (loses)
      (19L, 2L, 5.00),   // key 2: D @19 (loses)
      (34L, 4L, 44.00))  // key 4: U @34 (wins)
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 1.11), (2L, 2.22), (3L, 3.33), (4L, 4.44))
      .toDF("c_custkey", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = RelationalQueries.cdcApply(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq(
      ("deleted", 1L, -1L),          // key 1 (sum NULL)
      ("deleted_absent", 1L, -1L),   // key 9
      ("inserted", 1L, 4750L),       // key 1000002 @ $47.50
      ("kept", 1L, 333L),            // key 3 untouched
      ("updated", 2L, 2000L + 4400L) // keys 2 (resurrected) and 4
    ), got)
  }

  test("scd2Build tombstones: lead() intervals, delete never current, exact closed spans") {
    // same changelog semantics as the cdcApply fixture
    val dir = fixtureDir("cdc_apply") // reuses the written fixture tables
    import spark.implicits._
    // standalone safety: (re)write the fixture — same rows as above
    Seq((32L, 2L, 20.00), (29L, 1L, 99.00), (47L, 2L, 47.50), (11L, 1L, 10.00),
      (39L, 9L, 1.00), (14L, 4L, 40.00), (19L, 2L, 5.00), (34L, 4L, 44.00))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = RelationalQueries.scd2Build(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq(
      // key, n_versions, current_cents, closed_span, n_deletes
      (1L, 2L, -1L, 29L - 11L, 1L),   // U@11 closed by D@29; D open, never current
      (2L, 2L, 2000L, 32L - 19L, 1L), // D@19 closed by U@32; U current
      (4L, 2L, 4400L, 34L - 14L, 0L),
      (9L, 1L, -1L, -1L, 1L),         // lone tombstone: no closed span, not current
      (1000002L, 1L, 4750L, -1L, 0L)
    ), got)
  }

  test("copurchase pairs: in-array generation dedups within order, excludes singleton baskets") {
    import spark.implicits._
    val dir = fixtureDir("copurchase")
    // o1 has a REPEATED part (5) — pair bag must stay distinct-per-order;
    // o3 is a singleton basket — contributes nothing
    Seq((1L, 5L), (1L, 3L), (1L, 5L), (1L, 9L),
        (2L, 3L), (2L, 5L),
        (3L, 7L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = RelationalQueries.copurchase(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((3L, 5L, 2L), (3L, 9L, 1L), (5L, 9L, 1L)), got)
  }

  test("mmrRerank diversifies: rank 2 leaves the near-duplicate cluster that plain top-k keeps") {
    import spark.implicits._
    val dir = fixtureDir("mmr")
    // query (vec_id 0) = e1; cluster A = three near-copies of e1 (top-3
    // by relevance alone); B is distinct with lower relevance. At
    // lambda=1/2 the second pick must be B: the A-A penalty (~1.0)
    // crushes the marginal score of a second A.
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    // A cluster: simq ~0.95 but mutual sim ~1.0 (marginal score ~-0.025);
    // B: simq 0.8 with sim-to-A1 ~0.573 (marginal ~+0.114) — the gap MMR
    // exists to exploit. (Near-copies of q itself would NOT flip: their
    // penalty saturates at ~their relevance and the marginal stays ~0.)
    Seq(
      (0L, v(1, 0, 0, 0), 0),
      (1L, v(0.95, 0.312, 0.001, 0), 0), // A1 (highest simq: smallest norm)
      (2L, v(0.95, 0.312, 0.002, 0), 0), // A2
      (3L, v(0.95, 0.312, 0.003, 0), 0), // A3
      (4L, v(0.8, -0.6, 0, 0), 1))       // B
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = VectorQueries.mmrRerank(spark, dir, k = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    // relevance alone would rank (1, 2, 3); MMR keeps A1 then jumps to B
    assert(got.map(_._2).take(2) == Seq(1L, 4L), got)
    // third pick returns to the A cluster (all remaining are A's)
    assert(Set(2L, 3L).contains(got(2)._2), got)
  }

  test("windowFunnel: max-start chains, strict same-tms ordering, inclusive window boundary") {
    import spark.implicits._
    val dir = fixtureDir("funnel")
    def ns(ms: Long): Long = ms * 1000000L
    val H = 3600000L // one hour in ms
    val B = 1700000000000L
    val rows = Seq(
      // user 1 reaches depth 4 ONLY via the max-start device: the chain
      // from the signup@0 violates W=72h at every later step; the
      // signup@50h rescues view@100h (50h gap), click@120h (70h),
      // purchase@121h (71h)
      (1L, 10L, ns(B), "signup"),
      (1L, 11L, ns(B + 50 * H), "signup"),
      (1L, 12L, ns(B + 100 * H), "view"),
      (1L, 13L, ns(B + 120 * H), "click"),
      (1L, 14L, ns(B + 121 * H), "purchase"),
      // user 2: steps out of order — view precedes signup, click precedes
      // any completed signup->view chain: depth stalls at 1
      (2L, 20L, ns(B), "view"),
      (2L, 21L, ns(B + 5 * H), "click"),
      (2L, 22L, ns(B + 10 * H), "signup"),
      (2L, 23L, ns(B + 20 * H), "purchase"),
      // user 3: all three at the SAME tms — strictness is the
      // (tms, event_id) row order: click(30) < signup(31) < view(32), so
      // signup->view completes (gap 0) but the click saw no chain
      (3L, 30L, ns(B), "click"),
      (3L, 31L, ns(B), "signup"),
      (3L, 32L, ns(B), "view"),
      // user 4: boundary law — view at EXACTLY W passes (<=), click one
      // millisecond past W fails
      (4L, 40L, ns(B), "signup"),
      (4L, 41L, ns(B + 72 * H), "view"),
      (4L, 42L, ns(B + 72 * H) + 1000000L, "click"),
      // user 5: no signup — contributes to no step
      (5L, 50L, ns(B), "view"),
      (5L, 51L, ns(B + H), "click"),
      (5L, 52L, ns(B + 2 * H), "purchase"))
    rows.toDF("user_id", "event_id", "ts", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SessionQueries.windowFunnel(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1, "signup", 4L),   // users 1,2,3,4
      (2, "view", 3L),     // users 1,3,4
      (3, "click", 1L),    // user 1 only
      (4, "purchase", 1L)  // user 1 only
    ), got)
  }

  test("recursive-CTE BFS equals iterative frontier BFS (hops) and path counting (n_paths)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // adversarial shape: a cycle (0->7->14->0), a diamond giving node 28
    // two 2-hop paths, a node reachable only at max depth, and an
    // unreachable component. recursiveBfs derives edges as
    // (partkey % 100, suppkey % 100) sparsified by (src*31 + dst) % 7 == 0
    // ≡ (3·src + dst) % 7 == 0 — node ids that are multiples of 7 satisfy
    // it for every edge, plus one off-residue edge (0->1) the sparsifier
    // must drop on BOTH sides.
    val edges = Seq((0L, 7L), (7L, 14L), (14L, 0L), // cycle back to the seed
      (0L, 21L), (7L, 28L), (21L, 28L),             // diamond: 28 two ways
      (28L, 35L),                                   // depth-3-only node
      (70L, 77L),                                   // unreachable from 0
      (0L, 1L))                                     // dropped by sparsifier
    val dir = fixtureDir("recursive_bfs")
    edges.map { case (s, d) => (s, d, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
      new java.sql.Timestamp(0L)) }
      .toDF("l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")
      .withColumn("l_orderkey", monotonically_increasing_id())
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    val got = GraphQueries.recursiveBfs(spark, dir, maxDepth = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))

    // reference: iterative frontier BFS + per-depth path counting over the
    // SAME sparsified edge set, in plain Scala
    val kept = edges.filter { case (s, d) => (s * 31 + d) % 7 == 0 }
    val adj = kept.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // paths(depth) = multiset of nodes reachable by a path of that length
    var level = Map(0L -> 1L)
    var acc = scala.collection.mutable.Map(0L -> Map(0 -> 1L))
    for (d <- 1 to 3) {
      val next = scala.collection.mutable.Map[Long, Long]()
      for ((n, c) <- level; m <- adj.getOrElse(n, Nil))
        next(m) = next.getOrElse(m, 0L) + c
      level = next.toMap
      for ((m, c) <- level)
        acc(m) = acc.getOrElse(m, Map.empty) + (d -> (acc.getOrElse(m, Map.empty).getOrElse(d, 0L) + c))
    }
    val want = acc.map { case (node, byDepth) =>
      (node, byDepth.keys.min, byDepth.values.sum)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == want, s"got=${got.toSeq}\nwant=$want\nkept=$kept")
    // seed is at hop 0 with TWO bounded paths (itself + the 3-cycle back)
    assert(got.nonEmpty && got.head._1 == 0L && got.head._2 == 0 &&
      got.head._3 == 2L)
    assert(!got.exists(_._1 == 70L)) // other component unreachable
    assert(!got.exists(_._1 == 1L)) // sparsifier dropped the off-residue edge
  }

  test("spanExcise aggregate form equals the definitional window form on a hot-span corpus") {
    // r14 verdict watch item: the scalable form replaced the per-fp
    // row_number window with min(struct(doc_id, st)) + join-back. This pin
    // replays the DEFINITIONAL rule (rank per fp by (doc_id, st); excise
    // every non-first cross-doc instance; merge islands; per-source
    // rollup) as a brute-force model on a corpus built to be the
    // operator's worst case: one boilerplate block present in EVERY doc
    // (the hottest possible fingerprint), at misaligned offsets, plus a
    // within-doc-only repeat (must NOT excise), a sub-w doc (no windows),
    // and an exact duplicate doc (every window duplicated).
    import spark.implicits._
    val w = 20; val stride = 5
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")
    def filler(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val texts = Seq(
      (1L, s"$boiler ${filler("u", 15)}", "src_a"),
      (2L, s"$boiler ${filler("v", 15)}", "src_a"),
      (3L, s"${filler("x", 10)} $boiler ${filler("y", 5)}", "src_b"), // misaligned
      (4L, filler("z", 10), "src_b"),                                  // < w tokens
      (5L, s"${filler("q", 10)} ${filler("q", 10)} ${filler("q", 10)}", "src_b"), // intra-doc only
      (6L, s"$boiler ${filler("u", 15)}", "src_c"))                    // exact dup of 1
    val dir = fixtureDir("spanexcise")
    texts.map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // brute model: identical enumeration, definitional ranking
    val toks = texts.map { case (id, t, s) => (id, s, t.split(" ").filter(_.nonEmpty)) }
    val inst = for {
      (id, _, tk) <- toks if tk.length >= w
      st <- 0 to (tk.length - w) by stride
    } yield (id, st.toLong, tk.slice(st, st + w).mkString(" "))
    val excised = inst.groupBy(_._3).values.flatMap { occ =>
      val sorted = occ.sortBy(o => (o._1, o._2))
      if (occ.map(_._1).distinct.size > 1) sorted.tail else Nil
    }.map { case (id, st, _) => (id, st, st + w) }.toSeq
    def mergeIslands(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
      iv.sorted.foldLeft(List.empty[(Long, Long)]) {
        case (acc, (s, e)) => acc match {
          case (ps, pe) :: rest if s <= pe => (ps, math.max(pe, e)) :: rest
          case _ => (s, e) :: acc
        }
      }.reverse
    val perDoc = excised.groupBy(_._1).map { case (id, iv) =>
      val isl = mergeIslands(iv.map(x => (x._2, x._3)))
      id -> (isl.map { case (s, e) => e - s }.sum, isl.size.toLong)
    }
    val want = toks.groupBy(_._2).map { case (src, ds) =>
      val cut = ds.flatMap(d => perDoc.get(d._1))
      val toksTotal = ds.map(_._3.length.toLong).sum
      val toksCut = cut.map(_._1).sum
      (src, ds.size.toLong, cut.size.toLong, toksTotal, toksCut,
        cut.map(_._2).sum, 1000000L * toksCut / toksTotal)
    }.toSeq.sortBy(_._1)

    val got = TextQueries.spanExcise(spark, dir).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSeq
    assert(got == want, s"got=$got\nwant=$want")
    // the fixture must actually exercise the cases it claims to
    assert(want.exists { case (s, _, excisedDocs, _, cut, _, _) =>
      s == "src_c" && excisedDocs == 1L && cut > 0L }, s"dup doc not excised: $want")
    assert(want.exists { case (s, _, excisedDocs, _, _, _, _) =>
      s == "src_b" && excisedDocs == 1L }, s"misaligned boiler not excised: $want")
    // intra-doc-only repeats (doc 5) and the sub-w doc (doc 4) stay whole
    assert(!excised.exists(e => e._1 == 4L || e._1 == 5L))
  }

  test("spanMultiscale equals the brute model and catches repeats the w=20 grid misses") {
    // the r14 verdict's gap: a repeated span SHORTER than w (or a long
    // block misaligned to the w-grid) is invisible to the fixed (w=20,
    // stride=5) pass. Corpus: a 10-token boilerplate shared by two
    // 18-token docs (NO w=20 window exists at all), a 55-token block
    // shared at a +5 offset (w=50 lane pins it; w=20 samples it), and an
    // untouched control doc. Model = definitional rule per (scale, fp).
    import spark.implicits._
    val scales = Seq(10, 20, 50); val stride = 5
    val sb = (1 to 10).map(i => s"s$i").mkString(" ")
    val block = (1 to 55).map(i => s"L$i").mkString(" ")
    def filler(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val texts = Seq(
      (1L, s"$sb ${filler("u", 8)}", "src_s"),
      (2L, s"$sb ${filler("v", 8)}", "src_s"),
      (3L, s"$block ${filler("x", 5)}", "src_l"),
      (4L, s"${filler("y", 5)} $block", "src_l"),
      (5L, filler("n", 30), "src_n"))
    val dir = fixtureDir("spanmulti")
    texts.map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val toks = texts.map { case (id, t, s) => (id, s, t.split(" ").filter(_.nonEmpty)) }
    val inst = for {
      (id, _, tk) <- toks; w <- scales if tk.length >= w
      st <- 0 to (tk.length - w) by stride
    } yield (id, st.toLong, st.toLong + w, (w, tk.slice(st, st + w).mkString(" ")))
    val excised = inst.groupBy(_._4).values.flatMap { occ =>
      val sorted = occ.sortBy(o => (o._1, o._2))
      if (occ.map(_._1).distinct.size > 1) sorted.tail else Nil
    }.map { case (id, st, en, _) => (id, st, en) }.toSeq
    def mergeIslands(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
      iv.sorted.foldLeft(List.empty[(Long, Long)]) {
        case (acc, (s, e)) => acc match {
          case (ps, pe) :: rest if s <= pe => (ps, math.max(pe, e)) :: rest
          case _ => (s, e) :: acc
        }
      }.reverse
    val perDoc = excised.groupBy(_._1).map { case (id, iv) =>
      val isl = mergeIslands(iv.map(x => (x._2, x._3)).distinct)
      id -> (isl.map { case (s, e) => e - s }.sum, isl.size.toLong)
    }
    val want = toks.groupBy(_._2).map { case (src, ds) =>
      val cut = ds.flatMap(d => perDoc.get(d._1))
      val toksTotal = ds.map(_._3.length.toLong).sum
      val toksCut = cut.map(_._1).sum
      (src, ds.size.toLong, cut.size.toLong, toksTotal, toksCut,
        cut.map(_._2).sum, 1000000L * toksCut / toksTotal)
    }.toSeq.sortBy(_._1)

    val got = TextQueries.spanMultiscale(spark, dir).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSeq
    assert(got == want, s"got=$got\nwant=$want")
    // the capability gap itself: single-scale w=20 sees NOTHING in the
    // short-boilerplate pair (no 20-token window fits an 18-token doc),
    // multiscale excises the repeat; the control doc stays whole
    val single = TextQueries.spanExcise(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(4))).toMap
    val multi = got.map(g => (g._1, g._5)).toMap
    assert(single("src_s") == 0L && multi("src_s") > 0L,
      s"short-span gap not exercised: single=$single multi=$multi")
    assert(multi("src_l") > 0L && multi("src_n") == 0L)
  }

  test("winsorize TeraSort device equals the definitional per-group window form") {
    // r15 verdict #1: the exact p05/p95 bounds moved off the per-group
    // window onto the groupedCumWeight rank device (w=1). This pins the
    // two forms row-for-row on the real corpus — same bounds picks, same
    // clipped sums, same clip counts — so the device can never drift
    // from the definitional rank statistic the oracle replays.
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val device = rows(RelationalQueries.winsorize(spark, dir))
    val window = rows(RelationalQueries.winsorizeWindowed(spark, dir))
    assert(device == window, s"device=$device\nwindow=$window")
    assert(device.nonEmpty, "fixture must produce groups")
  }

  test("winsorize device handles tiny groups where both rank targets hit one row, incl. a NULL group") {
    // 1-row and 2-row groups: ceil(n/20) == ceil(19n/20) == 1 (or 2), so
    // ONE row must satisfy both picks and lo == hi == that value; a
    // per-row emission defect (two rows, or min/max crossing) breaks this.
    // The NULL-flag group pins the null-marked key packing (ADVICE r16):
    // concat_ws alone would collide (NULL,"O") into "O"'s packed key in
    // the device while the final groupBy still splits them
    import spark.implicits._
    val dir = fixtureDir("winsor_tiny")
    Seq(
      (1L, 1, 7.00, Option("A"), Option("F")),
      (2L, 1, 3.00, Option("N"), Option("O")),
      (3L, 2, 9.00, Option("N"), Option("O")),
      (4L, 1, 5.00, Option.empty[String], Option("O")))
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag", "l_linestatus")
      .withColumn("l_quantity", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("l_discount", org.apache.spark.sql.functions.lit(0.0))
      .withColumn("l_tax", org.apache.spark.sql.functions.lit(0.0))
      .withColumn("l_shipdate",
        org.apache.spark.sql.functions.expr("TIMESTAMP '1995-01-01 00:00:00'"))
      .withColumn("l_partkey", org.apache.spark.sql.functions.lit(1L))
      .withColumn("l_suppkey", org.apache.spark.sql.functions.lit(1L))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (Option(r.getString(0)), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val got = rows(RelationalQueries.winsorize(spark, dir))
    // group (A,F): n=1, BOTH rank targets are 1 → one row satisfies both
    // picks, lo=hi=7e6, nothing clipped; group (N,O): n=2, targets are
    // ranks 1 and 2 → lo=3e6, hi=9e6, nothing clipped; group (NULL,O):
    // n=1, its own bounds — NOT merged into (N,O) or dropped
    val want = Set(
      (Option("A"), "F", 1L, 7000000L, 0L, 0L),
      (Option("N"), "O", 2L, 12000000L, 0L, 0L),
      (Option.empty[String], "O", 1L, 5000000L, 0L, 0L))
    assert(got == want, s"got=$got")
    // and the definitional window form (null-safe join-back) agrees
    assert(rows(RelationalQueries.winsorizeWindowed(spark, dir)) == want)
  }

  test("groupedCumWeight matches the sequential reference on seeded random corpora") {
    // the shared TeraSort device now carries TWO registered queries
    // (weighted median, exact winsorize); this pins its (cum, total)
    // contract against a plain sequential walk on three seeded random
    // corpora with heavy value ties, NULL groups, and skewed weights —
    // the regimes where a partition-boundary or offset bug would hide
    import spark.implicits._
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 300).map { i =>
        val g = rnd.nextInt(4) match { case 0 => null; case k => "g" + k }
        (g, rnd.nextInt(8).toLong, 1L + rnd.nextInt(5), i.toLong)
      }
      val df = rows.toDF("g", "v", "w", "tb")
      val got = RelationalQueries.groupedCumWeight(df, Seq("tb")).collect()
        .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val want = rows.groupBy(r => Option(r._1)).flatMap { case (g, rs) =>
        val srt = rs.sortBy(r => (r._2, r._4))
        val total = rs.map(_._3).sum
        var run = 0L
        srt.map { r => run += r._3; (g, r._2, r._3, run, total) }
      }.toSet
      assert(got == want, s"seed $seed: device disagrees with the sequential walk")
    }
  }

  /** Seeded mutation corpus for the similarity-join equivalence sweeps:
    * base docs drawn from a small vocab, plus structured variants (exact
    * copy, drop-first/last token, replace a middle token, append a few) —
    * the edits land trigram overlap in every band around the thresholds,
    * including exact 1.0 and just-at/just-below boundary pairs that a
    * hand fixture only pins at one size. */
  private def mutationCorpus(seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 15).map(i => s"w$i")
    def draw(n: Int): Vector[String] = Vector.fill(n)(vocab(rnd.nextInt(vocab.length)))
    val bases = (0 until 8).map(_ => draw(8 + rnd.nextInt(17)))
    val docs = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    bases.zipWithIndex.foreach { case (b, i) =>
      docs += b
      // base 0 always gets the exact-dup and drop-last variants, base 1
      // the middle-replace — so every seed exercises c==1.0, a
      // near-threshold drop, and a mid-band edit; the rest are random
      val variants = Seq[Vector[String] => Vector[String]](
        identity,
        v => v.dropRight(1),
        v => v.drop(1),
        v => if (v.length < 3) v else v.updated(v.length / 2, vocab(rnd.nextInt(vocab.length))),
        v => v ++ draw(1 + rnd.nextInt(3)))
      val picks =
        if (i == 0) Seq(variants(0), variants(1))
        else if (i == 1) Seq(variants(3))
        else Seq(variants(rnd.nextInt(variants.length)))
      picks.foreach(f => docs += f(b))
    }
    docs += Vector("one", "two")      // < 3 tokens: excluded
    docs += Vector.empty              // empty: excluded
    docs.zipWithIndex.map { case (t, i) => (i.toLong + 1, t.mkString(" ")) }.toSeq
  }

  private def trigrams(t: String): Set[String] = {
    val l = t.split(" ").filter(_.nonEmpty)
    if (l.length < 3) Set.empty else l.sliding(3).map(_.mkString(" ")).toSet
  }

  private def writeDocs(dir: String, texts: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    texts.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("setsimJoin equals brute force on seeded mutation corpora at two thresholds") {
    // the r16/r17 positional-filter work touched exactly this candidate
    // stage; the hand fixture pins one boundary size — this sweeps random
    // sizes and edit kinds at the default threshold and a second one with
    // a different ceil band (both verified float-ceil == rational-ceil
    // for every sz, so the candidate filters stay provably lossless)
    for (seed <- Seq(1, 7, 42); t <- Seq(0.7, 0.5)) {
      val texts = mutationCorpus(seed)
      val dir = fixtureDir(s"setsim_rand_$seed")
      writeDocs(dir, texts)
      val model = (for {
        (ia, ta) <- texts; (ib, tb) <- texts
        if ia < ib
        ga = trigrams(ta); gb = trigrams(tb)
        if ga.nonEmpty && gb.nonEmpty
        inter = (ga & gb).size
        j = BigDecimal(inter.toDouble / (ga.size + gb.size - inter))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if j >= t
      } yield (ia, ib, j)).toSet
      val got = TextQueries.setsimJoin(spark, dir, threshold = t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == model, s"seed=$seed t=$t missing=${model -- got} extra=${got -- model}")
      if (t == 0.7) {
        assert(model.exists(_._3 == 1.0), s"seed=$seed: no exact-dup pair")
        assert(model.exists(p => p._3 < 1.0), s"seed=$seed: no near-dup pair")
      }
    }
  }

  test("containmentJoin equals brute force on seeded mutation corpora at two thresholds") {
    for (seed <- Seq(1, 7, 42); t <- Seq(0.9, 0.75)) {
      val texts = mutationCorpus(seed)
      val dir = fixtureDir(s"contain_rand_$seed")
      writeDocs(dir, texts)
      val model = (for {
        (ia, ta) <- texts; (ib, tb) <- texts
        if ia != ib
        ga = trigrams(ta); gb = trigrams(tb)
        if ga.nonEmpty && gb.nonEmpty
        c = BigDecimal((ga & gb).size.toDouble / ga.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if c >= t
      } yield (ia, ib, c)).toSet
      val got = TextQueries.containmentJoin(spark, dir, threshold = t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == model, s"seed=$seed t=$t missing=${model -- got} extra=${got -- model}")
      if (t == 0.9) {
        // asymmetric near-dups must appear: sub→base at 1.0 while the
        // reverse direction sits strictly below 1.0
        assert(model.exists(_._3 == 1.0), s"seed=$seed: no full-containment pair")
        assert(model.exists(p => p._3 < 1.0), s"seed=$seed: no partial pair")
        assert(texts.exists { case (ia, ta) => texts.exists { case (ib, tb) =>
          val ga = trigrams(ta); val gb = trigrams(tb)
          ia != ib && ga.nonEmpty && gb.nonEmpty &&
            (ga & gb) == ga && (ga & gb) != gb
        }}, s"seed=$seed: no strictly-asymmetric subset pair")
      }
    }
  }

  test("gridIntersects/gridDWithin equal a brute-force nested loop on seeded random geometries") {
    // the grid forms carry the two devices a nested loop doesn't need —
    // the cell cover and the reference-point dedup — so they are the forms
    // that can silently drop or duplicate a pair. This sweeps seeded random
    // mixes (points, axis-aligned boxes, buffered polygons, a fat
    // multi-cell rectangle, exact duplicates, a NULL geometry) across cell
    // sizes smaller/comparable/larger than the geometry extents, with
    // NEGATIVE coordinates (floor at negative cells) and integer envelope
    // corners landing exactly on cell boundaries (the floor boundary), and
    // requires pair-list equality (no pair lost, none duplicated) with a
    // JTS nested loop over the collected sides.
    import org.apache.spark.sql.functions._
    import graft.functions.{st_buffer, st_makeenvelope, st_point}
    import spark.implicits._
    def geoms(seed: Int, prefix: String): org.apache.spark.sql.DataFrame = {
      val rnd = new scala.util.Random(seed)
      def c(): Double = rnd.nextDouble() * 140 - 40          // spans negatives
      def ci(): Double = (rnd.nextInt(29) - 8) * 5.0         // cell-aligned ints
      val pts = (0 until 12).map(i => (i.toLong, "pt", c(), c(), 0.0))
      val boxes = (12 until 22).map(i => (i.toLong, "box", c(), c(), 1.0 + rnd.nextDouble() * 9))
      val aligned = (22 until 26).map(i => (i.toLong, "box", ci(), ci(), 5.0)) // corners on cell edges
      val polys = (26 until 32).map(i => (i.toLong, "poly", c(), c(), 0.5 + rnd.nextDouble() * 4))
      val fat = Seq((32L, "box", -20.0, -15.0, 55.0))        // spans many 5-unit cells
      val dup = pts.take(2).map { case (id, k, x, y, s) => (id + 100, k, x, y, s) }
      val base = (pts ++ boxes ++ aligned ++ polys ++ fat ++ dup)
        .toDF("id", "kind", "x", "y", "s")
        .select(col("id").as(s"${prefix}_id"),
          when(col("kind") === "pt", st_point(col("x"), col("y")))
            .when(col("kind") === "box",
              st_makeenvelope(col("x"), col("y"), col("x") + col("s"), col("y") + col("s")))
            .otherwise(st_buffer(st_point(col("x"), col("y")), col("s")))
            .as(s"${prefix}_geom"))
      val nullRow = Seq(999L).toDF(s"${prefix}_id")
        .select(col(s"${prefix}_id"), lit(null).cast("binary").as(s"${prefix}_geom"))
      base.unionByName(nullRow)
    }
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def truth(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame,
              d: Option[Double]): Seq[(Long, Long)] =
      BruteForceJoin.pairs(l, r, "l_geom", "r_geom", d)
        .map { case (a, b) => (a.getLong(0), b.getLong(0)) }.sorted
    val ids = Seq(col("l_id"), col("r_id"))
    for (seed <- Seq(3, 11)) {
      val l = geoms(seed, "l")
      val r = geoms(seed + 50, "r")
      val want = truth(l, r, None)
      assert(want.nonEmpty, s"seed=$seed: intersects fixture found nothing")
      for (cs <- Seq(2.5, 5.0, 60.0)) {
        val got = pairs(SpatialJoin.gridIntersects(l, r, col("l_geom"), col("r_geom"), cs, ids))
        assert(got == want,
          s"seed=$seed cell=$cs: missing=${want diff got} extra=${got diff want}")
      }
      for (d <- Seq(0.0, 3.7); cs <- Seq(2.5, 60.0)) {
        val wantD = truth(l, r, Some(d))
        val gotD = pairs(SpatialJoin.gridDWithin(l, r, col("l_geom"), col("r_geom"),
          lit(d), cs, ids))
        assert(gotD == wantD,
          s"seed=$seed d=$d cell=$cs: missing=${wantD diff gotD} extra=${gotD diff wantD}")
      }
    }
  }

  test("sessionize island method == native session_window at the EXACT gap boundary") {
    // the two registered sessionizations are different physical operators
    // with the same contract; the island rule starts a new session when
    // tms − prev > gap (boundary row MERGES), and Spark's session_window
    // merges inclusively at start == previous end — verified equal here at
    // exactly gap, gap±1 ms, and same-instant events, because the corpus
    // never lands a pair on the exact boundary and a future engine change
    // to strict comparison would otherwise slip through the oracle gate
    import spark.implicits._
    val gapMs = 4L * 3600 * 1000
    val base = 1700000000000L
    def ns(ms: Long): Long = ms * 1000000L
    val rows = Seq(
      (1L, ns(base), 1L), (2L, ns(base + gapMs), 1L),          // exactly gap: merge
      (3L, ns(base), 2L), (4L, ns(base + gapMs + 1), 2L),      // gap+1: split
      (5L, ns(base), 3L), (6L, ns(base + gapMs - 1), 3L),      // gap−1: merge
      (7L, ns(base), 4L), (8L, ns(base), 4L),                  // same instant: merge
      (9L, ns(base), 5L), (10L, ns(base + gapMs), 5L),         // chain: each step at
      (11L, ns(base + 2 * gapMs), 5L),                         //   the boundary: one session
      // watermark sentinel: an event 30 days out pushes the streaming
      // engines' final watermark far past every boundary session's
      // close+gap, so the streaming half of this pin actually emits
      (12L, ns(base + 30L * 24 * 3600 * 1000), 99L))
    val dir = fixtureDir("session_boundary")
    // single FILE named events.parquet (not a parquet directory): the
    // streaming source that replays this fixture filters on that exact
    // file name, mirroring the testdata layout
    rows.map { case (id, t, u) => (id, t, u, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_stage")
    val part = new java.io.File(s"$dir/_stage").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val tgt = java.nio.file.Paths.get(s"$dir/events.parquet")
    if (java.nio.file.Files.isDirectory(tgt)) {
      val walk = java.nio.file.Files.walk(tgt)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
    java.nio.file.Files.copy(part.toPath, tgt,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val island = SessionQueries.sessionize(spark, dir).collect()
      .map(r => r.getLong(0)).groupBy(identity).view.mapValues(_.length).toMap
    val native = SessionQueries.sessionWindowAgg(spark, dir).collect()
      .map(r => r.getLong(0)).groupBy(identity).view.mapValues(_.length).toMap
    assert(island == native, s"island=$island native=$native")
    assert(island == Map(1L -> 1, 2L -> 2, 3L -> 1, 4L -> 1, 5L -> 1, 99L -> 1), island)
  }

  test("streaming sessionizations agree with the batch island rule at the exact gap boundary") {
    // the custom flatMapGroupsWithState sessionizer and the native
    // streaming session_window carry their OWN gap comparisons; replay
    // the batch boundary fixture through both real streaming engines and
    // require the same per-user session counts the island rule produced
    import graft.streaming.StreamQueries
    val dir = fixtureDir("session_boundary") // written by the batch boundary test
    assert(new java.io.File(s"$dir/events.parquet").exists(),
      "batch boundary fixture must run first (suite order)")
    // the sentinel user's own session closes only at end-of-stream, so
    // the streaming engines (append mode: emit once the watermark passes)
    // may or may not include it depending on final-batch semantics —
    // compare the BOUNDARY users only
    val want = Map(1L -> 1, 2L -> 2, 3L -> 1, 4L -> 1, 5L -> 1)
    def perUser(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.collect().map(_.getLong(0)).filter(_ != 99L)
        .groupBy(identity).view.mapValues(_.length).toMap
    assert(perUser(StreamQueries.streamSessionize(spark, dir)) == want,
      "flatMapGroupsWithState sessionizer diverges at the gap boundary")
    assert(perUser(StreamQueries.streamSessionWindow(spark, dir)) == want,
      "streaming session_window diverges at the gap boundary")
  }

  test("intervalUnion and maxConcurrency equal sequential sweeps on quantized touching/nested spans") {
    // both operators' oracles replay the same window formulation, so a
    // boundary-convention bug would cancel; this pins them against plain
    // sequential folds on seeded corpora QUANTIZED to half the span, so
    // exact-touching intervals (merge), nested spans, duplicate
    // timestamps, and zero-length day-spans (a user's single event:
    // +1/−1 at the same instant) all occur constantly — none of which the
    // corpus's random-nanosecond times ever produce
    import spark.implicits._
    val spanMs = 1800000L
    val dayMs = 86400000L
    for (seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      val base = 1700000000000L - (1700000000000L % dayMs) // day-aligned
      val rows = (1 to 120).map { i =>
        val u = 1L + rnd.nextInt(5)
        // half-span grid over ~2.5 days => touching and day-crossing spans
        val tms = base + rnd.nextInt(120) * (spanMs / 2)
        (i.toLong, tms, u)
      } :+ ((121L, base + 37 * (spanMs / 2), 6L)) // singleton user: 1-event day span
      val dir = fixtureDir(s"interval_rand_$seed")
      rows.map { case (id, tms, u) => (id, tms * 1000000L, u, "view", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")

      // intervalUnion model: per-user sweep, new segment iff tms > max end
      val wantIu = rows.groupBy(_._3).map { case (u, rs) =>
        val srt = rs.sortBy(r => (r._2, r._1))
        var segs = List.empty[(Long, Long, Long)] // (minT, maxEnd, n)
        srt.foreach { r =>
          val end = r._2 + spanMs
          segs = segs match {
            case (s, e, n) :: rest if r._2 <= e => (s, math.max(e, end), n + 1L) :: rest
            case _ => (r._2, end, 1L) :: segs
          }
        }
        (u, srt.size.toLong, segs.size.toLong, segs.map(s => s._2 - s._1).sum)
      }.toSet
      val gotIu = SessionQueries.intervalUnion(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(gotIu == wantIu, s"seed=$seed intervalUnion: got=$gotIu want=$wantIu")
      // the quantization must actually produce an exact-touching merge
      // (covered > naive disjoint sum for some user) and >1 segment somewhere
      assert(wantIu.exists(_._3 > 1L) && wantIu.exists(t => t._3 < t._2), wantIu)

      // maxConcurrency model: per (user, day) closed span [min,max]; sweep
      // per day ordered (t asc, +1 before −1): touching endpoints overlap
      val spans = rows.groupBy(r => (r._3, r._2 / dayMs)).map { case ((u, d), rs) =>
        (d, rs.map(_._2).min, rs.map(_._2).max)
      }.toSeq
      val wantMc = spans.groupBy(_._1).map { case (d, ss) =>
        val pts = ss.flatMap(s => Seq((s._2, 1L), (s._3, -1L)))
          .sortBy(p => (p._1, -p._2))
        var live = 0L; var mx = 0L
        pts.foreach { p => live += p._2; mx = math.max(mx, live) }
        (d, ss.size.toLong, mx)
      }.toSet
      val gotMc = SessionQueries.maxConcurrency(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(gotMc == wantMc, s"seed=$seed maxConcurrency: got=$gotMc want=$wantMc")
      assert(wantMc.exists(_._3 > 1L), s"seed=$seed: no concurrency exercised")
    }
  }

  test("streaks and twap equal sequential references on duplicate days, tied timestamps, and zero spans") {
    // streaks' day−row_number anchor and twap's lead-duration weighting
    // against plain sequential walks, on corpora built to hit the edges:
    // the same day logged many times (distinct must collapse), exactly-
    // consecutive days vs one-day gaps, users active a single day,
    // duplicate (tms) ties broken by event_id, and zero-span users
    // (every event at one instant ⇒ twap falls back to last_cents)
    import spark.implicits._
    val dayNs = 86400000000000L
    for (seed <- Seq(9, 31)) {
      val rnd = new scala.util.Random(seed)
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
      var id = 0L
      for (u <- 1L to 6L) {
        val nDays = 1 + rnd.nextInt(8)
        var day = 19000L + rnd.nextInt(10)
        (0 until nDays).foreach { _ =>
          val perDay = 1 + rnd.nextInt(3)
          val baseMs = rnd.nextInt(80000000)
          (0 until perDay).foreach { j =>
            id += 1
            // every other extra event reuses the EXACT same timestamp
            val ms = if (j % 2 == 1) baseMs else baseMs + rnd.nextInt(3600000)
            rows += ((id, day * dayNs + ms * 1000000L, u,
              (100 + rnd.nextInt(900)) / 100.0 * 100 / 100.0))
          }
          day += 1 + rnd.nextInt(2) // gap 1 (consecutive) or 2 (break)
        }
      }
      id += 1; rows += ((id, 19020L * dayNs + 5000L * 1000000L, 7L, 3.21)) // single event
      id += 1
      rows += ((id, 19021L * dayNs, 8L, 1.11)) // zero-span pair: both at the
      id += 1; rows += ((id, 19021L * dayNs, 8L, 2.22)) //   exact same instant
      val dir = fixtureDir(s"streak_twap_$seed")
      rows.toSeq.map { case (i, ts, u, v) => (i, ts, u, "view", v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")

      val wantStreaks = rows.groupBy(_._3).map { case (u, rs) =>
        val days = rs.map(r => r._2 / dayNs).distinct.sorted
        // run-length walk over the distinct sorted days
        var streaks = List.empty[Long]; var prev = Long.MinValue
        days.foreach { d =>
          if (d == prev + 1) streaks = (streaks.head + 1) :: streaks.tail
          else streaks = 1L :: streaks
          prev = d
        }
        (u, days.size.toLong, streaks.size.toLong, streaks.max)
      }.toSet
      val gotStreaks = SessionQueries.streaks(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(gotStreaks == wantStreaks, s"seed=$seed streaks: got=$gotStreaks want=$wantStreaks")
      assert(wantStreaks.exists(_._4 > 1L) && wantStreaks.exists(_._3 > 1L), wantStreaks)

      val wantTwap = rows.groupBy(_._3).map { case (u, rs) =>
        val srt = rs.toSeq.map(r => (r._2 / 1000000L, r._1,
          math.floor(r._4 * 100 + 0.5).toLong)).sortBy(t => (t._1, t._2))
        val durs = srt.zipWithIndex.map { case ((t, _, _), i) =>
          if (i == srt.size - 1) 0L else srt(i + 1)._1 - t
        }
        val mass = srt.zip(durs).map { case ((_, _, c), d) => c * d }.sum
        val span = durs.sum
        val twapC = if (span == 0L) srt.last._3 else mass / span
        (u, srt.size.toLong, mass, span, twapC)
      }.toSet
      val gotTwap = SessionQueries.twap(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(gotTwap == wantTwap, s"seed=$seed twap: got=$gotTwap want=$wantTwap")
      // zero-span fallback actually exercised
      assert(wantTwap.exists(t => t._4 == 0L && t._2 > 1L), wantTwap)
    }
  }

  test("resample LOCF/linear equal sequential fills incl. falling segments and non-divisible gaps") {
    // the linear form's sign-split DIV device claims "truncate toward
    // v_prev" on both slopes; plain Scala Long division (truncation
    // toward zero on the signed delta) is the independent statement of
    // that contract. Corpora force what the random corpus rarely gives:
    // FALLING segments (the negative branch), gaps whose value delta is
    // not divisible by the hour delta (truncation visible), multiple
    // events collapsing into one hour via max, and single-observation
    // users (a grid of one point; both fills degenerate to the sample).
    import spark.implicits._
    val hourNs = 3600000000000L
    for (seed <- Seq(13, 29)) {
      val rnd = new scala.util.Random(seed)
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
      var id = 0L
      for (u <- 1L to 5L) {
        var hour = 500000L + rnd.nextInt(50)
        val nObs = 1 + rnd.nextInt(6)
        (0 until nObs).foreach { _ =>
          val perHour = 1 + rnd.nextInt(2)
          (0 until perHour).foreach { _ =>
            id += 1
            val micros = (rnd.nextInt(2000000) - 1000000).toLong // rises AND falls
            rows += ((id, hour * hourNs + rnd.nextInt(3600000) * 1000000L, u,
              micros / 1e6))
          }
          hour += 1 + rnd.nextInt(6) // gaps 1..6 hours
        }
      }
      val dir = fixtureDir(s"resample_rand_$seed")
      rows.toSeq.map { case (i, ts, u, v) => (i, ts, u, "view", v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")

      // shared hourly reduction: max micros per (user, hour)
      val hourly = rows.groupBy(r => (r._3, r._2 / hourNs)).map { case ((u, h), rs) =>
        ((u, h), rs.map(r => math.floor(r._4 * 1000000 + 0.5).toLong).max)
      }
      val byUser = hourly.groupBy(_._1._1)
      def gridOf(obs: Map[Long, Long]): Seq[Long] = (obs.keys.min to obs.keys.max).toSeq

      val wantLocf = byUser.map { case (u, m) =>
        val obs = m.map { case ((_, h), v) => h -> v }
        val grid = gridOf(obs)
        var cur = 0L
        val fills = grid.map { h => obs.get(h).foreach(cur = _); cur }
        (u, grid.size.toLong, obs.size.toLong, fills.sum)
      }.toSet
      val gotLocf = SessionQueries.resampleLocf(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(gotLocf == wantLocf, s"seed=$seed locf: got=$gotLocf want=$wantLocf")

      val wantLin = byUser.map { case (u, m) =>
        val obs = m.map { case ((_, h), v) => h -> v }
        val grid = gridOf(obs)
        val hs = obs.keys.toSeq.sorted
        val fills = grid.map { h =>
          obs.getOrElse(h, {
            val hp = hs.filter(_ < h).max; val hn = hs.filter(_ > h).min
            val vp = obs(hp); val vn = obs(hn)
            vp + ((vn - vp) * (h - hp)) / (hn - hp) // Scala /: truncates toward vp
          })
        }
        (u, grid.size.toLong, obs.size.toLong, fills.sum)
      }.toSet
      val gotLin = SessionQueries.resampleLinear(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(gotLin == wantLin, s"seed=$seed linear: got=$gotLin want=$wantLin")
      // the corpora must really exercise the claims
      assert(byUser.exists { case (_, m) =>
        val vs = m.toSeq.sortBy(_._1._2).map(_._2)
        vs.zip(vs.tail).exists { case (a, b) => b < a }
      }, "no falling segment generated")
      assert(wantLin != wantLocf, "linear and LOCF coincide — gaps not exercised")
    }
  }

  test("pitJoin boundary probe resolves to exactly ONE version — the one starting at that instant") {
    // the SCD2 intervals are half-open [valid_from, valid_to); a probe
    // landing EXACTLY on a version boundary must match only the newer
    // version — an inclusive-both-ends convention would double-count the
    // probe into both versions, and the +30-minute probe shift never
    // lands on a boundary in the random-nanosecond corpus. The fixture
    // aligns one event 30 minutes before a state change so its probe
    // hits the boundary instant dead on.
    import spark.implicits._
    val m30 = 1800000L
    val t0 = 1700000000000L
    def ns(ms: Long): Long = ms * 1000000L
    val rows = Seq(
      (1L, ns(t0), 1L, "a"),            // version 1 "a" starts at t0
      (2L, ns(t0 + m30), 1L, "a"),      // probe = t0+60min == version 2 valid_from
      (3L, ns(t0 + 2 * m30), 1L, "b"),  // state change: version 2 "b" from t0+60min
      (4L, ns(t0 + 3 * m30), 1L, "b"),
      (5L, ns(t0), 2L, "x"))            // single open version
    val dir = fixtureDir("pit_boundary")
    rows.map { case (id, ts, u, st) => (id, ts, u, st, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SessionQueries.pitJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    val want = Set(
      (1L, 1L, "a", 1L),  // only e1's probe (t0+30min) stays in version 1
      (1L, 2L, "b", 3L),  // e2's boundary probe joins e3/e4's in version 2
      (2L, 1L, "x", 1L))
    assert(got == want, s"got=$got want=$want")
    // disjointness invariant: every probe resolved exactly once
    assert(got.toSeq.map(_._4).sum == rows.size, got)
  }

  test("funnel/timeToConvert/retention window boundaries: strict lower, inclusive upper, midnight day edge") {
    // the conversion predicates are half-open in exactly one direction —
    // funnel counts a click in (v, v+W], timeToConvert a purchase
    // STRICTLY after the first signup, retention a (user, day+1) return
    // where day is epoch-day integer division. Events exactly ON each
    // edge (same-instant click, click at exactly v+W and v+W+1,
    // purchase at the signup instant, one millisecond before midnight
    // vs exactly midnight) pin each convention.
    import spark.implicits._
    val T = 1700000000000L
    val W = 3600000L
    val dayMs = 86400000L
    def ns(ms: Long): Long = ms * 1000000L
    val rows = Seq(
      (1L, "view", T), (2L, "click", T),            // u1: same instant — NOT converted
      (3L, "view", T), (4L, "click", T + W),        // u2: exactly v+W — converted
      (5L, "view", T), (6L, "click", T + W + 1),    // u3: one ms past — NOT converted
      (7L, "view", T + 100), (8L, "click", T),      // u4: click before first view — NOT
      (9L, "signup", T), (10L, "purchase", T),      // u5: same-instant purchase excluded,
      (11L, "purchase", T + 10),                    //     converts 10 ms later
      (12L, "signup", T), (13L, "purchase", T + 20),// u6: delta 20
      (14L, "signup", T), (15L, "purchase", T - 5), // u7: purchase BEFORE signup only
      // u8: last ms of day D, then exactly midnight — day boundary retained
      (16L, "view", 19701L * dayMs - 1), (17L, "view", 19701L * dayMs),
      // u9: day D then D+2 — not retained
      (18L, "view", 19701L * dayMs - 1), (19L, "view", 19703L * dayMs))
    val users = Map(1L->1L,2L->1L,3L->2L,4L->2L,5L->3L,6L->3L,7L->4L,8L->4L,
      9L->5L,10L->5L,11L->5L,12L->6L,13L->6L,14L->7L,15L->7L,
      16L->8L,17L->8L,18L->9L,19L->9L)
    val dir = fixtureDir("convert_boundary")
    rows.map { case (id, et, tms) => (id, ns(tms), users(id), et, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val fun = SessionQueries.funnel(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // users 8/9 are viewers too (their day-boundary events are views)
    assert(fun == Set((1L, 1L, 0L), (2L, 1L, 1L), (3L, 1L, 0L), (4L, 1L, 0L),
      (8L, 1L, 0L), (9L, 1L, 0L)), fun)

    val ttc = SessionQueries.timeToConvert(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(ttc.toSeq == Seq((2L, 10L, 10L, 20L, 30L)), ttc.toSeq)

    // retention model: generic fold over the fixture (the conversion
    // users' single active day rides along with n_retained = 0)
    val active = rows.map { case (id, _, tms) => (users(id), tms / dayMs) }.distinct
    val byDay = active.groupBy(_._2).map { case (d, us) =>
      (d, us.size.toLong,
        us.count { case (u, _) => active.contains((u, d + 1)) }.toLong)
    }.toSet
    val ret = SessionQueries.retention(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ret == byDay, s"got=$ret want=$byDay")
    // the midnight edge really split the days and really retained
    assert(byDay.exists { case (d, _, r2) => d == 19700L && r2 == 1L }, byDay)
  }

  test("activeUsers/ewma/decayCount equal generic folds at the 7-day edge, 8-tap head, dyadic weights") {
    // WAU's contribution explode must include a user active EXACTLY six
    // days before the window end and exclude seven; ewma's 8-tap dyadic
    // warm-up zero-fills missing lags and drops the 9th-oldest event;
    // decayCount's 2^(day−maxDay) weights are dyadic rationals that sum
    // exactly. All three checked against plain folds over one fixture.
    import spark.implicits._
    val dayNs = 86400000000000L
    val D = 19800L
    val rows = Seq( // (event_id, day, ms_in_day, user, type, value)
      (1L, D, 0L, 1L, "view", 1.00),        // u1 active D and D+6: in D+6's window,
      (2L, D + 6, 0L, 1L, "view", 2.00),    //   counted once there (distinct)
      (3L, D, 1L, 2L, "view", 3.00),        // u2 only D: boundary contributor to D+6,
                                            //   absent from D+7
      (4L, D + 7, 0L, 3L, "view", 4.00),    // u3 extends the grid past D+6
      // u4: ten escalating-cent events on distinct instants — the 8-tap
      // window truncates the two oldest at the last event
      ) ++ (0 until 10).map(j =>
        (10L + j, D + 2, 1000L + j, 4L, "click", (1 << j) / 100.0)
      ) ++ Seq(
      // u5: two events at the SAME instant — tap order is the event_id tie
      (30L, D + 3, 500L, 5L, "click", 1.00),
      (31L, D + 3, 500L, 5L, "click", 2.00))
    val dir = fixtureDir("rolling_boundary")
    rows.map { case (id, day, ms, u, et, v) =>
      (id, day * dayNs + ms * 1000000L, u, et, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    // WAU model
    val act = rows.map(r => (r._4, r._2)).distinct
    val (loD, hiD) = (act.map(_._2).min + 6, act.map(_._2).max)
    val wantWau = (loD to hiD).map { d =>
      (d, act.filter(p => p._2 >= d - 6 && p._2 <= d).map(_._1).distinct.size.toLong)
    }.filter(_._2 > 0).toSet
    val gotWau = SessionQueries.activeUsers(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotWau == wantWau, s"got=$gotWau want=$wantWau")
    // u2 (active only on day D) is IN the D+6 window — exactly six days
    // before the end — and OUT of D+7's: u1,u2,u4,u5 then u1,u3,u4,u5
    assert(wantWau.exists(p => p._1 == D + 6 && p._2 == 4L), wantWau)
    assert(wantWau.exists(p => p._1 == D + 7 && p._2 == 4L), wantWau)

    // ewma model: per user ordered by (tms, event_id), 8 dyadic taps
    val wantEwma = rows.groupBy(_._4).map { case (u, rs) =>
      val cents = rs.sortBy(r => (r._2 * 86400000L + r._3, r._1))
        .map(r => math.floor(r._6 * 100 + 0.5).toLong)
      val ws = cents.indices.map { i =>
        (0 until 8).map(j => if (i - j >= 0) cents(i - j) << (7 - j) else 0L).sum
      }
      (u, cents.size.toLong, ws.last, ws.sum)
    }.toSet
    val gotEwma = SessionQueries.ewma(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotEwma == wantEwma, s"got=$gotEwma want=$wantEwma")

    // decayCount model: exact dyadic sum per type
    val maxDay = rows.map(_._2).max
    val wantDecay = rows.groupBy(_._5).map { case (et, rs) =>
      (et, rs.size.toLong, rs.map(r => math.pow(2.0, (r._2 - maxDay).toDouble)).sum)
    }.toSet
    val gotDecay = SessionQueries.decayCount(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotDecay == wantDecay, s"got=$gotDecay want=$wantDecay")
  }

  test("attribution's strictly-preceding frame: same-instant touches split by event_id") {
    // a touch at the SAME millisecond as the purchase is in the frame iff
    // its event_id is smaller — the (tms, event_id) total order is the
    // tie rule, not wall time alone; a same-instant touch AFTER the
    // purchase in id order must not steal credit from 'organic'
    import spark.implicits._
    val T = 1700000000000L
    def ns(ms: Long): Long = ms * 1000000L
    val rows = Seq( // (event_id, tms, user, type, value)
      (1L, T, 1L, "view", 1.0), (2L, T + 10, 1L, "click", 1.0),
      (3L, T + 20, 1L, "purchase", 1.00),
      (11L, T, 2L, "view", 1.0), (12L, T, 2L, "purchase", 2.00), // same instant, view first
      (21L, T, 3L, "purchase", 3.00), (22L, T, 3L, "view", 1.0), // view AFTER by id: organic
      (31L, T, 4L, "purchase", 4.00),                            // no touch at all
      (41L, T, 5L, "click", 1.0), (42L, T + 1, 5L, "purchase", 5.00),
      (43L, T + 2, 5L, "view", 1.0), (44L, T + 3, 5L, "purchase", 6.00))
    val dir = fixtureDir("attribution_boundary")
    rows.map { case (id, tms, u, et, v) => (id, ns(tms), u, et, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SessionQueries.attribution(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val want = Set(
      ("first", "view", 2L, 300L),    // u1 (100) + u2's same-instant view (200)
      ("first", "click", 2L, 1100L),  // both of u5's purchases first-touch the click
      ("first", "organic", 2L, 700L), // u3 (same-instant view too LATE) + u4
      ("last", "click", 2L, 600L),    // u1 (100) + u5's first purchase (500)
      ("last", "view", 2L, 800L),     // u2 (200) + u5's second purchase (600)
      ("last", "organic", 2L, 700L))
    assert(got == want, s"got=$got want=$want")
  }

  test("windowRange RANGE frame: inclusive trailing edge and same-tms peer inclusion") {
    // two RANGE-frame conventions ROWS frames don't have: an event
    // EXACTLY 3600000 ms earlier is inside the trailing frame (inclusive
    // lower bound), and same-tms rows are PEERS — each sees the other's
    // value regardless of event_id order. The corpus's random-nanosecond
    // times exercise neither; the model is a plain per-row scan.
    import spark.implicits._
    val T = 1700000000000L
    val H = 3600000L
    def ns(ms: Long): Long = ms * 1000000L
    val rows = Seq( // (event_id, tms, user, value)
      (1L, T, 1L, 1.25),
      (2L, T + H, 1L, 2.50),      // exactly one hour later: frame includes e1
      (3L, T + H + 1, 1L, 4.00),  // one ms past: e1 aged out, e2 in
      (4L, T, 2L, 1.00), (5L, T, 2L, 2.00), // same-instant peers: both see 3.00
      (6L, T + 10, 2L, 4.00))
    val dir = fixtureDir("range_frame_boundary")
    rows.map { case (id, tms, u, v) => (id, ns(tms), u, "view", v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SessionQueries.windowRange(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = rows.map { case (id, tms, u, _) =>
      val s = rows.filter(o => o._3 == u && o._2 >= tms - H && o._2 <= tms)
        .map(o => BigDecimal(o._4)).sum
      (u, id, s.toDouble)
    }.toSet
    assert(got == want, s"got=$got want=$want")
    // the claims really happened: e2 summed e1; e3 did not; peers symmetric
    assert(want.contains((1L, 2L, 3.75)) && want.contains((1L, 3L, 6.5)), want)
    assert(want.contains((2L, 4L, 3.0)) && want.contains((2L, 5L, 3.0)), want)
  }

  test("weightedMedian TeraSort form equals the definitional rule, incl. a NULL group") {
    // the r15 rework replaced the per-group window with range-shuffle +
    // partition-local running weights + broadcast offsets; this pins the
    // join-back against hand-walked definitional arithmetic on the edges
    // the corpus lacks: a NULL group key (a legitimate window partition —
    // the join-back uses <=> so it must survive), cents ties broken by
    // event_id, a weight-skewed group, and a null value row (excluded)
    import spark.implicits._
    val rows = Seq(
      (1L, 0L, 0L, Option("a"), Option(1.00)),  // w=1, c=100
      (2L, 0L, 4L, Option("a"), Option(2.00)),  // w=5, c=200
      (3L, 0L, 2L, Option("a"), Option(3.00)),  // w=3, c=300
      (4L, 0L, 1L, Option("b"), Option(5.00)),  // w=2, c=500 (tie)
      (5L, 0L, 1L, Option("b"), Option(5.00)),  // w=2, c=500 (tie)
      (6L, 0L, 0L, Option("b"), Option(4.00)),  // w=1, c=400
      (7L, 0L, 3L, Option.empty[String], Option(9.00)), // NULL group, w=4
      (8L, 0L, 1L, Option.empty[String], Option(7.00)), // NULL group, w=2
      (9L, 0L, 0L, Option("a"), Option.empty[Double]))  // null value: excluded
    val dir = fixtureDir("wmedian")
    rows.map { case (id, ts, u, et, v) => (id, ts, u, et.orNull, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = RelationalQueries.weightedMedian(spark, dir).collect().map(r =>
      (Option(r.getString(0)), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // hand-walk: a -> cum 1,6,9 of total 9, doubling at c=200 (2 rows at/after);
    // b -> cum 1,3,5 of total 5, doubling at c=500 (2 rows); NULL -> cum 2,6
    // of total 6, doubling at c=900 (1 row)
    val want = Set(
      (Option("a"), 200L, 9L, 2L),
      (Option("b"), 500L, 5L, 2L),
      (Option.empty[String], 900L, 6L, 1L))
    assert(got == want, s"got=$got want=$want")
  }
}
