package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The spark.sql.extensions injection path (the reference's Sedona
  * mechanism), graft's one installer: a session built with the extension
  * class resolves every entry of the SQL function table from SQL text. */
class GraftSparkExtensionsSpec extends AnyFunSuite {

  /** Runs `body` on a fresh session over the shared context that gets the
    * graft surface from the extension. spark.sql.extensions is a STATIC
    * conf: it must be on the SparkContext (set by the first builder of the
    * JVM — SparkFixture); a
    * fresh session over that context re-applies the extension injections. */
  private def withExtensionSession(body: SparkSession => Unit): Unit = {
    graft.SparkFixture.spark // ensure the context (with the static conf) exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Session.local(2)
    s.sparkContext.setLogLevel("ERROR")
    try body(s)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("session built with graft.GraftSparkExtensions resolves st_* in SQL") {
    withExtensionSession { s =>
      val r = s.sql(
        """SELECT st_area(st_buffer(st_geomfromwkt('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'), 0.0D)) AS a,
          |       hamming64(simhash64('abc', 3), simhash64('abc', 3)) AS h""".stripMargin).head()
      assert(r.getDouble(0) == 4.0)
      assert(r.getInt(1) == 0)
      val agg = s.sql(
        """SELECT st_area(st_union_agg(g)) AS a FROM (
          |  SELECT st_geomfromwkt('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))') AS g
          |  UNION ALL SELECT st_geomfromwkt('POLYGON ((2 0, 3 0, 3 1, 2 1, 2 0))'))""".stripMargin).head()
      assert(agg.getDouble(0) == 2.0)
      // CollapseStTransforms: a chained reprojection over a NON-foldable
      // geometry (all-literal input would be constant-folded away first)
      // optimizes to a single st_transform, and the collapsed 3857->3857
      // trip is exact identity
      val chained = s.sql(
        """SELECT st_astext(st_transform(st_transform(p, 'EPSG:3857', 'EPSG:5880'),
          |                              'EPSG:5880', 'EPSG:3857')) AS t
          |FROM (SELECT st_point(CAST(id AS DOUBLE) - 5193566.0D, -2698813.0D) AS p
          |      FROM range(1))""".stripMargin)
      val optimized = chained.queryExecution.optimizedPlan.toString
      assert("st_transform".r.findAllIn(optimized).size == 1,
        s"chained transforms should collapse to one:\n$optimized")
      assert(chained.head().getString(0) == "POINT (-5193566 -2698813)")
      // SpatialJoinStrategy also arrives via the extension: an
      // st_intersects join over SQL text plans the R-tree operator, not
      // BroadcastNestedLoopJoin
      val join = s.sql(
        """SELECT /*+ BROADCAST(b) */ count(*) AS n
          |FROM (SELECT st_makeenvelope(0.0D, 0.0D, 1.0D, 1.0D) AS ga) a
          |JOIN (SELECT st_makeenvelope(0.5D, 0.5D, 2.0D, 2.0D) AS gb) b
          |  ON st_intersects(ga, gb)""".stripMargin)
      assert(join.queryExecution.sparkPlan.toString.contains("BroadcastRTreeSpatialJoin"),
        join.queryExecution.sparkPlan.toString.take(1200))
      assert(join.head().getLong(0) == 1L)
      // st_dwithin and the bloom runtime-filter pair resolve in SQL text
      val parity = s.sql(
        """SELECT st_dwithin(st_point(0.0D, 0.0D), st_point(3.0D, 4.0D), 5.0D) AS d,
          |  might_contain((SELECT bloom_filter_agg(xxhash64(x)) FROM range(50) t(x)),
          |                xxhash64(CAST(7 AS BIGINT))) AS hit""".stripMargin).head()
      assert(parity.getBoolean(0) && parity.getBoolean(1))
      // a corpus pipeline in PURE SQL text: build the count-min sketch in
      // a scalar subquery, probe it per key, check the one-sided contract
      // against exact counts — no Column API anywhere
      graft.ops.Tables.events(s, "/root/testdata/sf0.001")
        .createOrReplaceTempView("ev_sql")
      val cms = s.sql(
        """SELECT event_type, count(*) AS n,
          |  cms_estimate((SELECT cms_agg(event_type) FROM ev_sql), event_type) AS est
          |FROM ev_sql GROUP BY event_type""".stripMargin).collect()
      assert(cms.nonEmpty && cms.forall(r => r.getLong(2) >= r.getLong(1)))
      // kmv_agg in pure SQL: over range(0..9) with k=4 the sketch is
      // exactly the 4 smallest values — deterministic, no estimator slack
      val kmv = s.sql(
        "SELECT kmv_agg(CAST(x AS BIGINT), 4) AS sk FROM range(10) t(x)").head()
      assert(kmv.getSeq[Long](0) == Seq(0L, 1L, 2L, 3L))
      // mrl_agg in pure SQL: k larger than the stream keeps every value
      // at level 0 (weight 1) — the summary IS the sorted stream
      val mrl = s.sql(
        "SELECT mrl_agg(CAST(x AS BIGINT), 64) AS sk FROM range(10) t(x)").head()
      val pairs = mrl.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs == (0L until 10L).map((_, 1L)))
      s.catalog.dropTempView("ev_sql")
      // explode_ngrams is a GENERATOR: in SQL text it fans one row out to
      // len-n+1 rows via LATERAL VIEW, with 1-based positions and
      // code-point substrings
      val gen = s.sql(
        """SELECT pos, gram FROM (SELECT 'abcd' AS t)
          |LATERAL VIEW explode_ngrams(t, 3) AS pos, gram
          |ORDER BY pos""".stripMargin).collect()
      assert(gen.map(r => (r.getInt(0), r.getString(1))).toSeq ==
        Seq((1, "abc"), (2, "bcd")))
      // and in projection position with a multi-alias (ExtractGenerator)
      val gen2 = s.sql(
        "SELECT explode_ngrams('abc', 2) AS (pos, gram)").collect()
      assert(gen2.map(r => (r.getInt(0), r.getString(1))).toSeq ==
        Seq((1, "ab"), (2, "bc")))
      // graft_series is a TABLE FUNCTION (injectTableFunction): it must
      // plan as the catalyst Range node — no data source, no exchange —
      // and honor start/end/step semantics including negative steps
      val tvf = s.sql("SELECT id FROM graft_series(3, 9, 2) ORDER BY id")
      assert(tvf.queryExecution.optimizedPlan.toString.contains("Range"),
        tvf.queryExecution.optimizedPlan.toString)
      assert(tvf.collect().map(_.getLong(0)).toSeq == Seq(3L, 5L, 7L))
      assert(s.sql("SELECT id FROM graft_series(5, 2, -2) ORDER BY id")
        .collect().map(_.getLong(0)).toSeq == Seq(3L, 5L))
      // resolution-time validation: non-literal args and step=0 are
      // analysis-time failures, not runtime ones
      assert(intercept[Exception](
        s.sql("SELECT id FROM graft_series(0, 10, 0)")).getMessage
        .contains("step"))
    }
  }

  test("the SQL function table resolves whole on an extension-only session") {
    withExtensionSession { s =>
      val names = graft.functions.sqlFunctions.map(_._1)
      assert(names.distinct == names, s"duplicate names: ${names.diff(names.distinct)}")
      val missing = names.filterNot(s.catalog.functionExists)
      assert(missing.isEmpty, s"not resolvable: $missing")
      Seq(
        "SELECT st_envelope_bounds(st_geomfromwkt('LINESTRING (1 2, 4 -3)')) AS b",
        "SELECT st_distance_geodesic(st_point(0.0D, 0.0D), st_point(1.0D, 1.0D)) AS d",
        "SELECT mg_agg(CAST(x % 3 AS BIGINT), 4) AS m FROM range(30) t(x)",
        """SELECT mrl_merge_agg(sk, 64) AS m FROM (
          |  SELECT mrl_agg(CAST(x AS BIGINT), 64) AS sk FROM range(10) t(x)
          |  GROUP BY x % 2)""".stripMargin,
        """SELECT kmv_merge_agg(sk, 4) AS m FROM (
          |  SELECT kmv_agg(CAST(x AS BIGINT), 4) AS sk FROM range(10) t(x)
          |  GROUP BY x % 2)""".stripMargin
      ).foreach { sql =>
        val viaExtension = s.sql(sql).collect().toSeq
        assert(viaExtension.size == 1 && !viaExtension.head.isNullAt(0), sql)
      }
    }
  }

  test("every graft SQL function prints under its SQL name") {
    // plan strings and unaliased output columns show prettyName, so each
    // graft expression the table builds must carry the name it is called by
    import org.apache.spark.sql.catalyst.expressions.Literal
    val built = graft.functions.sqlFunctions.map { case (name, builder) =>
      // the first argument count the builder accepts
      name -> (1 to 4).iterator
        .map(n => scala.util.Try(builder(Seq.fill(n)(Literal(1.0)))))
        .collectFirst { case scala.util.Success(e) => e }
    }
    val unbuilt = built.collect { case (name, None) => name }
    assert(unbuilt.isEmpty, s"no argument count from 1 to 4 builds: $unbuilt")
    val graftExprs = built.collect {
      case (name, Some(e)) if e.getClass.getName.startsWith("graft.") => name -> e
    }
    assert(graftExprs.size > 100, graftExprs.map(_._1))
    val misnamed = graftExprs.collect {
      case (name, e) if e.prettyName != name => s"$name prints as ${e.prettyName}"
    }
    assert(misnamed.isEmpty, misnamed)
  }

  test("Session.local leaves adaptive execution on, by Spark's default") {
    assert(org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED
      .defaultValue.contains(true))
    withExtensionSession(s => assert(s.conf.get("spark.sql.adaptive.enabled") == "true"))
  }
}
