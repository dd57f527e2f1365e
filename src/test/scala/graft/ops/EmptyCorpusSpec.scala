package graft.ops

import graft.{FixtureDirs, SparkEntry, SparkFixture}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Every registered query must RUN (possibly to zero rows) on an
  * all-empty corpus — the empty-daily-partition reality of a production
  * pipeline. This pins the hardening guards (zorder bounds, histogram,
  * chi-square cells, vector query-vector/centroid reads): a driver-side
  * `.head`/`.collect` on a relation that can be empty must degrade to an
  * empty result, never throw. */
class EmptyCorpusSpec extends AnyFunSuite with FixtureDirs {
  private lazy val spark = SparkFixture.spark

  private lazy val dir: String = {
    val d = fixtureDir("empty_corpus")
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      Tables.table(spark, "/root/testdata/sf0.001", t).limit(0)
        .write.mode("overwrite").parquet(s"$d/$t.parquet")
    }
    d
  }

  test("vector queries degrade to empty on a corpus WITH rows but NO query vector") {
    // the sharper case than all-empty: rows exist, so any dummy-vector
    // fallback would actually evaluate per row — cosine against a zero
    // vector divides by zero, which ANSI mode turns into a crash. The
    // guards must early-return instead.
    import org.apache.spark.sql.functions._
    val d = fixtureDir("no_query_vec")
    val kept = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") >= 100)
    assert(kept.count() > 0, "fixture must keep rows for the crash path to evaluate")
    kept.write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    Seq("q_sim_topk", "q_ann_lsh", "q_ann_ivf").foreach { q =>
      assert(SparkEntry.queries(q)(spark, d).count() == 0L, s"$q not empty")
    }
    // the recall audit is a global agg: it reports one row with zero hits
    val recall = SparkEntry.queries("q_ann_recall")(spark, d).head
    assert(recall.getLong(1) == 0L && recall.getLong(2) == 0L)
    // matryoshka must stay ROW-COUNT-CONSISTENT with its oracle here: the
    // oracle's four per-dim global aggregates each emit one row even over
    // an empty candidate set, so the engine's degenerate branch emits one
    // (dim, 0, 0, false) row per lane — never an empty frame (ADVICE r14)
    val mat = SparkEntry.queries("q_matryoshka_recall")(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(mat == Seq(8, 16, 32, 64).map(d2 => (d2, 0L, 0L, false)), mat.toString)
  }

  test("q_k_generalize stays row-count-consistent with ANSI ROLLUP on empty input") {
    // ANSI ROLLUP over zero rows still emits the grand-total grouping set
    // (the DuckDB oracle returns one (level 3, k 0) row); the engine's
    // guard must restore it, never return an empty frame (ADVICE r15 #1)
    val rows = SparkEntry.queries("q_k_generalize")(spark, dir).collect()
    assert(rows.length == 1, s"expected the grand-total level-3 row, got ${rows.length}")
    val r = rows.head
    assert(r.getLong(0) == 3L && r.getLong(1) == 1L && r.getLong(2) == 0L &&
      r.getLong(3) == 0L && r.getLong(4) == 0L && !r.getBoolean(5) && r.isNullAt(6),
      r.toString)
  }

  test("q_rollup / q_cube emit the ANSI grand-total grouping set on empty input") {
    // ANSI ROLLUP/CUBE over zero rows still emit the () grouping set —
    // one all-NULL row with count 0 (the DuckDB oracle does); Spark's
    // Expand lowering emits nothing, so the guard must restore it. Found
    // by the r17 empty-corpus oracle sweep (the only two divergences in
    // 311), same class as matryoshka r14 / k_generalize r15.
    Seq("q_rollup", "q_cube").foreach { q =>
      val rows = SparkEntry.queries(q)(spark, dir).collect()
      assert(rows.length == 1, s"$q: expected the grand-total row, got ${rows.length}")
      val r = rows.head
      assert(r.isNullAt(0) && r.isNullAt(1) && r.getLong(2) == 0L, s"$q: ${r.toString}")
    }
  }

  test("both flagship faces run through their range exchange to zero rows on an empty corpus") {
    Seq("q_geo_flagship", "q_geo_flagship_5880").foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val planned = Par.initialPhysical(df)
      assert(planned.exists {
        case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
        case _ => false
      }, s"$q: no range exchange:\n$planned")
      assert(df.collect().isEmpty, q)
    }
  }

  test("every registered query runs on an all-empty corpus") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, dir).count(); None }
      catch { case e: Throwable =>
        Some(s"$name: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}")
      }
    }
    assert(failures.isEmpty, s"queries throwing on empty input:\n${failures.mkString("\n")}")
  }
}
