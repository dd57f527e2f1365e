package graft.ops

import graft.SparkFixture
import java.nio.file.{Files, Path, Paths}
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.jdk.CollectionConverters._

class MaterializeSpec extends AnyFunSuite with BeforeAndAfterEach {
  private lazy val spark = SparkFixture.spark

  /** Store roots made by the running test, deleted after it. */
  private val bases = mutable.Buffer.empty[Path]

  private def freshBase(): String = {
    val base = Files.createTempDirectory("mat_spec")
    bases += base
    base.toString
  }

  override def afterEach(): Unit =
    try super.afterEach()
    finally {
      bases.foreach(b => Files.walk(b).iterator().asScala.toSeq.reverse.foreach(Files.delete))
      bases.clear()
    }

  test("publish -> current round-trips; re-publish swaps atomically") {
    import spark.implicits._
    val base = freshBase()
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val v2 = Seq((1L, "a2"), (2L, "b2"), (3L, "c")).toDF("k", "v")
    Materialize.publish(v1, base, "t", "v1", Seq("k"))
    assert(Materialize.current(spark, base, "t").count() == 2)
    Materialize.publish(v2, base, "t", "v2", Seq("k"))
    assert(Materialize.current(spark, base, "t").count() == 3)
  }

  test("version() time-travels to the old bytes while current serves the new") {
    import spark.implicits._
    val base = freshBase()
    Materialize.publish(Seq((1L, "a")).toDF("k", "v"), base, "t", "v1", Seq("k"))
    Materialize.publish(Seq((1L, "a2"), (2L, "b")).toDF("k", "v"), base, "t", "v2", Seq("k"))
    assert(Materialize.version(spark, base, "t", "v1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a")))
    assert(Materialize.current(spark, base, "t").count() == 2)
  }

  test("duplicate keys refuse the publish, delete the version dir, keep the pointer") {
    import spark.implicits._
    val base = freshBase()
    Materialize.publish(Seq((1L, "a")).toDF("k", "v"), base, "t", "v1", Seq("k"))
    val before = Files.readString(Paths.get(base, "t", "current"))
    assertThrows[IllegalStateException] {
      Materialize.publish(Seq((1L, "a"), (1L, "b")).toDF("k", "v"), base, "t", "v2", Seq("k"))
    }
    assert(Files.readString(Paths.get(base, "t", "current")) == before)
    assert(!Files.exists(Paths.get(base, "t", "versions", "v2")), "rejected version dir must be deleted")
    assert(Materialize.current(spark, base, "t").count() == 1)
  }

  test("gate failure on the FIRST publish leaves a gc-safe pointer-less table") {
    import spark.implicits._
    val base = freshBase()
    assertThrows[IllegalStateException] {
      Materialize.publish(Seq((1L, "a"), (1L, "b")).toDF("k", "v"), base, "t", "v1", Seq("k"))
    }
    assert(Materialize.gc(base, "t") == Nil) // must not throw on missing pointer
  }

  test("gc keeps the newest versions by mtime and never the live one") {
    import spark.implicits._
    val base = freshBase()
    val df = Seq((1L, "a")).toDF("k", "v")
    // v10 written before v2: lexicographic order would mis-sort these
    Materialize.publish(df, base, "t", "v10", Seq("k"))
    Thread.sleep(1100) // parquet dir mtimes have second granularity on some filesystems
    Materialize.publish(df, base, "t", "v2", Seq("k"))
    Thread.sleep(1100)
    Materialize.publish(df, base, "t", "v3", Seq("k"))
    val gone = Materialize.gc(base, "t", keep = 2)
    assert(gone.map(p => Paths.get(p).getFileName.toString) == Seq("v10"),
      s"oldest-by-mtime (v10) should be collected, got $gone")
    assert(Materialize.current(spark, base, "t").count() == 1)
  }

  test("gc of one table never touches a sibling table sharing a name prefix") {
    import spark.implicits._
    val base = freshBase()
    val df = Seq((1L, "a")).toDF("k", "v")
    for (v <- Seq("v1", "v2", "v3")) Materialize.publish(df, base, "cust", v, Seq("k"))
    Materialize.publish(df, base, "cust_orders", "v1", Seq("k"))
    // pin mtimes explicitly (no sleeps): v1 oldest -> the one gc dooms
    for ((v, i) <- Seq("v1", "v2", "v3").zipWithIndex)
      Files.setLastModifiedTime(Paths.get(base, "cust", "versions", v),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 10000L))
    val gone = Materialize.gc(base, "cust", keep = 2)
    assert(gone.map(p => Paths.get(p).getFileName.toString) == Seq("v1"))
    assert(Files.exists(Paths.get(base, "cust_orders", "versions", "v1")),
      "sibling table must be untouched")
  }

  test("gc refuses keep < 2 (a pre-swap reader may still scan the previous version)") {
    val base = freshBase()
    assertThrows[IllegalArgumentException](Materialize.gc(base, "t", keep = 1))
    assertThrows[IllegalArgumentException](Materialize.gc(base, "t", keep = 0))
  }

  test("failure hook fires on a gated publish failure, after cleanup, before the throw") {
    import spark.implicits._
    val base = freshBase()
    val dup = Seq((1L, "a"), (1L, "b")).toDF("k", "v") // unique-key violation
    var notified = Option.empty[(String, String, String)]
    val e = intercept[IllegalStateException] {
      Materialize.publish(dup, base, "t", "v1", Seq("k"),
        onFailure = (table, version, err) =>
          notified = Some((table, version, err.getMessage)))
    }
    assert(e.getMessage.contains("unique-key"))
    assert(notified.exists { case (t, v, msg) =>
      t == "t" && v == "v1" && msg.contains("unique-key") })
    // cleanup happened before the hook observed the failure: rejected
    // version gone, pointer never created
    assert(!Files.exists(Paths.get(base, "t", "versions", "v1")))
    assert(!Files.exists(Paths.get(base, "t", "current")))
  }

  test("a throwing failure hook never masks the publish failure itself") {
    import spark.implicits._
    val base = freshBase()
    val dup = Seq((1L, "a"), (1L, "b")).toDF("k", "v")
    val e = intercept[IllegalStateException] {
      Materialize.publish(dup, base, "t", "v1", Seq("k"),
        onFailure = (_, _, _) => sys.error("notifier down"))
    }
    assert(e.getMessage.contains("unique-key"), s"hook error must not mask: $e")
  }

  test("successful publish never invokes the failure hook") {
    import spark.implicits._
    val base = freshBase()
    var called = false
    Materialize.publish(Seq((1L, "a")).toDF("k", "v"), base, "t", "v1", Seq("k"),
      onFailure = (_, _, _) => called = true)
    assert(!called)
    assert(Materialize.current(spark, base, "t").count() == 1)
  }
}
