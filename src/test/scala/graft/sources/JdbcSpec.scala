package graft.sources

import graft.SparkFixture
import java.nio.file.{Files, Path}
import java.sql.{DriverManager, SQLException}
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.jdk.CollectionConverters._

class JdbcSpec extends AnyFunSuite with BeforeAndAfterEach {

  /** Temp directories holding the running test's Derby databases. */
  private val dbDirs = mutable.Buffer.empty[Path]

  /** A Derby database path in a fresh temp directory, which is deleted
    * after the test. */
  private def freshDbPath(): String = {
    val dir = Files.createTempDirectory("graft-derby-spec")
    dbDirs += dir
    dir.resolve("db").toString
  }

  override def afterEach(): Unit =
    try super.afterEach()
    finally {
      dbDirs.foreach { d =>
        // shut the database down before deleting its files; a clean
        // shutdown reports itself as an SQLException (SQLState 08006)
        try DriverManager.getConnection(s"jdbc:derby:${d.resolve("db")};shutdown=true").close()
        catch { case _: SQLException => }
        Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
      dbDirs.clear()
    }

  private val src = Jdbc.SourceConfig(
    url = "jdbc:postgresql://db:5432/postgres_db",
    table = "land_use",
    user = "u",
    password = "p")

  test("source options mirror the reference's partitioned-read properties") {
    val cfg = src.partitionedOn("id", 1L, 10000000L, 100)
    val o = cfg.options
    assert(o("url") == "jdbc:postgresql://db:5432/postgres_db")
    assert(o("dbtable") == "land_use")
    assert(o("driver") == "org.postgresql.Driver")
    assert(o("fetchsize") == "10000")
    assert(o("partitionColumn") == "id")
    assert(o("lowerBound") == "1")
    assert(o("upperBound") == "10000000")
    assert(o("numPartitions") == "100")
  }

  test("unpartitioned source omits the partitioning quadruple") {
    val o = src.options
    assert(!o.contains("partitionColumn") && !o.contains("lowerBound") &&
      !o.contains("upperBound") && !o.contains("numPartitions"))
  }

  test("partial partition spec is rejected at construction") {
    assertThrows[IllegalArgumentException](
      src.copy(partitionColumn = Some("id"), lowerBound = Some(1L)))
    assertThrows[IllegalArgumentException](
      src.partitionedOn("id", 10L, 1L, 4)) // inverted bounds
    assertThrows[IllegalArgumentException](
      src.partitionedOn("id", 1L, 10L, 0)) // zero partitions
  }

  test("bounds probe wraps the table in the reference's max/min subquery") {
    val b = Jdbc.boundsConfig(src, "id")
    assert(b.options("dbtable") ==
      """(SELECT max("id") AS "hi", min("id") AS "lo" FROM land_use) graft_bounds""")
    assert(!b.options.contains("numPartitions"))
  }

  test("partitionsFor derives counts from bounds, clamped to sane limits") {
    assert(Jdbc.partitionsFor(1L, 100L) == 1)
    assert(Jdbc.partitionsFor(0L, 10000000L - 1) == 10)
    assert(Jdbc.partitionsFor(0L, Long.MaxValue / 2, maxPartitions = 10000) == 10000)
    // full 64-bit id space: the span overflows Long — must clamp to the
    // cap, not wrap to a single partition
    assert(Jdbc.partitionsFor(Long.MinValue, Long.MaxValue, maxPartitions = 10000) == 10000)
  }

  test("sink options carry batchsize/isolation/truncate like the bulk loader") {
    val o = Jdbc.SinkConfig(
      url = "jdbc:postgresql://db:5432/analytics",
      table = "gold.land_use_20240101",
      user = "u", password = "p",
      batchSize = 5000, truncate = true).options
    assert(o("batchsize") == "5000")
    assert(o("isolationLevel") == "READ_COMMITTED")
    assert(o("truncate") == "true")
    assert(o("dbtable") == "gold.land_use_20240101")
  }

  test("bounds probe rejects unsafe identifiers instead of interpolating them") {
    assertThrows[IllegalArgumentException](
      Jdbc.boundsQuery("land_use; DROP TABLE users", "id"))
    assertThrows[IllegalArgumentException](
      Jdbc.boundsQuery("land_use", "id) FROM t; --"))
    assertThrows[IllegalArgumentException](
      Jdbc.boundsQuery("""land"use""", "id"))
    // legitimate shapes still pass: qualified tables, plain columns
    assert(Jdbc.boundsQuery("core.land_use_areas", "property_id")
      .contains("FROM core.land_use_areas"))
  }

  test("invalid sink isolation level is rejected") {
    assertThrows[IllegalArgumentException](
      Jdbc.SinkConfig("jdbc:x", "t", "u", "p", isolationLevel = "SNAPSHOT"))
  }

  test("reader/writer builders accept the option maps (compile + wiring)") {
    val spark = SparkFixture.spark
    val r = Jdbc.reader(spark, src.partitionedOn("id", 1L, 100L, 4))
    assert(r != null)
    import spark.implicits._
    val w = Jdbc.writer(Seq((1L, "a")).toDF("id", "v"),
      Jdbc.SinkConfig("jdbc:postgresql://db:5432/analytics", "t", "u", "p"))
    assert(w != null)
  }

  // ---- executed path: embedded Derby (on the Spark classpath) ----------

  test("save() then bounds-probed partitioned load() roundtrips through Derby") {
    val spark = SparkFixture.spark
    val dir = "/root/testdata/sf0.001"
    val dbPath = freshDbPath()
    val got = graft.ops.JdbcQueries.roundtrip(spark, dir, dbPath)
    // the partitioned read plans one input slice per range (asserted on a
    // bare load — the roundtrip's final sort coalesces tiny partitions)
    val raw = Jdbc.reader(spark,
      Jdbc.SourceConfig(graft.ops.JdbcQueries.derbyUrl(dbPath), "nation_rt",
          "app", "app", driver = graft.ops.JdbcQueries.DerbyDriver)
        .partitionedOn(Jdbc.quotedColumn("n_nationkey"), 0L, 24L, 4)).load()
    assert(raw.rdd.getNumPartitions == 4)
    assert(raw.count() == 25)
    val want = graft.ops.Tables.nation(spark, dir)
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey").collect()
    assert(got.collect().toSeq == want.toSeq)
  }

  test("Derby roundtrip of an empty table returns empty with the right schema") {
    val spark = SparkFixture.spark
    import spark.implicits._
    val dbPath = freshDbPath()
    val url = Jdbc.SourceConfig(
      graft.ops.JdbcQueries.derbyUrl(dbPath), "empty_t", "app", "app",
      driver = graft.ops.JdbcQueries.DerbyDriver)
    Jdbc.writer(
        Seq.empty[(Int, String)].toDF("n_nationkey", "n_name"),
        Jdbc.SinkConfig(url.url, "empty_t", "app", "app",
          driver = graft.ops.JdbcQueries.DerbyDriver))
      .mode("overwrite").save()
    val b = Jdbc.reader(spark, Jdbc.boundsConfig(url, "n_nationkey")).load().head()
    assert(b.isNullAt(b.fieldIndex("lo")) && b.isNullAt(b.fieldIndex("hi")))
    val back = Jdbc.reader(spark, url).load()
    assert(back.count() == 0 &&
      back.columns.map(_.toLowerCase).toSeq == Seq("n_nationkey", "n_name"))
  }
}
