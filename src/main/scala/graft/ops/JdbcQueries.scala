package graft.ops

import graft.sources.Jdbc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Executable end-to-end JDBC roundtrip: the reference's defining I/O —
  * a batched bulk load (ecs_loader/load_to_postgres.py:168-229) followed
  * by a bounds-probed, range-partitioned read
  * (spark_job/process_geodata.py:54-96) — run for real against the
  * embedded Derby engine that ships on the Spark classpath.
  *
  * The option plumbing lives in [[graft.sources.Jdbc]]; this closes the
  * loop by actually executing `.save()` and `.load()`: write `nation`
  * into a Derby table, probe min/max of the key on the database (one-row
  * driver read, the reference's own pattern), derive the partition count
  * from the probed span, and read the table back as N concurrent
  * range-bounded queries. The oracle is the parquet source itself —
  * equality proves the sink→probe→partitioned-source loop is lossless.
  *
  * Scale: identical to a Postgres deployment — every knob (fetchsize,
  * batchsize, partition quadruple) flows through the same Spark JDBC
  * relation provider; only the URL/driver differ. Derby is embedded
  * (in-process, file-backed), so executor slices here are concurrent
  * connections into one JVM-local engine rather than a remote pool.
  */
object JdbcQueries {

  /** `org.apache.derby.jdbc.EmbeddedDriver` (derbytools 10.16). */
  private[graft] val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"

  /** DB files live in the per-JVM sink store, beside the other sink
    * outputs. */
  private[graft] val DbPath = s"${SinkQueries.OutBase}/derby/graftdb"

  private[graft] def derbyUrl(dbPath: String): String =
    s"jdbc:derby:$dbPath;create=true"

  // Derby writes its boot log to user.dir by default; keep it beside the
  // database being booted. Idempotent, read before the first engine boot
  // in this JVM.
  private def quietDerby(dbPath: String): Unit =
    if (System.getProperty("derby.stream.error.file") == null) {
      val dir = new java.io.File(dbPath).getAbsoluteFile.getParentFile
      dir.mkdirs()
      System.setProperty("derby.stream.error.file", new java.io.File(dir, "derby.log").getPath)
    }

  /** Bulk-load `nation` into Derby, then read it back range-partitioned.
    * Returns the read-back rows keyed-ordered, so the oracle is simply the
    * source table. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(spark, dir, DbPath)

  private[graft] def roundtrip(spark: SparkSession, dir: String, dbPath: String): DataFrame = {
    quietDerby(dbPath)
    val url = derbyUrl(dbPath)
    val sink = Jdbc.SinkConfig(url, "nation_rt", "app", "app",
      driver = DerbyDriver, batchSize = 1000)
    Jdbc.writer(
        Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
        sink)
      .mode("overwrite").save()

    val src = Jdbc.SourceConfig(url, "nation_rt", "app", "app",
      driver = DerbyDriver, fetchSize = 1000)
    // the pushed-down bounds probe: one row back to the driver
    val b = Jdbc.reader(spark, Jdbc.boundsConfig(src, "n_nationkey")).load().head()
    if (b.isNullAt(b.fieldIndex("lo"))) {
      // empty table: max/min are NULL — an unpartitioned read of the empty
      // relation keeps the schema without fabricating bounds
      return Jdbc.reader(spark, src).load()
    }
    val lo = b.getAs[Number]("lo").longValue
    val hi = b.getAs[Number]("hi").longValue
    // small target width so the test corpus genuinely exercises >1 slice;
    // partitionsFor caps the count either way
    val parts = Jdbc.partitionsFor(lo, hi, targetPerPartition = 8L, maxPartitions = 16)
    Jdbc.reader(spark,
        src.partitionedOn(Jdbc.quotedColumn("n_nationkey"), lo, hi, parts)).load()
      .orderBy(col("n_nationkey"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_jdbc_roundtrip" -> ((s, dir) => roundtrip(s, dir)),
  )

  val oracles: Map[String, String] = Map(
    "q_jdbc_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
  )
}
