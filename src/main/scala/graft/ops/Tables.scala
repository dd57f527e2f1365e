package graft.ops

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver test corpus (TESTDATA.md).
  *
  * The analogue of the reference's partitioned JDBC scans
  * (reference: spark_job/process_geodata.py:74-96) — Parquet file sources
  * parallelize via splits automatically, and Catalyst pushes projections
  * and filters into the scan, which is what the reference achieved manually
  * with SQL-in-string JDBC subqueries (process_geodata.py:165-174).
  *
  * [[table]] is the one read path for every corpus table, and it reads
  * with a memoized schema: `spark.read.parquet(path)` alone runs a Spark
  * job per call to infer the schema from the footers, which for a small
  * query was most of its construction time. The memo works like a
  * catalog's schema entry:
  *  - key: the qualified path, the (name, length, modification time) of
  *    every file under it, and the session's schema-affecting confs (all
  *    `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` values plus
  *    `spark.sql.caseSensitive`). A table rewritten in place, or a flip of
  *    `nanosAsLong` (see [[rawEvents]]), changes the key;
  *  - miss: Spark's own inference, `spark.read.parquet(path).schema`, the
  *    same job the unmemoized read ran. A path that does not exist is
  *    never memoized, so it fails exactly as the plain read does;
  *  - hit: `spark.read.schema(memoized).parquet(path)`, no job.
  * It holds one schema per path (the latest key), never rows or query
  * results: every read still lists and scans the files.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** Leaf files (name, length, mtime) and schema-affecting confs. */
  private type SchemaKey = (Vector[(String, Long, Long)], Vector[(String, String)])

  /** Latest (key, schema) per qualified path. */
  private val schemas = new ConcurrentHashMap[String, (SchemaKey, StructType)]()

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return spark.read.parquet(path).schema
    val qualified = fs.makeQualified(hPath).toString
    val leaves = fs.listFiles(hPath, true)
    val files = Vector.newBuilder[(String, Long, Long)]
    while (leaves.hasNext) {
      val f = leaves.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.toVector.sorted :+ ("spark.sql.caseSensitive" -> spark.conf.get("spark.sql.caseSensitive"))
    val key: SchemaKey = (files.result().sorted, confs)
    schemas.get(qualified) match {
      case (k, schema) if k == key => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        schemas.put(qualified, (key, schema))
        schema
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")

  /** `embeddings` with the vector column normalized to array<float>.
    * Every vector operator (and its DuckDB oracle mirror) is written
    * against FLOAT32 arithmetic; if a corpus generation ships the column
    * as array<double> (the r09 events.ts lesson: physical encodings
    * drift), the loader — not 20 call sites — restores the contract.
    * Anything else fails loudly as corpus drift. */
  def embeddings(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "embeddings")
    df.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => df
      case ArrayType(DoubleType, _) =>
        df.withColumn("embedding", col("embedding").cast("array<float>"))
      case other =>
        throw new IllegalStateException(
          s"embeddings.embedding has unsupported type $other; expected array<float|double>")
    }
  }

  /** `events` with `ts` normalized to nanos-since-epoch BIGINT, whatever
    * the corpus's physical encoding. All downstream temporal operators do
    * 64-bit integer arithmetic on `ts` (sessionize windows, z-order
    * bucketing, as-of joins), so the loader — not 30 call sites — owns the
    * encoding contract. Corpus generations have shipped `ts` as parquet
    * NANOS (read as BIGINT under `nanosAsLong`) and as plain TIMESTAMP
    * micros; both normalize to the same nanos value here (session tz is
    * pinned UTC by every graft entry point, so NTZ micros == UTC micros).
    *
    * SESSION-LEVEL SIDE EFFECT, by necessity: `nanosAsLong` exists only as
    * the SQLConf `spark.sql.legacy.parquet.nanosAsLong` (ParquetOptions
    * exposes no per-read option for it in Spark 4.1), so this flips the
    * conf for the whole session. It is scoped in practice: the conf only
    * changes how parquet NANOS columns are read, and `events` is the sole
    * corpus table that ever contained one. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(rawEvents(spark, dir))

  /** `events` exactly as stored on disk — the schema `readStream` must be
    * handed (a file stream source's user schema has to match the physical
    * encoding; the nanos normalization is applied AFTER the streaming read
    * via [[normalizeEventTs]]). */
  def rawEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    table(spark, dir, "events")
  }

  /** Physical on-disk schema of `events.parquet` (for `readStream.schema`). */
  def eventsRawSchema(spark: SparkSession, dir: String): StructType =
    rawEvents(spark, dir).schema

  /** Rewrite `ts` to nanos-since-epoch BIGINT regardless of how the file
    * encoded it. LongType (parquet NANOS under `nanosAsLong`) passes
    * through untouched; TIMESTAMP / TIMESTAMP_NTZ micros are converted via
    * `unix_micros * 1000` — exact integer math, and encoding-invariant
    * against the DuckDB oracles, whose `epoch_ns(ts)` yields the identical
    * nanos for TIMESTAMP input. Any other dtype is a corpus drift we want
    * to fail loudly on, not mis-read. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other; expected BIGINT nanos or TIMESTAMP")
    }
}
