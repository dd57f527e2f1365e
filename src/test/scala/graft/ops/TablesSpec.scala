package graft.ops

import graft.{FixtureDirs, SparkFixture}
import java.nio.file.Files
import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The corpus read path: [[Tables.table]] infers a table's schema once
  * and memoizes it, keyed by the files and the schema-affecting confs. */
class TablesSpec extends AnyFunSuite with FixtureDirs {
  private lazy val spark = SparkFixture.spark
  private def freshDir(name: String): String =
    Files.createDirectory(fixtureRoot.resolve(name)).toString

  /** Jobs started while `body` runs. Listener events arrive
    * asynchronously, in order, so a marker job (tagged by a local
    * property) run before and after `body` fences off exactly its jobs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val markers = new Semaphore(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("tables.spec.marker") != null)) markers.release()
        else jobs.incrementAndGet()
    }
    def fence(): Unit = {
      sc.setLocalProperty("tables.spec.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("tables.spec.marker", null)
      assert(markers.tryAcquire(30, TimeUnit.SECONDS), "marker job never reached the listener")
    }
    sc.addSparkListener(listener)
    try {
      fence()
      val before = jobs.get
      body
      fence()
      jobs.get - before
    } finally sc.removeSparkListener(listener)
  }

  test("the first read of a table infers its schema; the second launches no job") {
    import spark.implicits._
    val dir = freshDir("memo")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val first = jobsDuring(Tables.table(spark, dir, "t"))
    assert(first >= 1, "the first read must run Spark's schema inference")
    val second = jobsDuring(Tables.table(spark, dir, "t"))
    assert(second == 0, s"a memoized read launched $second job(s)")
    assert(Tables.table(spark, dir, "t").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("a table rewritten at the same path with another schema is read with the new one") {
    import spark.implicits._
    val dir = freshDir("rewrite")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    Seq((3.5, 7)).toDF("x", "y").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.table(spark, dir, "t")
    assert(again.columns.toSeq == Seq("x", "y"))
    assert(again.as[(Double, Int)].collect().toSeq == Seq((3.5, 7)))
  }

  test("nanosAsLong is part of the key; both ts encodings normalize to the same nanos") {
    // the same instants twice: parquet TIMESTAMP(NANOS), as `events`
    // generations have shipped it, and TIMESTAMP(MICROS), as the test
    // corpus ships it
    val nanosDir = freshDir("events_nanos")
    val microsDir = freshDir("events_micros")
    val nanos = Seq(1704067200000000000L, 1704067201123456000L, 1704153600999999000L)
    def write(dir: String, unit: String, scale: Long): Unit = {
      val schema = MessageTypeParser.parseMessageType(
        s"message events { required int64 event_id; required int64 ts (TIMESTAMP($unit,true)); }")
      val writer = ExampleParquetWriter.builder(new HPath(s"$dir/events.parquet"))
        .withType(schema).withConf(new Configuration()).build()
      val groups = new SimpleGroupFactory(schema)
      try nanos.zipWithIndex.foreach { case (n, i) =>
        writer.write(groups.newGroup().append("event_id", i.toLong).append("ts", n / scale))
      } finally writer.close()
    }
    write(nanosDir, "NANOS", 1L)
    write(microsDir, "MICROS", 1000L)

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables.table(spark, nanosDir, "events").schema("ts").dataType == LongType)
      assert(Tables.table(spark, microsDir, "events").schema("ts").dataType == TimestampType)
      spark.conf.set(key, "false")
      // with the flag off Spark has no type for NANOS: the read must infer
      // again and fail as an unmemoized read does, not hand back BIGINT
      val e = intercept[AnalysisException](Tables.table(spark, nanosDir, "events"))
      assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
      assert(Tables.table(spark, microsDir, "events").schema("ts").dataType == TimestampType)
      def eventNanos(dir: String) =
        Tables.events(spark, dir).orderBy(col("event_id")).select(col("ts"))
          .collect().map(_.getLong(0)).toSeq
      assert(eventNanos(nanosDir) == nanos)
      assert(eventNanos(microsDir) == nanos)
    } finally spark.conf.set(key, saved)
  }

  test("array<double> embeddings still load as array<float>") {
    import spark.implicits._
    val dir = freshDir("embeddings")
    Seq((1L, Seq(0.5, -1.25)), (2L, Seq(2.0, 0.0))).toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val emb = Tables.embeddings(spark, dir)
    assert(emb.schema("embedding").dataType.asInstanceOf[ArrayType].elementType == FloatType)
    assert(emb.orderBy("vec_id").select("embedding").as[Seq[Float]].collect().toSeq ==
      Seq(Seq(0.5f, -1.25f), Seq(2.0f, 0.0f)))
  }
}
