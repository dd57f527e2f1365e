package graft.streaming

import graft.{FixtureDirs, SparkFixture}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class StreamOpsSpec extends AnyFunSuite with FixtureDirs {
  private lazy val spark = SparkFixture.spark
  // all session event times sit far above epoch 0: the initial watermark
  // is 0 ms, and watermarked stateful ops drop input at or before the
  // watermark — epoch-relative test times would be swallowed silently
  private val B = 1700000000000L

  test("checkpoint restart resumes exactly-once: no reprocess, no loss") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = fixtureDir("ckpt_restart")
    val (out, ckpt) = (s"$base/out", s"$base/ckpt")
    val input = MemoryStream[Long]
    def runOnce(): Unit = {
      // AvailableNow drains what's currently offered, commits the offset
      // to the checkpoint, and terminates — the restart then resumes from
      // the committed offset, not from scratch
      val q = input.toDS().toDF("v").writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    input.addData(1L to 5L: _*)
    runOnce()
    assert(spark.read.parquet(out).as[Long].collect().sorted.toSeq == (1L to 5L))
    // restart from the same checkpoint with more data offered: only the
    // NEW offsets process — the old five appear exactly once
    input.addData(6L to 10L: _*)
    runOnce()
    assert(spark.read.parquet(out).as[Long].collect().sorted.toSeq == (1L to 10L))
    // a third restart with nothing new is a no-op, not a replay
    runOnce()
    assert(spark.read.parquet(out).count() == 10)
  }

  test("streaming gap sessionization closes sessions across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Event]
    val q = StreamOps.sessionize(input.toDS(), gapMs = 1000)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      // batch 1: two events within the gap -> session stays open
      input.addData(StreamOps.Event(1L, B, 1.0), StreamOps.Event(1L, B + 500L, 2.0))
      q.processAllAvailable()
      assert(spark.table("sessions_out").count() == 0)
      // batch 2: event beyond the gap -> first session closes
      input.addData(StreamOps.Event(1L, B + 5000L, 4.0))
      q.processAllAvailable()
      val row = spark.table("sessions_out").as[StreamOps.SessionOut].collect()
      assert(row.length == 1)
      assert(row(0) == StreamOps.SessionOut(1L, B, B + 500L, 2, 3.0))
      // a second user is independent state
      input.addData(StreamOps.Event(2L, B, 9.0), StreamOps.Event(2L, B + 10000L, 1.0))
      q.processAllAvailable()
      val byUser = spark.table("sessions_out").as[StreamOps.SessionOut]
        .collect().groupBy(_.user_id)
      assert(byUser(2L).head == StreamOps.SessionOut(2L, B, B, 1, 9.0))
    } finally q.stop()
  }

  test("late cross-batch event does not regress the session frontier") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Event]
    val q = StreamOps.sessionize(input.toDS(), gapMs = 1000)
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      input.addData(StreamOps.Event(1L, B, 1.0), StreamOps.Event(1L, B + 800L, 1.0))
      q.processAllAvailable()
      // late event at t=+500 arrives in the next batch; frontier stays +800
      input.addData(StreamOps.Event(1L, B + 500L, 1.0))
      q.processAllAvailable()
      // t=+1700: within gap of the true frontier (+800), NOT of the late +500
      input.addData(StreamOps.Event(1L, B + 1700L, 1.0))
      q.processAllAvailable()
      assert(spark.table("late_out").count() == 0,
        "session wrongly closed: late event regressed the frontier")
      // a straggler far older than the open session's reach (but inside
      // the 24 h watermark tolerance) forms its own session instead of
      // regressing the start without bound
      input.addData(StreamOps.Event(1L, B - 9000L, 7.0))
      q.processAllAvailable()
      assert(spark.table("late_out").as[StreamOps.SessionOut].collect().toSeq ==
        Seq(StreamOps.SessionOut(1L, B - 9000L, B - 9000L, 1, 7.0)))
      // t=+3000 closes the open session: it must span +0..+1700 with 4 events
      input.addData(StreamOps.Event(1L, B + 3000L, 1.0))
      q.processAllAvailable()
      val s = spark.table("late_out").as[StreamOps.SessionOut].collect()
        .sortBy(_.start_ms)
      assert(s.toSeq == Seq(
        StreamOps.SessionOut(1L, B - 9000L, B - 9000L, 1, 7.0),
        StreamOps.SessionOut(1L, B, B + 1700L, 4, 4.0)))
    } finally q.stop()
  }

  test("idle session is flushed when the watermark passes its gap horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Event]
    val q = StreamOps.sessionize(input.toDS(), gapMs = 1000, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("flush_out")
      .outputMode("append").start()
    try {
      input.addData(StreamOps.Event(1L, B, 5.0))
      q.processAllAvailable()
      assert(spark.table("flush_out").count() == 0) // watermark not yet past B+gap
      // another user's much-later event advances the watermark to B+10 s;
      // user 1's idle session (timeout at B+1 s) must flush WITHOUT any
      // further user-1 event — the NoTimeout regression kept it forever
      input.addData(StreamOps.Event(2L, B + 10000L, 1.0))
      q.processAllAvailable()
      val rows = spark.table("flush_out").as[StreamOps.SessionOut].collect()
      assert(rows.toSeq == Seq(StreamOps.SessionOut(1L, B, B, 1, 5.0)))
    } finally q.stop()
  }

  test("watermarked windowed counts aggregate by tumbling window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "event_type")
    val q = StreamOps.windowedCounts(df, "10 seconds", "1 minute")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("update").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (t("2024-01-01 00:00:05"), "click"),
        (t("2024-01-01 00:00:20"), "click"),
        (t("2024-01-01 00:01:10"), "view"))
      q.processAllAvailable()
      val rows = spark.table("win_out").collect().map(r =>
        (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(rows.contains(("2024-01-01 00:00:00.0", "click", 2L)))
      assert(rows.contains(("2024-01-01 00:01:00.0", "view", 1L)))
    } finally q.stop()
  }

  test("transformWithState carries milestone state across micro-batches (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import MilestoneOps._
    val input = MemoryStream[TwsEvent]
    val out = milestones(input.toDS(), stepCents = 100L)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = try {
      out.toDF().writeStream.format("memory").queryName("tws_out")
        .outputMode("append").start()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    try {
      // batch 1: user 1 climbs to 150 (crosses 100 once)
      input.addData(TwsEvent(1L, B + 1, 10L, 80L), TwsEvent(1L, B + 2, 11L, 70L))
      q.processAllAvailable()
      // batch 2: dip below 100 then recover — the SAME boundary counts
      // again (path dependence), and state carried cum=150 across batches
      input.addData(TwsEvent(1L, B + 3, 12L, -60L), TwsEvent(1L, B + 4, 13L, 40L))
      q.processAllAvailable()
      val rows = spark.table("tws_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // per-batch running emissions: (n=2, cum=150, cross=1) then
      // (n=4, cum=130, cross=2)
      assert(rows.toSet == Set((1L, 2L, 150L, 1L), (1L, 4L, 130L, 2L)), rows.toSeq)
      // within-batch fold order is (tms, event_id), not arrival order:
      // offered reversed, same result as sorted
      input.addData(TwsEvent(2L, B + 9, 21L, 30L), TwsEvent(2L, B + 8, 20L, 80L))
      q.processAllAvailable()
      val u2 = spark.table("tws_out")
        .filter(org.apache.spark.sql.functions.col("user_id") === 2L)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(u2 == Set((2L, 110L, 1L)), u2)
    } finally {
      q.stop()
      spark.catalog.dropTempView("tws_out")
    }
  }

  /** Summed state-store rows of every micro-batch the query has reported
    * (recentProgress keeps the last 100 — far above the ≥10 batches these
    * long-horizon tests stage). */
  private def stateRowsPerBatch(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[Long] =
    q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum)

  test("long horizon: watermark window state stays bounded across 14 eviction-crossing batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Event]
    val df = input.toDS().toDF()
      .select(timestamp_millis(col("tms")).as("ts"), lit("e").as("event_type"))
    val q = StreamOps.windowedCounts(df, watermark = "5 seconds", windowLen = "10 seconds")
      .writeStream.format("memory").queryName("lh_windows")
      .outputMode("append").start()
    try {
      // every batch advances event time a full minute — 6 window lengths
      // past the previous batch, so each batch crosses the eviction
      // boundary and all older windows must leave the store
      (0 until 14).foreach { i =>
        val t0 = B + i * 60000L
        input.addData((0 until 20).map(j =>
          StreamOps.Event(j.toLong, t0 + j * 400L, 1.0)): _*)
        q.processAllAvailable()
      }
      val perBatch = stateRowsPerBatch(q)
      assert(perBatch.size >= 14, s"expected >=14 stateful batches, got $perBatch")
      // unbounded growth would hold all 14 windows (28 rows with the
      // batch-straddling second window); eviction keeps only the windows
      // the watermark has not yet finalized — a small CONSTANT per batch
      assert(perBatch.max <= 6,
        s"window state grew past the eviction bound: $perBatch")
      // and the horizon is genuinely long: 13 batches of windows closed
      // into the sink (the last batch's windows are still open)
      assert(spark.table("lh_windows").count() >= 13)
    } finally { q.stop(); spark.catalog.dropTempView("lh_windows") }
  }

  test("long horizon: stream-stream left-outer join state stays bounded across 14 batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long)]
    val views = MemoryStream[(Long, Long)]
    val c = clicks.toDS().toDF("c_user", "c_tms")
      .select(col("c_user"), timestamp_millis(col("c_tms")).as("c_ts"))
      .withWatermark("c_ts", "5 seconds")
    val v = views.toDS().toDF("v_user", "v_tms")
      .select(col("v_user"), timestamp_millis(col("v_tms")).as("v_ts"))
      .withWatermark("v_ts", "5 seconds")
    val joined = c.join(v,
      col("c_user") === col("v_user") &&
        col("v_ts") >= col("c_ts") &&
        col("v_ts") <= col("c_ts") + expr("INTERVAL 10 SECONDS"),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("lh_outer")
      .outputMode("append").start()
    try {
      // both sides advance one minute per batch — far past the join
      // interval + delay, so matched AND unmatched rows cross the
      // eviction horizon every batch. Odd users never get a view:
      // their clicks must flush null-extended instead of accumulating.
      (0 until 14).foreach { i =>
        val t0 = B + i * 60000L
        clicks.addData((0 until 10).map(u => (u.toLong, t0 + u * 100L)): _*)
        views.addData((0 until 10 by 2).map(u => (u.toLong, t0 + u * 100L + 3000L)): _*)
        q.processAllAvailable()
      }
      val perBatch = stateRowsPerBatch(q)
      assert(perBatch.size >= 14, s"expected >=14 stateful batches, got $perBatch")
      // unbounded retention would reach 14*(10+5) = 210 buffered rows;
      // watermark eviction keeps only ~2 batches' worth in flight
      assert(perBatch.max <= 60,
        s"join state grew past the eviction bound: $perBatch")
      val out = spark.table("lh_outer")
      // matched pairs flow; unmatched (odd-user) clicks were null-extended
      // by the watermark, not retained forever
      assert(out.filter(col("v_user").isNotNull).count() >= 5 * 13)
      assert(out.filter(col("v_user").isNull).count() >= 5 * 12)
    } finally { q.stop(); spark.catalog.dropTempView("lh_outer") }
  }

  test("long horizon: transformWithState state is |keys|-bounded across 12 batches (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import MilestoneOps._
    val input = MemoryStream[TwsEvent]
    val out = milestones(input.toDS(), stepCents = 100L)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = try {
      out.toDF().writeStream.format("memory").queryName("lh_tws")
        .outputMode("append").start()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    try {
      // the same 10 users fold 12 batches of events: state must stay ONE
      // record per key — growth with batch count would mean the processor
      // is appending state instead of updating it
      (0 until 12).foreach { i =>
        input.addData((0 until 10).map(u =>
          TwsEvent(u.toLong, B + i * 1000L + u, i * 100L + u, 37L)): _*)
        q.processAllAvailable()
      }
      val perBatch = stateRowsPerBatch(q)
      assert(perBatch.size >= 12, s"expected >=12 stateful batches, got $perBatch")
      assert(perBatch.max <= 10, s"tws state exceeded |keys|: $perBatch")
      assert(perBatch.last == 10, s"final state != |keys|: $perBatch")
      // and the fold really ran 12 times per key: final emission carries
      // the full cumulative count
      val last = spark.table("lh_tws").filter($"user_id" === 0L)
        .collect().map(r => r.getLong(1)).max
      assert(last == 12L, s"user 0 folded $last events, expected 12")
    } finally { q.stop(); spark.catalog.dropTempView("lh_tws") }
  }

  test("RocksDB state store provider yields identical results through the provider seam") {
    // the production-state-scale path: graft.stream.stateStoreProvider
    // routes every StreamQueries run through RocksDB instead of the
    // HDFS-backed default. Same query, both providers, identical output —
    // the seam is a pure storage swap, never a semantics change. Uses a
    // STATEFUL query (watermarked windowed counts) so RocksDB actually
    // carries the aggregation state across micro-batches.
    val dir = "/root/testdata/sf0.001"
    val default = StreamQueries.streamWindowCounts(spark, dir).collect().toSet
    spark.conf.set("graft.stream.stateStoreProvider",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = StreamQueries.streamWindowCounts(spark, dir).collect().toSet
      assert(rocks == default, s"rocks=${rocks.size} default=${default.size}")
      assert(rocks.nonEmpty)
    } finally spark.conf.unset("graft.stream.stateStoreProvider")
  }
}
