package graft.streaming

import graft.ops.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.util.concurrent.atomic.AtomicInteger

/** Driver-contract face of the Structured Streaming surface: the
  * watermarked windowed aggregation (StreamOps.windowedCounts) executed by
  * the real streaming engine — file source → event-time watermark →
  * tumbling window → append-mode memory sink — on the bounded `events`
  * table, returned as a DataFrame the batch oracle can check.
  *
  * Append mode emits exactly the windows the watermark has finalized, so
  * the batch mirror is deterministic: windows whose end is at or before
  * max(event time) − watermark delay. That IS the streaming semantics
  * under test (late-data eviction), not just a batch agg in disguise.
  */
object StreamQueries {

  private val runSeq = new AtomicInteger(0)

  /** Checkpoint root for the bounded replays. Structured Streaming fsyncs
    * its offset/commit WAL and per-partition state-store delta files into
    * the checkpoint on EVERY micro-batch — with the default temp location
    * (java.io.tmpdir, real disk here) those fsyncs are the dominant fixed
    * cost of each one-to-two-batch replay (r13 bench: ~33 s across the 24
    * stream queries, most of it engine floor, not data). A bounded
    * AvailableNow replay restarts from scratch by construction, so WAL
    * durability buys nothing — the checkpoint goes to a RAM-backed dir
    * when one exists. A production deployment recovering across restarts
    * sets `graft.stream.checkpointRoot` (or an explicit per-query
    * checkpointLocation) to durable storage; that conf also overrides
    * this choice here. Dirs are deleted after each replay completes. */
  private[streaming] def checkpointRoot(spark: SparkSession): Option[String] =
    spark.conf.getOption("graft.stream.checkpointRoot").orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) Some("/dev/shm/graft_stream_ck")
      else None // fall through to Spark's default temp checkpoint
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** The events table as a file-stream source with `ts` normalized to
    * nanos-since-epoch BIGINT. A file stream source must be handed the
    * PHYSICAL schema (it has no footer to infer from, and a mismatched
    * user schema mis-reads the column), so the encoding-normalization
    * (Tables.normalizeEventTs — BIGINT nanos pass-through vs TIMESTAMP
    * micros × 1000) is applied to the streaming DataFrame after the read;
    * downstream watermarks/windows see the same nanos BIGINT the batch
    * mirrors do. pathGlobFilter narrows the directory listing to the
    * events table within the shared corpus dir. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame =
    Tables.normalizeEventTs(
      spark.readStream.schema(Tables.eventsRawSchema(spark, dir))
        .option("pathGlobFilter", "events.parquet").parquet(dir))

  val WatermarkMs: Long = 2 * 3600 * 1000L
  val WindowMs: Long = 3600 * 1000L

  /** Run a streaming DataFrame to completion on the bounded corpus:
    * AvailableNow trigger into an append-mode memory sink, state
    * partitions sized to the replay (4 by default — per-partition state
    * stores carry fixed per-batch commit I/O, measured to dominate wide
    * layouts at this state size; a production deployment with large state
    * raises `graft.stream.statePartitions`), sink table dropped after the
    * result is checkpointed so repeated runs hold no driver sink state.
    * `finish` shapes the sink table into the query's deterministic output.
    *
    * `finalWatermarkBatch`: windowed-append queries emit a window only
    * when a LATER batch's watermark passes its end, so they need the
    * trailing no-data micro-batch. Dedup and join emit their rows in the
    * data batch itself (the no-data batch would only purge state that a
    * terminating query discards anyway) — skipping it saves one full
    * plan/execute/state-commit cycle per run. */
  private def runBounded(spark: SparkSession, df: DataFrame, prefix: String,
                         finalWatermarkBatch: Boolean = true,
                         outputMode: String = "append")
                        (finish: DataFrame => DataFrame): DataFrame = {
    val sink = s"${prefix}_${runSeq.incrementAndGet()}"
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val stateParts = spark.conf.getOption("graft.stream.statePartitions").getOrElse("4")
    spark.conf.set("spark.sql.shuffle.partitions", stateParts)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      finalWatermarkBatch.toString)
    // state store provider stays the session default (HDFS-backed) unless
    // overridden: measured at sf0.1, RocksDB costs ~15% MORE here (per-
    // partition instance setup dominates KB-scale state); a production
    // deployment with GB-scale state sets graft.stream.stateStoreProvider
    // to RocksDBStateStoreProvider where its O(1)-memory commits win
    spark.conf.getOption("graft.stream.stateStoreProvider").foreach(
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    // start() clones the session + conf synchronously, so restoring in
    // finally cannot race the async micro-batches
    val ckpt = checkpointRoot(spark).map(root => s"$root/$sink")
    val q = try {
      val w = df.writeStream.format("memory").queryName(sink)
        .outputMode(outputMode).trigger(Trigger.AvailableNow())
      ckpt.fold(w)(w.option("checkpointLocation", _)).start()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    q.awaitTermination()
    val out = finish(spark.table(sink)).localCheckpoint(eager = true)
    spark.catalog.dropTempView(sink)
    ckpt.foreach(c => deleteRecursively(new java.io.File(c)))
    out
  }

  /** Tumbling 1 h per-event-type counts with a 2 h watermark, run as a
    * bounded stream (Trigger.AvailableNow + the trailing no-data batch
    * that lets the final watermark close its windows). Output timestamps
    * are epoch-millis BIGINTs — integer math both engines share. */
  def streamWindowCounts(spark: SparkSession, dir: String): DataFrame = {
    val stream = eventsStream(spark, dir)
    // ns → µs integer DIV (epoch-nanos exceed 2^53 — see SessionQueries)
    val withTs = stream.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    val counts = StreamOps.windowedCounts(withTs, "2 hours", "1 hour")
    runBounded(spark, counts, "graft_stream_window") {
      _.select(unix_millis(col("w_start")).as("w_start_ms"), col("event_type"), col("n"))
        .orderBy(col("w_start_ms"), col("event_type"))
    }
  }

  /** Streaming stateful dedup: one event per (user, hour) survives, state
    * bounded by the watermark (`dropDuplicatesWithinWatermark` — plain
    * streaming dropDuplicates retains key state forever). The bounded
    * single-batch replay emits exactly the distinct key set (nothing is
    * late on first sight), so the batch mirror is COUNT(DISTINCT hour)
    * per user; only key columns are output, since WHICH duplicate
    * survives is arrival-order-dependent but the key set is not. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val stream = eventsStream(spark, dir)
    val deduped = stream
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      .withColumn("hour_ms", expr("unix_millis(ts) DIV 3600000") * lit(3600000L))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "hour_ms")
      .select(col("user_id"), col("hour_ms"))
    runBounded(spark, deduped, "graft_stream_dedup", finalWatermarkBatch = false) {
      _.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_active_hours"))
        .orderBy(col("user_id"))
    }
  }

  /** Stream-stream interval inner join: each click pairs with the same
    * user's views in the following hour, both sides watermarked (the
    * watermark + time-range condition is what lets the engine expire join
    * state — unbounded-history stream joins don't exist). On the bounded
    * single-batch replay every match is emitted, so the batch mirror is
    * the plain interval join. Output is the per-user match count (the
    * pair set is order-independent; which micro-batch emitted it is not). */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    def side(eventType: String, idAs: String) =
      eventsStream(spark, dir)
        .filter(col("event_type") === eventType)
        .select(col("user_id").as(s"${idAs}_user"),
          col("event_id").as(s"${idAs}_id"),
          // ms truncation, matching the oracle's epoch-ms floor — a µs-
          // precision axis would decide ±1h boundaries differently than
          // the ms mirror for events inside the same millisecond
          timestamp_millis(expr("ts DIV 1000000")).as(s"${idAs}_ts"))
        .withWatermark(s"${idAs}_ts", "2 hours")
    val clicks = side("click", "c")
    val views = side("view", "v")
    val joined = clicks.join(views,
      col("c_user") === col("v_user") &&
        col("v_ts") >= col("c_ts") &&
        col("v_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
    runBounded(spark, joined, "graft_stream_join", finalWatermarkBatch = false) {
      _.groupBy(col("c_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    }
  }

  /** Stream-stream LEFT SEMI interval join — completes the streaming join
    * family (inner [[streamStreamJoin]], left outer [[streamOuterJoin]]):
    * each click emits AT MOST ONCE, on the first view the same user
    * produces within the following hour, and never again (the engine
    * marks the matched left row in state instead of re-emitting per
    * match). The existence-check shape — "which impressions converted" —
    * without the inner join's match-multiplicity blowup: at 100 TB a hub
    * user with V views per click pays 1 output row here vs V there, and
    * the join state still expires by the same watermark + time-bound
    * reasoning.
    *
    * Determinism: every matched click emits in the data batch itself
    * (all matches are present in the bounded single-batch replay), and
    * unmatched clicks produce nothing in append mode — no flush-boundary
    * rows exist, so unlike the outer join no margin device is needed.
    * The batch mirror is the plain EXISTS semi join. */
  def streamSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    def side(eventType: String, idAs: String) =
      eventsStream(spark, dir)
        .filter(col("event_type") === eventType)
        .select(col("user_id").as(s"${idAs}_user"),
          col("event_id").as(s"${idAs}_id"),
          timestamp_millis(expr("ts DIV 1000000")).as(s"${idAs}_ts"))
        .withWatermark(s"${idAs}_ts", "2 hours")
    val joined = side("click", "c").join(side("view", "v"),
      col("c_user") === col("v_user") &&
        col("v_ts") >= col("c_ts") &&
        col("v_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      "left_semi")
    runBounded(spark, joined, "graft_stream_semi", finalWatermarkBatch = false) {
      _.groupBy(col("c_user").as("user_id"))
        .agg(count(lit(1)).as("n_converted_clicks"),
          min(unix_millis(col("c_ts"))).as("first_click_ms"))
        .orderBy(col("user_id"))
    }
  }

  /** Stream-stream LEFT OUTER interval join — the semantics the inner
    * join ([[streamStreamJoin]]) cannot express: a click with NO view in
    * its following hour still surfaces, as a null-view row EMITTED BY THE
    * WATERMARK (the engine holds the unmatched left row in state until the
    * watermark proves no matching view can still arrive, then flushes it
    * null-extended in a later micro-batch — here the trailing no-data
    * batch). The funnel-abandonment shape: matched and timed-out-unmatched
    * in one operator.
    *
    * Determinism device: which unmatched clicks flush is decided by the
    * final watermark `wm = min(max click-ms, max view-ms) − 2 h` (min
    * across both inputs' watermarks — Spark's default multi-watermark
    * policy), with engine-internal ±strictness at the exact eviction
    * boundary `c_ts + 1 h = wm`. Both the finish step and the oracle keep
    * a null row only when it clears the boundary by ≥5 s
    * (`c_ts + 1h ≤ wm − 5000`), so no boundary-interpretation row can
    * differ — the q_geo_flagship_5880 margin device applied to time.
    * Unflushed end-of-stream state is discarded by both, matched rows all
    * emit in the data batch, so the output is a pure function of the data. */
  def streamOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    def side(eventType: String, idAs: String) =
      eventsStream(spark, dir)
        .filter(col("event_type") === eventType)
        .select(col("user_id").as(s"${idAs}_user"),
          col("event_id").as(s"${idAs}_id"),
          timestamp_millis(expr("ts DIV 1000000")).as(s"${idAs}_ts"))
        .withWatermark(s"${idAs}_ts", "2 hours")
    val joined = side("click", "c").join(side("view", "v"),
      col("c_user") === col("v_user") &&
        col("v_ts") >= col("c_ts") &&
        col("v_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
    // the final watermark is a constant of the corpus — compute it from
    // the batch table (same file the stream reads)
    val wmRow = Tables.events(spark, dir)
      .agg(max(when(col("event_type") === "click", expr("ts DIV 1000000"))).as("mc"),
        max(when(col("event_type") === "view", expr("ts DIV 1000000"))).as("mv"))
      .collect()(0)
    // a side with no rows never advances its watermark, so nothing can
    // flush (engine keeps the min policy at the initial watermark) — the
    // SQL-null max maps to that, not to 0 (the ADVICE observeMetrics rule)
    val wm =
      if (wmRow.isNullAt(0) || wmRow.isNullAt(1)) Long.MinValue
      else math.min(wmRow.getLong(0), wmRow.getLong(1)) - WatermarkMs
    runBounded(spark, joined, "graft_stream_outer") {
      _.filter(col("v_id").isNotNull ||
          unix_millis(col("c_ts")) + lit(3600000L) <= lit(wm - 5000L))
        .groupBy(col("c_user").as("user_id"))
        .agg(count(col("v_id")).as("n_matched"),
          count(when(col("v_id").isNull, lit(1))).as("n_flushed_unmatched"))
        .orderBy(col("user_id"))
    }
  }

  /** Streaming gap sessionization (`StreamOps.sessionize`,
    * flatMapGroupsWithState + EventTimeTimeout) run end-to-end by the
    * engine on the bounded corpus. Emission on a single-batch replay is
    * deterministic: every non-final session per user closes in the data
    * batch (a later event sits more than a gap after it); a user's FINAL
    * session is flushed by the event-time timeout iff the final watermark
    * strictly passes its gap horizon (`end + gap < max_tms − delay` — the
    * engine fires a timeout when the eviction watermark exceeds the set
    * timestamp). Both rules are integer-ms arithmetic the batch oracle
    * replays exactly; sum_value is dropped from the output because the
    * state function folds doubles in arrival order, which no engine-
    * independent mirror can reproduce bit-exactly (same reason as
    * q_geo_flagship_5880's exclusion — but here the integer columns
    * fully determine the sessionization, so nothing is lost). */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stream = eventsStream(spark, dir)
    val ev = stream.select(col("user_id"),
        expr("ts DIV 1000000L").as("tms"), col("value"))
      .as[StreamOps.Event]
    val sessions = StreamOps.sessionize(ev, graft.ops.SessionQueries.GapMs,
      watermarkDelay = "2 hours")
    runBounded(spark, sessions.toDF(), "graft_stream_sessionize") {
      _.select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
        .orderBy(col("user_id"), col("start_ms"))
    }
  }

  /** The NATIVE streaming session-window aggregation
    * (`session_window(ts, gap)` under a watermark — the engine's
    * merging-session-state operator), complementing [[streamSessionize]]'s
    * custom `flatMapGroupsWithState` build of the same sessions: same gap
    * law, different state machinery (merged-window state store vs user
    * state), one oracle family. Append mode emits a session once the
    * watermark passes its end; the bounded replay's trailing no-data
    * batch closes every session, so the batch mirror is the exact
    * island-method SQL (with session_window's half-open >= boundary). */
  def streamSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val stream = eventsStream(spark, dir)
    val agg = stream
      .withColumn("tts", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("tts", "2 hours")
      .groupBy(col("user_id"),
        session_window(col("tts"),
          s"${graft.ops.SessionQueries.GapMs / 1000} seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"))
    runBounded(spark, agg, "graft_stream_session_window") {
      _.select(col("user_id"), unix_millis(col("sw.start")).as("start_ms"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_ms"))
    }
  }

  /** Stream-static broadcast join: the streaming fact enriches against a
    * static dimension (nation, keyed by user_id % 25) read as a plain
    * batch relation, then a watermarked tumbling window counts per nation
    * name. The static side holds NO streaming state — every micro-batch
    * re-plans it as a broadcast hash join against the batch table, which
    * is exactly how a 100 TB/day stream joins its dimension tables (the
    * streaming analogue of J1: dimension broadcasts, fact never
    * shuffles for the join; the only stateful operator is the window
    * aggregate). Emission follows the same append-mode watermark rule as
    * [[streamWindowCounts]], so the batch mirror is deterministic. */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val stream = eventsStream(spark, dir)
    val dim = Tables.table(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
    val joined = stream
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      .withColumn("nk", col("user_id") % lit(25L))
      .join(broadcast(dim), "nk")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("n_name"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n_name"), col("n"))
    runBounded(spark, joined, "graft_stream_static") {
      _.select(unix_millis(col("w_start")).as("w_start_ms"), col("n_name"), col("n"))
        .orderBy(col("w_start_ms"), col("n_name"))
    }
  }

  /** Late-data discipline under a MULTI-batch arrival order — the one
    * watermark semantic a single-batch replay cannot show: rows arriving
    * AFTER the watermark passed their window. The corpus is staged into
    * three files (newest time-slice first, then mid, then oldest) and
    * streamed with `maxFilesPerTrigger=1`, so the engine sees time flowing
    * BACKWARD across batches — the adversarial arrival order.
    *
    * Probe-pinned engine rules this query (and its oracle) encode exactly,
    * with integer-ms arithmetic and NO margins:
    *   - Spark keeps DUAL watermarks (SPARK-40925): late-row filtering
    *     uses the ONE-BATCH-LAGGED value, eviction the current one. So
    *     batch 1's mid-slice rows are accepted even though they sit far
    *     below the eviction watermark (the documented grace), while
    *     batch 2's old-slice rows face wm_late = max(batch-0 ts) − 2 h.
    *   - The drop rule is inclusive: a row is dropped iff its
    *     window_end ≤ wm_late (equality probed and pinned).
    * Update mode + max(n)-per-window makes every ACCEPTED row visible
    * (append mode would hide accepted-late rows in never-closing
    * windows); dropped rows are visible as counts that stay at the
    * earlier batches' value. Slice boundaries derive from min/max event
    * time by integer arithmetic both engines replay. */
  def streamLateData(spark: SparkSession, dir: String): DataFrame = {
    val base = s"${graft.ops.SinkQueries.OutBase}/stream_late"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val in = s"$base/in"
    new java.io.File(in).mkdirs()

    val e = Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .select(expr("ts DIV 1000000").as("tms"))
    val bounds = e.agg(min(col("tms")).as("lo"), max(col("tms")).as("hi")).collect()(0)
    if (bounds.isNullAt(0)) {
      // empty corpus: no slices to stage, no stream to run — the result
      // is the empty window relation (SQL-null bounds, not unboxed 0s)
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("w_start_ms", LongType), StructField("n_final", LongType))))
    }
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val t34 = lo + (hi - lo) * 3 / 4 // Long division == DIV for non-negatives
    val t12 = lo + (hi - lo) / 2

    def stage(name: String, cond: org.apache.spark.sql.Column, mtime: Long): Unit = {
      val tmp = s"$base/tmp_$name"
      e.filter(cond).select(timestamp_millis(col("tms")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(in, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
      ()
    }
    val now = System.currentTimeMillis()
    stage("0_new.parquet", col("tms") >= t34, now - 90000) // carries max ts
    stage("1_mid.parquet", col("tms") >= t12 && col("tms") < t34, now - 60000)
    stage("2_old.parquet", col("tms") < t12, now - 30000) // the late slice

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    val sink = s"graft_stream_late_${runSeq.incrementAndGet()}"
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val q = try {
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    q.awaitTermination()
    val out = spark.table(sink)
      // counts are monotone across update emissions: max = final accepted
      .groupBy(unix_millis(col("window.start")).as("w_start_ms"))
      .agg(max(col("n")).as("n_final"))
      .orderBy(col("w_start_ms"))
      .localCheckpoint(eager = true)
    spark.catalog.dropTempView(sink)
    out
  }

  /** State-store introspection — Spark's `statestore` / `state-metadata`
    * batch readers over a streaming checkpoint (the debugging surface for
    * "what is this stateful query actually holding?"): run a keyed
    * streaming aggregation (update mode, no watermark — the keyed-total
    * shape whose state is exactly one buffer row per key), then read the
    * persisted state BACK as a DataFrame and oracle it. The state read
    * proves three things end to end: the checkpointed buffers hold the
    * exact group totals (count+sum per event_type, not approximations or
    * partials), the metadata describes the layout we pinned (state
    * partition count), and AvailableNow folded the corpus into a single
    * committed batch (maxBatchId = 0).
    *
    * Scale shape: the readers scan the state files directly — one task
    * per state partition, never through the streaming engine — which is
    * why this is the production tool for state-size audits and skew
    * hunts on checkpoints too big to re-run. Watermarked operators evict
    * (their retained window is the watermark horizon); this keyed-total
    * shape retains |keys| rows by design. */
  def streamStateInspect(spark: SparkSession, dir: String): DataFrame = {
    val base = s"${graft.ops.SinkQueries.OutBase}/state_inspect"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val sink = s"graft_state_inspect_${runSeq.incrementAndGet()}"
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    // state layout is fixed at first checkpoint: pin it (4 partitions)
    // so the metadata assertion is environment-independent
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val q = try {
      eventsStream(spark, dir)
        .filter(col("value").isNotNull)
        .withColumn("cents", expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    q.awaitTermination()
    spark.catalog.dropTempView(sink)
    val metaRows = spark.read.format("state-metadata").load(s"$base/ckpt")
      .select(col("numPartitions"), col("maxBatchId")).collect()
    if (metaRows.isEmpty) {
      // empty corpus: AvailableNow commits no batch, so there is no state
      // to introspect — the empty relation, not an unboxed metadata row
      import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("event_type", StringType),
          StructField("n", LongType), StructField("sum_cents", LongType),
          StructField("n_batches", LongType), StructField("n_state_partitions", IntegerType))))
    }
    val meta = metaRows(0)
    spark.read.format("statestore").load(s"$base/ckpt")
      .select(col("key.event_type").as("event_type"),
        col("value.count").as("n"),
        col("value.sum").as("sum_cents"))
      .withColumn("n_batches", lit(meta.getLong(1) + 1L))
      .withColumn("n_state_partitions", lit(meta.getInt(0)))
      .orderBy(col("event_type"))
  }

  /** Streaming parquet FILE sink with exactly-once semantics: the stream
    * writes partition files plus a `_spark_metadata` commit log, and a
    * batch read of the directory trusts ONLY committed files — a crashed
    * or duplicated micro-batch can never surface uncommitted data. That
    * commit protocol (not the projection) is the capability under test:
    * it is how a 100 TB/day stream lands in a lake other engines read.
    * The query is stateless (projection only — file sinks are append-only
    * and need no watermark), then the committed directory is read back and
    * rolled up; the oracle aggregates the source table, so equality proves
    * no row was lost or doubled across the stream → files → batch loop. */
  def streamFileSink(spark: SparkSession, dir: String): DataFrame = {
    val base = s"${graft.ops.SinkQueries.OutBase}/stream_file_sink"
    // a file sink's commit log is append-only: a fresh run clears the
    // data directory and its checkpoint TOGETHER (one without the other
    // would desync sink offsets from the log)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val stream = eventsStream(spark, dir)
    val shaped = stream.select(col("event_id"), col("event_type"), col("user_id"),
      expr("ts DIV 1000000L").as("tms"), col("value"))
    val q = shaped.writeStream.format("parquet")
      .option("path", s"$base/data")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // explicit schema on the read-back: a zero-row stream commits NO data
    // files, and schema inference over the empty sink directory throws —
    // the shaped schema is known either way
    spark.read.schema(shaped.schema).parquet(s"$base/data")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        max(col("tms")).as("max_tms"))
      .orderBy(col("event_type"))
  }

  /** foreachBatch upsert — the custom-sink escape hatch: each micro-batch
    * aggregates its rows and MERGES them into a keyed store (additive
    * counts + exact DECIMAL sums, so the result is identical however the
    * engine splits batches), published through the versioned Materialize
    * protocol (write new version → atomic pointer swap — readers never
    * see a half-merged state). This is how Structured Streaming upserts
    * into any store without a native connector, and the merge associativity
    * is what makes AvailableNow replay, restart, and batch-boundary
    * changes all converge to the same table.
    *
    * Scale shape: per batch, one aggregate with map-side partials + one
    * keyed merge (hash equi union-agg against the store — at scale the
    * store is bucketed on the key so the merge is shuffle-free on the
    * store side). The oracle aggregates the source directly: equality
    * proves the incremental merges composed to the batch answer. */
  def streamForeachUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = s"${graft.ops.SinkQueries.OutBase}/stream_upsert"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val stream = eventsStream(spark, dir)
    val shaped = stream.select(col("user_id"), col("value"))
    val q = shaped.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val agg = batch.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,6)")).as("sum_value_dec"))
        val sp = batch.sparkSession
        // merge against the PREVIOUS BATCH's version, not `current`: the
        // engine commits the checkpoint offset AFTER foreachBatch returns,
        // so a crash between publish and commit re-executes this batch —
        // merging b(N-1) ∪ batch(N) and overwrite-publishing bN is
        // idempotent under that replay, where merging `current` (already
        // bN) would double-count every key
        val prev = s"b${batchId - 1}"
        val hasPrev = batchId > 0 && java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(base, "state", "versions", prev))
        val merged =
          if (!hasPrev) agg
          else graft.ops.Materialize.version(sp, base, "state", prev)
            .unionByName(agg)
            .groupBy(col("user_id"))
            .agg(sum(col("n_events")).as("n_events"),
              sum(col("sum_value_dec")).as("sum_value_dec"))
        graft.ops.Materialize.publish(merged, base, "state", s"b$batchId",
          Seq("user_id"))
        ()
      }
      .start()
    q.awaitTermination()
    // an empty source runs zero data batches and never publishes — return
    // the empty keyed table instead of failing the pointer read (same
    // guard class as zorderScan's empty-bounds path)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(base, "state", "current")))
      spark.emptyDataFrame
        .withColumn("user_id", lit(null).cast("long"))
        .withColumn("n_events", lit(null).cast("long"))
        .withColumn("sum_value", lit(null).cast("double"))
    else
      graft.ops.Materialize.current(spark, base, "state")
        .select(col("user_id"), col("n_events"),
          col("sum_value_dec").cast("double").as("sum_value"))
        .orderBy(col("user_id"))
  }

  /** Streaming count-min sketch: the custom [[graft.exprs.CmsAgg]]
    * TypedImperativeAggregate running INSIDE the streaming engine — a
    * complete-mode global aggregate whose state is the one 8 KiB cell
    * array, merged incrementally across micro-batches. The final sketch
    * must equal the batch-built sketch exactly: CMS cell merges are
    * commutative/associative adds, so micro-batch boundaries cannot
    * change any cell. The finish step probes it with the same exact-count
    * relation as [[graft.ops.SessionQueries.cmsFrequency]], and the two
    * queries share one oracle — the strongest possible statement that
    * streaming and batch builds agree.
    *
    * This is the 100 TB/day streaming-telemetry shape: per-micro-batch
    * cost is one fixed-size state read-modify-write regardless of key
    * cardinality, where a streaming groupBy count would grow state with
    * |keys|. */
  def streamCms(spark: SparkSession, dir: String): DataFrame = {
    val stream = eventsStream(spark, dir)
    val sketch = stream.agg(graft.functions.cms_agg(col("event_type")).as("sk"))
    runBounded(spark, sketch, "graft_stream_cms",
      finalWatermarkBatch = false, outputMode = "complete") { sinkDf =>
      val sk = org.apache.spark.sql.graftbridge.Bridge.scalarSubquery(
        sinkDf.select(col("sk")))
      Tables.events(spark, dir)
        .groupBy(col("event_type")).agg(count(lit(1)).as("exact_n"))
        .withColumn("cms_n", graft.functions.cms_estimate(sk, col("event_type")))
        .orderBy(col("event_type"))
    }
  }

  /** Streaming Misra-Gries heavy hitters — the second bounded-state
    * sketch running inside the real streaming engine (complete-mode
    * global aggregate, ≤ k−1 counters of state per micro-batch commit,
    * vs the CMS's fixed cell array). The key stream is deliberately
    * skewed (every user_id ≡ 0 (mod 3) collapses onto 4 hot keys, the
    * rest stay long-tail) so the N/k=N/16 bar separates a real head.
    *
    * Output is the CONTRACT-GATED shape (the q_approx_distinct device):
    * exact counts name the provable heavy hitters (`exact_n·k > N` —
    * integer cross-multiply), and `in_candidates` asserts the MG
    * guarantee that each of them appeared in the streamed summary — true
    * under ANY merge order, so the row set is deterministic while the
    * sketch's below-threshold content is legally not. */
  def streamHeavyHitters(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val hotKey = expr("CASE WHEN user_id % 3 = 0 THEN user_id % 4 ELSE user_id END")
    val stream = eventsStream(spark, dir)
      .select(hotKey.as("key"))
    val sketch = stream.agg(graft.functions.mg_agg(col("key"), k).as("cand"))
    runBounded(spark, sketch, "graft_stream_mg",
      finalWatermarkBatch = false, outputMode = "complete") { sinkDf =>
      val cands = org.apache.spark.sql.graftbridge.Bridge.scalarSubquery(
        sinkDf.select(col("cand")))
      val ev = Tables.events(spark, dir).select(hotKey.as("key"))
      val n = org.apache.spark.sql.graftbridge.Bridge.scalarSubquery(
        ev.agg(count(lit(1))))
      ev.groupBy(col("key")).agg(count(lit(1)).as("exact_n"))
        .withColumn("n_total", n)
        .filter(col("exact_n") * k > col("n_total"))
        .withColumn("in_candidates", array_contains(cands, col("key")))
        .select(col("key"), col("exact_n"), col("in_candidates"))
        .orderBy(col("key"))
    }
  }

  /** Streaming distinct-count via the KMV sketch ([[graft.exprs.KmvAgg]]
    * inside the streaming engine — third custom TypedImperativeAggregate
    * on this path after CMS and Misra-Gries): complete-mode global
    * aggregate, ≤k longs of state merged incrementally across
    * micro-batches. The KmvAggProps any-split law is exactly the
    * streaming guarantee: the sketch after N micro-batches equals the
    * batch sketch, so the DuckDB `ORDER BY h LIMIT k` replay (including
    * the estimator arithmetic) hash-matches the streaming result. Exact
    * distinct rides along as the audit column. */
  def streamKmv(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val h = pmod(pmod(col("user_id"), lit(1000000007L)) * lit(2654435761L),
      lit(2147483648L))
    val stream = eventsStream(spark, dir).select(h.as("h"))
    val sketch = stream.agg(graft.functions.kmv_agg(col("h"), k).as("sk"))
    runBounded(spark, sketch, "graft_stream_kmv",
      finalWatermarkBatch = false, outputMode = "complete") { sinkDf =>
      val sk = org.apache.spark.sql.graftbridge.Bridge.scalarSubquery(
        sinkDf.select(col("sk")))
      Tables.events(spark, dir)
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
        .withColumn("sk", sk)
        .withColumn("m_size", expr("CAST(size(sk) AS INT)"))
        .withColumn("kmv_est", expr(
          s"CASE WHEN m_size < $k THEN CAST(m_size AS BIGINT) " +
            s"ELSE (CAST(${k - 1} AS BIGINT) * 2147483648) DIV element_at(sk, $k) END"))
        .select(col("exact_distinct"), col("m_size"), col("kmv_est"))
    }
  }

  /** Streaming exact distinct-users via the membership bitmap
    * ([[graft.exprs.BitmapAgg]] in the streaming engine — the fourth
    * and last custom aggregate on this path, completing the
    * CMS / Misra-Gries / KMV / bitmap quartet): complete-mode global
    * aggregate, ONE fixed universe/8-byte word array OR-merged across
    * micro-batches. OR is idempotent and commutative, so any
    * micro-batch arrival order yields the identical bitmap — exactness
    * is the contract, and the oracle is plain COUNT(DISTINCT).
    *
    * Universe sizing (same ceiling discipline as `bitmapOverlap`'s
    * event_id bound): the default 65536 covers `user_id` only through
    * ~sf1 (~15k users at sf1; ~150k at sf10 would overflow). Beyond
    * that, BitmapAgg's out-of-universe check aborts LOUDLY rather than
    * silently dropping ids — size `universe` to the scale factor
    * (~15k·sf, next power of two) or switch to [[streamKmv]] when an
    * estimate suffices. */
  def streamBitmap(spark: SparkSession, dir: String, universe: Int = 65536): DataFrame = {
    val stream = eventsStream(spark, dir).select(col("user_id"))
    val sketch = stream.agg(
      graft.functions.bitmap_agg(col("user_id"), universe).as("bm"))
    runBounded(spark, sketch, "graft_stream_bitmap",
      finalWatermarkBatch = false, outputMode = "complete") { sinkDf =>
      val bm = org.apache.spark.sql.graftbridge.Bridge.scalarSubquery(
        sinkDf.select(col("bm")))
      Tables.events(spark, dir)
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
        .withColumn("bm", bm)
        .withColumn("bitmap_count", expr(
          "aggregate(transform(bm, w -> CAST(bit_count(w) AS BIGINT)), " +
            "CAST(0 AS BIGINT), (s, x) -> s + x)"))
        .select(col("exact_distinct"), col("bitmap_count"))
    }
  }

  /** Streaming bounded-state TOP-K ([[graft.exprs.TopKAgg]] in the
    * streaming engine — fifth custom TypedImperativeAggregate on this
    * path, joining the CMS / Misra-Gries / KMV / bitmap quartet): the k
    * highest-value events seen so far, complete-mode global aggregate
    * carrying ≤2k (key, score) pairs of state across micro-batches. The
    * prune law (a pair outside a partial's top k can never enter the
    * global top k) is exactly the any-merge-order streaming guarantee,
    * so the streaming result equals the batch `ORDER BY score DESC, key
    * LIMIT k` — which is the DuckDB oracle, estimator-free and exact.
    * At scale this is the streaming leaderboard primitive: state is k
    * fixed-width pairs, never the stream. */
  def streamTopk(spark: SparkSession, dir: String, k: Int = 32): DataFrame = {
    val cents = expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
    val stream = eventsStream(spark, dir)
      .select(col("event_id"), cents.as("cents"))
    val sketch = stream.agg(
      graft.functions.topk_agg(col("event_id"), col("cents"), k).as("pairs"))
    runBounded(spark, sketch, "graft_stream_topk",
      finalWatermarkBatch = false, outputMode = "complete") { sinkDf =>
      sinkDf.select(posexplode(col("pairs")).as(Seq("pos", "p")))
        .select((col("pos") + 1).cast("int").as("rank"),
          col("p.key").as("event_id"), col("p.score").as("cents"))
        .orderBy(col("rank"))
    }
  }

  /** Streaming mergeable QUANTILES ([[graft.exprs.MrlAgg]] in the
    * streaming engine — sixth custom TypedImperativeAggregate on this
    * path, completing the summary family with quantiles next to
    * frequency/heavy-hitters/distinct/membership/top-k): complete-mode
    * global aggregate, O(k·log(N/k)) longs of level-buffer state merged
    * across micro-batches. The output is merge-order-dependent, so the
    * checked contract is the DETERMINISTIC rank-error bound: each
    * estimate's exact rank interval must fall within 2% of its target
    * (analytic bound ≈1% at these scales; no failure probability). The
    * oracle mirrors the contract — exact counts + TRUE — so a defect is
    * a hash mismatch. */
  def streamQuantile(spark: SparkSession, dir: String, k: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
    val stream = eventsStream(spark, dir).select(cents.as("x"))
    val sketch = stream.agg(graft.functions.mrl_agg(col("x"), k).as("sk"))
    runBounded(spark, sketch, "graft_stream_mrl",
      finalWatermarkBatch = false, outputMode = "complete") { sinkDf =>
      import org.apache.spark.sql.graftbridge.Bridge.scalarSubquery
      val ps = Seq(0.25, 0.5, 0.75, 0.95)
      val v = Tables.events(spark, dir).select(cents.as("x"))
      val cum = sinkDf.select(explode(col("sk")).as("p"))
        .groupBy(col("p.v").as("v")).agg(sum(col("p.w")).as("w"))
        .withColumn("cum", sum(col("w")).over(
          Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)))
      val nTotal = scalarSubquery(v.agg(count(lit(1))))
      val ests = ps.map { p =>
        scalarSubquery(cum
          .withColumn("n", nTotal)
          .filter(col("cum") >= ceil(lit(p) * col("n")).cast("long"))
          .agg(min(col("v"))))
      }
      val rankAggs = ps.indices.flatMap { i =>
        Seq(
          coalesce(sum(when(col("x") < ests(i), 1L).otherwise(0L)), lit(0L))
            .as(s"rlt$i"),
          coalesce(sum(when(col("x") <= ests(i), 1L).otherwise(0L)), lit(0L))
            .as(s"rle$i"))
      }
      val one = v.agg(count(lit(1)).as("n"), rankAggs: _*)
      val stackExpr = ps.indices
        .map(i => s"'p${(ps(i) * 100).toInt}', ${ps(i)}D, rlt$i, rle$i")
        .mkString(s"stack(${ps.size}, ", ", ", ")")
      one.select(col("n"), expr(s"$stackExpr AS (p_label, p, r_lt, r_le)"))
        .withColumn("target", ceil(col("p") * col("n")).cast("long"))
        .withColumn("bound", ceil(col("n") * lit(0.02)).cast("long"))
        .select(col("p_label"), col("n"),
          (col("n") === 0L ||
            (col("target") <= col("r_le") + col("bound") &&
             col("target") >= col("r_lt") + 1L - col("bound"))).as("in_spec"))
        .orderBy(col("p_label"))
    }
  }

  /** `transformWithState` per-user spend milestones
    * ([[MilestoneOps.MilestoneProcessor]] — Spark 4's arbitrary-stateful
    * API, mandatory-RocksDB) run by the real streaming engine: running
    * exact-cents balance, event count, and path-dependent UPWARD
    * $100-boundary crossings per user. Emission is running totals per
    * batch; the finish keeps each user's most-advanced row (n_events is
    * monotone per key), so the result is batch-count-invariant. The
    * oracle replays the fold with a (tms, event_id)-ordered running-sum
    * window — floorDiv == DuckDB's flooring `//`, all integer. */
  def streamTws(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val stream = eventsStream(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("user_id"), expr("ts DIV 1000000L").as("tms"),
        col("event_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .as[MilestoneOps.TwsEvent]
    val out = MilestoneOps.milestones(stream, stepCents = 10000L)
    spark.conf.set("graft.stream.stateStoreProvider",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runBounded(spark, out.toDF(), "graft_stream_tws",
      finalWatermarkBatch = false) { sinkDf =>
      sinkDf
        .withColumn("rn", row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("n_events").desc)))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("n_events"), col("cum_cents"),
          col("up_crossings"))
        .orderBy(col("user_id"))
    } finally spark.conf.unset("graft.stream.stateStoreProvider")
  }

  /** Streaming OHLC bars — the batch [[graft.ops.SessionQueries.ohlcBars]]
    * aggregate run AS A STREAM: tumbling 1-day event-time windows under
    * the 2 h watermark, open/close selected by `min_by`/`max_by` over the
    * (tms, event_id) total order INSIDE the streaming aggregate (state =
    * two candidate pairs + 3 scalars per open window — bounded, mergeable
    * across micro-batches, no sort anywhere). Append mode: a bar emits
    * exactly when the watermark closes its day, so the oracle keeps the
    * established closed-window rule (window_end ≤ max(tms) − 2 h).
    *
    * The point: every prior streaming aggregate here is either a count/
    * sum shape or a custom sketch — this one proves Spark's ORDERED
    * extremum aggregates (min_by/max_by with a struct key) hold their
    * per-window state correctly across batch boundaries, which is what a
    * market-bar or sensor-bar product actually ships. */
  def streamOhlc(spark: SparkSession, dir: String): DataFrame = {
    val s = eventsStream(spark, dir)
      .filter(col("value").isNotNull)
      .withColumn("tts", timestamp_micros(expr("ts DIV 1000")))
      .withColumn("tms", expr("ts DIV 1000000L"))
      .withColumn("cents", expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
      .withWatermark("tts", "2 hours")
    val bars = s.groupBy(window(col("tts"), "1 day"))
      .agg(expr("min_by(cents, struct(tms, event_id))").as("open"),
        max(col("cents")).as("high"),
        min(col("cents")).as("low"),
        expr("max_by(cents, struct(tms, event_id))").as("close"),
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("turnover_cents"))
      .select(unix_millis(col("window.start")).as("day_start_ms"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("turnover_cents"))
    runBounded(spark, bars, "graft_stream_ohlc") {
      _.orderBy(col("day_start_ms"))
    }
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_ohlc" -> (streamOhlc _),
    "q_stream_semi_join" -> (streamSemiJoin _),
    "q_stream_tws" -> (streamTws _),
    "q_stream_quantile" -> ((s, d) => streamQuantile(s, d)),
    "q_stream_topk" -> ((s, d) => streamTopk(s, d)),
    "q_stream_bitmap" -> ((s, d) => streamBitmap(s, d)),
    "q_stream_kmv" -> ((s, d) => streamKmv(s, d)),
    "q_stream_heavy_hitters" -> ((s, d) => streamHeavyHitters(s, d)),
    "q_stream_cms" -> (streamCms _),
    "q_stream_window" -> (streamWindowCounts _),
    "q_stream_file_sink" -> (streamFileSink _),
    "q_state_inspect" -> (streamStateInspect _),
    "q_stream_late_data" -> (streamLateData _),
    "q_stream_foreach_upsert" -> (streamForeachUpsert _),
    "q_stream_dedup" -> (streamDedup _),
    "q_stream_join" -> (streamStreamJoin _),
    "q_stream_outer_join" -> (streamOuterJoin _),
    "q_stream_sessionize" -> (streamSessionize _),
    "q_stream_session_window" -> (streamSessionWindow _),
    "q_stream_static_join" -> (streamStaticJoin _),
  )

  val oracles: Map[String, String] = Map(
    // the batch OHLC mirror (row_number open/close formulation) gated by
    // the closed-window rule: a day's bar exists iff its end cleared the
    // final watermark (window_end <= max(tms) - 2h, probe-pinned)
    // semi-join mirror: clicks with >= 1 same-user view in (c, c+1h];
    // every such click emits exactly once in the data batch, so the
    // EXISTS replay is the whole semantics (no flush boundary exists)
    "q_stream_semi_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS tms
        |  FROM events)
        |SELECT c.user_id,
        |       count(*) AS n_converted_clicks,
        |       min(c.tms) AS first_click_ms
        |FROM e c
        |WHERE c.event_type = 'click' AND EXISTS (
        |  SELECT 1 FROM e v
        |  WHERE v.event_type = 'view' AND v.user_id = c.user_id
        |    AND v.tms >= c.tms AND v.tms <= c.tms + 3600000)
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,
    "q_stream_ohlc" ->
      s"""WITH e AS (
         |  SELECT epoch_ns(ts) // 1000000 AS tms, event_id,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events WHERE value IS NOT NULL),
         |r AS (
         |  SELECT (tms // 86400000) * 86400000 AS day_start_ms, cents,
         |    row_number() OVER (PARTITION BY tms // 86400000
         |                       ORDER BY tms, event_id) AS ra,
         |    row_number() OVER (PARTITION BY tms // 86400000
         |                       ORDER BY tms DESC, event_id DESC) AS rd
         |  FROM e)
         |SELECT day_start_ms,
         |  CAST(max(CASE WHEN ra = 1 THEN cents END) AS BIGINT) AS open,
         |  CAST(max(cents) AS BIGINT) AS high,
         |  CAST(min(cents) AS BIGINT) AS low,
         |  CAST(max(CASE WHEN rd = 1 THEN cents END) AS BIGINT) AS close,
         |  count(*) AS n_events,
         |  CAST(sum(cents) AS BIGINT) AS turnover_cents
         |FROM r GROUP BY day_start_ms
         |HAVING day_start_ms + 86400000 <=
         |  (SELECT max(tms) FROM e) - $WatermarkMs
         |ORDER BY day_start_ms""".stripMargin,
    // transformWithState milestone fold: running-sum window in
    // (tms, event_id) order; prev cum = cum - cents, DuckDB // floors
    // like Math.floorDiv, greatest(0, ...) keeps only upward crossings
    "q_stream_tws" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS tms,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |c AS (
        |  SELECT user_id, cents,
        |    sum(cents) OVER (PARTITION BY user_id ORDER BY tms, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM e),
        |s AS (
        |  SELECT user_id, cents, cum,
        |    greatest(0, (cum // 10000) - ((cum - cents) // 10000)) AS up
        |  FROM c)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS cum_cents,
        |  CAST(sum(up) AS BIGINT) AS up_crossings
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Contract mirror (the q_quantile_sketch device): the deterministic
    // MRL rank-error bound must hold for every estimate — exact n + TRUE.
    "q_stream_quantile" -> {
      val branches = Seq("p25", "p50", "p75", "p95").map { label =>
        s"""SELECT '$label' AS p_label, count(*) AS n, true AS in_spec
           |FROM events""".stripMargin
      }
      branches.mkString("", "\nUNION ALL\n", "\nORDER BY p_label")
    },
    // Exact: streaming bounded-state top-k == batch ORDER BY ... LIMIT k
    // (the TopKAgg prune law under any micro-batch split).
    "q_stream_topk" ->
      """WITH c AS (
        |  SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events)
        |SELECT CAST(row_number() OVER (ORDER BY cents DESC, event_id) AS INTEGER)
        |         AS rank,
        |       event_id, cents
        |FROM c ORDER BY cents DESC, event_id LIMIT 32""".stripMargin,
    // Exactness IS the check: the streaming OR-merged bitmap must count
    // exactly the distinct users.
    "q_stream_bitmap" ->
      """SELECT count(DISTINCT user_id) AS exact_distinct,
        |       count(DISTINCT user_id) AS bitmap_count
        |FROM events""".stripMargin,
    // Full replay: streaming sketch == batch sketch (any-split law) ==
    // the oracle's ORDER BY h LIMIT k, estimator arithmetic included.
    "q_stream_kmv" ->
      """WITH hs AS (
        |  SELECT DISTINCT
        |    (((user_id % 1000000007 + 1000000007) % 1000000007)
        |     * 2654435761) % 2147483648 AS h
        |  FROM events),
        |sk AS (SELECT h FROM hs ORDER BY h LIMIT 64),
        |s AS (SELECT (SELECT count(*) FROM sk) AS m,
        |             (SELECT max(h) FROM sk) AS kth,
        |             (SELECT count(DISTINCT user_id) FROM events) AS ed)
        |SELECT CAST(ed AS BIGINT) AS exact_distinct,
        |  CAST(m AS INTEGER) AS m_size,
        |  CAST(CASE WHEN m < 64 THEN m ELSE (63 * 2147483648) // kth END
        |    AS BIGINT) AS kmv_est
        |FROM s""".stripMargin,
    // Contract mirror: the provable heavy hitters are pure SQL (exact
    // counts + integer cross-multiplied N/16 bar), and the MG guarantee
    // pins in_candidates to TRUE for every one of them — a sketch defect
    // is a hash mismatch, not an invisible quality drop.
    "q_stream_heavy_hitters" ->
      """WITH e AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN user_id % 4 ELSE user_id END AS key
        |  FROM events),
        |c AS (SELECT key, count(*) AS exact_n FROM e GROUP BY key),
        |n AS (SELECT count(*) AS n_total FROM e)
        |SELECT key, exact_n, TRUE AS in_candidates
        |FROM c, n WHERE exact_n * 16 > n_total
        |ORDER BY key""".stripMargin,
    // Shared with q_cms_frequency by construction: the streaming build
    // must equal the batch build (commutative cell adds), and both must
    // equal the oracle's from-exact-counts kernel replay.
    "q_stream_cms" -> graft.ops.SessionQueries.oracles("q_cms_frequency"),
    "q_stream_foreach_upsert" ->
      """SELECT user_id, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_stream_file_sink" ->
      """SELECT event_type, count(*) AS n,
        |       count(DISTINCT user_id) AS n_users,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |       CAST(max(epoch_ns(ts) // 1000000) AS BIGINT) AS max_tms
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // batch mirror of the append-mode emission rule: tumbling windows are
    // epoch-aligned; a window is emitted iff its end <= final watermark
    // (max event-time ms − delay). DuckDB truncates the parquet ns
    // timestamps to µs exactly like `ts DIV 1000`.
    "q_stream_window" ->
      s"""WITH e AS (
         |  SELECT CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS tms, event_type
         |  FROM events),
         |w AS (
         |  SELECT (tms // $WindowMs) * $WindowMs AS w_start_ms, event_type,
         |         count(*) AS n
         |  FROM e GROUP BY 1, 2)
         |SELECT w_start_ms, event_type, n FROM w
         |WHERE w_start_ms + $WindowMs <= (SELECT max(tms) FROM e) - $WatermarkMs
         |ORDER BY w_start_ms, event_type""".stripMargin,
    "q_stream_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS tms
        |  FROM events)
        |SELECT c.user_id, count(*) AS n_pairs
        |FROM e c JOIN e v
        |  ON c.user_id = v.user_id
        | AND v.tms >= c.tms AND v.tms <= c.tms + 3600000
        |WHERE c.event_type = 'click' AND v.event_type = 'view'
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,
    // the dual-watermark replay: batch-0 (newest quarter) and batch-1
    // (mid slice) rows are all accepted — batch 1's late filter uses the
    // one-batch-lagged watermark (still unset); batch-2 (oldest half)
    // rows face wm_late = hi - 2h and are dropped iff window_end <= wm
    // (inclusive, probe-pinned). All arithmetic integer ms.
    "q_stream_late_data" ->
      """WITH e AS (
        |  SELECT CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS tms
        |  FROM events WHERE ts IS NOT NULL),
        |bounds AS (SELECT min(tms) AS lo, max(tms) AS hi FROM e),
        |kept AS (
        |  SELECT (tms // 3600000) * 3600000 AS w_start
        |  FROM e, bounds
        |  WHERE tms >= lo + (hi - lo) // 2  -- batches 0/1: always accepted
        |     OR (tms // 3600000) * 3600000 + 3600000 > hi - 7200000)
        |SELECT w_start AS w_start_ms, count(*) AS n_final
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,
    // the state buffers hold the exact keyed totals; batch/layout
    // constants pinned by the query (AvailableNow single batch, 4 state
    // partitions set at first checkpoint)
    "q_state_inspect" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       CAST(1 AS BIGINT) AS n_batches,
        |       4 AS n_state_partitions
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // left-outer mirror: matched pairs all emit; a null row survives iff
    // the click clears the eviction boundary (c_ts + 1h <= wm - 5s, wm =
    // min side-max - 2h) — the same margin predicate the finish step
    // applies to the engine's emissions
    "q_stream_outer_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS tms
        |  FROM events),
        |c AS (SELECT * FROM e WHERE event_type = 'click'),
        |v AS (SELECT * FROM e WHERE event_type = 'view'),
        |-- DuckDB's least() SKIPS nulls; an empty side must yield NULL
        |-- (no watermark, nothing flushes), so spell the strict form
        |wm AS (SELECT CASE WHEN (SELECT max(tms) FROM c) IS NULL
        |                     OR (SELECT max(tms) FROM v) IS NULL THEN NULL
        |              ELSE least((SELECT max(tms) FROM c),
        |                         (SELECT max(tms) FROM v)) - 7200000
        |              END AS w),
        |j AS (
        |  SELECT c.user_id, c.tms, v.event_id AS v_id
        |  FROM c LEFT JOIN v
        |    ON c.user_id = v.user_id
        |   AND v.tms >= c.tms AND v.tms <= c.tms + 3600000)
        |SELECT user_id,
        |       CAST(count(v_id) AS BIGINT) AS n_matched,
        |       CAST(count(CASE WHEN v_id IS NULL THEN 1 END) AS BIGINT)
        |         AS n_flushed_unmatched
        |FROM j, wm
        |WHERE v_id IS NOT NULL OR tms + 3600000 <= wm.w - 5000
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // batch mirror of the native session_window append emission: islands
    // with session_window's half-open >= gap boundary, emitted iff the
    // session END (last event + gap) <= final watermark (max event-ms −
    // 2 h delay) — the q_stream_window rule applied to merged windows
    "q_stream_session_window" ->
      s"""WITH e AS (
         |  SELECT user_id, CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS tms
         |  FROM events),
         |flagged AS (
         |  SELECT user_id, tms,
         |    CASE WHEN lag(tms) OVER w IS NULL
         |              OR tms - lag(tms) OVER w >= ${graft.ops.SessionQueries.GapMs}
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms)),
         |sessions AS (
         |  SELECT user_id, tms,
         |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tms
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
         |  FROM flagged),
         |agg AS (
         |  SELECT user_id, CAST(min(tms) AS BIGINT) AS start_ms,
         |         count(*) AS n_events, max(tms) AS last_ms
         |  FROM sessions GROUP BY user_id, sid)
         |SELECT user_id, start_ms, n_events FROM agg
         |WHERE last_ms + ${graft.ops.SessionQueries.GapMs}
         |      <= (SELECT max(tms) FROM e) - $WatermarkMs
         |ORDER BY user_id, start_ms""".stripMargin,
    // batch mirror of the sessionizer's emission rule on a single-batch
    // replay: gap-split sessions (identical to q_sessionize's CTE), then
    // keep non-final sessions unconditionally and the final session per
    // user iff the timeout fired (end + gap STRICTLY below the final
    // watermark = max event-ms − 2 h delay)
    "q_stream_sessionize" ->
      s"""WITH e AS (
         |  SELECT user_id, CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS tms
         |  FROM events),
         |flagged AS (
         |  SELECT user_id, tms,
         |    CASE WHEN lag(tms) OVER w IS NULL
         |              OR tms - lag(tms) OVER w > ${graft.ops.SessionQueries.GapMs}
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms)),
         |sess AS (
         |  SELECT user_id, tms,
         |    sum(is_new) OVER (PARTITION BY user_id ORDER BY tms
         |                      ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM flagged),
         |agg AS (
         |  SELECT user_id, sid, min(tms) AS start_ms, max(tms) AS end_ms,
         |         count(*) AS n_events
         |  FROM sess GROUP BY 1, 2),
         |fin AS (
         |  SELECT agg.*, max(sid) OVER (PARTITION BY user_id) AS last_sid
         |  FROM agg)
         |SELECT user_id, start_ms, end_ms, CAST(n_events AS INTEGER) AS n_events
         |FROM fin
         |WHERE sid < last_sid
         |   OR end_ms + ${graft.ops.SessionQueries.GapMs}
         |        < (SELECT max(tms) FROM e) - ${WatermarkMs}
         |ORDER BY user_id, start_ms""".stripMargin,
    "q_stream_dedup" ->
      """SELECT user_id,
        |       count(DISTINCT (CAST(epoch_ns(ts) // 1000000 AS BIGINT)) // 3600000) AS n_active_hours
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // batch mirror of the stream-static join + windowed rollup: plain
    // equi join to nation, same tumbling-window emission rule as
    // q_stream_window
    "q_stream_static_join" ->
      s"""WITH e AS (
         |  SELECT CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS tms,
         |         user_id % 25 AS nk
         |  FROM events),
         |j AS (
         |  SELECT e.tms, n.n_name FROM e JOIN nation n ON e.nk = n.n_nationkey),
         |w AS (
         |  SELECT (tms // $WindowMs) * $WindowMs AS w_start_ms, n_name,
         |         count(*) AS n
         |  FROM j GROUP BY 1, 2)
         |SELECT w_start_ms, n_name, n FROM w
         |WHERE w_start_ms + $WindowMs <= (SELECT max(tms) FROM e) - $WatermarkMs
         |ORDER BY w_start_ms, n_name""".stripMargin,
  )
}
