package graft

import graft.ops.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale gate — the measured counterpart of the per-operator
  * "scale shape" arguments (VERDICT r12 #5): build a 10× replica-shifted
  * corpus from sf0.1 (foreign keys shifted consistently so every join
  * still matches; dimensions stay fixed, as they would at 100 TB), run
  * the heaviest registered queries ONCE each, and assert the plan
  * contract EMPIRICALLY at 10× the benched scale:
  *
  *   - no executed (AQE-final) plan flips to BroadcastNestedLoopJoin or
  *     CartesianProduct — the stats are 10× bigger, so any routing that
  *     silently depended on "small enough to broadcast" flips HERE
  *     before it flips in production;
  *   - no spill blow-up: memory+disk spill per query stays under a loud
  *     bound (spill growing faster than data is the 100 TB killer);
  *   - driver heap growth per query is recorded (bounded driver reads
  *     are a design invariant — a linear-in-data collect shows up as a
  *     10× heap delta).
  *
  * Exit code 1 on any violation. Writes `STRESS_LATEST.json` (and the
  * stable repo artifact path) for the round to commit — the same
  * one-line-JSON contract as [[Bench]].
  *
  * Replica shifting: orderkey/custkey shift per replica i by i·(max+1)
  * on BOTH sides of each FK edge (lineitem↔orders↔customer), doc/event/
  * vec ids shift likewise, event timestamps shift by i·30 days so the
  * timeline extends instead of densifying. Document TEXT is reused
  * verbatim — every doc gains 9 exact near-dup replicas, which is
  * deliberately adversarial for the LSH/dedup family (bucket sizes grow
  * 10×; the maxBucket/capPerBlock disciplines are what this gate
  * measures). */
object Stress {

  /** The heavy list: the most expensive batch queries of the r12
    * definitive bench plus the operators whose caps/bounds exist
    * precisely for scale (dedup/LSH family, partitioned spatial,
    * TeraSort-shape binning, the Q18/Q21 planner rungs). Streaming
    * queries are excluded: their cost is micro-batch engine setup, not
    * data volume, and their state bounds have their own long-horizon
    * gate (StreamOpsSpec). */
  val Heavy: Seq[String] = Seq(
    "q_minhash_audit", "q_fuzzy_join", "q_knn_join", "q_knn_join_partitioned",
    "q_triangles", "q_setsim_join", "q_containment_join", "q_dedup_clusters",
    "q_spatial_dwithin_partitioned", "q_equidepth_bins", "q_tpch_q18",
    "q_tpch_q21", "q_cdc_apply", "q_scd2_build", "q_copurchase",
    "q_window_funnel",
    // r17: the grid intersects-join joins its dwithin sibling in the gate
    // AND the growth set — they are the #2/#3 bench cost centers and the
    // operators a 100 TB geospatial pass leans on (r16 verdict #4)
    "q_spatial_join_partitioned",
    // r16: the exact winsorize moved onto the TeraSort rank device — gate
    // its spill/plan at 10× and record its growth curve like the median
    "q_winsorize",
    // replicas make every window cross-doc duplicated — the excision
    // walk's worst case (all non-canonical instances flow to the island
    // merge); gate proves the volume stays linear with no spill blow-up
    "q_span_excise")

  /** Spill guard per query. Raised 4 GiB → 8 GiB in r15 with a written
    * justification, not silently (VERDICT r14 #4): the top spiller
    * (q_knn_join_partitioned) measured 2.4–3.7 GB at 10× across r13/r14
    * runs, and its growth was PROVEN linear in the corpus with a
    * scale-invariant candidate constant (PLANS_NOTES "Round 14"
    * decomposition: 8.8 candidates/probe at both 1× and 10×) — so the
    * honest bound is "linear extrapolation + headroom", and 4 GiB sat
    * one corpus bump above the measured value of a query whose spill is
    * legitimate external-sort volume, not blow-up. 8 GiB still fails
    * fast on superlinear growth (a quadratic candidate explosion at 10×
    * lands in the tens of GB), which is what this gate exists to catch;
    * the 30× growth mode below measures the curve empirically. */
  val SpillBoundBytes: Long = 8L << 30

  /** Growth-curve probes: the heaviest join kernels plus the
    * TeraSort-device winsorize and (r17) both grid spatial joins, re-run
    * at 30× so the artifact records an empirical 10×→30× scaling exponent
    * instead of a single point. Runs BY DEFAULT (r15 verdict #7 — every
    * round records the curve without being asked);
    * SPARK_GRAFT_STRESS_GROWTH=0 opts out for quick dev iterations.
    * Since r17 the 30× samples use the same interleaved min-of-N
    * discipline as the 10× gate (r16 verdict #3: single-shot samples
    * drifted 30-50% round-over-round with untouched kernels — e.g. the
    * knn 10× point 32.2→43.7 s — making cross-round growth deltas
    * unattributable). */
  val GrowthProbes: Seq[String] =
    Seq("q_knn_join_partitioned", "q_setsim_join", "q_containment_join",
      "q_winsorize", "q_spatial_dwithin_partitioned",
      "q_spatial_join_partitioned")

  def ensureCorpus(spark: SparkSession, src: String, dst: String,
                   replicas: Int): Unit = {
    val marker = new java.io.File(dst, "_STRESS_READY")
    val stamp = s"replicas=$replicas src=$src\n"
    // reuse only a corpus built with the SAME parameters: a stale marker
    // from a different src/replica count would silently gate the wrong data
    if (marker.exists() &&
        java.nio.file.Files.readString(marker.toPath) == stamp) return
    new java.io.File(dst).mkdirs()
    def raw(t: String): DataFrame = Tables.table(spark, src, t)
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head.getLong(0) + 1L
    val oMax = maxOf(raw("orders"), "o_orderkey")
    val cMax = maxOf(raw("customer"), "c_custkey")
    val dMax = maxOf(raw("documents"), "doc_id")
    val eMax = maxOf(raw("events"), "event_id")
    val vMax = maxOf(raw("embeddings"), "vec_id")
    def rep(t: String)(f: (DataFrame, Int) => DataFrame): Unit =
      (0 until replicas).map(i => f(raw(t), i)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    rep("lineitem")((df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * oMax)))
    rep("orders")((df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * oMax))
        .withColumn("o_custkey", col("o_custkey") + lit(i * cMax)))
    rep("customer")((df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * cMax)))
    rep("documents")((df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * dMax)))
    rep("events")((df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * eMax))
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 720} HOURS")))
    rep("embeddings")((df, i) =>
      df.withColumn("vec_id", col("vec_id") + lit(i * vMax)))
    Seq("supplier", "part", "nation", "region").foreach(t =>
      raw(t).write.mode("overwrite").parquet(s"$dst/$t.parquet"))
    java.nio.file.Files.writeString(marker.toPath, stamp)
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_STRESS_DIR",
      "target/stress_corpus")
    val spark = Session.local()
    ensureCorpus(spark, src, dst, replicas = 10)

    val spill = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      }
    })
    val rt = Runtime.getRuntime
    def heapUsed(): Long = { System.gc(); rt.totalMemory() - rt.freeMemory() }

    val selected = Heavy.filter(SparkEntry.queries.contains)
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    // interleaved min-of-N passes, the Bench discipline: host contention
    // is one-sided noise (the first artifact run sampled q_knn_join at
    // 183 s in a contention window vs 14 s standalone minutes later), so
    // the min of interleaved passes is the attainable steady-state number
    val runs = sys.env.getOrElse("SPARK_GRAFT_STRESS_RUNS", "2").toInt.max(1)
    case class Obs(sec: Double, rows: Long, spillBytes: Long, heapDeltaMb: Long,
                   bnlj: Boolean)
    // listener events are delivered async: drain the bus before EVERY
    // spill sample so each stage's bytes land on the query that ran it
    // (otherwise the last query of a pass can lose its spill entirely)
    def spillNow(): Long = {
      org.apache.spark.GraftSparkShims.drainListenerBus(spark.sparkContext)
      spill.get()
    }
    def passOnce(): Map[String, Obs] = selected.map { name =>
      val spill0 = spillNow()
      val heap0 = heapUsed()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dst)
      val rows = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val plan = df.queryExecution.executedPlan.toString
      val bnlj = plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("CartesianProduct")
      name -> Obs(sec, rows, spillNow() - spill0,
        (heapUsed() - heap0) / (1 << 20), bnlj)
    }.toMap
    val passes = (1 to runs).map(_ => passOnce())
    val results = selected.map { name =>
      val obs = passes.map(_(name))
      val best = obs.minBy(_.sec)
      // violations judge the WORST pass: a plan flip or spill blow-up in
      // any pass is real even if another pass dodged it
      val bnlj = obs.exists(_.bnlj)
      val maxSpill = obs.map(_.spillBytes).max
      if (bnlj) violations += s"$name: plan flipped to nested-loop/cartesian at 10x"
      if (maxSpill > SpillBoundBytes)
        violations += s"$name: spill $maxSpill bytes exceeds bound $SpillBoundBytes"
      System.err.println(f"[stress] $name%-30s ${best.sec}%8.2f s  rows=${best.rows}%-8d " +
        f"spill=${maxSpill / (1 << 20)}%5d MB  heapDelta=${best.heapDeltaMb}%5d MB  bnlj=$bnlj")
      (name, best.sec, best.rows, maxSpill, best.heapDeltaMb, bnlj)
    }
    def ms(v: Double): String = BigDecimal(v)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString
    // default-on 30× growth curve: one more corpus (3× the gated one),
    // the growth probes ONCE each, recording sec/spill/rows at both
    // scales so the artifact carries an empirical 10×→30× exponent
    // (time ratio ~3 = linear in data). BNLJ flips still gate; spill is
    // recorded, not bounded — the point is the measured curve.
    val growthJson = if (!sys.env.get("SPARK_GRAFT_STRESS_GROWTH").contains("0")) {
      val dst30 = dst + "_30x"
      ensureCorpus(spark, src, dst30, replicas = 30)
      // tolerate Heavy/GrowthProbes drift: a probe registered in queries
      // but dropped from the gated Heavy pass has no 10× baseline — skip
      // it with a log line instead of throwing after the expensive 30×
      // corpus build (ADVICE r15 #3)
      val probes = GrowthProbes.filter(SparkEntry.queries.contains).filter { name =>
        val ok = passes.exists(_.contains(name))
        if (!ok) System.err.println(
          s"[stress] 30x $name skipped: not in the Heavy pass (no 10x baseline)")
        ok
      }
      // the 30× samples ride the SAME interleaved min-of-N discipline as
      // the 10× gate: sec is the min across passes (host contention is
      // one-sided noise), spill and BNLJ judge the worst pass (a spill or
      // plan flip in any pass is real even if another pass dodged it).
      // Passes alternate probe ORDER (forward, reversed, …): a probe that
      // always runs right after the suite's big spiller inherits its disk
      // churn in every sample — measured r17: containment 54.8 s when
      // always after knn's 13 GB spill vs 31.4 s in a dedicated JVM — so
      // the min over alternating orders gets each probe at least one
      // sample with a different predecessor
      case class G(sec: Double, rows: Long, spill: Long, bnlj: Boolean)
      def growthPass(order: Seq[String]): Map[String, G] = order.map { name =>
        val spill0 = spillNow()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, dst30)
        val rows = df.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val plan = df.queryExecution.executedPlan.toString
        name -> G(sec, rows, spillNow() - spill0,
          plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"))
      }.toMap
      val gpasses = (1 to runs).map(i =>
        growthPass(if (i % 2 == 1) probes else probes.reverse))
      val entries = probes.map { name =>
        val obs = gpasses.map(_(name))
        if (obs.exists(_.bnlj))
          violations += s"$name: plan flipped to nested-loop/cartesian at 30x"
        val best = obs.minBy(_.sec)
        val maxSpill = obs.map(_.spill).max
        val base = passes.flatMap(_.get(name)).minBy(_.sec)
        val ratio = if (base.sec > 0) best.sec / base.sec else 0.0
        System.err.println(f"[stress] 30x $name%-28s ${best.sec}%8.2f s  rows=${best.rows}%-8d " +
          f"spill=${maxSpill / (1 << 20)}%5d MB  t30/t10=${ratio}%.2f")
        s""""$name":{"sec_30x":${ms(best.sec)},"rows_30x":${best.rows},"spill_bytes_30x":$maxSpill,""" +
          s""""sec_10x":${ms(base.sec)},"rows_10x":${base.rows},"time_ratio_30x_over_10x":${ms(ratio)}}"""
      }
      s""","growth":${entries.mkString("{", ",", "}")},"growth_runs":$runs"""
    } else ""
    val qs = results.map { case (n, s, r, sp, hd, b) =>
      s""""$n":{"sec":${ms(s)},"rows":$r,"spill_bytes":$sp,"heap_delta_mb":$hd,"bnlj":$b}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val json = s"""{"queries":$qs,"corpus":"10x $src","n":${results.size},""" +
      s""""violations":${violations.size}$growthJson,"metric":"total","unit":"sec","value":${ms(total)}}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/stress_local.json"), json + "\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("STRESS_LATEST.json"), json + "\n")
    println(json)
    violations.foreach(v => System.err.println(s"[stress] VIOLATION: $v"))
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
