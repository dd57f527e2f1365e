package graft
object Bench {
  /** Drift-canary query set: trivial, plan-frozen since round 7, spanning
    * the main plan shapes (scan+agg, broadcast join, anti join, window
    * top-k, iterative graph, text kernels, set ops, cube). Chosen in
    * round 10 from the 3-round low-spread tail (BASELINE.md canary
    * table); do not edit these queries without re-anchoring CanaryRefSec.
    * Round 11: q_mm_features left the set (its plan changed — real codec
    * decode replaced the stub) for q_union_all_counts (flattest candidate,
    * r10/canary vs r07 anchor ratio 1.00), and CanaryRefSec re-anchored to
    * the same BENCH_LOCAL_r07.json sum over the new membership.
    * Round 17: q_cube left the set (its plan changed — the ANSI
    * empty-input grand-total guard added a count pass + union) for
    * q_sort_limit (flattest candidate, r16-official/canary vs r07 anchor
    * ratio 0.97); same re-anchoring method. */
  val Canaries: Seq[String] = Seq(
    "q_hapax", "q_union_all_counts", "q_quality_score", "q_date_ops",
    "q_j1_broadcast_agg", "q_j4_anti_join", "q_sim_topk", "q_khop",
    "q_lang_id", "q_sort_limit")
  /** Summed canary seconds at the round-7 quiet-host min-of-3 anchor
    * (BENCH_LOCAL_r07.json). */
  val CanaryRefSec: Double = 2.872
  /** IO-lane drift canaries (r16 verdict #5): the CPU-bound canary set is
    * blind to DISK contention — the documented cause of four rounds of
    * write-heavy false flags (q_version_diff r10-r13, q_bucketed_join
    * r10; BASELINE.md). These three are plan-frozen write+read
    * roundtrips spanning the write paths (headerless CSV sink, versioned
    * parquet publish + swap, two-version diff read); their summed
    * min-time is emitted as canary_io_sec so a write-heavy mover divides
    * by the right denominator. Do not edit the membership without
    * re-anchoring IoCanaryRefSec. */
  val IoCanaries: Seq[String] = Seq(
    "q_csv_roundtrip", "q_materialize", "q_version_diff")
  /** Summed IO-canary seconds at the round-17 anchor: per-query minima
    * over the two r17 closing full runs (CPU-canary 1.184/1.250, the
    * quietest states measured that round; BASELINE.md, IO canary
    * section). The lane exists to catch ratios well above the same
    * run's CPU ratio — the disk-contention signature. */
  val IoCanaryRefSec: Double = 2.751

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // interleaved timed passes per query; per-query time = min across
    // passes. Host contention (proven to inflate single-shot numbers up to
    // 6x in the round-5 forensics) is one-sided noise, so the min of
    // interleaved passes is the attainable steady-state number — and
    // interleaving means a contention burst at time T cannot hit every
    // sample of one query.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val spark = Session.local()
    // Warm the JVM on the tiny scale factor — every query once, so each
    // timed run measures steady-state throughput instead of first-touch
    // JIT/codegen/classloading (profiled at 0.5-2.7 s per query cold, which
    // would swamp the sf0.1 work being measured). Long-running executors
    // are the production condition; cold-start is not the benched metric.
    // warm on the sibling sf0.001 corpus when present, else the timed dir
    // itself (slower warmup, still warm); count failures instead of
    // swallowing them invisibly — an all-failed warmup means the timed
    // numbers are cold-start and not comparable
    val sibling = new java.io.File(sfDir).getParentFile match {
      case null => sfDir
      case p => new java.io.File(p, "sf0.001").getPath
    }
    val warmDir = if (new java.io.File(sibling).isDirectory) sibling else sfDir
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }
    // optional args: query names to bench (dev iteration); default all
    val unknown = args.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    var warmFailures = 0
    selected.foreach { case (_, fn) =>
      try fn(spark, warmDir).count()
      catch { case _: Throwable => warmFailures += 1 }
    }
    if (warmFailures > 0)
      System.err.println(s"[bench] WARNING: $warmFailures/${selected.size} warmup runs failed on $warmDir")
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def timedPass(): Map[String, Double] = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() }
      catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap
    val passes = (1 to runs).map(_ => timedPass())
    val results = selected.keys.map { name =>
      name -> passes.map(_(name)).min
    }.toSeq
    // millisecond resolution on the per-query map: the driver's stdout
    // capture keeps only a ~2 KiB TAIL, so every byte of map payload
    // pushes entries off the cliff; 3 decimals is far below host-noise
    // resolution and roughly halves the map
    def ms(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    def jstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    // the COMPLETE artifact lives at a stable path relative to the working
    // directory (sbt's forked `run` starts in the project base), so a
    // truncated stdout capture can always be reconstituted
    val fullFile = "BENCH_FULL_LATEST.json"
    // field order is deliberate: the bulky per-query map FIRST, then the
    // pointer to the complete on-disk artifact, then the load-bearing
    // summary (total/n/errors) LAST — the driver's capture truncates from
    // the HEAD (BENCH_r06/r07), so the tail must be self-sufficient:
    // pointer + summary parse even when the map is cut.
    // drift canary: 10 plan-frozen trivial queries (BASELINE.md table)
    // whose summed min-time is compared against the round-7 quiet-host
    // anchor. canary_ratio >> 1 with unchanged plans = host drift, and
    // dividing the total by it attributes cross-round deltas in one step;
    // a per-query regression shows up as total moving WITHOUT the canary.
    val canaryRef = Bench.CanaryRefSec
    val canaryMap = results.toMap
    val canary =
      if (Bench.Canaries.forall(canaryMap.contains)) {
        val ct = Bench.Canaries.map(canaryMap).sum
        val ratio = BigDecimal(ct / canaryRef)
          .setScale(3, BigDecimal.RoundingMode.HALF_UP)
        s""","canary_sec":${ms(ct)},"canary_ref_sec":$canaryRef,"canary_ratio":$ratio"""
      } else ""
    // IO lane: same mechanism over the write+read roundtrips, separate
    // denominator — disk contention moves this one while the CPU canary
    // sits flat, which is exactly the split the write-heavy false flags
    // of r10-r13 needed
    val canaryIo =
      if (Bench.IoCanaries.forall(canaryMap.contains)) {
        val ct = Bench.IoCanaries.map(canaryMap).sum
        val ratio = BigDecimal(ct / Bench.IoCanaryRefSec)
          .setScale(3, BigDecimal.RoundingMode.HALF_UP)
        s""","canary_io_sec":${ms(ct)},"canary_io_ref_sec":${Bench.IoCanaryRefSec},"canary_io_ratio":$ratio"""
      } else ""
    val json = s"""{"queries":$qs,"queries_file":"$fullFile","sf":"$sfDir","runs":$runs,"stat":"min","n":${results.size},"n_errors":${errors.size},"errors":$errJson$canary$canaryIo,"metric":"total","unit":"sec","value":$total}"""
    // belt and braces: the full line also lands on disk twice — the env
    // override for dev loops, the stable path for the round artifact
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "target/bench_local.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(fullFile), json + "\n")
    println(json)
    spark.stop()
  }
}
