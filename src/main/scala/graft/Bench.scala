package graft

import graft.tools.{Json, QueryNames}

object Bench {
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
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(
        QueryNames.checked("Bench [query...]", args.toSeq).toSet).toMap
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
    val errJson = errors.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
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
    val json = s"""{"queries":$qs,"queries_file":"$fullFile","sf":"$sfDir","runs":$runs,"stat":"min","n":${results.size},"n_errors":${errors.size},"errors":$errJson,"metric":"total","unit":"sec","value":$total}"""
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
