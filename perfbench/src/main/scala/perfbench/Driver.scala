package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, month}

import graft.geom.{Crs, Geom}
import graft.ops.GeoFixtures

/** The benchmark's engine process: one JVM, one `local[k]` session, one
  * operation at a time. Launched by `run.py`, which builds the inputs,
  * checks the digests and reports the metrics; this process only
  * measures and writes what it measured to `--out` as JSON.
  *
  * Every operation is `SparkEntry.queries(name)(spark, corpus)` followed by
  * `collect()`, so every column of every result row is computed, and the
  * rows are digested for the correctness check. */
object Driver {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        corpus: String, store: String, out: String, cores: Int,
                        setups: Int, launchNs: Long, record: Option[String])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("corpus"), m("store"), m("out"), m("cores").toInt, m("setups").toInt,
      m("launch-ns").toLong, m.get("record"))
  }

  private def epochNs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    redirectStore(a.store)
    val rnd = new Random(a.seed)
    val ops = if (a.record.isDefined) Workloads.population(a.workload) else Workloads.ops(a.workload)

    // set-up rounds: session build, store reset and one warm-up pass on the
    // timed corpus; the first round also covers JVM launch
    val setups = mutable.ArrayBuffer.empty[Double]
    val warmups = mutable.ArrayBuffer.empty[Map[String, Any]]
    var roundStart = a.launchNs
    var spark: SparkSession = null
    val rounds = if (a.record.isDefined) 1 else a.setups
    for (r <- 1 to rounds) {
      spark = session(a)
      resetStore(a.store)
      warmups += runPass(spark, a, rnd.shuffle(ops), None)
      setups += (epochNs() - roundStart) / 1e9
      if (r < rounds) {
        spark.stop()
        roundStart = epochNs()
      }
    }

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val probes = mutable.ArrayBuffer.empty[Map[String, Any]]
    a.record match {
      case Some(dir) =>
        passes += runPass(spark, a, ops, None, Some(dir))
        // the layout tools/check_oracle.py reads
        Files.writeString(Paths.get(dir, "queries.txt"), ops.mkString("\n") + "\n")
        Files.writeString(Paths.get(dir, "oracle_sql.json"),
          mapper.writeValueAsString(graft.SparkEntry.oracleSql.filter { case (q, _) => ops.contains(q) }))
      case None =>
        val listener = if (a.trace) Some(new LayerListener) else None
        val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
        // a traced run alternates untraced and traced passes, so the
        // tracing overhead is measured inside one run
        while (System.nanoTime() < deadline || (a.trace && passes.size < 2)) {
          val traced = a.trace && passes.size % 2 == 1
          passes += runPass(spark, a, rnd.shuffle(ops), listener.filter(_ => traced))
        }
        // the write path's layers (sinks, streaming) are traced on every
        // workload: one warm-up and one traced pass of publish_stream's ops
        if (a.trace && a.workload != "publish_stream") {
          val publish = Workloads.ops("publish_stream")
          warmups += runPass(spark, a, publish, None)
          probes += runPass(spark, a, publish, listener)
        }
    }
    val geom = if (a.trace) geomKernels(spark, a.corpus) else Map.empty[String, Double]
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "ops" -> ops,
      "setup_s" -> setups, "warmups" -> warmups, "passes" -> passes, "probes" -> probes,
      "geom" -> geom, "rss_peak_mb" -> rssPeakMb(),
      "jvm" -> Map(
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)))
    spark.stop()
    resetStore(a.store)
    Files.writeString(Paths.get(a.out), mapper.writeValueAsString(result))
  }

  private def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", a.cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.store).getParent + "/spark-local")
      .config("spark.sql.warehouse.dir", new File(a.store).getParent + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The engine writes its sinks under a store path fixed in
    * `SinkQueries.OutBase`. The benchmark points that path at its own
    * directory before any query reads it, so a run never writes outside
    * its checkout and two checkouts never share a store. Scala emits the
    * object's `val` as a static final field, which only `Unsafe` can
    * overwrite. */
  private def redirectStore(store: String): Unit = {
    val module = graft.ops.SinkQueries
    try {
      val f = module.getClass.getDeclaredField("OutBase")
      if (java.lang.reflect.Modifier.isStatic(f.getModifiers)) {
        val u = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
        u.setAccessible(true)
        val unsafe = u.get(null).asInstanceOf[sun.misc.Unsafe]
        unsafe.putObject(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f), store)
      } else {
        f.setAccessible(true)
        f.set(module, store)
      }
      val now = module.getClass.getMethod("OutBase").invoke(module)
      require(now == store, s"store not redirected: $now")
    } catch {
      case _: NoSuchFieldException =>
        System.err.println("[perfbench] SinkQueries.OutBase not found; store not redirected")
    }
  }

  private def resetStore(store: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    val dir = new File(store)
    Option(dir.listFiles).foreach(_.foreach(rm))
    dir.mkdirs()
  }

  private def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Runs one pass. Untraced, an operation records its wall time, result
    * digest and error; traced, it also records spans and the counters the
    * listener attributed to it. */
  private def runPass(spark: SparkSession, a: Args, ops: Seq[String], trace: Option[LayerListener],
                      record: Option[String] = None): Map[String, Any] = {
    val sc = spark.sparkContext
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    trace.foreach { l => sc.addSparkListener(l); spark.streams.addListener(l.streams) }
    val (cpu0, gc0, jit0, cg0) = (os.getProcessCpuTime, gcMs, jit.getTotalCompilationTime, codegenCompileS())
    val start = epochNs()
    val results = ops.zipWithIndex.map { case (name, i) => runOp(spark, a, name, s"op-$start-$i", trace, record) }
    val end = epochNs()
    val pass = Map(
      "wall_s" -> (end - start) / 1e9,
      "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9,
      "jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3,
      "jvm_gc_s" -> (gcMs - gc0) / 1e3,
      "codegen_compile_s" -> (codegenCompileS() - cg0),
      "traced" -> trace.isDefined,
      "ops" -> results)
    trace.foreach { l => sc.removeSparkListener(l); spark.streams.removeListener(l.streams) }
    pass
  }

  /** Estimated whole-stage-codegen compile seconds so far: Spark keeps the
    * compile times in a histogram (count and sampled mean), not as a sum. */
  private def codegenCompileS(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean / 1e3
  }

  private def runOp(spark: SparkSession, a: Args, name: String, opId: String,
                    trace: Option[LayerListener], record: Option[String]): Map[String, Any] = {
    val sc = spark.sparkContext
    val traced = trace.isDefined
    sc.setJobGroup(opId, name, interruptOnCancel = false)
    trace.foreach(_.currentOp = opId)
    val storeT0 = System.currentTimeMillis()
    val t0 = epochNs()
    var t1, t2, t3 = t0
    var out: Map[String, Any] = Map("name" -> name)
    try {
      sc.setLocalProperty(Trace.PhaseKey, "construct")
      val df = Workloads.query(name)(spark, a.corpus)
      t1 = epochNs()
      sc.setLocalProperty(Trace.PhaseKey, "plan")
      if (traced) df.queryExecution.executedPlan
      t2 = epochNs()
      sc.setLocalProperty(Trace.PhaseKey, "execute")
      val rows = df.collect()
      t3 = epochNs()
      out ++= Map("wall_s" -> (t3 - t0) / 1e9, "rows" -> rows.length,
        "digest" -> Digest.of(df.schema, rows))
      record.foreach { dir =>
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$name")
      }
      if (traced) out ++= planTrace(df)
    } catch {
      case e: Throwable =>
        t3 = epochNs()
        out ++= Map("wall_s" -> (t3 - t0) / 1e9,
          "error" -> s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300))
    } finally {
      sc.setLocalProperty(Trace.PhaseKey, null)
      sc.clearJobGroup()
    }
    trace.foreach { l =>
      PerfbenchBridge.drainListeners(sc)
      l.currentOp = ""
      val c = Option(l.ops.remove(opId)).getOrElse(new OpCounters)
      val files = filesWritten(new File(a.store), storeT0)
      out ++= Map(
        "spans" -> Seq(Seq("op", t0, t3), Seq("construct", t0, t1), Seq("plan", t1, t2),
          Seq("execute", t2, t3)),
        "jobs" -> c.jobs.toSeq.map(j => Map("phase" -> j.phase, "start_ms" -> j.startMs,
          "end_ms" -> j.endMs, "schema" -> Trace.isSchemaJob(j), "write" -> j.wroteOutput)),
        "stages" -> c.stages, "tasks" -> c.tasks, "task_cpu_s" -> c.taskCpuNs / 1e9,
        "task_run_s" -> c.taskRunMs / 1e3, "gc_s" -> c.gcMs / 1e3, "max_task_s" -> c.maxTaskMs / 1e3,
        "shuffle_write_b" -> c.shuffleWriteB, "spill_b" -> c.spillB, "input_b" -> c.inputB,
        "records_read" -> c.recordsRead, "output_b" -> c.outputB, "output_files" -> files,
        "batches" -> c.batches, "batch_s" -> c.batchMs / 1e3,
        "stream_input_rows" -> c.streamInputRows, "state_rows" -> c.stateRows)
    }
    out
  }

  /** Planning phase times and the executed plan's shape. */
  private def planTrace(df: org.apache.spark.sql.DataFrame): Map[String, Any] = {
    val qe = df.queryExecution
    val phases = qe.tracker.phases.map { case (k, p) => k -> Seq(p.startTimeMs, p.endTimeMs) }
    val shape = Trace.planShape(qe.executedPlan)
    Map("phases" -> phases, "plan_nodes" -> shape.nodes, "exchanges" -> shape.exchanges,
      "rtree_joins" -> shape.rtreeJoins, "nested_loops" -> shape.nestedLoops)
  }

  /** Files under the store written at or after `sinceMs`. */
  private def filesWritten(dir: File, sinceMs: Long): Long =
    if (!dir.exists) 0L
    else Files.walk(dir.toPath).iterator().asScala.map(_.toFile)
      .count(f => f.isFile && f.lastModified >= sinceMs).toLong

  /** Direct timed calls into `graft.geom` on the flagship's own parcel
    * geometries: parse, make-valid, grouped union and the 3857 → 5880
    * transform, each as microseconds per call (median of five rounds). */
  private def geomKernels(spark: SparkSession, corpus: String): Map[String, Double] = {
    import GeoFixtures._
    val li = spark.read.parquet(s"$corpus/lineitem.parquet")
    val rows = li.select(
        (col("l_partkey") % 25).cast("int").as("r"),
        (month(col("l_shipdate")) % 4).cast("int").as("s"),
        (col("l_partkey") % 7).cast("int").as("t"),
        parcelWkt(col("l_partkey") % 25, parcelIdx(col("l_orderkey"), col("l_linenumber"))).as("wkt"))
      .where(col("r") < 2).collect()
    val wkts = rows.map(_.getString(3))
    val groups = rows.groupBy(r => (r.getInt(0), r.getInt(1), r.getInt(2))).values
      .map(_.map(_.getString(3))).toSeq
    def perCall(n: Int)(body: => Unit): Double = {
      val times = (1 to 5).map { _ =>
        val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e3 / n
      }
      times.sorted.apply(2)
    }
    val parsed = wkts.map(Geom.fromWkt)
    val grouped = groups.map(g => g.map(Geom.fromWkt).toSeq.asJava)
    val unions = grouped.map(Geom.unionAll)
    Map(
      "parse_us" -> perCall(wkts.length)(wkts.foreach(w => sink += Geom.fromWkt(w).getArea)),
      "make_valid_us" -> perCall(parsed.length)(parsed.foreach(g => sink += Geom.makeValid(g).getArea)),
      "union_us" -> perCall(grouped.size)(grouped.foreach(g => sink += Geom.unionAll(g).getArea)),
      "transform_us" -> perCall(unions.size)(unions.foreach(g =>
        sink += Crs.transformGeometry(g, "EPSG:3857", "EPSG:5880").getArea)))
  }

  /** Keeps the timed geometry calls' results live. */
  @volatile private var sink = 0.0
}
