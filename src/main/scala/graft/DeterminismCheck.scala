package graft

import graft.tools.Json
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Partition-invariance audit: every registered batch query must produce
  * value-identical output under different shuffle widths.
  *
  * Why this is a SCALE gate, not a style check: the correctness gate
  * (Verify + DuckDB) always runs at one width (`spark.sql.shuffle.
  * partitions` = 32), and the spec suite at another fixed width (4) — but
  * on a 1000-executor deployment the width is whatever the cluster is
  * sized to, and AQE re-plans it at runtime. Any result that depends on
  * the partitioning — a float sum whose value shifts with reduction
  * order, a row_number tie broken by partition layout, a sample keyed on
  * partition id — is a latent wrong-answer at exactly the scale this
  * engine targets. The repo's design answer is integer/micros arithmetic
  * and value-keyed (md5/xxhash) ordering everywhere; this main audits
  * that contract across the whole inventory instead of trusting it.
  *
  * Method: run each query twice in one session — width A (32, the
  * verify width) and width B (13, odd and coprime to every input file
  * count, so hash bucketing, range-exchange widths via [[ops.Par
  * .rangeWidth]], and AQE coalescing all differ) — canonicalize each
  * result to its multiset of row strings (the driver's DuckDB compare is
  * order-insensitive the same way; ties under an ORDER BY may permute
  * across widths without being a defect), and require exact equality.
  *
  * Streaming queries run the same two-pass audit on THEIR width knob:
  * `runBounded` pins the state-store exchange to
  * `graft.stream.statePartitions` (the session shuffle width is restored
  * around every stream start), and each run gets a fresh sink name and
  * checkpoint, so passes at 4 vs 7 state partitions genuinely re-shard
  * the stateful operators instead of replaying a checkpoint that pinned
  * the old width. Everything else — sinks, JDBC, media — runs both
  * passes on the SQL shuffle width.
  *
  * Emits one JSON artifact (DETERMINISM_r{N}.json shape):
  * {n, pass, fail, widths, corpus, failures:[{name, rows_a, rows_b,
  * example_only_a, example_only_b}]}.
  */
object DeterminismCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "DETERMINISM.json"
    val widths = Seq(32, 13)
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    val streamWidths = Seq(4, 7)
    val all = SparkEntry.queries.toSeq.sortBy(_._1)

    def canon(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Either[String, (String, Seq[String])] =
      try {
        val df = fn(spark, sfDir)
        val schema = df.schema.map(f => s"${f.name}:${f.dataType.sql}").mkString(",")
        Right((schema, df.collect().map(_.toString).sorted.toSeq))
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

    // per-query digest of the canonical result, carried in the artifact so
    // two runs in DIFFERENT JVMs (e.g. SPARK_GRAFT_CPUS=32 vs 7 — core
    // count drives defaultParallelism, and with it Par.fanOut widths and
    // every mapPartitions split) can be diffed for the cross-core axis the
    // in-JVM width flip can't reach
    def digest(schema: String, rows: Seq[String]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(schema.getBytes("UTF-8"))
      rows.foreach(r => md.update(r.getBytes("UTF-8")))
      md.digest().take(12).map(b => f"$b%02x").mkString
    }

    case class Fail(name: String, detail: String)
    val failures = scala.collection.mutable.ArrayBuffer.empty[Fail]
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var done = 0
    all.foreach { case (name, fn) =>
      val stream = name.startsWith("q_stream_")
      val ws = if (stream) streamWidths else widths
      val knob = if (stream) "graft.stream.statePartitions"
                 else "spark.sql.shuffle.partitions"
      val results = ws.map { w =>
        spark.conf.set(knob, w.toString)
        canon(name, fn)
      }
      spark.conf.set(knob, ws.head.toString)
      (results.head, results(1)) match {
        case (Left(e), _) => failures += Fail(name, s"width ${ws.head} failed: $e")
        case (_, Left(e)) => failures += Fail(name, s"width ${ws(1)} failed: $e")
        case (Right((sa, ra)), Right((sb, rb))) =>
          if (sa != sb) failures += Fail(name, s"schema differs: [$sa] vs [$sb]")
          else if (ra != rb) {
            val onlyA = ra.diff(rb).take(2)
            val onlyB = rb.diff(ra).take(2)
            failures += Fail(name,
              s"rows differ (${ra.size} vs ${rb.size}); only@${ws.head}=$onlyA only@${ws(1)}=$onlyB")
          } else digests(name) = digest(sa, ra)
      }
      done += 1
      if (done % 25 == 0) System.err.println(s"[determinism] $done/${all.size}")
    }

    val failJson = failures.map(f => s"""{"name":${Json.str(f.name)},"detail":${Json.str(f.detail)}}""")
      .mkString("[", ",", "]")
    val digJson = digests.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    val json =
      s"""{"corpus":${Json.str(sfDir)},"widths":[${widths.mkString(",")}],"stream_widths":[${streamWidths.mkString(",")}],"cpus":${Session.cores},""" +
      s""""method":"per-query multiset-of-rows equality across shuffle widths (streams: graft.stream.statePartitions, fresh checkpoints); digests diffable across SPARK_GRAFT_CPUS runs",""" +
      s""""n":${all.size},"pass":${all.size - failures.size},"fail":${failures.size},""" +
      s""""failures":$failJson,"digests":$digJson}"""
    Files.writeString(Paths.get(out), json)
    println(json)
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
