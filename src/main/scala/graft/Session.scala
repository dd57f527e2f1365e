package graft

import org.apache.spark.sql.SparkSession

/** The one way the repo builds a Spark session: every main and the test
  * fixture go through [[local]], so they run the engine the benchmark
  * measures (same confs as `perfbench` `Driver.session`). */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS` when set, else what the JVM sees. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session with the graft SQL surface injected through
    * [[GraftSparkExtensions]], `cores` shuffle partitions, UTC session
    * time, parquet TIMESTAMP(NANOS) read as BIGINT, no UI and WARN logs.
    * Adaptive execution is on by Spark's own default. The extension also
    * sizes Spark's generated-class cache to 4096 entries (unless the key
    * is set) so repeated queries do not recompile their generated code;
    * the size holds only if this is the JVM's first codegen-using
    * session (see [[GraftSparkExtensions]]). A caller that wants quieter
    * logs calls `setLogLevel` itself. */
  def local(cores: Int = Session.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
