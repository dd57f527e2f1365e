package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs (session startup
  * dominates test wall time; Spark sessions are process-global anyway). */
object SparkFixture {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // static conf: must be on the FIRST session of the JVM so the
      // SparkContext carries it (GraftSparkExtensionsSpec relies on it)
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.registerAll(s)
    s
  }

  /** Runs `body` with one session conf set, restoring its prior value. */
  def withConf(key: String, value: String)(body: => Unit): Unit = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
