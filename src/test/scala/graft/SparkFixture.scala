package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs (session startup
  * dominates test wall time; Spark sessions are process-global anyway). */
object SparkFixture {
  lazy val spark: SparkSession = {
    // the first session of the JVM: its SparkContext carries the static
    // spark.sql.extensions conf (GraftSparkExtensionsSpec relies on it), so
    // every SQL-text spec resolves graft functions through the extension
    val s = Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
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
