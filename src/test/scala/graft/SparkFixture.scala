package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import scala.jdk.CollectionConverters._

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

/** Fixture files for one suite: a directory under the system temp
  * directory, made on first use and deleted when the suite ends, so a
  * suite run never writes into the checkout it runs from. */
trait FixtureDirs extends BeforeAndAfterAll { this: Suite =>
  private var root: Path = _

  /** The suite's fixture root, made on first use. */
  protected def fixtureRoot: Path = {
    if (root == null) root = Files.createTempDirectory(getClass.getSimpleName)
    root
  }

  /** The directory `name` under the fixture root, made if missing. */
  protected def fixtureDir(name: String): String =
    Files.createDirectories(fixtureRoot.resolve(name)).toString

  override def afterAll(): Unit =
    try super.afterAll()
    finally if (root != null) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
}
