package graft.tools

import java.nio.file.{Files, Paths}
import graft.Session

/** Dumps `.explain("formatted")` for named queries to files — the
  * before/after plan evidence for optimization rounds. Usage:
  *
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> <query...>"
  *
  * writes <outDir>/<query>_<suffix>.txt for each query. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = QueryNames.checked("PlanDump <outDir> <suffix> <query...>", args.toSeq.drop(2))
    val outDir = args(0)
    val suffix = args(1)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
