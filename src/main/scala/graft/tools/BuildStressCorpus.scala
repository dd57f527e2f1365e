package graft.tools

import graft.Session

/** Dev tool: build (or reuse) a replica-shifted stress corpus without
  * running the full Stress gate — so a single query can be timed at
  * 10×/30× scale (`SPARK_GRAFT_SF_DIR=<dstDir> runMain graft.Bench <query>`).
  * Usage:
  *
  *   sbt "runMain graft.tools.BuildStressCorpus <dstDir> <replicas>"
  */
object BuildStressCorpus {
  def main(args: Array[String]): Unit = {
    val dst = args(0)
    val replicas = args(1).toInt
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    graft.Stress.ensureCorpus(spark, src, dst, replicas)
    println(s"[corpus] ready: $dst (replicas=$replicas src=$src)")
    spark.stop()
  }
}
