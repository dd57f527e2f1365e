package graft.tools

import graft.Session

/** Dev tool: physical-plan size audit over the full query inventory —
  * node count of the (pre-AQE) sparkPlan, formatted-plan length, and
  * scan count per query, sorted by node count. Duplicate-subtree
  * blowups (the q_triangles 466-node class found in r18) show up as
  * outliers here without running a single job. Usage:
  *
  *   sbt "runMain graft.tools.PlanStats [dataDir]"
  */
object PlanStats {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = graft.SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      try {
        val qe = fn(spark, dir).queryExecution
        val plan = qe.sparkPlan
        val nodes = plan.collect { case p => p }.size
        val scans = plan.collect {
          case s if s.nodeName.toLowerCase.contains("scan") => s }.size
        val exch = plan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
        }.size
        Some((name, nodes, exch, scans))
      } catch { case e: Throwable =>
        System.err.println(s"[planstats] $name FAILED: ${e.getMessage}")
        None
      }
    }
    println(f"${"query"}%-34s ${"nodes"}%6s ${"exch"}%5s ${"scans"}%6s")
    rows.sortBy(-_._2).foreach { case (n, c, x, s) =>
      println(f"$n%-34s $c%6d $x%5d $s%6d")
    }
    println(s"[planstats] total queries planned: ${rows.size}")
    spark.stop()
  }
}
