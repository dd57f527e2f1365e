package graft
import graft.tools.{Json, QueryNames}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing query names: dev-iteration subset (the driver
    // always calls with exactly two args => full inventory); an unknown
    // name exits 2 instead of running a partial inventory
    val selected =
      if (args.length <= 2) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(
        QueryNames.checked("Verify <sfDir> <outDir> [query...]", args.toSeq.drop(2)).toSet).toMap
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // full inventory manifest: lets the checker treat a crashed rows-only
    // query (no output dir) as a failure instead of a silent absence
    Files.writeString(Paths.get(s"$outDir/queries.txt"),
      selected.keys.toSeq.sorted.mkString("\n"))
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.view.filterKeys(selected.keySet)
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
