package graft.tools

import graft.{Session, SparkEntry}

/** Dev tool: print the scan-pruning-relevant fields (source file, pushed
  * filters, read schema) of every FileScan in selected queries' executed
  * plans — the quick audit that a new operator prunes columns and pushes
  * predicates. Usage: runMain graft.tools.Explain <query...> */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = QueryNames.checked("Explain <query...>", args.toSeq)
    val spark = Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    // pull a named field out of a FileScan line without truncating it:
    // fields are comma-separated `Name: value` pairs, values never nest
    // a `, XxxYyy:` sequence — terminate at the NEXT such token, whatever
    // it is, so field order in Spark's plan string doesn't matter
    val nextField = ", [A-Z]\\w+:".r
    def field(line: String, name: String): String = {
      val i = line.indexOf(name + ":")
      if (i < 0) return "-"
      val rest = line.substring(i + name.length + 1).trim
      nextField.findFirstMatchIn(rest) match {
        case Some(m) => rest.substring(0, m.start)
        case None => rest
      }
    }
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      df.collect()
      println(s"===== $name")
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("FileScan")).foreach { l =>
          val src = l.trim.split("\\[").headOption.getOrElse(l.trim)
          println(s"  ${src.trim}")
          println(s"    PushedFilters:    ${field(l, "PushedFilters")}")
          println(s"    PartitionFilters: ${field(l, "PartitionFilters")}")
          println(s"    ReadSchema:       ${field(l, "ReadSchema")}")
        }
    }
    spark.stop()
  }
}
