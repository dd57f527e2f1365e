package graft.tools

import graft.SparkEntry

/** The argument check the query tools share: every name must be a
  * registered query, and a bad call prints the tool's usage or the
  * unknown names, then every known name. */
private[graft] object QueryNames {
  /** What is wrong with running `names`: none given, or some that no
    * query is registered under. None when they can all run. */
  def problem(usage: String, names: Seq[String]): Option[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    val what =
      if (names.isEmpty) Some(s"usage: $usage")
      else if (unknown.nonEmpty) Some(s"unknown queries: ${unknown.mkString(", ")}")
      else None
    what.map(w => s"$w\nknown queries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
  }

  /** `names`, after exiting with status 2 and the [[problem]] on stderr
    * if there is one. */
  def checked(usage: String, names: Seq[String]): Seq[String] = {
    problem(usage, names).foreach { p =>
      System.err.println(p)
      sys.exit(2)
    }
    names
  }
}
