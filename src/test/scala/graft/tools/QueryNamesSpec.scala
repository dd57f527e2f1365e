package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The query tools reject a call they cannot run with their usage or the
  * unknown names, and list every query they know. */
class QueryNamesSpec extends AnyFunSuite {
  private val usage = "Explain <query...>"

  test("no names prints the usage and the known queries") {
    val p = QueryNames.problem(usage, Nil)
    assert(p.exists(_.startsWith(s"usage: $usage\nknown queries: ")), p)
    assert(p.exists(_.contains("q_spatial_join")), p)
  }

  test("an unknown name is named, with the known queries") {
    val p = QueryNames.problem(usage, Seq("q_spatial_join", "q_no_such_query"))
    assert(p.exists(_.startsWith("unknown queries: q_no_such_query\nknown queries: ")), p)
  }

  test("registered names pass") {
    assert(QueryNames.problem(usage, Seq("q_spatial_join", "q_tpch_q3")).isEmpty)
  }
}
