package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps the human-facing inventory counts DERIVED, not typed: README.md
  * and COVERAGE.md state how many queries/oracles exist, and those
  * numbers have drifted twice (r08: 153/151 typed while 156/155 shipped).
  * This spec re-derives both from `SparkEntry` and fails the build when
  * the docs disagree, making the code the single source of truth. */
class InventorySpec extends AnyFunSuite {

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))

  test("every query/oracle key is well-formed and oracles reference real queries") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert((os -- qs).isEmpty, s"oracle SQL for unregistered queries: ${(os -- qs).toSeq.sorted}")
    assert(qs.forall(_.startsWith("q_")), "query keys use the q_ namespace")
    // rows-only set is a deliberate, documented exception list — additions
    // must be argued in COVERAGE.md, not slipped in. Empty since round 11:
    // the last holdout (q_geo_flagship_5880) got a hard oracle via the
    // phased 100 m^2 bucket device.
    assert((qs -- os).isEmpty,
      s"rows-only (oracle-less) queries appeared: ${(qs -- os).toSeq.sorted}")
  }

  test("README.md and COVERAGE.md state the derived inventory counts") {
    val nQ = SparkEntry.queries.size
    val nO = SparkEntry.oracleSql.size
    val readme = read("README.md")
    assert(readme.contains(s"one\nentry per operator, $nQ total") ||
           readme.contains(s"entry per operator, $nQ total"),
      s"README.md query count != derived $nQ")
    assert(readme.contains(s"`SparkEntry.oracleSql` ($nO entries"),
      s"README.md oracle count != derived $nO")
    val coverage = read("COVERAGE.md")
    assert(coverage.contains(s"**Totals: $nQ registered queries, $nO with DuckDB oracles**"),
      s"COVERAGE.md totals != derived $nQ/$nO")
  }

  test("COVERAGE.md row map is complete: every registered query appears by name") {
    // r11 verdict: 4 registered queries were missing from the row-by-row
    // map while the totals line stayed green — enforce the map itself
    val coverage = read("COVERAGE.md")
    val missing = SparkEntry.queries.keySet.filterNot(q => coverage.contains(s"`$q`"))
    assert(missing.isEmpty,
      s"registered queries with no COVERAGE.md row: ${missing.toSeq.sorted}")
  }

  test("no src/main or src/test file names the checkout by its absolute path") {
    // artifacts, defaults and test fixtures resolve against the working
    // directory or the system temp directory (sbt's forked run and test
    // both start in the project base); a source file that spells out that
    // base only works in one checkout, and a suite run from a copy would
    // write into the original
    val base = new java.io.File(".").getCanonicalPath
    val files = Seq("src/main", "src/test").flatMap { dir =>
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(_.toString).toList
      finally walk.close()
    }
    assert(files.exists(_.endsWith("SparkEntry.scala")), s"src/main not found under $base")
    assert(files.exists(_.endsWith("InventorySpec.scala")), s"src/test not found under $base")
    val offenders = files.filter(f => read(f).contains(base)).sorted
    assert(offenders.isEmpty, s"source files naming $base: $offenders")
  }

  test("every graft scalar function has one code-generation path: its arity bases") {
    // every function in graft.exprs generates code through the template
    // its arity base declares; a CodegenFallback mix-in outside a Generator
    // or a hand-written doGenCode in a function class would bring back a
    // second evaluation design
    val dir = java.nio.file.Paths.get("src/main/scala/graft/exprs")
    val walk = java.nio.file.Files.list(dir)
    val files = try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".scala")).toList.sorted
      finally walk.close()
    assert(files.exists(_.endsWith("StFunction.scala")), s"no StFunction.scala among $files")
    // each code line (not an import or a comment) with the top-level
    // definition it belongs to
    val Definition = """^(?:sealed |abstract |case |private\[\w+\] )*(?:class|trait|object) (\w+).*""".r
    val owned = files.flatMap { f =>
      read(f).linesIterator.scanLeft(("", "")) {
        case (_, line @ Definition(name)) => (name, line)
        case ((owner, _), line) => (owner, line)
      }.drop(1).filterNot { case (_, l) => l.trim.matches("""(import |\*|/\*|//).*""") }
    }
    def owners(p: String => Boolean): Set[String] = owned.collect { case (o, l) if p(l) => o }.toSet
    val generators = owners(_.contains("extends Generator"))
    val fallbacks = owners(_.contains("CodegenFallback"))
    assert(fallbacks.subsetOf(generators),
      s"CodegenFallback mixed into $fallbacks, of which Generators: $generators")
    val declarers = owners(_.contains("def doGenCode"))
    val bases = Set("StUnary", "StBinary", "StTernary", "StQuaternary")
    assert(declarers == bases, s"doGenCode declared in $declarers, expected only in $bases")
  }
}
