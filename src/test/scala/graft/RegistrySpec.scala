package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-coverage gate: every registered query must be verified by
  * SOMETHING — either a DuckDB oracle (`SparkEntry.oracleSql`, the
  * driver's hash-compare path) or a named ScalaTest suite listed here
  * explicitly. A new query added with neither fails this suite, so
  * nothing can silently ship as a rows-only check again (q48 shipped
  * oracle-less for three rounds before anyone noticed). */
class RegistrySpec extends AnyFunSuite {

  /** Queries deliberately NOT oracle-checked (non-SQL-expressible
    * semantics), each pinned by a spec class that must keep existing.
    * Empty today — every registered query carries an oracle; additions
    * here need the named suite to compile. */
  private val specPinned: Map[String, String] = Map.empty

  test("every registered query has a DuckDB oracle or a named spec pin") {
    val unverified = SparkEntry.queries.keySet --
      SparkEntry.oracleSql.keySet -- specPinned.keySet
    assert(unverified.isEmpty,
      s"queries with NO oracle and NO spec pin: ${unverified.toSeq.sorted}")
  }

  test("spec pins name suites that actually exist") {
    specPinned.foreach { case (q, cls) =>
      assert(
        scala.util.Try(Class.forName(cls)).isSuccess,
        s"$q claims pin by $cls, which does not resolve")
    }
  }

  test("oracle SQL carries no leftover margin and no uninterpolated ${") {
    // A fragment interpolated without `.stripMargin`, or a plain string
    // that should have been `s"""`, reaches DuckDB as invalid SQL text.
    val margin = """^\s*\|(?!\|)""".r
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (q, sql) =>
      val bad = sql.linesIterator.filter(margin.findFirstIn(_).isDefined).toList
      assert(bad.isEmpty, s"$q keeps margin lines: ${bad.mkString(" / ")}")
      assert(!sql.contains("${"), s"$q has an uninterpolated $${...}")
    }
  }

  test("no orphan oracles or pins for unregistered queries") {
    val orphans = (SparkEntry.oracleSql.keySet ++ specPinned.keySet) --
      SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle/pin without a query: ${orphans.toSeq.sorted}")
  }
}
