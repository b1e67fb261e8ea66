package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class MembershipSpec extends AnyFunSuite {
  private val m = Membership.load("suites.json")
  private val engine = graft.SparkEntry.queries.keySet

  test("every engine query is in exactly one suite or excluded") {
    assert(m.check(engine) === Nil)
  }

  test("an unassigned, unknown or doubly placed name is reported") {
    assert(m.check(engine + "x99_new") === Seq("unassigned query x99_new"))
    assert(m.check(engine - "q01_scan_project") ===
      Seq("unknown query q01_scan_project"))
    val twice = m.copy(excluded = m.excluded + ("q01_scan_project" -> "x"))
    assert(twice.check(engine) === Seq("query q01_scan_project placed 2 times"))
    val sql = m.suites("sql-suite")
    val empty = m.copy(suites = m.suites +
      ("sql-suite" -> sql.copy(slices = sql.slices + 1)))
    assert(empty.check(engine) === Seq(s"slice ${sql.slices} of sql-suite is empty"))
  }

  test("the excluded queries are the nine reference-corpus ones") {
    assert(m.excluded.size === 9)
    assert(m.excluded.keys.forall(n => n.startsWith("boatrace_") ||
      n.startsWith("a05_") || n.startsWith("a06_")))
  }

  test("the suites split the engine's queries by family") {
    def families(w: String) = m.suites(w).queries.keySet.map(_.head)
    assert(families("sql-suite") === Set('q', 'a', 'p', 's'))
    assert(families("kernel-suite") === Set('d', 't', 'm', 'v'))
    assert(m.suites("sql-suite").queries.size === 94)
    assert(m.suites("kernel-suite").queries.size === 71)
  }

  test("slices list their queries in name order") {
    val s = m.suites("kernel-suite")
    (0 until s.slices).foreach(j => assert(s.slice(j) === s.slice(j).sorted))
    assert((0 until s.slices).flatMap(s.slice).sorted ===
      s.queries.keys.toSeq.sorted)
  }
}
