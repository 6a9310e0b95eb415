package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry is the correctness-gate contract: `queries` and `oracleSql`
  * are both derived from it, so a duplicate name would silently drop an
  * entry from both maps and an empty oracle would fail only at the gate. */
class SparkEntrySpec extends AnyFunSuite {

  test("registry names are unique") {
    val dups = SparkEntry.registry.groupBy(_.name).collect {
      case (n, es) if es.size > 1 => n
    }
    assert(dups.isEmpty, s"duplicate registry names: $dups")
  }

  test("every registry entry carries a non-empty oracle") {
    val empty = SparkEntry.registry.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(empty.isEmpty, s"entries without oracle SQL: $empty")
  }
}
