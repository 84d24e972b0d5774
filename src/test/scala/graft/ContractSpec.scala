package graft

import org.scalatest.funsuite.AnyFunSuite

/** The contract registry: every query name defined once, every query with
  * a DuckDB twin. A duplicate name would silently collapse under `toMap`. */
class ContractSpec extends AnyFunSuite {

  test("query names are unique across the family objects") {
    val dups = SparkEntry.contract.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name
    }
    assert(dups.isEmpty, s"defined more than once: ${dups.toSeq.sorted}")
  }

  test("every oracle twin is non-blank") {
    val blank = SparkEntry.contract.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracle: $blank")
  }

  test("queries and oracleSql cover the same names") {
    assert(SparkEntry.contract.nonEmpty)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }
}
