package graft

import org.scalatest.funsuite.AnyFunSuite

/** The no-oracle blind-spot gate: `check_oracle.py` only iterates oracles
  * that exist, so a `queries` entry whose oracle registration was simply
  * forgotten passes the local gate by omission (the round-12
  * `epoch_plan_bpe` miss). This spec makes the registration contract
  * total: every query key has an oracle, and every oracle a query.
  */
class OracleCoverageSpec extends AnyFunSuite {

  test("every queries key has an oracle") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty,
      s"queries with no oracleSql entry: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every oracle key has a queries entry to produce its parquet") {
    val orphan = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphan.isEmpty,
      s"oracles with no queries entry: ${orphan.toSeq.sorted}")
  }
}
