package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry is the one declaration of every gate: `queries` and
  * `oracleSql` are plain views of it, so a duplicated name (which
  * `toMap` would silently collapse to the last entry) must fail here,
  * not drop a gate from Verify. No Spark session is needed: building
  * the registry only declares the gates. */
class GateRegistrySpec extends AnyFunSuite {
  private val names = SparkEntry.registry.map(_._1)

  test("registry names are distinct") {
    val dups = names.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate gate names: ${dups.mkString(", ")}")
  }

  test("queries holds all 374 gates, e1_pipeline_nested included") {
    assert(SparkEntry.queries.size == 374)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.queries.contains("e1_pipeline_nested"))
  }

  test("every oracle belongs to a gate and is non-blank") {
    val oracles = SparkEntry.oracleSql
    assert(oracles.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(oracles.contains("e1_pipeline_nested"))
    val blank = oracles.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"blank oracles: ${blank.mkString(", ")}")
  }
}
