package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The gate probe's records: one per (pass, gate) in that order, the
  * wall split into its build and write phases, stage totals from the
  * drained listener, and an operator census that reaches the final
  * plan below the write node and AQE's query stages. */
class OneQuerySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val gates = Seq("q01_pricing_summary", "q06_forecast_revenue")

  test("two gates, two passes: four records with phase, stage and plan " +
    "receipts") {
    val runs = OneQuery.run(spark, gates, "/root/testdata/sf0.001", 2)
    assert(runs.map(r => (r.pass, r.gate)) ==
      Seq(1 -> gates(0), 1 -> gates(1), 2 -> gates(0), 2 -> gates(1)))
    runs.foreach { r =>
      assert(r.wall == r.buildS + r.execS, r.line)
      assert(r.execJobs >= 1, r.line)
      assert(r.tasks >= 1, r.line)
      assert(r.line.startsWith(s"ONEQUERY\t${r.gate}\trun${r.pass}\t"))
    }
    // q01 is a groupBy: its executed plan holds a shuffle exchange
    // inside a query stage and a parquet scan below it
    runs.filter(_.gate == "q01_pricing_summary").foreach { r =>
      assert(r.census.getOrElse("ShuffleExchangeExec", 0) >= 1, r.line)
      assert(r.census.getOrElse("FileSourceScanExec", 0) >= 1, r.line)
    }
  }
}
