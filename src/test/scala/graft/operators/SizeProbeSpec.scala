package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The local/distributed size probe reads at most `t + 1` rows: on a
  * single-partition frame whose rows past `t + 1` raise an error, the
  * probe must answer without reaching them. */
class SizeProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** `n` rows in one partition; reading row `failFrom` or later raises. */
  private def tripwire(n: Long, failFrom: Long) =
    spark.range(0, n, 1, 1).select(
      when(col("id") < failFrom, col("id"))
        .otherwise(raise_error(lit("size probe read past t + 1"))).as("id"))

  test("over the threshold: None after reading t + 1 rows") {
    for (t <- Seq(0L, 1L, 10L, 500L))
      assert(SizeProbe.collectAtMost(tripwire(t + 50, t + 1), t).isEmpty)
  }

  test("at or under the threshold: every row, in order") {
    assert(SizeProbe.collectAtMost(tripwire(10, 10), 10).get.map(_.getLong(0)).toSeq ==
      (0L until 10L))
    assert(SizeProbe.collectAtMost(tripwire(3, 3), 10).get.length == 3)
    assert(SizeProbe.collectAtMost(tripwire(0, 0), 0).get.isEmpty)
  }
}
