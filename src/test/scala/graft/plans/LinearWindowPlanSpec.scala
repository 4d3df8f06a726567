package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{SpecifiedWindowFrame, UnboundedFollowing}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{AsOfJoin, Interpolation}

/** Pins the window shape of the per-key ordered operators that scan
  * forward for the next non-null value. A frame ending at
  * `unboundedFollowing` is re-evaluated from every row to the end of
  * its partition — quadratic in the partition length — so the executed
  * plan must hold none, and every window of one partitioning must share
  * ONE sort (the forward scan rides the sort the running frame needs;
  * it adds no sort and no exchange). */
class LinearWindowPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def assertLinearWindows(df: DataFrame): Unit = {
    df.collect() // final adaptive plan
    val plan = df.queryExecution.executedPlan
    val windows = collect(plan) { case w: WindowExec => w }
    assert(windows.nonEmpty, plan)
    val unbounded = windows.flatMap(_.windowExpression.flatMap(_.collect {
      case f: SpecifiedWindowFrame if f.upper == UnboundedFollowing => f
    }))
    assert(unbounded.isEmpty, s"unboundedFollowing frame in\n$plan")
    val partitionings = windows.map(_.partitionSpec.map(_.canonicalized)).distinct
    val sorts = collect(plan) { case s: SortExec => s }
    assert(sorts.size == partitionings.size,
      s"${sorts.size} sorts for ${partitionings.size} partitionings in\n$plan")
  }

  test("interpolate: no unboundedFollowing frame, one sort") {
    val df = Seq((1L, 0L, Some(1.0)), (1L, 1L, None), (1L, 3L, Some(4.0)),
      (2L, 0L, None), (2L, 2L, Some(2.0)), (2L, 5L, None))
      .toDF("k", "t", "v")
    assertLinearWindows(Interpolation.interpolate(df, Seq("k"), "t", Seq("v")))
  }

  test("nearest: no unboundedFollowing frame, one sort") {
    val l = Seq((1L, 10L, 100L), (1L, 11L, 200L), (2L, 12L, 50L)).toDF("k", "lid", "lts")
    val r = Seq((1L, 7L, 80L), (1L, 8L, 150L), (2L, 9L, 60L)).toDF("k", "rid", "rts")
    assertLinearWindows(AsOfJoin.nearest(l, r, Seq("k"), "lts", "rts", "rid",
      Seq("rid" -> "match_id")))
  }
}
