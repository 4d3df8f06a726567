package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ArrayIntersect, ArrayTransform, Expression}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.functions.NgramOverlap
import graft.operators.Dedup

/** Pins the executed shape of [[Dedup.ngramJaccard]]: texts are joined
  * per pair and one [[NgramOverlap]] call per pair compares them. No
  * gram array is built (`transform`, `array_distinct`,
  * `array_intersect`), no candidate-doc id set is broadcast, and a
  * caller's `jaccard >= t` filter — the d26/e6 form, which the
  * optimizer pushes towards the join — still leaves exactly one kernel
  * call in the plan. */
class NgramJaccardPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private def docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")

  private def pairs(d: DataFrame) = Dedup.lshPairs(Dedup.minhashSignatures(d))

  /** Runs `df`, then returns every expression of its final plan (AQE
    * query stages included). */
  private def executedExpressions(df: DataFrame): Seq[Expression] = {
    df.collect()
    flatMap(df.queryExecution.executedPlan)(_.expressions.flatMap(_.collect {
      case e => e
    }))
  }

  private def assertShape(df: DataFrame): Unit = {
    val exprs = executedExpressions(df)
    val plan = df.queryExecution.executedPlan
    val kernels = exprs.count(_.isInstanceOf[NgramOverlap])
    assert(kernels == 1, s"expected one ngram_overlap call, found $kernels:\n$plan")
    val arrays = exprs.filter {
      case _: ArrayTransform | _: ArrayDistinct | _: ArrayIntersect => true
      case _ => false
    }
    assert(arrays.isEmpty, s"gram-array expressions in the plan: ${arrays.mkString(", ")}")
    val idBroadcasts = collect(plan) {
      case b: BroadcastExchangeExec if b.output.size == 1 => b
    }
    assert(idBroadcasts.isEmpty, s"a single-column id set is broadcast:\n$plan")
  }

  test("d5 form: one kernel call per pair, no gram arrays, no id broadcast") {
    val d = docs
    assertShape(Dedup.ngramJaccard(d, pairs(d)))
  }

  test("filtered form (d26/e6): the pushed-down filter keeps one kernel call") {
    val d = docs
    assertShape(Dedup.ngramJaccard(d, pairs(d))
      .filter(col("jaccard") >= 0.35).select("doc_a", "doc_b"))
  }
}
