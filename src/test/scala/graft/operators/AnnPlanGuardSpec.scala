package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The corpus side of the ANN assignment, IVF and PQ plans is one
  * projection through the nearest-centroid kernel: the executed plans
  * must not unfold vectors into (vec_id, pos) rows, must not shuffle on
  * `vec_id` or `pos`, and PQ scoring must not union per-subspace
  * tables. Checked on the final adaptive plans after execution. */
class AnnPlanGuardSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  // 500 seeded 64-dim float vectors in 4 partitions
  private lazy val em = spark.range(0, 500, 1, 4).select(col("id").as("vec_id"),
    array((0 until 64).map(j => randn(j.toLong)): _*).cast("array<float>").as("embedding"))
  private val nQueries = 5
  private val queryPred = col("vec_id") < nQueries

  /** The final adaptive plan of `df`, with its metrics, after running
    * it (the outputs here are small). */
  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("isFinalPlan=true"), plan.toString)
    plan
  }

  private def shuffleKeys(plan: SparkPlan): Seq[Seq[String]] =
    collect(plan) { case s: ShuffleExchangeExec => s.outputPartitioning }.collect {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
    }

  private def assertNoCorpusShuffle(label: String, plan: SparkPlan): Unit = {
    val keyed = shuffleKeys(plan).filter(_.exists(Set("vec_id", "pos")))
    assert(keyed.isEmpty, s"$label shuffles on vec_id/pos: $keyed\n$plan")
  }

  /** Rows each Generate emitted. */
  private def generated(plan: SparkPlan): Seq[Long] =
    collect(plan) { case g: GenerateExec => g.metrics("numOutputRows").value }

  test("clusterAssignment: no Generate, no shuffle on vec_id or pos") {
    val cb = Ann.kmeansCentroids(em, 5, 2)
    val plan = executed(Ann.clusterAssignment(em, cb))
    assert(generated(plan).isEmpty, s"Generate over the corpus:\n$plan")
    assertNoCorpusShuffle("clusterAssignment", plan)
  }

  test("ivfTopK: only the query rows unfold their probes; no shuffle on vec_id or pos") {
    val cb = Ann.kmeansCentroids(em, 5, 2)
    val ts = em.select(col("vec_id")).filter(col("vec_id") % 9 === 0)
    for (nprobe <- Seq(1, 2); tomb <- Seq(None, Some(ts))) {
      val label = s"ivfTopK nprobe=$nprobe tombstones=${tomb.isDefined}"
      val plan = executed(Ann.ivfTopK(em, cb, queryPred, 5, nprobe, tomb))
      val rows = generated(plan)
      assert(rows.sum > 0, s"$label: the probe Generate did not run\n$plan")
      assert(rows.forall(_ <= nQueries * nprobe),
        s"$label: a Generate emitted $rows rows, more than $nQueries queries x $nprobe probes")
      assertNoCorpusShuffle(label, plan)
    }
  }

  test("pqTopK: no Generate, no Union, no shuffle on vec_id or pos, at most 5 exchanges") {
    val plan = executed(Ann.pqTopK(em, m = 2, subDim = 32, k = 16, iters = 1,
      queryPred = queryPred, topK = 5))
    assert(generated(plan).isEmpty, s"Generate over the corpus:\n$plan")
    assert(collect(plan) { case u: UnionExec => u }.isEmpty, s"Union in pqTopK:\n$plan")
    assertNoCorpusShuffle("pqTopK", plan)
    val exchanges = collect(plan) {
      case e: ShuffleExchangeExec => e
      case e: BroadcastExchangeExec => e
    }
    assert(exchanges.size <= 5, s"${exchanges.size} exchanges:\n$plan")
  }
}
