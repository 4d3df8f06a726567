package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}

/** The runtime bloom join must be invisible in the answer (exact join
  * semantics) and visible in the plan (the fact side is filtered
  * before the join). */
class RuntimeFilterSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val fact = (0L until 2000L).map(i => (i % 97, i)).toDF("fk", "payload")
  private lazy val dim = (0L until 97L by 13L).map(k => (k, s"dim_$k")).toDF("dk", "name")

  test("bloomPrunedJoin result equals the plain inner join") {
    val got = RuntimeFilter.bloomPrunedJoin(fact, dim, "fk", "dk")
      .select("fk", "payload", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val want = fact.join(dim, col("fk") === col("dk")).drop("dk")
      .select("fk", "payload", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(got === want && want.nonEmpty)
  }

  test("the prefilter never drops a true match and prunes most non-matches") {
    val kept = RuntimeFilter.bloomPrefilter(fact, dim, "fk", "dk")
    val trueKeys = dim.select("dk").as[Long].collect().toSet
    val keptKeys = kept.select("fk").as[Long].collect()
    // no false negatives: every true-match row survives
    assert(kept.filter(col("fk").isInCollection(trueKeys)).count() ===
      fact.filter(col("fk").isInCollection(trueKeys)).count())
    // pruning is real: 8 of 97 keys match, survivors should be close
    // to the matching fraction (bloom FP rate ~1e-3 at 16 bits/key)
    val matching = fact.filter(col("fk").isInCollection(trueKeys)).count()
    assert(keptKeys.length < matching + 100,
      s"prefilter kept ${keptKeys.length} rows for $matching true matches")
  }

  test("the bloom probe reaches the fact side BELOW the join in the plan") {
    // parquet-backed fact so the probe survives as a real pre-join
    // Filter (a LocalRelation would be constant-folded away)
    val dir = tempDir("graft-rf").toString
    fact.write.mode("overwrite").parquet(dir)
    val factP = spark.read.parquet(dir)
    val plan = RuntimeFilter.bloomPrunedJoin(factP, dim, "fk", "dk")
      .queryExecution.optimizedPlan.toString
    // the probe is a Filter over the fact relation, not post-join
    val probeIdx = plan.indexOf("bloom_might_contain")
    val joinIdx = plan.indexOf("Join")
    assert(probeIdx >= 0, s"no bloom probe in plan:\n$plan")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"bloom probe should sit under the join (appear after it in the tree):\n$plan")
  }
}
