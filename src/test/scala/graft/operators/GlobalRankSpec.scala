package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class GlobalRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("matches ROW_NUMBER over a global total order, across many partitions") {
    val df = (1 to 5000).map(i => ((i * 7919) % 1000, i.toLong)).toDF("score", "id")
    val got = GlobalRank.withGlobalRank(
      df, "rk", Seq(col("score").desc, col("id")), numPartitions = Some(13))
      .select("score", "id", "rk")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val want = df.select(col("score"), col("id"),
      row_number().over(Window.orderBy(col("score").desc, col("id"))).cast("long").as("rk"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    GlobalRank.clear(spark)
  }

  test("ranks survive a downstream no-shuffle union (stage-id vs rdd-id regression)") {
    // A union of two projections of the ranked frame fuses both legs
    // into one stage when nothing forces an exchange; the second leg's
    // TASK partition ids are offset by the first leg's partition count.
    // The original TaskContext-based offset lookup read past the
    // offsets array here (observed via Dedup.sortedNeighborPairs ->
    // the doc_a/doc_b union ngramJaccard once built); the rdd-partition-index
    // formulation must keep every rank correct on BOTH legs.
    val df = (1 to 400).map(i => ((i * 31) % 97, i.toLong)).toDF("score", "id")
    val ranked = GlobalRank.withGlobalRank(
      df, "rk", Seq(col("score"), col("id")), numPartitions = Some(7))
    val unioned = ranked.select(col("id"), col("rk"))
      .union(ranked.select(col("id"), (col("rk") + 1000000L).as("rk")))
    val got = unioned.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = df.select(col("id"),
        row_number().over(Window.orderBy(col("score"), col("id"))).cast("long").as("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val wantSet = want.toSet ++ want.map { case (id, rk) => (id, rk + 1000000L) }
    assert(got === wantSet)
    GlobalRank.clear(spark)
  }

  test("more partitions than rows: empty ranges contribute zero offsets") {
    val df = Seq((3, 30L), (1, 10L), (2, 20L)).toDF("score", "id")
    val got = GlobalRank.withGlobalRank(df, "rk", Seq(col("score")),
      numPartitions = Some(8))
      .select("score", "rk").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == Set((1, 1L), (2, 2L), (3, 3L)))
    GlobalRank.clear(spark)
  }

  test("identical calls share ONE pinned sorted copy (memoized)") {
    val df = (1 to 50).map(i => (i % 5, i.toLong)).toDF("score", "id")
    GlobalRank.withGlobalRank(df, "rk", Seq(col("score"), col("id"))).count()
    val n1 = spark.sparkContext.getPersistentRDDs.size
    // a bench best-of-3 re-invokes with an identical plan — must not
    // accumulate duplicate pinned copies
    GlobalRank.withGlobalRank(df, "rk", Seq(col("score"), col("id"))).count()
    assert(spark.sparkContext.getPersistentRDDs.size == n1,
      "second identical call pinned a duplicate sorted copy")
    // a DIFFERENT input of the same shape must NOT reuse the entry
    val other = (1 to 60).map(i => (i % 5, i.toLong)).toDF("score", "id")
    assert(GlobalRank.withGlobalRank(other, "rk",
      Seq(col("score"), col("id"))).count() == 60)
    // earlier suites may hold registered checkpoint RDDs or memoized
    // persisted gate inputs (strong refs the ContextCleaner can never
    // collect) — release every registry and memo cache before
    // asserting global emptiness
    graft.SparkEntry.clearCaches(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("plan has no single-partition window; clear() unpins the sorted input") {
    val df = (1 to 100).map(i => (i % 10, i.toLong)).toDF("score", "id")
    val ranked = GlobalRank.withGlobalRank(df, "rk", Seq(col("score"), col("id")))
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "global rank must not fall back to a window")
    assert(ranked.count() == 100)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    graft.SparkEntry.clearCaches(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "clear() must unpin the sorted input")
  }
}
