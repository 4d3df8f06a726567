package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TempDirs, TestSpark}

/** EventStream.tokenBudgetStream pinned on its cross-batch claim: the
  * per-source consumed-token state carries across micro-batches, so
  * admission decisions equal the batch window over arrival order NO
  * MATTER where the stream splits — per-doc equality, not aggregate. */
class TokenBudgetStreamSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  test("streaming admission == batch arrival-order window across micro-batches") {
    import spark.implicits._
    val batch = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val tmp = tempDir("graft-w19-spec").toString
    // doc_id terciles: arrival order preserved, every source straddles
    // batches, so the budget must genuinely bind ACROSS a boundary
    val ids = batch.select(max(col("doc_id"))).collect()(0).getLong(0)
    Seq((0L, ids / 3), (ids / 3 + 1, 2 * ids / 3), (2 * ids / 3 + 1, ids))
      .zipWithIndex.foreach { case ((lo, hi), i) =>
        batch.filter(col("doc_id").between(lo, hi))
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in/b$i")
      }
    val schema = spark.read.parquet(s"$tmp/in/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$tmp/in/*")
      .as[EventStream.DocArrival]
    val budget = 60L
    val q = EventStream.tokenBudgetStream(stream, budget).writeStream
      .format("memory").queryName("w19adm").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("w19adm")
        .collect().map(r => r.getLong(1) -> r.getBoolean(3)).toMap
      val wpre = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val expected = batch
        .withColumn("tb", coalesce(sum(col("n_tok")).over(wpre), lit(0L)))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("tb") < budget)).toMap
      assert(got.size === expected.size)
      assert(got === expected)
      // the cut must bind across a batch boundary for at least one
      // source: some source admits in batch 0 and rejects later
      val bySrc = spark.table("w19adm")
        .collect().groupBy(_.getString(0))
      val mixed = bySrc.values.count { rows =>
        rows.exists(_.getBoolean(3)) && rows.exists(!_.getBoolean(3))
      }
      assert(mixed > 0, "budget never bound — vacuous corpus")
    } finally q.stop()
  }
}
