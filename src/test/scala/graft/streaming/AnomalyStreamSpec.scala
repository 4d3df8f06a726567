package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TempDirs, TestSpark}

/** EventStream.anomalySteps pinned on its core claim: the streaming
  * integer-state fold produces bit-identical flags to the batch
  * cumulative-window formulation REGARDLESS of micro-batch boundaries
  * — the exact (n, sum, sum-of-squares) state makes the equality
  * exact, not approximate, so this compares per-event flags, not
  * aggregates. */
class AnomalyStreamSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  test("streaming anomaly flags == batch cumulative stats across micro-batches") {
    import spark.implicits._
    val batch = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"), round(col("value") * 100, 0).cast("long").as("v_c"))
    val tmp = tempDir("graft-w17-spec").toString
    // time-ordered carve-up: per-type order preserved across batches,
    // every type straddles all three files, so warm-up counts and
    // running sums must genuinely carry across micro-batch boundaries
    Seq((1, 10), (11, 20), (21, 31)).zipWithIndex.foreach { case ((lo, hi), i) =>
      batch.filter(dayofmonth(timestamp_micros(col("us"))).between(lo, hi))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in/b$i")
    }
    val schema = spark.read.parquet(s"$tmp/in/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$tmp/in/*")
      .as[EventStream.ValuedEvent]
    val q = EventStream.anomalySteps(stream).writeStream
      .format("memory").queryName("w17flags").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("w17flags")
        .collect().map(r => r.getLong(1) -> r.getBoolean(2)).toMap
      val wpre = Window.partitionBy("event_type").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val expected = batch
        .withColumn("n", count(lit(1)).over(wpre))
        .withColumn("s", coalesce(sum(col("v_c")).over(wpre), lit(0L)))
        .withColumn("ss", coalesce(sum(col("v_c") * col("v_c")).over(wpre), lit(0L)))
        .withColumn("flag", col("n") >= 30 &&
          (col("v_c") * col("n") - col("s")) * (col("v_c") * col("n") - col("s"))
            > lit(9L) * (col("n") * col("ss") - col("s") * col("s")))
        .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Boolean]("flag")).toMap
      assert(got.size === expected.size, "an event was dropped or duplicated")
      assert(got === expected)
      // the corpus must actually exercise both branches
      assert(got.values.exists(identity), "no anomaly flagged — vacuous corpus")
      assert(got.values.exists(!_), "everything flagged — vacuous corpus")
    } finally q.stop()
  }
}
