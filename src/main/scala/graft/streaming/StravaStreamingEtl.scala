package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.etl.{ActivityPipeline, ActivitySink, CleanActivities}
import graft.sources.StravaJsonSource

/** Streaming E1: the reference's poll loop (main.py:199-205) as a
  * Structured Streaming file-source query. New activity documents
  * landing in the feed directory flow through the SAME batch pipeline
  * (clean -> spine -> interpolate -> rolling -> nest) via foreachBatch
  * and append to the date-partitioned sink.
  *
  * Delivery: the file source + checkpoint replay a failed micro-batch
  * (at-least-once), and the sink append is made IDEMPOTENT by
  * anti-joining the batch against the ids already in the sink — pruned
  * to the batch's activity-date partition range, so at scale the dedup
  * scan touches only the partitions the batch could collide with.
  * Net effect: effectively-once end to end.
  */
object StravaStreamingEtl {

  def start(spark: SparkSession, activitiesDir: String, streamsPath: String,
            sinkPath: String, checkpointDir: String, nowEpoch: Long,
            legacyCompat: Boolean = false): StreamingQuery = {
    val raw = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(activitiesDir)
      .select(col("value").as("json"))

    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val acts = CleanActivities.clean(batch, nowEpoch.toDouble)
          .filter(col("_valid")).drop("_valid")
        if (!acts.isEmpty) {
          val streams = StravaJsonSource.streams(spark, streamsPath)
            .join(acts.select("activity_id"), Seq("activity_id"))
          val rows = ActivityPipeline.process(acts, streams, nowEpoch, legacyCompat)
          // Idempotent append: drop ids already present in the sink,
          // reading only the date partitions this batch can touch.
          // Only an absent sink skips dedup (ActivitySink.loaded) — a
          // broad catch here would also swallow transient read failures
          // and silently disable dedup during failure replay, exactly
          // when duplicates are most likely; any other error fails the
          // batch and lets the stream's retry semantics handle it.
          val fresh = ActivitySink.loaded(spark, sinkPath).fold(rows) { seenAll =>
            val b = rows.agg(min(col("epoch")).as("lo"), max(col("epoch")).as("hi"))
              .collect()(0)
            // null epoch bounds (no parseable timestamps in the batch):
            // fall back to the unpruned id scan — correctness over pruning
            val seen = (if (b.isNullAt(0) || b.isNullAt(1)) seenAll
              else seenAll.filter(col("activity_date").between(
                to_date(from_unixtime(lit(b.getLong(0)))),
                to_date(from_unixtime(lit(b.getLong(1)))))))
              .select(col("id")).distinct()
            rows.join(seen, Seq("id"), "left_anti")
          }
          ActivitySink.append(fresh, sinkPath)
        }
        ()
      }
      .start()
  }
}
