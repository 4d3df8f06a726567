package graft.etl

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end E1/E2 entry points: incremental sync is watermark-driven
  * and idempotent. */
class StravaEtlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val nowEpoch = 1704500000L

  private def activityJson(id: Long, user: Long, date: String): String =
    s"""{"id": $id, "name": "A$id", "type": "Ride", "start_date": "$date", "athlete": {"id": $user}, "total_elevation_gain": 1.0, "distance": 100.0, "moving_time": 4, "elapsed_time": 4, "commute": false}"""

  private def streamJson(id: Long): String =
    s"""{"activity_id": $id, "time": [0, 1, 3], "heartrate": [100.0, 110.0, 130.0], "watts": [200.0, 210.0, 230.0], "velocity_smooth": [5.0, 6.0, 8.0], "latlng": [[1.0,2.0],[1.1,2.1],[1.3,2.3]], "distance": [0.0, 5.0, 15.0], "altitude": [10.0, 11.0, 13.0], "cadence": [80.0, 81.0, 83.0], "temp": [20.0, 20.0, 20.0], "grade_smooth": [0.0, 0.1, 0.3], "moving": [true, true, true]}"""

  test("add_history_data is incremental and idempotent; point sync bypasses the watermark") {
    val base = Files.createTempDirectory("graft-etl")
    val actsPath = base.resolve("activities.jsonl").toString
    val streamsPath = base.resolve("streams.jsonl").toString
    val sink = base.resolve("sink").toString

    Files.write(base.resolve("activities.jsonl"),
      Seq(activityJson(1, 7, "2024-01-01T00:00:00Z"),
        activityJson(2, 7, "2024-01-03T00:00:00Z")).mkString("\n").getBytes)
    Files.write(base.resolve("streams.jsonl"),
      Seq(streamJson(1), streamJson(2)).mkString("\n").getBytes)

    // first sync loads both activities
    val first = StravaEtl.addHistoryData(spark, actsPath, streamsPath, sink, nowEpoch)
    assert(first.count() == 2)
    assert(ActivitySink.latestEpoch(spark, sink, 7L) ==
      java.time.Instant.parse("2024-01-03T00:00:00Z").getEpochSecond)

    // re-running loads nothing (watermark holds) -> idempotent
    val second = StravaEtl.addHistoryData(spark, actsPath, streamsPath, sink, nowEpoch)
    assert(second.count() == 0)

    // a new activity arrives -> only it is loaded
    Files.write(base.resolve("activities.jsonl"),
      Seq(activityJson(1, 7, "2024-01-01T00:00:00Z"),
        activityJson(2, 7, "2024-01-03T00:00:00Z"),
        activityJson(3, 7, "2024-01-05T00:00:00Z")).mkString("\n").getBytes)
    Files.write(base.resolve("streams.jsonl"),
      Seq(streamJson(1), streamJson(2), streamJson(3)).mkString("\n").getBytes)
    val third = StravaEtl.addHistoryData(spark, actsPath, streamsPath, sink, nowEpoch)
    assert(third.count() == 1)
    assert(spark.read.parquet(sink).count() == 3)

    // E2: point re-sync of an OLD activity works despite the watermark
    val resync = StravaEtl.syncActivity(spark, 1L, actsPath, streamsPath, sink, nowEpoch)
    assert(resync.count() == 1)
    assert(spark.read.parquet(sink).filter(org.apache.spark.sql.functions.col("id") === 1).count() == 2) // appended again
  }

  test("legacyCompat sync is still incremental: the username watermark survives user_id=null") {
    val base = Files.createTempDirectory("graft-etl-legacy")
    val actsPath = base.resolve("activities.jsonl").toString
    val streamsPath = base.resolve("streams.jsonl").toString
    val sink = base.resolve("sink").toString

    Files.write(base.resolve("activities.jsonl"),
      Seq(activityJson(1, 7, "2024-01-01T00:00:00Z"),
        activityJson(2, 7, "2024-01-03T00:00:00Z")).mkString("\n").getBytes)
    Files.write(base.resolve("streams.jsonl"),
      Seq(streamJson(1), streamJson(2)).mkString("\n").getBytes)

    val first = StravaEtl.addHistoryData(spark, actsPath, streamsPath, sink,
      nowEpoch, legacyCompat = true)
    assert(first.count() == 2)
    // sink user_id is null in legacy mode (main.py:171)…
    assert(spark.read.parquet(sink)
      .filter(org.apache.spark.sql.functions.col("user_id").isNotNull).count() == 0)
    // …but the re-run appends NOTHING: watermark keys on username
    val second = StravaEtl.addHistoryData(spark, actsPath, streamsPath, sink,
      nowEpoch, legacyCompat = true)
    assert(second.count() == 0)
    assert(spark.read.parquet(sink).count() == 2)
  }

  test("a corrupt sink fails the sync instead of re-ingesting; an empty one loads all") {
    val base = Files.createTempDirectory("graft-etl-corrupt")
    val actsPath = base.resolve("activities.jsonl").toString
    val streamsPath = base.resolve("streams.jsonl").toString
    Files.write(base.resolve("activities.jsonl"),
      Seq(activityJson(1, 7, "2024-01-01T00:00:00Z"),
        activityJson(2, 7, "2024-01-03T00:00:00Z")).mkString("\n").getBytes)
    Files.write(base.resolve("streams.jsonl"),
      Seq(streamJson(1), streamJson(2)).mkString("\n").getBytes)

    // a directory without data files is a sink nothing was loaded into
    val empty = Files.createDirectories(base.resolve("empty-sink")).toString
    assert(ActivitySink.latestEpoch(spark, empty, 7L) == 0L)
    assert(StravaEtl.addHistoryData(spark, actsPath, streamsPath, empty, nowEpoch).count() == 2)

    // a sink whose only data file is unreadable must not read as
    // "watermark 0" (a silent full re-ingest)
    val sink = Files.createDirectories(base.resolve("sink"))
    Files.write(sink.resolve("part-00000-corrupt.snappy.parquet"),
      "not a parquet file".getBytes)
    intercept[Exception](ActivitySink.latestEpoch(spark, sink.toString, 7L))
    intercept[Exception](
      StravaEtl.addHistoryData(spark, actsPath, streamsPath, sink.toString, nowEpoch))
    assert(sink.toFile.list().toSeq == Seq("part-00000-corrupt.snappy.parquet"))
  }
}
