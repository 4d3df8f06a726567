package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}

class StravaStreamingEtlSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private val nowEpoch = 1704500000L

  private def activityJson(id: Long, date: String): String =
    s"""{"id": $id, "name": "A$id", "type": "Ride", "start_date": "$date", "athlete": {"id": 7}, "total_elevation_gain": 1.0, "distance": 100.0, "moving_time": 4, "elapsed_time": 4, "commute": false}"""

  private def streamJson(id: Long): String =
    s"""{"activity_id": $id, "time": [0, 1, 3], "heartrate": [100.0, 110.0, 130.0], "watts": [200.0, 210.0, 230.0], "velocity_smooth": [5.0, 6.0, 8.0], "latlng": [[1.0,2.0],[1.1,2.1],[1.3,2.3]], "distance": [0.0, 5.0, 15.0], "altitude": [10.0, 11.0, 13.0], "cadence": [80.0, 81.0, 83.0], "temp": [20.0, 20.0, 20.0], "grade_smooth": [0.0, 0.1, 0.3], "moving": [true, true, true]}"""

  test("streaming E1: new feed files flow through the pipeline into the sink") {
    val base = tempDir("graft-setl")
    val feed = base.resolve("feed"); Files.createDirectories(feed)
    val streamsPath = base.resolve("streams.jsonl").toString
    val sink = base.resolve("sink").toString
    val ckpt = base.resolve("ckpt").toString
    Files.write(Paths.get(streamsPath),
      Seq(streamJson(1), streamJson(2)).mkString("\n").getBytes)

    val q = StravaStreamingEtl.start(spark, feed.toString, streamsPath,
      sink, ckpt, nowEpoch)
    try {
      Files.write(feed.resolve("batch1.jsonl"),
        activityJson(1, "2024-01-01T00:00:00Z").getBytes)
      q.processAllAvailable()
      assert(spark.read.parquet(sink).count() == 1)

      Files.write(feed.resolve("batch2.jsonl"),
        activityJson(2, "2024-01-03T00:00:00Z").getBytes)
      q.processAllAvailable()
      val rows = spark.read.parquet(sink)
      assert(rows.count() == 2)
      // pipeline really ran: nested streams are densified (t=0..3)
      val r = rows.filter(org.apache.spark.sql.functions.col("id") === 2).collect()(0)
      assert(r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("streams")).length == 4)

      // re-delivery of an already-loaded activity (at-least-once replay)
      // appends nothing: the sink anti-join makes the batch idempotent
      Files.write(feed.resolve("batch3.jsonl"),
        activityJson(1, "2024-01-01T00:00:00Z").getBytes)
      q.processAllAvailable()
      assert(spark.read.parquet(sink).count() == 2)
    } finally q.stop()
  }
}
