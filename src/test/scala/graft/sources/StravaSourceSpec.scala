package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}
import graft.etl.CleanActivities
import graft.sources.v2.StravaActivitySource

class StravaJsonSourceSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeFixture(): String = {
    val dir = tempDir("strava-fix")
    val acts = Seq(
      """{"id": 1, "name": "A", "type": "Ride", "start_date": "2024-01-01T00:00:00Z", "athlete": {"id": 7}, "total_elevation_gain": 1.0, "distance": 10.0, "moving_time": 60, "elapsed_time": 60, "commute": false}""",
      """{"id": 2, "name": "B", "type": "Ride", "start_date": "2024-01-10T00:00:00Z", "athlete": {"id": 7}, "total_elevation_gain": 2.0, "distance": 20.0, "moving_time": 60, "elapsed_time": 60, "commute": false}""")
    Files.write(dir.resolve("activities.jsonl"),
      acts.mkString("\n").getBytes("UTF-8"))
    dir.resolve("activities.jsonl").toString
  }

  test("incremental activity scan filters on the watermark (S4)") {
    val path = writeFixture()
    val all = StravaJsonSource.activities(spark, path, nowEpoch = 1705000000.0)
    assert(all.count() == 2)
    val after = StravaJsonSource.activities(spark, path, nowEpoch = 1705000000.0,
      afterEpoch = 1704100000L) // between the two activities
    assert(after.select("activity_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("stream channel-dict pivots to long form with null padding (S6/R1)") {
    val dir = tempDir("strava-streams")
    val doc =
      """{"activity_id": 1, "time": [0, 1, 2], "heartrate": [100.0, 110.0, 120.0],
         "latlng": [[1.0, 2.0], [1.1, 2.1], [1.2, 2.2]], "watts": [10.0, 20.0, 30.0]}"""
        .replaceAll("\n\\s*", " ")
    Files.write(dir.resolve("s.json"), doc.getBytes("UTF-8"))
    val got = StravaJsonSource.streams(spark, dir.resolve("s.json").toString)
    assert(got.count() == 3)
    val r1 = got.filter($"time" === 1).collect()(0)
    assert(r1.getAs[Double]("heartrate") == 110.0)
    assert(r1.getSeq[Double](r1.fieldIndex("latlng")).toSeq == Seq(1.1, 2.1))
    assert(r1.isNullAt(r1.fieldIndex("cadence"))) // absent channel -> null pad
  }
}

class StravaSourceV2Spec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeFixture(n: Int): String = {
    val dir = tempDir("strava-v2")
    val lines = (1 to n).map { i =>
      val day = f"${(i % 27) + 1}%02d"
      s"""{"id": $i, "name": "A$i", "type": "Ride", "start_date": "2024-01-${day}T00:00:00Z", "athlete": {"id": 7}, "total_elevation_gain": 1.0, "distance": 10.0, "moving_time": 60, "elapsed_time": 60, "commute": false}"""
    }
    Files.write(dir.resolve("page1.jsonl"), lines.take(n / 2).mkString("\n").getBytes("UTF-8"))
    Files.write(dir.resolve("page2.jsonl"), lines.drop(n / 2).mkString("\n").getBytes("UTF-8"))
    dir.toString
  }

  test("DSv2: watermark predicate is pushed into the source") {
    val dir = writeFixture(10)
    val wm = java.time.Instant.parse("2024-01-05T00:00:00Z").getEpochSecond
    val df = spark.read.format(classOf[StravaActivitySource].getName)
      .option("path", dir).load()
      .filter(col("epoch") > wm)

    // the scan's description must carry the pushed filter — i.e. the
    // source, not Spark, evaluates the watermark (the `after=` semantics)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.description().contains("GreaterThan(epoch"))

    val expected = (1 to 10).count(i => (i % 27) + 1 > 5)
    assert(df.count() == expected)
  }

  test("DSv2 write: staged two-phase commit round-trips, appends, truncates") {
    val dir = tempDir("strava-v2-write").toString
    def doc(i: Int) =
      s"""{"id": $i, "start_date": "2024-02-0${(i % 9) + 1}T00:00:00Z"}"""
    def df(ids: Range) = ids.map { i =>
      (java.time.Instant.parse(f"2024-02-0${(i % 9) + 1}T00:00:00Z").getEpochSecond, doc(i))
    }.toDF("epoch", "json").repartition(3)
    def readBack = spark.read.format(classOf[StravaActivitySource].getName)
      .option("path", dir).load()

    df(1 to 6).write.format(classOf[StravaActivitySource].getName)
      .option("path", dir).mode("append").save()
    assert(readBack.count() == 6)
    // append accumulates
    df(7 to 9).write.format(classOf[StravaActivitySource].getName)
      .option("path", dir).mode("append").save()
    assert(readBack.count() == 9)
    // overwrite truncates the previous committed files
    df(1 to 4).write.format(classOf[StravaActivitySource].getName)
      .option("path", dir).mode("overwrite").save()
    assert(readBack.count() == 4)
    // commit left no staging dirs behind
    val leftovers = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator()
    assert(!scala.jdk.CollectionConverters.IteratorHasAsScala(leftovers).asScala
      .exists(_.getFileName.toString.startsWith(".staging")))
  }

  test("DSv2 write: a failed job aborts cleanly — destination untouched") {
    val dir = tempDir("strava-v2-abort").toString
    Seq((1L, """{"id": 1, "start_date": "2024-02-01T00:00:00Z"}"""))
      .toDF("epoch", "json")
      .write.format(classOf[StravaActivitySource].getName)
      .option("path", dir).mode("append").save()
    // poisoned second write: a null json row makes its task throw
    val bad = Seq((2L, """{"id": 2}"""), (3L, null.asInstanceOf[String]))
      .toDF("epoch", "json").repartition(2)
    intercept[Exception] {
      bad.write.format(classOf[StravaActivitySource].getName)
        .option("path", dir).mode("append").save()
    }
    // committed state unchanged; abort removed all staging
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
      .map(_.getFileName.toString).toSeq
    assert(names.count(_.endsWith(".jsonl")) == 1, s"destination changed: $names")
    assert(!names.exists(_.startsWith(".staging")), s"staging leaked: $names")
    val back = spark.read.format(classOf[StravaActivitySource].getName)
      .option("path", dir).load()
    assert(back.count() == 1)
  }

  test("DSv2 source composes with CleanActivities (fetch -> clean layering)") {
    val dir = writeFixture(4)
    val raw = spark.read.format(classOf[StravaActivitySource].getName)
      .option("path", dir).load()
    val cleaned = CleanActivities.clean(raw.select("json"), nowEpoch = 1705000000.0)
    assert(cleaned.count() == 4)
    assert(cleaned.select("activity_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(cleaned.filter($"_valid").count() == 4)
  }
}
