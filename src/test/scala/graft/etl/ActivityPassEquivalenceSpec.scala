package graft.etl

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{Interpolation, TriangularRolling}

/** `ActivityPipeline.process` densifies, interpolates, rolls and nests
  * each activity in one [[graft.functions.ActivityPass]] call. These
  * specs keep the window chain it replaced — `densify` ->
  * `Interpolation.interpolate` -> `triangMeansFast` -> the nest-and-max
  * aggregation below — as the reference, and require the two to agree
  * row for row, with exact `==` on doubles (no tolerance), on seeded
  * random activities. */
class ActivityPassEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val nowEpoch = 1704500000L
  private val rollChannels = Seq(
    ("heartrate", "hr"), ("watts", "power"), ("velocity_smooth", "speed"))

  private def maxColNames(prefix: String): Seq[String] = for {
    (_, short) <- rollChannels
    i <- StravaSchemas.rollingWindows
  } yield s"$prefix${short}_$i"

  private def latlngString(latlng: Column): Column =
    when(latlng.isNotNull, concat(lit("["),
      element_at(latlng, 1).cast("string"), lit(", "),
      element_at(latlng, 2).cast("string"), lit("]")))

  /** The window chain's nest-and-max aggregation, as it was before
    * ActivityPass: sorted nesting plus the maxima sets from one groupBy. */
  private def nestAndMax(samples: DataFrame, legacyCompat: Boolean,
                         dualMaxs: Boolean): DataFrame = {
    def maxAggsFor(legacy: Boolean, prefix: String): Seq[Column] = for {
      (ch, short) <- rollChannels
      i <- StravaSchemas.rollingWindows
    } yield {
      val m = max(when(!col("__bypass"), col(s"tri_${ch}_$i")))
      val base = if (legacy) {
        val poisoned = max(when(col(ch).isNull, 1).otherwise(0)) === 1
        when(poisoned, lit(null).cast("double")).otherwise(m)
      } else m
      when(base >= 0, base).as(s"$prefix${short}_$i")
    }
    val sortKey = struct(col("time_new"), struct(
      col("watts"), col("cadence"), col("heartrate"), col("altitude"),
      col("temp"), col("velocity_smooth"), col("grade_smooth"),
      col("distance"), col("latlng_str")).as("v"))
    val maxAggs =
      if (dualMaxs) maxAggsFor(legacy = false, "max_") ++
        maxAggsFor(legacy = true, "maxleg_")
      else maxAggsFor(legacyCompat, "max_")
    samples.groupBy("activity_id")
      .agg(array_sort(collect_list(sortKey)).as("__sorted"), maxAggs: _*)
      .select(Seq(col("activity_id"),
        transform(col("__sorted"), x => struct(
          Seq("watts", "cadence", "heartrate", "altitude", "temp",
            "velocity_smooth", "grade_smooth", "distance")
            .map(f => x.getField("v").getField(f).as(f)) :+
            x.getField("v").getField("latlng_str").as("latlng") :+
            x.getField("time_new").as("time_new"): _*)).as("streams")) ++
        (maxColNames("max_") ++
          (if (dualMaxs) maxColNames("maxleg_") else Nil)).map(col): _*)
  }

  private def reference(activities: DataFrame, streams: DataFrame,
                        legacyCompat: Boolean, dualMaxs: Boolean): DataFrame = {
    val tagged = ActivityPipeline.tagStreams(activities, streams)
    val interp = Interpolation.interpolate(ActivityPipeline.densify(tagged),
      Seq("activity_id"), "time_key", StravaSchemas.numericChannels,
      passthrough = Some(col("__bypass")))
      .withColumn("time_new", col("time_key"))
    val rolled = TriangularRolling.triangMeansFast(interp, Seq("activity_id"),
      Seq("time_new"), rollChannels.map(_._1), StravaSchemas.rollingWindows)
    val samples = rolled.withColumn("latlng_str", latlngString(col("latlng")))
    ActivityPipeline.assemble(activities, nestAndMax(samples, legacyCompat, dualMaxs),
      nowEpoch, legacyCompat, dualMaxs)
  }

  private def activities(spec: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val docs = spec.map { case (id, elapsed) =>
      s"""{"id": $id, "name": "A$id", "type": "Ride",
         "start_date": "2024-01-05T06:30:00Z", "athlete": {"id": ${id % 3}},
         "total_elevation_gain": 1.0, "distance": 1000.0,
         "moving_time": $elapsed, "elapsed_time": $elapsed, "commute": false}"""
    }
    CleanActivities.clean(docs.toDF("json"), nowEpoch.toDouble)
      .filter(col("_valid")).drop("_valid")
  }

  private def streamsOf(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StravaSchemas.streamSample)

  /** Seeded activities: ids 0..3 are a single sample at time > 0, a
    * ~90-minute ride (so the 1200-row windows fill), a bypass ride and
    * a ride with no stream rows; the rest have 20-219 samples. Samples
    * are 1-10 s apart, the first at 0-20 s. Every channel may open and
    * close with a null run and has random interior nulls; watts is null
    * throughout for one user (no power meter), and a few samples have
    * no time. */
  private def corpus(seed: Long): (DataFrame, DataFrame) = {
    val rnd = new Random(seed)
    val ids = 0L until 12L
    val elapsed = ids.map(id => id -> (if (id == 2) 100000L + id else 3000L))
    val rows = ids.filter(_ != 3).flatMap { id =>
      val n = id match {
        case 0 => 1
        case 1 => 980 // 1-10 s gaps: ~90 minutes
        case 2 => 40
        case _ => 20 + rnd.nextInt(200)
      }
      var t = if (id == 0) 5L + rnd.nextInt(50) else rnd.nextInt(21).toLong
      val times = (0 until n).map { i =>
        if (i > 0) t += 1 + rnd.nextInt(10)
        t
      }
      def channel(pNull: Double, scale: Double): IndexedSeq[Any] = {
        val lead = rnd.nextInt(4); val tail = rnd.nextInt(4)
        (0 until n).map { i =>
          if (i < lead || i >= n - tail || rnd.nextDouble() < pNull) null
          else rnd.nextGaussian() * scale + scale / 2
        }
      }
      val hr = channel(0.2, 60.0)
      val watts = if (id % 3 == 1) IndexedSeq.fill(n)(null) else channel(0.3, 150.0)
      val speed = channel(0.1, 8.0)
      val dist = channel(0.4, 1000.0)
      times.indices.map { i =>
        val latlng = if (rnd.nextDouble() < 0.2) null
          else Seq(51.0 + rnd.nextGaussian(), rnd.nextGaussian())
        Row(id, if (id > 3 && rnd.nextDouble() < 0.01) null else times(i), latlng, dist(i),
          if (rnd.nextBoolean()) null else rnd.nextGaussian() * 10, speed(i), hr(i),
          null, watts(i), if (id % 2 == 0) 20.5 else null, true,
          if (rnd.nextDouble() < 0.5) null else rnd.nextGaussian())
      }
    }
    (activities(elapsed), streamsOf(rows))
  }

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    val g = got.orderBy("id").collect()
    val w = want.orderBy("id").collect()
    assert(got.schema == want.schema)
    assert(g.length == w.length)
    g.zip(w).foreach { case (x, y) =>
      if (x != y) fail(s"activity ${x.getAs[Long]("id")} diverged in " +
        x.schema.fieldNames.filter(f => x.getAs[Any](f) != y.getAs[Any](f)).mkString(", "))
    }
  }

  for ((mode, legacy, dual) <- Seq(("corrected", false, false),
    ("legacyCompat", true, false), ("dualMaxs", false, true)))
    test(s"$mode: ActivityPass equals the window chain exactly") {
      Seq(3L, 7L).foreach { seed =>
        val (acts, streams) = corpus(seed)
        val got = ActivityPipeline.process(acts, streams, nowEpoch,
          legacyCompat = legacy, dualMaxs = dual)
        assertSameRows(got, reference(acts, streams, legacy, dual))
        // the corpus reaches the cases it names
        val sizes = got.select(col("id"), size(col("streams"))).collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(sizes(1L) > 1200 && sizes(3L) == 0 && sizes(0L) > 1)
      }
    }

  test("duplicate timestamps: same output whatever the input row order") {
    val rnd = new Random(19)
    // two samples per time: a null between two values of one time
    // would divide by a zero time span (an error under ANSI)
    val rows = (0 until 60).map { i =>
      val t = (i / 2).toLong * 2 // gaps of 2 s
      def v: Any = if (rnd.nextDouble() < 0.3) null else rnd.nextInt(5).toDouble
      Row(7L, t, null, v, null, v, v, null, v, null, true, null)
    }
    val acts = activities(Seq(7L -> 600L))
    def run(rs: Seq[Row]): Array[Row] =
      ActivityPipeline.process(acts, streamsOf(rs).repartition(3), nowEpoch,
        dualMaxs = true).collect()
    val first = run(rows)
    assert(first.head.getSeq[Row](first.head.fieldIndex("streams")).length ==
      60 + 29) // 60 samples plus one gap row between consecutive times
    Seq(rows.reverse, new Random(5).shuffle(rows), new Random(6).shuffle(rows))
      .foreach(rs => assert(run(rs).toSeq == first.toSeq))
  }
}
