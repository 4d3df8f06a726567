package graft.etl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TypedActivitiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("typed facade round-trips cleaned rows with compile-time fields") {
    val json = """{"id": 21, "name": "Ride", "type": "Ride",
      "start_date": "2024-02-01T08:00:00Z", "athlete": {"id": 9},
      "total_elevation_gain": 10.0, "distance": 1000.0,
      "moving_time": 600, "elapsed_time": 650, "commute": false}"""
    val cleaned = CleanActivities.clean(Seq(json).toDF("json"), 1704500000.0)
      .filter(org.apache.spark.sql.functions.col("_valid")).drop("_valid")
    val ds = TypedActivities.from(cleaned)
    val a = ds.collect()(0)
    assert(a.activity_id == 21L)
    assert(a.username == "9")            // athlete-id fallback stamp
    assert(a.user_id.contains(9L))
    assert(a.gear_id == "na")            // absent -> default survives typing
    // typed transforms compose (filter + map on fields, not strings)
    assert(ds.filter(_.distance > 500.0).map(_.activity_id).collect().toSeq == Seq(21L))
  }
}

class CleanActivitiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("full record maps and parses epoch; absent fields get defaults") {
    val full = """{"id": 11, "name": "Morning Ride", "type": "Ride",
      "start_date": "2024-01-05T06:30:00Z", "athlete": {"id": 77},
      "total_elevation_gain": 120.5, "distance": 30210.0,
      "moving_time": 3600, "elapsed_time": 3700, "commute": true,
      "gear_id": "b123", "map": {"summary_polyline": "abc"},
      "start_latlng": [51.5, -0.1], "end_latlng": [51.6, -0.2],
      "max_speed": 14.2, "average_speed": 8.4, "max_watts": 700.0,
      "average_watts": 210.0, "max_heartrate": 181.0, "average_heartrate": 140.0}"""
    val sparse = """{"id": 12, "name": "Run", "type": "Run",
      "start_date": "2024-01-06T07:00:00Z", "athlete": {"id": 77},
      "total_elevation_gain": 5.0, "distance": 5000.0,
      "moving_time": 1500, "elapsed_time": 1500, "commute": false}"""
    val df = CleanActivities.clean(
      Seq(full, sparse).toDF("json"), nowEpoch = 1704500000.0)

    val f = df.filter($"activity_id" === 11).collect()(0)
    assert(f.getAs[Long]("epoch") == 1704436200L) // 2024-01-05T06:30:00Z
    assert(f.getAs[String]("gear_id") == "b123")
    assert(f.getAs[Double]("start_lat") == 51.5)
    assert(f.getAs[Boolean]("_valid"))

    val s = df.filter($"activity_id" === 12).collect()(0)
    assert(s.getAs[String]("gear_id") == "na")       // default
    assert(s.getAs[String]("polyline") == "na")      // default
    assert(s.getAs[Double]("start_lat") == 0.0)      // default
    assert(s.getAs[Double]("max_power") == 0.0)      // default
  }
}

class ActivityPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val nowEpoch = 1704500000L

  private def activities() = CleanActivities.clean(Seq(
    // short activity (normal branch)
    """{"id": 1, "name": "Ride A", "type": "Ride",
       "start_date": "2024-01-05T06:30:00Z", "athlete": {"id": 7},
       "total_elevation_gain": 10.0, "distance": 1000.0, "moving_time": 6,
       "elapsed_time": 6, "commute": false, "start_latlng": [1.0, 2.0],
       "end_latlng": [3.0, 4.0], "max_heartrate": 150.0}""",
    // long activity (bypass branch, R5)
    """{"id": 2, "name": "Tour", "type": "Ride",
       "start_date": "2024-01-02T06:00:00Z", "athlete": {"id": 7},
       "total_elevation_gain": 99.0, "distance": 9000.0, "moving_time": 100001,
       "elapsed_time": 100001, "commute": false}""").toDF("json"), nowEpoch.toDouble)

  // activity 1: samples at t=0,1,2,5 (gap at 3,4), heartrate has a
  // leading null at t=0; activity 2: two sparse samples.
  private def streams() = Seq(
    (1L, 0L, Some(Seq(1.0, 2.0)), Some(0.0), None: Option[Double], Some(2.0)),
    (1L, 1L, Some(Seq(1.1, 2.1)), Some(10.0), Some(100.0), Some(2.0)),
    (1L, 2L, Some(Seq(1.2, 2.2)), Some(20.0), Some(110.0), Some(4.0)),
    (1L, 5L, Some(Seq(1.5, 2.5)), Some(50.0), Some(140.0), Some(4.0)),
    (2L, 0L, None, Some(0.0), Some(90.0), Some(1.0)),
    (2L, 1000L, None, Some(5000.0), Some(95.0), Some(3.0)))
    .toDF("activity_id", "time", "latlng", "distance", "heartrate", "velocity_smooth")
    .withColumn("altitude", lit(null).cast("double"))
    .withColumn("cadence", lit(null).cast("double"))
    .withColumn("watts", col("velocity_smooth") * 10)
    .withColumn("temp", lit(null).cast("double"))
    .withColumn("moving", lit(true))
    .withColumn("grade_smooth", lit(0.0))

  test("pipeline plan: ONE hash exchange (shared activity_id partitioning)") {
    val plan = ActivityPipeline.process(activities(), streams(), nowEpoch)
      .queryExecution.executedPlan.toString
    // the join-free gap fill + flagged bypass + fused nest/maxima mean
    // the ENTIRE per-activity chain (densify, interpolate, rolling,
    // nest, maxima) rides one hashpartitioning(activity_id) exchange
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1,
      s"flagship ETL plan grew to $shuffles shuffle exchanges:\n$plan")
  }

  private val modes = Seq(
    (false, false, Seq(false)), (true, false, Seq(true)), (false, true, Seq(false, true)))

  private def planOf(legacy: Boolean, dual: Boolean) =
    ActivityPipeline.process(activities(), streams(), nowEpoch,
      legacyCompat = legacy, dualMaxs = dual).queryExecution

  test("pipeline plan: no Window and no Generate") {
    // densify, interpolate, the 33 rolling maxima and the nesting run
    // inside the in-row ActivityPass over each activity's collected
    // samples: a WindowExec or a Generate here means a stage went back
    // to the window chain (three Window operators and a spine explode).
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.window.WindowExec
    for ((legacy, dual, _) <- modes) {
      val qe = planOf(legacy, dual)
      val mode = s"legacyCompat=$legacy dualMaxs=$dual"
      assert(qe.sparkPlan.collect { case w: WindowExec => w }.isEmpty,
        s"$mode: Window operator in the pipeline:\n${qe.sparkPlan}")
      assert(qe.sparkPlan.collect { case g: GenerateExec => g }.isEmpty &&
        qe.optimizedPlan.collect { case g: Generate => g }.isEmpty,
        s"$mode: Generate in the pipeline:\n${qe.sparkPlan}")
    }
  }

  test("pipeline plan: ONE ActivityPass, both maxima sets") {
    // one kernel call on the activity_id aggregate carries every maxima
    // set: a second call (CollapseProject inlining it into each of the
    // 67 output columns, or one call per set) would redo the whole
    // per-activity pass. Counted on the plan tree: the plan string
    // elides long expression lists.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import graft.functions.ActivityPass
    for ((legacy, dual, sets) <- modes) {
      val plan = planOf(legacy, dual).sparkPlan
      val mode = s"legacyCompat=$legacy dualMaxs=$dual"
      val passes = plan.flatMap(_.expressions.flatMap(_.collect {
        case p: ActivityPass => p }))
      assert(passes.length == 1,
        s"$mode: ${passes.length} activity_pass calls:\n$plan")
      assert(passes.head.legacySets == sets, s"$mode: ${passes.head.legacySets}")
      // per activity: on the activity_id aggregate or directly above it
      val host = plan.find(_.expressions.exists(_.exists(_.isInstanceOf[ActivityPass]))).get
      val agg = (host +: host.children).collectFirst { case a: BaseAggregateExec => a }
      assert(agg.exists(_.groupingExpressions.map(_.name) == Seq("activity_id")),
        s"$mode: activity_pass is not evaluated per activity:\n$plan")
    }
  }

  test("dualMaxs: one pipeline pass, legacy array == legacyCompat run") {
    val dual = ActivityPipeline.process(activities(), streams(), nowEpoch,
      dualMaxs = true)
    // the extra aggregate set must not cost a pass: still ONE hash
    // exchange and ONE ActivityPass call (same pins as the flagship plan)
    val plan = dual.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"dualMaxs grew to $shuffles exchanges:\n$plan")
    val passes = dual.queryExecution.sparkPlan.flatMap(_.expressions.flatMap(
      _.collect { case p: graft.functions.ActivityPass => p }))
    assert(passes.length == 1,
      s"dualMaxs split into ${passes.length} activity_pass calls")
    // and maxs_legacy must be bit-identical to a legacyCompat run's maxs
    val legacyRef = ActivityPipeline
      .process(activities(), streams(), nowEpoch, legacyCompat = true)
      .select($"id", $"maxs").collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    val got = dual.select($"id", $"maxs_legacy").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](1) == legacyRef(r.getLong(0)),
        s"legacy maxima diverged for id ${r.getLong(0)}")
    }
  }

  test("corrected mode: spine, interpolation, rolling maxs, nesting") {
    val out = ActivityPipeline.process(activities(), streams(), nowEpoch)
    val a1 = out.filter($"id" === 1).collect()(0)

    val streamRows = a1.getSeq[org.apache.spark.sql.Row](a1.fieldIndex("streams"))
    assert(streamRows.length == 6) // dense 0..5
    // gap at t=3 interpolated: distance 20 -> 50 over t=2..5 => 30 at t=3
    val t3 = streamRows(3)
    assert(t3.getAs[Double]("distance") == 30.0)
    // latlng null on gap rows, formatted "[lat, lng]" elsewhere
    assert(t3.getAs[String]("latlng") == null)
    assert(streamRows(0).getAs[String]("latlng") == "[1.0, 2.0]")

    val maxs = a1.getSeq[org.apache.spark.sql.Row](a1.fieldIndex("maxs"))
    assert(maxs.length == 1)
    // window 1 = plain max; heartrate interpolated: 100,110,120,130,140
    assert(maxs(0).getAs[Double]("max_hr_1") == 140.0)
    assert(maxs(0).getAs[Double]("max_speed_1") == 4.0)
    // corrected top-level mapping
    assert(a1.getAs[Double]("end_lat") == 3.0)
    assert(a1.getAs[Double]("max_heartrate") == 150.0)
    assert(a1.getAs[Long]("user_id") == 7L)
  }

  test("bypass branch (elapsed >= 100000): raw samples, null maxs") {
    val out = ActivityPipeline.process(activities(), streams(), nowEpoch)
    val a2 = out.filter($"id" === 2).collect()(0)
    assert(a2.getSeq[org.apache.spark.sql.Row](a2.fieldIndex("streams")).length == 2) // no spine
    val maxs = a2.getSeq[org.apache.spark.sql.Row](a2.fieldIndex("maxs"))(0)
    assert(maxs.isNullAt(maxs.fieldIndex("max_hr_1")))
    assert(maxs.isNullAt(maxs.fieldIndex("max_speed_600")))
  }

  test("legacy mode reproduces the reference quirks") {
    val out = ActivityPipeline.process(activities(), streams(), nowEpoch,
      legacyCompat = true)
    val a1 = out.filter($"id" === 1).collect()(0)
    assert(a1.getAs[Double]("end_lat") == 4.0)          // := end_lng (main.py:159)
    assert(a1.getAs[Double]("max_heartrate") == 2.0)    // := start_lng (main.py:160)
    assert(a1.isNullAt(a1.fieldIndex("user_id")))       // main.py:171
    assert(a1.getAs[Double]("timestamp") == 10.0)       // := elevation (main.py:174)
    // heartrate had a leading null post-interpolation -> pandas drops
    // the (object-dtype) column from rolling -> all hr maxima null.
    val maxs = a1.getSeq[org.apache.spark.sql.Row](a1.fieldIndex("maxs"))(0)
    assert(maxs.isNullAt(maxs.fieldIndex("max_hr_1")))
    assert(maxs.getAs[Double]("max_speed_1") == 4.0)    // dense channel unaffected
  }

  test("5-year clamp rewrites ancient timestamps (P4)") {
    val old = CleanActivities.clean(Seq(
      """{"id": 3, "name": "Ancient", "type": "Ride",
         "start_date": "2010-01-01T00:00:00Z", "athlete": {"id": 7},
         "total_elevation_gain": 0.0, "distance": 1.0, "moving_time": 5,
         "elapsed_time": 5, "commute": false}""").toDF("json"), nowEpoch.toDouble)
    val s = Seq((3L, 0L, None: Option[Seq[Double]], Some(0.0), Some(1.0), Some(1.0)))
      .toDF("activity_id", "time", "latlng", "distance", "heartrate", "velocity_smooth")
      .withColumn("altitude", lit(null).cast("double"))
      .withColumn("cadence", lit(null).cast("double"))
      .withColumn("watts", lit(null).cast("double"))
      .withColumn("temp", lit(null).cast("double"))
      .withColumn("moving", lit(true))
      .withColumn("grade_smooth", lit(0.0))
    val out = ActivityPipeline.process(old, s, nowEpoch)
    val row = out.collect()(0)
    val expected = java.time.Instant
      .ofEpochSecond(nowEpoch - 157680000L + 86400L).toString.replace(":00Z", ":00Z")
    assert(row.getAs[String]("activity_timestamp").startsWith(expected.substring(0, 10)))
  }
}

class UserStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def users() = Seq(
    ("alice", "X03MO1qnZdYdgyfeuILPmQ==", "code1234", "at", "rt", 1000.0),
    ("bob", "hash2", "x", "at2", "rt2", 9e9))
    .toDF("username", "password_hash", "strava_code", "access_token",
      "refresh_token", "expires_at")

  test("md5+base64 password hash (P11) — known vector") {
    val h = Seq("password").toDF("pw")
      .select(UserStore.hashPassword(col("pw"))).as[String].collect()(0)
    assert(h == "X03MO1qnZdYdgyfeuILPmQ==")
    val legacy = Seq("password").toDF("pw")
      .select(UserStore.hashPasswordLegacy(col("pw"))).as[String].collect()(0)
    assert(legacy == "'X03MO1qnZdYdgyfeuILPmQ=='") // python str(bytes)[1:] quirk
  }

  test("check_user / exists / connected") {
    assert(UserStore.checkUser(users(), "alice", "X03MO1qnZdYdgyfeuILPmQ=="))
    assert(!UserStore.checkUser(users(), "alice", "wrong"))
    assert(UserStore.checkUserExists(users(), "bob"))
    assert(!UserStore.checkUserExists(users(), "carol"))
    val conn = UserStore.connectedToStrava(users())
      .as[(String, Boolean)].collect().toMap
    assert(conn == Map("alice" -> true, "bob" -> false)) // len > 3 rule
  }

  test("upsert is last-write-wins per username") {
    val upd = Seq(("alice", "newhash", "code1234", "at9", "rt9", 2000.0))
      .toDF("username", "password_hash", "strava_code", "access_token",
        "refresh_token", "expires_at")
    val merged = UserStore.upsert(users(), upd)
    assert(merged.count() == 2)
    val alice = merged.filter($"username" === "alice").collect()(0)
    assert(alice.getAs[String]("password_hash") == "newhash")
  }

  test("token refresh scan (C3)") {
    val need = UserStore.needingRefresh(users(), nowEpoch = 5000.0)
      .as[(String, String)].collect().toMap
    assert(need.keySet == Set("alice"))
  }
}
