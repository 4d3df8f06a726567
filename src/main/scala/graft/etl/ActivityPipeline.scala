package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Interpolation, TriangularRolling}

/** The reference's E1 dataflow (main.py:19-181) as ONE declarative
  * Spark job over all users/activities at once, instead of a
  * one-activity-at-a-time Python loop:
  *
  *   streams(long form) -> dense second spine (R2) -> LEFT JOIN (R3)
  *   -> linear interpolation (R4) -> latlng stringify (P6)
  *   -> 11x3 triangular rolling maxima (A3/A4) -> negative-to-null (P8)
  *   -> nested row assembly (R6/R7) + timestamp clamp (P4)
  *
  * Every per-activity stage is a window/groupBy partitioned by
  * activity_id — at 100 TB the job is one shuffle on activity_id,
  * reused by the spine join, interpolation windows, rolling windows and
  * the final nesting (Catalyst plans them over one sort where frames
  * align). No driver-side loops, and no stage does more than linear
  * work per activity: interpolation is a running `last` frame plus a
  * frameless `lead(.., ignoreNulls)` per channel (no
  * `unboundedFollowing` frame, which would be quadratic in activity
  * length).
  *
  * Two semantic modes (SURVEY §1.4):
  *  - corrected (default): honest field mapping, per-window NaN
  *    poisoning in the rolling kernel.
  *  - legacyCompat: bit-faithful to the reference's observable quirks —
  *    end_lat:=end_lng (main.py:159), max_heartrate:=start_lng (:160),
  *    top-level timestamp:=elevation (:174), user_id:=null (:171), and
  *    a channel with ANY null after interpolation yields null maxima
  *    for ALL windows (pandas turns such columns to object dtype via
  *    replace({nan:None}) and silently drops them from rolling).
  */
object ActivityPipeline {

  private val rollChannels = Seq(
    ("heartrate", "hr"), ("watts", "power"), ("velocity_smooth", "speed"))

  /** @param activities cleaned activity records (CleanActivities.clean)
    * @param streams    long-form samples (StravaSchemas.streamSample)
    * @param nowEpoch   injected clock for the clamp + timenow fields
    * @param dualMaxs   emit BOTH maxima variants (`maxs` corrected,
    *                   `maxs_legacy` with the poisoning rule) from the
    *                   SAME groupBy — the side-by-side comparison gate
    *                   (e4) costs one pipeline pass instead of two runs
    *                   plus a join. Schema is unchanged unless set.
    */
  def process(activities: DataFrame, streams: DataFrame, nowEpoch: Long,
              legacyCompat: Boolean = false,
              dualMaxs: Boolean = false): DataFrame = {
    val tagged = tagStreams(activities, streams)

    // A3: the rolling columns ride the SAME frame that feeds nesting,
    // and the whole chain (densify -> interpolate -> rolling -> nest)
    // is ONE dataflow with a single consumer at every step — Catalyst
    // recomputes nothing, and every window/groupBy shares the one
    // activity_id exchange. Bypass activities keep raw values
    // (interpolation passthrough) and are masked out of the maxima.
    val densified = densify(tagged)
    val interp = Interpolation.interpolate(densified,
      Seq("activity_id"), "time_key", StravaSchemas.numericChannels,
      passthrough = Some(col("__bypass")))
      .withColumn("time_new", col("time_key"))
    val withRolls = TriangularRolling.triangMeansFast(
      interp, Seq("activity_id"), Seq("time_new"),
      rollChannels.map(_._1), StravaSchemas.rollingWindows)
    val samples = withRolls.withColumn("latlng_str", latlngString(col("latlng")))

    assemble(activities, nestAndMax(samples, legacyCompat, dualMaxs),
      nowEpoch, legacyCompat, dualMaxs)
  }

  /** Streams joined to activity meta with the R5 bypass as a per-row
    * flag instead of a filter-split + union: splitting evaluated the
    * joined stream corpus once per branch — at 100 TB that is scanning
    * the biggest input twice. (private[graft] so the stage profiler
    * drives the REAL stages instead of drifting copies.) */
  private[graft] def tagStreams(activities: DataFrame, streams: DataFrame): DataFrame =
    streams.join(activities.select(col("activity_id"), col("elapsed_time")),
        Seq("activity_id"))
      .withColumn("__bypass", col("elapsed_time") >= 100000)
      .drop("elapsed_time")

  /** R2 + R3 without a join: every sample row emits its own gap
    * segment — time_key in [prev_time+1, time] via lag + explode (the
    * first row fills from 0, pandas reindex(range(0, tmax+1))
    * semantics) — with channel values masked to null on the generated
    * gap rows, exactly the rows the old dense-spine LEFT JOIN
    * produced. One window over the activity_id exchange replaces a
    * groupBy + explode + shuffle join, and the stream corpus is
    * evaluated ONCE. Bypass rows (R5) emit only themselves. */
  private[graft] def densify(tagged: DataFrame): DataFrame = {
    val w = Window.partitionBy("activity_id").orderBy("time")
    val prev = lag(col("time"), 1).over(w)
    val fillStart = when(col("__bypass"), col("time"))
      .otherwise(when(prev.isNull, lit(0L)).otherwise(prev + 1))
    val dataCols = tagged.columns.toSeq
      .filterNot(Set("activity_id", "__bypass").contains)
    val isReal = col("time_key") === col("time")
    tagged
      // window expr materialized first — a Generate operator cannot
      // host window expressions. least() guards duplicate timestamps:
      // sequence(a, b) with a > b would generate a DESCENDING range,
      // not an empty one.
      .withColumn("__fs", least(fillStart, col("time")))
      .withColumn("time_key", explode(sequence(col("__fs"), col("time"))))
      .select(col("activity_id") +: col("__bypass") +: col("time_key") +:
        dataCols.map(c => when(isReal, col(c)).as(c)): _*)
  }

  /** P6: python str([lat, lng]) formatting; null on gap rows (the
    * reference's nan->'None'->null two-step lands there too). */
  private def latlngString(latlng: Column): Column =
    when(latlng.isNotNull, concat(lit("["),
      element_at(latlng, 1).cast("string"), lit(", "),
      element_at(latlng, 2).cast("string"), lit("]")))

  /** R6 + A4 + P8 in ONE aggregation: the ordered array-of-structs
    * nesting AND the per-window rolling maxima come out of a single
    * groupBy(activity_id) pass — one shuffle, one consumer of the
    * upstream interpolation chain. The rolling columns (A3) were
    * computed by the O(1)-per-row prefix-sum kernel on the way in; with
    * windows up to 1200 rows the naive collect-the-frame kernel would
    * do 1200x the work per row. */
  private def maxAggsFor(legacy: Boolean, prefix: String): Seq[Column] = for {
    (ch, short) <- rollChannels
    i <- StravaSchemas.rollingWindows
  } yield {
    // R5: bypass activities never get rolling maxima — their tri
    // columns are masked out, so max() aggregates nothing -> null.
    val m = max(when(!col("__bypass"), col(s"tri_${ch}_$i")))
    val base = if (legacy) {
      // pandas drops a column from rolling entirely once replace()
      // turned it to object dtype (any null) -> null for all windows.
      val poisoned = max(when(col(ch).isNull, 1).otherwise(0)) === 1
      when(poisoned, lit(null).cast("double")).otherwise(m)
    } else m
    // P8 (main.py:109-117): negative maxima -> null.
    when(base >= 0, base).as(s"$prefix${short}_$i")
  }

  private def nestAndMax(samples: DataFrame, legacyCompat: Boolean,
                         dualMaxs: Boolean): DataFrame = {
    val sortKey = struct(col("time_new"), struct(
      col("watts"), col("cadence"), col("heartrate"), col("altitude"),
      col("temp"), col("velocity_smooth"), col("grade_smooth"),
      col("distance"), col("latlng_str")).as("v"))

    // dual mode rides BOTH variants on the one groupBy — aggregates are
    // per-group state, so the extra set costs arithmetic, not a pass.
    val maxAggs =
      if (dualMaxs) maxAggsFor(legacy = false, "max_") ++
        maxAggsFor(legacy = true, "maxleg_")
      else maxAggsFor(legacyCompat, "max_")

    samples.groupBy("activity_id")
      .agg(array_sort(collect_list(sortKey)).as("__sorted"), maxAggs: _*)
      .select(Seq(col("activity_id"),
        transform(col("__sorted"), x => struct(
          x.getField("v").getField("watts").as("watts"),
          x.getField("v").getField("cadence").as("cadence"),
          x.getField("v").getField("heartrate").as("heartrate"),
          x.getField("v").getField("altitude").as("altitude"),
          x.getField("v").getField("temp").as("temp"),
          x.getField("v").getField("velocity_smooth").as("velocity_smooth"),
          x.getField("v").getField("grade_smooth").as("grade_smooth"),
          x.getField("v").getField("distance").as("distance"),
          x.getField("v").getField("latlng_str").as("latlng"),
          x.getField("time_new").as("time_new"))).as("streams")) ++
        (maxColNames("max_") ++
          (if (dualMaxs) maxColNames("maxleg_") else Nil)).map(col): _*)
  }

  private def maxColNames(prefix: String): Seq[String] = for {
    (_, short) <- rollChannels
    i <- StravaSchemas.rollingWindows
  } yield s"$prefix${short}_$i"

  /** Row assembly (main.py:142-178) incl. the 5-year clamp (P4) and the
    * legacy quirk projection. */
  private def assemble(activities: DataFrame, nestedMaxs: DataFrame,
                       nowEpoch: Long, legacyCompat: Boolean,
                       dualMaxs: Boolean = false): DataFrame = {
    val fiveYears = 157680000L
    val clamped = when(lit(nowEpoch) - col("epoch") > fiveYears,
      date_format(from_unixtime(lit(nowEpoch - fiveYears + 86400)),
        "yyyy-MM-dd'T'HH:mm:ss'Z'"))
      .otherwise(col("timestamp"))

    // legacy variant keeps the SAME struct field names, so consumers
    // address both arrays with getField("max_...").
    def maxStructOf(prefix: String) = struct((for {
      (_, short) <- rollChannels
      i <- StravaSchemas.rollingWindows
    } yield col(s"$prefix${short}_$i").as(s"max_${short}_$i")): _*)
    val maxStruct = maxStructOf("max_")

    activities
      .join(nestedMaxs, Seq("activity_id"), "left")
      .select(Seq(
        col("activity_id").as("id"),
        clamped.as("activity_timestamp"),
        col("gear_id"),
        lit("www.google.com").as("icon_url"),          // main.py:146
        col("start_lat"),
        lit("blank").as("altitude_url"),               // main.py:150
        col("is_commute"),
        col("name"),
        col("end_lng"),
        concat_ws("_", col("name"), col("activity_id")).as("name_id"), // P5
        col("polyline"),
        (if (legacyCompat) col("end_lng") else col("end_lat")).as("end_lat"),         // main.py:159
        (if (legacyCompat) col("start_lng") else col("max_heartrate")).as("max_heartrate"), // main.py:160
        col("start_lng"),
        col("max_power"), col("avg_power"), col("avg_speed"), col("max_speed"),
        date_format(from_unixtime(lit(nowEpoch)), "yyyy-MM-dd HH:mm:ss").as("timenow"), // main.py:166
        col("duration"),
        col("avg_heartrate"),
        col("distance"),
        col("epoch"),
        col("username"),                               // main.py:172 — survives legacyCompat
        (if (legacyCompat) lit(null).cast("long") else col("user_id")).as("user_id"), // main.py:171
        (if (legacyCompat) col("elevation") else col("epoch").cast("double")).as("timestamp"), // main.py:174
        col("activity_type"),
        col("elevation"),
        coalesce(col("streams"), array().cast("array<struct<watts:double,cadence:double,heartrate:double,altitude:double,temp:double,velocity_smooth:double,grade_smooth:double,distance:double,latlng:string,time_new:bigint>>")).as("streams"),
        array(maxStruct).as("maxs")) ++                 // R7: single-element array
        (if (dualMaxs) Seq(array(maxStructOf("maxleg_")).as("maxs_legacy"))
         else Nil): _*)
  }
}
