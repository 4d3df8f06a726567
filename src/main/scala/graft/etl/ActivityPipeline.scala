package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ActivityPass

/** The reference's E1 dataflow (main.py:19-181) as ONE declarative
  * Spark job over all users/activities at once, instead of a
  * one-activity-at-a-time Python loop:
  *
  *   streams(long form) -> tag R5 bypass -> latlng stringify (P6)
  *   -> groupBy(activity_id) + collect_list(sample)
  *   -> ActivityPass, one walk per activity: dense second spine
  *      (R2/R3) -> linear interpolation (R4) -> 11x3 triangular rolling
  *      maxima (A3/A4) -> negative-to-null (P8) -> nested streams (R6)
  *   -> row assembly (R7) + timestamp clamp (P4)
  *
  * The per-activity work is one shuffle on activity_id and then one
  * in-row expression per activity ([[graft.functions.ActivityPass]]),
  * linear in the activity's dense length: no window operator, no
  * Generate, no driver-side loop. The window-chain stages
  * [[tagStreams]], [[densify]], [[graft.operators.Interpolation]] and
  * [[graft.operators.TriangularRolling]] remain the library operators
  * that the a3/a4/a5/r3 gates, the ActivityPass equivalence spec and
  * the benchmark's traced layers run.
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

  /** The interpolated channels in sink order (main.py:71). */
  private val nestChannels =
    StravaSchemas.includeList.filter(StravaSchemas.numericChannels.contains)

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
              dualMaxs: Boolean = false): DataFrame =
    assemble(activities, nested(tagStreams(activities, streams),
      legacyCompat, dualMaxs), nowEpoch, legacyCompat, dualMaxs)

  /** R2-R7 for every activity of `tagged` (see [[tagStreams]]):
    * activity_id, the nested `streams` array and the `max_*` columns
    * (plus `maxleg_*` under dualMaxs) from one
    * [[graft.functions.ActivityPass]] call per activity. The P6 latlng
    * string is a Spark projection on the sample rows, so its
    * double-to-string cast is Spark's. */
  private[graft] def nested(tagged: DataFrame, legacyCompat: Boolean,
                            dualMaxs: Boolean): DataFrame = {
    val sample = struct(col("time").cast("long").as("time_new") +:
      nestChannels.map(c => col(c).cast("double").as(c)) :+
      latlngString(col("latlng")).as("latlng"): _*)
    val sets = if (dualMaxs) Seq(false, true) else Seq(legacyCompat)
    val names = maxColNames("max_") ++ (if (dualMaxs) maxColNames("maxleg_") else Nil)
    val pass = ActivityPass.of(col("__samples"), col("__bypass"),
      rollChannels.map { case (ch, _) => nestChannels.indexOf(ch) },
      StravaSchemas.rollingWindows, sets)
    tagged.groupBy("activity_id")
      .agg(collect_list(sample).as("__samples"), max("__bypass").as("__bypass"))
      .select(col("activity_id"), pass.as("__pass"))
      .select(col("activity_id") +: col("__pass.streams").as("streams") +:
        names.zipWithIndex.map { case (n, i) => col("__pass.maxima")(i).as(n) }: _*)
  }

  /** Streams joined to activity meta with the R5 bypass as a per-row
    * flag instead of a filter-split + union: splitting evaluated the
    * joined stream corpus once per branch — at 100 TB that is scanning
    * the biggest input twice. */
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
    * evaluated ONCE. Bypass rows (R5) emit only themselves.
    * `process` densifies inside [[graft.functions.ActivityPass]]; this
    * window form stays as the reference the ActivityPass equivalence
    * spec compares against and as a layer the benchmark traces. */
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

  private def maxColNames(prefix: String): Seq[String] = for {
    (_, short) <- rollChannels
    i <- StravaSchemas.rollingWindows
  } yield s"$prefix${short}_$i"

  /** Row assembly (main.py:142-178) incl. the 5-year clamp (P4) and the
    * legacy quirk projection. */
  private[graft] def assemble(activities: DataFrame, nestedMaxs: DataFrame,
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
