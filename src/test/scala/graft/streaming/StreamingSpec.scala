package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TempDirs, TestSpark}

/** Drives the streaming transforms with a file source + memory sink and
  * checks they agree with the equivalent batch computation. */
class StreamingSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def stagedEvents(): (String, org.apache.spark.sql.DataFrame) = {
    val batch = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val dir = tempDir("graft-stream").toString
    batch.write.mode("overwrite").parquet(dir)
    (dir, batch)
  }

  test("watermarked tumbling counts match the batch aggregation") {
    val (dir, batch) = stagedEvents()
    val stream = spark.readStream
      .schema(batch.schema)
      .parquet(dir)
    val q = EventStream.hourlyCounts(stream).writeStream
      .format("memory").queryName("hourly").outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode only emits windows closed by the watermark; compare
      // those against batch truth.
      val got = spark.table("hourly")
        .select(col("hour"), col("event_type"), col("n"))
      val expected = batch
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val g = got.collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      val e = expected.collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(g.nonEmpty)
      assert(g.forall { case (k, v) => e.get(k).contains(v) })
    } finally q.stop()
  }

  test("session_window aggregation runs and matches gap sessionization counts") {
    val (dir, batch) = stagedEvents()
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = EventStream.sessionCounts(stream).writeStream
      .format("memory").queryName("sessions").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sessions")
      assert(streamed.count() > 0)
      // closed sessions must agree with the batch gap-based operator
      val batchSessions = graft.operators.Sessionize
        .withSessionId(batch, Seq("user_id"), "ts", 1800)
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"))
      val g = streamed.collect()
        .map(r => (r.getLong(0), r.getTimestamp(1)) -> r.getLong(2)).toMap
      val e = batchSessions.collect()
        .map(r => (r.getLong(0), r.getTimestamp(3)) -> r.getLong(2)).toMap
      assert(g.forall { case (k, v) => e.get(k).contains(v) })
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join evicts and emits unmatched clicks") {
    val (dir, batch) = stagedEvents()
    val clicks = spark.readStream.schema(batch.schema).parquet(dir)
      .filter(col("event_type") === "click")
    val purchases = spark.readStream.schema(batch.schema).parquet(dir)
      .filter(col("event_type") === "purchase")
    val q = EventStream.clickPurchaseLeftJoin(clicks, purchases).writeStream
      .format("memory").queryName("ssleft").outputMode("append").start()
    try {
      q.processAllAvailable()
      val bc = batch.filter(col("event_type") === "click")
      val bp = batch.filter(col("event_type") === "purchase")
      def ts(df: org.apache.spark.sql.DataFrame) =
        df.agg(max(col("ts"))).head().getTimestamp(0)
      val floor = Seq(ts(bc), ts(bp)).min
      val cutoff = new java.sql.Timestamp(floor.getTime - 2L * 3600 * 1000)
      val got = spark.table("ssleft")
        .filter(col("click_ts") <= lit(cutoff))
        .select("user_id", "click_id", "buy_id").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      val expected = bc.as("c").filter(col("c.ts") <= lit(cutoff))
        .join(bp.as("p"),
          col("p.user_id") === col("c.user_id") &&
            col("p.ts") > col("c.ts") &&
            col("p.ts") <= col("c.ts") + expr("interval 10 minutes"),
          "left")
        .select(col("c.user_id"), col("c.event_id"), col("p.event_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(got.nonEmpty)
      // the null-extended (unmatched) rows are the eviction path
      assert(got.exists(_._3 == -1L),
        "no unmatched clicks emitted — outer eviction path not exercised")
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming scrub plan matches the batch index probe (w12)") {
    val batch = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val dir = tempDir("graft-scrub").toString
    batch.write.mode("overwrite").parquet(dir)
    val gramIndex = graft.operators.Dedup
      .wordShingles(batch.filter(col("doc_id") % 4 =!= 0), 12)
      .select(col("sh").as("gram")).distinct().cache()
    try {
      val bloomBytes = gramIndex
        .agg(graft.functions.Bloom.build(col("gram"), 1 << 17, 5).as("bf"))
        .collect()(0).getAs[Array[Byte]](0)
      val stream = spark.readStream.schema(batch.schema).parquet(dir)
        .filter(col("doc_id") % 4 === 0)
      val q = EventStream.scrubPlanStream(stream, gramIndex, 12, Some(bloomBytes))
        .writeStream.format("memory").queryName("scrubplan")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val got = spark.table("scrubplan").collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSet
        // batch truth: the same probe WITHOUT the bloom prefilter — the
        // bloom must be a pure optimization (false positives die in the
        // join), so presence/absence cannot change the result set
        val expected = EventStream.scrubPlanStream(
          batch.filter(col("doc_id") % 4 === 0), gramIndex, 12, None)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        assert(expected.nonEmpty)
        assert(got == expected)
        // negative control: docs in the index split contribute no plan
        // rows (the stream side filters to the batch split)
        val indexIds = batch.filter(col("doc_id") % 4 =!= 0)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(got.forall { case (id, _) => !indexIds.contains(id) })
      } finally q.stop()
    } finally gramIndex.unpersist()
  }

  test("streaming latest-per-key snapshot matches batch compaction (w13)") {
    val (dir, batch) = stagedEvents()
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = EventStream.latestPerUser(stream).writeStream
      .format("memory").queryName("latestkeys").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("latestkeys").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(3))).toMap
      // batch truth: g10's row_number compaction shape
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      val expected = batch.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"),
          col("event_type"), round(col("value") * 100, 0).cast("long"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(3))).toMap
      assert(got.nonEmpty)
      assert(got === expected)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch range join") {
    val (dir, batch) = stagedEvents()
    val clicks = spark.readStream.schema(batch.schema).parquet(dir)
      .filter(col("event_type") === "click")
    val purchases = spark.readStream.schema(batch.schema).parquet(dir)
      .filter(col("event_type") === "purchase")
    val q = EventStream.clickPurchaseJoin(clicks, purchases).writeStream
      .format("memory").queryName("ssjoin").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssjoin").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val c = batch.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      val p = batch.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("buy_ts"),
          col("event_id").as("buy_id"))
      val expected = c.join(p,
        col("user_id") === col("p_user_id") &&
          col("buy_ts") > col("click_ts") &&
          col("buy_ts") <= col("click_ts") + expr("interval 10 minutes"))
        .select(col("user_id"), col("click_id"), col("buy_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(expected.nonEmpty)
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming transitions == batch lag across micro-batches (w15)") {
    import spark.implicits._
    val batch = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
    val tmp = tempDir("graft-w15-spec").toString
    // TIME-ordered carve-up (day terciles): per-user order is
    // preserved across batches — the operator's ordered-ingest
    // contract — while most users straddle all three batches, so the
    // boundary step (last-of-batch-i -> first-of-batch-i+1) only
    // appears if state genuinely carries across micro-batches
    Seq((1, 10), (11, 20), (21, 31)).zipWithIndex.foreach { case ((lo, hi), i) =>
      batch.filter(dayofmonth(timestamp_micros(col("us"))).between(lo, hi))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in/b$i")
    }
    val schema = spark.read.parquet(s"$tmp/in/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$tmp/in/*")
      .as[EventStream.TypedEvent]
    val q = EventStream.transitionSteps(stream).writeStream
      .format("memory").queryName("w15steps").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("w15steps")
        .groupBy("prev_type", "next_type").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val expected = batch
        .withColumn("prev_type", lag(col("event_type"), 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy("us", "event_id")))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type")).count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == expected)
      // every non-first event produced a step — cross-batch boundaries
      // included (drops would show as a shortfall here)
      val total = batch.count()
      val users = batch.select("user_id").distinct().count()
      assert(got.values.sum == total - users)
    } finally q.stop()
  }

  test("streaming capped sessions == batch fold across micro-batches (w16)") {
    import spark.implicits._
    val batch = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
    val tmp = tempDir("graft-w16-spec").toString
    Seq((1, 10), (11, 20), (21, 31)).zipWithIndex.foreach { case ((lo, hi), i) =>
      batch.filter(dayofmonth(timestamp_micros(col("us"))).between(lo, hi))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in/b$i")
    }
    val schema = spark.read.parquet(s"$tmp/in/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$tmp/in/*")
      .as[EventStream.TypedEvent]
    // tight caps (2 h gap / 6 h duration) so many sessions straddle the
    // tercile boundaries — the state carry is what's under test
    val q = EventStream.cappedSessionStream(stream, 7200, 21600)
      .writeStream.format("memory").queryName("w16sess")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("w16sess")
        .select("user_id", "event_id", "session_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val expected = graft.operators.Sessionize.withCappedSessionId(
        batch.withColumn("ts", timestamp_micros(col("us"))),
        Seq("user_id"), "ts", Seq("event_id"), 7200, 21600)
        .select("user_id", "event_id", "session_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == expected)
      assert(got.values.max > 1)
    } finally q.stop()
  }

  test("streaming agg-snapshot maintenance == batch rebuild across micro-batches (w14)") {
    val batch = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("event_id"),
        round(col("value") * 100, 0).cast("long").as("v_c"))
    val tmp = tempDir("graft-w14-spec").toString
    // three uneven staged files -> three micro-batches; user overlap
    // across batches exercises the touched-key merge path every commit
    (0 to 2).foreach(i => batch.filter(col("event_id") % 3 === i)
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in/b$i"))
    val schema = spark.read.parquet(s"$tmp/in/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$tmp/in/*")
    val q = EventStream.maintainAggSnapshot(
      stream, s"$tmp/store", s"$tmp/ckpt", "user_id", "v_c")
    q.awaitTermination()
    val got = graft.sources.VersionedParquetStore.read(spark, s"$tmp/store")
      .get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1).toSeq
    val expected = graft.operators.IncrementalAgg
      .snapshot(batch, "user_id", "v_c").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1).toSeq
    assert(got === expected)
    // the stream really committed incrementally: one snapshot version
    // per micro-batch, not one big one
    val versions = new java.io.File(s"$tmp/store").listFiles()
      .count(_.getName.startsWith("v-"))
    assert(versions === 3, s"expected 3 committed snapshots, saw $versions")
  }
}
