package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ann

/** Corpus constructors and DuckDB oracle builders for the heavyweight
  * gates (a5 fast-kernel, the e3/e4 flagship-pipeline corpora, the
  * shared dedup/ANN oracle CTEs). Pure gate FIXTURES — the engine
  * lives in graft.operators / graft.functions / graft.etl; this file
  * exists so SparkEntry stays a readable registry.
  */
object GateFixtures {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)
  /** DuckDB twin of the a5_rolling_full fast-kernel gate: direct
    * triangular dot product over a bounded self-join, exact-integer
    * channels, one double division per cell (matches the kernel's
    * sliding-sum result bitwise because both sides are exact integers
    * until that division). */
  private[graft] def a5OracleSql: String = {
    val cells = for { ch <- Seq("vc", "pl", "em"); n <- Seq(20, 120, 1200) } yield {
      val wsum = n.toLong * n / 2 // triangular weight total for even n
      s"""CASE WHEN t.rn >= $n THEN
         CAST(SUM(CASE WHEN t.rn - s.rn <= ${n - 1}
                       THEN s.$ch * (2 * LEAST(t.rn - s.rn, ${n - 1} - (t.rn - s.rn)) + 1) END)
              AS DOUBLE) / $wsum.0 END AS tri_${ch}_$n"""
    }
    s"""WITH e AS (SELECT event_id, event_type,
         CAST(ROUND(value*100) AS BIGINT) AS vc,
         CAST(LENGTH(props) AS BIGINT) AS pl,
         event_id % 97 AS em,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) rn
         FROM events)
       SELECT t.event_id, ${cells.mkString(",\n")}
       FROM e t JOIN e s
         ON t.event_type = s.event_type AND s.rn BETWEEN t.rn - 1199 AND t.rn
       GROUP BY t.event_id, t.rn ORDER BY t.event_id"""
  }

  /** Tiny REAL PNG, rendered deterministically from a doc id: an 8-bit
    * grayscale image of (8 + id%5) × (8 + id%3) pixels with pixel
    * (x, y) = (id + 11·x + 17·y) mod 256. PNG is lossless and
    * grayscale luma is integer-exact through [[graft.multimodal
    * .Multimodal.ImageIoDecoder]] ((r+g+b)/3.0 == v for r=g=b=v), so
    * the m6/m7 gates can compare real encode→decode round-trips
    * against a closed-form DuckDB oracle that never decodes anything —
    * it just re-evaluates the pixel formula. Encoded BYTES are
    * encoder-version-dependent and deliberately never gated. */
  private[graft] def syntheticPng(id: Long): Array[Byte] = {
    // memory-cached ImageIO streams (Multimodal.ImageIoDecoder's
    // rationale): the default file-backed stream cache creates and
    // deletes a temp file per encode — ~4x the codec cost for these
    // tiny in-memory payloads. Idempotent per-call setter; runs in
    // whatever JVM the render closure lands on.
    javax.imageio.ImageIO.setUseCache(false)
    val w = (8 + id % 5).toInt
    val h = (8 + id % 3).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, ((id + 11L * x + 17L * y) % 256).toInt)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** The documents table as real-PNG media rows (doc_id, payload) —
    * input of the m6/m7 real-codec gates. The render runs inside
    * mapPartitions (per-partition batching, no driver work), exactly
    * where a production pipeline's fetch-or-transcode stage sits. */
  private[graft] def pngMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, syntheticPng(id))))
      .toDF("doc_id", "payload")
  }

  /** Deterministic s16le PCM payload for the m9 audio gate:
    * 256·(2 + id%3) samples, sample(i) = ((id·7 + i·13) mod 2048) −
    * 1024 — a pseudo-sawtooth sweeping the full signed range with
    * frequent sign flips, closed-form so the DuckDB oracle regenerates
    * the WAVEFORM (generate_series + the same arithmetic) and never
    * parses a byte. Integer features stay bit-exact end to end. */
  private[graft] def pcmAudio(id: Long): Array[Byte] = {
    val n = (256 * (2 + id % 3)).toInt
    val out = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = (((id * 7 + i.toLong * 13) % 2048) - 1024).toInt
      out(2 * i) = (v & 0xff).toByte
      out(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** The documents table as raw-PCM audio rows (doc_id, payload) —
    * input of the m9 audio-framing gate; synthesis runs inside
    * mapPartitions like [[pngMedia]]'s render. */
  private[graft] def pcmMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, pcmAudio(id))))
      .toDF("doc_id", "payload")
  }

  /** Speech-shaped VAD fixture: [[pcmAudio]]'s waveform with every
    * third 256-sample frame DAMPED to low-amplitude dither — frame f
    * of doc id is "silent" iff (f + id) mod 3 == 0, silent sample
    * (i·13 mod 31) − 15 (|v| <= 15, frame energy <= 3840 vs ~131k
    * loud) — so an energy threshold separates frames crisply and the
    * m12 gate exercises real segment merging. Closed-form like
    * pcmAudio: the oracle regenerates the waveform, never parses a
    * byte. */
  private[graft] def pcmSpeech(id: Long): Array[Byte] = {
    val n = (256 * (2 + id % 3)).toInt
    val out = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val f = i / 256
      val v = if ((f + id) % 3 == 0) (((i.toLong * 13) % 31) - 15).toInt
        else (((id * 7 + i.toLong * 13) % 2048) - 1024).toInt
      out(2 * i) = (v & 0xff).toByte
      out(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** [[pcmSpeech]] over the documents table — input of m12. */
  private[graft] def pcmSpeechMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, pcmSpeech(id))))
      .toDF("doc_id", "payload")
  }

  /** Cleaned activities for the e3/e4 pipeline gates: a 1-in-20 orders
    * slice as Strava-shaped JSON through the real clean; elapsed_time
    * splits the corpus across the R5 branch. */
  private[graft] def e3Activities(s: SparkSession, dir: String, now: Long): DataFrame = {
    val docs = t(s, dir, "orders").filter(col("o_orderkey") % 20 === 0)
      .select(to_json(struct(
        col("o_orderkey").as("id"),
        col("o_orderpriority").as("name"),
        col("o_orderstatus").as("type"),
        date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("start_date"),
        struct(col("o_custkey").as("id")).as("athlete"),
        (col("o_orderkey") % 86400).as("moving_time"),
        ((col("o_orderkey") % 4000) * 50 + 60).as("elapsed_time"))).as("json"))
    etl.CleanActivities.clean(docs, now.toDouble)
      .filter(col("_valid")).drop("_valid")
  }

  /** Long-form streams for e3/e4: lineitem rows as spacing-2 samples
    * with cents-scaled integer channels (exact-parity design — see the
    * e3 registry comment). With `poisonWatts`, the FIRST sample's watts
    * is nulled for every third activity — a leading null that survives
    * interpolation, feeding the legacy poisoning gate (e4). */
  private[graft] def e3Streams(s: SparkSession, dir: String,
                        poisonWatts: Boolean): DataFrame = {
    val arr = sort_array(collect_list(struct(
      col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_quantity").as("hr"), col("l_extendedprice").as("pr"),
      col("l_discount").as("dc"))))
    val watts = round(col("smp.pr") * 100, 0)
    val wattsOut =
      if (poisonWatts)
        when(col("activity_id") % 60 === 0 && col("idx") === 0,
          lit(null).cast("double")).otherwise(watts)
      else watts
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 20 === 0)
      .groupBy(col("l_orderkey").as("activity_id")).agg(arr.as("a"))
      .select(col("activity_id"), posexplode(col("a")).as(Seq("idx", "smp")))
      .select(col("activity_id"),
        (col("idx") * 2).cast("long").as("time"),
        array(col("smp.hr"), col("smp.dc")).as("latlng"),
        lit(null).cast("double").as("distance"),
        lit(null).cast("double").as("altitude"),
        round(col("smp.dc") * 10000, 0).as("velocity_smooth"),
        round(col("smp.hr") * 100, 0).as("heartrate"),
        lit(null).cast("double").as("cadence"),
        wattsOut.as("watts"),
        lit(null).cast("double").as("temp"),
        lit(true).as("moving"),
        lit(null).cast("double").as("grade_smooth"))
  }

  /** The e3 gate's output projection over an ActivityPipeline.process
    * result — shared by the correctness gate and the heavy bench
    * (which runs the pipeline from PERSISTED fixture corpora so it
    * times the engine, not fixture construction). Orders with no
    * lineitem rows surface as empty stream arrays (K1 contract); the
    * oracle's sample CTE is lineitem-rooted, so the gate compares the
    * populated ones. */
  private[graft] def e3Select(out: DataFrame): DataFrame = {
    val m = element_at(col("maxs"), 1)
    out.filter(size(col("streams")) > 0)
      .select(col("id"),
        size(col("streams")).cast("long").as("n_streams"),
        element_at(col("streams"), 1).getField("heartrate").as("first_hr"),
        element_at(col("streams"), 1).getField("latlng").as("first_latlng"),
        m.getField("max_hr_1").as("peak_hr1"),
        m.getField("max_hr_5").as("peak_hr5"),
        m.getField("max_hr_10").as("peak_hr10"),
        m.getField("max_power_5").as("peak_power5"),
        m.getField("max_speed_10").as("peak_speed10"))
      .orderBy("id")
  }

  /** The e4 gate's output projection over a dualMaxs process result. */
  private[graft] def e4Select(out: DataFrame): DataFrame = {
    val leg = element_at(col("maxs_legacy"), 1)
    val m = element_at(col("maxs"), 1)
    out.filter(size(col("streams")) > 0)
      .select(col("id"),
        leg.getField("max_power_5").as("legacy_power5"),
        leg.getField("max_hr_5").as("legacy_hr5"),
        m.getField("max_power_5").as("corr_power5"),
        m.getField("max_hr_5").as("corr_hr5"))
      .orderBy("id")
  }

  /** DuckDB twin of e3_pipeline_streams: the full ActivityPipeline
    * dataflow — R5 branch, dense spine, r4-style interpolation (t cast
    * to double, identical IEEE sequence), a3-style triangular rolling
    * at windows {1,5,10}, per-activity maxima, P6 latlng formatting —
    * reproduced CTE by CTE. */
  private[graft] def e3OracleSql: String = {
    val chans = Seq("hr", "w", "vel")
    val winExprs = chans.map { c =>
      s"""last_value($c IGNORE NULLS) OVER wpre pv_$c,
         last_value(CASE WHEN $c IS NOT NULL THEN CAST(t AS DOUBLE) END IGNORE NULLS) OVER wpre pt_$c,
         first_value($c IGNORE NULLS) OVER wpost nv_$c,
         first_value(CASE WHEN $c IS NOT NULL THEN CAST(t AS DOUBLE) END IGNORE NULLS) OVER wpost nt_$c"""
    }.mkString(",\n")
    val interpExprs = chans.map { c =>
      s"""CASE WHEN $c IS NOT NULL THEN $c
              WHEN pv_$c IS NULL THEN NULL
              WHEN nv_$c IS NULL THEN pv_$c
              ELSE pv_$c + (nv_$c - pv_$c) * (CAST(t AS DOUBLE) - pt_$c) / (nt_$c - pt_$c) END $c"""
    }.mkString(", ")
    val triExprs = chans.map { c =>
      s"""MAX(CASE WHEN s.rn = t.rn THEN s.$c END) tri1_$c,
         CASE WHEN t.rn >= 5 THEN
           SUM(CASE WHEN t.rn - s.rn <= 4
                    THEN s.$c * LEAST(t.rn - s.rn + 1, 5 - (t.rn - s.rn)) END) / 9 END tri5_$c,
         CASE WHEN t.rn >= 10 THEN
           SUM(s.$c * (2 * LEAST(t.rn - s.rn, 9 - (t.rn - s.rn)) + 1)) / 50 END tri10_$c"""
    }.mkString(",\n")
    s"""WITH acts AS (SELECT o_orderkey aid, (o_orderkey % 4000) * 50 + 60 el
           FROM orders WHERE o_orderkey % 20 = 0),
       s0 AS (SELECT l_orderkey aid,
           (ROW_NUMBER() OVER (PARTITION BY l_orderkey
              ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
                       l_extendedprice, l_discount) - 1) * 2 AS time,
           ROUND(l_quantity * 100) hr, ROUND(l_extendedprice * 100) w,
           ROUND(l_discount * 10000) vel,
           l_quantity lat, l_discount lng
         FROM lineitem WHERE l_orderkey % 20 = 0),
       norm AS (SELECT s0.* FROM s0 JOIN acts USING (aid) WHERE el < 100000),
       byp  AS (SELECT s0.* FROM s0 JOIN acts USING (aid) WHERE el >= 100000),
       bounds AS (SELECT aid, MAX(time) tmax FROM norm GROUP BY aid),
       spine AS (SELECT aid, UNNEST(generate_series(0, tmax)) t FROM bounds),
       j AS (SELECT sp.aid, sp.t, n.hr, n.w, n.vel, n.lat, n.lng
             FROM spine sp LEFT JOIN norm n ON sp.aid = n.aid AND sp.t = n.time),
       wn AS (SELECT *, $winExprs FROM j
              WINDOW wpre AS (PARTITION BY aid ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              wpost AS (PARTITION BY aid ORDER BY t
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
       i AS (SELECT aid, t, lat, lng, $interpExprs FROM wn),
       ii AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY aid ORDER BY t) rn FROM i),
       r AS (SELECT t.aid, t.rn, $triExprs
             FROM ii t JOIN ii s ON t.aid = s.aid AND s.rn BETWEEN t.rn - 9 AND t.rn
             GROUP BY t.aid, t.rn),
       maxs AS (SELECT aid, MAX(tri1_hr) m_hr1, MAX(tri5_hr) m_hr5,
                MAX(tri10_hr) m_hr10, MAX(tri5_w) m_w5, MAX(tri10_vel) m_v10
                FROM r GROUP BY aid),
       allrows AS (SELECT aid, t AS time_new, hr, lat, lng FROM i
                   UNION ALL SELECT aid, time, hr, lat, lng FROM byp),
       firsts AS (SELECT aid, COUNT(*) n_streams,
                  MAX(CASE WHEN time_new = 0 THEN hr END) first_hr,
                  MAX(CASE WHEN time_new = 0 THEN
                    '[' || CAST(lat AS VARCHAR) || ', ' || CAST(lng AS VARCHAR) || ']'
                  END) first_latlng
                  FROM allrows GROUP BY aid)
       SELECT f.aid AS id, f.n_streams, f.first_hr, f.first_latlng,
         m.m_hr1 AS peak_hr1, m.m_hr5 AS peak_hr5,
         m.m_hr10 AS peak_hr10, m.m_w5 AS peak_power5,
         m.m_v10 AS peak_speed10
       FROM firsts f LEFT JOIN maxs m USING (aid) ORDER BY id"""
  }

  /** DuckDB twin of e4_legacy_poisoning: e3's CTE chain for channels
    * (hr, w) with the watts null injected at the first sample,
    * null-GUARDED triangular windows (a window touching a null yields
    * null, matching the kernel's poisoning-free semantics), and the
    * legacy rule as a per-activity BOOL_OR(w IS NULL) that nulls the
    * whole channel's maxima. */
  private[graft] def e4OracleSql: String = {
    val chans = Seq("hr", "w")
    val winExprs = chans.map { c =>
      s"""last_value($c IGNORE NULLS) OVER wpre pv_$c,
         last_value(CASE WHEN $c IS NOT NULL THEN CAST(t AS DOUBLE) END IGNORE NULLS) OVER wpre pt_$c,
         first_value($c IGNORE NULLS) OVER wpost nv_$c,
         first_value(CASE WHEN $c IS NOT NULL THEN CAST(t AS DOUBLE) END IGNORE NULLS) OVER wpost nt_$c"""
    }.mkString(",\n")
    val interpExprs = chans.map { c =>
      s"""CASE WHEN $c IS NOT NULL THEN $c
              WHEN pv_$c IS NULL THEN NULL
              WHEN nv_$c IS NULL THEN pv_$c
              ELSE pv_$c + (nv_$c - pv_$c) * (CAST(t AS DOUBLE) - pt_$c) / (nt_$c - pt_$c) END $c"""
    }.mkString(", ")
    val triExprs = chans.map { c =>
      s"""CASE WHEN t.rn >= 5
               AND SUM(CASE WHEN t.rn - s.rn <= 4 AND s.$c IS NULL THEN 1 ELSE 0 END) = 0
           THEN SUM(CASE WHEN t.rn - s.rn <= 4
                    THEN s.$c * LEAST(t.rn - s.rn + 1, 5 - (t.rn - s.rn)) END) / 9 END tri5_$c"""
    }.mkString(",\n")
    s"""WITH acts AS (SELECT o_orderkey aid, (o_orderkey % 4000) * 50 + 60 el
           FROM orders WHERE o_orderkey % 20 = 0),
       s0r AS (SELECT l_orderkey aid,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey
              ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
                       l_extendedprice, l_discount) rn0,
           l_quantity hq, l_extendedprice pr
         FROM lineitem WHERE l_orderkey % 20 = 0),
       s0 AS (SELECT aid, (rn0 - 1) * 2 AS time, ROUND(hq * 100) hr,
           CASE WHEN aid % 60 = 0 AND rn0 = 1 THEN NULL
                ELSE ROUND(pr * 100) END w
         FROM s0r),
       norm AS (SELECT s0.* FROM s0 JOIN acts USING (aid) WHERE el < 100000),
       byp  AS (SELECT s0.* FROM s0 JOIN acts USING (aid) WHERE el >= 100000),
       bounds AS (SELECT aid, MAX(time) tmax FROM norm GROUP BY aid),
       spine AS (SELECT aid, UNNEST(generate_series(0, tmax)) t FROM bounds),
       j AS (SELECT sp.aid, sp.t, n.hr, n.w
             FROM spine sp LEFT JOIN norm n ON sp.aid = n.aid AND sp.t = n.time),
       wn AS (SELECT *, $winExprs FROM j
              WINDOW wpre AS (PARTITION BY aid ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              wpost AS (PARTITION BY aid ORDER BY t
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
       i AS (SELECT aid, t, $interpExprs FROM wn),
       pois AS (SELECT aid, BOOL_OR(w IS NULL) p FROM i GROUP BY aid),
       ii AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY aid ORDER BY t) rn FROM i),
       r AS (SELECT t.aid, t.rn, $triExprs
             FROM ii t JOIN ii s ON t.aid = s.aid AND s.rn BETWEEN t.rn - 9 AND t.rn
             GROUP BY t.aid, t.rn),
       maxs AS (SELECT aid, MAX(tri5_hr) hr5, MAX(tri5_w) w5 FROM r GROUP BY aid),
       aids AS (SELECT DISTINCT aid FROM s0)
       SELECT a.aid AS id,
         CASE WHEN COALESCE(p.p, FALSE) THEN NULL ELSE m.w5 END AS legacy_power5,
         m.hr5 AS legacy_hr5,
         m.w5 AS corr_power5,
         m.hr5 AS corr_hr5
       FROM aids a
       LEFT JOIN maxs m ON m.aid = a.aid
       LEFT JOIN pois p ON p.aid = a.aid
       ORDER BY id"""
  }

  /** Shared oracle CTEs producing the same minhash signature table. */
  private[graft] val oracleSigCtes: String = {
    val sigs = (0 until 8).map { i =>
      val h = if (i < 4) "h0" else "h1"
      s"MIN(substr($h, ${8 * (i % 4) + 1}, 8)) AS sig$i"
    }.mkString(", ")
    s"""w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
       sh AS (SELECT doc_id,
              UNNEST([concat_ws(' ', w[i], w[i+1], w[i+2]) for i in generate_series(1, len(w)-2)]) sh
              FROM w),
       hs AS (SELECT doc_id, md5('0|' || sh) h0, md5('1|' || sh) h1 FROM sh),
       sig AS (SELECT doc_id, $sigs FROM hs GROUP BY doc_id)"""
  }

  /** Shared oracle CTE chain unrolling `rounds` BPE training rounds
    * (oracle twin of the TextQuality.bpeTrain loop): `v0` is the
    * char-segmented vocab, each round r adds pair counts `p{r}`, the
    * 1-row argmax `t{r}`, and the re-merged vocab `v{r}`. Both engines
    * use the double-space merge (see bpeMerges scaladoc): a
    * single-space replace would skip adjacent occurrences. t15 reads
    * the `t{r}` tables, t18 reads the final `v{rounds}`. */
  private[graft] def bpeOracleCtes(rounds: Int): String = {
    def round(r: Int): String =
      s"""p$r AS (SELECT lhs, rhs, CAST(SUM(tf) AS BIGINT) cnt FROM (
            SELECT tf, s[i] lhs, s[i + 1] rhs
            FROM (SELECT tf, string_split(seg, ' ') s FROM v${r - 1}),
                 UNNEST([i for i in generate_series(1, len(s) - 1)]) t(i))
          GROUP BY lhs, rhs),
         t$r AS (SELECT lhs, rhs, cnt FROM p$r
                 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         v$r AS (SELECT word, tf, trim(replace(replace(
                 '  ' || replace(seg, ' ', '  ') || '  ',
                 (SELECT ' ' || lhs || '  ' || rhs || ' ' FROM t$r),
                 (SELECT ' ' || lhs || rhs || ' ' FROM t$r)), '  ', ' ')) seg
                 FROM v${r - 1})"""
    s"""v0 AS (SELECT w AS word, COUNT(*) tf,
         array_to_string([substr(w, i, 1) for i in generate_series(1, len(w))], ' ') seg
         FROM (SELECT UNNEST(string_split(text, ' ')) w FROM documents)
         GROUP BY w),
       ${(1 to rounds).map(round).mkString(",\n")}"""
  }

  /** Shared oracle CTEs producing the 16-bit simhash fingerprint table
    * `fp(doc_id, h)` — the oracle twin of [[graft.operators.Dedup.simhash16]]:
    * per-token md5, hex-digit bit extraction, +-1 bit sums, sign bits
    * packed little-endian. Used by d4 (fingerprints) and d25 (the
    * Hamming-banded join, verified all-pairs on the oracle side). */
  private[graft] val oracleSimhashCte: String = {
    val sums = (0 until 16).map { j =>
      val ci = j / 4 + 1; val bi = 1 << (j % 4)
      s"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, $ci, 1)) - 1) // $bi) % 2 = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(", ")
    val bits = (0 until 16).map(j =>
      s"CASE WHEN s$j >= 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""tok AS (SELECT doc_id, md5(UNNEST(string_split(text, ' '))) h FROM documents),
       sums AS (SELECT doc_id, $sums FROM tok GROUP BY doc_id),
       fp AS (SELECT doc_id, CAST($bits AS BIGINT) h FROM sums)"""
  }

  /** 60-bit twin of [[oracleSimhashCte]] (oracle of
    * [[graft.operators.Dedup.simhash60]]) over an arbitrary corpus
    * CTE/table `corpus(doc_id, text)`: CTEs `tok`, `sums`,
    * `fp(doc_id, h)` over 15 md5 hex digits. */
  private[graft] def oracleSimhash60CteOver(corpus: String): String = {
    val sums = (0 until 60).map { j =>
      val ci = j / 4 + 1; val bi = 1 << (j % 4)
      s"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, $ci, 1)) - 1) // $bi) % 2 = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(", ")
    val bits = (0 until 60).map(j =>
      s"CASE WHEN s$j >= 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""tok AS (SELECT doc_id, md5(UNNEST(string_split(text, ' '))) h FROM $corpus),
       sums AS (SELECT doc_id, $sums FROM tok GROUP BY doc_id),
       fp AS (SELECT doc_id, CAST($bits AS BIGINT) h FROM sums)"""
  }

  /** [[oracleSimhash60CteOver]] over the documents table — d25/d33's
    * form. */
  private[graft] val oracleSimhash60Cte: String =
    oracleSimhash60CteOver("documents")

  /** Oracle twin of [[Dedup.lshPairs]] (appends to [[oracleSigCtes]]):
    * CTEs `bands`, `kept`, `pairs(doc_a, doc_b)`. */
  private[graft] val oraclePairCtes: String = {
    val bandList = (0 until 4).map(b =>
      s"md5('b$b|' || sig${2 * b} || sig${2 * b + 1})").mkString(", ")
    s"""bands AS (SELECT doc_id, UNNEST([$bandList]) bkey FROM sig),
       kept AS (SELECT doc_id, bkey FROM
                (SELECT *, COUNT(*) OVER (PARTITION BY bkey) bn FROM bands)
                WHERE bn <= 100),
       pairs AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
                 FROM kept a JOIN kept b ON a.bkey = b.bkey AND a.doc_id < b.doc_id)"""
  }

  /** Oracle twin of [[Dedup.clusters]]' label propagation over an
    * edge CTE/table `pairs(doc_a, doc_b)`: CTEs `edges` (both
    * directions) and the RECURSIVE `reach(doc_id, lbl)` — every label
    * that reaches a doc; its cluster is `MIN(lbl)`. */
  private[graft] def oracleReachCtes(pairs: String): String =
    s"""edges AS (SELECT doc_a src, doc_b dst FROM $pairs
                     UNION SELECT doc_b, doc_a FROM $pairs),
           reach(doc_id, lbl) AS (
             SELECT DISTINCT src, src FROM edges
             UNION
             SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id)"""

  /** Shared oracle CTE chain (e21/o33): the curation funnel's stages
    * over the documents corpus — minhash clusters `cl`, dedup `keep`
    * (cluster label survives), 6-gram decontamination against the
    * doc_id % 7 = 0 benchmark (`clean`), the t-quality >= 0.5 cut
    * (`qual`), and the cluster-grouped "lf" split hash `vv(v)`
    * (Sampling.groupSplit's 12-bit bucket). `withSource` carries the
    * source column through k2/hh/vv (e21 allocates per source). */
  private[graft] def curationFunnelCtes(withSource: Boolean): String = {
    val src = if (withSource) "source, " else ""
    val qSrc = if (withSource) "q.source, " else ""
    s"""$oracleSigCtes, $oraclePairCtes,
           ${oracleReachCtes("pairs")},
           cl AS (SELECT doc_id, MIN(lbl) AS cluster FROM reach
             GROUP BY doc_id),
           keep AS (SELECT d.* FROM documents d
             WHERE d.doc_id NOT IN
               (SELECT doc_id FROM cl WHERE doc_id <> cluster)),
           bw AS (SELECT doc_id, string_split(text, ' ') w FROM documents
             WHERE doc_id % 7 = 0),
           bsh AS (SELECT DISTINCT
               UNNEST([concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4],
                 w[i+5]) for i in generate_series(1, len(w) - 5)]) sh
             FROM bw),
           tw AS (SELECT doc_id, string_split(text, ' ') w FROM keep
             WHERE doc_id % 7 <> 0),
           tsh AS (SELECT DISTINCT doc_id,
               UNNEST([concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4],
                 w[i+5]) for i in generate_series(1, len(w) - 5)]) sh
             FROM tw),
           flag AS (SELECT DISTINCT t.doc_id FROM tsh t JOIN bsh b
             USING (sh)),
           clean AS (SELECT k.* FROM keep k WHERE k.doc_id % 7 <> 0
             AND k.doc_id NOT IN (SELECT doc_id FROM flag)),
           qw AS (SELECT doc_id, source, text, string_split(text, ' ') w
             FROM clean),
           qual AS (SELECT doc_id, source, text FROM qw
             WHERE LEAST(CAST(1.0 AS DOUBLE), CAST(len(w) AS DOUBLE) / 100.0) * 0.5
               + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.3
               + (CAST(len(list_filter(w, x -> list_contains(
                   ['the','a','of','and','to','in'], x))) AS DOUBLE)
                  / len(w)) * 0.2 >= 0.5),
           k2 AS (SELECT q.doc_id, ${qSrc}q.text,
               COALESCE(cl.cluster, q.doc_id) grp
             FROM qual q LEFT JOIN cl USING (doc_id)),
           hh AS (SELECT doc_id, ${src}text,
               md5('lf|' || CAST(grp AS VARCHAR)) h FROM k2),
           vv AS (SELECT doc_id, ${src}text,
             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) AS v
             FROM hh)"""
  }

  /** Oracle of n2/n13's label-IVF probe (SparkEntry.labelIvfTopK);
    * `neighborPred` is an extra `AND ...` on the candidate join
    * (n13's filter) or empty. */
  private[graft] def labelIvfOracleSql(neighborPred: String): String = {
    val extra = if (neighborPred.isEmpty) "" else s" $neighborPred"
    s"""WITH dims AS (SELECT label, vec_id, UNNEST(embedding::DOUBLE[]) v,
                          generate_subscripts(embedding, 1) i FROM embeddings),
           cent AS (SELECT label, i, ROUND(AVG(v), 6) c FROM dims GROUP BY 1, 2),
           qdims AS (SELECT vec_id qid, i, v FROM dims WHERE vec_id < 5),
           qcent AS (SELECT qid, label,
                     ROUND(SUM(v * c) / (sqrt(SUM(v * v)) * sqrt(SUM(c * c))), 6) ccos
                     FROM qdims JOIN cent ON qdims.i = cent.i GROUP BY 1, 2),
           probed AS (SELECT qid, label FROM
                      (SELECT qid, label,
                       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ccos DESC, label) lrnk
                       FROM qcent) WHERE lrnk <= 2),
           u AS (SELECT vec_id, label,
                 list_transform(embedding::DOUBLE[],
                   x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) ue
                 FROM embeddings),
           q AS (SELECT vec_id qid, ue qu FROM u WHERE vec_id < 5),
           cand AS (SELECT p.qid, e.vec_id neighbor_id,
                    ROUND(list_dot_product(q.qu, e.ue), 6) cos_r
                    FROM probed p JOIN q ON p.qid = q.qid
                    JOIN u e ON e.label = p.label AND e.vec_id <> p.qid$extra),
           r AS (SELECT qid, neighbor_id, cos_r,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_r DESC, neighbor_id) rnk
                 FROM cand)
           SELECT qid, rnk, neighbor_id, cos_r FROM r WHERE rnk <= 5
           ORDER BY qid, rnk"""
  }

  /** Exact full-dim top-k of the 5 ANN queries (vec_id < 5) over the
    * unit table `u`: CTEs `q`, `s` and `r(qid, neighbor_id, cos_r,
    * rnk)` (n1/n9 and m5). */
  private[graft] val oracleExactRankCtes: String =
    """q AS (SELECT vec_id qid, ue qu FROM u WHERE vec_id < 5),
           s AS (SELECT qid, u.vec_id neighbor_id,
             ROUND(list_dot_product(qu, u.ue), 6) cos_r
             FROM q, u WHERE u.vec_id <> qid),
           r AS (SELECT qid, neighbor_id, cos_r,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_r DESC, neighbor_id) rnk
             FROM s)"""

  /** Exact full-dim ranking of the 5 ANN queries (vec_id < 5) over
    * the unit table `u` ([[oracleUnitCte]]): CTEs `bq`, `bs`,
    * `br(qid, nid, rnk)` — the oracle of Ann.bruteForceTopK. */
  private[graft] val oracleBruteRankCtes: String =
    s"""bq AS (SELECT vec_id qid, ue qu FROM u WHERE vec_id < 5),
           bs AS (SELECT qid, u.vec_id nid,
             ROUND(list_dot_product(qu, u.ue), 6) cos_r
             FROM bq, u WHERE u.vec_id <> qid),
           br AS (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY cos_r DESC, nid) rnk FROM bs)"""

  /** [[oracleBruteRankCtes]] plus the exact top-5 `ex(qid, nid)` —
    * the gold set of every recall eval. */
  private[graft] val oracleExactTop5Ctes: String =
    s"""$oracleBruteRankCtes,
           ex AS (SELECT qid, nid FROM br WHERE rnk <= 5)"""

  /** The 8-dim Matryoshka truncation's ranking (n27's lowest rung):
    * CTEs `u8`, `q8`, `s8`, `r8(qid, nid, rnk)`. */
  private[graft] val oracleTrunc8RankCtes: String =
    s"""u8 AS (SELECT vec_id,
             list_transform(sub, x -> x / sqrt(list_dot_product(sub, sub))) ue
             FROM (SELECT vec_id, list_slice(embedding::DOUBLE[], 1, 8) sub
                   FROM embeddings)),
           q8 AS (SELECT vec_id qid, ue qu FROM u8 WHERE vec_id < 5),
           s8 AS (SELECT qid, u8.vec_id nid,
             ROUND(list_dot_product(qu, u8.ue), 6) cos_r
             FROM q8, u8 WHERE u8.vec_id <> qid),
           r8 AS (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY cos_r DESC, nid) rnk FROM s8)"""

  /** Per-query hits `h(qid, n_hits)` of an approximate top-5
    * `ap(qid, neighbor_id)` against the exact `ex`. */
  private[graft] val oracleHitsCte: String =
    s"""h AS (SELECT ap.qid, COUNT(*) n_hits FROM ap
             JOIN ex ON ap.qid = ex.qid AND ap.neighbor_id = ex.nid
             GROUP BY 1)"""

  /** Oracle tail of Ann.recallAtK(k = 5) over `ap` and `ex`: per
    * query n_approx, n_hits and recall_ppm (n16/n20). */
  private[graft] val oracleRecallAt5Sql: String =
    s"""$oracleHitsCte,
           na AS (SELECT qid, COUNT(*) n_approx FROM ap GROUP BY 1)
           SELECT e.qid,
             COALESCE(na.n_approx, CAST(0 AS BIGINT)) n_approx,
             COALESCE(h.n_hits, CAST(0 AS BIGINT)) n_hits,
             COALESCE(h.n_hits, CAST(0 AS BIGINT)) * 1000000 // 5 AS recall_ppm
           FROM (SELECT DISTINCT qid FROM ex) e
           LEFT JOIN na ON na.qid = e.qid LEFT JOIN h ON h.qid = e.qid
           ORDER BY e.qid"""

  /** Fleet recall over `h`/`ex`: per-query `recall(qid, rp)` and the
    * one-row `agg(n_queries, avg_recall_ppm)` (n22/n24). */
  private[graft] def oracleRecallAggCtes(agg: String): String =
    s"""recall AS (SELECT e.qid,
             COALESCE(h.n_hits, CAST(0 AS BIGINT)) * 1000000 // 5 rp
             FROM (SELECT DISTINCT qid FROM ex) e
             LEFT JOIN h ON h.qid = e.qid),
           $agg AS (SELECT CAST(COUNT(*) AS BIGINT) n_queries,
             CAST(SUM(rp) // COUNT(*) AS BIGINT) avg_recall_ppm
             FROM recall)"""

  /** The stale-codebook IVF top-5 (n20's approx side, shared by
    * n22/n24): codebook trained on the stored split vec_id % 4 <> 0,
    * 2 probes per query, `ap(qid, neighbor_id)`. */
  private[graft] lazy val staleIvfApproxCtes: String =
    s"""${kmeansMemberCtesTrainedOn("vec_id % 4 <> 0")},
           probes AS (SELECT vec_id qid, cluster FROM rk
             WHERE vec_id < 5 AND r <= 2),
           q AS (SELECT vec_id qid, ue qu FROM u WHERE vec_id < 5),
           cand AS (SELECT p.qid, e.vec_id neighbor_id,
                    ROUND(list_dot_product(q.qu, e.ue), 6) cos_r
                    FROM probes p JOIN q ON q.qid = p.qid
                    JOIN member m ON m.cluster = p.cluster
                    JOIN u e ON e.vec_id = m.vec_id AND e.vec_id <> p.qid),
           rr AS (SELECT qid, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cos_r DESC, neighbor_id) rnk FROM cand),
           ap AS (SELECT qid, neighbor_id FROM rr WHERE rnk <= 5)"""

  /** Each event's 30-minute-gap session with its type (g37/g46):
    * CTEs `l`, `f` and `sid(user_id, event_type, session_id)`. */
  private[graft] val oracleTypedSessionCtes: String =
    """l AS (SELECT user_id, ts, event_type,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) prev FROM events),
           f AS (SELECT user_id, ts, event_type, CASE WHEN prev IS NULL
             OR epoch_ms(ts) - epoch_ms(prev) > 1800000 THEN 1 ELSE 0 END is_new
             FROM l),
           sid AS (SELECT user_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) session_id
             FROM f)"""

  /** Each document's distinct word 8-grams (d11/d12/d13/d28/d31/e9):
    * CTEs `w(doc_id, w)` and `name(doc_id, sh)`. */
  private[graft] def oracleWord8GramCtes(name: String): String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
           $name AS (SELECT DISTINCT doc_id,
             UNNEST([concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4], w[i+5], w[i+6], w[i+7])
                     for i in generate_series(1, len(w) - 7)]) sh
             FROM w)"""

  /** Each document's distinct word 3-gram set (d23/d24): CTEs `w`,
    * `g(doc_id, gs)`, `tk(doc_id, sh)` and `sz(doc_id, n)`. */
  private[graft] val oracleWord3GramSetCtes: String =
    """w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
           g AS (SELECT doc_id, list_distinct([array_to_string(w[i : i+2], ' ')
                 for i in generate_series(1, len(w) - 2)]) gs
                 FROM w WHERE len(w) >= 3),
           tk AS (SELECT doc_id, UNNEST(gs) sh FROM g),
           sz AS (SELECT doc_id, len(gs) n FROM g)"""

  /** Corpus bigram counts and each document's familiarity sums
    * (e7/t17): CTEs `w`, `bi(doc_id, sh)`, `c(sh, c)`, `tot(total)` and
    * `d(doc_id, sum_c, n_bigrams)`. */
  private[graft] val oracleBigramCountCtes: String =
    """w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
           bi AS (SELECT doc_id,
             UNNEST([concat_ws(' ', w[i], w[i+1]) for i in generate_series(1, len(w)-1)]) sh
             FROM w),
           c AS (SELECT sh, COUNT(*) c FROM bi GROUP BY 1),
           tot AS (SELECT CAST(SUM(c) AS BIGINT) total FROM c),
           d AS (SELECT doc_id, CAST(SUM(c.c) AS BIGINT) sum_c, COUNT(*) n_bigrams
                 FROM bi JOIN c USING (sh) GROUP BY 1)"""

  /** TextQuality.textStats' columns over a word list `w` and its
    * `text` (t1/t35). */
  private[graft] val oracleTextStatsCols: String =
    """CAST(len(w) AS BIGINT) AS n_words,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_words,
           CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
           CAST(len(text) - (len(w) - 1) AS DOUBLE) / len(w) AS avg_word_len,
           CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE) / len(w) AS stop_ratio,
           LEAST(CAST(1.0 AS DOUBLE), CAST(len(w) AS DOUBLE) / 100.0) * 0.5
             + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.3
             + (CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE) / len(w)) * 0.2 AS quality"""

  /** The supplier co-order graph (suppliers sharing an order, lines
    * with quantity >= 45) and its triangles (g19/g60): CTEs `li`,
    * `e(lo, hi)` and `tr(a, b, c)`. */
  private[graft] val oracleSupplierTriangleCtes: String =
    """li AS (SELECT l_orderkey, l_suppkey FROM lineitem
             WHERE l_quantity >= 45),
           e AS (SELECT DISTINCT a.l_suppkey lo, b.l_suppkey hi
             FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
               AND a.l_suppkey < b.l_suppkey),
           tr AS (SELECT e1.lo a, e1.hi b, e2.hi c
             FROM e e1 JOIN e e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
             JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi)"""

  /** First and second moments of the first 8 embedding dims
    * (n14/n15): CTEs `d(vec_id, i, j, p)`, `m2(i, j, m2)` (j >= i) and
    * `mm(pos, m)`. */
  private[graft] val oracleEmbedMomentCtes: String =
    """d AS (SELECT e.vec_id, s.i, t.j,
             CAST(e.embedding[s.i + 1] AS DOUBLE)
               * CAST(e.embedding[t.j + 1] AS DOUBLE) p
             FROM embeddings e, generate_series(0, 7) s(i),
                  generate_series(0, 7) t(j)
             WHERE t.j >= s.i),
           m2 AS (SELECT i, j, AVG(p) m2 FROM d GROUP BY 1, 2),
           mm AS (SELECT s.i AS pos,
             AVG(CAST(e.embedding[s.i + 1] AS DOUBLE)) m
             FROM embeddings e, generate_series(0, 7) s(i) GROUP BY 1)"""

  /** Each user's hourly spine over `ev(user_id, h, ...)` (r3/r4/e1):
    * CTEs `bounds` and `spine(user_id, h)`. */
  private[graft] val oracleHourSpineCtes: String =
    """bounds AS (SELECT user_id, MIN(h) h0, MAX(h) h1 FROM ev GROUP BY 1),
           spine AS (SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) h FROM bounds)"""

  /** The spine left-joined to `ev(user_id, h, v)` — `j(<jCols>, t, v)`,
    * t the hour in epoch millis — and `w`, each row with the previous
    * (`pv`, `pt`) and next (`nv`, `nt`) non-null value and its t. */
  private[graft] def oracleHourInterpCtes(jCols: String): String =
    s"""$oracleHourSpineCtes,
           j AS (SELECT $jCols, CAST(epoch_ms(s.h) AS DOUBLE) t, e.v
                 FROM spine s LEFT JOIN ev e ON s.user_id = e.user_id AND s.h = e.h),
           w AS (SELECT *,
             last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pv,
             last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pt,
             first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nv,
             first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nt
             FROM j)"""

  /** Linear interpolation of `v` over `w`'s neighbours (r4/e1, the
    * oracle of Interpolation.interpolate): the value itself, else null before the first
    * value, the last value after the final one, the line between. */
  private[graft] val oracleInterpCase: String =
    """CASE WHEN v IS NOT NULL THEN v
             WHEN pv IS NULL THEN NULL
             WHEN nv IS NULL THEN pv
             ELSE pv + (nv - pv) * (t - pt) / (nt - pt) END"""

  /** One additive Holt-Winters step (a8/a21; alpha 0.5, beta 0.25,
    * gamma 0.25, period 3) of recursive state `r(l, b, s0, s1, s2)` on event
    * `e(rn, value)`: the new (level, trend, season) SQL. */
  private[graft] val oracleHoltWintersStep: (String, String, String) = {
    val sPrev = "CASE (e.rn - 1) % 3 WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 ELSE r.s2 END"
    val newL = s"0.5 * (e.value - ($sPrev)) + 0.5 * (r.l + r.b)"
    val newB = s"0.25 * (($newL) - r.l) + 0.75 * r.b"
    val newS = s"0.25 * (e.value - ($newL)) + 0.75 * ($sPrev)"
    (newL, newB, newS)
  }

  /** Each user's first view, first click after it and first purchase
    * after that (g23/g44): CTEs `v(user_id, s0)`, `c(user_id, s1)` and
    * `p(user_id, s2)`. */
  private[graft] val oracleFunnelStageCtes: String =
    """v AS (SELECT user_id, MIN(ts) s0 FROM events
             WHERE event_type = 'view' GROUP BY 1),
           c AS (SELECT e.user_id, MIN(e.ts) s1 FROM events e
             JOIN v ON e.user_id = v.user_id
             WHERE e.event_type = 'click' AND e.ts > v.s0 GROUP BY 1),
           p AS (SELECT e.user_id, MIN(e.ts) s2 FROM events e
             JOIN c ON e.user_id = c.user_id
             WHERE e.event_type = 'purchase' AND e.ts > c.s1 GROUP BY 1)"""

  /** Round `i` of the integer PageRank replay (g17/t34; damping 0.85,
    * base 150000 micros) over `e(src, dst)`, out-degrees `deg(src, d)`,
    * nodes `n(id)` and the previous round `r{i-1}(id, r)`. */
  private[graft] def oraclePageRankRound(i: Int): String =
    s"""c$i AS (SELECT e.dst, CAST(SUM(r${i - 1}.r // deg.d) AS BIGINT) s
              FROM e JOIN deg USING (src) JOIN r${i - 1} ON r${i - 1}.id = e.src
              GROUP BY e.dst),
           r$i AS (SELECT id, CAST(150000 + (85 * COALESCE(c$i.s, 0)) // 100 AS BIGINT) r
              FROM n LEFT JOIN c$i ON c$i.dst = n.id)"""

  /** The hashed linear quality classifier's per-token weights (t19,
    * t33, w23 — oracle of TextQuality.hashedLinearScore): CTEs `tok`
    * and `wgt(doc_id, w)`, w the first 16 bits of md5('qc|' || token)
    * shifted to be signed. */
  private[graft] val qualityWeightCtes: String =
    s"""tok AS (SELECT doc_id,
               md5('qc|' || UNNEST(string_split(text, ' '))) h FROM documents),
             wgt AS (SELECT doc_id,
               (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
               + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
               + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
               + (instr('0123456789abcdef', substr(h, 4, 1)) - 1) - 32768 AS w
               FROM tok)"""

  /** LabelProp.propagate's oracle (g49/g51): the bipartite trade
    * graph `e(src, dst)` (customers even, suppliers odd ids) and 3
    * unrolled self-inclusive rounds `c{i}`/`l{i}` — labels `l3(id,
    * lbl)`, ties to (max count, min label). */
  private[graft] val lpaOracleCtes: String = {
    def round(i: Int) =
      s"""c$i AS (SELECT x.id, x.lbl, COUNT(*) n FROM (
            SELECT e.dst id, l.lbl FROM e
            JOIN l${i - 1} l ON l.id = e.src
            UNION ALL SELECT id, lbl FROM l${i - 1}) x
          GROUP BY 1, 2),
         l$i AS (SELECT id, lbl FROM (SELECT id, lbl,
            ROW_NUMBER() OVER (PARTITION BY id
              ORDER BY n DESC, lbl) r FROM c$i) WHERE r = 1)"""
    s"""cs AS (SELECT DISTINCT o_custkey*2 AS c, l_suppkey*2+1 AS p
                 FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           e AS (SELECT c src, p dst FROM cs UNION ALL SELECT p src, c dst FROM cs),
           n AS (SELECT DISTINCT src id FROM e),
           l0 AS (SELECT id, id lbl FROM n),
           ${round(1)}, ${round(2)}, ${round(3)}"""
  }

  /** Dedup.substringScrub's span cover over removable 12-gram starts
    * `rem(doc_id, pos)` (d20/d21/d35): consecutive starts form islands
    * `isl`, each covering st .. st + len - 1; `cov(doc_id, pos)` is
    * every removed token position. */
  private[graft] val scrubCoverCtes: String =
    s"""i AS (SELECT doc_id, pos, pos - ROW_NUMBER() OVER
               (PARTITION BY doc_id ORDER BY pos) grp FROM rem),
             isl AS (SELECT doc_id, MIN(pos) st, COUNT(*) + 11 len
               FROM i GROUP BY doc_id, grp),
             cov AS (SELECT DISTINCT doc_id,
               UNNEST(generate_series(st, st + len - 1)) pos FROM isl)"""

  /** Tokens `tk(doc_id, pos, w)` joined to the cover: `j(..., rm)`. */
  private[graft] val scrubJoinCte: String =
    s"""j AS (SELECT tk.doc_id, tk.pos, tk.w, cov.pos IS NOT NULL rm
               FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.pos = cov.pos)"""

  /** Per doc: removed-token count and the md5 of the reassembled
    * text (d20/d21's gate columns). */
  private[graft] val scrubbedMd5Select: String =
    s"""SELECT doc_id,
               CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
               md5(COALESCE(string_agg(CASE WHEN NOT rm THEN w END, ' '
                 ORDER BY pos), '')) AS cleaned_md5
             FROM j GROUP BY doc_id ORDER BY doc_id"""

  /** The d20 exact-substring scrub over a corpus CTE/table
    * `corpus(doc_id, text)` (d20 over documents, d35 over its
    * boilerplate-injected `aug`): the corpus-first occurrence of
    * every 12-gram is kept, later ones are `rem`; ends in
    * [[scrubJoinCte]]'s `j`. */
  private[graft] def scrubCtesOver(corpus: String): String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') w FROM $corpus),
             t0 AS (SELECT doc_id, UNNEST([struct_pack(p := i - 1, t := w[i])
                 for i in generate_series(1, len(w))]) s FROM w),
             tk AS (SELECT doc_id, s.p pos, s.t w FROM t0),
             g AS (SELECT doc_id, UNNEST([struct_pack(p := i - 1,
                 gr := array_to_string(w[i : i+11], ' '))
                 for i in generate_series(1, len(w) - 11)]) s FROM w),
             e AS (SELECT doc_id, s.p pos, s.gr gram FROM g),
             r AS (SELECT doc_id, pos, ROW_NUMBER() OVER
               (PARTITION BY gram ORDER BY doc_id, pos) rk FROM e),
             rem AS (SELECT doc_id, pos FROM r WHERE rk >= 2),
             $scrubCoverCtes,
             $scrubJoinCte"""

  /** The epoch weights of Sampling.epochAllocation(.., 4 epochs,
    * 900000 ppm decay) as a UNION ALL of (epoch, w_ppm) rows. */
  private[graft] val epochWeightRows: String =
    Seq(1000000L, 900000L, 810000L, 729000L).zipWithIndex.map { case (w, i) =>
      if (i == 0) s"SELECT CAST(1 AS BIGINT) epoch, CAST($w AS BIGINT) w_ppm"
      else s"SELECT ${i + 1}, $w"
    }.mkString(" UNION ALL ")

  /** Oracle of Sampling.epochAllocation(s, 6, 10, 4, 900000) (o28/o30)
    * over a per-source token table `s(source, tokens)`: epochs are
    * taken greedily in (epoch, tokens desc, source) order while the
    * cumulative cost stays within 6/10 of the total. */
  private[graft] val epochAllocationSql: String =
    s"""tot AS (SELECT CAST(SUM(tokens) AS BIGINT) t FROM s),
             e AS ($epochWeightRows),
             un AS (SELECT source, epoch, tokens, w_ppm,
               CAST(t * 6 // 10 AS BIGINT) budget FROM s, e, tot),
             cw AS (SELECT *, CAST(SUM(tokens) OVER (
                 ORDER BY epoch, tokens DESC, source) AS BIGINT) cum_cost
               FROM un)
             SELECT source, epoch, tokens, w_ppm, cum_cost,
               CAST(CASE WHEN cum_cost <= budget THEN 1 ELSE 0 END
                    AS BIGINT) taken,
               CAST(CASE WHEN cum_cost <= budget
                    THEN tokens * w_ppm // 1000000 ELSE 0 END
                    AS BIGINT) eff_tokens
             FROM cw ORDER BY epoch, tokens DESC, source"""

  /** First-seen-wins exact dedup by md5(text) (o29/w32/o30):
    * `j(source, ntok, kept)`, kept = 1 on each hash's min doc_id. */
  private[graft] val tokenSupplyCtes: String =
    s"""d AS (SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) ntok,
               md5(text) h FROM documents),
             k AS (SELECT h, MIN(doc_id) keep FROM d GROUP BY 1),
             j AS (SELECT d.source, d.ntok,
               CASE WHEN d.doc_id = k.keep THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END kept
               FROM d JOIN k ON d.h = k.h)"""

  /** Oracle of e15's reciprocal-rank fusion (shared with e19): the
    * BM25 list `bmr` ([[bm25OracleCtes]]), the dense top list `hdr`
    * over the doc_id % 97 = 0 queries, and the fused ranking
    * `hfr(query_id, doc_id, n_lists, fused_nano, rnk)`. */
  private[graft] lazy val hybridRrfCtes: String =
    s"""$bm25OracleCtes,
             $oracleUnitCte,
             hqv AS (SELECT vec_id qid, ue qu FROM u WHERE vec_id % 97 = 0),
             hsd AS (SELECT qid, u.vec_id nid,
                     ROUND(list_dot_product(qu, u.ue), 6) cos_r
                     FROM hqv, u WHERE u.vec_id <> qid),
             hdr AS (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY cos_r DESC, nid) rnk FROM hsd),
             hu AS (SELECT query_id, doc_id, rnk FROM bmr WHERE rnk <= 10
                    UNION ALL
                    SELECT qid, nid, rnk FROM hdr WHERE rnk <= 10),
             hf AS (SELECT query_id, doc_id, COUNT(*) n_lists,
                      CAST(SUM(1000000000 // (60 + rnk)) AS BIGINT) fused_nano
                    FROM hu GROUP BY 1, 2),
             hfr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY fused_nano DESC, doc_id) rnk FROM hf)"""

  /** Oracle of the verified dedup clusters (e6/e8/e12): LSH
    * candidates ([[oraclePairCtes]]) verified by char-5-gram Jaccard
    * >= 0.35 into `vp(doc_a, doc_b)`, then connected components
    * `cl(doc_id, cluster)` (min member id). */
  private[graft] lazy val verifiedClusterCtes: String =
    s"""$oracleSigCtes, $oraclePairCtes,
           g AS (SELECT doc_id,
                 list_distinct([substr(text, i, 5) for i in generate_series(1, len(text)-4)]) grams
                 FROM documents),
           vp AS (SELECT p.doc_a, p.doc_b FROM pairs p
                  JOIN g ga ON p.doc_a = ga.doc_id
                  JOIN g gb ON p.doc_b = gb.doc_id
                  WHERE CAST(len(list_filter(ga.grams, x -> list_contains(gb.grams, x))) AS DOUBLE)
                    / (len(ga.grams) + len(gb.grams)
                       - len(list_filter(ga.grams, x -> list_contains(gb.grams, x)))) >= 0.35),
           ${oracleReachCtes("vp")},
           cl AS (SELECT doc_id, MIN(lbl) AS cluster FROM reach GROUP BY doc_id)"""

  /** The first 32 bits of the md5 hex column `h` as an integer (the
    * oracle twin of SparkEntry's `hex32` checksum term). */
  private[graft] val oracleHex32: String = (0 until 8).map(c =>
    s"(strpos('0123456789abcdef', substr(h, ${c + 1}, 1)) - 1) * ${1L << (4 * (7 - c))}")
    .mkString(" + ")

  /** Oracle of the compaction plan + content checksum (e18/e20):
    * `nb(n)` = the number of `bucketBytes` buckets the doc_id-ordered
    * n_chars prefix sums span, and `agg(n_rows, checksum)` = the sum
    * of [[oracleHex32]] over md5(doc_id | n_chars | md5(text)). */
  private[graft] def compactionOracleCtes(bucketBytes: Long): String =
    s"""m AS (SELECT doc_id, CAST(n_chars AS BIGINT) bytes
             FROM documents),
           c AS (SELECT doc_id, bytes,
             CAST(COALESCE(SUM(bytes) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) cum
             FROM m),
           nb AS (SELECT CAST(COUNT(DISTINCT cum // $bucketBytes) AS BIGINT) n
             FROM c),
           r AS (SELECT md5(CAST(doc_id AS VARCHAR) || '|' ||
               CAST(n_chars AS VARCHAR) || '|' || md5(text)) h
             FROM documents),
           agg AS (SELECT CAST(COUNT(*) AS BIGINT) n_rows,
             CAST(SUM($oracleHex32) AS BIGINT) checksum FROM r)"""

  /** Closed-form pixel replay of the 16-bit perceptual hash over the
    * synthetic PNG fixture ([[syntheticPng]]; m7/m11/m14/m15): 16
    * sampled cells `v`, bit i set when 16 * cell >= the cell sum;
    * `b(doc_id, phash)`. */
  private[graft] val imagePhashCtes: String =
    s"""g AS (SELECT doc_id, CAST(8 + doc_id % 5 AS INT) w,
               CAST(8 + doc_id % 3 AS INT) h FROM documents),
             c AS (SELECT doc_id, w, h,
               UNNEST([i for i in generate_series(0, 15)]) i FROM g),
             v AS (SELECT doc_id, i,
               (doc_id + 11*(((w*h)*i//16) % w) + 17*(((w*h)*i//16) // w)) % 256 cell
               FROM c),
             sm AS (SELECT doc_id, SUM(cell) st FROM v GROUP BY doc_id),
             b AS (SELECT v.doc_id,
               CAST(SUM(CASE WHEN 16*cell >= st
                 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) phash
               FROM v JOIN sm ON v.doc_id = sm.doc_id GROUP BY v.doc_id)"""

  /** Closed-form replay of the 64-bit difference hash (m13/w29/e22):
    * 8x8 horizontal gradient bits of the fixture's pixel formula as an
    * unsigned HUGEINT `${p}s(doc_id, hs)`, every CTE name prefixed by
    * `p`; [[signedDhash]] folds it into a signed BIGINT. */
  private[graft] def imageDhashCtes(p: String): String =
    s"""${p}g AS (SELECT doc_id, CAST(8 + doc_id % 5 AS BIGINT) w,
               CAST(8 + doc_id % 3 AS BIGINT) h FROM documents),
             ${p}rs AS (SELECT UNNEST([i for i in generate_series(0, 7)]) r),
             ${p}cs AS (SELECT UNNEST([i for i in generate_series(0, 7)]) c),
             ${p}cells AS (SELECT doc_id, r, c,
               (doc_id + 11*((w*c)//9) + 17*((h*r)//8)) % 256 AS v0,
               (doc_id + 11*((w*(c+1))//9) + 17*((h*r)//8)) % 256 AS v1
               FROM ${p}g, ${p}rs, ${p}cs),
             ${p}s AS (SELECT doc_id,
               SUM(CASE WHEN v0 < v1
                 THEN CAST(1 AS HUGEINT) << CAST(r*8+c AS INT)
                 ELSE CAST(0 AS HUGEINT) END) AS hs
               FROM ${p}cells GROUP BY doc_id)"""

  /** Closed-form replay of the audio envelope fingerprint (m16/e22):
    * the PCM fixture plus its injected copies (every 97th doc re-added
    * at `doc_id + idoff`, so the caller defines `mx(idoff)`), 32-sample
    * frame energies, and one bit per rising frame transition, as
    * `${p}fpt(doc_id, n_frames, fp)`; every CTE name is prefixed by
    * `p`. */
  private[graft] def audioFingerprintCtes(p: String): String =
    s"""${p}a AS (SELECT doc_id, doc_id src FROM documents
               UNION ALL SELECT doc_id + idoff, doc_id FROM documents, mx
               WHERE doc_id % 97 = 0),
             ${p}d AS (SELECT doc_id, src, 256*(2 + src % 3) n FROM ${p}a),
             ${p}sm AS (SELECT doc_id, src,
               UNNEST([i for i in generate_series(0, n::INT - 1)]) i FROM ${p}d),
             ${p}v AS (SELECT doc_id, i // 32 f,
               ABS(((src*7 + i*13) % 2048) - 1024) av FROM ${p}sm),
             ${p}e AS (SELECT doc_id, f, SUM(av) sa FROM ${p}v GROUP BY 1, 2),
             ${p}c AS (SELECT doc_id, f, sa,
               lag(sa) OVER (PARTITION BY doc_id ORDER BY f) pv FROM ${p}e),
             ${p}fpt AS (SELECT doc_id,
               CAST(COUNT(*) + 1 AS BIGINT) n_frames,
               CAST(SUM(CASE WHEN sa > pv
                 THEN (CAST(1 AS BIGINT) << (f - 1)::INT) ELSE 0 END)
                 AS BIGINT) fp
               FROM ${p}c WHERE pv IS NOT NULL GROUP BY doc_id)"""

  /** `hs` as the two's-complement BIGINT `dhash`. */
  private[graft] val signedDhash: String =
    s"""CAST(CASE WHEN hs >= CAST(9223372036854775808 AS HUGEINT)
                 THEN hs - CAST(18446744073709551616 AS HUGEINT)
                 ELSE hs END AS BIGINT) AS dhash"""

  /** The 16-cell average hash (m4, and m17/e22 per keyframe): the
    * keyframe cells `c0..c15` sampled from a frame table `(doc_id,
    * text, f)` (select list), the cell sum, and the hash — bit i set
    * where 16 * c_i >= the sum `s`. */
  private[graft] val keyframeCells: String = (0 until 16).map(i =>
    s"ascii(substr(text, CAST(f*100 + ${100 * i / 16} + 1 AS INT), 1)) c$i")
    .mkString(", ")
  private[graft] val avgHashCellSum: String =
    (0 until 16).map(i => s"c$i").mkString(" + ")
  private[graft] val avgHashBits: String = (0 until 16).map(i =>
    s"(CASE WHEN 16 * c$i >= s THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)")
    .mkString(" + ")

  /** Per-doc script-class counts (TextQuality.scriptProfile's oracle,
    * t34/t35): CTE `name(doc_id, n_latin, n_digit, n_cyrillic, n_cjk,
    * n_other)` over a code-point table `codepoints(doc_id, cp)`. */
  private[graft] def scriptCountsCte(name: String, codepoints: String): String =
    s"""$name AS (SELECT doc_id,
             CAST(SUM(CASE WHEN (cp BETWEEN 65 AND 90)
               OR (cp BETWEEN 97 AND 122) THEN 1 ELSE 0 END) AS BIGINT) n_latin,
             CAST(SUM(CASE WHEN cp BETWEEN 48 AND 57
               THEN 1 ELSE 0 END) AS BIGINT) n_digit,
             CAST(SUM(CASE WHEN cp BETWEEN 1024 AND 1279
               THEN 1 ELSE 0 END) AS BIGINT) n_cyrillic,
             CAST(SUM(CASE WHEN cp BETWEEN 19968 AND 40959
               THEN 1 ELSE 0 END) AS BIGINT) n_cjk,
             CAST(SUM(CASE WHEN NOT ((cp BETWEEN 65 AND 90)
               OR (cp BETWEEN 97 AND 122) OR (cp BETWEEN 48 AND 57)
               OR (cp BETWEEN 1024 AND 1279)
               OR (cp BETWEEN 19968 AND 40959))
               THEN 1 ELSE 0 END) AS BIGINT) n_other
             FROM $codepoints GROUP BY 1)"""

  /** ADC scores of Ann.pqTopK(m = 2, subDim = 32, k = 16) (n8/n11):
    * both sub-codebooks' LUT parts summed per (query, vector) into
    * `scq(qid, neighbor_id, score_r)`. */
  private[graft] lazy val pqAdcScoreCtes: String =
    s"""${pqSubspaceCtes(0, 32, 16)},
           ${pqSubspaceCtes(1, 32, 16)},
           parts AS (
             SELECT l.qid, m.vec_id, l.part
             FROM member0 m JOIN lut0 l ON l.cluster = m.cluster
             UNION ALL
             SELECT l.qid, m.vec_id, l.part
             FROM member1 m JOIN lut1 l ON l.cluster = m.cluster),
           scq AS (SELECT qid, vec_id neighbor_id, ROUND(SUM(part), 6) score_r
                  FROM parts WHERE vec_id <> qid GROUP BY 1, 2)"""

  /** Pairwise precision/recall in exact ppm over a TP/FP/FN flag
    * table `j<sfx>(tpf, fpf, fnf)`: CTEs `m<sfx>` and
    * `r<sfx>(tp, fp, fn, precision_ppm, recall_ppm)` (d33/d34/m14). */
  private[graft] def prPpmCtes(sfx: String): String =
    s"""m$sfx AS (SELECT CAST(SUM(tpf) AS BIGINT) tp,
               CAST(SUM(fpf) AS BIGINT) fp, CAST(SUM(fnf) AS BIGINT) fn
               FROM j$sfx),
             r$sfx AS (SELECT tp, fp, fn,
               CASE WHEN tp + fp = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST(tp * 1000000 // (tp + fp) AS BIGINT)
                 END precision_ppm,
               CASE WHEN tp + fn = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST(tp * 1000000 // (tp + fn) AS BIGINT)
                 END recall_ppm
               FROM m$sfx)"""

  /** F1 in exact ppm over [[prPpmCtes]]' precision/recall columns. */
  private[graft] val f1PpmCol: String =
    """CASE WHEN precision_ppm + recall_ppm = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST(2 * precision_ppm * recall_ppm
                           // (precision_ppm + recall_ppm) AS BIGINT)
                 END f1_ppm"""

  /** Water-filling cap at 9/10 of the total supply over a per-source
    * table `s(source, supply)` (Sampling's budget cap): ranked
    * sources `r`, budget `b(n, bgt)` and the one-row cap `c(cap)`;
    * [[waterfillAlloc]] is each source's allocation. */
  private[graft] val waterfillCapCtes: String =
    s"""t AS (SELECT CAST(COUNT(*) AS BIGINT) n,
               CAST(SUM(supply) AS BIGINT) tot FROM s),
             b AS (SELECT n, CAST(tot * 9 // 10 AS BIGINT) bgt FROM t),
             r AS (SELECT source, supply,
               CAST(ROW_NUMBER() OVER (ORDER BY supply, source) AS BIGINT) i,
               CAST(SUM(supply) OVER (ORDER BY supply, source) AS BIGINT) p
               FROM s),
             f AS (SELECT r.*, b.n, b.bgt FROM r, b
               WHERE r.p + (b.n - r.i) * r.supply > b.bgt),
             c AS (SELECT CAST((bgt - (p - supply)) // (n - i + 1) AS BIGINT)
                 cap
               FROM f ORDER BY i LIMIT 1)"""

  /** A source's water-filled allocation (no cap: its whole supply). */
  private[graft] val waterfillAlloc: String =
    """CASE WHEN (SELECT cap FROM c) IS NULL THEN r.supply
                 ELSE GREATEST(0, LEAST(r.supply, (SELECT cap FROM c)))
               END"""

  /** Shared oracle CTE chain (t30/e15): rational-idf BM25 over the
    * documents corpus — the identical integer arithmetic as
    * Retrieval.bm25TopK (k1=6/5, b=3/4, both sides scaled by
    * 10*total, milli-scaled floor division). Queries are the
    * first-6-word prefixes of docs with doc_id % 97 = 0. Yields
    * `bmr` = (query_id, doc_id, n_terms, score_milli, rnk). */
  private[graft] val bm25OracleCtes: String =
    """bw AS (SELECT doc_id, UNNEST(string_split(text, ' ')) word FROM documents),
       btf AS (SELECT doc_id, word, COUNT(*) tf FROM bw GROUP BY 1, 2),
       bdl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) dl FROM btf GROUP BY 1),
       bdf AS (SELECT word, COUNT(*) df FROM btf GROUP BY 1),
       bc AS (SELECT (SELECT COUNT(*) FROM bdl) n_docs,
                     (SELECT CAST(SUM(dl) AS BIGINT) FROM bdl) total),
       bq AS (SELECT DISTINCT query_id, word FROM (
                SELECT doc_id query_id,
                       UNNEST(string_split(text, ' ')[1:6]) word
                FROM documents WHERE doc_id % 97 = 0)),
       bh AS (SELECT bq.query_id, btf.doc_id,
                (2 * bc.n_docs - 2 * bdf.df + 1) * (22 * btf.tf * bc.total) * 1000
                  // ((2 * bdf.df + 1)
                      * (10 * bc.total * btf.tf + 3 * bc.total
                         + 9 * bdl.dl * bc.n_docs)) term_milli
              FROM bq JOIN btf USING (word) JOIN bdf USING (word)
                   JOIN bdl ON btf.doc_id = bdl.doc_id, bc),
       bs AS (SELECT query_id, doc_id, COUNT(*) n_terms,
                CAST(SUM(term_milli) AS BIGINT) score_milli
              FROM bh GROUP BY 1, 2),
       bmr AS (SELECT query_id, doc_id, n_terms, score_milli,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score_milli DESC, doc_id) rnk FROM bs)"""

  /** Shared oracle CTE: unit-normalized embeddings (same op sequence as
    * UnitVector — fold of squares, sqrt, per-element divide). */
  private[graft] val oracleUnitCte: String =
    """u AS (SELECT vec_id, label,
       list_transform(embedding::DOUBLE[],
         x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) ue
       FROM embeddings)"""

  /** k-means membership CTE chain at the gates' codebook (k=5, 2 Lloyd
    * rounds): unit vectors → long-form dims → deterministic rank seeds
    * → two unrolled Lloyd rounds → final scores → `rk` (per-vector
    * centroid ranking) and `member` (the inverted file). Shared by n5
    * (probes = top-nprobe of rk) and d16 (cluster-scoped pair dedup) —
    * both oracles must run the IDENTICAL training rounds or the
    * codebooks diverge. */
  private[graft] val kmeansMemberCtes: String = kmeansMemberCtesTrainedOn("TRUE")

  /** [[kmeansMemberCtes]] generalized with a TRAINING-SET predicate:
    * seeds and every Lloyd round see only `dimsT` (rows satisfying
    * `trainPred`), while the final scoring/membership (`sf`/`rk`/
    * `member`) covers ALL vectors — the oracle twin of "train the
    * codebook on the stored corpus, assign everyone". With TRUE the
    * chain degenerates to the shared n5/d16 oracle exactly; n10 passes
    * the stored-corpus split to gate frozen-codebook incremental
    * maintenance. */
  private[graft] def kmeansMemberCtesTrainedOn(trainPred: String): String =
    kmeansMemberCtesPrefixed("", trainPred)

  /** [[kmeansMemberCtesTrainedOn]] with every CTE name prefixed by
    * `p`, so TWO codebook chains (a stale 3/4-trained one and a fresh
    * full-corpus one) can coexist in ONE oracle query — n24's rebuild
    * gate needs exactly that. With p = "" this is byte-identical to
    * the unprefixed chain every existing n/d oracle composes with. */
  private[graft] def kmeansMemberCtesPrefixed(p: String, trainPred: String): String = {
    def lloyd(centIn: String, n: Int): String =
      s"""${p}s$n AS (SELECT d.vec_id, c.cluster, ROUND(SUM(d.v * c.c), 6) score
            FROM ${p}dimsT d JOIN $centIn c ON d.i = c.i GROUP BY 1, 2),
         ${p}a$n AS (SELECT vec_id, cluster FROM
            (SELECT vec_id, cluster,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cluster) r
             FROM ${p}s$n) WHERE r = 1),
         ${p}c$n AS (SELECT a.cluster, d.i, ROUND(AVG(d.v), 6) c
            FROM ${p}dimsT d JOIN ${p}a$n a ON d.vec_id = a.vec_id GROUP BY 1, 2)"""
    // ONE source of truth for the unit normalization: the prefixed
    // chain renames oracleUnitCte's head instead of duplicating its
    // SQL (a drifted copy would train n24's fresh chain on
    // differently-normalized vectors than every other oracle)
    val unit =
      if (p.isEmpty) oracleUnitCte
      else {
        require(oracleUnitCte.startsWith("u AS "),
          "oracleUnitCte head changed; update the prefixed rename")
        p + oracleUnitCte
      }
    s"""$unit,
       ${p}dims AS (SELECT vec_id, UNNEST(ue) v, generate_subscripts(ue, 1) i FROM ${p}u),
       ${p}dimsT AS (SELECT * FROM ${p}dims WHERE $trainPred),
       ${p}seeds AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster
                 FROM (SELECT DISTINCT vec_id FROM ${p}dimsT) ORDER BY vec_id LIMIT 5),
       ${p}c0 AS (SELECT s.cluster, d.i, ROUND(d.v, 6) c
              FROM ${p}dimsT d JOIN ${p}seeds s USING (vec_id)),
       ${lloyd(s"${p}c0", 1)},
       ${lloyd(s"${p}c1", 2)},
       ${p}sf AS (SELECT d.vec_id, c.cluster, ROUND(SUM(d.v * c.c), 6) score
              FROM ${p}dims d JOIN ${p}c2 c ON d.i = c.i GROUP BY 1, 2),
       ${p}rk AS (SELECT vec_id, cluster,
              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cluster) r
              FROM ${p}sf),
       ${p}member AS (SELECT vec_id, cluster FROM ${p}rk WHERE r = 1)"""
  }

  /** Per-subspace CTE chain for the PQ gate (n8): unit-normalized
    * `subDim`-wide slice → one unrolled Lloyd round at codebook size
    * `k` → membership (the codes) and the per-query lookup table —
    * the oracle twin of [[Ann.pqTopK]]'s training+encode for subspace
    * `s`. All CTE names are suffixed with the subspace index. */
  private[graft] def pqSubspaceCtes(s: Int, subDim: Int, k: Int): String = {
    val (lo, hi) = (s * subDim + 1, (s + 1) * subDim)
    s"""u$s AS (SELECT vec_id,
         list_transform(sub, x -> x / sqrt(list_dot_product(sub, sub))) ue
         FROM (SELECT vec_id, list_slice(embedding::DOUBLE[], $lo, $hi) sub
               FROM embeddings)),
       dims$s AS (SELECT vec_id, UNNEST(ue) v, generate_subscripts(ue, 1) i FROM u$s),
       seeds$s AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster
                 FROM (SELECT DISTINCT vec_id FROM dims$s) ORDER BY vec_id LIMIT $k),
       c0$s AS (SELECT sd.cluster, d.i, ROUND(d.v, 6) c
              FROM dims$s d JOIN seeds$s sd USING (vec_id)),
       sc$s AS (SELECT d.vec_id, c.cluster, ROUND(SUM(d.v * c.c), 6) score
              FROM dims$s d JOIN c0$s c ON d.i = c.i GROUP BY 1, 2),
       asg$s AS (SELECT vec_id, cluster FROM
              (SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cluster) r
               FROM sc$s) WHERE r = 1),
       c1$s AS (SELECT a.cluster, d.i, ROUND(AVG(d.v), 6) c
              FROM dims$s d JOIN asg$s a ON d.vec_id = a.vec_id GROUP BY 1, 2),
       sf$s AS (SELECT d.vec_id, c.cluster, ROUND(SUM(d.v * c.c), 6) score
              FROM dims$s d JOIN c1$s c ON d.i = c.i GROUP BY 1, 2),
       member$s AS (SELECT vec_id, cluster FROM
              (SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cluster) r
               FROM sf$s) WHERE r = 1),
       lut$s AS (SELECT d.vec_id qid, c.cluster, ROUND(SUM(d.v * c.c), 6) part
              FROM dims$s d JOIN c1$s c ON d.i = c.i
              WHERE d.vec_id < 5 GROUP BY 1, 2)"""
  }

  /** The gates' random-hyperplane codebook: 8 planes over 64 dims
    * ([[Ann.randomHyperplanes]]) — inlined as literals into BOTH
    * engines; the codebook is data (like model weights). */
  private[graft] lazy val rpPlanes: Seq[Array[Double]] = Ann.randomHyperplanes(8, 64)

  /** 1e6-scaled integer nDCG position discounts, w(p) = round(1e6 /
    * log2(p+1)) for p = 1..k — the discount table is MODEL DATA like
    * [[rpPlanes]]: computed once here, inlined as literals into both
    * engines, so every DCG is an exact int64 Σ rel·w and nDCG one
    * truncating division (the engine's exact-arithmetic discipline —
    * a float DCG would drift with summation order). */
  private[graft] def dcgWeights(k: Int): Seq[Long] =
    (1 to k).map(p => math.round(1e6 / (math.log(p + 1.0) / math.log(2.0))))

  /** The LSH retrieval chain as composable CTEs (assumes `u` from
    * [[oracleUnitCte]] precedes): yields `r` = ranked candidates per
    * query. Shared by n3/n4's oracles and n16's recall evaluation. */
  private[graft] def annLshChainCtes(hamming1: Boolean): String = {
    val sigSql = rpPlanes.zipWithIndex.map { case (p, j) =>
      val plane = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(ue, $plane) >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")
    val probeList =
      if (hamming1) (0 until 8).map(j => s"xor(bucket, ${1 << j})").mkString("[bucket, ", ", ", "]")
      else "[bucket]"
    s"""sig AS (SELECT vec_id, ue, $sigSql AS bucket FROM u),
       q AS (SELECT vec_id qid, ue qu, UNNEST($probeList) probe
             FROM sig WHERE vec_id < 5),
       cand AS (SELECT q.qid, s.vec_id neighbor_id,
                ROUND(list_dot_product(q.qu, s.ue), 6) cos_r
                FROM q JOIN sig s ON q.probe = s.bucket AND s.vec_id <> q.qid),
       r AS (SELECT qid, neighbor_id, cos_r,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_r DESC, neighbor_id) rnk
             FROM cand)"""
  }

  /** Oracle twin of [[Ann.lshTopK]] at the gate's codebook/k. */
  private[graft] def annLshOracleSql(hamming1: Boolean): String =
    s"""WITH $oracleUnitCte,
       ${annLshChainCtes(hamming1)}
       SELECT qid, rnk, neighbor_id, cos_r FROM r WHERE rnk <= 5
       ORDER BY qid, rnk"""

  /** The kNN-graph BUILD as composable CTEs, every name prefixed by
    * `p`: banded sign-bit candidates over `corpusPred`'s slice of the
    * corpus (src side additionally restricted by `srcPred`, an
    * a-aliased predicate — the incremental gate's batch filter), exact
    * scoring, top-`m` per src, then `refineRounds` unrolled NN-descent
    * rounds. Ends with `<p>edges(src, dst)`. MATERIALIZED per stage:
    * DuckDB's default CTE inlining re-expands the multi-reference
    * chain exponentially (measured: "Too many open files" from one
    * query). Assumes [[oracleUnitCte]]'s `u` precedes. */
  private[graft] def annGraphBuildCtes(p: String, corpusPred: String,
                                       srcPred: String, m: Int,
                                       maxBucket: Int,
                                       refineRounds: Int): String = {
    val sigSql = rpPlanes.zipWithIndex.map { case (pl, j) =>
      val plane = pl.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(ue, $plane) >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")
    val half = 1 << (rpPlanes.size / 2)
    def topm(r: String, from: String) =
      s"""$r AS MATERIALIZED (SELECT src, dst FROM
         (SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst) r
          FROM $from) WHERE r <= $m)"""
    def scored(r: String, from: String) =
      s"""$r AS (SELECT c.src, c.dst, ROUND(list_dot_product(ua.ue, ub.ue), 6) w
         FROM $from c JOIN u ua ON ua.vec_id = c.src
         JOIN u ub ON ub.vec_id = c.dst)"""
    val rounds = (1 to refineRounds).map { r =>
      s"""${p}h$r AS (SELECT x.src, y.dst FROM ${p}e${r - 1} x JOIN ${p}e${r - 1} y
           ON x.dst = y.src WHERE x.src <> y.dst),
         ${p}cd$r AS (SELECT src, dst FROM ${p}cand
           UNION SELECT src, dst FROM ${p}h$r),
         ${scored(s"${p}es$r", s"${p}cd$r")},
         ${topm(s"${p}e$r", s"${p}es$r")}"""
    }.mkString(",\n")
    s"""${p}sig AS (SELECT vec_id, $sigSql AS bucket FROM u WHERE $corpusPred),
       ${p}b0 AS (SELECT vec_id, UNNEST([
           {'band': 0, 'bv': bucket // $half},
           {'band': 1, 'bv': bucket % $half}]) bk FROM ${p}sig),
       ${p}b AS (SELECT vec_id, bk.band band, bk.bv bv FROM ${p}b0),
       ${p}kept AS (SELECT vec_id, band, bv FROM
         (SELECT *, COUNT(*) OVER (PARTITION BY band, bv) bn FROM ${p}b)
         WHERE bn <= $maxBucket),
       ${p}cand AS (SELECT DISTINCT a.vec_id src, b.vec_id dst
         FROM ${p}kept a JOIN ${p}kept b ON a.band = b.band AND a.bv = b.bv
           AND a.vec_id <> b.vec_id AND ($srcPred)),
       ${scored(s"${p}es0", s"${p}cand")},
       ${topm(s"${p}e0", s"${p}es0")}${if (refineRounds > 0) ",\n" + rounds else ""},
       ${p}edges AS (SELECT src, dst FROM ${p}e$refineRounds)"""
  }

  /** Beam-walk CTE chain for ONE (beam, rounds) setting, every CTE
    * name carrying prefix `p` so several settings can share one WITH
    * block (and one `gedges`/`gq` build — the Spark side's staged-
    * index sharing, mirrored). Reads `gq(qid, qu)`, `gedges(src,
    * dst)`, `u(vec_id, ue)`; ends with `<p>res(qid, neighbor_id,
    * cos_r, rnk)` — the full visited ranking, caller truncates. */
  private def annWalkCtes(p: String, beam: Int, rounds: Int,
                          edgesName: String = "gedges"): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""${p}f${r - 1} AS MATERIALIZED (SELECT qid, node, cos_r FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos_r DESC, node) rr
            FROM ${p}v${r - 1} v WHERE NOT EXISTS (SELECT 1 FROM ${p}x${r - 1} x
              WHERE x.qid = v.qid AND x.node = v.node))
           WHERE rr <= $beam),
         ${p}x$r AS MATERIALIZED (SELECT qid, node FROM ${p}x${r - 1}
                 UNION SELECT qid, node FROM ${p}f${r - 1}),
         ${p}n$r AS MATERIALIZED (SELECT DISTINCT f.qid, e.dst node FROM ${p}f${r - 1} f
                 JOIN $edgesName e ON e.src = f.node
                 WHERE NOT EXISTS (SELECT 1 FROM ${p}v${r - 1} v
                   WHERE v.qid = f.qid AND v.node = e.dst)),
         ${p}s$r AS MATERIALIZED (SELECT n.qid, n.node,
                 ROUND(list_dot_product(q.qu, un.ue), 6) cos_r
                 FROM ${p}n$r n JOIN gq q ON q.qid = n.qid
                 JOIN u un ON un.vec_id = n.node),
         ${p}v$r AS MATERIALIZED (SELECT * FROM ${p}v${r - 1} UNION ALL SELECT * FROM ${p}s$r)"""
    }.mkString(",\n")
    s"""${p}v0 AS MATERIALIZED (SELECT qid, qid AS node,
         ROUND(list_dot_product(qu, qu), 6) cos_r FROM gq),
       ${p}x0 AS (SELECT qid, node FROM ${p}v0 WHERE FALSE),
       $roundCtes,
       ${p}res AS (SELECT qid, node neighbor_id, cos_r,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_r DESC, node) rnk
         FROM ${p}v$rounds WHERE node <> qid)"""
  }

  /** Oracle twin of [[Ann.graphTopK]] (the n23 graph-ANN gate): the
    * banded-signature edge build, then the `rounds` beam-search rounds
    * UNROLLED CTE by CTE — every pick is a rounded-cosine argmax with
    * id tiebreaks, so both engines walk the identical frontier. */
  private[graft] def annGraphOracleSql(m: Int, beam: Int, rounds: Int,
                                       k: Int, maxBucket: Int): String =
    s"""WITH $oracleUnitCte,
       ${annGraphBuildCtes("g", "TRUE", "TRUE", m, maxBucket, 2)},
       gq AS (SELECT vec_id qid, ue qu FROM u WHERE vec_id < 5),
       ${annWalkCtes("g", beam, rounds)}
       SELECT qid, rnk, neighbor_id, cos_r FROM gres WHERE rnk <= $k
       ORDER BY qid, rnk"""

  /** Oracle twin of the n31 graph probe sweep: ONE edge build + ONE
    * brute-force truth table shared by every (beam, rounds) setting
    * (the n30 one-train-many-probes discipline lifted to the graph
    * index), each setting's walk unrolled with its own CTE prefix,
    * recall@k per query, UNION ALL. */
  private[graft] def annGraphSweepOracleSql(settings: Seq[(Int, Int)],
                                            m: Int, k: Int,
                                            maxBucket: Int): String = {
    def pfx(b: Int, r: Int) = s"w${b}x$r"
    val walks = settings
      .map { case (b, r) => annWalkCtes(pfx(b, r), b, r) }.mkString(",\n")
    val perSetting = settings.map { case (b, r) =>
      val p = pfx(b, r)
      s"""${p}a AS (SELECT qid, neighbor_id FROM ${p}res WHERE rnk <= $k),
         ${p}h AS (SELECT a.qid, CAST(COUNT(*) AS BIGINT) n_hits
           FROM ${p}a a JOIN gex ON a.qid = gex.qid
             AND a.neighbor_id = gex.nid GROUP BY 1),
         ${p}nn AS (SELECT qid, CAST(COUNT(*) AS BIGINT) n_approx
           FROM ${p}a GROUP BY 1)"""
    }.mkString(",\n")
    val rows = settings.map { case (b, r) =>
      val p = pfx(b, r)
      s"""SELECT CAST($b AS BIGINT) beam, CAST($r AS BIGINT) rounds, e.qid,
           COALESCE(${p}nn.n_approx, CAST(0 AS BIGINT)) n_approx,
           COALESCE(${p}h.n_hits, CAST(0 AS BIGINT)) n_hits,
           COALESCE(${p}h.n_hits, CAST(0 AS BIGINT)) * 1000000 // $k
             AS recall_ppm
         FROM (SELECT DISTINCT qid FROM gex) e
         LEFT JOIN ${p}nn ON ${p}nn.qid = e.qid
         LEFT JOIN ${p}h ON ${p}h.qid = e.qid"""
    }.mkString(" UNION ALL ")
    s"""WITH $oracleUnitCte,
       ${annGraphBuildCtes("g", "TRUE", "TRUE", m, maxBucket, 2)},
       gq AS (SELECT vec_id qid, ue qu FROM u WHERE vec_id < 5),
       gbs AS (SELECT qid, u.vec_id nid,
         ROUND(list_dot_product(qu, u.ue), 6) cos_r
         FROM gq, u WHERE u.vec_id <> qid),
       gbr AS (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
         ORDER BY cos_r DESC, nid) rnk FROM gbs),
       gex AS (SELECT qid, nid FROM gbr WHERE rnk <= $k),
       $walks,
       $perSetting
       SELECT * FROM ($rows) ORDER BY beam, rounds, qid"""
  }

  /** Oracle twin of the n33 graph-index repair gate: build the edge
    * index, BFS `maxHops` rounds from the min-id entry (per-round
    * cumulative sets, so hop<=maxHops-1 defines the anchor set),
    * bridge every out-of-horizon node to its cosine-argmax anchor,
    * re-BFS over the repaired edges, and walk the (beam, rounds) top
    * rung on BOTH edge sets against one brute-force truth table —
    * one row: counts plus pre/post average recall in exact ppm. */
  /** Oracle twin of the n35 segment merge: two independent segment
    * builds (CTE prefixes sa/sb over the even/odd halves), a
    * stitch-only build (refineRounds 0, candidates restricted to
    * cross-segment pairs), BFS reachability from the min-id entry
    * over the unstitched union vs the merged graph, and one beam walk
    * over the merged graph scored against shared brute truth. */
  private[graft] def annSegmentMergeOracleSql(m: Int, mStitch: Int,
                                              beam: Int, rounds: Int,
                                              k: Int, maxBucket: Int,
                                              maxHops: Int,
                                              segRounds: Int): String = {
    def bfs(p: String, edges: String): String =
      (1 to maxHops).map(r =>
        s"""$p$r AS MATERIALIZED (SELECT id FROM $p${r - 1}
           UNION SELECT e.dst id FROM $edges e
           JOIN $p${r - 1} f ON e.src = f.id)""").mkString(",\n")
    s"""WITH $oracleUnitCte,
       ${annGraphBuildCtes("sa", "vec_id % 2 = 0", "TRUE", m, maxBucket,
          segRounds)},
       ${annGraphBuildCtes("sb", "vec_id % 2 = 1", "TRUE", m, maxBucket,
          segRounds)},
       ${annGraphBuildCtes("st", "TRUE",
          "(a.vec_id % 2) <> (b.vec_id % 2)", mStitch, maxBucket, 0)},
       pre AS MATERIALIZED (SELECT src, dst FROM saedges
         UNION ALL SELECT src, dst FROM sbedges),
       medges AS MATERIALIZED (SELECT src, dst FROM pre
         UNION ALL SELECT src, dst FROM stedges),
       corp AS (SELECT vec_id FROM u),
       qb0 AS (SELECT MIN(vec_id) id FROM corp),
       ${bfs("qb", "pre")},
       pb0 AS (SELECT MIN(vec_id) id FROM corp),
       ${bfs("pb", "medges")},
       gq AS (SELECT vec_id qid, ue qu FROM u WHERE vec_id < 5),
       gbs AS (SELECT qid, u.vec_id nid,
         ROUND(list_dot_product(qu, u.ue), 6) cos_r
         FROM gq, u WHERE u.vec_id <> qid),
       gbr AS (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
         ORDER BY cos_r DESC, nid) rnk FROM gbs),
       gex AS MATERIALIZED (SELECT qid, nid FROM gbr WHERE rnk <= $k),
       ${annWalkCtes("mg", beam, rounds, "medges")},
       mga AS (SELECT qid, neighbor_id FROM mgres WHERE rnk <= $k),
       mgh AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) h FROM
         (SELECT a.qid, COUNT(*) c FROM mga a JOIN gex
            ON a.qid = gex.qid AND a.neighbor_id = gex.nid
          GROUP BY 1)),
       nq AS (SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) n FROM gex)
       SELECT
         (SELECT CAST(COUNT(*) AS BIGINT) FROM pre) n_seg_edges,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM stedges) n_stitch,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM corp)
           - (SELECT CAST(COUNT(*) AS BIGINT) FROM qb$maxHops)
           AS n_unreach_before,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM corp)
           - (SELECT CAST(COUNT(*) AS BIGINT) FROM pb$maxHops)
           AS n_unreach_after,
         (SELECT h FROM mgh) * 1000000 // ($k * (SELECT n FROM nq))
           AS recall_ppm"""
  }

  private[graft] def annGraphRepairOracleSql(m: Int, beam: Int,
                                             rounds: Int, k: Int,
                                             maxBucket: Int,
                                             maxHops: Int): String = {
    def bfs(p: String, edges: String): String =
      (1 to maxHops).map(r =>
        s"""$p$r AS MATERIALIZED (SELECT id FROM $p${r - 1}
           UNION SELECT e.dst id FROM $edges e
           JOIN $p${r - 1} f ON e.src = f.id)""").mkString(",\n")
    def hitAgg(p: String): String =
      s"""${p}a AS (SELECT qid, neighbor_id FROM ${p}res WHERE rnk <= $k),
         ${p}hh AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) h FROM
           (SELECT a.qid, COUNT(*) c FROM ${p}a a JOIN gex
              ON a.qid = gex.qid AND a.neighbor_id = gex.nid
            GROUP BY 1))"""
    s"""WITH $oracleUnitCte,
       ${annGraphBuildCtes("g", "TRUE", "TRUE", m, maxBucket, 2)},
       corp AS (SELECT vec_id FROM u),
       rb0 AS (SELECT MIN(vec_id) id FROM corp),
       ${bfs("rb", "gedges")},
       anch AS MATERIALIZED (SELECT id FROM rb${maxHops - 1}),
       ubr AS MATERIALIZED (SELECT c.vec_id u_id FROM corp c
         WHERE c.vec_id NOT IN (SELECT id FROM rb$maxHops)),
       bsc AS (SELECT a.id a_id, ub.u_id,
           ROUND(list_dot_product(ua.ue, uu.ue), 6) w
         FROM anch a JOIN u ua ON ua.vec_id = a.id
         CROSS JOIN ubr ub JOIN u uu ON uu.vec_id = ub.u_id),
       bre AS MATERIALIZED (SELECT a_id src, u_id dst FROM
         (SELECT *, ROW_NUMBER() OVER (PARTITION BY u_id
            ORDER BY w DESC, a_id) r FROM bsc) WHERE r = 1),
       redges AS MATERIALIZED (SELECT src, dst FROM gedges
         UNION SELECT src, dst FROM bre),
       pb0 AS (SELECT MIN(vec_id) id FROM corp),
       ${bfs("pb", "redges")},
       gq AS (SELECT vec_id qid, ue qu FROM u WHERE vec_id < 5),
       gbs AS (SELECT qid, u.vec_id nid,
         ROUND(list_dot_product(qu, u.ue), 6) cos_r
         FROM gq, u WHERE u.vec_id <> qid),
       gbr AS (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
         ORDER BY cos_r DESC, nid) rnk FROM gbs),
       gex AS MATERIALIZED (SELECT qid, nid FROM gbr WHERE rnk <= $k),
       ${annWalkCtes("pre", beam, rounds, "gedges")},
       ${annWalkCtes("post", beam, rounds, "redges")},
       ${hitAgg("pre")},
       ${hitAgg("post")},
       nq AS (SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) n FROM gex)
       SELECT
         (SELECT CAST(COUNT(*) AS BIGINT) FROM ubr) n_unreach_before,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bre) n_bridges,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM corp)
           - (SELECT CAST(COUNT(*) AS BIGINT) FROM pb$maxHops)
           AS n_unreach_after,
         (SELECT h FROM prehh) * 1000000 // ($k * (SELECT n FROM nq))
           AS recall_pre_ppm,
         (SELECT h FROM posthh) * 1000000 // ($k * (SELECT n FROM nq))
           AS recall_post_ppm"""
  }
}
