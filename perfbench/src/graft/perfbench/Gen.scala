package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. It writes input files only (JSON for the
  * Strava workloads, parquet plus a planted-pair CSV for dedup, parquet
  * for ANN); the engine receives nothing else. The same seed gives
  * byte-identical files: every value comes from a `Random` seeded from
  * the workload seed (and, per activity, its id), and every number is
  * formatted from integers, never from locale- or JIT-dependent
  * floating-point printing.
  */
object Gen {

  /** What to generate for one activity. */
  final case class ActPlan(id: Long, user: Int, startEpoch: Long, duration: Int,
                           valid: Boolean = true, bypass: Boolean = false)

  /** What the output checks need to know about a generated activity. */
  final case class ActInfo(id: Long, valid: Boolean, bypass: Boolean, lastTime: Long, samples: Int)

  val users: Seq[(Long, String)] = Seq((1001L, "rider1"), (1002L, "rider2"), (1003L, "runner3"))
  /** rider2 records no power: its streams have no `watts` channel. */
  private val noPowerUser = 1

  /** Appends `v / 10^dec` with exactly `dec` decimals. */
  private def fx(sb: java.lang.StringBuilder, v: Long, dec: Int): Unit = {
    if (dec == 0) { sb.append(v); return }
    val scale = math.pow(10, dec).toLong
    if (v < 0) sb.append('-')
    val a = math.abs(v)
    sb.append(a / scale).append('.')
    val frac = (a % scale).toString
    var pad = dec - frac.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(frac)
  }

  private def isoUtc(epoch: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochSecond(epoch))

  private def clamp(v: Long, lo: Long, hi: Long): Long = math.max(lo, math.min(hi, v))

  final class Sink(f: File) {
    private val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    def line(s: CharSequence): Unit = { w.append(s); w.append('\n') }
    def close(): Unit = w.close()
  }

  /** Writes one activity document and one stream document per plan:
    * `~1 Hz` samples with occasional 2-10 s gaps, last `time` =
    * duration - 1. Each plan goes to every (activities, streams) sink
    * pair whose predicate accepts it. */
  def strava(seed: Long, plans: Seq[ActPlan],
             outs: Seq[(Sink, Sink, ActPlan => Boolean)]): Seq[ActInfo] =
    plans.map { p =>
      val r = new Random(seed * 1000003L + p.id)
      val (athlete, username) = users(p.user)
      val times = Array.newBuilder[Long]
      var t = 0L
      times += t
      while (t < p.duration - 1) {
        t = math.min(p.duration - 1L, t + (if (r.nextDouble() < 0.04) 2 + r.nextInt(9) else 1))
        times += t
      }
      val ts = times.result()
      val n = ts.length
      // random walks in fixed point: hr bpm, watts, speed cm/s,
      // cadence rpm, altitude dm, distance dm, temp C, grade 0.1 %,
      // lat/lng 1e-5 degrees
      var hr = 90L + r.nextInt(30); var w = 120L + r.nextInt(80)
      var v = 300L + r.nextInt(400); var cad = 70L + r.nextInt(20)
      var alt = 200L + r.nextInt(3000); var dist = 0L
      val temp = 5L + r.nextInt(25); var grade = 0L
      var lat = 5_150_000L + r.nextInt(20000); var lng = -10_000L + r.nextInt(20000)
      val startLat = lat; val startLng = lng
      val s = new java.lang.StringBuilder(n * 110)
      val cols = Array.fill(11)(new java.lang.StringBuilder(n * 8))
      var maxHr = 0L; var sumHr = 0L; var maxW = 0L; var sumW = 0L; var maxV = 0L; var sumV = 0L
      var elev = 0L
      var i = 0
      while (i < n) {
        val step = if (i == 0) 1L else ts(i) - ts(i - 1)
        hr = clamp(hr + r.nextInt(7) - 3, 60, 195)
        w = if (r.nextDouble() < 0.03) 0L else clamp(w + r.nextInt(41) - 20, 0, 650)
        v = clamp(v + r.nextInt(61) - 30, 0, 1600)
        cad = clamp(cad + r.nextInt(5) - 2, 0, 120)
        grade = clamp(grade + r.nextInt(11) - 5, -150, 150)
        val dAlt = (grade * step) / 10; if (dAlt > 0) elev += dAlt
        alt += dAlt
        dist += v * step / 10
        lat += r.nextInt(7) - 3; lng += r.nextInt(7) - 3
        maxHr = math.max(maxHr, hr); sumHr += hr; maxW = math.max(maxW, w); sumW += w
        maxV = math.max(maxV, v); sumV += v
        if (i > 0) cols.foreach(_.append(','))
        cols(0).append(ts(i))
        cols(1).append('['); fx(cols(1), lat, 5); cols(1).append(','); fx(cols(1), lng, 5); cols(1).append(']')
        fx(cols(2), dist, 1); fx(cols(3), alt, 1); fx(cols(4), v, 2)
        cols(5).append(hr); cols(6).append(cad); cols(7).append(w); cols(8).append(temp)
        fx(cols(9), grade, 1)
        cols(10).append(v > 50)
        i += 1
      }
      s.append("{\"activity_id\":").append(p.id)
      val names = Seq("time", "latlng", "distance", "altitude", "velocity_smooth",
        "heartrate", "cadence", "watts", "temp", "grade_smooth", "moving")
      names.zip(cols).foreach { case (nm, c) =>
        if (!(nm == "watts" && p.user == noPowerUser))
          s.append(",\"").append(nm).append("\":[").append(c).append(']')
      }
      s.append('}')

      val a = new java.lang.StringBuilder(600)
      val kind = if (p.user == 2) "Run" else "Ride"
      a.append("{\"id\":").append(p.id)
        .append(",\"name\":\"").append(kind).append(' ').append(p.id).append('"')
        .append(",\"type\":\"").append(kind).append('"')
      if (p.valid) a.append(",\"start_date\":\"").append(isoUtc(p.startEpoch)).append('"')
      a.append(",\"athlete\":{\"id\":").append(athlete).append('}')
        .append(",\"username\":\"").append(username).append('"')
        .append(",\"total_elevation_gain\":"); fx(a, elev, 1)
      a.append(",\"distance\":"); fx(a, dist, 1)
      a.append(",\"moving_time\":").append(p.duration)
        .append(",\"elapsed_time\":").append(if (p.bypass) 100000L + p.duration else p.duration.toLong)
        .append(",\"commute\":").append(r.nextInt(5) == 0)
        .append(",\"gear_id\":\"g").append(athlete).append('"')
        .append(",\"map\":{\"summary_polyline\":\"")
      (0 until 24).foreach(_ => a.append(('a' + r.nextInt(26)).toChar))
      a.append("\"},\"start_latlng\":[")
      fx(a, startLat, 5); a.append(','); fx(a, startLng, 5)
      a.append("],\"end_latlng\":["); fx(a, lat, 5); a.append(','); fx(a, lng, 5)
      a.append("],\"max_speed\":"); fx(a, maxV, 2)
      a.append(",\"average_speed\":"); fx(a, sumV / n, 2)
      if (p.user != noPowerUser) {
        a.append(",\"max_watts\":").append(maxW).append(".0")
        a.append(",\"average_watts\":").append(sumW / n).append(".0")
      }
      a.append(",\"max_heartrate\":").append(maxHr).append(".0")
      a.append(",\"average_heartrate\":").append(sumHr / n).append(".0}")

      outs.foreach { case (actSink, streamSink, take) =>
        if (take(p)) { actSink.line(a); streamSink.line(s) }
      }
      ActInfo(p.id, p.valid, p.bypass, ts.last, n)
    }

  /** Writes `rows` as ONE parquet file at `target` (no part-file UUIDs,
    * no _SUCCESS or checksum files), so the bytes depend only on the rows. */
  def parquetFile(spark: SparkSession, rows: Seq[Row], schema: StructType, target: File): Unit = {
    val tmp = new File(target.getParentFile, target.getName + ".tmp")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(part.length == 1, s"expected one parquet part in $tmp, got ${part.length}")
    Files.move(part.head.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
    Io.deleteTree(tmp)
  }

  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Seed of the fixed base corpora (documents, embeddings): like the
    * sf0.1 tables the gates run on, the base does not change with the
    * workload seed; the seeded part is the perturbed copies planted on
    * top, so every seed poses a problem of the same difficulty. */
  val baseSeed = 42L

  /** Planted near-duplicate corpus: `base` fixed documents of 8-100
    * words over a 6,000-word vocabulary; the seed picks `groups` of them
    * and gives each one or two copies with a per-copy edit rate of
    * 2-20 % (substitute, insert or delete a word). Document order is
    * shuffled before ids are assigned. Returns the planted (original,
    * copy) id pairs and every planted group (original first). */
  def documents(spark: SparkSession, seed: Long, base: Int, groups: Int,
                docsFile: File, pairsFile: File): (Seq[(Long, Long)], Seq[Seq[Long]]) = {
    val b = new Random(baseSeed)
    val vocab = Array.fill(6000) {
      val len = 3 + b.nextInt(7)
      new String(Array.fill(len)(('a' + b.nextInt(26)).toChar))
    }
    def wordFrom(rnd: Random): String = vocab((vocab.length * math.pow(rnd.nextDouble(), 1.3)).toInt)
    val originals = Array.fill(base)(Array.fill(8 + b.nextInt(93))(wordFrom(b)))
    val r = new Random(seed)
    def word(): String = wordFrom(r)
    val texts = scala.collection.mutable.ArrayBuffer[Array[String]](originals.toIndexedSeq: _*)
    val groupIdx = r.shuffle((0 until base).toIndexedSeq).take(groups).map { g =>
      val copies = 1 + (if (r.nextInt(3) == 0) 1 else 0)
      g +: (0 until copies).map { _ =>
        val rate = 0.02 + 0.18 * r.nextDouble()
        val out = scala.collection.mutable.ArrayBuffer[String]()
        originals(g).foreach { wd =>
          if (r.nextDouble() < rate) r.nextInt(3) match {
            case 0 => out += word()
            case 1 => out += wd; out += word()
            case _ => ()
          } else out += wd
        }
        texts += out.toArray
        texts.length - 1
      }
    }
    val order = r.shuffle((0 until texts.length).toIndexedSeq)
    val idOf = new Array[Long](texts.length)
    order.zipWithIndex.foreach { case (slot, id) => idOf(slot) = id.toLong }
    val langs = Seq("en", "en", "en", "fr", "de", "es", "zh")
    val rows = order.map { slot =>
      val text = texts(slot).mkString(" ")
      Row(idOf(slot), text, langs(r.nextInt(langs.length)), s"src${r.nextInt(10)}",
        text.length.toLong)
    }
    parquetFile(spark, rows, documentSchema, docsFile)
    val groupIds = groupIdx.map(_.map(idOf(_)))
    val pairs = groupIds.flatMap(g => g.tail.map(c => (math.min(g.head, c), math.max(g.head, c))))
    val sink = new Sink(pairsFile)
    sink.line("doc_a,doc_b")
    pairs.foreach { case (a, b) => sink.line(s"$a,$b") }
    sink.close()
    (pairs, groupIds)
  }

  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** `base` fixed 64-dim vectors around 10 label centres, then `copies`
    * seeded perturbed copies of each (ids after the base block), in the
    * sf0.1 `embeddings` schema. */
  def embeddings(spark: SparkSession, seed: Long, base: Int, copies: Int, file: File): Unit = {
    val b = new Random(baseSeed)
    val dims = 64
    val centres = Array.fill(10)(Array.fill(dims)(b.nextGaussian()))
    val baseVecs = Array.fill(base) {
      val label = b.nextInt(10)
      (label, Array.tabulate(dims)(d => (0.3 * centres(label)(d) + b.nextGaussian()).toFloat))
    }
    val r = new Random(seed)
    val rows = baseVecs.indices.map(i => Row(i.toLong, baseVecs(i)._2.toSeq, baseVecs(i)._1)) ++
      (1 to copies).flatMap { c =>
        baseVecs.indices.map { i =>
          val (label, v) = baseVecs(i)
          Row((c * base + i).toLong, v.map(x => (x + 0.1 * r.nextGaussian()).toFloat).toSeq, label)
        }
      }
    parquetFile(spark, rows, embeddingSchema, file)
  }
}
