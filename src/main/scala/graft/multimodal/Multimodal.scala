package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Multimodal column support: media payloads ride through the engine as
  * opaque `binary` columns with typed metadata, and decode/feature
  * extraction is a `mapPartitions` seam over the payloads (the Scala
  * analogue of a Pandas-UDF-over-mapInPandas stage: per-partition
  * batched iteration, one decoder instance per partition, no
  * per-row setup cost).
  *
  * The actual codec is NOT available in this container, so
  * [[Multimodal.StubDecoder]] produces a deterministic fake from the
  * payload bytes; the Spark-side plumbing — schema, partitioning,
  * per-partition batching, typed output — is real and tested. Swap
  * [[Decoder]] for a JNI/codec-backed implementation in production.
  */
object Multimodal {

  /** Decoded media features. */
  case class MediaFeatures(doc_id: Long, n_bytes: Long, width: Int,
                           height: Int, avg_luma: Double)

  /** Decoder contract — one instance per partition; implementations
    * must be serializable and thread-safe per task. */
  trait Decoder extends Serializable {
    def decode(payload: Array[Byte]): (Int, Int, Double)
  }

  /** Deterministic stand-in for the real image/audio codec (none is
    * installed here). Derives a fake (width, height, luma) from the
    * payload so tests are stable. */
  object StubDecoder extends Decoder {
    override def decode(b: Array[Byte]): (Int, Int, Double) = {
      // real codec binding goes here (e.g. TwelveMonkeys / ffmpeg JNI)
      val w = 16 + (if (b.length > 0) (b(0) & 0xff) % 240 else 0)
      val h = 16 + (if (b.length > 1) (b(1) & 0xff) % 240 else 0)
      var s = 0L
      var i = 0
      while (i < b.length) { s += (b(i) & 0xff); i += 1 }
      val luma = if (b.length == 0) 0.0 else s.toDouble / b.length
      (w, h, luma)
    }
  }

  /** REAL image codec bound at the same seam: `javax.imageio` (JDK
    * built-in, headless-safe — no dependency beyond the JDK) decodes
    * JPEG/PNG/GIF/BMP payloads. Luma of a pixel is (r+g+b)/3.0 —
    * integer-exact for grayscale sources (r=g=b=v gives 3v/3.0 == v in
    * IEEE double), which is what lets the m6/m7 gates compare decoded
    * values against a closed-form DuckDB oracle. An undecodable
    * payload returns the EXPLICIT failure marker (-1, -1, -1.0) — the
    * C4 discipline: corrupt media must be visible downstream, never a
    * silent zero. ImageIO.read allocates per call; one reader instance
    * per partition is the mapPartitions seam's job, and payload bytes
    * never leave the task. */
  object ImageIoDecoder extends Decoder {
    // ImageIO wraps byte-array streams in a FILE-backed cache by
    // default: every read/write creates and deletes a temp file, which
    // for the small payloads this seam batches costs ~4x the actual
    // codec work (measured: 5000 tiny PNG encode+decode 1.11 s
    // file-cached vs 0.24 s memory-cached, single-threaded — and the
    // temp-dir churn contends across 32 concurrent tasks). Payloads
    // arrive as in-memory byte arrays and leave as byte arrays, so the
    // memory-cached stream is strictly right here. Object-init runs
    // once per JVM wherever the closure deserializes — driver or
    // executor.
    //
    // PROCESS-GLOBAL (round-17 advice): setUseCache mutates shared JVM
    // state — any OTHER ImageIO user in this JVM now fully
    // memory-buffers its streams too (a concern only for huge images
    // read from slow streams, which this engine never does; every
    // codec call in this codebase goes through in-memory byte arrays).
    // An embedder who needs the file-backed cache back can call
    // ImageIO.setUseCache(true) after touching this object — nothing
    // here re-asserts it.
    javax.imageio.ImageIO.setUseCache(false)

    override def decode(b: Array[Byte]): (Int, Int, Double) =
      decodeImage(b) match {
        case Some((w, h, luma)) =>
          (w, h, if (luma.isEmpty) 0.0 else luma.map(_.toDouble).sum / luma.length)
        case None => (-1, -1, -1.0)
      }

    /** Full decode: (width, height, row-major per-pixel integer luma).
      * Reads RAW raster samples, not `getRGB` — getRGB routes every
      * pixel through a colorspace transform to sRGB, which
      * gamma-shifts grayscale values (128 -> ~186) and would silently
      * break value-exact comparisons; raster samples are the decoded
      * bytes as stored. 1-band images yield the sample itself; 3+
      * bands yield (r+g+b)/3 integer luma. None if the payload is not
      * a decodable image; fatal errors (out of memory, stack overflow,
      * linkage) propagate instead of masquerading as a bad payload. */
    def decodeImage(b: Array[Byte]): Option[(Int, Int, Array[Int])] =
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
        if (img == null) None
        else {
          val w = img.getWidth
          val h = img.getHeight
          val raster = img.getRaster
          val bands = raster.getNumBands
          val luma = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              luma(y * w + x) =
                if (bands == 1) raster.getSample(x, y, 0)
                else (raster.getSample(x, y, 0) + raster.getSample(x, y, 1) +
                  raster.getSample(x, y, 2)) / 3
              x += 1
            }
            y += 1
          }
          Some((w, h, luma))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Decoded-pixel perceptual hash (the REAL-codec twin of
    * [[perceptualHashes]]): decode the payload with `ImageIoDecoder`,
    * resample the row-major luma sequence to a 16-cell grid (cell i =
    * luma at position n·i/16), threshold against the integer grid sum
    * (16·cell >= sum — no division), pack 16 bits. Same blocking-key
    * semantics as the byte-grid aHash, but over actual decoded pixels,
    * so re-encoded copies of the same image land on the same hash.
    * Undecodable payloads hash to -1 (the explicit-failure group). */
  def imagePerceptualHashes(media: DataFrame): Dataset[PerceptualHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val b = if (payload == null) Array.emptyByteArray else payload
          ImageIoDecoder.decodeImage(b) match {
            case Some((w, h, luma)) =>
              val n = w * h
              val cells = Array.tabulate(16) { i =>
                if (n == 0) 0 else luma(n * i / 16)
              }
              val s = cells.sum
              var hsh = 0L
              var i = 0
              while (i < 16) {
                if (16 * cells(i) >= s) hsh |= (1L << i)
                i += 1
              }
              PerceptualHash(id, hsh)
            case None => PerceptualHash(id, -1L)
          }
        }
      }
  }

  /** 64-bit DIFFERENCE hash (dHash, Krawetz's gradient hash): decode,
    * resample the luma plane to a 9x8 grid (cell (r,c) = luma at
    * pixel (floor(w*c/9), floor(h*r/8)) — nearest-neighbor, integer-
    * exact, engine-replayable), then bit (r,c) = 1 iff cell(r,c) <
    * cell(r,c+1), packed row-major (bit index r*8+c). Gradient bits
    * capture STRUCTURE where [[imagePerceptualHashes]]' aHash
    * thresholds against the global mean — a bright region that drags
    * the mean saturates aHash's bits, while dHash keeps local detail;
    * the two are the standard complementary blocking keys for image
    * near-dup. Same dedup/banding shape as aHash/SimHash downstream.
    * Undecodable payloads hash to -1 (explicit-failure group). */
  def imageDifferenceHashes(media: DataFrame): Dataset[PerceptualHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val b = if (payload == null) Array.emptyByteArray else payload
          ImageIoDecoder.decodeImage(b) match {
            case Some((w, h, luma)) if w > 0 && h > 0 =>
              def cell(r: Int, c: Int): Int =
                luma((h * r / 8) * w + (w * c / 9))
              var hsh = 0L
              var r = 0
              while (r < 8) {
                var c = 0
                while (c < 8) {
                  if (cell(r, c) < cell(r, c + 1)) hsh |= (1L << (r * 8 + c))
                  c += 1
                }
                r += 1
              }
              PerceptualHash(id, hsh)
            case _ => PerceptualHash(id, -1L)
          }
        }
      }
  }

  /** Resized REAL image row: re-encoded PNG payload + output dims;
    * (-1, -1, empty payload) is the explicit undecodable marker. */
  case class ResizedImage(doc_id: Long, payload: Array[Byte], width: Int,
                          height: Int)

  /** REAL image resize through the codec (the m3 stub's codec-backed
    * twin): decode via [[ImageIoDecoder]], NEAREST-NEIGHBOR downsample
    * by `factor` (output pixel (x, y) = source luma at
    * (factor·x, factor·y) — no interpolation, so every output sample
    * is an input sample and the whole chain stays integer-exact and
    * engine-reproducible), re-encode as 8-bit grayscale PNG. The m8
    * gate decodes the re-encoded payload AGAIN and compares against a
    * closed-form oracle — pinning decode -> transform -> encode ->
    * decode end to end. Runs in the same mapPartitions seam as every
    * codec stage; output payloads shrink ~factor², so downstream
    * stages can size partitions by row count again. */
  def resizeImages(media: DataFrame, factor: Int): Dataset[ResizedImage] = {
    require(factor >= 1, "factor must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val b = if (payload == null) Array.emptyByteArray else payload
          ImageIoDecoder.decodeImage(b) match {
            case Some((w, h, luma)) =>
              val nw = math.max(1, w / factor)
              val nh = math.max(1, h / factor)
              val img = new java.awt.image.BufferedImage(
                nw, nh, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
              val raster = img.getRaster
              var y = 0
              while (y < nh) {
                var x = 0
                while (x < nw) {
                  raster.setSample(x, y, 0, luma(y * factor * w + x * factor))
                  x += 1
                }
                y += 1
              }
              val out = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(img, "png", out)
              ResizedImage(id, out.toByteArray, nw, nh)
            case None => ResizedImage(id, Array.emptyByteArray, -1, -1)
          }
        }
      }
  }

  /** Wrap a text/binary corpus as media rows: (doc_id, payload, meta). */
  def toMedia(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(length(col("text").cast("binary")).cast("long").as("n_bytes"),
        col("source"), lit("text/plain").as("mime")).as("meta"))

  /** The decode stage: per-partition batched decode of payloads.
    * Partition count should track payload volume, not row count —
    * callers repartition by byte size before heavy codecs. */
  def decodeFeatures(media: DataFrame, decoder: Decoder = StubDecoder): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val bytes = if (payload == null) Array.emptyByteArray else payload
          val (w, h, luma) = decoder.decode(bytes)
          MediaFeatures(id, bytes.length.toLong, w, h, luma)
        }
      }
  }

  case class LumaHistogram(doc_id: Long, n_px: Long, b0: Long, b1: Long,
                           b2: Long, b3: Long)

  /** Per-image 4-bin luma histogram over REAL decoded pixels (the
    * channel-statistics stage a vision-data pipeline runs for
    * exposure/contrast filtering): decode with [[ImageIoDecoder]],
    * bucket each pixel by value >> 6 (bins [0,64) [64,128) [128,192)
    * [192,256)), exact integer counts. Same mapPartitions codec seam
    * as [[decodeFeatures]] — one pass, no shuffle; undecodable
    * payloads emit the explicit n_px = -1 marker row (never silently
    * dropped). */
  def lumaHistograms(media: DataFrame): Dataset[LumaHistogram] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          ImageIoDecoder.decodeImage(
            if (payload == null) Array.emptyByteArray else payload) match {
            case None => LumaHistogram(id, -1L, 0L, 0L, 0L, 0L)
            case Some((_, _, luma)) =>
              val bins = new Array[Long](4)
              var i = 0
              while (i < luma.length) {
                bins((luma(i) >> 6) & 3) += 1L
                i += 1
              }
              LumaHistogram(id, luma.length.toLong,
                bins(0), bins(1), bins(2), bins(3))
          }
        }
      }
  }

  /** Perceptual hash row. */
  case class PerceptualHash(doc_id: Long, phash: Long)

  /** The perceptual-hash stage (aHash shape): resample the decoded
    * payload to a 16-cell grid (cell i = the byte at offset
    * floor(len·i/16)), threshold each cell against the grid mean, pack
    * the bits. Near-identical media land on the SAME hash, so
    * perceptual dedup is a plain groupBy on `phash` — the multimodal
    * twin of d1's content-hash dedup, and the blocking key for a
    * hamming-distance refinement (same banding as SimHash). The
    * threshold is the integer form 16·cell >= sum(cells) — no
    * division, engine-exact. A real image codec swaps the byte grid
    * for decoded luma; the bit-packing and dedup shape are identical
    * (MultimodalSpec pins this seam against the m4 gate's column
    * twin). */
  def perceptualHashes(media: DataFrame): Dataset[PerceptualHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val b = if (payload == null) Array.emptyByteArray else payload
          val n = b.length
          val cells = Array.tabulate(16) { i =>
            if (n == 0) 0 else b(n * i / 16) & 0xff
          }
          val s = cells.sum
          var h = 0L
          var i = 0
          while (i < 16) {
            if (16 * cells(i) >= s) h |= (1L << i)
            i += 1
          }
          PerceptualHash(id, h)
        }
      }
  }

  /** Resized media row: payload after the (stub) resample plus the
    * factor applied. */
  case class ResizedMedia(doc_id: Long, payload: Array[Byte], factor: Int,
                          n_bytes: Long)

  /** The resize stage: per-partition batched downsample to at most
    * `maxBytes` per payload. The stub "codec" keeps every factor-th
    * byte — deterministic, size-bounded, and shape-identical to a real
    * image/audio resampler (payload in, smaller payload out). Output
    * payload size is bounded, so downstream stages can size partitions
    * by row count again. */
  def resizePayloads(media: DataFrame, maxBytes: Int): Dataset[ResizedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val bytes = if (payload == null) Array.emptyByteArray else payload
          val factor = math.max(1, (bytes.length + maxBytes - 1) / maxBytes)
          // real resampler binding goes here (ffmpeg scale / imageio)
          val out = new Array[Byte]((bytes.length + factor - 1) / factor)
          var i = 0
          while (i < out.length) { out(i) = bytes(i * factor); i += 1 }
          ResizedMedia(id, out, factor, out.length.toLong)
        }
      }
  }

  /** Per-frame audio features. All-integer so any engine replaying the
    * waveform formula agrees bit-for-bit. */
  case class AudioFrame(doc_id: Long, frame_idx: Long, n_samples: Long,
                        sum_abs: Long, peak: Long, zero_crossings: Long)

  /** AUDIO at the media seam: decode signed-16-bit little-endian PCM
    * payloads, window into `frameSize`-sample frames (the STFT/VAD
    * framing every audio pipeline starts with), and emit per-frame
    * energy (sum |s|), peak (max |s|) and zero-crossing counts — the
    * classic silence/voicing features, all integer-exact. The tail
    * frame is partial (`n_samples < frameSize`), never padded: padding
    * invents energy.
    *
    * A payload of odd byte length is not valid s16le — it emits the
    * EXPLICIT failure marker row (frame_idx = -1, all features -1),
    * m6's corrupt-media discipline. Zero crossings count sign flips
    * between CONSECUTIVE samples within a frame (sample >= 0 is
    * "positive"); frames never see their neighbor's last sample, so
    * frames are independently recomputable — what makes this
    * embarrassingly parallel at the seam.
    *
    * This is the "decode" tier a real codec replaces (MP3/OGG →
    * ffmpeg/JNI); raw-PCM framing itself is pure JVM arithmetic, so
    * unlike images no codec seam stub is needed — the gate runs the
    * REAL transform. */
  def audioFrameFeatures(media: DataFrame, frameSize: Int = 256): Dataset[AudioFrame] = {
    require(frameSize > 0)
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          val b = if (payload == null) Array.emptyByteArray else payload
          if (b.length % 2 != 0) {
            Iterator.single(AudioFrame(id, -1L, -1L, -1L, -1L, -1L))
          } else {
            val n = b.length / 2
            val nFrames = (n + frameSize - 1) / frameSize
            (0 until nFrames).iterator.map { f =>
              val start = f * frameSize
              val end = math.min(start + frameSize, n)
              var sumAbs = 0L
              var peak = 0L
              var zc = 0L
              var prevNeg = false
              var i = start
              while (i < end) {
                // s16le: low byte unsigned, high byte carries the sign
                val v = ((b(2 * i + 1) << 8) | (b(2 * i) & 0xff))
                val a = math.abs(v).toLong
                sumAbs += a
                if (a > peak) peak = a
                val neg = v < 0
                if (i > start && neg != prevNeg) zc += 1
                prevNeg = neg
                i += 1
              }
              AudioFrame(id, f.toLong, (end - start).toLong, sumAbs, peak, zc)
            }
          }
        }
      }
  }

  /** Energy-threshold voice-activity segmentation over
    * [[audioFrameFeatures]] output — the classic first-pass VAD
    * (frame active iff `sum_abs >= threshold`, consecutive active
    * frames merge into one segment), which is what turns raw audio
    * into the utterance-sized pieces a transcription/training
    * pipeline actually ingests.
    *
    * Segments form by the gaps-and-islands identity
    * (`frame_idx - row_number()` is constant exactly within a
    * consecutive active run) — one doc-keyed window + one aggregation,
    * never a self-join; the frame table is already
    * corpus-ordered-by-construction so the window sort is cheap.
    * Corrupt-payload marker rows (frame_idx = -1) are excluded:
    * corruption is m6's explicit-failure lane, not "silence".
    *
    * Output per segment: (doc_id, start_frame, end_frame, n_frames,
    * energy) with `energy` the exact int64 sum of the member frames'
    * `sum_abs`. */
  def vadSegments(frames: DataFrame, threshold: Long): DataFrame = {
    val act = frames.filter(col("frame_idx") >= 0 &&
      col("sum_abs") >= threshold)
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    act.withColumn("__grp", col("frame_idx") - row_number().over(w))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"),
        sum(col("sum_abs")).as("energy"))
      .select("doc_id", "start_frame", "end_frame", "n_frames", "energy")
  }
}
