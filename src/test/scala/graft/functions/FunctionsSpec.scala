package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, Tables, TestSpark}

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("codegen DotProduct matches hand computation") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val got = df.select(
      Similarity.dot(col("a"), col("b")).as("d"),
      Similarity.norm(col("a")).as("na"),
      Similarity.cosine(col("a"), col("b")).as("c"))
      .as[(Double, Double, Double)].collect()(0)
    assert(got._1 == 32.0)
    assert(math.abs(got._2 - math.sqrt(14.0)) < 1e-12)
    assert(math.abs(got._3 - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))) < 1e-12)
  }

  test("identical vectors have cosine 1") {
    val df = Seq((Seq(0.5f, -0.25f), Seq(0.5f, -0.25f))).toDF("a", "b")
    val c = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }
}

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("word shingles") {
    val df = Seq("a b c d").toDF("text")
    val got = df.select(TextAnalysis.wordShingles(
      TextAnalysis.words(col("text")), 3)).as[Seq[String]].collect()(0)
    assert(got == Seq("a b c", "b c d"))
  }

  test("short documents produce no shingles (no descending-sequence trap)") {
    val df = Seq("a b").toDF("text")
    val got = df.select(TextAnalysis.wordShingles(
      TextAnalysis.words(col("text")), 3)).as[Seq[String]].collect()(0)
    assert(got.isEmpty)
  }

  test("char 5-grams of abcdef are abcde and bcdef (ngram_overlap)") {
    val df = Seq(("abcdef", "abcdef"), ("abcdef", "abcde"), ("abcdef", "bcdef"))
      .toDF("a", "b")
    val got = df.select(NgramOverlap.overlap(col("a"), col("b"), 5).as("o"))
      .select("o.inter", "o.union").as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 2L), (1L, 2L), (1L, 2L)))
  }

  test("codegen WordGrams equals the HOF spelling on the corpus") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val ws = TextAnalysis.words(col("text"))
    def hof(k: Int) = when(size(ws) >= k,
      transform(sequence(lit(1), size(ws) - (k - 1)),
        i => concat_ws(" ", (0 until k).map(o => element_at(ws, i + lit(o))): _*)))
      .otherwise(array().cast("array<string>"))
    Seq(2, 3, 8).foreach { k =>
      val diff = docs.select(
        TextAnalysis.wordShingles(ws, k).as("fast"), hof(k).as("slow"))
        .filter(col("fast") =!= col("slow")).count()
      assert(diff == 0, s"k=$k: codegen grams diverge from the HOF form")
    }
  }

  test("marker count") {
    val df = Seq("the cat the dog").toDF("text")
    val got = df.select(TextAnalysis.markerCount(
      TextAnalysis.words(col("text")), Seq("the", "a"))).as[Long].collect()(0)
    assert(got == 2L)
  }
}

class UnitVectorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.functions.Similarity

  test("unit vectors have norm 1 and preserve cosine") {
    val vecs = Seq(
      (1L, Seq(3.0, 4.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(-2.0, 7.5)),
      (4L, Seq(0.1, 0.2, 0.3, 0.4)))
    val df = vecs.toDF("id", "v")
    val norms = df.select(Similarity.norm(Similarity.unit(org.apache.spark.sql.functions.col("v"))))
      .as[Double].collect()
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-12))
    // pairwise: dot of units == classic cosine (same dims only)
    val pairs = df.as("a").crossJoin(df.as("b"))
      .filter(org.apache.spark.sql.functions.expr("size(a.v) = size(b.v) AND a.id < b.id"))
      .select(
        Similarity.dot(Similarity.unit(org.apache.spark.sql.functions.col("a.v")),
          Similarity.unit(org.apache.spark.sql.functions.col("b.v"))).as("viaUnit"),
        Similarity.cosine(org.apache.spark.sql.functions.col("a.v"),
          org.apache.spark.sql.functions.col("b.v")).as("classic"))
      .as[(Double, Double)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (u, c) => assert(math.abs(u - c) < 1e-12) }
  }
}

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("perceptual-hash seam matches the m4 gate's column twin") {
    import graft.multimodal.Multimodal
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text", "lang", "source")
    val viaSeam = Multimodal.perceptualHashes(Multimodal.toMedia(docs))
      .collect().map(h => h.doc_id -> h.phash).toMap
    val viaGate = SparkEntry.queries("m4_perceptual_dup")(spark, "/root/testdata/sf0.001")
    // the gate groups by phash; regroup the seam output the same way
    val seamGroups = viaSeam.groupBy(_._2)
      .map { case (ph, xs) => (ph, xs.size.toLong, xs.keys.min) }.toSet
    val gateGroups = viaGate.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(seamGroups == gateGroups)
    // non-vacuous: at least one multi-doc perceptual group exists
    assert(seamGroups.exists(_._2 > 1L))
  }

  test("media wrap + partition-batched decode plumbing") {
    import graft.multimodal.Multimodal
    val docs = Seq((1L, "hello world", "src0"), (2L, "", "src1"))
      .toDF("doc_id", "text", "source")
    val media = Multimodal.toMedia(docs)
    assert(media.schema.fieldNames.toSeq == Seq("doc_id", "payload", "meta"))
    val feats = Multimodal.decodeFeatures(media).collect().map(f => f.doc_id -> f).toMap
    assert(feats(1L).n_bytes == 11L)
    assert(feats(2L).n_bytes == 0L)
    // deterministic stub: 'h' = 0x68 = 104 -> width 16 + 104 % 240
    assert(feats(1L).width == 16 + 104 % 240)
    assert(feats(1L).avg_luma > 0.0)
  }

  test("ImageIO decoder: PNG round-trip is value-exact, failure is explicit") {
    import graft.multimodal.Multimodal
    val id = 7L
    val png = graft.GateFixtures.syntheticPng(id)
    val dec = Multimodal.ImageIoDecoder.decodeImage(png)
    assert(dec.isDefined)
    val (w, h, luma) = dec.get
    assert(w == (8 + id % 5).toInt && h == (8 + id % 3).toInt)
    // raw raster samples equal the render formula bit-for-bit — the
    // getRGB path would gamma-shift grayscale (128 -> ~186) and fail
    for (y <- 0 until h; x <- 0 until w)
      assert(luma(y * w + x) == ((id + 11 * x + 17 * y) % 256).toInt)
    val (dw, dh, avg) = Multimodal.ImageIoDecoder.decode(png)
    assert(dw == w && dh == h)
    assert(math.abs(avg - luma.map(_.toDouble).sum / luma.length) < 1e-12)
    // undecodable payload -> the explicit failure marker, never a
    // silent zero (C4 discipline)
    assert(Multimodal.ImageIoDecoder.decode("not an image".getBytes) == ((-1, -1, -1.0)))
  }

  test("ImageIO decoder: a fatal codec error propagates, a bad payload is None") {
    import javax.imageio.{ImageReadParam, ImageReader, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadata
    import javax.imageio.spi.{IIORegistry, ImageReaderSpi}
    import javax.imageio.stream.ImageInputStream
    import graft.multimodal.Multimodal
    val magic = "FATALIMG".getBytes("US-ASCII")
    // a codec plugin claiming payloads that start with `magic`, whose
    // reader dies with a StackOverflowError (a fatal JVM error, not a
    // decode failure)
    class FatalReader(spi: ImageReaderSpi) extends ImageReader(spi) {
      def getNumImages(allowSearch: Boolean): Int = 1
      def getWidth(i: Int): Int = 1
      def getHeight(i: Int): Int = 1
      def getImageTypes(i: Int): java.util.Iterator[ImageTypeSpecifier] =
        java.util.Collections.emptyIterator()
      def getStreamMetadata(): IIOMetadata = null
      def getImageMetadata(i: Int): IIOMetadata = null
      def read(i: Int, p: ImageReadParam): java.awt.image.BufferedImage =
        throw new StackOverflowError("codec recursion")
    }
    val spi = new ImageReaderSpi() {
      inputTypes = Array(classOf[ImageInputStream])
      def getDescription(l: java.util.Locale): String = "fatal test codec"
      def createReaderInstance(ext: Object): ImageReader = new FatalReader(this)
      def canDecodeInput(src: Object): Boolean = src match {
        case in: ImageInputStream =>
          val head = new Array[Byte](magic.length)
          in.mark()
          try in.read(head) == magic.length && head.sameElements(magic)
          finally in.reset()
        case _ => false
      }
    }
    val registry = IIORegistry.getDefaultInstance
    registry.registerServiceProvider(spi, classOf[ImageReaderSpi])
    try {
      intercept[StackOverflowError] {
        Multimodal.ImageIoDecoder.decodeImage(magic ++ Array[Byte](1, 2, 3))
      }
      // ordinary decode failures stay the explicit None: no codec
      // claims garbage, and a truncated PNG makes the PNG reader throw
      assert(Multimodal.ImageIoDecoder.decodeImage("garbage".getBytes).isEmpty)
      val png = graft.GateFixtures.syntheticPng(7L)
      assert(Multimodal.ImageIoDecoder.decodeImage(png.take(40)).isEmpty)
    } finally registry.deregisterServiceProvider(spi, classOf[ImageReaderSpi])
  }

  test("decoded-pixel perceptual hashes are formula-exact; corrupt groups at -1") {
    import graft.multimodal.Multimodal
    val media = Seq(
      (1L, graft.GateFixtures.syntheticPng(1L)),
      (16L, graft.GateFixtures.syntheticPng(16L)),
      (99L, "corrupt bytes".getBytes))
      .toDF("doc_id", "payload")
    val hashes = Multimodal.imagePerceptualHashes(media).collect()
      .map(p => p.doc_id -> p.phash).toMap
    assert(hashes(99L) == -1L)
    def phashOf(id: Long): Long = {
      val w = (8 + id % 5).toInt; val h = (8 + id % 3).toInt; val n = w * h
      val cells = Array.tabulate(16) { i =>
        val p = n * i / 16
        ((id + 11 * (p % w) + 17 * (p / w)) % 256).toInt
      }
      val s = cells.sum
      (0 until 16).map(i => if (16 * cells(i) >= s) 1L << i else 0L).sum
    }
    assert(hashes(1L) == phashOf(1L))
    assert(hashes(16L) == phashOf(16L))
  }

  test("dHash: known-vector replay, undecodable -1, and shift invariance") {
    import graft.multimodal.Multimodal
    val media = Seq(
      (1L, graft.GateFixtures.syntheticPng(1L)),
      (16L, graft.GateFixtures.syntheticPng(16L)),
      (99L, "corrupt bytes".getBytes))
      .toDF("doc_id", "payload")
    val hashes = Multimodal.imageDifferenceHashes(media).collect()
      .map(p => p.doc_id -> p.phash).toMap
    assert(hashes(99L) == -1L)
    def dhashOf(id: Long): Long = {
      val w = (8 + id % 5).toInt; val h = (8 + id % 3).toInt
      def cell(r: Int, c: Int): Long =
        (id + 11L * (w * c / 9) + 17L * (h * r / 8)) % 256
      (for (r <- 0 until 8; c <- 0 until 8 if cell(r, c) < cell(r, c + 1))
        yield 1L << (r * 8 + c)).foldLeft(0L)(_ | _)
    }
    assert(hashes(1L) == dhashOf(1L))
    assert(hashes(16L) == dhashOf(16L))
    // gradient bits are invariant under a uniform brightness shift
    // (no wrap): +40 on a <=215-max image leaves every comparison —
    // and hence the hash — unchanged
    def png(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, f(x, y))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val base = (x: Int, y: Int) => (x * 13 + y * 7) % 200
    val shifted = Seq(
      (1L, png(9, 8, base)),
      (2L, png(9, 8, (x, y) => base(x, y) + 40)))
      .toDF("doc_id", "payload")
    val hs = Multimodal.imageDifferenceHashes(shifted).collect()
      .map(p => p.doc_id -> p.phash).toMap
    assert(hs(1L) == hs(2L), "uniform brightness shift must not move the dHash")
  }

  test("real image resize: nearest-neighbor samples survive the re-encode") {
    import graft.multimodal.Multimodal
    val id = 13L
    val media = Seq((id, graft.GateFixtures.syntheticPng(id)),
      (99L, "corrupt".getBytes)).toDF("doc_id", "payload")
    val out = Multimodal.resizeImages(media, 2).collect()
      .map(r => r.doc_id -> r).toMap
    // corrupt payload -> explicit marker row
    assert(out(99L).width == -1 && out(99L).payload.isEmpty)
    val w = (8 + id % 5).toInt; val h = (8 + id % 3).toInt
    assert(out(id).width == w / 2 && out(id).height == h / 2)
    // the re-encoded payload decodes back to exactly the even-coordinate
    // source samples — decode -> transform -> encode -> decode is exact
    val dec = Multimodal.ImageIoDecoder.decodeImage(out(id).payload)
    assert(dec.isDefined)
    val (rw, rh, luma) = dec.get
    assert(rw == w / 2 && rh == h / 2)
    for (y <- 0 until rh; x <- 0 until rw)
      assert(luma(y * rw + x) == ((id + 11 * (2 * x) + 17 * (2 * y)) % 256).toInt)
  }

  test("audio framing: s16le decode exact, partial tail, corrupt marker") {
    import graft.multimodal.Multimodal
    // 5 samples: +300, -300, 0, -1, +1 — zero counts as non-negative,
    // so the sign sequence is +,-,+,-,+ = 4 crossings
    def s16le(vs: Seq[Int]): Array[Byte] = vs.flatMap(v =>
      Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)).toArray
    val media = Seq(
      (1L, s16le(Seq(300, -300, 0, -1, 1))),
      (2L, s16le((1 to 300).map(i => if (i % 2 == 0) i else -i))),
      (3L, Array[Byte](1, 2, 3))) // odd length: not s16le
      .toDF("doc_id", "payload")
    val out = Multimodal.audioFrameFeatures(media, 256).collect()
      .groupBy(_.doc_id)

    val f1 = out(1L).head
    assert(out(1L).length == 1)
    assert((f1.n_samples, f1.sum_abs, f1.peak, f1.zero_crossings) ==
      ((5L, 602L, 300L, 4L)))

    // 300 samples at frame 256 -> full frame + 44-sample tail; the
    // alternating signs cross at every step WITHIN each frame
    val Seq(a, b) = out(2L).sortBy(_.frame_idx).toSeq
    assert(a.n_samples == 256L && b.n_samples == 44L)
    assert(a.zero_crossings == 255L && b.zero_crossings == 43L)
    assert(b.peak == 300L)
    // frames partition the energy: no sample counted twice or dropped
    assert(a.sum_abs + b.sum_abs == (1 to 300).map(_.toLong).sum)

    // corrupt (odd bytes) -> the explicit marker row, never silence
    assert(out(3L).toSeq == Seq(
      Multimodal.AudioFrame(3L, -1L, -1L, -1L, -1L, -1L)))
  }

  test("vad segments: islands merge, gaps split, corrupt markers excluded") {
    import graft.multimodal.Multimodal
    // frames: doc 1 actives at 0,1 (merge), silent 2, active 3;
    // doc 2 all silent; doc 3 corrupt marker only
    val frames = Seq(
      (1L, 0L, 256L, 50000L, 900L, 10L), (1L, 1L, 256L, 60000L, 900L, 10L),
      (1L, 2L, 256L, 100L, 15L, 2L), (1L, 3L, 256L, 70000L, 900L, 10L),
      (2L, 0L, 256L, 10L, 3L, 1L),
      (3L, -1L, -1L, -1L, -1L, -1L)
    ).toDF("doc_id", "frame_idx", "n_samples", "sum_abs", "peak",
      "zero_crossings")
    val got = Multimodal.vadSegments(frames, 10000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === Set(
      (1L, 0L, 1L, 2L, 110000L),
      (1L, 3L, 3L, 1L, 70000L)))
  }

  test("resize stage bounds payload size and keeps every factor-th byte") {
    import graft.multimodal.Multimodal
    val docs = Seq((1L, "abcdefghij", "s"), (2L, "xy", "s"), (3L, "", "s"))
      .toDF("doc_id", "text", "source")
    val out = Multimodal.resizePayloads(Multimodal.toMedia(docs), maxBytes = 4)
      .collect().map(r => r.doc_id -> r).toMap
    // 10 bytes at cap 4 -> factor 3, keeps indices 0,3,6,9
    assert(out(1L).factor == 3)
    assert(new String(out(1L).payload) == "adgj")
    assert(out.values.forall(_.n_bytes <= 4))
    // under the cap -> untouched
    assert(out(2L).factor == 1 && new String(out(2L).payload) == "xy")
    assert(out(3L).n_bytes == 0L)
  }

  test("sequence packing invariants: tokens conserved, sequences full") {
    import graft.functions.TextQuality
    // shard A: 3+510+5 tokens over capacity 512 -> doc 3 spans seqs 0/1;
    // shard B: exactly one capacity -> one full seq
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, words(3), "A"), (3L, words(510), "A"), (5L, words(5), "A"),
      (2L, words(512), "B"))
      .toDF("doc_id", "text", "lang")
    val packed = TextQuality.packSequences(docs, 512L, "lang")
    val rows = packed.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3)))

    // token conservation per doc
    val perDoc = rows.groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._4).sum)
    assert(perDoc(("A", 1L)) == 3 && perDoc(("A", 3L)) == 510 && perDoc(("A", 5L)) == 5)
    assert(perDoc(("B", 2L)) == 512)
    // doc 3 spans the seq boundary: 509 tokens in seq 0, 1 in seq 1
    assert(rows.filter(r => r._1 == "A" && r._2 == 3L).map(r => (r._3, r._4)).sorted
      .sameElements(Seq((0L, 509L), (1L, 1L))))
    // every sequence except a shard's last is exactly full
    val bySeq = rows.groupBy(r => (r._1, r._3)).view.mapValues(_.map(_._4).sum).toMap
    assert(bySeq(("A", 0L)) == 512 && bySeq(("A", 1L)) == 6)
    assert(bySeq(("B", 0L)) == 512)
  }
}

class HashedLinearScoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def weight(tok: String): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"qc|$tok".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(h.substring(0, 4), 16) - 32768L
  }

  test("sum of per-token hashed weights, tf-weighted; keep = sum > 0") {
    val docs = Seq((1L, "alpha beta alpha"), (2L, "gamma"))
      .toDF("doc_id", "text")
    val got = TextQuality.hashedLinearScore(docs).orderBy("doc_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    val s1 = 2 * weight("alpha") + weight("beta")
    val s2 = weight("gamma")
    assert(got == Seq((1L, 3L, s1, s1 > 0), (2L, 1L, s2, s2 > 0)))
  }

  test("weights are stable in [-32768, 32767] and not degenerate") {
    val ws = (1 to 200).map(i => weight(s"tok$i"))
    assert(ws.forall(w => w >= -32768L && w <= 32767L))
    assert(ws.exists(_ > 0) && ws.exists(_ < 0))
  }
}

class SlidingChunksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("short doc -> one chunk; long doc -> stride-spaced overlapping chunks") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // 10 tokens, window 4, stride 3: chunks at 1,4,7 -> sizes 4,4,4
    // (last chunk starts at 7, covers w7..w10)
    val docs = Seq((1L, words(10)), (2L, words(3))).toDF("doc_id", "text")
    val got = TextQuality.slidingChunks(docs, window = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_idx", "n_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L, 4L), (1L, 1L, 4L), (1L, 2L, 4L), (2L, 0L, 3L)))
  }

  test("every token is covered and consecutive chunks overlap by window - stride") {
    def words(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, words(100))).toDF("doc_id", "text")
    val rows = TextQuality.slidingChunks(docs, 32, 24)
      .orderBy("chunk_idx").select("chunk_idx", "n_tokens")
      .as[(Long, Long)].collect()
    // starts at 0,24,48,72 -> last covers t73..t100 (28 tokens)
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(rows.map(_._2).toSeq == Seq(32L, 32L, 32L, 28L))
  }

  test("scrubRepeats keeps first occurrences in order and is idempotent") {
    // chunks of 2: [a b][c d][a b][e] -> drop the repeated [a b]
    val docs = Seq(
      (1L, "a b c d a b e"),
      (2L, "x y x y x y"),
      (3L, "p q r s")).toDF("doc_id", "text")
    val once = TextQuality.scrubRepeats(docs, 2).orderBy("doc_id")
    val got = once.select("doc_id", "text", "n_chunks", "n_dropped")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "a b c d e", 4L, 1L),
      (2L, "x y", 3L, 2L),
      (3L, "p q r s", 2L, 0L)))
    // idempotent: a scrubbed doc has no repeated chunks left
    val twice = TextQuality.scrubRepeats(once.select("doc_id", "text"), 2)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq.sorted
    assert(twice == got.map(r => (r._1, r._2)).sorted)
  }
}
