package graft.functions

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Dedup

/** `Dedup.ngramJaccard` compares texts with the [[NgramOverlap]]
  * kernel. These specs keep the earlier formulation — per-doc
  * `array_distinct(transform(sequence(..), i -> substr(..)))` gram
  * arrays, `array_intersect` per pair — as the reference and require
  * the two to agree row for row, with exact `==` on the doubles, on
  * seeded random texts: ASCII, 2-, 3- and 4-byte code points (grams on
  * both sides of the 7-byte packing limit), texts shorter than n, null
  * text, identical texts, disjoint texts and heavily repeated grams. */
class NgramOverlapEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The char k-grams of `text` in document order, as `charShingles`
    * built them before the kernel. */
  private def charShingles(text: org.apache.spark.sql.Column, k: Int) =
    when(length(text) >= k,
      transform(sequence(lit(1), length(text) - (k - 1)),
        i => text.substr(i, lit(k))))
      .otherwise(array().cast("array<string>"))

  /** The gram-array verification, as it was before the kernel, plus its
    * intersection and union sizes. */
  private def arrayJaccard(docs: DataFrame, pairs: DataFrame, n: Int): DataFrame = {
    val grams = docs.select(col("doc_id"),
      array_distinct(charShingles(col("text"), n)).as("grams"))
    pairs
      .join(grams.select(col("doc_id").as("doc_a"), col("grams").as("ga")), Seq("doc_a"))
      .join(grams.select(col("doc_id").as("doc_b"), col("grams").as("gb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .withColumn("union",
        size(col("ga")).cast("long") + size(col("gb")).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("union"))
      .select("doc_a", "doc_b", "inter", "union", "jaccard")
  }

  private val ascii = "abcdefghij klmnop".map(_.toString)
  private val twoByte = Seq("é", "ñ", "ß", "Ω", "д")      // U+0080..U+07FF
  private val threeByte = Seq("€", "中", "文", "ก", "ー")  // U+0800..U+FFFF
  private val fourByte = Seq("😀", "𝄞", "𠀋", "🙂")       // supplementary

  /** Seeded documents (doc_id, text). Each alphabet mix yields texts
    * of 0..60 code points; copies and edited copies make overlapping
    * pairs, a 2-letter alphabet makes repeated grams, and fixed rows
    * add null, empty, short and disjoint texts. */
  private def corpus(seed: Long): Seq[(Long, String)] = {
    val rnd = new Random(seed)
    val alphabets = Seq(ascii, ascii ++ twoByte, ascii ++ threeByte,
      twoByte ++ threeByte ++ fourByte, fourByte, Seq("a", "b"),
      ascii ++ twoByte ++ threeByte ++ fourByte)
    def text(alpha: Seq[String], len: Int) =
      Seq.fill(len)(alpha(rnd.nextInt(alpha.size))).mkString
    val random = (0 until 60).map(_ => text(alphabets(rnd.nextInt(alphabets.size)),
      rnd.nextInt(61)))
    val edited = random.take(30).map { t =>
      val cps = t.codePoints().toArray.map(c => new String(Character.toChars(c)))
      cps.map(c => if (rnd.nextInt(8) == 0) fourByte(rnd.nextInt(fourByte.size)) else c)
        .mkString
    }
    (random ++ random.take(5) ++ edited ++ fixed).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
  }

  /** Edge cases, compared pairwise on top of the random pairs. The
    * 8-byte grams "abcdefga"/"abcdefgi" and "€€é"/"€€á" differ only in
    * bit 3 of their last byte, where a packed key would keep the
    * length: they catch a packing limit past 7 bytes. */
  private val fixed = Seq(null, "", "ab", "€😀", "abcdefgh", "abcdefgh", "ABCDEFGH",
    "€€a€€é€€a€€é", "aaaaaaaaaaaa", "abababababab", "abcdefga", "abcdefgi",
    "€€é€€é", "€€á€€á")

  private def docsOf(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, t) => Row(id, t) }, 2),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType))))

  /** Seeded candidate pairs (doc_a < doc_b) plus every pair of
    * [[fixed]] rows; pairs of two texts without grams are dropped when
    * `keepEmpty` is false. */
  private def pairsOf(rows: Seq[(Long, String)], n: Int, seed: Long,
                      keepEmpty: Boolean): DataFrame = {
    val rnd = new Random(seed)
    val ids = rows.map(_._1)
    def gramless(id: Long) = {
      val t = rows(id.toInt)._2
      t == null || t.codePointCount(0, t.length) < n
    }
    val firstFixed = ids.size - fixed.size
    val all = for (a <- ids; b <- ids if a < b &&
      (rnd.nextInt(4) == 0 || a >= firstFixed)) yield (a, b)
    import spark.implicits._
    all.filter { case (a, b) => keepEmpty || !(gramless(a) && gramless(b)) }
      .toDF("doc_a", "doc_b")
  }

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.ansi.enabled", before)
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))

  private def assertEquivalent(rows: Seq[(Long, String)], pairs: DataFrame, n: Int): Unit = {
    val docs = docsOf(rows)
    val ref = sorted(arrayJaccard(docs, pairs, n))
    val got = sorted(Dedup.ngramJaccard(docs, pairs, n))
    assert(ref.nonEmpty)
    assert(got.size == ref.size, s"n=$n: ${got.size} rows vs ${ref.size}")
    got.zip(ref).foreach { case (g, r) =>
      assert(g == Row(r.get(0), r.get(1), r.get(4)), s"n=$n: $g vs reference $r")
    }
    // the kernel's own counts equal the array sizes
    val counts = sorted(pairs
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        NgramOverlap.overlap(col("ta"), col("tb"), n).as("o"))
      .select("doc_a", "doc_b", "o.inter", "o.union"))
    assert(counts == ref.map(r => Row(r.get(0), r.get(1), r.get(2), r.get(3))),
      s"n=$n: kernel counts differ from the array sizes")
  }

  Seq(3, 5, 8).foreach { n =>
    test(s"n=$n: kernel equals the array formulation row for row, ANSI off") {
      withAnsi(on = false) {
        Seq(11L, 12L).foreach { seed =>
          val rows = corpus(seed)
          assertEquivalent(rows, pairsOf(rows, n, seed, keepEmpty = true), n)
        }
      }
    }

    test(s"n=$n: kernel equals the array formulation row for row, ANSI on") {
      withAnsi(on = true) {
        val rows = corpus(13L)
        assertEquivalent(rows, pairsOf(rows, n, 13L, keepEmpty = false), n)
      }
    }
  }

  test("interpreted evaluation equals the generated code") {
    val rows = corpus(14L)
    val pairs = pairsOf(rows, 5, 14L, keepEmpty = true)
    val codegen = withAnsi(on = false)(
      sorted(Dedup.ngramJaccard(docsOf(rows), pairs, 5)))
    val before = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interpreted =
      try withAnsi(on = false)(sorted(Dedup.ngramJaccard(docsOf(rows), pairs, 5)))
      finally {
        spark.conf.set("spark.sql.codegen.factoryMode", before)
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
      }
    assert(interpreted == codegen)
  }

  test("two gramless texts: null jaccard with ANSI off, DIVIDE_BY_ZERO with it on") {
    import spark.implicits._
    val rows = Seq(0L -> "abcdef", 1L -> null, 2L -> "", 3L -> "abc")
    val pairs = Seq((0L, 1L), (1L, 2L), (1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    withAnsi(on = false) {
      val ref = sorted(arrayJaccard(docsOf(rows), pairs, 5)).map(r => r.get(4))
      val got = sorted(Dedup.ngramJaccard(docsOf(rows), pairs, 5)).map(r => r.get(2))
      assert(ref == Seq(0.0, null, null, null))
      assert(got == ref)
    }
    withAnsi(on = true) {
      def error(df: => DataFrame) =
        intercept[Exception](df.collect()).getMessage.contains("DIVIDE_BY_ZERO")
      assert(error(arrayJaccard(docsOf(rows), pairs, 5)))
      assert(error(Dedup.ngramJaccard(docsOf(rows), pairs, 5)))
    }
  }
}
