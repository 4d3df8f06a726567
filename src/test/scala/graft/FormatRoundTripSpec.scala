package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Negative control for the x5 format-round-trip gate: the gate only
  * has teeth if a broken escaping configuration actually changes the
  * text. This writes the same adversarial row with and without the
  * RFC-4180 doubled-quote escape the gate uses and asserts (a) the
  * correct config round-trips byte-exactly, (b) the default
  * (backslash-escape) config produces a DIFFERENT byte stream on disk
  * than the RFC one — i.e. the option the gate sets is load-bearing.
  */
class FormatRoundTripSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val gnarly = """he said "hi, there" then c:\tmp\x""" + "\t" + "é€ end"

  test("RFC-4180 CSV config round-trips adversarial text byte-exactly") {
    val df = Seq((1L, gnarly)).toDF("id", "text")
    val dir = tempDir("graft-csvrt").toString
    df.write.mode("overwrite").option("header", "true")
      .option("escape", "\"").csv(dir)
    val back = spark.read.schema(df.schema).option("header", "true")
      .option("escape", "\"").csv(dir)
    assert(back.head().getString(1) === gnarly)
  }

  test("the escape option is load-bearing: default config writes different bytes") {
    val df = Seq((1L, gnarly)).toDF("id", "text")
    val rfc = tempDir("graft-rfc").toString
    val dflt = tempDir("graft-dflt").toString
    df.write.mode("overwrite").option("header", "true")
      .option("escape", "\"").csv(rfc)
    df.write.mode("overwrite").option("header", "true").csv(dflt)
    def bytes(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".csv")).map(f =>
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      .mkString
    val a = bytes(rfc); val b = bytes(dflt)
    assert(a.contains("\"\"hi"), s"RFC file should double quotes: $a")
    assert(a != b, "escape option changed nothing — the x5 gate would be vacuous")
  }
}
