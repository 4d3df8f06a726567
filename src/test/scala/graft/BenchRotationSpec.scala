package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The round-11 heavy-roster rotation: members absent from the latest
  * driver artifact's "heavy" summary move to the FRONT of their tier,
  * so a 900 s driver budget covers the full roster over at most two
  * rounds. Pure-function tests — no Spark session. */
class BenchRotationSpec extends AnyFunSuite with TempDirs {

  test("rotateUnmeasuredFirst: unmeasured lead, order stable in both halves") {
    val tier = Seq("a", "b", "c", "d", "e")
    assert(Bench.rotateUnmeasuredFirst(tier, Set("a", "c")) ===
      Seq("b", "d", "e", "a", "c"))
    assert(Bench.rotateUnmeasuredFirst(tier, Set.empty) === tier)
    assert(Bench.rotateUnmeasuredFirst(tier, tier.toSet) === tier)
  }

  test("lastMeasuredHeavy: parses the LATEST artifact's parsed-summary heavy keys") {
    val dir = tempDir("bench_rotation").toFile
    // r9: an older artifact that must be ignored
    Files.write(Paths.get(dir.getPath, "BENCH_r9.json"),
      """{"parsed": {"heavy": {"old_one": 1.0}}}""".getBytes)
    // r10: the latest — a raw escaped tail (must NOT match) plus the
    // pretty parsed summary (must match), mirroring the driver format
    Files.write(Paths.get(dir.getPath, "BENCH_r10.json"),
      ("""{"tail": "{\"heavy\":{\"tail_only\":9.9}}",""" + "\n" +
        """ "parsed": {""" + "\n" +
        """   "heavy": {""" + "\n" +
        """     "q01_pricing_summary": 3.4,""" + "\n" +
        """     "e3_pipeline_streams": 19.0""" + "\n" +
        """   }""" + "\n" +
        """ }}""").getBytes)
    val got = Bench.lastMeasuredHeavy(dir.getPath)
    assert(got === Set("q01_pricing_summary", "e3_pipeline_streams"))
  }

  test("three-band rotation: never-in-ANY-artifact leads, then not-in-latest") {
    val tier = Seq("a", "b", "c", "d", "e")
    // ever = {a,b,c,d}: e has never been measured anywhere -> very
    // front; latest = {a,c}: b,d missing from the latest -> second
    // band; a,c (have current numbers) -> last. Order stable per band.
    assert(Bench.rotateUnmeasuredFirst(tier, Set("a", "c"),
      Set("a", "b", "c", "d")) === Seq("e", "b", "d", "a", "c"))
    // no history at all: everything is never-measured, order stands
    assert(Bench.rotateUnmeasuredFirst(tier, Set.empty, Set.empty) === tier)
  }

  test("everMeasuredHeavy: union over ALL artifacts, not just the latest") {
    val dir = tempDir("bench_rotation_ever").toFile
    Files.write(Paths.get(dir.getPath, "BENCH_r9.json"),
      """{"parsed": {"heavy": {"old_one": 1.0}}}""".getBytes)
    Files.write(Paths.get(dir.getPath, "BENCH_r10.json"),
      """{"parsed": {"heavy": {"new_one": 2.0}}}""".getBytes)
    assert(Bench.everMeasuredHeavy(dir.getPath) === Set("old_one", "new_one"))
    assert(Bench.lastMeasuredHeavy(dir.getPath) === Set("new_one"))
  }

  test("lastMeasuredHeavy: no artifacts / unreadable dir -> empty (order stands)") {
    val empty = tempDir("bench_rotation_empty").toFile
    assert(Bench.lastMeasuredHeavy(empty.getPath) === Set.empty[String])
    assert(Bench.lastMeasuredHeavy("/nonexistent/nowhere") ===
      Set.empty[String])
  }
}
