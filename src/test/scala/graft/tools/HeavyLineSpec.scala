package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.HeavyRunner.HeavyResult

/** The `HEAVY` line is the one record a HeavyRunner fork hands Bench:
  * parsing what [[HeavyRunner.heavyLine]] writes gives back the same
  * [[HeavyResult]] (values at the line's precision: walls and GC
  * seconds to the ms, CPU seconds to 0.1 s). */
class HeavyLineSpec extends AnyFunSuite {
  private def roundTrip(r: HeavyResult): Option[HeavyResult] =
    HeavyRunner.parseHeavyLine(HeavyRunner.heavyLine(r))

  test("a full run series with a warm pass round-trips") {
    val r = HeavyResult("e3_pipeline_streams", Seq(6.512, 5.904),
      Seq(0.231, 0.118), Seq(88.4, 71.0), Some(2.75))
    assert(roundTrip(r) == Some(r))
  }

  test("a partial series (one run of two) round-trips") {
    val r = HeavyResult("d5_ngram_jaccard", Seq(17.6), Seq(1.05),
      Seq(137.4), Some(0.5))
    assert(roundTrip(r) == Some(r))
  }

  test("an empty warm field round-trips as no warm pass") {
    val r = HeavyResult("e6_dedup_pipeline", Seq(12.0, 1.6), Seq(0.0, 0.0),
      Seq(148.1, 15.0), None)
    val line = HeavyRunner.heavyLine(r)
    assert(line.endsWith("\t"), line)
    assert(roundTrip(r) == Some(r))
  }

  test("the other line kinds are not HEAVY records") {
    assert(HeavyRunner.parseHeavyLine("HEAVYSKIP\td5_ngram_jaccard").isEmpty)
    assert(HeavyRunner.parseHeavyLine("HEAVYCAP\te6_dedup_pipeline").isEmpty)
    assert(HeavyRunner.parseHeavyLine("HEAVYFAIL\tq01\tboom").isEmpty)
  }
}
