package graft.operators

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.Parameters

import graft.TestSpark

/** Property invariants for the series family: changepoint
  * (single and grouped), grouped Theil-Sen, dominant period, and the
  * waterfill share reduction — each checked against an independent
  * driver-side integer replay over RANDOM inputs (the gates pin one
  * corpus; these pin the semantics). All arithmetic is exact int64 on
  * both sides, so every comparison is equality, never tolerance. */
object SeriesReplayProps extends Properties("seriesReplay") {

  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val genSeries: Gen[List[Long]] =
    Gen.chooseNum(5, 50).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 10000L)))

  /** Driver-side replay of the CUSUM argmax (ties -> smallest t). */
  private def cpRef(xs: Seq[Long]): (Long, Long, Long, Long) = {
    val n = xs.size.toLong
    val s = xs.sum
    val cusums = xs.scanLeft(0L)((acc, x) => acc + (n * x - s)).drop(1)
    val (c, i) = cusums.zipWithIndex.maxBy { case (c, i) => (math.abs(c), -i) }
    (n, i.toLong, c, math.abs(c))
  }

  property("changepoint == driver-side CUSUM argmax replay") =
    forAll(genSeries) { xs =>
      val df = xs.zipWithIndex.map { case (x, t) => (t.toLong, x) }
        .toDF("t", "x")
      val r = SeriesStats.changepoint(df, "t", "x").collect().head
      (r.getAs[Long]("n"), r.getAs[Long]("t"), r.getAs[Long]("cusum"),
        r.getAs[Long]("abs_cusum")) == cpRef(xs)
    }

  property("changepointByKey == per-key changepoint replay") =
    forAll(genSeries, genSeries) { (a, b) =>
      val rows = a.zipWithIndex.map { case (x, t) => ("a", t.toLong, x) } ++
        b.zipWithIndex.map { case (x, t) => ("b", t.toLong, x) }
      val got = SeriesStats.changepointByKey(rows.toDF("k", "t", "x"),
          "k", "t", "x").collect()
        .map(r => r.getAs[String]("k") ->
          ((r.getAs[Long]("n"), r.getAs[Long]("t"), r.getAs[Long]("cusum"),
            r.getAs[Long]("abs_cusum")))).toMap
      got == Map("a" -> cpRef(a), "b" -> cpRef(b))
    }

  /** Driver-side replay of the Theil-Sen rational median over a
    * distinct-t series (the operator's executable precondition). */
  private def tsRef(ys: Seq[Long]): (Long, Long, Long, Long, Long) = {
    val pts = ys.zipWithIndex.map { case (y, t) => (t.toLong, y) }
    val pairs = for {
      i <- pts.indices; j <- pts.indices if j > i
    } yield (pts(j)._2 - pts(i)._2, pts(j)._1 - pts(i)._1)
    val sorted = pairs.sortBy { case (num, den) =>
      (num.toDouble / den, num, den)
    }
    val (num, den) = sorted((sorted.size + 1) / 2 - 1)
    (pts.size.toLong, sorted.size.toLong, num, den, num * 1000000L / den)
  }

  property("theilSenByKey == per-key rational-median replay") =
    forAll(genSeries.suchThat(_.size >= 2), genSeries.suchThat(_.size >= 2)) {
      (a, b) =>
        val rows = a.zipWithIndex.map { case (y, t) => ("a", t.toLong, y) } ++
          b.zipWithIndex.map { case (y, t) => ("b", t.toLong, y) }
        val got = SeriesStats.theilSenByKey(rows.toDF("k", "t", "y"),
            "k", "t", "y").collect()
          .map(r => r.getAs[String]("k") ->
            ((r.getAs[Long]("n"), r.getAs[Long]("n_pairs"),
              r.getAs[Long]("num"), r.getAs[Long]("den"),
              r.getAs[Long]("slope_micros")))).toMap
        got == Map("a" -> tsRef(a), "b" -> tsRef(b))
    }

  property("dominantPeriod == driver-side ACF argmax replay (lags 2..10)") =
    forAll(genSeries.suchThat(_.size >= 12)) { xs =>
      val n = xs.size.toLong
      val s = xs.sum
      val c = xs.map(x => n * x - s)
      val den = c.map(v => v * v).sum
      val cands = (2 to 10).flatMap { k =>
        if (den == 0) None
        else {
          val num = c.drop(k).zip(c).map { case (p, q) => p * q }.sum
          Some((k.toLong, num, num * 1000000L / den))
        }
      }
      val df = xs.zipWithIndex.map { case (x, t) => (t.toLong, x) }
        .toDF("t", "x")
      val got = SeriesStats.dominantPeriod(df, "t", "x", 2, 10).collect()
      if (cands.isEmpty) got.isEmpty
      else {
        val (lag, num, r) = cands.maxBy { case (lag, _, r) => (r, -lag) }
        val row = got.head
        got.length == 1 &&
          (row.getAs[Long]("period"), row.getAs[Long]("num"),
            row.getAs[Long]("den"), row.getAs[Long]("r_ppm")) ==
            ((lag, num, den, r))
      }
    }

  property("waterfillAllocationShare is invariant under fraction scaling") =
    forAll(
      Gen.chooseNum(2, 8).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(1L, 500L))),
      Gen.chooseNum(1L, 9L), Gen.chooseNum(1L, 10L),
      Gen.chooseNum(2L, 1000L)) { (supplies, a, b0, k) =>
      val b = math.max(a, b0) // numer <= denom keeps the share sane
      val df = supplies.zipWithIndex
        .map { case (sp, i) => (s"k$i", sp) }.toDF("k", "supply")
      def allocs(nu: Long, de: Long) =
        Sampling.waterfillAllocationShare(df, "k", "supply", nu, de)
          .collect()
          .map(r => (r.getAs[String]("k"), r.getAs[Long]("alloc"))).toMap
      allocs(a * k, b * k) == allocs(a, b)
    }
}
