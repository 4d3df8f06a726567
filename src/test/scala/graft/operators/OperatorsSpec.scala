package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class InterpolationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pandas interpolate semantics: leading stay null, interior linear, trailing ffill") {
    val df = Seq(
      (1L, 0L, None: Option[Double]),
      (1L, 1L, Some(1.0)),
      (1L, 2L, None),
      (1L, 3L, None),
      (1L, 4L, Some(7.0)),
      (1L, 5L, None)).toDF("k", "t", "v")
    val got = Interpolation.interpolate(df, Seq("k"), "t", Seq("v"))
      .orderBy("t").select("v").collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(None, Some(1.0), Some(3.0), Some(5.0), Some(7.0), Some(7.0)))
  }

  test("interpolation is time-weighted on a non-uniform axis") {
    val df = Seq((1L, 0L, Some(0.0)), (1L, 1L, None), (1L, 2L, None),
      (1L, 3L, None), (1L, 4L, Some(8.0))).toDF("k", "t", "v")
    val got = Interpolation.interpolate(df, Seq("k"), "t", Seq("v"))
      .orderBy("t").select("v").as[Double].collect()
    assert(got.toSeq == Seq(0.0, 2.0, 4.0, 6.0, 8.0))
  }
}

class TriangularRollingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("scipy triang weights") {
    assert(TriangularRolling.weights(1) == Seq(1.0))
    assert(TriangularRolling.weights(5) == Seq(1.0, 2.0, 3.0, 2.0, 1.0))
    assert(TriangularRolling.weights(4) == Seq(1.0, 3.0, 3.0, 1.0))
    assert(TriangularRolling.weights(10) == Seq(1.0, 3.0, 5.0, 7.0, 9.0, 9.0, 7.0, 5.0, 3.0, 1.0))
  }

  private def roll(vals: Seq[Option[Double]], n: Int): Seq[Option[Double]] = {
    val df = vals.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }.toDF("k", "t", "v")
    val w = Window.partitionBy("k").orderBy("t")
    df.select(col("t"), TriangularRolling.triangMean(col("v"), w, n).as("r"))
      .orderBy("t").collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1))).toSeq
  }

  test("window 5: null until min_periods, exact triangular mean after") {
    val got = roll(Seq(1.0, 2.0, 3.0, 4.0, 5.0).map(Some(_)), 5)
    assert(got == Seq(None, None, None, None, Some(3.0)))
  }

  test("window 4 (even weights)") {
    val got = roll(Seq(1.0, 2.0, 3.0, 4.0, 5.0).map(Some(_)), 4)
    assert(got == Seq(None, None, None, Some(2.5), Some(3.5)))
  }

  test("window 1 is identity") {
    val got = roll(Seq(4.0, 2.0).map(Some(_)), 1)
    assert(got == Seq(Some(4.0), Some(2.0)))
  }

  test("a null inside a full window poisons the result") {
    val got = roll(Seq(Some(1.0), Some(2.0), None, Some(4.0), Some(5.0), Some(6.0), Some(7.0)), 3)
    // windows: [1,2,x]->null, [2,x,4]->null, [x,4,5]->null, [4,5,6]=5, [5,6,7]=6
    assert(got == Seq(None, None, None, None, None, Some(5.0), Some(6.0)))
  }

  test("Kahan ring kernel: BIT parity with the exact fold on integer values") {
    // the a5 gate discipline: integer-valued channels make every
    // sliding update exact below 2^53, so the O(1) kernel must equal
    // the O(n) collect-based fold BITWISE — not within tolerance
    val rng = new scala.util.Random(7)
    val vals: Seq[Option[Double]] = (0 until 500).map { _ =>
      if (rng.nextDouble() < 0.06) None
      else Some(rng.nextInt(100000).toDouble)
    }
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong % 3, i.toLong, v) }
      .toDF("k", "t", "v")
    val ns = Seq(1, 2, 4, 5, 10, 45, 120)
    val w = Window.partitionBy("k").orderBy("t")
    val slow = df.select(Seq(col("k"), col("t")) ++
      ns.map(n => TriangularRolling.triangMean(col("v"), w, n).as(s"slow_$n")): _*)
    val fast = TriangularRolling.triangMeansFast(df, Seq("k"), Seq("t"),
      Seq("v"), ns)
    val joined = slow.join(fast, Seq("k", "t")).orderBy("k", "t").collect()
    joined.foreach { r =>
      ns.foreach { n =>
        val si = r.fieldIndex(s"slow_$n"); val fi = r.fieldIndex(s"tri_v_$n")
        (r.isNullAt(si), r.isNullAt(fi)) match {
          case (true, true) => // both null: agree
          case (false, false) =>
            assert(java.lang.Double.doubleToLongBits(r.getDouble(si)) ===
              java.lang.Double.doubleToLongBits(r.getDouble(fi)),
              s"n=$n k=${r.getLong(0)} t=${r.getLong(1)}: " +
                s"${r.getDouble(si)} vs ${r.getDouble(fi)}")
          case other => fail(s"null mismatch n=$n t=${r.getLong(1)}: $other")
        }
      }
    }
  }

  test("Kahan ring kernel: ulp-class on floats, pandas nulls, long partitions") {
    // float values: parity within ulps regardless of partition length
    // (the prefix kernel's cancellation class is absent by design)
    val rng = new scala.util.Random(13)
    val vals: Seq[Option[Double]] = (0 until 1200).map { _ =>
      if (rng.nextDouble() < 0.05) None
      else Some(rng.nextDouble() * 1e6 - 5e5)
    }
    val df = vals.zipWithIndex.map { case (v, i) => (0L, i.toLong, v) }
      .toDF("k", "t", "v")
    val ns = Seq(5, 20, 300)
    val w = Window.partitionBy("k").orderBy("t")
    val slow = df.select(Seq(col("k"), col("t")) ++
      ns.map(n => TriangularRolling.triangMean(col("v"), w, n).as(s"slow_$n")): _*)
    val fast = TriangularRolling.triangMeansFast(df, Seq("k"), Seq("t"),
      Seq("v"), ns)
    val joined = slow.join(fast, Seq("k", "t")).orderBy("t").collect()
    joined.foreach { r =>
      ns.foreach { n =>
        val si = r.fieldIndex(s"slow_$n"); val fi = r.fieldIndex(s"tri_v_$n")
        (r.isNullAt(si), r.isNullAt(fi)) match {
          case (true, true) =>
          case (false, false) =>
            val (a, b) = (r.getDouble(si), r.getDouble(fi))
            assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a)),
              s"n=$n t=${r.getLong(1)}: $a vs $b")
          case other => fail(s"null mismatch n=$n t=${r.getLong(1)}: $other")
        }
      }
    }
  }

  test("Kahan ring kernel: one window exchange/sort for all columns, no collect_list") {
    val df = (0L until 50L).map(i => (i % 2, i, i.toDouble)).toDF("k", "t", "v")
    val plan = TriangularRolling.triangMeansFast(df, Seq("k"), Seq("t"),
      Seq("v"), Seq(5, 10, 20)).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1, plan)
    assert("Sort \\[".r.findAllIn(plan).length === 1, plan)
    assert(!plan.contains("collect_list"), plan)
  }

  test("Kahan ring kernel: agrees with the exact kernel on 2-decimal floats (incl. nulls, multiple windows)") {
    val rng = new scala.util.Random(42)
    val vals: Seq[Option[Double]] = (0 until 400).map { _ =>
      if (rng.nextDouble() < 0.07) None
      else Some(math.rint(rng.nextDouble() * 10000) / 100)
    }
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong % 3, i.toLong, v) }
      .toDF("k", "t", "v")
    val ns = Seq(1, 4, 5, 10, 45, 120)
    val w = Window.partitionBy("k").orderBy("t")
    val slow = df.select(Seq(col("k"), col("t")) ++
      ns.map(n => TriangularRolling.triangMean(col("v"), w, n).as(s"slow_$n")): _*)
    val fast = TriangularRolling.triangMeansFast(df, Seq("k"), Seq("t"), Seq("v"), ns)
    val joined = slow.join(fast, Seq("k", "t")).orderBy("k", "t").collect()
    joined.foreach { r =>
      ns.foreach { n =>
        val si = r.fieldIndex(s"slow_$n"); val fi = r.fieldIndex(s"tri_v_$n")
        (r.isNullAt(si), r.isNullAt(fi)) match {
          case (true, true) => // both null: agree
          case (false, false) =>
            assert(math.abs(r.getDouble(si) - r.getDouble(fi)) < 1e-8,
              s"n=$n k=${r.getLong(0)} t=${r.getLong(1)}: ${r.getDouble(si)} vs ${r.getDouble(fi)}")
          case other => fail(s"null mismatch n=$n t=${r.getLong(1)}: $other")
        }
      }
    }
  }

  test("Kahan ring kernel: 90-minute float activity, all 11 windows within 1e-11 relative") {
    // one 5,400-row partition (a 90-minute activity at 1 Hz) with
    // heart-rate- and power-shaped channels at 2-3 decimals and a few
    // nulls; every cell is checked against a driver-side fold in exact
    // integer arithmetic. A difference-of-prefix-sums kernel loses
    // ~1e-8 relative here to cancellation; the compensated sliding
    // sums stay near 1e-15.
    val rng = new scala.util.Random(5400)
    val rows = 5400
    val ns = Seq(1, 5, 10, 20, 30, 45, 60, 120, 300, 600, 1200)
    // channel values in thousandths, so the fold below is exact
    def channel(base: Int, amp: Int, scale: Int): IndexedSeq[Option[Long]] =
      (0 until rows).map { i =>
        if (rng.nextDouble() < 0.002) None
        else {
          val v = base * 1000 + (amp * 1000 * math.sin(i / 300.0)).toLong +
            rng.nextInt(20000)
          Some(v / scale * scale)
        }
      }
    val hr = channel(140, 30, 10) // two decimals
    val pw = channel(250, 150, 1) // three decimals
    val df = (0 until rows).map(i =>
      (0L, i.toLong, hr(i).map(_ / 1000.0), pw(i).map(_ / 1000.0)))
      .toDF("k", "t", "hr", "pw")
    val got = TriangularRolling.triangMeansFast(df, Seq("k"), Seq("t"),
      Seq("hr", "pw"), ns).orderBy("t").collect()
    for ((ch, xs) <- Seq("hr" -> hr, "pw" -> pw); n <- ns) {
      val wts = TriangularRolling.weights(n).map(_.toLong)
      val wsum = 1000.0 * wts.sum
      got.zipWithIndex.foreach { case (r, t) =>
        val window = if (t + 1 >= n) xs.slice(t + 1 - n, t + 1) else Nil
        val exact =
          if (window.isEmpty || window.contains(None)) None
          else Some(window.flatten.zip(wts).map { case (x, w) => x * w }.sum / wsum)
        val fi = r.fieldIndex(s"tri_${ch}_$n")
        (exact, r.isNullAt(fi)) match {
          case (None, true) =>
          case (Some(e), false) =>
            val g = r.getDouble(fi)
            assert(math.abs(g - e) <= 1e-11 * math.max(1.0, math.abs(e)),
              s"$ch n=$n t=$t: $g vs exact $e (|diff| ${math.abs(g - e)})")
          case other => fail(s"null mismatch $ch n=$n t=$t: $other")
        }
      }
    }
  }
}

class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000)

  test("asof picks latest right row at or before left ts; inner drops unmatched") {
    val left = Seq((1L, ts(5), "L1"), (1L, ts(2), "L2"), (2L, ts(1), "L3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, ts(2), "a"), (1L, ts(4), "b"), (2L, ts(3), "c"))
      .toDF("k", "t", "v")
    val got = AsOfJoin.asof(left, right, Seq("k"), "t", "t", Seq("v" -> "matched"))
      .select("tag", "matched").as[(String, String)].collect().toMap
    assert(got == Map("L1" -> "b", "L2" -> "a")) // L2: tie at ts=2 is inclusive; L3 dropped
  }

  test("left asof keeps unmatched rows with nulls") {
    val left = Seq((2L, ts(1), "L3")).toDF("k", "t", "tag")
    val right = Seq((2L, ts(3), "c")).toDF("k", "t", "v")
    val got = AsOfJoin.asof(left, right, Seq("k"), "t", "t",
      Seq("v" -> "matched"), inner = false).select("tag", "matched").collect()
    assert(got.length == 1 && got(0).getString(0) == "L3" && got(0).isNullAt(1))
  }

  test("NULL join keys never match (DuckDB/kdb ASOF semantics)") {
    val left = Seq((Option.empty[Long], ts(5), "Lnull"), (Option(1L), ts(5), "L1"))
      .toDF("k", "t", "tag")
    val right = Seq((Option.empty[Long], ts(2), "rnull"), (Option(1L), ts(2), "r1"))
      .toDF("k", "t", "v")
    // inner: the null-keyed left row finds no match and is dropped
    val inner = AsOfJoin.asof(left, right, Seq("k"), "t", "t", Seq("v" -> "matched"))
      .select("tag", "matched").as[(String, String)].collect().toMap
    assert(inner == Map("L1" -> "r1"))
    // left: it is kept, with a null payload
    val outer = AsOfJoin.asof(left, right, Seq("k"), "t", "t",
      Seq("v" -> "matched"), inner = false)
      .select("tag", "matched").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(outer == Map("L1" -> "r1", "Lnull" -> null))
  }
}

class EwmaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("per-key recurrence with adjust=False seeding, reset at key boundaries") {
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (1L, 3L, 10.0),
      (2L, 1L, 100.0), (2L, 2L, 0.0))
      .toDF("k", "t", "v")
    val got = Ewma.ewma(df, Seq("k"), Seq("t"), "v", 0.25, "ew")
      .select("k", "t", "ew").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // k=1: 10; .25*20+.75*10 = 12.5; .25*10+.75*12.5 = 11.875
    assert(got((1L, 1L)) == 10.0)
    assert(got((1L, 2L)) == 12.5)
    assert(got((1L, 3L)) == 11.875)
    // k=2 reseeds
    assert(got((2L, 1L)) == 100.0)
    assert(got((2L, 2L)) == 75.0)
  }

  test("nulls: carried-forward mean, invisible to the recurrence (pandas ignore_na)") {
    val df = Seq((1L, 1L, Some(10.0)), (1L, 2L, None), (1L, 3L, Some(20.0)),
      (2L, 1L, None), (2L, 2L, Some(5.0)))
      .toDF("k", "t", "v")
    val got = Ewma.ewma(df, Seq("k"), Seq("t"), "v", 0.5, "ew")
      .select("k", "t", "ew").as[(Long, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 1L)) == Some(10.0))
    assert(got((1L, 2L)) == Some(10.0)) // null row: carry, don't decay
    assert(got((1L, 3L)) == Some(15.0)) // .5*20+.5*10 — gap invisible
    assert(got((2L, 1L)) == None)       // leading null: no state yet
    assert(got((2L, 2L)) == Some(5.0))  // seeds at first valid
  }

  test("matches a sequential reference on many keys across partitions") {
    val rows = for (k <- 0L until 7L; t <- 1L to 40L)
      yield (k, t, ((k * 37 + t * 17) % 100).toDouble)
    val got = Ewma.ewma(rows.toDF("k", "t", "v"), Seq("k"), Seq("t"), "v", 0.25, "ew")
      .select("k", "t", "ew").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val expected = rows.groupBy(_._1).flatMap { case (k, rs) =>
      var s = 0.0; var seeded = false
      rs.sortBy(_._2).map { case (_, t, v) =>
        s = if (!seeded) { seeded = true; v } else 0.25 * v + 0.75 * s
        (k, t) -> s
      }
    }
    assert(got == expected)
  }
}

class HoltSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("level+trend recurrence: hand values, key reset, trend direction") {
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (1L, 3L, 30.0),
      (2L, 1L, 5.0), (2L, 2L, 5.0))
      .toDF("k", "t", "v")
    val got = Ewma.holt(df, Seq("k"), Seq("t"), "v", 0.5, 0.5, "l", "b")
      .select("k", "t", "l", "b").as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // k=1: l1=10,b1=0; l2=.5*20+.5*10=15, b2=.5*5+0=2.5;
    //      l3=.5*30+.5*17.5=23.75, b3=.5*8.75+.5*2.5=5.625
    assert(got((1L, 1L)) == ((10.0, 0.0)))
    assert(got((1L, 2L)) == ((15.0, 2.5)))
    assert(got((1L, 3L)) == ((23.75, 5.625)))
    // flat series: trend stays 0, level stays put; key 2 reseeded
    assert(got((2L, 1L)) == ((5.0, 0.0)))
    assert(got((2L, 2L)) == ((5.0, 0.0)))
  }

  test("matches a sequential reference on many keys across partitions") {
    val rows = for (k <- 0L until 5L; t <- 1L to 30L)
      yield (k, t, ((k * 31 + t * 13) % 50).toDouble)
    val got = Ewma.holt(rows.toDF("k", "t", "v"), Seq("k"), Seq("t"), "v",
      0.25, 0.5, "l", "b")
      .select("k", "t", "l", "b").as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val expected = rows.groupBy(_._1).flatMap { case (k, rs) =>
      var l = 0.0; var b = 0.0; var seeded = false
      rs.sortBy(_._2).map { case (_, t, v) =>
        if (!seeded) { seeded = true; l = v; b = 0.0 }
        else {
          val prev = l
          l = 0.25 * v + 0.75 * (l + b)
          b = 0.5 * (l - prev) + 0.5 * b
        }
        (k, t) -> ((l, b))
      }
    }
    assert(got == expected)
  }

  test("nulls carry (level, trend) without advancing; leading nulls emit null") {
    val df = Seq((1L, 1L, Some(10.0)), (1L, 2L, None), (1L, 3L, Some(20.0)),
      (2L, 1L, None))
      .toDF("k", "t", "v")
    val got = Ewma.holt(df, Seq("k"), Seq("t"), "v", 0.5, 0.5, "l", "b")
      .select("k", "t", "l").as[(Long, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 1L)) == Some(10.0))
    assert(got((1L, 2L)) == Some(10.0))
    assert(got((1L, 3L)) == Some(15.0)) // gap invisible to the weights
    assert(got((2L, 1L)) == None)
  }
}

class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("union-find labels every vertex with its component minimum") {
    // components {1,2,3}, {10,11}, chain {20,21,22,23}
    val edges = Array((2L, 1L), (2L, 3L), (10L, 11L), (21L, 20L), (21L, 22L), (23L, 22L))
    val got = ConnectedComponents.unionFindLocal(edges).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("distributed label propagation agrees with driver union-find") {
    // deterministic pseudo-random graph: 60 edges over 40 vertices
    val edges = (0 until 60).map { i =>
      val a = (i * 7919 % 40).toLong; val b = (i * 104729 % 40).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct.toArray
    val df = edges.toSeq.toDF("src", "dst")
    val local = ConnectedComponents.unionFindLocal(edges).toMap
    val dist = asMap(ConnectedComponents.labelPropagate(
      df.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))))
    assert(dist == local)
    // and the adaptive front door (small path) matches too
    assert(asMap(ConnectedComponents.components(spark, df, "src", "dst")) == local)
  }

  test("pointer jumping converges on a diameter-300 chain within the budget") {
    // plain per-hop propagation would need ~300 rounds and previously
    // exited at 50 with silently wrong labels
    val edges = (0L until 300L).map(i => (i, i + 1)).toDF("src", "dst")
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val got = asMap(ConnectedComponents.labelPropagate(edges))
    assert(got.size == 301 && got.values.forall(_ == 0L))
  }

  test("non-convergence throws instead of returning partial labels") {
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    intercept[IllegalStateException] {
      ConnectedComponents.labelPropagate(edges, maxIters = 2)
    }
  }

  test("incremental label update equals a from-scratch rebuild") {
    // deterministic pseudo-random split: batch-1 edges build the
    // stored index, batch-2 edges arrive incrementally. Mix of cases:
    // edges inside old clusters, bridges BETWEEN two old clusters
    // (min-id adoption), brand-new vertices, and untouched clusters
    // that must pass through bit-for-bit.
    val all = (0 until 80).map { i =>
      val a = (i * 7919 % 60).toLong; val b = (i * 104729 % 60).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val (oldE, newE) = all.partition(e => (e._1 + e._2) % 3 != 0)
    val oldDf = oldE.toDF("doc_a", "doc_b")
    val newDf = newE.toDF("doc_a", "doc_b")
    val stored = ConnectedComponents.components(spark, oldDf, "doc_a", "doc_b")
    val inc = asMap(ConnectedComponents.incremental(spark, stored, newDf))
    val full = asMap(ConnectedComponents.components(
      spark, oldDf.unionByName(newDf), "doc_a", "doc_b"))
    assert(inc == full)
    // an untouched cluster keeps its stored labels object-identically:
    // re-check against stored for vertices in no new edge's component
    val touched = newE.flatMap(e => Seq(e._1, e._2)).toSet
    val touchedClusters = full.filter { case (v, _) => touched(v) }.values.toSet
    val untouchedStored = asMap(stored.select(col("doc_id").cast("long").as("doc_id"),
      col("cluster").cast("long").as("cluster")))
      .filter { case (_, c) => !touchedClusters(c) }
    assert(untouchedStored.forall { case (v, c) => inc(v) == c })
    assert(untouchedStored.nonEmpty, "fixture must leave some cluster untouched")
  }
}

class SessionizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000)

  test("a gap of exactly the threshold CONTINUES the session (session_window parity)") {
    val df = Seq((1L, ts(0)), (1L, ts(100)), (1L, ts(1900)), (1L, ts(3699)),
      (1L, ts(5500))).toDF("user_id", "ts")
    // gaps: 100 (same), 1800 (same: touch merges, as session_window),
    // 1799 (same), 1801 (NEW: strictly exceeds the gap)
    val got = Sessionize.withSessionId(df, Seq("user_id"), "ts", 1800)
      .orderBy("ts").select("session_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 1L, 1L, 1L, 2L))
  }

  test("equivalent to Spark's session_window on the same events (property)") {
    // deterministic pseudo-random event set over 5 users, gap 60 s,
    // INCLUDING exact-gap adjacencies (i % 7 == 0 lands events exactly
    // 60 s apart) — the boundary that CAUGHT the original `>=`
    // divergence: session_window merges touching windows, so
    // exactly-gap events continue the session. Same session
    // partitioning = same (user, first-event, count) triples.
    val events = (0 until 200).map { i =>
      val user = (i * 7919 % 5).toLong
      val base = (i * 104729 % 40).toLong * 17
      val t = if (i % 7 == 0) base + 60 else base
      (user, ts(t))
    }.distinct
    val df = events.toDF("user_id", "ts")
    val viaOp = Sessionize.withSessionId(df, Seq("user_id"), "ts", 60)
      .groupBy("user_id", "session_id")
      .agg(min(unix_seconds(col("ts"))).as("start"), count(lit(1)).as("n"))
      .select("user_id", "start", "n")
      .as[(Long, Long, Long)].collect().toSet
    val viaSw = df
      .groupBy(col("user_id"), session_window(col("ts"), "60 seconds").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_seconds(col("sw.start")).as("start"), col("n"))
      .as[(Long, Long, Long)].collect().toSet
    assert(viaOp == viaSw)
    // merge-on-touch chains many exact-gap events together: still
    // expect a non-trivial session structure (neither one blob nor
    // one session per event)
    assert(viaOp.size >= 10 && viaOp.size < events.size,
      s"degenerate fixture: ${viaOp.size} sessions from ${events.size} events")
  }
}

class LongestCommonRunsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("variable-length runs: anchor gating, diagonal islands, exact lengths") {
    val shared = (1 to 15).map(i => s"s$i").mkString(" ") // 15-token run
    val doc1 = s"p1 p2 the $shared q1 the q2"             // 21 tokens
    val doc2 = s"r1 the r2 r3 $shared u1 u2"
    // shares only a 7-token run with doc1 (< anchorK=8): NOT a candidate
    val doc3 = "p1 p2 the s1 s2 s3 s4 x y z"
    val doc4 = doc1                                       // exact copy
    val docs = Seq((1L, doc1), (2L, doc2), (3L, doc3), (4L, doc4))
      .toDF("doc_id", "text")
    val got = Dedup.longestCommonRuns(docs, anchorK = 8, minRun = 10)
      .orderBy("doc_a", "doc_b").as[(Long, Long, Long)].collect().toSeq
    // repeated filler tokens ("the") add off-run diagonal matches that
    // must not inflate the max run
    assert(got == Seq((1L, 2L, 15L), (1L, 4L, 21L), (2L, 4L, 15L)))
  }

  test("minRun filters pairs that anchor-match but stay short") {
    val run8 = (1 to 8).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, s"a b $run8 c"), (2L, s"d $run8 e f"))
      .toDF("doc_id", "text")
    // the pair IS a candidate (shares the 8-gram anchor) but its max
    // run (8) sits below minRun=12 -> empty result
    assert(Dedup.longestCommonRuns(docs, 8, 12).count() == 0)
    // and at minRun=8 it surfaces with the exact length
    val got = Dedup.longestCommonRuns(docs, 8, 8)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 8L)))
  }
}

class ChunkDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("first corpus-wide chunk occurrence survives; docs reassemble in order") {
    // chunkWords = 3: doc 1 = [A][B], doc 2 = [B][C] (B duplicates doc 1's),
    // doc 3 = [A'] a 2-word tail chunk, unique
    val a = "a1 a2 a3"; val b = "b1 b2 b3"; val c = "c1 c2 c3"
    val docs = Seq((1L, s"$a $b"), (2L, s"$b $c"), (3L, "a1 a2"))
      .toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, 3).orderBy("doc_id")
      .select("doc_id", "n_chunks", "n_kept").as[(Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq((1L, 2L, 2L), (2L, 2L, 1L), (3L, 1L, 1L)))
  }

  test("cleaned digest reflects only surviving chunks, rejoined in document order") {
    val docs = Seq((1L, "x1 x2 y1 y2"), (2L, "x1 x2 z1 z2"))
      .toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, 2).orderBy("doc_id").collect()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // doc 1 keeps both chunks; doc 2 loses "x1 x2" (doc 1 owns it)
    assert(got(0).getAs[String]("cleaned_md5") == md5hex("x1 x2 y1 y2"))
    assert(got(1).getAs[String]("cleaned_md5") == md5hex("z1 z2"))
  }

  test("an exact duplicate doc keeps nothing; survivor tie-breaks on chunk_idx") {
    val docs = Seq((2L, "p q r"), (1L, "p q r")).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, 3).orderBy("doc_id")
      .select("doc_id", "n_kept").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 0L)))
  }
}

class CentroidOutlierSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine to own-group centroid; far rows flagged") {
    // group 0: two vectors on +x (cos to centroid 1.0) and one on -x
    val em = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(2.0f, 0.0f), 0),
      (3L, Array(-1.0f, 0.0f), 0),
      (4L, Array(0.0f, 5.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Ann.centroidOutliers(em, "label", threshold = 0.0)
      .orderBy("vec_id")
      .select("vec_id", "cos_centroid", "is_outlier")
      .as[(Long, Double, Boolean)].collect().toSeq
    // group 0 centroid = mean of unit vecs = (1/3, 0)
    assert(got(0) == ((1L, 0.333333, false)))
    assert(got(1) == ((2L, 0.333333, false)))
    assert(got(2) == ((3L, -0.333333, true)))
    // singleton group: centroid is the vector itself, cos = 1
    assert(got(3) == ((4L, 1.0, false)))
  }
}

class IncrementalDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a new doc collides with index docs sharing a band; clean docs emit nothing") {
    val body = (1 to 12).map(i => s"b$i").mkString(" ")
    val index = Seq((1L, body), (2L, s"$body tail"), (3L, "c1 c2 c3 c4 c5"))
      .toDF("doc_id", "text")
    // doc 10 duplicates doc 1's content (all bands match); doc 11 is novel
    val batch = Seq((10L, body), (11L, "z1 z2 z3 z4 z5 z6"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(Dedup.minhashSignatures(index), batch)
      .orderBy("new_doc")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(10L))          // only the colliding doc
    assert(got.head._3 == 1L)                  // earliest index hit
    assert(got.head._2 >= 1L)                  // at least doc 1 collides
  }

  test("the degenerate-bucket guard drops an oversized index bucket") {
    val boiler = (1 to 10).map(i => s"w$i").mkString(" ")
    val index = (1L to 5L).map(i => (i, boiler)).toDF("doc_id", "text")
    val batch = Seq((100L, boiler)).toDF("doc_id", "text")
    // maxBucket=3: the 5-doc boilerplate bucket is dropped -> no hits
    assert(Dedup.incrementalDedup(
      Dedup.minhashSignatures(index), batch, maxBucket = 3).count() == 0)
    // with a permissive cap the batch doc hits all 5
    val got = Dedup.incrementalDedup(
      Dedup.minhashSignatures(index), batch, maxBucket = 100)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((100L, 5L, 1L)))
  }
}
