package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** KCore pinned on closed-form graphs (where the core is provable),
  * the cascade depth fixed rounds must respect, idempotence past the
  * fixpoint, and a driver-side reference peel on a random graph. */
class KCoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Symmetrize an undirected edge list. */
  private def sym(es: Seq[(Long, Long)]) =
    (es ++ es.map(_.swap)).toDF("src", "dst")

  private def run(es: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, (Boolean, Long)] =
    KCore.corePeel(sym(es), k, rounds).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap

  /** Driver-side peel to fixpoint. */
  private def ref(es: Seq[(Long, Long)], k: Int): (Set[Long], Int) = {
    val adj = (es ++ es.map(_.swap)).groupBy(_._1).map { case (n, ps) =>
      n -> ps.map(_._2).toSet
    }
    var surv: Set[Long] = adj.keySet
    var roundsUsed = 0
    var changed = true
    while (changed) {
      val next = surv.filter(n => (adj(n) & surv).size >= k)
      changed = next != surv
      if (changed) roundsUsed += 1
      surv = next
    }
    (surv, roundsUsed)
  }

  private val path5 = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
  private val cycle5 = path5 :+ (5L -> 1L)
  private val clique4 =
    Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)

  test("2-core of a cycle is the whole cycle, of a path is empty") {
    val c = run(cycle5, 2, 5)
    assert(c.values.forall(_ == ((true, 2L))))
    val p = run(path5, 2, 5)
    assert(p.values.forall(_ == ((false, 0L))))
  }

  test("a path peels ONE layer per round — cascade depth is real") {
    // P5, k=2: round 1 drops ends {1,5}; round 2 drops {2,4};
    // round 3 drops {3}. After 1 round the middle still survives.
    val after1 = run(path5, 2, 1)
    assert(after1.filter(_._2._1).keySet == Set(2L, 3L, 4L))
    val after2 = run(path5, 2, 2)
    assert(after2.filter(_._2._1).keySet == Set(3L))
    val after3 = run(path5, 2, 3)
    assert(after3.values.forall(!_._1))
  }

  test("K4: 3-core is everything, 4-core is nothing") {
    assert(run(clique4, 3, 3).values.forall(_ == ((true, 3L))))
    assert(run(clique4, 4, 3).values.forall(_ == ((false, 0L))))
  }

  test("star: leaves peel first, then the stranded center") {
    val star = Seq(10L -> 1L, 10L -> 2L, 10L -> 3L, 10L -> 4L)
    val after1 = run(star, 2, 1)
    assert(after1.filter(_._2._1).keySet == Set(10L))  // center deg 4 survives
    assert(run(star, 2, 2).values.forall(!_._1))       // then strands
  }

  test("rounds past the fixpoint are no-ops") {
    assert(run(cycle5, 2, 2) == run(cycle5, 2, 9))
    assert(run(clique4, 3, 1) == run(clique4, 3, 7))
  }

  test("fixed rounds >= cascade depth equals the driver-side fixpoint") {
    // deterministic pseudo-random graph on 24 nodes
    val es = (for (a <- 1L to 24L; b <- a + 1 to 24L
                   if (a * 31 + b * 17) % 5 == 0) yield (a, b)).toSeq
    for (k <- Seq(2, 3, 4)) {
      val (want, depth) = ref(es, k)
      val got = run(es, k, depth + 1)
      assert(got.filter(_._2._1).keySet == want, s"k=$k")
      // survivor core degrees match the induced-subgraph degree
      val adj = (es ++ es.map(_.swap)).groupBy(_._1)
        .map { case (n, ps) => n -> ps.map(_._2).toSet }
      want.foreach { n =>
        assert(got(n)._2 == (adj(n) & want).size.toLong)
      }
    }
  }

  test("repeated g41_kcore calls each leave the same two pins, whatever the rounds") {
    // Each call's result reads two pinned frames: the first round (every
    // node) and the final survivors. Superseded rounds are released as
    // soon as the next one is materialized, so what a call leaves does
    // not grow with the rounds it ran.
    val dir = "/root/testdata/sf0.001"
    def persistent = spark.sparkContext.getPersistentRDDs.size
    def g41(): Unit = { graft.SparkEntry.queries("g41_kcore")(spark, dir).collect(); () }
    try {
      g41() // builds the session's trade-edge index
      val left = (1 to 3).map { _ =>
        val before = persistent
        g41()
        persistent - before
      }
      assert(left == Seq(2, 2, 2), s"persistent RDDs left per g41 call: $left")
      // P9 at k=2 peels one layer per round: four rounds, still two pins
      val before = persistent
      val path9 = (1L to 8L).map(i => i -> (i + 1))
      assert(run(path9, 2, 4).count(_._2._1) == 1)
      assert(persistent - before == 2)
    } finally graft.SparkEntry.clearCaches(spark)
  }
}
