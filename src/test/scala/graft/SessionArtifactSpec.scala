package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SessionArtifact.Kind

class SessionArtifactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Run `f` on `n` threads released together; their results. */
  private def race[T](n: Int)(f: => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val go = new CountDownLatch(1)
      val fs = Seq.fill(n)(Future { go.await(); f })
      go.countDown()
      Await.result(Future.sequence(fs), 2.minutes)
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  test("racing first calls run ONE build and share its value") {
    val builds = new AtomicInteger
    val released = new AtomicInteger
    val a = SessionArtifact[String, AnyRef]("raceProbe",
      new Kind[AnyRef](_ => (), _ => { released.incrementAndGet(); () })) {
      (_, _) => builds.incrementAndGet(); Thread.sleep(200); new Object
    }
    val got = race(4)(a(spark, "k"))
    assert(builds.get === 1)
    assert(got.forall(_ eq got.head))
    a.release(spark)
    assert(released.get === 1, "the one build is released exactly once")
    assert(a.get(spark, "k").isEmpty)
  }

  test("a build that throws leaves no entry; the next call builds again") {
    val calls = new AtomicInteger
    val a = SessionArtifact[String, String]("failProbe", Kind.metadata) {
      (_, k) => if (calls.incrementAndGet() == 1) sys.error("boom") else k
    }
    intercept[RuntimeException](a(spark, "k"))
    assert(a.keys(spark).isEmpty)
    assert(a(spark, "k") === "k" && calls.get === 2)
    a.release(spark)
    assert(a.keys(spark).isEmpty)
  }

  test("release(which) releases only the selected keys of one artifact") {
    val released = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val kind = new Kind[Int](_ => (), v => { released.add(v); () })
    val a = SessionArtifact[Int, Int]("selectProbe", kind)((_, k) => k)
    val b = SessionArtifact[Int, Int]("otherProbe", kind)((_, k) => k + 100)
    (1 to 4).foreach(k => { a(spark, k); b(spark, k) })
    a.release(spark, _ % 2 == 0)
    assert(a.keys(spark).sorted === Seq(1, 3))
    assert(b.keys(spark).sorted === Seq(1, 2, 3, 4))
    a.release(spark); b.release(spark)
    assert(released.toArray.toSeq.map(_.asInstanceOf[Int]).sorted ===
      Seq(1, 2, 3, 4, 101, 102, 103, 104))
  }

  test("GlobalRank: racing identical first calls pin ONE sorted copy") {
    SparkEntry.clearCaches(spark)
    val df = spark.range(0, 3000).select((col("id") * 7919 % 1013).as("score"),
      col("id"))
    val before = spark.sparkContext.getPersistentRDDs.size
    val counts = race(4)(operators.GlobalRank.withGlobalRank(
      df, "rk", Seq(col("score"), col("id")), numPartitions = Some(5)).count())
    assert(counts.forall(_ == 3000L))
    assert(spark.sparkContext.getPersistentRDDs.size === before + 1,
      "a losing build stayed persisted")
    SparkEntry.clearCaches(spark)
    assert(spark.sparkContext.getPersistentRDDs.size === before)
  }

  test("Checkpoints.scope releases only the pins made inside it") {
    SparkEntry.clearCaches(spark)
    def persisted = spark.sparkContext.getPersistentRDDs.size
    val before = persisted
    val outer = operators.Checkpoints.pin(spark.range(10).toDF())
    operators.Checkpoints.scope(spark) {
      operators.Checkpoints.pin(spark.range(20).toDF()).count()
      assert(persisted === before + 2)
    }
    assert(persisted === before + 1)
    assert(outer.count() === 10L, "the outer pin is still readable")
    SparkEntry.clearCaches(spark)
    assert(persisted === before)
  }
}
