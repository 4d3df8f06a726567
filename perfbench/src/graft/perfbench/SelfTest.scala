package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own tests: the generator is deterministic, and every
  * output check rejects a corrupted output. Prints one line per test and
  * a JSON summary last; exits 1 if any test failed.
  *
  *   python3 perfbench/run.py --self-test
  */
object SelfTest {

  private var failures = List.empty[String]
  private var passed = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Exception => System.err.println(e); false }
    if (r) { passed += 1; println(s"ok   $name") }
    else { failures ::= name; println(s"FAIL $name") }
  }

  /** sha256 of every generated input file under a set-up dir. */
  private def inputs(dir: File): Map[String, String] =
    Io.files(dir).keys.filter(k => Seq(".json", ".parquet", ".csv").exists(k.endsWith))
      .map(k => k -> Io.sha256(new File(dir, k))).toMap

  /** Replaces a parquet output directory by `f` of its contents. */
  private def rewrite(spark: SparkSession, dir: File, partitionBy: Seq[String])(f: DataFrame => DataFrame): Unit = {
    val tmp = new File(dir.getPath + ".bad")
    f(spark.read.parquet(dir.getPath)).write.partitionBy(partitionBy: _*).parquet(tmp.getPath)
    Io.deleteTree(dir)
    require(tmp.renameTo(dir))
  }

  private def rejects(p: Prepared): Boolean = p.check().failure.isDefined

  def main(argv: Array[String]): Unit = {
    val work = new File(argv.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(throw new IllegalArgumentException("missing --work"))).getAbsoluteFile
    work.mkdirs()
    val spark = Main.session(work)
    def setup(w: Workload, seed: Long, name: String): (Prepared, File) = {
      val d = new File(work, name); d.mkdirs()
      (w.setup(spark, seed, d), d)
    }

    Workloads.all.foreach { w =>
      val (_, a) = setup(w, 7, s"${w.name}-a")
      val (_, b) = setup(w, 7, s"${w.name}-b")
      val (_, c) = setup(w, 8, s"${w.name}-c")
      val (ia, ib, ic) = (inputs(a), inputs(b), inputs(c))
      test(s"${w.name}: same seed, byte-identical inputs")(ia.nonEmpty && ia == ib)
      test(s"${w.name}: other seed, different inputs")(ia.keySet == ic.keySet && ia.forall { case (k, v) => ic(k) != v })
      Seq(a, b, c).foreach(Io.deleteTree)
    }

    { // strava_backfill
      val (p, d) = setup(StravaBackfill, 3, "backfill")
      val sink = new File(d, "sink")
      def fresh(): Unit = { p.restore(); p.job() }
      fresh()
      test("strava_backfill: a correct sink passes")(p.check().failure.isEmpty)
      test("strava_backfill: a lost sink file is rejected") {
        Io.dataFiles(sink).keys.find(_.endsWith(".parquet")).foreach(k => new File(sink, k).delete())
        rejects(p)
      }
      fresh()
      test("strava_backfill: a short streams array is rejected") {
        rewrite(spark, sink, Seq("activity_date"))(df =>
          df.withColumn("streams", when(col("id") === 100L, slice(col("streams"), 1, 10))
            .otherwise(col("streams"))))
        rejects(p)
      }
      fresh()
      test("strava_backfill: changed maxima are rejected") {
        rewrite(spark, sink, Seq("activity_date"))(df =>
          df.withColumn("maxs", transform(col("maxs"),
            m => m.withField("max_hr_5", m.getField("max_hr_5") + 0.001))))
        rejects(p)
      }
      fresh()
      test("strava_backfill: the daily sync appends exactly the new activity")(
        p.asInstanceOf[Backfill].dailySync().isEmpty)
      fresh()
      test("strava_backfill: a daily sync that appends more is rejected") {
        // losing the newest partition lowers a user's watermark, so the
        // sync loads that activity again
        val newest = Io.dataFiles(sink).keys.filter(_.endsWith(".parquet")).max
        new File(sink, newest).delete()
        p.asInstanceOf[Backfill].dailySync().isDefined
      }
      Io.deleteTree(d)
    }

    { // dedup_chain
      val d = new File(work, "dedup")
      val p = DedupChain.prepare(spark, 3, d)
      val out = new File(d, "keep")
      p.restore(); p.job()
      test("dedup_chain: a correct keep-list passes")(p.check().failure.isEmpty)
      val planted = scala.io.Source.fromFile(new File(d, "planted_pairs.csv")).getLines().drop(1)
        .map(_.split(',').map(_.toLong)).toSeq
      val inPairs = planted.flatten.toSet
      test("dedup_chain: dropping an unrelated document is rejected") {
        val unrelated = (0L until p.inputRows).find(id => !inPairs(id)).get
        rewrite(spark, out, Nil)(_.filter(col("doc_id") =!= unrelated))
        rejects(p)
      }
      p.restore(); p.job()
      test("dedup_chain: a changed recall is rejected") {
        val kept = spark.read.parquet(out.getPath).collect().map(_.getAs[Long]("doc_id")).toSet
        val keptCopy = planted.map(_(1)).find(id => !kept(id)).get
        rewrite(spark, out, Nil)(df => df.unionByName(
          spark.read.parquet(new File(d, "documents.parquet").getPath).filter(col("doc_id") === keptCopy)))
        rejects(p)
      }
      Io.deleteTree(d)
    }

    { // ann_pq
      val d = new File(work, "ann")
      val p = AnnPq.prepare(spark, 3, d)
      val out = new File(d, "topk")
      p.restore(); p.job()
      test("ann_pq: a correct top-k passes")(p.check().failure.isEmpty)
      test("ann_pq: a missing row is rejected") {
        rewrite(spark, out, Nil)(_.filter(!(col("qid") === 0L && col("rnk") === 5L)))
        rejects(p)
      }
      p.restore(); p.job()
      test("ann_pq: a changed recall is rejected") {
        rewrite(spark, out, Nil)(_.withColumn("neighbor_id",
          when(col("qid") === 0L, col("neighbor_id") + 1000000L).otherwise(col("neighbor_id"))))
        rejects(p)
      }
      Io.deleteTree(d)
    }

    spark.stop()
    Io.deleteTree(work)
    println(s"""{"passed":$passed,"failed":${failures.size}}""")
    if (failures.nonEmpty) sys.exit(1)
  }
}
