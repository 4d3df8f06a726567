package graft.perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{ActivityPipeline, ActivitySink, StravaEtl, StravaSchemas}
import graft.operators.{Ann, Dedup, Interpolation, TriangularRolling}
import graft.sources.StravaJsonSource

/** Result of the output checks on one job: the failure, if any, and each
  * stage's recall against its ground truth. */
final case class Outcome(failure: Option[String], recall: Map[String, Double],
                         outputBytes: Long, outputFiles: Long) {
  /** The product of the stages' recalls: a relative loss in any one
    * stage is the same relative loss here. */
  def quality: Double = recall.values.product
}

/** One workload after set-up: inputs on disk, untimed state staged. */
trait Prepared {
  /** Stated input size: stream samples, documents or corpus vectors. */
  def inputRows: Long
  def inputBytes: Long
  /** Untimed: puts the state back to what set-up left. */
  def restore(): Unit
  /** The timed job: one call chain into the engine's public entry points,
    * from inputs on disk to a committed result. */
  def job(): Unit
  /** Untimed output checks on the job just run. */
  def check(): Outcome
  /** Traced run only: calls into each layer, each inside its own span;
    * returns the layer counts the spans do not carry. */
  def layers(tr: Tracer): Map[String, Double]
  /** The sink whose scans the census counts as watermark reads. */
  def watchedPath: Option[String] = None
}

trait Workload {
  def name: String
  def setup(spark: SparkSession, seed: Long, dir: File): Prepared
}

object Workloads {
  /** Injected clock (2026-01-01T00:00:00Z); every activity lies within two years before it. */
  val nowEpoch = 1767225600L

  def all: Seq[Workload] = Seq(StravaBackfill, DedupAnn)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def countedNoop(df: DataFrame): Long = {
    val obs = Observation("rows")
    noop(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  def bytes(files: Map[String, Long]): Long = files.values.sum

  /** Untimed staging of an earlier stage's output, as parquet under `stage`. */
  def staged(spark: SparkSession, stage: File, name: String, df: DataFrame): DataFrame = {
    val p = new File(stage, name).getPath
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }
}

import Workloads._

/** Full-history load of every user's activities into an empty sink:
  * the reference pipeline (E1) at the entry point it is called through. */
object StravaBackfill extends Workload {
  val name = "strava_backfill"
  /** Activity lengths in seconds, one per user: fixed, so the cost does
    * not move with the seed (the interpolation frame is quadratic in
    * activity length); the seed moves values, gaps and start times. */
  val durations: Seq[Int] = Seq(1200, 1500, 1800)

  def plans(seed: Long): Seq[Gen.ActPlan] = {
    val r = new Random(seed)
    val normal = durations.zipWithIndex.map { case (d, i) =>
      Gen.ActPlan(100L + i, i % Gen.users.length, nowEpoch - 40 * 86400L + i * 86400L + r.nextInt(36000), d)
    }
    normal :+ Gen.ActPlan(200L, 0, nowEpoch - 5 * 86400L, 300, bypass = true) :+
      Gen.ActPlan(201L, 1, nowEpoch - 4 * 86400L, 300, valid = false)
  }

  /** The next day's activity, for the traced run's daily sync. */
  def nextDay: Gen.ActPlan = Gen.ActPlan(300L, 2, nowEpoch - 2 * 86400L, 240)

  def setup(spark: SparkSession, seed: Long, dir: File): Prepared = {
    val files = Seq("activities", "streams", "next_activities", "next_streams")
      .map(n => new Gen.Sink(new File(dir, s"$n.json")))
    val infos = Gen.strava(seed, plans(seed) :+ nextDay,
      Seq((files(0), files(1), _ != nextDay), (files(2), files(3), _ => true)))
    files.foreach(_.close())
    new Backfill(spark, dir, infos.filter(_.id != nextDay.id))
  }
}

final class Backfill(spark: SparkSession, dir: File, infos: Seq[Gen.ActInfo]) extends Prepared {
  val acts = new File(dir, "activities.json")
  val streams = new File(dir, "streams.json")
  val sink = new File(dir, "sink")
  val inputRows: Long = infos.map(_.samples.toLong).sum
  def inputBytes: Long = acts.length() + streams.length()
  override def watchedPath: Option[String] = Some(sink.getAbsolutePath)
  private var digest: Option[String] = None

  def restore(): Unit = Io.deleteTree(sink)

  def job(): Unit =
    StravaEtl.addHistoryData(spark, acts.getPath, streams.getPath, sink.getPath, nowEpoch)

  def check(): Outcome = {
    val fail = scala.collection.mutable.ArrayBuffer[String]()
    val expected = infos.filter(_.valid).map(a => a.id -> a).toMap
    val got = spark.read.parquet(sink.getPath)
      .select(col("id"), size(col("streams")), col("maxs")).collect()
    if (got.length != expected.size || got.map(_.getLong(0)).toSet != expected.keySet)
      fail += s"sink rows ${got.map(_.getLong(0)).sorted.mkString(",")} != activities ${expected.keys.toSeq.sorted.mkString(",")}"
    val lengthOk = got.count { r =>
      expected.get(r.getLong(0)).exists { a =>
        val want = if (a.bypass) a.samples.toLong else a.lastTime + 1
        val ok = r.getInt(1) == want
        if (!ok) fail += s"activity ${a.id}: ${r.getInt(1)} stream rows, want $want"
        ok
      }
    }
    val d = Checks.maximaDigest(got.map(r => r.getLong(0) -> r.getSeq[Row](2).head).toSeq)
    fail ++= Checks.sameAsFirst("maxima digest", digest, d)
    if (digest.isEmpty) digest = Some(d)
    val files = Io.dataFiles(sink)
    Outcome(fail.headOption, Map("activities_loaded" -> lengthOk.toDouble / expected.size),
      bytes(files), files.size.toLong)
  }

  /** The read side: the next day's sync over the loaded sink must
    * append exactly the one new activity. */
  def dailySync(around: (=> Unit) => Unit = body => body): Option[String] = {
    val before = spark.read.parquet(sink.getPath).select("id").collect().map(_.getLong(0))
    around(StravaEtl.addHistoryData(spark, new File(dir, "next_activities.json").getPath,
      new File(dir, "next_streams.json").getPath, sink.getPath, nowEpoch))
    val ids = spark.read.parquet(sink.getPath).select("id").collect().map(_.getLong(0))
    if (ids.length == before.length + 1 && ids.count(_ == StravaBackfill.nextDay.id) == 1) None
    else Some(s"the daily sync took the sink from ids ${before.sorted.mkString(",")} to " +
      s"${ids.sorted.mkString(",")}, want one more: ${StravaBackfill.nextDay.id}")
  }

  def layers(tr: Tracer): Map[String, Double] = {
    val stage = new File(dir, "stage")
    def staged(name: String, df: DataFrame) = Workloads.staged(spark, stage, name, df)
    dailySync(body => tr.span("etl.daily_sync")(body)).foreach(f => throw new IllegalStateException(f))
    tr.span("sources.activities")(noop(StravaJsonSource.activities(spark, acts.getPath, nowEpoch.toDouble)))
    val rowsOut = tr.span("sources.streams")(countedNoop(StravaJsonSource.streams(spark, streams.getPath)))
    val batchActs = StravaJsonSource.activities(spark, acts.getPath, nowEpoch.toDouble)
      .filter(col("_valid")).drop("_valid")
    val batchStreams = StravaJsonSource.streams(spark, streams.getPath)
    tr.phases("etl.process")(ActivityPipeline.process(batchActs, batchStreams, nowEpoch))
    val dense = staged("dense", ActivityPipeline.densify(ActivityPipeline.tagStreams(batchActs, batchStreams)))
    def interp(df: DataFrame) = Interpolation.interpolate(df, Seq("activity_id"), "time_key",
      StravaSchemas.numericChannels, passthrough = Some(col("__bypass")))
    tr.span("operators.interpolation")(noop(interp(dense)))
    val interpolated = staged("interp", interp(dense).withColumn("time_new", col("time_key")))
    tr.span("operators.rolling")(noop(TriangularRolling.triangMeansFast(interpolated,
      Seq("activity_id"), Seq("time_new"), Seq("heartrate", "watts", "velocity_smooth"),
      StravaSchemas.rollingWindows)))
    val rows = staged("rows", ActivityPipeline.process(batchActs, batchStreams, nowEpoch))
    tr.span("etl.sink.append")(ActivitySink.append(rows, new File(stage, "sink").getPath))
    Io.deleteTree(stage)
    Map("sources.streams.rows_out" -> rowsOut.toDouble)
  }
}

/** The LLM-data operators as one job: dedup a planted near-duplicate
  * corpus, then run PQ search over a perturbed-copy embedding corpus. */
object DedupAnn extends Workload {
  val name = "dedup_chain_ann_pq"

  def setup(spark: SparkSession, seed: Long, dir: File): Prepared = {
    val stages = Seq(DedupChain.prepare(spark, seed, new File(dir, "dedup")),
      AnnPq.prepare(spark, seed, new File(dir, "ann")))
    new Prepared {
      val inputRows: Long = stages.map(_.inputRows).sum
      def inputBytes: Long = stages.map(_.inputBytes).sum
      def restore(): Unit = stages.foreach(_.restore())
      def job(): Unit = stages.foreach(_.job())
      def check(): Outcome = {
        val o = stages.map(_.check())
        Outcome(o.flatMap(_.failure).headOption, o.flatMap(_.recall).toMap,
          o.map(_.outputBytes).sum, o.map(_.outputFiles).sum)
      }
      def layers(tr: Tracer): Map[String, Double] = stages.map(_.layers(tr)).reduce(_ ++ _)
    }
  }
}

/** MinHash -> LSH -> n-gram verify -> keep-list over a planted near-duplicate corpus. */
object DedupChain {
  val baseDocs = 1000
  val plantedGroups = 500

  def prepare(spark: SparkSession, seed: Long, dir: File): Prepared = {
    dir.mkdirs()
    val docsFile = new File(dir, "documents.parquet")
    val (pairs, groups) = Gen.documents(spark, seed, baseDocs, plantedGroups,
      docsFile, new File(dir, "planted_pairs.csv"))
    val out = new File(dir, "keep")
    // a doc may be dropped only as a non-canonical member of its planted group
    val droppable = groups.flatMap(g => g.filterNot(_ == g.min)).toSet
    new Prepared {
      private var recall: Option[Double] = None
      def docs: DataFrame = spark.read.parquet(docsFile.getPath)
      val inputRows: Long = docs.count()
      def inputBytes: Long = docsFile.length()
      def restore(): Unit = Io.deleteTree(out)
      def verified(pairs: DataFrame): DataFrame =
        Dedup.ngramJaccard(docs, pairs).filter(col("jaccard") >= 0.35).select("doc_a", "doc_b")
      def job(): Unit = {
        val d = docs
        Dedup.keepList(spark, d, verified(Dedup.lshPairs(Dedup.minhashSignatures(d))))
          .write.parquet(out.getPath)
      }
      def check(): Outcome = {
        val kept = spark.read.parquet(out.getPath).select("doc_id").collect().map(_.getLong(0)).toSet
        val r = Checks.pairRecall(pairs, kept)
        val fail = Checks.dedupFailure(inputRows, kept, droppable)
          .orElse(Checks.sameAsFirst("dedup recall", recall, r))
        if (recall.isEmpty) recall = Some(r)
        val files = Io.dataFiles(out)
        Outcome(fail, Map("dedup_pair_recall" -> r), bytes(files), files.size.toLong)
      }
      def layers(tr: Tracer): Map[String, Double] = {
        val stage = new File(dir, "stage")
        def staged(name: String, df: DataFrame) = Workloads.staged(spark, stage, name, df)
        tr.span("functions.minhash")(noop(Dedup.minhashSignatures(docs)))
        val sig = staged("sig", Dedup.minhashSignatures(docs))
        val cand = tr.span("operators.dedup.lsh")(countedNoop(Dedup.lshPairs(sig)))
        val candPairs = staged("pairs", Dedup.lshPairs(sig))
        val ver = tr.span("operators.dedup.verify")(countedNoop(verified(candPairs)))
        val verPairs = staged("verified", verified(candPairs))
        tr.span("operators.dedup.cluster")(noop(Dedup.keepList(spark, docs, verPairs)))
        Io.deleteTree(stage)
        Map("operators.dedup.lsh.candidate_pairs" -> cand.toDouble,
          "operators.dedup.verify.yield" -> (if (cand > 0) ver.toDouble / cand else 0.0))
      }
    }
  }
}

/** PQ/ADC top-5 (n8's parameters) for a fixed query set over a perturbed-copy corpus. */
object AnnPq {
  val baseVectors = 200
  val copies = 4
  val queries = 150
  val (m, subDim, k, iters, topK) = (2, 32, 16, 1, 5)
  val queryPred = col("vec_id") < queries

  def prepare(spark: SparkSession, seed: Long, dir: File): Prepared = {
    dir.mkdirs()
    val file = new File(dir, "embeddings.parquet")
    Gen.embeddings(spark, seed, baseVectors, copies, file)
    val out = new File(dir, "topk")
    new Prepared {
      private var recall: Option[Double] = None
      private lazy val exact = Ann.bruteForceTopK(em, queryPred, topK).localCheckpoint()
      def em: DataFrame = spark.read.parquet(file.getPath)
      val inputRows: Long = baseVectors.toLong * (1 + copies)
      def inputBytes: Long = file.length()
      def restore(): Unit = Io.deleteTree(out)
      def job(): Unit =
        Ann.pqTopK(em, m, subDim, k, iters, queryPred, topK).write.parquet(out.getPath)
      def check(): Outcome = {
        val got = spark.read.parquet(out.getPath)
        val hits = Ann.recallAtK(got, exact, topK).agg(sum("n_hits")).head().getLong(0)
        val r = hits.toDouble / (queries * topK)
        val n = got.count()
        val fail = (if (n != queries * topK) Some(s"top-k holds $n rows, want ${queries * topK}") else None)
          .orElse(Checks.sameAsFirst("ann recall", recall, r))
        if (recall.isEmpty) recall = Some(r)
        val files = Io.dataFiles(out)
        Outcome(fail, Map("ann_recall_at_5" -> r), bytes(files), files.size.toLong)
      }
      def layers(tr: Tracer): Map[String, Double] = {
        (0 until m).foreach { s =>
          val sub = em.select(col("vec_id"), slice(col("embedding"), s * subDim + 1, subDim).as("embedding"))
          val cb = tr.span("operators.ann.kmeans")(Ann.kmeansCentroids(sub, k, iters).collect())
          val cbDf = spark.createDataFrame(java.util.Arrays.asList(cb: _*), cb.head.schema)
          tr.span("operators.ann.assign")(noop(Ann.clusterAssignment(sub, cbDf)))
        }
        tr.span("operators.ann.pq_search")(noop(Ann.pqTopK(em, m, subDim, k, iters, queryPred, topK)))
        Map.empty
      }
    }
  }
}
