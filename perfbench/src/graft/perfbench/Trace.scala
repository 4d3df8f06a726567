package graft.perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark engine counters from the listener bus, accumulated from
  * attachment until read. Attached only in traced runs. */
final class Census(watchedPath: Option[String]) extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val stageSubmitMs = mutable.Map[Int, Long]()
  private val taskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

  private def add(k: String, v: Double): Unit = c(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(add("spark.jobs", 1))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitMs(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized(add("spark.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    val info = e.taskInfo
    stageSubmitMs.get(e.stageId).foreach(s => add("spark.sched_wait_s", math.max(0L, info.launchTime - s) / 1e3))
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer()) += info.duration
    val m = e.taskMetrics
    if (m != null) {
      add("spark.executor_run_s", m.executorRunTime / 1e3)
      add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  /** File scans over `watchedPath` (the sink) in each finished query. */
  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = watchedPath.foreach { path =>
    val scans = Census.fileScans(qe.executedPlan)
      .filter(_.relation.location.rootPaths.exists { r =>
        val p = r.toUri.getPath.stripSuffix("/")
        p == path || p.startsWith(path + "/")
      })
    synchronized {
      scans.foreach { s =>
        s.metrics.get("numFiles").foreach(m => add("etl.watermark.files_read", m.value.toDouble))
        s.metrics.get("filesSize").foreach(m => add("etl.watermark.bytes_read", m.value.toDouble))
      }
    }
  }

  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()

  /** Counters so far, plus the skew of the stage with the most task time. */
  def read(spark: SparkSession): Map[String, Double] = {
    BusDrain(spark.sparkContext)
    synchronized {
      val skew = if (taskMs.isEmpty) 1.0 else {
        val d = taskMs.values.maxBy(_.sum).sorted
        val median = d(d.length / 2)
        if (median > 0) d.last.toDouble / median else 1.0
      }
      c.toMap + ("spark.max_task_over_median" -> skew)
    }
  }

  def reset(spark: SparkSession): Unit = {
    BusDrain(spark.sparkContext)
    synchronized { c.clear(); taskMs.clear() }
  }
}

object Census {
  /** Every file scan in a physical plan, through adaptive plans, query
    * stages, command wrappers and subqueries (a reused exchange is
    * counted where it was first planned). */
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries
    }
    (p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }) ++ kids.flatMap(fileScans)
  }

  def attach(spark: SparkSession, c: Census): Unit = {
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
  }

  def detach(spark: SparkSession, c: Census): Unit = {
    BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
  }
}

/** One timed region: name, start, end and the span that caused it,
  * with the census counters that moved inside it. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
                      counts: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around calls into each layer, in memory; the caller
  * writes them out once, at the end of the run. */
final class Tracer(spark: SparkSession, census: Census) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val before = census.read(spark)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      val after = census.read(spark)
      val delta = after.map { case (k, v) =>
        k -> (if (k == "spark.max_task_over_median") v else v - before.getOrElse(k, 0.0))
      }
      spans += Span(id, name, parent, t0, t1, delta)
    }
  }

  /** Build, plan and execute spans of one DataFrame-returning call; the
    * execute phase materializes every column through a no-op write. */
  def phases(prefix: String)(build: => org.apache.spark.sql.DataFrame): Unit = {
    val df = span(s"$prefix.build")(build)
    span(s"$prefix.plan")(df.queryExecution.executedPlan)
    span(s"$prefix.exec")(df.write.format("noop").mode("overwrite").save())
  }

  def seconds(name: String): Seq[Double] = spans.filter(_.name == name).map(_.seconds).toSeq

  def json(t0: Long): String = spans.map { s =>
    val counts = s.counts.toSeq.sortBy(_._1).map { case (k, v) => s"\"$k\":${Json.num(v)}" }.mkString(",")
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_s":${Json.num((s.startNs - t0) / 1e9)},"end_s":${Json.num((s.endNs - t0) / 1e9)},""" +
      s""""counts":{$counts}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
