package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** The gate probe: time registry gates in the given order, in one
  * session, pass after pass, and say where each run's wall went.
  *
  *   runMain graft.tools.OneQuery <gate[,gate...]|ALL> [dir] [passes]
  *
  * `dir` defaults to sf0.1 and `passes` to 3; `ALL` is every registry
  * gate in name order. The session is Bench's
  * ([[graft.Bench.timedSession]]). Every run is forced with a noop
  * write, not count(): count() lets Catalyst prune projection work
  * (e.g. d5's jaccard column) and measures less than the query —
  * HeavyRunner's rule. Pass 1 carries the JIT/codegen cold cost and
  * later passes show the warm floor; the gate order answers whether a
  * gate is slow by itself or only after others ran.
  *
  * One tab-separated stdout line per (pass, gate), in that order:
  *   ONEQUERY <gate> run<pass> <wall> build_s= exec_s= build_jobs=
  *     exec_jobs= persisted_rdds= tasks= cpu_s= shuffle_read_mb=
  *     shuffle_write_mb= spill_mb= max_task_s= plan=<Operator:n,...>
  * `wall` = build_s + exec_s. Build is `SparkEntry.queries(gate)(spark,
  * dir)`: driver-side construction plus any inner actions (bounded
  * scalar collects, artifact staging). Exec is the noop write. The
  * stage totals cover both phases; `persisted_rdds` is the session's
  * count after the run; `plan` is the operator census of the post-AQE
  * plan the write ran. On the last pass the top stages and that plan
  * also go to stderr.
  */
object OneQuery {

  /** One completed stage's aggregate task metrics. */
  final case class Stage(id: Int, name: String, runMs: Long, cpuMs: Long,
      spillBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      tasks: Int, maxTaskMs: Long)

  /** One (pass, gate) run. */
  final case class Run(gate: String, pass: Int, buildS: Double,
      execS: Double, buildJobs: Int, execJobs: Int, persistedRdds: Int,
      stages: Seq[Stage], census: Map[String, Int]) {
    def wall: Double = buildS + execS
    def tasks: Int = stages.map(_.tasks).sum

    def line: String = {
      def mb(f: Stage => Long) = f"${stages.map(f).sum / 1048576.0}%.1f"
      Seq(f"ONEQUERY\t$gate\trun$pass\t$wall%.3f",
        f"build_s=$buildS%.3f", f"exec_s=$execS%.3f",
        s"build_jobs=$buildJobs", s"exec_jobs=$execJobs",
        s"persisted_rdds=$persistedRdds", s"tasks=$tasks",
        f"cpu_s=${stages.map(_.cpuMs).sum / 1e3}%.3f",
        s"shuffle_read_mb=${mb(_.shuffleReadBytes)}",
        s"shuffle_write_mb=${mb(_.shuffleWriteBytes)}",
        s"spill_mb=${mb(_.spillBytes)}",
        f"max_task_s=${stages.map(_.maxTaskMs).maxOption.getOrElse(0L) / 1e3}%.3f",
        "plan=" + census.toSeq.sorted.map { case (k, v) => s"$k:$v" }
          .mkString(",")).mkString("\t")
    }
  }

  /** Per-stage receipt collector: accumulates each completed stage's
    * aggregate task metrics, counts started jobs, and keeps the last
    * query execution that succeeded. The stage receipts separate the
    * three ways a run can inflate — spill (execution-memory pressure),
    * shuffle volume growth, and GC drag (`cpu` ≪ `run`) — without
    * attaching a profiler. Delivery is asynchronous: read it after
    * [[Bridge.drainListenerBus]]. */
  private final class StageReceipts
      extends SparkListener with QueryExecutionListener {
    private val buf = mutable.ArrayBuffer.empty[Stage]
    // per-stage max single-task run time: an inflated stage with
    // maxTask ~= stageRun/1 is one pathological task (skew / stuck
    // thread); maxTask ~= stageRun/tasks is uniform slowdown (JIT,
    // memory contention). stageInfo.taskMetrics only aggregates.
    private val maxTask = mutable.HashMap.empty[Int, Long]
    private var jobCount = 0
    private var last: Option[QueryExecution] = None

    override def onJobStart(js: SparkListenerJobStart): Unit =
      synchronized { jobCount += 1 }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (te.taskMetrics != null) synchronized {
        val r = te.taskMetrics.executorRunTime
        if (r > maxTask.getOrElse(te.stageId, 0L)) maxTask(te.stageId) = r
      }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = sc.stageInfo
        val m = i.taskMetrics
        buf += Stage(i.stageId, i.name.takeWhile(_ != '\n').take(60),
          m.executorRunTime, m.executorCpuTime / 1000000L,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, i.numTasks,
          maxTask.getOrElse(i.stageId, 0L))
      }
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      synchronized { last = Some(qe) }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()

    def jobs: Int = synchronized(jobCount)
    def stages: Seq[Stage] = synchronized(buf.toList)
    def lastExecution: Option[QueryExecution] = synchronized(last)

    /** Forget the stages and the execution seen so far. */
    def reset(): Unit = synchronized {
      buf.clear()
      maxTask.clear()
      last = None
    }
  }

  /** Operator census of an executed plan, by class name. The walk
    * enters what `children` leaves out: an adaptive plan's final plan,
    * a query stage's plan and subqueries. A reused exchange counts
    * once, without its subtree. */
  def census(plan: SparkPlan): Map[String, Int] = {
    def name(p: SparkPlan) = p.getClass.getSimpleName
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => name(q) +: walk(q.plan)
      case r: ReusedExchangeExec => Seq(name(r))
      case other =>
        name(other) +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(plan).groupBy(identity).view.mapValues(_.size).toMap
  }

  /** Run `gates` in order for `passes` passes in `spark`, print one line
    * per run (see the object doc) and return the runs. */
  def run(spark: SparkSession, gates: Seq[String], dir: String,
          passes: Int): Seq[Run] = {
    val receipts = new StageReceipts
    spark.sparkContext.addSparkListener(receipts)
    spark.listenerManager.register(receipts)
    def drain(): Unit = Bridge.drainListenerBus(spark)
    try {
      drain()
      for (p <- 1 to passes; g <- gates) yield {
        receipts.reset()
        val j0 = receipts.jobs
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(g)(spark, dir)
        val buildS = (System.nanoTime() - t0) / 1e9
        drain()
        val j1 = receipts.jobs
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val execS = (System.nanoTime() - t1) / 1e9
        drain()
        val plan = receipts.lastExecution.map(_.executedPlan)
        val r = Run(g, p, buildS, execS, j1 - j0, receipts.jobs - j1,
          spark.sparkContext.getPersistentRDDs.size, receipts.stages,
          plan.map(census).getOrElse(Map.empty))
        println(r.line)
        Console.out.flush()
        if (p == passes) {
          r.stages.sortBy(-_.runMs).take(6).foreach { s =>
            System.err.println(f"[stages $g] id=${s.id}%-4d " +
              f"run=${s.runMs / 1e3}%7.1fs cpu=${s.cpuMs / 1e3}%7.1fs " +
              f"spill=${s.spillBytes >> 20}%5d MB " +
              f"shR=${s.shuffleReadBytes >> 20}%5d MB " +
              f"shW=${s.shuffleWriteBytes >> 20}%5d MB " +
              f"tasks=${s.tasks}%3d maxTask=${s.maxTaskMs / 1e3}%6.1fs ${s.name}")
          }
          plan.foreach(pl => System.err.println(s"[plan $g]\n${pl.treeString}"))
        }
        r
      }
    } finally {
      spark.listenerManager.unregister(receipts)
      spark.sparkContext.removeSparkListener(receipts)
    }
  }

  def main(args: Array[String]): Unit = {
    val gates =
      if (args(0) == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq.filter(_.nonEmpty)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val n = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.Bench.timedSession("graft-onequery")
    spark.sparkContext.setLogLevel("ERROR")
    run(spark, gates, sfDir, n)
    SparkEntry.clearCaches(spark)
    spark.stop()
  }
}
