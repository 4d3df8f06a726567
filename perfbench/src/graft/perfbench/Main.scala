package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  * Closed loop: one client submits a job, waits for it and checks its
  * output, then submits the next, on a `local[N]` session (N = min(4,
  * cores)). Set-up (session start, input generation, staging) runs once;
  * the comparison takes the median over runs. One untimed warm-up job
  * runs first; then timed jobs run until `--seconds` of job time is
  * measured (three at least). `--trace 0` prints the end-to-end metrics;
  * `--trace 1` instead interleaves traced and untraced jobs, probes every layer,
  * prints the per-layer metrics and writes the spans to
  * `<trace-dir>/<workload>-seed<seed>.json`.
  *
  * The last line of standard output is the result JSON.
  */
object Main {

  val warmups = 1
  /** Jobs stop starting after this much process time, well inside 180 s. */
  val deadlineS = 140.0

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, traceDir: File)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")).getAbsoluteFile, new File(m.getOrElse("trace-dir", need("work"))).getAbsoluteFile)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(work: File): SparkSession = {
    // adaptive execution on, as in graft.Bench; but one shuffle partition
    // per core rather than Bench's 32, so that the small per-job shuffles
    // of these closed-loop jobs do not pay for 32 mostly empty tasks each.
    // Scratch space stays inside the work directory.
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def machine(): Map[String, String] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors().toString,
    "local_n" -> cores.toString,
    "heap_max_mb" -> (Runtime.getRuntime.maxMemory() / (1 << 20)).toString,
    "jdk" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "loadavg" -> f"${ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage}%.2f")

  /** CPU ticks (steal, total) from /proc/stat, where there is one: a
    * virtual machine's steal share says how much of the run the host
    * gave to other guests. */
  def cpuTicks(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    Some((if (f.length > 7) f(7) else 0L, f.sum))
  } catch { case _: Exception => None }

  /** Peak heap a job keeps live: the largest heap occupancy right
    * after any garbage collection during the job (occupancy between
    * collections is mostly dead young objects and tracks the young
    * generation's size, not the job). A job that triggers no
    * collection reports the occupancy at its end. */
  final class HeapWatch {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import scala.jdk.CollectionConverters._
    @volatile private var watching = false
    @volatile private var peak = -1L
    private val listener: NotificationListener = (n, _) =>
      if (watching && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if ManagementFactory.getMemoryPoolMXBeans.asScala
            .exists(b => b.getName == pool && b.getType == java.lang.management.MemoryType.HEAP) => u.getUsed
        }.sum
        synchronized { peak = math.max(peak, after) }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))
    def start(): Unit = synchronized { peak = -1L; watching = true }
    def stopMb(): Double = {
      watching = false
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      synchronized { (if (peak < 0) used else peak) / 1048576.0 }
    }
  }

  final class Counts { var attempted = 0; var failed = 0 }

  def main(argv: Array[String]): Unit = {
    val t00 = System.nanoTime()
    def elapsed = (System.nanoTime() - t00) / 1e9
    val a = parse(argv)
    val wl = Workloads.byName(a.workload).getOrElse {
      System.err.println(s"unknown workload ${a.workload}; one of ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val stampStart = machine()
    val ticksStart = cpuTicks()
    a.work.mkdirs()

    // ---- set-up: session start, input generation, staging ----
    val inputs = new File(a.work, "inputs")
    inputs.mkdirs()
    val setupT0 = System.nanoTime()
    val spark = session(a.work)
    val prepared = wl.setup(spark, a.seed, inputs)
    val setupS = (System.nanoTime() - setupT0) / 1e9

    val counts = new Counts
    val heap = new HeapWatch
    /** Restore, run and check one job: its wall time and peak heap, if it
      * ran. Every job starts from the same state: restored outputs and a
      * heap just collected, so no job pays for its predecessor's garbage. */
    def runJob(body: => Unit): Option[Job] = {
      prepared.restore()
      System.gc()
      counts.attempted += 1
      heap.start()
      val t0 = System.nanoTime()
      try {
        body
        val wall = (System.nanoTime() - t0) / 1e9
        val peak = heap.stopMb()
        val out = try prepared.check() catch {
          case e: Exception => Outcome(Some(s"check threw $e"), Map.empty, 0L, 0L)
        }
        out.failure.foreach { f => counts.failed += 1; System.err.println(s"[perfbench] check failed: $f") }
        Some(Job(wall, peak, out))
      } catch {
        case e: Exception =>
          heap.stopMb()
          counts.failed += 1
          System.err.println(s"[perfbench] job failed: $e")
          None
      }
    }

    // ---- untimed warm-up: the first job pays code generation and JIT
    // compilation (about 2x a warm job); the next is within ~15 % of the
    // ones after it, a drift the median of the timed jobs absorbs ----
    val warm = (1 to warmups).map(_ => runJob(prepared.job()).map(_.wall).getOrElse(0.0))
    System.err.println(f"[perfbench] setup $setupS%.2f s; warm-up ${warm.map(w => f"$w%.2f").mkString(" ")} s")

    val (metrics, spans) =
      if (!a.trace) (endToEnd(a, prepared, setupS, runJob, () => elapsed), None)
      else perLayer(a, spark, prepared, runJob, counts, () => elapsed)

    val stampEnd = machine()
    val steal = for ((s0, t0) <- ticksStart; (s1, t1) <- cpuTicks() if t1 > t0)
      yield f"${(s1 - s0).toDouble / (t1 - t0)}%.4f"
    val stamp = (stampStart.removed("loadavg") ++ Map(
      "loadavg_start" -> stampStart("loadavg"), "loadavg_end" -> stampEnd("loadavg"),
      "cpu_steal_share" -> steal.getOrElse("n/a")))
      .toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    println(s"machine $stamp")
    spans.foreach { js =>
      a.traceDir.mkdirs()
      val artifact = new File(a.traceDir, s"${a.workload}-seed${a.seed}.json")
      val w = new java.io.PrintWriter(artifact, "UTF-8")
      w.println(s"""{"workload":${Json.str(a.workload)},"seed":${a.seed},"machine":$stamp,""")
      w.println(s""""metrics":${metrics.map { case (n, v, _) => s"${Json.str(n)}:${Json.num(v)}" }.mkString("{", ",", "}")},""")
      w.println(s""""spans":$js}""")
      w.close()
      System.err.println(s"[perfbench] spans written to $artifact")
    }
    metrics.foreach { case (n, v, u) => println(f"  $n%-40s ${Json.num(v)}%16s $u") }
    spark.stop()
    Io.deleteTree(a.work)
    val ms = metrics.map { case (n, v, u) => s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    println(s"""{"correct":${counts.failed == 0 && counts.attempted > 0},"attempted":${counts.attempted},""" +
      s""""failed":${counts.failed},"metrics":${ms.mkString("{", ",", "}")}}""")
  }

  final case class Job(wall: Double, peakHeapMb: Double, outcome: Outcome) {
    def ok: Boolean = outcome.failure.isEmpty
  }
  type JobRunner = (=> Unit) => Option[Job]

  def endToEnd(a: Args, p: Prepared, setupS: Double,
               runJob: JobRunner, elapsed: () => Double): Seq[(String, Double, String)] = {
    val jobs = ArrayBuffer[Job]()
    var attempts = 0
    var measured = 0.0
    def typical = if (jobs.isEmpty) 0.0 else median(jobs.map(_.wall).toSeq)
    while (attempts < 3 || (measured < a.seconds && elapsed() + typical < deadlineS)) {
      attempts += 1
      runJob(p.job()).foreach { j => measured += j.wall; if (j.ok) jobs += j }
    }
    if (jobs.isEmpty) throw new IllegalStateException("no job passed its output checks")
    val walls = jobs.map(_.wall)
    val wall = median(walls.toSeq)
    println(f"timed jobs: n=${walls.length}, wall median $wall%.3f s, min ${walls.min}%.3f s, max ${walls.max}%.3f s")
    jobs.head.outcome.recall.keys.toSeq.sorted.foreach { k =>
      println(s"recall factor: $k ${median(jobs.map(_.outcome.recall(k)).toSeq)}")
    }
    Seq(
      ("wall_s", wall, "s"),
      ("input_rows_per_s", p.inputRows / wall, "rows/s"),
      ("setup_s", setupS, "s"),
      ("peak_heap_mb", median(jobs.map(_.peakHeapMb).toSeq), "MB"),
      ("output_bytes_per_input_byte", median(jobs.map(_.outcome.outputBytes.toDouble).toSeq) / p.inputBytes, "ratio"),
      ("result_recall", median(jobs.map(_.outcome.quality).toSeq), "ratio"))
  }

  /** Per-layer metrics, and the spans as JSON. */
  def perLayer(a: Args, spark: SparkSession, p: Prepared, runJob: JobRunner, counts: Counts,
               elapsed: () => Double): (Seq[(String, Double, String)], Option[String]) = {
    val census = new Census(p.watchedPath)
    val tr = new Tracer(spark, census)
    val t0 = System.nanoTime()
    val plain = ArrayBuffer[Double](); val traced = ArrayBuffer[Double]()
    val jobCounts = ArrayBuffer[Map[String, Double]](); val outs = ArrayBuffer[Outcome]()
    var attempts = 0
    var measured = 0.0
    def typical = if (plain.isEmpty) 0.0 else median(plain.toSeq)
    while (attempts < 1 || (measured < a.seconds && elapsed() + 2 * typical < deadlineS / 2)) {
      def untraced(): Unit = runJob(p.job()).foreach { j => plain += j.wall; measured += j.wall }
      def withTrace(): Unit = {
        Census.attach(spark, census)
        census.reset(spark)
        runJob(tr.span("job")(p.job())).foreach { j =>
          val s = tr.spans.last
          traced += s.seconds; measured += j.wall; outs += j.outcome
          jobCounts += s.counts + ("spark.core_busy_share" ->
            s.counts.getOrElse("spark.executor_run_s", 0.0) / (s.seconds * cores))
        }
        Census.detach(spark, census)
      }
      // alternate which side runs first, so a still-warming JVM does not
      // favour one side
      if (attempts % 2 == 0) { withTrace(); untraced() } else { untraced(); withTrace() }
      attempts += 1
    }
    if (plain.isEmpty || traced.isEmpty) throw new IllegalStateException("no job completed")
    Census.attach(spark, census)
    val extra = try p.layers(tr) catch {
      case e: Exception =>
        counts.attempted += 1; counts.failed += 1
        System.err.println(s"[perfbench] layer probe failed: $e")
        Map.empty[String, Double]
    }
    Census.detach(spark, census)

    def busy(span: String) = tr.seconds(span).sum
    def jobMedian(k: String) = median(jobCounts.map(_.getOrElse(k, 0.0)).toSeq)
    def spanCount(span: String, k: String) = tr.spans.filter(_.name == span).map(_.counts.getOrElse(k, 0.0)).sum
    val strava = p.watchedPath.isDefined
    val layerMetrics = Seq(
      ("sources.activities.busy_s", busy("sources.activities"), "s"),
      ("sources.streams.busy_s", busy("sources.streams"), "s"),
      ("sources.streams.rows_out", extra.getOrElse("sources.streams.rows_out", 0.0), "count"),
      ("operators.interpolation.busy_s", busy("operators.interpolation"), "s"),
      ("operators.rolling.busy_s", busy("operators.rolling"), "s"),
      ("etl.process.build_s", busy("etl.process.build"), "s"),
      ("etl.process.plan_s", busy("etl.process.plan"), "s"),
      ("etl.process.exec_s", busy("etl.process.exec"), "s"),
      ("etl.sink.append_s", busy("etl.sink.append"), "s"),
      ("etl.sink.bytes_written", if (strava) median(outs.map(_.outputBytes.toDouble).toSeq) else 0.0, "bytes"),
      ("etl.sink.files_written", if (strava) median(outs.map(_.outputFiles.toDouble).toSeq) else 0.0, "count"),
      ("etl.watermark.files_read", spanCount("etl.daily_sync", "etl.watermark.files_read"), "count"),
      ("etl.watermark.bytes_read", spanCount("etl.daily_sync", "etl.watermark.bytes_read"), "bytes"),
      ("functions.minhash.busy_s", busy("functions.minhash"), "s"),
      ("operators.dedup.lsh.busy_s", busy("operators.dedup.lsh"), "s"),
      ("operators.dedup.lsh.candidate_pairs", extra.getOrElse("operators.dedup.lsh.candidate_pairs", 0.0), "count"),
      ("operators.dedup.verify.busy_s", busy("operators.dedup.verify"), "s"),
      ("operators.dedup.verify.yield", extra.getOrElse("operators.dedup.verify.yield", 0.0), "ratio"),
      ("operators.dedup.cluster.busy_s", busy("operators.dedup.cluster"), "s"),
      ("operators.ann.kmeans.busy_s", busy("operators.ann.kmeans"), "s"),
      ("operators.ann.assign.busy_s", busy("operators.ann.assign"), "s"),
      ("operators.ann.pq_search.busy_s", busy("operators.ann.pq_search"), "s"))
    val sparkMetrics = Seq(
      ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
      ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
      ("spark.sched_wait_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
      ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
      ("spark.input_bytes", "bytes"), ("spark.output_bytes", "bytes"),
      ("spark.core_busy_share", "ratio"), ("spark.max_task_over_median", "ratio"))
      .map { case (k, u) => (k, jobMedian(k), u) }
    val tracedWall = median(traced.toSeq)
    val overhead = Seq(
      ("trace.wall_s", tracedWall, "s"),
      ("trace.overhead_s", tracedWall - median(plain.toSeq), "s"))
    (layerMetrics ++ sparkMetrics ++ overhead, Some(tr.json(t0)))
  }
}
