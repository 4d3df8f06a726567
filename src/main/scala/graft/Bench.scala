package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query at the scale-factor dir
  * given by SPARK_GRAFT_SF_DIR (default sf0.1) and prints ONE final JSON
  * line `{"metric":"total","value":N,"unit":"sec","queries":{...},
  *   "heavy":{...},"skipped":[...],"failed":[...],"sf":...}`.
  *
  * EVIDENCE IS INCREMENTAL: a compact `{"q":name,"sec":N}` line is
  * printed the moment each query finishes (and `{"q":name,"heavy":...}`
  * per heavy query), so a harness timeout still leaves every completed
  * measurement in the captured output tail. Round 5's artifact was
  * rc 124 with NOTHING parseable because the old bench said nothing
  * until the very end — never again.
  *
  * WALL-CLOCK BUDGET: SPARK_GRAFT_BENCH_BUDGET seconds (default 900).
  * Work not STARTED by the deadline is skipped and listed in the final
  * JSON's "skipped" field — an explicit partial result beats a timeout
  * that yields nothing. The forked heavy tier gets the same absolute
  * deadline (SPARK_GRAFT_HEAVY_DEADLINE_MS) plus a hard kill at
  * deadline+grace, so one pathological query cannot eat the harness
  * budget.
  *
  * A warm-up pass (table counts + one full query) runs before any
  * timing so JIT/codegen/classloader costs are not attributed to the
  * first measured query.
  *
  * Failures are LOUD: a query that throws records no timing — it lands
  * in "failed" and the process exits nonzero, so a regression can never
  * masquerade as a fast partial run.
  *
  * LOAD SHIELDING (round 10/11): the compact line carries the 1-minute
  * loadavg at [launch, post-light, end] plus `reruns_fixed`; after the
  * heavy tier every multi-second light query gets tail reruns —
  * up to three passes, each revisiting only the still-outlying
  * entries, so the effort is proportional to the outliers standing
  * (cheapest first, budget permitting) — and the record keeps the
  * min: a co-tenant episode mid-run self-corrects instead of reading
  * as a regression (it mooted the round-7/8/9 driver artifacts).
  *
  * HEAVY RESERVE (round 11): the light tier runs against its OWN
  * budget (total minus SPARK_GRAFT_HEAVY_RESERVE, default 430 s when
  * the heavy tier is on). Round 13: the light tier is COVERAGE-FIRST
  * — pass A times every gate once (light_n == registry size, the
  * completeness invariant the round-12 driver run broke by shedding
  * x7/x8/x9), pass B spends whatever light budget remains on
  * best-of-2 repeats, cheapest first — so under co-tenant load the
  * tier sheds PRECISION, never gates. Heavy members never measured in
  * ANY driver artifact rotate to the very front of their tier, then
  * members missing from the latest artifact, so even a half-shed fork
  * completes the roster across rounds.
  *
  * The "heavy" section re-times the scale-sensitive queries on an
  * sf1-equivalent input ([[HeavyData]]: key-offset copies of the sf0.1
  * tables). At sf0.1 everything sits on Spark's overhead floor and a
  * plan that recomputes a subtree or joins before filtering is
  * invisible; at ~10x it costs seconds — track these numbers
  * round-over-round. Heavy queries run in FRESH forked JVMs
  * ([[tools.HeavyRunner]]) — in-session numbers inherited the main
  * loop's heap/JIT state and were irreproducible (18/56/101 s spreads
  * for identical code) — but in TWO forks, not one per query: round 5's
  * 21 single-query forks burned ~5-7 minutes of pure JVM/session
  * startup and blew the harness budget. Fork 1 = plan-regression
  * canaries, fork 2 = the saturated-corpus worst cases, so budget
  * exhaustion sheds the worst cases before the canaries. Disable with
  * SPARK_GRAFT_HEAVY=0; SPARK_GRAFT_HEAVY_N timed runs per query
  * (default 2).
  */
object Bench {

  /** Queries whose cost actually scales with the fact tables — the
    * plan-regression canaries, cheapest-information-first so a budget
    * cut loses the least. Scan/agg (q01), the flagship windowed
    * pipeline (e3/e4), the widest aggregation exchange (q02),
    * selective join chains (q03/q07/q18), session windows over events
    * (w4), the dedup signature chain (d2/d3/d14), ANN brute force and
    * its custom-physical twin (n1/n9), k-means/PQ ANN (n5/n8), bigram
    * familiarity (t17). */
  private val heavyCanaries = Seq(
    "q01_pricing_summary", "e3_pipeline_streams", "e4_legacy_poisoning",
    "q02_min_cost_supplier", "q03_shipping", "q07_volume_shipping",
    "q18_large_orders", "w4_session_window", "d2_minhash_sig",
    "d3_lsh_pairs", "d14_chunk_dedup", "n1_ann_topk", "n9_ann_topk_local",
    "n5_ann_kmeans", "n8_ann_pq", "t17_bigram_familiarity",
    // round 6: the de-doubled fact-fact join (single lineitem-orders
    // exchange + window aggregates) — 2.5 s warm at 10x; tracked so a
    // regression back to the two-pass shape is visible
    "q21_waiting_suppliers")

  /** The deliberately-nasty tier: near-duplicate-saturated corpus
    * pairwise dedup (d5/d12/d16), the composed FineWeb chain (e6), and
    * contamination-saturated bloom decontamination (d17). Real
    * worst-case measurements, but the first to be shed under budget
    * pressure — a missing worst case is recoverable, a missing canary
    * tier is round 5's artifact hole. CHEAPEST FIRST (quiet-load
    * receipts in BENCH_NOTES round 6: d17 ~16/9 s, d16 ~11/8, e6
    * ~21/1.5, d5 ~74/20, d12 ~113/147) so a budget cut drops the
    * single most expensive measurement, not four cheap ones. */
  private val heavyWorstCases = Seq(
    // CHEAPEST FIRST by the round-8 driver-style receipts (e6 1.3,
    // d19 2.2, d21 3.1, d20 5.3, d12-at-5x ~7, d16 10.9, d17 11.9,
    // d5 ~18 s) so a budget cut drops the single most expensive
    // measurement, not several cheap ones — the suite's growth to
    // 220+ light queries makes the shed boundary live again
    "e6_dedup_pipeline", "d19_suffix_dedup", "d21_scrub_incremental",
    "d20_substring_scrub", "d12_substring_runs", "d16_semantic_dedup",
    "d17_bloom_decontaminate", "d5_ngram_jaccard")

  /** 1-minute system load average — recorded at launch and per tier
    * in the artifact itself: the co-tenant discriminator that rounds
    * 7-9 had to reconstruct from BENCH_NOTES receipts after the fact
    * now rides in the record (round-9 verdict item 7). */
  private def loadAvg: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** The "heavy" summary keys of one artifact file — the raw "tail"
    * section escapes its quotes, so the regex matches only the
    * driver-parsed summary object. */
  private def heavyKeysOf(f: java.io.File): Set[String] = {
    val src = scala.io.Source.fromFile(f)
    val txt = try src.mkString finally src.close()
    val m = java.util.regex.Pattern
      .compile("\"heavy\"\\s*:\\s*\\{([^}]*)\\}").matcher(txt)
    if (m.find())
      "\"([A-Za-z0-9_]+)\"\\s*:".r.findAllMatchIn(m.group(1))
        .map(_.group(1)).toSet
    else Set.empty[String]
  }

  private def artifactFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.matches("BENCH_r\\d+\\.json")).toSeq

  /** Heavy members the LATEST driver artifact actually measured (keys
    * of its parsed summary's "heavy" object). Drives the round-11
    * rotation: members the last official run never reached move to the
    * FRONT of their tier so budget shedding always drops something
    * that already has an official number — a 900 s driver budget then
    * covers the full roster over at most two rounds even when one run
    * sheds half the tier. Best-effort: no artifact / no parse -> empty
    * set -> the documented cheapest-first order stands unchanged. */
  private[graft] def lastMeasuredHeavy(dir: String = "."): Set[String] =
    try {
      val files = artifactFiles(dir)
      if (files.isEmpty) Set.empty
      else {
        val latest = files.maxBy(f =>
          "\\d+".r.findFirstIn(f.getName).fold(0)(_.toInt))
        val out = heavyKeysOf(latest)
        // the derived set size is logged so a silent mis-parse (a
        // future artifact shape with another unescaped "heavy" object
        // before the parsed summary) is visible in the run log instead
        // of invisibly mis-rotating the roster (round-11 advice)
        System.err.println(s"[bench] rotation: ${latest.getName} " +
          s"measured ${out.size} heavy members")
        out
      }
    } catch { case scala.util.control.NonFatal(_) => Set.empty }

  /** Heavy members measured in ANY driver artifact ever — the union
    * over every BENCH_r*.json "heavy" summary. Round 13: t17/q21/d5
    * had been skipped in EVERY official run for three rounds while the
    * latest-artifact rotation kept promoting merely last-round-skipped
    * members past them; never-in-any-artifact now outranks
    * not-in-latest. */
  private[graft] def everMeasuredHeavy(dir: String = "."): Set[String] =
    try {
      val out = artifactFiles(dir).flatMap(f =>
        try heavyKeysOf(f)
        catch { case scala.util.control.NonFatal(_) => Set.empty[String] })
        .toSet
      System.err.println(
        s"[bench] rotation: ${out.size} heavy members ever measured")
      out
    } catch { case scala.util.control.NonFatal(_) => Set.empty }

  /** Per-member QUIET BANDS from the official-run ledger (round-15
    * verdict item 6): every heavy fork appends its per-run cpu/minflt
    * series to BENCH_LEDGER.jsonl, and each artifact's detail line
    * republishes min/max over the accumulated QUIET samples (cpu
    * within 2x the member's historical minimum — the firing class
    * sits 4-25x above band, so the filter separates cleanly). A
    * future firing is then adjudicated by SUBTRACTION against the
    * artifact itself instead of session archaeology (e6's 1.7-3.2M
    * minflt band made its run-5 firing readable on sight; this makes
    * that reading mechanical). Seeded with the round-14 BENCH_NOTES
    * receipts, ONE ledger line per documented fork.
    *
    * Bands are RUN-1 bands: only the FIRST sample of each ledger
    * line's series counts. Run 1 is the cold run where firings occur;
    * mixing warm run-2 samples in anchored the 2x-min filter at the
    * warm floor and would misread every normal cold run as a firing
    * (caught on this round's second official run: e6's band read
    * [14.8, 16.9] from its warm runs while its cold quiet runs sit at
    * 139-157 cpu-s — exactly BENCH_NOTES' run-1/run-2 band split).
    * Best-effort everywhere: a missing/corrupt ledger only omits the
    * bands. */
  private[graft] def ledgerSamples(path: String)
      : Map[String, (Seq[Double], Seq[Double])] = {
    val f = new java.io.File(path)
    if (!f.isFile) return Map.empty
    import org.json4s._
    val acc = scala.collection.mutable
      .Map[String, (Vector[Double], Vector[Double])]()
    try {
      val src = scala.io.Source.fromFile(f)
      val lines = try src.getLines().toList finally src.close()
      for (line <- lines if line.trim.nonEmpty) {
        try {
          org.json4s.jackson.JsonMethods.parse(line) \ "heavy" match {
            case JObject(fields) => fields.foreach { case (name, v) =>
              def nums(k: String): Vector[Double] = v \ k match {
                case JArray(xs) => xs.collect {
                  case JDouble(d) => d
                  case JInt(i)    => i.toDouble
                  case JLong(l)   => l.toDouble
                }.toVector
                case _ => Vector.empty
              }
              val (c0, m0) = acc.getOrElse(name,
                (Vector.empty[Double], Vector.empty[Double]))
              // run-1 only: the head of each series (see scaladoc)
              acc(name) = (c0 ++ nums("cpu").take(1),
                m0 ++ nums("minflt").take(1))
            }
            case _ =>
          }
        } catch { case scala.util.control.NonFatal(_) => }
      }
    } catch { case scala.util.control.NonFatal(_) => }
    acc.toMap
  }

  /** min/max over the quiet samples per member, as the detail-line
    * JSON fragment: {"name":{"cpu":[lo,hi],"minflt":[lo,hi],"n":k}}.
    * cpu and minflt series are per-run aligned when complete; the
    * quiet filter keys on cpu (the inflation signal) and carries the
    * same run's minflt when alignment holds, all minflt samples
    * otherwise. */
  /** Locale-pinned numeric formatting for everything written into the
    * ledger and the artifact's quiet-band fragment: the `f""`
    * interpolator uses the JVM default locale, and a comma-decimal
    * locale would emit invalid JSON that ledgerSamples then silently
    * skips — the bands would quietly disappear. */
  private def num1(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(x))
  private def num0(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.0f", Double.box(x))

  private[graft] def quietBandsJson(
      samples: Map[String, (Seq[Double], Seq[Double])]): String = {
    val entries = samples.toSeq.sortBy(_._1).flatMap { case (name, (c, m)) =>
      if (c.isEmpty) None
      else {
        val minC = c.min
        val quietIdx = c.indices.filter(i => c(i) <= 2.0 * minC)
        val qc = quietIdx.map(c)
        // minflt only publishes when per-run aligned with cpu: on
        // misalignment the unfiltered series would include exactly the
        // firing-run samples the band exists to adjudicate.
        val qm = if (m.length == c.length) quietIdx.map(m) else Seq.empty
        val mPart =
          if (qm.nonEmpty)
            s""","minflt":[${num0(qm.min)},${num0(qm.max)}]"""
          else ""
        Some(s""""$name":{"cpu":[${num1(qc.min)},${num1(qc.max)}]""" +
          s"""$mPart,"n":${qc.size}}""")
      }
    }
    entries.mkString("{", ",", "}")
  }

  /** Append this run's heavy per-run series — plus the top light
    * walls (round-16 item 7: the light tier's w-tail is where the
    * ~12-minute co-tenant lands, and without light history the
    * driver's light regressions can't be adjudicated by subtraction
    * the way the heavy tier's now are) — to the ledger (one JSON line
    * per official-shape run). Best-effort: failure to write only
    * loses future band samples. */
  private def appendLedger(path: String,
      rows: Seq[(String, Seq[Double], Seq[Double], Seq[Double])],
      lightTop: Seq[(String, Double)] = Seq.empty): Unit =
    if (rows.nonEmpty || lightTop.nonEmpty) try {
      def arr(xs: Seq[Double]) =
        xs.map(num1).mkString("[", ",", "]")
      val body = rows.map { case (n, w, c, m) =>
        s""""$n":{"wall":${arr(w)},"cpu":${arr(c)},"minflt":${arr(m)}}"""
      }.mkString(",")
      val lightBody = lightTop.map { case (n, w) =>
        s""""$n":${num1(w)}"""
      }.mkString(",")
      val line = s"""{"ts":${System.currentTimeMillis()},""" +
        s""""heavy":{$body},"light":{$lightBody}}\n"""
      val out = new java.io.FileWriter(path, true)
      try out.write(line) finally out.close()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] ledger append failed: ${e.getMessage}")
    }

  /** Accumulated light walls per member from the ledger's "light"
    * sections (one best-of-run wall per line — already the min over
    * pass A/B and tail reruns, so each sample is the run's most
    * shielded number). */
  private[graft] def lightLedgerSamples(path: String)
      : Map[String, Seq[Double]] = {
    val f = new java.io.File(path)
    if (!f.isFile) return Map.empty
    import org.json4s._
    val acc = scala.collection.mutable.Map[String, Vector[Double]]()
    try {
      val src = scala.io.Source.fromFile(f)
      val lines = try src.getLines().toList finally src.close()
      for (line <- lines if line.trim.nonEmpty) {
        try {
          org.json4s.jackson.JsonMethods.parse(line) \ "light" match {
            case JObject(fields) => fields.foreach {
              case (name, JDouble(d)) =>
                acc(name) = acc.getOrElse(name, Vector.empty) :+ d
              case (name, JInt(i)) =>
                acc(name) = acc.getOrElse(name, Vector.empty) :+ i.toDouble
              case _ =>
            }
            case _ =>
          }
        } catch { case scala.util.control.NonFatal(_) => }
      }
    } catch { case scala.util.control.NonFatal(_) => }
    acc.toMap
  }

  /** Light-tier quiet bands: {"name":{"wall":[lo,hi],"n":k}} under
    * the same 2x-min exclusion as the heavy bands (a co-tenant
    * episode inflates a light wall 2-4x — w11 5.1→14.0, w20
    * 2.7→10.7 in round 15 — while quiet scatter stays well inside
    * 2x of the member's historical minimum). */
  private[graft] def lightBandsJson(
      samples: Map[String, Seq[Double]]): String = {
    val entries = samples.toSeq.sortBy(_._1).flatMap { case (name, w) =>
      if (w.isEmpty) None
      else {
        val q = w.filter(_ <= 2.0 * w.min)
        Some(s""""$name":{"wall":[${num1(q.min)},${num1(q.max)}],""" +
          s""""n":${q.size}}""")
      }
    }
    entries.mkString("{", ",", "}")
  }

  /** Round-16 item 6 (d5 fork-position hygiene): move the tier member
    * with the WIDEST official-vs-quiet spread — max/min over its
    * run-1 cpu history, the co-tenant amplification fingerprint — to
    * the very front of its fork, so the known-amplified member runs
    * before the box's documented ~12-minute co-tenant arrival. Only
    * fires past 4x (quiet scatter stays under 2x by the band rule;
    * the firing class sits 4-25x), so an un-amplified roster keeps
    * its cheapest-first receipts order untouched. */
  private[graft] def frontWidestSpread(tier: Seq[String],
      samples: Map[String, (Seq[Double], Seq[Double])]): Seq[String] = {
    val spreads = tier.flatMap { q =>
      samples.get(q).map(_._1).filter(c => c.nonEmpty && c.min > 0)
        .map(c => q -> c.max / c.min)
    }
    spreads.sortBy(-_._2).headOption.filter(_._2 >= 4.0) match {
      case Some((widest, _)) =>
        widest +: tier.filterNot(_ == widest)
      case None => tier
    }
  }

  /** `tier` with the members absent from the latest driver artifact
    * rotated to the front (stable within both halves, so the
    * cheapest-first receipts order is preserved as the tiebreak). */
  private[graft] def rotateUnmeasuredFirst(tier: Seq[String],
                                    measured: Set[String]): Seq[String] = {
    val (unmeasured, had) = tier.partition(q => !measured.contains(q))
    unmeasured ++ had
  }

  /** Three-band rotation (round 13): members never measured in ANY
    * driver artifact lead, then members missing from only the latest,
    * then the rest — each band keeping the cheapest-receipts order as
    * the tiebreak. */
  private[graft] def rotateUnmeasuredFirst(tier: Seq[String],
      latest: Set[String], ever: Set[String]): Seq[String] = {
    val (neverEver, rest) = tier.partition(q => !ever.contains(q))
    neverEver ++ rotateUnmeasuredFirst(rest, latest)
  }

  /** The session every timed main measures in (Bench, its
    * [[tools.HeavyRunner]] forks and [[tools.OneQuery]]):
    * `local[SPARK_GRAFT_CPUS]` (default 32), 32 shuffle partitions, AQE
    * on, UTC, no UI. */
  def timedSession(appName: String): SparkSession =
    SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val benchStart = System.nanoTime()
    val loadStart = loadAvg
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val heavyCopies = sys.env.getOrElse("SPARK_GRAFT_HEAVY", "10").toInt
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "900").toDouble
    // HEAVY RESERVE (round 11): the round-10 driver artifact measured
    // 3/25 heavy members because a loadavg-5.5 light tier ate the
    // budget the forks needed — the light tier now yields. Quiet-box
    // receipts: both forks (2x JVM+session ~30 s, first-touch ~20 s,
    // 25 warm passes ~60 s, 25 single warm-class runs ~250 s) fit in
    // ~400 s, so the default reserve is 430 s and the light tier's own
    // budget is what remains (floored at 30% of the total so a tiny
    // budget still produces a light record). Degradation order under
    // load: light repeats drop first (pace guard), then light tail
    // queries shed — each light value has four rounds of receipt
    // history while a shed heavy member has none, which is why the
    // forks now outrank light precision.
    // 430 -> 460 (round 13): the 337-gate pass A costs ~440 s quiet
    // (receipt: run 2, 439.7 s at launch load 1.5), so a 430 reserve
    // let pass B spend ~30 s on repeats while fork 2 shed six
    // worst-case members. At 460 the light budget (~440) admits pass
    // A exactly and pass B yields its seconds to the forks — repeats
    // are the cheapest precision to shed (the tail-rerun loop after
    // the forks still revisits outliers when time remains).
    val heavyReserveSec = sys.env.getOrElse("SPARK_GRAFT_HEAVY_RESERVE",
      if (heavyCopies > 1) "460" else "0").toDouble
    val lightBudgetSec = math.max(budgetSec - heavyReserveSec, budgetSec * 0.3)
    def elapsedSec: Double = (System.nanoTime() - benchStart) / 1e9
    def remainingSec: Double = budgetSec - elapsedSec
    val spark = timedSession("graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    val failed = scala.collection.mutable.ListBuffer[String]()
    val skipped = scala.collection.mutable.ListBuffer[String]()

    /** One timed run; None (and a failure record) if the query threw. */
    def once(name: String, dir: String): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, dir).count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          failed += name
          None
      }
    }

    // ---- warm-up (untimed) ----
    Tables.all.foreach(n => Tables.load(spark, sfDir, n).count())
    SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()
    // index STAGING (round 13): the kNN-graph edge table is a
    // persisted index at 100 TB — searches read it, one writer built
    // it. Built here untimed so n23/w30 time the bounded beam walk,
    // not the one-off build (HeavyData.ensure's discipline for the
    // light tier).
    SparkEntry.stageIndexes(spark, sfDir)

    // ---- light tier: COVERAGE-FIRST two-pass (round 13). The
    // round-12 driver run shed its three last-sorted gates (x7/x8/x9,
    // light_n 323/326) because the interleaved best-of-2 repeats ate
    // the light budget at launch-load 6.5 before the roster tail ever
    // ran — an incomplete artifact for ~90 s of repeat precision.
    // PASS A now runs EVERY registered gate exactly once, in sorted
    // order, one evidence line per query: light_n == registry size is
    // the completeness invariant, sheddable only by the final-print
    // reserve itself (45 s — a box that loaded can't produce a
    // trustworthy number anyway). PASS B adds the best-of-2 repeat
    // under the old eligibility rule (first run >= 0.5 s proves the
    // query is off the overhead floor and worth refining; past 8 s
    // noise is a rounding error on the signal), but only inside the
    // light budget, cheapest-first so a budget cut sheds the single
    // most expensive repeat — and a pass-B repeat is better
    // de-shadowed than the old back-to-back second sample (it no
    // longer reads its own neighbor's GC/page-cache wake; the
    // expensive entries it sheds are exactly the ones the tail-rerun
    // loop revisits after the heavy forks). ----
    val lightNames = SparkEntry.queries.keys.toSeq.sorted
    val firstRuns = lightNames.flatMap { name =>
      if (remainingSec < 45) { skipped += name; None }
      else once(name, sfDir).map { t1 =>
        println(f"""{"q":"$name","sec":$t1%.3f}""")
        Console.out.flush()
        name -> t1
      }
    }
    val bests = scala.collection.mutable.LinkedHashMap(firstRuns: _*)
    firstRuns.filter { case (_, t1) => t1 >= 0.5 && t1 < 8.0 }
      .sortBy(_._2)
      .foreach { case (name, t1) =>
        if (elapsedSec < lightBudgetSec - 5 && remainingSec > 60 + 2 * t1) {
          // a pass-B failure is still loud (once() records it) but the
          // pass-A timing stands — same convention as HeavyRunner's
          // partial-series-then-HEAVYFAIL
          once(name, sfDir).filter(_ < bests(name)).foreach { v =>
            bests(name) = v
            println(f"""{"q":"$name","sec":$v%.3f,"repeat":true}""")
            Console.out.flush()
          }
        }
      }
    val results = bests.toSeq

    val loadPostLight = loadAvg

    // ---- heavy tier: two fresh forked JVMs (canaries, then worst
    // cases), each handed the absolute budget deadline; stdout is
    // streamed line-by-line so every finished query is evidence even
    // if the fork is later killed. A watchdog hard-kills a fork that
    // overruns the deadline by more than the grace period (a single
    // run cannot be interrupted politely once a Spark job is in
    // flight). ----
    case class HeavyResult(name: String, walls: Seq[Double], gcs: Seq[Double],
                           loads: Seq[Double], cpus: Seq[Double],
                           ios: Seq[Double], warm: Seq[Double],
                           loadStarts: Seq[Double], ctxts: Seq[Double],
                           cachedMb: Seq[Double], majflts: Seq[Double],
                           memAvailMb: Seq[Double], minflts: Seq[Double])
    // members whose run 1 was cancelled at the per-run cap — recorded
    // separately from budget skips so the artifact distinguishes "over
    // budget, never started" from "started and pathological"
    val capped = scala.collection.mutable.ListBuffer[String]()
    val heavyN = sys.env.getOrElse("SPARK_GRAFT_HEAVY_N", "2").toInt
    // 150 -> 120 (round 11): the worst observed fork overrun past its
    // deadline is 17 s (round 7); 120 s still covers a hung Spark job
    // by 7x and hands the freed 30 s to the forks.
    val graceSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_GRACE", "120").toDouble
    // FORK-2 SUB-RESERVE (round 11): runs 3-4 of the official shape
    // showed the failure mode the per-tier split alone cannot fix —
    // a long light tier plus a full canary fork leaves fork 2 with
    // < 60 s and it never LAUNCHES (0/8 worst cases, twice). Capping
    // fork 1's deadline so fork 2 always inherits at least this many
    // seconds converts that into fork 1 shedding its rotation-TAIL
    // (exactly the members the latest driver artifact already
    // measured) while fork 2 measures ~5 bare members at quiet walls.
    // 120 -> 150 (round 14): the round-13 driver run gave fork 2 its
    // 120 s and it measured exactly d5+e6, shedding the six mid-tier
    // d-heavies AGAIN (fourth round running for some). The full
    // 8-member fork-2 roster measures 119 s quiet end-to-end
    // (round-14 receipt: boot + firstTouch + 2 runs each, the six
    // cold members 5.0-9.6 s run 1) — 150 covers that with boot
    // margin under moderate load, and the 30 s comes out of fork 1's
    // rotation TAIL, every member of which has an official r13
    // number and reclaim-pass coverage.
    val fork2ReserveSec =
      sys.env.getOrElse("SPARK_GRAFT_FORK2_RESERVE", "150").toDouble

    // The grace period and the final print are RESERVED INSIDE the
    // budget: forks get budget - grace - 15 s, the watchdog kills at
    // fork-deadline + grace = budget - 15 s, and the last ~15 s belong
    // to cleanup + the final JSON. Round 7 elapsed 917.1 s against a
    // 900 s budget because grace was added AFTER the deadline — one
    // driver-side timeout away from truncating the artifact.
    def remainingForkSec: Double = remainingSec - graceSec - 15.0

    def runHeavyFork(heavyDir: String, cp: String, javaBin: String,
                     queries: Seq[String], nRuns: Int,
                     warmPass: Boolean, reserveAfterSec: Double,
                     graceOverride: Option[Double] = None): Seq[HeavyResult] = {
      // graceOverride: the RECLAIM fork runs with a smaller hang
      // reserve (worst fork overrun ever observed past its deadline is
      // 17 s, round-7 receipt) — the whole point of that pass is to
      // spend the insurance the main forks never drew (round-11: 132 s
      // left behind while 12 members stood shed, and that leftover IS
      // the grace+print reserve, which the default sizing refuses to
      // touch).
      val grace = graceOverride.getOrElse(graceSec)
      val deadlineMs = System.currentTimeMillis() +
        (math.max(remainingSec - grace - 15.0 - reserveAfterSec, 1.0) * 1000).toLong
      val cmd = Seq(javaBin) ++ tools.HeavyRunner.jdk17AddOpens ++ Seq(
        s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "48g")}",
        "-cp", cp, "graft.tools.HeavyRunner",
        heavyDir, nRuns.toString) ++ queries
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_HEAVY_DEADLINE_MS", deadlineMs.toString)
      // CANARY fork only: pre-warm each query with one untimed pass at
      // the LIGHT scale dir before timing it at heavy scale — kills
      // the e3/n5 first-touch JIT/codegen cold run (round-10 verdict;
      // official r11 proof: e3 19.0 -> 6.5 s). The WORST-CASE fork
      // runs without it: its members are cache-build/saturation-bound,
      // and the warm pass measurably inflates them (d5 receipts:
      // [16.8, 6.6] bare vs [29, 26] warmed, ~4x the cpu-s — the
      // light-scale pass's dead shuffle/broadcast state competes with
      // the saturated verify even after a cache drop + GC).
      if (warmPass) pb.environment().put("SPARK_GRAFT_WARM_DIR", sfDir)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      // Distinguishes OUR deadline kill (budget exhaustion -> skipped,
      // rc 0) from a fork that died on its own (genuine failure). The
      // "explicit partial beats nothing" contract requires budget shed
      // to never flip the exit code (round 6: rc 1 for exactly this).
      @volatile var killedByWatchdog = false
      val killer = new Thread(() => {
        try {
          val graceMs = deadlineMs + (grace * 1000).toLong -
            System.currentTimeMillis()
          if (!proc.waitFor(math.max(graceMs, 1000),
              java.util.concurrent.TimeUnit.MILLISECONDS)) {
            System.err.println("[bench] heavy fork overran deadline+grace; killing")
            killedByWatchdog = true
            proc.destroyForcibly()
          }
        } catch { case _: InterruptedException => }
      })
      killer.setDaemon(true)
      killer.start()
      val out = scala.collection.mutable.ListBuffer[HeavyResult]()
      val seen = scala.collection.mutable.Set[String]()
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      try {
        var line = reader.readLine()
        while (line != null) {
          if (line.startsWith("HEAVYSKIP\t")) {
            val q = line.split("\t")(1)
            seen += q; skipped += q
            println(s"""{"q":"$q","heavy_skipped":true}""")
            Console.out.flush()
          } else if (line.startsWith("HEAVYCAP\t")) {
            // run 1 hit the fork's per-run cap: budget-class skip (the
            // member has no valid timing) with its own ledger entry
            val q = line.split("\t")(1)
            seen += q; skipped += q; capped += q
            println(s"""{"q":"$q","heavy_capped":true}""")
            Console.out.flush()
          } else if (line.startsWith("HEAVYFAIL\t")) {
            // the fork survived but the query threw — a genuine failure
            // with a name and an error, visible in the artifact
            val f = line.split("\t")
            val q = f(1)
            seen += q; failed += q
            val msg = f.lift(2).getOrElse("").replace("\\", "\\\\").replace("\"", "'")
            println(s"""{"q":"$q","heavy_failed":"$msg"}""")
            Console.out.flush()
          } else if (line.startsWith("HEAVY\t")) {
            val f = line.split("\t")
            def series(i: Int) = f.lift(i)
              .map(_.split(",").toSeq.filter(_.nonEmpty).map(_.toDouble))
              .getOrElse(Seq.empty)
            val r = HeavyResult(f(1), series(2), series(3), series(4),
              series(5), series(6), series(7), series(8), series(9),
              series(10), series(11), series(12), series(13))
            seen += r.name; out += r
            println(f"""{"q":"${r.name}","heavy_sec":${r.walls.min}%.3f,""" +
              s""""runs":${r.walls.mkString("[", ",", "]")}}""")
            Console.out.flush()
          }
          line = reader.readLine()
        }
      } finally reader.close()
      val code = proc.waitFor()
      killer.interrupt()
      // killedByWatchdog alone can mask a crash: destroyForcibly racing
      // a natural exit leaves the NATURAL exit code in `code`. A true
      // deadline kill satisfies all three of: watchdog fired, deadline
      // actually elapsed by exit time, and the code is the SIGKILL/
      // SIGTERM signal code — anything else is the fork's own death.
      val deadlineKill = killedByWatchdog &&
        System.currentTimeMillis() >= deadlineMs &&
        (code == 137 || code == 143)
      queries.filterNot(seen).foreach { q =>
        // never started: budget exhaustion (our watchdog kill, or the
        // fork's own deadline shedding) is a SKIP — only an unexplained
        // fork death (crash/OOM before the query's HEAVY/HEAVYFAIL line)
        // records a failure
        skipped += q
        if (code != 0 && !deadlineKill) failed += q
      }
      if (code != 0)
        System.err.println(s"[bench] heavy fork exit $code" +
          (if (deadlineKill) " (deadline kill -> skipped)"
           else if (killedByWatchdog) " (watchdog fired but exit code is not a kill signal -> failure)"
           else "") +
          s" (completed ${out.size}/${queries.size})")
      out.toSeq
    }

    val heavy: Seq[HeavyResult] = if (heavyCopies > 1) {
      val heavyDir = sys.env.getOrElse("SPARK_GRAFT_HEAVY_DIR",
        s"/tmp/graft_heavy_x$heavyCopies")
      HeavyData.ensure(spark, sfDir, heavyDir, heavyCopies)
      val classes = new java.io.File("target/scala-2.13/classes").getAbsoluteFile
      if (classes.isDirectory) {
        val javaBin = new java.io.File(
          new java.io.File(sys.props("java.home"), "bin"), "java").getPath
        val cp = classes.getPath + java.io.File.pathSeparator + "/opt/spark/jars/*"
        // both tiers keep heavy_n runs: a single-run worst-case tier
        // was tried (round-8) and covered 6/8 members — but the values
        // it records are one-shot COLD numbers that co-tenant load
        // inflates arbitrarily (e6 90.8 s against a 1.7 s warm
        // receipt), which reads as a regression it isn't. A shed tail
        // member with a standing BENCH_NOTES receipt beats a measured
        // member with a misleading number.
        val measured = lastMeasuredHeavy()
        val ever = everMeasuredHeavy()
        // round-16 item 6: the widest-spread member (d5 today) fronts
        // its fork ahead of the rotation bands, so the known-amplified
        // member is measured before the ~12-minute co-tenant arrival
        val bandHistory = ledgerSamples(sys.env.getOrElse(
          "SPARK_GRAFT_LEDGER", "BENCH_LEDGER.jsonl"))
        val twoForks = Seq(
          (frontWidestSpread(
            rotateUnmeasuredFirst(heavyCanaries, measured, ever),
            bandHistory), heavyN, true, fork2ReserveSec),
          (frontWidestSpread(
            rotateUnmeasuredFirst(heavyWorstCases, measured, ever),
            bandHistory), heavyN, false, 0.0))
          .flatMap { case (group, n, warm, reserveAfter) =>
            if (remainingForkSec < 60) { skipped ++= group; Seq.empty }
            else runHeavyFork(heavyDir, cp, javaBin, group, n, warm,
              reserveAfter)
          }
        // RECLAIM PASS (round 12): the fork deadlines and sub-reserve
        // are sized conservatively, and the round-11 driver run ended
        // with 132 s of its 900 s budget UNUSED while 12 members stood
        // shed — nothing ever claimed the leftover. One more fork
        // re-launches every member both forks shed (roster order =
        // each tier's cheapest-receipt-first order), single run each
        // (coverage outranks precision here — the repeat convention
        // already yields to coverage inside a fork), no warm pass
        // (most shed members are the saturation-bound dedup family,
        // which the warm pass measurably inflates), under the same
        // per-run cap and the same absolute deadline. Members whose
        // run 1 was CAP-cancelled are not retried: the cap firing IS
        // their measurement ("pathological"), and a retry would burn
        // the cap again. A member the reclaim fork lands leaves the
        // skipped list; one it cannot reach just stays shed.
        val measuredNow = twoForks.map(_.name).toSet
        val reclaimable = (heavyCanaries ++ heavyWorstCases).filter(q =>
          skipped.contains(q) && !measuredNow.contains(q) &&
            !failed.contains(q) && !capped.contains(q))
        // the reclaim fork's hang insurance: 30 s covers the worst
        // observed fork overrun (17 s) with margin while leaving most
        // of the main forks' undrawn 120 s grace spendable on shed
        // members (JVM+session+firstTouch costs ~30 s, then quiet
        // dedup-family members run 3-15 s each). 45 -> 30 and floor
        // 40 -> 28 (round 13): the round-12 driver ended with 57.6 s
        // unused because grace 45 + floor 40 refused to spend it —
        // at 28 s usable the fork boots and lands at least the
        // cheapest shed member, which beats leaving the minute on the
        // table.
        val reclaimGrace =
          sys.env.getOrElse("SPARK_GRAFT_RECLAIM_GRACE", "30").toDouble
        val reclaimUsable = remainingSec - reclaimGrace - 15.0
        val reclaimed =
          if (reclaimable.nonEmpty && reclaimUsable > 28) {
            System.err.println(s"[bench] reclaim pass: " +
              s"${reclaimable.size} shed members, " +
              f"$reclaimUsable%.0f s usable")
            runHeavyFork(heavyDir, cp, javaBin, reclaimable, 1,
              warmPass = false, reserveAfterSec = 0.0,
              graceOverride = Some(reclaimGrace))
          } else Seq.empty
        val reclaimedNames = reclaimed.map(_.name).toSet
        skipped.filterInPlace(q => !reclaimedNames(q))
        twoForks ++ reclaimed
      } else {
        System.err.println("[bench] no classes dir; heavy tier in-session")
        SparkEntry.clearCaches(spark)
        spark.catalog.clearCache()
        System.gc()
        Tables.load(spark, heavyDir, "lineitem").count()
        (heavyCanaries ++ heavyWorstCases).flatMap { n =>
          // same query semantics as the fork path: resolve() swaps in
          // the heavy variants (persisted e3/e4 fixtures, production
          // d16 config) — SparkEntry.queries here would time DIFFERENT
          // work under the same JSON key
          if (remainingSec < 60) { skipped += n; None }
          else {
            def one(): Option[Double] = {
              // untimed, BETWEEN runs: let the ContextCleaner drop dead
              // shuffle/broadcast state (the cleaner-starvation effect
              // HeavyRunner documents — big heaps may never GC on their
              // own and consecutive big-shuffle runs multiply in cost)
              System.gc()
              val t0 = System.nanoTime()
              try {
                tools.HeavyRunner.resolve(n)(spark, heavyDir)
                  .write.format("noop").mode("overwrite").save()
                Some((System.nanoTime() - t0) / 1e9)
              } catch {
                case e: Throwable =>
                  System.err.println(s"[bench] heavy $n FAILED: ${e.getMessage}")
                  failed += n
                  None
              }
            }
            val runs = Seq(one(), one()).flatten
            if (runs.nonEmpty) {
              println(f"""{"q":"$n","heavy_sec":${runs.min}%.3f}""")
              Console.out.flush()
              Some(HeavyResult(n, runs, Seq.empty, Seq.empty, Seq.empty,
                Seq.empty, Seq.empty, Seq.empty, Seq.empty, Seq.empty,
                Seq.empty, Seq.empty, Seq.empty))
            } else None
          }
        }
      }
    } else Seq.empty

    // ---- tail outlier rerun: a light wall measured during a
    // co-tenant load episode reads as a regression it isn't (rounds
    // 7-9: three driver artifacts mooted; d23 21.3 s vs a 3.6 s quiet
    // receipt). By the tail the episode has usually passed, so every
    // multi-second light query gets more samples (cheapest first — a
    // budget cut drops the single most expensive retry), and the
    // record keeps the min. Round 11: the effort is PROPORTIONAL to
    // the outliers still standing — up to three passes, each revisiting
    // only the entries whose corrected wall is still >= rerunMin, and
    // a pass that improves nothing ends the loop (the episode either
    // passed, in which case pass 1 fixed everything fixable, or it is
    // still running, in which case more samples only burn the grace
    // reserve). The round-10 driver shape fixed 2/5 outliers with its
    // single fixed pass; o16's 21.9 s stood.
    //
    // Self-correcting, no external state; a rerun that throws is
    // ignored (the query already succeeded — the retry exists only to
    // refine its number; NonFatal only, so an OOM propagates instead
    // of being swallowed into a half-dead JVM — round-10 advice).
    val rerunMin = sys.env.getOrElse("SPARK_GRAFT_RERUN_MIN", "3.0").toDouble
    val tailReruns = scala.collection.mutable.LinkedHashMap[String, Double]()
    def correctedBest(name: String, b: Double): Double =
      math.min(b, tailReruns.getOrElse(name, b))
    var pass = 0
    var improvedThisPass = true
    while (pass < 3 && improvedThisPass) {
      improvedThisPass = false
      pass += 1
      results.map { case (n, b) => n -> correctedBest(n, b) }
        .filter(_._2 >= rerunMin).sortBy(_._2)
        .foreach { case (name, best) =>
          // reserve 10x the prior wall on top of the 90 s floor: a
          // rerun launched into a still-active load episode can itself
          // inflate ~10x (d25: 10.2 s vs 1.6 s receipt), and an
          // unbounded overrun here would eat the grace reserve and
          // truncate the final artifact — the round-7 failure this
          // file guards against. The grace+30 floor additionally stops
          // ALL reruns once the final print's reserve is at risk.
          if (remainingSec > math.max(90 + 10 * best, graceSec + 30)) {
            val t0 = System.nanoTime()
            val t = try {
              SparkEntry.queries(name)(spark, sfDir).count()
              Some((System.nanoTime() - t0) / 1e9)
            } catch { case scala.util.control.NonFatal(_) => None }
            t.filter(_ < best).foreach { v =>
              tailReruns(name) = v
              improvedThisPass = true
              println(f"""{"q":"$name","sec":$v%.3f,"tail_rerun":true}""")
              Console.out.flush()
            }
          }
        }
    }
    val corrected = results.map { case (n, b) => n -> correctedBest(n, b) }
    val loadEnd = loadAvg

    // ---- quiet-band ledger (round-15 item 6, extended round 16):
    // persist this run's heavy series AND its top-10 corrected light
    // walls, then publish per-member quiet bands (heavy: min/max
    // cpu + minflt; light: min/max wall) in the detail line so a
    // firing in EITHER tier is adjudicated against the artifact
    // itself. The append runs after the tail reruns so the light
    // samples are the run's most shielded numbers. ----
    val ledgerPath = sys.env.getOrElse("SPARK_GRAFT_LEDGER",
      "BENCH_LEDGER.jsonl")
    // Round-17 (verdict item 7): once a member has entered the light
    // ledger (any run's top-10), EVERY later run contributes its
    // corrected wall — so a member that spiked under co-tenant load
    // (d27's 33.9 s in the r16 artifact vs a 1.6 s quiet receipt)
    // accumulates quiet samples on subsequent runs and its published
    // band converges to the quiet wall instead of freezing at the
    // firing. Measurement methodology is untouched — this only widens
    // WHICH already-measured walls are persisted for the bands.
    val lightHistory = lightLedgerSamples(ledgerPath).keySet
    val lightForLedger = (corrected.sortBy(-_._2).take(10) ++
      corrected.filter(kv => lightHistory.contains(kv._1))).distinct
    appendLedger(ledgerPath,
      heavy.collect { case h if h.cpus.nonEmpty =>
        (h.name, h.walls, h.cpus, h.minflts)
      },
      lightForLedger)
    val quietBands = quietBandsJson(ledgerSamples(ledgerPath))
    val lightBands = lightBandsJson(lightLedgerSamples(ledgerPath))

    def obj(kv: Seq[(String, Double)]) =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def obj1(kv: Seq[(String, Double)]) =
      kv.map { case (k, v) => f""""$k":$v%.1f""" }.mkString("{", ",", "}")
    def arrObj(kv: Seq[(String, Seq[Double])]) =
      kv.map { case (k, v) => "\"" + k + "\":" + v.mkString("[", ",", "]") }
        .mkString("{", ",", "}")
    def strArr(xs: Seq[String]) =
      xs.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = corrected.map(_._2).sum
    // heavy value = min wall; heavy_gc = GC seconds of that same run;
    // heavy_runs/heavy_gc_runs = the full series for variance checks;
    // heavy_io_runs = per-run block-device MB read (/proc/self/io) —
    // the cache-cold-vs-CPU-bound discriminator across environments.
    val heavyMin = heavy.map(h => h.name -> h.walls.min)
    val heavyGc = heavy.collect { case h if h.gcs.nonEmpty =>
      h.name -> h.gcs(h.walls.indexOf(h.walls.min)) }
    // Clean up BEFORE printing: the final JSON must be the LAST thing
    // on stdout/stderr, because the driver captures a bounded tail.
    // Round 6's artifact was unparseable solely because clearCaches ran
    // after the print and its localCheckpoint-unpersist WARNs (one per
    // pinned RDD) flooded the tail. log4j2.properties additionally
    // silences that logger, but ordering must not depend on it.
    SparkEntry.clearCaches(spark)
    // PENULTIMATE line: the full evidence — every light timing and all
    // five heavy per-run series. Bulky (>5 KB) and therefore NOT the
    // line the driver parses.
    println(s"""{"metric":"detail","queries":${obj(corrected)},""" +
      s""""tail_reruns":${obj(tailReruns.toSeq)},""" +
      s""""heavy_gc":${obj(heavyGc)},""" +
      s""""heavy_runs":${arrObj(heavy.map(h => h.name -> h.walls))},""" +
      s""""heavy_gc_runs":${arrObj(heavy.map(h => h.name -> h.gcs))},""" +
      s""""heavy_load_runs":${arrObj(heavy.map(h => h.name -> h.loads))},""" +
      s""""heavy_cpu_runs":${arrObj(heavy.map(h => h.name -> h.cpus))},""" +
      s""""heavy_io_runs":${arrObj(heavy.map(h => h.name -> h.ios))},""" +
      // the round-12 contention adjudicators: loadavg at run START
      // (heavy_load_runs already carries the END sample) and the
      // involuntary context-switch delta — a ctxt delta scaling with
      // an inflated cpu tail = contention; flat = real work
      s""""heavy_load_start_runs":${arrObj(heavy.map(h => h.name -> h.loadStarts))},""" +
      s""""heavy_ctxt_runs":${arrObj(heavy.map(h => h.name -> h.ctxts))},""" +
      // cached-storage MB after each run: the eviction receipt (the
      // round-12 stress experiment cleared scheduler contention as a
      // cpu-time inflator — silent index re-execution after eviction
      // is the live hypothesis for a cpu-inflated firing)
      s""""heavy_cached_mb_runs":${arrObj(heavy.map(h => h.name -> h.cachedMb))},""" +
      // the round-13 amplification instrument's always-on fields:
      // per-run major-fault delta (co-tenant memory pressure forces
      // our own pages back through the block device — the one
      // mechanism left standing for the d5/e6 firings) and box-wide
      // MemAvailable MB at run start
      s""""heavy_majflt_runs":${arrObj(heavy.map(h => h.name -> h.majflts))},""" +
      s""""heavy_memavail_mb_runs":${arrObj(heavy.map(h => h.name -> h.memAvailMb))},""" +
      // minor faults: kernel anon-page work (THP compaction / direct
      // reclaim) runs in OUR fault path on OUR cpu accounting — the
      // round-14 discriminator for cpu-inflated firings that majflt
      // and the synthetic co-tenant experiments cleared (BENCH_NOTES)
      s""""heavy_minflt_runs":${arrObj(heavy.map(h => h.name -> h.minflts))},""" +
      // per-member quiet bands over ALL official history (the ledger):
      // min/max cpu-s and minflt of in-band runs — a firing reads as
      // "this run's cpu/minflt minus the band" with no archaeology
      s""""heavy_quiet_band":$quietBands,""" +
      // round-16 item 7: light-tier bands for the members that have
      // appeared in any official run's top-10 walls — the w-tail's
      // co-tenant inflation (w11 5.1→14.0, w20 2.7→10.7 in r15)
      // becomes subtraction-readable like the heavy tier's
      s""""light_quiet_band":$lightBands,""" +
      s""""heavy_warm":${arrObj(heavy.map(h => h.name -> h.warm))}}""")
    // FINAL line: a compact summary that must fit the driver's bounded
    // stdout tail window (~2.2 KB observed, which also has to hold
    // sbt's trailing "[success]" line) — rounds 1-7 all produced
    // `parsed: null` and the only remaining cause in round 7 was this
    // line's size (five full series maps put it past the window, which
    // then clipped the line's FRONT). Budget: "queries" carries only
    // the 10 slowest light queries (the full map is on the detail line
    // and in the per-query incremental lines), heavy carries min walls
    // at 1 decimal. Target ≤ ~1 KB.
    val slowest = corrected.sortBy(-_._2).take(10)
    println(f"""{"metric":"total","value":$total%.2f,"unit":"sec",""" +
      s""""light_n":${corrected.size},""" +
      s""""queries":${obj1(slowest)},""" +
      s""""heavy":${obj1(heavyMin)},""" +
      s""""heavy_n":$heavyN,"heavy_copies":$heavyCopies,""" +
      f""""load":[$loadStart%.1f,$loadPostLight%.1f,$loadEnd%.1f],""" +
      s""""reruns_fixed":${tailReruns.size},""" +
      f""""budget_sec":$budgetSec%.0f,"elapsed_sec":$elapsedSec%.1f,""" +
      s""""skipped":${strArr(skipped.toSeq)},""" +
      s""""capped":${strArr(capped.toSeq)},""" +
      s""""failed":${strArr(failed.toSeq)},"sf":"$sfDir"}""")
    Console.out.flush()
    spark.stop()
    // nonzero exit is reserved for GENUINE query failures; budget-shed
    // work exits 0 with a "skipped" record (explicit partial > nothing)
    if (failed.nonEmpty) sys.exit(1)
  }
}