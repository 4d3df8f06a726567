package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.ActivitySink
import graft.operators.SkewSalt

class ActivitySinkSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("append-mode date-partitioned sink + watermark scan (K1/S3)") {
    val dir = tempDir("graft-sink").toString + "/activities"
    assert(ActivitySink.latestEpoch(spark, dir, 7L) == 0L) // empty sink

    val batch1 = Seq((1L, 7L, 1704412800L), (2L, 7L, 1704499200L))
      .toDF("id", "user_id", "epoch")
    ActivitySink.append(batch1, dir)
    assert(ActivitySink.latestEpoch(spark, dir, 7L) == 1704499200L)
    assert(ActivitySink.latestEpoch(spark, dir, 8L) == 0L) // other user empty

    val batch2 = Seq((3L, 7L, 1704585600L)).toDF("id", "user_id", "epoch")
    ActivitySink.append(batch2, dir)
    assert(ActivitySink.latestEpoch(spark, dir, 7L) == 1704585600L)

    // physical layout is date-partitioned (partition pruning surface)
    val parts = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("activity_date="))
    assert(parts.length == 3)
  }
}

class SkewSaltSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("salted two-phase aggregation equals plain groupBy") {
    // one hot key (90% of rows) + long tail
    val rows = (1 to 2000).map { i =>
      val k = if (i % 10 != 0) "hot" else s"k${i % 7}"
      (k, (i % 100).toDouble)
    }
    val df = rows.toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("sum_v"), count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val salted = SkewSalt.saltedSumCount(df, Seq("k"), "v", salts = 16)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(salted.keySet == plain.keySet)
    salted.foreach { case (k, (s, c)) =>
      assert(c == plain(k)._2)
      assert(math.abs(s - plain(k)._1) < 1e-6)
    }
  }
}

class BucketedJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bucketed+sorted tables join without a shuffle exchange") {
    val o = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val c = Tables.load(spark, "/root/testdata/sf0.001", "customer")
    o.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_bkt")
    c.write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_bkt")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_bkt")
        .join(spark.table("customer_bkt"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // co-located buckets: sort-merge join with NO ShuffleExchange
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"))
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }
}

class AnnRecallSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("hamming-1 multiprobe recall >= single-probe recall vs brute force") {
    val dir = "/root/testdata/sf0.001"
    def pairs(q: String): Set[(Long, Long)] =
      SparkEntry.queries(q)(spark, dir).select("qid", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs("n1_ann_topk")
    val single = pairs("n3_ann_lsh")
    val multi = pairs("n4_ann_multiprobe")
    assert(multi.size >= single.size, "multiprobe must not shrink the candidate top-k")
    val rSingle = (single & truth).size
    val rMulti = (multi & truth).size
    assert(rMulti >= rSingle,
      s"multiprobe recall $rMulti < single-probe $rSingle of ${truth.size}")
    assert(multi.nonEmpty)
  }

  test("int8-quantized top-k (n6) recall vs float brute force") {
    val dir = "/root/testdata/sf0.001"
    def pairs(q: String): Set[(Long, Long)] =
      SparkEntry.queries(q)(spark, dir).select("qid", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs("n1_ann_topk")
    val quant = pairs("n6_ann_quantized")
    assert(quant.size == truth.size, "quantized path must fill every top-k slot")
    // int8 over 64 dims loses ~1e-2 of score resolution; on random
    // embeddings the top-k overlap should stay high — a collapse here
    // means the scale/code math broke, not that quantization "is lossy"
    val recall = (quant & truth).size.toDouble / truth.size
    assert(recall >= 0.6, s"quantized recall $recall < 0.6")
  }

  test("PQ-ADC top-k (n8): full slots, picks far above the random baseline") {
    import graft.operators.Ann
    val dir = "/root/testdata/sf0.001"
    val em = Tables.load(spark, dir, "embeddings")
    val pq = SparkEntry.queries("n8_ann_pq")(spark, dir)
      .select("qid", "neighbor_id")
    assert(pq.count() == 25, "PQ path must fill every top-k slot")
    // 2×16 codebooks over STRUCTURE-FREE random embeddings can't chase
    // exact top-k (sf0.01 recall ≈ 0.16 — quantization noise dominates
    // when there are no clusters to exploit), so the pin is the
    // decision-quality one: the TRUE cosine of PQ's picks must sit far
    // above the corpus mean (≈ 0 for random vectors). A broken
    // codebook/LUT collapses picks to random → mean ≈ 0.
    val truth = Ann.bruteForceScores(em, col("vec_id") < 5)
    val meanCos = pq.join(truth, Seq("qid", "neighbor_id"))
      .agg(avg("cos_r")).collect()(0).getDouble(0)
    assert(meanCos > 0.15, s"PQ picks average true cosine $meanCos — near random")
  }

  test("graph ANN (n23) recall@5 >= the IVF gate's on the same probes") {
    // the round-12 bar: the HNSW-class member must not trail the
    // engine's own IVF path on the shared probe set (vec_id < 5)
    val dir = "/root/testdata/sf0.001"
    def pairs(q: String): Set[(Long, Long)] =
      SparkEntry.queries(q)(spark, dir).select("qid", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs("n1_ann_topk")
    val ivf = pairs("n5_ann_kmeans")
    val graph = pairs("n23_ann_graph")
    assert(graph.size == truth.size, "graph path must fill every top-k slot")
    val rGraph = (graph & truth).size
    val rIvf = (ivf & truth).size
    assert(rGraph >= rIvf,
      s"graph recall $rGraph < IVF recall $rIvf of ${truth.size}")
  }

  test("learned-kmeans IVF (n5) recall vs brute force") {
    val dir = "/root/testdata/sf0.001"
    def pairs(q: String): Set[(Long, Long)] =
      SparkEntry.queries(q)(spark, dir).select("qid", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs("n1_ann_topk")
    val km = pairs("n5_ann_kmeans")
    // probing 2 of 5 cells must still return a FULL top-k per query...
    assert(km.size == truth.size,
      s"kmeans IVF returned ${km.size} of ${truth.size} top-k slots")
    // ...and recall the probed fraction of true neighbors. On random
    // embeddings 2/5 cells hold ~40% of neighbors in expectation;
    // a broken codebook (empty/degenerate cells) collapses below this.
    val recall = (km & truth).size.toDouble / truth.size
    assert(recall >= 0.3, s"kmeans IVF recall $recall < 0.3")
  }

  test("exact re-rank (n11) only reorders PQ candidates and never hurts decision quality") {
    import graft.operators.Ann
    val dir = "/root/testdata/sf0.001"
    val em = Tables.load(spark, dir, "embeddings")
    def pairs(q: String): Set[(Long, Long)] =
      SparkEntry.queries(q)(spark, dir).select("qid", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val reranked = pairs("n11_ann_rerank")
    assert(reranked.size == 25, "rerank must fill every top-k slot")
    // re-ranking can only choose among what PQ proposed: every pick is
    // inside the coarse candidate set
    val coarse = Ann.pqTopK(em, m = 2, subDim = 32, k = 16, iters = 1,
      queryPred = col("vec_id") < 5, topK = 20)
      .select("qid", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reranked.subsetOf(coarse), "rerank invented a non-candidate neighbor")
    // decision quality: the TRUE mean cosine of reranked picks must be
    // at least PQ-only's (exact scoring of the same candidate pool
    // cannot do worse than approximate scoring of it)
    val truth = Ann.bruteForceScores(em, col("vec_id") < 5)
    def meanCos(picks: Set[(Long, Long)]): Double = {
      import spark.implicits._
      val p = picks.toSeq.toDF("qid", "neighbor_id")
      truth.join(p, Seq("qid", "neighbor_id"))
        .agg(avg("cos_r")).collect()(0).getDouble(0)
    }
    val pqOnly = pairs("n8_ann_pq")
    assert(meanCos(reranked) >= meanCos(pqOnly) - 1e-9,
      "exact re-rank scored below PQ-only on true cosine")
  }
}

class CacheLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("dedup materialized indexes unpersist on clearCaches") {
    // build + materialize the signature/pairs indexes via a consumer
    SparkEntry.queries("d3_lsh_pairs")(spark, "/root/testdata/sf0.001").count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "dedup chain should persist its materialized indexes")
    SparkEntry.clearCaches(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "clearCaches must leave no pinned RDDs")
    // rebuild-on-demand after a clear still works
    assert(SparkEntry.queries("d3_lsh_pairs")(spark, "/root/testdata/sf0.001").count() > 0)
    SparkEntry.clearCaches(spark)
  }

  test("staging policy: the staged artifacts, in staging order") {
    SparkEntry.clearCaches(spark) // declares SparkEntry's artifacts
    assert(SessionArtifact.stagedNames === Seq(
      "graphEdges", "localGraphIndex", "tradeEdges", "lpaLabels",
      "storedEdges", "incrEdges", "storedClusters", "codebook/full",
      "codebook/stored", "segEdges", "e18Seed",
      "w14Inputs", "w20Inputs", "w21Inputs", "w22Inputs", "w23Inputs",
      "w24Inputs", "w25w26Inputs", "w27Inputs", "w28Inputs", "w29Inputs",
      "w30Inputs", "w31Inputs", "w32w33Inputs", "w34Inputs", "w36Inputs"))
  }

  test("stageIndexes + d3 + g61, then clearCaches: no pin, dir or entry survives") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.stageIndexes(spark, dir)
    SparkEntry.queries("d3_lsh_pairs")(spark, dir).count()
    SparkEntry.queries("g61_personalized_pagerank")(spark, dir).count()
    // directory-kind values are the only String ones: 15 arrival
    // fixtures plus the e18 seed store
    val dirs = SessionArtifact.held(spark).collect { case (_, p: String) => p }
    assert(dirs.size === 16)
    assert(dirs.forall(new java.io.File(_).isDirectory))
    SparkEntry.clearCaches(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "clearCaches must leave no pinned RDDs")
    assert(dirs.filter(new java.io.File(_).exists).isEmpty,
      "clearCaches must delete every staged directory")
    assert(SessionArtifact.held(spark).isEmpty,
      "clearCaches must leave no registry entry for the session")
  }

  test("a staging seed that throws leaves no temp directory behind") {
    // an empty corpus dir: each stager's first table read throws after
    // its temp directory exists
    SparkEntry.clearCaches(spark) // the session exists before the listing
    val empty = java.nio.file.Files.createTempDirectory("empty-corpus").toFile
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftDirs = Option(tmp.list).map(_.toSet).getOrElse(Set.empty)
      .filter(_.startsWith("graft"))
    val before = graftDirs
    for (g <- Seq("w14_stream_agg_maintenance", "e18_compaction_apply"))
      intercept[Throwable] {
        SparkEntry.queries(g)(spark, empty.getPath).count()
      }
    empty.delete()
    assert((graftDirs -- before).isEmpty,
      s"orphaned staging dirs: ${graftDirs -- before}")
    SparkEntry.clearCaches(spark)
  }

  test("store gates w14/w24/w25/w26/w28 delete their per-call directory") {
    SparkEntry.clearCaches(spark) // the session exists before the listing
    val dir = "/root/testdata/sf0.001"
    val gates = Seq("w14_stream_agg_maintenance", "w24_stream_skew",
      "w25_stream_changepoint", "w26_stream_changepoints", "w28_stream_ann_ingest")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def gateDirs = Option(tmp.list).map(_.toSet).getOrElse(Set.empty)
      .filter(n => Seq("w14", "w24", "w25", "w26", "w28").exists(g => n.startsWith(s"graft-$g")))
    val before = gateDirs
    gates.foreach(g => assert(SparkEntry.queries(g)(spark, dir).collect().nonEmpty, g))
    SparkEntry.clearCaches(spark) // releases the staged arrival batches
    assert((gateDirs -- before).isEmpty, s"left behind: ${gateDirs -- before}")
  }
}

class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("q03/q05 plans: dims broadcast, fact predicate pushed into the parquet scan") {
    for (q <- Seq("q03_shipping", "q05_local_supplier")) {
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$q should broadcast its dims")
    }
    val q3 = SparkEntry.queries("q03_shipping")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // the l_shipdate filter must reach the lineitem scan, not sit in a
    // post-scan Filter only (at 100 TB this is the difference between
    // reading a slice and reading the table)
    assert(q3.contains("GreaterThan(l_shipdate"), "shipdate filter not pushed to scan")
  }

  test("a5 fast-kernel plan: one exchange, one sort, no collect_list frames") {
    val qe = SparkEntry.queries("a5_rolling_full")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // all 9 (channel, window) columns must ride ONE event_type
    // partitioning + sort — an extra exchange or sort means a window
    // spec drifted; collect_list means the O(n)-per-row kernel leaked in
    val exchanges = "Exchange hashpartitioning".r.findAllIn(qe).length
    val sorts = "Sort \\[".r.findAllIn(qe).length
    assert(exchanges == 1, s"a5 grew to $exchanges exchanges:\n$qe")
    // final orderBy adds a range exchange + global sort; the window
    // block itself must contribute exactly one sort
    assert(sorts <= 2, s"a5 grew to $sorts sorts:\n$qe")
    assert(!qe.contains("collect_list"), "a5 must use the O(1) ring-buffer kernel")
  }

  test("x15 production form: an HLL-only profile plans with NO Expand") {
    // the x15 gate carries exact count_distinct next to the HLL
    // estimates as its audit apparatus, which plans one Expand (rows
    // x distinct-columns through the aggregation); the production
    // profile drops the exact columns, and the plan must then be a
    // single no-Expand pass over the corpus — the 100 TB shape x6's
    // comment promises. Pinned both ways so a Spark planning change
    // (or a gate edit) that breaks the swap is visible.
    import org.apache.spark.sql.functions._
    val ev = spark.range(1000).select(col("id").as("a"), (col("id") % 7).as("b"))
    val exact = ev.agg(count_distinct(col("a")).as("da"),
      count_distinct(col("b")).as("db"), count(col("a")).as("n"))
    val hllOnly = ev.agg(approx_count_distinct(col("a"), 0.05).as("da"),
      approx_count_distinct(col("b"), 0.05).as("db"),
      count(col("a")).as("n"), min(col("b")).cast("string").as("mn"))
    assert(exact.queryExecution.executedPlan.toString.contains("Expand"),
      "multi-column exact distinct should Expand (the audit form's price)")
    assert(!hllOnly.queryExecution.executedPlan.toString.contains("Expand"),
      "HLL-only profile must be a single no-Expand pass")
  }

  test("q18 final AQE plan: facts never reshuffled, no forced broadcast hint") {
    // the survivor set's size is data-dependent, so q18 carries no
    // broadcast() hint — AQE must still settle on a plan whose ONLY
    // hash exchange is the lineitem partial-agg shuffle (orders and
    // customer are joined without being reshuffled)
    val q18 = SparkEntry.queries("q18_large_orders")(spark, "/root/testdata/sf0.001")
    q18.collect()
    val plan = q18.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"))
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(exchanges == 1, s"q18 facts got reshuffled ($exchanges hash exchanges):\n$finalPlan")
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled")
    try {
      // thresholds scaled down so a 54k-row hot key trips the same
      // OptimizeSkewedJoin logic that fires at 256MB partitions in prod
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val left = (0 until 60000).map(i => (if (i % 10 != 0) 7L else i.toLong, i.toLong))
        .toDF("k", "v")
      val right = (0 until 5000).map(i => (i.toLong, s"payload_$i")).toDF("k", "p")
      val j = left.join(right, "k")
      assert(j.collect().length == 54500) // 54000 hot-key + 500 tail matches
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin(skew=true)"),
        s"AQE did not mark the join as skewed:\n${plan.take(2000)}")
      assert(plan.contains("AQEShuffleRead skewed"),
        "AQE did not split the skewed shuffle read")
    } finally restore.foreach(spark.conf.unset)
  }

  test("q02/q17 correlated-min plans: per-part window, not a self-join") {
    // the correlated MIN/AVG-per-part subquery must compile to ONE
    // partition window over the part key — a join-back against a
    // re-aggregated copy would scan the fact twice at 100 TB
    val q02 = SparkEntry.queries("q02_min_cost_supplier")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // exactly two hash exchanges: the (part, supplier) aggregation and
    // the per-part window; dims all broadcast
    val ex02 = "Exchange hashpartitioning".r.findAllIn(q02).length
    assert(ex02 == 2, s"q02 grew to $ex02 hash exchanges:\n$q02")
    assert(q02.contains("Window"), "q02 lost its window-min formulation")
    val q17 = SparkEntry.queries("q17_small_qty_revenue")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val ex17 = "Exchange hashpartitioning".r.findAllIn(q17).length
    assert(ex17 == 1, s"q17 grew to $ex17 hash exchanges:\n$q17")
    assert(q17.contains("Window"), "q17 lost its window-avg formulation")
  }

  test("q19 disjunctive plan: one broadcast join, zero fact shuffles") {
    val plan = SparkEntry.queries("q19_disjunctive_rev")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "q19 part side must broadcast")
    // the OR-of-ANDs is a residual join predicate + partial agg — the
    // fact is never hash-repartitioned (only the final SinglePartition
    // gather of two partial sums)
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(ex == 0, s"q19 shuffled the fact ($ex hash exchanges):\n$plan")
    // the derived brand-membership filter reaches the part scan
    assert(plan.contains("In(p_brand"), "brand union filter not pushed to part scan")
  }

  test("flagship e1 plan: two shuffles, join-free spine") {
    val plan = SparkEntry.queries("e1_pipeline_nested")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // join-free gap fill: the hourly agg shuffles on (user_id, h), then
    // ONE user_id exchange carries the spine window, interpolation,
    // rolling and nesting — no spine join, no broadcast
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 2, s"flagship grew to $shuffles shuffle exchanges:\n$plan")
    assert(!plan.contains("Join"), "flagship pipeline should be join-free")
  }

  test("g45 sweep plan: one user exchange shared by window and aggregation, join-free") {
    val plan = SparkEntry.queries("g45_interval_coverage")(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    // the running-max window and the per-user aggregation ride the SAME
    // hashpartitioning(user_id) — a second hash exchange means the
    // groupBy stopped reusing the window's partitioning; a Join means
    // the sweep regressed to an interval self-join
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(ex == 1, s"g45 grew to $ex hash exchanges:\n$plan")
    assert(!plan.contains("Join"), "interval sweep must be join-free")
  }

  test("o23 frontier plan: windows only — no join, no cartesian product") {
    val plan = SparkEntry.queries("o23_pareto_front")(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    // the oracle checks dominance with NOT EXISTS; the ENGINE must
    // never — a Join node here means the skyline regressed to the
    // O(n^2) block-nested-loop form
    assert(!plan.contains("Join"), s"skyline must not join:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("g46 rule plan: marginals broadcast, pair table never sort-merge-joined") {
    val plan = SparkEntry.queries("g46_assoc_rules")(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "item marginals must broadcast onto the pair table")
    assert(!plan.contains("SortMergeJoin"),
      s"domain-sized marginals got shuffle-joined:\n$plan")
  }

  test("n17 projection plan: zero shuffles before the output sort") {
    val plan = SparkEntry.queries("n17_jl_projection")(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    // k signed sums are per-row codegen expressions — any hash
    // exchange means the explode+pivot form leaked in
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(ex == 0, s"n17 shuffled ($ex hash exchanges):\n$plan")
    assert(!plan.contains("Generate"), "n17 must not explode the vectors")
  }
}

class StatefulStreamSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("watermarked streaming dedup drops duplicate event ids") {
    import graft.streaming.EventStream
    val batch = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value").limit(200)
    val doubled = batch.union(batch) // every event twice
    val dir = tempDir("graft-dedup").toString
    doubled.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = EventStream.dedupedEvents(stream).writeStream
      .format("memory").queryName("deduped").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("deduped").count() == 200)
      assert(spark.table("deduped").select("event_id").distinct().count() == 200)
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits milestone rows at count thresholds") {
    import graft.streaming.EventStream
    val dir = tempDir("graft-ms").toString
    val batch = (1 to 250).map(i => (7L, i.toDouble)) ++ (1 to 90).map(i => (8L, i.toDouble))
    batch.toDF("user_id", "value").write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema("user_id LONG, value DOUBLE").parquet(dir)
      .as[EventStream.UserEvent]
    val q = EventStream.userMilestones(stream, every = 100L).writeStream
      .format("memory").queryName("milestones").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("milestones").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((7L, 100L), (7L, 200L))) // user 8 never crosses 100
    } finally q.stop()
  }

  test("mapGroupsWithState running totals match batch aggregation") {
    import graft.streaming.EventStream
    val batch = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val dir = tempDir("graft-state").toString
    batch.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(batch.schema).parquet(dir)
      .select(col("user_id"), col("value")).as[EventStream.UserEvent]
    val q = EventStream.runningUserTotals(stream).writeStream
      .format("memory").queryName("totals").outputMode("update").start()
    try {
      q.processAllAvailable()
      val got = spark.table("totals")
        .groupBy("user_id").agg(max("n_events").as("n")) // last update per user
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = batch.groupBy("user_id").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected)
    } finally q.stop()
  }
}

/** IVF probing is an accuracy/cost dial; these pin its two endpoints
  * and the direction of travel. Candidate sets are nested in nprobe
  * (probing more cells only adds candidates), so recall vs the exact
  * brute-force top-k can never decrease — and probing EVERY cell makes
  * the inverted file a partition of the corpus, i.e. the candidate set
  * is the full corpus and IVF must equal brute force bit-for-bit. */
class IvfProbeSweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("recall is monotone in nprobe and exact at full probe") {
    import graft.operators.Ann
    val em = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val pred = col("vec_id") < 5
    val k = 5
    val cent = Ann.kmeansCentroids(em, 5, 2)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Ann.bruteForceTopK(em, pred, k))
    val recalls = Seq(1, 2, 5).map { np =>
      np -> (pairs(Ann.ivfTopK(em, cent, pred, k, np)) & truth).size
    }
    recalls.sliding(2).foreach { case Seq((npA, rA), (npB, rB)) =>
      assert(rA <= rB, s"recall fell from $rA (nprobe=$npA) to $rB (nprobe=$npB)")
    }
    assert(recalls.last._2 == truth.size,
      s"full probe (nprobe=5 of 5 cells) recalled ${recalls.last._2} of ${truth.size}")
  }
}

/** The custom gap operator and Spark's built-in session_window must
  * describe the SAME sessions — start, end (last event + gap), and
  * size — on real event data. w4's oracle proves the built-in against
  * SQL; this proves the two Scala surfaces against each other, so a
  * user can pick either and migrate between batch and streaming
  * without a semantics change. */
class SessionizeEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("Sessionize.withSessionId == session_window on events (30 min gap)") {
    import graft.operators.Sessionize
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("user_id", "ts")
    val viaOp = Sessionize.withSessionId(events, Seq("user_id"), "ts", 1800L)
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("start"),
        (max(col("ts")) + expr("INTERVAL 30 MINUTES")).as("end"),
        count(lit(1)).as("n"))
      .select(col("user_id"), col("start"), col("end"), col("n"))
    val viaBuiltin = events
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("sw.start").as("start"),
        col("sw.end").as("end"), col("n"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    val a = rows(viaOp)
    val b = rows(viaBuiltin)
    assert(a.nonEmpty && a == b,
      s"session sets differ: onlyOp=${(a -- b).take(3)} onlyBuiltin=${(b -- a).take(3)}")
  }
}
