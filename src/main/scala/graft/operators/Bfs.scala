package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-hop breadth-first search: minimum hop distance from a set
  * of source nodes to every node reachable within `maxHops` — the
  * reachability/radius primitive (fraud rings, entity-linkage blast
  * radius, "who trades within N steps of X").
  *
  * Frontier formulation, not Bellman-Ford over all nodes: round h
  * expands ONLY the nodes first discovered in round h-1 (an anti-join
  * against the seen set), so per-round work tracks the frontier size,
  * and with unit weights first discovery IS the minimal distance — no
  * relaxation ever revisits a node. Each round is one join + distinct;
  * lineage is cut per round (the d7 pointer-jumping discipline:
  * iterative loops grow the PLAN, not the data). Once the frontier is
  * exhausted the remaining rounds join an empty cached frame — a
  * near-empty stage each, not re-expansion — so `maxHops` stays a
  * budget in work terms even without an early-exit action.
  *
  * At 100 TB the seen set is the memory bound: it grows toward the
  * reachable component. For ego-net radii (the common case) that is
  * small; for whole-graph sweeps prefer the label-propagation shape
  * (ConnectedComponents) whose state is one label per node.
  */
object Bfs {

  /** `edges`: (src, dst) directed — pass both directions for an
    * undirected graph. `sources`: (id). Returns (id, dist), dist 0 at
    * the sources, minimum hops elsewhere, nodes beyond `maxHops`
    * absent.
    *
    * LAZY pins throughout (the graphSearchLocal/pinLazy discipline,
    * round 16): the per-round frames are frontier-sized, and the old
    * eager pin + isEmpty early-exit pair cost TWO driver job
    * dispatches per hop — on the bounded-hop audit gates
    * (n33/n34/n35: two 6-hop BFS each) that dispatch was most of the
    * wall (receipts in OPTIMIZATION_r16.md). The whole expansion now
    * builds as one lazy pinned chain and executes as ONE job at the
    * consumer's action, each round's RDD cached at first
    * materialization (so the anti-join's double reference and any
    * downstream reuse read the cache, not the lineage). An exhausted
    * frontier costs a near-empty stage per remaining hop instead of an
    * early exit — callers pass small hop budgets (<= 6 across this
    * repo), so the empty tail is noise next to the removed dispatch;
    * the result is identical because unioning an empty round adds no
    * rows. */
  def hopDistances(edges: DataFrame, sources: DataFrame,
                   maxHops: Int,
                   localThreshold: Long = 1000000L): DataFrame = {
    require(maxHops >= 0)
    // SMALL-GRAPH LOCAL PATH (round 17 — ConnectedComponents'
    // localThreshold discipline applied to BFS): below the threshold,
    // collect the edge list and run the frontier expansion on the
    // driver — one bounded read ([[SizeProbe]]) instead of
    // 3 exchanges PER HOP (join + distinct + anti-join), which at a
    // 6-hop budget is ~18 tiny sequential AQE stages whose scheduling
    // dominates the actual work (n34 runs TWO such audits; receipts in
    // OPTIMIZATION_r17.md). Identical output: first discovery is the
    // minimal distance on both paths. Above the threshold the
    // distributed frontier loop below is unchanged — the seen set, not
    // the driver, remains the memory bound at scale.
    val narrow = edges.select(col("src"), col("dst"))
    val local = SizeProbe.collectAtMost(narrow, localThreshold)
    if (local.isDefined) {
      val adj = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      local.get.foreach { r =>
        adj.getOrElseUpdate(r.getLong(0),
          scala.collection.mutable.ArrayBuffer.empty[Long]) += r.getLong(1)
      }
      val dist = scala.collection.mutable.LongMap.empty[Long]
      var frontier = sources.select(col("id")).distinct()
        .collect().map(_.getLong(0)).toSet
      frontier.foreach(dist(_) = 0L)
      var h = 1
      while (h <= maxHops && frontier.nonEmpty) {
        frontier = frontier.iterator
          .flatMap(v => adj.getOrElse(v, Nil))
          .filter(!dist.contains(_)).toSet
        frontier.foreach(dist(_) = h.toLong)
        h += 1
      }
      val spark = edges.sparkSession
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(
          dist.toSeq.sortBy(_._1)
            .map { case (id, d) =>
              org.apache.spark.sql.Row(id, d) }: _*)
      return spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("dist",
            org.apache.spark.sql.types.LongType, nullable = false))))
    }
    // the edge list is scanned every hop on the distributed path, so
    // it is pinned (the weightedDistances round-10 fix, same cause) —
    // after the probe, which a lazy pin would turn into a full read.
    // Already-persisted edges keep the caller's copy (no double pin).
    val e =
      if (edges.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        Checkpoints.pinLazy(narrow)
      else narrow
    var dist = Checkpoints.pinLazy(
      sources.select(col("id")).distinct()
        .select(col("id"), lit(0L).as("dist")))
    var frontier = dist
    for (h <- 1 to maxHops) {
      // LARGE-BUDGET GUARD (round-17 advice): the lazy one-job chain is
      // right for the repo's <= 6-hop callers, but the public API only
      // requires maxHops >= 0 — a generous budget on a shallow graph
      // would pay maxHops join/distinct/anti-join stages plus maxHops
      // pinned RDDs held until clearCaches, with no way out.
      // Past EAGER_EXIT_HOPS the loop falls back to the eager form:
      // materialize the frontier (one driver action per hop from here
      // on) and STOP when it empties — the per-hop dispatch this trades
      // back is exactly what a caller burning >8 hops can afford, and a
      // 2-hop graph under a 100-hop budget now costs 2 rounds, not 100.
      if (h > eagerExitHops && frontier.isEmpty) return dist
      val next = Checkpoints.pinLazy(
        frontier.join(e, frontier("id") === e("src"))
          .select(col("dst").as("id"))
          .distinct()
          .join(dist.select(col("id").as("__seen")),
            col("id") === col("__seen"), "left_anti")
          .select(col("id"), lit(h.toLong).as("dist")))
      dist = Checkpoints.pinLazy(dist.union(next))
      frontier = next
    }
    dist
  }

  /** Hop index past which [[hopDistances]] checks the frontier for
    * exhaustion before expanding (eager early-exit, one driver action
    * per remaining hop). Below it the expansion is a single lazy
    * pinned chain — one job total, the measured win on the <= 6-hop
    * audit gates. */
  private val eagerExitHops = 8

  /** Weighted single-source(s) shortest paths: distributed
    * Bellman-Ford with FIXED relaxation rounds — after round k, `dist`
    * is the exact minimum-cost path using at most k edges (so `rounds`
    * bounds path LENGTH the way [[hopDistances]]' maxHops bounds
    * hops; rounds >= diameter gives true shortest paths). The case
    * BFS gets wrong — a longer path that is cheaper — needs weights,
    * and weights break the frontier trick (a settled node can improve
    * later), so every round relaxes the whole dist table:
    * one join + one min-aggregation, both partial-aggregating on the
    * node key. Exact int64 weight sums (caller keeps
    * `rounds * max_w` inside int64); negative weights are accepted by
    * the arithmetic but `rounds` then bounds walk length, not path
    * length (no negative-cycle detection here).
    *
    * Fixed-round discipline (g17/g41): deterministic plan, oracle
    * unrolls the identical rounds; lineage cut per round via
    * [[Checkpoints.pin]]. State is one (id, dist) row per REACHED
    * node — the same memory bound as [[hopDistances]]' seen set.
    *
    * `edges`: (src, dst, w) directed — pass both directions for an
    * undirected graph. `sources`: (id), distance 0. Unreached nodes
    * are absent. */
  def weightedDistances(edges: DataFrame, sources: DataFrame,
                        rounds: Int,
                        localThreshold: Long = 1000000L): DataFrame = {
    require(rounds >= 0)
    val narrow = edges.select(col("src"), col("dst"), col("w"))
    // SMALL-GRAPH LOCAL PATH (round 17 — hopDistances' rationale):
    // below the threshold, run the fixed Bellman-Ford rounds on the
    // driver over the bounded size probe's rows — one read instead of
    // a join + a min-aggregation exchange PER ROUND. Identical output:
    // after k rounds both paths hold the exact minimum cost over
    // <= k-edge paths (BfsSpec pins parity).
    val local = SizeProbe.collectAtMost(narrow, localThreshold)
    if (local.isDefined) {
      val adj = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[(Long, Long)]]
      local.get.foreach { r =>
        adj.getOrElseUpdate(r.getLong(0),
          scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]) +=
          ((r.getLong(1), r.getLong(2)))
      }
      val dist = scala.collection.mutable.LongMap.empty[Long]
      sources.select(col("id")).distinct()
        .collect().foreach(r => dist(r.getLong(0)) = 0L)
      for (_ <- 1 to rounds) {
        // relax from a frozen snapshot: one round must use only the
        // <= (k-1)-edge distances, exactly like the distributed join
        val snap = dist.toSeq
        snap.foreach { case (v, dv) =>
          adj.getOrElse(v, Nil).foreach { case (u, w) =>
            val cand = dv + w
            if (cand < dist.getOrElse(u, Long.MaxValue)) dist(u) = cand
          }
        }
      }
      val spark = edges.sparkSession
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(
          dist.toSeq.sortBy(_._1)
            .map { case (id, d) => org.apache.spark.sql.Row(id, d) }: _*)
      return spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("dist",
            org.apache.spark.sql.types.LongType, nullable = false))))
    }
    // the edge list is scanned once PER ROUND: pin it, or every round
    // re-evaluates the caller's whole edge-derivation lineage (g53's
    // orders-lineitem join ran 4x before round 10 — most of its wall).
    // Pinned after the probe, which a lazy pin would turn into a full
    // read. Already-persisted edges keep the caller's copy (no double
    // pin). LAZY pins (round 16, hopDistances' rationale): rounds
    // execute as one job at the consumer's action, each round's relaxed
    // table cached at first materialization; there is no early exit
    // here, so laziness costs nothing and removes `rounds` eager
    // dispatches.
    val e =
      if (edges.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        Checkpoints.pinLazy(narrow)
      else narrow
    var dist = Checkpoints.pinLazy(
      sources.select(col("id")).distinct()
        .select(col("id"), lit(0L).as("dist")))
    for (_ <- 1 to rounds) {
      val relaxed = dist.join(e, dist("id") === e("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      dist = Checkpoints.pinLazy(
        dist.union(relaxed).groupBy("id").agg(min("dist").as("dist")))
    }
    dist
  }
}
