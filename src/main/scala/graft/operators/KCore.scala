package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling (Seidman 1983; the
  * Batagelj-Zaversnik sequential algorithm's distributed fixed-round
  * form): repeatedly delete nodes whose degree within the surviving
  * subgraph is below k — the fixpoint is the k-core, the standard
  * graph-density filter (spam/bot subgraph detection, community
  * seeding, graph-quality curation next to [[PageRank]]/[[Triangles]]).
  *
  * This runs a FIXED number of peel rounds (like PageRank's fixed
  * damped rounds): peeling is monotone (survivors only shrink) and a
  * round at fixpoint is a no-op, so extra rounds are idempotent and
  * a fixed-round replay is bit-identical in any engine — that is
  * what lets a SQL oracle unroll the rounds as CTEs. Callers needing
  * certainty of convergence compare survivor counts of the last two
  * rounds (monotonicity makes equal counts ⇔ equal sets) — the spec
  * pins cascade depth on closed-form graphs (a path's 2-core peels
  * from the ends inward, one layer per round).
  *
  * Edges must be SYMMETRIC (both directions present, no self-loops) —
  * the same contract as PageRank's bidirectional trade graph.
  *
  * Scale: each round is one equi-join of edges against the surviving
  * node set (broadcast once survivors shrink below the threshold;
  * AQE decides) + one partial-aggregated degree count — never a
  * pairwise or matrix form. Lineage is truncated per round
  * ([[Checkpoints.pin]], ConnectedComponents' discipline: in iterative
  * loops the PLAN, not the data, grows without bound). Rounds needed
  * = core number's cascade depth, typically O(log n) on real graphs;
  * the budget is explicit, like Bfs's hop budget.
  */
object KCore {

  /** Fixed-`rounds` k-core peel. Emits one row per ORIGINAL node:
    * (node_id, in_core, core_deg) — in_core = survived all rounds;
    * core_deg = the node's degree within the final surviving
    * subgraph (0 for peeled nodes). */
  def corePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    val e = edges.select(col("src"), col("dst"))
    val nodes = Checkpoints.pin(e.select(col("src").as("id")).distinct())
    var surv = nodes
    // early exit at the fixpoint: survivors shrink monotonically, so
    // an unchanged COUNT means an unchanged SET and every remaining
    // round is a no-op (the idempotence KCoreSpec pins) — the result
    // is bit-identical to running all `rounds`, at half the joins on
    // fast-converging graphs. count() on the checkpointed survivor
    // table is a metadata-cheap action.
    var prevCount = surv.count()
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val deg = e
        .join(surv.select(col("id").as("src")), Seq("src"))
        .join(surv.select(col("id").as("dst")), Seq("dst"))
        .groupBy("src").agg(count(lit(1)).as("deg"))
      val next = Checkpoints.pin(
        deg.filter(col("deg") >= k).select(col("src").as("id")))
      // round r is superseded once r + 1 is materialized; `nodes` (the
      // first round) stays pinned because the result reads it
      if (surv ne nodes) Checkpoints.unpin(surv)
      surv = next
      val n = surv.count()
      converged = n == prevCount
      prevCount = n
      r += 1
    }
    val finalDeg = e
      .join(surv.select(col("id").as("src")), Seq("src"))
      .join(surv.select(col("id").as("dst")), Seq("dst"))
      .groupBy("src").agg(count(lit(1)).as("deg"))
    nodes
      .join(surv.withColumn("__in", lit(true)), Seq("id"), "left")
      .join(finalDeg.select(col("src").as("id"), col("deg")), Seq("id"), "left")
      .select(col("id").as("node_id"),
        coalesce(col("__in"), lit(false)).as("in_core"),
        coalesce(col("deg"), lit(0L)).as("core_deg"))
  }
}
