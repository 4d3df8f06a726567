package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Label propagation community detection (Raghavan-Albert-Kumara
  * 2007), the near-linear community finder next to
  * [[ConnectedComponents]] (which finds REACHABILITY classes — LPA
  * splits them further into densely-knit groups): every node starts
  * as its own label; each synchronous round a node adopts the most
  * frequent label among its neighbors AND itself, ties to the
  * smallest label.
  *
  * Including the node's own current label (the "with memory"
  * variant) is what makes the synchronous schedule usable: pure
  * neighbor-voting oscillates 2-cycles on bipartite subgraphs, while
  * self-inclusion makes a settled consensus a fixpoint. The
  * deterministic tie rule (max count, then min label) replaces the
  * original's random tie-break — same design trade as
  * [[KCore]]/[[PageRank]]: fixed rounds + deterministic updates =
  * any engine replays the rounds bit-identically, which is what the
  * unrolled-CTE oracle does.
  *
  * Edges must be SYMMETRIC (both directions present, no self-loops —
  * the self-vote is added here, don't also materialize loops).
  *
  * Scale, per round: one equi-join of the edge list against the
  * label table (shuffle on node id both sides — the labels table is
  * node-sized, the join is the edge scan), one
  * (node, label)-grouped count that partial-aggregates, and one
  * per-node argmax. Lineage truncates per round ([[Checkpoints.pin]],
  * the iterative-loop discipline: the PLAN would otherwise grow
  * without bound). Rounds is an explicit budget like Bfs's hops;
  * real graphs settle in a handful.
  */
object LabelProp {

  /** `rounds` synchronous label-propagation rounds over a symmetric
    * edge list (src, dst). Emits (node_id, label) for every node
    * appearing in the edge list; `label` is the smallest node id of
    * the community's seed under the deterministic tie rule. */
  def propagate(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e = edges.select(col("src"), col("dst"))
    val nodes = Checkpoints.pin(e.select(col("src").as("id")).distinct())
    var labels = nodes.select(col("id"), col("id").as("label"))
    var held = nodes // the pinned frame the current labels read
    var r = 0
    while (r < rounds) {
      val neighborVotes = e
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("label"))
      val selfVotes = labels.select(col("id"), col("label"))
      val counts = neighborVotes.unionByName(selfVotes)
        .groupBy(col("id"), col("label"))
        .agg(count(lit(1)).as("__n"))
      labels = Checkpoints.pin(counts.groupBy("id")
        .agg(max_by(col("label"),
          struct(col("__n"), (-col("label")).as("__t"))).as("label")))
      // the previous round is superseded once this one is materialized
      Checkpoints.unpin(held)
      held = labels
      r += 1
    }
    labels.select(col("id").as("node_id"), col("label")).orderBy("node_id")
  }

  /** Newman-Girvan modularity of a community assignment over a
    * symmetric edge list — the quality score that says whether
    * [[propagate]]'s labels (or any partition) beat chance:
    * `Q = sum_c [ e_c/m - (d_c/2m)^2 ]` with `m` undirected edges,
    * `e_c` intra-community edges, `d_c` the community's degree sum.
    *
    * Published in EXACT integer ppm by clearing denominators:
    * `Q_ppm = (4m * sum(e_c) - sum(d_c^2)) * 1e6 div (4m^2)` — every
    * term integral, one truncating division, negative-safe (both
    * engines truncate toward zero). Int64 envelope: `4m^2 * 1e6`
    * caps m at ~1.5e6 edges for the single-expression form; larger
    * graphs divide stepwise or compute per-community terms in the
    * published columns and ratio in doubles — the aggregate table is
    * community-sized either way.
    *
    * Plan: ONE edge scan joined twice against the node-sized label
    * table (broadcast when labels fit, AQE decides), one
    * community-sized aggregation, one scalar fold. Directed-edge
    * counts cancel: with both directions present, intra-edges and
    * degrees are both doubled, and the identity uses the doubled
    * forms consistently (2m = directed rows). */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val l = labels.select(col("node_id"), col("label"))
    val joined = e
      .join(l.select(col("node_id").as("src"), col("label").as("__ls")), Seq("src"))
      .join(l.select(col("node_id").as("dst"), col("label").as("__ld")), Seq("dst"))
    // directed rows: m2 = 2m; intra2 = 2*sum(e_c); degree sums per
    // community from the src side of every directed row
    val perC = joined.groupBy(col("__ls").as("__c"))
      .agg(count(lit(1)).as("__deg"),
        sum(when(col("__ls") === col("__ld"), 1L).otherwise(0L)).as("__intra"))
    perC.agg(
        sum(col("__deg")).as("__m2"),
        sum(col("__intra")).as("__intra2"),
        sum(col("__deg") * col("__deg")).as("__sumd2"),
        count(lit(1)).as("n_communities"))
      .select(
        expr("__m2 div 2").as("m_edges"),
        col("n_communities"),
        expr("""CASE WHEN __m2 = 0 THEN CAST(NULL AS BIGINT)
                ELSE (__m2 * __intra2 - __sumd2) * 1000000
                     div (__m2 * __m2) END""").as("q_ppm"))
  }
}
