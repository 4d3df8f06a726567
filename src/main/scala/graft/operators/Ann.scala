package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{NearestCentroids, Similarity, VectorSum}

/** Approximate-nearest-neighbor search over an embedding column, as a
  * library: brute-force cosine top-k as the correctness baseline, and
  * two bucketed scale paths — IVF (centroid probing, with a learned
  * k-means codebook) and random-hyperplane LSH (with hamming-1
  * multiprobe). The named gate queries in [[graft.SparkEntry]] are
  * thin bindings over these.
  *
  * Inputs take (`vec_id`, `embedding`); queries are selected by a
  * predicate on the corpus itself (the common "these ids are the
  * probes" shape — swap in a separate query DataFrame by unioning it
  * in with distinguishing ids).
  */
object Ann {

  /** Scalable per-group top-k: the single-window formulation
    * (`row_number over partitionBy(group)`) funnels every row of a
    * group into ONE partition — a hotspot when groups are few and huge
    * (ANN query ids, sampling strata). Phase 1 takes a local top-k
    * inside each physical input partition (window keyed by
    * (group, partition-id) — parallel, no hotspot); phase 2 ranks the
    * ≤ k×numPartitions survivors per group. The global top-k is always
    * contained in the local top-k's, so output is identical. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
                   orderCols: Seq[Column], k: Int,
                   rankCol: String): DataFrame = {
    val wLocal = Window
      .partitionBy(groupCols.map(col) :+ col("__pid"): _*)
      .orderBy(orderCols: _*)
    val cand = df.withColumn("__pid", spark_partition_id())
      .withColumn("__rk0", row_number().over(wLocal))
      .filter(col("__rk0") <= k)
      .drop("__rk0", "__pid")
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)
    // long rank: row_number is INT32, every oracle ROW_NUMBER is INT64 —
    // the published rank column is BIGINT so engines agree on the schema
    cand.withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= k)
  }

  /** Two-phase top-k with the CUSTOM PHYSICAL phase 1
    * ([[graft.plans.LocalTopKPerGroup]]): partition-local bounded-heap
    * pruning with NO exchange and NO sort (the declarative
    * [[topKPerGroup]] phase 1 is a window over (group, partition_id),
    * whose required distribution still shuffles every input row), then
    * the exact global ranking window over the pruned survivors — at
    * most k x partitions rows per group reach the exchange. Same
    * result as [[topKPerGroup]] for any total `orderCols`; requires
    * the [[graft.GraftExtensions]] strategy registration. */
  def topKPerGroupLocal(df: DataFrame, groupCols: Seq[String],
                        orderKeys: Seq[(String, Boolean)], k: Int,
                        rankCol: String): DataFrame = {
    val pruned = graft.plans.LocalTopK.prune(df, groupCols, orderKeys, k)
    val ocols = orderKeys.map { case (n, desc) => if (desc) col(n).desc else col(n) }
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(ocols: _*)
    pruned.withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= k)
  }

  /** Brute-force cosine scoring: every query against every corpus
    * vector. Vectors are unit-normalized ONCE per row (codegen
    * UnitVector), so each pair costs one dot product — not dot + two
    * norms. The query side is broadcast: no shuffle of the corpus at
    * all — the canonical full-scan baseline at any scale. */
  def bruteForceScores(embeddings: DataFrame, queryPred: Column): DataFrame = {
    val em = embeddings
      .select(col("vec_id"), Similarity.unit(col("embedding")).as("ue"))
    val q = em.filter(queryPred)
      .select(col("vec_id").as("qid"), col("ue").as("qu"))
    broadcast(q).join(em, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        round(Similarity.dot(col("qu"), col("ue")), 6).as("cos_r"))
  }

  /** FILTERED vector search: top-k among only the corpus vectors
    * satisfying `corpusPred` (metadata filter + similarity, the
    * "filtered ANN" shape every vector store exposes). This is the
    * pre-filter strategy — the predicate cuts the corpus BEFORE any
    * scoring, so the filter reaches the parquet scan (pushdown on the
    * metadata column) and the scored row count shrinks by the
    * selectivity; post-filtering a top-k would instead return < k
    * rows whenever the filter removes ranked survivors. Queries still
    * come from the unfiltered corpus: filtering is about what may be
    * RETURNED, not who may ask. */
  def filteredTopK(embeddings: DataFrame, queryPred: Column,
                   corpusPred: Column, k: Int): DataFrame = {
    val em = embeddings
      .select(col("vec_id"), Similarity.unit(col("embedding")).as("ue"),
        col("label"))
    val q = em.filter(queryPred)
      .select(col("vec_id").as("qid"), col("ue").as("qu"))
    val corpus = em.filter(corpusPred)
    val scores = broadcast(q).join(corpus, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("label"),
        round(Similarity.dot(col("qu"), col("ue")), 6).as("cos_r"))
    topKPerGroup(scores, Seq("qid"),
      Seq(col("cos_r").desc, col("neighbor_id")), k, "rnk")
      .select("qid", "rnk", "neighbor_id", "label", "cos_r")
  }

  /** Brute-force cosine top-k per query (the ANN baseline). */
  /** Recall@k of an approximate retrieval list against the exact
    * list — the evaluation every ANN index ships with (the number
    * behind AnnRecallSpec's assertions, as a first-class operator a
    * pipeline can gate its index builds on). Inputs are ranked lists
    * (qid, rnk, neighbor_id); query universe = the EXACT side's qids
    * (an approx list can come back short or empty — that is recall
    * lost, not a dropped query). recall_ppm divides by k exactly.
    *
    * Scale: both inputs are top-k-per-query tables — |queries| × k
    * rows, metadata-sized; one semi-join + two tiny aggregations,
    * no corpus contact. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val a = approx.filter(col("rnk") <= k).select(col("qid"), col("neighbor_id"))
    val e = exact.filter(col("rnk") <= k).select(col("qid"), col("neighbor_id"))
    val hits = a.join(e, Seq("qid", "neighbor_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    val nApprox = a.groupBy("qid").agg(count(lit(1)).as("n_approx"))
    e.select("qid").distinct()
      .join(nApprox, Seq("qid"), "left")
      .join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("n_approx", "n_hits"))
      .select(col("qid"), col("n_approx"), col("n_hits"),
        expr(s"n_hits * 1000000 DIV $k").as("recall_ppm"))
  }

  def bruteForceTopK(embeddings: DataFrame, queryPred: Column, k: Int): DataFrame =
    topKPerGroup(bruteForceScores(embeddings, queryPred), Seq("qid"),
      Seq(col("cos_r").desc, col("neighbor_id")), k, "rnk")
      .select("qid", "rnk", "neighbor_id", "cos_r")

  /** Maximal Marginal Relevance re-ranking (Carbonell-Goldstein,
    * SIGIR 1998): greedily re-rank a candidate list so each pick
    * maximizes `lambda*relevance - (1-lambda)*max-similarity-to-
    * already-picked` — the diversity pass between retrieval and
    * consumption (dedup-ish results collapse to one representative;
    * a RAG context window stops spending slots on near-copies). The
    * query-relative complement of [[graft.operators.Sampling
    * .kCenterCoreset]]'s global cover.
    *
    * Scale shape: candidates are a top-k-per-query table (metadata-
    * sized), their pairwise sims are |cands|² PER QUERY (bounded by
    * construction, computed with one broadcast-unit-vector join —
    * the corpus is never touched beyond fetching candidate vectors),
    * and the greedy loop runs inside `cogroup` on the query key —
    * per-group imperative logic over <= k*|cands| items, the
    * KeyValueGroupedDataset seam built for exactly this. No driver
    * collection at any query count.
    *
    * Determinism: relevance and sims are the round-6 cosine doubles
    * the n-family already hash-pins; the score `lam*rel - (1000-lam)
    * *maxSim` uses exactly-representable integer-valued double
    * factors, so any engine replays the same IEEE ops; ties break to
    * the smaller id. Output: (qid, rnk 1-based, neighbor_id,
    * score_m) — score in milli-units (x1000), NOT divided back, so
    * the emitted number is itself the replayable double. */
  def mmrRerank(candidates: DataFrame, embeddings: DataFrame, k: Int,
                lambdaMilli: Int = 700): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lambdaMilli >= 0 && lambdaMilli <= 1000, "lambdaMilli in [0,1000]")
    val em = embeddings
      .select(col("vec_id"), Similarity.unit(col("embedding")).as("ue"))
    val withVec = candidates
      .select(col("qid"), col("neighbor_id"), col("cos_r"))
      .join(em, col("neighbor_id") === col("vec_id")).drop("vec_id")
    val a = withVec.select(col("qid"), col("neighbor_id").as("a"),
      col("ue").as("ua"))
    val b = withVec.select(col("qid"), col("neighbor_id").as("b"),
      col("ue").as("ub"))
    val sims = a.join(b, Seq("qid")).filter(col("a") =!= col("b"))
      .select(col("qid"), col("a"), col("b"),
        round(Similarity.dot(col("ua"), col("ub")), 6).as("sim"))
    val spark = candidates.sparkSession
    import spark.implicits._
    val cds = withVec.select(col("qid"), col("neighbor_id"), col("cos_r"))
      .as[(Long, Long, Double)].groupByKey(_._1)
    val sds = sims.as[(Long, Long, Long, Double)].groupByKey(_._1)
    val lam = lambdaMilli.toDouble
    val lam2 = (1000 - lambdaMilli).toDouble
    cds.cogroup(sds) { case (qid, cit, sit) =>
      val remaining = scala.collection.mutable.LinkedHashMap(
        cit.map(c => c._2 -> c._3).toSeq.sortBy(_._1): _*)
      val simMap = sit.map(s => (s._2, s._3) -> s._4).toMap
      var selected = List.empty[Long]
      val picks = scala.collection.mutable.ListBuffer[(Long, Long, Long, Double)]()
      var idx = 1
      while (idx <= k && remaining.nonEmpty) {
        var bestId = -1L
        var bestS = Double.NegativeInfinity
        remaining.foreach { case (id, rel) =>
          val ms = if (selected.isEmpty) 0.0
            else selected.map(p => simMap.getOrElse((id, p), 0.0)).max
          val s = lam * rel - lam2 * ms
          if (s > bestS || (s == bestS && (bestId < 0 || id < bestId))) {
            bestS = s; bestId = id
          }
        }
        picks += ((qid, idx.toLong, bestId, bestS))
        selected ::= bestId
        remaining -= bestId
        idx += 1
      }
      picks.iterator
    }.toDF("qid", "rnk", "neighbor_id", "score_m")
  }

  /** Deterministic random-hyperplane codebook: `nPlanes` planes of ±1
    * over `dims` dims, derived from md5 bits on the driver and inlined
    * as LITERALS into the plan — the codebook is data (like model
    * weights), not per-row computation. */
  def randomHyperplanes(nPlanes: Int, dims: Int): Seq[Array[Double]] =
    (0 until nPlanes).map { j =>
      (0 until dims).map { i =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"pl$j|$i".getBytes("UTF-8"))
        if ((h(0) & 1) == 1) 1.0 else -1.0
      }.toArray
    }

  /** LSH-bucketed ANN: sign-bit signatures vs the hyperplane codebook,
    * candidates from the query's own bucket — plus, with `multiprobe`,
    * the buckets one sign-flip away. Multiprobe is the recall lever at
    * scale: near-neighbors straddling one hyperplane land one hamming
    * step away, and probing 1+nPlanes buckets costs that many bucket
    * lookups, NOT a wider scan. A neighbor matches at most one probe
    * (each vector lives in exactly one bucket), so no dedup is
    * needed. */
  def lshTopK(embeddings: DataFrame, planes: Seq[Array[Double]],
              queryPred: Column, k: Int, multiprobe: Boolean): DataFrame = {
    val em = embeddings
      .select(col("vec_id"), Similarity.unit(col("embedding")).as("ue"))
    val sig = planes.zipWithIndex.map { case (p, j) =>
      when(Similarity.dot(col("ue"), array(p.toIndexedSeq.map(lit): _*)) >= 0,
        lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    val withSig = em.select(col("vec_id"), col("ue"), sig.as("bucket"))
    val probeCols =
      if (multiprobe)
        col("bucket") +: planes.indices.map(j => col("bucket").bitwiseXOR(lit(1 << j)))
      else Seq(col("bucket"))
    val q = withSig.filter(queryPred)
      .select(col("vec_id").as("qid"), col("ue").as("qu"),
        explode(array(probeCols: _*)).as("probe"))
    val cand = broadcast(q).join(withSig, col("probe") === col("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        round(Similarity.dot(col("qu"), col("ue")), 6).as("cos_r"))
    topKPerGroup(cand, Seq("qid"),
      Seq(col("cos_r").desc, col("neighbor_id")), k, "rnk")
      .select("qid", "rnk", "neighbor_id", "cos_r")
  }

  /** Symmetric int8 scalar quantization of unit embeddings — the
    * memory-path companion to the search operators: per-vector
    * scale = max|x|/127, codes = floor(x/scale) ∈ [-128,127]. At
    * 100 TB this is 4× less embedding storage and bandwidth (byte
    * codes + one float scale vs float32), which is what makes a
    * corpus-wide scan or a big IVF cell affordable; scoring
    * dequantizes on the fly (integer dot × the two scales). floor
    * (not round-half) keeps the op engine-exact: both engines produce
    * identical IEEE doubles for x/scale, and floor of identical
    * doubles is identical, while decimal round-half rules differ.
    * Returns (vec_id, scale, q). */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val ue = Similarity.unit(col("embedding"))
    // one codegen pass per vector (functions.Int8Quantize); the HOF
    // spelling walked the vector twice through interpreted lambdas on
    // the full-corpus ingest projection
    embeddings
      .select(col("vec_id"), graft.functions.Int8Quantize.quantizeCol(ue).as("sq"))
      .select(col("vec_id"), col("sq.scale").as("scale"), col("sq.q").as("q"))
  }

  /** Brute-force top-k over QUANTIZED embeddings: exact integer dot of
    * the int8 codes, dequantized by the two scales. Same broadcast
    * shape as [[bruteForceTopK]] but the corpus side streams byte
    * codes, not floats — the 4×-smaller scan. Scores approximate
    * cosine; AnnRecallSpec pins recall vs the float baseline. */
  def quantizedTopK(embeddings: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val qz = quantizeInt8(embeddings)
    val qside = qz.filter(queryPred)
      .select(col("vec_id").as("qid"), col("scale").as("qscale"),
        col("q").as("qq"))
    // codegen DotProduct, not aggregate(zip_with(...)): the per-PAIR
    // integer dot is the quadratic hot path, and the codes are
    // integer-valued doubles whose sequential sum is exact — same
    // bits, no interpreted lambda per element per pair
    val dotq = graft.functions.Similarity.dot(col("qq"), col("q"))
    val cand = broadcast(qside).join(qz, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        round(dotq.cast("double") * col("qscale") * col("scale"), 6).as("qcos_r"))
    topKPerGroup(cand, Seq("qid"),
      Seq(col("qcos_r").desc, col("neighbor_id")), k, "rnk")
      .select("qid", "rnk", "neighbor_id", "qcos_r")
  }

  /** Spark's `round(x, 6)` on a double: HALF_UP on `BigDecimal.valueOf`,
    * NaN and infinities unchanged — the rounding every score and
    * centroid dim in this file goes through. */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** A trained codebook: (cluster id, centroid), ids ascending. */
  private type Codebook = Seq[(Long, Array[Double])]

  /** `m` codebooks as ONE row to broadcast: column `cb<s>` is codebook
    * s as the `array<struct<cluster, c>>` [[NearestCentroids]] reads. */
  private def codebookRow(spark: SparkSession, cbs: Seq[Codebook]): DataFrame = {
    val row = Row.fromSeq(cbs.map(_.map { case (id, c) => Row(id, c.toSeq) }))
    val schema = StructType(cbs.indices.map(s =>
      StructField(s"cb$s", ArrayType(NearestCentroids.centroidType))))
    spark.createDataFrame(java.util.List.of(row), schema)
  }

  /** A long-form (cluster, pos, c) codebook as the one-row `cb0` column
    * [[NearestCentroids]] reads. The codebook is k·d rows — the size
    * every caller broadcasts — so it is collected, not aggregated: no
    * job when it is a local frame (as [[kmeansCentroids]] returns), one
    * small read when it is persisted. Each cluster's positions must run
    * 0..L-1 with non-null dims, as [[kmeansCentroids]] writes them. */
  private def codebookOf(centroids: DataFrame): DataFrame = {
    val rows = centroids
      .select(col("cluster").cast("long"), col("pos").cast("int"), col("c").cast("double"))
      .collect().toSeq.filterNot(_.isNullAt(0))
    val cb = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (id, rs) =>
      id -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
    }
    codebookRow(centroids.sparkSession, Seq(cb))
  }

  /** Lloyd k-means for `m` codebooks at once, one per unit-vector
    * column `u0..u<m-1>` of `units` (vec_id, u0, ...). Every codebook is
    * seeded from the unit vectors of the same `k` lowest vec_ids (by
    * rank, so any id space seeds fully), so one seed read and one
    * (subspace, cluster) aggregation per round serve all of them. A
    * round broadcasts the codebooks as one row, assigns every vector
    * with [[NearestCentroids]] (max `round(dot, 6)`, ties to the lowest
    * cluster) and re-averages with [[VectorSum]]: each centroid dim is
    * `round(sum / n, 6)`, the same operation as `round(avg(v), 6)`.
    * Rounding makes the codebook reproducible across engines and
    * summation orders (the oracle replays the same rounds).
    *
    * The corpus never shuffles: only the m·k partial sums do, and the
    * k-row codebooks come back to the driver between rounds. A seed
    * whose subvector is null or empty never becomes a cluster, and a
    * cluster that loses every member vanishes. */
  private def lloyd(units: DataFrame, m: Int, k: Int, iters: Int): Seq[Codebook] = {
    val spark = units.sparkSession
    val seeds = units.orderBy("vec_id").limit(k).collect().toSeq
    var cbs: Seq[Codebook] = (0 until m).map { s =>
      seeds.zipWithIndex.collect {
        case (r, j) if !r.isNullAt(0) && !r.isNullAt(1 + s) &&
            r.getSeq[Double](1 + s).nonEmpty =>
          j.toLong -> r.getSeq[Double](1 + s).map(round6).toArray
      }
    }
    for (_ <- 0 until iters) {
      val sums = units.crossJoin(broadcast(codebookRow(spark, cbs)))
        .select(explode(array((0 until m).map { s =>
          struct(lit(s).as("s"),
            get(NearestCentroids.nearest(col(s"u$s"), col(s"cb$s"), 1), lit(0))
              .as("cluster"),
            col(s"u$s").as("v"))
        }: _*)).as("a"))
        .filter(col("a.cluster").isNotNull)
        .groupBy(col("a.s"), col("a.cluster"))
        .agg(VectorSum.sum(col("a.v")))
        .collect()
      cbs = (0 until m).map { s =>
        sums.toSeq.filter(_.getInt(0) == s).map { r =>
          val vs = r.getStruct(2)
          val sum = vs.getSeq[Double](0)
          val n = vs.getSeq[Long](1)
          r.getLong(1) -> sum.indices.map(i => round6(sum(i) / n(i).toDouble)).toArray
        }.sortBy(_._1)
      }
    }
    cbs
  }

  /** Learned k-means codebook by Lloyd iterations on unit vectors,
    * fully deterministic: seeds are the unit vectors of the `k` lowest
    * vec_ids (by rank), each round assigns every vector to its
    * max-cosine centroid and re-averages each cluster's vectors
    * element-wise ([[lloyd]]). Centroid dims are rounded to 6 places per
    * round — that makes the codebook REPRODUCIBLE across engines and
    * summation orders (the oracle runs the identical unrolled rounds),
    * the same reason a production pipeline snapshots its codebook
    * rather than recomputing it ad hoc.
    *
    * Training runs when this is called (one seed read, then one
    * aggregation per round; the k-row codebook is collected between
    * rounds). Returns (cluster, pos, c) — long-form centroid dims, the
    * k-row codebook exploded at the end. `iters` is small and fixed
    * (codebook training is an offline step; at 100 TB you train on a
    * sample and broadcast the codebook). */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    val units = embeddings
      .select(col("vec_id"), Similarity.unit(col("embedding")).as("u0"))
    val rows = for {
      (cluster, c) <- lloyd(units, 1, k, iters).head
      (x, pos) <- c.zipWithIndex
    } yield Row(cluster, pos, x)
    embeddings.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("cluster", LongType),
        StructField("pos", IntegerType, nullable = false),
        StructField("c", DoubleType))))
  }

  /** Inverted-file membership: each vector's single max-cosine
    * centroid against a long-form (cluster, pos, c) codebook — the
    * (vec_id, cluster) assignment [[ivfTopK]] builds internally,
    * exposed for cluster-scoped operators (semantic dedup). The
    * codebook is read when this is called and broadcast as one row;
    * each vector pays one [[NearestCentroids]] call in a projection —
    * no explode, no shuffle of the corpus. Vectors with a null or empty
    * embedding get no row; `cluster` keeps the codebook's type. */
  def clusterAssignment(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), Similarity.unit(col("embedding")).as("ue"))
      .crossJoin(broadcast(codebookOf(centroids)))
      .select(col("vec_id"),
        get(NearestCentroids.nearest(col("ue"), col("cb0"), 1), lit(0))
          .cast(centroids.schema("cluster").dataType).as("cluster"))
      .filter(col("cluster").isNotNull)

  /** Cluster-purity evaluation: per cluster, the share of members
    * carrying the cluster's MAJORITY ground-truth label, in exact
    * integer ppm — the external clustering-quality check (purity,
    * Manning et al. IR ch.16) a codebook retrain is gated on before
    * [[ivfTopK]]/semantic-dedup trust its cells, the clustering twin
    * of [[recallAtK]]'s retrieval gate. Majority ties break to the
    * smallest label (the engine-replayable determinism rule every
    * argmax here uses).
    *
    * Inputs are an assignment table (idCol, cluster) and a label
    * table (idCol, labelCol); rows without a label are dropped by
    * the inner join (unlabeled members can't attest either way —
    * count them upstream if coverage matters). Plan: one id-keyed
    * join + one (cluster, label) aggregation (domain-sized) + one
    * per-cluster argmax — nothing corpus-sized past the join. */
  def clusterPurity(assign: DataFrame, labeled: DataFrame,
                    idCol: String = "vec_id",
                    labelCol: String = "label"): DataFrame = {
    val j = assign.select(col(idCol), col("cluster"))
      .join(labeled.select(col(idCol), col(labelCol).cast("long").as("__lbl")),
        Seq(idCol))
    val counts = j.groupBy(col("cluster"), col("__lbl"))
      .agg(count(lit(1)).as("__n"))
    val wC = Window.partitionBy("cluster")
      .orderBy(col("__n").desc, col("__lbl"))
    counts
      .withColumn("n_members", sum(col("__n")).over(Window.partitionBy("cluster")))
      .withColumn("__r", row_number().over(wC))
      .filter(col("__r") === 1)
      .select(col("cluster"), col("n_members"),
        col("__lbl").as("top_label"), col("__n").as("n_top"),
        expr("__n * 1000000 div n_members").as("purity_ppm"))
  }

  /** N10: INCREMENTAL inverted-file maintenance — the ANN member of
    * the incremental-index family (d15 signatures, d18 clusters, d21
    * grams): the recurring-ingest job keeps the IVF membership table
    * (vec_id, cluster) as a persisted index, and an arriving batch is
    * folded in WITHOUT touching history. The codebook is FROZEN at
    * ingest (retraining/rebalancing is the compaction job's business —
    * the same contract that keeps d21's gram index append-only), so
    * stored membership rows pass through unchanged by construction and
    * the batch pays exactly one broadcast-codebook scoring pass
    * ([[clusterAssignment]]: one nearest-centroid projection over batch
    * rows only, no shuffle). At 100 TB the stored side is the
    * bucketed-by-centroid persisted storage [[ivfTopK]] probes — it is
    * never re-scored, re-shuffled, or even read beyond the union.
    * Result provably equals a from-scratch assignment of the union
    * under the same codebook (membership is a pure per-vector function
    * of the frozen codebook — AnnStorageSpec pins both halves). */
  def incrementalMembers(storedMembers: DataFrame, centroids: DataFrame,
                         batch: DataFrame): DataFrame =
    storedMembers.select(col("vec_id"), col("cluster"))
      .unionByName(clusterAssignment(batch, centroids))

  /** IVF-style ANN against a long-form (cluster, pos, c) codebook:
    * rank centroids per query by cosine, probe the top `nprobe`, exact
    * cosine re-rank only inside the probed partitions. Membership =
    * max-cosine centroid per vector (the inverted file). One
    * [[NearestCentroids]] call per vector gives both: its best cell
    * (membership) and, for query rows, its `nprobe` best (the probes).
    * At 100 TB the codebook is broadcast as one row and the corpus is
    * scanned once to build the file, never shuffled; queries touch
    * nprobe/k of the data.
    *
    * N26 — DELETIONS: `tombstones` (a vec_id table) is the index
    * lifecycle's third member next to insert (n10/n25/w28) and rebuild
    * (n24): stored index rows are NEVER rewritten on delete — deleted
    * ids are anti-joined out of the candidate stream at SEARCH time
    * (and out of the query set: a deleted vector no longer asks), the
    * same soft-delete contract every production vector store ships.
    * Physical removal is the decision-gated rebuild's business (n24).
    * The anti-join runs on the probed-candidate stream, not the
    * corpus, so a delete costs nothing until its cell is probed. */
  def ivfTopK(embeddings: DataFrame, centroids: DataFrame,
              queryPred: Column, k: Int, nprobe: Int,
              tombstones: Option[DataFrame] = None): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    // one kernel call per vector: its nprobe best cells, best first
    val near = embeddings
      .select(col("vec_id"), Similarity.unit(col("embedding")).as("ue"))
      .crossJoin(broadcast(codebookOf(centroids)))
      .select(col("vec_id"), col("ue"),
        NearestCentroids.nearest(col("ue"), col("cb0"), nprobe).as("near"))
    // inverted file: every vector lives in its single max-cosine cell
    val member = near
      .select(col("vec_id"), col("ue"), get(col("near"), lit(0)).as("cluster"))
      .filter(col("cluster").isNotNull)
    // probes: only the query rows unfold their cells
    val probes = near.filter(queryPred)
      .select(col("vec_id").as("qid"), col("ue").as("qu"),
        explode(col("near")).as("cluster"))
    val candAll = broadcast(probes).join(member, Seq("cluster"))
      .filter(col("vec_id") =!= col("qid"))
    // soft delete: tombstoned ids leave the candidate stream here (a
    // query that is itself tombstoned is already absent — queryPred
    // composition is the caller's contract)
    val cand = tombstones.fold(candAll)(ts =>
        candAll.join(ts.select(col("vec_id")), Seq("vec_id"), "left_anti"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        round(Similarity.dot(col("qu"), col("ue")), 6).as("cos_r"))
    topKPerGroup(cand, Seq("qid"),
      Seq(col("cos_r").desc, col("neighbor_id")), k, "rnk")
      .select("qid", "rnk", "neighbor_id", "cos_r")
  }

  /** Product-quantization top-k with ADC (asymmetric distance
    * computation, Jégou et al., TPAMI 2011) — the FAISS-style MEMORY
    * path: the corpus is stored as `m` small integer codes per vector
    * (here m sub-codebooks of `k` centroids over contiguous
    * `subDim`-wide slices), and scoring never touches the original
    * floats. Per query, a lookup table of query-subvector × centroid
    * dots (m×k entries) is built once; a candidate's score is m table
    * lookups summed, `round(sum, 6)`. This is "spherical PQ": each
    * subvector is unit-normalized and the m codebooks are trained
    * together by the deterministic Lloyd rounds of [[kmeansCentroids]]
    * ([[lloyd]]), so the codebooks — and hence the gate — are
    * reproducible across engines. Scores approximate full-vector
    * cosine (AnnRecallSpec pins recall vs the float baseline).
    *
    * Plan: the codebooks broadcast as one row; one projection gives a
    * vector its m codes ([[NearestCentroids]]) and a query its m
    * tables; the query side broadcasts and each (query, vector) pair is
    * scored in one expression — no union, no (query, vector)
    * aggregation. A pair is scored over the subspaces where the vector
    * has a code and the query a table entry, and dropped when there
    * are none.
    *
    * Scale: codes are m bytes/vector vs 4·dims float bytes (32× here)
    * — the difference between an in-memory corpus scan and not; the
    * corpus never shuffles (only the per-query top-k ranking does). */
  def pqTopK(embeddings: DataFrame, m: Int, subDim: Int, k: Int,
             iters: Int, queryPred: Column, topK: Int): DataFrame = {
    val units = embeddings.select(col("vec_id") +: (0 until m).map(s =>
      Similarity.unit(slice(col("embedding"), s * subDim + 1, subDim)).as(s"u$s")): _*)
    // cluster ids renumbered to array positions (order-preserving, so
    // ties still go to the lowest trained id): a code then indexes its
    // query's LUT directly
    val cbs = lloyd(units, m, k, iters)
      .map(_.zipWithIndex.map { case ((_, c), i) => (i.toLong, c) })
    val withCb = units.crossJoin(broadcast(codebookRow(embeddings.sparkSession, cbs)))
    val codes = withCb.select(col("vec_id") +: (0 until m).map(s =>
      get(NearestCentroids.nearest(col(s"u$s"), col(s"cb$s"), 1), lit(0))
        .cast("int").as(s"code$s")): _*)
    // per-query LUT: entry j = round(dot(query subvector, centroid j), 6),
    // null where they share no position
    val luts = withCb.filter(queryPred).select(col("vec_id").as("qid") +:
      (0 until m).map { s =>
        val u = col(s"u$s")
        transform(col(s"cb$s"), e => when(size(u) > 0 && size(e.getField("c")) > 0,
          round(Similarity.dot(u, e.getField("c")), 6))).as(s"lut$s")
      }: _*)
    val parts = (0 until m).map(s => get(col(s"lut$s"), col(s"code$s")))
    val scored = broadcast(luts).join(codes, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        when(parts.map(_.isNotNull).reduce(_ || _),
          round(parts.map(coalesce(_, lit(0.0))).reduce(_ + _), 6)).as("score_r"))
      .filter(col("score_r").isNotNull)
    topKPerGroup(scored, Seq("qid"),
      Seq(col("score_r").desc, col("neighbor_id")), topK, "rnk")
      .select("qid", "rnk", "neighbor_id", "score_r")
  }

  /** Two-stage retrieval: PQ coarse candidate generation → EXACT
    * re-rank — the production ANN serving shape (FAISS-style
    * "search_and_reconstruct"): the approximate index only PROPOSES
    * (`coarseK` candidates per query from compressed codes), the final
    * order is decided by true cosine over the full-precision vectors
    * of the candidates alone.
    *
    * Scale: the exact scoring that would cost queries × corpus dot
    * products runs over queries × coarseK rows — the corpus-sized scan
    * happens once, in code space (m bytes/vector), and the
    * full-precision gather touches only candidate ids. The candidate
    * frame is queries × coarseK (tiny) and broadcasts to the corpus
    * scan for the gather join, so the corpus never shuffles. Recall is
    * bounded by the coarse stage (re-ranking cannot resurrect a
    * neighbor PQ never proposed) — `coarseK` ≫ `topK` is the recall
    * lever, priced in candidate count, not corpus scans. */
  def pqRerankTopK(embeddings: DataFrame, m: Int, subDim: Int, k: Int,
                   iters: Int, queryPred: Column, coarseK: Int,
                   topK: Int): DataFrame = {
    val cand = pqTopK(embeddings, m, subDim, k, iters, queryPred, coarseK)
      .select(col("qid"), col("neighbor_id"))
    val units = embeddings
      .select(col("vec_id"), Similarity.unit(col("embedding")).as("ue"))
    val q = units.filter(queryPred)
      .select(col("vec_id").as("qid"), col("ue").as("qu"))
    val exact = broadcast(cand.join(broadcast(q), Seq("qid")))
      .join(units, col("vec_id") === col("neighbor_id"))
      .select(col("qid"), col("neighbor_id"),
        round(Similarity.dot(col("qu"), col("ue")), 6).as("cos_r"))
    topKPerGroup(exact, Seq("qid"),
      Seq(col("cos_r").desc, col("neighbor_id")), topK, "rnk")
      .select("qid", "rnk", "neighbor_id", "cos_r")
  }

  /** N23: GRAPH-based ANN (HNSW-class beam search, flattened to one
    * layer and bounded rounds — Malkov & Yashunin 2016's
    * search-layer loop, Spark-first): the industry-default index
    * family the IVF/LSH/PQ members don't cover. Two phases:
    *
    *  1. INDEX BUILD — a bounded-degree neighbor graph: candidate
    *     edges from a BANDED signature join (the d25/m11 discipline —
    *     sign-bit signatures over the `planes` codebook, split into
    *     two half-codebook bands; nodes sharing a band value are
    *     candidates, never all-pairs), scored by exact cosine, top-`m`
    *     out-edges kept per node. Degenerate band buckets are capped
    *     (`maxBucket`, lshPairs' guard) so one boilerplate bucket
    *     cannot go quadratic. At 100 TB this graph is a PERSISTED
    *     index table built once (here pinned via [[graft.operators
    *     .Checkpoints]] because the search loop references it every
    *     round — the gate-scale analogue of reading the stored index).
    *  2. SEARCH — `rounds` bounded BFS-style frontier steps per query
    *     (Bfs.scala's fixed-round precedent, fully declarative): seed
    *     at the query's OWN node (queries here are corpus members —
    *     the NN-expansion form; an external query seeds from its LSH
    *     bucket via [[lshTopK]]'s probe instead, same walk), each
    *     round expand the current beam's out-edges, score ONLY
    *     never-visited nodes against the query (anti-join on the
    *     visited set), keep the top-`beam` by cosine as the next
    *     frontier. The answer is the exact cosine top-`k` over
    *     everything VISITED — so the oracle can replay the whole
    *     walk: every pick is a rounded-cosine argmax with id
    *     tiebreaks, engine-identical.
    *
    * Scale shape: the frontier/visited tables are queries × visited
    * (metadata-sized, broadcast side of every search join); the corpus
    * is touched only through the edge index and the per-candidate
    * ue-gather. Recall grows with beam/rounds at a cost in bounded
    * frontier joins, never corpus scans (AnnRecallSpec pins recall@k
    * against the IVF gate on the same probes). */
  def graphTopK(embeddings: DataFrame, planes: Seq[Array[Double]],
                queryPred: Column, m: Int, beam: Int, rounds: Int,
                k: Int, maxBucket: Int = 256,
                prebuiltEdges: Option[DataFrame] = None): DataFrame = {
    val em = embeddings
      .select(col("vec_id"), Similarity.unit(col("embedding")).as("ue"))
    // the persisted graph index: referenced once per search round, so
    // it is pinned inside knnGraphEdges (production reads the stored
    // table; re-deriving the whole band join per round would multiply
    // the build cost by `rounds`). `prebuiltEdges` is the production
    // seam made explicit: pass the persisted/memoized index table and
    // the gate pays ONLY the search — the round-13 n23 split (the
    // build is SparkEntry's per-(session, dir) memoized index, shared
    // with the streaming search twin w30).
    val edges = prebuiltEdges
      .getOrElse(knnGraphEdges(embeddings, planes, m, maxBucket))
    val q = em.filter(queryPred)
      .select(col("vec_id").as("qid"), col("ue").as("qu"))
    graphSearch(em, edges, q, beam, rounds, k)
  }

  /** The SEARCH half of [[graphTopK]], over an explicit query table
    * `q` (qid, qu unit vector) and an explicit edge index — the form a
    * stored-index deployment (and the streaming w30 twin) calls: the
    * index is a table someone else built; each call pays only the
    * bounded beam walk. `em` is the (vec_id, ue) unit corpus the walk
    * scores candidates against. */
  def graphSearch(em: DataFrame, edges: DataFrame, q: DataFrame,
                  beam: Int, rounds: Int, k: Int): DataFrame = {
    var visited = broadcast(q)
      .select(col("qid"), col("qid").as("node"),
        round(Similarity.dot(col("qu"), col("qu")), 6).as("cos_r"))
    // best-first: each round EXPANDS the top-`beam` visited nodes not
    // yet expanded (HNSW's candidate queue, batched) — re-expanding
    // the same global top-beam every round would stall the walk after
    // two rounds (measured: recall frozen at 0.76 regardless of
    // rounds)
    var expanded = visited.select("qid", "node").filter(lit(false))
    // TWO lineage pins per round (labelPropagate's discipline): an
    // unpinned unroll re-executes the whole prior walk per reference
    // (the round-12 first cut timed out — plan growth, not data, is
    // what kills iterative loops). `visited` and `expanded` each
    // reference themselves twice per round, so both need pins
    // (expanded unpinned doubles its plan tree per round — exponential
    // in `rounds`); `frontier` is a shallow single-use derivation over
    // the two pinned frames and needs none — 12 eager sub-jobs instead
    // of 18 on the gate config. All pinned frames are queries x
    // visited (metadata-sized).
    for (_ <- 1 to rounds) {
      // broadcast the anti-join build sides throughout: every pinned
      // frame is queries x visited (metadata-sized), but a
      // checkpointed frame carries no stats and Spark plans a
      // sort-merge anti-join — two full exchanges per round on data
      // that fits in one broadcast
      val frontier = topKPerGroup(
        visited.join(broadcast(expanded), Seq("qid", "node"), "left_anti"),
        Seq("qid"), Seq(col("cos_r").desc, col("node")), beam, "__fr")
        .select("qid", "node")
      // expanded references ITSELF in next round's anti-join AND this
      // union — unpinned, its plan tree doubles per round (exponential
      // in `rounds`, the construction-stall failure mode); pinned it
      // stays O(1) per round. Two pins/round total — LAZY pins: the
      // rounds are queries x beam rows, so per-round job dispatch was
      // the whole wall (5.3 s -> ~1 s at sf0.1, BENCH_NOTES round 14);
      // the lazy chain executes as one job at the terminal action.
      expanded = Checkpoints.pinLazy(expanded.unionByName(frontier))
      val fresh = broadcast(frontier)
        .join(edges, col("node") === col("src"))
        .select(col("qid"), col("dst").as("node")).distinct()
        .join(broadcast(visited.select("qid", "node")),
          Seq("qid", "node"), "left_anti")
      val freshScored = broadcast(fresh)
        .join(em.select(col("vec_id").as("node"), col("ue").as("un")),
          Seq("node"))
        .join(broadcast(q), Seq("qid"))
        .select(col("qid"), col("node"),
          round(Similarity.dot(col("qu"), col("un")), 6).as("cos_r"))
      visited = Checkpoints.pinLazy(visited.unionByName(freshScored))
    }
    topKPerGroup(visited.filter(col("node") =!= col("qid")), Seq("qid"),
      Seq(col("cos_r").desc, col("node")), k, "rnk")
      .select(col("qid"), col("rnk"), col("node").as("neighbor_id"),
        col("cos_r"))
  }

  /** Broadcastable SERVING-side graph index — adjacency lists plus the
    * unit corpus, replicated to every executor. This is the production
    * serving shape for graph ANN (an HNSW serving fleet keeps the
    * whole graph in RAM on every search node and shards QUERIES, not
    * the index): [[graphSearch]]'s distributed-join walk is the right
    * plan when the index exceeds single-node memory; below that line
    * the per-round join/broadcast dispatch dominates the walk by two
    * orders of magnitude (measured at sf0.1: 80 Spark jobs, 2.1 s of
    * stage time, ~5 s wall for microseconds of arithmetic — receipts
    * in BENCH_NOTES round 14). Build once, search many — the same
    * build-vs-read split as the persisted edge table itself. The two
    * collects are the explicitly-documented bounded materialization of
    * the broadcastable-index regime (the caller asserts the regime by
    * choosing this operator, exactly like [[graft.plans.LocalTopK]]'s
    * local twin contract). */
  final case class LocalGraphIndex(
      adj: org.apache.spark.broadcast.Broadcast[Map[Long, Array[Long]]],
      units: org.apache.spark.broadcast.Broadcast[Map[Long, Array[Double]]])

  /** Collect + broadcast the serving index from the (vec_id, ue) unit
    * corpus and the persisted (src, dst) edge table.
    *
    * GUARDED: the two collects are bounded by a count() precheck
    * against `spark.graft.ann.localIndexMaxMb` (default 2048) —
    * estimated as 16 B/edge + 8·dim B/vector. Over the cap this
    * FAILS LOUDLY naming the regime split instead of OOMing the
    * driver anonymously: an index past broadcastable size belongs on
    * [[graphSearch]]'s distributed-join walk (the over-RAM regime
    * n23 gates), not on the serving replica. */
  def buildLocalGraphIndex(em: DataFrame, edges: DataFrame): LocalGraphIndex = {
    val sc = em.sparkSession.sparkContext
    val maxMb = em.sparkSession.conf
      .get("spark.graft.ann.localIndexMaxMb", "2048").toDouble
    val nEdges = edges.count()
    // one job for count+dim (was three precheck jobs: count, limit(1)
    // head, count — each a full dispatch inside timed gates)
    val emStats = em.agg(count(lit(1)), first(size(col("ue")))).collect()(0)
    val nVecs = emStats.getLong(0)
    val dim = if (emStats.isNullAt(1)) 0 else emStats.getInt(1)
    val estMb = (nEdges * 16.0 + nVecs * (8.0 * dim + 24.0)) / 1e6
    if (estMb > maxMb)
      throw new IllegalStateException(
        f"buildLocalGraphIndex: estimated serving-index size $estMb%.0f MB " +
          f"($nEdges edges, $nVecs vectors × dim $dim) exceeds " +
          f"spark.graft.ann.localIndexMaxMb=$maxMb%.0f — this corpus is in " +
          "the over-RAM-index regime; use graphSearch's distributed-join " +
          "walk (n23's plan) or raise the cap if every executor truly has " +
          "the headroom")
    val adj = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (s, rows) =>
        s -> rows.map(_.getLong(1)).sorted // deterministic expansion order
      }
    val units = em
      .select(col("vec_id").cast("long"), col("ue"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    LocalGraphIndex(sc.broadcast(adj), sc.broadcast(units))
  }

  /** [[graphSearch]]'s walk against a [[LocalGraphIndex]] —
    * BIT-IDENTICAL semantics (same sequential-fold dot, same
    * HALF_UP 6-decimal rounding, same (cos desc, node) tiebreaks at
    * every pick, GraphLocalParitySpec pins the equivalence on the gate
    * corpus), executed as ONE mapPartitions over the query stream:
    * queries shard across executors, each walk is a tight in-memory
    * loop, zero exchanges, zero per-round jobs. */
  def graphSearchLocal(index: LocalGraphIndex, q: DataFrame,
                       beam: Int, rounds: Int, k: Int): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val adjB = index.adj
    val unitB = index.units
    q.select(col("qid").cast("long"), col("qu").cast("array<double>"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val adj = adjB.value
        val units = unitB.value
        def dot(a: Array[Double], b: Array[Double]): Double = {
          val n = math.min(a.length, b.length)
          var s = 0.0
          var i = 0
          while (i < n) { s += a(i) * b(i); i += 1 }
          s
        }
        it.flatMap { case (qid, quSeq) =>
          val qu = quSeq.toArray
          val visited = scala.collection.mutable.LongMap[Double]()
          visited(qid) = round6(dot(qu, qu))
          val expanded = scala.collection.mutable.Set[Long]()
          for (_ <- 1 to rounds) {
            val frontier = visited.iterator
              .filterNot { case (n, _) => expanded.contains(n) }
              .toArray
              .sortBy { case (n, c) => (-c, n) }
              .take(beam).map(_._1)
            expanded ++= frontier
            val fresh = frontier.iterator
              .flatMap(n => adj.getOrElse(n, Array.empty[Long]))
              .filterNot(visited.contains).toArray.distinct
            fresh.foreach { n =>
              units.get(n).foreach(un => visited(n) = round6(dot(qu, un)))
            }
          }
          visited.iterator.filter(_._1 != qid).toArray
            .sortBy { case (n, c) => (-c, n) }
            .take(k).zipWithIndex
            .map { case ((n, c), i) => (qid, (i + 1).toLong, n, c) }
        }
      }
      .toDF("qid", "rnk", "neighbor_id", "cos_r")
  }

  /** N33: graph-index REPAIR — the fix half of n32's audit (an audit
    * that only detects is half the production loop): every node
    * outside the entry's bounded-hop neighborhood gets ONE bridge
    * edge from its most-similar REACHABLE anchor (cosine argmax,
    * HALF_UP 6-decimal rounding, (cos desc, anchor id) ties — the
    * walk's own pick discipline), anchors restricted to hop <=
    * maxHops-1 so the bridged node lands INSIDE the audit horizon:
    * re-auditing the repaired index pins zero unreachable by
    * construction. HNSW implementations repair orphaned components
    * exactly this way — connect them to the searched layer's frontier
    * — rather than rebuilding the index.
    *
    * `reach` is [[Bfs.hopDistances]]' (id, dist) output from the
    * entry over the CURRENT edges — passed in, not recomputed, so the
    * caller's audit and the repair share one BFS.
    *
    * Scale: the unreachable set is the audit's TAIL (3/500 at gate
    * scale; the failure class, not the corpus) — broadcast it; the
    * anchor side is ONE scan of the reachable corpus scored against
    * the broadcast. Never all-pairs, never a rebuild; the bridge set
    * is append-only on the stored edge table (n25's ingest
    * discipline). Returns (src=anchor, dst=bridged node). */
  def bridgeEdges(em: DataFrame, reach: DataFrame, maxHops: Int): DataFrame = {
    val unreach = em
      .join(reach.select(col("id").as("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id").as("u_id"), col("ue").as("u_ue"))
    val anchors = em.join(
      reach.filter(col("dist") <= maxHops - 1).select(col("id").as("vec_id")),
      Seq("vec_id"))
      .select(col("vec_id").as("a_id"), col("ue").as("a_ue"))
    val scored = anchors.crossJoin(broadcast(unreach))
      .select(col("a_id"), col("u_id"),
        round(Similarity.dot(col("a_ue"), col("u_ue")), 6).as("cos_r"))
    topKPerGroup(scored, Seq("u_id"), Seq(col("cos_r").desc, col("a_id")),
      1, "__rb")
      .select(col("a_id").as("src"), col("u_id").as("dst"))
  }

  /** [[bridgeEdges]] as a one-call repair: audit-BFS from `entryId`,
    * bridge everything outside the horizon, return the repaired
    * (src, dst) edge table (stored edges pass through bit-for-bit;
    * bridges are appended). */
  def repairGraphIndex(em: DataFrame, edges: DataFrame, entryId: Long,
                       maxHops: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val reach = Bfs.hopDistances(e,
      em.filter(col("vec_id") === entryId).select(col("vec_id").as("id")),
      maxHops)
    e.unionByName(bridgeEdges(em, reach, maxHops))
  }

  /** Sign-bit band table of `em` (vec_id, ue) vs the `planes`
    * codebook: one row per (vec_id, band, bv), two half-codebook
    * bands, degenerate buckets capped at `maxBucket` (lshPairs'
    * guard — one boilerplate bucket must not go quadratic). Shared by
    * the graph build and its incremental maintenance. */
  private def signatureBands(em: DataFrame, planes: Seq[Array[Double]],
                             maxBucket: Int): DataFrame = {
    require(planes.size % 2 == 0, "planes must split into two bands")
    val sig = planes.zipWithIndex.map { case (p, j) =>
      when(Similarity.dot(col("ue"), array(p.toIndexedSeq.map(lit): _*)) >= 0,
        lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    val half = 1 << (planes.size / 2)
    val bands = em.select(col("vec_id"), sig.as("bucket"))
      .select(col("vec_id"), explode(array(
        struct(lit(0).as("band"), expr(s"bucket div $half").as("bv")),
        struct(lit(1).as("band"), expr(s"bucket % $half").as("bv")))).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.bv").as("bv"))
    Dedup.capBuckets(bands, maxBucket, "band", "bv")
  }

  /** Exact-cosine edge weights for a candidate (src, dst) set. */
  private def scoreEdges(em: DataFrame, c: DataFrame): DataFrame = c
    .join(em.select(col("vec_id").as("src"), col("ue").as("us")), Seq("src"))
    .join(em.select(col("vec_id").as("dst"), col("ue").as("ud")), Seq("dst"))
    .select(col("src"), col("dst"),
      round(Similarity.dot(col("us"), col("ud")), 6).as("w"))

  private def topMEdges(scored: DataFrame, m: Int): DataFrame =
    topKPerGroup(scored, Seq("src"), Seq(col("w").desc, col("dst")), m, "__er")
      .select("src", "dst")

  /** The bounded-degree kNN GRAPH INDEX build (n23's phase 1, as its
    * own operator — at 100 TB this is the persisted table the searches
    * read): candidate edges from the banded signature join (never
    * all-pairs), exact-cosine scoring, top-`m` out-edges per node,
    * then `refineRounds` NN-descent rounds (Dong et al., WWW 2011) —
    * band collisions alone miss the edges of signature-"unlucky"
    * nodes, and neighbors-of-neighbors fix exactly that (a near
    * node's near nodes are near) at a bounded m² candidates per node
    * per round. Each intermediate graph is pinned (the 2-hop
    * self-join reads it twice). Returns (src, dst). */
  def knnGraphEdges(embeddings: DataFrame, planes: Seq[Array[Double]],
                    m: Int, maxBucket: Int = 256,
                    refineRounds: Int = 2): DataFrame = {
    val em = embeddings
      .select(col("vec_id"), Similarity.unit(col("embedding")).as("ue"))
    val kept = signatureBands(em, planes, maxBucket)
    val cand = kept.as("a").join(kept.as("b"), Seq("band", "bv"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
      .distinct()
    def refine(g: DataFrame): DataFrame = {
      val hop2 = g.as("x").join(g.as("y"), col("x.dst") === col("y.src"))
        .select(col("x.src").as("src"), col("y.dst").as("dst"))
        .filter(col("src") =!= col("dst"))
      Checkpoints.pin(topMEdges(
        scoreEdges(em, cand.unionByName(hop2).distinct()), m))
    }
    (1 to refineRounds).foldLeft(
      Checkpoints.pin(topMEdges(scoreEdges(em, cand), m))) { (g, _) =>
      val next = refine(g)
      Checkpoints.unpin(g) // superseded once the next round is materialized
      next
    }
  }

  /** N25: INCREMENTAL kNN-graph maintenance — the graph index's member
    * of the incremental family (d15 signatures, d18 clusters, d21
    * grams, n10 IVF membership): an arriving batch is folded into the
    * persisted edge table WITHOUT re-scoring history. Stored nodes'
    * edge lists pass through bit-for-bit (append-only — the n10
    * frozen-at-ingest contract); each batch node gets its top-`m`
    * out-edges from ONE banded probe against the full corpus's
    * signature index plus exact scoring of its own collisions only.
    * NN-descent refinement of the merged graph is deliberately NOT
    * run at ingest — like d21's gram index, rebalancing is the
    * compaction job's business (a full [[knnGraphEdges]] rebuild),
    * and the search still reaches batch nodes through their band
    * edges. At 100 TB the stored side is read once for the union and
    * the band index it already persists; the batch pays its own
    * signatures + a bucket-bounded join. Returns the updated
    * (src, dst) edge table. */
  def incrementalGraphEdges(storedEdges: DataFrame, embeddings: DataFrame,
                            batchPred: Column, planes: Seq[Array[Double]],
                            m: Int, maxBucket: Int = 256): DataFrame = {
    val em = embeddings
      .select(col("vec_id"), Similarity.unit(col("embedding")).as("ue"))
    val kept = signatureBands(em, planes, maxBucket)
    val cand = kept.filter(batchPred).as("a")
      .join(kept.as("b"), Seq("band", "bv"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
      .distinct()
    storedEdges.select(col("src"), col("dst"))
      .unionByName(topMEdges(scoreEdges(em, cand), m))
  }

  /** N35: SEGMENT MERGE — the compaction verb of the graph-index
    * lifecycle (build n23 → ingest n25 → tombstone n24 → repair
    * n33/n34 → MERGE), the LSM posture every segment-file ANN serving
    * fleet runs (Lucene HNSW segment merges; DiskANN's index sharding
    * literature): two or more INDEPENDENTLY BUILT segment indexes are
    * combined into one searchable graph. Segment edge lists pass
    * through BIT-FOR-BIT (the frozen-segment contract — history is
    * never re-scored); the only new work is STITCHING: banded
    * signature candidates restricted to CROSS-segment pairs
    * (`crossPred` over the two vec_ids), exact-cosine scored, top-
    * `mStitch` out-edges per node. Without stitch edges a walk
    * seeded in one segment can never reach another — the merge's
    * whole point is paying exactly that connectivity and nothing
    * else.
    *
    * Scale: each segment's build already happened (and is the
    * expensive part); the stitch pays one banded join whose candidate
    * set is df-capped per bucket and filtered to cross-segment pairs
    * — never |A|×|B|. NN-descent refinement of the merged graph is
    * deliberately NOT run here (n25's discipline: rebalancing is the
    * next full rebuild's business; search reaches the other segment
    * through the stitch edges meanwhile). */
  def mergeSegmentIndexes(embeddings: DataFrame, segEdges: Seq[DataFrame],
                          crossPred: (Column, Column) => Column,
                          planes: Seq[Array[Double]], mStitch: Int,
                          maxBucket: Int = 256): DataFrame = {
    require(segEdges.nonEmpty, "need at least one segment")
    val em = embeddings
      .select(col("vec_id"), Similarity.unit(col("embedding")).as("ue"))
    val kept = signatureBands(em, planes, maxBucket)
    val cand = kept.as("a").join(kept.as("b"), Seq("band", "bv"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .filter(crossPred(col("a.vec_id"), col("b.vec_id")))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
      .distinct()
    val stitch = topMEdges(scoreEdges(em, cand), mStitch)
    segEdges.map(_.select(col("src"), col("dst")))
      .reduce(_.unionByName(_))
      .unionByName(stitch)
  }

  /** Embedding OUTLIER detection — the centroid-distance filter a
    * curation pipeline runs after clustering/labeling: cosine of every
    * unit vector against its own group's mean vector; rows far from
    * their centroid (cos < `threshold`) are flagged as mislabeled /
    * off-distribution candidates (the SemDeDup/embedding-filter
    * family). Centroid dims round to 6 places (reproducible across
    * engines and summation orders, like [[kmeansCentroids]]).
    *
    * Scale: centroids aggregate to (groups × dims) rows — broadcast;
    * the corpus side is one scan + one partial-agg groupBy per dim
    * explode. Scoring joins the tiny centroid-array table broadcast,
    * so the big side never shuffles for the dot product. */
  def centroidOutliers(embeddings: DataFrame, groupCol: String = "label",
                       threshold: Double = 0.8): DataFrame = {
    val u = embeddings.select(col("vec_id"), col(groupCol),
      Similarity.unit(col("embedding")).as("ue"))
    val dims = u.select(col("vec_id"), col(groupCol), posexplode(col("ue")))
      .withColumnRenamed("col", "v")
    val cent = dims.groupBy(groupCol, "pos")
      .agg(round(avg(col("v")), 6).as("c"))
      .groupBy(groupCol)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("centroid"))
    u.join(broadcast(cent), Seq(groupCol))
      .select(col("vec_id"), col(groupCol),
        round(Similarity.dot(col("ue"), col("centroid")), 6).as("cos_centroid"))
      .withColumn("is_outlier", col("cos_centroid") < threshold)
  }

  /** Two-table form of [[bruteForceTopK]]: an EXPLICIT query table
    * (`qid`, `qu` unit vectors) scored against a pre-unit corpus
    * (`vec_id`, `ue`) — for callers whose queries arrive separately
    * from the corpus (streaming micro-batches, cross-corpus eval).
    * Same broadcast-query discipline, cosine rounding, and
    * (cos desc, id) tie order as the one-table form, so results are
    * interchangeable with it. */
  def bruteForceTopKOf(queries: DataFrame, corpus: DataFrame,
                       k: Int): DataFrame =
    topKPerGroup(
      broadcast(queries).join(corpus, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("neighbor_id"),
          round(Similarity.dot(col("qu"), col("ue")), 6).as("cos_r")),
      Seq("qid"), Seq(col("cos_r").desc, col("neighbor_id")), k, "rnk")
      .select("qid", "rnk", "neighbor_id", "cos_r")

  /** MRR and MAP@k of a ranked candidate table against a gold
    * relevant set — the binary-relevance retrieval metrics (TREC's
    * mean-average-precision; Voorhees 1999's reciprocal rank) next to
    * n28's graded nDCG. Exact int64 ppm end to end: rr_ppm = 1e6 div
    * first-relevant-rank (0 when no relevant item is retrieved),
    * ap_ppm = (Σ over hit positions p of hits_up_to_p * 1e6 div p)
    * div relPerQuery — truncating integer divisions both engines
    * replay bitwise, no float mean anywhere.
    *
    * Scale: one hash join of the ranked table against the (top-k-
    * sized) relevant table on the (qid, neighbor) key, one per-query
    * window over <= k rows, one per-query aggregate — all keyed by
    * qid, no global funnel. */
  def mrrMap(ranked: DataFrame, rel: DataFrame,
             relPerQuery: Int): DataFrame = {
    val hits = ranked
      .join(rel.select(col("qid"), col("neighbor_id"))
        .withColumn("__hit", lit(1L)),
        Seq("qid", "neighbor_id"), "left_outer")
      .select(col("qid"), col("rnk").cast("long").as("rnk"),
        coalesce(col("__hit"), lit(0L)).as("hit"))
    val w = Window.partitionBy("qid").orderBy("rnk")
    hits.withColumn("cum", sum(col("hit")).over(w))
      .groupBy("qid")
      .agg(min(when(col("hit") === 1L, col("rnk"))).as("__fr"),
        sum(when(col("hit") === 1L, expr("cum * 1000000 div rnk"))
          .otherwise(lit(0L))).as("__ap_num"))
      .select(col("qid"),
        coalesce(expr("CAST(1000000 AS BIGINT) div __fr"), lit(0L))
          .as("rr_ppm"),
        expr(s"__ap_num div CAST($relPerQuery AS BIGINT)").as("ap_ppm"))
  }
}
