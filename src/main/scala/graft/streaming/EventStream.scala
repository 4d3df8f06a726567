package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface — the streaming twin of the batch
  * watermark-pull incrementality in the reference (S3+S4: poll
  * `after=max(epoch)`; here: `withWatermark` + windowed state).
  *
  * These transforms are sink-agnostic: bind them with
  * `spark.readStream...` and any `writeStream` sink. Tests drive them
  * with a file source + memory sink via `processAllAvailable()`.
  */
object EventStream {

  /** Watermarked tumbling hourly aggregate (streaming w2_tumbling).
    * Late events beyond 2h are dropped deterministically by the
    * watermark instead of silently corrupting closed windows. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"))

  /** Gap-based session aggregation via session_window (streaming
    * w1_sessionize; same gap semantics as operators.Sessionize). */
  def sessionCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"), col("n_events"))

  /** Streaming exact dedup (the streaming twin of the d1 batch dedup):
    * drop repeated event ids, with the watermark bounding how long ids
    * are kept in state — unbounded dedup state is the classic way a
    * streaming dedup falls over at scale. */
  def dedupedEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming CONTENT dedup over a document stream (the streaming
    * twin of d1's exact dedup): the first sight of each content hash
    * passes, repeats drop. The output column is the dedup key itself,
    * so the result SET is independent of arrival order — which is what
    * makes this form gateable against a batch DISTINCT. Documents
    * carry no event time, so state here is unbounded; the production
    * variant bounds it with `dropDuplicatesWithinWatermark` (see
    * [[dedupedEvents]]) once the stream has a time column, or relies
    * on state-store TTL. */
  def distinctContent(docs: DataFrame): DataFrame =
    docs.select(md5(col("text")).as("content_hash"))
      .dropDuplicates("content_hash")

  /** Streaming CDC latest-per-key view (the streaming read side of the
    * K2 upsert; batch twin: g10's row_number compaction): a streaming
    * aggregation holds one `max_by` row per key, complete mode
    * re-emits the full state each trigger, so the sink's final table
    * IS the current snapshot. The ordering key is a (ts, event_id)
    * struct — struct comparison is lexicographic, so ties on ts break
    * deterministically on event_id under ANY arrival order.
    *
    * Scale: state is one row per key (bounded by key cardinality, not
    * stream length) and the aggregation partial-merges map-side, so a
    * hot key combines before the exchange. Complete-mode re-emission
    * prices the snapshot write at |keys| per trigger; an update-mode
    * sink (e.g. foreachBatch MERGE into [[graft.sources
    * .VersionedParquetStore]]) pays only changed keys instead. */
  def latestPerUser(events: DataFrame): DataFrame =
    events.groupBy("user_id")
      .agg(max_by(
        struct(col("event_id"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("last"))
      .select(col("user_id"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_type"),
        round(col("last.value") * 100, 0).cast("long").as("last_value_c"))

  /** Streaming DECONTAMINATION at ingest (streaming twin of d17's
    * bloom-prefiltered batch audit): every arriving document is
    * shingled as a per-row array projection (no window — the batch
    * shingler's lead-over-doc window is not streamable), its grams
    * probed against the benchmark Bloom filter INSIDE the stream's
    * projection (a 16 KB binary literal compiled into the plan — no
    * join, no state), and only surviving grams reach the stream-static
    * exact-verify join. Emits one `(doc_id, sh)` audit row per exact
    * benchmark overlap; false positives die in the join, so the
    * appended result SET is exact and arrival-order independent —
    * gateable against the batch oracle.
    *
    * At scale: the probe cuts the stream-static join's input to
    * ~true-match volume per micro-batch, and the join carries no
    * streaming state at all (static side is a table) — the whole
    * thing is stateless ingest filtering. */
  def decontaminateStream(docs: DataFrame, bloom: Array[Byte],
      benchGrams: DataFrame, k: Int = 6, numHashes: Int = 5): DataFrame = {
    import graft.functions.{Bloom, TextAnalysis}
    docs.select(col("doc_id"),
        explode(array_distinct(
          TextAnalysis.wordShingles(TextAnalysis.words(col("text")), k))).as("sh"))
      .filter(Bloom.mightContainCol(lit(bloom), col("sh"), numHashes))
      .join(benchGrams, Seq("sh"))
      .select(col("doc_id"), col("sh"))
  }

  /** Streaming SUBSTRING SCRUB at ingest (streaming twin of d21's
    * index-probe scrub, completing the streaming story for the scrub
    * family d19/d20/d21): each arriving document is shingled as a
    * per-row projection, its minRun-token grams optionally prefiltered
    * through the accepted corpus's Bloom filter (a plan-constant
    * binary literal — no join, no state, same trick as
    * [[decontaminateStream]]), and the survivors probed against the
    * PERSISTED GRAM INDEX via a stream-static join. Emits one
    * `(doc_id, pos)` REMOVABLE-START row per index hit — the scrub
    * PLAN. Bloom false positives die in the join, so the appended set
    * is exact and arrival-order independent — gateable against the
    * batch oracle.
    *
    * Statelessness is the design, not a shortcut: an ingest stream
    * scrubs against the ACCEPTED corpus, so there is no batch-internal
    * first-occurrence election (that is the compaction job's business
    * — [[graft.operators.Dedup.incrementalScrub]] runs it when batches
    * are folded into the index), no watermark, and no streaming
    * aggregation. The per-doc splice (islands -> coverage ->
    * reassembly) is a deterministic pure function of the plan rows and
    * runs at the sink/compaction where the doc's rows are co-located.
    * At 100 TB the bloom cuts each micro-batch's join input to
    * ~true-hit volume and the index side is gram-partitioned persisted
    * storage — the same access pattern as d15's signature probe. */
  def scrubPlanStream(docs: DataFrame, gramIndex: DataFrame,
      minRun: Int = 12, bloom: Option[Array[Byte]] = None,
      numHashes: Int = 5): DataFrame = {
    import graft.functions.{Bloom, TextAnalysis}
    val grams = docs.select(col("doc_id"), posexplode(
        TextAnalysis.wordShingles(TextAnalysis.words(col("text")), minRun)))
      .withColumnRenamed("col", "gram")
    val prefiltered = bloom match {
      case Some(b) => grams.filter(Bloom.mightContainCol(lit(b), col("gram"), numHashes))
      case None => grams
    }
    prefiltered.join(gramIndex, Seq("gram")).select(col("doc_id"), col("pos"))
  }

  /** Stream-stream interval join (streaming twin of the j5 range join):
    * purchases within 10 minutes after a click by the same user. Both
    * sides are watermarked and the join condition bounds the event-time
    * range, so each side's buffered state is evictable — an unbounded
    * stream-stream join is the other classic state blow-up next to
    * unbounded dedup. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user_id"), col("ts").as("buy_ts"),
        col("event_id").as("buy_id"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("buy_ts") > col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("interval 10 minutes"))
      .select(col("user_id"), col("click_id"), col("buy_id"))
  }

  /** LEFT OUTER variant of [[clickPurchaseJoin]]: unmatched clicks emit
    * (click_id, null buy_id) once the global watermark passes their
    * join window — the state-EVICTION path an inner join never
    * exercises (inner results emit on match; outer null-extensions are
    * withheld until the watermark proves no match can still arrive).
    * `click_ts` stays in the output so callers can restrict to the
    * clearly-past region when comparing against batch truth. */
  def clickPurchaseLeftJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user_id"), col("ts").as("buy_ts"),
        col("event_id").as("buy_id"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("buy_ts") > col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("interval 10 minutes"),
      "leftOuter")
      .select(col("user_id"), col("click_ts"), col("click_id"), col("buy_id"))
  }

  case class UserEvent(user_id: Long, value: Double)
  case class UserTotals(user_id: Long, n_events: Long, value_sum: Double)

  /** Custom keyed state via mapGroupsWithState: per-user running totals
    * that survive across micro-batches — the seam for arbitrary state
    * the built-in windows can't express (the reference's per-user
    * token/watermark bookkeeping lives here in streaming mode). */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserTotals] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(userId, 0L, 0.0))
          var n = prev.n_events
          var s = prev.value_sum
          batch.foreach { e => n += 1; s += e.value }
          val updated = UserTotals(userId, n, s)
          state.update(updated)
          updated
      }
  }

  /** Streaming maintenance of [[graft.operators.IncrementalAgg]]'s
    * snapshot — the streaming twin of the g18 batch merge, exactly as
    * w12 is d21's: each micro-batch partially aggregates ON THE
    * EXECUTORS (one delta-sized exchange), and only its per-key state
    * reaches the store, where `IncrementalAgg.mergeSnapshots` folds it
    * into the current [[graft.sources.VersionedParquetStore]] snapshot
    * under an atomic pointer swap — readers always resolve a complete
    * snapshot, never a half-merged one. State lives in the STORE, not
    * the state store: the streaming query itself is stateless, so
    * there is no per-key watermark state to size or evict, and a
    * restart resumes from the checkpoint + last committed snapshot.
    *
    * Batch-order independence: the merge algebra is associative and
    * commutative (IncrementalAggSpec), so any micro-batch carve-up of
    * the input commits the same final snapshot as one batch — which
    * is what the w14 gate's full-rebuild oracle checks. */
  def maintainAggSnapshot(stream: DataFrame, storeRoot: String,
                          checkpoint: String, key: String,
                          valueCol: String)
                         : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val delta = graft.operators.IncrementalAgg
          .snapshot(batch.toDF(), key, valueCol)
        graft.sources.VersionedParquetStore.merge(
          batch.sparkSession, storeRoot, delta, key,
          combine = (cur: DataFrame, d: DataFrame) =>
            graft.operators.IncrementalAgg.mergeSnapshots(cur, d, key))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming ANN-index INGEST (n10's frozen-codebook contract at
    * arrival, w14's foreachBatch staging discipline): each micro-batch
    * of new vectors is assigned to its max-cosine centroid against the
    * FROZEN broadcast codebook ([[graft.operators.Ann
    * .clusterAssignment]] — a static plan per batch, the argmax one
    * kernel call per vector) and APPENDED to the persisted membership
    * store.
    * Stored rows are never re-scored or rewritten logically
    * (append-only — retraining/rebalancing is n24's decision-gated
    * rebuild); at gate scale the versioned store rewrites the snapshot
    * for atomic-swap semantics, while a 100 TB deployment appends a
    * partition per batch under the same pointer discipline. Because
    * membership is a pure per-vector function of the frozen codebook,
    * the final store equals a from-scratch assignment of the union
    * regardless of how the stream was batched — w28 shares n10's
    * oracle bit-for-bit. */
  def maintainMembershipStore(stream: DataFrame, centroids: DataFrame,
                              storeRoot: String, checkpoint: String)
                             : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val delta = graft.operators.Ann
            .clusterAssignment(batch.toDF(), centroids)
          // dropDuplicates makes the append IDEMPOTENT under
          // at-least-once micro-batch replay (driver dies between the
          // store commit and the checkpoint write -> foreachBatch
          // re-runs the batch): membership is a pure function of the
          // frozen codebook, so replayed rows are bit-identical and
          // the dedup is exact, never a choice
          graft.sources.VersionedParquetStore.merge(
            batch.sparkSession, storeRoot, delta, "vec_id",
            combine = (cur: DataFrame, d: DataFrame) =>
              cur.unionByName(d).dropDuplicates("vec_id"))
          ()
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming graph-ANN SEARCH (w30) — the online-retrieval half of a
    * RAG ingest, closing the graph index's lifecycle (build n23,
    * incremental ingest n25, tombstones n26, rebuild n24): query
    * vectors ARRIVE as a stream and each micro-batch runs the bounded
    * beam walk against the STATIC index — w18's stream-static
    * discipline, lifted to foreachBatch because the walk is an
    * iterative bounded loop, not a single streaming-legal join. The
    * index here is the SERVING replica ([[graft.operators.Ann
    * .LocalGraphIndex]] — adjacency + unit corpus broadcast per
    * executor, queries sharded), which is how an online search tier
    * actually deploys: the at-arrival path answers from RAM; the
    * distributed-join walk ([[graft.operators.Ann.graphSearch]], the
    * n23 batch gate) remains the shape for indexes beyond single-node
    * memory. The index is frozen per batch and every query's walk is
    * independent, so the union of per-batch results equals the
    * one-shot search of all queries no matter how the stream
    * batched — w30 shares n23's walk-replay oracle verbatim (the
    * local walk is bit-identical to the distributed one,
    * GraphLocalParitySpec). Results append to a versioned store;
    * dropDuplicates on (qid, rnk) makes replayed batches idempotent
    * under at-least-once delivery (search is a pure function of the
    * frozen index, so replays are bit-identical — w28's argument).
    *
    * Scale: per-batch state is queries × visited inside each task —
    * no streaming state at all: watermarks/buffers are unnecessary
    * because each query is answered entirely at arrival. */
  def searchGraphIndex(stream: DataFrame,
                       index: graft.operators.Ann.LocalGraphIndex,
                       beam: Int, rounds: Int, k: Int,
                       storeRoot: String, checkpoint: String)
                      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val q = batch.toDF()
            .select(col("vec_id").as("qid"),
              graft.functions.Similarity.unit(col("embedding")).as("qu"))
          val hits = graft.operators.Ann.graphSearchLocal(index, q,
            beam, rounds, k)
          graft.sources.VersionedParquetStore.merge(
            batch.sparkSession, storeRoot, hits, "qid",
            combine = (cur: DataFrame, d: DataFrame) =>
              cur.unionByName(d).dropDuplicates("qid", "rnk"))
          ()
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming retrieval-quality eval (w31 — the arrival-time twin of
    * the n28 nDCG gate): each micro-batch of arriving queries is
    * ranked with the CHEAP production-time representation (`corpus`:
    * pre-unit truncated-dim vectors, static per batch — the w18
    * stream-static discipline) and scored nDCG@k against the static
    * offline gold-relevance table `rel(qid, neighbor_id, rel)`; one
    * (dcg, ndcg_ppm) row per query merges append-only into the
    * versioned store. The online half of a retrieval dashboard:
    * quality-at-arrival, not quality-at-audit.
    *
    * Exactness: `weights`/`idcg` are the n28 discount table — int64
    * Σ rel·w and ONE truncating division, so the streamed scores
    * hash-equal the batch gate's. Idempotent under at-least-once
    * replay: ndcg is a pure function of (query, static corpus,
    * static rel), so a replayed batch re-derives identical rows and
    * dropDuplicates(qid) absorbs them. */
  def scoreRetrievalNdcg(stream: DataFrame, corpus: DataFrame,
                         rel: DataFrame, k: Int, weights: Seq[Long],
                         idcg: Long, storeRoot: String, checkpoint: String)
                        : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val q = batch.toDF()
            .select(col("vec_id").as("qid"),
              graft.functions.Similarity.unit(col("embedding")).as("qu"))
          val ranked = graft.operators.Ann.bruteForceTopKOf(q, corpus, k)
          val wExpr = (1 to k).foldLeft(lit(0L): org.apache.spark.sql.Column) {
            (acc, p) => when(col("rnk") === p, lit(weights(p - 1))).otherwise(acc)
          }
          val scored = ranked
            .join(rel, Seq("qid", "neighbor_id"), "left_outer")
            .select(col("qid"), coalesce(col("rel"), lit(0L)).as("rel"),
              wExpr.as("w"))
            .groupBy("qid").agg(sum(col("rel") * col("w")).as("dcg"))
            .select(col("qid"), col("dcg"),
              expr(s"dcg * 1000000 div ${idcg}L").as("ndcg_ppm"))
          graft.sources.VersionedParquetStore.merge(
            batch.sparkSession, storeRoot, scored, "qid",
            combine = (cur: DataFrame, d: DataFrame) =>
              cur.unionByName(d).dropDuplicates("qid"))
          ()
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming dedup-aware token-supply maintenance (w32 — o29's
    * incremental-family twin, the d15/n10/w28 discipline): each
    * arriving document micro-batch is deduplicated against the
    * PERSISTED digest index (exact dedup, first-seen-wins: a digest
    * already in the index makes the arrival a duplicate; within the
    * batch the min doc_id keeps), per-(source, bucket) supply
    * counters are APPENDED, and the new digests join the index.
    * History is never rescanned — each batch pays one store probe.
    *
    * Arrival-order contract: first-seen-wins equals o29's
    * min-doc_id-wins only when ingest is id-ordered (the gate feeds
    * id-range batches in order) — the same event-time-ordered-ingest
    * contract every lag-shaped streaming operator here carries.
    *
    * Replay idempotency is STRUCTURAL, not statistical: counters are
    * keyed by (source, bucket) and the merge keeps CURRENT rows,
    * admitting only never-seen keys (left-anti, not dropDuplicates)
    * — a replayed batch re-derives a (possibly different, since its
    * digests are now indexed) delta that is then discarded whole.
    * The digest index append is the same anti-join shape.
    *
    * `vacuumKeep` (w33): when set, each batch ends with snapshot
    * EXPIRY on both stores ([[graft.sources.VersionedParquetStore
    * .vacuum]]) — maintenance running INSIDE continuous ingest, the
    * production posture where retention is a side-effect of the
    * write path, not a nightly job. Expiry never touches the pointer
    * target, so the visible table is unaffected and the history
    * stays bounded at `keep` snapshots however long the stream
    * runs. */
  def maintainTokenSupply(stream: DataFrame, digestRoot: String,
                          supplyRoot: String, checkpoint: String,
                          vacuumKeep: Option[Int] = None)
                         : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val d = batch.toDF().select(col("doc_id"), col("source"),
            col("bucket"),
            size(split(col("text"), " ")).cast("long").as("ntok"),
            md5(col("text")).as("h"))
          val seen = graft.sources.VersionedParquetStore
            .read(s, digestRoot)
            .map(_.select(col("h"), lit(1L).as("__seen")))
          val firstInBatch = d.groupBy("h")
            .agg(min(col("doc_id")).as("__first"))
          val joined = d.join(firstInBatch, Seq("h"))
          val flagged = seen.fold(joined.withColumn("__seen",
              lit(null).cast("long")))(sn => joined.join(sn, Seq("h"), "left_outer"))
            .withColumn("kept",
              (col("__seen").isNull && col("doc_id") === col("__first"))
                .cast("long"))
          val delta = flagged.groupBy("source", "bucket").agg(
            count(lit(1)).as("raw_docs"),
            sum(col("ntok")).as("raw_tokens"),
            sum(col("kept")).as("kept_docs"),
            sum(col("ntok") * col("kept")).as("kept_tokens"))
          val keyCols = Seq("source", "bucket")
          graft.sources.VersionedParquetStore.merge(s, supplyRoot, delta,
            "source",
            combine = (cur: DataFrame, dd: DataFrame) =>
              cur.unionByName(dd.join(cur, keyCols, "left_anti")))
          graft.sources.VersionedParquetStore.merge(s, digestRoot,
            flagged.filter(col("kept") === 1L).select("h"), "h",
            combine = (cur: DataFrame, dd: DataFrame) =>
              cur.unionByName(dd.join(cur, Seq("h"), "left_anti")))
          vacuumKeep.foreach { k =>
            graft.sources.VersionedParquetStore.vacuum(s, supplyRoot, k)
            graft.sources.VersionedParquetStore.vacuum(s, digestRoot, k)
          }
          ()
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming APPEND + in-stream COMPACTION (w34 — the INGEST half
    * of the store lifecycle run the way a fact store actually runs
    * it, closing the loop merge/K2 → append → fragment → compact e18/
    * e20 → expire x17/w33): each micro-batch is appended in O(batch)
    * ([[graft.sources.VersionedParquetStore.appendPartitioned]] — the
    * previous snapshot rides along by manifest reference, never
    * rewritten), then [[graft.operators.Compaction
    * .applyPlanIncremental]] folds any bucket the append pushed past
    * `maxFilesPerBucket` back to plan — and ONLY those buckets; a
    * bucket whose docs all arrived in one batch keeps its original
    * file until the day it fragments. At 100 TB this is the whole
    * point of e20's selectivity: per-batch maintenance cost tracks
    * the batch's blast radius, not the table.
    *
    * Replay handling is STRUCTURAL and its semantics are, precisely,
    * FIRST-WRITE-WINS BY `doc_id`: the arriving batch is anti-joined
    * on `doc_id` against the ENTIRE current store, so a replayed
    * batch derives an empty delta (no append commit, and compaction's
    * no-op fast path commits nothing) — but a genuinely NEW record
    * that reuses an existing doc_id is dropped by the same join,
    * indistinguishable from a replay. That is the contract: doc_id
    * is the immutable identity of an append-only fact store; a
    * record that must change under an existing id belongs on the
    * merge()/K2 upsert path, not here. Cost honesty: the per-batch
    * anti-join reads the CURRENT STORE — O(table), not O(batch) — the
    * right gate-scale stand-in, but a 100 TB deployment keys replay
    * detection off a persisted seen-id digest store probed per batch
    * (exactly how [[maintainTokenSupply]] tracks its kept-hash digest;
    * d15's key-index-probe shape). Batches must carry the target
    * `bucket` column (the writer owns placement — contiguous id runs
    * keep min/max file stats selective, e13's argument). */
  def appendCompactStore(stream: DataFrame, root: String,
                         maxFilesPerBucket: Int, checkpoint: String)
                        : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val cur = graft.sources.VersionedParquetStore.read(s, root)
          val delta = cur.fold(batch.toDF())(c => batch.toDF()
            .join(c.select("doc_id"), Seq("doc_id"), "left_anti"))
          if (!delta.isEmpty) {
            graft.sources.VersionedParquetStore
              .appendPartitioned(s, root, delta, "bucket")
            graft.operators.Compaction
              .applyPlanIncremental(s, root, maxFilesPerBucket)
          }
          ()
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  case class TypedEvent(user_id: Long, us: Long, event_id: Long,
                        event_type: String)
  case class TransitionStep(user_id: Long, prev_type: String,
                            next_type: String)

  /** Streaming event-transition extraction (the streaming twin of
    * [[graft.operators.Behavior.transitionMatrix]]): per-user custom
    * state via flatMapGroupsWithState carrying ONE tuple — the last
    * (event-time, id, type) seen — so the step that straddles a
    * micro-batch boundary is still emitted. Events are sorted by
    * (time, id) WITHIN each batch before folding (the group iterator
    * carries no order guarantee); across batches the operator assumes
    * event-time-ordered ingest per key, the same contract as every
    * lag-shaped streaming computation — out-of-order arrival needs a
    * watermark buffer in front (w7's interval-join discipline), which
    * is deliberately not fused in here.
    *
    * Scale: state is O(1) per key (one tuple), emission is linear in
    * batch size, and the exchange is the same per-key hash any
    * stateful operator pays — no growth with stream length. */
  def transitionSteps(events: Dataset[TypedEvent]): Dataset[TransitionStep] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, String), TransitionStep](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[TypedEvent],
         state: GroupState[(Long, Long, String)]) =>
          val sorted = batch.toIndexedSeq.sortBy(e => (e.us, e.event_id))
          var prev = state.getOption
          val steps = IndexedSeq.newBuilder[TransitionStep]
          sorted.foreach { e =>
            prev.foreach(p => steps += TransitionStep(uid, p._3, e.event_type))
            prev = Some((e.us, e.event_id, e.event_type))
          }
          prev.foreach(state.update)
          steps.result().iterator
      }
  }

  case class DocArrival(source: String, doc_id: Long, n_tok: Long)
  case class Admission(source: String, doc_id: Long, n_tok: Long,
                       admitted: Boolean)

  /** Streaming per-source token-budget admission — the streaming twin
    * of [[graft.operators.Sampling.tokenBudget]]/[[graft.operators.Sampling.tokenBudgetResume]]:
    * docs arrive as a stream, each source carries ONE long of state
    * (tokens seen so far), a doc is admitted iff the carried total is
    * still under budget, and the total then advances by the doc's
    * tokens whether or not it was admitted (the batch operator's
    * accumulate-then-cut semantics — so stream output == the batch
    * window over arrival order, regardless of micro-batch boundaries).
    * Ordered-ingest contract: in-batch sort by doc_id, cross-batch
    * order is the file/arrival order — same discipline as
    * [[transitionSteps]]. */
  def tokenBudgetStream(docs: Dataset[DocArrival],
                        budget: Long): Dataset[Admission] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[Long, Admission](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (src: String, batch: Iterator[DocArrival], state: GroupState[Long]) =>
          val sorted = batch.toIndexedSeq.sortBy(_.doc_id)
          var consumed = state.getOption.getOrElse(0L)
          val out = sorted.map { d =>
            val adm = consumed < budget
            consumed += d.n_tok
            Admission(src, d.doc_id, d.n_tok, adm)
          }
          state.update(consumed)
          out.iterator
      }
  }

  case class ValuedEvent(event_type: String, us: Long, event_id: Long,
                         v_c: Long)
  case class AnomalyFlag(event_type: String, event_id: Long, flagged: Boolean)

  /** Streaming running-statistics anomaly detection: each event is
    * judged against the mean/variance of all PRECEDING events of its
    * type (a warm-up of 30 observations before any flag), then folded
    * into the state. The per-key state is three exact int64 scalars —
    * (n, sum of cents, sum of squared cents) — carried across
    * micro-batches, so the 3-sigma cut is INTEGER arithmetic:
    *
    *   |v*n - sum| > 3 * sqrt((n*ss - sum^2)/n^2) * n
    *   <=> (v*n - sum)^2 > 9 * (n*ss - sum^2)
    *
    * No float accumulation ever happens, so the streaming fold is
    * bit-identical to the batch cumulative-window formulation (the
    * oracle) regardless of micro-batch boundaries. Bounds: the squared
    * terms stay under 2^63 for per-key counts up to ~2*10^4 at cent
    * values up to ~5*10^4 (the 10x bench corpus); a production deploy
    * at larger per-key history widens to DECIMAL or re-centers the
    * state periodically.
    *
    * Same ordered-ingest contract as [[transitionSteps]] (in-batch
    * sort by (us, event_id); cross-batch order is the file order). */
  def anomalySteps(events: Dataset[ValuedEvent]): Dataset[AnomalyFlag] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[(Long, Long, Long), AnomalyFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (etype: String, batch: Iterator[ValuedEvent],
         state: GroupState[(Long, Long, Long)]) =>
          val sorted = batch.toIndexedSeq.sortBy(e => (e.us, e.event_id))
          var (n, s, ss) = state.getOption.getOrElse((0L, 0L, 0L))
          val out = IndexedSeq.newBuilder[AnomalyFlag]
          sorted.foreach { e =>
            val lhs = e.v_c * n - s
            val flagged = n >= 30 && lhs * lhs > 9L * (n * ss - s * s)
            out += AnomalyFlag(etype, e.event_id, flagged)
            n += 1; s += e.v_c; ss += e.v_c * e.v_c
          }
          state.update((n, s, ss))
          out.result().iterator
      }
  }

  case class SessionedEvent(user_id: Long, event_id: Long, us: Long,
                            session_id: Long)

  /** Streaming duration-capped sessionization (the streaming twin of
    * [[graft.operators.Sessionize.withCappedSessionId]]): the same
    * gap-OR-duration recurrence, with the three-scalar state
    * (session id, session start, previous ts) carried per user across
    * micro-batches — the batch operator's secondary-sort fold becomes
    * flatMapGroupsWithState + in-batch sort. Same ordered-ingest
    * contract as [[transitionSteps]]; same microsecond arithmetic as
    * the batch twin (w16 hashes against g26's oracle, so a millis
    * truncation here would flip the gate). */
  def cappedSessionStream(events: Dataset[TypedEvent], gapSeconds: Long,
                          capSeconds: Long): Dataset[SessionedEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    val capUs = capSeconds * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long), SessionedEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[TypedEvent],
         state: GroupState[(Long, Long, Long)]) =>
          val sorted = batch.toIndexedSeq.sortBy(e => (e.us, e.event_id))
          var (sid, startUs, prevUs) = state.getOption.getOrElse((0L, 0L, 0L))
          val outB = IndexedSeq.newBuilder[SessionedEvent]
          sorted.foreach { e =>
            if (sid == 0L || e.us - prevUs > gapUs || e.us - startUs > capUs) {
              sid += 1L; startUs = e.us
            }
            prevUs = e.us
            outB += SessionedEvent(uid, e.event_id, e.us, sid)
          }
          if (sorted.nonEmpty) state.update((sid, startUs, prevUs))
          outB.result().iterator
      }
  }

  case class Milestone(user_id: Long, milestone: Long)

  /** flatMapGroupsWithState: emit 0..n rows per group per batch — here,
    * one row each time a user's lifetime event count crosses a multiple
    * of `every`. Shows the append-mode custom-state seam (alerts,
    * session-close records, quota trips). */
  def userMilestones(events: Dataset[UserEvent], every: Long = 100L): Dataset[Milestone] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, Milestone](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[Long]) =>
          val before = state.getOption.getOrElse(0L)
          val after = before + batch.size
          state.update(after)
          ((before / every + 1) to (after / every))
            .map(k => Milestone(userId, k * every)).iterator
      }
  }
}
