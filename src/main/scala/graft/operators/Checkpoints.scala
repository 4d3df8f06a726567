package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import graft.SessionArtifact

/** Registry for `localCheckpoint` RDDs created by iterative operators
  * ([[ConnectedComponents.labelPropagate]] rounds, [[Dedup
  * .suffixDupSpans]] doubling rounds): each pin is a
  * [[graft.SessionArtifact]] entry keyed by its RDD, so
  * `SparkEntry.clearCaches` releases it with the same lifecycle as the
  * persisted dedup indexes.
  *
  * Needed because `Dataset.unpersist` is a cache-manager call and a
  * localCheckpoint is an RDD-level persist — unpersisting the FRAME is
  * a silent no-op and the checkpoint blocks pin executor storage until
  * driver GC happens to collect the RDD handle (CacheLifecycleSpec
  * caught exactly this). The checkpointed RDD is lifted out of the
  * frame's LogicalRDD plan at creation, which is the only moment it is
  * cheaply identifiable.
  *
  * Clearing is only safe AFTER the depending result has been consumed:
  * a localCheckpoint is non-replayable by design, so re-collecting a
  * stale handle after `clear` fails — callers rebuild through the
  * operator instead, the same contract the materialized signature
  * index documents.
  *
  * FAULT TOLERANCE: a localCheckpoint block lives only in executor
  * storage — lose the executor (preemption, decommission, OOM kill)
  * and the block is gone WITH its lineage, so the job fails instead of
  * recomputing. That trade (cheap pin, non-recoverable state) is right
  * for the bench/gate paths this library runs here, but a 1000-executor
  * production run should set `spark.graft.checkpoint.reliable=true`
  * AND a `sparkContext.setCheckpointDir` — [[pin]] then uses a
  * RELIABLE checkpoint (replayable from the checkpoint store after
  * executor loss) at the cost of a distributed-FS write per pin. The
  * pinned frames are collision-rate-sized by design, so that write is
  * small. */
object Checkpoints {

  private val pins = SessionArtifact[RDD[_], RDD[_]]("checkpointPin",
    SessionArtifact.Kind.rdd)((_, rdd) => rdd)

  /** Checkpoint `df` (eager) and register the backing RDD for
    * [[clear]]. With `spark.graft.checkpoint.reliable=true` and a
    * checkpoint dir set, uses a reliable (replayable) checkpoint
    * instead — those blocks live in the checkpoint store, not executor
    * storage, so there is nothing to register. */
  def pin(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val reliable =
      s.conf.get("spark.graft.checkpoint.reliable", "false").toBoolean &&
        s.sparkContext.getCheckpointDir.isDefined
    if (reliable) df.checkpoint()
    else {
      val c = df.localCheckpoint()
      c.queryExecution.logical match {
        case lr: LogicalRDD => pins(c.sparkSession, lr.rdd)
        case _ => // unexpected plan shape: nothing to track, GC reclaims
      }
      c
    }
  }

  /** [[pin]] with a LAZY localCheckpoint: the plan is cut (and the
    * backing RDD registered for [[clear]]) immediately, but nothing
    * executes until the consumer's own action — which then computes
    * the whole pinned chain as ONE job, caching each pinned RDD as it
    * is first materialized. For an iterative loop whose rounds are
    * TINY (the graph-ANN walk: queries x beam rows per round), the
    * eager form's per-round job dispatch dominates the actual work —
    * measured on the n23 walk at sf0.1: 12 eager sub-jobs, ~5.3 s,
    * vs ~1 s one-job lazy (receipts in BENCH_NOTES round 14). Same
    * double-reference safety as [[pin]]: the RDD is persisted, so the
    * second reference inside one job reads the cached blocks. Not for
    * loops whose rounds are themselves heavy — an eager pin bounds
    * peak plan size AND gives per-round progress; this trades both
    * for dispatch count. */
  def pinLazy(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val reliable =
      s.conf.get("spark.graft.checkpoint.reliable", "false").toBoolean &&
        s.sparkContext.getCheckpointDir.isDefined
    // reliable mode stays LAZY too: an eager reliable checkpoint would
    // silently reintroduce the per-round job dispatch (plus a
    // distributed-FS write per round) this member exists to remove —
    // exactly in the large-cluster configuration reliable mode targets.
    // The consumer's action still materializes (and checkpoints) the
    // whole pinned chain as one job.
    if (reliable) df.checkpoint(eager = false)
    else {
      val c = df.localCheckpoint(eager = false)
      c.queryExecution.logical match {
        case lr: LogicalRDD => pins(c.sparkSession, lr.rdd)
        case _ => // unexpected plan shape: nothing to track, GC reclaims
      }
      c
    }
  }

  /** Run `body` and release the checkpoint RDDs it pinned on behalf
    * of `s`, leaving pins from before the scope untouched. For
    * throwaway runs whose pins nothing later reads (the untimed
    * pre-JIT warm-up of an iterative kernel): each call pins fresh
    * frames, so a warm-up's blocks would otherwise sit in executor
    * storage until clearCaches. Only safe when the scope's RESULT is
    * fully consumed inside the scope — a localCheckpoint is
    * non-replayable, so a frame escaping the scope cannot be
    * collected again. */
  def scope[T](s: SparkSession)(body: => T): T = {
    val before = pins.keys(s).toSet
    try body finally pins.release(s, rdd => !before(rdd))
  }

  /** Release the checkpoint RDD registered for `df`, a frame [[pin]]
    * returned, once nothing will read it again: an iterative loop calls
    * it on round r as soon as round r + 1 is materialized, so a loop
    * holds only the rounds its result reads instead of every round
    * until [[clear]]. (`Dataset.unpersist` cannot do this: it is a
    * no-op on a checkpointed frame.) A frame that was not pinned here —
    * a reliable checkpoint, or any other plan — is left alone.
    *
    * Not for [[pinLazy]] frames: nothing of a lazy chain is computed
    * until the consumer's action, which reads every pinned round, so
    * those pins (Bfs's rounds) must live until that action has run. */
  def unpin(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: LogicalRDD => pins.release(df.sparkSession, _ eq lr.rdd)
    case _ =>
  }

  /** Unpersist every checkpoint RDD registered on behalf of `s`. */
  def clear(s: SparkSession): Unit = pins.release(s)
}
