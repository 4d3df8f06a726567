package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

import graft.SessionArtifact

/** Global total-order ranking WITHOUT the single-partition window.
  *
  * `ROW_NUMBER() OVER (ORDER BY ...)` with no PARTITION BY compiles to a
  * window over ONE partition: at 100 TB, every row funnels through a
  * single task and the job never finishes. Curriculum ordering of a
  * training corpus ("sort all documents by quality score and number
  * them") is exactly this shape, so it needs the scalable formulation:
  *
  *  1. `repartitionByRange(sortCols)` — the same range exchange any
  *     global ORDER BY performs; partition i holds keys strictly below
  *     partition i+1;
  *  2. per-partition row counts — a tiny aggregate over the sorted data
  *     (`spark_partition_id` groupBy), collected to the driver: ONE row
  *     per partition, a documented bounded scalar like the watermark
  *     reads;
  *  3. the prefix sum of those counts broadcast as per-partition rank
  *     offsets;
  *  4. a per-partition local row number + offset via `mapPartitions` —
  *     no further shuffle; rank i in partition p is `offset(p) + i`.
  *
  * The sorted input is persisted (MEMORY_AND_DISK) so steps 2 and 4
  * share one sort instead of re-shuffling the corpus twice; the handle
  * is a [[graft.SessionArtifact]] entry, released by [[clear]] or
  * `SparkEntry.clearCaches` — the dedup signature index's lifecycle.
  *
  * Determinism: like ROW_NUMBER over a non-unique ORDER BY, ties take
  * arbitrary order — callers wanting reproducible output must include a
  * unique tiebreaker in `sortCols` (every gate query does).
  */
object GlobalRank {

  /** Memoized (ranked result, pinned sorted input), keyed by
    * (canonicalized input PLAN OBJECT, sort + partitioning + column
    * name) per session — repeated identical calls (a bench best-of-3,
    * a retried job) reuse ONE pinned sorted copy instead of
    * accumulating duplicates, and two racing first calls build it
    * once. The plan object itself is the key (Catalyst plans are case
    * classes — deep structural equality, LocalRelation data
    * included), NOT its toString/hashCode: toString elides large local
    * data and a hashCode composite can collide, either of which would
    * hand a cached ranking to a DIFFERENT input. Memo lifetime is
    * until [[clear]] or `SparkEntry.clearCaches`: file-source plans
    * canonicalize by ROOT PATH (not file listing), so a path whose
    * files change mid-session must clear() before re-ranking. */
  private val ranks = SessionArtifact.memo[(LogicalPlan, String),
    (DataFrame, DataFrame)]("globalRank",
    SessionArtifact.Kind.frames(p => Seq(p._2)))

  /** Unpersist every sorted input pinned on behalf of `s`. */
  def clear(s: SparkSession): Unit = ranks.release(s)

  /** `df` plus a 1-based global row number `rankCol` under the total
    * order `sortCols`. `numPartitions` defaults to the session's
    * shuffle parallelism. */
  def withGlobalRank(df: DataFrame, rankCol: String, sortCols: Seq[Column],
      numPartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val parts = numPartitions.getOrElse(
      spark.sessionState.conf.numShufflePartitions)
    // keyed on the canonicalized plan OBJECT (structural case-class
    // equality — covers LocalRelation data exactly); only the sort
    // expressions ride along as strings, and those print fully
    val canon = df.queryExecution.logical.canonicalized
    ranks.getOrElseUpdate(spark,
        (canon, sortCols.mkString(",") + "|" + parts + "|" + rankCol))(
      computeRank(df, rankCol, sortCols, parts))._1
  }

  /** (ranked result, the persisted sorted input it reads). */
  private def computeRank(df: DataFrame, rankCol: String,
      sortCols: Seq[Column], parts: Int): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // one row per partition: (pid, count) — empty partitions are absent
    // (a failed pass unpins here: the copy is not registered yet)
    val counts = try sorted.groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    catch { case e: Throwable => sorted.unpersist(); throw e }
    val offsets = new Array[Long](parts)
    var acc = 0L
    for (p <- 0 until parts) {
      offsets(p) = acc
      acc += counts.getOrElse(p, 0L)
    }
    val bcOffsets = spark.sparkContext.broadcast(offsets)

    val outSchema = sorted.schema.add(rankCol, LongType, nullable = false)
    // mapPartitionsWithIndex, NOT Dataset.mapPartitions +
    // TaskContext.getPartitionId(): the task's partition id is a STAGE
    // index, and when a downstream plan fuses this pipeline into a
    // union (or coalesce) without an intervening exchange, the second
    // union leg's tasks carry ids offset by the first leg's partition
    // count — the offset lookup then reads past the array (observed:
    // a no-shuffle broadcast-join output unioned doc_a/doc_b legs;
    // ids parts..2*parts-1 inside THIS lambda). The RDD partition
    // index is stable under any downstream composition.
    val ranked = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val off = bcOffsets.value(pid)
      var i = 0L
      it.map { r =>
        i += 1
        Row.fromSeq(r.toSeq :+ (off + i))
      }
    }
    (spark.createDataFrame(ranked, outSchema), sorted)
  }
}
