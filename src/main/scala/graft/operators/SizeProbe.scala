package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The size probe of the adaptive local/distributed operators
  * ([[ConnectedComponents.components]], [[Bfs.hopDistances]],
  * [[Bfs.weightedDistances]]): below a row threshold they collect
  * their input and run on the driver, above it they stay distributed.
  * The probe is one bounded read of at most `t + 1` rows — never a
  * full count — and the rows it read are the local path's input, so
  * the local path reads its input once.
  *
  * Probe the input BEFORE pinning it with a lazy localCheckpoint: the
  * first action on such a pin materializes every partition, which
  * would make the probe a full read again. A persisted input is
  * probed from its cache. */
object SizeProbe {

  /** All rows of `df` when it has at most `t`, else None; reads at most
    * `t + 1` rows. */
  def collectAtMost(df: DataFrame, t: Long): Option[Array[Row]] = {
    val n = if (t >= Int.MaxValue - 1) Int.MaxValue else math.max(0L, t + 1).toInt
    val rows = df.take(n)
    if (rows.length <= t) Some(rows) else None
  }
}
