package graft.perfbench

import org.apache.spark.sql.Row

/** Output checks shared by the workloads; each returns the failure, if any. */
object Checks {

  /** SHA-256 over every activity's 33 rolling maxima rounded to 6 places
    * (null kept as null), in activity-id order. */
  def maximaDigest(maxima: Seq[(Long, Row)]): String = {
    val sb = new StringBuilder
    maxima.sortBy(_._1).foreach { case (id, m) =>
      sb.append(id)
      (0 until m.length).foreach { i =>
        sb.append(',')
        if (m.isNullAt(i)) sb.append("null")
        else sb.append(BigDecimal(m.getDouble(i)).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toString)
      }
      sb.append('\n')
    }
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(sb.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Share of planted (original, copy) pairs of which at most one document survives. */
  def pairRecall(pairs: Seq[(Long, Long)], kept: Set[Long]): Double =
    pairs.count { case (a, b) => !(kept(a) && kept(b)) }.toDouble / pairs.size

  /** A keep-list is wrong if it lost a document that no planted group
    * allows it to drop: unrelated documents and group canonicals stay. */
  def dedupFailure(docs: Long, kept: Set[Long], droppable: Set[Long]): Option[String] = {
    val lost = (0L until docs).filterNot(kept).filterNot(droppable)
    if (lost.nonEmpty) Some(s"${lost.size} documents dropped outside planted groups, e.g. ${lost.take(5).mkString(",")}")
    else if (kept.exists(id => id < 0 || id >= docs)) Some("keep-list holds ids that are not documents")
    else None
  }

  /** Quality figures repeat exactly for one input: a change means an unstable result. */
  def sameAsFirst[T](what: String, first: Option[T], now: T): Option[String] =
    first.filter(_ != now).map(f => s"$what $now differs from the first run's $f")
}
