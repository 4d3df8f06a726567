package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A value built once per session and shared: a persisted index, a
  * checkpoint pin, a staged fixture directory, a memoized schema.
  *
  * Each artifact is one declaration — a name and a [[SessionArtifact
  * .Kind]], plus a build from (session, key) for a [[SessionArtifact
  * .Derived]] one. Every value lives in ONE registry keyed by (session,
  * artifact, key), so [[SessionArtifact.releaseAll]] releases whatever
  * a session owns and [[SessionArtifact.stage]] builds every artifact
  * declared staged; neither keeps a list of stores by hand.
  *
  * One insert path: a key's build runs at most once at a time, and a
  * concurrent caller waits for it and reuses its value, so there is
  * never a losing build left persisted with no consumer. A build that
  * throws leaves no entry and the next call builds again.
  *
  * A key is assumed to name IMMUTABLE input for the lifetime of its
  * entry: a rewritten corpus dir (or a file-source plan whose files
  * changed) needs a release before it is read again, as a production
  * materialized index would need a rebuild. */
class SessionArtifact[K, V] private (val name: String,
                                     kind: SessionArtifact.Kind[V]) {
  import SessionArtifact._

  /** The value for (s, key), running `build` if there is none. */
  def getOrElseUpdate(s: SparkSession, key: K)(build: => V): V = {
    val k = (s, this, key)
    var out: Option[V] = None
    while (out.isEmpty) {
      val cell = entries.getOrElseUpdate(k, new Cell)
      cell.synchronized {
        if (!cell.dead) {
          if (cell.value.isEmpty) {
            try cell.value = Some(build)
            catch {
              case e: Throwable =>
                cell.dead = true
                entries.remove(k, cell)
                throw e
            }
          }
          out = cell.value.asInstanceOf[Option[V]]
        }
      } // a dead cell was released or failed meanwhile: look up again
    }
    out.get
  }

  /** The value for (s, key) if one is built; never builds. */
  def get(s: SparkSession, key: K): Option[V] =
    entries.get((s, this, key))
      .flatMap(c => c.synchronized(c.value.asInstanceOf[Option[V]]))

  /** The keys `s` holds entries for. */
  def keys(s: SparkSession): Seq[K] =
    entries.keys.collect { case (o, a, k) if (o eq s) && (a eq this) =>
      k.asInstanceOf[K] }.toSeq

  /** Release and remove the entries of `s` whose key passes `which`. */
  def release(s: SparkSession, which: K => Boolean = (_: K) => true): Unit =
    releaseWhere { case (o, a, k) =>
      (o eq s) && (a eq this) && which(k.asInstanceOf[K]) }

  private[SessionArtifact] def releaseValue(v: Any): Unit =
    kind.release(v.asInstanceOf[V])

  private[SessionArtifact] def materialize(v: Any): Unit =
    kind.materialize(v.asInstanceOf[V])
}

object SessionArtifact {

  /** How a value is made ready for staging, and how it is released. */
  final class Kind[-V](val materialize: V => Unit, val release: V => Unit)

  object Kind {
    /** Persisted frames: counted to stage, unpersisted to release. */
    def frames[V](of: V => Seq[DataFrame]): Kind[V] =
      new Kind[V](v => of(v).foreach(_.count()),
        v => of(v).foreach(_.unpersist(blocking = false)))
    val frame: Kind[DataFrame] = frames(Seq(_))
    val framePair: Kind[(DataFrame, DataFrame)] = frames(p => Seq(p._1, p._2))
    /** An RDD-level persist (a localCheckpoint): `Dataset.unpersist`
      * would be a silent no-op on it. */
    val rdd: Kind[RDD[_]] =
      new Kind[RDD[_]](_ => (), _.unpersist(blocking = false))
    /** A driver-built index whose build already ran every job. */
    def broadcasts[V](of: V => Seq[Broadcast[_]]): Kind[V] =
      new Kind[V](_ => (), v => of(v).foreach(_.destroy()))
    val directory: Kind[String] =
      new Kind[String](_ => (), p => rmTree(new java.io.File(p)))
    /** Driver-side metadata: dropping the entry is the whole release. */
    val metadata: Kind[Any] = new Kind[Any](_ => (), _ => ())
  }

  /** An artifact derived from (session, key) alone: callers use it like
    * the accessor it replaces, and staging can build it. */
  final class Derived[K, V] private[SessionArtifact] (
      name: String, kind: Kind[V], build: (SparkSession, K) => V)
      extends SessionArtifact[K, V](name, kind) {
    def apply(s: SparkSession, key: K): V = getOrElseUpdate(s, key)(build(s, key))
    private[SessionArtifact] def stage(s: SparkSession, key: K): Unit =
      materialize(apply(s, key))
  }

  def apply[K, V](name: String, kind: Kind[V])
                 (build: (SparkSession, K) => V): Derived[K, V] =
    new Derived(name, kind, build)

  /** An artifact whose values are made by its callers. */
  def memo[K, V](name: String, kind: Kind[V]): SessionArtifact[K, V] =
    new SessionArtifact(name, kind)

  /** A per-corpus artifact that [[stage]] builds untimed. */
  def staged[V](name: String, kind: Kind[V])
               (build: (SparkSession, String) => V): Derived[String, V] = {
    val a = apply(name, kind)(build)
    stagedArtifacts.add(a)
    a
  }

  /** A staged per-corpus temp directory filled by `seed(s, dir, tmp)`;
    * a seed that throws deletes its directory before the error
    * propagates, so a failed build leaves nothing on disk. */
  def stagedDir(name: String)
               (seed: (SparkSession, String, String) => Unit): Derived[String, String] =
    staged(name, Kind.directory) { (s, dir) =>
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft-$name-staged").toString
      try { seed(s, dir, tmp); tmp }
      catch { case e: Throwable => rmTree(new java.io.File(tmp)); throw e }
    }

  private final class Cell {
    var value: Option[Any] = None // guarded by this
    var dead = false              // guarded by this
  }

  private type Key = (SparkSession, SessionArtifact[_, _], Any)

  private val entries = TrieMap.empty[Key, Cell]

  private val stagedArtifacts =
    new java.util.concurrent.CopyOnWriteArrayList[Derived[String, _]]()

  private def releaseWhere(p: Key => Boolean): Unit =
    entries.toSeq.foreach { case (k, cell) =>
      if (p(k) && entries.remove(k, cell)) cell.synchronized {
        cell.dead = true
        cell.value.foreach(k._2.releaseValue)
        cell.value = None
      }
    }

  /** Build and materialize every staged artifact for corpus `dir`, in
    * declaration order. */
  def stage(s: SparkSession, dir: String): Unit =
    stagedArtifacts.forEach(_.stage(s, dir))

  /** Release and remove every entry `s` owns. */
  def releaseAll(s: SparkSession): Unit = releaseWhere(_._1 eq s)

  /** The names of the staged artifacts, in staging order. */
  def stagedNames: Seq[String] =
    stagedArtifacts.toArray(Array.empty[Derived[String, _]]).toSeq.map(_.name)

  /** (artifact name, value) of every built entry `s` owns. */
  def held(s: SparkSession): Seq[(String, Any)] =
    entries.toSeq.collect { case ((o, a, _), c) if o eq s => (a.name, c) }
      .flatMap { case (n, c) => c.synchronized(c.value).map(n -> _) }

  /** Recursive temp-dir delete shared by the directory kind and every
    * roundtrip/staging gate (x9/x12/w20/...): one definition, so a
    * future fix (symlinks, delete logging) lands once. */
  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree)); f.delete()
  }
}
