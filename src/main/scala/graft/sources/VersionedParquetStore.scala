package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.UserStore

/** Transactional whole-doc upsert (K2) on plain parquet — the
  * production shape of the reference's `doc_ref.set` overwrite
  * (firebase_functions.py:54-60) without a table-format dependency.
  *
  * Layout: immutable snapshot directories plus one pointer file,
  * ```
  *   root/_CURRENT      -> "v-00000042"
  *   root/v-00000042/   (parquet snapshot, never mutated)
  * ```
  * A merge writes the NEXT snapshot directory in full, then swaps the
  * pointer via write-temp + atomic rename. Readers resolve the pointer
  * once and only ever see a complete snapshot — there is no window
  * where a reader observes a half-written table (the recompute/
  * overwrite it replaces had exactly that window). Concurrent writers
  * are handled optimistically: the pointer is re-read before the swap
  * and a concurrent bump fails the commit loudly, leaving the winner's
  * snapshot intact (the orphaned directory is garbage, never visible).
  *
  * Scale: the users dimension is small, but nothing here is
  * size-bound — snapshots are written distributed, and the only
  * driver-side work is two pointer reads and a rename.
  */
object VersionedParquetStore {

  private val POINTER = "_CURRENT"

  /** Optional per-snapshot file: newline-separated ABSOLUTE paths of
    * partition directories carried forward BY REFERENCE from older
    * snapshots (the Iceberg-manifest idea at directory granularity).
    * Written by [[graft.operators.Compaction.applyPlanIncremental]]
    * so a selective rewrite can re-bucket only fragmented regions
    * while cold regions keep their physical files — at 100 TB a
    * compaction that rewrites every byte of the table is the
    * scale-killer the manifest exists to avoid. References are
    * FLATTENED at write time (a carried dir is the resolved physical
    * path, which may itself live two snapshots back), so reads and
    * [[vacuum]] never recurse. Leading-underscore names are invisible
    * to the parquet reader, so a manifest never perturbs a plain
    * directory read. */
  private val MANIFEST = "_MANIFEST"

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Memoized INFERRED SCHEMA per (session, read target) — round 17.
    * Snapshot directories are immutable after the pointer swap (the
    * store's core contract; time travel and manifest references rely
    * on it), so their merged parquet schema is fixed at commit time —
    * exactly the metadata a real table format (Iceberg/Delta) writes
    * into its manifest so readers never re-derive it. Spark's
    * mergeSchema inference is a one-task-PER-FILE job per read call
    * (e18's 363-bucket snapshot paid two 363-task footer sweeps per
    * compaction); with the memo each distinct (basePath, dir set) is
    * inferred once per session and later reads supply the schema
    * explicitly (per-file missing columns still null-pad — explicit
    * schema is how mergeSchema behaves post-inference). No DATA is
    * cached and every read still scans the files. A
    * [[graft.SessionArtifact]], dropped by `SparkEntry.clearCaches`. */
  private val snapSchemas = graft.SessionArtifact.memo[String,
    org.apache.spark.sql.types.StructType]("snapshotSchema",
    graft.SessionArtifact.Kind.metadata)

  /** mergeSchema parquet read of immutable snapshot dirs with the
    * inference memoized (scaladoc above). The FIRST read of a target
    * is byte-for-byte the original mergeSchema read (one listing, one
    * footer-sweep inference) and its already-resolved schema is
    * recorded for free; only REPEAT reads supply the schema
    * explicitly and skip the footer sweep — so a fresh-path read
    * never pays an extra listing for a memo it cannot hit (the first
    * cut pre-inferred on miss and cost e18 one extra 363-dir listing
    * per call). */
  private def readParquetCached(spark: SparkSession,
                                basePath: Option[String],
                                dirs: Seq[String]): DataFrame = {
    val key = basePath.getOrElse("") + "|" + dirs.sorted.mkString("|")
    snapSchemas.get(spark, key) match {
      case Some(schema) =>
        val r = spark.read.schema(schema)
        basePath.fold(r)(b => r.option("basePath", b)).parquet(dirs: _*)
      case None =>
        val r = spark.read.option("mergeSchema", "true")
        val df = basePath.fold(r)(b => r.option("basePath", b))
          .parquet(dirs: _*)
        snapSchemas.getOrElseUpdate(spark, key)(df.schema)
        df
    }
  }

  private def readPointer(f: FileSystem, root: String): Option[String] = {
    val p = new Path(root, POINTER)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val b = new Array[Byte](256)
        var n = in.read(b)
        while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
        Some(new String(buf.toByteArray, StandardCharsets.UTF_8).trim)
      } finally in.close()
    }
  }

  private def readLines(f: FileSystem, p: Path): Seq[String] = {
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val b = new Array[Byte](4096)
      var n = in.read(b)
      while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
      new String(buf.toByteArray, StandardCharsets.UTF_8)
        .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    } finally in.close()
  }

  /** Carried-forward partition-dir paths of snapshot `version` (empty
    * when the snapshot has no manifest — the common, fully-physical
    * case). */
  def manifestRefs(spark: SparkSession, root: String,
                   version: String): Seq[String] = {
    val f = fs(spark, root)
    val p = new Path(new Path(root, version), MANIFEST)
    if (!f.exists(p)) Seq.empty else readLines(f, p)
  }

  /** Write `refs` as snapshot dir `snapDir`'s manifest — called by the
    * snapshot WRITER inside [[commitSnapshot]]'s write callback, so
    * the manifest is in place before the pointer ever swaps. */
  def writeManifest(spark: SparkSession, snapDir: String,
                    refs: Seq[String]): Unit = {
    val p = new Path(snapDir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(p) // a snapshot may carry EVERYTHING forward (no own data)
    val out = f.create(new Path(p, MANIFEST), true)
    try out.write(refs.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read one snapshot (own dir + any manifest references), without
    * touching the pointer. Own-dir data and each referenced dir's
    * parent snapshot get their own `basePath` so `bucket=`-style
    * partition columns are recovered identically on both sides; one
    * read per referenced PARENT dir (bounded by snapshot history
    * depth — metadata-scale), unioned by name. */
  def readSnapshot(spark: SparkSession, root: String,
                   version: String): DataFrame = {
    val snapDir = new Path(root, version)
    val refs = manifestRefs(spark, root, version)
    if (refs.isEmpty)
      readParquetCached(spark, None, Seq(snapDir.toString))
    else {
      val f = fs(spark, root)
      // own data: present unless the snapshot carried everything
      // (partition dirs, or flat part files — anything that is not a
      // _-prefixed metadata file)
      val ownDirs = f.listStatus(snapDir).toSeq
        .filter(s => s.isDirectory || !s.getPath.getName.startsWith("_"))
        .map(_.getPath.toString)
      // mergeSchema within each read + allowMissingColumns across the
      // union: an appended batch may EVOLVE the schema (x16's
      // discipline on the append path — new columns arrive, old
      // snapshots' rows null-pad), and the carried-forward dirs
      // predate the new column by construction. Inference is memoized
      // per immutable target (readParquetCached).
      val own =
        if (ownDirs.isEmpty) None
        else Some(readParquetCached(spark, Some(snapDir.toString),
          Seq(snapDir.toString)))
      val referenced = refs.groupBy(r => new Path(r).getParent.toString)
        .toSeq.sortBy(_._1)
        .map { case (parent, dirs) =>
          readParquetCached(spark, Some(parent), dirs.sorted)
        }
      (own.toSeq ++ referenced)
        .reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Current snapshot, or None before the first commit. */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    readPointer(fs(spark, root), root)
      .map(v => readSnapshot(spark, root, v))

  /** The pointer value right now — the `expected` a caller passes to
    * [[commitSnapshot]] after deriving its new snapshot from the
    * current one (the optimistic-concurrency token). */
  def currentVersion(spark: SparkSession, root: String): Option[String] =
    readPointer(fs(spark, root), root)

  /** Write-and-swap a NEW snapshot under the optimistic pointer
    * discipline, with the snapshot WRITER supplied by the caller —
    * the layout seam: [[merge]] commits a plain parquet write through
    * it, [[graft.operators.Compaction.applyPlan]] a bucket-partitioned
    * rewrite. `expected` is the pointer value the new snapshot was
    * derived from; a concurrent bump fails the commit loudly and the
    * orphaned directory is never visible. `beforeCommit` is the test
    * seam between write and swap (crash injection: the spec proves a
    * failure there leaves every reader on the old snapshot). */
  def commitSnapshot(spark: SparkSession, root: String,
                     expected: Option[String], write: String => Unit,
                     beforeCommit: () => Unit = () => ()): DataFrame = {
    val f = fs(spark, root)
    f.mkdirs(new Path(root))
    // monotonic version for humans + uuid so two racing writers never
    // collide on the directory itself — the pointer decides the winner
    val nextV = "v-%08d-%s".format(
      expected.map(_.drop(2).takeWhile(_.isDigit).toLong + 1).getOrElse(0L),
      java.util.UUID.randomUUID.toString.take(8))
    write(new Path(root, nextV).toString)

    beforeCommit() // test seam: race/crash injection between write and swap
    // optimistic commit: pointer must not have moved since we read it
    if (readPointer(f, root) != expected)
      throw new IllegalStateException(
        s"concurrent commit detected on $root — aborting pointer swap " +
          s"(snapshot $nextV left orphaned, never visible)")
    val tmp = new Path(root, s"$POINTER.tmp")
    val out = f.create(tmp, true)
    try out.write(nextV.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!f.rename(tmp, new Path(root, POINTER))) {
      // posix/HDFS rename won't replace an existing file atomically on
      // all filesystems — delete-then-rename is the portable two-step;
      // the pointer file is tiny so the non-atomic window is one inode
      // swap, and a torn read simply resolves the previous snapshot
      f.delete(new Path(root, POINTER), false)
      if (!f.rename(tmp, new Path(root, POINTER)))
        throw new IllegalStateException(s"pointer swap failed on $root")
    }
    readSnapshot(spark, root, nextV)
  }

  /** Last-write-wins merge of `updates` into the store (UserStore
    * semantics on `keyCol`), committed as a new snapshot.
    * `combine` is the merge seam: default last-write-wins upsert;
    * pass e.g. `IncrementalAgg.mergeSnapshots(_, _, key)` to commit
    * aggregate state instead of whole rows (the w14 maintenance path).
    * @return the merged snapshot as committed */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
            keyCol: String = "username",
            beforeCommit: () => Unit = () => (),
            combine: (DataFrame, DataFrame) => DataFrame =
              UserStore.upsert): DataFrame = {
    val f = fs(spark, root)
    f.mkdirs(new Path(root))
    val before = readPointer(f, root)
    val merged = read(spark, root) match {
      case Some(cur) => combine(cur, updates)
      case None      => updates
    }
    commitSnapshot(spark, root, before,
      path => merged.write.mode("errorifexists").parquet(path),
      beforeCommit)
  }

  /** Fast APPEND — the O(batch) ingest path: write ONLY the arriving
    * delta (partitioned by `partitionCol`) into the next snapshot dir
    * and carry the ENTIRE previous snapshot forward by manifest
    * reference. [[merge]] rewrites the whole merged table per commit
    * (right for keyed upserts of a dimension; an O(table) scale-killer
    * as the ingest path of a fact store) — this is the append-only
    * complement: commit cost tracks the batch, never the table, and
    * the accumulated small files are exactly what
    * [[graft.operators.Compaction.applyPlanIncremental]] exists to
    * fold back to plan (the ingest→fragment→compact lifecycle, w34).
    *
    * Contract: the store is partitioned-layout from its first commit
    * (every snapshot's own data written through `partitionBy` on the
    * same column) — a manifest reference names a partition DIR, so a
    * flat-layout previous snapshot cannot be carried. Same optimistic
    * pointer swap as every commit.
    * @return the appended snapshot as committed */
  def appendPartitioned(spark: SparkSession, root: String,
                        delta: DataFrame, partitionCol: String,
                        beforeCommit: () => Unit = () => ()): DataFrame = {
    val f = fs(spark, root)
    f.mkdirs(new Path(root))
    val before = readPointer(f, root)
    val prevDirs = before.toSeq.flatMap { v =>
      val snapDir = f.makeQualified(new Path(root, v))
      val entries = f.listStatus(snapDir).toSeq
      val own = entries
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(s"$partitionCol="))
        .map(s => f.makeQualified(s.getPath).toString)
      // ENFORCE the layout contract instead of documenting it: a prior
      // snapshot holding data outside `partitionCol=` dirs (flat part
      // files from merge(), or dirs partitioned on another column)
      // cannot be carried by reference — committing anyway would swap
      // the pointer to a snapshot containing ONLY the delta and the
      // whole table would silently vanish from the current view.
      // Underscore-prefixed names (_MANIFEST, _SUCCESS) are metadata,
      // never data.
      val foreign = entries
        .filter(s => !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith(s"$partitionCol="))
        .map(_.getPath.getName)
      if (foreign.nonEmpty)
        throw new IllegalStateException(
          s"appendPartitioned($partitionCol) on $root: previous snapshot " +
            s"$v is not $partitionCol=-partitioned (found " +
            s"${foreign.take(3).mkString(", ")}${if (foreign.size > 3) ", …" else ""}) " +
            "— carrying it by manifest reference would silently drop its " +
            "rows; use merge() or re-bucket the store first")
      own ++ manifestRefs(spark, root, v)
    }
    commitSnapshot(spark, root, before,
      path => {
        delta.write.mode("errorifexists")
          .partitionBy(partitionCol).parquet(path)
        if (prevDirs.nonEmpty)
          writeManifest(spark, path, prevDirs.distinct.sorted)
      },
      beforeCommit)
  }

  /** SHALLOW CLONE (x20 — Delta/Iceberg's zero-copy CLONE): create a
    * NEW store root whose first snapshot carries the SOURCE's current
    * snapshot entirely by manifest reference. No data file is read,
    * copied, or rewritten — the commit cost is one manifest and one
    * pointer file, regardless of table size; at 100 TB this is the
    * difference between an instant dev/test/experiment fork and a
    * day-long copy job. The clone then evolves independently: its own
    * appends/merges/compactions write under its own root and the
    * source never sees them (copy-on-write at snapshot granularity);
    * conversely later source commits never move the clone (it is
    * pinned to the snapshot it cloned).
    *
    * HAZARD — the documented shallow-clone contract every format
    * shares (Delta's shallow clone, Iceberg snapshot refs): the
    * clone's manifest references PHYSICAL paths under the SOURCE
    * root, and [[vacuum]]'s referenced-snapshot exemption only scans
    * manifests under its OWN root — a vacuum on the source cannot see
    * the clone and may collect the shared files (CloneSpec pins
    * exactly this). Operate clones within the source's retention
    * window, or materialize first (a full-rewrite compaction on the
    * clone replaces every reference with clone-owned files).
    * @return the clone's first snapshot as committed */
  def shallowClone(spark: SparkSession, sourceRoot: String,
                   cloneRoot: String): DataFrame = {
    val f = fs(spark, sourceRoot)
    val v = readPointer(f, sourceRoot).getOrElse(
      throw new IllegalStateException(s"nothing to clone under $sourceRoot"))
    val snapDir = f.makeQualified(new Path(sourceRoot, v))
    // the source snapshot's own data entries (partition dirs of a
    // bucketed layout, or bare part files of a flat one) ...
    val own = f.listStatus(snapDir).toSeq
      .filter(s => s.isDirectory || !s.getPath.getName.startsWith("_"))
      .map(s => f.makeQualified(s.getPath).toString)
    // ... plus everything it already carries by reference — FLATTENED
    // at clone time, same as every manifest writer (no chains: reads
    // and vacuum stay one-hop)
    val refs = (own ++ manifestRefs(spark, sourceRoot, v)).distinct.sorted
    readPointer(fs(spark, cloneRoot), cloneRoot).foreach(p =>
      throw new IllegalStateException(
        s"clone target $cloneRoot already has snapshot $p"))
    commitSnapshot(spark, cloneRoot, None,
      path => writeManifest(spark, path, refs))
  }

  /** MATERIALIZE — the shallow-clone hazard's remedy (Delta's "clone
    * deep" run after the fact): rewrite the CURRENT snapshot's rows
    * into store-owned physical files (partitioned on `partitionCol`,
    * no manifest), so nothing under this root references another
    * root's files any more and the source's GC schedule stops
    * mattering. Costs one full read+write of the live table — the
    * price of independence, paid once and only when chosen (contrast
    * [[shallowClone]]'s free fork). Same optimistic snapshot-swap;
    * readers stay on the referencing snapshot until the pointer
    * moves. */
  def materialize(spark: SparkSession, root: String,
                  partitionCol: String): DataFrame = {
    val before = readPointer(fs(spark, root), root).getOrElse(
      throw new IllegalStateException(s"nothing to materialize under $root"))
    val cur = readSnapshot(spark, root, before)
    commitSnapshot(spark, root, Some(before),
      path => cur.write.mode("errorifexists")
        .partitionBy(partitionCol).parquet(path))
  }

  /** A snapshot's physical storage units: its own data entries
    * (partition dirs of a bucketed layout, or bare part files of a
    * flat one) plus everything its manifest carries by reference —
    * the same resolution [[readSnapshot]] and [[shallowClone]] use,
    * exposed as a set so version-to-version file arithmetic
    * ([[changefeed]]) stays metadata-only. */
  private def unitDirs(spark: SparkSession, root: String,
                       version: String): Seq[String] = {
    val f = fs(spark, root)
    val snapDir = f.makeQualified(new Path(root, version))
    if (!f.exists(snapDir))
      throw new IllegalArgumentException(
        s"no snapshot $version under $root")
    val own = f.listStatus(snapDir).toSeq
      .filter(s => s.isDirectory || !s.getPath.getName.startsWith("_"))
      .map(s => f.makeQualified(s.getPath).toString)
    (own ++ manifestRefs(spark, root, version)).distinct
  }

  /** CHANGEFEED (the append-only case of Delta CDF / Iceberg
    * incremental reads): the rows ADDED between `fromVersion`
    * (exclusive) and `toVersion` (inclusive), resolved purely from
    * snapshot METADATA — the consumer's scan touches only the delta
    * files, never the base table. A snapshot's physical units are its
    * own data dirs plus manifest references; the feed is exactly the
    * to-units absent from the from-units, each group read under its
    * parent's basePath so partition columns recover identically to
    * [[readSnapshot]].
    *
    * Precondition (CHECKED, not documented): the store must have
    * evolved append-only between the two versions — every from-unit
    * still a to-unit. A compaction / [[materialize]] / [[merge]]
    * rewrites surviving rows into new files, making "what changed"
    * unanswerable by file arithmetic; re-emitting the whole rewritten
    * table as if it were fresh rows would silently poison every
    * incremental consumer downstream, so the feed refuses loudly and
    * the caller falls back to a snapshot diff (or replays from the
    * last pre-rewrite cursor).
    *
    * Scale: this is THE incremental-consumer contract at 100 TB — a
    * nightly dedup/index/quality job pays O(ingested batch), not
    * O(corpus). Cost here is two manifest reads and one listStatus
    * per version; no data file is opened that does not hold feed
    * rows. */
  def changefeed(spark: SparkSession, root: String,
                 fromVersion: String, toVersion: String): DataFrame = {
    val from = unitDirs(spark, root, fromVersion).toSet
    val to = unitDirs(spark, root, toVersion)
    val rewritten = from -- to.toSet
    if (rewritten.nonEmpty)
      throw new IllegalStateException(
        s"changefeed($fromVersion -> $toVersion) on $root: " +
          s"${rewritten.size} storage unit(s) of $fromVersion are no " +
          s"longer referenced by $toVersion (e.g. ${rewritten.head}) — " +
          "the store was rewritten (compaction/materialize/merge) " +
          "between the versions, so added rows cannot be recovered by " +
          "file arithmetic; replay from a snapshot diff instead")
    val fresh = to.filterNot(from)
    if (fresh.isEmpty)
      return readSnapshot(spark, root, toVersion).limit(0)
    fresh.groupBy(r => new Path(r).getParent.toString)
      .toSeq.sortBy(_._1)
      .map { case (parent, dirs) =>
        spark.read.option("basePath", parent)
          .option("mergeSchema", "true").parquet(dirs.sorted: _*)
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Snapshot EXPIRY — the retention/GC half of the snapshot
    * lifecycle (every snapshot table format ships it; cf. Iceberg's
    * expire_snapshots): delete every snapshot directory outside the
    * `keep` most recent by version name, the current pointer target
    * always among the survivors. Uncommitted orphans (directories a
    * losing concurrent writer left behind — by construction never
    * referenced by the pointer) age out of the window like any
    * snapshot; names are the only evidence of commit status, so an
    * orphan inside the window survives at most until `keep` further
    * commits push it out. The pointer file is untouched, so readers
    * are unaffected: expiry only narrows time travel, never the
    * present.
    *
    * Safety: the pointer is read FIRST and its target is exempted
    * unconditionally — even `keep = 0` keeps the live snapshot. A
    * writer committing concurrently can at worst leave its
    * just-written snapshot in the delete set only if it is OLDER
    * than the survivors, which the monotonic version numbering rules
    * out (a new commit is always the max version). A snapshot dir
    * REFERENCED by any survivor's manifest (incremental compaction's
    * carried-forward cold regions) is likewise exempt: deleting it
    * would tear the referencing snapshot's data out from under
    * readers. Exemption closes in ONE pass because manifests are
    * flattened at write time (no reference chains) — but belt and
    * braces, the walk iterates to a fixed point anyway so even a
    * hand-written chained manifest cannot be torn. */
  def vacuum(spark: SparkSession, root: String, keep: Int): Seq[String] = {
    require(keep >= 1, s"keep must be >= 1 (got $keep)")
    val f = fs(spark, root)
    val current = readPointer(f, root)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) return Seq.empty
    val dirs = f.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v-"))
      .map(_.getPath.getName)
    // version names sort chronologically (monotonic counter prefix);
    // survivors = the newest `keep` plus, unconditionally, the
    // pointer target, plus everything survivors reference
    var protect = dirs.sorted.takeRight(keep).toSet ++ current
    var grew = true
    while (grew) {
      val referenced = protect.toSeq
        .flatMap(v => manifestRefs(spark, root, v))
        // a reference names a partition dir INSIDE a snapshot dir;
        // the snapshot dir is its parent (under this root — foreign
        // paths, were a caller ever to write one, are not ours to keep)
        .map(r => new Path(r).getParent)
        .filter(p => p != null && p.getParent != null &&
          f.makeQualified(p.getParent) == f.makeQualified(rootPath))
        .map(_.getName)
        .filter(dirs.contains)
      val next = protect ++ referenced
      grew = next.size > protect.size
      protect = next
    }
    val doomed = dirs.filterNot(protect).sorted
    doomed.foreach(d => f.delete(new Path(root, d), true))
    doomed
  }
}
