package graft.ops

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic publish for persisted-index maintenance (the storage layer under
  * Search/Similarity/Corpus/Dedup's delete and compaction paths).
  *
  * A maintenance rewrite must never leave a window where a crash loses the
  * live data. The earlier design (delete live dir, rename staging in) had
  * exactly that window, so this is a VERSIONED layout with a pointer flip:
  *
  * {{{
  *   root/
  *     _current        # small text file naming the live version, "v00000002"
  *     v00000001/      # a previous version (GC'd after the flip)
  *     v00000002/      # the live data files
  * }}}
  *
  * [[publishRewrite]] writes the new contents into a fresh `v<n+1>/`
  * directory, then flips `_current` with a single overwrite-rename
  * (`FileContext.rename(..., Options.Rename.OVERWRITE)` — atomic on POSIX
  * filesystems and HDFS; on raw object stores an HDFS-compatible metadata
  * layer is assumed, the standard caveat), then garbage-collects stale
  * versions — except the previously-live one, which the pointer's second
  * line names and which survives one publish cycle so an in-flight scan
  * that resolved just before the flip still finds its files. Each crash
  * window is now safe:
  *
  *  - crash while writing the new version → `_current` untouched, the old
  *    version serves; the orphan directory is GC'd by the next publish;
  *  - crash between the pointer-tmp write and the rename → same;
  *  - crash after the flip, before GC → new version serves, stale files
  *    linger harmlessly until the next publish sweeps them.
  *
  * [[resolve]] is the read-side half: index readers resolve `root` to the
  * live data directory before every scan. Every index component is born
  * versioned — builders publish through [[rebuild]] and
  * [[publishRebuild]], stream-born shells through [[ensureVersioned]] —
  * so the only roots without a `_current` are an index root's
  * `tombstones/` table and components not built yet; they resolve to
  * themselves.
  *
  * Single-writer contract: an index ROOT has one writer lease,
  * [[withWriterLease]], and it is the only one. It hands its body a
  * [[Lease]] value, and every function here that writes under the root
  * (the publishes, pins, restores, vacuum, sweep, tombstone reset and
  * ledger fold) takes that value instead of a session, requires its
  * directory to be under the lease root. A lease is not re-entrant: a
  * second acquire of a root this JVM holds fails like any concurrent
  * maintenance op. Work a lease holder dispatches to other threads
  * ([[Par]]) carries the lease with it. In-flight lazy scans of a version
  * that a later publish GC'd fail like any scan of compacted-away files.
  *
  * Commit fencing has one check, [[claimCommit]]: re-read the root's
  * lock, then create the commit's claim file exclusively with the
  * lease's token. A ledger commit's claim is its marker
  * (`_ledger/batch-<n>`, `_ledger/op-<id>`); a pointer flip's is
  * `_fence/flip-<dir>-<version>` under the root, deleted together with
  * its version, so `_fence/` names only versions that exist.
  */
object Stage {

  private val VersionRe = "v\\d{8}".r
  private val BatchMarkerRe = "batch-(\\d+)".r
  private val HighMarkerRe = "high-(\\d+)".r
  private val BatchFileRe = "b(\\d+)-.*".r
  private val OpFileRe = "o([A-Za-z0-9_]+)-.*".r
  private val OpMarkerRe = "op-([A-Za-z0-9_]+)".r

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read a small metadata file (lock, pointer, marker, pin) fully as
    * trimmed UTF-8 — the ONE read shape every metadata consumer shares;
    * callers keep their own absence/error semantics. */
  private def readUtf8(fs: FileSystem, f: Path): String = {
    val in = fs.open(f)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** [[readUtf8]] split into trimmed non-empty lines. */
  private def readTrimmedLines(fs: FileSystem, f: Path): List[String] = {
    val in = fs.open(f)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Max batch id a listed ledger certifies as published: `high-<n>`
    * markers always count; raw `batch-<n>` markers only when
    * `includeBatch` (the [[compactLedger]] fold); −1 when none. The ONE
    * encoding of the ledger invariant "id ≤ high ⇒ published" — the
    * sweep, the replay check, and the fold must never disagree on it. */
  private def highWaterIn(names: Iterable[String],
                          includeBatch: Boolean): Long =
    names.foldLeft(-1L) {
      case (acc, HighMarkerRe(n))                  => math.max(acc, n.toLong)
      case (acc, BatchMarkerRe(n)) if includeBatch => math.max(acc, n.toLong)
      case (acc, _)                                => acc
    }

  /** The pointer file's lines: the live version first, then (after a
    * second publish) the previously-live version — which [[gcStale]]
    * keeps for one publish cycle so in-flight scans that resolved just
    * before a flip still find their files. Orphan versions of crashed
    * publishes are named by neither line and are swept immediately.
    */
  private def pointerLines(fs: FileSystem, rootPath: Path): Seq[String] = {
    val pointer = new Path(rootPath, "_current")
    if (!fs.exists(pointer)) Nil
    else {
      val lines = readTrimmedLines(fs, pointer)
      require(lines.nonEmpty && lines.forall(VersionRe.matches),
        s"$pointer names ${lines.mkString(",")}, not version directories")
      lines
    }
  }

  /** The live data directory for `root`: `root/<version>` when a
    * `_current` pointer exists, `root` itself otherwise (the
    * `tombstones/` table, or a component not built yet).
    */
  def resolve(spark: SparkSession, root: String): String = {
    val rootPath = new Path(root)
    pointerLines(fsFor(spark, rootPath), rootPath).headOption
      .map(v => new Path(rootPath, v).toString).getOrElse(root)
  }

  /** The previously-live data directory of `root` — the version the
    * pointer's second line names, which [[gcStale]] spares for exactly
    * one publish cycle. None when the last publish was a rebuild (or
    * the root has no pointer). This is the read half of
    * TIME-TRAVEL serving: a maintenance op (delete, compaction) can be
    * validated by serving the pre-op snapshot next to the live one and
    * diffing, without any extra storage — the grace version already
    * exists for in-flight readers. The snapshot's lifetime is one
    * publish cycle: the NEXT maintenance op garbage-collects it, so
    * previous-serving is a validation window, not an archive (retention
    * beyond one cycle belongs to [[snapshot]]).
    */
  def resolvePrevious(spark: SparkSession, root: String): Option[String] = {
    val rootPath = new Path(root)
    pointerLines(fsFor(spark, rootPath), rootPath).drop(1).headOption
      .map(v => new Path(rootPath, v).toString)
  }

  /** Atomically replace the contents of `root`, a directory under the
    * lease root: `write` receives a fresh version directory to populate,
    * and only after it returns is the `_current` pointer flipped there.
    * If `write` throws, the pointer is untouched and the old contents
    * keep serving.
    */
  def publishRewrite(lease: Lease, root: String)
                    (write: String => Unit): Unit =
    publishImpl(lease, root, grace = true)(write)

  /** The common case: replace a directory's contents with a DataFrame.
    * The plan may read from the directory being replaced — it scans the
    * old version while the new one is written next to it.
    */
  def publishRewrite(lease: Lease, root: String, df: DataFrame): Unit =
    publishRewrite(lease, root)(versionDir =>
      df.write.mode("overwrite").parquet(versionDir))

  /** [[publishRewrite]] for REBUILDS — the pointer flips with NO previous
    * line, so the superseded state gets no one-cycle reader grace and is
    * GC'd with this publish. Within one corpus that grace is a feature
    * (in-flight scans finish; [[resolvePrevious]] time-travel); across a
    * REBUILD it is a hazard: the old corpus's data would survive as "the
    * previous version" next to the new build's metadata, and a
    * previous-serving read immediately after the rebuild would silently
    * pair OLD data with NEW parameters (the IVF case: old-corpus lists
    * dequantized with the new quantScale/centroids). Every directory a
    * builder writes inside [[rebuild]] publishes through this, so
    * `resolvePrevious` fails loudly until the first POST-rebuild
    * maintenance op establishes a same-corpus history.
    */
  def publishRebuild(lease: Lease, root: String)
                    (write: String => Unit): Unit =
    publishImpl(lease, root, grace = false)(write)

  /** [[publishRebuild]] with a DataFrame. */
  def publishRebuild(lease: Lease, root: String, df: DataFrame): Unit =
    publishRebuild(lease, root)(versionDir =>
      df.write.mode("overwrite").parquet(versionDir))

  private def publishImpl(lease: Lease, root: String, grace: Boolean)
                         (write: String => Unit): Unit = {
    val (rootPath, fs) = lease.dir(root)
    fs.mkdirs(rootPath)
    val existing = fs.listStatus(rootPath).map(_.getPath.getName)
    val next = existing.filter(VersionRe.matches)
      .map(_.drop(1).toInt).foldLeft(0)(math.max) + 1
    val version = f"v$next%08d"
    val versionPath = new Path(rootPath, version)
    write(versionPath.toString)
    // REWRITES refuse to flip onto an UNREADABLE version: an
    // all-rows-deleted PARTITIONED rewrite writes zero files (no
    // schema for any later scan) — the old state must keep serving
    // and the caller must hear about it, not discover a dead index at
    // the next read. (A non-partitioned empty DataFrame still writes
    // one schema-carrying parquet file, so legitimate empty states
    // pass.) REBUILDS are exempt: stream-born SHELLS deliberately
    // birth an empty partitioned component (graceless, before the
    // first exactly-once batch lands files into it) — there is no
    // previous state a flip could strand.
    if (grace &&
        (!fs.exists(versionPath) || dataEntries(fs, versionPath).isEmpty)) {
      fs.delete(versionPath, true)
      throw new IllegalStateException(
        s"publish into $root produced no data files — refusing to flip " +
          "the pointer onto an unreadable empty version (the previous " +
          "state keeps serving). If the component is genuinely empty " +
          "now, drop or rebuild it instead of publishing emptiness")
    }
    // a wrongly-reclaimed (zombie) holder must not flip the pointer over
    // the reclaimer's state — reject at the commit point. The claim names
    // the component and the version being flipped to: two contenders
    // racing one publish compute the SAME next version, so their claims
    // collide exactly when they must, and sibling components' flips stay
    // apart in the root's `_fence/`.
    lease.claim(flipFence(lease.root, rootPath, version))
    flipPointer(lease.spark, fs, rootPath, version, grace)
    gcStale(lease, fs, rootPath)
  }

  /** The claim of a flip of `dir` onto `version`: a file under the lease
    * root's `_fence/` that lives exactly as long as the version does
    * ([[gcStale]] deletes it with the version). */
  private[graft] def flipFence(root: String, dir: Path, version: String): Path =
    new Path(new Path(root, "_fence"), s"flip-${dir.getName}-$version")

  /** Make a component root with no pointer a versioned layout: an empty
    * `v00000001` data directory plus the pointer, with no previous line.
    * This is how STREAM-BORN indexes come into being (the staged commit
    * of [[appendExactlyOnce]] / [[publishOnce]] calls it before its
    * first publish into a fresh component), so the first exactly-once
    * batch lands inside a version and [[snapshot]] pins work from birth,
    * as they do for the batch-built families. A no-op on roots that
    * already have a pointer.
    */
  def ensureVersioned(spark: SparkSession, dir: String): Unit = {
    val rootPath = new Path(dir)
    val fs = fsFor(spark, rootPath)
    if (pointerLines(fs, rootPath).isEmpty) {
      val version = "v00000001"
      fs.mkdirs(new Path(rootPath, version))
      writePointer(spark, fs, rootPath, version)
    }
  }

  /** Point `root/_current` at `version`; with `grace`, the
    * previously-live version rides along as the second line so GC can
    * spare it for one cycle. Without grace (rebuilds), only the new
    * version is named. */
  private def flipPointer(spark: SparkSession, fs: FileSystem,
                          rootPath: Path, version: String,
                          grace: Boolean): Unit = {
    val previous =
      if (grace) pointerLines(fs, rootPath).headOption else None
    writePointer(spark, fs, rootPath, version, previous)
  }

  private def writePointer(spark: SparkSession, fs: FileSystem,
                           rootPath: Path, version: String,
                           previous: Option[String] = None): Unit =
    replaceFile(spark, fs, new Path(rootPath, "_current"),
      (version +: previous.toSeq).mkString("\n"))

  /** Replace the small file `f` with `content` atomically: write a
    * `.`-prefixed tmp sibling, then `FileContext.rename(…, OVERWRITE)` —
    * atomic on POSIX filesystems and HDFS. The ONE write shape of the
    * pointer, the snapshot pins and the tombstones' `_consumed` record;
    * a reader sees the old content or the new, never a torn file. */
  private def replaceFile(spark: SparkSession, fs: FileSystem, f: Path,
                          content: String): Unit = {
    val tmp = new Path(f.getParent, s".${f.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    FileContext.getFileContext(f.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, f, Options.Rename.OVERWRITE)
  }

  /** Delete stale state under `root`: orphan versions of crashed
    * publishes and older generations. The versions the pointer names
    * (live + previously-live) survive — an in-flight scan that resolved
    * just before the flip still finds its files; the next publish sweeps
    * them — and so does every version a named snapshot pins. A deleted
    * version's flip claim goes with it, so a later publish that
    * recomputes its number (after a crashed flip's orphan is swept)
    * claims afresh instead of meeting a dead writer's fence.
    */
  private def gcStale(lease: Lease, fs: FileSystem, rootPath: Path): Unit = {
    // keep: pointer-named versions (live + one-cycle grace) PLUS any
    // version a named snapshot pins — [[snapshot]]'s whole point is
    // surviving publish cycles until dropped
    val keep = pointerLines(fs, rootPath).toSet ++
      snapshotVersions(fs, rootPath)
    fs.listStatus(rootPath).map(_.getPath)
      .filter(p => !ControlNames.contains(p.getName) && !keep.contains(p.getName))
      .foreach { p =>
        // claim first: a crash in between leaves an orphan version with
        // no claim, which the next GC sweeps, never a claim with no version
        if (VersionRe.matches(p.getName))
          fs.delete(flipFence(lease.root, rootPath, p.getName), false)
        fs.delete(p, true)
      }
  }

  /** Control entries of a versioned directory that no GC may touch: the
    * pointer, the writer lease, and the named-snapshot registry. */
  private val ControlNames = Set("_current", "_writer.lock", "_snapshots")

  private val SnapshotNameRe = "[A-Za-z0-9_][A-Za-z0-9_.-]*"

  /** Every version some `_snapshots/<name>` file pins in `rootPath`.
    * `.`-prefixed entries are in-flight tmp files of [[snapshot]]'s
    * atomic rename, never pins — a crashed one must not pin a version
    * forever. Only the FIRST line names the version; the rest is the
    * pinned file list. */
  private def snapshotVersions(fs: FileSystem, rootPath: Path): Set[String] = {
    val dir = new Path(rootPath, "_snapshots")
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).map(_.getPath)
      .filter(!_.getName.startsWith("."))
      .flatMap(p => snapshotLines(fs, p).headOption)
      .filter(VersionRe.matches)
      .toSet
  }

  private def snapshotLines(fs: FileSystem, f: Path): List[String] =
    readTrimmedLines(fs, f)

  /** Pin `dir`'s LIVE version under the name `name` — retention beyond
    * [[resolvePrevious]]'s one-cycle validation window: a pinned version
    * survives every later publish's GC until [[dropSnapshot]] releases
    * it, so an operator can hold a known-good state across a whole
    * maintenance campaign (N deletes + compactions) and diff or roll
    * analysis back to it at any point. Storage cost: the pinned
    * version's files, frozen — snapshots of an actively-rewritten index
    * accumulate full copies, which is why they are named and explicitly
    * dropped rather than automatic. Re-pinning an existing name moves it
    * (atomic overwrite-rename, like the pointer flip). Requires a
    * built component: a root with no pointer has no version to pin.
    *
    * The pin records the version's data FILE LIST, not just its name:
    * maintenance REWRITES publish fresh versions and leave the pinned
    * one untouched, but APPENDS publish new files INTO the live version
    * directory — a directory-level pin of the live version would
    * silently absorb them. Snapshot reads therefore go through
    * [[readSnapshot]]/[[resolveSnapshotFiles]], which serve exactly the
    * files present at pin time. Callers that can see the index root
    * should [[sweepUncommitted]] first ([[Family.snapshot]] does), so a
    * crashed batch's doomed partials are not pinned.
    *
    * Under the root `lease`: the pin must land while the version it read
    * is still within GC grace, and no publish or ingest batch can move
    * the component between the pointer read and the pin write.
    */
  def snapshot(lease: Lease, dir: String, name: String): Unit = {
    require(name.matches(SnapshotNameRe),
      s"snapshot name '$name' must match $SnapshotNameRe (it names a file)")
    val (rootPath, fs) = lease.dir(dir)
    val live = pointerLines(fs, rootPath).headOption.getOrElse(
      throw new IllegalStateException(
        s"$dir has no _current pointer — a snapshot pins a VERSION, and " +
          "this component has none yet; build the index first"))
    val versionDir = new Path(rootPath, live)
    def rel(d: Path, prefix: String): Seq[String] =
      dataEntries(fs, d).toSeq.flatMap { s =>
        val n = prefix + s.getPath.getName
        if (s.isDirectory) rel(s.getPath, n + "/") else Seq(n)
      }
    writePin(lease.spark, fs, rootPath, name,
      (live +: rel(versionDir, "")).mkString("\n"))
  }

  /** Write `_snapshots/<name>` ([[replaceFile]]): a re-pin or a restored
    * pin replaces the old one atomically. */
  private def writePin(spark: SparkSession, fs: FileSystem, rootPath: Path,
                       name: String, content: String): Unit = {
    val snapDir = new Path(rootPath, "_snapshots")
    fs.mkdirs(snapDir)
    replaceFile(spark, fs, new Path(snapDir, name), content)
  }

  /** The raw bytes of a pin file, or None when the name is not pinned —
    * the capture half of [[Campaign]]'s re-pin rollback: a failed
    * multi-member campaign over an EXISTING name must put back the pin
    * contents it overwrote, not drop them (dropping would destroy the
    * previous campaign's untouched pins). Read under the root `lease`,
    * which the campaign holds across read→overwrite→restore. */
  private[graft] def rawSnapshotPin(lease: Lease, dir: String,
                                    name: String): Option[String] = {
    require(name.matches(SnapshotNameRe),
      s"snapshot name '$name' must match $SnapshotNameRe (it names a file)")
    val (rootPath, fs) = lease.dir(dir)
    val f = new Path(new Path(rootPath, "_snapshots"), name)
    if (!fs.exists(f)) None
    else Some(snapshotLines(fs, f).mkString("\n"))
  }

  /** Atomically write back pin bytes captured by [[rawSnapshotPin]] —
    * the restore half of the campaign re-pin rollback, written as
    * [[snapshot]] writes a pin. The version the old
    * pin names is still on disk: the caller holds every involved root
    * lease across capture→overwrite→restore, and GC only runs inside a
    * publish under one of those leases. */
  private[graft] def restoreRawSnapshotPin(lease: Lease, dir: String,
                                           name: String,
                                           content: String): Unit = {
    require(name.matches(SnapshotNameRe),
      s"snapshot name '$name' must match $SnapshotNameRe (it names a file)")
    val (rootPath, fs) = lease.dir(dir)
    writePin(lease.spark, fs, rootPath, name, content)
  }

  /** The version directory a named snapshot pins, or None if the name
    * does not exist (never dangling: [[gcStale]] spares pinned
    * versions). Existence/introspection only — DATA reads must go
    * through [[readSnapshot]]/[[resolveSnapshotFiles]], because appends
    * publish new files into the live version directory and a pinned
    * LIVE version's directory contents can therefore grow past the pin.
    */
  def resolveSnapshot(spark: SparkSession, dir: String,
                      name: String): Option[String] =
    resolveSnapshotFiles(spark, dir, name).map(_._1)

  /** A named snapshot's (versionDir, pinned absolute file paths), or
    * None if the name does not exist. The file list is the point-in-time
    * truth — see [[snapshot]] on why a directory read is not. */
  def resolveSnapshotFiles(spark: SparkSession, dir: String, name: String)
      : Option[(String, Seq[String])] = {
    // validated on the READ side too, not just at pin time: a name
    // containing '/' or '..' would URI-resolve OUT of _snapshots —
    // dropSnapshot("../_current") would delete the live pointer, and a
    // resolve of "../_current" would misparse the pointer as a pin
    require(name.matches(SnapshotNameRe),
      s"snapshot name '$name' must match $SnapshotNameRe (it names a file)")
    val rootPath = new Path(dir)
    val fs = fsFor(spark, rootPath)
    val f = new Path(new Path(rootPath, "_snapshots"), name)
    if (!fs.exists(f)) None
    else {
      val lines = snapshotLines(fs, f)
      require(lines.nonEmpty && VersionRe.matches(lines.head),
        s"$f names '${lines.headOption.getOrElse("")}', not a version")
      val versionDir = new Path(rootPath, lines.head)
      Some((versionDir.toString,
        lines.tail.map(r => new Path(versionDir, r).toString)))
    }
  }

  /** Read a named snapshot's pinned data as a DataFrame — exactly the
    * files recorded at pin time, with Hive-partition columns inferred
    * relative to the pinned version directory (`basePath`), so
    * partitioned components ([[graft.ext.Similarity.saveIvfIndex]]'s
    * lists) read identically to a directory scan of the frozen state.
    * None for an unknown name; a pin over an EMPTY component fails
    * loudly at read (no data files to carry a schema).
    */
  def readSnapshot(spark: SparkSession, dir: String,
                   name: String): Option[DataFrame] =
    resolveSnapshotFiles(spark, dir, name).map { case (base, files) =>
      if (files.isEmpty) throw new IllegalStateException(
        s"snapshot '$name' of $dir pinned no data files — the component " +
          "was empty at pin time; nothing can serve from it")
      Tables.parquetFiles(spark, base, files)
    }

  /** ROLL BACK: make a named snapshot's pinned file set the LIVE state
    * again, as a fresh forward publish — the version counter advances
    * and the superseded (bad) state gets the normal one-cycle reader
    * grace, so a rollback is itself an auditable maintenance op (and
    * [[resolvePrevious]] immediately after serves the rolled-back-FROM
    * state, which is exactly what a post-restore validation diff wants).
    * This is the missing half of the pin → maintain → diff workflow:
    * when the diff says the op was wrong, restore puts the pinned state
    * back without a corpus rebuild.
    *
    * The restore COPIES the pinned file list into the new version rather
    * than re-pointing at the pinned version directory: appends publish
    * new files INTO the live version directory, so a pin of a
    * then-live version can name a strict subset of its directory — a
    * pointer flip would resurrect the post-pin batches the caller is
    * rolling back (the same reason [[snapshot]] records file lists).
    * Cost: one version's bytes, the same class as a compaction rewrite;
    * the copy runs executor-parallel, so wall time is bytes /
    * cluster-write-bandwidth, not a driver funnel. Byte-copying (not a
    * DataFrame rewrite) preserves the pinned files exactly — sort
    * order, row-group layout, and Hive partition directories survive,
    * so the restored state serves bit-identically to the snapshot.
    *
    * What restore does NOT touch (each deliberate):
    *  - the LEDGER: batch/op markers of rolled-back publishes remain
    *    committed, so replays of those batches stay no-ops —
    *    idempotency keys outlive the data they guarded (re-ingesting
    *    rolled-back content needs NEW batch/op ids, the standard
    *    event-sourcing contract). Keeping the markers is also what
    *    makes the restored `b<id>-*`/`o<op>-*` file names safe from
    *    [[sweepUncommitted]].
    *  - pending TOMBSTONES: they keep masking the restored state, so a
    *    forget issued after the pin still holds. A forget that was
    *    already COMPACTED (tombstone consumed) is resurrected by
    *    restoring a pre-forget pin — that is the point of rollback, but
    *    right-to-be-forgotten callers must re-issue such forgets.
    *  - other PINS (and this one): restore consumes nothing; the name
    *    keeps serving and can be restored again.
    *
    * Idempotent under crash: if the copy dies, the pointer is untouched
    * (the old state keeps serving) and the orphan version is swept by
    * the next publish's GC — rerun to converge. Fails loudly on an
    * unknown name or an empty pin.
    */
  def restoreSnapshot(lease: Lease, dir: String, name: String): Unit = {
    val spark = lease.spark
    val (pinnedDir, files) = resolveSnapshotFiles(spark, dir, name)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot '$name' under $dir — nothing to restore"))
    if (files.isEmpty) throw new IllegalStateException(
      s"snapshot '$name' of $dir pinned no data files — the component " +
        "was empty at pin time; an empty restore would publish an " +
        "unreadable version")
    // fidelity on real clusters: ship the driver's Hadoop conf entries
    // to the copy tasks (fs.defaultFS, object-store credentials…) —
    // a bare executor-side `new Configuration()` would only see
    // whatever config files the executor image carries
    val confEntries = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
      b.result()
    }
    val prefix = if (pinnedDir.endsWith("/")) pinnedDir else pinnedDir + "/"
    publishRewrite(lease, dir) { versionDir =>
      val pairs = files.map { src =>
        require(src.startsWith(prefix),
          s"pinned file $src is outside its version directory $pinnedDir")
        (src, new Path(versionDir, src.stripPrefix(prefix)).toString)
      }
      val slices = math.max(1, math.min(pairs.size,
        spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(pairs, slices).foreach {
        case (src, dst) =>
          val conf = new org.apache.hadoop.conf.Configuration()
          confEntries.foreach { case (k, v) => conf.set(k, v) }
          val s = new Path(src); val t = new Path(dst)
          if (!org.apache.hadoop.fs.FileUtil.copy(
              s.getFileSystem(conf), s, t.getFileSystem(conf), t,
              false, conf))
            throw new java.io.IOException(s"restore copy $src -> $dst failed")
      }
    }
  }

  /** Release a named snapshot's pin. The pinned version is NOT deleted
    * here — the next publish's GC sweeps it (unless the pointer or
    * another snapshot still names it), the same deferred-sweep shape as
    * every other stale version. */
  def dropSnapshot(spark: SparkSession, dir: String, name: String): Unit = {
    // same read-side validation as [[resolveSnapshotFiles]]: an
    // unvalidated "../_current" here would DELETE THE LIVE POINTER
    require(name.matches(SnapshotNameRe),
      s"snapshot name '$name' must match $SnapshotNameRe (it names a file)")
    val f = new Path(new Path(dir, "_snapshots"), name)
    fsFor(spark, f).delete(f, false)
  }

  /** Reclaim a versioned directory's stale versions NOW instead of at
    * the next publish — the storage-release half of [[dropSnapshot]]:
    * GC otherwise runs only as a publish epilogue, so a dropped pin's
    * version (possibly a large fraction of the index's footprint) would
    * linger until some future maintenance op happens to rewrite this
    * component. Deletes exactly what the next publish's GC would: orphan
    * and superseded versions not named by the pointer (live +
    * previously-live keep their one-cycle reader grace) nor pinned by a
    * surviving snapshot. Under the root `lease`; a no-op on a
    * directory with no pointer (nothing versioned to reclaim).
    */
  def vacuum(lease: Lease, dir: String): Unit = {
    val (rootPath, fs) = lease.dir(dir)
    if (pointerLines(fs, rootPath).nonEmpty) gcStale(lease, fs, rootPath)
  }

  /** The REBUILD boundary every index builder goes through
    * ([[Family.rebuild]]): under the root writer lease, clear
    * what the OLD corpus left at `path`, then run `build`, which
    * publishes every directory it writes with [[publishRebuild]] — so
    * every component is born versioned and no superseded version gets
    * reader grace. Cleared, each because a rebuilt index starts a fresh
    * lineage:
    *  - the ledger, `_staging` and `_fence` ([[clearLedger]]): batch ids
    *    restart at 0 in a new checkpoint lineage, and surviving markers
    *    would silently no-op the new stream's first batches;
    *  - the `tombstones/` table: old pending deletes would mask the new
    *    corpus's rows;
    *  - every component's snapshot pins: [[gcStale]] spares pinned
    *    versions, so a surviving pin would keep an OLD-corpus version
    *    alive under its name, and a restore would pair it with the new
    *    build's meta.
    * `components` is evaluated under the lease. The builder receives
    * the lease and its reads and writes run under it, so no append,
    * compaction or pin can interleave with a half-built index.
    */
  def rebuild(spark: SparkSession, path: String, components: => Seq[String])
             (build: Lease => Unit): Unit =
    withWriterLease(spark, path) { lease =>
      val fs = fsFor(spark, new Path(path))
      clearLedger(spark, path)
      fs.delete(new Path(s"$path/tombstones"), true)
      components.foreach(c => fs.delete(new Path(s"$path/$c/_snapshots"), true))
      build(lease)
    }

  /** The commit check of every commit point ([[Lease.claim]]): the writer
    * holding `token` may commit only if the root's `lock` still carries
    * `token`, and only once it owns `claim`, created exclusively with
    * `token` as its content.
    *
    * The lock re-read rejects a holder whose lease was reclaimed (a
    * missing lock is a genuine reclaim signal; any other read failure is
    * retried once before it turns a healthy publish into a rejection).
    * A re-read leaves a gap: a zombie whose read lands just BEFORE the
    * reclaim passes it. The claim closes that gap to the atomic create —
    * two contenders for one commit (a zombie and its reclaimer racing one
    * version flip or one ledger marker) name the same claim, and exactly
    * one creates it; the loser is rejected even though its re-read
    * passed. A claim that already holds `token` passes (a same-writer
    * retry). On HDFS-class stores the create is server-side atomic; on
    * local filesystems it is O_CREAT|O_EXCL.
    */
  private[graft] def claimCommit(fs: FileSystem, lock: Path, token: String,
                                 claim: Path): Unit = {
    def readLock(): String =
      try readUtf8(fs, lock)
      catch { case _: java.io.FileNotFoundException => "" }
    val current =
      try readLock()
      catch { case scala.util.control.NonFatal(_) =>
        try readLock()
        catch { case scala.util.control.NonFatal(_) => "" }
      }
    if (current != token)
      throw new IllegalStateException(
        s"fencing check failed at commit: $lock no longer carries this " +
          "writer's acquire token — the lease was reclaimed (heartbeat " +
          "starved past the staleness window) and another writer may now " +
          "hold the index. This publish is REJECTED; its uncommitted " +
          "files will be swept by the next maintenance op. Re-run the " +
          "operation under a fresh lease.")
    fs.mkdirs(claim.getParent)
    if (!createExclusiveWithContent(fs, claim, token)) {
      val holder =
        try readUtf8(fs, claim)
        catch { case scala.util.control.NonFatal(_) => "" }
      if (holder != token)
        throw new IllegalStateException(
          s"fencing check failed at commit: $claim was already claimed " +
            "by a different writer's token — a contender committed (or " +
            "is committing) this same publish. This commit is REJECTED; " +
            "its uncommitted files will be swept by the next " +
            "maintenance op.")
    }
  }

  /** Create `path` exclusively with `content`; false when it already
    * exists — the one create-exclusive of the writer lock, the commit
    * claims and the ledger's high-water marker. Local filesystems get a
    * REAL O_CREAT|O_EXCL (File.createNewFile) because Hadoop
    * LocalFileSystem checks for the file and then creates it; other
    * schemes keep fs.create, where the exclusivity is server-side atomic.
    * A created-but-unwritable file is removed before the error propagates
    * (an ownerless empty lock or claim would wedge every contender). */
  private def createExclusiveWithContent(fs: FileSystem, path: Path,
                                         content: String): Boolean =
    if (fs.getScheme == "file") {
      val f = new java.io.File(fs.makeQualified(path).toUri.getPath)
      if (!f.createNewFile()) false
      else {
        try java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8"))
        catch { case e: java.io.IOException => f.delete(); throw e }
        true
      }
    } else {
      val out =
        try fs.create(path, false)
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          return false }
      try {
        try out.write(content.getBytes("UTF-8"))
        finally out.close()
      } catch { case e: java.io.IOException =>
        try fs.delete(path, false)
        catch { case _: java.io.IOException => () }
        throw e
      }
      true
    }

  /** JVM-global lease owners (lock key → acquire token). Hadoop's
    * LocalFileSystem `create(f, overwrite = false)` is exists-THEN-create
    * — not atomic — so two threads of ONE process (a pin racing a
    * streaming ingest on local[n]) could both pass the existence check
    * under load and both believe they hold the lease: exactly the torn
    * pin the CampaignSpec race test caught. In-process acquisition
    * therefore goes through this registry's atomic putIfAbsent FIRST;
    * the filesystem lock stays the cross-process/cross-host half of the
    * protocol (HDFS create-exclusive is server-side atomic; local
    * cross-process uses O_CREAT|O_EXCL below).
    */
  private val jvmLeaseOwners =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A held writer lease on the index root `root`: the session, the
    * root, its `_writer.lock` and this acquire's token. Only
    * [[withWriterLease]] makes one, for the duration of its body; a write
    * under the root takes it as a value, so a [[Par]] thunk commits under
    * the same lease as its caller. */
  final class Lease private[ops] (val spark: SparkSession, val root: String,
                                  private[Stage] val lock: Path,
                                  private[Stage] val token: String) {

    /** `dir` and its filesystem; `dir` must be the root or under it. */
    private[Stage] def dir(path: String): (Path, FileSystem) = {
      val (r, d) = (new Path(root), new Path(path))
      require(d == r || d.toString.startsWith(r.toString.stripSuffix("/") + "/"),
        s"$path is not under the writer lease's root $root")
      (d, fsFor(spark, d))
    }

    /** The check at a COMMIT point (a pointer flip, a ledger marker
      * create): [[claimCommit]] of `commit` with this lease's token. A
      * holder whose heartbeat starved past the staleness window may have
      * been WRONGLY RECLAIMED; letting its commit proceed would
      * interleave two writers' publishes on one index. Rejected here,
      * the zombie's staged or renamed-but-markerless files are exactly
      * what the next [[sweepUncommitted]] reverts. */
    private[Stage] def claim(commit: Path): Unit =
      claimCommit(fsFor(spark, lock), lock, token, commit)
  }

  /** Run `body` holding an exclusive writer lease on `path` — the
    * single-writer contract made LOUD instead of assumed. A
    * create-exclusive `_writer.lock` file guards the critical section:
    * a second concurrent maintenance op fails immediately with a clear
    * error instead of silently corrupting a multi-step fold (the
    * tombstone-snapshot → rewrite → reset sequence is only correct
    * single-writer). The lock releases on ANY exit, including an
    * exception inside `body`; only a killed JVM leaves it behind, and a
    * lock older than `staleAfterMs` is presumed crashed and RECLAIMED
    * (delete + one create-exclusive retry — two simultaneous reclaimers
    * race on the atomic create and exactly one wins). NOT re-entrant: a
    * nested acquire of a held root fails with the contention error.
    *
    * The atomic create is the same primitive the exactly-once ledger
    * markers rely on (atomic on HDFS and local filesystems; on raw
    * object stores an HDFS-compatible metadata layer is assumed, the
    * standard caveat). A lock whose recorded holder is a dead SAME-HOST
    * process reclaims immediately (the local-cluster / test-harness
    * case: a killed driver must not stall the next run for the whole
    * staleness window); cross-host holders fall back to the age check.
    * Default staleness 30 min — longer than any sane compaction,
    * shorter than an operator's patience. The lease is HEARTBEAT-
    * REFRESHED: while the holder lives, a daemon thread touches the
    * lock's mtime every `staleAfterMs / 3` (after re-reading that the
    * lock is still its own), so a LIVE op of ANY duration never goes
    * stale — wrongful reclaim now requires the refresher itself to
    * starve for the whole window (a stop-the-world pause or filesystem
    * partition longer than `staleAfterMs`), not merely a long op.
    * Residual hazard bounded two ways: the reclaim-side staleness
    * window gates how soon a starved holder can be presumed dead, and
    * the victim's release is OWNER-CHECKED (the lock carries a
    * per-acquire nonce and the exit deletes only a lock still holding
    * it), so even a wrongly-reclaimed victim's exit leaves the
    * reclaimer's fresh lock intact instead of silently re-admitting a
    * third writer mid-fold.
    */
  def withWriterLease[T](spark: SparkSession, path: String,
                         staleAfterMs: Long = DefaultStaleAfterMs)
                        (body: Lease => T): T = {
    val rootPath = new Path(path)
    val fs = fsFor(spark, rootPath)
    val lock = new Path(rootPath, "_writer.lock")
    val key = lock.toString
    // the nonce makes this ACQUIRE's lock content unique, so release can
    // tell "still my lock" from "a reclaimer's fresh lock" (pid+host+time
    // alone could collide across a same-process reclaim in one millisecond)
    val token = s"pid=${ProcessHandle.current.pid} host=$localHost " +
      s"t=${System.currentTimeMillis} nonce=${java.util.UUID.randomUUID()}"
    def tryAcquire(): Boolean = {
      // same-process exclusivity FIRST (atomic; the filesystem check on a
      // local FS is not) — value-checked rollback on any downstream failure
      if (jvmLeaseOwners.putIfAbsent(key, token) != null) return false
      val ok =
        try {
          fs.mkdirs(rootPath)
          createExclusiveWithContent(fs, lock, token)
        } catch {
          case _: java.io.IOException => false
          // any OTHER failure (SecurityException, a RuntimeException out
          // of an FS shim) must also roll back the registry entry before
          // propagating: with the entry leaked, no lock file exists for
          // the stale-reclaim path to read, so every future acquire on
          // this path in this JVM would dead-end on the in-process gate
          // until restart
          case scala.util.control.NonFatal(e) =>
            jvmLeaseOwners.remove(key, token); throw e
        }
      if (!ok) jvmLeaseOwners.remove(key, token)
      ok
    }
    if (!tryAcquire()) {
      // None: the lock vanished between the tries — its holder released
      // it. That is no reclaim case: a token read now would be the NEXT
      // holder's fresh lock (an in-process acquirer between its registry
      // entry and its file create), and retiring it would evict a live
      // holder — two writers inside the lease
      val age = try Some(System.currentTimeMillis -
        fs.getFileStatus(lock).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
      // presumed crashed — reclaim: holder provably dead on this host,
      // or silent past the staleness window. The reclaim is a RENAME, not delete-then-create: two
      // simultaneous reclaimers would otherwise race — the slower one's
      // pre-reclaim staleness read could delete the faster one's FRESH
      // lock and both would enter. rename's source vanishes for the
      // loser (atomic), so exactly one reclaimer retires the stale lock;
      // the loser falls through to the contention error and retries
      // against whatever the winner holds.
      if (age.exists(_ > staleAfterMs) || holderDeadOnThisHost(fs, lock)) {
        // read the stale holder's token BEFORE retiring its lock: if the
        // holder is a thread of THIS JVM (stuck past the window with its
        // heartbeat starved — a healthy holder never goes stale), its
        // registry entry must retire with the lock, or the in-process
        // gate would block every reclaimer forever. The remove is
        // value-checked, so a fresh holder's entry is never evicted.
        val staleToken =
          try Some(readUtf8(fs, lock))
          catch { case scala.util.control.NonFatal(_) => None }
        val retired = new Path(lock.getParent,
          s"_writer.lock.reclaimed-${ProcessHandle.current.pid}-" +
            System.nanoTime)
        try { if (fs.rename(lock, retired)) fs.delete(retired, false) }
        catch { case _: java.io.IOException => () } // loser: src vanished
        staleToken.foreach(t => jvmLeaseOwners.remove(key, t))
      }
      if (!tryAcquire())
        throw new IllegalStateException(
          s"$lock is held by a concurrent maintenance op (age " +
            s"${age.fold("unknown")(a => s"${a}ms")}, " +
            s"stale after ${staleAfterMs}ms) — the single-writer contract " +
            "forbids concurrent maintenance on one index; retry after it " +
            "finishes, or delete the lock if its holder is known dead")
    }
    val refresher = startLeaseRefresher(fs, lock, token, staleAfterMs)
    try body(new Lease(spark, path, lock, token))
    finally {
      refresher.foreach { case (t, stop) => stop.countDown(); t.join(1000) }
      releaseIfOwner(fs, lock, token)
      jvmLeaseOwners.remove(key, token)
    }
  }

  /** The heartbeat half of the lease: a daemon thread that, every
    * `staleAfterMs / 3`, re-reads the lock and — only while it still
    * holds `token` — touches its mtime, which is what the reclaim-side
    * staleness check ages. A live holder therefore never goes stale;
    * after a (wrongful) reclaim the content no longer matches and the
    * refresher stands down immediately, never touching the new holder's
    * lock. Cost: one read + one setTimes per interval per held lease —
    * metadata noise. None (no refresher) for sub-3-second windows,
    * which exist only in tests exercising the reclaim path itself.
    */
  private def startLeaseRefresher(fs: FileSystem, lock: Path, token: String,
                                  staleAfterMs: Long)
      : Option[(Thread, java.util.concurrent.CountDownLatch)] =
    if (staleAfterMs < 3000L) None
    else {
      val stop = new java.util.concurrent.CountDownLatch(1)
      val t = new Thread(() => {
        val interval = staleAfterMs / 3
        var live = true
        while (live &&
            !stop.await(interval, java.util.concurrent.TimeUnit.MILLISECONDS)) {
          val mine =
            try readUtf8(fs, lock) == token
            catch { case scala.util.control.NonFatal(_) => false }
          if (mine)
            try fs.setTimes(lock, System.currentTimeMillis, -1)
            catch { case scala.util.control.NonFatal(_) => () }
          else live = false // reclaimed out from under us: stand down
        }
      })
      t.setDaemon(true)
      t.setName(s"graft-lease-heartbeat-${lock.getParent.getName}")
      t.start()
      Some((t, stop))
    }

  /** The default [[withWriterLease]] staleness window. */
  val DefaultStaleAfterMs: Long = 30 * 60 * 1000L

  /** Delete `lock` only if it still holds `token` — the release half of
    * the lease's owner check. The failure chain this breaks: writer A
    * outlives the staleness window; writer B reclaims and creates a
    * FRESH lock; A finishes, and an unconditional finally-delete would
    * remove B's lock, letting a writer C acquire while B is still
    * mid-fold — two concurrent writers, exactly what the lease exists
    * to prevent. With the check, A's exit sees content ≠ its token,
    * logs, and leaves B's lock standing (A was the wrongful party: it
    * ran past the window). A lock that vanished (the reclaimer's rename
    * won between A's read and now) is equally not-ours — nothing to do.
    * The read-compare-delete is not atomic, but the residual window is
    * microseconds versus the minutes-long staleness window that gates
    * any reclaim — and only a reclaim can change ownership.
    */
  private def releaseIfOwner(fs: FileSystem, lock: Path,
                             token: String): Unit = {
    val current =
      try Some(readUtf8(fs, lock))
      catch { case scala.util.control.NonFatal(_) => None }
    if (current.contains(token)) {
      try fs.delete(lock, false)
      catch { case _: java.io.IOException => () }
    } else org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"$lock is no longer this op's lease (now held by " +
        s"'${current.getOrElse("<gone>")}'): this op ran past the " +
        "staleness window and was reclaimed — leaving the new holder's " +
        "lock in place. This op's writes may interleave with the " +
        "reclaimer's; verify the index and re-run if needed")
  }

  private lazy val localHost =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: java.net.UnknownHostException => "unknown" }

  private val LockPidRe = "pid=(\\d+) host=(\\S+).*".r

  /** Whether `lock` names a holder process on THIS host that no longer
    * exists — the provably-dead case that reclaims without waiting out
    * the staleness window. False on cross-host holders (a pid means
    * nothing remotely), unreadable locks, torn content, and — critically
    * — whenever either hostname is the "unknown" fallback: two
    * containers without resolvable hostnames would otherwise both read
    * host=unknown, "prove" each other's pids dead, and reclaim a LIVE
    * cross-host lease instantly (two concurrent writers). Same-NAME
    * different-machine clones remain a residual risk of hostname-keyed
    * identity; the heartbeat + staleness window still bound that case. */
  private def holderDeadOnThisHost(fs: FileSystem, lock: Path): Boolean =
    try {
      readUtf8(fs, lock) match {
        case LockPidRe(pid, host)
          if host == localHost && host != "unknown" =>
          ProcessHandle.of(pid.toLong).map[Boolean](!_.isAlive).orElse(true)
        case _ => false
      }
      // NonFatal, not just IOException: a corrupted lock (e.g. a pid
      // string past Long range) must degrade to "not provably dead" and
      // the clean contention error, never crash the maintenance op
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Run one ingest batch against a persisted index with EXACTLY-ONCE
    * semantics — the shared ledger protocol of the text-index, IVF, and
    * MinHash-manifest streaming appends (`foreachBatch` is at-least-once:
    * a micro-batch replayed after a crash re-runs its side effects).
    * `stage` writes the batch's contribution to each of `components` under
    * a batch-scoped staging directory; the staged files are then PUBLISHED
    * by renaming them into the live component directories under
    * deterministic `b<batchId>-<i>` names, and a `_ledger/batch-<batchId>`
    * marker records completion. Every failure window replays safely:
    *
    *  - marker exists → the batch fully published; skip (the no-op path a
    *    Structured Streaming restart takes for its replayed batch);
    *  - crash mid-staging → retry wipes the staging dir and re-stages;
    *  - crash mid-publish or before the marker → retry re-stages, sweeps
    *    exactly the `b<batchId>-*` files a dead attempt moved in (names
    *    are deterministic — a re-attempt can always identify them), and
    *    republishes.
    *
    * The marker write is an atomic file create, and publish renames are
    * single-file metadata ops (atomic on HDFS and local filesystems; on
    * object stores an HDFS-compatible metadata layer is assumed, the
    * standard caveat). Batch ids are only meaningful relative to ONE
    * durable checkpoint lineage. Cost: the staged write (batch-sized) plus
    * one listing + |files| renames per component — no second data pass.
    */
  def appendExactlyOnce(spark: SparkSession, path: String, batchId: Long,
                        components: => Seq[String])
                       (stage: String => Unit): Unit =
    commitStaged(spark, path, s"batch-$batchId", s"b$batchId",
      alreadyPublished(spark, path, batchId), components)(stage)

  /** [[appendExactlyOnce]] for NON-streaming maintenance ops: the same
    * staged, marker-protected, prefix-idempotent publish, keyed by a
    * caller-chosen operation id instead of a checkpoint batch id. The
    * marker lives at `_ledger/op-<opId>` — outside the batch-id
    * high-water fold, because op ids carry no order — and survives until
    * the index is rebuilt ([[rebuild]]): a compaction must NOT clear
    * it, or a crashed-then-retried op from before the compaction would
    * re-apply. What this buys multi-component maintenance writes (the
    * LM's paired bigram/vocab deltas): atomicity under retry — either
    * every component published and the marker commits, or the retry
    * (same id, same content — the caller's contract) sweeps the partial
    * `o<opId>-*` prefix and republishes whole; a retry of a completed op
    * is a metadata-only no-op.
    *
    * DURABILITY CONTRACT: the op is durable only when this method
    * RETURNS. Published component files are visible to readers before
    * the marker commits, so a caller that crashes mid-op may OBSERVE
    * the op's effect — that is not confirmation. An unretried crashed
    * op is eventually REVERTED: the next compaction's
    * [[sweepUncommitted]] removes its markerless `o<opId>-*` files.
    * Crashed callers must retry with the same id before relying on the
    * effect (the same rule Structured Streaming's checkpoint enforces
    * automatically for [[appendExactlyOnce]] batches). ENFORCED at load:
    * [[pendingOps]] names every crashed-unretried op, the LM loader
    * logs them loudly, and [[healthReport]] carries the count — the
    * operator no longer has to remember the contract unaided.
    */
  def publishOnce(spark: SparkSession, path: String, opId: String,
                  components: => Seq[String])(stage: String => Unit): Unit = {
    require(opId.matches("[A-Za-z0-9_]+"),
      s"opId '$opId' must match [A-Za-z0-9_]+ (it names ledger and file prefixes)")
    val fs = fsFor(spark, new Path(path))
    def committed: Boolean = {
      val done = fs.exists(new Path(s"$path/_ledger/op-$opId"))
      if (done) fs.delete(new Path(s"$path/_staging/op-$opId"), true)
      done
    }
    commitStaged(spark, path, s"op-$opId", s"o$opId", committed,
      components)(stage)
  }

  /** The one staged commit behind [[appendExactlyOnce]] and
    * [[publishOnce]], which differ only in the ledger marker `id`
    * (`batch-<n>` / `op-<id>`), the published file `prefix` (`b<n>` /
    * `o<id>`) and the `committed` test (which also sweeps the staging a
    * crash after the marker left behind). `committed` is checked before
    * the lease — a replay is a metadata-only no-op — and again inside
    * it: a duplicate delivery serialized behind a concurrent committer
    * of the same id must exit as the intended no-op, not re-stage and
    * then die on the marker's create-exclusive. */
  private def commitStaged(spark: SparkSession, path: String, id: String,
                           prefix: String, committed: => Boolean,
                           components: => Seq[String])
                          (stage: String => Unit): Unit =
    if (!committed) withWriterLease(spark, path) { lease =>
      if (!committed) {
        val fs = fsFor(spark, new Path(path))
        val staging = s"$path/_staging/$id"
        fs.delete(new Path(staging), true) // wipe a dead attempt's partials
        stage(staging)
        components.foreach { comp =>
          // the first commit into a fresh component births it versioned
          ensureVersioned(spark, s"$path/$comp")
          publishStaged(fs, new Path(s"$staging/$comp"),
            new Path(resolve(spark, s"$path/$comp")), prefix) }
        // the marker is the commit and its own claim: created
        // exclusively with the lease's token, so a zombie holder (or a
        // contender committing the same id) is rejected here and its
        // renamed files stay markerless and sweep-revertible
        lease.claim(new Path(s"$path/_ledger/$id"))
        fs.delete(new Path(staging), true)
      }
    }

  /** A fresh [[publishOnce]] op id (`[A-Za-z0-9_]+`) for a plain append
    * that has no caller-chosen id. */
  private[graft] def freshOpId(): String =
    "append" + java.util.UUID.randomUUID().toString.replace("-", "")

  /** Sweep from components' LIVE directories the partial leavings of
    * publishes that never committed: `b<id>-*` files whose batch id has
    * no ledger marker (nor high-water cover) and `o<opId>-*` files with
    * no op marker — an append that crashed mid-publish. Compactions call
    * this FIRST: folding an uncommitted batch's files would anonymize
    * them into part files the replay's prefix sweep can no longer find,
    * so the replayed batch would land TWICE (its rows double-counted
    * forever). Sweeping instead returns the batch wholly to the replay.
    * Also deletes `_staging`: an op or batch that failed and is never
    * retried under its id (every failed fresh-id append) leaves its
    * staging directory there, and nothing else would ever remove it.
    * Under the root `lease`, so no publish is in flight while it runs.
    */
  def sweepUncommitted(lease: Lease, path: String,
                       components: Seq[String]): Unit = {
    val (_, fs) = lease.dir(path)
    val ledger = new Path(s"$path/_ledger")
    fs.delete(new Path(s"$path/_staging"), true)
    // ONE ledger listing up front: the per-file committed checks below
    // are set lookups, not exists() RPCs — a fragmented index can carry
    // hundreds of prefixed files per component
    val entries =
      if (fs.exists(ledger)) fs.listStatus(ledger).map(_.getPath.getName)
      else Array.empty[String]
    val high = highWaterIn(entries, includeBatch = false)
    val batchIds = entries.collect { case BatchMarkerRe(n) => n.toLong }.toSet
    val opIds = entries.collect { case OpMarkerRe(op) => op }.toSet
    def sweep(d: Path): Unit = dataEntries(fs, d).foreach { s =>
      if (s.isDirectory) sweep(s.getPath)
      else s.getPath.getName match {
        case BatchFileRe(id)
          if id.toLong > high && !batchIds.contains(id.toLong) =>
          fs.delete(s.getPath, false)
        case OpFileRe(op) if !opIds.contains(op) =>
          fs.delete(s.getPath, false)
        case _ => ()
      }
    }
    components.foreach(c => sweep(new Path(resolve(lease.spark, s"$path/$c"))))
  }

  /** Op ids with `o<opId>-*` files in some component's live directory but
    * NO committed `_ledger/op-<opId>` marker — [[publishOnce]] calls that
    * crashed mid-publish. The enforcement half of publishOnce's retry
    * contract: a crashed op's effect is VISIBLE to readers but not
    * durable, and the next compaction's [[sweepUncommitted]] silently
    * REVERTS it — so an operator must learn about the pending op and
    * retry (same id) before any compaction runs. Load paths surface this
    * set loudly (the LM loader logs it; [[healthReport]] carries it as a
    * column) instead of leaving the burden on operator memory.
    * Metadata-only: one ledger listing plus one recursive listing per
    * component.
    */
  def pendingOps(spark: SparkSession, path: String,
                 components: Seq[String]): Seq[String] = {
    val ledger = new Path(s"$path/_ledger")
    val fs = fsFor(spark, ledger)
    val committed =
      if (!fs.exists(ledger)) Set.empty[String]
      else fs.listStatus(ledger).map(_.getPath.getName)
        .collect { case OpMarkerRe(op) => op }.toSet
    val found = scala.collection.mutable.SortedSet.empty[String]
    def scan(d: Path): Unit = dataEntries(fs, d).foreach { s =>
      if (s.isDirectory) scan(s.getPath)
      else s.getPath.getName match {
        case OpFileRe(op) if !committed.contains(op) => found += op
        case _ => ()
      }
    }
    components.foreach(c => scan(new Path(resolve(spark, s"$path/$c"))))
    found.toSeq
  }

  /** Whether `batchId` has fully published in this lineage — its own
    * `batch-<id>` marker survives, or ledger compaction folded it into a
    * high-water marker (batch ids in one lineage strictly increase, so
    * id ≤ high implies published). A positive answer also sweeps any
    * staging directory a crash between the marker create and the staging
    * cleanup left behind — the one window the replay no-op would
    * otherwise never revisit. [[appendExactlyOnce]] calls this before
    * it takes the lease or runs `stage`, so a replayed batch is a
    * metadata-only no-op even for families whose stager loads index
    * metadata (IVF centroids, manifest parameters).
    */
  def alreadyPublished(spark: SparkSession, path: String,
                       batchId: Long): Boolean = {
    val marker = new Path(s"$path/_ledger/batch-$batchId")
    val fs = fsFor(spark, marker)
    val done = batchId <= ledgerHighWater(fs, marker.getParent) ||
      fs.exists(marker)
    if (done) fs.delete(new Path(s"$path/_staging/batch-$batchId"), true)
    done
  }

  /** A consistent snapshot of an index root's pending tombstones: the
    * keys DataFrame PINNED to the exact data files present at call time,
    * plus that file list. Pinning matters twice over. A fold runs
    * several jobs, and parquet scans list their directory lazily — an
    * unpinned relation could read a different key set in each job when a
    * delete service appends mid-fold. And [[resetTombstones]] takes the
    * file list so the fold deletes precisely what it consumed: keys
    * appended DURING a compaction keep their files and stay pending for
    * the next one, instead of being silently forgotten by a
    * whole-directory drop (a lost right-to-be-forgotten request).
    *
    * None when nothing is pending. The emptiness probe is a
    * metadata-only listing for COMMITTED data files, so torn states read
    * correctly as "no pending deletes" instead of erroring every later
    * serve: a crashed [[Family.tombstone]] that created the directory
    * but committed nothing (only `_temporary` inside), and a crashed
    * reset that deleted some files.
    *
    * ORDERING RULE for serve paths racing a fold: load the tombstone
    * snapshot BEFORE resolving any data component. Tombstones-first is
    * linearizable — if a fold lands in between, the data resolve gets
    * the post-fold version (keys already physically gone) and the stale
    * pending set anti-joins as a no-op. Data-first is NOT: a pre-fold
    * data version paired with the post-reset (empty) pending set would
    * serve deleted rows. Every serve reads through a [[Family.View]],
    * which loads the tombstones first.
    */
  def tombstoneSnapshot(spark: SparkSession,
                        path: String): Option[(DataFrame, Seq[Path])] = {
    val t = resolve(spark, s"$path/tombstones")
    val p = new Path(t)
    val fs = fsFor(spark, p)
    def files(d: Path): Seq[Path] = dataEntries(fs, d).toSeq.flatMap(s =>
      if (s.isDirectory) files(s.getPath) else Seq(s.getPath))
    if (!fs.exists(p)) None
    else {
      // files a past fold consumed are excluded (their keys are already
      // physically deleted) but still ON DISK for one compaction cycle —
      // the reader grace [[resetTombstones]] maintains
      val consumed = consumedNames(fs, p)
      val fl = files(p).filterNot(f => consumed.contains(f.getName))
      if (fl.isEmpty) None
      else Some((Tables.parquet(spark, fl.map(_.toString): _*).distinct(), fl))
    }
  }

  /** The file names the previous fold's [[resetTombstones]] recorded in
    * `_consumed` — consumed (already physically folded) but kept on disk
    * for one compaction cycle of reader grace. */
  private def consumedNames(fs: FileSystem, tombDir: Path): Set[String] = {
    val f = new Path(tombDir, "_consumed")
    if (!fs.exists(f)) Set.empty
    else readTrimmedLines(fs, f).toSet
  }

  /** The pending tombstone keys of an index root, or None when none are
    * pending — [[tombstoneSnapshot]] for serve paths that don't fold. */
  def pendingTombstones(spark: SparkSession,
                        path: String): Option[DataFrame] =
    tombstoneSnapshot(spark, path).map(_._1)

  /** Retire the tombstone files a fold consumed (the file list of its
    * [[tombstoneSnapshot]]) after compaction turned those keys into a
    * physical delete — with ONE COMPACTION CYCLE of reader grace, like
    * the version GC: a serve query that pinned the files just before
    * the fold must still find them. The consumed names are recorded in
    * `tombstones/_consumed` (atomic overwrite-rename) and excluded from
    * every later snapshot; the NEXT reset physically deletes them.
    * Keys appended after the snapshot keep their files and stay
    * pending; with nothing pending, the fast paths tombstoning
    * suspended (the text index's one-row stats read, the anti-join-free
    * serves) return. Safe at every crash point: the fold physically
    * removed the consumed keys' rows first, so a crash that loses the
    * `_consumed` record merely re-reads stale keys whose anti-joins are
    * no-ops until the next fold retires them. Under the root `lease`. */
  def resetTombstones(lease: Lease, path: String,
                      consumed: Seq[Path]): Unit = {
    val (_, fs) = lease.dir(path)
    val tombDir = new Path(resolve(lease.spark, s"$path/tombstones"))
    if (!fs.exists(tombDir)) return
    val expired = consumedNames(fs, tombDir) // grace cycle over
    if (expired.nonEmpty) {
      def sweep(d: Path): Unit = dataEntries(fs, d).foreach { s =>
        if (s.isDirectory) sweep(s.getPath)
        else if (expired.contains(s.getPath.getName))
          fs.delete(s.getPath, false)
      }
      sweep(tombDir)
    }
    replaceFile(lease.spark, fs, new Path(tombDir, "_consumed"),
      consumed.map(_.getName).mkString("\n"))
  }

  /** The highest batch id a `high-<n>` marker certifies as published, or
    * -1 when ledger compaction has never run. More than one high marker
    * can coexist after a crash mid-[[compactLedger]]; the max is the
    * truth (each was only ever written over fully-published batches). */
  private def ledgerHighWater(fs: FileSystem, ledger: Path): Long =
    if (!fs.exists(ledger)) -1L
    else highWaterIn(fs.listStatus(ledger).map(_.getPath.getName),
      includeBatch = false)

  /** Fold an index root's per-batch ledger markers into one high-water
    * marker. [[appendExactlyOnce]] writes `_ledger/batch-<id>` per
    * micro-batch — one empty file per batch, forever: after a month of
    * minute-batches the replay check lists ~43k entries, the ledger's own
    * small-files problem. Because batch ids within one checkpoint lineage
    * are strictly increasing and Structured Streaming only ever replays
    * the LAST uncommitted batch, a single `high-<maxId>` marker carries
    * the same information as every marker below it.
    *
    * Crash-safe in the ledger's own style: the high marker is created
    * (atomic file create) BEFORE the folded markers are deleted, so a
    * crash mid-sweep leaves extra markers that the next compaction
    * removes — never a missing one. Called by [[Family.compact]] under
    * the root `lease`, so one maintenance op bounds both data and ledger
    * fragmentation.
    */
  def compactLedger(lease: Lease, path: String): Unit = {
    val (_, fs) = lease.dir(path)
    val ledger = new Path(s"$path/_ledger")
    if (!fs.exists(ledger)) return
    val entries = fs.listStatus(ledger).map(_.getPath)
    val high = highWaterIn(entries.map(_.getName), includeBatch = true)
    if (high < 0) return
    // false when a crashed earlier fold already wrote it
    createExclusiveWithContent(fs, new Path(ledger, s"high-$high"), lease.token)
    entries.foreach { p =>
      p.getName match {
        case BatchMarkerRe(n) if n.toLong <= high => fs.delete(p, false)
        case HighMarkerRe(n) if n.toLong < high   => fs.delete(p, false)
        case _                                    => ()
      }
    }
  }

  /** The live data-file count of `dir` (pointer-resolved, recursive into
    * partition subdirectories, `_`/`.` metadata excluded) — the
    * fragmentation signal [[shouldCompact]] thresholds. Metadata-only:
    * one recursive listing, no data read. 0 for a missing directory. */
  def fragmentation(spark: SparkSession, dir: String): Int = {
    val fs = fsFor(spark, new Path(dir))
    def count(d: Path): Int = dataEntries(fs, d).map(s =>
      if (s.isDirectory) count(s.getPath) else 1).sum
    count(new Path(resolve(spark, dir)))
  }

  /** Whether any of an index root's `components` has fragmented past
    * `maxFilesPerComponent` live files — the trigger each family's
    * `autoCompact*` consults so long-running streaming ingest bounds its
    * own file counts (per-batch exactly-once publishes add ≥1 file per
    * component per micro-batch) instead of relying on an operator
    * remembering to compact. Threshold semantics, not exact sizing:
    * the compaction itself re-sizes files via [[compactionPartitions]].
    */
  def shouldCompact(spark: SparkSession, path: String,
                    components: Seq[String],
                    maxFilesPerComponent: Int): Boolean =
    components.exists(c =>
      fragmentation(spark, s"$path/$c") > maxFilesPerComponent)

  /** Operational health report of a persisted index root — the
    * introspection an operator reads before deciding whether to compact,
    * fold the ledger, or worry: one row per component with its live
    * version (empty = no pointer: the component was never built),
    * on-disk version count, live
    * data-file count and bytes, plus the root's ledger entry count,
    * pending tombstone file count, and uncommitted-op count
    * ([[pendingOps]] — nonzero means a crashed publishOnce needs its
    * retry BEFORE the next compaction) stamped on every row, plus the
    * component's pinned-snapshot count (each pin holds a full version's
    * storage until dropped), plus the root's WRITER LEASE in flight, if
    * any: holder line, age, and the fraction of the default staleness
    * window consumed (`writer_lock_*`, the same on every row: components
    * carry no lock of their own; a fraction nearing
    * 1.0 means a live op is about to be treated as crashed and
    * reclaimed, a stuck or abandoned op is visible here instead of
    * requiring a filesystem look). Metadata-only
    * (directory listings, no data read). NOT a `SparkEntry` query on
    * purpose: file counts depend on the writing cluster's parallelism,
    * so the numbers are deterministic per deployment but not across
    * engines — no DuckDB oracle can replay them (StageSpec pins the
    * fixture-determined columns instead).
    */
  def healthReport(spark: SparkSession, path: String,
                   components: Seq[String]): DataFrame = {
    import spark.implicits._
    val ledgerEntries = {
      val ledger = new Path(s"$path/_ledger")
      val fs = fsFor(spark, ledger)
      if (!fs.exists(ledger)) 0 else fs.listStatus(ledger).length
    }
    val (holder, ageMs) = lockInfo(fsFor(spark, new Path(path)), new Path(path))
      .getOrElse(("", -1L))
    val staleFrac =
      if (ageMs < 0) 0.0 else ageMs.toDouble / DefaultStaleAfterMs
    val tombFiles = {
      val t = new Path(resolve(spark, s"$path/tombstones"))
      val fs = fsFor(spark, t)
      if (!fs.exists(t)) 0
      else {
        val consumed = consumedNames(fs, t)
        def count(d: Path): Int = dataEntries(fs, d).map(s =>
          if (s.isDirectory) count(s.getPath)
          else if (consumed.contains(s.getPath.getName)) 0 else 1).sum
        count(t)
      }
    }
    // crashed-but-unretried publishOnce ops: their effect serves now but
    // the next compaction reverts it — the one signal an operator MUST
    // see before compacting (see [[pendingOps]])
    val uncommittedOps = pendingOps(spark, path, components).size
    val rows = components.map { c =>
      val root = new Path(s"$path/$c")
      val fs = fsFor(spark, root)
      val lines = pointerLines(fs, root)
      val nVersions =
        if (!fs.exists(root)) 0
        else fs.listStatus(root).count(s => VersionRe.matches(s.getPath.getName))
      // derive the live dir from the pointer lines already in hand —
      // a resolve() here would re-open and re-parse the same _current
      // file, and a pointer flip between the two reads would make
      // live_version and n_files describe different versions in one row
      val live = lines.headOption
        .map(v => new Path(root, v)).getOrElse(root)
      def filesBytes(d: Path): (Int, Long) =
        dataEntries(fs, d).foldLeft((0, 0L)) { case ((n, b), s) =>
          if (s.isDirectory) { val (n2, b2) = filesBytes(s.getPath); (n + n2, b + b2) }
          else (n + 1, b + s.getLen)
        }
      val (nFiles, nBytes) =
        if (fs.exists(live)) filesBytes(live) else (0, 0L)
      // snapshot pins hold full version copies — storage an operator
      // must SEE to know to drop ([[snapshot]]'s accumulation caveat)
      val nPinned = snapshotVersions(fs, root).size
      (c, lines.headOption.getOrElse(""), nVersions, nFiles, nBytes,
        ledgerEntries, tombFiles, uncommittedOps, nPinned,
        holder, ageMs, staleFrac)
    }
    rows.toDF("component", "live_version", "n_versions", "n_files",
      "n_bytes", "ledger_entries", "pending_tombstone_files",
      "uncommitted_ops", "pinned_versions", "writer_lock_holder",
      "writer_lock_age_ms", "writer_lock_stale_frac")
  }

  /** (content, age ms) of a live `_writer.lock` under `dir`, or None —
    * the introspection read [[healthReport]] surfaces. NonFatal-safe:
    * a lock vanishing mid-read (its holder just released) is "no lock",
    * never an error in a dashboard query. */
  private def lockInfo(fs: FileSystem,
                       dir: Path): Option[(String, Long)] =
    try {
      val lock = new Path(dir, "_writer.lock")
      val st = fs.getFileStatus(lock)
      Some((readUtf8(fs, lock),
        System.currentTimeMillis - st.getModificationTime))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Reset an index root's exactly-once machinery at the [[rebuild]]
    * boundary: batch ids are only meaningful relative to ONE checkpoint
    * lineage, and a rebuilt index starts a fresh one.
    */
  private def clearLedger(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = fsFor(spark, root)
    fs.delete(new Path(root, "_ledger"), true)
    fs.delete(new Path(root, "_staging"), true)
    // the rebuild boundary also drops every flip claim: a wiped root may
    // restart version numbering, and a flip-v* claim from the old life
    // would reject the reborn index's first publishes
    fs.delete(new Path(root, "_fence"), true)
  }

  /** How many partitions a compaction rewrite of `dir` should produce:
    * its live data bytes divided by `spark.sql.files.maxPartitionBytes`
    * (the same knob that sizes scan partitions), floored at 1. Sized from
    * one recursive file listing — metadata work, no data read — so a
    * compaction neither collapses a large component into too few
    * oversized files nor keeps the per-batch file fragmentation it exists
    * to remove.
    */
  def compactionPartitions(spark: SparkSession, dir: String): Int = {
    val p = new Path(resolve(spark, dir))
    val fs = fsFor(spark, p)
    def bytes(d: Path): Long = dataEntries(fs, d).map(s =>
      if (s.isDirectory) bytes(s.getPath) else s.getLen).sum
    val target = spark.sessionState.conf.filesMaxPartitionBytes
    math.max(1L, (bytes(p) + target - 1) / target).toInt
  }

  /** Move a staged directory's data files into the live directory under
    * deterministic `<prefix>-<i>` names, preserving partition
    * subdirectories (`key=value/`, the IVF lists layout), after first
    * sweeping any files a dead earlier publish attempt left under the same
    * prefix — which makes the publish idempotent. Hadoop FileSystem
    * throughout, so the same code runs on local disk and HDFS.
    */
  def publishStaged(fs: FileSystem, srcDir: Path, dstDir: Path,
                    prefix: String): Unit = {
    sweepPrefix(fs, dstDir, prefix)
    moveStaged(fs, srcDir, dstDir, prefix)
  }

  private def dataEntries(fs: FileSystem, dir: Path) =
    if (!fs.exists(dir)) Array.empty[org.apache.hadoop.fs.FileStatus]
    else fs.listStatus(dir).filter { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }

  private def sweepPrefix(fs: FileSystem, dir: Path, prefix: String): Unit =
    dataEntries(fs, dir).foreach { s =>
      if (s.isDirectory) sweepPrefix(fs, s.getPath, prefix)
      else if (s.getPath.getName.startsWith(prefix + "-"))
        fs.delete(s.getPath, false)
    }

  private def moveStaged(fs: FileSystem, src: Path, dst: Path,
                         prefix: String): Unit = {
    fs.mkdirs(dst)
    val (dirs, files) = dataEntries(fs, src).partition(_.isDirectory)
    files.map(_.getPath).sortBy(_.getName).zipWithIndex.foreach {
      case (p, i) =>
        if (!fs.rename(p, new Path(dst, s"$prefix-$i.parquet")))
          throw new java.io.IOException(s"publish rename failed: $p")
    }
    dirs.foreach(d =>
      moveStaged(fs, d.getPath, new Path(dst, d.getPath.getName), prefix))
  }
}
