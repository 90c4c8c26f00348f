package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}

/** One persisted-index FAMILY: a name and the versioned components that
  * live under each of its roots. The named-snapshot lifecycle is the
  * same for every family — only the component set differs — so it is
  * written once here, over [[Stage]]'s per-component primitives, and
  * each family declares one descriptor (`Search.TextIndex`,
  * `Dedup.MinhashManifest`, `Corpus.Lm`, `Similarity.IvfIndex`, ...).
  * `components` may probe the root (the text index's set grows a
  * `positions` component when the phrase index exists); snapshot and
  * restore read it under the root lease, so it cannot change mid-op.
  *
  * Shared contract of the lifecycle:
  *  - [[snapshot]] pins every component under ONE name while holding the
  *    ROOT writer lease — the lease every maintenance op and
  *    exactly-once ingest batch of the family serializes on — so the pin
  *    captures one maintenance state (a delete landing between two
  *    component pins would freeze a mixed state that serves wrong). The
  *    pinned versions survive every later GC until [[dropSnapshot]].
  *  - [[restore]] rolls the live state back to the pin under the same
  *    root lease, all-or-nothing: every component is checked for the pin
  *    BEFORE any is restored, so a typo'd name leaves the live state
  *    untouched. The pin survives (restore again at will). Pending
  *    TOMBSTONES keep masking the restored state — a forget issued after
  *    the pin still holds — but a forget whose tombstone was already
  *    COMPACTED away is resurrected by restoring a pre-forget pin and
  *    must be re-issued if it is to hold. The LEDGER is kept, so replays
  *    of rolled-back ingest batches stay no-ops; re-ingesting that
  *    content needs new batch/op ids. A crash mid-restore leaves some
  *    components rolled back and others not; rerunning converges (each
  *    component restore is an atomic pointer flip).
  *  - [[dropSnapshot]] releases the pin: the pinned versions become
  *    ordinary GC candidates at the next publish — or now, via
  *    [[vacuum]], the storage release that does not wait for a publish.
  *
  * The read side is shared too: every indexed serve takes a trailing
  * `at: Family.At` (default [[Family.Live]]) and reads its components
  * through [[read]], so the live, previous and pinned serves of a family
  * are one code path that differs only in which version it reads.
  *
  * So is the write side. A family supplies one per-batch STAGER (its
  * `appendToX` passes it to [[append]]) and one compaction rewrite,
  * `fold`; everything else is written here once:
  *  - [[append]] is always STAGED: the stager writes each component
  *    under `staging/<component>` and [[Stage]] publishes the files under
  *    a ledger marker — `b<batchId>-*` for an exactly-once stream batch,
  *    `o<opId>-*` for a plain append. A plain append therefore leaves one
  *    `_ledger/op-<id>` marker, and one that fails between two component
  *    writes publishes nothing (its leavings are sweep-revertible, never
  *    a torn index). The stager runs under the root lease, so it reads
  *    the family's frozen meta there.
  *  - [[compact]] takes the root lease, sweeps uncommitted publishes,
  *    snapshots the pending tombstones, runs `fold` over them, retires
  *    exactly the consumed tombstone files and folds the ledger.
  *    [[autoCompact]] runs it when a component has fragmented.
  *  - a DELETE is "append tombstones, then [[compact]]": the fold is the
  *    one physical delete. A delete therefore also folds the tombstones
  *    that were already pending, and `At.Previous` after it serves the
  *    pre-fold state. The LM is the exception: it deletes by publishing
  *    negated count deltas through [[append]].
  *  - [[ingest]] is the streaming driver: append each micro-batch,
  *    auto-compact, then compact once the stream has drained.
  *
  * `fold(lease, components, tombstones)` receives [[compact]]'s root
  * lease, the component set probed under it and the pending tombstone
  * keys (None when none are pending); it publishes each rewritten
  * component with [[Stage.publishRewrite]] under that lease.
  *
  * And so is the build side: every `saveX` builder runs inside
  * [[rebuild]] with its lease and publishes each directory it writes —
  * components and frozen meta alike — with [[Stage.publishRebuild]], so
  * every directory of an index is born versioned.
  */
final case class Family(
    name: String,
    components: (SparkSession, String) => Seq[String],
    fold: (Stage.Lease, Seq[String], Option[DataFrame]) => Unit) {

  /** Append one batch to the family at `path`, staged and ledgered:
    *  - `batchId = Some(id)`: [[Stage.appendExactlyOnce]] — a replayed
    *    stream batch is a no-op;
    *  - `batchId = None`: [[Stage.publishOnce]] under `opId` — a
    *    caller's id makes a retry idempotent; the default (empty) draws
    *    a fresh id, so a retry re-appends whole, never torn.
    * `stage(staging, components)` writes the batch's rows for each of
    * `components` under `staging/<component>`; it runs under the root
    * lease, after the component set is probed there. */
  def append(spark: SparkSession, path: String, batchId: Option[Long],
             opId: String = "")(stage: (String, Seq[String]) => Unit): Unit = {
    lazy val comps = components(spark, path)
    batchId match {
      case Some(id) =>
        Stage.appendExactlyOnce(spark, path, id, comps)(stage(_, comps))
      case None =>
        val id = if (opId.nonEmpty) opId else Stage.freshOpId()
        Stage.publishOnce(spark, path, id, comps)(stage(_, comps))
    }
  }

  /** Rebuild the family at `path` ([[Stage.rebuild]] over its
    * components): under the root lease, clear the ledger, the tombstones
    * and every component's snapshot pins, then run `build` with it. */
  def rebuild(spark: SparkSession, path: String)
             (build: Stage.Lease => Unit): Unit =
    Stage.rebuild(spark, path, components(spark, path))(build)

  /** Compact the family at `path`: under the root lease, sweep the
    * leavings of uncommitted publishes (folding them would anonymize a
    * crashed batch's files, and its replay would land twice), fold the
    * pending tombstones into a physical delete with `fold`, retire
    * exactly the tombstone files the fold consumed (keys appended
    * mid-fold stay pending) and fold the ledger to its high-water
    * marker. Each component publishes atomically, so a crash
    * mid-compaction leaves the fragmented-but-correct state serving. */
  def compact(spark: SparkSession, path: String): Unit =
    Stage.withWriterLease(spark, path) { lease =>
      val comps = components(spark, path)
      Stage.sweepUncommitted(lease, path, comps)
      val snap = Stage.tombstoneSnapshot(spark, path)
      fold(lease, comps, snap.map(_._1))
      Stage.resetTombstones(lease, path, snap.map(_._2).getOrElse(Nil))
      Stage.compactLedger(lease, path)
    }

  /** [[compact]] when some component has fragmented past
    * `maxFilesPerComponent` live files ([[Stage.shouldCompact]]);
    * otherwise a metadata-only listing. The self-maintenance hook of a
    * streaming sink. Returns whether a compaction ran. */
  def autoCompact(spark: SparkSession, path: String,
                  maxFilesPerComponent: Int = 64): Boolean = {
    val go = Stage.shouldCompact(spark, path, components(spark, path),
      maxFilesPerComponent)
    if (go) compact(spark, path)
    go
  }

  /** Drain `stream` into the family at `path`: a `foreachBatch` query
    * checkpointed at `$path.ckpt` runs `append(batch, batchId)` (an
    * exactly-once append) then [[autoCompact]] per micro-batch, is
    * stopped once everything available has been processed, and the
    * per-batch file trail is compacted before returning. */
  def ingest(stream: DataFrame, path: String)(
      append: (DataFrame, Long) => Unit): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", s"$path.ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        append(batch, batchId)
        autoCompact(batch.sparkSession, path)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    compact(stream.sparkSession, path)
  }

  /** Pin the family at `path` under the snapshot name `pin`
    * ([[Stage.snapshot]] per component, under the root lease). */
  def snapshot(spark: SparkSession, path: String, pin: String): Unit =
    Stage.withWriterLease(spark, path)(snapshot(_, pin))

  /** [[snapshot]] under a root lease the caller holds (a campaign). */
  private[graft] def snapshot(lease: Stage.Lease, pin: String): Unit = {
    val path = lease.root
    val comps = components(lease.spark, path)
    // a crashed batch's doomed partials must not be pinned (the pin
    // records file lists; a later sweep would dangle them)
    Stage.sweepUncommitted(lease, path, comps)
    comps.foreach(c => Stage.snapshot(lease, s"$path/$c", pin))
  }

  /** The components at `path` that do NOT carry the pin `pin`. */
  private[graft] def unpinned(spark: SparkSession, path: String,
                              pin: String): Seq[String] =
    components(spark, path).filter(c =>
      Stage.resolveSnapshot(spark, s"$path/$c", pin).isEmpty)

  /** ROLL the live state at `path` back to the pin `pin`
    * ([[Stage.restoreSnapshot]] per component, under the root lease).
    * Throws IllegalArgumentException naming the unpinned components and
    * the path when any component lacks the pin — nothing restored. */
  def restore(spark: SparkSession, path: String, pin: String): Unit =
    Stage.withWriterLease(spark, path)(restore(_, pin))

  /** [[restore]] under a root lease the caller holds. */
  private[graft] def restore(lease: Stage.Lease, pin: String): Unit = {
    val (spark, path) = (lease.spark, lease.root)
    val missing = unpinned(spark, path, pin)
    require(missing.isEmpty,
      s"snapshot '$pin' does not pin component(s) " +
        s"${missing.mkString(", ")} of $path — nothing restored")
    components(spark, path).foreach(c =>
      Stage.restoreSnapshot(lease, s"$path/$c", pin))
  }

  /** Release the pin `pin` ([[Stage.dropSnapshot]] per component).
    * Idempotent: an unknown name is a no-op. */
  def dropSnapshot(spark: SparkSession, path: String, pin: String): Unit =
    components(spark, path).foreach(c =>
      Stage.dropSnapshot(spark, s"$path/$c", pin))

  /** Reclaim the stale versions at `path` now ([[Stage.vacuum]] per
    * component, under the root lease). */
  def vacuum(spark: SparkSession, path: String): Unit =
    Stage.withWriterLease(spark, path) { lease =>
      components(spark, path).foreach(c => Stage.vacuum(lease, s"$path/$c"))
    }

  /** [[Stage.healthReport]] over the family's components at `path`. */
  def health(spark: SparkSession, path: String): DataFrame =
    Stage.healthReport(spark, path, components(spark, path))

  /** Component `component` of the family at `path`, read at version `at`:
    *  - [[Family.Live]]: the `_current` version ([[Stage.resolve]]) — no
    *    snapshot or previous-pointer probe;
    *  - [[Family.Previous]]: the version the last publish superseded
    *    ([[Stage.resolvePrevious]]), kept for ONE publish cycle;
    *  - [[Family.Pinned]]: the snapshot's pinned FILE LIST
    *    ([[Stage.readSnapshot]]) — not the version directory, which
    *    absorbs every append published after the pin.
    * Throws IllegalStateException naming the component path and the
    * family when the requested version does not exist. Serves read
    * [[Stage.pendingTombstones]] BEFORE calling this (the linearizable
    * order), and the tombstones mask every version alike: a forget
    * issued after a pin still holds for the pinned read. */
  def read(spark: SparkSession, path: String, at: Family.At)(
      component: String): DataFrame = {
    val dir = s"$path/$component"
    at match {
      case Family.Live => Tables.parquet(spark, Stage.resolve(spark, dir))
      case Family.Previous => Tables.parquet(spark,
        Stage.resolvePrevious(spark, dir).getOrElse(
          throw new IllegalStateException(s"$dir has no previous version " +
            s"to serve — $name previous-serving needs at least two " +
            "publishes since the last rebuild")))
      case Family.Pinned(pin) => Stage.readSnapshot(spark, dir, pin)
        .getOrElse(throw new IllegalStateException(s"$dir has no " +
          s"snapshot named '$pin' — pin the $name family with its " +
          "snapshot before serving it"))
    }
  }
}

object Family {

  /** Which version of a family's state a serve reads ([[Family.read]]). */
  sealed trait At

  /** The live state: the default of every serve. */
  case object Live extends At

  /** The state the last maintenance publish (delete, compaction)
    * superseded — the validate-before-trust read, at zero extra storage
    * because the versioned publish keeps it one cycle for in-flight
    * readers. */
  case object Previous extends At

  /** The state pinned under snapshot `name` ([[Family.snapshot]]), any
    * number of maintenance ops later. */
  final case class Pinned(name: String) extends At

  /** Maintenance DIFF of a ranked serve's two states: `serve(Previous)`
    * vs `serve(Live)` full-outer-joined on `keys`, each side's `score`
    * column renamed `<as>_before`/`<as>_after` beside its
    * `rank_before`/`rank_after`, plus a status — `dropped` (left the
    * top-k: deleted, or displaced), `entered`, `moved`, `held` —
    * ordered by `keys`. */
  private[graft] def rankDiff(serve: At => DataFrame, keys: Seq[String],
                              score: String, as: String): DataFrame = {
    def side(at: At, tag: String) = serve(at).select(
      keys.map(col) :+ col(score).as(s"${as}_$tag") :+
        col("rank").as(s"rank_$tag"): _*)
    side(Previous, "before").join(side(Live, "after"), keys, "full_outer")
      .withColumn("status",
        when(col("rank_after").isNull, lit("dropped"))
          .when(col("rank_before").isNull, lit("entered"))
          .when(col("rank_before") =!= col("rank_after"), lit("moved"))
          .otherwise(lit("held")))
      .orderBy(keys.map(col): _*)
  }
}
