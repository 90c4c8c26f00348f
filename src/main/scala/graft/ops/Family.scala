package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when, xxhash64}

/** One persisted-index FAMILY: a name and the versioned components that
  * live under each of its roots. The named-snapshot lifecycle is the
  * same for every family — only the component set differs — so it is
  * written once here, over [[Stage]]'s per-component primitives, and
  * each family declares one descriptor: `Search.TextIndex`,
  * `Dedup.MinhashManifest`, `Dedup.WinnowManifest`, `Dedup.SetSimIndex`,
  * `Corpus.Lm`, `Similarity.IvfIndex`, `Similarity.PqIndex` and
  * `Similarity.BinaryIndex`.
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
  * through one [[view]], so the live, previous and pinned serves of a
  * family are one code path that differs only in which version it reads.
  *
  * So are TOMBSTONES. The descriptor's [[Family.Key]] says how a row of
  * its masked components matches a tombstone key; [[tombstone]] writes
  * the keys, a [[view]] loads the pending ones once and masks its reads,
  * and [[mask]]/[[matched]] are the one anti-/semi-join every serve and
  * fold goes through.
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
  *  - a DELETE is [[delete]]: [[tombstone]], then [[compact]]; the fold
  *    is the one physical delete. A delete therefore also folds the
  *    tombstones that were already pending, and `At.Previous` after it
  *    serves the pre-fold state. The LM is the exception: it deletes by
  *    publishing negated count deltas through [[append]].
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
    fold: (Stage.Lease, Seq[String], Option[DataFrame]) => Unit,
    key: Family.Key = Family.Key(Set.empty)) {

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

  /** Record `keys` as pending deletes of the family at `path`: one
    * column, named as [[Family.Key]] says (the index's id column, or
    * `seth` for a content-keyed family). Batch-sized work: every [[view]]
    * masks the keys at once, and the next [[compact]] folds them into a
    * physical delete. The append rides Spark's commit protocol
    * (uncommitted task files stay under `_temporary`), so a crashed
    * tombstone leaves no torn key set. */
  def tombstone(path: String, keys: DataFrame): Unit = {
    require(keys.columns.length == 1,
      s"$name tombstone keys are one column, got ${keys.columns.mkString(", ")}")
    val named = if (key.hashOf.isDefined) keys.toDF("seth") else keys
    named.distinct().write.mode("append")
      .parquet(Stage.resolve(keys.sparkSession, s"$path/tombstones"))
  }

  /** The immediate delete: [[tombstone]] `keys`, then [[compact]]. The
    * tombstones go down first, so every crash window serves the masked
    * index and re-running converges. */
  def delete(path: String, keys: DataFrame): Unit = {
    tombstone(path, keys)
    compact(keys.sparkSession, path)
  }

  /** `rel` minus the rows a key in `tomb` matches — the ONE tombstone
    * mask: an anti-join of the row key ([[Family.Key]]) against the keys,
    * which Spark broadcasts (the pending set is small by the drip-feed
    * contract). `rel` itself when nothing is pending. An id key joins by
    * name, so it leads the output's columns. */
  def mask(rel: DataFrame, tomb: Option[DataFrame]): DataFrame =
    tomb.fold(rel)(keyJoin(rel, _, "left_anti"))

  /** The rows of `rel` a key in `tomb` matches (none when nothing is
    * pending): what a fold deletes from the components derived from a
    * masked one (the MinHash bands, the set-sim postings). */
  def matched(rel: DataFrame, tomb: Option[DataFrame]): DataFrame =
    tomb.fold(rel.limit(0))(keyJoin(rel, _, "left_semi"))

  private def keyJoin(rel: DataFrame, tomb: DataFrame,
                      how: String): DataFrame = key.hashOf match {
    case Some(c) => rel.withColumn("seth", xxhash64(col(c)))
      .join(tomb, Seq("seth"), how).drop("seth")
    case None => rel.join(tomb, tomb.columns.toSeq, how)
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
    * family when the requested version does not exist. Unmasked: a serve
    * reads through a [[view]], which loads the tombstones first. */
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

  /** The one READ entry point of a serve: a [[Family.View]] of the family
    * at `path`, version `at`. */
  def view(spark: SparkSession, path: String,
           at: Family.At = Family.Live): View =
    new View(spark, path, at)

  /** One serve's read of the family. The pending tombstones load when the
    * view is made, BEFORE any component resolves (the linearizable order
    * of [[Stage.tombstoneSnapshot]]), and mask every version alike: a
    * forget issued after a pin holds for the pinned read too. Each
    * component resolves once per view. */
  final class View private[Family] (spark: SparkSession, path: String,
                                    at: Family.At) {

    /** The pending tombstone keys, None when nothing is pending. */
    val tombstones: Option[DataFrame] =
      Stage.tombstoneSnapshot(spark, path).map(_._1)

    private val reads = scala.collection.mutable.Map.empty[String, DataFrame]

    /** Component `c` at `at` as stored ([[read]]), unmasked. */
    def raw(c: String): DataFrame =
      reads.getOrElseUpdate(c, read(spark, path, at)(c))

    /** Component `c` at `at`, minus tombstoned rows if the key masks it. */
    def apply(c: String): DataFrame =
      if (key.masks(c)) mask(raw(c)) else raw(c)

    /** `rel`, derived from this view's rows, minus the tombstoned ones —
      * for a serve that masks after a join rather than at the read. */
    def mask(rel: DataFrame): DataFrame =
      Family.this.mask(rel, tombstones)
  }
}

object Family {

  /** How a row of a family's components matches a tombstone key: an id
    * key by the row column its tombstones are named after (`vec_id`,
    * winnow's `doc`, the text builder's `idCol`), a content key by the
    * `xxhash64` of column `hashOf` against tombstones named `seth`. A
    * [[Family.View]] masks the components in `masks` at the read; the
    * rest read as stored (meta, stats, the candidate-only MinHash bands
    * and set-sim postings) or mask after a join ([[Family.View.mask]]:
    * the text `positions`, winnow's `fps`). The default masks nothing at
    * the read: winnow's, and the LM's, which keeps no tombstones. */
  final case class Key(masks: Set[String], hashOf: Option[String] = None)

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
