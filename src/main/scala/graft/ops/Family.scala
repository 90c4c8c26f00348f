package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  *    Requires a versioned layout: pin after the first maintenance op,
  *    or build born-versioned.
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
  */
final case class Family(name: String,
                        components: (SparkSession, String) => Seq[String]) {

  /** Pin the family at `path` under the snapshot name `pin`
    * ([[Stage.snapshot]] per component, under the root lease). */
  def snapshot(spark: SparkSession, path: String, pin: String): Unit =
    Stage.withWriterLease(spark, path) {
      val comps = components(spark, path)
      // a crashed batch's doomed partials must not be pinned (the pin
      // records file lists; a later sweep would dangle them)
      Stage.sweepUncommitted(spark, path, comps)
      comps.foreach(c => Stage.snapshot(spark, s"$path/$c", pin))
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
    Stage.withWriterLease(spark, path) {
      val missing = unpinned(spark, path, pin)
      require(missing.isEmpty,
        s"snapshot '$pin' does not pin component(s) " +
          s"${missing.mkString(", ")} of $path — nothing restored")
      components(spark, path).foreach(c =>
        Stage.restoreSnapshot(spark, s"$path/$c", pin))
    }

  /** Release the pin `pin` ([[Stage.dropSnapshot]] per component).
    * Idempotent: an unknown name is a no-op. */
  def dropSnapshot(spark: SparkSession, path: String, pin: String): Unit =
    components(spark, path).foreach(c =>
      Stage.dropSnapshot(spark, s"$path/$c", pin))

  /** Reclaim the stale versions at `path` now ([[Stage.vacuum]] per
    * component). */
  def vacuum(spark: SparkSession, path: String): Unit =
    components(spark, path).foreach(c => Stage.vacuum(spark, s"$path/$c"))

  /** [[Stage.healthReport]] over the family's components at `path`. */
  def health(spark: SparkSession, path: String): DataFrame =
    Stage.healthReport(spark, path, components(spark, path))
}
