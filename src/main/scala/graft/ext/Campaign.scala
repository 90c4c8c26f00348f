package graft.ext

import graft.ops.{Family, Stage}
import org.apache.spark.sql.SparkSession

/** Cross-family CAMPAIGN snapshots: one name pinning several persisted
  * indexes at ONE logical instant.
  *
  * The per-family pins ([[graft.ops.Family.snapshot]] over
  * [[Search.TextIndex]], [[Dedup.MinhashManifest]], [[Corpus.Lm]],
  * [[Similarity.IvfIndex]], ...) are each internally consistent —
  * every component of one family moves together under its root lease.
  * But a production pipeline serves SEVERAL families built from the same
  * corpus (the text index it retrieves with, the dedup manifest it
  * admits against, the LM it scores with), and "reproduce this release"
  * means all of them as of one instant: a dedup verdict computed against
  * yesterday's manifest next to BM25 scores from today's index is a
  * cross-family inconsistency no single-family pin can rule out.
  * Without this operator, that consistency was manual operator
  * sequencing (quiesce everything, pin each family, hope nothing
  * landed in between).
  *
  * [[snapshot]] makes it a primitive: it takes every member family's
  * ROOT writer lease — the lease all of that family's maintenance ops,
  * exactly-once ingest batches, and single-family pins serialize on —
  * in ONE FIXED GLOBAL ORDER (sorted by root path), then pins each
  * family under the shared name, then releases. While the leases are
  * held nothing can publish into any member, so the pins capture one
  * logical instant across all families; the fixed acquisition order
  * makes two concurrent campaign snapshots deadlock-free (they collide
  * on the first shared root and the loser fails loudly with the lease's
  * contention error, like any concurrent maintenance op).
  *
  * Cost: metadata-only per member (the family pins record file lists),
  * plus blocking member ingest for the pin's duration — milliseconds,
  * not a data pass. On failure (e.g. a member still in a plain,
  * never-published layout), the name is rolled back best-effort before
  * the error propagates — components whose pin pre-existed under this
  * name get it RESTORED byte-for-byte (re-pinning an existing campaign
  * name is routine, and a failed refresh must not destroy the previous
  * campaign), fresh pins are dropped — so a campaign name never
  * resolves to a partial or mixed member set.
  *
  * Serving reads nothing new: each family's serve takes the campaign
  * name as `at = Family.Pinned(name)` (q133 serves all three from one
  * pin).
  * [[drop]] releases every member's pin; [[vacuum]] reclaims the
  * storage immediately ([[Stage.vacuum]] per member component).
  */
object Campaign {

  /** A campaign member: one persisted index root and the family whose
    * components live under it. */
  final case class Member(family: Family, path: String)

  /** Pin every member under `name` at one logical instant — all member
    * root leases held (in sorted-path order) for the duration of all
    * pins. Fails loudly if any member cannot be pinned, rolling back
    * the pins already taken under this name. */
  def snapshot(spark: SparkSession, name: String,
               members: Seq[Member]): Unit = {
    require(members.nonEmpty, "a campaign needs at least one member")
    require(members.map(_.path).distinct.size == members.size,
      s"campaign members must have distinct roots, got " +
        members.map(_.path).mkString(", "))
    withLeases(spark, members) { held =>
      // capture every component's EXISTING pin bytes under this name
      // before anything overwrites them: re-pinning an existing
      // campaign name is routine (each release refreshes its pin), and
      // a failed refresh must put the PREVIOUS campaign back, not drop
      // its pins. Safe under the held leases: GC only runs inside a
      // publish, which the leases exclude, so the old pinned versions
      // survive the capture→overwrite→restore window.
      val prior = held.flatMap { case (m, lease) =>
        m.family.components(spark, m.path).map { c =>
          val dir = s"${m.path}/$c"
          (lease, dir, Stage.rawSnapshotPin(lease, dir, name))
        }
      }
      // each member's family pin runs under its held root lease, so the
      // family-level guarantees apply inside the campaign's instant
      try held.foreach { case (m, lease) => m.family.snapshot(lease, name) }
      catch {
        case scala.util.control.NonFatal(e) =>
          // never leave a partial campaign behind the name: restore
          // each component's prior pin where one existed, drop where
          // none did (best-effort), then surface the original failure
          prior.foreach { case (lease, dir, bytes) =>
            try bytes match {
              case Some(b) => Stage.restoreRawSnapshotPin(lease, dir, name, b)
              case None    => Stage.dropSnapshot(spark, dir, name)
            } catch { case scala.util.control.NonFatal(_) => () }
          }
          throw e
      }
    }
  }

  /** ROLL every member BACK to its pin under `name` — the cross-family
    * undo: when post-release validation says the campaign's maintenance
    * was wrong, one call returns the text index, manifest, and LM to the
    * instant [[snapshot]] captured. Same fixed sorted-path lease order
    * as the pin (deadlock-free against concurrent campaigns), and the
    * same all-or-nothing entry check: every member must carry the pin
    * before ANY is restored, so a partially-pinned name (or a member
    * list that does not match the pin's) fails loudly up front. The
    * restores themselves run inside the held leases, so no ingest batch
    * can land between two members' rollbacks — the restored state is
    * cross-family consistent by the same argument as the pin. A crash
    * mid-restore leaves earlier members rolled back; rerunning converges
    * (each member restore is idempotent). The pins survive.
    */
  def restore(spark: SparkSession, name: String,
              members: Seq[Member]): Unit = {
    require(members.nonEmpty, "a campaign needs at least one member")
    withLeases(spark, members) { held =>
      val missing = held.map(_._1).filter(m =>
        m.family.unpinned(spark, m.path, name).nonEmpty)
      require(missing.isEmpty,
        s"campaign '$name' does not pin member(s) " +
          s"${missing.map(_.path).mkString(", ")} — nothing restored")
      held.foreach { case (m, lease) => m.family.restore(lease, name) }
    }
  }

  /** Run `body` holding every member's root lease, acquired in THE fixed
    * global order (sorted by root path) that keeps concurrent campaigns
    * deadlock-free. */
  private def withLeases(spark: SparkSession, members: Seq[Member])
                        (body: List[(Member, Stage.Lease)] => Unit): Unit = {
    def nest(rest: List[Member], held: List[(Member, Stage.Lease)]): Unit =
      rest match {
        case Nil => body(held.reverse)
        case m :: tail =>
          Stage.withWriterLease(spark, m.path)(l => nest(tail, (m, l) :: held))
      }
    nest(members.sortBy(_.path).toList, Nil)
  }

  /** Release every member's pin under `name`. The pinned versions become
    * ordinary GC candidates at each family's next publish — or
    * immediately via [[vacuum]]. Idempotent (unknown names no-op). */
  def drop(spark: SparkSession, name: String, members: Seq[Member]): Unit =
    members.foreach(m => m.family.dropSnapshot(spark, m.path, name))

  /** Reclaim every member's stale versions now — the storage release
    * after [[drop]], without waiting for each family's next publish. */
  def vacuum(spark: SparkSession, members: Seq[Member]): Unit =
    members.foreach(m => m.family.vacuum(spark, m.path))

  /** One operational dashboard for the whole campaign: every member's
    * [[Stage.healthReport]] rows (live version, file/byte counts,
    * ledger/tombstone/uncommitted-op state, pinned versions, writer
    * lock in flight) unioned under `family` and `root` columns — the
    * single query an operator reads before deciding which member needs
    * a compaction, a pending-op retry, or a dropped pin. Metadata-only,
    * like the per-family report.
    */
  def healthReport(spark: SparkSession,
                   members: Seq[Member]): org.apache.spark.sql.DataFrame = {
    require(members.nonEmpty, "a campaign needs at least one member")
    import org.apache.spark.sql.functions.{col, lit}
    members.map { m =>
      val r = m.family.health(spark, m.path)
      r.select(lit(m.family.name).as("family") +: lit(m.path).as("root") +:
        r.columns.map(col): _*)
    }.reduce(_ unionByName _)
  }
}
