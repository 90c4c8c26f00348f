package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Reads of an index root's commit claims ([[graft.ops.Stage.claimCommit]])
  * for the invariants the specs assert: a flip's claim under `_fence/`
  * lives exactly as long as its version, and every ledger marker is a
  * claim holding its committer's lease token. */
object Claims {
  private val FlipRe = "flip-(.+)-(v\\d{8})".r

  private def entries(dir: Path): List[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .filterNot(_.getFileName.toString.startsWith(".")).toList
      finally s.close()
    }

  /** The `_fence/` entries under `root` that name no existing version of
    * a directory under `root`. */
  def orphanFlipClaims(root: String): List[String] = {
    val walk = Files.walk(Paths.get(root))
    val dirs = try walk.iterator().asScala.filter(Files.isDirectory(_)).toList
      finally walk.close()
    entries(Paths.get(root, "_fence")).map(_.getFileName.toString).filterNot {
      case FlipRe(dir, v) => dirs.exists(d =>
        d.getFileName.toString == dir && Files.isDirectory(d.resolve(v)))
      case _ => false
    }
  }

  /** The flip claims under `root`'s `_fence/`. */
  def flipClaims(root: String): Set[String] =
    entries(Paths.get(root, "_fence")).map(_.getFileName.toString).toSet

  /** The `_ledger/` markers under `root` whose content is no lease token. */
  def ledgerWithoutToken(root: String): List[String] =
    entries(Paths.get(root, "_ledger")).filterNot(f =>
      new String(Files.readAllBytes(f), "UTF-8").startsWith("pid="))
      .map(_.getFileName.toString)
}
