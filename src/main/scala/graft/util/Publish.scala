package graft.util

import java.nio.channels.FileChannel
import java.nio.file.{
  FileSystemException, Files, Path, StandardCopyOption, StandardOpenOption}

/** The one way a staged write becomes visible: force every file of the
  * stage, rename it into place atomically, then fsync the parent
  * directory so the rename itself is durable (write, fsync, then make
  * visible — the reference's order, file.go). The atomic-create discipline
  * of Spark's `CheckpointFileManager`, in three verbs:
  *
  *  - [[claim]]: publish under a name that must not exist yet;
  *  - [[replace]]: atomically overwrite one file;
  *  - [[swap]]: the two-rename generation flip, rolled back on open by
  *    [[recover]]. */
object Publish {

  /** Called after every step of every verb with the step's name and the
    * target: a seam for crash-image tests, which copy a store's directory
    * at each step and reopen the copy. A no-op otherwise. */
  @volatile private[graft] var onStep: (String, Path) => Unit = (_, _) => ()

  /** Publish `stage` (a file or a non-empty directory) as `target`, which
    * must not exist. Returns false, with the stage deleted, when another
    * writer published `target` first. A file goes in with link(2), which
    * fails on any existing target (rename(2) would replace it); a
    * directory with rename(2), which fails on any non-empty one — and
    * every claimed directory is non-empty. */
  def claim(stage: Path, target: Path): Boolean = {
    val dir = Files.isDirectory(stage)
    if (dir) require(scala.util.Using.resource(Files.list(stage))(
      _.findAny().isPresent), s"claim of an empty directory $stage")
    force(stage)
    onStep("staged", target)
    try {
      if (dir) Files.move(stage, target, StandardCopyOption.ATOMIC_MOVE)
      else {
        Files.createLink(target, stage)
        Files.delete(stage)
      }
    } catch {
      case e: FileSystemException =>
        deleteRecursively(stage)
        // a lost race leaves the winner's copy; a failure with no winner
        // (permissions, I/O) must surface
        if (Files.exists(target)) return false
        throw e
    }
    renamed(target)
    true
  }

  /** Atomically overwrite the file `target` with the file `stage`. */
  def replace(stage: Path, target: Path): Unit = {
    force(stage)
    onStep("staged", target)
    Files.move(stage, target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    renamed(target)
  }

  private def renamed(target: Path): Unit = {
    onStep("renamed", target)
    fsync(target.getParent)
    onStep("synced", target)
  }

  /** The retired generation of `target` while a [[swap]] is in flight. */
  def oldOf(target: Path): Path =
    target.resolveSibling(target.getFileName.toString + ".old")

  /** Replace the directory `target` with `stage`: `target` moves to
    * [[oldOf]], the stage moves to `target`, and the old generation is
    * deleted. A crash between the two renames leaves `target` missing and
    * the complete old generation at `.old`, for [[recover]]. */
  def swap(stage: Path, target: Path): Unit = {
    val old = oldOf(target)
    force(stage)
    deleteRecursively(old)
    onStep("staged", target)
    if (Files.exists(target)) {
      Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
      onStep("retired", target)
    }
    Files.move(stage, target, StandardCopyOption.ATOMIC_MOVE)
    renamed(target)
    deleteRecursively(old)
    onStep("cleaned", target)
  }

  /** Finish or roll back a [[swap]] a crash interrupted: with `target`
    * missing, the old generation moves back; with both present, the swap
    * completed and `.old` is garbage. Run only where no swap of `target`
    * can be in flight (on open, or under the writer's lock). */
  def recover(target: Path): Unit = {
    val old = oldOf(target)
    if (Files.exists(old) && Files.exists(target)) deleteRecursively(old)
    else if (Files.exists(old)) {
      Files.move(old, target, StandardCopyOption.ATOMIC_MOVE)
      fsync(target.getParent)
    }
  }

  /** Create the directory `d` (and missing parents) durably. */
  def createDirectory(d: Path): Unit = {
    Files.createDirectories(d)
    fsync(d.getParent)
  }

  /** fsync every file and directory under `p` (or `p` itself, a file). */
  def force(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toList)
      .foreach(fsync)
  }

  /** fsync one file or directory. Linux supports opening a directory for
    * read+force; elsewhere that throws — degraded to best-effort for
    * directories rather than failing the caller. */
  private def fsync(f: Path): Unit =
    try scala.util.Using.resource(
      FileChannel.open(f, StandardOpenOption.READ))(_.force(true))
    catch { case _: java.io.IOException if Files.isDirectory(f) => () }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      scala.util.Using.resource(Files.walk(p))(
        _.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f)))
    }
}
