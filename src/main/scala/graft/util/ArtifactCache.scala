package graft.util

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The shared fingerprint-keyed artifact-cache discipline for query
  * entries that exercise a PERSISTED artifact (IVF/PQ indexes, dedup
  * state, the event-log mirror, the lexical search index): build once per
  * source-data fingerprint into a staging dir, atomically rename into
  * place, and serve every later run from the cached copy. Concurrent
  * builders race benignly (the loser keeps the winner's copy); a crashed
  * build leaves only an unreachable staging dir.
  */
object ArtifactCache {

  /** Fingerprint of every regular file under `src` (a file or a
    * directory tree): relative NAME + size + mtime per file, md5'd. File
    * names matter — Spark randomizes part-file names on every write, so an
    * overwrite with equal total bytes landing in the same millisecond
    * (dictionary-encoded same-shape corpora do collide on size) still
    * changes the key; size+mtime alone does not guarantee that. The one
    * fingerprint every corpus-keyed cache in the engine shares; throws if
    * `src` is unreadable — callers that can fall back to uncached work
    * catch around THIS call only. */
  def fingerprintOf(src: Path): String = {
    import scala.jdk.CollectionConverters._
    val files = scala.util.Using.resource(Files.walk(src))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).toList)
    val entries = files.map { f =>
      s"${src.relativize(f)}:${Files.size(f)}:" +
        s"${Files.getLastModifiedTime(f).toMillis}"
    }.sorted
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Return the cached artifact dir for (`src`, `prefix`), building it
    * via `build(stagingPath)` on first use. `readyMarker` is a file or
    * directory that exists inside every complete artifact — its presence
    * is the serve-from-cache signal. */
  def ensure(src: Path, prefix: String, readyMarker: String)(
      build: String => Unit): String = synchronized {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$src|${fingerprintOf(src)}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val base = Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), s"$prefix-$key")
    if (Files.exists(base.resolve(readyMarker))) return base.toString
    val staging = Paths.get(
      base.toString + ".build-" +
        java.util.UUID.randomUUID().toString.take(8))
    build(staging.toString)
    try Files.move(staging, base, StandardCopyOption.ATOMIC_MOVE)
    catch {
      // FileSystemException covers every way a lost race can surface:
      // FileAlreadyExists/DirectoryNotEmpty, but ALSO the generic form the
      // JDK raises for ENOTEMPTY when renaming a directory onto an
      // existing non-empty one on Linux — the common losing-builder path
      case e: java.nio.file.FileSystemException =>
        graft.storage.ParquetLogBackend.deleteRecursively(staging)
        // a lost race must leave the winner's copy; a permission or I/O
        // failure has no winner and must surface
        if (!Files.exists(base.resolve(readyMarker))) throw e
    }
    base.toString
  }
}
