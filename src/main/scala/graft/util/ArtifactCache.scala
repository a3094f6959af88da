package graft.util

import java.nio.file.{Files, Path, Paths}

/** The shared fingerprint-keyed artifact-cache discipline for query
  * entries that exercise a PERSISTED artifact (IVF/PQ indexes, dedup
  * state, the event-log mirror, the lexical search index): build once per
  * source-data fingerprint and builder version into a staging dir, publish
  * it with [[Publish.claim]], and serve every later run from the cached
  * copy. Concurrent builders race benignly (the loser keeps the winner's
  * copy); a crashed build leaves only an unreachable staging dir.
  */
object ArtifactCache {

  /** One kind of cached artifact: its directory-name `prefix`, the
    * `readyMarker` entry that exists inside every complete copy, and the
    * `version` of its builder. Bump `version` whenever the artifact's
    * layout or fit changes: it is part of the cache key, so copies built
    * by older code are rebuilt instead of served. */
  final case class Kind(prefix: String, readyMarker: String, version: Int)

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
    md5(entries.mkString("\n"))
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Return the cached artifact dir of `kind` for `src`, building it via
    * `build(stagingPath)` on first use. The ready marker's presence is the
    * serve-from-cache signal; it can only sit on a complete copy, because
    * the whole staging dir is published at once. */
  def ensure(src: Path, kind: Kind)(build: String => Unit): String =
    synchronized {
      val key = md5(s"$src|v${kind.version}|${fingerprintOf(src)}").take(12)
      val base = Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"), s"${kind.prefix}-$key")
      if (Files.exists(base.resolve(kind.readyMarker))) return base.toString
      val staging = Paths.get(
        base.toString + ".build-" +
          java.util.UUID.randomUUID().toString.take(8))
      build(staging.toString)
      if (!Publish.claim(staging, base) &&
          !Files.exists(base.resolve(kind.readyMarker)))
        throw new IllegalStateException(
          s"$base exists without its ready marker ${kind.readyMarker}")
      base.toString
    }
}
