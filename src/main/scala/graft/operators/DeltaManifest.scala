package graft.operators

import graft.util.Publish

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** The shared manifest discipline for log-structured delta stores
  * ([[DedupState]], [[DecontamRegistry]]): immutable `delta-<uuid>`
  * directories under one root, referenced by a `manifest-v<N>` text file
  * published with [[Publish.claim]] — one header line (`<magic> <payload>`),
  * then one line per live delta (`<name>\t<ledger>\t<n>`). A crash at
  * any point leaves the previous manifest intact and at worst an
  * unreferenced directory; a lost cross-process race surfaces loudly as
  * an [[IllegalStateException]] (single-writer contract), never as a
  * silently dropped delta.
  *
  * The LEDGER field is the idempotent-replay record: each delta carries
  * the identifier(s) of the ingest operation(s) it holds, joined with
  * [[FpSep]] when compaction merges deltas — so a replayed operation is
  * recognized whatever folding has happened since.
  */
private[operators] object DeltaManifest {

  /** Inner separator of a merged ledger (forbidden in identifiers). */
  val FpSep = '\u001f'

  private val ManifestRe = "manifest-v(\\d+)".r

  final case class Ref(name: String, ledger: String, n: Long) {
    def entries: Seq[String] = ledger.split(FpSep).toSeq
  }

  final case class State(
      dir: String, version: Long, payload: String, refs: Seq[Ref]) {
    def n: Long = refs.iterator.map(_.n).sum
    def ledgerEntries: Set[String] =
      refs.iterator.flatMap(_.entries).toSet
  }

  /** Validate an ingest identifier against the manifest's separators. */
  def requireCleanId(id: String): Unit =
    require(!id.contains("\t") && !id.contains("\n") &&
      !id.contains(FpSep),
      "identifier must not contain tab/newline (manifest field " +
        "separators) or \\u001f (the compaction ledger separator)")

  /** Load the current committed state (highest manifest); `version` 0
    * with `defaultPayload` if none exists yet. */
  def load(dir: String, magic: String, defaultPayload: String): State = {
    val root = Paths.get(dir)
    val versions: Seq[Long] =
      if (!Files.isDirectory(root)) Seq.empty
      else {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(Files.list(root))(
          _.iterator().asScala.toList).flatMap(p =>
          p.getFileName.toString match {
            case ManifestRe(n) if Files.isRegularFile(p) => Some(n.toLong)
            case _ => None
          }).sorted
      }
    versions.lastOption match {
      case None => State(dir, 0L, defaultPayload, Seq.empty)
      case Some(v) =>
        val lines = new String(
          Files.readAllBytes(root.resolve(s"manifest-v$v")),
          StandardCharsets.UTF_8).split("\n").toSeq.filter(_.nonEmpty)
        val header = lines.headOption.getOrElse(
          sys.error(s"empty $magic manifest v$v under $dir"))
        require(header.startsWith(magic),
          s"not a $magic manifest: $dir/manifest-v$v")
        val payload = header.drop(magic.length).trim
        val refs = lines.tail.map { l =>
          val Array(name, ledger, n) = l.split("\t", 3)
          Ref(name, ledger, n.toLong)
        }
        State(dir, v, payload, refs)
    }
  }

  /** Fresh staging path under the root (created by the caller's write). */
  def stagingPath(dir: String): Path = {
    Files.createDirectories(Paths.get(dir))
    Paths.get(dir,
      "staging-" + java.util.UUID.randomUUID().toString.take(12))
  }

  /** Publish a staged delta under a fresh immutable name. */
  def promote(staging: Path): String = {
    val name = "delta-" + java.util.UUID.randomUUID().toString.take(12)
    if (!Publish.claim(staging, staging.resolveSibling(name)))
      throw new IllegalStateException(s"delta name $name already taken")
    name
  }

  /** Commit the next manifest atomically; a lost cross-process race
    * throws rather than silently dropping a delta. */
  def commit(
      dir: String, magic: String, payload: String,
      version: Long, refs: Seq[Ref]): Unit = {
    val root = Paths.get(dir)
    val body = (s"$magic $payload" +:
      refs.map(r => s"${r.name}\t${r.ledger}\t${r.n}"))
      .mkString("", "\n", "\n")
    val tmp = root.resolve(
      ".manifest-tmp-" + java.util.UUID.randomUUID().toString.take(12))
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    // no-clobber: rename(2) would REPLACE an existing manifest, turning a
    // lost cross-process race into a silently dropped delta ref
    if (!Publish.claim(tmp, root.resolve(s"manifest-v$version")))
      throw new IllegalStateException(
        s"concurrent delta-store writer detected at manifest-v$version " +
          s"under $root — writers are single-writer by contract")
  }

  /** Delete unreferenced artifacts under the root: staging leftovers,
    * deltas the CURRENT manifest doesn't hold, and `.manifest-tmp-*`
    * files a crash between write and publish left behind. Single-writer
    * contract — never run concurrently with an in-flight commit. */
  def gc(dir: String, magic: String, defaultPayload: String): Int = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return 0
    val live = load(dir, magic, defaultPayload).refs.map(_.name).toSet
    import scala.jdk.CollectionConverters._
    val all = scala.util.Using.resource(Files.list(root))(
      _.iterator().asScala.toList)
    val doomedDirs = all.filter { p =>
      val n = p.getFileName.toString
      Files.isDirectory(p) &&
        ((n.startsWith("delta-") && !live.contains(n)) ||
          n.startsWith("staging-"))
    }
    val doomedTmp = all.filter { p =>
      Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith(".manifest-tmp-")
    }
    doomedDirs.foreach(Publish.deleteRecursively)
    doomedTmp.foreach(p => Files.deleteIfExists(p))
    doomedDirs.size + doomedTmp.size
  }
}
