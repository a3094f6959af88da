package graft.operators

import java.nio.file.{Files, Paths}

/** The shared versioned-artifact lifecycle under a model directory —
  * the machinery [[BpeModel]] introduced, factored out so every
  * model-sized artifact (BPE merge tables, OPQ rotations) rides ONE
  * implementation of the same contract:
  *
  *  - artifacts live as `v=<n>` subdirectories of a stable root;
  *  - `save` stages the payload in a sibling dir, stamps the optional
  *    corpus fingerprint as a `_fingerprint` file INSIDE the staging dir
  *    (commits atomically with the payload; parquet readers skip
  *    underscore files), and claims the next version
  *    ([[graft.util.Publish.claim]]) —
  *    a crashed writer can never leave a partial version visible, and
  *    racing writers get distinct versions;
  *  - `versions`/`fingerprintOf` expose the history; callers holding the
  *    current corpus fingerprint detect STALE artifacts by comparison
  *    and supersede by saving the next version.
  */
private[operators] object VersionedArtifact {

  private val VersionDir = "v=(\\d+)".r

  /** All complete versions under `dir`, ascending; empty if the
    * directory doesn't exist yet. */
  def versions(dir: String): Seq[Long] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Seq.empty
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.list(root))(
      _.iterator().asScala.toList).collect {
      case p if Files.isDirectory(p) =>
        p.getFileName.toString match {
          case VersionDir(n) => Some(n.toLong)
          case _ => None
        }
    }.flatten.sorted
  }

  /** The corpus fingerprint `version` was built from, or None for a
    * version saved without one (its staleness is UNKNOWN — callers must
    * treat that as their own policy decision, not as fresh). */
  def fingerprintOf(dir: String, version: Long): Option[String] = {
    val f = Paths.get(dir, s"v=$version", "_fingerprint")
    if (Files.isRegularFile(f))
      Some(new String(Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8))
    else None
  }

  /** Stage (via `write(stagingPath)`), stamp, and atomically claim the
    * next version number; returns it. The JVM-level lock serializes the
    * local case; cross-JVM races resolve by the claim failing on an
    * existing target, retried with the next number. */
  def save(dir: String, fingerprint: Option[String])(
      write: String => Unit): Long = synchronized {
    val root = Paths.get(dir)
    Files.createDirectories(root)
    var attempt = versions(dir).foldLeft(0L)(math.max) + 1
    var done = -1L
    while (done < 0) {
      val staging = root.resolve(
        s"staging-${java.util.UUID.randomUUID().toString.take(8)}")
      write(staging.toString)
      fingerprint.foreach(fp => Files.write(
        staging.resolve("_fingerprint"),
        fp.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      // a lost cross-JVM race means "taken, try the next"
      if (graft.util.Publish.claim(staging, root.resolve(s"v=$attempt")))
        done = attempt
      else attempt += 1
    }
    done
  }
}
