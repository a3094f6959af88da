package graft.storage

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Storage backend contract ≙ the reference's `EventLogger` interface
  * (/root/reference/eventlog/eventlog.go:41-104), re-expressed around a
  * DataFrame snapshot instead of a per-event callback scan.
  *
  * Implementations own the single-writer commit sequencer: version
  * assignment, OCC checks, atomic multi-append, and durability. Events
  * arriving here are already validated + minified by the [[graft.core.EventLog]]
  * facade; backends enforce only the payload size limit (mirroring the
  * reference split: eventlog.go:154-171 vs file.go:371-410).
  */
trait EventLogBackend extends AutoCloseable {

  /** Append one event; returns the assigned version. */
  def append(e: EventData): AppendResult

  /** Atomic all-or-nothing multi-append sharing one timestamp.
    * Empty input is a no-op returning the current version
    * (reference inmem.go:214-219). */
  def appendMulti(es: Seq[EventData]): AppendResult

  /** OCC append: commits iff `assumedVersion` is still the latest version,
    * else throws [[Errors.ErrMismatchingVersions]]
    * (reference eventlog.go:202-224). */
  def appendCheck(assumedVersion: Long, e: EventData): AppendResult

  /** OCC multi-append. */
  def appendCheckMulti(assumedVersion: Long, es: Seq[EventData]): AppendResult

  /** Idempotent multi-append for exactly-once streaming sinks. The commit
    * is tagged with (queryId, batchId); replaying the LATEST committed
    * batch for that query returns its recorded version range instead of
    * appending again (Spark re-runs at most the last uncommitted
    * micro-batch, so that is the whole replay surface). A batchId BELOW
    * the latest recorded one throws: its range is no longer recorded, and
    * returning the newest batch's range would silently mislabel versions.
    * Durable backends persist the tag with the commit itself, so
    * idempotence survives crash + reopen. */
  def appendMultiTxn(
      queryId: String, batchId: Long, es: Seq[EventData]): AppendResult

  /** Latest committed version; 0 when empty. */
  def version: Long

  /** First version (1 for a dense log); 0 when empty. */
  def versionInitial: Long

  /** Immutable creation-time metadata. */
  def metadata: Map[String, String]

  /** Snapshot of all committed events as a DataFrame with
    * [[EventSchema.schema]]. Immutable once returned (snapshot isolation —
    * later appends don't mutate it). */
  def snapshot(): DataFrame

  /** Version-bounded snapshot: contains AT LEAST every committed event with
    * version in [minVersion, maxVersion], possibly more — segment pruning is
    * file-granular, so callers still apply their exact predicates. Backends
    * with segment statistics use the bounds to skip whole files at plan
    * time; in-memory rows (the whole [[InMemoryBackend]] store, the
    * [[ParquetLogBackend]] tail) are sliced to the range exactly. The
    * default is the full snapshot. */
  def snapshotRange(minVersion: Long, maxVersion: Long): DataFrame = snapshot()

  /** The committed events with version in [lo, hi], ascending, as driver
    * rows: what one HTTP page or one window of an unbounded HTTP scan reads.
    * Both product backends read on the calling thread with no Spark job
    * ([[InMemoryBackend]] slices its store, [[ParquetLogBackend]] slices its
    * tail and reads the 1-2 overlapping segments with parquet-hadoop). The
    * default collects [[snapshotRange]] through a Spark job; it is there for
    * decorators that override only `snapshotRange`. */
  def readRange(lo: Long, hi: Long): Seq[StoredEvent] =
    if (hi < lo) Nil
    else snapshotRange(lo, hi).filter(col("version").between(lo, hi))
      .orderBy(col("version")).collect().toSeq.map(StoredEvent.fromRow)

  /** Payload byte-size limit enforced on append. */
  def payloadLimit: Int

  protected final def checkPayloadSize(es: Seq[EventData]): Unit =
    es.foreach { e =>
      val n = e.payloadJson.getBytes("UTF-8").length
      if (n > payloadLimit) throw new Errors.ErrPayloadSizeLimitExceeded
    }
}
