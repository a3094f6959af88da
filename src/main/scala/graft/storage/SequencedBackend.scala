package graft.storage

import graft.core._
import graft.exprs.EventOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** A fully-formed log entry as held by backends / written to storage. */
final case class StoredEvent(
    version: Long,
    versionPrevious: Long,
    timestamp: Long,
    label: String,
    payload: String,
    checksum: Long) {
  def toRow: Row =
    Row(version, versionPrevious, timestamp, label, payload, checksum)
}

object StoredEvent {
  /** A row of [[EventSchema.schema]]. */
  def fromRow(r: Row): StoredEvent =
    StoredEvent(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
      r.getString(4), r.getLong(5))

  /** The events of `run` with version in [minVersion, maxVersion]. `run`
    * must be dense and ascending (what the sequencer appends), so the slice
    * is index arithmetic off its first version, not a filter. */
  def slice(
      run: scala.collection.IndexedSeq[StoredEvent],
      minVersion: Long,
      maxVersion: Long): List[StoredEvent] =
    if (run.isEmpty || maxVersion < run.head.version) Nil
    else {
      val base = run.head.version
      val from = math.min(math.max(minVersion, base) - base, run.length.toLong)
      val until = math.min(maxVersion - base + 1L, run.length.toLong)
      run.slice(from.toInt, until.toInt).toList
    }

  /** Driver-held events as one local partition. A page sliced exactly to
    * `limit` rows lets Spark drop the limit; one partition then keeps the
    * remaining sort exchange-free (one job) instead of range-partitioning
    * a handful of rows. */
  def frame(spark: SparkSession, events: Seq[StoredEvent]): DataFrame =
    spark.createDataFrame(events.map(_.toRow).asJava, EventSchema.schema)
      .coalesce(1)
}

/** Transactional tag for exactly-once streaming sinks: identifies one
  * micro-batch of one streaming query. Persisted with the commit it tags. */
final case class CommitTag(queryId: String, batchId: Long)

/** Shared single-writer commit sequencer: version assignment, OCC check,
  * monotone timestamps, checksum computation, atomic multi-append.
  *
  * This is the one piece Spark gives no primitive for (SURVEY.md §7.3): a
  * serialized critical section that assigns dense versions and publishes
  * commits all-or-nothing, mirroring the reference's lock discipline
  * (file.go:396-407) with the checksum math kept identical
  * (file/internal/checksum.go:9-67 via [[EventOps.checksum]]).
  */
abstract class SequencedBackend extends EventLogBackend {
  private val lock = new Object
  protected var latest: Long = 0L
  protected var lastTimestamp: Long = 0L

  // highest committed (batchId, result) per streaming queryId — the
  // idempotence ledger for appendMultiTxn. Durable backends rebuild it on
  // open from the tags persisted in their commit records.
  private val txns =
    scala.collection.mutable.HashMap.empty[String, (Long, AppendResult)]

  /** Durably persist one atomic commit, including its transactional tag
    * when present. Called inside the critical section; must be
    * all-or-nothing (throw → nothing is visible). */
  protected def persist(events: Seq[StoredEvent], tag: Option[CommitTag]): Unit

  /** Test seam / deterministic-replay hook: unix seconds "now". */
  protected def clock(): Long = System.currentTimeMillis() / 1000L

  private def commit(
      es: Seq[EventData],
      check: Option[Long],
      tag: Option[CommitTag] = None): AppendResult =
    lock.synchronized {
      // Replay check FIRST (before OCC): a re-delivered micro-batch must get
      // its recorded result back, not an ErrMismatchingVersions.
      tag.foreach { t =>
        txns.get(t.queryId).foreach { case (bid, res) =>
          // Only the LATEST batch's result is recorded (Spark replays at
          // most the last uncommitted micro-batch, so deeper history is
          // dead weight). An older batchId means the caller's checkpoint
          // went backwards — returning the newest range would silently
          // hand it another batch's versions, so refuse loudly instead.
          if (t.batchId == bid) return res
          if (t.batchId < bid)
            throw new IllegalStateException(
              s"batch ${t.batchId} of query '${t.queryId}' precedes the " +
                s"latest recorded batch $bid; its version range is no " +
                "longer recorded")
        }
      }
      check.foreach { assumed =>
        if (assumed != latest) throw new Errors.ErrMismatchingVersions
      }
      if (es.isEmpty) // no-op contract: reference inmem.go:214-219
        return AppendResult(latest, latest, latest, lastTimestamp)
      checkPayloadSize(es)
      // One shared timestamp per commit, monotone non-decreasing across
      // commits (integrity invariant, reference check_integrity.go:55-61).
      val ts = math.max(clock(), lastTimestamp)
      val versionPrevious = latest
      var vp = latest
      val stored = es.map { e =>
        val v = vp + 1
        val cs = EventOps.checksum(
          ts,
          UTF8String.fromString(e.label),
          UTF8String.fromString(e.payloadJson),
          vp)
        val se = StoredEvent(v, vp, ts, e.label, e.payloadJson, cs)
        vp = v
        se
      }
      persist(stored, tag) // throws → latest/lastTimestamp untouched (rollback)
      latest = vp
      lastTimestamp = ts
      val res = AppendResult(versionPrevious, stored.head.version, latest, ts)
      tag.foreach(t => txns(t.queryId) = (t.batchId, res))
      res
    }

  override def append(e: EventData): AppendResult = commit(Seq(e), None)
  override def appendMulti(es: Seq[EventData]): AppendResult = commit(es, None)
  override def appendCheck(assumedVersion: Long, e: EventData): AppendResult =
    commit(Seq(e), Some(assumedVersion))
  override def appendCheckMulti(assumedVersion: Long, es: Seq[EventData]): AppendResult =
    commit(es, Some(assumedVersion))
  override def appendMultiTxn(
      queryId: String, batchId: Long, es: Seq[EventData]): AppendResult =
    commit(es, None, Some(CommitTag(queryId, batchId)))

  override def version: Long = lock.synchronized(latest)
  override def versionInitial: Long =
    lock.synchronized(if (latest == 0L) 0L else 1L)

  /** Restore sequencer state during recovery (open of a persistent log). */
  protected final def restore(latestVersion: Long, timestamp: Long): Unit =
    lock.synchronized {
      latest = latestVersion
      lastTimestamp = timestamp
    }

  /** Restore one persisted transactional tag during recovery; keeps the
    * highest batchId per query (lines replay in commit order). */
  protected final def restoreTxn(
      queryId: String, batchId: Long, res: AppendResult): Unit =
    lock.synchronized {
      txns.get(queryId) match {
        case Some((bid, _)) if bid >= batchId => ()
        case _ => txns(queryId) = (batchId, res)
      }
    }
}
