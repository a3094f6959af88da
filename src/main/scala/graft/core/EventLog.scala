package graft.core

import graft.exprs.EventOps
import graft.exprs.functions._
import graft.storage.{EventLogBackend, StoredEvent}
import graft.streaming.{VersionHub, VersionSubscription}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The engine facade ≙ reference `EventLog` (eventlog/eventlog.go:106-282):
  * validates + canonicalizes on the way in, delegates commits to the
  * backend's sequencer, publishes the new version to subscribers, and
  * serves reads two ways: [[page]] reads a page as driver rows on the
  * calling thread (what the HTTP API serves), and [[scan]] returns the same
  * rows as a DataFrame for analytics and Scala callers.
  *
  * Versions are dense (see [[EventSchema]]), so `version_next` is
  * arithmetic (`v+1`, 0 at the head; no window), and a paged read knows its
  * exact version range up front ([[pageRange]], shared by both). [[page]]
  * asks the backend for exactly that range; `scan` still sorts (`orderBy`
  * + `limit`), but the range is both the backend's planning bound and a
  * pushed parquet predicate, so a page's sort sees only the page's rows
  * plus the file-granular overspill of row groups that straddle the range.
  */
final class EventLog(backend: EventLogBackend) extends AutoCloseable {
  private val hub = new VersionHub

  // ---- writes (reference eventlog.go:154-255) ----

  def append(e: EventData): AppendResult =
    notify(backend.append(canonicalize(e)))

  def appendMulti(es: Seq[EventData]): AppendResult =
    notify(backend.appendMulti(es.map(canonicalize)))

  def appendCheck(assumedVersion: Long, e: EventData): AppendResult =
    notify(backend.appendCheck(assumedVersion, canonicalize(e)))

  def appendCheckMulti(assumedVersion: Long, es: Seq[EventData]): AppendResult =
    notify(backend.appendCheckMulti(assumedVersion, es.map(canonicalize)))

  /** Idempotent multi-append keyed on (queryId, batchId) — the
    * exactly-once primitive for streaming sinks (see
    * [[graft.streaming.LogStream.appendSink]]). Replaying the latest
    * committed batch returns its recorded version range without appending;
    * an older batchId throws (see
    * [[graft.storage.EventLogBackend.appendMultiTxn]]). */
  def appendMultiTxn(
      queryId: String, batchId: Long, es: Seq[EventData]): AppendResult =
    notify(backend.appendMultiTxn(queryId, batchId, es.map(canonicalize)))

  /** Client-side OCC retry loop ≙ reference client.TryAppend
    * (client/client.go:150-194): build the event against an assumed version,
    * attempt the conditional append, on mismatch re-sync and retry. */
  def tryAppend(
      assumedVersion: Long,
      transaction: Long => EventData,
      maxRetries: Int = 16): AppendResult = {
    var assumed = assumedVersion
    var attempts = 0
    while (true) {
      try return appendCheck(assumed, transaction(assumed))
      catch {
        case _: Errors.ErrMismatchingVersions if attempts < maxRetries =>
          attempts += 1
          assumed = backend.version // sync(): fetch fresh latest
      }
    }
    sys.error("unreachable")
  }

  /** OCC retry loop for atomic multi-appends ≙ client.TryAppendMulti
    * (client/client.go:198-246). */
  def tryAppendMulti(
      assumedVersion: Long,
      transaction: Long => Seq[EventData],
      maxRetries: Int = 16): AppendResult = {
    var assumed = assumedVersion
    var attempts = 0
    while (true) {
      try return appendCheckMulti(assumed, transaction(assumed))
      catch {
        case _: Errors.ErrMismatchingVersions if attempts < maxRetries =>
          attempts += 1
          assumed = backend.version
      }
    }
    sys.error("unreachable")
  }

  /** Validation + canonicalization on ingress (reference eventlog.go:163:
    * Validate() then jsonminify.Minify). */
  private def canonicalize(e: EventData): EventData = {
    val label = UTF8String.fromString(e.label)
    if (label.numBytes > EventOps.MaxLabelLen) throw new Errors.ErrLabelTooLong
    if (!EventOps.validateLabel(label))
      throw new Errors.ErrLabelContainsIllegalChars
    val payload = UTF8String.fromString(e.payloadJson)
    if (!EventOps.validatePayload(payload)) throw new Errors.ErrInvalidPayload
    e.copy(payloadJson = EventOps.minifyJson(payload).toString)
  }

  private def notify(r: AppendResult): AppendResult = {
    hub.publish(r.version)
    r
  }

  // ---- reads (reference eventlog.go:263-265, file.go:207-306) ----

  /** Versions a read from `version` spans: with `limit = Some(n)`,
    * `[max(1, v-n-skip+1), v]` reverse and `[v, v+n+skip-1]` forward
    * (skip = 1 with `skipFirst`); without, `[1, v]` and `[v, ∞)`. The
    * reference's seek-and-stop (file.go:207-306): a page costs O(page), not
    * O(log). */
  private def pageRange(
      version: Long,
      reverse: Boolean,
      limit: Option[Int],
      skipFirst: Boolean): (Long, Long) = {
    val span = limit.map(_.toLong + (if (skipFirst) 1L else 0L))
    if (reverse) (span.fold(1L)(k => math.max(1L, version - k + 1L)), version)
    else (version, span.fold(Long.MaxValue)(k =>
      if (version > Long.MaxValue - k) Long.MaxValue else version + k - 1L))
  }

  /** Bounds check against the live log like the reference
    * (file.go:221-228): out-of-range or empty-log reads throw
    * ErrInvalidVersion rather than returning empty. */
  private def checkVersion(version: Long, latest: Long): Unit =
    if (latest == 0L || version < 1L || version > latest)
      throw new Errors.ErrInvalidVersion

  /** The rows of `scan(version, reverse, limit, skipFirst)`, read on the
    * calling thread through [[EventLogBackend.readRange]], with no Spark job
    * on either product backend. Throws ErrInvalidVersion before returning,
    * so a caller can still answer with an error.
    *
    * A bounded page (`limit = Some(n)`) is read whole before this returns.
    * An unbounded read streams: the iterator reads the log as of the call
    * in windows of [[EventSchema.MaxReadBatchSize]] versions (high to low
    * when `reverse`), so it holds one window at a time. */
  def page(
      version: Long,
      reverse: Boolean = false,
      limit: Option[Int] = None,
      skipFirst: Boolean = false): Iterator[Event] = {
    val (lo, hi) = pageRange(version, reverse, limit, skipFirst)
    val w = EventSchema.MaxReadBatchSize.toLong
    // the window of the first read: the whole page when bounded
    val (lo0, hi0) =
      if (limit.isDefined) (lo, hi)
      else if (reverse) (math.max(lo, hi - w + 1L), hi)
      else (lo, if (lo > Long.MaxValue - w) Long.MaxValue else lo + w - 1L)
    // read BEFORE latest, as in scan: the sequencer publishes `latest` only
    // after the commit's rows are readable, so every row read is <= latest
    val first = backend.readRange(lo0, hi0)
    val latest = backend.version
    checkVersion(version, latest)
    val windows: Iterator[Seq[StoredEvent]] =
      if (limit.isDefined) Iterator.single(first)
      else if (reverse)
        Iterator.single(first) ++ Iterator.iterate(lo0 - 1L)(_ - w)
          .takeWhile(_ >= lo)
          .map(top => backend.readRange(math.max(lo, top - w + 1L), top))
      else
        Iterator.single(first) ++ Iterator.iterate(hi0 + 1L)(_ + w)
          .takeWhile(b => b > hi0 && b <= latest)
          .map(b => backend.readRange(b, math.min(latest, b + w - 1L)))
    val rows = windows.flatMap(ws => if (reverse) ws.reverseIterator else ws)
      .map(e => Event(e.version, e.versionPrevious,
        if (e.version < latest) e.version + 1L else 0L,
        e.timestamp, e.label, e.payload))
    val cursored = if (skipFirst) rows.drop(1) else rows
    limit.fold(cursored)(cursored.take)
  }

  /** Scan from `version` (inclusive) as a DataFrame, for analytics and
    * Scala callers; the HTTP API serves the same rows through [[page]].
    * Bounds-checked against the live log like the reference
    * (file.go:221-228): out-of-range or empty-log scans throw
    * ErrInvalidVersion rather than returning empty.
    *
    * Output adds `version_next` (0 at the log head) — derived, never stored,
    * matching read_event.go:17.
    *
    * With `limit = Some(n)` the scan reads [[pageRange]] with both bounds
    * as its row predicate.
    */
  def scan(
      version: Long,
      reverse: Boolean = false,
      limit: Option[Int] = None,
      skipFirst: Boolean = false): DataFrame = {
    // snapshot BEFORE reading latest: a commit landing in between then only
    // makes `latest` run ahead of the snapshot (version_next keeps pointing
    // at versions that exist), never behind it — the reverse order would
    // stamp rows past `latest` with version_next=0 and truncate cursor
    // clients early. The range bounds let the backend prune whole segment
    // files at plan time (superset contract — the exact filters below
    // still apply). A forward page keeps the open upper bound here and
    // gets its upper bound from the pushed predicate alone.
    val (lo, hi) = pageRange(version, reverse, limit, skipFirst)
    val snap = backend.snapshotRange(lo, if (reverse) hi else Long.MaxValue)
    val latest = backend.version
    checkVersion(version, latest)
    val base = snap
      .withColumn("version_next",
        when(col("version") < latest, col("version") + 1L).otherwise(0L))
    val inRange =
      if (limit.isDefined) col("version").between(lo, hi)
      else if (reverse) col("version") <= version
      else col("version") >= version
    val dir0 = base.filter(inRange)
      .orderBy(if (reverse) desc("version") else asc("version"))
    val cursored = if (skipFirst) dir0.offset(1) else dir0
    limit.fold(cursored)(n => cursored.limit(n))
  }

  /** Full snapshot (no bounds requirement), for analytics over the log. */
  def toDF: DataFrame = backend.snapshot()

  /** Time travel: the log as of `version` (inclusive) — an append-only log
    * makes every historical state a version-range filter, which reaches the
    * parquet scan as a pushed predicate. */
  def snapshotAt(version: Long): DataFrame = {
    val latest = backend.version
    if (version < 1L || version > latest) throw new Errors.ErrInvalidVersion
    backend.snapshotRange(1L, version).filter(col("version") <= version)
  }

  /** Typed scan for Scala consumers: same semantics as [[scan]], decoded
    * into the [[Event]] case class via its product encoder. */
  def scanTyped(
      version: Long,
      reverse: Boolean = false,
      limit: Option[Int] = None,
      skipFirst: Boolean = false): Dataset[Event] = {
    val df = scan(version, reverse, limit, skipFirst)
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
      col("version"),
      col("version_previous").as("versionPrevious"),
      col("version_next").as("versionNext"),
      col("timestamp"),
      col("label"),
      col("payload").as("payloadJson")).as[Event]
  }

  def version: Long = backend.version
  def versionInitial: Long = backend.versionInitial
  def metadata: Map[String, String] = backend.metadata

  // ---- integrity (reference file/check_integrity.go:15-94) ----

  /** Full-log integrity audit as one distributed job. Returns the violations
    * (empty = healthy) with a reason per offending version.
    *
    * The chain checks need each entry's predecessor; with dense versions
    * that's a self-equi-join on `version = version + 1` — a hash join both
    * sides of which shuffle-partition on the join key — instead of the
    * single-partition global window a `lag` formulation would force.
    */
  def checkIntegrity(): DataFrame = {
    val log = backend.snapshot()
    val prev = log.select(
      (col("version") + 1L).as("version"),
      col("version").as("prev_version"),
      col("timestamp").as("prev_timestamp"))
    log.join(prev, Seq("version"), "left")
      .withColumn("recomputed", event_checksum(
        col("timestamp"), col("label"), col("payload"), col("version_previous")))
      .select(col("version"), array_compact(array(
        when(col("recomputed") =!= col("checksum"), lit("checksum_mismatch")),
        // NULL-safe: a version whose predecessor row is missing entirely
        // (prev_version IS NULL — e.g. a lost segment row) is a chain gap;
        // a plain =!= would yield NULL there and silently skip the flag.
        when(col("version") =!= 1L &&
          (col("prev_version").isNull ||
            col("version_previous") =!= col("prev_version")),
          lit("broken_version_chain")),
        when(col("version") === 1L && col("version_previous") =!= 0L,
          lit("nonzero_first_version_previous")),
        when(col("prev_timestamp").isNotNull &&
          col("timestamp") < col("prev_timestamp"), lit("timestamp_regression")),
        when(!payload_is_valid(col("payload")), lit("invalid_payload")),
        when(!label_is_valid(col("label")), lit("invalid_label"))))
        .as("issues"))
      .filter(size(col("issues")) > 0)
  }

  // ---- change feed (reference eventlog.go:279-282) ----

  /** Subscribe to high-watermark notifications (at-most-once; see
    * [[graft.streaming.VersionHub]]). */
  def subscribe(): VersionSubscription = hub.subscribe()

  /** Live subscription count (diagnostics / leak tests). */
  def subscriberCount: Int = hub.subscriberCount

  override def close(): Unit = {
    hub.close()
    backend.close()
  }
}
