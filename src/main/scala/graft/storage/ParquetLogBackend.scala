package graft.storage

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core._
import graft.exprs.EventOps
import graft.util.Publish
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max => smax}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Durable backend: append-only Parquet segments + an fsync'd JSON-lines
  * commit log (≙ reference eventlog/file, re-architected for Spark).
  *
  * The reference fsyncs every append into one sequential file
  * (file.go:68, write_event.go:100). Per-append Parquet files would be
  * pathological (SURVEY.md §7.3), so the roles are split:
  *
  *  - `commits.jsonl` — the durability + atomicity point. One fsync'd line
  *    per commit; a multi-append is one line, hence all-or-nothing. A torn
  *    final line (a write whose fsync never returned) is cut on open.
  *  - `segments/` — columnar home of compacted history; what scans read at
  *    scale (parallel, prunable, column-projected). [[compact]] writes a
  *    segment from the tail it holds, with parquet-hadoop on the calling
  *    thread (no Spark job), and publishes it durably
  *    ([[graft.util.Publish.claim]]) before the commit log drops the lines
  *    it covers; [[coalesceSegments]] rewrites existing segments in
  *    parallel through Spark's writer, in the same layout, and swaps the
  *    directory in ([[graft.util.Publish.swap]]). Every staged write of the
  *    log — segments, the coalesced directory, commit-log rotation and
  *    `meta.json` — goes through [[graft.util.Publish]]: forced, renamed,
  *    then its directory fsync'd. Segments are zstd
  *    (entropy-coded: ~0.57 disk bytes per user byte, where snappy kept
  *    ~0.90) with Parquet pages of at most one read batch
  *    ([[EventSchema.MaxReadBatchSize]] rows), so a version-bounded page
  *    read decodes only the pages its range touches, not the whole segment.
  *  - recent tail lives in memory and is unioned into snapshots until
  *    [[compact]] rolls it into a segment.
  *
  * Recovery on open ≙ file.Open (file.go:67-125): max version found in
  * segments, commit-log lines beyond it replayed into the tail, last
  * entry's checksum re-verified (the reference's fast crash detection,
  * file.go:107-122).
  */
final class ParquetLogBackend private (
    spark: SparkSession,
    dir: Path,
    override val metadata: Map[String, String],
    override val payloadLimit: Int,
    compactThreshold: Int,
    compactIntervalMs: Long,
    maxSegmentFiles: Int = 0)
    extends SequencedBackend {

  private val commitLog = dir.resolve("commits.jsonl")
  private val segmentsDir = dir.resolve("segments")
  private val tail = ArrayBuffer.empty[StoredEvent]
  // Segment manifest: (absolute file path, min version, max version) per
  // parquet file, in commit order. THE planning surface: snapshots hand
  // Spark an explicit file list (version-pruned for bounded scans), so at
  // no point after open() does query planning list segments/ or read
  // footers — at 100TB / years of history, directory listing would
  // dominate planning long before data bytes matter. Rebuilt at open from
  // one listing (ranges parsed from the self-describing file names);
  // guarded by ioLock.
  private val manifest = ArrayBuffer.empty[(String, Long, Long)]
  // ioLock guards channel + tail + watermark (held briefly); compactLock
  // serializes whole compactions (two concurrent compacts would both copy
  // the same tail prefix → duplicated segment rows + a double drop that
  // discards fresh appends)
  private val ioLock = new Object
  private val compactLock = new Object
  private var segmentMaxVersion = 0L

  private var channel = java.nio.channels.FileChannel.open(
    commitLog,
    StandardOpenOption.CREATE,
    StandardOpenOption.WRITE,
    StandardOpenOption.APPEND)

  @volatile private var closed = false

  // Timer compaction bounds how long an append can stay commit-log-only:
  // out-of-process readers (LogStream.readStream watches segments/) see
  // every append within compactIntervalMs even when the tail never reaches
  // compactThreshold. 0 disables (size-triggered compaction only).
  // Armed by open() AFTER recover() — the replay appends to `tail` outside
  // ioLock and streams commits.jsonl, so a timer compaction racing it would
  // corrupt both.
  @volatile private var compactTimer: Option[java.util.concurrent.ScheduledExecutorService] = None

  private def startCompactTimer(): Unit =
    if (compactIntervalMs > 0) {
      val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
        val t = new Thread(r, "graft-compact")
        t.setDaemon(true)
        t
      }
      ex.scheduleWithFixedDelay(
        () => try {
          if (!closed && ioLock.synchronized(tail.nonEmpty)) compact()
        } catch {
          // keep the schedule alive, but never fail silently: a compaction
          // that keeps failing (full disk) leaves the tail growing
          case e: Exception =>
            ParquetLogBackend.logger.warn(s"timer compaction of $dir failed", e)
        },
        compactIntervalMs, compactIntervalMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      compactTimer = Some(ex)
    }

  override protected def persist(
      events: Seq[StoredEvent], tag: Option[CommitTag]): Unit = {
    val line = ParquetLogBackend.encodeCommit(events.head.timestamp,
      events.head.versionPrevious, events.last.version, tag, events)
    val doCompact = ioLock.synchronized {
      while (line.hasRemaining) channel.write(line)
      channel.force(true) // the durability point: one fsync per commit
      tail ++= events
      tail.length >= compactThreshold
    }
    if (doCompact) compact()
  }

  /** Roll the in-memory tail into a Parquet segment and rotate the commit
    * log. Only the copied prefix is dropped from the tail; the commit log
    * retains exactly the commits past the new segment watermark, so it stays
    * proportional to the tail instead of growing with the full history (and
    * open() replays only those). The segment is written from the rows
    * already held here, on the calling thread, with parquet-hadoop — no
    * Spark job. A timer compaction runs on its own thread, so appends stay
    * concurrent with its segment write; a size-triggered one runs inside
    * [[persist]] on the appending thread, under the sequencer lock, so
    * appends wait for it. Crash-safe: the segment is published durably
    * (file and directory entry fsync'd) before rotation drops the commit
    * lines it covers, segments are append-only and the rotation is an
    * atomic replace; recovery trusts max(version) actually in segments. */
  def compact(): Unit = compactLock.synchronized {
    val batch = ioLock.synchronized(tail.toList)
    if (batch.isEmpty) return
    // Stage the segment in a scratch dir, then move it into segments/
    // under a self-describing name carrying its version range. The name IS
    // the durable statistic: it travels atomically with the file (no
    // manifest-file/datafile crash window), and open() rebuilds the
    // in-memory manifest from names alone — no footer reads.
    val scratch = Files.createDirectories(dir.resolve(
      s"segments.write-${java.util.UUID.randomUUID().toString.take(8)}"))
    val part = scratch.resolve("part.parquet")
    ParquetLogBackend.writeSegment(batch, part)
    val (v0, v1) = (batch.head.version, batch.last.version)
    val target = segmentsDir.resolve(ParquetLogBackend.segmentName(v0, v1))
    // durable before rotation cuts the batch's commit lines, or a power
    // loss can lose acknowledged commits. Published outside ioLock: the
    // snapshots plan from the manifest, not a listing, and the
    // out-of-process view drops the still-replayed tail by watermark.
    if (!Publish.claim(part, target))
      throw new IllegalStateException(s"segment $target already exists")
    // ONE lock section registers the segment and drops the tail prefix —
    // snapshots (which capture manifest + tail under the same lock) can
    // never see a batch in both places or in neither.
    ioLock.synchronized {
      manifest += ((target.toString, v0, v1))
      tail.dropInPlace(batch.length)
      segmentMaxVersion = v1
    }
    Publish.deleteRecursively(scratch)
    rotateCommitLog()
    // file-count hygiene: timer compaction writes one small file per
    // interval; unchecked, scan planning drowns in file metadata long
    // before bytes are the problem. OPT-IN (maxSegmentFiles <= 0 default):
    // rewriting history breaks the append-only assumption of file-stream
    // readers (LogStream.readStream would re-deliver everything) and can
    // fail in-flight lazy scans — enable only on logs without streaming
    // consumers, or call coalesceSegments() from a maintenance window.
    if (maxSegmentFiles > 0 && segmentFileCount() > maxSegmentFiles)
      coalesceSegments()
  }

  private def segmentFileCount(): Int =
    if (!Files.exists(segmentsDir)) 0
    else scala.util.Using.resource(Files.list(segmentsDir))(
      _.filter(p => p.toString.endsWith(".parquet")).count().toInt)

  /** Rewrite the segment directory into ~`targetBytes` files. Crash-safe
    * via [[graft.util.Publish.swap]] (`segments.rewrite` staged →
    * `segments` moved to `segments.old` → staged promoted → old deleted);
    * [[recover]] rolls an interrupted swap back to the old directory.
    * In-flight lazy snapshot DataFrames race the swap window (~ms) like any
    * file-level compaction — run from the maintenance path (or let
    * [[compact]] trigger it), not concurrently with long scans. */
  def coalesceSegments(targetBytes: Long = 128L << 20): Unit =
    compactLock.synchronized {
      if (!Files.exists(segmentsDir)) return
      val totalBytes = scala.util.Using.resource(Files.list(segmentsDir))(
        _.filter(_.toString.endsWith(".parquet"))
          .mapToLong(Files.size(_)).sum())
      val parts = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
      // already at (or past) the best achievable layout: rewriting the full
      // history again would be O(history) I/O for no file-count gain —
      // without this, a log bigger than maxSegmentFiles*targetBytes would
      // re-rewrite everything on every compaction forever
      if (parts >= segmentFileCount()) return
      val staging = dir.resolve("segments.rewrite")
      Publish.deleteRecursively(staging)
      // Range-partition on version (vs plain coalesce): the rewritten files
      // get DISJOINT version ranges, so the manifest prunes bounded scans to
      // exactly the overlapping files even after history is rewritten.
      writeSegments(
        spark.read.schema(EventSchema.schema).parquet(segmentsDir.toString)
          .repartitionByRange(parts, col("version")),
        staging)
      // one stats job over the staging output → self-describing names,
      // each file claimed under its name inside the (invisible) stage;
      // the claims force the files here, outside ioLock, so the swap's
      // force under the lock finds little left to write
      import org.apache.spark.sql.functions.{input_file_name, min => smin}
      val ranges = spark.read.schema(EventSchema.schema).parquet(staging.toString)
        .groupBy(input_file_name().as("f"))
        .agg(smin("version").as("v0"), smax("version").as("v1"))
        .collect()
        .map { r =>
          val src = Paths.get(java.net.URI.create(r.getString(0)).getPath)
          val name = ParquetLogBackend.segmentName(r.getLong(1), r.getLong(2))
          if (!Publish.claim(src, staging.resolve(name)))
            throw new IllegalStateException(s"segment $name already exists")
          (name, r.getLong(1), r.getLong(2))
        }
      ioLock.synchronized {
        Publish.swap(staging, segmentsDir)
        manifest.clear()
        ranges.foreach { case (name, v0, v1) =>
          manifest += ((segmentsDir.resolve(name).toString, v0, v1))
        }
      }
    }

  /** The Spark write of [[coalesceSegments]], in the one segment layout
    * ([[ParquetLogBackend.writeSegment]] writes the same for [[compact]]):
    * zstd, and Parquet pages of at most one read batch. Pages that small
    * give the column/offset index a page per ~read batch, so the version
    * predicate a paged scan pushes down skips every page outside its range.
    * Readers need nothing: the codec is recorded per column chunk. */
  private def writeSegments(df: DataFrame, out: Path): Unit =
    df.write.mode("overwrite")
      .option("compression", "zstd")
      .option("parquet.page.row.count.limit", EventSchema.MaxReadBatchSize.toLong)
      .parquet(out.toString)

  /** Drop commit-log lines fully covered by segments (last version <=
    * watermark). Called under compactLock only. The filtered rewrite and its
    * fsync run WITHOUT ioLock so concurrent appends aren't stalled for the
    * rotation; ioLock is taken only to copy the suffix appended meanwhile
    * and swap the file. */
  private def rotateCommitLog(): Unit = {
    val tmp = dir.resolve("commits.jsonl.tmp")
    // Stable prefix boundary: len0 is captured under ioLock, so it sits on a
    // commit-line boundary (persist writes a whole line under the lock).
    val len0 = ioLock.synchronized(channel.size())
    val tmpCh = java.nio.channels.FileChannel.open(
      tmp, StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try rotateInto(tmpCh, len0)
    catch {
      case t: Throwable => // don't leak the fd/tmp on a failed rotation
        try tmpCh.close() catch { case _: Exception => () }
        try Files.deleteIfExists(tmp) catch { case _: Exception => () }
        // a failure between channel.close() and the reopen must not leave
        // the append channel closed forever
        ioLock.synchronized {
          if (!channel.isOpen)
            channel = java.nio.channels.FileChannel.open(
              commitLog, StandardOpenOption.CREATE,
              StandardOpenOption.WRITE, StandardOpenOption.APPEND)
        }
        throw t
    }
  }

  private def rotateInto(
      tmpCh: java.nio.channels.FileChannel, len0: Long): Unit = {
    val tmp = dir.resolve("commits.jsonl.tmp")
    // Stream prefix → filter → tmp, O(1) memory: with large payloads the
    // commit log can run to gigabytes between compactions.
    val tmpOut = new java.io.BufferedOutputStream(
      java.nio.channels.Channels.newOutputStream(tmpCh))
    scala.util.Using.resource(java.nio.channels.FileChannel.open(
      commitLog, StandardOpenOption.READ)) { rc =>
      val raw = java.nio.channels.Channels.newInputStream(rc)
      val bounded = new java.io.InputStream { // reads exactly [0, len0)
        private var remaining = len0
        override def read(): Int =
          if (remaining <= 0) -1
          else { val b = raw.read(); if (b >= 0) remaining -= 1; b }
        override def read(b: Array[Byte], off: Int, l: Int): Int =
          if (remaining <= 0) -1
          else {
            val n = raw.read(b, off, math.min(l.toLong, remaining).toInt)
            if (n > 0) remaining -= n
            n
          }
      }
      // Txn tags on lines being dropped (events fully in segments) must
      // outlive the line — condensed to one marker per queryId, keeping the
      // HIGHEST batchId (the only one replay detection compares against).
      // Bounded by the number of distinct streaming queries, not history.
      val droppedTxns = scala.collection.mutable.HashMap
        .empty[String, ParquetLogBackend.Header]
      val torn = ParquetLogBackend.foreachLine(bounded) { (line, len, _) =>
        if (len > 0) {
          val h = ParquetLogBackend.readHeader(line, len)
          if (h.v > segmentMaxVersion) {
            tmpOut.write(line, 0, len)
            tmpOut.write('\n')
          } else if (h.q != null)
            droppedTxns.updateWith(h.q) {
              case some @ Some(prev) if prev.b >= h.b => some
              case _ => Some(h)
            }
        }
      }
      // len0 sits on a line boundary (persist writes whole lines under
      // ioLock; open() cuts a torn final line)
      if (torn > 0)
        throw new IllegalStateException(s"commit log $commitLog ends mid-line")
      droppedTxns.values.foreach { h =>
        val m = ParquetLogBackend.encodeCommit(
          h.ts, h.vp, h.v, Some(CommitTag(h.q, h.b)), Nil)
        tmpOut.write(m.array(), m.arrayOffset() + m.position(), m.remaining())
      }
    }
    tmpOut.flush()
    // the filtered prefix reaches disk outside ioLock; the publish under
    // the lock then forces only the suffix copied below
    Publish.force(tmp)
    ioLock.synchronized {
      // Commits appended during the rewrite are all > segmentMaxVersion by
      // construction — copy them verbatim past the filtered prefix.
      // transferTo may copy fewer bytes than asked (sendfile caps one call
      // around 2 GB) — loop until every byte landed or commits are lost.
      val len1 = channel.size()
      if (len1 > len0)
        scala.util.Using.resource(java.nio.channels.FileChannel.open(
          commitLog, StandardOpenOption.READ)) { rc =>
          var pos = len0
          while (pos < len1) {
            val n = rc.transferTo(pos, len1 - pos, tmpCh)
            if (n <= 0)
              throw new java.io.IOException(
                s"commit-log suffix copy stalled at $pos/$len1")
            pos += n
          }
        }
      tmpCh.close()
      channel.close()
      // forced before the rename and the directory after it: without both,
      // a power loss can surface an empty or partial commits.jsonl, losing
      // fsync-acknowledged commits
      Publish.replace(tmp, commitLog)
      channel = java.nio.channels.FileChannel.open(
        commitLog,
        StandardOpenOption.CREATE,
        StandardOpenOption.WRITE,
        StandardOpenOption.APPEND)
    }
  }

  override def snapshot(): DataFrame = snapshotRange(1L, Long.MaxValue)

  /** Version-pruned snapshot off the manifest. Tail, watermark, and file
    * list are captured in ONE ioLock section — compact() moves a segment
    * in, registers it, and drops the tail prefix under the same lock, so a
    * snapshot can never see a batch twice (file + tail) or not at all.
    * Files whose [min,max] version range misses [minVersion,maxVersion]
    * never reach Spark's planner: no directory listing, no footer reads,
    * no per-file tasks — the row-level predicate stays the caller's job
    * (file granularity returns a superset). The tail, dense from
    * `segmentMaxVersion + 1`, is sliced exactly: a page copies only its own
    * tail rows. */
  override def snapshotRange(minVersion: Long, maxVersion: Long): DataFrame = {
    val (t, watermark, files) = ioLock.synchronized(
      (StoredEvent.slice(tail, minVersion, maxVersion), segmentMaxVersion,
        manifest.collect {
          case (f, v0, v1) if v1 >= minVersion && v0 <= maxVersion => f
        }.toList))
    val tailDf = StoredEvent.frame(spark, t)
    if (files.nonEmpty) {
      // watermark bound kept defensively (pushed to row-group stats, free):
      // manifest and watermark are captured atomically so it's a no-op in
      // normal operation, but it hard-bounds any file landed out-of-band.
      val segs = spark.read.schema(EventSchema.schema).parquet(files: _*)
        .filter(col("version") <= watermark)
        .select(EventSchema.schema.fieldNames.map(col).toSeq: _*)
      segs.union(tailDf)
    } else tailDf
  }

  /** The events in [lo, hi] on the calling thread, with no Spark job. Tail
    * slice, watermark and overlapping files are captured in one ioLock
    * section (the same atomicity [[snapshotRange]] relies on); the 1-2
    * segments a page overlaps are then read outside the lock with
    * parquet-hadoop, the range pushed down so the column and offset indexes
    * skip every Parquet page outside it. */
  override def readRange(lo: Long, hi: Long): Seq[StoredEvent] = {
    val (t, watermark, files) = ioLock.synchronized(
      (StoredEvent.slice(tail, lo, hi), segmentMaxVersion,
        manifest.filter { case (_, v0, v1) => v1 >= lo && v0 <= hi }.toList))
    val top = math.min(hi, watermark)
    val out = ArrayBuffer.empty[StoredEvent]
    files.sortBy(_._2).foreach { case (f, v0, v1) =>
      // a bound that does not cut into the file reads it unfiltered
      val rows = new ParquetLogBackend.SegmentRows(f,
        if (lo > v0) lo else 1L, if (top < v1) top else Long.MaxValue,
        EventSchema.schema.fieldNames.toSeq)
      try {
        var g = rows.next()
        while (g != null) {
          out += ParquetLogBackend.storedEvent(g)
          g = rows.next()
        }
      } finally rows.close()
    }
    out ++= t
    out.toSeq
  }

  override def close(): Unit = {
    closed = true
    compactTimer.foreach(_.shutdownNow())
    ioLock.synchronized(channel.close())
  }

  /** One listing of segments/ (open-time only), ranges from the
    * self-describing names. */
  private def rebuildManifest(): Unit = {
    manifest.clear()
    if (Files.exists(segmentsDir))
      manifest ++= ParquetLogBackend.listSegments(segmentsDir)
  }

  private def recover(): Unit = {
    // roll back an interrupted coalesceSegments swap: segments.old holds
    // the complete pre-rewrite data; the staging dir is never trusted
    Publish.recover(segmentsDir)
    if (!Files.exists(segmentsDir)) Publish.createDirectory(segmentsDir)
    Publish.deleteRecursively(dir.resolve("segments.rewrite"))
    // scratch dirs from compactions that crashed between the segment write
    // and the atomic move: their batches are still wholly in the commit log
    // (rotation happens after the move), so the copies are pure leaks
    scala.util.Using.resource(
      Files.newDirectoryStream(dir, "segments.write-*"))(
      _.iterator().asScala.toList.foreach(Publish.deleteRecursively))
    rebuildManifest()
    if (manifest.nonEmpty) {
      segmentMaxVersion = manifest.map(_._3).max
      // the recovery timestamp lives at the max version; timestamps are
      // monotone in version, so the footer of ONLY the file holding it
      // suffices — open cost is one footer read, not a Spark job
      restore(segmentMaxVersion,
        ParquetLogBackend.maxTimestamp(manifest.maxBy(_._3)._1))
    }
    if (Files.exists(commitLog)) {
      ParquetLogBackend.replayCommits(commitLog) { (events, txn) =>
        val fresh = events.filter(_.version > segmentMaxVersion)
        if (fresh.nonEmpty) {
          tail ++= fresh
          restore(fresh.last.version, fresh.last.timestamp)
        }
        txn.foreach(h =>
          restoreTxn(h.q, h.b, AppendResult(h.vp, h.vp + 1, h.v, h.ts)))
      }.foreach { goodEnd =>
        // cut the torn line, so the next append starts on a line boundary
        ParquetLogBackend.logger.warn(
          s"dropping the torn final line of $commitLog " +
            s"(${Files.size(commitLog) - goodEnd} bytes past the last complete line)")
        scala.util.Using.resource(java.nio.channels.FileChannel.open(
          commitLog, StandardOpenOption.WRITE)) { ch =>
          ch.truncate(goodEnd)
          ch.force(true)
        }
      }
      tail.lastOption.foreach { last => // open-time integrity of the tail entry
        val cs = EventOps.checksum(
          last.timestamp,
          UTF8String.fromString(last.label),
          UTF8String.fromString(last.payload),
          last.versionPrevious)
        if (cs != last.checksum)
          throw new IllegalStateException(
            s"corrupted log: checksum mismatch at version ${last.version}")
      }
    }
  }
}

object ParquetLogBackend {
  private val mapper = new ObjectMapper()
  private val logger = org.slf4j.LoggerFactory.getLogger(classOf[ParquetLogBackend])

  /** Self-describing segment file name: zero-padded min/max version (so
    * names sort in version order) + a random suffix (uniqueness across
    * rewrites of the same range). */
  private def segmentName(v0: Long, v1: Long): String =
    f"seg-$v0%019d-$v1%019d-${java.util.UUID.randomUUID().toString.take(8)}.parquet"

  private val SegmentName = """seg-(\d{19})-(\d{19})-[0-9a-f]{8}\.parquet""".r

  /** (path, min version, max version) of every parquet file in `d`, from
    * the self-describing names. A parquet file without one is not a
    * segment any writer produced: it fails loudly rather than being
    * scanned with a guessed range. */
  private def listSegments(d: Path): Seq[(String, Long, Long)] =
    scala.util.Using.resource(Files.list(d))(
      _.iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map { p =>
          p.getFileName.toString match {
            case SegmentName(v0, v1) => (p.toString, v0.toLong, v1.toLong)
            case _ => throw new IllegalStateException(
              s"not a log segment (no seg-<v0>-<v1>-<id> name): $p")
          }
        }.toList)

  /** Read-only point-in-time view of a log directory for out-of-process
    * readers (the `graft` DataSource V2): the segment files with their
    * version ranges (parsed from the self-describing names — no footer
    * reads, no Spark job) plus the commit-log tail past the segment
    * watermark. The commit log is read BEFORE the segment listing: a
    * compaction racing this call can only move events from the already-read
    * tail into a segment we then also list — removed by the watermark
    * filter — never hide them (listing first would race rotation, which
    * deletes compacted lines). A parquet file without a segment name
    * fails the read. */
  private[graft] def readView(
      path: String): (Seq[(String, Long, Long)], Seq[StoredEvent]) = {
    val dir = Paths.get(path)
    if (!Files.exists(dir.resolve("meta.json")))
      throw new IllegalStateException(s"not an event log directory: $path")
    val commitLog = dir.resolve("commits.jsonl")
    val tail = ArrayBuffer.empty[StoredEvent]
    // a torn final line is a live writer mid-append: that commit is not
    // part of this snapshot yet
    if (Files.exists(commitLog))
      replayCommits(commitLog)((events, _) => tail ++= events)
    // A coalesceSegments swap (segments -> segments.old, staging ->
    // segments) has a window where segments/ does not exist; segments.old
    // holds the COMPLETE pre-rewrite history then, so falling back to it
    // keeps this view exact instead of silently tail-only. The listing
    // itself can also race the first move — retry covers it.
    val segsDir = dir.resolve("segments")
    val oldDir = dir.resolve("segments.old")
    def listView(attempt: Int = 0): Seq[(String, Long, Long)] =
      try {
        if (Files.exists(segsDir)) listSegments(segsDir)
        else if (Files.exists(oldDir)) listSegments(oldDir)
        else Nil
      } catch {
        case _: java.io.UncheckedIOException | _: java.nio.file.NoSuchFileException
            if attempt < 3 =>
          listView(attempt + 1)
      }
    val segs = listView()
    val watermark = if (segs.isEmpty) 0L else segs.map(_._3).max
    (segs, tail.filter(_.version > watermark).toList)
  }

  /** Create a new log directory (≙ file.Create, file.go:128-161). */
  def create(
      spark: SparkSession,
      path: String,
      metadata: Map[String, String] = Map.empty,
      payloadLimit: Int = EventSchema.DefaultPayloadLimit,
      compactThreshold: Int = 10000,
      compactIntervalMs: Long = 5000,
      maxSegmentFiles: Int = 0): ParquetLogBackend = {
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    val meta = mapper.createObjectNode()
    meta.put("proto", 1)
    meta.put("payloadLimit", payloadLimit)
    val mm = meta.putObject("metadata")
    metadata.foreach { case (k, v) => mm.put(k, v) }
    val tmp = dir.resolve("meta.json.tmp")
    Files.write(tmp, mapper.writeValueAsBytes(meta))
    Publish.replace(tmp, dir.resolve("meta.json"))
    open(spark, path, compactThreshold, compactIntervalMs, maxSegmentFiles)
  }

  /** Open + recover an existing log directory (≙ file.Open, file.go:67-125). */
  def open(
      spark: SparkSession,
      path: String,
      compactThreshold: Int = 10000,
      compactIntervalMs: Long = 5000,
      maxSegmentFiles: Int = 0): ParquetLogBackend = {
    val dir = Paths.get(path)
    val metaFile = dir.resolve("meta.json")
    if (!Files.exists(metaFile))
      throw new IllegalStateException(s"not an event log directory: $path")
    val meta = mapper.readTree(Files.readAllBytes(metaFile))
    val proto = meta.get("proto").asInt()
    if (proto != 1)
      throw new IllegalStateException(s"unsupported log proto version: $proto")
    val metadata = meta.get("metadata").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    val b = new ParquetLogBackend(
      spark, dir, metadata, meta.get("payloadLimit").asInt(),
      compactThreshold, compactIntervalMs, maxSegmentFiles)
    b.recover()
    b.startCompactTimer()
    b
  }

  /** Header of a commit line: first/previous version, last version,
    * timestamp, and the transactional tag (`q` null when untagged). */
  private final case class Header(ts: Long, vp: Long, v: Long, q: String, b: Long)

  /** One commit line as UTF-8 bytes, newline included, in one buffer: the
    * header fields `ts`, `vp`, `v` (and the tag `q`, `b`) first, then
    * `events`. A line with a tag and no events is the condensed record of
    * a compacted-away transactional commit: the events live in segments,
    * but the (queryId, batchId) → version-range fact must stay durable for
    * replay detection. */
  private def encodeCommit(ts: Long, vp: Long, v: Long,
      tag: Option[CommitTag], events: Seq[StoredEvent]): java.nio.ByteBuffer = {
    val out = new LineBuffer(64 + events.iterator
      .map(e => 48 + (e.label.length + e.payload.length) * 5 / 4).sum)
    val g = mapper.getFactory.createGenerator(out)
    g.writeStartObject()
    g.writeNumberField("ts", ts)
    g.writeNumberField("vp", vp)
    g.writeNumberField("v", v)
    // transactional tag (exactly-once streaming sinks): rides the SAME
    // fsync'd line as the data, so "committed" and "recorded as committed"
    // are one atomic durability event — no window where a crash could
    // replay an already-appended micro-batch
    tag.foreach { t =>
      g.writeStringField("q", t.queryId)
      g.writeNumberField("b", t.batchId)
    }
    g.writeArrayFieldStart("events")
    events.foreach { e =>
      g.writeStartObject()
      g.writeStringField("l", e.label)
      g.writeStringField("p", e.payload)
      g.writeNumberField("c", e.checksum)
      g.writeEndObject()
    }
    g.writeEndArray()
    g.writeEndObject()
    g.writeRaw('\n')
    g.close()
    out.bytes
  }

  /** A byte stream whose buffer is handed out without a copy. */
  private final class LineBuffer(size: Int)
      extends java.io.ByteArrayOutputStream(size) {
    def bytes: java.nio.ByteBuffer = java.nio.ByteBuffer.wrap(buf, 0, count)
  }

  /** The header of a commit line, read with a streaming parser that stops
    * at `events` ([[encodeCommit]] writes the header first): the events
    * are neither parsed nor copied. */
  private def readHeader(line: Array[Byte], len: Int): Header = {
    import com.fasterxml.jackson.core.JsonToken
    scala.util.Using.resource(mapper.getFactory.createParser(line, 0, len)) { p =>
      var (ts, vp, v, q, b) = (0L, 0L, -1L, null: String, 0L)
      p.nextToken() // the line's object
      while (p.nextToken() == JsonToken.FIELD_NAME && p.currentName != "events") {
        val name = p.currentName
        p.nextToken()
        name match {
          case "ts" => ts = p.getLongValue
          case "vp" => vp = p.getLongValue
          case "v" => v = p.getLongValue
          case "q" => q = p.getText
          case "b" => b = p.getLongValue
          case _ => p.skipChildren()
        }
      }
      if (v < 0) throw new IllegalStateException("commit line without a version")
      Header(ts, vp, v, q, b)
    }
  }

  /** Events and transactional header of one commit line. */
  private def decodeCommit(
      line: Array[Byte], len: Int): (Seq[StoredEvent], Option[Header]) = {
    val root = mapper.readTree(line, 0, len)
    val ts = root.get("ts").asLong()
    var vp = root.get("vp").asLong()
    val events = root.get("events").elements().asScala.map { n =>
      val v = vp + 1
      val se = StoredEvent(
        v, vp, ts, n.get("l").asText(), n.get("p").asText(), n.get("c").asLong())
      vp = v
      se
    }.toList
    val txn = Option(root.get("q")).map(q => Header(ts,
      root.get("vp").asLong(), root.get("v").asLong(), q.asText(),
      root.get("b").asLong()))
    (events, txn)
  }

  /** Replays the commit lines of `log` in order through `f`. A final line
    * that is unterminated or unparseable is a torn write: its fsync never
    * returned, so it was never acknowledged (to a reader racing the
    * writer: not yet). It is left out, and the byte offset where it starts
    * is returned. A malformed line followed by another is corruption and
    * throws. */
  private def replayCommits(log: Path)(
      f: (Seq[StoredEvent], Option[Header]) => Unit): Option[Long] = {
    var goodEnd = 0L
    var bad: Option[(Long, Throwable)] = None
    def failIfBad(): Unit = bad.foreach { case (at, e) =>
      throw new IllegalStateException(
        s"corrupted commit log $log: malformed line at byte $at", e)
    }
    val torn = scala.util.Using.resource(Files.newInputStream(log))(
      foreachLine(_) { (line, len, end) =>
        if (len > 0) {
          failIfBad()
          val parsed = try Some(decodeCommit(line, len))
          catch {
            case e @ (_: com.fasterxml.jackson.core.JacksonException |
                _: NullPointerException) =>
              bad = Some((end - len - 1, e))
              None
          }
          parsed.foreach(f.tupled)
        }
        if (bad.isEmpty) goodEnd = end
      })
    if (torn > 0) failIfBad()
    if (bad.nonEmpty || torn > 0) Some(goodEnd) else None
  }

  /** Calls `f(buf, len, end)` for each '\n'-terminated line of `in`: the
    * line is `buf(0 until len)` without its newline, `end` the byte offset
    * just past the newline. `buf` is reused across calls. Returns the count
    * of bytes after the last newline (a torn final write). */
  private def foreachLine(in: java.io.InputStream)(
      f: (Array[Byte], Int, Long) => Unit): Int = {
    val chunk = new Array[Byte](1 << 16)
    var line = new Array[Byte](1 << 12)
    var len = 0
    var end = 0L
    var n = in.read(chunk)
    while (n >= 0) {
      var i = 0
      while (i < n) {
        var j = i
        while (j < n && chunk(j) != '\n') j += 1
        if (len + j - i > line.length)
          line = java.util.Arrays.copyOf(line,
            math.max(line.length * 2, len + j - i))
        System.arraycopy(chunk, i, line, len, j - i)
        len += j - i
        if (j < n) {
          end += len + 1
          f(line, len, end)
          len = 0
        }
        i = j + 1
      }
      n = in.read(chunk)
    }
    len
  }

  /** Parquet schema of a segment: [[EventSchema.schema]], as Spark's
    * reader and [[graft.sources.GraftSegmentReader]] read it. */
  private val SegmentType = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType(
      """message spark_schema {
        |  required int64 version;
        |  required int64 version_previous;
        |  required int64 timestamp;
        |  required binary label (STRING);
        |  required binary payload (STRING);
        |  required int64 checksum;
        |}""".stripMargin)

  /** Hadoop configuration of the direct segment reads and writes, without
    * default resources: nothing a local segment read or write uses is in
    * Hadoop's site files, and parsing them costs ~15-20 ms CPU each time a
    * file is opened. */
  private def localConf(): org.apache.hadoop.conf.Configuration =
    new org.apache.hadoop.conf.Configuration(false)

  /** [[localConf]] for a direct segment read. Read buffers are capped
    * below G1's humongous threshold (half a region): parquet's 8 MiB default
    * makes every page read allocate its column bytes, twice over through
    * LocalInputFile, as humongous objects that only a GC frees. */
  private def readConf(): org.apache.hadoop.conf.Configuration = {
    val conf = localConf()
    conf.setInt("parquet.read.allocation.size", 256 << 10)
    conf
  }

  /** Rows of one local segment file with version in [lo, hi], read with
    * parquet-hadoop on the calling thread and projected to `columns` (plus
    * `version` when the range is bounded, to check it). A bounded range is
    * pushed down as a filter, so row-group statistics and the column and
    * offset indexes skip what lies outside it; pages straddle the range, so
    * rows are still checked one by one. `lo <= 1 && hi == Long.MaxValue`
    * reads the whole file unfiltered. The projection takes its column types
    * from the file itself: [[writeSegment]] writes required columns, a Spark
    * write (coalesceSegments) optional ones. */
  private[graft] final class SegmentRows(
      file: String, lo: Long, hi: Long, columns: Seq[String])
      extends AutoCloseable {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
    import org.apache.parquet.schema.MessageType

    private val bounded = lo > 1L || hi < Long.MaxValue
    private val readColumns =
      if (bounded && !columns.contains("version")) "version" +: columns
      else columns

    private val reader = {
      val support = new ReadSupport[Group] {
        override def init(ctx: InitContext): ReadSupport.ReadContext = {
          val file = ctx.getFileSchema
          new ReadSupport.ReadContext(new MessageType(file.getName,
            readColumns.map(c => file.getType(file.getFieldIndex(c))): _*))
        }
        override def prepareForRead(
            conf: org.apache.hadoop.conf.Configuration,
            meta: java.util.Map[String, String],
            fileSchema: MessageType,
            rc: ReadSupport.ReadContext) =
          new org.apache.parquet.example.data.simple.convert
            .GroupRecordConverter(rc.getRequestedSchema)
      }
      val b = new org.apache.parquet.hadoop.ParquetReader.Builder[Group](
          new org.apache.parquet.io.LocalInputFile(Paths.get(file)),
          new org.apache.parquet.conf.HadoopParquetConfiguration(readConf())) {
        override protected def getReadSupport: ReadSupport[Group] = support
      }
      if (bounded) {
        val c = FilterApi.longColumn("version")
        b.withFilter(FilterCompat.get(FilterApi.and(
          FilterApi.gtEq(c, java.lang.Long.valueOf(lo)),
          FilterApi.ltEq(c, java.lang.Long.valueOf(hi)))))
      }
      b.build()
    }

    /** The next row in range; null past the last. */
    def next(): Group = {
      var g = reader.read()
      while (g != null && bounded && {
        val v = g.getLong("version", 0); v < lo || v > hi
      }) g = reader.read()
      g
    }

    override def close(): Unit = reader.close()
  }

  /** A full-width row of [[SegmentRows]]. */
  private def storedEvent(g: Group): StoredEvent =
    StoredEvent(g.getLong("version", 0), g.getLong("version_previous", 0),
      g.getLong("timestamp", 0), g.getString("label", 0),
      g.getString("payload", 0), g.getLong("checksum", 0))

  /** The largest `timestamp` in a segment, from the column statistics of
    * its footer (one footer read, no data page decoded). Both segment
    * writers record them; a segment without them was not written here and
    * fails the open rather than restoring a guessed timestamp. */
  private def maxTimestamp(file: String): Long = {
    val footer = scala.util.Using.resource(
      org.apache.parquet.hadoop.ParquetFileReader.open(
        new org.apache.parquet.io.LocalInputFile(Paths.get(file)),
        org.apache.parquet.HadoopReadOptions.builder(readConf()).build()))(
      _.getFooter)
    val maxes = footer.getBlocks.asScala.map { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == "timestamp")
        .map(_.getStatistics)
        .filter(st => st != null && !st.isEmpty && st.hasNonNullValue)
        .map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue)
        .getOrElse(throw new IllegalStateException(
          s"segment $file has no timestamp statistics"))
    }
    if (maxes.isEmpty)
      throw new IllegalStateException(s"segment $file has no row groups")
    maxes.max
  }

  /** Write `batch` as one segment file at `out` with parquet-hadoop, on
    * the calling thread. The layout is the one
    * [[ParquetLogBackend#writeSegments]] gives a Spark write: zstd, and
    * Parquet pages of at most one read batch. */
  private def writeSegment(batch: Seq[StoredEvent], out: Path): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(out))
      .withType(SegmentType)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.ZSTD)
      .withPageRowCountLimit(EventSchema.MaxReadBatchSize)
      .withConf(localConf())
      .build()
    try batch.foreach { e =>
      val g = new SimpleGroup(SegmentType)
      g.add("version", e.version)
      g.add("version_previous", e.versionPrevious)
      g.add("timestamp", e.timestamp)
      g.add("label", e.label)
      g.add("payload", e.payload)
      g.add("checksum", e.checksum)
      w.write(g)
    } finally w.close()
  }
}
