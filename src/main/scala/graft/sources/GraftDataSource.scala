package graft.sources

import graft.core.EventSchema
import graft.storage.{ParquetLogBackend, StoredEvent}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import java.util
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** DataSource V2 for event-log directories: `spark.read.format("graft")
  * .load(dir)` and `spark.readStream.format("graft").load(dir)`.
  *
  * This is the SURVEY.md §4.1 "log as a DataSource V2" direction, for
  * readers that don't hold the writer's [[ParquetLogBackend]] handle (a
  * separate analytics job, another cluster): planning runs off the
  * self-describing segment names + the commit-log tail
  * ([[ParquetLogBackend.readView]]) — no directory-listing-driven file
  * source, no footer reads, and the not-yet-compacted tail is visible
  * immediately (the parquet file source only sees compacted segments).
  *
  * Scale shape: one input partition per segment file; `version` range
  * predicates prune files at plan time (file-granular, so the predicates
  * are also kept as Spark-side residuals) and row groups at read time
  * (parquet stats filter). Column pruning reaches the parquet reader via
  * the requested projection.
  *
  * The STREAMING side is the reference's subscription contract
  * (serve.go:381-463) made exact: offsets ARE log versions (dense, gap
  * free), so each micro-batch is precisely the events in
  * `(startOffset, endOffset]` — pair with [[graft.streaming.LogStream
  * .appendSink]]'s tagged commits for exactly-once end-to-end pipelines.
  *
  * No write path by design: appends must pass the single-writer commit
  * sequencer (validation, version assignment, OCC, fsync atomicity — ≙ the
  * reference's one writer, file.go:396-407). A distributed V2 write would
  * bypass all of it; use [[graft.core.EventLog]] / the HTTP API / the
  * streaming sink instead.
  */
final class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EventSchema.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftTable(GraftDataSource.pathOf(properties))

  override def supportsExternalMetadata(): Boolean = false
}

object GraftDataSource {
  private def pathOf(properties: util.Map[String, String]): String = {
    val p = properties.get("path")
    require(p != null && p.nonEmpty,
      "graft source requires a path: spark.read.format(\"graft\").load(dir)")
    p
  }
}

final class GraftTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft.`$path`"
  override def schema(): StructType = EventSchema.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(path, options)
}

/** Collects `version` bounds for plan-time file pruning. Version-bound
  * filters are accepted FULLY (no Spark residual): the source enforces
  * them exactly — fully-covered segments need no check, clipped segments
  * go through the row reader's per-row range check (the same exactness the
  * streaming path already depends on, where no residual exists), and the
  * commit-log tail is filtered at plan time. Full acceptance is what lets
  * a bounded MIN/MAX/COUNT push all the way down (Spark refuses aggregate
  * pushdown under a residual Filter). Everything else is returned as a
  * residual for Spark to apply. */
final class GraftScanBuilder(path: String, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  private var required: StructType = EventSchema.schema
  private var minV: Long = 1L
  // time travel ≙ the engine facade's snapshotAt (EventLog.scala): an
  // inclusive version ceiling, which is EXACTLY what the existing maxV
  // machinery prunes on — files at plan time, row groups at read time,
  // the row-level residual re-check at execution
  private val versionAsOf: Long = {
    val v = options.getLong("versionAsOf", Long.MaxValue)
    require(v >= 1L, s"versionAsOf must be >= 1; got $v")
    v
  }
  private var maxV: Long = versionAsOf
  private var pushed: Array[Filter] = Array.empty
  private var nonVersionFilter = false
  private var limit: Int = -1

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Version filters are accepted FULLY (no Spark residual re-check), so
    // this conversion is load-bearing: a lossy narrowing (Double/Decimal →
    // Long) would silently enforce the WRONG predicate. Accept only the
    // integral literal types Catalyst can actually deliver for a LongType
    // comparison; anything else stays a residual for Spark to evaluate.
    def lit(v: Any): Option[Long] = v match {
      case n: java.lang.Long => Some(n.longValue)
      case n: java.lang.Integer => Some(n.longValue)
      case n: java.lang.Short => Some(n.longValue)
      case n: java.lang.Byte => Some(n.longValue)
      case _ => None
    }
    pushed = filters.filter {
      case GreaterThanOrEqual("version", v) =>
        lit(v).exists { x => minV = math.max(minV, x); true }
      // strict bounds saturate instead of wrapping: with no Spark residual
      // on accepted version filters, `version > Long.MaxValue` via a
      // wrapped `x + 1` would read the WHOLE log instead of nothing — the
      // degenerate literal must force a provably-empty range (maxV < minV)
      case GreaterThan("version", v) =>
        lit(v).exists { x =>
          if (x == Long.MaxValue) {
            minV = Long.MaxValue; maxV = math.min(maxV, Long.MaxValue - 1)
          } else minV = math.max(minV, x + 1)
          true
        }
      case LessThanOrEqual("version", v) =>
        lit(v).exists { x => maxV = math.min(maxV, x); true }
      case LessThan("version", v) =>
        lit(v).exists { x =>
          // minV starts at 1, so maxV = MinValue alone makes the range empty
          if (x == Long.MinValue) maxV = Long.MinValue
          else maxV = math.min(maxV, x - 1)
          true
        }
      case EqualTo("version", v) =>
        lit(v).exists { x =>
          minV = math.max(minV, x); maxV = math.min(maxV, x); true
        }
      case _ => nonVersionFilter = true; false
    }
    // residuals = only what the source does NOT enforce exactly
    filters.filterNot(pushed.contains)
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** PARTIAL limit pushdown (returns false — Spark keeps its own Limit):
    * dense versions make per-file row counts exact, so planning can stop
    * adding files once the limit is covered. Safe only when every filter
    * was a version bound (rows in planned files then all survive the
    * residual re-check); any other predicate disables it. */
  override def pushLimit(l: Int): Boolean = { limit = l; false }

  // ---- topN pushdown: plan from the RIGHT END of the log ----
  // `orderBy(version).limit(k)` already stops planning after ⌈k⌉-covering
  // files (the limit machinery above); the DESCENDING twin — "the last k
  // events", the reference's reverse scan and THE ops query on any log —
  // would read every file without this: a plain limit can only stop from
  // the low-version end. TopN pushdown tells the planner the direction,
  // so a tail query on a 10-year log plans the commit-log tail + the
  // newest file(s), never the history. PARTIAL push (isPartiallyPushed):
  // Spark keeps the authoritative Sort+Limit; the source only chooses
  // which files can possibly contribute — exact under dense versions,
  // and declined when a non-version residual could drop planned rows.
  private var limitDesc = false

  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    if (nonVersionFilter || orders.length != 1) return false
    val o = orders.head
    if (!versionRef(o.expression())) return false
    limitDesc =
      o.direction() == org.apache.spark.sql.connector.expressions
        .SortDirection.DESCENDING
    limit = n
    true
  }

  override def isPartiallyPushed(): Boolean = true

  // ---- aggregate pushdown: O(1) MIN/MAX/COUNT from the commit log ----
  // Versions are DENSE (the sequencer's invariant), so over any clipped
  // range [lo, hi] of the log: min(version)=lo, max(version)=hi,
  // count(*)=hi-lo+1 — all derivable from segment names + the commit-log
  // tail without opening one data file. This is the reference's O(1)
  // Version/VersionInitial (R7) surfaced through Spark's native DSv2
  // aggregate pushdown: `spark.read.format("graft").load(dir).agg(...)`
  // plans a ONE-ROW scan instead of a full-history read. Pushdown is
  // COMPLETE (no partial-merge pass) and engages only when it is exactly
  // answerable: no group-by, no non-version residual filter (a residual
  // would drop rows the arithmetic can't see), and every aggregate is
  // min/max/count over `version` or count(*).
  private var aggTags: Seq[String] = Nil

  private def versionRef(
      e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference =>
        r.fieldNames.sameElements(Array("version"))
      case _ => false
    }

  private def tagOf(f: aggregate.AggregateFunc): Option[String] = f match {
    case m: aggregate.Min if versionRef(m.column) => Some("min")
    case m: aggregate.Max if versionRef(m.column) => Some("max")
    case _: aggregate.CountStar => Some("count")
    // count(version): version is non-null by schema, so = count(*)
    case c: aggregate.Count if !c.isDistinct && versionRef(c.column) =>
      Some("count")
    case _ => None
  }

  private def canPush(agg: aggregate.Aggregation): Boolean =
    !nonVersionFilter && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall(f => tagOf(f).isDefined)

  override def supportCompletePushDown(agg: aggregate.Aggregation): Boolean =
    canPush(agg)

  override def pushAggregation(agg: aggregate.Aggregation): Boolean = {
    if (!canPush(agg)) return false
    aggTags = agg.aggregateExpressions.toSeq.map(f => tagOf(f).get)
    true
  }

  override def build(): Scan =
    if (aggTags.nonEmpty) new GraftAggScan(path, minV, maxV, aggTags)
    else new GraftScan(path, required, minV, maxV,
      if (nonVersionFilter) -1 else limit,
      options.getLong("startVersion", 0L),
      options.getLong("maxVersionsPerTrigger", 0L),
      versionAsOf != Long.MaxValue,
      limitDesc)
}

/** The one-row scan a completely-pushed MIN/MAX/COUNT aggregate plans:
  * values are computed at PLANNING time from [[ParquetLogBackend.readView]]
  * (segment-name version ranges + the commit-log tail — no data-file
  * opens), shipped in the single [[InputPartition]]. An empty clipped
  * range yields SQL semantics: count 0, min/max NULL. */
final class GraftAggScan(
    path: String, minV: Long, maxV: Long, tags: Seq[String]) extends Scan {

  override def readSchema(): StructType =
    StructType(tags.zipWithIndex.map { case (t, i) =>
      StructField(s"${t}_$i", LongType, nullable = t != "count")
    })

  override def description(): String =
    s"GraftLogAggScan path=$path, versions=[$minV, " +
      s"${if (maxV == Long.MaxValue) "∞" else maxV}], " +
      s"pushedAggregates=[${tags.mkString(", ")}] (O(1), no file reads)"

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val (segs, tail) = ParquetLogBackend.readView(path)
      // count = hi-lo+1 assumes the QUERIED window is GAPLESS (the
      // sequencer's density invariant). If history is damaged — a segment
      // file gone, a hole in the tail — the arithmetic would silently
      // diverge from what the row-scan path returns over the same log.
      // Ranges are CLIPPED to [minV, maxV] first: damage outside the
      // window must not fail a pinned-version read of an intact prefix
      // (versionAsOf over old state is exactly the read you want against
      // a damaged log), and bounds derived from the clipped set stay
      // exact even when minV/maxV fall inside a hole. Then assert
      // contiguity at planning time (cheap: O(files log files), no data
      // reads) and fail loudly instead. Overlap is fine (a compaction
      // racing readView can list an event in both tail and a new segment
      // — the row path watermark-filters it); only a GAP is corruption.
      val clipped = (segs.map(s => (s._2, s._3)) ++
        tail.map(e => (e.version, e.version)))
        .flatMap { case (s, e) =>
          val cs = math.max(s, minV)
          val ce = math.min(e, maxV)
          if (cs <= ce) Some((cs, ce)) else None
        }.sortBy(_._1)
      // running-max end, not previous range's end: a sub-range contained
      // in an earlier segment (tail/segment overlap) must not read as a gap
      clipped.foldLeft(Long.MinValue) { case (cover, (s, e)) =>
        if (cover != Long.MinValue && s > cover + 1L)
          throw new IllegalStateException(
            s"gapped log history at $path: versions ${cover + 1}..${s - 1} " +
              s"missing inside the queried window [$minV, $maxV]; " +
              "pushed-aggregate arithmetic would misreport — " +
              "repair the log or read without aggregate pushdown")
        math.max(cover, e)
      }
      val empty = clipped.isEmpty
      val lo = if (empty) 0L else clipped.iterator.map(_._1).min
      val hi = if (empty) 0L else clipped.iterator.map(_._2).max
      val values: Array[java.lang.Long] = tags.map {
        case "count" => java.lang.Long.valueOf(if (empty) 0L else hi - lo + 1L)
        case "min" => if (empty) null else java.lang.Long.valueOf(lo)
        case "max" => if (empty) null else java.lang.Long.valueOf(hi)
      }.toArray
      Array(GraftAggPartition(values))
    }

    override def createReaderFactory(): PartitionReaderFactory =
      new GraftAggReaderFactory
  }
}

final case class GraftAggPartition(values: Array[java.lang.Long])
    extends InputPartition

final class GraftAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val values = p.asInstanceOf[GraftAggPartition].values
      private var emitted = false
      override def next(): Boolean = !emitted && { emitted = true; true }
      override def get(): InternalRow = {
        val row = new GenericInternalRow(values.length)
        values.zipWithIndex.foreach {
          case (null, i) => row.setNullAt(i)
          case (v, i) => row.setLong(i, v.longValue)
        }
        row
      }
      override def close(): Unit = ()
    }
}

final class GraftScan(
    path: String,
    required: StructType,
    minV: Long,
    maxV: Long,
    limit: Int,
    streamStartVersion: Long,
    maxVersionsPerTrigger: Long,
    timeTravel: Boolean = false,
    limitDesc: Boolean = false)
    extends Scan with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def description(): String =
    s"GraftLogScan path=$path, versions=[$minV, " +
      s"${if (maxV == Long.MaxValue) "∞" else maxV}], " +
      s"${if (limit >= 0) s"limit=$limit${if (limitDesc) " desc" else ""}, "
      else ""}" +
      s"columns=[${required.fieldNames.mkString(", ")}]"

  /** Dense versions make row counts EXACT from segment names alone (no
    * file opens): without reported statistics a version-bounded log scan
    * inherits spark.sql.defaultSizeInBytes and can never be the broadcast
    * side of a join — precisely the shape "join a small recent window of
    * the log against a big table" produces. Bytes are the planned files'
    * sizes scaled by the clipped row fraction and the pruned column
    * fraction; pushed limits cap both. */
  override def estimateStatistics(): Statistics = {
    val (segs, tail) = graft.storage.ParquetLogBackend.readView(path)
    val fullWidth = math.max(EventSchema.schema.size, 1)
    var rows = 0L
    var bytes = 0L
    segs.foreach { case (f, v0, v1) =>
      if (v1 >= minV && v0 <= maxV && maxV >= minV) {
        val r = GraftPartitions.clippedRows(v0, v1, minV, maxV)
        rows += r
        val sz =
          try java.nio.file.Files.size(java.nio.file.Paths.get(f))
          catch { case _: Exception => r * 64L }
        // ratio-first in double: `sz * r` in Long overflows for multi-GB
        // segments × large clipped row counts, and a wrapped-negative
        // estimate would read as "tiny" and invite a broadcast of a huge
        // scan; doubles lose ulps, not the magnitude (it's an estimate)
        bytes += (sz.toDouble * r / (v1 - v0 + 1L)).toLong
      }
    }
    val tailRows =
      tail.count(e => e.version >= minV && e.version <= maxV).toLong
    rows += tailRows
    bytes += tailRows * 128L
    if (limit >= 0 && rows > limit) {
      // same overflow shape as above: `bytes * limit` with a ~2^31 pushed
      // limit wraps long before the division rescues it
      bytes = if (rows > 0) (bytes.toDouble * limit / rows).toLong else bytes
      rows = limit.toLong
    }
    val prunedBytes = math.max(
      (bytes.toDouble * math.max(required.size, 1) / fullWidth).toLong, 1L)
    val (nr, sb) = (rows, prunedBytes)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(sb)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(nr)
    }
  }

  override def toBatch: Batch =
    new GraftBatch(path, required, minV, maxV, limit, limitDesc)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // a stream pinned to a historical snapshot is a contradiction — fail
    // loudly instead of silently ignoring the ceiling
    require(!timeTravel,
      "versionAsOf is a batch read option; for streams use startVersion")
    new GraftMicroBatchStream(path, required, streamStartVersion,
      maxVersionsPerTrigger)
  }
}

final class GraftBatch(
    path: String, required: StructType, minV: Long, maxV: Long, limit: Int,
    limitDesc: Boolean = false)
    extends Batch {

  override def planInputPartitions(): Array[InputPartition] =
    GraftPartitions.plan(path, minV, maxV, limit, limitDesc)

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required)
}

object GraftPartitions {
  /** Surviving rows of a [v0, v1] segment clipped to [minV, maxV] — exact
    * under dense versions. ONE definition shared by the file planner and
    * GraftScan.estimateStatistics so the planner's and the statistics'
    * notion of "rows in range" cannot drift. */
  private[sources] def clippedRows(
      v0: Long, v1: Long, minV: Long, maxV: Long): Long =
    math.min(maxV, v1) - math.max(minV, v0) + 1L

  /** One partition per version-overlapping segment file + at most one for
    * the commit-log tail. File ranges come from the segment names; nothing
    * here opens a data file.
    *
    * `limit >= 0` (only set when every pushed filter was a version bound)
    * stops adding files once the planned rows cover the limit: versions are
    * dense, so a file clipped to [minV, maxV] contributes EXACTLY
    * `min(maxV,v1) - max(minV,v0) + 1` surviving rows — a `.limit(k)` on a
    * 10-year log plans ⌈k-covering⌉ files, not the whole history. Spark
    * still applies its own Limit on top (pushLimit returned false), so
    * over-planning the last file is fine; under-planning is what this
    * guards against. */
  def plan(
      path: String, minV: Long, maxV: Long, limit: Int = -1,
      desc: Boolean = false): Array[InputPartition] = {
    if (maxV < minV) return Array.empty
    val (segs, tail) = ParquetLogBackend.readView(path)
    val overlapping = segs
      .filter { case (_, v0, v1) => v1 >= minV && v0 <= maxV }
      .sortBy(_._2)
    val inRangeTail = tail.filter(e => e.version >= minV && e.version <= maxV)
    // ONE clip rule + ONE coverage loop for both directions: carry a bound
    // only when it actually cuts into the file's own range — a fully-
    // covered file then reads unbounded (no forced version projection, no
    // parquet filter, no per-row range check). Returns the planned files
    // and the rows they cover (exact under dense versions).
    def takeCovering(
        it: Iterator[(String, Long, Long)],
        already: Long): (Seq[InputPartition], Long) = {
      var covered = already
      val files = ArrayBuffer.empty[InputPartition]
      while (it.hasNext && (limit < 0 || covered < limit)) {
        val (f, v0, v1) = it.next()
        files += GraftFilePartition(f,
          if (minV > v0) minV else 1L,
          if (maxV < v1) maxV else Long.MaxValue)
        covered += clippedRows(v0, v1, minV, maxV)
      }
      (files.toSeq, covered)
    }
    if (desc && limit >= 0) {
      // "last k" (pushed TopN on version DESC): coverage accumulates from
      // the HIGH end — the commit-log tail is the newest slice, then
      // segment files newest-first; a tail query on a 10-year log plans
      // the tail + the newest file(s), never the history. Spark's own
      // Sort+Limit on top makes over-planning harmless (partial push);
      // under-planning is impossible because clipped row counts are exact
      // under dense versions.
      val (files, _) =
        takeCovering(overlapping.reverseIterator, inRangeTail.length.toLong)
      (files ++ (if (inRangeTail.nonEmpty)
        Seq(GraftTailPartition(inRangeTail.toArray)) else Nil)).toArray
    } else {
      val (files, covered) = takeCovering(overlapping.iterator, 0L)
      val t =
        if (limit >= 0 && covered >= limit) Nil
        else inRangeTail
      (files ++ (if (t.nonEmpty) Seq(GraftTailPartition(t.toArray)) else Nil))
        .toArray
    }
  }
}

final case class GraftFilePartition(file: String, minV: Long, maxV: Long)
    extends InputPartition
final case class GraftTailPartition(events: Array[StoredEvent])
    extends InputPartition

/** All partitions read COLUMNAR. Fully-covered segment files go through
  * Spark's vectorized parquet reader (the same decoder the built-in file
  * source uses — zero-copy batch pass-through). Version-BOUNDED reads (the
  * streaming micro-batch shape, the ≤2 clipped edge files of a range scan)
  * go through the row reader — whose parquet stats filter SKIPS
  * non-overlapping row groups without decoding, keeping a capped
  * micro-batch O(cap) instead of O(segment) — packed into columnar
  * batches. The commit-log tail arrives as one built [[ColumnarBatch]]. */
final class GraftReaderFactory(required: StructType)
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = true

  override def createColumnarReader(
      p: InputPartition): PartitionReader[ColumnarBatch] =
    p match {
      case GraftFilePartition(f, lo, hi)
          if lo <= 1L && hi == Long.MaxValue =>
        new GraftColumnarSegmentReader(f, required)
      case GraftFilePartition(f, lo, hi) =>
        new GraftPackedColumnarReader(
          new GraftSegmentReader(f, lo, hi, required), required)
      case GraftTailPartition(events) =>
        new GraftColumnarTailReader(events, required)
    }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case GraftFilePartition(f, lo, hi) =>
        new GraftSegmentReader(f, lo, hi, required)
      case GraftTailPartition(events) =>
        new GraftTailReader(events, required)
    }
}

/** Vectorized columnar read of one FULLY-covered segment file: every batch
  * passes through with zero copies and no per-row work at all. */
final class GraftColumnarSegmentReader(file: String, required: StructType)
    extends PartitionReader[ColumnarBatch] {
  import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader

  private val reader = new VectorizedParquetRecordReader(false, 4096)
  reader.initialize(file, util.Arrays.asList(required.fieldNames: _*))
  reader.enableReturningBatches()

  override def next(): Boolean = reader.nextKeyValue()
  override def get(): ColumnarBatch =
    reader.getCurrentValue.asInstanceOf[ColumnarBatch]
  override def close(): Unit = reader.close()
}

/** Adapts a row [[PartitionReader]] to the columnar contract by packing
  * rows into [[ColumnarBatch]]es. Used for version-bounded segment reads,
  * which are small by construction (micro-batch caps, clipped range-scan
  * edges) — the win of the row path's row-group stats skipping outweighs
  * per-row materialization there. */
final class GraftPackedColumnarReader(
    rows: PartitionReader[InternalRow], required: StructType)
    extends PartitionReader[ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

  private val Cap = 4096
  private var pending = false // rows.get() holds an unpacked row
  private var batch: ColumnarBatch = _

  override def next(): Boolean = {
    if (!pending && !rows.next()) { batch = null; false }
    else {
      val out = OnHeapColumnVector.allocateColumns(Cap, required)
      var n = 0
      var more = true
      while (more && n < Cap) {
        val r = rows.get()
        var c = 0
        while (c < required.length) {
          required.fields(c).dataType match {
            case LongType => out(c).putLong(n, r.getLong(c))
            case _ => out(c).putByteArray(n, r.getUTF8String(c).getBytes)
          }
          c += 1
        }
        n += 1
        more = rows.next()
      }
      pending = more
      batch = new ColumnarBatch(
        out.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]],
        n)
      true
    }
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = rows.close()
}

/** The commit-log tail as a single built columnar batch (tail size is
  * bounded by the compact threshold). */
final class GraftColumnarTailReader(
    events: Array[StoredEvent], required: StructType)
    extends PartitionReader[ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

  private var emitted = false

  override def next(): Boolean = !emitted && { emitted = true; true }

  override def get(): ColumnarBatch = {
    val out = OnHeapColumnVector.allocateColumns(events.length, required)
    var c = 0
    while (c < required.length) {
      val dst = out(c)
      val name = required.fields(c).name
      var i = 0
      while (i < events.length) {
        val e = events(i)
        name match {
          case "version" => dst.putLong(i, e.version)
          case "version_previous" => dst.putLong(i, e.versionPrevious)
          case "timestamp" => dst.putLong(i, e.timestamp)
          case "label" => dst.putByteArray(i, e.label.getBytes("UTF-8"))
          case "payload" => dst.putByteArray(i, e.payload.getBytes("UTF-8"))
          case "checksum" => dst.putLong(i, e.checksum)
        }
        i += 1
      }
      c += 1
    }
    new ColumnarBatch(
      out.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]],
      events.length)
  }
  override def close(): Unit = ()
}

/** Reads one segment file through [[ParquetLogBackend.SegmentRows]], the
  * one direct segment reader: projected to the required columns, with the
  * version range pushed down so non-overlapping row groups and pages are
  * skipped without decoding. Row-level exactness matters for the STREAMING
  * path — a micro-batch must contain exactly its offset range, there is no
  * Spark residual filter there. */
final class GraftSegmentReader(
    file: String, lo: Long, hi: Long, required: StructType)
    extends PartitionReader[InternalRow] {
  private val rows = new ParquetLogBackend.SegmentRows(
    file, lo, hi, required.fieldNames.toSeq)
  private var row: InternalRow = _

  override def next(): Boolean = {
    val g = rows.next()
    if (g == null) { row = null; false }
    else {
      val values = new Array[Any](required.length)
      var i = 0
      while (i < required.length) {
        val f = required.fields(i)
        values(i) = f.dataType match {
          case LongType => g.getLong(f.name, 0)
          case _ => UTF8String.fromBytes(g.getBinary(f.name, 0).getBytes)
        }
        i += 1
      }
      row = new GenericInternalRow(values)
      true
    }
  }
  override def get(): InternalRow = row
  override def close(): Unit = rows.close()
}

/** Tail events travel IN the partition (they only exist in the driver-read
  * commit log); bounded by the backend's compact threshold, the same way
  * the in-memory tail bounds the writer. */
final class GraftTailReader(events: Array[StoredEvent], required: StructType)
    extends PartitionReader[InternalRow] {
  private var i = -1
  override def next(): Boolean = { i += 1; i < events.length }
  override def get(): InternalRow = {
    val e = events(i)
    new GenericInternalRow(required.fields.map { f =>
      (f.name match {
        case "version" => e.version
        case "version_previous" => e.versionPrevious
        case "timestamp" => e.timestamp
        case "label" => UTF8String.fromString(e.label)
        case "payload" => UTF8String.fromString(e.payload)
        case "checksum" => e.checksum
      }): Any
    })
  }
  override def close(): Unit = ()
}

/** Micro-batch streaming over the log: offsets are VERSIONS. Dense version
  * assignment makes the offset algebra exact — batch (a, b] is precisely
  * versions a+1..b, every event delivered exactly once across restarts
  * (the checkpoint stores plain version numbers). `latestOffset` costs one
  * segment-name listing + the post-rotation commit-log tail, both bounded
  * by the compact threshold, not by history size.
  *
  * Admission control: `maxVersionsPerTrigger` (> 0) caps each micro-batch
  * at that many versions via [[SupportsAdmissionControl]] — after downtime
  * a backlog of N versions drains in ⌈N/cap⌉ exact contiguous batches
  * instead of one unbounded catch-up batch (versions ≡ rows, so the cap is
  * expressed as `ReadLimit.maxRows`). Spark's rate-limit plumbing keeps
  * `reportLatestOffset` (the true tip) separate for lag metrics.
  * [[SupportsTriggerAvailableNow]] is implemented natively — without it,
  * Spark's wrapper drains `Trigger.AvailableNow` runs in ONE unbounded
  * batch, defeating the cap exactly when it matters most (catch-up). */
final class GraftMicroBatchStream(
    path: String,
    required: StructType,
    startVersion: Long,
    maxVersionsPerTrigger: Long)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  override def initialOffset(): Offset = GraftOffset(startVersion)

  // Trigger.AvailableNow freezes the tip at query start: batches drain up
  // to exactly this point and the query stops, even if a writer keeps
  // appending concurrently.
  private var frozenTip: Long = -1L

  private def tipVersion(): Long = {
    val (segs, tail) = ParquetLogBackend.readView(path)
    val segMax = if (segs.isEmpty) 0L else segs.map(_._3).max
    val v = tail.lastOption.map(_.version).getOrElse(segMax)
    math.max(startVersion, v)
  }

  override def prepareForTriggerAvailableNow(): Unit =
    frozenTip = tipVersion()

  override def getDefaultReadLimit: ReadLimit =
    if (maxVersionsPerTrigger > 0L) ReadLimit.maxRows(maxVersionsPerTrigger)
    else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = GraftOffset.version(start)
    val tip = if (frozenTip >= 0L) frozenTip else tipVersion()
    val capped = limit match {
      // saturating: maxRows near Long.MaxValue must mean "unbounded", not
      // overflow into a negative end offset that stalls the stream
      case r: ReadMaxRows if r.maxRows() < tip - from => from + r.maxRows()
      case _ => tip
    }
    GraftOffset(math.max(from, capped))
  }

  override def reportLatestOffset(): Offset = GraftOffset(tipVersion())

  // Spark calls the admission-control overload when the interface is
  // implemented; this one must not be reachable.
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used via SupportsAdmissionControl")

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] =
    GraftPartitions.plan(path,
      GraftOffset.version(start) + 1L, GraftOffset.version(end))

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required)

  override def deserializeOffset(json: String): Offset =
    GraftOffset(GraftOffset.parse(json))

  override def commit(end: Offset): Unit = () // log is append-only; nothing to release
  override def stop(): Unit = ()
}

final case class GraftOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

object GraftOffset {
  private val Json = """\{"version":\s*(\d+)\s*\}""".r
  def parse(json: String): Long = json.trim match {
    case Json(v) => v.toLong
    case other => throw new IllegalArgumentException(s"bad graft offset: $other")
  }
  def version(o: Offset): Long = o match {
    case GraftOffset(v) => v
    case other => parse(other.json())
  }
}
