package graft.core

import org.apache.spark.sql.types._

/** Core data model of the event-log engine.
  *
  * Mirrors the reference's observable model (/root/reference/eventlog/
  * eventlog.go:16-27): an append-only, totally-ordered stream of labeled
  * JSON events. Versions here are DENSE 1-based longs assigned by the
  * commit sequencer (the inmem backend's semantics, inmem.go:71-85) — which
  * makes `version_next`/`version_previous` pure arithmetic instead of a
  * global window sort, the property that keeps scans shuffle-free at scale.
  */
final case class EventData(label: String, payloadJson: String)

/** A committed event as surfaced by scans. `versionNext` is derived at read
  * time (0 = none), never stored — matching the reference
  * (file/internal/read_event.go:17). */
final case class Event(
    version: Long,
    versionPrevious: Long,
    versionNext: Long,
    timestamp: Long, // unix seconds UTC
    label: String,
    payloadJson: String)

/** Result of a successful append commit. For single appends
  * `versionFirst == version`. */
final case class AppendResult(
    versionPrevious: Long,
    versionFirst: Long,
    version: Long,
    timestamp: Long)

object EventSchema {
  /** Storage schema of the log. `checksum` is XXH64 over the reference's
    * little-endian entry layout (see graft.exprs.EventOps.checksum). */
  val schema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("version_previous", LongType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("label", StringType, nullable = false),
    StructField("payload", StringType, nullable = false),
    StructField("checksum", LongType, nullable = false)))

  val DefaultPayloadLimit: Int = 1 << 20 // 1 MiB (reference file.go:33)
  val MinPayloadLen: Int = 7 // len("""{"x":0}""") (reference file.go:36)
  /** Most events one read returns (reference bench_test.go:78-101): the
    * HTTP scan cap, and the row bound of a log segment's Parquet pages, so
    * a page-sized read decodes at most two pages. */
  val MaxReadBatchSize: Int = 1000
}

/** Error contract — status strings are part of the reference's API surface
  * (/root/reference/internal/internal.go:7-14). */
object Errors {
  final class ErrInvalidPayload extends IllegalArgumentException("ErrInvalidPayload")
  final class ErrLabelContainsIllegalChars
      extends IllegalArgumentException("label contains illegal characters")
  final class ErrLabelTooLong extends IllegalArgumentException("label too long")
  final class ErrMismatchingVersions
      extends IllegalStateException("ErrMismatchingVersions")
  final class ErrPayloadSizeLimitExceeded
      extends IllegalArgumentException("ErrPayloadSizeLimitExceeded")
  final class ErrInvalidVersion extends IllegalArgumentException("ErrInvalidVersion")
  final class ErrMalformedVersion
      extends IllegalArgumentException("ErrMalformedVersion")
  final class ErrBadArgument extends IllegalArgumentException("ErrBadArgument")
}
