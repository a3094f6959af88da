package graft.storage

import graft.core.EventSchema
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** Volatile in-memory backend ≙ reference eventlog/inmem (inmem.go:33-50).
  * Dev/test scale: the whole log lives on the driver; `readRange` copies the
  * requested slice of it, and `snapshotRange` hands that slice to Spark via
  * createDataFrame. */
final class InMemoryBackend(
    spark: SparkSession,
    override val metadata: Map[String, String] = Map.empty,
    override val payloadLimit: Int = EventSchema.DefaultPayloadLimit)
    extends SequencedBackend {

  private val store = ArrayBuffer.empty[StoredEvent]

  // persist runs under the sequencer lock, but readers call snapshot()
  // from arbitrary threads (e.g. HTTP scans) — guard the buffer itself.
  // Txn tags need no storage here: the in-memory ledger in SequencedBackend
  // lives exactly as long as this volatile log does.
  override protected def persist(
      events: Seq[StoredEvent], tag: Option[CommitTag]): Unit =
    store.synchronized { store ++= events }

  override def snapshot(): DataFrame = snapshotRange(1L, Long.MaxValue)

  /** Exactly the events in [lo, hi]: the store is dense from version 1, so
    * a page copies only its own rows (an immutable copy = snapshot
    * isolation). */
  override def readRange(lo: Long, hi: Long): Seq[StoredEvent] =
    store.synchronized(StoredEvent.slice(store, lo, hi))

  override def snapshotRange(minVersion: Long, maxVersion: Long): DataFrame =
    StoredEvent.frame(spark, readRange(minVersion, maxVersion))

  override def close(): Unit = store.synchronized(store.clear())
}
