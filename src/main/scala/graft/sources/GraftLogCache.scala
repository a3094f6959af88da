package graft.sources

import graft.core.EventData
import graft.storage.ParquetLogBackend
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Builds — once per testdata dir — an on-disk event log mirroring the
  * `events` table (version = event_id + 1, label = event_type, payload =
  * props, appended in event_id order through the real commit sequencer),
  * so `format("graft")` scans can be oracle-checked and benched against
  * the same parquet the relational queries read.
  *
  * Cached through [[graft.util.ArtifactCache]] keyed by the events
  * parquet's fingerprint — a regenerated table at the same path gets a
  * fresh log instead of a silently stale one (the oracle reads the
  * parquet directly, so staleness here would surface as a hash mismatch). */
object GraftLogCache {

  def ensure(spark: SparkSession, sfDir: String): String =
    graft.util.ArtifactCache.ensure(
      java.nio.file.Paths.get(sfDir, "events.parquet"),
      "graft-logcache", "meta.json") { staging =>
      val b = ParquetLogBackend.create(spark, staging,
        compactThreshold = 1000000, compactIntervalMs = 0)
      try {
        // single-writer ingest (the commit sequencer is the documented
        // write surface); bounded — the events table tops out at 100k
        // rows (sf0.1)
        val rows = graft.util.Tables(spark, sfDir, "events")
          .select(col("event_id"), col("event_type"), col("props"))
          .orderBy("event_id")
          .collect()
        rows.grouped(10000).zipWithIndex.foreach { case (batch, i) =>
          b.appendMulti(
            batch.toSeq.map(r => EventData(r.getString(1), r.getString(2))))
          if (i % 2 == 1) b.compact() // ~20k-row segments
        }
        b.compact()
      } finally b.close()
    }
}
