package graft.streaming

import graft.operators.{PqIndex, SearchIndex, SearchSnapshot}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}

/** LIVE-refresh serving for the persisted indexes — the contract the
  * snapshot-serving stream builders ([[StreamOps.searchStream]] /
  * [[StreamOps.searchPhraseStream]] / [[StreamOps.annProbeStream]])
  * deliberately do not make: those capture the index at query definition
  * (a stream-static join's static side resolves its file listing once),
  * so documents appended afterwards are served only after a restart.
  *
  * A live server instead drives the stream through `foreachBatch` — the
  * idiomatic Spark shape for a refreshable static side — and, per
  * micro-batch, CHECKS the index's commit state before answering:
  *  - the search index has a real commit marker (the meta batch-dir set),
  *    so staleness detection is one directory listing — exact, cheap,
  *    and atomic with respect to appendDocs/compact commits;
  *  - the vector index commits by appending parquet files, so its
  *    detection fingerprint is the (name, size) file listing of
  *    cells/pq_codes/centroids.
  * On a detected change the server reloads, re-persists the scoring
  * snapshot, and unpersists the old one — readers of the PREVIOUS
  * micro-batch were already answered from a consistent snapshot; the
  * next micro-batch sees the appended documents. Between changes the
  * cost per micro-batch is one listing, no Spark job.
  *
  * Answers are the BATCH operators' answers (the same snapshot algebra
  * the windowed stream twins pin against batch search): each query row
  * is complete in its micro-batch, so no watermark state is needed and
  * results emit immediately rather than on window close — the right
  * latency contract for a serving tier, with the windowed builders
  * remaining the choice for event-time-aggregated pipelines.
  */
final class LiveSearchServer(
    spark: SparkSession, dir: String, mode: String = "tfidf")
    extends AutoCloseable {

  // batch set captured BEFORE the load: a commit landing in between then
  // makes the RECORDED set stale, so the first refresh check reloads —
  // the safe direction (the reverse order would record the newer set
  // against the older snapshot and never refresh)
  @volatile private var state: (Set[String], SearchSnapshot) = {
    val c = committed()
    (c, SearchIndex.load(spark, dir).snapshot(mode))
  }

  private def committed(): Set[String] =
    SearchIndex.committedBatches(dir).toSet

  /** Reload + re-snapshot if the committed-batch set changed since the
    * snapshot was taken. @return true if a refresh happened */
  def refreshIfStale(): Boolean = synchronized {
    val now = committed()
    if (now == state._1) false
    else {
      val fresh = SearchIndex.load(spark, dir).snapshot(mode)
      val old = state._2
      state = (now, fresh)
      old.close()
      true
    }
  }

  /** Answer one (plain, non-streaming) batch of queries against the
    * CURRENT snapshot: (q_id, top_ids, top_scores) — the stream twins'
    * output shape minus the window, scores the batch search's exact
    * BIGINTs. Phrase mode scores by occurrence count.
    *
    * This IS [[SearchIndex.answerWithSnapshot]] by construction — the
    * serving tier holds no scoring plan of its own, so it can never
    * drift from the oracle-gated batch algebra. */
  def answer(
      queries: DataFrame, idCol: String, qCol: String, topK: Int): DataFrame =
    SearchIndex.answerWithSnapshot(state._2,
      queries.select(col(idCol).cast("long").as("q_id"),
        col(qCol).as("q")), topK)

  /** FILTERED text-search serving (round 16 — the text tier's twin of
    * [[LiveAnnServer.answerFiltered]]): top-k over the doc ids in
    * `allowed` (one `doc_id` column), scored with the FULL index's
    * statistics — visibility filtering, not scorer re-training. */
  def answerFiltered(
      queries: DataFrame, idCol: String, qCol: String, topK: Int,
      allowed: DataFrame): DataFrame =
    SearchIndex.answerWithSnapshotFiltered(state._2,
      queries.select(col(idCol).cast("long").as("q_id"),
        col(qCol).as("q")), allowed, topK)

  /** PER-QUERY-ROW filtered text-search serving — every query row
    * carries a tenant key, `allowedKeyed` is `(keyCol, doc_id)`; one
    * micro-batch serves many tenants, each ranked only over its own
    * allowed documents ([[LiveAnnServer.answerFilteredKeyed]]'s
    * contract on the text tier). */
  def answerFilteredKeyed(
      queries: DataFrame, idCol: String, qCol: String, keyCol: String,
      topK: Int, allowedKeyed: DataFrame): DataFrame =
    SearchIndex.answerWithSnapshotFilteredKeyed(state._2,
      queries.select(col(idCol).cast("long").as("q_id"),
        col(qCol).as("q"), col(keyCol)), keyCol, allowedKeyed, topK)

  /** [[serve]] with a per-micro-batch allowed-set SOURCE — the
    * [[LiveAnnServer.serveFilteredBy]] contract on the text tier. */
  def serveFilteredBy(
      queries: DataFrame, idCol: String, qCol: String, topK: Int,
      allowedSource: () => DataFrame)
      (sink: DataFrame => Unit): StreamingQuery =
    LiveServers.serveLoop(queries, this.refreshIfStale _, sink,
      (b: DataFrame) => answerFiltered(b, idCol, qCol, topK,
        allowedSource()))

  /** The multi-tenant text-serving loop —
    * [[LiveAnnServer.serveFilteredKeyedBy]]'s contract here. */
  def serveFilteredKeyedBy(
      queries: DataFrame, idCol: String, qCol: String, keyCol: String,
      topK: Int, allowedKeyedSource: () => DataFrame)
      (sink: DataFrame => Unit): StreamingQuery =
    LiveServers.serveLoop(queries, this.refreshIfStale _, sink,
      (b: DataFrame) => answerFilteredKeyed(b, idCol, qCol, keyCol, topK,
        allowedKeyedSource()))

  /** Start serving a STREAM of queries: per micro-batch, refresh if the
    * index grew, answer from the current snapshot, hand the result to
    * `sink`. The returned query is the caller's to stop.
    *
    * A maintenance commit can land BETWEEN the staleness check and the
    * answer's execution (compact/gc deletes files the stale listing
    * still references) — that window retries ONCE after a forced
    * re-check, and ONLY for failures consistent with vanished snapshot
    * files ([[LiveServers.vanishedFiles]]): an unrelated failure must
    * propagate, not be masked once because a commit happened to land
    * between the two checks. A second failure propagates.
    *
    * `sink` must be IDEMPOTENT PER MICRO-BATCH (the standard foreachBatch
    * sink contract): the retry re-invokes it for the same batch, so a
    * sink that emitted partial results before failing would otherwise
    * duplicate them — key the write on the micro-batch (overwrite/upsert),
    * not blind-append. Sharing one server across several streams is
    * safe for correctness (an unpersisted snapshot recomputes from
    * source mid-job); each stream's own refresh-then-answer is
    * sequential within its micro-batch thread. */
  def serve(
      queries: DataFrame, idCol: String, qCol: String, topK: Int)
      (sink: DataFrame => Unit): StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        refreshIfStale()
        try sink(answer(batch, idCol, qCol, topK))
        catch {
          case scala.util.control.NonFatal(e)
              if LiveServers.vanishedFiles(e) =>
            if (refreshIfStale()) sink(answer(batch, idCol, qCol, topK))
            else throw e
        }
      }
      .start()

  override def close(): Unit = state._2.close()
}

/** [[LiveSearchServer]]'s vector twin: ADC probes served from a
  * PERSISTED [[PqIndex]], re-loaded when the index dir's file listing
  * changes (the vector indexes commit by appending whole parquet files,
  * so the (name, size) listing IS the visible state). Probes run through
  * [[PqIndex.probeAll]] — the executor-side batch path, no driver LUT —
  * so a micro-batch of queries may be arbitrarily large. */
final class LiveAnnServer(
    spark: SparkSession, dir: String,
    nProbe: Int, topK: Int, rerank: Int = 0) extends AutoCloseable {

  @volatile private var state: (String, PqIndex) =
    (LiveServers.dirFingerprint(dir), PqIndex.load(spark, dir))

  /** Reload if the index files changed. @return true on refresh */
  def refreshIfStale(): Boolean = synchronized {
    val now = LiveServers.dirFingerprint(dir)
    if (now == state._1) false
    else { state = (now, PqIndex.load(spark, dir)); true }
  }

  /** ADC-probe one plain batch of (id, vector) queries against the
    * current index generation. */
  def answer(queries: DataFrame, idCol: String, vecCol: String): DataFrame =
    PqIndex.probeAll(state._2,
      queries.select(col(idCol).cast("long").as("q_id"),
        col(vecCol).cast("array<double>").as("qv")),
      nProbe, topK, rerank)

  /** FILTERED serving (round 14): [[answer]] with candidates restricted
    * to the ids in `allowed` (one `vec_id` column — an attribute-table
    * predicate pre-materialized by the caller), routed through
    * [[PqIndex.adcProbeFiltered]]: the semi-join lands on the probed
    * cells' CODES before ADC ranking, so topK survivors return however
    * selective the predicate is and the scan still reads ~nProbe/k of
    * the data. `allowed` is a plain relation re-planned per call — a
    * metadata table that grows between micro-batches is re-read, but
    * the VECTORS served always come from the index's committed state
    * (tombstoned rows are already gone from the loaded generation). */
  def answerFiltered(
      queries: DataFrame, idCol: String, vecCol: String,
      allowed: DataFrame): DataFrame =
    PqIndex.adcProbeFiltered(state._2,
      queries.select(col(idCol).cast("long").as("q_id"),
        col(vecCol).cast("array<double>").as("qv")),
      allowed, nProbe, topK, rerank)

  /** Serve a query stream with per-micro-batch refresh — upserted
    * vectors are probed as soon as their files commit, no restart. A
    * generation swap (splitCell/rebalance/compact) landing between the
    * check and the probe deletes the files the stale handle references;
    * that window retries once after a forced re-check, restricted to
    * vanished-file failures, and `sink` must be idempotent per
    * micro-batch (same contract as [[LiveSearchServer.serve]]). */
  def serve(
      queries: DataFrame, idCol: String, vecCol: String)
      (sink: DataFrame => Unit): StreamingQuery =
    LiveServers.serveLoop(queries, this.refreshIfStale _, sink,
      (b: DataFrame) => answer(b, idCol, vecCol))

  /** [[serve]] with a per-server allowed-id relation: every micro-batch
    * answers through [[answerFiltered]], against the index state AND
    * the `allowed` relation as of that batch. The filtered twin of the
    * unfiltered serving loop — same refresh, same vanished-file retry,
    * same idempotent-sink contract. */
  def serveFiltered(
      queries: DataFrame, idCol: String, vecCol: String,
      allowed: DataFrame)
      (sink: DataFrame => Unit): StreamingQuery =
    LiveServers.serveLoop(queries, this.refreshIfStale _, sink,
      (b: DataFrame) => answerFiltered(b, idCol, vecCol, allowed))

  /** [[serveFiltered]] with a PER-MICRO-BATCH allowed-id SOURCE
    * (round 15): `allowedSource` is invoked at the top of every
    * micro-batch — the registry stream's manifest-reload discipline
    * applied to the filter relation — so a predicate change (a doc
    * taken down, a tenant's visibility set updated) between batches
    * changes the VERY NEXT batch's answers with no server restart.
    * [[serveFiltered]]'s single bound relation is the static special
    * case; this is what a multi-tenant serving tier wires. */
  def serveFilteredBy(
      queries: DataFrame, idCol: String, vecCol: String,
      allowedSource: () => DataFrame)
      (sink: DataFrame => Unit): StreamingQuery =
    LiveServers.serveLoop(queries, this.refreshIfStale _, sink,
      (b: DataFrame) => answerFiltered(b, idCol, vecCol, allowedSource()))

  /** PER-QUERY-ROW filtered serving (round 16): every query row carries
    * a tenant/visibility key (`keyCol`) and `allowedKeyed` is a
    * `(keyCol, vec_id)` relation — ONE micro-batch serves many tenants,
    * each query ranked only over its key's allowed ids
    * ([[graft.operators.PqIndex.adcProbeFilteredKeyed]]). Per query row
    * this equals [[answerFiltered]] with that key's allowed slice. */
  def answerFilteredKeyed(
      queries: DataFrame, idCol: String, vecCol: String, keyCol: String,
      allowedKeyed: DataFrame): DataFrame =
    PqIndex.adcProbeFilteredKeyed(state._2,
      queries.select(col(idCol).cast("long").as("q_id"),
        col(vecCol).cast("array<double>").as("qv"), col(keyCol)),
      keyCol, allowedKeyed, nProbe, topK, rerank)

  /** The multi-tenant serving loop: [[serveFilteredBy]]'s per-batch
    * allowed-source refresh composed with [[answerFilteredKeyed]]'s
    * per-query-row keying — a tenant's visibility change between
    * batches changes the very next batch, and tenants sharing a batch
    * get disjoint, correctly-filtered topKs (spec'd batch parity vs
    * per-tenant [[answerFiltered]]). */
  def serveFilteredKeyedBy(
      queries: DataFrame, idCol: String, vecCol: String, keyCol: String,
      allowedKeyedSource: () => DataFrame)
      (sink: DataFrame => Unit): StreamingQuery =
    LiveServers.serveLoop(queries, this.refreshIfStale _, sink,
      (b: DataFrame) => answerFilteredKeyed(b, idCol, vecCol, keyCol,
        allowedKeyedSource()))

  /** No-op BY DESIGN (not an omission): a loaded [[PqIndex]] holds only
    * driver-side codebook/centroid state plus lazy DataFrames over the
    * index files — nothing persisted in the cache manager, so there is
    * nothing to release (contrast [[LiveSearchServer.close]], whose
    * snapshot pins a cached plan). If a future refresh path adds a
    * `.persist()` here, close() must unpersist it or every generation
    * leaks one cached plan. */
  override def close(): Unit = ()
}

/** [[LiveAnnServer]]'s raw-IVF twin (round 14): exact-cosine probes
  * served from a persisted [[graft.operators.IvfIndex]] — the tier a
  * corpus uses before PQ compression pays for itself. Same commit-state
  * fingerprint/refresh discipline, same filtered-serving surface
  * ([[graft.operators.IvfIndex.probeFiltered]]'s post-filter-then-rank
  * semantics composed with cell pruning). Queries per micro-batch are
  * driver-collected by the probe (small-by-contract — the serving-tier
  * shape; corpus-scale probe sets belong on the batch probeAll path). */
final class LiveIvfServer(
    spark: SparkSession, dir: String,
    nProbe: Int, topK: Int) extends AutoCloseable {
  import graft.operators.IvfIndex

  @volatile private var state: (String, IvfIndex) =
    (LiveServers.dirFingerprint(dir), IvfIndex.load(spark, dir))

  /** Reload if the index files changed. @return true on refresh */
  def refreshIfStale(): Boolean = synchronized {
    val now = LiveServers.dirFingerprint(dir)
    if (now == state._1) false
    else { state = (now, IvfIndex.load(spark, dir)); true }
  }

  def answer(queries: DataFrame, idCol: String, vecCol: String): DataFrame =
    IvfIndex.probe(state._2,
      queries.select(col(idCol).cast("long").as("q_id"),
        col(vecCol).cast("array<double>").as("qv")),
      nProbe, topK)

  /** [[answer]] restricted to the ids in `allowed` (one `vec_id`
    * column) — [[graft.operators.IvfIndex.probeFiltered]] live: the
    * semi-join runs on the probed cells' rows BEFORE ranking, so topK
    * survivors return per query and a removed (tombstoned) vector is
    * structurally unservable — it is absent from the loaded
    * generation's cells, allowed-list or not. */
  def answerFiltered(
      queries: DataFrame, idCol: String, vecCol: String,
      allowed: DataFrame): DataFrame =
    IvfIndex.probeFiltered(state._2,
      queries.select(col(idCol).cast("long").as("q_id"),
        col(vecCol).cast("array<double>").as("qv")),
      allowed, nProbe, topK)

  /** Same serving loop/contract as [[LiveAnnServer.serve]]. */
  def serve(
      queries: DataFrame, idCol: String, vecCol: String)
      (sink: DataFrame => Unit): StreamingQuery =
    LiveServers.serveLoop(queries, this.refreshIfStale _, sink,
      (b: DataFrame) => answer(b, idCol, vecCol))

  /** Same filtered loop/contract as [[LiveAnnServer.serveFiltered]]. */
  def serveFiltered(
      queries: DataFrame, idCol: String, vecCol: String,
      allowed: DataFrame)
      (sink: DataFrame => Unit): StreamingQuery =
    LiveServers.serveLoop(queries, this.refreshIfStale _, sink,
      (b: DataFrame) => answerFiltered(b, idCol, vecCol, allowed))

  /** Same per-batch-refreshed filtered loop/contract as
    * [[LiveAnnServer.serveFilteredBy]]. */
  def serveFilteredBy(
      queries: DataFrame, idCol: String, vecCol: String,
      allowedSource: () => DataFrame)
      (sink: DataFrame => Unit): StreamingQuery =
    LiveServers.serveLoop(queries, this.refreshIfStale _, sink,
      (b: DataFrame) => answerFiltered(b, idCol, vecCol, allowedSource()))

  /** Same per-query-row keyed contract as
    * [[LiveAnnServer.answerFilteredKeyed]], on the raw-IVF tier
    * ([[graft.operators.IvfIndex.probeFilteredKeyed]]). */
  def answerFilteredKeyed(
      queries: DataFrame, idCol: String, vecCol: String, keyCol: String,
      allowedKeyed: DataFrame): DataFrame =
    IvfIndex.probeFilteredKeyed(state._2,
      queries.select(col(idCol).cast("long").as("q_id"),
        col(vecCol).cast("array<double>").as("qv"), col(keyCol)),
      keyCol, allowedKeyed, nProbe, topK)

  /** Same multi-tenant serving loop/contract as
    * [[LiveAnnServer.serveFilteredKeyedBy]]. */
  def serveFilteredKeyedBy(
      queries: DataFrame, idCol: String, vecCol: String, keyCol: String,
      allowedKeyedSource: () => DataFrame)
      (sink: DataFrame => Unit): StreamingQuery =
    LiveServers.serveLoop(queries, this.refreshIfStale _, sink,
      (b: DataFrame) => answerFilteredKeyed(b, idCol, vecCol, keyCol,
        allowedKeyedSource()))

  /** No-op by design — same reasoning as [[LiveAnnServer.close]]. */
  override def close(): Unit = ()
}

private[streaming] object LiveServers {

  /** Commit-state fingerprint of a vector-index dir: the (name, size)
    * file listing of every index relation present (the vector indexes
    * commit by appending/swapping whole parquet files, so the listing
    * IS the visible state; relations a tier doesn't have — pq_codes on
    * a raw IVF index — are simply absent).
    *
    * A generation swap (splitCell/rebalance/compact) can DELETE files
    * between the walk's listing and the stat — absorbing that race here
    * (skip the vanished file / treat a vanished tree as absent) matters
    * because the first refreshIfStale() of a micro-batch runs OUTSIDE
    * the serve() retry: a thrown NoSuchFileException would fail the
    * stream on exactly the race the retry exists for. Any vanished file
    * means the listing differs from the recorded one, so the refresh
    * still fires. */
  private[streaming] def dirFingerprint(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq("cells", "pq_codes", "centroids", "pq_codebooks",
        "rotation").foreach { rel =>
      val root = Paths.get(dir, rel)
      if (Files.isDirectory(root)) {
        import scala.jdk.CollectionConverters._
        try {
          scala.util.Using.resource(Files.walk(root)) { st =>
            st.iterator().asScala.toList
              .filter(Files.isRegularFile(_))
              .flatMap { p =>
                try Some(s"$p:${Files.size(p)}")
                catch { case _: java.nio.file.NoSuchFileException => None }
              }
              .sorted
              .foreach(s => md.update(s.getBytes("UTF-8")))
          }
        } catch {
          // the walk itself can trip on a dir deleted mid-iteration
          case _: java.nio.file.NoSuchFileException =>
          case e: java.io.UncheckedIOException
              if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] =>
        }
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The shared serving loop: per micro-batch, refresh-if-stale, answer,
    * sink; on a vanished-file failure (a maintenance commit landing
    * between the check and the probe's execution) force one re-check and
    * retry ONCE — any other failure, or a failure with nothing stale,
    * propagates. `sink` must be idempotent per micro-batch. */
  private[streaming] def serveLoop(
      queries: DataFrame,
      refresh: () => Boolean,
      sink: DataFrame => Unit,
      answer: DataFrame => DataFrame): StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        refresh()
        try sink(answer(batch))
        catch {
          case scala.util.control.NonFatal(e) if vanishedFiles(e) =>
            if (refresh()) sink(answer(batch))
            else throw e
        }
      }
      .start()

  /** Is this failure consistent with the ONE race the serve() retry
    * exists for — index files deleted by a maintenance commit between
    * the staleness check and the answer's execution? Walks the cause
    * chain for the file-vanished exception types and Spark's stringified
    * forms of them. Anything else is a real error the retry must not
    * mask. */
  private[streaming] def vanishedFiles(e: Throwable): Boolean = {
    val seen = scala.collection.mutable.Set[Throwable]()
    var t: Throwable = e
    while (t != null && seen.add(t)) {
      t match {
        case _: java.io.FileNotFoundException => return true
        case _: java.nio.file.NoSuchFileException => return true
        case _ =>
          if (Option(t.getMessage).exists(m =>
              m.contains("FileNotFound") || m.contains("NoSuchFile") ||
                m.contains("does not exist")))
            return true
      }
      t = t.getCause
    }
    false
  }
}
