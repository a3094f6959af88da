package graft.streaming

import graft.operators.{DedupState, IvfIndex, PqIndex, SearchIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Paths}

/** The WRITE half of the live index loop — [[LiveSearchServer]] /
  * [[LiveAnnServer]] made the read side refresh per micro-batch; this
  * wires a document (or vector) STREAM into the index maintenance path,
  * so "append an event to the log → the doc is searchable" needs no
  * manual `appendDocs` call anywhere:
  *
  * {{{
  * LogStream.readStream(spark, logDir)            // the event log, live
  *   .select(col("version").as("doc_id"), col("payload").as("text"))
  *   → IndexMaintainer.maintainSearch(…, indexDir) // this file
  *   → LiveSearchServer(spark, indexDir).serve(…)  // read side, round 10
  * }}}
  *
  * Exactly-once discipline (search): each micro-batch appends under a
  * DETERMINISTIC batch id — `e<checkpoint-key>.<epochId>` — and
  * [[SearchIndex.appendDocs]] makes that id idempotent (a committed id
  * appends nothing; a half-written attempt is collected and redone), so
  * a replayed micro-batch can never double-count df/nDocs however the
  * stream crashes. The epoch id comes from Spark's checkpoint, so the
  * guarantee holds ACROSS restarts of the same checkpointed query; the
  * checkpoint key (md5 of the checkpoint dir) keeps two different
  * maintainers' batch ids from colliding on one index.
  *
  * Scale shape: each micro-batch is one bounded appendDocs — tokenize +
  * write the BATCH's postings (batch-sized work, never index-sized), one
  * meta commit. Run [[SearchIndex.compact]] at a periodic cadence to
  * fold the accumulated per-epoch batches (the same small-append
  * file-count pathology the log's segment coalescing exists for).
  */
object IndexMaintainer {

  private def checkpointKey(checkpointDir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(checkpointDir.getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString.take(8)
  }

  /** Maintain a persisted [[SearchIndex]] from a document stream:
    * per micro-batch, `appendDocs` under an epoch-keyed batch id
    * (exactly-once, see class doc). The indexed docs serve at the next
    * [[LiveSearchServer]] micro-batch after their meta commits.
    *
    * The stream must carry NEW doc_ids (the appendDocs contract — its
    * overlap guard rejects re-indexing, failing the stream loudly rather
    * than double-serving a doc); version-numbered sources like the event
    * log satisfy it by construction. An empty micro-batch commits
    * nothing. The index dir may start EMPTY (the first epoch bootstraps
    * it) or hold a batch-built index to grow.
    *
    * `compactEvery` > 0 folds the accumulated per-epoch batches: after
    * an append, when the committed-batch count reaches the threshold,
    * [[SearchIndex.compact]] runs inline (maintenance is serialized on
    * the index lock; readers and live servers ride the same atomic
    * visibility flip as any compact). Without it, a long-running
    * maintainer accretes one batch per epoch — the small-append
    * file-count pathology — and needs an external compaction cadence.
    * Compaction is replay-safe via a SECOND idempotence layer: compact
    * garbage-collects the per-epoch meta dirs the exactly-once re-entry
    * check consults, so a marker dir under
    * `<checkpointDir>/graft-epochs/<epoch>` commits after each append —
    * a replayed epoch whose meta was folded away skips on the marker
    * instead of re-appending into the overlap guard. The
    * marker-not-yet-written crash window falls back to the meta check
    * (compact cannot have run in between: it only runs after the marker
    * in the same invocation), so the two layers cover each other's
    * windows and df/nDocs stay exactly-once through any crash point.
    *
    * @param docs          streaming DataFrame
    * @param idCol         long document id column
    * @param textCol       document text column
    * @param dir           persisted index directory
    * @param checkpointDir streaming checkpoint (also the exactly-once
    *                      identity — keep it stable across restarts)
    * @param fingerprint   optional source fingerprint stamped per batch
    * @param compactEvery  fold batches when the committed count reaches
    *                      this (0 = never; caller owns the cadence) */
  def maintainSearch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      checkpointDir: String,
      fingerprint: Option[String] = None,
      compactEvery: Int = 0): StreamingQuery = {
    val key = checkpointKey(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val marker =
          Paths.get(checkpointDir, "graft-epochs", epochId.toString)
        if (!Files.isDirectory(marker)) {
          val d = batch
            .select(col(idCol).cast("long").as("doc_id"),
              col(textCol).cast("string").as("text"))
            .filter(col("text").isNotNull)
          val spark = batch.sparkSession
          if (!d.isEmpty) {
            SearchIndex.appendDocs(spark, dir, d,
              fingerprint, batchId = Some(s"e$key.$epochId"))
            ()
          }
          Files.createDirectories(marker)
          if (compactEvery > 0 &&
              SearchIndex.committedBatches(dir).size >= compactEvery)
            SearchIndex.compact(spark, dir)
        }
      }
      .start()
  }

  /** Maintain a persisted [[graft.operators.DedupState]] from a document
    * stream — the STREAMING intake admission path: each micro-batch is
    * admitted against everything admitted before it (state dups and
    * batch dups rejected, novel docs' evidence appended as one delta).
    *
    * Exactly-once needs NO epoch markers here: the state's own manifest
    * is the idempotency ledger. Each epoch admits under the
    * deterministic fingerprint `e<checkpoint-key>.<epochId>`; a replayed
    * epoch finds its fingerprint in the manifest and admits nothing, and
    * a crash BETWEEN delta staging and manifest commit leaves only an
    * unreferenced staging dir (the replay re-admits cleanly; [[DedupState.gc]]
    * reclaims the orphan). The epoch id comes from Spark's checkpoint,
    * so the guarantee holds across restarts of the same checkpointed
    * query.
    *
    * `compactEvery` > 0 folds the accumulated drop-sized deltas into one
    * whenever the live-delta count reaches it, then gc's the superseded
    * dirs — the same small-file cadence the search maintainer runs.
    * Size it from the state's typed health verdict
    * ([[graft.operators.DedupState.health]]): per-verdict cost scales
    * with live deltas (band fanout bound = 64 × bands × deltas, one
    * folded Bloom relation per delta), so pick compactEvery at or below
    * the `maxDeltas` the verdict trips on — the steady state then never
    * reports `compactRecommended`.
    *
    * Ordering caveat (inherent to incremental dedup, not this wiring):
    * admission is order-dependent across micro-batches — the FIRST
    * arrival of duplicate content wins. That is the semantics a crawl
    * intake wants; it only means two differently-batched replays of the
    * same unordered corpus may keep different representatives. */
  def maintainDedupState(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      checkpointDir: String,
      compactEvery: Int = 0,
      embCol: Option[String] = None): StreamingQuery = {
    val key = checkpointKey(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val spark = batch.sparkSession
        val base = Seq(col(idCol).cast("long").as("doc_id"),
          col(textCol).cast("string").as("text"))
        // an embedding column switches on the state's SEMANTIC tier
        val b = batch.select(base ++ embCol.map(c =>
          col(c).cast("array<double>").as("emb")): _*)
        if (!b.isEmpty) {
          val h = DedupState.admit(spark, dir, b,
            fingerprint = s"e$key.$epochId")
          if (compactEvery > 0 && h.deltas.size >= compactEvery) {
            // gc BEFORE compact, not after: the dirs reclaimed here were
            // superseded by the PREVIOUS cadence's compaction — a full
            // cadence ago — so an in-flight reader that loaded that old
            // manifest has long finished. gc immediately after compact
            // would delete delta dirs a concurrent cross-process reader
            // (mid-verdicts on the pre-compaction manifest) still holds.
            DedupState.gc(dir)
            DedupState.compact(spark, dir)
            ()
          }
        }
      }
      .start()
  }

  /** Maintain a persisted [[graft.operators.MediaDedupState]] from a
    * stream of perceptual hashes (round 17) — the multimodal intake's
    * streaming form: each micro-batch of (id, dHash) rows (the
    * `MultimodalPipeline.perceptualHash` output, computed upstream
    * where the decode mapPartitions runs) is admitted against
    * everything admitted so far; near-duplicate re-uploads arriving in
    * later epochs are rejected with an audit-card record, no restart,
    * no rescan of admitted media. Exactly-once and compaction cadence
    * are [[maintainDedupState]]'s verbatim: the manifest is the ledger
    * (epoch fingerprint `e<key>.<epochId>`), replays admit nothing,
    * and gc-before-compact preserves in-flight readers. */
  def maintainMediaState(
      hashes: DataFrame,
      idCol: String,
      phashCol: String,
      dir: String,
      checkpointDir: String,
      compactEvery: Int = 0): StreamingQuery = {
    import graft.operators.MediaDedupState
    val key = checkpointKey(checkpointDir)
    hashes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val spark = batch.sparkSession
        val b = batch.select(col(idCol).cast("long").as("img_id"),
          col(phashCol).cast("long").as("phash"))
        if (!b.isEmpty) {
          val h = MediaDedupState.admit(spark, dir, b,
            fingerprint = s"e$key.$epochId")
          if (compactEvery > 0 && h.deltas.size >= compactEvery) {
            MediaDedupState.gc(dir)
            MediaDedupState.compact(spark, dir)
            ()
          }
        }
      }
      .start()
  }

  /** Maintain a persisted [[graft.operators.PackState]] from a stream of
    * tokenized documents — the STREAMING form of the recurring pack job:
    * each micro-batch FFD-packs into the bins every earlier batch left
    * open (continued sequence numbering, cross-batch sequences), so a
    * trainer can consume [[graft.operators.PackState.trainingRows]] at
    * any point without anything ever repacking history.
    *
    * Exactly-once is the [[maintainDedupState]] argument verbatim: the
    * state's manifest IS the idempotency ledger — each epoch packs
    * under the deterministic fingerprint `e<checkpoint-key>.<epochId>`,
    * a replayed epoch finds its fingerprint and packs nothing, and a
    * crash between delta staging and manifest commit leaves only an
    * unreferenced staging dir ([[graft.operators.PackState.gc]]
    * reclaims it; the replay re-packs cleanly). Holds across restarts
    * of the same checkpointed query.
    *
    * Ordering caveat (inherent, same as the dedup maintainer): packing
    * is order-dependent across micro-batches — FFD runs within each
    * batch and first-come across batches, exactly the
    * pipeline_drop_pack semantics per drop. `compactEvery` > 0 folds
    * accumulated contribution deltas (gc deferred one cadence, the
    * reader-safety argument at [[maintainDedupState]]).
    *
    * @param docs          streaming DataFrame of tokenized rows
    * @param idCol         long document id column
    * @param idsCol        array&lt;int&gt; token-id column
    * @param dir           persisted pack-state directory
    * @param checkpointDir streaming checkpoint (the exactly-once identity)
    * @param params        packing geometry (pinned in the manifest)
    * @param compactEvery  fold deltas at this live-delta count (0 = never) */
  def maintainPackState(
      docs: DataFrame,
      idCol: String,
      idsCol: String,
      dir: String,
      checkpointDir: String,
      params: graft.operators.PackState.Params,
      compactEvery: Int = 0): StreamingQuery = {
    import graft.operators.PackState
    val key = checkpointKey(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val spark = batch.sparkSession
        val b = batch.select(col(idCol).cast("long").as("doc_id"),
          col(idsCol).cast("array<int>").as("token_ids"))
        if (!b.isEmpty) {
          val h = PackState.pack(spark, dir, b,
            fingerprint = s"e$key.$epochId", params)
          if (compactEvery > 0 && h.deltas.size >= compactEvery) {
            PackState.gc(dir, params)
            PackState.compact(spark, dir, params)
            ()
          }
        }
      }
      .start()
  }

  /** Maintain a persisted [[graft.operators.PackState]] from a stream of
    * RAW documents with the span-scrub TREATMENT applied (round 16 —
    * the streaming form of pipeline_drop_train_scrubbed's scrub →
    * tokenize → pack tail): each micro-batch
    *
    *  1. RE-LOADS the dedup state's manifest (the registry-stream
    *     reload discipline), so a drop admitted mid-stream scrubs the
    *     very next batch with no restart;
    *  2. cuts every [[graft.operators.DedupState.SpanTokens]]-token
    *     STRIDE-1 window already admitted there (phase-independent
    *     since round 17 — [[graft.operators.DedupState.spanScrub]]);
    *  3. tokenizes the SCRUBBED text via the caller's `tokenize`
    *     ((doc_id, text) → (doc_id, token_ids) — the tokenizer is the
    *     deployment's own; passing the identity of a pre-tokenized
    *     relation degrades this to [[maintainPackState]]);
    *  4. FFD-packs into the bins earlier batches left open.
    *
    * Exactly-once, ordering caveat, and `compactEvery` are
    * [[maintainPackState]]'s verbatim (the pack-state manifest is the
    * ledger; the scrub/tokenize stages are deterministic functions of
    * the batch + the dedup state's committed manifest, so a replayed
    * epoch packs nothing). Docs scrubbed to zero tokens drop out of
    * the pack exactly like word-less originals. */
  def maintainScrubbedPackState(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dedupStateDir: String,
      tokenize: DataFrame => DataFrame,
      dir: String,
      checkpointDir: String,
      params: graft.operators.PackState.Params,
      compactEvery: Int = 0): StreamingQuery = {
    import graft.operators.{DedupState, PackState}
    val key = checkpointKey(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val spark = batch.sparkSession
        val b = batch.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).cast("string").as("text"))
        if (!b.isEmpty) {
          val scrubbed = DedupState
            .spanScrub(spark, DedupState.load(dedupStateDir), b)
            .select(col("doc_id"), col("scrubbed_text").as("text"))
          val ids = tokenize(scrubbed)
            .select(col("doc_id").cast("long").as("doc_id"),
              col("token_ids").cast("array<int>").as("token_ids"))
          val h = PackState.pack(spark, dir, ids,
            fingerprint = s"e$key.$epochId", params)
          if (compactEvery > 0 && h.deltas.size >= compactEvery) {
            PackState.gc(dir, params)
            PackState.compact(spark, dir, params)
            ()
          }
        }
      }
      .start()
  }

  /** Maintain a persisted vector index ([[IvfIndex]], or [[PqIndex]] when
    * a `pq_codes` tier is present — detected per batch, so an index
    * upgraded to PQ mid-stream is followed) from a stream of
    * (id, vector) rows. Upserted vectors probe at the next
    * [[LiveAnnServer]] micro-batch after their files commit.
    *
    * EXACTLY-ONCE through any crash point, via a STARTED/DONE marker
    * pair under `<checkpointDir>/graft-epochs/` (markers live with the
    * checkpoint — one identity, one lifetime; a generation swap replaces
    * the index dir wholesale and would drop in-index markers):
    *  - `<epoch>` (done) commits after the append: a replayed epoch that
    *    finds it appends nothing;
    *  - `.started-<epoch>` commits BEFORE the first append attempt: a
    *    replay that finds started-without-done knows a prior attempt may
    *    have left the epoch's rows half-appended (the vector index
    *    commits by appending files, so there is no atomic manifest to
    *    consult) and SCRUBS first — [[IvfIndex.removeVectors]] of the
    *    epoch's ids, a staged-generation rewrite that is exact whether
    *    the crashed attempt wrote nothing, some files, or everything —
    *    then redoes the append. foreachBatch replays the identical
    *    source range, so the replayed ids ARE the suspected set.
    * The scrub runs ONLY on a crash replay; the steady-state cost is one
    * extra marker mkdir per epoch. (The previous design documented the
    * append→marker window as at-least-once with duplicate candidates;
    * the started marker closes it.)
    *
    * The vector index has no overlap guard (the [[IvfIndex.appendVectors]]
    * trusted contract), so the stream must carry new vec_ids.
    *
    * `compactEvery` > 0 mirrors [[maintainSearch]]'s inline cadence on
    * the vector tier: each epoch appends new files into the touched cell
    * partitions, so a long-running maintainer accretes the small-file
    * pathology unless something folds them — when the committed-epoch
    * count (done markers) reaches a multiple of the threshold,
    * [[PqIndex.compact]] (or [[IvfIndex.compact]] without a PQ tier)
    * runs inline. Replay safety is simpler than the search side's:
    * compaction is content-preserving and the epoch markers live in the
    * CHECKPOINT dir (compact rewrites only cell files), so a crash
    * anywhere around a compaction at worst skips or repeats a fold —
    * never double-appends.
    *
    * `driftEvery` > 0 wires the QUANTIZER-DRIFT signal into the same
    * cadence: at every driftEvery-th committed epoch, the typed
    * [[IvfIndex.driftVerdict]] (one bounded aggregate against the
    * persisted build-time baseline) is handed to `onDrift` — a
    * live-upsert deployment gets its rebuild signal through the
    * maintainer's report channel without anyone remembering to run
    * [[IvfIndex.rebalance]].
    *
    * `rebuildOnDrift` (round 13) closes the loop signal → heal: when a
    * drift check reads `"rebuild"`, [[IvfIndex.rebuild]] runs INLINE —
    * one staged crash-safe generation (refit coarse + codebooks, carry
    * the pinned rotation, fresh baseline) — and the POST-rebuild report
    * is handed to `onDrift` as well, so the operator sees both the
    * signal and the heal. Opt-in: a rebuild is a full index rewrite, a
    * cost the deployment's cadence must consciously accept. Epoch replay
    * stays correct across a crash anywhere around the rebuild: the
    * generation swap is content-complete (every appended vector rides
    * into the new generation), so the done/started markers' semantics
    * are untouched. */
  def maintainVectors(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      checkpointDir: String,
      compactEvery: Int = 0,
      driftEvery: Int = 0,
      onDrift: IvfIndex.DriftReport => Unit = _ => (),
      rebuildOnDrift: Boolean = false): StreamingQuery = {
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val done =
          Paths.get(checkpointDir, "graft-epochs", epochId.toString)
        val started =
          Paths.get(checkpointDir, "graft-epochs", s".started-$epochId")
        if (!Files.isDirectory(done)) {
          val v = batch.select(col(idCol).cast("long").as("vec_id"),
            col(vecCol).cast("array<double>").as("v"))
          val spark = batch.sparkSession
          if (Files.isDirectory(started)) {
            // crash replay: a prior attempt started and may have appended
            // any prefix of this epoch's files — scrub exactly those ids
            val ids = v.select("vec_id").collect().map(_.getLong(0)).toSeq
            if (ids.nonEmpty) { IvfIndex.removeVectors(spark, dir, ids); () }
          } else { Files.createDirectories(started); () }
          if (!v.isEmpty) {
            if (Files.isDirectory(Paths.get(dir, "pq_codes")))
              PqIndex.appendVectors(spark, dir, v)
            else IvfIndex.appendVectors(spark, dir, v)
            ()
          }
          Files.createDirectories(done)
          if (compactEvery > 0 || driftEvery > 0) {
            val committed = committedEpochs(checkpointDir)
            if (compactEvery > 0 && committed > 0 &&
                committed % compactEvery == 0) {
              if (Files.isDirectory(Paths.get(dir, "pq_codes")))
                PqIndex.compact(spark, dir)
              else IvfIndex.compact(spark, dir)
            }
            if (driftEvery > 0 && committed > 0 &&
                committed % driftEvery == 0) {
              val report = IvfIndex.driftVerdict(spark, dir)
              onDrift(report)
              if (rebuildOnDrift && report.verdict == "rebuild")
                onDrift(IvfIndex.rebuild(spark, dir))
            }
          }
        }
      }
      .start()
  }

  /** Count of committed (done-marker) epochs for a maintainer — the
    * cadence counter for inline compaction / drift reporting. Hidden
    * entries (`.started-*`) are attempt markers, not commits. */
  private def committedEpochs(checkpointDir: String): Int = {
    val root = Paths.get(checkpointDir, "graft-epochs")
    if (!Files.isDirectory(root)) 0
    else {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.list(root))(
        _.iterator().asScala.count(p => Files.isDirectory(p) &&
          !p.getFileName.toString.startsWith(".")))
    }
  }
}
