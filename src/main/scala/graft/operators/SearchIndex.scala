package graft.operators

import graft.util.Publish
import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** A persisted LEXICAL search index: the inverted (token → postings)
  * relation — the text analog of [[IvfIndex]]'s build-once /
  * load-anywhere / query-many lifecycle, now with the same INCREMENTAL
  * maintenance contract the vector indexes carry (appendDocs / compact /
  * crash-safe commit), plus BM25 scoring next to TF-IDF.
  *
  * Layout (the log-segment discipline applied to an index):
  *  - `dir/postings/batch=<id>/tbucket=<b>/…` — postings partitioned by
  *    BATCH and token-hash bucket. A batch is one append's rows; buckets
  *    make a k-term query statically prune to ≤ k/[[TokenBuckets]] of the
  *    files at any corpus size (the inverted-list property, on disk).
  *  - `dir/meta/<id>/…` — one row per COMMITTED batch
  *    (batch, n_docs, n_tokens, supersedes, source_fp, doc_min, doc_max —
  *    the id range backing appendDocs' overlap guard — and kind). The
  *    meta dir is staged and atomically renamed in: it IS the commit
  *    marker. Postings always write BEFORE their meta, so a crash strands
  *    an invisible orphan batch (readers' `batch IN (committed)`
  *    partition filter plan-time-prunes it; the next compact
  *    garbage-collects it) — never a torn visible state.
  *  - `dir/tombstones/<id>/…` — the (source batch, doc_id) pairs of a
  *    DELETION batch (meta kind = "tomb"): [[SearchIndex.deleteDocs]]'
  *    removal manifest, applied at load time and physically dropped by
  *    the next compact. Same write-data-then-commit-meta ordering.
  *
  * Staleness is designed OUT of the hot path: postings carry NO
  * precomputed IDF. Document frequency is recomputed at query time from
  * the pruned scan itself (all of a token's postings live in its bucket,
  * so the pruned scan SEES the full df), and corpus totals (n_docs,
  * n_tokens for BM25's avgdl) are exact sums over the active batches'
  * meta rows — an append can therefore never leave stale weights behind,
  * which is what made the round-8 build/save/load-only index a rebuild-
  * the-world design. The extra query-time work is one aggregate over the
  * already-pruned rows (query-terms-sized, never index-sized).
  *
  * Concurrency: maintenance (appendDocs / compact) is serialized in-JVM
  * on this object's lock; cross-JVM the single-maintainer contract is the
  * deployment's (the IvfIndex/log contract). Concurrent READERS are
  * always safe: they see the committed-batch set at load time and
  * plan-time-prune everything else.
  *
  * Staleness METADATA (not silently ignored): each batch records the
  * corpus fingerprint it was built from (`source_fp`, optional); a loaded
  * index exposes the set so a caller holding a newer corpus fingerprint
  * can detect a stale artifact instead of silently serving it
  * (SearchIndexSpec pins the contract).
  */
final class SearchIndex private[operators] (
    val postings: DataFrame, // (token, tbucket, doc_id, cnt, dl, pos [, batch])
    val nDocs: Long,
    val nTokens: Long,
    val sourceFps: Seq[String]) {

  /** BM25's average document length — exact division of two exact
    * integers, the same double in any engine. */
  def avgdl: Double = nTokens.toDouble / nDocs.toDouble

  /** Persist as the index's FIRST batch (overwrite semantics: `dir` must
    * not already hold an index). `fingerprint` stamps the batch with the
    * corpus identity it was built from (staleness detection). */
  def save(dir: String, fingerprint: Option[String] = None): Unit = {
    val spark = postings.sparkSession
    // fail FAST on a non-empty target: a second save would commit a second
    // batch whose shared doc_ids double-count in df/nDocs/scores (and
    // duplicate (doc, token) keys break searchPhrase's map build) —
    // incremental growth goes through appendDocs, by contract
    require(SearchIndex.committedBatches(dir).isEmpty,
      s"$dir already holds a committed search index; " +
        "use appendDocs to grow it (save is first-batch-only)")
    val batch = SearchIndex.newBatchId()
    val range = postings.agg(min(col("doc_id")), max(col("doc_id"))).head()
    postings
      .withColumn("batch", lit(batch))
      .write.mode("append").partitionBy("batch", "tbucket")
      .parquet(s"$dir/postings")
    SearchIndex.commitMeta(spark, dir, batch, nDocs, nTokens,
      Seq.empty, fingerprint,
      if (range.isNullAt(0)) None else Some(range.getLong(0)),
      if (range.isNullAt(1)) None else Some(range.getLong(1)))
  }

  /** The postings with query-time-exact fixed-point TF-IDF weights —
    * (token, tbucket, doc_id, cnt, idf_q6). This is a derived MODEL (one
    * df aggregate over the whole index), sized like the vocabulary;
    * consumers that serve it repeatedly (the streaming search twin)
    * should persist the snapshot. */
  def scoredPostings: DataFrame = {
    val idf = postings.groupBy("token")
      .agg(count(lit(1)).as("df"))
      .select(col("token"),
        floor(log(lit(nDocs).cast("double") / col("df").cast("double"))
          * 1000000L).cast("long").as("idf_q6"))
    postings.join(idf, "token")
      .select("token", "tbucket", "doc_id", "cnt", "idf_q6")
  }

  /** The postings with PRECOMPUTED per-posting BM25 contributions —
    * (token, tbucket, doc_id, contrib). BM25's per-(doc, term) term
    * depends only on (cnt, dl, df, N, avgdl), all fixed for a snapshot,
    * so the whole contribution precomputes per posting row and a query's
    * score is a plain SUM over its terms' rows — the streaming twin's
    * model, bit-identical to [[SearchIndex.searchBm25]] by construction
    * (the same pinned expression over the same values). Same derived-
    * model/persist-the-snapshot contract as [[scoredPostings]]. */
  def scoredPostingsBm25: DataFrame = {
    val idf = postings.groupBy("token")
      .agg(count(lit(1)).as("df"))
      .select(col("token"),
        SearchIndex.bm25IdfQ6(lit(nDocs).cast("double"), col("df"))
          .as("idf_q6"))
    postings.join(idf, "token")
      .select(col("token"), col("tbucket"), col("doc_id"),
        SearchIndex.bm25Contrib(col("idf_q6"), col("cnt"), col("dl"),
          avgdl).as("contrib"))
  }

  /** The EXPLICIT lifecycle handle for a derived serving model: persist
    * the mode's relation now, unpersist at [[SearchSnapshot.close]] —
    * replacing the fire-and-forget `.persist()` the streaming builders
    * used to bury in query definition (which leaked one cached plan per
    * constructed stream for the session's lifetime). Modes:
    *  - "tfidf": (token, doc_id, contrib) with contrib = cnt × idf_q6;
    *  - "bm25":  (token, doc_id, contrib) with the precomputed BM25
    *    per-posting contribution;
    *  - "phrase": the positional (token, doc_id, pos) postings. */
  def snapshot(mode: String = "tfidf"): SearchSnapshot = {
    val df = mode match {
      case "tfidf" => scoredPostings
        .select(col("token"), col("doc_id"),
          (col("cnt") * col("idf_q6")).as("contrib"))
      case "bm25" => scoredPostingsBm25
        .select("token", "doc_id", "contrib")
      case "phrase" => postings.select("token", "doc_id", "pos")
      case other => throw new IllegalArgumentException(
        s"snapshot mode must be tfidf, bm25, or phrase, got '$other'")
    }
    new SearchSnapshot(mode, df.persist())
  }
}

/** A persisted scoring snapshot of a [[SearchIndex]] — see
  * [[SearchIndex.snapshot]]. Close it when no stream serves it anymore;
  * closing does not disturb streams already stopped, and N streams may
  * share ONE snapshot (that is the point). */
final class SearchSnapshot private[operators] (
    val mode: String, val df: DataFrame) extends AutoCloseable {
  override def close(): Unit = { df.unpersist(); () }
}

object SearchIndex {

  /** Token-hash partition fan-out of the persisted postings. 64 buckets
    * keeps per-bucket file counts planner-friendly while a one-term query
    * still prunes 63/64 of the index. */
  val TokenBuckets = 64

  private def bucketOf(token: Column) =
    pmod(xxhash64(token), lit(TokenBuckets.toLong))

  private[operators] def newBatchId(): String =
    "b" + java.util.UUID.randomUUID().toString.replace("-", "").take(16)

  /** The (token, tbucket, doc_id, cnt, dl, pos) relation of a document
    * set: whitespace tokens (the text family's `split("\\s+")` contract),
    * per-(doc, token) counts, per-doc total length, and the token's
    * 0-based POSITIONS in the document (ascending — the positional
    * postings that make phrase search an index operation instead of a
    * corpus rescan; ~4 B/occurrence, the classic positional-index cost).
    * ONE definition shared by build and appendDocs so a batch can never
    * tokenize differently. */
  private def postingsOf(docs: DataFrame): DataFrame = {
    val d = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val tf = d.select(col("doc_id"),
        posexplode(split(col("text"), "\\s+")).as(Seq("pos", "token")))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("cnt"),
        sort_array(collect_list(col("pos"))).as("pos"))
    tf.withColumn("dl", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .select(col("token"), bucketOf(col("token")).as("tbucket"),
        col("doc_id"), col("cnt"), col("dl"), col("pos"))
  }

  /** Build an in-memory index from (doc_id, text). */
  def build(docs: DataFrame): SearchIndex = {
    val d = docs.filter(col("text").isNotNull)
    val nDocs = d.count()
    val p = postingsOf(docs)
    val nTokens = p.agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
    new SearchIndex(p, nDocs, nTokens, Seq.empty)
  }

  /** INCREMENTAL maintenance: index `docs` as a NEW batch appended to a
    * persisted index. `docs` must carry doc_ids not already indexed (a
    * re-appended doc_id would double-count its term frequencies and
    * double-serve the doc) — and unlike the vector upserts, that contract
    * is CHECKED here, not trusted: every committed batch's meta row
    * carries its [doc_min, doc_max] range, a new batch whose range is
    * disjoint from every active batch's is provably clean for free (the
    * monotonic-id common case), and only on a RANGE intersection does an
    * exact doc_id anti-check run — one distinct-join against the
    * overlapping batches' postings, partition-pruned to just those
    * batches. An overlapping doc_id aborts the append with nothing
    * written. Because df and corpus totals are query-time-exact (see
    * class doc), the appended documents are fully weighted into every
    * subsequent search with NO stale-IDF window and NO rebuild.
    *
    * Crash safety: postings write first, the meta commit marker renames
    * in last — a crash strands an invisible orphan batch, healed by the
    * next [[compact]].
    *
    * EXACTLY-ONCE appends: `batchId` names the WORK, not the attempt —
    * pass a stable id (e.g. the streaming maintainer's
    * checkpoint-key + epoch) and a replay of the same logical batch
    * becomes a no-op: an already-COMMITTED id appends nothing and
    * returns 0, and a half-written attempt (postings on disk, meta never
    * committed — the crash window) is garbage-collected and redone, so
    * df/nDocs can never double-count however many times a micro-batch
    * retries. With the default generated id the behavior is unchanged
    * (every call is a new batch).
    *
    * Bootstrap: appending into a dir with NO committed index yet commits
    * the first batch (what a streaming maintainer pointed at a fresh dir
    * needs); [[save]] remains the explicit overwrite-semantics entry.
    *
    * @return the number of documents appended (0 for a replayed id) */
  def appendDocs(
      spark: SparkSession, dir: String, docs: DataFrame,
      fingerprint: Option[String] = None,
      batchId: Option[String] = None): Long = synchronized {
    val batch = batchId.getOrElse(newBatchId())
    require(batch.matches("[A-Za-z0-9_.-]+"),
      s"batchId '$batch' is not filesystem-safe")
    batchId.foreach { id =>
      // exactly-once re-entry: committed already → the caller is
      // replaying (foreachBatch retry semantics) — nothing to do
      if (Files.isDirectory(Paths.get(dir, "meta", id))) return 0L
      // a half-written prior attempt is an invisible orphan; collect it
      // so the redo's mode("append") cannot double its rows
      val orphan = Paths.get(dir, "postings", s"batch=$id")
      if (Files.isDirectory(orphan))
        graft.util.Publish.deleteRecursively(orphan)
    }
    val p = postingsOf(docs).withColumn("batch", lit(batch)).persist()
    try {
      val nDocs = p.select(col("doc_id")).distinct().count()
      val nTokens =
        p.agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
      val range = p.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (docMin, docMax) =
        (if (range.isNullAt(0)) None else Some(range.getLong(0)),
         if (range.isNullAt(1)) None else Some(range.getLong(1)))
      // overlap guard: exact check ONLY for active POSTINGS batches whose
      // id range intersects the new batch's (an empty batch has no range
      // and holds nothing to overlap; tombstone metas hold no postings
      // and never suspect; a dir with no index yet has nothing to
      // overlap — bootstrap)
      val metas =
        if (committedBatches(dir).isEmpty) Seq.empty[Meta]
        else activeMetas(spark, dir)
      val suspects = metas.filterNot(_.isTombstone).filter { m =>
        docMin.isDefined &&
          m.docMin.exists(lo => lo <= docMax.get) &&
          m.docMax.exists(hi => hi >= docMin.get)
      }.map(_.batch)
      if (suspects.nonEmpty) {
        // a TOMBSTONED doc_id is not "already indexed" — its postings
        // rows are dead until compact collects them, and re-appending a
        // deleted doc is exactly the lifecycle deletes exist for
        val suspectDocs = {
          val raw = spark.read.parquet(s"$dir/postings")
            .filter(col("batch").isin(suspects: _*))
            .select(col("batch"), col("doc_id"))
          tombstonePairs(spark, dir, metas.filter(_.isTombstone)) match {
            case None => raw
            case Some(t) =>
              raw.join(broadcast(t), Seq("batch", "doc_id"), "left_anti")
          }
        }.select(col("doc_id")).distinct()
        val dup = p.select(col("doc_id")).distinct()
          .join(suspectDocs, "doc_id")
          .limit(5).collect().map(_.getLong(0))
        require(dup.isEmpty,
          s"appendDocs would re-index already-indexed doc_ids " +
            s"(e.g. ${dup.mkString(", ")}); an index serves each doc_id " +
            "from exactly one batch — dedup the input or rebuild")
      }
      p.write.mode("append").partitionBy("batch", "tbucket")
        .parquet(s"$dir/postings")
      commitMeta(spark, dir, batch, nDocs, nTokens, Seq.empty, fingerprint,
        docMin, docMax)
      nDocs
    } finally p.unpersist()
  }

  /** DELETE documents from a persisted index — the takedown /
    * right-to-be-forgotten / contaminated-source-purge move a production
    * corpus takes routinely, without the full rebuild that used to be the
    * only removal path. `ids` is a driver-side list by contract
    * (takedown-sized; corpus-scale removal is a rebuild).
    *
    * Mechanism — [[appendDocs]]' batch-manifest discipline in reverse: a
    * TOMBSTONE batch. The deleted docs' (source batch, doc_id) pairs are
    * written under `dir/tombstones/<id>/`, then a meta row of
    * kind = "tomb" commits them atomically, recording the removed doc and
    * token counts. [[load]] anti-joins active tombstone pairs out of the
    * postings and nets the corpus totals, so df / nDocs / avgdl — and
    * therefore every TF-IDF/BM25/phrase score — are immediately exact
    * over the surviving documents, bit-identical to a fresh build without
    * the deleted docs (SearchIndexSpec pins it). No stale window, no
    * rebuild; the next [[compact]] physically drops the dead postings and
    * collects the tombstone batches.
    *
    * Scoping tombstones to their source batch (not the bare doc_id) makes
    * delete-then-[[appendDocs]]-again legal: the re-appended doc lands in
    * a new batch the tombstone does not reference, and the overlap guard
    * ignores tombstoned postings when checking for re-indexed ids.
    *
    * Crash safety mirrors append: pairs write FIRST, the meta marker
    * renames in last — a crash strands an invisible orphan tombstone dir
    * (readers only join tombstones of COMMITTED tomb metas; the next
    * compact collects the orphan). Ids not currently indexed (unknown, or
    * already deleted) are ignored; if nothing is indexed the call commits
    * nothing.
    *
    * Serving: a tombstone commit adds a meta batch dir, so
    * [[graft.streaming.LiveSearchServer]]'s staleness listing sees it —
    * a delete landing mid-stream stops being served at the next
    * micro-batch, the exact inverse of the live-append contract.
    *
    * @return the number of documents actually deleted */
  def deleteDocs(
      spark: SparkSession, dir: String, ids: Seq[Long]): Long = synchronized {
    if (ids.isEmpty) return 0L
    val idx = load(spark, dir) // already net of prior tombstones
    val hits = idx.postings
      .filter(col("doc_id").isin(ids: _*))
      .groupBy(col("batch"), col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"))
      .collect()
    if (hits.isEmpty) return 0L
    val removedDocs = hits.length.toLong
    val removedTokens = hits.map(_.getLong(2)).sum
    val batch = newBatchId()
    import spark.implicits._
    hits.map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF("batch", "doc_id")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/tombstones/$batch")
    val delIds = hits.map(_.getLong(1))
    commitMeta(spark, dir, batch, removedDocs, removedTokens,
      Seq.empty, None, Some(delIds.min), Some(delIds.max), kind = "tomb")
    removedDocs
  }

  /** Rewrite the active batches into ONE batch (~one file per bucket) and
    * garbage-collect superseded and orphan batch dirs. A long run of
    * small appends otherwise leaves per-bucket file counts that drown
    * probe planning — the segment-coalescing pathology, on an index.
    *
    * Crash windows, all safe: (1) new postings without meta → orphan,
    * old state intact; (2) new meta committed, old dirs not yet deleted →
    * loads already exclude the superseded batches (the new meta's
    * `supersedes` list is the exclusion, so visibility flips atomically
    * with the rename); (3) partial deletion → remaining garbage is
    * invisible and collected by the next compact. */
  def compact(spark: SparkSession, dir: String): Unit = synchronized {
    val idx = load(spark, dir)
    // supersede EVERY committed batch id — active AND already-superseded.
    // Superseding only the active set leaves a resurrection window: with
    // (C1 supersedes B0, B0) on disk from a prior compact that crashed
    // mid-gc, a new compact superseding only C1 could crash after gc
    // deletes C1's meta but before B0's — B0 would become unsuperseded
    // and double-count. Listing every meta dir closes the window for any
    // deletion order.
    val allCommitted = committedBatches(dir)
    val batch = newBatchId()
    idx.postings
      .select("token", "tbucket", "doc_id", "cnt", "dl", "pos")
      .withColumn("batch", lit(batch))
      .repartition(col("tbucket"))
      .write.mode("append").partitionBy("batch", "tbucket")
      .parquet(s"$dir/postings")
    val range = idx.postings.agg(min(col("doc_id")), max(col("doc_id"))).head()
    commitMeta(spark, dir, batch, idx.nDocs, idx.nTokens,
      allCommitted, Some(idx.sourceFps.mkString(",")).filter(_.nonEmpty),
      if (range.isNullAt(0)) None else Some(range.getLong(0)),
      if (range.isNullAt(1)) None else Some(range.getLong(1)))
    // gc: every batch dir not committed-and-active is garbage now —
    // superseded by the row above, or orphaned by a crashed append.
    // Maintenance is serialized, so no live append can be collected.
    val keep = Set(batch)
    val postRoot = Paths.get(dir, "postings")
    listDirs(postRoot).foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("batch=") && !keep(name.stripPrefix("batch=")))
        graft.util.Publish.deleteRecursively(p)
    }
    val metaRoot = Paths.get(dir, "meta")
    listDirs(metaRoot).foreach { p =>
      if (!keep(p.getFileName.toString))
        graft.util.Publish.deleteRecursively(p)
    }
    // tombstones are now APPLIED (the rewritten batch holds only live
    // postings), so every tombstone dir — committed or orphaned — is
    // garbage; the physical drop the delete lifecycle promises
    listDirs(Paths.get(dir, "tombstones")).foreach(
      graft.util.Publish.deleteRecursively)
  }

  /** One committed batch's row under `meta/<batch>`, written and read
    * with this case class's schema. */
  private[operators] case class Meta(
      batch: String, nDocs: Long, nTokens: Long,
      supersedes: Seq[String], sourceFp: Option[String],
      docMin: Option[Long], docMax: Option[Long],
      kind: String) {
    def isTombstone: Boolean = kind == "tomb"
  }

  /** The batch ids committed under `dir/meta` (staging dirs excluded). */
  private[graft] def committedBatches(dir: String): Seq[String] =
    listDirs(Paths.get(dir, "meta")).map(_.getFileName.toString)

  private def listDirs(root: java.nio.file.Path): Seq[java.nio.file.Path] = {
    if (!Files.isDirectory(root)) return Seq.empty
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.list(root))(
      _.iterator().asScala.toList)
      .filter(p => Files.isDirectory(p) &&
        !p.getFileName.toString.startsWith("."))
  }

  /** Committed batches minus everything a committed batch supersedes.
    *
    * Readers race compact's garbage collection benignly EXCEPT in one
    * window: a meta dir listed here can be deleted (superseded) before
    * its parquet is read. The state on disk is still consistent (the
    * superseding meta is already committed), so the read is simply
    * RETRIED against a fresh listing — bounded, because each retry means
    * a compact completed underneath us and compacts are serialized. */
  private def activeMetas(spark: SparkSession, dir: String): Seq[Meta] = {
    var attempt = 0
    while (true) {
      val dirs = listDirs(Paths.get(dir, "meta"))
      require(dirs.nonEmpty, s"no search index committed under $dir")
      try {
        import spark.implicits._
        // the writer's schema, given explicitly: no inference job per read
        val rows = spark.read.schema(implicitly[Encoder[Meta]].schema)
          .parquet(dirs.map(_.toString): _*).as[Meta].collect()
        val superseded = rows.flatMap(_.supersedes).toSet
        return rows.filterNot(m => superseded(m.batch)).sortBy(_.batch).toSeq
      } catch {
        case e: Exception if attempt < 3 &&
            Option(e.getMessage).exists(m =>
              m.contains("does not exist") || m.contains("FileNotFound")) =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private[operators] def commitMeta(
      spark: SparkSession, dir: String, batch: String,
      nDocs: Long, nTokens: Long, supersedes: Seq[String],
      fingerprint: Option[String],
      docMin: Option[Long], docMax: Option[Long],
      kind: String = "post"): Unit = {
    import spark.implicits._
    val metaRoot = Paths.get(dir, "meta")
    Files.createDirectories(metaRoot)
    val staging = metaRoot.resolve(s".staging-$batch")
    Seq(Meta(batch, nDocs, nTokens, supersedes, fingerprint,
        docMin, docMax, kind))
      .toDS().coalesce(1).write.mode("overwrite").parquet(staging.toString)
    if (!Publish.claim(staging, metaRoot.resolve(batch)))
      throw new IllegalStateException(
        s"search index batch $batch is already committed under $dir")
  }

  /** The active tombstone (batch, doc_id) pairs — which doc has been
    * DELETED from which postings batch. Scoping a tombstone to its source
    * batch (instead of tombstoning the doc_id globally) is what makes
    * delete-then-re-append legal: the re-appended doc lands in a NEW
    * batch the tombstone does not reference. Empty when no tombstone
    * batch is active (the common case — the anti-join is skipped
    * entirely, so an index that never saw a delete pays nothing). */
  private def tombstonePairs(
      spark: SparkSession, dir: String, tombs: Seq[Meta]): Option[DataFrame] =
    if (tombs.isEmpty) None
    else Some(spark.read.parquet(
        tombs.map(m => s"$dir/tombstones/${m.batch}"): _*)
      .select("batch", "doc_id"))

  /** Load the committed index state: postings plan-time-pruned to the
    * active batches, corpus totals summed from their meta rows. Read-only
    * (no swap recovery to run — commits are append-only + gc).
    *
    * Tombstones ([[deleteDocs]]) apply here, at the ONE place the
    * postings relation is constructed: deleted (batch, doc_id) pairs are
    * anti-joined out (broadcast — the tombstone set is takedown-sized by
    * contract and physically drops at the next compact), and the corpus
    * totals are the postings batches' sums NET of the tombstone batches'
    * recorded removals. df then recomputes exactly at query time from the
    * already-filtered scan and avgdl is the exact division of two exact
    * net integers — so every score is bit-identical to a fresh build over
    * the surviving documents, the same no-stale-window discipline
    * appendDocs rides. */
  def load(spark: SparkSession, dir: String): SearchIndex = {
    val metas = activeMetas(spark, dir)
    val (tombs, posts) = metas.partition(_.isTombstone)
    val raw = spark.read.parquet(s"$dir/postings")
      .filter(col("batch").isin(posts.map(_.batch): _*))
      .select("token", "tbucket", "doc_id", "cnt", "dl", "pos", "batch")
    val postings = tombstonePairs(spark, dir, tombs) match {
      case None => raw
      case Some(t) => raw.join(broadcast(t), Seq("batch", "doc_id"),
        "left_anti")
    }
    new SearchIndex(postings,
      posts.map(_.nDocs).sum - tombs.map(_.nDocs).sum,
      posts.map(_.nTokens).sum - tombs.map(_.nTokens).sum,
      posts.flatMap(_.sourceFp).flatMap(_.split(",")).distinct)
  }

  /** The query-term postings, statically pruned: bucket literals computed
    * DRIVER-side so the scan partition-prunes before the token filter. */
  private def pruned(idx: SearchIndex, terms: Seq[String]): DataFrame = {
    val buckets = terms.map { t =>
      // mirror xxhash64(token) % TokenBuckets driver-side
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(
          org.apache.spark.unsafe.types.UTF8String.fromString(t), 42L)
      java.lang.Math.floorMod(h, TokenBuckets.toLong)
    }.distinct
    idx.postings
      .filter(col("tbucket").isin(buckets: _*))
      .filter(col("token").isin(terms: _*))
  }

  /** Per-token df over the pruned scan — exact by construction: ALL of a
    * token's postings live in its bucket, and doc_ids are unique per
    * (batch-append contract), so the row count IS the document
    * frequency. */
  private def dfOf(t: DataFrame): DataFrame =
    t.groupBy("token").agg(count(lit(1)).as("df"))

  /** Top-`topK` documents for `terms` by summed fixed-point TF-IDF
    * (`Σ cnt × floor(ln(nDocs/df)·1e6)` — exact BIGINTs, the search_tfidf
    * arithmetic, IDF recomputed query-time-exact). */
  def search(
      idx: SearchIndex, terms: Seq[String], topK: Int): DataFrame = {
    val t = pruned(idx, terms)
    val idf = dfOf(t)
      .select(col("token"),
        floor(log(lit(idx.nDocs).cast("double") / col("df").cast("double"))
          * 1000000L).cast("long").as("idf_q6"))
    t.join(broadcast(idf), "token")
      .groupBy("doc_id")
      .agg(sum(col("cnt") * col("idf_q6")).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(topK)
      .select("doc_id", "score")
  }

  /** Top-`topK` documents by BM25 (k1 = 1.2, b = 0.75, the Robertson/
    * Lucene idf `ln((N − df + 0.5)/(df + 0.5) + 1)`), fixed-point with
    * the engine's quantization discipline: the idf is floor-quantized at
    * 1e-6 per DISTINCT token (the one ln per token — the accepted libm
    * divergence class), every other operand is an exact integer in
    * double, and the per-(doc, term) contribution is floor-quantized then
    * summed as exact BIGINTs. The saturation term's parenthesization is
    * PINNED — `idf · ((cnt·2.2) / (cnt + (1.2·(0.25 + (0.75·(dl/avgdl))))))`
    * — and mirrored verbatim in the DuckDB oracle, so both engines fold
    * identical IEEE doubles. */
  def searchBm25(
      idx: SearchIndex, terms: Seq[String], topK: Int): DataFrame = {
    val t = pruned(idx, terms)
    val idf = dfOf(t)
      .select(col("token"),
        bm25IdfQ6(lit(idx.nDocs).cast("double"), col("df")).as("idf_q6"))
    t.join(broadcast(idf), "token")
      .withColumn("contrib",
        bm25Contrib(col("idf_q6"), col("cnt"), col("dl"), idx.avgdl))
      .groupBy("doc_id")
      .agg(sum(col("contrib")).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(topK)
      .select("doc_id", "score")
  }

  /** EXACT-PHRASE search over the positional postings: top-`topK`
    * documents by occurrence count of `terms` as ADJACENT tokens in
    * order. The bag-of-words scorers (TF-IDF/BM25) cannot distinguish
    * "new york" from "york new"; the positional index can, with the same
    * pruned-scan shape — the scan touches only the phrase terms' buckets.
    *
    * Mechanism: per candidate document, a token → positions map over the
    * matched terms; the start-position fold runs in the fused
    * [[graft.exprs.PhraseOccurrences]] kernel — the SAME kernel the
    * streaming twin plans, so batch and stream share one definition —
    * counting start positions p ∈ pos(term₀) with (p + i) ∈ pos(termᵢ)
    * for every later term, each membership probe a BINARY search over the
    * sorted positions (the index sorts them at build; long repetitive
    * documents cost log-factor probes, not document-length scans).
    * Overlapping matches count ("a a a" contains "a a" twice) — the
    * oracle's adjacency self-join counts identically. Documents missing
    * any term drop before the fold (map-size filter). Repeated phrase
    * terms reuse the one positions array with different offsets. The
    * kernel replaced a per-term chain of interpreted array HOFs — one
    * codegen call on the pruned candidate rows, never the corpus. */
  def searchPhrase(
      idx: SearchIndex, terms: Seq[String], topK: Int): DataFrame = {
    require(terms.nonEmpty, "empty phrase")
    val distinctTerms = terms.distinct
    val byDoc = pruned(idx, distinctTerms)
      .groupBy("doc_id")
      .agg(map_from_entries(
        collect_list(struct(col("token"), col("pos")))).as("m"))
      .filter(size(col("m")) === distinctTerms.size)
    byDoc
      .withColumn("n_occurrences",
        graft.exprs.functions.phrase_occurrences(typedLit(terms), col("m")))
      .filter(col("n_occurrences") > 0)
      .orderBy(col("n_occurrences").desc, col("doc_id")).limit(topK)
      .select("doc_id", "n_occurrences")
  }

  /** The ONE definition of the multi-query snapshot answer plan — the
    * serving tier's batch of (q_id, q) rows scored against a
    * [[SearchSnapshot]] to (q_id, top_ids, top_scores). Extracted here so
    * [[graft.streaming.LiveSearchServer.answer]] is this function BY
    * CONSTRUCTION rather than a re-implementation that could drift from
    * the oracle-gated scoring algebra: the contrib arithmetic comes from
    * [[SearchIndex.scoredPostings]]/[[scoredPostingsBm25]] (the same
    * [[bm25IdfQ6]]/[[bm25Contrib]] the batch [[searchBm25]] plans), and
    * the phrase fold is the same fused
    * [[graft.exprs.PhraseOccurrences]] kernel [[searchPhrase]] plans.
    *
    * `queries` carries (`q_id: long`, `q: string` — whitespace query
    * terms, or the phrase for a "phrase" snapshot). Ties rank by doc_id
    * ascending, the batch searchers' order. */
  def answerWithSnapshot(
      snap: SearchSnapshot, queries: DataFrame, topK: Int): DataFrame =
    answerImpl(snap, queries, topK, None, None)

  /** FILTERED snapshot serving (round 16 — the text tier's twin of
    * [[IvfIndex.probeFiltered]]): candidates restricted to the doc ids
    * in `allowed` (one `doc_id` column) BEFORE the top-k, so a full
    * topK of allowed documents returns however selective the predicate
    * is. Scores keep the FULL index's statistics (df/idf/avgdl) — the
    * semantics are "rank the allowed documents by the corpus-trained
    * scorer", not "re-train the scorer on the allowed slice" (the same
    * contract the filtered ANN tiers make: the index is the index, the
    * filter is visibility). The semi-join lands on the matched-token
    * postings rows, never the corpus. */
  def answerWithSnapshotFiltered(
      snap: SearchSnapshot, queries: DataFrame, allowed: DataFrame,
      topK: Int): DataFrame =
    answerImpl(snap, queries, topK, Some(allowed), None)

  /** PER-QUERY-ROW filtered snapshot serving —
    * [[IvfIndex.probeFilteredKeyed]]'s semantics on the text tier:
    * every query row carries a tenant/visibility KEY (`keyCol`) and
    * `allowedKeyed` is a `(keyCol, doc_id)` relation; one batch serves
    * many tenants, each ranked only over its key's allowed documents.
    * Keys compare as strings. */
  def answerWithSnapshotFilteredKeyed(
      snap: SearchSnapshot, queries: DataFrame, keyCol: String,
      allowedKeyed: DataFrame, topK: Int): DataFrame =
    answerImpl(snap, queries, topK, None, Some((keyCol, allowedKeyed)))

  private def answerImpl(
      snap: SearchSnapshot, queries: DataFrame, topK: Int,
      allowed: Option[DataFrame],
      keyed: Option[(String, DataFrame)]): DataFrame = {
    // a null-keyed query row could never satisfy the (k, doc_id)
    // semi-join and would silently vanish from the answer — raise
    // in-plan instead (coalesce evaluates the error arm only on null;
    // the keyed ANN probes make the same check driver-side)
    val keyCol: Column = keyed match {
      case Some((kc, _)) => coalesce(col(kc).cast("string"),
        raise_error(concat(lit(s"keyed snapshot serving: query q_id="),
          col("q_id").cast("string"),
          lit(s" has a NULL '$kc' key — null-keyed queries can match " +
            "nothing; filter them out or supply a key"))).cast("string"))
      case None => lit("")
    }
    def gate(candidates: DataFrame): DataFrame = {
      val g = allowed.fold(candidates)(a =>
        candidates.join(a.select(col("doc_id")), Seq("doc_id"),
          "left_semi"))
      keyed.fold(g) { case (kc, ak) =>
        g.join(ak.select(col(kc).cast("string").as("k"),
          col("doc_id")), Seq("k", "doc_id"), "left_semi")
      }
    }
    if (snap.mode == "phrase") {
      val q = queries
        .select(col("q_id").cast("long").as("q_id"),
          split(col("q"), "\\s+").as("phrase"), keyCol.as("k"))
        .withColumn("token", explode(array_distinct(col("phrase"))))
      gate(q.join(snap.df, Seq("token")))
        .groupBy(col("q_id"), col("doc_id"), col("phrase"))
        .agg(map_from_entries(
          collect_list(struct(col("token"), col("pos")))).as("m"))
        .withColumn("n_occurrences",
          graft.exprs.functions.phrase_occurrences(col("phrase"), col("m")))
        .filter(col("n_occurrences") > 0)
        .transform(topKPerQuery(col("n_occurrences"), topK))
    } else {
      gate(queries
        .select(col("q_id").cast("long").as("q_id"),
          explode(array_distinct(split(col("q"), "\\s+"))).as("token"),
          keyCol.as("k"))
        .join(snap.df, Seq("token")))
        .groupBy(col("q_id"), col("doc_id"))
        .agg(sum(col("contrib")).as("score"))
        .transform(topKPerQuery(col("score"), topK))
    }
  }

  /** Per-query BOUNDED top-k fold of (q_id, doc_id, <score>) candidate
    * rows to (q_id, top_ids, top_scores) — round 17, replacing the
    * `slice(sort_array(collect_list(...)), 1, topK)` shape whose ONE
    * aggregation buffer held EVERY matching (doc, score) struct per
    * query before the slice: a single high-df query token against a
    * 100× corpus put O(matching docs) structs in one in-memory
    * ObjectHashAggregate buffer (collect_list does not spill) and
    * killed the executor. The rank window sorts per q_id (sort SPILLS),
    * `row_number ≤ topK` throws away everything below the cut, and only
    * then does a now-≤-topK-row collect_list assemble the arrays — the
    * same bounded discipline [[IvfIndex]]'s probeImpl rank uses, with
    * identical output (the window order (score DESC, doc_id) IS the
    * struct sort order the old slice produced). The batch searchers
    * ([[searchBm25]] et al.) never needed this — `orderBy(...).limit`
    * plans TakeOrderedAndProject — but the multi-query serving path
    * groups by q_id, where Spark has no per-group limit operator. */
  private def topKPerQuery(score: Column, topK: Int)(
      cand: DataFrame): DataFrame =
    cand
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(score.desc, col("doc_id"))))
      .filter(col("rn") <= topK)
      .groupBy(col("q_id"))
      .agg(sort_array(collect_list(struct(
        (-score).as("neg"), col("doc_id")))).as("top"))
      .select(col("q_id"),
        expr("transform(top, x -> x.doc_id)").as("top_ids"),
        expr("transform(top, x -> -x.neg)").as("top_scores"))

  /** Robertson idf, floor-quantized at 1e-6 — the ONE ln per distinct
    * token. Shared by the batch search and the precomputed streaming
    * model so the two can never quantize differently. */
  private[operators] def bm25IdfQ6(n: Column, df: Column): Column =
    floor(log((((n - df.cast("double")) + lit(0.5))
        / (df.cast("double") + lit(0.5))) + lit(1.0))
      * 1000000L).cast("long")

  /** The pinned-parenthesization BM25 per-(doc, term) contribution
    * (k1 = 1.2, b = 0.75), floor-quantized to an exact BIGINT. Mirrored
    * verbatim in the search_bm25 oracle SQL — edit both or neither. */
  private[operators] def bm25Contrib(
      idfQ6: Column, cnt: Column, dl: Column, avgdl: Double): Column =
    floor(idfQ6.cast("double") *
      ((cnt.cast("double") * lit(2.2)) /
        (cnt.cast("double") +
          (lit(1.2) * (lit(0.25) +
            (lit(0.75) * (dl.cast("double") / lit(avgdl))))))))
      .cast("long")
}
