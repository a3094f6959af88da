package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted, log-structured PERCEPTUAL dedup state for incremental
  * MEDIA intake — the round-17 cross-drop tier the batch family
  * (dedup_phash / dedup_phash_hamming, reference-free 64-bit dHash over
  * decoded images) lacked: a recurring multimodal intake re-admitted
  * near-duplicate images every drop because nothing persisted the
  * admitted corpus's perceptual evidence.
  *
  * Same [[DeltaManifest]] discipline as [[DedupState]] /
  * [[DecontamRegistry]] / [[PackState]] (immutable deltas, atomic
  * link(2) manifest commit, fingerprint-idempotent replay, single
  * writer). Layout under `dir`:
  * {{{
  *   manifest-v<N>          "graft-media-dedup-state-v1"; one line per
  *                          live delta ("<dir>\t<ledger>\t<nImgs>")
  *   delta-<uuid>/rows/     parquet: img_id, phash — the admitted
  *                          images' 64-bit dHashes (8 B/image: the
  *                          whole state for a billion images is ~8 GB
  *                          of narrow columnar scan)
  *   delta-<uuid>/bands/    parquet: img_id, phash, b, bval — the
  *                          delta's CAPPED 8-byte-band rows (the
  *                          pigeonhole candidate generator, pre-banded
  *                          at admit exactly like DedupState's bands/)
  *   delta-<uuid>/card/     parquet: the admission audit card — one row
  *                          per offered image with the verdict flags
  * }}}
  *
  * Admission semantics (flags independent, like [[DedupState]]):
  *  - `exact_dup_state`/`exact_dup_batch`: IDENTICAL dHash (hamming 0)
  *    vs any admitted image / a smaller img_id in this batch (min-id
  *    keeper). A null phash (undecodable media) carries no evidence.
  *  - `near_dup_state`/`near_dup_batch`: hamming ≤ [[MaxHamming]],
  *    candidates via the pigeonhole band join — any pair within
  *    hamming 7 agrees on at least one of the [[Bands]] whole bytes
  *    (dedup_phash_hamming's generator, reference:
  *    romshark/eventlog has no media tier; the banding is the standard
  *    Faiss/pHash-dedup shape) — verified by `bit_count(xor)`.
  *  - `admitted` = none of the above; only admitted evidence persists.
  *
  * Band-cap semantics are [[DedupState]]'s verbatim: state band rows
  * are capped WITHIN their delta at admit time ([[MaxBandBucket]] per
  * (b, bval) bucket), the batch side's cap is computed live within the
  * batch, and [[compact]] concatenates band rows verbatim — no re-cap,
  * so compaction can never change a verdict.
  *
  * Scale shape of one admit at 10^9-image state / drop-sized batch: the
  * exact tier is one 8-byte-key LeftSemi against the narrow rows/ scan;
  * the near tier joins the batch's ≤ [[Bands]]·|batch| capped band rows
  * against the state's pre-banded leaves on 2-byte (b, bval) keys —
  * bucket caps bound the fanout at [[MaxBandBucket]] × deltas per band
  * value; no window ever touches a state row; the only state-side work
  * is the columnar scan. dHashes ride the band rows so verification
  * re-attaches nothing.
  *
  * Streaming: wire a maintainer exactly like
  * [[graft.streaming.IndexMaintainer.maintainDedupState]] —
  * `foreachBatch { (b, id) => admit(s, dir, b, s"ckpt-$id") }` with
  * [[compact]] every N epochs; admit's fingerprint ledger makes micro-
  * batch replays no-ops, so the stream is exactly-once by construction.
  */
object MediaDedupState {

  private val Magic = "graft-media-dedup-state-v1"

  /** Byte-bands over the 64-bit dHash: any pair within [[MaxHamming]]
    * = [[Bands]]−1 agrees on ≥ 1 whole band (pigeonhole). */
  val Bands = 8

  /** The verified near-dup threshold — 7 differing bits of 64 is the
    * usual re-encode/resize tolerance for dHash. */
  val MaxHamming = 7

  /** Hot-bucket cap, shared with the text tiers' band joins. */
  val MaxBandBucket: Int = MinHashLsh.MaxBandBucket

  /** Band `b`'s byte of `phash` as an UNSIGNED 0..255 value — must be
    * `& 255`, not `% 256` (band 0 of a negative phash). Shared with the
    * batch dedup_phash_hamming entry so the two can never drift. */
  val BandExpr = "shiftrightunsigned(phash, b * 8) & 255"

  private val RowsSchema = "img_id bigint, phash bigint"
  private val BandsSchema = "img_id bigint, phash bigint, b int, bval bigint"
  private val CardSchema =
    "img_id bigint, exact_dup_state boolean, exact_dup_batch boolean, " +
      "near_dup_state boolean, near_dup_batch boolean, admitted boolean"

  final case class DeltaRef(name: String, ledger: String, nImgs: Long) {
    def fingerprints: Seq[String] = ledger.split(DeltaManifest.FpSep).toSeq
  }

  final case class Handle(
      dir: String, version: Long, deltas: Seq[DeltaRef]) {
    def nImgs: Long = deltas.iterator.map(_.nImgs).sum
    def fingerprints: Set[String] =
      deltas.iterator.flatMap(_.fingerprints).toSet
  }

  /** The state before any admit: every verdict is "novel". */
  def empty: Handle = Handle("", 0L, Seq.empty)

  def load(dir: String): Handle = {
    val st = DeltaManifest.load(dir, Magic, "")
    Handle(dir, st.version,
      st.refs.map(r => DeltaRef(r.name, r.ledger, r.n)))
  }

  private def readLeaf(
      s: SparkSession, h: Handle, leaf: String, schema: String): DataFrame = {
    val paths = h.deltas.map(d => s"${h.dir}/${d.name}/$leaf")
    if (paths.isEmpty)
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(schema))
    else s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(schema))
      .parquet(paths: _*)
  }

  /** All admitted `(img_id, phash)` rows. */
  def rows(s: SparkSession, h: Handle): DataFrame =
    readLeaf(s, h, "rows", RowsSchema)

  /** The state's PRE-BANDED evidence `(img_id, phash, b, bval)` —
    * per-delta capped at admit, never re-windowed at read. */
  def bands(s: SparkSession, h: Handle): DataFrame =
    readLeaf(s, h, "bands", BandsSchema)

  /** The admission audit card across every delta. */
  def card(s: SparkSession, h: Handle): DataFrame =
    readLeaf(s, h, "card", CardSchema)

  /** The [[Bands]] byte-band rows of a (img_id, phash) relation, hot
    * buckets capped WITHIN the given frame (batch or one delta). */
  private def cappedBandsOf(fp: DataFrame): DataFrame = {
    val b0 = fp.filter(col("phash").isNotNull)
      .select(col("img_id"), col("phash"),
        explode(sequence(lit(0), lit(Bands - 1))).as("b"))
      .withColumn("bval", expr(BandExpr))
    val wb = Window.partitionBy(col("b"), col("bval"))
    b0.withColumn("bsz", count(lit(1)).over(wb))
      .filter(col("bsz") <= MaxBandBucket)
      .drop("bsz")
  }

  /** Read-only admission verdicts for a batch `(img_id, phash)` against
    * the state: one row per batch image with the four dup verdicts and
    * `admitted`. Does not touch the state on disk. */
  def verdicts(s: SparkSession, h: Handle, batch: DataFrame): DataFrame =
    verdictsFull(s, h, batch).drop("phash")

  private def verdictsFull(
      s: SparkSession, h: Handle, batch: DataFrame): DataFrame = {
    val b = batch.select(col("img_id").cast("long").as("img_id"),
      col("phash").cast("long").as("phash"))
    // exact tier, within-batch: min-id keeper per hash (null = no
    // evidence — an undecodable image never exact-dups another)
    val wh = Window.partitionBy(col("phash"))
    val withBatchExact = b.withColumn("exact_dup_batch",
      col("phash").isNotNull &&
        col("img_id") =!= min(col("img_id")).over(wh))
    // exact tier, vs state: one 8-byte-key semi-join
    val stateExact = b.filter(col("phash").isNotNull)
      .join(rows(s, h).select("phash"), Seq("phash"), "left_semi")
      .select(col("img_id")).withColumn("exact_dup_state", lit(true))
    // near tier, within-batch: banded candidates to a SMALLER img_id,
    // verified exactly — dedup_phash_hamming's join, keep-first
    val bb = cappedBandsOf(b)
    val nearBatch = bb.select(col("img_id").as("ia"), col("phash")
        .as("fa"), col("b"), col("bval"))
      .join(bb.select(col("img_id").as("img_id"), col("phash").as("fb"),
        col("b"), col("bval")), Seq("b", "bval"))
      .filter(col("ia") < col("img_id"))
      .select("ia", "fa", "img_id", "fb").distinct()
      .filter(expr(s"bit_count(fa ^ fb) <= $MaxHamming"))
      .select(col("img_id")).distinct()
      .withColumn("near_dup_batch", lit(true))
    // near tier, vs state: batch bands ⋈ pre-banded state leaves on
    // (b, bval); the hashes ride both sides, verification re-attaches
    // nothing; DISTINCT pairs before the bit_count so a pair colliding
    // in k bands pays one verify
    val sb = bands(s, h).select(col("img_id").as("sid"),
      col("phash").as("sfp"), col("b"), col("bval"))
    val nearState = bb.join(sb, Seq("b", "bval"))
      .select(col("img_id"), col("phash"), col("sid"), col("sfp"))
      .distinct()
      .filter(expr(s"bit_count(phash ^ sfp) <= $MaxHamming"))
      .select(col("img_id")).distinct()
      .withColumn("near_dup_state", lit(true))
    withBatchExact
      .join(stateExact, Seq("img_id"), "left")
      .join(nearState, Seq("img_id"), "left")
      .join(nearBatch, Seq("img_id"), "left")
      .withColumn("exact_dup_state",
        coalesce(col("exact_dup_state"), lit(false)))
      .withColumn("near_dup_state",
        coalesce(col("near_dup_state"), lit(false)))
      .withColumn("near_dup_batch",
        coalesce(col("near_dup_batch"), lit(false)))
      .withColumn("admitted",
        !col("exact_dup_state") && !col("exact_dup_batch") &&
          !col("near_dup_state") && !col("near_dup_batch"))
      .select(col("img_id"), col("phash"),
        col("exact_dup_state"), col("exact_dup_batch"),
        col("near_dup_state"), col("near_dup_batch"), col("admitted"))
  }

  /** Admit a batch: verdicts against the current state, persist the
    * admitted images' evidence (rows + pre-capped band rows) and the
    * full audit card as a new delta, commit the next manifest.
    * Fingerprint-idempotent. */
  def admit(
      s: SparkSession, dir: String, batch: DataFrame,
      fingerprint: String): Handle = synchronized {
    DeltaManifest.requireCleanId(fingerprint)
    val h = load(dir)
    if (h.fingerprints.contains(fingerprint)) return h
    val staging = DeltaManifest.stagingPath(dir)
    val st = staging.toString
    // ONE verdict DAG materializes the full card; every artifact
    // derives from staged parquet (the DedupState admit discipline)
    verdictsFull(s, h, batch).write.parquet(s"$st/vf")
    val vf = s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
      s"img_id bigint, phash bigint, exact_dup_state boolean, " +
        "exact_dup_batch boolean, near_dup_state boolean, " +
        "near_dup_batch boolean, admitted boolean")).parquet(s"$st/vf")
    vf.filter(col("admitted")).select("img_id", "phash")
      .write.parquet(s"$st/rows")
    val staged = s.read.schema(org.apache.spark.sql.types.StructType
      .fromDDL(RowsSchema)).parquet(s"$st/rows")
    cappedBandsOf(staged).write.parquet(s"$st/bands")
    vf.drop("phash").write.parquet(s"$st/card")
    val n = staged.count()
    graft.util.Publish.deleteRecursively(staging.resolve("vf"))
    val deltaName = DeltaManifest.promote(staging)
    DeltaManifest.commit(dir, Magic, "", h.version + 1,
      (h.deltas :+ DeltaRef(deltaName, fingerprint, n))
        .map(d => DeltaManifest.Ref(d.name, d.ledger, d.nImgs)))
    load(dir)
  }

  /** Fold every delta verbatim into one (rows/bands/card concatenate —
    * no re-cap, verdicts bit-identical before/after); the fingerprint
    * ledger survives. */
  def compact(s: SparkSession, dir: String): Handle = synchronized {
    val h = load(dir)
    if (h.deltas.size <= 1) return h
    val staging = DeltaManifest.stagingPath(dir)
    val st = staging.toString
    rows(s, h).write.parquet(s"$st/rows")
    bands(s, h).write.parquet(s"$st/bands")
    card(s, h).write.parquet(s"$st/card")
    val deltaName = DeltaManifest.promote(staging)
    val mergedLedger =
      h.deltas.map(_.ledger).mkString(DeltaManifest.FpSep.toString)
    DeltaManifest.commit(dir, Magic, "", h.version + 1,
      Seq(DeltaManifest.Ref(deltaName, mergedLedger, h.nImgs)))
    load(dir)
  }

  /** Reclaim unreferenced delta/staging dirs. */
  def gc(dir: String): Int = synchronized {
    DeltaManifest.gc(dir, Magic, "")
  }

  /** Typed state-health verdict — the [[DedupState.health]] pattern:
    * the near tier's state-side fanout bound is
    * [[MaxBandBucket]] × [[Bands]] × live deltas (each delta caps its
    * own buckets); [[compact]] restores the delta dimension to 1
    * without changing any verdict. */
  final case class HealthReport(
      nDeltas: Int,
      nImgs: Long,
      bandFanoutBound: Long,
      compactRecommended: Boolean)

  def health(h: Handle, maxDeltas: Int = 16): HealthReport =
    HealthReport(
      nDeltas = h.deltas.size,
      nImgs = h.nImgs,
      bandFanoutBound =
        MaxBandBucket.toLong * Bands * h.deltas.size,
      compactRecommended = h.deltas.size > maxDeltas)
}
