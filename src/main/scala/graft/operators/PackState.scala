package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted FFD token-packing state for INCREMENTAL intake — the
  * "close the recurring loop to training rows" operator: drop N+1's
  * documents pack into the SAME first-fit-decreasing bins drop N left
  * open, so sequences continue across drops (no repacking, no renumber)
  * and the emitted training rows are EXACTLY what one sequential
  * replay of all drops would produce.
  *
  * A [[DeltaManifest]]-committed store (the [[DedupState]] /
  * [[DecontamRegistry]] discipline — immutable deltas, atomic manifest,
  * fingerprint-idempotent replay). Each [[pack]] writes one delta:
  * {{{
  *   delta-<uuid>/contrib/  parquet: bucket, seq, step, doc_id,
  *                          ids_doc array<int> — the drop's CONTRIBUTION
  *                          to each training sequence (each doc's
  *                          truncated prefix + EOS, stamped with its
  *                          assigned bin `seq` and per-bucket visit
  *                          index `step`); a sequence spanning drops
  *                          holds contrib rows in several deltas
  *   delta-<uuid>/bins/     parquet: bucket, seq, rem — the POST-pack
  *                          snapshot of every bucket's ACTIVE open-bin
  *                          remainders (bin creation order = seq; bins
  *                          the geometry's closeBelow rule retires are
  *                          excluded)
  *   delta-<uuid>/closed/   parquet: bucket, seq, rem — bins THIS pack
  *                          retired (append-only audit tier, never
  *                          rescanned by later packs)
  *   delta-<uuid>/counters/ parquet: bucket, steps, nbins — the
  *                          post-pack per-bucket visit counter and
  *                          total bins ever opened (the next seq source)
  * }}}
  * `contrib/` and `closed/` accumulate across deltas (contrib IS the
  * corpus's packed form); `bins/`+`counters/` are SNAPSHOTS — only the
  * LATEST delta's pair seeds the next pack, which is what makes each
  * delta immutable while the packer state evolves. [[compact]]
  * concatenates the accumulating leaves verbatim and carries the latest
  * snapshot, so [[trainingRows]] is invariant under compaction.
  *
  * FFD semantics per drop (the pack_best_fit kernel, seeded): documents
  * visit per bucket in (n_eff DESC, doc_id) order, each takes the
  * LOWEST-indexed open bin with remainder ≥ n_eff (the
  * [[FirstFitTree]] O(log bins) query) or opens a new bin; n_eff =
  * min(n_ids + 1, L) — the doc's truncated prefix plus one EOS. Packing
  * is therefore FFD *within* each drop and first-come *across* drops —
  * exactly the semantics of running the batch packer on each drop as it
  * lands, which is the contract the two-drop oracle replays (a global
  * re-FFD over all drops would require repacking history on every
  * drop, the cost this operator exists to avoid).
  *
  * Scale shape: one drop's pack is one sorted-group pass over the
  * drop's docs (buckets are the parallelism; the per-bucket tree holds
  * open-bin remainders, the same working set the batch packer keeps) +
  * a join of assignments back to the drop's token arrays. The bins
  * snapshot rewrite is O(ACTIVE bins) per drop: [[Params.closeBelow]]
  * (round 16) retires bins whose remainder can no longer usefully
  * accept into an append-only `closed/` leaf that is never rescanned or
  * re-emitted — without it every pack rewrote the full
  * O(total_tokens/L) open-bin list, a per-drop cost proportional to
  * corpus-so-far, repeated forever. The rule is part of the pinned
  * geometry and mirrored verbatim by the seeded-FFD oracle (a closed
  * bin keeps its seq position as a -1 sentinel), so the
  * sequential-replay contract stays hash-exact.
  *
  * Crash/replay: delta staged whole, manifest commit atomic
  * (EEXIST-loud), fingerprint replay is a no-op — an intake job that
  * crashed after commit re-runs clean; a crash before commit leaves an
  * unreferenced staging dir for [[gc]].
  */
object PackState {

  private val Magic = "graft-pack-state-v1"

  /** The packing geometry, pinned into the manifest header: a state
    * packed under one geometry refuses packs under another (silently
    * mixing sequence lengths would corrupt every row).
    *
    * `closeBelow` is the CLOSED-BINS rule (round 16), part of the pinned
    * geometry so it can never change mid-state: at the END of each pack,
    * every open bin whose remainder is < closeBelow moves to the delta's
    * append-only `closed/` leaf and is never rescanned or re-emitted —
    * the `bins/` snapshot holds ACTIVE bins only, so the per-drop
    * snapshot write is O(active bins), not O(all bins ever opened)
    * (which is O(corpus/L) and grows forever). The rule is deterministic
    * and applied identically by the seeded-FFD oracle (closed bins keep
    * their seq positions as a `-1` sentinel remainder no n_eff ≥ 1 can
    * fit), so training rows stay hash-exact at any closeBelow.
    * closeBelow = 0 closes nothing — the pre-round-16 O(corpus-so-far)
    * snapshot rewrite, kept for byte-compatibility with states whose
    * manifests omit the field. The DEFAULT is 2 (round 17): provably
    * semantics-free for any input with ≥ 1 token per doc — a rem-0 bin
    * can never accept again (n_eff ≥ 1), and a rem-1 bin fits only
    * n_eff = 1, i.e. a ZERO-token doc (n_ids ≥ 1 ⇒ n_eff ≥ 2) — so
    * training rows are IDENTICAL to closeBelow = 0 (PackStateSpec pins
    * it) while a new production state stops rewriting every full bin
    * forever. The one degenerate exception: a zero-token doc arriving
    * in a LATER drop may land in a different bin than closeBelow = 0
    * would give it (the rem-1 bin it would have taken was retired);
    * within its own drop even that coincides (closing runs at pack
    * END).
    * Larger values trade a deterministic, oracle-mirrored packing
    * change for a smaller active set. Pre-existing states are
    * unaffected: their manifests pin their own geometry, which
    * [[loadAny]] reads back verbatim. */
  final case class Params(
      seqLen: Int, eosId: Int, padId: Int, buckets: Int,
      closeBelow: Int = 2) {
    require(seqLen >= 2 && buckets >= 1 && closeBelow >= 0)
    private[PackState] def payload =
      s"L=$seqLen eos=$eosId pad=$padId buckets=$buckets" +
        (if (closeBelow > 0) s" close=$closeBelow" else "")
  }

  final case class DeltaRef(name: String, ledger: String, nDocs: Long) {
    def fingerprints: Seq[String] = ledger.split(DeltaManifest.FpSep).toSeq
  }

  final case class Handle(
      dir: String, version: Long, params: Params, deltas: Seq[DeltaRef]) {
    def nDocs: Long = deltas.iterator.map(_.nDocs).sum
    def fingerprints: Set[String] =
      deltas.iterator.flatMap(_.fingerprints).toSet
  }

  /** Load with the geometry the manifest ITSELF pins — the read-only
    * caller's form (pack-rows, health, audits): nothing to re-state, so
    * no mismatch is possible. Fails loudly when no state exists (there
    * is no geometry to read). */
  def loadAny(dir: String): Handle = {
    val st = DeltaManifest.load(dir, Magic, "")
    require(st.version > 0, s"no pack state at $dir")
    loadAnyFrom(dir, st)
  }

  /** [[loadAny]] when the state may not exist yet: `None` means no
    * committed manifest (the caller is creating the state and owns the
    * geometry choice); `Some` carries the manifest-pinned geometry. */
  def loadOpt(dir: String): Option[Handle] = {
    val st = DeltaManifest.load(dir, Magic, "")
    if (st.version == 0L) None else Some(loadAnyFrom(dir, st))
  }

  private def loadAnyFrom(dir: String, st: DeltaManifest.State): Handle = {
    val f = st.payload.split("\\s+").filter(_.contains("="))
      .map { t => val Array(k, v) = t.split("=", 2); k -> v }.toMap
    load(dir, Params(f("L").toInt, f("eos").toInt, f("pad").toInt,
      f("buckets").toInt, f.getOrElse("close", "0").toInt))
  }

  /** Load the current committed state; `version` 0 (no packs yet) if
    * none. A geometry mismatch with an existing manifest fails loudly. */
  def load(dir: String, p: Params): Handle = {
    val st = DeltaManifest.load(dir, Magic, p.payload)
    require(st.payload == p.payload,
      s"pack state at $dir was built with geometry '${st.payload}', " +
        s"caller passed '${p.payload}' — refusing to mix")
    Handle(dir, st.version, p, st.refs.map(r =>
      DeltaRef(r.name, r.ledger, r.n)))
  }

  private val ContribSchema =
    "bucket bigint, seq bigint, step bigint, doc_id bigint, " +
      "ids_doc array<int>"
  private val BinsSchema = "bucket bigint, seq bigint, rem bigint"
  // `nbins` is total bins ever opened per bucket — the next bin's seq
  // source once closed bins leave the snapshot
  private val CountersSchema = "bucket bigint, steps bigint, nbins bigint"

  // every leaf is REQUIRED — a manifest-referenced delta missing one is
  // corruption, and reading it as empty would reseed an empty tree,
  // reuse seqs, and silently merge unrelated docs into over-length rows
  private def readLeaf(
      s: SparkSession, dir: String, deltas: Seq[String],
      leaf: String, schema: String): DataFrame = {
    val paths = deltas.map(d => s"$dir/$d/$leaf")
    if (paths.isEmpty)
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(schema))
    else s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(schema))
      .parquet(paths: _*)
  }

  /** Every drop's per-sequence contributions, across all deltas. */
  def contrib(s: SparkSession, h: Handle): DataFrame =
    readLeaf(s, h.dir, h.deltas.map(_.name), "contrib", ContribSchema)

  /** The current ACTIVE open-bin snapshot (latest delta's; excludes
    * bins the geometry's close rule has retired — see [[binsClosed]]). */
  def bins(s: SparkSession, h: Handle): DataFrame =
    readLeaf(s, h.dir, h.deltas.lastOption.map(_.name).toSeq,
      "bins", BinsSchema)

  /** Bins retired by the geometry's closeBelow rule, across all deltas
    * (append-only — each delta holds only the bins IT closed); the
    * audit complement of [[bins]]. Empty for closeBelow = 0 states. */
  def binsClosed(s: SparkSession, h: Handle): DataFrame =
    readLeaf(s, h.dir, h.deltas.map(_.name), "closed", BinsSchema)

  private def counters(s: SparkSession, h: Handle): DataFrame =
    readLeaf(s, h.dir, h.deltas.lastOption.map(_.name).toSeq,
      "counters", CountersSchema)

  /** Pack a drop of `(doc_id, token_ids array<int>)` rows into the
    * state: FFD within the drop, continuing the persisted bins, one new
    * delta. Fingerprint-idempotent. */
  def pack(
      s: SparkSession, dir: String, idRows: DataFrame,
      fingerprint: String, p: Params): Handle = synchronized {
    import s.implicits._
    DeltaManifest.requireCleanId(fingerprint)
    val h = load(dir, p)
    if (h.fingerprints.contains(fingerprint)) return h
    val L = p.seqLen.toLong

    val ids = idRows
      .select(col("doc_id").cast("long").as("doc_id"),
        col("token_ids").cast("array<int>").as("token_ids"))
      // null token_ids would read as n_ids = -1 (size(null)), violating
      // the kernel's n_eff ≥ 1 contract and corrupting its sequence —
      // drop them here, the same null-content posture DedupState takes
      .filter(col("token_ids").isNotNull)
      .withColumn("bucket", (col("doc_id") % p.buckets).cast("long"))
      .withColumn("n_ids", size(col("token_ids")).cast("long"))
      .withColumn("n_eff", least(col("n_ids") + 1L, lit(L)))

    // seed rows: (bucket, kind, a, b) — kind 1 = ACTIVE open bin (a=seq,
    // b=rem) in creation order, kind 2 = the counters (a=nbins ever
    // opened, b=steps); the kernel's sort key (kind, a) replays bins
    // before the counter. A null nbins fails the pack: reseeding seq
    // from 0 would reuse the seqs of bins already emitted.
    val ctrLeaf = h.deltas.lastOption.fold("")(d => s"$dir/${d.name}/counters")
    val seed = bins(s, h)
      .select(col("bucket"), lit(1).as("kind"),
        col("seq").as("a"), col("rem").as("b"))
      .unionByName(counters(s, h)
        .select(col("bucket"), lit(2).as("kind"),
          coalesce(col("nbins"),
            raise_error(lit(s"null nbins in $ctrLeaf"))).as("a"),
          col("steps").as("b")))
      .as[(Long, Int, Long, Long)]
    val docs = ids.select("doc_id", "bucket", "n_eff")
      .as[(Long, Long, Long)]

    // ONE sorted cogroup pass per bucket: replay the seed into the tree,
    // FFD the drop's docs, then emit the post-pack snapshot — active
    // bins (kind 1), bins the close rule retires THIS pack (kind 3), and
    // the counters (kind 2). Buckets in the seed but absent from the
    // drop re-emit their snapshot (the close rule still applies — a
    // constant of the geometry); fresh buckets start empty. The tree
    // holds ACTIVE bins only, with `seqOf` carrying each slot's bin seq:
    // actives stay in creation order (closing never reorders survivors,
    // appends get fresh higher seqs), so the tree's lowest fitting slot
    // IS the lowest-seq fitting bin — first-fit semantics are unchanged.
    val closeBelow = p.closeBelow.toLong
    val raw = seed.groupByKey(_._1)
      .cogroupSorted(docs.groupByKey(_._2))(
        col("kind"), col("a"))(col("n_eff").desc, col("doc_id")) {
        (bucket, seedIt, docIt) =>
          val tree = new FirstFitTree
          val seqOf = scala.collection.mutable.ArrayBuffer.empty[Long]
          var steps = 0L
          var nbins = 0L
          seedIt.foreach {
            case (_, 1, seqNo, rem) =>
              tree.append(rem); seqOf += seqNo; ()
            case (_, _, nb, st) => nbins = nb; steps = st
          }
          val assigned = docIt.map { case (docId, _, nEff) =>
            steps += 1L
            val fit = tree.firstFit(nEff)
            val seq =
              if (fit >= 0) { tree.take(fit, nEff); seqOf(fit) }
              else {
                nbins += 1L
                tree.append(L - nEff); seqOf += nbins; nbins
              }
            (0, bucket, docId, seq, steps, nEff)
          }
          // Iterator.++'s rhs is by-name: the snapshot materializes only
          // after every assignment has updated the tree/counter
          assigned ++ Iterator.single(()).flatMap { _ =>
            (0 until tree.size).iterator.map { i =>
              val rem = tree.remaining(i)
              val kind = if (rem < closeBelow) 3 else 1
              (kind, bucket, 0L, seqOf(i), rem, 0L)
            } ++ Iterator.single((2, bucket, 0L, nbins, steps, 0L))
          }
      }
      .toDF("kind", "bucket", "doc_id", "seq", "x", "n_eff")

    val staging = DeltaManifest.stagingPath(dir)
    val st = staging.toString
    // stage the kernel output ONCE; every delta artifact derives from it
    raw.write.parquet(s"$st/raw")
    val rawStaged = s.read.schema(
      org.apache.spark.sql.types.StructType.fromDDL(
        "kind int, bucket bigint, doc_id bigint, seq bigint, " +
          "x bigint, n_eff bigint")).parquet(s"$st/raw")
    rawStaged.filter(col("kind") === 0)
      .join(ids.select(col("doc_id"), col("token_ids"), col("n_eff")
        .as("ne")), Seq("doc_id"))
      .select(col("bucket"), col("seq"), col("x").as("step"), col("doc_id"),
        concat(slice(col("token_ids"), lit(1), (col("ne") - 1L).cast("int")),
          array(lit(p.eosId))).cast("array<int>").as("ids_doc"))
      .write.parquet(s"$st/contrib")
    rawStaged.filter(col("kind") === 1)
      .select(col("bucket"), col("seq"), col("x").as("rem"))
      .write.parquet(s"$st/bins")
    rawStaged.filter(col("kind") === 3)
      .select(col("bucket"), col("seq"), col("x").as("rem"))
      .write.parquet(s"$st/closed")
    rawStaged.filter(col("kind") === 2)
      .select(col("bucket"), col("x").as("steps"), col("seq").as("nbins"))
      .write.parquet(s"$st/counters")
    val n = s.read.schema(org.apache.spark.sql.types.StructType
      .fromDDL(ContribSchema)).parquet(s"$st/contrib").count()
    graft.storage.ParquetLogBackend.deleteRecursively(staging.resolve("raw"))

    val deltaName = DeltaManifest.promote(staging)
    DeltaManifest.commit(dir, Magic, p.payload, h.version + 1,
      (h.deltas :+ DeltaRef(deltaName, fingerprint, n))
        .map(d => DeltaManifest.Ref(d.name, d.ledger, d.nDocs)))
    load(dir, p)
  }

  /** The state's training rows so far — one audit row per sequence,
    * `(bucket, seq, n_docs, n_real, n_pad, ids_md5)`, docs concatenated
    * in their FFD visit order (`step` is globally increasing per bucket
    * across drops), tail padded to the geometry's L with PAD; the md5
    * pins every id of every row (the pack_best_fit_tokens
    * materialization, served from persisted contributions — emitting
    * never re-tokenizes an earlier drop). Per-sequence collect_list is
    * bounded by L ids. */
  def trainingRows(s: SparkSession, h: Handle): DataFrame = {
    val L = h.params.seqLen.toLong
    contrib(s, h)
      .groupBy("bucket", "seq")
      .agg(count(lit(1)).as("n_docs"),
        sort_array(collect_list(struct(col("step"), col("ids_doc"))))
          .as("a"))
      .withColumn("real_ids",
        flatten(expr("transform(a, x -> x.ids_doc)")))
      .withColumn("n_real", size(col("real_ids")).cast("long"))
      .withColumn("n_pad", lit(L) - col("n_real"))
      .withColumn("ids_md5", md5(concat_ws(",",
        concat(col("real_ids"),
          array_repeat(lit(h.params.padId), col("n_pad").cast("int")))
          .cast("array<string>"))))
      .select(col("bucket"), col("seq"), col("n_docs"),
        col("n_real"), col("n_pad"), col("ids_md5"))
  }

  /** Fold every delta's contrib (and closed-bins audit) verbatim into
    * one delta carrying the LATEST bins/counters snapshot —
    * [[trainingRows]] and the next [[pack]] answer identically before
    * and after. The ledger survives. */
  def compact(s: SparkSession, dir: String, p: Params): Handle =
    synchronized {
      val h = load(dir, p)
      if (h.deltas.size <= 1) return h
      val staging = DeltaManifest.stagingPath(dir)
      val st = staging.toString
      contrib(s, h).write.parquet(s"$st/contrib")
      bins(s, h).write.parquet(s"$st/bins")
      binsClosed(s, h).write.parquet(s"$st/closed")
      counters(s, h).write.parquet(s"$st/counters")
      val deltaName = DeltaManifest.promote(staging)
      val mergedLedger =
        h.deltas.map(_.ledger).mkString(DeltaManifest.FpSep.toString)
      DeltaManifest.commit(dir, Magic, p.payload, h.version + 1,
        Seq(DeltaManifest.Ref(deltaName, mergedLedger, h.nDocs)))
      load(dir, p)
    }

  /** Reclaim unreferenced delta/staging dirs (manifest-driven). */
  def gc(dir: String, p: Params): Int = synchronized {
    DeltaManifest.gc(dir, Magic, p.payload)
  }

  /** Typed state-health verdict (round 16) — the
    * [[DedupState.health]] pattern on the pack store:
    *
    *  - `nDeltas` drives [[trainingRows]]' read fan-in (contrib
    *    concatenates across deltas) and the small-file count;
    *    [[compact]] restores it to 1 without changing any row.
    *  - `activeBins` is the per-drop snapshot rewrite volume — the
    *    closed-bins rule's control surface. A growing active set with
    *    `closeBelow` = 0 is the pre-round-16 O(corpus) rewrite;
    *    with a close threshold it tracks the fill frontier.
    *  - `closedBins` is the append-only retired tier (never rewritten;
    *    reported for capacity accounting).
    *
    * `compactRecommended` trips on the delta dimension alone. */
  final case class HealthReport(
      nDeltas: Int,
      nDocs: Long,
      activeBins: Long,
      closedBins: Long,
      compactRecommended: Boolean)

  def health(
      s: SparkSession, h: Handle, maxDeltas: Int = 16): HealthReport =
    HealthReport(
      nDeltas = h.deltas.size,
      nDocs = h.nDocs,
      activeBins = bins(s, h).count(),
      closedBins = binsClosed(s, h).count(),
      compactRecommended = h.deltas.size > maxDeltas)
}
