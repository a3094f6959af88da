package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}


/** Persisted, log-structured dedup state for INCREMENTAL corpus intake.
  *
  * A 100 TB corpus is not ingested once — crawl drops arrive over months,
  * and each drop must be deduplicated against EVERYTHING already admitted
  * without rescanning (or re-shingling) the admitted corpus. This operator
  * persists exactly the per-document evidence the dedup family needs —
  * the exact tier's content hash, the near-dup tier's MinHash signature,
  * the semantic tier's embedding, and the span tier's chunk hashes — as
  * an append-only sequence of immutable delta directories under one state
  * root, and answers "which of these new documents are novel?" with joins
  * against that state.
  *
  * Layout under `dir`:
  * {{{
  *   manifest-v<N>          current = highest N; one header line
  *                          ("graft-dedup-state-v1 bits=<bloomBits>")
  *                          then one line per live delta:
  *                          "<deltaDir>\t<fingerprintLedger>\t<nDocs>"
  *   delta-<uuid>/rows/     parquet: doc_id, content_hash (md5 hex of
  *                          text), mins array<long>[12], emb
  *                          array<double> (null when the batch carried no
  *                          embedding) — ONE file set per delta; the
  *                          exact, lexical, and semantic tiers each read
  *                          only their columns (parquet projection), so
  *                          splitting the tiers into separate files would
  *                          buy no I/O and cost a second write pass
  *   delta-<uuid>/bloom/    parquet: word, mask — Bloom of the delta's
  *                          hashes ([[BloomSketch]], 64-bit words)
  *   delta-<uuid>/bands/    parquet: doc_id, mins, band, bkey — the
  *                          delta's CAPPED lexical band rows
  *                          ([[MinHashLsh.cappedBandsOf]] over the
  *                          delta's admitted signatures), written ONCE at
  *                          admit so verdicts read pre-banded evidence
  *                          instead of re-windowing the state every drop
  *   delta-<uuid>/ebands/   parquet: doc_id, v, nrm, b, bkey — the
  *                          semantic twin ([[RhpLsh.cappedBandsOf]];
  *                          vectors and norms RIDE the band rows so
  *                          verification needs no re-attach join, at the
  *                          priced cost of [[RhpLsh.Bands]]× embedding
  *                          duplication in this leaf)
  *   delta-<uuid>/spans/    parquet: chunk_hash — DISTINCT
  *                          [[SpanTokens]]-token chunk hashes of the
  *                          delta's admitted documents (the
  *                          dedup_span_exact grid): the cross-drop
  *                          repeated-span evidence, persisted because
  *                          the state never stores admitted TEXT
  *   delta-<uuid>/spanbloom/ parquet: word, mask — Bloom of the delta's
  *                          span chunk hashes (broadcast prefilter for
  *                          the span tier, same shape as `bloom/`)
  *   delta-<uuid>/card/     parquet: the admission AUDIT card — one row
  *                          per batch document (admitted AND rejected)
  *                          with the verdict flags, so "why did this doc
  *                          go" is answerable forever without re-running
  *                          the admission
  * }}}
  *
  * Every delta [[admit]] or [[compact]] writes carries all seven leaves;
  * a manifest-referenced delta missing one fails the read, naming the
  * missing `<delta>/<leaf>` path.
  *
  * Crash safety is the [[VersionedArtifact]] discipline: a delta is staged
  * under `staging-<uuid>`, renamed whole, and becomes LIVE only when the
  * next manifest (published with link(2) semantics — EEXIST on a lost
  * race) references it — a crash at any point leaves the previous
  * manifest intact and at worst an unreferenced directory, reclaimed by
  * [[gc]]. Writers (admit/compact/gc) are single-writer by contract — the
  * deployment story is one intake job per state root, serialized by the
  * scheduler; a lost cross-process manifest race surfaces loudly as
  * EEXIST rather than silently dropping a delta. Readers only ever see
  * committed manifests.
  *
  * Idempotent replay: each admit records the batch's caller-supplied
  * fingerprint in the manifest; re-admitting a fingerprint the manifest
  * already holds returns the current state unchanged (the restart story —
  * an intake job that crashed AFTER commit but before its own bookkeeping
  * can simply re-run).
  *
  * Admission semantics (all six verdicts are returned per document, so
  * the rejects are auditable, not just absent):
  *
  *  - `exact_dup_state`: content hash already admitted in ANY delta.
  *  - `exact_dup_batch`: a smaller doc_id in THIS batch has the same hash
  *    (the min-id keeper rule the batch dedup_exact entry uses).
  *  - `near_dup_state`: a capped LSH band key collides with an admitted
  *    document's and signature agreement clears
  *    [[MinHashLsh.VerifyThreshold]].
  *  - `near_dup_batch`: a verified near-dup pair to a SMALLER doc_id in
  *    this batch (pairwise greedy keep-first — deterministic and
  *    oracle-expressible; a doc may be dropped against a batch sibling
  *    that is itself rejected, the conservative trade every greedy LSH
  *    dedup makes).
  *  - `sem_dup_state` / `sem_dup_batch`: the SEMANTIC tier — when the
  *    batch carries an `emb` column, random-hyperplane-banded candidates
  *    verified by exact cosine >= [[RhpLsh.VerifyCosine]] against
  *    admitted embeddings / smaller batch siblings (the paraphrase case
  *    no shingle tier can see). Structurally false for emb-less rows.
  *  - `admitted` = none of the above. Only admitted documents' evidence
  *    enters the state, which yields the invariant that non-null content
  *    hashes are GLOBALLY unique across deltas (an admitted doc was, by
  *    definition, no exact dup of any earlier delta or batch sibling) —
  *    so state reads never need a distinct.
  *
  * The SPAN tier ([[spanVerdicts]]) is ADVISORY, not an admission gate:
  * sharing one boilerplate chunk with an admitted document is a signal
  * for span SCRUBBING (the pipeline_span_scrub treatment — cut the
  * repeated passage, keep the document), not for dropping the document,
  * so `span_dup_state`/`span_dup_batch` ride a separate verdict card and
  * never fold into `admitted`.
  *
  * Band-cap semantics (round 15): state band rows are capped WITHIN THE
  * DELTA they were admitted in — the cap is computed once at admit time
  * over the delta's own rows and persisted, and neither later admits nor
  * [[compact]] re-cap the union (compact concatenates band rows
  * verbatim, so compaction can never change a verdict). A band key that
  * stays under the cap in every delta can therefore exceed it across the
  * state; the per-admit join fanout is bounded by
  * [[MinHashLsh.MaxBandBucket]] × live deltas, which [[compact]]'s
  * cadence keeps small. The batch side's cap stays live (computed within
  * each arriving batch). For a SINGLE-delta state the two semantics
  * coincide exactly, which is what keeps the two-drop oracles unchanged.
  *
  * Scale shape of one admit at 100 TB state / TB-scale batch:
  *
  *  - Exact tier: the state's per-delta Bloom side-files fold into ONE
  *    ≤(bits/64)-row (word, mask) relation — broadcast — and prefilter
  *    the batch, so only Bloom-positive batch docs (true dups + the FP
  *    fraction) reach the semi-join against state hashes; the full state
  *    hash scan is columnar, projected to one 32-char column, and joined
  *    only against that residue. Bloom false positives only ENLARGE the
  *    candidate set; the semi-join decides, so results are exactly the
  *    no-Bloom results.
  *  - Near-dup tier: state band rows are read PRE-BANDED and PRE-CAPPED
  *    from the per-delta `bands/` leaves — one narrow columnar scan, no
  *    window, no shuffle of state rows — and joined on 8-byte
  *    (band, bkey) keys against the batch's (live-capped) bands; the
  *    signatures ride both sides so verification re-attaches nothing.
  *    Banding work is paid once per document ever, at its admit.
  *  - Semantic tier: same pre-banded shape over `ebands/`.
  *  - Span tier: per-delta span Blooms fold into one broadcast relation;
  *    the batch probes its STRIDE-1 windows (phase-independent, round
  *    17 — ~[[SpanTokens]]× the hash volume, all map-side) and only
  *    Bloom-positive windows (true repeats + FP fraction) reach the
  *    deciding semi-join against state chunk hashes.
  *  - Deltas stay drop-sized; [[compact]] folds them into one when small
  *    files accumulate, preserving content exactly.
  */
object DedupState {

  /** Bloom capacity for the exact tier's per-delta side filter. 2^20 bits
    * ≈ 131 KiB folded — broadcastable whatever the state size; at ~10^5
    * admitted docs per filter the FP rate is ~1%, and FPs cost only a
    * row in the verification semi-join, never a verdict. */
  val DefaultBloomBits: Long = BloomSketch.DefaultBits

  /** Tokens per span chunk — the dedup_span_exact grid, shared so the
    * state's span tier and the batch span family agree on what a span
    * IS. */
  val SpanTokens: Int = graft.queries.Dedup.SpanTokens

  private val Magic = "graft-dedup-state-v1"

  private val RowsSchema =
    "doc_id bigint, content_hash string, mins array<bigint>, " +
      "emb array<double>"
  private val BandsSchema =
    "doc_id bigint, mins array<bigint>, band int, bkey bigint"
  private val EbandsSchema =
    "doc_id bigint, v array<double>, nrm double, b int, bkey bigint"
  private val SpansSchema = "chunk_hash string"
  private val FlagsSchema =
    "exact_dup_state boolean, exact_dup_batch boolean, " +
      "near_dup_state boolean, near_dup_batch boolean, " +
      "sem_dup_state boolean, sem_dup_batch boolean, admitted boolean"
  private val CardSchema =
    "doc_id bigint, exact_dup_state boolean, exact_dup_batch boolean, " +
      "near_dup_state boolean, near_dup_batch boolean, " +
      "sem_dup_state boolean, sem_dup_batch boolean, admitted boolean"

  /** One live delta: its directory name, the fingerprint ledger of the
    * admits it holds (singleton until [[compact]] merges deltas — the
    * ledger keeps recognizing every admitted batch fingerprint), and how
    * many documents it holds. Manifest mechanics live in the shared
    * [[DeltaManifest]] (also the [[DecontamRegistry]] discipline). */
  final case class DeltaRef(name: String, ledger: String, nDocs: Long) {
    def fingerprints: Seq[String] = ledger.split(DeltaManifest.FpSep).toSeq
  }

  /** An immutable view of one committed manifest. `version` 0 = no state
    * yet (empty handle; every verdict is "novel").
    *
    * `spanKind` is the span tier's LAYOUT flag (round 16), pinned in the
    * manifest header at state creation: `"md5"` (the default — 32-hex
    * chunk hashes, what every oracle-gated state uses) or `"xxh64"`
    * (layout v2: 8-byte BIGINT chunk hashes, 4× smaller `spans/` leaves
    * — ~0.5 B/token instead of ~2, the production representation
    * SCALING.md prices). The kind only changes the HASH and the leaf
    * dtype; the verdict/scrub ALGEBRA is identical, but v2's deciding
    * equality is 64-bit, not 128-bit: two DISTINCT chunks that collide
    * under xxhash64 are falsely marked span-dup and scrubbed. At n
    * distinct chunks the expected collisions are ~n²/2⁶⁵ — negligible
    * at state scale (sf-gate corpora: ~0), but at the multi-trillion-
    * chunk scale SCALING.md prices, tens of thousands of falsely
    * scrubbed 16-token windows are EXPECTED. The span tier is advisory
    * scrubbing (never an admission gate), so the tolerance is a
    * deliberate trade for the 4× smaller leaf — deployments that cannot
    * tolerate it stay on md5. Mixing kinds in one state is structurally
    * impossible (the flag rides the manifest every admit re-commits). */
  final case class Handle(
      dir: String, version: Long, bloomBits: Long, deltas: Seq[DeltaRef],
      spanKind: String = SpanKindMd5) {
    def nDocs: Long = deltas.iterator.map(_.nDocs).sum
    def fingerprints: Set[String] =
      deltas.iterator.flatMap(_.fingerprints).toSet
  }

  val SpanKindMd5 = "md5"
  val SpanKindXxh64 = "xxh64"

  private def payloadOf(bits: Long, spanKind: String): String =
    s"bits=$bits" +
      (if (spanKind != SpanKindMd5) s" span=$spanKind" else "")

  /** The state before any admit: every verdict against it is "novel in
    * state" — what the first drop of a fresh intake sees. */
  def empty: Handle = Handle("", 0L, DefaultBloomBits, Seq.empty)

  /** Load the current committed state (the highest manifest). */
  def load(dir: String): Handle = {
    val st = DeltaManifest.load(dir, Magic, s"bits=$DefaultBloomBits")
    val fields = st.payload.split("\\s+").iterator
      .filter(_.contains("=")).map { t =>
        val Array(k, v) = t.split("=", 2); k -> v
      }.toMap
    Handle(dir, st.version, fields("bits").toLong,
      st.refs.map(r => DeltaRef(r.name, r.ledger, r.n)),
      fields.getOrElse("span", SpanKindMd5))
  }

  /** (doc_id, ci, chunk_hash) per [[SpanTokens]]-aligned chunk of a
    * (doc_id, text, ...) relation — the dedup_span_exact chunk grid
    * (md5 over the space-joined token slice) WITH the chunk index, so
    * [[spanScrub]] can map a hash hit back to token positions. */
  def chunkGrid(docs: DataFrame): DataFrame =
    chunkGridKind(docs, SpanKindMd5)

  /** [[chunkGrid]] with the hash kind of the state it probes: same
    * grid, the chunk hash is md5-hex (string) or xxhash64 (bigint —
    * layout v2's 4×-smaller representation). */
  private def chunkGridKind(docs: DataFrame, kind: String): DataFrame = {
    val hashOf: Column => Column =
      if (kind == SpanKindXxh64) (c: Column) => xxhash64(c)
      else (c: Column) => md5(c)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= SpanTokens)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          expr(s"size(toks) DIV $SpanTokens") - 1)).as("ci"))
      .select(col("doc_id"), col("ci"),
        hashOf(concat_ws(" ",
          slice(col("toks"), col("ci") * SpanTokens + 1, lit(SpanTokens))))
          .as("chunk_hash"))
  }

  /** [[chunkGrid]] without the position — the dedup_span_exact chunk
    * relation, factored here so the batch span family and the state's
    * span tier can never drift on what a span is. Null-text and short
    * docs yield no chunks. */
  def chunksOf(docs: DataFrame): DataFrame =
    chunkGrid(docs).select("doc_id", "chunk_hash")

  private def chunksOfKind(docs: DataFrame, kind: String): DataFrame =
    chunkGridKind(docs, kind).select("doc_id", "chunk_hash")

  /** (doc_id, pos, chunk_hash) per STRIDE-1 [[SpanTokens]]-token window
    * of a (doc_id, text, ...) relation — the dedup_span_overlap window
    * relation (every start position, not just the aligned grid), in the
    * state's hash kind. This is the PROBE side of the phase-independent
    * span tier (round 17): the state persists each admitted document's
    * ALIGNED chunk hashes, and the arriving batch probes ALL of its
    * windows against them — any passage of ≥ 2·[[SpanTokens]]−1 shared
    * tokens fully contains at least one admitted-aligned chunk, so it
    * is caught at ANY relative phase (the aligned-probes-aligned shape
    * this replaces required the passage's offsets mod [[SpanTokens]] to
    * agree in both documents — ~1/[[SpanTokens]] of independently
    * composed copies). The 16× probe-hash volume is absorbed by the
    * broadcast Bloom prefilter; only Bloom-positive windows reach the
    * deciding semi-join. */
  private def windowGridKind(docs: DataFrame, kind: String): DataFrame = {
    val hashOf: Column => Column =
      if (kind == SpanKindXxh64) (c: Column) => xxhash64(c)
      else (c: Column) => md5(c)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= SpanTokens)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          size(col("toks")) - SpanTokens)).as("pos"))
      .select(col("doc_id"), col("pos"),
        hashOf(concat_ws(" ",
          slice(col("toks"), col("pos") + 1, lit(SpanTokens))))
          .as("chunk_hash"))
  }

  /** All admitted rows `(doc_id, content_hash, mins, emb)`. Non-null
    * content hashes are globally distinct by the admitted-only invariant;
    * null-text admitted documents carry null hash/mins (no content ⇒ no
    * exact/lexical evidence), embedding-less documents carry null `emb`
    * (no semantic evidence). Parquet projection means callers touching
    * one column pay for one. */
  def rows(s: SparkSession, h: Handle): DataFrame =
    readLeaf(s, h, "rows", RowsSchema)

  /** All admitted content hashes (one 32-hex-char column). */
  def hashes(s: SparkSession, h: Handle): DataFrame =
    rows(s, h).select("content_hash")

  /** All admitted MinHash signatures `(doc_id, mins)`, null-sig rows
    * dropped. */
  def sigs(s: SparkSession, h: Handle): DataFrame =
    rows(s, h).filter(col("mins").isNotNull).select("doc_id", "mins")

  /** The state's PRE-BANDED lexical evidence `(doc_id, mins, band,
    * bkey)` — per-delta capped band rows, read from each delta's
    * `bands/` leaf. This is what admission joins against: no window, no
    * shuffle of state rows. */
  def bands(s: SparkSession, h: Handle): DataFrame =
    readLeaf(s, h, "bands", BandsSchema)

  /** The semantic twin of [[bands]]: `(doc_id, v, nrm, b, bkey)` from
    * the per-delta `ebands/` leaves. */
  def ebands(s: SparkSession, h: Handle): DataFrame =
    readLeaf(s, h, "ebands", EbandsSchema)

  /** All admitted documents' span chunk hashes (distinct within each
    * delta; a chunk admitted twice across deltas appears twice — only
    * membership matters to the span tier). Dtype follows the handle's
    * `spanKind` (md5 → string, xxh64 → bigint). */
  def spans(s: SparkSession, h: Handle): DataFrame =
    readLeaf(s, h, "spans", spansSchema(h.spanKind))

  private def spansSchema(kind: String): String =
    if (kind == SpanKindXxh64) "chunk_hash bigint" else SpansSchema

  /** The admission AUDIT card across every delta: one row per document
    * ever offered to [[admit]] (admitted and rejected) with its verdict
    * flags — the durable "why did/should this document go" record. */
  def card(s: SparkSession, h: Handle): DataFrame =
    readLeaf(s, h, "card", CardSchema)

  /** `leaf` of every live delta. A missing leaf fails with Spark's
    * path-not-found error on `<delta>/<leaf>`. */
  private def readLeaf(
      s: SparkSession, h: Handle, leaf: String, schema: String): DataFrame = {
    val paths = h.deltas.map(d => s"${h.dir}/${d.name}/$leaf")
    if (paths.isEmpty)
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(schema))
    // explicit schema, not inference: an all-rejected (or empty) batch
    // writes data-less parquet dirs, where inference fails
    else s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(schema))
      .parquet(paths: _*)
  }

  /** A leaf's folded Bloom relation `(word, mask)` — per-delta filters
    * OR-folded; ≤ bits/64 rows, broadcastable. */
  private def foldedBloom(
      s: SparkSession, h: Handle, leaf: String): DataFrame =
    readLeaf(s, h, leaf, "word bigint, mask bigint")
      .groupBy("word").agg(expr("bit_or(mask)").as("mask"))

  /** The two Bloom positions of a span-tier key under the given layout
    * kind: md5 keys slice hex prefixes ([[BloomSketch]]); xxh64 keys
    * mask the low bits directly and remix once (xxhash64 of the long)
    * for the second position — bits is a power of 16, so `& (bits-1)`
    * is the exact modulus and stays non-negative for any sign. */
  private def spanPositions(
      kind: String, key: Column, bits: Long): (Column, Column) =
    if (kind == SpanKindXxh64)
      (key.bitwiseAND(lit(bits - 1)),
        xxhash64(key).bitwiseAND(lit(bits - 1)))
    else (BloomSketch.pos1(key, bits), BloomSketch.pos2(key, bits))

  /** (word, mask) Bloom relation for span keys of either layout kind —
    * [[BloomSketch.maskRelation]] generalized to the v2 bigint keys. */
  private def spanMaskRelation(
      keys: DataFrame, kind: String, bits: Long): DataFrame = {
    val (p1, p2) = spanPositions(kind, col(keys.columns.head), bits)
    keys.select(explode(array(p1, p2)).as("p"))
      .distinct()
      .select(expr("p DIV 64").as("word"),
        expr("shiftleft(1L, CAST(p % 64 AS INT))").as("m"))
      .groupBy("word").agg(expr("bit_or(m)").as("mask"))
  }

  /** Adds `bloom_hit` to `df`: both Bloom positions of `keyCol` (under
    * layout `kind`) set in the folded `bloom` relation (broadcast twice
    * — one lookup per position). Null keys are never hits. */
  private def bloomProbe(
      df: DataFrame, keyCol: String, bloom: DataFrame,
      bits: Long, kind: String = SpanKindMd5): DataFrame = {
    val (p1, p2) = spanPositions(kind, col(keyCol), bits)
    df.withColumn("p1", p1)
      .withColumn("p2", p2)
      .withColumn("w1", expr("p1 DIV 64"))
      .withColumn("w2", expr("p2 DIV 64"))
      .join(broadcast(bloom.select(col("word").as("w1"),
        col("mask").as("mask1"))), Seq("w1"), "left")
      .join(broadcast(bloom.select(col("word").as("w2"),
        col("mask").as("mask2"))), Seq("w2"), "left")
      .withColumn("bloom_hit",
        expr("coalesce(shiftright(mask1, CAST(p1 % 64 AS INT)) & 1, 0L) = 1")
          && expr(
          "coalesce(shiftright(mask2, CAST(p2 % 64 AS INT)) & 1, 0L) = 1"))
      .drop("p1", "p2", "w1", "w2", "mask1", "mask2")
  }

  /** Read-only admission verdicts for a batch `(doc_id, text[, emb])`
    * against the state: one row per batch document with the six dup
    * verdicts and `admitted`. The optional `emb` column (array<double>)
    * switches on the SEMANTIC tier — random-hyperplane-banded cosine
    * near-dup detection vs admitted embeddings ([[RhpLsh]]); without it
    * the sem verdicts are structurally false. Does not touch the state
    * on disk. */
  def verdicts(s: SparkSession, h: Handle, batch: DataFrame): DataFrame =
    verdictsFull(s, h, batch).drop("mins", "emb")

  /** [[verdicts]] plus the evidence columns — what [[admit]] persists. */
  private def verdictsFull(
      s: SparkSession, h: Handle, batch: DataFrame): DataFrame = {
    val embCol =
      if (batch.columns.contains("emb")) col("emb").cast("array<double>")
      else lit(null).cast("array<double>")
    val b = batch
      .select(col("doc_id"), col("text"), embCol.as("emb"))
      .withColumn("content_hash", md5(col("text")))
      .withColumn("mins", when(col("text").isNotNull,
        graft.exprs.functions.minhash12(split(col("text"), "\\s+"))))

    // ---- exact tier -----------------------------------------------------
    // Within-batch: min-id keeper per hash. A null hash (null text) is NO
    // exact-dup evidence — same posture as the lexical/semantic tiers'
    // "no shingles/embedding ⇒ no evidence", and what keeps content-less
    // rows from window-grouping into accidental dups.
    val wh = Window.partitionBy(col("content_hash"))
    val withBatchExact = b.withColumn("exact_dup_batch",
      col("content_hash").isNotNull &&
        col("doc_id") =!= min(col("doc_id")).over(wh))

    // Vs state: Bloom prefilter (broadcast ≤16 K rows), then the deciding
    // semi-join against state hashes for the Bloom-positive residue only.
    val probed =
      bloomProbe(withBatchExact, "content_hash",
        foldedBloom(s, h, "bloom"), h.bloomBits)
    val stateHit = probed.filter(col("bloom_hit"))
      .select("doc_id", "content_hash")
      .join(hashes(s, h), Seq("content_hash"), "left_semi")
      .select(col("doc_id")).withColumn("exact_dup_state", lit(true))

    // ---- near-dup tier --------------------------------------------------
    val batchSigs = b.filter(col("mins").isNotNull).select("doc_id", "mins")
    // Within-batch: verified pair to a smaller batch doc_id.
    val nearBatch = MinHashLsh.pairsFromSigs(batchSigs)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("near_dup_batch", lit(true))
    // Vs state: capped batch bands ⋈ the state's PERSISTED (pre-banded,
    // per-delta-capped) band rows, verified by the signatures riding
    // both sides — no window touches a state row here.
    val sb = MinHashLsh.cappedBandsOf(batchSigs)
    val ss = bands(s, h)
      .select(col("doc_id").as("sid"), col("mins").as("smins"),
        col("band"), col("bkey"))
    val nearState = sb.join(ss, Seq("band", "bkey"))
      .select(col("doc_id"), col("mins"), col("sid"), col("smins")).distinct()
      .filter(MinHashLsh.simEst(col("mins"), col("smins")) >=
        MinHashLsh.VerifyThreshold)
      .select(col("doc_id")).distinct()
      .withColumn("near_dup_state", lit(true))

    // ---- semantic tier ([[RhpLsh]]) ---------------------------------------
    // Built only when the batch CAN carry embeddings — an emb-less batch
    // (the common text intake) gets literal-false columns and none of
    // the sub-DAG's joins in its plan.
    val withSem: DataFrame => DataFrame =
      if (!batch.columns.contains("emb")) { flags =>
        flags.withColumn("sem_dup_state", lit(false))
          .withColumn("sem_dup_batch", lit(false))
      } else { flags =>
        val batchEmb = b.filter(col("emb").isNotNull)
          .select(col("doc_id"), col("emb").as("v"))
        val semBatch = RhpLsh.pairsOf(batchEmb)
          .select(col("doc_b").as("doc_id")).distinct()
          .withColumn("sem_dup_batch", lit(true))
        val eb = RhpLsh.cappedBandsOf(RhpLsh.withSig(batchEmb))
        val es = ebands(s, h)
          .select(col("doc_id").as("sid"), col("v").as("sv"),
            col("nrm").as("snrm"), col("b"), col("bkey"))
        val semState = eb.join(es, Seq("b", "bkey"))
          .select(col("doc_id"), col("v"), col("nrm"),
            col("sid"), col("sv"), col("snrm")).distinct()
          .filter(RhpLsh.cosinePre(col("v"), col("sv"),
            col("nrm"), col("snrm")) >= RhpLsh.VerifyCosine)
          .select(col("doc_id")).distinct()
          .withColumn("sem_dup_state", lit(true))
        flags.join(semState, Seq("doc_id"), "left")
          .join(semBatch, Seq("doc_id"), "left")
          .withColumn("sem_dup_state",
            coalesce(col("sem_dup_state"), lit(false)))
          .withColumn("sem_dup_batch",
            coalesce(col("sem_dup_batch"), lit(false)))
      }

    withSem(probed.drop("bloom_hit")
        .join(stateHit, Seq("doc_id"), "left")
        .join(nearState, Seq("doc_id"), "left")
        .join(nearBatch, Seq("doc_id"), "left"))
      .withColumn("exact_dup_state",
        coalesce(col("exact_dup_state"), lit(false)))
      .withColumn("near_dup_state",
        coalesce(col("near_dup_state"), lit(false)))
      .withColumn("near_dup_batch",
        coalesce(col("near_dup_batch"), lit(false)))
      .withColumn("admitted",
        !col("exact_dup_state") && !col("exact_dup_batch") &&
          !col("near_dup_state") && !col("near_dup_batch") &&
          !col("sem_dup_state") && !col("sem_dup_batch"))
      .select(col("doc_id"), col("content_hash"), col("mins"), col("emb"),
        col("exact_dup_state"), col("exact_dup_batch"),
        col("near_dup_state"), col("near_dup_batch"),
        col("sem_dup_state"), col("sem_dup_batch"), col("admitted"))
  }

  /** The ADVISORY span-tier verdict card for a batch `(doc_id, text,
    * ...)` against the state: one row per batch document —
    * `(doc_id, n_chunks, n_state_dup_chunks, n_batch_dup_chunks,
    * span_dup_state, span_dup_batch)` where
    *
    *  - `n_chunks` counts the doc's [[SpanTokens]]-chunk occurrences
    *    on its own ALIGNED grid (0 for null/short texts — no content,
    *    no evidence);
    *  - `n_state_dup_chunks` counts its DISTINCT STRIDE-1 window hashes
    *    already admitted in any delta (cross-drop repeated spans — the
    *    Lee et al. 2022 ExactSubstr signal made incremental, and PHASE-
    *    INDEPENDENT since round 17: the probe runs over every window
    *    start of the arriving doc against the state's aligned grid, so
    *    a shared passage of ≥ 2·[[SpanTokens]]−1 tokens is caught at
    *    any relative offset — the aligned-probes-aligned shape it
    *    replaces missed ~15/16 of randomly-phased copies. A doc can
    *    therefore have n_state_dup_chunks > n_chunks: it has
    *    len−[[SpanTokens]]+1 windows, not len/[[SpanTokens]] chunks);
    *  - `n_batch_dup_chunks` counts its distinct ALIGNED chunk hashes
    *    occurring more than once across THIS batch (including within
    *    one doc — the dedup_span_exact "more than once" criterion,
    *    unchanged: within one batch both sides are visible, so the
    *    aligned grid is the right volume/semantics trade);
    *  - the booleans are the nonzero tests.
    *
    * Advisory by design: a flagged doc is a span-SCRUB candidate, never
    * an admission reject (see class doc). Scale shape: batch windows
    * are Bloom-prefiltered against the folded per-delta span Blooms
    * (broadcast), and only positive windows reach the deciding
    * semi-join against state chunk hashes — FPs enlarge the candidate
    * set, never a verdict; the within-batch count is one chunk-hash
    * window over the batch's own aligned chunks. The stride-1 probe
    * hashes ~[[SpanTokens]]× more windows than the aligned grid — all
    * map-side compute against a broadcast relation; nothing extra
    * shuffles (SCALING.md prices it). */
  def spanVerdicts(s: SparkSession, h: Handle, batch: DataFrame): DataFrame = {
    val ids = batch.select(col("doc_id"))
    val ch = chunksOfKind(batch.select(col("doc_id"), col("text")),
      h.spanKind)
    // within-batch occurrence counts (the dedup_span_exact criterion)
    val wch = Window.partitionBy(col("chunk_hash"))
    val perDoc = ch.withColumn("occ", count(lit(1)).over(wch))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        count_distinct(when(col("occ") > 1, col("chunk_hash")))
          .as("n_batch_dup_chunks"))
    // vs state: STRIDE-1 windows, Bloom prefilter, then the deciding
    // exact semi-join against the admitted aligned grid. An EMPTY state
    // (no deltas — a first drop) holds no spans, so the probe is
    // structurally empty: short-circuit it instead of hashing every
    // stride-1 window of the batch against a zero Bloom (round 17 — the
    // drop ledger reports drop 1 against the empty pre-drop state, and
    // paid the full window-hash pass for a pinned-zero column).
    val stateDup =
      if (h.deltas.isEmpty)
        ids.limit(0).select(col("doc_id"),
          lit(0L).as("n_state_dup_chunks"))
      else {
        val probed = bloomProbe(
          windowGridKind(batch.select(col("doc_id"), col("text")),
            h.spanKind)
            .select("doc_id", "chunk_hash"),
          "chunk_hash", foldedBloom(s, h, "spanbloom"), h.bloomBits,
          h.spanKind)
        probed.filter(col("bloom_hit"))
          .select("doc_id", "chunk_hash").distinct()
          .join(spans(s, h), Seq("chunk_hash"), "left_semi")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_state_dup_chunks"))
      }
    ids
      .join(perDoc, Seq("doc_id"), "left")
      .join(stateDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_state_dup_chunks"), lit(0L))
          .as("n_state_dup_chunks"),
        coalesce(col("n_batch_dup_chunks"), lit(0L))
          .as("n_batch_dup_chunks"))
      .withColumn("span_dup_state", col("n_state_dup_chunks") > 0)
      .withColumn("span_dup_batch", col("n_batch_dup_chunks") > 0)
  }

  /** The span tier's TREAT path — [[spanVerdicts]] flags, this CUTS:
    * every [[SpanTokens]]-token STRIDE-1 window of the batch whose hash
    * is already admitted in any delta is removed (all its token
    * positions), the remaining tokens re-joined in order — the
    * ExactSubstr scrub (Lee et al. 2022's remove-the-repeat treatment,
    * pipeline_span_scrub made CROSS-DROP: the "first occurrence keeps
    * its text" is the admitted corpus by construction, so arriving text
    * only ever loses passages the corpus already has). PHASE-INDEPENDENT
    * since round 17: the probe runs over every window start against the
    * state's aligned grid, so a duplicated passage shifted off the
    * [[SpanTokens]] grid is cut too (it previously survived ~15/16 of
    * the time); a hit at window start p cuts tokens p..p+[[SpanTokens]]−1,
    * overlapping hits union through the coverage distinct. Coverage is
    * a SUPERSET of the aligned probe's (every old hit is the window at
    * its chunk's start): for ordinary phase-aligned copies the covered
    * set coincides; self-repetitive text can additionally cover the
    * sub-chunk tail the aligned grid left behind — strictly more of the
    * repeated passage cut, never less.
    * One row per non-null-text batch document:
    * `(doc_id, n_tokens, n_kept, n_removed, scrubbed_text)`
    * (whitespace normalized by the re-join, the batch operator's
    * documented contract). Scale shape: the window grid is linear
    * (~[[SpanTokens]]× the aligned hash volume, map-side against the
    * broadcast Bloom), hits are Bloom-prefiltered before the deciding
    * semi-join, the coverage explode runs over HIT windows only
    * (dup-rate-bounded), and the ordered rebuild is per-document
    * (collect_list + array_sort inside one reduce group), never a
    * global sort. */
  def spanScrub(s: SparkSession, h: Handle, batch: DataFrame): DataFrame = {
    val d = batch.select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull)
    val probed = bloomProbe(windowGridKind(d, h.spanKind), "chunk_hash",
      foldedBloom(s, h, "spanbloom"), h.bloomBits, h.spanKind)
    val hits = probed.filter(col("bloom_hit"))
      .select("doc_id", "pos", "chunk_hash")
      .join(spans(s, h), Seq("chunk_hash"), "left_semi")
    val covered = hits.select(col("doc_id"),
      explode(sequence(col("pos"),
        col("pos") + (SpanTokens - 1))).as("pos"))
      .distinct()
    val t = d.select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
    val tokens = t.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("pos", "tok")))
    val kept = tokens.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(pos, tok))), x -> x.tok), ' ')").as("scrubbed_text"))
    t.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("scrubbed_text"), lit("")).as("scrubbed_text"))
  }

  /** Admit a batch: compute verdicts against the current state, persist
    * the admitted documents' evidence (rows, Bloom, pre-capped band rows,
    * span chunks) plus the full-batch audit card as a new delta, and
    * commit the next manifest. Returns the post-admit handle.
    * Re-admitting a fingerprint already in the manifest is a no-op
    * returning the current handle (idempotent replay). */
  def admit(
      s: SparkSession, dir: String, batch: DataFrame,
      fingerprint: String, spanKind: String = ""): Handle = synchronized {
    DeltaManifest.requireCleanId(fingerprint)
    val h0 = load(dir)
    // the span layout is pinned at state CREATION: a fresh state takes
    // the requested kind (default md5); an existing state keeps its own,
    // and asking for a different one fails loudly instead of mixing
    val kind =
      if (h0.version == 0L)
        (if (spanKind.isEmpty) SpanKindMd5 else spanKind)
      else h0.spanKind
    require(spanKind.isEmpty || kind == spanKind,
      s"state at $dir uses span layout '${h0.spanKind}', caller asked " +
        s"for '$spanKind' — refusing to mix")
    require(kind == SpanKindMd5 || kind == SpanKindXxh64,
      s"unknown span layout kind '$kind'")
    val h = h0.copy(spanKind = kind)
    if (h.fingerprints.contains(fingerprint)) return h

    val staging = DeltaManifest.stagingPath(dir)
    val st = staging.toString
    // ONE computation of the verdict DAG materializes the full card
    // (evidence + flags, admitted AND rejected); every delta artifact —
    // rows, Bloom, bands, spans, audit card, the row count — derives
    // from STAGED parquet, so no two artifacts can ever disagree.
    verdictsFull(s, h, batch).write.parquet(s"$st/vf")
    // explicit schemas on every staged read-back: an all-rejected (or
    // empty) batch writes data-less parquet dirs, where inference fails
    val vf = s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
      s"$RowsSchema, $FlagsSchema")).parquet(s"$st/vf")
    vf.filter(col("admitted"))
      .select("doc_id", "content_hash", "mins", "emb")
      .write.parquet(s"$st/rows")
    val staged = s.read.schema(org.apache.spark.sql.types.StructType
      .fromDDL(RowsSchema)).parquet(s"$st/rows")
    BloomSketch.maskRelation(
      staged.filter(col("content_hash").isNotNull).select("content_hash"),
      wordBits = 64, bits = h.bloomBits)
      .write.parquet(s"$st/bloom")
    // pre-banded evidence, capped WITHIN this delta (write-once — later
    // verdicts read it instead of re-windowing state band rows)
    MinHashLsh.cappedBandsOf(
      staged.filter(col("mins").isNotNull).select("doc_id", "mins"))
      .write.parquet(s"$st/bands")
    RhpLsh.cappedBandsOf(RhpLsh.withSig(
      staged.filter(col("emb").isNotNull)
        .select(col("doc_id"), col("emb").as("v"))))
      .select("doc_id", "v", "nrm", "b", "bkey")
      .write.parquet(s"$st/ebands")
    // span evidence needs the batch TEXT (never persisted in rows/):
    // derived here once, for admitted docs only, in the state's layout
    val spanHashes = chunksOfKind(
      batch.select(col("doc_id"), col("text"))
        .join(staged.select("doc_id"), Seq("doc_id"), "left_semi"), kind)
      .select("chunk_hash").distinct()
    spanHashes.write.parquet(s"$st/spans")
    spanMaskRelation(
      s.read.schema(org.apache.spark.sql.types.StructType
        .fromDDL(spansSchema(kind))).parquet(s"$st/spans"),
      kind, h.bloomBits)
      .write.parquet(s"$st/spanbloom")
    // the durable admission audit card (flags only; evidence is rows/)
    vf.select("doc_id", "exact_dup_state", "exact_dup_batch",
      "near_dup_state", "near_dup_batch", "sem_dup_state",
      "sem_dup_batch", "admitted")
      .write.parquet(s"$st/card")
    val n = staged.count()
    // the staged full card was scratch (its flag projection lives on as
    // card/; its evidence as rows/) — not a delta artifact
    graft.storage.ParquetLogBackend.deleteRecursively(staging.resolve("vf"))

    val deltaName = DeltaManifest.promote(staging)
    DeltaManifest.commit(dir, Magic, payloadOf(h.bloomBits, kind),
      h.version + 1,
      (h.deltas :+ DeltaRef(deltaName, fingerprint, n))
        .map(d => DeltaManifest.Ref(d.name, d.ledger, d.nDocs)))
    load(dir)
  }

  /** Fold every live delta's artifacts into one and commit a manifest
    * referencing only it. Rows concatenate (with a re-derived Bloom at
    * the manifest's capacity); band rows, span hashes, and audit cards
    * concatenate VERBATIM — no re-cap, no re-derivation — so a verdict
    * against the compacted state is bit-identical to one against the
    * uncompacted state. Content-preserving by construction; old deltas
    * stay on disk until [[gc]]. The fingerprint LEDGER survives — the
    * compacted ref carries every ancestor fingerprint joined with
    * [[DeltaManifest.FpSep]], so idempotent replay keeps recognizing
    * every admitted batch. */
  def compact(s: SparkSession, dir: String): Handle = synchronized {
    val h = load(dir)
    if (h.deltas.size <= 1) return h
    val staging = DeltaManifest.stagingPath(dir)
    val st = staging.toString
    rows(s, h).write.parquet(s"$st/rows")
    BloomSketch.maskRelation(
      s.read.schema(org.apache.spark.sql.types.StructType
        .fromDDL(RowsSchema)).parquet(s"$st/rows")
        .filter(col("content_hash").isNotNull).select("content_hash"),
      wordBits = 64, bits = h.bloomBits)
      .write.parquet(s"$st/bloom")
    bands(s, h).write.parquet(s"$st/bands")
    ebands(s, h).write.parquet(s"$st/ebands")
    spans(s, h).write.parquet(s"$st/spans")
    spanMaskRelation(
      s.read.schema(org.apache.spark.sql.types.StructType
        .fromDDL(spansSchema(h.spanKind))).parquet(s"$st/spans"),
      h.spanKind, h.bloomBits)
      .write.parquet(s"$st/spanbloom")
    card(s, h).write.parquet(s"$st/card")
    val deltaName = DeltaManifest.promote(staging)
    val mergedLedger =
      h.deltas.map(_.ledger).mkString(DeltaManifest.FpSep.toString)
    DeltaManifest.commit(dir, Magic, payloadOf(h.bloomBits, h.spanKind),
      h.version + 1,
      Seq(DeltaManifest.Ref(deltaName, mergedLedger, h.nDocs)))
    load(dir)
  }

  /** Delete unreferenced directories under the state root: staging
    * leftovers and deltas no manifest-current reference holds (compacted-
    * away or crash orphans). Returns how many were removed. Single-writer
    * contract — never run concurrently with an in-flight [[admit]]. */
  def gc(dir: String): Int = synchronized {
    DeltaManifest.gc(dir, Magic, s"bits=$DefaultBloomBits")
  }

  /** Typed state-health verdict (round 16) — the
    * [[IvfIndex.DriftReport]] "when to maintain" pattern applied to
    * delta accumulation, so compaction cadence stops being a
    * caller-guessed constant:
    *
    *  - `nDeltas` drives the per-verdict costs that scale with LIVE
    *    deltas, not content: the near/semantic tiers' state-side band
    *    fanout bound is [[MinHashLsh.MaxBandBucket]] × bands × deltas
    *    (each delta caps its own band buckets), and the exact/span
    *    tiers fold one Bloom relation per delta. [[compact]] restores
    *    this dimension to 1 without changing any verdict.
    *  - `bloomFill` is the folded exact-tier Bloom's set-bit fraction —
    *    CONTENT-driven (compaction ORs the same masks), so a saturated
    *    Bloom is not a compaction signal but a capacity one: the
    *    prefilter's FP rate ≈ fill², and past ~50% the residue
    *    semi-join sees most of the batch. Remediation is re-admitting
    *    into a state with larger `bits` — surfaced here so the operator
    *    sees it BEFORE the probe degrades to a no-op.
    *
    * `compactRecommended` trips on the delta dimension alone;
    * `bloomSaturated` reports the capacity dimension. Wire
    * [[graft.streaming.IndexMaintainer.maintainDedupState]]'s
    * `compactEvery` so the steady state stays below `maxDeltas`. */
  final case class HealthReport(
      nDeltas: Int,
      nDocs: Long,
      bloomFill: Double,
      bandFanoutBound: Long,
      compactRecommended: Boolean,
      bloomSaturated: Boolean)

  def health(
      s: SparkSession, h: Handle,
      maxDeltas: Int = 16, maxBloomFill: Double = 0.5): HealthReport = {
    val setBits = foldedBloom(s, h, "bloom")
      .agg(coalesce(sum(expr("bit_count(mask)")), lit(0L)))
      .head().getLong(0)
    val fill =
      if (h.bloomBits <= 0) 0.0 else setBits.toDouble / h.bloomBits
    HealthReport(
      nDeltas = h.deltas.size,
      nDocs = h.nDocs,
      bloomFill = fill,
      bandFanoutBound =
        MinHashLsh.MaxBandBucket.toLong * MinHashLsh.NumBands *
          h.deltas.size,
      compactRecommended = h.deltas.size > maxDeltas,
      bloomSaturated = fill > maxBloomFill)
  }
}
