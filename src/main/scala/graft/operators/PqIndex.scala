package graft.operators

import graft.queries.Similarity
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** IVF-PQ: the memory-bounded ANN rung above [[IvfIndex]] — vectors are
  * stored as `m` one-byte codebook codes (8 B/vector at m=8) instead of
  * raw floats, so the probed inverted lists of a 100 TB embedding corpus
  * fit in executor memory (the whole point of product quantization:
  * 2.5 TB of raw 64-dim vectors compress to ~80 GB of codes + norms).
  *
  * Structure:
  *  - coarse quantizer: the existing [[IvfIndex]] (k-means cells, probed
  *    lists, partition-pruned persistence) — reused, not reimplemented;
  *  - product quantizer: the RESIDUAL r = v − c_cell is split into `m`
  *    sub-vectors of dim/m dims; each sub-space gets its own k-means
  *    codebook of `kCodes` centroids fit on the SAME bounded-sample
  *    contract as the coarse quantizer (the fit sees ≤trainTarget rows
  *    however large the table). Residual — not raw — quantization is
  *    what makes 8 bytes enough: the cell id already encodes the coarse
  *    component, so the codebooks spend their entropy on the part the
  *    cell doesn't know;
  *  - ADC probe (asymmetric distance computation): per query, a tiny
  *    m × kCodes lookup table of sub-dot-products is computed driver-side
  *    and broadcast; a candidate's approximate dot product is the
  *    per-cell constant dot(q, c_cell) plus m array lookups over its
  *    codes — no float vector is read at probe time. Cosine comes from
  *    the stored norm (computed at build, like IvfIndex):
  *    adc_cosine = (dot(q, c_cell) + Σ_m lut[m][code_m]) / (|q| · |x|).
  *
  * Encode scale shape: one fused codegen pass per vector
  * ([[graft.exprs.PqEncode]]) — the m × kCodes argmin runs as a native
  * loop against a per-executor codebook reference object, so encoding
  * adds ZERO rows and ZERO exchanges to the corpus scan (the join
  * formulation would amplify the corpus kCodes× through the shuffle).
  * The probe side's lookup sum is the same shape
  * ([[graft.exprs.AdcDot]]): m array reads per candidate inside
  * whole-stage codegen. */
final class PqIndex private[operators] (
    val coarse: IvfIndex,
    val codebooks: Array[Array[Array[Double]]], // m × kCodes × (dim/m)
    val codes: DataFrame, // (vec_id, cell, nrm, codes array<int>)
    // The OPQ frame the index was ENCODED under (row-major dim×dim, None
    // = identity/plain PQ). Persisted INSIDE the index dir and applied to
    // every incoming query/upsert at the boundary, so a rotated index is
    // servable by a new process with no refit and can never be probed in
    // the wrong frame — see [[OpqModel]] for why the in-process memo was
    // not enough.
    val rotation: Option[Array[Double]] = None) {

  def m: Int = codebooks.length
  def kCodes: Int = codebooks.head.length
  def dim: Int = m * codebooks.head.head.length

  /** The index's scoring state packed for the per-row streaming probe
    * expressions ([[graft.exprs.IvfNearestCells]] /
    * [[graft.exprs.PqAdcCosine]]) — centroids + flattened codebooks as
    * one serializable reference object. */
  def scoreTable: graft.exprs.PqScoreTable =
    new graft.exprs.PqScoreTable(
      coarse.centroids, PqIndex.flatten(codebooks), m, kCodes)

  /** Persist: coarse index (centroids + cell-partitioned lists via
    * [[IvfIndex]]'s core write) + `dir/pq_codebooks` + `dir/pq_codes`
    * (cell-partitioned like the lists, so a probe's code scan is
    * partition-pruned to the probed cells) + `dir/rotation` when the
    * index is OPQ-rotated (the encoding frame travels WITH the codes it
    * encoded). Finishes by snapshotting the drift BASELINE
    * ([[IvfIndex.snapshotDriftBaseline]]) — computed after the code tier
    * exists so the baseline carries the build-time ADC self-gap too. */
  def save(dir: String): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    coarse.writeCore(dir)
    codes.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/pq_codes")
    codebooks.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (c, code) => (sub, code, c.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/pq_codebooks")
    rotation.foreach(r => OpqModel.writeMatrix(spark, r, s"$dir/rotation"))
    IvfIndex.snapshotDriftBaseline(spark, dir)
  }
}

object PqIndex {

  /** Codebooks flattened to the (sub*k + code)*dsub offset convention the
    * PqEncode/PqScore kernels index — the ONE place the layout lives. */
  private[operators] def flatten(
      codebooks: Array[Array[Array[Double]]]): Array[Double] = {
    val m = codebooks.length
    val k = codebooks.head.length
    val dsub = codebooks.head.head.length
    val out = new Array[Double](m * k * dsub)
    var i = 0
    for (cb <- codebooks; c <- cb; x <- c) { out(i) = x; i += 1 }
    out
  }

  /** Deterministic Lloyd's k-means over an in-memory sample: init = k
    * evenly-spaced points of the (already vec_id-sorted) sample, maxIter
    * assignment/update rounds, empty clusters keep their previous center.
    * Distinct-point shortfall degrades k gracefully (duplicate centers
    * can never win an argmin tie against their first copy — assignment
    * takes the lowest index, matching the encode tie-break). */
  private[graft] def fitLloyd(
      pts: Array[Array[Double]], k: Int, maxIter: Int): Array[Array[Double]] = {
    val d = pts.head.length
    val kk = math.min(k, pts.length)
    val centers = Array.tabulate(kk)(j => pts(j * pts.length / kk).clone())
    val assign = new Array[Int](pts.length)
    var iter = 0
    while (iter < maxIter) {
      var i = 0
      while (i < pts.length) {
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < kk) {
          var s = 0.0; var t = 0
          while (t < d) {
            val diff = pts(i)(t) - centers(j)(t); s += diff * diff; t += 1
          }
          if (s < bestD) { bestD = s; best = j }
          j += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.ofDim[Double](kk, d)
      val cnts = new Array[Int](kk)
      i = 0
      while (i < pts.length) {
        val a = assign(i); cnts(a) += 1
        var t = 0
        while (t < d) { sums(a)(t) += pts(i)(t); t += 1 }
        i += 1
      }
      var j = 0
      while (j < kk) {
        if (cnts(j) > 0) {
          var t = 0
          while (t < d) { centers(j)(t) = sums(j)(t) / cnts(j); t += 1 }
        }
        j += 1
      }
      iter += 1
    }
    centers
  }

  /** Fit coarse + product quantizers and encode every vector.
    * `emb` must carry (`vec_id`, `v: array<double>`).
    *
    * `rotation` (flat row-major d×d, e.g. [[OpqRotation.fit]]'s output)
    * builds the index over the ROTATED corpus — one codegen'd
    * [[graft.exprs.MatVec]] pass folded into the scan — and pins the
    * frame inside the index ([[PqIndex.rotation]]), so save/load/probe/
    * upsert all stay frame-consistent with zero caller bookkeeping. */
  def build(
      emb: DataFrame,
      m: Int = 8,
      kCodes: Int = 16,
      coarseK: Int = 8,
      maxIter: Int = 5,
      trainTarget: Int = 4096,
      seed: Long = 42L,
      rotation: Option[Array[Double]] = None): PqIndex = {
    val emb0 = rotation.map { r =>
      val d = math.sqrt(r.length.toDouble).toInt
      emb.select(col("vec_id"),
        graft.exprs.functions.mat_vec(col("v"), r, d, d).as("v"))
    }.getOrElse(emb)
    val spark = emb0.sparkSession
    import spark.implicits._
    val coarse = IvfIndex.build(emb0, coarseK, maxIter, trainTarget, seed)
    val dim = emb0.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m

    // One bounded sample drives all m sub-space fits (same contract as the
    // coarse quantizer: a codebook needs a representative subset, never
    // the table). The sample is COLLECTED — ≤ trainTarget × dim doubles
    // (2 MB at the defaults), the same bounded-collect contract as the
    // centroid reads — and the m Lloyd fits run driver-side: m × kCodes
    // tiny k-means problems are pure arithmetic (≈10^8 flops at
    // m=8, k=256), and running them as Spark jobs would pay m × maxIter
    // stage launches to move megabytes. Deterministic: sample rows sorted
    // by vec_id, evenly-spaced init over the sorted sample.
    // RESIDUAL quantization (the IVF-PQ standard, Jégou et al. 2011): the
    // product quantizer encodes r = v − c_cell, not v. Raw-vector PQ
    // wastes codebook entropy re-describing the coarse component the cell
    // id already carries; residuals are centered around 0, so the same
    // kCodes buys several times less distortion — measured here as ADC
    // recall@5 0.64 → 0.96 at exhaustive probes on the test corpus.
    val centDf = coarse.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "cvec")
    val resid = coarse.assignments
      .join(broadcast(centDf), "cell")
      .withColumn("r", zip_with(col("v"), col("cvec"), (a, b) => a - b))
      .select(col("vec_id"), col("cell"), col("nrm"), col("r"))

    val n = emb0.count()
    val sample =
      if (n <= trainTarget) resid
      else resid.sample(withReplacement = false, trainTarget.toDouble / n, seed)
    val rows = sample.select(col("vec_id"), col("r")).collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    val codebooks: Array[Array[Array[Double]]] =
      (0 until m).map { sub =>
        fitLloyd(rows.map(v =>
          java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub)),
          kCodes, maxIter)
      }.toArray

    // encode: ONE fused codegen pass per vector ([[graft.exprs.PqEncode]]
    // — per-sub argmin over the codebook reference object, ties to the
    // lowest code, the same left-fold distance arithmetic the
    // emb_pq_codes oracle pins). The join formulation this replaces
    // amplified the corpus k× (a candidate row per codebook entry) through
    // interpreted zip_with/aggregate HOFs — measured 9.2 s → 2.2 s on the
    // sf0.1 bench, and the k× exchange is gone entirely at scale.
    val kk = codebooks.head.length
    val codes = resid.select(col("vec_id"), col("cell"), col("nrm"),
      graft.exprs.functions.pq_encode(col("r"), flatten(codebooks), m, kk)
        .as("codes"))
    new PqIndex(coarse, codebooks, codes, rotation)
  }

  /** INCREMENTAL maintenance for the PQ tier: the [[IvfIndex.appendVectors]]
    * contract extended to codes — new vectors are assigned to their
    * existing cell, residual-encoded with the EXISTING codebooks (the
    * fused [[graft.exprs.PqEncode]] pass), and appended to BOTH
    * `pq_codes` and the coarse cells (the rerank path reads raw vectors
    * from there). Codebooks and centroids never change; drift is healed
    * by periodic re-build, exactly as on the coarse tier.
    *
    * @return the number of vectors appended */
  def appendVectors(spark: SparkSession, dir: String, emb: DataFrame): Long =
    IvfIndex.synchronized {
      // maintenance entry: heal torn swaps under the maintenance lock
      IvfIndex.recoverSwaps(dir)
      val idx = load(spark, dir)
      import spark.implicits._
      // rotate incoming RAW vectors into the index's frame first — an
      // OPQ index stores rotated vectors and residual codes, so an
      // unrotated upsert would silently land in the wrong frame
      val embF = idx.rotation.map(r => emb.select(col("vec_id"),
        graft.exprs.functions.mat_vec(col("v"), r, idx.dim, idx.dim)
          .as("v"))).getOrElse(emb)
      // pinned: the same rows must feed count, codes, AND cells even when
      // `emb` is non-deterministic — three actions over an unpinned plan
      // could write codes and raw vectors for DIFFERENT row sets
      val assigned = IvfIndex.assignTo(idx.coarse.centroids, embF).persist()
      try {
        val n = assigned.count()
        val centDf = idx.coarse.centroids.zipWithIndex
          .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "cvec")
        val codes = assigned
          .join(broadcast(centDf), "cell")
          .withColumn("r", zip_with(col("v"), col("cvec"), (a, b) => a - b))
          .select(col("vec_id"), col("cell"), col("nrm"),
            graft.exprs.functions.pq_encode(
              col("r"), flatten(idx.codebooks), idx.m, idx.kCodes)
              .as("codes"))
        // cells FIRST: an extra raw row is never probed (codes drive the
        // shortlist), but a code without its raw row would silently drop
        // from the rerank join — so a crash between the writes must only
        // ever leave the harmless direction
        assigned.write.mode("append").partitionBy("cell")
          .parquet(s"$dir/cells")
        codes.write.mode("append").partitionBy("cell")
          .parquet(s"$dir/pq_codes")
        n
      } finally assigned.unpersist()
    }

  /** [[IvfIndex.removeVectors]] under its PQ name — the implementation
    * is already PQ-aware (codes and raw cells drop together in one
    * staged generation); this alias keeps the two index tiers' public
    * maintenance surfaces symmetric (append / compact / remove /
    * rebuild). */
  def removeVectors(spark: SparkSession, dir: String, ids: Seq[Long]): Long =
    IvfIndex.removeVectors(spark, dir, ids)

  /** [[IvfIndex.rebuild]] under its PQ name — the implementation is
    * PQ-aware (codebooks refit on the new residuals and every code
    * re-encodes inside the same staged generation). */
  def rebuild(
      spark: SparkSession, dir: String,
      k: Int = 0, maxIter: Int = 5,
      trainTarget: Int = 4096): IvfIndex.DriftReport =
    IvfIndex.rebuild(spark, dir, k, maxIter, trainTarget)

  /** [[IvfIndex.compact]] extended to the PQ tier: both the raw cells
    * (rerank path) and the code lists rewrite to ~one file per cell. */
  def compact(spark: SparkSession, dir: String): Unit =
    IvfIndex.synchronized {
      IvfIndex.compact(spark, dir)
      IvfIndex.compactRelation(spark,
        java.nio.file.Paths.get(dir, "pq_codes"))
    }

  /** Load for READING — like [[IvfIndex.load]], deliberately does NOT run
    * [[IvfIndex.recoverSwaps]] (readers must not mutate swap state while a
    * compact's rename pair may be in flight); falls back to the `.old`
    * pre-swap dir read-only. Recovery runs only from the synchronized
    * maintenance entry points. */
  def load(spark: SparkSession, dir: String): PqIndex = {
    val coarse = IvfIndex.load(spark, dir)
    // same whole-dir `.old` fallback as the coarse load: a reader inside
    // a torn GENERATION swap must see one consistent generation for
    // centroids, cells, codebooks, codes, AND rotation together
    val base = IvfIndex.rootBase(dir)
    val cb = spark.read.parquet(s"$base/pq_codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val codebooks = cb.groupBy(_._1).toSeq.sortBy(_._1).map(_._2
      .sortBy(_._2).map(_._3)).toArray
    new PqIndex(coarse, codebooks,
      IvfIndex.readMaybeOld(spark, java.nio.file.Paths.get(base, "pq_codes")),
      IvfIndex.loadRotation(spark, base))
  }

  /** Executor-side BATCH ADC probe: every row of `queries` scored against
    * the index with NO driver-side materialization — `queries` may be
    * CORPUS-scale (the adcProbe serving path collects queries to build
    * per-query LUTs, which caps it at driver memory; this path is what a
    * corpus-vs-corpus pass like dedup_semantic_pq needs).
    *
    * Shape — the streaming probe's per-row expressions, batch-planned:
    *  - nProbe nearest cells per query from ONE fused pass over the
    *    centroid reference object ([[graft.exprs.IvfNearestCells]]), then
    *    explode to (query, cell) rows;
    *  - a hash join on `cell` against the CODES relation (8 B/vector) —
    *    candidate volume is Σ_cells |queries probing c| × |list c|, the
    *    IVF probe cost; at corpus scale the coarse k must grow ~√n (the
    *    standard IVF sizing) or the few-distinct-values join key skews —
    *    AQE's skew split handles the residual imbalance;
    *  - residual ADC cosine per candidate in one codegen pass
    *    ([[graft.exprs.PqAdcCosine]] — fold orders identical to the LUT
    *    path, so batch, serving, and streaming scores are bit-identical);
    *  - per-query top-k by window (score desc, n_id asc — the adcProbe
    *    rank order); `rerank > 0` re-ranks the ADC shortlist by exact
    *    cosine from the raw cell lists, exactly like adcProbe.
    *
    * AnnPqSpec pins probeAll ≡ adcProbe on the same queries, and the
    * plan-shape spec pins the no-driver-LUT property (no LocalTableScan
    * against a loaded index). */
  def probeAll(
      idx: PqIndex,
      queriesRaw: DataFrame,
      nProbe: Int,
      topK: Int,
      rerank: Int = 0): DataFrame = {
    // queries arrive in the RAW frame; an OPQ index rotates them here
    // (one codegen'd pass), so callers never track the encoding frame
    val queries = idx.rotation.map(r => queriesRaw.select(col("q_id"),
      graft.exprs.functions.mat_vec(col("qv"), r, idx.dim, idx.dim)
        .as("qv"))).getOrElse(queriesRaw)
    val t = idx.scoreTable
    val probes = queries.select(col("q_id"), col("qv"))
      .withColumn("cell",
        explode(graft.exprs.functions.ivf_nearest_cells(col("qv"), t, nProbe)))
    val cand = idx.codes.select(col("vec_id").as("n_id"), col("cell"),
      col("nrm"), col("codes"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_cosine").desc, col("n_id"))
    val adcRanked = probes.join(cand, Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("adc_cosine", graft.exprs.functions.pq_adc_cosine(
        col("qv"), col("cell"), col("codes"), col("nrm"), t))
      .withColumn("rank", row_number().over(w))
    if (rerank <= 0)
      adcRanked.filter(col("rank") <= topK)
        .select("q_id", "n_id", "rank", "adc_cosine")
    else {
      val shortlist = adcRanked.filter(col("rank") <= rerank)
        .select("q_id", "n_id")
      val qv = queries.select(col("q_id"), col("qv"))
        .withColumn("qnrm", Similarity.norm(col("qv")))
      val wx = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("n_id"))
      idx.coarse.assignments
        .select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm"))
        .join(shortlist, Seq("n_id"))
        .join(qv, Seq("q_id"))
        .withColumn("cosine",
          Similarity.cosinePre(col("qv"), col("nv"), col("qnrm"), col("nrm")))
        .withColumn("rank", row_number().over(wx))
        .filter(col("rank") <= topK)
        .select("q_id", "n_id", "rank", "cosine")
    }
  }

  /** ADC top-`topK` per query over the `nProbe` nearest cells' CODES.
    * `queries` carries (`q_id`, `qv: array<double>`), small by contract
    * (collected; the per-query LUT is m × kCodes doubles).
    *
    * `rerank` > 0 enables the standard serving refinement: the ADC pass
    * produces a `rerank`-deep shortlist per query, and ONLY those rows'
    * raw vectors are read back for an exact-cosine re-rank to `topK`.
    * This is what makes PQ usable when true-neighbor margins are smaller
    * than the quantization noise: the shortlist needs only to CONTAIN
    * the true top-k, not order it. Read amplification is `rerank` raw
    * vectors per query (point reads against the cell-pruned lists) — the
    * scan side still never touches a float. */
  /** [[adcProbe]] with candidates restricted to the ids in `allowed` —
    * [[IvfIndex.probeFiltered]]'s semantics on the PQ tier: the
    * semi-join runs on the CODES relation of the probed cells before
    * the ADC ranking (8 B/candidate survives the filter, never a float),
    * and the exact re-rank reads only surviving shortlist rows. At
    * exhaustive probes with a shortlist ≥ the allowed count the result
    * is the exact filtered ranking (spec'd). */
  def adcProbeFiltered(
      idx: PqIndex,
      queriesRaw: DataFrame,
      allowed: DataFrame,
      nProbe: Int,
      topK: Int,
      rerank: Int = 0): DataFrame =
    adcProbeImpl(idx, queriesRaw, nProbe, topK, rerank, Some(allowed), None)

  /** PER-QUERY-ROW filtered ADC probes (round 16) —
    * [[graft.operators.IvfIndex.probeFilteredKeyed]]'s semantics on the
    * PQ tier: every query row carries a tenant/visibility KEY and
    * `allowedKeyed` is a `(keyCol, vec_id)` relation; one probe batch
    * serves many tenants, each ranked only over its key's allowed CODES
    * (the semi-join lands on (key, candidate) pairs, 8 B/candidate, and
    * the exact re-rank reads only surviving shortlist rows). Per query
    * row this is exactly [[adcProbeFiltered]] with the key's allowed
    * slice (spec'd batch parity). Keys compare as strings. */
  def adcProbeFilteredKeyed(
      idx: PqIndex,
      queriesRaw: DataFrame,
      keyCol: String,
      allowedKeyed: DataFrame,
      nProbe: Int,
      topK: Int,
      rerank: Int = 0): DataFrame =
    adcProbeImpl(idx, queriesRaw, nProbe, topK, rerank, None,
      Some((keyCol, allowedKeyed)))

  def adcProbe(
      idx: PqIndex,
      queriesRaw: DataFrame,
      nProbe: Int,
      topK: Int,
      rerank: Int = 0): DataFrame =
    adcProbeImpl(idx, queriesRaw, nProbe, topK, rerank, None, None)

  private def adcProbeImpl(
      idx: PqIndex,
      queriesRaw: DataFrame,
      nProbe: Int,
      topK: Int,
      rerank: Int,
      allowed: Option[DataFrame],
      keyed: Option[(String, DataFrame)]): DataFrame = {
    // same boundary rotation as [[probeAll]] — applied IN-PLAN with the
    // same MatVec kernel the corpus was rotated with, so query and
    // corpus arithmetic are bit-identical (withColumn preserves the
    // caller's key column for the keyed path)
    val queries = idx.rotation.map(r => queriesRaw.withColumn("qv",
      graft.exprs.functions.mat_vec(col("qv"), r, idx.dim, idx.dim)))
      .getOrElse(queriesRaw)
    val spark = queries.sparkSession
    import spark.implicits._
    val m = idx.m
    val dsub = idx.codebooks.head.head.length
    val qRows = (keyed match {
      case Some((kc, _)) => queries.select(col("q_id"), col("qv"),
        col(kc).cast("string").as("k"))
      case None => queries.select(col("q_id"), col("qv"), lit("").as("k"))
    })
      .withColumn("qnrm", Similarity.norm(col("qv")))
      .collect()
    // null-keyed queries could never satisfy the (k, n_id) semi-join
    // and would silently vanish — fail loudly (round-17 ADVICE; the
    // IvfIndex.probeImpl posture)
    keyed.foreach { case (kc, _) =>
      qRows.foreach(r => require(!r.isNullAt(2),
        s"keyed filtered probe: query q_id=${r.get(0)} has a NULL " +
          s"'$kc' key — null-keyed queries can match nothing; filter " +
          "them out or supply a key"))
    }
    val probeRows = qRows.flatMap { r =>
      val qv = r.getSeq[Double](1).toArray
      // LUT: lut(sub)(code) = dot(q_sub, codebook centroid)
      val lut: Seq[Seq[Double]] = idx.codebooks.zipWithIndex.map {
        case (cb, sub) =>
          cb.map { c =>
            var s = 0.0
            var i = 0
            while (i < dsub) { s += qv(sub * dsub + i) * c(i); i += 1 }
            s
          }.toSeq
      }.toSeq
      val cells = idx.coarse.centroids.zipWithIndex
        .map { case (c, i) =>
          var s = 0.0
          var j = 0
          while (j < c.length) {
            val d = c(j) - qv(j); s += d * d; j += 1
          }
          (s, i)
        }
        .sortBy(_._1).take(nProbe).map(_._2)
      // residual decomposition: dot(q, x) ≈ dot(q, c_cell) + Σ_m lut[m][code]
      // — the per-cell constant is one driver-side dot per probed cell
      cells.map { cell =>
        val c = idx.coarse.centroids(cell)
        var qc = 0.0
        var j = 0
        while (j < c.length) { qc += qv(j) * c(j); j += 1 }
        (r.getLong(0), cell, lut, qc, r.getString(2), r.getDouble(3))
      }
    }
    val probes = probeRows.toSeq
      .toDF("q_id", "cell", "lut", "qdotc", "k", "qnrm")
    val probedCells = probeRows.map(_._2).distinct.toSeq
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_cosine").desc, col("n_id"))
    // the candidate side reads CODES ONLY (8 bytes of codes + one norm per
    // vector): the ADC sum is m element_at lookups into the broadcast LUT
    val codeCells = idx.codes
      .filter(col("cell").isin(probedCells: _*))
      .select(col("vec_id").as("n_id"), col("cell"), col("nrm"),
        col("codes"))
    val codeCand = allowed.fold(codeCells)(a =>
      codeCells.join(a.select(col("vec_id").as("n_id")), Seq("n_id"),
        "left_semi"))
    val probedJoined = codeCand.join(broadcast(probes), Seq("cell"))
    val gated = keyed.fold(probedJoined) { case (kc, ak) =>
      probedJoined.join(
        ak.select(col(kc).cast("string").as("k"),
          col("vec_id").as("n_id")),
        Seq("k", "n_id"), "left_semi")
    }
    val adcRanked = gated
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("adc_dot",
        col("qdotc") +
          graft.exprs.functions.adc_dot(col("codes"), col("lut")))
      .withColumn("adc_cosine", col("adc_dot") / (col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(w))
    if (rerank <= 0)
      adcRanked.filter(col("rank") <= topK)
        .select("q_id", "n_id", "rank", "adc_cosine")
    else {
      // exact re-rank of the ADC shortlist: fetch the shortlist rows' raw
      // vectors from the cell-pruned lists (rerank rows per query), score
      // exact cosine, keep topK. Broadcast both small sides.
      val shortlist = adcRanked.filter(col("rank") <= rerank)
        .select(col("q_id"), col("n_id"))
      val qv = queries
        .select(col("q_id"), col("qv"))
        .withColumn("qnrm", Similarity.norm(col("qv")))
      val wx = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("n_id"))
      idx.coarse.assignments
        .filter(col("cell").isin(probedCells: _*))
        .select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm"))
        .join(broadcast(shortlist), Seq("n_id"))
        .join(broadcast(qv), Seq("q_id"))
        .withColumn("cosine",
          Similarity.cosinePre(col("qv"), col("nv"), col("qnrm"), col("nrm")))
        .withColumn("rank", row_number().over(wx))
        .filter(col("rank") <= topK)
        .select("q_id", "n_id", "rank", "cosine")
    }
  }
}
