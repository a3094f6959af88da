package graft.operators

import graft.queries.Similarity
import graft.util.Publish
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A persisted IVF (inverted-file) ANN index over an embedding table:
  * a k-means coarse quantizer plus the table partitioned BY CELL on disk.
  *
  * The lifecycle a 100 TB ANN deployment actually needs — build once,
  * save, load from any job, probe many times — instead of re-fitting the
  * quantizer inside every query (what `ann_ivf_kmeans` does, fine for a
  * one-shot query, wasteful as a serving path).
  *
  * Scale shape:
  *  - build: the k-means fit sees only a bounded sample (quantizer needs a
  *    representative subset, not the table); assignment is one scan.
  *  - save: `partitionBy(cell)` — probing reads ONLY the probed cells'
  *    files via static partition pruning, so a probe touches ~nProbe/k of
  *    the data no matter how large the table (the on-disk analog of
  *    IVF's inverted lists).
  *  - probe: queries are the small side by contract — collected, ranked
  *    against the k centroids driver-side, broadcast into the cell join.
  *  - norms are computed once at build time and persisted with the
  *    vectors, never re-derived per pair.
  */
final class IvfIndex private[operators] (
    val centroids: Array[Array[Double]], // k × dim, cell id = array index
    val assignments: DataFrame) { // (vec_id, v, nrm, cell)

  def k: Int = centroids.length

  /** Persist as `dir/centroids` (k rows) + `dir/cells` (partitioned by
    * cell — the inverted lists), then snapshot the drift BASELINE
    * ([[IvfIndex.snapshotDriftBaseline]]) — the report the quantizer was
    * FIT to, which [[IvfIndex.driftVerdict]] compares every later report
    * against with zero operator bookkeeping. */
  def save(dir: String): Unit = {
    writeCore(dir)
    IvfIndex.snapshotDriftBaseline(assignments.sparkSession, dir)
  }

  /** The centroid + cell writes without the baseline snapshot — for
    * composite savers ([[PqIndex.save]]) that snapshot AFTER their code
    * tier exists, so the baseline carries the ADC self-gap too. */
  private[operators] def writeCore(dir: String): Unit = {
    val spark = assignments.sparkSession
    import spark.implicits._
    assignments.write.mode("overwrite")
      .partitionBy("cell").parquet(s"$dir/cells")
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }
}

object IvfIndex {

  /** Fit the coarse quantizer on a bounded sample and assign every vector
    * to its cell. `emb` must carry (`vec_id`, `v: array<double>`). */
  def build(
      emb: DataFrame,
      k: Int = 8,
      maxIter: Int = 5,
      trainTarget: Int = 4096,
      seed: Long = 42L): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = emb.select(col("vec_id"), col("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
      .withColumn("features", array_to_vector(col("v")))
    val n = e.count()
    val train =
      if (n <= trainTarget) e
      else e.sample(withReplacement = false, trainTarget.toDouble / n, seed)
    val km = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter).fit(train)
    val assigned = km.transform(e)
      .select(col("vec_id"), col("v"), col("nrm"),
        col("prediction").as("cell"))
    new IvfIndex(km.clusterCenters.map(_.toArray), assigned)
  }

  /** Load for READING. Deliberately does NOT run [[recoverSwaps]]: a plain
    * reader that lands inside compact's two-rename window (target moved to
    * `.old`, staging not yet renamed in) must not move `.old` back — that
    * mutation races the in-flight compact, whose second rename would then
    * fail and strand the staging dir. Recovery runs only from the
    * SYNCHRONIZED maintenance entry points (appendVectors / compact /
    * splitCell); a reader inside the window just reads the intact
    * pre-swap data at `.old`, read-only ([[readMaybeOld]]).
    *
    * Two fallback granularities: the whole-INDEX `.old` (a generation
    * swap mid-flight — [[splitCell]] replaces centroids + cells together,
    * and a reader must see a CONSISTENT pair, never new centroids over
    * old cells) takes precedence; then the per-relation cells `.old`
    * (compact's swap). */
  /** The readable root for `dir`: `dir` itself, or the consistent
    * pre-swap generation at `dir.old` when a whole-index generation swap
    * is torn mid-flight ([[splitCell]]/[[removeVectors]]/[[rebuild]]'s
    * two-rename window). Read-only — recovery runs only from the
    * synchronized maintenance entries. */
  private[operators] def rootBase(dir: String): String = {
    import java.nio.file.{Files, Paths}
    val old = Publish.oldOf(Paths.get(dir))
    if (!Files.exists(Paths.get(dir, "centroids")) && Files.isDirectory(old))
      old.toString
    else dir
  }

  def load(spark: SparkSession, dir: String): IvfIndex = {
    val base = rootBase(dir)
    val centroids = spark.read.parquet(s"$base/centroids")
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    new IvfIndex(centroids,
      readMaybeOld(spark, java.nio.file.Paths.get(base, "cells")))
  }

  /** The OPQ rotation pinned inside an index dir ([[PqIndex.save]]'s
    * `<indexdir>/rotation`), or None for an unrotated index. Read by
    * every maintenance/probe boundary that accepts RAW vectors. */
  private[operators] def loadRotation(
      spark: SparkSession, dir: String): Option[Array[Double]] = {
    val p = java.nio.file.Paths.get(dir, "rotation")
    if (java.nio.file.Files.isDirectory(p))
      Some(OpqModel.readMatrix(spark, p.toString))
    else None
  }

  /** Read a swap-managed relation without mutating swap state: the target
    * dir if present, else the complete pre-swap data at `<target>.old`
    * (the window between compact's two renames). */
  private[operators] def readMaybeOld(
      spark: SparkSession, target: java.nio.file.Path): org.apache.spark.sql.DataFrame = {
    val p = if (java.nio.file.Files.exists(target)) target
      else Publish.oldOf(target)
    spark.read.parquet(p.toString)
  }

  /** Assign vectors to their nearest EXISTING centroid — one fused
    * codegen pass per row ([[graft.exprs.IvfNearestCells]] at nProbe=1,
    * ties to the lower cell id), no join against a centroid table.
    * Returns the same (vec_id, v, nrm, cell) shape build produces. */
  private[operators] def assignTo(
      centroids: Array[Array[Double]], emb: DataFrame): DataFrame = {
    val t = new graft.exprs.PqScoreTable(
      centroids, Array.empty[Double], 1, 1) // codebook unused by cell ranking
    emb.select(col("vec_id"), col("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
      .withColumn("cell", element_at(
        graft.exprs.functions.ivf_nearest_cells(col("v"), t, 1), 1))
  }

  /** INCREMENTAL index maintenance: append new vectors to a PERSISTED
    * index without refitting the quantizer — the upsert move a
    * continuously-ingesting corpus needs between periodic re-builds.
    *
    * New rows are assigned to the EXISTING nearest centroid and appended
    * as new files into the cell-partitioned lists (`mode("append")` under
    * `partitionBy(cell)`) — a parquet reader sees whole files or not at
    * all, so a concurrent probe reads the index before or after the
    * upsert, never a torn state. The quantizer itself never changes here:
    * cell ids, centroid geometry, and every existing row stay untouched,
    * so probe answers over OLD vectors are bit-identical pre/post.
    * Quantizer drift as the corpus grows is real and is healed by the
    * periodic re-BUILD batch job — the standard IVF maintenance split
    * (cheap upserts between expensive refits).
    *
    * @return the number of vectors appended */
  def appendVectors(spark: SparkSession, dir: String, emb: DataFrame): Long =
    synchronized {
      // maintenance entry: heal torn swaps BEFORE reading (under the same
      // lock compact/splitCell hold, so this can never race a rename pair)
      recoverSwaps(dir)
      val idx = load(spark, dir)
      // a rotated dir stores rotated vectors: rotate RAW input into the
      // index frame first (same boundary contract as PqIndex.appendVectors)
      val embF = loadRotation(spark, dir).map { r =>
        val d = math.sqrt(r.length.toDouble).toInt
        emb.select(col("vec_id"),
          graft.exprs.functions.mat_vec(col("v"), r, d, d).as("v"))
      }.getOrElse(emb)
      // pinned: count and write must see the SAME rows even when `emb` is
      // non-deterministic (a sampled source re-evaluates per action)
      val assigned = assignTo(idx.centroids, embF).persist()
      try {
        val n = assigned.count()
        assigned.write.mode("append").partitionBy("cell")
          .parquet(s"$dir/cells")
        n
      } finally assigned.unpersist()
    }

  /** Compact the cell partitions after a run of [[appendVectors]]: each
    * upsert adds new files to the touched cells, and a long run of small
    * upserts leaves per-cell file counts that drown probe planning (the
    * same file-count pathology the log's segment coalescing exists for).
    * Rewrites every cell into ~one file (repartition BY cell → one task
    * writes one cell) via a staged dir + two renames.
    *
    * Crash safety: a death between the two renames leaves the complete
    * pre-rewrite data in `cells.old`; [[recoverSwaps]] — run at every
    * [[load]], [[appendVectors]], and compact entry — rolls it back, so
    * the torn state heals on next touch instead of needing a human.
    * Concurrency: maintenance (upsert/compact) is SERIALIZED in-JVM on
    * this object's lock — a compact racing an upsert would otherwise
    * delete the upsert's freshly appended files with `cells.old`. Across
    * JVMs the single-maintainer contract is the deployment's (same as the
    * log's single-writer commit sequencer); concurrent READERS are safe
    * on either side of a rename. Content is byte-equal input rows;
    * quantizer untouched. */
  def compact(spark: SparkSession, dir: String): Unit = synchronized {
    recoverSwaps(dir)
    compactRelation(spark, java.nio.file.Paths.get(dir, "cells"))
  }

  /** SPLIT a hot cell: the in-between maintenance move the IVF lifecycle
    * was missing. [[appendVectors]] grows cells without refit; a cell
    * that outgrows its peers makes every probe touching it pay its whole
    * list (the c² pair cost in dedup shapes, the c scan cost in probes).
    * Splitting re-fits TWO centroids on the one cell (bounded sample,
    * driver-side Lloyd — the PQ codebook discipline), reassigns ONLY that
    * cell's rows between them (every other row keeps its cell id and
    * bytes), and publishes centroids+cells together as a NEW GENERATION
    * of the index dir via one staged swap — the FAISS/serving-tier
    * refresh shape: build the next generation, flip the pointer.
    *
    * Commit contract: centroids and cells must flip TOGETHER (new
    * centroids over old cells would probe cell k into rows that still
    * live in the split cell — silent recall loss), so the swap target is
    * the whole index dir: staging sibling → `dir` → `dir.old` → staging
    * renamed in. A crash between the renames heals at the next
    * maintenance entry ([[recoverSwaps]]); plain readers fall back to
    * the consistent `.old` generation read-only ([[load]]).
    *
    * Cost: one full index rewrite (a generation, like compact) — at test
    * scale and for the artifact sizes this library persists that is the
    * honest, crash-safe primitive; an in-place single-partition split
    * would need probe-side dedup against torn duplicates to be safe.
    *
    * Under a PQ tier the split cell's codes are RE-ENCODED in the same
    * generation: pq_codes are residual-encoded against the CURRENT
    * centroid of their cell, so the reassigned rows' residuals change
    * with the split — their codes are re-fit against the two new
    * centroids with the EXISTING codebooks (codebook geometry is
    * corpus-global and untouched; only the √|cell| rows that moved pay
    * the re-encode), every other cell's codes are byte-identical, and
    * codes + codebooks + centroids + cells all flip together in the one
    * staged swap. Exact-rerank answers are split-invariant (raw vectors
    * unmoved); ADC scores of the split cell quantize against the new,
    * TIGHTER residuals — the same drift-heal direction a full re-build
    * gives, at single-cell cost.
    *
    * DEGENERATE splits commit NOTHING: if the cell's points admit fewer
    * than two distinct centroids, or every row stays on one side (all
    * duplicates — a reassignment that moves 0 or all rows), the method
    * returns −1 without staging a generation. A duplicate-heavy hot cell
    * therefore costs its caller one fit + one count, not a full index
    * rewrite plus a permanently empty cell per maintenance run.
    *
    * Handle invalidation: the committed swap DELETES the previous
    * generation's files, so an [[IvfIndex]] loaded BEFORE the split must
    * be re-loaded after it (readers concurrent WITH the swap read `.old`
    * safely; handles held across it do not) — the same contract as
    * holding a DataFrame over any overwritten parquet path.
    *
    * @return the new cell's id (= the old cell count), or −1 if the
    *         split is degenerate and no generation was committed */
  def splitCell(
      spark: SparkSession, dir: String, cell: Int,
      trainTarget: Int = 4096, maxIter: Int = 5, seed: Long = 42L): Int =
    synchronized {
      recoverSwaps(dir)
      val hasPq = java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "pq_codes"))
      val pq = if (hasPq) Some(PqIndex.load(spark, dir)) else None
      val idx = pq.map(_.coarse).getOrElse(load(spark, dir))
      require(cell >= 0 && cell < idx.k, s"cell $cell outside [0, ${idx.k})")
      val newId = idx.k
      val cellRows = idx.assignments.filter(col("cell") === cell)
        .select(col("vec_id"), col("v"), col("nrm"))
      val n = cellRows.count()
      require(n >= 2, s"cell $cell has $n rows; nothing to split")
      val sample =
        (if (n <= trainTarget) cellRows
         else cellRows.sample(withReplacement = false,
           trainTarget.toDouble / n, seed))
          .select(col("vec_id"), col("v")).collect()
          .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
      val two = PqIndex.fitLloyd(sample, 2, maxIter)
      if (two.length < 2 || java.util.Arrays.equals(two(0), two(1)))
        return -1 // <2 distinct points: unsplittable, commit nothing
      // reassign ONLY the split cell's rows: nearest of the two new
      // centroids via the fused kernel (sub 0 stays, sub 1 moves to k)
      val t = new graft.exprs.PqScoreTable(two, Array.empty[Double], 1, 1)
      val reassigned = cellRows.withColumn("cell",
        when(element_at(
          graft.exprs.functions.ivf_nearest_cells(col("v"), t, 1), 1) === 0,
          lit(cell)).otherwise(lit(newId)))
        .select("vec_id", "v", "nrm", "cell")
        .persist() // pinned: the moved-count gate and the staged write
                   // must see the same assignment
      try {
        val moved = reassigned.filter(col("cell") === newId).count()
        if (moved == 0L || moved == n)
          return -1 // one-sided reassignment (duplicates): no-op, commit nothing
        val newAssign = idx.assignments.filter(col("cell") =!= cell)
          .select("vec_id", "v", "nrm", "cell")
          .unionByName(reassigned)
        val newCentroids = idx.centroids.updated(cell, two(0)) :+ two(1)

        // next generation, staged then swapped as ONE unit
        import spark.implicits._
        val staging = dir + ".split-" +
          java.util.UUID.randomUUID().toString.take(8)
        newAssign.write.mode("overwrite")
          .partitionBy("cell").parquet(s"$staging/cells")
        newCentroids.zipWithIndex
          .map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("cell", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(s"$staging/centroids")
        pq.foreach { p =>
          // single-cell re-encode: residuals against the cell's NEW
          // centroid, existing codebooks — untouched cells' codes pass
          // through byte-identical
          val centDf = Seq((cell, two(0).toSeq), (newId, two(1).toSeq))
            .toDF("cell", "cvec")
          val recoded = reassigned
            .join(broadcast(centDf), "cell")
            .withColumn("r", zip_with(col("v"), col("cvec"), (a, b) => a - b))
            .select(col("vec_id"), col("cell"), col("nrm"),
              graft.exprs.functions.pq_encode(
                col("r"), PqIndex.flatten(p.codebooks), p.m, p.kCodes)
                .as("codes"))
          p.codes.filter(col("cell") =!= cell)
            .select("vec_id", "cell", "nrm", "codes")
            .unionByName(recoded)
            .write.mode("overwrite").partitionBy("cell")
            .parquet(s"$staging/pq_codes")
          p.codebooks.zipWithIndex.flatMap { case (cb, sub) =>
            cb.zipWithIndex.map { case (c, code) => (sub, code, c.toSeq) }
          }.toSeq.toDF("sub", "code", "centroid")
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$staging/pq_codebooks")
        }
        carryAuxRelations(spark, dir, staging)
        Publish.swap(java.nio.file.Paths.get(staging),
          java.nio.file.Paths.get(dir))
        newId
      } finally reassigned.unpersist()
    }

  /** Copy the model-sized aux relations into a staged next generation —
    * they must survive the whole-dir swap or a commit would silently
    * DROP the OPQ frame the codes were encoded under (unservable index)
    * and the build-time drift baseline (verdicts degrade to
    * no_baseline). Content-preserving parquet rewrite (doubles round-trip
    * exactly); both relations are KB-sized by construction. [[rebuild]]
    * carries the rotation only — it re-snapshots a FRESH baseline into
    * its staged generation instead. */
  private def carryAuxRelations(
      spark: SparkSession, dir: String, staging: String,
      rels: Seq[String] = Seq("rotation", "drift_baseline")): Unit =
    rels.foreach { rel =>
      val p = java.nio.file.Paths.get(dir, rel)
      if (java.nio.file.Files.isDirectory(p))
        spark.read.parquet(p.toString).coalesce(1)
          .write.mode("overwrite").parquet(s"$staging/$rel")
    }

  /** FULL REFIT of a LIVE index as ONE staged generation — the heal the
    * typed `"rebuild"` verdict ([[driftVerdict]]) calls for, closing the
    * maintenance loop's last arrow: before this, an operator holding a
    * served index had to hand-orchestrate build-elsewhere + swap +
    * rotation carry + baseline re-snapshot.
    *
    * What happens, all inside the staged generation the [[splitCell]]/
    * [[removeVectors]] machinery commits atomically:
    *  - coarse centroids REFIT from the index's own vectors (bounded
    *    deterministic sample, driver-side Lloyd), every vector
    *    reassigned by the fused kernel;
    *  - under a PQ tier, the codebooks refit on the NEW residuals and
    *    every code re-encodes (same bounded-sample contract);
    *  - the pinned OPQ rotation CARRIES THROUGH untouched — the index's
    *    vectors are already stored in the rotated frame, so the refit
    *    never re-rotates and queries keep rotating at the boundary;
    *  - a FRESH drift baseline is snapshotted against the staged
    *    generation (this refit is the new fit-time regime) and commits
    *    atomically with it.
    *
    * DETERMINISM: the refit sample is the smallest `trainTarget` rows
    * under the md5(vec_id) order — a pure function of the DATA
    * (`df.sample` depends on partition layout), and the fit is the
    * driver-side Lloyd — so rebuilding unchanged data twice produces
    * bit-identical indexes and bit-invariant probes (the spec pins it).
    * A rebuild IS a refit: the first rebuild of an index built through
    * the sampled ML path may move centroids — by design; determinism is
    * a property of rebuild∘rebuild, and the serving contract is the
    * rerank band, which survives any refit.
    *
    * Crash: staging never touches `dir`; a death before the commit
    * leaves the old generation serving untouched, a death between the
    * commit renames heals at the next maintenance entry
    * ([[recoverSwaps]]), and plain readers inside the window fall
    * back to the consistent `.old` generation.
    *
    * @param k new cell count; 0 keeps the current one, [[AutoK]] resizes
    *          to the standard √n IVF sizing ([[sqrtK]]) — the re-size a
    *          corpus grown under appendVectors is due exactly when its
    *          rebuild runs (upserts never change k, so cells of a
    *          100×-grown index are 100× over-long until the refit)
    * @return the POST-rebuild [[DriftReport]] (fresh baseline ⇒ a
    *         successful heal reads `"ok"`) */
  def rebuild(
      spark: SparkSession, dir: String,
      k: Int = 0, maxIter: Int = 5, trainTarget: Int = 4096): DriftReport =
    synchronized {
      recoverSwaps(dir)
      val hasPq = java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "pq_codes"))
      val pq = if (hasPq) Some(PqIndex.load(spark, dir)) else None
      val idx = pq.map(_.coarse).getOrElse(load(spark, dir))
      val kk =
        if (k > 0) k
        else if (k == AutoK) sqrtK(idx.assignments.count())
        else idx.k
      // the index's own vectors, already in the index frame (a rotated
      // dir stores rotated vectors)
      val emb = idx.assignments.select("vec_id", "v", "nrm")
      val sampleRows = emb
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(trainTarget)
        .select(col("vec_id"), col("v")).collect()
        .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
      require(sampleRows.nonEmpty, "rebuild of an empty index")
      val newCentroids = PqIndex.fitLloyd(sampleRows, kk, maxIter)
      val assigned = assignTo(newCentroids, emb).persist()
      try {
        import spark.implicits._
        val staging = dir + ".rebuild-" +
          java.util.UUID.randomUUID().toString.take(8)
        assigned.write.mode("overwrite")
          .partitionBy("cell").parquet(s"$staging/cells")
        newCentroids.zipWithIndex
          .map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("cell", "centroid")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$staging/centroids")
        pq.foreach { p =>
          val centDf = newCentroids.zipWithIndex
            .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "cvec")
          val resid = assigned
            .join(broadcast(centDf), "cell")
            .withColumn("r",
              zip_with(col("v"), col("cvec"), (a, b) => a - b))
            .select(col("vec_id"), col("cell"), col("nrm"), col("r"))
          val rRows = resid
            .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
            .limit(trainTarget)
            .select(col("vec_id"), col("r")).collect()
            .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
          val dsub = p.dim / p.m
          val codebooks: Array[Array[Array[Double]]] =
            (0 until p.m).map { sub =>
              PqIndex.fitLloyd(rRows.map(v => java.util.Arrays
                .copyOfRange(v, sub * dsub, (sub + 1) * dsub)),
                p.kCodes, maxIter)
            }.toArray
          resid.select(col("vec_id"), col("cell"), col("nrm"),
              graft.exprs.functions.pq_encode(
                col("r"), PqIndex.flatten(codebooks), p.m, p.kCodes)
                .as("codes"))
            .write.mode("overwrite").partitionBy("cell")
            .parquet(s"$staging/pq_codes")
          codebooks.zipWithIndex.flatMap { case (cb, sub) =>
            cb.zipWithIndex.map { case (c, code) => (sub, code, c.toSeq) }
          }.toSeq.toDF("sub", "code", "centroid")
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$staging/pq_codebooks")
        }
        carryAuxRelations(spark, dir, staging, rels = Seq("rotation"))
        // the refit IS the new fit-time regime: snapshot the baseline
        // against the STAGED generation so it commits atomically with it
        snapshotDriftBaseline(spark, staging)
        Publish.swap(java.nio.file.Paths.get(staging),
          java.nio.file.Paths.get(dir))
      } finally assigned.unpersist()
      driftVerdict(spark, dir)
    }

  /** REMOVE vectors from a persisted index — the vector twin of
    * [[SearchIndex.deleteDocs]] (takedowns / contaminated-source purges),
    * riding the same staged-generation machinery as [[splitCell]]: the
    * next generation is the current one with the removed rows filtered
    * out of the cells (and, under a PQ tier, out of `pq_codes` — raw
    * vectors and codes drop TOGETHER, so the shortlist and the rerank
    * path can never disagree about a removed vector), centroids and
    * codebooks byte-identical, all flipped in one crash-safe swap.
    *
    * The quantizer deliberately does NOT refit (the [[appendVectors]]
    * contract in reverse), so probe answers over the surviving vectors
    * are BIT-IDENTICAL to probing the pre-removal index with those rows
    * absent — the strongest contract a quantized index can make (a fresh
    * re-BUILD refits k-means on the surviving corpus and is a different
    * index by design; run one at the periodic-rebuild cadence, as with
    * drift). Removed ids can be re-appended later via [[appendVectors]].
    *
    * `ids` is a driver-side list by contract (takedown-sized; the filter
    * is one isin predicate — corpus-scale removal is a rebuild). Ids not
    * present are ignored; if none are present, nothing is staged and 0
    * returns. Removing EVERY vector is rejected (an empty parquet
    * relation cannot be re-read; delete the index dir instead).
    *
    * @return the number of vectors removed */
  def removeVectors(
      spark: SparkSession, dir: String, ids: Seq[Long]): Long = synchronized {
    if (ids.isEmpty) return 0L
    recoverSwaps(dir)
    val hasPq = java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "pq_codes"))
    val pq = if (hasPq) Some(PqIndex.load(spark, dir)) else None
    val idx = pq.map(_.coarse).getOrElse(load(spark, dir))
    val present =
      idx.assignments.filter(col("vec_id").isin(ids: _*)).count()
    if (present == 0L) return 0L
    val remaining = idx.assignments.count() - present
    require(remaining > 0L,
      "removeVectors would empty the index; delete the index dir instead")
    import spark.implicits._
    val staging = dir + ".remove-" +
      java.util.UUID.randomUUID().toString.take(8)
    idx.assignments.filter(!col("vec_id").isin(ids: _*))
      .select("vec_id", "v", "nrm", "cell")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$staging/cells")
    idx.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$staging/centroids")
    pq.foreach { p =>
      p.codes.filter(!col("vec_id").isin(ids: _*))
        .select("vec_id", "cell", "nrm", "codes")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$staging/pq_codes")
      p.codebooks.zipWithIndex.flatMap { case (cb, sub) =>
        cb.zipWithIndex.map { case (c, code) => (sub, code, c.toSeq) }
      }.toSeq.toDF("sub", "code", "centroid")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$staging/pq_codebooks")
    }
    carryAuxRelations(spark, dir, staging)
    Publish.swap(java.nio.file.Paths.get(staging),
      java.nio.file.Paths.get(dir))
    present
  }

  /** One cell's drift row (the [[driftStats]] schema, typed). */
  final case class CellDrift(
      cell: Int, n: Long,
      meanResidNorm: Option[Double], adcSelfGap: Option[Double])

  /** The operator-facing maintenance report: per-cell drift rows plus
    * the corpus-weighted means, the STORED build-time baseline they were
    * compared against, and the resulting verdict —
    *
    *  - `"ok"`        within the thresholds, no splits were needed;
    *  - `"absorbed"`  a shift tripped the skew policy but splits brought
    *                  the report back inside the thresholds (concentrated
    *                  drift healed at single-cell cost);
    *  - `"rebuild"`   still outside the thresholds — diffuse drift; refit
    *                  coarse + codebooks (full re-build);
    *  - `"no_baseline"` the index predates the persisted baseline (or it
    *                  is unreadable): snapshot one at the next rebuild —
    *                  UNKNOWN is not fresh, so callers must treat this as
    *                  their own policy decision.
    *
    * Thresholds (the documented ones, pinned by the drift spec): the
    * PRIMARY trigger is corpus-weighted mean_resid_norm > 1.5× baseline;
    * adc_self_gap > 1.2× baseline corroborates in the score unit. */
  final case class DriftReport(
      splits: Int,
      perCell: Seq[CellDrift],
      meanResidNorm: Double,
      adcSelfGap: Option[Double],
      baselineResidNorm: Option[Double],
      baselineGap: Option[Double],
      verdict: String)

  /** [[rebuild]] k sentinel: resize the coarse quantizer to [[sqrtK]]. */
  val AutoK: Int = -1

  /** The standard IVF coarse sizing, k ≈ √n: cells of ~√n vectors each
    * balance the probe's two costs (k-sized centroid ranking vs
    * nProbe·(n/k)-sized list scans) — the sizing SCALING.md's corpus-
    * probe analysis assumes. Clamped to a sane band; trainTarget bounds
    * how many distinct centroids a fit can actually support, so the
    * effective k also never exceeds the sample (fitLloyd degrades
    * gracefully). */
  def sqrtK(n: Long, minK: Int = 2, maxK: Int = 65536): Int =
    math.max(minK, math.min(maxK,
      math.ceil(math.sqrt(math.max(n, 1L).toDouble)).toInt))

  /** mean_resid_norm trip factor vs baseline (primary trigger). */
  val ResidTripFactor = 1.5
  /** adc_self_gap trip factor vs baseline (score-unit corroboration —
    * tighter band because the gap's quantization floor bounds its swing). */
  val GapTripFactor = 1.2

  /** Persist the CURRENT [[driftStats]] as `dir/drift_baseline` — the
    * report the quantizer was FIT to. Called automatically by
    * [[IvfIndex.save]]/[[PqIndex.save]] at every build/rebuild, so the
    * baseline exists with ZERO operator bookkeeping; staged generations
    * carry it through ([[carryAuxRelations]]). */
  def snapshotDriftBaseline(spark: SparkSession, dir: String): Unit =
    driftStats(spark, dir).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/drift_baseline")

  /** Corpus-weighted (resid mean, gap mean) over driftStats-shaped rows. */
  private def corpusMeans(
      rows: Array[org.apache.spark.sql.Row]): (Double, Option[Double]) = {
    val nTot = rows.map(_.getLong(1)).sum.toDouble
    val resid = rows.filter(!_.isNullAt(2))
      .map(r => r.getLong(1) * r.getDouble(2)).sum / math.max(nTot, 1.0)
    val gapRows = rows.filter(!_.isNullAt(3))
    val gap =
      if (gapRows.isEmpty) None
      else Some(gapRows.map(r => r.getLong(1) * r.getDouble(3)).sum /
        math.max(gapRows.map(_.getLong(1)).sum.toDouble, 1.0))
    (resid, gap)
  }

  /** The stored build-time corpus means, or None when the baseline is
    * absent or unreadable (a half-written baseline must degrade to
    * no_baseline, never to a wrong comparison). */
  private def readBaseline(
      spark: SparkSession, dir: String): Option[(Double, Option[Double])] = {
    val p = java.nio.file.Paths.get(dir, "drift_baseline")
    if (!java.nio.file.Files.isDirectory(p)) None
    else scala.util.Try {
      corpusMeans(spark.read.parquet(p.toString)
        .select("cell", "n", "mean_resid_norm", "adc_self_gap").collect())
    }.toOption
  }

  /** Compute the CURRENT drift report and judge it against the STORED
    * baseline — the typed *when to rebuild* signal ([[DriftReport]] doc
    * for the verdict semantics). One counts pass + one bounded-sample
    * pass + a k-sized collect; `splits` is threaded through by
    * [[rebalance]] so "absorbed" is distinguishable from "ok". */
  def driftVerdict(
      spark: SparkSession, dir: String, splits: Int = 0): DriftReport = {
    val rows = driftStats(spark, dir).collect()
    val perCell = rows.map(r => CellDrift(r.getInt(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    val (resid, gap) = corpusMeans(rows)
    val base = readBaseline(spark, dir)
    val verdict = base match {
      case None => "no_baseline"
      case Some((bResid, bGap)) =>
        val residTrip = resid > ResidTripFactor * bResid
        val gapTrip = (gap, bGap) match {
          case (Some(g), Some(bg)) => g > GapTripFactor * bg
          case _ => false
        }
        if (residTrip || gapTrip) "rebuild"
        else if (splits > 0) "absorbed"
        else "ok"
    }
    DriftReport(splits, perCell, resid, gap,
      base.map(_._1), base.flatMap(_._2), verdict)
  }

  /** The POLICY wrapper over [[splitCell]]: split the biggest cell while
    * any cell holds more than `maxFrac` of the vectors (up to `maxSplits`
    * generations) — the periodic maintenance job that keeps probe cost
    * near n/k as [[appendVectors]] skews the lists, on BOTH index tiers
    * (under IVF-PQ each split re-encodes the split cell's codes in its
    * generation — [[splitCell]]'s contract). Each iteration is one
    * crash-safe generation; a crash mid-run just leaves fewer splits
    * applied, and the next run continues. Degenerate cells (all points
    * identical — unsplittable; splitCell signals −1 and commits nothing)
    * are skipped rather than looped on, at fit-cost, not rewrite-cost.
    *
    * Returns the TYPED maintenance report ([[driftVerdict]] against the
    * PERSISTED build-time baseline) — the maintenance job is exactly
    * where the rebalance-vs-rebuild decision gets made, so the signal
    * surfaces there as data, not as a log line: `verdict == "absorbed"`
    * means the splits healed a concentrated shift at single-cell cost;
    * `"rebuild"` means the drift is diffuse and the full refit is due. */
  def rebalance(
      spark: SparkSession, dir: String,
      maxFrac: Double = 0.25, maxSplits: Int = 8): DriftReport = synchronized {
    require(maxFrac > 0.0 && maxFrac < 1.0, s"maxFrac $maxFrac outside (0,1)")
    var splits = 0
    val skip = scala.collection.mutable.Set[Int]()
    var done = false
    while (!done && splits < maxSplits) {
      val idx = load(spark, dir)
      val sizes = idx.assignments.groupBy("cell").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1))
      val total = sizes.map(_._2).sum
      val hot = sizes
        .filter { case (c, n) =>
          !skip(c) && n.toDouble > maxFrac * total && n >= 2 }
        .sortBy(-_._2).headOption
      hot match {
        case None => done = true
        case Some((cell, _)) =>
          if (splitCell(spark, dir, cell) < 0) skip += cell
          else splits += 1
      }
    }
    driftVerdict(spark, dir, splits)
  }

  /** QUANTIZER-DRIFT report — the missing *when to rebuild* signal.
    * [[appendVectors]] never refits the quantizer (by contract), and
    * [[splitCell]]/[[rebalance]] heal cell SKEW only: a corpus whose
    * distribution drifts away from the build-time sample degrades recall
    * SILENTLY — ADC distances quantize against codebooks fit on residuals
    * that no longer look like the data. This measures the drift directly,
    * per cell:
    *
    *  - `n` — exact cell population (the rebalance signal, for context);
    *  - `mean_resid_norm` — mean ‖v − c_cell‖ over (a sample of) the
    *    cell's rows: how far the data sits from the coarse quantizer.
    *    Grows when upserts land off-distribution;
    *  - `adc_self_gap` (PQ tier only, else null) — mean |1 − adc(v, v)|:
    *    each sampled vector ADC-scored against its OWN code. Exact
    *    arithmetic would give cosine 1 exactly, so the gap IS the
    *    end-to-end quantization error of the serving path (coarse +
    *    codebook), measured in the score unit that recall lives in.
    *
    * REBUILD POLICY (the documented thresholds, pinned by the drift
    * spec): the baseline the quantizer was FIT to is PERSISTED at every
    * build/rebuild ([[snapshotDriftBaseline]], written automatically by
    * save), and [[driftVerdict]] compares the current report against it
    * as typed data. The PRIMARY trigger is the corpus-weighted
    * mean_resid_norm exceeding [[ResidTripFactor]]× its build-time value
    * (it scales with the drift magnitude); adc_self_gap >
    * [[GapTripFactor]]× build-time corroborates in the score unit (its
    * quantization floor — ~0.5 cosine at kCodes = 16 on unnormalized
    * data — bounds how far it can swing, hence the tighter band). A
    * STATIONARY upsert moves neither (drift is about the distribution,
    * not growth). When tripped, try [[rebalance]] FIRST and read its
    * returned report: a CONCENTRATED shift (new cluster in vector space)
    * piles into one cell, and splitting it refits a centroid onto the
    * new cluster — resid returns to the fit-time regime at single-cell
    * cost, and `verdict == "absorbed"` is how the operator sees the
    * cheap heal sufficed. A DIFFUSE drift stays tripped after rebalance
    * (`verdict == "rebuild"`) — refit coarse + codebooks.
    *
    * Cost: one pass over the cells (counts) plus one over a bounded
    * sample (`sampleN` rows corpus-wide, norms + kernel ADC — no joins
    * beyond a broadcast of k centroids). */
  def driftStats(
      spark: SparkSession, dir: String,
      sampleN: Int = 4096, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val hasPq = java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "pq_codes"))
    val pq = if (hasPq) Some(PqIndex.load(spark, dir)) else None
    val idx = pq.map(_.coarse).getOrElse(load(spark, dir))
    val counts = idx.assignments.groupBy("cell")
      .agg(count(lit(1)).as("n"))
    val n = idx.assignments.count()
    val sampled =
      if (n <= sampleN) idx.assignments
      else idx.assignments.sample(withReplacement = false,
        sampleN.toDouble / n, seed)
    val centDf = idx.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "cvec")
    val withResid = sampled
      .join(broadcast(centDf), "cell")
      .withColumn("resid_norm", Similarity.norm(
        zip_with(col("v"), col("cvec"), (a, b) => a - b)))
    val scored = pq match {
      case None => withResid.withColumn("gap", lit(null).cast("double"))
      case Some(p) =>
        val t = p.scoreTable
        withResid
          .join(p.codes.select(col("vec_id"), col("codes")), "vec_id")
          .withColumn("gap", abs(lit(1.0) -
            graft.exprs.functions.pq_adc_cosine(
              col("v"), col("cell"), col("codes"), col("nrm"), t)))
    }
    counts.join(
        scored.groupBy("cell")
          .agg(avg(col("resid_norm")).as("mean_resid_norm"),
            avg(col("gap")).as("adc_self_gap")),
        Seq("cell"), "left")
      .select("cell", "n", "mean_resid_norm", "adc_self_gap")
      .orderBy("cell")
  }

  /** Roll back every swap that died between its renames: the
    * whole-index generation ([[splitCell]], [[removeVectors]],
    * [[rebuild]]) first, then the per-relation compactions of `cells` and
    * `pq_codes` ([[Publish.recover]]). Maintenance entries only, under
    * this object's lock. */
  private[operators] def recoverSwaps(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    Publish.recover(root)
    Seq("cells", "pq_codes").foreach(r => Publish.recover(root.resolve(r)))
  }

  private[operators] def compactRelation(
      spark: SparkSession, target: java.nio.file.Path): Unit = {
    Publish.recover(target)
    val staging = target.resolveSibling(
      target.getFileName.toString + ".compact-" +
        java.util.UUID.randomUUID().toString.take(8))
    spark.read.parquet(target.toString)
      .repartition(col("cell"))
      .write.partitionBy("cell").parquet(staging.toString)
    Publish.swap(staging, target)
  }

  /** Top-`topK` cosine neighbors per query over the `nProbe` nearest
    * cells. `queries` carries (`q_id`, `qv: array<double>`) and is small
    * by contract. The probed-cell filter is a LITERAL `isin` — static
    * partition pruning at the parquet scan, not a runtime join filter. */
  def probe(
      idx: IvfIndex,
      queries: DataFrame,
      nProbe: Int,
      topK: Int): DataFrame =
    probeImpl(idx, queries, nProbe, topK, None, None)

  /** FILTERED vector search (round 13): [[probe]] with candidates
    * restricted to the ids in `allowed` (one `vec_id` column) — the
    * metadata-predicate serving feature ("neighbors among the vectors
    * predicate P allows"). POST-FILTER-THEN-RANK semantics: the
    * semi-join runs on the probed cells' rows BEFORE ranking, so topK
    * survivors return per query however selective the predicate is (no
    * over-fetch dance), and the scan still touches only ~nProbe/k of
    * the data — the filter composes with cell pruning instead of
    * defeating it. At exhaustive probes (nProbe = k) the result is
    * EXACTLY the filtered brute-force ranking — the oracle-gated
    * entry's configuration; smaller nProbe is the usual recall/cost
    * dial. At 100 TB, pass `allowed` as a relation keyed by vec_id
    * (attribute table or pre-materialized predicate) — the semi-join
    * broadcasts when small and AQE handles the rest. */
  def probeFiltered(
      idx: IvfIndex,
      queries: DataFrame,
      allowed: DataFrame,
      nProbe: Int,
      topK: Int): DataFrame =
    probeImpl(idx, queries, nProbe, topK, Some(allowed), None)

  /** PER-QUERY-ROW filtered search (round 16): every query row carries
    * a tenant/visibility KEY (`keyCol`) and `allowedKeyed` is a
    * `(keyCol, vec_id)` relation — ONE probe batch serves many tenants,
    * each query ranked only over ITS key's allowed ids. Per query row
    * this is exactly [[probeFiltered]] with
    * `allowed = allowedKeyed WHERE key = query.key` (spec'd batch
    * parity), but the cells scan is pruned ONCE for the whole batch
    * instead of once per tenant: the deciding semi-join lands on
    * (key, candidate) pairs after the probed-cells join, broadcast when
    * the allowed relation is small, AQE otherwise. Keys compare as
    * strings (cast on both sides — pass string or integral keys). */
  def probeFilteredKeyed(
      idx: IvfIndex,
      queries: DataFrame,
      keyCol: String,
      allowedKeyed: DataFrame,
      nProbe: Int,
      topK: Int): DataFrame =
    probeImpl(idx, queries, nProbe, topK, None, Some((keyCol, allowedKeyed)))

  private def probeImpl(
      idx: IvfIndex,
      queries: DataFrame,
      nProbe: Int,
      topK: Int,
      allowed: Option[DataFrame],
      keyed: Option[(String, DataFrame)]): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qSel = keyed match {
      case Some((kc, _)) =>
        queries.select(col("q_id"), col("qv"),
          col(kc).cast("string").as("k"))
      case None =>
        queries.select(col("q_id"), col("qv"), lit("").as("k"))
    }
    val qRows = qSel
      .withColumn("qnrm", Similarity.norm(col("qv")))
      .collect()
    // a NULL tenant key casts to null and could never satisfy the
    // (k, n_id) equi-semi-join — the query would silently vanish from
    // the output, which a caller with a nullable key column would read
    // as "no matches". Fail loudly instead (round-17 ADVICE).
    keyed.foreach { case (kc, _) =>
      qRows.foreach(r => require(!r.isNullAt(2),
        s"keyed filtered probe: query q_id=${r.get(0)} has a NULL " +
          s"'$kc' key — null-keyed queries can match nothing; filter " +
          "them out or supply a key"))
    }
    val probePairs = qRows.flatMap { r =>
      val qv = r.getSeq[Double](1).toArray
      idx.centroids.zipWithIndex
        .map { case (c, i) => (dist2(c, qv), i) }
        .sortBy(_._1).take(nProbe)
        .map { case (_, cell) =>
          (r.getLong(0), cell, qv.toSeq, r.getString(2), r.getDouble(3)) }
    }
    val probedCells = probePairs.map(_._2).distinct.toSeq
    val probes = probePairs.toSeq.toDF("q_id", "cell", "qv", "k", "qnrm")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    val cells = idx.assignments
      .filter(col("cell").isin(probedCells: _*))
      .select(col("vec_id").as("n_id"), col("cell"),
        col("v").as("nv"), col("nrm"))
    val cand = allowed.fold(cells)(a =>
      cells.join(a.select(col("vec_id").as("n_id")), Seq("n_id"),
        "left_semi"))
    val joined = cand.join(broadcast(probes), Seq("cell"))
    val gated = keyed.fold(joined) { case (kc, ak) =>
      joined.join(
        ak.select(col(kc).cast("string").as("k"),
          col("vec_id").as("n_id")),
        Seq("k", "n_id"), "left_semi")
    }
    gated
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cosine",
        Similarity.cosinePre(col("qv"), col("nv"), col("qnrm"), col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("q_id", "n_id", "rank", "cosine")
  }

  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }
}
