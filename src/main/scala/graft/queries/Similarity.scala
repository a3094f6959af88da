package graft.queries

import graft.util.{ArtifactCache, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Similarity search over embeddings: brute-force cosine top-k baseline and
  * an IVF-style pruned variant (coarse cell = `label`, i.e. probe-1). Both
  * compute dot/norm as a LEFT fold in double precision so Spark and the
  * DuckDB oracle produce bit-identical floats:
  *   Spark  : aggregate(zip_with(a,b,(x,y)->x*y), 0d, (acc,x)->acc+x)
  *   DuckDB : list_reduce(list_transform(range(...), i->a[i]*b[i]), (x,y)->x+y)
  * (0.0 + e1 == e1 exactly, so the two folds match term for term.)
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  private val TopK = 5
  private val NumQueries = 5

  // emb_project: Johnson–Lindenstrauss Rademacher projection 64 → 8 dims.
  private val EmbDim = 64 // embeddings table dimensionality (TESTDATA.md)
  // IVF-PQ: the textbook 8 sub-quantizers × 256 centroids over 8-dim
  // sub-vectors (one byte per code). The sub-fits degrade k gracefully
  // when the corpus has fewer distinct sub-vectors than 256.
  private val PqM = 8
  private val PqDsub = EmbDim / PqM
  private val PqK = 256
  // emb_pq_codes (the bit-exact oracle entry) uses a small SAMPLED
  // codebook — the first PqSeedK vec_ids' sub-vectors — because a trained
  // codebook isn't SQL-expressible; the assignment arithmetic it pins is
  // the same code path the trained quantizer runs.
  private val PqSeedK = 16
  private val RpDim = 8
  private val MrlDim = 16 // emb_slice_renorm: matryoshka prefix dims

  /** ann_opq's rotation rides the PERSISTED [[graft.operators.OpqModel]]
    * artifact (round 12): a stable model root per testdata dir,
    * fingerprint-stamped versions, staleness supersede — so the R an
    * index was encoded under is a real on-disk object any process can
    * load, not an in-process memo. The ConcurrentHashMap is now just an
    * L1 over the artifact (reps of the entry skip even the parquet
    * read); a changed corpus re-keys the L1 AND supersedes the artifact
    * with a new version. Unreadable fingerprints fall through uncached
    * and unpersisted. */
  private val opqCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()
  private def opqRotation(
      e: DataFrame, dir: String): Array[Double] = {
    val fp =
      try Some(ArtifactCache.fingerprintOf(
        java.nio.file.Paths.get(dir, "embeddings.parquet")))
      catch { case scala.util.control.NonFatal(_) => None }
    fp match {
      case Some(f) =>
        val k = s"$dir|$f"
        opqCache.keySet.removeIf(o => o.startsWith(s"$dir|") && o != k)
        opqCache.computeIfAbsent(k, _ =>
          graft.operators.OpqModel.ensure(
            e.sparkSession, opqModelRoot(dir), f)(
            graft.operators.OpqRotation.fit(e, m = PqM, kCodes = PqK))._1)
      case None => graft.operators.OpqRotation.fit(e, m = PqM, kCodes = PqK)
    }
  }

  /** The stable OpqModel root for a testdata dir (NOT fingerprint-keyed:
    * the root must survive corpus changes so a grown corpus supersedes
    * IN PLACE as the next version, which is the staleness contract). */
  private def opqModelRoot(dir: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft-opqmodel-$key").toString
  }

  /** Build-and-save the persisted OPQ-ROTATED IVF-PQ index once per
    * testdata dir — the rotation artifact is fit (or loaded) first, the
    * index is built over the rotated corpus with the frame PINNED inside
    * the index dir, and ann_opq then exercises the full serving path:
    * load from disk in whatever process, probe with RAW queries. */
  private def ensureOpqIndex(s: SparkSession, dir: String): String =
    ensureEmbArtifact(s, dir,
      ArtifactCache.Kind("graft-opqidx", "pq_codes", 1)) { staging =>
      val e = embOf(s, dir)
      graft.operators.PqIndex
        .build(e, m = PqM, kCodes = PqK,
          rotation = Some(opqRotation(e, dir)))
        .save(staging)
    }
  /** 1/√k JL scaling, inlined as the SAME double literal in both engines
    * (Scala's shortest-round-trip toString parses back bit-identically). */
  private val RpScale: Double = 1.0 / math.sqrt(RpDim)

  /** ±1 Rademacher weight from md5 parity — deterministic, so the DuckDB
    * oracle inlines the IDENTICAL matrix (the rhpSign trick, its own seed
    * family). */
  private def rpSign(j: Int, i: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp_${j}_$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if ((h(0) & 1) == 1) 1.0 else -1.0
  }

  /** Codegen'd fused-loop dot; same left fold as the SQL rendering. */
  private def dot(a: Column, b: Column): Column =
    graft.exprs.functions.dot_product(a, b)

  /** Vector L2 norm — compute ONCE per vector and carry as a column; never
    * re-derive inside a pairwise comparison. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity with deterministic fold order (arrays of double). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine from a pair dot and precomputed norms (identical bits to
    * [[cosine]]: same values, same operation order). */
  def cosinePre(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** DuckDB rendering of the same computation, same fold order. */
  def cosineSql(a: String, b: String): String = {
    def dotSql(x: String, y: String) =
      s"list_reduce(list_transform(range(1, len($x) + 1), i -> $x[i] * $y[i]), (acc, v) -> acc + v)"
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"
  }

  /** Build-and-save the persisted IVF index once per testdata dir, keyed
    * by the embeddings parquet's fingerprint (the ArtifactCache
    * discipline: staging dir + atomic rename, so concurrent builders race
    * benignly and a crashed build is never mistaken for an index). The
    * ann_ivf_persisted query then exercises LOAD + PROBE — the serving
    * path — against it. */
  private def ensureIndex(s: SparkSession, dir: String): String =
    ensureEmbArtifact(s, dir,
      ArtifactCache.Kind("graft-ivfidx", "centroids", 1)) { staging =>
      graft.operators.IvfIndex.build(embOf(s, dir)).save(staging)
    }

  /** Build-and-save the persisted IVF-PQ index once per testdata dir —
    * the serving artifact dedup_semantic_pq probes (√n coarse sizing,
    * the corpus-probe contract SCALING.md prices). */
  private[graft] def ensurePqIndex(s: SparkSession, dir: String): String =
    ensureEmbArtifact(s, dir,
      ArtifactCache.Kind("graft-pqidx", "pq_codes", 1)) { staging =>
      val e = embOf(s, dir)
      val n = e.count()
      val coarseK = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
      graft.operators.PqIndex
        .build(e, m = PqM, kCodes = PqK, coarseK = coarseK)
        .save(staging)
    }

  private def embOf(s: SparkSession, dir: String) =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** [[graft.util.ArtifactCache]] keyed to this dir's embeddings parquet. */
  private def ensureEmbArtifact(
      s: SparkSession, dir: String, kind: ArtifactCache.Kind)(
      build: String => Unit): String =
    ArtifactCache.ensure(
      java.nio.file.Paths.get(dir, "embeddings.parquet"), kind)(build)

  // text_hash_embed: hashing-trick featurizer dimensionality. 16 buckets =
  // one hex digit of md5(token), so the bucket function costs a single
  // digest slice and the oracle can mirror it with one instr() lookup.
  private val HashDim = 16

  /** Hashing-trick document embedding (feature hashing, Weinberger et al.
    * 2009): token → md5 → bucket (first hex digit), per-doc bucket counts,
    * L2-normalized — a model-free text featurizer that gives every document
    * a dense vector for clustering / similarity / quality probes without an
    * embedding model in the loop. Scale shape: explode is linear, the ONE
    * exchange is a groupBy(doc_id) whose partial-aggregation state is 16
    * longs per doc (map-side combine collapses each task to its distinct
    * doc set), and the normalize is a pure codegen projection — no HOFs
    * (ArrayTransform/ArrayAggregate are CodegenFallback; the 16 explicit
    * sum/divide columns stay inside whole-stage codegen). Bit-exactness vs
    * the oracle: counts are exact integers in double, the norm is the SAME
    * left-assoc sum of squares both sides, and each element divides by that
    * one norm — every operation has a bit-identical DuckDB twin. */
  def hashEmbed(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").filter(col("text").isNotNull)
    val buckets = d
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 1), 16, 10).cast("int").as("b"))
    val counted = buckets.groupBy("doc_id").agg(
      sum(when(col("b") === 0, 1L).otherwise(0L)).cast("double").as("c0"),
      (1 until HashDim).map(i =>
        sum(when(col("b") === i, 1L).otherwise(0L)).cast("double")
          .as(s"c$i")): _*)
    val sumSq = (0 until HashDim).map(i => col(s"c$i") * col(s"c$i"))
      .reduceLeft(_ + _) // left-assoc, same order as the oracle's + chain
    counted.withColumn("nrm", sqrt(sumSq))
      .select(col("doc_id"),
        array((0 until HashDim).map(i => col(s"c$i") / col("nrm")): _*)
          .as("emb"))
  }

  /** Squared L2, driver-side (used only on the tiny query set). */
  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Scored IVF k-means candidates (q_id, n_id, cosine) for the NumQueries
    * query vectors probing their `nProbe` nearest of 8 cells — the
    * parameterized core of `ann_ivf_kmeans`, exposed so the recall/probe
    * trade-off is sweepable (AnnRecallSpec covers nProbe ∈ {1,2,4}). */
  def ivfKmeansCandidates(
      s: SparkSession, dir: String, nProbe: Int): DataFrame = {
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
    // The quantizer only needs a representative subset: train on a bounded
    // sample (~TrainTarget rows) so the fit cost stays flat as the table
    // grows — at 100TB a full-table k-means would dominate the query.
    val TrainTarget = 4096.0
    val n = e.count()
    val train =
      if (n <= TrainTarget) e
      else e.sample(withReplacement = false, TrainTarget / n, seed = 42)
    // Round 18 (guide §1.2 — remove passes): MLlib's KMeans fit launched
    // ~30 sub-second jobs per build (k-means|| init rounds + one
    // aggregate per iteration) — at this k and sample bound the cost is
    // pure job-launch overhead, and the bench re-fits per invocation.
    // The sample is driver-bounded by construction, so collect it once
    // and run the SAME deterministic driver-side Lloyd the PQ/OPQ
    // codebooks already use (PqIndex.fitLloyd, vec_id-sorted input);
    // assignment becomes one codegen'd pq_encode pass (m=1 ≡
    // nearest-centroid, lowest-index tie-break) instead of the MLlib
    // transform. Recall bands (AnnRecallSpec) and the external rerank
    // band gate the centroid-quality change.
    val IvfK = 8
    val pts = train.select("vec_id", "v").collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val centers = graft.operators.PqIndex.fitLloyd(pts, IvfK, 20)
    val assigned = e.select(col("vec_id"), col("v"), col("nrm"),
      (element_at(graft.exprs.functions.pq_encode(
        col("v"), centers.flatten, 1, centers.length), 1))
        .as("cell"))
    // queries are the small side by definition: collect them, rank cells
    // on the driver, broadcast the (q, probed-cell) pairs
    val qRows = assigned.filter(col("vec_id") < NumQueries)
      .select("vec_id", "v", "nrm").collect()
    val probeRows = qRows.flatMap { r =>
      val qv = r.getSeq[Double](1).toArray
      centers.zipWithIndex
        .map { case (c, i) => (dist2(c, qv), i) }
        .sortBy(_._1).take(nProbe)
        .map { case (_, cell) =>
          (r.getLong(0), cell, qv.toSeq, r.getDouble(2)) }
    }
    import s.implicits._
    val probes = probeRows.toSeq
      .toDF("q_id", "cell", "qv", "qnrm")
    assigned.select(col("vec_id").as("n_id"), col("cell"),
        col("v").as("nv"), col("nrm"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cosine",
        cosinePre(col("qv"), col("nv"), col("qnrm"), col("nrm")))
      .select("q_id", "n_id", "cosine")
  }

  val queries: Map[String, Q] = Map(
    // True IVF: k-means coarse quantizer (MLlib), nProbe=2 multi-probe
    // search. The big side is hash-partitioned by cell; only probed cells
    // are scanned (a fraction k/nProbe of the data at scale). Train on a
    // sample at 100TB — the quantizer needs only a representative subset.
    // No DuckDB oracle (k-means isn't SQL-expressible) → rows-only check;
    // recall vs brute force is asserted in AnnRecallSpec.
    "ann_ivf_kmeans" -> { (s, dir) =>
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("n_id"))
      ivfKmeansCandidates(s, dir, nProbe = 2)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .select("q_id", "n_id", "rank", "cosine")
        .orderBy("q_id", "rank")
    },

    // Brute-force cosine top-k: broadcast the (small) query set, stream over
    // all candidates — one pass, no shuffle of the big side.
    "ann_cosine_topk" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", norm(col("v"))) // once per vector, not per pair
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("n_id"))
      e.select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm"))
        .crossJoin(broadcast(q))
        .filter(col("n_id") =!= col("q_id"))
        .withColumn("cosine",
          cosinePre(col("qv"), col("nv"), col("qnrm"), col("nrm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .select("q_id", "n_id", "rank", "cosine")
        .orderBy("q_id", "rank")
    },

    // IVF-style ANN: probe only the query's own coarse cell (label column as
    // the IVF cell id) — the 100TB scale path: candidates shrink by the
    // number of cells; recall trades against probes.
    "ann_ivf_topk" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", norm(col("v")))
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("label"),
          col("v").as("qv"), col("nrm").as("qnrm"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("n_id"))
      e.select(col("vec_id").as("n_id"), col("label"), col("v").as("nv"), col("nrm"))
        .join(broadcast(q), Seq("label"))
        .filter(col("n_id") =!= col("q_id"))
        .withColumn("cosine",
          cosinePre(col("qv"), col("nv"), col("qnrm"), col("nrm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .select("q_id", "label", "n_id", "rank", "cosine")
        .orderBy("q_id", "rank")
    },

    // IVF with a PERSISTED index ([[graft.operators.IvfIndex]]): the
    // serving path — load centroids + cell-partitioned lists from disk,
    // probe the 2 nearest cells. Static partition pruning means the scan
    // touches only the probed cells' files (~nProbe/k of the data at any
    // scale). Build+save happen once per testdata dir (fingerprint cache);
    // the measured query is load + probe. No DuckDB oracle (k-means) →
    // rows-only check; exhaustive-probe parity vs brute force is asserted
    // in IvfIndexSpec.
    "ann_ivf_persisted" -> { (s, dir) =>
      val idx = graft.operators.IvfIndex.load(s, ensureIndex(s, dir))
      val q = Tables(s, dir, "embeddings")
        .filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"),
          col("embedding").cast("array<double>").as("qv"))
      graft.operators.IvfIndex.probe(idx, q, nProbe = 2, topK = TopK)
        .orderBy("q_id", "rank")
    },

    // FILTERED vector search over the PERSISTED index (round 13): top-k
    // among the vectors a metadata predicate allows (label % 2 = 0) —
    // post-filter-then-rank as a semi-join on the probed cells
    // ([[graft.operators.IvfIndex.probeFiltered]]), so the predicate
    // composes with partition pruning and needs no over-fetch. Run
    // EXHAUSTIVE (nProbe = k) the result is exactly the filtered
    // brute-force ranking — which is what makes this entry ORACLE-EXACT
    // while still exercising the persisted load + filter + rank serving
    // path; smaller nProbe is the usual recall/cost dial (spec'd).
    "ann_filtered_persisted" -> { (s, dir) =>
      val idx = graft.operators.IvfIndex.load(s, ensureIndex(s, dir))
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"),
          col("embedding").cast("array<double>").as("qv"))
      val allowed = e.filter(col("label") % 2 === 0).select("vec_id")
      graft.operators.IvfIndex.probeFiltered(idx, q, allowed,
          nProbe = idx.k, topK = TopK)
        .orderBy("q_id", "rank")
    },

    // IVF-PQ ([[graft.operators.PqIndex]]): the memory-bounded ANN rung —
    // coarse cells + residual-quantized codes (PqM bytes/vector), ADC
    // lookup-table scan that never reads a float vector, then an exact
    // re-rank of the 4×TopK ADC shortlist (the FAISS serving shape; the
    // synthetic embeddings' top-5 cosine margins are SMALLER than any
    // 8-byte quantizer's noise floor, so the shortlist-contains /
    // rerank-orders split is what makes 8-byte codes usable at all). No
    // DuckDB oracle (two layers of k-means) → rows-only; recall@5 vs
    // brute force is asserted in AnnPqSpec, and the CODE-ASSIGNMENT
    // arithmetic is oracle-pinned bit-exactly by emb_pq_codes below.
    "ann_ivf_pq" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val idx = graft.operators.PqIndex.build(e, m = PqM, kCodes = PqK)
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      graft.operators.PqIndex
        .adcProbe(idx, q, nProbe = 2, topK = TopK, rerank = 4 * TopK)
        .orderBy("q_id", "rank")
    },

    // IVF-PQ over an OPQ-rotated corpus (operators/OpqRotation.scala):
    // the learned orthogonal rotation balances variance across the PQ
    // sub-spaces before the SAME index machinery runs — cosines are
    // rotation-invariant, so the exact rerank output stays externally
    // checkable against the RAW embeddings (the shared ANN rerank band in
    // oracle_check.py re-derives every reported cosine and rank from the
    // unrotated table). Candidate selection quality changes (that's the
    // point); candidate SCORING provably does not. Round 12: the entry
    // exercises the full PERSISTED serving path — the rotation is a
    // versioned OpqModel artifact, the index pins its encoding frame on
    // disk, and the probe takes RAW queries (the index rotates them at
    // the boundary) — so what the oracle band checks is exactly what a
    // fresh process serving this index would answer.
    "ann_opq" -> { (s, dir) =>
      val idx = graft.operators.PqIndex.load(s, ensureOpqIndex(s, dir))
      val q = Tables(s, dir, "embeddings")
        .filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"),
          col("embedding").cast("array<double>").as("qv"))
      graft.operators.PqIndex
        .adcProbe(idx, q, nProbe = 2, topK = TopK, rerank = 4 * TopK)
        .orderBy("q_id", "rank")
    },

    // MatVec kernel pin (the OPQ rotation's apply path) under the oracle
    // gate: a SIGNED PERMUTATION matrix (entries 0/±1 — orthogonal, and
    // exactly representable) makes the mat-vec product exact float
    // arithmetic in both engines, so the kernel's row-major indexing,
    // fold order, and sign handling hash bit-for-bit against SQL that
    // states y[i] = ±v[p(i)] independently. The trained-rotation path
    // (ann_opq) reuses this arithmetic unchanged.
    "emb_matvec_signedperm" -> { (s, dir) =>
      val d = EmbDim
      val r = new Array[Double](d * d)
      for (i <- 0 until d)
        r(i * d + (7 * i) % d) = if (i % 2 == 0) 1.0 else -1.0
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), graft.exprs.functions.mat_vec(
          col("embedding").cast("array<double>"), r, d, d).as("ys"))
        .select(col("vec_id"), posexplode(col("ys")).as(Seq("i", "y")))
        .orderBy("vec_id", "i")
    },

    // PQ code assignment with a DETERMINISTIC sampled codebook (the
    // k-means-free init every PQ trainer starts from: codebook = the
    // sub-vectors of the first PqK vec_ids): nearest-codebook-entry
    // assignment per sub-space, argmin by (d2 asc, code asc). This pins
    // the ENCODE arithmetic — sub-vector slicing, the left-fold squared
    // distance, the tie-break — bit-for-bit against DuckDB, which the
    // k-means-fit path (ann_ivf_pq) then reuses unchanged. Same explode →
    // broadcast-join → partial-argmin shape as the real encoder.
    "emb_pq_codes" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val sv = e.select(col("vec_id"), posexplode(
          transform(sequence(lit(0), lit(PqM - 1)),
            mm => slice(col("v"), mm * PqDsub + 1, lit(PqDsub))))
          .as(Seq("sub", "sv")))
      val seeds = sv.filter(col("vec_id") < PqSeedK)
        .withColumn("code", (row_number().over(
          Window.partitionBy(col("sub")).orderBy(col("vec_id"))) - 1)
          .cast("long"))
        .select(col("sub"), col("sv").as("cv"), col("code"))
      sv.join(broadcast(seeds), "sub")
        .withColumn("d2",
          aggregate(zip_with(col("sv"), col("cv"),
            (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
        .groupBy("vec_id", "sub")
        .agg(min(struct(col("d2"), col("code"))).as("best"))
        .select(col("vec_id"), col("sub").cast("long").as("sub"),
          col("best.code").as("code"))
        .orderBy("vec_id", "sub")
    },

    // Matryoshka-style prefix truncation + renorm (MRL, Kusupati et al.
    // 2022 — public literature): keep the first MrlDim dims and
    // renormalize to unit length — the serving-tier move for embeddings
    // trained with nested prefixes (a cheap-tier ANN index probes the
    // 16-dim prefix at 1/4 the bytes and flops; the full vector reranks).
    // Complementary to emb_project: JL mixes ALL dims through a random
    // matrix (any embedding), MRL slices a trained prefix (matryoshka
    // embeddings). Scale shape: a pure codegen projection at scan speed
    // — slice, one fused-fold norm, MrlDim divisions; no exchange but
    // the output sort. Bit-exact oracle: the slice is positional, the
    // norm is the SAME left fold both engines, each element divides by
    // that one norm, and an (impossible-here but guarded) zero-norm
    // prefix yields NULLs identically instead of Inf/NaN.
    "emb_slice_renorm" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val sliced = e.withColumn("sv", slice(col("v"), 1, MrlDim))
        .withColumn("nrm", norm(col("sv")))
      sliced.select(col("vec_id") +:
        (0 until MrlDim).map(i =>
          when(col("nrm") === 0.0, lit(null).cast("double"))
            .otherwise(element_at(col("sv"), i + 1) / col("nrm"))
            .as(s"m$i")): _*)
        .orderBy("vec_id")
    },

    // Johnson–Lindenstrauss random projection: 64-d embeddings down to 8
    // dims via a deterministic ±1 Rademacher matrix, scaled 1/√k — the
    // standard dimensionality-reduction pre-step for ANN indexing and
    // coarse clustering (pairwise distances preserved within 1±ε whp;
    // EmbProjectSpec asserts the preservation empirically). Scale shape: a
    // pure codegen projection — 8 fused dot folds per row inside the scan
    // stage, no exchange but the output sort; at 100 TB this runs at scan
    // throughput and cuts every downstream pairwise op's work 8×.
    "emb_project" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val projected = (0 until RpDim).map { j =>
        (dot(col("v"),
          array((0 until EmbDim).map(i => lit(rpSign(j, i))): _*))
          * lit(RpScale)).as(s"p$j")
      }
      e.select(col("vec_id") +: projected: _*).orderBy("vec_id")
    },

    // Scalar int8 quantization — the compression step an embedding-serving
    // tier runs before shipping vectors to an index: per-dimension min/max
    // (a 64-row broadcast at any corpus size), then q = floor((x-lo)/
    // (hi-lo)*255). Output is the per-dimension quantization audit (range +
    // exact BIGINT moments of the quantized codes), which pins every single
    // code bit-for-bit against the oracle without materializing the n×64
    // code table into the result. Scale shape: posexplode is linear, the
    // range aggregate partial-aggregates map-side to 64 rows, the re-join
    // is broadcast, and the final aggregate reuses the explode's
    // partitioning story — all-int sums are order-independent.
    "emb_quantize" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val dims = e.select(col("vec_id"),
        posexplode(col("v")).as(Seq("dim", "x")))
        .withColumn("dim", col("dim").cast("long"))
      val ranges = dims.groupBy("dim")
        .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      dims.join(broadcast(ranges), "dim")
        .withColumn("q",
          when(col("hi") === col("lo"), lit(0L))
            .otherwise(floor((col("x") - col("lo")) / (col("hi") - col("lo"))
              * 255).cast("long")))
        .groupBy("dim")
        .agg(min(col("lo")).as("lo"), min(col("hi")).as("hi"),
          count(lit(1)).as("n"),
          sum(col("q")).as("sum_q"),
          sum(col("q") * col("q")).as("sum_q2"))
        .orderBy("dim")
    },

    // Hashing-trick document embeddings (see [[hashEmbed]]) — the
    // model-free text→vector bridge between the text family and the
    // ANN/dedup embedding family. Output is flattened to scalar columns
    // (the emb_project precedent) so the driver's column-sorted hash
    // compares cell scalars, not array renderings.
    "text_hash_embed" -> { (s, dir) =>
      val e = hashEmbed(s, dir)
      e.select(col("doc_id") +:
        (0 until HashDim).map(i =>
          element_at(col("emb"), i + 1).as(s"e$i")): _*)
        .orderBy("doc_id")
    },

    // Text-to-text similarity search with NO embedding model: hash-embed
    // every document, broadcast the (tiny) query set, brute-force cosine
    // top-k in one pass over the corpus — same plan shape as
    // ann_cosine_topk (broadcast small side, stream the big side, no
    // shuffle of the corpus until the per-query top-k window). The vectors
    // are unit-norm by construction, so the dot IS the cosine.
    "ann_text_topk" -> { (s, dir) =>
      val e = hashEmbed(s, dir)
      val q = e.filter(col("doc_id") < NumQueries)
        .select(col("doc_id").as("q_id"), col("emb").as("qv"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("n_id"))
      e.select(col("doc_id").as("n_id"), col("emb").as("nv"))
        .crossJoin(broadcast(q))
        .filter(col("n_id") =!= col("q_id"))
        .withColumn("cosine", dot(col("qv"), col("nv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .select("q_id", "n_id", "rank", "cosine")
        .orderBy("q_id", "rank")
    }
  )

  val oracle: Map[String, String] = Map(
    // Independent statement of the signed-permutation product: the 0/±1
    // matrix makes every output element exact (±v[p(i)] plus exact +0.0
    // accumulation — the `0.0 +` mirrors the kernel's fold so even a
    // -0.0 input element folds to identical bits in both engines).
    "emb_matvec_signedperm" ->
      s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |idx AS (SELECT range::INT AS i FROM range(0, $EmbDim))
         |SELECT vec_id, i,
         |  0.0 + (CASE WHEN i % 2 = 0 THEN 1.0 ELSE -1.0 END)
         |    * v[((7 * i) % $EmbDim) + 1] AS y
         |FROM d, idx ORDER BY vec_id, i""".stripMargin,

    "ann_cosine_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT q.q_id, e.vec_id AS n_id,
         |    ${cosineSql("q.qv", "e.v")} AS cosine
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         |ranked AS (
         |  SELECT q_id, n_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
         |  FROM scored)
         |SELECT q_id, n_id, rank, cosine FROM ranked
         |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,

    "ann_ivf_topk" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, label, v AS qv FROM e WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT q.q_id, q.label, e.vec_id AS n_id,
         |    ${cosineSql("q.qv", "e.v")} AS cosine
         |  FROM e JOIN q ON e.label = q.label WHERE e.vec_id <> q.q_id),
         |ranked AS (
         |  SELECT q_id, label, n_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
         |  FROM scored)
         |SELECT q_id, label, n_id, rank, cosine FROM ranked
         |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,

    // exhaustive probes make the persisted filtered search the exact
    // filtered brute-force ranking — restated directly
    "ann_filtered_persisted" ->
      s"""WITH e AS (SELECT vec_id, label,
         |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |  WHERE vec_id < $NumQueries),
         |a AS (SELECT vec_id, v FROM e WHERE label % 2 = 0),
         |scored AS (
         |  SELECT q.q_id, a.vec_id AS n_id,
         |    ${cosineSql("q.qv", "a.v")} AS cosine
         |  FROM a CROSS JOIN q WHERE a.vec_id <> q.q_id),
         |ranked AS (
         |  SELECT q_id, n_id, cosine,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, n_id) AS rank
         |  FROM scored)
         |SELECT q_id, n_id, rank, cosine FROM ranked
         |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,

    "emb_pq_codes" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sv AS (SELECT vec_id, m,
         |    list_slice(v, m * $PqDsub + 1, m * $PqDsub + $PqDsub) AS s
         |  FROM e, (SELECT unnest(range(0, $PqM)) AS m)),
         |cbi AS (SELECT m, s AS c,
         |    CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1
         |      AS BIGINT) AS code
         |  FROM sv WHERE vec_id < $PqSeedK),
         |d AS (SELECT sv.vec_id, sv.m, cbi.code,
         |    list_reduce(list_transform(range(1, ${PqDsub + 1}),
         |      i -> (sv.s[i] - cbi.c[i]) * (sv.s[i] - cbi.c[i])),
         |      (acc, x) -> acc + x) AS d2
         |  FROM sv JOIN cbi ON sv.m = cbi.m)
         |SELECT vec_id, CAST(m AS BIGINT) AS sub, code FROM (
         |  SELECT vec_id, m, code,
         |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rk
         |  FROM d)
         |WHERE rk = 1 ORDER BY vec_id, sub""".stripMargin,

    "emb_slice_renorm" -> {
      def dotSql16(x: String) =
        s"list_reduce(list_transform(range(1, ${MrlDim + 1}), " +
          s"i -> $x[i] * $x[i]), (acc, v) -> acc + v)"
      val cols = (0 until MrlDim).map(i =>
        s"CASE WHEN nrm = 0.0 THEN NULL ELSE sv[${i + 1}] / nrm END AS m$i")
        .mkString(",\n  ")
      s"""WITH e AS (SELECT vec_id,
         |    list_slice(CAST(embedding AS DOUBLE[]), 1, $MrlDim) AS sv
         |  FROM embeddings),
         |n AS (SELECT vec_id, sv, sqrt(${dotSql16("sv")}) AS nrm FROM e)
         |SELECT vec_id,
         |  $cols
         |FROM n ORDER BY vec_id""".stripMargin
    },

    "emb_project" -> {
      val terms = (0 until RpDim).map { j =>
        val ws = (0 until EmbDim)
          .map(i => if (rpSign(j, i) > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")
        s"list_reduce(list_transform(range(1, ${EmbDim + 1}), " +
          s"i -> v[i] * ($ws)[i]), (acc, x) -> acc + x) * $RpScale AS p$j"
      }
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT vec_id,
         |  ${terms.mkString(",\n  ")}
         |FROM e ORDER BY vec_id""".stripMargin
    },

    "emb_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS dim,
        |  unnest(v) AS x FROM e),
        |r AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM d GROUP BY 1),
        |q AS (SELECT d.vec_id, d.dim,
        |  CASE WHEN r.hi = r.lo THEN 0
        |    ELSE CAST(floor((d.x - r.lo) / (r.hi - r.lo) * 255) AS BIGINT)
        |  END AS q
        |  FROM d JOIN r USING (dim))
        |SELECT dim, min(r.lo) AS lo, min(r.hi) AS hi, count(*) AS n,
        |  CAST(sum(q.q) AS BIGINT) AS sum_q,
        |  CAST(sum(q.q * q.q) AS BIGINT) AS sum_q2
        |FROM q JOIN r USING (dim)
        |GROUP BY dim ORDER BY dim""".stripMargin,

    "text_hash_embed" -> {
      val cols = (0 until HashDim)
        .map(i => s"c[${i + 1}] / nrm AS e$i").mkString(",\n  ")
      s"""WITH $hashEmbedCte
         |SELECT doc_id,
         |  $cols
         |FROM n ORDER BY doc_id""".stripMargin
    },

    "ann_text_topk" -> {
      def dotSql(x: String, y: String) =
        s"list_reduce(list_transform(range(1, ${HashDim + 1}), " +
          s"i -> $x[i] * $y[i]), (acc, x) -> acc + x)"
      s"""WITH $hashEmbedCte,
         |v AS (SELECT doc_id, $hashEmbedDivs AS emb FROM n),
         |q AS (SELECT doc_id AS q_id, emb AS qv FROM v
         |  WHERE doc_id < $NumQueries),
         |scored AS (
         |  SELECT q.q_id, v.doc_id AS n_id,
         |    ${dotSql("q.qv", "v.emb")} AS cosine
         |  FROM v CROSS JOIN q WHERE v.doc_id <> q.q_id),
         |ranked AS (
         |  SELECT q_id, n_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
         |  FROM scored)
         |SELECT q_id, n_id, rank, cosine FROM ranked
         |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin
    }
  )

  /** DuckDB CTE chain mirroring [[hashEmbed]] bit-for-bit: tokens → first
    * md5 hex digit as bucket → 16 count_if counts as doubles → the same
    * left-assoc sum-of-squares norm. Ends at CTE `n` (doc_id, c, nrm). */
  private def hashEmbedCte: String = {
    val counts = (0 until HashDim)
      .map(i => s"CAST(count_if(b = $i) AS DOUBLE)").mkString("[", ", ", "]")
    val sumSq = (1 to HashDim).map(i => s"c[$i] * c[$i]").mkString(" + ")
    s"""t AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
       |  FROM documents WHERE text IS NOT NULL),
       |bk AS (SELECT doc_id,
       |  instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS b FROM t),
       |cnt AS (SELECT doc_id, $counts AS c FROM bk GROUP BY doc_id),
       |n AS (SELECT doc_id, c, sqrt($sumSq) AS nrm FROM cnt)""".stripMargin
  }

  /** The normalized-embedding list literal over [[hashEmbedCte]]'s `n`. */
  private def hashEmbedDivs: String =
    (1 to HashDim).map(i => s"c[$i] / nrm").mkString("[", ", ", "]")
}
