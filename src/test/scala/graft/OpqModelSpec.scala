package graft

import graft.operators.{IvfIndex, OpqModel, OpqRotation, PqIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted OPQ rotation (round-12 directive #1): R as a versioned,
  * fingerprint-stamped artifact with staleness supersede, pinned INSIDE
  * any index built over it — so a rotated persisted index is servable by
  * a fresh process with no refit, and a post-growth refit can never
  * silently mis-rotate probes against codes encoded under the old R. */
class OpqModelSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def emb = graft.util.Tables(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  test("artifact lifecycle: roundtrip, fresh-fingerprint load without refit, staleness supersede, version pinning") {
    val root = tmp("graft-opqmodel")
    val r = OpqRotation.fit(emb, m = 8, kCodes = 16)
    val v1 = OpqModel.save(spark, r, root, Some("fp-A"))
    assert(OpqModel.load(spark, root).sameElements(r),
      "save/load must round-trip the matrix bit-exactly")
    assert(OpqModel.fingerprintOf(root, v1) === Some("fp-A"))

    // matching fingerprint: the fit thunk must NOT run (no refit)
    var fits = 0
    val (r2, v2) = OpqModel.ensure(spark, root, "fp-A") { fits += 1; r }
    assert(fits === 0, "a fresh artifact must be loaded, never refit")
    assert(v2 === v1 && r2.sameElements(r))

    // changed fingerprint (grown corpus): supersede with a NEW version;
    // the version an existing index was encoded under stays loadable
    val rNeg = r.map(-_)
    val (r3, v3) = OpqModel.ensure(spark, root, "fp-B") { fits += 1; rNeg }
    assert(fits === 1 && v3 === v1 + 1)
    assert(r3.sameElements(rNeg))
    assert(OpqModel.loadVersion(spark, root, v1).sameElements(r),
      "superseding must not destroy the pinned old version")
    assert(OpqModel.load(spark, root).sameElements(rNeg))
    assert(OpqModel.fingerprintOf(root, v3) === Some("fp-B"))

    // an unstamped latest version is STALE by policy (unknown != fresh)
    val v4 = OpqModel.save(spark, r, root)
    val (_, v5) = OpqModel.ensure(spark, root, "fp-C") { fits += 1; r }
    assert(fits === 2 && v5 === v4 + 1,
      "unknown staleness must supersede, not be trusted as fresh")
  }

  test("rotated persisted index: a fresh process probes bit-identically with NO refit, queries arrive RAW") {
    val dir = tmp("graft-opqidx-spec")
    val r = OpqRotation.fit(emb, m = 8, kCodes = 16)
    val built = PqIndex.build(emb, m = 8, kCodes = 16, coarseK = 4,
      rotation = Some(r))
    built.save(dir)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "rotation")),
      "the encoding frame must travel with the index")

    // RAW queries — the index owns the frame, callers never rotate
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getInt(2), x.getDouble(3)))
        .toSeq
    val want = rows(PqIndex.adcProbe(built, q, nProbe = 2, topK = 5,
      rerank = 20))
    assert(want.nonEmpty)

    // "fresh process": everything reconstructed from disk alone
    val loaded = PqIndex.load(spark, dir)
    assert(loaded.rotation.exists(_.sameElements(r)),
      "load must recover the exact frame the codes were encoded under")
    assert(rows(PqIndex.adcProbe(loaded, q, nProbe = 2, topK = 5,
      rerank = 20)) === want,
      "fresh-process adcProbe must be bit-identical, no refit anywhere")
    assert(rows(PqIndex.probeAll(loaded, q, nProbe = 2, topK = 5,
      rerank = 20)) === want,
      "the executor-side batch probe must agree in the rotated frame too")
  }

  test("frame consistency through maintenance: raw upserts land rotated; removeVectors carries the frame") {
    val dir = tmp("graft-opqmaint")
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    val r = OpqRotation.fit(half, m = 8, kCodes = 16)
    PqIndex.build(half, m = 8, kCodes = 16, coarseK = 4,
      rotation = Some(r)).save(dir)

    // upsert RAW vectors — appendVectors must rotate them into the frame
    val n = PqIndex.appendVectors(spark, dir, rest)
    assert(n === rest.count())

    // a probe FOR an upserted vector (raw query = its raw embedding, new
    // q_id so the self-filter doesn't drop it) must find that vector as
    // its exact-rerank top-1 with cosine ~1 — only possible if query and
    // upsert were rotated into the SAME frame
    val probeSrc = rest.limit(3).collect()
      .map(x => (x.getLong(0), x.getSeq[Double](1)))
    val idx = PqIndex.load(spark, dir)
    import spark.implicits._
    probeSrc.foreach { case (vid, v) =>
      val q = Seq((900000L + vid, v)).toDF("q_id", "qv")
      val top = PqIndex.adcProbe(idx, q, nProbe = 2, topK = 1, rerank = 8)
        .collect().head
      assert(top.getLong(1) === vid,
        s"the upserted vector $vid must be its own nearest neighbor")
      assert(top.getDouble(3) > 1.0 - 1e-9,
        s"self-cosine must be ~1, got ${top.getDouble(3)} — frame mismatch")
    }

    // a staged-generation commit (removeVectors) must CARRY the frame
    val victim = probeSrc.head._1
    assert(PqIndex.removeVectors(spark, dir, Seq(victim)) === 1L)
    val after = PqIndex.load(spark, dir)
    assert(after.rotation.exists(_.sameElements(r)),
      "the generation swap must not drop the rotation relation")
    // and the frame still serves: another upserted vector still self-probes
    val (vid2, v2) = probeSrc(1)
    val q2 = Seq((910000L + vid2, v2)).toDF("q_id", "qv")
    val top2 = PqIndex.adcProbe(after, q2, nProbe = 2, topK = 1, rerank = 8)
      .collect().head
    assert(top2.getLong(1) === vid2 && top2.getDouble(3) > 1.0 - 1e-9)

    // the OTHER generation-staging caller (splitCell, via rebalance)
    // must carry the frame too — force a split with a tight cap
    val rep = IvfIndex.rebalance(spark, dir, maxFrac = 0.2, maxSplits = 2)
    assert(rep.splits >= 1, "the cap must force at least one split")
    val split = PqIndex.load(spark, dir)
    assert(split.rotation.exists(_.sameElements(r)),
      "splitCell's generation swap must not drop the rotation relation")
    assert(split.coarse.k > after.coarse.k)
    val (vid3, v3) = probeSrc(2)
    val q3 = Seq((920000L + vid3, v3)).toDF("q_id", "qv")
    val top3 = PqIndex.adcProbe(split, q3,
        nProbe = split.coarse.k, topK = 1, rerank = 8)
      .collect().head
    assert(top3.getLong(1) === vid3 && top3.getDouble(3) > 1.0 - 1e-9,
      "raw self-probe must survive a split generation")
  }

  test("frame-pinned serving loop: LiveAnnServer and maintainVectors take RAW vectors end-to-end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val dir = tmp("graft-opqlive")
    val r = OpqRotation.fit(half, m = 8, kCodes = 16)
    PqIndex.build(half, m = 8, kCodes = 16, coarseK = 4,
      rotation = Some(r)).save(dir)

    // the WRITE half: a raw vector stream through the maintainer lands
    // in the pinned frame (no rotation code anywhere in the pipeline)
    val q = graft.streaming.IndexMaintainer.maintainVectors(
      { val m = MemoryStream[(Long, Seq[Double])]
        m.addData(rest: _*); m }.toDF().toDF("vec_id", "v"),
      "vec_id", "v", dir, tmp("graft-opqliveckpt"))
    try q.processAllAvailable() finally q.stop()

    // the READ half: LiveAnnServer probes with RAW queries — the loaded
    // index owns the frame, so an upserted vector self-probes at ~1
    val results = new java.util.concurrent.ConcurrentHashMap[
      Long, (Long, Double)]()
    val server = new graft.streaming.LiveAnnServer(
      spark, dir, nProbe = 2, topK = 1, rerank = 8)
    val mem = MemoryStream[(Long, Seq[Double])]
    val sq = server.serve(mem.toDF().toDF("q_id", "qv"), "q_id", "qv") {
      out => out.collect().foreach(x =>
        results.put(x.getLong(0), (x.getLong(1), x.getDouble(3))))
    }
    try {
      val (vid, v) = rest.head
      mem.addData((880000L + vid, v))
      sq.processAllAvailable()
      val (topId, cosine) = results.get(880000L + vid)
      assert(topId === vid,
        "a raw-upserted vector must be its own raw-queried top hit")
      assert(cosine > 1.0 - 1e-9, s"self-cosine $cosine — frame mismatch")
    } finally { sq.stop(); server.close() }
  }

  test("drift baseline persists and judges with zero bookkeeping: fresh ok, shifted rebuild, stationary ok") {
    val dir = tmp("graft-driftbase")
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    PqIndex.build(half, m = 8, kCodes = 16, coarseK = 4).save(dir)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "drift_baseline")),
      "save must snapshot the build-time baseline")

    val fresh = IvfIndex.driftVerdict(spark, dir)
    assert(fresh.verdict === "ok",
      s"a just-built index must judge ok, got ${fresh.verdict}")
    assert(fresh.baselineResidNorm.isDefined && fresh.baselineGap.isDefined)
    assert(fresh.perCell.nonEmpty)

    // stationary growth: not drift
    PqIndex.appendVectors(spark, dir,
      rest.select((col("vec_id") + 1000000L).as("vec_id"), col("v")))
    assert(IvfIndex.driftVerdict(spark, dir).verdict === "ok",
      "a stationary upsert must not trip the stored baseline")

    // off-distribution upsert: trips against the STORED baseline with no
    // operator-side snapshot anywhere in this test
    PqIndex.appendVectors(spark, dir,
      rest.select((col("vec_id") + 2000000L).as("vec_id"),
        transform(col("v"), x => x - lit(8.0)).as("v")))
    val drifted = IvfIndex.driftVerdict(spark, dir)
    assert(drifted.verdict === "rebuild",
      s"a shifted upsert must trip the verdict, got ${drifted.verdict}")
    assert(drifted.meanResidNorm >
      IvfIndex.ResidTripFactor * drifted.baselineResidNorm.get)

    // a REBUILD (save) refreshes the baseline — the new fit judges ok
    val all = PqIndex.load(spark, dir).coarse.assignments
      .select("vec_id", "v")
    val dir2 = tmp("graft-driftbase2")
    PqIndex.build(all, m = 8, kCodes = 16, coarseK = 4).save(dir2)
    assert(IvfIndex.driftVerdict(spark, dir2).verdict === "ok")

    // an index with no baseline says so rather than guessing
    graft.util.Publish.deleteRecursively(
      java.nio.file.Paths.get(dir2, "drift_baseline"))
    assert(IvfIndex.driftVerdict(spark, dir2).verdict === "no_baseline")
  }
}
