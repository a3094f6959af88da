package graft

import graft.operators.PackState
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Persisted cross-drop FFD pack state: drop N+1 continues drop N's open
  * bins (same seq numbering, cross-drop sequences), replay is
  * fingerprint-idempotent, compaction preserves training rows AND future
  * packing, geometry mismatches fail loudly, crash staging is invisible.
  */
class PackStateSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  // tiny geometry: L=8, one bucket — hand-checkable bin arithmetic.
  // closeBelow=0 explicitly: these tests hand-check the FULL bins
  // snapshot (the round-17 default of 2 retires rem<2 bins, which is
  // pinned separately below)
  private val P = PackState.Params(seqLen = 8, eosId = 98, padId = 99,
    buckets = 1, closeBelow = 0)

  private def rows(r: (Long, Seq[Int])*): DataFrame = {
    import spark.implicits._
    r.toSeq.toDF("doc_id", "token_ids")
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-packstate").toString

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("two drops pack into continued bins; training rows are the sequential replay") {
    val dir = tmp()
    // drop 1: doc 2 (5 ids → n_eff 6) visits first (FFD), opens bin 1
    // (rem 2); doc 0 (3 ids → n_eff 4) doesn't fit → bin 2 (rem 4)
    PackState.pack(spark, dir,
      rows(0L -> Seq(1, 2, 3), 2L -> Seq(4, 5, 6, 7, 8)), "d1", P)
    // drop 2: doc 3 (3 ids → n_eff 4) fits bin 2 exactly; doc 1 (1 id →
    // n_eff 2) fits bin 1 — both CONTINUE drop 1's bins
    val h = PackState.pack(spark, dir,
      rows(1L -> Seq(9), 3L -> Seq(10, 11, 12)), "d2", P)
    assert(h.version === 2L && h.nDocs === 4L)

    val tr = PackState.trainingRows(spark, h)
      .orderBy("bucket", "seq").collect()
    assert(tr.length === 2)
    // seq 1 = doc 2's prefix+EOS then doc 1's (visit order), full row
    assert(tr(0).getLong(1) === 1L && tr(0).getLong(2) === 2L &&
      tr(0).getLong(3) === 8L && tr(0).getLong(4) === 0L)
    assert(tr(0).getString(5) === md5("4,5,6,7,8,98,9,98"))
    // seq 2 = doc 0 then doc 3, also exactly full
    assert(tr(1).getLong(1) === 2L && tr(1).getLong(2) === 2L &&
      tr(1).getLong(3) === 8L && tr(1).getLong(4) === 0L)
    assert(tr(1).getString(5) === md5("1,2,3,98,10,11,12,98"))

    // the post-pack snapshot: both bins consumed to zero, 4 visits
    val b = PackState.bins(spark, h).orderBy("seq").collect()
    assert(b.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 0L), (2L, 0L)))
  }

  test("fingerprint replay is a no-op; over-long docs truncate to a full row") {
    val dir = tmp()
    val h1 = PackState.pack(spark, dir,
      rows(0L -> (1 to 20).toSeq), "d1", P) // 20 ids > L → truncated
    val replay = PackState.pack(spark, dir,
      rows(5L -> Seq(1)), "d1", P) // same fp, different content: no-op
    assert(replay.version === h1.version && replay.nDocs === 1L)
    val tr = PackState.trainingRows(spark, h1).collect()
    assert(tr.length === 1 && tr(0).getLong(3) === 8L)
    assert(tr(0).getString(5) === md5("1,2,3,4,5,6,7,98"))
  }

  test("compaction preserves training rows AND the next pack's behavior") {
    val dirA = tmp()
    val dirB = tmp()
    def packTwo(dir: String): Unit = {
      PackState.pack(spark, dir,
        rows(0L -> Seq(1, 2, 3), 2L -> Seq(4, 5, 6, 7, 8)), "d1", P)
      PackState.pack(spark, dir, rows(1L -> Seq(9)), "d2", P)
      ()
    }
    packTwo(dirA); packTwo(dirB)
    val before = PackState.trainingRows(spark, PackState.load(dirA, P))
      .orderBy("bucket", "seq").collect().toSeq
    val hc = PackState.compact(spark, dirA, P)
    assert(hc.deltas.size === 1 &&
      hc.fingerprints === Set("d1", "d2"))
    assert(PackState.trainingRows(spark, hc)
      .orderBy("bucket", "seq").collect().toSeq === before)
    assert(PackState.gc(dirA, P) === 2)

    // a third drop packs IDENTICALLY into the compacted and the
    // uncompacted twin — the snapshot carried over exactly
    val d3 = rows(5L -> Seq(20, 21, 22))
    PackState.pack(spark, dirA, d3, "d3", P)
    PackState.pack(spark, dirB, d3, "d3", P)
    assert(
      PackState.trainingRows(spark, PackState.load(dirA, P))
        .orderBy("bucket", "seq").collect().toSeq ===
        PackState.trainingRows(spark, PackState.load(dirB, P))
          .orderBy("bucket", "seq").collect().toSeq)
  }

  test("geometry mismatch fails loudly; crash staging is invisible and gc'd") {
    val dir = tmp()
    PackState.pack(spark, dir, rows(0L -> Seq(1)), "d1", P)
    val other = P.copy(seqLen = 16)
    val e = intercept[IllegalArgumentException] {
      PackState.load(dir, other)
    }
    assert(e.getMessage.contains("geometry"))

    val orphan = java.nio.file.Paths.get(dir, "staging-deadbeef")
    java.nio.file.Files.createDirectories(orphan)
    assert(PackState.load(dir, P).nDocs === 1L)
    assert(PackState.gc(dir, P) === 1)
    assert(!java.nio.file.Files.exists(orphan))
  }

  test("closeBelow retires full bins into closed/; training rows invariant when no closed bin could have accepted") {
    // drop 1 (both dirs): doc 2 (n_eff 6) → bin 1 (rem 2); doc 0
    // (n_eff 4) → bin 2 (rem 4). closeBelow=3 retires bin 1 at pack end.
    // drop 2's docs all have n_eff 4 > 2, so bin 1 could never have
    // accepted them — both states must produce IDENTICAL training rows.
    val pc = P.copy(closeBelow = 3)
    val d1 = rows(0L -> Seq(1, 2, 3), 2L -> Seq(4, 5, 6, 7, 8))
    val d2 = rows(1L -> Seq(9, 10, 11), 3L -> Seq(10, 11, 12))
    val dirC = tmp(); val dirO = tmp()
    PackState.pack(spark, dirC, d1, "d1", pc)
    PackState.pack(spark, dirO, d1, "d1", P)
    // the close rule is visible in the snapshot: bin 1 left the active
    // set for closed/, bin 2 stayed
    val hc1 = PackState.load(dirC, pc)
    assert(PackState.bins(spark, hc1).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq === Seq((2L, 4L)))
    assert(PackState.binsClosed(spark, hc1).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq === Seq((1L, 2L)))
    // closeBelow=0 keeps everything active, closes nothing
    val ho1 = PackState.load(dirO, P)
    assert(PackState.bins(spark, ho1).count() === 2L)
    assert(PackState.binsClosed(spark, ho1).count() === 0L)

    val hc = PackState.pack(spark, dirC, d2, "d2", pc)
    val ho = PackState.pack(spark, dirO, d2, "d2", P)
    assert(PackState.trainingRows(spark, hc)
      .orderBy("bucket", "seq").collect().toSeq ===
      PackState.trainingRows(spark, ho)
        .orderBy("bucket", "seq").collect().toSeq)
  }

  test("closeBelow=2 (the round-17 default) produces training rows identical to closeBelow=0 on any >=1-token input") {
    // closeBelow=2 retires only rem-0/rem-1 bins, which no doc with
    // n_ids >= 1 (n_eff >= 2) can ever fit — so packing is provably
    // identical. Adversarial mix: exact-fills (rem 0 bins), rem-1
    // leftovers, over-long truncations, singletons, across three drops.
    val p2 = P.copy(closeBelow = 2)
    val drops = Seq(
      "d1" -> rows(0L -> Seq(1, 2, 3, 4, 5, 6, 7), // n_eff 8: rem-0 bin
        2L -> Seq(1, 2, 3, 4, 5, 6), // n_eff 7 → new bin, rem 1
        4L -> (1 to 30).toSeq), // truncated to n_eff 8: another rem-0
      "d2" -> rows(1L -> Seq(9), 3L -> Seq(8, 7, 6, 5, 4)),
      "d3" -> rows(5L -> Seq(1), 7L -> Seq(2, 2), 9L -> Seq(3, 3, 3)))
    val dir2 = tmp(); val dir0 = tmp()
    var h2: PackState.Handle = null; var h0: PackState.Handle = null
    drops.foreach { case (fp, d) =>
      h2 = PackState.pack(spark, dir2, d, fp, p2)
      h0 = PackState.pack(spark, dir0, d, fp, P)
    }
    assert(PackState.trainingRows(spark, h2)
      .orderBy("bucket", "seq").collect().toSeq ===
      PackState.trainingRows(spark, h0)
        .orderBy("bucket", "seq").collect().toSeq)
    // and the close rule did fire — the equivalence is not vacuous
    assert(PackState.binsClosed(spark, h2).count() > 0L)
    assert(PackState.binsClosed(spark, h0).count() === 0L)
  }

  test("a manifest-referenced delta missing a REQUIRED leaf fails loudly instead of reading empty") {
    val dir = tmp()
    val h = PackState.pack(spark, dir, rows(0L -> Seq(1, 2, 3)), "d1", P)
    val bins = java.nio.file.Paths.get(dir, h.deltas.head.name, "bins")
    graft.util.Publish.deleteRecursively(bins)
    // reading the snapshot (as the next pack's seed would) must throw —
    // an empty-seed fallback would reuse seq numbers and corrupt rows
    val e = intercept[Exception] {
      PackState.bins(spark, h).collect()
    }
    assert(e.getMessage != null)
    // closed/ is required too: every pack writes it
    graft.util.Publish.deleteRecursively(
      java.nio.file.Paths.get(dir, h.deltas.head.name, "closed"))
    intercept[Exception] {
      PackState.binsClosed(spark, h).count()
    }
  }

  test("a closed bin is never reused; new bins continue the seq numbering past it") {
    // drop 1: doc 0 (n_eff 7) → bin 1 (rem 1); doc 2 (n_eff 6) doesn't
    // fit → bin 2 (rem 2). closeBelow=3 retires BOTH. drop 2's doc has
    // n_eff 2 — it WOULD fit bin 2, but the rule is pinned geometry:
    // it must open a NEW bin whose seq continues from nbins (3), not
    // reuse a retired seq or collide with an active one.
    val pc = P.copy(closeBelow = 3)
    val dir = tmp()
    PackState.pack(spark, dir,
      rows(0L -> Seq(1, 2, 3, 4, 5, 6), 2L -> Seq(4, 5, 6, 7, 8)),
      "d1", pc)
    val h = PackState.pack(spark, dir, rows(1L -> Seq(9)), "d2", pc)
    val tr = PackState.trainingRows(spark, h).orderBy("seq").collect()
    assert(tr.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L))
    assert(tr(2).getString(5) === md5("9,98,99,99,99,99,99,99"))
    // and the retired bins stay retired across packs
    assert(PackState.binsClosed(spark, h).orderBy("seq").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 1L), (2L, 2L)))
  }

  test("counters without nbins fail the next pack instead of reseeding seq") {
    // strip the nbins column from the delta's counters: reseeding seq
    // from 0 would reuse bin 1 and 2's seqs and merge unrelated docs
    val dir = tmp()
    PackState.pack(spark, dir,
      rows(0L -> Seq(1, 2, 3), 2L -> Seq(4, 5, 6, 7, 8)), "d1", P)
    val delta = PackState.load(dir, P).deltas.head.name
    val ctrPath = s"$dir/$delta/counters"
    val stripped = spark.read.parquet(ctrPath)
      .select("bucket", "steps").collect().toSeq
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(stripped.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "bucket bigint, steps bigint"))
      .write.mode("overwrite").parquet(ctrPath)
    val e = intercept[Exception] {
      PackState.pack(spark, dir, rows(1L -> Seq(9)), "d2", P)
    }
    assert(String.valueOf(e.getMessage).contains("nbins"), e.getMessage)
    assert(PackState.load(dir, P).version === 1L, "no delta committed")
  }

  test("compaction carries the closed tier and the upgraded counters") {
    val pc = P.copy(closeBelow = 3)
    val dirA = tmp(); val dirB = tmp()
    def packTwo(dir: String): Unit = {
      PackState.pack(spark, dir,
        rows(0L -> Seq(1, 2, 3), 2L -> Seq(4, 5, 6, 7, 8)), "d1", pc)
      PackState.pack(spark, dir, rows(1L -> Seq(9)), "d2", pc)
      ()
    }
    packTwo(dirA); packTwo(dirB)
    val hc = PackState.compact(spark, dirA, pc)
    assert(hc.deltas.size === 1)
    // delta 1 closed bin 1 (rem 2); delta 2's doc took bin 2 down to
    // rem 2 so it closed too — compaction concatenates both closed rows
    assert(PackState.binsClosed(spark, hc).orderBy("seq").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 2L), (2L, 2L)))
    val d3 = rows(5L -> Seq(20, 21, 22))
    PackState.pack(spark, dirA, d3, "d3", pc)
    PackState.pack(spark, dirB, d3, "d3", pc)
    assert(
      PackState.trainingRows(spark, PackState.load(dirA, pc))
        .orderBy("bucket", "seq").collect().toSeq ===
        PackState.trainingRows(spark, PackState.load(dirB, pc))
          .orderBy("bucket", "seq").collect().toSeq)
  }

  test("null token_ids rows are dropped, not packed as corrupt sequences") {
    val dir = tmp()
    val withNull = rows(0L -> Seq(1, 2, 3)).unionByName(
      spark.sql("SELECT CAST(1 AS BIGINT) AS doc_id, " +
        "CAST(NULL AS ARRAY<INT>) AS token_ids"))
    val h = PackState.pack(spark, dir, withNull, "d1", P)
    assert(h.nDocs === 1L)
    val tr = PackState.trainingRows(spark, h).collect()
    assert(tr.length === 1 && tr(0).getLong(3) === 4L) // 1,2,3,EOS
  }

  test("health verdict trips on delta accumulation and compaction restores it") {
    val pc = P.copy(closeBelow = 3)
    val dir = tmp()
    PackState.pack(spark, dir,
      rows(0L -> Seq(1, 2, 3), 2L -> Seq(4, 5, 6, 7, 8)), "d1", pc)
    PackState.pack(spark, dir, rows(1L -> Seq(9)), "d2", pc)
    PackState.pack(spark, dir, rows(3L -> Seq(10, 11)), "d3", pc)
    val hr = PackState.health(spark, PackState.load(dir, pc), maxDeltas = 2)
    assert(hr.nDeltas === 3 && hr.nDocs === 4L)
    assert(hr.compactRecommended)
    assert(hr.activeBins + hr.closedBins >= 2,
      "every opened bin is either active or retired")
    PackState.compact(spark, dir, pc)
    val hrc = PackState.health(spark, PackState.load(dir, pc), maxDeltas = 2)
    assert(hrc.nDeltas === 1 && !hrc.compactRecommended)
    assert(hrc.activeBins === hr.activeBins &&
      hrc.closedBins === hr.closedBins,
      "compaction never re-opens or re-closes a bin")
  }

  test("buckets untouched by a drop carry their bins forward verbatim") {
    val p2 = P.copy(buckets = 2)
    val dir = tmp()
    // drop 1 fills bucket 0 only (even doc_id % 2 buckets)
    PackState.pack(spark, dir, rows(0L -> Seq(1, 2, 3)), "d1", p2)
    // drop 2 touches bucket 1 only; bucket 0's snapshot must survive
    val h = PackState.pack(spark, dir, rows(1L -> Seq(4)), "d2", p2)
    val b = PackState.bins(spark, h).orderBy("bucket", "seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(b === Seq((0L, 1L, 4L), (1L, 1L, 6L)))
    // and a later drop into bucket 0 still fits its old bin
    val h3 = PackState.pack(spark, dir, rows(2L -> Seq(5, 6, 7)), "d3", p2)
    val tr = PackState.trainingRows(spark, h3)
      .filter("bucket = 0").orderBy("seq").collect()
    assert(tr.length === 1 && tr(0).getLong(2) === 2L,
      "doc 2 (n_eff 4) joins doc 0's bin (rem 4) — one cross-drop row")
  }
}
