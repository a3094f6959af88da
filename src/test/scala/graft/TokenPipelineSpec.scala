package graft

import graft.operators.BpeModel
import graft.queries.TextAnalysis
import org.scalatest.funsuite.AnyFunSuite

/** The end-to-end token-id pipeline: BpeModel's versioned save/load
  * lifecycle, the count/id agreement between tokenize_bpe and
  * tokenize_bpe_ids, and the packing invariants (fixed row length, EOS
  * accounting, tail-only padding). The DuckDB oracle pins the ids
  * bit-for-bit on the synthetic tables; these pin the SEMANTICS and the
  * artifact lifecycle. */
class TokenPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val SeqLen = 128L

  test("BpeModel save/load round-trips and versions are append-only") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bpemodel").toString
    val m1: BpeModel.Merges =
      Seq((1L, "t", "h", "th", 100L), (2L, "th", "e", "the", 60L))
    val m2: BpeModel.Merges = m1 :+ (3L, "a", "n", "an", 40L)

    assert(BpeModel.versions(dir).isEmpty)
    assert(BpeModel.save(spark, m1, dir) == 1L)
    assert(BpeModel.load(spark, dir) == m1)
    // a second save is a NEW version; load follows the latest, loadVersion
    // pins the old one (tokenizer-model time travel)
    assert(BpeModel.save(spark, m2, dir) == 2L)
    assert(BpeModel.versions(dir) == Seq(1L, 2L))
    assert(BpeModel.load(spark, dir) == m2)
    assert(BpeModel.loadVersion(spark, dir, 1L) == m1)
    intercept[IllegalArgumentException](BpeModel.loadVersion(spark, dir, 9L))
  }

  test("tokenize_bpe_ids id counts agree with tokenize_bpe token counts") {
    // both run the same learned merges; the id sequence's length per doc
    // must equal the count-only operator's n_bpe_tokens — a full
    // cross-operator consistency check of the id emission
    val counts = SparkEntry.queries("tokenize_bpe")(spark, sfDir)
      .select("doc_id", "n_bpe_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = SparkEntry.queries("tokenize_bpe_ids")(spark, sfDir)
      .select("doc_id", "n_ids").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids.keySet == counts.keySet)
    ids.foreach { case (d, n) => assert(n == counts(d), s"doc $d") }
  }

  test("pack_token_sequences: fixed rows, EOS accounting, tail-only pad") {
    val docs = SparkEntry.queries("tokenize_bpe_ids")(spark, sfDir)
      .select("doc_id", "n_ids").collect().map(r => r.getLong(1))
    val seqs = SparkEntry.queries("pack_token_sequences")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // every training row is exactly SeqLen ids
    seqs.foreach { case (b, s, nReal, nPad) =>
      assert(nReal + nPad == SeqLen, s"bucket $b seq $s")
      assert(nReal >= 1)
    }
    // total real ids = per-doc ids + one EOS per document
    val totalReal = seqs.map(_._3).sum
    assert(totalReal == docs.sum + docs.length)
    // padding exists ONLY on each bucket's last sequence, and seq_ids are
    // dense from the bucket's first global chunk
    seqs.groupBy(_._1).foreach { case (b, rows) =>
      val maxSeq = rows.map(_._2).max
      rows.foreach { case (_, s, _, nPad) =>
        if (s != maxSeq) assert(nPad == 0L, s"bucket $b seq $s padded mid-stream")
      }
      val ids = rows.map(_._2).sorted.toSeq
      assert(ids == (ids.head to ids.head + ids.length - 1),
        s"bucket $b seq_ids not dense")
    }
  }

  test("pipeline_tokenize_corpus reads the persisted artifact and matches pack totals") {
    val card = SparkEntry.queries("pipeline_tokenize_corpus")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val seqs = SparkEntry.queries("pack_token_sequences")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val byBucket = seqs.groupBy(_._1)
    assert(card.map(_._1).toSet == byBucket.keySet)
    card.foreach { case (b, nSeqs, nReal, nPad) =>
      assert(nSeqs == byBucket(b).length.toLong, s"bucket $b n_seqs")
      assert(nReal == byBucket(b).map(_._2).sum, s"bucket $b n_real")
      assert(nPad == byBucket(b).map(_._3).sum, s"bucket $b n_pad")
    }
    // the composed pipeline trained through the PERSISTED BpeModel: the
    // fingerprint-keyed artifact directory must now exist with >=1 version
    val root = TextAnalysis.bpeModelRoot(spark, sfDir).get
    assert(BpeModel.versions(root).nonEmpty, s"no persisted model at $root")
    // and the persisted merges round-trip equal to the in-memory trainer's
    val persisted = BpeModel.load(spark, root)
    val trained = SparkEntry.queries("train_bpe")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(persisted == trained)
  }
}
