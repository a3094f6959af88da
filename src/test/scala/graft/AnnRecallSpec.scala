package graft

import org.scalatest.funsuite.AnyFunSuite

/** IVF has no SQL oracle (k-means); its correctness claim is recall against
  * the brute-force scan on the same data. */
class AnnRecallSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def topk(name: String): Map[Long, Set[Long]] =
    SparkEntry.queries(name)(spark, sfDir)
      .select("q_id", "n_id").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap

  private lazy val exact = topk("ann_cosine_topk")

  /** Mean recall@5 of entry `name` against the brute-force scan. */
  private def assertRecall(name: String): Unit = {
    val got = topk(name)
    assert(got.keySet == exact.keySet)
    val recalls = exact.map { case (q, truth) =>
      got(q).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    // probing 2 of 8 cells scans ~25% of candidates; embeddings cluster by
    // label so recall should be well above that floor
    assert(mean >= 0.5, s"$name mean recall $mean, per-query $recalls")
  }

  test("ann_ivf_kmeans recall@5 vs brute force is >= 0.5 with 2/8 probes") {
    assertRecall("ann_ivf_kmeans")
  }

  // the persisted-index entries: built once through ArtifactCache, then
  // loaded and probed — a stale or mis-fit cached index shows up here
  test("ann_ivf_persisted recall@5 vs brute force is >= 0.5") {
    assertRecall("ann_ivf_persisted")
  }

  test("ann_opq recall@5 vs brute force is >= 0.5") {
    assertRecall("ann_opq")
  }

  test("nProbe sweep: recall and candidate volume rise monotonically") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val sweep = Seq(1, 2, 4).map { nProbe =>
      val cands = graft.queries.Similarity
        .ivfKmeansCandidates(spark, sfDir, nProbe).cache()
      val nCands = cands.count()
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("n_id"))
      val got = cands.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("q_id", "n_id").collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
      cands.unpersist()
      val recalls = exact.map { case (q, truth) =>
        got.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      (nProbe, nCands, recalls.sum / recalls.size)
    }
    // candidate volume (probe cost) is strictly monotone in nProbe; recall
    // never decreases — more probes only ADD cells, so the candidate set of
    // nProbe=k is a superset of nProbe=k-1 per query
    sweep.sliding(2).foreach { case Seq((p0, c0, r0), (p1, c1, r1)) =>
      assert(c0 < c1, s"candidates not increasing: nProbe=$p0:$c0 vs $p1:$c1")
      assert(r0 <= r1 + 1e-9, s"recall fell: nProbe=$p0:$r0 vs $p1:$r1")
    }
    // probing half the cells (4/8) must essentially solve this clustered set
    assert(sweep.last._3 >= 0.8,
      s"recall@5 with nProbe=4 too low: ${sweep.last._3} ($sweep)")
  }
}
