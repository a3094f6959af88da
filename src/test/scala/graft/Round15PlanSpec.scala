package graft

import graft.operators.DedupState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 pins for the PERSISTED pre-banded dedup-state evidence:
  * admission must read each delta's capped band rows from its
  * `bands/`/`ebands/` leaves — NO Window may run over state-side rows in
  * a verdict plan (the round-14 design re-windowed the whole state's
  * band rows on every drop, which a 10^9-doc state cannot pay) — and the
  * write-once cap must make verdicts invariant under compaction. A delta
  * missing a leaf fails loudly instead of being derived on read.
  */
class Round15PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private val baseText =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val nearText =
    "alpha beta gamma delta epsilon zeta eta theta iota lambda"

  private def vec(seed: Int, tweak: Double): Seq[Double] =
    (0 until graft.operators.RhpLsh.Dim).map(i =>
      math.sin(seed * 31 + i).abs + (if (i == 0) tweak else 0.0))

  /** Mutually orthogonal ±1 Walsh vectors (and ~orthogonal to the
    * all-positive [[vec]] family) — state docs that must NOT semantically
    * collide. */
  private def walsh(k: Int): Seq[Double] =
    (0 until graft.operators.RhpLsh.Dim).map(i =>
      if (Integer.bitCount(i & k) % 2 == 0) 1.0 else -1.0)

  /** A TWO-delta state carrying text AND embedding evidence. */
  private def twoDeltaState(): DedupState.Handle = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-r15state").toString
    DedupState.admit(spark, dir, Seq(
      (0L, baseText, vec(1, 0.0)),
      (2L, "one two three four five six seven eight nine ten", walsh(1)))
      .toDF("doc_id", "text", "emb"), "d1")
    DedupState.admit(spark, dir, Seq(
      (4L, "completely different novel tokens appear in this document",
        walsh(2)))
      .toDF("doc_id", "text", "emb"), "d2")
    DedupState.load(dir)
  }

  /** Windows in `df`'s optimized plan whose subtree scans a file under
    * `dirKey` — i.e. windows running over PERSISTED state rows. */
  private def stateWindows(df: DataFrame, dirKey: String): Seq[LWindow] =
    df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.collectLeaves().exists {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains(dirKey))
          case _ => false
        }
        case _ => false
      } => w
    }

  test("admission plan: NO Window over state-side rows — band evidence reads pre-capped from the delta leaves") {
    import spark.implicits._
    val h = twoDeltaState()
    val batch = Seq((1L, baseText, vec(1, 0.001)), (3L, nearText, walsh(3)))
      .toDF("doc_id", "text", "emb")
    val v = DedupState.verdicts(spark, h, batch)
    val bad = stateWindows(v, h.dir)
    assert(bad.isEmpty,
      s"state band rows must be read pre-banded, never re-windowed " +
        s"per admit:\n${bad.mkString("\n")}")
    // the batch side's caps stay LIVE: the plan still windows, just
    // never over a state scan
    val all = v.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(all.nonEmpty, "within-batch caps are still computed live")
    // and the verdicts exercised across BOTH deltas stay right
    val m = v.collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[Boolean]("sem_dup_state"), "cross-delta semantic dup")
    assert(m(3L).getAs[Boolean]("near_dup_state"), "cross-delta lexical dup")
  }

  test("span-verdict plan: the only window runs over the batch's own chunks") {
    import spark.implicits._
    val h = twoDeltaState()
    val batch = Seq((1L, baseText + " " + baseText))
      .toDF("doc_id", "text")
    val sv = DedupState.spanVerdicts(spark, h, batch)
    assert(stateWindows(sv, h.dir).isEmpty,
      "state span hashes join pre-materialized — no state-side window")
  }

  test("compaction leaves admission AND span verdicts bit-identical (evidence concatenates verbatim, no re-cap)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-r15compact").toString
    val chunk = (1 to DedupState.SpanTokens).map(i => s"tok$i").mkString(" ")
    DedupState.admit(spark, dir, Seq(
      (0L, baseText, vec(1, 0.0)),
      (2L, chunk + " trailing words beyond the chunk grid", walsh(1)))
      .toDF("doc_id", "text", "emb"), "d1")
    DedupState.admit(spark, dir, Seq(
      (4L, "novel content tokens in the second delta entirely", walsh(2)))
      .toDF("doc_id", "text", "emb"), "d2")
    val h = DedupState.load(dir)
    val batch = Seq(
      (1L, nearText, vec(1, 0.001)),
      (3L, chunk + " with totally different surrounding tokens here now",
        walsh(3)))
      .toDF("doc_id", "text", "emb")
    val vBefore = DedupState.verdicts(spark, h, batch)
      .orderBy("doc_id").collect().toSeq
    val sBefore = DedupState.spanVerdicts(spark, h, batch)
      .orderBy("doc_id").collect().toSeq
    val hc = DedupState.compact(spark, dir)
    assert(hc.deltas.size === 1)
    assert(DedupState.verdicts(spark, hc, batch)
      .orderBy("doc_id").collect().toSeq === vBefore)
    assert(DedupState.spanVerdicts(spark, hc, batch)
      .orderBy("doc_id").collect().toSeq === sBefore)
    // the cross-drop span dup really was detected on both sides of the fold
    assert(sBefore.exists(r =>
      r.getLong(0) == 3L && r.getAs[Boolean]("span_dup_state")))
  }

  test("a delta missing its bands leaf fails verdicts loudly, naming the leaf") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-r15strip").toString
    DedupState.admit(spark, dir, Seq(
      (0L, baseText, vec(1, 0.0)))
      .toDF("doc_id", "text", "emb"), "d1")
    DedupState.admit(spark, dir, Seq(
      (2L, "other unrelated tokens forming a second delta", walsh(1)))
      .toDF("doc_id", "text", "emb"), "d2")
    val h = DedupState.load(dir)
    val batch = Seq((1L, nearText, vec(1, 0.001)))
      .toDF("doc_id", "text", "emb")

    val bands = java.nio.file.Paths.get(dir, h.deltas.head.name, "bands")
    graft.util.Publish.deleteRecursively(bands)
    val e = intercept[Exception] {
      DedupState.verdicts(spark, DedupState.load(dir), batch).collect()
    }
    assert(e.getMessage.contains(s"${h.deltas.head.name}/bands"), e.getMessage)
  }

  test("the audit card records every offered document, admitted and rejected") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-r15card").toString
    DedupState.admit(spark, dir,
      Seq(0L -> baseText, 2L -> baseText).toDF("doc_id", "text"), "d1")
    DedupState.admit(spark, dir,
      Seq(4L -> baseText).toDF("doc_id", "text"), "d2")
    val h = DedupState.load(dir)
    assert(h.nDocs === 1L, "one admitted (2 batch-dup, 4 state-dup)")
    val card = DedupState.card(spark, h).orderBy("doc_id").collect()
    assert(card.map(_.getLong(0)).toSeq === Seq(0L, 2L, 4L),
      "rejected documents stay auditable forever")
    assert(card(1).getAs[Boolean]("exact_dup_batch"))
    assert(card(2).getAs[Boolean]("exact_dup_state"))
    // and the card survives compaction
    val hc = DedupState.compact(spark, dir)
    assert(DedupState.card(spark, hc).count() === 3L)
  }
}
