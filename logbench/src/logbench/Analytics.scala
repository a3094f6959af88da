package logbench

import graft.SparkEntry
import graft.queries._
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** analytics_batch: SparkEntry entries over tables the run writes from its
  * seed (AnalyticsInputs), one to two per query module, called in passes
  * whose order the seed shuffles. It never touches the log server. One
  * warm-up pass (codegen, artifact builds under the run's own
  * java.io.tmpdir) belongs to set-up; the window then calls entries until
  * `seconds` have gone and every entry has run in it at least once. */
object Analytics {
  val Entries: Seq[String] = Seq(
    "q1_agg", "q3_topk_join", // Relational
    "el_integrity", // EventLogQueries
    "dedup_semantic_pq", // Dedup, through ArtifactCache
    "pipeline_pretrain_gated", // Dedup, through Staged
    "ann_ivf_pq", // Similarity
    "text_tokens") // TextAnalysis

  private def moduleOf(name: String): String =
    if (Relational.queries.contains(name)) "Relational"
    else if (EventLogQueries.queries.contains(name)) "EventLogQueries"
    else if (Dedup.queries.contains(name)) "Dedup"
    else if (Similarity.queries.contains(name)) "Similarity"
    else "TextAnalysis"

  /** One entry call: wall times, rows, an order-independent result hash
    * and what the entry left cached behind it. */
  final case class Run(name: String, op: Op, startMs: Long, endMs: Long,
      rows: Long, hash: (Long, Long), persistentRdds: Int, cachedMb: Double)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val fns = SparkEntry.queries
    Entries.foreach(n => require(fns.contains(n), s"no SparkEntry entry $n"))
    val data = ctx.runDir.resolve("tables").toString
    val t0 = System.nanoTime()
    val inputBytes = AnalyticsInputs.write(spark, data, ctx.seed)
    System.err.println(f"[logbench] tables written in ${(System.nanoTime() - t0) / 1e9}%.3f s")
    val rng = new java.util.Random(ctx.seed)

    def once(name: String): Run = {
      sc.setJobGroup(name, name)
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      val res =
        try {
          val df = fns(name)(spark, data)
          val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")).toSeq: _*)))
          Some(df.select(h.as("h"))
            .agg(count(lit(1)), bit_xor(col("h")), sum(shiftrightunsigned(col("h"), 40)))
            .head())
        } catch { case e: Exception =>
          System.err.println(s"[logbench] $name failed: $e")
          None
        }
      val t1 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      System.err.println(f"[logbench] entry $name%-24s ${(t1 - t0) / 1e9}%8.3f s")
      sc.clearJobGroup()
      val persistent = sc.getPersistentRDDs.size
      val cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
      // construction-time materializations are released between calls,
      // outside the timed span, as graft.Bench does
      graft.util.Staged.releaseAll()
      val op = Op("entry", t0, t0, t1, acked = res.isDefined, onTime = true, -1L,
        res.map(_.getLong(0).toInt).getOrElse(0))
      Run(name, op, startMs, endMs, res.map(_.getLong(0)).getOrElse(0L),
        res.map(r => (r.getLong(1), r.getLong(2))).getOrElse((0L, 0L)), persistent, cachedMb)
    }
    def order(): Seq[String] = scala.util.Random.javaRandomToRandom(rng).shuffle(Entries)

    val warm = order().map(once)
    ctx.beginWindow()
    val runs = scala.collection.mutable.ArrayBuffer.empty[Run]
    val queue = scala.collection.mutable.Queue.empty[String]
    while (System.nanoTime() < ctx.deadlineNs || runs.map(_.name).distinct.size < Entries.size) {
      if (queue.isEmpty) queue ++= order()
      runs += once(queue.dequeue())
    }
    ctx.endWindow()
    val artifactBytes = Proc.dirBytes(ctx.runDir.resolve("tmp"), _.startsWith("graft-"))

    // ---- output checks ----
    (warm ++ runs).groupBy(_.name).foreach { case (name, rs) =>
      ctx.check(rs.forall(_.rows > 0), s"$name returned no rows")
      ctx.check(rs.map(_.hash).distinct.size == 1, s"$name result differs between passes")
    }
    // a pass: every entry once, each at its median over the window
    val entryMedianS = runs.groupBy(_.name).map { case (n, rs) =>
      n -> Stats.median(rs.map(r => (r.op.end - r.op.start) / 1e9).toSeq)
    }

    val layers = scala.collection.mutable.Map.empty[String, Double]
    if (ctx.trace) {
      val probe = ctx.probe.get
      probe.drain()
      val jobs = probe.jobsIn(ctx.winStartMs, ctx.winEndMs).groupBy(_.group)
      val qes = probe.qes.asScala.toSeq
      // per pass: each entry's totals over its window calls, divided by
      // its number of calls, summed over the module's entries
      runs.groupBy(r => moduleOf(r.name)).foreach { case (m, mrs) =>
        def perPass(f: Seq[Run] => Double): Double =
          mrs.groupBy(_.name).values.map(rs => f(rs.toSeq) / rs.size).sum
        def jobSum(f: probe.JobAgg => Long)(rs: Seq[Run]): Double =
          jobs.getOrElse(rs.head.name, Nil).map(f).sum.toDouble
        layers ++= Seq(
          s"queries.$m.s" -> perPass(_.map(r => (r.op.end - r.op.start) / 1e9).sum),
          s"queries.$m.jobs" -> perPass(rs => jobs.getOrElse(rs.head.name, Nil).size.toDouble),
          s"queries.$m.tasks" -> perPass(jobSum(_.tasks)),
          s"queries.$m.task_ms" -> perPass(jobSum(_.taskMs)),
          s"queries.$m.shuffle_bytes" -> perPass(jobSum(_.shuffleBytes)),
          s"queries.$m.spill_bytes" -> perPass(jobSum(_.spillBytes)),
          s"queries.$m.input_bytes" -> perPass(jobSum(_.inputBytes)),
          s"queries.$m.plan_ms" -> perPass(rs => qes.filter(q =>
            rs.exists(r => q.startMs >= r.startMs && q.startMs <= r.endMs)).map(_.planMs).sum))
      }
      layers("util.persistent_rdds_max") = runs.map(_.persistentRdds).max.toDouble
      layers("util.cached_mb_max") = runs.map(_.cachedMb).max
    }
    Outcome(runs.map(_.op).toSeq,
      e2e = Seq(("bytes_per_user_byte", artifactBytes.toDouble / inputBytes, "ratio")),
      detail = Seq(("analytics_pass_s", entryMedianS.values.sum, "s"),
        ("entry_p50_ms", Stats.median(runs.map(_.op.ms).toSeq), "ms")),
      layers = layers.toMap)
  }
}
