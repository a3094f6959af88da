package logbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** What a workload hands back: every op of its window, its end-to-end
  * metrics (beyond set-up time and memory, which every workload reports),
  * the named detail metrics it prints, and the per-layer readings of
  * a traced run. */
final case class Outcome(
    ops: Seq[Op],
    e2e: Seq[(String, Double, String)],
    detail: Seq[(String, Double, String)],
    layers: Map[String, Double])

/** Per-run state shared by the workloads. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val runDir: Path, val startNs: Long) {
  val inputs = new Inputs(seed)
  val spans = new Spans
  val probe: Option[SparkProbe] = if (trace) Some(new SparkProbe) else None
  probe.foreach { p =>
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
  }
  private val problems = mutable.ArrayBuffer.empty[String]

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) problems.synchronized { if (problems.size < 20) problems += what }
  def failures: Seq[String] = problems.synchronized(problems.toList)

  // ---- the measured window ----
  /** Set-up cost: CPU seconds the process used before the window (JVM,
    * Spark session, preload, warm-up). CPU time rather than wall time, so
    * the host's CPU steal does not move it but work moved into set-up does;
    * the wall time is printed beside it as setup_wall_s. */
  var setupS: Double = Double.NaN
  var setupWallS: Double = Double.NaN
  var winStartNs = 0L
  var winEndNs = 0L
  var winStartMs = 0L
  var winEndMs = 0L
  /** Process CPU ms and bytes written to storage over the window. */
  var cpuMs = 0.0
  var writeBytes = 0L
  /** VmHWM at the end of the window. */
  var rssPeakMb: Double = Double.NaN
  private var gc0 = 0L
  private var io0 = 0L
  private var steal0 = 0L
  private var cpu0 = 0L
  /** JVM and machine readings over the window, by per-layer metric name. */
  val readings = mutable.LinkedHashMap.empty[String, Double]

  def beginWindow(): Unit = {
    Proc.resetHeapPeak()
    gc0 = Proc.gcMs
    io0 = Proc.writeBytes
    steal0 = Proc.stealTicks
    cpu0 = Proc.cpuNs
    winStartMs = System.currentTimeMillis()
    winStartNs = System.nanoTime()
    setupS = cpu0 / 1e9
    setupWallS = (winStartNs - startNs) / 1e9
  }

  def endWindow(): Unit = {
    winEndNs = System.nanoTime()
    winEndMs = System.currentTimeMillis()
    cpuMs = (Proc.cpuNs - cpu0) / 1e6
    writeBytes = Proc.writeBytes - io0
    readings("jvm.gc_ms") = (Proc.gcMs - gc0).toDouble
    readings("jvm.heap_peak_mb") = Proc.heapPeakMb
    // share of the machine's CPU time the host took during the window
    readings("device.cpu_steal_frac") = (Proc.stealTicks - steal0) /
      (windowNs / 1e7 * Runtime.getRuntime.availableProcessors)
    // the workload's peak, before the output checks allocate their own
    rssPeakMb = Proc.rssPeakMb
  }

  def windowNs: Long = winEndNs - winStartNs
  def deadlineNs: Long = winStartNs + seconds * 1000000000L
}

/** Runs one workload and writes its result for logbench/run.py, which holds
  * the metric list (BENCHMARK.json) and checks the result against it. */
object Main {
  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val runDir = Paths.get(opts("run-dir"))
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"logbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toInt,
      opts("trace") == "1", runDir, startNs)
    val out = workload match {
      case "log_append" => LogWorkloads.logAppend(ctx)
      case "log_read_mix" => LogWorkloads.logReadMix(ctx)
      case "analytics_batch" => Analytics.run(ctx)
    }
    val result = assemble(ctx, out)
    if (ctx.trace) writeSpans(ctx, Paths.get(opts("trace-dir")), workload)
    spark.stop()
    Files.write(Paths.get(opts("result")), result.getBytes(StandardCharsets.UTF_8))
  }

  /** The run's result: end-to-end metrics always, per-layer ones (the
    * layers' readings and the traced run's own end-to-end figures as
    * traced.*) when traced. A layer the workload does not touch is left
    * out, and run.py reports it as 0. */
  private def assemble(ctx: Ctx, out: Outcome): String = {
    val attempted = out.ops.size
    val failed = out.ops.count(!_.ok)
    val e2e = Seq(("setup_s", ctx.setupS, "s"), ("rss_peak_mb", ctx.rssPeakMb, "MB")) ++ out.e2e
    val detail = Seq(("failed_ratio", failed.toDouble / math.max(1, attempted), "ratio"),
      ("setup_wall_s", ctx.setupWallS, "s")) ++ out.detail
    val checks = ctx.failures
    println(s"[logbench] ops attempted=$attempted failed=$failed")
    (e2e ++ detail).foreach { case (n, v, u) => println(f"[logbench] $n%-28s $v%14.4f $u") }
    checks.foreach(c => println(s"[logbench] CHECK FAILED: $c"))
    val layers: Seq[(String, Double)] =
      if (!ctx.trace) Nil
      else (out.layers ++ ctx.readings).toSeq.sortBy(_._1).map { case (n, v) => (n, Stats.orZero(v)) } ++
        (e2e ++ detail).map(m => (s"traced.${m._1}", m._2))
    layers.foreach { case (n, v) => println(f"[logbench] layer $n%-44s $v%16.4f") }
    def obj(ms: Seq[(String, Double)]): String =
      ms.map { case (n, v) => s""""$n":${num(v)}""" }.mkString("{", ",", "}")
    s"""{"correct":${checks.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""e2e":${obj(e2e.map(m => (m._1, m._2)))},"layers":${obj(layers)}}"""
  }

  // Python's json module reads NaN and Infinity; run.py maps them
  private def num(v: Double): String = v.toString

  /** Spans as JSON lines: name, start, end (ns), parent and key. An append's
    * storage span has the client span with the same version as parent; a
    * page's storage span and Spark jobs hang off the page with the same
    * kind and requested version. */
  private def writeSpans(ctx: Ctx, dir: Path, workload: String): Unit = {
    Files.createDirectories(dir)
    val f = dir.resolve(s"$workload-seed${ctx.seed}.jsonl")
    val w = Files.newBufferedWriter(f, StandardCharsets.UTF_8)
    try {
      val parents = mutable.HashMap.empty[(String, Long), Long]
      ctx.spans.all.forEach { s =>
        if (s.name.startsWith("client."))
          parents((s.name.stripPrefix("client.").replace("writer_append", "append"), s.key)) = s.id
      }
      ctx.spans.all.forEach { s =>
        val parent = s.name match {
          case "storage.append" => parents.get(("append", s.key))
          case n if n.startsWith("storage.snapshot_range.") =>
            parents.get((n.stripPrefix("storage.snapshot_range."), s.key))
          case _ => None
        }
        w.write(s"""{"id":${s.id},"name":"${s.name}","start":${s.start},"end":${s.end},""" +
          s""""parent":${parent.getOrElse("null")},"key":${s.key}""" +
          Option(s.group).map(g => s""","group":"$g"""").getOrElse("") + "}\n")
      }
      ctx.probe.foreach(_.jobs.forEach { (id, j) =>
        w.write(s"""{"name":"spark.job","job":$id,"group":"${j.group}",""" +
          s""""start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.tasks},"task_ms":${j.taskMs}}""" + "\n")
      })
    } finally w.close()
    println(s"[logbench] spans written to $f")
  }
}
