package logbench

import graft.core.{AppendResult, EventData}
import graft.storage.EventLogBackend
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.Descending
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One client operation, timed from `due` (send time, or the schedule time
  * of an open-loop send) to `end`. `acked`: the program answered it (a
  * version or a result came back); `onTime`: within the op's timeout. `key`
  * joins it to its storage span: the returned version for appends, the
  * requested version for pages. */
final case class Op(kind: String, due: Long, start: Long, end: Long,
    acked: Boolean, onTime: Boolean, key: Long, rows: Int = 0) {
  /** Failed: not acknowledged, or acknowledged too late. */
  def ok: Boolean = acked && onTime
  /** Latency in ms; a failed op misses every latency limit. */
  def ms: Double = if (ok) (end - due) / 1e6 else Double.PositiveInfinity
}

object Stats {
  /** Nearest-rank percentile; NaN on no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def orZero(x: Double): Double = if (x.isNaN) 0.0 else x

  /** Length of the union of [start, end) intervals. */
  def covered(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (s0, e0) = (Long.MinValue, Long.MinValue)
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > e0) { if (e0 > s0) total += e0 - s0; s0 = s; e0 = e }
      else if (e > e0) e0 = e
    }
    if (e0 > s0) total += e0 - s0
    total
  }
}

/** A span recorded by the benchmark around a call into one layer. */
final case class Span(id: Long, name: String, start: Long, end: Long,
    key: Long, group: String = null)

/** In-memory span buffer, written out once when the run ends. */
final class Spans {
  private val ids = new AtomicLong
  val all = new ConcurrentLinkedQueue[Span]()
  def add(name: String, start: Long, end: Long, key: Long, group: String = null): Long = {
    val id = ids.incrementAndGet()
    all.add(Span(id, name, start, end, key, group))
    id
  }
  def named(name: String): Seq[Span] = all.asScala.filter(_.name == name).toSeq
}

/** Timing decorator over the public backend trait, handed to `new
  * EventLog(...)` in traced runs. Appends are keyed by the version they
  * return; a snapshotRange call is keyed by the version the scan asked for
  * and names the Spark job group its scan's jobs run under. */
final class TimedBackend(inner: EventLogBackend, spans: Spans, spark: SparkSession)
    extends EventLogBackend {
  private val pages = new AtomicLong

  private def timed(r: => AppendResult): AppendResult = {
    val t0 = System.nanoTime()
    val res = r
    spans.add("storage.append", t0, System.nanoTime(), res.version)
    res
  }

  override def append(e: EventData): AppendResult = timed(inner.append(e))
  override def appendMulti(es: Seq[EventData]): AppendResult = timed(inner.appendMulti(es))
  override def appendCheck(v: Long, e: EventData): AppendResult =
    timed(inner.appendCheck(v, e))
  override def appendCheckMulti(v: Long, es: Seq[EventData]): AppendResult =
    timed(inner.appendCheckMulti(v, es))
  override def appendMultiTxn(q: String, b: Long, es: Seq[EventData]): AppendResult =
    timed(inner.appendMultiTxn(q, b, es))

  override def snapshot(): DataFrame = inner.snapshot()

  // EventLog.scan asks for [1, v] when reverse and [v, max] when forward.
  override def snapshotRange(minVersion: Long, maxVersion: Long): DataFrame = {
    val (kind, key) =
      if (maxVersion == Long.MaxValue) ("history", minVersion) else ("head", maxVersion)
    val group = s"page.$kind.${pages.incrementAndGet()}"
    spark.sparkContext.setJobGroup(group, group)
    val t0 = System.nanoTime()
    val df = inner.snapshotRange(minVersion, maxVersion)
    spans.add(s"storage.snapshot_range.$kind", t0, System.nanoTime(), key, group)
    df
  }

  override def version: Long = inner.version
  override def versionInitial: Long = inner.versionInitial
  override def metadata: Map[String, String] = inner.metadata
  override def payloadLimit: Int = inner.payloadLimit
  override def close(): Unit = inner.close()
}

/** Job, task and plan accounting from Spark's own listener buses, keyed by
  * job group (entry name, or the page group [[TimedBackend]] set). Times
  * are the events' own, so late delivery does not move them. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  final class JobAgg(val group: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
    var tasks = 0L
    var taskMs = 0L
    var recordsRead = 0L
    var inputBytes = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }
  /** A finished query execution: its plan time, wall time, and whether it
    * is a compaction (a Parquet write into a log's segment staging dir) or
    * a reverse / forward page scan. */
  final case class Qe(startMs: Long, planMs: Double, durMs: Double,
      compaction: Boolean, scan: Option[String])

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobAgg]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobAgg]()
  val qes = new ConcurrentLinkedQueue[Qe]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val agg = new JobAgg(group, e.time)
    jobs.put(e.jobId, agg)
    e.stageIds.foreach(stageJob.put(_, agg))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val agg = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (agg != null) agg.synchronized {
      agg.tasks += 1
      if (m != null) {
        agg.taskMs += m.executorRunTime
        agg.recordsRead += m.inputMetrics.recordsRead
        agg.inputBytes += m.inputMetrics.bytesRead
        agg.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        agg.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val plan = Seq("analysis", "optimization", "planning").flatMap(phases.get)
    val startMs =
      if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
    val compaction = qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }.exists(_.contains("segments.write-"))
    val scan =
      if (funcName != "toLocalIterator") None
      else qe.analyzed.collectFirst {
        case s: Sort => if (s.order.head.direction == Descending) "head" else "history"
      }
    qes.add(Qe(startMs, plan.map(_.durationMs).sum.toDouble, durationNs / 1e6,
      compaction, scan))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Waits until every started job has ended (bounded), so totals read
    * after a window include its last jobs. */
  def drain(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
      jobs.values.asScala.exists(_.endMs < 0)) Thread.sleep(20)
    Thread.sleep(200) // task-end and query events trail the job end
  }

  def jobsIn(fromMs: Long, toMs: Long): Seq[JobAgg] =
    jobs.values.asScala.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
}

/** Process-level readings taken from outside the program. */
object Proc {
  /** Field `i` of the first line of `file` that starts with `key`. */
  private def field(file: String, key: String, i: Int = 1): Long =
    scala.util.Using.resource(scala.io.Source.fromFile(file))(
      _.getLines().find(_.startsWith(key)).map(_.split("\\s+")(i).toLong).getOrElse(0L))

  def rssPeakMb: Double = field("/proc/self/status", "VmHWM:") / 1024.0

  def writeBytes: Long = field("/proc/self/io", "write_bytes:")

  /** CPU time the hypervisor took from the machine's CPUs (steal), in
    * clock ticks. */
  def stealTicks: Long = field("/proc/stat", "cpu ", 8)

  /** CPU time this process has used, in ns (stolen time is not in it). */
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Bytes of the regular files under `dir` whose top-level entry's name
    * passes `top`. */
  def dirBytes(dir: Path, top: String => Boolean = _ => true): Long =
    if (!Files.exists(dir)) 0L
    else scala.util.Using.resource(Files.walk(dir))(_.iterator().asScala
      .filter(f => Files.isRegularFile(f) && top(dir.relativize(f).getName(0).toString))
      .map(Files.size).sum)

  /** Median µs of a 4 KiB append + fsync on a file of the benchmark's own,
    * next to the log: what one durable commit costs on this disk. */
  def fsyncProbeUs(dir: Path, n: Int = 64): Double = {
    val f = dir.resolve("fsync-probe")
    val ch = FileChannel.open(f, StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.APPEND)
    val buf = ByteBuffer.allocate(4096)
    val us = try (0 until n).map { _ =>
      buf.clear()
      val t0 = System.nanoTime()
      ch.write(buf)
      ch.force(true)
      (System.nanoTime() - t0) / 1e3
    } finally { ch.close(); Files.deleteIfExists(f) }
    Stats.median(us)
  }
}
