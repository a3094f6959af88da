package logbench

import graft.api.{HttpApiServer, MsgCodec}
import graft.client.EventLogClient
import graft.core.EventLog
import graft.exprs.EventOps
import graft.storage.{EventLogBackend, ParquetLogBackend}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One event of a page as the client returned it. */
final case class PageRow(version: String, versionPrevious: String, versionNext: String,
    label: String, payloadJson: String)

/** The two log workloads, run against the product stack `graft run`
  * serves: EventLogClient → HttpApiServer → EventLog → ParquetLogBackend
  * with its defaults (fsync per commit, compaction at 10,000 events and
  * every 5 s). */
object LogWorkloads {
  val Appenders = 3
  val WarmAppends = 1500
  val Readers = 2
  val PreloadEvents = 100000
  val PreloadBatch = 1000
  val WriterEps = 200
  val HeadShare = 0.75
  val HeadN = 100
  val HistoryN = 1000
  /** An op slower than this counts as failed (a timeout). */
  val TimeoutNs = 10000000000L

  private def hex(v: Long): String = java.lang.Long.toHexString(v)
  private def unhex(s: String): Long = java.lang.Long.parseUnsignedLong(s, 16)

  private def open(ctx: Ctx, dir: Path): (ParquetLogBackend, EventLog) = {
    val backend = ParquetLogBackend.create(ctx.spark, dir.toString)
    val decorated: EventLogBackend =
      if (ctx.trace) new TimedBackend(backend, ctx.spans, ctx.spark) else backend
    (backend, new EventLog(decorated))
  }

  /** Runs `body(thread)` on `n` threads until each returns; rethrows. */
  private def onThreads(n: Int)(body: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until n).map { i =>
      val t = new Thread(() => try body(i) catch { case e: Throwable => errors.add(e) },
        s"logbench-$i")
      t.start()
      t
    }
    ts.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }

  /** Times `f`; exceptions and timeouts make a failed op. */
  private def timed(kind: String, due: Long, key: Long = -1L)(f: => (Long, Int)): Op = {
    val s = System.nanoTime()
    try {
      val (k, rows) = f
      val e = System.nanoTime()
      Op(kind, if (due > 0) due else s, s, e, acked = true, onTime = e - s < TimeoutNs,
        if (k >= 0) k else key, rows)
    } catch {
      case _: Exception =>
        Op(kind, if (due > 0) due else s, s, System.nanoTime(), acked = false, onTime = false, key)
    }
  }

  /** Acknowledged ops per second of window (it ends when the last
    * in-flight op returns). */
  private def eps(ctx: Ctx, ops: Seq[Op]): Double = ops.count(_.acked) / (ctx.windowNs / 1e9)

  private def addClientSpans(ctx: Ctx, ops: Seq[Op]): Unit =
    if (ctx.trace) ops.foreach(o => ctx.spans.add(s"client.${o.kind}", o.start, o.end, o.key))

  // ------------------------------------------------------------ log_append

  /** 3 closed-loop HTTP appenders and 1 WebSocket subscriber on a fresh
    * log; the window lasts `seconds`, long enough for several size- and
    * timer-triggered compactions. */
  def logAppend(ctx: Ctx): Outcome = {
    val dir = ctx.runDir.resolve("log")
    val (backend, log) = open(ctx, dir)
    val server = new HttpApiServer(log)
    val url = s"http://127.0.0.1:${server.start()}"
    val clients = Seq.fill(Appenders)(new EventLogClient(url))
    val frames = new ConcurrentLinkedQueue[(Long, Long)]()
    val feed = new EventLogClient(url)
    val stopFeed = feed.listen(v => frames.add((System.nanoTime(), unhex(v))))
    val connectBy = System.nanoTime() + TimeoutNs
    while (log.subscriberCount < 1 && System.nanoTime() < connectBy) Thread.sleep(10)
    ctx.check(log.subscriberCount == 1, "subscriber did not connect")

    // (stream, index) of every op, so checks regenerate what was sent
    val sent = Array.fill(Appenders)(mutable.ArrayBuffer.empty[Op])
    val userBytes = new AtomicLong
    def appendWhile(c: Int)(more: => Boolean): Unit = {
      val buf = sent(c)
      while (more) {
        val g = ctx.inputs.event(Inputs.appender(c), buf.size)
        userBytes.addAndGet(g.userBytes)
        buf += timed("append", 0L)((unhex(clients(c).append(g.data).version), 1))
      }
    }
    // warm-up (set-up): JIT, connection pools, and one compaction, whose
    // cold Spark job would otherwise stall the window for seconds
    onThreads(Appenders)(c => appendWhile(c)(sent(c).size < WarmAppends))
    ctx.check(sent.forall(_.forall(_.acked)), "warm-up appends failed")
    backend.compact()
    val warm = sent.map(_.size)
    val bytesBefore = userBytes.get()

    ctx.beginWindow()
    val v0 = log.version
    onThreads(Appenders)(c => appendWhile(c)(System.nanoTime() < ctx.deadlineNs))
    ctx.endWindow()
    val windowBytes = userBytes.get() - bytesBefore
    val ops = sent.indices.flatMap(c => sent(c).drop(warm(c)))

    // let the feed catch up with the last acknowledged version
    val all = sent.indices.flatMap(c => sent(c).zipWithIndex.map { case (o, i) => (o, c, i) })
    val lastAck = all.filter(_._1.acked).map(_._1.key).maxOption.getOrElse(0L)
    val feedBy = System.nanoTime() + 5000000000L
    while (!frames.asScala.exists(_._2 >= lastAck) && System.nanoTime() < feedBy) Thread.sleep(10)
    stopFeed.close()
    feed.close()
    clients.foreach(_.close())

    // feed lag: send time → first frame at or past the append's version.
    // The feed is at-most-once: a subscriber that reconnects hears only
    // later versions, so an append no frame ever covers misses every
    // latency limit instead of failing the run.
    val fs = frames.asScala.toArray.sortBy(_._1)
    val runMax = fs.scanLeft(0L)((m, f) => math.max(m, f._2)).tail
    def lagMs(o: Op): Double = {
      var (lo, hi) = (0, runMax.length) // first frame whose running max reaches o.key
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (runMax(mid) >= o.key) hi = mid else lo = mid + 1 }
      val i = lo
      if (!o.ok || i >= fs.length) Double.PositiveInfinity else (fs(i)._1 - o.start) / 1e6
    }
    val lag = ops.map(o => o -> lagMs(o)).toMap

    // ---- output checks ----
    val acked = all.filter(_._1.acked)
    val versions = acked.map(_._1.key).sorted
    ctx.check(versions == (1L to versions.size.toLong), "acknowledged versions are not unique and dense")
    ctx.check(log.version == versions.size, s"log version ${log.version} != ${versions.size} acks")
    val byVersion = acked.map { case (o, c, i) => o.key -> (c, i) }.toMap
    val rows = log.toDF.select("version", "label", "payload").collect()
    ctx.check(rows.length == versions.size, s"full scan returned ${rows.length} of ${versions.size}")
    rows.foreach { r =>
      byVersion.get(r.getLong(0)) match {
        case Some((c, i)) =>
          val g = ctx.inputs.event(Inputs.appender(c), i)
          ctx.check(r.getString(1) == g.label && r.getString(2) == g.stored,
            s"version ${r.getLong(0)} does not hold the minified input")
        case None => ctx.check(ok = false, s"version ${r.getLong(0)} was never acknowledged")
      }
    }
    ctx.check(log.checkIntegrity().isEmpty, "checkIntegrity reported violations")

    val layers = mutable.Map.empty[String, Double]
    if (ctx.trace) {
      layers ++= storageLayers(ctx, ops)
      layers("storage.segments_end") = segmentFiles(dir).toDouble
      layers("storage.commitlog_bytes_end") = Files.size(dir.resolve("commits.jsonl")).toDouble
      layers("streaming.notifications") =
        fs.count(f => f._1 >= ctx.winStartNs && f._1 <= ctx.winEndNs).toDouble
      layers("streaming.versions_per_notification") =
        (ops.filter(_.acked).map(_.key).maxOption.getOrElse(v0) - v0) /
          math.max(1.0, layers("streaming.notifications"))
      layers("device.write_bytes_per_user_byte") =
        ctx.writeBytes.toDouble / math.max(1L, windowBytes)
      layers("device.fsync_probe_us") = Proc.fsyncProbeUs(ctx.runDir)
      layers ++= codecLayers(ctx, Inputs.appender(0))
    }
    server.stop()
    log.close()
    val dirBytes = Proc.dirBytes(dir)

    // reopen: recovery must land on the last acknowledged version, intact
    val t0 = System.nanoTime()
    val reopened = ParquetLogBackend.open(ctx.spark, dir.toString)
    layers("storage.reopen_ms") = (System.nanoTime() - t0) / 1e6
    val log2 = new EventLog(reopened)
    try {
      ctx.check(log2.version == versions.size, s"reopened at ${log2.version}, expected ${versions.size}")
      ctx.check(log2.checkIntegrity().isEmpty, "checkIntegrity after reopen reported violations")
    } finally log2.close()
    if (!ctx.trace) layers.clear()
    addClientSpans(ctx, ops)

    Outcome(ops,
      e2e = Seq(
        ("bytes_per_user_byte", dirBytes.toDouble / userBytes.get(), "ratio")),
      detail = Seq(
        ("cpu_ms_per_op", ctx.cpuMs / ops.size, "ms"),
        ("append_eps", eps(ctx, ops), "1/s"),
        ("append_p50_ms", Stats.pct(ops.map(_.ms), 50), "ms"),
        ("append_p99_ms", Stats.pct(ops.map(_.ms), 99), "ms"),
        ("feed_lag_p50_ms", Stats.pct(ops.map(lag), 50), "ms"),
        ("feed_lag_p99_ms", Stats.pct(ops.map(lag), 99), "ms")),
      layers = layers.toMap)
  }

  // ---------------------------------------------------------- log_read_mix

  /** 100,000 preloaded events (10× the in-memory tail), 2 closed-loop
    * readers drawing head reads or history pages, and 1 open-loop OCC
    * writer at 200 events/s chaining appendCheck on its own last version. */
  def logReadMix(ctx: Ctx): Outcome = {
    val dir = ctx.runDir.resolve("log")
    val (_, log) = open(ctx, dir)
    var preloadBytes = 0L
    (0 until PreloadEvents / PreloadBatch).foreach { b =>
      val gens = (0 until PreloadBatch).map(i => ctx.inputs.event(Inputs.Preload, b.toLong * PreloadBatch + i))
      preloadBytes += gens.map(_.userBytes).sum
      log.appendMulti(gens.map(_.data))
    }
    val server = new HttpApiServer(log)
    val url = s"http://127.0.0.1:${server.start()}"
    val readers = Seq.fill(Readers)(new EventLogClient(url))
    val writer = new EventLogClient(url)
    val latest = new AtomicLong(log.version)

    // writer: version → writer index of every acknowledged append
    val written = mutable.ArrayBuffer.empty[Op]
    val writerBytes = new AtomicLong
    def write(due: Long): Op = {
      val g = ctx.inputs.event(Inputs.Writer, written.size)
      writerBytes.addAndGet(g.userBytes)
      val o = timed("writer_append", due)(
        (unhex(writer.appendCheck(hex(latest.get()), g.data).version), 1))
      if (o.acked) latest.set(o.key) else latest.set(log.version)
      written += o
      o
    }
    val pages = new ConcurrentLinkedQueue[(Op, Seq[PageRow])]()
    def read(r: Int, rng: SplittableRandom, keep: Boolean): Unit = {
      val head = rng.nextDouble() < HeadShare
      val (v, n) =
        if (head) (latest.get(), HeadN)
        else (1L + rng.nextLong(PreloadEvents - HistoryN + 1L), HistoryN)
      val got = mutable.ArrayBuffer.empty[PageRow]
      val o = timed(if (head) "head" else "history", 0L, v) {
        readers(r).scan(hex(v), batchSize = n, reverse = head, limit = n)(e =>
          got += PageRow(e.version, e.versionPrevious, e.versionNext, e.label, e.payloadJson))
        (v, got.size)
      }
      if (keep) pages.add((o, got.toSeq))
    }
    // warm-up (set-up): codegen for both scan shapes, JIT, pools
    val rngs = (0 until Readers).map(r => new SplittableRandom(Inputs.mix(ctx.seed, Inputs.reader(r), 0)))
    (0 until 20).foreach(_ => write(0L))
    onThreads(Readers)(r => (0 until 6).foreach(_ => read(r, rngs(r), keep = false)))
    val warmWrites = written.size
    val v0 = log.version

    ctx.beginWindow()
    onThreads(Readers + 1) {
      case Readers =>
        val periodNs = 1000000000L / WriterEps
        var i = 0L
        var due = ctx.winStartNs
        while (due < ctx.deadlineNs) {
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          write(due)
          i += 1
          due = ctx.winStartNs + i * periodNs
        }
      case r =>
        while (System.nanoTime() < ctx.deadlineNs) read(r, rngs(r), keep = true)
    }
    ctx.endWindow()
    readers.foreach(_.close())
    writer.close()

    // ---- output checks ----
    val writerIndex = written.zipWithIndex.filter(_._1.acked).map { case (o, i) => o.key -> i }.toMap
    def expected(v: Long): Option[Gen] =
      if (v >= 1 && v <= PreloadEvents) Some(ctx.inputs.event(Inputs.Preload, v - 1))
      else writerIndex.get(v).map(i => ctx.inputs.event(Inputs.Writer, i))
    val pageList = pages.asScala.toSeq
    pageList.filter(_._1.acked).foreach { case (o, es) =>
      val head = o.kind == "head"
      val n = if (head) HeadN else HistoryN
      ctx.check(es.size == n, s"${o.kind} page at ${o.key} returned ${es.size} of $n")
      val vs = es.map(e => unhex(e.version))
      val step = if (head) -1L else 1L
      ctx.check(vs.headOption.contains(o.key) && vs.indices.forall(i => vs(i) == o.key + i * step),
        s"${o.kind} page at ${o.key} is not contiguous")
      es.sliding(2).foreach {
        case Seq(a, b) =>
          val (lo, hi) = if (head) (b, a) else (a, b)
          ctx.check(lo.versionNext == hi.version && hi.versionPrevious == lo.version,
            s"broken version/version-next link at ${lo.version}")
        case _ => ()
      }
      es.foreach { e =>
        val v = unhex(e.version)
        ctx.check(expected(v).exists(g => g.label == e.label && g.stored == e.payloadJson),
          s"${o.kind} page returned a payload at $v that was not sent there")
      }
    }
    ctx.check(written.drop(warmWrites).forall(_.acked) && log.version == v0 + written.size - warmWrites,
      "writer appends were lost or conflicted")

    val ops = written.drop(warmWrites).toSeq ++ pageList.map(_._1)
    val layers = mutable.Map.empty[String, Double]
    if (ctx.trace) {
      val writes = ops.filter(_.kind == "writer_append")
      layers ++= storageLayers(ctx, writes)
      layers ++= pageLayers(ctx, pageList.map(_._1))
      layers("storage.segments_end") = segmentFiles(dir).toDouble
      layers("storage.commitlog_bytes_end") = Files.size(dir.resolve("commits.jsonl")).toDouble
      layers("device.write_bytes_per_user_byte") =
        ctx.writeBytes.toDouble / math.max(1L, writerBytes.get())
      layers("device.fsync_probe_us") = Proc.fsyncProbeUs(ctx.runDir)
      layers ++= codecLayers(ctx, Inputs.Preload)
    }
    server.stop()
    log.close()
    val dirBytes = Proc.dirBytes(dir)
    addClientSpans(ctx, ops)

    val writes = ops.filter(_.kind == "writer_append")
    val late = writes.map(o => (o.start - o.due) / 1e6)
    layers("writer_late_p99_ms") = Stats.pct(late, 99)
    def kind(k: String) = ops.filter(_.kind == k)
    val reads = ops.filter(_.kind != "writer_append")
    Outcome(ops,
      e2e = Seq(
        ("bytes_per_user_byte", dirBytes.toDouble / (writerBytes.get() + preloadBytes), "ratio")),
      detail = Seq(
        ("cpu_ms_per_op", ctx.cpuMs / reads.size, "ms"),
        ("append_eps", eps(ctx, writes), "1/s"),
        ("append_p50_ms", Stats.pct(writes.map(_.ms), 50), "ms"),
        ("append_p99_ms", Stats.pct(writes.map(_.ms), 99), "ms"),
        ("head_read_p50_ms", Stats.pct(kind("head").map(_.ms), 50), "ms"),
        ("head_read_p95_ms", Stats.pct(kind("head").map(_.ms), 95), "ms"),
        ("history_page_p50_ms", Stats.pct(kind("history").map(_.ms), 50), "ms"),
        ("history_page_p95_ms", Stats.pct(kind("history").map(_.ms), 95), "ms")),
      layers = layers.toMap)
  }

  // ------------------------------------------------------------- layers

  private def segmentFiles(dir: Path): Int = {
    val segs = dir.resolve("segments")
    if (!Files.exists(segs)) 0
    else scala.util.Using.resource(Files.list(segs))(_.iterator().asScala.count(_.toString.endsWith(".parquet")))
  }

  /** Storage spans of the window's appends; self time of the layers above
    * is the client span minus the storage span of the same version. */
  private def storageLayers(ctx: Ctx, ops: Seq[Op]): Map[String, Double] = {
    ctx.probe.foreach(_.drain())
    val inWindow = ctx.spans.named("storage.append")
      .filter(s => s.start >= ctx.winStartNs && s.end <= ctx.winEndNs)
    val us = inWindow.map(s => (s.end - s.start) / 1e3)
    val byVersion = inWindow.map(s => s.key -> (s.end - s.start)).toMap
    val self = ops.filter(_.acked).flatMap(o => byVersion.get(o.key).map(d => (o.end - o.start - d) / 1e3))
    val compactions = ctx.probe.toSeq.flatMap(_.qes.asScala)
      .filter(q => q.compaction && q.startMs >= ctx.winStartMs && q.startMs <= ctx.winEndMs)
    Map(
      "storage.append_calls" -> inWindow.size.toDouble,
      "storage.append_us_p50" -> Stats.pct(us, 50),
      "storage.append_us_p99" -> Stats.pct(us, 99),
      "storage.append_us_max" -> us.maxOption.getOrElse(0.0),
      // Little's law: mean number of appends inside the backend at once
      "storage.inflight_mean" -> us.sum * 1e3 / ctx.windowNs,
      "storage.busy_frac" -> Stats.covered(inWindow.map(s => (s.start, s.end))).toDouble / ctx.windowNs,
      "storage.compactions" -> compactions.size.toDouble,
      "storage.compaction_ms_p50" -> Stats.pct(compactions.map(_.durMs), 50),
      "storage.compaction_ms_max" -> compactions.map(_.durMs).maxOption.getOrElse(0.0),
      "api_core.append_self_us_p50" -> Stats.pct(self, 50),
      "api_core.append_self_us_p99" -> Stats.pct(self, 99))
  }

  /** Per page kind: the storage span (joined by requested version), the
    * Spark jobs run under that span's job group, and the plan time of the
    * page scans; api_core self time is what the client waited beyond the
    * storage call and the page's Spark jobs. */
  private def pageLayers(ctx: Ctx, pages: Seq[Op]): Map[String, Double] = {
    val probe = ctx.probe.get
    probe.drain()
    val jobsByGroup = probe.jobsIn(ctx.winStartMs, ctx.winEndMs).groupBy(_.group)
    Seq("head", "history").flatMap { kind =>
      val ps = pages.filter(p => p.kind == kind && p.acked)
      val n = math.max(1, ps.size).toDouble
      val storage = ctx.spans.named(s"storage.snapshot_range.$kind")
        .filter(s => s.start >= ctx.winStartNs && s.end <= ctx.winEndNs)
      val byKey = storage.groupBy(_.key)
      val perPage = ps.flatMap { p =>
        byKey.getOrElse(p.key, Nil).find(s => s.start >= p.start && s.end <= p.end).map { s =>
          val jobs = jobsByGroup.getOrElse(s.group, Nil)
          val jobNs = Stats.covered(jobs.map(j => (j.startMs, math.max(j.startMs, j.endMs)))) * 1000000L
          (s, jobs, (p.end - p.start - (s.end - s.start) - jobNs) / 1e6)
        }
      }
      val jobs = perPage.flatMap(_._2)
      val rowsReturned = ps.map(_.rows).sum
      val planMs = probe.qes.asScala.filter(q => q.scan.contains(kind) &&
        q.startMs >= ctx.winStartMs && q.startMs <= ctx.winEndMs).map(_.planMs).sum
      Seq(
        s"storage.snapshot_range_ms_p50.$kind" -> Stats.pct(storage.map(s => (s.end - s.start) / 1e6), 50),
        s"api_core.page_self_ms_p50.$kind" -> Stats.pct(perPage.map(_._3), 50),
        s"spark.jobs_per_page.$kind" -> jobs.size / n,
        s"spark.tasks_per_page.$kind" -> jobs.map(_.tasks).sum / n,
        s"spark.task_ms_per_page.$kind" -> jobs.map(_.taskMs).sum / n,
        s"spark.rows_read_per_row_returned.$kind" ->
          jobs.map(_.recordsRead).sum.toDouble / math.max(1, rowsReturned),
        s"sql.plan_ms_per_page.$kind" -> planMs / n)
    }.toMap
  }

  /** Codec and expression cost on this workload's own inputs (the first
    * 2000 events of `stream`), timed from outside: µs per KB of payload. */
  private def codecLayers(ctx: Ctx, stream: Int): Map[String, Double] = {
    val gens = (0 until 2000).map(i => ctx.inputs.event(stream, i))
    val kb = gens.map(_.userBytes).sum / 1024.0
    def usPerKb(f: () => Unit): Double = {
      f() // warm
      var reps = 0
      val t0 = System.nanoTime()
      while (reps < 3 || System.nanoTime() - t0 < 200000000L) { f(); reps += 1 }
      (System.nanoTime() - t0) / 1e3 / reps / kb
    }
    val bodies = gens.map(g => MsgCodec.encode(Seq(g.data)))
    val utf = gens.map(g => (UTF8String.fromString(g.label), UTF8String.fromString(g.sent),
      UTF8String.fromString(g.stored)))
    var sink = 0L
    val m = Map(
      "api.codec_encode_us_per_kb" -> usPerKb(() => gens.foreach(g => sink += MsgCodec.encode(Seq(g.data)).length)),
      "api.codec_decode_us_per_kb" -> usPerKb(() => bodies.foreach(b => sink += MsgCodec.decode(b).size)),
      "exprs.canonicalize_us_per_kb" -> usPerKb(() => utf.foreach { case (l, p, _) =>
        if (EventOps.validateLabel(l) && EventOps.validatePayload(p))
          sink += EventOps.minifyJson(p).numBytes
      }),
      "exprs.checksum_us_per_kb" -> usPerKb(() => utf.zipWithIndex.foreach { case ((l, _, s), i) =>
        sink += EventOps.checksum(1700000000L, l, s, i.toLong)
      }))
    ctx.check(sink != 0L, "codec probe did no work")
    m
  }
}
