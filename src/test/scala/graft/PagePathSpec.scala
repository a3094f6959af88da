package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.api.HttpApiServer
import graft.core.{Event, EventData, EventLog, EventSchema}
import graft.storage.{EventLogBackend, InMemoryBackend, ParquetLogBackend}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The HTTP page path reads on the calling thread: `EventLog.page` through
  * `EventLogBackend.readRange`, no Spark job. Its rows must equal the
  * DataFrame scan's over every boundary a page can straddle (tail/segment,
  * segment/segment, a coalesced segment), and opening a log must not run a
  * Spark job either. */
class PagePathSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val http = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  private def events(is: Range): Seq[EventData] =
    is.map(i => EventData(s"b${i % 7}", s"""{"i":$i}"""))

  private def appendBatches(log: EventLog, is: Range): Unit =
    is.grouped(500).foreach(g => log.appendMulti(events(g)))

  /** Segments [1,2500] and [2501,3700], tail [3701,3750]; coalesced, one
    * Spark-written segment [1,3700] instead. */
  private def parquetLog(coalesced: Boolean): (ParquetLogBackend, EventLog) = {
    val b = ParquetLogBackend.create(spark,
      Files.createTempDirectory("graftpage").toString,
      compactThreshold = 100000, compactIntervalMs = 0)
    val log = new EventLog(b)
    appendBatches(log, 1 to 2500)
    b.compact()
    appendBatches(log, 2501 to 3700)
    b.compact()
    if (coalesced) b.coalesceSegments()
    appendBatches(log, 3701 to 3750)
    (b, log)
  }

  private def oracle(df: DataFrame): Seq[Event] =
    df.collect().toSeq.map(r => Event(r.getAs[Long]("version"),
      r.getAs[Long]("version_previous"), r.getAs[Long]("version_next"),
      r.getAs[Long]("timestamp"), r.getAs[String]("label"),
      r.getAs[String]("payload")))

  private def unhex(s: String): Long = java.lang.Long.parseUnsignedLong(s, 16)

  private def getPage(base: String, path: String): Seq[Event] = {
    val r = http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, s"$path: ${r.body()}")
    mapper.readTree(r.body()).elements().asScala.map { e =>
      Event(unhex(e.get("version").asText()),
        unhex(e.get("version-previous").asText()),
        unhex(e.get("version-next").asText()),
        java.time.Instant.parse(e.get("time").asText()).getEpochSecond,
        e.get("label").asText(), e.get("payload").toString)
    }.toList
  }

  private def query(v: Long, reverse: Boolean, n: Int, skipFirst: Boolean): String =
    Seq(if (n > 0) Some(s"n=$n") else None,
      if (reverse) Some("reverse") else None,
      if (skipFirst) Some("skip_first") else None).flatten
      .mkString(s"/log/${java.lang.Long.toHexString(v)}?", "&", "")

  /** The groups of the Spark jobs started while `body` ran: a marker job
    * in its own group flushes the asynchronous listener bus. */
  private def jobGroups(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val started = new ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("page-spec-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.contains("page-spec-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(started.contains("page-spec-marker"), "marker job never seen")
      started.asScala.toList.filter(_ != "page-spec-marker")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** A decorator that overrides only `snapshotRange`, as a timing wrapper
    * would: its pages go through the trait's default `readRange`. */
  private final class RangeOnly(inner: EventLogBackend) extends EventLogBackend {
    override def append(e: EventData) = inner.append(e)
    override def appendMulti(es: Seq[EventData]) = inner.appendMulti(es)
    override def appendCheck(v: Long, e: EventData) = inner.appendCheck(v, e)
    override def appendCheckMulti(v: Long, es: Seq[EventData]) =
      inner.appendCheckMulti(v, es)
    override def appendMultiTxn(q: String, b: Long, es: Seq[EventData]) =
      inner.appendMultiTxn(q, b, es)
    override def version: Long = inner.version
    override def versionInitial: Long = inner.versionInitial
    override def metadata: Map[String, String] = inner.metadata
    override def snapshot(): DataFrame = inner.snapshot()
    override def snapshotRange(lo: Long, hi: Long): DataFrame =
      inner.snapshotRange(lo, hi)
    override def payloadLimit: Int = inner.payloadLimit
    override def close(): Unit = ()
  }

  test("pages equal the DataFrame scan across tail, segment and coalesced boundaries") {
    val (_, twoSegs) = parquetLog(coalesced = false)
    val (_, coalesced) = parquetLog(coalesced = true)
    val inmem = new EventLog(new InMemoryBackend(spark))
    try {
      appendBatches(inmem, 1 to 3750)
      for {
        (name, log) <- Seq(("parquet", twoSegs), ("coalesced", coalesced),
          ("inmem", inmem))
        // first version, segment edges, first tail version, latest
        v <- Seq(1L, 2500L, 3700L, 3701L, 3750L)
        // 5000 is more than any page has; None is the unbounded read
        n <- Seq(Some(1), Some(3), Some(EventSchema.MaxReadBatchSize), Some(5000), None)
        reverse <- Seq(false, true)
        skipFirst <- Seq(false, true)
      } {
        val page = log.page(v, reverse, n, skipFirst).toList
        assert(page == oracle(log.scan(v, reverse, n, skipFirst)),
          s"$name page($v, reverse=$reverse, n=$n, skipFirst=$skipFirst)")
      }
      Seq(0L, 3751L).foreach { v =>
        intercept[graft.core.Errors.ErrInvalidVersion](twoSegs.page(v))
      }
    } finally { twoSegs.close(); coalesced.close(); inmem.close() }
  }

  /** A started server over `log` and its base URL. Its threads inherit
    * the Spark job group of the thread that starts them. */
  private def serve(log: EventLog, group: String = null,
      maxReadBatchSize: Int = EventSchema.MaxReadBatchSize): (HttpApiServer, String) = {
    val sc = spark.sparkContext
    if (group != null) sc.setJobGroup(group, group)
    try {
      val s = new HttpApiServer(log, maxReadBatchSize = maxReadBatchSize)
      (s, s"http://127.0.0.1:${s.start()}")
    } finally sc.clearJobGroup()
  }

  test("HTTP head and history pages run no Spark job; the trait default does") {
    val (b, log) = parquetLog(coalesced = false)
    val (direct, directUrl) = serve(log, "page-spec-direct")
    val (default, defaultUrl) =
      serve(new EventLog(new RangeOnly(b)), "page-spec-default")
    try {
      // head pages from the tail and across the tail/segment edge; history
      // pages inside a segment and across both boundaries
      val pages = Seq((3750L, true, 100), (3720L, true, 100), (1L, false, 1000),
        (2400L, false, 1000), (3650L, false, 1000))
      var seen = Seq.empty[(Seq[Event], Seq[Event])]
      val groups = jobGroups {
        seen = pages.map { case (v, reverse, n) =>
          val q = query(v, reverse, n, skipFirst = false)
          (getPage(directUrl, q), getPage(defaultUrl, q))
        }
      }
      assert(!groups.contains("page-spec-direct"), groups)
      // the control: the same pages through snapshotRange do run jobs, so
      // the group reaches the server's threads
      assert(groups.contains("page-spec-default"), groups)
      pages.zip(seen).foreach { case ((v, reverse, n), (a, d)) =>
        val want = oracle(log.scan(v, reverse, Some(n)))
        assert(a == want && d == want, s"page $v reverse=$reverse n=$n")
      }
    } finally { direct.stop(); default.stop(); log.close() }
  }

  test("an uncapped server scans the whole log both ways in windows") {
    val (_, log) = parquetLog(coalesced = false)
    val (server, url) = serve(log, maxReadBatchSize = 0)
    try {
      val fwd = getPage(url, "/log/1")
      assert(fwd == oracle(log.scan(1L)))
      assert(fwd.map(_.version) == (1L to 3750L))
      val rev = getPage(url, s"/log/${java.lang.Long.toHexString(3750L)}?reverse")
      assert(rev == oracle(log.scan(3750L, reverse = true)))
      assert(rev == fwd.reverse)
      assert(getPage(url, "/log/2?skip_first").map(_.version) == (3L to 3750L))
    } finally { server.stop(); log.close() }
  }

  test("pages read beside a writer through size-triggered compactions are contiguous chains") {
    val dir = Files.createTempDirectory("graftpagew")
    val log = new EventLog(ParquetLogBackend.create(spark, dir.toString,
      compactThreshold = 500, compactIntervalMs = 0))
    val (server, url) = serve(log)
    try {
      appendBatches(log, 1 to 1000)
      val last = 4000
      val writer = new Thread(() =>
        (1001 to last).grouped(7).foreach(g => log.appendMulti(events(g))))
      writer.start()
      val rng = new scala.util.Random(7)
      var pages = 0
      while (writer.isAlive || pages < 20) {
        val v = log.version
        val (from, reverse, n) =
          if (pages % 2 == 0) (v, true, 100) else (1L + rng.nextInt(v.toInt), false, 300)
        val page = getPage(url, query(from, reverse, n, skipFirst = false))
        val vs = page.map(_.version)
        val step = if (reverse) -1L else 1L
        assert(vs.nonEmpty && vs.head == from &&
          vs.indices.forall(i => vs(i) == from + i * step),
          s"page at $from reverse=$reverse: $vs")
        // `from` was read before the request; the log only grows after it
        if (reverse) assert(page.size == math.min(n.toLong, from))
        else assert(page.size <= n && page.size >= math.min(n.toLong, v - from + 1L))
        page.sliding(2).foreach {
          case Seq(a, c) =>
            val (lo, hi) = if (reverse) (c, a) else (a, c)
            assert(lo.versionNext == hi.version && hi.versionPrevious == lo.version)
          case _ => ()
        }
        page.foreach(e => assert(e.payloadJson == s"""{"i":${e.version}}"""))
        pages += 1
      }
      writer.join()
      assert(log.version == last.toLong)
      val segments = scala.util.Using.resource(Files.list(dir.resolve("segments")))(
        _.iterator().asScala.count(_.toString.endsWith(".parquet")))
      assert(segments >= last / 500 - 1, s"$segments segments")
      assert(log.page(1L, limit = Some(last)).map(_.version).toList == (1L to last))
    } finally { server.stop(); log.close() }
  }

  test("open runs no Spark job, with or without a tail") {
    Seq(false, true).foreach { withTail =>
      val dir = Files.createTempDirectory("graftopen").toString
      val b = ParquetLogBackend.create(spark, dir,
        compactThreshold = 100000, compactIntervalMs = 0)
      val log = new EventLog(b)
      appendBatches(log, 1 to 1200)
      b.compact()
      if (withTail) appendBatches(log, 1201 to 1250)
      val last = log.version
      log.close()
      var reopened: EventLog = null
      val sc = spark.sparkContext
      val groups = jobGroups {
        sc.setJobGroup("page-spec-open", "open")
        try reopened = new EventLog(ParquetLogBackend.open(spark, dir,
          compactIntervalMs = 0))
        finally sc.clearJobGroup()
      }
      try {
        assert(!groups.contains("page-spec-open"), s"withTail=$withTail: $groups")
        assert(reopened.version == last)
        reopened.append(EventData("after", """{"i":0}"""))
        assert(reopened.checkIntegrity().isEmpty, s"withTail=$withTail")
      } finally reopened.close()
    }
  }
}
