package graft

import graft.api.HttpApiServer
import graft.client.EventLogClient
import graft.core.{EventData, EventLog}
import graft.storage.InMemoryBackend
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable.ArrayBuffer

/** Client-library behavior ≙ reference client tests (client_test.go):
  * pagination batching across a small server batch cap, reverse cursoring,
  * OCC retries through the HTTP surface, and the listen loop. */
class ClientSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkFixture.spark
  private var log: EventLog = _
  private var server: HttpApiServer = _
  private var client: EventLogClient = _

  override def beforeAll(): Unit = {
    log = new EventLog(new InMemoryBackend(spark, Map("kind" -> "client-test")))
    // batch cap 2 forces the client to paginate (≙ client_test.go:433-479)
    server = new HttpApiServer(log, maxReadBatchSize = 2)
    client = new EventLogClient(s"http://127.0.0.1:${server.start()}")
  }

  override def afterAll(): Unit = {
    client.close()
    server.stop()
    log.close()
  }

  test("append + appendMulti round-trip hex versions") {
    val r1 = client.append(EventData("e1", """{"i":1}"""))
    assert(r1.version == "1" && r1.versionPrevious == "0")
    assert(r1.versionFirst.isEmpty)
    val rm = client.appendMulti((2 to 7).map(i =>
      EventData(s"e$i", s"""{"i":$i}""")))
    assert(rm.versionFirst.contains("2"))
    assert(client.version() == "7")
    assert(client.versionInitial() == "1")
    assert(client.metadata() == Map("kind" -> "client-test"))
  }

  test("forward scan paginates across the server's batch cap of 2") {
    val seen = ArrayBuffer.empty[String]
    val n = client.scan("1", batchSize = 2)(e => seen += e.version)
    assert(n == 7)
    assert(seen.toList == (1 to 7).map(_.toString).toList)
    // payloads come back as raw JSON, minified
    val payloads = ArrayBuffer.empty[String]
    client.scan("1", batchSize = 3, limit = 2)(e => payloads += e.payloadJson)
    assert(payloads.toList == List("""{"i":1}""", """{"i":2}"""))
  }

  test("reverse scan follows version-previous cursors to the log head") {
    val seen = ArrayBuffer.empty[String]
    val n = client.scan("5", batchSize = 2, reverse = true)(e => seen += e.version)
    assert(n == 5)
    assert(seen.toList == (5 to 1 by -1).map(_.toString).toList)
  }

  test("tryAppend re-syncs through a version race over HTTP") {
    val r = client.tryAppend("1",
      assumed => EventData("occ", s"""{"assumed":"$assumed"}"""))
    assert(r.version == "8")
  }

  test("pooled transport survives concurrent appends and scans") {
    // 8 threads hammer one client: the connection pool must hand each
    // in-flight request its own socket (no response interleaving), and
    // every append must land exactly once (versions stay dense).
    val before = log.version
    val threads = 8
    val perThread = 25
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val tasks = (0 until threads).map { t =>
        val job: java.util.concurrent.Callable[Unit] = () => {
          try {
            var i = 0
            while (i < perThread) {
              client.append(EventData("conc", s"""{"t":$t,"i":$i}"""))
              client.version() // interleave GETs through the same pool
              i += 1
            }
          } catch { case e: Throwable => errs.add(e) }
        }
        pool.submit(job)
      }
      tasks.foreach(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(errs.isEmpty, s"concurrent failures: ${errs.peek()}")
    assert(log.version === before + threads * perThread,
      "every append applied exactly once")
    assert(log.checkIntegrity().count() === 0L)
  }

  test("listen loop receives append watermarks") {
    val got = new CountDownLatch(1)
    @volatile var watermark = ""
    val handle = client.listen { v => watermark = v; got.countDown() }
    try {
      // delivery is at-most-once: an append can land between two polls and
      // be dropped, so keep appending until one watermark arrives — exactly
      // the consumer contract (re-scan from cursor, rely on later updates)
      var tries = 0
      while (got.getCount > 0 && tries < 50) {
        client.append(EventData("notify", s"""{"w":$tries}"""))
        got.await(200, TimeUnit.MILLISECONDS)
        tries += 1
      }
      assert(got.getCount == 0, "no watermark after 50 appends")
      assert(java.lang.Long.parseLong(watermark, 16) >= 9L)
    } finally handle.close()
  }

  test("scanned payloads keep the bytes the log stores") {
    // number spellings and escapes a parsed tree would rewrite
    val bs = "\\"
    val sent = s"""{"a":1.50,"b":1e2,"c":"caf${bs}u00e9 $bs/x","d":"é"}"""
    val v = client.append(EventData("raw", sent)).version
    val got = ArrayBuffer.empty[String]
    client.scan(v, limit = 1)(e => got += e.payloadJson)
    val stored = log.page(java.lang.Long.parseLong(v, 16), limit = Some(1))
      .next().payloadJson
    assert(stored == sent)
    assert(got.map(_.getBytes("UTF-8").toSeq) ==
      Seq(stored.getBytes("UTF-8").toSeq))
  }
}
