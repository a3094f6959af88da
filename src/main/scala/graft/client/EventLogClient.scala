package graft.client

import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.ObjectMapper
import graft.api.MsgCodec
import graft.core.{Errors, EventData}

import java.net.URI
import java.net.http.HttpClient
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

/** HTTP client library ≙ reference client package (client/client.go +
  * client/http.go): append (plain + OCC), paginated scans that follow the
  * `version-next` cursor with `skip_first` resume (http.go:342-429), OCC
  * retry helper (client.go:150-246), and a change-feed listen loop
  * (http.go:507-585 — long-poll here, WS there; same at-most-once
  * watermark contract).
  *
  * Request transport is [[HttpTransport]] (pooled blocking keep-alive
  * sockets ≙ fasthttp.Client — http.go:37); the JDK HttpClient remains
  * only for the WebSocket listen path, built lazily so request-only
  * clients never pay for it.
  */
final class EventLogClient(baseUrl: String) extends AutoCloseable {
  private val transport = new HttpTransport(baseUrl)
  private lazy val http = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  override def close(): Unit = transport.close()

  final case class AppendResult(
      version: String, versionPrevious: String,
      versionFirst: Option[String], time: String)

  final case class ClientEvent(
      time: String, version: String, versionPrevious: String,
      versionNext: String, label: String, payloadJson: String)

  private def get(path: String): (Int, Array[Byte]) =
    transport.request("GET", path)

  private def fail(body: Array[Byte]): Nothing = new String(body, UTF_8) match {
    case "ErrMismatchingVersions" => throw new Errors.ErrMismatchingVersions
    case "ErrInvalidVersion" => throw new Errors.ErrInvalidVersion
    case "ErrMalformedVersion" => throw new Errors.ErrMalformedVersion
    case "ErrInvalidPayload" => throw new Errors.ErrInvalidPayload
    case "ErrPayloadSizeLimitExceeded" =>
      throw new Errors.ErrPayloadSizeLimitExceeded
    case other => throw new RuntimeException(s"server error: $other")
  }

  private def postEvents(path: String, events: Seq[EventData]): AppendResult = {
    val (code, body) = transport.request("POST", path, MsgCodec.encode(events))
    if (code != 200) fail(body)
    val n = mapper.readTree(body)
    AppendResult(
      n.get("version").asText(),
      n.get("version-previous").asText(),
      Option(n.get("version-first")).map(_.asText()),
      n.get("time").asText())
  }

  def append(e: EventData): AppendResult = postEvents("/log/", Seq(e))
  def appendMulti(es: Seq[EventData]): AppendResult = postEvents("/log/", es)
  def appendCheck(assumedVersion: String, e: EventData): AppendResult =
    postEvents(s"/log/$assumedVersion", Seq(e))
  def appendCheckMulti(assumedVersion: String, es: Seq[EventData]): AppendResult =
    postEvents(s"/log/$assumedVersion", es)

  /** OCC retry loop ≙ client.TryAppend (client/client.go:150-194). */
  def tryAppend(
      assumedVersion: String,
      transaction: String => EventData,
      maxRetries: Int = 16): AppendResult = {
    var assumed = assumedVersion
    var attempts = 0
    while (true) {
      try return appendCheck(assumed, transaction(assumed))
      catch {
        case _: Errors.ErrMismatchingVersions if attempts < maxRetries =>
          attempts += 1
          assumed = version() // sync
      }
    }
    sys.error("unreachable")
  }

  def version(): String =
    mapper.readTree(ok(get("/version"))).get("version").asText()

  def versionInitial(): String =
    mapper.readTree(ok(get("/version/initial")))
      .get("version-initial").asText()

  def metadata(): Map[String, String] = {
    val n = mapper.readTree(ok(get("/meta")))
    n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }

  private def ok(r: (Int, Array[Byte])): Array[Byte] =
    if (r._1 == 200) r._2 else fail(r._2)

  private def scanPage(version: String, n: Int, reverse: Boolean,
      skipFirst: Boolean): Seq[ClientEvent] = {
    val params = Seq(
      if (n > 0) Some(s"n=$n") else None,
      if (reverse) Some("reverse") else None,
      if (skipFirst) Some("skip_first") else None).flatten
    val q = if (params.isEmpty) "" else params.mkString("?", "&", "")
    val body = ok(get(s"/log/$version$q"))
    // streamed over the response bytes: each payload is the raw byte span
    // of its value, so the client hands back the text the log stores
    // (a parsed tree would re-serialize it: 1.50 -> 1.5, \u00e9 -> é)
    scala.util.Using.resource(mapper.getFactory.createParser(body)) { p =>
      val out = List.newBuilder[ClientEvent]
      // equal field values share one String per page: an event's
      // version-previous is its predecessor's version, and labels repeat
      val shared = scala.collection.mutable.HashMap.empty[String, String]
      p.nextToken() // the page's array
      while (p.nextToken() == JsonToken.START_OBJECT) {
        val f = scala.collection.mutable.HashMap.empty[String, String]
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val name = p.currentName
          val t = p.nextToken()
          if (name == "payload") {
            val start = p.currentTokenLocation().getByteOffset.toInt
            if (t.isStructStart) p.skipChildren() else p.finishToken()
            val end = p.currentLocation().getByteOffset.toInt
            f(name) = new String(body, start, end - start, UTF_8)
          } else if (t.isStructStart) p.skipChildren()
          else {
            val s = p.getText
            f(name) = shared.getOrElseUpdate(s, s)
          }
        }
        out += ClientEvent(f("time"), f("version"), f("version-previous"),
          f("version-next"), f("label"), f("payload"))
      }
      out.result()
    }
  }

  /** Paginated scan ≙ client/http.go:342-429: batches of `batchSize`, resume
    * at the last-seen version with skip_first, stop at the chain end ("0"
    * cursor) or after `limit` events (0 = unlimited). */
  def scan(
      version: String,
      batchSize: Int = 100,
      reverse: Boolean = false,
      limit: Int = 0)(fn: ClientEvent => Unit): Int = {
    var cursor = version
    var skip = false
    var count = 0
    var done = false
    while (!done) {
      val want =
        if (limit > 0) math.min(batchSize, limit - count) else batchSize
      val page = scanPage(cursor, want, reverse, skip)
      page.foreach { e => if (!done) { fn(e); count += 1
        if (limit > 0 && count >= limit) done = true } }
      if (!done) {
        val next = page.lastOption
          .map(e => if (reverse) e.versionPrevious else e.versionNext)
        next match {
          case Some(v) if v != "0" && page.nonEmpty =>
            cursor = if (reverse) v else page.last.version
            // forward: resume AT last seen + skip_first (cursor pattern R3);
            // reverse: hop straight to version-previous
            skip = !reverse
          case _ => done = true
        }
      }
    }
    count
  }

  /** Change-feed listener ≙ client Listen (http.go:507-585): a WebSocket on
    * `GET /subscription`, each binary frame carrying a shortest-hex
    * watermark passed to `onUpdate`; reconnects on connection loss like the
    * reference's retry loop. Returns a stop handle. */
  def listen(onUpdate: String => Unit): AutoCloseable = {
    import java.net.http.WebSocket
    val wsUri = URI.create(
      baseUrl.replaceFirst("^http", "ws") + "/subscription")
    @volatile var running = true
    @volatile var current: WebSocket = null
    // one listener per connection attempt: a partial frame left in the
    // buffer by a dead connection must not prefix the next connection's
    // first watermark
    def newListener() = new WebSocket.Listener {
      private val buf = new java.io.ByteArrayOutputStream()
      override def onOpen(ws: WebSocket): Unit = ws.request(1)
      override def onBinary(ws: WebSocket, data: java.nio.ByteBuffer,
          last: Boolean): java.util.concurrent.CompletionStage[_] = {
        val b = new Array[Byte](data.remaining())
        data.get(b)
        buf.write(b, 0, b.length)
        if (last) {
          val v = buf.toString(java.nio.charset.StandardCharsets.US_ASCII)
          buf.reset()
          if (running) onUpdate(v)
        }
        ws.request(1)
        null
      }
      override def onPing(ws: WebSocket, msg: java.nio.ByteBuffer)
          : java.util.concurrent.CompletionStage[_] = {
        ws.sendPong(msg) // keepalive reply to the server's 30s pings
        ws.request(1)
        null
      }
    }
    val t = new Thread(() => {
      while (running)
        try {
          val ws = http.newWebSocketBuilder()
            .buildAsync(wsUri, newListener()).join()
          current = ws
          // block until this connection dies, then reconnect
          while (running && !ws.isInputClosed) Thread.sleep(50)
        } catch { case _: Exception => if (running) Thread.sleep(100) }
    }, "graft-client-listen")
    t.setDaemon(true)
    t.start()
    () => {
      running = false
      val ws = current
      if (ws != null)
        try ws.abort() catch { case _: Exception => () }
    }
  }

  /** Long-poll rendering of [[listen]] against `GET /subscription/poll`,
    * for WS-less consumers; same at-most-once watermark contract. */
  def listenPoll(onUpdate: String => Unit): AutoCloseable = {
    @volatile var running = true
    val t = new Thread(() => {
      while (running)
        try {
          val (code, body) = get("/subscription/poll")
          if (running && code == 200)
            onUpdate(mapper.readTree(body).get("version").asText())
        } catch { case _: Exception => if (running) Thread.sleep(100) }
    }, "graft-client-listen")
    t.setDaemon(true)
    t.start()
    () => running = false
  }
}
