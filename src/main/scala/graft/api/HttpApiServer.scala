package graft.api

import graft.core.{Errors, EventLog, EventSchema}
import graft.exprs.EventOps
import org.apache.spark.unsafe.types.UTF8String

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

/** HTTP façade ≙ reference api/fasthttp (serve.go:31-93 routing; README.md
  * HTTP API): same routes, JSON shapes, shortest-hex versions, RFC3339
  * times, and error-string contract (internal/internal.go:7-14).
  *
  * Hand-rolled HTTP/1.1 over a ServerSocket (keep-alive, Content-Length
  * bodies, chunked scan responses) because `GET /subscription` upgrades to a
  * WebSocket on the SAME port like the reference (serve.go:381-463) and the
  * JDK's HttpServer cannot hand over the raw connection. WS contract
  * mirrored from server.go:26-51: binary frames carrying the shortest-hex
  * version, a ping every `wsPingIntervalMs` (30 s), `wsWriteTimeoutMs` (1 s)
  * write deadline, at-most-once via [[graft.streaming.VersionHub]]'s
  * capacity-1 drop-on-full mailboxes. `GET /subscription/poll` additionally
  * offers the same feed as a long-poll for WS-less consumers.
  */
final class HttpApiServer(
    log: EventLog,
    port: Int = 0,
    val maxReadBatchSize: Int = EventSchema.MaxReadBatchSize,
    val wsPingIntervalMs: Long = 30000,
    val wsWriteTimeoutMs: Long = 1000,
    val httpReadTimeoutMs: Long = 2000) {

  private val rfc3339 = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssXXX")
    .withZone(ZoneOffset.UTC)
  private val serverSocket = new ServerSocket()
  @volatile private var running = false
  private val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-http")
    t.setDaemon(true)
    t
  }
  // watchdogs enforcing the WS write deadline (closing the socket is the
  // only way to unblock a stalled blocking write)
  private val scheduler = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "graft-ws-watchdog")
    t.setDaemon(true)
    t
  }
  // open WS connections, closed on stop() ≙ Server.Close (server.go:43-51)
  private val wsConns = ConcurrentHashMap.newKeySet[Socket]()

  def start(): Int = {
    serverSocket.bind(new InetSocketAddress(port))
    running = true
    pool.submit[Unit] { () =>
      while (running)
        try {
          val sock = serverSocket.accept()
          pool.submit[Unit](() => handleConn(sock))
        } catch { case _: Exception => () } // socket closed on stop
    }
    serverSocket.getLocalPort
  }

  def stop(): Unit = {
    running = false
    try serverSocket.close() catch { case _: Exception => () }
    wsConns.forEach(s => try s.close() catch { case _: Exception => () })
    wsConns.clear()
    pool.shutdownNow()
    scheduler.shutdownNow()
  }

  // ---------------------------------------------------------------- HTTP --

  private final case class Req(
      method: String,
      path: String,
      rawQuery: String,
      headers: Map[String, String],
      body: Array[Byte]) {
    def header(k: String): Option[String] = headers.get(k.toLowerCase)
    def wantsClose: Boolean =
      header("connection").exists(_.toLowerCase.contains("close"))
  }

  // Untrusted-input bounds: a request that exceeds them is dropped (the
  // connection closes) rather than allocated for.
  private val MaxLineLen = 8192
  private val MaxHeaders = 128
  private val MaxBodyLen = 64 << 20

  /** CRLF-terminated ISO-8859-1 line; None on EOF before any byte or when
    * the line exceeds [[MaxLineLen]]. */
  private def readLine(in: InputStream): Option[String] = {
    val sb = new java.lang.StringBuilder(64)
    var c = in.read()
    if (c < 0) return None
    while (c >= 0 && c != '\n') {
      if (c != '\r') sb.append(c.toChar)
      if (sb.length > MaxLineLen) return None
      c = in.read()
    }
    Some(sb.toString)
  }

  private def readRequest(in: InputStream, out: OutputStream): Option[Req] = {
    val start = readLine(in) match {
      case None | Some("") => return None
      case Some(l) => l
    }
    val parts = start.split(" ")
    if (parts.length < 2) return None
    val (path, rawQuery) = parts(1).split("\\?", 2) match {
      case Array(p) => (p, "")
      case Array(p, q) => (p, q)
    }
    val headers = Map.newBuilder[String, String]
    var headerCount = 0
    var terminated = false
    while (!terminated) {
      readLine(in) match {
        case None => return None // EOF or oversized line: drop, don't desync
        case Some("") => terminated = true
        case Some(l) =>
          headerCount += 1
          if (headerCount > MaxHeaders) return None
          l.split(":", 2) match {
            case Array(k, v) => headers += k.trim.toLowerCase -> v.trim
            case _ => ()
          }
      }
    }
    val hdrs = headers.result()
    val len = hdrs.get("content-length").flatMap(_.toIntOption).getOrElse(0)
    if (len > MaxBodyLen) return None
    // curl sends Expect: 100-continue on large POSTs and stalls ~1s
    // waiting for the interim response before uploading the body
    if (hdrs.get("expect").exists(_.equalsIgnoreCase("100-continue"))) {
      out.write("HTTP/1.1 100 Continue\r\n\r\n"
        .getBytes(StandardCharsets.ISO_8859_1))
      out.flush()
    }
    val body = if (len > 0) in.readNBytes(len) else Array.emptyByteArray
    if (body.length < len) return None // truncated upload
    Some(Req(parts(0), path, rawQuery, hdrs, body))
  }

  private def respond(out: OutputStream, code: Int, body: String,
      contentType: String = "application/json",
      headOnly: Boolean = false): Unit = {
    val b = body.getBytes(StandardCharsets.UTF_8)
    val status = code match {
      case 200 => "200 OK"
      case 204 => "204 No Content"
      case 400 => "400 Bad Request"
      case 404 => "404 Not Found"
      case _ => s"$code Error"
    }
    val head = new java.lang.StringBuilder()
      .append("HTTP/1.1 ").append(status).append("\r\n")
    if (code != 204)
      head.append("Content-Type: ").append(contentType).append("\r\n")
        .append("Content-Length: ").append(b.length).append("\r\n")
    head.append("Connection: keep-alive\r\n\r\n")
    out.write(head.toString.getBytes(StandardCharsets.ISO_8859_1))
    // HEAD: same status + headers (incl. the Content-Length GET would
    // send), no body — RFC 7231 §4.3.2
    if (!headOnly) out.write(b)
    out.flush()
  }

  private def bad(out: OutputStream, msg: String,
      headOnly: Boolean = false): Unit =
    respond(out, 400, msg, "text/plain", headOnly)

  /** Thrown once response bytes are committed and the stream can no longer
    * carry a clean error: the only safe recovery is closing the connection
    * (writing a second status line mid-body would desync the protocol). */
  private final class ConnectionAbort(cause: Throwable)
    extends RuntimeException(cause)

  private def hex(v: Long): String = EventOps.hexEncode(v).toString
  private def time(ts: Long): String = rfc3339.format(Instant.ofEpochSecond(ts))

  private def handleConn(sock: Socket): Unit = {
    try {
      sock.setTcpNoDelay(true)
      // ≙ fasthttp ReadTimeout (cli.go --http-read-timeout, default 2s):
      // bounds request reads and reaps idle keep-alive connections; the WS
      // handler disables it after upgrade like the reference's
      // SetReadDeadline(time.Time{}) (serve.go:456-460)
      if (httpReadTimeoutMs > 0) sock.setSoTimeout(httpReadTimeoutMs.toInt)
      val in = new BufferedInputStream(sock.getInputStream)
      val out = new BufferedOutputStream(sock.getOutputStream)
      var keepAlive = true
      while (keepAlive && running) {
        readRequest(in, out) match {
          case None => keepAlive = false
          case Some(req) =>
            val upgraded = route(req, sock, in, out)
            if (upgraded || req.wantsClose) keepAlive = false
        }
      }
    } catch {
      case _: ConnectionAbort => () // committed response failed: just close
      case _: Exception => ()
    } finally {
      if (!wsConns.contains(sock)) // WS cleanup owns its socket
        try sock.close() catch { case _: Exception => () }
    }
  }

  /** Returns true when the connection was consumed (WS upgrade). */
  private def route(req: Req, sock: Socket, in: InputStream,
      out: OutputStream): Boolean = {
    // HEAD runs the matching GET handler with the body suppressed (same
    // status, headers, Content-Length) — what fasthttp gives the
    // reference for free (RFC 7231 §4.3.2). Applies to error responses
    // too: a body on a HEAD response would desync keep-alive framing.
    val headOnly = req.method == "HEAD"
    val method = if (headOnly) "GET" else req.method
    try {
      (method, req.path) match {
        case ("GET", "/version") =>
          respond(out, 200, s"""{"version":"${hex(log.version)}"}""",
            headOnly = headOnly)
          false
        case ("GET", "/version/initial") =>
          respond(out, 200,
            s"""{"version-initial":"${hex(log.versionInitial)}"}""",
            headOnly = headOnly)
          false
        case ("GET", "/meta") =>
          val fields = log.metadata.toSeq.sortBy(_._1)
            .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
          respond(out, 200, fields.mkString("{", ",", "}"),
            headOnly = headOnly)
          false
        case ("GET", "/subscription") =>
          if (headOnly) { // an upgrade cannot be HEAD-probed
            bad(out, "websocket upgrade required", headOnly)
            false
          } else handleSubscription(req, sock, in, out)
        case ("GET", "/subscription/poll") =>
          // long-poll rendering of the same feed: block up to 30s for the
          // next watermark; 204 on timeout. At-most-once, consumers re-scan
          // from their cursor — same contract as broadcast.go:24-28.
          // HEAD answers immediately (route-exists probe): parking a pool
          // thread for 30s per health check would starve real clients.
          if (headOnly) respond(out, 200,
            s"""{"version":"${hex(log.version)}"}""", headOnly = true)
          else {
            val sub = log.subscribe()
            try sub.poll(30000) match {
              case Some(v) => respond(out, 200,
                s"""{"version":"${hex(v)}"}""", headOnly = headOnly)
              case None => respond(out, 204, "")
            } finally sub.close()
          }
          false
        case ("POST", p) if p.startsWith("/log/") =>
          handleAppend(req, out, p)
          false
        case ("GET", p) if p.startsWith("/log/") =>
          handleScan(req, out, p, headOnly)
          false
        case _ =>
          respond(out, 404, "", "text/plain", headOnly)
          false
      }
    } catch {
      case abort: ConnectionAbort => throw abort // response already committed
      case t: Throwable =>
        try respond(out, 500, "internal error", "text/plain", headOnly)
        catch { case _: Throwable => () }
        false
    }
  }

  private def handleAppend(req: Req, out: OutputStream, path: String): Unit = {
    val versionPart = path.stripPrefix("/log/")
    val assumed: Option[Long] =
      if (versionPart.isEmpty) None
      else EventOps.hexDecode(UTF8String.fromString(versionPart)) match {
        // the reference's append path reports malformed hex as
        // ErrInvalidVersion (serve.go:96-101); ErrMalformedVersion is the
        // GET scan path's string only
        case null => return bad(out, "ErrInvalidVersion")
        case v => Some(v.longValue())
      }
    val events =
      try MsgCodec.decode(req.body)
      catch {
        case _: MsgCodec.MalformedMessageException =>
          return bad(out, "ErrInvalidPayload")
      }
    try {
      val r = assumed match {
        case None if events.length == 1 => log.append(events.head)
        case None => log.appendMulti(events)
        case Some(a) if events.length == 1 => log.appendCheck(a, events.head)
        case Some(a) => log.appendCheckMulti(a, events)
      }
      val first = // "version-first" only for multi (README.md:43)
        if (events.length > 1) s""","version-first":"${hex(r.versionFirst)}""""
        else ""
      respond(out, 200,
        s"""{"version":"${hex(r.version)}","version-previous":"${hex(r.versionPrevious)}"$first,"time":"${time(r.timestamp)}"}""")
    } catch {
      case _: Errors.ErrInvalidPayload => bad(out, "ErrInvalidPayload")
      case _: Errors.ErrLabelContainsIllegalChars => bad(out, "ErrInvalidPayload")
      case _: Errors.ErrLabelTooLong => bad(out, "ErrInvalidPayload")
      case _: Errors.ErrMismatchingVersions => bad(out, "ErrMismatchingVersions")
      case _: Errors.ErrPayloadSizeLimitExceeded =>
        bad(out, "ErrPayloadSizeLimitExceeded")
    }
  }

  private def handleScan(req: Req, out: OutputStream, path: String,
      headOnly: Boolean = false): Unit = {
    val version = EventOps.hexDecode(
      UTF8String.fromString(path.stripPrefix("/log/"))) match {
      case null => return bad(out, "ErrMalformedVersion", headOnly)
      case v => v.longValue()
    }
    val params = req.rawQuery.split("&").filter(_.nonEmpty)
      .map(kv => kv.split("=", 2) match {
        case Array(k) => k -> ""
        case Array(k, v) => k -> v
      }).toMap
    val n = params.get("n") match {
      case Some(s) =>
        // negative n clamps like n=0 (deliberate hardening: the reference's
        // signed Atoi lets a negative n disable the batch cap entirely)
        try math.max(0, s.toInt) catch { case _: NumberFormatException =>
          return bad(out, "ErrBadArgument", headOnly) }
      case None => 0
    }
    val limit = HttpApiServer.adjustBatchSize(n, maxReadBatchSize)
    val reverse = params.contains("reverse")
    val skipFirst = params.contains("skip_first")
    try {
      if (headOnly) {
        // HEAD needs only the status: run the same bounds check log.page
        // performs (an O(1) sequencer read) without reading the page —
        // segment reads that would all be discarded for a probe.
        val latest = log.version
        if (latest == 0L || version < 1L || version > latest)
          throw new Errors.ErrInvalidVersion
        out.write(("HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n" +
          "Transfer-Encoding: chunked\r\nConnection: keep-alive\r\n\r\n")
          .getBytes(StandardCharsets.ISO_8859_1))
        out.flush()
        return
      }
      // The page is read on this thread, with no Spark job, before headers
      // are committed, so ErrInvalidVersion can still map to a 400. A
      // bounded page is read whole; an unbounded one (batch cap 0) streams
      // in read-batch windows, so the rows go into the chunked response
      // (the reference's streaming serialization, serve.go:215-269) one
      // window at a time.
      val it = log.page(version, reverse,
        if (limit > 0) Some(limit) else None, skipFirst)
      out.write(("HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n" +
        "Transfer-Encoding: chunked\r\nConnection: keep-alive\r\n\r\n")
        .getBytes(StandardCharsets.ISO_8859_1))
      // headers committed: any failure below aborts the connection (a 500
      // status line injected into a chunked body would desync the stream)
      try {
        def chunk(s: String): Unit = {
          val b = s.getBytes(StandardCharsets.UTF_8)
          out.write(Integer.toHexString(b.length)
            .getBytes(StandardCharsets.ISO_8859_1))
          out.write('\r'); out.write('\n')
          out.write(b)
          out.write('\r'); out.write('\n')
        }
        chunk("[")
        var first = true
        it.foreach { e =>
          val sep = if (first) "" else ","
          first = false
          // jsonStr is a no-op for ingest-validated labels (their charset
          // has no quotes/backslashes) but keeps the response well-formed
          // if the log dir was written or damaged by other tooling
          chunk(
            s"""$sep{"time":"${time(e.timestamp)}","version":"${hex(e.version)}","version-previous":"${hex(e.versionPrevious)}","version-next":"${hex(e.versionNext)}","label":${jsonStr(e.label)},"payload":${e.payloadJson}}""")
        }
        chunk("]")
        out.write("0\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1))
        out.flush()
      } catch { case t: Throwable => throw new ConnectionAbort(t) }
    } catch {
      case abort: ConnectionAbort => throw abort
      case _: Errors.ErrInvalidVersion => bad(out, "ErrInvalidVersion", headOnly)
    }
  }

  // ----------------------------------------------------------- WebSocket --

  private object Ws {
    val Continuation = 0x0
    val Text = 0x1
    val Binary = 0x2
    val Close = 0x8
    val Ping = 0x9
    val Pong = 0xa
    val HandshakeGuid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"
  }

  /** RFC6455 upgrade + subscription push ≙ handleSubscription
    * (serve.go:381-463): one writer loop multiplexing version updates and
    * pings, the request thread draining client frames (read limit 1 like the
    * reference's conn.SetReadLimit(1); control frames exempt per RFC6455
    * §5.5). Returns true — the connection never returns to HTTP.
    */
  private def handleSubscription(req: Req, sock: Socket, in: InputStream,
      out: OutputStream): Boolean = {
    val key = req.header("sec-websocket-key")
    val isUpgrade = req.header("upgrade").exists(_.equalsIgnoreCase("websocket"))
    if (!isUpgrade || key.isEmpty) {
      bad(out, "websocket upgrade required")
      return false
    }
    val accept = java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-1")
        .digest((key.get + Ws.HandshakeGuid)
          .getBytes(StandardCharsets.ISO_8859_1)))
    out.write(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
      s"Connection: Upgrade\r\nSec-WebSocket-Accept: $accept\r\n\r\n")
      .getBytes(StandardCharsets.ISO_8859_1))
    out.flush()
    sock.setSoTimeout(0) // WS reads have no deadline (serve.go:456-460)

    wsConns.add(sock)
    val sub = log.subscribe()
    @volatile var open = true
    val closeConn = () => {
      open = false
      sub.close()
      wsConns.remove(sock)
      try sock.close() catch { case _: Exception => () }
    }

    // write deadline ≙ conn.SetWriteDeadline(now + wsWriteTimeout): closing
    // the socket is what unblocks a stalled blocking write
    def writeFrame(opcode: Int, payload: Array[Byte]): Unit = {
      val watchdog = scheduler.schedule[Unit](
        () => closeConn(), wsWriteTimeoutMs, TimeUnit.MILLISECONDS)
      try out.synchronized {
        out.write(0x80 | opcode)
        out.write(payload.length) // all server frames are < 126 bytes
        out.write(payload)
        out.flush()
      } finally watchdog.cancel(false)
    }

    pool.submit[Unit] { () =>
      // writer ≙ the reference's send goroutine (serve.go:420-451): version
      // updates as binary shortest-hex frames, a ping every interval
      try {
        var nextPing = System.nanoTime() + wsPingIntervalMs * 1000000L
        while (open) {
          val waitMs = (nextPing - System.nanoTime()) / 1000000L
          if (waitMs <= 0) {
            writeFrame(Ws.Ping, Array.emptyByteArray)
            nextPing = System.nanoTime() + wsPingIntervalMs * 1000000L
          } else sub.poll(waitMs).foreach { v =>
            writeFrame(Ws.Binary,
              java.lang.Long.toHexString(v)
                .getBytes(StandardCharsets.US_ASCII))
          }
        }
      } catch { case _: Exception => () } finally closeConn()
    }

    try {
      var done = false
      while (!done && open) {
        readWsFrame(in) match {
          case None => done = true
          case Some((op, payload)) => op match {
            case Ws.Close =>
              try writeFrame(Ws.Close, payload.take(2))
              catch { case _: Exception => () }
              done = true
            case Ws.Ping => writeFrame(Ws.Pong, payload)
            case Ws.Pong => ()
            case _ =>
              // data frame: read limit 1 ≙ conn.SetReadLimit(1); fail the
              // connection CLEANLY with 1009 (message too big) so a
              // conforming client sees why, rather than a bare TCP close
              if (payload.length > 1) {
                try writeFrame(Ws.Close, Array(0x03.toByte, 0xf1.toByte))
                catch { case _: Exception => () }
                done = true
              }
          }
        }
      }
    } catch { case _: Exception => () } finally closeConn()
    true
  }

  /** One client frame: (opcode, unmasked payload); None on EOF. */
  private def readWsFrame(in: InputStream): Option[(Int, Array[Byte])] = {
    val b0 = in.read()
    if (b0 < 0) return None
    val opcode = b0 & 0x0f
    val b1 = in.read()
    if (b1 < 0) return None
    val masked = (b1 & 0x80) != 0
    var len: Long = b1 & 0x7f
    if (len == 126) {
      len = ((in.read() & 0xff) << 8) | (in.read() & 0xff)
    } else if (len == 127) {
      len = 0L
      var i = 0
      while (i < 8) { len = (len << 8) | (in.read() & 0xff); i += 1 }
    }
    // RFC6455 §5.5: control frames carry at most 125 bytes — a violation
    // fails the connection. (This also keeps the pong echo inside
    // writeFrame's single-byte length encoding.) Data frames bigger than
    // our read limit bail before allocating.
    if (opcode >= 0x8 && len > 125) return None
    if (len > 1024) return None
    val mask = if (masked) in.readNBytes(4) else null
    val payload = in.readNBytes(len.toInt)
    if (payload.length < len) return None
    if (masked) {
      var i = 0
      while (i < payload.length) {
        payload(i) = (payload(i) ^ mask(i % 4)).toByte
        i += 1
      }
    }
    Some((opcode, payload))
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

object HttpApiServer {
  /** ≙ reference AdjustBatchSize (serve.go:473-483). */
  def adjustBatchSize(requested: Int, limit: Int): Int =
    if (limit == 0) requested
    else if (requested == 0 || requested > limit) limit
    else requested
}
