package graft.client

import java.io.{BufferedInputStream, BufferedOutputStream, IOException, InputStream}
import java.net.{InetSocketAddress, Socket, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import javax.net.ssl.SSLSocketFactory

/** Minimal blocking HTTP/1.1 transport with keep-alive connection pooling —
  * the client-side counterpart of the reference's `fasthttp.Client`
  * (client/http.go:34-39): one pooled socket per in-flight request, reused
  * across requests, no per-request executor hops. The JDK's
  * `java.net.http.HttpClient` routes every synchronous send through its
  * async machinery (selector thread + CompletableFuture handoffs) at
  * ~1.2 ms per loopback request — 10× the engine's entire append path —
  * which is why this exists (measured in BENCH_TREND.md r07).
  *
  * Framing handled: Content-Length bodies, chunked transfer encoding (the
  * scan response), header-only 204s, EOF-delimited bodies on
  * `Connection: close` responses (HTTP/1.0-style proxies), and https
  * (TLS layered via SSLSocketFactory over the same timed connect). A
  * response carrying `Connection: close` — or an unframed body — closes
  * the socket instead of repooling it, so stale bytes can never be
  * attributed to the next request. Pool discipline: connections idle
  * longer than `idleExpiryMs` are discarded on borrow (the server reaps
  * idle keep-alives at its 2 s read timeout; expiring EARLIER on the
  * client side keeps the send-into-closing-socket race rare), and one
  * retry on a fresh connection covers the residue — with the double-apply
  * guard documented on [[request]]: only send-phase failures and
  * idempotent methods retry; a POST that failed after the request was
  * fully delivered propagates, because the server may have applied it.
  */
private[client] final class HttpTransport(
    baseUrl: String,
    readTimeoutMs: Int = 40000,
    idleExpiryMs: Long = 1000) {

  private val uri = URI.create(baseUrl)
  private val tls = uri.getScheme match {
    case "http" => false
    case "https" => true
    case s => throw new IllegalArgumentException(
      s"unsupported scheme '$s' in $baseUrl (http or https)")
  }
  private val host = uri.getHost
  private val port =
    if (uri.getPort > 0) uri.getPort else if (tls) 443 else 80
  // honor a path prefix in baseUrl (reverse-proxy mounts): the request
  // line is prefix + path, same as the replaced URI-concatenating client
  private val pathPrefix = uri.getPath.stripSuffix("/")

  private final class Conn(val sock: Socket) {
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    var lastUsed: Long = System.nanoTime()
  }

  private val pool = new ConcurrentLinkedQueue[Conn]()
  @volatile private var closed = false

  private def connect(): Conn = {
    val s = new Socket()
    s.setTcpNoDelay(true)
    s.connect(new InetSocketAddress(host, port), 5000)
    s.setSoTimeout(readTimeoutMs)
    val sock =
      if (!tls) s
      else { // TLS layered over the already-timed TCP connect
        val ssl = SSLSocketFactory.getDefault.asInstanceOf[SSLSocketFactory]
          .createSocket(s, host, port, true)
        ssl.setSoTimeout(readTimeoutMs)
        ssl
      }
    new Conn(sock)
  }

  private def borrow(): (Conn, Boolean) = {
    if (closed) throw new IllegalStateException("transport is closed")
    var c = pool.poll()
    while (c != null) {
      if ((System.nanoTime() - c.lastUsed) / 1000000L <= idleExpiryMs &&
          !c.sock.isClosed) return (c, true)
      try c.sock.close() catch { case _: Exception => () }
      c = pool.poll()
    }
    (connect(), false)
  }

  /** Return a healthy connection to the pool — unless the transport shut
    * down while this request was in flight (the close() race): then the
    * socket is closed instead of parked forever. */
  private def repool(conn: Conn): Unit = {
    conn.lastUsed = System.nanoTime()
    pool.offer(conn)
    if (closed) close() // drain again: covers offers racing with close()
  }

  def close(): Unit = {
    closed = true
    var c = pool.poll()
    while (c != null) {
      try c.sock.close() catch { case _: Exception => () }
      c = pool.poll()
    }
  }

  /** Marks an IOException raised while SENDING the request (before the
    * flush returned): the server cannot have processed a request it never
    * fully received (its parser drops truncated requests), so a resend is
    * safe even for non-idempotent methods. */
  private final class SendFailed(val cause: IOException)
    extends Exception(cause)

  /** One request; returns (status, body). Thread-safe: each call owns a
    * pooled connection for its duration.
    *
    * Retry policy (the double-apply guard): a failure on a reused
    * keep-alive connection retries once on a fresh socket ONLY when it is
    * provably safe — the failure happened while WRITING the request
    * (server never had the full request; the stale-keep-alive race lands
    * here), or the method is idempotent (GET). A POST that fails in the
    * RESPONSE phase propagates instead: the server may have applied it,
    * and a blind resend could append twice. */
  def request(method: String, pathQuery: String,
      body: Array[Byte] = null): (Int, String) = {
    val (conn, reused) = borrow()
    try {
      val (code, bodyStr, keepAlive) = roundTrip(conn, method, pathQuery, body)
      if (keepAlive) repool(conn)
      else conn.sock.close()
      (code, bodyStr)
    } catch {
      case e @ (_: SendFailed | _: IOException) =>
        try conn.sock.close() catch { case _: Exception => () }
        val (ioe, sendPhase) = e match {
          case sf: SendFailed => (sf.cause, true)
          case io: IOException => (io, false)
        }
        val retriable = reused && (sendPhase || method == "GET")
        if (!retriable) throw ioe
        val fresh = connect()
        try {
          val (code, bodyStr, keepAlive) =
            roundTrip(fresh, method, pathQuery, body)
          if (keepAlive) repool(fresh)
          else fresh.sock.close()
          (code, bodyStr)
        } catch {
          case sf: SendFailed =>
            try fresh.sock.close() catch { case _: Exception => () }
            throw sf.cause
          case e2: Throwable =>
            try fresh.sock.close() catch { case _: Exception => () }
            throw e2
        }
      case e: Throwable =>
        // non-IO failure (e.g. a malformed status line): the connection's
        // framing state is unknown — close it rather than repool it
        try conn.sock.close() catch { case _: Exception => () }
        throw e
    }
  }

  /** (status, body, connection-reusable). */
  private def roundTrip(conn: Conn, method: String, pathQuery: String,
      body: Array[Byte]): (Int, String, Boolean) = {
    val out = conn.out
    val head = new java.lang.StringBuilder(128)
      .append(method).append(' ').append(pathPrefix).append(pathQuery)
      .append(" HTTP/1.1\r\n")
      .append("Host: ").append(host).append("\r\n")
    if (body != null)
      head.append("Content-Length: ").append(body.length).append("\r\n")
    head.append("\r\n")
    try {
      out.write(head.toString.getBytes(StandardCharsets.ISO_8859_1))
      if (body != null) out.write(body)
      out.flush()
    } catch { case e: IOException => throw new SendFailed(e) }
    readResponse(conn.in)
  }

  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder(64)
    var c = in.read()
    if (c < 0) throw new IOException("EOF before response")
    while (c >= 0 && c != '\n') {
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    if (c < 0) throw new IOException("EOF inside response head")
    sb.toString
  }

  private def readResponse(in: InputStream): (Int, String, Boolean) = {
    val status = readLine(in)
    val sp = status.indexOf(' ')
    val code = status.substring(sp + 1, sp + 4).toInt
    var contentLength = -1
    var chunked = false
    var connClose = false
    var line = readLine(in)
    while (line.nonEmpty) {
      val ci = line.indexOf(':')
      if (ci > 0) {
        val k = line.substring(0, ci).trim.toLowerCase
        val v = line.substring(ci + 1).trim
        if (k == "content-length") contentLength = v.toInt
        else if (k == "transfer-encoding" &&
          v.toLowerCase.contains("chunked")) chunked = true
        else if (k == "connection" && v.toLowerCase.contains("close"))
          connClose = true
      }
      line = readLine(in)
    }
    val bodyless = code == 204 || code == 304 || code / 100 == 1
    val body =
      if (chunked) readChunked(in)
      else if (contentLength > 0) {
        val b = in.readNBytes(contentLength)
        if (b.length < contentLength)
          throw new IOException("truncated response body")
        b
      } else if (contentLength == 0 || bodyless) Array.emptyByteArray
      else if (connClose) in.readAllBytes() // EOF-delimited (HTTP/1.0 style)
      else Array.emptyByteArray // keep-alive with no framing: no body
    (code, new String(body, StandardCharsets.UTF_8), !connClose)
  }

  private def readChunked(in: InputStream): Array[Byte] = {
    // chunks are kept as read and joined once: growing one buffer would
    // copy a page-sized body several times over
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var total = 0
    var done = false
    while (!done) {
      val sizeLine = readLine(in)
      val size = Integer.parseInt(sizeLine.split(";")(0).trim, 16)
      if (size == 0) done = true
      else {
        val b = in.readNBytes(size)
        if (b.length < size) throw new IOException("truncated chunk")
        chunks += b
        total += size
        if (in.read() != '\r' || in.read() != '\n')
          throw new IOException("missing chunk CRLF")
      }
    }
    // trailer section: zero or more trailer lines, then the blank line
    var t = readLine(in)
    while (t.nonEmpty) t = readLine(in)
    val body = new Array[Byte](total)
    var at = 0
    chunks.foreach { c => System.arraycopy(c, 0, body, at, c.length); at += c.length }
    body
  }
}
