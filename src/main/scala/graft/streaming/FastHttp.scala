package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, IOException, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket, SocketTimeoutException, URI}
import java.nio.charset.StandardCharsets

/** Minimal keep-alive HTTP/1.1 POST client for the delivery hot path.
  *
  * The JDK http client stalls ~40ms per small POST on loopback (headers and
  * body leave in separate TCP segments; Nagle + the peer's delayed ACK
  * serialize them — measured 22 POSTs/sec). This client sets TCP_NODELAY,
  * assembles each request into one array, writes requests through a 16 KiB
  * buffer that is flushed before any response is read (so a window leaves
  * in a few segments, and the server reads many requests per read), and
  * keeps one pooled connection per (thread, host:port) — the right shape
  * for `foreachBatch` partitions, where each task thread streams many
  * posts to few hosts.
  *
  * Requests are pipelined (RFC 9112 §9.3.2): [[pipelined]] writes a task's
  * rows in order on its connection without waiting for each response,
  * until [[MaxInFlight]] requests or [[MaxInFlightBytes]] request bytes are
  * unanswered, and then reads responses until at most [[Refill]] requests
  * and half the byte bound are left. A server answers in request order
  * (RFC 9112 §9.3.2), so the i-th response is the i-th row's. The byte
  * bound stays under the two sides' socket buffers (Linux starts a TCP
  * connection at 16 KiB to send and 128 KiB to receive), so the client
  * cannot block on a write while the server blocks writing a response the
  * client has not read.
  *
  * A request is re-sent only when the server cannot have processed it:
  *  - after a response that closes the connection (`Connection: close`,
  *    HTTP/1.0 without keep-alive, or a body read to EOF) the server
  *    processed none of the later requests (RFC 9112 §9.6), so the
  *    unanswered tail is re-sent on a fresh connection;
  *  - a pooled connection that fails before its first response in this
  *    call is stale: the server closed it while idle (RFC 9112 §9.3.1
  *    allows a client to retry then), and the window is re-sent once on a
  *    fresh connection;
  *  - any other failure (a read timeout, a reset, an EOF, a fresh
  *    connection that fails) may come after the server processed a
  *    request, so every unanswered row reports `-1` and is not re-sent;
  *  - an exception from the caller's rows or status callback is not a
  *    transport failure: it propagates, and the thread's connection is
  *    dropped so no unread response is left on it for the next call.
  */
object FastHttp {

  /** Most unanswered requests on one connection. */
  val MaxInFlight = 64

  /** Once a bound is hit, read responses until this many are unanswered. */
  val Refill = 32

  /** Most unanswered request bytes on one connection (see the object doc). */
  val MaxInFlightBytes: Int = 64 * 1024

  private final class Conn(host: String, port: Int) {
    val socket = new Socket()
    socket.setTcpNoDelay(true)
    socket.connect(new InetSocketAddress(host, port), 5000)
    socket.setSoTimeout(10000)
    val out: OutputStream = new BufferedOutputStream(socket.getOutputStream, 16 * 1024)
    val in: InputStream = new BufferedInputStream(socket.getInputStream)
    def close(): Unit = try socket.close() catch { case _: Exception => }
  }

  private val conns = new ThreadLocal[scala.collection.mutable.HashMap[String, Conn]] {
    override def initialValue() = scala.collection.mutable.HashMap.empty
  }

  /** POST `body` to `url`; returns the status code, or -1 on transport
    * failure. The one-request case of [[pipelined]].
    */
  def post(url: String, body: String): Int = {
    var status = -1
    pipelined[Unit]((_, s) => status = s)(send => send(url, body, ()))
    status
  }

  /** Run `rows`, which calls `send(url, body, row)` once per request in
    * order, with those requests pipelined on this thread's pooled
    * connections. `onStatus(row, status)` gets each row's status, `-1` on
    * transport failure, in send order; every row has its status by the
    * time this returns.
    */
  def pipelined[A](onStatus: (A, Int) => Unit)(rows: ((String, String, A) => Unit) => Unit): Unit = {
    val w = new Window[A](onStatus)
    var done = false
    try {
      rows(w.send)
      w.finish()
      done = true
    } finally if (!done) w.drop() // responses may be left unread on it
  }

  /** The unanswered requests on one connection. Every transport call is
    * wrapped on its own, and the status callback runs outside those
    * wrappers, so a caller's exception is never taken for a transport
    * failure.
    */
  private final class Window[A](onStatus: (A, Int) => Unit) {
    private final class Req(val row: A, val bytes: Array[Byte])
    private val pool = conns.get()
    private val pending = new java.util.ArrayDeque[Req]()
    private var pendingBytes = 0L
    // the last URL sent, parsed: it changes only with the group
    private var lastUrl: String = _
    private var path: String = _
    private var key: String = _
    private var host: String = _
    private var port = 0
    // null while the pending requests still have to be (re-)written
    private var conn: Conn = _
    // a pooled connection that has answered nothing in this call
    private var suspect = false

    def send(url: String, body: String, row: A): Unit = {
      if (url != lastUrl) {
        val u = URI.create(url)
        val p = if (u.getPort >= 0) u.getPort else 80
        val k = s"${u.getHost}:$p"
        lastUrl = url; path = u.getRawPath
        if (k != key) {
          finish()
          key = k; host = u.getHost; port = p
          conn = pool.getOrElse(k, null)
          suspect = conn != null
        }
      }
      val req = encode(path, key, body)
      def full = !pending.isEmpty &&
        (pending.size >= MaxInFlight || pendingBytes + req.length > MaxInFlightBytes)
      if (full)
        while (!pending.isEmpty && (full || pending.size > Refill || pendingBytes > MaxInFlightBytes / 2))
          receive()
      pending.addLast(new Req(row, req))
      pendingBytes += req.length
      if (conn == null) reopen()
      else try conn.out.write(req) catch { case e: Exception => failed(e) }
    }

    /** Read every outstanding response. */
    def finish(): Unit = while (!pending.isEmpty) receive()

    /** Read the oldest request's response and report it. */
    private def receive(): Unit =
      if (conn == null) reopen()
      else {
        val r = try { conn.out.flush(); readResponse(conn.in) } catch { case e: Exception => failed(e); null }
        if (r != null) {
          val req = pending.removeFirst()
          pendingBytes -= req.bytes.length
          suspect = false
          if (!r._2) drop() // the tail is re-sent by the next receive or send
          onStatus(req.row, r._1)
        }
      }

    /** Open a fresh connection (a failed connect wrote nothing, so it is
      * tried twice) and write every pending request on it.
      */
    private def reopen(): Unit = {
      suspect = false
      conn = try new Conn(host, port) catch {
        case _: Exception => try new Conn(host, port) catch { case _: Exception => null }
      }
      if (conn == null) lose()
      else {
        pool.put(key, conn)
        try pending.forEach(r => conn.out.write(r.bytes))
        catch { case _: Exception => drop(); lose() }
      }
    }

    private def failed(e: Exception): Unit = {
      val stale = suspect && !e.isInstanceOf[SocketTimeoutException]
      drop()
      if (!stale) lose()
    }

    /** Report every unanswered row as a transport failure. */
    private def lose(): Unit = {
      val lost = pending.toArray(Array.empty[Req])
      pending.clear()
      pendingBytes = 0
      lost.foreach(r => onStatus(r.row, -1))
    }

    def drop(): Unit = if (conn != null) {
      pool.remove(key)
      conn.close()
      conn = null
    }
  }

  private def encode(path: String, hostPort: String, body: String): Array[Byte] = {
    val payload = body.getBytes(StandardCharsets.UTF_8)
    val head =
      (s"POST $path HTTP/1.1\r\n" +
        s"Host: $hostPort\r\n" +
        "Content-Type: application/json\r\n" +
        s"Content-Length: ${payload.length}\r\n" +
        "\r\n").getBytes(StandardCharsets.US_ASCII)
    val req = new Array[Byte](head.length + payload.length)
    System.arraycopy(head, 0, req, 0, head.length)
    System.arraycopy(payload, 0, req, head.length, payload.length)
    req
  }

  /** Read one HTTP/1.1 response to a POST, framed per RFC 9112 §6.3, and
    * leave the stream at the next response. Interim `1xx` responses are
    * skipped; `204` and `304` have no body; otherwise a chunked body is
    * decoded (trailers included), a `Content-Length` body is read, and a
    * body with neither runs to EOF. Returns the final status and whether
    * the connection may carry another request (not after `Connection:
    * close`, an HTTP/1.0 response without keep-alive, or a read to EOF).
    */
  private def readResponse(in: InputStream): (Int, Boolean) = {
    var status = 0
    var headers = Map.empty[String, String]
    var http10 = false
    do {
      val statusLine = readLine(in)
      if (statusLine == null) throw new EOFException("connection closed before the response")
      val parts = statusLine.split(" ", 3)
      http10 = parts(0) == "HTTP/1.0"
      status = parts(1).toInt
      headers = readHeaders(in)
    } while (status / 100 == 1)

    def tokens(name: String): Seq[String] =
      headers.get(name).toSeq.flatMap(_.split(",")).map(_.trim.toLowerCase)
    val connection = tokens("connection")
    val keepAlive = !connection.contains("close") && (!http10 || connection.contains("keep-alive"))
    val coding = tokens("transfer-encoding")
    val reusable =
      if (status == 204 || status == 304) keepAlive
      else if (coding.lastOption.contains("chunked")) { readChunked(in); keepAlive }
      else if (coding.isEmpty && headers.contains("content-length")) {
        discard(in, headers("content-length").trim.toLong)
        keepAlive
      } else { discard(in, -1); false }
    (status, reusable)
  }

  private def readChunked(in: InputStream): Unit = {
    var size = -1L
    while (size != 0) {
      val line = readLine(in)
      if (line == null) throw new EOFException("connection closed mid-chunk")
      size = java.lang.Long.parseLong(line.takeWhile(_ != ';').trim, 16)
      if (size > 0) {
        discard(in, size)
        if (readLine(in) != "") throw new IOException("chunk not followed by CRLF")
      }
    }
    readHeaders(in) // trailers
  }

  /** Header fields up to the blank line, names lower-cased; repeated fields
    * are joined with commas.
    */
  private def readHeaders(in: InputStream): Map[String, String] = {
    val fields = scala.collection.mutable.HashMap.empty[String, String]
    var line = readLine(in)
    while (line != null && line.nonEmpty) {
      val colon = line.indexOf(':')
      if (colon > 0) {
        val name = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        fields(name) = fields.get(name).fold(value)(_ + "," + value)
      }
      line = readLine(in)
    }
    if (line == null) throw new EOFException("connection closed mid-headers")
    fields.toMap
  }

  /** One CRLF- (or LF-) terminated line without its terminator; null at EOF
    * before any byte.
    */
  private def readLine(in: InputStream): String = {
    val sb = new StringBuilder
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') {
      sb.append(b.toChar)
      b = in.read()
    }
    if (b < 0) throw new EOFException("connection closed mid-line")
    if (sb.nonEmpty && sb.last == '\r') sb.setLength(sb.length - 1)
    sb.toString
  }

  /** Read and drop `n` bytes, or everything up to EOF when `n` < 0. */
  private def discard(in: InputStream, n: Long): Unit = {
    var remaining = if (n < 0) Long.MaxValue else n
    val buf = new Array[Byte](math.min(8192L, remaining).toInt)
    while (remaining > 0) {
      val k = in.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
      if (k >= 0) remaining -= k
      else if (n < 0) remaining = 0
      else throw new EOFException("short body")
    }
  }

  /** Close this thread's pooled connections (tests / shutdown). */
  def closeAll(): Unit = {
    conns.get().values.foreach(_.close())
    conns.get().clear()
  }
}
