package graft.streaming

import java.io.{BufferedInputStream, EOFException, IOException, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket, SocketTimeoutException, URI}
import java.nio.charset.StandardCharsets

import scala.util.Try

/** Minimal keep-alive HTTP/1.1 POST client for the delivery hot path.
  *
  * The JDK http client stalls ~40ms per small POST on loopback (headers and
  * body leave in separate TCP segments; Nagle + the peer's delayed ACK
  * serialize them — measured 22 POSTs/sec). This client sets TCP_NODELAY,
  * assembles the entire request into ONE write, and keeps one pooled
  * connection per (thread, host:port) — the right shape for `foreachBatch`
  * partitions, where each task thread streams many posts to few hosts.
  */
object FastHttp {

  private final class Conn(host: String, port: Int) {
    val socket = new Socket()
    socket.setTcpNoDelay(true)
    socket.connect(new InetSocketAddress(host, port), 5000)
    socket.setSoTimeout(10000)
    val out: OutputStream = socket.getOutputStream
    val in: InputStream = new BufferedInputStream(socket.getInputStream)
    def close(): Unit = try socket.close() catch { case _: Exception => }
  }

  private val conns = new ThreadLocal[scala.collection.mutable.HashMap[String, Conn]] {
    override def initialValue() = scala.collection.mutable.HashMap.empty
  }

  /** POST `body` to `url`; returns the status code, or -1 on transport
    * failure. The request is sent a second time only when the server cannot
    * have it: the connect failed before any byte was written, or a pooled
    * keep-alive connection broke because the server had closed it while
    * idle. A read timeout, or a fresh connection that breaks after the
    * write, may mean the server got the request, so it is not re-sent.
    */
  def post(url: String, body: String): Int = {
    val u = URI.create(url)
    val port = if (u.getPort >= 0) u.getPort else 80
    val key = s"${u.getHost}:$port"
    val pool = conns.get()
    def drop(): Unit = pool.remove(key).foreach(_.close())

    def attempt(c: Conn): Int = {
      val payload = body.getBytes(StandardCharsets.UTF_8)
      val head =
        (s"POST ${u.getRawPath} HTTP/1.1\r\n" +
          s"Host: $key\r\n" +
          "Content-Type: application/json\r\n" +
          s"Content-Length: ${payload.length}\r\n" +
          "\r\n").getBytes(StandardCharsets.US_ASCII)
      val req = new Array[Byte](head.length + payload.length)
      System.arraycopy(head, 0, req, 0, head.length)
      System.arraycopy(payload, 0, req, head.length, payload.length)
      c.out.write(req) // one write → one segment → no delayed-ACK stall
      c.out.flush()
      val (status, reusable) = readResponse(c.in)
      if (!reusable) drop()
      status
    }

    def fresh(): Conn = {
      val c = new Conn(u.getHost, port)
      pool.put(key, c)
      c
    }

    def once(c: => Conn): Int = try attempt(c) catch { case _: Exception => drop(); -1 }

    pool.get(key) match {
      case Some(c) =>
        try attempt(c)
        catch {
          case _: SocketTimeoutException => drop(); -1
          case _: Exception => drop(); once(fresh()) // stale keep-alive
        }
      case None => once(Try(fresh()).getOrElse(fresh())) // a failed connect wrote nothing
    }
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
