package graft.streaming

import java.io.{BufferedInputStream, IOException, InputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** `FastHttp` frames each response per HTTP/1.1, so a keep-alive
  * connection stays in step, and it re-sends a request only when the server
  * cannot have it. Each case is a raw-socket server that answers every
  * request with one fixed byte string; the server must receive exactly the
  * posts made.
  */
class FastHttpFramingSpec extends AnyFunSuite {

  /** Counts each request it reads in full and answers it with `reply`;
    * closes the connection after the reply when `close` is set.
    */
  private final class RawServer(reply: String, close: Boolean) {
    val received = new AtomicInteger
    private val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    private val acceptor = new Thread(() =>
      try while (true) {
        val s = server.accept()
        val t = new Thread(() => serve(s))
        t.setDaemon(true)
        t.start()
      } catch { case _: IOException => })
    acceptor.setDaemon(true)
    acceptor.start()

    def url: String = s"http://127.0.0.1:${server.getLocalPort}/grp"
    def stop(): Unit = server.close()

    private def serve(s: Socket): Unit =
      try {
        val in = new BufferedInputStream(s.getInputStream)
        var open = true
        while (open && readRequest(in)) {
          received.incrementAndGet()
          s.getOutputStream.write(reply.getBytes(StandardCharsets.US_ASCII))
          s.getOutputStream.flush()
          open = !close
        }
      } catch { case _: IOException => }
      finally s.close()

    /** Reads one request head and its Content-Length body; false at EOF. */
    private def readRequest(in: InputStream): Boolean = {
      val head = new StringBuilder
      while (!head.endsWith("\r\n\r\n")) {
        val b = in.read()
        if (b < 0) return false
        head.append(b.toChar)
      }
      val len = "(?i)content-length:\\s*(\\d+)".r.findFirstMatchIn(head).fold(0)(_.group(1).toInt)
      in.readNBytes(len).length == len
    }
  }

  private def postTen(reply: String, close: Boolean = false): (Seq[Int], Int) = {
    val server = new RawServer(reply, close)
    try {
      val statuses = (1 to 10).map(i => FastHttp.post(server.url, s"""{"n":$i}"""))
      (statuses, server.received.get)
    } finally {
      FastHttp.closeAll()
      server.stop()
    }
  }

  test("a chunked keep-alive response is read to its last chunk and trailers") {
    val (statuses, received) = postTen(
      "HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" +
        "5\r\nhello\r\n7;ext=1\r\n, world\r\n0\r\nX-Trailer: done\r\n\r\n")
    assert(statuses == Seq.fill(10)(200))
    assert(received == 10, s"the server received $received requests for 10 posts")
  }

  test("a body with no length is read to EOF after Connection: close") {
    val (statuses, received) = postTen(
      "HTTP/1.1 200 OK\r\nConnection: close\r\n\r\nbody until close", close = true)
    assert(statuses == Seq.fill(10)(200))
    assert(received == 10, s"the server received $received requests for 10 posts")
  }

  test("an interim 100 Continue is skipped for the final response") {
    val (statuses, received) = postTen(
      "HTTP/1.1 100 Continue\r\n\r\nHTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok")
    assert(statuses == Seq.fill(10)(200))
    assert(received == 10, s"the server received $received requests for 10 posts")
  }

  test("a 204 response has no body, whatever its headers say") {
    val (statuses, received) = postTen(
      "HTTP/1.1 204 No Content\r\nTransfer-Encoding: chunked\r\n\r\n")
    assert(statuses == Seq.fill(10)(204))
    assert(received == 10, s"the server received $received requests for 10 posts")
  }

  test("a fresh connection closed after the request is read is not re-sent") {
    val server = new RawServer("", close = true)
    try {
      assert(FastHttp.post(server.url, """{"n":1}""") == -1)
      assert(server.received.get == 1, s"the server received ${server.received.get} requests for 1 post")
    } finally {
      FastHttp.closeAll()
      server.stop()
    }
  }

  test("a keep-alive connection the server closed while idle is retried once") {
    val server = new RawServer("HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok", close = true)
    try {
      val statuses = (1 to 3).map { i =>
        Thread.sleep(50) // the server closes the pooled connection meanwhile
        FastHttp.post(server.url, s"""{"n":$i}""")
      }
      assert(statuses == Seq.fill(3)(200))
      assert(server.received.get == 3, s"the server received ${server.received.get} requests for 3 posts")
    } finally {
      FastHttp.closeAll()
      server.stop()
    }
  }
}
