package graft.streaming

import java.io.{BufferedInputStream, IOException, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.SparkSuite

/** `FastHttp` frames each response per HTTP/1.1, so a keep-alive
  * connection stays in step, and it re-sends a request only when the server
  * cannot have it. Each case is a raw-socket server that answers every
  * request with one fixed byte string; the server must receive exactly the
  * posts made. The pipelined cases then check the window: requests in
  * flight, each status matched to its own row, and the re-send rules.
  */
class FastHttpFramingSpec extends SparkSuite {

  /** Accepts connections on loopback and runs `serve` on each in its own
    * thread; `bodies` holds every request body read in full, on any
    * connection, and `received` counts them.
    */
  private class Server(serve: (Socket, Server) => Unit) {
    val bodies = new ConcurrentLinkedQueue[String]
    val received = new AtomicInteger
    private val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    private val acceptor = new Thread(() =>
      try while (true) {
        val s = server.accept()
        val t = new Thread(() => try serve(s, this) catch { case _: IOException => } finally s.close())
        t.setDaemon(true)
        t.start()
      } catch { case _: IOException => })
    acceptor.setDaemon(true)
    acceptor.start()

    def url: String = s"http://127.0.0.1:${server.getLocalPort}/grp"
    def stop(): Unit = server.close()

    /** Reads one request head and its Content-Length body and records the
      * body; None at EOF.
      */
    def read(in: InputStream): Option[String] = {
      val head = new StringBuilder
      while (!head.endsWith("\r\n\r\n")) {
        val b = in.read()
        if (b < 0) return None
        head.append(b.toChar)
      }
      val len = "(?i)content-length:\\s*(\\d+)".r.findFirstMatchIn(head).fold(0)(_.group(1).toInt)
      val bytes = in.readNBytes(len)
      if (bytes.length < len) return None
      val body = new String(bytes, StandardCharsets.UTF_8)
      bodies.add(body)
      received.incrementAndGet()
      Some(body)
    }

    def times(body: String): Int = bodies.asScala.count(_ == body)
  }

  /** Answers each request it reads in full with `reply`; closes the
    * connection after the reply when `close` is set.
    */
  private final class RawServer(reply: String, close: Boolean) extends Server((s, server) => {
    val in = new BufferedInputStream(s.getInputStream)
    var open = true
    while (open && server.read(in).isDefined) {
      s.getOutputStream.write(reply.getBytes(StandardCharsets.US_ASCII))
      s.getOutputStream.flush()
      open = !close
    }
  })

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

  // ------------------------------------------------------------ pipelining

  private def respond(out: OutputStream, status: Int, body: String = "ok",
      close: Boolean = false): Unit = {
    val b = body.getBytes(StandardCharsets.US_ASCII)
    out.write((s"HTTP/1.1 $status S\r\nContent-Length: ${b.length}\r\n" +
      (if (close) "Connection: close\r\n" else "") + "\r\n").getBytes(StandardCharsets.US_ASCII))
    out.write(b)
    out.flush()
  }

  private def n(body: String): Int = "\\d+".r.findFirstIn(body).get.toInt
  private def body(i: Int): String = s"""{"n":$i}"""

  /** Posts `rows` through one pipelined call; their statuses in row order. */
  private def pipeline(url: String, rows: Seq[Int]): Seq[Int] = {
    val statuses = ArrayBuffer.empty[(Int, Int)]
    FastHttp.pipelined[Int]((i, s) => statuses += i -> s)(send => rows.foreach(i => send(url, body(i), i)))
    assert(statuses.map(_._1) == rows, "statuses out of row order")
    statuses.map(_._2).toSeq
  }

  private def withServer[T](server: Server)(f: Server => T): T =
    try f(server)
    finally {
      FastHttp.closeAll()
      server.stop()
    }

  /** Answers each request as it is read, with `status(body)` and `reply`. */
  private def answering(status: String => Int, reply: String = "ok") = new Server((s, server) => {
    val in = new BufferedInputStream(s.getInputStream)
    var req = server.read(in)
    while (req.isDefined) {
      respond(s.getOutputStream, status(req.get), reply)
      req = server.read(in)
    }
  })

  /** Answers with status 200 + n, so a status names the request it answers. */
  private def echoStatus = answering(b => 200 + n(b))

  test("pipelined: a server that answers after 8 requests gets 8 in hand") {
    // The queue drain POSTs 8 rows; a client that waits for each response
    // before the next request never gets one here.
    val inHand = new AtomicInteger
    val server = new Server((s, server) => {
      val in = new BufferedInputStream(s.getInputStream)
      val got = Iterator.continually(server.read(in)).take(8).takeWhile(_.isDefined).size
      inHand.set(got)
      (1 to got).foreach(_ => respond(s.getOutputStream, 200))
      while (server.read(in).isDefined) respond(s.getOutputStream, 200)
    })
    withServer(server) { server =>
      val qdir = Files.createTempDirectory("pipelined_drain").toString
      val c = FileQueue(qdir).client()
      (1 to 8).foreach(i => c.enqueue("g", s"""{"n":$i,"source":{"table":"t"}}"""))
      c.close()
      val drained = Sinks.drainQueue(server.url, Map("t" -> "g"), FileQueue(qdir))
      assert(inHand.get == 8, s"the server held ${inHand.get} requests at once")
      assert(drained == 8)
      assert(server.bodies.size == 8)
    }
  }

  test("pipelined: after Connection: close on the 3rd response the tail is re-sent once") {
    val server = new Server((s, server) => {
      val in = new BufferedInputStream(s.getInputStream)
      var answered = 0
      while (answered < 3 && server.read(in).isDefined) {
        answered += 1
        respond(s.getOutputStream, 200, close = answered == 3)
      }
      // a graceful close: the requests after the 3rd are read off the
      // socket, not processed
      s.shutdownOutput()
      while (in.read() >= 0) {}
    })
    withServer(server) { server =>
      val rows = 1 to 10
      assert(pipeline(server.url, rows) == Seq.fill(10)(200))
      assert(rows.forall(i => server.times(body(i)) == 1),
        s"processed: ${server.bodies.asScala.toSeq.sortBy(n)}")
    }
  }

  test("pipelined: a reset after 3 of 8 responses reports -1 for the rest and re-sends nothing") {
    val server = new Server((s, server) => {
      val in = new BufferedInputStream(s.getInputStream)
      val got = Iterator.continually(server.read(in)).take(8).takeWhile(_.isDefined).size
      (1 to math.min(got, 3)).foreach(_ => respond(s.getOutputStream, 200))
      s.setSoLinger(true, 0) // close → RST
      s.close()
    })
    withServer(server) { server =>
      val rows = 1 to 8
      assert(pipeline(server.url, rows) == Seq.fill(3)(200) ++ Seq.fill(5)(-1))
      Thread.sleep(100) // a re-send, if any, would land meanwhile
      assert(server.bodies.asScala.toSeq.sortBy(n) == rows.map(body))
    }
  }

  test("pipelined: 200 and 500 alternate, each status reaches its own row and the DLQ gets the 500s") {
    import spark.implicits._
    withServer(answering(b => if (n(b) % 2 == 0) 500 else 200)) { server =>
      val rows = 1 to 40
      assert(pipeline(server.url, rows) == rows.map(i => if (i % 2 == 0) 500 else 200))

      val dlq = FileQueue(Files.createTempDirectory("pipelined_dlq").toString)
      val batch = rows.map(i => (s"g${i % 3}", body(i)))
      Sinks.httpDeliverBatchDlq(batch.toDF("group", "payload"), server.url, dlq)
      val dead = ArrayBuffer.empty[(String, String)]
      dlq.drain((g, p) => dead += g -> p)
      assert(dead.sortBy(r => n(r._2)) == batch.filter(r => n(r._2) % 2 == 0))
    }
  }

  test("pipelined: 512 KiB responses to 8 KiB requests finish 100 posts without a stall") {
    val big = "x" * (512 * 1024)
    val pad = "p" * (8 * 1024)
    withServer(answering(_ => 200, big)) { server =>
      implicit val ec: ExecutionContext = ExecutionContext.global
      val statuses = Await.result(Future {
        val statuses = ArrayBuffer.empty[Int]
        try FastHttp.pipelined[Int]((_, st) => statuses += st)(send =>
          (1 to 100).foreach(i => send(server.url, s"""{"n":$i,"pad":"$pad"}""", i)))
        finally FastHttp.closeAll()
        statuses.toSeq
      }, 60.seconds)
      assert(statuses == Seq.fill(100)(200))
      assert(server.bodies.size == 100)
    }
  }

  test("pipelined: rows that throw mid-window fail the call and leave no response for the next post") {
    withServer(echoStatus) { server =>
      val e = intercept[IllegalStateException] {
        FastHttp.pipelined[Int]((_, _) => ())(send => (1 to 10).foreach { i =>
          if (i == 6) throw new IllegalStateException("rows failed")
          send(server.url, body(i), i)
        })
      }
      assert(e.getMessage == "rows failed")
      assert(FastHttp.post(server.url, body(50)) == 250)
    }
  }

  test("pipelined: a status callback that throws fails the call and leaves no response for the next post") {
    withServer(echoStatus) { server =>
      val seen = ArrayBuffer.empty[Int]
      val e = intercept[IllegalStateException] {
        FastHttp.pipelined[Int] { (i, st) =>
          seen += st
          if (i == 2) throw new IllegalStateException("enqueue failed")
        }(send => (1 to 10).foreach(i => send(server.url, body(i), i)))
      }
      assert(e.getMessage == "enqueue failed")
      assert(seen == Seq(201, 202))
      assert(FastHttp.post(server.url, body(50)) == 250)
    }
  }
}
