package cdcbench

import java.io.{BufferedOutputStream, DataInputStream, FileInputStream, InputStream, OutputStream}
import java.net.{InetAddress, InetSocketAddress, ServerSocket}
import java.nio.ByteBuffer
import java.nio.channels.{SelectionKey, Selector, ServerSocketChannel, SocketChannel}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.{Files, Paths}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

/** The benchmark's load side, one JVM apart from the system under test:
  * an HTTP receiver that stamps a receipt time on every request, and, for
  * the open-loop workload, a minimal replication master that serves a
  * pre-encoded event stream on a fixed schedule.
  *
  * Run: `java -cp <classes>:<spark jars> cdcbench.Harness [events.bin]`.
  * It prints `READY <receiver port> <master port>` and then obeys stdin:
  * `DUMP <file>` writes every receipt as `path \t recv_us \t body` lines
  * plus `<file>.stats.json`, `QUIT` exits.
  */
object Harness {

  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def main(args: Array[String]): Unit = {
    val master = args.headOption.map(f => new Master(f))
    val recv = new Receiver(path => master.map(_.start(path)).getOrElse(""))
    val recvThread = new Thread(() => recv.loop(), "receiver")
    recvThread.setDaemon(true)
    recvThread.start()
    master.foreach { m =>
      val t = new Thread(() => m.serve(), "master")
      t.setDaemon(true)
      t.start()
    }
    println(s"READY ${recv.port} ${master.map(_.port).getOrElse(0)}")
    System.out.flush()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line != "QUIT") {
      if (line.startsWith("DUMP ")) {
        val file = line.substring(5)
        recv.dump(file)
        val stats = Seq(
          s""""recv_requests":${recv.requests}""",
          s""""recv_bytes":${recv.bytes}""") ++
          master.toSeq.flatMap(_.stats)
        Files.writeString(Paths.get(file + ".stats.json"), stats.mkString("{", ",", "}"))
        println("DUMPED")
        System.out.flush()
      }
      line = in.readLine()
    }
    recv.stop()
    master.foreach(_.close())
  }
}

/** Non-blocking HTTP/1.1 receiver on one selector thread. Every request
  * gets `200` with a Content-Length body on a kept-alive connection (the
  * reference's debug logger and `DebugSink` answer the same way). Paths
  * under `/ctl/` are control calls from the system under test and are not
  * recorded.
  */
final class Receiver(control: String => String) {
  private val sel = Selector.open()
  private val server = ServerSocketChannel.open()
  server.bind(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 1024)
  server.configureBlocking(false)
  server.register(sel, SelectionKey.OP_ACCEPT)
  val port: Int = server.socket().getLocalPort
  @volatile private var running = true

  private val paths = ArrayBuffer.empty[String]
  private val times = ArrayBuffer.empty[Long]
  private val bodies = ArrayBuffer.empty[Array[Byte]]
  @volatile var requests = 0L
  @volatile var bytes = 0L

  private final class Conn {
    var in: ByteBuffer = ByteBuffer.allocate(1 << 16)
    var out: ByteBuffer = ByteBuffer.allocate(0)
    var closeAfter = false
  }

  private val okBody = """{"status":"ok"}"""

  private def response(body: String): Array[Byte] = {
    val b = body.getBytes(UTF_8)
    (s"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n" +
      s"Content-Length: ${b.length}\r\n\r\n").getBytes(US_ASCII) ++ b
  }
  private val okResponse = response(okBody)

  def loop(): Unit = {
    while (running) {
      sel.select(100)
      val it = sel.selectedKeys().iterator()
      while (it.hasNext) {
        val key = it.next()
        it.remove()
        try {
          if (key.isAcceptable) {
            val ch = server.accept()
            if (ch != null) {
              ch.configureBlocking(false)
              ch.socket().setTcpNoDelay(true)
              ch.register(sel, SelectionKey.OP_READ, new Conn)
            }
          } else {
            val ch = key.channel().asInstanceOf[SocketChannel]
            val c = key.attachment().asInstanceOf[Conn]
            if (key.isReadable) onRead(key, ch, c)
            if (key.isValid && key.isWritable) flush(key, ch, c)
          }
        } catch {
          case _: java.io.IOException => key.cancel(); key.channel().close()
        }
      }
    }
    sel.close()
    server.close()
  }

  private def onRead(key: SelectionKey, ch: SocketChannel, c: Conn): Unit = {
    if (!c.in.hasRemaining) {
      val bigger = ByteBuffer.allocate(c.in.capacity * 2)
      c.in.flip(); bigger.put(c.in); c.in = bigger
    }
    val n = ch.read(c.in)
    if (n < 0) { key.cancel(); ch.close(); return }
    val stamp = Harness.nowUs()
    val a = c.in.array()
    val limit = c.in.position()
    var start = 0
    var done = false
    val replies = ArrayBuffer.empty[Array[Byte]]
    while (!done) {
      val headEnd = indexOfCrlfCrlf(a, start, limit)
      if (headEnd < 0) done = true
      else {
        val head = new String(a, start, headEnd - start, US_ASCII)
        val len = contentLength(head)
        val bodyStart = headEnd + 4
        if (limit - bodyStart < len) done = true
        else {
          val line = head.substring(0, head.indexOf(' ', head.indexOf(' ') + 1))
          val path = line.substring(line.indexOf(' ') + 1)
          val body = java.util.Arrays.copyOfRange(a, bodyStart, bodyStart + len)
          if (path.startsWith("/ctl/")) replies += response(control(path))
          else {
            paths.synchronized {
              paths += path; times += stamp; bodies += body
              requests += 1; bytes += len
            }
            replies += okResponse
          }
          if (head.toLowerCase.contains("connection: close")) c.closeAfter = true
          start = bodyStart + len
        }
      }
    }
    // keep the unparsed tail
    val rest = limit - start
    System.arraycopy(a, start, a, 0, rest)
    c.in.position(rest)
    if (replies.nonEmpty) {
      val total = c.out.remaining + replies.map(_.length).sum
      val out = ByteBuffer.allocate(total)
      out.put(c.out)
      replies.foreach(out.put)
      out.flip()
      c.out = out
      flush(key, ch, c)
    }
  }

  private def flush(key: SelectionKey, ch: SocketChannel, c: Conn): Unit = {
    ch.write(c.out)
    if (c.out.hasRemaining) key.interestOps(SelectionKey.OP_READ | SelectionKey.OP_WRITE)
    else {
      key.interestOps(SelectionKey.OP_READ)
      if (c.closeAfter) { key.cancel(); ch.close() }
    }
  }

  private def indexOfCrlfCrlf(a: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i + 3 < until) {
      if (a(i) == '\r' && a(i + 1) == '\n' && a(i + 2) == '\r' && a(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  private def contentLength(head: String): Int = {
    val i = head.toLowerCase.indexOf("content-length:")
    if (i < 0) 0
    else {
      var j = i + 15
      while (head.charAt(j) == ' ') j += 1
      var k = j
      while (k < head.length && Character.isDigit(head.charAt(k))) k += 1
      head.substring(j, k).toInt
    }
  }

  def dump(file: String): Unit = paths.synchronized {
    val out = new BufferedOutputStream(Files.newOutputStream(Paths.get(file)), 1 << 20)
    try {
      var i = 0
      while (i < paths.length) {
        out.write(s"${paths(i)}\t${times(i)}\t".getBytes(UTF_8))
        out.write(bodies(i))
        out.write('\n')
        i += 1
      }
    } finally out.close()
  }

  def stop(): Unit = { running = false; sel.wakeup() }
}

/** Minimal replication master: the handshake, OK to the replica's session
  * commands, and on `COM_BINLOG_DUMP` a synthetic ROTATE naming
  * `mysql-bin.000001`, the preamble events, then each scheduled event at
  * `t0 + due_us`, and EOF at the end. The schedule starts when the system
  * under test calls `/ctl/start` on the receiver. Packet framing and the
  * handshake layout follow the public client/server protocol.
  */
final class Master(eventsFile: String) extends AutoCloseable {
  private val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort

  private val (dues, events) = {
    val in = new DataInputStream(new java.io.BufferedInputStream(new FileInputStream(eventsFile), 1 << 20))
    val d = ArrayBuffer.empty[Long]
    val e = ArrayBuffer.empty[Array[Byte]]
    try {
      while (in.available() > 0) {
        d += java.lang.Long.reverseBytes(in.readLong())
        val n = Integer.reverseBytes(in.readInt())
        val b = new Array[Byte](n)
        in.readFully(b)
        e += b
      }
    } finally in.close()
    (d.toArray, e.toArray)
  }

  @volatile private var t0 = 0L
  private val started = new java.util.concurrent.CountDownLatch(1)
  private val lateUs = ArrayBuffer.empty[Long]
  @volatile private var sent = 0L

  /** `/ctl/start`: fix t0 a little ahead and release the sender. */
  def start(path: String): String = synchronized {
    if (t0 == 0L) { t0 = Harness.nowUs() + 100000L; started.countDown() }
    t0.toString
  }

  def stats: Seq[String] = lateUs.synchronized {
    val sorted = lateUs.toArray.sorted
    Seq(s""""t0_us":$t0""", s""""sent":$sent""",
      s""""late_us":[${sorted.mkString(",")}]""")
  }

  private var seq = 0
  private def write(out: OutputStream, payload: Array[Byte]): Unit = {
    val n = payload.length
    out.write(Array[Byte](n.toByte, (n >> 8).toByte, (n >> 16).toByte, seq.toByte))
    out.write(payload)
    seq = (seq + 1) & 0xff
  }

  private def read(in: InputStream): Array[Byte] = {
    val h = in.readNBytes(4)
    if (h.length < 4) throw new java.io.EOFException()
    val n = (h(0) & 0xff) | ((h(1) & 0xff) << 8) | ((h(2) & 0xff) << 16)
    seq = ((h(3) & 0xff) + 1) & 0xff
    in.readNBytes(n)
  }

  private val ok = Array[Byte](0, 0, 0, 2, 0, 0, 0)

  private def handshake: Array[Byte] = {
    val b = ByteBuffer.allocate(128).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val caps = 0x200 | 0x8000 | 0x80000 // PROTOCOL_41, SECURE_CONNECTION, PLUGIN_AUTH
    b.put(10.toByte).put("8.0.99-bench".getBytes(US_ASCII)).put(0.toByte)
    b.putInt(7)
    b.put(Array.fill[Byte](8)(0x2a)).put(0.toByte)
    b.putShort((caps & 0xffff).toShort).put(33.toByte).putShort(2.toShort)
    b.putShort((caps >>> 16).toShort).put(21.toByte).put(new Array[Byte](10))
    b.put(Array.fill[Byte](12)(0x2b)).put(0.toByte)
    b.put("mysql_native_password".getBytes(US_ASCII)).put(0.toByte)
    java.util.Arrays.copyOf(b.array(), b.position())
  }

  def serve(): Unit = {
    val sock = try server.accept() catch { case _: java.io.IOException => return }
    sock.setTcpNoDelay(true)
    val in = new java.io.BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    try {
      seq = 0
      write(out, handshake); out.flush()
      read(in) // HandshakeResponse: any account is accepted
      write(out, ok); out.flush()
      var dumping = false
      while (!dumping) {
        val cmd = read(in)
        if ((cmd(0) & 0xff) == 0x12) dumping = true // COM_BINLOG_DUMP
        else { write(out, ok); out.flush() }
      }
      val rotate = {
        val name = "mysql-bin.000001".getBytes(US_ASCII)
        val body = ByteBuffer.allocate(8 + name.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        body.putLong(4L).put(name)
        val hdr = ByteBuffer.allocate(19).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        hdr.putInt(0).put(4.toByte).putInt(1).putInt(19 + body.capacity()).putInt(0).putShort(0.toShort)
        hdr.array() ++ body.array()
      }
      write(out, 0.toByte +: rotate)
      var i = 0
      while (i < dues.length && dues(i) < 0) { write(out, 0.toByte +: events(i)); i += 1 }
      out.flush()
      started.await()
      while (i < dues.length) {
        val due = t0 + dues(i)
        var now = Harness.nowUs()
        if (now < due) {
          out.flush()
          while (now < due) {
            if (due - now > 200) LockSupport.parkNanos((due - now - 100) * 1000L)
            now = Harness.nowUs()
          }
        }
        val tpe = events(i)(4) & 0xff
        if (tpe >= 30 && tpe <= 32) lateUs.synchronized { lateUs += now - due }
        write(out, 0.toByte +: events(i))
        sent += 1
        i += 1
      }
      write(out, Array[Byte](0xfe.toByte, 0, 0, 2, 0)) // EOF: end of stream
      out.flush()
      // hold the connection until the replica hangs up
      while (in.read() >= 0) ()
    } catch {
      case _: java.io.IOException => ()
    } finally sock.close()
  }

  override def close(): Unit = server.close()
}
