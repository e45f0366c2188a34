package graft.streaming

import java.io.{BufferedWriter, IOException}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** The reference's event queue is a Redis list that survives process death
  * (reference `main.go:36-39,95,392`) — enqueue on delivery, a second worker
  * drains it later, crash in between loses nothing. This is that contract as
  * a pluggable interface: [[Sinks.dualSink]] and [[Sinks.queueDeliverBatch]]
  * open one [[QueueClient]] per partition task (executor-side — no rows
  * through the driver) and the drain worker (R15, `main.go:383-419`)
  * consumes via [[DurableQueue.drain]].
  *
  * Two impls: [[FileQueue]] (durable segments; point `dir` at shared
  * storage — DFS/NFS — on a real cluster, exactly as one does for
  * checkpoint locations) and [[RedisQueue]] (the reference's list itself).
  * The caller always passes the queue in: no delivery state lives in a
  * JVM, so every executor of a cluster writes to the same queue.
  */
trait QueueClient {
  def enqueue(group: String, payload: String): Unit
  /** Make everything enqueued so far durable/visible. Called once per
    * SUCCESSFUL partition task; a crash before close() re-runs the Spark
    * task, so visibility-on-close is what makes delivery at-least-once,
    * not at-most.
    */
  def close(): Unit
  /** Discard everything enqueued so far — called when the partition task
    * FAILS, so a half-written attempt is never published (Spark's retry
    * produces the complete segment instead). Impls whose enqueue is
    * immediately visible ([[RedisQueue]]'s `RPUSH`) cannot un-publish;
    * there abort is a no-op and retries surface as at-least-once
    * duplicates, which the delivery contract already tolerates.
    */
  def abort(): Unit = ()
}

trait DurableQueue extends Serializable {
  /** Executor-side appender — resolved inside the partition task. */
  def client(): QueueClient

  /** Consume everything currently queued. An item is removed from the queue
    * only per-impl durability rules (file impl: a segment is deleted only
    * after ALL its items were handled — crash mid-segment replays the whole
    * segment, at-least-once like the reference's crash-replay window,
    * `main.go:287-306`). Returns items handled.
    */
  def drain(handle: (String, String) => Unit): Long

  /** Items currently queued (diagnostic/test surface). */
  def pending: Long
}

/** File-backed queue: each partition task writes its items to a private temp
  * file and atomically renames it into the queue directory on close — a
  * reader never sees a half-written segment, and segments survive driver
  * death (the durability the reference gets from Redis, `main.go:36-39`).
  *
  * Wire format: one item per line, `group \t payload` — payloads are
  * single-line JSON (control characters are escaped inside JSON strings),
  * so the framing is unambiguous.
  */
final case class FileQueue(dir: String) extends DurableQueue {
  private def dirPath: Path = Paths.get(dir)

  override def client(): QueueClient = new QueueClient {
    private var tmp: Path = _
    private var out: BufferedWriter = _
    private var n = 0L
    override def enqueue(group: String, payload: String): Unit = {
      if (out == null) {
        Files.createDirectories(dirPath)
        tmp = Files.createTempFile(dirPath, ".tmp-", ".seg")
        out = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8,
          StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
      }
      out.write(group); out.write('\t'); out.write(payload); out.write('\n')
      n += 1
    }
    override def close(): Unit = if (out != null) {
      out.close()
      if (n > 0) {
        // Atomic publish: visible-and-complete or not visible at all.
        val seg = dirPath.resolve(s"q-${java.util.UUID.randomUUID()}.seg")
        Files.move(tmp, seg, StandardCopyOption.ATOMIC_MOVE)
      } else Files.deleteIfExists(tmp)
    }
    override def abort(): Unit = if (out != null) {
      try out.close() catch { case _: IOException => () }
      Files.deleteIfExists(tmp); ()
    }
  }

  private def segments: Seq[Path] =
    if (!Files.isDirectory(dirPath)) Seq.empty
    else {
      val s = Files.list(dirPath)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("q-"))
        .toVector.sortBy(_.getFileName.toString)
      finally s.close()
    }

  override def drain(handle: (String, String) => Unit): Long = {
    // Sweep temp files orphaned by a JVM crash between createTempFile and
    // close/abort: anything still .tmp-* after 15 minutes is dead — live
    // writers publish within a micro-batch. (Task-FAILURE leftovers are
    // handled deterministically by abort(); this catches process death.)
    if (Files.isDirectory(dirPath)) {
      val cutoff = System.currentTimeMillis() - 15 * 60 * 1000
      val s = Files.list(dirPath)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".tmp-"))
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
        .foreach(p => try Files.deleteIfExists(p) catch { case _: IOException => () })
      finally s.close()
    }
    var n = 0L
    segments.foreach { seg =>
      val lines = Files.lines(seg, StandardCharsets.UTF_8)
      try lines.iterator().asScala.foreach { line =>
        val tab = line.indexOf('\t')
        if (tab >= 0) { handle(line.substring(0, tab), line.substring(tab + 1)); n += 1 }
      } finally lines.close()
      // Delete only after the whole segment was handled: a crash mid-segment
      // replays it in full on the next drain (at-least-once).
      try Files.deleteIfExists(seg)
      catch { case _: IOException => () }
    }
    n
  }

  override def pending: Long =
    segments.map { seg =>
      val s = Files.lines(seg, StandardCharsets.UTF_8)
      try s.count() finally s.close()
    }.sum
}
