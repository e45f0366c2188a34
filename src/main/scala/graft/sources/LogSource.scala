package graft.sources

import java.io.IOException
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths}
import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.BinlogWire

/** DataSource V2 source (micro-batch and batch) tailing an append-only
  * change log — the engine's analog of the reference's binlog tail
  * (reference `main.go:459-485`), resumed from the engine checkpoint the way
  * the reference resumes from its position store (`main.go:257-306`).
  *
  * Two settings, both fixed by the format name, decide what it reads:
  *
  *  - the [[Framing]]: newline-delimited lines (`line STRING`, `pos` = line
  *    number) or MySQL binlog v4 events (`event BINARY`, `pos` = byte
  *    offset, MySQL's own position unit);
  *  - the layout: one file, or a directory of rotating segments
  *    (`mysql-bin.000001`, `000002`, …) that adds a `file STRING` column.
  *    A single file is a one-segment directory.
  *
  * | format                | framing | layout    | schema               |
  * |-----------------------|---------|-----------|----------------------|
  * | `CdcFileSource`       | lines   | file      | `line, pos`          |
  * | `CdcLogDirSource`     | lines   | directory | `line, pos, file`    |
  * | `CdcBinlogFileSource` | binlog  | file      | `event, pos`         |
  * | `CdcBinlogDirSource`  | binlog  | directory | `event, pos, file`   |
  *
  * Options: `path`; `maxLinesPerBatch` (lines) or `maxEventsPerBatch`
  * (binlog) as the admission cap; `positionDir` for the dual-written
  * position mirror ([[DualPositionStore]]); `guardTables`/`guardOps` (lines
  * only, see [[LineFilters.guardFilters]]).
  *
  * Rotation contract (binlog semantics): lexicographic name order is
  * rotation order, the writer appends only to the greatest name, and a
  * sealed segment never changes. Only complete records are offered as
  * offsets — a torn trailing record is invisible until its last byte lands
  * (and ignored for good in a sealed segment, where only a writer crash
  * leaves one). Sealed segments are walked once; the newest is tailed by
  * a [[Tail]] that reads only appended bytes.
  *
  * Offset JSON is `{"name":<segment>,"pos":N,"bytePos":B}` — the
  * reference's `{name, pos}` (`main.go:41-44`) plus the byte where record
  * `pos` starts, so every batch seeks. Checkpoints of the earlier
  * per-format sources still resume ([[LogStream.deserializeOffset]]).
  */
class LogSource(framing: Framing, dir: Boolean) extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LogFiles(framing, dir, "").schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LogTable(LogFiles(framing, dir, properties.get("path")))
}

class CdcFileSource extends LogSource(Framing.Lines, dir = false)
class CdcLogDirSource extends LogSource(Framing.Lines, dir = true)
class CdcBinlogFileSource extends LogSource(Framing.Binlog, dir = false)
class CdcBinlogDirSource extends LogSource(Framing.Binlog, dir = true)

object CdcLogDirSource {
  /** Segments of a log directory in rotation order ([[LogFiles.listLogs]]). */
  def listLogs(dir: String): Seq[String] = LogFiles.listLogs(dir)
}

/** Where records begin, how they end, and what `pos` counts — the only
  * code that differs between line logs and binlogs.
  */
sealed abstract class Framing(val payload: StructField, val rowColumns: Set[String],
    val maxRowsOption: String, val bytePositions: Boolean) extends Serializable {

  /** Byte where the first record of a segment starts. */
  def dataStart(path: String): Long

  /** Byte offset of the end of a batch read of the segment as it rests. */
  def batchEnd(path: String): Long

  /** Skip one complete record; false (leaving the cursor anywhere) when the
    * range or the file ends before the record does.
    */
  private[sources] def skip(c: Cursor): Boolean

  /** The record starting at the cursor, null when nothing is left. */
  private[sources] def record(c: Cursor): Array[Byte]

  /** Whether a reader may start mid-segment ([[LogRange.split]]): only
    * where `pos` is the byte offset itself, so no record count is needed.
    */
  def splittable: Boolean = bytePositions

  /** Skip records until one that commits a transaction ends at or past
    * byte `target`; false when the range ends first. Splittable framings
    * only.
    */
  private[sources] def seekCommit(c: Cursor, target: Long): Boolean =
    throw new UnsupportedOperationException(s"$this ranges are not split")

  /** Whether `rec` commits a transaction, so a cut may fall right after it. */
  private[sources] def commits(rec: Array[Byte]): Boolean = false

  /** Catalyst value of a record, and its text for pushed filters. */
  def value(rec: Array[Byte]): Any
  def text(v: Any): String

  /** Position of the boundary after `records` records of a segment, at byte
    * `byte`: a line number, or the byte offset itself.
    */
  def pos(records: Long, byte: Long): Long = if (bytePositions) byte else records

  /** Byte where position `pos` of `path` starts — one walk for lines. */
  def byteAt(path: String, pos: Long): Long =
    if (bytePositions || pos == 0) pos
    else {
      val (n, b) = walk(path, dataStart(path), max = pos)
      if (n < pos) throw new IllegalArgumentException(
        s"$path holds $n complete records, fewer than position $pos")
      b
    }

  /** Walk complete records in [from, until), at most `max`: (count, byte
    * past the last one).
    */
  def walk(path: String, from: Long, until: Long = Long.MaxValue,
      max: Long = Long.MaxValue): (Long, Long) = {
    if (!Files.exists(Paths.get(path))) return (0L, from)
    val c = new Cursor(path, from, until)
    try {
      var n = 0L
      var end = from
      while (n < max && skip(c)) { n += 1; end = c.at }
      (n, end)
    } finally c.close()
  }
}

object Framing {

  /** '\n'-terminated UTF-8 lines; a CR before the '\n' is dropped, a CR
    * anywhere else is data. Streaming offsets count terminated lines only;
    * a batch read also returns an unterminated last line.
    */
  case object Lines extends Framing(StructField("line", StringType, nullable = false),
      Set("line", "pos"), "maxLinesPerBatch", bytePositions = false) {
    override def dataStart(path: String): Long = 0L
    override def batchEnd(path: String): Long = Files.size(Paths.get(path))
    override private[sources] def skip(c: Cursor): Boolean =
      c.line(keep = false) != null && c.ended
    override private[sources] def record(c: Cursor): Array[Byte] = c.line(keep = true)
    override def value(rec: Array[Byte]): Any = {
      val n = if (rec.nonEmpty && rec.last == '\r') rec.length - 1 else rec.length
      UTF8String.fromBytes(rec, 0, n)
    }
    override def text(v: Any): String = v.toString
  }

  /** MySQL binlog v4 events, framed by the header's `event_size` field
    * ([[graft.functions.BinlogWire]]); a segment may start with the 4-byte
    * `\xfe bin` magic.
    */
  case object Binlog extends Framing(StructField("event", BinaryType, nullable = false),
      Set("pos"), "maxEventsPerBatch", bytePositions = true) {
    private val Magic = Array[Byte](0xfe.toByte, 'b', 'i', 'n')
    private val H = BinlogWire.HeaderLen
    private val Xid: Byte = 16 // XID_EVENT: the COMMIT of an InnoDB transaction

    private def eventSize(h: Array[Byte]): Long =
      (h(9) & 0xffL) | ((h(10) & 0xffL) << 8) | ((h(11) & 0xffL) << 16) | ((h(12) & 0xffL) << 24)

    override def dataStart(path: String): Long = {
      val p = Paths.get(path)
      if (!Files.exists(p) || Files.size(p) < 4) return 0L
      val c = new Cursor(path, 0L, 4L)
      val head = new Array[Byte](4)
      try { if (c.read(head, 0, 4) && head.sameElements(Magic)) 4L else 0L } finally c.close()
    }
    override def batchEnd(path: String): Long = walk(path, dataStart(path))._2

    // Reads the header, skips the payload; a size below a header is
    // corruption, not a partial write — stop offering offsets past it.
    override private[sources] def skip(c: Cursor): Boolean = skipEvent(c, new Array[Byte](H))

    private def skipEvent(c: Cursor, h: Array[Byte]): Boolean = {
      if (!c.read(h, 0, H)) return false
      val es = eventSize(h)
      es >= H && c.skip(es - H)
    }

    override private[sources] def seekCommit(c: Cursor, target: Long): Boolean = {
      val h = new Array[Byte](H)
      while (skipEvent(c, h)) if (h(4) == Xid && c.at >= target) return true
      false
    }

    override private[sources] def commits(rec: Array[Byte]): Boolean = rec(4) == Xid

    // Offsets proved these bytes existed, but the file can shrink between
    // planning and read: fail naming the file and byte range.
    override private[sources] def record(c: Cursor): Array[Byte] = {
      val off = c.at
      def torn(what: String): Nothing = throw new IOException(
        s"${c.path}: $what at byte $off (expected events through byte ${c.until}); " +
          "file truncated since offsets were planned?")
      val h = new Array[Byte](H)
      if (!c.read(h, 0, H)) torn("truncated event header")
      val es = eventSize(h)
      if (es < H || off + es > c.until) torn(s"corrupt event_size $es")
      val ev = new Array[Byte](es.toInt)
      System.arraycopy(h, 0, ev, 0, H)
      if (!c.read(ev, H, es.toInt - H)) torn(s"truncated event body ($es-byte event)")
      ev
    }
    override def value(rec: Array[Byte]): Any = rec
    override def text(v: Any): String = ""
  }
}

/** Buffered sequential reader over bytes [from, until) of one file: one
  * seek, then reads that never return a byte at or past `until`.
  */
private[sources] final class Cursor(val path: String, from: Long, val until: Long)
    extends AutoCloseable {
  private val ch = FileChannel.open(Paths.get(path))
  ch.position(from)
  private val buf = ByteBuffer.allocate(math.min(64 * 1024L, until - from).max(1L).toInt).flip()
  private var terminated = false

  /** Offset of the next byte. */
  var at: Long = from

  /** Whether the last [[line]] ended at a '\n'. */
  def ended: Boolean = terminated

  /** Make at least one byte of the range available; false at its end. */
  private def fill(): Boolean =
    if (buf.hasRemaining) true
    else if (at >= until) false
    else {
      buf.clear().limit(math.min(buf.capacity.toLong, until - at).toInt)
      val r = ch.read(buf)
      buf.flip()
      r > 0
    }

  /** Exactly `n` bytes into `dst` at `off`; false if the range or file ends. */
  def read(dst: Array[Byte], off: Int, n: Int): Boolean = {
    var done = 0
    while (done < n) {
      if (!fill()) return false
      val k = math.min(n - done, buf.remaining)
      buf.get(dst, off + done, k)
      done += k
      at += k
    }
    true
  }

  /** Skip `n` bytes; false if the range or file ends first. */
  def skip(n: Long): Boolean = {
    val inBuf = math.min(n, buf.remaining.toLong).toInt
    buf.position(buf.position() + inBuf)
    at += inBuf
    val rest = n - inBuf
    if (rest > 0) {
      if (at + rest > math.min(until, ch.size())) return false
      at += rest
      ch.position(at)
    }
    true
  }

  /** Bytes up to the next '\n' (consumed, not returned) or the end of the
    * range or file — null when no byte is left. With `keep = false` the
    * bytes are only scanned and an empty array stands for them.
    */
  def line(keep: Boolean): Array[Byte] = {
    if (!fill()) return null
    val out = if (keep) new java.io.ByteArrayOutputStream(256) else null
    terminated = false
    while (!terminated && fill()) {
      val a = buf.array()
      val s = buf.position()
      var i = s
      while (i < buf.limit() && a(i) != '\n') i += 1
      if (keep) out.write(a, s, i - s)
      if (i < buf.limit()) { terminated = true; i += 1 }
      buf.position(i)
      at += i - s
    }
    if (keep) out.toByteArray else Array.emptyByteArray
  }

  override def close(): Unit = ch.close()
}

/** A log on disk: its framing and either one file or a directory of
  * segments. A single file is a one-segment directory.
  */
final case class LogFiles(framing: Framing, dir: Boolean, path: String) {
  def label: String = framing match {
    case Framing.Lines => if (dir) "cdc-logdir" else "cdc-file"
    case Framing.Binlog => if (dir) "cdc-binlogdir" else "cdc-binlog"
  }

  def schema: StructType = StructType(
    Seq(framing.payload, StructField("pos", LongType, nullable = false)) ++
      (if (dir) Seq(StructField("file", StringType, nullable = false)) else Nil))

  /** Raw columns pushed filters may reference. */
  def columns: Set[String] = if (dir) framing.rowColumns + "file" else framing.rowColumns

  def fileName: String = Paths.get(path).getFileName.toString

  /** Segment names in rotation order. */
  def segments: Seq[String] =
    if (dir) LogFiles.listLogs(path)
    else if (Files.exists(Paths.get(path))) Seq(fileName) else Nil

  def segmentPath(name: String): String = if (dir) s"$path/$name" else path
}

object LogFiles {
  /** Regular files of a directory in rotation (lexicographic) order;
    * hidden and temp files are not logs.
    */
  def listLogs(dir: String): Seq[String] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.getFileName.toString).filterNot(_.startsWith(".")).toVector.sorted
      finally s.close()
    }
  }
}

/** Position in a log: record `pos` of segment `name`, starting at byte
  * `bytePos`. `("", 0, 0)` is the origin, before every segment.
  */
final case class LogOffset(name: String, pos: Long, bytePos: Long) extends Offset {
  override def json(): String =
    s"""{"name":"${LogOffset.escape(name)}","pos":$pos,"bytePos":$bytePos}"""

  /** Rotation order: by segment name, then position. */
  def isBefore(o: LogOffset): Boolean = name < o.name || (name == o.name && pos < o.pos)
}

object LogOffset {
  val Origin: LogOffset = LogOffset("", 0L, 0L)

  // Segment names are arbitrary POSIX strings: a quote or backslash must
  // survive the JSON round trip or a restart resumes in the wrong file.
  private def escape(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
  private def unescape(s: String): String = s.replace("\\\"", "\"").replace("\\\\", "\\")

  /** The one wire-format parser (engine checkpoints and the position
    * mirror). A missing `name` reads as "", a missing `bytePos` as -1.
    */
  def parse(json: String): Option[LogOffset] = {
    def num(key: String) =
      s""""$key"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
    val name = """"name"\s*:\s*"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(json)
      .map(m => unescape(m.group(1))).getOrElse("")
    num("pos").map(LogOffset(name, _, num("bytePos").getOrElse(-1L)))
  }
}

class LogTable(files: LogFiles) extends Table with SupportsRead {
  override def name(): String = s"${files.label}(${files.path})"
  override def schema(): StructType = files.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters {
      private val framing = files.framing
      private val maxRows = Option(options.get(framing.maxRowsOption)).map(_.toLong)
      private val positionDir = Option(options.get("positionDir"))
      private val guards =
        if (framing == Framing.Lines) LineFilters.guardFilters(k => Option(options.get(k)))
        else Nil
      private var pushed: Array[Filter] = Array.empty
      // Accept raw-column predicates for source-side row skipping but report
      // EVERY filter back as residual: Spark re-applies them, so pushdown
      // only drops rows the query would drop anyway. A `file`-only conjunct
      // also prunes whole segments from the plan.
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters.filter(LineFilters.supported(_, files.columns))
        filters
      }
      override def pushedFilters(): Array[Filter] = pushed
      override def build(): Scan = new Scan {
        private val fs = pushed.toSeq ++ guards
        override def readSchema(): StructType = files.schema
        override def description(): String =
          s"${name()}, PushedFilters: ${pushed.mkString("[", ", ", "]")}" +
            (if (guards.nonEmpty) s", LineGuards: ${guards.mkString("[", ", ", "]")}" else "")
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new LogStream(files, maxRows, positionDir, fs)
        // A batch reads each segment as it rests, with no line count first;
        // a line log's batch end is its size, so its pos is not counted.
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] = {
            val fileOnly = LineFilters.fileOnly(fs)._1
            LogRange.split(framing,
              files.segments.filterNot(LineFilters.prunesFile(fileOnly, _)).flatMap { f =>
                val path = files.segmentPath(f)
                val (start, end) = (framing.dataStart(path), framing.batchEnd(path))
                if (end <= start) None
                else Some(LogRange(path, LogOffset(f, framing.pos(0L, start), start),
                  LogOffset(f, framing.pos(Long.MaxValue, end), end), fs))
              })
          }
          override def createReaderFactory(): PartitionReaderFactory =
            LogReaderFactory(framing, files.dir)
        }
      }
    }
}

/** Incremental end of one segment: each poll walks only the bytes appended
  * since the previous one, so a long tail costs O(new data) per batch.
  * Returns (complete records, byte past the last one). A shrunk file
  * (truncation) resets and rescans. In-place replacement by an equal or
  * larger file is not detectable by size — out of scope for a log whose
  * positions only grow.
  */
final class Tail(framing: Framing, path: String) {
  private var records = 0L
  private var end = -1L // -1: data start not yet probed
  private var scanned = 0L

  /** Bytes ever walked — idle polls of an unchanged log add nothing. */
  def bytesScanned: Long = synchronized(scanned)

  def poll(): (Long, Long) = synchronized {
    val p = Paths.get(path)
    if (!Files.exists(p)) return (0L, 0L)
    val size = Files.size(p)
    if (end < 0 || size < end) { end = framing.dataStart(path); records = 0L }
    if (size > end) {
      val (n, e) = framing.walk(path, end, size)
      records += n
      scanned += size - end
      end = e
    }
    (records, end)
  }
}

/** Offsets advance to the newest segment's tail. Each batch reads the
  * segments it touches as [[LogRange.split]] cuts them: a binlog range
  * into byte pieces that begin and end at transaction commits, so decode
  * runs on every core and each partition still reads whole transactions in
  * log order; a line log one ordered partition per segment, because its
  * `pos` counts lines from the segment's start.
  */
class LogStream(files: LogFiles, maxRows: Option[Long] = None,
    positionDir: Option[String] = None, filters: Seq[Filter] = Nil)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val framing = files.framing
  // Offsets always cover the UNFILTERED log — positions must not depend on
  // the filter set; file-only conjuncts just drop segments from plans (and
  // spare sealed ones their walk).
  private val fileOnly = LineFilters.fileOnly(filters)._1
  // The engine calls commit(end) when the batch after `end` starts, so the
  // mirror trails the in-flight batch, as the reference's position file
  // trails the event being forwarded.
  private val positions = positionDir.map(DualPositionStore.in)

  private val sealedEnds = mutable.Map.empty[String, LogOffset]
  private var current: Option[(String, Tail)] = None
  private var scannedSealed = 0L

  /** Bytes ever walked for offset discovery. */
  def bytesScanned: Long = synchronized {
    scannedSealed + current.map(_._2.bytesScanned).getOrElse(0L)
  }

  private def at(name: String, records: Long, byte: Long): LogOffset =
    LogOffset(name, framing.pos(records, byte), byte)

  private def segmentStart(name: String): LogOffset =
    at(name, 0L, framing.dataStart(files.segmentPath(name)))

  private def sealedEnd(name: String): LogOffset = synchronized {
    sealedEnds.getOrElseUpdate(name, {
      val path = files.segmentPath(name)
      val (start, size) = (framing.dataStart(path), Files.size(Paths.get(path)))
      val (n, end) = framing.walk(path, start, size)
      scannedSealed += size - start
      at(name, n, end)
    })
  }

  private def pollEnd(): LogOffset = synchronized {
    files.segments.lastOption match {
      case None => LogOffset.Origin
      case Some(newest) =>
        if (!current.exists(_._1 == newest)) {
          // rotation: seal the previous newest at its final end
          current.foreach { case (name, tail) =>
            val (n, b) = tail.poll()
            scannedSealed += tail.bytesScanned
            sealedEnds(name) = at(name, n, b)
          }
          current = Some(newest -> new Tail(framing, files.segmentPath(newest)))
        }
        val (n, b) = current.get._2.poll()
        at(newest, n, b)
    }
  }

  // Trigger.AvailableNow pins the end once, so the trigger drains exactly
  // the log as of its start.
  private var pinnedEnd: Option[LogOffset] = None
  override def prepareForTriggerAvailableNow(): Unit = pinnedEnd = Some(pollEnd())

  override def initialOffset(): Offset = LogOffset.Origin
  override def latestOffset(): Offset = pinnedEnd.getOrElse(pollEnd())
  override def reportLatestOffset(): Offset = latestOffset()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val end = latestOffset().asInstanceOf[LogOffset]
    limit match {
      case m: ReadMaxRows => capped(start.asInstanceOf[LogOffset], end, m.maxRows())
      case _ => end
    }
  }

  /** Admission control: the offset `max` records past `start`, walking
    * segment boundaries. Each capped batch walks only its own records, so
    * a deep backlog drains at O(batch) per batch.
    */
  private def capped(start: LogOffset, end: LogOffset, max: Long): LogOffset = {
    var left = max
    for (f <- files.segments if f >= start.name && f <= end.name) {
      val from = if (f == start.name) start else segmentStart(f)
      val until = if (f == end.name) end else sealedEnd(f)
      val (n, b) = framing.walk(files.segmentPath(f), from.bytePos, until.bytePos, left)
      if (n == left) return at(f, from.pos + n, b)
      left -= n
    }
    end
  }

  override def getDefaultReadLimit: ReadLimit =
    maxRows.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  /** Reads this source's JSON and every shape the per-format sources wrote:
    * `{"pos":N[,"bytePos":B]}` (single file, named here) and
    * `{"name":…,"pos":N}` (no byte position: a line offset's byte is found
    * by one walk, a binlog offset's byte is its pos).
    */
  override def deserializeOffset(json: String): Offset = {
    val hasName = json.contains("\"name\"")
    val o = LogOffset.parse(json).filter(_ => hasName || !files.dir)
      .getOrElse(throw new IllegalArgumentException(s"bad offset: $json"))
    val named = if (hasName) o else o.copy(name = files.fileName)
    if (named.bytePos >= 0) named
    else named.copy(bytePos = framing.byteAt(files.segmentPath(named.name), named.pos))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[LogOffset], end.asInstanceOf[LogOffset])
    if (!s.isBefore(e)) return Array.empty
    LogRange.split(framing, files.segments.filter(f => f >= s.name && f <= e.name)
      .filterNot(LineFilters.prunesFile(fileOnly, _))
      .flatMap { f =>
        val from = if (f == s.name) s else segmentStart(f)
        val until = if (f == e.name) e else sealedEnd(f)
        if (until.bytePos <= from.bytePos) None
        else Some(LogRange(files.segmentPath(f), from, until, filters))
      })
  }

  override def createReaderFactory(): PartitionReaderFactory =
    LogReaderFactory(framing, files.dir)
  override def commit(end: Offset): Unit =
    positions.foreach(_.save(end.asInstanceOf[LogOffset]))
  override def stop(): Unit = ()
}

/** Records of one segment in [from, until); `from.name` is the segment.
  *
  * `targets` cut a piece out of the range by the Hadoop split convention.
  * The reader walks event headers from `from` and starts right after the
  * first commit that ends at or past `targets._1`, then stops right after
  * the first commit that ends at or past `targets._2`. A target at or
  * outside the range's edge means the edge itself. Neighbouring pieces
  * therefore agree on every boundary with no driver-side walk, a range
  * with no commit is read whole by its first piece, and a range that ends
  * mid-transaction is read exactly to `until`.
  */
final case class LogRange(path: String, from: LogOffset, until: LogOffset,
    filters: Seq[Filter] = Nil, targets: (Long, Long) = (0L, Long.MaxValue))
    extends InputPartition

object LogRange {
  /** The smallest piece: a batch below it stays one task per segment. */
  val MinPieceBytes: Long = 64L * 1024

  /** Cut one batch's ranges into one wave of pieces: `ceil(batch bytes /
    * piece)` pieces in all, where `piece = clamp(batch bytes /
    * defaultParallelism, MinPieceBytes, spark.sql.files.maxPartitionBytes)`,
    * so `defaultParallelism` pieces unless a clamp binds. Ranges get their
    * share by largest remainder, at least one each and never a piece above
    * `maxPartitionBytes`; a range's pieces are equal. Only byte targets
    * are computed here; each reader finds its own commit boundaries.
    * Ranges of a framing that is not [[Framing.splittable]] pass through
    * whole.
    */
  def split(framing: Framing, ranges: Seq[LogRange]): Array[InputPartition] =
    if (!framing.splittable || ranges.isEmpty) ranges.toArray
    else {
      def ceilDiv(a: Long, b: Long) = (a + b - 1) / b
      val lens = ranges.map(r => r.until.bytePos - r.from.bytePos)
      val bytes = lens.sum.max(1L)
      // planned outside any session (a bare LogStream): size by one core
      val cores = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .map(_.sparkContext.defaultParallelism).getOrElse(1).max(1)
      val maxBytes = SQLConf.get.filesMaxPartitionBytes
      val piece = ceilDiv(bytes, cores).max(MinPieceBytes).min(maxBytes)
      val total = ceilDiv(bytes, piece)
      val quota = lens.map(_.toDouble * total / bytes)
      val base = quota.map(_.toLong)
      val extra = ranges.indices.sortBy(i => base(i) - quota(i)).take((total - base.sum).toInt).toSet
      ranges.indices.flatMap { i =>
        val r = ranges(i)
        val n = (base(i) + (if (extra(i)) 1 else 0)).max(1L).max(ceilDiv(lens(i), maxBytes))
        val size = ceilDiv(lens(i), n).max(1L)
        val start = r.from.bytePos
        (0L until n).map(k => r.copy(targets = (start + k * size, start + (k + 1) * size)))
      }.toArray
    }
}

/** Reads a [[LogRange]] one record at a time. Pushed filters run on the raw
  * record, before it becomes a row (and before any downstream decode).
  */
final case class LogReaderFactory(framing: Framing, withFile: Boolean)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val r = partition.asInstanceOf[LogRange]
    val file = UTF8String.fromString(r.from.name)
    val (lo, hi) = r.targets
    new PartitionReader[InternalRow] {
      private val cursor = new Cursor(r.path, r.from.bytePos, r.until.bytePos)
      // Whether the cursor sits right after a commit: only there may a
      // piece end. A piece past the range's first starts at one, or is empty.
      private var atCommit = lo > r.from.bytePos
      private var done = atCommit && !framing.seekCommit(cursor, lo)
      private var records = r.from.pos
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (!done && cursor.at < r.until.bytePos) {
          if (atCommit && cursor.at >= hi) { done = true; return false }
          val pos = framing.pos(records, cursor.at)
          val rec = framing.record(cursor)
          if (rec == null) return false
          records += 1
          atCommit = framing.commits(rec)
          val v = framing.value(rec)
          if (r.filters.isEmpty ||
              LineFilters.evalAll(r.filters, framing.text(v), pos, r.from.name)) {
            row = if (withFile) InternalRow(v, pos, file) else InternalRow(v, pos)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = cursor.close()
    }
  }
}
