package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MySQL binlog wire-format decoders (binlog format v4 — the public layout
  * documented in the MySQL internals manual and implemented by every binlog
  * client, including the canal library the reference tails its stream with,
  * `/root/reference/main.go:459-485`).
  *
  * This closes the wire-level half of the engine's one declared gap (the
  * live binlog tail): the sandbox has no MySQL server to connect to, but
  * the byte-level decode a live source would sit on is implemented and
  * spec-proven here, as codegen'd Catalyst expressions over `binary`
  * columns:
  *
  *   - `binlog_frames(stream)`   — split a raw log (with or without the
  *     4-byte `\xfe bin` magic) into per-event blobs via the event_size
  *     field; null on truncated/malformed input.
  *   - `binlog_header(event)`    — the 19-byte v4 event header: timestamp,
  *     type code + name, server_id, event_size, log_pos, flags.
  *   - `binlog_rotate(event)`    — ROTATE payload: next (file, position) —
  *     exactly the `{name,pos}` offset shape the reference checkpoints
  *     (`main.go:41-44`) and the log source's `LogOffset` restores.
  *
  * Checksum note: when the server writes CRC32 checksums (declared in the
  * FORMAT_DESCRIPTION event), the last 4 bytes of each event are the
  * checksum; `binlog_rotate(event, has_crc)` takes that fact as an explicit
  * flag (like `binlog_rows_json`) — a live source derives it from the FDE
  * once per file; sniffing trailer bytes would mis-split ~2 % of CRCs.
  *
  * All three run row-local with no shuffle: at 100 TB of archived binlog
  * the decode parallelizes per file split, and everything downstream is
  * the already-proven CDC pipeline (routing, normalization, envelope).
  */
object BinlogWire {

  val headerType: StructType = StructType(Seq(
    StructField("ts_sec", LongType, nullable = false),
    StructField("event_type", IntegerType, nullable = false),
    StructField("type_name", StringType, nullable = false),
    StructField("server_id", LongType, nullable = false),
    StructField("event_size", LongType, nullable = false),
    StructField("log_pos", LongType, nullable = false),
    StructField("flags", IntegerType, nullable = false)))

  val rotateType: StructType = StructType(Seq(
    StructField("position", LongType, nullable = false),
    StructField("next_log", StringType, nullable = false)))

  val HeaderLen = 19
  private val Magic = Array[Byte](0xfe.toByte, 'b', 'i', 'n')

  /** Public v4 type codes (MySQL internals manual, "Binlog Event Type"). */
  val typeNames: Map[Int, String] = Map(
    2 -> "QUERY_EVENT", 4 -> "ROTATE_EVENT", 15 -> "FORMAT_DESCRIPTION_EVENT",
    16 -> "XID_EVENT", 19 -> "TABLE_MAP_EVENT", 30 -> "WRITE_ROWS_EVENT",
    31 -> "UPDATE_ROWS_EVENT", 32 -> "DELETE_ROWS_EVENT", 33 -> "GTID_EVENT",
    34 -> "ANONYMOUS_GTID_EVENT", 35 -> "PREVIOUS_GTIDS_EVENT",
    39 -> "PARTIAL_UPDATE_ROWS_EVENT", 40 -> "TRANSACTION_PAYLOAD_EVENT",
    160 -> "ANNOTATE_ROWS_EVENT", 161 -> "BINLOG_CHECKPOINT_EVENT",
    162 -> "MARIA_GTID_EVENT", 163 -> "MARIA_GTID_LIST_EVENT")

  private def u32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def u64(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (b(off + i) & 0xffL); i -= 1 }
    v
  }

  /** Static entry point shared by interpreted eval and generated code.
    * Null (not an exception) on inputs shorter than a header — malformed
    * archive bytes must not kill a 100 TB scan.
    */
  def decodeHeader(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < HeaderLen) return null
    val tpe = bytes(4) & 0xff
    InternalRow(
      u32(bytes, 0),
      tpe,
      UTF8String.fromString(typeNames.getOrElse(tpe, s"UNKNOWN($tpe)")),
      u32(bytes, 5),
      u32(bytes, 9),
      u32(bytes, 13),
      u16(bytes, 17))
  }

  /** Split a concatenated event stream into per-event blobs. Accepts an
    * optional leading `\xfe bin` magic (present at file starts, absent in
    * mid-file splits). Null when any event_size is inconsistent with the
    * remaining bytes (truncation ⇒ the caller's split boundaries are wrong,
    * not silently-dropped tail events).
    */
  def frames(bytes: Array[Byte]): ArrayData = {
    if (bytes == null) return null
    var off =
      if (bytes.length >= 4 && bytes(0) == Magic(0) && bytes(1) == Magic(1) &&
        bytes(2) == Magic(2) && bytes(3) == Magic(3)) 4
      else 0
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (off < bytes.length) {
      if (bytes.length - off < HeaderLen) return null
      val size = u32(bytes, off + 9)
      if (size < HeaderLen || off + size > bytes.length) return null
      out += java.util.Arrays.copyOfRange(bytes, off, off + size.toInt)
      off += size.toInt
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** GTID_EVENT payload (type 33): u8 commit flag, 16-byte SID (the server
    * UUID, big-endian as UUIDs format), u64 LE GNO — together the
    * `uuid:gno` transaction identity that modern MySQL replication uses as
    * its position instead of `{name, pos}`. Null unless the event is a
    * well-formed GTID.
    */
  def decodeGtid(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < HeaderLen + 25) return null
    if ((bytes(4) & 0xff) != 33) return null
    val sid = new StringBuilder(36)
    var i = 0
    while (i < 16) {
      if (i == 4 || i == 6 || i == 8 || i == 10) sid.append('-')
      sid.append(f"${bytes(HeaderLen + 1 + i) & 0xff}%02x")
      i += 1
    }
    val gno = {
      var v = 0L
      var j = 7
      while (j >= 0) { v = (v << 8) | (bytes(HeaderLen + 17 + j) & 0xffL); j -= 1 }
      v
    }
    InternalRow(UTF8String.fromString(sid.toString), gno,
      (bytes(HeaderLen) & 0xff) == 1)
  }

  val gtidType: StructType = StructType(Seq(
    StructField("uuid", StringType, nullable = false),
    StructField("gno", LongType, nullable = false),
    StructField("commit_flag", BooleanType, nullable = false)))

  /** MariaDB GTID_EVENT payload (type 162 — MariaDB numbers its own GTID
    * events; the identity is `domain-server-seq`, not `uuid:gno`): u64 LE
    * sequence, u32 LE domain id, u8 flags (bit 0 = FL_STANDALONE: a
    * DDL-style group with no terminating commit). The server id rides the
    * common event header. Null unless the event is a well-formed MariaDB
    * GTID.
    */
  def decodeMariaGtid(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < HeaderLen + 13) return null
    if ((bytes(4) & 0xff) != 162) return null
    InternalRow(
      u32(bytes, HeaderLen + 8),            // domain_id
      u32(bytes, 5),                        // server_id (header)
      u64(bytes, HeaderLen),                // seq
      (bytes(HeaderLen + 12) & 0x01) != 0)  // standalone
  }

  val mariaGtidType: StructType = StructType(Seq(
    StructField("domain", LongType, nullable = false),
    StructField("server_id", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("standalone", BooleanType, nullable = false)))

  /** ROTATE_EVENT payload: u64 LE next-position + next-log filename (the
    * rest of the body). `hasCrc` = the server writes CRC32 checksums
    * (declared in its FORMAT_DESCRIPTION event) — the trailing 4 bytes are
    * then checksum, not filename. An explicit flag, not a byte-sniffing
    * heuristic: ~2 % of random CRC32 values are four printable bytes, and
    * names ≤4 chars would never trip a printability test, so guessing
    * corrupts `next_log` silently. Null unless the event is a well-formed
    * ROTATE (with room for the declared trailer).
    */
  def decodeRotate(bytes: Array[Byte], hasCrc: Boolean): InternalRow = {
    if (bytes == null || bytes.length < HeaderLen + 8 + (if (hasCrc) 4 else 0))
      return null
    if ((bytes(4) & 0xff) != 4) return null
    val pos = u64(bytes, HeaderLen)
    val end = bytes.length - (if (hasCrc) 4 else 0)
    val name = new String(bytes, HeaderLen + 8, end - (HeaderLen + 8),
      java.nio.charset.StandardCharsets.UTF_8)
    InternalRow(pos, UTF8String.fromString(name))
  }

  /** XID_EVENT payload (type 16): u64 LE transaction id — the COMMIT
    * marker of a row-transaction group. With GTID (start marker) this
    * brackets every transaction on the wire; the pair is what lets an
    * archive scan re-assemble atomic transactions from a flat event
    * stream. Null unless the event is a well-formed XID.
    */
  def decodeXid(bytes: Array[Byte]): java.lang.Long = {
    if (bytes == null || bytes.length < HeaderLen + 8) return null
    if ((bytes(4) & 0xff) != 16) return null
    java.lang.Long.valueOf(u64(bytes, HeaderLen))
  }

  /** QUERY_EVENT (type 2) — statement-based entries: `BEGIN` markers,
    * DDL, and anything not row-logged. Post-header: thread_id u32,
    * exec_time u32, schema_len u8, error_code u16, status_vars_len u16;
    * body: status vars (skipped — session state, not identity), schema
    * name, NUL, query text to the end (minus the declared CRC trailer).
    * The reference drops DDL on the floor (DummyEventHandler,
    * `main.go:46-48`); decoding it is how an archive scan can do better.
    */
  def decodeQuery(bytes: Array[Byte], hasCrc: Boolean): InternalRow = {
    if (bytes == null || bytes.length < HeaderLen + 13 + (if (hasCrc) 4 else 0))
      return null
    if ((bytes(4) & 0xff) != 2) return null
    val threadId = u32(bytes, HeaderLen)
    val execTime = u32(bytes, HeaderLen + 4)
    val schemaLen = bytes(HeaderLen + 8) & 0xff
    val errorCode = u16(bytes, HeaderLen + 9)
    val statusLen = u16(bytes, HeaderLen + 11)
    val schemaOff = HeaderLen + 13 + statusLen
    val queryOff = schemaOff + schemaLen + 1 // NUL after the schema name
    val end = bytes.length - (if (hasCrc) 4 else 0)
    if (queryOff > end) return null
    val schema = new String(bytes, schemaOff, schemaLen,
      java.nio.charset.StandardCharsets.UTF_8)
    val query = new String(bytes, queryOff, end - queryOff,
      java.nio.charset.StandardCharsets.UTF_8)
    InternalRow(threadId, execTime, errorCode,
      UTF8String.fromString(schema), UTF8String.fromString(query))
  }

  val queryType: StructType = StructType(Seq(
    StructField("thread_id", LongType, nullable = false),
    StructField("exec_time", LongType, nullable = false),
    StructField("error_code", IntegerType, nullable = false),
    StructField("schema", StringType, nullable = false),
    StructField("query", StringType, nullable = false)))

  /** CRC32 trailer check: true iff the last 4 bytes equal the CRC32 of
    * everything before them (the layout a checksumming server writes —
    * `event_size` covers the trailer). Null on inputs too short to carry
    * one. The integrity scan for archived binlogs: at 100 TB a silent
    * bit-flip in cold storage is a certainty, and this runs row-local in
    * codegen with no shuffle.
    */
  def crc32Ok(bytes: Array[Byte]): java.lang.Boolean = {
    if (bytes == null || bytes.length < HeaderLen + 4) return null
    val crc = new java.util.zip.CRC32
    crc.update(bytes, 0, bytes.length - 4)
    java.lang.Boolean.valueOf((crc.getValue & 0xffffffffL) == u32(bytes, bytes.length - 4))
  }

  /** TRANSACTION_PAYLOAD_EVENT (type 40; MySQL 8.0.20+ with
    * `binlog_transaction_compression=ON` — default-on for several managed
    * offerings): the transaction's whole event stream — Query(`BEGIN`),
    * TABLE_MAP, ROWS events, XID — wrapped inside ONE container event,
    * zstd-compressed by default. The body is a TLV field list (lenenc
    * type, lenenc length, value bytes; all LE): field 1 = payload size,
    * 2 = compression codec (0 = ZSTD, 255 = NONE), 3 = uncompressed size;
    * field 0 is the header-end mark, and the payload bytes follow it
    * immediately. Inner events are written WITHOUT CRC32 trailers
    * regardless of the server's checksum setting (the container carries
    * the only checksum). Public format: MySQL WL#3549 + libbinlogevents
    * `control_events.h` (the reference's go-mysql dependency decodes the
    * same fields before `OnRow` fires).
    *
    * `payloadEvents(ev, hasCrc)` normalizes ANY event to the flat stream
    * a pre-8.0.20 consumer expects: a type-40 container decodes (and
    * decompresses) into its inner events; every other event passes
    * through unchanged except that a declared CRC32 trailer is stripped
    * (with `event_size` patched down to match), so the OUTPUT is
    * uniformly checksum-free and downstream pairing/decode always runs
    * `has_crc = false`. Null on a torn container, a declared-size
    * mismatch, a torn inner stream, or an unknown compression codec —
    * refuse, don't guess: bytes "decompressed" under the wrong codec are
    * plausible garbage, and a poisoned event must not kill a 100 TB scan.
    */
  def payloadEvents(ev: Array[Byte], hasCrc: Boolean): ArrayData = {
    if (ev == null || ev.length < HeaderLen) return null
    val end = ev.length - (if (hasCrc) 4 else 0)
    if (end < HeaderLen) return null
    if ((ev(4) & 0xff) != 40) {
      if (!hasCrc) return new GenericArrayData(Array[Any](ev))
      val out = java.util.Arrays.copyOfRange(ev, 0, end)
      val sz = u32(ev, 9) - 4 // event_size covered the stripped trailer
      out(9) = (sz & 0xff).toByte; out(10) = ((sz >> 8) & 0xff).toByte
      out(11) = ((sz >> 16) & 0xff).toByte; out(12) = ((sz >> 24) & 0xff).toByte
      return new GenericArrayData(Array[Any](out))
    }
    try {
      var off = HeaderLen
      var payloadSize = -1L
      var codec = 255L // NONE when the field is absent (libbinlogevents default)
      var rawSize = -1L
      def lenenc(): Long = {
        val first = ev(off) & 0xff; off += 1
        first match {
          case 0xfc =>
            val r = (ev(off) & 0xffL) | ((ev(off + 1) & 0xffL) << 8); off += 2; r
          case 0xfd =>
            val r = (ev(off) & 0xffL) | ((ev(off + 1) & 0xffL) << 8) |
              ((ev(off + 2) & 0xffL) << 16); off += 3; r
          case 0xfe =>
            var r = 0L; var i = 0
            while (i < 8) { r |= (ev(off + i) & 0xffL) << (8 * i); i += 1 }
            off += 8; r
          case v => v.toLong
        }
      }
      var payload: Array[Byte] = null
      while (payload == null) {
        if (off >= end) return null // ran out before the header-end mark
        val ft = lenenc()
        if (ft == 0L) payload = java.util.Arrays.copyOfRange(ev, off, end)
        else {
          val fl = lenenc().toInt
          if (fl < 0 || off + fl > end) return null
          var v = 0L; var i = 0
          while (i < math.min(fl, 8)) { v |= (ev(off + i) & 0xffL) << (8 * i); i += 1 }
          ft match {
            case 1L => payloadSize = v
            case 2L => codec = v
            case 3L => rawSize = v
            case _ => () // unknown optional field: skip it, not the event
          }
          off += fl
        }
      }
      if (payloadSize >= 0 && payloadSize != payload.length) return null
      val inner: Array[Byte] = codec match {
        case 255L => payload // COMPRESSION_TYPE_NONE
        case 0L => // COMPRESSION_TYPE_ZSTD
          if (rawSize < 0 || rawSize > Int.MaxValue) return null
          com.github.luben.zstd.Zstd.decompress(payload, rawSize.toInt)
        case _ => return null // unknown codec: refuse, don't guess
      }
      frames(inner) // inner events frame like any stream (null when torn)
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  /** Column-level API. */
  def binlog_header(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.toColumn(
      BinlogHeaderDecode(org.apache.spark.sql.GraftColumnBridge.toExpression(c)))
  def binlog_frames(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.toColumn(
      BinlogFrames(org.apache.spark.sql.GraftColumnBridge.toExpression(c)))
  def binlog_rotate(c: Column, hasCrc: Boolean = false): Column =
    org.apache.spark.sql.GraftColumnBridge.toColumn(
      BinlogRotateDecode(org.apache.spark.sql.GraftColumnBridge.toExpression(c), hasCrc))
  def binlog_payload_events(c: Column, hasCrc: Boolean = false): Column =
    org.apache.spark.sql.GraftColumnBridge.toColumn(
      BinlogPayloadEvents(org.apache.spark.sql.GraftColumnBridge.toExpression(c), hasCrc))
  def binlog_gtid(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.toColumn(
      BinlogGtidDecode(org.apache.spark.sql.GraftColumnBridge.toExpression(c)))
  def binlog_gtid_maria(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.toColumn(
      BinlogMariaGtidDecode(org.apache.spark.sql.GraftColumnBridge.toExpression(c)))
  def binlog_crc32_ok(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.toColumn(
      BinlogCrc32Ok(org.apache.spark.sql.GraftColumnBridge.toExpression(c)))
  def binlog_xid(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.toColumn(
      BinlogXidDecode(org.apache.spark.sql.GraftColumnBridge.toExpression(c)))
  def binlog_query(c: Column, hasCrc: Boolean = false): Column =
    org.apache.spark.sql.GraftColumnBridge.toColumn(
      BinlogQueryDecode(org.apache.spark.sql.GraftColumnBridge.toExpression(c), hasCrc))
}

/** Shared shape of the binlog decoders (here and in [[BinlogRows]]):
  * binary in, possibly-null decode out, codegen via the static helpers
  * (same pattern as [[StrictBase64Decode]]).
  */
abstract class BinlogDecodeExpression extends UnaryExpression {
  /** Fully-qualified static method the decode compiles to. */
  protected def staticCall: String
  /** Boxed JVM type of the decode result, for the generated local. */
  protected def javaType: String
  /** Extra literal arguments appended to the static call (", x" or ""). */
  protected def extraArgs: String = ""

  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // fresh local: two decoders in one codegen function (e.g. the same
      // expression projected twice) must not redefine each other's temps
      val r = ctx.freshName("decoded")
      s"""
         |$javaType $r = $staticCall($c$extraArgs);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
}

/** 19-byte v4 binlog event header → struct (see [[BinlogWire]]). */
case class BinlogHeaderDecode(child: Expression) extends BinlogDecodeExpression {
  override def dataType: DataType = BinlogWire.headerType
  override protected def staticCall: String = "graft.functions.BinlogWire.decodeHeader"
  override protected def javaType: String = "org.apache.spark.sql.catalyst.InternalRow"
  override protected def nullSafeEval(input: Any): Any =
    BinlogWire.decodeHeader(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): BinlogHeaderDecode =
    copy(child = newChild)
  override def prettyName: String = "binlog_header"
}

/** Concatenated binlog stream → array of per-event blobs. */
case class BinlogFrames(child: Expression) extends BinlogDecodeExpression {
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override protected def staticCall: String = "graft.functions.BinlogWire.frames"
  override protected def javaType: String = "org.apache.spark.sql.catalyst.util.ArrayData"
  override protected def nullSafeEval(input: Any): Any =
    BinlogWire.frames(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): BinlogFrames =
    copy(child = newChild)
  override def prettyName: String = "binlog_frames"
}

/** `binlog_payload_events(event[, has_crc])` → the event normalized to a
  * checksum-free flat stream: a TRANSACTION_PAYLOAD container (type 40)
  * expands to its decompressed inner events, anything else passes through
  * (CRC trailer stripped). See [[BinlogWire.payloadEvents]].
  */
case class BinlogPayloadEvents(child: Expression, hasCrc: Boolean = false)
    extends BinlogDecodeExpression {
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override protected def staticCall: String = "graft.functions.BinlogWire.payloadEvents"
  override protected def javaType: String = "org.apache.spark.sql.catalyst.util.ArrayData"
  override protected def extraArgs: String = s", $hasCrc"
  override protected def nullSafeEval(input: Any): Any =
    BinlogWire.payloadEvents(input.asInstanceOf[Array[Byte]], hasCrc)
  override protected def withNewChildInternal(newChild: Expression): BinlogPayloadEvents =
    copy(child = newChild)
  override def prettyName: String = "binlog_payload_events"
}

/** GTID event → struct(uuid, gno, commit_flag) — the modern position unit. */
case class BinlogGtidDecode(child: Expression) extends BinlogDecodeExpression {
  override def dataType: DataType = BinlogWire.gtidType
  override protected def staticCall: String = "graft.functions.BinlogWire.decodeGtid"
  override protected def javaType: String = "org.apache.spark.sql.catalyst.InternalRow"
  override protected def nullSafeEval(input: Any): Any =
    BinlogWire.decodeGtid(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): BinlogGtidDecode =
    copy(child = newChild)
  override def prettyName: String = "binlog_gtid"
}

/** MariaDB GTID_EVENT (type 162) → struct (see [[BinlogWire]]). */
case class BinlogMariaGtidDecode(child: Expression) extends BinlogDecodeExpression {
  override def dataType: DataType = BinlogWire.mariaGtidType
  override protected def staticCall: String = "graft.functions.BinlogWire.decodeMariaGtid"
  override protected def javaType: String = "org.apache.spark.sql.catalyst.InternalRow"
  override protected def nullSafeEval(input: Any): Any =
    BinlogWire.decodeMariaGtid(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): BinlogMariaGtidDecode =
    copy(child = newChild)
  override def prettyName: String = "binlog_gtid_maria"
}

/** Event integrity: CRC32 trailer matches the bytes it covers. */
case class BinlogCrc32Ok(child: Expression) extends BinlogDecodeExpression {
  override def dataType: DataType = BooleanType
  override protected def staticCall: String = "graft.functions.BinlogWire.crc32Ok"
  override protected def javaType: String = "java.lang.Boolean"
  override protected def nullSafeEval(input: Any): Any =
    BinlogWire.crc32Ok(input.asInstanceOf[Array[Byte]])
  // explicit unbox: the Boolean slot is a PRIMITIVE in generated code, and a
  // boxed assignment Janino can't unbox would silently drop to interpreted
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("crcOk")
      s"""
         |java.lang.Boolean $r = $staticCall($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.booleanValue(); }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): BinlogCrc32Ok =
    copy(child = newChild)
  override def prettyName: String = "binlog_crc32_ok"
}

/** ROTATE event → struct(position, next_log) — the reference's offset shape.
  * `hasCrc` comes from the caller (FDE-driven in a live source), never from
  * sniffing the trailer bytes.
  */
case class BinlogRotateDecode(child: Expression, hasCrc: Boolean = false)
    extends BinlogDecodeExpression {
  override def dataType: DataType = BinlogWire.rotateType
  override protected def staticCall: String = "graft.functions.BinlogWire.decodeRotate"
  override protected def javaType: String = "org.apache.spark.sql.catalyst.InternalRow"
  override protected def extraArgs: String = s", $hasCrc"
  override protected def nullSafeEval(input: Any): Any =
    BinlogWire.decodeRotate(input.asInstanceOf[Array[Byte]], hasCrc)
  override protected def withNewChildInternal(newChild: Expression): BinlogRotateDecode =
    copy(child = newChild)
  override def prettyName: String = "binlog_rotate"
}

/** XID event → the u64 transaction id (COMMIT marker). Own doGenCode: the
  * result is a PRIMITIVE long slot, so the boxed null check must unbox
  * explicitly (same situation as `binlog_table_id`).
  */
case class BinlogXidDecode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    BinlogWire.decodeXid(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("xid")
      s"""
         |java.lang.Long $r = graft.functions.BinlogWire.decodeXid($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): BinlogXidDecode =
    copy(child = newChild)
  override def prettyName: String = "binlog_xid"
}

/** QUERY event → struct(thread_id, exec_time, error_code, schema, query) —
  * BEGIN markers and DDL. `hasCrc` FDE-driven like the other trailered
  * decoders.
  */
case class BinlogQueryDecode(child: Expression, hasCrc: Boolean = false)
    extends BinlogDecodeExpression {
  override def dataType: DataType = BinlogWire.queryType
  override protected def staticCall: String = "graft.functions.BinlogWire.decodeQuery"
  override protected def javaType: String = "org.apache.spark.sql.catalyst.InternalRow"
  override protected def extraArgs: String = s", $hasCrc"
  override protected def nullSafeEval(input: Any): Any =
    BinlogWire.decodeQuery(input.asInstanceOf[Array[Byte]], hasCrc)
  override protected def withNewChildInternal(newChild: Expression): BinlogQueryDecode =
    copy(child = newChild)
  override def prettyName: String = "binlog_query"
}
