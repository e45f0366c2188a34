package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Byte-level binlog v4 fixtures shared by [[BinlogWireSpec]] and the
  * binlog source spec: packs events exactly per the public wire format
  * (LE u32 timestamp, u8 type, LE u32 server_id, LE u32 event_size,
  * LE u32 log_pos, LE u16 flags, body).
  */
object BinlogTestData {

  val magic: Array[Byte] = Array[Byte](0xfe.toByte, 'b', 'i', 'n')

  def event(ts: Long, tpe: Int, serverId: Long, logPos: Long,
      flags: Int, body: Array[Byte]): Array[Byte] = {
    val size = BinlogWire.HeaderLen + body.length
    val b = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(ts.toInt).put(tpe.toByte).putInt(serverId.toInt)
      .putInt(size).putInt(logPos.toInt).putShort(flags.toShort)
    b.put(body)
    b.array()
  }

  def rotateBody(pos: Long, name: String): Array[Byte] = {
    val nm = name.getBytes(StandardCharsets.UTF_8)
    val b = ByteBuffer.allocate(8 + nm.length).order(ByteOrder.LITTLE_ENDIAN)
    b.putLong(pos).put(nm)
    b.array()
  }

  /** Little-endian byte builder for event bodies. */
  class Buf {
    val out = new ByteArrayOutputStream()
    def u8(v: Int): Buf = { out.write(v & 0xff); this }
    def u16(v: Int): Buf = { u8(v); u8(v >> 8) }
    def u32(v: Long): Buf = { u16(v.toInt & 0xffff); u16((v >> 16).toInt & 0xffff) }
    def u48(v: Long): Buf = { u32(v & 0xffffffffL); u16((v >> 32).toInt & 0xffff) }
    def raw(b: Array[Byte]): Buf = { out.write(b); this }
    def str(s: String): Buf = raw(s.getBytes(StandardCharsets.UTF_8))
    def bytes: Array[Byte] = out.toByteArray
  }

  // --- two-column (LONG id, VARCHAR(20) item) table fixtures --------------
  def tableMap(tableId: Long, db: String, tbl: String): Array[Byte] = {
    val b = new Buf
    b.u48(tableId).u16(1)
    b.u8(db.length).str(db).u8(0)
    b.u8(tbl.length).str(tbl).u8(0)
    b.u8(2)        // two columns
    b.u8(3).u8(15) // LONG, VARCHAR
    b.u8(2).u16(20) // metadata: VARCHAR max len
    b.u8(0)
    event(1700000100L, 19, 1, 0, 0, b.bytes)
  }

  private def img(b: Buf, id: Long, item: String): Unit = {
    b.u8(0) // null bitmap: both present
    b.u32(id & 0xffffffffL)
    val x = item.getBytes(StandardCharsets.UTF_8)
    b.u8(x.length).raw(x)
  }

  def rowsEvent(tpe: Int, tableId: Long)(rows: (Long, String)*): Array[Byte] = {
    val b = new Buf
    b.u48(tableId).u16(0).u16(2)
    b.u8(2)       // column count
    b.u8(0x3)     // present bitmap
    if (tpe == 31) b.u8(0x3)
    rows.foreach { case (id, item) => img(b, id, item) }
    event(1700000200L, tpe, 1, 0, 0, b.bytes)
  }
}
