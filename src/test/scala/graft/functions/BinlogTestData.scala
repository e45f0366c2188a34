package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

import graft.sources.CdcBinlogDirSource
import graft.streaming.{CdcConfig, CdcPipeline}

/** Byte-level binlog v4 fixtures shared by [[BinlogWireSpec]] and the
  * binlog source spec: packs events exactly per the public wire format
  * (LE u32 timestamp, u8 type, LE u32 server_id, LE u32 event_size,
  * LE u32 log_pos, LE u16 flags, body). Also a one-file spool and the
  * envelope query over it, for the streaming specs.
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

  // --- a one-file spool and the envelope query over it --------------------
  private val spoolFile = "mysql-bin.000001"

  /** A binlog spool directory of one file: the format description event,
    * a `shop.orders` TABLE_MAP (table id 100), then `events`.
    */
  def spool(events: Array[Byte]*): Path = {
    val dir = Files.createTempDirectory("binlog_spool")
    val fde = event(1700000000L, 15, 1, 0, 0, Array.fill[Byte](57)(0))
    Files.write(dir.resolve(spoolFile), (Seq(magic, fde, tableMap(100L, "shop", "orders")) ++ events).reduce(_ ++ _))
    dir
  }

  def appendToSpool(spool: Path, events: Array[Byte]*): Unit =
    Files.write(spool.resolve(spoolFile), events.reduce(_ ++ _), StandardOpenOption.APPEND)

  /** The streaming envelope query over `spool`, wired as `Demo` wires it:
    * ROWS events joined to a broadcast of the spool's TABLE_MAPs, decoded,
    * and `orders` routed to `grp_sales`.
    */
  def envelopes(spark: SparkSession, spool: Path): DataFrame = {
    val dirSource = classOf[CdcBinlogDirSource].getName
    val tpe = BinlogWire.binlog_header(col("event")).getField("event_type")
    val tms = spark.read.format(dirSource).option("path", spool.toString).load()
      .filter(tpe === 19)
      .select(BinlogRows.binlog_table_id(col("event")).as("table_id"),
        BinlogRows.binlog_table(col("event")).getField("tbl").as("table"),
        col("event").as("tm"))
    val mapT = MapType(StringType, StringType)
    val changes = spark.readStream.format(dirSource).option("path", spool.toString).load()
      .withColumn("tpe", tpe)
      .filter(col("tpe").isin(30, 31, 32))
      .withColumn("table_id", BinlogRows.binlog_table_id(col("event")))
      .join(broadcast(tms), "table_id")
      .select(col("table"),
        when(col("tpe") === 30, "insert").when(col("tpe") === 31, "update")
          .otherwise("delete").as("op"),
        explode(BinlogRows.binlog_rows_json(col("event"), col("tm"))).as("chg"),
        timestamp_seconds(BinlogWire.binlog_header(col("event")).getField("ts_sec")).as("ts"))
      .select(col("table"), col("op"),
        from_json(get_json_object(col("chg"), "$.before"), mapT).as("before"),
        from_json(get_json_object(col("chg"), "$.after"), mapT).as("after"), col("ts"))
    CdcPipeline.transform(changes, CdcConfig(Map("orders" -> "grp_sales")))
  }
}
