package graft.streaming

import java.nio.file.{Files, StandardOpenOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

import graft.SparkSuite
import graft.functions.{BinlogRows, BinlogTestData, BinlogWire}
import graft.sources.CdcBinlogFileSource

/** The COMPLETE reference path on raw wire bytes, minus only the socket:
  * a binlog file (magic, FDE, TABLE_MAPs, WRITE/UPDATE/DELETE_ROWS) read
  * by `CdcBinlogFileSource`, row images decoded by `binlog_rows_json`,
  * each ROWS event paired with its latest preceding TABLE_MAP (the
  * stateful pairing canal keeps per table_id — here the engine's own
  * max_by-as-of shape over `pos`), op codes mapped to insert/update/
  * delete, and the result fed to the UNCHANGED `CdcPipeline.transform`
  * (routing → action filter → envelope). What the reference's handler
  * receives from canal, this receives from bytes.
  */
class BinlogCdcPipelineSpec extends SparkSuite {

  import BinlogTestData.{Buf, event, magic, rowsEvent, tableMap}

  test("raw binlog bytes drive the unchanged CDC pipeline end-to-end") {
    val log = Files.createTempFile("binlog_e2e", ".bin")
    val fde = event(1700000000L, 15, 1, 0, 0, Array.fill[Byte](57)(0))
    val stream = magic ++ fde ++
      tableMap(100L, "shop", "orders") ++
      rowsEvent(30, 100L)((1L, "apple"), (2L, "pear")) ++      // 2 inserts
      tableMap(200L, "shop", "audit") ++
      rowsEvent(30, 200L)((9L, "log")) ++                      // unrouted table
      rowsEvent(31, 100L)((1L, "apple"), (1L, "banana")) ++    // update pair
      rowsEvent(32, 100L)((2L, "pear"))                        // delete (dropped: H2)
    Files.write(log, stream, StandardOpenOption.TRUNCATE_EXISTING)

    val raw = spark.read.format(classOf[CdcBinlogFileSource].getName)
      .option("path", log.toString).load()
      .select(col("event"), col("pos"),
        BinlogWire.binlog_header(col("event")).getField("event_type").as("tpe"))

    val maps = raw.filter(col("tpe") === 19)
      .select(BinlogRows.binlog_table(col("event")).getField("table_id").as("table_id"),
        BinlogRows.binlog_table(col("event")).getField("tbl").as("tbl"),
        col("pos").as("map_pos"), col("event").as("tm"))

    // canal's per-table_id "current TABLE_MAP" state = latest map before
    // the ROWS event: equi-join on table_id + max_by over pos (the same
    // aggregate-as-asof shape the IVF assignment uses — no window sort)
    val rows = raw.filter(col("tpe").isin(30, 31, 32))
      .select(col("event"), col("pos"), col("tpe"),
        BinlogWire.binlog_header(col("event")).getField("ts_sec").as("ts_sec"))
      .withColumn("table_id", BinlogRows.binlog_table_id(col("event")))
      .join(maps, "table_id")
      .filter(col("map_pos") < col("pos"))
      .groupBy(col("pos"), col("event"), col("tpe"), col("ts_sec"), col("table_id"))
      .agg(max_by(struct(col("tm"), col("tbl")), col("map_pos")).as("m"))
      .select(col("event"), col("tpe"), col("ts_sec"),
        col("m.tm").as("tm"), col("m.tbl").as("table"))

    val mapSchema = MapType(StringType, StringType)
    val changes = rows
      .select(col("table"), col("tpe"), col("ts_sec"),
        explode(BinlogRows.binlog_rows_json(col("event"), col("tm"))).as("chg"))
      .select(
        col("table"),
        when(col("tpe") === 30, "insert").when(col("tpe") === 31, "update")
          .otherwise("delete").as("op"),
        from_json(get_json_object(col("chg"), "$.before"), mapSchema).as("before"),
        from_json(get_json_object(col("chg"), "$.after"), mapSchema).as("after"),
        timestamp_seconds(col("ts_sec")).as("ts"))

    val out = CdcPipeline.transform(changes, CdcConfig(Map("orders" -> "grp_sales")))
      .select("table", "op", "group", "payload")
      .orderBy("op", "payload")
      .collect()

    // audit is unrouted, the delete is dropped (faithful H2): 2 inserts + 1 update
    assert(out.length == 3, out.mkString("\n"))
    assert(out.forall(r => r.getString(0) == "orders" && r.getString(2) == "grp_sales"))
    val inserts = out.filter(_.getString(1) == "insert").map(_.getString(3))
    assert(inserts.exists(p => p.contains(""""c0":"1"""") && p.contains("apple")
      && p.contains(""""before":null""")), inserts.mkString("\n"))
    assert(inserts.exists(p => p.contains(""""c0":"2"""") && p.contains("pear")))
    val update = out.filter(_.getString(1) == "update").map(_.getString(3)).head
    assert(update.contains("banana") && update.contains(""""table":"orders""""), update)
  }

  test("compressed transactions (TRANSACTION_PAYLOAD_EVENT) drive the same pipeline") {
    // A master running binlog_transaction_compression=ON wraps each
    // transaction's TABLE_MAP + ROWS events in one zstd type-40 container.
    // binlog_payload_events normalizes the stream — containers expand,
    // plain events pass through — and the UNCHANGED pairing + transform
    // runs downstream. Inner-event order is preserved via posexplode, so
    // the latest-preceding-TABLE_MAP pairing stays correct.
    def payload40(inner: Array[Byte]): Array[Byte] = {
      val z = com.github.luben.zstd.Zstd.compress(inner)
      val b = new Buf
      b.u8(2).u8(1).u8(0)                   // compression type: ZSTD
      b.u8(3).u8(4).u32(inner.length.toLong) // uncompressed size
      b.u8(1).u8(4).u32(z.length.toLong)    // payload size
      b.u8(0)                               // header end mark
      b.raw(z)
      event(1700000150L, 40, 1, 0, 0, b.bytes)
    }
    val log = Files.createTempFile("binlog_tpe", ".bin")
    val fde = event(1700000000L, 15, 1, 0, 0, Array.fill[Byte](57)(0))
    val stream = magic ++ fde ++
      payload40(tableMap(100L, "shop", "orders") ++
        rowsEvent(30, 100L)((1L, "apple"), (2L, "pear"))) ++ // compressed txn
      tableMap(200L, "shop", "audit") ++                     // plain events mix in
      rowsEvent(30, 200L)((9L, "log")) ++
      payload40(rowsEvent(31, 100L)((1L, "apple"), (1L, "banana")))
    Files.write(log, stream, StandardOpenOption.TRUNCATE_EXISTING)

    val flat = spark.read.format(classOf[CdcBinlogFileSource].getName)
      .option("path", log.toString).load()
      .select(col("pos"),
        posexplode(BinlogWire.binlog_payload_events(col("event"))).as(Seq("ord", "event")))
      // container-relative order keeps inner events sequenced between the
      // container's neighbors (every container is < 1000 events here)
      .select((col("pos") * 1000 + col("ord")).as("pos"), col("event"),
        BinlogWire.binlog_header(col("event")).getField("event_type").as("tpe"))

    val maps = flat.filter(col("tpe") === 19)
      .select(BinlogRows.binlog_table(col("event")).getField("table_id").as("table_id"),
        BinlogRows.binlog_table(col("event")).getField("tbl").as("tbl"),
        col("pos").as("map_pos"), col("event").as("tm"))
    val rows = flat.filter(col("tpe").isin(30, 31, 32))
      .select(col("event"), col("pos"), col("tpe"),
        BinlogWire.binlog_header(col("event")).getField("ts_sec").as("ts_sec"))
      .withColumn("table_id", BinlogRows.binlog_table_id(col("event")))
      .join(maps, "table_id")
      .filter(col("map_pos") < col("pos"))
      .groupBy(col("pos"), col("event"), col("tpe"), col("ts_sec"), col("table_id"))
      .agg(max_by(struct(col("tm"), col("tbl")), col("map_pos")).as("m"))
      .select(col("event"), col("tpe"), col("ts_sec"),
        col("m.tm").as("tm"), col("m.tbl").as("table"))

    val mapSchema = MapType(StringType, StringType)
    val changes = rows
      .select(col("table"), col("tpe"), col("ts_sec"),
        explode(BinlogRows.binlog_rows_json(col("event"), col("tm"))).as("chg"))
      .select(
        col("table"),
        when(col("tpe") === 30, "insert").when(col("tpe") === 31, "update")
          .otherwise("delete").as("op"),
        from_json(get_json_object(col("chg"), "$.before"), mapSchema).as("before"),
        from_json(get_json_object(col("chg"), "$.after"), mapSchema).as("after"),
        timestamp_seconds(col("ts_sec")).as("ts"))

    val out = CdcPipeline.transform(changes, CdcConfig(Map("orders" -> "grp_sales")))
      .select("table", "op", "payload").orderBy("op", "payload").collect()
    assert(out.length == 3, out.mkString("\n")) // 2 inserts + 1 update, audit unrouted
    val inserts = out.filter(_.getString(1) == "insert").map(_.getString(2))
    assert(inserts.exists(p => p.contains("apple") && p.contains(""""before":null""")))
    assert(inserts.exists(_.contains("pear")))
    assert(out.filter(_.getString(1) == "update").head.getString(2).contains("banana"))
  }
}
