package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.Tables

/** End-to-end demo of the CDC delivery topology (the reference's full
  * pipeline, `main.go:50-113`): memory change stream → route/filter/envelope
  * → dual sink (HTTP POST per routed group + queue), delivered against the
  * in-process DebugSink. Prints every captured POST. Run:
  * `sbt "runMain graft.streaming.Demo"`.
  */
object Demo {
  final case class Change(
      table: String, op: String,
      before: Map[String, String], after: Map[String, String],
      ts: Timestamp)

  def main(args: Array[String]): Unit = {
    val spark = Tables.sessionBuilder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val cfg = CdcConfig(Map("orders" -> "grp_sales", "customer" -> "grp_dim"))
    val sink = new DebugSink
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Change]
      def t(s: Long) = new Timestamp(1700000000000L + s * 1000)
      mem.addData(
        Change("orders", "insert", null, Map("id" -> "1", "total" -> "10.5"), t(0)),
        Change("orders", "update", Map("id" -> "1", "total" -> "10.5"),
          Map("id" -> "1", "total" -> "12.0"), t(1)),
        Change("orders", "delete", Map("id" -> "1"), null, t(2)), // dropped (H2)
        Change("customer", "insert", null, Map("id" -> "7"), t(3)),
        Change("untracked", "insert", null, Map("id" -> "9"), t(4))) // unrouted → dropped

      val env = CdcPipeline.transform(mem.toDF(), cfg)
      val ckpt = Files.createTempDirectory("graft_demo_ckpt").toString
      Sinks.runToCompletion(Sinks.dualSink(env, sink.url, ckpt))

      println(s"delivered=${sink.captured.size} queued=${Sinks.queue.size}")
      sink.captured.forEach(c => println(s"${c.method} ${c.path} ${c.body}"))

      // the full reference topology through the custom DSv2 source: tail an
      // append-only change log, transform, deliver — with the DURABLE queue
      // (the reference's Redis list) and the dual-written position mirror
      val log = Files.createTempFile("demo_cdc_log", ".jsonl")
      Files.writeString(log,
        """{"table":"orders","op":"insert","after":{"id":"10"},"ts":"2024-01-01T00:00:00"}
          |{"table":"orders","op":"delete","after":{"id":"10"},"ts":"2024-01-01T00:00:01"}
          |{"table":"customer","op":"insert","after":{"id":"11"},"ts":"2024-01-01T00:00:02"}
          |""".stripMargin)
      val posDir = Files.createTempDirectory("graft_demo_pos")
      // The default pipeline path is transformPrefiltered: the route/action
      // guard is applied BEFORE the JSON decode, and — because Spark's
      // micro-batch planner never invokes DSv2 pushFilters — the streaming
      // source takes the same guard via the opt-in guardTables/guardOps
      // options (compact-JSON wire format; the exact post-parse filters
      // still re-check every survivor).
      val src = spark.readStream.format(classOf[graft.sources.CdcFileSource].getName)
        .option("path", log.toString)
        .option("positionDir", posDir.toString)
        .option("guardTables", cfg.tableToGroup.keys.toSeq.sorted.mkString(","))
        .option("guardOps", cfg.keptOps.mkString(","))
        .load()
      val qdir = Files.createTempDirectory("graft_demo_queue").toString
      val ckpt2 = Files.createTempDirectory("graft_demo_src_ckpt").toString
      Sinks.runToCompletion(Sinks.dualSink(
        CdcPipeline.transformPrefiltered(src, cfg), sink.url, ckpt2,
        q = FileQueue(qdir)))
      println(s"file-source delivered total=${sink.captured.size} " +
        s"durable-queued=${FileQueue(qdir).pending}")

      // batch over the same log: here the guard needs no option — it lands
      // in the scan's PushedFilters via SupportsPushDownFilters; print the
      // scan description as proof the source, not the query, skips lines
      val batchRaw = spark.read.format(classOf[graft.sources.CdcFileSource].getName)
        .option("path", log.toString).load()
      CdcPipeline.transformPrefiltered(batchRaw, cfg).queryExecution.executedPlan
        .collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            println(s"batch scan: ${b.scan.description()}")
        }

      // "process restart": a fresh handle (config only) drains what the
      // durable queue holds — the second delivery leg, as a STREAMING query
      // over the segment files (R15, Spark-native)
      val ckpt3 = Files.createTempDirectory("graft_demo_drain_ckpt").toString
      val drain = Sinks.queueStream(spark, qdir).writeStream
        .option("checkpointLocation", ckpt3)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          Sinks.httpDeliverBatch(batch, sink.url, checkStatus = false); ()
        }.start()
      drain.awaitTermination()
      println(s"after queue drain delivered total=${sink.captured.size}")

      // rotating file set (the reference's real binlog shape: {name, pos}
      // over mysql-bin.000001, 000002, ...): both files drain in order
      val logDir = Files.createTempDirectory("demo_cdc_logs")
      Files.writeString(logDir.resolve("log.000001.jsonl"),
        """{"table":"orders","op":"insert","after":{"id":"20"},"ts":"2024-01-01T00:00:03"}
          |""".stripMargin)
      Files.writeString(logDir.resolve("log.000002.jsonl"),
        """{"table":"orders","op":"insert","after":{"id":"21"},"ts":"2024-01-01T00:00:04"}
          |{"table":"customer","op":"insert","after":{"id":"22"},"ts":"2024-01-01T00:00:05"}
          |""".stripMargin)
      val dirSrc = spark.readStream.format(classOf[graft.sources.CdcLogDirSource].getName)
        .option("path", logDir.toString)
        .option("guardTables", cfg.tableToGroup.keys.toSeq.sorted.mkString(","))
        .option("guardOps", cfg.keptOps.mkString(","))
        .load()
      val ckpt4 = Files.createTempDirectory("graft_demo_dir_ckpt").toString
      Sinks.runToCompletion(Sinks.dualSink(
        CdcPipeline.transformPrefiltered(dirSrc, cfg), sink.url, ckpt4))
      println(s"rotating-set delivered total=${sink.captured.size}")

      // RAW WIRE BYTES (the reference's actual input): a binlog-format file
      // — magic, TABLE_MAP, WRITE_ROWS packed per the public v4 layout —
      // streamed by CdcBinlogFileSource, row images decoded and paired with
      // their TABLE_MAP, then the UNCHANGED transform + delivery
      {
        import org.apache.spark.sql.functions.{broadcast, col, explode, from_json, get_json_object, lit, timestamp_seconds}
        import graft.functions.{BinlogRows, BinlogWire}
        def le(n: Int, v: Long): Array[Byte] =
          (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
        def ev(tpe: Int, body: Array[Byte]): Array[Byte] =
          le(4, 1700000000L) ++ Array(tpe.toByte) ++ le(4, 1L) ++
            le(4, 19L + body.length) ++ le(4, 0L) ++ le(2, 0L) ++ body
        val tm = ev(19, le(6, 42L) ++ le(2, 1L) ++
          (Array(2.toByte) ++ "db".getBytes ++ Array(0.toByte)) ++
          (Array(6.toByte) ++ "orders".getBytes ++ Array(0.toByte)) ++
          Array(1.toByte, 3.toByte) ++ Array(0.toByte, 0.toByte)) // 1 LONG col
        val wr = ev(30, le(6, 42L) ++ le(2, 0L) ++ le(2, 2L) ++
          Array(1.toByte, 1.toByte) ++ // 1 col, present bitmap
          Array(0.toByte) ++ le(4, 30L)) // null bitmap + id=30
        val binlog = Files.createTempFile("demo_binlog", ".bin")
        Files.write(binlog, Array[Byte](0xfe.toByte, 'b', 'i', 'n') ++ tm ++ wr)
        val braw = spark.readStream
          .format(classOf[graft.sources.CdcBinlogFileSource].getName)
          .option("path", binlog.toString).load()
        val tms = spark.read
          .format(classOf[graft.sources.CdcBinlogFileSource].getName)
          .option("path", binlog.toString).load()
          .select(BinlogRows.binlog_table_id(col("event")).as("table_id"),
            BinlogRows.binlog_table(col("event")).getField("tbl").as("table"),
            col("event").as("tm"))
          .filter(BinlogWire.binlog_header(col("event")).getField("event_type") === 19)
        val mapT = org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType)
        val changes = braw
          .filter(BinlogWire.binlog_header(col("event")).getField("event_type") === 30)
          .withColumn("table_id", BinlogRows.binlog_table_id(col("event")))
          .join(broadcast(tms), "table_id")
          .select(col("table"), lit("insert").as("op"),
            explode(BinlogRows.binlog_rows_json(col("event"), col("tm"))).as("chg"),
            timestamp_seconds(
              BinlogWire.binlog_header(col("event")).getField("ts_sec")).as("ts"))
          .select(col("table"), col("op"),
            from_json(get_json_object(col("chg"), "$.before"), mapT).as("before"),
            from_json(get_json_object(col("chg"), "$.after"), mapT).as("after"), col("ts"))
        val ckpt5 = Files.createTempDirectory("graft_demo_binlog_ckpt").toString
        Sinks.runToCompletion(Sinks.dualSink(
          CdcPipeline.transform(changes, cfg), sink.url, ckpt5))
        println(s"binlog-wire delivered total=${sink.captured.size}")
      }

      // custom keyed state: flatMapGroupsWithState sessionization
      val sess = MemoryStream[Sessionize.Event]
      sess.addData(
        Sessionize.Event(1, t(0), 1.0), Sessionize.Event(1, t(10), 2.0),
        Sessionize.Event(1, t(310), 4.0), Sessionize.Event(2, t(0), 8.0))
      val sq = Sessionize.sessions(
          sess.toDS().withWatermark("ts", "0 seconds"), gapMs = 60000L)
        .writeStream.format("memory").queryName("demo_sessions")
        .outputMode("append").start()
      sq.processAllAvailable()
      sq.stop()
      spark.table("demo_sessions").collect()
        .foreach(r => println(s"session: $r"))

      // event-time temporal enrichment: the purchase stream picks up the
      // latest dimension value as-of its timestamp, even though the
      // update arrives in a later micro-batch
      val probes = MemoryStream[TemporalJoin.Probe]
      val updates = MemoryStream[TemporalJoin.Update]
      val tq = TemporalJoin.join(probes.toDS(), updates.toDS())
        .writeStream.format("memory").queryName("demo_temporal")
        .outputMode("append").start()
      probes.addData(TemporalJoin.Probe("widget", t(10), 1))
      tq.processAllAvailable()
      updates.addData(TemporalJoin.Update("widget", t(5), 19.99))
      tq.processAllAvailable()
      probes.addData(TemporalJoin.Probe("widget", t(60), 2))
      updates.addData(TemporalJoin.Update("widget", t(60), 24.99))
      tq.processAllAvailable()
      probes.addData(TemporalJoin.Probe("widget", t(61), 3))
      tq.processAllAvailable()
      tq.stop()
      spark.table("demo_temporal").collect()
        .foreach(r => println(s"temporal: $r"))

      // ingest-side streaming dedup: exact copies collapse in-window
      val docs = MemoryStream[StreamingDedup.Doc]
      val dq = StreamingDedup.exact(docs.toDS(), "60 seconds")
        .writeStream.format("memory").queryName("demo_dedup")
        .outputMode("append").start()
      docs.addData(
        StreamingDedup.Doc(1, t(0), "same text"),
        StreamingDedup.Doc(2, t(1), "same text"),
        StreamingDedup.Doc(3, t(2), "other text"))
      dq.processAllAvailable()
      dq.stop()
      println(s"stream-dedup survivors=${spark.table("demo_dedup").count()} of 3")

      // custom-function SQL surface
      graft.functions.GraftExtensions.register(spark)
      spark.sql(
        """SELECT strict_base64_decode('aGVsbG8=') AS dec,
          |       simhash64(array('a','b')) AS fp,
          |       vector_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp""".stripMargin)
        .collect().foreach(r => println(s"sql-surface: $r"))
    } finally {
      sink.stop()
      spark.stop()
    }
  }
}
