package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite

/** Tier C — streaming semantics with no batch oracle (SURVEY.md §2.6):
  * batch/stream plan equivalence for the CDC transform, watermarked
  * replay-dedup, windowed aggregation equivalence, and the dual-sink
  * delivery topology against an in-process HTTP capture server
  * (the `logger/logger.go` fixture).
  */
case class ChangeEvent(
    table: String, op: String,
    before: Map[String, String], after: Map[String, String],
    ts: Timestamp)

class StreamingSpec extends SparkSuite {

  private val cfg = CdcConfig(Map("orders" -> "grp_sales", "customer" -> "grp_dim"))

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  private val fixture = Seq(
    ChangeEvent("orders", "insert", null, Map("id" -> "1", "total" -> "10.5"), ts(0)),
    ChangeEvent("orders", "update", Map("id" -> "1", "total" -> "10.5"),
      Map("id" -> "1", "total" -> "12.0"), ts(1)),
    ChangeEvent("orders", "delete", Map("id" -> "1", "total" -> "12.0"), null, ts(2)),
    ChangeEvent("customer", "insert", null, Map("id" -> "7"), ts(3)),
    ChangeEvent("unrouted_table", "insert", null, Map("id" -> "9"), ts(4)))

  test("CDC transform: batch semantics (filters, routing, envelope JSON)") {
    import spark.implicits._
    val out = CdcPipeline.transform(fixture.toDF(), cfg)
      .select("table", "op", "group", "payload").collect()
    // delete dropped (H2), unrouted dropped (R4) → 3 rows
    assert(out.length == 3)
    val byOp = out.map(r => (r.getString(0), r.getString(1))).toSeq
    assert(!byOp.exists(_._2 == "delete"))
    assert(!byOp.exists(_._1 == "unrouted_table"))
    val insertPayload = out.find(r => r.getString(0) == "orders" && r.getString(1) == "insert")
      .get.getString(3)
    assert(insertPayload ==
      """{"before":null,"after":{"id":"1","total":"10.5"},"source":{"table":"orders"}}""")
    val updatePayload = out.find(r => r.getString(1) == "update").get.getString(3)
    assert(updatePayload.startsWith("""{"before":{"id":"1","total":"10.5"}"""))
  }

  test("fixed mode keeps delete envelopes (H2 fixed)") {
    import spark.implicits._
    val out = CdcPipeline.transform(fixture.toDF(), cfg.copy(keepDeletes = true))
    assert(out.filter(col("op") === "delete").count() == 1)
  }

  test("stream transform ≡ batch transform on the same input") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ChangeEvent]
    mem.addData(fixture: _*)
    val q = CdcPipeline.transform(mem.toDF(), cfg)
      .writeStream.format("memory").queryName("cdc_stream_eq")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("cdc_stream_eq")
      .select("table", "op", "group", "payload").collect().toSet
    val batch = CdcPipeline.transform(fixture.toDF(), cfg)
      .select("table", "op", "group", "payload").collect().toSet
    assert(streamed == batch && streamed.size == 3)
  }

  test("dropDuplicatesWithinWatermark collapses at-least-once replay (H3)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ChangeEvent]
    val dup = fixture ++ fixture // simulate replay
    mem.addData(dup: _*)
    val deduped = CdcPipeline.dedupWithinWatermark(
      CdcPipeline.transform(mem.toDF(), cfg), "payload", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("cdc_dedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("cdc_dedup").count() == 3)
  }

  test("streaming tumbling window agg ≡ batch (complete mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ChangeEvent]
    mem.addData(fixture: _*)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(window(col("ts"), "2 seconds"), col("table"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("ws"), col("table"), col("n"))
    val q = agg(mem.toDF()).writeStream.format("memory").queryName("win_eq")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("win_eq").collect().toSet == agg(fixture.toDF()).collect().toSet)
  }

  test("dual sink delivers to HTTP (routed path) AND queue; H4 faithful mode ignores 500s") {
    import spark.implicits._
    val server = new DebugSink
    val qdir = Files.createTempDirectory("graft_dual_queue").toString
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[ChangeEvent]
      mem.addData(fixture: _*)
      val env = CdcPipeline.transform(mem.toDF(), cfg)
      val ckpt = Files.createTempDirectory("graft_ckpt").toString
      Sinks.runToCompletion(Sinks.dualSink(env, server.url, ckpt, q = FileQueue(qdir)))
      // HTTP path: 3 deliveries, path = /<group> (`main.go:105`)
      val posts = server.captured.toArray(Array.empty[server.Captured])
      assert(posts.length == 3)
      assert(posts.map(_.path).toSet == Set("/grp_sales", "/grp_dim"))
      assert(posts.forall(_.method == "POST"))
      assert(posts.forall(_.body.contains(""""source":{"table":""")))
      // queue path: same 3 payloads (H3: ≥2 deliveries per event)
      assert(FileQueue(qdir).pending == 3)

      // H4: a 500 response still counts as delivered in faithful mode
      server.respondStatus = 500
      assert(Sinks.post(server.url, "g", "{}", checkStatus = false))
      assert(!Sinks.post(server.url, "g", "{}", checkStatus = true))
      server.respondStatus = 200

      // R15: the queue-drain second pipeline re-POSTs everything queued,
      // re-resolving the group from the payload (at-least-once ×2, H3)
      val before = server.captured.size
      val drained = Sinks.drainQueue(server.url, cfg.tableToGroup, q = FileQueue(qdir))
      assert(drained == 3 && FileQueue(qdir).pending == 0)
      assert(server.captured.size == before + 3)
    } finally server.stop()
  }

  test("watermark drops late data behind the watermark (append window agg)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ChangeEvent]
    val agg = mem.toDF()
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "10 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("late_drop")
      .outputMode("append").start()
    try {
      // batch 1: events at t=0..5s, then t=100s → watermark advances to 95s,
      // closing (and emitting) the first window
      mem.addData(ev("orders", 0), ev("orders", 5), ev("orders", 100))
      q.processAllAvailable()
      // batch 2: a LATE event at t=3s — behind the watermark, must be dropped
      mem.addData(ev("orders", 3))
      q.processAllAvailable()
      mem.addData(ev("orders", 200)) // close remaining windows
      q.processAllAvailable()
      val rows = spark.table("late_drop").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // first window holds exactly the 2 on-time events; the late one is gone
      assert(rows(1700000000L) == 2, rows.toString)
    } finally q.stop()
  }

  private def ev(table: String, offsetS: Long): ChangeEvent =
    ChangeEvent(table, "insert", null, Map("id" -> offsetS.toString),
      new Timestamp(1700000000000L + offsetS * 1000))

  test("typedView projects one table's after-images into typed columns") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val env = CdcPipeline.transform(fixture.toDF(), cfg)
    val typed = CdcPipeline.typedView(env, "orders",
      StructType(Seq(StructField("id", LongType), StructField("total", DoubleType))))
    assert(typed.schema.map(f => (f.name, f.dataType)) ==
      Seq(("id", LongType), ("total", DoubleType)))
    val rows = typed.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    assert(rows.toSeq == Seq((1L, 10.5), (1L, 12.0))) // insert + update image
  }

  test("observe() metrics ride the transform (R20 without per-row logging)") {
    import spark.implicits._
    val obs = new org.apache.spark.sql.Observation("cdc_metrics")
    CdcPipeline.observed(
      CdcPipeline.transform(fixture.toDF(), cfg), obs).collect()
    val m = obs.get
    assert(m("n_events") == 3L)
    assert(m("n_inserts") == 2L)
    assert(m("n_updates") == 1L)
  }
}
