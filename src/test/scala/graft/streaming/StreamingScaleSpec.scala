package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardOpenOption}

import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSuite, Tables}
import graft.ops.CdcQueries

/** Tier C at scale: the full topology (custom DSv2 source → transform →
  * dual sink with real HTTP) over 10k events from the sf0.01 testdata,
  * a continuous tail picking up appends across micro-batches, and
  * empty-input robustness.
  */
class StreamingScaleSpec extends SparkSuite {

  private val cfg = CdcConfig(CdcQueries.tableToGroup)

  test("10k-event change log through source→transform→dual sink with real HTTP") {
    import org.apache.spark.sql.functions._
    // serialize the sf0.01 events table as a change log (event_type = table)
    val lines = Tables.events(spark, "/root/testdata/sf0.01")
      .select(to_json(struct(
        col("event_type").as("table"),
        lit("insert").as("op"),
        map(lit("event_id"), col("event_id").cast("string"),
          lit("value"), col("value").cast("string")).as("after"),
        col("ts"))).as("line"))
      .limit(10000)
      .collect().map(_.getString(0))
    val log = Files.createTempFile("cdc_scale_log", ".jsonl")
    Files.write(log, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))

    val expected = lines.count { l =>
      CdcQueries.tableToGroup.keys.exists(t => l.contains(s""""table":"$t""""))
    }
    val sink = new DebugSink
    val qdir = Files.createTempDirectory("cdc_scale_queue").toString
    try {
      val src = spark.readStream.format(classOf[graft.sources.CdcFileSource].getName)
        .option("path", log.toString).load()
      val env = CdcPipeline.transform(CdcPipeline.parseLines(src), cfg)
      val ckpt = Files.createTempDirectory("cdc_scale_ckpt").toString
      val t0 = System.nanoTime()
      Sinks.runToCompletion(Sinks.dualSink(env, sink.url, ckpt, q = FileQueue(qdir)))
      val sec = (System.nanoTime() - t0) / 1e9
      info(f"delivered ${sink.captured.size} events in $sec%.1fs " +
        f"(${sink.captured.size / sec}%.0f events/s incl. engine overhead)")
      assert(sink.captured.size == expected, s"expected $expected")
      assert(FileQueue(qdir).pending == expected)
      // every delivery hit a routed path
      val paths = sink.captured.toArray(Array.empty[sink.Captured]).map(_.path).toSet
      assert(paths.subsetOf(Set("/grp_engage", "/grp_convert")), paths.toString)
    } finally sink.stop()
  }

  test("10k events through the DURABLE queue: segment enqueue + streaming drain") {
    import org.apache.spark.sql.functions._
    val lines = Tables.events(spark, "/root/testdata/sf0.01")
      .select(to_json(struct(
        col("event_type").as("table"),
        lit("insert").as("op"),
        map(lit("event_id"), col("event_id").cast("string")).as("after"),
        col("ts"))).as("line"))
      .limit(10000)
      .collect().map(_.getString(0))
    val log = Files.createTempFile("cdc_dq_log", ".jsonl")
    Files.write(log, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    val expected = lines.count { l =>
      CdcQueries.tableToGroup.keys.exists(t => l.contains(s""""table":"$t""""))
    }
    val sink = new DebugSink
    val qdir = Files.createTempDirectory("cdc_dq_queue").toString
    try {
      val src = spark.readStream.format(classOf[graft.sources.CdcFileSource].getName)
        .option("path", log.toString).load()
      val env = CdcPipeline.transform(CdcPipeline.parseLines(src), cfg)
      val ckpt = Files.createTempDirectory("cdc_dq_ckpt").toString
      val t0 = System.nanoTime()
      Sinks.runToCompletion(Sinks.dualSink(env, sink.url, ckpt, q = FileQueue(qdir)))
      assert(FileQueue(qdir).pending == expected)

      // drain leg: the segments as a streaming source, counted not POSTed
      // (the HTTP leg above already measured delivery)
      val drained = new java.util.concurrent.atomic.AtomicLong()
      val ckpt2 = Files.createTempDirectory("cdc_dq_drain_ckpt").toString
      val dq = Sinks.queueStream(spark, qdir).writeStream
        .option("checkpointLocation", ckpt2)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          drained.addAndGet(b.count()); ()
        }.start()
      dq.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      info(f"enqueued+drained $expected events through file segments in $sec%.1fs")
      assert(drained.get() == expected)
    } finally sink.stop()
  }

  test("continuous tail: appended lines arrive in later micro-batches") {
    val log = Files.createTempFile("cdc_tail_log", ".jsonl")
    def line(id: Int) =
      s"""{"table":"click","op":"insert","after":{"id":"$id"},"ts":"2024-01-01T00:00:00"}"""
    Files.writeString(log, line(1) + "\n")
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val src = spark.readStream.format(classOf[graft.sources.CdcFileSource].getName)
      .option("path", log.toString).load()
    val q = CdcPipeline.transform(CdcPipeline.parseLines(src), cfg)
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("cdc_tail_ckpt").toString)
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("payload").collect().foreach(r => received.add(r.getString(0))); ()
      }.start()
    try {
      q.processAllAvailable()
      assert(received.size == 1)
      Files.write(log, (line(2) + "\n" + line(3) + "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.APPEND)
      q.processAllAvailable()
      assert(received.size == 3, received.toString)
    } finally q.stop()
  }

  test("empty input: transform and sinks are no-ops, not failures") {
    val log = Files.createTempFile("cdc_empty_log", ".jsonl")
    val sink = new DebugSink
    val qdir = Files.createTempDirectory("cdc_empty_queue").toString
    try {
      val src = spark.readStream.format(classOf[graft.sources.CdcFileSource].getName)
        .option("path", log.toString).load()
      val env = CdcPipeline.transform(CdcPipeline.parseLines(src), cfg)
      val ckpt = Files.createTempDirectory("cdc_empty_ckpt").toString
      Sinks.runToCompletion(Sinks.dualSink(env, sink.url, ckpt, q = FileQueue(qdir)))
      assert(sink.captured.isEmpty && FileQueue(qdir).pending == 0)
    } finally sink.stop()
  }
}
