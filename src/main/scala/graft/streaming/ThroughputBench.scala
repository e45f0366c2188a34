package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.CdcQueries

/** CDC-path throughput benchmark: events/sec through the full
  * route→filter→envelope transform, and through real HTTP delivery to the
  * in-process DebugSink. The reference's ceiling is one synchronous POST
  * per event per path (`main.go:107` — throughput ≈ 1/RTT); this prints
  * both the transform-only rate (the engine's own cost) and the delivered
  * rate against a localhost sink for comparison.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1
  *       sbt "runMain graft.streaming.ThroughputBench"`
  */
object ThroughputBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = Tables.sessionBuilder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // events table as the change stream: event_type plays the table/routing
    // key (FIXTURES.md §3), payload = the full row as the after image
    val cfg = CdcConfig(CdcQueries.tableToGroup)
    def changeStream = Tables.events(spark, sfDir)
      .select(
        col("event_type").as("table"),
        lit("insert").as("op"),
        graft.cdc.Envelope.nullBefore.as("before"),
        map(
          lit("event_id"), col("event_id").cast("string"),
          lit("user_id"), col("user_id").cast("string"),
          lit("value"), col("value").cast("string")).as("after"),
        col("ts"))

    val n = changeStream.count()
    // warmup
    CdcPipeline.transform(changeStream, cfg).write.mode("overwrite").format("noop").save()

    val t0 = System.nanoTime()
    CdcPipeline.transform(changeStream, cfg).write.mode("overwrite").format("noop").save()
    val transformSec = (System.nanoTime() - t0) / 1e9

    // delivered throughput against a real localhost HTTP sink
    val sink = new DebugSink
    val deliverN = math.min(n, 20000L)
    val batch = CdcPipeline.transform(changeStream.limit(deliverN.toInt), cfg).persist()
    batch.count()
    val t1 = System.nanoTime()
    Sinks.httpDeliverBatch(batch, sink.url, checkStatus = false)
    val deliverSec = (System.nanoTime() - t1) / 1e9
    val delivered = sink.captured.size
    sink.stop()
    batch.unpersist()

    // DriftMonitor throughput (r13, ADVICE #4 close-out): the full events
    // table streamed through the stateful KS monitor in 20 micro-batches —
    // measures the array-backed histogram merge + precomputed-CDF KS walk
    // per touching batch, the state churn the r12 advisor flagged.
    val (driftN, driftSec) = driftThroughput(spark, sfDir)

    println(
      s"""{"transform_events":$n,"transform_sec":$transformSec,""" +
        s""""transform_eps":${(n / transformSec).toLong},""" +
        s""""delivered":$delivered,"deliver_sec":$deliverSec,""" +
        s""""deliver_eps":${(delivered / deliverSec).toLong},""" +
        s""""drift_events":$driftN,"drift_sec":$driftSec,""" +
        s""""drift_eps":${(driftN / driftSec).toLong}}""")
    spark.stop()
  }

  /** Events/sec through [[DriftMonitor.monitor]]: every event as an
    * (event_type, cents) observation, reference = the purchase-arm
    * histogram (the StreamingDriftSpec topology), 20 micro-batches via
    * MemoryStream. Returns (events, seconds) excluding setup.
    */
  private def driftThroughput(spark: SparkSession, sfDir: String): (Long, Double) = {
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .collect()
    val obs = rows.map(r =>
      DriftMonitor.Obs(r.getString(0), r.getLong(1)))
    val ref = obs.filter(_.arm == "purchase").groupBy(_.cents).view
      .mapValues(_.length.toLong).toMap
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DriftMonitor.Obs]
    val q = DriftMonitor.monitor(mem.toDS(), ref)
      .writeStream.outputMode("append").format("noop").start()
    val t0 = System.nanoTime()
    try {
      obs.grouped(math.max(1, obs.length / 20)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    (obs.length.toLong, (System.nanoTime() - t0) / 1e9)
  }
}
