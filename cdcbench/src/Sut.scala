package cdcbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{LongType, MapType, StringType, StructField, StructType, BinaryType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}
import graft.functions.{BinlogRows, BinlogWire, GraftExtensions}
import graft.sources.{BinlogSpoolClient, CdcBinlogDirSource, ReplConfig}
import graft.streaming.{CdcConfig, CdcPipeline, FastHttp, FileQueue, Sinks}

/** The system under test, driven through the program's public API.
  *
  * `java ... cdcbench.Sut --workload <w> --work <dir> --seconds <s>
  *   --trace <0|1> --cores <n> --sf <tables dir> --launch-us <µs>
  *   [--warmup <n>] [--url <receiver>] [--master <port>]
  *   [--queries a,b,c --reps <n>] --out <result.json>`
  *
  * Every run first sets up, and reports the time from `--launch-us`, the
  * wall-clock time at which the JVM was launched, to a session and the
  * workload's first plan.
  *
  * Workloads (inputs are written by `gen.py` before this starts):
  *  - `binlog_catchup`: rounds over the pre-written
  *    spool `<work>/spool`, each `Sinks.dualSink` as-is (AvailableNow) and
  *    then the queue drain (`Sinks.queueStream` → `Sinks.httpDeliverBatch`,
  *    wired as in `Demo`), until `--seconds` have passed;
  *  - `repl_open_loop`: `BinlogSpoolClient` tails the harness's master and a
  *    default-trigger query delivers the spool. `dualSink` hard-codes
  *    AvailableNow, so this query makes the calls `dualSink` makes itself:
  *    persist → `httpDeliverBatch` → `queueDeliverBatch`;
  *  - `query_mix`: the listed `SparkEntry.queries`, rep-major: a first,
  *    untimed rep that writes each result once for the oracle check, then
  *    `--reps` timed reps.
  *
  * With `--trace 1` the same run also records spans around each call into
  * a layer and Spark's own listeners, and times cumulative pipeline
  * prefixes into the `noop` sink after the measured window.
  */
object Sut {

  val routes: Map[String, String] =
    Map("orders" -> "grp_sales", "customer" -> "grp_dim", "events" -> "grp_events")
  private val dirSource = classOf[CdcBinlogDirSource].getName
  private val mapT = MapType(StringType, StringType)
  private val tmSchema = StructType(Seq(StructField("table_id", LongType),
    StructField("table", StringType), StructField("tm", BinaryType)))

  def nowUs(): Long = Harness.nowUs()

  // ------------------------------------------------------------ results
  private val out = mutable.LinkedHashMap.empty[String, String]
  private def put(k: String, v: Double): Unit = out(k) = if (v.isNaN || v.isInfinite) "null" else v.toString
  private def putArr(k: String, vs: Iterable[Double]): Unit = out(k) = vs.mkString("[", ",", "]")

  // ------------------------------------------------------------ tracing
  final case class Span(layer: String, startUs: Long, endUs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var traced = false
  def span[T](layer: String)(f: => T): T =
    if (!traced) f
    else {
      val s = nowUs()
      try f finally spans.synchronized { spans += Span(layer, s, nowUs()) }
    }
  private def spanSum(layer: String): Double = {
    val picked = spans.synchronized(spans.filter(_.layer == layer).toVector)
    picked.map(s => s.endUs - s.startUs).sum / 1e6
  }

  final class SparkStats extends SparkListener {
    val jobs, stages, tasks, runMs, cpuNs, shuffle, spill, gcMs = new AtomicLong
    def reset(): Unit = Seq(jobs, stages, tasks, runMs, cpuNs, shuffle, spill, gcMs).foreach(_.set(0))
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime); cpuNs.addAndGet(m.executorCpuTime)
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }

  final class PlanStats extends QueryExecutionListener {
    val ms = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    def reset(): Unit = ms.clear()
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      qe.tracker.phases.foreach { case (p, s) => ms.merge(p, s.durationMs, (a, b) => a + b) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    def sec(p: String): Double = Option(ms.get(p)).map(_.toDouble).getOrElse(0.0) / 1e3
  }

  final class BatchStats(spool: Option[String]) extends StreamingQueryListener {
    val durations = mutable.Map.empty[String, ArrayBuffer[Double]]
    val rows = ArrayBuffer.empty[Double]
    val behind = ArrayBuffer.empty[Double]
    def reset(): Unit = synchronized { durations.clear(); rows.clear(); behind.clear() }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      rows += p.numInputRows.toDouble
      p.durationMs.asScala.foreach { case (k, v) =>
        durations.getOrElseUpdate(k, ArrayBuffer.empty) += v.toDouble }
      spool.foreach { dir =>
        p.sources.headOption.filter(_.description.contains("cdc-binlogdir"))
          .map(_.endOffset).filter(_ != null).foreach { off =>
          val name = """"name":"([^"]*)"""".r.findFirstMatchIn(off).map(_.group(1)).getOrElse("")
          val pos = """"pos":(\d+)""".r.findFirstMatchIn(off).map(_.group(1).toLong).getOrElse(0L)
          behind += headBytesAfter(dir, name, pos).toDouble
        }
      }
    }
  }

  /** Spool bytes past `{name, pos}`: what the source had not yet read. */
  def headBytesAfter(dir: String, name: String, pos: Long): Long =
    graft.sources.CdcLogDirSource.listLogs(dir).map { f =>
      val size = Files.size(Paths.get(dir, f))
      if (f > name) size - 4 else if (f == name) math.max(0L, size - pos) else 0L
    }.sum

  // ------------------------------------------------------------ session
  def session(cores: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(s)
    s
  }

  /** ROWS events → (table, op, before, after, ts), each paired with its
    * TABLE_MAP through a broadcast of the known maps, as `Demo` does.
    */
  def changes(raw: DataFrame, tms: DataFrame): DataFrame =
    raw.withColumn("tpe", BinlogWire.binlog_header(col("event")).getField("event_type"))
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

  val cfg: CdcConfig = CdcConfig(routes)

  def envelopes(raw: DataFrame, tms: DataFrame): DataFrame =
    CdcPipeline.transform(changes(raw, tms), cfg)

  /** The TABLE_MAPs of the spool's first file (the schema preamble). */
  def tableMaps(spark: SparkSession, spool: String): DataFrame = {
    val first = graft.sources.CdcLogDirSource.listLogs(spool).headOption
    val rows = first.toSeq.flatMap { f =>
      spark.read.format(dirSource).option("path", spool).load()
        .filter(col("file") === f)
        .filter(BinlogWire.binlog_header(col("event")).getField("event_type") === 19)
        .select(BinlogRows.binlog_table_id(col("event")).as("table_id"),
          BinlogRows.binlog_table(col("event")).getField("tbl").as("table"),
          col("event").as("tm"))
        .collect().toSeq
    }
    val distinct = rows.groupBy(_.getLong(0)).values.map(_.head).toSeq
    spark.createDataFrame(distinct.asJava, tmSchema)
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val work = o("work")
    val seconds = o("seconds").toDouble
    val url = o.getOrElse("url", "")
    traced = o("trace") == "1"
    cores = o("cores").toInt
    val spool = s"$work/spool"
    Files.createDirectories(Paths.get(spool))

    // ---- set-up: JVM launch → session + first plan
    val queries = o.get("queries").map(_.split(",").toSeq).getOrElse(Nil)
    val spark = session(cores)
    if (workload == "query_mix") SparkEntry.queries(queries.head)(spark, o("sf")).queryExecution.executedPlan
    else envelopes(spark.read.format(dirSource).option("path", spool).load(),
      tableMaps(spark, spool)).queryExecution.executedPlan
    put("setup_s", (nowUs() - o("launch-us").toLong) / 1e6)

    batchStats = new BatchStats(if (workload == "query_mix") None else Some(spool))
    if (traced) {
      spark.sparkContext.addSparkListener(sparkStats)
      spark.listenerManager.register(planStats)
      spark.streams.addListener(batchStats)
    }
    measure()
    workload match {
      case "binlog_catchup" => catchup(spark, spool, work, url, seconds, o("warmup").toInt)
      case "repl_open_loop" => openLoop(spark, spool, work, url, o("master").toInt)
      case "query_mix" => queryMix(spark, queries, o("sf"), work, o("reps").toInt)
    }
    put("peak_rss_mb", vmHwmMb())
    Files.writeString(Paths.get(o("out")), out.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    spark.stop()
    System.exit(0)
  }

  private val sparkStats = new SparkStats
  private val planStats = new PlanStats
  private var batchStats: BatchStats = _
  private var cgBefore = (0.0, 0.0)
  private var windowStartUs = 0L
  private var cores = 1

  /** Start the measured window: what came before (warm-up) is not traced. */
  def measure(): Unit = {
    Thread.sleep(if (traced) 500 else 0) // let the listener bus drain
    sparkStats.reset(); planStats.reset(); batchStats.reset()
    spans.synchronized(spans.clear())
    java.util.Arrays.fill(queueCounts, 0L)
    cgBefore = codegen()
    windowStartUs = nowUs()
  }

  /** End the measured window: write what the listeners and spans saw. */
  def endWindow(): Unit = {
    val wall = (nowUs() - windowStartUs) / 1e6
    put("wall_s", wall)
    if (traced) {
      Thread.sleep(1000) // let the listener bus drain
      val cg = codegen()
      put("codegen.compiles", cg._1 - cgBefore._1)
      put("codegen.compile_s", math.max(0.0, cg._2 - cgBefore._2))
      Seq("analysis", "optimization", "planning").foreach(p => put(s"plan.${p}_s", planStats.sec(p)))
      put("spark.jobs", sparkStats.jobs.get.toDouble)
      put("spark.stages", sparkStats.stages.get.toDouble)
      put("spark.tasks", sparkStats.tasks.get.toDouble)
      put("spark.task_run_s", sparkStats.runMs.get / 1e3)
      put("spark.task_cpu_s", sparkStats.cpuNs.get / 1e9)
      put("spark.busy", sparkStats.runMs.get / 1e3 / (wall * cores))
      put("spark.shuffle_bytes", sparkStats.shuffle.get.toDouble)
      put("spark.spill_bytes", sparkStats.spill.get.toDouble)
      put("spark.gc_s", sparkStats.gcMs.get / 1e3)
      batchStats.synchronized {
        put("microbatch.count", batchStats.rows.size.toDouble)
        putArr("microbatch.rows", batchStats.rows)
        batchStats.durations.foreach { case (k, v) => putArr(s"microbatch.$k", v) }
        putArr("scan.behind_head_bytes", batchStats.behind)
      }
      Seq("http", "queue", "drain", "compute").foreach(l => put(s"span.$l", spanSum(l)))
      Seq("items", "segments", "bytes").zip(queueCounts).foreach { case (k, v) =>
        put(s"queue.$k", v.toDouble) }
    }
  }

  /** (compiles, approximate compile seconds) so far in this JVM. */
  def codegen(): (Double, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount.toDouble, h.getCount * h.getSnapshot.getMean / 1e3)
  }

  def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def tempDir(work: String, name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  // ------------------------------------------------------------ catch-up
  def catchup(spark: SparkSession, spool: String, work: String, url: String,
      seconds: Double, warmupRounds: Int): Unit = {
    val tms = tableMaps(spark, spool).cache()
    tms.count()
    val starts = ArrayBuffer.empty[Double]
    val ends = ArrayBuffer.empty[Double]
    def round(name: String, dir: String): Unit = {
      val qdir = tempDir(work, s"queue-$name")
      val direct = s"$url/$name/direct"
      val start = nowUs()
      val src = spark.readStream.format(dirSource).option("path", dir).load()
      val env = envelopes(src, tms)
      if (!traced)
        Sinks.runToCompletion(Sinks.dualSink(env, direct, tempDir(work, s"ck-$name"),
          q = FileQueue(qdir)))
      else {
        // the calls dualSink makes, with a span around each
        val w = env.writeStream.option("checkpointLocation", tempDir(work, s"ck-$name"))
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val cached = batch.persist()
            try {
              span("compute")(cached.count())
              span("http")(Sinks.httpDeliverBatch(cached, direct, checkStatus = false))
              span("queue")(Sinks.queueDeliverBatch(cached, FileQueue(qdir)))
            } finally { cached.unpersist(); () }
          }
        Sinks.runToCompletion(w)
        queueStats(qdir)
      }
      drain(spark, qdir, s"$url/$name/drain", tempDir(work, s"ckd-$name"))
      starts += start.toDouble
      ends += nowUs().toDouble
    }

    // Warm-up rounds over a small spool of their own: the JIT speeds a
    // fresh JVM's rounds up for many rounds, mostly in the per-round work
    // (query start, planning, offset logs). Delivered and checked like
    // the rest, but not timed.
    (0 until warmupRounds).foreach(k => round(s"w$k", s"$work/warm/spool"))
    starts.clear(); ends.clear()
    measure()
    val t0 = nowUs()
    var k = 0
    while (k < 2 || nowUs() - t0 < seconds * 1e6) { round(s"r$k", spool); k += 1 }
    endWindow()
    putArr("round_start_us", starts)
    putArr("round_end_us", ends)
    if (traced) prefixes(spark, spool, tms, url, refBound = true)
  }

  private val queueCounts = Array(0L, 0L, 0L) // items, segments, bytes

  private def queueStats(qdir: String): Unit = {
    val segs = graft.sources.CdcLogDirSource.listLogs(qdir).filter(_.startsWith("q-"))
    queueCounts(0) += segs.map(s => Files.lines(Paths.get(qdir, s)).count()).sum
    queueCounts(1) += segs.size
    queueCounts(2) += segs.map(s => Files.size(Paths.get(qdir, s))).sum
  }

  /** The queue's second delivery leg, as in `Demo`. */
  def drain(spark: SparkSession, qdir: String, url: String, ckpt: String): Unit = {
    val q = Sinks.queueStream(spark, qdir).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        span("drain")(Sinks.httpDeliverBatch(batch, url, checkStatus = false)); ()
      }.start()
    q.awaitTermination()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timeNoop(df: => DataFrame, reps: Int = 3): Double =
    median((1 to reps).map { _ =>
      val t = nowUs()
      df.write.mode("overwrite").format("noop").save()
      (nowUs() - t) / 1e6
    })

  /** Cumulative prefixes of the in-plan layers into the `noop` sink over the
    * same spool; a layer's time is the difference of two prefixes. Then the
    * reference's delivery model: one synchronous POST per event per path on
    * one thread.
    */
  def prefixes(spark: SparkSession, spool: String, tms: DataFrame, url: String,
      refBound: Boolean): Unit = {
    def raw = spark.read.format(dirSource).option("path", spool).load()
    val pScan = timeNoop(raw)
    val pDecode = timeNoop(changes(raw, tms))
    val pTransform = timeNoop(envelopes(raw, tms))
    put("prefix.scan_s", pScan)
    put("prefix.decode_s", pDecode)
    put("prefix.transform_s", pTransform)
    put("scan.events", raw.count().toDouble)
    put("scan.partitions", raw.rdd.getNumPartitions.toDouble)
    put("scan.bytes", graft.sources.CdcLogDirSource.listLogs(spool)
      .map(f => Files.size(Paths.get(spool, f))).sum.toDouble)
    val decoded = changes(raw, tms).count()
    put("decode.rows", decoded.toDouble)
    val agg = envelopes(raw, tms).agg(count(lit(1)), sum(length(col("payload")))).head()
    put("transform.in", decoded.toDouble)
    put("transform.out", agg.getLong(0).toDouble)
    put("transform.bytes_out", agg.getLong(1).toDouble)
    if (refBound) {
      val kept = envelopes(raw, tms).select("group", "payload").collect()
      val t = nowUs()
      var i = 0
      while (i < kept.length && nowUs() - t < 2e6) {
        FastHttp.post(s"$url/ref/direct/${kept(i).getString(0)}", kept(i).getString(1))
        FastHttp.post(s"$url/ref/drain/${kept(i).getString(0)}", kept(i).getString(1))
        i += 1
      }
      FastHttp.closeAll()
      put("ref.kept_events", i.toDouble)
      put("ref.kept_total", kept.length.toDouble)
      put("ref.elapsed_s", (nowUs() - t) / 1e6)
    }
  }

  // ------------------------------------------------------------ open loop
  def openLoop(spark: SparkSession, spool: String, work: String, url: String,
      masterPort: Int): Unit = {
    val client = new BinlogSpoolClient(ReplConfig("127.0.0.1", masterPort, "bench"),
      Paths.get(spool))
    var spoolError: Throwable = null
    val tail = new Thread(() => try client.run() catch { case e: Throwable => spoolError = e },
      "spool-client")
    tail.start()
    // the master sends its schema preamble at connect
    var tms = tableMaps(spark, spool)
    val deadline = nowUs() + 30e6
    while (tms.count() < routes.size && nowUs() < deadline) {
      Thread.sleep(50)
      tms = tableMaps(spark, spool)
    }
    tms = tms.cache()
    tms.count()
    val qdir = tempDir(work, "queue-0")
    val direct = s"$url/r0/direct"
    val src = spark.readStream.format(dirSource).option("path", spool).load()
    val q = envelopes(src, tms).writeStream
      .option("checkpointLocation", tempDir(work, "ck-0"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val cached = batch.persist()
        try {
          if (traced) span("compute")(cached.count())
          span("http")(Sinks.httpDeliverBatch(cached, direct, checkStatus = false))
          span("queue")(Sinks.queueDeliverBatch(cached, FileQueue(qdir)))
        } finally { cached.unpersist(); () }
      }.start()
    q.processAllAvailable() // the preamble batch: the query is planned and running
    val watcher = if (traced) Some(new SpoolWatcher(spool)) else None
    val t0 = ctlStart(url)
    watcher.foreach(_.start(t0))
    put("t0_us", t0.toDouble)
    tail.join()
    if (spoolError != null) throw spoolError
    q.processAllAvailable()
    put("delivered_us", nowUs().toDouble)
    q.stop()
    if (traced) queueStats(qdir)
    endWindow()
    watcher.foreach { w =>
      w.stop()
      putArr("repl.lag_ms", w.lagMs)
      put("repl.events", w.events.toDouble)
      put("repl.bytes", w.bytes.toDouble)
    }
    drain(spark, qdir, s"$url/r0/drain", tempDir(work, "ckd-0"))
    if (traced) prefixes(spark, spool, tms, url, refBound = false)
  }

  private def ctlStart(url: String): Long = {
    val c = java.net.URI.create(s"$url/ctl/start").toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.getOutputStream.close()
    val body = new String(c.getInputStream.readAllBytes(), "UTF-8")
    c.disconnect()
    body.trim.toLong
  }

  /** Traced open-loop runs: watches the spool grow and stamps each ROWS
    * event's spool time against its due time (the first column of every
    * row image). Reads the spool files only, never the client.
    */
  final class SpoolWatcher(dir: String) {
    @volatile private var running = true
    private var t0 = 0L
    val lagMs = ArrayBuffer.empty[Double]
    var events = 0L
    var bytes = 0L
    private val offsets = mutable.Map.empty[String, Long]
    private val thread = new Thread(() => {
      while (running) { poll(); Thread.sleep(1) }
      poll()
    }, "spool-watcher")
    def start(t: Long): Unit = { t0 = t; thread.start() }
    def stop(): Unit = { running = false; thread.join() }
    private def poll(): Unit = {
      val now = nowUs()
      graft.sources.CdcLogDirSource.listLogs(dir).foreach { f =>
        val p = Paths.get(dir, f)
        val from = offsets.getOrElse(f, 4L)
        val size = Files.size(p)
        if (size > from) {
          val ch = java.nio.channels.FileChannel.open(p)
          val buf = java.nio.ByteBuffer.allocate((size - from).toInt)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          try { ch.position(from); while (buf.hasRemaining && ch.read(buf) >= 0) () }
          finally ch.close()
          var off = 0
          while (off + 19 <= buf.capacity && off + buf.getInt(off + 9) <= buf.capacity) {
            val len = buf.getInt(off + 9)
            val tpe = buf.get(off + 4) & 0xff
            events += 1
            if (tpe >= 30 && tpe <= 32) {
              val nCols = buf.get(off + 19 + 10) & 0xff
              val bm = (nCols + 7) / 8
              val img = off + 19 + 11 + bm * (if (tpe == 31) 2 else 1) + bm
              lagMs += (now - (t0 + buf.getLong(img))) / 1e3
            }
            off += len
          }
          bytes += off
          offsets(f) = from + off
        }
      }
    }
  }

  // ------------------------------------------------------------ query mix
  def queryMix(spark: SparkSession, queries: Seq[String], sf: String, work: String,
      reps: Int): Unit = {
    val times = mutable.LinkedHashMap(queries.map(_ -> ArrayBuffer.empty[Double]): _*)
    var failed = 0
    var attempted = 0
    def run(q: String): Double = {
      val t = nowUs()
      attempted += 1
      try SparkEntry.queries(q)(spark, sf).write.mode("overwrite").format("noop").save()
      catch { case e: Exception => failed += 1; System.err.println(s"[query_mix] $q failed: $e") }
      (nowUs() - t) / 1e6
    }
    // The first rep is set-up; it writes each result once for the oracle
    // check, outside the timed reps.
    val tw = nowUs()
    queries.foreach { q =>
      attempted += 1
      try SparkEntry.queries(q)(spark, sf).coalesce(1).write.mode("overwrite")
        .parquet(s"$work/check/$q")
      catch { case e: Exception => failed += 1; System.err.println(s"[query_mix] $q failed: $e") }
    }
    put("query.warmup_s", (nowUs() - tw) / 1e6)
    measure()
    val t0 = nowUs()
    (1 to reps).foreach { _ =>
      queries.foreach(q => times(q) += span(s"query.$q")(run(q)))
    }
    put("timed_s", (nowUs() - t0) / 1e6)
    endWindow()
    times.foreach { case (q, ts) => putArr(s"query.$q", ts) }
    def q(x: String): String = "\"" + x.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.createDirectories(Paths.get(s"$work/check"))
    Files.writeString(Paths.get(s"$work/check/oracle.json"), queries
      .flatMap(n => SparkEntry.oracleSql.get(n).map(sql => s"${q(n)}:${q(sql)}"))
      .mkString("{", ",", "}"))
    put("attempted", attempted.toDouble)
    put("failed", failed.toDouble)
  }
}
