package graft.streaming

import java.lang.management.ManagementFactory
import java.nio.file.{FileAlreadyExistsException, Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite

/** Tier C joins: stream-stream inner join with event-time range constraint
  * (watermark-bounded state on both sides), and stream-static broadcast
  * enrichment; and fixed-mode delivery's dead-letter queue, redriven
  * through `Sinks.queueStream`.
  */
class StreamJoinSpec extends SparkSuite {

  case class Click(user: Long, click_ts: Timestamp)
  case class Purchase(user: Long, buy_ts: Timestamp, amount: Double)

  private val base = 1700000000000L
  private def ts(s: Long) = new Timestamp(base + s * 1000)

  test("stream-stream join: purchases within 10 min after a click") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Click]
    val buys = MemoryStream[Purchase]
    clicks.addData(Click(1, ts(0)), Click(2, ts(0)), Click(1, ts(1200)))
    buys.addData(
      Purchase(1, ts(300), 10.0), // 5 min after click → joins
      Purchase(1, ts(900), 20.0), // 15 min after first click → out of range
      Purchase(2, ts(30), 5.0), // 30s after click → joins
      Purchase(3, ts(60), 9.0)) // no click → dropped (inner)
    val joined = clicks.toDF()
      .withColumnRenamed("user", "c_user")
      .withWatermark("click_ts", "1 hour")
      .join(
        buys.toDF()
          .withColumnRenamed("user", "b_user")
          .withWatermark("buy_ts", "1 hour"),
        expr(
          """c_user = b_user AND
            |buy_ts >= click_ts AND
            |buy_ts <= click_ts + INTERVAL 10 MINUTES""".stripMargin))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("ss_join")
        .select(col("c_user"), col("amount")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted
      assert(rows.toSeq == Seq((1L, 10.0), (2L, 5.0)), rows.mkString(","))
    } finally q.stop()
  }

  test("stream-static join: streaming events enriched from a static dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Click]
    mem.addData(Click(1, ts(0)), Click(2, ts(5)), Click(99, ts(9)))
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user", "tier")
    val joined = mem.toDF().join(broadcast(dim), Seq("user")) // inner: 99 drops
    val q = joined.writeStream.format("memory").queryName("st_join")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("st_join").select("user", "tier").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted
      assert(rows.toSeq == Seq((1L, "gold"), (2L, "silver")))
    } finally q.stop()
  }

  /** Redrive a [[FileQueue]] DLQ: its segments as a streaming source, each
    * row POSTed again in fixed mode; rows that fail again land in `again`.
    */
  private def redrive(dlq: FileQueue, url: String, again: DurableQueue): Unit =
    Sinks.runToCompletion(Sinks.queueStream(spark, dlq.dir).writeStream
      .option("checkpointLocation", Files.createTempDirectory("dlq_redrive_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => Sinks.httpDeliverBatchDlq(b, url, again) })

  private def tempQueue(name: String) = FileQueue(Files.createTempDirectory(name).toString)

  test("fixed-mode delivery dead-letters failed POSTs") {
    import spark.implicits._
    val server = new DebugSink
    try {
      server.respondStatus = 500 // every POST fails the 2xx check
      val rows = Seq(("g1", """{"a":1}"""), ("g2", """{"a":2}"""))
      val dlq = tempQueue("dlq_fixed")
      Sinks.httpDeliverBatchDlq(rows.toDF("group", "payload"), server.url, dlq)
      assert(dlq.pending == 2)
      // recover: flip the sink healthy and redrive the dead letters
      server.respondStatus = 200
      val again = tempQueue("dlq_fixed_again")
      redrive(dlq, server.url, again)
      assert(again.pending == 0) // every redriven POST got a 2xx
      assert(server.captured.size == 4) // 2 failed + 2 redriven
      assert(server.captured.asScala.map(_.body).toSeq.sorted ==
        (rows ++ rows).map(_._2).sorted)
    } finally server.stop()
  }

  test("a failed dead-lettering task publishes nothing; after Spark's retry each row is dead-lettered once") {
    val server = new DebugSink
    val dlq = tempQueue("dlq_retry")
    val marks = Files.createTempDirectory("dlq_retry_marks")
    try {
      server.respondStatus = 500
      val (exit, log) = runJvm(DlqRetryMain.getClass.getName.stripSuffix("$"),
        server.url, dlq.dir, marks.toString)
      assert(exit == 0, log)
      assert(Files.exists(marks.resolve("failed")) && Files.exists(marks.resolve("retried")),
        "no task failed and was retried")
      val files = Files.list(Paths.get(dlq.dir)).iterator().asScala.map(_.getFileName.toString).toSeq
      assert(files.forall(_.startsWith("q-")), s"an aborted attempt left $files")
      assert(files.size >= 2, s"one partition task only: $files")
      // the failed attempt wrote its first row before throwing: had it
      // published, that row would be here twice
      val dead = files.flatMap(f => Files.readAllLines(Paths.get(dlq.dir, f)).asScala)
      assert(dead.sorted == DlqRetryMain.rows.map { case (g, p) => s"$g\t$p" }.sorted)

      server.respondStatus = 200
      val before = server.captured.size
      val again = tempQueue("dlq_retry_again")
      redrive(dlq, server.url, again)
      assert(again.pending == 0)
      assert(server.captured.size == before + DlqRetryMain.rows.size)
    } finally server.stop()
  }

  /** Runs `main` in a child JVM on this JVM's classpath and options; its
    * exit code and output.
    */
  private def runJvm(main: String, args: String*): (Int, String) = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opts = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(o => o.startsWith("--add-opens") || o.startsWith("-D"))
    val out = Files.createTempFile("child_jvm", ".log")
    val p = new ProcessBuilder((Seq(java, "-Xmx1g") ++ opts ++
        Seq("-cp", System.getProperty("java.class.path"), main) ++ args).asJava)
      .redirectErrorStream(true).redirectOutput(out.toFile).start()
    val exit = p.waitFor()
    (exit, Files.readString(out).takeRight(4000))
  }
}

/** The child-JVM half of [[StreamJoinSpec]]'s task-retry case: Spark
  * retries a failed task only under a `local[N,F]` master, and the shared
  * test session is `local[4]`. Dead-letters [[rows]] (POSTed to `args(0)`)
  * into the [[FileQueue]] at `args(1)` through [[FailOnce]], with its
  * marker files in `args(2)`.
  */
object DlqRetryMain {
  val rows: Seq[(String, String)] = (1 to 16).map(i => (s"g${i % 8}", s"""{"a":$i}"""))

  def main(args: Array[String]): Unit = {
    val Array(url, dlqDir, marks) = args
    val spark = graft.Tables.sessionBuilder("local[2,2]", 2).getOrCreate()
    try {
      import spark.implicits._
      Sinks.httpDeliverBatchDlq(rows.toDF("group", "payload"), url, FailOnce(FileQueue(dlqDir), marks))
    } finally spark.stop()
  }
}

/** A DLQ whose first task to write a row throws right after writing it,
  * once per job (the `failed` marker file claims the failure); a retried
  * attempt touches `retried` and runs clean.
  */
final case class FailOnce(inner: DurableQueue, marks: String) extends DurableQueue {
  override def client(): QueueClient = new QueueClient {
    private val c = inner.client()
    override def enqueue(group: String, payload: String): Unit = {
      c.enqueue(group, payload)
      if (TaskContext.get().attemptNumber() > 0) mark("retried")
      else if (mark("failed")) throw new IllegalStateException("injected task failure")
    }
    override def close(): Unit = c.close()
    override def abort(): Unit = c.abort()
  }

  /** Creates the marker; false when it already existed. */
  private def mark(name: String): Boolean =
    try { Files.createFile(Paths.get(marks, name)); true }
    catch { case _: FileAlreadyExistsException => false }

  override def drain(handle: (String, String) => Unit): Long = inner.drain(handle)
  override def pending: Long = inner.pending
}
