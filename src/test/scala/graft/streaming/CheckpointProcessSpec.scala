package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

import graft.SparkSuite
import graft.functions.BinlogTestData
import graft.functions.BinlogTestData.rowsEvent

/** Streaming queries keep their offset, commit and metadata logs without
  * starting a child process, and a checkpoint resumes across a switch
  * between Spark's default manager and [[CheckpointFiles]], either way.
  */
class CheckpointProcessSpec extends SparkSuite {

  private def hadoopConf(s: SparkSession) = s.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** A session that checkpoints with Spark's default manager. */
  private def defaultSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.unset(CheckpointFiles.ConfKey)
    s
  }

  /** Runs `f`, returning the commands of the processes the JVM started
    * meanwhile that name `dir`.
    */
  private def processesNaming(dir: Path)(f: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try f finally rec.stop()
    val dump = Files.createTempFile("process_start", ".jfr")
    rec.dump(dump)
    rec.close()
    RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
      .filter(_.contains(dir.toString))
  }

  /** One AvailableNow `dualSink` run over `spool`; the posted bodies. */
  private def deliver(s: SparkSession, spool: Path, ckpt: Path): Seq[String] = {
    val sink = new DebugSink
    try {
      Sinks.runToCompletion(Sinks.dualSink(BinlogTestData.envelopes(s, spool), sink.url,
        ckpt.toString, q = FileQueue(Files.createTempDirectory("ckpt_queue").toString)))
      sink.captured.asScala.toSeq.map(_.body)
    } finally sink.stop()
  }

  test("sessions check point through CheckpointFiles; the default session does not") {
    val p = new org.apache.hadoop.fs.Path(Files.createTempDirectory("ckpt_conf").toUri)
    assert(CheckpointFileManager.create(p, hadoopConf(spark)).isInstanceOf[CheckpointFiles])
    assert(!CheckpointFileManager.create(p, hadoopConf(defaultSession())).isInstanceOf[CheckpointFiles])
  }

  test("an AvailableNow dualSink query starts no process for its checkpoint") {
    val spool = BinlogTestData.spool(rowsEvent(30, 100L)((1L, "apple"), (2L, "pear")))
    val ckpt = Files.createTempDirectory("ckpt_procs")
    var bodies = Seq.empty[String]
    val procs = processesNaming(ckpt) { bodies = deliver(spark, spool, ckpt) }
    assert(bodies.size == 2, bodies)
    assert(Files.exists(ckpt.resolve("offsets/.0.crc")) && Files.exists(ckpt.resolve("commits/.0.crc")))
    assert(procs.isEmpty, s"${procs.size} processes: ${procs.take(5).mkString("; ")}")
  }

  /** Run under `first`, append one insert, resume under `second`: only the
    * new row is delivered.
    */
  private def resumes(first: SparkSession, second: SparkSession): Unit = {
    val spool = BinlogTestData.spool(rowsEvent(30, 100L)((1L, "apple"), (2L, "pear")))
    val ckpt = Files.createTempDirectory("ckpt_switch")
    val before = deliver(first, spool, ckpt)
    assert(before.size == 2 && before.exists(_.contains("apple")) && before.exists(_.contains("pear")), before)
    assert(Files.exists(ckpt.resolve("offsets/.0.crc")))
    BinlogTestData.appendToSpool(spool, rowsEvent(30, 100L)((3L, "fig")))
    val after = deliver(second, spool, ckpt)
    assert(after.size == 1 && after.head.contains("fig"), after)
    assert(Files.exists(ckpt.resolve("commits/.1.crc")))
  }

  test("a checkpoint written by Spark's default manager resumes under CheckpointFiles") {
    resumes(defaultSession(), spark)
  }

  test("a checkpoint written by CheckpointFiles resumes under Spark's default manager") {
    resumes(spark, defaultSession())
  }
}
