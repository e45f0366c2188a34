package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.storage.StorageLevel

import graft.SparkSuite

/** JVM-static state of [[CheckedQueue]]: a local master runs every task in
  * this JVM, next to the [[DebugSink]] the tasks POST to.
  */
object DeliveryProbe {
  @volatile var sink: DebugSink = _
  val problems = new ConcurrentLinkedQueue[String]()
  def posted: Set[String] = sink.captured.asScala.map(_.body).toSet
}

/** A [[FileQueue]] whose clients check the per-row order of delivery:
  * nothing may be POSTed before it is queued, and by the time a task
  * closes its client every row it queued must have been POSTed.
  */
final case class CheckedQueue(dir: String) extends DurableQueue {
  private val inner = FileQueue(dir)
  override def client(): QueueClient = new QueueClient {
    private val c = inner.client()
    private val mine = ArrayBuffer.empty[String]
    override def enqueue(group: String, payload: String): Unit = {
      if (DeliveryProbe.posted(payload))
        DeliveryProbe.problems.add(s"POSTed before it was queued: $payload")
      mine += payload
      c.enqueue(group, payload)
    }
    override def close(): Unit = {
      val posted = DeliveryProbe.posted
      mine.filterNot(posted).foreach(p =>
        DeliveryProbe.problems.add(s"queued but not POSTed by its task: $p"))
      c.close()
    }
    override def abort(): Unit = c.abort()
  }
  override def drain(handle: (String, String) => Unit): Long = inner.drain(handle)
  override def pending: Long = inner.pending
}

/** `dualSink` delivers a micro-batch as the reference delivers an event:
  * each row is queued and then POSTed by the same task, in one Spark job
  * that caches nothing.
  */
class DeliveryJobSpec extends SparkSuite {

  test("dualSink: one delivery per micro-batch, no cache, each task queues then POSTs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tables = (1 to 4).map(t => s"t$t")
    val cfg = CdcConfig(tables.map(t => t -> s"grp_$t").toMap)
    val ts = new Timestamp(1700000000000L)
    val mem = MemoryStream[ChangeEvent]
    mem.addData((1 to 60).map(i =>
      ChangeEvent(tables(i % 4), "insert", null, Map("id" -> i.toString), ts)): _*)

    val jobs = new ConcurrentLinkedQueue[String]() // job group of each job
    val cached = new ConcurrentLinkedQueue[String]() // persisted RDDs a stage reads
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.filter(_.storageLevel != StorageLevel.NONE)
          .foreach(r => cached.add(r.name))
    }
    val sink = new DebugSink
    DeliveryProbe.sink = sink
    DeliveryProbe.problems.clear()
    val qdir = Files.createTempDirectory("graft_fused_queue").toString
    val ckpt = Files.createTempDirectory("graft_fused_ckpt").toString
    // the shared session may hold other suites' caches: compare, not count
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = Sinks.runToCompletion(Sinks.dualSink(
        CdcPipeline.transform(mem.toDF(), cfg), sink.url, ckpt, CheckedQueue(qdir)))
      ListenerBusDrain(spark.sparkContext)
      val mine = jobs.asScala.count(_ == q.runId.toString)
      // One delivery: AQE runs its shuffle map stage as a job of its own,
      // then the POST stage. Persist, HTTP job and queue job ran 4 here.
      assert(mine == 2, s"jobs of the delivery query: $mine")
      assert(cached.isEmpty, s"a delivery stage read cached RDDs: $cached")
      assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore)
      assert(DeliveryProbe.problems.isEmpty, DeliveryProbe.problems.asScala.take(3).mkString("; "))
      // both paths got every row once
      val payloads = sink.captured.asScala.map(_.body).toSeq
      assert(payloads.size == 60 && payloads.distinct.size == 60)
      val queued = ArrayBuffer.empty[String]
      FileQueue(qdir).drain((_, p) => queued += p)
      assert(queued.sorted == payloads.sorted)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      sink.stop()
    }
  }
}
