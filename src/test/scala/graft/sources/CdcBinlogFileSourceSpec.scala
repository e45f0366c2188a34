package graft.sources

import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite
import graft.functions.{BinlogTestData, BinlogWire}

/** The raw-binlog micro-batch source: event-boundary offsets (byte
  * positions, MySQL's own unit), torn-write invisibility, restart-resume,
  * admission control, O(new bytes) tailing, and the batch path — over
  * byte-exact v4 fixtures from [[graft.functions.BinlogTestData]].
  */
class CdcBinlogFileSourceSpec extends SparkSuite {

  import BinlogTestData.{event, magic}

  private def append(p: Path, bytes: Array[Byte]): Unit =
    Files.write(p, bytes, StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  private def ev(i: Int, tpe: Int = 30): Array[Byte] =
    event(1700000000L + i, tpe, 1, 100 + i, 0, Array.fill[Byte](8 + i)(i.toByte))

  private def readStreamOnce(log: Path, ckpt: String,
      opts: Map[String, String] = Map.empty): Seq[(Int, Long)] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val src = opts.foldLeft(
      spark.readStream.format(classOf[CdcBinlogFileSource].getName)
        .option("path", log.toString)) { case (r, (k, v)) => r.option(k, v) }
      .load()
    val q = src
      .select(BinlogWire.binlog_header(col("event")).as("h"), col("pos"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select(col("h.ts_sec"), col("pos")).collect()
          .foreach(r => got.add(((r.getLong(0) - 1700000000L).toInt, r.getLong(1))))
        ()
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    got.asScala.toSeq.sorted
  }

  test("streaming: event-boundary offsets, torn tail invisible, restart resumes") {
    val log = Files.createTempFile("binlog", ".bin")
    val ckpt = Files.createTempDirectory("binlog_ckpt").toString
    append(log, magic ++ ev(1) ++ ev(2))

    assert(readStreamOnce(log, ckpt) == Seq((1, 4L), (2, 4L + ev(1).length)))

    // append one complete event and the first half of another (torn write)
    val torn = ev(4)
    append(log, ev(3) ++ torn.take(torn.length / 2))
    val second = readStreamOnce(log, ckpt)
    assert(second == Seq((3, 4L + ev(1).length + ev(2).length)),
      s"torn event must be invisible: $second")

    // complete the torn event → exactly it arrives, at its true position
    append(log, torn.drop(torn.length / 2))
    val third = readStreamOnce(log, ckpt)
    assert(third == Seq((4, 4L + ev(1).length + ev(2).length + ev(3).length)))
  }

  test("admission control: maxEventsPerBatch drains a backlog in bounded batches") {
    val log = Files.createTempFile("binlog_cap", ".bin")
    val ckpt = Files.createTempDirectory("binlog_cap_ckpt").toString
    append(log, magic ++ (1 to 7).map(ev(_)).reduce(_ ++ _))

    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val q = spark.readStream.format(classOf[CdcBinlogFileSource].getName)
      .option("path", log.toString).option("maxEventsPerBatch", "3").load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes.add(batch.count().toInt); ()
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val s = sizes.asScala.toSeq.filter(_ > 0)
    assert(s.sum == 7 && s.forall(_ <= 3), s.toString)
    assert(s.length >= 3, s"expected >= 3 bounded batches, got $s")
  }

  test("tail is O(new bytes): polling an unchanged log scans nothing") {
    val log = Files.createTempFile("binlog_tail", ".bin")
    append(log, magic ++ ev(1) ++ ev(2))
    val tail = new Tail(Framing.Binlog, log.toString)
    assert(tail.poll() == (2L, (4 + ev(1).length + ev(2).length).toLong))
    val scannedAfterFirst = tail.bytesScanned
    (1 to 5).foreach(_ => tail.poll())
    assert(tail.bytesScanned == scannedAfterFirst, "unchanged log was re-scanned")
    append(log, ev(3))
    assert(tail.poll()._1 == 3L)
    assert(tail.bytesScanned == scannedAfterFirst + ev(3).length)
  }

  test("batch read: whole log decodes, positions are byte-exact, magic optional") {
    val log = Files.createTempFile("binlog_batch", ".bin")
    val events = Seq(ev(1, tpe = 15), ev(2, tpe = 2), ev(3, tpe = 30))
    append(log, magic ++ events.reduce(_ ++ _))
    val rows = spark.read.format(classOf[CdcBinlogFileSource].getName)
      .option("path", log.toString).load()
      .select(BinlogWire.binlog_header(col("event")).as("h"), col("pos"))
      .select(col("h.type_name"), col("h.event_size"), col("pos"))
      .collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("FORMAT_DESCRIPTION_EVENT", "QUERY_EVENT", "WRITE_ROWS_EVENT"))
    val sizes = events.map(_.length.toLong)
    assert(rows.map(_.getLong(2)).toSeq == sizes.scanLeft(4L)(_ + _).init)

    // no magic (mid-stream archive fragment): positions start at 0
    val bare = Files.createTempFile("binlog_bare", ".bin")
    append(bare, events.reduce(_ ++ _))
    val barePos = spark.read.format(classOf[CdcBinlogFileSource].getName)
      .option("path", bare.toString).load().select("pos")
      .collect().map(_.getLong(0)).toSeq
    assert(barePos == sizes.scanLeft(0L)(_ + _).init)
  }

  test("position mirror: committed offsets dual-write via positionDir") {
    val log = Files.createTempFile("binlog_pos", ".bin")
    val ckpt = Files.createTempDirectory("binlog_pos_ckpt").toString
    val posDir = Files.createTempDirectory("binlog_pos_mirror")
    append(log, magic ++ ev(1))
    readStreamOnce(log, ckpt, Map("positionDir" -> posDir.toString))
    // commit(end) fires when the NEXT batch starts — run a second trigger
    append(log, ev(2))
    readStreamOnce(log, ckpt, Map("positionDir" -> posDir.toString))
    val mirror = posDir.resolve("position.json")
    assert(Files.exists(mirror), "position mirror was not written")
    val saved = LogOffset.parse(Files.readString(mirror))
    assert(saved.exists(_.pos >= 4L + ev(1).length), saved.toString)
  }

  test("file shrunk between planning and read: clean IOException, not an NPE") {
    // Offsets are planned against bytes that existed; if the file is
    // truncated before the partition reader runs, the reader must name the
    // file and byte range — a null from readFully would NPE in eventSize.
    val log = Files.createTempFile("binlog_shrink", ".bin")
    val events = magic ++ ev(1) ++ ev(2) ++ ev(3)
    append(log, events)
    val plannedEnd = events.length.toLong
    Files.write(log, events.dropRight(ev(3).length + 5)) // shrink mid-event
    val name = log.getFileName.toString
    val err = intercept[java.io.IOException] {
      ReadRange.rows(Framing.Binlog, LogRange(log.toString,
        LogOffset(name, 4L, 4L), LogOffset(name, plannedEnd, plannedEnd)))
    }
    assert(err.getMessage.contains(log.toString), err.getMessage)
    assert(err.getMessage.contains("truncated"), err.getMessage)
  }
}
