package graft.sources

import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite
import graft.functions.{BinlogTestData, BinlogWire}

/** The rotating raw-binlog directory source: `{name, pos}` byte offsets
  * across `mysql-bin.000001`, `000002`, … — rotation mid-stream, restart
  * resume across rotation, writer-crash partial trailing events ignored in
  * sealed files, bounded backlog drain across file boundaries, batch reads.
  */
class CdcBinlogDirSourceSpec extends SparkSuite {

  import BinlogTestData.{event, magic}

  private def ev(i: Int): Array[Byte] =
    event(1700000000L + i, 30, 1, 100 + i, 0, Array.fill[Byte](8 + i)(i.toByte))

  private def write(dir: Path, name: String, bytes: Array[Byte]): Unit =
    Files.write(dir.resolve(name), bytes,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  private def readOnce(dir: Path, ckpt: String,
      opts: Map[String, String] = Map.empty): Seq[(Int, String, Long)] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long)]()
    val src = opts.foldLeft(
      spark.readStream.format(classOf[CdcBinlogDirSource].getName)
        .option("path", dir.toString)) { case (r, (k, v)) => r.option(k, v) }
      .load()
    val q = src
      .select(BinlogWire.binlog_header(col("event")).getField("ts_sec").as("ts"),
        col("file"), col("pos"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r =>
          got.add(((r.getLong(0) - 1700000000L).toInt, r.getString(1), r.getLong(2))))
        ()
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    got.asScala.toSeq.sorted
  }

  test("rotation: offsets walk {name, pos}; restart resumes in the next file") {
    val dir = Files.createTempDirectory("binlogdir")
    val ckpt = Files.createTempDirectory("binlogdir_ckpt").toString
    write(dir, "bin.000001", magic ++ ev(1) ++ ev(2))

    assert(readOnce(dir, ckpt).map(x => (x._1, x._2)) ==
      Seq((1, "bin.000001"), (2, "bin.000001")))

    // rotate: a new greatest file appears, old one sealed (+ writer-crash
    // partial trailing event on the sealed file — must be ignored)
    write(dir, "bin.000001", ev(9).take(10))
    write(dir, "bin.000002", magic ++ ev(3))
    val second = readOnce(dir, ckpt)
    assert(second.map(x => (x._1, x._2)) == Seq((3, "bin.000002")), second.toString)
    assert(second.head._3 == 4L) // byte pos past the magic

    // append to the current file only
    write(dir, "bin.000002", ev(4))
    assert(readOnce(dir, ckpt).map(x => (x._1, x._2)) == Seq((4, "bin.000002")))
  }

  test("bounded drain walks file boundaries") {
    val dir = Files.createTempDirectory("binlogdir_cap")
    val ckpt = Files.createTempDirectory("binlogdir_cap_ckpt").toString
    write(dir, "b.000001", magic ++ (1 to 3).map(ev).reduce(_ ++ _))
    write(dir, "b.000002", magic ++ (4 to 7).map(ev).reduce(_ ++ _))

    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val q = spark.readStream.format(classOf[CdcBinlogDirSource].getName)
      .option("path", dir.toString).option("maxEventsPerBatch", "2").load()
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes.add(b.count().toInt); ()
      }.start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val s = sizes.asScala.toSeq.filter(_ > 0)
    assert(s.sum == 7 && s.forall(_ <= 2), s.toString)
  }

  test("batch read: every complete event of every file, sealed ends honored") {
    val dir = Files.createTempDirectory("binlogdir_batch")
    write(dir, "c.000001", magic ++ ev(1) ++ ev(2) ++ ev(9).take(7)) // crash tail
    write(dir, "c.000002", magic ++ ev(3))
    val rows = spark.read.format(classOf[CdcBinlogDirSource].getName)
      .option("path", dir.toString).load()
      .select(col("file"),
        BinlogWire.binlog_header(col("event")).getField("ts_sec").as("ts"))
      .orderBy("file", "ts")
      .collect()
      .map(r => (r.getString(0), (r.getLong(1) - 1700000000L).toInt))
    assert(rows.toSeq == Seq(("c.000001", 1), ("c.000001", 2), ("c.000002", 3)))
  }

  test("pushdown: pos range skips events at source, file conjunct prunes whole files") {
    val dir = Files.createTempDirectory("binlogdir_push")
    write(dir, "e.000001", magic ++ ev(1) ++ ev(2))
    write(dir, "e.000002", magic ++ ev(3))
    val df = spark.read.format(classOf[CdcBinlogDirSource].getName)
      .option("path", dir.toString).load()
      .filter(col("file") === "e.000001" && col("pos") > 4)
      .select(BinlogWire.binlog_header(col("event")).getField("ts_sec").as("ts"))
    // results: only event 2 (file pinned, first event's pos == 4 excluded)
    assert(df.collect().map(_.getLong(0) - 1700000000L).toSeq == Seq(2L))
    // the scan itself carries the predicates...
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(scan.scan.description().contains("PushedFilters: ["), scan.scan.description())
    assert(scan.scan.description().contains("file"), scan.scan.description())
    // ...and the pruned file contributes no partition at all
    assert(scan.inputRDD.partitions.length == 1, s"${scan.inputRDD.partitions.length}")
  }

  test("unchanged directory polls scan nothing") {
    val dir = Files.createTempDirectory("binlogdir_idle")
    write(dir, "d.000001", magic ++ ev(1))
    val stream = new LogStream(LogFiles(Framing.Binlog, dir = true, dir.toString))
    stream.latestOffset()
    val scanned = stream.bytesScanned
    (1 to 5).foreach(_ => stream.latestOffset())
    assert(stream.bytesScanned == scanned, "idle polls re-scanned data")
  }

  test("position mirror persists the FULL {name, pos} across rotation") {
    // Byte positions reset per file: after rotating to f.000002 the live
    // position (f.000002, small pos) must beat a stale mirror copy from the
    // older-but-longer f.000001 — a pos-only mirror gets this backwards.
    val dir = Files.createTempDirectory("binlogdir_mirror")
    val ckpt = Files.createTempDirectory("binlogdir_mirror_ckpt").toString
    val posDir = Files.createTempDirectory("binlogdir_mirror_pos")
    write(dir, "f.000001", magic ++ ev(1) ++ ev(2) ++ ev(3))
    readOnce(dir, ckpt, Map("positionDir" -> posDir.toString))
    // rotate, then trigger twice more (commit(end) fires at next-batch
    // start, so each run mirrors the PREVIOUS run's end position)
    write(dir, "f.000002", magic ++ ev(4))
    readOnce(dir, ckpt, Map("positionDir" -> posDir.toString))
    write(dir, "f.000002", ev(5))
    readOnce(dir, ckpt, Map("positionDir" -> posDir.toString))
    val store = new DualPositionStore(
      posDir.resolve("position.json"), posDir.resolve("position.backup.json"))
    val restored = store.load()
    assert(restored.exists(_.name == "f.000002"), s"restored $restored")
    assert(restored.exists(_.pos >= 4L + ev(4).length), s"restored $restored")
  }

  test("loadDir restores by rotation order, not raw pos; survives one corrupt copy") {
    val posDir = Files.createTempDirectory("dirpos_order")
    val primary = posDir.resolve("position.json")
    val secondary = posDir.resolve("position.backup.json")
    val store = new DualPositionStore(primary, secondary)
    // stale copy: older file, LARGER byte pos (longer file) — must lose
    Files.writeString(primary, LogOffset("f.000001", 50000L, 50000L).json())
    Files.writeString(secondary, LogOffset("f.000002", 100L, 100L).json())
    assert(store.load().contains(LogOffset("f.000002", 100L, 100L)))
    // corrupt the fresh copy: the surviving (stale) copy is still a restore
    Files.writeString(secondary, "{not json")
    assert(store.load().contains(LogOffset("f.000001", 50000L, 50000L)))
    // legacy pos-only JSON (the old mirror format) reads with an empty name,
    // so it never outranks a named copy however large its pos
    Files.writeString(secondary, """{"pos":999999}""")
    assert(store.load().contains(LogOffset("f.000001", 50000L, 50000L)))
  }
}
