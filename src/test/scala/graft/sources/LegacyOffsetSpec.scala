package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite
import graft.functions.{BinlogTestData, BinlogWire}

/** Checkpoints written by the earlier per-format sources resume at the same
  * record. Their offset shapes:
  *
  *  - line file: `{"pos":N}` (no byte position) and `{"pos":N,"bytePos":B}`;
  *  - line directory: `{"name":…,"pos":N}` and `{"name":…,"pos":N,"bytePos":B}`;
  *  - binlog file: `{"pos":B,"bytePos":B}`;
  *  - binlog directory: `{"name":…,"pos":B}`.
  */
class LegacyOffsetSpec extends SparkSuite {

  import BinlogTestData.{event, magic}

  private def line(id: Int): String =
    s"""{"table":"orders","op":"insert","after":{"id":"$id"},"ts":"2024-01-01T00:00:0${id % 10}"}"""

  private def append(p: Path, bytes: Array[Byte]): Unit =
    Files.write(p, bytes, StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  private def appendLines(p: Path, ids: Int*): Unit =
    append(p, ids.map(line(_) + "\n").mkString.getBytes(StandardCharsets.UTF_8))

  private def ev(i: Int): Array[Byte] =
    event(1700000000L + i, 30, 1, 100 + i, 0, Array.fill[Byte](8 + i)(i.toByte))

  private def lineBytes(ids: Int*): Long = ids.map(line(_).length + 1L).sum

  /** The first record a stream resumed from `json` reads. */
  private def firstAfter(files: LogFiles, json: String) = {
    val stream = new LogStream(files)
    val start = stream.deserializeOffset(json).asInstanceOf[LogOffset]
    val part = stream.planInputPartitions(start, stream.latestOffset()).head
    ReadRange.rows(files.framing, part.asInstanceOf[LogRange]).head
  }
  private def firstLine(files: LogFiles, json: String): (String, Long) = {
    val row = firstAfter(files, json)
    (row.getUTF8String(0).toString, row.getLong(1))
  }
  private def firstEvent(files: LogFiles, json: String): (Seq[Byte], Long) = {
    val row = firstAfter(files, json)
    (row.getBinary(0).toSeq, row.getLong(1))
  }

  test("every legacy offset shape deserializes to the record it named") {
    val log = Files.createTempFile("legacy_line", ".jsonl")
    appendLines(log, 1, 2, 3, 4, 5)
    val lineFile = LogFiles(Framing.Lines, dir = false, log.toString)
    val b2 = lineBytes(1, 2)
    for (json <- Seq("""{"pos":2}""", s"""{"pos":2,"bytePos":$b2}""")) {
      assert(new LogStream(lineFile).deserializeOffset(json) ==
        LogOffset(log.getFileName.toString, 2L, b2), json)
      assert(firstLine(lineFile, json) == ((line(3), 2L)), json)
    }

    val dir = Files.createTempDirectory("legacy_linedir")
    appendLines(dir.resolve("a.jsonl"), 1, 2, 3)
    appendLines(dir.resolve("b.jsonl"), 4, 5)
    val lineDir = LogFiles(Framing.Lines, dir = true, dir.toString)
    val b1 = lineBytes(4)
    for (json <- Seq("""{"name":"b.jsonl","pos":1}""",
        s"""{"name":"b.jsonl","pos":1,"bytePos":$b1}""")) {
      assert(new LogStream(lineDir).deserializeOffset(json) == LogOffset("b.jsonl", 1L, b1), json)
      assert(firstLine(lineDir, json) == ((line(5), 1L)), json)
    }

    val bin = Files.createTempFile("legacy_bin", ".bin")
    append(bin, magic ++ ev(1) ++ ev(2) ++ ev(3))
    val binFile = LogFiles(Framing.Binlog, dir = false, bin.toString)
    val e2 = 4L + ev(1).length
    val json = s"""{"pos":$e2,"bytePos":$e2}"""
    assert(new LogStream(binFile).deserializeOffset(json) ==
      LogOffset(bin.getFileName.toString, e2, e2))
    assert(firstEvent(binFile, json) == ((ev(2).toSeq, e2)))

    val binDir = Files.createTempDirectory("legacy_bindir")
    append(binDir.resolve("bin.000001"), magic ++ ev(1) ++ ev(2))
    append(binDir.resolve("bin.000002"), magic ++ ev(3))
    val binDirFiles = LogFiles(Framing.Binlog, dir = true, binDir.toString)
    val dirJson = s"""{"name":"bin.000001","pos":$e2}"""
    assert(new LogStream(binDirFiles).deserializeOffset(dirJson) == LogOffset("bin.000001", e2, e2))
    assert(firstEvent(binDirFiles, dirJson) == ((ev(2).toSeq, e2)))
    // the origin the directory sources started from reads as the origin
    assert(new LogStream(binDirFiles).deserializeOffset("""{"name":"","pos":0}""") ==
      LogOffset.Origin)
  }

  /** Run one AvailableNow pass from `ckpt`, returning the rows it delivered. */
  private def runOnce(format: String, path: Path, ckpt: String,
      project: DataFrame => DataFrame): Seq[String] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = project(spark.readStream.format(format).option("path", path.toString).load())
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => got.add(r.mkString("|"))); ()
      }.start()
    q.awaitTermination()
    got.asScala.toSeq.sorted
  }

  /** Replace the source offset of the newest batch in `ckpt` with `json`, as
    * the per-format sources wrote it (and drop the file's checksum sibling).
    */
  private def rewriteLastOffset(ckpt: String, json: String): Unit = {
    val dir = java.nio.file.Paths.get(ckpt, "offsets")
    val last = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    val lines = Files.readAllLines(last).asScala
    assert(lines.last.contains("\"bytePos\""), lines.last)
    Files.write(last, (lines.init :+ json).mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.deleteIfExists(dir.resolve(s".${last.getFileName}.crc"))
  }

  test("a line-file checkpoint holding {\"pos\":N} resumes end to end") {
    val log = Files.createTempFile("legacy_e2e", ".jsonl")
    val ckpt = Files.createTempDirectory("legacy_e2e_ckpt").toString
    val format = classOf[CdcFileSource].getName
    val ids = (df: DataFrame) => df.select(col("pos"))
    appendLines(log, 1, 2, 3)
    assert(runOnce(format, log, ckpt, ids) == Seq("0", "1", "2"))
    rewriteLastOffset(ckpt, """{"pos":3}""")
    appendLines(log, 4, 5)
    assert(runOnce(format, log, ckpt, ids) == Seq("3", "4"))
  }

  test("a binlog-directory checkpoint holding {\"name\":…,\"pos\":B} resumes end to end") {
    val dir = Files.createTempDirectory("legacy_e2e_bin")
    val ckpt = Files.createTempDirectory("legacy_e2e_bin_ckpt").toString
    val format = classOf[CdcBinlogDirSource].getName
    val ts = (df: DataFrame) =>
      df.select(BinlogWire.binlog_header(col("event")).getField("ts_sec") - 1700000000L, col("file"))
    append(dir.resolve("bin.000001"), magic ++ ev(1) ++ ev(2))
    assert(runOnce(format, dir, ckpt, ts) == Seq("1|bin.000001", "2|bin.000001"))
    rewriteLastOffset(ckpt, s"""{"name":"bin.000001","pos":${4L + ev(1).length + ev(2).length}}""")
    append(dir.resolve("bin.000001"), ev(3))
    append(dir.resolve("bin.000002"), magic ++ ev(4))
    assert(runOnce(format, dir, ckpt, ts) == Seq("3|bin.000001", "4|bin.000002"))
  }
}
