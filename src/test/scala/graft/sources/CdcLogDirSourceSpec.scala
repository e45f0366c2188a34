package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite
import graft.streaming.{CdcConfig, CdcPipeline}

/** The rotating-log directory source: `{name, pos}` offsets over a file
  * set (the reference's actual binlog position shape, `main.go:41-44`),
  * rotation handled by sealing old files, restarts resuming mid-set.
  */
class CdcLogDirSourceSpec extends SparkSuite {

  private def line(table: String, id: Int): String =
    s"""{"table":"$table","op":"insert","after":{"id":"$id"},"ts":"2024-01-01T00:00:0${id % 10}"}"""

  private def append(dir: Path, file: String, lines: String*): Unit =
    Files.write(dir.resolve(file),
      (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  private val cfg = CdcConfig(Map("orders" -> "grp_sales"))

  test("rotation across restarts: {name, pos} offsets resume mid-file-set") {
    val dir = Files.createTempDirectory("cdc_dir")
    val ckpt = Files.createTempDirectory("cdc_dir_ckpt").toString
    append(dir, "log.000001.jsonl", line("orders", 1), line("orders", 2))

    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def run(): Unit = {
      val src = spark.readStream.format(classOf[CdcLogDirSource].getName)
        .option("path", dir.toString).load()
      val q = CdcPipeline.transform(CdcPipeline.parseLines(src), cfg)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("payload").collect().foreach(r => received.add(r.getString(0)))
          ()
        }.start()
      q.awaitTermination()
    }
    run()
    assert(received.size == 2)

    // ROTATE: new file appears, old one appends nothing more; also append
    // more to the new file before the restarted query runs.
    append(dir, "log.000002.jsonl", line("orders", 3))
    append(dir, "log.000002.jsonl", line("orders", 4), line("orders", 5))
    run()
    assert(received.size == 5, received.toString)
    val payloads = received.toArray(Array.empty[String])
    assert((1 to 5).forall(i => payloads.exists(_.contains(s""""id":"$i""""))))

    // the checkpoint offset carries the file NAME (the reference's shape)
    val offsetFiles = Files.list(java.nio.file.Paths.get(ckpt, "offsets"))
      .iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    val lastOffset = new String(Files.readAllBytes(offsetFiles.last),
      StandardCharsets.UTF_8)
    assert(lastOffset.contains(""""name":"log.000002.jsonl""""), lastOffset)
  }

  test("sealed files are counted once and never re-scanned") {
    val dir = Files.createTempDirectory("cdc_dir_seal")
    append(dir, "a.jsonl", (1 to 500).map(i => line("orders", i % 10)): _*)
    append(dir, "b.jsonl", (1 to 300).map(i => line("orders", i % 10)): _*)
    val stream = new LogStream(LogFiles(Framing.Lines, dir = true, dir.toString))

    val end1 = stream.latestOffset().asInstanceOf[LogOffset]
    assert(end1 == LogOffset("b.jsonl", 300, Files.size(dir.resolve("b.jsonl"))))
    // planning the full range seals a.jsonl (counts it once)
    val parts = stream.planInputPartitions(LogOffset("", 0L, 0L), end1)
    assert(parts.map(_.asInstanceOf[LogRange].from.name).toSeq ==
      Seq("a.jsonl", "b.jsonl"))
    assert(parts(0).asInstanceOf[LogRange].until.pos == 500)

    val scanned = stream.bytesScanned
    // idle polls + replans: the sealed file is never read again
    (1 to 20).foreach { _ =>
      stream.latestOffset()
      stream.planInputPartitions(LogOffset("", 0L, 0L), end1)
    }
    assert(stream.bytesScanned == scanned, "sealed/unchanged files were re-scanned")

    // appending to the NEWEST file scans only the new bytes
    val before = stream.bytesScanned
    append(dir, "b.jsonl", line("orders", 7))
    val end2 = stream.latestOffset().asInstanceOf[LogOffset]
    assert(end2.pos == 301)
    assert(stream.bytesScanned - before == Files.size(dir.resolve("b.jsonl")) - end1.bytePos)
  }

  test("admission cap walks file boundaries and keeps byte positions") {
    val dir = Files.createTempDirectory("cdc_dir_cap")
    append(dir, "a.jsonl", (1 to 3).map(i => line("orders", i)): _*)
    append(dir, "b.jsonl", (1 to 4).map(i => line("orders", i)): _*)
    val stream = new LogStream(LogFiles(Framing.Lines, dir = true, dir.toString), Some(2))
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val start = LogOffset("", 0L, 0L)
    // cap inside the first file
    val c1 = stream.latestOffset(start, ReadLimit.maxRows(2L)).asInstanceOf[LogOffset]
    assert(c1.name == "a.jsonl" && c1.pos == 2 && c1.bytePos > 0)
    // cap crossing the boundary: 2 remaining in a + 1 into b
    val c2 = stream.latestOffset(c1, ReadLimit.maxRows(2L)).asInstanceOf[LogOffset]
    assert(c2.name == "b.jsonl" && c2.pos == 1 && c2.bytePos > 0, c2.toString)
    // batches between the caps cover exactly the capped lines
    val parts = stream.planInputPartitions(c1, c2)
      .map(_.asInstanceOf[LogRange])
    assert(parts.map(p => (p.from.name, p.from.pos, p.until.pos)).toSeq ==
      Seq(("a.jsonl", 2L, 3L), ("b.jsonl", 0L, 1L)))
  }

  test("offset JSON round-trips exotic file names; pipeline keeps (file, pos)") {
    // names with a quote/backslash must survive the checkpoint round trip
    val weird = LogOffset("""my"log\1.jsonl""", 7L, 123L)
    assert(LogOffset.parse(weird.json()).contains(weird))
    assert(LogOffset.parse("""{"name":"a.jsonl","pos":3}""")
      .contains(LogOffset("a.jsonl", 3L, -1L)))

    // parseLines passes `file` through: after rotation pos alone is
    // ambiguous (line 0 exists in every file) — (file, pos) is the key
    val dir = Files.createTempDirectory("cdc_dir_key")
    append(dir, "log.000001.jsonl", line("orders", 1))
    append(dir, "log.000002.jsonl", line("orders", 2))
    val parsed = CdcPipeline.parseLines(
      spark.read.format(classOf[CdcLogDirSource].getName)
        .option("path", dir.toString).load())
    assert(parsed.columns.contains("file") && parsed.columns.contains("pos"))
    val keys = CdcPipeline.transform(parsed, cfg)
      .select("file", "pos").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(keys == Set(("log.000001.jsonl", 0L), ("log.000002.jsonl", 0L)))
  }

  test("batch read spans all files with per-file positions") {
    val dir = Files.createTempDirectory("cdc_dir_batch")
    append(dir, "a.jsonl", line("orders", 1), line("orders", 2))
    append(dir, "b.jsonl", line("orders", 3))
    val df = spark.read.format(classOf[CdcLogDirSource].getName)
      .option("path", dir.toString).load()
    assert(df.columns.toSeq == Seq("line", "pos", "file"))
    val rows = df.collect().map(r => (r.getString(2), r.getLong(1))).sorted.toSeq
    assert(rows == Seq(("a.jsonl", 0L), ("a.jsonl", 1L), ("b.jsonl", 0L)))
  }
}
