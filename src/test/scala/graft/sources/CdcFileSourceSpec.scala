package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite
import graft.streaming.{CdcConfig, CdcPipeline}

/** The custom DataSource V2 micro-batch source: incremental tailing, offset
  * restore across restarts (the reference's position checkpoint,
  * `main.go:257-306`), malformed-line tolerance (H7 fixed), batch reads.
  */
class CdcFileSourceSpec extends SparkSuite {

  private def line(table: String, op: String, id: Int): String =
    s"""{"table":"$table","op":"$op","after":{"id":"$id"},"ts":"2024-01-01T00:00:0$id"}"""

  private def append(p: Path, lines: String*): Unit =
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  private val cfg = CdcConfig(Map("orders" -> "grp_sales"))

  test("streaming tail: incremental offsets, restart resumes from checkpoint") {
    val log = Files.createTempFile("cdc_log", ".jsonl")
    val ckpt = Files.createTempDirectory("cdc_src_ckpt").toString
    append(log, line("orders", "insert", 1), line("orders", "insert", 2))

    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def start() = {
      val src = spark.readStream.format(classOf[CdcFileSource].getName)
        .option("path", log.toString).load()
      CdcPipeline.transform(CdcPipeline.parseLines(src), cfg)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("payload").collect().foreach(r => received.add(r.getString(0)))
          ()
        }
        .start()
    }

    val q1 = start(); q1.awaitTermination()
    assert(received.size == 2)

    // append more + a malformed line + an unrouted table; restart the query
    // from the SAME checkpoint — only the new lines are read (offset restore)
    append(log, "{not json at all", line("unknown_tbl", "insert", 3),
      line("orders", "insert", 4))
    val q2 = start(); q2.awaitTermination()
    assert(received.size == 3) // 2 + 1 new routed event; junk + unrouted dropped
    val payloads = received.toArray(Array.empty[String]).toSet
    assert(payloads.exists(_.contains(""""id":"4"""")))
  }

  test("admission control: maxLinesPerBatch drains a backlog in bounded batches") {
    val log = Files.createTempFile("cdc_log_rl", ".jsonl")
    append(log, (1 to 5).map(i => line("orders", "insert", i)): _*)
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format(classOf[CdcFileSource].getName)
      .option("path", log.toString)
      .option("maxLinesPerBatch", "2")
      .load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("cdc_rl_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.add(batch.count()); ()
      }
      .start()
    q.awaitTermination()
    val sizes = batchSizes.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
    assert(sizes.sum == 5, sizes.toString)
    assert(sizes.forall(_ <= 2), sizes.toString)
    assert(sizes.count(_ > 0) >= 3, sizes.toString)
  }

  test("polling an unchanged log is O(new bytes): no rescan, seekable offsets") {
    val log = Files.createTempFile("cdc_log_t", ".jsonl")
    append(log, (1 to 1000).map(i => line("orders", "insert", i % 10)): _*)
    val size = Files.size(log)

    val stream = new LogStream(LogFiles(Framing.Lines, dir = false, log.toString))
    val first = stream.latestOffset().asInstanceOf[LogOffset]
    assert(first.pos == 1000 && first.bytePos == size)
    assert(stream.bytesScanned == size)

    // Poll the UNCHANGED log repeatedly: zero additional bytes read —
    // the r2 implementation re-counted all 1000 lines per poll.
    (1 to 50).foreach(_ => stream.latestOffset())
    assert(stream.bytesScanned == size, "poll on unchanged log rescanned it")

    // Append two lines: the next poll reads only the appended bytes.
    append(log, line("orders", "insert", 1), line("orders", "insert", 2))
    val grown = Files.size(log)
    val next = stream.latestOffset().asInstanceOf[LogOffset]
    assert(next.pos == 1002 && next.bytePos == grown)
    assert(stream.bytesScanned == grown)

    // The batch range carries the start byte so the reader seeks, and the
    // seek returns exactly the two appended lines at their line numbers.
    val parts = stream.planInputPartitions(first, next)
    assert(parts.length == 1)
    val part = parts(0).asInstanceOf[LogRange]
    assert(part.from.bytePos == size)
    assert(ReadRange.lines(part) ==
      Seq((line("orders", "insert", 1), 1000L), (line("orders", "insert", 2), 1001L)))

    // A partial trailing line is INVISIBLE until terminated — offering it
    // as an offset would deliver a torn prefix of an in-flight record and
    // then never re-read its completion. The offset holds at the last
    // clean boundary; the '\n' makes the whole record appear at once.
    Files.write(log, "{\"partial".getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.APPEND)
    val partial = stream.latestOffset().asInstanceOf[LogOffset]
    assert(partial.pos == 1002 && partial.bytePos == grown)
    Files.write(log, "\":1}\n".getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.APPEND)
    val completed = stream.latestOffset().asInstanceOf[LogOffset]
    assert(completed.pos == 1003 && completed.bytePos == Files.size(log))
  }

  test("admission-capped offsets keep a byte position (backlog drain stays O(backlog))") {
    val log = Files.createTempFile("cdc_log_cap", ".jsonl")
    append(log, (1 to 10).map(i => line("orders", "insert", i % 10)): _*)
    val stream = new LogStream(LogFiles(Framing.Lines, dir = false, log.toString), maxRows = Some(4))
    val start = LogOffset("", 0L, 0L)
    val capped = stream.latestOffset(start,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(4L))
      .asInstanceOf[LogOffset]
    assert(capped.pos == 4)
    assert(capped.bytePos == Framing.Lines.walk(log.toString, 0L, max = 4L)._2)
    assert(capped.bytePos > 0)
    // the capped offset chains: next batch seeks from it, no skip from 0
    val capped2 = stream.latestOffset(capped,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(4L))
      .asInstanceOf[LogOffset]
    assert(capped2.pos == 8 && capped2.bytePos > capped.bytePos)
  }

  test("dual position store survives loss or corruption of either copy") {
    val dir = Files.createTempDirectory("cdc_pos")
    val (p1, p2) = (dir.resolve("position.json"), dir.resolve("position.backup.json"))
    val store = new DualPositionStore(p1, p2)
    assert(store.load().isEmpty)
    assert(store.save(LogOffset("", 42, 4200)) == 2)
    assert(store.load().contains(LogOffset("", 42, 4200)))

    // lose the primary → backup restores the position (main.go:287-306)
    Files.delete(p1)
    assert(store.load().contains(LogOffset("", 42, 4200)))
    // corrupt the backup after a newer primary write → freshest survivor wins
    assert(store.save(LogOffset("", 50, 5000)) == 2)
    Files.write(p2, "garbage".getBytes(StandardCharsets.UTF_8))
    assert(store.load().contains(LogOffset("", 50, 5000)))
    // both gone → no position (fresh start), not a crash
    Files.delete(p1); Files.delete(p2)
    assert(store.load().isEmpty)
  }

  test("committed offsets dual-write to the position mirror (positionDir option)") {
    // Both line layouts honour the option; the directory layout's second
    // segment makes its three batches cross a rotation.
    val log = Files.createTempFile("cdc_log_p", ".jsonl")
    append(log, (1 to 3).map(i => line("orders", "insert", i)): _*)
    val dir = Files.createTempDirectory("cdc_logdir_p")
    append(dir.resolve("a.jsonl"), (1 to 2).map(i => line("orders", "insert", i)): _*)
    append(dir.resolve("b.jsonl"), line("orders", "insert", 3))
    for ((format, path, segment) <- Seq(
        (classOf[CdcFileSource].getName, log, log.getFileName.toString),
        (classOf[CdcLogDirSource].getName, dir, "a.jsonl"))) {
      val posDir = Files.createTempDirectory("cdc_posdir")
      val q = spark.readStream.format(format)
        .option("path", path.toString)
        .option("positionDir", posDir.toString)
        .option("maxLinesPerBatch", "1") // 3 batches → commits fire between them
        .load()
        .writeStream
        .option("checkpointLocation", Files.createTempDirectory("cdc_p_ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .format("noop")
        .start()
      q.awaitTermination()
      val store = new DualPositionStore(
        posDir.resolve("position.json"), posDir.resolve("position.backup.json"))
      // The engine commits a batch when the NEXT one starts, so the mirror
      // trails the final in-flight batch: pos 2 of 3 after this run.
      assert(store.load().map(_.pos).contains(2L), format)
      assert(store.load().map(_.name).contains(segment), format)
      // both physical copies independently present
      assert(Files.exists(posDir.resolve("position.json")))
      assert(Files.exists(posDir.resolve("position.backup.json")))
    }
  }

  test("a raw CR inside a line neither splits it nor drops the line after it") {
    // JSONL forbids a raw CR inside a string, but a malformed writer can
    // emit one; offsets count '\n' only, so the reader must too — splitting
    // on the CR used to take two rows of the range and lose the next line.
    val log = Files.createTempFile("cdc_log_cr", ".jsonl")
    Files.write(log, "{\"bad\rline\"}\n{\"ok\":1}\n".getBytes(StandardCharsets.UTF_8))
    val raw = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val parsed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format(classOf[CdcFileSource].getName)
      .option("path", log.toString).load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("cdc_cr_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("line").collect().foreach(r => raw.add(r.getString(0)))
        CdcPipeline.parseLines(batch).select("pos").collect().foreach(r => parsed.add(r.getLong(0)))
        ()
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    assert(raw.asScala.toSeq == Seq("{\"bad\rline\"}", "{\"ok\":1}"), raw.toString)
    assert(parsed.asScala.toSeq.sorted == Seq(0L, 1L))
  }

  test("batch read of the full log") {
    val log = Files.createTempFile("cdc_log_b", ".jsonl")
    append(log, line("orders", "insert", 1), line("orders", "update", 2))
    val df = spark.read.format(classOf[CdcFileSource].getName)
      .option("path", log.toString).load()
    assert(df.count() == 2)
    assert(df.columns.toSeq == Seq("line", "pos"))
    assert(CdcPipeline.parseLines(df).select("table").distinct().count() == 1)
  }
}
