package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.connector.read.streaming.ReadLimit

import graft.SparkSuite
import graft.functions.BinlogTestData.{event, magic, rowsEvent, tableMap}

/** [[LogRange.split]] over a spool of TABLE_MAP, ROWS, XID transactions:
  * the pieces of a binlog range, read in partition order, are exactly the
  * unsplit read — event bytes, `pos` and `file` — and every cut falls
  * right after an XID, with no driver-side walk.
  */
class LogSplitSpec extends SparkSuite {

  /** (event bytes, pos, file) of one record. */
  type Rec = (Seq[Byte], Long, String)

  private val fde = event(1700000000L, 15, 1, 0, 0, Array.fill[Byte](57)(0))

  private def xid(i: Int): Array[Byte] = event(1700000300L + i, 16, 1, 0, 0,
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(i.toLong).array())

  /** One transaction of one to three row images. */
  private def txn(i: Int): Array[Byte] =
    tableMap(100L, "shop", "orders") ++
      rowsEvent(30, 100L)((1 to 1 + i % 3).map(k => (i * 10L + k, s"item-$i-$k")): _*) ++
      xid(i)

  private def segment(dir: Path, name: String, body: Array[Byte]*): Unit =
    Files.write(dir.resolve(name), (Seq(magic, fde) ++ body).reduce(_ ++ _))

  /** Three segments of about 220 KiB, 130 KiB and 6 KiB. */
  private def spool(): Path = {
    val dir = Files.createTempDirectory("binlog_split")
    segment(dir, "mysql-bin.000001", (0 until 1600).map(txn): _*)
    segment(dir, "mysql-bin.000002", (1600 until 2560).map(txn): _*)
    segment(dir, "mysql-bin.000003", (2560 until 2600).map(txn): _*)
    dir
  }

  private def files(dir: Path) = LogFiles(Framing.Binlog, dir = true, dir.toString)

  private def read(range: LogRange): Vector[Rec] =
    ReadRange.rows(Framing.Binlog, range, withFile = true)
      .map(r => (r.getBinary(0).toSeq, r.getLong(1), r.getUTF8String(2).toString))

  /** Each segment of `dir` read whole, as one range, in rotation order. */
  private def unsplit(dir: Path): Vector[Rec] = {
    val f = files(dir)
    f.segments.toVector.flatMap { s =>
      val path = f.segmentPath(s)
      val (start, end) = (Framing.Binlog.dataStart(path), Framing.Binlog.batchEnd(path))
      read(LogRange(path, LogOffset(s, start, start), LogOffset(s, end, end)))
    }
  }

  private def stream(dir: Path): LogStream = {
    spark // the split sizes pieces by the active session's parallelism
    new LogStream(files(dir))
  }

  /** The pieces one stream batch plans for [start, end), read in order. */
  private def streamPieces(dir: Path, start: LogOffset, end: LogOffset): Seq[Vector[Rec]] =
    stream(dir).planInputPartitions(start, end).toSeq.map(p => read(p.asInstanceOf[LogRange]))

  private def batchPieces(dir: Path): Seq[Seq[Rec]] =
    spark.read.format(classOf[CdcBinlogDirSource].getName).option("path", dir.toString)
      .load().rdd.glom().collect().toSeq
      .map(_.toSeq.map(r => (r.getAs[Array[Byte]](0).toSeq, r.getLong(1), r.getString(2))))

  private def isXid(r: Rec): Boolean = r._1(4) == 16

  /** Every cut between two non-empty pieces of one segment follows an XID. */
  private def assertCutsAfterXid(pieces: Seq[Seq[Rec]]): Unit = {
    val full = pieces.filter(_.nonEmpty)
    full.zip(full.drop(1)).foreach { case (a, b) =>
      if (a.last._3 == b.head._3)
        assert(isXid(a.last), s"cut before ${b.head._3}@${b.head._2} follows a non-XID event")
    }
  }

  test("split reads equal the unsplit read, for stream and batch, and cut after XIDs") {
    val dir = spool()
    val whole = unsplit(dir)
    val s = stream(dir)
    val end = s.latestOffset().asInstanceOf[LogOffset]
    for ((label, pieces) <- Seq(
        "stream" -> streamPieces(dir, LogOffset.Origin, end),
        "batch" -> batchPieces(dir))) {
      assert(pieces.flatten == whole, s"$label read differs from the unsplit read")
      assert(pieces.count(_.nonEmpty) > files(dir).segments.size,
        s"$label: ${pieces.size} pieces for ${files(dir).segments.size} segments")
      assertCutsAfterXid(pieces)
    }
  }

  test("a 2-segment batch plans one wave: as many pieces as cores, by largest remainder") {
    // the catch-up spool's shape: segments of 1,048,809 and 329,080 bytes.
    // One ceil per range gives 4 + 1 = 5 pieces on 4 cores, a second wave
    // of one task; the shares 3.04 and 0.96 give 3 + 1.
    val dir = Files.createTempDirectory("binlog_split_wave")
    val txns = Iterator.from(0).map(txn)
    def upTo(bytes: Long): Seq[Array[Byte]] = {
      var size = (magic.length + fde.length).toLong
      txns.takeWhile { t => size += t.length; size <= bytes }.toSeq
    }
    segment(dir, "mysql-bin.000001", upTo(1048809L): _*)
    segment(dir, "mysql-bin.000002", upTo(329080L): _*)
    assert(spark.sparkContext.defaultParallelism == 4)
    val end = stream(dir).latestOffset().asInstanceOf[LogOffset]
    val pieces = streamPieces(dir, LogOffset.Origin, end)
    assert(pieces.size == 4)
    assert(pieces.map(_.head._3) == Seq.fill(3)("mysql-bin.000001") :+ "mysql-bin.000002")
    assert(pieces.flatten == unsplit(dir))
    assertCutsAfterXid(pieces)
  }

  test("a batch below the floor, and a range with no XID, are read by one partition") {
    val small = Files.createTempDirectory("binlog_split_small")
    segment(small, "mysql-bin.000001", (0 until 40).map(txn): _*)
    assert(Files.size(small.resolve("mysql-bin.000001")) < LogRange.MinPieceBytes)
    val end = stream(small).latestOffset().asInstanceOf[LogOffset]
    assert(stream(small).planInputPartitions(LogOffset.Origin, end).length == 1)
    assert(batchPieces(small).size == 1)

    // ~200 KiB of ROWS events and not one XID: planned as several pieces,
    // but only the first finds a start, and it reads everything
    val noXid = Files.createTempDirectory("binlog_split_noxid")
    segment(noXid, "mysql-bin.000001",
      (0 until 1600).map(i => rowsEvent(30, 100L)((i.toLong, s"row-$i-padding-padding-padding"))): _*)
    val whole = unsplit(noXid)
    val noXidEnd = stream(noXid).latestOffset().asInstanceOf[LogOffset]
    for (pieces <- Seq(streamPieces(noXid, LogOffset.Origin, noXidEnd), batchPieces(noXid))) {
      assert(pieces.size > 1)
      assert(pieces.count(_.nonEmpty) == 1 && pieces.head == whole)
    }
  }

  test("a capped range that ends mid-transaction reads exactly to its end") {
    val dir = spool()
    val whole = unsplit(dir)
    val s = stream(dir)
    val end = s.latestOffset()
    // 3 events a transaction: a cap of 3k+2 ends each batch after a ROWS event
    val cap = ReadLimit.maxRows(3 * 700 + 2)
    var start = LogOffset.Origin
    var read = Vector.empty[Rec]
    var batches = 0
    while (start.isBefore(end.asInstanceOf[LogOffset])) {
      val stop = s.latestOffset(start, cap).asInstanceOf[LogOffset]
      val pieces = streamPieces(dir, start, stop)
      val got = pieces.flatten
      assert(got.forall(r => r._3 > start.name || r._3 == start.name && r._2 >= start.bytePos))
      assert(got.forall(r => r._3 < stop.name || r._3 == stop.name && r._2 < stop.bytePos))
      if (batches == 0) {
        assert(got.size == 3 * 700 + 2 && !isXid(got.last), "the first batch ends mid-transaction")
        assert(pieces.size > 1, "the capped range was not split")
      }
      assertCutsAfterXid(pieces)
      read ++= got
      start = stop
      batches += 1
    }
    assert(batches > 2 && read == whole)
  }
}
