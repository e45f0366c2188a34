package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite
import graft.streaming.{CdcConfig, CdcPipeline}

/** The CDC sources' pushdown surface, asserted for real (replaces the r4
  * println-only probe):
  *
  *  - the batch line guard lands in the scan's `PushedFilters` and changes
  *    nothing semantically (same rows as the unguarded pipeline);
  *  - pushed line/pos/file predicates return exactly what post-scan
  *    filtering of an unfiltered read returns;
  *  - `guardTables`/`guardOps` options drop non-matching lines AT THE
  *    SOURCE (row counts prove lines were skipped, batch and streaming);
  *  - file-only conjuncts prune whole files from batch plans and sealed
  *    files from micro-batch plans without even line-counting them;
  *  - the documented non-compact-JSON hazard of the no-residual guard is
  *    pinned by a negative test.
  */
class PushdownSpec extends SparkSuite {

  private def line(table: String, op: String, id: Int): String =
    s"""{"table":"$table","op":"$op","after":{"id":"$id"},"ts":"2024-01-01T00:00:0${id % 10}"}"""

  private def append(p: Path, lines: String*): Unit =
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  private val cfg = CdcConfig(Map("orders" -> "grp_sales", "customer" -> "grp_dim"))

  private def scanDescriptions(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan.description() }

  private def readFile(path: Path): DataFrame =
    spark.read.format(classOf[CdcFileSource].getName).option("path", path.toString).load()

  private def readDir(dir: Path): DataFrame =
    spark.read.format(classOf[CdcLogDirSource].getName).option("path", dir.toString).load()

  test("batch transformPrefiltered lands the line guard in PushedFilters and keeps semantics") {
    val log = Files.createTempFile("cdc_push", ".jsonl")
    append(log,
      line("orders", "insert", 1), line("orders", "delete", 2),
      line("customer", "update", 3), line("untracked", "insert", 4))

    val guarded = CdcPipeline.transformPrefiltered(readFile(log), cfg)
    val descs = scanDescriptions(guarded)
    assert(descs.nonEmpty, "no BatchScanExec in the plan")
    // the route/action guard compiles to Or(StringContains(line, ...))
    // conjuncts and must reach the source scan, not just the post-scan filter
    assert(descs.exists(d => d.contains("PushedFilters: [") &&
      d.contains("""StringContains(line,"table":"orders"""") &&
      d.contains("""StringContains(line,"op":"insert"""")), descs.mkString("\n"))

    // pushdown is a bandwidth optimization, never a semantics change
    val expected = CdcPipeline.transformPrefiltered(readFile(log), cfg, prefilter = false)
      .select("table", "op", "group", "payload").collect().map(_.toString).sorted
    val got = guarded.select("table", "op", "group", "payload")
      .collect().map(_.toString).sorted
    assert(got.sameElements(expected), s"got=${got.toSeq} expected=${expected.toSeq}")
    assert(got.length == 2) // orders/insert + customer/update survive
  }

  test("pushed line/pos/file predicates equal post-scan filtering of an unfiltered read") {
    val dir = Files.createTempDirectory("cdc_push_dir")
    append(dir.resolve("a.jsonl"), line("orders", "insert", 1), line("other", "insert", 2))
    append(dir.resolve("b.jsonl"), line("orders", "delete", 3), line("orders", "insert", 4))

    val preds = Seq(
      col("line").contains(""""op":"insert""""),
      col("pos") >= 1L,
      col("file") === "b.jsonl",
      col("line").contains(""""table":"orders"""") && col("pos") < 1L)
    for (p <- preds) {
      val pushed = readDir(dir).filter(p).collect().map(_.toString).sorted
      // materialize everything first, then filter — no pushdown possible
      val post = readDir(dir).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      val postFiltered = spark.createDataFrame(post)
        .toDF("line", "pos", "file").filter(p).collect().map(_.toString).sorted
      assert(pushed.sameElements(postFiltered), s"predicate $p diverged")
    }
  }

  test("guardTables/guardOps options skip non-matching lines at the source (batch)") {
    val log = Files.createTempFile("cdc_guard", ".jsonl")
    append(log,
      line("orders", "insert", 1), line("orders", "delete", 2),
      line("customer", "insert", 3), line("untracked", "insert", 4))

    val guarded = spark.read.format(classOf[CdcFileSource].getName)
      .option("path", log.toString)
      .option("guardTables", "orders,customer").option("guardOps", "insert")
      .load()
    // NO DataFrame filter: the only thing that can drop rows is the source —
    // the count proves lines were skipped pre-materialization
    assert(guarded.count() == 2)
    val descs = scanDescriptions(guarded)
    assert(descs.exists(_.contains("LineGuards: [")), descs.mkString("\n"))
  }

  test("guard options skip lines on the streaming path too") {
    val log = Files.createTempFile("cdc_guard_s", ".jsonl")
    append(log,
      line("orders", "insert", 1), line("orders", "delete", 2),
      line("other", "insert", 3))
    val rows = new java.util.concurrent.atomic.AtomicLong()
    val q = spark.readStream.format(classOf[CdcFileSource].getName)
      .option("path", log.toString)
      .option("guardTables", "orders").option("guardOps", "insert")
      .load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("guard_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => rows.addAndGet(b.count()); () }
      .start()
    q.awaitTermination()
    assert(rows.get() == 1) // delete + other-table lines skipped at the source
  }

  test("file-only conjuncts prune whole files from the batch scan plan") {
    val dir = Files.createTempDirectory("cdc_prune")
    append(dir.resolve("a.jsonl"), line("orders", "insert", 1), line("orders", "insert", 2))
    append(dir.resolve("b.jsonl"), line("orders", "insert", 3))
    append(dir.resolve("c.jsonl"), line("orders", "insert", 4))

    assert(readDir(dir).rdd.getNumPartitions == 3) // one per log file
    val pruned = readDir(dir).filter(col("file") === "b.jsonl")
    // two files never become partitions — dropped at planning, not post-scan
    assert(pruned.rdd.getNumPartitions == 1)
    assert(pruned.collect().map(_.getString(0)).toSeq == Seq(line("orders", "insert", 3)))
  }

  test("micro-batch planning prunes sealed files without line-counting them") {
    val dir = Files.createTempDirectory("cdc_prune_mb")
    append(dir.resolve("a.jsonl"), line("orders", "insert", 1), line("orders", "insert", 2))
    append(dir.resolve("b.jsonl"), line("orders", "insert", 3))
    append(dir.resolve("c.jsonl"), line("orders", "insert", 4))
    val sizeOf = (f: String) => Files.size(dir.resolve(f))

    val stream = new LogStream(LogFiles(Framing.Lines, dir = true, dir.toString),
      filters = Seq(EqualTo("file", "b.jsonl")))
    val end = stream.latestOffset().asInstanceOf[LogOffset]
    val parts = stream.planInputPartitions(LogOffset("", 0L, 0L), end)
    assert(parts.map(_.asInstanceOf[LogRange].from.name).toSeq == Seq("b.jsonl"))
    // offset discovery tailed the newest file (c) and sealed-counted b;
    // the pruned sealed file a was never even line-counted
    assert(stream.bytesScanned == sizeOf("b.jsonl") + sizeOf("c.jsonl"),
      s"scanned=${stream.bytesScanned}")
  }

  test("NEGATIVE: non-compact JSON silently misses the substring guard (documented hazard)") {
    val log = Files.createTempFile("cdc_noncompact", ".jsonl")
    // spaces after the colons — valid JSON, NOT the compact wire format the
    // guard contract requires
    append(log, """{"table": "orders", "op": "insert", "after": {"id": "9"}, "ts": "2024-01-01T00:00:09"}""")

    // the parse itself is fine: the unguarded pipeline keeps the event
    val unguarded = CdcPipeline.transformPrefiltered(readFile(log), cfg, prefilter = false)
    assert(unguarded.count() == 1)

    // the no-residual source guard drops the line — this is the documented
    // wire-format contract of guardTables/guardOps: ONLY compact JSON
    val guarded = spark.read.format(classOf[CdcFileSource].getName)
      .option("path", log.toString).option("guardTables", "orders").load()
    assert(guarded.count() == 0)

    // transformPrefiltered's batch guard has the same caveat (the guard IS
    // the query filter there): prefilter=false is the non-compact escape hatch
    assert(CdcPipeline.transformPrefiltered(readFile(log), cfg).count() == 0)
  }
}
