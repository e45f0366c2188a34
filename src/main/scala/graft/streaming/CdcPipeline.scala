package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.cdc.{Envelope, Routing}

/** The reference's end-to-end hot path (reference `main.go:50-113`) as a
  * composable Structured Streaming transform chain. Works identically on a
  * batch DataFrame (for oracle checks) and a streaming one (`readStream` /
  * MemoryStream) — the plan is the same Catalyst tree either way:
  *
  *   source → group semi-filter (`main.go:51-55`)
  *          → action filter: insert/update only, deletes dropped
  *            (`main.go:57-60`, hazard H2)
  *          → envelope {before, after, source.table} (`main.go:80-86`)
  *          → to_json with nulls kept (`main.go:88`)
  *          → routed fan-out to sinks (`main.go:95,107`)
  *
  * Expected input schema (the generic change-event stream, SURVEY.md §1.1):
  * `table: string, op: string, before: map<string,string>,
  *  after: map<string,string>, ts: timestamp` (+ anything else, preserved).
  *
  * Config mirrors the reference's semantics toggles (SURVEY.md §2.3): the
  * faithful mode replicates hazards H2 (drop deletes) and H4 (ignore HTTP
  * status); fixed mode emits delete envelopes and checks status.
  */
final case class CdcConfig(
    tableToGroup: Map[String, String],
    keepDeletes: Boolean = false) { // fixed-mode H2
  def keptOps: Seq[String] =
    if (keepDeletes) Seq("insert", "update", "delete") else Seq("insert", "update")
}

object CdcPipeline {

  /** Group semi-filter + routing key (R4 + R12): unmapped tables dropped.
    * The map rides as a literal CASE chain inside whole-stage codegen — no
    * join, no shuffle (`Routing.routeJoin` is the broadcast-join alternative
    * for large routing dimensions).
    */
  def route(df: DataFrame, cfg: CdcConfig): DataFrame =
    df.withColumn("group", Routing.groupExpr(col("table"), cfg.tableToGroup))
      .filter(col("group").isNotNull)

  /** Action filter (R5): keep insert/update, faithful mode drops deletes. */
  def filterActions(df: DataFrame, cfg: CdcConfig): DataFrame =
    df.filter(col("op").isin(cfg.keptOps: _*))

  /** Envelope + JSON serialization (R10 + R11). Insert rows get a null
    * `before` (`main.go:75-78`); null fields are KEPT in the JSON
    * (Go json.Marshal emits `"before":null`).
    */
  def envelope(df: DataFrame): DataFrame = {
    val before = when(col("op") === "insert", Envelope.nullBefore)
      .otherwise(col("before"))
    df.withColumn("payload",
      Envelope.toJsonColumn(
        Envelope.envelope(before, col("after"), col("table"))))
  }

  /** The full transform: source → routed, filtered, enveloped stream with
    * columns (table, op, group, payload, ts, ...).
    */
  def transform(df: DataFrame, cfg: CdcConfig): DataFrame =
    envelope(filterActions(route(df, cfg), cfg))

  /** Observability (R20 done right): the reference logs every column of
    * every row on the hot path (`main.go:199-202`); here the hot path stays
    * clean and per-batch aggregates ride the plan via `observe` — counts by
    * op plus distinct tables, retrievable from an `Observation` (batch) or
    * the streaming progress events.
    */
  def observed(df: DataFrame, observation: org.apache.spark.sql.Observation): DataFrame =
    df.observe(observation,
      count(lit(1)).as("n_events"),
      sum(when(col("op") === "insert", 1).otherwise(0)).as("n_inserts"),
      sum(when(col("op") === "update", 1).otherwise(0)).as("n_updates"),
      approx_count_distinct(col("table")).as("n_tables"))

  /** Wire schema for serialized change events (what the line-framed log
    * source's `line` column carries).
    */
  val wireSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "table STRING, op STRING, before MAP<STRING,STRING>, " +
        "after MAP<STRING,STRING>, ts TIMESTAMP")

  /** Raw-line pre-filter for the route + action predicates — the pushdown
    * surface of the CDC log sources. A SOUND over-approximation on the
    * compact JSON wire format (json.Marshal-style, no space after the
    * colon: `"op":"insert"`, `"table":"orders"`): any line whose parsed
    * (table, op) the pipeline would keep must contain the corresponding
    * substrings, so the source may skip non-matching lines before they are
    * materialized or JSON-decoded. False positives (a guard substring
    * inside a VALUE string) pass through and die at the exact post-parse
    * filters, which always run — the guard never changes semantics, only
    * bandwidth. Compiles to an And of Or(StringContains…) conjuncts, which
    * the line-framed log source accepts via SupportsPushDownFilters.
    *
    * Wire-format caveat (documented contract): a writer that emits
    * non-compact JSON (spaces after colons) must not use the guard — pass
    * `prefilter = false` in [[transformPrefiltered]].
    */
  def lineGuard(cfg: CdcConfig): Column = {
    def anyContains(pats: Seq[String]): Column =
      pats.map(p => col("line").contains(p)) match {
        case Nil => lit(false) // nothing routable: every line drops
        case cs  => cs.reduce(_ || _)
      }
    val tableG = anyContains(
      cfg.tableToGroup.keys.toSeq.sorted.map(t => s""""table":"$t""""))
    val opG = anyContains(cfg.keptOps.map(o => s""""op":"$o""""))
    tableG && opG
  }

  /** [[parseLines]] + [[transform]] with the raw-line guard applied BEFORE
    * the decode — the full pipeline as the sources see it: the guard lands
    * in the scan's PushedFilters, non-routable lines are skipped at the
    * source, and the exact route/action filters re-check the survivors.
    */
  def transformPrefiltered(raw: DataFrame, cfg: CdcConfig,
      prefilter: Boolean = true): DataFrame = {
    val guarded = if (prefilter) raw.filter(lineGuard(cfg)) else raw
    transform(parseLines(guarded), cfg)
  }

  /** Parse line-framed log source output (`line STRING, pos BIGINT`) into
    * the change-event columns `transform` expects; malformed lines → null
    * table, dropped by the route filter (fixing the reference's queue-worker
    * panic, hazard H7). A `file` column (the directory layout,
    * `CdcLogDirSource`) is
    * passed through: after rotation, `pos` alone is ambiguous — line 0
    * exists in every log file — so cross-rotation ordering and any
    * position-keyed dedup must use (file, pos).
    */
  def parseLines(df: DataFrame): DataFrame = {
    val carry = Seq(col("pos")) ++
      (if (df.columns.contains("file")) Seq(col("file")) else Seq.empty)
    df.withColumn("e", from_json(col("line"), wireSchema))
      .select(Seq(col("e.table").as("table"), col("e.op").as("op"),
        col("e.before").as("before"), col("e.after").as("after"),
        col("e.ts").as("ts")) ++ carry: _*)
  }

  /** The typed consumption edge (SURVEY §1.1/§1.3): project one table's
    * envelopes into typed columns. The canonical stream stays schema-free
    * (map images, like the reference); analytics over a known table cast
    * the after-image fields on the way out — schema-on-read, no catalog.
    */
  def typedView(envelopes: DataFrame, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val cols = schema.fields.map { f =>
      col("after").getItem(f.name).cast(f.dataType).as(f.name)
    }
    envelopes.filter(col("table") === table).select(cols.toSeq: _*)
  }

  /** Streaming dedup for at-least-once replay collapse (H3's fix): exactly
    * the `dropDuplicatesWithinWatermark` pattern — state bounded by the
    * watermark, so it scales to unbounded streams.
    */
  def dedupWithinWatermark(df: DataFrame, keyCol: String, watermark: String): DataFrame =
    df.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCol)
}
