package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver testdata tables (TESTDATA.md).
  * One parquet file per table under `$dir/$name.parquet`.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-(session, dir, table) DataFrame cache (r14): `spark.read.parquet`
    * re-lists the directory and re-reads the footer schema on EVERY call,
    * and with 264 queries x 5 bench reps each re-loading 1-3 tables that
    * footer tax was a measurable floor under every single query (the
    * whole sql_* family sat on ~0.65 s of pure prologue). The cached
    * object is just the resolved plan - immutable, shareable. Callers
    * that REWRITE a dir inside a live session (ScaleProbe's replica
    * builder) must [[invalidate]] it, or cached file indexes go stale.
    */
  private val dfCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    dfCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    dfCache.computeIfAbsent((spark, dir, name),
      _ => spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** Drop the cached loads of one data dir (see [[load]]). */
  def invalidate(spark: SparkSession, dir: String): Unit = {
    dfCache.keySet.removeIf(k => k._1 == spark && k._2 == dir)
    ()
  }

  /** Session configs every graft session needs. `nanosAsLong` because the
    * events table carries TIMESTAMP(NANOS) parquet, which Spark has no native
    * type for — `events` below converts it back to a µs timestamp.
    */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // naive (isAdjustedToUTC=false) parquet timestamps read as TimestampType
    // (LTZ) under the UTC session, not TIMESTAMP_NTZ — keeps `unix_micros`
    // et al. applicable and matches DuckDB's naive read wall-clock for the
    // oracle compare, regardless of which annotation the generator emits
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.ansi.enabled" -> "false",
    // The bounded top-k aggregations (CollectTopK — see
    // GraftColumnBridge.collectTopK) run through ObjectHashAggregateExec,
    // which falls back to SORT-based aggregation after 128 distinct keys
    // per task — a full in-partition sort of the candidate rows, exactly
    // the cost the bounded buffer exists to avoid. The buffers are
    // k-element (k ≤ 64 here), so holding 64k keys per task is a few MB;
    // raise the fallback far past every per-task group count we produce.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.sql.adaptive.enabled" -> "true",
    // Generated classes live in ONE JVM-wide LRU keyed by (context
    // classloader, source). Its default 100 entries is below one warm
    // pass of the CDC query mix (~127 classes, `events_rfm` alone ~100),
    // so every class was evicted before its next use and every warm rep
    // recompiled everything. One pass of the whole 309-query Bench suite
    // compiles ~3.2k classes at sf0.1 (+~20 MB metaspace to keep them all);
    // the cap covers that. Static: must be set before the session exists.
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // AQE numbers whole-stage codegen stages in the order its query stages
    // finish, which varies run to run, and the stage id is part of the
    // generated class name — so an unchanged pipeline got new source text
    // and recompiled on warm reps. Plans and explain output keep their
    // `*(id)` markers.
    "spark.sql.codegen.useIdInClassName" -> "false",
    // With isolation on, every streaming query's cloned session gets a
    // fresh artifact UUID and so a fresh executor classloader — a new
    // cache key — and recompiles classes byte-identical to the last
    // query's (16 per catch-up round: dualSink + drain). The program adds
    // no session artifacts (no addArtifact/addJar), so isolation guards
    // nothing here. Only honoured at session creation.
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** The one way to build a graft session: `local`-style master, shuffle
    * partitions, no UI, and every [[sessionConfigs]] entry applied to the
    * BUILDER — several are static and throw if set on a live session.
    */
  def sessionBuilder(master: String, partitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.ui.enabled", "false")
    sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    b
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** `events.ts` is TIMESTAMP(NANOS) in parquet; with `nanosAsLong` Spark
    * reads it as Long ns — convert to a µs TimestampType (truncation; event
    * gaps are ~minutes so no orderings change; oracle queries never emit raw
    * ts per SURVEY §7.3).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val df = load(spark, dir, "events")
    if (df.schema("ts").dataType == LongType)
      // integer division (`div`) — `/` is double division and epoch-ns
      // exceeds 2^53, which silently rounds the microsecond digit
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Memoized table row count (r20) — the cheap scale probe behind
    * size-gated decisions ([[ops.FinalSort.gated]]): one zero-column
    * count job per (session, dir, table), then a map hit. The count
    * never feeds a result — only which PLAN serves it — so memoizing it
    * is a planning decision, not result caching.
    */
  private val countCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), java.lang.Long]()

  def rowCount(spark: SparkSession, dir: String, name: String): Long = {
    countCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    countCache.computeIfAbsent((spark, dir, name),
      _ => load(spark, dir, name).count())
  }
}
