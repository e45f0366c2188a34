package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    // Lenient coercions match the reference's dynamic typing (SURVEY §1.2)
    // and DuckDB-comparable null-on-failure casts.
    val spark = Tables.sessionBuilder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Same targeted silencing as Bench: the dedup family's bounded-iteration
    // unpersist of locally checkpointed RDDs is intended; the per-RDD WARN
    // it triggers otherwise floods the verify log.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    graft.functions.GraftExtensions.register(spark)
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (same contract as Bench): dump a subset only.
    // The driver never sets it, so the gate always covers every query.
    // An optional third arg ("q1,q2") overrides the env var — the sbt
    // server bakes env at startup, so an arg-passed subset iterates
    // without a server restart (r19).
    val only = rest.headOption.orElse(sys.env.get("SPARK_GRAFT_ONLY"))
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
