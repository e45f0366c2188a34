package graft.tools

/** Single-query oracle iteration harness: dumps the named queries'
  * results (one coalesced parquet each) plus their declared oracle SQL as
  * JSON, so a local DuckDB session can diff engine vs oracle WITHOUT
  * paying a full `graft.Verify` sweep per iteration.
  *
  *   PROBE_QUERIES=q1,q2 PROBE_DIRS=/root/testdata/sf0.01 \
  *     sbt "runMain graft.tools.OracleProbe"
  *
  * then, driver-side (the oracle harness's own stack):
  *
  *   python3 - <<'EOF'
  *   import duckdb, json
  *   sqls = json.load(open('/tmp/probe_out/oracle.json'))
  *   ... CREATE VIEW per table over the testdata parquet, run each sql,
  *   ... compare to /tmp/probe_out/<sf>/<name>.parquet (sort cols+rows)
  *   EOF
  *
  * This is how every r16 query landed: probe at sf0.001/0.01 while
  * iterating, sweep sf0.1 before declaring done (the −0.0/ulp lesson),
  * then let the full Verify + check.py gate confirm.
  */
object OracleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Tables.sessionBuilder("local[32]", 32)
      .appName("oracle-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftExtensions.register(spark)
    val names = sys.env.getOrElse("PROBE_QUERIES", "q1_agg").split(",").toSeq
    val dirs = sys.env.getOrElse("PROBE_DIRS",
      "/root/testdata/sf0.001,/root/testdata/sf0.01").split(",").toSeq
    val out = sys.env.getOrElse("PROBE_OUT", "/tmp/probe_out")
    for (dir <- dirs; name <- names) {
      val sf = dir.split("/").last
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$sf/$name.parquet")
      // count the WRITTEN parquet, not the plan — re-executing the query
      // for a log line doubles every probe iteration (r16 review)
      val n = spark.read.parquet(s"$out/$sf/$name.parquet").count()
      println(s"[probe] wrote $sf/$name rows=$n")
    }
    val sqls = names.filter(graft.SparkEntry.oracleSql.contains).map(n =>
      s""""$n": ${esc(graft.SparkEntry.oracleSql(n))}""").mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle.json"),
      sqls.getBytes("UTF-8"))
    println("[probe] oracle sql dumped")
    spark.stop()
  }

  private def esc(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
