package graft.tools

/** Single-query latency iteration harness — the timing sibling of
  * [[OracleProbe]]: times the named queries against one dir with a
  * noop sink (full-column evaluation, the bench's own sink), N reps
  * each, WITHOUT the bench's index phase — so a query that consumes no
  * session artifact iterates in seconds instead of minutes. Queries
  * that DO consume session artifacts pay the build inside rep 1; read
  * the later reps for the serving cost (the bench pre-warms instead).
  *
  *   PROBE_QUERIES=q1,q2 PROBE_DIRS=/root/testdata/sf0.1 PROBE_REPS=5 \
  *     sbt "runMain graft.tools.TimeProbe"
  *
  * Numbers are comparable ONLY within one invocation on a quiet box —
  * cross-round claims still go through the bench (calib-scaled medians
  * and mins).
  */
object TimeProbe {
  def main(args: Array[String]): Unit = {
    val cpus = graft.Tables.cpus
    val spark = graft.Tables.sessionBuilder(s"local[$cpus]", cpus)
      .appName("time-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftExtensions.register(spark)
    // args override env (the sbt server bakes env at startup — arg-passed
    // probes iterate without a server restart, r19):
    //   runMain graft.tools.TimeProbe q1,q2 [dir1,dir2] [reps]
    val names = args.lift(0).orElse(sys.env.get("PROBE_QUERIES"))
      .getOrElse("q1_agg").split(",").toSeq
    val dirs = args.lift(1).orElse(sys.env.get("PROBE_DIRS"))
      .getOrElse("/root/testdata/sf0.1").split(",").toSeq
    val reps = args.lift(2).orElse(sys.env.get("PROBE_REPS")).getOrElse("5").toInt
    // one generic warm pass so rep 1 doesn't time scheduler/codegen cold
    spark.range(1000000).selectExpr("sum(id)").collect()
    for (dir <- dirs; name <- names) {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      def f(v: Double) = f"$v%.3f"
      println(s"[time] $name ${dir.split('/').last} min=${f(ts.min)} " +
        s"med=${f(ts.sorted.apply(ts.size / 2))} all=${ts.map(f).mkString(",")}")
    }
    spark.stop()
  }
}
