package graft.tools

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Single-query latency iteration harness — the timing sibling of
  * [[OracleProbe]]: times the named queries against one dir with a
  * noop sink (full-column evaluation, the bench's own sink), N reps
  * each, WITHOUT the bench's index phase — so a query that consumes no
  * session artifact iterates in seconds instead of minutes. Queries
  * that DO consume session artifacts pay the build inside rep 1; read
  * the later reps for the serving cost (the bench pre-warms instead).
  * Each rep also reports the Spark jobs, stages and tasks it ran and their
  * summed task run time, from a `SparkListener`:
  *
  *   [rep] events_rfm sf0.1 4 wall=0.919 jobs=12 stages=12 tasks=12 task_s=0.205
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
    val jobs, stages, tasks, taskMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null) taskMs.addAndGet(e.taskMetrics.executorRunTime)
      }
    })
    def f(v: Double) = f"$v%.3f"
    for (dir <- dirs; name <- names) {
      val ts = (1 to reps).map { rep =>
        ListenerBusDrain(spark.sparkContext)
        Seq(jobs, stages, tasks, taskMs).foreach(_.set(0))
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        ListenerBusDrain(spark.sparkContext)
        println(s"[rep] $name ${dir.split('/').last} $rep wall=${f(wall)} jobs=$jobs " +
          s"stages=$stages tasks=$tasks task_s=${f(taskMs.get / 1e3)}")
        wall
      }
      println(s"[time] $name ${dir.split('/').last} min=${f(ts.min)} " +
        s"med=${f(ts.sorted.apply(ts.size / 2))} all=${ts.map(f).mkString(",")}")
    }
    spark.stop()
  }
}
