package graft.tools

import org.apache.spark.sql.functions.{col, hash, sum}

/** ISOLATED index-build decomposition: runs the bench's index phase
  * ([[graft.ops.IndexPhase]]) with one worker, strictly sequentially, so
  * each artifact's wall is its own task work free of co-scheduling
  * inflation. Compared against the bench's `index_build` map (the same
  * builds on the bench's pool), the difference attributes phase growth:
  * an artifact whose pooled wall ≫ isolated wall inflated under
  * contention; one whose isolated wall itself grew got more expensive
  * for real.
  *
  *   sbt "runMain graft.tools.IndexProbe [sfDir]"
  *
  * Prints one `[idx] name sec` line per artifact in registry order plus
  * a JSON summary with the serial total. `SPARK_GRAFT_CPUS` sets
  * local[N] as in the bench (default: every available processor).
  */
object IndexProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = graft.Tables.cpus
    val spark = graft.Tables.sessionBuilder(s"local[$cpus]", cpus)
      .appName("index-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftExtensions.register(spark)
    // Untimed warm-up over the corpus itself: one read and aggregate of
    // every table, so the first artifact does not pay the session's first
    // parquet scans, codegen and JIT alone.
    graft.Tables.all.foreach { t =>
      val df = graft.Tables.load(spark, dir, t)
      df.select(sum(hash(df.columns.map(col).toIndexedSeq: _*))).collect()
    }

    val t0 = System.nanoTime()
    val items = graft.ops.IndexPhase.run(spark, dir, width = 1)
    val total = (System.nanoTime() - t0) / 1e9
    items.foreach { case (n, t) => println(f"[idx] $n $t%.3f") }
    def ms3(v: Double) =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    println(s"""{"probe":"index_isolated","dir":"$dir",""" +
      s""""serial_total":${ms3(total)},""" +
      s""""sum_items":${ms3(items.map(_._2).sum)},""" +
      s""""items":{${items.map { case (n, t) => s""""$n":${ms3(t)}""" }.mkString(",")}}}""")
    spark.stop()
  }
}
