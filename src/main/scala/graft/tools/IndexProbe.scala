package graft.tools

/** ISOLATED index-build decomposition (r19 — the r18 verdict's #1 ask):
  * runs every bench index-build chain STRICTLY SEQUENTIALLY on a quiet
  * box, so each artifact's wall is its own task work free of
  * co-scheduling inflation. Compared against the bench's `index_build`
  * map (the same builds under the 4-worker + graph-spine pooled
  * schedule), the difference attributes phase growth: an artifact whose
  * pooled wall ≫ isolated wall inflated under contention; one whose
  * isolated wall itself grew got more expensive for real.
  *
  * Even the dedup side chains run inline (a synchronous
  * ExecutionContext), so nothing overlaps anything.
  *
  *   sbt "runMain graft.tools.IndexProbe [sfDir]"
  *
  * Prints one `[idx] name sec` line per artifact in dependency order
  * plus a JSON summary with the serial total.
  */
object IndexProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Tables.sessionBuilder(s"local[$cpus]", cpus)
      .appName("index-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftExtensions.register(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()

    // run the dedup side futures INLINE on the calling thread — fully
    // sequential, zero overlap
    val inlineEc = scala.concurrent.ExecutionContext.fromExecutor(
      (r: Runnable) => r.run())

    val out = Seq.newBuilder[(String, Double)]
    def run(label: String)(f: => Seq[(String, Double)]): Unit = {
      val items =
        try f catch {
          case e: Throwable =>
            System.err.println(s"[idx] $label FAILED: $e"); Seq.empty
        }
      items.foreach { case (n, t) => println(f"[idx] $n $t%.3f") }
      out ++= items
    }
    val t0 = System.nanoTime()
    run("gram_word")(graft.ops.GramIndex.warmCachesWord(spark, dir))
    run("gram_char")(graft.ops.GramIndex.warmCachesChar(spark, dir))
    run("dedup") {
      val (core, sides) =
        graft.ops.DedupQueries.warmCachesSplit(spark, dir)(inlineEc)
      core ++ scala.concurrent.Await.result(
        sides, scala.concurrent.duration.Duration.Inf)
    }
    run("curation") {
      val c0 = System.nanoTime()
      graft.CurationPipeline.stages(spark, dir)
      Seq("curation_stages" -> (System.nanoTime() - c0) / 1e9)
    }
    run("vector")(graft.ops.VectorQueries.warmCaches(spark, dir))
    run("price_stats")(graft.ops.AdvancedQueries.warmCaches(spark, dir))
    run("mining")(graft.ops.MiningQueries.warmCaches(spark, dir))
    run("drift")(graft.ops.MiningQueries.warmCachesDrift(spark, dir))
    run("text")(graft.ops.TextQueries.warmCaches(spark, dir))
    run("graph_core")(graft.ops.GraphQueries.warmCachesCore(spark, dir))
    run("graph_tri")(graft.ops.GraphQueries.warmCachesTriangles(spark, dir))
    run("graph_adj")(graft.ops.GraphQueries.warmCachesAdjacency(spark, dir))
    run("graph_truss")(graft.ops.GraphQueries.warmCachesTruss(spark, dir))
    run("graph_coreness")(graft.ops.GraphQueries.warmCachesCoreness(spark, dir))
    val total = (System.nanoTime() - t0) / 1e9
    val items = out.result()
    def ms3(v: Double) =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    println(s"""{"probe":"index_isolated","dir":"$dir",""" +
      s""""serial_total":${ms3(total)},""" +
      s""""sum_items":${ms3(items.map(_._2).sum)},""" +
      s""""items":{${items.map { case (n, t) => s""""$n":${ms3(t)}""" }.mkString(",")}}}""")
    spark.stop()
  }
}
