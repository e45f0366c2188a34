package graft

/** Physical-plan audit: prints `explain("formatted")` for the headline
  * queries so plan regressions (lost pushdown, surprise shuffles, missed
  * broadcasts) are visible. Run: `sbt "runMain graft.Plans [query ...]"`.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Tables.sessionBuilder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)
    val names = if (args.nonEmpty) args.toSeq
    else Seq("q1_agg", "join_inner3", "join_broadcast", "sort_topk",
      "cdc_action_filter", "sim_cosine_topk", "window_tumbling",
      "join_asof_native", "sim_ann_pq", "pipeline_contamination",
      "agg_percentile", "dedup_containment", "text_repetition",
      "text_unigram_logprob", "pipeline_dedup_select", "text_heavy_hitters")
    names.foreach { n =>
      println(s"\n=== $n ===")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
