package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite
import graft.functions.{BinlogRows, BinlogTestData}
import graft.functions.BinlogTestData.{rowsEvent, tableMap}
import graft.sources.CdcBinlogDirSource

/** `Tables.sessionConfigs` turns AQE off for stateless streaming only: the
  * micro-batch plan of the binlog envelope query (a broadcast join, no
  * shuffle) runs without `AdaptiveSparkPlanExec`, while the same query as a
  * batch, and a `foreachBatch` Dataset that shuffles, keep it.
  */
class StreamingAqeSpec extends SparkSuite {

  private def adaptive(p: SparkPlan): Boolean =
    p.find(_.isInstanceOf[AdaptiveSparkPlanExec]).isDefined

  test("stateless micro-batches plan without AQE; batch queries and foreachBatch keep it") {
    val spool = BinlogTestData.spool(
      rowsEvent(30, 100L)((1L, "apple"), (2L, "pear")), rowsEvent(30, 100L)((3L, "fig")))
    val q = BinlogTestData.envelopes(spark, spool).writeStream.format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_aqe_ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val micro = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    assert(!adaptive(micro), micro.treeString)
    assert(micro.toString.contains("BroadcastHashJoin"), micro.treeString)

    val dirSource = classOf[CdcBinlogDirSource].getName
    val raw = spark.read.format(dirSource).option("path", spool.toString).load()
    val tms = raw.select(BinlogRows.binlog_table_id(col("event")).as("table_id"))
    val batch = raw.select(BinlogRows.binlog_table_id(col("event")).as("table_id"))
      .join(broadcast(tms), "table_id")
    assert(adaptive(batch.queryExecution.executedPlan), batch.queryExecution.executedPlan.treeString)

    @volatile var inBatch: SparkPlan = null
    BinlogTestData.appendToSpool(spool, tableMap(100L, "shop", "orders"),
      rowsEvent(30, 100L)((4L, "kiwi")))
    val fb = BinlogTestData.envelopes(spark, spool).writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_aqe_fb_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val shuffled = b.repartition(2, col("group"))
        shuffled.collect()
        inBatch = shuffled.queryExecution.executedPlan
        ()
      }.start()
    fb.awaitTermination()
    assert(inBatch != null && adaptive(inBatch), String.valueOf(inBatch))
  }
}
