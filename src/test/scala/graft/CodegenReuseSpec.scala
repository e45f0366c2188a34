package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.functions.BinlogTestData

/** Each generated class is compiled once per JVM: a warm re-run of the
  * same plans must hit Spark's codegen cache instead of recompiling.
  * `Tables.sessionConfigs` turns off what defeated that cache: a working
  * set larger than its LRU, a fresh classloader (part of the cache key)
  * per streaming query, and AQE stage ids in generated class names.
  * Compiles are counted with the JVM-wide `CodegenMetrics` histogram.
  */
class CodegenReuseSpec extends SparkSuite {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compilesOf(f: => Unit): Long = {
    val c0 = compiles()
    f
    compiles() - c0
  }

  test("a warm pass over the CDC query mix recompiles at most 10% of the cold pass") {
    graft.functions.GraftExtensions.register(spark)
    val mix = Seq("cdc_route_filter", "cdc_envelope", "join_inner3", "events_rfm")
    def pass(): Long = compilesOf(mix.foreach(q =>
      SparkEntry.queries(q)(spark, sfDir).write.mode("overwrite").format("noop").save()))
    val cold = pass()
    val warm = pass()
    info(s"compiles: cold pass $cold, warm pass $warm")
    assert(warm <= cold / 10, s"warm pass recompiled $warm of the cold pass's $cold classes")
  }

  test("a second AvailableNow run of the binlog envelope query compiles nothing") {
    import BinlogTestData.rowsEvent
    val spool = BinlogTestData.spool(
      rowsEvent(30, 100L)((1L, "apple"), (2L, "pear")),
      rowsEvent(31, 100L)((1L, "apple"), (1L, "banana")),
      rowsEvent(32, 100L)((2L, "pear")))

    // one catch-up round: a new query, a fresh checkpoint, the same spool
    def round(): (Long, Long) = {
      val delivered = new java.util.concurrent.atomic.LongAdder
      val n = compilesOf {
        BinlogTestData.envelopes(spark, spool).writeStream
          .option("checkpointLocation", Files.createTempDirectory("codegen_ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) => delivered.add(batch.collect().length); () }
          .start().awaitTermination()
      }
      (n, delivered.sum)
    }
    val (first, firstRows) = round()
    val (second, secondRows) = round()
    info(s"compiles: first run $first, second run $second")
    // 2 inserts + 1 update; the delete is dropped by the action filter
    assert(firstRows == 3 && secondRows == 3, s"$firstRows / $secondRows rows")
    assert(first > 0, "the first run compiled nothing: the counter does not see this plan")
    assert(second == 0, s"the second run recompiled $second classes the first run compiled")
  }
}
