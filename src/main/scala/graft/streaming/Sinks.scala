package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The reference's two delivery paths (reference `main.go:94-113`,
  * `main.go:383-419`) as Structured Streaming sinks. Both are
  * `foreachBatch`-based so they ride the engine's offset/commit logs for
  * at-least-once delivery — the same guarantee the reference gets from its
  * Redis/file position checkpoint (`main.go:287-306`), with replay collapsed
  * by `CdcPipeline.dedupWithinWatermark` when idempotence is wanted.
  *
  * Scale design: the batch is repartitioned by routing group before the
  * POST loop so one slow group never head-of-line-blocks others (the
  * reference single-threads everything, `main.go:64-114`), and each task
  * reuses one pooled HTTP client per executor instead of a connection per
  * event.
  */
object Sinks {

  /** POST one payload to `postUrl/group` (`main.go:105`) over the pooled
    * keep-alive client (see FastHttp — the JDK client stalls ~40ms per
    * small POST). Faithful mode ignores the response status entirely
    * (hazard H4); fixed mode returns success only for 2xx so callers can
    * retry/dead-letter. Transport failure → false, log-and-continue
    * (`main.go:108-111`).
    */
  def post(postUrl: String, group: String, payload: String, checkStatus: Boolean): Boolean = {
    val status = FastHttp.post(s"$postUrl/$group", payload)
    if (status < 0) false
    else !checkStatus || (status >= 200 && status < 300)
  }

  /** The one HTTP POST loop: partition the batch by group and POST each row
    * on the executor. With a `dlq`, each partition task writes the rows whose
    * POST failed to its own client of that queue.
    */
  private def postByGroup(batch: DataFrame, postUrl: String, checkStatus: Boolean,
      dlq: Option[DurableQueue]): Unit = {
    val n = math.max(1, batch.sparkSession.sparkContext.defaultParallelism)
    batch.select(col("group"), col("payload"))
      .repartition(n, col("group"))
      .foreachPartition { rows: Iterator[Row] =>
        def postAll(failed: (String, String) => Unit): Unit = rows.foreach { r =>
          val (group, payload) = (r.getString(0), r.getString(1))
          if (!post(postUrl, group, payload, checkStatus)) failed(group, payload)
        }
        dlq match {
          case Some(q) => withClient(q)(c => postAll(c.enqueue))
          case None => postAll((_, _) => ())
        }
      }
  }

  /** Run one partition task's writes through its own client of `q`. The
    * client publishes on success; a failed task aborts its half-written
    * segment and lets Spark's retry produce the complete one, so a reader
    * never sees data from an attempt that did not finish.
    */
  private def withClient(q: DurableQueue)(write: QueueClient => Unit): Unit = {
    val c = q.client()
    try {
      write(c)
      c.close()
    } catch { case e: Throwable => c.abort(); throw e }
  }

  /** HTTP delivery for one micro-batch: partition by group, POST per row. */
  def httpDeliverBatch(batch: DataFrame, postUrl: String, checkStatus: Boolean): Unit =
    postByGroup(batch, postUrl, checkStatus, dlq = None)

  /** Sink A analog (`main.go:95`): enqueue payloads to the caller's queue —
    * the stand-in for the reference's Redis list (`cdc_events`,
    * `main.go:36-39`). [[FileQueue]] survives process death like the
    * reference's list does; [[RedisQueue]] is that list. The queue-drain
    * second pipeline (R15) then consumes it via [[queueStream]] or
    * [[drainQueue]].
    *
    * Executor-side enqueue: one client per partition task, rows never pass
    * through the driver (the r2 driver-side `collect()` made the driver the
    * throughput ceiling of sink A while the HTTP sink was per-partition).
    */
  def queueDeliverBatch(batch: DataFrame, q: DurableQueue): Unit =
    batch.select(col("group"), col("payload")).foreachPartition { rows: Iterator[Row] =>
      withClient(q)(c => rows.foreach(r => c.enqueue(r.getString(0), r.getString(1))))
    }

  /** HTTP delivery with dead-lettering (fixed mode): a failed POST
    * (transport error or non-2xx) is written to `dlq` on the executor
    * instead of vanishing — the reference's direct path has no retry or
    * dead-lettering at all (hazard H4; `main.go:108-111` just logs). A
    * [[FileQueue]] DLQ holds `q-*.seg` segments, so [[queueStream]]
    * redrives it like the queue leg.
    */
  def httpDeliverBatchDlq(batch: DataFrame, postUrl: String, dlq: DurableQueue): Unit =
    postByGroup(batch, postUrl, checkStatus = true, Some(dlq))

  /** The queue-drain second pipeline (R15, reference `main.go:383-419`):
    * pop everything currently queued and POST each payload again —
    * re-resolving the group from the payload itself like the reference's
    * worker (`extractTableNameFromPayload`, `main.go:421-430`), so a table
    * unmapped between enqueue and drain is dropped, not crashed (H7 fixed:
    * unparsable payloads are skipped).
    *
    * The only drain that can read a [[RedisQueue]]: the reference's list
    * holds bare payloads with no group, so the group must be re-derived
    * from each payload; [[queueStream]] reads [[FileQueue]] segments only.
    *
    * Faithful mode, like the reference worker: the response status is
    * ignored, so the returned count is the POSTs that got any HTTP status.
    */
  def drainQueue(postUrl: String, tableToGroup: Map[String, String],
      q: DurableQueue): Int = {
    val tableRe = """"source":\{"table":"([^"]+)"\}""".r
    var n = 0
    q.drain { (_, payload) =>
      tableRe.findFirstMatchIn(payload).map(_.group(1))
        .flatMap(tableToGroup.get)
        .foreach { group => if (post(postUrl, group, payload, checkStatus = false)) n += 1 }
    }
    n
  }

  /** The queue-drain pipeline as a STREAMING query (R15 the Spark-native
    * way): a [[FileQueue]] directory is just files, so Spark's file-stream
    * source tails it natively — new segments published by the enqueue side
    * become micro-batches here, with the engine checkpoint tracking which
    * segments were already drained (exactly-once segment accounting, vs the
    * reference worker's destructive BLPOP that loses an event popped right
    * before a crash, `main.go:383-419`). Returns `(group, payload)` rows;
    * wire to [[httpDeliverBatch]] via `foreachBatch` for the POST leg.
    */
  def queueStream(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val lines = spark.readStream
      .format("text")
      .option("pathGlobFilter", "q-*.seg")
      .load(dir)
    val tab = instr(col("value"), "\t")
    lines.filter(tab > 0).select(
      substring_index(col("value"), "\t", 1).as("group"),
      expr("substring(value, instr(value, '\t') + 1)").as("payload"))
  }

  /** Wire the dual-sink topology (H3: every event delivered on BOTH paths)
    * onto a streaming envelope DataFrame. One streaming query, one
    * `foreachBatch` writing to both sinks — at-least-once ×2 like the
    * reference, minus its crash-replay window. The HTTP leg is faithful
    * mode: the response status is ignored (H4).
    */
  def dualSink(
      envelopes: DataFrame,
      postUrl: String,
      checkpointDir: String,
      q: DurableQueue): DataStreamWriter[Row] =
    envelopes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val cached = batch.persist()
        try {
          httpDeliverBatch(cached, postUrl, checkStatus = false)
          queueDeliverBatch(cached, q)
        } finally { cached.unpersist(); () }
      }

  def runToCompletion(w: DataStreamWriter[Row]): StreamingQuery = {
    val q = w.start()
    q.awaitTermination()
    q
  }
}
