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
  * delivery loop so one slow group never head-of-line-blocks others (the
  * reference single-threads everything, `main.go:64-114`), and each task
  * POSTs its rows in order on its thread's pooled keep-alive connection,
  * pipelined: up to a window of requests is in flight, and each response
  * is matched to its row in order ([[FastHttp.pipelined]]). The reference
  * instead waits a full round trip per event on each path (`main.go:105-113`,
  * `main.go:409-417`). [[dualSink]] runs both paths in that one loop, as the
  * reference does per event: one shuffle and one delivery stage per
  * micro-batch, nothing cached.
  */
object Sinks {

  /** POST one payload to `postUrl/group` (`main.go:105`) over the pooled
    * keep-alive client (see FastHttp — the JDK client stalls ~40ms per
    * small POST). Faithful mode ignores the response status entirely
    * (hazard H4); fixed mode returns success only for 2xx so callers can
    * retry/dead-letter. Transport failure → false, log-and-continue
    * (`main.go:108-111`).
    */
  def post(postUrl: String, group: String, payload: String, checkStatus: Boolean): Boolean =
    delivered(FastHttp.post(s"$postUrl/$group", payload), checkStatus)

  private def delivered(status: Int, checkStatus: Boolean): Boolean =
    status >= 0 && (!checkStatus || (status >= 200 && status < 300))

  /** POST each `(group, payload)` row to `postUrl/group`, pipelined on this
    * task's connection; `onStatus` gets each row with its status, in order.
    */
  private def postRows(postUrl: String, rows: Iterator[(String, String)])(
      onStatus: ((String, String), Int) => Unit): Unit =
    FastHttp.pipelined(onStatus)(send => rows.foreach(r => send(s"$postUrl/${r._1}", r._2, r)))

  /** The one delivery loop: partition the batch by group and hand each
    * partition task its `(group, payload)` rows, on the executor.
    */
  private def byGroup(batch: DataFrame)(deliver: Iterator[(String, String)] => Unit): Unit = {
    val n = math.max(1, batch.sparkSession.sparkContext.defaultParallelism)
    batch.select(col("group"), col("payload"))
      .repartition(n, col("group"))
      .foreachPartition { rows: Iterator[Row] =>
        deliver(rows.map(r => (r.getString(0), r.getString(1))))
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

  /** HTTP delivery for one micro-batch: partition by group, POST per row.
    * Nothing acts on a status here, so `checkStatus` changes nothing; fixed
    * mode that acts on it is [[httpDeliverBatchDlq]].
    */
  def httpDeliverBatch(batch: DataFrame, postUrl: String, checkStatus: Boolean): Unit =
    byGroup(batch)(rows => postRows(postUrl, rows)((_, _) => ()))

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
    byGroup(batch)(rows => withClient(dlq)(c => postRows(postUrl, rows) { case ((g, p), status) =>
      if (!delivered(status, checkStatus = true)) c.enqueue(g, p)
    }))

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
    * The POSTs are pipelined, so a [[FileQueue]] may delete a segment while
    * up to one window of its POSTs is still unanswered.
    */
  def drainQueue(postUrl: String, tableToGroup: Map[String, String],
      q: DurableQueue): Int = {
    val tableRe = """"source":\{"table":"([^"]+)"\}""".r
    var n = 0
    FastHttp.pipelined[Unit]((_, status) => if (delivered(status, checkStatus = false)) n += 1) { send =>
      q.drain { (_, payload) =>
        tableRe.findFirstMatchIn(payload).map(_.group(1))
          .flatMap(tableToGroup.get)
          .foreach(group => send(s"$postUrl/$group", payload, ()))
      }
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
    *
    * Each micro-batch is delivered in one pass with no cache: partition by
    * group, and in each task enqueue each row to its own client of `q` and
    * then POST it, the reference's per-event order (`main.go:95`, then
    * `main.go:107`). The POSTs are pipelined: a row is enqueued before its
    * request is written, and the task reads every response before it
    * publishes its segment.
    * The task's queue segment is published when the task ends, so a
    * failed task re-sends its POSTs but never half a segment.
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
        byGroup(batch)(rows => withClient(q)(c =>
          postRows(postUrl, rows.map { r => c.enqueue(r._1, r._2); r })((_, _) => ())))
      }

  def runToCompletion(w: DataStreamWriter[Row]): StreamingQuery = {
    val q = w.start()
    q.awaitTermination()
    q
  }
}
