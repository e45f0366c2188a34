package graft.streaming

/** Micro-benchmark isolating the HTTP post path (no Spark): sequential,
  * pipelined and parallel POST rates against DebugSink. Run:
  * `sbt "Test/runMain graft.streaming.PostMicroBench"`.
  */
object PostMicroBench {
  def main(args: Array[String]): Unit = {
    val sink = new DebugSink
    val n = 20000
    try {
      // warmup
      (1 to 50).foreach(i => Sinks.post(sink.url, "g", s"""{"w":$i}""", checkStatus = false))

      val t0 = System.nanoTime()
      var ok = 0
      (1 to n).foreach { i =>
        if (Sinks.post(sink.url, "g", s"""{"i":$i}""", checkStatus = false)) ok += 1
      }
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"sequential: $ok/$n in $sec%.2fs = ${n / sec}%.0f/s")

      val tp = System.nanoTime()
      var okp = 0
      FastHttp.pipelined[Unit]((_, status) => if (status >= 0) okp += 1) { send =>
        (1 to n).foreach(i => send(s"${sink.url}/g", s"""{"p":$i}""", ()))
      }
      val secp = (System.nanoTime() - tp) / 1e9
      println(f"pipelined:  $okp/$n in $secp%.2fs = ${n / secp}%.0f/s (one thread)")

      val t1 = System.nanoTime()
      val threads = (1 to 16).map { t =>
        new Thread(() => (1 to 200).foreach(i =>
          Sinks.post(sink.url, "g", s"""{"t":$t,"i":$i}""", checkStatus = false)))
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val sec2 = (System.nanoTime() - t1) / 1e9
      println(f"parallel16: 3200 in $sec2%.2fs = ${3200 / sec2}%.0f/s " +
        s"(captured=${sink.captured.size})")
    } finally {
      FastHttp.closeAll()
      sink.stop()
    }
  }
}
