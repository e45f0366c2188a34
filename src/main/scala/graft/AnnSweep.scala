package graft

/** ANN knob sweep — the tuning harness behind the r12 recall work: prints
  * recall@3 per variant for each knob combo at the given data dir, plus the
  * wall time of one RecallReport pass. Usage:
  *   runMain graft.AnnSweep <sfDir> [nProbe,lshTables,lshFlips,pqShortlist]...
  * With no combos it measures the shipped defaults.
  */
object AnnSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val combos = args.drop(1).map(_.split(",").map(_.trim.toInt))
    val spark = Tables.sessionBuilder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftExtensions.register(spark)
    val padded = if (combos.isEmpty) Array(Array.empty[Int]) else combos
    for (c <- padded) {
      if (c.length >= 4) {
        spark.conf.set(graft.ops.VectorQueries.NProbeKey, c(0).toString)
        spark.conf.set(graft.ops.VectorQueries.LshTablesKey, c(1).toString)
        spark.conf.set(graft.ops.VectorQueries.LshFlipsKey, c(2).toString)
        spark.conf.set(graft.ops.VectorQueries.PqShortlistKey, c(3).toString)
      }
      if (c.length >= 6) {
        spark.conf.set(graft.ops.VectorQueries.CellFactorKey, c(4).toString)
        spark.conf.set(graft.ops.VectorQueries.KmeansItersKey, c(5).toString)
      }
      if (c.length >= 7)
        spark.conf.set(graft.ops.VectorQueries.KnnNProbeKey, c(6).toString)
      if (c.length >= 9) {
        spark.conf.set(graft.ops.VectorQueries.IvfPqNProbeKey, c(7).toString)
        spark.conf.set(graft.ops.VectorQueries.IvfPqShortlistKey, c(8).toString)
      }
      val t0 = System.nanoTime()
      val recall = graft.ops.RecallReport.compute(spark, sfDir)
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"COMBO ${c.mkString(",")} dir=$sfDir sec=${math.rint(sec * 100) / 100} " +
        recall.map { case (k, v) => s"$k=${math.rint(v * 1000) / 1000}" }.mkString(" "))
    }
    spark.stop()
  }
}
