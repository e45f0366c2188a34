package graft.ops

import org.apache.spark.sql.SparkSession

/** One session-lifetime index artifact: `build` materializes it into its
  * family's cache for (session, dir), and `name` is its `index_build` key.
  * `deps` are the artifacts that must finish before it starts. An artifact
  * whose `gated` test holds for the data is skipped and emits no entry.
  */
final case class IndexArtifact(
    name: String,
    deps: Seq[String],
    build: (SparkSession, String) => Unit,
    gated: (SparkSession, String) => Boolean = (_, _) => false)

/** The index phase: builds every declared [[IndexArtifact]] once, before
  * the timed queries, so query medians time the consuming plans and each
  * build stays visible as its own `index_build` entry.
  *
  * A list scheduler on one fixed pool of `width` workers: a free worker
  * starts the first artifact in registry order whose deps have all
  * finished. The width bounds how many job DAGs share the executor
  * threads and the memory pool at once; with every chain launched at
  * once, co-scheduled cold builds inflated 4-7× or ran out of memory.
  * The registry lists the graph family first, so its spine (edges →
  * degrees → triangles → support → truss), the phase's critical path,
  * starts at t = 0 and every later link takes the next free worker.
  *
  * Each build is timed here and nowhere else; a number is that build's
  * own wall under the concurrency of the moment. A failing build is
  * logged and emits no entry; its dependents still run, since every
  * accessor builds its own inputs on demand.
  */
object IndexPhase {

  /** Every artifact, in registry order. */
  def registry: Seq[IndexArtifact] =
    GraphQueries.indexArtifacts ++ DedupQueries.indexArtifacts ++ Seq(
      // the curation stages read the Jaccard labels and, in the span
      // stage, the word 5-gram positions
      IndexArtifact("curation_stages", Seq("comp_jaccard_0.5", "pos_grams"),
        (s, dir) => graft.CurationPipeline.stages(s, dir))) ++
      VectorQueries.indexArtifacts ++ AdvancedQueries.indexArtifacts ++
      GramIndex.indexArtifacts ++ MiningQueries.indexArtifacts ++
      TextQueries.indexArtifacts

  /** Build `artifacts` on `width` workers; returns (name, seconds) for
    * every artifact that built, in registry order.
    */
  def run(spark: SparkSession, dir: String, width: Int,
      artifacts: Seq[IndexArtifact] = registry): Seq[(String, Double)] = {
    require(width >= 1, s"width must be at least 1, got $width")
    checkGraph(artifacts)
    val lock = new Object
    val pending = scala.collection.mutable.ArrayBuffer.from(artifacts)
    val finished = scala.collection.mutable.Set[String]()
    val secs = scala.collection.mutable.Map[String, Double]()
    // blocks until an artifact is ready; None once none is left to start
    def next(): Option[IndexArtifact] = lock.synchronized {
      def ready = pending.indexWhere(_.deps.forall(finished))
      while (ready < 0 && pending.nonEmpty) lock.wait()
      val i = ready
      if (i < 0) None else Some(pending.remove(i))
    }
    def work(): Unit =
      Iterator.continually(next()).takeWhile(_.isDefined).flatten.foreach { a =>
        val sec = build(spark, dir, a)
        lock.synchronized {
          finished += a.name
          sec.foreach(secs(a.name) = _)
          lock.notifyAll()
        }
      }
    val workers = Seq.tabulate(width)(i => new Thread(() => work(), s"index-phase-$i"))
    workers.foreach(_.start())
    workers.foreach(_.join())
    artifacts.flatMap(a => secs.get(a.name).map(a.name -> _))
  }

  private def build(spark: SparkSession, dir: String, a: IndexArtifact): Option[Double] =
    try {
      if (a.gated(spark, dir)) None
      else {
        val t0 = System.nanoTime()
        a.build(spark, dir)
        Some((System.nanoTime() - t0) / 1e9)
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[index] ${a.name} failed (continuing): $e")
        None
    }

  /** Names are unique, every dep is declared, and the deps are acyclic —
    * otherwise a worker would wait forever on an artifact that never
    * finishes.
    */
  private[ops] def checkGraph(artifacts: Seq[IndexArtifact]): Unit = {
    val names = artifacts.map(_.name)
    require(names.distinct.size == names.size,
      s"duplicate artifact names: ${names.diff(names.distinct).mkString(", ")}")
    val undeclared = artifacts.flatMap(_.deps).filterNot(names.toSet)
    require(undeclared.isEmpty, s"undeclared deps: ${undeclared.mkString(", ")}")
    var left = artifacts
    val done = scala.collection.mutable.Set[String]()
    while (left.nonEmpty) {
      val (ready, blocked) = left.partition(_.deps.forall(done))
      require(ready.nonEmpty, s"dependency cycle among: ${blocked.map(_.name).mkString(", ")}")
      done ++= ready.map(_.name)
      left = blocked
    }
  }
}
