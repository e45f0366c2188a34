package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The index-phase scheduler on fake artifacts (no Spark: the builds get a
  * null session), and the contract of the real registry.
  */
class IndexPhaseSpec extends AnyFunSuite {

  /** Fake artifacts that log "start:name" / "end:name" and sleep `ms`. */
  private class Log {
    val events = new ConcurrentLinkedQueue[String]()
    def artifact(name: String, deps: String*)(ms: Long): IndexArtifact =
      IndexArtifact(name, deps, (_, _) => {
        events.add(s"start:$name")
        Thread.sleep(ms)
        events.add(s"end:$name")
      })
    def seq: Seq[String] = events.asScala.toSeq
  }

  private def run(width: Int, as: Seq[IndexArtifact]): Seq[(String, Double)] =
    IndexPhase.run(null: SparkSession, "unused", width, as)

  test("each artifact runs once, and only after all its deps finish") {
    val log = new Log
    val as = Seq(
      log.artifact("a")(30), log.artifact("b", "a")(10), log.artifact("c", "a")(40),
      log.artifact("d", "b", "c")(5), log.artifact("e")(20), log.artifact("f", "e", "d")(5))
    val out = run(3, as)
    assert(out.map(_._1) == Seq("a", "b", "c", "d", "e", "f"))
    assert(out.forall(_._2 >= 0.0))
    val ev = log.seq
    for (a <- as) {
      assert(ev.count(_ == s"start:${a.name}") == 1, a.name)
      for (d <- a.deps)
        assert(ev.indexOf(s"end:$d") < ev.indexOf(s"start:${a.name}"), s"${a.name} after $d")
    }
  }

  test("no more than width artifacts run at once") {
    val running = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val as = (1 to 12).map(i => IndexArtifact(s"x$i", Nil, (_, _) => {
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep(40)
      running.decrementAndGet()
    }))
    assert(run(3, as).size == 12)
    assert(peak.get <= 3)
    assert(peak.get >= 2, "the workers never overlapped")
  }

  test("width 1 runs the artifacts in registry order") {
    val log = new Log
    val names = Seq("p", "q", "r", "s", "t")
    val as = Seq(log.artifact("p")(1), log.artifact("q")(1), log.artifact("r", "p")(1),
      log.artifact("s")(1), log.artifact("t", "r", "q")(1))
    run(1, as)
    assert(log.seq == names.flatMap(n => Seq(s"start:$n", s"end:$n")))
  }

  test("a throwing artifact emits no entry, and its dependents still run") {
    val log = new Log
    val boom = IndexArtifact("boom", Nil, (_, _) => throw new IllegalStateException("x"))
    val out = run(2, Seq(boom, log.artifact("after", "boom")(1), log.artifact("other")(1)))
    assert(out.map(_._1) == Seq("after", "other"))
  }

  test("a gated artifact emits nothing and does not build") {
    val log = new Log
    val built = new AtomicInteger(0)
    val gated = IndexArtifact("gated", Nil, (_, _) => built.incrementAndGet(),
      gated = (_, _) => true)
    val out = run(2, Seq(gated, log.artifact("next", "gated")(1)))
    assert(out.map(_._1) == Seq("next"))
    assert(built.get == 0)
  }

  test("a bad registry is rejected before any build starts") {
    val built = new AtomicInteger(0)
    def a(n: String, deps: String*) = IndexArtifact(n, deps, (_, _) => built.incrementAndGet())
    for (bad <- Seq(Seq(a("x"), a("x")), Seq(a("x", "missing")), Seq(a("x", "y"), a("y", "x"))))
      intercept[IllegalArgumentException](run(2, bad))
    assert(built.get == 0)
  }

  test("registry contract: unique names, declared deps, acyclic, today's 32 index_build keys") {
    val reg = IndexPhase.registry
    val names = reg.map(_.name)
    assert(names.distinct.size == names.size)
    assert(reg.flatMap(_.deps).toSet.subsetOf(names.toSet))
    IndexPhase.checkGraph(reg) // throws on a cycle
    val expected = Set(
      "graph_edges", "graph_degrees", "graph_tri_corners", "graph_tri_edges",
      "graph_adjacency", "graph_wedge_candidates", "graph_truss_labels",
      "graph_coreness_labels",
      "pos_grams", "bigram_cells", "doc_trigrams", "term_counts",
      "shingles", "doc_index", "pairs_jaccard_0.5", "comp_jaccard_0.5",
      "pairs_containment_0.8", "bloom_sketch", "pairs_cosine_0.45", "comp_cosine_0.45",
      "curation_stages",
      "emb_norms", "ivf_codebook", "pq_codebook", "mmr_shortlist", "recall_pairs",
      "price_quantiles", "trim_cutoffs", "spearman_grains",
      "assoc_supports", "drift_hist", "ngram_lm")
    assert(expected.size == 32)
    assert(names.toSet == expected)
    // the critical path is first in registry order, so it starts at t = 0
    assert(names.head == "graph_edges")
  }
}
