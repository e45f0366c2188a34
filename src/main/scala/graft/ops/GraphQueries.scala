package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over the part co-purchase graph (round 11).
  *
  * Training-data curation at 100 TB routinely needs graph passes over
  * similarity / co-occurrence structures: connected components already
  * exist (`dedup_components`); this family adds the other three classics —
  * degree profiling, triangle counting, and PageRank — each expressed as
  * pure shuffle-bounded DataFrame plans with an exact DuckDB oracle.
  *
  * The graph: vertices are parts, and an undirected edge {u, v} exists
  * when parts u and v are ever bought in the same order (distinct pairs
  * via a per-order self-join — per-order item counts are bounded, so the
  * pair enumeration is O(k²)-per-order with tiny k, never quadratic in
  * the table). sf0.01: 2 000 nodes / 115 729 edges / 13.8 M wedges.
  *
  * Determinism: PageRank runs in FIXED-POINT INTEGER arithmetic (rank
  * mass scaled by 10^12, truncating `div` for every split) so the
  * three-iteration result is bit-exact in any engine — no
  * float-summation-order hazard, which would otherwise make an iterative
  * FP fixpoint un-oracle-able. Triangle counting uses degree-peeling
  * orientation in Spark (each edge directed toward the higher
  * (degree, id) endpoint, so enumeration cost is Σ C(outdeg, 2) with
  * outdeg bounded by arboricity ~ O(√m)) while the oracle uses the
  * simpler u<v orientation — the global count is orientation-invariant.
  */
object GraphQueries {

  /** Edge-set cache, materialized once per (session, dir) — the same
    * session-lifetime index policy as the dedup family's pair caches:
    * every graph query starts from the identical distinct co-purchase
    * edge set (the per-order self-join + distinct is ~2 s at sf0.1, and
    * seven queries rebuilt it independently — ~14 s of redundant work per
    * bench pass before r10 cached it). localCheckpoint, NOT persist():
    * measured, the InMemoryRelation from persist() made every consumer
    * SLOWER than no cache at all (k-core 7.9 → 36 s — the columnar cache
    * boundary changes downstream join planning), while the checkpointed
    * RDD keeps the consumers' plans identical and cut the family roughly
    * in half (k-core 4.2 s, pagerank 4.4 s, triangles 4.4 s,
    * common-neighbors 2.0 s). [[IndexPhase]] builds and times it as a
    * first-class `index_build` entry.
    */
  private val edgeCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def buildEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    // Per-order pair enumeration: equi-join on the order key; both sides
    // are the same small projection, hash-join shuffled once on ok.
    li.as("a").hint("SHUFFLE_HASH")
      .join(li.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct()
  }

  /** Distinct co-purchase edges (u < v), u/v = l_partkey. */
  private def edges(s: SparkSession, dir: String): DataFrame = {
    edgeCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    // chain artifacts honor spark.graft.checkpointStorageLevel (r18): the
    // 100× probe's ~27 GB of resident graph checkpoints OOMed a 31 g heap
    // at MEMORY_AND_DISK; DISK_ONLY moves residency to the page cache
    edgeCache.computeIfAbsent((s, dir), _ =>
      org.apache.spark.sql.GraftColumnBridge
        .leveledLocalCheckpoint(buildEdges(s, dir)))
  }

  /** Degree table `(u, d)` over the undirected adjacency, cached next to
    * the edge cache (r11): 6 of the 7 graph queries re-derived
    * `bidirectional` + `groupBy(u).count` from the cached edges — a
    * shuffle of 2·|E| rows per query per bench rep that the ~|V|-row
    * checkpoint eliminates. Same localCheckpoint policy as [[edges]]
    * (persist()'s InMemoryRelation boundary regresses downstream join
    * planning — measured in r10).
    */
  private val degreeCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def degrees(s: SparkSession, dir: String): DataFrame = {
    degreeCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    degreeCache.computeIfAbsent((s, dir), _ =>
      org.apache.spark.sql.GraftColumnBridge.leveledLocalCheckpoint(
        bidirectional(edges(s, dir))
          .groupBy("u").agg(count(lit(1)).as("d"))))
  }

  /** Ranked bidirectional adjacency `(u, rn, v)` — rn = 1-based rank of v
    * among u's neighbors ascending — cached per (session, dir) (r15, the
    * r14 verdict's ask #4): `graph_random_walk` rebuilt the ranking
    * window over the edge cache on every rep (the family's only
    * per-rep window over corpus-scale rows, the one >0.04 s regression
    * in r14's audit), and the BFS family re-derived `bidirectional` per
    * round. One |2E|-row checkpoint serves the walk's rank join and the
    * traversal family's adjacency scans (`rn` projected away there —
    * the checkpoint is the same rows either way). Same localCheckpoint
    * policy as [[edges]]; the ranking window partitions by node, so
    * per-partition work is bounded by degree at any scale.
    *
    * SIZE-GATED (measured in this round's 100× probe): the deserialized
    * checkpoint is ~50 B/row, and at the 100× replica (239M directed
    * rows ≈ 12 GB) pinning it under the walk's own shuffles OOMed a 31 g
    * heap — where r14's TRANSIENT per-query window ran fine (spillable
    * execution memory instead of resident storage). Above
    * [[AdjCacheMaxEdgesKey]] directed rows the accessor returns the
    * uncached plan, trading per-query recompute for bounded residency —
    * the same artifact-vs-recompute line every cache here draws, made
    * explicit.
    */
  val AdjCacheMaxEdgesKey = "spark.graft.graph.adjCacheMaxEdges"

  private def adjCacheGate(s: SparkSession): Long =
    s.conf.get(AdjCacheMaxEdgesKey, "50000000").toLong

  private val adjCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def rankedAdjacencyPlan(s: SparkSession, dir: String): DataFrame =
    bidirectional(edges(s, dir))
      .withColumn("rn", row_number()
        .over(Window.partitionBy("u").orderBy("v")).cast("long"))
      // d = degree of u, in the SAME window pass (same partition+order
      // spec, whole-partition frame — one WindowExec computes both).
      // r19: carrying the degree on the adjacency row lets the random
      // walk pick its neighbor with ONE equi-join on u per step (rank
      // match as an integer residual) instead of a degree join plus a
      // (u, rank)-keyed join — two corpus exchanges fewer per step.
      .withColumn("d", count(lit(1))
        .over(Window.partitionBy("u").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))

  private def rankedAdjacency(s: SparkSession, dir: String): DataFrame = {
    adjCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    if (adjCacheGated(s, dir))
      return rankedAdjacencyPlan(s, dir)
    adjCache.computeIfAbsent((s, dir),
      _ => org.apache.spark.sql.GraftColumnBridge
        .leveledLocalCheckpoint(rankedAdjacencyPlan(s, dir)))
  }

  /** One gate decision per (session, dir): the edge count is fixed, so the
    * probe is memoized ([[edgeCount]]) instead of re-running a Spark job
    * on every adjacency access (r15 ADVICE — adjacency() used to pay the
    * count twice per call, plus once per random-walk query).
    */
  private[ops] def adjCacheGated(s: SparkSession, dir: String): Boolean =
    2 * edgeCount(s, dir) > adjCacheGate(s)

  /** The plain bidirectional adjacency for the traversal family: the
    * cached ranked checkpoint's rows below the gate, the narrow edge-cache
    * union above it (never a window nobody's rank consumes).
    */
  private def adjacency(s: SparkSession, dir: String): DataFrame =
    if (adjCacheGated(s, dir)) bidirectional(edges(s, dir))
    else rankedAdjacency(s, dir).select("u", "v")

  /** Landmark-BFS reached set `(src, u, dist ≤ 3)` over the 3 lowest-id
    * seeds, materialized once per (session, dir) — r18:
    * `graph_landmark_distance` and `graph_eccentricity` each re-ran the
    * identical 3-seed × 3-round frontier expansion (~1.8 s apiece on the
    * pooled board); the ≤ 3·|V|-row checkpoint serves both (one is the
    * per-landmark histogram, the other the per-node max — different folds
    * of the same reached set). Same localCheckpoint policy as [[edges]].
    */
  private val landmarkCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def landmarkReached(s: SparkSession, dir: String): DataFrame = {
    landmarkCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    landmarkCache.computeIfAbsent((s, dir), _ =>
      org.apache.spark.sql.GraftColumnBridge.leveledLocalCheckpoint {
        val bi = adjacency(s, dir)
        val seeds = degrees(s, dir).orderBy("u").limit(3)
          .select(col("u").as("src"), col("u"))
        var reached = seeds.withColumn("dist", lit(0L))
        var frontier = seeds
        for (r <- 1 to 3) {
          val next = bi.join(frontier, "u")
            .select(col("src"), col("v").as("u")).distinct()
            .join(reached.select("src", "u"), Seq("src", "u"), "left_anti")
          reached = reached.unionByName(next.withColumn("dist", lit(r.toLong)))
          frontier = next
        }
        reached
      })
  }

  /** Per-node closed-triangle corner counts `(u, tri)`, materialized once
    * per (session, dir) — r12: `graph_triangles` and
    * `graph_clustering_coeff` each re-ran the FULL arboricity-bounded
    * wedge enumeration (~3.3 s apiece at sf0.1, the costliest subtree in
    * the graph family); the O(V)-row corner-count checkpoint serves both
    * (Σ tri = 3·T exactly, since every closed triangle credits exactly
    * its 3 corners). Same localCheckpoint policy as [[edges]].
    */
  private val triCornerCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def triCorners(s: SparkSession, dir: String): DataFrame = {
    triCornerCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    triCornerCache.computeIfAbsent((s, dir), _ =>
      org.apache.spark.sql.GraftColumnBridge.leveledLocalCheckpoint(
        closedTriangles(s, dir)
          .select(explode(array(col("a"), col("x"), col("y"))).as("u"))
          .groupBy("u").agg(count(lit(1)).as("tri"))))
  }

  /** Per-EDGE triangle support `(u, v, support)` (u < v) — the k-truss
    * kernel, r13: how many triangles each edge participates in. Same
    * one-enumeration-per-session policy as [[triCorners]] (the third
    * consumer of [[closedTriangles]]); bounded by the edge set.
    */
  private val triEdgeCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def triEdgeSupport(s: SparkSession, dir: String): DataFrame = {
    triEdgeCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    triEdgeCache.computeIfAbsent((s, dir), _ =>
      org.apache.spark.sql.GraftColumnBridge.leveledLocalCheckpoint(
        closedTriangles(s, dir)
        .select(explode(array(
          struct(least(col("a"), col("x")).as("u"),
            greatest(col("a"), col("x")).as("v")),
          struct(least(col("a"), col("y")).as("u"),
            greatest(col("a"), col("y")).as("v")),
          struct(least(col("x"), col("y")).as("u"),
            greatest(col("x"), col("y")).as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))))
  }

  /** Max-truss-per-edge labels `(u, v, t)` over the triangle edges — the
    * k-truss decomposition proper (the r13 verdict's ask #3), computed by
    * the LOCAL H-INDEX iteration rather than the sequential peel:
    * t₀(e) = support(e) + 2, then
    * tᵢ₊₁(e) = min(tᵢ(e), 2 + H({min(tᵢ(f), tᵢ(g)) − 2 : triangles
    * (e,f,g)})) where H is the h-index. The fixpoint is UNIQUE and equals
    * the exact truss number (validated per-edge against the batched
    * support-peel at sf0.001 and sf0.01 in round 14's DuckDB simulation;
    * `GraphSpec` re-proves it against a driver-side exact peel), so the
    * driver loop can iterate to convergence in any round order and still
    * match the oracle's fixed 32-round unroll — measured rounds: 25 / 24
    * / 8 at sf0.001 / 0.01 / 0.1.
    *
    * Why h-index, not peel: the peel needs one cascade round per removal
    * wave (62+ rounds at sf0.01, each a triangle-set semi-join); h-index
    * converges in O(log-ish) rounds and every round is ONE uniform plan.
    * Scale shape per round: the cached triangle triple list joins the
    * current labels on its three canonical edge keys (equi-joins), the
    * per-edge h-index runs on CLAMPED value buckets — m values are capped
    * at the edge's current t, so the groupBy(u,v,mc) pre-aggregate holds
    * ≤ t(e) distinct rows per edge and the cumulative window partitions
    * are equally bounded: no per-edge state proportional to support, so a
    * 100 TB hub pair with millions of triangles still carries only its
    * ≤ t distinct buckets. Convergence detection is one aggregate:
    * Σt is strictly monotone decreasing until the fixpoint.
    */
  private val trussCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Rounds the last [[trussLabels]] build took per (session, dir) —
    * GraphSpec pins this ≤ the oracle's 32-round unroll minus margin.
    */
  private[ops] val trussRounds =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Int]()

  private[ops] def trussLabels(s: SparkSession, dir: String): DataFrame = {
    trussCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val key = (s, dir)
    var entry = trussCache.get(key)
    if (entry == null) {
      val fresh = buildTrussLabels(s, dir)
      val prev = trussCache.putIfAbsent(key, fresh)
      if (prev != null) {
        org.apache.spark.sql.GraftColumnBridge.checkpointRdd(fresh)
          .foreach(r => try r.unpersist(blocking = false) catch { case _: Exception => () })
      }
      entry = if (prev == null) fresh else prev
    }
    entry
  }

  /** Size gate for the single-task decomposition kernels: at or below
    * this many STATE UNITS the whole truss / coreness peel runs as ONE
    * job (a `repartition(1)` + `mapPartitions` exact bucket-queue peel —
    * ~200 MB task heap at the 8M-unit default, dominated by the boxed
    * edge-key map at ~100 B/edge plus two ints per triangle slot),
    * because the distributed h-index loop's cost is JOBS, not data: 40+
    * fixpoint rounds × scheduler latency dwarf the seconds of actual
    * compute on a graph this small. State units bound what the task
    * actually MATERIALIZES (r15 ADVICE fix — the r14 gate bounded
    * triangle-EDGE count only, but the truss kernel's CSR holds 3 ints
    * per TRIANGLE, and triangle count is not bounded by edge count: a
    * ~3.2k-node clique passes a 5M edge gate with ~5.3e9 triangles):
    * truss gates on |triangle edges| + 3·|triangles|, coreness on
    * |V| + 2·|E|. Above the gate the
    * loop is the only correct shape and runs unchanged
    * ([[trussRound]]/[[corenessRound]] — label-side broadcast below the
    * byte gate, SHUFFLE_HASH above, one shuffle per round). ScaleProbe
    * pins this conf to 0 so every measured exponent prices the
    * DISTRIBUTED loop, never the gated kernel; `GraphSpec` proves the
    * two paths land on identical labels.
    */
  val DecompInTaskMaxEdgesKey = "spark.graft.graph.decompInTaskMaxEdges"

  private[ops] def decompGate(s: SparkSession): Long =
    s.conf.get(DecompInTaskMaxEdgesKey, "8000000").toLong

  /** Pure routing arithmetic, exposed so ScaleSpec can assert the gate
    * decision at probe-corpus magnitudes instead of trusting prose: the
    * truss kernel materializes the edge map plus a 3-slot CSR per
    * triangle; the coreness kernel a node table plus a 2-slot CSR per
    * edge.
    */
  private[ops] def trussUnits(nTriEdges: Long, nTriangles: Long): Long =
    nTriEdges + 3 * nTriangles

  private[ops] def corenessUnits(nV: Long, nE: Long): Long = nV + 2 * nE

  /** Which path the last build took, per (session, dir, decomposition) —
    * "in-task" | "loop". Recorded so specs assert ROUTING, not output
    * equality alone (two paths agreeing on labels says nothing about
    * which one served the query).
    */
  private[ops] val decompPath =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), String]()

  /** Live-count accessors for ScaleSpec's gate-routing arithmetic; the
    * edge count is memoized per (session, dir) — it gates the adjacency
    * cache and the coreness routing, and is immutable for a given dir.
    */
  private val edgeCountCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Long]()

  private[ops] def edgeCount(s: SparkSession, dir: String): Long = {
    edgeCountCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    edgeCountCache.computeIfAbsent((s, dir), _ =>
      java.lang.Long.valueOf(edges(s, dir).count())).longValue()
  }

  private[ops] def triEdgeSupportCount(s: SparkSession, dir: String): Long =
    triEdgeSupport(s, dir).count()

  private def buildTrussLabels(s: SparkSession, dir: String): DataFrame = {
    val nTriEdges = triEdgeSupport(s, dir).count()
    val nTriangles = closedTriangles(s, dir).count()
    val inTask = trussUnits(nTriEdges, nTriangles) <= decompGate(s)
    decompPath.put((s, dir, "truss"), if (inTask) "in-task" else "loop")
    if (inTask) {
      // the exact peel records no rounds — drop any stale loop-path entry
      // so the oracle-unroll guard can't fire against a build that never
      // happened under this gate configuration (r16 ADVICE)
      trussRounds.remove((s, dir))
      return buildTrussLabelsInTask(s, dir)
    }
    // Canonical (u < v) edge keys of each triangle's three edges, one
    // cheap projection of the cached triple list (reused every round).
    val triE = closedTriangles(s, dir).select(
      least(col("a"), col("x")).as("e1u"), greatest(col("a"), col("x")).as("e1v"),
      least(col("a"), col("y")).as("e2u"), greatest(col("a"), col("y")).as("e2v"),
      least(col("x"), col("y")).as("e3u"), greatest(col("x"), col("y")).as("e3v"))
    val init = triEdgeSupport(s, dir)
      .select(col("u"), col("v"), (col("support") + lit(2L)).as("t"))
    // Delta-round eligibility (r17, verdict ask #2): the dense round's
    // recurring mass is the 3-slot triangle incidence (3|T| label
    // lookups + the 9|T| explode), and the delta round buys it out with
    // ~5 map-side artifact sweeps + two gate jobs per round — a trade
    // that pays once the dense shuffles dwarf the sweeps. MEASURED in a
    // same-session A/B at 30× (99M slots, 16 threads, 31 g, identical
    // code, only this gate flipped): dense 854.5 s cold / 18.7 warm vs
    // delta-tail 732.0 / 14.6 — −14 % cold, −22 % warm. Truss still
    // carries its OWN threshold (the sweep-vs-shuffle crossover sits
    // higher than coreness's adjacency gate because the artifact being
    // re-scanned is the 3|T| triple list, not 2|E| edges); 1×/10× run
    // dense below it. The frontier cap reuses [[frontierCapFor]] over
    // the triangle-EDGE count (the label grain).
    val deltaEligible = 3 * nTriangles >= trussDeltaMinTriSlots(s)
    val frontierCap = frontierCapFor(s, nTriEdges)
    deltaRounds.put((s, dir, "truss"), 0)
    // Per-round candidate checkpoints (the delta round materializes its
    // frontier-derived candidate-edge set and label slice once for their
    // many consumers). A round's temps are DEAD as soon as the runner
    // checkpoints that round's result — drop them at the next step entry,
    // or ~72 MB × rounds of pinned storage accumulates and the 100×
    // probe OOMs a 31 g heap (measured r17: two probe attempts died in
    // exactly this storage creep before this drop existed).
    val roundTemps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def dropTemps(): Unit = {
      roundTemps.foreach(df =>
        org.apache.spark.sql.GraftColumnBridge.checkpointRdd(df)
          .foreach(r => try r.unpersist(blocking = false) catch { case _: Exception => () }))
      roundTemps.clear()
    }
    val res = runLabelFixpoint(s, init, Seq("u", "v"), "t", maxRounds = 64,
      step = (lab, frontier, side) => {
        dropTemps()
        val delta = frontier match {
          case Some((chg, n)) if deltaEligible && n <= frontierCap &&
              frontierTriMass(s, dir, chg) <= trussDeltaWorkMax(s) =>
            trussRoundDelta(s, dir, triE, lab, chg, roundTemps)
          case _ => None
        }
        delta match {
          case Some(d) =>
            deltaRounds.merge((s, dir, "truss"), Int.box(1),
              (a: Integer, b: Integer) => Int.box(a.intValue + b.intValue))
            d
          case None => trussRound(triE, lab, side)
        }
      })
    dropTemps()
    trussRounds.put((s, dir), res.rounds)
    res.labels
  }

  /** Upper bound on the truss delta round's WORK mass, in triangle-slot
    * rows: gates (a) Σ support over the frontier (bounds the triangles a
    * changed edge touches → the candidate-edge construction), and
    * (b) Σ support over the candidate edges (bounds the re-aggregated
    * triangle slice and the broadcast label slice — ≤ 3× this many
    * (u, v, t) rows ≈ 19 MB at the 256k default). Past either bound the
    * DENSE round serves — correct either way, like the coreness
    * [[DeltaCandMaxRowsKey]] guard. The default is sized for the 100×
    * single-box probe envelope (31 g heap, the dense rounds' sort-merge
    * label joins resident alongside): a 1M cap measured ~72 MB label
    * broadcasts × four join slots per round and OOMed the probe where
    * 256k completes — on a real cluster with per-executor memory, size
    * UP via this conf.
    */
  val TrussDeltaWorkMaxRowsKey = "spark.graft.graph.trussDeltaWorkMaxRows"

  private def trussDeltaWorkMax(s: SparkSession): Long =
    s.conf.get(TrussDeltaWorkMaxRowsKey, "262144").toLong

  /** Minimum triangle-slot count (3|T|) for truss delta rounds — the
    * truss analog of [[DeltaMinAdjRowsKey]], sized from the r17 30×
    * A/B (99M slots: delta −14 % cold / −22 % warm vs dense): 64M sits
    * safely below the measured-beneficial point while keeping the
    * unmeasured small tiers (1×/10×, ≤ ~33M slots) on the dense path
    * whose cost is already scan-bound there. GraphSpec zeroes it to
    * force the delta path on the fixture and prove delta ≡ dense ≡ the
    * exact peel.
    */
  val TrussDeltaMinTriSlotsKey = "spark.graft.graph.trussDeltaMinTriSlots"

  private def trussDeltaMinTriSlots(s: SparkSession): Long =
    s.conf.get(TrussDeltaMinTriSlotsKey, "64000000").toLong

  /** Σ support over an edge set — the exact triangle-slot mass incident
    * to it (each incident triangle counted once per contained member
    * edge). One broadcast semi-join against the cached support artifact
    * + a 1-row aggregate, the truss analog of [[frontierDegreeMass]].
    */
  private def frontierTriMass(s: SparkSession, dir: String,
      es: DataFrame): Long =
    triEdgeSupport(s, dir).join(broadcast(es.select("u", "v")), Seq("u", "v"))
      .agg(coalesce(sum(col("support")), lit(0L))).head.getLong(0)

  /** One DELTA truss round (r17, verdict ask #2 — the shared runner's
    * frontier finally serves the truss step): only an edge sharing a
    * triangle with a CHANGED edge can see a different support histogram
    * (its bucket values are minima over the other two edges' labels,
    * clamped by its own — all unchanged otherwise), so the round
    * re-aggregates exactly the frontier-incident candidate set over its
    * full incident-triangle slice and everyone else keeps their label by
    * construction — provably the dense round's output (GraphSpec pins
    * delta ≡ dense ≡ the exact peel).
    *
    * Shuffle ledger: the cached triple list is scanned MAP-SIDE three
    * times (chained broadcast left-join flags — one pass marks
    * frontier-touching triangles, two serve the candidate-incident
    * sweep and its label-slice build; never shuffled); the only
    * exchanges are candidate-sized — the candidate-edge distinct, the
    * work-edge distinct, and the bucket aggregate over the re-scored
    * slice. All per-round joins against
    * labels read a BROADCAST work-edge label slice (bounded by the
    * [[TrussDeltaWorkMaxRowsKey]] mass gate), so the ~25-round
    * convergence tail stops paying the dense round's 3|T|-row label join
    * + 9|T|-row explode shuffle. Returns None when the stage-2 mass gate
    * says the candidate neighborhood is too heavy — the dense round then
    * serves (same economics as the coreness hub guard).
    */
  private def trussRoundDelta(
      s: SparkSession, dir: String, triE: DataFrame, lab: DataFrame,
      chg: DataFrame, temps: scala.collection.mutable.ArrayBuffer[DataFrame])
    : Option[DataFrame] = {
    def flagJoin(base: DataFrame, keys: DataFrame, tag: String): DataFrame = {
      // chained broadcast LEFT joins — one codegen pass over `base`,
      // flag per slot; keys are unique (u, v) so no row multiplication
      var out = base
      for ((su, sv, i) <- Seq(("e1u", "e1v", 1), ("e2u", "e2v", 2), ("e3u", "e3v", 3)))
        out = out.join(
          broadcast(keys.select(col("u").as(su), col("v").as(sv),
            lit(1).as(s"__$tag$i"))),
          Seq(su, sv), "left")
      out.filter(col(s"__${tag}1").isNotNull || col(s"__${tag}2").isNotNull ||
          col(s"__${tag}3").isNotNull)
        .select("e1u", "e1v", "e2u", "e2v", "e3u", "e3v")
    }
    def edgesOf(tris: DataFrame): DataFrame = tris
      .select(explode(array(
        struct(col("e1u").as("u"), col("e1v").as("v")),
        struct(col("e2u").as("u"), col("e2v").as("v")),
        struct(col("e3u").as("u"), col("e3v").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")).distinct()
    // stage 1: edges to re-score = all edges of frontier-touching
    // triangles; materialized once (ckpt) — it feeds the mass gate, the
    // work-triangle flags, the vals filter, and the merge
    val candE = org.apache.spark.sql.GraftColumnBridge
      .statsFreeLocalCheckpoint(edgesOf(flagJoin(triE, chg.select("u", "v"), "c")))
    temps += candE
    // stage 2 gate: the candidates' own triangle-slot mass bounds the
    // re-aggregated slice AND the broadcast work-edge label slice
    if (frontierTriMass(s, dir, candE) > trussDeltaWorkMax(s)) return None
    val triW = flagJoin(triE, candE, "w")
    // the work-edge label slice feeds FOUR differently-projected
    // broadcasts (three slot joins + the clamp) — materialize it once or
    // each broadcast re-runs the O(|T|) work-edge sweep underneath
    val labW = org.apache.spark.sql.GraftColumnBridge.statsFreeLocalCheckpoint(
      lab.select("u", "v", "t")
        .join(broadcast(edgesOf(triW)), Seq("u", "v"), "leftsemi"))
    temps += labW
    val et = triW
      .join(broadcast(labW.select(col("u").as("e1u"), col("v").as("e1v"),
        col("t").as("ta"))), Seq("e1u", "e1v"))
      .join(broadcast(labW.select(col("u").as("e2u"), col("v").as("e2v"),
        col("t").as("tb"))), Seq("e2u", "e2v"))
      .join(broadcast(labW.select(col("u").as("e3u"), col("v").as("e3v"),
        col("t").as("tc"))), Seq("e3u", "e3v"))
    val vals = et.select(explode(array(
        struct(col("e1u").as("u"), col("e1v").as("v"),
          least(col("tb"), col("tc")).as("m")),
        struct(col("e2u").as("u"), col("e2v").as("v"),
          least(col("ta"), col("tc")).as("m")),
        struct(col("e3u").as("u"), col("e3v").as("v"),
          least(col("ta"), col("tb")).as("m")))).as("x"))
      .select(col("x.u").as("u"), col("x.v").as("v"), col("x.m").as("m"))
      .join(broadcast(candE), Seq("u", "v"), "leftsemi")
    val buck = vals.join(broadcast(labW), Seq("u", "v"))
      .select(col("u"), col("v"), least(col("m"), col("t")).as("mc"))
      .groupBy("u", "v", "mc").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("u", "v")
      .orderBy(col("mc").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val h = buck.withColumn("cum", sum(col("c")).over(w))
      .groupBy("u", "v")
      .agg(max(least(col("mc") - 2, col("cum"))).as("h"))
    // candidates take min(t, 2 + max(h, 0)) — every candidate has ≥ 1
    // incident triangle (it came off a triangle slot), so its h row
    // exists; non-candidates carry no h row and keep t by construction
    Some(lab.join(broadcast(h), Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        when(col("h").isNotNull,
          least(col("t"), lit(2L) + greatest(col("h"), lit(0L))))
          .otherwise(col("t")).as("t"),
        col("t").as("prev_t")))
  }

  /** One h-index round of the truss iteration: labels in, labels out.
    * Every join pins SHUFFLE_HASH with the LABEL side as build: labels
    * are the bounded |E|-row table, and without the hint the stats-free
    * checkpoints (huge default sizeInBytes) push Catalyst to
    * sort-merge - re-sorting the 3x|triangles| stream every round was
    * both the wall time and the memory blow-up of the first r14 cut.
    */
  /** Three-tier label-side join strategy. r15 ADVICE fix + this round's
    * 100× probe lesson:
    *
    *   - BROADCAST below a byte estimate against a dedicated conf
    *     (default 64 MB ≈ 1.4M label rows at ~48 B/row) — not the old
    *     hardcoded 5M-row count, which near the threshold repeatedly
    *     shipped hundreds of MB through the driver (each truss round
    *     references the labels 4-5 times);
    *   - SHUFFLE_HASH while the per-task hash build stays trivially small
    *     (≤ 32M label rows ≈ 12 MB/task at 128 partitions) — the fast
    *     path that cut the r14 loop to single digits at sf0.1;
    *   - SHUFFLE_MERGE above that: a shuffled-hash build is NOT spillable,
    *     and the 100× probe (119.6M truss labels under ~27 GB of resident
    *     chain artifacts) OOMed exactly there — the sort-merge join pays
    *     a re-sort per round but every byte of it spills, which is the
    *     property that survives at cluster scale.
    */
  val DecompBroadcastMaxBytesKey = "spark.graft.graph.decompBroadcastMaxBytes"

  /** Max label rows for the SHUFFLE_HASH middle tier. */
  val DecompHashJoinMaxRowsKey = "spark.graft.graph.decompHashJoinMaxRows"

  private def labelJoinSide(s: SparkSession, n: Long): DataFrame => DataFrame = {
    val maxBytes =
      s.conf.get(DecompBroadcastMaxBytesKey, (64L << 20).toString).toLong
    val maxHashRows =
      s.conf.get(DecompHashJoinMaxRowsKey, "32000000").toLong
    if (n * 48L <= maxBytes) (df: DataFrame) => broadcast(df)
    else if (n <= maxHashRows) (df: DataFrame) => df.hint("SHUFFLE_HASH")
    else (df: DataFrame) => df.hint("SHUFFLE_MERGE")
  }

  private final case class FixpointResult(labels: DataFrame, rounds: Int)

  /** Shared round-runner for the monotone label fixpoints (r16, verdict
    * ask #5): the truss and coreness loops each carried their own
    * checkpoint / convergence / unpersist scaffolding, and the delta
    * iteration (ask #2) would have been a third copy. ONE driver owns the
    * loop now; step functions own only the algebra of a round.
    *
    * Contract: `step(lab, frontier, side)` returns the FULL next label
    * table carrying the key columns, the new value as `valueCol`, and the
    * previous value as `prev_<valueCol>`. Values are monotone
    * non-increasing, so `new < prev` IS the change test, "zero changed
    * rows" IS the Σ-monotone fixpoint the loops used before (Σ equal ⟺
    * no label moved), and the changed-key set doubles as the next round's
    * DELTA FRONTIER: a label can only drop when a neighbor's label
    * dropped last round, so a step that recomputes just the frontier's
    * neighborhood provably lands on the identical label table.
    * `frontier` arrives with its exact row count (one action on the
    * already-checkpointed parent — no extra job); `None` on round 1 means
    * recompute everything. All three fixpoints now consume it —
    * coreness/components via [[corenessRoundDelta]], truss via
    * [[trussRoundDelta]] (r17) — each behind its own mass gate, with the
    * dense round as the always-correct fallback.
    *
    * Scaffolding decisions the runner owns, all MEASURED in r14/r15:
    * statsFreeLocalCheckpoint per round (checkpoint-carried stats
    * compound ×k-references per round and hang the driver in BigInteger
    * arithmetic ~round 8); ONE round per materialization (a folded round
    * re-executes the base plan ~refs^k times as a tree — 41.8 s at k=2 on
    * the truss loop); eager unpersist of the superseded checkpoint; the
    * three-tier label join side chosen once from the (constant) label
    * count. Recorded rounds = change-producing rounds only — the same
    * "converged ⇒ the no-op batch doesn't count" upper bound the old
    * loops recorded, which GraphSpec pins within the oracle unrolls.
    */
  private def runLabelFixpoint(
      s: SparkSession,
      init: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      maxRounds: Int,
      step: (DataFrame, Option[(DataFrame, Long)], DataFrame => DataFrame) => DataFrame)
    : FixpointResult = {
    def ckpt(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftColumnBridge.statsFreeLocalCheckpoint(df)
    def drop(df: DataFrame): Unit =
      org.apache.spark.sql.GraftColumnBridge.checkpointRdd(df)
        .foreach(r => try r.unpersist(blocking = false) catch { case _: Exception => () })
    var labCkpt = ckpt(init)
    var lab = labCkpt
    val side = labelJoinSide(s, lab.count())
    val prevCol = s"prev_$valueCol"
    var frontier: Option[(DataFrame, Long)] = None
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val nxtCkpt = ckpt(step(lab, frontier, side))
      // changed keys: a FILTER over the fresh checkpoint — recomputed on
      // reference (cheap in-memory scan), never a second materialization
      val changed = nxtCkpt.where(col(valueCol) < col(prevCol))
        .select(keyCols.map(col): _*)
      val nChanged = changed.count()
      drop(labCkpt)
      labCkpt = nxtCkpt
      lab = nxtCkpt.select((keyCols :+ valueCol).map(col): _*)
      frontier = Some((changed, nChanged))
      converged = nChanged == 0
      if (!converged) rounds += 1
    }
    // The RESULT must be a BARE checkpoint, not a Project over one (r16
    // review): callers cache it, and both clearCache's eviction and the
    // putIfAbsent race-loser unpersist find the RDD by pattern-matching a
    // bare LogicalRDD — a Project on top turns them into silent no-ops
    // and every rebuild leaks a corpus-scale label table. One extra
    // narrow materialization of the final labels, then the wide
    // (prev-carrying) round checkpoint is dropped.
    val labFinal = ckpt(lab)
    drop(labCkpt)
    FixpointResult(labFinal, rounds)
  }

  private def trussRound(triE: DataFrame, lab: DataFrame,
      side: DataFrame => DataFrame): DataFrame = {
    {
      val et = triE
        .join(side(lab.select(col("u").as("e1u"), col("v").as("e1v"), col("t").as("ta"))),
          Seq("e1u", "e1v"))
        .join(side(lab.select(col("u").as("e2u"), col("v").as("e2v"), col("t").as("tb"))),
          Seq("e2u", "e2v"))
        .join(side(lab.select(col("u").as("e3u"), col("v").as("e3v"), col("t").as("tc"))),
          Seq("e3u", "e3v"))
      val vals = et.select(explode(array(
          struct(col("e1u").as("u"), col("e1v").as("v"),
            least(col("tb"), col("tc")).as("m")),
          struct(col("e2u").as("u"), col("e2v").as("v"),
            least(col("ta"), col("tc")).as("m")),
          struct(col("e3u").as("u"), col("e3v").as("v"),
            least(col("ta"), col("tb")).as("m")))).as("x"))
        .select(col("x.u").as("u"), col("x.v").as("v"), col("x.m").as("m"))
      val buck = vals.join(side(lab), Seq("u", "v"))
        .select(col("u"), col("v"), least(col("m"), col("t")).as("mc"))
        .groupBy("u", "v", "mc").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("u", "v")
        .orderBy(col("mc").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val h = buck.withColumn("cum", sum(col("c")).over(w))
        .groupBy("u", "v")
        .agg(max(least(col("mc") - 2, col("cum"))).as("h"))
      lab.join(side(h), Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          least(col("t"),
            lit(2L) + greatest(coalesce(col("h"), lit(0L)), lit(0L))).as("t"),
          col("t").as("prev_t"))
    }
  }

  /** Per-node CORENESS labels `(u, c)` — the full k-core decomposition
    * (r14), computed by the same local h-index iteration as
    * [[trussLabels]] one level down the lattice: c₀(v) = deg(v), then
    * cᵢ₊₁(v) = min(cᵢ(v), H({cᵢ(u) : u ∈ N(v)})). Lü et al. 2016 prove
    * the fixpoint IS the coreness; round 14's DuckDB simulation verified
    * per-node equality against the exact min-degree peel at all three
    * SFs (rounds to fixpoint: 10 / 19 / 38) and `GraphSpec` re-proves it
    * against a driver-side peel. Per round: one equi-join of the
    * bidirectional adjacency with the ≤|V|-row label table (broadcast at
    * these sizes, hash-shuffled at cluster scale) + the clamped-bucket
    * h-index aggregate (state per node ≤ its current c, not its degree).
    * Convergence check = the monotone Σc aggregate, like truss.
    */
  private val corenessCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[ops] val corenessRounds =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Int]()

  private[ops] def corenessLabels(s: SparkSession, dir: String): DataFrame = {
    corenessCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val key = (s, dir)
    var entry = corenessCache.get(key)
    if (entry == null) {
      val fresh = buildCorenessLabels(s, dir)
      val prev = corenessCache.putIfAbsent(key, fresh)
      if (prev != null) {
        org.apache.spark.sql.GraftColumnBridge.checkpointRdd(fresh)
          .foreach(r => try r.unpersist(blocking = false) catch { case _: Exception => () })
      }
      entry = if (prev == null) fresh else prev
    }
    entry
  }

  private def buildCorenessLabels(s: SparkSession, dir: String): DataFrame = {
    // |V| + 2|E| state units (the kernel's node table + CSR adjacency)
    val nE = edgeCount(s, dir)
    val nV = degrees(s, dir).count()
    val inTask = corenessUnits(nV, nE) <= decompGate(s)
    decompPath.put((s, dir, "coreness"), if (inTask) "in-task" else "loop")
    if (inTask) {
      // same stale-rounds drop as the truss in-task branch (r16 ADVICE)
      corenessRounds.remove((s, dir))
      return buildCorenessLabelsInTask(s, dir)
    }
    val bi = bidirectional(edges(s, dir))
    val init = degrees(s, dir).select(col("u"), col("d").as("c"))
    deltaRounds.put((s, dir, "coreness"), 0)
    // Delta rounds trade per-round OPERATORS for per-round SHUFFLE MASS
    // (two extra broadcast semi-joins + a candidate distinct buy a
    // frontier-bounded bucket aggregate instead of a 2|E|-row one). On a
    // small adjacency that trade LOSES — measured at sf0.1 1× (2.4M
    // directed rows, broadcast-tier labels): all-delta rounds took the
    // forced loop 29.6 → 42.1 s, pure per-round latency. Eligibility is
    // therefore sized on the adjacency: only past [[DeltaMinAdjRowsKey]]
    // directed rows is the dense round's shuffle worth buying out.
    val deltaEligible = 2 * edgeCount(s, dir) >= deltaMinAdjRows(s)
    // The frontier cap is RELATIVE as well as absolute: a delta round
    // whose frontier is a large fraction of |V| touches nearly every
    // edge anyway, and its candidate-distinct then re-shuffles what the
    // dense round's single aggregate would have — measured at 10×
    // (|V| = 200k, all-delta: 143.9 s vs the r15 dense 30× trend). Dense
    // serves the few heavy early rounds; delta serves the long
    // shrinking-frontier tail, which is where the ~39-round convergence
    // actually spends its rounds.
    val frontierCap = frontierCapFor(s, nV)
    val res = runLabelFixpoint(s, init, Seq("u"), "c", maxRounds = 72,
      step = (lab, frontier, side) => frontier match {
        // DELTA round (r16, verdict ask #2): recompute only nodes with a
        // changed neighbor — sound because the h-index update of node v
        // reads exactly {c(u) : u ∈ N(v)} ∪ {c(v)}, all unchanged for a
        // non-candidate, so its recomputation is provably a no-op and the
        // delta label table is IDENTICAL to the dense round's. Engaged
        // only when the frontier is broadcast-small: the whole round is
        // then map-side scans of `bi` (broadcast semi-joins) + aggregates
        // over frontier-incident rows — the ~39-round tail at 100× stops
        // paying two 239M-row shuffles per round.
        case Some((chg, n)) if deltaEligible && n <= frontierCap &&
            frontierDegreeMass(s, dir, chg) <= deltaCandMax(s) =>
          deltaRounds.merge((s, dir, "coreness"), Int.box(1),
            (a: Integer, b: Integer) => Int.box(a.intValue + b.intValue))
          corenessRoundDelta(bi, lab, chg, side)
        case _ => corenessRoundDense(bi, lab, side)
      })
    corenessRounds.put((s, dir), res.rounds)
    res.labels
  }

  /** Frontier size cap for the coreness delta rounds: the frontier and
    * its neighborhood must broadcast (the delta round's whole point is
    * map-side semi-joins — a shuffled semi-join would re-shuffle the
    * |2E| adjacency and cost MORE than the dense round). Default 200k
    * changed nodes ≈ a few MB frontier; its distinct neighborhood at
    * this graph's densities stays well under the house 64 MB broadcast
    * budget. Above the cap the dense round runs — correct either way.
    *
    * Conf semantics (r16 ADVICE — this changed in r16): an
    * EXPLICITLY-set value is the ABSOLUTE cap; the |V|/8 relative clamp
    * applies only to the default. An operator who previously set this
    * high while relying on the clamp now admits larger frontiers, with
    * the broadcast bounded only by [[DeltaCandMaxRowsKey]]'s
    * degree-mass guard (see [[frontierCapFor]]).
    */
  val DeltaFrontierMaxRowsKey = "spark.graft.graph.deltaFrontierMaxRows"

  /** The effective frontier cap: by DEFAULT min(200k, |V|/8) — absolute
    * broadcast budget AND the relative "a frontier that is most of the
    * graph re-touches every edge anyway" clamp. An EXPLICITLY-set conf is
    * taken as the absolute operating point (no relative clamp): the
    * operator who sets it knows their graph, and specs use it to force
    * the delta path on fixtures whose fast convergence never produces a
    * sub-|V|/8 frontier.
    */
  private def frontierCapFor(s: SparkSession, nV: Long): Long =
    s.conf.getOption(DeltaFrontierMaxRowsKey) match {
      case Some(v) => v.toLong
      case None => math.min(200000L, nV / 8)
    }

  /** Minimum adjacency size (directed rows, 2|E|) for delta rounds to be
    * worth their extra per-round operators — below this the dense round's
    * single aggregate shuffle is already cheap (see the eligibility
    * comment in [[buildCorenessLabels]]). Default 16M ≈ the 10× replica
    * of the sf0.1 co-purchase graph.
    */
  val DeltaMinAdjRowsKey = "spark.graft.graph.deltaMinAdjRows"

  /** Upper bound on the delta round's CANDIDATE mass (frontier-incident
    * directed edges = Σ deg over the changed set) — the r16 review's hub
    * guard: [[DeltaFrontierMaxRowsKey]] caps only the frontier's ROW
    * count, but the candidate set the round force-broadcasts is
    * neighborhood-sized, and one changed hub of degree ~10M would blow
    * the broadcast budget at exactly the scales where delta rounds
    * engage. The mass is measured from the cached degree table (one
    * frontier-sized broadcast semi-join + a 1-row aggregate per delta
    * round); past the cap the DENSE round serves — correct either way.
    * Default 4M rows ≈ the house 64 MB broadcast budget at ~16 B/row.
    */
  val DeltaCandMaxRowsKey = "spark.graft.graph.deltaCandMaxRows"

  private def deltaCandMax(s: SparkSession): Long =
    s.conf.get(DeltaCandMaxRowsKey, "4000000").toLong

  /** Σ deg over the changed set — the exact directed-edge mass the delta
    * round's candidate semi-joins touch (candidates ≤ this by union).
    */
  private def frontierDegreeMass(s: SparkSession, dir: String,
      chg: DataFrame): Long =
    degrees(s, dir).join(broadcast(chg), "u")
      .agg(coalesce(sum(col("d")), lit(0L))).head.getLong(0)

  private def deltaMinAdjRows(s: SparkSession): Long =
    s.conf.get(DeltaMinAdjRowsKey, "16000000").toLong

  /** Delta-round engagement counter per (session, dir, decomposition) —
    * specs assert the delta path actually SERVED rounds, not just that
    * the labels came out right.
    */
  private[ops] val deltaRounds =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Integer]()

  /** One DENSE h-index round of the coreness iteration (label side builds
    * the hash maps — see trussRound; coreness labels are |V| rows).
    * Emits (u, c, prev_c) for the runner's change filter.
    */
  private def corenessRoundDense(bi: DataFrame, lab: DataFrame,
      side: DataFrame => DataFrame): DataFrame = {
    val vals = bi
      .join(side(lab.select(col("u").as("v"), col("c").as("m"))), "v")
      .select(col("u"), col("m"))
    val h = corenessHIndex(vals, lab, side)
    lab.join(side(h), Seq("u"), "left")
      .select(col("u"), least(col("c"), coalesce(col("h"), lit(0L))).as("c"),
        col("c").as("prev_c"))
  }

  /** One DELTA h-index round: candidates = neighbors of last round's
    * changed nodes; their h is recomputed over their FULL neighborhoods
    * (the h-index needs the whole multiset — only the *candidate set* is
    * frontier-derived); everyone else keeps their label by construction.
    *
    * Shuffle ledger of this shape — the runner only routes here under
    * [[DeltaFrontierMaxRowsKey]], so every frontier-grain table
    * broadcasts: `bi` is SCANNED twice map-side (broadcast semi-joins)
    * but never shuffled; the candidate `distinct` and the bucket
    * aggregate shuffle only frontier-incident rows; the clamp join reads
    * a broadcast candidate-filtered label slice (cand-sized, never |V|);
    * the merge join broadcasts the cand-sized h table against the label
    * stream. The one full-width shuffle left is the m-join's label side
    * (|V| rows, usually elided by alias-preserved hash partitioning from
    * the previous round's checkpoint) — against the dense round's
    * 2|E|-row double shuffle, the ~39-round convergence tail at 100×
    * stops being the budget-killer.
    */
  private def corenessRoundDelta(bi: DataFrame, lab: DataFrame,
      chg: DataFrame, side: DataFrame => DataFrame): DataFrame = {
    val cand = bi.join(broadcast(chg.select(col("u").as("v"))), Seq("v"), "leftsemi")
      .select("u").distinct()
    val labCand = lab.join(broadcast(cand), Seq("u"), "leftsemi")
    val vals = bi.join(broadcast(cand), Seq("u"), "leftsemi")
      .join(side(lab.select(col("u").as("v"), col("c").as("m"))), "v")
      .select(col("u"), col("m"))
    val h = corenessHIndex(vals, labCand, broadcast)
    // candidates take min(c, h); non-candidates have no h row and keep c
    lab.join(broadcast(h), Seq("u"), "left")
      .select(col("u"), least(col("c"), coalesce(col("h"), col("c"))).as("c"),
        col("c").as("prev_c"))
  }

  /** The clamped-bucket h-index aggregate shared by both round shapes:
    * state per node ≤ its current c (values clamp at c), never its
    * degree. `clamp` carries each aggregated node's current label —
    * the full label table densely, the candidate slice in delta rounds.
    */
  private def corenessHIndex(vals: DataFrame, clamp: DataFrame,
      side: DataFrame => DataFrame): DataFrame = {
    val buck = vals.join(side(clamp), "u")
      .select(col("u"), least(col("m"), col("c")).as("mc"))
      .groupBy("u", "mc").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("u").orderBy(col("mc").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buck.withColumn("cum", sum(col("cnt")).over(w))
      .groupBy("u").agg(max(least(col("mc"), col("cum"))).as("h"))
  }

  /** Per-node WEAKLY-CONNECTED-COMPONENT labels `(u, comp)` — comp = the
    * minimum node id reachable from u — computed by min-label propagation
    * through the shared [[runLabelFixpoint]] runner (r16): c₀(u) = u,
    * cᵢ₊₁(u) = min(cᵢ(u), min{cᵢ(v) : v ∈ N(u)}). The label is monotone
    * non-increasing and the fixpoint is exactly the per-component min id,
    * reached after ecc(argmin) rounds — diameter-bounded, which on a
    * co-purchase graph (dense overlap through popular parts) is a handful
    * of rounds, not the Θ(|V|) chain worst case. Per round: one
    * adjacency⨝label join + a min aggregate — the same 2|E|-row shuffle
    * economics as one coreness round, with the identical delta-round
    * escape at scale (only neighbors of last round's changed nodes can
    * drop, so the shrinking-frontier tail runs as broadcast semi-joins).
    * `graph_label_prop` is the fixed-3-round community-size readout of
    * this recurrence; this is the exact fixpoint at the node grain.
    */
  private val componentCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[ops] val componentRounds =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Int]()

  private[ops] def componentLabels(s: SparkSession, dir: String): DataFrame = {
    componentCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val key = (s, dir)
    var entry = componentCache.get(key)
    if (entry == null) {
      val fresh = buildComponentLabels(s, dir)
      val prev = componentCache.putIfAbsent(key, fresh)
      if (prev != null) {
        org.apache.spark.sql.GraftColumnBridge.checkpointRdd(fresh)
          .foreach(r => try r.unpersist(blocking = false) catch { case _: Exception => () })
      }
      entry = if (prev == null) fresh else prev
    }
    entry
  }

  private def buildComponentLabels(s: SparkSession, dir: String): DataFrame = {
    val bi = bidirectional(edges(s, dir))
    val init = degrees(s, dir).select(col("u"), col("u").as("comp"))
    deltaRounds.put((s, dir, "components"), 0)
    // same delta-eligibility economics as coreness (measured there): the
    // extra broadcast semi-joins only pay off once the dense round's
    // 2|E|-row shuffle is expensive and the frontier is broadcast-small
    val deltaEligible = 2 * edgeCount(s, dir) >= deltaMinAdjRows(s)
    val frontierCap = frontierCapFor(s, degrees(s, dir).count())
    val res = runLabelFixpoint(s, init, Seq("u"), "comp", maxRounds = 64,
      step = (lab, frontier, side) => frontier match {
        case Some((chg, n)) if deltaEligible && n <= frontierCap &&
            frontierDegreeMass(s, dir, chg) <= deltaCandMax(s) =>
          deltaRounds.merge((s, dir, "components"), Int.box(1),
            (a: Integer, b: Integer) => Int.box(a.intValue + b.intValue))
          componentRoundDelta(bi, lab, chg, side)
        case _ => componentRoundDense(bi, lab, side)
      })
    componentRounds.put((s, dir), res.rounds)
    res.labels
  }

  /** One DENSE min-propagation round: every node takes the min of its own
    * label and its neighbors' labels.
    */
  private def componentRoundDense(bi: DataFrame, lab: DataFrame,
      side: DataFrame => DataFrame): DataFrame = {
    val nb = bi
      .join(side(lab.select(col("u").as("v"), col("comp").as("m"))), "v")
      .groupBy("u").agg(min(col("m")).as("h"))
    lab.join(side(nb), Seq("u"), "left")
      .select(col("u"),
        least(col("comp"), coalesce(col("h"), col("comp"))).as("comp"),
        col("comp").as("prev_comp"))
  }

  /** One DELTA min-propagation round: a label can only drop when a
    * neighbor's label dropped last round (min over an otherwise-unchanged
    * neighborhood is a no-op), so candidates = neighbors of the changed
    * set; their min recomputes over their FULL neighborhoods. Same
    * broadcast-only frontier contract as [[corenessRoundDelta]].
    */
  private def componentRoundDelta(bi: DataFrame, lab: DataFrame,
      chg: DataFrame, side: DataFrame => DataFrame): DataFrame = {
    val cand = bi.join(broadcast(chg.select(col("u").as("v"))), Seq("v"), "leftsemi")
      .select("u").distinct()
    val nb = bi.join(broadcast(cand), Seq("u"), "leftsemi")
      .join(side(lab.select(col("u").as("v"), col("comp").as("m"))), "v")
      .groupBy("u").agg(min(col("m")).as("h"))
    lab.join(broadcast(nb), Seq("u"), "left")
      .select(col("u"),
        least(col("comp"), coalesce(col("h"), col("comp"))).as("comp"),
        col("comp").as("prev_comp"))
  }

  /** Build + materialize the session edge + degree + triangle-corner
    * indexes, timed for the bench (`graph_degrees` rides on the edge
    * checkpoint, so its own wall is just the degree shuffle; the corner
    * build is the one wedge enumeration the whole family shares).
    */
  /** Single-task exact truss peel (below [[DecompInTaskMaxEdgesKey]]):
    * the cached triangle triples shuffle once into one task, which runs
    * the textbook bucket-queue support peel — O(E + 3T) state, exact
    * truss numbers, ONE Spark job. localCheckpointed like the loop's
    * result so consumers are indistinguishable.
    *
    * Measured decomposition at sf0.1, ISOLATED (r17 — the verdict asked
    * where the bench's ~6 s `graph_truss_labels` wall goes): drain 0.14,
    * ingest 1.4, peel 0.5, output+checkpoint 0.35 — 2.96 s total. The
    * bench wall is ~2× that because the single-task kernel co-schedules
    * with three other artifact chains on the shared pool; the WORK side
    * is already the presized-primitive-table shape r16 built (the boxed
    * ingest it replaced cost 3.2 s alone), so further phase cuts must
    * come from scheduling, not this kernel.
    */
  private def buildTrussLabelsInTask(s: SparkSession, dir: String): DataFrame = {
    val triples = closedTriangles(s, dir).select(
      least(col("a"), col("x")).as("au"), greatest(col("a"), col("x")).as("av"),
      least(col("a"), col("y")).as("bu"), greatest(col("a"), col("y")).as("bv"),
      least(col("x"), col("y")).as("cu"), greatest(col("x"), col("y")).as("cv"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("u",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("t",
        org.apache.spark.sql.types.LongType, nullable = false)))
    // exact sizes are already known from the routing probe's cached
    // counts — the kernel's tables are presized, never grown
    val nE0 = triEdgeSupport(s, dir).count()
    val nT0 = closedTriangles(s, dir).count()
    // coalesce, not repartition: the triples come off an in-memory
    // checkpoint, so merging partitions into the one kernel task skips
    // the shuffle write/read of the whole triple list (measured ~2x on
    // the drain at sf0.1, r16)
    val out = triples.coalesce(1).rdd.mapPartitions { rows =>
      // r16 (verdict ask #4 — this was the heaviest index build at
      // 6.8+ s): the ingest maps are presized open-addressed
      // primitive tables ([[LongIntMap]]), not boxed HashMaps. Nodes
      // remap to dense ints (gate-bounded far under 2^31), the edge key
      // packs the two dense ids into one long (alias-free by
      // construction), and the incidence lands in preallocated int/long
      // arrays. Measured on the sf0.1 fixture: the tuple-keyed HashMap
      // ingest cost 3.2 s, scala LongMap 3.4 s, this table 0.9 s.
      val nodeId = new LongIntMap(2 * nE0)
      val edgeId = new LongIntMap(nE0)
      val edgeUs = new Array[Long](nE0.toInt)
      val edgeVs = new Array[Long](nE0.toInt)
      def id(u: Long, v: Long): Int = {
        val k = (nodeId.getOrInsert(u).toLong << 32) |
          (nodeId.getOrInsert(v).toLong & 0xffffffffL)
        val e = edgeId.getOrInsert(k)
        edgeUs(e) = u; edgeVs(e) = v
        e
      }
      val triEdges = new Array[Int](3 * nT0.toInt)
      var p = 0
      rows.foreach { r =>
        triEdges(p) = id(r.getLong(0), r.getLong(1))
        triEdges(p + 1) = id(r.getLong(2), r.getLong(3))
        triEdges(p + 2) = id(r.getLong(4), r.getLong(5))
        p += 3
      }
      val nE = edgeId.size
      val nT = p / 3
      // CSR: edge -> triangle ids
      val sup = new Array[Int](nE)
      var i = 0
      while (i < 3 * nT) { sup(triEdges(i)) += 1; i += 1 }
      val start = new Array[Int](nE + 1)
      i = 0
      while (i < nE) { start(i + 1) = start(i) + sup(i); i += 1 }
      val fill = start.clone()
      val eTris = new Array[Int](3 * nT)
      var t = 0
      while (t < nT) {
        var k = 0
        while (k < 3) {
          val e = triEdges(3 * t + k); eTris(fill(e)) = t; fill(e) += 1; k += 1
        }
        t += 1
      }
      // bucket-queue peel on support
      val maxSup = if (nE == 0) 0 else sup.max
      val buckets = Array.fill(maxSup + 1)(new IntVec(4))
      i = 0
      while (i < nE) { buckets(sup(i)) += i; i += 1 }
      val truss = new Array[Long](nE)
      val edgeDead = new Array[Boolean](nE)
      val triDead = new Array[Boolean](nT)
      val curSup = sup.clone()
      // Lazy-bucket Batagelj-Zaversnik: buckets processed ascending; a
      // cascade re-inserts an edge at max(newSup, b) so a level-b wave
      // keeps collapsing inside bucket b; stale entries are skipped by
      // the dead flag. The pop bucket IS the removal level: truss = b+2.
      var b = 0
      while (b <= maxSup) {
        var bi2 = 0
        val bucket = buckets(b)
        // bucket grows while we process it (cascades land here or later)
        while (bi2 < bucket.size) {
          val e = bucket(bi2); bi2 += 1
          if (!edgeDead(e) && curSup(e) <= b) {
            edgeDead(e) = true
            truss(e) = b + 2L
            var j = start(e)
            while (j < start(e + 1)) {
              val tt = eTris(j)
              if (!triDead(tt)) {
                triDead(tt) = true
                var k = 0
                while (k < 3) {
                  val f = triEdges(3 * tt + k)
                  if (f != e && !edgeDead(f)) {
                    curSup(f) -= 1
                    val tgt = math.max(curSup(f), b)
                    if (tgt <= maxSup) buckets(tgt) += f
                  }
                  k += 1
                }
              }
              j += 1
            }
          }
        }
        b += 1
      }
      (0 until nE).iterator.map(e =>
        org.apache.spark.sql.Row(edgeUs(e), edgeVs(e), truss(e)))
    }
    s.createDataFrame(out, schema).localCheckpoint()
  }

  /** Single-task exact coreness peel (below the same gate): the edge set
    * shuffles once into one task running the O(V + E) min-degree bucket
    * peel. See [[buildTrussLabelsInTask]].
    */
  private def buildCorenessLabelsInTask(s: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("u",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val nE0 = edgeCount(s, dir)
    val nV0 = degrees(s, dir).count()
    // coalesce, not repartition: same no-shuffle single-task drain as the
    // truss kernel (the edges come off the in-memory checkpoint)
    val out = edges(s, dir).coalesce(1).rdd.mapPartitions { rows =>
      // presized primitive ingest, same reasoning as the truss kernel (r16)
      val nodeId = new LongIntMap(nV0)
      val nodeKeys = new Array[Long](nV0.toInt)
      def id(u: Long): Int = {
        val i = nodeId.getOrInsert(u); nodeKeys(i) = u; i
      }
      val us = new Array[Int](nE0.toInt)
      val vs = new Array[Int](nE0.toInt)
      var p = 0
      rows.foreach { r => us(p) = id(r.getLong(0)); vs(p) = id(r.getLong(1)); p += 1 }
      val nV = nodeId.size
      val deg = new Array[Int](nV)
      var i = 0
      while (i < p) { deg(us(i)) += 1; deg(vs(i)) += 1; i += 1 }
      val start = new Array[Int](nV + 1)
      i = 0
      while (i < nV) { start(i + 1) = start(i) + deg(i); i += 1 }
      val fill = start.clone()
      val adj = new Array[Int](2 * p)
      i = 0
      while (i < p) {
        adj(fill(us(i))) = vs(i); fill(us(i)) += 1
        adj(fill(vs(i))) = us(i); fill(vs(i)) += 1
        i += 1
      }
      val maxDeg = if (nV == 0) 0 else deg.max
      val buckets = Array.fill(maxDeg + 1)(new IntVec(4))
      i = 0
      while (i < nV) { buckets(deg(i)) += i; i += 1 }
      val core = new Array[Long](nV)
      val dead = new Array[Boolean](nV)
      val curDeg = deg.clone()
      var b = 0
      while (b <= maxDeg) {
        var p = 0
        val bucket = buckets(b)
        while (p < bucket.size) {
          val u = bucket(p); p += 1
          if (!dead(u) && curDeg(u) <= b) {
            dead(u) = true
            core(u) = b.toLong
            var j = start(u)
            while (j < start(u + 1)) {
              val w = adj(j)
              if (!dead(w)) {
                curDeg(w) -= 1
                val tgt = math.max(curDeg(w), b)
                if (tgt <= maxDeg) buckets(tgt) += w
              }
              j += 1
            }
          }
        }
        b += 1
      }
      (0 until nV).iterator.map(n =>
        org.apache.spark.sql.Row(nodeKeys(n), core(n)))
    }
    s.createDataFrame(out, schema).localCheckpoint()
  }

  /** The graph family's [[IndexPhase]] artifacts. Edges and degrees feed
    * every other graph artifact; the spine (triangle corners → per-edge
    * support → truss peel) is the phase's critical path, and the ranked
    * adjacency and the coreness peel need only edges + degrees. Above the
    * adjacency cache gate the accessor returns the transient per-query
    * plan, so building it would run (and then discard) the full |2E|
    * ranking window for an artifact that is never kept: both adjacency
    * artifacts are gated off there.
    */
  private[ops] val indexArtifacts: Seq[IndexArtifact] = Seq(
    IndexArtifact("graph_edges", Nil, (s, dir) => edges(s, dir).count()),
    IndexArtifact("graph_degrees", Seq("graph_edges"), (s, dir) => degrees(s, dir).count()),
    IndexArtifact("graph_tri_corners", Seq("graph_degrees"),
      (s, dir) => triCorners(s, dir).count()),
    IndexArtifact("graph_tri_edges", Seq("graph_tri_corners"),
      (s, dir) => triEdgeSupport(s, dir).count()),
    IndexArtifact("graph_truss_labels", Seq("graph_tri_edges"),
      (s, dir) => trussLabels(s, dir).count()),
    IndexArtifact("graph_adjacency", Seq("graph_degrees"),
      (s, dir) => rankedAdjacency(s, dir).count(), adjCacheGated),
    IndexArtifact("graph_wedge_candidates", Seq("graph_adjacency"),
      (s, dir) => wedgeCandidates(s, dir).count(), adjCacheGated),
    IndexArtifact("graph_coreness_labels", Seq("graph_degrees"),
      (s, dir) => corenessLabels(s, dir).count()))

  /** Probe-facing flight record: (path, delta-rounds-engaged) for one
    * decomposition ("truss" | "coreness" | "components") — the
    * gate-validation evidence a scale probe's wall numbers alone can't
    * carry (r18).
    */
  def decompFlightRecord(s: SparkSession, dir: String, d: String): (String, Int) =
    (Option(decompPath.get((s, dir, d))).getOrElse("?"),
      Option(deltaRounds.get((s, dir, d))).map(_.intValue).getOrElse(0))

  /** Unpersist + drop the cached edge/degree checkpoints for one data dir
    * — ScaleProbe runs many replica dirs through a single session, and
    * without per-dir eviction each factor's checkpointed blocks stay
    * pinned until the session stops.
    */
  def clearCache(s: SparkSession, dir: String): Unit = {
    Seq(edgeCache, degreeCache, triCornerCache, triEdgeCache, adjCache,
      wedgeCache, triangleCache, trussCache, corenessCache,
      componentCache).foreach { cache =>
      Option(cache.remove((s, dir))).foreach { df =>
        org.apache.spark.sql.GraftColumnBridge.checkpointRdd(df)
          .foreach(r => try r.unpersist(blocking = false) catch { case _: Exception => () })
      }
    }
    // Flight records and memoized gate probes go with the caches (r15
    // ADVICE: a stale rounds entry from an earlier forced-loop build
    // could otherwise trip a guard against a build that never happened
    // this configuration).
    edgeCountCache.remove((s, dir))
    trussRounds.remove((s, dir))
    corenessRounds.remove((s, dir))
    componentRounds.remove((s, dir))
    Seq("truss", "coreness", "components").foreach { d =>
      decompPath.remove((s, dir, d))
      deltaRounds.remove((s, dir, d))
    }
  }

  /** Closed-triangle corner triples `(a, x, y)` under the degree-peeling
    * orientation (rank = the (degree, node) pair as a struct, each edge
    * pointing at the higher rank): every triangle closes at exactly one
    * apex `a` with two out-edges, so each triangle appears exactly once
    * and the wedge enumeration is Σ C(outdeg, 2) — bounded by graph
    * arboricity. Shared by `graph_triangles` (one global count) and
    * `graph_clustering_coeff` (per-corner counts). The rank is a STRUCT,
    * not a packed long: packing aliases distinct nodes once ids reach
    * 2^31 — exactly the corpus sizes this module is written for.
    */
  private[ops] def closedTriangles(s: SparkSession, dir: String): DataFrame = {
    // r14: materialized per (session, dir) — [[triCorners]] and
    // [[triEdgeSupport]] each consumed this lazily, so the wedge
    // enumeration (the costliest graph subtree, ~3-4 s at sf0.1) ran
    // TWICE inside the bench's graph chain; the checkpointed triple list
    // is scanned once per consumer instead. Same localCheckpoint policy
    // as [[edges]] (persist()'s InMemoryRelation boundary regresses
    // downstream join planning — measured in r10). Row count = #triangles
    // (arboricity-bounded wedge closure, not all wedges).
    triangleCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    triangleCache.computeIfAbsent((s, dir), _ =>
      org.apache.spark.sql.GraftColumnBridge
        .leveledLocalCheckpoint(buildClosedTriangles(s, dir)))
  }

  private val triangleCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[ops] def buildClosedTriangles(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir)
    val deg = degrees(s, dir)
    val rank = deg.select(col("u").as("n"),
      struct(col("d"), col("u").as("id")).as("rk"))
    val ranked = e
      .join(rank.withColumnsRenamed(Map("n" -> "u", "rk" -> "rku")), "u")
      .join(rank.withColumnsRenamed(Map("n" -> "v", "rk" -> "rkv")), "v")
    val oriented = ranked.select(
      when(col("rku") < col("rkv"), col("u")).otherwise(col("v")).as("a"),
      when(col("rku") < col("rkv"), col("v")).otherwise(col("u")).as("b"),
      greatest(col("rku"), col("rkv")).as("rkb"))
    // Wedges at apex a: ordered pairs of out-neighbors; close with a
    // third hash join against the oriented edge set. The SHUFFLE_HASH
    // hints sit on the EDGE sides deliberately: the hint marks the build
    // side, and r14's first 10× scale probe OOMed because the close
    // join's hint sat on the WEDGE side — hash-building Σ C(outdeg, 2)
    // rows per task instead of the |E|-row edge partition (wedges are
    // the one unbounded intermediate in this subtree; edges are the
    // bounded one).
    oriented.as("e1").hint("SHUFFLE_HASH")
      .join(oriented.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.rkb") < col("e2.rkb"))
      .select(col("e1.a").as("apex"), col("e1.b").as("x"), col("e2.b").as("y"))
      .join(oriented.as("e3").hint("SHUFFLE_HASH"),
        col("x") === col("e3.a") && col("y") === col("e3.b"))
      .select(col("apex").as("a"), col("x"), col("y"))
  }

  /** Edges in both directions — the undirected adjacency list. */
  private def bidirectional(e: DataFrame): DataFrame =
    e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))

  /** Co-neighbor candidate pairs (a < b) with their shared-neighbor
    * count, wedge centers hub-capped at degree ≤ 64 — the ONE wedge
    * enumeration `graph_common_neighbors` and `graph_jaccard_neighbors`
    * both build on (the cap bounds candidates by C(64,2)·|V| regardless
    * of skew; both oracles apply the identical cap, keeping the checks
    * exact — a cap change here must change both oracle CTEs too).
    */
  private def cappedWedgeCandidates(bi: DataFrame, deg: DataFrame): DataFrame = {
    val small = bi.join(deg.filter(col("d") <= 64), "u")
    small.as("x").hint("SHUFFLE_HASH")
      .join(small.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.v").as("a"), col("y.v").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
  }

  /** The aggregated capped-wedge candidate table `(a, b, n_common)` as a
    * session artifact (r19): `graph_common_neighbors` and
    * `graph_jaccard_neighbors` each re-ran the full wedge enumeration —
    * the costliest subtree either query has — per rep; both consume
    * exactly this aggregate. SIZE-GATED like [[rankedAdjacency]]: the
    * candidate count is bounded by C(64,2)·|V| which outgrows any
    * sensible residency at the 100× probe tier, so above the adjacency
    * gate the accessor returns the transient plan (per-query recompute,
    * bounded memory — the same artifact-vs-recompute line every cache
    * here draws). `graph_betweenness_2hop` consumes the artifact too —
    * its σ_ab branch reads n_common per non-adjacent pair — while keeping
    * its own center-grain enumeration for the per-middleman flow split;
    * any change to the deg ≤ 64 cap must update all THREE consumers'
    * oracles together.
    */
  private val wedgeCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def wedgeCandidatesPlan(s: SparkSession, dir: String): DataFrame =
    cappedWedgeCandidates(bidirectional(edges(s, dir)), degrees(s, dir))

  private def wedgeCandidates(s: SparkSession, dir: String): DataFrame = {
    wedgeCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    if (adjCacheGated(s, dir))
      return wedgeCandidatesPlan(s, dir)
    wedgeCache.computeIfAbsent((s, dir), _ =>
      org.apache.spark.sql.GraftColumnBridge
        .leveledLocalCheckpoint(wedgeCandidatesPlan(s, dir)))
  }

  private val oracleEdgeCtes: String =
    """WITH li AS (SELECT DISTINCT l_orderkey ok, l_partkey pk FROM lineitem),
      |e AS (SELECT DISTINCT a.pk u, b.pk v FROM li a
      |      JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |bi AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
      |deg AS (SELECT u, count(*) d FROM bi GROUP BY u)""".stripMargin

  /** `graph_truss`'s oracle: the SAME h-index iteration as
    * [[buildTrussLabels]], unrolled to a FIXED 32 rounds (past the
    * measured fixpoint at every SF — 25 / 24 / 8 rounds at sf0.001 /
    * 0.01 / 0.1; GraphSpec pins the Spark build's round count ≤ 30 so a
    * fixture change that slows convergence fails the spec before it can
    * silently diverge from this unroll). Extra rounds past the fixpoint
    * are no-ops because t is monotone non-increasing, so the fixed-count
    * and converge-checked trajectories are identical.
    */
  /** `graph_coreness`'s oracle: the coreness h-index iteration unrolled
    * to a FIXED 48 rounds (measured fixpoints 10 / 19 / 38 at sf0.001 /
    * 0.01 / 0.1; GraphSpec pins the engine's round count <= 44).
    * MATERIALIZED CTEs for the same reason as the truss oracle.
    */
  private def corenessOracleSql: String = {
    val header =
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey ok, l_partkey pk FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.pk u, b.pk v FROM li a
        |     JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |bi AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |lab0 AS MATERIALIZED (
        |  SELECT u, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY u)""".stripMargin
    val rounds = (1 to 48).map { r =>
      val p = r - 1
      s"""h$r AS MATERIALIZED (SELECT u, max(least(mc, cum)) AS h FROM (
         |      SELECT u, mc,
         |             sum(cnt) OVER (PARTITION BY u ORDER BY mc DESC) AS cum
         |      FROM (
         |        SELECT v2.u, least(v2.m, l.c) AS mc, count(*) AS cnt
         |        FROM (SELECT bi.u, l2.c AS m
         |              FROM bi JOIN lab$p l2 ON bi.v = l2.u) v2
         |        JOIN lab$p l ON v2.u = l.u
         |        GROUP BY 1, 2))
         |      GROUP BY 1),
         |lab$r AS MATERIALIZED (SELECT l.u, least(l.c, coalesce(h.h, 0)) AS c
         |      FROM lab$p l LEFT JOIN h$r h ON l.u = h.u)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val footer =
      """
        |SELECT u AS node, CAST(c AS BIGINT) AS coreness
        |FROM lab48 ORDER BY node""".stripMargin
    header + rounds + footer
  }

  /** `graph_components`' oracle: the min-label propagation unrolled to a
    * FIXED 12 rounds — convergence is bounded by the eccentricity of each
    * component's min-id node (measured fixpoints are 2-4 rounds at the
    * shipped SFs; the query's guard fails loudly past 12 before a
    * slow-converging fixture could silently diverge). Extra rounds past
    * the fixpoint are no-ops by monotonicity, exactly like the truss /
    * coreness unrolls. MATERIALIZED CTEs for the same DuckDB-inlining
    * reason as the truss oracle.
    */
  /** The 12-round min-propagation unroll, shared by the components and
    * modularity oracles (r17) — ends with `lab12` holding (u, c).
    */
  private def componentsCtes: String = {
    val header =
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey ok, l_partkey pk FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.pk u, b.pk v FROM li a
        |     JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |bi AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |lab0 AS MATERIALIZED (
        |  SELECT DISTINCT u, CAST(u AS BIGINT) AS c FROM bi)""".stripMargin
    val rounds = (1 to 12).map { r =>
      val p = r - 1
      s"""h$r AS MATERIALIZED (SELECT bi.u, min(l2.c) AS h
         |      FROM bi JOIN lab$p l2 ON bi.v = l2.u GROUP BY bi.u),
         |lab$r AS MATERIALIZED (SELECT l.u, least(l.c, coalesce(h.h, l.c)) AS c
         |      FROM lab$p l LEFT JOIN h$r h ON l.u = h.u)""".stripMargin
    }.mkString(",\n", ",\n", "")
    header + rounds
  }

  private def componentsOracleSql: String =
    componentsCtes +
      """
        |SELECT u AS node, CAST(c AS BIGINT) AS component
        |FROM lab12 ORDER BY node""".stripMargin

  private def modularityOracleSql: String =
    componentsCtes +
      """,
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM bi GROUP BY 1),
        |dc AS (SELECT l.c AS comp, sum(CAST(d.d AS HUGEINT)) AS dcm
        |       FROM lab12 l JOIN deg d ON l.u = d.u GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e)
        |SELECT CAST(count(*) AS BIGINT) AS n_components,
        |       (SELECT CAST(m AS BIGINT) FROM m) AS n_edges,
        |       CAST((sum(dcm * dcm) * 1000000) // nullif(4 * CAST(min(m.m) AS HUGEINT) * min(m.m), 0) AS BIGINT) AS null_mass_ppm,
        |       CAST(1000000 - (sum(dcm * dcm) * 1000000) // nullif(4 * CAST(min(m.m) AS HUGEINT) * min(m.m), 0) AS BIGINT) AS q_ppm
        |FROM dc CROSS JOIN m""".stripMargin

  private def trussOracleSql: String = {
    // Every CTE is MATERIALIZED: DuckDB 1.0 inlines CTEs by default, and
    // 32 unrolled rounds referencing `tri` (4x/round) would inline the
    // lineitem parquet scan hundreds of times - the compare died on
    // "Too many open files" before materialization hints.
    val header =
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey ok, l_partkey pk FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.pk u, b.pk v FROM li a
        |     JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |tri AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM e e1
        |        JOIN e e2 ON e1.v = e2.u
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |lab0 AS MATERIALIZED (SELECT u, v, CAST(count(*) + 2 AS BIGINT) AS t FROM (
        |           SELECT a AS u, b AS v FROM tri
        |           UNION ALL SELECT b, c FROM tri
        |           UNION ALL SELECT a, c FROM tri) GROUP BY 1, 2)""".stripMargin
    val rounds = (1 to 32).map { r =>
      val p = r - 1
      s"""et$r AS MATERIALIZED (SELECT t.a, t.b, t.c, lab.t AS tab, lbc.t AS tbc, lac.t AS tac
         |       FROM tri t
         |       JOIN lab$p lab ON t.a = lab.u AND t.b = lab.v
         |       JOIN lab$p lbc ON t.b = lbc.u AND t.c = lbc.v
         |       JOIN lab$p lac ON t.a = lac.u AND t.c = lac.v),
         |h$r AS MATERIALIZED (SELECT u, v, max(least(mc - 2, cum)) AS h FROM (
         |        SELECT u, v, mc,
         |               sum(c) OVER (PARTITION BY u, v ORDER BY mc DESC) AS cum
         |        FROM (
         |          SELECT v2.u, v2.v, least(v2.m, l.t) AS mc, count(*) AS c
         |          FROM (
         |            SELECT a AS u, b AS v, least(tbc, tac) AS m FROM et$r
         |            UNION ALL SELECT b, c, least(tab, tac) FROM et$r
         |            UNION ALL SELECT a, c, least(tab, tbc) FROM et$r) v2
         |          JOIN lab$p l ON v2.u = l.u AND v2.v = l.v
         |          GROUP BY 1, 2, 3))
         |        GROUP BY 1, 2),
         |lab$r AS MATERIALIZED (SELECT l.u, l.v,
         |               least(l.t, 2 + greatest(coalesce(h.h, 0), 0)) AS t
         |        FROM lab$p l LEFT JOIN h$r h ON l.u = h.u AND l.v = h.v)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val footer =
      """
        |SELECT e.u, e.v, CAST(coalesce(l.t, 2) AS BIGINT) AS truss
        |FROM e LEFT JOIN lab32 l ON e.u = l.u AND e.v = l.v
        |ORDER BY e.u, e.v""".stripMargin
    header + rounds + footer
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Degree distribution — the first question asked of any new graph
    // (is it skewed? does the planner need salting?). Two stacked
    // map-side-combined hash aggregates; output is O(distinct degrees).
    "graph_degree_dist" -> { (s, dir) =>
      degrees(s, dir)
        .groupBy(col("d").as("degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree")
    },

    // Triangle census + global clustering coefficient. Spark enumerates
    // wedges under the degree-peeling orientation (rank = the (degree,
    // node) PAIR compared lexicographically as a struct, edge points at
    // the higher rank): every triangle has exactly one apex with two
    // out-edges, so the count is exact and the enumeration is
    // Σ C(outdeg, 2) — bounded by graph arboricity, the standard
    // scale-out formulation. Joins are hash joins on int keys. The rank
    // is a STRUCT, not the packed long d·2^31 + u an earlier draft used:
    // packing aliases distinct nodes once ids reach 2^31, which would
    // silently drop wedges at exactly the corpus sizes this module is
    // written for.
    "graph_triangles" -> { (s, dir) =>
      val e = edges(s, dir)
      val deg = degrees(s, dir)
      // Σ corner credits = 3·T exactly (each triangle credits 3 corners),
      // served from the shared corner-count checkpoint instead of a
      // second wedge enumeration (r12). coalesce: on a triangle-free
      // graph the corner table is empty and sum() is NULL — the
      // 0-triangles contract (and the DuckDB oracle's count) needs 0.
      val tri = triCorners(s, dir)
        .agg(expr("coalesce(sum(tri), 0) div 3").as("n_triangles"))
      val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
      val nEdges = e.agg(count(lit(1)).as("n_edges"))
      val nWedges = deg.agg(sum(expr("d * (d - 1) div 2")).as("n_wedges"))
      nNodes.crossJoin(broadcast(nEdges))
        .crossJoin(broadcast(nWedges))
        .crossJoin(broadcast(tri))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
            .as("clustering"))
    },

    // EDGE TRIANGLE SUPPORT (r13): the k-truss kernel — per-edge
    // triangle counts, reported as the support histogram plus the
    // zero-support mass (edges in no triangle). This is the
    // cohesion-structure readout truss decomposition starts from (an
    // edge with support ≥ k−2 can sit in a k-truss; the zero-support
    // edges are the bridges/noise a community pass prunes first). Reads
    // the shared triangle enumeration ONCE per session via the
    // [[triEdgeSupport]] checkpoint (the third consumer of
    // closedTriangles); everything after is an edge-set-bounded
    // aggregate collapsing to O(distinct supports) rows.
    "graph_edge_support" -> { (s, dir) =>
      val sup = triEdgeSupport(s, dir)
      val hist = sup.groupBy("support").agg(count(lit(1)).as("n_edges"))
      val zero = edges(s, dir).agg(count(lit(1)).as("ne"))
        .crossJoin(broadcast(sup.agg(count(lit(1)).as("ns"))))
        .select(lit(0L).as("support"), (col("ne") - col("ns")).as("n_edges"))
      hist.select(col("support"), col("n_edges")).union(zero)
        .filter(col("n_edges") > 0)
        .orderBy("support")
    },

    // K-TRUSS DECOMPOSITION (r14, the r13 verdict's ask #3): every edge's
    // max truss number — the largest k such that the edge survives in a
    // subgraph where every edge closes ≥ k−2 triangles. Serves the
    // session [[trussLabels]] fixpoint (h-index iteration over the shared
    // triangle list; Scaladoc there has the algorithm + scale analysis);
    // edges in no triangle are truss 2 by definition. The oracle unrolls
    // the SAME iteration 32 rounds — past the measured fixpoint at every
    // SF (25/24/8) — and the fixpoint's uniqueness makes the two
    // trajectories land identically.
    "graph_truss" -> { (s, dir) =>
      val lab = trussLabels(s, dir)
      // r15 ADVICE guard: the engine loop may run up to 64 rounds, the
      // oracle unrolls a FIXED 32 — on data needing more, the compare
      // would misreport a harness artifact (oracle stopped early) as an
      // engine divergence. Fail HERE with the real cause instead. The
      // in-task peel records no rounds (it is exact by construction).
      Option(trussRounds.get((s, dir))).filter(_ > 32).foreach(r =>
        sys.error(s"graph_truss converged in $r rounds > the oracle's " +
          "32-round unroll — regenerate trussOracleSql with more rounds"))
      edges(s, dir).join(lab, Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          coalesce(col("t"), lit(2L)).as("truss"))
        .orderBy("u", "v")
    },

    // FULL CORENESS DECOMPOSITION (r14): every node's k-core number —
    // the degeneracy-ordering primitive under community mining, graph
    // sampling, and the truss family's own orientation bound. Serves the
    // session [[corenessLabels]] h-index fixpoint (Scaladoc there);
    // oracle = the same iteration unrolled 48 fixed rounds (past the
    // measured fixpoints 10/19/38 at the three SFs), identical by the
    // fixpoint's uniqueness + monotone no-op tail.
    "graph_coreness" -> { (s, dir) =>
      val lab = corenessLabels(s, dir)
      // same oracle-unroll guard as graph_truss (48-round oracle)
      Option(corenessRounds.get((s, dir))).filter(_ > 48).foreach(r =>
        sys.error(s"graph_coreness converged in $r rounds > the oracle's " +
          "48-round unroll — regenerate corenessOracleSql with more rounds"))
      lab.select(col("u").as("node"), col("c").as("coreness"))
        .orderBy("node")
    },

    // LOCAL BRIDGES (r16): edges whose endpoints share NO common neighbor
    // — deleting one lengthens its endpoints' distance past 2 (the
    // Granovetter "weak tie" census; the spanning-structure health
    // readout next to the component count). Pure consumer of the session
    // triangle-support artifact: a local bridge is exactly an edge absent
    // from [[triEdgeSupport]], so the census is one anti-join of two
    // cached checkpoints + two bounded 1-row aggregates — zero new
    // corpus-scale work at any size.
    "graph_local_bridges" -> { (s, dir) =>
      val e = edges(s, dir)
      val lb = e.join(triEdgeSupport(s, dir).select("u", "v"),
        Seq("u", "v"), "left_anti")
      // empty-graph guard (r16 ADVICE): without it Spark's div yields a
      // NULL ppm while DuckDB's // raises — the degenerate fixture must
      // agree on both faces (NULL ppm over 0 edges, explicitly)
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(lb.agg(count(lit(1)).as("n_local_bridges"))))
        .select(col("n_edges"), col("n_local_bridges"),
          when(col("n_edges") > 0,
            expr("CAST((n_local_bridges * 1000000L) div n_edges AS BIGINT)"))
            .as("bridge_ppm"))
    },

    // RICH-CLUB COEFFICIENT (r16): at each degree threshold k, the edge
    // density of the subgraph induced by nodes with degree > k — the
    // "do the hubs preferentially connect to each other" structure
    // readout (assortativity's thresholded sibling). One explode of a
    // 6-element threshold array over the cached degree table and over
    // the degree-annotated edge list — |V|·6 and |E|·6 rows, both
    // map-side-combined into a 6-row output; density in exact ppm
    // through DECIMAL(38,0), NULL where the club has < 2 members.
    "graph_rich_club" -> { (s, dir) =>
      val ks = Seq(1L, 2L, 4L, 8L, 16L, 32L)
      val kArr = array(ks.map(lit): _*)
      val deg = degrees(s, dir)
      val nk = deg.select(col("d"), explode(kArr).as("k"))
        .filter(col("d") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_nodes"))
      val ek = edges(s, dir)
        .join(deg.select(col("u"), col("d").as("du")), "u")
        .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
        .select(least(col("du"), col("dv")).as("dmin"))
        .select(col("dmin"), explode(kArr).as("k"))
        .filter(col("dmin") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_edges"))
      import s.implicits._
      val kdim = ks.toDF("k")
      kdim.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
        .select(col("k"),
          coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"))
        .withColumn("phi_ppm",
          when(col("n_nodes") >= 2,
            expr("CAST((CAST(n_edges AS DECIMAL(38,0)) * 2000000) div " +
              "(CAST(n_nodes AS DECIMAL(38,0)) * (n_nodes - 1)) AS BIGINT)")))
        .orderBy("k")
    },

    // EXACT WEAKLY-CONNECTED COMPONENTS (r16): per-node component id =
    // the min node id reachable — the partitioning primitive under
    // cluster-dedup, per-community sampling, and any "process each
    // connected group together" pipeline stage. Served by the session
    // [[componentLabels]] min-propagation fixpoint through the shared
    // label-loop runner (Scaladoc there); oracle = the same recurrence
    // unrolled 12 fixed rounds (measured fixpoints are diameter-bounded:
    // 2-4 rounds at the shipped SFs; the guard below fails loudly before
    // a slow-converging fixture could silently diverge from the unroll).
    "graph_components" -> { (s, dir) =>
      val lab = componentLabels(s, dir)
      Option(componentRounds.get((s, dir))).filter(_ > 12).foreach(r =>
        sys.error(s"graph_components converged in $r rounds > the oracle's " +
          "12-round unroll — regenerate componentsOracleSql with more rounds"))
      lab.select(col("u").as("node"), col("comp").as("component"))
        .orderBy("node")
    },

    // MODULARITY OF THE COMPONENT PARTITION (r17): Q = 1 − Σ_c (d_c/2m)²
    // — with connected components as the partition every edge is
    // intra-community, so Q reduces to one minus the null-model mass:
    // the FRAGMENTATION index (Q → 0 when one island owns all degree,
    // → 1 − 1/C for C balanced islands) a corpus-graph health review
    // reads next to the component count. Pure consumer of two session
    // artifacts (component labels ⨝ degrees — one |V|-row join), with
    // per-component degree masses in exact DECIMAL(38,0) and both ppm
    // outputs by truncating division; no double anywhere.
    "graph_modularity" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val lab = componentLabels(s, dir)
      val m = edgeCount(s, dir)
      val dc = degrees(s, dir).join(lab, "u")
        .groupBy("comp").agg(sum(col("d").cast(d38)).as("dcm"))
      // 4m² rides DECIMAL(38,0) — as a long literal product it wraps at
      // m > 1.5e9, live at 100 TB edge counts
      dc.agg(count(lit(1)).as("n_components"),
          sum(col("dcm") * col("dcm")).as("s2"))
        .select(col("n_components"), lit(m).as("n_edges"),
          // nullif on the 4m² divisor: at m = 0 Spark's div yields NULL but
          // DuckDB's // raises — the same NULL-vs-error divergence nullif
          // already settles for graph_local_bridges; both faces carry it
          expr(s"CAST((s2 * 1000000) div nullif(CAST(${m} AS DECIMAL(38,0)) * ${m} * 4, 0) AS BIGINT)")
            .as("null_mass_ppm"),
          expr(s"CAST(1000000 - (s2 * 1000000) div nullif(CAST(${m} AS DECIMAL(38,0)) * ${m} * 4, 0) AS BIGINT)")
            .as("q_ppm"))
    },

    // Three PageRank iterations (damping 0.85) in fixed-point integer
    // arithmetic: rank mass scaled by 10^12, every division truncating —
    // integer sums are order-independent, so the iterative fixpoint is
    // bit-exact across engines AND across Spark's own nondeterministic
    // partial-aggregation order (an FP PageRank would not be). Each
    // iteration is one hash join (ranks ⨝ adjacency, both shuffled on
    // the source key) + one map-side-combined aggregate on the target
    // key; degrees and the node count ride along as a broadcast. At
    // cluster scale the adjacency would be hash-partitioned once and
    // reused across iterations (the dedup_components checkpoint kernel
    // shows the long-iteration variant); three fixed iterations need no
    // lineage truncation.
    "graph_pagerank" -> { (s, dir) =>
      val bi = bidirectional(edges(s, dir))
      val deg = degrees(s, dir)
      val nn = deg.agg(count(lit(1)).as("n"))
      // r20 (the r19 verdict's #1 ask — per-round stage latency): the r19
      // shape still paid TWO joins against the degree table per round (the
      // share projection's r ⨝ deg and the left join reinstating nodes
      // with no inbound mass). Both constant tables are now FOLDED INTO
      // THE LOOP RELATION once, the label_prop self-loop device:
      //   • every node gets one zero-weight self row (w = 0) carrying its
      //     degree, so the target-grain aggregate emits every node (the
      //     left join's job) and max(dv) re-derives d for the next round's
      //     share (exactly one self row per node);
      //   • the state (u, r, d) carries the degree, so the per-round share
      //     (r·85) div (100·d) is a PROJECTION, not a join.
      // Each round is ONE ShuffledHashJoin (loop relation ⨝ state, both
      // hashed on u — the state side arrives pre-partitioned from the
      // previous round's aggregate) + ONE map-side-combined aggregate on
      // v: 3 joins + 3 aggregates total, against r19's 9 joins. Σ sh·w
      // over {0,1} weights ≡ the old coalesce(Σ sh, 0) — bit-exact (the
      // GraphSpec driver-side integer fixpoint replay pins it).
      val biSelf = bi
        .select(col("u"), col("v"), lit(1L).as("w"),
          lit(null).cast("long").as("dv"))
        .unionByName(deg.select(col("u"), col("u").as("v"), lit(0L).as("w"),
          col("d").as("dv")))
      var st = deg.crossJoin(broadcast(nn))
        .select(col("u"), expr("1000000000000 div n").as("r"), col("d"))
      for (_ <- 1 to 3) {
        val sh = st.select(col("u"), expr("(r * 85) div (100 * d)").as("sh"))
        st = biSelf
          .join(sh.hint("SHUFFLE_HASH"), "u")
          .groupBy(col("v"))
          .agg(sum(col("sh") * col("w")).as("m"), max(col("dv")).as("d"))
          .crossJoin(broadcast(nn))
          .select(col("v").as("u"),
            (expr("15000000000000 div (100 * n)") + col("m")).as("r"),
            col("d"))
      }
      st.select(col("u").as("node"), col("r").as("rank_fp"))
        .orderBy(col("rank_fp").desc, col("node"))
    },

    // Common-neighbors link prediction: for every non-adjacent pair that
    // shares at least one neighbor, count the shared neighbors; top-50 by
    // count. Wedge enumeration is the inherent cost (Σ C(deg, 2)), so the
    // center is HUB-CAPPED at degree ≤ 64 — the standard link-prediction
    // mitigation (a hub's co-neighborhood says little and costs O(d²));
    // the cap bounds the wedge count by 2016·|V| regardless of skew, and
    // the oracle applies the identical cap so the check stays exact. One
    // self-equi-join on the center key, one map-side-combined count, one
    // anti-join against the edge set.
    "graph_common_neighbors" -> { (s, dir) =>
      val e = edges(s, dir)
      val cand = wedgeCandidates(s, dir) // shared session artifact (r19)
      cand.join(e, cand("a") === e("u") && cand("b") === e("v"), "left_anti")
        .orderBy(col("n_common").desc, col("a"), col("b"))
        .limit(50)
    },

    // NEIGHBORHOOD JACCARD (r10): structural similarity for entity
    // resolution — two nodes are alike when their adjacency SETS overlap,
    // |N(a)∩N(b)| / |N(a)∪N(b)|, the graph-space sibling of the shingle
    // Jaccard the dedup family runs in token space. Same capped wedge
    // enumeration as `graph_common_neighbors` (centers with deg ≤ 64 —
    // hub co-neighborhoods say little and cost O(d²); the oracle applies
    // the identical cap so the check stays exact), then each candidate
    // pair picks up both FULL degrees from a broadcast and scores in
    // exact integer ppm — no float division, so the top-k order is
    // engine-portable. Unlike the link-prediction query, existing edges
    // are kept: similarity is meaningful between connected nodes too.
    "graph_jaccard_neighbors" -> { (s, dir) =>
      val deg = degrees(s, dir)
      wedgeCandidates(s, dir) // shared session artifact (r19)
        .join(broadcast(deg.select(col("u").as("a"), col("d").as("d_a"))), "a")
        .join(broadcast(deg.select(col("u").as("b"), col("d").as("d_b"))), "b")
        .select(col("a"), col("b"), col("n_common"), col("d_a"), col("d_b"),
          expr("(n_common * 1000000L) div (d_a + d_b - n_common)").as("j_ppm"))
        .orderBy(col("j_ppm").desc, col("a"), col("b"))
        .limit(50)
    },

    // K-CORE PEELING LEDGER (r10; r12 rewires the rounds to INCREMENTAL
    // DEGREE MAINTENANCE — the standard peeling delta): three rounds of
    // "remove every node with degree < k" — the degeneracy-ordering
    // workhorse behind community detection and dense-subgraph mining.
    // Like `graph_pagerank`, the iteration count is FIXED (3) so the
    // query is engine-portable; k itself is data-derived (7/8 of the mean
    // degree in exact integers — see below) so the peel stays meaningful
    // at any sf. r10-r11 rounds 2-3 re-materialized the surviving
    // adjacency (two anti-joins over the FULL edge set per round) and
    // recounted degrees over it; the delta formulation never touches the
    // adjacency after round 1's degree table: the next round's degrees
    // are d(u) − |neighbors of u in the just-removed set| — one hash
    // aggregate over only the edges INCIDENT to removed nodes (sub-graph-
    // sized, shrinking per round), subtracted from the cached table. A
    // node whose degree hits 0 drops out silently (exactly the nodes that
    // vanished from the recounted adjacency — not core members either
    // way); the ledger counts peeled vs surviving nodes per round, which
    // is what converging-peel monitoring dashboards plot. Correctness of
    // the delta: an edge (u, v∈Rᵢ) with u surviving round i is live at
    // round i by induction (v ∈ Rᵢ ⇒ v survived rounds < i), so the
    // incident-edge count equals the recount's loss term — the r10 peel
    // replay in R10OpsSpec pins the ledger unchanged.
    "graph_k_core" -> { (s, dir) =>
      val bi = bidirectional(edges(s, dir))
      // k = 7/8 of the mean degree in EXACT integer arithmetic (Σd
      // double-counts edges; a double divide + cast could truncate
      // differently from floor near an integer quotient). The 7/8 keeps
      // k strictly below the mean: peeling AT the mean obliterates this
      // tight-degree graph in one round (measured: 90→110→∅ at sf0.001),
      // while 7/8 yields a genuine multi-round cascade (33/59/107 peeled
      // over the three rounds). r12: derived from the CACHED degree
      // table (Σd = 2|E|, rows = distinct endpoints) — the r11 form
      // aggregated count + countDistinct over the full bidirectional
      // edge set, a 2|E|-row distinct pass instantiated under all five
      // broadcast sites of this plan.
      val k = degrees(s, dir)
        .agg(sum(col("d")).as("e2"), count(lit(1)).as("nv"))
        .select(expr("(e2 * 7) div (nv * 8)").as("k"))
      def round1(deg: DataFrame, r: Int): DataFrame =
        deg.crossJoin(broadcast(k))
          .agg(
            min(col("k")).as("k"),
            sum(when(col("d") < col("k"), 1L).otherwise(0L)).as("n_removed"),
            sum(when(col("d") >= col("k"), 1L).otherwise(0L)).as("n_remaining"))
          // the round id is a literal OUTSIDE the aggregate so an empty
          // round (everything already peeled) still labels its row
          .select(lit(r).cast("long").as("round"), col("k"),
            col("n_removed"), col("n_remaining"))
      def removedOf(deg: DataFrame): DataFrame =
        deg.crossJoin(broadcast(k))
          .filter(col("d") < col("k")).select(col("u").as("ru"))
      // d_{i+1} = (d_i − incident-to-Rᵢ counts) over survivors, zeros out.
      // The delta join keys on the neighbor side of the cached edge set.
      // d2 is node-count-sized and read by FIVE plan references (its
      // ledger row, the removed set twice inside d3's delta, and two
      // consumers in d3's survivor join), so it stays localCheckpointed
      // like the other bounded graph artifacts. d3 has exactly ONE
      // consumer (its ledger row) — r20 drops its checkpoint: the eager
      // serial materialization action bought nothing (A/B'd, see
      // OPTIMIZATION_r20.md), the lazy subtree executes once either way.
      def nextDegrees(deg: DataFrame, removed: DataFrame,
          checkpoint: Boolean): DataFrame = {
        val delta = bi.join(removed, bi("v") === removed("ru"))
          .groupBy("u").agg(count(lit(1)).as("dx"))
        val next = deg.join(removed, deg("u") === removed("ru"), "left_anti")
          .join(delta, Seq("u"), "left")
          .select(col("u"), (col("d") - coalesce(col("dx"), lit(0L))).as("d"))
          .filter(col("d") > 0)
        if (checkpoint) next.localCheckpoint() else next
      }
      val d1 = degrees(s, dir)
      val d2 = nextDegrees(d1, removedOf(d1), checkpoint = true)
      // r20: a lazy LAST peel won −0.22..−0.37 s in single-family probe
      // sessions but LOST +0.18..+0.41 in all three full-bench passes —
      // under whole-suite residency the un-materialized peel's re-derived
      // blocks fall out of memory and the ledger's consumers re-pay the
      // incident-edge aggregate from disk. The bench is the serving
      // condition, so the eager checkpoint stays (the r19 round reached
      // the same conclusion and the experiment is now on record twice).
      val d3 = nextDegrees(d2, removedOf(d2), checkpoint = true)
      round1(d1, 1).unionByName(round1(d2, 2)).unionByName(round1(d3, 3))
        .orderBy("round")
    },

    // MIN-LABEL PROPAGATION (r11): 3 synchronous rounds of
    // label(u) ← min(label(u), min over neighbors) from label₀ = node id —
    // the communication kernel of connected components / community
    // detection (the dedup family's `dedup_components` runs the
    // until-fixpoint variant with lineage checkpoints; this is the
    // fixed-iteration, engine-portable face with an exact oracle). All
    // integer min-arithmetic — bit-exact under any partial-aggregation
    // order. Each round is ONE hash join (adjacency ⨝ labels, both
    // shuffled on the neighbor key) + one min-aggregate; at cluster scale
    // the adjacency is hash-partitioned once and reused across rounds,
    // exactly like `graph_pagerank`. Output: label histogram after round
    // 3 — the partially-converged community structure.
    "graph_label_prop" -> { (s, dir) =>
      val bi = bidirectional(edges(s, dir))
      val deg = degrees(s, dir)
      // r19: SELF-LOOPS folded into the propagation relation — per round,
      // min over (self ∪ neighbors) ≡ least(lbl, coalesce(min-neighbor,
      // lbl)), so the per-round left join back onto the label table (one
      // join + one exchange + one stage barrier × 3 rounds) is gone: each
      // round is exactly one hash join + one min-aggregate. The unioned
      // relation's exchange on the neighbor key is identical across
      // rounds and reused. Labels only ever decrease, so the self row
      // carries the current label into the same integer min — bit-exact.
      val biSelf = bi.unionByName(deg.select(col("u"), col("u").as("v")))
      var lbl = deg.select(col("u"), col("u").as("lbl"))
      for (_ <- 1 to 3) {
        lbl = biSelf.hint("SHUFFLE_HASH")
          .join(lbl.withColumnsRenamed(Map("u" -> "v", "lbl" -> "vl")), "v")
          .groupBy("u").agg(min(col("vl")).as("lbl"))
      }
      lbl.groupBy("lbl").agg(count(lit(1)).as("n_members"))
        .orderBy("lbl")
    },

    // BFS REACHABILITY LAYERS (r11): 3 frontier-expansion rounds from the
    // minimum node id — the traversal kernel behind reachability,
    // radius/eccentricity probes, and seed-expansion community detection.
    // Each round is one hash join (frontier ⨝ adjacency) + distinct +
    // one anti-join against the visited set — the standard scale-out BFS
    // step where per-round state is the frontier and visited id sets,
    // never paths. Fixed round count keeps it engine-portable (the
    // until-fixpoint variant is `dedup_components`' kernel); the ledger
    // (round, frontier_size, n_visited) is what BFS monitoring plots.
    // r18: served from the shared [[landmarkReached]] checkpoint — the
    // BFS source (the minimum node id) IS the lowest landmark seed, and
    // the layer ledger is a fold of its reached set: frontier_size(r) =
    // |{dist = r}|, n_visited(r) = |{dist ≤ r}| (min-dist semantics are
    // identical: distinct + anti-join-visited ≡ first-reached round).
    // Rounds with an empty frontier still emit their 0-row via the
    // 4-row literal round axis. Previously 8 frontier joins per rep
    // (~1.9 s pooled); now two ≤ |V|-row aggregates off the artifact.
    "graph_bfs_layers" -> { (s, dir) =>
      val lr = landmarkReached(s, dir)
      val src0 = lr.agg(min(col("src")).as("src"))
      val hist = lr.join(broadcast(src0), "src")
        .groupBy("dist").agg(count(lit(1)).as("fs"))
      val w = Window.orderBy("round")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      s.range(4).select(col("id").as("round"))
        .join(broadcast(hist), col("round") === col("dist"), "left")
        // round 0 is pinned to 1: the seed row exists even on an edge-free
        // corpus (the oracle's SELECT min(u) subquery keeps its NULL row,
        // and the pre-r18 single-row min-aggregate frontier counted it too)
        // — on any non-empty graph hist's dist-0 count is exactly 1 anyway
        .select(col("round"),
          when(col("round") === 0, lit(1L))
            .otherwise(coalesce(col("fs"), lit(0L))).as("frontier_size"))
        .withColumn("n_visited", sum(col("frontier_size")).over(w))
        .orderBy("round")
    },

    // LOCAL CLUSTERING COEFFICIENT (r12): per-node triangle density —
    // the community-structure profile question ("is this node's
    // neighborhood a clique or a star?") that the global census in
    // graph_triangles averages away. One extra explode over the SAME
    // arboricity-bounded closed-triangle enumeration (each triangle
    // attributed to its 3 corners), one map-side-combined count per
    // corner, then exact integer ppm against C(d, 2) from the cached
    // degree table — no float division, so the engines agree bit-for-bit
    // and the top-20 order cannot flap. Total order: (coeff, n_tri,
    // node) — node is unique, so TakeOrderedAndProject is deterministic.
    "graph_clustering_coeff" -> { (s, dir) =>
      val corners = triCorners(s, dir)
      degrees(s, dir).filter(col("d") >= 2)
        .join(corners, Seq("u"), "left")
        .select(col("u").as("node"), col("d").as("degree"),
          coalesce(col("tri"), lit(0L)).as("n_tri"),
          expr("(coalesce(tri, 0) * 2000000) div (d * (d - 1))")
            .as("coeff_ppm"))
        .orderBy(col("coeff_ppm").desc, col("n_tri").desc, col("node"))
        .limit(20)
    },

    // LANDMARK DISTANCES (r12): multi-source bounded-hop BFS — the
    // closeness-centrality / landmark-embedding primitive (distance
    // oracles estimate d(u,v) ≤ d(u,L)+d(L,v) through a few landmarks).
    // Per (landmark, node) the MINIMUM hop count ≤ 3, reported as a
    // distance histogram. Each round is one hash join of the frontier
    // against the cached adjacency + one anti-join against the reached
    // set, all keyed on (src, u) — 3 seeds × 4 rounds of |E|-bounded
    // shuffles, the textbook Pregel step expressed as joins; since r18
    // the reached set is the shared [[landmarkReached]] checkpoint
    // (graph_eccentricity folds the same rows). The oracle replays it as
    // a recursive CTE whose UNION dedup gives the same visited-set
    // semantics.
    "graph_landmark_distance" -> { (s, dir) =>
      landmarkReached(s, dir)
        .groupBy("src", "dist").agg(count(lit(1)).as("n_nodes"))
        .orderBy("src", "dist")
    },

    // ECCENTRICITY LOWER BOUNDS (r18): the landmark-BFS read the distance
    // oracles actually serve — ecc(u) ≥ max_L d(u, L) for every node the
    // landmarks reach (the BoundingDiameters/landmark-embedding bound;
    // exact eccentricity is all-pairs BFS, O(n·E), refused at corpus
    // scale). Folds the shared [[landmarkReached]] checkpoint (the same
    // 3-landmark bounded-hop BFS graph_landmark_distance histograms),
    // then per node the MAX landmark distance, restricted to
    // nodes ALL seeds reached (a partial view would understate the
    // bound; the required count is the actual seed count, ≤ 3 on tiny
    // graphs), reported as the bound histogram. Everything exact integers;
    // the oracle replays the identical walk as a recursive CTE.
    "graph_eccentricity" -> { (s, dir) =>
      val lr = landmarkReached(s, dir)
      // the required coverage is the ACTUAL seed count (≤ 3 on graphs
      // with fewer than 3 nodes), not the literal 3 — a tiny graph still
      // gets its bounds (r19, advice); dist-0 rows are exactly the seeds
      val nSeeds = lr.filter(col("dist") === 0)
        .agg(count(lit(1)).as("n_seeds"))
      lr.groupBy("u")
        .agg(max(col("dist")).as("ecc_lb"), count(lit(1)).as("n_landmarks"))
        .crossJoin(broadcast(nSeeds))
        .filter(col("n_landmarks") === col("n_seeds"))
        .groupBy("ecc_lb").agg(count(lit(1)).as("n_nodes"))
        .orderBy("ecc_lb")
    },

    // DEGREE ASSORTATIVITY (r10): Newman's r — the Pearson correlation
    // of endpoint degrees over the directed edge list (both directions,
    // the standard undirected convention). Do high-degree products
    // co-purchase with other high-degree products, or with the long
    // tail? One broadcast of the degree table onto each endpoint and a
    // single corr aggregate; corr's scale invariance cancels the
    // sample-vs-population normalization between engines, and + 0.0
    // canonicalizes a near-zero coefficient's signed zero.
    "graph_assortativity" -> { (s, dir) =>
      val bi = bidirectional(edges(s, dir))
      val deg = degrees(s, dir)
      bi
        .join(broadcast(deg.select(col("u"), col("d").as("d_u"))), "u")
        .join(broadcast(deg.select(col("u").as("v"), col("d").as("d_v"))), "v")
        .agg(count(lit(1)).as("n_directed_edges"),
          (round(corr(col("d_u"), col("d_v")), 4) + 0.0).as("assortativity_r"))
    },

    // HITS (r12): hubs and authorities on the DIRECTED bipartite
    // supplier → part graph (who supplies it, not who co-occurs with
    // it — the natural directed structure the undirected co-purchase
    // family can't express). Two unnormalized power-iteration rounds in
    // EXACT integers: a₁(p) = indegree, h₁(s) = Σ_{s→p} a₁(p),
    // a₂(p) = Σ_{s→p} h₁(s) — no division anywhere, so there is no
    // float fixpoint and no truncation order for the engines to
    // disagree on. Sums ride DECIMAL(38,0) (the agg_moments pattern;
    // a₂ is bounded by |E|·max-indeg·max-outdeg, past Int64 on a
    // planet-scale graph, comfortably inside 38 digits); the emitted
    // score casts back to BIGINT, exact while scores < 2^63 — true up
    // to ~10⁶ suppliers × 10⁶ parts. Each round is one shuffle join on
    // the edge key + one map-side-combined aggregate, the PageRank
    // kernel shape; ranking is unaffected by the skipped normalization
    // because every score in a round shares the same implicit scale.
    "graph_hits" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      // r20 (verdict #1 — per-round exchange count): the edge relation is
      // hash-partitioned by the PART key before the distinct, so three
      // operators ride ONE exchange where the r12 shape paid three — the
      // (s, p) dedup (subset rule: HashPartitioning(p) clusters (s, p)),
      // the a₁ indegree aggregate (keys = p), and the first propagation
      // join's probe side (keyed p) are all exchange-free over it. The
      // h₁-round re-exchange on s is inherent (the propagation transposes
      // the grain); joins stay SHUFFLE_HASH — a₁/h₁ are node-dimension
      // tables, never broadcast at scale.
      val sp = graft.Tables.lineitem(s, dir)
        .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
        .repartition(col("p"))
        .distinct()
      val a1 = sp.groupBy("p").agg(count(lit(1)).cast(d38).as("a1"))
      val h1 = sp.hint("SHUFFLE_HASH").join(a1, "p")
        .groupBy("s").agg(sum(col("a1")).as("h1"))
      val a2 = sp.hint("SHUFFLE_HASH").join(h1, "s")
        .groupBy("p").agg(sum(col("h1")).as("a2"))
      // r19: materialize the supplier+part-dim union before the global
      // sort — the range exchange's sampling pass otherwise re-executes
      // both propagation join stages a second time.
      h1.select(lit("hub").as("side"), col("s").as("node"),
          col("h1").cast("long").as("score"))
        .unionByName(a2.select(lit("authority").as("side"), col("p").as("node"),
          col("a2").cast("long").as("score")))
        .transform(d =>
          FinalSort.bounded(d, col("side"), col("score").desc, col("node")))
    },

    // RANDOM WALKS (r12): the node2vec/DeepWalk sampling primitive — the
    // walk corpus a graph-embedding pipeline feeds to skip-gram. One
    // fixed-length walk per start node, 3 steps, and the "randomness" is
    // DETERMINISTIC and engine-portable: at each step the next neighbor
    // is picked by rank r = fold16(md5("walk:<start>:<t>:<cur>")) mod
    // degree(cur) + 1 against the row_number-ranked adjacency (the
    // salted-md5 device every sampling query here uses — retries,
    // partitioning and engines all agree, where a RAND() walk would be
    // unreplayable). Scale shape: each step is ONE hash join of the
    // walk frontier (|V| rows) against the ranked adjacency on the
    // current node — co-partitioned, no window over data, the ranking
    // window partitions by node (per-partition work bounded by degree).
    // Walk count and length are knobs; the plan is linear in both.
    "graph_random_walk" -> { (s, dir) =>
      // r15: the ranked adjacency is the session artifact (ask #4) — the
      // per-rep ranking window over the edge cache is gone; each step is
      // a join against the checkpoint.
      val adj = rankedAdjacency(s, dir)
      val deg = degrees(s, dir)
      // First 16 md5 bits as a long, built from the PASSED column (r13
      // ADVICE fix — the r12 draft hardcoded "hh" inside expr() strings,
      // silently ignoring its parameter). conv(hex, 16, 10) is the
      // nibble-fold in one exact integer step, same value both engines.
      def fold16(h: Column): Column =
        conv(substring(h, 1, 4), 16, 10).cast("long")
      // r19: ONE equi-join per step. The artifact now carries the degree
      // on every adjacency row, so the neighbor pick — rn = fold16 % d + 1,
      // previously a degree join followed by a (node, rank)-keyed join
      // that re-shuffled the adjacency per step — becomes an integer
      // RESIDUAL on a join keyed by the node alone: the md5 fold rides
      // the frontier side (|V| hashes per step, same as before), the
      // adjacency's one hash-exchange on u is identical across steps
      // (reused), and exactly one neighbor satisfies the residual, so
      // the picked walk is unchanged. SHUFFLE_HASH with the frontier as
      // build side — never a broadcast of the corpus-sized adjacency.
      def step(df: DataFrame, from: String, to: String, t: Int): DataFrame = {
        val ad = adj.select(col("u").as("__ju"), col("rn").as("__jrn"),
          col("v").as(to), col("d").as("__jd"))
        df.withColumn("__pb", fold16(md5(concat_ws(":", lit("walk"),
            col("start").cast("string"), lit(t.toString),
            col(from).cast("string")))))
          .hint("SHUFFLE_HASH")
          .join(ad, col(from) === col("__ju") &&
            col("__jrn") === col("__pb") % col("__jd") + 1L)
          .drop("__pb", "__ju", "__jrn", "__jd")
      }
      val s0 = deg.select(col("u").as("start"), col("u").as("c0"))
      val s3 = step(step(step(s0, "c0", "s1", 1), "s1", "s2", 2), "s2", "s3", 3)
      // r19: materialize the |V|-row walk table before the global sort —
      // the range exchange's sampling pass otherwise re-executes the
      // step-3 join stage a second time.
      s3.select(col("start"), col("s1"), col("s2"), col("s3"))
        .transform(d => FinalSort.bounded(d, col("start")))
    },

    // 2-HOP BETWEENNESS (r12): the brokerage centrality — how much
    // shortest-path traffic routes THROUGH a node. Full betweenness
    // needs all-pairs shortest paths; the standard bounded surrogate
    // scores length-2 geodesics only: for every node pair (a, b) at
    // distance exactly 2 (an OPEN wedge endpoint pair), each of its
    // σ_ab = #common-neighbor middlemen carries 1/σ_ab of the pair's
    // unit flow. The fraction is EXACT per pair — 10⁶ div σ in integer
    // ppm, same truncation both engines — so the sum is order-proof.
    // Same deg ≤ 64 center cap as the whole wedge family (hub
    // co-neighborhoods cost O(d²) and the oracle applies the identical
    // cap, keeping the check exact). Plan: ONE wedge enumeration (the
    // cappedWedgeCandidates kernel with the center retained), one
    // anti-join against the closed pairs, one σ hash aggregate joined
    // back, one per-center sum. Nothing super-linear beyond the capped
    // O(d²)-per-center explode every sibling already pays.
    "graph_betweenness_2hop" -> { (s, dir) =>
      val e = edges(s, dir)
      val small = bidirectional(e)
        .join(degrees(s, dir).filter(col("d") <= 64), "u")
      val wedges = small.as("x").hint("SHUFFLE_HASH")
        .join(small.as("y"), col("x.u") === col("y.u") && col("x.v") < col("y.v"))
        .select(col("x.u").as("m"), col("x.v").as("a"), col("y.v").as("b"))
      val open = wedges
        .join(e, wedges("a") === e("u") && wedges("b") === e("v"), "left_anti")
      // r19: σ_ab is served from the shared [[wedgeCandidates]] artifact
      // (n_common of a non-adjacent pair IS its open-wedge middleman
      // count — same deg ≤ 64 cap, same enumeration) instead of a
      // groupBy over `open`, which made the whole wedge-enumeration
      // subtree execute TWICE (duplicated in the before plan: the
      // open-wedge chain appears under both the σ aggregate and the
      // attribution join).
      val sigma = wedgeCandidates(s, dir)
        .join(e, col("a") === e("u") && col("b") === e("v"), "left_anti")
        .select(col("a"), col("b"), col("n_common").as("sigma"))
      open.join(sigma, Seq("a", "b"))
        .groupBy(col("m").as("node"))
        .agg(count(lit(1)).as("n_open_wedges"),
          sum(expr("1000000 div sigma")).as("betweenness_ppm"))
        .orderBy(col("betweenness_ppm").desc, col("node"))
        .limit(20)
    },
  )

  val oracles: Map[String, String] = Map(
    "graph_truss" -> trussOracleSql,
    "graph_coreness" -> corenessOracleSql,
    "graph_components" -> componentsOracleSql,
    "graph_modularity" -> modularityOracleSql,

    "graph_local_bridges" ->
      s"""$oracleEdgeCtes
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
         |       (SELECT CAST(count(*) AS BIGINT) FROM e x
         |        WHERE NOT EXISTS (
         |          SELECT 1 FROM bi a JOIN bi b ON a.v = b.v
         |          WHERE a.u = x.u AND b.u = x.v)) AS n_local_bridges,
         |       CAST(((SELECT CAST(count(*) AS HUGEINT) FROM e x
         |              WHERE NOT EXISTS (
         |                SELECT 1 FROM bi a JOIN bi b ON a.v = b.v
         |                WHERE a.u = x.u AND b.u = x.v)) * 1000000)
         |            // nullif((SELECT count(*) FROM e), 0)
         |            AS BIGINT) AS bridge_ppm""".stripMargin,

    "graph_rich_club" ->
      s"""$oracleEdgeCtes,
         |ks AS (SELECT CAST(unnest([1, 2, 4, 8, 16, 32]) AS BIGINT) AS k),
         |nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
         |       FROM deg, ks WHERE d > k GROUP BY 1),
         |ek AS (SELECT k, CAST(count(*) AS BIGINT) AS n_edges
         |       FROM (SELECT least(d1.d, d2.d) AS dmin FROM e
         |             JOIN deg d1 ON e.u = d1.u
         |             JOIN deg d2 ON e.v = d2.u), ks
         |       WHERE dmin > k GROUP BY 1)
         |SELECT ks.k,
         |       coalesce(nk.n_nodes, 0) AS n_nodes,
         |       coalesce(ek.n_edges, 0) AS n_edges,
         |       CASE WHEN coalesce(nk.n_nodes, 0) >= 2 THEN
         |         CAST((CAST(coalesce(ek.n_edges, 0) AS HUGEINT) * 2000000)
         |              // (CAST(nk.n_nodes AS HUGEINT) * (nk.n_nodes - 1))
         |              AS BIGINT)
         |       END AS phi_ppm
         |FROM ks LEFT JOIN nk USING (k) LEFT JOIN ek USING (k)
         |ORDER BY ks.k""".stripMargin,

    "graph_degree_dist" ->
      s"""$oracleEdgeCtes
         |SELECT d AS degree, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM deg GROUP BY d ORDER BY degree""".stripMargin,

    "graph_triangles" ->
      s"""$oracleEdgeCtes,
         |tri AS (SELECT count(*) t FROM e e1
         |        JOIN e e2 ON e1.v = e2.u
         |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
         |SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
         |       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
         |       CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS BIGINT)
         |         AS n_wedges,
         |       CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
         |       round(3.0 * (SELECT t FROM tri)
         |             / (SELECT sum(d * (d - 1) // 2) FROM deg), 6)
         |         AS clustering""".stripMargin,

    "graph_edge_support" ->
      s"""$oracleEdgeCtes,
         |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM e e1
         |        JOIN e e2 ON e1.v = e2.u
         |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |sup AS (SELECT u, v, CAST(count(*) AS BIGINT) AS support FROM (
         |          SELECT a AS u, b AS v FROM tri
         |          UNION ALL SELECT b AS u, c AS v FROM tri
         |          UNION ALL SELECT a AS u, c AS v FROM tri)
         |        GROUP BY 1, 2),
         |hist AS (
         |  SELECT support, CAST(count(*) AS BIGINT) AS n_edges
         |  FROM sup GROUP BY 1
         |  UNION ALL
         |  SELECT 0 AS support,
         |         (SELECT count(*) FROM e) - (SELECT count(*) FROM sup))
         |SELECT CAST(support AS BIGINT) AS support, n_edges
         |FROM hist WHERE n_edges > 0 ORDER BY support""".stripMargin,

    "graph_pagerank" ->
      s"""$oracleEdgeCtes,
         |nn AS (SELECT CAST(count(*) AS BIGINT) n FROM deg),
         |r0 AS (SELECT u, 1000000000000 // n AS r FROM deg, nn),
         |s1 AS (SELECT bi.v AS u,
         |              CAST(sum((r0.r * 85) // (100 * deg.d)) AS BIGINT) m
         |       FROM bi JOIN r0 ON bi.u = r0.u JOIN deg ON bi.u = deg.u
         |       GROUP BY bi.v),
         |r1 AS (SELECT deg.u, 15000000000000 // (100 * n)
         |              + coalesce(m, 0) AS r
         |       FROM deg LEFT JOIN s1 ON deg.u = s1.u, nn),
         |s2 AS (SELECT bi.v AS u,
         |              CAST(sum((r1.r * 85) // (100 * deg.d)) AS BIGINT) m
         |       FROM bi JOIN r1 ON bi.u = r1.u JOIN deg ON bi.u = deg.u
         |       GROUP BY bi.v),
         |r2 AS (SELECT deg.u, 15000000000000 // (100 * n)
         |              + coalesce(m, 0) AS r
         |       FROM deg LEFT JOIN s2 ON deg.u = s2.u, nn),
         |s3 AS (SELECT bi.v AS u,
         |              CAST(sum((r2.r * 85) // (100 * deg.d)) AS BIGINT) m
         |       FROM bi JOIN r2 ON bi.u = r2.u JOIN deg ON bi.u = deg.u
         |       GROUP BY bi.v),
         |r3 AS (SELECT deg.u, 15000000000000 // (100 * n)
         |              + coalesce(m, 0) AS r
         |       FROM deg LEFT JOIN s3 ON deg.u = s3.u, nn)
         |SELECT u AS node, CAST(r AS BIGINT) AS rank_fp FROM r3
         |ORDER BY rank_fp DESC, node""".stripMargin,

    "graph_common_neighbors" ->
      s"""$oracleEdgeCtes,
         |small AS (SELECT bi.u, bi.v FROM bi
         |          JOIN deg ON bi.u = deg.u WHERE deg.d <= 64),
         |cand AS (SELECT x.v AS a, y.v AS b,
         |                CAST(count(*) AS BIGINT) AS n_common
         |         FROM small x JOIN small y
         |           ON x.u = y.u AND x.v < y.v
         |         GROUP BY 1, 2)
         |SELECT a, b, n_common FROM cand
         |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = cand.a AND e.v = cand.b)
         |ORDER BY n_common DESC, a, b LIMIT 50""".stripMargin,

    "graph_jaccard_neighbors" ->
      s"""$oracleEdgeCtes,
         |small AS (SELECT bi.u, bi.v FROM bi
         |          JOIN deg ON bi.u = deg.u WHERE deg.d <= 64),
         |cand AS (SELECT x.v AS a, y.v AS b,
         |                CAST(count(*) AS BIGINT) AS n_common
         |         FROM small x JOIN small y
         |           ON x.u = y.u AND x.v < y.v
         |         GROUP BY 1, 2)
         |SELECT a, b, n_common,
         |       CAST(da.d AS BIGINT) AS d_a, CAST(db.d AS BIGINT) AS d_b,
         |       CAST((n_common * 1000000) // (da.d + db.d - n_common) AS BIGINT)
         |         AS j_ppm
         |FROM cand JOIN deg da ON cand.a = da.u JOIN deg db ON cand.b = db.u
         |ORDER BY j_ppm DESC, a, b LIMIT 50""".stripMargin,

    "graph_k_core" ->
      s"""$oracleEdgeCtes,
         |kk AS (SELECT ((SELECT count(*) FROM bi) * 7)
         |              // ((SELECT count(*) FROM deg) * 8) AS k),
         |rm1 AS (SELECT u FROM deg, kk WHERE d < k),
         |b2 AS (SELECT bi.u, bi.v FROM bi
         |       WHERE bi.u NOT IN (SELECT u FROM rm1)
         |         AND bi.v NOT IN (SELECT u FROM rm1)),
         |d2 AS (SELECT u, count(*) d FROM b2 GROUP BY u),
         |rm2 AS (SELECT u FROM d2, kk WHERE d < k),
         |b3 AS (SELECT b2.u, b2.v FROM b2
         |       WHERE b2.u NOT IN (SELECT u FROM rm2)
         |         AND b2.v NOT IN (SELECT u FROM rm2)),
         |d3 AS (SELECT u, count(*) d FROM b3 GROUP BY u)
         |SELECT CAST(r AS BIGINT) AS round, CAST(k AS BIGINT) AS k,
         |       CAST(n_removed AS BIGINT) AS n_removed,
         |       CAST(n_remaining AS BIGINT) AS n_remaining
         |FROM (
         |  SELECT 1 AS r, min(k) AS k,
         |         sum(CASE WHEN d < k THEN 1 ELSE 0 END) AS n_removed,
         |         sum(CASE WHEN d >= k THEN 1 ELSE 0 END) AS n_remaining
         |  FROM deg, kk
         |  UNION ALL
         |  SELECT 2, min(k),
         |         sum(CASE WHEN d < k THEN 1 ELSE 0 END),
         |         sum(CASE WHEN d >= k THEN 1 ELSE 0 END)
         |  FROM d2, kk
         |  UNION ALL
         |  SELECT 3, min(k),
         |         sum(CASE WHEN d < k THEN 1 ELSE 0 END),
         |         sum(CASE WHEN d >= k THEN 1 ELSE 0 END)
         |  FROM d3, kk)
         |ORDER BY round""".stripMargin,

    "graph_assortativity" ->
      s"""$oracleEdgeCtes
         |SELECT CAST(count(*) AS BIGINT) AS n_directed_edges,
         |       round(corr(du.d, dv.d), 4) + 0.0 AS assortativity_r
         |FROM bi JOIN deg du ON bi.u = du.u JOIN deg dv ON bi.v = dv.u""".stripMargin,

    "graph_bfs_layers" ->
      s"""$oracleEdgeCtes,
         |f0 AS (SELECT min(u) AS u FROM deg),
         |v0 AS (SELECT u FROM f0),
         |f1 AS (SELECT DISTINCT bi.v AS u FROM bi JOIN f0 ON bi.u = f0.u
         |       WHERE bi.v NOT IN (SELECT u FROM v0)),
         |v1 AS (SELECT u FROM v0 UNION ALL SELECT u FROM f1),
         |f2 AS (SELECT DISTINCT bi.v AS u FROM bi JOIN f1 ON bi.u = f1.u
         |       WHERE bi.v NOT IN (SELECT u FROM v1)),
         |v2 AS (SELECT u FROM v1 UNION ALL SELECT u FROM f2),
         |f3 AS (SELECT DISTINCT bi.v AS u FROM bi JOIN f2 ON bi.u = f2.u
         |       WHERE bi.v NOT IN (SELECT u FROM v2)),
         |v3 AS (SELECT u FROM v2 UNION ALL SELECT u FROM f3)
         |SELECT CAST(r AS BIGINT) AS round,
         |       CAST(fs AS BIGINT) AS frontier_size,
         |       CAST(nv AS BIGINT) AS n_visited
         |FROM (
         |  SELECT 0 AS r, (SELECT count(*) FROM f0) AS fs,
         |         (SELECT count(*) FROM v0) AS nv
         |  UNION ALL SELECT 1, (SELECT count(*) FROM f1),
         |         (SELECT count(*) FROM v1)
         |  UNION ALL SELECT 2, (SELECT count(*) FROM f2),
         |         (SELECT count(*) FROM v2)
         |  UNION ALL SELECT 3, (SELECT count(*) FROM f3),
         |         (SELECT count(*) FROM v3))
         |ORDER BY round""".stripMargin,

    "graph_clustering_coeff" ->
      s"""$oracleEdgeCtes,
         |tri AS (SELECT e1.u a, e2.u b, e2.v c FROM e e1
         |        JOIN e e2 ON e1.v = e2.u
         |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |corners AS (SELECT a AS u FROM tri UNION ALL
         |            SELECT b FROM tri UNION ALL
         |            SELECT c FROM tri),
         |tc AS (SELECT u, count(*) AS tri FROM corners GROUP BY u)
         |SELECT deg.u AS node, CAST(deg.d AS BIGINT) AS degree,
         |       CAST(coalesce(tc.tri, 0) AS BIGINT) AS n_tri,
         |       CAST((coalesce(tc.tri, 0) * 2000000)
         |            // (deg.d * (deg.d - 1)) AS BIGINT) AS coeff_ppm
         |FROM deg LEFT JOIN tc USING (u)
         |WHERE deg.d >= 2
         |ORDER BY coeff_ppm DESC, n_tri DESC, node LIMIT 20""".stripMargin,

    "graph_landmark_distance" ->
      s"""${oracleEdgeCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |seeds AS (SELECT u FROM deg ORDER BY u LIMIT 3),
         |walk(src, node, dist) AS (
         |  SELECT u, u, 0 FROM seeds
         |  UNION
         |  SELECT w.src, bi.v, w.dist + 1
         |  FROM walk w JOIN bi ON bi.u = w.node WHERE w.dist < 3),
         |md AS (SELECT src, node, min(dist) AS dist
         |       FROM walk GROUP BY src, node)
         |SELECT src, CAST(dist AS BIGINT) AS dist,
         |       CAST(count(*) AS BIGINT) AS n_nodes
         |FROM md GROUP BY src, dist ORDER BY src, dist""".stripMargin,

    "graph_eccentricity" ->
      s"""${oracleEdgeCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |seeds AS (SELECT u FROM deg ORDER BY u LIMIT 3),
         |walk(src, node, dist) AS (
         |  SELECT u, u, 0 FROM seeds
         |  UNION
         |  SELECT w.src, bi.v, w.dist + 1
         |  FROM walk w JOIN bi ON bi.u = w.node WHERE w.dist < 3),
         |md AS (SELECT src, node, min(dist) AS dist
         |       FROM walk GROUP BY src, node),
         |ecc AS (SELECT node, max(dist) AS ecc_lb,
         |               count(*) AS n_landmarks
         |        FROM md GROUP BY node)
         |SELECT CAST(ecc_lb AS BIGINT) AS ecc_lb,
         |       CAST(count(*) AS BIGINT) AS n_nodes
         |FROM ecc WHERE n_landmarks = (SELECT count(*) FROM seeds)
         |GROUP BY ecc_lb ORDER BY ecc_lb""".stripMargin,

    "graph_label_prop" ->
      s"""$oracleEdgeCtes,
         |l0 AS (SELECT u, u AS lbl FROM deg),
         |n1 AS (SELECT bi.u, min(l0.lbl) AS nl FROM bi
         |       JOIN l0 ON bi.v = l0.u GROUP BY bi.u),
         |l1 AS (SELECT l0.u, least(l0.lbl, coalesce(n1.nl, l0.lbl)) AS lbl
         |       FROM l0 LEFT JOIN n1 ON l0.u = n1.u),
         |n2 AS (SELECT bi.u, min(l1.lbl) AS nl FROM bi
         |       JOIN l1 ON bi.v = l1.u GROUP BY bi.u),
         |l2 AS (SELECT l1.u, least(l1.lbl, coalesce(n2.nl, l1.lbl)) AS lbl
         |       FROM l1 LEFT JOIN n2 ON l1.u = n2.u),
         |n3 AS (SELECT bi.u, min(l2.lbl) AS nl FROM bi
         |       JOIN l2 ON bi.v = l2.u GROUP BY bi.u),
         |l3 AS (SELECT l2.u, least(l2.lbl, coalesce(n3.nl, l2.lbl)) AS lbl
         |       FROM l2 LEFT JOIN n3 ON l2.u = n3.u)
         |SELECT lbl, CAST(count(*) AS BIGINT) AS n_members
         |FROM l3 GROUP BY lbl ORDER BY lbl""".stripMargin,

    "graph_hits" ->
      """WITH sp AS (SELECT DISTINCT l_suppkey s, l_partkey p FROM lineitem),
        |a1 AS (SELECT p, CAST(count(*) AS HUGEINT) AS a1 FROM sp GROUP BY p),
        |h1 AS (SELECT sp.s, sum(a1.a1) AS h1
        |       FROM sp JOIN a1 ON sp.p = a1.p GROUP BY sp.s),
        |a2 AS (SELECT sp.p, sum(h1.h1) AS a2
        |       FROM sp JOIN h1 ON sp.s = h1.s GROUP BY sp.p)
        |SELECT side, node, score FROM (
        |  SELECT 'hub' AS side, s AS node, CAST(h1 AS BIGINT) AS score FROM h1
        |  UNION ALL
        |  SELECT 'authority' AS side, p AS node, CAST(a2 AS BIGINT) AS score FROM a2)
        |ORDER BY side, score DESC, node""".stripMargin,

    "graph_random_walk" -> {
      // One step of the deterministic walk as SQL text: pick the
      // fold16(md5)-ranked neighbor of <cur>, emitting it as <nxt>.
      def stepSql(prev: String, cur: String, nxt: String, t: Int): String =
        s"""p$t AS (
           |  SELECT $prev.*, dg.d,
           |         md5('walk:' || CAST($prev.start AS VARCHAR) || ':$t:' ||
           |             CAST($prev.$cur AS VARCHAR)) AS h
           |  FROM $prev JOIN dg ON dg.u = $prev.$cur),
           |s$t AS (
           |  SELECT p$t.* EXCLUDE (d, h), adj.v AS $nxt
           |  FROM p$t JOIN adj ON adj.u = p$t.$cur AND adj.rn =
           |    ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
           |     + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
           |     + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
           |     + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) % p$t.d + 1)""".stripMargin
      s"""$oracleEdgeCtes,
         |adj AS (SELECT u, v,
         |        CAST(row_number() OVER (PARTITION BY u ORDER BY v) AS BIGINT) AS rn
         |        FROM bi),
         |dg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM bi GROUP BY u),
         |s0 AS (SELECT u AS start, u AS c0 FROM dg),
         |${stepSql("s0", "c0", "s1", 1)},
         |${stepSql("s1", "s1", "s2", 2)},
         |${stepSql("s2", "s2", "s3", 3)}
         |SELECT start, s1, s2, s3 FROM s3 ORDER BY start""".stripMargin
    },

    "graph_betweenness_2hop" ->
      s"""$oracleEdgeCtes,
         |small AS (SELECT bi.u, bi.v FROM bi
         |          JOIN deg ON bi.u = deg.u WHERE deg.d <= 64),
         |w AS (SELECT x.u AS m, x.v AS a, y.v AS b
         |      FROM small x JOIN small y ON x.u = y.u AND x.v < y.v),
         |o AS (SELECT * FROM w WHERE NOT EXISTS
         |        (SELECT 1 FROM e WHERE e.u = w.a AND e.v = w.b)),
         |s AS (SELECT a, b, CAST(count(*) AS BIGINT) AS sigma
         |      FROM o GROUP BY a, b)
         |SELECT m AS node, CAST(count(*) AS BIGINT) AS n_open_wedges,
         |       CAST(sum(1000000 // sigma) AS BIGINT) AS betweenness_ppm
         |FROM o JOIN s USING (a, b)
         |GROUP BY m ORDER BY betweenness_ppm DESC, node LIMIT 20""".stripMargin,
  )

  /** Unboxed growable int vector for the single-task peel kernels —
    * `ArrayBuffer[Int]` boxes every append and read, and the kernels do
    * tens of millions of both (r16, verdict ask #4).
    */
  private final class IntVec(initial: Int = 16) {
    private var a = new Array[Int](math.max(1, initial))
    private var n = 0
    def size: Int = n
    def apply(i: Int): Int = a(i)
    def +=(x: Int): Unit = {
      if (n == a.length) {
        val b = new Array[Int](a.length << 1); System.arraycopy(a, 0, b, 0, n); a = b
      }
      a(n) = x; n += 1
    }
  }

  /** Presized open-addressed long→int map for the peel kernels' dense-id
    * ingest (r16): capacity is fixed at ≥ 2× the exact expected entry
    * count (the routing probe's cached counts), values are the 0-based
    * insertion order, and the probe is a single multiplicative hash +
    * linear scan over primitive arrays — measured 3.5× faster than
    * `mutable.LongMap` and zero allocation per op (no by-name default,
    * no boxing). NOT a general map: no delete, no resize, keys never
    * exceed the declared capacity (callers pass exact corpus counts).
    */
  private final class LongIntMap(expected: Long) {
    private val pow = {
      var p = 4
      while ((1L << p) < 2 * expected + 4) p += 1
      p
    }
    private val cap = 1 << pow
    private val ks = new Array[Long](cap)
    private val vs = new Array[Int](cap)
    private val used = new Array[Boolean](cap)
    var size = 0
    def getOrInsert(k: Long): Int = {
      var i = (((k * -7046029254386353131L) >>> (64 - pow)).toInt) & (cap - 1)
      while (used(i) && ks(i) != k) i = (i + 1) & (cap - 1)
      if (used(i)) vs(i)
      else {
        used(i) = true; ks(i) = k; vs(i) = size; size += 1; size - 1
      }
    }
  }
}
