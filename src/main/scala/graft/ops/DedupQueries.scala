package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.SimHash64

/** Tier D (dedup) — the deduplication family for training-data pipelines:
  * exact (content-hash groupBy), MinHash+LSH near-dup with exact-Jaccard
  * verification, and SimHash near-dup. Everything is expressed as
  * shuffle-on-key DataFrame plans:
  *
  *   - exact: one hash-aggregate on sha256(text) — map-side partial combine,
  *     linear at 100 TB.
  *   - MinHash/LSH: shingle → per-doc signature (one agg) → band-bucket
  *     equi-join (candidates only) → exact Jaccard on the candidate set.
  *     The band join is the LSH bucketing shuffle; no O(n²) pair blowup.
  *   - SimHash: per-doc fingerprint, banded into 4×16-bit keys for
  *     candidate generation, Hamming-verified.
  */
object DedupQueries {

  /** Session conf gating the deliberately-quadratic `dedup_near_cosine`
    * exactness baseline (max embedding rows; default 20000).
    */
  val ExactCosineCapKey = "spark.graft.dedup.exactCosineMaxRows"

  /** Word 3-gram shingles per doc, distinct, for ANY (doc_id, text) frame.
    * Requires ≥ 3 tokens. Shared by the session shingle cache and the
    * streaming admission probe ([[graft.streaming.IncrementalAdmission]]),
    * so both sides of an incremental screen shingle identically.
    */
  private[graft] def explodedShingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ts) - 2),
          |  i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1), ' ', element_at(ts, i + 2)))"""
          .stripMargin)).as("shingle"))
      .distinct()

  /** Word 3-gram shingles per doc, distinct. Requires ≥ 3 tokens. */
  private def buildShingles(s: SparkSession, dir: String): DataFrame =
    explodedShingles(Tables.documents(s, dir))

  /** The shingle set, persisted once per (session, table dir).
    *
    * This subtree (explode + transform + distinct over the whole corpus) is
    * the most expensive fragment in the dedup family, and every dedup query
    * references it 3–5 times (signature agg, cardinality agg, and both join
    * sides of the intersection count). Spark evaluates an unpersisted plan
    * once per reference, so without a cache each query re-scans and
    * re-explodes the corpus up to 5×. Persisting turns that into one
    * distributed materialization reused by every downstream operator — and
    * since Verify/Bench run the whole family in one session, the cost is
    * paid once for all six queries. MEMORY_AND_DISK spills gracefully when
    * the exploded set outgrows executor memory at large SFs.
    */
  private val shingleCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def shingles(s: SparkSession, dir: String): DataFrame = {
    // Drop entries of stopped sessions so test suites that spin up many
    // short-lived sessions don't pin dead plans (their cached blocks died
    // with the context; this just releases the map references). For a
    // LIVE session the entries are deliberately kept for the session's
    // lifetime — one per data dir, the working set Verify/Bench share —
    // and can be released explicitly via [[clearCache]].
    shingleCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    shingleCache.computeIfAbsent((s, dir), _ => buildShingles(s, dir).persist())
  }

  /** Per-doc rarity-sorted hashed-token arrays — the PPJoin working set:
    * each doc's distinct shingles as ONE array of xxhash64 values ordered by
    * ascending global document frequency (rare first), plus the set size.
    * Cached per (session, dir) like the shingle set because EVERY dedup
    * verify stage consumes it: the prefix pipeline slices it for candidate
    * generation and all four Jaccard queries verify candidates with a
    * codegen'd `array_intersect` fetch-join against it — one narrow join
    * per unique candidate pair instead of two shingle-set shuffle joins
    * plus a groupBy per query (which was ~15 s of the r3 bench).
    * Hashing is lossless for verification: equal shingles hash equal, a
    * cross-doc collision only inflates one intersection count with
    * probability ~|sh|²/2⁶⁴ ≈ 1e-15 (accepted; the oracle gate would catch
    * it). localCheckpoint materializes the aggregate once and truncates
    * lineage so downstream plans stay flat.
    */
  private val docsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Rarity-ordered hashed-token arrays `(doc_id, hs, n)` from
    * `(doc_id, tok, df)` rows — THE shared sort-key construction
    * (ascending `(df, xxhash64(tok))`) whose cross-side consistency the
    * prefix filter's losslessness depends on. Every rarity-array builder
    * must go through here (or, for [[docIndex]]'s fused signature pass,
    * replicate the aggregate EXACTLY as documented there): two sides of a
    * screen ranking by different keys would silently lose candidates.
    */
  private[graft] def rarityArrays(tok: DataFrame): DataFrame =
    tok.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), xxhash64(col("tok")).as("h"))))
        .as("st"))
      .select(col("doc_id"),
        expr("transform(st, x -> x.h)").as("hs"),
        size(col("st")).as("n"))

  /** ONE per-doc aggregation pass building BOTH per-doc index artifacts —
    * the rarity-sorted hashed-token array (the PPJoin working set) AND the
    * 8-hash md5-order MinHash signature. The two artifacts used to be two
    * independent groupBy passes over the shingle cache (r9 index_build:
    * doc_arrays 2.07 s + minhash_sig 2.20 s); they aggregate the same
    * (doc_id, shingle) rows, so one shuffle serves both and each consumer
    * projects its columns from the shared checkpoint. The freq join feeds
    * only the rarity sort key; the md5 mins ride the same aggregate
    * unchanged (the join is row-preserving on the distinct (doc, shingle)
    * grain). The array/size construction REPLICATES [[rarityArrays]]'s
    * sort key verbatim (the fused signature mins prevent sharing the
    * helper's single-purpose aggregate) — any change to the `(df,
    * xxhash64)` key must land in BOTH places or prefix screens across
    * array sources lose candidates.
    */
  private def docIndex(s: SparkSession, dir: String): DataFrame = {
    docsCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    docsCache.computeIfAbsent((s, dir), _ => {
      val tok = shingles(s, dir).withColumnRenamed("shingle", "tok")
      val freq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
      val sigAggs = (0 until 8)
        .map(i => min(md5(concat(lit(i.toString), col("tok")))).as(s"h$i"))
      val aggs =
        sort_array(collect_list(struct(col("df"), xxhash64(col("tok")).as("h"))))
          .as("st") +: sigAggs
      tok.join(freq, "tok")
        .groupBy("doc_id")
        .agg(aggs.head, aggs.tail: _*)
        .select(col("doc_id") +:
          expr("transform(st, x -> x.h)").as("hs") +:
          size(col("st")).as("n") +:
          (0 until 8).map(i => col(s"h$i")): _*)
        .localCheckpoint()
    })
  }

  private[ops] def docArrays(s: SparkSession, dir: String): DataFrame =
    docIndex(s, dir).select("doc_id", "hs", "n")

  /** Exact-Jaccard verification of a candidate pair set (`da`, `db`
    * columns): fetch both docs' hashed shingle arrays, intersect with the
    * codegen'd `array_intersect`, keep pairs with J >= t. This is the one
    * shared verify stage of the whole family — candidates can come from any
    * generator (MinHash banding, prefix filter, SimHash bands) and the
    * output matches the exhaustive shingle-join oracle exactly.
    */
  private def verifyJaccard(s: SparkSession, dir: String, cand: DataFrame, t: Double): DataFrame = {
    val docs = docArrays(s, dir)
    cand
      .join(docs.select(col("doc_id").as("da"), col("hs").as("ha"), col("n").as("na")), "da")
      .join(docs.select(col("doc_id").as("db"), col("hs").as("hb"), col("n").as("nb")), "db")
      .withColumn("ni", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .select(col("da"), col("db"),
        round(col("ni").cast("double") / (col("na") + col("nb") - col("ni")), 3)
          .as("jaccard"))
      .filter(col("jaccard") >= t)
  }

  /** The batch-vs-base near-dup ADMISSION screen shared by the batch query
    * `dedup_incremental_near` and the streaming arrival path
    * ([[graft.streaming.IncrementalAdmission]]). Inputs: the probe docs
    * `(doc_id, text, …)`, probe and base rarity-ordered hashed-shingle
    * arrays `(doc_id, hs, n)`, and the base content-hash set `(h)`.
    * The two array frames may rank rarity by DIFFERENT (but each
    * internally consistent) document-frequency sources — the asymmetric
    * prefix filter is lossless under ANY shared total order on the common
    * token universe, and exact-Jaccard verification makes the final pair
    * set order-independent, so batch and streaming callers produce
    * identical verdicts (pinned by `IncrementalAdmissionSpec`).
    * Output per probe doc: `(doc_id, exact_dup, n_near_base, best_j,
    * admitted)`, ordered by doc_id.
    */
  private[graft] def admissionScreen(probeDocs: DataFrame, probeArrays: DataFrame,
      baseArrays: DataFrame, baseHashes: DataFrame, t: Double): DataFrame = {
    def pre(arr: DataFrame) = arr.select(col("doc_id"), col("n"),
      posexplode(expr(s"slice(hs, 1, cast(n - ceil(n * $t) + 1 AS int))")))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("p"), col("col").as("tok"))
    val alpha = ceil(lit(t / (1 + t)) * (col("na") + col("nb")))
    val cand = pre(probeArrays)
      .select(col("doc_id").as("da"), col("n").as("na"), col("p").as("pa"), col("tok"))
      .join(pre(baseArrays)
        .select(col("doc_id").as("db"), col("n").as("nb"), col("p").as("pb"), col("tok")),
        "tok")
      .filter(least(col("na"), col("nb")) >= greatest(col("na"), col("nb")) * t)
      .filter(lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")) >= alpha)
      .select("da", "db").distinct()
    val nearAgg = cand
      .join(probeArrays.select(col("doc_id").as("da"), col("hs").as("ha"), col("n").as("na")), "da")
      .join(baseArrays.select(col("doc_id").as("db"), col("hs").as("hb"), col("n").as("nb")), "db")
      .withColumn("ni", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .select(col("da"),
        round(col("ni").cast("double") / (col("na") + col("nb") - col("ni")), 3)
          .as("jaccard"))
      .filter(col("jaccard") >= t)
      .groupBy(col("da").as("doc_id"))
      .agg(count(lit(1)).as("n_near_base"), max(col("jaccard")).as("best_j"))
    probeDocs
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .join(baseHashes.withColumn("hit", lit(true)), Seq("h"), "left")
      .join(nearAgg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("hit"), lit(false)).as("exact_dup"),
        coalesce(col("n_near_base"), lit(0L)).as("n_near_base"),
        col("best_j"),
        (coalesce(col("hit"), lit(false)) === false &&
          coalesce(col("n_near_base"), lit(0L)) === 0L).as("admitted"))
      .orderBy("doc_id")
  }

  /** The dedup family's [[IndexPhase]] artifacts, three chains:
    *
    *   text chain:   shingles → doc_index → pairs_jaccard → comp_jaccard
    *   text side:    (after doc_index) pairs_containment → bloom_sketch
    *   cosine chain: pairs_cosine → comp_cosine   (embeddings only — no
    *                 shingle dependency at all)
    *
    * doc_index builds BOTH the rarity-sorted arrays and the minhash
    * signatures in one aggregation pass.
    */
  private[ops] val indexArtifacts: Seq[IndexArtifact] = Seq(
    IndexArtifact("shingles", Nil, (s, dir) => shingles(s, dir).count()),
    IndexArtifact("doc_index", Seq("shingles"), (s, dir) => docIndex(s, dir).count()),
    IndexArtifact("pairs_jaccard_0.5", Seq("doc_index"),
      (s, dir) => jaccardPairsPrefix(s, dir, 0.5).count()),
    IndexArtifact("comp_jaccard_0.5", Seq("pairs_jaccard_0.5"),
      (s, dir) => componentsJaccard(s, dir, 0.5).count()),
    IndexArtifact("pairs_containment_0.8", Seq("doc_index"),
      (s, dir) => containmentPairs(s, dir, 0.8).count()),
    IndexArtifact("bloom_sketch", Seq("pairs_containment_0.8"),
      (s, dir) => bloomSketch(s, dir)),
    IndexArtifact("pairs_cosine_0.45", Nil, (s, dir) => cosinePairsLsh(s, dir, 0.45).count()),
    IndexArtifact("comp_cosine_0.45", Seq("pairs_cosine_0.45"),
      (s, dir) => componentsCosine(s, dir, 0.45).count()))

  /** Unpersist and drop every cached dedup artifact of `s` (shingle set +
    * per-doc arrays) — for long-lived services that iterate many data dirs
    * in one session.
    */
  def clearCache(s: SparkSession): Unit = {
    val it = shingleCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        try e.getValue.unpersist() catch { case _: Exception => () }
        it.remove()
      }
    }
    // localCheckpoint PERSISTS the backing RDD (MEMORY_AND_DISK); dropping
    // the map reference alone frees those blocks only when GC +
    // ContextCleaner get around to it, which can pin executor storage for
    // a long-lived service. Unpersist the checkpoint RDD explicitly.
    val dt = docsCache.entrySet().iterator()
    while (dt.hasNext) {
      val e = dt.next()
      if (e.getKey._1 eq s) {
        org.apache.spark.sql.GraftColumnBridge.checkpointRdd(e.getValue)
          .foreach(r => try r.unpersist(blocking = false) catch { case _: Exception => () })
        dt.remove()
      }
    }
    val pt = pairCache.entrySet().iterator()
    while (pt.hasNext) {
      val e = pt.next()
      if (e.getKey._1 eq s) {
        org.apache.spark.sql.GraftColumnBridge.checkpointRdd(e.getValue)
          .foreach(r => try r.unpersist(blocking = false) catch { case _: Exception => () })
        pt.remove()
      }
    }
    val ct = componentCache.entrySet().iterator()
    while (ct.hasNext) {
      val e = ct.next()
      if (e.getKey._1 eq s) {
        org.apache.spark.sql.GraftColumnBridge.checkpointRdd(e.getValue)
          .foreach(r => try r.unpersist(blocking = false) catch { case _: Exception => () })
        ct.remove()
      }
    }
    bloomCache.keySet.removeIf(_._1 eq s) // plain driver bytes, no blocks
  }

  /** Verified near-dup PAIR SETS, cached per (session, dir, family:t) like
    * [[docArrays]] — they are the corpus's near-dup indexes, and several
    * queries consume each one (prefix-Jaccard pairs: `dedup_jaccard_prefix`,
    * `dedup_components`, `pipeline_dedup_select`; cosine-LSH pairs:
    * `dedup_near_cosine_lsh`, `dedup_semantic`). CACHE POLICY (uniform for
    * every session-lifetime dedup index — shingles, doc arrays, minhash
    * signatures, pair sets, component labels): the first consumer pays the
    * build unless the caller pre-warms via [[IndexPhase]], which times each
    * build individually so a bench can report them as a first-class
    * `index_build` map instead of burying them in query medians or an
    * opaque warmup lump. localCheckpoint materializes the tiny verified set
    * once and truncates the candidate pipeline out of every downstream
    * plan.
    */
  private val pairCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  private def cachedPairs(s: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame = {
    pairCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    pairCache.computeIfAbsent((s, dir, key), _ => build.localCheckpoint())
  }

  private[ops] def jaccardPairsPrefix(s: SparkSession, dir: String, t: Double): DataFrame =
    cachedPairs(s, dir, s"jaccard:$t")(jaccardPairsPrefixPlan(s, dir, t))

  /** Verified containment pairs `(da, db, containment)` at threshold `t`,
    * cached per (session, dir, containment:t) under the same policy as
    * [[jaccardPairsPrefix]] — r8: this was the ONE pair family exempt from
    * the uniform session-cache policy, re-running the probe-explode →
    * index-explode → join → distinct → verify pipeline (the suite's
    * biggest explode and its slowest query, 9.9 s in the r7 driver run)
    * every bench rep while every sibling timed a cached-pair scan.
    */
  private[ops] def containmentPairs(s: SparkSession, dir: String, t: Double): DataFrame =
    cachedPairs(s, dir, s"containment:$t")(containmentPairsPlan(s, dir, t))

  /** The containment pair pipeline. Candidate generation is the ASYMMETRIC
    * prefix filter: the PROBE side A indexes only its first
    * |A| - ceil(t'·|A|) + 1 rarity-ordered tokens (any pair with overlap
    * ≥ t'·|A| must collide there — pigeonhole over the shared rarity
    * order), while the INDEX side B indexes all tokens. t' = t - 0.0005
    * (0.7995 for the 0.8 query) so the filter stays lossless under the
    * output's round(·, 3) ≥ t convention. The full-side explode is the
    * heavy stage, but join keys come only from probe PREFIXES — rare
    * tokens by construction — so each key touches few index rows; at
    * 100 TB the index partitions by token hash and the probe side stays
    * ~(1-t)·|A| per doc. Verification is the same array_intersect
    * fetch-join the Jaccard family shares.
    */
  private def containmentPairsPlan(s: SparkSession, dir: String, t: Double): DataFrame = {
    val tEff = t - 0.0005
    val docs = docArrays(s, dir)
    val probe = docs.select(col("doc_id").as("da"), col("n").as("na"),
      explode(expr(s"slice(hs, 1, cast(n - ceil(n * $tEff) + 1 AS int))")).as("tok"))
    val index = docs.select(col("doc_id").as("db"), col("n").as("nb"),
      explode(col("hs")).as("tok"))
    val cand = probe.join(index, "tok")
      .filter(col("da") =!= col("db"))
      // |A∩B| ≤ |B|, so C(A→B) ≥ t' needs |B| ≥ ceil(t'·|A|)
      .filter(col("nb") >= ceil(col("na") * tEff))
      .select("da", "db").distinct()
    cand
      .join(docs.select(col("doc_id").as("da"), col("hs").as("ha"), col("n").as("na")), "da")
      .join(docs.select(col("doc_id").as("db"), col("hs").as("hb")), "db")
      .withColumn("ni", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .select(col("da"), col("db"),
        round(col("ni").cast("double") / col("na"), 3).as("containment"))
      .filter(col("containment") >= t)
  }

  /** 8-hash md5-order MinHash signature table per (session, dir) — the
    * banded-LSH index `dedup_minhash_banded` buckets on, with
    * `dedup_near_jaccard` reading its 2-hash prefix (same salts "0","1").
    * A projection of the shared [[docIndex]] aggregate (one combined pass
    * with the doc arrays — r10; the stand-alone signature aggregate was
    * 2.2 s of the r9 index build duplicating the same shuffle). md5 stays
    * the hash deliberately: its total order is engine-portable, so the
    * DuckDB oracle replays the identical signatures.
    */
  private[ops] def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    docIndex(s, dir).select(
      col("doc_id") +: (0 until 8).map(i => col(s"h$i")): _*)

  /** Component LABELS per (session, dir, edge-family:t) — the third tier of
    * the session index stack (pairs → edges → labels). Cached under the
    * same policy as [[pairCache]]: `dedup_components` and
    * `pipeline_dedup_select` share the jaccard:0.5 labels, `dedup_semantic`
    * owns the cosine:0.45 labels. Without this tier the label-propagation
    * loop (several localCheckpoint + unpersist rounds each run) re-ran per
    * bench rep on top of already-cached pairs — half the pipeline cached,
    * half re-iterated, which made the r6 timings attributable to neither
    * policy.
    */
  private val componentCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  private def cachedComponents(s: SparkSession, dir: String, key: String)(
      edges: => DataFrame): DataFrame = {
    componentCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    componentCache.computeIfAbsent((s, dir, key),
      _ => connectedComponents(edges).localCheckpoint())
  }

  /** Both directions of the verified prefix-Jaccard pairs, componentized. */
  private[graft] def componentsJaccard(s: SparkSession, dir: String, t: Double): DataFrame =
    cachedComponents(s, dir, s"comp:jaccard:$t") {
      val pairs = jaccardPairsPrefix(s, dir, t).select("da", "db")
      pairs.select(col("da").as("u"), col("db").as("v"))
        .unionAll(pairs.select(col("db").as("u"), col("da").as("v")))
    }

  /** Both directions of the verified cosine-LSH pairs, componentized. */
  private[ops] def componentsCosine(s: SparkSession, dir: String, t: Double): DataFrame =
    cachedComponents(s, dir, s"comp:cosine:$t") {
      val pairs = cosinePairsLsh(s, dir, t).select("va", "vb")
      pairs.select(col("va").as("u"), col("vb").as("v"))
        .unionAll(pairs.select(col("vb").as("u"), col("va").as("v")))
    }

  /** The incremental-dedup "existing corpus" slice (everything not in the
    * batch, plus a re-ingested batch slice so genuine cross-set duplicates
    * exist).
    */
  private def incrementalCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.filter(col("doc_id") % 10 =!= 0).select("text")
      .unionByName(d.filter(col("doc_id") % 20 === 0).select("text"))
  }

  /** The corpus membership Bloom sketch, cached per (session, dir) like
    * every other session index tier — it IS an index artifact (a
    * 10-bits/element driver blob, like the IVF codebook), and without the
    * cache each bench rep re-ran its two driver-side build jobs (count +
    * blob aggregate). Sizing: ~10 bits/element with k=5 gives fpp ≈ 0.9 %
    * at ANY corpus size instead of a constant only right at the shipped
    * SFs; floor 2^16 bits avoids degenerate tiny filters, and the 2^27 cap
    * (16 MiB blob) marks where one driver-held blob stops being the right
    * layout — beyond ~13M distinct docs, shard the filter by key range
    * (group by bucket instead of a global agg; see [[graft.functions.BloomFilterAgg]]).
    */
  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Array[Byte]]()

  private[ops] def bloomSketch(s: SparkSession, dir: String): Array[Byte] = {
    bloomCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    bloomCache.computeIfAbsent((s, dir), _ => {
      val corpus = incrementalCorpus(s, dir)
      val nCorpus = corpus.count()
      val bloomBits = math.min(1L << 27,
        math.max(1L << 16, (10L * nCorpus + 63) / 64 * 64)).toInt
      corpus
        .agg(graft.functions.BloomFilterAgg.bloom_agg(xxhash64(col("text")), bloomBits, 5))
        .head().getAs[Array[Byte]](0)
    })
  }

  /** Prefix-filtered exact Jaccard pairs (the AllPairs/PPJoin family — cf.
    * "Distributed Streaming Set Similarity Join", ICDE 2020, PAPERS.md) over
    * 3-gram shingles: order each doc's shingle set by ascending global
    * frequency (rare first) and index only the first |x| - ceil(t*|x|) + 1 —
    * any pair with J >= t MUST collide on an indexed shingle, so unlike
    * MinHash banding this candidate generation has NO false negatives and
    * the output equals the exhaustive-pairs oracle. Shuffles: shingle
    * stats, prefix equi-join (the candidate shuffle — rare shingles → tiny
    * buckets), intersection count. All-pairs never materializes. Returns
    * (da, db, jaccard), unordered.
    */
  private[ops] def jaccardPairsPrefixPlan(s: SparkSession, dir: String, t: Double): DataFrame = {
    // Each doc's shingles as ONE rarity-ordered array (sort_array on
    // (df, tok) structs ≡ the window orderBy(df, tok), minus the full
    // row_number sort-shuffle the r2 version paid), so the prefix is a
    // slice and the intersection is a codegen'd array_intersect instead
    // of two shuffle joins + a groupBy.
    // The whole candidate pipeline runs on xxhash64(tok), not the strings:
    // joins and array_intersect handle 8-byte longs instead of ~25-byte
    // shingles. Lossless — equal shingles give equal hashes, so no true
    // pair is lost; a cross-doc collision only ADDS a candidate that exact
    // verification then rejects, and an intra-pair collision
    // (~C(100,2)/2^64 ≈ 1e-15) is the only way results could differ from
    // string intersection. The prefix guarantee needs any CONSISTENT global
    // token order; (df, hash) rare-first is one. The aggregate itself is
    // the session-cached [[docArrays]] (shared with every verify stage).
    val docs = docArrays(s, dir)
    // Index only the first |x| - ceil(t*|x|) + 1 rare shingles: any pair
    // with J >= t MUST collide on an indexed one (lossless). posexplode
    // keeps the 1-based rank for the positional filter below.
    val pre = docs.select(col("doc_id"), col("n"),
      posexplode(expr(s"slice(hs, 1, cast(n - ceil(n * $t) + 1 AS int))")))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("p"), col("col").as("tok"))
    // Candidates stay narrow (ids + sizes); arrays are fetched back per
    // UNIQUE candidate pair, not dragged through the prefix self-join.
    // PPJoin positional filter: common tokens number at most
    // 1 + min(na-pa, nb-pb) at the FIRST collision (no common token
    // precedes it in the shared rarity order), and that bound is maximal
    // there — so testing every collision row and keeping pairs where ANY
    // passes is exactly "first collision passes": lossless, and it prunes
    // ~60% of candidates before the verify join on this corpus.
    val alpha = ceil(lit(t / (1 + t)) * (col("na") + col("nb")))
    val cand = pre.select(col("doc_id").as("da"), col("n").as("na"), col("p").as("pa"), col("tok"))
      .join(pre.select(col("doc_id").as("db"), col("n").as("nb"), col("p").as("pb"), col("tok")), "tok")
      .filter(col("da") < col("db"))
      // size filter: J >= t needs t*max(na,nb) <= min(na,nb)
      .filter(least(col("na"), col("nb")) >= greatest(col("na"), col("nb")) * t)
      .filter(lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")) >= alpha)
      .select("da", "db").distinct()
    verifyJaccard(s, dir, cand, t)
  }

  /** Connected components over an undirected edge list (`u`, `v` columns;
    * both directions present) by min-label propagation to fixpoint: each
    * round every vertex takes the minimum label in its closed neighborhood —
    * O(component diameter) rounds, each a distributed join+agg; the driver
    * only evaluates a one-row convergence check.
    *
    * Every round's labels are `localCheckpoint()`ed: that both materializes
    * the round once (the convergence check and the next iteration share the
    * computed result) and truncates lineage, so the plan handed to Catalyst
    * stays O(1) deep no matter how many rounds a deep component needs —
    * without it the logical plan grows by a join+agg per round and a
    * 100 TB-scale component chain would drown the optimizer before the data
    * ever moved. (On a multi-executor cluster, `checkpoint()` to reliable
    * storage trades recompute-on-executor-loss for HDFS writes; local
    * checkpointing is the right call for iteration-internal state.)
    */
  private[ops] def connectedComponents(edges0: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.checkpointRdd
    val edges = edges0.localCheckpoint()
    // `cur` is the checkpoint-rooted DataFrame of the current round (its
    // plan IS the LogicalRDD), kept separate from the projected `labels`
    // view so the round's persisted blocks can be released explicitly once
    // the next round has materialized — localCheckpoint persists at
    // MEMORY_AND_DISK, and on a long chain waiting for GC + ContextCleaner
    // would accumulate one round's worth of blocks per iteration.
    var cur = edges.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .localCheckpoint()
    var labels = cur
    var converged = false
    while (!converged) {
      val viaNeighbors = edges
        .join(labels.select(col("id").as("v"), col("comp").as("vcomp")), "v")
        .groupBy(col("u").as("id")).agg(min(col("vcomp")).as("ncomp"))
      // The changed flag rides the same projection the round materializes —
      // the convergence check is then a scan of the checkpointed partitions,
      // not another shuffle join against the previous labels.
      val next = labels.join(viaNeighbors, "id")
        .select(col("id"), least(col("comp"), col("ncomp")).as("comp"),
          (col("ncomp") < col("comp")).as("chg"))
        .localCheckpoint() // eager: materialized before the old round is freed
      val changed = next.filter(col("chg")).limit(1).count()
      checkpointRdd(cur).foreach(_.unpersist(false))
      cur = next
      labels = next.select("id", "comp")
      converged = changed == 0
    }
    // The edge checkpoint is loop-internal state; only the final labels
    // survive into the caller's plan.
    checkpointRdd(edges).foreach(_.unpersist(false))
    labels
  }

  /** The per-document span-removal ledger `(doc_id, lang, n_toks,
    * n_removed, removed_chars, n_kept_spans)` — shared by
    * `dedup_span_removal` (the doc-grain output) and `dedup_span_savings`
    * (the per-language rollup). Plan shape (r15, the r14 verdict's ask
    * #1): the positional 5-gram corpus pass AND the duplicated-gram
    * census come from the session artifact ([[GramIndex.posGrams]] —
    * shared with text_dup_spans / text_ngram_novelty / the curation span
    * stage; `nd` is its baked-in docs-per-gram column). The coverage
    * arithmetic is then DOC-LOCAL: each document's duplicated-gram start
    * positions collapse to one sorted array, and a single left-to-right
    * interval-merge fold (`aggregate` over starts, carrying the last
    * covered end) yields the removed-position count, the removed
    * characters (inner fold over the merged slice's token lengths via
    * `element_at`), and the covered-run count. Kept spans follow from run
    * arithmetic on the DENSE position domain: kept = runs + 1 − [first
    * covered pos = 1] − [last covered end = n]. The r14 shape paid a
    * position-grain shuffle join plus a per-doc sort window over every
    * token; this is one artifact filter, one doc-grain aggregate, one
    * doc-grain join — per-doc state is bounded by the doc's own length
    * (the same bound `split(text)` already implies), nothing
    * position-grain crosses the wire. Only the token arrays (lengths for
    * the ledger) scan `documents`, once.
    */
  private def spanLedger(s: SparkSession, dir: String): DataFrame = {
    val docStarts = GramIndex.posGrams(s, dir)
      .filter(col("nd") >= 2)
      // a position determines its gram, so start positions are unique
      // per doc across grams — collect_list + sort is already a set
      .select(col("doc_id"), explode(col("ps")).as("i"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("i"))).as("starts"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ts"))
      .join(docStarts, Seq("doc_id"), "left")
      .withColumn("starts",
        coalesce(col("starts"), expr("CAST(array() AS ARRAY<INT>)")))
      // interval-merge fold: each start i covers [i, i+4]; overlaps with
      // the previously covered prefix are clipped at last_end. Starts
      // ascend, so a clipped-empty interval (i+4 <= last_end) cannot
      // occur — the guard keeps the fold total anyway.
      .withColumn("st", expr(
        """aggregate(starts,
          |  named_struct('cnt', 0L, 'chars', 0L, 'last_end', -5, 'runs', 0L),
          |  (acc, i) -> IF(i + 4 <= acc.last_end, acc, named_struct(
          |    'cnt', acc.cnt + CAST(i + 4 - greatest(i, acc.last_end + 1) + 1 AS BIGINT),
          |    'chars', acc.chars + aggregate(
          |      sequence(greatest(i, acc.last_end + 1), i + 4), 0L,
          |      (a, p) -> a + CAST(length(element_at(ts, p)) AS BIGINT)),
          |    'last_end', i + 4,
          |    'runs', acc.runs + IF(i > acc.last_end + 1, 1L, 0L))))""".stripMargin))
      .select(col("doc_id"), col("lang"),
        size(col("ts")).cast("long").as("n_toks"),
        col("st.cnt").as("n_removed"),
        col("st.chars").as("removed_chars"),
        (col("st.runs") + 1L
          - when(size(col("starts")) > 0 && element_at(col("starts"), 1) === 1, 1L)
            .otherwise(0L)
          - when(col("st.last_end") === size(col("ts")), 1L).otherwise(0L))
          .as("n_kept_spans"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: duplicate-injected corpus collapsed by content hash.
    "dedup_exact" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val replay = d.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      d.unionByName(replay)
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")
    },

    // INCREMENTAL exact dedup: a new batch (doc_id % 10 == 0) against an
    // existing corpus (doc_id % 10 != 0, plus a re-ingested slice of the
    // batch so genuine cross-set duplicates exist). Membership sketch:
    // bloom_agg over corpus content hashes → one driver-held blob (an index
    // artifact, like the IVF codebook); the batch probes it ROW-LOCALLY in
    // codegen, and only bloom hits (≈ fpp·|batch| + true dups) pay the
    // exact anti-join against the corpus — a bloom miss is a PROOF of
    // novelty, so most of the batch never shuffles. Result is exact (the
    // verify join is on the text itself), hence DuckDB-oracle-eligible.
    "dedup_incremental_bloom" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val corpus = incrementalCorpus(s, dir)
      val batch = d.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"), col("n_chars"))
      val blob = bloomSketch(s, dir)
      val hit = graft.functions.BloomFilterAgg.bloom_might_contain(
        lit(blob), xxhash64(col("text")))
      val novel = batch.filter(!hit)                       // proof — no join
      val verified = batch.filter(hit)                     // candidates only
        .join(corpus, Seq("text"), "left_anti")            // false positives
      novel.unionByName(verified)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    },

    // INCREMENTAL near-dup ADMISSION (r10) — the sibling of
    // dedup_incremental_bloom for NEAR duplicates: a new batch
    // (doc_id % 10 == 0) is screened against the EXISTING corpus
    // (doc_id % 10 != 0) and each batch doc gets an admission verdict —
    // exact-dup-of-base, near-dup-of-base (any base doc with
    // shingle-Jaccard ≥ 0.5, count + best score), or admitted. This is
    // the steady-state 100 TB curation pattern: the corpus's rarity-
    // ordered array index is the standing session artifact, the batch is
    // small, and candidate generation is the ASYMMETRIC prefix equi-join
    // (batch prefixes probe base prefixes — the AllPairs prefix theorem
    // is two-sided, so screening only batch×base pairs is lossless at
    // J ≥ t). Nothing rescans or re-pairs the base against itself; batch
    // cost is ~|batch| · prefix, independent of corpus history. Batch-
    // internal dedup is deliberately out of scope (the stand-alone pair
    // families handle it before admission).
    "dedup_incremental_near" -> { (s, dir) =>
      val docsT = Tables.documents(s, dir)
      val isBatch = col("doc_id") % 10 === 0
      val arrays = docArrays(s, dir)
      admissionScreen(
        probeDocs = docsT.filter(isBatch),
        probeArrays = arrays.filter(col("doc_id") % 10 === 0),
        baseArrays = arrays.filter(col("doc_id") % 10 =!= 0),
        baseHashes = docsT.filter(!isBatch)
          .select(sha2(col("text"), 256).as("h")).distinct(),
        t = 0.5)
    },

    // INCREMENTAL near-dup admission in EMBEDDING space (r10) — the
    // semantic face of dedup_incremental_near: a new batch of vectors
    // (vec_id % 10 == 0) screens against the standing corpus
    // (vec_id % 10 != 0) through the SAME 21×3-bit sign-LSH banding the
    // symmetric pair build uses, restricted to batch×base collisions —
    // a SUBSET of the symmetric candidate set, so the banding's
    // empirically-100%-recall property on this corpus carries over
    // unchanged and the exhaustive batch×base oracle stays exact. Each
    // batch vector reports its base near-dup count, best cosine, and the
    // admission verdict. Per-batch cost is the batch's band rows joining
    // the standing banded corpus — linear in batch size, no base
    // re-pairing, the SemDeDup admission loop at arrival time.
    "dedup_incremental_cosine" -> { (s, dir) =>
      val normed = normedEmbeddings(s, dir)
      cosineAdmissionScreen(
        probe = normed.filter(col("vec_id") % 10 === 0),
        baseBanded = signBanded(normed.filter(col("vec_id") % 10 =!= 0)),
        t = 0.45)
    },

    // MinHash+LSH near-dup: 2-hash band bucketing (md5-order MinHash — the
    // same total order in any engine), then exact shingle-Jaccard ≥ 0.5 on
    // candidates only, verified via the shared array_intersect fetch-join.
    "dedup_near_jaccard" -> { (s, dir) =>
      // The 2-hash signature is the h0/h1 prefix of the session's 8-hash
      // signature index (identical salts), so the aggregate is shared.
      val sig = minhashSignatures(s, dir).select("doc_id", "h0", "h1")
      val a = sig.select(col("doc_id").as("da"), col("h0"), col("h1"))
      val b = sig.select(col("doc_id").as("db"), col("h0").as("g0"), col("h1").as("g1"))
      val cand = a.join(b,
          col("h0") === col("g0") && col("h1") === col("g1") && col("da") < col("db"))
        .select("da", "db")
      verifyJaccard(s, dir, cand, 0.5).orderBy("da", "db")
    },

    // Banded MinHash LSH (the standard b×r construction): 8 md5-order
    // min-hashes per doc, grouped into 4 bands of 2; docs colliding on ANY
    // whole band are candidates (OR across bands boosts recall, AND within
    // a band keeps buckets selective: P(candidate) = 1-(1-J^r)^b). Exact
    // Jaccard verifies candidates. Fully oracle-replayable — md5 gives the
    // same min-hash order in any engine.
    "dedup_minhash_banded" -> { (s, dir) =>
      val sig = minhashSignatures(s, dir)
      val banded = sig.select(col("doc_id"), explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}")).as("key"))): _*)).as("bk"))
        .select(col("doc_id"), col("bk.band"), col("bk.key"))
      val cand = banded.select(col("doc_id").as("da"), col("band"), col("key"))
        .join(banded.select(col("doc_id").as("db"), col("band"), col("key")), Seq("band", "key"))
        .filter(col("da") < col("db"))
        .select("da", "db").distinct()
      verifyJaccard(s, dir, cand, 0.5).orderBy("da", "db")
    },

    // Banded MinHash via the ONE-PASS signature path. With the session's
    // per-doc hashed-array cache ([[docArrays]]) the whole signature is a
    // scalar PROJECTION (graft.functions.MinHashFromHashes) over one row
    // per doc — no groupBy shuffle and no k string-hashes per (doc, token,
    // slot), which is where the r4 bench's 4.5 s went (the aggregate
    // re-hashed every string shingle 8×; the cache already holds xxhash64
    // token identities). The MinHashSig TypedImperativeAggregate remains
    // the one-pass path for raw token streams with no per-doc cache
    // (MinHashSigSpec). No DuckDB oracle (xxhash64 is Spark's) — ApproxSpec
    // proves soundness (every emitted pair is in the exhaustive truth set)
    // and recall.
    "dedup_minhash_onepass" -> { (s, dir) =>
      val sig = docArrays(s, dir)
        .select(col("doc_id"),
          graft.functions.MinHashSig.minhash_from_hashes(col("hs"), 8).as("sig"))
      val banded = sig.select(col("doc_id"), explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          concat_ws(":",
            element_at(col("sig"), 2 * b + 1),
            element_at(col("sig"), 2 * b + 2)).as("key"))): _*)).as("bk"))
        .select(col("doc_id"), col("bk.band"), col("bk.key"))
      val cand = banded.select(col("doc_id").as("da"), col("band"), col("key"))
        .join(banded.select(col("doc_id").as("db"), col("band"), col("key")), Seq("band", "key"))
        .filter(col("da") < col("db"))
        .select("da", "db").distinct()
      verifyJaccard(s, dir, cand, 0.5).orderBy("da", "db")
    },

    // Prefix-filtered exact Jaccard join (the AllPairs/PPJoin family —
    // cf. "Distributed Streaming Set Similarity Join", ICDE 2020, PAPERS.md)
    // over 3-gram shingles: order each doc's shingle set by ascending global
    // frequency (rare first) and index only the first |x| - ceil(t*|x|) + 1
    // — any pair with J >= t MUST collide on an indexed shingle, so unlike
    // MinHash banding this candidate generation has NO false negatives and
    // the output equals the exhaustive-pairs oracle. Shuffles: shingle
    // stats, prefix equi-join (the candidate shuffle — rare shingles → tiny
    // buckets), intersection count. All-pairs never materializes.
    "dedup_jaccard_prefix" -> { (s, dir) =>
      jaccardPairsPrefix(s, dir, 0.5).orderBy("da", "db")
    },

    // THRESHOLD SWEEP (r13): the dedup-tuning curve — at each candidate
    // Jaccard threshold (0.5 … 0.9), how many verified pairs survive and
    // how many distinct documents they touch. This is the readout that
    // picks the production threshold (too low → false merges, too high →
    // missed dups), computed from the SAME cached verified-pair set the
    // whole Jaccard family reads (the t = 0.5 prefix-filter set is a
    // superset of every stricter threshold, so one pair materialization
    // serves the entire curve — no re-scan per point). Comparisons run
    // on round(j·1000) integer millis, identical in both engines; the
    // sweep is a 5× explode of a pair table that is itself tiny relative
    // to the corpus. n_docs is countDistinct over the pairs' endpoints —
    // pair-set-sized, never corpus-sized.
    "pipeline_dedup_rate_curve" -> { (s, dir) =>
      val pairs = jaccardPairsPrefix(s, dir, 0.5)
        .select(col("da"), col("db"),
          round(col("jaccard") * 1000, 0).cast("long").as("milli"))
      pairs
        .select(col("da"), col("db"), col("milli"),
          explode(array((5 to 9).map(t => lit(t * 100L)): _*)).as("thr"))
        .filter(col("milli") >= col("thr"))
        .select(col("thr"), col("da"), col("db"),
          explode(array(col("da"), col("db"))).as("doc"))
        .groupBy("thr")
        .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
          countDistinct(col("doc")).as("n_docs"))
        .orderBy("thr")
    },

    // Embedding-cosine near-dup, exact variant (oracle yes): all pairs above
    // the similarity threshold. This is the deliberately O(n²) EXACTNESS
    // BASELINE — the recall yardstick dedup_near_cosine_lsh (same oracle,
    // sub-quadratic) is measured against, NOT the production path. It is
    // size-gated below so it cannot silently run at a scale where the
    // cartesian is a cluster-killer.
    "dedup_near_cosine" -> { (s, dir) =>
      import graft.functions.VectorOps
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"),
          VectorOps.norm(col("embedding")).as("nrm")) // norm once per row, not per pair
      // Refuse oversized corpora: n rows → n(n-1)/2 exact cosines. The cap
      // (default 20k rows ≈ 2e8 pairs, single-node-feasible) is a session
      // conf so a cluster that really wants the exhaustive answer can opt
      // in explicitly rather than discover the quadratic by page. The gate
      // itself must not pay a full scan at scale: LIMIT cap+1 stops the
      // count as soon as the cap is provably exceeded.
      val cap = s.conf.get(DedupQueries.ExactCosineCapKey, "20000").toLong
      val probed = Tables.embeddings(s, dir).select("vec_id")
        .limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).count()
      require(probed <= cap,
        s"dedup_near_cosine is the O(n²) exactness baseline: the corpus exceeds the " +
          s"${DedupQueries.ExactCosineCapKey}=$cap row gate (> ${cap * (cap - 1) / 2} pairs). " +
          "Use dedup_near_cosine_lsh (same result, banded-LSH candidates) at scale, " +
          "or raise the cap to run the exhaustive baseline deliberately.")
      val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"), col("nrm").as("na"))
      val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("nrm").as("nb"))
      a.join(b, col("va") < col("vb"))
        .withColumn("cos", VectorOps.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("cos") >= 0.45)
        .select(col("va"), col("vb"), round(col("cos"), 4).as("cos_r"))
        .orderBy("va", "vb")
    },

    // The sub-quadratic path for the same query: sign-LSH banding generates
    // candidates through an equi-join (NO nested-loop/cartesian anywhere in
    // the plan — asserted by PlanSpec), exact cosine verifies survivors.
    // 21 bands × 3 sign bits over the 64 dims; a pair is a candidate if its
    // sign patterns agree on ANY whole band. Empirically 100% recall vs the
    // brute-force baseline on this corpus at sf0.001/0.01/0.1 (so the
    // brute-force oracle stays green), re-asserted by ApproxSpec.
    //
    // Honest scale note: at t=0.45 on near-orthogonal synthetic data the
    // candidate set is ~94% of all pairs — this threshold sits inside the
    // random-cosine bulk, where NO hashing scheme has a selectivity/recall
    // gap (p_match≈0.65 vs p_random=0.5 per bit). What survives 100 TB is
    // the plan SHAPE: with a production near-dup threshold (cos ≥ 0.9,
    // p≈0.86/bit) the identical construction at 16 bits/band collides
    // ~0.9%/band of random pairs while keeping multi-band recall — the
    // banding shuffle prunes instead of merely reshaping.
    "dedup_near_cosine_lsh" -> { (s, dir) =>
      cosinePairsLsh(s, dir, 0.45)
        .select(col("va"), col("vb"), round(col("cos"), 4).as("cos_r"))
        .orderBy("va", "vb")
    },

    // THRESHOLD CALIBRATION: the similarity histogram over the verified
    // cosine pair family — the diagnostic every dedup rollout runs before
    // picking t (the bimodal valley between "same doc re-rendered" and
    // "merely related" is where the threshold goes; SemDeDup and the
    // Gopher/MassiveText dedup ablations all tune t off exactly this
    // curve). 0.05-wide bins over cos ∈ [0.45, 1]; integer-exact contract
    // (milli = round(cos·1000) as BIGINT, bucket = milli div 50, counts +
    // integer min/max per bin — no float compare crosses the oracle
    // boundary). Another consumer of the session pair index: one cached
    // scan + one tiny aggregate; at 100 TB the histogram is a map-side
    // combine over however many verified pairs exist.
    "dedup_sim_histogram" -> { (s, dir) =>
      cosinePairsLsh(s, dir, 0.45)
        .select(round(col("cos") * 1000, 0).cast("long").as("milli"))
        .groupBy(expr("milli div 50").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          min("milli").as("min_milli"), max("milli").as("max_milli"))
        .orderBy("bucket")
    },

    // SEMANTIC dedup (the SemDeDup shape, Abbas et al. 2023): collapse
    // embedding-space near-duplicate CLUSTERS, not just pairs — the pass a
    // training pipeline runs over model embeddings where MinHash sees
    // nothing (paraphrases, translations, re-renders share no shingles).
    // Composition of two already-proven stages: the sign-LSH banded
    // candidate pipeline (sub-quadratic, nested-loop-free) feeds cosine
    // edges, connected components clusters them (localCheckpoint-bounded
    // iteration), and one max(struct) aggregate per cluster keeps the
    // highest-norm member (ties to the lowest vec_id) — norm as the
    // centrality proxy keeps the whole query expressible to the DuckDB
    // oracle, which recomputes it from exhaustive exact pairs + a
    // recursive CTE. Only clustered vectors appear: the query answers
    // "what do I drop, what do I keep", and singletons drop nothing.
    "dedup_semantic" -> { (s, dir) =>
      import graft.functions.VectorOps
      val comp = componentsCosine(s, dir, 0.45)
        .select(col("id").as("vec_id"), col("comp").as("component"))
      val norms = Tables.embeddings(s, dir)
        .select(col("vec_id"), round(VectorOps.norm(col("embedding")), 4).as("nrm"))
      comp.join(norms, "vec_id")
        .groupBy("component")
        .agg(
          max(struct(col("nrm"), (-col("vec_id")).as("negid"))).as("best"),
          count(lit(1)).as("n_members"))
        .select(
          col("component"),
          (-col("best.negid")).as("keep_id"),
          col("best.nrm").as("keep_norm"),
          col("n_members"))
        .orderBy("component")
    },

    // Dedup clustering: connected components over the verified near-dup
    // pair graph (the stage that turns pairs into keep-one-per-cluster
    // decisions). Label propagation to fixpoint: each round every vertex
    // takes the min label in its neighborhood — O(component diameter)
    // rounds, each one distributed join+agg; the driver only checks a
    // one-row convergence metric. Oracle: DuckDB recursive CTE computing
    // min-reachable-id per vertex over the same edge set.
    "dedup_components" -> { (s, dir) =>
      // Candidate edges come from the prefix-filtered pair pipeline — the
      // lossless (for J >= t) AllPairs construction already oracle-proven by
      // dedup_jaccard_prefix — NOT from a raw shingle self-join, whose
      // hot-shingle k² candidate blowup is exactly the quadratic this family
      // otherwise avoids.
      componentsJaccard(s, dir, 0.5)
        .select(col("id").as("doc_id"), col("comp").as("component"))
        .orderBy("doc_id")
    },

    // CLUSTER-SIZE CENSUS (r13): the duplication-structure readout over
    // the verified near-dup components — how many clusters of each size,
    // how many documents they hold, and the singleton mass (docs in no
    // cluster). This is the number a dedup pass is judged by before any
    // row is dropped ("how much of the corpus is duplicated, and in what
    // shape — many pairs or a few giant clusters?"), and the giant-
    // cluster tail is the operational alarm (boilerplate/template
    // explosions show up as one huge component). Reads the SAME
    // session-cached component labels the other component consumers use
    // (one label-prop fixpoint per session); everything after is ≤|docs|
    // group-bys collapsing to a ≤|distinct sizes| histogram + one
    // broadcast 1-row total. Nothing new at 100 TB.
    "dedup_cluster_stats" -> { (s, dir) =>
      val comp = componentsJaccard(s, dir, 0.5)
      val dist = comp.groupBy("comp").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
      val totals = Tables.documents(s, dir).agg(count(lit(1)).as("nd"))
        .crossJoin(broadcast(comp.agg(count(lit(1)).as("nc"))))
      val singles = totals.select(lit(1L).as("sz"),
        (col("nd") - col("nc")).as("n_clusters"))
      dist.select(col("sz"), col("n_clusters")).union(singles)
        .groupBy("sz").agg(sum(col("n_clusters")).as("n_clusters"))
        .select(col("sz").as("cluster_size"), col("n_clusters"),
          (col("sz") * col("n_clusters")).as("n_docs"))
        .orderBy("cluster_size")
    },

    // SPAN REMOVAL (r14, the r13 verdict's ask #4 — the Lee et al.
    // "Deduplicating Training Data" pipeline's ACTION half, promoting the
    // text_dup_spans diagnostic): per document, drop every token position
    // covered by a 5-gram that appears in ≥ 2 distinct documents, and
    // emit the removal ledger — total tokens, removed tokens, removed
    // characters, and how many contiguous KEPT spans survive (the
    // fragmentation a training pipeline actually cares about: one doc
    // shredded into 40 slivers is worth less than its token count says).
    // Plan shape since r15: the shared [[spanLedger]] (artifact-backed
    // doc-local interval-merge fold — full analysis on the helper).
    "dedup_span_removal" -> { (s, dir) =>
      spanLedger(s, dir)
        .select("doc_id", "n_toks", "n_removed", "removed_chars",
          "n_kept_spans")
        .orderBy("doc_id")
    },

    // SPAN-REMOVAL SAVINGS (r15): the governance rollup over the same
    // per-doc ledger — per language: how many documents, how much of the
    // token mass a span-dedup pass would strip (truncated ppm), and how
    // many documents it would remove ENTIRELY (the attrition a mix plan
    // must budget for before committing to the pass). One lang join on
    // the doc-grain ledger + one ≤|langs|-row aggregate; scale shape is
    // the ledger's.
    "dedup_span_savings" -> { (s, dir) =>
      spanLedger(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_toks"),
          sum(col("n_removed")).as("n_removed"),
          sum(when(col("n_removed") === col("n_toks"), 1L).otherwise(0L))
            .as("n_docs_fully_removed"))
        .select(col("lang"), col("n_docs"), col("n_toks"), col("n_removed"),
          expr("(1000000 * n_removed) div n_toks").as("removed_ppm"),
          col("n_docs_fully_removed"))
        .orderBy("lang")
    },

    // CONTAINMENT near-dup (asymmetric): pairs where doc A's shingle set is
    // mostly inside doc B's — C(A→B) = |A∩B| / |A| ≥ 0.8. This is the
    // partial-duplication detector (quotation, excerpting, page-within-page)
    // that symmetric Jaccard misses: a 50-token doc fully contained in a
    // 500-token doc has J ≈ 0.1 but C = 1.0. The verified pair set is a
    // session index under the uniform cache policy (see [[containmentPairs]]
    // — r8 brought the one formerly-exempt family in line); the timed plan
    // here is the cached-pair scan + final sort, like the Jaccard family.
    "dedup_containment" -> { (s, dir) =>
      containmentPairs(s, dir, 0.8).orderBy("da", "db")
    },

    // The dedup END STAGE: collapse each near-dup cluster to its best
    // representative — detect (prefix-filtered Jaccard pairs) → cluster
    // (connected components) → SELECT (argmax quality per component, ties
    // to the lowest doc_id; singletons keep themselves). This is the query
    // that actually shrinks the corpus; everything upstream only finds the
    // structure. The component argmax is one aggregate (max(struct) with
    // map-side combine — no per-component window sort), quality is the
    // same log(n_toks)·TTR score text_quality/pipeline_corpus_select use,
    // rounded to 6 so the float compare is engine-stable.
    "pipeline_dedup_select" -> { (s, dir) =>
      val toksCol = split(col("text"), " ")
      val quality = round(log(lit(1) + size(toksCol))
        * (size(array_distinct(toksCol)).cast("double") / size(toksCol)), 6)
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), quality.as("q"))
      val comp = componentsJaccard(s, dir, 0.5)
        .select(col("id").as("doc_id"), col("comp"))
      // docs outside any near-dup cluster are their own component
      val labeled = docs.join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"), col("q"),
          coalesce(col("comp"), col("doc_id")).as("component"))
      labeled.groupBy("component")
        .agg(
          max(struct(col("q"), (-col("doc_id")).as("negid"))).as("best"),
          count(lit(1)).as("n_members"))
        .select(
          col("component"),
          (-col("best.negid")).as("keep_id"),
          round(col("best.q"), 6).as("keep_quality"),
          col("n_members"))
        .orderBy("component")
    },

    // SimHash near-dup (no DuckDB oracle — custom Catalyst expression;
    // property-tested in ScalaTest). Bands the 64-bit fingerprint into
    // 4×16-bit keys; docs sharing any band are candidates; Hamming ≤ 12
    // confirms. The fingerprint table is localCheckpoint'ed so simhash64
    // runs ONCE over the corpus (three plan references: both band-join
    // sides + the fingerprint fetch), and candidates are dedup'ed on the
    // NARROW (da, db) pair before fingerprints are fetched back — the r3
    // shape distinct'ed band-collision rows carrying two 64-bit fps and
    // recomputed the fingerprint subtree per reference, which is where its
    // 3.4× bench regression lived.
    "dedup_simhash" -> { (s, dir) =>
      val fp = Tables.documents(s, dir)
        .select(col("doc_id"), SimHash64.simhash64(split(col("text"), " ")).as("fp"))
        .localCheckpoint()
      val banded = fp.select(col("doc_id"),
        explode(array((0 until 4).map(bnd =>
          struct(lit(bnd).as("band"),
            shiftright(col("fp"), bnd * 16).bitwiseAND(lit(0xffffL)).as("key"))): _*))
          .as("bk"))
        .select(col("doc_id"), col("bk.band"), col("bk.key"))
      val cand = banded.select(col("doc_id").as("da"), col("band"), col("key"))
        .join(banded.select(col("doc_id").as("db"), col("band"), col("key")), Seq("band", "key"))
        .filter(col("da") < col("db"))
        .select("da", "db").distinct()
      cand
        .join(fp.select(col("doc_id").as("da"), col("fp").as("fa")), "da")
        .join(fp.select(col("doc_id").as("db"), col("fp").as("fb")), "db")
        .select(col("da"), col("db"), SimHash64.hamming64(col("fa"), col("fb")).as("hd"))
        .filter(col("hd") <= 12)
        .orderBy("da", "db")
    })

  /** Sign-LSH banded cosine pairs — the sub-quadratic candidate pipeline
    * behind `dedup_near_cosine_lsh` and `dedup_semantic`: 21 bands × 3
    * sign bits over the 64 dims generate candidates through an equi-join
    * (no nested-loop anywhere — PlanSpec-asserted), exact cosine verifies
    * survivors. The banding shuffle carries only (vec_id, band, key);
    * vectors are fetched back per UNIQUE candidate pair, not per band
    * collision. Returns (va, vb, cos) for all pairs with cos ≥ `t`.
    */
  private def cosinePairsLsh(s: SparkSession, dir: String, t: Double): DataFrame =
    cachedPairs(s, dir, s"cosine:$t")(cosinePairsLshPlan(s, dir, t))

  /** The uncached construction (PlanSpec asserts on this — the cached
    * accessor's plan is just the checkpoint scan).
    *
    * r10 shape: the banded rows CARRY their embedding + norm through the
    * equi-join, the exact cosine is computed inline on each band collision
    * (same codegen stage as the join output), and the `>= t` filter kills
    * the non-duplicate collisions BEFORE anything shuffles again; distinct
    * then dedups band multiplicity on the tiny surviving set. The r9 shape
    * (narrow candidates → distinct → two fetch-back joins) shuffled the
    * FULL collision set twice: at a 0.45 threshold over clustered 64-d
    * vectors the sign bands barely prune (most pairs collide on ≥ 1 of 21
    * bands), so "narrow candidates" was ~n² rows through distinct plus two
    * n²-row joins — 4.5 s of the r9 index build. Carrying vectors costs a
    * bounded nBands×n-row band shuffle (linear in the corpus, ~300 B/row)
    * and the post-filter distinct shuffles only true near-dup pairs — by
    * definition a vanishing fraction. Both shapes are equi-join candidate
    * generation; at any scale the inline-verify variant shuffles strictly
    * less whenever survivors << collisions, which is what dedup means.
    */
  /** The embedding-space batch-vs-base admission screen shared by the
    * batch query `dedup_incremental_cosine` and the streaming arrival
    * path ([[graft.streaming.IncrementalAdmission.screenVectors]]):
    * probe vectors `(vec_id, embedding, nrm)` band against the ALREADY
    * BANDED base side, collisions verify inline (exact cosine in the
    * same codegen stage), and each probe vector gets `(vec_id,
    * n_near_base, best_cos, admitted)`. Restricting the symmetric
    * banding to probe×base collisions keeps its pinned 100% recall —
    * the candidate set is a subset, every true pair still collides.
    */
  private[graft] def cosineAdmissionScreen(probe: DataFrame, baseBanded: DataFrame,
      t: Double): DataFrame = {
    import graft.functions.VectorOps
    // The banded join is HINTED to a ShuffledHashJoin building the (small
    // by definition) probe side: hash-partitioning both sides on
    // (band, key) is what parallelizes the screen — measured alternatives
    // at sf0.1: the unhinted plan picked SortMergeJoin and sorted /
    // group-buffered the wide embedding-carrying base rows (4.9 s), and
    // broadcasting the probe removed the shuffle but inherited the base
    // SCAN's partitioning, running the entire probe pipeline in ONE task
    // on a single-file corpus (4.4 s). The hinted shuffle moves ~nBands
    // narrow-keyed wide rows once and probes in parallel (0.9 s), and at
    // scale it is the same shuffle the symmetric pair build already pays.
    val pairs = signBanded(probe)
      .select(col("vec_id").as("va"), col("embedding").as("ea"),
        col("nrm").as("na"), col("band"), col("key"))
      .hint("shuffle_hash")
      .join(baseBanded
        .select(col("vec_id").as("vb"), col("embedding").as("eb"),
          col("nrm").as("nb"), col("band"), col("key")), Seq("band", "key"))
      .withColumn("cos", VectorOps.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= t)
      .select(col("va"), col("vb"), round(col("cos"), 4).as("cr"))
    // Band multiplicity dedups INSIDE the aggregate (count distinct
    // partners; max unaffected by duplicates) — a separate `.distinct()`
    // here pushed an exchange between the join and the aggregate and
    // re-planned the banded join out of its single codegen pipeline,
    // re-evaluating the dot kernel off the fast path: measured 4.4 s vs
    // 1.2 s at sf0.1 for identical results.
    val agg = pairs.groupBy(col("va").as("vec_id"))
      .agg(countDistinct(col("vb")).as("n_near_base"), max(col("cr")).as("best_cos"))
    probe.select(col("vec_id"))
      .join(agg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_near_base"), lit(0L)).as("n_near_base"),
        col("best_cos"),
        (coalesce(col("n_near_base"), lit(0L)) === 0L).as("admitted"))
      .orderBy("vec_id")
  }

  /** The corpus with per-row norm and the 21×3-bit sign-band explosion —
    * one row per (vector, band) carrying the embedding + norm so collision
    * verification runs inline (see [[cosinePairsLshPlan]]'s rationale).
    * Shared by the symmetric pair build and the incremental batch screen.
    */
  private[graft] def signBanded(e: DataFrame): DataFrame = {
    val bits = 3
    val nBands = 21 // 64-dim embeddings → 21 whole 3-bit bands (dim 64 unused)
    def signKey(b: Int): Column =
      (0 until bits).map { j =>
        when(element_at(col("embedding"), b * bits + j + 1) > 0f, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    e.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"), signKey(b).as("key"))): _*)).as("bk"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("bk.band"), col("bk.key"))
  }

  private def normedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        VectorOps.norm(col("embedding")).as("nrm"))
  }


  private[ops] def cosinePairsLshPlan(s: SparkSession, dir: String, t: Double): DataFrame = {
    import graft.functions.VectorOps
    val banded = signBanded(normedEmbeddings(s, dir))
    // shuffle_hash: same join-shape lesson as the incremental screen —
    // unhinted, this self-join sort-merges the wide embedding-carrying
    // banded rows (sort + per-key group buffering of 64-float arrays);
    // the hash join shuffles them exactly once and streams the collision
    // enumeration with the dot verified inline in codegen.
    banded.select(col("vec_id").as("va"), col("embedding").as("ea"),
        col("nrm").as("na"), col("band"), col("key"))
      .hint("shuffle_hash")
      .join(banded.select(col("vec_id").as("vb"), col("embedding").as("eb"),
        col("nrm").as("nb"), col("band"), col("key")), Seq("band", "key"))
      .filter(col("va") < col("vb"))
      .withColumn("cos", VectorOps.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= t)
      .select("va", "vb", "cos")
      .distinct()
  }

  private val cosSql =
    """list_reduce(list_transform(range(1, len(a.embedding) + 1),
      |  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
      |/ (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
      | * sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)))"""
      .stripMargin

  /** DuckDB oracle for the banded variant, generated to mirror the 4-band
    * OR-construction (band joins unioned, then exact Jaccard).
    */
  private val minhashBandedSql: String = {
    val sigCols = (0 until 8)
      .map(i => s"min(md5('$i' || shingle)) AS h$i").mkString(", ")
    val bandJoins = (0 until 4).map { b =>
      s"""SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM sig a JOIN sig b
         |    ON a.h${2 * b} = b.h${2 * b} AND a.h${2 * b + 1} = b.h${2 * b + 1}
         |   AND a.doc_id < b.doc_id""".stripMargin
    }.mkString("\n  UNION\n")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3
       |), sh AS (
       |  SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, len(ts) - 1),
       |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
       |  FROM toks
       |), sig AS (
       |  SELECT doc_id, $sigCols FROM sh GROUP BY doc_id
       |), cand AS (
       |$bandJoins
       |), inter AS (
       |  SELECT c.da, c.db, CAST(count(*) AS BIGINT) AS ni
       |  FROM cand c
       |  JOIN sh x ON x.doc_id = c.da
       |  JOIN sh y ON y.doc_id = c.db AND y.shingle = x.shingle
       |  GROUP BY 1, 2
       |), card AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nc FROM sh GROUP BY doc_id
       |)
       |SELECT da, db,
       |       round(CAST(ni AS DOUBLE) / (ca.nc + cb.nc - ni), 3) AS jaccard
       |FROM inter
       |JOIN card ca ON ca.doc_id = da
       |JOIN card cb ON cb.doc_id = db
       |WHERE round(CAST(ni AS DOUBLE) / (ca.nc + cb.nc - ni), 3) >= 0.5
       |ORDER BY da, db""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "dedup_minhash_banded" -> minhashBandedSql,

    "dedup_span_removal" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), pos AS (
        |  SELECT doc_id, p, len(tok) AS tok_len FROM (
        |    SELECT doc_id, generate_subscripts(ts, 1) AS p, unnest(ts) AS tok
        |    FROM t)
        |), gsrc AS (
        |  SELECT doc_id, ts, unnest(range(1, len(ts) - 3)) AS i FROM t
        |  WHERE len(ts) >= 5
        |), grams AS (
        |  SELECT doc_id, i, array_to_string(ts[i:i+4], ' ') AS gram FROM gsrc
        |), dup AS (
        |  SELECT gram FROM grams GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2
        |), cov AS (
        |  SELECT DISTINCT doc_id, p FROM (
        |    SELECT g.doc_id, unnest(range(g.i, g.i + 5)) AS p
        |    FROM grams g JOIN dup USING (gram))
        |), marked AS (
        |  SELECT pos.doc_id, pos.p, pos.tok_len,
        |         (cov.p IS NOT NULL) AS rm
        |  FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
        |), spans AS (
        |  SELECT doc_id, CAST(sum(st) AS BIGINT) AS n_kept_spans FROM (
        |    SELECT doc_id,
        |           CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p)
        |                     IS DISTINCT FROM p - 1 THEN 1 ELSE 0 END AS st
        |    FROM marked WHERE NOT rm)
        |  GROUP BY doc_id
        |)
        |SELECT m.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_toks,
        |       CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |       CAST(sum(CASE WHEN rm THEN tok_len ELSE 0 END) AS BIGINT)
        |         AS removed_chars,
        |       CAST(coalesce(min(s.n_kept_spans), 0) AS BIGINT) AS n_kept_spans
        |FROM marked m LEFT JOIN spans s ON m.doc_id = s.doc_id
        |GROUP BY m.doc_id ORDER BY m.doc_id""".stripMargin,

    "dedup_span_savings" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), pos AS (
        |  SELECT doc_id, generate_subscripts(ts, 1) AS p FROM t
        |), gsrc AS (
        |  SELECT doc_id, ts, unnest(range(1, len(ts) - 3)) AS i FROM t
        |  WHERE len(ts) >= 5
        |), grams AS (
        |  SELECT doc_id, i, array_to_string(ts[i:i+4], ' ') AS gram FROM gsrc
        |), dup AS (
        |  SELECT gram FROM grams GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2
        |), cov AS (
        |  SELECT DISTINCT doc_id, p FROM (
        |    SELECT g.doc_id, unnest(range(g.i, g.i + 5)) AS p
        |    FROM grams g JOIN dup USING (gram))
        |), perdoc AS (
        |  SELECT pos.doc_id,
        |         CAST(count(*) AS BIGINT) AS n_toks,
        |         CAST(sum(CASE WHEN cov.p IS NOT NULL THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_removed
        |  FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
        |  GROUP BY 1
        |)
        |SELECT d.lang,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_toks) AS BIGINT) AS n_toks,
        |       CAST(sum(n_removed) AS BIGINT) AS n_removed,
        |       CAST((1000000 * sum(n_removed)) // sum(n_toks) AS BIGINT)
        |         AS removed_ppm,
        |       CAST(sum(CASE WHEN n_removed = n_toks THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_docs_fully_removed
        |FROM perdoc JOIN documents d USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_incremental_bloom" ->
      """SELECT doc_id, n_chars
        |FROM documents b
        |WHERE b.doc_id % 10 = 0
        |  AND NOT EXISTS (
        |    SELECT 1 FROM (
        |      SELECT text FROM documents WHERE doc_id % 10 <> 0
        |      UNION ALL
        |      SELECT text FROM documents WHERE doc_id % 20 = 0) c
        |    WHERE c.text = b.text)
        |ORDER BY doc_id""".stripMargin,

    // Exhaustive batch×base screen — the asymmetric prefix-filtered Spark
    // plan must reproduce exactly this (prefix filtering is lossless).
    "dedup_incremental_near" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(ts) - 1),
        |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
        |  FROM toks
        |), card AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nc FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS ni
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |  GROUP BY 1, 2
        |), near AS (
        |  SELECT da, round(CAST(ni AS DOUBLE) / (ca.nc + cb.nc - ni), 3) AS j
        |  FROM inter
        |  JOIN card ca ON ca.doc_id = da JOIN card cb ON cb.doc_id = db
        |  WHERE round(CAST(ni AS DOUBLE) / (ca.nc + cb.nc - ni), 3) >= 0.5
        |), nagg AS (
        |  SELECT da AS doc_id, CAST(count(*) AS BIGINT) AS n_near_base,
        |         max(j) AS best_j
        |  FROM near GROUP BY 1
        |), bh AS (
        |  SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id % 10 <> 0
        |), batch AS (
        |  SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 10 = 0
        |)
        |SELECT b.doc_id,
        |       (bh.h IS NOT NULL) AS exact_dup,
        |       CAST(coalesce(n.n_near_base, 0) AS BIGINT) AS n_near_base,
        |       n.best_j AS best_j,
        |       (bh.h IS NULL AND coalesce(n.n_near_base, 0) = 0) AS admitted
        |FROM batch b
        |LEFT JOIN bh ON bh.h = b.h
        |LEFT JOIN nagg n ON n.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    "dedup_components" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(ts) - 1),
        |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
        |  FROM toks
        |), card AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nc FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT x.doc_id AS da, y.doc_id AS db, CAST(count(*) AS BIGINT) AS ni
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT da, db FROM inter
        |  JOIN card ca ON ca.doc_id = da JOIN card cb ON cb.doc_id = db
        |  WHERE round(CAST(ni AS DOUBLE) / (ca.nc + cb.nc - ni), 3) >= 0.5
        |), edges AS (
        |  SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs
        |), reach(u, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        |  UNION
        |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
        |)
        |SELECT u AS doc_id, min(r) AS component
        |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same component construction as dedup_components, aggregated to the
    // cluster-size census (singletons = documents outside every cluster).
    "dedup_cluster_stats" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(ts) - 1),
        |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
        |  FROM toks
        |), card AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nc FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT x.doc_id AS da, y.doc_id AS db, CAST(count(*) AS BIGINT) AS ni
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT da, db FROM inter
        |  JOIN card ca ON ca.doc_id = da JOIN card cb ON cb.doc_id = db
        |  WHERE round(CAST(ni AS DOUBLE) / (ca.nc + cb.nc - ni), 3) >= 0.5
        |), edges AS (
        |  SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs
        |), reach(u, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        |  UNION
        |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
        |), comp AS (
        |  SELECT u AS doc_id, min(r) AS component FROM reach GROUP BY 1
        |), dist AS (
        |  SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters FROM (
        |    SELECT component, CAST(count(*) AS BIGINT) AS sz
        |    FROM comp GROUP BY 1) GROUP BY 1
        |  UNION ALL
        |  SELECT 1 AS sz,
        |         (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp)
        |)
        |SELECT sz AS cluster_size,
        |       CAST(sum(n_clusters) AS BIGINT) AS n_clusters,
        |       CAST(sum(sz * n_clusters) AS BIGINT) AS n_docs
        |FROM dist GROUP BY 1 ORDER BY 1""".stripMargin,
    // The same all-pairs construction, swept across thresholds.
    "pipeline_dedup_rate_curve" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), tok AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(ts) - 1),
        |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS tok
        |  FROM toks
        |), card AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS ni
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), m AS (
        |  SELECT da, db,
        |         CAST(round(round(CAST(ni AS DOUBLE) / (ca.n + cb.n - ni), 3)
        |              * 1000, 0) AS BIGINT) AS milli
        |  FROM inter JOIN card ca ON ca.doc_id = da
        |  JOIN card cb ON cb.doc_id = db
        |  WHERE round(CAST(ni AS DOUBLE) / (ca.n + cb.n - ni), 3) >= 0.5
        |), hits AS (
        |  SELECT t.thr, m.da, m.db
        |  FROM m, (SELECT unnest([500, 600, 700, 800, 900]) AS thr) t
        |  WHERE m.milli >= t.thr)
        |SELECT CAST(thr AS BIGINT) AS thr,
        |       CAST(count(*) // 2 AS BIGINT) AS n_pairs,
        |       CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
        |FROM (SELECT thr, unnest([da, db]) AS doc FROM hits)
        |GROUP BY thr ORDER BY thr""".stripMargin,

    // Exhaustive all-pairs over shingles — the prefix-filtered Spark plan
    // must produce exactly this (prefix filtering is lossless for J >= t).
    "dedup_jaccard_prefix" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), tok AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(ts) - 1),
        |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS tok
        |  FROM toks
        |), card AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS ni
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db,
        |       round(CAST(ni AS DOUBLE) / (ca.n + cb.n - ni), 3) AS jaccard
        |FROM inter JOIN card ca ON ca.doc_id = da JOIN card cb ON cb.doc_id = db
        |WHERE round(CAST(ni AS DOUBLE) / (ca.n + cb.n - ni), 3) >= 0.5
        |ORDER BY da, db""".stripMargin,

    "dedup_near_cosine" ->
      s"""SELECT va, vb, round(cos, 4) AS cos_r FROM (
         |  SELECT a.vec_id AS va, b.vec_id AS vb, $cosSql AS cos
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |WHERE cos >= 0.45 ORDER BY va, vb""".stripMargin,

    // Same oracle as dedup_near_cosine: the LSH banding is empirically
    // lossless on this corpus (every pair ≥ 0.45 collides on ≥ 1 of the
    // 21 sign bands at every shipped SF), so the sub-quadratic plan must
    // reproduce the exhaustive answer exactly.
    "dedup_near_cosine_lsh" ->
      s"""SELECT va, vb, round(cos, 4) AS cos_r FROM (
         |  SELECT a.vec_id AS va, b.vec_id AS vb, $cosSql AS cos
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |WHERE cos >= 0.45 ORDER BY va, vb""".stripMargin,

    // Exhaustive batch×base cosine screen — the asymmetric banding is a
    // subset of the symmetric candidate set, whose 100% recall on this
    // corpus the brute-force oracles already pin.
    "dedup_incremental_cosine" ->
      s"""WITH pr AS (
         |  SELECT a.vec_id AS va, $cosSql AS cos
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0
         |), near AS (
         |  SELECT va, round(cos, 4) AS cr FROM pr WHERE cos >= 0.45
         |), agg AS (
         |  SELECT va AS vec_id, CAST(count(*) AS BIGINT) AS n_near_base,
         |         max(cr) AS best_cos
         |  FROM near GROUP BY 1
         |)
         |SELECT e.vec_id,
         |       CAST(coalesce(a.n_near_base, 0) AS BIGINT) AS n_near_base,
         |       a.best_cos AS best_cos,
         |       (coalesce(a.n_near_base, 0) = 0) AS admitted
         |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0) e
         |LEFT JOIN agg a ON a.vec_id = e.vec_id
         |ORDER BY e.vec_id""".stripMargin,

    "dedup_sim_histogram" ->
      s"""WITH pairs AS (
         |  SELECT $cosSql AS cos
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |), m AS (
         |  SELECT CAST(round(cos * 1000, 0) AS BIGINT) AS milli FROM pairs
         |  WHERE cos >= 0.45
         |)
         |SELECT CAST(milli // 50 AS BIGINT) AS bucket,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       min(milli) AS min_milli, max(milli) AS max_milli
         |FROM m GROUP BY 1 ORDER BY bucket""".stripMargin,

    // Exhaustive exact pairs + recursive-CTE components + windowed argmax —
    // the banded-LSH + label-propagation + max(struct) plan must reproduce
    // exactly this.
    "dedup_semantic" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT va, vb FROM (
         |    SELECT a.vec_id AS va, b.vec_id AS vb, $cosSql AS cos
         |    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |  WHERE cos >= 0.45
         |), edges AS (
         |  SELECT va AS u, vb AS v FROM pairs UNION SELECT vb, va FROM pairs
         |), reach(u, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
         |), comp AS (
         |  SELECT u AS vec_id, min(r) AS component FROM reach GROUP BY 1
         |), nrm AS (
         |  SELECT vec_id,
         |         round(sqrt(list_reduce(list_transform(embedding,
         |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
         |               (x, y) -> x + y)), 4) AS nrm
         |  FROM embeddings
         |), ranked AS (
         |  SELECT component, c.vec_id, nrm.nrm,
         |         row_number() OVER (PARTITION BY component
         |                            ORDER BY nrm.nrm DESC, c.vec_id) AS rn,
         |         count(*) OVER (PARTITION BY component) AS n_members
         |  FROM comp c JOIN nrm ON nrm.vec_id = c.vec_id)
         |SELECT component, vec_id AS keep_id, nrm AS keep_norm,
         |       CAST(n_members AS BIGINT) AS n_members
         |FROM ranked WHERE rn = 1 ORDER BY component""".stripMargin,

    "dedup_exact" ->
      """SELECT sha256(text) AS h, min(doc_id) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM (SELECT * FROM documents
        |      UNION ALL
        |      SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
        |      FROM documents WHERE doc_id % 50 = 0)
        |GROUP BY 1 ORDER BY keep_id""".stripMargin,

    // Same component structure as dedup_components (recursive CTE), plus
    // the per-component quality argmax and singleton self-components.
    "pipeline_dedup_select" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(ts) - 1),
        |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
        |  FROM toks
        |), card AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nc FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT x.doc_id AS da, y.doc_id AS db, CAST(count(*) AS BIGINT) AS ni
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT da, db FROM inter
        |  JOIN card ca ON ca.doc_id = da JOIN card cb ON cb.doc_id = db
        |  WHERE round(CAST(ni AS DOUBLE) / (ca.nc + cb.nc - ni), 3) >= 0.5
        |), edges AS (
        |  SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs
        |), reach(u, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        |  UNION
        |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
        |), comp AS (
        |  SELECT u AS doc_id, min(r) AS comp FROM reach GROUP BY 1
        |), scored AS (
        |  SELECT d.doc_id,
        |         round(ln(1 + len(string_split(text, ' ')))
        |               * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |                  / len(string_split(text, ' '))), 6) AS q,
        |         COALESCE(comp.comp, d.doc_id) AS component
        |  FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id
        |), ranked AS (
        |  SELECT component, doc_id, q,
        |         row_number() OVER (PARTITION BY component
        |                            ORDER BY q DESC, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY component) AS n_members
        |  FROM scored)
        |SELECT component, doc_id AS keep_id, round(q, 6) AS keep_quality,
        |       CAST(n_members AS BIGINT) AS n_members
        |FROM ranked WHERE rn = 1 ORDER BY component""".stripMargin,

    // Exhaustive all-ordered-pairs containment — the asymmetric prefix
    // filter is lossless for round(C, 3) >= 0.8, so the Spark plan must
    // reproduce exactly this.
    "dedup_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), tok AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(ts) - 1),
        |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS tok
        |  FROM toks
        |), card AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS ni
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, round(CAST(ni AS DOUBLE) / ca.n, 3) AS containment
        |FROM inter JOIN card ca ON ca.doc_id = da
        |WHERE round(CAST(ni AS DOUBLE) / ca.n, 3) >= 0.8
        |ORDER BY da, db""".stripMargin,

    "dedup_near_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(ts) - 1),
        |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
        |  FROM toks
        |), sig AS (
        |  SELECT doc_id, min(md5('0' || shingle)) AS h0, min(md5('1' || shingle)) AS h1
        |  FROM sh GROUP BY doc_id
        |), cand AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM sig a JOIN sig b ON a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id
        |), inter AS (
        |  SELECT c.da, c.db, CAST(count(*) AS BIGINT) AS ni
        |  FROM cand c
        |  JOIN sh x ON x.doc_id = c.da
        |  JOIN sh y ON y.doc_id = c.db AND y.shingle = x.shingle
        |  GROUP BY 1, 2
        |), card AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nc FROM sh GROUP BY doc_id
        |)
        |SELECT da, db,
        |       round(CAST(ni AS DOUBLE) / (ca.nc + cb.nc - ni), 3) AS jaccard
        |FROM inter
        |JOIN card ca ON ca.doc_id = da
        |JOIN card cb ON cb.doc_id = db
        |WHERE round(CAST(ni AS DOUBLE) / (ca.nc + cb.nc - ni), 3) >= 0.5
        |ORDER BY da, db""".stripMargin)
}
