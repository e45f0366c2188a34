package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Session-cached n-gram corpus artifacts shared across the text/dedup
  * families (r15, the r14 verdict's asks #1 and #7).
  *
  * Before r15 the positional word-5-gram corpus pass — explode `documents`
  * into 5-grams and collapse to the (doc, gram) grain — was built
  * independently by `dedup_span_removal`, `text_dup_spans`,
  * `text_ngram_novelty`, and the curation chain's span-dedup stage, each
  * paying the full explode + hash aggregate per bench rep (the family's
  * only non-shared corpus-scale artifact; `dedup_span_removal` alone sat at
  * 2.47 s). The same held for the char-trigram pass under `text_ngram_lm`:
  * the trained LM was cached but the SCORING side re-exploded every
  * document per rep.
  *
  * Both passes now live here as session-lifetime persisted artifacts under
  * the uniform cache policy (one build per (session, dir), timed by
  * [[IndexPhase]] as first-class `index_build` entries, stopped-session entries
  * dropped lazily):
  *
  *   - [[posGrams]]: `(doc_id, gram, ps, c, nd, first_doc)` — every word
  *     5-gram of every document with its ascending 1-based start positions
  *     `ps` (NULL where `nd = 1` — no consumer reads unique-gram
  *     positions; r16 ask #7), occurrence count `c` (= the position
  *     count), and the gram's CORPUS stats
  *     baked in: `nd` = how many distinct documents carry it, `first_doc`
  *     = its minimum doc_id (the novelty owner). One explode + ONE
  *     (doc, gram) hash aggregate + one gram-stats join — all at BUILD
  *     time, so the consuming queries never shuffle at the gram grain at
  *     all: `text_dup_spans`/`text_ngram_novelty` are one per-doc
  *     aggregate over the artifact scan, and `dedup_span_removal` reads
  *     its duplicated-gram starts from a filter. The `ps` array is
  *     bounded by in-document repeats of one specific 5-gram (tiny in any
  *     natural corpus — a pathological single-token-repeated doc yields
  *     one row with a doc-length array, still linear in the doc).
  *     The curation span stage ignores `nd` (its census is over the
  *     SURVIVOR subset) and recomputes docs-per-gram as `count(*)` over
  *     the restricted grain.
  *   - [[docTrigrams]]: `(doc_id, lang, g, cnt)` — per-document char
  *     trigram counts, the scoring-side working set of `text_ngram_lm`
  *     (and the grain its trained LM aggregates from: the model is
  *     `sum(cnt)` over the even-doc half, so train and score share one
  *     corpus pass).
  *   - [[bigramCells]] / [[termCounts]]: the adjacent-bigram and
  *     vocabulary grains serving the collocation/PMI/top-terms/Zipf
  *     consumers (see their Scaladoc).
  *
  * Scale shape: each artifact is one linear explode + one keyed aggregate,
  * partitioned by (doc_id, gram) — the same shuffle the consuming queries
  * already paid once each per rep. At 100 TB this is the classic
  * amortization: N consumers × M reps of a corpus-scale pass collapse to
  * one distributed materialization (MEMORY_AND_DISK, spills gracefully).
  */
object GramIndex {

  /** The positional word-5-gram grain of a (doc_id, text-tokens) frame —
    * shared builder so the session artifact and any fixture-level test
    * reconstruction produce identical rows.
    */
  private def buildPosGrams(docs: DataFrame): DataFrame = {
    val grain = docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 5)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(ts) - 4), i -> concat_ws(' ', slice(ts, i, 5)))")))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("gram"))
      .groupBy("doc_id", "gram")
      .agg(sort_array(collect_list(col("i"))).as("ps"), count(lit(1)).as("c"))
    // gram-grain corpus stats, joined back once at build time: the grain
    // is distinct (doc, gram), so docs-per-gram is count(*), and the
    // novelty owner is the min doc_id
    val gstats = grain.groupBy("gram")
      .agg(count(lit(1)).as("nd"), min(col("doc_id")).as("first_doc"))
    // r16 (the r15 verdict's ask #7): the positions array is carried ONLY
    // where something reads it. Every ps consumer is duplication-scoped —
    // spanLedger filters nd >= 2 before exploding, and the curation span
    // stage explodes only grams duplicated within the survivor SUBSET
    // (which implies nd >= 2 corpus-wide) — while the other three
    // consumers read scalars (c, nd, first_doc). Nulling ps on the
    // unique-gram mass (most 5-grams in any natural corpus) shrinks the
    // resident artifact by roughly that fraction of its widest column.
    grain.join(gstats, "gram")
      .select(col("doc_id"), col("gram"),
        when(col("nd") >= 2, col("ps")).as("ps"),
        col("c"), col("nd"), col("first_doc"))
  }

  private val posGramCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** `(doc_id, gram, ps, c, nd, first_doc)` over `documents`, persisted
    * once per (session, dir). See the object doc for grain and consumers.
    */
  private[graft] def posGrams(s: SparkSession, dir: String): DataFrame = {
    posGramCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    posGramCache.computeIfAbsent((s, dir),
      _ => buildPosGrams(Tables.documents(s, dir)).persist())
  }

  private val bigramCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** `(a, b, n_ab)` adjacent-token bigram cells over `documents` — the
    * collocation grain (r15): `text_collocations` re-exploded the corpus
    * per rep for exactly this aggregate, and `text_bigram_pmi` built the
    * same cells as concatenated strings. Unfiltered (support floors are
    * per-consumer); total bigram positions = Σ n_ab, so consumers never
    * need a second corpus pass for N.
    */
  private[graft] def bigramCells(s: SparkSession, dir: String): DataFrame = {
    bigramCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    bigramCache.computeIfAbsent((s, dir), _ =>
      Tables.documents(s, dir)
        .select(split(col("text"), " ").as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(ts) - 1),
            |  i -> named_struct('a', element_at(ts, i), 'b', element_at(ts, i + 1)))"""
            .stripMargin)).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
        .persist())
  }

  private val termCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** `(term, cu)` corpus unigram counts — the vocabulary grain (Heaps-law
    * bounded) behind `text_top_terms`, `text_zipf_fit`, and
    * `text_bigram_pmi`'s margins.
    */
  private[graft] def termCounts(s: SparkSession, dir: String): DataFrame = {
    termCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    termCache.computeIfAbsent((s, dir), _ =>
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cu"))
        .persist())
  }

  private val triCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** `(doc_id, lang, g, cnt)` char-trigram counts over `documents`,
    * persisted once per (session, dir).
    */
  private[graft] def docTrigrams(s: SparkSession, dir: String): DataFrame = {
    triCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    // (r16 measured a shuffle-free per-doc run-length HOF rewrite of this
    // build at sf0.1 and REVERTED it: 5.2 s vs 3.5 s — partial
    // aggregation already collapses the explode to the ~0.7M final rows
    // before the exchange, so the shuffle this would remove is small,
    // while the array_sort + lambda evaluation costs more CPU than the
    // hash aggregate it replaces.)
    triCache.computeIfAbsent((s, dir), _ =>
      Tables.documents(s, dir)
        .filter(length(col("text")) >= 3)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, length(text) - 2), i -> substr(text, i, 3))")).as("g"))
        .groupBy("doc_id", "lang", "g")
        .agg(count(lit(1)).as("cnt"))
        .persist())
  }

  /** The [[IndexPhase]] artifacts: a WORD-grain chain (5-gram positions
    * → bigram cells) and a CHAR-grain chain (trigram counts → vocabulary),
    * two independent corpus passes that pack onto different workers. A
    * consumer racing a build just blocks on `computeIfAbsent` and reuses
    * the winner's plan.
    */
  private[ops] val indexArtifacts: Seq[IndexArtifact] = Seq(
    IndexArtifact("pos_grams", Nil, (s, dir) => posGrams(s, dir).count()),
    IndexArtifact("bigram_cells", Seq("pos_grams"), (s, dir) => bigramCells(s, dir).count()),
    IndexArtifact("doc_trigrams", Nil, (s, dir) => docTrigrams(s, dir).count()),
    IndexArtifact("term_counts", Seq("doc_trigrams"), (s, dir) => termCounts(s, dir).count()))

  /** Unpersist and drop this session's artifacts (eager release — the same
    * contract as `DedupQueries.clearCache`).
    */
  def clearCache(s: SparkSession): Unit =
    Seq(posGramCache, triCache, bigramCache, termCache).foreach { cache =>
      val it = cache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 eq s) {
          try e.getValue.unpersist(blocking = false)
          catch { case _: Exception => () }
          it.remove()
        }
      }
    }
}
