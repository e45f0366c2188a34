package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end training-data curation chain, composed from the same
  * operators the query inventory declares one-by-one — the "a user could
  * run their whole pipeline on this library" proof. Stages, each consuming
  * the previous stage's survivor set:
  *
  *   1 ingest          every document
  *   2 quality         the Gopher-ish integer rule set (pipeline_filter_funnel's stages)
  *   3 exact_dedup     min doc_id per sha256(text) (dedup_exact's policy)
  *   4 near_dedup      min surviving member per Jaccard-0.5 component
  *                     (the session-cached dedup_components labels)
  *   5 decontaminate   drop the eval slice and any doc sharing ≥50% of its
  *                     shingles with it (pipeline_contamination's screen)
  *   6 resample        DSIR-style stopword-ratio importance sampling
  *                     (pipeline_importance_resample's acceptance rule)
  *   7 split_train     the reproducible 98% train bucket
  *                     (pipeline_train_val_split's salted-md5 assignment)
  *   8 pack_256        packed 256-token training rows the survivors yield
  *                     (pipeline_pack_sequences' budget arithmetic)
  *
  * Every stage is keyed joins/aggregates over the doc grain (the dedup
  * stages reuse the session pair/component caches), so the chain's scale
  * shape is the sum of its parts — nothing here adds a shuffle the
  * stand-alone operators don't already pay. The ledger is deterministic:
  * all predicates are integer-exact or salted-hash decisions, so two runs
  * (or two engines) produce identical counts.
  *
  * Runnable: `sbt "runMain graft.CurationPipeline [sfDir]"` prints one
  * JSON line per stage; `CurationPipelineSpec` pins monotone attrition,
  * agreement with the stand-alone queries, and run-to-run determinism.
  */
object CurationPipeline {

  /** The per-stage survivor sets (name -> annotated survivors), cached per
    * (session, dir) like every other session-lifetime artifact.
    *
    * Each stage feeds BOTH its ledger aggregate and the next stage, so
    * every stage is `localCheckpoint`ed as it is defined: the chain is ONE
    * forward pass (stage k materializes once on top of stage k−1's
    * checkpoint) and every downstream aggregate scans a doc-count-bounded
    * survivor table. Unmaterialized, stage k's consumers re-derived
    * stages 1..k from parquet and the 8-row ledger paid a quadratic pile
    * of repeated tokenize/sha2/contamination work — 7.0 s at sf0.1, the
    * single most expensive query in the r10 bench before this. Same
    * discipline as the session dedup indexes: materialize the narrow
    * fan-out point, keep lineage flat. The CACHE (r10 review) stops
    * repeated `stages()` calls — bench reps, the ledger query plus the
    * spec's recounts — from checkpointing a fresh 7-table set each time
    * and pinning the old blocks until GC; [[clearStages]] is the eager
    * release (and the spec's determinism test rebuilds through it, so
    * caching doesn't make that test vacuous).
    */
  def stages(s: SparkSession, dir: String): Seq[(String, DataFrame)] = {
    stagesCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    stagesCache.computeIfAbsent((s, dir), _ => buildStages(s, dir))
  }

  private val stagesCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Seq[(String, DataFrame)]]()

  /** Unpersist every cached stage checkpoint of `s` and drop the entries —
    * the same eager-release contract as `DedupQueries.clearCache`.
    */
  def clearStages(s: SparkSession): Unit = {
    val it = stagesCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        e.getValue.foreach { case (_, df) =>
          org.apache.spark.sql.GraftColumnBridge.checkpointRdd(df)
            .foreach(r => try r.unpersist(blocking = false) catch { case _: Exception => () })
        }
        it.remove()
      }
    }
  }

  private def buildStages(s: SparkSession, dir: String): Seq[(String, DataFrame)] = {
    val toksCol = split(col("text"), " ")
    val ingest = Tables.documents(s, dir)
      .withColumn("nt", size(toksCol).cast("long"))
      .withColumn("nd", size(array_distinct(toksCol)).cast("long"))
      .withColumn("n_stop", ops.CurationRules.stopCount(toksCol))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        col("nt"), col("nd"), col("n_stop"))
      .localCheckpoint()

    // r20: the pure-FILTER stages (quality, resample, split_train) are no
    // longer eagerly checkpointed — each was one serial materialization
    // action (rewriting every surviving text row into block storage) for
    // a predicate that is cheap to re-run over its checkpointed parent.
    // Their consumers (one ledger aggregate each + the next stage) re-run
    // the filter against the parent checkpoint — no tokenize/sha2/
    // contamination work repeats, which is what the checkpoints existed
    // to stop. Stages that CREATE expensive columns (ingest's tokenize,
    // exact's sha2 grouping, near/span/clean's join chains) stay
    // materialized. Measured on the isolated index probe: ~flat at sf0.1
    // (the filter stages are doc-grain, so their checkpoints were cheap);
    // the kept win is three fewer serial actions in the build chain and
    // three fewer resident checkpoint RDD sets per session. Ledger
    // unchanged (CurationPipelineSpec green).
    val quality = ingest.filter(col("nt") >= 20 && col("lang") === "en" &&
      col("nd") * 100 >= col("nt") * 55 && col("n_chars") <= 400)

    val exactReps = quality.groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val exact = quality.join(exactReps.select("doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint()

    val comp = ops.DedupQueries.componentsJaccard(s, dir, 0.5)
      .select(col("id").as("doc_id"), col("comp"))
    val labeled = exact.join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("comp"), col("doc_id")))
    val nearKeep = labeled.groupBy("component").agg(min(col("doc_id")).as("doc_id"))
    val near = labeled.drop("comp", "component")
      .join(nearKeep.select("doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint()

    // SPAN DEDUP (r14, verdict ask #4 — the Lee-et-al pipeline's missing
    // half): document-level near-dedup keeps one doc per cluster, but
    // sub-document duplication (quoted passages, boilerplate) survives
    // it. This stage removes every token position covered by a 5-gram
    // that still appears in ≥ 2 of the SURVIVING docs, rewrites the text
    // to the kept tokens, and recomputes the token stats the downstream
    // stages filter on — so the resample threshold sees the doc as it
    // will actually ship. Docs whose every token is duplicated drop out
    // (attrition stays monotone). Same plan shape as the stand-alone
    // `dedup_span_removal` ledger, restricted to the survivor set.
    // r15: the positional grams come from the session corpus artifact
    // ([[ops.GramIndex.posGrams]]) semi-joined to the survivors — valid
    // because stages 1–4 only FILTER docs, never rewrite text, so the
    // corpus-level positions still describe the surviving documents; the
    // duplicated-gram census below is computed over the restricted set,
    // preserving the "≥ 2 of the SURVIVING docs" semantics.
    val spanDedup = {
      val t = near.select(col("doc_id"), split(col("text"), " ").as("ts"))
      val grams = ops.GramIndex.posGrams(s, dir)
        .join(near.select("doc_id"), Seq("doc_id"), "left_semi")
      val dup = grams.groupBy("gram")
        .agg(count(lit(1)).as("ndd"))
        .filter(col("ndd") >= 2).select("gram")
      val covered = grams.join(dup, "gram")
        .select(col("doc_id"), explode(col("ps")).as("i"))
        .select(col("doc_id"), explode(sequence(col("i"), col("i") + 4)).as("p"))
        .distinct()
      val keptText = t
        .select(col("doc_id"), posexplode(col("ts")))
        .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("tok"))
        .join(covered, Seq("doc_id", "p"), "left_anti")
        .groupBy("doc_id")
        .agg(array_join(expr("transform(array_sort(collect_list(struct(p, tok))), x -> x.tok)"),
          " ").as("text"))
      val tokInfo = split(col("text"), " ")
      near.drop("text", "nt", "nd", "n_stop")
        .join(keptText, Seq("doc_id")) // inner: fully-covered docs drop
        .withColumn("nt", size(tokInfo).cast("long"))
        .withColumn("nd", size(array_distinct(tokInfo)).cast("long"))
        .withColumn("n_stop", ops.CurationRules.stopCount(tokInfo))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
          col("nt"), col("nd"), col("n_stop"))
        .localCheckpoint()
    }

    val sh = ops.DedupQueries.shingles(s, dir)
    val probes = sh.filter(col("doc_id") % 100 === 7).select("shingle").distinct()
    val card = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val overlap = sh.join(broadcast(probes), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_ov"))
    val contaminated = card.join(overlap, "doc_id")
      .filter(col("n_ov") * 2 >= col("n_sh")).select("doc_id")
    val clean = spanDedup.filter(col("doc_id") % 100 =!= 7)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .localCheckpoint()

    // The resample draw/threshold and the split bucket are the SHARED
    // CurationRules definitions — identical expressions to the stand-alone
    // pipeline_importance_resample / pipeline_train_val_split queries, so
    // the composed chain cannot drift from the operators it claims.
    // r20 (partial walk-back of the filter-stage checkpoint removal,
    // measured): resample CREATES per-row salted-hash columns (the
    // md5-family draw), so its consumers re-running the stage paid the
    // hash per ledger rep — pipeline_curation_ledger regressed 0.30 →
    // 0.49 min in both final bench passes and the quiet A/B; the
    // checkpoint stays. quality (pure comparisons over the ingest
    // checkpoint) and split_train (one bucket hash over THIS checkpoint)
    // stay lazy — the ledger A/B shows them flat.
    val resampled = clean
      .withColumn("hash_bp", ops.CurationRules.resampleHashBp(col("doc_id")))
      .withColumn("accept_bp", ops.CurationRules.resampleAcceptBp("n_stop", "nt"))
      .filter(col("hash_bp") < col("accept_bp"))
      .drop("hash_bp", "accept_bp")
      .localCheckpoint()

    val train = resampled.filter(ops.CurationRules.splitBucket(col("doc_id")) < 98)

    Seq("ingest" -> ingest, "quality" -> quality, "exact_dedup" -> exact,
      "near_dedup" -> near, "span_dedup" -> spanDedup,
      "decontaminate" -> clean,
      "resample" -> resampled, "split_train" -> train)
  }

  /** One row per stage: survivors + their token mass; the final `pack_256`
    * row reports the packed 256-token training rows the survivors yield.
    */
  def ledger(s: SparkSession, dir: String): DataFrame = {
    val sts = stages(s, dir)
    val rows = sts.zipWithIndex.map { case ((name, df), i) =>
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("nt")), lit(0L)).as("sum_toks"))
        .select(lit(i + 1).as("stage_no"), lit(name).as("stage"),
          col("n_docs"), col("sum_toks"))
    }
    val pack = sts.last._2
      .agg(coalesce(sum(col("nt")), lit(0L)).as("toks"))
      .select(lit(sts.size + 1).as("stage_no"), lit("pack_256").as("stage"),
        expr("toks div 256").as("n_docs"), col("toks").as("sum_toks"))
    rows.reduce(_.unionByName(_)).unionByName(pack).orderBy("stage_no")
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = Tables.sessionBuilder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)
    ledger(spark, dir).collect().foreach { r =>
      println(s"""{"stage_no":${r.getAs[Int]("stage_no")},""" +
        s""""stage":"${r.getAs[String]("stage")}",""" +
        s""""n_docs":${r.getAs[Long]("n_docs")},""" +
        s""""sum_toks":${r.getAs[Long]("sum_toks")}}""")
    }
    spark.stop()
  }
}
