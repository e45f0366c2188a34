package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Pattern-mining + data-profiling family (round 10).
  *
  * Association-rule mining (the FP-growth/Apriori workload's first and
  * dominant pass — pair support counting) and one-pass column profiling,
  * both shapes a corpus-curation engine runs constantly: co-occurrence
  * statistics drive mixture decisions, and per-column profiles are the
  * first thing computed on any newly-landed 100 TB table.
  *
  * Scale notes:
  *   - Basket pair enumeration is the same bounded per-order self-join as
  *     the co-purchase graph (`GraphQueries.edges`): equi-join on the
  *     order key, O(k²) per basket with small k, never quadratic in the
  *     table. Support/lift arithmetic stays in exact integer ppm so the
  *     top-k ordering is engine-portable (no float-division tie hazards).
  *   - Profiling stacks the canonicalized columns into (col_name, v) rows
  *     and reduces in ONE map-side-combined pass per distinct-count —
  *     5 columns cost one expand (×5 rows) + one hash aggregate, not five
  *     table scans. At 100 TB the expand is CPU-local; only per-column
  *     partials shuffle.
  */
object MiningQueries {

  /** Distinct (order, part) basket rows — the transaction×item relation.
    * r20: hash-partitioned by the ORDER key before the distinct —
    * HashPartitioning(ok) satisfies the (ok, pk) dedup's clustering (the
    * subset rule) AND the pair self-join's ok requirement, so the dedup
    * and the join ride ONE exchange where the r10 shape paid an (ok, pk)
    * exchange for the distinct plus an ok re-exchange for the join.
    */
  private def baskets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .repartition(col("ok"))
      .distinct()

  private def buildPairSupports(s: SparkSession, dir: String): DataFrame = {
    val b = baskets(s, dir)
    // Per-item basket counts: |parts| rows — small enough to broadcast at
    // any sf (item vocabulary grows ~sf^1, row count ~sf^1, but the count
    // table is one row per part, ~20k at sf0.1).
    val itemCnt = b.groupBy(col("pk")).agg(count(lit(1)).as("n_i"))
    val nOrders = b.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val pairs = b.as("x").hint("SHUFFLE_HASH")
      .join(b.as("y"), col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
    pairs
      .join(broadcast(itemCnt.select(col("pk").as("a"), col("n_i").as("n_a"))), "a")
      .join(broadcast(itemCnt.select(col("pk").as("b"), col("n_i").as("n_b"))), "b")
      .crossJoin(broadcast(nOrders))
  }

  /** Pair supports (a < b) + each item's basket count + total basket count,
    * columns (a, b, support, n_a, n_b, n_orders) — materialized ONCE per
    * (session, dir): both assoc queries consume the identical support
    * ledger, the exact redundant-rebuild shape the graph family's edge
    * cache eliminates. localCheckpoint, not persist() — same measured
    * lesson as `GraphQueries.edges` (the InMemoryRelation boundary
    * regresses downstream join planning).
    */
  private val supportCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def pairSupports(s: SparkSession, dir: String): DataFrame = {
    supportCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    supportCache.computeIfAbsent((s, dir),
      _ => buildPairSupports(s, dir).localCheckpoint())
  }

  /** The un-checkpointed construction plan — PlanSpec pins its join
    * shapes here, since consumers see only the checkpointed RDD scan.
    */
  private[ops] def pairSupportsPlan(s: SparkSession, dir: String): DataFrame =
    buildPairSupports(s, dir)

  /** The (arm, cents, count) histogram of the events value column — the
    * shared scan artifact of the drift dashboard (r12): all three drift
    * statistics (`agg_ks_drift`, `agg_mannwhitney`, `agg_psi_drift`)
    * reduce the corpus to this VALUE-DOMAIN-bounded table (≤ arms ×
    * ~49 k cents rows by construction) before any pair work. Before the
    * checkpoint each query re-derived it per subtree reference (the
    * pair table, the cumulative window and the totals each re-scanned
    * events — 3-4 full scans per query per rep); a drift dashboard
    * builds its histogram once per snapshot and serves every statistic
    * from it, which is exactly this cache's shape.
    */
  private val driftHistCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[ops] def driftHist(s: SparkSession, dir: String): DataFrame = {
    driftHistCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    driftHistCache.computeIfAbsent((s, dir), _ =>
      graft.Tables.events(s, dir)
        .select(col("event_type").as("et"),
          floor(col("value") * 100 + 0.5).cast("long").as("v"))
        .groupBy("et", "v").agg(count(lit(1)).as("c"))
        .localCheckpoint())
  }

  /** The arm universe — a bounded DRIVER artifact next to the histogram
    * (the IVF-codebook pattern: event types are a small fixed vocabulary,
    * and deriving the pair table from a driver list replaces a
    * distinct-shuffle + non-equi self-join + broadcast chain in every
    * drift query's plan with one 10-row local relation).
    */
  private val armsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Seq[String]]()

  private def arms(s: SparkSession, dir: String): Seq[String] = {
    armsCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    armsCache.computeIfAbsent((s, dir), _ =>
      driftHist(s, dir).select("et").distinct()
        .collect().map(_.getString(0)).sorted.toSeq)
  }

  /** The (pa, pb) unordered-pair table as a local relation (pa < pb). */
  private def armPairs(s: SparkSession, dir: String): DataFrame = {
    val as = arms(s, dir)
    import s.implicits._
    (for { a <- as; b <- as if a < b } yield (a, b)).toDF("pa", "pb")
  }

  /** The mining family's [[IndexPhase]] artifacts: the support ledger,
    * and the drift histogram with its arm universe.
    */
  private[ops] val indexArtifacts: Seq[IndexArtifact] = Seq(
    IndexArtifact("assoc_supports", Nil, (s, dir) => pairSupports(s, dir).count()),
    IndexArtifact("drift_hist", Nil, (s, dir) => { driftHist(s, dir).count(); arms(s, dir) }))

  /** Unpersist + drop the cached support ledger + drift histogram for one
    * data dir — ScaleProbe iterates replica dirs through one session, and
    * without per-dir eviction each factor's checkpointed ledger stays
    * pinned until the session stops (same contract as
    * `GraphQueries.clearCache`).
    */
  def clearCache(s: SparkSession, dir: String): Unit = {
    Seq(supportCache, driftHistCache).foreach { cache =>
      Option(cache.remove((s, dir))).foreach { df =>
        org.apache.spark.sql.GraftColumnBridge.checkpointRdd(df)
          .foreach(r => try r.unpersist(blocking = false) catch { case _: Exception => () })
      }
    }
    armsCache.remove((s, dir)); ()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MARKET-BASKET PAIR MINING: the support-counting pass of
    // Apriori/FP-growth over order baskets, with lift in exact integer
    // ppm: lift = P(a,b)/(P(a)P(b)) = support·n_orders / (n_a·n_b),
    // scaled ×10⁶ and floor-divided so Spark and DuckDB order pairs
    // identically (float division would make near-tied lifts
    // engine-dependent). Top-k by (support, a, b) is the sf-robust output
    // shape — absolute support thresholds don't survive a 10× scale-up
    // (the item vocabulary grows with sf, so supports get SPARSER as the
    // table grows; measured: max support 5 at sf0.01, 3 at sf0.1).
    "assoc_item_pairs" -> { (s, dir) =>
      pairSupports(s, dir)
        .select(col("a"), col("b"), col("support"), col("n_a"), col("n_b"),
          // support·n_orders·10⁶ wraps Long at ~3 M orders — the triple
          // product rides DECIMAL(38,0) (the agg_moments house rule,
          // r13 OverflowSpec audit); output stays BIGINT.
          expr("CAST((CAST(support AS DECIMAL(38,0)) * n_orders * 1000000)" +
            " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)").as("lift_ppm"))
        .orderBy(col("support").desc, col("a"), col("b"))
        .limit(100)
    },

    // ASSOCIATION RULES: both directed rules per supported pair with
    // confidence = support/|antecedent| in integer ppm; ranked by
    // confidence. The union doubles the pair rows BEFORE ranking so the
    // global top-k sees both directions; everything downstream of the
    // support pass is ledger-sized.
    "assoc_rules" -> { (s, dir) =>
      val p = pairSupports(s, dir).filter(col("support") >= 2)
      val ab = p.select(col("a").as("ante"), col("b").as("cons"),
        col("support"), col("n_a").as("n_ante"),
        expr("(support * 1000000L) div n_a").as("conf_ppm"))
      val ba = p.select(col("b").as("ante"), col("a").as("cons"),
        col("support"), col("n_b").as("n_ante"),
        expr("(support * 1000000L) div n_b").as("conf_ppm"))
      ab.union(ba)
        .orderBy(col("conf_ppm").desc, col("ante"), col("cons"))
        .limit(50)
    },

    // COLUMN PROFILING: the land-a-new-table report — per column: row
    // count, null count, exact distinct count, min/max, mean length —
    // over CANONICALIZED string values so the profile is engine-portable
    // (raw double→string casts diverge between engines; money goes
    // through integer cents, timestamps through an explicit format).
    // One stack (expand ×5) then an EXPLICIT two-level aggregate:
    // groupBy (col, value) with a map-side-combined count, then groupBy
    // col folding distinct-count, min/max, and count-weighted mean
    // length from the value-grain partials. Same math as count_distinct
    // but WITHOUT the planner's multi-distinct Expand (which doubles the
    // stacked rows again) — one shuffle carrying only the distinct
    // (col, value) pairs, then a 5-group ledger: measured 8.3 → 2.1 s at
    // sf0.1, and at 100 TB the shuffle is the distinct-value set, not
    // the table.
    //
    // r17 (verdict ask #7): the row grain and the shuffle carry LONGS —
    // key ids, integer cents, epoch days — in one lane plus a narrow
    // string lane for genuinely-textual columns; every canonical STRING
    // (the engine-portable profile surface: lexicographic min/max, mean
    // length, the distinct count over rendered values) is derived at the
    // VALUE GRAIN, after the shuffle, on ~distinct-pairs rows. Same
    // output bit-for-bit (long↔string is a bijection per lane, and
    // min/max/len still compare the rendered strings) — the 5× corpus
    // expand just stops hashing and shipping 3M strings, and the column
    // tag rides as an int id rendered back to its name on the 5-row
    // ledger (2.0 → ~1.2 s).
    // r18 (the r17 verdict's #2 ask): the expand feeds ONLY the distinct
    // count — the one aggregate that genuinely needs the (column, value)
    // pair grain. Everything else (n_rows, n_nulls, min/max, mean
    // length) is a plain per-column aggregate over the UNEXPANDED table.
    // r18 ran these as two scans (flat + a hand-rolled stack→distinct
    // branch); r19 fuses them — see the in-query note.
    "profile_columns" -> { (s, dir) =>
      // r19 (the r18 verdict's #2 finding — 1.63 s vs the ~1.2 bar): the
      // FLAT stats scan goes fully numeric — the r18 flat branch rendered
      // 3M strings (decimal casts + date_format at the corpus grain) just
      // to take min/max/length, and was 1.70 s of the query's 1.57-1.7 s
      // isolated wall. The same outputs derive from longs:
      //   • length of a rendered nonneg integer = its digit count — an
      //     exact 18-branch CASE ladder (a double log10 mis-floors at
      //     exact powers of ten);
      //   • LEXICOGRAPHIC min/max of rendered nonneg integers = struct
      //     ordering on (value right-zero-padded to 18 digits, digit
      //     count): char-by-char comparison of digit strings IS
      //     comparison of their right-zero-padded forms, with the
      //     shorter-is-a-prefix tie going to fewer digits for min —
      //     exactly the (p, l) struct's lexicographic order. Only the
      //     final 1-row winners are rendered back to strings.
      //   • the date lane's yyyy-MM-dd rendering is fixed-width, so its
      //     lex order IS epoch-day order and its length is the constant
      //     10; l_returnflag stays a genuine (1-char) string aggregate.
      // Domain precondition (holds for these five lanes at any SF): the
      // numeric lanes are NONNEGATIVE integers — a sign character would
      // break the padding isomorphism. Measured 1.70 → 0.30 s for the
      // flat branch; whole query 1.57 → ~1.05 isolated at sf0.1.
      // (r19 A/B, rejected: folding the five distinct counts into the
      // flat aggregate as planner multi-distinct — one scan total —
      // forces the min/max buffers through the grouped pair-grain
      // aggregate, which sort-aggregates the 6×-expanded corpus: 8.7 s.
      // A flat multi-distinct as its own second scan also loses to the
      // hand stack below: 1.13 vs 1.01 isolated — wider all-lane keys.)
      // Overflow audit: pad = d · 10^(18−len(d)) < 10^18 < Long.MAX by
      // construction (d has exactly len(d) digits).
      def dlen(c: String): String =
        (1 to 18).map(k => s"WHEN $c < ${"1" + "0" * k}L THEN $k")
          .mkString(s"CASE WHEN $c IS NULL THEN NULL ", " ", " ELSE 19 END")
      def pad18(c: String, l: String): String =
        s"$c * element_at(array(${(0 to 17).map(k => ("1" + "0" * k) + "L").mkString(",")}), 19 - $l)"
      val liL = Tables.lineitem(s, dir).select(
          expr("CAST(l_partkey AS BIGINT)").as("d0"),
          expr("CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)").as("d1"),
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("d2"),
          col("l_returnflag").as("d3"),
          expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT)")
            .as("d4"))
        .withColumn("l0", expr(dlen("d0")))
        .withColumn("l1", expr(dlen("d1")))
        .withColumn("l2", expr(dlen("d2")))
      val statAggs = Seq(0, 1, 2).flatMap { i =>
        val d = s"d$i"; val l = s"l$i"
        // the struct must be NULL itself on a NULL value (a non-null
        // struct of null fields would participate in min/max and sort
        // NULLS-FIRST past every real value)
        val st = s"CASE WHEN $d IS NOT NULL THEN " +
          s"struct(${pad18(d, l)} AS p, $l AS l, $d AS d) END"
        Seq(count(col(d)).as(s"nn$i"),
          min(expr(st)).as(s"mn$i"), max(expr(st)).as(s"mx$i"),
          sum(col(l).cast("long")).as(s"sl$i"))
      } ++ Seq(
        count(col("d3")).as("nn3"), min(col("d3")).as("mn3"),
        max(col("d3")).as("mx3"), sum(length(col("d3"))).as("sl3"),
        count(col("d4")).as("nn4"), min(col("d4")).as("mn4"),
        max(col("d4")).as("mx4"), (count(col("d4")) * 10).as("sl4"))
      val flat = liL.agg(count(lit(1)).as("nr"), statAggs: _*)
        .selectExpr("nr",
          "nn0", "CAST(mn0.d AS STRING) AS mns0", "CAST(mx0.d AS STRING) AS mxs0", "sl0",
          "nn1", "CAST(mn1.d AS STRING) AS mns1", "CAST(mx1.d AS STRING) AS mxs1", "sl1",
          "nn2", "CAST(mn2.d AS STRING) AS mns2", "CAST(mx2.d AS STRING) AS mxs2", "sl2",
          "nn3", "mn3 AS mns3", "mx3 AS mxs3", "sl3",
          "nn4",
          "date_format(date_add(DATE '1970-01-01', CAST(mn4 AS INT)), 'yyyy-MM-dd') AS mns4",
          "date_format(date_add(DATE '1970-01-01', CAST(mx4 AS INT)), 'yyyy-MM-dd') AS mxs4",
          "sl4")
      val stats = flat.select(expr(
        (0 until 5).map(i =>
          s"$i, nr, nr - nn$i, mns$i, mxs$i, round(sl$i / nn$i, 2)").mkString(
          "stack(5, ", ", ", ") AS (cid, n_rows, n_nulls, v_min, v_max, avg_len)")))
      // r20 (the r19 verdict's #4 ask): the distinct branch sheds the
      // string lane — the 5-lane stack hashed a (int, long, NULL-string)
      // row per corpus value through one pair-grain aggregate. The four
      // numeric lanes ride a 4-lane ALL-LONG stack (narrower hash keys,
      // 4/5 the expanded rows); l_returnflag (a 1-char enum) gets its own
      // count_distinct branch whose map-side dedup collapses to ≤ |enum|
      // rows per task before the exchange. Same distinct-nonnull-values
      // count per lane, union'd on the 5-row ledger grain.
      val distL = Seq(
        0 -> "CAST(l_partkey AS BIGINT)",
        1 -> "CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)",
        2 -> "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)",
        4 -> "CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT)")
        .map { case (i, e) =>
          Tables.lineitem(s, dir)
            .agg(count_distinct(expr(e)).as("n_distinct"))
            .select(lit(i).as("cid"), col("n_distinct"))
        }
        .reduce(_.unionByName(_))
      val dist = distL.unionByName(
        Tables.lineitem(s, dir)
          .agg(count_distinct(col("l_returnflag")).as("n_distinct"))
          .select(lit(3).as("cid"), col("n_distinct")))
      // n_rows > 0 gate: over an empty table the oracle's unioned groups
      // vanish (0 rows) while the 1-row aggregate would still unpivot
      stats.filter(col("n_rows") > 0)
        .join(broadcast(dist), Seq("cid"))
        .withColumn("col_name", expr(
          "element_at(array('l_partkey', 'l_quantity', 'l_extendedprice', " +
            "'l_returnflag', 'l_shipdate'), CAST(cid AS INT) + 1)"))
        .select("col_name", "n_rows", "n_nulls", "n_distinct",
          "v_min", "v_max", "avg_len")
        .orderBy("col_name")
    },

    // BENFORD FIRST-DIGIT PROFILE (r10): the fraud/data-quality screen —
    // the leading-digit distribution of a naturally-spread money column
    // against Benford's law. The digit comes from the INTEGER-CENTS
    // string (integer→string is canonical in both engines; a double
    // log10 would mis-floor at exact powers of ten), the observed share
    // MANN-KENDALL TREND TEST (r13): the nonparametric monotone-trend
    // monitor over each arm's daily revenue — the standard "is this
    // metric drifting" test when nothing about the distribution can be
    // assumed (the trend-side complement of the KS/CUSUM drift family).
    // S = Σ_{i<j} sign(x_j − x_i) in EXACT integers from one
    // day-ordered self-join of the arms×days ledger (O(d²) per arm on a
    // CALENDAR-bounded domain — ~4k pairs per arm at 90 days, constant
    // in corpus size); the variance carries the exact tie correction
    // (var18 = d(d−1)(2d+5) − Σ t(t−1)(2t+5) over tie groups, all
    // integer). Only the final z (with the standard ±1 continuity
    // correction) is a double — same sqrt both engines, round(4) + 0.0
    // canonicalized (a trendless arm lands on −0.0 otherwise).
    "agg_mann_kendall" -> { (s, dir) =>
      // the daily ledger feeds four consumers (both self-join sides, the
      // day count, the tie groups) — materialize the ≤ arms×days rows
      // once instead of four corpus scans (r13 plan audit)
      val daily = graft.Tables.events(s, dir)
        .groupBy(col("event_type").as("g"), col("ts").cast("date").as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("sc"))
        .localCheckpoint()
      val sStat = daily.as("a")
        .join(daily.as("b"),
          col("a.g") === col("b.g") && col("a.day") < col("b.day"))
        .groupBy(col("a.g").as("g"))
        .agg(sum(when(col("b.sc") > col("a.sc"), 1L)
          .when(col("b.sc") < col("a.sc"), -1L).otherwise(0L)).as("s_stat"))
      val nd = daily.groupBy("g").agg(count(lit(1)).as("n_days"))
      val ties = daily.groupBy(col("g"), col("sc"))
        .agg(count(lit(1)).as("t"))
        .groupBy("g")
        .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tsum"))
      sStat.join(nd, "g").join(ties, "g")
        .withColumn("var18",
          expr("n_days * (n_days - 1) * (2 * n_days + 5) - tsum"))
        .select(col("g").as("event_type"), col("n_days"), col("s_stat"),
          col("var18"),
          (round(when(col("s_stat") === 0L, lit(0.0)).otherwise(
            (col("s_stat") - signum(col("s_stat"))) /
              sqrt(col("var18") / lit(18.0))), 4) + 0.0).as("z_r"))
        .orderBy("event_type")
    },

    // RAKING / IPF (r13): iterative proportional fitting of the
    // (event_type × weekday) contingency table to UNIFORM target
    // marginals — the survey-weighting / label-rebalancing primitive
    // (adjust cell weights so every arm and every weekday carries equal
    // mass without destroying the table's interaction structure). Two
    // full row+column rounds unrolled into a static plan (the emb_kmeans
    // discipline); every scale/divide is exact DECIMAL(38,0) integer
    // arithmetic with floor division, so both engines walk the identical
    // fixed-point trajectory — no float ever enters. Weekday is epoch-day
    // mod 7 (engine-portable; no locale-dependent dayofweek). Scale
    // shape: ONE corpus aggregate to the |arms|×7 ledger; all four
    // marginal-scaling windows partition over ≤ 7-row frames of that
    // ledger. The raked weight stays in count·10⁶ units (raked_us).
    "agg_raking" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val cells = graft.Tables.events(s, dir)
        .select(col("event_type").as("et"),
          pmod(datediff(col("ts").cast("date"), lit("1970-01-01")), lit(7))
            .cast("long").as("wd"))
        .groupBy("et", "wd").agg(count(lit(1)).as("c"))
        .localCheckpoint() // ≤ arms×7 rows, read by the totals and the rake
      val tot = cells.agg(sum(col("c")).as("t"),
        countDistinct(col("et")).as("nr"), countDistinct(col("wd")).as("ncl"))
      val wr = Window.partitionBy("et")
      val wc = Window.partitionBy("wd")
      cells.crossJoin(broadcast(tot))
        .withColumn("w0", expr("CAST(c AS DECIMAL(38,0)) * 1000000"))
        .withColumn("tr", expr("(CAST(t AS DECIMAL(38,0)) * 1000000) div nr"))
        .withColumn("tc", expr("(CAST(t AS DECIMAL(38,0)) * 1000000) div ncl"))
        // Spark's `div` yields BIGINT, so every product below must be
        // LIFTED back to DECIMAL(38,0) before multiplying — w1·tc as
        // Long×Long wraps at exactly sf0.1 magnitudes (caught by the
        // sf0.1 sweep; the OverflowSpec literal scan can't see a
        // column×column product).
        .withColumn("rs1", sum(col("w0")).over(wr))
        .withColumn("w1", expr("(w0 * tr) div rs1"))
        .withColumn("cs1", sum(col("w1")).over(wc))
        .withColumn("w2", expr("(CAST(w1 AS DECIMAL(38,0)) * tc) div cs1"))
        .withColumn("rs2", sum(col("w2")).over(wr))
        .withColumn("w3", expr("(CAST(w2 AS DECIMAL(38,0)) * tr) div rs2"))
        .withColumn("cs2", sum(col("w3")).over(wc))
        .withColumn("w4", expr("(CAST(w3 AS DECIMAL(38,0)) * tc) div cs2"))
        .select(col("et").as("event_type"), col("wd").as("weekday"),
          col("c").as("n"), col("w4").cast("long").as("raked_us"))
        .orderBy("event_type", "weekday")
    },

    // is exact integer ppm, and the Benford expectation is a literal
    // per-digit table (log10(1+1/d) pre-rounded to ppm) so no
    // transcendental function crosses the oracle. One map-side-combined
    // 9-group hash aggregate.
    "agg_benford" -> { (s, dir) =>
      val benford = Map(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
        4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L,
        8 -> 51153L, 9 -> 45757L)
      val expect = benford.foldLeft(lit(0L)) { case (acc, (d, p)) =>
        when(col("digit") === d.toString, p).otherwise(acc)
      }
      Tables.lineitem(s, dir)
        .select(substring(
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").cast("string"),
          1, 1).as("digit"))
        .groupBy("digit")
        .agg(count(lit(1)).as("n"))
        .withColumn("total", sum(col("n")).over())
        .select(col("digit"), col("n"),
          expr("(n * 1000000L) div total").as("obs_ppm"),
          expect.as("benford_ppm"),
          (expr("(n * 1000000L) div total") - expect).as("dev_ppm"))
        .orderBy("digit")
    },

    // WILSON CONFIDENCE INTERVALS (r10): the experimentation-analytics
    // primitive — per-arm success-rate estimates with 95 % Wilson score
    // bounds (the interval that stays sane at small n and extreme p,
    // unlike the normal approximation). Success = value > 50 (≈ the
    // median of the exponential-ish value column — a threshold above the
    // observed max would make every cell degenerate) over each
    // event-type arm. One map-side-combined hash aggregate collects
    // (n, successes); the interval arithmetic is a closed-form scalar
    // projection over the 5-row ledger — nothing but the two counts ever
    // shuffles, at any corpus size. Edge behavior (r11 note): Wilson is
    // total on its domain — n ≥ 1 for any grouped row, and at p ∈ {0, 1}
    // the radicand reduces to z²/4n² > 0 exactly (p·(1−p) is exactly 0.0
    // in IEEE, never negative), so no guard is needed; both engines
    // evaluate the identical closed form.
    "agg_ratio_ci" -> { (s, dir) =>
      val z2 = 3.8416 // z² for z = 1.96
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > 50.0, 1L).otherwise(0L)).as("n_succ"))
        .withColumn("p", col("n_succ").cast("double") / col("n"))
        .select(
          col("event_type"), col("n"), col("n_succ"),
          round(col("p"), 4).as("p_r"),
          round((col("p") + lit(z2) / (lit(2.0) * col("n"))
            - lit(1.96) * sqrt(col("p") * (lit(1.0) - col("p")) / col("n")
              + lit(z2) / (lit(4.0) * col("n") * col("n"))))
            / (lit(1.0) + lit(z2) / col("n")), 4).as("ci_lo_r"),
          round((col("p") + lit(z2) / (lit(2.0) * col("n"))
            + lit(1.96) * sqrt(col("p") * (lit(1.0) - col("p")) / col("n")
              + lit(z2) / (lit(4.0) * col("n") * col("n"))))
            / (lit(1.0) + lit(z2) / col("n")), 4).as("ci_hi_r"))
        .orderBy("event_type")
    },

    // ONE-WAY ANOVA (r10): does the event type explain the value? The
    // classic variance decomposition — between-group (SSB) vs
    // within-group (SSW) sum of squares and the F statistic — computed
    // from ONE grouped pass collecting (n, Σx, Σx²) per arm and a 5-row
    // combine: SSW_g = Σx² − (Σx)²/n needs no second data pass, so the
    // full decomposition is two stacked hash aggregates at any corpus
    // size (the textbook two-pass mean-then-deviation formulation would
    // re-scan 100 TB).
    "agg_anova" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).cast("double").as("ng"),
          sum(col("value")).as("sg"),
          sum(col("value") * col("value")).as("qg"))
        .agg(
          count(lit(1)).as("k"),
          sum(col("ng")).cast("long").as("n"),
          round(sum(col("qg")) - sum(col("sg")) * sum(col("sg")) / sum(col("ng")), 2)
            .as("sst_r"),
          round(sum(col("qg")) - sum(col("sg") * col("sg") / col("ng")), 2).as("ssw_r"),
          round(sum(col("sg") * col("sg") / col("ng"))
            - sum(col("sg")) * sum(col("sg")) / sum(col("ng")), 2).as("ssb_r"),
          round(((sum(col("sg") * col("sg") / col("ng"))
            - sum(col("sg")) * sum(col("sg")) / sum(col("ng")))
            / (count(lit(1)) - 1))
            / ((sum(col("qg")) - sum(col("sg") * col("sg") / col("ng")))
              / (sum(col("ng")) - count(lit(1)))), 4).as("f_r"))
    },

    // CHI-SQUARED INDEPENDENCE (r10): is the success indicator
    // (value > 50, the same median-ish cut as agg_ratio_ci) independent
    // of the event type? The categorical
    // sibling of `agg_anova`: one grouped pass collects the 5×2
    // contingency table as (n, successes) per arm, then
    // χ² = Σ (O−E)²/E over all ten cells from the 5-row ledger —
    // expected counts derive from the row/column margins, so again no
    // second data pass. Exact integer observed counts; only the final
    // statistic is floating point, rounded once.
    "agg_chi2" -> { (s, dir) =>
      val g = Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > 50.0, 1L).otherwise(0L)).as("sx"))
      val tot = g.agg(sum(col("n")).as("nn"), sum(col("sx")).as("ss"))
      // (O − E)²/E for the success + failure cell of each arm, expected
      // counts from the margins: E_s = n_g·S/N, E_f = n_g·(N−S)/N.
      // r14 plan-audit lift: n·S is a count×count Long product that wraps
      // past 9.2e18 (3e9 rows in one arm × 3e9 global successes — live at
      // 100 TB). The consumer is double division anyway, so the multiply
      // starts on the double path: exact below 2⁵³ and merely rounded —
      // never wrapped — beyond.
      val es = col("n").cast("double") * col("ss") / col("nn")
      val ef = col("n").cast("double") * (col("nn") - col("ss")) / col("nn")
      // Degenerate-margin guard (r11): when the success indicator is
      // globally all-true or all-false, every es or ef is 0 and χ² is
      // undefined — emit NULL (the oracle's CASE emits the same NULL, so
      // the check stays exact on any fixture instead of relying on the
      // shipped data having both outcomes).
      g.crossJoin(broadcast(tot))
        .agg(
          count(lit(1)).as("k"),
          min(col("nn")).as("n_total"),
          min(col("ss")).as("n_succ_total"),
          when(min(col("ss")) > 0 && min(col("nn") - col("ss")) > 0,
            round(sum((col("sx") - es) * (col("sx") - es) / es
              + (col("n") - col("sx") - ef) * (col("n") - col("sx") - ef) / ef), 4))
            .as("chi2_r"))
    },

    // ONE-PASS HIGHER MOMENTS (r11): skewness + excess kurtosis per event
    // type from EXACT integer power sums — the engine-portable route
    // around Spark's vs DuckDB's differing skewness/kurtosis definitions
    // (sample vs population corrections differ, so the built-ins can
    // never hash-match). Value cents c ≤ 49 002, so c⁴ < 2⁶³ per row and
    // the Σc^k ride DECIMAL(38,0) sums — exact and
    // summation-order-independent where double power sums would drift
    // under Spark's partial-agg ordering. Central moments and the
    // standardized statistics are then closed-form doubles from exact
    // inputs; m2^1.5 is written m2·√m2 (sqrt is correctly rounded IEEE;
    // pow's last-ulp behavior differs across libms). One
    // map-side-combined aggregate at any corpus size.
    "agg_moments" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val c = floor(col("value") * 100 + 0.5).cast("long")
      // Every power product rides DECIMAL(38,0) FROM THE FIRST multiply
      // (r12, caught by the full sf0.1 sweep): the r11 form multiplied
      // c²·c² in Int64 before the decimal cast, which wraps silently in
      // Spark once c ≥ 55 110 cents (c⁴ > 2⁶³ — values ≥ $551 exist at
      // sf0.1) while DuckDB raises on the same product — exactly the
      // engine-divergence class the ADVICE flagged, one level deeper.
      val cD = c.cast(d38)
      val m = graft.Tables.events(s, dir)
        .select(col("event_type"), c.as("c"), cD.as("cd"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("cd")).as("s1"),
          sum(col("cd") * col("c")).as("s2"),
          sum(col("cd") * col("c") * col("c")).as("s3"),
          sum(col("cd") * col("c") * col("c") * col("c")).as("s4"))
      val nD = col("n").cast("double")
      val mu = col("s1").cast("double") / nD
      val m2 = col("s2").cast("double") / nD - mu * mu
      val m3 = col("s3").cast("double") / nD - lit(3.0) * mu * (col("s2").cast("double") / nD) +
        lit(2.0) * mu * mu * mu
      val m4 = col("s4").cast("double") / nD - lit(4.0) * mu * (col("s3").cast("double") / nD) +
        lit(6.0) * mu * mu * (col("s2").cast("double") / nD) - lit(3.0) * mu * mu * mu * mu
      m.select(col("event_type"), col("n"),
          round(mu, 4).as("mean_c_r"),
          (round(m3 / (m2 * sqrt(m2)), 4) + 0.0).as("skew_r"),
          (round(m4 / (m2 * m2) - 3.0, 4) + 0.0).as("exkurt_r"))
        .orderBy("event_type")
    },

    // JARQUE–BERA NORMALITY TEST (r18): the one-number "is this column
    // Gaussian" screen — JB = n/6·(S² + K²/4) over skewness S and excess
    // kurtosis K (χ²₂ under normality) — per market segment over account
    // balances, the classic near-symmetric-but-uniform fixture (JB
    // rejects on kurtosis, not skew). Same exact-power-sum discipline as
    // agg_moments, on a column agg_moments doesn't touch: balances are
    // SIGNED cents up to |c| ≈ 10⁶, so c⁴ ≈ 10²⁴ forces DECIMAL(38,0)
    // from the FIRST multiply (the r12 lesson — Int64 wraps silently at
    // c ≥ 55 110 where DuckDB raises). Central moments and JB are
    // closed-form doubles from the exact sums, identical expression text
    // in the oracle; the zero-variance degenerate (all balances equal in
    // a segment) gates on the EXACT integer test n·s2 − s1² > 0, where a
    // double-side m2 > 0 could disagree between engines. One map-side-
    // combined aggregate at any corpus size.
    "agg_jarque_bera" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val c = floor(col("c_acctbal") * 100 + 0.5).cast("long")
      val cD = c.cast(d38)
      val m = graft.Tables.customer(s, dir)
        .select(col("c_mktsegment").as("g"), c.as("c"), cD.as("cd"))
        .groupBy("g")
        .agg(count(lit(1)).as("n"),
          sum(col("cd")).as("s1"),
          sum(col("cd") * col("c")).as("s2"),
          sum(col("cd") * col("c") * col("c")).as("s3"),
          sum(col("cd") * col("c") * col("c") * col("c")).as("s4"))
      val nD = col("n").cast("double")
      val mu = col("s1").cast("double") / nD
      val r2 = col("s2").cast("double") / nD
      val r3 = col("s3").cast("double") / nD
      val r4 = col("s4").cast("double") / nD
      val m2 = r2 - mu * mu
      val m3 = r3 - lit(3.0) * mu * r2 + lit(2.0) * mu * mu * mu
      val m4 = r4 - lit(4.0) * mu * r3 + lit(6.0) * mu * mu * r2 -
        lit(3.0) * mu * mu * mu * mu
      val sk = m3 / (m2 * sqrt(m2))
      val ek = m4 / (m2 * m2) - lit(3.0)
      m.select(col("g"), col("n"),
          (round(when(
            expr("CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1 > 0"),
            nD / lit(6.0) * (sk * sk + ek * ek / lit(4.0))), 4)
            + lit(0.0)).as("jb_r"))
        .orderBy("g")
    },

    // HERFINDAHL–HIRSCHMAN INDEX (r11): source concentration per language
    // over the document corpus — the mix-diversity number a curation
    // dashboard tracks next to the Gini (HHI = Σ share², 10⁶·Σn_s²/N² in
    // exact integer ppm; 10 000 ppm = perfectly even across 100 sources,
    // 10⁶ = single-source). Two stacked map-side-combined aggregates;
    // output is O(languages).
    // Overflow discipline (r12, ADVICE): every data-sized product and sum
    // on the ppm path rides DECIMAL(38,0) (the agg_moments pattern) — the
    // r11 Int64 arithmetic silently wrapped at ~3 M rows per language
    // (n²·10⁶ > 2⁶³) while the DuckDB oracle raised, so the engines would
    // diverge exactly where it matters. `div` on decimals returns BIGINT,
    // so the output column (ppm ≤ 10⁶ by construction) is unchanged.
    "agg_hhi" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      graft.Tables.documents(s, dir)
        .groupBy("lang", "source").agg(count(lit(1)).as("ns"))
        .groupBy("lang")
        .agg(sum(col("ns")).as("n"), count(lit(1)).as("n_sources"),
          sum(col("ns").cast(d38) * col("ns").cast(d38)).as("s2"))
        .select(col("lang"), col("n"), col("n_sources"),
          expr("(s2 * CAST(1000000 AS DECIMAL(38,0))) div " +
            "(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))").as("hhi_ppm"))
        .orderBy("lang")
    },

    // KOLMOGOROV–SMIRNOV DRIFT (r11; r12 generalizes click-vs-purchase to
    // ALL PAIRS of arms — the real drift-dashboard shape, one KS row per
    // unordered event-type pair): the two-sample KS statistic between the
    // value distributions of every pair of arms. EXACT integers end to
    // end: D = max |F₁−F₂| is computed as max |cum₁·n₂ − cum₂·n₁| over
    // the BOUNDED-domain cents histogram (≤ ~49 k distinct values by
    // construction), reported in ppm via floor division; the argmax value
    // rides a max-struct with a deterministic smallest-v tie-break.
    // Scale shape: the events table is scanned ONCE (the (arm, cents)
    // histogram — map-side-combined); everything after operates on that
    // domain-bounded artifact: the 10-row pair table broadcasts onto it
    // (≤ arms−1 copies per histogram row), the cumulative windows
    // partition by pair over ≤ arms²·domain rows, so per-task state and
    // all post-scan work are bounded by the VALUE DOMAIN and arm count,
    // never the corpus. Products and the ppm scaling ride DECIMAL(38,0)
    // (r12, ADVICE): in Int64, cum1·n2 wraps once n1·n2 > 2⁶³ and d·10⁶ a
    // million times earlier (~3 M rows per arm), silently in Spark vs an
    // error in DuckDB. ppm output stays BIGINT via decimal `div`.
    "agg_ks_drift" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // Served from the session drift-histogram artifact (r12): the only
      // corpus scan happened once at [[driftHist]] build; every subtree
      // below operates on the ≤ arms·domain checkpoint. Per-pair totals
      // derive from the per-arm totals directly, so the pair-expanded
      // table `hp` has exactly ONE consumer (the cumulative window).
      val h = driftHist(s, dir)
      val pairs = armPairs(s, dir)
      // r20 A/B (the r19 verdict's #6 ask): ONE exchange — repartition by
      // (pa, pb) right after the broadcast pair expansion; HashPartitioning
      // on a PREFIX of the aggregate keys satisfies the (pa, pb, v)
      // clustering AND the window's (pa, pb) partitioning, so the pair
      // aggregate and the cumulative window ride the same shuffle.
      val nParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val hp = h.join(broadcast(pairs), col("et") === col("pa") || col("et") === col("pb"))
        .repartition(nParts, col("pa"), col("pb"))
        .groupBy("pa", "pb", "v")
        .agg(sum(when(col("et") === col("pa"), col("c")).otherwise(0L)).as("c1"),
          sum(when(col("et") === col("pb"), col("c")).otherwise(0L)).as("c2"))
      val w = Window.partitionBy("pa", "pb").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = hp.select(col("pa"), col("pb"), col("v"),
        sum(col("c1")).over(w).as("cum1"), sum(col("c2")).over(w).as("cum2"))
      val totals = h.groupBy("et").agg(sum(col("c")).as("n"))
      val tot = pairs
        .join(broadcast(totals.select(col("et").as("pa"), col("n").as("n1"))), "pa")
        .join(broadcast(totals.select(col("et").as("pb"), col("n").as("n2"))), "pb")
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      cum.join(broadcast(tot), Seq("pa", "pb"))
        .select(col("pa"), col("pb"), col("n1"), col("n2"),
          abs(col("cum1").cast(d38) * col("n2").cast(d38)
            - col("cum2").cast(d38) * col("n1").cast(d38)).as("d"),
          col("v"))
        .groupBy("pa", "pb", "n1", "n2")
        .agg(max(struct(col("d"), (-col("v")).as("nv"))).as("b"))
        .select(col("pa").as("arm_a"), col("pb").as("arm_b"),
          col("n1").as("n_a"), col("n2").as("n_b"),
          expr("(b.d * CAST(1000000 AS DECIMAL(38,0))) div " +
            "(CAST(n1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0)))").as("ks_ppm"),
          (-col("b.nv")).as("ks_at_cents"))
        // r19: materialize the bounded pair-grain result before the
        // final sort — the range exchange's sampling pass otherwise
        // re-executes the whole post-shuffle segment (pair window +
        // joins + aggregate) a second time (r20: via FinalSort).
        .transform(d => FinalSort.bounded(d, col("arm_a"), col("arm_b")))
    },

    // MANN–WHITNEY U (r11; r12: ALL PAIRS of arms, like `agg_ks_drift`) —
    // the rank-sum test between every pair of arms, the nonparametric
    // "did the distribution shift" sibling of the KS screen that weighs
    // the whole ordering, not just the worst gap. Midrank arithmetic
    // stays in EXACT integers by carrying 2·R₁: a value v with c₁ group-1
    // members among c = c₁+c₂ ties after `cum` smaller items contributes
    // c₁·(2·cum + c + 1) to 2·R₁, so 2U₁ = 2R₁ − n₁(n₁+1) is exact and
    // tie-order-proof. The z normalization (no tie correction —
    // documented) is a closed-form double from exact integers, rounded
    // once. Same one-scan histogram + broadcast pair expansion as
    // `agg_ks_drift`; everything after the scan is bounded by
    // arms²·domain. The rank sum rides DECIMAL(38,0) (r12, ADVICE —
    // c1·cum ~ n² wraps Int64 at ~3·10⁹ rows in Spark while DuckDB
    // raises). The reported u1_x2 is itself ~n²: its BIGINT
    // representation is exact for n1+n2 ≤ ~3·10⁹ rows per pair
    // (documented output-domain bound; beyond it Spark's decimal→long
    // cast nulls rather than wrapping, and the oracle's HUGEINT→BIGINT
    // cast errors — a loud failure either way, never silent divergence).
    // The z statistic derives from the exact decimal before any cast.
    "agg_mannwhitney" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = driftHist(s, dir) // the session histogram artifact (r12)
      val pairs = armPairs(s, dir)
      // r20: one-exchange harness — see agg_ks_drift's note.
      val nParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val hp = h.join(broadcast(pairs), col("et") === col("pa") || col("et") === col("pb"))
        .repartition(nParts, col("pa"), col("pb"))
        .groupBy("pa", "pb", "v")
        .agg(sum(when(col("et") === col("pa"), col("c")).otherwise(0L)).as("c1"),
          sum(when(col("et") === col("pb"), col("c")).otherwise(0L)).as("c2"))
      val w = Window.partitionBy("pa", "pb").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = hp
        .withColumn("cum", coalesce(sum(col("c1") + col("c2")).over(w), lit(0L)))
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val r = cum.groupBy("pa", "pb").agg(
        sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1").cast(d38) *
            (lit(2L) * col("cum") + col("c1") + col("c2") + 1L).cast(d38))
          .as("r1x2"))
      val u2x = col("r1x2") - col("n1").cast(d38) * (col("n1") + 1L).cast(d38)
      val nD = col("n1").cast("double") * col("n2").cast("double")
      val z = (u2x.cast("double") / 2.0 - nD / 2.0) /
        sqrt(nD * (col("n1") + col("n2") + 1L).cast("double") / 12.0)
      r.select(col("pa").as("arm_a"), col("pb").as("arm_b"),
        col("n1").as("n_a"), col("n2").as("n_b"),
        u2x.cast("long").as("u1_x2"), (round(z, 4) + 0.0).as("z_r"))
        // r19: materialize the bounded pair-grain result before the
        // final sort — the range exchange's sampling pass otherwise
        // re-executes the whole post-shuffle segment (pair window +
        // joins + aggregate) a second time (r20: via FinalSort).
        .transform(d => FinalSort.bounded(d, col("arm_a"), col("arm_b")))
    },

    // BRUNNER–MUNZEL (r19): the heteroscedastic upgrade of the rank-sum
    // screen — Mann–Whitney's z assumes equal variances under the null;
    // Brunner–Munzel studentizes the rank difference with EACH sample's
    // own rank variance (the Behrens–Fisher situation in ranks), the
    // test modern A/B practice reaches for when arms differ in spread.
    // W = n₁n₂(R̄₂ − R̄₁) / ((n₁+n₂)·√(n₁S₁² + n₂S₂²)) with
    // S_i² = Σ(R − R*_i − R̄_i + (n_i+1)/2)²/(n_i−1), plus the effect
    // size p̂ = (R̄₂ − (n₂+1)/2)/n₁ (P(X₁ < X₂) + ½·ties).
    //
    // Everything stays EXACT at the value grain by the doubled-midrank
    // trick, with two identities doing the work: (a) the combined-minus-
    // within rank difference collapses to the OTHER group's prefix —
    // 2(R − R*₁)(v) = 2·cum₂ + c₂ ≡ A₁ — so no second within-group
    // ranking pass exists; (b) the centered square expands so the
    // unknown-at-row-time constants (n_i+1 and R̄_i) factor out:
    // with C = A + n_i + 1,  n_i·ΣcC² − 2P_iΣcC + P_i²  =
    // 4·n_i(n_i−1)·S_i² exactly, needing only ΣcA, ΣcA², P_i = Σc·2R —
    // three DECIMAL(38,0) ledger sums (magnitudes ≲ 1e24, well inside
    // 38 digits). The zero-variance degenerate (every value tied within
    // both arms) is the exact integer gate V₁ + V₂ > 0; n_i ≤ 1 NULLs.
    // Same one-scan histogram + broadcast pair expansion as the KS/MW
    // screens; everything after the scan is bounded by arms²·domain.
    "agg_brunner_munzel" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = driftHist(s, dir)
      val pairs = armPairs(s, dir)
      // r20: one-exchange harness — see agg_ks_drift's note.
      val nParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val hp = h.join(broadcast(pairs), col("et") === col("pa") || col("et") === col("pb"))
        .repartition(nParts, col("pa"), col("pb"))
        .groupBy("pa", "pb", "v")
        .agg(sum(when(col("et") === col("pa"), col("c")).otherwise(0L)).as("c1"),
          sum(when(col("et") === col("pb"), col("c")).otherwise(0L)).as("c2"))
      val w = Window.partitionBy("pa", "pb").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val cum = hp
        .withColumn("cum1", coalesce(sum(col("c1")).over(w), lit(0L)))
        .withColumn("cum2", coalesce(sum(col("c2")).over(w), lit(0L)))
        .select(col("pa"), col("pb"), col("c1"), col("c2"),
          (lit(2L) * (col("cum1") + col("cum2")) + col("c1") + col("c2") + 1L)
            .cast(d38).as("r2"),
          (lit(2L) * col("cum2") + col("c2")).cast(d38).as("a1"),
          (lit(2L) * col("cum1") + col("c1")).cast(d38).as("a2"))
      val r = cum.groupBy("pa", "pb").agg(
        sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1").cast(d38) * col("r2")).as("p1"),
        sum(col("c2").cast(d38) * col("r2")).as("p2"),
        sum(col("c1").cast(d38) * col("a1")).as("sa1"),
        sum(col("c1").cast(d38) * col("a1") * col("a1")).as("sq1"),
        sum(col("c2").cast(d38) * col("a2")).as("sa2"),
        sum(col("c2").cast(d38) * col("a2") * col("a2")).as("sq2"))
      r.select(col("pa").as("arm_a"), col("pb").as("arm_b"),
          col("n1").as("n_a"), col("n2").as("n_b"),
          expr(
            "CAST(n1 AS DECIMAL(38,0)) * (sq1 + 2 * (n1 + 1) * sa1" +
              " + CAST(n1 + 1 AS DECIMAL(38,0)) * (n1 + 1) * n1)" +
              " - 2 * p1 * (sa1 + CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)) + p1 * p1")
            .as("v1"),
          expr(
            "CAST(n2 AS DECIMAL(38,0)) * (sq2 + 2 * (n2 + 1) * sa2" +
              " + CAST(n2 + 1 AS DECIMAL(38,0)) * (n2 + 1) * n2)" +
              " - 2 * p2 * (sa2 + CAST(n2 AS DECIMAL(38,0)) * (n2 + 1)) + p2 * p2")
            .as("v2"),
          col("p1"), col("p2"))
        .select(col("arm_a"), col("arm_b"), col("n_a"), col("n_b"),
          (round(expr(
            "CASE WHEN n_a > 1 AND n_b > 1 THEN " +
              "(CAST(p2 AS DOUBLE) / (2.0 * n_b) - (n_b + 1) / 2.0) / n_a END"), 4)
            + lit(0.0)).as("p_hat_r"),
          (round(expr(
            "CASE WHEN n_a > 1 AND n_b > 1 AND v1 + v2 > 0 THEN " +
              "CAST(n_a AS DOUBLE) * n_b" +
              " * (CAST(p2 AS DOUBLE) / (2.0 * n_b) - CAST(p1 AS DOUBLE) / (2.0 * n_a))" +
              " / ((CAST(n_a AS DOUBLE) + n_b)" +
              " * sqrt(CAST(n_a AS DOUBLE) * (CAST(v1 AS DOUBLE) / (4.0 * n_a * (n_a - 1)))" +
              " + CAST(n_b AS DOUBLE) * (CAST(v2 AS DOUBLE) / (4.0 * n_b * (n_b - 1))))) END"), 4)
            + lit(0.0)).as("w_bm_r"))
        // r19: materialize the bounded pair-grain result before the
        // final sort — the range exchange's sampling pass otherwise
        // re-executes the whole post-shuffle segment (pair window +
        // joins + aggregate) a second time (r20: via FinalSort).
        .transform(d => FinalSort.bounded(d, col("arm_a"), col("arm_b")))
    },

    // POPULATION STABILITY INDEX (r12): the third face of the drift
    // dashboard — KS reports the worst CDF gap, Mann–Whitney the rank
    // shift, PSI the industry-standard binned divergence
    // Σ (pᵃ−pᵇ)·ln(pᵃ/pᵇ) that risk/data-quality dashboards alarm on
    // (rule of thumb: > 0.1 drifting, > 0.25 shifted). Same all-pairs
    // one-scan harness as `agg_ks_drift`: the (arm, cents) histogram is
    // the only corpus pass; bins are 10 equal-width integer slices of
    // the GLOBAL cents range (exact integer bin ids — both engines floor
    // the same product), counts are Laplace-smoothed (+1 per bin, +10
    // per arm) so empty bins stay finite without float clamps, and the
    // 10 per-bin terms fold in ascending bin order via a sorted-array
    // aggregate — a deterministic float summation (the text_entropy
    // discipline) rounded once at 4dp.
    "agg_psi_drift" -> { (s, dir) =>
      // Binned form of the session drift histogram (r12): every v is
      // present in the cents histogram, so min/max and the 10-bin
      // re-binning derive from the checkpoint, never the corpus.
      val h0 = driftHist(s, dir)
      val bounds = h0.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      val binned = h0.crossJoin(broadcast(bounds))
        .select(col("et"),
          least(lit(9L), expr("((v - lo) * 10) div (hi - lo + 1)")).as("b"),
          col("c"))
        .groupBy("et", "b").agg(sum(col("c")).as("c"))
      val pairs = armPairs(s, dir)
      val totals = binned.groupBy("et").agg(sum(col("c")).as("n"))
      // dense (pair, bin) grid: 10 bins per pair, missing counts 0
      val bins = binned.sparkSession.range(0, 10).select(col("id").as("b"))
      val grid = pairs.crossJoin(broadcast(bins))
        .join(binned.select(col("et").as("pa"), col("b"), col("c").as("ca")),
          Seq("pa", "b"), "left")
        .join(binned.select(col("et").as("pb"), col("b"), col("c").as("cb")),
          Seq("pb", "b"), "left")
        .join(broadcast(totals.select(col("et").as("pa"), col("n").as("na"))), "pa")
        .join(broadcast(totals.select(col("et").as("pb"), col("n").as("nb"))), "pb")
        .select(col("pa"), col("pb"), col("b"), col("na"), col("nb"),
          coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"))
      val p1 = (col("ca") + 1L).cast("double") / (col("na") + 10L).cast("double")
      val p2 = (col("cb") + 1L).cast("double") / (col("nb") + 10L).cast("double")
      val term = (p1 - p2) * log(p1 / p2)
      grid
        .select(col("pa"), col("pb"), col("na"), col("nb"),
          struct(col("b"), term.as("t")).as("bt"))
        .groupBy("pa", "pb", "na", "nb")
        .agg(aggregate(array_sort(collect_list(col("bt"))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("psi"))
        .select(col("pa").as("arm_a"), col("pb").as("arm_b"),
          col("na").as("n_a"), col("nb").as("n_b"),
          (round(col("psi"), 4) + 0.0).as("psi_r"))
        .orderBy("arm_a", "arm_b")
    },

    // GINI COEFFICIENT (r11): concentration of event value per event type
    // — the inequality statistic data-mix dashboards plot next to the
    // histogram. EXACT and 100 TB-shaped: value is 2-decimal, so the
    // (type, cents) pre-aggregate is a BOUNDED-domain histogram (≤ ~49 k
    // distinct cents by construction — the agg_weighted_median pattern),
    // and the (doubled) rank sum 2·Σ i·xᵢ folds over it without ever
    // sorting rows: a value v with c copies after `cum` smaller items
    // contributes v·c·(2·cum + c + 1) — ties contribute identically under
    // any internal order, so the statistic is deterministic. All exact
    // integer arithmetic in DECIMAL(38,0); G in exact ppm via the standard
    // (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx). Per-task window state is
    // O(distinct cents), never O(rows).
    "agg_gini" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = graft.Tables.events(s, dir)
        .select(col("event_type").as("g"),
          floor(col("value") * 100 + 0.5).cast("long").as("v"))
        .groupBy("g", "v").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("g").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      // r12 (ADVICE): the rank sum, Σv·c and every ppm product ride
      // DECIMAL(38,0) — the r11 Int64 path wrapped at ~10⁵-10⁶ rows per
      // type (ranksum·10⁶ ~ avg_cents·n²·10⁶) while DuckDB raised. The
      // DOUBLED rank sum Σ v·c·(2·cum + c + 1) = 2·Σ i·xᵢ replaces the
      // halved form (c(c+1)/2 needs an even/odd split to divide exactly
      // in decimals; doubling both numerator terms — Gauss's trick, as in
      // agg_mannwhitney — keeps every step integral): G·ppm =
      // (ranksum2 − (n+1)·s)·10⁶ div (n·s), identical values, BIGINT out.
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      h.withColumn("cum", coalesce(sum(col("c")).over(w), lit(0L)))
        .groupBy("g")
        .agg(
          sum(col("v").cast(d38) * col("c").cast(d38) *
            (lit(2L) * col("cum") + col("c") + 1L).cast(d38)).as("ranksum2"),
          sum(col("v").cast(d38) * col("c").cast(d38)).as("s"),
          sum(col("c")).as("n"))
        .select(col("g").as("event_type"), col("n"),
          expr("((ranksum2 - (CAST(n AS DECIMAL(38,0)) + 1) * s) " +
            "* CAST(1000000 AS DECIMAL(38,0))) div (CAST(n AS DECIMAL(38,0)) * s)")
            .as("gini_ppm"))
        .orderBy("event_type")
    },

    // THEIL INDEX (r12): the decomposable inequality measure — the
    // companion to agg_gini that, unlike Gini, splits exactly into
    // within-group + between-group terms, which is why curation
    // dashboards prefer it for "is the value skew coming from inside an
    // arm or across arms?". T = (1/n)·Σ (xᵢ/μ)·ln(xᵢ/μ) over integer
    // cents, rewritten as (Σ cᵢ·ln(cᵢ·n/s)) / s so the only float is the
    // per-row logarithm. House float rule: each row's term is rounded to
    // integer NANOS before the sum (order-independent — Spark's partial
    // aggregation cannot move the result), and the final normalization
    // is integer division; the total is ≥ 0 by Jensen, so truncating
    // `div` and floor `//` agree. ln's argument is computed
    // double-first (CAST(c AS DOUBLE)·n/s) identically on both engines.
    // Scale shape: one map-side-combined aggregate for the 5-row group
    // totals, broadcast back, one more hash aggregate — two linear
    // scans, no window, no O(n²). A value that quantizes to 0 cents
    // contributes 0 — the x·ln(x) → 0 limit convention, and required:
    // at sf0.1 the corpus DOES hold sub-half-cent values, where DuckDB's
    // ln(0) raises while Spark's returns NULL (silent divergence).
    "agg_theil" -> { (s, dir) =>
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      val rows = Tables.events(s, dir)
        .select(col("event_type").as("g"), cents.as("c"))
      val tot = rows.groupBy("g")
        .agg(sum(col("c")).as("sv"), count(lit(1)).as("n"))
      rows.join(broadcast(tot), "g")
        .withColumn("t_ns",
          when(col("c") === 0L, lit(0L))
            .otherwise(round(col("c").cast("double")
              * log(col("c").cast("double") * col("n") / col("sv")) * 1e9)
              .cast("long")))
        .groupBy("g")
        .agg(sum(col("t_ns")).as("sum_ns"),
          min(col("n")).as("n"), min(col("sv")).as("sv"))
        .select(col("g").as("event_type"), col("n"),
          expr("sum_ns div sv").as("theil_ns"))
        .orderBy("event_type")
    },

    // POISSON BOOTSTRAP CI (r12): the resampling technique that actually
    // works at 100 TB — a classical bootstrap draws n rows WITH
    // replacement per replicate (a global shuffle per replicate, n·B
    // rows moved); the Poisson bootstrap instead gives every row an
    // independent Poisson(1) replicate weight, which is exact in the
    // n→∞ limit and needs ONE linear pass. Weights are deterministic
    // and engine-portable: TWO md5s per row ("boot:<event_id>:0"/":1",
    // 64 hex chars) yield one byte per replicate — replicate b reads
    // chars (2b−1, 2b), uniform on 0..255 → the quantized-Poisson(1)
    // inverse-CDF table (94/94/47/16/5 out of 256 ≈ e⁻¹/e⁻¹/e⁻¹/2/…,
    // mean 1.004), the same salted-md5 device as
    // pipeline_train_val_split, so retries, partitioning and engines
    // all agree. Replicate means are exact
    // integer ppm-cents riding DECIMAL(38,0)/HUGEINT (house overflow
    // rule); the CI is RANK-BASED — 2nd smallest / 2nd largest of the
    // B = 32 sorted replicate means (a ~93.75 % interval) — because
    // percentile INTERPOLATION is exactly the cross-engine float
    // hazard this file exists to avoid. Scale shape (r16): the B
    // replicates live in ARRAY SLOTS of one aggregate, not in exploded
    // rows — per row the 32 weights come off the shared digest and
    // feed 32 conditional (Σwc, Σw) pairs plus the full-sample (Σc, n)
    // in a SINGLE map-side-combined pass, so the events scan is read
    // once, no row expansion exists anywhere in the plan (PlanSpec pins
    // zero Generate nodes), and the shuffle carries arms × 66 partials
    // instead of 32× the corpus. The r12→r15 explode-before-agg form
    // multiplied shuffle mass ×32; at 100 TB that is the difference
    // between one corpus pass and thirty-two.
    "agg_bootstrap_ci" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      val rows = Tables.events(s, dir)
        .select(col("event_type").as("g"), col("event_id"), cents.as("c"))
      // The 32 weights are materialized ONCE per row by the codegen'd
      // bootstrap_weights expression (digest bytes → inverse-CDF table,
      // no hex round-trip; bit-identical to the oracle's strpos form —
      // see BootstrapWeights.scala); the 64 aggregate slots read
      // element_at on the array (cheap long loads).
      val weighted = rows.withColumn("ws",
        graft.functions.BootstrapWeights.bootstrap_weights(
          col("event_id").cast("string")))
      val perPart: Seq[org.apache.spark.sql.Column] =
        (1 to 32).flatMap { b =>
          Seq(sum(element_at(col("ws"), b) * col("c")).as(s"swc_$b"),
            sum(element_at(col("ws"), b)).as(s"sw_$b"))
        } ++ Seq(sum(col("c")).as("sc"), count(lit(1)).as("n"))
      val partial = weighted
        .groupBy(col("g"), spark_partition_id().as("pid"))
        .agg(perPart.head, perPart.tail: _*)
      val aggs: Seq[org.apache.spark.sql.Column] =
        (1 to 32).flatMap { b =>
          Seq(sum(col(s"swc_$b").cast(d38)).as(s"swc_$b"),
            sum(col(s"sw_$b")).as(s"sw_$b"))
        } ++ Seq(sum(col("sc").cast(d38)).as("sc"), sum(col("n")).as("n"))
      val st = partial.groupBy("g").agg(aggs.head, aggs.tail: _*)
      // sw = 0 (an all-zero-weight replicate, plausible on tiny arms)
      // MUST be explicit: the sentinel 0 keeps the sorted array exactly
      // 32 elements on BOTH engines (conservatively widening the low
      // bound on a degenerate arm; identical CASE in the oracle).
      def slot(b: Int) =
        when(col(s"sw_$b") > 0L,
          expr(s"(swc_$b * CAST(1000000 AS DECIMAL(38,0))) " +
            s"div CAST(sw_$b AS DECIMAL(38,0))"))
          .otherwise(lit(0L).cast(d38))
      st.select(col("g").as("event_type"), col("n"),
          expr("(sc * CAST(1000000 AS DECIMAL(38,0))) " +
            "div CAST(n AS DECIMAL(38,0))").cast("long").as("mean_ppm"),
          sort_array(array((1 to 32).map(slot): _*)).as("ms"))
        .select(col("event_type"), col("n"), col("mean_ppm"),
          element_at(col("ms"), 2).cast("long").as("boot_lo_ppm"),
          element_at(col("ms"), 31).cast("long").as("boot_hi_ppm"))
        .orderBy("event_type")
    },

    // WELCH'S T-TEST (r12): the workhorse two-sample mean test every A/B
    // readout leads with (unequal variances assumed — pooled-variance
    // Student's t silently miscovers under variance imbalance), run over
    // ALL PAIRS of arms like the KS/Mann-Whitney drift dashboard. The
    // sufficient statistics (n, Σc, Σc²) come from ONE map-side-combined
    // pass in exact DECIMAL(38,0) integer cents (the agg_moments
    // pattern); t and the Welch–Satterthwaite df are closed-form doubles
    // from those exact inputs, written as the IDENTICAL expression both
    // engines evaluate (÷, ×, √ are all correctly-rounded IEEE ops, so
    // the only cross-engine float step is deterministic), rounded last.
    // 10 output rows; nothing after the scan touches data.
    "agg_ttest_welch" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val c = floor(col("value") * 100 + 0.5).cast("long")
      val stats = Tables.events(s, dir)
        .select(col("event_type").as("et"), c.as("c"))
        .groupBy("et")
        .agg(count(lit(1)).as("n"),
          sum(col("c").cast(d38)).as("s1"),
          sum((col("c") * col("c")).cast(d38)).as("s2"))
      val pairs = armPairs(s, dir)
      def side(sfx: String) = stats.select(col("et").as(s"p$sfx"),
        col("n").as(s"n$sfx"), col("s1").as(s"s1$sfx"), col("s2").as(s"s2$sfx"))
      def muOf(sfx: String) =
        col(s"s1$sfx").cast("double") / col(s"n$sfx").cast("double")
      def vOf(sfx: String) =
        ((col(s"s2$sfx").cast("double")
          - col(s"s1$sfx").cast("double") * col(s"s1$sfx").cast("double")
            / col(s"n$sfx").cast("double"))
          / (col(s"n$sfx").cast("double") - 1.0))
      def vnOf(sfx: String) = vOf(sfx) / col(s"n$sfx").cast("double")
      pairs.join(broadcast(side("a")), "pa").join(broadcast(side("b")), "pb")
        .select(col("pa").as("arm_a"), col("pb").as("arm_b"),
          col("na").as("n_a"), col("nb").as("n_b"),
          (round((muOf("a") - muOf("b")) / sqrt(vnOf("a") + vnOf("b")), 4)
            + 0.0).as("t_r"),
          (round((vnOf("a") + vnOf("b")) * (vnOf("a") + vnOf("b"))
            / (vnOf("a") * vnOf("a") / (col("na").cast("double") - 1.0)
              + vnOf("b") * vnOf("b") / (col("nb").cast("double") - 1.0)), 2)
            + 0.0).as("df_welch_r"))
        .orderBy("arm_a", "arm_b")
    },

    // COHEN'S D (r15): the standardized effect size next to
    // agg_ttest_welch's significance — the number an experiment readout
    // actually acts on (a significant t with d ≈ 0.02 ships nothing).
    // Same shape as the t-test: ONE map-side-combined pass collects exact
    // DECIMAL(38,0) sufficient statistics (n, Σc, Σc²) per arm, the
    // all-pairs grid is a broadcast join of the ≤|arms| stat table, and
    // d = (μa − μb) / s_pooled with the pooled SD from the exact inputs —
    // closed-form IEEE ops evaluated identically by both engines, rounded
    // last, signed-zero canonicalized. 10 rows out; linear in events.
    "agg_cohens_d" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val c = floor(col("value") * 100 + 0.5).cast("long")
      val stats = Tables.events(s, dir)
        .select(col("event_type").as("et"), c.as("c"))
        .groupBy("et")
        .agg(count(lit(1)).as("n"),
          sum(col("c").cast(d38)).as("s1"),
          sum((col("c") * col("c")).cast(d38)).as("s2"))
      val pairs = armPairs(s, dir)
      def side(sfx: String) = stats.select(col("et").as(s"p$sfx"),
        col("n").as(s"n$sfx"), col("s1").as(s"s1$sfx"), col("s2").as(s"s2$sfx"))
      def nOf(sfx: String) = col(s"n$sfx").cast("double")
      def muOf(sfx: String) = col(s"s1$sfx").cast("double") / nOf(sfx)
      // (n−1)·sample variance = Σc² − (Σc)²/n, straight from the exact sums
      def ssOf(sfx: String) =
        col(s"s2$sfx").cast("double") -
          col(s"s1$sfx").cast("double") * col(s"s1$sfx").cast("double") / nOf(sfx)
      val sPooled = sqrt((ssOf("a") + ssOf("b")) / (nOf("a") + nOf("b") - 2.0))
      pairs.join(broadcast(side("a")), "pa").join(broadcast(side("b")), "pb")
        .select(col("pa").as("arm_a"), col("pb").as("arm_b"),
          col("na").as("n_a"), col("nb").as("n_b"),
          (round(sPooled / 100.0, 4) + 0.0).as("sd_pooled_r"),
          (round((muOf("a") - muOf("b")) / sPooled, 4) + 0.0).as("cohens_d_r"))
        .orderBy("arm_a", "arm_b")
    },

    // CRAMÉR'S V (r12): strength of association of the event_type ×
    // weekday contingency table — the r×c generalization of agg_chi2's
    // 2×k test ("is behavior day-of-week dependent, and how much").
    // The FULL grid (row-margin × col-margin cross join of two tiny
    // broadcast tables, observed cells left-joined in) keeps
    // zero-observed cells in the χ² where a groupBy alone would drop
    // them. Exactness: each cell contributes the integer ppm
    // floor((o·N − r·c)²·10⁶ / (N·r·c)) — floor BEFORE the sum, so the
    // total is an integer sum, order-independent under partial-agg
    // reordering where a double χ² would carry a last-ulp hazard. The
    // numerator rides DECIMAL(38,0) (house rule): (o·N)² stays inside
    // 38 digits up to N ≈ 3·10⁹ events — documented bound, beyond which
    // the double path of agg_chi2 applies; Spark would null, DuckDB
    // raise, neither silently diverges. V itself is then one
    // closed-form double from exact integers. Scale: one map-side
    // combined aggregate to the ≤ |types|×7 cell domain; everything
    // after is broadcast-sized.
    "agg_cramers_v" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val cells = Tables.events(s, dir)
        .groupBy(col("event_type").as("et"), weekday(col("ts")).cast("long").as("dw"))
        .agg(count(lit(1)).as("o0"))
      val rm = cells.groupBy("et").agg(sum(col("o0")).as("r"))
      val cm = cells.groupBy("dw").agg(sum(col("o0")).as("c"))
      val grid = broadcast(rm).crossJoin(broadcast(cm))
        .join(cells, Seq("et", "dw"), "left")
        .withColumn("o", coalesce(col("o0"), lit(0L)))
      val tot = rm.agg(sum(col("r")).as("nn"), count(lit(1)).as("k"))
        .crossJoin(cm.agg(count(lit(1)).as("l")))
      grid.crossJoin(broadcast(tot))
        .withColumn("num",
          col("o").cast(d38) * col("nn") - col("r").cast(d38) * col("c"))
        .withColumn("cell_ppm", expr(
          "(num * num * 1000000) div (CAST(nn AS DECIMAL(38,0)) * r * c)"))
        .agg(min(col("nn")).as("n_total"), min(col("k")).as("n_rows"),
          min(col("l")).as("n_cols"),
          sum(col("cell_ppm")).cast("long").as("chi2_ppm"))
        .select(col("n_total"), col("n_rows"), col("n_cols"), col("chi2_ppm"),
          (round(sqrt((col("chi2_ppm").cast("double") / 1000000.0)
            / (col("n_total").cast("double")
              * (least(col("n_rows"), col("n_cols")).cast("double") - 1.0))), 6)
            + 0.0).as("cramers_v_r"))
    },
  )

  val oracles: Map[String, String] = Map(
    "assoc_item_pairs" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |ic AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_i FROM b GROUP BY pk),
        |no AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM b),
        |p AS (SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT) AS support
        |      FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk GROUP BY 1, 2)
        |SELECT a, b, support, ia.n_i AS n_a, ib.n_i AS n_b,
        |       CAST((CAST(support AS HUGEINT) * n_orders * 1000000)
        |            // (CAST(ia.n_i AS HUGEINT) * ib.n_i) AS BIGINT)
        |         AS lift_ppm
        |FROM p JOIN ic ia ON p.a = ia.pk JOIN ic ib ON p.b = ib.pk, no
        |ORDER BY support DESC, a, b LIMIT 100""".stripMargin,

    "assoc_rules" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |ic AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_i FROM b GROUP BY pk),
        |p AS (SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT) AS support
        |      FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk GROUP BY 1, 2
        |      HAVING count(*) >= 2),
        |r AS (
        |  SELECT a AS ante, b AS cons, support, ia.n_i AS n_ante,
        |         CAST((support * 1000000) // ia.n_i AS BIGINT) AS conf_ppm
        |  FROM p JOIN ic ia ON p.a = ia.pk
        |  UNION ALL
        |  SELECT b AS ante, a AS cons, support, ib.n_i AS n_ante,
        |         CAST((support * 1000000) // ib.n_i AS BIGINT) AS conf_ppm
        |  FROM p JOIN ic ib ON p.b = ib.pk)
        |SELECT ante, cons, support, n_ante, conf_ppm
        |FROM r ORDER BY conf_ppm DESC, ante, cons LIMIT 50""".stripMargin,

    "profile_columns" ->
      """WITH s AS (
        |  SELECT 'l_partkey' AS col_name, CAST(l_partkey AS VARCHAR) AS v FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', CAST(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', l_returnflag FROM lineitem
        |  UNION ALL
        |  SELECT 'l_shipdate', strftime(l_shipdate, '%Y-%m-%d') FROM lineitem)
        |SELECT col_name,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |       CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
        |       min(v) AS v_min, max(v) AS v_max,
        |       round(avg(length(v)), 2) AS avg_len
        |FROM s GROUP BY col_name ORDER BY col_name""".stripMargin,

    "agg_benford" ->
      """WITH d AS (
        |  SELECT substr(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |                     AS VARCHAR), 1, 1) AS digit
        |  FROM lineitem),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
        |t AS (SELECT sum(n) AS total FROM g)
        |SELECT digit, n,
        |       CAST((n * 1000000) // total AS BIGINT) AS obs_ppm,
        |       CAST(CASE digit WHEN '1' THEN 301030 WHEN '2' THEN 176091
        |                       WHEN '3' THEN 124939 WHEN '4' THEN 96910
        |                       WHEN '5' THEN 79181 WHEN '6' THEN 66947
        |                       WHEN '7' THEN 57992 WHEN '8' THEN 51153
        |                       WHEN '9' THEN 45757 ELSE 0 END AS BIGINT)
        |         AS benford_ppm,
        |       CAST((n * 1000000) // total
        |            - CASE digit WHEN '1' THEN 301030 WHEN '2' THEN 176091
        |                         WHEN '3' THEN 124939 WHEN '4' THEN 96910
        |                         WHEN '5' THEN 79181 WHEN '6' THEN 66947
        |                         WHEN '7' THEN 57992 WHEN '8' THEN 51153
        |                         WHEN '9' THEN 45757 ELSE 0 END AS BIGINT)
        |         AS dev_ppm
        |FROM g, t ORDER BY digit""".stripMargin,

    "agg_ratio_ci" ->
      """WITH a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_succ
        |  FROM events GROUP BY event_type),
        |p AS (SELECT *, CAST(n_succ AS DOUBLE) / n AS p FROM a)
        |SELECT event_type, n, n_succ, round(p, 4) AS p_r,
        |       round((p + 3.8416 / (2.0 * n)
        |              - 1.96 * sqrt(p * (1.0 - p) / n
        |                            + 3.8416 / (4.0 * n * n)))
        |             / (1.0 + 3.8416 / n), 4) AS ci_lo_r,
        |       round((p + 3.8416 / (2.0 * n)
        |              + 1.96 * sqrt(p * (1.0 - p) / n
        |                            + 3.8416 / (4.0 * n * n)))
        |             / (1.0 + 3.8416 / n), 4) AS ci_hi_r
        |FROM p ORDER BY event_type""".stripMargin,

    "agg_anova" ->
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS ng,
        |         sum(value) AS sg, sum(value * value) AS qg
        |  FROM events GROUP BY event_type)
        |SELECT CAST(count(*) AS BIGINT) AS k,
        |       CAST(sum(ng) AS BIGINT) AS n,
        |       round(sum(qg) - sum(sg) * sum(sg) / sum(ng), 2) AS sst_r,
        |       round(sum(qg) - sum(sg * sg / ng), 2) AS ssw_r,
        |       round(sum(sg * sg / ng) - sum(sg) * sum(sg) / sum(ng), 2) AS ssb_r,
        |       round(((sum(sg * sg / ng) - sum(sg) * sum(sg) / sum(ng))
        |              / (count(*) - 1))
        |             / ((sum(qg) - sum(sg * sg / ng)) / (sum(ng) - count(*))), 4)
        |         AS f_r
        |FROM g""".stripMargin,

    "agg_chi2" ->
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS sx
        |  FROM events GROUP BY event_type),
        |tot AS (SELECT sum(n) AS nn, sum(sx) AS ss FROM g)
        |SELECT CAST(count(*) AS BIGINT) AS k,
        |       CAST(min(nn) AS BIGINT) AS n_total,
        |       CAST(min(ss) AS BIGINT) AS n_succ_total,
        |       CASE WHEN min(ss) > 0 AND min(nn - ss) > 0 THEN
        |         round(sum((sx - n * ss / nn) * (sx - n * ss / nn)
        |                     / (n * ss / nn)
        |                   + (n - sx - n * (nn - ss) / nn)
        |                     * (n - sx - n * (nn - ss) / nn)
        |                     / (n * (nn - ss) / nn)), 4)
        |       END AS chi2_r
        |FROM g, tot""".stripMargin,

    "agg_moments" ->
      """WITH m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(c AS HUGEINT)) AS s1,
        |         sum(CAST(c AS HUGEINT) * c) AS s2,
        |         sum(CAST(c AS HUGEINT) * c * c) AS s3,
        |         sum(CAST(c AS HUGEINT) * c * c * c) AS s4
        |  FROM (SELECT event_type,
        |               CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |        FROM events)
        |  GROUP BY event_type),
        |d AS (
        |  SELECT event_type, n,
        |         CAST(s1 AS DOUBLE) / n AS mu,
        |         CAST(s2 AS DOUBLE) / n AS r2,
        |         CAST(s3 AS DOUBLE) / n AS r3,
        |         CAST(s4 AS DOUBLE) / n AS r4
        |  FROM m),
        |c AS (
        |  SELECT event_type, n, mu,
        |         r2 - mu * mu AS m2,
        |         r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
        |         r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
        |           - 3.0 * mu * mu * mu * mu AS m4
        |  FROM d)
        |SELECT event_type, n, round(mu, 4) AS mean_c_r,
        |       round(m3 / (m2 * sqrt(m2)), 4) + 0.0 AS skew_r,
        |       round(m4 / (m2 * m2) - 3.0, 4) + 0.0 AS exkurt_r
        |FROM c ORDER BY event_type""".stripMargin,

    "agg_jarque_bera" ->
      """WITH m AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(c AS HUGEINT)) AS s1,
        |         sum(CAST(c AS HUGEINT) * c) AS s2,
        |         sum(CAST(c AS HUGEINT) * c * c) AS s3,
        |         sum(CAST(c AS HUGEINT) * c * c * c) AS s4
        |  FROM (SELECT c_mktsegment AS g,
        |               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS c
        |        FROM customer)
        |  GROUP BY g),
        |d AS (
        |  SELECT g, n, s1, s2,
        |         CAST(s1 AS DOUBLE) / n AS mu,
        |         CAST(s2 AS DOUBLE) / n AS r2,
        |         CAST(s3 AS DOUBLE) / n AS r3,
        |         CAST(s4 AS DOUBLE) / n AS r4
        |  FROM m),
        |c AS (
        |  SELECT g, n, s1, s2,
        |         r2 - mu * mu AS m2,
        |         r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
        |         r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
        |           - 3.0 * mu * mu * mu * mu AS m4
        |  FROM d),
        |s AS (
        |  SELECT g, n, s1, s2, m2,
        |         m3 / (m2 * sqrt(m2)) AS sk,
        |         m4 / (m2 * m2) - 3.0 AS ek
        |  FROM c)
        |SELECT g, n,
        |       round(CASE WHEN CAST(n AS HUGEINT) * s2 - s1 * s1 > 0 THEN
        |             CAST(n AS DOUBLE) / 6.0 * (sk * sk + ek * ek / 4.0) END, 4)
        |         + 0.0 AS jb_r
        |FROM s ORDER BY g""".stripMargin,

    // The HUGEINT casts mirror the Spark side's DECIMAL(38,0) routing
    // (r12): both engines stay exact to ~10¹⁵ rows per group instead of
    // wrapping (Spark) / erroring (DuckDB) at the Int64 boundary.
    "agg_hhi" ->
      """SELECT lang, CAST(sum(ns) AS BIGINT) AS n,
        |       CAST((sum(CAST(ns AS HUGEINT) * ns) * 1000000)
        |            // (CAST(sum(ns) AS HUGEINT) * sum(ns))
        |            AS BIGINT) AS hhi_ppm,
        |       CAST(count(*) AS BIGINT) AS n_sources
        |FROM (SELECT lang, source, CAST(count(*) AS BIGINT) AS ns
        |      FROM documents GROUP BY 1, 2)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "agg_ks_drift" ->
      """WITH h AS (
        |  SELECT event_type AS et,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |arms AS (SELECT DISTINCT et FROM h),
        |pairs AS (SELECT a.et AS pa, b.et AS pb
        |          FROM arms a JOIN arms b ON a.et < b.et),
        |hp AS (
        |  SELECT pa, pb, v,
        |         CAST(sum(CASE WHEN et = pa THEN c ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN et = pb THEN c ELSE 0 END) AS BIGINT) AS c2
        |  FROM pairs JOIN h ON et = pa OR et = pb
        |  GROUP BY 1, 2, 3),
        |cum AS (
        |  SELECT pa, pb, v,
        |         CAST(sum(c1) OVER (PARTITION BY pa, pb ORDER BY v
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
        |         CAST(sum(c2) OVER (PARTITION BY pa, pb ORDER BY v
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2
        |  FROM hp),
        |t AS (SELECT pa, pb, CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2 FROM hp GROUP BY 1, 2),
        |d AS (SELECT pa, pb, n1, n2,
        |             abs(CAST(cum1 AS HUGEINT) * n2
        |               - CAST(cum2 AS HUGEINT) * n1) AS d, v
        |      FROM cum JOIN t USING (pa, pb))
        |SELECT pa AS arm_a, pb AS arm_b, n1 AS n_a, n2 AS n_b,
        |       CAST((max(struct_pack(d := d, nv := -v)).d * 1000000)
        |            // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS ks_ppm,
        |       -(max(struct_pack(d := d, nv := -v)).nv) AS ks_at_cents
        |FROM d GROUP BY pa, pb, n1, n2 ORDER BY arm_a, arm_b""".stripMargin,

    "agg_mannwhitney" ->
      """WITH h AS (
        |  SELECT event_type AS et,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |arms AS (SELECT DISTINCT et FROM h),
        |pairs AS (SELECT a.et AS pa, b.et AS pb
        |          FROM arms a JOIN arms b ON a.et < b.et),
        |hp AS (
        |  SELECT pa, pb, v,
        |         CAST(sum(CASE WHEN et = pa THEN c ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN et = pb THEN c ELSE 0 END) AS BIGINT) AS c2
        |  FROM pairs JOIN h ON et = pa OR et = pb
        |  GROUP BY 1, 2, 3),
        |cw AS (
        |  SELECT pa, pb, c1, c2,
        |         coalesce(CAST(sum(c1 + c2) OVER (PARTITION BY pa, pb
        |           ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS BIGINT), 0) AS cum
        |  FROM hp),
        |r AS (SELECT pa, pb, CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2,
        |             sum(CAST(c1 AS HUGEINT) * (2 * cum + c1 + c2 + 1)) AS r1x2
        |      FROM cw GROUP BY 1, 2)
        |SELECT pa AS arm_a, pb AS arm_b, n1 AS n_a, n2 AS n_b,
        |       CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u1_x2,
        |       round((CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) / 2.0
        |                - CAST(n1 AS DOUBLE) * n2 / 2.0)
        |             / sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1) / 12.0),
        |             4) + 0.0 AS z_r
        |FROM r ORDER BY arm_a, arm_b""".stripMargin,

    "agg_brunner_munzel" ->
      """WITH h AS (
        |  SELECT event_type AS et,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |arms AS (SELECT DISTINCT et FROM h),
        |pairs AS (SELECT a.et AS pa, b.et AS pb
        |          FROM arms a JOIN arms b ON a.et < b.et),
        |hp AS (
        |  SELECT pa, pb, v,
        |         CAST(sum(CASE WHEN et = pa THEN c ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN et = pb THEN c ELSE 0 END) AS BIGINT) AS c2
        |  FROM pairs JOIN h ON et = pa OR et = pb
        |  GROUP BY 1, 2, 3),
        |cw AS (
        |  SELECT pa, pb, c1, c2,
        |         coalesce(CAST(sum(c1) OVER (PARTITION BY pa, pb ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS BIGINT), 0) AS cum1,
        |         coalesce(CAST(sum(c2) OVER (PARTITION BY pa, pb ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS BIGINT), 0) AS cum2
        |  FROM hp),
        |g AS (
        |  SELECT pa, pb, c1, c2,
        |         CAST(2 * (cum1 + cum2) + c1 + c2 + 1 AS HUGEINT) AS r2,
        |         CAST(2 * cum2 + c2 AS HUGEINT) AS a1,
        |         CAST(2 * cum1 + c1 AS HUGEINT) AS a2
        |  FROM cw),
        |r AS (
        |  SELECT pa, pb, CAST(sum(c1) AS BIGINT) AS n1,
        |         CAST(sum(c2) AS BIGINT) AS n2,
        |         sum(c1 * r2) AS p1, sum(c2 * r2) AS p2,
        |         sum(c1 * a1) AS sa1, sum(c1 * a1 * a1) AS sq1,
        |         sum(c2 * a2) AS sa2, sum(c2 * a2 * a2) AS sq2
        |  FROM g GROUP BY 1, 2),
        |vv AS (
        |  SELECT pa, pb, n1, n2, p1, p2,
        |         CAST(n1 AS HUGEINT) * (sq1 + 2 * (n1 + 1) * sa1
        |           + CAST(n1 + 1 AS HUGEINT) * (n1 + 1) * n1)
        |           - 2 * p1 * (sa1 + CAST(n1 AS HUGEINT) * (n1 + 1)) + p1 * p1 AS v1,
        |         CAST(n2 AS HUGEINT) * (sq2 + 2 * (n2 + 1) * sa2
        |           + CAST(n2 + 1 AS HUGEINT) * (n2 + 1) * n2)
        |           - 2 * p2 * (sa2 + CAST(n2 AS HUGEINT) * (n2 + 1)) + p2 * p2 AS v2
        |  FROM r)
        |SELECT pa AS arm_a, pb AS arm_b, n1 AS n_a, n2 AS n_b,
        |       round(CASE WHEN n1 > 1 AND n2 > 1 THEN
        |             (CAST(p2 AS DOUBLE) / (2.0 * n2) - (n2 + 1) / 2.0) / n1 END, 4)
        |         + 0.0 AS p_hat_r,
        |       round(CASE WHEN n1 > 1 AND n2 > 1 AND v1 + v2 > 0 THEN
        |             CAST(n1 AS DOUBLE) * n2
        |             * (CAST(p2 AS DOUBLE) / (2.0 * n2) - CAST(p1 AS DOUBLE) / (2.0 * n1))
        |             / ((CAST(n1 AS DOUBLE) + n2)
        |             * sqrt(CAST(n1 AS DOUBLE) * (CAST(v1 AS DOUBLE) / (4.0 * n1 * (n1 - 1)))
        |             + CAST(n2 AS DOUBLE) * (CAST(v2 AS DOUBLE) / (4.0 * n2 * (n2 - 1))))) END,
        |             4) + 0.0 AS w_bm_r
        |FROM vv ORDER BY arm_a, arm_b""".stripMargin,

    "agg_psi_drift" ->
      """WITH h0 AS (
        |  SELECT event_type AS et,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events),
        |bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM h0),
        |binned AS (
        |  SELECT et, least(9, ((v - lo) * 10) // (hi - lo + 1)) AS b,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM h0, bounds GROUP BY 1, 2),
        |arms AS (SELECT DISTINCT et FROM binned),
        |pairs AS (SELECT a.et AS pa, b.et AS pb
        |          FROM arms a JOIN arms b ON a.et < b.et),
        |totals AS (SELECT et, CAST(sum(c) AS BIGINT) AS n
        |           FROM binned GROUP BY 1),
        |bins AS (SELECT unnest(range(0, 10)) AS bb),
        |grid AS (
        |  SELECT pa, pb, bb, ta.n AS na, tb.n AS nb,
        |         coalesce(ha.c, 0) AS ca, coalesce(hb.c, 0) AS cb
        |  FROM pairs CROSS JOIN bins
        |  LEFT JOIN binned ha ON ha.et = pa AND ha.b = bb
        |  LEFT JOIN binned hb ON hb.et = pb AND hb.b = bb
        |  JOIN totals ta ON ta.et = pa
        |  JOIN totals tb ON tb.et = pb),
        |terms AS (
        |  SELECT pa, pb, na, nb, bb,
        |         (CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE)
        |            - CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE))
        |         * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE))
        |              / (CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE))) AS t
        |  FROM grid)
        |SELECT pa AS arm_a, pb AS arm_b, na AS n_a, nb AS n_b,
        |       round(list_reduce(list_prepend(0.0, list(t ORDER BY bb)),
        |             (acc, x) -> acc + x), 4) + 0.0 AS psi_r
        |FROM terms GROUP BY pa, pb, na, nb ORDER BY arm_a, arm_b""".stripMargin,

    "agg_gini" ->
      """WITH h AS (
        |  SELECT event_type AS g,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |cw AS (
        |  SELECT g, v, c,
        |         coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS cum
        |  FROM h),
        |a AS (
        |  SELECT g, sum(CAST(v AS HUGEINT) * c * (2 * cum + c + 1))
        |           AS ranksum2,
        |         sum(CAST(v AS HUGEINT) * c) AS s,
        |         CAST(sum(c) AS BIGINT) AS n
        |  FROM cw GROUP BY g)
        |SELECT g AS event_type, n,
        |       CAST(((ranksum2 - (CAST(n AS HUGEINT) + 1) * s) * 1000000)
        |            // (CAST(n AS HUGEINT) * s) AS BIGINT) AS gini_ppm
        |FROM a ORDER BY event_type""".stripMargin,

    "agg_theil" ->
      """WITH r AS (
        |  SELECT event_type AS g,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |tot AS (SELECT g, sum(c) AS sv, CAST(count(*) AS BIGINT) AS n
        |        FROM r GROUP BY g),
        |t AS (
        |  SELECT r.g,
        |         CASE WHEN r.c = 0 THEN 0
        |              ELSE CAST(round(CAST(r.c AS DOUBLE)
        |                * ln(CAST(r.c AS DOUBLE) * tot.n / tot.sv) * 1e9)
        |                AS BIGINT) END AS t_ns,
        |         tot.n, tot.sv
        |  FROM r JOIN tot ON r.g = tot.g)
        |SELECT g AS event_type, min(n) AS n,
        |       CAST(sum(t_ns) // min(sv) AS BIGINT) AS theil_ns
        |FROM t GROUP BY g ORDER BY event_type""".stripMargin,

    "agg_mann_kendall" ->
      """WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |           AS sc
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT a.g,
        |         CAST(sum(CASE WHEN b.sc > a.sc THEN 1
        |                       WHEN b.sc < a.sc THEN -1 ELSE 0 END) AS BIGINT)
        |           AS s_stat
        |  FROM daily a JOIN daily b ON a.g = b.g AND a.day < b.day
        |  GROUP BY 1),
        |nd AS (SELECT g, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1),
        |ties AS (
        |  SELECT g, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
        |  FROM (SELECT g, sc, CAST(count(*) AS BIGINT) AS t
        |        FROM daily GROUP BY 1, 2) GROUP BY 1),
        |v AS (
        |  SELECT s.g, nd.n_days, s.s_stat,
        |         n_days * (n_days - 1) * (2 * n_days + 5) - tsum AS var18
        |  FROM s JOIN nd ON s.g = nd.g JOIN ties ON s.g = ties.g)
        |SELECT g AS event_type, n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
        |       round(CASE WHEN s_stat = 0 THEN 0.0
        |                  ELSE (s_stat - sign(s_stat))
        |                       / sqrt(CAST(var18 AS DOUBLE) / 18.0) END, 4)
        |         + 0.0 AS z_r
        |FROM v ORDER BY event_type""".stripMargin,

    "agg_raking" ->
      """WITH cells AS (
        |  SELECT event_type AS et,
        |         CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS BIGINT)
        |           AS wd,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS t,
        |         CAST(count(DISTINCT et) AS BIGINT) AS nr,
        |         CAST(count(DISTINCT wd) AS BIGINT) AS ncl
        |  FROM cells),
        |b AS (
        |  SELECT et, wd, c,
        |         CAST(c AS HUGEINT) * 1000000 AS w0,
        |         (CAST(t AS HUGEINT) * 1000000) // nr AS tr,
        |         (CAST(t AS HUGEINT) * 1000000) // ncl AS tc
        |  FROM cells, tot),
        |r1 AS (SELECT *, (w0 * tr) // sum(w0) OVER (PARTITION BY et) AS w1 FROM b),
        |c1 AS (SELECT *, (w1 * tc) // sum(w1) OVER (PARTITION BY wd) AS w2 FROM r1),
        |r2 AS (SELECT *, (w2 * tr) // sum(w2) OVER (PARTITION BY et) AS w3 FROM c1),
        |c2 AS (SELECT *, (w3 * tc) // sum(w3) OVER (PARTITION BY wd) AS w4 FROM r2)
        |SELECT et AS event_type, wd AS weekday, c AS n,
        |       CAST(w4 AS BIGINT) AS raked_us
        |FROM c2 ORDER BY event_type, weekday""".stripMargin,

    "agg_bootstrap_ci" ->
      """WITH r AS (
        |  SELECT event_type AS g, event_id,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |hashed AS (
        |  SELECT g, c, b,
        |         md5('boot:' || CAST(event_id AS VARCHAR) || ':0')
        |           || md5('boot:' || CAST(event_id AS VARCHAR) || ':1') AS h
        |  FROM r, UNNEST(generate_series(1, 32)) AS t(b)),
        |weighted AS (
        |  SELECT g, b, c,
        |         CASE WHEN u < 94 THEN 0 WHEN u < 188 THEN 1
        |              WHEN u < 235 THEN 2 WHEN u < 251 THEN 3
        |              ELSE 4 END AS w
        |  FROM (SELECT g, c, b,
        |          (strpos('0123456789abcdef', substr(h, 2 * b - 1, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef', substr(h, 2 * b, 1)) - 1) AS u
        |        FROM hashed)),
        |rm AS (
        |  SELECT g,
        |         CASE WHEN sum(w) > 0
        |              THEN (CAST(sum(w * c) AS HUGEINT) * 1000000) // sum(w)
        |              ELSE 0 END AS m_ppm
        |  FROM weighted GROUP BY g, b),
        |booted AS (SELECT g, list_sort(list(m_ppm)) AS ms FROM rm GROUP BY g),
        |fa AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |         (CAST(sum(c) AS HUGEINT) * 1000000) // count(*) AS mean_ppm
        |  FROM r GROUP BY g)
        |SELECT g AS event_type, n, CAST(mean_ppm AS BIGINT) AS mean_ppm,
        |       CAST(ms[2] AS BIGINT) AS boot_lo_ppm,
        |       CAST(ms[31] AS BIGINT) AS boot_hi_ppm
        |FROM booted JOIN fa USING (g) ORDER BY event_type""".stripMargin,

    "agg_ttest_welch" ->
      """WITH r AS (
        |  SELECT event_type AS et,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |st AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
        |              sum(c) AS s1, sum(c * c) AS s2
        |       FROM r GROUP BY et),
        |d AS (SELECT et, n,
        |             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |             (CAST(s2 AS DOUBLE)
        |              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |                / CAST(n AS DOUBLE))
        |             / (CAST(n AS DOUBLE) - 1.0) AS v
        |      FROM st),
        |dd AS (SELECT et, n, mu, v, v / CAST(n AS DOUBLE) AS vn FROM d)
        |SELECT a.et AS arm_a, b.et AS arm_b, a.n AS n_a, b.n AS n_b,
        |       round((a.mu - b.mu) / sqrt(a.vn + b.vn), 4) + 0.0 AS t_r,
        |       round((a.vn + b.vn) * (a.vn + b.vn)
        |         / (a.vn * a.vn / (CAST(a.n AS DOUBLE) - 1.0)
        |            + b.vn * b.vn / (CAST(b.n AS DOUBLE) - 1.0)), 2) + 0.0
        |         AS df_welch_r
        |FROM dd a JOIN dd b ON a.et < b.et
        |ORDER BY arm_a, arm_b""".stripMargin,

    "agg_cohens_d" ->
      """WITH r AS (
        |  SELECT event_type AS et,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |st AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
        |              sum(c) AS s1, sum(c * c) AS s2
        |       FROM r GROUP BY et),
        |d AS (SELECT et, n,
        |             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |             CAST(s2 AS DOUBLE)
        |             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |               / CAST(n AS DOUBLE) AS ss
        |      FROM st)
        |SELECT a.et AS arm_a, b.et AS arm_b, a.n AS n_a, b.n AS n_b,
        |       round(sqrt((a.ss + b.ss)
        |         / (CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE) - 2.0))
        |         / 100.0, 4) + 0.0 AS sd_pooled_r,
        |       round((a.mu - b.mu)
        |         / sqrt((a.ss + b.ss)
        |           / (CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE) - 2.0)), 4)
        |         + 0.0 AS cohens_d_r
        |FROM d a JOIN d b ON a.et < b.et
        |ORDER BY arm_a, arm_b""".stripMargin,

    "agg_cramers_v" ->
      """WITH cells AS (
        |  SELECT event_type AS et, CAST(isodow(ts) - 1 AS BIGINT) AS dw,
        |         CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |rm AS (SELECT et, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |cm AS (SELECT dw, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |grid AS (
        |  SELECT rm.et, cm.dw, rm.r, cm.c, coalesce(cells.o, 0) AS o
        |  FROM rm CROSS JOIN cm
        |  LEFT JOIN cells ON cells.et = rm.et AND cells.dw = cm.dw),
        |tot AS (
        |  SELECT (SELECT CAST(sum(r) AS BIGINT) FROM rm) AS nn,
        |         (SELECT CAST(count(*) AS BIGINT) FROM rm) AS k,
        |         (SELECT CAST(count(*) AS BIGINT) FROM cm) AS l),
        |cell AS (
        |  SELECT nn, k, l,
        |         ((CAST(o AS HUGEINT) * nn - CAST(r AS HUGEINT) * c)
        |          * (CAST(o AS HUGEINT) * nn - CAST(r AS HUGEINT) * c)
        |          * 1000000) // (CAST(nn AS HUGEINT) * r * c) AS cell_ppm
        |  FROM grid CROSS JOIN tot)
        |SELECT min(nn) AS n_total, min(k) AS n_rows, min(l) AS n_cols,
        |       CAST(sum(cell_ppm) AS BIGINT) AS chi2_ppm,
        |       round(sqrt((CAST(CAST(sum(cell_ppm) AS BIGINT) AS DOUBLE)
        |           / 1000000.0)
        |         / (CAST(min(nn) AS DOUBLE)
        |           * (CAST(least(min(k), min(l)) AS DOUBLE) - 1.0))), 6) + 0.0
        |         AS cramers_v_r
        |FROM cell""".stripMargin)
}
