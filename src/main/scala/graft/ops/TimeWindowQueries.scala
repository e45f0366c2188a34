package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Tier C's batch-checkable face — event-time windowing semantics expressed
  * over the `events` table (SURVEY.md §2.6 Tier C): tumbling and sliding
  * `window()`, and `session_window()`. The same constructs run unchanged in
  * Structured Streaming (StreamingSpec asserts batch/stream equivalence);
  * here they get DuckDB oracles via bucket arithmetic and gaps-and-islands.
  *
  * `events.ts` is µs-precision (verified: ns component is 0 for every row),
  * so the nanos→micros read conversion is lossless and window boundaries are
  * bit-comparable across engines.
  */
object TimeWindowQueries {

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling 10-minute windows: count + sum per (window, event_type).
    // One shuffle on (bucket, type); partial agg map-side. At 100 TB this is
    // the canonical pre-aggregation shape.
    "window_tumbling" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
        .select(
          date_format(col("w.start"), fmt).as("w_start"),
          col("event_type"), col("n"), col("sum_v"))
        .orderBy("w_start", "event_type")
    },

    // Sliding windows (10 min length, 5 min slide): each event lands in 2
    // windows — Spark expands then aggregates; same single shuffle.
    "window_sliding" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("w.start"), fmt).as("w_start"), col("n"))
        .orderBy("w_start")
    },

    // Session windows per user, 5-minute gap. Spark semantics: an event
    // extends the session iff ts < previous ts + gap; session end = last
    // event + gap. The oracle reproduces this with gaps-and-islands SQL.
    // Cohort RETENTION: users grouped by first-activity day, counted at
    // each later active day offset (0..7) — the other canonical event
    // analytics report next to the funnel. The cohort day is a
    // whole-partition window min over the distinct (user, day) set, NOT a
    // separate aggregate joined back — that join shape scans the events
    // twice and shuffles four times; the window form is one scan and two
    // keyed shuffles (user-partition window, then the (cohort, offset)
    // aggregate). Counts are exact integers; offsets cast to long on both
    // sides so schemas agree.
    "events_retention" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id")
      Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
        .withColumn("cohort_day", min(col("day")).over(byUser))
        .select(col("user_id"), col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
        .filter(col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    },

    // Conversion FUNNEL (the ClickHouse windowFunnel shape): per user, the
    // deepest prefix of view → click → purchase completed by a strictly
    // time-ordered event chain whose total span fits in 30 minutes —
    // "reached step k" = such a chain of length k exists. NOT a self-join:
    // two stacked running-max window columns over ONE (user, ts) sort
    // carry the best chain-start forward (`best_v` = latest view before
    // this row; `best_cv` = best view reachable through any earlier
    // click), so each row decides its level locally and one aggregate
    // folds users into the 3-row report. One shuffle at 100 TB; the
    // exhaustive-∃-chain oracle proves the running-max recurrence is the
    // same predicate.
    "window_funnel" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val W = 1800000000L // 30 min in µs
      val wPrev = Window.partitionBy("user_id").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
      val e = Tables.events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts)").as("t"), col("event_type"))
        .withColumn("best_v",
          max(when(col("event_type") === "view", col("t"))).over(wPrev))
        .withColumn("best_cv",
          max(when(col("event_type") === "click", col("best_v"))).over(wPrev))
      val levels = e.groupBy("user_id").agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("l1"),
        max(when(col("event_type") === "click" &&
          col("best_v") >= col("t") - W, 1).otherwise(0)).as("l2"),
        max(when(col("event_type") === "purchase" &&
          col("best_cv") >= col("t") - W, 1).otherwise(0)).as("l3"))
      levels.agg(
          sum(col("l1")).as("n1"), sum(col("l2")).as("n2"), sum(col("l3")).as("n3"))
        .selectExpr(
          """stack(3,
            |  1, 'view',                n1,
            |  2, 'view>click',          n2,
            |  3, 'view>click>purchase', n3
            |) AS (step_no, step, n_users)""".stripMargin)
        .orderBy("step_no")
    },

    "window_session" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
        .select(
          col("user_id"),
          date_format(col("w.start"), fmt).as("s_start"),
          date_format(col("w.end"), fmt).as("s_end"),
          col("n"), col("sum_v"))
        .orderBy("user_id", "s_start")
    },

    // EVENT-SEQUENCE PATTERN MATCH (the MATCH_RECOGNIZE / ClickHouse
    // sequenceMatch shape): each user's history becomes the time-ordered
    // string of event initials (c/e/p/s/v; ties broken on event_id so the
    // order is a total one), and each pattern is a regex over that string —
    // '^s' = signup-first users, 'vc' = a view IMMEDIATELY followed by a
    // click (adjacency, which no join can express without sequence
    // numbers), 'v[^p]*p' = view converted with no earlier purchase
    // between, 'v.*c.*p' = the funnel as order-only regex. One shuffle:
    // groupBy(user) builds the per-user string (state bounded by the
    // user's history — the same per-key bound every funnel/retention
    // report carries), then a single 4-row aggregate counts matching
    // users per pattern; the regexes run once per user, not per event.
    "window_pattern_match" -> { (s, dir) =>
      val pats = Seq("^s", "v.*c.*p", "v[^p]*p", "vc")
      val seqs = Tables.events(s, dir)
        .select(col("user_id"),
          struct(expr("unix_micros(ts)").as("t"), col("event_id"),
            substring(col("event_type"), 1, 1).as("ch")).as("x"))
        .groupBy("user_id")
        .agg(concat_ws("",
          transform(array_sort(collect_list(col("x"))),
            x => x.getField("ch"))).as("seq"))
      val counts = pats.zipWithIndex.map { case (p, i) =>
        sum(when(col("seq").rlike(p), 1L).otherwise(0L)).as(s"m$i")
      }
      seqs.agg(counts.head, counts.tail: _*)
        .select(explode(array(pats.zipWithIndex.map { case (p, i) =>
          struct(lit(p).as("pattern"), col(s"m$i").as("n_users"))
        }: _*)).as("r"))
        .select(col("r.pattern"), col("r.n_users"))
        .orderBy("pattern")
    },

    // GAP FILL + FORWARD FILL — the time-series regularization every
    // feature pipeline runs before windowed aggregation: densify each
    // user's daily series to every day in their active span (missing days
    // appear with n=0) and carry the last observed value forward. The
    // dense day axis comes from sequence() over each user's own (min, max)
    // span — never a global calendar cross join — so the explode is
    // bounded by the user's span; the fill is one `last(ignore nulls)`
    // running window per user. Shapes at 100 TB: two keyed aggregates, one
    // keyed equi-join, one per-user sorted window — all on the (user, day)
    // grain the query itself outputs.
    "window_gap_fill" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      val dense = daily.groupBy("user_id")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
      dense.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("v"), ignoreNulls = true).over(w).as("v_ff"),
          col("n").isNull.as("filled"))
        .orderBy("user_id", "day")
    },

    // LAG-1 AUTOCORRELATION (r10): per-type serial correlation of the
    // value series, each user's events sequenced by event_id (the
    // deterministic arrival order — FIXTURES.md warns off raw-ts keys).
    // One per-user sorted window for the lag, one map-side-combined
    // corr aggregate per type; corr is scale-invariant so the
    // sample-vs-population normalization cancels between engines.
    "ts_autocorr" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .withColumn("prev_v", lag(col("value"), 1).over(w))
        .filter(col("prev_v").isNotNull)
        .groupBy("event_type")
        // + 0.0 canonicalizes a rounded −0.0 to +0.0 — a near-zero
        // autocorrelation can round to signed zero, which the two engines
        // FORMAT differently (the r9 JL-projection lesson; bit at sf0.1)
        .agg(count(lit(1)).as("n_pairs"),
          (round(corr(col("value"), col("prev_v")), 4) + 0.0).as("autocorr_r"))
        .orderBy("event_type")
    },

    // ROLLING Z-SCORE ANOMALIES (r10): the streaming-monitoring classic —
    // each event scored against the mean/stddev of its user's previous
    // 20 values (frame excludes the current row so an outlier can't mask
    // itself), flagged when |z| > 2.5 with ≥10 history rows. ONE per-user
    // sorted window computes all three frame aggregates in a single pass;
    // no self-join, no global sort before the final ORDER BY.
    "ts_anomaly_zscore" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(-20, -1)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .withColumn("m", avg(col("value")).over(w))
        .withColumn("sd", stddev_samp(col("value")).over(w))
        .withColumn("n_hist", count(col("value")).over(w))
        .filter(col("n_hist") >= 10 && col("sd") > 0.001 &&
          abs((col("value") - col("m")) / col("sd")) > 2.5)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round((col("value") - col("m")) / col("sd"), 3).as("z_r"))
        // r19: materialize the anomaly set (the query's own output rows)
        // before the global sort — the range exchange's sampling pass
        // otherwise re-runs the full corpus rolling window a second time
        // (r20: via FinalSort).
        .transform(d => graft.ops.FinalSort.bounded(d, col("event_id")))
    },

    // EWMA (r10): per-user exponentially-weighted moving average
    // (α = 0.1), computed by the CLOSED FORM instead of the recursive
    // fold: s_T = Σ_{t≥2} α(1−α)^{T−t}·x_t + (1−α)^{T−1}·x_1, so the
    // whole series reduces in one windowed projection + one hash
    // aggregate — no sequential per-key iteration, no collect_list
    // materialization, and the weights underflow harmlessly for deep
    // history ((0.9)^600 ≈ 1e-28), which is exactly EWMA's point.
    "ts_ewma" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val wAll = Window.partitionBy("user_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("tot", count(lit(1)).over(wAll))
        .withColumn("wt",
          when(col("rn") === 1, pow(lit(0.9), col("tot") - 1))
            .otherwise(pow(lit(0.9), col("tot") - col("rn")) * 0.1))
        .groupBy("user_id")
        .agg(max(col("tot")).as("n_events"),
          round(sum(col("wt") * col("value")), 4).as("ewma_r"))
        .orderBy("user_id")
    },

    // LAST-TOUCH ATTRIBUTION (r10): every purchase credited to the user's
    // most recent prior engagement (click/view) within 30 minutes — the
    // marketing-analytics staple next to the funnel. NOT a self-join: one
    // per-user sorted window carries the latest engagement forward as a
    // running MAX over a (micros, event_id, type) struct (struct ordering
    // is lexicographic, so the max IS the latest touch, with event_id
    // breaking same-microsecond ties deterministically); each purchase
    // then decides locally. The frame excludes the current row, so a
    // purchase never attributes to itself.
    "events_attribution" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"))
        .withColumn("touch",
          max(when(col("event_type").isin("click", "view"),
            struct(col("t").as("t"), col("event_id").as("eid"),
              col("event_type").as("et")))).over(w))
        .filter(col("event_type") === "purchase" && col("touch").isNotNull &&
          col("t") - col("touch.t") <= 1800000000L)
        .select(col("event_id"), col("user_id"),
          col("touch.eid").as("src_event_id"),
          col("touch.et").as("src_type"),
          (col("t") - col("touch.t")).as("delta_us"))
        .orderBy("event_id")
    },

    // LEAD-LAG CROSS-CORRELATION (r10): does engagement LEAD conversion?
    // Both series bucketed to 10-minute counts on a DENSE bucket grid
    // (zero-filled from the global span — a missing bucket is a real 0,
    // and skipping it would bias the correlation), then click(t) is
    // correlated against purchase(t + lag) for lags 0..2. The grid comes
    // from ONE 1-row span aggregate exploded and broadcast — never a
    // calendar cross join — and each lag is a broadcast-joined shifted
    // copy of the same tiny bucket ledger: the events table is scanned
    // once at any corpus size.
    "ts_cross_corr" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(expr("unix_micros(ts) div 600000000").as("bucket"),
          col("event_type"))
      val counts = ev.groupBy("bucket")
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_buy"))
      val grid = ev.agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
        .select(explode(sequence(col("b0"), col("b1"))).as("bucket"))
      val dense = grid.join(counts, Seq("bucket"), "left")
        .select(col("bucket"),
          coalesce(col("n_click"), lit(0L)).as("n_click"),
          coalesce(col("n_buy"), lit(0L)).as("n_buy"))
      val lags = s.range(0, 3).select(col("id").as("lag"))
      dense.as("c").join(broadcast(lags))
        .join(dense.as("p"), col("c.bucket") + col("lag") === col("p.bucket"))
        .groupBy("lag")
        .agg(count(lit(1)).as("n_buckets"),
          (round(corr(col("c.n_click"), col("p.n_buy")), 4) + 0.0).as("xcorr_r"))
        .orderBy("lag")
    },

    // HOUR-OF-DAY SEASONALITY (r10): the simplest honest seasonal
    // decomposition — the trend is each DAY's mean (removing day-scale
    // drift), the seasonal component is the hour-of-day mean of the
    // DETRENDED residual. Two keyed aggregates and one broadcast join of
    // the tiny per-day trend table back onto the events; the raw hourly
    // mean rides along so the 24-row profile shows both the absolute
    // level and the trend-free seasonal shape.
    "ts_seasonality" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"),
          hour(col("ts")).cast("long").as("hod"), col("value"))
      val trend = ev.groupBy("day").agg(avg(col("value")).as("day_mean"))
      ev.join(broadcast(trend), "day")
        .groupBy("hod")
        .agg(count(lit(1)).as("n"),
          round(avg(col("value")), 4).as("mean_v_r"),
          (round(avg(col("value") - col("day_mean")), 4) + 0.0).as("seasonal_r"))
        .orderBy("hod")
    },

    // ACTIVITY STREAKS (r10): the gaps-and-islands classic — each user's
    // longest run of CONSECUTIVE active days, plus how many distinct
    // runs they have. The island id is pure integer arithmetic
    // (epoch_day − per-user day ordinal: constant within a consecutive
    // run, strictly increasing across gaps), so the whole report is the
    // distinct (user, day) grain, one per-user sorted window for the
    // ordinal, and two stacked hash aggregates — no self-join, no
    // sequence explode, exact integers end to end.
    "window_streaks" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("day")
      Tables.events(s, dir)
        .select(col("user_id"), datediff(to_date(col("ts")), lit("1970-01-01"))
          .cast("long").as("day"))
        .distinct()
        .withColumn("island", col("day") - row_number().over(w))
        .groupBy("user_id", "island")
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max(col("len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"),
          sum(col("len")).as("n_active_days"))
        .orderBy("user_id")
    },

    // OHLC CANDLES (r10): the downsampling shape every metrics/market
    // store runs — per 10-minute bucket: open (first value), high, low,
    // close (last value), count. ONE map-side-combined hash aggregate:
    // open/close are min_by/max_by on the event time, so no per-bucket
    // sort and no window — the whole candle reduces in partial
    // aggregates. Time is the ordering key alone: event timestamps are
    // unique at every sf (µs precision, ~minute gaps; `R10OpsSpec`
    // guards the uniqueness so a fixture change is caught), which keeps
    // the first/last picks portable to DuckDB's two-argument arg_min.
    "ts_ohlc" -> { (s, dir) =>
      Tables.events(s, dir)
        .select(unix_micros(col("ts")).as("t"), col("value"))
        .groupBy(expr("t div 600000000").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min_by(col("value"), col("t")), 2).as("open_r"),
          round(max(col("value")), 2).as("high_r"),
          round(min(col("value")), 2).as("low_r"),
          round(max_by(col("value"), col("t")), 2).as("close_r"))
        .orderBy("bucket")
    },

    // ACTIVE-INTERVAL CONCURRENCY (r12): how many order lines are in
    // flight (the fulfillment window between order placement and line
    // shipment, endpoint-normalized since the synthetic dates are
    // unordered) on any given day — the sweep-line / "concurrent
    // sessions" classic, solved WITHOUT an interval×calendar blow-up
    // join: each interval becomes a +1 at its start and a −1 the day
    // after its end, one hash aggregate collapses the deltas to the
    // bounded DAY DOMAIN (~2.5k rows over seven years — the same
    // domain-not-data bound as the cents histograms), and one running
    // sum over that tiny table is the concurrency curve. Input is one
    // co-partitionable fact⨝orders hash join + one map-side-combined
    // aggregate; the single-partition window runs over the day domain,
    // never over data-sized input. Reported per month: peak concurrency
    // and the month-end level (max_by over the unique day key —
    // deterministic).
    "ts_active_intervals" -> { (s, dir) =>
      val iv = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), to_date(col("l_shipdate")).as("sd"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey").as("ok"), to_date(col("o_orderdate")).as("od")), "ok")
        .select(least(col("od"), col("sd")).as("start"),
          greatest(col("od"), col("sd")).as("end"))
      val deltas = iv.select(col("start").as("day"), lit(1L).as("delta"))
        .unionByName(iv.select(date_add(col("end"), 1).as("day"),
          lit(-1L).as("delta")))
        .groupBy("day").agg(sum(col("delta")).as("delta"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("day")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      deltas.withColumn("active", sum(col("delta")).over(w))
        .groupBy(date_format(col("day"), "yyyy-MM").as("month"))
        .agg(max(col("active")).as("max_active"),
          expr("max_by(active, day)").as("eom_active"))
        .orderBy("month")
    },

    // MARKOV TRANSITION MATRIX (r11): first-order event-type transitions
    // per user — the behavioral model behind next-event prediction and
    // journey analysis. One per-user sorted window derives (prev → next)
    // pairs, then a 25-row hash aggregate counts them; transition
    // probabilities are exact integer ppm over the source-state margin
    // (float division would make near-tied rankings engine-dependent).
    // At 100 TB: the window shuffle is the only data-sized exchange, and
    // its per-task state is one row lookback (lag 1) — nothing is
    // retained per user. Streaming face: streaming/MarkovChain, which
    // folds the same transitions with one (ts, type) state per user.
    "events_markov" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val t = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("src", lag(col("event_type"), 1).over(w))
        .filter(col("src").isNotNull)
      val cnt = t.groupBy(col("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("n"))
      cnt
        .withColumn("tot",
          sum(col("n")).over(Window.partitionBy("src")))
        .select(col("src"), col("dst"), col("n"),
          expr("(n * 1000000) div tot").as("p_ppm"))
        .orderBy("src", "dst")
    },

    // MARKOV ENTROPY RATE (r18): per source state, the Shannon entropy of
    // its outgoing transition distribution — "how predictable is the next
    // event given this one", the one-number sequel to events_markov's
    // matrix (H → 0: deterministic funnel; H → log2(k): uniform noise) —
    // plus the stationary weight π of each state in exact ppm. Same
    // one-user-shuffle lag as events_markov, then everything runs on the
    // ≤ k² transition ledger; the entropy uses text_entropy's exact
    // identity H = log2(tot) − Σ n·log2(n) / tot, so the float sum
    // crosses only the ≤ k per-state rows and the identical integers
    // feed the identical formula in the oracle, round(4) + 0.0.
    "events_entropy_rate" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val t = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("src", lag(col("event_type"), 1).over(w))
        .filter(col("src").isNotNull)
      val cnt = t.groupBy(col("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("n"))
      val per = cnt.groupBy("src").agg(
        sum(col("n")).as("tot"),
        count(lit(1)).as("n_dst"),
        sum(col("n").cast("double") * log2(col("n"))).as("nlg"))
      val total = cnt.agg(sum(col("n")).as("all"))
      per.crossJoin(broadcast(total))
        .select(col("src"), col("tot"), col("n_dst"),
          expr("CAST((CAST(tot AS DECIMAL(38,0)) * 1000000) div `all` AS BIGINT)")
            .as("pi_ppm"),
          (round(log2(col("tot")) - col("nlg") / col("tot"), 4) + lit(0.0))
            .as("h_bits_r"))
        .orderBy("src")
    },

    // VARIANCE-RATIO TEST (r18, Lo–MacKinlay form on population
    // variances): per event arm, Var(q-period value change) / (q ·
    // Var(1-period change)) at q = 4 — the classic "is this series a
    // random walk" diagnostic (VR ≈ 1: uncorrelated increments; < 1:
    // mean-reverting; > 1: trending), the hypothesis-test face next to
    // ts_autocorr's correlogram. One arm-partitioned sorted window pass
    // computes both lags (per-task state = a 4-row lookback), then the
    // exact DECIMAL(38,0) moment ledgers (Σd, Σd² per lag) make VR one
    // double expression — with the zero-variance guard as an EXACT
    // integer test (n·Σd² − (Σd)² > 0 in decimal), where a double-side
    // test could disagree between engines, round(4) + 0.0.
    "ts_variance_ratio" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
      val t = Tables.events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("vc"))
        .withColumn("d1", col("vc") - lag(col("vc"), 1).over(w))
        .withColumn("d4", col("vc") - lag(col("vc"), 4).over(w))
      t.groupBy("event_type")
        .agg(count(col("d1")).as("n1"),
          sum(col("d1").cast(d38)).as("s1"),
          sum(col("d1").cast(d38) * col("d1")).as("q1"),
          count(col("d4")).as("n4"),
          sum(col("d4").cast(d38)).as("s4"),
          sum(col("d4").cast(d38) * col("d4")).as("q4"))
        .select(col("event_type"), col("n1"), col("n4"),
          (round(expr(
            "CASE WHEN n4 > 0 AND CAST(n1 AS DECIMAL(38,0)) * q1 - s1 * s1 > 0 THEN " +
              "(greatest(CAST(q4 AS DOUBLE) / n4" +
              " - (CAST(s4 AS DOUBLE) / n4) * (CAST(s4 AS DOUBLE) / n4), 0.0) / 4.0)" +
              " / (CAST(q1 AS DOUBLE) / n1" +
              " - (CAST(s1 AS DOUBLE) / n1) * (CAST(s1 AS DOUBLE) / n1)) END"), 4)
            + lit(0.0)).as("vr_r"))
        .orderBy("event_type")
    },

    // POOLED BOX–PIERCE PORTMANTEAU (r18): per event arm, the joint
    // whiteness test over lags 1–5 of the per-user value series —
    // ts_autocorr answers "is lag 1 correlated", this answers "is the
    // correlogram AS A WHOLE flat" (Q = Σ_k n_k·ρ_k², the Box–Pierce
    // statistic pooled over user sequences, χ²₅ under the null). ONE
    // user-partitioned sorted window derives all five lags (per-task
    // state = a 5-row lookback), then one hash aggregate computes the
    // five corr pairs — corr drops a pair when EITHER side is null in
    // both engines, so the n_k weights count exactly the corr pairs
    // (value AND lag non-null, r19) and fall out of the same pass. A degenerate arm
    // (zero variance at any lag) yields NaN from Spark's corr but NULL
    // from DuckDB's — the isnan guard maps both faces to NULL Q. corr is
    // scale-invariant (the ts_autocorr argument) and the n_k·ρ_k²
    // amplification of last-ulp corr drift is ~1e-8 at this n, far
    // inside round(4).
    "ts_box_pierce" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val lagged = (1 to 5).foldLeft(
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"))) { (df, k) =>
        df.withColumn(s"l$k", lag(col("value"), k).over(w))
      }
      val terms = (1 to 5).map { k =>
        val c = corr(col("value"), col(s"l$k"))
        val safe = when(isnan(c), lit(null)).otherwise(c)
        // n_k is the TRUE corr pair count — corr drops pairs where the
        // current value is NULL, so the weight gates on value too (r19,
        // advice; corpus value is never null, hash unchanged)
        (count(when(col("value").isNotNull, col(s"l$k"))).cast("double")
          * safe * safe).as(s"t$k")
      }
      lagged.groupBy("event_type")
        .agg(count(col("l1")).as("n1"), count(col("l5")).as("n5"),
          (round(terms.reduce(_ + _), 4) + lit(0.0)).as("q_bp_r"))
        .orderBy("event_type")
    },

    // PERMUTATION ENTROPY (r18, Bandt–Pompe order 3): per event arm, the
    // Shannon entropy of the ordinal-pattern distribution over sliding
    // value triples within each user's sequence — the complexity measure
    // that sees STRUCTURE where variance-based tests see noise (a strict
    // sawtooth has two patterns, H = 1 bit; white noise fills all six,
    // H → log2 6). Comparisons run on EXACT integer cents; ties break by
    // position (the standard Bandt–Pompe stabilization: the earlier
    // element ranks lower), so the pattern of every triple is
    // deterministic and engine-identical — no doubles anywhere until the
    // final entropy, which reuses events_entropy_rate's exact identity
    // H = log2(n) − Σ c·log2(c)/n over the ≤ 6-row pattern ledger.
    // One user-partitioned sorted window (2-row lookback), one
    // map-side-combined (arm, pattern) aggregate, then arm-level folds.
    "ts_permutation_entropy" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val t = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("v2"))
        .withColumn("v1", lag(col("v2"), 1).over(w))
        .withColumn("v0", lag(col("v2"), 2).over(w))
        .filter(col("v0").isNotNull)
      // rank of element i = |{j : v_j < v_i, or v_j = v_i and j < i}|
      val r0 = (col("v1") < col("v0")).cast("int") +
        (col("v2") < col("v0")).cast("int")
      val r1 = (col("v0") <= col("v1")).cast("int") +
        (col("v2") < col("v1")).cast("int")
      val r2 = (col("v0") <= col("v2")).cast("int") +
        (col("v1") <= col("v2")).cast("int")
      val cnt = t
        .select(col("event_type"),
          concat(r0.cast("string"), r1.cast("string"), r2.cast("string"))
            .as("pattern"))
        .groupBy("event_type", "pattern").agg(count(lit(1)).as("n"))
      cnt.groupBy("event_type")
        .agg(sum(col("n")).as("n_triples"), count(lit(1)).as("n_patterns"),
          sum(col("n").cast("double") * log2(col("n"))).as("nlg"))
        .select(col("event_type"), col("n_triples"), col("n_patterns"),
          (round(log2(col("n_triples")) - col("nlg") / col("n_triples"), 4)
            + lit(0.0)).as("h_bits_r"))
        .orderBy("event_type")
    },

    // TURNING POINTS (r19): the peak/trough randomness screen — per event
    // arm, the share of interior points in each user's value sequence
    // that are STRICT local extrema (v0 < v1 > v2 or v0 > v1 < v2),
    // pooled over users. An i.i.d. series turns at 2/3 of interior
    // points; a trending or mean-reverting one departs — the
    // sign-pattern complement of ts_runs_test (runs watch the median
    // crossing; turning points watch local shape, the same lens
    // ts_permutation_entropy refines to full ordinal patterns).
    // Comparisons run on EXACT integer cents, ties break NOT-a-turn
    // (strict inequalities — deterministic and engine-identical), and
    // the output ratio is integer ppm, so there is no double anywhere.
    // One user-partitioned sorted window (2-row lookback — the
    // permutation-entropy shape) and one hash aggregate.
    "ts_turning_points" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("v2"))
        .withColumn("v1", lag(col("v2"), 1).over(w))
        .withColumn("v0", lag(col("v2"), 2).over(w))
        .filter(col("v0").isNotNull)
        .select(col("event_type"),
          (((col("v0") < col("v1")) && (col("v1") > col("v2"))) ||
            ((col("v0") > col("v1")) && (col("v1") < col("v2"))))
            .cast("long").as("turn"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_interior"), sum(col("turn")).as("n_turning"))
        .select(col("event_type"), col("n_interior"), col("n_turning"),
          expr("(n_turning * 1000000) div n_interior").as("turn_ppm"))
        .orderBy("event_type")
    },

    // SEASONAL STRENGTH (r18): per arm, how much of the value variance
    // the hour-of-day explains — the ANOVA R² over 24 hour blocks
    // (strength → 0: no diurnal pattern; → 1: the clock IS the signal),
    // the one-number companion to ts_seasonality's per-hour profile (that
    // shows the SHAPE; this says whether the shape matters). The
    // between/total decomposition rides exact integer ledgers: per
    // (arm, hour) n/Σc/Σc² in DECIMAL(38,0), then strength =
    // (Σ_h s_h²/n_h − S²/N)/(Q − S²/N) is one double expression from the
    // ≤ 24-row ledger — with the zero-variance degenerate gated by the
    // EXACT integer test N·Q − S² > 0 (the ts_variance_ratio precedent).
    // One corpus exchange on (arm, hour); everything after is 24 rows.
    "ts_seasonal_strength" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val c = floor(col("value") * 100 + 0.5).cast("long")
      val h = Tables.events(s, dir)
        .select(col("event_type").as("g"), hour(col("ts")).cast("long").as("hod"),
          c.as("c"), c.cast(d38).as("cd"))
        .groupBy("g", "hod")
        .agg(count(lit(1)).as("nh"), sum(col("cd")).as("sh"),
          sum(col("cd") * col("c")).as("qh"))
      h.groupBy("g")
        .agg(sum(col("nh")).as("n"), count(lit(1)).as("n_hours"),
          sum(col("sh")).as("s"), sum(col("qh")).as("q"),
          sum(col("sh").cast("double") * col("sh").cast("double") / col("nh"))
            .as("b"))
        .select(col("g"), col("n"), col("n_hours"),
          (round(expr(
            "CASE WHEN CAST(n AS DECIMAL(38,0)) * q - s * s > 0 THEN " +
              "(b - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)" +
              " / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)" +
              " END"), 4) + lit(0.0)).as("strength_r"))
        .orderBy("g")
    },

    // RUNNING DISTINCT (r18): per (user, active day), how many DISTINCT
    // event types the user has touched so far — the engagement-breadth
    // curve behind activation dashboards ("day N reached 3 features").
    // Exact cumulative distinct without carrying per-row sets: a type
    // contributes at its FIRST day only (min is order-independent), so
    // ONE corpus exchange on the (user, type, day) grain feeds both the
    // per-day event counts and the first-seen ledger, and the cumulative
    // count is a prefix sum of first-seen flags over each user's ≤ span
    // active days. At 100 TB the shuffle carries the (user, type, day)
    // grain — bounded by users × types × days, already far below the raw
    // corpus — and the window state is one running sum. Streaming face:
    // streaming/RunningDistinctMonitor (state = the same min-day ledger,
    // Σ = users × types).
    "window_running_distinct" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // the (user, type, day) ledger feeds BOTH consumers (per-day counts
      // + first-seen); materialize it once — AQE does NOT reuse the
      // aggregate across the two branches (measured: 4 parquet scans
      // without this), and the ledger is bounded by users × types × days
      // (the mann_kendall daily-ledger precedent)
      val g = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"),
          to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val daily = g.groupBy("user_id", "day")
        .agg(sum(col("n")).as("n_events"))
      val novel = g.groupBy("user_id", "event_type")
        .agg(min(col("day")).as("day"))
        .groupBy("user_id", "day").agg(count(lit(1)).as("novel"))
      val w = Window.partitionBy("user_id").orderBy("day")
      daily.join(novel, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), col("n_events"),
          sum(coalesce(col("novel"), lit(0L))).over(w).as("cum_types"))
        .orderBy("user_id", "day")
    },

    // CUSUM CHANGEPOINT (r11): per user, the point where the cumulative
    // deviation from the user's mean value peaks — the classic
    // change-detection statistic, in EXACT INTEGERS: with S = Σ cents and
    // n the user's count, the k-th prefix statistic n·(Σ_{i≤k} cents_i)
    // − k·S is the CUSUM scaled by n (value is exactly 2-decimal in this
    // corpus, so cents are lossless; integer sums are
    // partial-agg-order-proof where a float CUSUM would not be). The
    // argmax is a max_by over a (score, −event_id) struct — ONE hash
    // aggregate, skew-proof, not a rank window over the scored rows.
    "ts_changepoint" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          floor(col("value") * 100 + 0.5).cast("long").as("vc"))
      val stats = ev.groupBy("user_id")
        .agg(sum(col("vc")).as("s"), count(lit(1)).as("n"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val scored = ev.join(stats, "user_id")
        .withColumn("k", row_number().over(w).cast("long"))
        .withColumn("cs", sum(col("vc")).over(w))
        // r14 plan-audit lift: n·cs and k·s are count×cumulative-cents
        // products that wrap Long for ONE heavy user past n·Σcents >
        // 9.2e18 (~1.9e7 max-cents events under a single user_id — a bot
        // profile a 100 TB event log absolutely contains). DECIMAL(38,0)
        // on the Spark side, HUGEINT in the oracle; the reported statistic
        // is cast back to BIGINT after the argmax so the output schema is
        // unchanged.
        .withColumn("score", abs(
          col("n").cast(org.apache.spark.sql.types.DataTypes
            .createDecimalType(38, 0)) * col("cs")
            - col("k").cast(org.apache.spark.sql.types.DataTypes
              .createDecimalType(38, 0)) * col("s")))
      scored.groupBy("user_id")
        .agg(
          max(struct(col("score"), (-col("event_id")).as("ne"),
            col("k"), col("event_id").as("eid"))).as("b"),
          min(col("n")).as("n"))
        .select(col("user_id"), col("b.eid").as("cp_event"),
          col("b.k").as("cp_pos"), col("n"), col("b.score").cast("long").as("cusum_stat"))
        .orderBy("user_id")
    },

    // KAPLAN-MEIER SURVIVAL (r12): the censoring-aware lifetime curve —
    // per user, the observation runs from the first event to the LAST,
    // and the user "dies" only if that last event is the delete analog
    // ('error'); everyone else is right-censored (still alive when the
    // log ends), which is exactly what a naive churn-rate query gets
    // wrong. Lifetimes collapse to integer DAYS; per duration t the step
    // table carries deaths d_t and total exits e_t, the at-risk count
    // n_t = Σ_{t'≥t} e_t' rides a desc-ordered cumulative window, and the
    // survival curve is kept in LOG space as integer nanos — each death
    // step contributes round(ln((n−d)/n)·1e9) BEFORE the cumulative sum,
    // so the curve is bit-exact cross-engine (an exp() roundtrip would
    // reintroduce the last-ulp libm hazard for no analytical gain; S(t)
    // = exp(km_log_ns/1e9) when a human wants it). A step where n = d
    // sends S to exactly 0 — ln is undefined there, so the row carries a
    // NULL step and the `s_zero` flag latches instead. Scale shape: one
    // max-struct hash aggregate per user (the lww winner kernel), one
    // domain-bounded step table (≤ observation-span days, ~30 here —
    // like agg_ks_drift's histogram, the single-partition windows run
    // over the DOMAIN, never the corpus), output only at death times.
    "ts_survival_km" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val per = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(min(col("ts").cast("date")).as("d0"),
          max(struct(col("ts"), col("event_id"), col("event_type"))).as("w"))
        .select(
          datediff(col("w.ts").cast("date"), col("d0")).cast("long").as("t"),
          when(col("w.event_type") === "error", 1L).otherwise(0L).as("isd"))
      val byT = per.groupBy("t")
        .agg(sum(col("isd")).as("d"), count(lit(1)).as("e"))
      val wDesc = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAsc = Window.orderBy(col("t").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      byT
        .withColumn("n_at_risk", sum(col("e")).over(wDesc))
        .withColumn("step_ns",
          when(col("d") === 0L, lit(0L))
            .when(col("n_at_risk") > col("d"),
              round(log((col("n_at_risk") - col("d")).cast("double")
                / col("n_at_risk")) * 1e9).cast("long"))
            .otherwise(lit(null)))
        .withColumn("km_log_ns", sum(col("step_ns")).over(wAsc))
        .withColumn("s_zero",
          (max(when(col("d") > 0L && col("n_at_risk") === col("d"), 1L)
            .otherwise(0L)).over(wAsc) === 1L))
        .filter(col("d") > 0L)
        .select(col("t").as("t_days"), col("n_at_risk"),
          col("d").as("d_deaths"), (col("e") - col("d")).as("n_censored"),
          col("km_log_ns"), col("s_zero"))
        .orderBy("t_days")
    },

    // FORECAST BACKTEST (r12): the eval half of forecasting — before any
    // model ships, the question is "does it beat the naive baselines?",
    // and the scale-free way to answer it is MASE (Hyndman): the ratio
    // of the candidate's MAE to the one-step-naive MAE. Candidate here
    // is the SEASONAL-NAIVE forecast ŝ_d = s_{d−7} (the weekly-cycle
    // baseline every events series has) scored against naive-1
    // ŝ_d = s_{d−1}, in EXACT integers end to end: daily cents totals,
    // absolute-error sums on DECIMAL(38,0)/HUGEINT, MASE in integer ppm.
    // Scale shape: ONE map-side-combined aggregate collapses the corpus
    // to the arms×days daily ledger (domain-bounded, like the cents
    // histograms); both lag self-joins and the final aggregate run over
    // that tiny artifact. Eval days are those with BOTH lags present —
    // calendar self-joins, not window lag, so gaps self-exclude.
    "ts_forecast_eval" -> { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type").as("g"), col("ts").cast("date").as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("sc"))
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      daily.as("b")
        .join(daily.as("l1"), col("b.g") === col("l1.g")
          && col("l1.day") === date_sub(col("b.day"), 1))
        .join(daily.as("l7"), col("b.g") === col("l7.g")
          && col("l7.day") === date_sub(col("b.day"), 7))
        .groupBy(col("b.g").as("event_type"))
        .agg(count(lit(1)).as("n_eval_days"),
          sum(abs(col("b.sc") - col("l1.sc")).cast(d38)).as("sae1"),
          sum(abs(col("b.sc") - col("l7.sc")).cast(d38)).as("sae7"))
        .select(col("event_type"), col("n_eval_days"),
          expr("sae1 div CAST(n_eval_days AS DECIMAL(38,0))").cast("long")
            .as("mae1_cents"),
          expr("sae7 div CAST(n_eval_days AS DECIMAL(38,0))").cast("long")
            .as("mae7_cents"),
          // sae1 = 0 (a flat daily series) must be guarded IDENTICALLY on
          // both engines: Spark's div returns NULL where DuckDB's //
          // raises — both sides emit NULL explicitly via the same CASE.
          when(col("sae1") > lit(0).cast(d38),
            expr("(sae7 * CAST(1000000 AS DECIMAL(38,0))) div sae1"))
            .cast("long").as("mase_ppm"))
        .orderBy("event_type")
    },

    // COHORT LTV MATRIX (r12): the revenue face of `events_retention` —
    // per (signup-day cohort, day offset ≤ 7): active users, that day's
    // cents, and the RUNNING lifetime value (the triangle chart growth
    // teams actually read; retention counts say who came back, LTV says
    // what they were worth). Exact integer cents end to end, the daily
    // sum on DECIMAL(38,0)/HUGEINT per the house overflow rule. Scale
    // shape: one cohort aggregate + one shuffle join on user_id (the
    // retention kernel), then everything lives on the days×8 cell
    // DOMAIN — the cumulative window partitions per cohort over ≤ 8
    // rows, never data.
    "events_cohort_ltv" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
      val cohort = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      val cells = ev.join(cohort, "user_id")
        .withColumn("day_offset",
          datediff(col("day"), col("cohort_day")).cast("long"))
        .filter(col("day_offset") <= 7L)
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct(col("user_id")).as("n_users"),
          sum(col("c").cast(d38)).cast("long").as("cents"))
      val w = Window.partitionBy("cohort_day").orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
      cells.withColumn("cum_cents", sum(col("cents")).over(w))
        .orderBy("cohort_day", "day_offset")
    },

    // MAX DRAWDOWN of the DETRENDED curve (r12): the worst
    // peak-to-trough fall of each arm's cumulative deviation-from-mean
    // — "how far below its running best did this arm's cumulative
    // performance sink, and when" — the risk/regression metric next to
    // the EWMA/anomaly family. A raw revenue curve only rises, so the
    // drawdown runs on the CUSUM-detrended equity: scaling by n (the
    // ts_changepoint trick) keeps it EXACT — equity_k = Σ_{d≤k}
    // (n·c_d − S) is the n-scaled deviation curve, running peak is a
    // cumulative max, drawdown = peak − equity, the trough rides one
    // max_by-struct with an earliest-day tie-break, and the reported
    // cents value is one truncating div at the end. All windows
    // partition per arm over the ≤ span-days daily ledger
    // (domain-bounded) after ONE map-side-combined aggregate collapses
    // the corpus; n·c rides DECIMAL(38,0) per the house overflow rule.
    "ts_drawdown" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val c = floor(col("value") * 100 + 0.5).cast("long")
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type").as("g"), col("ts").cast("date").as("day"))
        .agg(sum(c.cast(d38)).as("dc"))
      val tot = daily.groupBy("g")
        .agg(sum(col("dc")).as("s"), count(lit(1)).as("n"))
      val wCum = Window.partitionBy("g").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val curve = daily.join(broadcast(tot), "g")
        .withColumn("dev", col("dc") * col("n").cast(d38) - col("s"))
        .withColumn("equity", sum(col("dev")).over(wCum))
        .withColumn("peak", max(col("equity")).over(wCum))
        .withColumn("dd", col("peak") - col("equity"))
        .withColumn("off", datediff(col("day"),
          min(col("day")).over(Window.partitionBy("g"))).cast("long"))
      curve.groupBy(col("g").as("event_type"))
        .agg(max(col("n")).as("n_days"),
          max(struct(col("dd"), (-col("off")).as("noff"),
            col("day"))).as("b"))
        .select(col("event_type"), col("n_days"),
          expr("CAST(b.dd div CAST(n_days AS DECIMAL(38,0)) AS BIGINT)")
            .as("max_drawdown_cents"),
          col("b.day").as("trough_day"))
        .orderBy("event_type")
    },

    // JOURNEY PATH MINING (r12): the 3-step extension of the markov
    // lag-1 matrix — which (s1 → s2 → s3) event-type paths do users
    // actually walk, and what share of all observed 3-step journeys is
    // each. Same scale shape as events_markov: the per-user sorted
    // window keeps a 2-row lookback (lag 2 — nothing retained per
    // user), the hash aggregate lands on the ≤ |types|³ = 125-cell
    // path DOMAIN, and the share denominator is ONE broadcast 1-row
    // total. The ppm share rides DECIMAL(38,0) before the ×10⁶ (house
    // overflow rule: n·10⁶ wraps Long at ~9·10¹² path instances — a
    // 100 TB log is exactly there).
    "events_path" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val t = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("s1", lag(col("event_type"), 2).over(w))
        .withColumn("s2", lag(col("event_type"), 1).over(w))
        .filter(col("s1").isNotNull)
      val cnt = t.groupBy(col("s1"), col("s2"), col("event_type").as("s3"))
        .agg(count(lit(1)).as("n"))
      cnt.crossJoin(broadcast(cnt.agg(sum(col("n")).as("tot"))))
        .select(col("s1"), col("s2"), col("s3"), col("n"),
          expr("CAST((CAST(n AS DECIMAL(38,0)) * 1000000) div " +
            "CAST(tot AS DECIMAL(38,0)) AS BIGINT)").as("share_ppm"))
        .orderBy("s1", "s2", "s3")
    },

    // RFM SEGMENTATION (r12; r13 distributed): the classic
    // customer-value cube — recency (days since last event, vs the
    // corpus's last observed day), frequency (event count) and monetary
    // (cents sum) per user, each cut into exact quintiles, then the
    // 5×5×5 segment cube with user counts and revenue. Score 1 = best
    // quintile on every axis (most recent / most frequent / highest
    // spend). Exactness: quintiles over a TOTAL order (metric, then
    // user_id) are deterministic and engine-identical, where
    // threshold-based bucketing would be tie-sensitive. Scale shape:
    // everything after the first aggregate lives on the USER dimension
    // (corpus ÷ events per user), materialized once; the three quintile
    // ranks are ONE DistributedRank.globalRanks pass (three orders stacked
    // over literal range bounds, never a partition-less window) that
    // carries `money` and `nu` through, so no join back to the user table
    // follows; then the exact NTILE formula. The ≤125-row cube is sorted
    // in one partition rather than range-partitioned (a sampling job for
    // 125 rows). Money sums ride DECIMAL(38,0) per the house overflow rule.
    "events_rfm" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val per = Tables.events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .groupBy("user_id")
        .agg(max(col("day")).as("last_day"), count(lit(1)).as("freq"),
          sum(col("c").cast(d38)).cast("long").as("money"))
      val sc = per.crossJoin(broadcast(per.agg(
          max(col("last_day")).as("maxd"), count(lit(1)).as("nu"))))
        .select(col("user_id"), col("freq"), col("money"), col("nu"),
          datediff(col("maxd"), col("last_day")).cast("long").as("rec"))
        .localCheckpoint()
      DistributedRank.globalRanks(sc,
          "r_rnk" -> Seq(col("rec"), col("user_id")),
          "f_rnk" -> Seq(col("freq").desc, col("user_id")),
          "m_rnk" -> Seq(col("money").desc, col("user_id")))
        .withColumn("r_score",
          DistributedRank.ntileFromRank(col("r_rnk"), col("nu"), 5))
        .withColumn("f_score",
          DistributedRank.ntileFromRank(col("f_rnk"), col("nu"), 5))
        .withColumn("m_score",
          DistributedRank.ntileFromRank(col("m_rnk"), col("nu"), 5))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_users"),
          sum(col("money").cast(d38)).cast("long").as("money_cents"))
        .coalesce(1)
        .sortWithinPartitions("r_score", "f_score", "m_score")
    },

    // GROWTH ACCOUNTING (r16): the weekly new / retained / resurrected /
    // churned user ledger — the canonical growth decomposition (every
    // weekly active is exactly one of new/retained/resurrected, and every
    // lapsed week emits one churn event at week+7), so the four series
    // reconcile: WAU_w = new + retained + resurrected and
    // WAU_w − WAU_{w+7} = churned_{w+7} − (new + resurrected)_{w+7}.
    // Scale shape: collapse to the distinct (user, week) table first (the
    // dau_mau kernel), then ONE user-partitioned window pass computes
    // both lag and lead — state classification and churn attribution ride
    // the same sort — and one bounded (weeks × 4)-row aggregate finishes.
    // The data-horizon guard (no churn verdict past the last observed
    // week) is a broadcast 1-row max, not a driver collect.
    "events_growth_accounting" -> { (s, dir) =>
      val wk = Tables.events(s, dir)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("week")
      val st = wk
        .withColumn("prev", lag(col("week"), 1).over(w))
        .withColumn("nxt", lead(col("week"), 1).over(w))
      val states = st.select(col("week"),
        when(col("prev").isNull, lit("new"))
          .when(datediff(col("week"), col("prev")) === 7, lit("retained"))
          .otherwise(lit("resurrected")).as("state"),
        col("user_id"))
      val churn = st
        .filter(col("nxt").isNull || datediff(col("nxt"), col("week")) > 7)
        .select(date_add(col("week"), 7).as("week"), col("user_id"))
        .crossJoin(broadcast(wk.agg(max(col("week")).as("mxw"))))
        .filter(col("week") <= col("mxw"))
        .select(col("week"), lit("churned").as("state"), col("user_id"))
      states.unionByName(churn)
        .groupBy("week", "state")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("week", "state")
    },

    // PARETO / LORENZ CONCENTRATION (r16): revenue share by spend decile
    // — the "what share do the top 10% carry" readout next to agg_gini's
    // scalar. Users rank by exact integer cents through
    // [[DistributedRank.globalRanks]] (distributed sort over literal range
    // bounds, never a partition-less window), deciles via the ntile-identical
    // rank arithmetic, then the cumulative share is a triangular
    // self-join over the TEN-row decile table (windowless on metadata-
    // sized input). Shares in exact
    // ppm through DECIMAL(38,0) truncating division.
    "events_pareto" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      // cents coalesce to 0 (r16 ADVICE): a user whose every value is
      // NULL must rank as a zero-spend user in BOTH engines, not ride on
      // Spark desc and DuckDB DESC happening to agree on NULLS LAST
      val per = Tables.events(s, dir)
        .select(col("user_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .groupBy("user_id")
        .agg(coalesce(sum(col("c").cast(d38)), lit(0).cast(d38))
          .cast("long").as("cents"))
      // the user table is materialized once: globalRanks reads it three
      // times (sample, bucket counts, rank)
      val sc = per.crossJoin(broadcast(per.agg(
        count(lit(1)).as("nu"), sum(col("cents").cast(d38)).as("tot"))))
        .localCheckpoint()
      val r = DistributedRank.globalRanks(sc,
        "rnk" -> Seq(col("cents").desc, col("user_id")))
      val byDec = r
        .withColumn("decile",
          DistributedRank.ntileFromRank(col("rnk"), col("nu"), 10))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_users"),
          sum(col("cents").cast(d38)).as("dec_cents"),
          min(col("tot")).as("tot"))
        .localCheckpoint() // 10 rows; the self-join below must not replay
                           // the whole rank subtree twice
      byDec.as("a")
        .join(broadcast(byDec.as("b").select(col("b.decile").as("bd"),
          col("b.dec_cents").as("bc"))), col("bd") <= col("a.decile"))
        .groupBy(col("a.decile").as("decile"))
        .agg(min(col("a.n_users")).as("n_users"),
          min(col("a.dec_cents").cast("long")).as("cents"),
          expr("CAST((min(a.dec_cents) * 1000000) div min(a.tot) AS BIGINT)")
            .as("share_ppm"),
          expr("CAST((sum(bc) * 1000000) div min(a.tot) AS BIGINT)")
            .as("cum_share_ppm"))
        .orderBy("decile")
    },

    // DAU / MAU STICKINESS (r12): daily actives, trailing-28-day
    // monthly actives, and their ratio — the engagement staple. The
    // scale-correct shape for a windowed COUNT DISTINCT: collapse the
    // corpus to the distinct (user, day) table first, then each
    // user-day CONTRIBUTES ITSELF to the 28 days it keeps the user
    // "monthly active" for (one explode of a 28-element date sequence —
    // bounded 28× blowup of the already-reduced table), and MAU is an
    // ordinary hash countDistinct per day. The naive alternatives both
    // die at scale: a 28-day range self-join is O(user-days × window)
    // with a skewed band join, and approx_count_distinct over a sliding
    // window isn't exact. Active-day output only (inner join with the
    // DAU side); stickiness in exact ppm through DECIMAL(38,0).
    "events_dau_mau" -> { (s, dir) =>
      val ud = Tables.events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
      val dau = ud.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
      val mau = ud.select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 27))).as("day"))
        .groupBy("day").agg(countDistinct(col("user_id")).as("mau"))
      dau.join(mau, "day")
        .select(col("day"), col("dau"), col("mau"),
          expr("CAST((CAST(dau AS DECIMAL(38,0)) * 1000000) div " +
            "CAST(mau AS DECIMAL(38,0)) AS BIGINT)").as("stickiness_ppm"))
        .orderBy("day")
    },

    // POWER-USER HISTOGRAM (r13): the engagement-concentration readout —
    // per DISTINCT-ACTIVE-DAY count: how many users sit at that
    // engagement level, their revenue, and exact ppm shares of users and
    // money (the "do the most-active users carry the revenue" question
    // every growth/monetization review starts with). The histogram keys
    // on the exact active-day count, so the output is bounded by the
    // CALENDAR-DAY domain regardless of corpus or user count — the
    // drift-histogram bound. Scale shape: one user aggregate (the
    // dau_mau kernel: countDistinct(day) rides the per-user hash
    // aggregate), one ≤|days| histogram aggregate, one broadcast 1-row
    // total — no window anywhere. Shares ride DECIMAL(38,0).
    "events_power_users" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
      val per = ev.groupBy("user_id")
        .agg(countDistinct(col("day")).as("days_active"),
          sum(col("c").cast(d38)).as("money"))
      val hist = per.groupBy("days_active")
        .agg(count(lit(1)).as("n_users"),
          sum(col("money")).as("moneyd"))
        .localCheckpoint() // ≤ |days| rows; totals derive from it — one scan
      val tot = hist.agg(sum(col("n_users")).as("nu"),
        sum(col("moneyd")).as("tm"))
      hist
        .select(col("days_active"), col("n_users"),
          col("moneyd").cast("long").as("money_cents"))
        .crossJoin(broadcast(tot))
        .select(col("days_active"), col("n_users"), col("money_cents"),
          expr("CAST((CAST(n_users AS DECIMAL(38,0)) * 1000000) div " +
            "CAST(nu AS DECIMAL(38,0)) AS BIGINT)").as("users_ppm"),
          expr("CAST((CAST(money_cents AS DECIMAL(38,0)) * 1000000) div tm " +
            "AS BIGINT)").as("money_ppm"))
        .orderBy("days_active")
    },

    // CONVERSION LAG (r13): time from a user's FIRST ACTIVITY to their
    // FIRST PURCHASE — the activation-latency distribution every funnel
    // review pairs with the conversion rate (window_funnel says who
    // converts; this says how long it takes). One user-keyed aggregate
    // collapses the corpus to (first_seen, first_purchase) per user
    // (min + conditional min in a single map-side-combined pass — no
    // window, no self-join), converted users bucket by whole days of
    // lag, and the cumulative share rides a window over the ≤|days|
    // histogram. Exact integers: lag in whole days by truncating
    // microsecond division, shares in DECIMAL(38,0) ppm.
    "events_conversion_lag" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val per = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(min(unix_micros(col("ts"))).as("first_us"),
          min(when(col("event_type") === "purchase",
            unix_micros(col("ts")))).as("conv_us"))
        .filter(col("conv_us").isNotNull)
      val hist = per
        .select(expr("(conv_us - first_us) div 86400000000").as("lag_days"))
        .groupBy("lag_days").agg(count(lit(1)).as("n_users"))
        .localCheckpoint() // ≤ |days| rows; the total derives from it
      val tot = hist.agg(sum(col("n_users")).as("nu"))
      val w = Window.orderBy("lag_days")
        .rowsBetween(Window.unboundedPreceding, 0)
      hist.crossJoin(broadcast(tot))
        .withColumn("cum", sum(col("n_users")).over(w))
        .select(col("lag_days"), col("n_users"),
          expr("CAST((CAST(n_users AS DECIMAL(38,0)) * 1000000) div " +
            "CAST(nu AS DECIMAL(38,0)) AS BIGINT)").as("users_ppm"),
          expr("CAST((CAST(cum AS DECIMAL(38,0)) * 1000000) div " +
            "CAST(nu AS DECIMAL(38,0)) AS BIGINT)").as("cum_ppm"))
        .orderBy("lag_days")
    },

    // THEIL-SEN SLOPE (r13): the robust trend ESTIMATE next to
    // agg_mann_kendall's trend TEST — the median of all pairwise slopes
    // (µcents/day), immune to the outlier days that wreck agg_regression's
    // least squares. Exactness recipe: slopes in integer micro-units via
    // sign-symmetric truncating division (sign(dy) · (|dy|·10⁶ div dx) —
    // Spark's div truncates toward zero while DuckDB's // floors, so the
    // division only ever sees non-negative operands and the engines
    // can't disagree on negative slopes); dy·10⁶ rides DECIMAL(38,0) per
    // the house rule; the median is the LOWER median by rank over the
    // deterministic (slope, day-pair) total order. Scale shape: the
    // O(d²) pair table lives on the CALENDAR-bounded daily ledger
    // (~4k pairs per arm at 90 days, constant in corpus size) and the
    // median window partitions per arm over that bounded table.
    "ts_theil_sen" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type").as("g"), col("ts").cast("date").as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("sc"))
        .localCheckpoint()
      val pairs = daily.as("a")
        .join(daily.as("b"),
          col("a.g") === col("b.g") && col("a.day") < col("b.day"))
        .select(col("a.g").as("g"),
          datediff(col("b.day"), col("a.day")).cast("long").as("dx"),
          (col("b.sc") - col("a.sc")).as("dy"),
          col("a.day").as("di"), col("b.day").as("dj"))
        .withColumn("q",
          expr("CAST((CAST(abs(dy) AS DECIMAL(38,0)) * 1000000) div dx AS BIGINT)"))
        .withColumn("slope_us",
          when(col("dy") >= 0L, col("q")).otherwise(-col("q")))
      val w = Window.partitionBy("g").orderBy(col("slope_us"), col("di"), col("dj"))
      pairs
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("np", count(lit(1)).over(Window.partitionBy("g")))
        .filter(col("rn") === expr("(np + 1) div 2"))
        .select(col("g").as("event_type"), col("np").as("n_pairs"),
          col("slope_us").as("ts_slope_us"))
        .orderBy("event_type")
    },

    // CUSUM DRIFT MONITOR (r13): the page-style change detector over the
    // per-arm daily revenue ledger — S_t = max(0, S_{t−1} + (x_t −
    // target)) with target = the arm's mean daily cents (total div
    // n_days, exact). The reset-at-zero recurrence is NOT a plain window
    // fold, but the classic prefix identity makes it one: with P_t the
    // prefix sum of deviations, S_t = P_t − min(0, min_{j≤t} P_j) — two
    // cumulative windows over the arms×days DOMAIN ledger (bounded like
    // every ts_* sibling: the windows partition per arm over ≤ a few
    // hundred day rows, never data). Integer cents end to end; alarm =
    // S_t exceeding the arm's own target (one mean day of excess).
    "ts_cusum" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      // ledger read twice (targets + the windowed walk) — one scan
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type").as("g"), col("ts").cast("date").as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("sc"))
        .localCheckpoint()
      val tgt = daily.groupBy("g")
        .agg(expr("CAST(sum(CAST(sc AS DECIMAL(38,0))) div count(*) AS BIGINT)")
          .as("target"))
      val w = Window.partitionBy("g").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      daily.join(broadcast(tgt), "g")
        .withColumn("p", sum((col("sc") - col("target")).cast(d38)).over(w))
        .withColumn("cusum",
          (col("p") - least(lit(0).cast(d38), min(col("p")).over(w)))
            .cast("long"))
        .select(col("g").as("event_type"), col("day"), col("sc").as("cents"),
          col("cusum").as("cusum_cents"),
          (col("cusum") > col("target")).as("alarm"))
        .orderBy("event_type", "day")
    },

    // WALD–WOLFOWITZ RUNS TEST (r16): is each event type's value series
    // random around its mean, or does it trend/oscillate? Signs are exact
    // integer facts (cents·n vs the exact DECIMAL sum — no float mean, no
    // tie ambiguity: rows AT the mean drop, as the test prescribes), the
    // run count is one lag over the per-type ordered sign sequence, and
    // the z-score is computed ONCE per group from the three sufficient
    // integers (R, n1, n2) — identical double arithmetic on both engines,
    // rounded at 4. One sort-shuffle per type + one bounded aggregate.
    "ts_runs_test" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val e = Tables.events(s, dir).select(col("event_type"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
      val st = e.groupBy("event_type")
        .agg(sum(col("c").cast(d38)).as("sc"), count(lit(1)).as("n"))
      val sgn = e.join(broadcast(st), "event_type")
        .filter(col("c").cast(d38) * col("n") =!= col("sc"))
        .select(col("event_type"), col("event_id"),
          when(col("c").cast(d38) * col("n") > col("sc"), 1L).otherwise(0L)
            .as("sgn"))
      val w = Window.partitionBy("event_type").orderBy("event_id")
      val runs = sgn.withColumn("prev", lag(col("sgn"), 1).over(w))
        .groupBy("event_type")
        .agg(
          sum(when(col("prev").isNull || col("prev") =!= col("sgn"), 1L)
            .otherwise(0L)).as("r"),
          sum(col("sgn")).as("n1"),
          sum(lit(1L) - col("sgn")).as("n2"))
      val m = (col("n1") + col("n2")).cast("double")
      val p = lit(2.0) * col("n1") * col("n2")
      runs.filter(col("n1") > 0 && col("n2") > 0)
        .select(col("event_type"), col("r"), col("n1"), col("n2"),
          (round((col("r") - (lit(1.0) + p / m)) /
            sqrt(p * (p - m) / (m * m * (m - lit(1.0)))), 4) + lit(0.0))
            .as("z"))
        .orderBy("event_type")
    },

    // INTER-ARRIVAL PROFILE (r16): the distribution of per-user gaps
    // between consecutive same-type events, bucketed by decimal MAGNITUDE
    // (digit count of the µs gap — an exact integer bucket both engines
    // render identically, where a log-bucket would ride libm). The
    // burstiness/session-boundary readout: one (user, type) sorted window
    // pass, one bounded (type × ≤20 digit-classes) aggregate.
    "events_interarrival" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("t", "event_id")
      val g = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("unix_micros(ts)").as("t"))
        .withColumn("prev", lag(col("t"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("event_type"), (col("t") - col("prev")).as("gap_us"))
      g.groupBy(col("event_type"),
          length(col("gap_us").cast("string")).cast("int").as("gap_digits"))
        .agg(count(lit(1)).as("n"),
          min("gap_us").as("min_gap_us"), max("gap_us").as("max_gap_us"))
        .orderBy("event_type", "gap_digits")
    },

    // BURSTINESS COEFFICIENT (r17): B = (σ − μ)/(σ + μ) over each arm's
    // interarrival gaps — the one-number "Poisson (B≈0) vs bursty (B→1)
    // vs metronome (B→−1)" readout next to events_interarrival's digit
    // histogram. Same per-(user, arm) lag as the histogram (one user
    // shuffle, per-task state = one user's stream), then the arm's
    // moment ledger in EXACT integer-µs sums (Σg, Σg² in DECIMAL(38,0)
    // — order-independent where double gap sums would not be); σ is the
    // population form and B one double expression from the exact ledger,
    // identical text in the oracle, round(4) + 0.0.
    "events_burstiness" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("t", "event_id")
      val g = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("unix_micros(ts)").as("t"))
        .withColumn("prev", lag(col("t"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("event_type"), (col("t") - col("prev")).as("gap_us"))
      // Degenerate guards (both faces, identical text): all-zero gaps make
      // σ + μ = 0 (Spark Divide → NULL, DuckDB IEEE → NaN) — sg > 0 ⟺ some
      // gap > 0 since gaps are non-negative; and near-zero variance can
      // leave the double qg/n − (sg/n)² fractionally NEGATIVE, where the
      // engines' sqrt(neg) behavior differs — greatest(…, 0.0) clamps it.
      g.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("gap_us").cast(d38)).as("sg"),
          sum(col("gap_us").cast(d38) * col("gap_us")).as("qg"))
        .select(col("event_type"), col("n"),
          (round(expr(
            "CASE WHEN sg > 0 THEN " +
              "(sqrt(greatest(CAST(qg AS DOUBLE) / n" +
              " - (CAST(sg AS DOUBLE) / n) * (CAST(sg AS DOUBLE) / n), 0.0))" +
              " - CAST(sg AS DOUBLE) / n)" +
              " / (sqrt(greatest(CAST(qg AS DOUBLE) / n" +
              " - (CAST(sg AS DOUBLE) / n) * (CAST(sg AS DOUBLE) / n), 0.0))" +
              " + CAST(sg AS DOUBLE) / n) END"), 4) + lit(0.0)).as("b_r"))
        .orderBy("event_type")
    })

  val oracles: Map[String, String] = Map(
    "events_pareto" ->
      """WITH per AS (
        |  SELECT user_id,
        |         CAST(coalesce(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)), 0)
        |              AS BIGINT) AS cents
        |  FROM events GROUP BY 1
        |), nt AS (
        |  SELECT cents,
        |         CAST(ntile(10) OVER (ORDER BY cents DESC, user_id)
        |              AS BIGINT) AS decile
        |  FROM per
        |), bd AS (
        |  SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
        |         CAST(sum(cents) AS BIGINT) AS dec_cents
        |  FROM nt GROUP BY 1
        |), tt AS (SELECT CAST(sum(cents) AS HUGEINT) AS tot FROM per)
        |SELECT a.decile, a.n_users, a.dec_cents AS cents,
        |       CAST((CAST(a.dec_cents AS HUGEINT) * 1000000) // tt.tot
        |            AS BIGINT) AS share_ppm,
        |       CAST((CAST(sum(b.dec_cents) AS HUGEINT) * 1000000) // tt.tot
        |            AS BIGINT) AS cum_share_ppm
        |FROM bd a JOIN bd b ON b.decile <= a.decile CROSS JOIN tt
        |GROUP BY a.decile, a.n_users, a.dec_cents, tt.tot
        |ORDER BY a.decile""".stripMargin,

    "events_interarrival" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS t FROM events
        |), g AS (
        |  SELECT event_type,
        |         t - lag(t) OVER (PARTITION BY user_id, event_type
        |                          ORDER BY t, event_id) AS gap_us
        |  FROM e
        |)
        |SELECT event_type,
        |       CAST(length(CAST(gap_us AS VARCHAR)) AS INT) AS gap_digits,
        |       CAST(count(*) AS BIGINT) AS n,
        |       min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_burstiness" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS t FROM events
        |), g AS (
        |  SELECT event_type,
        |         t - lag(t) OVER (PARTITION BY user_id, event_type
        |                          ORDER BY t, event_id) AS gap_us
        |  FROM e
        |), s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(gap_us AS HUGEINT)) AS sg,
        |         sum(CAST(gap_us AS HUGEINT) * gap_us) AS qg
        |  FROM g WHERE gap_us IS NOT NULL GROUP BY 1
        |)
        |SELECT event_type, n,
        |       round(CASE WHEN sg > 0 THEN
        |             (sqrt(greatest(CAST(qg AS DOUBLE) / n
        |                - (CAST(sg AS DOUBLE) / n) * (CAST(sg AS DOUBLE) / n), 0.0))
        |              - CAST(sg AS DOUBLE) / n)
        |             / (sqrt(greatest(CAST(qg AS DOUBLE) / n
        |                - (CAST(sg AS DOUBLE) / n) * (CAST(sg AS DOUBLE) / n), 0.0))
        |              + CAST(sg AS DOUBLE) / n) END, 4) + 0.0 AS b_r
        |FROM s ORDER BY event_type""".stripMargin,

    "ts_runs_test" ->
      """WITH e AS (
        |  SELECT event_type, event_id,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events
        |), st AS (
        |  SELECT event_type, sum(CAST(c AS DECIMAL(38,0))) AS sc,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1
        |), sgn AS (
        |  SELECT e.event_type, e.event_id,
        |         CASE WHEN CAST(e.c AS DECIMAL(38,0)) * st.n > st.sc
        |              THEN 1 ELSE 0 END AS sgn
        |  FROM e JOIN st USING (event_type)
        |  WHERE CAST(e.c AS DECIMAL(38,0)) * st.n <> st.sc
        |), runs AS (
        |  SELECT event_type,
        |         CAST(sum(CASE WHEN prev IS NULL OR prev <> sgn
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS r,
        |         CAST(sum(sgn) AS BIGINT) AS n1,
        |         CAST(sum(1 - sgn) AS BIGINT) AS n2
        |  FROM (SELECT event_type, sgn,
        |               lag(sgn) OVER (PARTITION BY event_type
        |                              ORDER BY event_id) AS prev
        |        FROM sgn)
        |  GROUP BY 1
        |)
        |SELECT event_type, r, n1, n2,
        |       round((r - (1.0 + (2.0 * n1 * n2) / CAST(n1 + n2 AS DOUBLE))) /
        |             sqrt(((2.0 * n1 * n2) *
        |                   ((2.0 * n1 * n2) - CAST(n1 + n2 AS DOUBLE))) /
        |                  ((CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE))
        |                   * (CAST(n1 + n2 AS DOUBLE) - 1.0))), 4)
        |         + 0.0 AS z
        |FROM runs WHERE n1 > 0 AND n2 > 0 ORDER BY event_type""".stripMargin,

    "events_growth_accounting" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id,
        |         CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week
        |  FROM events
        |), st AS (
        |  SELECT user_id, week,
        |         lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev,
        |         lead(week) OVER (PARTITION BY user_id ORDER BY week) AS nxt
        |  FROM wk
        |), states AS (
        |  SELECT week,
        |         CASE WHEN prev IS NULL THEN 'new'
        |              WHEN week - prev = 7 THEN 'retained'
        |              ELSE 'resurrected' END AS state,
        |         user_id
        |  FROM st
        |  UNION ALL
        |  SELECT week + 7 AS week, 'churned' AS state, user_id
        |  FROM st
        |  WHERE (nxt IS NULL OR nxt - week > 7)
        |    AND week + 7 <= (SELECT max(week) FROM wk)
        |)
        |SELECT week, state, CAST(count(*) AS BIGINT) AS n_users
        |FROM states GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_retention" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), cohort AS (
        |  SELECT user_id, min(day) AS cohort_day FROM days GROUP BY 1
        |)
        |SELECT c.cohort_day,
        |       CAST(d.day - c.cohort_day AS BIGINT) AS day_offset,
        |       CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
        |FROM days d JOIN cohort c USING (user_id)
        |WHERE d.day - c.cohort_day <= 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "window_funnel" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        |), lv AS (
        |  SELECT u.user_id,
        |    CAST(EXISTS (SELECT 1 FROM e v
        |                 WHERE v.user_id = u.user_id
        |                   AND v.event_type = 'view') AS INT) AS l1,
        |    CAST(EXISTS (SELECT 1 FROM e v JOIN e c
        |                   ON c.user_id = v.user_id
        |                  AND v.event_type = 'view' AND c.event_type = 'click'
        |                  AND v.t < c.t AND c.t - v.t <= 1800000000
        |                 WHERE v.user_id = u.user_id) AS INT) AS l2,
        |    CAST(EXISTS (SELECT 1 FROM e v JOIN e c
        |                   ON c.user_id = v.user_id
        |                  AND v.event_type = 'view' AND c.event_type = 'click'
        |                  AND v.t < c.t
        |                 JOIN e p
        |                   ON p.user_id = v.user_id
        |                  AND p.event_type = 'purchase'
        |                  AND c.t < p.t AND p.t - v.t <= 1800000000
        |                 WHERE v.user_id = u.user_id) AS INT) AS l3
        |  FROM (SELECT DISTINCT user_id FROM e) u)
        |SELECT step_no, step, n_users FROM (
        |  SELECT 1 AS step_no, 'view' AS step,
        |         CAST(sum(l1) AS BIGINT) AS n_users FROM lv
        |  UNION ALL
        |  SELECT 2, 'view>click', CAST(sum(l2) AS BIGINT) FROM lv
        |  UNION ALL
        |  SELECT 3, 'view>click>purchase', CAST(sum(l3) AS BIGINT) FROM lv)
        |ORDER BY step_no""".stripMargin,

    "window_tumbling" ->
      """SELECT strftime(to_timestamp(floor(epoch(ts) / 600) * 600), '%Y-%m-%d %H:%M:%S') AS w_start,
        |       event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "window_sliding" ->
      """SELECT w_start, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT strftime(to_timestamp(floor(epoch(ts) / 300) * 300), '%Y-%m-%d %H:%M:%S') AS w_start FROM events
        |  UNION ALL
        |  SELECT strftime(to_timestamp(floor(epoch(ts) / 300) * 300 - 300), '%Y-%m-%d %H:%M:%S') FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "window_session" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), numbered AS (
        |  SELECT user_id, ts, value,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
        |       strftime(max(ts) + INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S') AS s_end,
        |       CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_v
        |FROM numbered GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,

    "window_pattern_match" ->
      """WITH seqs AS (
        |  SELECT user_id,
        |         string_agg(substr(event_type, 1, 1), ''
        |                    ORDER BY epoch_us(ts), event_id) AS seq
        |  FROM events GROUP BY user_id
        |)
        |SELECT p.pattern,
        |       CAST(sum(CASE WHEN regexp_matches(s.seq, p.pattern)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_users
        |FROM seqs s
        |CROSS JOIN (VALUES ('^s'), ('v.*c.*p'), ('v[^p]*p'), ('vc')) p(pattern)
        |GROUP BY p.pattern ORDER BY p.pattern""".stripMargin,

    "window_gap_fill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS v
        |  FROM events GROUP BY 1, 2
        |), dense AS (
        |  SELECT user_id,
        |         CAST(unnest(generate_series(min(day), max(day),
        |           INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM daily GROUP BY user_id
        |)
        |SELECT s.user_id, s.day, COALESCE(d.n, 0) AS n,
        |       last_value(d.v IGNORE NULLS) OVER (
        |         PARTITION BY s.user_id ORDER BY s.day) AS v_ff,
        |       d.n IS NULL AS filled
        |FROM dense s LEFT JOIN daily d USING (user_id, day)
        |ORDER BY user_id, day""".stripMargin,

    "ts_autocorr" ->
      """WITH l AS (
        |  SELECT event_type, value,
        |         lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_v
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |       round(corr(value, prev_v), 4) + 0.0 AS autocorr_r
        |FROM l WHERE prev_v IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ts_anomaly_zscore" ->
      """WITH f AS (
        |  SELECT event_id, user_id, event_type, value,
        |         avg(value) OVER w AS m,
        |         stddev_samp(value) OVER w AS sd,
        |         count(value) OVER w AS n_hist
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, event_type, round((value - m) / sd, 3) AS z_r
        |FROM f
        |WHERE n_hist >= 10 AND sd > 0.001 AND abs((value - m) / sd) > 2.5
        |ORDER BY event_id""".stripMargin,

    "ts_ewma" ->
      """WITH r AS (
        |  SELECT user_id, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS tot
        |  FROM events)
        |SELECT user_id, CAST(max(tot) AS BIGINT) AS n_events,
        |       round(sum(CASE WHEN rn = 1 THEN pow(0.9, tot - 1)
        |                      ELSE 0.1 * pow(0.9, tot - rn) END * value), 4)
        |         AS ewma_r
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t FROM events)
        |SELECT p.event_id, p.user_id, lt.eid AS src_event_id,
        |       lt.et AS src_type, p.t - lt.t AS delta_us
        |FROM (SELECT * FROM e WHERE event_type = 'purchase') p
        |JOIN LATERAL (
        |  SELECT s.event_id AS eid, s.event_type AS et, s.t
        |  FROM e s
        |  WHERE s.user_id = p.user_id AND s.event_type IN ('click', 'view')
        |    AND (s.t < p.t OR (s.t = p.t AND s.event_id < p.event_id))
        |  ORDER BY s.t DESC, s.event_id DESC LIMIT 1) lt ON true
        |WHERE p.t - lt.t <= 1800000000
        |ORDER BY p.event_id""".stripMargin,

    "ts_cross_corr" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) // 600000000 AS bucket, event_type FROM events),
        |counts AS (
        |  SELECT bucket,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_buy
        |  FROM ev GROUP BY bucket),
        |grid AS (
        |  SELECT unnest(generate_series(min(bucket), max(bucket))) AS bucket FROM ev),
        |dense AS (
        |  SELECT g.bucket, coalesce(c.n_click, 0) AS n_click,
        |         coalesce(c.n_buy, 0) AS n_buy
        |  FROM grid g LEFT JOIN counts c ON g.bucket = c.bucket)
        |SELECT lag, CAST(count(*) AS BIGINT) AS n_buckets,
        |       round(corr(c.n_click, p.n_buy), 4) + 0.0 AS xcorr_r
        |FROM dense c
        |CROSS JOIN (VALUES (0::BIGINT), (1::BIGINT), (2::BIGINT)) l(lag)
        |JOIN dense p ON c.bucket + l.lag = p.bucket
        |GROUP BY lag ORDER BY lag""".stripMargin,

    "ts_seasonality" ->
      """WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day, hour(ts) AS hod, value FROM events),
        |trend AS (SELECT day, avg(value) AS day_mean FROM ev GROUP BY day)
        |SELECT hod, CAST(count(*) AS BIGINT) AS n,
        |       round(avg(value), 4) AS mean_v_r,
        |       round(avg(value - day_mean), 4) + 0.0 AS seasonal_r
        |FROM ev JOIN trend USING (day)
        |GROUP BY hod ORDER BY hod""".stripMargin,

    "window_streaks" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
        |  FROM events),
        |i AS (
        |  SELECT user_id, day,
        |         day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |           AS island
        |  FROM d),
        |runs AS (
        |  SELECT user_id, island, CAST(count(*) AS BIGINT) AS len
        |  FROM i GROUP BY user_id, island)
        |SELECT user_id, max(len) AS longest_streak,
        |       CAST(count(*) AS BIGINT) AS n_streaks,
        |       CAST(sum(len) AS BIGINT) AS n_active_days
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ts_ohlc" ->
      """SELECT CAST(epoch_us(ts) // 600000000 AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(arg_min(value, epoch_us(ts)), 2) AS open_r,
        |       round(max(value), 2) AS high_r,
        |       round(min(value), 2) AS low_r,
        |       round(arg_max(value, epoch_us(ts)), 2) AS close_r
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "ts_active_intervals" ->
      """WITH iv AS (
        |  SELECT least(CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS s,
        |         greatest(CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS e
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |), deltas AS (
        |  SELECT day, CAST(sum(delta) AS BIGINT) AS delta FROM (
        |    SELECT s AS day, 1 AS delta FROM iv
        |    UNION ALL
        |    SELECT e + 1 AS day, -1 AS delta FROM iv) t
        |  GROUP BY day
        |), act AS (
        |  SELECT day, sum(delta) OVER (ORDER BY day) AS active FROM deltas)
        |SELECT strftime(day, '%Y-%m') AS month,
        |       CAST(max(active) AS BIGINT) AS max_active,
        |       CAST(arg_max(active, day) AS BIGINT) AS eom_active
        |FROM act GROUP BY 1 ORDER BY month""".stripMargin,

    "events_markov" ->
      """WITH t AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS src
        |  FROM events),
        |c AS (
        |  SELECT src, event_type AS dst, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE src IS NOT NULL GROUP BY 1, 2)
        |SELECT src, dst, n,
        |       CAST((n * 1000000) // (sum(n) OVER (PARTITION BY src))
        |            AS BIGINT) AS p_ppm
        |FROM c ORDER BY src, dst""".stripMargin,

    "events_entropy_rate" ->
      """WITH t AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS src
        |  FROM events),
        |c AS (
        |  SELECT src, event_type AS dst, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE src IS NOT NULL GROUP BY 1, 2),
        |per AS (
        |  SELECT src, CAST(sum(n) AS BIGINT) AS tot,
        |         CAST(count(*) AS BIGINT) AS n_dst,
        |         sum(CAST(n AS DOUBLE) * log2(n)) AS nlg
        |  FROM c GROUP BY 1),
        |tt AS (SELECT CAST(sum(n) AS BIGINT) AS "all" FROM c)
        |SELECT src, tot, n_dst,
        |       CAST((CAST(tot AS HUGEINT) * 1000000) // "all" AS BIGINT) AS pi_ppm,
        |       round(log2(tot) - nlg / tot, 4) + 0.0 AS h_bits_r
        |FROM per CROSS JOIN tt ORDER BY src""".stripMargin,

    "ts_variance_ratio" ->
      """WITH t AS (
        |  SELECT event_type,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
        |         vc - lag(vc, 1) OVER w AS d1,
        |         vc - lag(vc, 4) OVER w AS d4
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
        |g AS (
        |  SELECT event_type,
        |         CAST(count(d1) AS BIGINT) AS n1,
        |         sum(CAST(d1 AS HUGEINT)) AS s1,
        |         sum(CAST(d1 AS HUGEINT) * d1) AS q1,
        |         CAST(count(d4) AS BIGINT) AS n4,
        |         sum(CAST(d4 AS HUGEINT)) AS s4,
        |         sum(CAST(d4 AS HUGEINT) * d4) AS q4
        |  FROM t GROUP BY 1)
        |SELECT event_type, n1, n4,
        |       round(CASE WHEN n4 > 0 AND CAST(n1 AS HUGEINT) * q1 - s1 * s1 > 0 THEN
        |             (greatest(CAST(q4 AS DOUBLE) / n4
        |              - (CAST(s4 AS DOUBLE) / n4) * (CAST(s4 AS DOUBLE) / n4), 0.0) / 4.0)
        |             / (CAST(q1 AS DOUBLE) / n1
        |              - (CAST(s1 AS DOUBLE) / n1) * (CAST(s1 AS DOUBLE) / n1)) END, 4)
        |         + 0.0 AS vr_r
        |FROM g ORDER BY event_type""".stripMargin,

    "ts_box_pierce" ->
      """WITH l AS (
        |  SELECT event_type, value,
        |         lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2,
        |         lag(value, 3) OVER w AS l3, lag(value, 4) OVER w AS l4,
        |         lag(value, 5) OVER w AS l5
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
        |SELECT event_type,
        |       CAST(count(l1) AS BIGINT) AS n1, CAST(count(l5) AS BIGINT) AS n5,
        |       round(count(CASE WHEN value IS NOT NULL THEN l1 END) * corr(value, l1) * corr(value, l1)
        |           + count(CASE WHEN value IS NOT NULL THEN l2 END) * corr(value, l2) * corr(value, l2)
        |           + count(CASE WHEN value IS NOT NULL THEN l3 END) * corr(value, l3) * corr(value, l3)
        |           + count(CASE WHEN value IS NOT NULL THEN l4 END) * corr(value, l4) * corr(value, l4)
        |           + count(CASE WHEN value IS NOT NULL THEN l5 END) * corr(value, l5) * corr(value, l5), 4)
        |         + 0.0 AS q_bp_r
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ts_permutation_entropy" ->
      """WITH t AS (
        |  SELECT event_type,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v2,
        |         lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 1) OVER w AS v1,
        |         lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 2) OVER w AS v0
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
        |p AS (
        |  SELECT event_type,
        |         CAST(CAST((v1 < v0)::INT + (v2 < v0)::INT AS VARCHAR)
        |           || CAST((v0 <= v1)::INT + (v2 < v1)::INT AS VARCHAR)
        |           || CAST((v0 <= v2)::INT + (v1 <= v2)::INT AS VARCHAR)
        |           AS VARCHAR) AS pattern
        |  FROM t WHERE v0 IS NOT NULL),
        |c AS (
        |  SELECT event_type, pattern, CAST(count(*) AS BIGINT) AS n
        |  FROM p GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_triples,
        |       CAST(count(*) AS BIGINT) AS n_patterns,
        |       round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 4) + 0.0
        |         AS h_bits_r
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ts_turning_points" ->
      """WITH t AS (
        |  SELECT event_type,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v2,
        |         lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 1) OVER w AS v1,
        |         lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 2) OVER w AS v0
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
        |p AS (
        |  SELECT event_type,
        |         CAST(CASE WHEN (v0 < v1 AND v1 > v2) OR (v0 > v1 AND v1 < v2)
        |              THEN 1 ELSE 0 END AS BIGINT) AS turn
        |  FROM t WHERE v0 IS NOT NULL)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_interior,
        |       CAST(sum(turn) AS BIGINT) AS n_turning,
        |       CAST((sum(turn) * 1000000) // count(*) AS BIGINT) AS turn_ppm
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ts_seasonal_strength" ->
      """WITH h AS (
        |  SELECT event_type AS g, hour(ts) AS hod,
        |         CAST(count(*) AS BIGINT) AS nh,
        |         sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)) AS sh,
        |         sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)
        |             * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS qh
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT g, CAST(sum(nh) AS BIGINT) AS n,
        |         CAST(count(*) AS BIGINT) AS n_hours,
        |         sum(sh) AS s, sum(qh) AS q,
        |         sum(CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE) / nh) AS b
        |  FROM h GROUP BY 1)
        |SELECT g, n, n_hours,
        |       round(CASE WHEN CAST(n AS HUGEINT) * q - s * s > 0 THEN
        |             (b - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
        |             / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
        |             END, 4) + 0.0 AS strength_r
        |FROM g ORDER BY g""".stripMargin,

    "window_running_distinct" ->
      """WITH g AS (
        |  SELECT user_id, event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |daily AS (
        |  SELECT user_id, day, CAST(sum(n) AS BIGINT) AS n_events
        |  FROM g GROUP BY 1, 2),
        |novel AS (
        |  SELECT user_id, day, CAST(count(*) AS BIGINT) AS novel
        |  FROM (SELECT user_id, event_type, min(day) AS day
        |        FROM g GROUP BY 1, 2)
        |  GROUP BY 1, 2)
        |SELECT d.user_id, d.day, d.n_events,
        |       CAST(sum(COALESCE(v.novel, 0)) OVER (
        |         PARTITION BY d.user_id ORDER BY d.day) AS BIGINT) AS cum_types
        |FROM daily d LEFT JOIN novel v USING (user_id, day)
        |ORDER BY user_id, day""".stripMargin,

    "ts_changepoint" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, ts,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
        |  FROM events),
        |st AS (
        |  SELECT user_id, CAST(sum(vc) AS BIGINT) AS s,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM ev GROUP BY 1),
        |c AS (
        |  SELECT ev.user_id, ev.event_id, st.n, st.s,
        |         CAST(row_number() OVER w AS BIGINT) AS k,
        |         CAST(sum(vc) OVER (PARTITION BY ev.user_id
        |                ORDER BY ts, event_id
        |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
        |  FROM ev JOIN st USING (user_id)
        |  WINDOW w AS (PARTITION BY ev.user_id ORDER BY ts, event_id)),
        |sc AS (
        |  SELECT user_id, n, event_id, k,
        |         abs(CAST(n AS HUGEINT) * cs - CAST(k AS HUGEINT) * s) AS score
        |  FROM c)
        |SELECT user_id,
        |       max(struct_pack(score := score, ne := -event_id,
        |                       k := k, eid := event_id)).eid AS cp_event,
        |       max(struct_pack(score := score, ne := -event_id,
        |                       k := k, eid := event_id)).k AS cp_pos,
        |       min(n) AS n,
        |       CAST(max(struct_pack(score := score, ne := -event_id,
        |                       k := k, eid := event_id)).score AS BIGINT) AS cusum_stat
        |FROM sc GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ts_survival_km" ->
      """WITH per AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS d0,
        |         max(struct_pack(ts := ts, event_id := event_id,
        |                         event_type := event_type)) AS w
        |  FROM events GROUP BY user_id),
        |life AS (
        |  SELECT CAST(CAST(w.ts AS DATE) - d0 AS BIGINT) AS t,
        |         CASE WHEN w.event_type = 'error' THEN 1 ELSE 0 END AS isd
        |  FROM per),
        |byt AS (
        |  SELECT t, CAST(sum(isd) AS BIGINT) AS d,
        |         CAST(count(*) AS BIGINT) AS e
        |  FROM life GROUP BY t),
        |r AS (
        |  SELECT t, d, e,
        |         CAST(sum(e) OVER (ORDER BY t DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS n_at_risk
        |  FROM byt),
        |st AS (
        |  SELECT t, d, e, n_at_risk,
        |         CASE WHEN d = 0 THEN 0
        |              WHEN n_at_risk > d THEN CAST(round(
        |                ln(CAST(n_at_risk - d AS DOUBLE) / n_at_risk) * 1e9)
        |                AS BIGINT)
        |              ELSE NULL END AS step_ns
        |  FROM r),
        |curve AS (
        |  SELECT t, d, e, n_at_risk,
        |         CAST(sum(step_ns) OVER w AS BIGINT) AS km_log_ns,
        |         max(CASE WHEN d > 0 AND n_at_risk = d THEN 1 ELSE 0 END)
        |           OVER w = 1 AS s_zero
        |  FROM st
        |  WINDOW w AS (ORDER BY t ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT t AS t_days, n_at_risk, d AS d_deaths,
        |       e - d AS n_censored, km_log_ns, s_zero
        |FROM curve WHERE d > 0 ORDER BY t_days""".stripMargin,

    "ts_forecast_eval" ->
      """WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sc
        |  FROM events GROUP BY 1, 2)
        |SELECT b.g AS event_type, CAST(count(*) AS BIGINT) AS n_eval_days,
        |       CAST(CAST(sum(abs(b.sc - l1.sc)) AS HUGEINT) // count(*)
        |            AS BIGINT) AS mae1_cents,
        |       CAST(CAST(sum(abs(b.sc - l7.sc)) AS HUGEINT) // count(*)
        |            AS BIGINT) AS mae7_cents,
        |       CAST(CASE WHEN sum(abs(b.sc - l1.sc)) > 0
        |            THEN (CAST(sum(abs(b.sc - l7.sc)) AS HUGEINT) * 1000000)
        |                 // sum(abs(b.sc - l1.sc)) END AS BIGINT) AS mase_ppm
        |FROM daily b
        |JOIN daily l1 ON l1.g = b.g AND l1.day = b.day - 1
        |JOIN daily l7 ON l7.g = b.g AND l7.day = b.day - 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |ch AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
        |cells AS (
        |  SELECT cohort_day, CAST(day - cohort_day AS BIGINT) AS day_offset,
        |         CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users,
        |         CAST(sum(c) AS BIGINT) AS cents
        |  FROM ev JOIN ch USING (user_id)
        |  WHERE day - cohort_day <= 7
        |  GROUP BY 1, 2)
        |SELECT cohort_day, day_offset, n_users, cents,
        |       CAST(sum(cents) OVER (PARTITION BY cohort_day
        |         ORDER BY day_offset
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS cum_cents
        |FROM cells ORDER BY cohort_day, day_offset""".stripMargin,

    "ts_drawdown" ->
      """WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS dc
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(sum(dc) AS HUGEINT) AS s,
        |               CAST(count(*) AS BIGINT) AS n
        |        FROM daily GROUP BY g),
        |curve AS (
        |  SELECT daily.g, daily.day, tot.n,
        |         CAST(daily.dc AS HUGEINT) * tot.n - tot.s AS dev
        |  FROM daily JOIN tot ON daily.g = tot.g),
        |eq AS (
        |  SELECT g, day, n,
        |         sum(dev) OVER w AS equity,
        |         CAST(day - min(day) OVER (PARTITION BY g) AS BIGINT) AS off
        |  FROM curve
        |  WINDOW w AS (PARTITION BY g ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |pk AS (
        |  SELECT g, day, n, equity, off,
        |         max(equity) OVER w2 AS peak
        |  FROM eq
        |  WINDOW w2 AS (PARTITION BY g ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |dd AS (SELECT g, day, n, peak - equity AS dd, off FROM pk)
        |SELECT g AS event_type, max(n) AS n_days,
        |       CAST(max(struct_pack(dd := dd, noff := -off, day := day)).dd
        |            // CAST(max(n) AS HUGEINT) AS BIGINT)
        |         AS max_drawdown_cents,
        |       max(struct_pack(dd := dd, noff := -off, day := day)).day
        |         AS trough_day
        |FROM dd GROUP BY g ORDER BY event_type""".stripMargin,

    "events_path" ->
      """WITH t AS (
        |  SELECT user_id, event_type,
        |         lag(event_type, 2) OVER w AS s1,
        |         lag(event_type, 1) OVER w AS s2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT s1, s2, event_type AS s3, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE s1 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT s1, s2, s3, n,
        |       CAST((CAST(n AS HUGEINT) * 1000000)
        |            // (SELECT sum(n) FROM c) AS BIGINT) AS share_ppm
        |FROM c ORDER BY s1, s2, s3""".stripMargin,

    "events_rfm" ->
      """WITH per AS (
        |  SELECT user_id, max(CAST(ts AS DATE)) AS last_day,
        |         CAST(count(*) AS BIGINT) AS freq,
        |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |              AS BIGINT) AS money
        |  FROM events GROUP BY 1),
        |sc AS (
        |  SELECT user_id, freq, money,
        |         CAST((SELECT max(last_day) FROM per) - last_day
        |              AS BIGINT) AS rec
        |  FROM per),
        |nt AS (
        |  SELECT freq, money,
        |         CAST(ntile(5) OVER (ORDER BY rec, user_id) AS BIGINT)
        |           AS r_score,
        |         CAST(ntile(5) OVER (ORDER BY freq DESC, user_id) AS BIGINT)
        |           AS f_score,
        |         CAST(ntile(5) OVER (ORDER BY money DESC, user_id) AS BIGINT)
        |           AS m_score
        |  FROM sc)
        |SELECT r_score, f_score, m_score,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(money) AS BIGINT) AS money_cents
        |FROM nt GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "events_dau_mau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (
        |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM ud GROUP BY 1),
        |sp AS (
        |  SELECT user_id, day + CAST(o AS INTEGER) AS day
        |  FROM ud, LATERAL (SELECT unnest(range(0, 28)) AS o)),
        |mau AS (
        |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        |  FROM sp GROUP BY 1)
        |SELECT dau.day AS day, dau.dau, mau.mau,
        |       CAST((CAST(dau.dau AS HUGEINT) * 1000000) // mau.mau
        |            AS BIGINT) AS stickiness_ppm
        |FROM dau JOIN mau ON dau.day = mau.day
        |ORDER BY day""".stripMargin,

    "events_power_users" ->
      """WITH per AS (
        |  SELECT user_id,
        |         CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS days_active,
        |         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS money
        |  FROM events GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nu,
        |         CAST(sum(money) AS HUGEINT) AS tm FROM per)
        |SELECT days_active,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(money) AS BIGINT) AS money_cents,
        |       CAST((CAST(count(*) AS HUGEINT) * 1000000) // nu AS BIGINT)
        |         AS users_ppm,
        |       CAST((CAST(sum(money) AS HUGEINT) * 1000000) // tm AS BIGINT)
        |         AS money_ppm
        |FROM per, tot GROUP BY days_active, nu, tm ORDER BY days_active""".stripMargin,

    "events_conversion_lag" ->
      """WITH per AS (
        |  SELECT user_id, min(epoch_us(ts)) AS first_us,
        |         min(CASE WHEN event_type = 'purchase'
        |                  THEN epoch_us(ts) END) AS conv_us
        |  FROM events GROUP BY 1),
        |hist AS (
        |  SELECT (conv_us - first_us) // 86400000000 AS lag_days,
        |         CAST(count(*) AS BIGINT) AS n_users
        |  FROM per WHERE conv_us IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_users) AS HUGEINT) AS nu FROM hist),
        |c AS (
        |  SELECT lag_days, n_users,
        |         sum(n_users) OVER (ORDER BY lag_days
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM hist)
        |SELECT CAST(lag_days AS BIGINT) AS lag_days, n_users,
        |       CAST((CAST(n_users AS HUGEINT) * 1000000) // nu AS BIGINT)
        |         AS users_ppm,
        |       CAST((CAST(cum AS HUGEINT) * 1000000) // nu AS BIGINT)
        |         AS cum_ppm
        |FROM c, tot ORDER BY lag_days""".stripMargin,

    "ts_theil_sen" ->
      """WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |           AS sc
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.g, b.day - a.day AS dx, b.sc - a.sc AS dy,
        |         a.day AS di, b.day AS dj
        |  FROM daily a JOIN daily b ON a.g = b.g AND a.day < b.day),
        |sl AS (
        |  SELECT g, di, dj,
        |         CASE WHEN dy >= 0
        |              THEN CAST((CAST(abs(dy) AS HUGEINT) * 1000000) // dx
        |                        AS BIGINT)
        |              ELSE -CAST((CAST(abs(dy) AS HUGEINT) * 1000000) // dx
        |                         AS BIGINT) END AS slope_us
        |  FROM p),
        |r AS (
        |  SELECT g, slope_us,
        |         row_number() OVER (PARTITION BY g
        |                            ORDER BY slope_us, di, dj) AS rn,
        |         count(*) OVER (PARTITION BY g) AS np
        |  FROM sl)
        |SELECT g AS event_type, CAST(np AS BIGINT) AS n_pairs,
        |       slope_us AS ts_slope_us
        |FROM r WHERE rn = (np + 1) // 2
        |ORDER BY event_type""".stripMargin,

    "ts_cusum" ->
      """WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |           AS sc
        |  FROM events GROUP BY 1, 2),
        |tgt AS (
        |  SELECT g, CAST(CAST(sum(sc) AS HUGEINT) // count(*) AS BIGINT)
        |           AS target
        |  FROM daily GROUP BY 1),
        |p AS (
        |  SELECT d.g, d.day, d.sc, t.target,
        |         sum(CAST(d.sc - t.target AS HUGEINT)) OVER w AS p
        |  FROM daily d JOIN tgt t ON d.g = t.g
        |  WINDOW w AS (PARTITION BY d.g ORDER BY d.day
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c AS (
        |  SELECT g, day, sc, target,
        |         CAST(p - least(CAST(0 AS HUGEINT), min(p) OVER w)
        |              AS BIGINT) AS cusum
        |  FROM p
        |  WINDOW w AS (PARTITION BY g ORDER BY day
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT g AS event_type, day, sc AS cents, cusum AS cusum_cents,
        |       cusum > target AS alarm
        |FROM c ORDER BY event_type, day""".stripMargin)
}
