package graft.ops

import graft.T
import graft.functions.ScalableRank
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators over the events table, batch formulations —
  * sessionization, time bucketing, pivoting. The streaming variants
  * (watermarks, session_window, dropDuplicatesWithinWatermark) live in
  * graft.streaming and are ScalaTest-verified; these batch forms are the
  * DuckDB-oracle-checkable equivalents (SURVEY.md §2.2 Streaming).
  *
  * Scale posture: sessionization is one shuffle (by user) + an in-order
  * scan per user partition — the batch analog of keyed streaming state.
  * Time bucketing uses Spark's window() on the event-time column, which
  * is a pure projection (no shuffle beyond the final agg).
  */
object EventOps {
  type Q = (SparkSession, String) => DataFrame

  /** Day index of `ts` from the events' first day. */
  private val eventDay: Column = datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
  /** Week index: floor of day / 7 (`div` and `//` disagree before the
    * first day). */
  private val eventWeek: Column = floor(eventDay / 7.0).cast("bigint")
  /** Exact integer cents of `value` (the q149-proven round(value·100)). */
  private val eventCents: Column = expr("CAST(round(value * 100) AS BIGINT)")

  val queries: Map[String, Q] = Map(
    // Gap-based sessionization (30 min): lag → new-session flag →
    // running sum = session id → per-session rollup. Epochs are floored
    // to whole seconds in BOTH engines (unix_timestamp ≡ floor(epoch)).
    "q74_sessionize" -> ((s, d) =>
      sessionTagged(T.events(s, d))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
             (max(col("ep")) - min(col("ep"))).as("dur_s"),
             round(sum(col("value")), 2).as("session_value"))
        .orderBy(col("user_id"), col("session_id"))),

    // Tumbling 1-hour event-time windows via Spark's window() — the
    // same construct the streaming path uses; batch-equivalent of a
    // watermarked windowed aggregation.
    "q75_time_buckets" -> ((s, d) =>
      T.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .select(col("w.start").as("hour_bucket"), col("event_type"), col("n"), col("total_value"))
        .orderBy(col("hour_bucket"), col("event_type"))),

    // Pivot: event_type counts per user-id bucket (explicit value list →
    // deterministic output columns; single shuffle + conditional aggs).
    "q76_event_pivot" -> ((s, d) =>
      T.events(s, d)
        .withColumn("bucket", col("user_id") % 10)
        .groupBy(col("bucket"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("bucket"))),

    // As-of join (SURVEY.md §2.2 "range/as-of join"): for each purchase,
    // the latest click by the same user at-or-before it. Implemented the
    // 100 TB way: tag + union both sides, ONE shuffle on user_id, then a
    // running max over event time — never the naive theta join, whose
    // per-user cross product blows up on heavy users. Click rows sort
    // before purchases at equal timestamps (kind 0 < 1) so ties are
    // inclusive, matching ASOF >= semantics.
    "q77_asof_join" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clickPurchaseUnion(T.events(s, d))
        .withColumn("last_click_ts", max(when(col("kind") === 0, col("ts"))).over(w))
        .filter(col("kind") === 1)
        .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"),
                col("last_click_ts"))
        .orderBy(col("event_id"))
    }),

    // Ordered funnel: per user, earliest signup → first click strictly
    // after it → first purchase strictly after that. Each stage's time
    // is conditional on the PREVIOUS stage's time (a user's clicks
    // before signup don't count — round-1 advice caught the global-min
    // formulation missing this). Three chained whole-partition window
    // mins over the same user partitioning = ONE shuffle of events, no
    // per-stage joins; the per-user collapse reuses the partitioning
    // and the final funnel count is a tiny global agg.
    "q85_event_funnel" -> ((s, d) => orderedFunnel(T.events(s, d))),

    // PII scrub audit (the redaction report a pipeline files before
    // shipping data): three patterns — digit runs, emails, IPv4 — are
    // counted and scrubbed per event payload; the rollup reports hit
    // volumes, affected-event counts, and how many DISTINCT payloads
    // survive scrubbing (payload diversity after redaction). Pure
    // projection + one event_type-keyed agg; the distinct-count is the
    // only state and is bounded by payload diversity, not event count.
    // Spark regexp_replace is global by default; DuckDB needs 'g'.
    "q111_pii_scrub_audit" -> ((s, d) => {
      import graft.functions.Pii
      T.events(s, d)
        .select(col("event_type"), col("props"))
        .withColumn("n_num", Pii.numHits(col("props")))
        .withColumn("n_email", Pii.emailHits(col("props")))
        .withColumn("n_ip", Pii.ipHits(col("props")))
        .withColumn("scrubbed", Pii.scrub(col("props")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("n_num")).as("n_num_hits"),
          sum(col("n_email")).as("n_email_hits"),
          sum(col("n_ip")).as("n_ip_hits"),
          sum(when(col("n_num") + col("n_email") + col("n_ip") > 0, 1L)
            .otherwise(0L)).as("n_affected"),
          countDistinct(col("scrubbed")).as("n_distinct_scrubbed"))
        .orderBy(col("event_type"))
    }),

    // Cohort retention matrix — the classic product-analytics rollup
    // (users grouped by first-seen week × how many weeks later they
    // were still active). All arithmetic is integer week indices from
    // a fixed epoch, so the matrix hash-checks. Plan shape: the
    // (user, week) activity set is one user-keyed distinct agg; the
    // first-seen week is a user-keyed min derived from it (same
    // partitioning — exchange reuse); the join back is user-keyed;
    // the matrix agg output is ≤ weeks² rows. Nothing in the plan
    // holds more than per-user state; at 100 TB this is two keyed
    // shuffles of the activity set, never of raw events. The week
    // index is an explicit FLOOR of the day distance (Spark `div`
    // truncates toward zero, DuckDB `//` floors — they only agree on
    // non-negative distances, so both sides floor a double ratio and
    // pre-epoch events land in negative weeks identically).
    // Time-series resample + gap-fill (the metric-dashboard / feature-
    // engineering regularizer): per-user DAILY series over the user's
    // own [first,last] observed span, missing days LINEARLY interpolated
    // between the neighboring observed days. All values ride as exact
    // integers (avg-of-cents ×100 → 4 implied decimals) so the
    // interpolation numerator pv·(nd-day)+nv·(day-pd) is integer and
    // non-negative (events.value >= 0 at every SF) — Spark's truncating
    // DIV and DuckDB's flooring // then agree exactly, the q148
    // discipline. Scale: the grid explode is |span| rows per user
    // (bounded by the calendar, not the event count); one (user,day)
    // join exchange + one user-hash window exchange — user_id is HIGH-
    // cardinality (millions in production), so Window.partitionBy is
    // the right tool (CLAUDE.md's low-card rule doesn't apply); both
    // fill directions share one sort (two frames, same ordering).
    // Endpoints are observed by construction, so every interior gap has
    // both neighbors and the interpolation is total.
    "q149_resample_interpolate" -> ((s, d) => {
      val daily = T.events(s, d)
        .select(col("user_id"),
          eventDay.cast("long").as("day"),
          eventCents.as("cents"))
        .groupBy(col("user_id"), col("day"))
        .agg(expr("CAST((sum(cents) * 100) DIV count(*) AS BIGINT)").as("v"))
      resampleInterpolate(daily).orderBy(col("user_id"), col("day"))
    }),

    // Markov transition matrix (the path-analysis op next to funnel/
    // retention): per-user event sequences → (from_type, to_type)
    // counts + outflow permille. One user-keyed window (high-card) for
    // lead(); the matrix is ≤ |types|² rows so outflow totals come
    // back as a BROADCAST join, never a window over the ~5-value
    // from_type (the q31/q35 low-cardinality rule). Permille is exact
    // integer division.
    "q153_event_transitions" -> ((s, d) =>
      transitions(T.events(s, d)).orderBy(col("from_type"), col("to_type"))),

    // Path-pattern matching (MATCH_RECOGNIZE-lite): users whose event
    // path contains click IMMEDIATELY followed by purchase — adjacency
    // is what the ordered funnel (q85) structurally cannot express.
    // Each user's path is one deterministic string (sorted by ts,
    // event_id), built in a single user-keyed aggregation — the
    // sequence never leaves its group, so the 100 TB cost is one
    // user-hash shuffle of (type, ts) pairs; the regex runs per USER
    // row, not per event. Count is non-overlapping scan order —
    // identical in both engines for a literal pattern.
    "q156_path_pattern" -> ((s, d) =>
      pathPattern(T.events(s, d), "click,purchase").orderBy(col("user_id"))),

    "q132_cohort_retention" -> ((s, d) => {
      val act = T.events(s, d)
        .select(col("user_id"), eventWeek.as("wk"))
        .distinct()
      val cohort = act.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      act.join(cohort, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_wk"), col("week_offset"))
    }),

    // Funnel conversion by cohort — q132's cohort assignment crossed
    // with q85's ordered stage times: per first-seen week, how many
    // users signed up, clicked after signing up, purchased after
    // clicking, and the stage-to-stage conversion in exact permille.
    // Both inputs are user-keyed relations (one shuffle each, q85's
    // windows reuse theirs); the join is user-keyed and the rollup is
    // ≤ weeks rows. Conversion denominators are guarded with
    // greatest(_, 1) so the integer division is total.
    "q133_funnel_by_cohort" -> ((s, d) => {
      val ev = T.events(s, d)
      val st = userStages(ev)
      val cohort = ev
        .select(col("user_id"), eventWeek.as("wk"))
        .groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      st.join(cohort, "user_id")
        .groupBy(col("cohort_wk"))
        .agg(
          sum(when(col("t_signup").isNotNull, 1L).otherwise(0L)).as("n_signup"),
          sum(when(col("t_click").isNotNull, 1L).otherwise(0L)).as("n_click"),
          sum(when(col("t_purchase").isNotNull, 1L).otherwise(0L)).as("n_purchase"))
        .select(col("cohort_wk"), col("n_signup"), col("n_click"), col("n_purchase"),
          expr("(1000 * n_click) div greatest(n_signup, 1)").as("click_pm"),
          expr("(1000 * n_purchase) div greatest(n_click, 1)").as("purchase_pm"))
        .orderBy(col("cohort_wk"))
    }),

    // Last-touch conversion attribution (7-day lookback): every
    // purchase credits the user's most recent marketing touch
    // (click/view/signup) strictly before it, or 'direct' if the last
    // touch is absent/stale. ONE user-keyed shuffle; both window
    // columns share the same running ROWS frame so the sort is done
    // once. The (latest-touch channel, latest-touch time) pair stays
    // consistent because the frame is ordered by (ep, event_id) and ep
    // is monotone in that order: max(touch ep) IS the ep of the last
    // non-null touch. Lag is reported as an exact integer-seconds sum
    // (never a rounded float ratio), NULL for the 'direct' bucket in
    // both engines (sum over empty set).
    "q160_attribution" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ep"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      T.events(s, d)
        .withColumn("ep", unix_timestamp(col("ts")))
        .withColumn("chan",
          expr("CASE WHEN event_type IN ('click','view','signup') THEN event_type END"))
        .withColumn("t_ep", max(when(col("chan").isNotNull, col("ep"))).over(w))
        .withColumn("t_chan", last(col("chan"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("attributed",
          expr("CASE WHEN t_ep IS NOT NULL AND ep - t_ep <= 604800 THEN t_chan ELSE 'direct' END"))
        .groupBy(col("attributed"))
        .agg(count(lit(1)).as("n_conv"),
          round(sum(col("value")), 2).as("attr_value"),
          sum(when(col("attributed") =!= "direct", col("ep") - col("t_ep")))
            .as("total_lag_s"))
        .orderBy(col("attributed"))
    }),

    // CUSUM-style drift detection: per event_type, the cumulative sum
    // of centered metric deviations; its maximum drawup (rise from the
    // running minimum) is evidence of an upward mean shift, the
    // drawdown of a downward one — the classic change-point statistic,
    // reported exactly. Everything is exact integer arithmetic: the
    // metric is floored cents (identical IEEE double→floor in both
    // engines), and centering multiplies through by the group count
    // (dev = n·x − Σx) instead of subtracting a fractional mean, so
    // the cumulative series is a BIGINT (scale posture: |cum| ≤ n²·max
    // cents ≈ 2^63 at ~3e9 rows/group; beyond that the state widens to
    // DECIMAL(38,0) — same pattern as q152's moments). event_type has
    // 5 values, so the ordered scan rides the ScalableRank
    // decomposition (one range shuffle, never 5 single-key tasks);
    // running min/max of the cumulative sum fold into the tiny offsets
    // relation (withRunningSumMinMax), still one pass.
    "q161_cusum_drift" -> ((s, d) => {
      val ev = T.events(s, d)
        .withColumn("ep", unix_timestamp(col("ts")))
        .select(col("event_type"), col("event_id"), col("ep"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("x"))
      val g = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      val dev = ev.join(broadcast(g), "event_type")
        .withColumn("dev", col("n") * col("x") - col("sx"))
      ScalableRank
        .withRunningSumMinMax(dev, Seq("event_type"),
          Seq(col("ep"), col("event_id")), col("dev"), 32)
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          max(col("rsum") - col("rmin")).as("max_drawup"),
          max(col("rmax") - col("rsum")).as("max_drawdown"))
        .select(col("event_type"), col("n"), col("max_drawup"), col("max_drawdown"),
          // per-row-mean cents: cum is in units of n·cents and spans
          // up to n rows, so /n² yields the average per-event shift
          expr("max_drawup div (n * n)").as("drawup_cents"),
          expr("max_drawdown div (n * n)").as("drawdown_cents"))
        .orderBy(col("event_type"))
    }),

    // Gaps-and-islands: per-user consecutive-day activity streaks via
    // the classic day − row_number() island key (consecutive days share
    // it; any gap shifts it). One user-keyed shuffle for the window;
    // the island rollup reuses the same (user, grp) clustering and the
    // final per-user report is a second keyed agg — day math is all
    // exact integer epoch days.
    "q167_activity_streaks" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val days = T.events(s, d)
        .select(col("user_id"),
          expr("CAST(datediff(to_date(ts), DATE'1970-01-01') AS BIGINT)").as("day"))
        .distinct()
      days
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(sum(col("len")).as("n_days"),
          count(lit(1)).as("n_streaks"),
          max(col("len")).as("max_streak"))
        .orderBy(col("user_id"))
    }),

    // Robust pointwise outlier detection (median/MAD, the robust
    // z-score): per event_type, |x − median| > 3·MAD flags spikes the
    // mean/stddev rule would let a single extreme value mask. The q161
    // CUSUM complement: pointwise anomalies vs sustained mean shift.
    // Exactness: x is floored cents; exact percentile(…, 0.5) of
    // integers is either an integer or a half-integer, so medians are
    // reported ×2 as exact BIGINTs and every comparison is between
    // exactly-representable doubles — no rounding anywhere. Two
    // percentile passes are inherent to MAD (the deviation needs the
    // median first); medians arrive back as broadcast 5-row relations.
    // Scale dial: exact percentile buffers each group's values — at
    // 100 TB swap both passes to approx_percentile (q29's documented
    // tiering) and the shape is unchanged.
    "q169_mad_outliers" -> ((s, d) => {
      val ev = T.events(s, d).select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("x"))
      val med = ev.groupBy(col("event_type"))
        .agg(expr("percentile(x, 0.5)").as("m"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("ad", abs(col("x") - col("m")))
      val mad = dev.groupBy(col("event_type"))
        .agg(expr("percentile(ad, 0.5)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(expr("CAST(2 * m AS BIGINT)")).as("med_halfcents"),
          max(expr("CAST(2 * mad AS BIGINT)")).as("mad_halfcents"),
          sum(when(col("ad") > lit(3.0) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
        .orderBy(col("event_type"))
    }),

    // Exponential smoothing (trailing EWMA, α = 1/2, depth 8): the
    // weighted trailing mean every monitoring pipeline keeps per
    // entity, made EXACT by using power-of-two integer weights
    // (2^7..2^0 over the last 8 cents values) and a rank-derived
    // integer denominator (256 − 2^(7−k) for k available lags) — no
    // float recursion, no cross-engine drift. One user-keyed window
    // supplies all 7 lags and the row number; the report is the final
    // smoothed value per user.
    "q171_ewma" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ep"), col("event_id"))
      val lagged = T.events(s, d)
        .withColumn("ep", unix_timestamp(col("ts")))
        .select(col("user_id"), col("ep"), col("event_id"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("x"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("num",
          col("x") * 128 +
            (1 to 7).map(i => coalesce(lag(col("x"), i).over(w), lit(0L)) *
              lit(1L << (7 - i))).reduce(_ + _))
        .withColumn("den",
          lit(256L) - expr("CAST(shiftleft(1, CAST(7 - least(rn - 1, 7) AS INT)) AS BIGINT)"))
      lagged
        .groupBy(col("user_id"))
        .agg(max(col("rn")).as("n_events"),
          max(struct(col("rn"), expr("num div den").as("e"))).as("last"))
        .select(col("user_id"), col("n_events"), col("last.e").as("ewma_cents"))
        .orderBy(col("user_id"))
    }),

    // Discrete survival analysis (churn hazard): users' observed
    // lifetimes in whole weeks (first→last event), then per week k the
    // hazard = users ending at k / users still at risk at k — the
    // Kaplan-Meier denominators, exactly. One user-keyed rollup; the
    // week relation is bounded by the calendar (≤ ~54 rows), so its
    // ordered at-risk suffix sum is deliberately a bounded-relation
    // window (DESIGN ground rule 4). Hazard in exact ppm; the survival
    // CURVE is a cumulative float product and is deliberately left to
    // the caller (exactness over floats, as everywhere in this repo).
    "q173_survival_hazard" -> ((s, d) => {
      val life = T.events(s, d)
        .withColumn("ep", unix_timestamp(col("ts")))
        .groupBy(col("user_id"))
        .agg(expr("(max(ep) - min(ep)) div 604800").as("wk"))
      val ends = life.groupBy(col("wk")).agg(count(lit(1)).as("n_end"))
      val w = Window.orderBy(col("wk")).rowsBetween(Window.unboundedPreceding, -1)
      val n = life.agg(count(lit(1)).as("n_users"))
      ends.crossJoin(broadcast(n))
        .withColumn("at_risk", col("n_users") - coalesce(sum(col("n_end")).over(w), lit(0L)))
        .select(col("wk"), col("n_end"), col("at_risk"),
          expr("(1000000 * n_end) div at_risk").as("hazard_ppm"))
        .orderBy(col("wk"))
    }),

    // RFM segmentation: per-user recency/frequency/monetary quintiles
    // (ascending rank order; monetary in exact cents) and the composite
    // r·100+f·10+m segment code. Each quintile is a GLOBAL ranking over
    // the per-user rollup — the constant-key ScalableRank shape (q98),
    // never a single-task ntile window; quintile assignment is the
    // exact closed-form ntileFrom (bit-equal to SQL NTILE, proven in
    // ScalableRankSpec).
    "q174_rfm_segments" -> ((s, d) => {
      val u = T.events(s, d)
        .withColumn("ep", unix_timestamp(col("ts")))
        .groupBy(col("user_id"))
        .agg(max(col("ep")).as("rec"), count(lit(1)).as("freq"),
          sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("mon"))
      def quintile(df: DataFrame, met: String, out: String): DataFrame =
        ScalableRank.withRanks(df.withColumn("g", lit(1)), Seq("g"),
          Seq(col(met), col("user_id")), Seq(col(met), col("user_id")), 32)
          .withColumn(out, ScalableRank.ntileFrom(col("rn"), col("ntot"), 5))
          .drop("rn", "rnk", "drnk", "cume", "ntot", "g")
      val scored = quintile(quintile(quintile(u, "rec", "r_q"), "freq", "f_q"), "mon", "m_q")
      scored.select(col("user_id"), col("r_q"), col("f_q"), col("m_q"),
          (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).as("segment"))
        .orderBy(col("user_id"))
    }),

    // A/B experiment readout: deterministic 50/50 assignment by the
    // engine-neutral md5 user hash (q86's split machinery), per-variant
    // user conversion to purchase, and the pooled two-proportion
    // z-statistic. The z is a floor of doubles derived from exact
    // integer counts through the identical IEEE expression in both
    // engines (sqrt and division are correctly rounded) — floor, not
    // truncation, because z is signed.
    "q176_ab_test" -> ((s, d) => {
      // conversion = "power purchaser" (≥14 purchases): in this data
      // every user purchases at least once, so the any-purchase rate is
      // 1.0 and the pooled z degenerates (p0(1−p0) = 0); a thresholded
      // conversion keeps both rates interior
      val u = T.events(s, d)
        .groupBy(col("user_id"))
        .agg(when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 14, 1L)
          .otherwise(0L).as("conv"))
        .withColumn("variant",
          expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2"))
      u.agg(
          sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("conv_a"),
          sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("conv_b"))
        .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
          expr("(1000000 * conv_a) div n_a").as("rate_a_ppm"),
          expr("(1000000 * conv_b) div n_b").as("rate_b_ppm"),
          // CAST(1 AS DOUBLE) everywhere: a bare 1.0 literal is DECIMAL
          // in Spark SQL and its division rules diverge from DuckDB's
          expr("""CAST(floor(1000 * (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                 / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (CAST(1 AS DOUBLE) - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))) AS BIGINT)""")
            .as("z_milli"))
    }),

    // Decile lift / gains chart (the standard scored-model evaluation
    // readout): users ranked by an engagement score (click count) into
    // deciles, per-decile conversion rate and CUMULATIVE share of all
    // conversions captured — "the top 20% of scores capture X% of
    // converters". Ranking rides constant-key ScalableRank + closed-
    // form ntileFrom; cumulative gains run on the 10-row decile
    // relation (bounded-relation window). All rates exact ppm/bp.
    // Decile 10 = highest score (ascending rank).
    "q184_lift_chart" -> ((s, d) => {
      val u = T.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("score"),
          when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 14, 1L)
            .otherwise(0L).as("conv"))
        .withColumn("g", lit(1))
      val ranked = ScalableRank.withRanks(u, Seq("g"),
          Seq(col("score"), col("user_id")), Seq(col("score"), col("user_id")), 32)
        .withColumn("decile", ScalableRank.ntileFrom(col("rn"), col("ntot"), 10))
      val per = ranked.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
      val tot = per.agg(sum(col("n_conv")).as("tot_conv"))
      val w = Window.orderBy(col("decile").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per.crossJoin(broadcast(tot))
        .withColumn("cum_conv", sum(col("n_conv")).over(w))
        .select(col("decile"), col("n_users"), col("n_conv"),
          expr("(1000000 * n_conv) div n_users").as("rate_ppm"),
          expr("(10000 * cum_conv) div tot_conv").as("cum_gain_bp"))
        .orderBy(col("decile"))
    }),

    // Rolling 7-day active users (the DAU/WAU/stickiness engagement
    // triple): for every calendar day of the observed span, distinct
    // users active that day and in the trailing 7-day window, plus
    // DAU/WAU stickiness in exact ppm. Rolling DISTINCT does not
    // decompose as a window aggregate; the distributed shape is the
    // coverage expansion: each (user, active-day) covers the 7 window
    // ends it contributes to (a bounded 7× map-side explode), then one
    // (user, window-end) dedup and a day-keyed count — every stage
    // partial-aggregable or keyed on high-cardinality (user, day). The
    // calendar spine is one tiny sequence explode (|days| rows), so
    // zero-activity days still report 0 rather than vanishing.
    "q194_rolling_actives" -> ((s, d) => {
      val ud = T.events(s, d)
        .select(col("user_id"),
          eventDay.cast("long").as("day"))
        .distinct()
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      // sequence(day, day+6) is always ascending (stop ≥ start), so
      // the Spark-descending / DuckDB-empty divergence (q99's trap)
      // cannot trigger here.
      val wau = ud
        .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("wend"))
        .distinct()
        .groupBy(col("wend")).agg(count(lit(1)).as("wau"))
      val cal = ud.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(expr("sequence(lo, hi)")).as("day"))
      cal
        .join(wau.withColumnRenamed("wend", "day"), Seq("day"), "left_outer")
        .join(dau, Seq("day"), "left_outer")
        .select(col("day"),
          coalesce(col("dau"), lit(0L)).as("dau"),
          coalesce(col("wau"), lit(0L)).as("wau"),
          expr("CAST(CASE WHEN coalesce(wau, 0) > 0 THEN (1000000 * coalesce(dau, 0)) div wau ELSE 0 END AS BIGINT)")
            .as("stickiness_ppm"))
        .orderBy(col("day"))
    }),

    // Power-user curve (the L28-style engagement histogram): how many
    // users were active on exactly k distinct days, with the
    // heaviest-first cumulative share ("users with ≥ k active days").
    // Two partial-aggregable keyed aggs (user-day dedup → per-user
    // count → per-count histogram); the cumulative window runs over
    // the ≤ |span| histogram rows, not users — the q184 discipline of
    // windowing only post-rollup relations.
    "q195_engagement_histogram" -> ((s, d) => {
      val perUser = T.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_active_days"))
      val hist = perUser.groupBy(col("n_active_days")).agg(count(lit(1)).as("n_users"))
      val tot = hist.agg(sum(col("n_users")).as("tot"))
      val w = Window.orderBy(col("n_active_days").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.crossJoin(broadcast(tot))
        .withColumn("cum_users", sum(col("n_users")).over(w))
        .select(col("n_active_days"), col("n_users"), col("cum_users"),
          expr("(1000000 * cum_users) div tot").as("cum_share_ppm"))
        .orderBy(col("n_active_days"))
    }),

    // Inter-event gap distribution per event type — the arrival-rate
    // profile behind session-timeout and anomaly thresholds (q74's 30
    // min cutoff is exactly a quantile of this distribution). One
    // user-keyed window (high-cardinality — Window.partitionBy is
    // right here) computes integer gap seconds via lag; the rollup is
    // a |types|-row exact-percentile agg whose one buffer per group is
    // the q29 discipline (at 100 TB swap percentile for the mergeable
    // approx_percentile, the documented trade). Gaps are exact
    // non-negative integers, so div ≡ floor in both engines.
    "q200_interevent_gaps" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      T.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .withColumn("prev_us", lag(expr("unix_micros(ts)"), 1).over(w))
        .filter(col("prev_us").isNotNull)
        .select(col("event_type"),
          expr("CAST((unix_micros(ts) - prev_us) div 1000000 AS BIGINT)").as("gap_s"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          round(expr("percentile(gap_s, 0.5)"), 4).as("p50_s"),
          round(expr("percentile(gap_s, 0.9)"), 4).as("p90_s"),
          max(col("gap_s")).as("max_s"))
        .orderBy(col("event_type"))
    }),

    // Mann–Kendall trend statistic per event type ("is this metric
    // drifting?" without assuming normality): S = Σ_{i<j}
    // sign(c_j − c_i) over the daily-count series. The corpus
    // collapses to a (type, day) pre-aggregate FIRST, so the pairwise
    // stage is |types|·C(days,2) rows — calendar-bounded, never
    // corpus-bounded. All-integer concordance algebra; the sign is a
    // CASE expression because DuckDB's sign() returns INT while
    // Spark's signum() returns DOUBLE.
    "q201_trend_mk" -> ((s, d) => {
      val daily = dailyCounts(T.events(s, d))
      val a = daily.select(col("event_type").as("et"), col("day").as("d1"), col("c").as("c1"))
      val b = daily.select(col("event_type").as("et2"), col("day").as("d2"), col("c").as("c2"))
      a.join(b, col("et") === col("et2") && col("d1") < col("d2"))
        .select(col("et").as("event_type"),
          when(col("c2") > col("c1"), 1L)
            .when(col("c2") < col("c1"), -1L).otherwise(0L).as("sgn"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("sgn")).as("s_stat"),
          sum(when(col("sgn") === 1L, 1L).otherwise(0L)).as("n_up"),
          sum(when(col("sgn") === -1L, 1L).otherwise(0L)).as("n_down"))
        .withColumn("trend", expr(
          "CASE WHEN s_stat > 0 THEN 'up' WHEN s_stat < 0 THEN 'down' ELSE 'flat' END"))
        .orderBy(col("event_type"))
    }),

    // Timeout-bounded funnel — q85's ordered funnel with the product
    // question attached: of everyone who signed up, how many completed
    // the full path WITHIN 72 h of signup (attribution windows and
    // promo SLAs are exactly this shape)? Same shared userStages
    // relation; the window test is exact integer microseconds, so no
    // interval/timezone arithmetic can diverge between engines.
    "q217_conversion_window" -> ((s, d) =>
      userStages(T.events(s, d))
        .select(
          when(col("t_signup").isNotNull, 1L).otherwise(0L).as("su"),
          when(col("t_purchase").isNotNull, 1L).otherwise(0L).as("cv"),
          when(col("t_purchase").isNotNull &&
            expr("unix_micros(t_purchase) - unix_micros(t_signup) <= 259200000000"),
            1L).otherwise(0L).as("cv72"))
        .agg(sum(col("su")).as("n_signup"),
             sum(col("cv")).as("n_conv_any"),
             sum(col("cv72")).as("n_conv_72h"))
        .select(col("n_signup"), col("n_conv_any"), col("n_conv_72h"),
          expr("(1000000 * n_conv_any) div greatest(n_signup, 1)").as("any_ppm"),
          expr("(1000000 * n_conv_72h) div greatest(n_signup, 1)").as("conv72_ppm"))
        .orderBy(col("n_signup"))),

    // Cohort lifetime-value accumulation — q132's retention grid with
    // revenue instead of presence: per signup-week cohort, purchase
    // value by week offset and its running total ("when does a cohort
    // pay back"). Corpus collapses to (cohort, offset) cells first;
    // the cumulative window runs over that ≤ weeks² rollup only (the
    // q184 discipline). Cents via the q149-proven round(value·100)
    // idiom; everything after is exact integers.
    "q218_cohort_ltv" -> ((s, d) => {
      val ev = T.events(s, d)
      val cohort = ev
        .select(col("user_id"), eventWeek.as("wk"))
        .groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      val cells = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          eventWeek.as("wk"),
          eventCents.as("cents"))
        .join(cohort, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("rev_cents"))
      val w = Window.partitionBy(col("cohort_wk")).orderBy(col("week_offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
        .orderBy(col("cohort_wk"), col("week_offset"))
    }),

    // Peak concurrency — "how many sessions were open at once" over
    // q74's session intervals, by distributed sweep line: each session
    // emits +1 at its start second and −1 one past its end, boundaries
    // COLLAPSE to one net delta per timestamp first (a keyed partial
    // agg — ties are resolved by algebra, not ordering), and the
    // running sum of net deltas over the unique time axis is the exact
    // concurrency function. That global running sum is the constant-
    // key ScalableRank regime (the whole timeline is one key). The
    // answer is its max and the earliest instant attaining it — the
    // capacity number an ops team sizes against.
    "q223_peak_concurrency" -> ((s, d) => {
      val sess = sessionTagged(T.events(s, d))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ep")).as("t0"), max(col("ep")).as("t1"))
      val deltas = sess.select(col("t0").as("t"), lit(1L).as("d"))
        .unionByName(sess.select((col("t1") + 1).as("t"), lit(-1L).as("d")))
        .groupBy(col("t")).agg(sum(col("d")).as("nd"))
        .withColumn("g", lit(1))
      val conc = graft.functions.ScalableRank
        .withRunningSum(deltas, Seq("g"), Seq(col("t")), col("nd"), 32)
        .select(col("t"), col("rsum").as("conc"))
      val mx = conc.agg(max(col("conc")).as("peak"))
      val nSess = sess.agg(count(lit(1)).as("n_sessions"))
      conc.crossJoin(broadcast(mx))
        .filter(col("conc") === col("peak"))
        .agg(min(col("t")).as("at_ep"))
        .crossJoin(broadcast(mx)).crossJoin(broadcast(nSess))
        .select(col("peak"), col("at_ep"), col("n_sessions"))
        .orderBy(col("peak"))
    }),

    // Forward as-of join — q77's mirror ("first click AT OR AFTER each
    // purchase": the next-quote-after-trade shape): same union + one
    // user-keyed window, with the frame flipped to CURRENT→FOLLOWING
    // and kind ordered DESC so a click at the purchase instant counts.
    // Still zero join operators.
    "q224_asof_forward" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind").desc, col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      clickPurchaseUnion(T.events(s, d))
        .withColumn("next_click_ts", min(when(col("kind") === 0, col("ts"))).over(w))
        .filter(col("kind") === 1)
        .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"),
                col("next_click_ts"))
        .orderBy(col("event_id"))
    }),

    // Metric waterfall — the period-over-period revenue-delta
    // DECOMPOSITION a growth review runs: ΔR split into user-count,
    // frequency (purchases per user), and basket-value effects via
    // the exact telescoping identity
    //   ΔR = (U2−U1)·R1/U1 + (P2·U1−P1·U2)·R1/(U1·P1) + (R2·P1−R1·P2)/P1,
    // each term ONE integer division of exact cents products (the
    // three rationals sum to ΔR exactly; flooring each loses < 3
    // cents, reported as an explicit residual instead of silently
    // absorbed — a decomposition that doesn't add up is how metric
    // reviews go wrong). Input is two partial-aggregable period
    // rollups; everything after is a 1-row join. Scale envelope (the
    // q241 note's twin): t_freq's numerator (p2·u1 − p1·u2)·r1
    // multiplies three corpus-scale integers — purchases ~1e7 ×
    // users ~1e6 × cents ~1e11 already exceeds int64; at large row
    // counts divide r1 by u1·p1 first (losing < u1·p1 cents, still
    // reported in the residual) or switch the images to ppm shares —
    // documented not built, the test SFs stay ≤ ~1e14.
    "q252_metric_waterfall" -> ((s, d) =>
      periodPair(T.events(s, d))
        .withColumn("t_users", expr("((u2 - u1) * r1) div u1"))
        .withColumn("t_freq", expr("((p2 * u1 - p1 * u2) * r1) div (u1 * p1)"))
        .withColumn("t_value", expr("(r2 * p1 - r1 * p2) div p1"))
        .withColumn("residual_cents",
          expr("delta_cents - t_users - t_freq - t_value"))
        .select(col("u1"), col("p1"), col("r1"), col("u2"), col("p2"), col("r2"),
          col("delta_cents"), col("t_users"), col("t_freq"), col("t_value"),
          col("residual_cents"))
        .orderBy(col("u1"))),

    // Metric waterfall, PRODUCTION tier (round-9: the scale-safe dial
    // q252's envelope note documented, now built — the q241 pattern of
    // shipping the production variant next to the exact tier). Same
    // decomposition, but the ratio images are ppm INTEGERS first:
    //   ru = ⌊u2·1e6/u1⌋, rp = ⌊p2·1e6/p1⌋,
    //   t_users = ⌊(ru−1e6)·r1/1e6⌋, t_freq = ⌊(rp−ru)·r1/1e6⌋,
    //   t_value = r2 − ⌊rp·r1/1e6⌋.
    // ru and rp cancel ALGEBRAICALLY in the pre-floor sum (T1+T2+T3 =
    // r2−r1 exactly, for ANY quantized ru/rp) — so the ppm
    // quantization contributes NOTHING to the residual and only the
    // three final ⌊·/1e6⌋ floorings do: |residual| ≤ 3 cents, the SAME
    // bound as the exact tier. What changes is the overflow envelope:
    // the largest intermediate is max(u2, p2)·1e6 or |rp−ru|·r1 —
    // int64-safe to ~9e12 users/purchases and ~$90B revenue per period
    // (at ratio drift ≤ 10×), where q252's exact p2·u1·r1 triple
    // product dies at ~1e6 users × 1e7 purchases. Same two
    // partial-aggregable rollups; the ppm images ship as columns so a
    // review can see the quantization it paid.
    "q252b_waterfall_ppm" -> ((s, d) =>
      periodPair(T.events(s, d))
        .withColumn("ru_ppm", expr("(u2 * 1000000) div u1"))
        .withColumn("rp_ppm", expr("(p2 * 1000000) div p1"))
        .withColumn("t_users", expr("((ru_ppm - 1000000) * r1) div 1000000"))
        .withColumn("t_freq", expr("((rp_ppm - ru_ppm) * r1) div 1000000"))
        .withColumn("t_value", expr("r2 - (rp_ppm * r1) div 1000000"))
        .withColumn("residual_cents",
          expr("delta_cents - t_users - t_freq - t_value"))
        .select(col("u1"), col("p1"), col("r1"), col("u2"), col("p2"), col("r2"),
          col("delta_cents"), col("ru_ppm"), col("rp_ppm"),
          col("t_users"), col("t_freq"), col("t_value"), col("residual_cents"))
        .orderBy(col("u1"))),

    // Leakage-safe supervised-label construction — the step that turns
    // an event log into a churn/retention training set: features from
    // the OBSERVATION window (days ≤ 20) only, label = REPEAT
    // buyer (≥2 purchases) in the disjoint OUTCOME window (days
    // 21-27) — any-activity and even any-purchase are degenerate on
    // this data (every user buys weekly); the repeat-buyer target is
    // the rarest behavior that still splits both classes at every
    // test SF, which a real label definition must also verify. Temporal leakage (a
    // feature peeking past the snapshot) is impossible by
    // construction because the two windows are disjoint filters on
    // the same pass — the point of the operator, and the companion to
    // q109's doc-level leakage-safe split. Per-event exact cents
    // before summation (no noisy-sum rounding); one user-keyed agg +
    // one LEFT semi-shaped join against the outcome actives.
    "q251_churn_labels" -> ((s, d) => {
      val ev = T.events(s, d).select(col("user_id"),
        eventDay.cast("long").as("day"),
        (col("event_type") === "purchase").cast("long").as("isp"),
        eventCents.as("cents"))
      val feat = ev.filter(col("day") <= 20)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events_obs"),
             sum(col("isp")).as("n_purchases_obs"),
             max(col("day")).as("last_day"),
             sum(col("cents")).as("value_cents_obs"))
        .withColumn("recency_d", lit(20L) - col("last_day"))
      val fut = ev.filter(col("day") > 20 && col("day") <= 27 && col("isp") === 1L)
        .groupBy(col("user_id").as("fu"))
        .agg(count(lit(1)).as("np_out"))
        .filter(col("np_out") >= 2)
        .select(col("fu"))
      feat.join(fut, col("user_id") === col("fu"), "left")
        .select(col("user_id"), col("n_events_obs"), col("n_purchases_obs"),
          col("recency_d"), col("value_cents_obs"),
          when(col("fu").isNotNull, 1L).otherwise(0L).as("label_repeat_7d"))
        .orderBy(col("user_id"))
    }),

    // Per-user windowed lag features — the feature-engineering
    // materialization every churn/propensity model trains on:
    // activity today, trailing-7-day volume (RANGE frame on the
    // integer day axis, so calendar gaps are handled by the FRAME,
    // not by densification), recency (days since previous active
    // day), and lifetime cumulative count. One user-keyed window
    // stack over the partial-aggregable (user, day) rollup —
    // user_id is HIGH-cardinality, exactly where Window.partitionBy
    // is the right tool (millions of small groups; the low-card
    // ScalableRank rule does not apply). All exact integers.
    "q250_lag_features" -> ((s, d) => {
      val daily = T.events(s, d)
        .select(col("user_id"),
          eventDay.cast("long").as("day"))
        .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("n_day"))
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val wRange = wOrd.rangeBetween(-7, -1)
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("n_prev_7d", coalesce(sum(col("n_day")).over(wRange), lit(0L)))
        .withColumn("days_since_prev", col("day") - lag(col("day"), 1).over(wOrd))
        .withColumn("cum_events", sum(col("n_day")).over(wCum))
        .orderBy(col("user_id"), col("day"))
    }),

    // Mann–Whitney U (Wilcoxon rank-sum) between the two monitoring
    // periods — the NONPARAMETRIC member of the drift family (KS=max
    // gap, PSI=binned divergence, EMD=area, MWU=stochastic dominance:
    // "do period-B values tend to be larger?"). Exact throughout:
    // per-value midranks come from the cumulative count as the
    // INTEGER twice-midrank 2·cum_before + cnt + 1 (tie blocks get
    // their exact average rank, halves and all), 2·R1 and 2·U1 stay
    // integers, and the tie-corrected z is one double expression of
    // exact integers (correctly-rounded IEEE → bit-identical across
    // engines, q242's argument) floored to milli. The ranking runs on
    // the per-VALUE cells relation, bounded by the cents domain
    // (≤ types × 49k rows at any corpus scale), via ScalableRank.
    // Scale envelope (q241's twin): u1x2 ≈ 2·n_a·n_b is itself the
    // OUTPUT, so it passes int64 once both periods hold ≳2e9 events —
    // at that scale publish U/(n_a·n_b) ppm images instead (the z
    // stat, which is what the monitor consumes, survives unchanged) —
    // documented not built; every test SF stays ≤ ~1e13.
    "q246_mann_whitney" -> ((s, d) =>
      centsMidranks(T.events(s, d))
        .groupBy(col("event_type"))
        .agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
             sum(col("na") * col("midrank2")).as("r1x2"),
             sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie_t"))
        .withColumn("u1x2",
          expr("2 * n_a * n_b + n_a * (n_a + 1) - r1x2"))
        .withColumn("z_milli", expr(
          """CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b > 1
            |       AND (n_a + n_b + 1) * (n_a + n_b) * (n_a + n_b - 1) > tie_t THEN
            |  CAST(floor(1000 *
            |    (CAST(u1x2 AS DOUBLE) / 2 - CAST(n_a AS DOUBLE) * n_b / 2)
            |    / sqrt((CAST(n_a AS DOUBLE) * n_b / 12)
            |           * (CAST(n_a + n_b + 1 AS DOUBLE)
            |              - CAST(tie_t AS DOUBLE)
            |                / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1))))) AS BIGINT)
            |END""".stripMargin))
        .select(col("event_type"), col("n_a"), col("n_b"), col("u1x2"),
          col("z_milli"),
          when(abs(col("z_milli")) >= 1960, 1L).otherwise(0L).as("sig_05"))
        .orderBy(col("event_type"))),

    // Mann–Whitney U, PRODUCTION ppm tier (round-9: q246's envelope
    // note built as its own dial). The exact tier's 2·R1 and 2·U1
    // integers pass int64 once both periods hold ≳2e9 events; here
    // every overflow-prone integer widens to the audited
    // DECIMAL(38,0) class (q116/q152/q248) — exact to 1e38 — and the
    // PUBLISHED effect size is the common-language image
    // ⌊1e6·U1/(n_a·n_b)⌋ (u_ppm ≤ 1e6, the P(B>A) probability in
    // ppm), which is what a drift monitor thresholds anyway. The
    // z stat consumes the same exact integers through
    // correctly-rounded IEEE doubles, so it is UNCHANGED from q246
    // (spec-asserted equal). DuckDB mirrors the decimals with its
    // native 128-bit HUGEINT; only BIGINT columns ship.
    "q246b_mwu_ppm" -> ((s, d) =>
      centsMidranks(T.events(s, d))
        .groupBy(col("event_type"))
        .agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
             sum(expr("CAST(na AS DECIMAL(38,0)) * midrank2")).as("r1x2d"),
             sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")).as("tie_td"))
        .withColumn("u1x2d", expr(
          "2 * CAST(n_a AS DECIMAL(38,0)) * n_b + CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) - r1x2d"))
        .withColumn("u_ppm", expr(
          "CAST((1000000 * u1x2d) div (2 * CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"))
        .withColumn("z_milli", expr(
          """CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b > 1
            |       AND CAST(n_a + n_b + 1 AS DECIMAL(38,0)) * (n_a + n_b) * (n_a + n_b - 1) > tie_td THEN
            |  CAST(floor(1000 *
            |    (CAST(u1x2d AS DOUBLE) / 2 - CAST(n_a AS DOUBLE) * n_b / 2)
            |    / sqrt((CAST(n_a AS DOUBLE) * n_b / 12)
            |           * (CAST(n_a + n_b + 1 AS DOUBLE)
            |              - CAST(tie_td AS DOUBLE)
            |                / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1))))) AS BIGINT)
            |END""".stripMargin))
        .select(col("event_type"), col("n_a"), col("n_b"), col("u_ppm"),
          col("z_milli"),
          when(abs(col("z_milli")) >= 1960, 1L).otherwise(0L).as("sig_05"))
        .orderBy(col("event_type"))),

    // Capture–recapture population estimate (Lincoln–Petersen +
    // Chapman) — "how many distinct users are there" WITHOUT a global
    // distinct, from two deterministic disjoint event samples: users
    // sighted in capture 1 (md5(event_id)%5=0), in capture 2 (%5=1),
    // and in both; N̂ = n1·n2/m. The method a pipeline reaches for
    // when the full distinct is too expensive to run twice a day —
    // and because the truth IS affordable here, the estimator ships
    // with its realized ppm error, like q236's HT audit. All integer;
    // the md5 coin replays in the oracle. One (type,user) partial
    // rollup carries everything.
    "q244_capture_recapture" -> ((s, d) => {
      val ev = T.events(s, d)
        .select(col("event_type"), col("user_id"),
          (conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 5).as("b"))
      val per = ev.groupBy(col("event_type"), col("user_id"))
        .agg(max(when(col("b") === 0, 1L).otherwise(0L)).as("in1"),
             max(when(col("b") === 1, 1L).otherwise(0L)).as("in2"))
      per.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_true"),
             sum(col("in1")).as("n1"), sum(col("in2")).as("n2"),
             sum(col("in1") * col("in2")).as("m"))
        // the n1·n2 capture products square a per-type user count —
        // past int64 at ~3e9 users/type — so they ride DECIMAL(38,0)
        // (the q246b/q267b widening discipline); the published
        // estimates and ppm stay BIGINT
        .select(col("event_type"), col("n_true"), col("n1"), col("n2"), col("m"),
          expr("CAST((CAST(n1 AS DECIMAL(38,0)) * n2) div greatest(m, 1) AS BIGINT)")
            .as("lp_est"),
          expr("CAST(((CAST(n1 AS DECIMAL(38,0)) + 1) * (n2 + 1)) div (m + 1) - 1 AS BIGINT)")
            .as("chapman_est"),
          expr("""CAST((1000000 * CAST(abs(((CAST(n1 AS DECIMAL(38,0)) + 1) * (n2 + 1))
                 | div (m + 1) - 1 - n_true) AS DECIMAL(38,0)))
                 | div n_true AS BIGINT)""".stripMargin).as("err_ppm"))
        .orderBy(col("event_type"))
    }),

    // Sequential A/B monitoring audit — the "peeking problem" made
    // visible: the full daily z-trajectory an impatient experimenter
    // would have watched, with the naive 1.96 flag next to a
    // 30-look-corrected 2.93 flag (both thresholds integer milli-z
    // literals). q176 is the single final-day test; this shows every
    // interim look that would have fired early. Determinism: every z
    // is floor(1000·z) of an expression tree of EXACT integer inputs
    // through correctly-rounded IEEE ops — both engines compute the
    // bit-identical double, so even the threshold comparison is safe.
    // Scale: per-user state is a running purchase count over a dense
    // (user, day) grid (sequence-explode is map-side; the only big
    // shuffles are user-keyed), and the trajectory relation is
    // days-sized.
    "q242_sequential_ab" -> ((s, d) => {
      val ev = T.events(s, d)
        .select(col("user_id"),
          eventDay.cast("long").as("day"),
          (col("event_type") === "purchase").cast("long").as("isp"))
      val horizon = ev.agg(max(col("day")).as("hmax"))
      val perUserDay = ev.groupBy(col("user_id"), col("day"))
        .agg(sum(col("isp")).as("np"))
      val firstDay = perUserDay.groupBy(col("user_id")).agg(min(col("day")).as("d0"))
      val grid = firstDay.crossJoin(broadcast(horizon))
        .select(col("user_id"), explode(expr("sequence(d0, hmax)")).as("day"))
      val wRun = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid.join(perUserDay, Seq("user_id", "day"), "left")
        .withColumn("np", coalesce(col("np"), lit(0L)))
        .withColumn("cum_p", sum(col("np")).over(wRun))
        .withColumn("conv", when(col("cum_p") >= 5, 1L).otherwise(0L))
        .withColumn("variant", expr(
          "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2"))
      cum.groupBy(col("day"))
        .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
             sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
             sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("conv_a"),
             sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("conv_b"))
        .withColumn("z_milli", expr(
          """CASE WHEN n_a > 0 AND n_b > 0
            |       AND conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b THEN
            |  CAST(floor(1000 * (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
            |    / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
            |           * (CAST(1 AS DOUBLE) - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
            |           * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))) AS BIGINT)
            |END""".stripMargin))
        .withColumn("sig_naive", when(abs(col("z_milli")) >= 1960, 1L).otherwise(0L))
        .withColumn("sig_corrected", when(abs(col("z_milli")) >= 2930, 1L).otherwise(0L))
        .orderBy(col("day"))
    }),

    // Earth-mover (1-Wasserstein) drift — the exact-integer member of
    // the drift toolkit: q203's KS is the max CDF gap, q232's PSI is
    // a log divergence over fitted bins; EMD is the AREA between the
    // CDFs — it sees a small shift of a lot of mass where KS sees one
    // point and PSI needs non-degenerate bins. Over fixed-width $20
    // bins the whole statistic is integer: D_k = cumA_k·tb − cumB_k·ta
    // per bin boundary, EMD·100 (centi-cents) = (width·100·Σ|D_k|)
    // div (ta·tb) — no log, no float, bit-exact at any partition
    // count. The bin relation after the one partial-aggregable count
    // is ≤ types×25 rows (the value range, not the corpus, sets it);
    // at 100 TB row counts the integer images switch to ppm shares
    // first — the q219 split-sums trade, documented not built.
    "q241_emd_drift" -> ((s, d) =>
      binCdfs(T.events(s, d))
        .groupBy(col("et").as("event_type"))
        .agg(max(col("ta")).as("n_a"), max(col("tb")).as("n_b"),
             count(lit(1)).as("n_bins"),
             sum(abs(col("cuma") * col("tb") - col("cumb") * col("ta"))).as("sd"))
        .select(col("event_type"), col("n_a"), col("n_b"), col("n_bins"),
          expr("(2000 * 100 * sd) div (n_a * n_b)").as("emd_centicents"))
        .orderBy(col("event_type"))),

    // EMD drift, PRODUCTION ppm tier (round-9: q241's envelope note
    // built as its own dial, the q252b pattern). The exact tier's
    // D_k = cumA·tb − cumB·ta multiplies two corpus-scale integers —
    // dead past ~3e9 events/period. Here each CDF image is quantized
    // to a ppm SHARE first (⌊cum·1e6/total⌋ ≤ 1e6), so the largest
    // intermediate is cum·1e6 (int64-safe to ~9e12 events/period) and
    // the per-bin gap |sa−sb| is domain-bounded by 1e6 however large
    // the corpus. Each share floors < 1 ppm → the EMD image is within
    // (2·bins+1)·width·100/1e6 centi-cents of the exact tier
    // (≈ 10 centi-cents at 25 bins — spec-asserted against q241).
    // Same dense-bin window shape; oracle mirrors with //.
    "q241b_emd_ppm" -> ((s, d) =>
      binCdfs(T.events(s, d))
        .withColumn("sa_ppm", expr("(cuma * 1000000) div ta"))
        .withColumn("sb_ppm", expr("(cumb * 1000000) div tb"))
        .groupBy(col("et").as("event_type"))
        .agg(max(col("ta")).as("n_a"), max(col("tb")).as("n_b"),
             count(lit(1)).as("n_bins"),
             sum(abs(col("sa_ppm") - col("sb_ppm"))).as("sd_ppm"))
        .select(col("event_type"), col("n_a"), col("n_b"), col("n_bins"),
          col("sd_ppm"),
          expr("(2000 * 100 * sd_ppm) div 1000000").as("emd_centicents_ppm"))
        .orderBy(col("event_type"))),

    // Differential-privacy sensitivity audit — the contribution-
    // bounding report a DP release calibrates against: per event_type,
    // the maximum single-user contribution to the count and to the
    // cents sum (= the L1 sensitivity of those aggregates at
    // user-level adjacency) and its share of the total. A share near
    // 1e6 ppm means one user IS the statistic — noise can't fix that;
    // clipping must. Companion to q233's k-anonymity: that audits
    // re-identification, this audits influence. Two partial-aggregable
    // levels: (type, user) rollup, then a |types|-row report.
    "q237_dp_sensitivity" -> ((s, d) => {
      val per = T.events(s, d)
        .select(col("event_type"), col("user_id"),
          eventCents.as("cents"))
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n_u"), sum(col("cents")).as("c_u"))
      per.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"), sum(col("n_u")).as("n_events"),
             max(col("n_u")).as("sens_count"),
             max(col("c_u")).as("sens_cents"),
             sum(col("c_u")).as("total_cents"))
        .select(col("event_type"), col("n_users"), col("n_events"),
          col("sens_count"), col("sens_cents"), col("total_cents"),
          expr("(1000000 * sens_count) div n_events").as("count_share_ppm"),
          expr("(1000000 * sens_cents) div greatest(total_cents, 1)").as("cents_share_ppm"))
        .orderBy(col("event_type"))
    }),

    // Time-weighted average value (TWAP) per (user, day) — the
    // irregular-sampling average q75's tumbling buckets get WRONG
    // (arithmetic mean over-weights burst periods; a metric sampled
    // on change must be integrated over holding time, the standard
    // ops/finance convention). Piecewise-constant integral in EXACT
    // integers: cents × holding-micros summed per group (bounded far
    // below 2^63 for day-long spans), then emitted as a truncating
    // div/mod pair (twap_cents + frac_ppm) so NO float division sits
    // under the hash — 1e6·num would overflow where num%den·1e6
    // cannot. One user-day window + one group agg; single-event days
    // (zero span) fall back to the event's own value by convention.
    "q235_twap" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ep_us"), col("event_id"))
      val g = T.events(s, d)
        .select(col("user_id"),
          to_date(col("ts")).as("day"),
          col("event_id"),
          expr("unix_micros(ts)").as("ep_us"),
          eventCents.as("cents"))
        .withColumn("hold_us",
          coalesce(lead(col("ep_us"), 1).over(w) - col("ep_us"), lit(0L)))
        .groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("cents") * col("hold_us")).as("num"),
             (max(col("ep_us")) - min(col("ep_us"))).as("den"),
             // only consulted when den = 0, i.e. every event in the
             // group shares one microsecond — event_id alone is then a
             // total order, so the pick is engine-deterministic
             expr("min_by(cents, event_id)").as("c0"))
      g.select(col("user_id"), col("day"), col("n_events"),
          when(col("den") === 0, col("c0"))
            .otherwise(expr("num div den")).as("twap_cents"),
          when(col("den") === 0, lit(0L))
            .otherwise(expr("((num % den) * 1000000) div den")).as("frac_ppm"))
        .orderBy(col("user_id"), col("day"))
    }),

    // Population-stability index (PSI) — the model-monitoring drift
    // score: decile bins are FIT on the reference period (days 0-14)
    // and both periods are scored through them; PSI = Σ(p−q)·ln(p/q).
    // q203's KS answers "did it drift"; PSI is the banded magnitude
    // ops teams threshold at 0.1/0.25. Engine-exactness discipline:
    // NO interpolated quantile sits under a comparison (x·(1−f)+f·y
    // vs x+(y−x)·f can differ in the last ulp and flip a tie-heavy
    // 2-decimal bin edge) — bin edges are the ACTUAL max-cents data
    // values of the reference ntiles (ScalableRank two-phase ranking,
    // the low-card-key construct), broadcast as 9 integer columns,
    // and every bin assignment is an integer comparison. Scale: one
    // ranking pass over the reference slice, one broadcast-join +
    // partial-aggregable cell count over the full table.
    "q232_psi_drift" -> ((s, d) => {
      val ev = T.events(s, d)
        .select(col("event_type"), col("event_id"),
          (eventDay < 15).as("is_a"),
          eventCents.as("cents"))
      val ranked = graft.functions.ScalableRank
        .withRanks(ev.filter(col("is_a")), Seq("event_type"),
          Seq(col("cents"), col("event_id")), Seq(col("cents"), col("event_id")), 32)
        .withColumn("bucket",
          graft.functions.ScalableRank.ntileFrom(col("rn"), col("ntot"), 10))
      val bAggs = (1 to 9).map(i =>
        max(when(col("bucket") === i, col("cents"))).as(s"b$i"))
      val bmax = ranked.filter(col("bucket") <= 9)
        .groupBy(col("event_type").as("et"))
        .agg(bAggs.head, bAggs.tail: _*)
      val binned = ev.join(broadcast(bmax), col("event_type") === col("et"))
        .withColumn("bin",
          (1 to 9).map(i => when(col("cents") > col(s"b$i"), 1).otherwise(0))
            .reduce(_ + _) + 1)
      val cells = binned.groupBy(col("event_type"), col("bin"))
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
             sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
      val tot = cells.groupBy(col("event_type").as("et2"))
        .agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
      cells.join(broadcast(tot), col("event_type") === col("et2"))
        .withColumn("contrib",
          when(col("na") > 0 && col("nb") > 0,
            (col("na").cast("double") / col("ta") - col("nb").cast("double") / col("tb")) *
              log((col("na").cast("double") / col("ta")) /
                  (col("nb").cast("double") / col("tb"))))
            .otherwise(lit(0.0)))
        .groupBy(col("event_type"))
        .agg(max(col("ta")).as("n_a"), max(col("tb")).as("n_b"),
             sum(when(col("na") === 0 || col("nb") === 0, 1L).otherwise(0L))
               .as("n_degenerate_bins"),
             round(sum(col("contrib")), 4).as("psi4"))
        .orderBy(col("event_type"))
    }),

    // Autocorrelation of the daily volume series (ACF at lags 1..7) —
    // the seasonality detector behind q209's weekday profile: a high
    // lag-7 ACF *is* weekly seasonality, a high lag-1 ACF is burst
    // persistence. Scale shape: the only pass over events is the
    // partial-aggregable (type, day) count; everything after runs on a
    // ≤ types×days relation, where the banded self-join (1 ≤ Δday ≤ 7)
    // and per-(type,lag) Pearson corr are driver-trivial. ACF is a
    // ratio of co-moments, so the sample/population distinction
    // cancels and round(·,4) absorbs engine summation order.
    "q225_autocorrelation" -> ((s, d) => {
      val daily = dailyCounts(T.events(s, d))
      val a = daily.select(col("event_type").as("et"), col("day").as("d1"), col("c").as("c1"))
      val b = daily.select(col("event_type").as("et2"), col("day").as("d2"), col("c").as("c2"))
      a.join(b, col("et") === col("et2") && (col("d2") - col("d1")).between(1, 7))
        .withColumn("lag", col("d2") - col("d1"))
        .groupBy(col("et").as("event_type"), col("lag"))
        .agg(count(lit(1)).as("n_pairs"),
             round(corr(col("c1"), col("c2")), 4).as("acf4"))
        .orderBy(col("event_type"), col("lag"))
    }),

    // Theil–Sen slope of the daily volume series — q201's Mann-Kendall
    // names the trend DIRECTION; this estimates its MAGNITUDE the
    // robust way (median of all pairwise slopes — a 29%-breakdown
    // estimator, immune to the spike days that wreck OLS q152 would
    // fit). Slopes are truncated to integer ppm/day BEFORE the median
    // (double division of exact integers is correctly rounded IEEE, so
    // trunc agrees across engines), and the exact interpolating median
    // of integers is engine-portable (midpoints are exact halves).
    // Same scale posture as q225: one partial-aggregable pass over
    // events, then a bounded days² pairs relation per type.
    "q226_theilsen" -> ((s, d) => {
      val daily = dailyCounts(T.events(s, d))
      val a = daily.select(col("event_type").as("et"), col("day").as("d1"), col("c").as("c1"))
      val b = daily.select(col("event_type").as("et2"), col("day").as("d2"), col("c").as("c2"))
      a.join(b, col("et") === col("et2") && col("d1") < col("d2"))
        .withColumn("slope_ppm",
          expr("CAST((1000000 * (c2 - c1)) / CAST(d2 - d1 AS DOUBLE) AS BIGINT)"))
        .groupBy(col("et").as("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
             expr("CAST(percentile(slope_ppm, 0.5) AS DOUBLE)").as("med_slope_ppm"))
        .withColumn("trend", expr(
          "CASE WHEN med_slope_ppm > 0 THEN 'up' WHEN med_slope_ppm < 0 THEN 'down' ELSE 'flat' END"))
        .orderBy(col("event_type"))
    }),

    // Additive seasonal decomposition of the daily volume series
    // (STL-lite): trend = centered 7-day moving average (NULL at the
    // edges where the window is short — a one-sided average would
    // smear the trend), weekday effect = mean detrended deviation per
    // day-of-week slot (day mod 7 — pure integer arithmetic, no
    // calendar function to disagree on), residual = observed − trend −
    // seasonal. q209 reports the weekday PROFILE; this separates it
    // from trend and noise, which is what an anomaly gate thresholds
    // on. Scale: the only full pass is the partial-aggregable
    // (type,day) count; the RANGE window and the dow agg run on a
    // types×days relation, which stays ≤ a few hundred rows at ANY
    // corpus scale (the time axis doesn't grow with SF) — the
    // low-cardinality-window rule is about data that scales, not this.
    "q229_seasonal_decomp" -> ((s, d) => {
      val daily = dailyCounts(T.events(s, d))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-3, 3)
      val tr = daily
        .withColumn("n_win", count(lit(1)).over(w))
        .withColumn("trend",
          when(col("n_win") === 7, sum(col("c")).over(w) / lit(7.0)))
        .withColumn("dow", col("day") % 7)
      val seas = tr.filter(col("trend").isNotNull)
        .groupBy(col("event_type").as("et2"), col("dow").as("dow2"))
        .agg(avg(col("c") - col("trend")).as("seasonal0"))
      tr.join(broadcast(seas),
          col("event_type") === col("et2") && col("dow") === col("dow2"), "left")
        .select(col("event_type"), col("day"), col("c"),
          round(col("trend"), 4).as("trend4"),
          round(col("seasonal0"), 4).as("seasonal4"),
          round(col("c") - col("trend") - col("seasonal0"), 4).as("resid4"))
        .orderBy(col("event_type"), col("day"))
    }),

    // Time-decayed customer value with EXACT integer halving: each
    // purchase's cents are divided by 2^(weeks-ago) — a geometric
    // decay that is a pure bit shift, so unlike float λ^age there is
    // no transcendental to disagree on and the sum is
    // order-independent. Reference day is the corpus max (broadcast
    // scalar); top-100 by decayed value plans as TakeOrdered, no
    // global sort. The recency-weighted LTV ranking a retention team
    // actions — q174's RFM with a principled decay instead of bins.
    "q221_decayed_value" -> ((s, d) => {
      val ev = T.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"),
          eventDay.cast("bigint").as("day"),
          eventCents.as("cents"))
      val mx = ev.agg(max(col("day")).as("mxd"))
      ev.crossJoin(broadcast(mx))
        .withColumn("age_wk", expr("least((mxd - day) div 7, 62)"))
        .withColumn("dec_cents", expr("cents div shiftleft(CAST(1 AS BIGINT), CAST(age_wk AS INT))"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
             sum(col("cents")).as("raw_cents"),
             sum(col("dec_cents")).as("decayed_cents"))
        .orderBy(col("decayed_cents").desc, col("user_id"))
        .limit(100)
    }),

    // Top user journeys: the 20 most common first-5-event paths — the
    // product question q153's pairwise transitions can't answer
    // (pairs lose the full route). Per-user prefix cap BEFORE any
    // string building (row_number over the user-keyed window — the
    // path length is bounded by construction, the 100 TB contract),
    // then q156's deterministic array_sort(collect_list(struct))
    // path construction, then a path-keyed count and TakeOrdered.
    "q222_top_paths" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      T.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy(col("user_id"))
        .agg(array_join(expr(
          "transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)"),
          ",").as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
        .limit(20)
    }),

    // Time-to-convert distribution — the latency companion to q85's
    // ordered funnel: among users who completed signup → … → purchase
    // (stage times conditional on the previous stage, q85's exact
    // semantics via the shared userStages), the distribution of
    // signup→purchase delay in integer seconds. One user-keyed stage
    // relation, then a single-row exact-percentile rollup (q29/q200's
    // one-buffer discipline). Deltas are strictly positive by the
    // stage-ordering construction, so div ≡ floor in both engines.
    "q204_time_to_convert" -> ((s, d) =>
      userStages(T.events(s, d))
        .filter(col("t_signup").isNotNull && col("t_purchase").isNotNull)
        .select(expr(
          "CAST((unix_micros(t_purchase) - unix_micros(t_signup)) div 1000000 AS BIGINT)")
          .as("delta_s"))
        .agg(count(lit(1)).as("n_conv"),
          min(col("delta_s")).as("min_s"),
          round(expr("percentile(delta_s, 0.5)"), 4).as("p50_s"),
          round(expr("percentile(delta_s, 0.9)"), 4).as("p90_s"),
          max(col("delta_s")).as("max_s"))
        .orderBy(col("n_conv"))),

    // Session bounce/entry-exit segmentation — see sessionBounce below.
    "q205_session_bounce" -> ((s, d) => sessionBounce(T.events(s, d))),

    // New-vs-returning daily split (the acquisition/retention lens on
    // q194's activity spine): a user counts as NEW on their first-ever
    // active day, RETURNING on every later one. One (user, day) dedup
    // + one user-keyed min + a day-keyed rollup — all partial-
    // aggregable or keyed high-cardinality; exact ppm share.
    "q206_new_vs_returning" -> ((s, d) => {
      val ud = T.events(s, d)
        .select(col("user_id"),
          eventDay.cast("long").as("day"))
        .distinct()
      val fd = ud.groupBy(col("user_id")).agg(min(col("day")).as("fday"))
      ud.join(fd, "user_id")
        .groupBy(col("day"))
        .agg(sum(when(col("day") === col("fday"), 1L).otherwise(0L)).as("n_new"),
             sum(when(col("day") =!= col("fday"), 1L).otherwise(0L)).as("n_returning"))
        .select(col("day"), col("n_new"), col("n_returning"),
          expr("(1000000 * n_new) div (n_new + n_returning)").as("new_share_ppm"))
        .orderBy(col("day"))
    }),

    // Day-of-week seasonality profile per event type (the STL-lite
    // decomposition a capacity planner reads before q201's trend
    // call): mean daily volume per weekday vs the type's overall mean,
    // as an exact-integer ratio. The corpus collapses to (type, day)
    // counts FIRST (q201's pre-agg discipline); everything downstream
    // is ≤ |types|·7 cells. 2024-01-01 is a Monday, so dow 0 = Monday.
    // Ratio is computed between x100-scaled integer means — per-mean
    // quantization, never a product of raw sums, so every intermediate
    // stays int64 at 100 TB event counts.
    "q209_dow_profile" -> ((s, d) => {
      val daily = dailyCounts(T.events(s, d))
      val perDow = daily.withColumn("dow", pmod(col("day"), lit(7L)))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n_days"), sum(col("c")).as("n_events"))
        .withColumn("mean_x100", expr("(100 * n_events) div n_days"))
      val overall = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nd_all"), sum(col("c")).as("s_all"))
        .select(col("event_type"), expr("(100 * s_all) div nd_all").as("mean_all_x100"))
      perDow.join(broadcast(overall), "event_type")
        .select(col("event_type"), col("dow"), col("n_days"), col("n_events"),
          col("mean_x100"),
          expr("(1000000 * mean_x100) div mean_all_x100").as("ratio_ppm"))
        .orderBy(col("event_type"), col("dow"))
    })
  )

  /** The 30-minute session rule over an events relation: `ep` is the
    * whole-second epoch (unix_timestamp ≡ floor(epoch) in both engines),
    * `new_s` flags an event whose gap to the user's previous one
    * exceeds 1800 s, and `session_id` is the running count of those
    * flags per user. One user-keyed shuffle; both windows share its
    * sort.
    */
  private def sessionTagged(ev: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ep"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("ep", unix_timestamp(col("ts")))
      .withColumn("new_s",
        when(lag(col("ep"), 1).over(wOrd).isNull ||
             col("ep") - lag(col("ep"), 1).over(wOrd) > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(wRun))
  }

  /** Clicks (kind 0, event_id −1) and purchases (kind 1) as one tagged
    * union (user_id, ts, kind, event_id) — the single relation the
    * as-of joins (q77, q224) window over instead of joining.
    */
  private def clickPurchaseUnion(ev: DataFrame): DataFrame = {
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("kind"), lit(-1L).as("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("kind"), col("event_id"))
    clicks.unionByName(purchases)
  }

  /** The two monitoring periods' purchase rollups (days 0–14 vs the
    * rest) as one row: distinct buyers u, purchases p and exact cents
    * r per period — (u1, p1, r1, u2, p2, r2) — plus delta_cents. The
    * waterfalls' input (q252, q252b); one partial-aggregable pass.
    */
  private def periodPair(ev: DataFrame): DataFrame = {
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), (eventDay < 15).as("is_a"), eventCents.as("cents"))
      .groupBy(col("is_a"))
      .agg(countDistinct(col("user_id")).as("u"),
           count(lit(1)).as("p"), sum(col("cents")).as("r"))
    val a = p.filter(col("is_a")).select(col("u").as("u1"), col("p").as("p1"), col("r").as("r1"))
    val b = p.filter(!col("is_a")).select(col("u").as("u2"), col("p").as("p2"), col("r").as("r2"))
    a.crossJoin(b)
      .withColumn("delta_cents", col("r2") - col("r1"))
  }

  /** Mann–Whitney rank input (q246, q246b): per (event_type, cents)
    * value the period counts na, nb and cnt, the running count `rsum`
    * over cents (ScalableRank — the relation is bounded by the cents
    * domain) and the integer twice-midrank 2·(rsum − cnt) + cnt + 1.
    */
  private def centsMidranks(ev: DataFrame): DataFrame = {
    val cells = ev
      .select(col("event_type"), (eventDay < 15).as("is_a"), eventCents.as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
           sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
      .withColumn("cnt", col("na") + col("nb"))
    graft.functions.ScalableRank.withRunningSum(cells,
        Seq("event_type"), Seq(col("cents")), col("cnt"), 32)
      .withColumn("midrank2", lit(2L) * (col("rsum") - col("cnt")) + col("cnt") + 1L)
  }

  /** Both periods' CDFs over a dense $20 bin axis per event_type (q241,
    * q241b): (et, bin, na, nb) with zero-filled empty bins — a bin
    * empty in BOTH periods still spans width over which the CDF gap
    * persists, so skipping it would undercount the area — plus the
    * running counts cuma, cumb and the period totals ta, tb.
    */
  private def binCdfs(ev: DataFrame): DataFrame = {
    val cells = ev
      .select(col("event_type").as("ec"), (eventDay < 15).as("is_a"),
        call_function("div", eventCents, lit(2000)).as("cbin"))
      .groupBy(col("ec"), col("cbin"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
           sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
    val dense = cells.groupBy(col("ec").as("et"))
      .agg(min(col("cbin")).as("b0"), max(col("cbin")).as("b1"))
      .select(col("et"), explode(expr("sequence(b0, b1)")).as("bin"))
    val filled = dense
      .join(cells, col("et") === col("ec") && col("bin") === col("cbin"), "left")
      .select(col("et"), col("bin"),
        coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
    val w = Window.partitionBy(col("et")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled
      .withColumn("cuma", sum(col("na")).over(w))
      .withColumn("cumb", sum(col("nb")).over(w))
      .withColumn("ta", sum(col("na")).over(Window.partitionBy(col("et"))))
      .withColumn("tb", sum(col("nb")).over(Window.partitionBy(col("et"))))
  }

  /** Daily event counts per type, (event_type, day, c) — the series
    * q201, q209, q226 and q229 analyse; one partial-aggregable pass.
    */
  private def dailyCounts(ev: DataFrame): DataFrame =
    ev.select(col("event_type"), eventDay.cast("long").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("c"))

  /** Entry/exit segmentation of q74's sessions plus the bounce-rate
    * and dwell rollup per entry type — the landing-page diagnostic
    * next to sessionize/funnel. Same 30-min-gap session assignment as
    * q74 (user-keyed windows — high-cardinality, partitionBy is
    * right); entry/exit come from one more full-frame window over the
    * SAME (user, session) ordering, so the three windows share a
    * single sort; the rollup is ≤ |types| rows of exact-integer rates.
    */
  private def sessionBounce(ev: DataFrame): DataFrame = {
    val wSess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ep"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    sessionTagged(ev)
      .withColumn("entry_type", first(col("event_type")).over(wSess))
      .withColumn("exit_type", last(col("event_type")).over(wSess))
      .groupBy(col("user_id"), col("session_id"))
      .agg(max(col("entry_type")).as("entry_type"),
           max(col("exit_type")).as("exit_type"),
           count(lit(1)).as("n_events"),
           (max(col("ep")) - min(col("ep"))).as("dur_s"))
      .groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
           sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"),
           sum(col("dur_s")).as("sum_dur"),
           sum(when(col("exit_type") === "purchase", 1L).otherwise(0L)).as("n_exit_purchase"))
      .select(col("entry_type"), col("n_sessions"), col("n_bounce"),
        expr("(1000000 * n_bounce) div n_sessions").as("bounce_ppm"),
        expr("sum_dur div n_sessions").as("mean_dur_s"),
        expr("(1000000 * n_exit_purchase) div n_sessions").as("exit_purchase_ppm"))
      .orderBy(col("entry_type"))
  }

  /** Ordered signup → click → purchase funnel over an events relation
    * with (user_id, event_type, ts). Stage times are conditional on the
    * previous stage: t_click is the first click STRICTLY AFTER the
    * earliest signup, t_purchase the first purchase strictly after that
    * click — a click before signup never counts (EventOpsSpec pins
    * this; the round-1 global-min formulation got it wrong). Three
    * chained whole-partition window mins over the same user
    * partitioning = ONE shuffle of events, no per-stage joins; the
    * per-user collapse reuses the partitioning and the funnel count is
    * a tiny global agg.
    */
  /** Per-user ordered stage times (the funnel's keyed intermediate —
    * one user-keyed shuffle, windows reuse the partitioning).
    */
  /** Path-pattern matching (q156's engine): each user's event path is
    * one deterministic comma-joined string (sorted by ts, event_id),
    * built in a single user-keyed aggregation; the regex `pattern` runs
    * per USER row, not per event, and its count is non-overlapping
    * scan order. Emits users with ≥1 match.
    */
  def pathPattern(ev: DataFrame, pattern: String): DataFrame =
    ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        array_join(expr("transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)"), ",")
          .as("path"))
      .select(col("user_id"), col("n_events"),
        size(expr(s"regexp_extract_all(path, '$pattern', 0)")).cast("long")
          .as("n_adjacent"))
      .filter(col("n_adjacent") >= 1)

  /** Markov transition matrix (q153's engine): consecutive-event
    * (from_type, to_type) counts per user stream with exact-integer
    * outflow permille. The totals relation is ≤ |types| rows and comes
    * back as a broadcast — no window ever partitions on the low-card
    * event_type.
    */
  def transitions(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val t = ev
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("nxt").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = t.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
    t.join(broadcast(tot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(1000 * n) DIV tot").as("permille"))
  }

  /** Grid + linear-fill stage of q149: `daily` is (user_id, day, v)
    * with v an exact integer measure; returns the dense per-user
    * [min,max] day grid with interior gaps integer-interpolated.
    * Requires v >= 0 (keeps truncating DIV ≡ floor; asserted by the
    * planted spec together with the fill values).
    */
  def resampleInterpolate(daily: DataFrame): DataFrame = {
    val grid = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(daily, Seq("user_id", "day"), "left_outer")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("pd", last(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nd", first(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wNext))
      .select(col("user_id"), col("day"),
        when(col("v").isNotNull, col("v"))
          .otherwise(expr("(pv * (nd - day) + nv * (day - pd)) DIV (nd - pd)")).as("v_4dp"),
        when(col("v").isNotNull, lit("obs")).otherwise(lit("interp")).as("src"))
  }

  def userStages(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    ev
      .withColumn("t_signup",
        min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("ts") > col("t_signup"),
          col("ts"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("ts") > col("t_click"),
          col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("t_signup")).as("t_signup"),
           max(col("t_click")).as("t_click"),
           max(col("t_purchase")).as("t_purchase"))
  }

  def orderedFunnel(ev: DataFrame): DataFrame =
    userStages(ev)
      .groupBy()
      .agg(
        sum(when(col("t_signup").isNotNull, 1).otherwise(0)).as("n_signup"),
        sum(when(col("t_click").isNotNull, 1).otherwise(0)).as("n_signup_click"),
        sum(when(col("t_purchase").isNotNull, 1).otherwise(0)).as("n_full_funnel"))

  /** Oracle twin of [[eventDay]]. */
  private val daySql = "datediff('day', DATE '2024-01-01', CAST(ts AS DATE))"
  /** Oracle exact integer cents of `value`. */
  private val centsSql = "CAST(round(value * 100) AS BIGINT)"

  /** The 30-minute session rule as CTEs `e, m, s`: per event user_id,
    * event_id, the `carry` columns, the whole-second epoch ep, the
    * new-session flag (gap to the user's previous event over 1800 s) and
    * session_id, the running count of those flags per user.
    */
  private def sessionCtes(carry: String*): String = {
    val c = carry.map(_ + ", ").mkString
    s"""e AS (
       |  SELECT user_id, event_id, ${c}CAST(floor(epoch(ts)) AS BIGINT) AS ep
       |  FROM events
       |), m AS (
       |  SELECT user_id, event_id, ${c}ep,
       |    CASE WHEN lag(ep) OVER w IS NULL OR ep - lag(ep) OVER w > 1800
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)
       |), s AS (
       |  SELECT user_id, event_id, ${c}ep,
       |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ep, event_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM m
       |)""".stripMargin
  }

  /** The ordered signup → click → purchase funnel as CTEs `w1, w2, w3,
    * u`: per user t_signup (earliest signup), t_click (first click
    * strictly after it) and t_purchase (first purchase strictly after
    * that click).
    */
  private val funnelCtes: String =
    """w1 AS (
      |  SELECT user_id, event_type, ts,
      |    min(CASE WHEN event_type = 'signup' THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_signup
      |  FROM events
      |), w2 AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_signup THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_click
      |  FROM w1
      |), w3 AS (
      |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_purchase
      |  FROM w2
      |), u AS (
      |  SELECT user_id, max(t_signup) AS t_signup, max(t_click) AS t_click,
      |         max(t_purchase) AS t_purchase
      |  FROM w3 GROUP BY user_id
      |)""".stripMargin

  /** Daily event counts per type as the CTE `daily(event_type, day, c)`. */
  private val dailyCte: String =
    s"""daily AS (
       |  SELECT event_type,
       |         CAST($daySql AS BIGINT) AS day,
       |         CAST(count(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2
       |)""".stripMargin

  /** The two periods' purchase rollups as CTEs `p, a(u1, p1, r1),
    * b(u2, p2, r2)`: distinct buyers, purchases and exact cents for
    * days 0–14 (a) and the rest (b).
    */
  private val periodPairCtes: String =
    s"""p AS (
       |  SELECT $daySql < 15 AS is_a,
       |         CAST(count(DISTINCT user_id) AS BIGINT) AS u,
       |         CAST(count(*) AS BIGINT) AS pp,
       |         CAST(sum($centsSql) AS BIGINT) AS r
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1
       |), a AS (SELECT u AS u1, pp AS p1, r AS r1 FROM p WHERE is_a),
       |b AS (SELECT u AS u2, pp AS p2, r AS r2 FROM p WHERE NOT is_a)""".stripMargin

  /** Mann–Whitney rank input as CTEs `cells, run`: per (event_type,
    * cents) value the period counts na, nb, cnt and the running count
    * rsum over cents.
    */
  private val centsRunCtes: String =
    s"""cells AS (
       |  SELECT event_type,
       |         $centsSql AS cents,
       |         CAST(sum(CASE WHEN $daySql < 15
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |         CAST(sum(CASE WHEN $daySql < 15
       |                       THEN 0 ELSE 1 END) AS BIGINT) AS nb
       |  FROM events GROUP BY 1, 2
       |), run AS (
       |  SELECT event_type, na, nb, na + nb AS cnt,
       |         CAST(sum(na + nb) OVER (PARTITION BY event_type ORDER BY cents
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rsum
       |  FROM cells
       |)""".stripMargin

  /** Both periods' CDFs over the dense $20 bin axis per type as CTEs
    * `cells, c2, rng, dense, filled, cum`: cum holds (et, na, nb, cuma,
    * cumb, ta, tb) per bin, empty bins zero-filled.
    */
  private val binCdfCtes: String =
    s"""cells AS (
       |  SELECT event_type AS ec,
       |         $daySql < 15 AS is_a,
       |         $centsSql // 2000 AS cbin
       |  FROM events
       |), c2 AS (
       |  SELECT ec, cbin,
       |         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |         CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS nb
       |  FROM cells GROUP BY 1, 2
       |), rng AS (SELECT ec AS et, min(cbin) AS b0, max(cbin) AS b1 FROM c2 GROUP BY 1),
       |dense AS (SELECT et, unnest(generate_series(b0, b1)) AS bin FROM rng),
       |filled AS (
       |  SELECT d.et, d.bin, coalesce(c2.na, 0) AS na, coalesce(c2.nb, 0) AS nb
       |  FROM dense d LEFT JOIN c2 ON d.et = c2.ec AND d.bin = c2.cbin
       |), cum AS (
       |  SELECT et, na, nb,
       |    CAST(sum(na) OVER (PARTITION BY et ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cuma,
       |    CAST(sum(nb) OVER (PARTITION BY et ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumb,
       |    CAST(sum(na) OVER (PARTITION BY et) AS BIGINT) AS ta,
       |    CAST(sum(nb) OVER (PARTITION BY et) AS BIGINT) AS tb
       |  FROM filled
       |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q74_sessionize" ->
      s"""WITH ${sessionCtes("value")}
        |SELECT user_id, session_id, count(*) AS n_events,
        |       max(ep) - min(ep) AS dur_s,
        |       round(sum(value), 2) AS session_value
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q75_time_buckets" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_bucket,
        | event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_bucket, event_type""".stripMargin,

    "q76_event_pivot" ->
      """SELECT user_id % 10 AS bucket,
        | CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
        | CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        | CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        | CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q77_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.ts AS last_click_ts
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    "q85_event_funnel" ->
      s"""WITH $funnelCtes
        |SELECT
        |  CAST(sum(CASE WHEN t_signup   IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN t_click    IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_click,
        |  CAST(sum(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        |FROM u""".stripMargin,

    "q111_pii_scrub_audit" ->
      """WITH h AS (
        |  SELECT event_type, props,
        |    len(regexp_extract_all(props, '[0-9]+')) AS n_num,
        |    len(regexp_extract_all(props,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |    len(regexp_extract_all(props, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ip,
        |    regexp_replace(regexp_replace(regexp_replace(props,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |      '[0-9]+', '<NUM>', 'g') AS scrubbed
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(n_num) AS BIGINT) AS n_num_hits,
        |  CAST(sum(n_email) AS BIGINT) AS n_email_hits,
        |  CAST(sum(n_ip) AS BIGINT) AS n_ip_hits,
        |  CAST(sum(CASE WHEN n_num + n_email + n_ip > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_affected,
        |  count(DISTINCT scrubbed) AS n_distinct_scrubbed
        |FROM h GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q153_event_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events
        |), t AS (
        |  SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
        |  FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2
        |), tot AS (
        |  SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM t GROUP BY 1
        |)
        |SELECT t.from_type, t.to_type, t.n, (1000 * t.n) // tot.tot AS permille
        |FROM t JOIN tot ON t.from_type = tot.from_type
        |ORDER BY t.from_type, t.to_type""".stripMargin,

    "q156_path_pattern" ->
      """WITH p AS (
        |  SELECT user_id, count(*) AS n_events,
        |         string_agg(event_type, ',' ORDER BY ts, event_id) AS path
        |  FROM events GROUP BY user_id
        |)
        |SELECT user_id, n_events,
        |       CAST(len(regexp_extract_all(path, 'click,purchase')) AS BIGINT) AS n_adjacent
        |FROM p
        |WHERE len(regexp_extract_all(path, 'click,purchase')) >= 1
        |ORDER BY user_id""".stripMargin,

    "q149_resample_interpolate" ->
      s"""WITH e AS (
        |  SELECT user_id,
        |         CAST($daySql AS BIGINT) AS day,
        |         $centsSql AS cents
        |  FROM events
        |), daily AS (
        |  SELECT user_id, day,
        |         CAST((CAST(sum(cents) AS BIGINT) * 100) // count(*) AS BIGINT) AS v
        |  FROM e GROUP BY 1, 2
        |), span AS (
        |  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
        |), grid AS (
        |  SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM span
        |), f AS (
        |  SELECT g.user_id, g.day, d.v,
        |    last_value(d.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN d.v IS NOT NULL THEN g.day END IGNORE NULLS)
        |      OVER (PARTITION BY g.user_id ORDER BY g.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |    first_value(d.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN d.v IS NOT NULL THEN g.day END IGNORE NULLS)
        |      OVER (PARTITION BY g.user_id ORDER BY g.day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |  FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
        |)
        |SELECT user_id, day,
        |  CAST(CASE WHEN v IS NOT NULL THEN v
        |            ELSE (pv * (nd - day) + nv * (day - pd)) // (nd - pd) END AS BIGINT) AS v_4dp,
        |  CASE WHEN v IS NOT NULL THEN 'obs' ELSE 'interp' END AS src
        |FROM f ORDER BY user_id, day""".stripMargin,

    "q132_cohort_retention" ->
      s"""WITH a AS (
        |  SELECT DISTINCT user_id,
        |         CAST(floor($daySql
        |                    / 7.0) AS BIGINT) AS wk
        |  FROM events
        |), c AS (
        |  SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY 1
        |)
        |SELECT c.cohort_wk, a.wk - c.cohort_wk AS week_offset,
        |       count(*) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q133_funnel_by_cohort" ->
      s"""WITH $funnelCtes, c AS (
        |  SELECT user_id,
        |         min(CAST(floor($daySql
        |                        / 7.0) AS BIGINT)) AS cohort_wk
        |  FROM events GROUP BY 1
        |), g AS (
        |  SELECT c.cohort_wk,
        |    CAST(sum(CASE WHEN t_signup   IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |    CAST(sum(CASE WHEN t_click    IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |    CAST(sum(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
        |  FROM u JOIN c USING (user_id)
        |  GROUP BY 1
        |)
        |SELECT cohort_wk, n_signup, n_click, n_purchase,
        |       (1000 * n_click) // greatest(n_signup, 1) AS click_pm,
        |       (1000 * n_purchase) // greatest(n_click, 1) AS purchase_pm
        |FROM g ORDER BY cohort_wk""".stripMargin,

    "q160_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ep
        |  FROM events
        |), m AS (
        |  SELECT *, CASE WHEN event_type IN ('click','view','signup')
        |                 THEN event_type END AS chan
        |  FROM e
        |), t AS (
        |  SELECT user_id, event_id, event_type, value, ep,
        |    max(CASE WHEN chan IS NOT NULL THEN ep END) OVER w AS t_ep,
        |    last_value(chan IGNORE NULLS) OVER w AS t_chan
        |  FROM m WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), p AS (
        |  SELECT CASE WHEN t_ep IS NOT NULL AND ep - t_ep <= 604800
        |              THEN t_chan ELSE 'direct' END AS attributed,
        |         value, ep, t_ep
        |  FROM t WHERE event_type = 'purchase'
        |)
        |SELECT attributed, count(*) AS n_conv,
        |       round(sum(value), 2) AS attr_value,
        |       CAST(sum(CASE WHEN attributed <> 'direct' THEN ep - t_ep END) AS BIGINT)
        |         AS total_lag_s
        |FROM p GROUP BY 1 ORDER BY attributed""".stripMargin,

    "q161_cusum_drift" ->
      """WITH e AS (
        |  SELECT event_type, event_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ep,
        |         CAST(floor(value * 100) AS BIGINT) AS x
        |  FROM events
        |), g AS (
        |  SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx
        |  FROM e GROUP BY 1
        |), c AS (
        |  SELECT e.event_type, e.event_id, e.ep, g.n,
        |         CAST(sum(g.n * e.x - g.sx) OVER (
        |           PARTITION BY e.event_type ORDER BY e.ep, e.event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM e JOIN g USING (event_type)
        |), d AS (
        |  SELECT event_type, n, cum,
        |         min(cum) OVER w AS rmin, max(cum) OVER w AS rmax
        |  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY ep, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_type, max(n) AS n,
        |       max(cum - rmin) AS max_drawup,
        |       max(rmax - cum) AS max_drawdown,
        |       max(cum - rmin) // (max(n) * max(n)) AS drawup_cents,
        |       max(rmax - cum) // (max(n) * max(n)) AS drawdown_cents
        |FROM d GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q167_activity_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |         CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day
        |  FROM events
        |), isl AS (
        |  SELECT user_id,
        |         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM days
        |), runs AS (
        |  SELECT user_id, grp, count(*) AS len FROM isl GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_days,
        |       count(*) AS n_streaks, CAST(max(len) AS BIGINT) AS max_streak
        |FROM runs GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q169_mad_outliers" ->
      """WITH e AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS x FROM events
        |), med AS (
        |  SELECT event_type, median(x) AS m FROM e GROUP BY 1
        |), dev AS (
        |  SELECT e.event_type, e.x, abs(e.x - med.m) AS ad, med.m
        |  FROM e JOIN med USING (event_type)
        |), mad AS (
        |  SELECT event_type, median(ad) AS mad FROM dev GROUP BY 1
        |)
        |SELECT dev.event_type, count(*) AS n,
        |       CAST(max(2 * dev.m) AS BIGINT) AS med_halfcents,
        |       CAST(max(2 * mad.mad) AS BIGINT) AS mad_halfcents,
        |       CAST(sum(CASE WHEN dev.ad > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (event_type)
        |GROUP BY dev.event_type
        |ORDER BY event_type""".stripMargin,

    "q171_ewma" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
        |         CAST(floor(value * 100) AS BIGINT) AS x
        |  FROM events
        |), l AS (
        |  SELECT user_id, x, row_number() OVER w AS rn,
        |         lag(x, 1) OVER w AS l1, lag(x, 2) OVER w AS l2,
        |         lag(x, 3) OVER w AS l3, lag(x, 4) OVER w AS l4,
        |         lag(x, 5) OVER w AS l5, lag(x, 6) OVER w AS l6,
        |         lag(x, 7) OVER w AS l7
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)
        |), s AS (
        |  SELECT user_id, rn,
        |         x * 128 + COALESCE(l1, 0) * 64 + COALESCE(l2, 0) * 32
        |           + COALESCE(l3, 0) * 16 + COALESCE(l4, 0) * 8
        |           + COALESCE(l5, 0) * 4 + COALESCE(l6, 0) * 2
        |           + COALESCE(l7, 0) AS num,
        |         256 - (1 << CAST(7 - least(rn - 1, 7) AS INT)) AS den
        |  FROM l
        |)
        |SELECT user_id, CAST(max(rn) AS BIGINT) AS n_events,
        |       CAST(max_by(num // den, rn) AS BIGINT) AS ewma_cents
        |FROM s GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q173_survival_hazard" ->
      """WITH life AS (
        |  SELECT user_id,
        |         (max(CAST(floor(epoch(ts)) AS BIGINT))
        |          - min(CAST(floor(epoch(ts)) AS BIGINT))) // 604800 AS wk
        |  FROM events GROUP BY 1
        |), ends AS (
        |  SELECT wk, count(*) AS n_end FROM life GROUP BY 1
        |), n AS (SELECT count(*) AS n_users FROM life),
        |risk AS (
        |  SELECT wk, n_end,
        |         (SELECT n_users FROM n)
        |           - COALESCE(sum(n_end) OVER (ORDER BY wk
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS at_risk
        |  FROM ends
        |)
        |SELECT wk, n_end, CAST(at_risk AS BIGINT) AS at_risk,
        |       CAST((1000000 * n_end) // at_risk AS BIGINT) AS hazard_ppm
        |FROM risk ORDER BY wk""".stripMargin,

    "q174_rfm_segments" ->
      """WITH u AS (
        |  SELECT user_id,
        |         max(CAST(floor(epoch(ts)) AS BIGINT)) AS rec,
        |         count(*) AS freq,
        |         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS mon
        |  FROM events GROUP BY 1
        |), q AS (
        |  SELECT user_id,
        |         CAST(ntile(5) OVER (ORDER BY rec, user_id) AS BIGINT) AS r_q,
        |         CAST(ntile(5) OVER (ORDER BY freq, user_id) AS BIGINT) AS f_q,
        |         CAST(ntile(5) OVER (ORDER BY mon, user_id) AS BIGINT) AS m_q
        |  FROM u
        |)
        |SELECT user_id, r_q, f_q, m_q,
        |       r_q * 100 + f_q * 10 + m_q AS segment
        |FROM q ORDER BY user_id""".stripMargin,

    "q176_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
        |              THEN 1 ELSE 0 END AS conv,
        |         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS variant
        |  FROM events GROUP BY 1
        |), g AS (
        |  SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |         CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
        |         CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
        |  FROM u
        |)
        |SELECT n_a, n_b, conv_a, conv_b,
        |       (1000000 * conv_a) // n_a AS rate_a_ppm,
        |       (1000000 * conv_b) // n_b AS rate_b_ppm,
        |       CAST(floor(1000 * (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
        |            / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |                   * (CAST(1 AS DOUBLE) - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |                   * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))) AS BIGINT)
        |         AS z_milli
        |FROM g""".stripMargin,

    "q184_lift_chart" ->
      """WITH u AS (
        |  SELECT user_id,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS score,
        |         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
        |              THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY 1
        |), r AS (
        |  SELECT score, conv,
        |         CAST(ntile(10) OVER (ORDER BY score, user_id) AS BIGINT) AS decile
        |  FROM u
        |), per AS (
        |  SELECT decile, count(*) AS n_users, CAST(sum(conv) AS BIGINT) AS n_conv
        |  FROM r GROUP BY 1
        |), t AS (SELECT CAST(sum(n_conv) AS BIGINT) AS tot_conv FROM per),
        |c AS (
        |  SELECT decile, n_users, n_conv,
        |         CAST(sum(n_conv) OVER (ORDER BY decile DESC
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_conv
        |  FROM per
        |)
        |SELECT decile, n_users, n_conv,
        |       (1000000 * n_conv) // n_users AS rate_ppm,
        |       (10000 * cum_conv) // tot_conv AS cum_gain_bp
        |FROM c CROSS JOIN t
        |ORDER BY decile""".stripMargin,

    "q194_rolling_actives" ->
      s"""WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST($daySql AS BIGINT) AS day
        |  FROM events
        |), dau AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1
        |), wau AS (
        |  SELECT wend, CAST(count(*) AS BIGINT) AS wau FROM (
        |    SELECT DISTINCT user_id, day + g.i AS wend
        |    FROM ud, generate_series(0, 6) AS g(i))
        |  GROUP BY 1
        |), cal AS (
        |  SELECT unnest(generate_series(min(day), max(day))) AS day FROM ud
        |)
        |SELECT cal.day AS day,
        |       coalesce(dau.dau, 0) AS dau,
        |       coalesce(wau.wau, 0) AS wau,
        |       CAST(CASE WHEN coalesce(wau.wau, 0) > 0
        |            THEN (1000000 * coalesce(dau.dau, 0)) // wau.wau
        |            ELSE 0 END AS BIGINT) AS stickiness_ppm
        |FROM cal
        |LEFT JOIN wau ON wau.wend = cal.day
        |LEFT JOIN dau ON dau.day = cal.day
        |ORDER BY day""".stripMargin,

    "q195_engagement_histogram" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), pu AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_active_days
        |  FROM ud GROUP BY 1
        |), hist AS (
        |  SELECT n_active_days, CAST(count(*) AS BIGINT) AS n_users
        |  FROM pu GROUP BY 1
        |), t AS (SELECT CAST(sum(n_users) AS BIGINT) AS tot FROM hist),
        |c AS (
        |  SELECT n_active_days, n_users,
        |         CAST(sum(n_users) OVER (ORDER BY n_active_days DESC
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |  FROM hist
        |)
        |SELECT n_active_days, n_users, cum_users,
        |       (1000000 * cum_users) // tot AS cum_share_ppm
        |FROM c CROSS JOIN t
        |ORDER BY n_active_days""".stripMargin,

    "q200_interevent_gaps" ->
      """WITH g AS (
        |  SELECT event_type,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |       round(quantile_cont(gap_us // 1000000, 0.5), 4) AS p50_s,
        |       round(quantile_cont(gap_us // 1000000, 0.9), 4) AS p90_s,
        |       CAST(max(gap_us // 1000000) AS BIGINT) AS max_s
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q201_trend_mk" ->
      s"""WITH $dailyCte, p AS (
        |  SELECT a.event_type,
        |         CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day < b.day
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(sum(sgn) AS BIGINT) AS s_stat,
        |       CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
        |       CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
        |       CASE WHEN sum(sgn) > 0 THEN 'up'
        |            WHEN sum(sgn) < 0 THEN 'down' ELSE 'flat' END AS trend
        |FROM p GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q217_conversion_window" ->
      s"""WITH $funnelCtes, f AS (
        |  SELECT
        |    CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END AS su,
        |    CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END AS cv,
        |    CASE WHEN t_purchase IS NOT NULL
        |          AND epoch_us(t_purchase) - epoch_us(t_signup) <= 259200000000
        |         THEN 1 ELSE 0 END AS cv72
        |  FROM u
        |)
        |SELECT CAST(sum(su) AS BIGINT) AS n_signup,
        |       CAST(sum(cv) AS BIGINT) AS n_conv_any,
        |       CAST(sum(cv72) AS BIGINT) AS n_conv_72h,
        |       (1000000 * CAST(sum(cv) AS BIGINT)) // greatest(CAST(sum(su) AS BIGINT), 1) AS any_ppm,
        |       (1000000 * CAST(sum(cv72) AS BIGINT)) // greatest(CAST(sum(su) AS BIGINT), 1) AS conv72_ppm
        |FROM f ORDER BY n_signup""".stripMargin,

    "q218_cohort_ltv" ->
      s"""WITH co AS (
        |  SELECT user_id,
        |         min(CAST(floor($daySql
        |             / CAST(7 AS DOUBLE)) AS BIGINT)) AS cohort_wk
        |  FROM events GROUP BY 1
        |), cells AS (
        |  SELECT co.cohort_wk,
        |         CAST(floor($daySql
        |             / CAST(7 AS DOUBLE)) AS BIGINT) - co.cohort_wk AS week_offset,
        |         CAST(count(*) AS BIGINT) AS n_purchases,
        |         CAST(sum($centsSql) AS BIGINT) AS rev_cents
        |  FROM events e JOIN co ON e.user_id = co.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2
        |)
        |SELECT cohort_wk, week_offset, n_purchases, rev_cents,
        |       CAST(sum(rev_cents) OVER (PARTITION BY cohort_wk ORDER BY week_offset
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_cents
        |FROM cells ORDER BY cohort_wk, week_offset""".stripMargin,

    "q223_peak_concurrency" ->
      s"""WITH ${sessionCtes()}, sess AS (
        |  SELECT user_id, session_id, min(ep) AS t0, max(ep) AS t1
        |  FROM s GROUP BY 1, 2
        |), deltas AS (
        |  SELECT t, CAST(sum(d) AS BIGINT) AS nd FROM (
        |    SELECT t0 AS t, 1 AS d FROM sess
        |    UNION ALL SELECT t1 + 1, -1 FROM sess)
        |  GROUP BY 1
        |), conc AS (
        |  SELECT t, CAST(sum(nd) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
        |  FROM deltas
        |), mx AS (SELECT max(conc) AS peak FROM conc),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM sess)
        |SELECT mx.peak, min(conc.t) AS at_ep, ns.n_sessions
        |FROM conc CROSS JOIN mx CROSS JOIN ns
        |WHERE conc.conc = mx.peak
        |GROUP BY mx.peak, ns.n_sessions
        |ORDER BY mx.peak""".stripMargin,

    "q224_asof_forward" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.ts AS next_click_ts
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts
        |ORDER BY p.event_id""".stripMargin,

    "q252_metric_waterfall" ->
      s"""WITH $periodPairCtes
        |SELECT u1, p1, r1, u2, p2, r2,
        |       r2 - r1 AS delta_cents,
        |       ((u2 - u1) * r1) // u1 AS t_users,
        |       ((p2 * u1 - p1 * u2) * r1) // (u1 * p1) AS t_freq,
        |       (r2 * p1 - r1 * p2) // p1 AS t_value,
        |       (r2 - r1) - ((u2 - u1) * r1) // u1
        |                 - ((p2 * u1 - p1 * u2) * r1) // (u1 * p1)
        |                 - (r2 * p1 - r1 * p2) // p1 AS residual_cents
        |FROM a CROSS JOIN b
        |ORDER BY u1""".stripMargin,

    // ppm tier: same rollups; every division is the verified
    // truncate-toward-zero // on both engines.
    "q252b_waterfall_ppm" ->
      s"""WITH $periodPairCtes,
        |t AS (
        |  SELECT u1, p1, r1, u2, p2, r2,
        |         r2 - r1 AS delta_cents,
        |         (u2 * 1000000) // u1 AS ru_ppm,
        |         (p2 * 1000000) // p1 AS rp_ppm
        |  FROM a CROSS JOIN b
        |)
        |SELECT u1, p1, r1, u2, p2, r2, delta_cents, ru_ppm, rp_ppm,
        |       ((ru_ppm - 1000000) * r1) // 1000000 AS t_users,
        |       ((rp_ppm - ru_ppm) * r1) // 1000000 AS t_freq,
        |       r2 - (rp_ppm * r1) // 1000000 AS t_value,
        |       delta_cents - ((ru_ppm - 1000000) * r1) // 1000000
        |                   - ((rp_ppm - ru_ppm) * r1) // 1000000
        |                   - (r2 - (rp_ppm * r1) // 1000000) AS residual_cents
        |FROM t
        |ORDER BY u1""".stripMargin,

    "q251_churn_labels" ->
      s"""WITH ev AS (
        |  SELECT user_id,
        |         CAST($daySql AS BIGINT) AS day,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isp,
        |         $centsSql AS cents
        |  FROM events
        |), feat AS (
        |  SELECT user_id,
        |         CAST(count(*) AS BIGINT) AS n_events_obs,
        |         CAST(sum(isp) AS BIGINT) AS n_purchases_obs,
        |         20 - max(day) AS recency_d,
        |         CAST(sum(cents) AS BIGINT) AS value_cents_obs
        |  FROM ev WHERE day <= 20 GROUP BY 1
        |), fut AS (
        |  SELECT user_id FROM ev
        |  WHERE day > 20 AND day <= 27 AND isp = 1
        |  GROUP BY 1 HAVING count(*) >= 2
        |)
        |SELECT f.user_id, f.n_events_obs, f.n_purchases_obs,
        |       f.recency_d, f.value_cents_obs,
        |       CASE WHEN fut.user_id IS NOT NULL THEN 1 ELSE 0 END AS label_repeat_7d
        |FROM feat f LEFT JOIN fut ON f.user_id = fut.user_id
        |ORDER BY f.user_id""".stripMargin,

    "q250_lag_features" ->
      s"""WITH daily AS (
        |  SELECT user_id,
        |         CAST($daySql AS BIGINT) AS day,
        |         CAST(count(*) AS BIGINT) AS n_day
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT user_id, day, n_day,
        |       CAST(coalesce(sum(n_day) OVER (PARTITION BY user_id ORDER BY day
        |         RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_prev_7d,
        |       day - lag(day) OVER (PARTITION BY user_id ORDER BY day) AS days_since_prev,
        |       CAST(sum(n_day) OVER (PARTITION BY user_id ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_events
        |FROM daily ORDER BY user_id, day""".stripMargin,

    "q246_mann_whitney" ->
      s"""WITH $centsRunCtes, agg AS (
        |  SELECT event_type,
        |         CAST(sum(na) AS BIGINT) AS n_a,
        |         CAST(sum(nb) AS BIGINT) AS n_b,
        |         CAST(sum(na * (2 * (rsum - cnt) + cnt + 1)) AS BIGINT) AS r1x2,
        |         CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_t
        |  FROM run GROUP BY 1
        |), u AS (
        |  SELECT event_type, n_a, n_b, tie_t,
        |         2 * n_a * n_b + n_a * (n_a + 1) - r1x2 AS u1x2
        |  FROM agg
        |), z AS (
        |  SELECT event_type, n_a, n_b, u1x2,
        |    CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b > 1
        |          AND (n_a + n_b + 1) * (n_a + n_b) * (n_a + n_b - 1) > tie_t THEN
        |      CAST(floor(1000 *
        |        (CAST(u1x2 AS DOUBLE) / 2 - CAST(n_a AS DOUBLE) * n_b / 2)
        |        / sqrt((CAST(n_a AS DOUBLE) * n_b / 12)
        |               * (CAST(n_a + n_b + 1 AS DOUBLE)
        |                  - CAST(tie_t AS DOUBLE)
        |                    / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1))))) AS BIGINT)
        |    END AS z_milli
        |  FROM u
        |)
        |SELECT event_type, n_a, n_b, u1x2, z_milli,
        |       CASE WHEN abs(z_milli) >= 1960 THEN 1 ELSE 0 END AS sig_05
        |FROM z ORDER BY event_type""".stripMargin,

    // ppm tier: HUGEINT mirrors Spark's DECIMAL(38,0) — both exact
    // integers, so u_ppm and the double-z agree bit-for-bit. Only
    // BIGINT columns ship (the type audit would flag a HUGEINT).
    "q246b_mwu_ppm" ->
      s"""WITH $centsRunCtes, agg AS (
        |  SELECT event_type,
        |         CAST(sum(na) AS BIGINT) AS n_a,
        |         CAST(sum(nb) AS BIGINT) AS n_b,
        |         sum(CAST(na AS HUGEINT) * (2 * (rsum - cnt) + cnt + 1)) AS r1x2d,
        |         sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie_td
        |  FROM run GROUP BY 1
        |), u AS (
        |  SELECT event_type, n_a, n_b, tie_td,
        |         2 * CAST(n_a AS HUGEINT) * n_b + CAST(n_a AS HUGEINT) * (n_a + 1) - r1x2d AS u1x2d
        |  FROM agg
        |), z AS (
        |  SELECT event_type, n_a, n_b,
        |    CAST((1000000 * u1x2d) // (2 * CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS u_ppm,
        |    CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b > 1
        |          AND CAST(n_a + n_b + 1 AS HUGEINT) * (n_a + n_b) * (n_a + n_b - 1) > tie_td THEN
        |      CAST(floor(1000 *
        |        (CAST(u1x2d AS DOUBLE) / 2 - CAST(n_a AS DOUBLE) * n_b / 2)
        |        / sqrt((CAST(n_a AS DOUBLE) * n_b / 12)
        |               * (CAST(n_a + n_b + 1 AS DOUBLE)
        |                  - CAST(tie_td AS DOUBLE)
        |                    / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1))))) AS BIGINT)
        |    END AS z_milli
        |  FROM u
        |)
        |SELECT event_type, n_a, n_b, u_ppm, z_milli,
        |       CASE WHEN abs(z_milli) >= 1960 THEN 1 ELSE 0 END AS sig_05
        |FROM z ORDER BY event_type""".stripMargin,

    "q244_capture_recapture" ->
      """WITH ev AS (
        |  SELECT event_type, user_id,
        |         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS b
        |  FROM events
        |), per AS (
        |  SELECT event_type, user_id,
        |         max(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS in1,
        |         max(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS in2
        |  FROM ev GROUP BY 1, 2
        |), agg AS (
        |  SELECT event_type,
        |         CAST(count(*) AS BIGINT) AS n_true,
        |         CAST(sum(in1) AS BIGINT) AS n1,
        |         CAST(sum(in2) AS BIGINT) AS n2,
        |         CAST(sum(in1 * in2) AS BIGINT) AS m
        |  FROM per GROUP BY 1
        |)
        |SELECT event_type, n_true, n1, n2, m,
        |       CAST((CAST(n1 AS HUGEINT) * n2) // greatest(m, 1) AS BIGINT) AS lp_est,
        |       CAST(((CAST(n1 AS HUGEINT) + 1) * (n2 + 1)) // (m + 1) - 1 AS BIGINT)
        |         AS chapman_est,
        |       CAST((1000000 * CAST(abs(((CAST(n1 AS HUGEINT) + 1) * (n2 + 1))
        |         // (m + 1) - 1 - n_true) AS HUGEINT)) // n_true AS BIGINT) AS err_ppm
        |FROM agg ORDER BY event_type""".stripMargin,

    "q242_sequential_ab" ->
      s"""WITH ev AS (
        |  SELECT user_id,
        |         CAST($daySql AS BIGINT) AS day,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isp
        |  FROM events
        |), h AS (SELECT max(day) AS hmax FROM ev),
        |pud AS (
        |  SELECT user_id, day, CAST(sum(isp) AS BIGINT) AS np
        |  FROM ev GROUP BY 1, 2
        |), fd AS (SELECT user_id, min(day) AS d0 FROM pud GROUP BY 1),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(d0, hmax)) AS day
        |  FROM fd CROSS JOIN h
        |), cum AS (
        |  SELECT g.user_id, g.day,
        |    CAST(sum(coalesce(pud.np, 0)) OVER (PARTITION BY g.user_id ORDER BY g.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_p,
        |    CAST(('0x' || substr(md5(CAST(g.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
        |      AS variant
        |  FROM grid g LEFT JOIN pud ON g.user_id = pud.user_id AND g.day = pud.day
        |), agg AS (
        |  SELECT day,
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN variant = 0 AND cum_p >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
        |    CAST(sum(CASE WHEN variant = 1 AND cum_p >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS conv_b
        |  FROM cum GROUP BY 1
        |), z AS (
        |  SELECT day, n_a, n_b, conv_a, conv_b,
        |    CASE WHEN n_a > 0 AND n_b > 0
        |           AND conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b THEN
        |      CAST(floor(1000 * (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
        |        / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |               * (CAST(1 AS DOUBLE) - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |               * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))) AS BIGINT)
        |    END AS z_milli
        |  FROM agg
        |)
        |SELECT day, n_a, n_b, conv_a, conv_b, z_milli,
        |       CASE WHEN abs(z_milli) >= 1960 THEN 1 ELSE 0 END AS sig_naive,
        |       CASE WHEN abs(z_milli) >= 2930 THEN 1 ELSE 0 END AS sig_corrected
        |FROM z ORDER BY day""".stripMargin,

    "q241_emd_drift" ->
      s"""WITH $binCdfCtes
        |SELECT et AS event_type, max(ta) AS n_a, max(tb) AS n_b,
        |       CAST(count(*) AS BIGINT) AS n_bins,
        |       (2000 * 100 * CAST(sum(abs(cuma * tb - cumb * ta)) AS BIGINT))
        |         // (max(ta) * max(tb)) AS emd_centicents
        |FROM cum GROUP BY 1 ORDER BY event_type""".stripMargin,

    // ppm tier: same dense-bin window chain; the CDF images floor to
    // ppm shares before any cross-period product.
    "q241b_emd_ppm" ->
      s"""WITH $binCdfCtes, shares AS (
        |  SELECT et, ta, tb,
        |         (cuma * 1000000) // ta AS sa_ppm,
        |         (cumb * 1000000) // tb AS sb_ppm
        |  FROM cum
        |)
        |SELECT et AS event_type, max(ta) AS n_a, max(tb) AS n_b,
        |       CAST(count(*) AS BIGINT) AS n_bins,
        |       CAST(sum(abs(sa_ppm - sb_ppm)) AS BIGINT) AS sd_ppm,
        |       (2000 * 100 * CAST(sum(abs(sa_ppm - sb_ppm)) AS BIGINT))
        |         // 1000000 AS emd_centicents_ppm
        |FROM shares GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q237_dp_sensitivity" ->
      s"""WITH per AS (
        |  SELECT event_type, user_id,
        |         CAST(count(*) AS BIGINT) AS n_u,
        |         CAST(sum($centsSql) AS BIGINT) AS c_u
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(n_u) AS BIGINT) AS n_events,
        |       max(n_u) AS sens_count,
        |       max(c_u) AS sens_cents,
        |       CAST(sum(c_u) AS BIGINT) AS total_cents,
        |       (1000000 * max(n_u)) // CAST(sum(n_u) AS BIGINT) AS count_share_ppm,
        |       (1000000 * max(c_u)) // greatest(CAST(sum(c_u) AS BIGINT), 1)
        |         AS cents_share_ppm
        |FROM per GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q235_twap" ->
      s"""WITH g AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, event_id,
        |         epoch_us(ts) AS ep_us,
        |         $centsSql AS cents
        |  FROM events
        |), h AS (
        |  SELECT user_id, day, event_id, ep_us, cents,
        |         coalesce(lead(ep_us) OVER (PARTITION BY user_id, day
        |           ORDER BY ep_us, event_id) - ep_us, 0) AS hold_us
        |  FROM g
        |), a AS (
        |  SELECT user_id, day, CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(sum(cents * hold_us) AS BIGINT) AS num,
        |         max(ep_us) - min(ep_us) AS den,
        |         arg_min(cents, event_id) AS c0
        |  FROM h GROUP BY 1, 2
        |)
        |SELECT user_id, day, n_events,
        |       CASE WHEN den = 0 THEN c0 ELSE num // den END AS twap_cents,
        |       CASE WHEN den = 0 THEN CAST(0 AS BIGINT)
        |            ELSE ((num % den) * 1000000) // den END AS frac_ppm
        |FROM a ORDER BY user_id, day""".stripMargin,

    "q232_psi_drift" ->
      s"""WITH ev AS (
        |  SELECT event_type, event_id,
        |         $daySql < 15 AS is_a,
        |         $centsSql AS cents
        |  FROM events
        |), ranked AS (
        |  SELECT event_type, cents,
        |         CAST(ntile(10) OVER (PARTITION BY event_type
        |           ORDER BY cents, event_id) AS BIGINT) AS bucket
        |  FROM ev WHERE is_a
        |), bmax AS (
        |  SELECT event_type AS et,
        |         max(CASE WHEN bucket = 1 THEN cents END) AS b1,
        |         max(CASE WHEN bucket = 2 THEN cents END) AS b2,
        |         max(CASE WHEN bucket = 3 THEN cents END) AS b3,
        |         max(CASE WHEN bucket = 4 THEN cents END) AS b4,
        |         max(CASE WHEN bucket = 5 THEN cents END) AS b5,
        |         max(CASE WHEN bucket = 6 THEN cents END) AS b6,
        |         max(CASE WHEN bucket = 7 THEN cents END) AS b7,
        |         max(CASE WHEN bucket = 8 THEN cents END) AS b8,
        |         max(CASE WHEN bucket = 9 THEN cents END) AS b9
        |  FROM ranked WHERE bucket <= 9 GROUP BY 1
        |), binned AS (
        |  SELECT ev.event_type, ev.is_a,
        |         1 + (CASE WHEN cents > b1 THEN 1 ELSE 0 END)
        |           + (CASE WHEN cents > b2 THEN 1 ELSE 0 END)
        |           + (CASE WHEN cents > b3 THEN 1 ELSE 0 END)
        |           + (CASE WHEN cents > b4 THEN 1 ELSE 0 END)
        |           + (CASE WHEN cents > b5 THEN 1 ELSE 0 END)
        |           + (CASE WHEN cents > b6 THEN 1 ELSE 0 END)
        |           + (CASE WHEN cents > b7 THEN 1 ELSE 0 END)
        |           + (CASE WHEN cents > b8 THEN 1 ELSE 0 END)
        |           + (CASE WHEN cents > b9 THEN 1 ELSE 0 END) AS bin
        |  FROM ev JOIN bmax ON ev.event_type = bmax.et
        |), cells AS (
        |  SELECT event_type, bin,
        |         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |         CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM binned GROUP BY 1, 2
        |), tot AS (
        |  SELECT event_type AS et2, CAST(sum(na) AS BIGINT) AS ta,
        |         CAST(sum(nb) AS BIGINT) AS tb
        |  FROM cells GROUP BY 1
        |)
        |SELECT event_type, max(ta) AS n_a, max(tb) AS n_b,
        |       CAST(sum(CASE WHEN na = 0 OR nb = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_degenerate_bins,
        |       round(sum(CASE WHEN na > 0 AND nb > 0 THEN
        |           (CAST(na AS DOUBLE) / ta - CAST(nb AS DOUBLE) / tb)
        |           * ln((CAST(na AS DOUBLE) / ta) / (CAST(nb AS DOUBLE) / tb))
        |         ELSE 0 END), 4) AS psi4
        |FROM cells JOIN tot ON cells.event_type = tot.et2
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q225_autocorrelation" ->
      s"""WITH $dailyCte
        |SELECT a.event_type, b.day - a.day AS lag,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       round(corr(a.c, b.c), 4) AS acf4
        |FROM daily a JOIN daily b
        |  ON a.event_type = b.event_type AND b.day - a.day BETWEEN 1 AND 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q226_theilsen" ->
      s"""WITH $dailyCte, p AS (
        |  SELECT a.event_type,
        |         CAST(trunc((1000000 * (b.c - a.c)) / CAST(b.day - a.day AS DOUBLE)) AS BIGINT) AS slope_ppm
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day < b.day
        |), m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY slope_ppm) AS DOUBLE) AS med_slope_ppm
        |  FROM p GROUP BY 1
        |)
        |SELECT event_type, n_pairs, med_slope_ppm,
        |       CASE WHEN med_slope_ppm > 0 THEN 'up'
        |            WHEN med_slope_ppm < 0 THEN 'down' ELSE 'flat' END AS trend
        |FROM m ORDER BY event_type""".stripMargin,

    "q229_seasonal_decomp" ->
      s"""WITH $dailyCte, tr AS (
        |  SELECT event_type, day, c,
        |         CASE WHEN count(*) OVER w = 7 THEN sum(c) OVER w / 7.0 END AS trend,
        |         day % 7 AS dow
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), seas AS (
        |  SELECT event_type, dow, avg(c - trend) AS seasonal0
        |  FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT tr.event_type, tr.day, tr.c,
        |       round(tr.trend, 4) AS trend4,
        |       round(seas.seasonal0, 4) AS seasonal4,
        |       round(tr.c - tr.trend - seas.seasonal0, 4) AS resid4
        |FROM tr LEFT JOIN seas
        |  ON tr.event_type = seas.event_type AND tr.dow = seas.dow
        |ORDER BY tr.event_type, tr.day""".stripMargin,

    "q221_decayed_value" ->
      s"""WITH ev AS (
        |  SELECT user_id,
        |         CAST($daySql AS BIGINT) AS day,
        |         $centsSql AS cents
        |  FROM events WHERE event_type = 'purchase'
        |), mx AS (SELECT max(day) AS mxd FROM ev),
        |dc AS (
        |  SELECT user_id, cents,
        |         cents // (CAST(1 AS BIGINT) << CAST(least((mxd - day) // 7, 62) AS INTEGER)) AS dec_cents
        |  FROM ev CROSS JOIN mx
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
        |       CAST(sum(cents) AS BIGINT) AS raw_cents,
        |       CAST(sum(dec_cents) AS BIGINT) AS decayed_cents
        |FROM dc GROUP BY 1
        |ORDER BY decayed_cents DESC, user_id LIMIT 100""".stripMargin,

    "q222_top_paths" ->
      """WITH r AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |), p AS (
        |  SELECT user_id,
        |         string_agg(event_type, ',' ORDER BY ts, event_id) AS path
        |  FROM r WHERE rn <= 5 GROUP BY 1
        |)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |FROM p GROUP BY 1
        |ORDER BY n_users DESC, path LIMIT 20""".stripMargin,

    "q204_time_to_convert" ->
      s"""WITH $funnelCtes, dl AS (
        |  SELECT (epoch_us(t_purchase) - epoch_us(t_signup)) // 1000000 AS delta_s
        |  FROM u WHERE t_signup IS NOT NULL AND t_purchase IS NOT NULL
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_conv,
        |       CAST(min(delta_s) AS BIGINT) AS min_s,
        |       round(quantile_cont(delta_s, 0.5), 4) AS p50_s,
        |       round(quantile_cont(delta_s, 0.9), 4) AS p90_s,
        |       CAST(max(delta_s) AS BIGINT) AS max_s
        |FROM dl ORDER BY n_conv""".stripMargin,

    "q205_session_bounce" ->
      s"""WITH ${sessionCtes("event_type")}, fx AS (
        |  SELECT user_id, session_id, ep,
        |    first_value(event_type) OVER ws AS entry_type,
        |    last_value(event_type) OVER ws AS exit_type
        |  FROM s WINDOW ws AS (PARTITION BY user_id, session_id
        |    ORDER BY ep, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |), sess AS (
        |  SELECT user_id, session_id,
        |         max(entry_type) AS entry_type, max(exit_type) AS exit_type,
        |         count(*) AS n_events, max(ep) - min(ep) AS dur_s
        |  FROM fx GROUP BY 1, 2
        |)
        |SELECT entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
        |       (1000000 * CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT))
        |         // count(*) AS bounce_ppm,
        |       CAST(sum(dur_s) AS BIGINT) // count(*) AS mean_dur_s,
        |       (1000000 * CAST(sum(CASE WHEN exit_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT))
        |         // count(*) AS exit_purchase_ppm
        |FROM sess GROUP BY 1 ORDER BY entry_type""".stripMargin,

    "q206_new_vs_returning" ->
      s"""WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST($daySql AS BIGINT) AS day
        |  FROM events
        |), fd AS (
        |  SELECT user_id, min(day) AS fday FROM ud GROUP BY 1
        |)
        |SELECT day,
        |       CAST(sum(CASE WHEN day = fday THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |       CAST(sum(CASE WHEN day <> fday THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
        |       (1000000 * CAST(sum(CASE WHEN day = fday THEN 1 ELSE 0 END) AS BIGINT))
        |         // count(*) AS new_share_ppm
        |FROM ud JOIN fd USING (user_id)
        |GROUP BY 1 ORDER BY day""".stripMargin,

    "q209_dow_profile" ->
      s"""WITH $dailyCte, pd AS (
        |  SELECT event_type, day % 7 AS dow,
        |         CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(c) AS BIGINT) AS n_events
        |  FROM daily GROUP BY 1, 2
        |), pa AS (
        |  SELECT event_type,
        |         (100 * CAST(sum(c) AS BIGINT)) // count(*) AS mean_all_x100
        |  FROM daily GROUP BY 1
        |)
        |SELECT pd.event_type, pd.dow, pd.n_days, pd.n_events,
        |       (100 * pd.n_events) // pd.n_days AS mean_x100,
        |       (1000000 * ((100 * pd.n_events) // pd.n_days)) // pa.mean_all_x100 AS ratio_ppm
        |FROM pd JOIN pa ON pd.event_type = pa.event_type
        |ORDER BY pd.event_type, pd.dow""".stripMargin
  )
}
