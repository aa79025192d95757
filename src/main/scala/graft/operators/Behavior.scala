package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Share

/**
 * Event-sequence analytics over the `events` stream: ordered funnel
 * conversion and cohort retention — the two reports every
 * product-analytics consumer of an event pipeline asks for first.
 * The reference's event plane stops at transport (connectors move the
 * rows; Grafana reads connector gauges, `fastapi/main.py:18-63`), so
 * these extend the engine along the analytics axis the builder's
 * brief adds. Pure column programs: no UDFs, no collects.
 */
object Behavior {

  /**
   * Ordered funnel: for each user, step i counts only if it happened
   * STRICTLY AFTER the user's step-(i-1) completion time — the
   * standard "view → click → purchase" conversion semantics, not mere
   * set membership. Completion time of step i is the user's EARLIEST
   * qualifying occurrence (min ts > t_{i-1}), which makes the whole
   * funnel deterministic and replayable.
   *
   * Output: one row per step — `step_idx`, `step`, `n_users`,
   * `conv_from_prev` (round 6, NULL for step 0), `avg_gap_s`
   * (mean seconds from the previous step's completion, computed as
   * round(double(sum_ms)/n/1000, 4) over an EXACT BIGINT millisecond
   * sum so both engines replay identical doubles; NULL for step 0).
   *
   * Scale shape: each step is one filtered slice of the event stream
   * shuffled by user (a fraction of the input), joined to the
   * previous step's per-user frame (one row per surviving user, k
   * timestamps wide) on the SAME user key — hash partitioning is
   * established once and reused down the chain. The final report
   * window (`lag` over step_idx) runs over exactly `steps.length`
   * rows. No per-user event lists are ever materialized.
   */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    val base = events
      .select(col(userCol).as("__u"),
        // UTC session pin makes the NTZ cast exact (see q17's note).
        unix_millis(col(tsCol).cast("timestamp")).as("__ms"),
        col(typeCol).as("__t"))
      .where(col("__u").isNotNull && col("__ms").isNotNull)

    // Per-user completion frames: frame i has (__u, __ms0..__msi).
    val frames = steps.indices.foldLeft(Vector.empty[DataFrame]) { (acc, i) =>
      val slice = base.where(col("__t") === steps(i)).drop("__t")
      val next =
        if (i == 0) slice.groupBy("__u").agg(min(col("__ms")).as("__ms0"))
        else {
          val prev = acc.last
          val carried = (0 until i).map(j => min(col(s"__ms$j")).as(s"__ms$j"))
          slice.join(prev, "__u")
            .where(col("__ms") > col(s"__ms${i - 1}"))
            .groupBy("__u")
            .agg(carried.head, carried.tail :+ min(col("__ms")).as(s"__ms$i"): _*)
        }
      acc :+ next
    }

    val perStep = frames.zipWithIndex.map { case (f, i) =>
      val gapSum =
        if (i == 0) lit(null).cast("long")
        else sum(col(s"__ms$i") - col(s"__ms${i - 1}"))
      f.agg(count(lit(1)).as("n_users"), gapSum.as("__gap_ms"))
        .select(lit(i).as("step_idx"), lit(steps(i)).as("step"),
          col("n_users"), col("__gap_ms"))
    }.reduce(_ unionByName _)

    // steps.length rows total: the unpartitioned lag window is bounded
    // by the funnel's arity, never by data.
    val w = Window.orderBy("step_idx")
    perStep
      .withColumn("__prev_n", lag(col("n_users"), 1).over(w))
      .select(col("step_idx"), col("step"), col("n_users"),
        round(col("n_users").cast("double") / col("__prev_n"), 6)
          .as("conv_from_prev"),
        round(col("__gap_ms").cast("double") / col("n_users") / lit(1000.0d), 4)
          .as("avg_gap_s"))
      .orderBy("step_idx")
  }

  /**
   * Cohort retention matrix: users are cohorted by the calendar
   * period (`unit` ∈ date_trunc's units; default ISO week) of their
   * FIRST event; `n_users` counts cohort members active in the period
   * `offset` units later; `retention` divides by the cohort's size
   * (its offset-0 row — every member is active in its own first
   * period by construction, so the denominator is total cohort size).
   *
   * Output: `cohort` (date), `week_offset` (int ≥ 0 — named to dodge
   * the reserved word OFFSET in oracle SQL), `n_users`, `retention`
   * (round 6), ordered (cohort, week_offset).
   *
   * Scale shape: two aggregations and one join, all keyed by user —
   * one hash partitioning reused throughout; the widest thing
   * shuffled is (user, period). The retention denominator comes from
   * a window over the (cohort × offset) matrix, whose cardinality is
   * calendar-bounded, not data-bounded.
   */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String,
                      unit: String = "week", unitDays: Int = 7): DataFrame = {
    val acts = events
      .select(col(userCol).as("__u"),
        date_trunc(unit, col(tsCol)).cast("date").as("__p"))
      .where(col("__u").isNotNull && col("__p").isNotNull)
      .distinct()
    val cohorts = acts.groupBy("__u").agg(min(col("__p")).as("__c"))
    val matrix = acts.join(cohorts, "__u")
      .select(col("__c"),
        (datediff(col("__p"), col("__c")) / unitDays).cast("int")
          .as("week_offset"))
      .groupBy(col("__c").as("cohort"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
    val w = Window.partitionBy("cohort")
    matrix
      .withColumn("__size",
        max(when(col("week_offset") === 0, col("n_users"))).over(w))
      .select(col("cohort"), col("week_offset"), col("n_users"),
        round(col("n_users").cast("double") / col("__size"), 6).as("retention"))
      .orderBy("cohort", "week_offset")
  }

  /**
   * Gap-based sessionization with PER-EVENT session assignment — the
   * row-level companion to `StreamingOps.sessionAgg` (which aggregates
   * into session windows; this LABELS each event so downstream logic
   * can reason about position inside a session). Same boundary
   * semantics as session_window's half-open [start, last+gap): a gap
   * of exactly `gapSeconds` starts a new session.
   *
   * Appends `session_idx` (1-based per key, in time order): classic
   * lag-then-prefix-sum — the new-session indicator from `lag`, then
   * a running sum over the same key-partitioned, time-ordered window.
   * Ties at equal timestamps are safe: a zero gap never opens a
   * session, so every tie order yields the same labels.
   *
   * Scale shape: ONE shuffle by key; both window passes and any
   * downstream per-(key, session) aggregation reuse that partitioning.
   */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
                 gapSeconds: Long): DataFrame = {
    require(gapSeconds >= 1, "gapSeconds must be >= 1")
    val ms = unix_millis(col(tsCol).cast("timestamp"))
    val w = Window.partitionBy(col(keyCol)).orderBy(ms)
    val prev = lag(ms, 1).over(w)
    val isNew = when(prev.isNull || (ms - prev >= gapSeconds * 1000L), 1L)
      .otherwise(0L)
    events.withColumn("session_idx",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)))
  }

  /**
   * Rolling z-score anomaly flags over an ordered per-group series —
   * the alerting primitive for "today's count is off its trailing
   * baseline" (crawl-volume drops, error-rate spikes). The baseline is
   * the STRICTLY PRIOR `lookback` rows (never the current one, so a
   * spike can't mask itself), with population moments from exact
   * integer/decimal window sums and the same fixed-order double
   * program as [[Relational.zscore]]; rows with fewer than `minN`
   * baseline points or zero baseline variance get z = NULL.
   *
   * Appends: `roll_n` (baseline rows), `roll_mean` (round 4), `z`
   * (round 4, NULL when undefined).
   *
   * Intended input is an already-aggregated series (e.g. daily counts
   * per type): the window runs over a calendar-bounded matrix, not the
   * raw corpus. Σx² accumulates in DECIMAL(38,0) so 10-digit daily
   * counts can't overflow a BIGINT square.
   */
  def rollingZ(df: DataFrame, by: Seq[String], orderCol: String,
               valueCol: String, lookback: Int, minN: Int = 3): DataFrame = {
    require(lookback >= minN && minN >= 2, "need lookback >= minN >= 2")
    val w = Window.partitionBy(by.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(-lookback, -1)
    val x = col(valueCol).cast("long")
    val xd = x.cast("decimal(19,0)")
    val n = count(x).over(w)
    val mean = sum(x).over(w).cast("double") / n
    val vr = sum(xd * xd).over(w).cast("double") / n - mean * mean
    df.withColumn("roll_n", n)
      .withColumn("roll_mean",
        when(n >= minN, round(mean, 4)).otherwise(lit(null).cast("double")))
      .withColumn("z",
        when(n >= minN && vr > 0,
          round((x.cast("double") - mean) / sqrt(vr), 4))
          .otherwise(lit(null).cast("double")))
  }

  /**
   * User growth curve: per first-seen period, how many NEW keys
   * appeared and the running total — the acquisition readout next to
   * [[engagement]]'s activity pulse. One aggregation to first-seen
   * periods, one period-keyed count, and a cumulative window over the
   * calendar-bounded day spine. Output: (`day`, `n_new`, `cum_total`),
   * ordered.
   */
  def growthCurve(events: DataFrame, keyCol: String,
                  tsCol: String): DataFrame = {
    val daily = events
      .select(col(keyCol).as("__k"), col(tsCol).cast("date").as("__d"))
      .where(col("__k").isNotNull && col("__d").isNotNull)
      .groupBy("__k").agg(min(col("__d")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.withColumn("cum_total", sum(col("n_new")).over(w))
      .orderBy("day")
  }

  /**
   * Per-group ordinary-least-squares trend fit — "is this feed's
   * volume declining": slope/intercept/R² of y over x per group, from
   * one aggregation of DECIMAL-exact moments (6-dp-quantized inputs,
   * the corrMatrix arithmetic). Every derived value is a fixed-order
   * double program — slope = (n·Σxy − Σx·Σy) / (n·Σx² − Σx·Σx),
   * intercept = (Σy − slope·Σx) / n, R² = cov² / (varx·vary) — each
   * rounded to 6; groups with zero x-variance (or zero y-variance for
   * R²) emit NULL. Output: `by` cols + (n, slope, intercept, r2).
   *
   * Scale shape: one map-side-combined aggregation, 5 sums per group.
   */
  def trendFit(df: DataFrame, by: Seq[String], xCol: String,
               yCol: String): DataFrame = {
    def q(c: String) = round(col(c).cast("double"), 6).cast("decimal(28,6)")
    val m = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(q(xCol)).cast("double").as("__sx"),
        sum(q(yCol)).cast("double").as("__sy"),
        sum((q(xCol) * q(xCol)).cast("decimal(38,12)")).cast("double")
          .as("__sxx"),
        sum((q(yCol) * q(yCol)).cast("decimal(38,12)")).cast("double")
          .as("__syy"),
        sum((q(xCol) * q(yCol)).cast("decimal(38,12)")).cast("double")
          .as("__sxy"))
    val nd = col("n").cast("double")
    val cov = nd * col("__sxy") - col("__sx") * col("__sy")
    val vx = nd * col("__sxx") - col("__sx") * col("__sx")
    val vy = nd * col("__syy") - col("__sy") * col("__sy")
    val slope = cov / vx
    m.select((by.map(col) :+ col("n") :+
      when(vx > 0d, round(slope, 6)).otherwise(lit(null).cast("double"))
        .as("slope") :+
      when(vx > 0d,
        round((col("__sy") - slope * col("__sx")) / nd, 6))
        .otherwise(lit(null).cast("double")).as("intercept") :+
      when(vx > 0d && vy > 0d, round(cov * cov / (vx * vy), 6))
        .otherwise(lit(null).cast("double")).as("r2")): _*)
  }

  /**
   * Theil–Sen robust trend estimator: per group, the median of all
   * pairwise slopes (y_j − y_i)/(x_j − x_i) over x_i < x_j — the
   * rank-based sibling of [[trendFit]]'s OLS: one wild day drags an
   * OLS slope arbitrarily, but moves a median-of-slopes by one rank
   * (breakdown point ≈ 29%). Slopes are 6-dp-quantized, the median is
   * the exact bucketed-quantile program ([[Relational.exactQuantiles]]),
   * and the output is re-rounded to 6 — both engines replay the same
   * IEEE program. Output: `by` cols + `ts_slope`.
   *
   * ANSI safety: the pairwise division is self-guarded with
   * `when(x2 > x1, ...)` even though the join condition already
   * enforces x1 < x2 — Catalyst folds downstream isNotNull filters
   * into the join condition AHEAD of the range conjunct, so an
   * unguarded division would run on the x1 == x2 diagonal and throw
   * DIVIDE_BY_ZERO under ANSI mode. The guard is a no-op on results.
   *
   * Scale shape: the pairwise frame is per-group O(d²) over DISTINCT
   * x values (days, not events) — d is calendar-bounded, so the join
   * input is the compact daily matrix and the only data-sized shuffle
   * is the initial aggregation to it. The join itself is an equi-join
   * on the group key (broadcastable daily matrix); the quantile
   * program adds vocab-bounded exchanges.
   */
  def theilSen(df: DataFrame, by: Seq[String], xCol: String,
               yCol: String): DataFrame = {
    val keep = by.map(col) :+ col(xCol) :+ col(yCol)
    val base = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(keep: _*)
    val right = base.select(
      (by.map(c => col(c).as(s"__r_$c")) :+
        col(xCol).as("__x2") :+ col(yCol).as("__y2")): _*)
    val cond = by.map(c => col(c) === col(s"__r_$c"))
      .reduce(_ && _) && col(xCol) < col("__x2")
    val pairs = base.join(right, cond)
      .select((by.map(col) :+
        round(when(col("__x2") > col(xCol),
          (col("__y2") - col(yCol)).cast("double") /
            (col("__x2") - col(xCol)).cast("double")),
          6).as("__slope")): _*)
    Relational.exactQuantiles(pairs, by, "__slope", Seq("ts_slope" -> 0.5))
      .withColumn("ts_slope", round(col("ts_slope"), 6))
  }

  /**
   * Mann–Kendall trend test — the significance gate for [[theilSen]]'s
   * slope (same pairwise-sign statistic family): per group,
   * S = Σ_{i<j} sign(y_j − y_i) over x-ordered pairs, the
   * tie-corrected variance numerator
   * 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (t = tied-y group
   * sizes), and the continuity-corrected z = (S ∓ 1)/√(Var S). S, n,
   * and the variance numerator are pure BIGINT decisions; z is ONE
   * fixed-order double program (sqrt of an exact-integer/18 ratio,
   * round 6) replicated operand-for-operand in an oracle. Groups need
   * ≥ 2 distinct x; zero-variance groups (all y tied) emit NULL z.
   *
   * Output: `by` cols + (n, s_stat, var18, z).
   *
   * Scale shape: same as [[theilSen]] — the pairwise frame is
   * per-group O(d²) over the compact per-x matrix (calendar-bounded
   * days, not events); the tie histogram is a vocab-bounded second
   * aggregation of the same matrix; both join back group-keyed.
   */
  def mannKendall(df: DataFrame, by: Seq[String], xCol: String,
                  yCol: String): DataFrame = {
    val keep = by.map(col) :+ col(xCol) :+ col(yCol)
    val base = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(keep: _*)
    val right = base.select(
      (by.map(c => col(c).as(s"__r_$c")) :+
        col(xCol).as("__x2") :+ col(yCol).as("__y2")): _*)
    val cond = by.map(c => col(c) === col(s"__r_$c"))
      .reduce(_ && _) && col(xCol) < col("__x2")
    val s = base.join(right, cond)
      .groupBy(by.map(col): _*)
      .agg(sum(signum(col("__y2") - col(yCol)).cast("long")).as("s_stat"))
    val nRows = base.groupBy(by.map(col): _*).agg(count(lit(1)).as("n"))
    def mk(c: Column): Column = c * (c - 1L) * (lit(2L) * c + 5L)
    val ties = base.groupBy((by.map(col) :+ col(yCol)): _*)
      .agg(count(lit(1)).as("__t"))
      .groupBy(by.map(col): _*)
      .agg(sum(mk(col("__t"))).as("__tsum"))
    val var18 = mk(col("n")) - col("__tsum")
    val sd = sqrt(col("var18").cast("double") / 18d)
    val z = when(col("s_stat") > 0L, (col("s_stat") - 1L).cast("double") / sd)
      .when(col("s_stat") < 0L, (col("s_stat") + 1L).cast("double") / sd)
      .otherwise(lit(0d))
    nRows.join(s, by).join(ties, by)
      .withColumn("var18", var18)
      .select((by.map(col) :+ col("n") :+ col("s_stat") :+ col("var18") :+
        when(col("var18") > 0L, round(z, 6))
          .otherwise(lit(null).cast("double")).as("z")): _*)
  }

  /**
   * Classical additive seasonal decomposition readout (the
   * weekly-shape sibling of [[theilSen]]/[[mannKendall]] over the
   * same daily matrix): per group and phase (x mod `period`), the
   * centered seasonal index of y after removing a centered
   * `period`-point moving-average trend — "Mondays run +340 events
   * over trend". Only FULL windows contribute (all `period` points
   * present AND x-contiguous), so missing days can't smear the trend.
   *
   * Exactness: the detrended value is held as the exact BIGINT
   * numerator p·y − Σ_window y (denominator p), so per-phase means
   * are exact-integer sums with ONE double division
   * (Σnum / (p·count), rounded 6, then DECIMAL(28,6)); the centering
   * mean is a DECIMAL-exact sum with one cast-and-divide. Every
   * double is a fixed-order program an oracle replays
   * operand-for-operand. Output: `by` cols + (`phase`, `n_win`,
   * `seasonal_idx`).
   *
   * Scale shape: one shuffle by group for the x-ordered window over
   * the compact per-x matrix (calendar-bounded rows, not events);
   * the phase aggregation and the per-group centering window run
   * over group×period rows.
   */
  def seasonalIndex(df: DataFrame, by: Seq[String], xCol: String,
                    yCol: String, period: Int = 7): DataFrame = {
    require(period >= 3 && period % 2 == 1,
      "seasonalIndex: period must be odd and >= 3")
    val half = period / 2
    val base = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
    val w = Window.partitionBy(by.map(col): _*).orderBy(col(xCol))
      .rowsBetween(-half, half)
    val windowed = base
      .withColumn("__sump", sum(col(yCol)).over(w))
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__span", max(col(xCol)).over(w) - min(col(xCol)).over(w))
      .filter(col("__cnt") === period.toLong &&
        col("__span") === lit(period - 1))
      .select((by.map(col) :+
        pmod(col(xCol), lit(period)).as("phase") :+
        (lit(period.toLong) * col(yCol) - col("__sump")).as("__num")): _*)
    val perPhase = windowed
      .groupBy((by.map(col) :+ col("phase")): _*)
      .agg(sum(col("__num")).as("__numsum"), count(lit(1)).as("n_win"))
      .withColumn("__sraw",
        round(col("__numsum").cast("double") /
          (lit(period.toDouble) * col("n_win").cast("double")), 6)
          .cast("decimal(28,6)"))
    val wg = Window.partitionBy(by.map(col): _*)
    perPhase
      .withColumn("__center",
        sum(col("__sraw")).over(wg).cast("double") /
          count(lit(1)).over(wg).cast("double"))
      .select((by.map(col) :+ col("phase") :+ col("n_win") :+
        round(col("__sraw").cast("double") - col("__center"), 6)
          .as("seasonal_idx")): _*)
  }

  /**
   * First-touch / last-touch conversion attribution — the marketing
   * analytics staple over the event stream: every conversion event
   * credits (a) the user's FIRST preceding non-conversion touch and
   * (b) the LAST preceding non-conversion touch, and the report
   * counts conversions per touch type under both models side by side
   * (they disagree exactly when journeys are long — the gap IS the
   * insight). "Preceding" is at-or-before on the (ts, tie) total
   * order; conversions with no prior touch report as `(none)`.
   *
   * Determinism: the per-user sequence is total-ordered by
   * (ts, tieCol); touches resolve via first/last IGNORE NULLS windows
   * over that order; all outputs are exact BIGINT counts.
   *
   * Scale shape: ONE shuffle by user for the two windows (running
   * first/last per row — no per-user event lists), then a
   * type-bounded count aggregation; the two models share the same
   * windowed pass.
   */
  def touchAttribution(events: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, tieCol: String,
                       convType: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val touch = when(col(typeCol) =!= convType, col(typeCol))
    val attributed = events
      .withColumn("__first", first(touch, ignoreNulls = true).over(w))
      .withColumn("__last", last(touch, ignoreNulls = true).over(w))
      .filter(col(typeCol) === convType)
    val firstC = attributed
      .groupBy(coalesce(col("__first"), lit("(none)")).as("touch_type"))
      .agg(count(lit(1)).as("first_touch_convs"))
    val lastC = attributed
      .groupBy(coalesce(col("__last"), lit("(none)")).as("touch_type"))
      .agg(count(lit(1)).as("last_touch_convs"))
    firstC.join(lastC, Seq("touch_type"), "full_outer")
      .select(col("touch_type"),
        coalesce(col("first_touch_convs"), lit(0L)).as("first_touch_convs"),
        coalesce(col("last_touch_convs"), lit(0L)).as("last_touch_convs"))
  }

  /**
   * Kaplan–Meier survival estimator — the time-to-event readout
   * (time to first purchase, time to churn, time to first crash)
   * over right-censored durations: rows are (duration, event) pairs
   * where event = 1 means the event was observed at `duration` and
   * 0 means observation merely ENDED there (censored). Output: one
   * row per distinct observed-event time per group —
   * (`t`, `n_risk`, `d_events`, `n_censored`, `ln_surv`, `surv`) —
   * where S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) over event times.
   *
   * Determinism: risk sets and event counts are exact BIGINT
   * (nᵢ = total − all-durations-before-tᵢ, a cumulative window over
   * the duration histogram); each factor's ln((n−d)/n) is
   * 6-dp-rounded once and the running ln-survival is an EXACT
   * DECIMAL(28,6) sum (reported as `ln_surv` — the exactly-replayable
   * column); `surv` = exp(ln_surv) through the portable
   * floor(x·10⁶ + 0.5)/10⁶ rounding.
   *
   * Scale shape: one aggregation to the (group, duration, event)
   * histogram (vocab-bounded: distinct durations), two windows over
   * that histogram, nothing data-sized past the first groupBy.
   */
  def kaplanMeier(durations: DataFrame, by: Seq[String],
                  durationCol: String, eventCol: String): DataFrame = {
    val hist = durations
      .where(col(durationCol).isNotNull && col(eventCol).isNotNull)
      .groupBy((by.map(col) :+ col(durationCol).cast("long").as("t")): _*)
      .agg(sum(when(col(eventCol) =!= 0, 1L).otherwise(0L)).as("d_events"),
        sum(when(col(eventCol) === 0, 1L).otherwise(0L)).as("n_censored"))
    val wPrior = Window.partitionBy(by.map(col): _*).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(by.map(col): _*)
    val wRun = Window.partitionBy(by.map(col): _*).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risky = hist
      .withColumn("__total",
        sum(col("d_events") + col("n_censored")).over(wAll))
      .withColumn("__before",
        coalesce(sum(col("d_events") + col("n_censored")).over(wPrior),
          lit(0L)))
      .withColumn("n_risk", col("__total") - col("__before"))
    // n == d (the whole risk set events out) drives S to exactly 0 —
    // ln is undefined there and DIVERGENTLY so across engines
    // (Spark log(0) = NULL, C engines -inf), so a running zero flag
    // masks that row and everything after: ln_surv NULL, surv 0.0.
    val lnTerm = when(
      col("d_events") > 0L && col("n_risk") > col("d_events"),
      round(log((col("n_risk") - col("d_events")).cast("double") /
        col("n_risk").cast("double")), 6))
      .otherwise(lit(0d))
    def pr6(c: Column): Column =
      floor(c * lit(1000000.0) + lit(0.5)).cast("long").cast("double") /
        lit(1000000.0)
    risky
      .withColumn("__ln", lnTerm.cast("decimal(28,6)"))
      .withColumn("__zero",
        max(when(col("d_events") > 0L &&
          col("n_risk") === col("d_events"), 1).otherwise(0)).over(wRun))
      .withColumn("__lnsum", sum(col("__ln")).over(wRun))
      .filter(col("d_events") > 0L) // curve rows at event times only
      .select((by.map(col) :+ col("t") :+ col("n_risk") :+
        col("d_events") :+ col("n_censored") :+
        when(col("__zero") === 0, col("__lnsum").cast("double"))
          .otherwise(lit(null).cast("double")).as("ln_surv") :+
        when(col("__zero") === 0, pr6(exp(col("__lnsum").cast("double"))))
          .otherwise(lit(0d)).as("surv")): _*)
  }

  /**
   * Autocorrelation function of a per-group series — the seasonality
   * CONFIRMATION beside [[seasonalIndex]]: ACF peaking at lag 7 is
   * the evidence the weekly decomposition is the right model, and a
   * slow-decaying ACF flags trend the [[rollingZ]] alarms must
   * detrend first. r_k = Σ (y_t − ȳ)(y_{t+k} − ȳ) / Σ (y_t − ȳ)²
   * over exact x-aligned pairs (t, t+k).
   *
   * Exactness: the mean never materializes — with S = Σy and n,
   * substitute z_t = n·y_t − S (exact BIGINT) and the n² factors
   * cancel: r_k = Σ z_t·z_{t+k} / Σ z_t², a PURE INTEGER ratio with
   * one portable-rounded double division. Output: `by`* +
   * (`lag_k`, `n_pairs`, `acf`).
   *
   * Scale shape: one aggregation to the per-x matrix (the only
   * data-sized stage), a 2-row broadcast of (n, S) per group, and a
   * maxLag-fan-out equi-join on (group, x + k) — matrix-sized × k,
   * never event-sized.
   */
  def autocorrelation(df: DataFrame, by: Seq[String], xCol: String,
                      yCol: String, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, "autocorrelation: maxLag must be >= 1")
    val base = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((by.map(col) :+ col(xCol).cast("long").as("__x") :+
        col(yCol).cast("long").as("__y")): _*)
    val stats = base.groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__s"))
    val z = base.join(broadcast(stats), by)
      .select((by.map(col) :+ col("__x") :+
        (col("__n") * col("__y") - col("__s")).as("__z")): _*)
    val denom = z.groupBy(by.map(col): _*)
      .agg(sum((col("__z") * col("__z")).cast("decimal(38,0)")).as("__den"))
    val lagged = z.select(
      (by.map(c => col(c).as(s"__r_$c")) :+ col("__x").as("__x2") :+
        col("__z").as("__z2")): _*)
    val fan = z.withColumn("lag_k",
      explode(sequence(lit(1), lit(maxLag))))
    val cond = by.map(c => col(c) === col(s"__r_$c")).reduce(_ && _) &&
      col("__x2") === col("__x") + col("lag_k")
    val numer = fan.join(lagged, cond)
      .groupBy((by.map(col) :+ col("lag_k")): _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("__z") * col("__z2")).cast("decimal(38,0)")).as("__num"))
    def pr6(c: Column): Column =
      floor(c * lit(1000000.0) + lit(0.5)).cast("long").cast("double") /
        lit(1000000.0)
    numer.join(denom, by)
      .select((by.map(col) :+ col("lag_k") :+ col("n_pairs") :+
        when(col("__den") > 0,
          pr6(col("__num").cast("double") / col("__den").cast("double")))
          .otherwise(lit(null).cast("double")).as("acf")): _*)
  }

  /**
   * Top-k common journeys: the most frequent length-`len` event-type
   * sequences over each key's (ts, tie)-total-ordered stream — the
   * "what do sessions actually do" report one level above
   * [[transitionMatrix]]'s single steps. Windows are strictly
   * consecutive per key (lead(1), lead(2), …); a path only counts
   * where all `len` positions exist. Deterministic top-k:
   * (n desc, path asc).
   *
   * Output: (`path` — types joined with '>', `n`, `rank`).
   *
   * Scale shape: ONE shuffle by key for the lead windows; the count
   * table is type^len-bounded and the top-k is a TakeOrdered over it.
   */
  def commonPaths(events: DataFrame, keyCol: String, tsCol: String,
                  typeCol: String, tieCol: String, len: Int = 3,
                  k: Int = 10): DataFrame = {
    require(len >= 2, "commonPaths: len must be >= 2")
    require(k >= 1, "commonPaths: k must be >= 1")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val steps = (0 until len).map { i =>
      if (i == 0) col(typeCol) else lead(col(typeCol), i).over(w)
    }
    val path = concat_ws(">", steps: _*)
    val complete = steps.map(_.isNotNull).reduce(_ && _)
    val counts = events
      .select(path.as("path"), complete.as("__ok"))
      .filter(col("__ok"))
      .groupBy("path").agg(count(lit(1)).as("n"))
    counts.orderBy(col("n").desc, col("path").asc)
      .limit(k)
      .withColumn("rank",
        org.apache.spark.sql.functions.row_number().over(
          Window.orderBy(col("n").desc, col("path").asc)))
  }

  /**
   * RFM segmentation — the classic customer-value grid: per user,
   * Recency (days since last activity, vs the corpus max day),
   * Frequency (event count), Monetary (DECIMAL-exact value sum),
   * each bucketed 1–5 by its own exact quintile cuts, and the report
   * counts users per (r, f, m) cell (≤ 125 rows). Recency buckets
   * INVERT (most-recent = 5) so "555" reads as best in every
   * dimension, the marketing convention.
   *
   * Determinism: the three cut sets come from ONE
   * [[Relational.exactQuantilesMulti]] pass (the quantile_cont-exact
   * program), every cut and measure is 6-dp-quantized before the
   * strict `>` threshold compares (the q89 convention), and counts
   * are exact BIGINT.
   *
   * Scale shape: one user-keyed aggregation (the only data-sized
   * stage), the quantile program over the per-user frame, then a
   * 1-row cut broadcast onto it; the report is cell-bounded.
   */
  def rfmSegments(events: DataFrame, userCol: String, tsCol: String,
                  valueCol: String): DataFrame = {
    val maxDay = events.agg(max(col(tsCol).cast("date")).as("__maxd"))
    val peru = events.groupBy(col(userCol))
      .agg(max(col(tsCol).cast("date")).as("__last"),
        count(lit(1)).as("__f"),
        sum(col(valueCol).cast("decimal(18,6)")).as("__msum"))
      .crossJoin(broadcast(maxDay))
      .select(col(userCol),
        datediff(col("__maxd"), col("__last")).cast("double").as("__r"),
        col("__f").cast("double").as("__fv"),
        round(col("__msum").cast("double"), 6).as("__mv"))
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    def spec(c: String) = c -> qs.zipWithIndex.map { case (q, i) =>
      s"${c}_c$i" -> q
    }
    val cuts = Relational.exactQuantilesMulti(peru, Seq.empty,
      Seq(spec("__r"), spec("__fv"), spec("__mv")))
    def bucket(vc: String, cc: String): Column =
      lit(1) + qs.indices.map(i =>
        when(round(col(vc), 6) > round(col(s"${cc}_c$i"), 6), 1)
          .otherwise(0)).reduce(_ + _)
    peru.crossJoin(broadcast(cuts))
      .select(
        // recency inverts: fewer days since last activity = better
        (lit(6) - bucket("__r", "__r")).as("r_bucket"),
        bucket("__fv", "__fv").as("f_bucket"),
        bucket("__mv", "__mv").as("m_bucket"))
      .groupBy("r_bucket", "f_bucket", "m_bucket")
      .agg(count(lit(1)).as("n_users"))
  }

  /**
   * Robust trend anomalies — the [[theilSen]] line completed into an
   * outlier report: per group, the Theil–Sen slope, the robust
   * intercept (median residual of y − slope·x), the residual MAD,
   * and the count of days beyond `k`·MAD — "which days genuinely
   * broke trend" with BOTH the line and the scale estimated robustly,
   * so the outliers being hunted can't poison the ruler measuring
   * them (the flaw of [[rollingZ]]'s mean/σ under heavy
   * contamination).
   *
   * Determinism: slope is [[theilSen]]'s 6-dp median-of-slopes;
   * residuals quantize to 6 dp before BOTH exact-quantile medians
   * (the q154 two-pass MAD program); the flag compare is strict `>`
   * on 6-dp-quantized operands. Output: `by`* +
   * (n_days, ts_slope, intercept, mad, n_anomalies).
   *
   * Scale shape: [[theilSen]]'s day²-bounded pairs, then two
   * sequential exact-quantile programs over the compact daily matrix
   * (inherently two passes — the second's input depends on the
   * first), each vocab-bounded.
   */
  def theilSenAnomalies(df: DataFrame, by: Seq[String], xCol: String,
                        yCol: String, k: Double = 3.0): DataFrame = {
    // Slopes feed the residual projection AND the final report join —
    // the share stops the day²-bounded pair program re-running
    // per consumer. The two medians share ONE residual histogram
    // (r17): the deviation |r − intercept| is a per-VALUE transform,
    // so the MAD histogram derives from the residual histogram by a
    // group-broadcast join + re-sum instead of a second full quantile
    // program over per-row deviations (whose input embedded the whole
    // first program — the q186 13.7 s / 32-core plan-blowup case; the
    // med/dev checkpoints that papered over it are gone with it).
    val slopes = Share.once(theilSen(df, by, xCol, yCol),
      "theilSenAnomalies.slopes")
    val resid = df.join(slopes, by)
      .select((by.map(col) :+ col(xCol) :+
        round(col(yCol).cast("double") -
          col("ts_slope") * col(xCol).cast("double"), 6).as("__r")): _*)
    val rCounts = resid.groupBy((by.map(col) :+ col("__r")): _*)
      .agg(count(lit(1)).as("__cnt"))
    // med and mad are read only by the final plan below, where exchange
    // reuse runs each quantile program's shuffles once
    val med = Relational.exactQuantilesFromCounts(rCounts, by, "__r",
        "__cnt", Seq("intercept" -> 0.5))
      .withColumn("intercept", round(col("intercept"), 6))
    val dCounts = rCounts.join(med, by)
      .select((by.map(col) :+
        round(abs(col("__r") - col("intercept")), 6).as("__d") :+
        col("__cnt")): _*)
      .groupBy((by.map(col) :+ col("__d")): _*)
      .agg(sum(col("__cnt")).as("__cnt"))
    val mad = Relational.exactQuantilesFromCounts(dCounts, by, "__d",
        "__cnt", Seq("mad" -> 0.5))
      .withColumn("mad", round(col("mad"), 6))
    resid.join(med, by)
      .withColumn("__d", round(abs(col("__r") - col("intercept")), 6))
      .join(mad, by)
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n_days"),
        min(col("intercept")).as("intercept"),
        min(col("mad")).as("mad"),
        sum(when(col("__d") > round(lit(k) * col("mad"), 6), 1L)
          .otherwise(0L)).as("n_anomalies"))
      .join(slopes, by)
      .select((by.map(col) :+ col("n_days") :+ col("ts_slope") :+
        col("intercept") :+ col("mad") :+ col("n_anomalies")): _*)
  }

  /**
   * First-order event-type transition matrix (the empirical Markov
   * chain over each key's event sequence): consecutive-event (from,
   * to) counts and row-normalized transition probabilities — the
   * "what happens after an error" readout, and the generative model a
   * session-simulation harness samples from.
   *
   * Sequence order is (ts, tie-break column) per key — pass a unique
   * `tieCol` (an event id) so the lag chain is total-ordered and the
   * matrix replays exactly. Output: (`from_type`, `to_type`, `n`,
   * `p` = round(n / row_total, 6)), ordered.
   *
   * Scale shape: one shuffle by key for the lag window, then a
   * type²-bounded count matrix; the row-total window runs over that
   * matrix, not the data.
   */
  def transitionMatrix(events: DataFrame, keyCol: String, tsCol: String,
                       typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val m = events
      .withColumn("__from", lag(col(typeCol), 1).over(w))
      .where(col("__from").isNotNull)
      .groupBy(col("__from").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
    val rw = Window.partitionBy("from_type")
    m.withColumn("__rt", sum(col("n")).over(rw))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("__rt"), 6).as("p"))
      .orderBy("from_type", "to_type")
  }

  /**
   * Engagement / stickiness report: per active day, DAU, trailing
   * 7-day WAU, and DAU/WAU — the product-analytics pulse metric.
   * Exact distinct users, no approximation: each (user, day) activity
   * row fans out to the ≤ 7 future days it keeps the user
   * "weekly-active" for (a ×7 map, never a range join), and WAU is a
   * distinct count per covered day — state is calendar × users
   * bounded. Days with zero activity don't appear (the spine is the
   * observed-activity days).
   *
   * Output: (`day`, `dau`, `wau`, `stickiness` = round(dau/wau, 6)).
   */
  def engagement(events: DataFrame, userCol: String,
                 tsCol: String): DataFrame = {
    val act = events
      .select(col(userCol).as("__u"), col(tsCol).cast("date").as("__d"))
      .where(col("__u").isNotNull && col("__d").isNotNull)
      .distinct()
    val dau = act.groupBy(col("__d").as("day")).agg(count(lit(1)).as("dau"))
    val wau = act
      .select(col("__u"),
        explode(sequence(col("__d"), date_add(col("__d"), 6))).as("day"))
      .groupBy("day").agg(countDistinct(col("__u")).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
      .orderBy("day")
  }

  /**
   * CUSUM level-shift control chart per series — the changepoint
   * detector the rolling-z ([[rollingZ]]) and the trend tests
   * ([[theilSen]], [[mannKendall]]) don't give: a SUSTAINED small
   * shift accumulates in the cumulative sum long before any single
   * day breaches a z threshold. Page's statistic with zero slack
   * against the series' own mean: S⁺_t = max(0, S⁺_{t−1} + (x_t−μ)),
   * S⁻ symmetric — computed EXACTLY via the window identity
   * S⁺_t = C_t − min_{0≤j≤t} C_j (C = prefix sum of deviations,
   * C_0 = 0 because Page's S starts at zero), so the sequential
   * recurrence costs two window passes, not a loop.
   *
   * Exactness: deviations are held on the integer n-scale
   * (n·x_t − Σx in DECIMAL — inputs 6-dp-quantized to DECIMAL(15,6)
   * so the n·x product stays an exact decimal in any engine), the
   * prefix sum / running extrema are exact decimal programs, and the
   * breach flags compare exact decimals (S⁺ against h·n — no rounded
   * operand in the decision). The reported s_plus/s_minus divide by
   * n ONCE and round via the portable floor(x·10⁶+0.5)/10⁶ program
   * (rationals with denominator n are .5e-6 boundary magnets).
   * Output: `by`* + (`orderCol`, s_plus, s_minus, shift_up,
   * shift_down) — one row per input row.
   *
   * Scale shape: feed it compact per-group frames (daily matrices) —
   * windows run per group on one partitioning; the raw-event
   * aggregation that builds the frame is the caller's map-side
   * combine. No self-join, no loop, two window passes.
   */
  def cusum(df: DataFrame, by: Seq[String], orderCol: String,
            valueCol: String, h: Double): DataFrame = {
    val q = round(col(valueCol).cast("double"), 6).cast("decimal(15,6)")
    val tot = df.where(col(valueCol).isNotNull)
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("__n"), sum(q).as("__sv"))
    val dev = df.where(col(valueCol).isNotNull).join(tot, by)
      .withColumn("__dev",
        (col("__n").cast("decimal(12,0)") * q - col("__sv"))
          .cast("decimal(28,6)"))
    val wr = Window.partitionBy(by.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = dev.withColumn("__c", sum(col("__dev")).over(wr))
      .withColumn("__cmin", min(col("__c")).over(wr))
      .withColumn("__cmax", max(col("__c")).over(wr))
    // Page's prefix extrema include the empty prefix C_0 = 0 (S starts
    // at zero): a first observation already off the baseline IS a
    // shift, so the extrema clamp to zero.
    val zero = lit(0L).cast("decimal(28,6)")
    val spn = col("__c") - least(col("__cmin"), zero)
    val smn = greatest(col("__cmax"), zero) - col("__c")
    val hn = lit(h).cast("decimal(15,6)") * col("__n").cast("decimal(12,0)")
    def port(x: Column): Column =
      floor(x.cast("double") / col("__n").cast("double") * 1e6d + 0.5d) /
        1e6d
    c.select((by.map(col) :+ col(orderCol) :+
      port(spn).as("s_plus") :+ port(smn).as("s_minus") :+
      (spn > hn).as("shift_up") :+ (smn > hn).as("shift_down")): _*)
  }

  /**
   * Lead–lag cross-correlation — [[autocorrelation]] widened to TWO
   * series: Pearson r between x_t and y_{t+lag} for every lag in
   * [−maxLag, maxLag], the does-X-precede-Y readout (do error spikes
   * lead purchase dips, does crawl volume lead dedup load?). The
   * peak lag is the causal-direction hint a same-day correlation
   * matrix can't give.
   *
   * Exactness: one self-join of the compact frame on the group keys
   * filtered to |Δt| ≤ maxLag (each aligned pair lands in exactly one
   * lag bucket), the spearman DECIMAL(38,0) moment program over the
   * 6-dp-quantized values per (group, lag), ONE fixed-order double
   * correlation rounded 6. Lags with zero variance on either side
   * emit NULL. Output: `by`* + (lag, n, r).
   *
   * Scale shape: the frame must be compact (daily matrices) — the
   * join fans each row out ≤ 2·maxLag+1 times on the group
   * partitioning; moments map-side combine. Never feed raw events.
   */
  def leadLagCorr(df: DataFrame, by: Seq[String], tCol: String,
                  xCol: String, yCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 0, "leadLagCorr: maxLag must be >= 0")
    def q(c: String) = round(col(c).cast("double"), 6).cast("decimal(15,6)")
    val base = df.where(col(tCol).isNotNull && col(xCol).isNotNull &&
      col(yCol).isNotNull)
    val l = base.select((by.map(col) :+ col(tCol).cast("long").as("__tl") :+
      q(xCol).as("__x")): _*)
    val r = base.select((by.map(col) :+ col(tCol).cast("long").as("__tr") :+
      q(yCol).as("__y")): _*)
    val pairs = l.join(r, by)
      .where(col("__tr") - col("__tl") >= -maxLag.toLong &&
        col("__tr") - col("__tl") <= maxLag.toLong)
      .withColumn("lag", col("__tr") - col("__tl"))
    val m = pairs.groupBy((by.map(col) :+ col("lag")): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).cast("double").as("__sx"),
        sum(col("__y")).cast("double").as("__sy"),
        sum((col("__x") * col("__x")).cast("decimal(38,12)")).cast("double")
          .as("__sxx"),
        sum((col("__y") * col("__y")).cast("decimal(38,12)")).cast("double")
          .as("__syy"),
        sum((col("__x") * col("__y")).cast("decimal(38,12)")).cast("double")
          .as("__sxy"))
    val nd = col("n").cast("double")
    val num = nd * col("__sxy") - col("__sx") * col("__sy")
    val vx = nd * col("__sxx") - col("__sx") * col("__sx")
    val vy = nd * col("__syy") - col("__sy") * col("__sy")
    m.select((by.map(col) :+ col("lag") :+ col("n") :+
      when(vx > 0d && vy > 0d, round(num / (sqrt(vx) * sqrt(vy)), 6))
        .otherwise(lit(null).cast("double")).as("r")): _*)
  }

  /**
   * EWMA one-step-ahead forecast chart — the exponentially-weighted
   * sibling of [[rollingZ]]'s flat window and [[cusum]]'s cumulative
   * shift: yesterday matters more than last week. With α = 1/4 over
   * a bounded window W, the weights are EXACT dyadic rationals —
   * w_k = 3^(k−1)/4^k for the k-th most recent prior value, last
   * weight 3^(W−1)/4^(W−1), summing to exactly 1 over the common
   * denominator 4^(W−1) — so the forecast numerator Σ c_k·x_{t−k}
   * is an exact integer-coefficient DECIMAL program and the spike
   * decision |x_t·4^(W−1) − S| > h·4^(W−1) compares exact decimals
   * (no rounded operand in the alarm). The forecast is reported via
   * ONE double division portable-rounded 6. Strictly-prior window:
   * the current value never smooths itself. Rows without a full W
   * prior values emit nothing.
   * Output: `by`* + (`orderCol`, value-as-double, forecast, spike).
   *
   * Scale shape: one window pass (W lags) per group on the compact
   * frame partitioning — no join, no loop; W ≤ 16 keeps the
   * coefficients in BIGINT range.
   */
  def ewmaChart(df: DataFrame, by: Seq[String], orderCol: String,
                valueCol: String, window: Int = 8,
                h: Double = 3.0): DataFrame = {
    require(window >= 2 && window <= 16,
      "ewmaChart: window must be in [2, 16]")
    val q = round(col(valueCol).cast("double"), 6).cast("decimal(15,6)")
    val w = Window.partitionBy(by.map(col): _*).orderBy(col(orderCol))
    // c_k for the k-th most recent PRIOR value (k = 1..W):
    // 3^(k-1)·4^(W-1-k) for k < W, 3^(W-1) for k = W; Σ = 4^(W-1).
    val denom = math.pow(4d, window - 1).toLong
    val coef = (1 to window).map { k =>
      if (k < window)
        math.pow(3d, k - 1).toLong * math.pow(4d, window - 1 - k).toLong
      else math.pow(3d, window - 1).toLong
    }
    val s = (1 to window).map(k =>
        lag(q, k).over(w) * lit(coef(k - 1)).cast("decimal(12,0)"))
      .reduce(_ + _).cast("decimal(32,6)")
    val full = lag(q, window).over(w).isNotNull
    val hn = (lit(h).cast("decimal(15,6)") *
      lit(denom).cast("decimal(12,0)")).cast("decimal(32,6)")
    val dev = (q * lit(denom).cast("decimal(12,0)")).cast("decimal(32,6)") -
      col("__s")
    df.where(col(valueCol).isNotNull)
      .withColumn("__s", s).withColumn("__full", full)
      .where(col("__full"))
      .select((by.map(col) :+ col(orderCol) :+
        q.cast("double").as("value") :+
        (floor(col("__s").cast("double") / lit(denom.toDouble) * 1e6d +
          0.5d) / 1e6d).as("forecast") :+
        (abs(dev) > hn).as("spike")): _*)
  }

  /**
   * Two-regressor OLS per group — [[trendFit]] widened to the
   * smallest genuinely multivariate readout (daily revenue explained
   * by order volume AND buyer reach, attribution beyond "it went
   * up"): normal equations solved in closed form via Cramer's rule
   * on the centered Gram matrix, from ONE aggregation pass.
   *
   * Exactness: inputs 6-dp-quantize to DECIMAL(15,6) — products stay
   * exact (31,12) decimals in any engine ((28,6)² would need
   * precision 56 and silently route through DOUBLE in some) — the
   * nine moment sums accumulate exactly, and everything after is a
   * fixed-order double program over their casts: centered moments
   * M_ij = n·S_ij − S_i·S_j, det = M11·M22 − M12², coefficients,
   * R² = (b1·M1y + b2·M2y)/Myy, each rounded 6. Collinear or
   * degenerate groups (det ≤ 0) emit NULL coefficients; zero
   * y-variance emits NULL r2. Output: `by`* + (n, b0, b1, b2, r2).
   *
   * Scale shape: one map-side-combined aggregation (9 sums), a
   * per-group closed-form solve — no iteration, no matrix library,
   * no second pass. The 100 TB posture is the same as [[trendFit]]:
   * the data is read once, the solve is free.
   */
  def olsFit2(df: DataFrame, by: Seq[String], x1Col: String,
              x2Col: String, yCol: String): DataFrame = {
    def q(c: String) = round(col(c).cast("double"), 6).cast("decimal(15,6)")
    def p(a: String, bc: String) =
      sum((q(a) * q(bc)).cast("decimal(38,12)")).cast("double")
    val m = df.where(col(x1Col).isNotNull && col(x2Col).isNotNull &&
        col(yCol).isNotNull)
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(q(x1Col)).cast("double").as("__s1"),
        sum(q(x2Col)).cast("double").as("__s2"),
        sum(q(yCol)).cast("double").as("__sy"),
        p(x1Col, x1Col).as("__s11"), p(x2Col, x2Col).as("__s22"),
        p(x1Col, x2Col).as("__s12"), p(x1Col, yCol).as("__s1y"),
        p(x2Col, yCol).as("__s2y"), p(yCol, yCol).as("__syy"))
    val nd = col("n").cast("double")
    def c(s: String) = col(s)
    val m11 = nd * c("__s11") - c("__s1") * c("__s1")
    val m22 = nd * c("__s22") - c("__s2") * c("__s2")
    val m12 = nd * c("__s12") - c("__s1") * c("__s2")
    val m1y = nd * c("__s1y") - c("__s1") * c("__sy")
    val m2y = nd * c("__s2y") - c("__s2") * c("__sy")
    val myy = nd * c("__syy") - c("__sy") * c("__sy")
    val det = m11 * m22 - m12 * m12
    val b1 = (m22 * m1y - m12 * m2y) / det
    val b2 = (m11 * m2y - m12 * m1y) / det
    val b0 = (c("__sy") - b1 * c("__s1") - b2 * c("__s2")) / nd
    // Portable rounding, not round(): near-collinear regressors make
    // the coefficients quotients of near-cancelling doubles, which
    // land within an ulp of .5e-6 boundaries in practice (q190's b2
    // did) — string-HALF_UP and scaled-libm rounding then disagree.
    def pr6(x: Column): Column = floor(x * 1e6d + 0.5d) / 1e6d
    m.select((by.map(col) :+ col("n") :+
      when(det > 0d, pr6(b0)).otherwise(lit(null).cast("double"))
        .as("b0") :+
      when(det > 0d, pr6(b1)).otherwise(lit(null).cast("double"))
        .as("b1") :+
      when(det > 0d, pr6(b2)).otherwise(lit(null).cast("double"))
        .as("b2") :+
      when(det > 0d && myy > 0d,
        pr6((b1 * m1y + b2 * m2y) / myy))
        .otherwise(lit(null).cast("double")).as("r2")): _*)
  }

  /**
   * Fano factor (index of dispersion) of a daily count series per
   * group — the burstiness gate: F = var/mean over the per-day counts
   * is 1 for a Poisson arrival process, ≫1 for bursty traffic (bot
   * storms, replayed feeds, batch backfills wearing organic tags) and
   * <1 for metronome-regular automation. Input is the (group, day
   * index, count) daily matrix; days inside the group's [min, max]
   * span with NO row count as exact zeros (the calendar-honest
   * denominator — dropping gap days biases F toward 1) WITHOUT
   * materializing them: zeros contribute nothing to ΣX or ΣX², so
   * only N needs the span.
   *
   * Exact: with N = span days, S = Σn, S2 = Σn² (DECIMAL(38,0)),
   * F = (N·S2 − S²) / (N·S) — ONE double division over exact integer
   * operands, 6 dp. Groups with S = 0 emit NULL.
   *
   * Output per group: `n_days` (span), `n_active_days`, `total`,
   * `mean_micro` (integer ppm events/day), `fano`.
   *
   * Scale shape: one map-side-combined aggregation over the daily
   * matrix; four counters per group cross the wire.
   */
  def fanoFactor(daily: DataFrame, by: Seq[String], dayCol: String,
                 nCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = daily
      .where(col(dayCol).isNotNull && col(nCol).isNotNull)
      .groupBy(by.map(col): _*)
      .agg((max(col(dayCol)) - min(col(dayCol)) + 1L).as("n_days"),
        count(lit(1)).as("n_active_days"),
        sum(col(nCol)).as("total"),
        sum(dec(col(nCol)) * dec(col(nCol))).cast("decimal(38,0)")
          .as("__s2"))
    val num = dec(col("n_days")) * col("__s2") -
      dec(col("total")) * dec(col("total"))
    val den = dec(col("n_days")) * dec(col("total"))
    m.select((by.map(col) :+ col("n_days") :+ col("n_active_days") :+
      col("total") :+
      expr("total * 1000000 div n_days").as("mean_micro") :+
      when(col("total") > 0L,
        round(num.cast("double") / den.cast("double"), 6)).as("fano")): _*)
  }

  /**
   * Log-rank (Mantel–Cox) test between two survival curves — does
   * cohort A actually convert/churn on a different clock than cohort
   * B, or do the [[kaplanMeier]] curves differ by eye only. At each
   * event time the observed group-1 events are compared with the
   * hypergeometric expectation d·n₁/n; the statistic
   * χ² = (Σ(O−E))² / ΣV with V = d·n₁·n₂·(n−d) / (n²·(n−1))
   * is χ²(1) under the null (implemented from the standard
   * formulation).
   *
   * Group encoding: `groupCol` = 0 is group 1, anything else group 2.
   *
   * Exactness: risk sets are the same exact BIGINT histogram +
   * running-total program as [[kaplanMeier]]; each E term is the
   * PURE-INTEGER (d·n₁·10⁶) div n so Σ(O−E) is a BIGINT micro sum;
   * each V term is ONE fixed-order double division of exact DECIMAL
   * products, portable-floored to micro; χ² is one final double
   * division rounded 6 dp.
   *
   * Output (one row): `n1`, `n2`, `events1`, `events2`,
   * `o_minus_e_micro`, `var_micro`, `chi2`.
   *
   * Scale shape: one duration histogram (map-side combined), windows
   * over the event TIMELINE (duration-cardinality-bounded), a scalar
   * fold. Subject count never enters a window.
   */
  def logRank(durations: DataFrame, groupCol: String,
              durationCol: String, eventCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g1 = col(groupCol) === 0
    val ev = col(eventCol) =!= 0
    val hist = durations
      .where(col(durationCol).isNotNull && col(eventCol).isNotNull &&
        col(groupCol).isNotNull)
      .groupBy(col(durationCol).cast("long").as("t"))
      .agg(sum(when(g1 && ev, 1L).otherwise(0L)).as("d1"),
        sum(when(g1 && !ev, 1L).otherwise(0L)).as("c1"),
        sum(when(!g1 && ev, 1L).otherwise(0L)).as("d2"),
        sum(when(!g1 && !ev, 1L).otherwise(0L)).as("c2"))
    val wAll = Window.partitionBy()
    val wPrior = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val risky = hist
      .withColumn("__t1", sum(col("d1") + col("c1")).over(wAll))
      .withColumn("__t2", sum(col("d2") + col("c2")).over(wAll))
      .withColumn("__e1t", sum(col("d1")).over(wAll))
      .withColumn("__e2t", sum(col("d2")).over(wAll))
      .withColumn("__b1",
        coalesce(sum(col("d1") + col("c1")).over(wPrior), lit(0L)))
      .withColumn("__b2",
        coalesce(sum(col("d2") + col("c2")).over(wPrior), lit(0L)))
      .withColumn("n1r", col("__t1") - col("__b1"))
      .withColumn("n2r", col("__t2") - col("__b2"))
      .withColumn("nr", col("n1r") + col("n2r"))
      .withColumn("dr", col("d1") + col("d2"))
      .where(col("dr") > 0L)
    // E numerator routed through DECIMAL(38,0) like vm: dr*n1r*1e6 in
    // pure BIGINT overflows once dr*n1r exceeds ~9.2e12 (few-million-
    // subject cohorts with heavy duration ties); div on the decimal
    // product still returns an exact LONG
    val om = col("d1") * 1000000L -
      expr("(cast(dr as decimal(38,0)) * n1r * 1000000) div nr")
    val vm = when(col("nr") > 1L, floor(
      (dec(col("dr")) * col("n1r") * col("n2r") *
        (col("nr") - col("dr"))).cast("double") /
        (dec(col("nr")) * col("nr") * (col("nr") - 1L)).cast("double") *
        1e6d + 0.5d).cast("long")).otherwise(0L)
    val agg0 = risky
      .withColumn("__om", om).withColumn("__vm", vm)
      .agg(max(col("__t1")).as("n1"), max(col("__t2")).as("n2"),
        max(col("__e1t")).as("events1"), max(col("__e2t")).as("events2"),
        sum(col("__om")).as("o_minus_e_micro"),
        sum(col("__vm")).as("var_micro"))
    agg0.select(col("n1"), col("n2"), col("events1"), col("events2"),
      col("o_minus_e_micro"), col("var_micro"),
      when(col("var_micro") > 0L,
        round((dec(col("o_minus_e_micro")) * col("o_minus_e_micro"))
          .cast("double") /
          (dec(col("var_micro")) * lit(1000000L)).cast("double"), 6))
        .as("chi2"))
  }

  /**
   * Nelson–Aalen cumulative hazard (Nelson 1972 / Aalen 1978,
   * implemented from the standard estimator) — [[kaplanMeier]]'s
   * additive sibling: Ĥ(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ over event times, with
   * the SAME exact risk-set program. Preferred when hazards are the
   * question (is churn risk rising or falling over tenure) and better
   * behaved than −ln(KM) at small risk sets; Breslow survival
   * exp(−Ĥ) comes free and never needs KM's zero-masking (Ĥ is
   * always finite).
   *
   * Exactness: risk sets are exact BIGINTs from one histogram +
   * running-total program; each increment is the PURE-INTEGER
   * micro-unit (d·10⁶) div n; the cumulative hazard is a BIGINT sum;
   * the one exp runs on the already-quantized micro value and
   * portable-rounds to 6 dp — both engines exponentiate identical
   * operands.
   *
   * Output per event time: `by`* + (`t`, `n_risk`, `d_events`,
   * `n_censored`, `na_micro` — cumulative hazard in micro-units,
   * `cum_hazard`, `surv_na`).
   *
   * Scale shape: identical to [[kaplanMeier]] — one duration
   * histogram (map-side combined), windows over the per-group event
   * TIMELINE (duration-cardinality-bounded, not data-bounded).
   */
  def nelsonAalen(durations: DataFrame, by: Seq[String],
                  durationCol: String, eventCol: String): DataFrame = {
    val hist = durations
      .where(col(durationCol).isNotNull && col(eventCol).isNotNull)
      .groupBy((by.map(col) :+ col(durationCol).cast("long").as("t")): _*)
      .agg(sum(when(col(eventCol) =!= 0, 1L).otherwise(0L)).as("d_events"),
        sum(when(col(eventCol) === 0, 1L).otherwise(0L)).as("n_censored"))
    val wPrior = Window.partitionBy(by.map(col): _*).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(by.map(col): _*)
    val wRun = Window.partitionBy(by.map(col): _*).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def pr6(c: Column): Column =
      floor(c * lit(1000000.0) + lit(0.5)).cast("long").cast("double") /
        lit(1000000.0)
    hist
      .withColumn("__total",
        sum(col("d_events") + col("n_censored")).over(wAll))
      .withColumn("__before",
        coalesce(sum(col("d_events") + col("n_censored")).over(wPrior),
          lit(0L)))
      .withColumn("n_risk", col("__total") - col("__before"))
      .withColumn("__term", expr("(d_events * 1000000) div n_risk"))
      .withColumn("na_micro", sum(col("__term")).over(wRun))
      .filter(col("d_events") > 0L) // curve rows at event times only
      .select((by.map(col) :+ col("t") :+ col("n_risk") :+
        col("d_events") :+ col("n_censored") :+ col("na_micro") :+
        (col("na_micro").cast("double") / lit(1000000.0d))
          .as("cum_hazard") :+
        pr6(exp(col("na_micro").cast("double") / lit(-1000000.0d)))
          .as("surv_na")): _*)
  }

  /**
   * Restricted mean survival time — the area under the [[kaplanMeier]]
   * step curve on [0, τ]: "expected event-free days within the first
   * τ", the single-number summary clinicians and growth teams quote
   * when median survival is undefined (curve never crosses 0.5) and
   * the honest alternative to comparing curves at one arbitrary
   * timepoint. Built ON the KM output rows, so the exactness story is
   * inherited: the step curve is S = 1 on [0, t₁) and S = surv(tᵢ)
   * (the 6-dp-quantized KM value; the zero-mask row contributes 0) on
   * [tᵢ, tᵢ₊₁); each segment's area is the PURE-INTEGER
   * surv_µ·(min(tᵢ₊₁, τ) − tᵢ) and RMST_µ is their BIGINT sum plus
   * the leading min(t₁, τ)·10⁶.
   *
   * Output per group: `tau`, `t_first`, `n_curve_rows`, `rmst`
   * (days, 6 dp). Groups with NO event rows are absent (their RMST
   * is trivially τ — the caller's coalesce).
   *
   * Scale shape: the KM program's histogram windows + one lead()
   * over the event TIMELINE (duration-cardinality-bounded) + one
   * group fold.
   */
  def rmst(durations: DataFrame, by: Seq[String], durationCol: String,
           eventCol: String, tau: Long): DataFrame = {
    require(tau >= 1, "rmst: tau must be >= 1")
    val km = kaplanMeier(durations, by, durationCol, eventCol)
    val w = Window.partitionBy(by.map(col): _*).orderBy(col("t"))
    val survMicro = floor(col("surv") * 1e6d + 0.5d).cast("long")
    val seg = km
      .withColumn("__tn", coalesce(lead(col("t"), 1).over(w),
        lit(Long.MaxValue)))
      .withColumn("__seg",
        when(col("t") < tau,
          (least(col("__tn"), lit(tau)) - col("t")) * survMicro)
          .otherwise(0L))
    seg.groupBy(by.map(col): _*)
      .agg(min(col("t")).as("t_first"), count(lit(1)).as("n_curve_rows"),
        sum(col("__seg")).as("__tail"))
      .select((by.map(col) :+ lit(tau).as("tau") :+ col("t_first") :+
        col("n_curve_rows") :+
        ((least(col("t_first"), lit(tau)) * 1000000L + col("__tail"))
          .cast("double") / 1e6d).as("rmst")): _*)
  }

  /**
   * Interval-union coverage per key — the gaps-and-islands merge: fold
   * a set of possibly-overlapping half-open intervals [start, end)
   * into their disjoint union and report how much of the key's span is
   * actually covered. The activity-density readout behind "how much of
   * this user's lifetime was active" and the session/observation
   * overlap audit that Σ(end − start) gets wrong whenever intervals
   * overlap (double-counts) or nest (overstates).
   *
   * Islands by the classic running-max rule over (start, end) order: a
   * new island begins where start exceeds the max end of ALL preceding
   * intervals (plain > — back-to-back [a,b)[b,c) chains into one
   * island, matching half-open adjacency). Every decision is an
   * integer comparison; output values are exact BIGINTs.
   *
   * Output per key: `n_intervals`, `n_islands`, `covered` (Σ island
   * extents), `span` (max end − min start), `coverage_ppm`
   * (covered·10⁶ div span). Rows with end ≤ start or NULL bounds drop.
   *
   * Scale shape: ONE key-partitioned sort-window pass (running max +
   * island id), one island aggregation, one key aggregation — all on
   * the same key partitioning, so a single shuffle of (key, start,
   * end) triples; per-key state is the sort buffer Spark spills.
   */
  def intervalCoverage(df: DataFrame, by: Seq[String], startCol: String,
                       endCol: String): DataFrame = {
    require(by.nonEmpty, "intervalCoverage: need at least one key column")
    val s = col(startCol).cast("long")
    val e = col(endCol).cast("long")
    val base = df.where(s.isNotNull && e.isNotNull && e > s)
      .select((by.map(col) :+ s.as("__s") :+ e.as("__e")): _*)
    val wPrev = Window.partitionBy(by.map(col): _*)
      .orderBy(col("__s"), col("__e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(by.map(col): _*)
      .orderBy(col("__s"), col("__e"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = base
      .withColumn("__pmax", max(col("__e")).over(wPrev))
      .withColumn("__new",
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(wRun))
      .groupBy((by.map(col) :+ col("__isl")): _*)
      .agg(count(lit(1)).as("__ni"), min(col("__s")).as("__is"),
        max(col("__e")).as("__ie"))
    islands.groupBy(by.map(col): _*)
      .agg(sum(col("__ni")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("__ie") - col("__is")).as("covered"),
        (max(col("__ie")) - min(col("__is"))).as("span"))
      .withColumn("coverage_ppm", expr("covered * 1000000 div span"))
  }

  /**
   * Single-changepoint detection per series — where did the level
   * SHIFT? [[cusum]] flags that a drift started; this returns the
   * exact split point: the index maximizing the between-segment SSE
   * reduction, gain(i) = S_i²/i + (S−S_i)²/(n−i) − S²/n (the
   * binary-segmentation step of the classic changepoint family, one
   * level deep — recurse on the halves for more).
   *
   * Exactness: prefix sums S_i are pure BIGINT; each squared term
   * routes through DECIMAL(38,0) with a ×10⁶ pre-scale and ONE `div`
   * (nonnegative numerator), so every gain is an exact integer micro
   * and the argmax is an integer decision — ties break to the
   * EARLIEST index. Series sums must satisfy S²·10⁶ < 2⁶³ (|S| ≤
   * ~3·10⁶ — daily matrices, not raw event values; pre-aggregate
   * first). Segment means are one double division each, 6 dp.
   * Single-point series (n = 1) have no interior split and drop.
   *
   * Output per `by` group: `n`, `cp_index` (points in the left
   * segment), `cp_order` (the `orderCol` value of the LAST left
   * point), `gain_micro`, `mean_left`, `mean_right`.
   *
   * Scale shape: one per-group sort window over the compact series
   * (each partition orders only its own rows — the [[cusum]]
   * posture), one argmax window on the same partitioning, zero
   * joins. Feed it per-key daily matrices: the window never sees
   * raw-event cardinality.
   */
  def changepointSse(df: DataFrame, by: Seq[String], orderCol: String,
                     valueCol: String): DataFrame = {
    val v = col(valueCol).cast("long")
    // secondary sort on the value keeps the walk deterministic even
    // if the caller passes duplicate order keys: equal (t, v) rows
    // are interchangeable (identical prefix sums), while a bare
    // row_number over duplicate t would leave __si engine-dependent
    val w = Window.partitionBy(by.map(col): _*)
      .orderBy(col(orderCol), v)
    val wAll = Window.partitionBy(by.map(col): _*)
    val pre = df.where(v.isNotNull)
      .withColumn("__i", row_number().over(w))
      .withColumn("__si", sum(v).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__s", sum(v).over(wAll))
      .where(col("__i") < col("__n"))
      .withColumn("__gain",
        expr("(cast(__si as decimal(38,0)) * __si * 1000000) div __i") +
          expr("(cast(__s - __si as decimal(38,0)) * (__s - __si) * 1000000) div (__n - __i)") -
          expr("(cast(__s as decimal(38,0)) * __s * 1000000) div __n"))
    val wPick = Window.partitionBy(by.map(col): _*)
      .orderBy(col("__gain").desc, col("__i").asc)
    pre.withColumn("__rk", row_number().over(wPick))
      .where(col("__rk") === 1)
      .select((by.map(col) :+ col("__n").as("n") :+
        col("__i").as("cp_index") :+ col(orderCol).as("cp_order") :+
        col("__gain").as("gain_micro") :+
        round(col("__si").cast("double") / col("__i").cast("double"), 6)
          .as("mean_left") :+
        round((col("__s") - col("__si")).cast("double") /
          (col("__n") - col("__i")).cast("double"), 6).as("mean_right")): _*)
  }

  /**
   * Windowed co-activity profile — the BOUNDED live-profile batch twin
   * of `StreamingOps.coActivityProfileStream`: per tumbling event-time
   * window, each active key reports its top-`k` co-active partners
   * ranked by the partner's event count in that window (count desc,
   * partner asc — deterministic). The window-scoped complement to
   * [[graft.operators.Relational.intervalOverlapPartnerTopK]]'s
   * session-interval profile: same top-k output discipline (≤
   * active-keys·k rows per window), with the window boundary standing
   * in for the overlap predicate so the profile can run LIVE on a
   * watermarked stream.
   *
   * Keys are compared AS STRINGS (cast once, both gears) so the rank
   * tie-break is one binary collation everywhere — Spark, the
   * streaming twin's Scala sort, and an external SQL oracle.
   *
   * Scale shape (r16): one map-side-combined (window, key) count
   * aggregate (events collapse before any join), then — because the
   * ranking key (the PARTNER's in-window count) does not depend on
   * which key is asking — each key's top-k partner list is exactly
   * the window's GLOBAL top-(k+1) actives minus the key itself. So
   * the per-window candidate set is k+1 rows (a broadcastable
   * windows·(k+1) table), each active joins against those k+1
   * candidates instead of against every co-active partner, and the
   * enumeration is actives·(k+1) rows TOTAL — linear in the count
   * table where the r16-mid-build self-join was O(actives²) per
   * window (the density replica measured 19× on 10× data; its
   * hot-window raise_error guard is gone because there is no longer
   * a quadratic task to guard — a window with a million actives is
   * now a million×(k+1)-row join, not a 10¹²-pair enumeration).
   *
   * Output: (`window_start` epoch ms, keyCol string, `partner`,
   * `n_events` = partner's in-window count, `rank` 1..k).
   */
  def coActivityProfile(events: DataFrame, keyCol: String, tsCol: String,
                        windowMs: Long, k: Int): DataFrame = {
    require(windowMs > 0, "windowMs must be positive")
    require(k >= 1, "k must be >= 1")
    val ms = unix_millis(col(tsCol).cast("timestamp"))
    val counts = events
      .select((ms - pmod(ms, lit(windowMs))).as("window_start"),
        col(keyCol).cast("string").as("__k"))
      .groupBy("window_start", "__k")
      .agg(count(lit(1)).as("n_events"))
    // global per-window top-(k+1) candidates: for ANY asking key u,
    // the true top-k over partners ≠ u is contained in this set (u
    // occupies at most one of the k+1 slots). windows·(k+1) rows.
    // SIZE CONTRACT for the explicit broadcast below (the *Against
    // twins' posture): the candidate table is windows·(k+1) rows of
    // (ms, string key, long) — one window per windowMs of time span,
    // so a YEAR of 1-minute windows at k=10 is ~5.8M rows / a few
    // hundred MB. A caller profiling a much longer span or huge k
    // must drop to the un-hinted equi-join (AQE then picks the
    // strategy); the hint is deliberate here because window count is
    // time-bounded, not data-bounded, and the build side stays far
    // under executor memory at any corpus size.
    val topPartners = Relational.topKPerGroup(counts, Seq("window_start"),
        Seq(col("n_events").desc, col("__k").asc), k + 1)
      .select(col("window_start"), col("__k").as("partner"),
        col("n_events"))
    val pairs = counts.select(col("window_start"), col("__k").as("__u"))
      .join(broadcast(topPartners), Seq("window_start"))
      .where(col("__u") =!= col("partner"))
    Relational.topKPerGroup(pairs, Seq("window_start", "__u"),
        Seq(col("n_events").desc, col("partner").asc), k,
        rankCol = Some("rank"))
      .select(col("window_start"), col("__u").as(keyCol), col("partner"),
        col("n_events"), col("rank"))
  }
}
