package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rolling (trailing-window) feature engineering over event time — the
  * "n events in the last k days per key" features a feature store
  * typically serves next to the interval-valid ones.
  *
  * One shuffle (groupBy key+day), then a RANGE window over the per-day
  * aggregates — the window input is bounded by (keys × active days), not
  * by raw events, so skewed users don't blow up the sort.
  */
object Rolling {

  /** Trailing `days`-day count and sum per (key, active day).
    * @param valueCents integral value column to sum (exact arithmetic) */
  def trailing(df: DataFrame, keyCol: String, dateCol: String,
               valueCents: Column, days: Int): DataFrame = {
    val daily = df
      .groupBy(col(keyCol), col(dateCol).as("date"))
      .agg(count(lit(1)).as("n"), sum(valueCents).as("cents"))
      .withColumn("__d", datediff(col("date"), lit("1970-01-01")))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__d"))
      .rangeBetween(-(days - 1), Window.currentRow)
    daily
      .withColumn(s"n_${days}d", sum(col("n")).over(w))
      .withColumn(s"cents_${days}d", sum(col("cents")).over(w))
      .drop("__d")
  }

  /** Exact-integer EWMA smoothing of a per-(group, date) count series:
    * `s_t = ((denom−1)·s_{t−1} + scale·x_t) div denom`, seeded
    * `s_0 = scale·x_0` — i.e. α = 1/denom, values carried at
    * `scale`× precision with floor division each step, so the whole
    * recurrence is integer-exact and any engine reproduces it (float
    * EWMA never hash-matches; this does). The trend/anomaly baseline
    * for event streams.
    *
    * An EWMA is a sequential recurrence, not a window aggregate: each
    * group's (bounded, grid-sized) daily series is folded ONCE with an
    * array accumulator — per CLAUDE.md's HOF rule the fold appends to
    * the accumulator rather than re-evaluating any per-step subtree.
    * One shuffle to daily counts, one to group series. Output:
    * (group, date, n, ewma_scaled). */
  def ewmaDaily(df: DataFrame, groupCol: String, tsCol: String,
                scale: Long = 256L, denom: Long = 4L): DataFrame = {
    // power-of-two denom: the per-step floor division becomes a shift,
    // which is exact on longs (Column./ is FLOAT division — unusable in
    // an integer-exact recurrence)
    require(scale > 0 && denom > 1 && (denom & (denom - 1)) == 0,
      "need scale > 0 and denom a power of two > 1")
    val shift = java.lang.Long.numberOfTrailingZeros(denom)
    val daily = df
      .groupBy(col(groupCol), to_date(col(tsCol)).as("date"))
      .agg(count(lit(1)).as("n"))
    val series = daily
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(col("date"), col("n"))))
        .as("__s"))
    val folded = series.withColumn("__acc",
      aggregate(col("__s"),
        expr("CAST(array() AS ARRAY<STRUCT<date DATE, n BIGINT," +
          " ewma_scaled BIGINT>>)"),
        (acc, x) => {
          val prev = element_at(acc, -1).getField("ewma_scaled")
          val next = when(size(acc) === 0,
            x.getField("n") * lit(scale))
            .otherwise(shiftright(
              prev * lit(denom - 1) + x.getField("n") * lit(scale),
              shift))
          concat(acc, array(struct(
            x.getField("date").as("date"),
            x.getField("n").as("n"),
            next.as("ewma_scaled"))))
        }))
    folded
      .select(col(groupCol), explode(col("__acc")).as("__e"))
      .select(col(groupCol), col("__e.date").as("date"),
        col("__e.n").as("n"), col("__e.ewma_scaled").as("ewma_scaled"))
  }

  /** Exact-integer HOLT (double exponential) smoothing of a
    * per-(group, date) count series — [[ewmaDaily]] plus a TREND
    * carry, the level+slope baseline that follows a ramping series
    * without the plain EWMA's lag (Holt 1957, public formulation).
    * With α = 1/denomA, β = 1/denomB (powers of two, so every step is
    * an arithmetic shift — exact floor on negatives in Spark AND
    * DuckDB's `>>`; `//` truncates and would diverge):
    * `l_t = ((denomA−1)·(l_{t−1}+b_{t−1}) + scale·x_t) >> log2 denomA`,
    * `b_t = ((denomB−1)·b_{t−1} + (l_t − l_{t−1})) >> log2 denomB`,
    * seeded `l_0 = scale·x_0, b_0 = 0`; `forecast = l_t + b_t` is the
    * one-step-ahead prediction, all carried at `scale`×.
    *
    * Same shape as [[ewmaDaily]]: one shuffle to daily counts, one to
    * group series, the recurrence folds each group's bounded daily
    * array ONCE with an array accumulator (the CLAUDE.md HOF rule).
    * Output: (group, date, n, level_scaled, trend_scaled, forecast_scaled). */
  def holtDaily(df: DataFrame, groupCol: String, tsCol: String,
                scale: Long = 256L, denomA: Long = 4L,
                denomB: Long = 4L): DataFrame = {
    require(scale > 0, "scale must be positive")
    require(denomA > 1 && (denomA & (denomA - 1)) == 0 &&
      denomB > 1 && (denomB & (denomB - 1)) == 0,
      "denomA/denomB must be powers of two > 1")
    val shA = java.lang.Long.numberOfTrailingZeros(denomA)
    val shB = java.lang.Long.numberOfTrailingZeros(denomB)
    val daily = df
      .groupBy(col(groupCol), to_date(col(tsCol)).as("date"))
      .agg(count(lit(1)).as("n"))
    val series = daily
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(col("date"), col("n"))))
        .as("__s"))
    val folded = series.withColumn("__acc",
      aggregate(col("__s"),
        expr("CAST(array() AS ARRAY<STRUCT<date DATE, n BIGINT," +
          " level_scaled BIGINT, trend_scaled BIGINT>>)"),
        (acc, x) => {
          val pl = element_at(acc, -1).getField("level_scaled")
          val pb = element_at(acc, -1).getField("trend_scaled")
          val lvl = when(size(acc) === 0, x.getField("n") * lit(scale))
            .otherwise(shiftright(
              (pl + pb) * lit(denomA - 1) + x.getField("n") * lit(scale),
              shA))
          val tr = when(size(acc) === 0, lit(0L))
            .otherwise(shiftright(pb * lit(denomB - 1) + (lvl - pl), shB))
          concat(acc, array(struct(
            x.getField("date").as("date"),
            x.getField("n").as("n"),
            lvl.as("level_scaled"),
            tr.as("trend_scaled"))))
        }))
    folded
      .select(col(groupCol), explode(col("__acc")).as("__e"))
      .select(col(groupCol), col("__e.date").as("date"),
        col("__e.n").as("n"), col("__e.level_scaled").as("level_scaled"),
        col("__e.trend_scaled").as("trend_scaled"),
        (col("__e.level_scaled") + col("__e.trend_scaled"))
          .as("forecast_scaled"))
  }

  /** One-step-ahead forecast BACKTEST of a (group, date, actual,
    * forecast) series — e.g. [[holtDaily]]'s output, whose
    * `forecast_scaled` at day t predicts day t+1. Scores, per group,
    * the exact weighted absolute percentage error in basis points:
    * `wape_bp = 10^4·Σ|scale·x_t − f_{t−1}| div Σ(scale·x_t)` over the
    * days that HAVE a prior forecast (the first observed day is
    * excluded). WAPE rather than MAPE: one division at the end, no
    * per-day share, zero-actual days well-defined — all exact
    * integers.
    *
    * Scale: one lag window partitioned by group over the per-day
    * AGGREGATE series (calendar-bounded, the [[trailing]] posture),
    * then a group-sized partial agg. Output: (group, n_days, wape_bp).
    */
  def backtestWape(series: DataFrame, groupCol: String, dateCol: String,
                   actualCol: String, forecastCol: String,
                   scale: Long = 256L): DataFrame = {
    require(scale > 0, "scale must be positive")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(dateCol))
    series
      .withColumn("__pf", lag(col(forecastCol), 1).over(w))
      .filter(col("__pf").isNotNull)
      .withColumn("__a", col(actualCol).cast("long") * lit(scale))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("__a") - col("__pf"))).as("__errs"),
        sum(col("__a")).as("__acts"))
      .withColumn("wape_bp",
        expr("case when __acts > 0 then (10000L * __errs) div __acts" +
          " else null end"))
      .drop("__errs", "__acts")
  }

  /** Exact-integer two-sided CUSUM drift statistic (Page 1954) over a
    * per-(group, date) count series: the first `refDays` observed days
    * form the in-control reference, then every later day accumulates
    * the cross-multiplied deviation `d_t = refN·x_t − refSum` (the
    * mean never divides, so everything stays 64-bit exact) into
    * one-sided statistics
    * `s_up_t = max(0, s_up_{t−1} + d_t)`,
    * `s_dn_t = max(0, s_dn_{t−1} − d_t)`
    * — the standard change-point detector for count drift, here in
    * the closed cumulative form `s_up = C − min(0, runmin C)` /
    * `s_dn = max(0, runmax C) − C`, so two window passes replace the
    * recurrence. Output: (group, date, n, s_up, s_dn) for monitored
    * (post-reference) days, in refN·count units.
    *
    * Scale: one shuffle to daily counts, then windows partitioned by
    * group over the per-day aggregates — bounded by calendar days per
    * series, never raw events; the reference stats attach by a
    * group-keyed aggregate join. All integer, so the series
    * hash-checks against the same windows in any engine. */
  def cusum(df: DataFrame, groupCol: String, tsCol: String,
            refDays: Int): DataFrame = {
    require(refDays >= 1, "refDays must be >= 1")
    val daily = df
      .groupBy(col(groupCol), to_date(col(tsCol)).as("date"))
      .agg(count(lit(1)).as("n"))
    val wOrd = Window.partitionBy(col(groupCol)).orderBy(col("date"))
    val rn = daily.withColumn("__rn", row_number().over(wOrd))
    val ref = rn.filter(col("__rn") <= refDays)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__refn"), sum(col("n")).as("__refsum"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rn.filter(col("__rn") > refDays)
      .join(ref, Seq(groupCol))
      .withColumn("__d", col("__refn") * col("n") - col("__refsum"))
      .withColumn("__c", sum(col("__d")).over(wCum))
      .withColumn("s_up",
        col("__c") - least(lit(0L), min(col("__c")).over(wCum)))
      .withColumn("s_dn",
        greatest(lit(0L), max(col("__c")).over(wCum)) - col("__c"))
      .select(col(groupCol), col("date"), col("n"),
        col("s_up"), col("s_dn"))
  }

  /** Day-of-week seasonal profile + deseasonalized residuals of the
    * per-(group, day) count series — the naive seasonal decomposition
    * that turns "weekends are always quiet" into a baseline so [[cusum]]
    * and the EWMA trend see genuine shifts, not the weekly rhythm.
    *
    * All integer: the weekday baseline is `expected_fp = scale·total_w
    * div ndays_w` (mean daily count of that weekday, fixed point) and
    * `residual_fp = scale·n − expected_fp`.
    *
    * Scale: one shuffle to daily counts; the weekday baseline is a
    * ≤ 7·groups-row aggregate broadcast back onto the daily series —
    * bounded by calendar days, never raw events. Output: (group, date,
    * isodow 1=Mon..7=Sun, n, expected_fp, residual_fp). */
  def seasonalProfile(df: DataFrame, groupCol: String, tsCol: String,
                      scale: Long = 10000L): DataFrame = {
    val daily = df
      .groupBy(col(groupCol), to_date(col(tsCol)).as("date"))
      .agg(count(lit(1)).as("n"))
      .withColumn("isodow", weekday(col("date")) + lit(1))
    val base = daily.groupBy(col(groupCol), col("isodow"))
      .agg(sum(col("n")).as("__tot"), count(lit(1)).as("__nd"))
      .withColumn("expected_fp",
        expr(s"($scale * __tot) div __nd"))
      .drop("__tot", "__nd")
    daily.join(broadcast(base), Seq(groupCol, "isodow"))
      .withColumn("residual_fp", lit(scale) * col("n") - col("expected_fp"))
      .select(col(groupCol), col("date"), col("isodow"), col("n"),
        col("expected_fp"), col("residual_fp"))
  }

  /** Cohort lifetime-value curves: users cohort by the ISO week of
    * their FIRST event (any type — the cohort is arrival, not
    * purchase); `revenueCents` (0 on non-revenue rows) accumulates per
    * (cohort, week offset) and divides by cohort size in fixed point —
    * the cumulative-revenue-per-user curve marketing reads cohort
    * retention against.
    *
    * Scale: one user-keyed aggregate for first-event weeks, joined back
    * onto events on the SAME user key (co-partitioned); revenue then
    * collapses to (cohort, offset) cells in one partial-agg shuffle,
    * and the cumsum window runs over the week-DOMAIN-bounded cells,
    * never events. Offsets with zero revenue emit no row (the cum at
    * present offsets is unaffected). Output: (cohort ISO-date string,
    * week_offset, users, revenue_cents, cum_cents, ltv_per_user_fp). */
  def cohortLtv(df: DataFrame, userCol: String, tsCol: String,
                revenueCents: Column, scale: Long = 10000L): DataFrame = {
    val firsts = df.groupBy(col(userCol))
      .agg(min(date_trunc("week", col(tsCol))).as("__cw"))
      .transform(Materialize(_)) // consumed by cohort sizes AND the re-join
    val sizes = firsts.groupBy(col("__cw")).agg(count(lit(1)).as("users"))
    val wc = Window.partitionBy(col("__cw")).orderBy(col("week_offset"))
    df.select(col(userCol), date_trunc("week", col(tsCol)).as("__ew"),
        revenueCents.cast("long").as("__cents"))
      .join(firsts, Seq(userCol))
      .withColumn("week_offset",
        expr("(unix_micros(__ew) - unix_micros(__cw)) div 604800000000"))
      .groupBy(col("__cw"), col("week_offset"))
      .agg(sum(col("__cents")).as("revenue_cents"))
      .withColumn("cum_cents", sum(col("revenue_cents")).over(
        wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(sizes), Seq("__cw"))
      .withColumn("ltv_per_user_fp", expr(
        s"cast((cast($scale as decimal(38,0)) * cum_cents) div users as long)"))
      .select(col("__cw").cast("date").cast("string").as("cohort"),
        col("week_offset"), col("users"), col("revenue_cents"),
        col("cum_cents"), col("ltv_per_user_fp"))
  }

  /** Exact autocorrelation diagnosis of the per-(group, day) count
    * series at declared CALENDAR lags: for each lag L the (x_d,
    * x_{d−L}) pairs come from an equi-join of the daily series with
    * itself shifted L days (a missing day simply contributes no pair —
    * calendar semantics, not row-offset), and each (group, lag) cell
    * reports [[Profile.corrR2]]'s signed fp r² — lag-7 lighting up is
    * the weekly rhythm [[seasonalProfile]] then removes.
    *
    * Scale: one shuffle to daily counts (checkpointed once — each lag
    * re-joins it), |lags| self-joins over the calendar-bounded series,
    * then the corr procedure's single partial agg per cell. Output:
    * (group, lag, n, r2_fp), n = pair count. */
  def autocorr(df: DataFrame, groupCol: String, tsCol: String,
               lags: Seq[Int], scale: Long = 1000000L): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ > 0), "lags must be positive")
    require(lags.distinct.size == lags.size, "lags must be distinct")
    val daily = df
      .groupBy(col(groupCol), to_date(col(tsCol)).as("__d"))
      .agg(count(lit(1)).as("__x"))
      .transform(Materialize(_)) // re-joined once per lag
    val pairs = lags.map { l =>
      daily.join(daily.select(col(groupCol),
          date_add(col("__d"), l).as("__d"), col("__x").as("__y")),
        Seq(groupCol, "__d"))
        .select(col(groupCol), lit(l).as("lag"), col("__x"), col("__y"))
    }.reduce(_ unionByName _)
    Profile.corrOver(pairs, Seq(groupCol, "lag"), "__x", "__y", scale)
  }

  /** Cross-series correlation matrix: signed fp r² between every pair
    * of groups' daily count series, date-aligned — "which metrics move
    * together" across event types / sources / tenants. Only dates
    * where BOTH series have counts pair up (inner date join).
    *
    * Scale: one shuffle to daily counts (checkpointed — both sides of
    * the pair join read it); the date-keyed self-join is bounded by
    * series × days; then the shared corr procedure's one partial agg
    * per pair. Output: (series_a, series_b, n, r2_fp), a < b. */
  def crossCorrelation(df: DataFrame, groupCol: String, tsCol: String,
                       scale: Long = 1000000L): DataFrame = {
    val daily = df
      .groupBy(col(groupCol), to_date(col(tsCol)).as("__d"))
      .agg(count(lit(1)).as("__x"))
      .transform(Materialize(_))
    val joined = daily
      .select(col(groupCol).as("series_a"), col("__d"),
        col("__x").as("__xa"))
      .join(daily.select(col(groupCol).as("series_b"), col("__d"),
        col("__x").as("__xb")), Seq("__d"))
      .filter(col("series_a") < col("series_b"))
    Profile.corrOver(joined, Seq("series_a", "series_b"), "__xa", "__xb",
      scale)
  }

  /** Weekly growth accounting — the standard active-user quad: per ISO
    * week, how many actives are NEW (first-ever week), RETAINED
    * (active the prior week too), RESURRECTED (returning after a gap),
    * and how many prior-week actives CHURNED out. The identity
    * `active_w = new + retained + resurrected` and
    * `retained_w + churned_w = active_{w−1}` make the report
    * self-auditing.
    *
    * Scale: distinct (user, week) once (checkpointed — five consumers);
    * first-week is a user-keyed aggregate; retained/churned are
    * (user, week)-keyed self-joins with the week shifted 7 days —
    * all co-partitioned equi-joins — and the rollup is one conditional
    * partial agg per week. Output: (week ISO-date string, new_users,
    * retained_users, resurrected_users, churned_users, active_users).
    */
  def growthAccounting(df: DataFrame, userCol: String,
                       tsCol: String): DataFrame = {
    val uw = df.select(col(userCol).as("__u"),
        date_trunc("week", col(tsCol)).as("__w")).distinct()
      .transform(Materialize(_))
    val first = uw.groupBy(col("__u")).agg(min(col("__w")).as("__fw"))
    val shifted = uw.select(col("__u"),
      (col("__w") + expr("INTERVAL 7 DAYS")).as("__w"))
    val states = uw
      .join(first, Seq("__u"))
      .join(shifted.withColumn("__wasPrev", lit(1)), Seq("__u", "__w"),
        "left")
      .select(col("__w"),
        when(col("__w") === col("__fw"), "new")
          .when(col("__wasPrev") === 1, "retained")
          .otherwise("resurrected").as("state"))
    val churned = shifted
      .join(uw.withColumn("__act", lit(1)), Seq("__u", "__w"), "left")
      .filter(col("__act").isNull)
      .select(col("__w"), lit("churned").as("state"))
    val maxW = uw.agg(max(col("__w"))).collect()(0).getTimestamp(0)
    states.unionByName(churned)
      .filter(col("__w") <= lit(maxW))
      .groupBy(col("__w"))
      .agg(
        sum(when(col("state") === "new", 1L).otherwise(0L))
          .as("new_users"),
        sum(when(col("state") === "retained", 1L).otherwise(0L))
          .as("retained_users"),
        sum(when(col("state") === "resurrected", 1L).otherwise(0L))
          .as("resurrected_users"),
        sum(when(col("state") === "churned", 1L).otherwise(0L))
          .as("churned_users"),
        sum(when(col("state") =!= "churned", 1L).otherwise(0L))
          .as("active_users"))
      .select(col("__w").cast("date").cast("string").as("week"),
        col("new_users"), col("retained_users"),
        col("resurrected_users"), col("churned_users"),
        col("active_users"))
  }

  /** Pettitt changepoint test (Pettitt 1979) over each group's daily
    * count series, all-integer: with the day-ordered series x_1..x_n,
    * `U_t = Σ_{i≤t, j>t} sgn(x_j − x_i)` and the change point is the
    * first t < n maximizing |U_t| (`k_u = max |U_t|`). Computed WITHOUT
    * the quadratic pair sum via the rank identity
    * `U_t − U_{t−1} = Σ_{j≠t} sgn(x_j − x_t) = n − c(x_t) − 2·lt(x_t)`
    * where c(v)/lt(v) are the per-group value tally and
    * strictly-below cumulative — so each day's increment depends only
    * on its value, and U is a day-ordered cumulative sum.
    *
    * Scale: one shuffle to daily counts; the value-cumulative window
    * orders only the per-group DISTINCT-value tally (pinned and
    * REQUIREd bounded by [[Eval.boundedTally]]); the U cumsum orders
    * the per-group day series — bounded by calendar days like
    * [[cusum]], never by raw events. Output one row per group:
    * (group, n_days, cp_date, k_u, u_cp) where u_cp is the signed U at
    * the change point (ties on |U| break to the earliest date). Groups
    * with a single day emit a NULL change point. */
  def pettitt(df: DataFrame, groupCol: String, tsCol: String,
              maxSeries: Long = 1L << 22): DataFrame = {
    val daily = df
      .groupBy(col(groupCol), to_date(col(tsCol)).as("date"))
      .agg(count(lit(1)).as("n"))
      .transform(Materialize(_)) // shared: tally, U series, single-day arm
    val tal = Eval.boundedTally(
      daily.groupBy(col(groupCol), col("n").as("__v"))
        .agg(count(lit(1)).as("__c")),
      groupCol, maxSeries, "pettitt")
    val wV = Window.partitionBy(col(groupCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = tal
      .withColumn("__lt", coalesce(sum(col("__c")).over(wV), lit(0L)))
      .withColumn("__nd",
        sum(col("__c")).over(Window.partitionBy(col(groupCol))))
      .select(col(groupCol).as("__tg"), col("__v"), col("__c"),
        col("__lt"), col("__nd"))
    val wD = Window.partitionBy(col(groupCol)).orderBy(col("date"))
    val u = daily
      .join(cum, col(groupCol) === col("__tg") && col("n") === col("__v"))
      .withColumn("__inc", col("__nd") - col("__c") - lit(2L) * col("__lt"))
      .withColumn("__u", sum(col("__inc")).over(
        wD.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__rn", row_number().over(wD))
      .filter(col("__rn") < col("__nd"))
    u.groupBy(col(groupCol))
      .agg(max(col("__nd")).as("__ndays"),
        min(struct(negate(abs(col("__u"))).as("__negk"),
          col("date").as("__d"), col("__u").as("__su"))).as("__best"))
      .select(col(groupCol),
        col("__ndays").as("n_days"),
        col("__best.__d").cast("string").as("cp_date"),
        negate(col("__best.__negk")).as("k_u"),
        col("__best.__su").as("u_cp"))
      .unionByName(
        // single-day groups never enter u (rn < nd filters them out):
        // report them with a NULL change point rather than dropping
        daily.groupBy(col(groupCol))
          .agg(count(lit(1)).as("n_days"))
          .filter(col("n_days") === 1L)
          .select(col(groupCol), col("n_days"),
            lit(null).cast("string").as("cp_date"),
            lit(null).cast("long").as("k_u"),
            lit(null).cast("long").as("u_cp")))
  }

  /** Mann–Kendall trend S statistic + Theil–Sen slope of each group's
    * daily integral series — the robust trend pair (monotone-trend
    * sign test and median-of-pairwise-slopes estimator) next to the
    * closed-form OLS fit ([[Profile.trendFit]]), insensitive to
    * outliers that wreck least squares.
    *
    * All integer: over day-ordered pairs i<j,
    * `S = Σ sgn(v_j − v_i)`; each pair's slope in fixed point is the
    * sign-safe truncated division
    * `sgn(dy) · (|dy|·scale div dx)` with dx = calendar-day gap (> 0),
    * and the Theil–Sen estimate is the LOWER MEDIAN (rank
    * `(P+1) div 2` of P pair slopes) — deterministic, no float sort.
    *
    * Scale: one shuffle to daily sums; the pair join is per-group
    * day×day — quadratic in DAYS (REQUIREd ≤ `maxDays`, so ≤
    * maxDays²/2 pairs per group), never in rows; the median comes from
    * a cumulative window over the per-group DISTINCT-slope tally, not
    * a pair sort. Output: (group, n_days, n_pairs, s_stat, slope_fp);
    * single-day groups emit NULL slope and S = 0. */
  def mannKendall(df: DataFrame, groupCol: String, tsCol: String,
                  valueCol: Column, scale: Long = 1000000L,
                  maxDays: Int = 2048): DataFrame = {
    require(maxDays >= 1, "mannKendall: maxDays must be positive")
    val daily = Eval.boundedTally(
      df.groupBy(col(groupCol), to_date(col(tsCol)).as("date"))
        .agg(sum(valueCol.cast("long")).as("__v")),
      groupCol, maxDays.toLong, "mannKendall")
    val a = daily.select(col(groupCol), unix_date(col("date")).as("__da"),
      col("__v").as("__va"))
    val b = daily.select(col(groupCol).as("__gb"),
      unix_date(col("date")).as("__db"), col("__v").as("__vb"))
    val pairs = a.join(b,
        col(groupCol) === col("__gb") && col("__da") < col("__db"))
      .withColumn("__dy", col("__vb") - col("__va"))
      .withColumn("__dx", col("__db") - col("__da"))
      .withColumn("__slope", when(col("__dy") >= 0,
          expr(s"(__dy * $scale) div __dx"))
        .otherwise(negate(expr(s"((-__dy) * $scale) div __dx"))))
    val sStat = pairs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_pairs"),
        sum(signum(col("__dy")).cast("long")).as("s_stat"))
    val wS = Window.partitionBy(col("__sg")).orderBy(col("__slope"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = pairs
      .groupBy(col(groupCol).as("__sg"), col("__slope"))
      .agg(count(lit(1)).as("__sc"))
      .withColumn("__ce", sum(col("__sc")).over(wS))
      .join(sStat.select(col(groupCol).as("__mg"),
          expr("(n_pairs + 1) div 2").as("__target")),
        col("__sg") === col("__mg"))
      .filter(col("__ce") >= col("__target"))
      .groupBy(col("__sg"))
      .agg(min(col("__slope")).as("slope_fp"))
    daily.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_days"))
      .join(sStat, Seq(groupCol), "left")
      .join(med, col(groupCol) === col("__sg"), "left")
      .select(col(groupCol), col("n_days"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("s_stat"), lit(0L)).as("s_stat"),
        col("slope_fp"))
  }
}
