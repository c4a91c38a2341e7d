package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Closed-form statistical operators — the experimentation / econometrics
  * layer a production analytics engine runs on top of the profiling
  * family (no reference analogue; north-star brief "operations a
  * large-scale training-data pipeline would need": experiment readouts,
  * survival curves, concentration and trend statistics over the same
  * event/order tables).
  *
  * Determinism contract (the repo rule, SURVEY.md §7.3): every statistic
  * is a FIXED closed-form expression over exact integer/decimal
  * aggregates — no iterative fitting, no float accumulation whose order
  * an engine could choose. Where a transcendental is unavoidable
  * (ln/exp in Kaplan–Meier), inputs are exact rationals, each ln is
  * rounded to 6 dp before the (decimal, exact) summation, and the final
  * exp is rounded — the dsirWeights precedent. sqrt is IEEE-754
  * correctly rounded and therefore bit-identical across engines, so it
  * needs no such guard.
  */
object Stats {

  /** Two-sample experiment readout on a deterministic user split:
    * arm = user id mod 2 (the replayable stand-in for a hash-bucket
    * assignment), conversion = the user emitted `convType` at least
    * once. Emits the 2×2 table plus the two-proportion pooled z
    * statistic and the (uncorrected) chi-square — the standard A/B
    * decision pair.
    *
    * Scale shape: one distinct-user aggregate (partial/final) → a
    * 2-row arm aggregate → a single-row fold; nothing is ever wider
    * than |users|. The determinant `a·d − b·c` is computed on longs —
    * exact up to ~3e9 users per cell — then squared in double.
    */
  def abTest(events: DataFrame, userCol: String, typeCol: String,
      convType: String): DataFrame = {
    val users = events.groupBy(col(userCol))
      .agg(max(when(col(typeCol) === convType, 1L).otherwise(0L))
        .as("converted"))
    val arms = users.groupBy(pmod(col(userCol), lit(2)).as("arm"))
      .agg(count(lit(1)).as("n"), sum("converted").as("conv"))
    val r = arms.agg(
      max(when(col("arm") === 0, col("n"))).as("n_a"),
      max(when(col("arm") === 0, col("conv"))).as("conv_a"),
      max(when(col("arm") === 1, col("n"))).as("n_b"),
      max(when(col("arm") === 1, col("conv"))).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a")
    val pb = col("conv_b").cast("double") / col("n_b")
    val pool = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    val a = col("conv_a")
    val b = col("n_a") - col("conv_a")
    val c = col("conv_b")
    val d = col("n_b") - col("conv_b")
    val det = (a * d - b * c).cast("double")
    val chi2 = (col("n_a") + col("n_b")).cast("double") * det * det /
      ((a + b) * (c + d) * (a + c) * (b + d)).cast("double")
    // a degenerate table (all users convert, or none do) makes both the
    // pooled se and the chi-square denominator 0 — the statistics are
    // undefined there, so emit NULL (ANSI division would throw)
    val mixed = (col("conv_a") + col("conv_b")) > 0 &&
      (col("n_a") + col("n_b")) > (col("conv_a") + col("conv_b"))
    r.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      round(pa, 6).as("rate_a"), round(pb, 6).as("rate_b"),
      round(pb - pa, 6).as("lift"),
      when(mixed, round((pb - pa) / se, 6)).as("z_stat"),
      when(mixed, round(chi2, 6)).as("chi2"))
  }

  /** Cochran–Mantel–Haenszel test over K strata of 2×2 conversion
    * tables — the stratified A/B readout ([[abTest]] pools everything;
    * CMH controls for a confounding stratum). Uncorrected statistic
    * (Σaₖ − ΣEₖ)²/ΣVₖ with Eₖ = n₁ₖm₁ₖ/Tₖ,
    * Vₖ = n₁ₖn₂ₖm₁ₖ(Tₖ−m₁ₖ)/(Tₖ²(Tₖ−1)), plus the Mantel–Haenszel
    * common odds ratio Σ(aₖdₖ/Tₖ)/Σ(bₖcₖ/Tₖ). Per-stratum doubles are
    * rounded to 10 dp and decimal-summed (the logRank discipline) so
    * the stratum sums are order-free; everything upstream is exact
    * integer counts from one user-level aggregate. */
  def cmhTest(events: DataFrame, userCol: String, typeCol: String,
      convType: String, strata: Column): DataFrame = {
    val users = events.groupBy(col(userCol))
      .agg(max(when(col(typeCol) === convType, 1L).otherwise(0L)).as("cv"))
      .withColumn("arm", pmod(col(userCol), lit(2)))
      .withColumn("st", strata)
    val tab = users.groupBy("st").agg(
      sum(when(col("arm") === 1 && col("cv") === 1, 1L).otherwise(0L)).as("a"),
      sum(when(col("arm") === 1 && col("cv") === 0, 1L).otherwise(0L)).as("b"),
      sum(when(col("arm") === 0 && col("cv") === 1, 1L).otherwise(0L)).as("c"),
      sum(when(col("arm") === 0 && col("cv") === 0, 1L).otherwise(0L)).as("d"))
    val t = (col("a") + col("b") + col("c") + col("d")).cast("double")
    val e = round((col("a") + col("b")).cast("double") *
      (col("a") + col("c")).cast("double") / t, 10)
    val v = round(((col("a") + col("b")) * (col("c") + col("d"))).cast("double") *
      ((col("a") + col("c")) * (col("b") + col("d"))).cast("double") /
      (t * t * (t - 1)), 10)
    val num = round((col("a") * col("d")).cast("double") / t, 10)
    val den = round((col("b") * col("c")).cast("double") / t, 10)
    val agg = tab.filter(t > 1).agg(
      count(lit(1)).as("n_strata"), sum(col("a")).as("sum_a"),
      sum(e.cast("decimal(28,10)")).as("__e"),
      sum(v.cast("decimal(28,10)")).as("__v"),
      sum(num.cast("decimal(28,10)")).as("__num"),
      sum(den.cast("decimal(28,10)")).as("__den"))
    val dA = col("sum_a").cast("double")
    val dE = col("__e").cast("double")
    val dV = col("__v").cast("double")
    agg.select(col("n_strata"), col("sum_a"),
      round(dE, 6).as("expected_a"),
      round(when(dV > 0, (dA - dE) * (dA - dE) / dV), 6).as("chi2_cmh"),
      round(when(col("__den").cast("double") > 0,
        col("__num").cast("double") / col("__den").cast("double")), 6)
        .as("or_mh"))
  }

  /** Per-group trimmed and winsorized means — the robust location
    * estimates next to the plain mean: thresholds are the exact
    * interpolated `trim`/`1−trim` percentiles (the engine-compatible
    * `percentile` ↔ `quantile_cont` pair this repo's oracle discipline
    * pins); the trimmed mean averages rows inside [lo, hi] as an exact
    * decimal sum, the winsorized mean clamps to the thresholds first
    * (clamped doubles rounded to 4 dp before the decimal sum so the
    * total is order-free). One pass for thresholds, one for the means,
    * broadcast attach — holds at any group cardinality. */
  def robustMeans(df: DataFrame, groupCol: String, valueCol: String,
      trim: Double = 0.1): DataFrame = {
    require(trim > 0 && trim < 0.5)
    val th = df.groupBy(col(groupCol)).agg(
      expr(s"percentile($valueCol, array($trim, ${1 - trim}))").as("__th"))
      .select(col(groupCol), element_at(col("__th"), 1).as("__lo"),
        element_at(col("__th"), 2).as("__hi"))
    val vDec = col(valueCol).cast("decimal(20,4)")
    val clamped = round(least(greatest(col(valueCol), col("__lo")), col("__hi")), 4)
      .cast("decimal(20,4)")
    val inRange = col(valueCol) >= col("__lo") && col(valueCol) <= col("__hi")
    df.join(broadcast(th), groupCol)
      .groupBy(col(groupCol)).agg(
        count(lit(1)).as("n"),
        sum(when(inRange, 1L).otherwise(0L)).as("n_kept"),
        round(sum(when(inRange, vDec)).cast("double") /
          sum(when(inRange, 1L).otherwise(0L)), 6).as("trimmed_mean"),
        round(sum(clamped).cast("double") / count(lit(1)), 6)
          .as("winsorized_mean"))
  }

  /** Kaplan–Meier survival estimate of days-to-conversion: duration =
    * days from a user's first event to their first `convType` event
    * (observed) or to their last event (right-censored). At each
    * duration t with at least one observed conversion: the number at
    * risk, conversions, censorings, and the product-limit survival
    * S(t) = Π_{t'≤t} (n_{t'} − d_{t'})/n_{t'} — the standard convention
    * that same-time censorings remain at risk (deaths-before-censoring).
    *
    * The product is computed as exp(Σ ln(factor)) with each ln rounded
    * to 6 dp and summed in DECIMAL (exact, order-free); the final exp is
    * rounded to 4 dp — transcendentals touch only exact rational inputs
    * and rounded outputs, so the oracle replays it (dsirWeights
    * precedent). The duration table is calendar-bounded (≤ days in the
    * data); the `.limit` bound makes that provable to the plan so the
    * cumulative-risk window is a sanctioned bounded-global shape.
    */
  def kaplanMeier(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, convType: String): DataFrame = {
    val perUser = events.groupBy(col(userCol)).agg(
      to_date(min(col(tsCol))).as("d0"),
      to_date(min(when(col(typeCol) === convType, col(tsCol)))).as("dp"),
      to_date(max(col(tsCol))).as("dl"))
    val durations = perUser.select(
      when(col("dp").isNotNull, datediff(col("dp"), col("d0")))
        .otherwise(datediff(col("dl"), col("d0"))).as("t"),
      when(col("dp").isNotNull, 1L).otherwise(0L).as("observed"))
    val byT = durations.groupBy("t").agg(
      sum("observed").as("d"),
      sum(lit(1L) - col("observed")).as("c"),
      count(lit(1)).as("ended"))
      .limit(10000)
    val wPrev = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = byT.agg(sum("ended").as("n_total"))
    // factor 0 (everyone at risk converts at t) would be ln(0) = −∞,
    // which a decimal cast nulls out; floor it at −20 (exp(−20) ≈ 2e−9,
    // i.e. survival 0.0000 at 4 dp) — same fixed constant both engines
    val factorLn = when(col("n_risk") > col("d"), round(
        log((col("n_risk") - col("d")).cast("double") / col("n_risk")), 6))
      .otherwise(lit(-20.0))
    byT.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("n_total") - coalesce(sum("ended").over(wPrev), lit(0L)))
      .withColumn("ln_f",
        when(col("d") > 0, factorLn).otherwise(lit(0.0))
          .cast("decimal(18,6)"))
      .withColumn("survival",
        round(exp(sum("ln_f").over(wCum).cast("double")), 4))
      .filter(col("d") > 0)
      .select(col("t").as("t_days"), col("n_risk"), col("d").as("d_conv"),
        col("c").as("c_censored"), col("survival"))
  }

  /** Gini coefficient of a value's distribution per group — the
    * inequality / revenue-concentration scalar complementing the Pareto
    * top-share report. Over members sorted ascending by (value, id):
    * G = 2·Σ(rank·x) / (n·Σx) − (n+1)/n. Values are exact DECIMAL(18,2)
    * sums per member; the rank-weighted sum stays in decimal (exact,
    * order-free); only the final fixed formula runs in double.
    *
    * Scale shape: member reduction is a plain agg; the rank is a window
    * partitioned by group (state per task = one group's members). */
  def giniByGroup(members: DataFrame, groupCol: String, idCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col("x").asc, col(idCol).asc)
    val ranked = members
      .select(col(groupCol), col(idCol),
        col(valueCol).cast("decimal(18,2)").as("x"))
      .withColumn("rk", row_number().over(w))
    ranked.groupBy(groupCol).agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"),
        sum(col("x") * col("rk")).as("srx"))
      .select(col(groupCol), col("n"),
        round(col("sx").cast("double"), 2).as("total"),
        round(lit(2.0) * col("srx").cast("double") /
            (col("n") * col("sx").cast("double")) -
          (col("n") + 1).cast("double") / col("n"), 6).as("gini"))
  }

  /** EWMA (α = 1/2) of the daily count series per key, in closed form:
    * s_1 = x_1, s_t = x_t/2 + s_{t−1}/2  ⟺  s_t = 2^{−t}·(B_t + x_1)
    * with B_t = Σ_{j≤t} 2^{j−1}·x_j — so the ONLY accumulation is an
    * exact integer-valued DECIMAL running sum and every weight is a
    * dyadic rational: both engines produce bit-identical doubles, no
    * rounding rescue needed (α = 1/2 is chosen precisely for this).
    *
    * B_t needs 2^{t−1} headroom, so the series is bounded to the
    * trailing `maxHistoryDays` (≤ 100) days of the data — beyond ~100
    * steps the discarded weights are < 2^−100, far below double
    * precision, and the restart is deterministic on both engines.
    * Day index is a per-key row_number over the bounded daily series
    * (key-partitioned window; never raw events). */
  def ewmaDaily(events: DataFrame, keyCol: String, tsCol: String,
      maxHistoryDays: Int = 100): DataFrame = {
    require(maxHistoryDays >= 1 && maxHistoryDays <= 100,
      "decimal(38) headroom bounds the exact-dyadic form at 2^99")
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val cutoff = daily.agg(
      date_sub(max("day"), maxHistoryDays - 1).as("min_day"))
    val wT = Window.partitionBy(keyCol).orderBy("day")
    val wCum = wT.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(cutoff))
      .filter(col("day") >= col("min_day"))
      .withColumn("t", row_number().over(wT))
      .withColumn("b", sum(pow(lit(2.0), col("t") - 1)
        .cast("decimal(38,0)") * col("n")).over(wCum))
      .withColumn("x1", first("n").over(wCum))
      .select(col(keyCol), col("day"), col("n"),
        (pow(lit(2.0), -col("t")) *
          (col("b") + col("x1")).cast("double")).as("ewma"))
  }

  /** Holt linear-trend (double-exponential) forecast of daily event
    * counts per key, α = β = ½: level and trend track the series with a
    * one-day-ahead recursion, then `horizon` days are projected as
    * l_T + h·b_T. Initialization l₁ = y₁, b₁ = 0 — documented so the
    * recursion (and its oracle) is fully pinned.
    *
    * Shape: one daily pre-aggregate (the only shuffle touching raw
    * events), then the recursion folds per key over the collected daily
    * series — per-key state is O(observed days), calendar-bounded like
    * [[ewmaDaily]], and every arithmetic step is fixed-order IEEE
    * double, so an external engine replays it exactly with a recursive
    * CTE. Output: (key, last_day, h, forecast), h = 1..horizon. */
  def holtLinearDaily(events: DataFrame, keyCol: String, tsCol: String,
      horizon: Int = 7): DataFrame = {
    require(horizon >= 1, s"need horizon >= 1, got $horizon")
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily.groupBy(keyCol)
      .agg(max("day").as("last_day"),
        sort_array(collect_list(struct(col("day"), col("n")))).as("s"))
    val folded = series.withColumn("st", aggregate(col("s"),
      struct(lit(0.0).as("l"), lit(0.0).as("b"), lit(0).as("t")),
      (acc, x) => {
        val y = x.getField("n").cast("double")
        val l = acc.getField("l")
        val b = acc.getField("b")
        val t = acc.getField("t")
        // l' = ½y + ½(l+b); b' = ½(l'−l) + ½b — written once so the
        // oracle mirrors the exact operation order
        val l2 = lit(0.5) * y + lit(0.5) * (l + b)
        struct(
          when(t === 0, y).otherwise(l2).as("l"),
          when(t === 0, lit(0.0))
            .otherwise(lit(0.5) * (l2 - l) + lit(0.5) * b).as("b"),
          (t + lit(1)).as("t"))
      }))
    folded.select(col(keyCol), col("last_day"),
        col("st.l").as("l"), col("st.b").as("b"),
        explode(sequence(lit(1), lit(horizon))).as("h"))
      .select(col(keyCol), col("last_day"), col("h").cast("long").as("h"),
        round(col("l") + col("h") * col("b"), 6).as("forecast"))
  }

  /** Autocorrelation of the daily event-count series at lags 1..maxLag:
    * Pearson r between c(day) and c(day−L) over the overlapping days.
    * The series diagnostic behind seasonality detection (a weekly cycle
    * shows as a peak at L=7) and forecast-model choice.
    *
    * One daily aggregate, an explode to (day, lag) pairs joined back on
    * day−L (days × maxLag rows — calendar-bounded), then per-lag exact
    * decimal moment sums with the closed Pearson form in double; NULL
    * acf when a lag's series is constant (zero variance). */
  def acfDaily(events: DataFrame, tsCol: String, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"need maxLag >= 1, got $maxLag")
    val daily = events.groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val withLag = daily
      .select(col("day"), col("n").as("x"),
        explode(sequence(lit(1), lit(maxLag))).as("lag"))
      .withColumn("pday", date_sub(col("day"), col("lag")))
    val pairs = withLag.join(
      daily.select(col("day").as("pday"), col("n").as("y")), Seq("pday"))
    corrOverPairs(pairs, Seq("lag"), "acf")
      .select(col("lag").cast("long").as("lag"), col("n_pairs"), col("acf"))
  }

  /** Pearson r per group over integer (x, y) pair columns, the shared
    * exact-moment kernel behind [[acfDaily]] / [[ccfDaily]]: decimal
    * moment sums (exact, order-free), closed formula in double with a
    * fixed operand order, NULL on zero variance, rounded to 6 dp. */
  private def corrOverPairs(pairs: DataFrame, byCols: Seq[String],
      outCol: String): DataFrame = {
    def d(c: Column): Column = c.cast("decimal(19,0)")
    val m = pairs.groupBy(byCols.map(col): _*).agg(
      count(lit(1)).as("n_pairs"),
      sum(d(col("x"))).as("sx"), sum(d(col("y"))).as("sy"),
      sum(d(col("x")) * d(col("x"))).as("sxx"),
      sum(d(col("y")) * d(col("y"))).as("syy"),
      sum(d(col("x")) * d(col("y"))).as("sxy"))
    val np = col("n_pairs").cast("double")
    val cov = np * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val vx = np * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vy = np * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    m.select(byCols.map(col) ++ Seq(col("n_pairs"),
      round(when(vx > 0 && vy > 0, cov / sqrt(vx * vy)), 6).as(outCol)): _*)
  }

  /** Lead–lag cross-correlation between two event types' daily series:
    * corr(countA(day), countB(day + lag)) for lag in −maxLag..maxLag —
    * a peak at positive lag means `typeA` LEADS `typeB` by that many
    * days (the signup→purchase pipeline delay readout). Lag 0 is plain
    * same-day correlation; the negative side is the reverse direction,
    * so the full curve diagnoses which series drives which. Same
    * calendar-bounded join + exact-moment kernel as [[acfDaily]]. */
  def ccfDaily(events: DataFrame, typeCol: String, tsCol: String,
      typeA: String, typeB: String, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"need maxLag >= 1, got $maxLag")
    def series(t: String) = events.filter(col(typeCol) === t)
      .groupBy(to_date(col(tsCol)).as("day")).agg(count(lit(1)).as("n"))
    val a = series(typeA)
    val b = series(typeB)
    val withLag = a.select(col("day"), col("n").as("x"),
        explode(sequence(lit(-maxLag), lit(maxLag))).as("lag"))
      .withColumn("bday", date_add(col("day"), col("lag")))
    val pairs = withLag.join(
      b.select(col("day").as("bday"), col("n").as("y")), Seq("bday"))
    corrOverPairs(pairs, Seq("lag"), "ccf")
      .select(col("lag").cast("long").as("lag"), col("n_pairs"), col("ccf"))
  }

  /** Two-sample log-rank test (Mantel–Cox): does the treated cohort
    * convert on a different time-to-event curve than control? The
    * hypothesis test that pairs with [[kaplanMeier]]'s descriptive
    * curve. Per distinct event time t: observed group-A conversions
    * d_A(t) vs expected n_A(t)·d(t)/n(t) under H₀, hypergeometric
    * variance n_A·n_B·d·(n−d) / (n²·(n−1)); z = (O−E)/√V,
    * χ² = z². Same per-user duration reduction as kaplanMeier
    * (first event → first conversion, censored at last activity).
    *
    * Per-t expectation/variance terms are rational numbers; each is
    * rounded to 10 dp and summed in exact decimal so the test statistic
    * is order-free and replayable (the 1e-10 term quantization is part
    * of the operator's pinned definition). Event-time frame is
    * calendar-bounded (limit proof, as in kaplanMeier). */
  def logRank(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, convType: String, treated: Column): DataFrame = {
    val perUser = events.groupBy(col(userCol)).agg(
      to_date(min(col(tsCol))).as("d0"),
      to_date(min(when(col(typeCol) === convType, col(tsCol)))).as("dp"),
      to_date(max(col(tsCol))).as("dl"),
      max(when(treated, 1L).otherwise(0L)).as("grp"))
    val durations = perUser.select(
      when(col("dp").isNotNull, datediff(col("dp"), col("d0")))
        .otherwise(datediff(col("dl"), col("d0"))).as("t"),
      when(col("dp").isNotNull, 1L).otherwise(0L).as("observed"),
      col("grp"))
    val byT = durations.groupBy("t").agg(
      sum("observed").as("d"),
      sum(col("observed") * col("grp")).as("da"),
      count(lit(1)).as("ended"),
      sum("grp").as("endeda"))
      .limit(10000)
    val totals = byT.agg(sum("ended").as("n_total"),
      sum("endeda").as("n_total_a"))
    val wPrev = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = byT.crossJoin(broadcast(totals))
      .withColumn("n", col("n_total") -
        coalesce(sum("ended").over(wPrev), lit(0L)))
      .withColumn("na", col("n_total_a") -
        coalesce(sum("endeda").over(wPrev), lit(0L)))
      .filter(col("d") > 0)
    val nD = col("n").cast("double")
    val naD = col("na").cast("double")
    val dD = col("d").cast("double")
    val eTerm = round(naD * dD / nD, 10).cast("decimal(28,10)")
    val vTerm = when(col("n") > 1, round(
        naD * (nD - naD) * dD * (nD - dD) / (nD * nD * (nD - lit(1.0))), 10))
      .otherwise(lit(0.0)).cast("decimal(28,10)")
    val agg = risk.agg(
      max("n_total").as("n_users"), max("n_total_a").as("n_users_a"),
      sum("da").as("oa"), sum(eTerm).as("ea"), sum(vTerm).as("v"))
    val z = (col("oa").cast("double") - col("ea").cast("double")) /
      sqrt(col("v").cast("double"))
    agg.select(col("n_users"), col("n_users_a"), col("oa"),
      round(col("ea").cast("double"), 6).as("ea"),
      round(col("v").cast("double"), 6).as("v"),
      round(when(col("v").cast("double") > 0, z), 6).as("z"),
      round(when(col("v").cast("double") > 0, z * z), 6).as("chi2"))
  }

  /** Decile gains/lift table for a model score — the standard targeting
    * readout ("the top 2 deciles capture X% of conversions, lift Y")
    * that [[rocAuc]] compresses into one number and [[calibration]]
    * reads per-bin: rank rows into `buckets` score bands via EXACT
    * interpolated percentile thresholds of the 6-dp-rounded score (no
    * global sort — one percentile aggregate, then a map-side threshold
    * compare), then cumulative conversion capture and lift from the
    * best band down.
    *
    * Thresholds, band assignment (count of thresholds strictly below
    * the score), and all rates are deterministic functions of the
    * rounded score, so the whole table replays cross-engine. The only
    * windows ride the `buckets`-row band frame (limit-proof bounded).
    * Output per band (1 = best scores): n, conv, conv_rate,
    * cum_capture (share of all conversions in bands ≤ this one),
    * lift (band-to-population conversion ratio).
    *
    * Cardinality guard (same rule as
    * [[graft.operators.Profiling.keySkewProfile]]): exact `percentile`
    * buffers every score in ONE aggregation buffer, so thresholds stay
    * exact only up to `exactThresholdsUpTo` rows and switch to
    * `approx_percentile` (10⁴ accuracy) above it — at corpus scale the
    * decile boundaries are statistics, not contracts, and the rest of
    * the pipeline (band compare, rates) is unchanged. The row-count
    * probe counts the PROJECTED two-column frame (so a bare parquet
    * input answers from footer metadata and a derived input at least
    * rides the pruned scan); callers that already know the cardinality
    * pass `rowCountHint >= 0` and skip the probe job entirely. */
  def gainsTable(df: DataFrame, scoreCol: String, labelCol: String,
      buckets: Int = 10, exactThresholdsUpTo: Long = 4194304L,
      rowCountHint: Long = -1L): DataFrame = {
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    val scored = df.select(round(col(scoreCol), 6).as("score"),
      col(labelCol).cast("long").as("y"))
    val probs = (1 until buckets).map(i => i.toDouble / buckets)
    val nRows = if (rowCountHint >= 0) rowCountHint else scored.count()
    val pctExpr =
      if (nRows <= exactThresholdsUpTo)
        s"percentile(score, array(${probs.mkString(",")}))"
      else s"approx_percentile(score, array(${probs.mkString(",")}), 10000)"
    val thr = scored.agg(expr(pctExpr).as("t"))
    val asc = lit(1) + aggregate(
      transform(col("t"), x => when(col("score") > x, 1).otherwise(0)),
      lit(0), (a, b) => a + b)
    val bands = scored.crossJoin(broadcast(thr))
      .withColumn("band", (lit(buckets + 1) - asc).cast("long"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"), sum("y").as("conv"))
      .limit(buckets) // band domain is 1..buckets; proves windows safe
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val wCum = Window.orderBy("band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bands
      .withColumn("tot_n", sum("n").over(wAll))
      .withColumn("tot_conv", sum("conv").over(wAll))
      .withColumn("cum_conv", sum("conv").over(wCum))
      .select(col("band"), col("n"), col("conv"),
        round(col("conv").cast("double") / col("n"), 6).as("conv_rate"),
        round(when(col("tot_conv") > 0,
          col("cum_conv").cast("double") / col("tot_conv")), 6).as("cum_capture"),
        round(when(col("tot_conv") > 0,
          (col("conv").cast("double") / col("n")) /
            (col("tot_conv").cast("double") / col("tot_n"))), 6).as("lift"))
  }

  /** Spearman rank correlation between two integer daily series —
    * events per day (volume) vs distinct users per day (breadth): the
    * robust, monotone-association complement to [[pearsonPairs]]
    * (outlier days bend Pearson, not ranks).
    *
    * Ties get average ranks, held in exact integer space as
    * 2·avgrank = 2·minrank + ties − 1; Pearson of the doubled ranks
    * equals Pearson of the ranks (affine invariance, and the doubling
    * is a power of two so even the IEEE steps scale exactly). Both
    * series are integer counts, so ranks — and therefore the whole
    * statistic — replay exactly cross-engine. The ranking windows ride
    * the daily aggregate, calendar-bounded via the same limit proof as
    * every other daily-frame window here. */
  def spearmanDaily(events: DataFrame, tsCol: String,
      userCol: String): DataFrame = {
    val daily = events.groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"), countDistinct(col(userCol)).as("y"))
      .limit(10000) // calendar-bounded; proves the rank windows safe
    def ranks2(c: String): Column =
      lit(2) * rank().over(Window.orderBy(col(c))) +
        count(lit(1)).over(Window.partitionBy(col(c))) - lit(1)
    val ranked = daily
      .withColumn("rx", ranks2("x").cast("decimal(19,0)"))
      .withColumn("ry", ranks2("y").cast("decimal(19,0)"))
    val m = ranked.agg(count(lit(1)).as("n_days"),
      sum("rx").as("sx"), sum("ry").as("sy"),
      sum(col("rx") * col("rx")).as("sxx"),
      sum(col("ry") * col("ry")).as("syy"),
      sum(col("rx") * col("ry")).as("sxy"))
    val np = col("n_days").cast("double")
    val cov = np * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val vx = np * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vy = np * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    m.select(col("n_days"),
      round(when(vx > 0 && vy > 0, cov / sqrt(vx * vy)), 6).as("spearman"))
  }

  /** 1:1 nearest-neighbor covariate matching within exact strata + the
    * matched-pairs ATT — the design-based causal estimate next to
    * CUPED/DiD (match each treated unit to the control with the
    * nearest continuous covariate among units sharing the exact
    * stratum, with replacement; ATT = mean treated−matched outcome).
    *
    * Scale shape: NO pairwise distance join — both cohorts ride one
    * stratum-partitioned sort of the covariate axis, and each treated
    * row reads its nearest control at-or-below / above via
    * last/first(ignoreNulls) carries (the as-of trick on the covariate
    * axis). Determinism: at equal distance the LOWER-covariate control
    * wins; an equal-covariate control sorts before the treated row
    * (distance-0 prev match); among equal-covariate controls the
    * window order (cov, side, id DESC) makes the carry pick the
    * minimum id. The three carried control fields are null/non-null
    * together (nulls filtered up front), so the parallel carries
    * always read one single control row. Unmatched treated units
    * (stratum with no controls) are counted but excluded from ATT. */
  def nnMatchATT(df: DataFrame, idCol: String, strataCols: Seq[String],
      covCol: String, outcomeCol: String, treated: Column): DataFrame = {
    val base = df.filter(col(covCol).isNotNull && col(outcomeCol).isNotNull)
      .select(strataCols.map(col) :+ col(idCol).as("__id") :+
        col(covCol).cast("double").as("__cov") :+
        col(outcomeCol).cast("decimal(20,4)").as("__y") :+
        when(treated, 1).otherwise(0).as("__side"): _*)
    // The carries are a segmented prefix scan over the TOTAL order
    // (strata, cov, side, id DESC). A window partitioned by the bare
    // strata runs it serially per stratum — with 3 strata over 600k
    // lineitem rows that is 3-task parallelism on a 32-core host, the
    // guide-§2.5 skew shape (and at cluster scale, 3 giant partitions
    // no engine can split). Chunked rewrite, algebraically exact:
    // range-partition the total order into chunks, run BOTH running
    // carries inside each (strata, chunk) group in parallel, and fix
    // up chunk boundaries with a tiny per-chunk carry table — the
    // classic two-phase prefix scan. Boundary carries: among CONTROLS
    // the order reduces to (cov asc, id desc), so a chunk's last
    // control in scan order is max_by struct(cov, -id) and its first
    // is min_by — unique keys (id is unique), no ties. A chunk with no
    // controls contributes no summary row and inherits its carry from
    // earlier chunks through the ignoreNulls running last over the
    // chunk axis. Chunk ids are only grouping labels: ANY split of the
    // total order yields the same final carries, so the result does
    // not depend on range-sampling boundaries.
    val ord = Seq(col("__cov").asc, col("__side").asc, col("__id").desc)
    // Chunk id = equal-width covariate bucket — a PURE FUNCTION of the
    // row (min/max bounds broadcast from one tiny agg), so the three
    // consumers (windows, summaries, spine) agree on chunk boundaries
    // by construction and nothing needs materializing. The previous
    // form (range-partition + spark_partition_id, pinned with
    // localCheckpoint(true) so re-executed range exchanges could not
    // sample different boundaries) was an O(table) executor-memory
    // materialization of the full fact table (guide §5) — exactly the
    // cost this replaces. Monotone in __cov, so every bucket is a
    // contiguous range of the total order (ties share a bucket — a
    // legal, coarser split; the fixup is exact for ANY split). Bucket
    // widths are data-dependent but a hot bucket is still windowed in
    // parallel with the rest — vs the pre-r16 3-value strata key this
    // keeps ~4×cores-way parallelism without a checkpoint.
    val nChunks = math.max(1,
      df.sparkSession.sparkContext.defaultParallelism * 4)
    val bounds = base.agg(min(col("__cov")).as("__clo"),
      max(col("__cov")).as("__chi"))
    val chunked = base.crossJoin(broadcast(bounds))
      .withColumn("__chunk",
        when(col("__clo") < col("__chi"),
          width_bucket(col("__cov"), col("__clo"), col("__chi"),
            lit(nChunks)))
        .otherwise(lit(0L)))
      .drop("__clo", "__chi")
    val grp = strataCols.map(col) :+ col("__chunk")
    val wPrev = Window.partitionBy(grp: _*)
      .orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the "nearest control at-or-above" is the same carry over the
    // REVERSED ordering — a `currentRow..unboundedFollowing` frame
    // would instead re-aggregate the whole tail PER ROW (Spark's
    // UnboundedFollowing frames are quadratic per partition: measured
    // as a multi-hour stall on 200k-row strata at sf0.1), while both
    // running frames here are incremental O(n)
    val wNext = Window.partitionBy(grp: _*)
      .orderBy(col("__cov").desc, col("__side").desc, col("__id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def ctrl(c: Column): Column = when(col("__side") === 0, c)
    val inChunk = chunked
      .withColumn("__pc0", last(ctrl(col("__cov")), ignoreNulls = true).over(wPrev))
      .withColumn("__py0", last(ctrl(col("__y")), ignoreNulls = true).over(wPrev))
      .withColumn("__nc0", last(ctrl(col("__cov")), ignoreNulls = true).over(wNext))
      .withColumn("__ny0", last(ctrl(col("__y")), ignoreNulls = true).over(wNext))
    // per-(strata, chunk) control extremes in scan order (controls only)
    val okey = struct(col("__cov"), -col("__id"))
    val summaries = chunked.filter(col("__side") === 0)
      .groupBy(grp: _*)
      .agg(max_by(struct(col("__cov").as("c"), col("__y").as("y")), okey)
          .as("__lastCtrl"),
        min_by(struct(col("__cov").as("c"), col("__y").as("y")), okey)
          .as("__firstCtrl"))
    // carry-in per chunk: last control of any EARLIER chunk (prev
    // direction) / first control of any LATER chunk (next direction).
    // All-chunks spine so control-free chunks still receive a carry.
    val allChunks = chunked.select(grp: _*).distinct()
    val wIn = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(col("__chunk").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOut = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(col("__chunk").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = allChunks
      .join(summaries, strataCols :+ "__chunk", "left")
      .withColumn("__pIn", last(col("__lastCtrl"), ignoreNulls = true).over(wIn))
      .withColumn("__nIn", last(col("__firstCtrl"), ignoreNulls = true).over(wOut))
      .select(grp :+ col("__pIn") :+ col("__nIn"): _*)
    val carried = inChunk
      .join(broadcast(carries), strataCols :+ "__chunk", "left")
      .withColumn("__pc", coalesce(col("__pc0"), col("__pIn.c")))
      .withColumn("__py", coalesce(col("__py0"), col("__pIn.y")))
      .withColumn("__nc", coalesce(col("__nc0"), col("__nIn.c")))
      .withColumn("__ny", coalesce(col("__ny0"), col("__nIn.y")))
    val dPrev = col("__cov") - col("__pc")
    val dNext = col("__nc") - col("__cov")
    val usePrev = col("__pc").isNotNull &&
      (col("__nc").isNull || dPrev <= dNext)
    val my = when(usePrev, col("__py"))
      .when(col("__nc").isNotNull, col("__ny"))
    carried.filter(col("__side") === 1).withColumn("__my", my)
      .groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("n_treated"),
        sum(when(col("__my").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        round(sum(when(col("__my").isNotNull, col("__y") - col("__my")))
            .cast("double") /
          sum(when(col("__my").isNotNull, 1L).otherwise(0L)), 6).as("att"))
  }

  /** Kendall's τ-b between the same two daily series [[spearmanDaily]]
    * correlates — concordant-minus-discordant sign pairs with the
    * standard tie corrections, τ_b = (C−D)/√((T₀−T₁)(T₀−T₂)). The
    * O(n²) pair enumeration rides array HOFs on the ONE lint-bounded
    * daily row (the [[mannKendallDaily]] shape — no self-join, no
    * window); C−D and both tie sums are exact longs, the only doubles
    * are the final fixed formula. */
  def kendallTauDaily(events: DataFrame, tsCol: String,
      userCol: String): DataFrame = {
    val daily = events.groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"), countDistinct(col(userCol)).as("y"))
      .limit(10000) // calendar-bounded; proves the single-row collect safe
    val tx = daily.groupBy("x").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * (col("t") - 1)), lit(0L)).as("tx2"))
    val ty = daily.groupBy("y").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * (col("t") - 1)), lit(0L)).as("ty2"))
    val arr = daily
      .agg(array_sort(collect_list(struct(col("day"), col("x"), col("y"))))
        .as("a"))
      .select(size(col("a")).cast("long").as("n_days"),
        expr("aggregate(flatten(transform(a, (p, i) ->" +
          " transform(slice(a, i + 2, size(a)), q ->" +
          " cast(sign(q.x - p.x) * sign(q.y - p.y) AS long)))), 0L," +
          " (acc, v) -> acc + v)").as("s"))
    val n = col("n_days").cast("double")
    val t0x2 = n * (n - 1) - col("tx2").cast("double") // 2·(T₀−T₁)
    val t0y2 = n * (n - 1) - col("ty2").cast("double")
    arr.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
      .select(col("n_days"), col("s"),
        round(when(t0x2 > 0 && t0y2 > 0,
          lit(2.0) * col("s").cast("double") / sqrt(t0x2 * t0y2)), 6)
          .as("tau_b"))
  }

  /** Two-sample Mann–Whitney U over bounded daily means: do the
    * treated cohort's daily mean values come from a shifted
    * distribution vs control? The standard nonparametric complement
    * to the parametric [[abTest]] z-test (no normality assumption;
    * robust to outlier days) and to [[logRank]]'s time-to-event test.
    *
    * Sample unit = (day, group) mean of `valueCol` (6-dp rounded so
    * pooled ranks replay cross-engine; null values excluded up front —
    * a null day-mean has no rank order both engines agree on). Ties
    * get average ranks held in the same exact doubled-rank integer
    * space as [[spearmanDaily]] (2·avgrank = 2·minrank + ties − 1),
    * so U is an exact half-integer. z uses the normal approximation
    * with the standard tie-corrected variance
    * n₁n₂/12·((n+1) − Σ(t³−t)/(n(n−1))); degenerate all-tied samples
    * have zero variance and report a NULL z rather than ±∞. The
    * ranking windows ride the (days × 2)-bounded daily aggregate —
    * the same calendar-bounded limit proof as every daily frame here. */
  def mannWhitneyDaily(events: DataFrame, tsCol: String, valueCol: String,
      treated: Column): DataFrame = {
    val vDec = col(valueCol).cast("decimal(20,4)")
    val daily = events.filter(col(valueCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("day"),
        when(treated, lit(1L)).otherwise(lit(0L)).as("grp"))
      .agg(round(sum(vDec).cast("double") / count(lit(1)), 6).as("m"))
      .limit(10000) // calendar-bounded ×2 groups; proves windows safe
    val r2 = (lit(2) * rank().over(Window.orderBy(col("m"))) +
      count(lit(1)).over(Window.partitionBy(col("m"))) - lit(1)).cast("long")
    val ranked = daily.withColumn("r2", r2)
    val ties = ranked.groupBy("m").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")),
        lit(0L)).as("tie3"))
    val agg = ranked.agg(
      sum(when(col("grp") === 1L, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("grp") === 0L, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("grp") === 1L, col("r2")).otherwise(0L)).as("ra2"))
    val n1d = col("n_a").cast("double")
    val n2d = col("n_b").cast("double")
    val nd = (col("n_a") + col("n_b")).cast("double")
    // doubled U_a = doubled rank sum − n_a(n_a+1): exact long
    val u2 = col("ra2") - col("n_a") * (col("n_a") + lit(1L))
    val varU = n1d * n2d / lit(12.0) *
      ((nd + lit(1.0)) - col("tie3").cast("double") / (nd * (nd - lit(1.0))))
    agg.crossJoin(broadcast(ties))
      .select(col("n_a"), col("n_b"),
        round(u2.cast("double") / lit(2.0), 1).as("u_a"),
        round(when(varU > 0,
          (u2.cast("double") / lit(2.0) - n1d * n2d / lit(2.0)) / sqrt(varU)),
          6).as("z"))
  }

  /** Mann–Kendall trend test + Sen's slope over bounded daily means —
    * the standard nonparametric "is this metric drifting" readout
    * (monotone-trend analogue of [[mannWhitneyDaily]]'s two-sample
    * test). S = Σ_{i<j} sign(x_j − x_i) with the tie-corrected normal
    * approximation Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18 and
    * the ±1 continuity correction; Sen's slope is the exact median of
    * all pairwise slopes (x_j − x_i)/(t_j − t_i).
    *
    * Scale shape: the daily frame is calendar-bounded, so the O(n²)
    * pair enumeration runs as array HOFs on ONE collected-to-a-row
    * frame (≤ 10000² pairs by the lint bound) — no self-join, no
    * window, and the unbounded event scan only ever feeds the one-pass
    * daily aggregate. Integer S and tie sums are exact; the only
    * doubles are the rounded daily means, the pairwise slopes (same
    * fixed operand order as the DuckDB oracle), and the final z. */
  def mannKendallDaily(events: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val vDec = col(valueCol).cast("decimal(20,4)")
    val daily = events.filter(col(valueCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(round(sum(vDec).cast("double") / count(lit(1)), 6).as("m"))
      .limit(10000) // calendar-bounded; proves the single-row collect safe
    // tie spectrum over the mean values (exact integers)
    val ties = daily.groupBy("m").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)),
        lit(0L)).as("tie3"))
    val arr = daily
      .agg(array_sort(collect_list(struct(col("day"), col("m")))).as("a0"),
        min(col("day")).as("d0"))
      .select(expr(
        "transform(a0, x -> struct(cast(datediff(x.day, d0) AS double) AS t," +
          " x.m AS m))").as("a"))
      .select(col("a"), size(col("a")).cast("long").as("n_days"),
        expr("aggregate(flatten(transform(a, (x, i) ->" +
          " transform(slice(a, i + 2, size(a)), y ->" +
          " cast(sign(y.m - x.m) AS long)))), 0L, (acc, v) -> acc + v)")
          .as("s"),
        expr("array_sort(flatten(transform(a, (x, i) ->" +
          " transform(slice(a, i + 2, size(a)), y ->" +
          " (y.m - x.m) / (y.t - x.t)))))").as("sl"))
    val k = size(col("sl"))
    val sen = when(k === 0, lit(null).cast("double"))
      .when(k % 2 === 1, element_at(col("sl"), ((k + 1) / 2).cast("int")))
      .otherwise((element_at(col("sl"), (k / 2).cast("int")) +
        element_at(col("sl"), (k / 2).cast("int") + 1)) / lit(2.0))
    val nD = col("n_days").cast("double")
    val varS = (nD * (nD - 1) * (lit(2.0) * nD + 5) -
      col("tie3").cast("double")) / lit(18.0)
    val sD = col("s").cast("double")
    arr.crossJoin(broadcast(ties))
      .select(col("n_days"), col("s"),
        round(when(varS > 0 && col("s") > 0, (sD - 1) / sqrt(varS))
          .when(varS > 0 && col("s") < 0, (sD + 1) / sqrt(varS))
          .when(varS > 0, lit(0.0)), 6).as("z"),
        round(sen, 6).as("sen_slope"))
  }

  /** Per-group simple OLS fit y = a + b·x with r², in the closed
    * normal-equation form over five exact DECIMAL moment sums
    * (Σx, Σy, Σx², Σy², Σxy — inputs rounded to 2 dp first so the
    * products are exact): slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²),
    * intercept = (Σy − b·Σx)/n, r = cov/√(varx·vary). The moments are
    * one partial/final aggregate — the single-pass shape that holds at
    * any scale; only the final fixed formula (and IEEE sqrt) runs in
    * double. */
  def olsByGroup(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val x = round(col(xCol).cast("double"), 2).cast("decimal(18,2)")
    val y = round(col(yCol).cast("double"), 2).cast("decimal(18,2)")
    val m = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum((x * x).cast("decimal(38,4)")).as("sxx"),
      sum((y * y).cast("decimal(38,4)")).as("syy"),
      sum((x * y).cast("decimal(38,4)")).as("sxy"))
    val n = col("n").cast("double")
    val sx = col("sx").cast("double")
    val sy = col("sy").cast("double")
    val cov = n * col("sxy").cast("double") - sx * sy
    val varx = n * col("sxx").cast("double") - sx * sx
    val vary = n * col("syy").cast("double") - sy * sy
    m.select(col(groupCol), col("n"),
      round(cov / varx, 6).as("slope"),
      round((sy - (cov / varx) * sx) / n, 6).as("intercept"),
      round(cov * cov / (varx * vary), 6).as("r2"))
  }

  /** Pearson correlation for every pair of the given numeric columns in
    * ONE pass: a single aggregate computes all per-column and per-pair
    * exact DECIMAL moments (2-dp-rounded inputs, same contract as
    * [[olsByGroup]]), then the pair rows unfold from that one-row
    * result — the profile-matrix shape (never one scan per pair). */
  def pearsonPairs(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    def d(c: String): Column =
      round(col(c).cast("double"), 2).cast("decimal(18,2)")
    val moments =
      Seq[Column](count(lit(1)).as("n")) ++
        cols.flatMap(c => Seq(
          sum(d(c)).as(s"s_$c"),
          sum((d(c) * d(c)).cast("decimal(38,4)")).as(s"ss_$c"))) ++
        cols.combinations(2).map { case Seq(a, b) =>
          sum((d(a) * d(b)).cast("decimal(38,4)")).as(s"sp_${a}_$b")
        }.toSeq
    val m = df.agg(moments.head, moments.tail: _*)
    val n = col("n").cast("double")
    val pairs = cols.combinations(2).toSeq.map { case Seq(a, b) =>
      val cov = n * col(s"sp_${a}_$b").cast("double") -
        col(s"s_$a").cast("double") * col(s"s_$b").cast("double")
      val va = n * col(s"ss_$a").cast("double") -
        col(s"s_$a").cast("double") * col(s"s_$a").cast("double")
      val vb = n * col(s"ss_$b").cast("double") -
        col(s"s_$b").cast("double") * col(s"s_$b").cast("double")
      struct(lit(a).as("x_col"), lit(b).as("y_col"), col("n").as("n"),
        round(cov / sqrt(va * vb), 6).as("corr"))
    }
    m.select(explode(array(pairs: _*)).as("p"))
      .select("p.x_col", "p.y_col", "p.n", "p.corr")
  }

  /** Chi-square test of independence over an r×c contingency table of
    * two categorical columns. Empty cells (possible pairs never
    * observed) still contribute their expectation e to the statistic;
    * rather than materializing the full grid (a rowTotals×colTotals
    * cross join), the identity Σ_all e = n turns the statistic into a
    * sum over OBSERVED cells only:
    *   χ² = Σ_obs [(o−e)²/e − e] + n.
    * Each observed-cell term is rounded to 6 dp and summed in exact
    * DECIMAL (order-free), the repo's discipline for data-dependent
    * float sums. Returns one row: n, r, c, dof, chi2.
    *
    * Scale shape: one (a,b) count agg, two marginal re-aggs of THAT
    * (tiny) result attached by broadcast, one single-row fold. */
  def chi2Independence(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val obs = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o"))
    val rowT = obs.groupBy("a").agg(sum("o").as("ra"))
    val colT = obs.groupBy("b").agg(sum("o").as("cb"))
    // r and c from the margins: two distinct counts in one aggregate plan
    // an Expand whose column order follows expression-id hashes
    val tot = obs.agg(sum("o").as("n"))
      .crossJoin(rowT.agg(count(col("a")).as("r")))
      .crossJoin(colT.agg(count(col("b")).as("c")))
    val e = col("ra").cast("double") * col("cb") / col("n")
    val diff = col("o") - col("e")
    obs.join(broadcast(rowT), Seq("a"))
      .join(broadcast(colT), Seq("b"))
      .crossJoin(broadcast(tot))
      .withColumn("e", e)
      .withColumn("term",
        round(diff * diff / col("e") - col("e"), 6).cast("decimal(18,6)"))
      .agg(max("n").as("n"), max("r").as("r"), max("c").as("c"),
        ((max("r") - 1) * (max("c") - 1)).as("dof"),
        round(sum("term").cast("double") + max("n"), 6).as("chi2"))
  }

  /** Population stability index between a reference and a current
    * sample of a numeric column — THE production drift gate for model
    * inputs (PSI < 0.1 stable, > 0.25 shifted). Shared equi-width
    * buckets from the pooled min/max (the numericHistogram expression),
    * Laplace-smoothed shares p, q (+1 per occupied bucket, so an
    * empty-on-one-side bucket contributes a finite term), per-bucket
    * term (p−q)·ln(p/q) rounded at 6 dp. Emits the per-bucket table;
    * the headline PSI is the exact decimal sum of the rounded terms
    * ([[chi2Independence]] discipline), attached to every row.
    *
    * Scale shape: one union scan bucketed row-locally against a
    * broadcast bounds row, one (bucket, side) agg, tiny re-aggs. */
  def psi(ref: DataFrame, cur: DataFrame, valueCol: String,
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets > 0, s"need nBuckets > 0, got $nBuckets")
    val v = col(valueCol).cast("double")
    val all = ref.select(v.as("v"), lit(1L).as("is_ref"))
      .unionByName(cur.select(v.as("v"), lit(0L).as("is_ref")))
      .filter(col("v").isNotNull)
    val bounds = all.agg(min("v").as("lo"), max("v").as("hi"))
    val bucketed = all.crossJoin(broadcast(bounds))
      .withColumn("bucket", when(col("hi") === col("lo"), lit(0))
        .otherwise(least(lit(nBuckets - 1),
          floor((col("v") - col("lo")) /
            ((col("hi") - col("lo")) / nBuckets)).cast("int"))))
      .groupBy("bucket")
      .agg(sum(col("is_ref")).as("n_ref"),
        sum(lit(1L) - col("is_ref")).as("n_cur"))
    val totals = bucketed.agg(sum("n_ref").as("t_ref"),
      sum("n_cur").as("t_cur"), count(lit(1)).as("nb"))
    val p = (col("n_ref") + 1).cast("double") / (col("t_ref") + col("nb"))
    val q = (col("n_cur") + 1).cast("double") / (col("t_cur") + col("nb"))
    val terms = bucketed.crossJoin(broadcast(totals))
      .withColumn("p", p).withColumn("q", q)
      .withColumn("psi_term",
        round((col("p") - col("q")) * log(col("p") / col("q")), 6))
    val total = terms
      .agg(round(sum(col("psi_term").cast("decimal(18,6)"))
        .cast("double"), 6).as("psi_total"))
    terms.crossJoin(broadcast(total))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        round(col("p"), 6).as("p"), round(col("q"), 6).as("q"),
        col("psi_term"), col("psi_total"))
  }

  /** Reliability diagram + expected calibration error for a
    * probabilistic score column against a boolean outcome — the
    * model-ops gate that tells you whether a 0.8 score MEANS 80%
    * (pairs with the quality-model scorer: a miscalibrated keep
    * threshold silently shifts corpus composition). Equal-width score
    * bins [0,1); per bin: n, mean score (confidence), observed
    * positive rate (accuracy), |gap|; ECE = Σ (n_b/N)·gap_b.
    *
    * Determinism: scores are summed as exact DECIMAL (they arrive
    * 6-dp-rounded from the scorer), conf/acc/gap round at 6 dp, and
    * the ECE folds per-bin terms under the round-then-decimal-sum
    * discipline. One groupBy + two broadcast attaches. */
  def calibration(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins > 0, s"need nBins > 0, got $nBins")
    val binned = df.select(col(scoreCol).cast("double").as("score"),
        col(labelCol).cast("long").as("y"))
      .withColumn("bin", least(lit(nBins - 1),
        floor(col("score") * nBins).cast("int")))
      .groupBy("bin").agg(count(lit(1)).as("n"),
        sum(col("score").cast("decimal(18,6)")).as("ssum"),
        sum("y").as("npos"))
    val tot = binned.agg(sum("n").as("n_total"))
    val terms = binned.crossJoin(broadcast(tot))
      .withColumn("conf", round(col("ssum").cast("double") / col("n"), 6))
      .withColumn("acc", round(col("npos").cast("double") / col("n"), 6))
      .withColumn("gap", round(abs(col("acc") - col("conf")), 6))
      .withColumn("ece_term",
        round(col("n").cast("double") / col("n_total") * col("gap"), 6)
          .cast("decimal(18,6)"))
    val ece = terms.agg(
      round(sum("ece_term").cast("double"), 6).as("ece_total"))
    terms.crossJoin(broadcast(ece))
      .select(col("bin"), col("n"), col("conf"), col("acc"), col("gap"),
        col("ece_total"))
  }

  /** Tie-aware ROC AUC (Mann-Whitney form) of a score column against a
    * boolean outcome, over per-DISTINCT-SCORE aggregates: each positive
    * credits the negatives strictly below its score plus HALF the
    * negatives sharing it — so a constant scorer lands exactly at 0.5
    * and a perfectly separating one at 1.0, with no rank window over
    * raw rows. Everything is integer arithmetic (the ties contribute
    * exact halves) until one final division, rounded at 6 dp.
    *
    * Scale shape: one (score) count agg — the distinct domain of a
    * 6-dp-rounded score is ≤ 10⁶ — then a bounded prefix window and a
    * single-row fold. */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val scored = df.select(col(scoreCol).cast("double").as("score"),
      col(labelCol).cast("long").as("y"))
    val byScore = scored.groupBy("score").agg(
      sum("y").as("pos"), sum(lit(1L) - col("y")).as("neg"))
    val tot = byScore.agg(sum("pos").as("p_tot"), sum("neg").as("n_tot"))
    val w = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore.limit(10000) // 6-dp scores: bounded distinct domain
      .withColumn("cum_neg", coalesce(sum("neg").over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .agg(max("p_tot").as("n_pos"), max("n_tot").as("n_neg"),
        round(sum(col("pos").cast("double") *
            (col("cum_neg") + lit(0.5) * col("neg"))) /
          (max("p_tot").cast("double") * max("n_tot")), 6).as("auc"))
  }

  /** Laplace-mechanism noisy group counts — the differential-privacy
    * release SHAPE (sensitivity-1 count + Laplace(1/ε) noise), with the
    * noise derived as b·(ln u₁ − ln u₂) (difference-of-exponentials
    * form — no inverse-CDF singularity at u = 1) from the repo-standard
    * replayable md5→60-bit uniforms over (seed, tag, group key).
    *
    * THE SEEDED HASH IS FOR THE CORRECTNESS GATE ONLY: deterministic
    * "noise" is replayable by construction and therefore provides no
    * privacy — a production release swaps the two u-draws for a CSPRNG
    * and keeps everything else (this is the mechanism/plumbing test
    * harness, like the multimodal codec stubs). Scale shape: one count
    * agg + row-local noise. */
  def dpNoisyCounts(df: DataFrame, groupCols: Seq[String],
      epsilon: Double, seed: Long = 42L): DataFrame = {
    require(epsilon > 0, s"need epsilon > 0, got $epsilon")
    require(groupCols.nonEmpty)
    val counts = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
    val keyStr = concat_ws("|", groupCols.map(col): _*)
    def u(tag: String) =
      (conv(substring(md5(concat_ws("|", lit(seed.toString), lit(tag),
        keyStr).cast("binary")), 1, 15), 16, 10).cast("long")
        .cast("double") + 1.0d) / lit(1.152921504606846976e18)
    counts.withColumn("noisy_n",
      round(col("n") + (log(u("1")) - log(u("2"))) / lit(epsilon), 4))
  }

  /** First-significant-digit profile vs Benford's law for a positive
    * value column (values ≥ 1): observed count and frequency per leading
    * digit next to the expected log10(1 + 1/d) mass and the deviation —
    * the classic fabricated-data / corruption screen. Digit extraction
    * goes through an exact DECIMAL(18,2) string render (both engines
    * print decimals in plain form), NOT floor(log10(x)) — transcendental
    * log on data stays out of the compare path; the nine expected
    * constants are fixed 6-dp literals. */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val expected = map(
      (1 to 9).flatMap { dd =>
        Seq(lit(dd.toString),
          lit(math.floor(math.log10(1.0 + 1.0 / dd) * 1e6 + 0.5) / 1e6))
      }: _*)
    val digits = df
      .select(substring(col(valueCol).cast("decimal(18,2)")
        .cast("string"), 1, 1).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = digits.agg(sum("n").as("n_total"))
    digits.crossJoin(broadcast(total))
      .withColumn("freq", round(col("n").cast("double") / col("n_total"), 6))
      .withColumn("expected", expected(col("digit")))
      .select(col("digit"), col("n"), col("freq"), col("expected"),
        round(col("freq") - col("expected"), 6).as("deviation"))
  }

  /** Poisson(1) CDF thresholds scaled to 2³² — `u < thresholds(k)` ⇔
    * "inverse-CDF of u/2³² is ≤ k", kept as integer literals so the
    * bootstrap weight is a pure integer decision replayable on any
    * engine (same contract as [[graft.ops.ScaleOps.knuthHash]]'s
    * threshold compares). Weights cap at 6 (P(X>6) ≈ 8e-5). */
  val poissonCdfThresholds: Seq[Long] = Seq(
    1580030168L, 3160060337L, 3950075421L, 4213413783L, 4279248373L, 4292415291L)

  /** Deterministic Poisson(1) draw from a uniform 32-bit hash value. */
  def poissonWeight(u: Column): Column =
    poissonCdfThresholds.zipWithIndex.foldRight(
      lit(poissonCdfThresholds.size): Column) {
      case ((t, k), rest) => when(u < t, k).otherwise(rest)
    }

  /** Poisson bootstrap confidence intervals for per-group means — THE
    * scale-correct bootstrap: classic resampling needs n draws per
    * replicate from a global index (impossible on a distributed corpus);
    * the Poisson bootstrap instead gives every row an independent
    * Poisson(1) weight per replicate, turning B resamples into ONE pass
    * of B weighted sums with map-side partial aggregation. Shuffle
    * volume is groups × B, never rows.
    *
    * Weights are a pure function of (id, replicate) via the replayable
    * [[graft.ops.ScaleOps.knuthHash]] + [[poissonCdfThresholds]], so the
    * whole procedure — weights, replicate means, interval endpoints — is
    * deterministic and oracle-checkable cross-engine. Replicate means
    * divide an exact decimal sum by an integer weight total (identical
    * IEEE operands on any engine), are rounded to 6 dp, and the interval
    * is exact order statistics over the B rounded means (index
    * `max(1,⌊lo·B⌋)` / `min(B,⌈hi·B⌉)`, 1-based).
    *
    * Output: group cols, n, observed_mean, boot_lo, boot_hi. */
  def poissonBootstrap(df: DataFrame, groupCols: Seq[String], idCol: String,
      valueCol: String, replicates: Int = 40, lo: Double = 0.05,
      hi: Double = 0.95): DataFrame = {
    require(replicates > 1, s"need at least 2 replicates, got $replicates")
    val gcols = groupCols.map(col)
    val vDec = col(valueCol).cast("decimal(20,4)")
    val withW = df
      .select(gcols :+ vDec.as("__v") :+ col(idCol).as("__id"): _*)
      .select(col("*"), explode(sequence(lit(0), lit(replicates - 1))).as("__rep"))
      .withColumn("__w", poissonWeight(graft.ops.ScaleOps.knuthHash(
        col("__id") * lit(replicates.toLong) + col("__rep"))))
    val repMeans = withW
      .groupBy(gcols :+ col("__rep"): _*)
      .agg(sum(col("__v") * col("__w")).as("__swx"), sum("__w").as("__sw"))
      .filter(col("__sw") > 0)
      .withColumn("__rm",
        round(col("__swx").cast("double") / col("__sw"), 6))
    val loIdx = math.max(1, (lo * replicates).toInt)
    val hiIdx = math.min(replicates, math.ceil(hi * replicates).toInt)
    val boot = repMeans.groupBy(gcols: _*)
      .agg(sort_array(collect_list(col("__rm"))).as("__rms"))
      .select(gcols :+ element_at(col("__rms"), loIdx).as("boot_lo") :+
        element_at(col("__rms"), hiIdx).as("boot_hi"): _*)
    val observed = df.groupBy(gcols: _*)
      .agg(count(lit(1)).as("n"),
        round(sum(vDec).cast("double") / count(lit(1)), 6).as("observed_mean"))
    val joined =
      if (groupCols.isEmpty) observed.crossJoin(boot) // 1×1: global CI
      else observed.join(boot, groupCols)
    joined.select(gcols ++ Seq(col("n"), col("observed_mean"),
      col("boot_lo"), col("boot_hi")): _*)
  }

  /** 2-D skyline (Pareto frontier, minimize both axes): the rows no
    * other row beats on BOTH `xCol` and `yCol` (≤ on both, < on at
    * least one — componentwise dominance; exact duplicates are mutually
    * non-dominating and all kept).
    *
    * Shape: reduce to the per-distinct-x minimum y (an ordinary
    * aggregate — the staircase depends only on that frame), prefix-min
    * over the distinct-x frame ordered by x, then one broadcast join
    * back: a row is on the skyline iff it achieves its x's minimum AND
    * strictly beats every smaller-x minimum. The only global window
    * rides on the aggregated frame, bounded by `maxDistinctX` (use on
    * bounded-cardinality dimensions — size, category, bucketed
    * measures; a continuous x should be quantized first, which is also
    * what makes the answer meaningful). */
  def skyline2d(df: DataFrame, xCol: String, yCol: String,
      maxDistinctX: Int = 10000): DataFrame = {
    val g0 = df.groupBy(xCol).agg(min(col(yCol)).as("__miny"))
    // fail LOUDLY past the bound — a silent limit-truncation would drop
    // staircase segments and return a wrong (too large) skyline; the
    // probe is one count over the already-aggregated frame
    val nx = g0.count()
    require(nx <= maxDistinctX,
      s"skyline2d: $nx distinct $xCol values exceed maxDistinctX=" +
        s"$maxDistinctX - quantize x first (the answer is only " +
        "meaningful on a bounded dimension) or raise the bound")
    val g = g0.limit(maxDistinctX) // proves the window input bounded (PlanLint)
    val w = Window.orderBy(col(xCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val st = g.withColumn("__strict", min("__miny").over(w))
    df.join(broadcast(st), Seq(xCol))
      .filter(col(yCol) === col("__miny") &&
        (col("__strict").isNull || col("__strict") > col(yCol)))
      .drop("__miny", "__strict")
  }

  /** Neyman-optimal stratified-sample allocation: given a total budget
    * `totalN`, allocate n_h ∝ N_h·σ_h (stratum size × population
    * std-dev) — the design that minimizes the variance of the stratified
    * mean estimator. The profiling step a sampling pipeline runs BEFORE
    * drawing (the draw itself is [[graft.ops.ScaleOps.hashStratifiedSample]]).
    *
    * One aggregate over the table: N_h and exact decimal Σx, Σx² per
    * stratum; σ_h = √(E[x²]−E[x]²) in double from those exact sums
    * (identical operands cross-engine), allocations floor(x+0.5)-rounded
    * so no engine's round-half mode matters. The per-stratum weight
    * N_h·σ_h is rounded to 10 dp and summed in exact DECIMAL (the same
    * round-then-decimal-sum discipline as [[logRank]]) so the total
    * weight — and therefore every allocation — is order-free: a plain
    * double sum's partition-dependent order could flip a floor(x+0.5)
    * that lands within an ulp of a .5 boundary across reruns/engines. */
  def neymanAllocation(df: DataFrame, strataCol: String, valueCol: String,
      totalN: Int): DataFrame = {
    val vDec = col(valueCol).cast("decimal(20,4)")
    val s = df.groupBy(strataCol).agg(
      count(lit(1)).as("n_pop"),
      sum(vDec).as("__s1"), sum(vDec * vDec).as("__s2"))
      .withColumn("__mean", col("__s1").cast("double") / col("n_pop"))
      .withColumn("sd", sqrt(greatest(lit(0.0),
        col("__s2").cast("double") / col("n_pop") - col("__mean") * col("__mean"))))
      .withColumn("__w",
        round(col("n_pop") * col("sd"), 10).cast("decimal(28,10)"))
    val tot = s.agg(sum("__w").as("__wtot"))
    s.crossJoin(broadcast(tot))
      .select(col(strataCol), col("n_pop"), round(col("sd"), 6).as("sd"),
        floor(lit(totalN).cast("double") * col("__w").cast("double") /
            col("__wtot").cast("double") + lit(0.5))
          .cast("long").as("n_alloc"))
  }

  /** Difference-in-differences estimator over an event stream: treated
    * vs control units, before vs after a cutover instant, outcome =
    * mean event value per cell. DiD = (T,post − T,pre) − (C,post −
    * C,pre) — the parallel-trends-adjusted treatment effect, the
    * standard readout for a staged rollout where randomization isn't
    * available (complements the randomized-experiment CUPED/abTest
    * operators).
    *
    * The cutover defaults to the integer midpoint of the observed
    * [min,max] event time (epoch-microsecond `div 2` — deterministic,
    * replayable); pass `cutoverUs` ≥ 0 to pin an explicit instant. One
    * aggregate computes all four cells (exact decimal sums); means and
    * the estimate are double arithmetic on those exact sums, rounded. */
  def diffInDiff(events: DataFrame, tsCol: String, valueCol: String,
      treated: Column, cutoverUs: Long = -1L): DataFrame = {
    val vDec = col(valueCol).cast("decimal(20,4)")
    val ts = unix_micros(col(tsCol))
    val base =
      if (cutoverUs >= 0) events.withColumn("__cut", lit(cutoverUs))
      else events.crossJoin(broadcast(
        events.agg(((min(ts) + max(ts)) / 2).cast("long").as("__cut"))))
    def cell(t: Boolean, p: Boolean): Column = {
      val m = (treated === t) && ((ts >= col("__cut")) === p)
      sum(when(m, vDec).otherwise(lit(null))).cast("double") /
        sum(when(m, 1L).otherwise(0L))
    }
    base.groupBy()
      .agg(round(cell(t = false, p = false), 6).as("mean_c_pre"),
        round(cell(t = false, p = true), 6).as("mean_c_post"),
        round(cell(t = true, p = false), 6).as("mean_t_pre"),
        round(cell(t = true, p = true), 6).as("mean_t_post"),
        round((cell(t = true, p = true) - cell(t = true, p = false)) -
          (cell(t = false, p = true) - cell(t = false, p = false)), 6).as("did"))
  }
}
