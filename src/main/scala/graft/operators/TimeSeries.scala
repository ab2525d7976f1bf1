package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Weekly time-series block (SURVEY.md C6–C8, A5–A7, A11, W3).
  *
  * The reference builds Sunday→Saturday week bins with pandas
  * (`/root/reference/Time_Series.py:677–715`) and then RE-FILTERS the whole
  * frame once per week × per continent (`Time_Series.py:744, 323`) —
  * O(weeks × regions × rows). Everything here is a single shuffle:
  * assign each row its week with date arithmetic, then one
  * `groupBy`/`rollup`, and normalize with a window — O(rows).
  */
object TimeSeries {

  /** C7 — previous-Sunday truncation ≡ pandas `W-SUN` bin assignment
    * (`Time_Series.py:691–714`). Spark `dayofweek` is 1=Sunday.
    */
  def weekStart(date: Column): Column = date_sub(date, dayofweek(date) - 1)

  /** F5 — ISO-date validity filter: the reference drops rows whose date has
    * no day-of-month (`Time_Series.py:625–639`).
    */
  def validIsoDate(s: Column): Column = s.rlike("\\d{4}-\\d{2}-\\d{2}")

  /** C8 — week label `Week<i> (mm/dd/yyyy-mm/dd/yyyy)`
    * (`Time_Series.py:772`). `idx` is 1-based week index.
    */
  def weekLabel(idx: Column, weekStartCol: Column): Column =
    format_string("Week%d (%s-%s)", idx,
      date_format(weekStartCol, "MM/dd/yyyy"),
      date_format(date_add(weekStartCol, 6), "MM/dd/yyyy"))

  /** A5 — weekly frequency in LONG form: one `(key, week_start, freq)` row
    * per present combination. Callers densify with [[denseWeekly]] and pivot
    * only at the sink (SURVEY.md §7.4 risk 5: never carry a wide matrix
    * through the plan).
    */
  def weeklyFrequency(df: DataFrame, dateCol: Column, keyCol: Column): DataFrame =
    df.groupBy(keyCol.as("key"), weekStart(dateCol).as("week_start"))
      .agg(count(lit(1)).as("freq"))

  /** Densify: every key × every week in [min, max] of the data, missing
    * combinations zero-filled (`Time_Series.py:731–788` emits every week
    * column for every code). The key×week frame is built with `sequence()`
    * — no driver loop — and the join is a broadcast of the tiny key set.
    */
  def denseWeekly(longFreq: DataFrame): DataFrame = {
    val weeks = longFreq
      .agg(min("week_start").as("lo"), max("week_start").as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 7 days)")).as("week_start"))
    val keys = longFreq.select("key").distinct()
    broadcast(keys).crossJoin(weeks)
      .join(longFreq, Seq("key", "week_start"), "left")
      .withColumn("freq", coalesce(col("freq"), lit(0L)))
  }

  /** Classical additive seasonal decomposition of a DENSE per-group
    * series: `value = trend + seasonal + remainder` — the moving-average
    * decomposition (the textbook pre-STL method), chosen over Loess
    * because every step is expressible as exact-integer arithmetic plus
    * a FIXED float tail, i.e. engine-portable and oracle-checkable (the
    * [[graft.operators.Stats]] philosophy; STL's iterated weighted
    * regressions are not):
    *
    *  - trend: centered moving average over `period` rows (odd period;
    *    the exact BIGINT window sum divides once). Edge rows without a
    *    full window get null trend — the classical convention.
    *  - seasonal: per season position (row index mod period), the mean
    *    of `period·v − Σwindow` (an EXACT BIGINT detrended numerator —
    *    deferring the division keeps the sum exact), divided once,
    *    then centered by the fixed-order mean of the ≤ period seasonal
    *    values (sorted-list fold, not a plan-ordered float SUM) so the
    *    seasonal component sums to ~0 over one cycle.
    *  - remainder: `v − trend − seasonal`, fixed operand order.
    *
    * Scale: the trend/position windows partition BY GROUP (no global
    * sort); the seasonal table is |groups| × period rows equi-joined
    * back. The series must be dense per group ([[denseWeekly]]) —
    * gaps would silently misalign season positions, so positions come
    * from the row number, not the date.
    *
    * `v` must be integer-valued (cast to BIGINT). Output: every input
    * column + (value, trend, seasonal, remainder). */
  def decompose(df: DataFrame, groupCols: Seq[String], tCol: Column,
      v: Column, period: Int): DataFrame = {
    require(period >= 3 && period % 2 == 1,
      s"decompose needs an odd period >= 3 (centered window), got $period")
    val h = period / 2
    val vb = v.cast("bigint")
    val wSeq = Window.partitionBy(groupCols.map(col): _*).orderBy(tCol)
    val w = wSeq.rowsBetween(-h, h)
    val base = df
      .withColumn("__value", vb)
      .withColumn("__season",
        pmod(row_number().over(wSeq) - 1, lit(period)))
      .withColumn("__cnt", count(col("__value")).over(w))
      .withColumn("__tsum", sum(col("__value")).over(w))
      .withColumn("trend", when(col("__cnt") === period,
        col("__tsum").cast("double") / lit(period.toDouble)))
      .withColumn("__det_num", when(col("__cnt") === period,
        col("__value") * period - col("__tsum"))) // p·v − Σ, exact BIGINT
    val gcols = groupCols.map(col)
    val sRaw = base.filter(col("__det_num").isNotNull)
      .groupBy(gcols :+ col("__season"): _*)
      .agg(sum(col("__det_num")).as("__s_num"),
        count(lit(1)).as("__s_cnt"))
      .withColumn("__s_raw", col("__s_num").cast("double") /
        (col("__s_cnt") * period).cast("double"))
    val centers = sRaw
      .groupBy(gcols: _*)
      .agg(sort_array(collect_list(struct(col("__season"), col("__s_raw"))))
        .as("__cs"), count(lit(1)).as("__ns"))
      .withColumn("__c",
        aggregate(col("__cs"), lit(0.0),
          (acc, s) => acc + s.getField("__s_raw")) /
          col("__ns").cast("double"))
      .select(gcols :+ col("__c"): _*)
    val seasonal = sRaw.join(centers, groupCols)
      .withColumn("seasonal", col("__s_raw") - col("__c"))
      .select(gcols ++ Seq(col("__season"), col("seasonal")): _*)
    base.join(seasonal, groupCols :+ "__season", "left")
      .withColumn("remainder",
        when(col("trend").isNotNull && col("seasonal").isNotNull,
          col("__value").cast("double") - col("trend") - col("seasonal")))
      .drop("__season", "__cnt", "__tsum", "__det_num")
      .withColumnRenamed("__value", "value")
  }

  /** Seasonal-aware anomaly flags over a dense per-group series —
    * [[decompose]]'s remainder tested against a per-group robust
    * threshold: a week is anomalous when its remainder deviates from
    * the group's MEDIAN remainder by more than `k` × MAD (the median
    * absolute deviation about that median — the textbook definition, so
    * a systematically-offset decomposition fit cannot inflate the
    * threshold the way a from-zero deviation would). MAD, not stddev,
    * so one gross outlier cannot mask itself either. Engine-portable
    * end to end: the decomposition is exact-arithmetic ([[decompose]])
    * and both medians use Spark `percentile` ≡ DuckDB `quantile_cont`
    * (the winsorize-proven pair). Edge rows (null remainder) get null
    * flags. Output: [[decompose]]'s columns + (med, mad, is_anomaly). */
  def anomalies(df: DataFrame, groupCols: Seq[String], tCol: Column,
      v: Column, period: Int, k: Double = 3.0): DataFrame = {
    require(k > 0, s"anomalies needs k > 0, got $k")
    // lazy localCheckpoint (r16): dec feeds the median branch, the MAD
    // branch, and the final readout — without the cut the whole
    // decomposition (and everything upstream of it, typically a
    // scan+aggregate) planned and executed three times. The
    // materialized frame is one row per (group, period slot) — tiny.
    val dec = decompose(df, groupCols, tCol, v, period)
      .localCheckpoint(eager = false)
    val meds = dec.filter(col("remainder").isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(percentile(col("remainder"), lit(0.5)).as("med"))
    val withMed = dec.join(meds, groupCols, "left")
    val mads = withMed.filter(col("remainder").isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(percentile(abs(col("remainder") - col("med")), lit(0.5))
        .as("mad"))
    withMed.join(mads, groupCols, "left")
      .withColumn("is_anomaly",
        when(col("remainder").isNotNull && col("mad").isNotNull,
          abs(col("remainder") - col("med")) > lit(k) * col("mad")))
  }

  /** Shared series prelude for the smoothing/correlation family: each
    * group's sorted (t, v) array in one row (`__s`, v cast to
    * `castTo`), length `n`, maxLen fail-fast — the [[ewma]] contract
    * every in-row-fold operator shares ([[segSeries]] is the
    * prefix-sum sibling for the segmentation family). */
  private def sortedSeries(df: DataFrame, groupCols: Seq[String],
      tCol: Column, v: Column, castTo: String, what: String,
      maxLen: Int): DataFrame =
    df.filter(v.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(struct(tCol.as("t"),
        v.cast(castTo).as("v")))).as("__s"))
      .filter(assert_true(size(col("__s")) <= maxLen,
        lit(s"$what: a group exceeds maxLen=$maxLen rows — a series " +
          "that long should be windowed or decimated first")).isNull)
      .withColumn("n", size(col("__s")).cast("bigint"))

  /** [[sortedSeries]] (long cast) plus the exact n²-scaled deviation
    * machinery [[acf]] and [[pacf]] share: `__d` = n·x − S per element
    * (exact BIGINTs — the float mean never materializes), `den` =
    * Σ __d², and the float-only overflow guard that raises before
    * n·(n·max|x − x̄|)² can wrap. */
  private def scaledDevSeries(df: DataFrame, groupCols: Seq[String],
      tCol: Column, v: Column, what: String, maxLen: Int): DataFrame =
    sortedSeries(df, groupCols, tCol, v, "long", what, maxLen)
      .withColumn("__sum", aggregate(col("__s"), lit(0L),
        (acc, s) => acc + s.getField("v")))
      .withColumn("__d", transform(col("__s"),
        s => col("n") * s.getField("v") - col("__sum")))
      .withColumn("__maxd", coalesce(array_max(transform(col("__d"),
        d => abs(d))), lit(0L)))
      .filter(assert_true(col("n").cast("double") *
          pow(col("__maxd").cast("double"), 2.0) < lit(8.5e18),
        lit(s"$what: n·(n·max|x − mean|)² approaches 2^63 — the exact " +
          "BIGINT moments would wrap; rescale or pre-aggregate the " +
          "series")).isNull)
      .withColumn("den", aggregate(transform(col("__d"), d => d * d),
        lit(0L), (acc, x) => acc + x))

  /** Autocorrelation function per group, lags 1..`maxLag` — the
    * periodicity detector of the time-series family ([[decompose]]
    * ASSUMES a known season length; ACF is how you find it, and how a
    * corpus-drift dashboard distinguishes weekly rhythm from genuine
    * momentum):
    *
    *   r_k = Σ_{t=1}^{n−k} (x_t−x̄)(x_{t+k}−x̄) / Σ_t (x_t−x̄)²
    *
    * Portability: the float mean never materializes — both sums scale
    * by n² (the exact-moments move), so with INTEGER series values
    * (counts — cast to long) every deviation `n·x_i − S`, every lag
    * numerator `num_k = Σ (n·x_i−S)(n·x_{i+k}−S)` and the shared
    * denominator are exact BIGINTs, and `r` is ONE division — every
    * column hashes bit-for-bit cross-engine. A double-based guard
    * raises (not wraps) when n·(n·max|x−x̄|)² approaches 2⁶³.
    *
    * Same contract as [[ewma]]: grouped SHORT series sorted in-row
    * (`maxLen` fail-fast), one groupBy over the data, then a lag
    * explode over the SMALL per-group rows — maxLag rows per group,
    * numerators via one zip_with each. Lags ≥ n are not emitted (no
    * overlapping pairs); constant series yield null r (zero variance).
    *
    * Output: groups... + (lag, n, num, den, r). */
  def acf(df: DataFrame, groupCols: Seq[String], tCol: Column, v: Column,
      maxLag: Int, maxLen: Int = 100000): DataFrame = {
    require(maxLag >= 1 && maxLag <= 10000,
      s"acf needs 1 <= maxLag <= 1e4, got $maxLag")
    scaledDevSeries(df, groupCols, tCol, v, "acf", maxLen)
      // n = 1 has no lag with overlap — and Spark's sequence(1, 0)
      // would DESCEND, emitting phantom lags, so the filter is load-
      // bearing, not cosmetic
      .filter(col("n") >= 2L)
      .select(groupCols.map(col) ++ Seq(col("n"), col("den"),
        explode(sequence(lit(1L),
          least(lit(maxLag.toLong), col("n") - 1L))).as("lag"),
        col("__d")): _*)
      .withColumn("num", aggregate(zip_with(
        slice(col("__d"), lit(1), (col("n") - col("lag")).cast("int")),
        slice(col("__d"), (col("lag") + 1L).cast("int"),
          (col("n") - col("lag")).cast("int")),
        (a, b) => a * b), lit(0L), (acc, x) => acc + x))
      .withColumn("r", when(col("den") > 0L,
        col("num").cast("double") / col("den").cast("double")))
      .select(groupCols.map(col) ++ Seq(col("lag"), col("n"), col("num"),
        col("den"), col("r")): _*)
  }

  /** Partial autocorrelation per group via Durbin–Levinson, lags
    * 1..`maxLag` — [[acf]]'s disambiguator: ACF at lag k mixes direct
    * dependence with everything propagated through shorter lags; PACF
    * is the correlation at lag k with lags 1..k−1 regressed out, the
    * standard AR-order diagnostic (an AR(p) series cuts off sharply
    * after lag p where its ACF only decays).
    *
    * Construction: the lag correlations r₁..r_L are [[acf]]'s exact
    * BIGINT-moment ratios (bit-identical to the acf face), then the
    * Levinson recursion runs as ONE in-row fold in FIXED k order, each
    * step two fixed-order inner products over ≤ L doubles — pure
    * +,·,/ IEEE arithmetic, so `pacf` hashes bit-for-bit when the
    * mirror replays the same op order (no rounding). A degenerate
    * step (reflection denominator exactly 0 — a perfectly predictable
    * series) yields null from that lag on rather than an
    * engine-dependent infinity; zero-variance groups emit nothing.
    *
    * Scale: the same one-groupBy data pass as [[acf]]; the recursion
    * touches only the L-element per-group arrays. Output: groups... +
    * (lag, n, pacf). */
  def pacf(df: DataFrame, groupCols: Seq[String], tCol: Column, v: Column,
      maxLag: Int, maxLen: Int = 100000): DataFrame = {
    require(maxLag >= 1 && maxLag <= 1000,
      s"pacf needs 1 <= maxLag <= 1000, got $maxLag")
    val grouped = scaledDevSeries(df, groupCols, tCol, v, "pacf", maxLen)
      .filter(col("n") >= 2L && col("den") > 0L)
      .withColumn("__L", least(lit(maxLag.toLong), col("n") - 1L))
      // r_k exactly as acf computes it: exact BIGINT num, one division
      // the den > 0 filter above already drops zero-variance groups,
      // but ANSI divide-by-zero still fires if the optimizer evaluates
      // this projection alongside the filter — the when() is required,
      // not belt-and-braces
      .withColumn("__rs", transform(sequence(lit(1L), col("__L")), k =>
        when(col("den") > 0L, aggregate(zip_with(
            slice(col("__d"), lit(1), (col("n") - k).cast("int")),
            slice(col("__d"), (k + 1L).cast("int"),
              (col("n") - k).cast("int")),
            (a, b) => a * b), lit(0L), (acc, x) => acc + x)
          .cast("double") / col("den").cast("double"))))
    val rs = col("__rs")
    val base = struct(
      array(element_at(rs, 1)).as("phi"),
      array(element_at(rs, 1)).as("pacf"))
    // fold k = 2..L (filter, not sequence(2, L): sequence DESCENDS
    // when L < 2, which would fabricate steps for 2-point series)
    val folded = aggregate(
      filter(sequence(lit(1L), col("__L")), k => k >= 2L), base,
      (acc, k) => {
        val prev = acc.getField("phi")
        val num = element_at(rs, k.cast("int")) -
          aggregate(sequence(lit(1L), k - 1L), lit(0.0), (s, j) =>
            s + element_at(prev, j.cast("int")) *
              element_at(rs, (k - j).cast("int")))
        val denk = lit(1.0) -
          aggregate(sequence(lit(1L), k - 1L), lit(0.0), (s, j) =>
            s + element_at(prev, j.cast("int")) *
              element_at(rs, j.cast("int")))
        val pk = when(denk =!= 0.0, num / denk)
        struct(
          concat(transform(prev, (p, j0) =>
            p - pk * element_at(prev, (k - 1L - j0).cast("int"))),
            array(pk)).as("phi"),
          concat(acc.getField("pacf"), array(pk)).as("pacf"))
      })
    grouped
      .withColumn("__pacf", folded.getField("pacf"))
      .select(groupCols.map(col) ++ Seq(col("n"),
        posexplode(col("__pacf")).as(Seq("__pos", "pacf"))): _*)
      .withColumn("lag", (col("__pos") + 1).cast("bigint"))
      .select(groupCols.map(col) ++
        Seq(col("lag"), col("n"), col("pacf")): _*)
  }

  /** Exponentially-weighted moving average level per group —
    * `l_t = α·v_t + (1−α)·l_{t−1}`, seeded `l_0 = v_0`: the classic
    * smoothing/short-horizon-forecast recurrence. A linear recurrence
    * cannot run as a distributed aggregate (it is order-dependent by
    * definition), so the contract is the practical one for grouped
    * series: each group's series is SHORT (weeks/months — [[decompose]]'s
    * regime) while groups are many, and the fold runs inside the row
    * over the group's sorted (t, v) array — one groupBy, deterministic
    * left-to-right order, so the result is layout-exact AND
    * engine-portable (DuckDB's `list_reduce` seeds from the first
    * element, exactly this recurrence). `maxLen` fail-fasts a group too
    * long to collect into one row. Prefer a DYADIC α (0.25, 0.5…): then
    * 1−α is exact and cross-engine results match bitwise even though α
    * enters every term. Output: groups... + (n, level) — the final
    * smoothed level, which is also the one-step-ahead forecast. */
  def ewma(df: DataFrame, groupCols: Seq[String], tCol: Column, v: Column,
      alpha: Double, maxLen: Int = 100000): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"ewma needs 0 < alpha <= 1, got $alpha")
    val beta = 1.0 - alpha
    sortedSeries(df, groupCols, tCol, v, "double", "ewma", maxLen)
      .withColumn("level", aggregate(
        slice(col("__s"), lit(2), greatest(size(col("__s")) - 1, lit(0))),
        element_at(col("__s"), 1).getField("v"),
        (acc, s) => lit(alpha) * s.getField("v") + lit(beta) * acc))
      .drop("__s")
  }

  /** Holt's linear-trend exponential smoothing per group — [[ewma]]'s
    * two-state sibling (Holt 1957): a LEVEL and a TREND evolve together,
    *
    *   l_t = α·v_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = γ·(l_t − l_{t−1}) + (1−γ)·b_{t−1}
    *
    * initialized l₁ = v₁, b₁ = v₂ − v₁ (b₁ = 0 for a 1-row series), and
    * the h-step forecast is l_n + h·b_n — the level-plus-slope forecast
    * EWMA structurally cannot make (it lags any trending series by
    * design; this is the standard next rung before full Holt–Winters).
    *
    * Portability contract ([[ewma]]'s): ONE in-row fold over the sorted
    * (t, v) structs in exactly the operation order written above, each
    * step two FMA-free double expressions, so the result is
    * bit-reproducible across engines/layouts — the DuckDB mirror replays
    * the same recursion as a recursive CTE. Callers should pick α and γ
    * with exactly-representable complements (0.25, 0.125, …) so the
    * (1−α) literals are engine-identical. The fold's b-step reuses the
    * l-step's expression tree textually; both evaluations are the same
    * deterministic double, so the mirror may compute l_t once and reuse
    * it.
    *
    * Same scale shape as [[ewma]]: one shuffle to group, O(n) per group,
    * `maxLen` fail-fast names the limit instead of degrading. */
  def holt(df: DataFrame, groupCols: Seq[String], tCol: Column, v: Column,
      alpha: Double, gamma: Double, horizon: Int = 1,
      maxLen: Int = 100000): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"holt needs 0 < alpha <= 1, got $alpha")
    require(gamma > 0 && gamma <= 1, s"holt needs 0 < gamma <= 1, got $gamma")
    require(horizon >= 1, s"holt needs horizon >= 1, got $horizon")
    val beta = 1.0 - alpha
    val delta = 1.0 - gamma
    def lStep(acc: Column, x: Column): Column =
      lit(alpha) * x.getField("v") +
        lit(beta) * (acc.getField("l") + acc.getField("b"))
    sortedSeries(df, groupCols, tCol, v, "double", "holt", maxLen)
      .withColumn("__f", aggregate(
        slice(col("__s"), lit(2), greatest(size(col("__s")) - 1, lit(0))),
        struct(
          element_at(col("__s"), 1).getField("v").as("l"),
          // get() is 0-based and null-safe: a 1-row series has no second
          // element (ANSI element_at would raise), so b1 falls back to 0
          coalesce(get(col("__s"), lit(1)).getField("v") -
            element_at(col("__s"), 1).getField("v"), lit(0.0)).as("b")),
        (acc, x) => struct(
          lStep(acc, x).as("l"),
          (lit(gamma) * (lStep(acc, x) - acc.getField("l")) +
            lit(delta) * acc.getField("b")).as("b"))))
      .withColumn("level", col("__f").getField("l"))
      .withColumn("trend", col("__f").getField("b"))
      .withColumn("forecast",
        col("level") + lit(horizon.toDouble) * col("trend"))
      .drop("__s", "__f")
  }

  /** Seasonal and trend STRENGTH per group (Wang–Smyth–Hyndman; the
    * feasts/tsfeatures convention) — the one-number answers to "is
    * this series seasonal at all / trending at all" that [[decompose]]
    * leaves implicit in its columns:
    *
    *   F_T = max(0, 1 − Var(R) / Var(T+R))
    *   F_S = max(0, 1 − Var(R) / Var(S+R))
    *
    * computed over the rows where the decomposition is complete
    * (full centered trend window). Near 1 = the component explains
    * the series; near 0 = it doesn't.
    *
    * Portability: the decomposition columns are [[decompose]]'s
    * exact-arithmetic floats; each variance is TWO fixed-order in-row
    * folds (Σx, Σx²) over the group's time-sorted complete rows and a
    * fixed three-op tail (m = Σx/n; var = Σx²/n − m·m) — so f_trend /
    * f_seasonal hash bit-for-bit when the mirror replays the same
    * folds. Groups with zero detrended/deseasonalized variance yield
    * null on that side. `maxLen` fail-fasts (the [[ewma]] contract).
    *
    * Output: groups... + (n_complete, f_trend, f_seasonal). */
  def strength(df: DataFrame, groupCols: Seq[String], tCol: Column,
      v: Column, period: Int, maxLen: Int = 100000): DataFrame = {
    val dec = decompose(df, groupCols, tCol, v, period)
    val rows = dec.filter(col("remainder").isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(struct(tCol.as("t"),
        col("remainder").as("r"),
        (col("value").cast("double") - col("trend")).as("sr"),
        (col("value").cast("double") - col("seasonal")).as("tr"))))
        .as("__s"))
      .filter(assert_true(size(col("__s")) <= maxLen,
        lit(s"strength: a group exceeds maxLen=$maxLen rows — a series " +
          "that long should be windowed or decimated first")).isNull)
      .withColumn("n_complete", size(col("__s")).cast("bigint"))
    val nD = col("n_complete").cast("double")
    def sumOf(field: String) = aggregate(col("__s"), lit(0.0),
      (a, s) => a + s.getField(field))
    def sumSq(field: String) = aggregate(col("__s"), lit(0.0),
      (a, s) => a + s.getField(field) * s.getField(field))
    def variance(field: String) = {
      val m = sumOf(field) / nD
      sumSq(field) / nD - m * m
    }
    rows
      .withColumn("f_trend", when(variance("tr") > 0.0,
        greatest(lit(0.0), lit(1.0) - variance("r") / variance("tr"))))
      .withColumn("f_seasonal", when(variance("sr") > 0.0,
        greatest(lit(0.0), lit(1.0) - variance("r") / variance("sr"))))
      .select(groupCols.map(col) ++ Seq(col("n_complete"),
        col("f_trend"), col("f_seasonal")): _*)
  }

  /** Holt–Winters ADDITIVE seasonal smoothing per group — the member of
    * the forecasting pair that [[holt]] structurally cannot be: level +
    * trend + a rolling seasonal profile, so the h-step forecast carries
    * the seasonal shape instead of a straight line ([[decompose]] reads
    * the season retrospectively; this tracks it forward):
    *
    *   l_t = α(v_t − s_{t−p}) + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = γ(l_t − l_{t−1}) + (1−γ)b_{t−1}
    *   s_t = δ(v_t − l_t) + (1−δ)s_{t−p}
    *
    * Seeding (documented, mirrored literally): l_p = mean of the first
    * period, b_p = 0, s_i = v_i − l_p for the first period; the
    * recursion starts at t = p+1. Groups shorter than one period emit
    * nothing.
    *
    * Portability: the [[ewma]]/[[holt]] contract — grouped SHORT
    * series folded IN-ROW over the sorted (t, v) array (struct
    * accumulator carrying (l, b, seasonal array, t), `maxLen`
    * fail-fast); fixed op order, and with DYADIC α/γ/δ every (1−·)
    * literal is engine-exact, so level/trend/forecast hash bit-for-bit
    * against a recursive-CTE replay. Forecast = l + h·b + the
    * (n+h)'th seasonal slot of the final profile.
    *
    * Output: groups... + (n, level, trend, forecast). */
  def holtWinters(df: DataFrame, groupCols: Seq[String], tCol: Column,
      v: Column, period: Int, alpha: Double = 0.25, gamma: Double = 0.125,
      delta: Double = 0.25, horizon: Int = 1, maxLen: Int = 100000)
      : DataFrame = {
    require(period >= 2 && period <= 1000,
      s"holtWinters needs 2 <= period <= 1000, got $period")
    require(alpha > 0 && alpha <= 1, s"bad alpha $alpha")
    require(gamma > 0 && gamma <= 1, s"bad gamma $gamma")
    require(delta > 0 && delta <= 1, s"bad delta $delta")
    require(horizon >= 1, s"holtWinters needs horizon >= 1, got $horizon")
    val p = period
    val grouped =
      sortedSeries(df, groupCols, tCol, v, "double", "holtWinters", maxLen)
        .filter(col("n") >= p.toLong)
    val head = slice(col("__s"), 1, p)
    val lInit = aggregate(head, lit(0.0),
      (acc, x) => acc + x.getField("v")) / lit(p.toDouble)
    val sInit = transform(head, x => x.getField("v") - lInit)
    val base = struct(lInit.as("l"), lit(0.0).as("b"), sInit.as("s"),
      lit(p.toLong).as("t"))
    val folded = aggregate(
      slice(col("__s"), lit(p + 1), greatest(size(col("__s")) - p, lit(0))),
      base,
      (acc, x) => {
        val vt = x.getField("v")
        val l = acc.getField("l"); val b = acc.getField("b")
        val s = acc.getField("s")
        val pos = (pmod(acc.getField("t"), lit(p.toLong)) + 1L).cast("int")
        val lNew = lit(alpha) * (vt - element_at(s, pos)) +
          lit(1.0 - alpha) * (l + b)
        val bNew = lit(gamma) * (lNew - l) + lit(1.0 - gamma) * b
        struct(
          lNew.as("l"), bNew.as("b"),
          transform(s, (sv, j0) => when(j0 + 1 === pos,
            lit(delta) * (vt - lNew) + lit(1.0 - delta) * sv)
            .otherwise(sv)).as("s"),
          (acc.getField("t") + 1L).as("t"))
      })
    grouped
      .withColumn("__f", folded)
      .withColumn("level", col("__f").getField("l"))
      .withColumn("trend", col("__f").getField("b"))
      .withColumn("forecast", col("level") +
        lit(horizon.toDouble) * col("trend") +
        element_at(col("__f").getField("s"),
          (pmod(col("n") + horizon.toLong - 1L, lit(p.toLong)) + 1L)
            .cast("int")))
      .drop("__s", "__f")
  }

  /** Fixed-holdout forecast backtest per group — the EVALUATION face of
    * the forecasting ladder: which of naive / seasonal-naive / [[ewma]]
    * / [[holt]] / [[holtWinters]] to trust is an empirical question,
    * answered by holding out the last `horizon` points, fitting each
    * method on the prefix (each method's OWN seeding/recursion,
    * replicated exactly), and scoring symmetric MAPE
    * (2·|f−a|/(|f|+|a|), 0 when both are 0) over the holdout.
    *
    * Portability: all five forecasts and the sMAPE folds are fixed-
    * order float expressions over the in-row sorted series ([[ewma]]'s
    * contract, `maxLen` fail-fast) — pure +,·,/,abs, dyadic smoothing
    * constants — so every smape hashes bit-for-bit against a mirror
    * replaying the same op order. Groups whose training prefix is
    * shorter than max(period, 2) emit nothing.
    *
    * One groupBy over the data; everything else is in-row. Output:
    * groups... + (method, n, smape), five rows per group. */
  def backtest(df: DataFrame, groupCols: Seq[String], tCol: Column,
      v: Column, period: Int, horizon: Int, alpha: Double = 0.25,
      gamma: Double = 0.125, delta: Double = 0.25,
      maxLen: Int = 100000): DataFrame = {
    require(period >= 2 && period <= 1000, s"bad period $period")
    require(horizon >= 1 && horizon <= 1000, s"bad horizon $horizon")
    val p = period
    val h = horizon
    val grouped =
      sortedSeries(df, groupCols, tCol, v, "double", "backtest", maxLen)
        .withColumn("__m", (col("n") - h.toLong).cast("int"))
      .filter(col("__m") >= math.max(p, 2))
      .withColumn("__tr", slice(col("__s"), lit(1), col("__m")))
    grouped
      .withColumn("__e",
        explode(methodSmapes(col("__s"), col("__tr"), col("__m"), p, h,
          alpha, gamma, delta)))
      .select(groupCols.map(col) ++ Seq(
        col("__e").getField("method").as("method"), col("n"),
        col("__e").getField("smape").as("smape")): _*)
  }

  /** The five method names [[backtest]]/[[backtestRolling]] score, in
    * their fixed output order. */
  val BacktestMethods: Seq[String] =
    Seq("naive", "snaive", "ewma", "holt", "holt_winters")

  /** The per-origin scorer behind [[backtest]] and [[backtestRolling]]:
    * given the full sorted series `s` and a training length `m`, fit
    * all five methods on `s[1..m]` (each method's own seeding/recursion
    * replicated exactly) and score sMAPE over the next `h` points —
    * one array<struct<method, smape>> in [[BacktestMethods]] order, all
    * folds fixed-order float expressions (the ewma contract). */
  private def methodSmapes(s: Column, tr: Column, m: Column, p: Int,
      h: Int, alpha: Double, gamma: Double, delta: Double): Column = {
    def vAt(i: Column) = element_at(tr, i.cast("int")).getField("v")
    val actuals = transform(sequence(lit(1), lit(h)),
      i => element_at(s, (m + i).cast("int")).getField("v"))
    // naive: last training value, flat
    val fNaive = transform(sequence(lit(1), lit(h)), _ => vAt(m))
    // seasonal naive: the value one period back in the same slot
    val fSnaive = transform(sequence(lit(1), lit(h)), i =>
      vAt(m - p + pmod(i - 1, lit(p)) + 1))
    // ewma: the [[ewma]] fold on the prefix, flat forecast
    val ewmaLevel = aggregate(
      slice(tr, lit(2), greatest(size(tr) - 1, lit(0))),
      element_at(tr, 1).getField("v"),
      (acc, s) => lit(alpha) * s.getField("v") + lit(1.0 - alpha) * acc)
    val fEwma = transform(sequence(lit(1), lit(h)), _ => ewmaLevel)
    // holt: the [[holt]] seed + fold on the prefix, l + i·b
    val lStep = (acc: Column, x: Column) =>
      lit(alpha) * x.getField("v") +
        lit(1.0 - alpha) * (acc.getField("l") + acc.getField("b"))
    val holtF = aggregate(
      slice(tr, lit(2), greatest(size(tr) - 1, lit(0))),
      struct(
        element_at(tr, 1).getField("v").as("l"),
        coalesce(get(tr, lit(1)).getField("v") -
          element_at(tr, 1).getField("v"), lit(0.0)).as("b")),
      (acc, x) => struct(
        lStep(acc, x).as("l"),
        (lit(gamma) * (lStep(acc, x) - acc.getField("l")) +
          lit(1.0 - gamma) * acc.getField("b")).as("b")))
    val fHolt = transform(sequence(lit(1), lit(h)), i =>
      holtF.getField("l") + i.cast("double") * holtF.getField("b"))
    // holt-winters: the [[holtWinters]] seed + fold on the prefix
    val head = slice(tr, 1, p)
    val lInit = aggregate(head, lit(0.0),
      (acc, x) => acc + x.getField("v")) / lit(p.toDouble)
    val hwF = aggregate(
      slice(tr, lit(p + 1), greatest(size(tr) - p, lit(0))),
      struct(lInit.as("l"), lit(0.0).as("b"),
        transform(head, x => x.getField("v") - lInit).as("s"),
        lit(p.toLong).as("t")),
      (acc, x) => {
        val vt = x.getField("v")
        val l = acc.getField("l"); val b = acc.getField("b")
        val s = acc.getField("s")
        val pos = (pmod(acc.getField("t"), lit(p.toLong)) + 1L).cast("int")
        val lNew = lit(alpha) * (vt - element_at(s, pos)) +
          lit(1.0 - alpha) * (l + b)
        struct(
          lNew.as("l"),
          (lit(gamma) * (lNew - l) + lit(1.0 - gamma) * b).as("b"),
          transform(s, (sv, j0) => when(j0 + 1 === pos,
            lit(delta) * (vt - lNew) + lit(1.0 - delta) * sv)
            .otherwise(sv)).as("s"),
          (acc.getField("t") + 1L).as("t"))
      })
    val fHw = transform(sequence(lit(1), lit(h)), i =>
      hwF.getField("l") + i.cast("double") * hwF.getField("b") +
        element_at(hwF.getField("s"),
          (pmod(m.cast("bigint") + i.cast("bigint") - 1L,
            lit(p.toLong)) + 1L).cast("int")))
    def smape(f: Column) = aggregate(zip_with(f, actuals,
      (fc, a) => when(abs(fc) + abs(a) === 0.0, lit(0.0))
        .otherwise(lit(2.0) * abs(fc - a) / (abs(fc) + abs(a)))),
      lit(0.0), (acc, x) => acc + x) / lit(h.toDouble)
    array(
      struct(lit("naive").as("method"), smape(fNaive).as("smape")),
      struct(lit("snaive").as("method"), smape(fSnaive).as("smape")),
      struct(lit("ewma").as("method"), smape(fEwma).as("smape")),
      struct(lit("holt").as("method"), smape(fHolt).as("smape")),
      struct(lit("holt_winters").as("method"), smape(fHw).as("smape")))
  }

  /** ROLLING-ORIGIN forecast backtest per group — [[backtest]] scores
    * one prefix/holdout split, which overfits the evaluation to one
    * window; the standard remedy (Tashman 2000's rolling-origin
    * evaluation) scores `origins` consecutive cutoffs and averages.
    * Origin j ∈ [0, origins) trains on `s[1 .. n−h−j]` and scores
    * sMAPE on the h points after its cutoff; a group enters only when
    * its OLDEST origin still has max(period, 2) training rows, so
    * every emitted group averages exactly `origins` windows.
    *
    * All origins are scored INSIDE the same row — each training set is
    * a prefix slice of the already-sorted in-row series, so rolling
    * costs zero additional exchanges over [[backtest]]; the cross-
    * origin mean folds in ascending-j order (fixed, mirror-replayable)
    * and divides by the origin count.
    *
    * Output: groups... + (method, n, n_origins, smape), five rows per
    * group; `smape` is the mean across origins. */
  def backtestRolling(df: DataFrame, groupCols: Seq[String], tCol: Column,
      v: Column, period: Int, horizon: Int, origins: Int,
      alpha: Double = 0.25, gamma: Double = 0.125, delta: Double = 0.25,
      maxLen: Int = 100000): DataFrame = {
    require(period >= 2 && period <= 1000, s"bad period $period")
    require(horizon >= 1 && horizon <= 1000, s"bad horizon $horizon")
    require(origins >= 1 && origins <= 1000, s"bad origins $origins")
    val p = period
    val h = horizon
    val grouped =
      sortedSeries(df, groupCols, tCol, v, "double", "backtestRolling",
        maxLen)
      .filter(col("n") - h.toLong - (origins - 1).toLong >=
        math.max(p, 2).toLong)
    // array[origins] of array[5] of (method, smape): origin j's cutoff
    // is m = n − h − j (j = 0 is the newest origin)
    val perOrigin = transform(sequence(lit(0), lit(origins - 1)), j => {
      val m = (col("n") - h.toLong).cast("int") - j.cast("int")
      methodSmapes(col("__s"), slice(col("__s"), lit(1), m), m, p, h,
        alpha, gamma, delta)
    })
    val out = array(BacktestMethods.zipWithIndex.map { case (name, i) =>
      struct(lit(name).as("method"),
        (aggregate(perOrigin, lit(0.0), (acc, arr) =>
          acc + element_at(arr, i + 1).getField("smape")) /
          lit(origins.toDouble)).as("smape"))
    }: _*)
    grouped
      .withColumn("__e", explode(out))
      .select(groupCols.map(col) ++ Seq(
        col("__e").getField("method").as("method"), col("n"),
        lit(origins.toLong).as("n_origins"),
        col("__e").getField("smape").as("smape")): _*)
  }

  /** Level-shift changepoint detection per group — BINARY SEGMENTATION
    * over the group's sorted series: repeatedly split the segment whose
    * best split most reduces the total within-segment sum of squared
    * errors, up to `maxChanges` splits. [[decompose]]/[[anomalies]] find
    * SEASONAL deviations; this finds the week the LEVEL moved — the
    * question GISAID-shaped variant data and corpus-drift monitoring
    * actually ask.
    *
    * Portability contract (the [[ewma]]/[[graft.operators.Stats.theilSen]]
    * one): prefix sums P = Σv and Q = Σv² are EXACT BIGINTs computed by
    * one per-group window (no float accumulation anywhere), and the SSE
    * of a segment (a, b] is the fixed float expression
    *
    *   cost(a,b) = (Q_b − Q_a) − (P_b − P_a)²/(b − a)
    *
    * so split scores are bit-identical across engines/layouts. The
    * candidate scan picks argmin of cost(a,k) + cost(k,b) (strict `<`,
    * first minimum wins — equivalent to max gain, evaluated in this
    * exact association), the gain cost(a,b) − minSum is computed once
    * per segment, segments scan in ascending order with strict `>`, and
    * a split is accepted only when its gain exceeds `minGain` — all
    * decisions replayable by the DuckDB mirror's identical fixed-order
    * folds. Each side of a split must keep ≥ `minSegment` rows.
    *
    * Scale: one window + one groupBy; the segmentation itself is
    * O(maxChanges · n) of codegen'd array expressions per group row —
    * the grouped short-series regime ([[ewma]]'s), `maxLen` fail-fasted.
    * `t` must be unique within a group (dense weekly series): duplicate
    * timestamps would make the window's running sums order-ambiguous.
    * BIGINT bound: n·max(v²) < 2⁶³ (v is count data; guard-raised like
    * [[graft.operators.Pca.exactCovarianceLongForm]]).
    *
    * Output: one row per FINAL segment — groups... + (seg, start_t,
    * end_t, n_rows, mean, sse); `start_t` of seg ≥ 1 is a detected
    * changepoint. */
  def changepoints(df: DataFrame, groupCols: Seq[String], tCol: Column,
      v: Column, maxChanges: Int, minSegment: Int = 2,
      minGain: Double = 0.0, maxLen: Int = 10000): DataFrame = {
    require(maxChanges >= 1 && maxChanges <= 16,
      s"changepoints needs 1 <= maxChanges <= 16, got $maxChanges")
    require(minSegment >= 1, s"minSegment must be >= 1, got $minSegment")
    // gains are mathematically >= 0, and the kernel's no-candidate
    // sentinel lives at -1.0 — a negative minGain could only ever admit
    // the sentinel, so reject it here (belt to the kernel's braces)
    require(minGain >= 0.0, s"minGain must be >= 0, got $minGain")
    // the segmentation loop runs in the NATIVE graft_binseg kernel
    // ([[graft.plans.BinSeg]]): Catalyst HOF formulations of the same
    // loop are interpreted — per-candidate lambda dispatch plus a struct
    // allocation per score — and measured 72 s (naive element_at form) /
    // 44.6 s (hot-loop-tuned form) on the 200k-group × 52-week probe
    // where the kernel runs the identical arithmetic in ~3 s (SCALE.md).
    // Same candidate argmin / gain association / tie-breaks as the
    // DuckDB oracle replays.
    segmentsFromBounds(
      segSeries(df, groupCols, tCol, v, maxLen, "changepoints")
        .withColumn("__b", call_function("graft_binseg",
          transform(col("__s"), x => x.getField("ps")),
          transform(col("__s"), x => x.getField("qs")),
          lit(maxChanges), lit(minSegment), lit(minGain))),
      groupCols)
  }

  /** OPTIMAL penalized segmentation per group — [[changepoints]]' exact
    * sibling: minimize Σ segment-SSE + `penalty` · #segments by dynamic
    * programming (the native `graft_segdp` kernel,
    * [[graft.plans.SegDp]]) instead of greedy binary splitting, so the
    * number of segments is DATA-DRIVEN by the penalty (the classic
    * BIC-style objective) and the partition is provably optimal, not
    * just greedy. Same portability contract, series pipeline, guards
    * and output schema as [[changepoints]]; the DP scans predecessors
    * ascending with strict `<` in the exact association the oracle
    * replays. O(n²) per group — the grouped short-series regime (the
    * deliberate no-pruning note is at the kernel). */
  def optimalChangepoints(df: DataFrame, groupCols: Seq[String],
      tCol: Column, v: Column, penalty: Double, minSegment: Int = 2,
      maxLen: Int = 10000): DataFrame = {
    require(penalty >= 0, s"penalty must be >= 0, got $penalty")
    require(minSegment >= 1, s"minSegment must be >= 1, got $minSegment")
    segmentsFromBounds(
      segSeries(df, groupCols, tCol, v, maxLen, "optimalChangepoints")
        .withColumn("__b", call_function("graft_segdp",
          transform(col("__s"), x => x.getField("ps")),
          transform(col("__s"), x => x.getField("qs")),
          lit(penalty), lit(minSegment))),
      groupCols)
  }

  /** Shared series prelude for the segmentation family: per-group sorted
    * (t, v, ps, qs) arrays with exact BIGINT prefix sums from one
    * window, maxLen + overflow guards. */
  private def segSeries(df: DataFrame, groupCols: Seq[String], tCol: Column,
      v: Column, maxLen: Int, what: String): DataFrame = {
    val vb = v.cast("bigint")
    val gcols = groupCols.map(col)
    // the window orders by the RENAMED __t so the running sums and the
    // sort_array below provably use the same ordering
    val w = Window.partitionBy(gcols: _*).orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(v.isNotNull)
      .select(gcols ++ Seq(tCol.as("__t"), vb.as("__v")): _*)
      .withColumn("__ps", sum(col("__v")).over(w))
      .withColumn("__qs", sum(col("__v") * col("__v")).over(w))
      .groupBy(gcols: _*)
      .agg(sort_array(collect_list(struct(col("__t").as("t"),
          col("__v").as("v"), col("__ps").as("ps"), col("__qs").as("qs"))))
          .as("__s"),
        max(abs(col("__v"))).as("__maxv"), count(lit(1)).as("__n"))
      .filter(assert_true(size(col("__s")) <= maxLen,
        lit(s"$what: a group exceeds maxLen=$maxLen rows — window " +
          "or decimate the series first")).isNull)
      .filter(assert_true(col("__n").cast("double") *
          col("__maxv").cast("double") * col("__maxv").cast("double") <
          lit(math.pow(2, 63)),
        lit(s"$what: n*max(v^2) >= 2^63 — BIGINT prefix sums may " +
          "wrap; rescale v")).isNull)
  }

  /** Shared segmentation postlude: explode a boundary array against the
    * series into the long (seg, start_t, end_t, n_rows, mean, sse) form. */
  private def segmentsFromBounds(segmented: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val gcols = groupCols.map(col)
    // exact prefix lookups with the P_0 = Q_0 = 0 convention
    def pAt(i: Column) =
      when(i === 0, lit(0L)).otherwise(element_at(col("__s"), i).getField("ps"))
    def qAt(i: Column) =
      when(i === 0, lit(0L)).otherwise(element_at(col("__s"), i).getField("qs"))
    def cost(a: Column, b: Column): Column = {
      val s = (pAt(b) - pAt(a)).cast("double")
      (qAt(b) - qAt(a)).cast("double") - s * s / (b - a).cast("double")
    }
    segmented
      .select(gcols ++ Seq(col("__s"),
        posexplode(transform(sequence(lit(1), size(col("__b")) - 1),
          i => struct(element_at(col("__b"), i).as("a"),
            element_at(col("__b"), i + 1).as("b"))))): _*)
      .withColumnRenamed("pos", "seg")
      .withColumn("__a", col("col").getField("a"))
      .withColumn("__z", col("col").getField("b"))
      .select(gcols ++ Seq(
        col("seg"),
        element_at(col("__s"), col("__a") + 1).getField("t").as("start_t"),
        element_at(col("__s"), col("__z")).getField("t").as("end_t"),
        (col("__z") - col("__a")).cast("bigint").as("n_rows"),
        ((pAt(col("__z")) - pAt(col("__a"))).cast("double") /
          (col("__z") - col("__a")).cast("double")).as("mean"),
        cost(col("__a"), col("__z")).as("sse")): _*)
  }

  /** One-sided upper CUSUM drift detector per group — the SEQUENTIAL
    * complement to [[changepoints]] (binary segmentation looks back over
    * a closed series; CUSUM is the classic control-chart scheme that
    * raises the alarm AS the level drifts): with reference
    * K = floor(median(v)) + slack,
    *
    *   s₀ = 0;  s_t = max(0, s_{t−1} + (v_t − K));  alarm when s_t > h
    *
    * Portability: ENTIRELY exact integer arithmetic — v is BIGINT, the
    * reference is a floored percentile (the winsorize-proven
    * `percentile` ≡ `quantile_cont` pair, floor over doubles is
    * IEEE-exact), and the recurrence folds IN-ROW over the group's
    * sorted series ([[ewma]]'s contract), so there is no float anywhere
    * and every column hashes bit-for-bit. No reset after an alarm (the
    * cumulative-evidence form); `slack` is the classic k allowance, `h`
    * the decision interval, both integer by construction.
    *
    * Scale: one groupBy + an O(n) in-row fold; `maxLen` fail-fasted.
    * Output: groups... + (n, ref, s_final, n_alarms, first_alarm_t). */
  def cusum(df: DataFrame, groupCols: Seq[String], tCol: Column, v: Column,
      slack: Long, threshold: Long, maxLen: Int = 100000): DataFrame = {
    require(threshold > 0, s"cusum needs threshold > 0, got $threshold")
    val vb = v.cast("bigint")
    val gcols = groupCols.map(col)
    val base = df.filter(v.isNotNull)
      .groupBy(gcols: _*)
      .agg(sort_array(collect_list(struct(tCol.as("t"), vb.as("v"))))
          .as("__s"),
        floor(percentile(vb, lit(0.5))).cast("bigint").as("ref"))
      .filter(assert_true(size(col("__s")) <= maxLen,
        lit(s"cusum: a group exceeds maxLen=$maxLen rows — window or " +
          "decimate the series first")).isNull)
    // one in-row left fold carries (s, n_alarms, first_alarm) together;
    // the oracle does NOT replay this shape (DuckDB 1.0 mis-evaluates
    // struct accumulators in list_reduce — see the cusumOracle note) but
    // integer exactness means any evaluation shape agrees bit-for-bit
    // t must be DATE (the weekly-series contract) so the fold-state
    // struct's null seeds type consistently on both engines
    val seeded = base.withColumn("__f",
      aggregate(
        transform(col("__s"), x => struct(
          x.getField("t").cast("date").as("t"),
          x.getField("v").as("v"), lit(0L).as("s"), lit(0L).as("na"),
          lit(null).cast("date").as("ft"))),
        struct(lit(null).cast("date").as("t"), lit(0L).as("v"),
          lit(0L).as("s"), lit(0L).as("na"),
          lit(null).cast("date").as("ft")),
        (acc, x) => {
          val sNew = greatest(
            acc.getField("s") + x.getField("v") -
              (col("ref") + lit(slack)), lit(0L))
          struct(x.getField("t").as("t"), x.getField("v").as("v"),
            sNew.as("s"),
            (acc.getField("na") +
              when(sNew > threshold, 1L).otherwise(0L)).as("na"),
            coalesce(acc.getField("ft"),
              when(sNew > threshold, x.getField("t"))).as("ft"))
        }))
    seeded.select(gcols ++ Seq(
      size(col("__s")).cast("bigint").as("n"), col("ref"),
      col("__f").getField("s").as("s_final"),
      col("__f").getField("na").as("n_alarms"),
      col("__f").getField("ft").as("first_alarm_t")): _*)
  }

  /** Cohort retention matrix — the engagement reading of the weekly
    * family: users are cohorted by their FIRST active week
    * ([[weekStart]] Sunday alignment, the repo-wide convention) and
    * each (cohort, offset) cell counts how many of them were active
    * `offset` weeks later. The classic triangle any
    * corpus-contribution or usage dataset gets asked for.
    *
    * Portability: activity first collapses to DISTINCT (user, week) —
    * exact — so every cell is an exact BIGINT count; `retention` is
    * ONE division by the cohort's own offset-0 size (which always
    * exists: the first week is active by construction), so every
    * column hashes bit-for-bit cross-engine.
    *
    * Scale: one distinct aggregation over (user, week) — the only pass
    * over the raw events; a per-user window (min week) rides the same
    * hash partitioning; the cell aggregation and per-cohort size
    * window then run on ≤ |users|·|weeks| already-deduped rows. No
    * driver-side anything; skewed "eternal" users cost one row per
    * week, not per event.
    *
    * Output: (cohort_week, offset_weeks, n_active, cohort_size,
    * retention). */
  def retentionCohorts(df: DataFrame, user: Column,
      dateCol: Column): DataFrame =
    retentionFromUserWeeks(df.filter(user.isNotNull && dateCol.isNotNull)
      .select(user.as("__u"), weekStart(dateCol).as("__w"))
      .distinct())

  /** The readout half of [[retentionCohorts]], from an already-distinct
    * (`__u`, `__w`) activity grid — the streaming-maintenance seam:
    * distinct (user, week) pairs are idempotent FACTS (re-observing one
    * changes nothing), so batch-sliced grids dedup-merged across any
    * slicing give exactly the one-shot matrix. */
  def retentionFromUserWeeks(uw: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val cohorted = uw.withColumn("__cw",
      min(col("__w")).over(W.partitionBy(col("__u"))))
    val counts = cohorted
      .groupBy(col("__cw").as("cohort_week"),
        (datediff(col("__w"), col("__cw")) / 7).cast("bigint")
          .as("offset_weeks"))
      .agg(count(lit(1)).as("n_active"))
    counts
      .withColumn("cohort_size",
        max(when(col("offset_weeks") === 0L, col("n_active")))
          .over(W.partitionBy(col("cohort_week"))))
      .withColumn("retention",
        col("n_active").cast("double") / col("cohort_size").cast("double"))
  }

  /** A7/W3 — share of the week's total, without a second scan: window sum
    * per week (`Time_Series.py:790–811`; zero-total weeks ⇒ 0.0).
    */
  def normalizeByWeek(longFreq: DataFrame, weekCol: String = "week_start",
      freqCol: String = "freq"): DataFrame = {
    val total = sum(col(freqCol)).over(Window.partitionBy(col(weekCol)))
    longFreq.withColumn("week_total", total)
      .withColumn("share",
        when(col("week_total") === 0, 0.0)
          .otherwise(col(freqCol).cast("double") / col("week_total")))
  }

  /** Sink-side pivot to the reference's wide matrix, with explicit week
    * labels as columns. Only call on an already-aggregated long frame.
    */
  def pivotWide(longFreq: DataFrame): DataFrame = {
    val weeks = longFreq.select(col("week_start")).distinct()
      .orderBy("week_start").collect().map(_.getDate(0))
    val idx = weeks.zipWithIndex.toMap
    val labeled = longFreq.withColumn("week_label",
      weekLabel(udfFreeIndex(col("week_start"), weeks), col("week_start")))
    labeled.groupBy("key")
      .pivot("week_label", weeks.map(w =>
        s"Week${idx(w) + 1} (${fmt(w)}-${fmt(addDays(w, 6))})").toSeq)
      .agg(first("freq")).na.fill(0L)
  }

  private def fmt(d: java.sql.Date): String =
    new java.text.SimpleDateFormat("MM/dd/yyyy").format(d)
  private def addDays(d: java.sql.Date, n: Int): java.sql.Date =
    java.sql.Date.valueOf(d.toLocalDate.plusDays(n))
  private def udfFreeIndex(week: Column, weeks: Array[java.sql.Date]): Column =
    weeks.zipWithIndex.foldLeft(lit(0)) { case (acc, (w, i)) =>
      when(week === lit(w), i + 1).otherwise(acc)
    }
}
