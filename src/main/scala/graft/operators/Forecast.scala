package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Simple exponential smoothing over the daily event-count series,
  * with its own one-step-ahead backtest — the capacity-planning
  * baseline (Brown 1956; Hyndman & Athanasopoulos ch. 8): before
  * anyone reaches for a heavier model, SES answers "what does
  * tomorrow look like and how wrong has that guess been historically".
  * The recursion s_t = α·y_t + (1−α)·s_{t−1} unrolls to the closed
  * form s_t = (1−α)^t · Σ_{i≤t} w_i·y_i (w_1 = (1−α)^{−1}, w_i =
  * α·(1−α)^{−i}), which is ONE cumulative window over the day table —
  * no driver recursion, and the DuckDB oracle computes the identical
  * expression.
  *
  * Scale shape: one shuffle to daily counts; everything after is
  * day-cardinality windows with a single ordering. The weight scale
  * (1−α)^{−t} grows exponentially in t — fine for dashboard horizons
  * (≈10⁴ at t = 60, α = 0.15), and a production monitor re-anchors
  * per window anyway. */
object Forecast {

  /** `(d, y, level, forecast, abs_pct_err)` per day: the smoothed
    * level after observing day d, the ONE-STEP forecast for d (the
    * previous level — the first day has none), and the absolute
    * percentage error of that forecast. */
  def sesBacktest(events: DataFrame, alpha: Double = 0.3): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, "alpha must be in (0,1)")
    val daily = events
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).cast("double").as("y"))
    val wOrd = Window.orderBy("d")
    val wCum = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    val b = 1.0 - alpha
    val t = row_number().over(wOrd).cast("double")
    val withT = daily.withColumn("__t", t)
    val weight = when(col("__t") === 1.0, pow(lit(b), lit(-1.0)))
      .otherwise(lit(alpha) * pow(lit(b), -col("__t")))
    val level = pow(lit(b), col("__t")) *
      sum(weight * col("y")).over(wCum)
    val withLevel = withT.withColumn("__lvl", level)
    val fc = lag("__lvl", 1).over(wOrd)
    withLevel
      .withColumn("__fc", fc)
      .select(col("d"), col("y"),
        round(col("__lvl"), 6).as("level"),
        round(col("__fc"), 6).as("forecast"),
        round(when(col("__fc").isNotNull && col("y") > 0.0,
          abs(col("y") - col("__fc")) / col("y") * 100.0)
          .otherwise(lit(null).cast("double")), 6).as("abs_pct_err"))
      .orderBy("d")
  }

  /** DuckDB oracle for [[sesBacktest]] on events. */
  def sesOracleSql(alpha: Double = 0.3): String = {
    val b = 1.0 - alpha
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS DOUBLE) AS y
       |  FROM events GROUP BY 1),
       |t AS (
       |  SELECT d, y,
       |    CAST(ROW_NUMBER() OVER (ORDER BY d) AS DOUBLE) AS tt
       |  FROM daily),
       |lv AS (
       |  SELECT d, y, tt,
       |    pow($b, tt) * SUM(CASE WHEN tt = 1.0 THEN pow($b, -1.0)
       |      ELSE $alpha * pow($b, -tt) END * y) OVER (ORDER BY d
       |      ROWS UNBOUNDED PRECEDING) AS lvl
       |  FROM t),
       |f AS (
       |  SELECT d, y, lvl,
       |    LAG(lvl) OVER (ORDER BY d) AS fc
       |  FROM lv)
       |SELECT d, y,
       |  ROUND(lvl, 6) AS level,
       |  ROUND(fc, 6) AS forecast,
       |  ROUND(CASE WHEN fc IS NOT NULL AND y > 0
       |    THEN abs(y - fc) / y * 100.0 ELSE NULL END, 6)
       |    AS abs_pct_err
       |FROM f ORDER BY d""".stripMargin
  }

  /** Holt linear-trend smoothing per event type (Holt 1957; Hyndman &
    * Athanasopoulos ch. 8.2) — the step past [[sesBacktest]] when the
    * series actually trends: SES lags a trending series by a constant
    * offset forever, Holt carries an explicit trend state
    * (ℓₜ = α·yₜ + (1−α)(ℓₜ₋₁+bₜ₋₁); bₜ = β(ℓₜ−ℓₜ₋₁) + (1−β)bₜ₋₁) and
    * forecasts ℓ+b. Initialization is pinned to (ℓ₁ = y₁, b₁ = 0) so
    * the recursion is fully determined by the series.
    *
    * Unlike SES, the Holt recursion has no one-window closed form
    * (two coupled states), so the engine folds it with `aggregate`
    * over the per-type CALENDAR array: the corpus-scale stage is the
    * one daily grouped agg; the collected array is day-cardinality —
    * bounded (a decade is 3.7k structs), the same budget every
    * calendar-table window in this repo already carries. The DuckDB
    * oracle replays the identical arithmetic as a recursive CTE, so
    * hash parity pins the recursion step-for-step.
    *
    * One row per type: `(event_type, n_days, level, trend,
    * forecast_next, mae_backtest)` — MAE over the one-step forecasts
    * from day 2 on. */
  def holtBacktest(events: DataFrame, alpha: Double = 0.3,
      beta: Double = 0.1): DataFrame =
    holtFromDaily(events
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).cast("double").as("y")), alpha, beta)

  /** [[holtBacktest]] over an already-built `(event_type, d, y)`
    * daily table — the entry point the streaming monitor shares. */
  def holtFromDaily(daily: DataFrame, alpha: Double = 0.3,
      beta: Double = 0.1): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, "alpha must be in (0,1)")
    require(beta > 0.0 && beta < 1.0, "beta must be in (0,1)")
    val folded = daily
      .groupBy("event_type")
      .agg(collect_list(struct(col("d"), col("y"))).as("__pts"))
      .withColumn("__s", expr(
        s"""aggregate(
           |  array_sort(__pts),
           |  named_struct('i', 0L, 'l', 0D, 'b', 0D, 'sae', 0D),
           |  (s, p) -> IF(s.i = 0L,
           |    named_struct('i', 1L, 'l', p.y, 'b', 0D, 'sae', 0D),
           |    named_struct('i', s.i + 1L,
           |      'l', $alpha * p.y + ${1 - alpha} * (s.l + s.b),
           |      'b', $beta * (($alpha * p.y + ${1 - alpha} *
           |             (s.l + s.b)) - s.l) + ${1 - beta} * s.b,
           |      'sae', s.sae + abs(p.y - (s.l + s.b)))),
           |  s -> s)""".stripMargin))
    folded.select(
        col("event_type"),
        col("__s.i").as("n_days"),
        round(col("__s.l"), 6).as("level"),
        round(col("__s.b"), 6).as("trend"),
        round(col("__s.l") + col("__s.b"), 6).as("forecast_next"),
        round(when(col("__s.i") > 1L,
          col("__s.sae") / (col("__s.i") - 1L)), 6).as("mae_backtest"))
      .orderBy("event_type")
  }

  /** DuckDB oracle for [[holtBacktest]] — the identical recursion as
    * a recursive CTE stepping the per-type day index. */
  def holtOracleSql(alpha: Double = 0.3, beta: Double = 0.1,
      measure: String = "CAST(COUNT(*) AS DOUBLE)"): String = {
    val a = alpha; val na = 1 - alpha; val b = beta; val nb = 1 - beta
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS d,
       |    $measure AS y
       |  FROM events GROUP BY 1, 2),
       |idx AS (
       |  SELECT event_type, y,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i
       |  FROM daily),
       |r AS (
       |  SELECT event_type, i, y AS l,
       |    CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS sae
       |  FROM idx WHERE i = 1
       |  UNION ALL
       |  SELECT idx.event_type, idx.i,
       |    $a * idx.y + $na * (r.l + r.b),
       |    $b * (($a * idx.y + $na * (r.l + r.b)) - r.l) + $nb * r.b,
       |    r.sae + abs(idx.y - (r.l + r.b))
       |  FROM r JOIN idx ON idx.event_type = r.event_type
       |    AND idx.i = r.i + 1),
       |last AS (
       |  SELECT event_type, MAX(i) AS n FROM idx GROUP BY 1)
       |SELECT r.event_type, CAST(r.i AS BIGINT) AS n_days,
       |  ROUND(r.l, 6) AS level,
       |  ROUND(r.b, 6) AS trend,
       |  ROUND(r.l + r.b, 6) AS forecast_next,
       |  ROUND(CASE WHEN r.i > 1 THEN r.sae / (r.i - 1) END, 6)
       |    AS mae_backtest
       |FROM r JOIN last ON r.event_type = last.event_type
       |  AND r.i = last.n
       |ORDER BY r.event_type""".stripMargin
  }

  /** Seasonal Holt: classical-decomposition seasonal adjustment
    * (Hyndman & Athanasopoulos ch. 3.2) in front of the Holt
    * recursion — the additive day-of-week index (per-dow mean minus
    * the series mean) is subtracted, [[holtFromDaily]]'s fold runs on
    * the adjusted series, and the one-step-ahead forecast is
    * re-seasonalized with the NEXT calendar day's index. The fixed
    * index sidesteps the 3-state Holt-Winters recursion while
    * capturing the dominant weekly cycle; the backtest MAE is
    * identical on the adjusted and re-seasonalized scales (both
    * forecast and actual shift by the same index), so the reported
    * MAE is the honest re-seasonalized error.
    *
    * Scale shape: one daily grouped agg (corpus-scale stage), then a
    * (type × 7)-row seasonal table broadcast back, the
    * day-cardinality fold, and type-cardinality finishing joins. */
  def seasonalHolt(events: DataFrame, alpha: Double = 0.3,
      beta: Double = 0.1): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum("value").as("y"))
    val means = daily.groupBy("event_type").agg(avg("y").as("__m"),
      max("d").as("__maxd"))
    val seas = daily.withColumn("__dow", dayofweek(col("d")))
      .groupBy("event_type", "__dow").agg(avg("y").as("__dm"))
      .join(means.select(col("event_type"), col("__m")), "event_type")
      .select(col("event_type"), col("__dow"),
        (col("__dm") - col("__m")).as("__s"))
    val adj = daily.withColumn("__dow", dayofweek(col("d")))
      .join(broadcast(seas), Seq("event_type", "__dow"))
      .select(col("event_type"), col("d"),
        (col("y") - col("__s")).as("y"))
    val folded = adj
      .groupBy("event_type")
      .agg(collect_list(struct(col("d"), col("y"))).as("__pts"))
      .withColumn("__st", expr(
        s"""aggregate(
           |  array_sort(__pts),
           |  named_struct('i', 0L, 'l', 0D, 'b', 0D, 'sae', 0D),
           |  (s, p) -> IF(s.i = 0L,
           |    named_struct('i', 1L, 'l', p.y, 'b', 0D, 'sae', 0D),
           |    named_struct('i', s.i + 1L,
           |      'l', $alpha * p.y + ${1 - alpha} * (s.l + s.b),
           |      'b', $beta * (($alpha * p.y + ${1 - alpha} *
           |             (s.l + s.b)) - s.l) + ${1 - beta} * s.b,
           |      'sae', s.sae + abs(p.y - (s.l + s.b)))),
           |  s -> s)""".stripMargin))
    val nextSeas = means
      .withColumn("__dow", dayofweek(date_add(col("__maxd"), 1)))
      .join(seas, Seq("event_type", "__dow"))
      .select(col("event_type"), col("__s").as("__sn"))
    folded.join(nextSeas, "event_type")
      .select(
        col("event_type"),
        col("__st.i").as("n_days"),
        round(col("__st.l"), 6).as("level"),
        round(col("__st.b"), 6).as("trend"),
        round(col("__sn"), 6).as("seas_next"),
        round(col("__st.l") + col("__st.b") + col("__sn"), 6)
          .as("forecast_next"),
        round(when(col("__st.i") > 1L,
          col("__st.sae") / (col("__st.i") - 1L)), 6).as("mae_backtest"))
      .orderBy("event_type")
  }

  /** DuckDB oracle for [[seasonalHolt]] — the deseasonalized
    * [[holtOracleSql]] recursion plus the next-day index. DuckDB's
    * `dayofweek` is Sunday = 0 (Spark: Sunday = 1), hence the +1. */
  def seasonalHoltOracleSql(alpha: Double = 0.3,
      beta: Double = 0.1): String = {
    val a = alpha; val na = 1 - alpha; val b = beta; val nb = 1 - beta
    s"""WITH RECURSIVE daily0 AS (
       |  SELECT event_type, CAST(ts AS DATE) AS d, SUM(value) AS y
       |  FROM events GROUP BY 1, 2),
       |m AS (
       |  SELECT event_type, AVG(y) AS mm, MAX(d) AS maxd
       |  FROM daily0 GROUP BY 1),
       |seas AS (
       |  SELECT daily0.event_type, dayofweek(d) + 1 AS dow,
       |    AVG(y) - ANY_VALUE(mm) AS s
       |  FROM daily0 JOIN m ON daily0.event_type = m.event_type
       |  GROUP BY 1, 2),
       |daily AS (
       |  SELECT daily0.event_type, d, y - s AS y
       |  FROM daily0 JOIN seas ON daily0.event_type = seas.event_type
       |    AND dayofweek(d) + 1 = seas.dow),
       |idx AS (
       |  SELECT event_type, y,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i
       |  FROM daily),
       |r AS (
       |  SELECT event_type, i, y AS l,
       |    CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS sae
       |  FROM idx WHERE i = 1
       |  UNION ALL
       |  SELECT idx.event_type, idx.i,
       |    $a * idx.y + $na * (r.l + r.b),
       |    $b * (($a * idx.y + $na * (r.l + r.b)) - r.l) + $nb * r.b,
       |    r.sae + abs(idx.y - (r.l + r.b))
       |  FROM r JOIN idx ON idx.event_type = r.event_type
       |    AND idx.i = r.i + 1),
       |last AS (
       |  SELECT event_type, MAX(i) AS n FROM idx GROUP BY 1),
       |nx AS (
       |  SELECT m.event_type, seas.s AS sn
       |  FROM m JOIN seas ON seas.event_type = m.event_type
       |    AND seas.dow = dayofweek(maxd + 1) + 1)
       |SELECT r.event_type, CAST(r.i AS BIGINT) AS n_days,
       |  ROUND(r.l, 6) AS level,
       |  ROUND(r.b, 6) AS trend,
       |  ROUND(nx.sn, 6) AS seas_next,
       |  ROUND(r.l + r.b + nx.sn, 6) AS forecast_next,
       |  ROUND(CASE WHEN r.i > 1 THEN r.sae / (r.i - 1) END, 6)
       |    AS mae_backtest
       |FROM r
       |JOIN last ON r.event_type = last.event_type AND r.i = last.n
       |JOIN nx ON nx.event_type = r.event_type
       |ORDER BY r.event_type""".stripMargin
  }

  /** Forecast-model tournament on daily total revenue: one-step-ahead
    * MAE of naive (yₜ₋₁), seasonal-naive (yₜ₋₇ — Hyndman &
    * Athanasopoulos §3.1's mandatory benchmarks), SES and Holt, all
    * evaluated on the COMMON window t ≥ 8 (the first day every model
    * has a forecast), plus each model's MASE-style ratio to naive —
    * the honest "is the fancy model earning its keep" table that
    * belongs next to the individual backtests (q259/q280).
    *
    * Scale shape: one shuffle to the day table; three lag/cumulative
    * windows and one day-cardinality Holt fold; 4-row output. */
  def tournament(events: DataFrame, alpha: Double = 0.3,
      beta: Double = 0.1, season: Int = 7): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val b = 1.0 - alpha
    val daily = events
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum("value").as("y"))
    val wOrd = Window.orderBy("d")
    val wCum = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    val t = row_number().over(wOrd).cast("double")
    val weight = when(col("__t") === 1.0, pow(lit(b), lit(-1.0)))
      .otherwise(lit(alpha) * pow(lit(b), -col("__t")))
    val start = (season + 1).toDouble
    val staged = daily
      .withColumn("__t", t)
      .withColumn("__naive", lag("y", 1).over(wOrd))
      .withColumn("__snaive", lag("y", season).over(wOrd))
      .withColumn("__lvl", pow(lit(b), col("__t")) *
        sum(weight * col("y")).over(wCum))
      .withColumn("__ses", lag("__lvl", 1).over(wOrd))
      .where(col("__t") >= start)
    val flat = staged.agg(
      count(lit(1)).as("__n"),
      avg(abs(col("y") - col("__naive"))).as("__naive_mae"),
      avg(abs(col("y") - col("__snaive"))).as("__snaive_mae"),
      avg(abs(col("y") - col("__ses"))).as("__ses_mae"))
    // Holt: same fold as holtFromDaily, sae restricted to the common
    // window (forecast for step i+1 is made from state at step i)
    val holt = daily
      .groupBy()
      .agg(collect_list(struct(col("d"), col("y"))).as("__pts"))
      .withColumn("__st", expr(
        s"""aggregate(
           |  array_sort(__pts),
           |  named_struct('i', 0L, 'l', 0D, 'b', 0D, 'sae', 0D),
           |  (s, p) -> IF(s.i = 0L,
           |    named_struct('i', 1L, 'l', p.y, 'b', 0D, 'sae', 0D),
           |    named_struct('i', s.i + 1L,
           |      'l', $alpha * p.y + ${1 - alpha} * (s.l + s.b),
           |      'b', $beta * (($alpha * p.y + ${1 - alpha} *
           |             (s.l + s.b)) - s.l) + ${1 - beta} * s.b,
           |      'sae', IF(s.i + 1L >= ${season + 1}L,
           |        s.sae + abs(p.y - (s.l + s.b)), s.sae))),
           |  s -> s)""".stripMargin))
      .select(col("__st.sae").as("__holt_sae"))
    val row = flat.crossJoin(holt).collect()(0)   // two 1-row frames
    val n = row.getAs[Long]("__n")
    // shorter than the common window: no day every model can forecast
    // — the MAE aggregates are all null. Empty table, not an NPE.
    if (n == 0L)
      return Seq.empty[(String, Long, Double, Option[Double])]
        .toDF("model", "n_eval", "mae", "mase_vs_naive")
    val naive = row.getAs[Double]("__naive_mae")
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // constant series: naive MAE is 0, the MASE ratio is undefined
    // (NaN/Inf would blow up BigDecimal) — emit null, keep the MAEs
    def out(model: String, mae: Double) =
      (model, n, r6(mae),
        if (naive == 0.0) None else Some(r6(mae / naive)))
    Seq(
      out("holt", row.getAs[Double]("__holt_sae") / n),
      out("naive", naive),
      out("ses", row.getAs[Double]("__ses_mae")),
      out("snaive", row.getAs[Double]("__snaive_mae")))
      .toDF("model", "n_eval", "mae", "mase_vs_naive")
      .orderBy("model")
  }

  /** DuckDB oracle for [[tournament]] (defaults). */
  def tournamentOracleSql(alpha: Double = 0.3, beta: Double = 0.1,
      season: Int = 7): String = {
    val a = alpha; val na = 1 - alpha
    val bb = beta; val nb = 1 - beta
    val b = 1 - alpha
    val start = season + 1
    s"""WITH RECURSIVE daily AS (
       |  SELECT CAST(ts AS DATE) AS d, SUM(value) AS y
       |  FROM events GROUP BY 1),
       |tt AS (
       |  SELECT d, y,
       |    CAST(ROW_NUMBER() OVER (ORDER BY d) AS DOUBLE) AS t
       |  FROM daily),
       |lv0 AS (
       |  SELECT d, y, t,
       |    pow($b, t) * SUM(CASE WHEN t = 1.0 THEN pow($b, -1.0)
       |      ELSE $a * pow($b, -t) END * y) OVER (ORDER BY d
       |      ROWS UNBOUNDED PRECEDING) AS lvl
       |  FROM tt),
       |lv AS (
       |  SELECT d, y, t,
       |    LAG(y, 1) OVER (ORDER BY d) AS nv,
       |    LAG(y, $season) OVER (ORDER BY d) AS snv,
       |    LAG(lvl, 1) OVER (ORDER BY d) AS ses
       |  FROM lv0),
       |flat AS (
       |  SELECT COUNT(*) AS n,
       |    AVG(abs(y - nv)) AS naive_mae,
       |    AVG(abs(y - snv)) AS snaive_mae,
       |    AVG(abs(y - ses)) AS ses_mae
       |  FROM lv WHERE t >= $start),
       |idx AS (
       |  SELECT y, ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily),
       |r AS (
       |  SELECT i, y AS l, CAST(0.0 AS DOUBLE) AS b,
       |    CAST(0.0 AS DOUBLE) AS sae
       |  FROM idx WHERE i = 1
       |  UNION ALL
       |  SELECT idx.i,
       |    $a * idx.y + $na * (r.l + r.b),
       |    $bb * (($a * idx.y + $na * (r.l + r.b)) - r.l) + $nb * r.b,
       |    CASE WHEN idx.i >= $start
       |      THEN r.sae + abs(idx.y - (r.l + r.b)) ELSE r.sae END
       |  FROM r JOIN idx ON idx.i = r.i + 1),
       |h AS (SELECT sae FROM r ORDER BY i DESC LIMIT 1),
       |m AS (
       |  SELECT 'naive' AS model, n, naive_mae AS mae,
       |    naive_mae AS nmae FROM flat
       |  UNION ALL
       |  SELECT 'snaive', n, snaive_mae, naive_mae FROM flat
       |  UNION ALL
       |  SELECT 'ses', n, ses_mae, naive_mae FROM flat
       |  UNION ALL
       |  SELECT 'holt', n, (SELECT sae FROM h) / n, naive_mae
       |  FROM flat)
       |SELECT model, CAST(n AS BIGINT) AS n_eval,
       |  ROUND(mae, 6) AS mae,
       |  CASE WHEN nmae = 0 THEN NULL
       |    ELSE ROUND(mae / nmae, 6) END AS mase_vs_naive
       |FROM m ORDER BY model""".stripMargin
  }

  /** Theta-method forecast of daily total revenue (Assimakopoulos &
    * Nikolopoulos, IJF 2000) via the Hyndman–Billah 2003 reduction:
    * the classical two-theta-line method (θ = 0 linear trend, θ = 2
    * curve smoothed by SES, forecasts averaged) is EXACTLY simple
    * exponential smoothing plus half the fitted OLS slope per step —
    * so the engine computes the closed-form SES level ([[sesBacktest]]'s
    * one cumulative window) and the closed-form OLS slope of y on the
    * day index, and reports forecast = level + slope/2. The backtest
    * column is honest about being in-sample: the slope is fitted on
    * the full series (the method's own convention — the θ-lines are a
    * decomposition of the observed series, not a causal model), while
    * the SES component is strictly one-step-ahead.
    *
    * One row `(n_days, ols_slope, ses_level, forecast_ses,
    * forecast_theta, mae_ses, mae_theta)`; the two MAEs share the
    * t ≥ 2 window, so the delta isolates what the drift term buys.
    * Scale shape: one corpus agg to the calendar table, two ordered
    * day-windows, a 1-row finishing agg. */
  def theta(events: DataFrame, alpha: Double = 0.3): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, "alpha must be in (0,1)")
    val b = 1.0 - alpha
    val daily = events
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum("value").as("y"))
    val wOrd = Window.orderBy("d")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    val t = row_number().over(wOrd).cast("double")
    val weight = when(col("__t") === 1.0, pow(lit(b), lit(-1.0)))
      .otherwise(lit(alpha) * pow(lit(b), -col("__t")))
    val staged = daily
      .withColumn("__t", t)
      .withColumn("__lvl", pow(lit(b), col("__t")) *
        sum(weight * col("y")).over(wCum))
      .withColumn("__ses", lag("__lvl", 1).over(wOrd))
    val flat = staged.agg(
      count(lit(1)).cast("double").as("__n"),
      sum(col("__t") * col("y")).as("__sty"),
      sum("__t").as("__st"), sum("y").as("__sy"),
      sum(col("__t") * col("__t")).as("__stt"),
      max(when(col("__ses").isNotNull,
        struct(col("__t"), col("__lvl")))).as("__last"),
      avg(abs(col("y") - col("__ses"))).as("__mae_ses"))
    // E|y − ses − s/2| ≠ E|y−ses| − s/2 in general, so the theta MAE
    // needs the slope INSIDE the abs: second tiny pass over the
    // day-cardinality staged frame with the 1-row slope factor.
    val slopeF = flat.select(
      col("__n"),
      when(col("__n") * col("__stt") - col("__st") * col("__st") > 0.0,
        (col("__n") * col("__sty") - col("__st") * col("__sy")) /
          (col("__n") * col("__stt") - col("__st") * col("__st")))
        .otherwise(lit(0.0)).as("__slope"),
      col("__last").getField("__lvl").as("__lvl_last"),
      col("__mae_ses"))
    staged.crossJoin(broadcast(slopeF))   // 1-row stat factor
      .agg(
        first("__n").as("__n2"), first("__slope").as("__b"),
        first("__lvl_last").as("__l"), first("__mae_ses").as("__ms"),
        avg(abs(col("y") - col("__ses") - col("__slope") / 2.0))
          .as("__mt"))
      .select(
        col("__n2").cast("bigint").as("n_days"),
        round(col("__b"), 6).as("ols_slope"),
        round(col("__l"), 6).as("ses_level"),
        round(col("__l"), 6).as("forecast_ses"),
        round(col("__l") + col("__b") / 2.0, 6).as("forecast_theta"),
        round(col("__ms"), 6).as("mae_ses"),
        round(col("__mt"), 6).as("mae_theta"))
  }

  /** DuckDB oracle for [[theta]] (defaults). */
  def thetaOracleSql(alpha: Double = 0.3): String = {
    val b = 1 - alpha
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS d, SUM(value) AS y
       |  FROM events GROUP BY 1),
       |tt AS (
       |  SELECT d, y,
       |    CAST(ROW_NUMBER() OVER (ORDER BY d) AS DOUBLE) AS t
       |  FROM daily),
       |lv AS (
       |  SELECT d, y, t,
       |    pow($b, t) * SUM(CASE WHEN t = 1.0 THEN pow($b, -1.0)
       |      ELSE $alpha * pow($b, -t) END * y) OVER (ORDER BY d
       |      ROWS UNBOUNDED PRECEDING) AS lvl
       |  FROM tt),
       |st AS (
       |  SELECT d, y, t, lvl,
       |    LAG(lvl) OVER (ORDER BY d) AS ses
       |  FROM lv),
       |flat AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    SUM(t * y) AS sty, SUM(t) AS stt1, SUM(y) AS sy,
       |    SUM(t * t) AS stt2,
       |    MAX(CASE WHEN ses IS NOT NULL THEN t END) AS tl,
       |    AVG(ABS(y - ses)) AS mae_ses
       |  FROM st),
       |sl AS (
       |  SELECT n,
       |    CASE WHEN n * stt2 - stt1 * stt1 > 0.0
       |      THEN (n * sty - stt1 * sy) / (n * stt2 - stt1 * stt1)
       |      ELSE 0.0 END AS slope,
       |    (SELECT lvl FROM st WHERE t = flat.tl) AS lvl_last,
       |    mae_ses
       |  FROM flat)
       |SELECT CAST(sl.n AS BIGINT) AS n_days,
       |  ROUND(sl.slope, 6) AS ols_slope,
       |  ROUND(sl.lvl_last, 6) AS ses_level,
       |  ROUND(sl.lvl_last, 6) AS forecast_ses,
       |  ROUND(sl.lvl_last + sl.slope / 2.0, 6) AS forecast_theta,
       |  ROUND(sl.mae_ses, 6) AS mae_ses,
       |  ROUND(AVG(ABS(st.y - st.ses - sl.slope / 2.0)), 6)
       |    AS mae_theta
       |FROM st CROSS JOIN sl
       |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }

  /** Diebold–Mariano equal-accuracy test between the SES and
    * seasonal-naive one-step forecasts of daily revenue (Diebold &
    * Mariano, JBES 1995; Harvey–Leybourne–Newbold correction 1997):
    * the [[tournament]] reports WHICH model's MAE is lower; DM asks
    * whether the gap is distinguishable from noise. Loss differential
    * d_t = |e_ses| − |e_snaive| on the common window t ≥ 8;
    * DM = d̄ / √(γ̂₀/n) with γ̂₀ the population variance of d (at
    * horizon h = 1 the long-run variance needs no autocovariance
    * terms); dm_hln applies the HLN factor √((n−1)/n). Negative DM =
    * SES more accurate. Two-sided normal gate at 5% on the plain DM
    * (the published convention for h = 1).
    *
    * One row `(n_eval, mae_ses, mae_snaive, d_bar, dm_stat, dm_hln,
    * sig_95)`. Scale shape: one corpus agg to the calendar table,
    * the SES cumulative + two lag windows, ONE finishing agg (the
    * variance needs no second pass — var_pop carries it). */
  def dieboldMariano(events: DataFrame, alpha: Double = 0.3,
      season: Int = 7): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, "alpha must be in (0,1)")
    val b = 1.0 - alpha
    val daily = events
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum("value").as("y"))
    val wOrd = Window.orderBy("d")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    val t = row_number().over(wOrd).cast("double")
    val weight = when(col("__t") === 1.0, pow(lit(b), lit(-1.0)))
      .otherwise(lit(alpha) * pow(lit(b), -col("__t")))
    val staged = daily
      .withColumn("__t", t)
      .withColumn("__lvl", pow(lit(b), col("__t")) *
        sum(weight * col("y")).over(wCum))
      .withColumn("__ses", lag("__lvl", 1).over(wOrd))
      .withColumn("__snv", lag("y", season).over(wOrd))
      .where(col("__t") >= (season + 1).toDouble)
      .withColumn("__dl",
        abs(col("y") - col("__ses")) - abs(col("y") - col("__snv")))
    val a = staged.agg(
      count(lit(1)).cast("double").as("__n"),
      avg(abs(col("y") - col("__ses"))).as("__ms"),
      avg(abs(col("y") - col("__snv"))).as("__mn"),
      avg("__dl").as("__db"),
      var_pop(col("__dl")).as("__g0"))
    val nD = col("__n")
    val dm = when(col("__g0") > 0.0,
      col("__db") / sqrt(col("__g0") / nD))
    a.select(
      nD.cast("bigint").as("n_eval"),
      round(col("__ms"), 6).as("mae_ses"),
      round(col("__mn"), 6).as("mae_snaive"),
      round(col("__db"), 6).as("d_bar"),
      round(dm, 6).as("dm_stat"),
      round(dm * sqrt((nD - 1.0) / nD), 6).as("dm_hln"),
      coalesce(abs(dm) > 1.959964, lit(false)).as("sig_95"))
  }

  /** DuckDB oracle for [[dieboldMariano]] (defaults). */
  def dieboldMarianoOracleSql(alpha: Double = 0.3,
      season: Int = 7): String = {
    val b = 1 - alpha
    val start = season + 1
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS d, SUM(value) AS y
       |  FROM events GROUP BY 1),
       |tt AS (
       |  SELECT d, y,
       |    CAST(ROW_NUMBER() OVER (ORDER BY d) AS DOUBLE) AS t
       |  FROM daily),
       |lv AS (
       |  SELECT d, y, t,
       |    pow($b, t) * SUM(CASE WHEN t = 1.0 THEN pow($b, -1.0)
       |      ELSE $alpha * pow($b, -t) END * y) OVER (ORDER BY d
       |      ROWS UNBOUNDED PRECEDING) AS lvl
       |  FROM tt),
       |st AS (
       |  SELECT d, y, t,
       |    LAG(lvl) OVER (ORDER BY d) AS ses,
       |    LAG(y, $season) OVER (ORDER BY d) AS snv
       |  FROM lv
       |  QUALIFY t >= $start),
       |dl AS (
       |  SELECT ABS(y - ses) - ABS(y - snv) AS dl,
       |    ABS(y - ses) AS es, ABS(y - snv) AS en
       |  FROM st),
       |a AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    AVG(es) AS ms, AVG(en) AS mn,
       |    AVG(dl) AS db, VAR_POP(dl) AS g0
       |  FROM dl)
       |SELECT CAST(n AS BIGINT) AS n_eval,
       |  ROUND(ms, 6) AS mae_ses,
       |  ROUND(mn, 6) AS mae_snaive,
       |  ROUND(db, 6) AS d_bar,
       |  ROUND(CASE WHEN g0 > 0 THEN db / SQRT(g0 / n) END, 6)
       |    AS dm_stat,
       |  ROUND(CASE WHEN g0 > 0 THEN db / SQRT(g0 / n) END *
       |    SQRT((n - 1.0) / n), 6) AS dm_hln,
       |  COALESCE(ABS(CASE WHEN g0 > 0 THEN db / SQRT(g0 / n) END)
       |    > 1.959964, FALSE) AS sig_95
       |FROM a""".stripMargin
  }

  /** Trigg's tracking signal over the SES one-step forecast errors
    * (Trigg, OR Quarterly 1964): the forecast-monitoring chart — the
    * smoothed error E_t = β·e_t + (1−β)E_{t−1} over the smoothed
    * absolute error M_t keeps TS = E/M in [−1, 1]; a persistent
    * one-sided bias (the thing MAE hides) drives |TS| toward 1. E
    * decays from 0 at the first error (E₁ = β·e₁ — no prior-bias
    * assumption) while M level-initializes at |e₁| (a zero M would
    * make TS undefined, and an e₁/|e₁| joint init would force an
    * always-alarm |TS| = 1 on day 2); alarm days are |E| > 0.51·M —
    * multiplication, not division, so the degenerate M = 0 day
    * cannot fault — with 0.51 the conventional 95% limit tabulated
    * for β = 0.1 (Trigg 1964, Table 1).
    *
    * One row `(n_days, n_eval, e_smooth, mad_smooth,
    * tracking_signal, alarm_days)`. Scale shape: one corpus agg,
    * one fold over the sorted day array ([[holtFromDaily]]'s
    * budget); the oracle replays the joint (level, E, M) state as a
    * recursive CTE. */
  def trackingSignal(events: DataFrame, alpha: Double = 0.3,
      beta: Double = 0.1): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, "alpha must be in (0,1)")
    require(beta > 0.0 && beta < 1.0, "beta must be in (0,1)")
    val folded = events
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum("value").as("y"))
      .groupBy()
      .agg(collect_list(struct(col("d"), col("y"))).as("__pts"))
      .withColumn("__s", expr(
        s"""aggregate(
           |  array_sort(__pts),
           |  named_struct('i', 0L, 's', 0D,
           |    'ee', CAST(NULL AS DOUBLE), 'mm', CAST(NULL AS DOUBLE),
           |    'al', 0L),
           |  (s, p) -> IF(s.i = 0L,
           |    named_struct('i', 1L, 's', p.y,
           |      'ee', CAST(NULL AS DOUBLE), 'mm', CAST(NULL AS DOUBLE),
           |      'al', 0L),
           |    named_struct('i', s.i + 1L,
           |      's', $alpha * p.y + ${1 - alpha} * s.s,
           |      'ee', IF(s.ee IS NULL, $beta * (p.y - s.s),
           |        $beta * (p.y - s.s) + ${1 - beta} * s.ee),
           |      'mm', IF(s.mm IS NULL, abs(p.y - s.s),
           |        $beta * abs(p.y - s.s) + ${1 - beta} * s.mm),
           |      'al', s.al + IF(
           |        abs(IF(s.ee IS NULL, $beta * (p.y - s.s),
           |          $beta * (p.y - s.s) + ${1 - beta} * s.ee)) >
           |        0.51 * IF(s.mm IS NULL, abs(p.y - s.s),
           |          $beta * abs(p.y - s.s) + ${1 - beta} * s.mm),
           |        1L, 0L))),
           |  s -> s)""".stripMargin))
    val ts = when(col("__s.mm") > 0.0, col("__s.ee") / col("__s.mm"))
    folded.select(
      col("__s.i").as("n_days"),
      (col("__s.i") - 1L).as("n_eval"),
      round(col("__s.ee"), 6).as("e_smooth"),
      round(col("__s.mm"), 6).as("mad_smooth"),
      round(ts, 6).as("tracking_signal"),
      col("__s.al").as("alarm_days"))
  }

  /** DuckDB oracle for [[trackingSignal]] (defaults) — the joint
    * (level, E, M, alarms) state as a recursive CTE. */
  def trackingSignalOracleSql(alpha: Double = 0.3,
      beta: Double = 0.1): String = {
    val na = 1 - alpha; val nb = 1 - beta
    s"""WITH RECURSIVE daily AS (
       |  SELECT CAST(ts AS DATE) AS d, SUM(value) AS y
       |  FROM events GROUP BY 1),
       |idx AS (
       |  SELECT y, ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily),
       |r AS (
       |  SELECT i, y AS s, CAST(NULL AS DOUBLE) AS ee,
       |    CAST(NULL AS DOUBLE) AS mm, 0 AS al
       |  FROM idx WHERE i = 1
       |  UNION ALL
       |  SELECT x.i,
       |    $alpha * x.y + $na * r.s,
       |    CASE WHEN r.ee IS NULL THEN $beta * (x.y - r.s)
       |      ELSE $beta * (x.y - r.s) + $nb * r.ee END,
       |    CASE WHEN r.mm IS NULL THEN ABS(x.y - r.s)
       |      ELSE $beta * ABS(x.y - r.s) + $nb * r.mm END,
       |    r.al + CASE WHEN
       |      ABS(CASE WHEN r.ee IS NULL THEN $beta * (x.y - r.s)
       |        ELSE $beta * (x.y - r.s) + $nb * r.ee END) >
       |      0.51 * (CASE WHEN r.mm IS NULL THEN ABS(x.y - r.s)
       |        ELSE $beta * ABS(x.y - r.s) + $nb * r.mm END)
       |      THEN 1 ELSE 0 END
       |  FROM r JOIN idx x ON x.i = r.i + 1)
       |SELECT CAST(i AS BIGINT) AS n_days,
       |  CAST(i - 1 AS BIGINT) AS n_eval,
       |  ROUND(ee, 6) AS e_smooth,
       |  ROUND(mm, 6) AS mad_smooth,
       |  ROUND(CASE WHEN mm > 0 THEN ee / mm END, 6)
       |    AS tracking_signal,
       |  CAST(al AS BIGINT) AS alarm_days
       |FROM r ORDER BY i DESC LIMIT 1""".stripMargin
  }

  /** Damped-trend Holt per event type (Gardner & McKenzie,
    * Management Science 1985) — [[holtFromDaily]]'s recursion with
    * the trend damped by φ each step (ℓₜ = α·yₜ + (1−α)(ℓₜ₋₁+φbₜ₋₁);
    * bₜ = β(ℓₜ−ℓₜ₋₁) + (1−β)φbₜ₋₁), the single most robust default
    * in the M-competitions: undamped Holt extrapolates a straight
    * line forever, damped flattens toward the finite asymptote
    * ℓ + b·φ/(1−φ). Same fold-over-calendar-array dataflow and the
    * same (ℓ₁ = y₁, b₁ = 0) initialization; the oracle replays the
    * recursion as a recursive CTE.
    *
    * One row per type: `(event_type, n_days, level, trend,
    * forecast_next, forecast_inf, mae_backtest)` — forecast_next is
    * the one-step ℓ+φb, forecast_inf the h→∞ asymptote. */
  def dampedHolt(events: DataFrame, alpha: Double = 0.3,
      beta: Double = 0.1, phi: Double = 0.9): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, "alpha must be in (0,1)")
    require(beta > 0.0 && beta < 1.0, "beta must be in (0,1)")
    require(phi > 0.0 && phi < 1.0, "phi must be in (0,1)")
    val folded = events
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).cast("double").as("y"))
      .groupBy("event_type")
      .agg(collect_list(struct(col("d"), col("y"))).as("__pts"))
      .withColumn("__s", expr(
        s"""aggregate(
           |  array_sort(__pts),
           |  named_struct('i', 0L, 'l', 0D, 'b', 0D, 'sae', 0D),
           |  (s, p) -> IF(s.i = 0L,
           |    named_struct('i', 1L, 'l', p.y, 'b', 0D, 'sae', 0D),
           |    named_struct('i', s.i + 1L,
           |      'l', $alpha * p.y + ${1 - alpha} *
           |             (s.l + $phi * s.b),
           |      'b', $beta * (($alpha * p.y + ${1 - alpha} *
           |             (s.l + $phi * s.b)) - s.l) +
           |           ${1 - beta} * $phi * s.b,
           |      'sae', s.sae + abs(p.y - (s.l + $phi * s.b)))),
           |  s -> s)""".stripMargin))
    folded.select(
        col("event_type"),
        col("__s.i").as("n_days"),
        round(col("__s.l"), 6).as("level"),
        round(col("__s.b"), 6).as("trend"),
        round(col("__s.l") + col("__s.b") * phi, 6)
          .as("forecast_next"),
        round(col("__s.l") + col("__s.b") * (phi / (1 - phi)), 6)
          .as("forecast_inf"),
        round(when(col("__s.i") > 1L,
          col("__s.sae") / (col("__s.i") - 1L)), 6).as("mae_backtest"))
      .orderBy("event_type")
  }

  /** DuckDB oracle for [[dampedHolt]] (defaults). */
  def dampedHoltOracleSql(alpha: Double = 0.3, beta: Double = 0.1,
      phi: Double = 0.9): String = {
    val a = alpha; val na = 1 - alpha; val b = beta; val nb = 1 - beta
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS d,
       |    CAST(COUNT(*) AS DOUBLE) AS y
       |  FROM events GROUP BY 1, 2),
       |idx AS (
       |  SELECT event_type, y,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i
       |  FROM daily),
       |r AS (
       |  SELECT event_type, i, y AS l,
       |    CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS sae
       |  FROM idx WHERE i = 1
       |  UNION ALL
       |  SELECT idx.event_type, idx.i,
       |    $a * idx.y + $na * (r.l + $phi * r.b),
       |    $b * (($a * idx.y + $na * (r.l + $phi * r.b)) - r.l) +
       |      $nb * $phi * r.b,
       |    r.sae + abs(idx.y - (r.l + $phi * r.b))
       |  FROM r JOIN idx ON idx.event_type = r.event_type
       |    AND idx.i = r.i + 1),
       |last AS (
       |  SELECT event_type, MAX(i) AS n FROM idx GROUP BY 1)
       |SELECT r.event_type, CAST(r.i AS BIGINT) AS n_days,
       |  ROUND(r.l, 6) AS level,
       |  ROUND(r.b, 6) AS trend,
       |  ROUND(r.l + r.b * $phi, 6) AS forecast_next,
       |  ROUND(r.l + r.b * (${phi / (1 - phi)}), 6) AS forecast_inf,
       |  ROUND(CASE WHEN r.i > 1 THEN r.sae / (r.i - 1) END, 6)
       |    AS mae_backtest
       |FROM r JOIN last ON r.event_type = last.event_type
       |  AND r.i = last.n
       |ORDER BY r.event_type""".stripMargin
  }

  /** Full additive Holt–Winters on daily total revenue (Winters,
    * Management Science 1960; Hyndman & Athanasopoulos §8.3) — the
    * canonical 3-state recursion the fixed-index [[seasonalHolt]]
    * deliberately sidesteps: here the 7 day-of-week seasonal slots
    * are LEARNED jointly with level and trend,
    *   ℓₜ = α(yₜ − s_{dow}) + (1−α)(ℓₜ₋₁+bₜ₋₁)
    *   bₜ = β(ℓₜ−ℓₜ₋₁) + (1−β)bₜ₋₁
    *   s_{dow} ← γ(yₜ − ℓₜ) + (1−γ)s_{dow},
    * so a drifting weekly shape (what a FIXED index cannot track) is
    * followed. Initialization is the fully-determined streaming
    * convention: ℓ₁ = y₁, b₁ = 0, all seasonal slots 0 — the early
    * season absorbs into the slots within the first cycles, and the
    * backtest MAE starts at day 8 (after one full week) so the
    * seed-absorption days don't pollute it. The oracle replays the
    * identical 10-field state as a recursive CTE with the seasonal
    * array unrolled to 7 columns.
    *
    * One row `(n_days, n_eval, level, trend, seas_next, seas_spread,
    * forecast_next, mae_backtest)`; seas_spread = max−min slot (the
    * learned weekly amplitude). Scale shape: one corpus agg, one
    * fold over the sorted day array ([[holtFromDaily]]'s budget). */
  def holtWinters(events: DataFrame, alpha: Double = 0.3,
      beta: Double = 0.1, gamma: Double = 0.2): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, "alpha must be in (0,1)")
    require(beta > 0.0 && beta < 1.0, "beta must be in (0,1)")
    require(gamma > 0.0 && gamma < 1.0, "gamma must be in (0,1)")
    val a = alpha; val g = gamma
    // the new level, inlined wherever the recursion references it
    // (string-level duplication parses once — not the Column-chain
    // blowup the r14 scalar-tail fix was about)
    val lnew = s"($a * (p.y - element_at(st.s, dayofweek(p.d))) + " +
      s"${1 - a} * (st.l + st.b))"
    val folded = events
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum("value").as("y"))
      .groupBy()
      .agg(collect_list(struct(col("d"), col("y"))).as("__pts"))
      .withColumn("__s", expr(
        s"""aggregate(
           |  array_sort(__pts),
           |  named_struct('i', 0L, 'l', 0D, 'b', 0D,
           |    's', array_repeat(0D, 7), 'ld', CAST(NULL AS DATE),
           |    'sae', 0D),
           |  (st, p) -> IF(st.i = 0L,
           |    named_struct('i', 1L, 'l', p.y, 'b', 0D,
           |      's', array_repeat(0D, 7), 'ld', p.d, 'sae', 0D),
           |    named_struct(
           |      'i', st.i + 1L,
           |      'l', $lnew,
           |      'b', $beta * ($lnew - st.l) + ${1 - beta} * st.b,
           |      's', transform(st.s, (v, ix) ->
           |        IF(ix = dayofweek(p.d) - 1,
           |          $g * (p.y - $lnew) + ${1 - g} * v, v)),
           |      'ld', p.d,
           |      'sae', IF(st.i + 1L >= 8L,
           |        st.sae + abs(p.y - (st.l + st.b +
           |          element_at(st.s, dayofweek(p.d)))), st.sae))),
           |  st -> st)""".stripMargin))
    val seasNext = element_at(col("__s.s"),
      dayofweek(date_add(col("__s.ld"), 1)))
    folded.select(
      col("__s.i").as("n_days"),
      greatest(col("__s.i") - 7L, lit(0L)).as("n_eval"),
      round(col("__s.l"), 6).as("level"),
      round(col("__s.b"), 6).as("trend"),
      round(seasNext, 6).as("seas_next"),
      round(array_max(col("__s.s")) - array_min(col("__s.s")), 6)
        .as("seas_spread"),
      round(col("__s.l") + col("__s.b") + seasNext, 6)
        .as("forecast_next"),
      round(when(col("__s.i") > 7L,
        col("__s.sae") / (col("__s.i") - 7L)), 6).as("mae_backtest"))
  }

  /** DuckDB oracle for [[holtWinters]] (defaults) — the 7 seasonal
    * slots unrolled to columns; dow labels shifted +1 so both
    * engines index the same Sunday = 1 slots. */
  def holtWintersOracleSql(alpha: Double = 0.3, beta: Double = 0.1,
      gamma: Double = 0.2): String = {
    val a = alpha; val na = 1 - alpha
    val be = beta; val nb = 1 - beta
    val g = gamma; val ng = 1 - gamma
    val sUpd = (1 to 7).map(j =>
      s"CASE WHEN z.dw = $j THEN $g * (z.y - z.ln) + $ng * z.s$j " +
        s"ELSE z.s$j END").mkString(",\n       |    ")
    s"""WITH RECURSIVE daily AS (
       |  SELECT CAST(ts AS DATE) AS d, SUM(value) AS y
       |  FROM events GROUP BY 1),
       |idx AS (
       |  SELECT d, y, dayofweek(d) + 1 AS dw,
       |    ROW_NUMBER() OVER (ORDER BY d) AS i
       |  FROM daily),
       |r AS (
       |  SELECT i, d, y AS l, CAST(0.0 AS DOUBLE) AS b,
       |    CAST(0.0 AS DOUBLE) AS s1, CAST(0.0 AS DOUBLE) AS s2,
       |    CAST(0.0 AS DOUBLE) AS s3, CAST(0.0 AS DOUBLE) AS s4,
       |    CAST(0.0 AS DOUBLE) AS s5, CAST(0.0 AS DOUBLE) AS s6,
       |    CAST(0.0 AS DOUBLE) AS s7, CAST(0.0 AS DOUBLE) AS sae
       |  FROM idx WHERE i = 1
       |  UNION ALL
       |  SELECT z.i, z.d,
       |    z.ln,
       |    $be * (z.ln - z.l) + $nb * z.b,
       |    $sUpd,
       |    CASE WHEN z.i >= 8 THEN z.sae +
       |      ABS(z.y - (z.l + z.b + z.sdw)) ELSE z.sae END
       |  FROM (
       |    SELECT y2.i, y2.d, y2.y, y2.dw, y2.l, y2.b, y2.sdw,
       |      $a * (y2.y - y2.sdw) + $na * (y2.l + y2.b) AS ln,
       |      y2.s1, y2.s2, y2.s3, y2.s4, y2.s5, y2.s6, y2.s7,
       |      y2.sae
       |    FROM (
       |      SELECT x.i, x.d, x.y, x.dw, r.l, r.b,
       |        CASE x.dw WHEN 1 THEN r.s1 WHEN 2 THEN r.s2
       |          WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5
       |          WHEN 6 THEN r.s6 ELSE r.s7 END AS sdw,
       |        r.s1, r.s2, r.s3, r.s4, r.s5, r.s6, r.s7, r.sae
       |      FROM r JOIN idx x ON x.i = r.i + 1) y2) z),
       |last AS (SELECT MAX(i) AS n FROM idx),
       |f AS (
       |  SELECT r.*, last.n,
       |    dayofweek(r.d + 1) + 1 AS dwn
       |  FROM r JOIN last ON r.i = last.n)
       |SELECT CAST(n AS BIGINT) AS n_days,
       |  CAST(GREATEST(n - 7, 0) AS BIGINT) AS n_eval,
       |  ROUND(l, 6) AS level,
       |  ROUND(b, 6) AS trend,
       |  ROUND(CASE dwn WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3
       |    WHEN 4 THEN s4 WHEN 5 THEN s5 WHEN 6 THEN s6 ELSE s7 END,
       |    6) AS seas_next,
       |  ROUND(GREATEST(s1, s2, s3, s4, s5, s6, s7) -
       |    LEAST(s1, s2, s3, s4, s5, s6, s7), 6) AS seas_spread,
       |  ROUND(l + b + CASE dwn WHEN 1 THEN s1 WHEN 2 THEN s2
       |    WHEN 3 THEN s3 WHEN 4 THEN s4 WHEN 5 THEN s5 WHEN 6 THEN s6
       |    ELSE s7 END, 6) AS forecast_next,
       |  ROUND(CASE WHEN n > 7 THEN sae / (n - 7) END, 6)
       |    AS mae_backtest
       |FROM f""".stripMargin
  }

  /** Croston's method with the Syntetos–Boylan correction on the
    * INTERMITTENT series of big urgent orders per day (Croston, Opl
    * Res Q 1972; Syntetos & Boylan, IJF 2005): SES on a
    * mostly-zero series chases zeros down between demands — Croston
    * smooths the nonzero demand SIZES (z) and the inter-demand
    * INTERVALS (p) separately and forecasts the rate z/p, updating
    * only on demand days; SBA multiplies by (1 − α/2) to undo
    * Croston's documented positive bias. The series is the daily
    * count of `1-URGENT` orders above 450k on the FULL calendar
    * spine between the first and last order date (the zeros are the
    * signal — dropping empty days would destroy the intervals).
    * Initialization: the first demand sets z = y and p = its own
    * 1-based day index (the first observed interval).
    *
    * One row `(n_days, n_demand_days, zero_share, z_hat, p_hat,
    * forecast, forecast_sba)`. Scale shape: one corpus agg to the
    * order-date table, a calendar-spine left join (day cardinality),
    * one fold over the sorted day array — the [[holtFromDaily]]
    * budget. */
  def croston(orders: DataFrame, cut: Double = 450000.0,
      alpha: Double = 0.1): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, "alpha must be in (0,1)")
    val dd = orders
      .where(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > cut)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).cast("double").as("y"))
    val span = orders.agg(
      to_date(min("o_orderdate")).as("__d0"),
      to_date(max("o_orderdate")).as("__d1"))
    val spine = span.select(
      explode(sequence(col("__d0"), col("__d1"))).as("d"))
    val series = spine.join(dd, Seq("d"), "left")
      .select(col("d"), coalesce(col("y"), lit(0.0)).as("y"))
    val folded = series
      .groupBy()
      .agg(collect_list(struct(col("d"), col("y"))).as("__pts"))
      .withColumn("__s", expr(
        s"""aggregate(
           |  array_sort(__pts),
           |  named_struct('i', 0L, 'nd', 0L, 'q', 1D,
           |    'z', CAST(NULL AS DOUBLE), 'p', CAST(NULL AS DOUBLE)),
           |  (s, pt) -> named_struct(
           |    'i', s.i + 1L,
           |    'nd', IF(pt.y > 0D, s.nd + 1L, s.nd),
           |    'q', IF(pt.y > 0D, 1D, s.q + 1D),
           |    'z', IF(pt.y > 0D,
           |      IF(s.z IS NULL, pt.y,
           |        $alpha * pt.y + ${1 - alpha} * s.z), s.z),
           |    'p', IF(pt.y > 0D,
           |      IF(s.p IS NULL, CAST(s.i + 1L AS DOUBLE),
           |        $alpha * s.q + ${1 - alpha} * s.p), s.p)),
           |  s -> s)""".stripMargin))
    folded.select(
      col("__s.i").as("n_days"),
      col("__s.nd").as("n_demand_days"),
      round((col("__s.i") - col("__s.nd")).cast("double") /
        col("__s.i"), 6).as("zero_share"),
      round(col("__s.z"), 6).as("z_hat"),
      round(col("__s.p"), 6).as("p_hat"),
      round(col("__s.z") / col("__s.p"), 6).as("forecast"),
      round(col("__s.z") / col("__s.p") * (1.0 - alpha / 2.0), 6)
        .as("forecast_sba"))
  }

  /** DuckDB oracle for [[croston]] (defaults) — the identical
    * state machine as a recursive CTE over the calendar spine. */
  def crostonOracleSql(cut: Double = 450000.0,
      alpha: Double = 0.1): String = {
    val na = 1 - alpha
    s"""WITH RECURSIVE span AS (
       |  SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
       |    CAST(MAX(o_orderdate) AS DATE) AS d1
       |  FROM orders),
       |spine AS (
       |  SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
       |    AS d
       |  FROM span),
       |dd AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(COUNT(*) AS DOUBLE) AS y
       |  FROM orders
       |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > $cut
       |  GROUP BY 1),
       |series AS (
       |  SELECT spine.d, COALESCE(dd.y, 0.0) AS y,
       |    ROW_NUMBER() OVER (ORDER BY spine.d) AS i
       |  FROM spine LEFT JOIN dd ON spine.d = dd.d),
       |r AS (
       |  SELECT i, y,
       |    CASE WHEN y > 0 THEN 1 ELSE 0 END AS nd,
       |    CAST(CASE WHEN y > 0 THEN 1.0 ELSE 2.0 END AS DOUBLE)
       |      AS q,
       |    CASE WHEN y > 0 THEN y END AS z,
       |    CAST(CASE WHEN y > 0 THEN 1.0 END AS DOUBLE) AS p
       |  FROM series WHERE i = 1
       |  UNION ALL
       |  SELECT s.i, s.y,
       |    CASE WHEN s.y > 0 THEN r.nd + 1 ELSE r.nd END,
       |    CASE WHEN s.y > 0 THEN 1.0 ELSE r.q + 1.0 END,
       |    CASE WHEN s.y > 0 THEN
       |      CASE WHEN r.z IS NULL THEN s.y
       |        ELSE $alpha * s.y + $na * r.z END
       |      ELSE r.z END,
       |    CASE WHEN s.y > 0 THEN
       |      CASE WHEN r.p IS NULL THEN CAST(s.i AS DOUBLE)
       |        ELSE $alpha * r.q + $na * r.p END
       |      ELSE r.p END
       |  FROM r JOIN series s ON s.i = r.i + 1)
       |SELECT CAST(i AS BIGINT) AS n_days,
       |  CAST(nd AS BIGINT) AS n_demand_days,
       |  ROUND(CAST(i - nd AS DOUBLE) / i, 6) AS zero_share,
       |  ROUND(z, 6) AS z_hat,
       |  ROUND(p, 6) AS p_hat,
       |  ROUND(z / p, 6) AS forecast,
       |  ROUND(z / p * ${1 - alpha / 2.0}, 6) AS forecast_sba
       |FROM r ORDER BY i DESC LIMIT 1""".stripMargin
  }
}
