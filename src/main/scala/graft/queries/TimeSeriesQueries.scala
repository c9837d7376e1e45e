package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.operators.TimeSeriesOps
import graft.functions._

/** A1-A9 — the time-series core, exercised on the events table
  * (series key = user_id, timestamp = ts, value = value).
  */
object TimeSeriesQueries extends QueryPack {

  private def e(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** The (t-2h, t] user_id frame every ts_rolling_* key reads. */
  private def rolling2h(s: SparkSession, dir: String,
                        aggs: Seq[(String, Column => Column)],
                        minPeriods: Int = 1): DataFrame =
    TimeSeriesOps.cRolling(e(s, dir), Seq("user_id"), "ts", "value", 7200,
      aggs, minPeriods)

  private val minMaxSumCountMean: Seq[(String, Column => Column)] =
    Seq("roll_min" -> (c => min(c)), "roll_max" -> (c => max(c)),
      "roll_sum" -> (c => sum(c)), "roll_n" -> (c => count(c)),
      "roll_mean" -> (c => avg(c)))

  /** A1 `ts_rolling_center` — centered 2 h rolling mean (utils.py:32). */
  def tsRollingCenter(s: SparkSession, dir: String): DataFrame =
    rolling2h(s, dir, Seq("mean_2h" -> (c => avg(c))))
      .select(col("user_id"), fmtTs(col("ts_c")).as("ts_c"),
        r6(col("mean_2h")).as("mean_2h"))

  /** A2 `ts_rolling_multi` — min/max/sum/mean/count/median over the
    * same frame (median via sorted collect_list: Spark's median
    * aggregate is not frame-capable).
    */
  def tsRollingMulti(s: SparkSession, dir: String): DataFrame =
    rolling2h(s, dir, minMaxSumCountMean :+
        ("_frame" -> ((c: Column) => collect_list(c))))
      .select(col("user_id"), fmtTs(col("ts_c")).as("ts_c"),
        col("roll_min"), col("roll_max"), r6(col("roll_sum")).as("roll_sum"),
        col("roll_n"), r6(col("roll_mean")).as("roll_mean"),
        r6(TimeSeriesOps.medianOfArray(col("_frame"))).as("roll_med"))

  /** A2s `ts_rolling_scalable` — min/max/sum/n/mean over the same
    * (t-2h, t] frame as ts_rolling_multi.
    */
  def tsRollingScalable(s: SparkSession, dir: String): DataFrame =
    rolling2h(s, dir, minMaxSumCountMean)
      .select(col("user_id"), fmtTs(col("ts_c")).as("ts_c"),
        col("roll_min"), col("roll_max"), r6(col("roll_sum")).as("roll_sum"),
        col("roll_n"), r6(col("roll_mean")).as("roll_mean"))

  /** A2m `ts_rolling_median_scalable` — the exact rolling median and
    * count over the same (t-2h, t] frame as ts_rolling_multi, equal
    * to its `roll_med`/`roll_n`.
    */
  def tsRollingMedianScalable(s: SparkSession, dir: String): DataFrame =
    rolling2h(s, dir, Seq("roll_n" -> (c => count(c)),
        "_frame" -> (c => collect_list(c))))
      .select(col("user_id"), fmtTs(col("ts_c")).as("ts_c"),
        r6(TimeSeriesOps.medianOfArray(col("_frame"))).as("roll_med"),
        col("roll_n"))

  /** A12 `ts_step` — two-sample step detection: mean over [t, t+72h)
    * minus mean over [t-72h, t) per user, null when either side has
    * fewer than 3 observations. The flag derives from the r6-rounded
    * step (the ts_mad convention: booleans compare GRID values, so an
    * accumulation-order ulp can never flip a flag cross-engine); the
    * 25.0 threshold is ~half the value column's std — both flag
    * values occur at every sf.
    */
  def tsStep(s: SparkSession, dir: String): DataFrame = {
    val stepR = r6(col("step"))
    TimeSeriesOps.stepDetect(e(s, dir), Seq("user_id"), "ts", "value",
        windowSec = 259200, minPeriods = 3)
      .select(col("user_id"), fmtTs(col("ts")).as("ts"),
        stepR.as("step"),
        when(stepR.isNotNull, abs(stepR) > 25.0).as("is_step"))
  }

  /** A13 `ts_gaps` — per-user sampling-gap audit (threshold 12 h, the
    * sessionize convention). Pure integer microsecond arithmetic —
    * exact cross-engine, no rounding anywhere.
    */
  def tsGaps(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.gapReport(e(s, dir), Seq("user_id"), "ts",
      thresholdSec = 43200)

  /** A2+ `ts_rolling_std` — centered rolling sample standard deviation
    * (pandas `rolling('2h').std()`, ddof=1) with min_periods=2 — std
    * of a single observation is null in both engines, and min_periods
    * states it explicitly. Both engines run a numerically-stable
    * central-moments accumulator over the identical RANGE frame;
    * accumulation-order ulps are absorbed by r6.
    */
  def tsRollingStd(s: SparkSession, dir: String): DataFrame =
    rolling2h(s, dir, Seq("roll_std" -> (c => stddev_samp(c))), minPeriods = 2)
      .select(col("user_id"), fmtTs(col("ts_c")).as("ts_c"),
        r6(col("roll_std")).as("roll_std"))

  /** A3 `ts_resample_1d` — daily downsample (gpstools.py:350). */
  def tsResample1d(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.resample(e(s, dir), Seq("user_id"), "ts", "value", "day",
        Seq("mean_v" -> (c => avg(c)), "min_v" -> (c => min(c)),
          "max_v" -> (c => max(c)), "n" -> (c => count(c))))
      .select(col("user_id"), fmtDay(col("bucket")).as("day"),
        r6(col("mean_v")).as("mean_v"), col("min_v"), col("max_v"), col("n"))

  /** The click/view events as-of joined by `join` with the purchase
    * values per user — the three `ts_asof_*` keys differ only in the
    * join's direction.
    */
  private def asofPurchases(s: SparkSession, dir: String,
                            join: (DataFrame, DataFrame, Seq[String], String, Seq[String]) =>
                              DataFrame): DataFrame = {
    val ev = e(s, dir)
    val left = ev.filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val right = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("ref_value"))
    join(left, right, Seq("user_id"), "ts", Seq("ref_value"))
      .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts"),
        col("value"), col("ref_value"))
  }

  /** A4 `ts_asof_join` — backward as-of join of purchase values onto
    * click/view events (hydrotools.py:204 pattern).
    */
  def tsAsofJoin(s: SparkSession, dir: String): DataFrame =
    asofPurchases(s, dir, TimeSeriesOps.asofJoinBackward)

  /** A4f `ts_asof_forward` — the forward direction of the same join:
    * each click/view gets the NEXT purchase value at-or-after it
    * (pandas `merge_asof(direction='forward')`).
    */
  def tsAsofForward(s: SparkSession, dir: String): DataFrame =
    asofPurchases(s, dir, TimeSeriesOps.asofJoinForward)

  /** A4n `ts_asof_nearest` — the nearest direction: each click/view
    * gets the purchase value closest in absolute time (ties to the
    * earlier match), `merge_asof(direction='nearest')`. The pick runs
    * on exact integer microsecond distances on both engines.
    */
  def tsAsofNearest(s: SparkSession, dir: String): DataFrame =
    asofPurchases(s, dir, TimeSeriesOps.asofJoinNearest)

  /** A5 `ts_interpolate` — linear gap fill (melt_model.py:403); gaps are
    * synthesized deterministically (every 10th event).
    */
  def tsInterpolate(s: SparkSession, dir: String): DataFrame = {
    val withGaps = e(s, dir).withColumn("value_n",
      when(col("event_id") % 10 === 0, lit(null)).otherwise(col("value")))
    TimeSeriesOps.interpolateLinear(withGaps, Seq("user_id"), "ts", "value_n", "value_i")
      .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts"),
        r6(col("value_i")).as("value_i"))
  }

  /** A6 `ts_doy` — decimal day-of-year (utils.py:66). Not rounded: the
    * formula is identical int/double IEEE arithmetic in both engines so
    * the doubles are bit-exact, while round() itself diverges between
    * engines exactly on decimal half-boundaries (which k/86400 hits
    * systematically).
    */
  def tsDoy(s: SparkSession, dir: String): DataFrame =
    e(s, dir).select(col("event_id"), col("user_id"),
      decimalDoy(col("ts")).as("doy"))

  /** A7 `ts_infer_sampling` — mode of consecutive deltas (gpstools.py:804). */
  def tsInferSampling(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.inferSampling(e(s, dir), Seq("user_id"), "ts")

  /** A8 `ts_quadrature` — add-in-quadrature (utils.py:59). */
  def tsQuadrature(s: SparkSession, dir: String): DataFrame =
    e(s, dir).select(col("event_id"), col("user_id"),
      r6(quadrature(col("value"), col("value") * 0.5)).as("quad"))

  /** A9 `ts_clip_window` — time-slice filter (gpstools.py:829), pushed
    * to the parquet scan as a raw-nanos range predicate (a filter on
    * the converted timestamp cannot cross the conversion expression).
    */
  def tsClipWindow(s: SparkSession, dir: String): DataFrame =
    Tables.eventsClipped(s, dir, "2024-01-10", "2024-01-20")
      .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts"), col("value"))

  /** A4+ `ts_upsample_nearest` — 6 h grid upsampling of the purchase
    * series per user (hydrotools.py:204 resample().nearest()).
    */
  def tsUpsampleNearest(s: SparkSession, dir: String): DataFrame = {
    val purchases = e(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    TimeSeriesOps.upsampleNearest(purchases, Seq("user_id"), "ts", "value", 21600)
      .select(col("user_id"), fmtTs(col("ts")).as("ts"), col("value"))
  }

  /** A9+ `ts_subset_windows` — multi-window subset (gpstools.py:746
    * `_subset_from_windows`): the envelope [min start, past max end)
    * goes through [[Tables.eventsClipped]] so a raw-nanos range reaches
    * the parquet scan as a PushedFilter, then the exact inclusive
    * windows (including a degenerate single-point one) apply row-local.
    */
  def tsSubsetWindows(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.subsetFromWindows(
        Tables.eventsClipped(s, dir, "2024-01-05", "2024-01-23"),
        "ts", Seq(
          ("2024-01-05 00:00:00", "2024-01-07 23:59:59"),
          ("2024-01-12 00:00:00", "2024-01-12 00:00:00"),
          ("2024-01-20 00:00:00", "2024-01-22 12:00:00")))
      .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts"),
        col("value"))

  /** A10 `ts_ewma` — windowed EWMA (α=0.25, last 32 observations) per
    * user ([[TimeSeriesOps.ewmaRows]]); the truncated form of pandas
    * `ewm(adjust=True).mean()` that keeps the operator a bounded row
    * frame instead of a per-key sequential recursion. Fully oracled:
    * both engines fold the same newest-first weighted sums, r6 absorbs
    * the libm pow/summation ulps.
    */
  def tsEwma(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.ewmaRows(
        e(s, dir).select(col("event_id"), col("user_id"), col("ts"), col("value")),
        Seq("user_id"), "ts", "value", alpha = 0.25, window = 32,
        tieCols = Seq("event_id"))
      .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts"),
        r6(col("ewma")).as("ewma"))

  /** A11 `ts_mad` — per-user MAD outlier flags
    * ([[TimeSeriesOps.madOutliers]], k=3.5 on the r4 grid): median and
    * MAD from exact histogram quantiles, flag fully deterministic
    * cross-engine (no output rounding needed — see the operator doc).
    */
  def tsMad(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.madOutliers(
        e(s, dir).select(col("event_id"), col("user_id"), col("value")),
        "user_id", "value", k = 3.5)
      .select(col("event_id"), col("user_id"), col("value"),
        col("med"), col("mad"), col("is_outlier"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_mad" -> tsMad,
    "ts_step" -> tsStep,
    "ts_gaps" -> tsGaps,
    "ts_ewma" -> tsEwma,
    "ts_subset_windows" -> tsSubsetWindows,
    "ts_upsample_nearest" -> tsUpsampleNearest,
    "ts_rolling_center" -> tsRollingCenter,
    "ts_rolling_multi" -> tsRollingMulti,
    "ts_rolling_scalable" -> tsRollingScalable,
    "ts_rolling_median_scalable" -> tsRollingMedianScalable,
    "ts_rolling_std" -> tsRollingStd,
    "ts_resample_1d" -> tsResample1d,
    "ts_asof_join" -> tsAsofJoin,
    "ts_asof_forward" -> tsAsofForward,
    "ts_asof_nearest" -> tsAsofNearest,
    "ts_interpolate" -> tsInterpolate,
    "ts_doy" -> tsDoy,
    "ts_infer_sampling" -> tsInferSampling,
    "ts_quadrature" -> tsQuadrature,
    "ts_clip_window" -> tsClipWindow)

  /** The `ts_asof_*` oracles' shared CTEs: click/view events (side 0)
    * and purchases (side 1) unioned per user, each purchase carrying
    * ONE row struct `pt` of its exact-µs timestamp and value, so every
    * direction returns the value of the one row it matched. A null `ts`
    * matches nothing: such purchases are dropped here, and each
    * oracle's `ref_value` is null on such clicks and views.
    */
  private val asofUnionSql =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |             event_type, value FROM events),
      |l AS (SELECT event_id, user_id, ts, value FROM e
      |      WHERE event_type IN ('click', 'view')),
      |r AS (SELECT user_id, ts, value AS ref_value FROM e
      |      WHERE event_type = 'purchase' AND ts IS NOT NULL),
      |u AS (
      |  SELECT 0 AS side, event_id, user_id, ts, value,
      |         CAST(NULL AS DOUBLE) AS ref_value,
      |         NULL::STRUCT(t BIGINT, v DOUBLE) AS pt FROM l
      |  UNION ALL
      |  SELECT 1, NULL, user_id, ts, NULL, ref_value,
      |         struct_pack(t := epoch_us(ts), v := ref_value) FROM r)""".stripMargin

  val oracles: Map[String, String] = Map(
    // both medians via the histogramQuantiles reach arithmetic on the
    // r4 grid; |sv-med|, 3.5*mad, and the comparison are the same IEEE
    // ops on identical doubles — no output rounding anywhere
    "ts_mad" ->
      """WITH t AS (SELECT event_id, user_id, value,
        |    CASE WHEN value IS NULL THEN NULL
        |         ELSE floor(value * 10000 + 0.5001) / 10000 END AS sv
        |  FROM events),
        |h AS (SELECT user_id, sv, count(*) AS n FROM t
        |  WHERE sv IS NOT NULL GROUP BY user_id, sv),
        |c AS (SELECT user_id, sv,
        |    sum(n) OVER (PARTITION BY user_id ORDER BY sv) AS cum,
        |    sum(n) OVER (PARTITION BY user_id) AS tot FROM h),
        |q AS (SELECT user_id,
        |    min(CASE WHEN cum * 2 >= tot THEN sv END) AS med
        |  FROM c GROUP BY user_id),
        |a AS (SELECT t.event_id, t.user_id, t.value, t.sv, q.med,
        |    abs(t.sv - q.med) AS ad
        |  FROM t LEFT JOIN q USING (user_id)),
        |h2 AS (SELECT user_id, ad, count(*) AS n FROM a
        |  WHERE ad IS NOT NULL GROUP BY user_id, ad),
        |c2 AS (SELECT user_id, ad,
        |    sum(n) OVER (PARTITION BY user_id ORDER BY ad) AS cum,
        |    sum(n) OVER (PARTITION BY user_id) AS tot FROM h2),
        |q2 AS (SELECT user_id,
        |    min(CASE WHEN cum * 2 >= tot THEN ad END) AS mad
        |  FROM c2 GROUP BY user_id)
        |SELECT a.event_id, a.user_id, a.value, a.med, q2.mad,
        |  CASE WHEN a.ad IS NULL THEN NULL
        |       ELSE a.ad > 3.5 * q2.mad END AS is_outlier
        |FROM a LEFT JOIN q2 USING (user_id)""".stripMargin,
    // lag over the same per-user microsecond order; counts and max
    // are integer-exact, single-obs users carry NULL gaps
    "ts_gaps" ->
      s"""WITH g AS (SELECT user_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) -
         |      lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
         |        (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)))
         |      AS gap
         |  FROM events)
         |SELECT user_id, count(*) AS n_obs,
         |  CAST(max(gap) AS BIGINT) AS max_gap_us,
         |  CAST(count(CASE WHEN gap > 43200000000 THEN 1 END) AS BIGINT)
         |    AS n_gaps_over
         |FROM g GROUP BY user_id""".stripMargin,
    // same asymmetric RANGE frames ([t-6h, t) / [t, t+6h)) over the
    // per-user microsecond order; the step rounds to the r6 grid FIRST
    // and the flag compares the grid value, so sum-order ulps cannot
    // flip is_step
    "ts_step" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         |s AS (SELECT user_id, ts,
         |    CASE WHEN count(value) OVER wb >= 3 AND count(value) OVER wa >= 3
         |      THEN floor((avg(value) OVER wa - avg(value) OVER wb)
         |        * 1000000 + 0.5001) / 1000000 END AS step
         |  FROM e
         |  WINDOW wb AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |    RANGE BETWEEN 259200000000 PRECEDING AND 1 PRECEDING),
         |  wa AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |    RANGE BETWEEN CURRENT ROW AND 259199999999 FOLLOWING))
         |SELECT user_id, strftime(ts, '$fmt') AS ts, step,
         |  CASE WHEN step IS NOT NULL THEN abs(step) > CAST(25.0 AS DOUBLE)
         |  END AS is_step
         |FROM s""".stripMargin,
    // same 32-row frame over (ts, event_id), nulls filtered before the
    // reverse (collect_list skip semantics), same newest-first
    // pow-weighted sums; 1-based list index -> power(beta, i-1)
    "ts_ewma" ->
      s"""WITH b AS (SELECT event_id, user_id, ts, value,
         |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS l
         |  FROM events),
         |r AS (SELECT event_id, user_id, ts,
         |    list_reverse(list_filter(l, x -> x IS NOT NULL)) AS rl
         |  FROM b)
         |SELECT event_id, user_id, strftime(ts, '$fmt') AS ts,
         |  CASE WHEN len(rl) > 0 THEN
         |    floor(list_sum(list_transform(rl, (x, i) -> x * power(0.75, i - 1)))
         |      / list_sum(list_transform(rl, (x, i) -> power(0.75, i - 1)))
         |      * 1000000 + 0.5001) / 1000000
         |  END AS ewma
         |FROM r""".stripMargin,
    "ts_upsample_nearest" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
         |           WHERE event_type = 'purchase'),
         |b AS (SELECT user_id, min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
         |      FROM e GROUP BY user_id),
         |grid AS (SELECT user_id,
         |    make_timestamp(unnest(generate_series(
         |      CAST(lo // 21600000000 AS BIGINT),
         |      CAST(hi // 21600000000 AS BIGINT))) * 21600000000) AS ts
         |  FROM b),
         |u AS (
         |  SELECT user_id, ts, CAST(NULL AS DOUBLE) AS v, 0 AS side FROM grid
         |  UNION ALL
         |  SELECT user_id, ts, value, 1 FROM e WHERE ts IS NOT NULL),
         |w AS (SELECT *,
         |  last_value(CASE WHEN v IS NOT NULL THEN struct_pack(t := epoch_us(ts), v := v) END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY ts ASC, side DESC, v ASC NULLS FIRST
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pr,
         |  first_value(CASE WHEN v IS NOT NULL THEN struct_pack(t := epoch_us(ts), v := v) END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY ts ASC, side DESC, v ASC NULLS FIRST
         |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx
         |  FROM u)
         |SELECT user_id, strftime(ts, '$fmt') AS ts,
         |  CASE WHEN nx IS NULL THEN pr.v
         |       WHEN pr IS NULL THEN nx.v
         |       WHEN epoch_us(ts) - pr.t <= nx.t - epoch_us(ts) THEN pr.v
         |       ELSE nx.v END AS value
         |FROM w WHERE side = 0""".stripMargin,
    "ts_rolling_center" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
         |SELECT user_id,
         |  strftime(ts - INTERVAL 3600 SECOND, '$fmt') AS ts_c,
         |  floor((avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
         |    RANGE BETWEEN 7199999999 PRECEDING AND CURRENT ROW)) * 1000000 + 0.5001) / 1000000 AS mean_2h
         |FROM e""".stripMargin,
    "ts_rolling_std" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
         |SELECT user_id,
         |  strftime(ts - INTERVAL 3600 SECOND, '$fmt') AS ts_c,
         |  CASE WHEN count(value) OVER w >= 2 THEN
         |    floor((stddev_samp(value) OVER w) * 1000000 + 0.5001) / 1000000
         |  END AS roll_std
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |  RANGE BETWEEN 7199999999 PRECEDING AND CURRENT ROW)""".stripMargin,
    "ts_rolling_multi" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
         |SELECT user_id,
         |  strftime(ts - INTERVAL 3600 SECOND, '$fmt') AS ts_c,
         |  min(value) OVER w AS roll_min,
         |  max(value) OVER w AS roll_max,
         |  floor((sum(value) OVER w) * 1000000 + 0.5001) / 1000000 AS roll_sum,
         |  count(value) OVER w AS roll_n,
         |  floor((avg(value) OVER w) * 1000000 + 0.5001) / 1000000 AS roll_mean,
         |  floor((median(value) OVER w) * 1000000 + 0.5001) / 1000000 AS roll_med
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |  RANGE BETWEEN 7199999999 PRECEDING AND CURRENT ROW)""".stripMargin,
    "ts_rolling_scalable" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
         |SELECT user_id,
         |  strftime(ts - INTERVAL 3600 SECOND, '$fmt') AS ts_c,
         |  min(value) OVER w AS roll_min,
         |  max(value) OVER w AS roll_max,
         |  floor((sum(value) OVER w) * 1000000 + 0.5001) / 1000000 AS roll_sum,
         |  count(value) OVER w AS roll_n,
         |  floor((avg(value) OVER w) * 1000000 + 0.5001) / 1000000 AS roll_mean
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |  RANGE BETWEEN 7199999999 PRECEDING AND CURRENT ROW)""".stripMargin,
    "ts_rolling_median_scalable" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
         |SELECT user_id,
         |  strftime(ts - INTERVAL 3600 SECOND, '$fmt') AS ts_c,
         |  floor((median(value) OVER w) * 1000000 + 0.5001) / 1000000 AS roll_med,
         |  count(value) OVER w AS roll_n
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |  RANGE BETWEEN 7199999999 PRECEDING AND CURRENT ROW)""".stripMargin,
    "ts_resample_1d" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
        |SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  floor((avg(value)) * 1000000 + 0.5001) / 1000000 AS mean_v, min(value) AS min_v,
        |  max(value) AS max_v, count(value) AS n
        |FROM e GROUP BY user_id, date_trunc('day', ts)""".stripMargin,
    "ts_asof_join" ->
      s"""$asofUnionSql,
         |f AS (SELECT *, last_value(pt IGNORE NULLS) OVER (
         |        PARTITION BY user_id
         |        ORDER BY ts ASC, side DESC, ref_value ASC NULLS FIRST
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pr
         |      FROM u)
         |SELECT event_id, user_id, strftime(ts, '$fmt') AS ts, value,
         |       CASE WHEN ts IS NOT NULL THEN pr.v END AS ref_value
         |FROM f WHERE side = 0""".stripMargin,
    "ts_asof_forward" ->
      s"""$asofUnionSql,
         |f AS (SELECT *, first_value(pt IGNORE NULLS) OVER (
         |        PARTITION BY user_id
         |        ORDER BY ts ASC, side ASC, ref_value ASC NULLS FIRST
         |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx
         |      FROM u)
         |SELECT event_id, user_id, strftime(ts, '$fmt') AS ts, value,
         |       CASE WHEN ts IS NOT NULL THEN nx.v END AS ref_value
         |FROM f WHERE side = 0""".stripMargin,
    "ts_asof_nearest" ->
      s"""$asofUnionSql,
         |w AS (SELECT *,
         |  last_value(pt IGNORE NULLS)
         |    OVER (PARTITION BY user_id
         |          ORDER BY ts ASC, side DESC, ref_value ASC NULLS FIRST
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pr,
         |  first_value(pt IGNORE NULLS)
         |    OVER (PARTITION BY user_id
         |          ORDER BY ts ASC, side DESC, ref_value ASC NULLS FIRST
         |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx
         |  FROM u)
         |SELECT event_id, user_id, strftime(ts, '$fmt') AS ts, value,
         |  CASE WHEN ts IS NULL THEN NULL
         |       WHEN nx IS NULL THEN pr.v
         |       WHEN pr IS NULL THEN nx.v
         |       WHEN epoch_us(ts) - pr.t <= nx.t - epoch_us(ts) THEN pr.v
         |       ELSE nx.v END AS ref_value
         |FROM w WHERE side = 0""".stripMargin,
    "ts_interpolate" ->
      s"""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         |b AS (SELECT event_id, user_id, ts, epoch_us(ts) AS eu,
         |        CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END AS v FROM e),
         |w AS (SELECT *,
         |  last_value(CASE WHEN v IS NOT NULL THEN struct_pack(t := eu, v := v) END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY ts, v ASC NULLS FIRST
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pr,
         |  first_value(CASE WHEN v IS NOT NULL THEN struct_pack(t := eu, v := v) END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY ts, v ASC NULLS FIRST
         |          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nx
         |  FROM b)
         |SELECT event_id, user_id, strftime(ts, '$fmt') AS ts,
         |  floor((CASE WHEN v IS NOT NULL THEN v
         |    WHEN pr IS NOT NULL AND nx IS NOT NULL
         |      THEN pr.v + (nx.v - pr.v) * (eu - pr.t) / (nx.t - pr.t)
         |    WHEN pr IS NOT NULL THEN pr.v END) * 1000000 + 0.5001) / 1000000 AS value_i
         |FROM w""".stripMargin,
    "ts_doy" ->
      """SELECT event_id, user_id,
        |  dayofyear(CAST(ts AS TIMESTAMP)) + hour(CAST(ts AS TIMESTAMP))/24.0
        |    + minute(CAST(ts AS TIMESTAMP))/(60.0*24)
        |    + second(CAST(ts AS TIMESTAMP))/(60.0*60*24) AS doy
        |FROM events""".stripMargin,
    "ts_infer_sampling" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |d AS (SELECT user_id, epoch_us(ts) AS eu,
        |        lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS pe
        |      FROM e),
        |dd AS (SELECT user_id,
        |         CAST(floor((eu - pe) / 1000000.0) AS BIGINT) % 86400 AS dt_s
        |       FROM d WHERE pe IS NOT NULL),
        |c AS (SELECT user_id, dt_s, count(*) AS n FROM dd GROUP BY 1, 2)
        |SELECT user_id, dt_s AS sampling_rate_s, n FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY n DESC, dt_s ASC) AS rn FROM c) t
        |WHERE rn = 1""".stripMargin,
    "ts_quadrature" ->
      """SELECT event_id, user_id,
        |  floor((sqrt(0.0 + value * value + (value * 0.5) * (value * 0.5))) * 1000000 + 0.5001) / 1000000 AS quad
        |FROM events""".stripMargin,
    "ts_clip_window" ->
      s"""SELECT event_id, user_id,
         |  strftime(CAST(ts AS TIMESTAMP), '$fmt') AS ts, value
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10'
         |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20'""".stripMargin,
    "ts_subset_windows" ->
      s"""SELECT event_id, user_id,
         |  strftime(CAST(ts AS TIMESTAMP), '$fmt') AS ts, value
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) BETWEEN TIMESTAMP '2024-01-05 00:00:00'
         |        AND TIMESTAMP '2024-01-07 23:59:59'
         |   OR CAST(ts AS TIMESTAMP) BETWEEN TIMESTAMP '2024-01-12 00:00:00'
         |        AND TIMESTAMP '2024-01-12 00:00:00'
         |   OR CAST(ts AS TIMESTAMP) BETWEEN TIMESTAMP '2024-01-20 00:00:00'
         |        AND TIMESTAMP '2024-01-22 12:00:00'""".stripMargin)
}
