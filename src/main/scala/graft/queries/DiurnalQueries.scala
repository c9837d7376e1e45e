package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.operators.Diurnal

/** B1-B6 — diurnal extrema on the events table (key=user_id). */
object DiurnalQueries extends QueryPack {

  private def e(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)
  private val K = Seq("user_id")

  private def formatted(ext: DataFrame, extra: Seq[(String, DataFrame => org.apache.spark.sql.Column)] = Nil): DataFrame = {
    val base = Seq(
      col("user_id"), fmtDay(col("day")).as("day"),
      col("min_val"), fmtTs(col("min_time")).as("min_time"),
      col("max_val"), fmtTs(col("max_time")).as("max_time"))
    ext.select(base ++ extra.map { case (n, f) => f(ext).as(n) }: _*)
  }

  /** B1 `diurnal_extrema` — per-day min/max picks (diurnal.py:301). */
  def diurnalExtrema(s: SparkSession, dir: String): DataFrame =
    formatted(Diurnal.extrema(e(s, dir), K, "ts", "value"))

  /** B2 `diurnal_minfirst` — min-first + 18 h max-next-day (diurnal.py:325). */
  def diurnalMinFirst(s: SparkSession, dir: String): DataFrame =
    formatted(Diurnal.extremaMinFirst(e(s, dir), K, "ts", "value"))

  /** B3 `diurnal_amplitude` — daily amplitude (diurnal.py:296). */
  def diurnalAmplitude(s: SparkSession, dir: String): DataFrame =
    formatted(Diurnal.amplitude(Diurnal.extrema(e(s, dir), K, "ts", "value")),
      Seq("amplitude" -> (df => r6(df("amplitude")))))

  /** B4 `diurnal_threshold` — amplitude >= 300 filter (diurnal.py:369). */
  def diurnalThreshold(s: SparkSession, dir: String): DataFrame =
    formatted(Diurnal.applyThreshold(Diurnal.extrema(e(s, dir), K, "ts", "value"), 300.0))

  /** B5 `diurnal_dechours` — decimal hours of the extrema (diurnal.py:257). */
  def diurnalDecHours(s: SparkSession, dir: String): DataFrame = {
    val ext = Diurnal.extrema(e(s, dir), K, "ts", "value")
    // not rounded: integer-µs / double-constant is bit-exact in both
    // engines, while round() diverges on decimal half-boundaries.
    formatted(ext, Seq(
      "min_hrs" -> (df => Diurnal.decimalHours(df("min_time"), df("day"))),
      "max_hrs" -> (df => Diurnal.decimalHours(df("max_time"), df("day")))))
  }

  /** B6 `diurnal_predict` — predicted-timing extrema, calibrated on the
    * first 8 days (diurnal.py:454).
    */
  def diurnalPredict(s: SparkSession, dir: String): DataFrame =
    formatted(Diurnal.extremaPredicted(e(s, dir), K, "ts", "value", "2024-01-09"))

  /** B1+ `diurnal_boundary` — extrema with the reference's
    * boundary-artifact rejection (diurnal.py:654 on_boundary).
    */
  def diurnalBoundary(s: SparkSession, dir: String): DataFrame =
    formatted(Diurnal.extremaBoundaryChecked(e(s, dir), K, "ts", "value"))

  /** B6+ `diurnal_predict_minfirst` — predicted windows with the
    * min-first interplay: the max window's start is clamped to the
    * day's found minimum (diurnal.py:313-316).
    */
  def diurnalPredictMinFirst(s: SparkSession, dir: String): DataFrame =
    formatted(Diurnal.extremaPredicted(e(s, dir), K, "ts", "value",
      "2024-01-09", minFirst = true))

  /** B5+ `diurnal_lag` — cross-series extrema-timing lag against the
    * reference series, user 0 (diurnal.py:24 `lag_df`): hours by which
    * each user's daily maximum trails user 0's. One broadcastable
    * per-day join on the tiny picks table; days where the reference has
    * no pick lag null (pandas' aligned-subtraction NaN).
    */
  def diurnalLag(s: SparkSession, dir: String): DataFrame =
    Diurnal.extremaLag(Diurnal.extrema(e(s, dir), K, "ts", "value"),
        "user_id", 0, "max")
      .select(col("user_id"), fmtDay(col("day")).as("day"),
        col("max_lag_hrs"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "diurnal_lag" -> diurnalLag,
    "diurnal_boundary" -> diurnalBoundary,
    "diurnal_predict_minfirst" -> diurnalPredictMinFirst,
    "diurnal_extrema" -> diurnalExtrema,
    "diurnal_minfirst" -> diurnalMinFirst,
    "diurnal_amplitude" -> diurnalAmplitude,
    "diurnal_threshold" -> diurnalThreshold,
    "diurnal_dechours" -> diurnalDecHours,
    "diurnal_predict" -> diurnalPredict)

  /** Shared oracle CTE prefix: per-user-per-day extrema with
    * first-occurrence tie-break, mirroring Diurnal.extrema.
    */
  private val extCte =
    s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
       |w AS (SELECT *, date_trunc('day', ts) AS d,
       |        min(value) OVER (PARTITION BY user_id, date_trunc('day', ts)) AS minv,
       |        max(value) OVER (PARTITION BY user_id, date_trunc('day', ts)) AS maxv
       |      FROM e),
       |ext AS (SELECT user_id, d, minv,
       |          min(CASE WHEN value = minv THEN ts END) AS min_time,
       |          maxv,
       |          min(CASE WHEN value = maxv THEN ts END) AS max_time
       |        FROM w GROUP BY user_id, d, minv, maxv)""".stripMargin

  val oracles: Map[String, String] = Map(
    "diurnal_lag" ->
      s"""$extCte,
         |hrs AS (SELECT user_id, d,
         |    (epoch_us(max_time) - epoch_us(d)) / (3600.0 * 1000000) AS h
         |  FROM ext)
         |SELECT a.user_id, strftime(a.d, '%Y-%m-%d') AS day,
         |  a.h - r.h AS max_lag_hrs
         |FROM hrs a LEFT JOIN (SELECT d, h FROM hrs WHERE user_id = 0) r
         |  ON a.d = r.d
         |WHERE a.user_id <> 0""".stripMargin,
    "diurnal_boundary" ->
      s"""$extCte,
         |obs AS (SELECT user_id, ts, value,
         |    min(ts) OVER dp AS first_ts, max(ts) OVER dp AS last_ts,
         |    count(value) OVER nb AS nb_n,
         |    min(value) OVER nb AS nb_min,
         |    (min({'v': value, 't': ts}) OVER nb).t AS nb_min_ts,
         |    max(value) OVER nb AS nb_max,
         |    (max({'v': value, 'nu': -epoch_us(ts), 't': ts}) OVER nb).t AS nb_max_ts
         |  FROM e
         |  WINDOW dp AS (PARTITION BY user_id, date_trunc('day', ts)),
         |         nb AS (PARTITION BY user_id ORDER BY ts
         |                ROWS BETWEEN 5 PRECEDING AND 4 FOLLOWING)),
         |mc AS (SELECT ext.user_id, ext.d,
         |    CASE WHEN NOT (ext.min_time = o.first_ts OR ext.min_time = o.last_ts)
         |           OR (o.nb_n >= 3 AND (o.nb_min_ts = ext.min_time OR o.nb_min = ext.minv))
         |         THEN ext.minv END AS min_val,
         |    CASE WHEN NOT (ext.min_time = o.first_ts OR ext.min_time = o.last_ts)
         |           OR (o.nb_n >= 3 AND (o.nb_min_ts = ext.min_time OR o.nb_min = ext.minv))
         |         THEN ext.min_time END AS min_time,
         |    ext.maxv, ext.max_time
         |  FROM ext LEFT JOIN obs o
         |    ON ext.user_id = o.user_id AND ext.min_time = o.ts),
         |bc AS (SELECT mc.user_id, mc.d, mc.min_val, mc.min_time,
         |    CASE WHEN NOT (mc.max_time = o.first_ts OR mc.max_time = o.last_ts)
         |           OR (o.nb_n >= 3 AND (o.nb_max_ts = mc.max_time OR o.nb_max = mc.maxv))
         |         THEN mc.maxv END AS max_val,
         |    CASE WHEN NOT (mc.max_time = o.first_ts OR mc.max_time = o.last_ts)
         |           OR (o.nb_n >= 3 AND (o.nb_max_ts = mc.max_time OR o.nb_max = mc.maxv))
         |         THEN mc.max_time END AS max_time
         |  FROM mc LEFT JOIN obs o
         |    ON mc.user_id = o.user_id AND mc.max_time = o.ts)
         |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
         |  min_val, strftime(min_time, '$fmt') AS min_time,
         |  max_val, strftime(max_time, '$fmt') AS max_time
         |FROM bc""".stripMargin,
    "diurnal_predict_minfirst" ->
      s"""$extCte,
         |occ AS (SELECT user_id,
         |    round(avg(round((epoch_us(min_time) - epoch_us(d)) / (3600.0 * 1000000))), 3) AS min_occ,
         |    round(avg(round((epoch_us(max_time) - epoch_us(d)) / (3600.0 * 1000000))), 3) AS max_occ
         |  FROM ext WHERE d < TIMESTAMP '2024-01-09' GROUP BY user_id),
         |dayso AS (SELECT DISTINCT e.user_id, date_trunc('day', ts) AS d,
         |            min_occ, max_occ
         |          FROM e JOIN occ ON e.user_id = occ.user_id),
         |minp AS (SELECT user_id, d, mv AS min_val,
         |           min(CASE WHEN value = mv THEN ts END) AS min_time FROM (
         |    SELECT o.user_id, o.d, e.value, e.ts,
         |      min(e.value) OVER (PARTITION BY o.user_id, o.d) AS mv
         |    FROM dayso o JOIN e ON e.user_id = o.user_id
         |      AND epoch_us(e.ts) >= epoch_us(o.d) + CAST(floor((o.min_occ - 8.0) * (3600.0 * 1000000)) AS BIGINT)
         |      AND epoch_us(e.ts) <= epoch_us(o.d) + CAST(floor((o.min_occ + 8.0) * (3600.0 * 1000000)) AS BIGINT)) t
         |  GROUP BY user_id, d, mv),
         |maxp AS (SELECT user_id, d, mv AS max_val,
         |           min(CASE WHEN value = mv THEN ts END) AS max_time FROM (
         |    SELECT o.user_id, o.d, e.value, e.ts,
         |      max(e.value) OVER (PARTITION BY o.user_id, o.d) AS mv
         |    FROM dayso o
         |    LEFT JOIN minp mi ON o.user_id = mi.user_id AND o.d = mi.d
         |    JOIN e ON e.user_id = o.user_id
         |      AND epoch_us(e.ts) >= greatest(
         |            epoch_us(o.d) + CAST(floor((o.max_occ - 8.0) * (3600.0 * 1000000)) AS BIGINT),
         |            coalesce(epoch_us(mi.min_time), -9223372036854775807))
         |      AND epoch_us(e.ts) <= epoch_us(o.d) + CAST(floor((o.max_occ + 8.0) * (3600.0 * 1000000)) AS BIGINT)) t
         |  GROUP BY user_id, d, mv)
         |SELECT da.user_id, strftime(da.d, '%Y-%m-%d') AS day,
         |  mi.min_val, strftime(mi.min_time, '$fmt') AS min_time,
         |  ma.max_val, strftime(ma.max_time, '$fmt') AS max_time
         |FROM dayso da
         |LEFT JOIN minp mi ON da.user_id = mi.user_id AND da.d = mi.d
         |LEFT JOIN maxp ma ON da.user_id = ma.user_id AND da.d = ma.d
         |WHERE mi.min_val IS NULL OR ma.max_val IS NULL
         |   OR NOT (mi.min_val > ma.max_val)""".stripMargin,
    "diurnal_extrema" ->
      s"""$extCte
         |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
         |  minv AS min_val, strftime(min_time, '$fmt') AS min_time,
         |  maxv AS max_val, strftime(max_time, '$fmt') AS max_time
         |FROM ext""".stripMargin,
    "diurnal_minfirst" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         |w AS (SELECT *, date_trunc('day', ts) AS d,
         |        min(value) OVER (PARTITION BY user_id, date_trunc('day', ts)) AS minv
         |      FROM e),
         |mins AS (SELECT user_id, d, minv AS min_val,
         |           min(CASE WHEN value = minv THEN ts END) AS min_time
         |         FROM w GROUP BY user_id, d, minv),
         |cand AS (SELECT m.user_id, m.d, m.min_val, m.min_time, e.value, e.ts
         |         FROM mins m JOIN e ON e.user_id = m.user_id
         |           AND e.ts >= m.min_time
         |           AND e.ts <= m.min_time + INTERVAL 18 HOUR),
         |cw AS (SELECT *, max(value) OVER (PARTITION BY user_id, d) AS maxv FROM cand)
         |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
         |  min_val, strftime(min_time, '$fmt') AS min_time,
         |  maxv AS max_val,
         |  strftime(min(CASE WHEN value = maxv THEN ts END), '$fmt') AS max_time
         |FROM cw GROUP BY user_id, d, min_val, min_time, maxv
         |HAVING NOT (min_val > maxv)""".stripMargin,
    "diurnal_amplitude" ->
      s"""$extCte
         |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
         |  minv AS min_val, strftime(min_time, '$fmt') AS min_time,
         |  maxv AS max_val, strftime(max_time, '$fmt') AS max_time,
         |  floor((maxv - minv) * 1000000 + 0.5001) / 1000000 AS amplitude
         |FROM ext""".stripMargin,
    "diurnal_threshold" ->
      s"""$extCte
         |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
         |  minv AS min_val, strftime(min_time, '$fmt') AS min_time,
         |  maxv AS max_val, strftime(max_time, '$fmt') AS max_time
         |FROM ext WHERE NOT (maxv - minv < 300.0)""".stripMargin,
    "diurnal_dechours" ->
      s"""$extCte
         |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
         |  minv AS min_val, strftime(min_time, '$fmt') AS min_time,
         |  maxv AS max_val, strftime(max_time, '$fmt') AS max_time,
         |  (epoch_us(min_time) - epoch_us(d)) / (3600.0 * 1000000) AS min_hrs,
         |  (epoch_us(max_time) - epoch_us(d)) / (3600.0 * 1000000) AS max_hrs
         |FROM ext""".stripMargin,
    "diurnal_predict" ->
      s"""$extCte,
         |occ AS (SELECT user_id,
         |    round(avg(round((epoch_us(min_time) - epoch_us(d)) / (3600.0 * 1000000))), 3) AS min_occ,
         |    round(avg(round((epoch_us(max_time) - epoch_us(d)) / (3600.0 * 1000000))), 3) AS max_occ
         |  FROM ext WHERE d < TIMESTAMP '2024-01-09' GROUP BY user_id),
         |dayso AS (SELECT DISTINCT e.user_id, date_trunc('day', ts) AS d,
         |            min_occ, max_occ
         |          FROM e JOIN occ ON e.user_id = occ.user_id),
         |minp AS (SELECT user_id, d, mv AS min_val,
         |           min(CASE WHEN value = mv THEN ts END) AS min_time FROM (
         |    SELECT o.user_id, o.d, e.value, e.ts,
         |      min(e.value) OVER (PARTITION BY o.user_id, o.d) AS mv
         |    FROM dayso o JOIN e ON e.user_id = o.user_id
         |      AND epoch_us(e.ts) >= epoch_us(o.d) + CAST(floor((o.min_occ - 8.0) * (3600.0 * 1000000)) AS BIGINT)
         |      AND epoch_us(e.ts) <= epoch_us(o.d) + CAST(floor((o.min_occ + 8.0) * (3600.0 * 1000000)) AS BIGINT)) t
         |  GROUP BY user_id, d, mv),
         |maxp AS (SELECT user_id, d, mv AS max_val,
         |           min(CASE WHEN value = mv THEN ts END) AS max_time FROM (
         |    SELECT o.user_id, o.d, e.value, e.ts,
         |      max(e.value) OVER (PARTITION BY o.user_id, o.d) AS mv
         |    FROM dayso o JOIN e ON e.user_id = o.user_id
         |      AND epoch_us(e.ts) >= epoch_us(o.d) + CAST(floor((o.max_occ - 8.0) * (3600.0 * 1000000)) AS BIGINT)
         |      AND epoch_us(e.ts) <= epoch_us(o.d) + CAST(floor((o.max_occ + 8.0) * (3600.0 * 1000000)) AS BIGINT)) t
         |  GROUP BY user_id, d, mv)
         |SELECT da.user_id, strftime(da.d, '%Y-%m-%d') AS day,
         |  mi.min_val, strftime(mi.min_time, '$fmt') AS min_time,
         |  ma.max_val, strftime(ma.max_time, '$fmt') AS max_time
         |FROM dayso da
         |LEFT JOIN minp mi ON da.user_id = mi.user_id AND da.d = mi.d
         |LEFT JOIN maxp ma ON da.user_id = ma.user_id AND da.d = ma.d
         |WHERE mi.min_val IS NULL OR ma.max_val IS NULL
         |   OR NOT (mi.min_val > ma.max_val)""".stripMargin)
}
