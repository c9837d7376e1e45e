package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.operators.{Hydro, TimeSeriesOps}
import graft.api.HydroPipelines
import graft.functions._

/** D1-D5 — hydrology: water pressure -> hydraulic head (reference
  * hydrotools.py). Sensor series are synthesized deterministically from
  * events (click = submerged level, purchase = barometric pressure).
  */
object HydroQueries extends QueryPack {

  private def e(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** D1 `hydro_units` — the conversion-factor table (units.py:33-48),
    * including a derived reverse factor. Bit-exact: no rounding.
    */
  def hydroUnits(s: SparkSession, dir: String): DataFrame =
    e(s, dir).select(col("event_id"), col("value"),
      convertUnits("mbar", "mH2O", col("value")).as("mbar_to_mh2o"),
      convertUnits("mbar", "ftH2O", col("value")).as("mbar_to_fth2o"),
      convertUnits("ft", "m", col("value")).as("ft_to_m"),
      convertUnits("in", "mm", col("value")).as("in_to_mm"),
      convertUnits("mH2O", "mbar", col("value")).as("mh2o_to_mbar"))

  /** D2 `hydro_fob` — fraction of overburden (hydrotools.py:98/119). */
  def hydroFob(s: SparkSession, dir: String): DataFrame =
    e(s, dir).select(col("event_id"),
      wlb2fob(col("value"), lit(503.0)).as("fob_wlb"),
      gwl2fob(col("value") + 200.0, lit(503.0), lit(765.8)).as("fob_gwl"))

  /** D3 `hydro_patm_correct` — atmospheric-pressure correction
    * (hydrotools.py:479-545 calc_wlb_jeme): as-of join the barometric
    * series onto the level series per sensor, subtract the drift from
    * the zero reading (first barometric value).
    */
  def hydroPatmCorrect(s: SparkSession, dir: String): DataFrame = {
    val ev = e(s, dir)
    val water = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("value") * 0.05).as("lvl"))
    val atm = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        convertUnits("mbar", "mH2O", col("value")).as("p_atm"))
    Hydro.atmosphericCorrection(water, atm, Seq("user_id"), "ts", "lvl", "p_atm")
      .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts"),
        col("lvl_corrected"))
  }

  /** D4 `hydro_piecewise` — dated sensor-height intervals
    * (hydrotools.py:410-446 calc_wlb_pira's piz_hgt assignment): a tiny
    * interval table broadcast-joined on a range condition.
    */
  def hydroPiecewise(s: SparkSession, dir: String): DataFrame =
    Hydro.piecewiseIntervals(s, e(s, dir), "ts", Seq(
        ("2024-01-01", "2024-01-08", 299.31),
        ("2024-01-08", "2024-01-15", 293.81),
        ("2024-01-15", "2024-01-22", 288.99),
        ("2024-01-22", "2024-02-01", 284.66)), "sensor_height")
      .select(col("event_id"), col("user_id"), col("sensor_height"),
        (col("value") * 0.05 + col("sensor_height")).as("wlb"),
        wlb2fob(col("value") * 0.05 + col("sensor_height"), lit(503.0)).as("fob"))

  /** D5 `hydro_stage` — stream stage from ultrasonic distance
    * (hydrotools.py:239-276 calc_stage_radi): drop bad readouts
    * (sensor max-range value), stage = datum - reading in meters.
    */
  def hydroStage(s: SparkSession, dir: String): DataFrame =
    Hydro.streamStageFromReadings(e(s, dir), "value")
      .select(col("event_id"), col("user_id"), col("stage"), col("logger_to_stream"))

  /** D3+D4+D2 composite `hydro_wlb_pipeline` — the reference's
    * calc_wlb_jeme end-to-end (hydrotools.py:479): barometric as-of
    * correction, dated sensor-height intervals, raw+corrected water
    * level above bed with overburden fraction and sea-level altitude,
    * one post-hoc cleanout window dropped.
    */
  def hydroWlbPipeline(s: SparkSession, dir: String): DataFrame = {
    val ev = e(s, dir)
    val water = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("value") * 0.05).as("lvl"))
    val atm = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        convertUnits("mbar", "mH2O", col("value")).as("p_atm"))
    HydroPipelines.calcWlbJeme(s, water, atm, Seq("user_id"),
        heightIntervals = Seq(
          ("2024-01-01", "2024-01-08", 299.31),
          ("2024-01-08", "2024-01-15", 293.81),
          ("2024-01-15", "2024-01-22", 288.99),
          ("2024-01-22", "2024-02-01", 284.66)),
        dropWindows = Seq(("2024-01-10", "2024-01-11")))
      .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts"),
        col("sensor_hgt"), col("submerged_depth"),
        col("submerged_depth_corrected"),
        col("water_level_above_bed"), col("water_level_above_bed_corrected"),
        col("water_level_above_bed_fob"), col("ground_water_level_altitude"),
        col("ground_water_level_altitude_corrected"))
  }

  /** D4+D2 composite `hydro_wlb_pira` — calc_wlb_pira
    * (hydrotools.py:410): 3-sec lowering log (heights from dated
    * intervals; out-of-interval rows drop like the reference's dropna)
    * unioned with the 15-min monitoring log at the final height,
    * physically-impossible levels filtered.
    */
  def hydroWlbPira(s: SparkSession, dir: String): DataFrame = {
    val ev = e(s, dir)
    val lowering = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("value") * 0.01).as("Lvl"))
    val monitoring = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("value") * 0.01).as("Lvl"))
    HydroPipelines.calcWlbPira(s, lowering, monitoring,
        zeroReading = 1.14,
        heightIntervals = Seq(
          ("2024-01-01", "2024-01-08", 348.5),
          ("2024-01-08", "2024-01-15", 345.45)),
        finalHeight = 340.0)
      .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts"),
        col("piz_hgt"), col("submerged_depth"),
        col("water_level_above_bed"), col("water_level_above_bed_fob"),
        col("ground_water_level_altitude"))
  }

  /** D5+ composite `hydro_stage_jeme` — calc_stage_jeme
    * (hydrotools.py:278): dual distance-ranger stage with the
    * bad_data_readout=80 filter and both sensor distances in meters.
    */
  def hydroStageJeme(s: SparkSession, dir: String): DataFrame =
    HydroPipelines.calcStageJeme(
        e(s, dir).select(col("event_id"), col("user_id"), col("ts"),
          col("value").as("water_reading"),
          (col("value") * 0.5).as("ablation_reading")))
      .select(col("event_id"), col("user_id"), col("stage"),
        col("logger_to_stream"), col("logger_to_ground"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hydro_units" -> hydroUnits,
    "hydro_fob" -> hydroFob,
    "hydro_patm_correct" -> hydroPatmCorrect,
    "hydro_piecewise" -> hydroPiecewise,
    "hydro_stage" -> hydroStage,
    "hydro_wlb_pipeline" -> hydroWlbPipeline,
    "hydro_wlb_pira" -> hydroWlbPira,
    "hydro_stage_jeme" -> hydroStageJeme)

  val oracles: Map[String, String] = Map(
    "hydro_units" ->
      """SELECT event_id, value,
        |  value * 0.0102 AS mbar_to_mh2o,
        |  value * 0.03346 AS mbar_to_fth2o,
        |  value * 0.3048 AS ft_to_m,
        |  value * 25.4 AS in_to_mm,
        |  value * (1.0 / 0.0102) AS mh2o_to_mbar
        |FROM events""".stripMargin,
    "hydro_fob" ->
      """SELECT event_id,
        |  value / ((917.0 / 1000.0) * 503.0) AS fob_wlb,
        |  ((value + 200.0) - (CAST(765.8 AS DOUBLE) - CAST(503.0 AS DOUBLE))) / ((917.0 / 1000.0) * 503.0) AS fob_gwl
        |FROM events""".stripMargin,
    "hydro_patm_correct" ->
      s"""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         |             event_type, value FROM events),
         |water AS (SELECT event_id, user_id, ts, value * 0.05 AS lvl FROM e
         |          WHERE event_type = 'click'),
         |atm AS (SELECT user_id, ts, value * 0.0102 AS p_atm FROM e
         |        WHERE event_type = 'purchase'),
         |p0 AS (SELECT user_id, arg_min(p_atm, ts) AS p0 FROM atm GROUP BY user_id),
         |u AS (
         |  SELECT 0 AS side, event_id, user_id, ts, lvl,
         |         CAST(NULL AS DOUBLE) AS p_atm FROM water
         |  UNION ALL
         |  SELECT 1, NULL, user_id, ts, NULL, p_atm FROM atm),
         |f AS (SELECT *, last_value(p_atm IGNORE NULLS) OVER (
         |        PARTITION BY user_id ORDER BY ts ASC, side DESC
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pa
         |      FROM u)
         |SELECT f.event_id, f.user_id, strftime(f.ts, '$fmt') AS ts,
         |  f.lvl - (f.pa - p0.p0) AS lvl_corrected
         |FROM f JOIN p0 ON f.user_id = p0.user_id
         |WHERE f.side = 0""".stripMargin,
    "hydro_piecewise" ->
      """SELECT event_id, user_id, sensor_height,
        |  value * 0.05 + sensor_height AS wlb,
        |  (value * 0.05 + sensor_height) / ((917.0 / 1000.0) * 503.0) AS fob
        |FROM events
        |JOIN (VALUES
        |  (TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-08', 299.31),
        |  (TIMESTAMP '2024-01-08', TIMESTAMP '2024-01-15', 293.81),
        |  (TIMESTAMP '2024-01-15', TIMESTAMP '2024-01-22', 288.99),
        |  (TIMESTAMP '2024-01-22', TIMESTAMP '2024-02-01', 284.66)
        |) AS iv(lo, hi, sensor_height)
        |ON CAST(ts AS TIMESTAMP) >= iv.lo AND CAST(ts AS TIMESTAMP) < iv.hi""".stripMargin,
    "hydro_stage" ->
      """SELECT event_id, user_id,
        |  4.0 - value * 0.0254 AS stage,
        |  value * 0.0254 AS logger_to_stream
        |FROM events WHERE value < 67.0""".stripMargin,
    "hydro_wlb_pipeline" ->
      s"""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         |             event_type, value FROM events),
         |water AS (SELECT event_id, user_id, ts, value * 0.05 AS lvl FROM e
         |          WHERE event_type = 'click'),
         |atm AS (SELECT user_id, ts, value * 0.0102 AS p_atm FROM e
         |        WHERE event_type = 'purchase'),
         |p0 AS (SELECT user_id, arg_min(p_atm, ts) AS p0 FROM atm GROUP BY user_id),
         |u AS (
         |  SELECT 0 AS side, event_id, user_id, ts, lvl,
         |         CAST(NULL AS DOUBLE) AS p_atm FROM water
         |  UNION ALL
         |  SELECT 1, NULL, user_id, ts, NULL, p_atm FROM atm),
         |f AS (SELECT *, last_value(p_atm IGNORE NULLS) OVER (
         |        PARTITION BY user_id ORDER BY ts ASC, side DESC
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pa
         |      FROM u),
         |c AS (SELECT f.event_id, f.user_id, f.ts, f.lvl,
         |        f.lvl - (f.pa - p0.p0) AS lvl_corrected
         |      FROM f JOIN p0 ON f.user_id = p0.user_id
         |      WHERE f.side = 0
         |        AND NOT (f.ts >= TIMESTAMP '2024-01-10'
         |             AND f.ts < TIMESTAMP '2024-01-11')),
         |h AS (SELECT c.*, iv.h AS sensor_hgt FROM c
         |      JOIN (VALUES
         |        (TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-08', 299.31),
         |        (TIMESTAMP '2024-01-08', TIMESTAMP '2024-01-15', 293.81),
         |        (TIMESTAMP '2024-01-15', TIMESTAMP '2024-01-22', 288.99),
         |        (TIMESTAMP '2024-01-22', TIMESTAMP '2024-02-01', 284.66)
         |      ) AS iv(lo, hi, h)
         |      ON c.ts >= iv.lo AND c.ts < iv.hi)
         |SELECT event_id, user_id, strftime(ts, '$fmt') AS ts, sensor_hgt,
         |  lvl AS submerged_depth,
         |  lvl_corrected AS submerged_depth_corrected,
         |  lvl + sensor_hgt AS water_level_above_bed,
         |  lvl_corrected + sensor_hgt AS water_level_above_bed_corrected,
         |  (lvl + sensor_hgt) / ((917.0 / 1000.0) * 503.0) AS water_level_above_bed_fob,
         |  (lvl + sensor_hgt) + (CAST(765.8 AS DOUBLE) - CAST(503.0 AS DOUBLE)) AS ground_water_level_altitude,
         |  (lvl_corrected + sensor_hgt) + (CAST(765.8 AS DOUBLE) - CAST(503.0 AS DOUBLE)) AS ground_water_level_altitude_corrected
         |FROM h""".stripMargin,
    "hydro_wlb_pira" ->
      s"""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         |             event_type, value FROM events),
         |low AS (SELECT event_id, user_id, ts,
         |          -((value * 0.01) * 0.3048) + 1.14 AS submerged_depth,
         |          iv.h AS piz_hgt
         |        FROM e JOIN (VALUES
         |          (TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-08', 348.5),
         |          (TIMESTAMP '2024-01-08', TIMESTAMP '2024-01-15', 345.45)
         |        ) AS iv(lo, hi, h)
         |        ON ts >= iv.lo AND ts < iv.hi
         |        WHERE event_type = 'view'),
         |mon AS (SELECT event_id, user_id, ts,
         |          -((value * 0.01) * 0.3048) + 1.14 AS submerged_depth,
         |          340.0 AS piz_hgt
         |        FROM e WHERE event_type = 'signup'),
         |u AS (SELECT * FROM low UNION ALL SELECT * FROM mon),
         |w AS (SELECT *, submerged_depth + piz_hgt AS wlb FROM u)
         |SELECT event_id, user_id, strftime(ts, '$fmt') AS ts, piz_hgt,
         |  submerged_depth,
         |  wlb AS water_level_above_bed,
         |  wlb / ((917.0 / 1000.0) * 503.0) AS water_level_above_bed_fob,
         |  wlb + (CAST(764.9 AS DOUBLE) - CAST(503.0 AS DOUBLE)) AS ground_water_level_altitude
         |FROM w WHERE wlb IS NULL OR NOT (wlb > 503.0)""".stripMargin,
    "hydro_stage_jeme" ->
      """SELECT event_id, user_id,
        |  4.0 - value * 0.0254 AS stage,
        |  value * 0.0254 AS logger_to_stream,
        |  (value * 0.5) * 0.0254 AS logger_to_ground
        |FROM events WHERE value < 80.0""".stripMargin)
}
