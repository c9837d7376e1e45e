package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Weather-station / melt-model operators (SURVEY §2 E1-E4; reference
  * melt_model.py `WeatherStation`).
  */
object Melt {

  /** Shadow correction (E1; melt_model.py:366 apply_shadow_correction):
    * inside the daily shaded time-of-day window, observations below
    * min(first, last) of that day's shaded subset are spurious drops;
    * they are nulled and linearly interpolated over (per key).
    *
    * @param shadeStartMin/shadeEndMin  shaded window as minutes-of-day,
    *        inclusive (reference between_time at minute resolution)
    */
  def shadowCorrection(df: DataFrame, keys: Seq[String], tsCol: String,
                       solarCol: String, shadeStartMin: Int, shadeEndMin: Int,
                       outCol: String = "solar_corrected"): DataFrame = {
    val mod = hour(col(tsCol)) * 60 + minute(col(tsCol))
    val shaded = mod >= shadeStartMin && mod <= shadeEndMin
    val dayPart = Window
      .partitionBy(keys.map(col) :+ date_trunc("day", col(tsCol)): _*)
      .orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val sFirst = first(when(shaded, col(solarCol)), ignoreNulls = true).over(dayPart)
    val sLast = last(when(shaded, col(solarCol)), ignoreNulls = true).over(dayPart)
    val masked = df.withColumn("_masked",
      when(shaded && col(solarCol) < least(sFirst, sLast), lit(null).cast("double"))
        .otherwise(col(solarCol)))
    TimeSeriesOps.interpolateLinear(masked, keys, tsCol, "_masked", outCol)
      .drop("_masked")
  }

  private val HourUs = 3600L * 1000000L

  /** The trailing 2 h incoming and reflected means calc_albedo smooths
    * with (c_rolling('2H') before its -1 h index shift).
    */
  private def albedoFrames(incomingCol: String, reflectedCol: String) = Seq(
    TimeSeriesOps.RollingFrame("_inc_s", 2 * HourUs, 0L, avg(col(incomingCol)).over(_)),
    TimeSeriesOps.RollingFrame("_out_s", 2 * HourUs, 0L, avg(col(reflectedCol)).over(_)))

  /** `df` plus one column per frame and the time bucket `_b`, from one
    * call of the rolling body; `tsCol` crosses its exchange as epoch
    * microseconds.
    */
  private def rolled(df: DataFrame, keys: Seq[String], tsCol: String,
                     frames: Seq[TimeSeriesOps.RollingFrame]): DataFrame =
    TimeSeriesOps.rollingFrames(df.withColumn(tsCol, unix_micros(col(tsCol))),
        keys, tsCol, frames)
      .withColumn(tsCol, timestamp_micros(col(tsCol)))

  /** A smoothed ratio of 1 or more is invalid (melt_model.py:424). */
  private def validAlbedo(raw: Column): Column =
    when(raw >= 1.0, lit(null).cast("double")).otherwise(raw)

  /** Continuous (per-observation) albedo (melt_model.py:408 calc_albedo
    * with daily=False): ratio of the 2 h c_rolling-smoothed reflected
    * and incoming series, >= 1 invalid -> null + forward-filled.
    */
  def continuousAlbedo(df: DataFrame, keys: Seq[String], tsCol: String,
                       incomingCol: String, reflectedCol: String): DataFrame = {
    val d = rolled(df, keys, tsCol, albedoFrames(incomingCol, reflectedCol))
      .withColumn("_alb", validAlbedo(col("_out_s") / col("_inc_s")))
      .drop("_inc_s", "_out_s", "_b")
    TimeSeriesOps.ffill(d, keys, tsCol, Seq("_alb"))
      .withColumnRenamed("_alb", "albedo")
  }

  /** Daily albedo from [[rolled]] rows carrying `_inc_s` and `_out_s`:
    * per day of the -1 h shifted index, reflected/incoming at the row of
    * maximum smoothed incoming (the earliest on ties; rows that share a
    * timestamp share a frame, so the pick is unique), then >= 1 nulled
    * and forward-filled from the previous day.
    *
    * The pick is an aggregate per (key, bucket, day), which runs inside
    * the rolling pass's partitions; only those rows cross the one
    * exchange, on the key, that the forward fill needs. A day that
    * straddles two buckets has two partial picks there: ordered by
    * (day, pick), its last row holds the day's pick.
    */
  private def daily(smoothed: DataFrame, keys: Seq[String], tsCol: String): DataFrame = {
    val us = unix_micros(col(tsCol))
    val k = keys.map(col)
    val byDay = Window.partitionBy(k: _*).orderBy(col("day"), col("_p"))
    // struct(day) is never null, so a key's last row (lead null) is a
    // day's last row even when its day is null
    val dayEnd = !(lead(struct(col("day")), 1).over(byDay) <=> struct(col("day")))
    smoothed
      .groupBy(k :+ col("_b") :+ date_trunc("day", timestamp_micros(us - HourUs)).as("day"): _*)
      .agg(max(struct(col("_inc_s"), -us, col("_out_s"))).as("_p"))
      .select(k :+ col("day") :+ col("_p") :+ dayEnd.as("_end"): _*)
      .select(k :+ col("day") :+ col("_end") :+ last(when(col("_end"),
          validAlbedo(col("_p._out_s") / col("_p._inc_s"))), ignoreNulls = true)
        .over(byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("albedo"): _*)
      .filter(col("_end"))
      .drop("_end")
  }

  /** Daily albedo at solar noon (E2; melt_model.py:408 calc_albedo):
    * incoming and reflected are 2 h c_rolling-smoothed (trailing mean,
    * index shifted -1 h), then per day the albedo is
    * reflected/incoming at the time of maximum smoothed incoming;
    * ratios >= 1 are invalid and forward-filled from the previous day.
    *
    * Output: keys..., day, albedo (ffilled).
    */
  def dailyAlbedo(df: DataFrame, keys: Seq[String], tsCol: String,
                  incomingCol: String, reflectedCol: String): DataFrame =
    daily(rolled(df, keys, tsCol, albedoFrames(incomingCol, reflectedCol)), keys, tsCol)

  /** The melt pipeline (E4; melt_model.py:448 calc_melt): incoming
    * smoothed over the centered (t-1h, t+1h], the daily albedo of
    * [[dailyAlbedo]] joined by the row's day, the enhanced
    * temperature-index melt where temp > `thresholdTemp`, and melt
    * fillna(0) everywhere else (melt_model.py:541). The centered and
    * both trailing frames are one call of the rolling body; Spark prunes
    * the albedo side's and the event side's reads of it to their own
    * frames and columns, so each crosses its own (keys, bucket)
    * exchange. The forward fill and the join's albedo side carry
    * per-day rows only.
    *
    * @param broadcastAlbedo hint the per-day albedo side as a broadcast
    *        (it grows as keys x days; leave it to the planner unless
    *        the input's size estimate is unknown)
    * @return `df`'s columns plus `albedo` and `melt_rate`
    */
  def pipeline(df: DataFrame, keys: Seq[String], tsCol: String,
               temperatureCol: String, incomingCol: String, reflectedCol: String,
               thresholdTemp: Double = 0.0,
               broadcastAlbedo: Boolean = false): DataFrame = {
    val smoothed = rolled(df, keys, tsCol,
      TimeSeriesOps.RollingFrame("_inc_c", HourUs, HourUs, avg(col(incomingCol)).over(_)) +:
        albedoFrames(incomingCol, reflectedCol))
    val alb = daily(smoothed, keys, tsCol).select(
      keys.map(k => col(k).as(s"_a_$k")) :+ col("day").as("_a_day") :+ col("albedo"): _*)
    val on = keys.map(k => col(k) === col(s"_a_$k")).reduce(_ && _) &&
      date_trunc("day", col(tsCol)) === col("_a_day")
    smoothed.join(if (broadcastAlbedo) broadcast(alb) else alb, on, "left")
      .withColumn("melt_rate", coalesce(graft.functions.meltEqu(col(temperatureCol),
        col("albedo"), col("_inc_c"), thresholdTemp = thresholdTemp), lit(0.0)))
      .drop(Seq("_inc_c", "_inc_s", "_out_s", "_b", "_a_day") ++ keys.map(k => s"_a_$k"): _*)
  }
}
