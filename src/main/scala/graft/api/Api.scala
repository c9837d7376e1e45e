package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators._

/** Reference-shaped facades: the entry points a `datatools` user knows
  * (`DiurnalExtrema`, `OnIce`, `WeatherStation`), with the same option
  * names and defaults, over graft's distributed operators. Everything
  * is lazy DataFrames — nothing executes until an action.
  */
object Durations {
  /** Parse a pandas-style duration string (utils.py:11 parse_duration):
    * '2H' = 2 hours, '30T'/'30min' = 30 minutes, '1D', '45S', '2.5H'.
    */
  def parseSeconds(duration: String): Long = {
    val m = "^([0-9]+(?:\\.[0-9]+)?)\\s*([A-Za-z]+)$".r
    duration.trim match {
      case m(num, unit) =>
        val mult = unit match {
          case "D" | "d" | "day" | "days" => 86400.0
          case "H" | "h" | "hr" | "hour" | "hours" => 3600.0
          case "T" | "min" | "m" | "minute" | "minutes" => 60.0
          case "S" | "s" | "sec" | "second" | "seconds" => 1.0
          case other => throw new IllegalArgumentException(
            s"duration unit '$other' not recognized in '$duration'")
        }
        math.round(num.toDouble * mult)
      case _ => throw new IllegalArgumentException(
        s"duration string '$duration' not recognized")
    }
  }
}

/** diurnal.py:176 `DiurnalExtrema` — one min + one max per 24 h period.
  *
  * @param minFirst require the minimum to precede the maximum
  * @param maxNextDay with minFirst: search the max in an 18 h window
  *        after the minimum, crossing midnight
  * @param predictTiming calibrate mean occurrence-hours on the window
  *        before `calibEnd` and pick extrema only within +/-8 h of them
  * @param threshold drop days with amplitude below this
  */
class DiurnalExtrema(timeseries: DataFrame, keys: Seq[String],
                     tsCol: String = "ts", valCol: String = "value",
                     minFirst: Boolean = false, maxNextDay: Boolean = false,
                     predictTiming: Boolean = false,
                     calibEnd: Option[String] = None,
                     threshold: Option[Double] = None,
                     private val correctedPicks: Option[DataFrame] = None) {

  /** The extrema picks: keys..., day, min_val, min_time, max_val, max_time. */
  lazy val df: DataFrame = correctedPicks.getOrElse {
    val base =
      if (predictTiming)
        Diurnal.extremaPredicted(timeseries, keys, tsCol, valCol,
          calibEnd.getOrElse(throw new IllegalArgumentException(
            "predictTiming requires calibEnd")),
          minFirst = minFirst)
      else if (minFirst && maxNextDay)
        Diurnal.extremaMinFirst(timeseries, keys, tsCol, valCol)
      else
        Diurnal.extrema(timeseries, keys, tsCol, valCol)
    threshold.fold(base)(Diurnal.applyThreshold(base, _))
  }

  private def withPicks(p: DataFrame): DiurnalExtrema =
    new DiurnalExtrema(timeseries, keys, tsCol, valCol, minFirst, maxNextDay,
      predictTiming, calibEnd, threshold, Some(p))

  /** Daily amplitude series (diurnal.py:296). */
  def amplitude: DataFrame = Diurnal.amplitude(df)

  /** Extrema timing in decimal hours after day start (diurnal.py:257). */
  def decimalHours(which: String = "max"): DataFrame =
    df.withColumn(s"${which}_hrs",
      Diurnal.decimalHours(col(s"${which}_time"), col("day")))

  /** Picks with both timings in decimal hours (diurnal.py:348
    * `multi_indexed`): the reference's (minima|maxima)×(value|time|hrs)
    * column hierarchy, flattened to min_/max_-prefixed columns — the
    * shape `lag_df` and plotting consume.
    */
  def multiIndexed: DataFrame =
    df.select(keys.map(col) ++ Seq(col("day"),
      col("min_val"), col("min_time"),
      Diurnal.decimalHours(col("min_time"), col("day")).as("min_hrs"),
      col("max_val"), col("max_time"),
      Diurnal.decimalHours(col("max_time"), col("day")).as("max_hrs")): _*)

  /** Extremum of the raw series within ±dtMinutes of `time`
    * (diurnal.py:429 `value_around_time`), per key.
    */
  def valueAroundTime(time: String, dtMinutes: Double = 15,
                      returnMax: Boolean = true): DataFrame =
    Diurnal.valueAroundTime(timeseries, keys, tsCol, valCol, time,
      dtMinutes, returnMax)

  /** Manually fix one day's pick (diurnal.py:375 `change_extrema_picks`);
    * returns a corrected facade, so fixes chain. Shapes, mirroring the
    * reference's dispatch:
    *   - `findBetween = Some((h0, h1))`: re-pick the extremum from the
    *     raw series between day+h0 and day+h1 hours;
    *   - neither value nor time given: null the pick (both components;
    *     `which = "both"` clears min and max);
    *   - explicit `newValue` / `newTime`: override components; with
    *     only a time and `findNear = true`, the value comes from the
    *     raw series within ±15 min of the new time (value_around_time).
    * Like the reference (which raises on an unknown date), correcting a
    * day with no pick is an error by default. NOTE the cost model: the
    * validation is a Spark action that computes the picks plan, and
    * each chained correction layers its merge on the previous plan — a
    * human-scale handful of fixes is fine, but a long scripted chain
    * over a huge keyed frame should pass `validate = false` and/or
    * batch its fixes through Diurnal.applyCorrections with one
    * corrections table.
    */
  def changeExtremaPicks(day: String, which: String,
                         newValue: Option[Double] = None,
                         newTime: Option[String] = None,
                         findBetween: Option[(Double, Double)] = None,
                         findNear: Boolean = false,
                         validate: Boolean = true): DiurnalExtrema = {
    require(Seq("min", "max", "both").contains(which),
      s"which must be min|max|both, got '$which'")
    val dayLit = lit(day).cast("timestamp")
    if (validate && df.filter(col("day") === dayLit).isEmpty)
      throw new IllegalArgumentException(s"date=$day not found in picks")

    val corrected = findBetween match {
      case Some((h0, h1)) =>
        require(which != "both", "findBetween corrects one extremum")
        // re-pick from the raw series in the window, per key, with the
        // same first-occurrence tie-break as the original extrema
        val lo = Diurnal.dhrsToTimestamp(dayLit, lit(h0))
        val hi = Diurnal.dhrsToTimestamp(dayLit, lit(h1))
        val in = timeseries.filter(col(tsCol) >= lo && col(tsCol) <= hi)
        val pick =
          if (which == "min")
            in.groupBy(keys.map(col): _*)
              .agg(min(struct(col(valCol).as("v"), col(tsCol).as("t"))).as("_p"))
          else
            in.groupBy(keys.map(col): _*)
              .agg(max(struct(col(valCol).as("v"),
                (-unix_micros(col(tsCol))).as("nu"), col(tsCol).as("t"))).as("_p"))
        val corr = pick.select(keys.map(col) ++ Seq(
          dayLit.as("day"), lit(which).as("which"),
          col("_p.v").as("new_val"), col("_p.t").as("new_time")): _*)
        Diurnal.applyCorrections(df, corr, keys)
      case None if newValue.isEmpty && newTime.isEmpty && !findNear =>
        val corr = df.filter(col("day") === dayLit)
          .select(keys.map(col) ++ Seq(dayLit.as("day"),
            lit(which).as("which"), lit(null).cast("double").as("new_val"),
            lit(null).cast("timestamp").as("new_time")): _*)
        Diurnal.applyCorrections(df, corr, keys)
      case None =>
        val valCol2 =
          if (newValue.isEmpty && newTime.isDefined && findNear)
            Some(Diurnal.valueAroundTime(timeseries, keys, tsCol, valCol,
              newTime.get, returnMax = which == "max"))
          else None
        val base = df.filter(col("day") === dayLit)
          .select(keys.map(col): _*).distinct()
        val withVal = valCol2 match {
          case Some(near) => base.join(near, keys, "left")
          case None => base.withColumn("value",
            newValue.map(lit(_)).getOrElse(lit(null)).cast("double"))
        }
        val corr = withVal.select(keys.map(col) ++ Seq(
          dayLit.as("day"), lit(which).as("which"),
          col("value").as("new_val"),
          newTime.map(t => lit(t).cast("timestamp"))
            .getOrElse(lit(null).cast("timestamp")).as("new_time")): _*)
        Diurnal.applyCorrections(df, corr, keys)
    }
    withPicks(corrected)
  }

  /** Null picks on days where the series is truncated (diurnal.py:285
    * `truncated_picks` — a stub in the reference; its docstring's
    * semantics): a boundary pick on a clipped recording is an artifact,
    * not a real extremum.
    */
  def truncatedPicks(days: Seq[String], which: String): DiurnalExtrema = {
    require(Seq("min", "max", "both").contains(which))
    val spark = df.sparkSession
    import spark.implicits._
    val corr = days.toDF("day")
      .select(col("day").cast("timestamp").as("_t_day"))
    val keyDays = df.join(broadcast(corr), col("day") === col("_t_day"))
      .select(keys.map(col) :+ col("day"): _*).distinct()
      .withColumn("which", lit(which))
      .withColumn("new_val", lit(null).cast("double"))
      .withColumn("new_time", lit(null).cast("timestamp"))
    withPicks(Diurnal.applyCorrections(df, keyDays, keys))
  }
}

/** gpstools.py:204 `OnIce` — GNSS station positions to flow-oriented
  * kinematics. Positions are (northing, easting) offsets per key.
  */
class OnIce(data: DataFrame, keys: Seq[String], tsCol: String = "ts",
            northCol: String = "dnorth", eastCol: String = "deast") {

  /** Flow angle per key (gpstools.py:348). */
  lazy val flowDirectionAngle: DataFrame =
    Gps.flowAngle(data, keys, tsCol, northCol, eastCol)

  /** Along/across-flow reprojection (gpstools.py:287). */
  def reprojectToFlowDirection(alpha: Option[DataFrame] = None): DataFrame =
    Gps.reproject(data, keys, tsCol, northCol, eastCol,
      alpha.getOrElse(flowDirectionAngle))

  /** OLS detrend of a component against decimal day-of-year
    * (gpstools.py:462).
    */
  def linearDetrend(component: String): DataFrame =
    Gps.linearDetrend(
      data.withColumn("doy", graft.functions.decimalDoy(col(tsCol))),
      keys, "doy", component)

  /** Velocity from binned medians (gpstools.py:524); windows are
    * pandas duration strings like the reference ('6H', '30T').
    */
  def calcVelocity(component: String, statWindow: String = "6H"): DataFrame =
    Gps.velocity(data, keys, tsCol, component, Durations.parseSeconds(statWindow))

  /** Drop rows with large position errors (gpstools.py:664). */
  def dropLargeErrors(threshold: Double,
                      errCols: Seq[String] = Seq("dnorth_err", "deast_err")): DataFrame =
    Gps.dropLargeErrors(data, errCols, threshold)

  /** Horizontal displacement from the first position (gpstools.py:282). */
  def displacement: DataFrame =
    Gps.displacement(data, keys, tsCol, northCol, eastCol)

  /** Centered rolling smoothing of a component (utils.py:32 via plot /
    * smoothing paths).
    */
  def smoothed(component: String, window: String,
               minPeriods: Int = 1): DataFrame =
    TimeSeriesOps.cRolling(data, keys, tsCol, component,
      Durations.parseSeconds(window), Seq(component -> (c => avg(c))), minPeriods)

  /** Vertical detrend against along-flow position (gpstools.py:498
    * z_detrend_wrt_xflow): OLS of height vs xflow, residual returned.
    */
  def zDetrendWrtXflow(heightCol: String = "dheight",
                       xflowCol: String = "xflow"): DataFrame =
    Gps.linearDetrend(reprojectToFlowDirection(), keys, xflowCol, heightCol,
      outCol = s"${heightCol}_xdetrended")

  /** Antenna-lowering correction (gpstools.py:378): shift the vertical
    * component after the adjustment time, dropping the move window.
    */
  def antennaLoweringCorrection(adjustAt: String, adjustment: Double,
                                dropUntil: String,
                                heightCol: String = "dheight"): OnIce =
    new OnIce(Gps.antennaCorrection(data, tsCol, heightCol,
      adjustAt, adjustment, dropUntil), keys, tsCol, northCol, eastCol)

  /** Measurements expected in a timespan at each series' inferred
    * sampling rate (gpstools.py:520 samples_in_timespan, distributed
    * per-key form over the A7 mode-of-deltas inference).
    */
  def samplesInTimespan(timespan: String): DataFrame =
    TimeSeriesOps.inferSampling(data, keys, tsCol)
      .withColumn("n_samples",
        round(lit(Durations.parseSeconds(timespan).toDouble) /
          col("sampling_rate_s")).cast("long"))
}

/** melt_model.py:273 `WeatherStation` — AWS series to melt rates. */
class WeatherStation(data: DataFrame, keys: Seq[String], tsCol: String = "ts",
                     temperatureCol: String = "temp",
                     solarCol: String = "incoming",
                     reflectedCol: String = "reflected") {

  /** Shadow correction over a daily time-of-day window
    * (melt_model.py:366); times as "HH:MM" strings like the reference.
    */
  def applyShadowCorrection(shadedTime: (String, String)): DataFrame = {
    def minutes(s: String): Int = {
      val Array(h, m) = s.split(":"); h.toInt * 60 + m.toInt
    }
    Melt.shadowCorrection(data, keys, tsCol, solarCol,
      minutes(shadedTime._1), minutes(shadedTime._2))
  }

  /** Daily albedo at solar noon, clipped and forward-filled
    * (melt_model.py:408).
    */
  def calcAlbedo(): DataFrame =
    Melt.dailyAlbedo(data, keys, tsCol, solarCol, reflectedCol)

  /** Select a series by column-name substring (melt_model.py:350
    * `get_data_with`): the LAST matching column wins, case-insensitive,
    * like the reference's loop; None when nothing matches. A Spark
    * frame has no standalone Series, so the match comes back with the
    * keys + timestamp that identify its rows.
    */
  def getDataWith(containsString: String): Option[DataFrame] =
    data.columns
      .filter(_.toLowerCase.contains(containsString.toLowerCase))
      .lastOption
      .map(c => data.select((keys :+ tsCol :+ c).distinct.map(col): _*))

  /** Shadow-correct the incoming series first, then run the melt
    * pipeline on the corrected series (the reference's calc_melt uses
    * solar_corrected when apply_shadow_correction has run,
    * melt_model.py:527).
    */
  def calcMeltShadowCorrected(shadedTime: (String, String),
                              thresholdTemp: Double = 0.0): DataFrame = {
    val corrected = applyShadowCorrection(shadedTime)
    new WeatherStation(corrected, keys, tsCol, temperatureCol,
      "solar_corrected", reflectedCol).calcMelt(thresholdTemp)
  }

  /** The full melt pipeline (melt_model.py:448,
    * [[graft.operators.Melt.pipeline]]): smoothed incoming, daily
    * albedo joined by day, melt where T > threshold, fillna(0).
    * Output: the series' columns plus `albedo` and `melt_rate`.
    */
  def calcMelt(thresholdTemp: Double = 0.0): DataFrame =
    Melt.pipeline(data, keys, tsCol, temperatureCol, solarCol, reflectedCol,
      thresholdTemp)
}
