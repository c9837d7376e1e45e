package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Diurnal extrema picking (SURVEY §2 B1-B6; reference diurnal.py
  * `DiurnalExtrema.find_diurnal_extrema`, diurnal.py:301-345).
  *
  * Picks exactly one minimum and one maximum per 24 h period of a noisy
  * diurnally-varying series. Ties break to the earliest observation,
  * matching pandas `idxmin`/`idxmax` first-occurrence semantics, and a
  * null value never wins a pick: every pick is [[minPick]] or
  * [[maxPick]].
  *
  * Scale design: plain [[extrema]] is one partial-aggregating groupBy.
  * The windowed forms (min-first with the max searched in the 18 h
  * after the min, and the predicted-timing windows) are configurations
  * of one body, `windowedPicks`: each observation is exploded once
  * into the 2-3 candidate days its windows can reach (never an
  * unbounded range join), a max window that starts at the day's min
  * pick reads that pick from a partition-only window over (key, day),
  * and one groupBy on the same (key, day) exchange yields both picks.
  */
object Diurnal {

  /** The earliest minimum: struct(v, t) of the smallest non-null `v`,
    * tied to the earliest `t` (pandas idxmin). An aggregate; null when
    * no row has a non-null `v`, so a window condition folds into the
    * value (`when(inWindow, v)`).
    */
  private[graft] def minPick(v: Column, t: Column): Column =
    min(when(v.isNotNull, struct(v.as("v"), t.as("t"))))

  /** The earliest maximum: struct(v, nu, t) of the largest non-null
    * `v`, tied to the earliest `t` through nu = -micros(t) (pandas
    * idxmax). Null when no row has a non-null `v`.
    */
  private[graft] def maxPick(v: Column, t: Column): Column =
    max(when(v.isNotNull, struct(v.as("v"), (-unix_micros(t)).as("nu"), t.as("t"))))

  /** Per-key-per-day min/max values with first-occurrence timestamps
    * (B1; diurnal.py:301).
    * Output: keys..., day (timestamp at midnight), min_val, min_time,
    * max_val, max_time.
    *
    * ONE hash aggregation, no window. The previous window+groupBy
    * formulation computed the same thing but WindowExec sorts the full
    * observation set within the exchange and defeats partial
    * aggregation; the struct-agg form map-side-combines observations
    * down to one row per (key, day) BEFORE the shuffle — at 100 TB that
    * is the difference between shuffling the corpus and shuffling a row
    * per series-day.
    */
  def extrema(df: DataFrame, keys: Seq[String], tsCol: String, valCol: String): DataFrame =
    df.groupBy(keys.map(col) :+ date_trunc("day", col(tsCol)).as("day"): _*)
      .agg(minPick(col(valCol), col(tsCol)).as("_mn"),
        maxPick(col(valCol), col(tsCol)).as("_mx"))
      .select(keys.map(col) ++ Seq(col("day"),
        col("_mn.v").as("min_val"), col("_mn.t").as("min_time"),
        col("_mx.v").as("max_val"), col("_mx.t").as("max_time")): _*)

  /** The one body behind the windowed picks. Four steps:
    *  1. explode each observation once into the candidate days it can
    *     serve (`dayOffsets`, own day first), flagged `_own` on its own
    *     day;
    *  1. join the per-key calibration `occ`, if any, as a broadcast dim
    *     on the keys;
    *  1. if the max window starts at the min pick (`minAnchored`), read
    *     that pick from a partition-only window over (keys, day), which
    *     rides the exchange the groupBy needs;
    *  1. one groupBy(keys, day) yields both picks and `max(_own)`; a
    *     candidate day with no own-day observation is dropped.
    *
    * `inMin` is the min window on a candidate row; `inMax` the max
    * window given the min pick's micros (null without a min pick).
    * Rows with a null key are dropped. Output: keys..., day, min_val,
    * min_time, max_val, max_time.
    */
  private def windowedPicks(df: DataFrame, keys: Seq[String], tsCol: String,
                            valCol: String, dayOffsets: Seq[Int],
                            occ: Option[DataFrame], inMin: Column,
                            inMax: Column => Column,
                            minAnchored: Boolean): DataFrame = {
    val dayCol = date_trunc("day", col(tsCol))
    val obs = df.filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .select(keys.map(col) ++ Seq(col(tsCol), col(valCol)): _*)
    val cand = occ.fold(obs)(o => obs.join(broadcast(o), keys))
      .select(col("*"), posexplode(array(dayOffsets.map(d =>
        dayCol + expr(s"INTERVAL $d DAY")): _*)).as(Seq("_pos", "day")))
      .withColumn("_own", col("_pos") === 0)
    val minIn = when(inMin, col(valCol))
    val anchored =
      if (!minAnchored) cand
      else cand.withColumn("_min_us", unix_micros(minPick(minIn, col(tsCol))
        .over(Window.partitionBy(keys.map(col) :+ col("day"): _*)).getField("t")))
    anchored.groupBy(keys.map(col) :+ col("day"): _*)
      .agg(minPick(minIn, col(tsCol)).as("_mn"),
        maxPick(when(inMax(col("_min_us")), col(valCol)), col(tsCol)).as("_mx"),
        max(col("_own")).as("_own"))
      .filter(col("_own"))
      .select(keys.map(col) ++ Seq(col("day"),
        col("_mn.v").as("min_val"), col("_mn.t").as("min_time"),
        col("_mx.v").as("max_val"), col("_mx.t").as("max_time")): _*)
  }

  /** Min-first + max-next-day variant (B2; diurnal.py:325-330): the
    * day's minimum is found in the calendar day; the maximum is then
    * searched in the 18 h window after the minimum, crossing midnight.
    * An observation can serve that window only for its own day or the
    * previous one (2x candidates). Days where the picked max < min, and
    * days without a non-null value, are dropped (diurnal.py:335).
    */
  def extremaMinFirst(df: DataFrame, keys: Seq[String], tsCol: String,
                      valCol: String, maxWindowHours: Int = 18): DataFrame = {
    val us = unix_micros(col(tsCol))
    val wUs = maxWindowHours.toLong * 3600 * 1000000
    windowedPicks(df, keys, tsCol, valCol, Seq(0, -1), None, col("_own"),
      minUs => us >= minUs && us <= minUs + wUs, minAnchored = true)
      .filter(!(col("min_val") > col("max_val")))
  }

  /** Min-first without max-next-day (diurnal.py:313-316, "min must
    * precede max"): the day's minimum, then the maximum from that
    * minimum to the end of the same day. Days without a non-null value
    * are dropped, like [[extremaMinFirst]].
    */
  private[graft] def extremaMinFirstInDay(df: DataFrame, keys: Seq[String],
                                          tsCol: String, valCol: String): DataFrame =
    windowedPicks(df, keys, tsCol, valCol, Seq(0), None, lit(true),
      minUs => unix_micros(col(tsCol)) >= minUs, minAnchored = true)
      .filter(!(col("min_val") > col("max_val")))

  /** Per-day extrema with the reference's boundary-artifact rejection
    * (diurnal.py:654-714 on_boundary/bool_check_around_bound): a pick
    * that falls on the first or last observation of its day window is
    * only kept if it is still the extremum of the +/-5-observation
    * neighborhood around that boundary (10 rows: 5 before, 4 after,
    * python slice semantics), which crosses into adjacent days; fewer
    * than 3 neighborhood rows also rejects. Rejected picks become null
    * (the reference appends None rows).
    *
    * Distributed shape: JOIN-FREE. The boundary check only needs data
    * visible from the pick's own observation row — its ±5-row
    * neighborhood stats (ROWS frame over the key partition) and its
    * day's extrema (window over (key, day)) — so every per-row flag is
    * computed in the observation pass and one groupBy lifts the pick
    * row's verdict. Two Exchanges total (keys, then keys×day, which
    * the final aggregation reuses); the previous shape re-joined the
    * day-extrema back to the observations once per side and recomputed
    * the 5-window observation stage for each join.
    */
  def extremaBoundaryChecked(df: DataFrame, keys: Seq[String], tsCol: String,
                             valCol: String): DataFrame = {
    val keyW = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val nb = keyW.rowsBetween(-5, 4)
    val dayCol = date_trunc("day", col(tsCol))
    val dayPart = Window.partitionBy(keys.map(col) :+ dayCol: _*)
    val obs = df
      // neighborhood stats first: the ROWS frame needs (keys) partitioning,
      // the day stats need (keys, day) — this order lets the (keys, day)
      // exchange feed both the day windows and the final groupBy.
      .withColumn("_nb_n", count(col(valCol)).over(nb))
      .withColumn("_nb_min", min(col(valCol)).over(nb))
      .withColumn("_nb_max", max(col(valCol)).over(nb))
      .withColumn("_day", dayCol)
      .withColumn("_first_ts", min(col(tsCol)).over(dayPart))
      .withColumn("_last_ts", max(col(tsCol)).over(dayPart))
      .withColumn("_min", minPick(col(valCol), col(tsCol)).over(dayPart))
      .withColumn("_max", maxPick(col(valCol), col(tsCol)).over(dayPart))

    // evaluated ON the pick's own observation row (ts == pick time)
    def goodHere(which: String): Column = {
      val pickTs = col(s"_$which.t")
      !(pickTs === col("_first_ts") || pickTs === col("_last_ts")) ||
        (col("_nb_n") >= 3 && col(s"_nb_$which") === col(s"_$which.v"))
    }
    val flagged = obs
      .withColumn("_min_good", when(col(tsCol) === col("_min.t"), goodHere("min")))
      .withColumn("_max_good", when(col(tsCol) === col("_max.t"), goodHere("max")))
    flagged
      .groupBy(keys.map(col) :+ col("_day").as("day"): _*)
      .agg(
        first(col("_min")).as("_p_min"), max(col("_min_good")).as("_g_min"),
        first(col("_max")).as("_p_max"), max(col("_max_good")).as("_g_max"))
      .select(keys.map(col) ++ Seq(col("day"),
        when(col("_g_min"), col("_p_min.v")).otherwise(lit(null).cast("double")).as("min_val"),
        when(col("_g_min"), col("_p_min.t")).as("min_time"),
        when(col("_g_max"), col("_p_max.v")).otherwise(lit(null).cast("double")).as("max_val"),
        when(col("_g_max"), col("_p_max.t")).as("max_time")): _*)
  }

  /** Daily amplitude (B3; diurnal.py:296-299). */
  def amplitude(ext: DataFrame): DataFrame =
    ext.withColumn("amplitude", col("max_val") - col("min_val"))

  /** Amplitude threshold filter (B4; diurnal.py:369 `apply_threshold`
    * drops days with max-min < threshold). Days with a null pick are
    * kept: pandas `NaN < threshold` is False (diurnal.py:369-372), so
    * NaN-amplitude days survive the reference filter too.
    */
  def applyThreshold(ext: DataFrame, threshold: Double): DataFrame =
    ext.filter(col("min_val").isNull || col("max_val").isNull ||
      !(col("max_val") - col("min_val") < threshold))

  /** Decimal hours of an extremum after its day start (B5; diurnal.py:257). */
  def decimalHours(time: Column, day: Column): Column =
    (unix_micros(time) - unix_micros(day)) / lit(3600.0 * 1000000)

  /** Decimal hours back to a timestamp on the day (diurnal.py:40-52
    * dhrs_to_timedelta / dhrs_to_timestamp).
    */
  def dhrsToTimestamp(day: Column, dhrs: Column): Column =
    timestamp_micros(unix_micros(day) + (dhrs * lit(3600.0 * 1000000)).cast("long"))

  /** Cross-series extrema-timing lag (diurnal.py:24 `lag_df`): for each
    * day, how many hours later than the reference series (`lagFrom`)
    * each other series reaches its extremum. The reference pivots a
    * multi-indexed frame; here the reference series' hours join back on
    * day — one broadcastable equi-join, no pivot materialization.
    *
    * @param picks extrema picks (keys..., day, min/max_val, min/max_time)
    * @param keyCol the single series-id column
    * @param lagFrom the reference series' key value
    */
  def extremaLag(picks: DataFrame, keyCol: String, lagFrom: Any,
                 which: String = "max"): DataFrame = {
    val hrs = decimalHours(col(s"${which}_time"), col("day"))
    val ref = picks.filter(col(keyCol) === lit(lagFrom))
      .select(col("day").as("_ref_day"), hrs.as("_ref_hrs"))
    picks.filter(col(keyCol) =!= lit(lagFrom))
      .join(broadcast(ref), col("day") === col("_ref_day"), "left")
      .select(col(keyCol), col("day"),
        (hrs - col("_ref_hrs")).as(s"${which}_lag_hrs"))
  }

  /** Extremum of the raw series in a ±dt window around a time
    * (diurnal.py:429 `value_around_time`): per-key max (or min) of the
    * observations within `dtMinutes` of `time` — one filtered scan +
    * tiny aggregate, usable as a correction source without collecting.
    */
  def valueAroundTime(ts: DataFrame, keys: Seq[String], tsCol: String,
                      valCol: String, time: String, dtMinutes: Double = 15,
                      returnMax: Boolean = true): DataFrame = {
    val t = lit(time).cast("timestamp")
    val dtUs = (dtMinutes * 60e6).toLong
    val in = ts.filter(unix_micros(col(tsCol)) >= unix_micros(t) - dtUs &&
      unix_micros(col(tsCol)) <= unix_micros(t) + dtUs)
    in.groupBy(keys.map(col): _*)
      .agg((if (returnMax) max(col(valCol)) else min(col(valCol))).as("value"))
  }

  /** Merge a manual-corrections table over extrema picks
    * (diurnal.py:375 `change_extrema_picks`, batch form): `corrections`
    * holds (keys..., day, which in 'min'|'max'|'both', new_val,
    * new_time); a matched pick gets its value/time replaced — both
    * nulled when the correction carries neither (the reference's
    * "remove this pick" call shape). Corrections are human-scale, so
    * the join broadcasts; picks never move.
    */
  def applyCorrections(picks: DataFrame, corrections: DataFrame,
                       keys: Seq[String]): DataFrame = {
    val corr = corrections.select(
      keys.map(k => col(k).as(s"_c_$k")) ++ Seq(
        col("day").cast("timestamp").as("_c_day"), col("which").as("_c_which"),
        col("new_val").cast("double").as("_c_val"),
        col("new_time").cast("timestamp").as("_c_time")): _*)
    val joined = picks.join(broadcast(corr),
      keys.map(k => col(k) === col(s"_c_$k")).reduce(_ && _) &&
        col("day") === col("_c_day"), "left")
    def side(which: String): DataFrame => DataFrame = { d =>
      val applies = col("_c_which").isNotNull &&
        (col("_c_which") === which || col("_c_which") === "both")
      val wipe = applies && col("_c_val").isNull && col("_c_time").isNull
      d.withColumn(s"${which}_val",
          when(wipe, lit(null).cast("double"))
            .when(applies && col("_c_val").isNotNull, col("_c_val"))
            .otherwise(col(s"${which}_val")))
        .withColumn(s"${which}_time",
          when(wipe, lit(null).cast("timestamp"))
            .when(applies && col("_c_time").isNotNull, col("_c_time"))
            .otherwise(col(s"${which}_time")))
    }
    side("min").andThen(side("max"))(joined)
      .drop(keys.map(k => s"_c_$k") ++
        Seq("_c_day", "_c_which", "_c_val", "_c_time"): _*)
  }

  /** The calibration step of [[extremaPredicted]], exposed on its own
    * (r12): per-key mean decimal-hour of the min/max picks over the
    * calibration window — the `occ` dim [[extremaPredicted]] windows
    * against, and the PREFIT a streaming deployment hands to
    * [[graft.streaming.Streaming.diurnalPredictedStream]] (fit in
    * batch, gate on the stream — the dfCapStream contract). One
    * definition for both engines.
    */
  def predictedOccurrences(df: DataFrame, keys: Seq[String], tsCol: String,
                           valCol: String,
                           calibEndExclusive: String): DataFrame = {
    val calib = extrema(
      df.filter(col(tsCol) < lit(calibEndExclusive).cast("timestamp")),
      keys, tsCol, valCol)
    calib.groupBy(keys.map(col): _*).agg(
      round(avg(round(decimalHours(col("min_time"), col("day")))), 3).as("min_occ"),
      round(avg(round(decimalHours(col("max_time"), col("day")))), 3).as("max_occ"))
  }

  /** Predicted-timing extrema (B6; diurnal.py:454 `predict_extrema` +
    * get_occurance_windows): mean occurrence-hours of the plain extrema
    * over a calibration window (each occurrence rounded to the nearest
    * hour, mean rounded to 3 dp — diurnal.py:570/595), then extrema are
    * picked only inside +/- `halfWindowHours` around the predicted hour
    * of each day. Days with no observation in a window keep a null pick
    * (the reference appends None rows); rows where both picks exist and
    * min > max are dropped. Keys without calibration data have no
    * predicted hours and no picks. With `minFirst` the max window may
    * not start before the day's min pick.
    */
  def extremaPredicted(df: DataFrame, keys: Seq[String], tsCol: String,
                       valCol: String, calibEndExclusive: String,
                       halfWindowHours: Int = 8,
                       minFirst: Boolean = false): DataFrame = {
    val occ = predictedOccurrences(df, keys, tsCol, valCol, calibEndExclusive)
    // the window is 2*half <= 24h anchored around an in-day hour, so an
    // observation's candidate days are its own and both neighbours.
    // floor (not cast-truncation) so negative sub-integer bounds round
    // the same way as the oracle's floor().
    def bounds(occCol: String): (Column, Column) = (
      unix_micros(col("day")) +
        floor((col(occCol) - lit(halfWindowHours.toDouble)) * 3600e6),
      unix_micros(col("day")) +
        floor((col(occCol) + lit(halfWindowHours.toDouble)) * 3600e6))
    val us = unix_micros(col(tsCol))
    val (minLo, minHi) = bounds("min_occ")
    val (maxLo, maxHi) = bounds("max_occ")
    // min_first interplay (diurnal.py:313-316): the max window may not
    // start before the found minimum of the same day; without a min
    // pick it stays unclamped
    def inMax(minUs: Column): Column =
      us >= (if (minFirst) greatest(maxLo, coalesce(minUs, lit(Long.MinValue))) else maxLo) &&
        us <= maxHi
    windowedPicks(df, keys, tsCol, valCol, Seq(0, -1, 1), Some(occ),
      us >= minLo && us <= minHi, inMax, minAnchored = minFirst)
      .filter(col("min_val").isNull || col("max_val").isNull ||
        !(col("min_val") > col("max_val")))
  }
}
