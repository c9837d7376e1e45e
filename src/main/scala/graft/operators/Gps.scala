package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GPS / motion operators (SURVEY §2 C1-C7; reference gpstools.py
  * `OnIce`).
  *
  * Positions are (northing, easting) offsets from a base station, keyed
  * by a station id. All operators are single-shuffle per key: grouped
  * aggregates joined back, or window functions — the per-key scalars
  * (flow angle, origin, trend fit) are tiny aggregates that AQE
  * broadcasts for the join-back, so the big observation table streams.
  */
object Gps {

  /** Flow-direction angle alpha per key (C1; gpstools.py:348):
    * atan of the northing/easting deltas between the first and last
    * daily-mean positions. (The reference uses atan, not atan2.)
    */
  def flowAngle(df: DataFrame, keys: Seq[String], tsCol: String,
                northCol: String, eastCol: String): DataFrame = {
    val daily = df
      .groupBy(keys.map(col) :+ date_trunc("day", col(tsCol)).as("_d"): _*)
      .agg(avg(col(northCol)).as("_adn"), avg(col(eastCol)).as("_ade"))
    val firstLast = daily.groupBy(keys.map(col): _*)
      .agg(min(col("_d")).as("_d0"), max(col("_d")).as("_d1"))
    val f = daily.select(keys.map(k => col(k).as("_f_" + k)) ++
      Seq(col("_d").as("_fd"), col("_adn").as("_adn0"), col("_ade").as("_ade0")): _*)
    val l = daily.select(keys.map(k => col(k).as("_l_" + k)) ++
      Seq(col("_d").as("_ld"), col("_adn").as("_adn1"), col("_ade").as("_ade1")): _*)
    firstLast
      .join(f, keys.map(k => col(k) === col("_f_" + k)).reduce(_ && _) &&
        col("_d0") === col("_fd"))
      .join(l, keys.map(k => col(k) === col("_l_" + k)).reduce(_ && _) &&
        col("_d1") === col("_ld"))
      .select(keys.map(col) :+
        atan((col("_adn1") - col("_adn0")) / (col("_ade1") - col("_ade0"))).as("alpha"): _*)
  }

  /** Along-flow / across-flow rotation (C2; gpstools.py:287-376).
    * Positions are origin-shifted to the first observation at t0 (the
    * reference's default preserve_ref=False), then rotated by alpha:
    * xflow = cos(a)*de + sin(a)*dn, xtran = -sin(a)*de + cos(a)*dn.
    */
  def reproject(df: DataFrame, keys: Seq[String], tsCol: String,
                northCol: String, eastCol: String, alphas: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val dn = col(northCol) - first(col(northCol)).over(w)
    val de = col(eastCol) - first(col(eastCol)).over(w)
    df.join(alphas, keys)
      .withColumn("xflow", cos(col("alpha")) * de + sin(col("alpha")) * dn)
      .withColumn("xtran", -sin(col("alpha")) * de + cos(col("alpha")) * dn)
  }

  /** Linear detrend of yCol against xCol per key (C3; gpstools.py:462):
    * one-shuffle OLS via regr_slope/regr_intercept aggregates, fit
    * joined back and subtracted (y - intercept - slope*x).
    */
  def linearDetrend(df: DataFrame, keys: Seq[String], xCol: String,
                    yCol: String, outCol: String = "detrended"): DataFrame = {
    val fit = df.groupBy(keys.map(col): _*).agg(
      regr_slope(col(yCol), col(xCol)).as("_slope"),
      regr_intercept(col(yCol), col(xCol)).as("_intercept"))
    df.join(fit, keys)
      .withColumn(outCol, col(yCol) - col("_intercept") - col("_slope") * col(xCol))
      .drop("_slope", "_intercept")
  }

  /** Vertical detrend in sample order (gpstools.py:498
    * `z_detrend_wrt_xflow`): the reference re-indexes z by xflow and
    * calls scipy.signal.detrend(type='linear') — which fits against
    * EQUALLY SPACED SAMPLE POSITIONS, not the index values it was just
    * given (signal.detrend ignores the index). The faithful
    * counterpart is therefore OLS of z against the 0..n-1 row position
    * per key, reusing [[linearDetrend]]. `orderCols` must make the
    * order total (include a tie-breaker after the timestamp) or the
    * fitted positions are nondeterministic under ties.
    */
  def zDetrendSampleOrder(df: DataFrame, keys: Seq[String],
                          orderCols: Seq[String], zCol: String,
                          outCol: String = "z_detrended"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(orderCols.map(col): _*)
    linearDetrend(
      df.withColumn("_pos", (row_number().over(w) - 1).cast("double")),
      keys, "_pos", zCol, outCol).drop("_pos")
  }

  /** Velocity from paired binned medians (C4; gpstools.py:524-608):
    * median position per fixed time bucket, velocity between
    * consecutive buckets divided by the bucket length as a fraction of
    * a day (vel_equ, gpstools.py:955). Buckets with no successor drop.
    * Bucket ids are floor-divided epoch µs, so a pre-1970 instant lands
    * in the bucket that starts at or before it, as in pandas.
    */
  def velocity(df: DataFrame, keys: Seq[String], tsCol: String,
               posCol: String, bucketSec: Long): DataFrame = {
    val bUs = bucketSec * 1000000L
    val binned = df
      .withColumn("_bid", TimeSeriesOps.floorDiv(unix_micros(col(tsCol)), bUs))
      .groupBy(keys.map(col) :+ col("_bid"): _*)
      .agg(median(col(posCol)).as("_med"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_bid"))
    val dtDays = bucketSec.toDouble / 86400.0
    binned
      .withColumn("_nid", lead(col("_bid"), 1).over(w))
      .withColumn("_nmed", lead(col("_med"), 1).over(w))
      .filter(col("_nid") === col("_bid") + 1)
      .select(keys.map(col) :+
        timestamp_micros(col("_bid") * bUs).as("bucket_start") :+
        ((col("_nmed") - col("_med")) / lit(dtDays)).as("vel_mpd"): _*)
  }

  /** Error filtering (C5; gpstools.py:664 `drop_large_errors`). */
  def dropLargeErrors(df: DataFrame, errCols: Seq[String], threshold: Double): DataFrame =
    errCols.foldLeft(df)((d, c) => d.filter(col(c) < threshold))

  /** Rows with non-positive along-flow velocity (gpstools.py:673
    * `filter_zero` — stagnant/retrograde picks, typically inspected or
    * dropped before velocity statistics).
    */
  def filterZero(df: DataFrame, velCol: String = "X_vel"): DataFrame =
    df.filter(col(velCol) <= 0)

  /** Distance between two stations' mean positions over a comparison
    * window (gpstools.py:756 determine_stn_flow_dist): per-station
    * windowed mean northing/easting, then the pairwise quadrature
    * distance for every station pair (self-join of the tiny per-station
    * aggregate — broadcastable).
    *
    * Scale shape: the only corpus-scale work is the time-filtered
    * per-station mean (one aggregation, filter pushed to the scan);
    * the pair join runs on the k-row aggregate. The OUTPUT is C(k,2)
    * rows by definition of the operator — quadratic in station count,
    * which physically is a dim (a station network, not a fact table).
    * The r10 scale-stress's 15 000-key synthetic run (112 M output
    * pairs) measures output materialization, not plan cost; cap the
    * key set (or post-filter by distance) when keys are not genuinely
    * a small dimension.
    */
  private def windowedMeans(df: DataFrame, keys: Seq[String], tsCol: String,
                            northCol: String, eastCol: String,
                            startInclusive: String,
                            endExclusive: String): DataFrame =
    df.filter(col(tsCol) >= lit(startInclusive).cast("timestamp") &&
        col(tsCol) < lit(endExclusive).cast("timestamp"))
      .groupBy(keys.map(col): _*)
      .agg(avg(col(northCol)).as("mn"), avg(col(eastCol)).as("me"))

  /** Exactly-once pair ordering over composite station keys: a strict
    * LEXICOGRAPHIC tuple comparison via struct ordering, not a
    * componentwise AND of per-key '<' (which would drop any pair whose
    * key columns order in opposite directions — e.g. keys (a=1,b=9) vs
    * (a=2,b=3) passes in neither orientation under the AND form).
    * Single-key behavior is identical; multi-key now states every
    * unordered pair exactly once.
    */
  private def pairOrder(keys: Seq[String]): Column =
    if (keys.size == 1) col(s"a_${keys.head}") < col(s"b_${keys.head}")
    else struct(keys.map(k => col(s"a_$k")): _*) <
      struct(keys.map(k => col(s"b_$k")): _*)

  def stationDistances(df: DataFrame, keys: Seq[String], tsCol: String,
                       northCol: String, eastCol: String,
                       startInclusive: String, endExclusive: String): DataFrame = {
    val means = windowedMeans(df, keys, tsCol, northCol, eastCol,
      startInclusive, endExclusive)
    val a = keys.foldLeft(means)((d, k) => d.withColumnRenamed(k, s"a_$k"))
      .withColumnRenamed("mn", "a_mn").withColumnRenamed("me", "a_me")
    val b = keys.foldLeft(means)((d, k) => d.withColumnRenamed(k, s"b_$k"))
      .withColumnRenamed("mn", "b_mn").withColumnRenamed("me", "b_me")
    a.join(b, pairOrder(keys))
      .select(keys.map(k => col(s"a_$k")) ++ keys.map(k => col(s"b_$k")) :+
        graft.functions.quadrature(col("a_mn") - col("b_mn"),
          col("a_me") - col("b_me")).as("distance"): _*)
  }

  /** [[stationDistances]] with a distance valve (VERDICT r11 item 5):
    * only pairs within `maxDistance` are stated, and — the point — the
    * candidate join is a GRID-CELL EQUI-JOIN, not the all-pairs theta
    * join, so the quadratic output of the plain form is opt-in rather
    * than inherent. The reference's calc_dist (gpstools.py:282) is
    * pairwise; the all-pairs matrix is graft's extension and this is
    * its scale valve.
    *
    * Blocking is LOSSLESS: each station lands in the
    * floor(mean / maxDistance) grid cell; any pair within maxDistance
    * differs by at most one cell per axis, so the a-side explodes to
    * its 3x3 neighborhood and equi-joins the b-side's HOME cell —
    * which is unique per station, so every candidate pair surfaces
    * EXACTLY once (no distinct). The exact quadrature filter then
    * states the set the brute-force scan would. Cost: one exchange on
    * (cell_n, cell_e); candidate mass is Σ over cells of
    * |neighborhood| × |cell| — linear in stations + true output mass
    * for any physically spread network, vs the plain form's C(k,2)
    * comparisons regardless of output. (Pairs at EXACTLY maxDistance
    * sit on a floating-point boundary — the division in the cell index
    * could in principle round a bit differently than the quadrature;
    * the same measure-zero caveat every FP-threshold operator here
    * carries.)
    */
  def stationDistancesWithin(df: DataFrame, keys: Seq[String], tsCol: String,
                             northCol: String, eastCol: String,
                             startInclusive: String, endExclusive: String,
                             maxDistance: Double): DataFrame = {
    require(maxDistance > 0, s"maxDistance must be positive, got $maxDistance")
    val means = windowedMeans(df, keys, tsCol, northCol, eastCol,
      startInclusive, endExclusive)
    val nbrs = for (dn <- -1 to 1; de <- -1 to 1) yield (dn, de)
    val a = keys.foldLeft(means)((d, k) => d.withColumnRenamed(k, s"a_$k"))
      .withColumnRenamed("mn", "a_mn").withColumnRenamed("me", "a_me")
      .select(col("*"),
        explode(array(nbrs.map { case (dn, de) =>
          struct(
            (floor(col("a_mn") / maxDistance).cast("long") + dn).as("cn"),
            (floor(col("a_me") / maxDistance).cast("long") + de).as("ce"))
        }: _*)).as("_nb"))
      .select(keys.map(k => col(s"a_$k")) :+ col("a_mn") :+ col("a_me") :+
        col("_nb.cn").as("_cn") :+ col("_nb.ce").as("_ce"): _*)
    val b = keys.foldLeft(means)((d, k) => d.withColumnRenamed(k, s"b_$k"))
      .withColumnRenamed("mn", "b_mn").withColumnRenamed("me", "b_me")
      .withColumn("_cn", floor(col("b_mn") / maxDistance).cast("long"))
      .withColumn("_ce", floor(col("b_me") / maxDistance).cast("long"))
    a.join(b, Seq("_cn", "_ce"))
      .filter(pairOrder(keys))
      .withColumn("distance",
        graft.functions.quadrature(col("a_mn") - col("b_mn"),
          col("a_me") - col("b_me")))
      .filter(col("distance") <= maxDistance)
      .select(keys.map(k => col(s"a_$k")) ++ keys.map(k => col(s"b_$k")) :+
        col("distance"): _*)
  }

  /** Horizontal displacement from the first position (C6; gpstools.py:282). */
  def displacement(df: DataFrame, keys: Seq[String], tsCol: String,
                   northCol: String, eastCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val dn = col(northCol) - first(col(northCol)).over(w)
    val de = col(eastCol) - first(col(eastCol)).over(w)
    df.withColumn("displacement", graft.functions.quadrature(dn, de))
  }

  /** Antenna-lowering correction (gpstools.py:378
    * `_antenna_lowering_correction` + the antenna_adjustments table,
    * gpstools.py:166-180): from `adjustAt` on, the vertical position
    * shifts by -adjustment (positive adjustment = antenna raised);
    * rows inside [adjustAt, dropUntil) — the physical move itself —
    * are dropped. Row-local arithmetic plus a scan filter: no shuffle.
    */
  def antennaCorrection(df: DataFrame, tsCol: String, heightCol: String,
                        adjustAt: String, adjustment: Double,
                        dropUntil: String): DataFrame = {
    val at = lit(adjustAt).cast("timestamp")
    val until = lit(dropUntil).cast("timestamp")
    df.filter(!(col(tsCol) >= at && col(tsCol) < until))
      .withColumn(heightCol,
        when(col(tsCol) >= at, col(heightCol) - lit(adjustment))
          .otherwise(col(heightCol)))
  }
}
