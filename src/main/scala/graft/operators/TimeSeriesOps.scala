package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Time-series core operators (SURVEY §2 A1-A9).
  *
  * Every operator is keyed by one or more series-id columns and runs
  * per-key inside Spark's WindowExec: one hash shuffle on the key, then
  * an in-partition sort — no driver loops, no collects. That is the
  * 100 TB design: millions of independent series processed in parallel,
  * each key's rows co-located by the shuffle.
  */
object TimeSeriesOps {

  /** Microseconds in one second, as a long. */
  private val UsPerSec = 1000000L

  /** Exact `floor(us / d)` for a positive `d`: the interval bucket
    * pandas assigns. Integer division truncates toward zero, which
    * would put a pre-1970 instant in the bucket after its own.
    */
  private[graft] def floorDiv(us: Column, d: Long): Column =
    call_function("div", us - pmod(us, lit(d)), lit(d))

  /** Width of [[rollingFrames]]' time buckets, in frame spans (B =
    * 32 × the widest a + b; 32w for a trailing window w): wide enough
    * that the per-bucket window setup and the halo rows (1/32 of a
    * uniform series per unit of span) stay small, narrow enough that a
    * month-long series splits into a dozen tasks.
    */
  private[graft] val BucketWindows = 32L

  /** One aggregate of [[rollingFrames]]: `agg` applied to the RANGE
    * frame (t − aUs, t + bUs] around each row's microsecond timestamp t
    * (`aUs`, `bUs` ≥ 0, not both 0). `agg` receives that frame's window
    * spec, e.g. `avg(col("v")).over(_)`.
    */
  private[graft] final case class RollingFrame(name: String, aUs: Long, bUs: Long,
                                                agg: WindowSpec => Column)

  /** The one sliding-frame body: every frame evaluated at each row of
    * `df`, returned as the row's own columns plus one column per frame
    * and `_b`, the row's time bucket. `usCol` holds the row's timestamp
    * in epoch microseconds. The output stays hash-partitioned on
    * (keys, `_b`), so a grouping on keys, `_b` and more columns needs no
    * further exchange.
    *
    * Buckets and halo: each row belongs to time bucket
    * k = `floorDiv(us, B)` with B = [[BucketWindows]] × the widest
    * frame span a + b. A row with `us > (k+1)·B − max a` is also emitted
    * once into bucket k+1, and a row with `us < k·B + max b` once into
    * bucket k−1 (B ≥ 32 spans keeps the two exclusive). The frames run
    * over (keys, bucket) and the halo rows are dropped after them, so
    * every frame holds exactly the rows of the per-key frame, and one
    * dense key spreads over (time range / B) tasks behind a single
    * exchange and one sort. Rows with a null timestamp share one bucket
    * per key, as they share one frame.
    *
    * Cost: on uniform data about (max a + max b) / B of the rows are
    * evaluated twice (once as halo). Spark re-aggregates a sliding frame
    * for every row, so a key still costs O(rows × frame rows) — spread
    * over its buckets, not in one task.
    */
  private[graft] def rollingFrames(df: DataFrame, keys: Seq[String], usCol: String,
                                   frames: Seq[RollingFrame]): DataFrame = {
    require(frames.nonEmpty && frames.forall(f =>
      f.aUs >= 0 && f.bUs >= 0 && f.aUs + f.bUs > 0),
      "rolling frames need bounds a, b >= 0 with a + b > 0")
    val maxA = frames.map(_.aUs).max
    val maxB = frames.map(_.bUs).max
    val bUs = BucketWindows * frames.map(f => f.aUs + f.bUs).max
    val us = col(usCol)
    val b = floorDiv(us, bUs)
    val next = when(us > (b + 1) * bUs - maxA, array(b, b + 1))
    val buckets =
      if (maxB == 0) next.otherwise(array(b))
      else next.when(us < b * bUs + maxB, array(b, b - 1)).otherwise(array(b))
    val spec = Window.partitionBy(keys.map(col) :+ col("_b"): _*).orderBy(us)
    // (t-a, t+b] at microsecond resolution
    val aggCols = frames.map(f => f.agg(spec.rangeBetween(-(f.aUs - 1), f.bUs)).as(f.name))
    df.select(col("*"), posexplode(buckets).as(Seq("_halo", "_b")))
      .select(col("*") +: aggCols: _*)
      .filter(col("_halo") === 0)
      .drop("_halo")
  }

  /** Centered time-window rolling aggregate (reference utils.py:32-57
    * `c_rolling`).
    *
    * Pandas computes a trailing window (t-w, t] (closed on the right)
    * and then shifts the index by -w/2. We reproduce exactly that: the
    * output timestamp is `ts - window/2` and the aggregate covers the
    * trailing window, which is equivalent to a window centered on the
    * shifted timestamp. `min_periods` defaults to 1 like pandas
    * time-based rolling. The frame is [[rollingFrames]]' (w, 0): one
    * exchange on (keys, time bucket of 32w) and one sort.
    *
    * @param aggs (outputName, aggregating fn over the frame'd column)
    * @param minPeriods observations required in the window for a
    *        non-null result (pandas min_periods; default 1)
    */
  def cRolling(df: DataFrame, keys: Seq[String], tsCol: String, valCol: String,
               windowSec: Long, aggs: Seq[(String, Column => Column)],
               minPeriods: Int = 1): DataFrame = {
    val wUs = windowSec * UsPerSec
    val k = keys.map(col)
    def enough(frame: WindowSpec) =
      if (minPeriods <= 1) lit(true)
      else count(col("_v")).over(frame) >= minPeriods
    val rows = df
      .select(k :+ col(valCol).as("_v") :+ unix_micros(col(tsCol)).as("_us"): _*)
    rollingFrames(rows, keys, "_us", aggs.map { case (name, f) =>
        RollingFrame(name, wUs, 0L, w => when(enough(w), f(col("_v")).over(w)))
      })
      .select(k ++ (timestamp_micros(col("_us") - wUs / 2).as(tsCol + "_c") +:
        aggs.map(a => col(a._1))): _*)
  }

  /** [[cRolling]] with a pandas-style duration window ('6H', '15T',
    * '1D' — utils.py:11 parse_duration, the form the reference's
    * c_rolling('6H') users reach for first). Parses once on the driver
    * and delegates; Scala allows default arguments on only one
    * overload, so the minPeriods-less form is its own method.
    */
  def cRolling(df: DataFrame, keys: Seq[String], tsCol: String, valCol: String,
               window: String, aggs: Seq[(String, Column => Column)],
               minPeriods: Int): DataFrame =
    cRolling(df, keys, tsCol, valCol,
      graft.api.Durations.parseSeconds(window), aggs, minPeriods)

  /** [[cRolling]] with a duration string and the default minPeriods. */
  def cRolling(df: DataFrame, keys: Seq[String], tsCol: String, valCol: String,
               window: String, aggs: Seq[(String, Column => Column)]): DataFrame =
    cRolling(df, keys, tsCol, valCol, window, aggs, minPeriods = 1)

  /** A12 `ts_step` — two-sample step (level-shift) detection: at every
    * observation, the difference between the mean over the NEXT
    * `windowSec` (closed at t: [t, t+w)) and the mean over the
    * PREVIOUS `windowSec` (open at t: [t-w, t)). A sustained jump in
    * the series level shows as |step| near the jump height for the
    * observations around the change point; noise averages out with
    * window width. This is the bounded-window form of change-point
    * detection that stays a ONE-EXCHANGE window operator: CUSUM-style
    * detectors are per-key sequential recursions (each statistic
    * depends on the previous row's), which cannot be a window frame at
    * all — the two-sample scan is the standard scalable alternative
    * (it is the mean-difference statistic of Page's test computed at
    * every split point of a 2w window). The reference's field-data
    * use case: glacier speed-up events and drainage onsets in
    * gpstools/hydrotools series.
    *
    * Both frames ride the SAME (keys, ts) sort, so Spark compiles
    * them into one WindowExec after one hash exchange. Sides with
    * fewer than `minPeriods` observations yield a null step (a step
    * score at a series edge would be noise presented as signal).
    */
  def stepDetect(df: DataFrame, keys: Seq[String], tsCol: String,
                 valCol: String, windowSec: Long,
                 minPeriods: Int = 3): DataFrame = {
    val wUs = windowSec * UsPerSec
    val part = Window.partitionBy(keys.map(col): _*)
      .orderBy(unix_micros(col(tsCol)))
    // Each side is a DIFFERENCE of two GROWING frames (unbounded
    // preceding -> moving upper bound) instead of a direct sliding
    // RANGE frame: Spark evaluates growing frames incrementally (one
    // add per row) but recomputes a sliding frame from scratch for
    // every row (window aggregates have no retraction), which makes
    // the direct form O(rows x rows-per-window) per key — measured
    // 25x on the 30%-hot-key fixture, where one dense series holds
    // thousands of rows per 72 h frame. The difference form is
    // O(n log n) per key at ANY density:
    //   sum[t-w, t)  = sum(<= t-1µs) - sum(<= t-w-1µs)
    //   sum[t, t+w)  = sum(<= t+w-1µs) - sum(<= t-1µs)
    // Counts are integer-exact; the float sums associate differently
    // from a direct frame sum, which the query-level r6 grid absorbs
    // (the roll_sum exposure — the DuckDB oracle keeps the direct
    // sliding-window statement).
    def upTo(endOffset: Long) =
      part.rangeBetween(Window.unboundedPreceding, endOffset)
    val sPrev = sum(col(valCol)).over(upTo(-1))
    val sPrevW = sum(col(valCol)).over(upTo(-wUs - 1))
    val sNext = sum(col(valCol)).over(upTo(wUs - 1))
    val cPrev = count(col(valCol)).over(upTo(-1))
    val cPrevW = count(col(valCol)).over(upTo(-wUs - 1))
    val cNext = count(col(valCol)).over(upTo(wUs - 1))
    val nb = cPrev - cPrevW
    val na = cNext - cPrev
    val sb = coalesce(sPrev, lit(0.0)) - coalesce(sPrevW, lit(0.0))
    val sa = coalesce(sNext, lit(0.0)) - coalesce(sPrev, lit(0.0))
    val enough = nb >= minPeriods && na >= minPeriods
    df.select(keys.map(col) :+ col(tsCol) :+
      when(enough, sa / na - sb / nb).as("step"): _*)
  }

  /** Bucketed gap-based session labeling — the boundary-stitch twin of
    * the q_sessionize window form. The window form sorts each key's
    * entire history in one task (lag + running sum over (key, ts));
    * this form bounds a task by one (key, time bucket).
    *
    * Decomposition: events bucket by `floorDiv(us, B)` with the fixed
    * width B = 4 × gap (the [[cRolling]] bucket arithmetic); within
    * each (key, bucket) a local lag + running-sum labels PROVISIONAL
    * sessions (the bucket's first event provisionally opens one); the
    * per-bucket summary table (first/last timestamp, local session
    * count — one row per non-empty bucket) is stitched per key in
    * bucket order: a bucket CONTINUES the previous non-empty bucket's
    * last session when the boundary gap is within `gapSec`, and the
    * global session id is base(b) + local_id − cont(b), where base is
    * the running sum of each prior bucket's (local count − its own
    * cont). Sessions chain across many buckets and skip empty ones.
    * Integer arithmetic end to end: session ids are IDENTICAL to the
    * window form's 1-based per-key numbering on every input
    * (spec-pinned), so the two forms share an oracle.
    *
    * Output: the input columns plus `session_id`. Non-null timestamps
    * required (the q_sessionize contract).
    */
  def sessionLabelsScalable(df: DataFrame, keys: Seq[String], tsCol: String,
                            gapSec: Long): DataFrame = {
    require(gapSec > 0, "gapSec must be positive")
    val gUs = gapSec * UsPerSec
    val bUs = 4 * gUs
    val k = keys.map(col)
    val base = df.withColumn("_us", unix_micros(col(tsCol)))
      .withColumn("_b", floorDiv(col("_us"), bUs))
    val w1 = Window.partitionBy(k :+ col("_b"): _*).orderBy(col("_us"))
    val run1 = w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = base
      .withColumn("_prev", lag(col("_us"), 1).over(w1))
      .withColumn("_new",
        when(col("_prev").isNull || col("_us") - col("_prev") > gUs, 1L)
          .otherwise(0L))
      .withColumn("_lsid", sum(col("_new")).over(run1))
    val summary = withLocal.groupBy(k :+ col("_b"): _*)
      .agg(min(col("_us")).as("_first"), max(col("_us")).as("_last"),
        sum(col("_new")).as("_nloc"))
    val w2 = Window.partitionBy(k: _*).orderBy(col("_b"))
    val w2run = w2.rowsBetween(Window.unboundedPreceding, -1)
    val stitched = summary
      .withColumn("_prevLast", lag(col("_last"), 1).over(w2))
      .withColumn("_cont",
        when(col("_prevLast").isNotNull &&
          col("_first") - col("_prevLast") <= gUs, 1L).otherwise(0L))
      .withColumn("_contrib", col("_nloc") - col("_cont"))
      .withColumn("_base",
        coalesce(sum(col("_contrib")).over(w2run), lit(0L)))
      .select(k ++ Seq(col("_b"), col("_cont"), col("_base")): _*)
    withLocal.join(stitched, keys :+ "_b")
      .withColumn("session_id",
        col("_base") + col("_lsid") - col("_cont"))
      .drop("_us", "_b", "_prev", "_new", "_lsid", "_cont", "_base")
  }

  /** A13 `ts_gaps` — per-key sampling-gap audit, the QC read that
    * precedes any field-data analysis (the reference's users eyeball
    * this from plots; at a million series nobody can): per key, the
    * observation count, the LARGEST inter-observation gap, and how
    * many gaps exceed a threshold. All integer microsecond arithmetic
    * (one lag window + one aggregate on the same key exchange), so the
    * report is exact cross-engine with no float protocol at all.
    * Single-observation keys report null gaps (no interval exists),
    * not zero — absence of evidence, stated as absence.
    */
  def gapReport(df: DataFrame, keys: Seq[String], tsCol: String,
                thresholdSec: Long): DataFrame = {
    val byTs = Window.partitionBy(keys.map(col): _*)
      .orderBy(unix_micros(col(tsCol)))
    val thrUs = thresholdSec * UsPerSec
    df.select(keys.map(col) :+ col(tsCol): _*)
      .withColumn("_gap",
        unix_micros(col(tsCol)) - lag(unix_micros(col(tsCol)), 1).over(byTs))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_obs"),
        max(col("_gap")).as("max_gap_us"),
        count(when(col("_gap") > thrUs, lit(1))).as("n_gaps_over"))
  }

  /** Exact median of a materialized array column. Enables rolling
    * medians: Spark's median aggregate is not window-frame-capable, but
    * collect_list is — collect the frame with cRolling, then take the
    * sorted middle here (mean of the two middles for even counts,
    * matching pandas/DuckDB). An empty or null array (a frame of null
    * values) has a null median.
    *
    * MEMORY BOUND: the collect_list frame materializes O(window)
    * doubles per row inside WindowExec — fine for sparse series and
    * moderate windows (a 2 h window at 1-min sampling is 120 elements),
    * but a dense 1 Hz series under a multi-hour window builds ~10^4
    * element arrays per row.
    */
  def medianOfArray(vals: Column): Column = {
    val sorted = sort_array(vals)
    val n = size(sorted)
    val mid = ((n + 1) / 2).cast("int") // integer division: n is IntegerType
    val lo = (n / 2).cast("int")
    when(n % 2 === 1, element_at(sorted, mid))
      .when(n > 0, (element_at(sorted, lo) + element_at(sorted, lo + 1)) / 2.0)
  }

  /** Downsample to fixed calendar buckets with aggregates (A3;
    * reference gpstools.py:350 `resample('1D').mean()`).
    */
  def resample(df: DataFrame, keys: Seq[String], tsCol: String, valCol: String,
               unit: String, aggs: Seq[(String, Column => Column)]): DataFrame =
    df.groupBy(keys.map(col) :+ date_trunc(unit, col(tsCol)).as("bucket"): _*)
      .agg(aggs.head._2(col(valCol)).as(aggs.head._1),
        aggs.tail.map { case (n, f) => f(col(valCol)).as(n) }: _*)

  /** The neighbour reads every ordered-neighbour operator shares: over
    * `spec`, the last non-null `point` at or before each row and the
    * first non-null `point` at or after it — a running `last` and
    * `coalesce(point, lead)`, so per key one sort plus a linear sweep
    * and never a growing-following frame. Pass `point` as a column
    * reference: an expression that two window functions read is
    * projected, and shuffled, once per function.
    */
  private def neighbours(point: Column, spec: WindowSpec): (Column, Column) =
    (last(point, ignoreNulls = true)
      .over(spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
      coalesce(point, lead(point, 1, null, ignoreNulls = true).over(spec)))

  /** The right row an as-of sweep returns for each left row. */
  private sealed trait AsofDirection
  private case object Backward extends AsofDirection
  private case object Forward extends AsofDirection
  private case object Nearest extends AsofDirection

  /** The one as-of body, the union + window sweep (Leis et al., VLDB
    * 2015): left and right rows are tagged and unioned once, then one
    * hash exchange on the keys and one sort by (ts, side, value tie)
    * per key feed a linear sweep — no join, and the big side is never
    * broadcast.
    *
    * Each right row carries ONE struct `_pt` of its `rightVals` (and,
    * for the nearest pick only, its exact-µs timestamp `_t`). The
    * struct is non-null even when every value in it is null, so
    * IGNORE NULLS skips left rows, never values: all returned values
    * come from one right row, and a matched row whose value is null
    * yields null (pandas `merge_asof` row semantics). The struct is
    * also the value tie: right rows sharing (key, ts) sort by their
    * values ascending, nulls first, so backward returns the largest
    * and forward the smallest of them.
    *
    * Right rows sort before left rows on timestamp ties for backward
    * and nearest and after them for forward, so each direction is
    * inclusive of a same-ts right row. Nearest compares exact integer
    * µs distances (a double epoch loses sub-µs exactness and could
    * flip near-ties); equal distances go to the backward row.
    *
    * A null timestamp matches nothing, as pandas `merge_asof` admits no
    * null key: right rows with a null `tsCol` are dropped, and left rows
    * with one keep null right values in every direction.
    */
  private def asofSweep(left: DataFrame, right: DataFrame, keys: Seq[String],
                        tsCol: String, rightVals: Seq[String],
                        direction: AsofDirection): DataFrame = {
    val carried = rightVals.map(col)
    val pt = struct(
      (if (direction == Nearest) unix_micros(col(tsCol)).as("_t") +: carried else carried): _*)
    val tagged = left.withColumn("_side", lit(0)).unionByName(
      right.filter(col(tsCol).isNotNull)
        .select(keys.map(col) ++ Seq(col(tsCol), lit(1).as("_side"), pt.as("_pt")): _*),
      allowMissingColumns = true)
    val side = if (direction == Forward) col("_side").asc else col("_side").desc
    val spec = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, side, col("_pt").asc_nulls_first)
    val (prev, next) = neighbours(col("_pt"), spec)
    val swept = direction match {
      case Backward => tagged.withColumn("_pick", prev)
      case Forward => tagged.withColumn("_pick", next)
      case Nearest =>
        val us = unix_micros(col(tsCol))
        // one select, so both windows share one Window node and one sort
        tagged.select(col("*"), prev.as("_b"), next.as("_f")).withColumn("_pick",
          when(col("_f").isNull, col("_b"))
            .when(col("_b").isNull, col("_f"))
            .when(us - col("_b._t") <= col("_f._t") - us, col("_b"))
            .otherwise(col("_f")))
    }
    swept.filter(col("_side") === 0)
      .select(left.columns.toSeq.map(col) ++ rightVals.map(v =>
        when(col(tsCol).isNotNull, col("_pick").getField(v)).as(v)): _*)
  }

  /** As-of (backward) join: for each left row, the latest right row
    * with right.ts <= left.ts, per key — pandas
    * `merge_asof(direction='backward')`, the pattern behind
    * hydrotools.py:545's atmospheric-pressure alignment (A4). All
    * `rightVals` come from that one row; among right rows sharing
    * (key, ts) it is the one with the LARGEST values. [[asofSweep]]'s
    * running `last`.
    *
    * @param rightVals right-side value columns to carry (left must not
    *                  already contain columns with these names)
    */
  def asofJoinBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
                       tsCol: String, rightVals: Seq[String]): DataFrame =
    asofSweep(left, right, keys, tsCol, rightVals, Backward)

  /** As-of FORWARD join: for each left row, the earliest right row with
    * right.ts >= left.ts, per key — pandas
    * `merge_asof(direction='forward')`. All `rightVals` come from that
    * one row; among right rows sharing (key, ts) it is the one with
    * the SMALLEST values. [[asofSweep]]'s `coalesce(point, lead)`.
    */
  def asofJoinForward(left: DataFrame, right: DataFrame, keys: Seq[String],
                      tsCol: String, rightVals: Seq[String]): DataFrame =
    asofSweep(left, right, keys, tsCol, rightVals, Forward)

  /** As-of NEAREST join: for each left row, the right row whose
    * timestamp is closest in absolute distance, per key — pandas
    * `merge_asof(direction='nearest')`, with equal-distance ties going
    * to the EARLIER (backward) match. Both directions of [[asofSweep]]
    * run over its one sort; the distance decision and the returned
    * values come from the same right row.
    */
  def asofJoinNearest(left: DataFrame, right: DataFrame, keys: Seq[String],
                      tsCol: String, rightVals: Seq[String]): DataFrame =
    asofSweep(left, right, keys, tsCol, rightVals, Nearest)

  /** Linear gap interpolation per key (A5; reference melt_model.py:403
    * `interpolate(method='linear')` with pandas defaults): interior
    * nulls are linearly interpolated between the nearest non-null
    * neighbors by timestamp; trailing nulls are filled with the last
    * valid value (pandas forward limit direction); leading nulls stay
    * null. The neighbours come from [[neighbours]] over one (key; ts,
    * value) sort: per key one sort plus a linear sweep. Rows sharing a
    * timestamp order by value ascending, nulls first, so a null row
    * never sits between two same-ts values and its result does not
    * depend on partition order.
    */
  def interpolateLinear(df: DataFrame, keys: Seq[String], tsCol: String,
                        valCol: String, outCol: String): DataFrame = {
    val spec = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(valCol).asc_nulls_first)
    val (prev, next) = neighbours(col("_pt"), spec)
    df.withColumn("_pt", when(col(valCol).isNotNull,
        struct(unix_micros(col(tsCol)).as("t"), col(valCol).as("v"))))
      .select(col("*"), prev.as("_prev"), next.as("_next"))
      .withColumn(outCol,
        when(col(valCol).isNotNull, col(valCol))
          .when(col("_prev").isNotNull && col("_next").isNotNull,
            col("_prev.v") + (col("_next.v") - col("_prev.v")) *
              (unix_micros(col(tsCol)) - col("_prev.t")) /
              (col("_next.t") - col("_prev.t")))
          .when(col("_prev").isNotNull, col("_prev.v"))
          .otherwise(lit(null).cast("double")))
      .drop("_pt", "_prev", "_next")
  }

  /** Downsample to arbitrary fixed intervals (reference resample('6H'),
    * '15T', ...): epoch-aligned bucket ids (floor-divided, so a
    * pre-1970 row lands in pandas' bucket), one groupBy shuffle. For
    * calendar units prefer [[resample]] (date_trunc handles DST-less
    * UTC calendars directly).
    */
  def resampleInterval(df: DataFrame, keys: Seq[String], tsCol: String,
                       valCol: String, intervalSec: Long,
                       aggs: Seq[(String, Column => Column)]): DataFrame = {
    val iUs = intervalSec * UsPerSec
    df.withColumn("_bid", floorDiv(unix_micros(col(tsCol)), iUs))
      .groupBy(keys.map(col) :+ col("_bid"): _*)
      .agg(aggs.head._2(col(valCol)).as(aggs.head._1),
        aggs.tail.map { case (n, f) => f(col(valCol)).as(n) }: _*)
      .withColumn("bucket", timestamp_micros(col("_bid") * iUs))
      .drop("_bid")
  }

  /** [[resampleInterval]] with a pandas-style duration string — the
    * reference's `resample('15T')` form.
    */
  def resampleInterval(df: DataFrame, keys: Seq[String], tsCol: String,
                       valCol: String, interval: String,
                       aggs: Seq[(String, Column => Column)]): DataFrame =
    resampleInterval(df, keys, tsCol, valCol,
      graft.api.Durations.parseSeconds(interval), aggs)

  /** Forward-fill nulls per key by time order (pandas ffill). */
  def ffill(df: DataFrame, keys: Seq[String], tsCol: String,
            cols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** Nearest-neighbor upsampling onto a fixed-interval grid (reference
    * hydrotools.py:204 `P_atm.resample('15T').nearest()`): per key,
    * generate interval-aligned grid points spanning the observed range
    * and pick the temporally closest observation's value for each
    * (ties -> the earlier observation, matching pandas reindex).
    *
    * The grid is the left side of [[asofSweep]]'s nearest sweep and the
    * non-null observations its right side: one shuffle for the grid
    * bounds, one for the sweep, no per-point lookups; grid size is
    * bounded by range/interval per key. Observations sharing a
    * timestamp order by value, so the backward pick is the largest of
    * them and the forward pick the smallest. The bounds come from
    * every observation, null values included, and grid buckets are
    * floor-divided, so pre-1970 observations land in the same bucket
    * pandas gives them.
    */
  def upsampleNearest(df: DataFrame, keys: Seq[String], tsCol: String,
                      valCol: String, intervalSec: Long): DataFrame = {
    val iUs = intervalSec * UsPerSec
    val bounds = df.groupBy(keys.map(col): _*)
      .agg(min(unix_micros(col(tsCol))).as("_lo"), max(unix_micros(col(tsCol))).as("_hi"))
    val grid = bounds.select(keys.map(col) :+
        explode(sequence(floorDiv(col("_lo"), iUs),
          floorDiv(col("_hi"), iUs))).as("_b"): _*)
      .select(keys.map(col) :+ timestamp_micros(col("_b") * iUs).as(tsCol): _*)
    val obs = df.filter(col(valCol).isNotNull)
      .select(keys.map(col) ++ Seq(col(tsCol), col(valCol)): _*)
    asofSweep(grid, obs, keys, tsCol, Seq(valCol), Nearest)
  }

  /** [[upsampleNearest]] with a pandas-style duration string — the
    * reference's `resample('15T').nearest()` form (hydrotools.py:204).
    */
  def upsampleNearest(df: DataFrame, keys: Seq[String], tsCol: String,
                      valCol: String, interval: String): DataFrame =
    upsampleNearest(df, keys, tsCol, valCol,
      graft.api.Durations.parseSeconds(interval))

  /** Sampling-rate inference: mode of consecutive timestamp deltas per
    * key, in whole seconds (A7; reference gpstools.py:804
    * `infer_sampling` — pandas `.seconds` excludes whole days, hence
    * the modulo). Ties break toward the smallest delta (the reference's
    * set-iteration tie-break is nondeterministic; ours is pinned).
    */
  def inferSampling(df: DataFrame, keys: Seq[String], tsCol: String): DataFrame = {
    val part = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val deltas = df
      .withColumn("_prev_us", lag(unix_micros(col(tsCol)), 1).over(part))
      .filter(col("_prev_us").isNotNull)
      .withColumn("dt_s",
        floor((unix_micros(col(tsCol)) - col("_prev_us")) / lit(1000000.0))
          .cast("long") % lit(86400L))
    val counts = deltas.groupBy(keys.map(col) :+ col("dt_s"): _*).agg(count(lit(1)).as("n"))
    val rankW = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("n").desc, col("dt_s").asc)
    counts.withColumn("_rn", row_number().over(rankW))
      .filter(col("_rn") === 1)
      .select(keys.map(col) :+ col("dt_s").as("sampling_rate_s") :+ col("n"): _*)
  }

  /** Time-slice clip (A9; reference gpstools.py:829 `clip_to_window`). */
  def clipWindow(df: DataFrame, tsCol: String, startInclusive: String,
                 endExclusive: String): DataFrame =
    df.filter(col(tsCol) >= lit(startInclusive).cast("timestamp") &&
      col(tsCol) < lit(endExclusive).cast("timestamp"))

  /** Boundary-mode time slice (gpstools.py:729 `subset_from_bounds`
    * with gpstools.py:907 `_set_window_bounds`): one [start, end]
    * window whose endpoints are individually open or closed. The
    * reference implements exclusivity by shifting a bound to the
    * next/previous observation when the bound is an observation label;
    * that is strict comparison, expressed here directly (with one
    * documented divergence: multiple observations SHARING an excluded
    * boundary timestamp are all excluded, where the reference's
    * index[1] shift would keep the later duplicates — label-slicing
    * trivia, not semantics worth reproducing).
    */
  def clipWindowClosed(df: DataFrame, tsCol: String, start: String,
                       end: String, closed: String = "both"): DataFrame = {
    val s = lit(start).cast("timestamp")
    val e = lit(end).cast("timestamp")
    val pred = closed match {
      case "both"    => col(tsCol) >= s && col(tsCol) <= e
      case "left"    => col(tsCol) >= s && col(tsCol) < e
      case "right"   => col(tsCol) > s && col(tsCol) <= e
      case "neither" => col(tsCol) > s && col(tsCol) < e
      case other => throw new IllegalArgumentException(
        s"closed must be both/left/right/neither, got '$other'")
    }
    df.filter(pred)
  }

  /** Multi-window subset (gpstools.py:746 `_subset_from_windows`, the
    * engine behind gpstools.py:411 `drop_positions`): rows whose
    * timestamp falls inside ANY of the closed [start, end] windows —
    * pandas label slicing is inclusive on BOTH ends, unlike
    * [[clipWindow]]'s half-open single window; a single-point entry in
    * the reference's droplist is the degenerate (p, p) window. The
    * window list is a small manual-QC artifact, so it compiles to a
    * literal OR-of-BETWEENs predicate: row-local, pushed to the parquet
    * scan (row-group min/max pruning), no join.
    */
  def subsetFromWindows(df: DataFrame, tsCol: String,
                        windows: Seq[(String, String)]): DataFrame = {
    require(windows.nonEmpty, "windows must be non-empty")
    df.filter(windowsPred(col(tsCol), windows))
  }

  /** A10: windowed exponential moving average — pandas
    * `ewm(alpha, adjust=True).mean()` truncated to the last `window`
    * observations per key: `Σ_k β^k·x_{i-k} / Σ_k β^k` (β = 1−α,
    * k over the newest-first window). The truncation is the scale
    * contract: full-history EWMA is a sequential recursion (one task
    * per key, unbounded state); the windowed form is an ordinary
    * bounded row-frame — one key shuffle + in-partition sort like
    * every operator here, and at β^32 the dropped tail is < 1e-4 of
    * the mass.
    *
    * Cross-engine determinism: weights are `pow(β, k)` (libm on both
    * engines, ulp-absorbed by output rounding), both sums fold the
    * same newest-first order, and nulls are SKIPPED with weights
    * renumbered over the surviving values (collect_list semantics —
    * the oracle filters nulls before reversing to state the same).
    * Ties within a timestamp break by `tieCols`.
    */
  def ewmaRows(df: DataFrame, keys: Seq[String], tsCol: String,
               valCol: String, alpha: Double, window: Int,
               tieCols: Seq[String] = Nil): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    require(window > 0, s"window must be positive, got $window")
    val beta = 1.0 - alpha
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol) +: tieCols.map(col): _*)
      .rowsBetween(-(window - 1), Window.currentRow)
    val rl = reverse(collect_list(col(valCol)).over(w))
    val num = aggregate(transform(col("_rl"), (x, i) => x * pow(lit(beta), i)),
      lit(0.0), (a, x) => a + x)
    val den = aggregate(transform(col("_rl"), (_, i) => pow(lit(beta), i)),
      lit(0.0), (a, x) => a + x)
    df.withColumn("_rl", rl)
      .withColumn("ewma", when(size(col("_rl")) > 0, num / den))
      .drop("_rl")
  }

  /** A11: robust MAD outlier flagging — `|x − median| > k·MAD` per
    * key, the standard robust QC gate (Hampel filter family) that a
    * fixed threshold ([[graft.operators.Gps.dropLargeErrors]]) can't
    * replace when scale varies per series. FLAGS, never drops — the
    * droplist decision stays with the caller.
    *
    * Exactness contract: values snap to an r4 grid first, so both the
    * median and the MAD come out of [[graft.mix.Mix.histogramQuantiles]]'
    * integer reach arithmetic (exact lower medians over exact grid
    * histograms) and every downstream comparison is the same IEEE op
    * on identical doubles — the whole flag column is cross-engine
    * deterministic with no rounding at the output edge.
    *
    * The stream gate's two halves on one corpus: the (median, MAD) fit
    * of [[graft.streaming.Streaming.madCutpoints]] and the flag of
    * [[graft.streaming.Streaming.madStream]], so batch and stream flag
    * identically. Scale shape: the fit is histogram-sized work after
    * one corpus groupBy, its centers come back as a broadcast join, and
    * the flag arithmetic is row-local; the corpus never sorts.
    *
    * Output: input row (key first) + `snapped`, `med`, `mad`,
    * `is_outlier` (null value → null flag, never a silent pass).
    */
  def madOutliers(df: DataFrame, keyCol: String, valCol: String,
                  k: Double = 3.5, gridScale: Int = 4): DataFrame =
    graft.streaming.Streaming.madStream(df, keyCol, valCol,
      graft.streaming.Streaming.madCutpoints(df, keyCol, valCol, gridScale), k, gridScale)

  /** Droplist QC (gpstools.py:411 `drop_positions` with
    * `apply_to_instance=True` → gpstools.py:431 `drop_from_instance`):
    * REMOVE every observation inside the windows — the complement of
    * [[subsetFromWindows]] over non-null timestamps (null timestamps
    * are kept: no droplist entry can name them).
    */
  def dropPositions(df: DataFrame, tsCol: String,
                    windows: Seq[(String, String)]): DataFrame = {
    require(windows.nonEmpty, "windows must be non-empty")
    df.filter(!coalesce(windowsPred(col(tsCol), windows), lit(false)))
  }

  private def windowsPred(ts: Column, windows: Seq[(String, String)]): Column =
    windows.map { case (a, b) =>
      ts.between(lit(a).cast("timestamp"), lit(b).cast("timestamp"))
    }.reduce(_ || _)
}
