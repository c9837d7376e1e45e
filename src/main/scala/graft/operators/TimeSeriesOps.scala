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
  private def floorDiv(us: Column, d: Long): Column =
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

  /** As-of (backward) join: for each left row, the latest right value
    * with right.ts <= left.ts, per key (A4; the pattern behind
    * hydrotools.py:545's atmospheric-pressure alignment).
    *
    * Implemented as union + last-non-null window: both sides are tagged
    * and unioned, one hash shuffle on the key, sort by (ts, side), and
    * a running `last(value, ignoreNulls)` carries the right value
    * forward. O(n log n) per key and never broadcasts the big side —
    * this beats a per-row range lookup at scale. Right rows sort before
    * left rows on timestamp ties (asof is inclusive). Right rows that
    * share (key, ts) are ordered by their value columns (nulls first)
    * so the carried value is deterministic, not partition-order-defined:
    * backward's running-last picks the LARGEST value among exact ties.
    *
    * @param rightVals right-side value columns to carry (left must not
    *                  already contain columns with these names)
    */
  def asofJoinBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
                       tsCol: String, rightVals: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val lTagged = left
      .withColumn("_side", lit(0))
      .select(Seq(col("_side")) ++ leftCols.map(col) ++
        rightVals.map(v => lit(null).cast(right.schema(v).dataType).as(v)): _*)
    val rTagged = right
      .withColumn("_side", lit(1))
      .select(Seq(col("_side")) ++ leftCols.map(c =>
        if (keys.contains(c) || c == tsCol) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightVals.map(col): _*)
    val tie = struct(rightVals.map(col): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("_side").desc, tie.asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = lTagged.unionByName(rTagged)
      .select(Seq(col("_side")) ++ leftCols.map(col) ++
        rightVals.map(v => last(col(v), ignoreNulls = true).over(w).as(v)): _*)
    filled.filter(col("_side") === 0).drop("_side")
  }

  /** As-of FORWARD join: for each left row, the EARLIEST right value
    * with right.ts >= left.ts, per key — pandas
    * `merge_asof(direction='forward')`. Same union + single-sort shape
    * as [[asofJoinBackward]], mirrored: right rows sort AFTER left
    * rows on timestamp ties (so the inclusive >= catches a same-ts
    * right) and `coalesce(value, lead(value, 1, ignoreNulls))` over
    * the same spec carries the next right value back. One exchange,
    * never broadcasts the big side; per key one sort plus a linear
    * sweep. Right rows sharing (key, ts) carry the same value-column
    * tie-break as backward (forward picks the SMALLEST value among
    * ties).
    */
  def asofJoinForward(left: DataFrame, right: DataFrame, keys: Seq[String],
                      tsCol: String, rightVals: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val lTagged = left
      .withColumn("_side", lit(0))
      .select(Seq(col("_side")) ++ leftCols.map(col) ++
        rightVals.map(v => lit(null).cast(right.schema(v).dataType).as(v)): _*)
    val rTagged = right
      .withColumn("_side", lit(1))
      .select(Seq(col("_side")) ++ leftCols.map(c =>
        if (keys.contains(c) || c == tsCol) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightVals.map(col): _*)
    val tie = struct(rightVals.map(col): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("_side").asc, tie.asc_nulls_first)
    val filled = lTagged.unionByName(rTagged)
      .select(Seq(col("_side")) ++ leftCols.map(col) ++
        rightVals.map(v => coalesce(col(v),
          lead(col(v), 1, null, ignoreNulls = true).over(w)).as(v)): _*)
    filled.filter(col("_side") === 0).drop("_side")
  }

  /** As-of NEAREST join: for each left row, the right value whose
    * timestamp is closest in absolute distance, per key — pandas
    * `merge_asof(direction='nearest')`, with equal-distance ties going
    * to the EARLIER (backward) match, documented and deterministic.
    *
    * Still ONE exchange: both directions are windows over the same
    * (key; ts, side, tie) sort, so per key one sort plus a linear
    * sweep — the backward running `last(ignoreNulls)` and the forward
    * `lead(1, ignoreNulls)` each carry ONE struct holding the right
    * row's timestamp AND its value columns, so the distance decision
    * and the returned values always come from the same right row (a
    * nearest right row whose value is null matches and yields null —
    * pandas row semantics — rather than silently skipping to a
    * farther row). The pick is a row-local comparison of exact
    * integer microsecond distances (no float timestamp arithmetic — a
    * double cast of an epoch loses sub-µs exactness and could flip
    * near-ties). Right rows sort before left on timestamp ties, so a
    * same-ts right lands in the backward frame at distance 0 and wins
    * every tie; right rows sharing (key, ts) are ordered by their
    * value columns (nulls first) so the carried row is deterministic.
    */
  def asofJoinNearest(left: DataFrame, right: DataFrame, keys: Seq[String],
                      tsCol: String, rightVals: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val lTagged = left
      .withColumn("_side", lit(0))
      .select(Seq(col("_side")) ++ leftCols.map(col) ++
        rightVals.map(v => lit(null).cast(right.schema(v).dataType).as(v)): _*)
    val rTagged = right
      .withColumn("_side", lit(1))
      .select(Seq(col("_side")) ++ leftCols.map(c =>
        if (keys.contains(c) || c == tsCol) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightVals.map(col): _*)
    val tie = struct(rightVals.map(col): _*)
    val part = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("_side").desc, tie.asc_nulls_first)
    val bwd = part.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one struct per right row: its exact-µs timestamp plus ALL carried
    // values — non-null whenever the row is a right row, even if every
    // value in it is null, so IGNORE NULLS skips sides, never values
    val pt = when(col("_side") === 1,
      struct(unix_micros(col(tsCol)).as("_t") +: rightVals.map(col): _*))
    val us = unix_micros(col(tsCol))
    // one select, so both windows share one Window node and the tie
    // struct is projected once: a single sort serves both directions.
    // `_pt` is a column so the shuffle carries the struct once, not
    // once per window function.
    val staged = lTagged.unionByName(rTagged).withColumn("_pt", pt)
      .select(col("*"), last(col("_pt"), ignoreNulls = true).over(bwd).as("_b"),
        coalesce(col("_pt"),
          lead(col("_pt"), 1, null, ignoreNulls = true).over(part)).as("_f"))
    val pick = when(col("_f").isNull, col("_b"))
      .when(col("_b").isNull, col("_f"))
      .when(us - col("_b").getField("_t") <= col("_f").getField("_t") - us,
        col("_b"))
      .otherwise(col("_f"))
    staged
      .withColumn("_pick", pick)
      .select(Seq(col("_side")) ++ leftCols.map(col) ++
        rightVals.map(v => col("_pick").getField(v).as(v)): _*)
      .filter(col("_side") === 0).drop("_side")
  }

  /** Linear gap interpolation per key (A5; reference melt_model.py:403
    * `interpolate(method='linear')` with pandas defaults): interior
    * nulls are linearly interpolated between the nearest non-null
    * neighbors by timestamp; trailing nulls are filled with the last
    * valid value (pandas forward limit direction); leading nulls stay
    * null. The neighbours are `lag`/`lead(1, ignoreNulls)` over one
    * (key; ts) spec: per key one sort plus a linear sweep.
    */
  def interpolateLinear(df: DataFrame, keys: Seq[String], tsCol: String,
                        valCol: String, outCol: String): DataFrame = {
    val part = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val point = when(col(valCol).isNotNull,
      struct(unix_micros(col(tsCol)).as("t"), col(valCol).as("v")))
    val prev = lag(point, 1, null, ignoreNulls = true).over(part)
    val next = lead(point, 1, null, ignoreNulls = true).over(part)
    df.withColumn("_prev", prev).withColumn("_next", next)
      .withColumn(outCol,
        when(col(valCol).isNotNull, col(valCol))
          .when(col("_prev").isNotNull && col("_next").isNotNull,
            col("_prev.v") + (col("_next.v") - col("_prev.v")) *
              (unix_micros(col(tsCol)) - col("_prev.t")) /
              (col("_next.t") - col("_prev.t")))
          .when(col("_prev").isNotNull, col("_prev.v"))
          .otherwise(lit(null).cast("double")))
      .drop("_prev", "_next")
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
    * Same union + two-window shape as the as-of join: one shuffle on
    * the key, no per-point lookups — a running `last(ignoreNulls)` and
    * a `lead(1, ignoreNulls)` over one spec, so per key one sort plus
    * a linear sweep; grid size is bounded by range/interval per key.
    * Grid buckets are floor-divided, so pre-1970 observations land in
    * the same bucket pandas gives them.
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
    val gridT = grid.withColumn("_side", lit(0))
      .withColumn(valCol, lit(null).cast(df.schema(valCol).dataType))
    val obsT = df.select(keys.map(col) ++ Seq(col(tsCol), col(valCol)): _*)
      .withColumn("_side", lit(1))
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("_side").desc)
    val before = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val point = when(col(valCol).isNotNull,
      struct(unix_micros(col(tsCol)).as("t"), col(valCol).as("v")))
    gridT.unionByName(obsT)
      .withColumn("_prev", last(point, ignoreNulls = true).over(before))
      .withColumn("_next", coalesce(point, lead(point, 1, null, ignoreNulls = true).over(ord)))
      .filter(col("_side") === 0)
      .withColumn(valCol,
        when(col("_next").isNull, col("_prev.v"))
          .when(col("_prev").isNull, col("_next.v"))
          .when(unix_micros(col(tsCol)) - col("_prev.t") <=
            col("_next.t") - unix_micros(col(tsCol)), col("_prev.v"))
          .otherwise(col("_next.v")))
      .select(keys.map(col) ++ Seq(col(tsCol), col(valCol)): _*)
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
    * Scale shape (reworked r13): the median comes out of the
    * groupBy(key, value) histogram's reach arithmetic, and the MAD's
    * |x − median| distribution is a RE-GROUPING of that histogram
    * weighted by its counts
    * ([[graft.mix.Mix.histogramQuantilesFromHist]]) — never the old
    * wiring's corpus-scale groupBy over a corpus JOINED with the
    * median dim, so every post-histogram pass is histogram-sized.
    * Both quantile dims come back as broadcast joins; the flag
    * arithmetic is row-local; the corpus never sorts. Measured with a
    * task-metrics listener at mult=100 (deterministic, unlike sg1000
    * wall clocks which ranged 33-101 s across quiet/loaded runs for
    * IDENTICAL code): input records 30M → 20M — THREE corpus scans
    * down to TWO (AQE reuses the histogram exchange across the
    * broadcast subtrees at runtime even though the static plan prints
    * both) — at equal shuffle volume. On a remote-storage corpus the
    * scan is the dominant cost, which is what the rework removes; the
    * alternatives that looked better on paper measured worse — see
    * the in-body note.
    *
    * Output: input row + `snapped`, `med`, `mad`, `is_outlier` (null
    * value → null flag, never a silent pass).
    */
  def madOutliers(df: DataFrame, keyCol: String, valCol: String,
                  k: Double = 3.5, gridScale: Int = 4): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val p = math.pow(10.0, gridScale)
    val snapExpr = when(col(valCol).isNull, lit(null))
      .otherwise(floor(col(valCol) * p + 0.5001) / p)
    val snapped = df.withColumn("_sv", snapExpr)
    // the corpus-scale aggregate; the MAD's |x − median| distribution
    // is then a RE-GROUPING of this histogram weighted by its counts
    // (equal deviations merge with summed counts; abs() is the same
    // IEEE op on the same grid doubles) — histogram-sized work, never
    // a second corpus-wide groupBy over a joined corpus stream like
    // the old wiring (task metrics: 3 corpus scans -> 2, equal shuffle
    // bytes; AQE reuses the hist exchange across the med/mad broadcast
    // subtrees at runtime). Two alternatives were MEASURED at
    // mult=1000 and rejected: (a) eager localCheckpoint of the
    // histogram — 89.7 s vs ~42 s, block-storage serialization of a
    // ~100M-row histogram costs more than the reused exchange;
    // (b) fusing med+mad into one window chain over the histogram
    // (one exchange, zero recompute) — 53.0 s, two full re-sorts plus
    // whole-partition window buffering of a histogram that is nearly
    // corpus-sized at this fixture.
    val hist = snapped.filter(col("_sv").isNotNull)
      .groupBy(col(keyCol), col("_sv"))
      .agg(count(lit(1)).as("_n"))
    val med = graft.mix.Mix
      .histogramQuantilesFromHist(hist, keyCol, "_sv", "_n", Seq((1, 2)))
      .select(col(keyCol), col("q_1_2").as("med"))
    val adHist = hist.join(broadcast(med), Seq(keyCol))
      .groupBy(col(keyCol), abs(col("_sv") - col("med")).as("_ad"))
      .agg(sum(col("_n")).as("_n"))
    val mad = graft.mix.Mix
      .histogramQuantilesFromHist(adHist, keyCol, "_ad", "_n", Seq((1, 2)))
      .select(col(keyCol), col("q_1_2").as("mad"))
    // left joins: a key whose values are ALL null has no quantile row —
    // it must surface with null med/mad/flag, never silently drop
    snapped.join(broadcast(med), Seq(keyCol), "left")
      .join(broadcast(mad), Seq(keyCol), "left")
      .withColumn("_ad", abs(col("_sv") - col("med")))
      .withColumn("is_outlier",
        when(col("_ad").isNull, lit(null).cast("boolean"))
          .otherwise(col("_ad") > lit(k) * col("mad")))
      .withColumnRenamed("_sv", "snapped")
      .drop("_ad")
  }

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
