package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
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

  /** Centered time-window rolling aggregate (reference utils.py:32-57
    * `c_rolling`).
    *
    * Pandas computes a trailing window (t-w, t] (closed on the right)
    * and then shifts the index by -w/2. We reproduce exactly that: the
    * output timestamp is `ts - window/2` and the aggregate covers the
    * trailing window, which is equivalent to a window centered on the
    * shifted timestamp. `min_periods` defaults to 1 like pandas
    * time-based rolling.
    *
    * @param aggs (outputName, aggregating fn over the frame'd column)
    * @param minPeriods observations required in the window for a
    *        non-null result (pandas min_periods; default 1)
    */
  def cRolling(df: DataFrame, keys: Seq[String], tsCol: String, valCol: String,
               windowSec: Long, aggs: Seq[(String, Column => Column)],
               minPeriods: Int = 1): DataFrame = {
    val wUs = windowSec * UsPerSec
    val frame = Window.partitionBy(keys.map(col): _*)
      .orderBy(unix_micros(col(tsCol)))
      .rangeBetween(-(wUs - 1), 0) // (t-w, t] at microsecond resolution
    val enough =
      if (minPeriods <= 1) lit(true)
      else count(col(valCol)).over(frame) >= minPeriods
    val aggCols = aggs.map { case (name, f) =>
      when(enough, f(col(valCol)).over(frame)).as(name)
    }
    val tsCentered = timestamp_micros(unix_micros(col(tsCol)) - wUs / 2).as(tsCol + "_c")
    df.select(keys.map(col) ++ Seq(tsCentered) ++ aggCols: _*)
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

  /** SKEW-ROBUST [[cRolling]] for the subtractable-and-monoid aggregate
    * set (min/max/sum/count/mean) — the r15 answer to the measured
    * hot-key hazard (StragglerProbe, sg10_skew, SCALING.md r15): a
    * direct sliding RANGE frame is recomputed per row for
    * non-subtractable aggregates, so per-key work is QUADRATIC in
    * per-key density — one 30%-hot key turned ts_rolling_multi's
    * largest stage into a 55.9 s straggler against a 0.46 s median
    * task (ratio 120).
    *
    * Decomposition: the trailing frame (t-w, t] spans at most two
    * width-w time buckets, so every frame aggregate is the monoid
    * combine of (a) a PREFIX aggregate within the row's own bucket
    * (ascending growing frame — Spark evaluates it incrementally) and
    * (b) a SUFFIX aggregate of the previous bucket from s = t-w+1µs,
    * read off a DESCENDING-order growing frame at a probe row injected
    * at time s (probes carry null values, so they are invisible to the
    * aggregates). Every window is a growing frame — O(n log n) per
    * key — and the bucket column joins the partition key, so ONE hot
    * key spreads over (time-range / w) tasks instead of one.
    *
    * Exactness: min/max/count are bit-identical to [[cRolling]]'s
    * frame form on every input; sum/mean associate the additions
    * differently (two partials vs one frame scan), which the
    * query-level r6 grid absorbs — the ts_step convention, and the
    * shipped oracle keeps the direct sliding-window statement. Exact
    * rolling MEDIANS are not monoid-decomposable: the frame form (or
    * [[cRollingQuantileApprox]]'s bounded sketch) remains the honest
    * tool there.
    *
    * Output: keys, `ts_c` (centered timestamp, the [[cRolling]]
    * contract), `roll_min`, `roll_max`, `roll_sum`, `roll_n`,
    * `roll_mean`; aggregates null when the frame has fewer than
    * `minPeriods` observations.
    */
  def cRollingScalable(df: DataFrame, keys: Seq[String], tsCol: String,
                       valCol: String, windowSec: Long,
                       minPeriods: Int = 1): DataFrame = {
    val wUs = windowSec * UsPerSec
    val k = keys.map(col)
    val base = df.select(k :+ unix_micros(col(tsCol)).as("_us") :+
      col(valCol).cast("double").as("_v"): _*)
      .withColumn("_b", floor(col("_us") / wUs))
    // probe rows: one per distinct (keys, t) whose frame start
    // s = t-w+1 lands in the PREVIOUS bucket (s at the own-bucket
    // boundary means the prefix alone IS the frame — no probe)
    val probes = base.select(k :+ col("_us"): _*).distinct()
      .withColumn("_orig_us", col("_us"))
      .withColumn("_us", col("_us") - wUs + 1)
      .withColumn("_b", floor(col("_us") / wUs))
      .filter(col("_b") < floor(col("_orig_us") / wUs))
      .withColumn("_v", lit(null).cast("double"))
    // suffix aggregates via a DESCENDING growing frame: at a probe row
    // of time s the frame covers every real row with _us >= s in the
    // probe's bucket — exactly the frame's previous-bucket part
    val wDesc = Window.partitionBy(k :+ col("_b"): _*)
      .orderBy(col("_us").desc)
      .rangeBetween(Window.unboundedPreceding, 0)
    val left = base.withColumn("_orig_us", lit(null).cast("long"))
      .unionByName(probes)
      .select(k ++ Seq(col("_b"), col("_us"), col("_v"),
        col("_orig_us")): _*)
      .withColumn("_lmin", min(col("_v")).over(wDesc))
      .withColumn("_lmax", max(col("_v")).over(wDesc))
      .withColumn("_lsum", sum(col("_v")).over(wDesc))
      .withColumn("_ln", count(col("_v")).over(wDesc))
      .filter(col("_orig_us").isNotNull)
      .select(k :+ col("_orig_us").as("_us") :+ col("_lmin") :+
        col("_lmax") :+ col("_lsum") :+ col("_ln"): _*)
    // prefix aggregates: ascending growing frame within the own bucket
    val wAsc = Window.partitionBy(k :+ col("_b"): _*)
      .orderBy(col("_us"))
      .rangeBetween(Window.unboundedPreceding, 0)
    val withPrefix = base
      .withColumn("_pmin", min(col("_v")).over(wAsc))
      .withColumn("_pmax", max(col("_v")).over(wAsc))
      .withColumn("_psum", sum(col("_v")).over(wAsc))
      .withColumn("_pn", count(col("_v")).over(wAsc))
    val joined = withPrefix.join(left, keys :+ "_us", "left")
    val n = coalesce(col("_ln"), lit(0L)) + col("_pn")
    val enough = n >= math.max(minPeriods, 1)
    def agg(c: Column): Column = when(enough && n > 0, c)
    joined.select(k ++ Seq(
      timestamp_micros(col("_us") - wUs / 2).as(tsCol + "_c"),
      agg(least(col("_lmin"), col("_pmin"))).as("roll_min"),
      agg(greatest(col("_lmax"), col("_pmax"))).as("roll_max"),
      agg(coalesce(col("_lsum"), lit(0.0)) +
        coalesce(col("_psum"), lit(0.0))).as("roll_sum"),
      // the frame form wraps EVERY agg (count included) in the
      // minPeriods gate; with the default minPeriods=1 the count is
      // unconditional (n=0 prints 0, not null) — mirror both
      (if (minPeriods <= 1) n else when(enough, n)).as("roll_n"),
      agg((coalesce(col("_lsum"), lit(0.0)) +
        coalesce(col("_psum"), lit(0.0))) / n).as("roll_mean")): _*)
  }

  /** SKEW-ROBUST rolling MEDIAN on a value grid (r16, verdict-r15
    * item 5) — the missing member of the [[cRollingScalable]] family:
    * the exact rolling median is not monoid-decomposable (no
    * subtractable state), so the frame form materializes and sorts
    * every frame per row (collect_list + [[medianOfArray]]) — O(rows x
    * frame-rows) per key, the measured sg10_skew straggler shape —
    * while a MERGE-ABLE quantile sketch decomposes exactly like
    * min/max: frame sketch = combine(prefix sketch of the own bucket,
    * suffix sketch of the previous bucket), both growing frames that
    * Spark evaluates incrementally.
    *
    * The sketch is a fixed-universe grid histogram
    * ([[org.apache.spark.sql.graft.CellCounts]]): one linear pre-pass
    * reads the column's global [min, max] (a broadcast scalar — the
    * blockDocCounts pattern), values bucket into `nCells` uniform
    * cells, and per-row state is one long[nCells] count vector —
    * update O(1), merge element-wise, per-key work O(rows x nCells)
    * independent of frame width or key density. Rank arithmetic is
    * integer-exact on the grid (the ts_mad lower-median convention,
    * applied to BOTH middles): the lower/upper median cells are the
    * smallest cells whose cumulative count reaches ceil(n/2) and
    * floor(n/2)+1, and the estimate is the mean of the two cell
    * CENTERS — so |estimate − exact frame median| <= cellWidth/2 =
    * (max−min)/(2·nCells) on every input (each true middle lies inside
    * its estimated cell), deterministically (no seeds, no float
    * accumulation in the decision). A constant column degenerates to
    * cellWidth 0 and the estimate is exact.
    *
    * Same frame contract as [[cRolling]]: trailing (t-w, t] at
    * microsecond resolution, output timestamp centered (`ts_c`),
    * aggregates null below `minPeriods`. Output: keys, `ts_c`,
    * `roll_med_grid`, `roll_n`.
    */
  def cRollingMedianScalable(df: DataFrame, keys: Seq[String], tsCol: String,
                             valCol: String, windowSec: Long,
                             nCells: Int = 512,
                             minPeriods: Int = 1): DataFrame = {
    require(nCells > 1, s"nCells must be > 1, got $nCells")
    val wUs = windowSec * UsPerSec
    val k = keys.map(col)
    val range = df.agg(
      min(col(valCol).cast("double")).as("_gmin"),
      max(col(valCol).cast("double")).as("_gmax"))
    val width = when(col("_gmax") > col("_gmin"),
      (col("_gmax") - col("_gmin")) / nCells).otherwise(lit(0.0))
    val cell = when(col("_v").isNull, lit(null).cast("int"))
      .when(col("_gmax") <= col("_gmin"), lit(0))
      .otherwise(least(lit(nCells - 1), greatest(lit(0),
        floor((col("_v") - col("_gmin")) /
          ((col("_gmax") - col("_gmin")) / nCells)).cast("int"))))
    val base = df
      .select(k :+ unix_micros(col(tsCol)).as("_us") :+
        col(valCol).cast("double").as("_v"): _*)
      .crossJoin(broadcast(range))
      .withColumn("_cell", cell)
      .withColumn("_b", floor(col("_us") / wUs))
      .drop("_v")
    // probe rows at s = t-w+1 in the PREVIOUS bucket (the
    // cRollingScalable scaffolding — see its Scaladoc; probes carry a
    // null cell, so the histogram never sees them)
    val probes = base
      .select(k ++ Seq(col("_us"), col("_gmin"), col("_gmax")): _*)
      .distinct()
      .withColumn("_orig_us", col("_us"))
      .withColumn("_us", col("_us") - wUs + 1)
      .withColumn("_b", floor(col("_us") / wUs))
      .filter(col("_b") < floor(col("_orig_us") / wUs))
      .withColumn("_cell", lit(null).cast("int"))
    val hist = org.apache.spark.sql.graft.VectorAggregates
      .cellCounts(col("_cell"), nCells)
    val wDesc = Window.partitionBy(k :+ col("_b"): _*)
      .orderBy(col("_us").desc)
      .rangeBetween(Window.unboundedPreceding, 0)
    val left = base.withColumn("_orig_us", lit(null).cast("long"))
      .unionByName(probes)
      .withColumn("_lhist", hist.over(wDesc))
      .withColumn("_ln", count(col("_cell")).over(wDesc))
      .filter(col("_orig_us").isNotNull)
      .select(k :+ col("_orig_us").as("_us") :+ col("_lhist") :+
        col("_ln"): _*)
    val wAsc = Window.partitionBy(k :+ col("_b"): _*)
      .orderBy(col("_us"))
      .rangeBetween(Window.unboundedPreceding, 0)
    // foldable zero histogram: coalescing an all-null-cell side against
    // it keeps the median expression null-free (evaluated once, not
    // per row)
    val zeroHist = array_repeat(lit(0L), nCells)
    val joined = base
      .withColumn("_phist", hist.over(wAsc))
      .withColumn("_pn", count(col("_cell")).over(wAsc))
      .join(left, keys :+ "_us", "left")
      .withColumn("_n", coalesce(col("_ln"), lit(0L)) + col("_pn"))
    // lower/upper median cells in ONE compiled pass over the two count
    // vectors (GridMedianCellSum — guide §4: the zip_with/aggregate
    // higher-order form is interpreted per element and measured ~10 s
    // at sf0.1); estimate = mean of the two cell centers
    //   = gmin + (lo + up + 1) · width / 2
    val cellSum = org.apache.spark.sql.graft.VectorExpressions
      .gridMedianCellSum(coalesce(col("_phist"), zeroHist),
        coalesce(col("_lhist"), zeroHist), col("_n"))
    val n = col("_n")
    val enough = n >= math.max(minPeriods, 1)
    joined.select(k ++ Seq(
      timestamp_micros(col("_us") - wUs / 2).as(tsCol + "_c"),
      when(enough && n > 0,
        col("_gmin") + (cellSum.cast("double") + 1.0) * width / 2.0)
        .as("roll_med_grid"),
      (if (minPeriods <= 1) n else when(enough, n)).as("roll_n")): _*)
  }

  /** SKEW-ROBUST gap-based session labeling — the bucketed
    * boundary-stitch twin of the q_sessionize window form (r15, the
    * [[cRollingScalable]] treatment applied to sessions). The window
    * form sorts each key's ENTIRE history in one task (lag + running
    * sum over (key, ts)); that is linear, so the sg10_skew fixture
    * absorbs a 30%-hot key (StragglerProbe: ratio 1.02) — but at true
    * scale one key with 10⁹ events is a single-task sort that spills
    * or OOMs, the unbounded-partition hazard, and this form is the
    * routed shape there.
    *
    * Decomposition: events bucket by floor(us / bucketUs); within each
    * (key, bucket) a local lag + running-sum labels PROVISIONAL
    * sessions (the bucket's first event provisionally opens one); the
    * per-bucket summary table (first/last timestamp, local session
    * count — one row per non-empty bucket, thousands of rows per key
    * where the events were billions) is stitched per key in bucket
    * order: a bucket CONTINUES the previous non-empty bucket's last
    * session when the boundary gap is within `gapSec`, and the global
    * session id is base(b) + local_id − cont(b), where base is the
    * running sum of each prior bucket's (local count − its own cont).
    * Works for ANY bucketSec (sessions chain across many buckets and
    * skip empty ones — the stitch reads the previous NON-EMPTY
    * summary); default 4× the gap. Integer arithmetic end to end:
    * session ids are IDENTICAL to the window form's 1-based per-key
    * numbering on every input (spec-pinned), so the two forms share
    * an oracle.
    *
    * Output: the input columns plus `session_id`. Non-null timestamps
    * required (the q_sessionize contract).
    */
  def sessionLabelsScalable(df: DataFrame, keys: Seq[String], tsCol: String,
                            gapSec: Long, bucketSec: Long = 0L): DataFrame = {
    require(gapSec > 0, "gapSec must be positive")
    val gUs = gapSec * UsPerSec
    val bUs = (if (bucketSec > 0) bucketSec else 4 * gapSec) * UsPerSec
    val k = keys.map(col)
    val base = df.withColumn("_us", unix_micros(col(tsCol)))
      .withColumn("_b", floor(col("_us") / bUs))
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
    * matching pandas/DuckDB).
    *
    * MEMORY BOUND: the collect_list frame materializes O(window)
    * doubles per row inside WindowExec — fine for sparse series and
    * moderate windows (a 2 h window at 1-min sampling is 120 elements),
    * but a dense 1 Hz series under a multi-hour window builds ~10^4
    * element arrays per row. For wide windows over dense series use
    * [[cRollingQuantileApprox]], whose per-row state is a fixed-size
    * sketch instead of the frame itself.
    */
  def medianOfArray(vals: Column): Column = {
    val sorted = sort_array(vals)
    val n = size(sorted)
    val mid = ((n + 1) / 2).cast("int") // integer division: n is IntegerType
    val lo = (n / 2).cast("int")
    when(n % 2 === 1, element_at(sorted, mid))
      .otherwise((element_at(sorted, lo) + element_at(sorted, lo + 1)) / 2.0)
  }

  /** Approximate centered rolling quantile (the wide-window escape
    * hatch for rolling medians): percentile_approx over the cRolling
    * range frame. Unlike the exact collect_list + [[medianOfArray]]
    * path, per-row window state is a bounded sketch (controlled by
    * `accuracy`), so the memory bound is independent of window width —
    * the right trade for dense (~1 Hz) series under multi-hour windows
    * at 100 TB. Error is bounded by 1/accuracy of the frame's rank
    * range (exact when the frame has fewer than `accuracy` rows, except
    * that the sketch returns an element, not the even-count midpoint
    * mean).
    */
  def cRollingQuantileApprox(df: DataFrame, keys: Seq[String], tsCol: String,
                             valCol: String, windowSec: Long,
                             probability: Double = 0.5,
                             accuracy: Int = 10000,
                             outCol: String = "approx_median",
                             minPeriods: Int = 1): DataFrame =
    cRolling(df, keys, tsCol, valCol, windowSec,
      Seq(outCol -> (c => percentile_approx(c, lit(probability), lit(accuracy)))),
      minPeriods)

  /** [[cRollingQuantileApprox]] with a pandas-style duration window. */
  def cRollingQuantileApprox(df: DataFrame, keys: Seq[String], tsCol: String,
                             valCol: String, window: String): DataFrame =
    cRollingQuantileApprox(df, keys, tsCol, valCol,
      graft.api.Durations.parseSeconds(window))

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

  /** Droplist QC (gpstools.py:411 `drop_positions` with
    * `apply_to_instance=True` → gpstools.py:431 `drop_from_instance`):
    * REMOVE every observation inside the windows — the complement of
    * [[subsetFromWindows]] over non-null timestamps (null timestamps
    * are kept: no droplist entry can name them).
    */
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
