package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** F1-F6 — the relational substrate (TPC-H-ish).
  *
  * Scale notes (100 TB):
  *   - q1_agg is a single scan + partial/final hash agg; the shipdate
  *     filter and 7-column projection reach the parquet scan
  *     (PushedFilters / ReadSchema).
  *   - q3_join broadcasts the filtered customer dim (small side) and
  *     lets AQE pick broadcast for orders-after-filter as well; only
  *     lineitem streams.
  *   - window queries shuffle once on the partition key, then sort in
  *     place (WindowExec), no driver collection.
  *   - q_antijoin is a broadcastable left-anti (null-safe not needed:
  *     keys are non-null).
  */
object RelationalQueries extends QueryPack {

  /** F1 `q1_agg` — scan + filter + project + grouped aggregation. */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") < lit("1999-01-01").cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        r4(sum("l_quantity")).as("sum_qty"),
        r4(sum("l_extendedprice")).as("sum_base_price"),
        r4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price"),
        r4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))).as("sum_charge"),
        r6(avg("l_quantity")).as("avg_qty"),
        r6(avg("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** F2 `q3_join` — multi-way join. Only the customer dim is forced
    * broadcast (always small); lineitem-orders is left to AQE, which
    * broadcasts the filtered orders side at small SF but correctly
    * falls back to a shuffled join at cluster scale where orders is a
    * fact table.
    */
  def q3Join(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp_ntz"))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(r4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"))
      .select(col("l_orderkey"), fmtDay(col("o_orderdate")).as("o_orderdate"), col("revenue"))
  }

  /** F3 `q_window_topk` — rank() within nation over customer balance. */
  def qWindowTopk(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("n_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      // long, not int: exact pandas-dtype parity with DuckDB's rank()
      .withColumn("rnk", rank().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("n_name"), col("c_custkey"), col("c_acctbal"), col("rnk"))
  }

  /** F9 `q_merge` — latest-wins log compaction (the SCD-1 / CDC merge
    * shape every lakehouse pipeline runs: collapse an event log to
    * each key's current state). `row_number = 1` over (ts DESC,
    * event_id DESC) — the unique id makes the pick deterministic on
    * timestamp ties — and the rank<=1 filter compiles to a map-side
    * WindowGroupLimit (each task keeps one candidate row per key
    * BEFORE the exchange, so the shuffle carries ~|keys| rows, not the
    * log). Fully oracled.
    */
  def qMerge(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("user_id"), col("event_id"), fmtTs(col("ts")).as("ts"),
        col("event_type"), col("value"))
  }

  /** F10 `q_salted` — two-phase salted aggregation on a genuinely hot
    * key (event_type: a handful of values over the whole table — the
    * textbook skewed groupBy). Phase 1 aggregates by (key, salt) so
    * every reducer sees ~1/16 of a hot key's rows; phase 2 merges the
    * bounded partials. The ORACLE is the plain one-phase GROUP BY —
    * the hash compare proves the salted plan computes exactly the
    * direct aggregation (sums ride the integer-rounded-long protocol,
    * so partial-merge order cannot drift a float).
    */
  def qSalted(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("_vq",
      floor(col("value") * 10000 + 0.5001).cast("long"))
    graft.operators.Salting.saltedAgg(ev, Seq("event_type"),
        spreadCol = "event_id", saltBuckets = 16,
        aggs = Seq(("n", "value", "count"), ("vq_sum", "_vq", "sum"),
          ("min_v", "value", "min"), ("max_v", "value", "max")))
      .select(col("event_type"), col("n"),
        (col("vq_sum") / 10000.0).as("total_value"),
        col("min_v"), col("max_v"))
  }

  /** F4 `q_antijoin` — customers with no recent (>= 2000) orders. */
  def qAntijoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp_ntz")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** F4+ `q_semijoin` — customers WITH recent orders (the semi twin of
    * q_antijoin).
    */
  def qSemijoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp_ntz")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))

  /** F5 `q_topk` — grouped top-k (per supplier, 5 priciest line items). */
  def qTopk(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
  }

  /** F6s `q_sessionize_scalable` — gap-based sessions through the
    * bucketed boundary-stitch labeler
    * ([[graft.operators.TimeSeriesOps.sessionLabelsScalable]]): the
    * window form sorts each user's entire history in ONE task; here a
    * hot key spreads over (time-range / 48 h bucket) tasks and the
    * per-bucket summaries stitch in a rows-per-key = bucket-count
    * window. Session ids are integer-identical to the window form on
    * every input (spec-pinned), so this entry reuses q_sessionize's
    * oracle verbatim.
    */
  def qSessionizeScalable(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeriesOps.sessionLabelsScalable(
        Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
        Seq("user_id"), "ts", gapSec = 12L * 3600)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        fmtTs(min(col("ts"))).as("session_start"),
        fmtTs(max(col("ts"))).as("session_end"),
        count(lit(1)).as("n_events"),
        (sum(floor(col("value") * lit(10000) + lit(0.5001))) / lit(10000.0))
          .as("total_value"))

  /** F6 `q_sessionize` — gap-based sessions (12 h) per user. */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val run = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("value"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byTs))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 12L * 3600 * 1000000, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        fmtTs(min(col("ts"))).as("session_start"),
        fmtTs(max(col("ts"))).as("session_end"),
        count(lit(1)).as("n_events"),
        // Exact & order-independent: round each value to 4 dp as a long
        // (floor is deterministic IEEE math, identical in DuckDB), sum
        // longs (exact), divide once. A double sum + post-round can
        // drift across partial-aggregation orders on long sessions.
        (sum(floor(col("value") * lit(10000) + lit(0.5001))) / lit(10000.0))
          .as("total_value"))
  }

  /** K `q_json_props` — typed extraction from the events JSON payload
    * plus a grouped aggregate over the extracted field.
    */
  def qJsonProps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"),
        graft.sources.Sinks.jsonField("props", "$.k", "long").as("k"))
      .groupBy(col("user_id"))
      .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** F+ `q_rollup` — hierarchical subtotals (ROLLUP) over the Q1 agg. */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(r4(sum("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))

  /** F+ `q_cube` — all grouping-set combinations (CUBE) over the Q1
    * agg: the rollup's sibling that also emits the per-linestatus
    * marginals. One Expand + one aggregate exchange, like ROLLUP.
    */
  def qCube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(r4(sum("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))

  /** F+ `q_pivot` — wide aggregation: revenue per returnflag pivoted by
    * linestatus (fixed pivot values, so the plan is a single pass of
    * conditional aggregates — same shape the oracle spells out).
    */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(r4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))))

  /** F+ `q_quantiles` — exact per-group quartiles, computed
    * scale-safely on the VALUE HISTOGRAM
    * ([[graft.mix.Mix.histogramQuantiles]]): l_quantity is
    * integer-valued (a 1..50 grid), so the corpus collapses map-side
    * to at most 50 histogram rows per group and all three quartiles
    * come out of one cumulative window over those rows — per-group
    * work bounded by the value DOMAIN, not the row count (the previous
    * `percentile()` form buffered every group member in executor
    * memory and its wall time grew 7.4x over 100x data; this plan is
    * flat). Quantiles are exact LOWER (type-1) values in pure integer
    * reach arithmetic — no interpolation definition for engines to
    * disagree about; the interpolated/sketched form at 100 TB is
    * `q_approx`.
    */
  def qQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.mix.Mix.histogramQuantiles(Tables.lineitem(s, dir),
        "l_returnflag", "l_quantity", Seq((1, 4), (2, 4), (3, 4)))
      .select(col("l_returnflag"),
        col("q_1_4").as("p25"),
        col("q_2_4").as("p50"),
        col("q_3_4").as("p75"))

  /** The sketch-only aggregation both q_approx variants share: one
    * scan, map-side-combining HLL++ and percentile sketches, 3 output
    * rows.
    */
  private def sketchAggs(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey")).as("_e_o"),
        approx_count_distinct(col("l_partkey")).as("_e_p"),
        expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 1000)")
          .as("_q"))

  /** F+ `q_approx` — the sketch aggregates that replace their exact
    * twins at 100 TB: HyperLogLog++ distinct counts
    * (approx_count_distinct) and a single-pass approximate percentile
    * trio. Both are bounded-memory, map-side-combining sketches — the
    * exact forms (countDistinct's dedup shuffle, percentile's full
    * per-group sort buffer) scale with DATA, the sketches with
    * ACCURACY. Raw sketch values are implementation-defined, so the
    * hash-oracled output (r10; previously rows-only) is the exact
    * half plus a per-cell accuracy CERTIFICATE: the exact distinct
    * counts, a within-10%-relative-error flag for each HLL estimate,
    * and a flag pinning each approx percentile inside the exact
    * p±5-rank value window. The oracle states the exact counts and
    * literal TRUEs — a drifting sketch fails the hash gate. The exact
    * rank windows come from [[graft.mix.Mix.histogramQuantiles]]
    * (value-domain-bounded reach arithmetic, NOT a per-group
    * percentile sort buffer — the first cut of this certificate used
    * `percentile()` and was 36x slower) joining back as a broadcast
    * dim; at 100 TB a user runs only the sketch half (the raw
    * estimates stay pinned by RelationalSketchSpec).
    */
  def qApprox(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // three SEPARATE aggregations joined on the 3-row key dim: mixing
    // countDistinct with the sketch aggs in ONE agg makes Catalyst
    // plan an Expand (one projection per distinct group) that runs the
    // percentile sketch over 3x null-padded rows — 5x slower measured
    val sk = sketchAggs(li)
    val ex = li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("nd_orders"),
        countDistinct(col("l_partkey")).as("nd_parts"))
    val bounds = graft.mix.Mix.histogramQuantiles(li, "l_returnflag",
      "l_extendedprice",
      Seq((1, 5), (3, 10), (9, 20), (11, 20), (7, 10), (4, 5)))
    sk.join(broadcast(ex), Seq("l_returnflag"))
      .join(broadcast(bounds), Seq("l_returnflag"))
      .select(col("l_returnflag"),
        col("nd_orders").cast("long").as("nd_orders"),
        col("nd_parts").cast("long").as("nd_parts"),
        (abs(col("_e_o") / col("nd_orders") - 1.0) <= 0.1).as("est_orders_ok"),
        (abs(col("_e_p") / col("nd_parts") - 1.0) <= 0.1).as("est_parts_ok"),
        col("_q")(0).between(col("q_1_5"), col("q_3_10")).as("p25_ok"),
        col("_q")(1).between(col("q_9_20"), col("q_11_20")).as("p50_ok"),
        col("_q")(2).between(col("q_7_10"), col("q_4_5")).as("p75_ok"))
  }

  /** F7s `q_approx_sketch` — ONLY the sketch half of [[qApprox]]: the
    * plan a 100 TB user actually runs (VERDICT r11 item 4). q_approx's
    * benched number conflates the sketches with their exact-certificate
    * twins (countDistinct's dedup shuffle + the histogram-quantile rank
    * windows exist to VERIFY the sketches, and dominate its growth);
    * this entry benches the one-scan bounded-memory sketch aggregation
    * alone — HLL++ registers and a single-pass percentile sketch, both
    * map-side combining to 3 groups, so growth is scan-bound by
    * construction. Rows-only BY NATURE: the raw estimates are
    * implementation-defined sketch outputs (no engine-portable value to
    * hash against); their ACCURACY stays hash-verified through
    * q_approx's certificate flags and pinned in RelationalSketchSpec —
    * this key exists for the bench artifact, the correctness signal
    * lives in its oracled twin.
    */
  def qApproxSketch(s: SparkSession, dir: String): DataFrame =
    sketchAggs(Tables.lineitem(s, dir))
      .select(col("l_returnflag"),
        col("_e_o").cast("long").as("est_nd_orders"),
        col("_e_p").cast("long").as("est_nd_parts"),
        col("_q")(0).as("est_p25"),
        col("_q")(1).as("est_p50"),
        col("_q")(2).as("est_p75"))

  /** F8 `ev_funnel` — ORDERED conversion funnel over the event stream:
    * users who view, then click strictly after their first view, then
    * purchase strictly after their first qualifying click. The naive
    * formulation is three per-step groupBys chained by joins (three
    * corpus shuffles of the events table); this plan is ONE exchange:
    * all three "earliest qualifying step time so far" columns are
    * running-min windows over the SAME (user_id, ts, event_id)
    * partition/sort, so Spark plans a single Exchange + sort with the
    * stacked WindowExecs reusing it, then a per-user groupBy of 3
    * scalar columns and a 3-row report. Ordering includes event_id so
    * ties are deterministic; "after" is strict (`<` on ts), so a
    * same-timestamp view+click pair does NOT convert.
    */
  def evFunnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.orderedFunnel(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"))
      .select(col("step"), col("event_type"), col("users"),
        r6(col("conv_prev")).as("conv_prev"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_funnel" -> evFunnel,
    "q_approx" -> qApprox,
    "q_approx_sketch" -> qApproxSketch,
    "q_rollup" -> qRollup,
    "q_cube" -> qCube,
    "q_pivot" -> qPivot,
    "q_quantiles" -> qQuantiles,
    "q_json_props" -> qJsonProps,
    "q1_agg" -> q1Agg,
    "q3_join" -> q3Join,
    "q_window_topk" -> qWindowTopk,
    "q_antijoin" -> qAntijoin,
    "q_merge" -> qMerge,
    "q_salted" -> qSalted,
    "q_semijoin" -> qSemijoin,
    "q_topk" -> qTopk,
    "q_sessionize" -> qSessionize,
    "q_sessionize_scalable" -> qSessionizeScalable)

  val oracles: Map[String, String] = Map(
    // exact distinct counts plus literal-TRUE accuracy certificates:
    // the Spark side computes the sketches AND their exact twins and
    // emits the within-bounds flags — if any HLL estimate drifts past
    // 10% rel err or an approx percentile leaves its p±5-rank exact
    // value window, the flag flips and the hash gate fails
    "q_approx" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd_orders,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_parts,
        |  TRUE AS est_orders_ok, TRUE AS est_parts_ok,
        |  TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // identical running-min windows over the same (user_id, ts,
    // event_id) sort; counts are exact integers, the two conversion
    // ratios are single divisions r6-rounded on both sides
    "ev_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    min(CASE WHEN event_type = 'view' THEN ts END) OVER w AS t1
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s2 AS (
        |  SELECT user_id, ts, event_id, event_type, t1,
        |    min(CASE WHEN event_type = 'click' AND t1 < ts THEN ts END)
        |      OVER w AS t2
        |  FROM s1
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s3 AS (
        |  SELECT user_id, t1, t2,
        |    min(CASE WHEN event_type = 'purchase' AND t2 < ts THEN ts END)
        |      OVER w AS t3
        |  FROM s2
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |pu AS (SELECT user_id, min(t1) AS vt, min(t2) AS ct, min(t3) AS pt
        |  FROM s3 GROUP BY user_id),
        |u AS (SELECT count(vt) AS u1, count(ct) AS u2, count(pt) AS u3 FROM pu)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
        |  u1 AS users, CAST(1.0 AS DOUBLE) AS conv_prev FROM u
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click', u2,
        |  CASE WHEN u1 = 0 THEN NULL
        |       ELSE floor(CAST(u2 AS DOUBLE) / u1 * 1000000 + 0.5001) / 1000000
        |  END FROM u
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase', u3,
        |  CASE WHEN u2 = 0 THEN NULL
        |       ELSE floor(CAST(u3 AS DOUBLE) / u2 * 1000000 + 0.5001) / 1000000
        |  END FROM u""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  floor((sum(l_quantity)) * 10000 + 0.5001) / 10000 AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  floor((sum(l_quantity)) * 10000 + 0.5001) / 10000 AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q_pivot" ->
      """SELECT l_returnflag,
        |  floor((sum(CASE WHEN l_linestatus = 'F'
        |    THEN l_extendedprice * (1.0 - l_discount) END)) * 10000 + 0.5001) / 10000 AS F,
        |  floor((sum(CASE WHEN l_linestatus = 'O'
        |    THEN l_extendedprice * (1.0 - l_discount) END)) * 10000 + 0.5001) / 10000 AS O
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // exact integer reach arithmetic over the value histogram — the
    // ds_stats/ds_quality_floor shape; values are exact integers in a
    // double column, so no rounding is needed on either side
    "q_quantiles" ->
      """WITH h AS (SELECT l_returnflag, l_quantity, count(*) AS n
        |  FROM lineitem GROUP BY l_returnflag, l_quantity),
        |c AS (SELECT l_returnflag, l_quantity,
        |    sum(n) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(n) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM h)
        |SELECT l_returnflag,
        |  min(CASE WHEN cum * 4 >= tot * 1 THEN l_quantity END) AS p25,
        |  min(CASE WHEN cum * 4 >= tot * 2 THEN l_quantity END) AS p50,
        |  min(CASE WHEN cum * 4 >= tot * 3 THEN l_quantity END) AS p75
        |FROM c GROUP BY l_returnflag""".stripMargin,
    "q_json_props" ->
      """SELECT user_id,
        |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY user_id""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  floor((sum(l_quantity)) * 10000 + 0.5001) / 10000 AS sum_qty,
        |  floor((sum(l_extendedprice)) * 10000 + 0.5001) / 10000 AS sum_base_price,
        |  floor((sum(l_extendedprice * (1.0 - l_discount))) * 10000 + 0.5001) / 10000 AS sum_disc_price,
        |  floor((sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax))) * 10000 + 0.5001) / 10000 AS sum_charge,
        |  floor((avg(l_quantity)) * 1000000 + 0.5001) / 1000000 AS avg_qty,
        |  floor((avg(l_discount)) * 1000000 + 0.5001) / 1000000 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  floor((sum(l_extendedprice * (1.0 - l_discount))) * 10000 + 0.5001) / 10000 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |GROUP BY l_orderkey, o_orderdate""".stripMargin,
    "q_window_topk" ->
      """SELECT n_name, c_custkey, c_acctbal, rnk FROM (
        |  SELECT n_name, c_custkey, c_acctbal,
        |    rank() OVER (PARTITION BY n_nationkey
        |                 ORDER BY c_acctbal DESC, c_custkey) AS rnk
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey) t
        |WHERE rnk <= 3""".stripMargin,
    "q_semijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '2000-01-01')""".stripMargin,
    "q_antijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '2000-01-01')""".stripMargin,
    "q_topk" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rn FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) t
        |WHERE rn <= 5""".stripMargin,
    "q_salted" ->
      """SELECT event_type, count(value) AS n,
        |  sum(CAST(floor(value * 10000 + 0.5001) AS BIGINT)) / 10000.0
        |    AS total_value,
        |  min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY event_type""".stripMargin,
    "q_merge" ->
      """SELECT user_id, event_id, strftime(CAST(ts AS TIMESTAMP),
        |    '%Y-%m-%d %H:%M:%S.%f') AS ts, event_type, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 43200000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |  count(*) AS n_events,
        |  sum(CAST(floor(value * 10000 + 0.5001) AS BIGINT)) / 10000.0 AS total_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin,
    // the scalable twin's session ids are integer-identical to the
    // window form's, so the oracle is the SAME direct statement (the
    // bucket decomposition must be invisible to it)
    "q_sessionize_scalable" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 43200000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |  count(*) AS n_events,
        |  sum(CAST(floor(value * 10000 + 0.5001) AS BIGINT)) / 10000.0 AS total_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin)
}
