package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.operators.Melt
import graft.functions._

/** E1-E4 — weather / melt model. Synthetic AWS series from events:
  * temp = (value-100)*0.1 (deg C, straddles 0), incoming = value*2
  * (W/m2), reflected = incoming * deterministic factor in [0.35, 1.10]
  * (so the albedo >= 1 clip path is exercised).
  */
object MeltQueries extends QueryPack {

  private def aws(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("ts"),
      ((col("value") - 100.0) * 0.1).as("temp"),
      (col("value") * 2.0).as("incoming"),
      (col("value") * 2.0 * (lit(0.35) + lit(0.05) * (col("event_id") % 16))).as("reflected"))

  /** E1 `melt_shadow` — shadow correction, daily 11:00-13:15 window. */
  def meltShadow(s: SparkSession, dir: String): DataFrame =
    Melt.shadowCorrection(aws(s, dir), Seq("user_id"), "ts", "incoming",
        11 * 60, 13 * 60 + 15)
      .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts"),
        r6(col("solar_corrected")).as("solar_corrected"))

  /** E2 `melt_albedo` — daily albedo at solar noon, clipped + ffilled. */
  def meltAlbedo(s: SparkSession, dir: String): DataFrame =
    Melt.dailyAlbedo(aws(s, dir), Seq("user_id"), "ts", "incoming", "reflected")
      .select(col("user_id"), fmtDay(col("day")).as("day"), r4(col("albedo")).as("albedo"))

  /** E3 `melt_rate` — enhanced temperature-index melt equation with the
    * default bare-ice albedo (melt_model.py:576).
    */
  def meltRate(s: SparkSession, dir: String): DataFrame =
    aws(s, dir).select(col("event_id"), col("user_id"),
      meltEqu(col("temp"), lit(0.7), col("incoming")).as("melt_rate"))

  /** E4 `melt_pipeline` — the full hourly melt pipeline
    * (melt_model.py:448 calc_melt) of [[graft.operators.Melt.pipeline]]
    * over the synthetic AWS series.
    */
  def meltPipeline(s: SparkSession, dir: String): DataFrame =
    Melt.pipeline(aws(s, dir), Seq("user_id"), "ts", "temp", "incoming", "reflected")
      .select(col("event_id"), col("user_id"), r4(col("melt_rate")).as("melt_rate"))

  /** Repo-relative fixture resolution (verdict-r13 item 7): CWD first
    * (sbt forked runs set user.dir to the checkout root), then
    * `GRAFT_REPO_ROOT` for callers running from elsewhere — never a
    * hard-coded absolute path, so a relocated checkout keeps working.
    */
  private def fixturePath(rel: String): String = {
    val cands = Seq(new java.io.File(rel),
      new java.io.File(sys.env.getOrElse("GRAFT_REPO_ROOT", "."), rel))
    cands.find(_.exists()).getOrElse(cands.head).getAbsolutePath
  }

  /** E4+ `melt_from_hobo` — the reference's ACTUAL entry point run end
    * to end (VERDICT r10 item 6): raw HOBOware AWS export (title
    * preamble, '#' column, sensor-label headers, -888.88/-888.9
    * sentinel nulls — melt_model.py:48 read_hobo_csv) through
    * [[graft.sources.Sources.readHobo]], then the melt pipeline of
    * `melt_pipeline` on the loader's output columns. Runs on the
    * COMMITTED fixture `fixtures/hobo_aws.csv` (the raw-format parse is
    * what's under test; the sf tables carry no preamble formats), and
    * the DuckDB oracle re-reads the same file with read_csv + the same
    * sentinel null tokens — loader AND pipeline are hash-verified
    * together.
    *
    * The albedo side is broadcast: it is a per-day aggregate of the
    * fixture (bounded rows); without the hint the planner picks a
    * SortMergeJoin and pays two sort+exchange pairs on a join whose
    * build side fits in one block (r15 plan sweep;
    * plans/r15/melt_from_hobo_{before,after}.txt). It grows as
    * stations x days, so the hint is sized for sensor-fixture time
    * spans; a multi-decade many-station deployment should drop it and
    * let the planner (and AQE) choose from the measured size.
    */
  def meltFromHobo(s: SparkSession, dir: String): DataFrame = {
    val base = graft.sources.Sources.readHobo(s, fixturePath("fixtures/hobo_aws.csv"))
      .select(col("Date Time - GMT").as("ts"), col("Temp").as("temp"),
        col("Solar1").as("incoming"), col("Solar2").as("reflected"))
      .withColumn("stn", lit("aws1"))
    Melt.pipeline(base, Seq("stn"), "ts", "temp", "incoming", "reflected",
        broadcastAlbedo = true)
      .select(fmtTs(col("ts")).as("ts"), r4(col("melt_rate")).as("melt_rate"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "melt_shadow" -> meltShadow,
    "melt_albedo" -> meltAlbedo,
    "melt_rate" -> meltRate,
    "melt_pipeline" -> meltPipeline,
    "melt_from_hobo" -> meltFromHobo)

  /** Shared synthetic-AWS CTE. */
  private val awsCte =
    """WITH aws AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    (value - 100.0) * 0.1 AS temp,
      |    value * 2.0 AS incoming,
      |    value * 2.0 * (CAST(0.35 AS DOUBLE)
      |      + CAST(0.05 AS DOUBLE) * (event_id % 16)) AS reflected
      |  FROM events)""".stripMargin

  /** Daily-albedo CTE chain (mirrors Melt.dailyAlbedo). */
  private val albCte =
    """r AS (SELECT *,
      |    avg(incoming) OVER w AS inc_s, avg(reflected) OVER w AS out_s,
      |    ts - INTERVAL 3600 SECOND AS ts_c
      |  FROM aws WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 7199999999 PRECEDING AND CURRENT ROW)),
      |rd AS (SELECT *, date_trunc('day', ts_c) AS d FROM r),
      |pick AS (SELECT user_id, d, out_s / inc_s AS raw FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, d
      |      ORDER BY inc_s DESC, ts_c ASC) AS rn FROM rd) t
      |  WHERE rn = 1),
      |alb AS (SELECT user_id, d,
      |    last_value(CASE WHEN raw >= 1.0 THEN NULL ELSE raw END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY d
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS albedo
      |  FROM pick)""".stripMargin

  /** Centered-smoothed incoming, the albedo joined by day and the melt
    * equation with fillna 0 (mirrors Melt.pipeline), selecting `cols`
    * and melt_rate.
    */
  private def meltTail(cols: String): String =
    s"""wi AS (SELECT *, avg(incoming) OVER (
       |    PARTITION BY user_id ORDER BY epoch_us(ts)
       |    RANGE BETWEEN 3599999999 PRECEDING AND 3600000000 FOLLOWING) AS inc_c
       |  FROM aws)
       |SELECT $cols,
       |  floor((coalesce(CASE WHEN wi.temp > 0.0
       |    THEN 0.05 * wi.temp + 0.0094 * (1.0 - alb.albedo) * wi.inc_c
       |    ELSE 0.0 END, 0.0)) * 10000 + 0.5001) / 10000 AS melt_rate
       |FROM wi LEFT JOIN alb
       |  ON wi.user_id = alb.user_id AND date_trunc('day', wi.ts) = alb.d""".stripMargin

  val oracles: Map[String, String] = Map(
    "melt_shadow" ->
      s"""$awsCte,
         |mk AS (SELECT event_id, user_id, ts, epoch_us(ts) AS eu,
         |    CASE WHEN hour(ts) * 60 + minute(ts) BETWEEN 660 AND 795
         |           AND incoming < least(
         |             first_value(CASE WHEN hour(ts)*60+minute(ts) BETWEEN 660 AND 795
         |                         THEN incoming END IGNORE NULLS)
         |               OVER (PARTITION BY user_id, date_trunc('day', ts) ORDER BY ts
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
         |             last_value(CASE WHEN hour(ts)*60+minute(ts) BETWEEN 660 AND 795
         |                        THEN incoming END IGNORE NULLS)
         |               OVER (PARTITION BY user_id, date_trunc('day', ts) ORDER BY ts
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
         |      THEN NULL ELSE incoming END AS v
         |  FROM aws),
         |w AS (SELECT *,
         |  last_value(CASE WHEN v IS NOT NULL THEN struct_pack(t := eu, v := v) END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY ts
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pr,
         |  first_value(CASE WHEN v IS NOT NULL THEN struct_pack(t := eu, v := v) END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY ts
         |          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nx
         |  FROM mk)
         |SELECT event_id, user_id, strftime(ts, '$fmt') AS ts,
         |  floor((CASE WHEN v IS NOT NULL THEN v
         |    WHEN pr IS NOT NULL AND nx IS NOT NULL
         |      THEN pr.v + (nx.v - pr.v) * (eu - pr.t) / (nx.t - pr.t)
         |    WHEN pr IS NOT NULL THEN pr.v END) * 1000000 + 0.5001) / 1000000 AS solar_corrected
         |FROM w""".stripMargin,
    "melt_albedo" ->
      s"""$awsCte,
         |$albCte
         |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
         |  floor((albedo) * 10000 + 0.5001) / 10000 AS albedo
         |FROM alb""".stripMargin,
    "melt_rate" ->
      s"""$awsCte
         |SELECT event_id, user_id,
         |  CASE WHEN temp > 0.0
         |       THEN 0.05 * temp + 0.0094 * (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * incoming
         |       ELSE 0.0 END AS melt_rate
         |FROM aws""".stripMargin,
    "melt_pipeline" ->
      s"""$awsCte,
         |$albCte,
         |${meltTail("wi.event_id, wi.user_id")}""".stripMargin,
    // same pipeline CTEs as melt_pipeline, but `aws` comes from
    // re-reading the committed raw HOBO fixture: skip the title line,
    // header on, the loader's sentinel tokens as nullstr — DuckDB
    // states the parse AND the pipeline
    "melt_from_hobo" ->
      s"""WITH aws AS (
         |  SELECT 'aws1' AS user_id,
         |    "Date Time - GMT" AS ts, "Temp  C" AS temp,
         |    "Solar Radiation  W/m2" AS incoming,
         |    "Solar Radiation 2  W/m2" AS reflected
         |  FROM read_csv('${fixturePath("fixtures/hobo_aws.csv")}', skip = 1, header = true,
         |    nullstr = ['-888.88', '-888.9'])),
         |$albCte,
         |${meltTail(s"strftime(wi.ts, '$fmt') AS ts")}""".stripMargin)
}
