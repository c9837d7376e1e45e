package graft

import org.apache.spark.sql.functions._
import graft.api._

class ApiSpec extends SparkSpec {
  import spark.implicits._

  test("Durations.parseSeconds handles pandas duration strings") {
    assert(Durations.parseSeconds("2H") === 7200L)
    assert(Durations.parseSeconds("30T") === 1800L)
    assert(Durations.parseSeconds("30min") === 1800L)
    assert(Durations.parseSeconds("1D") === 86400L)
    assert(Durations.parseSeconds("2.5H") === 9000L)
    assertThrows[IllegalArgumentException](Durations.parseSeconds("xyz"))
  }

  private def series(rows: (String, String, Double)*) =
    rows.toDF("k", "ts", "value").select(col("k"),
      col("ts").cast("timestamp").as("ts"), col("value"))

  test("duration-string overloads equal their second-based operators ('6H'/'15T'/'1D')") {
    import graft.operators.TimeSeriesOps
    val df = series(
      ("a", "2020-01-01 00:00:00", 1.0), ("a", "2020-01-01 02:00:00", 3.0),
      ("a", "2020-01-01 05:59:00", 5.0), ("a", "2020-01-02 07:00:00", 7.0))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("ts_c").collect().map(_.toSeq).toSeq
    // the reference's c_rolling('6H') form == windowSec = 21600
    val aggs = Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      "mean" -> avg)
    assert(rows(TimeSeriesOps.cRolling(df, Seq("k"), "ts", "value", "6H", aggs)) ===
      rows(TimeSeriesOps.cRolling(df, Seq("k"), "ts", "value", 21600L, aggs)))
    // minPeriods rides through the string overload
    assert(rows(TimeSeriesOps.cRolling(df, Seq("k"), "ts", "value", "6H", aggs, 2)) ===
      rows(TimeSeriesOps.cRolling(df, Seq("k"), "ts", "value", 21600L, aggs, 2)))
    // '15T' (hydrotools.py:204 resample('15T')) and '1D' forms
    def rows2(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("bucket").collect().map(_.toSeq).toSeq
    assert(rows2(TimeSeriesOps.resampleInterval(df, Seq("k"), "ts", "value", "15T", aggs)) ===
      rows2(TimeSeriesOps.resampleInterval(df, Seq("k"), "ts", "value", 900L, aggs)))
    def rows3(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("ts").collect().map(_.toSeq).toSeq
    assert(rows3(TimeSeriesOps.upsampleNearest(df, Seq("k"), "ts", "value", "1D")) ===
      rows3(TimeSeriesOps.upsampleNearest(df, Seq("k"), "ts", "value", 86400L)))
  }

  test("DiurnalExtrema facade dispatches options like the reference") {
    val df = series(
      ("a", "2024-01-01 02:00:00", 8.0),
      ("a", "2024-01-01 20:00:00", 1.0),
      ("a", "2024-01-02 10:00:00", 9.0),
      ("a", "2024-01-02 20:00:00", 2.0))
    val plain = new DiurnalExtrema(df, Seq("k")).df.orderBy("day").collect()
    assert(plain(0).getAs[Double]("max_val") === 8.0) // plain: in-day max
    val crossMidnight = new DiurnalExtrema(df, Seq("k"),
      minFirst = true, maxNextDay = true).df.orderBy("day").collect()
    assert(crossMidnight(0).getAs[Double]("max_val") === 9.0) // 18h window
    val df2 = series(
      ("a", "2024-01-01 01:00:00", 1.0), ("a", "2024-01-01 12:00:00", 9.0),
      ("a", "2024-01-02 01:00:00", 4.0), ("a", "2024-01-02 12:00:00", 5.0))
    val thresholded = new DiurnalExtrema(df2, Seq("k"), threshold = Some(5.0))
    assert(thresholded.df.count() === 1) // day2 amplitude 1 < 5 dropped
  }

  test("OnIce facade wires flow angle, velocity, smoothing") {
    val pos = (0 until 48).map { h =>
      ("s1", f"2024-01-0${1 + h / 24}%d ${h % 24}%02d:00:00", 0.5 * h, 0.25 * h)
    }.toDF("k", "ts", "dnorth", "deast")
      .select(col("k"), col("ts").cast("timestamp").as("ts"),
        col("dnorth"), col("deast"))
    val onIce = new OnIce(pos, Seq("k"))
    val alpha = onIce.flowDirectionAngle.head.getAs[Double]("alpha")
    assert(math.abs(alpha - math.atan(2.0)) < 1e-9) // dn/de slope = 2
    val vel = onIce.calcVelocity("dnorth", "6H")
    assert(vel.count() > 0)
    // dnorth advances 0.5/h -> 3 per 6h bucket -> 12 m/day
    assert(math.abs(vel.head.getAs[Double]("vel_mpd") - 12.0) < 1e-6)
    assert(onIce.smoothed("dnorth", "2H").count() === 48)
  }

  test("antenna correction shifts heights after the move and drops the move window") {
    val pos = Seq(
      ("s1", "2018-07-07 10:00:00", 0.0, 0.0, 50.0),
      ("s1", "2018-07-07 14:00:00", 1.0, 0.5, 51.0), // inside move window: dropped
      ("s1", "2018-07-08 10:00:00", 2.0, 1.0, 52.0)) // after: height shifted
      .toDF("k", "ts", "dnorth", "deast", "dheight")
      .select(col("k"), col("ts").cast("timestamp").as("ts"),
        col("dnorth"), col("deast"), col("dheight"))
    val corrected = new OnIce(pos, Seq("k"))
      .antennaLoweringCorrection("2018-07-07 13:28:00", -2.0, "2018-07-07 21:40:00")
    val rows = corrected.flowDirectionAngle // facade still composes
    val data = graft.operators.Gps.antennaCorrection(pos, "ts", "dheight",
      "2018-07-07 13:28:00", -2.0, "2018-07-07 21:40:00")
      .orderBy("ts").collect()
    assert(data.length === 2)
    assert(data(0).getAs[Double]("dheight") === 50.0) // before: untouched
    assert(data(1).getAs[Double]("dheight") === 54.0) // 52 - (-2)
    assert(rows.columns.contains("alpha"))
  }

  test("WeatherStation.getDataWith picks the last case-insensitive column match") {
    val df = Seq(("s1", "2024-01-01 00:00:00", 1.0, 2.0, 3.0))
      .toDF("k", "ts", "Temp_air", "temp_surface", "incoming")
    val ws = new graft.api.WeatherStation(df, Seq("k"))
    assert(ws.getDataWith("TEMP").get.columns.toSeq ===
      Seq("k", "ts", "temp_surface")) // last match, case-insensitive
    assert(ws.getDataWith("nonexistent").isEmpty)
  }

  test("zDetrendSampleOrder fits against row position like signal.detrend") {
    import org.apache.spark.sql.functions._
    // z = 2*pos + 1 exactly -> detrended is identically 0
    val pos = (0 until 20).map(i =>
        ("s1", f"2024-01-01 ${i}%02d:00:00", 2.0 * i + 1.0))
      .toDF("k", "t", "z")
      .select($"k", $"t".cast("timestamp").as("t"), $"z")
    val out = graft.operators.Gps.zDetrendSampleOrder(
        pos, Seq("k"), Seq("t"), "z")
      .agg(max(abs($"z_detrended"))).head.getDouble(0)
    assert(out < 1e-9, s"perfect linear trend should detrend to 0, got $out")
  }

  test("OnIce.samplesInTimespan uses the per-key inferred sampling rate") {
    val pos = (0 until 10).map(i =>
      ("s1", f"2024-01-01 00:${i * 5}%02d:00", i.toDouble, i.toDouble))
      .toDF("k", "ts", "dnorth", "deast")
      .select(col("k"), col("ts").cast("timestamp").as("ts"),
        col("dnorth"), col("deast"))
    val out = new OnIce(pos, Seq("k")).samplesInTimespan("2H").collect().head
    assert(out.getAs[Long]("sampling_rate_s") === 300L)
    assert(out.getAs[Long]("n_samples") === 24L) // 7200 / 300
  }

  test("calcStageJeme converts both sensors, filters bad readouts, nulls drop-list picks") {
    val readings = Seq(
      ("2024-01-01 00:00:00", 40.0, 20.0),
      ("2024-01-01 01:00:00", 50.0, 25.0),
      ("2024-01-01 02:00:00", 85.0, 30.0), // >= bad_data_readout=80: dropped
      ("2024-01-01 03:00:00", 60.0, 35.0))
      .toDF("ts", "water_reading", "ablation_reading")
      .select(col("ts").cast("timestamp").as("ts"),
        col("water_reading"), col("ablation_reading"))
    val out = HydroPipelines.calcStageJeme(readings,
      dropList = Seq("2024-01-01 01:00:00")).orderBy("ts").collect()
    assert(out.length === 3) // bad readout filtered
    assert(math.abs(out(0).getAs[Double]("stage") - (4.0 - 40.0 * 0.0254)) < 1e-12)
    assert(math.abs(out(0).getAs[Double]("logger_to_ground") - 20.0 * 0.0254) < 1e-12)
    // drop-list pick: row survives, stage is nulled (reference sets NaN)
    assert(out(1).isNullAt(out(1).fieldIndex("stage")))
    assert(!out(1).isNullAt(out(1).fieldIndex("logger_to_stream")))
  }

  test("calcWlbPira unions lowering+monitoring logs with piecewise heights") {
    val lowering = Seq(
      ("2024-01-01 06:00:00", 2.0),  // interval 1: hgt 100
      ("2024-01-02 06:00:00", 3.0),  // interval 2: hgt 95
      ("2024-01-05 06:00:00", 4.0))  // outside intervals: dropped (dropna)
      .toDF("ts", "Lvl").select(col("ts").cast("timestamp").as("ts"), col("Lvl"))
    val monitoring = Seq(("2024-01-10 06:00:00", 5.0), ("2024-01-11 06:00:00", 2000.0))
      .toDF("ts", "Lvl").select(col("ts").cast("timestamp").as("ts"), col("Lvl"))
    val out = HydroPipelines.calcWlbPira(spark, lowering, monitoring,
      zeroReading = 1.0,
      heightIntervals = Seq(
        ("2024-01-01", "2024-01-02", 100.0), ("2024-01-02", "2024-01-03", 95.0)),
      finalHeight = 90.0, iceThickness = 503.0, iceSurfaceMasl = 764.9)
    val rows = out.orderBy("ts").collect()
    // 4 kept: the out-of-interval lowering row drops (reference dropna);
    // the 2000-ft reading gives a deeply negative level, which passes
    // the wlb > iceThickness sanity filter and stays
    assert(rows.map(_.getAs[Double]("piz_hgt")).toSeq === Seq(100.0, 95.0, 90.0, 90.0))
    val first = rows(0)
    val sd = -(2.0 * 0.3048) + 1.0
    assert(math.abs(first.getAs[Double]("water_level_above_bed") - (sd + 100.0)) < 1e-12)
    assert(math.abs(first.getAs[Double]("ground_water_level_altitude") -
      (sd + 100.0 + (764.9 - 503.0))) < 1e-12)
  }

  test("calcWlbMoulin corrects against explicit zero reading and emits both series") {
    val level = Seq(("m1", "2024-01-01 00:00:00", 10.0), ("m1", "2024-01-01 06:00:00", 12.0))
      .toDF("k", "ts", "lvl")
      .select(col("k"), col("ts").cast("timestamp").as("ts"), col("lvl"))
    val atm = Seq(("m1", "2024-01-01 00:00:00", 10.2), ("m1", "2024-01-01 05:00:00", 10.5))
      .toDF("k", "ts", "p_atm")
      .select(col("k"), col("ts").cast("timestamp").as("ts"), col("p_atm"))
    val out = HydroPipelines.calcWlbMoulin(spark, level, atm, Seq("k"),
      heightIntervals = Seq(("2024-01-01", "2024-01-02", 300.0)),
      iceThickness = 712.0, iceSurfaceMasl = 933.2,
      zeroReading = Some(10.2)).orderBy("ts").collect()
    assert(out.length === 2)
    // t0: p_atm == zero reading -> no drift, corrected == raw
    assert(math.abs(out(0).getAs[Double]("water_level_above_bed_corrected") -
      out(0).getAs[Double]("water_level_above_bed")) < 1e-12)
    // t6: as-of picks 05:00 reading, drift 0.3 m subtracted
    assert(math.abs(out(1).getAs[Double]("submerged_depth_corrected") -
      (12.0 - (10.5 - 10.2))) < 1e-12)
    assert(math.abs(out(1).getAs[Double]("water_level_above_bed") - 312.0) < 1e-12)
    assert(math.abs(out(1).getAs[Double]("water_level_above_bed_fob") -
      312.0 / (0.917 * 712.0)) < 1e-12)
  }

  test("WeatherStation facade runs the melt pipeline with fillna(0)") {
    val aws = (0 until 48).map { h =>
      ("w1", f"2024-01-0${1 + h / 24}%d ${h % 24}%02d:00:00",
        if (h % 24 > 8 && h % 24 < 20) 5.0 else -5.0, // melt only daytime
        math.max(0.0, 500.0 * math.sin((h % 24 - 6) / 12.0 * math.Pi)),
        math.max(0.0, 250.0 * math.sin((h % 24 - 6) / 12.0 * math.Pi)))
    }.toDF("k", "ts", "temp", "incoming", "reflected")
      .select(col("k"), col("ts").cast("timestamp").as("ts"),
        col("temp"), col("incoming"), col("reflected"))
    val ws = new WeatherStation(aws, Seq("k"))
    val melt = ws.calcMelt()
    assert(melt.count() === 48)
    val rates = melt.select("temp", "melt_rate").collect()
    assert(rates.filter(_.getDouble(0) <= 0).forall(_.getDouble(1) === 0.0))
    assert(rates.exists(_.getDouble(1) > 0.0))
    val alb = ws.calcAlbedo()
    assert(alb.count() === 3) // 2 days + the -1h shift day boundary

    // shadow-corrected chain: runs end to end on the corrected series
    val melt2 = ws.calcMeltShadowCorrected(("11:00", "13:15"))
    assert(melt2.count() === 48)
    assert(melt2.columns.contains("melt_rate"))
  }

  test("melt pipeline on degenerate input: empty, all-null incoming, one row, ratios >= 1") {
    // temp > 0 everywhere, so a 0.0 melt rate can only come from a null
    // albedo and the pipeline's fillna(0)
    val rows = Seq[(String, String, Option[Double], Option[Double])](
      ("nul", "2024-01-01 10:00:00", None, Some(100.0)),   // all-null incoming
      ("nul", "2024-01-01 12:00:00", None, Some(100.0)),
      ("nul", "2024-01-02 12:00:00", None, None),
      ("one", "2024-01-01 12:00:00", Some(300.0), Some(300.0))) ++ // single row, ratio 1
      (0 until 48 by 3).map(h =>                          // every daily ratio 2
        ("hi", f"2024-01-0${1 + h / 24}%d ${h % 24}%02d:00:00", Some(200.0), Some(400.0)))
    val aws = rows.toDF("k", "ts", "incoming", "reflected")
      .select(col("k"), col("ts").cast("timestamp").as("ts"), lit(5.0).as("temp"),
        col("incoming"), col("reflected"))
    def melts(df: org.apache.spark.sql.DataFrame) = {
      val ws = new WeatherStation(df, Seq("k"))
      Seq(ws.calcMelt(), ws.calcMeltShadowCorrected(("11:00", "13:15")))
    }
    melts(aws).foreach { out =>
      val got = out.select("albedo", "melt_rate").collect()
      assert(got.length === rows.length)
      assert(got.forall(r => r.isNullAt(0) && r.getDouble(1) === 0.0),
        got.mkString(", "))
    }
    melts(aws.filter(lit(false))).foreach(out => assert(out.collect().isEmpty))
  }

  test("daily albedo's per-bucket pick equals one row_number pick per (key, day)") {
    import org.apache.spark.sql.expressions.Window
    val hourUs = 3600L * 1000000L
    // bucket width of the 2 h albedo frames, and a bucket start in 2024
    val bUs = graft.operators.TimeSeriesOps.BucketWindows * 2 * hourUs
    val s0 = (1704067200L * 1000000L / bUs + 1) * bUs
    // key a: every 50 min across a bucket start (days straddle it), with
    // runs of equal incoming (pick ties), ratios >= 1 and null values;
    // key b: null timestamps beside a few real ones
    val a = (-40 until 50).map { i =>
      ("a", Option(s0 + i * 50L * 60 * 1000000),
        if (i % 11 == 0) None else Option((100 + (i / 4) % 3 * 50).toDouble),
        Option((40 + i * 7 % 90).toDouble))
    }
    val b = Seq(("b", None, Option(300.0), Option(30.0)), ("b", None, Option(100.0), Option(90.0)),
      ("b", Option(s0 - hourUs), Option(100.0), Option(150.0)),
      ("b", Option(s0 + 30 * hourUs), Option(100.0), Option(150.0)))
    val df = (a ++ b).toDF("k", "us", "inc", "refl")
      .select(col("k"), timestamp_micros(col("us")).as("t"), col("inc"), col("refl"))
    val frame = Window.partitionBy("k").orderBy(unix_micros(col("t")))
      .rangeBetween(-(2 * hourUs - 1), 0)
    val reference = df
      .withColumn("_inc_s", avg(col("inc")).over(frame))
      .withColumn("_out_s", avg(col("refl")).over(frame))
      .withColumn("day", date_trunc("day", col("t") - expr("INTERVAL 1 HOUR")))
      .withColumn("_rn", row_number().over(Window.partitionBy("k", "day")
        .orderBy(col("_inc_s").desc, col("t").asc)))
      .filter(col("_rn") === 1)
      .withColumn("_r", col("_out_s") / col("_inc_s"))
      .select(col("k"), col("day"), last(when(col("_r") < 1.0, col("_r")), ignoreNulls = true)
        .over(Window.partitionBy("k").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("albedo"))
    def render(d: org.apache.spark.sql.DataFrame) =
      d.select("k", "day", "albedo").collect().map(_.toString).sorted.toSeq
    val got = render(graft.operators.Melt.dailyAlbedo(df, Seq("k"), "t", "inc", "refl"))
    assert(got.exists(_.startsWith("[b,null,")))
    assert(got === render(reference))
  }

  test("stationDistancesWithin equals the all-pairs form filtered to the radius") {
    // stations spread over several grid cells of size d=1.0, including
    // adjacent-cell pairs just under/over the radius and a negative-
    // coordinate cell (floor-division regression); one obs per station
    // keeps the windowed mean = the position itself
    val pos = Seq(
      ("s01", 0.10, 0.10), ("s02", 0.90, 0.10),  // d=0.8, cells 0 vs 0
      ("s03", 1.85, 0.10),                       // 0.95 from s02 across cell edge
      ("s04", 3.00, 0.10),                       // >1 from all of s01-s03
      ("s05", -0.20, -0.20),                     // negative cell, 0.424 from s01
      ("s06", 5.00, 5.00), ("s07", 5.70, 5.70))  // d=0.99 diagonal pair
      .toDF("k", "dnorth", "deast")
      .withColumn("ts", lit("2024-01-10 00:00:00").cast("timestamp"))
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val plain = normalize(graft.operators.Gps.stationDistances(
        pos, Seq("k"), "ts", "dnorth", "deast", "2024-01-01", "2024-02-01")
      .filter(col("distance") <= 1.0))
    val valved = normalize(graft.operators.Gps.stationDistancesWithin(
      pos, Seq("k"), "ts", "dnorth", "deast", "2024-01-01", "2024-02-01",
      maxDistance = 1.0))
    assert(valved === plain)
    assert(valved.map(p => (p._1, p._2)) ===
      Set(("s01", "s02"), ("s02", "s03"), ("s01", "s05"), ("s06", "s07")))
  }
}
