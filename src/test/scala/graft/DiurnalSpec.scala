package graft

import org.apache.spark.sql.functions._
import graft.operators.Diurnal

class DiurnalSpec extends SparkSpec {
  import spark.implicits._

  private def series(rows: (String, String, Double)*) =
    rows.toDF("k", "t", "v").select(col("k"),
      col("t").cast("timestamp").as("t"), col("v"))

  test("extrema picks per-day min/max with first-occurrence tie-break (pandas idxmin/idxmax)") {
    val df = series(
      ("a", "2024-01-01 03:00:00", 5.0),
      ("a", "2024-01-01 06:00:00", 1.0), // first occurrence of min
      ("a", "2024-01-01 09:00:00", 1.0), // tied min, later -> ignored
      ("a", "2024-01-01 15:00:00", 9.0))
    val out = Diurnal.extrema(df, Seq("k"), "t", "v").collect().head
    assert(out.getAs[Double]("min_val") === 1.0)
    assert(out.getAs[java.sql.Timestamp]("min_time") === ts("2024-01-01 06:00:00"))
    assert(out.getAs[Double]("max_val") === 9.0)
    assert(out.getAs[java.sql.Timestamp]("max_time") === ts("2024-01-01 15:00:00"))
  }

  test("extremaMinFirst searches the max in the 18h window after the min, crossing midnight") {
    val df = series(
      ("a", "2024-01-01 02:00:00", 8.0), // day1 plain max — but before min
      ("a", "2024-01-01 20:00:00", 1.0), // day1 min at 20:00
      ("a", "2024-01-02 10:00:00", 9.0), // 14h after min: inside 18h window
      ("a", "2024-01-02 20:00:00", 2.0)) // day2 min
    val out = Diurnal.extremaMinFirst(df, Seq("k"), "t", "v")
      .orderBy("day").collect()
    // day1: max picked across midnight at 09:00 next day, not the 02:00 peak
    assert(out(0).getAs[Double]("min_val") === 1.0)
    assert(out(0).getAs[Double]("max_val") === 9.0)
    assert(out(0).getAs[java.sql.Timestamp]("max_time") === ts("2024-01-02 10:00:00"))
    // day2: window [20:00, +18h) only contains the min itself
    assert(out(1).getAs[Double]("max_val") === 2.0)
  }

  test("boundary-checked extrema reject picks that are window artifacts") {
    val df = series(
      ("a", "2024-01-01 23:00:00", 0.5), // day1's only obs, lower than day2's "min"
      ("a", "2024-01-02 00:30:00", 1.0), // day2 min, but on its first obs
      ("a", "2024-01-02 12:00:00", 5.0),
      ("a", "2024-01-02 18:00:00", 3.0))
    val out = Diurnal.extremaBoundaryChecked(df, Seq("k"), "t", "v")
      .orderBy("day").collect()
    // day1: single obs is both extrema; it IS the neighborhood min -> min
    // kept; it is not the neighborhood max (5.0 nearby) -> max rejected
    assert(out(0).getAs[java.lang.Double]("min_val") === 0.5)
    assert(out(0).getAs[java.lang.Double]("max_val") === null)
    // day2: min sits on the day's first obs and the neighborhood has a
    // lower value across midnight -> artifact, rejected
    assert(out(1).getAs[java.lang.Double]("min_val") === null)
    // day2 max is interior -> kept
    assert(out(1).getAs[java.lang.Double]("max_val") === 5.0)
  }

  private def nullable(rows: (Option[String], String, Option[Double])*) =
    rows.toDF("k", "t", "v").select(col("k"),
      col("t").cast("timestamp").as("t"), col("v"))

  test("extremaPredicted never picks a null-valued observation") {
    // calibrated on days 1-2: min at 06:00, max at 14:00; day 3's null
    // row sits inside its min window, ahead of the real minimum
    val df = nullable(
      (Some("a"), "2024-01-01 02:00:00", Some(5.0)), (Some("a"), "2024-01-01 06:00:00", Some(1.0)),
      (Some("a"), "2024-01-01 14:00:00", Some(9.0)),
      (Some("a"), "2024-01-02 02:00:00", Some(5.0)), (Some("a"), "2024-01-02 06:00:00", Some(1.0)),
      (Some("a"), "2024-01-02 14:00:00", Some(9.0)),
      (Some("a"), "2024-01-03 06:00:00", None), (Some("a"), "2024-01-03 14:00:00", Some(3.0)),
      (Some("a"), "2024-01-03 16:00:00", Some(7.0)))
    Seq(false, true).foreach { minFirst =>
      val day3 = Diurnal.extremaPredicted(df, Seq("k"), "t", "v", "2024-01-03",
          minFirst = minFirst)
        .filter(col("day") === lit("2024-01-03").cast("timestamp")).collect().head
      assert(day3.getAs[java.lang.Double]("min_val") === 3.0, s"minFirst=$minFirst")
      assert(day3.getAs[java.sql.Timestamp]("min_time") === ts("2024-01-03 14:00:00"))
      assert(day3.getAs[java.lang.Double]("max_val") === 7.0)
      assert(day3.getAs[java.sql.Timestamp]("max_time") === ts("2024-01-03 16:00:00"))
    }
  }

  test("windowed forms on degenerate input: empty, all-null, single row, gaps, null key, duplicate timestamps, uncalibrated key") {
    type Pick = (String, java.sql.Timestamp, Option[Double],
      Option[java.sql.Timestamp], Option[Double], Option[java.sql.Timestamp])
    def picks(df: org.apache.spark.sql.DataFrame): Set[Pick] =
      df.collect().map(r => (r.getString(0), r.getTimestamp(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]), Option(r.getTimestamp(3)),
        Option(r.get(4)).map(_.asInstanceOf[Double]), Option(r.getTimestamp(5)))).toSet
    val d1 = "2024-01-01"; val d3 = "2024-01-03"
    val df = nullable(
      (Some("allnull"), s"$d1 03:00:00", None), (Some("allnull"), s"$d1 12:00:00", None),
      (Some("single"), s"$d1 10:00:00", Some(5.0)),
      // day 2 is a candidate day of both neighbours, with no own row
      (Some("gap"), s"$d1 04:00:00", Some(3.0)), (Some("gap"), s"$d1 16:00:00", Some(8.0)),
      (Some("gap"), s"$d3 04:00:00", Some(2.0)), (Some("gap"), s"$d3 16:00:00", Some(6.0)),
      (None, s"$d1 05:00:00", Some(1.0)),
      (Some("dup"), s"$d1 06:00:00", Some(2.0)), (Some("dup"), s"$d1 06:00:00", Some(2.0)),
      (Some("dup"), s"$d1 06:00:00", Some(7.0)), (Some("dup"), s"$d1 12:00:00", Some(7.0)),
      // no row before the calibration end
      (Some("late"), s"$d3 09:00:00", Some(4.0)), (Some("late"), s"$d3 15:00:00", Some(5.0)))
    def p(k: String, day: String, mn: Option[(Double, String)],
          mx: Option[(Double, String)]): Pick =
      (k, ts(s"$day 00:00:00"), mn.map(_._1), mn.map(m => ts(s"$day ${m._2}")),
        mx.map(_._1), mx.map(m => ts(s"$day ${m._2}")))
    val common = Set(
      p("single", d1, Some(5.0 -> "10:00:00"), Some(5.0 -> "10:00:00")),
      p("gap", d1, Some(3.0 -> "04:00:00"), Some(8.0 -> "16:00:00")),
      p("gap", d3, Some(2.0 -> "04:00:00"), Some(6.0 -> "16:00:00")),
      p("dup", d1, Some(2.0 -> "06:00:00"), Some(7.0 -> "06:00:00")))
    // min-first forms drop days without a non-null value; predicted keeps
    // the calibrated all-null day with null picks and has no picks for
    // the uncalibrated key
    val minFirst = common + p("late", d3, Some(4.0 -> "09:00:00"), Some(5.0 -> "15:00:00"))
    val predicted = common + p("allnull", d1, None, None)
    val forms = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame, Set[Pick])](
      ("minFirst", Diurnal.extremaMinFirst(_, Seq("k"), "t", "v"), minFirst),
      ("minFirstInDay", Diurnal.extremaMinFirstInDay(_, Seq("k"), "t", "v"), minFirst),
      ("predicted", Diurnal.extremaPredicted(_, Seq("k"), "t", "v", "2024-01-02"), predicted),
      ("predictedMinFirst", Diurnal.extremaPredicted(_, Seq("k"), "t", "v", "2024-01-02",
        minFirst = true), predicted))
    forms.foreach { case (name, form, expected) =>
      assert(form(df.filter(lit(false))).count() === 0, s"$name on an empty frame")
      val got = picks(form(df))
      assert(got === expected, s"$name: extra=${got -- expected} missing=${expected -- got}")
    }
  }

  test("applyThreshold drops days with amplitude below threshold") {
    val df = series(
      ("a", "2024-01-01 01:00:00", 1.0), ("a", "2024-01-01 12:00:00", 9.0), // amp 8
      ("a", "2024-01-02 01:00:00", 4.0), ("a", "2024-01-02 12:00:00", 5.0)) // amp 1
    val ext = Diurnal.extrema(df, Seq("k"), "t", "v")
    assert(Diurnal.applyThreshold(ext, 5.0).count() === 1)
  }

  test("applyCorrections replaces, nulls, and leaves picks per the corrections table") {
    val df = series(
      ("a", "2024-01-01 01:00:00", 1.0), ("a", "2024-01-01 12:00:00", 9.0),
      ("a", "2024-01-02 02:00:00", 3.0), ("a", "2024-01-02 13:00:00", 7.0),
      ("a", "2024-01-03 03:00:00", 2.0), ("a", "2024-01-03 14:00:00", 8.0))
    val picks = Diurnal.extrema(df, Seq("k"), "t", "v")
    val corrections = Seq(
      // day1: wipe both picks (no value, no time)
      ("a", "2024-01-01", "both", None: Option[Double], None: Option[String]),
      // day2: override the max value only, keep its time
      ("a", "2024-01-02", "max", Some(7.5): Option[Double], None: Option[String]))
      .toDF("k", "day", "which", "new_val", "new_time")
    val out = Diurnal.applyCorrections(picks, corrections, Seq("k"))
      .orderBy("day").collect()
    assert(out(0).getAs[java.lang.Double]("min_val") === null)
    assert(out(0).getAs[java.sql.Timestamp]("max_time") === null)
    assert(out(1).getAs[Double]("max_val") === 7.5)
    assert(out(1).getAs[java.sql.Timestamp]("max_time") === ts("2024-01-02 13:00:00"))
    assert(out(1).getAs[Double]("min_val") === 3.0) // min untouched by 'max'
    assert(out(2).getAs[Double]("max_val") === 8.0) // uncorrected day intact
  }

  test("change_extrema_picks facade: wipe, find_between, find_near, chaining") {
    val df = series(
      ("a", "2024-01-01 01:00:00", 1.0), ("a", "2024-01-01 06:00:00", 4.0),
      ("a", "2024-01-01 12:00:00", 9.0), ("a", "2024-01-01 18:00:00", 6.0),
      ("a", "2024-01-02 02:00:00", 3.0), ("a", "2024-01-02 13:00:00", 7.0))
    val picks = new graft.api.DiurnalExtrema(df, Seq("k"), "t", "v")
    // unknown day raises, like the reference's ValueError
    assertThrows[IllegalArgumentException](
      picks.changeExtremaPicks("2024-02-15", "min"))
    // wipe then re-pick the max between 04:00 and 08:00 (decimal hours)
    val fixed = picks
      .changeExtremaPicks("2024-01-01", "both")
      .changeExtremaPicks("2024-01-01", "max", findBetween = Some((4.0, 8.0)))
    val d1 = fixed.df.filter(col("day") === lit("2024-01-01").cast("timestamp"))
      .collect().head
    assert(d1.getAs[java.lang.Double]("min_val") === null) // still wiped
    assert(d1.getAs[Double]("max_val") === 4.0) // re-picked in window
    assert(d1.getAs[java.sql.Timestamp]("max_time") === ts("2024-01-01 06:00:00"))
    // find_near: set a new time, value comes from ±15 min of it
    val near = picks.changeExtremaPicks("2024-01-02", "max",
      newTime = Some("2024-01-02 13:05:00"), findNear = true)
    val d2 = near.df.filter(col("day") === lit("2024-01-02").cast("timestamp"))
      .collect().head
    assert(d2.getAs[Double]("max_val") === 7.0)
    assert(d2.getAs[java.sql.Timestamp]("max_time") === ts("2024-01-02 13:05:00"))
  }

  test("truncatedPicks nulls the named extremum on truncated days") {
    val df = series(
      ("a", "2024-01-01 01:00:00", 1.0), ("a", "2024-01-01 12:00:00", 9.0),
      ("a", "2024-01-02 02:00:00", 3.0), ("a", "2024-01-02 13:00:00", 7.0))
    val out = new graft.api.DiurnalExtrema(df, Seq("k"), "t", "v")
      .truncatedPicks(Seq("2024-01-01"), "min").df.orderBy("day").collect()
    assert(out(0).getAs[java.lang.Double]("min_val") === null)
    assert(out(0).getAs[java.lang.Double]("max_val") === 9.0) // max untouched
    assert(out(1).getAs[java.lang.Double]("min_val") === 3.0)
  }

  test("extremaLag computes cross-series extrema-timing offsets vs a reference series") {
    val df = series(
      ("ablation", "2024-01-01 10:00:00", 1.0), ("ablation", "2024-01-01 14:00:00", 9.0),
      ("stage", "2024-01-01 10:00:00", 1.0), ("stage", "2024-01-01 17:30:00", 9.0))
    val picks = Diurnal.extrema(df, Seq("k"), "t", "v")
    val lag = Diurnal.extremaLag(picks, "k", lagFrom = "ablation").collect()
    assert(lag.length === 1) // reference series dropped, like lag_df
    assert(lag.head.getAs[String]("k") === "stage")
    assert(math.abs(lag.head.getAs[Double]("max_lag_hrs") - 3.5) < 1e-9)
  }

  test("dhrsToTimestamp round-trips decimalHours") {
    val df = Seq(("2024-01-01 00:00:00", 13.75))
      .toDF("day", "dhrs")
      .select(col("day").cast("timestamp").as("day"), col("dhrs"))
    val out = df.select(
      Diurnal.dhrsToTimestamp(col("day"), col("dhrs")).as("t")).collect().head
    assert(out.getAs[java.sql.Timestamp]("t") === ts("2024-01-01 13:45:00"))
  }
}
