package graft

import org.apache.spark.sql.functions._
import graft.operators.TimeSeriesOps

class TimeSeriesOpsSpec extends SparkSpec {
  import spark.implicits._

  private def series(rows: (String, String, java.lang.Double)*) =
    rows.toDF("k", "t", "v").select(col("k"),
      col("t").cast("timestamp").as("t"), col("v"))

  test("cRolling reproduces pandas c_rolling: trailing (t-w, t] window, index shifted -w/2") {
    val df = series(
      ("a", "2024-01-01 00:00:00", 1.0),
      ("a", "2024-01-01 01:00:00", 2.0),
      ("a", "2024-01-01 02:00:00", 3.0))
    val out = TimeSeriesOps.cRolling(df, Seq("k"), "t", "v", 7200,
        Seq("m" -> (c => avg(c))))
      .orderBy("t_c").collect()
    // window at 02:00 is (00:00, 02:00] = {2,3} (exclusive left boundary
    // drops the 00:00 obs exactly like pandas closed='right'); reported
    // at 01:00 after the -w/2 shift.
    assert(out.map(_.getAs[java.sql.Timestamp]("t_c").toString) ===
      Array("2023-12-31 23:00:00.0", "2024-01-01 00:00:00.0", "2024-01-01 01:00:00.0"))
    assert(out.map(_.getAs[Double]("m")) === Array(1.0, 1.5, 2.5))
  }

  test("asof family matches a driver-side brute force on randomized series (all three directions)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // deterministic fuzz: clustered timestamps (duplicate ts across
    // and within sides — the tie paths), several keys, sparse rights
    val rnd = new scala.util.Random(11)
    val base = 1700000000000000L // µs
    def rts() = base + rnd.nextInt(40) * 60000000L // 40 distinct minutes
    val left = (1 to 120).map(i =>
      (rnd.nextInt(4).toLong, rts(), i.toLong))
    val right = (1 to 60).map(i =>
      (rnd.nextInt(4).toLong, rts(), i * 1.5))
    val leftDf = left.toDF("k", "_us", "lid")
      .select(col("k"), timestamp_micros(col("_us")).as("t"), col("lid"))
    val rightDf = right.toDF("k", "_us", "rv")
      .select(col("k"), timestamp_micros(col("_us")).as("t"), col("rv"))
    // brute-force reference: per left row, scan ALL right rows of the
    // key. Tie-breaks mirror the operators' documented contracts:
    // among equally-distant right rows, backward/forward pick the
    // LARGEST value tuple at that ts (deterministic last-wins on
    // duplicate right timestamps), nearest ties to the backward side.
    val byKey = right.groupBy(_._1)
    def bwd(k: Long, t: Long): Option[Double] = {
      val c = byKey.getOrElse(k, Nil).filter(_._2 <= t)
      if (c.isEmpty) None
      else {
        val mt = c.map(_._2).max
        Some(c.filter(_._2 == mt).map(_._3).max) // value tie-break
      }
    }
    def fwd(k: Long, t: Long): Option[Double] = {
      val c = byKey.getOrElse(k, Nil).filter(_._2 >= t)
      if (c.isEmpty) None
      else {
        val mt = c.map(_._2).min
        // forward's running-first picks the SMALLEST value among
        // duplicate-(key, ts) rights (operator Scaladoc); backward's
        // running-last picks the largest
        Some(c.filter(_._2 == mt).map(_._3).min)
      }
    }
    def near(k: Long, t: Long): Option[Double] = {
      val c = byKey.getOrElse(k, Nil)
      if (c.isEmpty) None
      else {
        val dB = c.filter(_._2 <= t).map(r => t - r._2).minOption
        val dF = c.filter(_._2 > t).map(r => r._2 - t).minOption
        (dB, dF) match {
          case (Some(b), Some(f)) if b <= f => bwd(k, t) // ties backward
          case (Some(_), None) => bwd(k, t)
          case _ => fwd(k, t)
        }
      }
    }
    def run(op: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
                 Seq[String], String, Seq[String]) => org.apache.spark.sql.DataFrame) = {
      val rows = op(leftDf, rightDf, Seq("k"), "t", Seq("rv")).collect()
      // exactly-one-row-per-left BEFORE collapsing into the map (a
      // duplicate-emitting regression must not hide behind toMap)
      assert(rows.length === left.size, s"emitted ${rows.length} rows")
      rows.map(r => r.getAs[Long]("lid") ->
        Option(r.getAs[java.lang.Double]("rv")).map(_.doubleValue)).toMap
    }
    val leftIdx = left.map { case (k, t, id) => id -> ((k, t)) }.toMap
    Seq[((org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
          Seq[String], String, Seq[String]) => org.apache.spark.sql.DataFrame,
         (Long, Long) => Option[Double], String)](
      (TimeSeriesOps.asofJoinBackward, bwd, "backward"),
      (TimeSeriesOps.asofJoinForward, fwd, "forward"),
      (TimeSeriesOps.asofJoinNearest, near, "nearest")
    ).foreach { case (op, ref, name) =>
      val got = run(op)
      assert(got.size === left.size, s"$name row count")
      got.foreach { case (lid, v) =>
        val (k, t) = leftIdx(lid)
        assert(v === ref(k, t), s"$name lid=$lid k=$k t=$t")
      }
    }
  }

  test("asofJoinBackward takes latest right value at or before each left ts, per key") {
    val left = series(("a", "2024-01-01 00:10:00", 10.0), ("a", "2024-01-01 02:00:00", 20.0),
      ("b", "2024-01-01 01:00:00", 30.0))
      .withColumnRenamed("v", "lv")
    val right = series(("a", "2024-01-01 00:10:00", 1.0), ("a", "2024-01-01 01:00:00", 2.0),
      ("b", "2024-01-01 02:00:00", 3.0))
      .withColumnRenamed("v", "rv")
    val out = TimeSeriesOps.asofJoinBackward(left, right, Seq("k"), "t", Seq("rv"))
      .orderBy("k", "t").collect()
    // equal timestamps are inclusive (right row at 00:10 visible to left 00:10)
    assert(out.map(r => Option(r.getAs[java.lang.Double]("rv"))) ===
      Array(Some(1.0), Some(2.0), None)) // key b: no right row before 01:00
  }

  test("asofJoinForward takes earliest right value at or after each left ts, per key") {
    val left = series(("a", "2024-01-01 00:10:00", 10.0), ("a", "2024-01-01 02:00:00", 20.0),
      ("b", "2024-01-01 01:00:00", 30.0))
      .withColumnRenamed("v", "lv")
    val right = series(("a", "2024-01-01 00:10:00", 1.0), ("a", "2024-01-01 01:00:00", 2.0),
      ("b", "2024-01-01 00:30:00", 3.0))
      .withColumnRenamed("v", "rv")
    val out = TimeSeriesOps.asofJoinForward(left, right, Seq("k"), "t", Seq("rv"))
      .orderBy("k", "t").collect()
    // equal timestamps inclusive (right at 00:10 visible to left 00:10);
    // key a 02:00 has no later right; key b's only right is BEFORE its left
    assert(out.map(r => Option(r.getAs[java.lang.Double]("rv"))) ===
      Array(Some(1.0), None, None))
  }

  test("asofJoinNearest picks the closest right row by exact |Δt|, ties to backward") {
    val left = series(("a", "2024-01-01 01:00:00", 10.0),
      ("a", "2024-01-01 03:30:00", 20.0), ("a", "2024-01-01 04:30:00", 30.0))
      .withColumnRenamed("v", "lv")
    val right = series(("a", "2024-01-01 00:00:00", 1.0),
      ("a", "2024-01-01 02:00:00", 2.0), ("a", "2024-01-01 05:00:00", 3.0))
      .withColumnRenamed("v", "rv")
    val out = TimeSeriesOps.asofJoinNearest(left, right, Seq("k"), "t", Seq("rv"))
      .orderBy("t").collect()
    // 01:00: 00:00 and 02:00 both 3600 s away -> tie goes backward (1.0)
    // 03:30: 02:00 and 05:00 both 5400 s away -> backward (2.0)
    // 04:30: 05:00 (1800 s) beats 02:00 (9000 s) -> forward (3.0)
    assert(out.map(_.getAs[Double]("rv")) === Array(1.0, 2.0, 3.0))
  }

  test("asofJoinNearest: distance and value come from the SAME right row (null value carried)") {
    val left = series(("a", "2024-01-01 01:59:00", 5.0))
      .withColumnRenamed("v", "lv")
    val right = series(("a", "2024-01-01 00:00:00", 1.0),
      ("a", "2024-01-01 02:00:00", null))
      .withColumnRenamed("v", "rv")
    val out = TimeSeriesOps.asofJoinNearest(left, right, Seq("k"), "t", Seq("rv"))
      .collect()
    // nearest row is 02:00 (60 s away); its value is null, and THAT is
    // what must be returned — not the farther 00:00 row's 1.0
    assert(out.length === 1)
    assert(Option(out(0).getAs[java.lang.Double]("rv")) === None)
  }

  test("asofJoinBackward and asofJoinForward return every value from ONE right row") {
    def rows(r: (String, Integer, java.lang.Double)*) =
      r.toDF("t", "a", "b").select(lit("k").as("k"), col("t").cast("timestamp").as("t"),
        col("a"), col("b"))
    def pick(out: org.apache.spark.sql.DataFrame) = out.collect().toSeq
      .map(r => (Option(r.getAs[Integer]("a")), Option(r.getAs[java.lang.Double]("b"))))
    def left(t: String) = series(("k", t, 1.0)).withColumnRenamed("v", "lv")
    // backward: the latest right row before 03:00 is 02:00 (a=1, b=null);
    // its null b is returned, not the 01:00 row's b=5
    val bwdRight = rows(("2024-01-01 01:00:00", 0, 5.0), ("2024-01-01 02:00:00", 1, null))
    assert(pick(TimeSeriesOps.asofJoinBackward(left("2024-01-01 03:00:00"), bwdRight,
      Seq("k"), "t", Seq("a", "b"))) === Seq((Some(1), None)))
    // forward, mirrored: the earliest right row after 00:00 is 01:00
    // (a=1, b=null), not a mix with the 02:00 row's b=5
    val fwdRight = rows(("2024-01-01 01:00:00", 1, null), ("2024-01-01 02:00:00", 0, 5.0))
    assert(pick(TimeSeriesOps.asofJoinForward(left("2024-01-01 00:00:00"), fwdRight,
      Seq("k"), "t", Seq("a", "b"))) === Seq((Some(1), None)))
  }

  test("a null timestamp matches nothing in the as-of joins") {
    val left = series(("a", "2024-01-01 01:00:00", 1.0), ("a", null, 2.0))
      .withColumnRenamed("v", "lv")
    val right = series(("a", null, 7.0), ("a", "2024-01-01 02:00:00", 8.0))
      .withColumnRenamed("v", "rv")
    // the null-ts right row is never a match, and the null-ts left row
    // gets no right value in any direction
    Seq((TimeSeriesOps.asofJoinBackward _, None),
        (TimeSeriesOps.asofJoinForward _, Some(8.0)),
        (TimeSeriesOps.asofJoinNearest _, Some(8.0))).foreach { case (op, at0100) =>
      val out = op(left, right, Seq("k"), "t", Seq("rv")).collect()
        .map(r => r.getAs[Double]("lv") -> Option(r.getAs[java.lang.Double]("rv"))).toMap
      assert(out === Map(1.0 -> at0100.map(Double.box), 2.0 -> None))
    }
    // upsample: the only valued observation has a null ts, so the grid
    // point the null-valued 01:00 row spans gets no value
    val up = TimeSeriesOps.upsampleNearest(
      series(("a", null, 7.0), ("a", "2024-01-01 01:00:00", null)), Seq("k"), "t", "v", 3600)
      .select(col("v")).collect().map(r => Option(r.get(0)))
    assert(up === Array(None))
  }

  test("Gps.velocity floors pre-1970 instants into their own bucket") {
    val df = series(
      ("a", "1969-12-31 23:59:59.999999", 1.0), // -1 µs: the bucket at -3600 s
      ("a", "1970-01-01 00:00:00", 5.0))
    val out = graft.operators.Gps.velocity(df, Seq("k"), "t", "v", 3600)
      .select(unix_micros(col("bucket_start")), col("vel_mpd")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(out === Array(-3600000000L -> (5.0 - 1.0) / (3600.0 / 86400.0)))
  }

  test("interpolateLinear and upsampleNearest order same-ts rows by value, nulls first") {
    val df = series(
      ("a", "2024-01-01 00:00:00", 10.0),
      ("a", "2024-01-01 01:00:00", 30.0),
      ("a", "2024-01-01 01:00:00", null),
      ("a", "2024-01-01 01:00:00", 20.0),
      ("a", "2024-01-01 02:00:00", 50.0),
      ("a", "2024-01-01 02:00:00", 40.0))
    // the null row sorts before both 01:00 values: it interpolates from
    // 00:00 (10) to the smaller 01:00 value (20), never 0/0 between them
    val vi = TimeSeriesOps.interpolateLinear(df, Seq("k"), "t", "v", "vi")
      .filter(col("v").isNull).collect().map(_.getAs[Double]("vi"))
    assert(vi === Array(20.0))
    // grid 00:30 ties 00:00 and 01:00 -> backward (10); 01:00 hits the
    // 01:00 rows -> the largest (30); 01:30 ties 01:00 (largest, 30)
    // and 02:00 (smallest, 40) -> backward; 02:00 -> the largest (50)
    val up = TimeSeriesOps.upsampleNearest(df, Seq("k"), "t", "v", 1800)
      .orderBy("t").collect().map(_.getAs[Double]("v"))
    assert(up === Array(10.0, 10.0, 30.0, 30.0, 50.0))
  }

  test("interpolateLinear: interior linear by time, trailing ffill, leading stays null") {
    val df = series(
      ("a", "2024-01-01 00:00:00", null), // leading
      ("a", "2024-01-01 01:00:00", 10.0),
      ("a", "2024-01-01 02:00:00", null), // interior: 1/3 of the way 01:00->04:00
      ("a", "2024-01-01 04:00:00", 40.0),
      ("a", "2024-01-01 05:00:00", null)) // trailing
    val out = TimeSeriesOps.interpolateLinear(df, Seq("k"), "t", "v", "vi")
      .orderBy("t").collect().map(r => Option(r.getAs[java.lang.Double]("vi")))
    assert(out === Array(None, Some(10.0), Some(20.0), Some(40.0), Some(40.0)))
  }

  test("resampleInterval buckets on epoch-aligned boundaries; ffill carries last value") {
    val df = series(
      ("a", "2024-01-01 00:10:00", 1.0),
      ("a", "2024-01-01 00:20:00", 3.0),
      ("a", "2024-01-01 06:10:00", 5.0))
    val res = TimeSeriesOps.resampleInterval(df, Seq("k"), "t", "v", 21600,
        Seq("m" -> (c => avg(c))))
      .orderBy("bucket").collect()
    assert(res.map(_.getAs[Double]("m")) === Array(2.0, 5.0))
    assert(res(1).getAs[java.sql.Timestamp]("bucket") === ts("2024-01-01 06:00:00"))

    val gaps = series(("a", "2024-01-01 00:00:00", 1.0),
      ("a", "2024-01-01 01:00:00", Double.NaN), ("a", "2024-01-01 02:00:00", 2.0))
      .withColumn("v", org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.isnan(org.apache.spark.sql.functions.col("v")),
        null).otherwise(org.apache.spark.sql.functions.col("v")))
    val filled = TimeSeriesOps.ffill(gaps, Seq("k"), "t", Seq("v"))
      .orderBy("t").collect().map(_.getAs[Double]("v"))
    assert(filled === Array(1.0, 1.0, 2.0))
  }

  test("upsampleNearest picks the temporally closest value, ties backward") {
    val df = series(
      ("a", "2024-01-01 00:00:00", 1.0),
      ("a", "2024-01-01 00:50:00", 2.0),
      ("a", "2024-01-01 01:30:00", 3.0))
    val out = TimeSeriesOps.upsampleNearest(df, Seq("k"), "t", "v", 1800)
      .orderBy("t").collect()
      .map(r => r.getAs[java.sql.Timestamp]("t").toString -> r.getAs[Double]("v"))
    assert(out === Array(
      "2024-01-01 00:00:00.0" -> 1.0, // exact hit
      "2024-01-01 00:30:00.0" -> 2.0, // 30m to 1.0 vs 20m to 2.0
      "2024-01-01 01:00:00.0" -> 2.0, // 10m back vs 30m forward
      "2024-01-01 01:30:00.0" -> 3.0))
  }

  test("forward-looking operators on degenerate input: empty, all-null, single-row key, no right rows") {
    def vals(df: org.apache.spark.sql.DataFrame, c: String) =
      df.orderBy("k", "t").collect().toSeq
        .map(r => (r.getAs[String]("k"), Option(r.getAs[java.lang.Double](c))))
    val left = series(("n", "2024-01-01 00:00:00", 1.0), ("n", "2024-01-01 01:00:00", 2.0),
      ("s", "2024-01-01 01:00:00", 3.0), ("z", "2024-01-01 01:00:00", 4.0))
      .withColumnRenamed("v", "lv")
    // key n has no right rows, s has one, z's right values are all null
    val right = series(("s", "2024-01-01 02:00:00", 5.0),
      ("z", "2024-01-01 00:30:00", null), ("z", "2024-01-01 02:00:00", null))
      .withColumnRenamed("v", "rv")
    val noLeft = left.limit(0)
    val noRight = right.limit(0)
    Seq("forward" -> TimeSeriesOps.asofJoinForward _,
        "nearest" -> TimeSeriesOps.asofJoinNearest _).foreach { case (name, op) =>
      assert(vals(op(left, right, Seq("k"), "t", Seq("rv")), "rv") === Seq(
        "n" -> None, "n" -> None, "s" -> Some(5.0), "z" -> None), name)
      assert(vals(op(left, noRight, Seq("k"), "t", Seq("rv")), "rv") === Seq(
        "n" -> None, "n" -> None, "s" -> None, "z" -> None), s"$name, empty right")
      assert(op(noLeft, right, Seq("k"), "t", Seq("rv")).count() === 0,
        s"$name, empty left")
    }
    // key s is a single row, z's values are all null
    val obs = series(("s", "2024-01-01 01:10:00", 3.0),
      ("z", "2024-01-01 00:00:00", null), ("z", "2024-01-01 01:00:00", null))
    assert(vals(TimeSeriesOps.interpolateLinear(obs, Seq("k"), "t", "v", "vi"), "vi") ===
      Seq("s" -> Some(3.0), "z" -> None, "z" -> None))
    assert(vals(TimeSeriesOps.upsampleNearest(obs, Seq("k"), "t", "v", 1800), "v") ===
      Seq("s" -> Some(3.0), "z" -> None, "z" -> None, "z" -> None))
    assert(TimeSeriesOps.interpolateLinear(obs.limit(0), Seq("k"), "t", "v", "vi")
      .count() === 0)
    assert(TimeSeriesOps.upsampleNearest(obs.limit(0), Seq("k"), "t", "v", 1800)
      .count() === 0)
  }

  test("interval buckets floor pre-1970 instants like pandas (resampleInterval, upsampleNearest)") {
    val df = series(
      ("a", "1969-12-31 23:00:00", 1.0),
      ("a", "1969-12-31 23:59:59.999999", 3.0), // -1 µs: the 23:00 bucket
      ("a", "1970-01-01 00:00:00", 5.0))
    val res = TimeSeriesOps.resampleInterval(df, Seq("k"), "t", "v", 3600,
        Seq("m" -> (c => avg(c))))
      .select(unix_micros(col("bucket")), col("m")).orderBy(col("m")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(res === Array(-3600000000L -> 2.0, 0L -> 5.0))
    val up = TimeSeriesOps.upsampleNearest(series(
        ("a", "1969-12-31 23:50:00", 1.0), ("a", "1970-01-01 00:40:00", 2.0)),
        Seq("k"), "t", "v", 1800)
      .select(unix_micros(col("t")), col("v")).orderBy(col("t")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    // grid starts at floor(23:50) = 23:30, not at the truncated 00:00
    assert(up === Array(-1800000000L -> 1.0, 0L -> 1.0, 1800000000L -> 2.0))
  }

  test("inferSampling picks modal delta in whole seconds, ties to smallest") {
    val df = series(
      ("a", "2024-01-01 00:00:00", 0.0),
      ("a", "2024-01-01 00:00:30", 0.0), // +30s
      ("a", "2024-01-01 00:01:00", 0.0), // +30s
      ("a", "2024-01-01 00:02:00", 0.0), // +60s
      ("a", "2024-01-01 00:03:00", 0.0)) // +60s -> tie 30 vs 60 -> 30
    val out = TimeSeriesOps.inferSampling(df, Seq("k"), "t").collect()
    assert(out.head.getAs[Long]("sampling_rate_s") === 30L)
  }

  test("subsetFromWindows: inclusive both ends, single-point windows, union of windows") {
    val df = series(
      ("a", "2024-01-01 00:00:00", 1.0),
      ("a", "2024-01-01 01:00:00", 2.0),
      ("a", "2024-01-01 02:00:00", 3.0),
      ("a", "2024-01-01 03:00:00", 4.0),
      ("a", "2024-01-01 04:00:00", 5.0))
    // [00:00, 01:00] closed both ends (pandas label-slice), plus the
    // degenerate single-point window at 03:00
    val out = TimeSeriesOps.subsetFromWindows(df, "t", Seq(
        ("2024-01-01 00:00:00", "2024-01-01 01:00:00"),
        ("2024-01-01 03:00:00", "2024-01-01 03:00:00")))
      .orderBy("t").collect().map(_.getAs[Double]("v"))
    assert(out === Array(1.0, 2.0, 4.0))
  }

  test("clipWindowClosed honors each boundary mode like subset_from_bounds") {
    val df = series(
      ("a", "2024-01-01 00:00:00", 1.0),
      ("a", "2024-01-01 01:00:00", 2.0),
      ("a", "2024-01-01 02:00:00", 3.0))
    def vals(closed: String) = TimeSeriesOps.clipWindowClosed(
        df, "t", "2024-01-01 00:00:00", "2024-01-01 02:00:00", closed)
      .orderBy("t").collect().map(_.getAs[Double]("v")).toSeq
    assert(vals("both") === Seq(1.0, 2.0, 3.0))
    assert(vals("left") === Seq(1.0, 2.0))
    assert(vals("right") === Seq(2.0, 3.0))
    assert(vals("neither") === Seq(2.0))
    intercept[IllegalArgumentException] {
      TimeSeriesOps.clipWindowClosed(df, "t", "2024-01-01", "2024-01-02", "sideways")
    }
  }

  test("dropPositions is the complement of subsetFromWindows and keeps null timestamps") {
    val df = series(
      ("a", "2024-01-01 00:00:00", 1.0),
      ("a", "2024-01-01 01:00:00", 2.0),
      ("a", null, 3.0))
    val windows = Seq(("2024-01-01 01:00:00", "2024-01-01 02:00:00"))
    val dropped = TimeSeriesOps.dropPositions(df, "t", windows)
      .collect().map(_.getAs[Double]("v")).sorted
    assert(dropped === Array(1.0, 3.0)) // null ts survives the droplist
    val subset = TimeSeriesOps.subsetFromWindows(df, "t", windows)
      .collect().map(_.getAs[Double]("v"))
    assert(subset === Array(2.0))
  }

  test("madOutliers flags |x-med| > k*MAD per key; constant series and nulls handled") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      // key a: median 10, MAD 1 -> 1000 flagged, 12 not (ad=2 < 3.5)
      ("a", 1L, Some(9.0)), ("a", 2L, Some(10.0)), ("a", 3L, Some(11.0)),
      ("a", 4L, Some(12.0)), ("a", 5L, Some(1000.0)),
      // key b: constant -> MAD 0, the deviating row flagged
      ("b", 6L, Some(5.0)), ("b", 7L, Some(5.0)), ("b", 8L, Some(5.0)),
      ("b", 9L, Some(5.1)),
      ("a", 10L, None),
      // key c: ALL null -> no quantile rows, but the rows must
      // survive the (left) joins with null med/mad/flag
      ("c", 11L, None), ("c", 12L, None)).toDF("k", "id", "v")
    val out = TimeSeriesOps.madOutliers(df, "k", "v", k = 3.5)
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[java.lang.Boolean]("is_outlier"))).toMap
    assert(out(5L) === Some(true))
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_) === Some(false)))
    assert(out(9L) === Some(true))   // MAD 0: any deviation flags
    assert(Seq(6L, 7L, 8L).forall(out(_) === Some(false)))
    assert(out(10L) === None)        // null value -> null flag
    assert(out.contains(11L) && out.contains(12L)) // all-null key kept
    assert(out(11L) === None && out(12L) === None)
  }

  test("ewmaRows: adjust=True weighting over the bounded row frame, nulls skipped") {
    val df = series(
      ("a", "2024-01-01 00:00:00", 1.0),
      ("a", "2024-01-01 01:00:00", 2.0),
      ("a", "2024-01-01 02:00:00", 4.0),
      ("b", "2024-01-01 00:00:00", 10.0))
    val out = TimeSeriesOps.ewmaRows(df, Seq("k"), "t", "v",
        alpha = 0.5, window = 2)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Double]("v")) ->
        r.getAs[Double]("ewma")).toMap
    // first row: window = {1} -> 1.0; second: (2 + 0.5*1)/(1.5)
    assert(out(("a", 1.0)) === 1.0)
    assert(math.abs(out(("a", 2.0)) - (2.0 + 0.5 * 1.0) / 1.5) < 1e-12)
    // third: window of 2 -> (4 + 0.5*2)/1.5 — the 1.0 fell out of frame
    assert(math.abs(out(("a", 4.0)) - (4.0 + 0.5 * 2.0) / 1.5) < 1e-12)
    assert(out(("b", 10.0)) === 10.0) // keys independent
    // null value: skipped, weights renumbered over survivors
    val withNull = series(
      ("c", "2024-01-01 00:00:00", 3.0),
      ("c", "2024-01-01 01:00:00", Double.NaN), // placeholder, replaced below
      ("c", "2024-01-01 02:00:00", 5.0))
    import org.apache.spark.sql.functions._
    val nulled = withNull.withColumn("v",
      when(isnan(col("v")), lit(null)).otherwise(col("v")))
    val o2 = TimeSeriesOps.ewmaRows(nulled, Seq("k"), "t", "v",
        alpha = 0.5, window = 3)
      .collect().map(r => r.getAs[java.sql.Timestamp]("t").toString ->
        Option(r.getAs[Any]("ewma"))).toMap
    // the null row's frame is {3.0} -> 3.0 (not null, not weighted)
    assert(o2("2024-01-01 01:00:00.0") === Some(3.0))
    // last row: survivors newest-first {5, 3} -> (5 + 0.5*3)/1.5
    assert(o2("2024-01-01 02:00:00.0").map(v =>
      math.abs(v.asInstanceOf[Double] - (5.0 + 0.5 * 3.0) / 1.5) < 1e-12) === Some(true))
  }

  private val haloWUs = 7200L * 1000000L

  /** Rows at every bucket and halo edge, pre-1970 instants and degenerate
   *  keys, for checking cRolling's halo buckets against a per-key frame. */
  private def haloFixture() = {
    val wUs = haloWUs
    val bUs = TimeSeriesOps.BucketWindows * wUs
    val s0 = Math.floorDiv(1704067200000000L, bUs) * bUs + bUs // a 2024 bucket start
    val rnd = new scala.util.Random(7)
    // dense irregular key over four buckets, every 19th value null
    val hot = (0 until 800).map { i =>
      ("hot", Option(s0 - bUs + i * (bUs / 200) + rnd.nextInt(17) * 1000000L),
        if (i % 19 == 0) None else Option((i * 13 % 97).toDouble))
    }
    // bucket start, start - 1µs, start - w, start - w + 1µs, a duplicate
    // timestamp on the boundary, the backward halo's edges (start + w/2,
    // start + w) and the next bucket's edges
    val edge = Seq(s0 - wUs, s0 - wUs + 1, s0 - 1, s0, s0, s0 + 1,
        s0 + wUs / 2 - 1, s0 + wUs / 2, s0 + wUs - 1, s0 + wUs,
        s0 + bUs - wUs, s0 + bUs - wUs + 1, s0 + bUs - 1, s0 + bUs)
      .zipWithIndex.map { case (us, i) => ("edge", Option(us), Option(i.toDouble)) }
    // pre-1970 instants straddling the bucket starts -B and 0
    val pre = Seq(-bUs - wUs, -bUs - wUs + 1, -bUs - 1, -bUs, -bUs + 1,
        -bUs + wUs - 1, -wUs + 1, -1L, 0L, 1L)
      .zipWithIndex.map { case (us, i) => ("pre", Option(us), Option(i + 0.5)) }
    val degenerate = Seq(
      ("one", Option(s0 + 12345L), Option(4.0)),                  // single-row key
      ("nul", Option(s0 - 1), None), ("nul", Option(s0), None),  // all-null values
      ("nul", Option(s0 + 1), None),
      ("nts", None, Option(1.0)), ("nts", Option(s0), Option(2.0))) // null timestamp
    (hot ++ edge ++ pre ++ degenerate).toDF("k", "us", "v")
      .select(col("k"), timestamp_micros(col("us")).as("t"), col("v"))
  }

  /** Asserts that, over the halo fixture, cRolling(aggs) and the rolling
   *  body's two-sided frames (w/2, w/2) and (0, w) each equal one plain
   *  RANGE frame (t − a, t + b] per key at minPeriods 1 and 3, and that
   *  cRolling is empty on empty input; `render(out, isReference)` turns
   *  each output into sorted row strings. */
  private def assertHaloEqualsFrame(
      aggs: Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)],
      render: (org.apache.spark.sql.DataFrame, Boolean) => Seq[String]): Unit = {
    import org.apache.spark.sql.expressions.WindowSpec
    val df = haloFixture()
    val k = col("k")
    for (minPeriods <- Seq(1, 3); (a, b) <- Seq((haloWUs, 0L), (haloWUs / 2, haloWUs / 2),
        (0L, haloWUs))) {
      def framed(w: WindowSpec) = {
        val enough = if (minPeriods <= 1) lit(true) else count(col("v")).over(w) >= minPeriods
        aggs.map { case (n, f) => n -> when(enough, f(col("v")).over(w)) }
      }
      val tc = timestamp_micros(col("_us") - haloWUs / 2).as("t_c")
      val withUs = df.withColumn("_us", unix_micros(col("t")))
      val frame = org.apache.spark.sql.expressions.Window.partitionBy(k)
        .orderBy(col("_us")).rangeBetween(-(a - 1), b)
      val reference = withUs.select(k +: tc +: framed(frame).map { case (n, c) => c.as(n) }: _*)
      val actual =
        if (b == 0) TimeSeriesOps.cRolling(df, Seq("k"), "t", "v", 7200, aggs, minPeriods)
        else TimeSeriesOps.rollingFrames(withUs, Seq("k"), "_us", aggs.map { case (n, _) =>
            TimeSeriesOps.RollingFrame(n, a, b, w => framed(w).toMap.apply(n))
          }).select(k +: tc +: aggs.map(x => col(x._1)): _*)
      val rendered = render(actual, false)
      assert(rendered.size === df.count())
      assert(rendered === render(reference, true),
        s"halo-bucketed frame ($a, $b) diverged at minPeriods=$minPeriods")
    }
    assert(TimeSeriesOps.cRolling(df.filter(lit(false)), Seq("k"), "t", "v", 7200, aggs)
      .count() === 0)
  }

  test("cRolling halo buckets equal a per-key RANGE frame: edges, pre-1970, nulls") {
    assertHaloEqualsFrame(
      Seq("roll_min" -> (c => min(c)), "roll_max" -> (c => max(c)),
        "roll_sum" -> (c => sum(c)), "roll_n" -> (c => count(c)),
        "roll_mean" -> (c => avg(c))),
      (out, _) => out.select(col("k"), unix_micros(col("t_c")).as("tc"), col("roll_min"),
          col("roll_max"), col("roll_sum"), col("roll_n"), col("roll_mean"))
        .collect().map { r =>
          def round(f: String) = Option(r.getAs[Any](f)).map(v =>
            math.round(v.asInstanceOf[Double] * 1e6))
          (r.getString(0), Option(r.getAs[Any]("tc")), Option(r.getAs[Any]("roll_min")),
            Option(r.getAs[Any]("roll_max")), round("roll_sum"),
            Option(r.getAs[Any]("roll_n")), round("roll_mean")).toString
        }.sorted.toSeq)
  }

  test("cRolling median over halo buckets equals the per-key frame median") {
    assertHaloEqualsFrame(
      Seq("roll_n" -> (c => count(c)), "_frame" -> (c => collect_list(c))),
      (out, isReference) => out.select(col("k"), unix_micros(col("t_c")).as("tc"),
          col("roll_n"), col("_frame"),
          TimeSeriesOps.medianOfArray(col("_frame")).as("med"))
        .collect().map { r =>
          // the reference's median is taken on the driver from its frame
          val med =
            if (isReference) Option(r.getSeq[Double](3)).flatMap { f =>
              val v = f.sorted
              if (v.isEmpty) None
              else Some(if (v.size % 2 == 1) v(v.size / 2)
                else (v(v.size / 2 - 1) + v(v.size / 2)) / 2)
            }
            else Option(r.getAs[Any]("med")).map(_.asInstanceOf[Double])
          (r.getString(0), Option(r.getAs[Any]("tc")), Option(r.getAs[Any]("roll_n")),
            med).toString
        }.sorted.toSeq)
  }

  test("sessionLabelsScalable matches the window-form session numbering across bucket widths") {
    // adversarial fixture: a hot key whose sessions CHAIN across many
    // buckets (events every 2h, gap 3h -> one long session), exact-gap
    // boundaries (diff == gap continues), empty-bucket skips (a 9h
    // silence within one bucket width), duplicate timestamps, and a
    // sparse key of singletons
    val rows =
      (0 until 60).map(i => ("hot",
        f"2024-01-01 ${i * 2 % 24}%02d:00:00".replaceFirst("^2024-01-01",
          f"2024-01-${1 + i * 2 / 24}%02d"),
        java.lang.Double.valueOf(i.toDouble))) ++ Seq(
        ("hot", "2024-01-10 00:00:00", java.lang.Double.valueOf(1.0)),
        ("hot", "2024-01-10 03:00:00", java.lang.Double.valueOf(2.0)), // == gap: continues
        ("hot", "2024-01-10 06:00:01", java.lang.Double.valueOf(3.0)), // > gap: new
        ("hot", "2024-01-10 06:00:01", java.lang.Double.valueOf(4.0)), // dup ts
        // exact gap straddling the noon bucket boundary: continues
        ("edge", "2024-01-05 10:30:00", java.lang.Double.valueOf(6.0)),
        ("edge", "2024-01-05 13:30:00", java.lang.Double.valueOf(7.0)),
        ("sparse", "2024-01-01 00:00:00", java.lang.Double.valueOf(9.0)),
        ("sparse", "2024-02-01 00:00:00", java.lang.Double.valueOf(8.0)))
    val df = series(rows: _*)
    val gapSec = 3L * 3600
    // the window form, inline (the q_sessionize shape)
    val byTs = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("t"))
    val run = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val windowForm = df
      .withColumn("_p", lag(col("t"), 1).over(byTs))
      .withColumn("_n", when(col("_p").isNull ||
        unix_micros(col("t")) - unix_micros(col("_p")) >
          gapSec * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("_n")).over(run))
      .groupBy(col("k"), col("session_id"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // buckets are the fixed 4 x gap = 12 h
    val scalable = TimeSeriesOps.sessionLabelsScalable(df, Seq("k"), "t", gapSec)
      .groupBy(col("k"), col("session_id"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(scalable === windowForm)
    assert(windowForm.count(_._1 == "edge") === 1)
  }
}
