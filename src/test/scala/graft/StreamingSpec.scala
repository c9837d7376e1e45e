package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streaming
import graft.streaming.Streaming.{AsofEvent, FunnelEvent, SessionEvent}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("windowedAgg: watermarked tumbling windows aggregate a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val df = input.toDF().toDF("ts", "user_id", "value")
    val q = Streaming.windowedAgg(df, "ts", "user_id", "value", "1 hour", "2 hours")
      .writeStream.format("memory").queryName("win_agg")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        (ts("2024-01-01 00:10:00"), 1L, 10.0),
        (ts("2024-01-01 00:50:00"), 1L, 5.0),
        (ts("2024-01-01 01:10:00"), 1L, 7.0))
      q.processAllAvailable()
      val rows = spark.table("win_agg").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("window_start"),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
      assert(rows.contains((ts("2024-01-01 00:00:00"), 2L, 15.0)))
      assert(rows.contains((ts("2024-01-01 01:00:00"), 1L, 7.0)))
    } finally q.stop()
  }

  test("windowedAgg works over a file stream (parquet directory source)") {
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft-stream").toString
    val events = Seq(
      (ts("2024-01-01 00:10:00"), 1L, 10.0),
      (ts("2024-01-01 00:40:00"), 1L, 20.0)).toDF("ts", "user_id", "value")
    events.write.parquet(src + "/batch1")
    val stream = spark.readStream
      .schema(events.schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(src + "/*")
    val q = Streaming.windowedAgg(stream, "ts", "user_id", "value", "1 hour", "2 hours")
      .writeStream.format("memory").queryName("file_win")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("file_win").collect()
      assert(rows.exists(r => r.getAs[Long]("n_events") == 2L &&
        r.getAs[Double]("total_value") == 30.0))
    } finally q.stop()
  }

  test("dedupExactStream keeps first doc per content hash, within-watermark state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val q = Streaming.dedupExactStream(df, "ts", "text", "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), 1L, "alpha beta"),
        (ts("2024-01-01 00:10:00"), 2L, "alpha beta"), // dup within watermark
        (ts("2024-01-01 00:20:00"), 3L, "gamma delta"))
      q.processAllAvailable()
      // a later batch re-sends the same content, still inside the window
      input.addData((ts("2024-01-01 00:30:00"), 4L, "gamma delta"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(ids === Set(1L, 3L)) // one survivor per distinct content
      // digest column is part of the output (state keys off it)
      assert(spark.table("dedup_stream").columns.contains("content_hash"))
    } finally q.stop()
  }

  test("stepDetectStream: emits the batch step once the forward window closes (disorder within watermark)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val base = ts("2024-01-01 00:00:00").getTime
    def at(min: Int) = new java.sql.Timestamp(base + min * 60000L)
    // level shift between minutes 3 and 10; 10-minute windows
    val rows = Seq(0 -> 1.0, 1 -> 1.2, 2 -> 0.8, 3 -> 1.1,
      10 -> 5.0, 11 -> 5.2, 12 -> 4.9, 13 -> 5.1)
    val input = MemoryStream[Streaming.StepEvent]
    val out = Streaming.stepDetectStream(spark, input.toDS(),
      windowMillis = 600000L, minPeriods = 3, watermarkDelay = "10 minutes")
    val q = out.toDF()
      .writeStream.format("memory").queryName("step_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1 arrives OUT OF ORDER within the watermark
      input.addData(Seq(3, 0, 11, 1, 2).map(m =>
        Streaming.StepEvent(1L, at(m), rows.toMap.apply(m))): _*)
      q.processAllAvailable()
      // batch 2: the rest (minute 10 lags the already-seen minute 11 —
      // inside the 10-minute watermark delay, so it is disorder, not
      // late data), plus a key-2 sentinel far ahead that pushes the
      // watermark past every pending forward window
      input.addData(Seq(10, 12, 13).map(m =>
        Streaming.StepEvent(1L, at(m), rows.toMap.apply(m))) :+
        Streaming.StepEvent(2L, at(60), 0.0): _*)
      q.processAllAvailable()
      val got = spark.table("step_stream").collect()
        .filter(_.getAs[Long]("key") == 1L)
        .map(r => r.getAs[java.sql.Timestamp]("ts").getTime ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      assert(got.size === rows.size, s"every key-1 event emits once: $got")
      // parity with the batch operator over the same rows
      val batchDf = rows.map { case (m, v) => (1L, at(m), v) }
        .toDF("key", "ts", "value")
      val expected = graft.operators.TimeSeriesOps
        .stepDetect(batchDf, Seq("key"), "ts", "value",
          windowSec = 600, minPeriods = 3)
        .collect().map(r => r.getAs[java.sql.Timestamp]("ts").getTime ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      assert(got.keySet === expected.keySet)
      got.foreach { case (t, s) =>
        (s, expected(t)) match {
          case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9, s"ts $t")
          case (a, b) => assert(a === b, s"ts $t")
        }
      }
      // the shift is actually detected: the step at minute 10 is ~+4
      assert(got(at(10).getTime).exists(_ > 3.5))
    } finally q.stop()
  }

  test("stepDetectStream windows sub-millisecond timestamps in microseconds (batch parity)") {
    implicit val sqlCtx = spark.sqlContext
    // events 400 µs apart, 1 ms windows: ms-resolution buffering would
    // collapse each pair onto one tick and mis-state every window
    // (the r10 ADVICE finding); µs buffering must match batch exactly
    def atUs(us: Long) = {
      val t = new java.sql.Timestamp(us / 1000000L * 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    val rows = Seq(200L -> 1.0, 600L -> 1.0, 1200L -> 5.0, 1600L -> 5.0)
    val input = MemoryStream[Streaming.StepEvent]
    val q = Streaming.stepDetectStream(spark, input.toDS(),
        windowMillis = 1L, minPeriods = 2, watermarkDelay = "0 seconds")
      .toDF().writeStream.format("memory").queryName("step_us_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows.map { case (us, v) =>
        Streaming.StepEvent(1L, atUs(us), v) }: _*)
      q.processAllAvailable()
      // sentinel pushes the watermark past every forward window
      input.addData(Streaming.StepEvent(2L, atUs(10000000L), 0.0))
      q.processAllAvailable()
      val got = spark.table("step_us_stream").collect()
        .filter(_.getAs[Long]("key") == 1L)
        .map { r =>
          val t = r.getAs[java.sql.Timestamp]("ts")
          (t.getTime * 1000L + (t.getNanos / 1000L) % 1000L) ->
            (if (r.isNullAt(2)) None else Some(r.getDouble(2)))
        }.toMap
      // batch-semantics expectation, computed by hand (the batch
      // operator's windowSec granularity can't express a 1 ms window;
      // the arithmetic contract — before [t-w, t) / after [t, t+w),
      // minPeriods on both sides — is the same):
      //   t=200:  before empty            -> None
      //   t=600:  before {200} (1 < 2)    -> None
      //   t=1200: {200,600} vs {1200,1600} -> 5-1 = 4
      //   t=1600: after {1600} (1 < 2)    -> None
      val expected = Map(200L -> None, 600L -> None,
        1200L -> Some(4.0), 1600L -> None)
      assert(got.keySet === expected.keySet)
      got.foreach { case (t, s) =>
        (s, expected(t)) match {
          case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9, s"us $t")
          case (a, b) => assert(a === b, s"us $t")
        }
      }
      // the µs-window step is actually detected at t = 1200 µs
      assert(got(1200L).exists(_ > 3.5))
    } finally q.stop()
  }

  test("latestStateStream: per-key state converges to the batch q_merge pick (late + tied events)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val df = input.toDF().toDF("user_id", "ts", "event_id", "value")
    val q = Streaming.latestStateStream(df, "user_id", "ts", "event_id",
        Seq("value"))
      .writeStream.format("memory").queryName("latest_stream")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 10L, 1.0),
        (1L, ts("2024-01-01 12:00:00"), 11L, 2.0),
        (2L, ts("2024-01-01 09:00:00"), 12L, 3.0))
      q.processAllAvailable()
      // batch 2: a LATE event for user 1 (older than current state —
      // must not win) and a timestamp TIE for user 2 (higher id wins)
      input.addData(
        (1L, ts("2024-01-01 11:00:00"), 13L, 9.9),
        (2L, ts("2024-01-01 09:00:00"), 14L, 4.0))
      q.processAllAvailable()
      // every update is a monotone struct-max improvement, so the
      // struct-max over ALL emitted updates is the final state
      val finalState = spark.table("latest_stream")
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("s"))
        .select(col("user_id"), col("s.event_id"), col("s.value"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      assert(finalState(1L) === ((11L, 2.0))) // late event did not regress state
      assert(finalState(2L) === ((14L, 4.0))) // tie resolved to higher id
    } finally q.stop()
  }

  test("hammingCheckStream: stateless gate matches the driver-side brute force, one row per pair") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // history: dense shared-vocab corpus so several pairs land within
    // radius, incl. an exact twin of stream doc 100 (distance 0, all
    // four blocks match -> the row-local pair dedup is exercised)
    val mkText = (seed: Int) =>
      (0 until 40).map(j => s"w${(seed * 5 + j * 3) % 23}").mkString(" ")
    val history = (0 until 20).map(i => (i.toLong, mkText(i)))
      .toDF("hist_id", "text")
    val streamDocs = Seq((100L, mkText(0)), (101L, mkText(7)),
      (102L, (1 to 40).map(j => s"zz$j").mkString(" ")), // disjoint vocab
      (103L, null.asInstanceOf[String]))
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val q = Streaming.hammingCheckStream(df, "doc_id", "text",
        history, "hist_id", "text", maxHamming = 3)
      .writeStream.format("memory").queryName("hamming_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(streamDocs: _*)
      q.processAllAvailable()
      val got = spark.table("hamming_stream").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("hist_id"),
          r.getAs[Long]("hamming")))
      // exactly one row per matched pair (the stateless dedup)
      assert(got.length === got.map(p => (p._1, p._2)).distinct.length)
      // brute force over the same fingerprints
      val fps = graft.dedup.Dedup.fingerprintWords(
          history.union(streamDocs.toDF("hist_id", "text")), "hist_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      def ham(a: (Long, Long), b: (Long, Long)): Long =
        java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
      val expected = (for {
        s <- streamDocs.filter(_._2 != null).map(_._1)
        h <- 0L until 20L
        d = ham(fps(s), fps(h)) if d <= 3
      } yield (s, h, d)).toSet
      assert(got.toSet === expected)
      assert(expected.contains((100L, 0L, 0L))) // the exact twin fired
    } finally q.stop()
  }

  test("nearDupCheckStream flags stream docs against the persisted LSH history") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("lshstream").toString
    val hist = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (200L, "completely different content about spark plans and shuffles at scale"))
      .toDF("doc_id", "text")
    val idx = graft.dedup.LshIndex.build(hist, "doc_id", "text", dir)
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val q = Streaming.nearDupCheckStream(df, "doc_id", "ts", "text", idx,
        threshold = 0.7)
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), 5L,
          "the quick brown fox jumps over the lazy dog again and again tonight"),
        (ts("2024-01-01 00:01:00"), 6L,
          "nothing like anything indexed so far in any way whatsoever today"))
      q.processAllAvailable()
      val rows = spark.table("neardup_stream").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("est_jaccard")))
      // the dup of history doc 100 pairs ONCE (identical text shares
      // every band — the within-watermark dedup collapses the k hits)
      // at estimator 1.0; the clean doc emits nothing
      assert(rows.toSeq === Seq((5L, 100L, 1.0)))
    } finally q.stop()
    // snapshot contract: a batch append to the index is picked up by the
    // NEXT query start (the static side's file listing is fixed per run)
    idx.add(Seq(
      (300L, "nothing like anything indexed so far in any way whatsoever today"))
      .toDF("doc_id", "text"), "doc_id", "text")
    val q2 = Streaming.nearDupCheckStream(df, "doc_id", "ts", "text",
        graft.dedup.LshIndex.load(spark, dir), threshold = 0.7)
      .writeStream.format("memory").queryName("neardup_stream2")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts("2024-01-01 00:05:00"), 7L,
        "nothing like anything indexed so far in any way whatsoever today"))
      q2.processAllAvailable()
      val after = spark.table("neardup_stream2").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("doc_b"))).toSet
      assert(after === Set((7L, 300L)))
    } finally q2.stop()
  }

  test("sessionize: stateful gap sessions close on gap and emit once") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val sessions = Streaming.sessionize(spark, input.toDS(), gapMillis = 30 * 60 * 1000)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        SessionEvent(1L, ts("2024-01-01 00:00:00"), 1.0),
        SessionEvent(1L, ts("2024-01-01 00:10:00"), 2.0))
      q.processAllAvailable()
      // big gap: closes the first session within the same key
      input.addData(SessionEvent(1L, ts("2024-01-01 05:00:00"), 4.0))
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("session_start"),
          r.getAs[java.sql.Timestamp]("session_end"),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
      assert(rows.toSeq === Seq(
        (ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00"), 2L, 3.0)))
    } finally q.stop()
  }

  test("sessionize parity: streamed sessions match the batch gap-sessionization") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val gapMs = 30 * 60 * 1000L
    val events = Seq(
      (1L, "2024-01-01 00:00:00", 1.0), (1L, "2024-01-01 00:20:00", 2.0),
      (1L, "2024-01-01 02:00:00", 3.0), // >30min gap: new session
      (2L, "2024-01-01 00:05:00", 5.0),
      (2L, "2024-01-01 00:25:00", 6.0), (2L, "2024-01-01 03:00:00", 7.0))
    // batch twin: the q_sessionize shape (lag + running sum of gap flags)
    val df = events.toDF("user_id", "t", "value")
      .select(col("user_id"), col("t").cast("timestamp").as("ts"), col("value"))
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val run = byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val batch = df
      .withColumn("prev", lag(col("ts"), 1).over(byTs))
      .withColumn("is_new", when(col("prev").isNull ||
        unix_millis(col("ts")) - unix_millis(col("prev")) > gapMs, 1).otherwise(0))
      .withColumn("sid", sum(col("is_new")).over(run))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("start"), max(col("ts")).as("end"),
        count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select("user_id", "start", "end", "n", "total")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val q = Streaming.sessionize(spark, input.toDS(), gapMillis = gapMs)
      .writeStream.format("memory").queryName("sess_parity")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(events.map { case (u, t, v) => SessionEvent(u, ts(t), v) }: _*)
      q.processAllAvailable()
      // far-future sentinels advance the watermark so real sessions close
      input.addData(SessionEvent(1L, ts("2024-02-01 00:00:00"), 0.0),
        SessionEvent(2L, ts("2024-02-01 00:00:00"), 0.0))
      q.processAllAvailable()
      input.addData(SessionEvent(1L, ts("2024-03-01 00:00:00"), 0.0),
        SessionEvent(2L, ts("2024-03-01 00:00:00"), 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sess_parity").collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("session_start"),
          r.getAs[java.sql.Timestamp]("session_end"),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
        .filter(_._2.before(ts("2024-02-01 00:00:00"))) // drop sentinels
        .toSet
      assert(streamed === batch,
        s"stream/batch divergence:\n  stream=$streamed\n  batch=$batch")
    } finally q.stop()
  }

  test("diurnalExtremaStream never picks a null-valued observation") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, Option[Double])]
    val df = input.toDF().toDF("ts", "user_id", "value")
    val q = Streaming.diurnalExtremaStream(df, "ts", "user_id", "value")
      .writeStream.format("memory").queryName("diurnal_stream_nulls")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        (ts("2024-01-01 02:00:00"), 1L, None),
        (ts("2024-01-01 06:00:00"), 1L, Some(4.0)),
        (ts("2024-01-01 09:00:00"), 1L, Some(2.0)),
        (ts("2024-01-01 15:00:00"), 1L, Some(8.0)))
      q.processAllAvailable()
      val r = spark.table("diurnal_stream_nulls").collect().head
      assert(r.getAs[java.lang.Double]("min_val") === 2.0)
      assert(r.getAs[java.sql.Timestamp]("min_time") === ts("2024-01-01 09:00:00"))
      assert(r.getAs[java.lang.Double]("max_val") === 8.0)
      assert(r.getAs[java.sql.Timestamp]("max_time") === ts("2024-01-01 15:00:00"))
    } finally q.stop()
  }

  test("diurnalExtremaStream picks per-day extrema with batch tie-breaks") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val df = input.toDF().toDF("ts", "user_id", "value")
    val q = Streaming.diurnalExtremaStream(df, "ts", "user_id", "value")
      .writeStream.format("memory").queryName("diurnal_stream")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        (ts("2024-01-01 03:00:00"), 1L, 5.0),
        (ts("2024-01-01 06:00:00"), 1L, 1.0), // min, first occurrence
        (ts("2024-01-01 09:00:00"), 1L, 1.0), // tied min, later -> ignored
        (ts("2024-01-01 15:00:00"), 1L, 9.0))
      q.processAllAvailable()
      val r = spark.table("diurnal_stream").collect()
        .filter(_.getAs[java.sql.Timestamp]("day") == ts("2024-01-01 00:00:00"))
        .maxBy(_.getAs[Double]("max_val")) // latest update wins
      assert(r.getAs[Double]("min_val") === 1.0)
      assert(r.getAs[java.sql.Timestamp]("min_time") === ts("2024-01-01 06:00:00"))
      assert(r.getAs[Double]("max_val") === 9.0)
      // late-but-in-watermark data refines the day
      input.addData((ts("2024-01-01 04:00:00"), 1L, 12.0))
      q.processAllAvailable()
      val r2 = spark.table("diurnal_stream").collect()
        .filter(_.getAs[java.sql.Timestamp]("day") == ts("2024-01-01 00:00:00"))
        .maxBy(_.getAs[Double]("max_val"))
      assert(r2.getAs[Double]("max_val") === 12.0)
    } finally q.stop()
  }

  test("cRollingStream: sliding windows report trailing aggregates at the midpoint") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val df = input.toDF().toDF("ts", "user_id", "value")
    val q = Streaming.cRollingStream(df, "ts", "user_id", "value",
        "2 hours", "1 hour", "4 hours")
      .writeStream.format("memory").queryName("c_roll")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        (ts("2024-01-01 00:30:00"), 1L, 2.0),
        (ts("2024-01-01 01:30:00"), 1L, 4.0))
      q.processAllAvailable()
      val rows = spark.table("c_roll").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("ts_c"),
          r.getAs[Double]("mean"), r.getAs[Long]("n")))
      // the [00:00, 02:00) window holds both events, reported at 01:00
      assert(rows.contains((ts("2024-01-01 01:00:00"), 3.0, 2L)))
      // the [01:00, 03:00) slide holds only the 01:30 event -> at 02:00
      assert(rows.contains((ts("2024-01-01 02:00:00"), 4.0, 1L)))
    } finally q.stop()
  }

  test("funnelStream parity: per-step user counts match the batch ordered funnel, under disorder") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    // the shared fixture: user 1 completes all three; user 2's first
    // click precedes their view (doesn't convert) but a later one does;
    // user 3's click ties the view timestamp (strict < : no conversion)
    val fixture = Seq(
      FunnelEvent(1L, ts("2024-01-01 00:00:00"), 10L, "view"),
      FunnelEvent(1L, ts("2024-01-01 00:01:00"), 11L, "click"),
      FunnelEvent(1L, ts("2024-01-01 00:02:00"), 12L, "purchase"),
      FunnelEvent(2L, ts("2024-01-01 00:00:00"), 20L, "click"),
      FunnelEvent(2L, ts("2024-01-01 00:01:00"), 21L, "view"),
      FunnelEvent(2L, ts("2024-01-01 00:05:00"), 22L, "click"),
      FunnelEvent(3L, ts("2024-01-01 00:03:00"), 30L, "view"),
      FunnelEvent(3L, ts("2024-01-01 00:03:00"), 31L, "click"))

    val input = MemoryStream[FunnelEvent]
    val out = Streaming.funnelStream(spark, input.toDS(), steps,
      watermarkDelay = "1 second")
    val q = out.writeStream.format("memory").queryName("funnel_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // deliver OUT OF ORDER within one batch (disorder beyond the
      // watermark horizon is dropped by contract, like every keyed
      // stream here): the state buffer must re-order before folding
      input.addData(fixture(2), fixture(7), fixture(5), fixture(0),
        fixture(3), fixture(6), fixture(1), fixture(4))
      q.processAllAvailable()
      // watermark pushers: fold the buffered events, then fire timeouts
      input.addData(FunnelEvent(99L, ts("2024-01-01 01:00:00"), 990L, "noop"))
      q.processAllAvailable()
      input.addData(FunnelEvent(99L, ts("2024-01-01 02:00:00"), 991L, "noop"))
      q.processAllAvailable()

      val streamed = spark.table("funnel_stream").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("step"),
          r.getAs[java.sql.Timestamp]("step_ts")))
      assert(streamed.toSet === Set(
        (1L, 1, ts("2024-01-01 00:00:00")),
        (1L, 2, ts("2024-01-01 00:01:00")),
        (1L, 3, ts("2024-01-01 00:02:00")),
        (2L, 1, ts("2024-01-01 00:01:00")),
        (2L, 2, ts("2024-01-01 00:05:00")),
        (3L, 1, ts("2024-01-01 00:03:00"))))

      // parity: per-step distinct users equal the batch funnel's counts
      val batch = graft.operators.Funnel.orderedFunnel(
        fixture.toDF(), "user_id", "ts", "event_id", "event_type", steps)
        .collect().map(r => r.getAs[Long]("step") -> r.getAs[Long]("users")).toMap
      val byStep = streamed.groupBy(_._2).view
        .mapValues(_.map(_._1).distinct.size.toLong).toMap
      steps.indices.foreach { i =>
        assert(byStep.getOrElse(i + 1, 0L) === batch(i + 1L),
          s"step ${i + 1} stream/batch count")
      }
    } finally q.stop()
  }

  test("funnelStream state TTL: idle chains expire (state drops), re-appearing users restart; no-TTL conversions across the gap still count") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "purchase")
    // user 1: view at 00:00, purchase at 03:00 — a 3 h idle gap
    val feed = Seq(
      Streaming.FunnelEvent(1L, ts("2024-01-01 00:00:00"), 1L, "view"),
      Streaming.FunnelEvent(99L, ts("2024-01-01 02:00:00"), 2L, "noop"),
      Streaming.FunnelEvent(1L, ts("2024-01-01 03:00:00"), 3L, "purchase"),
      Streaming.FunnelEvent(99L, ts("2024-01-01 06:00:00"), 4L, "noop"))

    def run(ttl: Option[Long], name: String): (Seq[(Long, Int)], Long) = {
      val input = MemoryStream[Streaming.FunnelEvent]
      val out = Streaming.funnelStream(spark, input.toDS(), steps,
        watermarkDelay = "1 second", stateTtlMillis = ttl)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        var stateRows = 0L
        feed.foreach { e =>
          input.addData(e); q.processAllAvailable()
          val p = q.lastProgress
          if (p != null && p.stateOperators.nonEmpty)
            stateRows = p.stateOperators(0).numRowsTotal
        }
        (spark.table(name).collect().toSeq
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("step"))),
          stateRows)
      } finally q.stop()
    }

    // contract 1 (no TTL): the purchase 3 h after the view converts —
    // exactly once per step — but user 1's chain row persists forever
    val (noTtl, noTtlState) = run(None, "funnel_nottl")
    assert(noTtl.count(_ == (1L, 1)) === 1 && noTtl.count(_ == (1L, 2)) === 1)
    assert(noTtlState >= 1L, "no-TTL chain state should persist")

    // contract 2 (1 h TTL): the chain expires during the idle gap, so
    // the purchase finds no step-1 time (no conversion) — and the
    // final state holds NO row for user 1 once the last watermark
    // passes expiry
    val (ttl, ttlState) = run(Some(3600L * 1000), "funnel_ttl")
    assert(ttl.count(_ == (1L, 1)) === 1, "view still emits step 1")
    assert(!ttl.contains((1L, 2)),
      "conversion across an expired gap must NOT count under TTL")
    assert(ttlState === 0L,
      s"idle chains should have expired from the store, found $ttlState")

    // determinism under batching (review finding): delivering the WHOLE
    // stream in one micro-batch must produce the same TTL decision —
    // the restart is judged in event time at the fold, not by whether
    // the late step arrived before or after the expiry timeout fired
    val input = MemoryStream[Streaming.FunnelEvent]
    val out = Streaming.funnelStream(spark, input.toDS(), steps,
      watermarkDelay = "1 second", stateTtlMillis = Some(3600L * 1000))
    val q = out.writeStream.format("memory").queryName("funnel_ttl_1b")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(feed); q.processAllAvailable()
      input.addData(
        Streaming.FunnelEvent(99L, ts("2024-01-01 07:00:00"), 5L, "noop"))
      q.processAllAvailable()
      val oneBatch = spark.table("funnel_ttl_1b").collect().toSeq
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("step")))
      assert(oneBatch.toSet === ttl.toSet,
        s"one-batch delivery diverged: $oneBatch vs $ttl")
    } finally q.stop()
  }

  /** `events` through [[Streaming.asofJoinBackwardStream]], one
    * micro-batch per group, as sorted (key, µs, left value, right value).
    */
  private def asofStream(name: String, batches: Seq[AsofEvent]*)
      : Seq[(Long, Long, Double, Option[Double])] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AsofEvent]
    val q = Streaming.asofJoinBackwardStream(spark, input.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      spark.table(name).selectExpr("key", "unix_micros(ts)", "value", "right_value")
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
        .sorted
    } finally q.stop()
  }

  test("asofJoinBackwardStream carries the latest right value at-or-before each left event") {
    val got = asofStream("asof_stream",
      Seq(AsofEvent(1L, ts("2024-01-01 00:05:00"), 0, 10.0), // left before any right
        AsofEvent(1L, ts("2024-01-01 00:10:00"), 1, 100.0), // right
        AsofEvent(1L, ts("2024-01-01 00:20:00"), 0, 20.0)), // left after right
      // right state persists across micro-batches
      Seq(AsofEvent(1L, ts("2024-01-01 03:00:00"), 0, 30.0)))
    def us(s: String) = ts(s).getTime * 1000L
    assert(got.map(r => (r._2, r._3, r._4)) === Seq(
      (us("2024-01-01 00:05:00"), 10.0, None), // nothing at-or-before
      (us("2024-01-01 00:20:00"), 20.0, Some(100.0)),
      (us("2024-01-01 03:00:00"), 30.0, Some(100.0))))
  }

  test("asofJoinBackwardStream: a null timestamp matches nothing, like the batch join") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AsofEvent]
    val q = Streaming.asofJoinBackwardStream(spark, input.toDS())
      .writeStream.format("memory").queryName("asof_null_ts")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(AsofEvent(1L, null, 1, 7.0), // right, null ts
        AsofEvent(1L, ts("2024-01-01 02:00:00"), 1, 8.0),
        AsofEvent(1L, ts("2024-01-01 01:00:00"), 0, 1.0),
        AsofEvent(1L, null, 0, 2.0)) // left, null ts
      q.processAllAvailable()
      val got = spark.table("asof_null_ts").collect()
        .map(r => r.getAs[Double]("value") -> Option(r.get(r.fieldIndex("right_value"))))
        .toMap
      assert(got === Map(1.0 -> None, 2.0 -> None))
    } finally q.stop()
  }

  test("asofJoinBackwardStream compares microseconds, not milliseconds") {
    // the right event is 400 µs AFTER the left one, in the same millisecond
    val got = asofStream("asof_us", Seq(
      AsofEvent(1L, ts("2024-01-01 00:00:00.0007"), 1, 100.0),
      AsofEvent(1L, ts("2024-01-01 00:00:00.0003"), 0, 10.0)))
    assert(got.map(r => (r._1, r._3, r._4)) === Seq((1L, 10.0, None)))
  }

  test("asofJoinBackwardStream keeps the largest of same-ts right values, like the batch join") {
    val t = ts("2024-01-01 00:10:00")
    val later = ts("2024-01-01 00:20:00")
    // key 1: both rights in one micro-batch; key 2: across two batches;
    // both arrive as [9.0, 3.0]
    val got = asofStream("asof_tie",
      Seq(AsofEvent(1L, t, 1, 9.0), AsofEvent(1L, t, 1, 3.0), AsofEvent(1L, later, 0, 1.0),
        AsofEvent(2L, t, 1, 9.0)),
      Seq(AsofEvent(2L, t, 1, 3.0), AsofEvent(2L, later, 0, 2.0)))
    assert(got.map(r => (r._1, r._4)) === Seq((1L, Some(9.0)), (2L, Some(9.0))))
  }

  test("asofJoinBackwardStream matches batch asofJoinBackward on random keyed series") {
    import graft.operators.TimeSeriesOps
    import PropertySpec.{genSeries, samples, tsOf}
    // every sample in one micro-batch, its keys offset so samples stay apart
    val cases = samples(genSeries, 8, 1001L).zipWithIndex.map { case ((l, r), i) =>
      (l.map(e => (i * 10L + e.key, e.tsMs, e.v)), r.map(e => (i * 10L + e.key, e.tsMs, e.v)))
    }
    val left = cases.flatMap(_._1)
    val right = cases.flatMap(_._2)
    val got = asofStream("asof_parity",
      left.map { case (k, ms, v) => AsofEvent(k, tsOf(ms), 0, v) } ++
        right.map { case (k, ms, v) => AsofEvent(k, tsOf(ms), 1, v) })
    val batch = TimeSeriesOps.asofJoinBackward(
        left.map { case (k, ms, v) => (k, tsOf(ms), v) }.toDF("key", "ts", "value"),
        right.map { case (k, ms, v) => (k, tsOf(ms), v) }.toDF("key", "ts", "rv"),
        Seq("key"), "ts", Seq("rv"))
      .selectExpr("key", "unix_micros(ts)", "value", "rv").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .sorted
    assert(got.size === left.size)
    assert(got === batch)
  }

  test("qualityGateStream normalizes, redacts, and filters rows statelessly") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = Streaming.qualityGateStream(
        input.toDF().toDF("doc_id", "text"), "text", minTokens = 3)
      .writeStream.format("memory").queryName("quality_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, "  Contact me at A@B.COM  for   the report today "),
        (2L, "too short"),                   // 2 tokens: dropped
        (3L, "4111111111111111 2222222 333333333 444444"))  // digit-heavy: dropped
      q.processAllAvailable()
      val rows = spark.table("quality_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("redacted")).toMap
      assert(rows.keySet === Set(1L))
      assert(rows(1L) === "contact me at <EMAIL> for the report today")
    } finally q.stop()
  }

  test("splitByHash and shardAssign apply to streams with batch parity (stateless row-local gates)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.mix.Mix
    val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val input = MemoryStream[Long]
    // the batch operators compose onto a streaming frame unchanged —
    // both are pure projections (no state, no watermark needed)
    val q = Mix.shardAssign(
        Mix.splitByHash(input.toDF().toDF("doc_id"), "doc_id", splits,
          salt = 7919L),
        "doc_id", 32)
      .writeStream.format("memory").queryName("split_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(0L until 500L: _*)
      q.processAllAvailable()
      val streamed = spark.table("split_stream").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split"),
          r.getAs[Long]("shard"))).toSet
      val batch = Mix.shardAssign(
          Mix.splitByHash((0L until 500L).toDF("doc_id"), "doc_id", splits,
            salt = 7919L),
          "doc_id", 32)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split"),
          r.getAs[Long]("shard"))).toSet
      assert(streamed === batch)
      assert(streamed.size === 500)
    } finally q.stop()
  }

  test("bm25ScoreStream scores against prefit stats with batch bit-parity") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val corpus = Seq(
      (1L, "x y moon"),
      (2L, "x cat y cat"),
      (3L, "x y z"),
      (4L, "cat z moon moon")).toDF("doc_id", "text")
    val terms = Seq("moon", "cat")
    val stats = graft.text.TextAnalysis.bm25Stats(corpus, "text", terms)
    val input = MemoryStream[(Long, String)]
    val q = Streaming.bm25ScoreStream(
        input.toDF().toDF("doc_id", "text"), "text", terms, stats)
      .writeStream.format("memory").queryName("bm25_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "x y moon"), (2L, "x cat y cat"), (5L, null))
      q.processAllAvailable()
      val streamed = spark.table("bm25_stream").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          Option(r.getAs[java.lang.Double]("bm25"))).toMap
      // batch scorer on the same corpus (topK over all 4 docs): the
      // stream score for the same text must match BIT-FOR-BIT modulo
      // the batch side's output rounding grid
      val batch = graft.text.TextAnalysis.bm25TopK(corpus, "doc_id", "text",
          terms, topK = 4)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Double]("score")).toMap
      def r6(x: Double) = math.floor(x * 1e6 + 0.5001) / 1e6
      assert(r6(streamed(1L).get) === batch(1L))
      assert(r6(streamed(2L).get) === batch(2L))
      assert(streamed(5L).isEmpty) // null text -> null score, row passes
    } finally q.stop()
  }

  test("madStream flags against prefit (med, mad) with batch parity; unseen keys pass") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // fit corpus: key a median 10, MAD 1 (the TimeSeriesOpsSpec fixture)
    val corpus = Seq(
      ("a", 1L, Some(9.0)), ("a", 2L, Some(10.0)), ("a", 3L, Some(11.0)),
      ("a", 4L, Some(12.0)), ("a", 5L, Some(1000.0))).toDF("k", "id", "v")
    val cuts = Streaming.madCutpoints(corpus, "k", "v")
    val input = MemoryStream[(String, Long, java.lang.Double)]
    val q = Streaming.madStream(
        input.toDF().toDF("k", "id", "v"), "k", "v", cuts, k = 3.5)
      .writeStream.format("memory").queryName("mad_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(("a", 11L, java.lang.Double.valueOf(12.0)),
        ("a", 12L, java.lang.Double.valueOf(1000.0)),
        ("a", 13L, null),
        ("z", 14L, java.lang.Double.valueOf(5.0))) // unseen key
      q.processAllAvailable()
      val out = spark.table("mad_stream").collect()
        .map(r => r.getAs[Long]("id") ->
          Option(r.getAs[java.lang.Boolean]("is_outlier"))).toMap
      // identical flags to the batch operator for the fit-corpus keys
      val batch = graft.operators.TimeSeriesOps
        .madOutliers(corpus, "k", "v", k = 3.5)
        .collect().map(r => r.getAs[Long]("id") ->
          Option(r.getAs[java.lang.Boolean]("is_outlier"))).toMap
      assert(out(11L) === batch(4L)) // same value 12.0 -> same flag
      assert(out(12L) === batch(5L)) // same value 1000.0 -> flagged
      assert(out(11L) === Some(false) && out(12L) === Some(true))
      assert(out(13L) === None)      // null value -> null flag
      assert(out(14L) === None)      // unseen key -> null flag, row passes
    } finally q.stop()
  }

  test("hybridScoreStream scores bm25 + embedding cosine with batch parity") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val corpus = Seq(
      (1L, "x y moon"),
      (2L, "x cat y cat"),
      (3L, "x y z"),
      (4L, "cat z moon moon")).toDF("doc_id", "text")
    val terms = Seq("moon", "cat")
    val stats = graft.text.TextAnalysis.bm25Stats(corpus, "text", terms)
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.6f, 0.8f)),
      (4L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val qvec = Seq(1.0, 0.0)
    val input = MemoryStream[(Long, String)]
    val q = Streaming.hybridScoreStream(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        terms, stats, emb, "vec_id", "embedding", qvec)
      .writeStream.format("memory").queryName("hybrid_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "x y moon"), (2L, "x cat y cat"),
        (3L, "x y z"), (5L, null))
      q.processAllAvailable()
      val out = spark.table("hybrid_stream").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((Option(r.getAs[java.lang.Double]("bm25")),
            Option(r.getAs[java.lang.Double]("cosine"))))).toMap
      // bm25 leg: bit-parity with the batch scorer modulo its r6 grid
      val batch = graft.text.TextAnalysis.bm25TopK(corpus, "doc_id", "text",
          terms, topK = 4)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Double]("score")).toMap
      def r6(x: Double) = math.floor(x * 1e6 + 0.5001) / 1e6
      assert(r6(out(1L)._1.get) === batch(1L))
      assert(r6(out(2L)._1.get) === batch(2L))
      // cosine leg vs the static embedding rows (1e-7: the fixture
      // vectors are float32, so 0.6f is not exactly 0.6)
      assert(math.abs(out(1L)._2.get - 1.0) < 1e-7)   // (1,0) vs (1,0)
      assert(math.abs(out(2L)._2.get - 0.6) < 1e-7)   // (0.6,0.8) vs (1,0)
      assert(out(3L)._2.isEmpty) // no embedding row -> null cosine
      assert(out(5L)._1.isEmpty) // null text -> null bm25, row passes
    } finally q.stop()
  }

  test("winsorizeStream clips against prefit cutpoints with batch parity; unseen keys pass") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // fit corpus: key A values 1..10 -> p20 = 2, p80 = 8
    val corpus = (1L to 10L).map(v => ("A", v, v)).toDF("src", "id", "v")
    val cuts = Streaming.winsorizeCutpoints(corpus, "src", "v", 1, 5, 4, 5)
    val input = MemoryStream[(String, Long, java.lang.Long)]
    val q = Streaming.winsorizeStream(
        input.toDF().toDF("src", "id", "v"), "src", "v", cuts)
      .writeStream.format("memory").queryName("wz_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(("A", 1L, java.lang.Long.valueOf(1L)),
        ("A", 2L, java.lang.Long.valueOf(5L)),
        ("A", 3L, java.lang.Long.valueOf(99L)),
        ("A", 4L, null),
        ("B", 5L, java.lang.Long.valueOf(7L))) // unseen key
      q.processAllAvailable()
      val out = spark.table("wz_stream").collect()
        .map(r => r.getAs[Long]("id") ->
          ((Option(r.getAs[java.lang.Long]("clipped")),
            Option(r.getAs[String]("clip_tag"))))).toMap
      // identical labels to the batch operator on the fit corpus keys
      val batch = graft.mix.Mix.winsorize(corpus, "src", "v", 1, 5, 4, 5)
        .filter(col("id").isin(1L, 2L))
        .collect().map(r => r.getAs[Long]("id") ->
          ((r.getAs[Long]("clipped"), r.getAs[String]("clip_tag")))).toMap
      assert(out(1L) === ((Some(batch(1L)._1), Some(batch(1L)._2))))
      assert(out(2L) === ((Some(5L), Some("in_range"))))
      assert(out(3L) === ((Some(8L), Some("high"))))
      assert(out(4L) === ((None, None)))      // null value stays null
      assert(out(5L) === ((Some(7L), None)))  // unseen key: unclipped, null tag
    } finally q.stop()
  }

  test("dsirScoreStream scores stream docs against the prefit model with batch parity") {
    implicit val sqlCtx = spark.sqlContext
    import graft.mix.Mix
    import org.apache.spark.sql.functions._
    // fit corpus: docs 1-2 are the curated target, 3-5 raw
    val corpus = Seq(
      (1L, "clean careful prose with structure"),
      (2L, "clean careful prose with structure"),
      (3L, "clean careful prose with structure and extras"),
      (4L, "buy now click here free offer"),
      (5L, "buy now click here free offer")
    ).toDF("doc_id", "text")
    val model = Mix.dsirModel(corpus, "doc_id", "text",
      isTarget = col("doc_id") <= 2, numBuckets = 128)
    val input = MemoryStream[(Long, String)]
    val q = Streaming.dsirScoreStream(
        input.toDF().toDF("doc_id", "text"), "text", model, numBuckets = 128)
      .writeStream.format("memory").queryName("dsir_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((3L, "clean careful prose with structure and extras"),
        (4L, "buy now click here free offer"),
        (6L, "single"))
      q.processAllAvailable()
      val streamed = spark.table("dsir_stream").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          Option(r.getAs[java.lang.Double]("dsir_logw"))).toMap
      // batch weights on the same corpus: identical scores (same model,
      // same grams, same in-doc sum order)
      val batch = Mix.dsirWeights(corpus, "doc_id", "text",
          col("doc_id") <= 2, numBuckets = 128)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Double]("logw")).toMap
      assert(math.abs(streamed(3L).get - batch(3L)) < 1e-9)
      assert(math.abs(streamed(4L).get - batch(4L)) < 1e-9)
      // target-like stream doc outscores the junk one
      assert(streamed(3L).get > streamed(4L).get)
      // one token -> no features -> null score, row passes through
      assert(streamed(6L).isEmpty)
    } finally q.stop()
  }

  test("quantizeInt8 applies to streams with batch parity (stateless projection)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.similarity.Similarity
    val input = MemoryStream[(Long, Array[Float])]
    val q = Similarity.quantizeInt8(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding")
      .writeStream.format("memory").queryName("quant_stream")
      .outputMode(OutputMode.Append()).start()
    val vecs = Seq(
      (1L, Array(1f, -2f, 0.5f, 0f)),
      (2L, Array(0f, 0f, 0f, 0f)),
      (3L, Array(0.25f, 0.75f, -0.125f, 3f)))
    try {
      input.addData(vecs: _*)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("vec_id"), r.getAs[Double]("qscale"),
          r.getSeq[Long](r.fieldIndex("codes")).mkString(","))
      val streamed = spark.table("quant_stream").collect().map(key).toSet
      val batch = Similarity.quantizeInt8(
          vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
        .collect().map(key).toSet
      assert(streamed === batch)
      assert(streamed.size === 3)
    } finally q.stop()
  }

  test("quality gate streams to a partitioned parquet sink and reads back (production wiring)") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("qsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("qckpt").toString
    val input = MemoryStream[(Long, String, String)]
    // the real ingestion wiring: gate -> partitioned parquet files with
    // a checkpoint, not a memory table
    val q = Streaming.qualityGateStream(
        input.toDF().toDF("doc_id", "source", "text"), "text", minTokens = 3)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .partitionBy("source")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, "web", "a good long document with words"),
        (2L, "web", "too short"),
        (3L, "books", "another fine document that survives the gate"))
      q.processAllAvailable()
      input.addData((4L, "web", "a second batch document with enough words"))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(outDir)
    assert(back.select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 3L, 4L))
    // the sink is physically partitioned by source
    val parts = new java.io.File(outDir).listFiles()
      .filter(_.getName.startsWith("source=")).map(_.getName).sorted
    assert(parts.toSeq === Seq("source=books", "source=web"))
    // gate columns survive the roundtrip
    assert(back.columns.toSet.contains("redacted") &&
      back.columns.toSet.contains("n_tokens"))
  }

  test("decontaminateStream drops docs overlapping a static benchmark (stateless anti-join)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val bench = Seq((100L, "a b c d e f g")).toDF("bid", "text")
    val input = MemoryStream[(Long, String)]
    val q = Streaming.decontaminateStream(
        input.toDF().toDF("doc_id", "text"), "text", bench, "text", shingleN = 5)
      .writeStream.format("memory").queryName("decontam_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, "a b c d e x y"),      // shares "a b c d e": dropped
        (2L, "p q r s t u v"))      // disjoint: kept
      q.processAllAvailable()
      input.addData((3L, "c d e f g tail words")) // later batch, still caught
      q.processAllAvailable()
      val ids = spark.table("decontam_stream").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(ids === Set(2L))
      // contract parity with the batch operator at minOverlap = 1
      val batchDocs = Seq((1L, "a b c d e x y"), (2L, "p q r s t u v"),
        (3L, "c d e f g tail words")).toDF("doc_id", "text")
      val batchContaminated = graft.dedup.Dedup.contaminatedIds(
          batchDocs, "doc_id", "text", bench, "text", shingleN = 5, minOverlap = 1)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(batchContaminated === Set(1L, 3L))
    } finally q.stop()
  }

  test("embedCheckStream: stateless vector gate matches driver-side brute force, one row per pair") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // history: 20 vectors in 4 loose directions
    val mk = (i: Long, hot: Int) =>
      (i, Array.tabulate(8)(d => (if (d == hot) 1f else 0.05f) + 0.01f * ((i + d) % 3).toInt))
    val hist = (100L to 119L).map(i => mk(i, (i % 4).toInt * 2))
      .toDF("hist_id", "embedding")
    val input = MemoryStream[(Long, Array[Float])]
    val df = input.toDF().toDF("doc_id", "embedding")
    val q = Streaming.embedCheckStream(df, "doc_id", "embedding",
        hist, "hist_id", "embedding", dim = 8, threshold = 0.95,
        numBits = 16, bitsPerBand = 4)
      .writeStream.format("memory").queryName("embed_gate")
      .outputMode(OutputMode.Append()).start()
    try {
      // doc 1 = near-clone of a history direction; doc 2 orthogonal-ish
      input.addData((1L, mk(104L, 0)._2), (2L, Array.tabulate(8)(d =>
        if (d == 7) 1f else 0f)))
      q.processAllAvailable()
      val got = spark.table("embed_gate").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.map(_._1).contains(1L) && !got.map(_._1).contains(2L))
      // exactly-once per pair
      val all = spark.table("embed_gate").collect()
      assert(all.length === all.map(r => (r.getLong(0), r.getLong(1))).distinct.length)
      // driver-side brute force: pairs sharing >= 1 band AND cosine >= t
      val planesDf = graft.similarity.Similarity.lshBands(
        hist, "hist_id", "embedding", 8, 16, 4)
      val hb = planesDf.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).map(_._3).toSeq }
      val sb = graft.similarity.Similarity.lshBands(
          Seq((1L, mk(104L, 0)._2), (2L, Array.tabulate(8)(d => if (d == 7) 1f else 0f)))
            .toDF("doc_id", "embedding"), "doc_id", "embedding", 8, 16, 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).map(_._3).toSeq }
      def cos(a: Array[Float], b: Array[Float]): Double = {
        val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
        ad.zip(bd).map { case (x, y) => x * y }.sum /
          (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
      }
      val hv = (100L to 119L).map(i => i -> mk(i, (i % 4).toInt * 2)._2).toMap
      val sv = Map(1L -> mk(104L, 0)._2,
        2L -> Array.tabulate(8)(d => if (d == 7) 1f else 0f))
      val brute = (for {
        s <- sv.keys; h <- hv.keys
        if sb(s).zip(hb(h)).exists { case (x, y) => x == y }
        if cos(sv(s), hv(h)) >= 0.95
      } yield (s, h)).toSet
      assert(got === brute)
    } finally q.stop()
  }

  test("gapReportStream: in-order feed matches batch gapReport in microseconds; late events counted, not mis-stated") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[Streaming.GapEvent]
    // threshold 1 hour; key 1 has gaps of 30min / 2h / 1h-exact (not
    // over: strict >), key 2 is a single observation (null gaps)
    val q = Streaming.gapReportStream(spark, input.toDS(), thresholdSec = 3600)
      .writeStream.format("memory").queryName("gap_stream")
      .outputMode(OutputMode.Update()).start()
    val evs1 = Seq(
      Streaming.GapEvent(1L, ts("2024-01-01 00:00:00")),
      Streaming.GapEvent(1L, ts("2024-01-01 00:30:00")),
      Streaming.GapEvent(2L, ts("2024-01-01 05:00:00")))
    val evs2 = Seq(
      Streaming.GapEvent(1L, ts("2024-01-01 02:30:00")),
      Streaming.GapEvent(1L, ts("2024-01-01 03:30:00")))
    try {
      input.addData(evs1: _*)
      q.processAllAvailable()
      input.addData(evs2: _*)
      q.processAllAvailable()
      // Update mode: reports are monotone in n_obs — max-by(n_obs) per
      // key is the final state
      def finalReports = spark.table("gap_stream")
        .groupBy(col("key"))
        .agg(max(struct(col("n_obs"), col("max_gap_us"),
          col("n_gaps_over"), col("n_late"))).as("s"))
        .select(col("key"), col("s.*"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
            r.getLong(3), r.getLong(4)))).toMap
      val streamRep = finalReports
      assert(streamRep(1L) === ((4L, Some(7200000000L), 1L, 0L)))
      assert(streamRep(2L) === ((1L, None, 0L, 0L)))
      // batch parity on the same (in-order) feed, µs for µs
      val batch = graft.operators.TimeSeriesOps.gapReport(
          (evs1 ++ evs2).map(e => (e.key, e.ts)).toDF("key", "ts"),
          Seq("key"), "ts", thresholdSec = 3600)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
            r.getLong(3)))).toMap
      assert(batch(1L) === ((4L, Some(7200000000L), 1L)))
      assert(batch(2L) === ((1L, None, 0L)))
      // a LATE arrival (behind key 1's frontier, inside the watermark
      // delay): counted into n_obs and n_late, gap statistics untouched
      input.addData(Streaming.GapEvent(1L, ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      assert(finalReports(1L) === ((5L, Some(7200000000L), 1L, 1L)))
    } finally q.stop()
  }

  test("gapReportStream with a TTL: engine drops beyond-watermark rows before the fold (documented mode difference)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // EventTimeTimeout (the TTL mode) makes Spark filter input rows
    // older than the watermark BEFORE flatMapGroupsWithState, so a
    // beyond-watermark arrival never reaches n_obs/n_late — unlike the
    // NoTimeout mode above, where every arrival is folded. This pins
    // the engine behavior the scaladoc states; if a Spark upgrade
    // changes the filter, this test fails and the doc must move.
    val input = MemoryStream[Streaming.GapEvent]
    val q = Streaming.gapReportStream(spark, input.toDS(), thresholdSec = 3600,
        watermarkDelay = "10 minutes", stateTtlMillis = Some(86400000L))
      .writeStream.format("memory").queryName("gap_ttl")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        Streaming.GapEvent(1L, ts("2024-01-01 00:00:00")),
        Streaming.GapEvent(1L, ts("2024-01-01 06:00:00")))
      q.processAllAvailable() // watermark -> 05:50
      // beyond-watermark arrival: dropped by the engine in TTL mode
      input.addData(Streaming.GapEvent(1L, ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      val n = spark.table("gap_ttl").agg(max(col("n_obs"))).collect()(0).getLong(0)
      val late = spark.table("gap_ttl").agg(max(col("n_late"))).collect()(0).getLong(0)
      assert(n === 2L, s"beyond-watermark row reached the fold: n_obs=$n")
      assert(late === 0L)
      // within-watermark disorder still counts into n_late in TTL mode
      input.addData(Streaming.GapEvent(1L, ts("2024-01-01 05:55:00")))
      q.processAllAvailable()
      val late2 = spark.table("gap_ttl").agg(max(col("n_late"))).collect()(0).getLong(0)
      assert(late2 === 1L)
    } finally q.stop()
  }

  test("dfCapStream: stateless boilerplate gate matches the batch rare-universe, unseen blocks pass") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // corpus: 4 docs in block b1, all carrying the same 6-token
    // boilerplate tail (df 4/4 > 0.5), each with distinct body tokens
    val boiler = "end of message standard corporate footer"
    val corpus = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta $boiler", "b1"),
      (2L, s"one two three four five six $boiler", "b1"),
      (3L, s"red green blue yellow purple orange $boiler", "b1"),
      (4L, s"cat dog bird fish mouse horse $boiler", "b1"))
      .toDF("doc_id", "text", "source")
    val dim = Streaming.boilerplateDim(corpus, "doc_id", "text", "source",
      shingleN = 3, maxShingleDocFrac = 0.5)
    val input = MemoryStream[(Long, String, String)]
    val df = input.toDF().toDF("doc_id", "text", "source")
    val q = Streaming.dfCapStream(df, "doc_id", "text", "source", dim,
        shingleN = 3)
      .writeStream.format("memory").queryName("dfcap_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (10L, s"fresh new body content here today $boiler", "b1"), // mixed
        (11L, boiler, "b1"),                    // pure boilerplate
        (12L, "totally novel text nothing shared", "b1"),   // all rare
        (13L, s"some words $boiler", "zz"))     // unseen block
      q.processAllAvailable()
      val rows = spark.table("dfcap_stream").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_rare"),
            r.getAs[Boolean]("all_boiler")))).toMap
      // doc 10: 12 tokens -> 10 trigrams; the 4 pure-boilerplate
      // trigrams of the 6-token tail are capped; bridge trigrams
      // (spanning body|tail) are rare
      assert(rows(10L) === ((10L, 6L, false)))
      assert(rows(11L) === ((4L, 0L, true)))   // empty rare universe
      assert(rows(12L)._1 === rows(12L)._2)    // nothing capped
      assert(rows(13L)._1 === rows(13L)._2 && !rows(13L)._3) // unseen blk
      // batch parity: the stream gate's rare count equals the batch
      // rare-universe size (explode + anti-join against the SAME
      // boilerplateShingles set) for the corpus docs themselves
      val streamOnCorpus = Streaming.dfCapStream(
          corpus, "doc_id", "text", "source", dim, shingleN = 3)
        .select(col("doc_id"), col("n_rare")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batchRare = corpus
        .select(col("doc_id"), col("source").as("blk"),
          explode(org.apache.spark.sql.graft.TextExpressions
            .shingleHashes(col("text"), 3)).as("s"))
        .join(graft.dedup.Dedup.boilerplateShingles(
          corpus, "doc_id", "text", "source", 3, 0.5),
          Seq("blk", "s"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamOnCorpus === batchRare)
    } finally q.stop()
  }

  test("diurnalPredictedStream matches batch extremaPredicted (prefit occ, disorder within watermark)") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // 2 stations, 5 days of 2-hourly observations with a diurnal dip
    // around (key-dependent) early hours and a peak around afternoon;
    // deterministic pseudo-noise exercises non-trivial picks and a
    // repeated-value tie inside a window
    val rnd = new scala.util.Random(42)
    val events = for {
      key <- Seq(1L, 2L)
      day <- 0 until 5
      hour <- 0 until 24 by 2
    } yield {
      val base = 10.0 + 5.0 * math.sin((hour - 6 + key) / 24.0 * 2 * math.Pi)
      val v = math.floor((base + rnd.nextDouble() * 0.5) * 2) / 2 // coarse grid -> ties
      Streaming.DiurnalEvent(key,
        ts(f"2024-01-0${day + 1}%d $hour%02d:15:00"), v)
    }
    val calibEnd = "2024-01-03"
    val batchDf = events.map(e => (e.key, e.ts, e.value)).toDF("key", "ts", "value")
    val occDf = graft.operators.Diurnal.predictedOccurrences(
      batchDf, Seq("key"), "ts", "value", calibEnd)
    val occ = occDf.collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val expected = graft.operators.Diurnal.extremaPredicted(
        batchDf, Seq("key"), "ts", "value", calibEnd, halfWindowHours = 8)
      .collect().map(r => (r.getLong(0),
        r.getTimestamp(1).getTime, Option(r.get(2)), Option(r.get(3)),
        Option(r.get(4)), Option(r.get(5)))).toSet
    // stream: one chunk per calendar day, fully shuffled INSIDE each
    // chunk (disorder bounded by the 1-day watermark — shuffling across
    // days would make genuinely-late data the test's subject instead of
    // parity), then a far-future sentinel per key to push the watermark
    // past every real day's close
    val shufIn = new scala.util.Random(7)
    val chunks = events.groupBy(_.ts.getTime / 86400000L).toSeq
      .sortBy(_._1).map { case (_, es) => shufIn.shuffle(es) }
    val input = MemoryStream[Streaming.DiurnalEvent]
    val q = Streaming.diurnalPredictedStream(spark, input.toDS(), occ,
        halfWindowHours = 8, watermarkDelay = "1 day")
      .writeStream.format("memory").queryName("diurnal_pred")
      .outputMode(OutputMode.Append()).start()
    try {
      chunks.foreach { c => input.addData(c); q.processAllAvailable() }
      input.addData(Seq(
        Streaming.DiurnalEvent(1L, ts("2024-02-01 00:00:00"), 0.0),
        Streaming.DiurnalEvent(2L, ts("2024-02-01 00:00:00"), 0.0)))
      q.processAllAvailable()
      // one more empty-ish trigger so event-time timeouts fire for any
      // day whose close landed exactly on the new watermark
      input.addData(Seq(
        Streaming.DiurnalEvent(1L, ts("2024-02-01 00:00:01"), 0.0)))
      q.processAllAvailable()
      val got = spark.table("diurnal_pred").collect()
        .map(r => (r.getLong(0),
          r.getTimestamp(1).getTime, Option(r.get(2)), Option(r.get(3)),
          Option(r.get(4)), Option(r.get(5)))).toSet
      assert(got === expected,
        s"stream-batch drift: extra=${got -- expected} missing=${expected -- got}")
      assert(expected.nonEmpty && expected.forall(_._3.nonEmpty))
    } finally q.stop()
  }

  test("diurnalPredictedStream drops inverted days (min pick > max pick), the batch filter") {
    implicit val sqlCtx = spark.sqlContext
    // hand-set occ with disjoint +-2h windows: min in [02,06], max in
    // [10,14]. Day 1 inverts (only a 25.0 in the min window, only a
    // 1.0 in the max window) -> batch extremaPredicted's final filter
    // drops it; day 2 is well-formed -> emitted
    val occ = Map(1L -> (4.0, 12.0))
    val input = MemoryStream[Streaming.DiurnalEvent]
    val q = Streaming.diurnalPredictedStream(spark, input.toDS(), occ,
        halfWindowHours = 2, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("diurnal_inv")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq(
        Streaming.DiurnalEvent(1L, ts("2024-01-01 04:00:00"), 25.0),
        Streaming.DiurnalEvent(1L, ts("2024-01-01 12:00:00"), 1.0),
        Streaming.DiurnalEvent(1L, ts("2024-01-02 04:00:00"), 3.0),
        Streaming.DiurnalEvent(1L, ts("2024-01-02 12:00:00"), 9.0),
        // day 3: NaN arrives BEFORE the real min-window value — the
        // SQL double order (NaN greatest) must pick 4.0 as min and NaN
        // as max, regardless of arrival order (review finding)
        Streaming.DiurnalEvent(1L, ts("2024-01-03 03:00:00"), Double.NaN),
        Streaming.DiurnalEvent(1L, ts("2024-01-03 04:30:00"), 4.0),
        Streaming.DiurnalEvent(1L, ts("2024-01-03 12:00:00"), 6.0),
        Streaming.DiurnalEvent(1L, ts("2024-01-03 13:00:00"), Double.NaN),
        Streaming.DiurnalEvent(1L, ts("2024-02-01 00:00:00"), 0.0)))
      q.processAllAvailable()
      input.addData(Seq(
        Streaming.DiurnalEvent(1L, ts("2024-02-01 00:00:01"), 0.0)))
      q.processAllAvailable()
      val got = spark.table("diurnal_inv").collect()
        .map(r => (r.getTimestamp(1), Option(r.get(2)), Option(r.get(4))))
        .sortBy(_._1.getTime)
      assert(got.map(_._1) === Seq(
        ts("2024-01-02 00:00:00"), ts("2024-01-03 00:00:00")),
        s"inverted day must be dropped, others emitted: ${got.toSeq}")
      assert(got(0)._2 === Some(3.0) && got(0)._3 === Some(9.0))
      assert(got(1)._2 === Some(4.0), s"NaN must lose the min pick: $got")
      assert(got(1)._3.exists(v => v.asInstanceOf[Double].isNaN),
        s"NaN must win the max pick (SQL order): $got")
    } finally q.stop()
  }

  test("hydroPiecewiseStream: stream-static interval join matches the batch pipeline") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val intervals = Seq(
      ("2024-01-01", "2024-01-08", 299.31),
      ("2024-01-08", "2024-01-15", 293.81))
    val wlbOf = (v: org.apache.spark.sql.Column,
                 h: org.apache.spark.sql.Column) => v * 0.05 + h
    val rows = Seq(
      (ts("2024-01-03 06:00:00"), 1L, 10.0),   // first interval
      (ts("2024-01-07 23:59:59"), 1L, 20.0),   // last second of first
      (ts("2024-01-08 00:00:00"), 2L, 30.0),   // exact boundary -> second
      (ts("2024-01-20 12:00:00"), 2L, 40.0))   // outside all: dropped
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val df = input.toDF().toDF("ts", "event_id", "value")
    val q = Streaming.hydroPiecewiseStream(spark, df, "ts", intervals,
        "sensor_height", "value", wlbOf)
      .writeStream.format("memory").queryName("hydro_pw")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows.take(2))
      q.processAllAvailable()
      input.addData(rows.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("hydro_pw").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value"),
          r.getAs[Double]("sensor_height"), r.getAs[Double]("wlb"))).toSet
      val batch = graft.operators.Hydro.piecewiseIntervals(spark,
          rows.toDF("ts", "event_id", "value"), "ts", intervals,
          "sensor_height")
        .withColumn("wlb", wlbOf(col("value"), col("sensor_height")))
        .collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value"),
          r.getAs[Double]("sensor_height"), r.getAs[Double]("wlb"))).toSet
      assert(streamed === batch)
      assert(streamed.size === 3) // the out-of-interval obs dropped on both sides
      assert(streamed.contains((1L, 10.0, 299.31, 10.0 * 0.05 + 299.31)))
      assert(streamed.contains((2L, 30.0, 293.81, 30.0 * 0.05 + 293.81)))
    } finally q.stop()
  }

  test("configureStateBackend: picks RocksDB past the heap-fraction bound, default below, and round-trips the conf") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val heap = 1L << 30 // pretend 1 GiB executor heap
    try {
      // sessionize at 322 B/row (r14 soak): 100k rows = 32 MB << 0.3 GiB
      val small = Streaming.configureStateBackend(spark, 100000L,
        "sessionize", executorHeapBytes = heap)
      assert(small === "")
      // getOption surfaces Spark's built-in default when unset — the
      // contract is only that it is NOT RocksDB
      assert(spark.conf.get(key) !== Streaming.RocksDbProvider,
        "default path must leave Spark's provider at the default")
      // 2B rows = ~600 GB projected >> bound -> RocksDB, conf set
      val big = Streaming.configureStateBackend(spark, 2000000000L,
        "sessionize", executorHeapBytes = heap)
      assert(big === Streaming.RocksDbProvider)
      assert(spark.conf.get(key) === Streaming.RocksDbProvider)
      // unknown family projects at worst measured + headroom (>= any
      // known family), so the switch point is never optimistic
      assert(Streaming.projectedStateBytes(1000L) >=
        Streaming.MeasuredStateBytesPerRow.values.max * 1000L)
      // calling back with a small projection restores the default
      val back = Streaming.configureStateBackend(spark, 1000L,
        "funnel", executorHeapBytes = heap)
      assert(back === "")
      assert(spark.conf.get(key) !== Streaming.RocksDbProvider)
    } finally spark.conf.unset(key)
  }

  test("pairMassStream: cumulative deltas equal the batch audit over the union, across batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val aNear = ((1 to 30).map(i => if (i == 15) "X" else s"w$i")).mkString(" ")
    val b = (1 to 30).map(i => s"v$i").mkString(" ")
    val input = MemoryStream[(Long, String, String)]
    val df = input.toDF().toDF("doc_id", "text", "source")
    val q = Streaming.pairMassStream(df, "text", "source")
      .writeStream.format("memory").queryName("pair_mass")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: one shared-shingle pair in s1, a singleton in s2
      input.addData((1L, a, "s1"), (2L, aNear, "s1"), (3L, b, "s2"))
      q.processAllAvailable()
      // batch 2: a third near-copy in s1 (raises every shared group's
      // df), plus a first doc of a NEW block
      input.addData((4L, a, "s1"), (5L, b, "s3"))
      q.processAllAvailable()
      val streamed = spark.table("pair_mass")
        .groupBy(col("blk")).agg(sum(col("delta")).as("m"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // batch-audit the UNION with the stream's basis (per-copy df,
      // no cap): the two paths must agree exactly, per block
      val union = Seq((1L, a, "s1"), (2L, aNear, "s1"), (3L, b, "s2"),
        (4L, a, "s1"), (5L, b, "s3")).toDF("doc_id", "text", "source")
      val batch = graft.dedup.Dedup.pairMassAudit(union, "doc_id", "text",
          "source", collapseClasses = false)
        .collect()
        .map(r => r.getString(0) -> r.getAs[Long]("candidate_pairs"))
        .filter(_._2 > 0).toMap
      assert(streamed === batch)
      // and the s1 mass is genuinely cross-batch: batch 1 alone has
      // fewer pairs than the union (the third copy multiplied them)
      val b1 = graft.dedup.Dedup.pairMassAudit(
          Seq((1L, a, "s1"), (2L, aNear, "s1")).toDF("doc_id", "text", "source"),
          "doc_id", "text", "source", collapseClasses = false)
        .collect().map(_.getAs[Long]("candidate_pairs")).sum
      assert(b1 < streamed("s1"))
    } finally q.stop()
  }
}
