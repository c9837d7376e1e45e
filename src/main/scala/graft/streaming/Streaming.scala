package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Diurnal

/** Structured Streaming operators (SURVEY §2 K): watermarked windowed
  * aggregation and stateful gap-based sessionization — the streaming
  * twins of ts_resample_1d and q_sessionize.
  *
  * Scale notes: both are keyed-state operators — Spark shuffles on the
  * grouping key and keeps per-key state in the state store; watermarks
  * bound state size (late data beyond the watermark is dropped), which
  * is what keeps a 100 TB/day stream's state finite.
  */
object Streaming {

  /** Fully-qualified class name of Spark's RocksDB state store provider. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Measured steady-state HDFS-backed state bytes per key row from the
    * r14 soak at mult=10 (SCALING.md "r14: state-store backend at 10x
    * soak volume"): sessionize 40.6 MB / 126k rows, funnel 55.4 MB /
    * 100k rows, TTL'd funnel 6.3 MB / 12.7k rows. The estimator uses
    * the worst measured family for unknown operators. `pair_mass`
    * (r15): 144.5 MB / 372k rows at the soak's saturated shingle
    * vocabulary (SCALING.md "r15 addendum 3 — the audit's STREAMING
    * twin under soak"; state rows plateaued at
    * 99% of the content bound while doc count doubled — its rows
    * estimate is the corpus's distinct (block, shingle) count, i.e.
    * the batch audit's group count).
    */
  val MeasuredStateBytesPerRow: Map[String, Long] = Map(
    "sessionize" -> 322L,
    "funnel" -> 554L,
    "funnel_ttl" -> 496L,
    "pair_mass" -> 388L)

  /** Projected state-store bytes for `stateRows` concurrent keys of an
    * operator `family` (a [[MeasuredStateBytesPerRow]] key; anything
    * else projects at the worst measured family + 25% headroom).
    */
  def projectedStateBytes(stateRows: Long, family: String = ""): Long = {
    val perRow = MeasuredStateBytesPerRow.getOrElse(family,
      (MeasuredStateBytesPerRow.values.max * 1.25).toLong)
    stateRows * perRow
  }

  /** Pick and SET the state-store provider for streams started from
    * this session — the one-call form of the r14 soak's documented
    * switch condition (SCALING.md "r14: state-store backend at 10x
    * soak volume"): stay on Spark's default in-memory
    * HDFS-backed provider while projected state fits comfortably in
    * executor heap (it is 1.3x faster on the state-heaviest twin and
    * 2.1x on TTL churn, output-identical), and switch to RocksDB's
    * disk-resident store when `projectedStateBytes(stateRows, family)`
    * exceeds `heapFraction` (default 0.3) of per-executor heap — the
    * regime where the in-memory map's state-on-heap becomes the OOM.
    *
    * The provider class is read from session conf at QUERY START, so
    * call this before `writeStream.start()`; queries already running
    * are unaffected. Returns the chosen provider class name ("" = the
    * Spark default) so callers can log the decision.
    */
  def configureStateBackend(spark: SparkSession, stateRows: Long,
                            family: String = "",
                            executorHeapBytes: Long =
                              Runtime.getRuntime.maxMemory(),
                            heapFraction: Double = 0.3): String = {
    require(heapFraction > 0 && heapFraction <= 1,
      s"heapFraction must be in (0, 1], got $heapFraction")
    val projected = projectedStateBytes(stateRows, family)
    if (projected > (executorHeapBytes * heapFraction).toLong) {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        RocksDbProvider)
      RocksDbProvider
    } else {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      ""
    }
  }

  /** Watermarked tumbling-window aggregate of a value column. */
  def windowedAgg(events: DataFrame, tsCol: String, keyCol: String,
                  valCol: String, windowDuration: String,
                  watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col(valCol)).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col(keyCol), col("n_events"), col("total_value"))

  /** Streaming twin of cRolling (SURVEY §8 #2): sliding event-time
    * windows aggregate the trailing window and report it at the window
    * MIDPOINT — the same trailing-window-shifted-index semantics as the
    * batch c_rolling (utils.py:32), approximated on the slide grid.
    * Watermarks bound state; each event lands in window/slide windows.
    */
  def cRollingStream(events: DataFrame, tsCol: String, keyCol: String,
                     valCol: String, windowDuration: String,
                     slideDuration: String,
                     watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration, slideDuration), col(keyCol))
      .agg(avg(col(valCol)).as("mean"), count(lit(1)).as("n"))
      .select(
        timestamp_micros(((unix_micros(col("window.start")) +
          unix_micros(col("window.end"))) / 2).cast("long")).as("ts_c"),
        col(keyCol), col("mean"), col("n"))

  /** Streaming twin of the diurnal extrema pick (B1): per key and
    * event-time day, the min/max value with first-occurrence timestamps
    * — the batch operator's pick columns ([[Diurnal.minPick]] /
    * [[Diurnal.maxPick]]: first-occurrence tie-breaks, null values never
    * win), running as a watermarked tumbling-day aggregation. Late data
    * within the watermark refines the day's picks; beyond it the day is
    * final.
    */
  def diurnalExtremaStream(events: DataFrame, tsCol: String, keyCol: String,
                           valCol: String,
                           watermarkDelay: String = "1 day"): DataFrame = {
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), "1 day"), col(keyCol))
      .agg(
        Diurnal.minPick(col(valCol), col(tsCol)).as("_mn"),
        Diurnal.maxPick(col(valCol), col(tsCol)).as("_mx"))
      .select(col("window.start").as("day"), col(keyCol),
        col("_mn.v").as("min_val"), col("_mn.t").as("min_time"),
        col("_mx.v").as("max_val"), col("_mx.t").as("max_time"))
  }

  /** Streaming twin of exact dedup (G1): keep the first document per
    * content hash, with state bounded by the watermark —
    * `dropDuplicatesWithinWatermark` evicts a hash from the state store
    * once the watermark passes its event time, so state size tracks the
    * watermark window, not the unbounded stream. That is the honest
    * streaming-dedup contract: duplicates further apart than the
    * watermark delay are NOT caught (global exact dedup over an
    * unbounded stream requires unbounded state — that is the batch
    * operator's job over the accumulated corpus). The hash is computed
    * row-local before the stateful operator, so only the 32-byte digest
    * (not the document) enters state.
    */
  def dedupExactStream(docs: DataFrame, tsCol: String, textCol: String,
                       watermarkDelay: String): DataFrame =
    docs
      .withWatermark(tsCol, watermarkDelay)
      .withColumn("content_hash", sha2(col(textCol), 256))
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming twin of `q_merge` (latest-wins log compaction): maintain
    * each key's CURRENT state as events arrive — the CDC/materialized-
    * view shape (the batch query replays the log; the stream never
    * re-reads it). One streaming aggregation per key holding a single
    * `max_by`-style struct: state is O(#keys), independent of stream
    * length, and the (ts, tieCol) DESC pick matches the batch
    * operator's deterministic tie-break exactly (struct comparison
    * orders lexicographically, so ts first, tie second — the same
    * (ts DESC, id DESC) order). Update output mode: each micro-batch
    * emits the keys whose state changed; the final table equals the
    * batch q_merge over the same log (spec-pinned).
    *
    * STATE BOUND (r10 ADVICE): state is one row per DISTINCT key,
    * forever — the materialized-view contract (a compacted view has no
    * expiry). That is the right bound for entity-keyed CDC (users,
    * orders), but under unbounded key churn (UUID-per-event streams)
    * it grows without limit; such streams should either pre-bucket
    * keys or use a TTL'd stateful twin (the [[gapReportStream]]
    * `stateTtlMillis` pattern: EventTimeTimeout + state.remove on
    * timeout) and accept that an evicted key re-admits stale rows.
    */
  def latestStateStream(events: DataFrame, keyCol: String, tsCol: String,
                        tieCol: String, valueCols: Seq[String]): DataFrame =
    events
      .groupBy(col(keyCol))
      .agg(max(struct((Seq(tsCol, tieCol) ++ valueCols).map(col): _*))
        .as("_latest"))
      .select(col(keyCol) +:
        (Seq(tsCol, tieCol) ++ valueCols).map(c => col(s"_latest.$c")): _*)

  /** Streaming ingestion quality gate — the curation steps that are
    * pure row-local projections/filters in batch stay exactly that on a
    * stream (stateless, no watermark needed): normalize, redact PII,
    * count tokens, score quality, drop rows under the floors. The point
    * of having a named twin is the CONTRACT: same expressions as the
    * batch operators, so a doc admitted by the stream gate is admitted
    * by the batch gate.
    */
  def qualityGateStream(docs: DataFrame, textCol: String,
                        minTokens: Int = 5,
                        maxDigitRatio: Double = 0.5): DataFrame = {
    docs
      .withColumn("norm_text", graft.text.TextAnalysis.normalizeWs(col(textCol)))
      .withColumn("redacted", graft.text.TextAnalysis.redactPii(col("norm_text")))
      .withColumn("n_tokens",
        graft.text.TextAnalysis.wsTokenCount(col("norm_text")).cast("long"))
      .filter(col("n_tokens") >= minTokens &&
        graft.text.TextAnalysis.digitRatio(col(textCol)) <= maxDigitRatio)
  }

  /** Streaming decontamination (G6's stream twin): drop stream docs
    * sharing ANY shingle with a STATIC benchmark set. Stateless AND
    * benchmark-size-independent per row: the benchmark's distinct
    * shingle hashes (shared definition with the batch gate,
    * [[graft.dedup.Dedup.benchShingleHashes]]) are collected ONCE —
    * bounded by contract, eval sets are tiny next to the corpus, which
    * is the same assumption that lets the batch operator broadcast
    * them — into a hash set, and each row pays O(|its own shingles|)
    * probes through the codegen'd
    * [[org.apache.spark.sql.graft.ArrayLongAnyInSet]]. (The previous
    * broadcast anti-join formulation re-scanned the bench per CLEAN
    * doc — proving a doc clean, the common case, was O(|bench|).)
    * Null-text docs pass through: they cannot overlap anything.
    *
    * The graded `minOverlap >= k` threshold needs a per-doc count
    * across shingle rows (a streaming aggregation with state) — that
    * counted form is the batch operator's job
    * ([[graft.dedup.Dedup.contaminatedIds]] over the accumulated
    * corpus); the stream gate is the k=1 boolean, which is the usual
    * ingestion contract anyway.
    */
  def decontaminateStream(docs: DataFrame, textCol: String,
                          benchmark: DataFrame, benchTextCol: String,
                          shingleN: Int = 5): DataFrame = {
    val benchSet = graft.dedup.Dedup
      .benchShingleHashes(benchmark, benchTextCol, shingleN)
      .collect().map(_.getLong(0)).toSet
    val overlap = org.apache.spark.sql.graft.TextExpressions.arrayAnyInSet(
      org.apache.spark.sql.graft.TextExpressions
        .shingleHashes(col(textCol), shingleN), benchSet)
    docs.filter(coalesce(!overlap, lit(true)))
  }

  /** Streaming DSIR admission gate (L16's stream twin): score each
    * stream doc's hashed-bigram features against a PREFIT
    * [[graft.mix.Mix.dsirModel]] ratio table. The table is bounded by
    * construction (numBuckets rows), so it is collected ONCE into a
    * bucket-indexed array and embedded in a codegen expression
    * ([[org.apache.spark.sql.graft.HashedBigramBucketScore]]) —
    * scoring is pure row-local compute, no join, no state, the
    * decontaminateStream shape. Unscorable docs (null text, fewer
    * than 2 tokens) carry a NULL `dsir_logw`; thresholding is the
    * caller's filter so admit/quarantine policy stays with the
    * pipeline, not the gate. Fitting stays a BATCH job over the
    * accumulated corpus — a stream cannot fit the model it scores
    * against (the LshIndex admission note).
    */
  def dsirScoreStream(docs: DataFrame, textCol: String,
                      model: DataFrame, numBuckets: Int = 1024): DataFrame = {
    val table = new Array[Double](numBuckets)
    model.select(col("bucket"), col("lr")).collect()
      .foreach(r => table(r.getLong(0).toInt) = r.getDouble(1))
    docs.withColumn("dsir_logw",
      org.apache.spark.sql.graft.TextExpressions
        .hashedBigramBucketScore(col(textCol), table.toSeq))
  }

  /** Streaming BM25 scorer (I13's stream twin): score each stream doc
    * against a fixed query bag under PREFIT corpus statistics
    * ([[graft.text.TextAnalysis.bm25Stats]], a batch job — a stream
    * cannot fit the df/avgdl it scores against, the dsirScoreStream
    * contract). The stats are |terms|+2 longs embedded as literals, so
    * scoring is pure row-local compute — no join, no state; the
    * routing/filtering decision stays with the caller. Identical
    * arithmetic to the batch scorer, so batch and stream scores agree
    * bit-for-bit (spec-pinned). Null text carries a null score.
    */
  def bm25ScoreStream(docs: DataFrame, textCol: String,
                      queryTerms: Seq[String],
                      stats: graft.text.TextAnalysis.Bm25Stats): DataFrame =
    docs.withColumn("bm25",
      graft.text.TextAnalysis.bm25ScoreColumn(col(textCol), queryTerms, stats))

  /** Streaming winsorize gate (L18's stream twin): clip each stream
    * row's value to PREFIT per-key [lo, hi] cutpoints
    * ([[winsorizeCutpoints]], fit as a BATCH job over the accumulated
    * corpus — a stream cannot fit the quantiles it clips against, the
    * dsirScoreStream contract). The cutpoint table is
    * key-domain-bounded, so it rides a stream-static broadcast join.
    * This is also the batch operator's clip: [[graft.mix.Mix.winsorize]]
    * applies it to the cutpoints of its own input, so batch and stream
    * label every row identically. A null value gets a null clipped
    * value and tag, never a silent clip (Spark's greatest/least SKIP
    * nulls). Unseen keys pass through unclipped with a null tag —
    * admission policy stays with the caller.
    */
  def winsorizeStream(docs: DataFrame, keyCol: String, valCol: String,
                      cutpoints: DataFrame): DataFrame = {
    val cuts = cutpoints
      .select(col(keyCol), col("_lo"), col("_hi"))
    // left join: a row whose key has no cutpoints must surface, never drop
    docs.join(broadcast(cuts), Seq(keyCol), "left")
      .withColumn("clipped",
        when(col(valCol).isNull, lit(null))
          .when(col("_lo").isNull, col(valCol))
          .otherwise(least(greatest(col(valCol), col("_lo")), col("_hi"))))
      .withColumn("clip_tag",
        when(col(valCol).isNull || col("_lo").isNull, lit(null).cast("string"))
          .when(col(valCol) < col("_lo"), lit("low"))
          .when(col(valCol) > col("_hi"), lit("high"))
          .otherwise(lit("in_range")))
      .drop("_lo", "_hi")
  }

  /** The cutpoint dim [[winsorizeStream]] expects, fit from a BATCH
    * corpus: per-key exact LOWER [lo, hi] quantiles from
    * [[graft.mix.Mix.histogramQuantiles]] (integer reach arithmetic,
    * engine-portable), shared with [[graft.mix.Mix.winsorize]].
    */
  def winsorizeCutpoints(corpus: DataFrame, keyCol: String, valCol: String,
                         loNum: Int, loDen: Int, hiNum: Int,
                         hiDen: Int): DataFrame =
    graft.mix.Mix.histogramQuantiles(corpus, keyCol, valCol,
        Seq((loNum, loDen), (hiNum, hiDen)))
      .select(col(keyCol), col(s"q_${loNum}_$loDen").as("_lo"),
        col(s"q_${hiNum}_$hiDen").as("_hi"))

  /** Streaming MAD outlier gate (A11's stream twin): flag each stream
    * row's value against PREFIT per-key (median, MAD) robust centers
    * ([[madCutpoints]], fit as a BATCH job over the accumulated corpus
    * — a stream cannot fit the quantiles it flags against, the
    * winsorizeStream contract). The center table is key-domain-bounded
    * and rides a stream-static broadcast join; snap + deviation + flag
    * are row-local. This is also the batch flag:
    * [[graft.operators.TimeSeriesOps.madOutliers]] applies it to the
    * centers of its own input, so batch and stream flag every seen
    * key's row identically. A null value gets a null flag, never a
    * silent pass; unseen keys pass with a null flag — admission policy
    * stays with the caller. FLAGS, never drops — the droplist decision
    * stays with the caller too.
    *
    * Output: input row (key first) + `snapped`, `med`, `mad`,
    * `is_outlier`.
    */
  def madStream(docs: DataFrame, keyCol: String, valCol: String,
                cutpoints: DataFrame, k: Double = 3.5,
                gridScale: Int = 4): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // left join: a row whose key has no centers (an unseen key, or one
    // whose fit values were all null) must surface, never drop
    docs.withColumn("snapped", madSnap(col(valCol), gridScale))
      .join(broadcast(cutpoints.select(col(keyCol), col("med"), col("mad"))),
        Seq(keyCol), "left")
      .withColumn("is_outlier",
        abs(col("snapped") - col("med")) > lit(k) * col("mad"))
  }

  /** A value snapped to the 10^-`gridScale` grid the MAD fit and flag
    * both read (null stays null).
    */
  private def madSnap(v: Column, gridScale: Int): Column = {
    val p = math.pow(10.0, gridScale)
    floor(v * p + 0.5001) / p
  }

  /** The per-key robust-center dim [[madStream]] expects, fit from a
    * BATCH corpus: (key, `med`, `mad`), both exact lower medians from
    * [[graft.mix.Mix.histogramQuantilesFromHist]] over the snapped
    * values, shared with [[graft.operators.TimeSeriesOps.madOutliers]].
    *
    * Scale shape: the median comes out of the groupBy(key, value)
    * histogram's reach arithmetic, and the MAD's |x − median|
    * distribution is a RE-GROUPING of that histogram weighted by its
    * counts (equal deviations merge with summed counts; abs() is the
    * same IEEE op on the same grid doubles) — histogram-sized work,
    * never a second corpus-wide groupBy over a corpus joined with the
    * median dim. Two alternatives were MEASURED at mult=1000 and
    * rejected: (a) eager localCheckpoint of the histogram — 89.7 s vs
    * ~42 s, block-storage serialization of a ~100M-row histogram costs
    * more than the reused exchange; (b) fusing med+mad into one window
    * chain over the histogram (one exchange, zero recompute) — 53.0 s,
    * two full re-sorts plus whole-partition window buffering of a
    * histogram that is nearly corpus-sized at this fixture.
    */
  def madCutpoints(corpus: DataFrame, keyCol: String, valCol: String,
                   gridScale: Int = 4): DataFrame = {
    val hist = corpus.select(col(keyCol), madSnap(col(valCol), gridScale).as("_sv"))
      .filter(col("_sv").isNotNull)
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
    med.join(broadcast(mad), Seq(keyCol))
  }

  /** Streaming hybrid-retrieval scorer (I14's stream twin): each
    * stream doc gets BOTH cascade scores — BM25 against a fixed query
    * bag under PREFIT corpus stats (row-local, the [[bm25ScoreStream]]
    * contract) and exact cosine between the doc's embedding and the
    * fixed query vector, the embedding fetched via a STREAM-STATIC
    * equi-join against the embeddings table (no stream state; the
    * static side's file listing snapshots at query start, the
    * [[nearDupCheckStream]] restart note). The global top-k rerank is
    * not append-streamable — ranking/admission stays with the caller
    * (the winsorizeStream policy note). Null text → null bm25; a doc
    * with no embedding row → null cosine.
    */
  def hybridScoreStream(docs: DataFrame, idCol: String, textCol: String,
                        queryTerms: Seq[String],
                        stats: graft.text.TextAnalysis.Bm25Stats,
                        embeddings: DataFrame, embIdCol: String,
                        embCol: String, queryVec: Seq[Double]): DataFrame = {
    val qv = array(queryVec.map(v => lit(v)): _*)
    docs
      .withColumn("bm25", graft.text.TextAnalysis
        .bm25ScoreColumn(col(textCol), queryTerms, stats))
      // NO broadcast hint: the embeddings side is corpus-scale (the
      // one static dim here that does NOT fit an executor); the
      // stream-static equi-join lets Catalyst/AQE pick the strategy
      .join(embeddings.select(col(embIdCol).as(idCol),
        col(embCol).cast("array<double>").as("_ev")), Seq(idCol), "left")
      .withColumn("cosine",
        graft.functions.cosineSimilarity(col("_ev"), qv))
      .drop("_ev")
  }

  /** Streaming near-dup gate (G7's stream twin): each stream doc is
    * checked against a persisted [[graft.dedup.LshIndex]]'s banded
    * HISTORY — MinHash band keys are a row-local codegen projection on
    * the stream side, candidates come from a stream-static equi-join
    * on (band, bh) against the index's band table, and hits verify
    * with the standard estimator (fraction of equal signature
    * components, the index's cross-batch contract) via a second
    * stream-static join on the history signatures. No stream-side
    * state beyond the within-watermark pair dedup (a doc sharing k
    * bands with the same partner would otherwise emit k identical
    * pairs — the batch operator's `distinct()`); history stays on
    * disk. NOTE the snapshot contract: the static side's FILE LISTING
    * is fixed when the streaming query starts, so batch appends to the
    * index are picked up on the next query (re)start, not mid-run —
    * restart the gate after admitting batches. ADMITTING stream docs
    * to the index stays the LshIndex owner's batch job (checkAndAdd) —
    * a stream cannot rewrite the table it reads.
    *
    * Output: (idCol, doc_b, est_jaccard) — stream doc vs history doc.
    */
  def nearDupCheckStream(docs: DataFrame, idCol: String, tsCol: String,
                         textCol: String, index: graft.dedup.LshIndex,
                         threshold: Double = 0.7,
                         watermarkDelay: String = "10 minutes"): DataFrame = {
    val sigs = docs
      .filter(col(textCol).isNotNull)
      .withWatermark(tsCol, watermarkDelay)
      .select(col(idCol), col(tsCol),
        org.apache.spark.sql.graft.TextExpressions
          .minhashSignature(col(textCol), index.shingleN, index.numHashes)
          .as("_sig"))
    val banded = graft.dedup.Dedup.bandRows(sigs, "_sig", index.numHashes,
      index.bands, idCol, tsCol, "_sig")
    val hist = index.banded
      .select(col("doc_id").as("doc_b"), col("band"), col("bh"))
    val cand = banded.join(hist, Seq("band", "bh"))
      .filter(col("doc_b") =!= col(idCol))
      .dropDuplicatesWithinWatermark(idCol, "doc_b")
    cand
      .join(index.sigs.select(col("doc_id").as("doc_b"), col("sig").as("_sig_b")),
        Seq("doc_b"))
      .select(col(idCol), col("doc_b"),
        graft.dedup.Dedup.estJaccard(col("_sig"), col("_sig_b"),
          index.numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Streaming Hamming-radius near-dup gate against a STATIC history
    * corpus — the binary-sketch admission check (is this incoming doc
    * within `maxHamming` fingerprint bits of anything already
    * ingested?). Entirely STATELESS: the portable-SimHash fingerprint
    * is a row-local codegen projection, the pigeonhole block join
    * against the history's banded fingerprint table is a
    * stream-static equi-join (no watermark, no state store), and the
    * xor+popcount verify is row-local arithmetic on the joined words.
    * The lossless pigeonhole guarantee carries over from the batch
    * operator: a history doc within the radius shares >= 1 block, so
    * the gate has NO false negatives.
    *
    * A pair sharing several blocks would surface once per shared
    * block; instead of stateful dropDuplicates, the duplicate is
    * eliminated ROW-LOCALLY: both fingerprints are in hand after the
    * join, so each row recomputes which blocks match and survives only
    * when its own block index is the SMALLEST matching one — exactly
    * one row per (doc, history doc) pair, deterministically, with no
    * state. Output: (idCol, hist_id, hamming) per matched pair;
    * batch parity with the brute-force scan is spec-pinned.
    */
  def hammingCheckStream(docs: DataFrame, idCol: String, textCol: String,
                         history: DataFrame, histIdCol: String,
                         histTextCol: String,
                         maxHamming: Int = 3): DataFrame = {
    import graft.dedup.Dedup
    val nBlocks = Dedup.hammingBlockCount(maxHamming)
    // the batch operator's banding projection and first-shared-band
    // join: the two gates cannot drift on block layout or pair dedup
    val banding = Dedup.hammingBanding(nBlocks)
    def banded(df: DataFrame, id: String, text: String, pre: String) =
      Dedup.bandRows(Dedup.wordRows(Dedup.fingerprintWords(df, id, text)),
        nBlocks, banding, pre)
    Dedup.sharedBandJoin(banded(docs, idCol, textCol, "_a"),
        banded(history, histIdCol, histTextCol, "_b"), nBlocks, banding)
      .select(col("_aid").as(idCol), col("_bid").as("hist_id"),
        Dedup.pairHamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Streaming EMBEDDING near-dup gate (G5's stream twin, completing
    * the admission-gate family: minhash — nearDupCheckStream, hamming
    * — hammingCheckStream, df-cap — dfCapStream, and now vectors):
    * each stream doc's hyperplane band values are a row-local codegen
    * projection carrying the vector alongside; candidates come from a
    * STATELESS stream-static equi-join against the history's banded
    * rows (also carrying vectors), the exactly-once pair dedup is the
    * smallest-matching-band rule on the two carried band arrays (the
    * r11 batch shape — no watermark, no dropDuplicates state), and the
    * cosine verify is the fused codegen projection on the join output.
    * The history side is uncapped here: an admission gate checks one
    * doc against an index, so in-bucket mass is |bucket|, not
    * |bucket|² — the quadratic the batch cap exists for never forms.
    *
    * Output: (idCol, hist_id, cosine >= threshold).
    */
  def embedCheckStream(docs: DataFrame, idCol: String, vecCol: String,
                       history: DataFrame, histIdCol: String,
                       histVecCol: String, dim: Int,
                       threshold: Double = 0.9, numBits: Int = 64,
                       bitsPerBand: Int = 8): DataFrame = {
    import graft.similarity.Similarity
    val nBands = numBits / bitsPerBand
    def banded(df: DataFrame, id: String, vec: String, pre: String) =
      graft.dedup.Dedup.bandRows(
        Similarity.bandedVectors(df, id, vec, dim, numBits, bitsPerBand),
        nBands, Similarity.vectorBanding, pre)
    graft.dedup.Dedup.sharedBandJoin(banded(docs, idCol, vecCol, "_a"),
        banded(history, histIdCol, histVecCol, "_b"), nBands,
        Similarity.vectorBanding)
      .select(col("_aid").as(idCol), col("_bid").as("hist_id"),
        graft.functions.cosineSimilarity(col("_av"), col("_bv")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  case class StepEvent(key: Long, ts: java.sql.Timestamp, value: Double)
  case class StepState(buffer: Seq[(Long, Double)], emittedThrough: Long)
  case class StepOut(key: Long, ts: java.sql.Timestamp, step: Option[Double])

  /** Streaming df-cap boilerplate gate (the `dedup_prune_robust`
    * universe restriction as an ingestion gate — VERDICT r10 item 3):
    * the batch robust near-dup chain restricts every document's
    * Jaccard universe to NON-boilerplate shingles before pair
    * enumeration. A stream cannot compute the document frequencies it
    * caps against (the winsorizeStream contract: FIT in batch, GATE
    * on the stream), so the boilerplate set is prefit by
    * [[graft.dedup.Dedup.boilerplateShingles]] — one definition with
    * the batch operator — and rides as a per-block ARRAY dim
    * ([[boilerplateDim]], one row per block, bounded because only
    * near-universal features clear the frequency bar).
    *
    * The gate itself is STATELESS: shingle hashes are a row-local
    * codegen projection, the dim joins stream-static broadcast on the
    * block key (1:1, append-safe, no state store), and the
    * rare/boilerplate split is `array_intersect` arithmetic in-row —
    * no explode, no re-aggregation, no watermark. Output per doc:
    * total shingles, rare-universe size, boilerplate fraction, and
    * the all-boilerplate flag (an empty rare universe is the batch
    * chain's pair-with-nothing contract — the doc carries no dedup
    * signal and typically fails admission). Unseen blocks pass with
    * boiler_frac 0 — admission policy stays with the caller.
    */
  def dfCapStream(docs: DataFrame, idCol: String, textCol: String,
                  blockCol: String, boilerDim: DataFrame,
                  shingleN: Int = 3): DataFrame = {
    val sh = org.apache.spark.sql.graft.TextExpressions
      .shingleHashes(col(textCol), shingleN)
    docs.filter(col(textCol).isNotNull)
      .withColumn("_sh", sh)
      .join(broadcast(boilerDim.select(col("blk").as(blockCol),
        col("boiler"))), Seq(blockCol), "left")
      .withColumn("n_shingles", size(col("_sh")).cast("long"))
      .withColumn("n_boiler",
        when(col("boiler").isNull, lit(0L))
          .otherwise(size(array_intersect(col("_sh"), col("boiler")))
            .cast("long")))
      .withColumn("n_rare", col("n_shingles") - col("n_boiler"))
      .withColumn("boiler_frac",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(col("n_boiler").cast("double") / col("n_shingles")))
      .withColumn("all_boiler",
        col("n_shingles") > 0 && col("n_rare") === 0)
      .drop("_sh", "boiler")
  }

  /** The per-block boilerplate-array dim [[dfCapStream]] expects, fit
    * from a BATCH corpus: [[graft.dedup.Dedup.boilerplateShingles]]
    * collapsed to one sorted array row per block.
    */
  def boilerplateDim(corpus: DataFrame, idCol: String, textCol: String,
                     blockCol: String, shingleN: Int = 3,
                     maxShingleDocFrac: Double = 0.5): DataFrame =
    graft.dedup.Dedup.boilerplateShingles(corpus, idCol, textCol, blockCol,
        shingleN, maxShingleDocFrac)
      .groupBy(col("blk"))
      .agg(sort_array(collect_list(col("s"))).as("boiler"))

  /** Per-batch DELTA of a (blk, mass) pair emitted by
    * [[pairMassStream]]: `delta` new candidate pairs were added to
    * block `blk` by this micro-batch's documents.
    */
  case class PairMassDelta(blk: String, delta: Long)

  /** Streaming twin of [[graft.dedup.Dedup.pairMassAudit]] (r15) —
    * the exact chain's candidate-mass counter as a LIVE number over an
    * ingestion stream, so the budget decision
    * ([[graft.dedup.Dedup.pruneNearDupsAuto]]'s exact-vs-LSH route)
    * can be made the moment the corpus outgrows exact dedup instead of
    * by a scheduled batch re-audit.
    *
    * State: one running doc-frequency long per distinct (block,
    * shingle-hash) — the same vocabulary-bounded state class as the
    * batch audit's group count (content-bounded, not stream-length-
    * bounded; the bytes/row table of SCALING.md "r14: state-store
    * backend at 10x soak volume" applies). When a
    * (blk, s) group with df existing docs receives k new ones, the
    * group's candidate mass grows by C(df+k,2) − C(df,2) =
    * Σ_{i=0..k−1}(df+i); the operator emits exactly that delta once
    * per TOUCHED group per batch (Append mode — deltas are immutable
    * facts, no retraction needed; untouched and still-unique groups
    * emit nothing). The caller keeps the running Σ per block (or
    * global) with one tiny downstream aggregation or a driver-side
    * counter over the delta stream.
    *
    * Parity contract (StreamingSpec): cumulative Σ delta per block
    * across all batches equals the BATCH audit's `candidate_pairs`
    * over the union of the batches with `collapseClasses = false,
    * maxShingleDocFrac = None` — the stream counts per-copy df
    * (ingestion sees copies; the collapse and the df-cap are batch
    * refinements over representatives, applied when the chain itself
    * runs).
    */
  def pairMassStream(docs: DataFrame, textCol: String, blockCol: String,
                     shingleN: Int = 3): Dataset[PairMassDelta] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col(textCol).isNotNull)
      .select(col(blockCol).cast("string").as("blk"),
        explode(org.apache.spark.sql.graft.TextExpressions
          .shingleHashes(col(textCol), shingleN)).as("s"))
      .as[(String, Long)]
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, PairMassDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case ((blk, _), rows, state: GroupState[Long]) =>
          var df = state.getOption.getOrElse(0L)
          var delta = 0L
          rows.foreach { _ => delta += df; df += 1 }
          state.update(df)
          if (delta > 0) Iterator.single(PairMassDelta(blk, delta))
          else Iterator.empty
      }
  }

  /** Event-time in MICROSECONDS — the batch operators' unit (they
    * window on `unix_micros`), shared by every stateful stream twin so
    * batch/stream parity holds below millisecond resolution.
    */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Inverse of [[micros]]: a Timestamp carrying the full sub-ms part. */
  private def tsFromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  case class DiurnalEvent(key: Long, ts: java.sql.Timestamp, value: Double)
  case class DiurnalDayState(dayUs: Long, seen: Boolean,
                             minV: Option[Double], minT: Option[Long],
                             maxV: Option[Double], maxT: Option[Long])
  case class DiurnalPredState(days: Seq[DiurnalDayState])
  case class DiurnalPickOut(key: Long, day: java.sql.Timestamp,
                            min_val: Option[Double],
                            min_time: Option[java.sql.Timestamp],
                            max_val: Option[Double],
                            max_time: Option[java.sql.Timestamp])

  /** Streaming twin of B6 `diurnal_predict` ([[graft.operators.Diurnal
    * .extremaPredicted]], non-minFirst form) — the last reference
    * family without a live twin (VERDICT r11 item 6 residue). The
    * calibration (per-key predicted occurrence hours) is PREFIT in
    * batch via [[graft.operators.Diurnal.predictedOccurrences]] — the
    * shared definition, so the two engines cannot drift on the window
    * arithmetic inputs — and handed in as a driver-side map (stations
    * are a dim; the fit-in-batch / gate-on-stream contract of
    * dfCapStream). Keys absent from the calibration are ignored,
    * matching the batch inner join.
    *
    * Per-key state holds one small record per OPEN day: the day's
    * conditional min/max picks so far plus a `seen` flag (the batch
    * emits a row only for (key, day) combinations the data actually
    * contains — candidate observations from neighbor days alone must
    * not create a day). An observation serves up to three days (its
    * own and both neighbors — the batch's bounded 3x explode,
    * restated as 3 row-local window-membership tests); picks fold in
    * MICROSECONDS with the batch tie-breaks (min: smallest (v, ts);
    * max: largest v, earliest ts). A day is emitted — once, Append
    * mode, FINAL — when the watermark passes both its windows' ends
    * AND its own calendar end (after which no event can flip `seen` or
    * land in a window; within-watermark disorder is therefore handled
    * by construction). State is bounded by the number of days inside
    * the watermark+window horizon per key, independent of stream
    * length; event-time timeout fires pending emissions when a key
    * goes quiet (re-registered on every update — GroupState timeouts
    * do not persist).
    */
  def diurnalPredictedStream(spark: SparkSession,
                             events: Dataset[DiurnalEvent],
                             occ: Map[Long, (Double, Double)],
                             halfWindowHours: Int = 8,
                             watermarkDelay: String = "1 day")
      : Dataset[DiurnalPickOut] = {
    import spark.implicits._
    // day truncation here is fixed-24h UTC arithmetic (floorMod of
    // epoch micros); the batch twin truncates in the SESSION timezone
    // (date_trunc) — under any non-UTC session the two would silently
    // disagree on every window anchor. The library pins UTC
    // (GraftSession; the oracles and parquet encodings assume it), so
    // fail loud instead of drifting quiet.
    val tz = spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID)
    require(tz == "UTC" || tz == "Etc/UTC" || tz == "Z",
      s"diurnalPredictedStream requires a UTC session timezone for batch " +
        s"parity (date_trunc vs epoch-day arithmetic); got '$tz'")
    // validate the prefit calibration like the timezone: a NaN/infinite
    // occurrence hour would make floor(NaN * 3600e6).toLong evaluate to
    // 0 — a degenerate [dayUs, dayUs] window and silently wrong picks —
    // whereas the batch twin's null/NaN occ yields null predicates (no
    // picks). predictedOccurrences CAN surface NaN when calibration
    // extrema times are null, so fail loud here (review finding r12).
    occ.foreach { case (k, (mn, mx)) =>
      // [0, 24] inclusive: predictedOccurrences is a mean of per-day
      // hours each rounded to the nearest hour, so 24.0 is reachable
      // (a 23.5+ occurrence rounds up). NaN fails every comparison.
      require(mn >= 0.0 && mn <= 24.0 && mx >= 0.0 && mx <= 24.0,
        s"diurnalPredictedStream: calibration for key $k has non-finite " +
          s"or out-of-range occurrence hours ($mn, $mx); expected [0, 24]. " +
          s"Drop uncalibratable keys before handing in the map — the batch " +
          s"twin's null predicates emit no picks for them.")
    }
    val dayLenUs = 86400000000L
    val halfH = halfWindowHours.toDouble
    def boundsOf(dayUs: Long, occH: Double): (Long, Long) = (
      dayUs + math.floor((occH - halfH) * 3600e6).toLong,
      dayUs + math.floor((occH + halfH) * 3600e6).toLong)
    def closeUs(dayUs: Long, kOcc: (Double, Double)): Long = {
      val (_, minHi) = boundsOf(dayUs, kOcc._1)
      val (_, maxHi) = boundsOf(dayUs, kOcc._2)
      math.max(math.max(minHi, maxHi), dayUs + dayLenUs - 1L)
    }
    events
      .filter(e => occ.contains(e.key))
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[DiurnalPredState, DiurnalPickOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, batch, state: GroupState[DiurnalPredState]) =>
          val kOcc = occ(key)
          var days = state.getOption.map(_.days).getOrElse(Seq.empty)
            .map(d => d.dayUs -> d).toMap
          batch.foreach { e =>
            val us = micros(e.ts)
            val oday = us - java.lang.Math.floorMod(us, dayLenUs)
            Seq(oday - dayLenUs, oday, oday + dayLenUs).foreach { dayUs =>
              val (minLo, minHi) = boundsOf(dayUs, kOcc._1)
              val (maxLo, maxHi) = boundsOf(dayUs, kOcc._2)
              val inMin = us >= minLo && us <= minHi
              val inMax = us >= maxLo && us <= maxHi
              val isOwn = dayUs == oday
              if (inMin || inMax || isOwn) {
                val d0 = days.getOrElse(dayUs,
                  DiurnalDayState(dayUs, seen = false, None, None, None, None))
                // comparisons via Double.compare = Spark's double sort
                // order (NaN greater than everything), so the fold is
                // arrival-order-independent and batch-identical even on
                // NaN observations (primitive <,> are both false vs NaN
                // — an order-dependent pick, review finding)
                def cmp(a: Double, b: Double) = java.lang.Double.compare(a, b)
                val d1 =
                  if (inMin && (d0.minV.isEmpty || cmp(e.value, d0.minV.get) < 0 ||
                      (cmp(e.value, d0.minV.get) == 0 && us < d0.minT.get)))
                    d0.copy(minV = Some(e.value), minT = Some(us))
                  else d0
                val d2 =
                  if (inMax && (d1.maxV.isEmpty || cmp(e.value, d1.maxV.get) > 0 ||
                      (cmp(e.value, d1.maxV.get) == 0 && us < d1.maxT.get)))
                    d1.copy(maxV = Some(e.value), maxT = Some(us))
                  else d1
                days = days.updated(dayUs, d2.copy(seen = d2.seen || isOwn))
              }
            }
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closed, open) = days.values.toSeq.sortBy(_.dayUs)
            .partition(d => closeUs(d.dayUs, kOcc) < wmUs)
          // batch parity: extremaPredicted drops a day whose two picks
          // INVERT (min_val > max_val with both present) — a window
          // placement the calibration's prediction contradicts.
          // Double.compare again: SQL's `>` treats NaN as greater than
          // every double, primitive `>` as incomparable
          val out = closed
            .filter(d => d.seen && !(d.minV.isDefined && d.maxV.isDefined &&
              java.lang.Double.compare(d.minV.get, d.maxV.get) > 0))
            .map { d =>
              DiurnalPickOut(key, tsFromMicros(d.dayUs),
                d.minV, d.minT.map(tsFromMicros),
                d.maxV, d.maxT.map(tsFromMicros))
            }
          if (open.isEmpty) state.remove()
          else {
            state.update(DiurnalPredState(open))
            // wake when the earliest open day becomes emittable (ms
            // clock; +1 so the µs close is strictly past the watermark)
            state.setTimeoutTimestamp(
              open.map(d => closeUs(d.dayUs, kOcc)).min / 1000L + 1L)
          }
          out.iterator
      }
  }

  case class GapEvent(key: Long, ts: java.sql.Timestamp)
  case class GapState(lastTsUs: Long, nObs: Long, maxGapUs: Option[Long],
                      nOver: Long, nLate: Long)
  case class GapReport(key: Long, n_obs: Long, max_gap_us: Option[Long],
                       n_gaps_over: Long, n_late: Long)

  /** Streaming twin of D4 hydro_piecewise (VERDICT r11 item 6 — the
    * live-sensor deployment the reference's field campaigns imply): a
    * pressure-transducer stream gets its dated sensor-height interval
    * assigned by a STREAM-STATIC range join against the tiny interval
    * dim, then the water-level-above-bed arithmetic is row-local. Fully
    * STATELESS: the static side is broadcast into each micro-batch
    * (BroadcastNestedLoopJoin, bounded by the handful of intervals), so
    * there is no state store, no watermark requirement, and no
    * late-data semantics to reason about — an observation computes the
    * same row whenever it arrives, and batch parity is exact BY
    * CONSTRUCTION (the join is [[graft.operators.Hydro
    * .piecewiseIntervals]] itself, one definition for both engines —
    * the dfCapStream/boilerplateShingles sharing rule). Observations
    * outside every interval are dropped (inner join), identical to
    * batch.
    *
    * `valueToWlb`: sensor reading -> water level above bed given the
    * row's interval height (the hydrotools.py:410-446 piz_hgt blocks) —
    * passed as a column function so deployments state their own
    * calibration; see HydroQueries.hydroPiecewise for the shipped one.
    */
  def hydroPiecewiseStream(spark: SparkSession, events: DataFrame,
                           tsCol: String,
                           intervals: Seq[(String, String, Double)],
                           heightCol: String,
                           valCol: String,
                           valueToWlb: (org.apache.spark.sql.Column,
                             org.apache.spark.sql.Column) =>
                             org.apache.spark.sql.Column): DataFrame =
    graft.operators.Hydro.piecewiseIntervals(spark, events, tsCol,
        intervals, heightCol)
      .withColumn("wlb", valueToWlb(col(valCol), col(heightCol)))

  /** Streaming twin of [[graft.operators.TimeSeriesOps.gapReport]]
    * (A13 `ts_gaps` — VERDICT r10 item 3): the per-key sampling-gap
    * audit as a live monitor. Per-key state is O(1) — last observed
    * event time plus the running (n_obs, max_gap, n_gaps_over)
    * report — updated in MICROSECONDS (`Timestamp.getTime * 1000 +
    * sub-ms nanos`), the batch operator's unit, so batch and stream
    * state the same gaps bit-for-bit (the stepDetectStream ms-vs-µs
    * drift reviewed in r10 is designed out here, not documented
    * around). Update mode: each trigger emits the refreshed report
    * for every key that saw data.
    *
    * Disorder contract: events are folded in event-time order WITHIN
    * each trigger; an event arriving in a LATER trigger with a
    * timestamp behind the key's frontier cannot retroactively split
    * an already-stated gap (no retraction in Update mode), so it
    * counts into `n_obs` and the explicit `n_late` column and touches
    * no gap statistic — the audit states its own blind spot instead
    * of silently mis-stating gaps. For in-order feeds (n_late = 0)
    * the stream report equals the batch gapReport exactly
    * (spec-pinned). State for idle keys is dropped after `stateTtl`
    * past the watermark when set (the latestStateStream
    * unbounded-key-churn lesson); with no TTL, state is one small row
    * per key forever — bound it on churn-heavy key spaces.
    *
    * TTL-MODE CAVEAT (review finding, spec-pinned): enabling the TTL
    * switches the operator to EventTimeTimeout, and Spark then drops
    * input rows older than the watermark BEFORE they reach the fold —
    * so in TTL mode `n_obs`/`n_late` count only within-watermark
    * disorder, while the no-TTL mode folds every arrival however late.
    * Pick per deployment: complete late accounting (no TTL) or bounded
    * state under key churn (TTL) — not both; the engine's late filter
    * is tied to the timeout mode.
    */
  def gapReportStream(spark: SparkSession, events: Dataset[GapEvent],
                      thresholdSec: Long,
                      watermarkDelay: String = "10 minutes",
                      stateTtlMillis: Option[Long] = None)
      : Dataset[GapReport] = {
    import spark.implicits._
    // construction-time contract (ADVICE r11): a non-positive TTL
    // makes setTimeoutTimestamp throw MID-STREAM once the computed
    // timeout falls at/behind the current watermark — fail here (the
    // require alone guarantees watermark+ttl > watermark at runtime)
    require(stateTtlMillis.forall(_ > 0),
      s"stateTtlMillis must be positive when set, got $stateTtlMillis")
    val thrUs = thresholdSec * 1000000L
    val timeoutConf =
      if (stateTtlMillis.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[GapState, GapReport](
        OutputMode.Update(), timeoutConf) {
        (key, batch, state: GroupState[GapState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = batch.map(e => micros(e.ts)).toSeq.sorted
            val st = sorted.foldLeft(state.getOption.getOrElse(
              GapState(Long.MinValue, 0L, None, 0L, 0L))) { (s, tsUs) =>
              if (s.nObs == 0L)
                GapState(tsUs, 1L, None, 0L, 0L)
              else if (tsUs >= s.lastTsUs) {
                val gap = tsUs - s.lastTsUs
                GapState(tsUs, s.nObs + 1,
                  Some(s.maxGapUs.fold(gap)(math.max(_, gap))),
                  s.nOver + (if (gap > thrUs) 1L else 0L), s.nLate)
              } else
                s.copy(nObs = s.nObs + 1, nLate = s.nLate + 1)
            }
            state.update(st)
            stateTtlMillis.foreach(ttl => state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + ttl,
                st.lastTsUs / 1000L + ttl)))
            Iterator.single(
              GapReport(key, st.nObs, st.maxGapUs, st.nOver, st.nLate))
          }
      }
  }

  /** Streaming twin of [[graft.operators.TimeSeriesOps.stepDetect]]:
    * the two-sample step statistic needs the FUTURE window [t, t+w), so
    * an event's step can only be stated once the watermark passes
    * `t + w` — the same buffered-fold-at-the-watermark shape as
    * [[funnelStream]]. Per-key state holds the events inside the
    * active 2w horizon; each trigger emits every buffered event whose
    * forward window closed (scanning the buffer for both window sums),
    * then prunes events older than `watermark − 2w` (nothing pending
    * can still reference them). Within-horizon disorder is handled by
    * construction — emission happens only when the full window is
    * below the watermark, and any future arrival has `ts >= watermark
    * >= t + w`, i.e. outside every emitted window, so emitted values
    * are FINAL (append mode is sound). State is bounded by 2w of
    * events per key, independent of stream length; per-trigger work is
    * O(|buffer| × emitted) per key — the streaming analogue of the
    * batch operator's per-key frame work. Event-time timeout fires the
    * pending emissions when a key goes quiet. Buffering and windowing
    * run in MICROSECONDS (the batch stepDetect unit — sub-ms inputs
    * window identically in both, r10 ADVICE); only the GroupState
    * timeout clock is ms, which delays at most the WAKE-UP, never the
    * window arithmetic. Sides with fewer than `minPeriods`
    * observations emit a None step, matching batch.
    */
  def stepDetectStream(spark: SparkSession, events: Dataset[StepEvent],
                       windowMillis: Long, minPeriods: Int = 3,
                       watermarkDelay: String = "1 hour")
      : Dataset[StepOut] = {
    require(windowMillis > 0, "window must be positive")
    import spark.implicits._
    // all buffer/window arithmetic in MICROSECONDS (the batch
    // stepDetect unit — ADVICE r10: buffering at ms resolution
    // silently broke parity for sub-ms inputs); only the GroupState
    // timeout clock stays in ms, with emission-safety stated against
    // the ms watermark's µs lower bound (wm*1000)
    val windowUs = windowMillis * 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[StepState, StepOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, batch, state: GroupState[StepState]) =>
          val prev = state.getOption.getOrElse(StepState(Nil, Long.MinValue))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val buf = (prev.buffer ++
            batch.map(e => (micros(e.ts), e.value))).sortBy(_._1)
          val (ripe, pending) = buf.partition { case (t, _) =>
            t + windowUs <= wmUs && t > prev.emittedThrough
          }
          val emits = ripe.map { case (t, _) =>
            val before = buf.filter(e => e._1 >= t - windowUs && e._1 < t)
            val after = buf.filter(e => e._1 >= t && e._1 < t + windowUs)
            val step =
              if (before.size >= minPeriods && after.size >= minPeriods)
                Some(after.map(_._2).sum / after.size -
                  before.map(_._2).sum / before.size)
              else None
            StepOut(key, tsFromMicros(t), step)
          }
          // emitted events stay buffered while a pending event's window
          // can still reach them (ts > wm − 2w); emittedThrough stops
          // them from re-emitting
          val emittedThrough =
            if (ripe.nonEmpty) math.max(prev.emittedThrough, ripe.map(_._1).max)
            else prev.emittedThrough
          val keep = buf.filter(_._1 > wmUs - 2 * windowUs)
          val stillPending = pending.filter(_._1 > emittedThrough)
          if (keep.isEmpty) state.remove()
          else {
            state.update(StepState(keep, emittedThrough))
            // ALWAYS register a timeout: pending events wake the key at
            // the earliest emission point; a key with nothing pending
            // still needs one final wake-up to prune its buffer once
            // the horizon passes — GroupState timeouts don't persist
            // across invocations, so a quiet key would otherwise hold
            // its 2w buffer in the state store forever (review-pass
            // finding: unbounded state with key churn). Wake times are
            // µs rounded UP to the ms timeout clock.
            val wakeUs =
              if (stillPending.nonEmpty) stillPending.map(_._1).min + windowUs
              else keep.map(_._1).max + 2 * windowUs
            state.setTimeoutTimestamp(
              math.max(math.floorDiv(wakeUs + 999L, 1000L),
                state.getCurrentWatermarkMs() + 1))
          }
          emits.iterator
      }
  }

  case class AsofEvent(key: Long, ts: java.sql.Timestamp, side: Int,
                       value: Double)
  case class AsofState(rightUs: Long, rightVal: Double)
  case class AsofOut(key: Long, ts: java.sql.Timestamp, value: Double,
                     right_value: Option[Double])

  /** Streaming twin of asofJoinBackward (SURVEY §8 #2): a stateful
    * union of both sides keyed by series — right events (side=1) update
    * O(1) per-key state (latest right ts/value), left events (side=0)
    * emit with the latest right value at-or-before them. Within a
    * micro-batch events process in microsecond timestamp order (right
    * before left on ties, matching the batch operator's inclusive
    * as-of); right events sharing (key, ts) keep the LARGEST value, the
    * batch operator's tie, whatever their arrival order or micro-batch.
    * Disorder ACROSS batches is bounded by the source's watermark, the
    * same contract as any event-time streaming join. State never grows
    * with data volume — one (ts, value) pair per key. A null timestamp
    * matches nothing, the batch operator's rule.
    *
    * Checkpoint note: [[AsofState]] holds microseconds (`rightUs`); it
    * held milliseconds before, so restart a query checkpointed by an
    * older build from a fresh checkpoint.
    */
  def asofJoinBackwardStream(spark: SparkSession, events: Dataset[AsofEvent])
      : Dataset[AsofOut] = {
    import spark.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, batch, state: GroupState[AsofState]) =>
          val (timed, untimed) = batch.toSeq.partition(_.ts != null)
          val out = Seq.newBuilder[AsofOut]
          // a null timestamp matches nothing: such a right event leaves
          // the state alone and such a left event gets no right value
          untimed.filter(_.side == 0)
            .foreach(e => out += AsofOut(key, e.ts, e.value, None))
          var cur = state.getOption
          timed.sortBy(e => (micros(e.ts), -e.side)).foreach { e =>
            val us = micros(e.ts)
            if (e.side == 1) {
              if (cur.forall(s => s.rightUs < us ||
                  s.rightUs == us && java.lang.Double.compare(s.rightVal, e.value) <= 0))
                cur = Some(AsofState(us, e.value))
            } else {
              val rv = cur.collect { case s if s.rightUs <= us => s.rightVal }
              out += AsofOut(key, e.ts, e.value, rv)
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, end: Long, n: Long, total: Double)
  case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
                         event_id: Long, event_type: String)
  case class FunnelState(stepTimes: Seq[Option[Long]],
                         pending: Seq[(Long, Long, String)],
                         lastSeen: Long = Long.MinValue)
  case class FunnelStepOut(user_id: Long, step: Int, event_type: String,
                           step_ts: java.sql.Timestamp)

  /** Streaming twin of [[graft.operators.Funnel.orderedFunnel]]: emits
    * one row per (user, step) the first time the user completes that
    * funnel step — step i counts when an event of `steps(i)`'s type
    * occurs STRICTLY after the user's earliest completion of step i−1
    * (same strict-< chain as the batch window formulation; per-step
    * user counts over this output equal the batch `users` column).
    *
    * Out-of-order safety: events are BUFFERED in per-user state and
    * folded into the step chain only once the watermark passes them,
    * in (ts, event_id) order — so any disorder inside the watermark
    * horizon cannot mis-order the chain, and anything later is dropped
    * by the watermark like every other keyed-state operator here. An
    * event-time timeout drains a user's buffer when no new events
    * arrive for them. State is the k step timestamps plus only the
    * not-yet-ripe events — bounded by the user's event rate times the
    * watermark horizon PER KEY, but the batch funnel has no horizon
    * across keys (a purchase long after its view still converts), so
    * by default a chain record persists per user EVER seen — measured
    * in SCALING.md "r13: streaming state under soak": peak state rows
    * == distinct users, unbounded in users.
    *
    * `stateTtlMillis` is the production valve for that: a gap of at
    * least the TTL between consecutive folded STEP events resets the
    * user's chain, judged in EVENT time as events fold — so restarts
    * are deterministic under any micro-batch chunking or arrival
    * timing (spec-pinned: the same-batch and cross-batch deliveries of
    * a cross-gap conversion agree) — and the state row of a dead chain
    * is garbage-collected at the watermark. Idle means no STEP-type
    * events: traffic outside `steps` never keeps a chain alive (the
    * funnel's clock is its own events, not unrelated activity). Two
    * contracts, like [[gapReportStream]]'s TTL (spec-pinned both
    * ways): WITHOUT a TTL every step is emitted exactly once per user;
    * WITH a TTL a user re-appearing after expiry RESTARTS their
    * funnel — earlier steps can re-emit, and conversions spanning a
    * gap longer than the TTL are not counted. Choose a TTL ≥ the
    * longest conversion window the analysis cares about; state then
    * holds only users active inside it.
    *
    * Checkpoint note: r13 widened [[FunnelState]] (the `lastSeen`
    * field), so a query restarted from a pre-r13 checkpoint fails
    * state-schema validation rather than silently misreading rows —
    * restart such queries from a fresh checkpoint.
    */
  def funnelStream(spark: SparkSession, events: Dataset[FunnelEvent],
                   steps: Seq[String], watermarkDelay: String = "1 hour",
                   stateTtlMillis: Option[Long] = None)
      : Dataset[FunnelStepOut] = {
    require(steps.nonEmpty, "steps must be non-empty")
    require(stateTtlMillis.forall(_ > 0), "stateTtlMillis must be positive")
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    events
      .withWatermark("ts", watermarkDelay)
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelStepOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId, batch, state: GroupState[FunnelState]) =>
          val prev = state.getOption
            .getOrElse(FunnelState(Seq.fill(steps.size)(None), Nil))
          val incoming = batch
            .filter(e => stepIdx.contains(e.event_type))
            .map(e => (e.ts.getTime, e.event_id, e.event_type)).toSeq
          val wm = state.getCurrentWatermarkMs()
          val (ripe, hold) = (prev.pending ++ incoming).partition(_._1 <= wm)
          val times = prev.stepTimes.toArray
          val emits = Seq.newBuilder[FunnelStepOut]
          // lastSeen = ts of the last FOLDED step event. TTL restarts
          // are decided HERE, in event time, as events fold — a gap
          // >= ttl between consecutive folded step events resets the
          // chain — so the restart semantics are deterministic under
          // any micro-batch chunking (a review finding: judging expiry
          // only at timeout invocations made a cross-gap conversion
          // depend on whether the late step arrived before or after
          // the timeout fired). The timeout/expiry path below merely
          // GARBAGE-COLLECTS the state row of an already-dead chain.
          var lastSeen = prev.lastSeen
          ripe.sortBy(e => (e._1, e._2)).foreach { case (t, _, typ) =>
            stateTtlMillis.foreach { ttl =>
              if (lastSeen != Long.MinValue && t - lastSeen >= ttl)
                times.indices.foreach(times(_) = None)
            }
            // Clamp: a below-watermark arrival folded here (Spark's
            // late-row drop is an engine behavior, not a contract we
            // rely on) must not move lastSeen BACKWARDS — that would
            // let the next on-time event measure its TTL gap against
            // the stale late ts and spuriously reset a live chain,
            // and it would break the GC argument below, which needs
            // lastSeen == max folded ts.
            lastSeen = math.max(lastSeen, t)
            val i = stepIdx(typ)
            val qualifies = i == 0 || times(i - 1).exists(_ < t)
            if (qualifies && times(i).forall(t < _)) {
              times(i) = Some(t)
              emits += FunnelStepOut(userId, i + 1, typ,
                new java.sql.Timestamp(t))
            }
          }
          // state-row GC: the chain is already unreachable (any future
          // fold-able event has ts >= wm >= lastSeen + ttl and would
          // reset before folding), so dropping the row cannot change
          // output — it only bounds the store
          val expired = stateTtlMillis.exists(ttl =>
            hold.isEmpty && lastSeen != Long.MinValue && wm - lastSeen >= ttl)
          if ((hold.isEmpty && times.forall(_.isEmpty)) || expired) state.remove()
          else {
            state.update(FunnelState(times.toSeq, hold, lastSeen))
            if (hold.nonEmpty)
              state.setTimeoutTimestamp(math.max(hold.map(_._1).min, wm + 1))
            else stateTtlMillis.foreach(ttl =>
              // wake exactly at expiry; without this registration a
              // quiet user's chain would hold its state-store row
              // forever (timeouts do not persist across invocations)
              state.setTimeoutTimestamp(math.max(lastSeen + ttl, wm + 1)))
          }
          emits.result().iterator
      }
  }

  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_events: Long,
                        total_value: Double)

  /** Stateful gap-based sessionization via flatMapGroupsWithState:
    * events extend the per-user session while gaps stay under
    * `gapMillis`; a closed (or timed-out) session is emitted once.
    */
  def sessionize(spark: SparkSession, events: Dataset[SessionEvent],
                 gapMillis: Long, watermarkDelay: String = "1 hour"): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay) // required for event-time timeouts
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId, batch, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.end), s.n, s.total))
          } else {
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMillis =>
                  cur = Some(SessionState(s.start, math.max(s.end, t),
                    s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= SessionOut(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.end), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMillis)
            }
            closed.reverseIterator
          }
      }
  }
}
