package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.mix.Mix
import graft.text.TextAnalysis

/** L1-L3 — dataset-assembly (sampling / mixing / packing) over the
  * documents table. All exact integer arithmetic (Knuth multiplicative
  * hash, token-count prefix sums), so every query here carries a full
  * DuckDB oracle — reproducibility across engines is the point of
  * hash-based curation.
  */
object MixQueries extends QueryPack {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)

  /** The mixture-weight dim: sources cycle through four rates. Shared
    * verbatim (via [[ratesValuesSql]]) with the oracle so the two
    * engines can never disagree on the weights.
    */
  private val sourceRates: Seq[(String, Double)] =
    (0 until 20).map(i => (s"src$i", Seq(1.0, 0.5, 0.25, 0.1)(i % 4)))
  private def ratesValuesSql: String =
    sourceRates.map { case (s, r) => s"('$s', CAST($r AS DOUBLE))" }.mkString(", ")

  /** L1 `ds_sample` — reproducible 25% Bernoulli sample by id hash. A
    * pure row-local filter over the scan: no shuffle, no rand().
    */
  def dsSample(s: SparkSession, dir: String): DataFrame =
    Mix.sampleByHash(docs(s, dir), "doc_id", 0.25)
      .select(col("doc_id"), col("source"))

  /** L2 `ds_mix` — per-source mixture weighting: broadcast the 20-row
    * rates dim, stratified hash-Bernoulli per row.
    */
  def dsMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rates = sourceRates.toDF("source", "rate")
    Mix.mixBySourceRates(docs(s, dir), "doc_id", "source", rates)
      .select(col("doc_id"), col("source"))
  }

  /** L3 `ds_pack` — offset-based sequence packing into 512-token packs,
    * sharded by source: one window prefix-sum per shard. Fine at test
    * scale; `source` has only 20 distinct values, so at corpus scale
    * this wiring would single-thread each shard — which is exactly what
    * [[dsPackGlobal]] exists for (see the shard-granularity contract on
    * [[Mix.packSequences]]).
    */
  def dsPack(s: SparkSession, dir: String): DataFrame =
    Mix.packSequences(
        docs(s, dir).select(col("doc_id"), col("source"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_toks")),
        "source", "doc_id", "n_toks", 512)
      .select(col("doc_id"), col("source"), col("tok_offset"), col("pack_id"))

  /** L3b `ds_pack_global` — the scale-safe two-pass packing over the
    * same low-cardinality shard key: 64 hash sub-shards per source,
    * local prefix-sums, broadcast-globalized offsets. The layout order
    * is (source, subShard(id), id) — deterministic and fully oracled
    * in DuckDB because sub-sharding uses the portable Knuth hash.
    */
  def dsPackGlobal(s: SparkSession, dir: String): DataFrame =
    Mix.packSequencesScalable(
        docs(s, dir).select(col("doc_id"), col("source"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_toks")),
        "source", "doc_id", "n_toks", 512, numSubShards = 64)
      .select(col("doc_id"), col("source"), col("tok_offset"), col("pack_id"))

  /** L2b `ds_budget` — token-budget downsampling: cap every source at
    * an expected 500 tokens; the per-source rates FOLLOW from the data
    * (tiny totals aggregate, broadcast back) instead of being hand-set
    * like ds_mix's. Fully oracled: the rate is an exact int/int double
    * division in both engines.
    */
  def dsBudget(s: SparkSession, dir: String): DataFrame =
    Mix.sampleToTokenBudget(
        docs(s, dir).select(col("doc_id"), col("source"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_toks")),
        "doc_id", "source", "n_toks", 500)
      .select(col("doc_id"), col("source"))

  /** L6 `ds_funnel` — filter-funnel accounting over the standard
    * curation gates (token floor, digit-ratio cap, language), each doc
    * attributed to its first failing gate: ONE conditional-aggregation
    * scan where the naive audit re-scans per gate. Exact integer
    * counts, fully oracled.
    */
  def dsFunnel(s: SparkSession, dir: String): DataFrame =
    Mix.curationFunnel(docs(s, dir), Seq(
      "min_tokens" -> (TextAnalysis.wsTokenCount(col("text")) >= 5),
      "digit_ratio" -> (TextAnalysis.digitRatio(col("text")) <= 0.3),
      "lang_en" -> (col("lang") === "en")))

  /** L7 `ds_skew` — per-source skew diagnosis (the read before a
    * salting decision): top-10 heaviest sources with row counts and
    * corpus share. Exact counts, fully oracled.
    */
  def dsSkew(s: SparkSession, dir: String): DataFrame =
    graft.operators.Salting.skewReport(docs(s, dir), Seq("source"), topK = 10)

  /** L8 `ds_split` — reproducible 90/5/5 train/val/test split by salted
    * id hash (salt decorrelates from ds_sample's raw-id hash), verified
    * as stratified counts per (source, split). Assignment is row-local;
    * the only shuffle is the small count aggregate.
    */
  def dsSplit(s: SparkSession, dir: String): DataFrame =
    Mix.splitByHash(
        docs(s, dir).select(col("doc_id"), col("source"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_toks")),
        "doc_id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
        salt = 7919L)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).cast("long").as("n_toks"))

  /** L9 `ds_shard` — deterministic 32-way output sharding with balance
    * accounting: per-shard doc and token counts (the check before a
    * partitioned write that shards are size-balanced).
    */
  def dsShard(s: SparkSession, dir: String): DataFrame =
    Mix.shardAssign(
        docs(s, dir).select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_toks")),
        "doc_id", 32)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).cast("long").as("n_toks"))

  /** L10 `ds_interleave` — the first 200 positions of the deterministic
    * weighted-fair training order (start-time fair queuing over the
    * ds_mix weight dim). The global order is a TakeOrdered top-k —
    * never a full sort — and the position column is a row_number over
    * just the 200 surviving rows.
    */
  def dsInterleave(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val weights = sourceRates.toDF("source", "weight")
    val ordered = Mix.interleaveWeighted(
      docs(s, dir).select(col("doc_id"), col("source")),
      "doc_id", "source", weights)
    val top = ordered
      .orderBy(col("interleave_key"), col("source"), col("doc_id"))
      .limit(200)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("interleave_key"), col("source"), col("doc_id"))
    top.withColumn("pos", row_number().over(w).cast("long"))
      .select(col("pos"), col("doc_id"), col("source"), col("seq"),
        col("interleave_key"))
  }

  /** The target mixture profile for ds_reweight: shares cycle
    * 0.1/0.05/0.025/0.025 over the 20 sources (sums to exactly 1.0).
    * Shared verbatim with the oracle via [[sharesValuesSql]].
    */
  private val targetShares: Seq[(String, Double)] =
    (0 until 20).map(i => (s"src$i", Seq(0.1, 0.05, 0.025, 0.025)(i % 4)))
  private def sharesValuesSql: String =
    targetShares.map { case (s, p) => s"('$s', CAST($p AS DOUBLE))" }.mkString(", ")

  /** L11 `ds_reweight` — the sampling rates that realize the target
    * mixture at the maximum achievable total (no upsampling; the
    * binding source is used whole at rate 1.0). One tiny aggregate —
    * the corpus never shuffles on its own rows.
    */
  def dsReweight(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Mix.reweightToShares(
      docs(s, dir).select(col("source"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_toks")),
      "source", "n_toks", targetShares.toDF("source", "share"))
  }

  /** L19 `ds_epochs` — data-constrained epoch allocation (Muennighoff
    * et al. 2023): plan a 3×-corpus training run against the
    * ds_reweight target shares with a 4-epoch repetition cap. The
    * 0.1-share sources cap out (desired 0.3·T vs cap ~0.2·T) while
    * the 0.025-share sources don't — both flag values at every sf,
    * because both budget and caps scale with the corpus. Fully
    * oracled: every number is one-shot IEEE arithmetic on the 20-row
    * totals dim (r6 on the float outputs; `capped` compares the same
    * unrounded doubles on both engines — both sides of the compare
    * are products of the same exact inputs).
    */
  def dsEpochs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Mix.epochAllocationByMultiple(
        docs(s, dir).select(col("source"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_toks")),
        "source", "n_toks", targetShares.toDF("source", "share"),
        budgetMultiple = 3.0, maxEpochs = 4.0)
      .select(col("source"), col("tokens"), col("target_share"),
        r6(col("desired_tokens")).as("desired_tokens"),
        r6(col("alloc_tokens")).as("alloc_tokens"),
        r6(col("epochs")).as("epochs"), col("capped"),
        r6(col("shortfall_tokens")).as("shortfall_tokens"),
        r6(col("realized_share")).as("realized_share"))
  }

  /** L16 `ds_dsir` — DSIR importance weights (Xie et al. 2023): every
    * doc scored by hashed-bigram likelihood under the target subset
    * (doc_id % 97 == 0, the decontam benchmark convention standing in
    * for curated text) vs the raw corpus, 1024 md5-hashed buckets,
    * add-one smoothing. Fully oracled: DuckDB restates the md5 bucket
    * (`CAST('0x'||substr(md5(g),1,8) AS BIGINT) % 1024`), both model
    * fits, and the per-doc log-ratio sum; logw is r6-rounded (log ulp
    * + float-sum order are the only engine-defined parts, the
    * text_lm_score precedent).
    */
  def dsDsir(s: SparkSession, dir: String): DataFrame =
    Mix.dsirWeights(docs(s, dir), "doc_id", "text",
        isTarget = col("doc_id") % 97 === 0, numBuckets = 1024)
      .select(col("doc_id"), col("n_bigrams"), r6(col("logw")).as("logw"))

  /** L16b `ds_select` — the selection half of DSIR: Gumbel-top-k
    * importance resampling over the `ds_dsir` weights (top 50 of
    * `logw + hash-derived Gumbel noise` on the r6-rounded score grid,
    * ids as tie-break). Fully oracled: the Knuth hash, the Gumbel
    * transform, the rounding, and the (score, id) order are stated
    * identically in DuckDB, so the oracle proves the SAME 50 documents
    * get selected.
    */
  def dsSelect(s: SparkSession, dir: String): DataFrame =
    Mix.dsirResample(
        Mix.dsirWeights(docs(s, dir), "doc_id", "text",
          isTarget = col("doc_id") % 97 === 0, numBuckets = 1024),
        "doc_id", "logw", k = 50)
      .select(col("doc_id"), r6(col("logw")).as("logw"), col("score"),
        col("sample_rank"))

  /** L14 `ds_drift` — corpus-distribution drift between two dataset
    * versions: per-source Jensen-Shannon divergence (bits) of the
    * n_chars histograms of the even-id vs odd-id halves of the corpus
    * (two deterministic stand-ins for "last week's snapshot vs this
    * week's"). Exact integer histograms on both sides; per-term
    * arithmetic stated identically in the oracle; the divergence is
    * r6-rounded (float-sum order over histogram rows is the only
    * engine-defined part). Two random halves of the same corpus have
    * near-identical distributions, so the healthy reading is near 0 —
    * that closeness is the monitoring signal's zero point.
    */
  def dsDrift(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Mix.histogramDivergence(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        "source", "n_chars")
      .select(col("source"), r6(col("js_divergence")).as("js_divergence"),
        col("n_a"), col("n_b"))
  }

  /** L12 `ds_stats` — the per-source corpus report (the monitoring read
    * after a curation run): doc counts, token totals, mean, min/max,
    * and the EXACT lower median from the token-count histogram — exact
    * and still scale-safe because the quantile works on one row per
    * (source, distinct length), never a per-source sort of the corpus.
    */
  def dsStats(s: SparkSession, dir: String): DataFrame =
    Mix.sourceReport(
      docs(s, dir).select(col("source"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_toks")),
      "source", "n_toks")

  /** L13 `ds_quality_floor` — adaptive per-source length flooring: drop
    * every doc below its source's exact lower-quartile token count.
    * The threshold is integer-exact (histogram + `cum*4 >= tot`
    * rational reach test — no float percentile definition), so the
    * whole gate is fully oracled.
    */
  def dsQualityFloor(s: SparkSession, dir: String): DataFrame =
    Mix.floorByLengthQuantile(
        docs(s, dir).select(col("doc_id"), col("source"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_toks")),
        "source", "n_toks", qNum = 1, qDen = 4)
      .select(col("doc_id"), col("source"), col("n_toks"))

  /** I7 `text_chunk` — context-window chunking: 64-token windows with
    * stride 48 (16-token overlap) over whitespace tokens. Row-local
    * explode; chunk text compared verbatim against the oracle's list
    * slicing.
    */
  def textChunk(s: SparkSession, dir: String): DataFrame =
    Mix.chunkByTokens(docs(s, dir), "doc_id", "text",
      chunkTokens = 64, stride = 48)

  /** L15 `ds_stratified` — exact-k deterministic stratified sample:
    * for each source, the k=10 docs with the smallest id hash (the
    * "eyeball sample" every curation run ships next to its corpus
    * report — same k from every source regardless of source size, and
    * the SAME k docs on every re-run because membership is hash-order,
    * not rand()). Scale shape: the `rank <= k` filter over the
    * per-source row_number turns into a WindowGroupLimit — each map
    * task keeps only its local top-k per source BEFORE the single
    * hash exchange, so the shuffle carries ~k rows per (task, source),
    * never the corpus. Fully oracled: the Knuth hash and the (hash,
    * doc_id) tie-break are exact integer arithmetic in both engines.
    */
  def dsStratified(s: SparkSession, dir: String): DataFrame =
    Mix.stratifiedHashSample(
        docs(s, dir).select(col("source"), col("doc_id")), "source",
        "doc_id", k = 10)
      .select(col("source"), col("sample_rank"), col("doc_id"))

  /** L17 `ds_ppl_buckets` — CCNet head/middle/tail perplexity
    * bucketing ([[Mix.pplBuckets]]): every scorable doc labeled by
    * which per-source tercile of the `text_lm_score` perplexity it
    * falls in (head = most fluent third). Cutpoints are exact lower
    * quantiles — integer reach arithmetic on the r6-rounded ppl grid —
    * so the oracle restates the whole chain (LM fit, ppl, histogram
    * cutpoints, comparison) and proves the SAME label per document.
    */
  def dsPplBuckets(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val scored = TextAnalysis.lmScore(d, "doc_id", "text")
      .select(col("doc_id"), r6(col("ppl")).as("ppl"))
      .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
    Mix.pplBuckets(scored, "source", "ppl")
      .select(col("doc_id"), col("source"), col("ppl"), col("bucket"))
  }

  /** L18 `ds_winsorize` — per-source winsorization of `n_chars` at the
    * exact [p05, p95] histogram-quantile band ([[Mix.winsorize]]):
    * outliers keep their rows but are clipped to the band, with the
    * clip direction per row. The oracle restates the cutpoint reach
    * arithmetic and the comparison chain.
    */
  def dsWinsorize(s: SparkSession, dir: String): DataFrame =
    Mix.winsorize(
      docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
      "source", "n_chars", 1, 20, 19, 20)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("clipped"), col("clip_tag"))

  /** L20 `ds_pipeline` — the END-TO-END curation funnel as one plan
    * ([[Mix.curationPipeline]]): quality gate → exact dedup keep-one →
    * eval-set decontamination (bench = the `doc_id % 97` slice, the
    * dedup_decontam convention) → hash-Bernoulli 50% sample →
    * 2000-token per-source budget → 512-token offset packing, reported
    * as per-source funnel accounting with the pack layout pinned by
    * `sum_tok_offset`/`n_packs`. Every stage is individually oracled
    * elsewhere (ds_funnel, dedup_exact, dedup_decontam, ds_sample,
    * ds_budget, ds_pack); THIS entry exists to measure exchange reuse
    * across the chained stages — one scan, two exchanges — which is
    * what a 100 TB pipeline pays for, not six standalone jobs. Fully
    * oracled: the DuckDB restatement chains the same six stage
    * formulations over one CTE pipeline.
    */
  def dsPipeline(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Mix.curationPipeline(d, "doc_id", "source", "text",
      d.filter(col("doc_id") % 97 === 0), "text")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ds_pipeline" -> dsPipeline,
    "ds_winsorize" -> dsWinsorize,
    "ds_ppl_buckets" -> dsPplBuckets,
    "ds_dsir" -> dsDsir,
    "ds_epochs" -> dsEpochs,
    "ds_select" -> dsSelect,
    "ds_stratified" -> dsStratified,
    "ds_stats" -> dsStats,
    "ds_drift" -> dsDrift,
    "ds_quality_floor" -> dsQualityFloor,
    "ds_skew" -> dsSkew,
    "ds_reweight" -> dsReweight,
    "ds_split" -> dsSplit,
    "ds_shard" -> dsShard,
    "ds_interleave" -> dsInterleave,
    "text_chunk" -> textChunk,
    "ds_funnel" -> dsFunnel,
    "ds_sample" -> dsSample,
    "ds_mix" -> dsMix,
    "ds_budget" -> dsBudget,
    "ds_pack" -> dsPack,
    "ds_pack_global" -> dsPackGlobal)

  // hashU32Sql lives in QueryPack (shared with SimilarityQueries).
  private def hashUSql(idExpr: String): String =
    s"(${hashU32Sql(idExpr)}) / 4294967296.0"

  val oracles: Map[String, String] = Map(
    // histogramQuantiles reach arithmetic for the per-source p05/p95
    // cutpoints, then the identical clip + tag comparison chain
    "ds_winsorize" ->
      """WITH t AS (SELECT doc_id, source, n_chars FROM documents),
        |h AS (SELECT source, n_chars, count(*) AS n FROM t
        |  WHERE n_chars IS NOT NULL GROUP BY source, n_chars),
        |c AS (SELECT source, n_chars,
        |    sum(n) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
        |    sum(n) OVER (PARTITION BY source) AS tot FROM h),
        |q AS (SELECT source,
        |    min(CASE WHEN cum * 20 >= tot * 1 THEN n_chars END) AS lo,
        |    min(CASE WHEN cum * 20 >= tot * 19 THEN n_chars END) AS hi
        |  FROM c GROUP BY source)
        |SELECT t.doc_id, t.source, t.n_chars,
        |  CASE WHEN t.n_chars IS NULL THEN NULL
        |       ELSE least(greatest(t.n_chars, q.lo), q.hi) END AS clipped,
        |  CASE WHEN t.n_chars IS NULL OR q.lo IS NULL THEN NULL
        |       WHEN t.n_chars < q.lo THEN 'low'
        |       WHEN t.n_chars > q.hi THEN 'high'
        |       ELSE 'in_range' END AS clip_tag
        |FROM t LEFT JOIN q USING (source)""".stripMargin,
    // the text_lm_score CTE chain for the rounded ppl, then the
    // histogramQuantiles integer reach arithmetic for the per-source
    // tercile cutpoints and the identical comparison chain: the label
    // is decided on the shared r6 grid, so both engines state the
    // same bucket per doc
    "ds_ppl_buckets" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
        |grams AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> {'w1': w[i], 'w2': w[i + 1]})) AS g FROM toks)),
        |uni AS (SELECT w1, count(*) AS c1
        |  FROM (SELECT unnest(w) AS w1 FROM toks) GROUP BY w1),
        |vocab AS (SELECT count(*) AS v FROM uni),
        |big AS (SELECT w1, w2, count(*) AS c2 FROM grams GROUP BY w1, w2),
        |lp AS (SELECT g.doc_id AS doc_id,
        |    ln((b.c2 + 1.0) / (u.c1 + vocab.v)) AS logp
        |  FROM grams g
        |  JOIN big b ON g.w1 = b.w1 AND g.w2 = b.w2
        |  JOIN uni u ON g.w1 = u.w1, vocab),
        |ppl AS (SELECT doc_id,
        |    floor(exp(-sum(logp) / count(*)) * 1000000 + 0.5001) / 1000000
        |      AS ppl
        |  FROM lp GROUP BY doc_id),
        |sdoc AS (SELECT p.doc_id, d.source, p.ppl
        |  FROM ppl p JOIN documents d USING (doc_id)),
        |h AS (SELECT source, ppl, count(*) AS n FROM sdoc
        |  GROUP BY source, ppl),
        |c AS (SELECT source, ppl,
        |    sum(n) OVER (PARTITION BY source ORDER BY ppl) AS cum,
        |    sum(n) OVER (PARTITION BY source) AS tot FROM h),
        |q AS (SELECT source,
        |    min(CASE WHEN cum * 3 >= tot * 1 THEN ppl END) AS c1,
        |    min(CASE WHEN cum * 3 >= tot * 2 THEN ppl END) AS c2
        |  FROM c GROUP BY source)
        |SELECT s.doc_id, s.source, s.ppl,
        |  CASE WHEN s.ppl <= q.c1 THEN 'head'
        |       WHEN s.ppl <= q.c2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sdoc s JOIN q USING (source)""".stripMargin,
    // identical md5 bucketing, model counts, and smoothing; ln ulp +
    // float-sum order are the only engine-defined parts -> r6 on logw
    "ds_dsir" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, doc_id % 97 = 0 AS tgt,
        |    unnest(list_transform(range(1, len(ws)),
        |      i -> CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), 1, 8))
        |             AS BIGINT) % 1024)) AS bucket
        |  FROM t WHERE len(ws) >= 2),
        |m AS (SELECT bucket, count(*) AS cq,
        |    count(CASE WHEN tgt THEN 1 END) AS cp
        |  FROM g GROUP BY bucket),
        |tot AS (SELECT count(*) AS nq,
        |    count(CASE WHEN tgt THEN 1 END) AS np FROM g),
        |r AS (SELECT bucket,
        |    ln((cp + 1.0) / (np + 1024)) - ln((cq + 1.0) / (nq + 1024)) AS lr
        |  FROM m CROSS JOIN tot)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  floor(sum(lr) * 1000000 + 0.5001) / 1000000 AS logw
        |FROM g JOIN r USING (bucket)
        |GROUP BY g.doc_id""".stripMargin,
    // the ds_dsir CTE chain + the Knuth-hash Gumbel noise and the
    // shared rounding formula; selection is on the rounded grid so
    // both engines state the identical 50 docs
    "ds_select" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents WHERE text IS NOT NULL),
         |g AS (SELECT doc_id, doc_id % 97 = 0 AS tgt,
         |    unnest(list_transform(range(1, len(ws)),
         |      i -> CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), 1, 8))
         |             AS BIGINT) % 1024)) AS bucket
         |  FROM t WHERE len(ws) >= 2),
         |m AS (SELECT bucket, count(*) AS cq,
         |    count(CASE WHEN tgt THEN 1 END) AS cp
         |  FROM g GROUP BY bucket),
         |tot AS (SELECT count(*) AS nq,
         |    count(CASE WHEN tgt THEN 1 END) AS np FROM g),
         |r AS (SELECT bucket,
         |    ln((cp + 1.0) / (np + 1024)) - ln((cq + 1.0) / (nq + 1024)) AS lr
         |  FROM m CROSS JOIN tot),
         |w AS (SELECT g.doc_id, sum(lr) AS logw
         |  FROM g JOIN r USING (bucket) GROUP BY g.doc_id),
         |sc AS (SELECT doc_id, logw,
         |    floor((logw - ln(-ln((${hashU32Sql("doc_id")} + 0.5)
         |      / 4294967296.0))) * 1000000 + 0.5001) / 1000000 AS score
         |  FROM w)
         |SELECT doc_id,
         |  floor(logw * 1000000 + 0.5001) / 1000000 AS logw, score,
         |  CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
         |    AS BIGINT) AS sample_rank
         |FROM sc
         |ORDER BY score DESC, doc_id ASC
         |LIMIT 50""".stripMargin,
    // same Knuth hash, same (hash, doc_id) tie-break — all integer
    "ds_stratified" ->
      s"""WITH t AS (SELECT source, doc_id, ${hashU32Sql("doc_id")} AS h
         |  FROM documents),
         |r AS (SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
         |      AS sample_rank
         |  FROM t)
         |SELECT source, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id
         |FROM r WHERE sample_rank <= 10""".stripMargin,
    // identical per-term arithmetic; only the float SUM order over
    // histogram rows is engine-defined -> r6 on the divergence
    "ds_drift" ->
      """WITH a AS (SELECT source, n_chars AS v, count(*) AS ca
        |  FROM documents WHERE doc_id % 2 = 0 GROUP BY source, n_chars),
        |b AS (SELECT source, n_chars AS v, count(*) AS cb
        |  FROM documents WHERE doc_id % 2 = 1 GROUP BY source, n_chars),
        |j AS (SELECT coalesce(a.source, b.source) AS source,
        |    coalesce(a.v, b.v) AS v,
        |    coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |  FROM a FULL OUTER JOIN b ON a.source = b.source AND a.v = b.v),
        |w AS (SELECT source, ca, cb,
        |    sum(ca) OVER (PARTITION BY source) AS na,
        |    sum(cb) OVER (PARTITION BY source) AS nb
        |  FROM j),
        |t AS (SELECT source, na, nb,
        |    CASE WHEN na > 0
        |      THEN CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) ELSE 0.0 END AS p,
        |    CASE WHEN nb > 0
        |      THEN CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) ELSE 0.0 END AS q
        |  FROM w)
        |SELECT source,
        |  floor((sum(0.5 * (
        |    CASE WHEN p > 0 THEN p * log2(2.0 * p / (p + q)) ELSE 0.0 END +
        |    CASE WHEN q > 0 THEN q * log2(2.0 * q / (p + q)) ELSE 0.0 END)))
        |    * 1000000 + 0.5001) / 1000000 AS js_divergence,
        |  CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b
        |FROM t GROUP BY source""".stripMargin,
    "ds_stats" ->
      """WITH t AS (SELECT source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks
        |  FROM documents),
        |a AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |    min(n_toks) AS min_tokens, max(n_toks) AS max_tokens
        |  FROM t GROUP BY source),
        |h AS (SELECT source, n_toks, count(*) AS n FROM t GROUP BY source, n_toks),
        |c AS (SELECT source, n_toks,
        |    sum(n) OVER (PARTITION BY source ORDER BY n_toks
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(n) OVER (PARTITION BY source) AS tot
        |  FROM h),
        |m AS (SELECT source, min(n_toks) AS p50_tokens
        |  FROM c WHERE cum * 2 >= tot GROUP BY source)
        |SELECT a.source, a.n_docs, a.n_tokens,
        |  CAST(a.n_tokens AS DOUBLE) / a.n_docs AS mean_tokens,
        |  a.min_tokens, m.p50_tokens, a.max_tokens
        |FROM a LEFT JOIN m ON a.source = m.source""".stripMargin,
    "ds_quality_floor" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks
        |  FROM documents),
        |h AS (SELECT source, n_toks, count(*) AS n FROM t GROUP BY source, n_toks),
        |c AS (SELECT source, n_toks,
        |    sum(n) OVER (PARTITION BY source ORDER BY n_toks
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(n) OVER (PARTITION BY source) AS tot
        |  FROM h),
        |f AS (SELECT source, min(n_toks) AS floor_toks
        |  FROM c WHERE cum * 4 >= tot GROUP BY source)
        |SELECT t.doc_id, t.source, t.n_toks
        |FROM t JOIN f ON t.source = f.source
        |WHERE t.n_toks >= f.floor_toks""".stripMargin,
    // Boundary note: Spark's cumulative bounds are Scala-double sums
    // (0.9 + 0.05 = 0.9500000000000001) while the oracle states the
    // decimal literal 0.95 — no k/2^32 hash value lies in the 1e-16 gap
    // (the hash grid spacing is 2^-32 ≈ 2.3e-10), so the two
    // assignments are identical on every representable u.
    "ds_split" ->
      s"""WITH t AS (SELECT doc_id, source,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_toks,
         |    ${hashUSql("doc_id + 7919")} AS u
         |  FROM documents),
         |a AS (SELECT source,
         |    CASE WHEN u < CAST(0.9 AS DOUBLE) THEN 'train'
         |         WHEN u < CAST(0.95 AS DOUBLE) THEN 'val'
         |         ELSE 'test' END AS split, n_toks FROM t)
         |SELECT source, split, count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS n_toks
         |FROM a GROUP BY source, split""".stripMargin,
    // the ds_reweight totals + shares join, then one-shot IEEE epoch
    // arithmetic on the 20-row dim; budget and caps derive from the
    // same exact doubles on both engines so `capped` has zero float
    // headroom, and every float output is r6
    "ds_epochs" ->
      s"""WITH t AS (SELECT source,
         |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
         |      AS tokens
         |  FROM documents GROUP BY source),
         |j AS (SELECT t.source, t.tokens, r.share
         |  FROM t JOIN (VALUES $sharesValuesSql) AS r(source, share)
         |    ON t.source = r.source),
         |b AS (SELECT CAST(sum(tokens) AS DOUBLE) * CAST(3.0 AS DOUBLE)
         |    AS budget FROM j),
         |a AS (SELECT source, tokens, share,
         |    share * b.budget AS des,
         |    CAST(tokens AS DOUBLE) * CAST(4.0 AS DOUBLE) AS cap
         |  FROM j, b),
         |c AS (SELECT source, tokens, share, des, cap,
         |    least(des, cap) AS alloc FROM a),
         |s AS (SELECT sum(alloc) AS tot FROM c)
         |SELECT source, tokens, share AS target_share,
         |  floor(des * 1000000 + 0.5001) / 1000000 AS desired_tokens,
         |  floor(alloc * 1000000 + 0.5001) / 1000000 AS alloc_tokens,
         |  floor(alloc / tokens * 1000000 + 0.5001) / 1000000 AS epochs,
         |  des > cap AS capped,
         |  floor((des - alloc) * 1000000 + 0.5001) / 1000000 AS shortfall_tokens,
         |  floor(alloc / s.tot * 1000000 + 0.5001) / 1000000 AS realized_share
         |FROM c, s""".stripMargin,
    "ds_reweight" ->
      s"""WITH t AS (SELECT source,
         |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
         |      AS tokens
         |  FROM documents GROUP BY source),
         |j AS (SELECT t.source, t.tokens, r.share
         |  FROM t JOIN (VALUES $sharesValuesSql) AS r(source, share)
         |    ON t.source = r.source),
         |m AS (SELECT min(CAST(tokens AS DOUBLE) / share) AS t FROM j)
         |SELECT source, tokens, share AS target_share,
         |  share * m.t / tokens AS rate,
         |  share * m.t AS expected_tokens
         |FROM j, m""".stripMargin,
    "ds_shard" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_toks,
         |    (${hashU32Sql("doc_id")}) % 32 AS shard
         |  FROM documents)
         |SELECT shard, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_toks
         |FROM t GROUP BY shard""".stripMargin,
    // The within-source layout order (ss, h, id) restates Spark's
    // two-pass rank (sub-shard count bases + local rank) as one
    // row_number — the equivalence packSequencesScalable's oracle also
    // relies on. (seq + 0.5) / weight is a single correctly-rounded
    // IEEE division of bit-identical operands in both engines.
    "ds_interleave" ->
      s"""WITH t AS (SELECT doc_id, d.source, r.weight,
         |    ${hashU32Sql("doc_id")} AS h
         |  FROM documents d
         |  JOIN (VALUES $ratesValuesSql) AS r(source, weight)
         |    ON d.source = r.source),
         |s AS (SELECT *, h % 64 AS ss FROM t),
         |rk AS (SELECT doc_id, source, weight,
         |    row_number() OVER (PARTITION BY source ORDER BY ss, h, doc_id) - 1
         |      AS seq
         |  FROM s),
         |k AS (SELECT doc_id, source, CAST(seq AS BIGINT) AS seq,
         |    (CAST(seq AS DOUBLE) + CAST(0.5 AS DOUBLE)) / weight
         |      AS interleave_key
         |  FROM rk),
         |top AS (SELECT * FROM k
         |  ORDER BY interleave_key, source, doc_id LIMIT 200)
         |SELECT row_number() OVER (ORDER BY interleave_key, source, doc_id)
         |    AS pos,
         |  doc_id, source, seq, interleave_key
         |FROM top""".stripMargin,
    "text_chunk" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |c AS (SELECT doc_id, ws, unnest(range(0, len(ws), 48)) AS start FROM t)
        |SELECT doc_id, start // 48 AS chunk_idx,
        |  CAST(start AS BIGINT) AS chunk_start,
        |  CAST(len(ws[start+1:start+64]) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(ws[start+1:start+64], ' ') AS chunk_text
        |FROM c""".stripMargin,
    "ds_sample" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE ${hashUSql("doc_id")} < CAST(0.25 AS DOUBLE)""".stripMargin,
    "ds_mix" ->
      s"""SELECT d.doc_id, d.source
         |FROM documents d
         |JOIN (VALUES $ratesValuesSql) AS r(source, rate)
         |  ON d.source = r.source
         |WHERE ${hashUSql("d.doc_id")} < r.rate""".stripMargin,
    "ds_skew" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |t AS (SELECT sum(n) AS tot FROM c)
        |SELECT c.source, c.n, c.n / t.tot AS share
        |FROM c, t
        |ORDER BY n DESC, source
        |LIMIT 10""".stripMargin,
    "ds_funnel" ->
      """WITH t AS (SELECT CASE
        |    WHEN NOT COALESCE(len(string_split_regex(trim(text), '\s+')) >= 5,
        |      FALSE) THEN 0
        |    WHEN NOT COALESCE(
        |      (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
        |        / CAST(length(text) AS DOUBLE) <= 0.3, FALSE) THEN 1
        |    WHEN NOT COALESCE(lang = 'en', FALSE) THEN 2
        |    ELSE 3 END AS stage
        |  FROM documents),
        |c AS (SELECT stage, count(*) AS n FROM t GROUP BY stage),
        |g AS (SELECT unnest(range(0, 4)) AS stage),
        |f AS (SELECT g.stage, COALESCE(c.n, 0) AS n
        |  FROM g LEFT JOIN c ON g.stage = c.stage),
        |s AS (SELECT stage, n,
        |    sum(n) OVER () - sum(CASE WHEN stage < 3 THEN n ELSE 0 END)
        |      OVER (ORDER BY stage ROWS BETWEEN UNBOUNDED PRECEDING
        |            AND CURRENT ROW) AS survivors_after
        |  FROM f)
        |SELECT stage,
        |  (['min_tokens', 'digit_ratio', 'lang_en', 'kept'])[stage + 1] AS gate,
        |  n, CAST(survivors_after AS BIGINT) AS survivors_after
        |FROM s""".stripMargin,
    "ds_budget" ->
      s"""WITH t AS (SELECT doc_id, source,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_toks
         |  FROM documents),
         |r AS (SELECT source,
         |    least(CAST(1.0 AS DOUBLE), CAST(500 AS DOUBLE) / sum(n_toks)) AS rate
         |  FROM t GROUP BY source)
         |SELECT t.doc_id, t.source
         |FROM t JOIN r ON t.source = r.source
         |WHERE ${hashUSql("t.doc_id")} < r.rate""".stripMargin,
    "ds_pack" ->
      s"""WITH t AS (SELECT doc_id, source,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_toks
         |  FROM documents),
         |o AS (SELECT doc_id, source,
         |    CAST(COALESCE(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS tok_offset
         |  FROM t)
         |SELECT doc_id, source, tok_offset, tok_offset // 512 AS pack_id
         |FROM o""".stripMargin,
    "ds_pack_global" ->
      s"""WITH t AS (SELECT doc_id, source,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_toks,
         |    (${hashU32Sql("doc_id")}) % 64 AS ss
         |  FROM documents),
         |lo AS (SELECT doc_id, source, ss,
         |    CAST(COALESCE(sum(n_toks) OVER (PARTITION BY source, ss ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS local_off
         |  FROM t),
         |b AS (SELECT source, ss, sum(n_toks) AS ss_total FROM t GROUP BY 1, 2),
         |bb AS (SELECT source, ss,
         |    CAST(COALESCE(sum(ss_total) OVER (PARTITION BY source ORDER BY ss
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS base
         |  FROM b)
         |SELECT lo.doc_id, lo.source,
         |  CAST(lo.local_off + bb.base AS BIGINT) AS tok_offset,
         |  CAST((lo.local_off + bb.base) // 512 AS BIGINT) AS pack_id
         |FROM lo JOIN bb ON lo.source = bb.source AND lo.ss = bb.ss""".stripMargin,
    // ds_pipeline: the six stage formulations chained over one CTE
    // pipeline — ds_funnel's gate arithmetic, dedup_exact's
    // group-by-text keep-one (sha2 partitioning on the Spark side is
    // the same equivalence classes absent SHA-256 collisions),
    // dedup_decontam's string-shingle overlap count, ds_sample's /
    // ds_budget's Knuth-hash uniforms (same hash, so budget keep
    // implies sample keep by construction), ds_pack's exclusive
    // prefix-sum. Flags compose with AND exactly as the Spark plan's
    // `_g/_dedup/_clean/_samp/_bud` columns do.
    "ds_pipeline" ->
      s"""WITH t AS (SELECT doc_id, source, text,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_toks,
         |    COALESCE(text IS NOT NULL
         |      AND len(string_split_regex(trim(text), '\\s+')) >= 5
         |      AND (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
         |        / CAST(length(text) AS DOUBLE) <= 0.5, FALSE) AS g
         |  FROM documents),
         |b AS (SELECT DISTINCT
         |    unnest(list_transform(range(1, greatest(len(ws) - 4, 1) + 1),
         |      i -> array_to_string(ws[i:i+4], ' '))) AS s
         |  FROM (SELECT string_split(text, ' ') AS ws FROM documents
         |        WHERE doc_id % 97 = 0)),
         |ov AS (SELECT d.doc_id, count(*) AS n_ov
         |  FROM (SELECT doc_id,
         |      unnest(list_distinct(list_transform(range(1, greatest(len(ws) - 4, 1) + 1),
         |        i -> array_to_string(ws[i:i+4], ' ')))) AS s
         |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)) d
         |  JOIN b ON d.s = b.s GROUP BY d.doc_id),
         |f AS (SELECT t.*, ded.d,
         |    ded.d AND COALESCE(ov.n_ov, 0) < 3 AS cl,
         |    ded.d AND COALESCE(ov.n_ov, 0) < 3
         |      AND ${hashUSql("t.doc_id")} < 0.5 AS samp
         |  FROM t
         |  JOIN (SELECT doc_id,
         |      g AND doc_id = min(CASE WHEN g THEN doc_id END)
         |        OVER (PARTITION BY text) AS d
         |    FROM t) ded ON t.doc_id = ded.doc_id
         |  LEFT JOIN ov ON t.doc_id = ov.doc_id),
         |bud AS (SELECT f.*,
         |    samp AND ${hashUSql("f.doc_id")} <
         |      least(CAST(1.0 AS DOUBLE), CAST(2000 AS DOUBLE) /
         |        sum(CASE WHEN samp THEN n_toks END) OVER (PARTITION BY source))
         |      AS bd
         |  FROM f),
         |o AS (SELECT bud.*,
         |    CAST(COALESCE(sum(CASE WHEN bd THEN n_toks END)
         |      OVER (PARTITION BY source ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS off
         |  FROM bud)
         |SELECT source,
         |  count(*) AS n_total,
         |  count(CASE WHEN g THEN 1 END) AS n_gated,
         |  count(CASE WHEN d THEN 1 END) AS n_deduped,
         |  count(CASE WHEN cl THEN 1 END) AS n_clean,
         |  count(CASE WHEN samp THEN 1 END) AS n_sampled,
         |  count(CASE WHEN bd THEN 1 END) AS n_budgeted,
         |  CAST(COALESCE(sum(CASE WHEN bd THEN n_toks END), 0) AS BIGINT)
         |    AS toks_budgeted,
         |  CAST(COALESCE(sum(CASE WHEN bd THEN off END), 0) AS BIGINT)
         |    AS sum_tok_offset,
         |  CAST(COALESCE(max(CASE WHEN bd THEN off // 512 END) + 1, 0) AS BIGINT)
         |    AS n_packs
         |FROM o GROUP BY source""".stripMargin)
}
