package graft.mix

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-assembly operators for LLM training pipelines: deterministic
  * sampling, per-source mixture weighting, and sequence packing — the
  * curation steps that sit between dedup/quality filtering and the
  * trainer.
  *
  * Scale design (100 TB): sampling and mixing are pure row-local
  * filters (no shuffle — the predicate is pushable work over the scan);
  * packing is a window prefix-sum — per shard in [[packSequences]], per
  * (shard, sub-shard) with broadcast-globalized offsets in
  * [[packSequencesScalable]]. Everything is exact integer arithmetic,
  * so a re-run over the same corpus reproduces the same dataset
  * bit-for-bit — reproducibility is a correctness requirement for
  * training-data lineage, which is why none of these use `rand()`.
  */
object Mix {

  private val KnuthC = 2654435761L // golden-ratio multiplier, TAOCP vol. 3 §6.4
  private val M32 = 4294967296L    // 2^32

  /** Deterministic hash of an integer id into [0, 2^32): Knuth
    * multiplicative hashing (TAOCP vol. 3 §6.4), `(id * 2654435761)
    * mod 2^32`. Valid for the FULL int64 domain: the id is first
    * reduced mod 2^32 (which cannot change the result — 2^32 divides
    * 2^64) and the multiply is split at 16 bits so every intermediate
    * stays under 2^49. That matters for portability: engines that
    * RAISE on int64 overflow instead of wrapping (e.g. DuckDB) compute
    * the identical value from the identical SQL, where the naive
    * `(id * C) % 2^32` overflows past id ≈ 3.47e9 and goes negative
    * for negative ids under C-style `%`.
    */
  def hashU32(id: Column): Column = {
    val idn = pmod(id.cast("long"), lit(M32))         // [0, 2^32)
    val hi = shiftright(idn, 16)                      // [0, 2^16)
    val lo = idn.bitwiseAND(lit(65535L))              // [0, 2^16)
    // (hi*2^16 + lo) * C mod 2^32 = ((hi*C mod 2^16)*2^16 + lo*C) mod 2^32
    pmod(pmod(hi * lit(KnuthC), lit(65536L)) * lit(65536L) + lo * lit(KnuthC),
      lit(M32))
  }

  /** [[hashU32]] scaled to a uniform double in [0,1). Exact integer
    * arithmetic underneath, so the value is portable across engines
    * (unlike engine-native hash builtins, which differ between Spark,
    * DuckDB, and pandas and would make sampled datasets irreproducible
    * off-Spark).
    */
  def hashUniform(id: Column): Column = hashU32(id) / lit(M32.toDouble)

  /** Non-linear 32-bit avalanche mix (murmur-finalizer shape:
    * xor-shift, multiply, twice over, final xor-shift) in pure
    * overflow-free int64 arithmetic — bit-identical in any 64-bit
    * engine, like [[hashU32]].
    *
    * Use THIS, not hashU32, when keys are SEQUENTIAL and bits feed a
    * downstream statistic (e.g. deriving ±1 signs for a projection
    * matrix cell by cell): hashU32 is multiplicative, i.e. a Weyl
    * rotation — over sequential keys its individual bits are
    * quasi-periodic and strongly lag-correlated, which breaks
    * independence-style guarantees (a JL projection built from its
    * sign bit systematically cancels structured inputs — caught by
    * CurationOpsSpec's norm-preservation check). The xor-shifts here
    * are the non-linearity multiplicative hashing lacks. Max
    * intermediate is (2^32-1)·73244475 ≈ 3.1e17 < 2^63 — no overflow,
    * no 16-bit split needed.
    */
  def hashMix32(id: Column): Column = {
    val k0 = pmod(id.cast("long"), lit(M32))
    val s1 = pmod((k0.bitwiseXOR(shiftright(k0, 16))) * lit(73244475L), lit(M32))
    val s2 = pmod((s1.bitwiseXOR(shiftright(s1, 16))) * lit(73244475L), lit(M32))
    s2.bitwiseXOR(shiftright(s2, 16))
  }

  /** [[hashMix32]] as plain Scala — bit-identical by construction
    * (same ops on int64), for deriving driver-side literal tables
    * (e.g. the JL sign matrix) that must agree with any engine-side
    * derivation. CurationOpsSpec cross-checks the two.
    */
  def hashMix32Long(key: Long): Long = {
    val m32 = 4294967296L
    val k0 = ((key % m32) + m32) % m32
    val s1 = ((k0 ^ (k0 >> 16)) * 73244475L) % m32
    val s2 = ((s1 ^ (s1 >> 16)) * 73244475L) % m32
    s2 ^ (s2 >> 16)
  }

  /** Reproducible Bernoulli sampling: keep rows whose [[hashUniform]]
    * falls under `rate`. A pure filter — no shuffle, no state, stable
    * under re-runs and partition changes (rand()-based sampling is
    * neither). Different non-overlapping samples of the same corpus
    * come from disjoint [lo, hi) slices of the hash space.
    */
  def sampleByHash(df: DataFrame, idCol: String, rate: Double): DataFrame =
    df.filter(hashUniform(col(idCol)) < rate)

  /** Exact-k deterministic stratified sample: for each `keyCol` group,
    * the k rows whose id HASH is smallest (ties broken by id) — the
    * same k from every group regardless of group size, and the SAME k
    * rows on every re-run and under any partitioning, because
    * membership is hash-order, not `rand()`. Bernoulli sampling
    * ([[sampleByHash]]) cannot deliver "exactly k per stratum"; this
    * is the per-source eyeball-sample / few-shot-probe shape.
    *
    * Scale: the `rank <= k` filter over the per-group row_number is
    * optimizer-rewritten to a WindowGroupLimit, so each map task keeps
    * only its local top-k per group BEFORE the single hash exchange —
    * the shuffle carries ~k rows per (task, group), never the corpus.
    * Returns the input columns plus `sample_rank` (1-based hash order
    * within the group).
    */
  def stratifiedHashSample(df: DataFrame, keyCol: String, idCol: String,
                           k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("_h"), col(idCol))
    df.withColumn("_h", hashU32(col(idCol)))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
      .drop("_h")
  }

  /** Data mixing by per-source rates: each source is down/up-weighted
    * by its own Bernoulli rate from a small dim table `(sourceCol,
    * rate)` — the "mixture weights" step of corpus assembly. The dim is
    * broadcast (sources number in the hundreds, never corpus-scale) so
    * the whole operator is scan + broadcast-hash-join + row-local
    * filter: no shuffle of the corpus.
    *
    * Unmatched-source semantics are EXPLICIT because a silently
    * vanishing source is indistinguishable from an intentional rate of
    * 0: with `defaultRate = None` (the default) sources absent from the
    * dim are DROPPED — by design, and now by contract; pass
    * `Some(rate)` to instead keep unlisted sources at that rate (1.0 =
    * pass through, 0.0 = drop but via the same code path a listed 0.0
    * would take). Callers that consider an unlisted source an error
    * should anti-join `df` against `rates` first and fail on non-empty.
    */
  def mixBySourceRates(df: DataFrame, idCol: String, sourceCol: String,
                       rates: DataFrame,
                       defaultRate: Option[Double] = None): DataFrame = {
    val joined = defaultRate match {
      case None => df.join(broadcast(rates), Seq(sourceCol))
      case Some(d) => df.join(broadcast(rates), Seq(sourceCol), "left")
        .withColumn("rate", coalesce(col("rate"), lit(d)))
    }
    joined.filter(hashUniform(col(idCol)) < col("rate")).drop("rate")
  }

  /** Filter-funnel accounting: how many rows each curation gate drops.
    * `gates` is the ORDERED list of (name, keep-predicate) a
    * sequential pipeline would apply; every row is attributed to the
    * FIRST gate it fails (later gates never see it, exactly like the
    * real pipeline), and the output carries one row per gate plus a
    * `kept` row: (stage, gate, n, survivors_after).
    *
    * ONE conditional-aggregation pass over the corpus — a when-chain
    * projects the first-failing-gate index, one map-side-combining
    * groupBy counts it — where the naive audit (count survivors after
    * each gate) scans the corpus once per gate. The cumulative
    * survivor column is a window over the ≤ gates+1-row result, free.
    * Null predicate results count as failures (a null-text doc fails a
    * length gate; it does not sneak past it).
    */
  def curationFunnel(df: DataFrame,
                     gates: Seq[(String, Column)]): DataFrame = {
    require(gates.nonEmpty, "gates must be non-empty")
    import df.sparkSession.implicits._
    val firstFail = gates.zipWithIndex.foldRight(
      lit(gates.length): Column) { case (((_, pred), i), acc) =>
      when(!coalesce(pred, lit(false)), lit(i)).otherwise(acc)
    }
    val counts = df.select(firstFail.as("stage"))
      .groupBy(col("stage")).agg(count(lit(1)).as("n"))
    // every gate (and the kept row) appears even at zero drops — a
    // funnel report where "dropped nothing" and "didn't run" look the
    // same is useless for auditing, so the observed counts left-join
    // onto the full gate list (gates+1 literal rows)
    val stages = (gates.map(_._1) :+ "kept").zipWithIndex
      .map { case (g, i) => (i, g) }.toDF("stage", "gate")
    val w = Window.orderBy(col("stage"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = Window.partitionBy()
    stages.join(counts, Seq("stage"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("survivors_after",
        sum(col("n")).over(total) - sum(when(col("stage") < gates.length,
          col("n")).otherwise(0L)).over(w))
      .select(col("stage"), col("gate"), col("n"),
        col("survivors_after").cast("long").as("survivors_after"))
  }

  /** Token-budget downsampling: reduce each source to an EXPECTED
    * `budgetTokens` total tokens by hash-Bernoulli sampling at
    * `rate_s = min(1, budget / source_tokens)` — the "cap the
    * over-represented domains" step of corpus assembly when the mixture
    * target is a token count rather than a hand-set rate (rates then
    * follow from the data). Under-budget sources pass through whole.
    *
    * Two passes, both scale-clean: (1) per-source token totals — a
    * map-side-combining aggregate producing one row per source; (2) the
    * totals (tiny) broadcast back and the same row-local [[hashUniform]]
    * filter [[sampleByHash]] uses. Deterministic: same corpus, same
    * budget → the same sampled ids, reproducible off-Spark (the rate is
    * an exact int/int division and the hash is [[hashU32]]).
    */
  def sampleToTokenBudget(df: DataFrame, idCol: String, sourceCol: String,
                          tokenCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val totals = df.groupBy(col(sourceCol))
      .agg(sum(col(tokenCol)).cast("long").as("_src_toks"))
      .withColumn("_rate",
        least(lit(1.0), lit(budgetTokens.toDouble) / col("_src_toks")))
      .select(col(sourceCol), col("_rate"))
    df.join(broadcast(totals), Seq(sourceCol))
      .filter(hashUniform(col(idCol)) < col("_rate"))
      .drop("_rate")
  }

  /** Sequence packing: assign documents to fixed-capacity token bins
    * ("packs") for training-batch assembly. Per shard, documents are
    * laid out in deterministic `idCol` order; each doc's `tok_offset`
    * is the running token count before it, and its pack is
    * `tok_offset / capacity`.
    *
    * This is OFFSET packing, the distributed-friendly strategy: one
    * window prefix-sum per shard, order-stable and reproducible. A pack
    * can overflow by at most its last document (the trainer's chunker
    * absorbs the straddle). Exact greedy first-fit ("close the bin
    * when the next doc would overflow") is inherently a sequential scan
    * per shard — at 100 TB that is the wrong trade against a single
    * codegen'd window pass.
    *
    * CONTRACTS — read before wiring:
    *   - Shard granularity: the window partitions by `shardCol`, so
    *     EACH SHARD IS ONE TASK (one sort, one prefix scan). This is
    *     the right shape only when shards are plentiful and bounded —
    *     thousands of date/file shards, not "20 sources over 100 TB"
    *     (a 5 TB single-threaded sort per shard). For low-cardinality
    *     or skewed shard keys use [[packSequencesScalable]].
    *   - Determinism: requires `idCol` UNIQUE within each shard. On a
    *     duplicate id the window's tie order is partition-dependent and
    *     `tok_offset`/`pack_id` can differ across runs. Pass a unique
    *     id (or pre-compose one: `concat(file, '#', rownum)`).
    */
  def packSequences(df: DataFrame, shardCol: String, idCol: String,
                    tokenCol: String, capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("tok_offset",
        coalesce(sum(col(tokenCol)).over(w), lit(0L)).cast("long"))
      .withColumn("pack_id", (col("tok_offset") / capacity).cast("long"))
  }

  /** Scale-safe sequence packing for LOW-CARDINALITY shard keys: the
    * two-pass global-offset formulation. Within each shard, rows are
    * hash-split into `numSubShards` sub-shards by [[hashU32]] of the
    * id; pass 1 computes a local prefix-sum per (shard, sub-shard) —
    * parallelism is shards × numSubShards tasks instead of one task
    * per shard; pass 2 globalizes offsets by adding each sub-shard's
    * base (the summed token totals of all lower-numbered sub-shards in
    * the same shard), computed on the tiny (shards × numSubShards)-row
    * totals table and broadcast back. No corpus-scale sort ever sees a
    * whole shard.
    *
    * The deterministic layout order is (shard, subShard(id), id) —
    * a DIFFERENT (still deterministic, still reproducible) order than
    * [[packSequences]]' plain id order, which is the price of
    * splitting the prefix-sum; packing semantics only need a stable
    * order, not a specific one. Sub-shard assignment uses the portable
    * Knuth hash, so the layout reproduces bit-for-bit off-Spark.
    * Same unique-`idCol`-within-shard determinism precondition as
    * [[packSequences]].
    */
  def packSequencesScalable(df: DataFrame, shardCol: String, idCol: String,
                            tokenCol: String, capacity: Long,
                            numSubShards: Int = 64): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    require(numSubShards > 0, "numSubShards must be positive")
    val withSS = df.withColumn("_ss", pmod(hashU32(col(idCol)), lit(numSubShards.toLong)))
    // pass 1: local prefix-sum within (shard, sub-shard)
    val lw = Window.partitionBy(col(shardCol), col("_ss")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = withSS.withColumn("_local_off",
      coalesce(sum(col(tokenCol)).over(lw), lit(0L)).cast("long"))
    // pass 2: per-sub-shard totals → exclusive running base per shard.
    // The totals table has shards × numSubShards rows — broadcast it.
    val bw = Window.partitionBy(col(shardCol)).orderBy(col("_ss"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = withSS.groupBy(col(shardCol), col("_ss"))
      .agg(sum(col(tokenCol)).cast("long").as("_ss_total"))
      .withColumn("_base", coalesce(sum(col("_ss_total")).over(bw), lit(0L)))
      .select(col(shardCol), col("_ss"), col("_base"))
    local.join(broadcast(bases), Seq(shardCol, "_ss"))
      .withColumn("tok_offset", (col("_base") + col("_local_off")).cast("long"))
      .withColumn("pack_id", (col("tok_offset") / capacity).cast("long"))
      .drop("_ss", "_local_off", "_base")
  }

  /** Reproducible train/val/test split: each row's [[hashUniform]]
    * value lands in one of the half-open fraction intervals laid out in
    * `splits` order ([0, f1), [f1, f1+f2), ...); the LAST split absorbs
    * the remainder up to 1.0, so every row is assigned. A pure
    * row-local projection — no shuffle, no rand(), and the assignment
    * is a property of the ID alone: adding or removing other rows never
    * reassigns a document (the contamination-safety property rand()- or
    * rank-based splits lack).
    *
    * `salt` decorrelates the split hash from other hash-keyed steps
    * (sampling, sub-sharding) that use the raw id — with salt 0 a 25%
    * [[sampleByHash]] would be exactly the prefix of the train split.
    */
  def splitByHash(df: DataFrame, idCol: String,
                  splits: Seq[(String, Double)], salt: Long = 0L,
                  splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "splits must be non-empty")
    require(splits.forall(_._2 > 0), "split fractions must be positive")
    require(splits.map(_._2).sum <= 1.0 + 1e-9,
      s"split fractions sum to ${splits.map(_._2).sum} > 1")
    requireIntegralId(df, idCol)
    val u = hashUniform(col(idCol) + lit(salt))
    val bounds = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val assign = splits.init.zip(bounds.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), hi), acc) =>
      when(u < hi, lit(name)).otherwise(acc)
    }
    // a null id must surface as a null split, not silently land in the
    // last split (every `u < hi` is false on null u, so the bare
    // when-chain would fall through to the otherwise)
    df.withColumn(splitCol, when(u.isNotNull, assign))
  }

  /** The hash-keyed operators' id contract, checked loudly at plan
    * time: [[hashU32]] casts its input to long, and a NON-numeric id
    * column (e.g. a string "doc-42") would cast to null for every row
    * — which for a splitter means 100% of the corpus silently labeled
    * with one split. Fractional numerics are rejected too: truncation
    * would hash-collide ids 1.2 and 1.9.
    */
  private[graft] def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(Seq("byte", "short", "integer", "long").contains(dt.typeName),
      s"hash-keyed id column '$idCol' must be an integral type, got $dt — " +
        "derive a long id first (e.g. xxhash64 of a string key)")
  }

  /** Deterministic shard assignment for output layout: shard =
    * [[hashU32]](id) mod `numShards`. The write-side partitioner of a
    * curated corpus — `df.repartition(col("shard")).write.partitionBy
    * ("shard")` yields size-balanced, reproducible output files whose
    * membership is stable across re-runs and engines (the property an
    * engine-native `hash()`-based layout lacks).
    */
  def shardAssign(df: DataFrame, idCol: String, numShards: Int,
                  shardCol: String = "shard"): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    requireIntegralId(df, idCol)
    df.withColumn(shardCol, pmod(hashU32(col(idCol)), lit(numShards.toLong)))
  }

  /** Deterministic weighted interleaving: a GLOBAL training order in
    * which each source appears with frequency proportional to its
    * weight — the "mix the curated sources into one stream" step that
    * trainers otherwise approximate with seeded samplers. Start-time
    * fair queuing (the packet-scheduling idea of Goyal/Vin/Cheng,
    * SIGCOMM '96, applied to data scheduling): the i-th document
    * (0-based) of source s gets key
    * `(i + 0.5) / w_s`, and the global order is ascending key — in any
    * prefix of the stream, source multiplicities track the weights
    * (weight 1.0 emits twice as often as 0.5). Every arithmetic step
    * (integer rank, exact `+ 0.5`, one correctly-rounded IEEE
    * division) reproduces bit-for-bit in any IEEE-double engine, so
    * the schedule is portable — no seeded RNG to replicate.
    *
    * Within a source, documents are laid out in deterministic
    * hash-shuffled order (by [[hashU32]] of the id) — id order would
    * replay each source in ingestion order, which trainers do not
    * want. The within-source sequence number is computed WITHOUT a
    * per-source global sort (the ds_pack one-task-per-shard hazard):
    * ranks are local to (source, sub-shard) windows — parallelism is
    * sources x numSubShards — and globalized by adding broadcast
    * per-sub-shard count bases, same two-pass shape as
    * [[packSequencesScalable]]. The layout order is therefore
    * (sub-shard, hash, id) within each source: deterministic,
    * reproducible, and stated exactly by the SQL oracle.
    *
    * Output: input columns + `seq` (within-source sequence number) +
    * `interleave_key` (the global sort key). Consumers order by
    * (interleave_key, sourceCol, idCol) — equal-weight sources tie at
    * identical keys, so the two trailing columns make the order total.
    *
    * Unlisted-source contract (same as [[mixBySourceRates]]' default):
    * sources absent from the `weights` dim are DROPPED from the
    * schedule — the weights table IS the mixture definition, and a
    * source without a weight has no defined emission rate. Callers
    * that consider an unlisted source an error should anti-join `df`
    * against `weights` first and fail on non-empty.
    */
  def interleaveWeighted(df: DataFrame, idCol: String, sourceCol: String,
                         weights: DataFrame,
                         numSubShards: Int = 64): DataFrame = {
    require(numSubShards > 0, "numSubShards must be positive")
    requireIntegralId(df, idCol)
    val withSS = df.join(broadcast(weights), Seq(sourceCol))
      .withColumn("_h", hashU32(col(idCol)))
      .withColumn("_ss", pmod(col("_h"), lit(numSubShards.toLong)))
    val lw = Window.partitionBy(col(sourceCol), col("_ss"))
      .orderBy(col("_h"), col(idCol))
    val local = withSS
      .withColumn("_lr", row_number().over(lw).cast("long") - 1)
    val bw = Window.partitionBy(col(sourceCol)).orderBy(col("_ss"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = withSS.groupBy(col(sourceCol), col("_ss"))
      .agg(count(lit(1)).as("_ss_n"))
      .withColumn("_base", coalesce(sum(col("_ss_n")).over(bw), lit(0L)))
      .select(col(sourceCol), col("_ss"), col("_base"))
    local.join(broadcast(bases), Seq(sourceCol, "_ss"))
      .withColumn("seq", (col("_base") + col("_lr")).cast("long"))
      .withColumn("interleave_key",
        (col("seq").cast("double") + lit(0.5)) / col("weight"))
      .drop("_h", "_ss", "_lr", "_base", "weight")
  }

  /** Mixture re-weighting: the per-source DOWN-sampling rates that
    * realize a target share profile at the maximum achievable total —
    * the planning step between "here is what the corpus contains" and
    * [[mixBySourceRates]]. With per-source token totals `n_s` and
    * target shares `p_s`, the largest total `T` reachable without
    * upsampling is `min_s(n_s / p_s)` (the binding source is used
    * whole); each source then samples at `rate_s = p_s * T / n_s`.
    * Output per source: `tokens`, `target_share`, `rate` (the value to
    * feed mixBySourceRates), `expected_tokens = p_s * T`.
    *
    * Sources absent from `shares` are excluded from the plan (and from
    * `T`) — like mixBySourceRates' default-drop, the caller opts
    * unlisted sources in explicitly. All arithmetic is one
    * correctly-rounded IEEE division/multiplication chain over exact
    * long counts, so the plan reproduces bit-for-bit off-Spark. The
    * global min runs on the post-aggregate totals table (one row per
    * source) — a single-partition window over a tiny frame, never over
    * corpus rows.
    */
  def reweightToShares(df: DataFrame, sourceCol: String, tokenCol: String,
                       shares: DataFrame): DataFrame = {
    // the dim is tiny by contract (it broadcasts); validating it with
    // one action is cheap, and a non-positive share would otherwise
    // poison the WHOLE plan silently (share 0 -> T = +Inf or the
    // source sampled at 0; negative -> every rate negative -> the
    // downstream mixBySourceRates emits zero rows)
    require(shares.filter(col("share") <= 0 || col("share").isNull).isEmpty,
      "every target share must be positive and non-null")
    val totals = df.groupBy(col(sourceCol))
      .agg(sum(col(tokenCol)).cast("long").as("tokens"))
    val joined = totals.join(broadcast(shares), Seq(sourceCol))
    val t = min(col("tokens").cast("double") / col("share"))
      .over(Window.partitionBy())
    joined
      .withColumn("_t", t)
      .select(col(sourceCol), col("tokens"),
        col("share").as("target_share"),
        (col("share") * col("_t") / col("tokens")).as("rate"),
        (col("share") * col("_t")).as("expected_tokens"))
  }

  /** L19 `ds_epochs` — data-constrained epoch allocation: how many
    * EPOCHS (repetitions) of each source realize a target mixture
    * under a global token budget when sources are finite (the planning
    * step behind Muennighoff et al. 2023, "Scaling Data-Constrained
    * Language Models": repeating data up to ~4 epochs is worth nearly
    * as much as fresh data, with sharply decaying value beyond — so
    * the repetition cap is a first-class training-mix parameter, not
    * an afterthought).
    *
    * Per source s with unique tokens T_s and target share w_s:
    *   desired_s  = w_s · budget
    *   alloc_s    = min(desired_s, maxEpochs · T_s)   (the cap binds)
    *   epochs_s   = alloc_s / T_s
    *   capped_s   = desired_s > maxEpochs · T_s
    *   shortfall_s = desired_s − alloc_s  (tokens the mix wanted but
    *                 the cap refused — the signal to re-negotiate
    *                 shares or raise the cap)
    *   realized_share_s = alloc_s / Σ alloc  (the mixture actually
    *                 achievable, for comparison against w_s)
    *
    * Scale shape: ONE map-side-combining token sum per source collapses
    * the corpus to a #sources-row dim; everything after is arithmetic
    * on that dim (broadcast share join + one tiny window). The corpus
    * never shuffles on its own rows — the ds_reweight plan family.
    */
  def epochAllocation(df: DataFrame, sourceCol: String, tokenCol: String,
                      shares: DataFrame, tokenBudget: Long,
                      maxEpochs: Double = 4.0): DataFrame =
    epochAllocationOn(df, sourceCol, tokenCol, shares,
      lit(tokenBudget).cast("double"), maxEpochs)

  /** [[epochAllocation]] with the budget stated as a MULTIPLE of the
    * corpus's own total token count (budget = multiple × Σ tokens,
    * the Σ over sources present in the shares dim — the same inner
    * join the allocation itself uses) — the scale-invariant form:
    * "plan a 3×-corpus training run" means the same thing at any
    * corpus size.
    */
  def epochAllocationByMultiple(df: DataFrame, sourceCol: String,
                                tokenCol: String, shares: DataFrame,
                                budgetMultiple: Double,
                                maxEpochs: Double = 4.0): DataFrame =
    epochAllocationOn(df, sourceCol, tokenCol, shares,
      sum(col("tokens")).over(Window.partitionBy()).cast("double")
        * budgetMultiple,
      maxEpochs)

  /** Shared core: `budget` is a Column evaluated over the per-source
    * totals frame (a literal, or the whole-dim token sum × multiple).
    */
  private def epochAllocationOn(df: DataFrame, sourceCol: String,
                                tokenCol: String, shares: DataFrame,
                                budget: Column,
                                maxEpochs: Double): DataFrame = {
    require(maxEpochs > 0, s"maxEpochs must be positive (got $maxEpochs)")
    // validate the tiny shares dim DRIVER-SIDE in one collect (ADVICE
    // r10: the previous filter(...).isEmpty ran a full Spark action at
    // operator-construction time and never rejected DUPLICATE sources,
    // which would double-join the totals row and silently inflate the
    // realized_share denominator). The dim is source-domain-bounded —
    // the same bound its broadcast below already requires.
    val shareRows = shares
      .select(col(sourceCol), col("share").cast("double")).collect()
    require(shareRows.forall(r => !r.isNullAt(1) && r.getDouble(1) > 0),
      "every target share must be positive and non-null")
    val dupSources = shareRows.map(_.get(0)).groupBy(identity)
      .collect { case (s, v) if v.length > 1 => s }
    require(dupSources.isEmpty,
      s"duplicate source rows in shares dim: ${dupSources.mkString(", ")}")
    val totals = df.groupBy(col(sourceCol))
      .agg(sum(col(tokenCol)).cast("long").as("tokens"))
    val staged = totals.join(broadcast(shares), Seq(sourceCol))
      .withColumn("_desired", col("share") * budget)
      .withColumn("_cap", col("tokens").cast("double") * lit(maxEpochs))
      .withColumn("_alloc", least(col("_desired"), col("_cap")))
    val totalAlloc = sum(col("_alloc")).over(Window.partitionBy())
    staged.select(col(sourceCol), col("tokens"),
      col("share").as("target_share"),
      col("_desired").as("desired_tokens"),
      col("_alloc").as("alloc_tokens"),
      (col("_alloc") / col("tokens")).as("epochs"),
      (col("_desired") > col("_cap")).as("capped"),
      (col("_desired") - col("_alloc")).as("shortfall_tokens"),
      (col("_alloc") / totalAlloc).as("realized_share"))
  }

  /** Exact per-key LOWER quantile of an integer-valued column, computed
    * scale-safely from the column's VALUE HISTOGRAM: one
    * map-side-combining groupBy collapses the corpus to one row per
    * (key, value) — bounded by the number of distinct values, not by
    * rows — and the quantile is the smallest value whose cumulative
    * count reaches `ceil(q * total)`, found with windows over the tiny
    * histogram. The quantile is passed as an exact rational
    * `qNum/qDen` so the reach test is pure integer arithmetic
    * (`cum * qDen >= total * qNum`): no float percentile definition to
    * disagree about across engines, which is what lets callers be
    * sql-oracled. This is the exact-and-distributed middle ground
    * between `percentile()` (exact but buffers every value of a group
    * in memory) and `approx_percentile` (bounded but
    * implementation-defined) — available whenever the value domain is
    * small (token counts, lengths, scores in fixed grids).
    *
    * Returns one row per key: (keyCol, `q_value`).
    */
  def histogramQuantile(df: DataFrame, keyCol: String, valCol: String,
                        qNum: Int, qDen: Int): DataFrame =
    histogramQuantiles(df, keyCol, valCol, Seq((qNum, qDen)))
      .select(col(keyCol), col(s"q_${qNum}_$qDen").as("q_value"))

  /** Multi-quantile [[histogramQuantile]]: ALL requested quantiles come
    * out of ONE histogram aggregate + ONE cumulative window + ONE
    * final per-key group (a conditional `min(when(reached, value))`
    * per quantile), instead of one full pass per quantile. Output:
    * keyCol plus one `q_<num>_<den>` column per requested quantile.
    */
  def histogramQuantiles(df: DataFrame, keyCol: String, valCol: String,
                         qs: Seq[(Int, Int)]): DataFrame = {
    // null values are EXCLUDED from the distribution (they have no
    // order position; engines also disagree on null placement in
    // window ORDER BY, which would poison the oracle)
    val hist = df.filter(col(valCol).isNotNull)
      .groupBy(col(keyCol), col(valCol))
      .agg(count(lit(1)).as("_n"))
    histogramQuantilesFromHist(hist, keyCol, valCol, "_n", qs)
  }

  /** The reach-arithmetic half of [[histogramQuantiles]], starting from
    * an ALREADY-AGGREGATED weighted histogram (keyCol, valCol,
    * countCol). Exists so a caller that needs several quantile passes
    * over DERIVED distributions (madOutliers: the |x − median|
    * distribution is a re-grouping of the value histogram, weighted by
    * its counts) can pay the corpus-sized groupBy ONCE and run every
    * later pass over histogram-sized data. Same exact lower-quantile
    * contract: smallest value whose cumulative count reaches
    * ceil(tot·q), integer reach arithmetic, no floats in the decision.
    */
  def histogramQuantilesFromHist(hist: DataFrame, keyCol: String,
                                 valCol: String, countCol: String,
                                 qs: Seq[(Int, Int)]): DataFrame = {
    require(qs.nonEmpty, "at least one quantile required")
    qs.foreach { case (qNum, qDen) =>
      require(qNum > 0 && qDen > 0 && qNum <= qDen,
        s"quantile $qNum/$qDen must be in (0, 1]")
    }
    val byKey = Window.partitionBy(col(keyCol))
    val cumW = byKey.orderBy(col(valCol))
    val staged = hist
      .withColumn("_cum", sum(col(countCol)).over(cumW))
      .withColumn("_tot", sum(col(countCol)).over(byKey))
    val aggs = qs.map { case (qNum, qDen) =>
      min(when(col("_cum") * qDen >= col("_tot") * qNum, col(valCol)))
        .as(s"q_${qNum}_$qDen")
    }
    staged.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-source length flooring at an exact length quantile: drop every
    * document shorter than its source's `qNum/qDen` token-count
    * quantile — the adaptive version of a fixed token floor (a floor
    * that is right for web text starves a code source; deriving it
    * per source from the data is the standard fix). Thresholds come
    * from [[histogramQuantile]] (exact, histogram-sized work) and come
    * back as a broadcast dim; the filter itself is row-local.
    */
  def floorByLengthQuantile(df: DataFrame, sourceCol: String,
                            tokenCol: String, qNum: Int,
                            qDen: Int): DataFrame = {
    val th = histogramQuantile(df, sourceCol, tokenCol, qNum, qDen)
      .select(col(sourceCol), col("q_value").as("_floor"))
    df.join(broadcast(th), Seq(sourceCol))
      .filter(col(tokenCol) >= col("_floor"))
      .drop("_floor")
  }

  /** L17: CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3) —
    * label every document `head` / `middle` / `tail` by which
    * per-source perplexity TERCILE it falls in (head = most fluent
    * third), the artifact CCNet pipelines mix from (train mostly on
    * head+middle, keep tail for diversity ablations).
    *
    * The tercile cutpoints are exact LOWER quantiles from
    * [[histogramQuantiles]] — integer reach arithmetic over the score
    * histogram, no float percentile definition to disagree about — so
    * the assignment is fully deterministic and sql-oracled. The
    * alternative `ntile(3)` formulation would be exact too but
    * partitions the window by source: every source's whole corpus in
    * ONE task, the classic single-task-window scale-killer. Here the
    * corpus never sorts: cutpoints are histogram-sized work, come back
    * as a per-source broadcast dim, and the label is one row-local
    * comparison chain. (Ties straddling a cutpoint all take the lower
    * bucket, so bucket sizes can deviate from exact thirds — the
    * deterministic trade CCNet itself makes by cutting on score
    * values.)
    *
    * Scores should arrive on a fixed grid (round first — the r6
    * convention) so the histogram groupBy keys compare exactly across
    * engines. Null scores get a null bucket, never a silent `tail`.
    */
  def pplBuckets(scored: DataFrame, keyCol: String,
                 scoreCol: String): DataFrame = {
    val cuts = histogramQuantiles(scored, keyCol, scoreCol,
        Seq((1, 3), (2, 3)))
      .select(col(keyCol), col("q_1_3").as("_c1"), col("q_2_3").as("_c2"))
    scored.join(broadcast(cuts), Seq(keyCol))
      .withColumn("bucket",
        when(col(scoreCol).isNull, lit(null).cast("string"))
          .when(col(scoreCol) <= col("_c1"), lit("head"))
          .when(col(scoreCol) <= col("_c2"), lit("middle"))
          .otherwise(lit("tail")))
      .drop("_c1", "_c2")
  }

  /** L18: per-key winsorization at exact histogram quantiles — clip a
    * numeric column to its key's [lo, hi] quantile band instead of
    * dropping the outliers (the robust-statistics companion of
    * [[floorByLengthQuantile]], which drops; winsorizing keeps the row
    * but caps its leverage — the standard pre-normalization step
    * before fitting length/quality models on heavy-tailed corpus
    * stats). Emits the clip direction per row (`low`/`high`/
    * `in_range`, null value → null tag) so the clipped-mass accounting
    * ships with the clipped column.
    *
    * The stream gate's two halves on one corpus: the cutpoints of
    * [[graft.streaming.Streaming.winsorizeCutpoints]] (exact LOWER
    * quantiles from [[histogramQuantiles]], coming back as a broadcast
    * dim) and the row-local clip of
    * [[graft.streaming.Streaming.winsorizeStream]], so batch and stream
    * label identically. Requires an integer-or-gridded value column
    * (the histogram groupBy keys must compare exactly across engines).
    */
  def winsorize(df: DataFrame, keyCol: String, valCol: String,
                loNum: Int, loDen: Int, hiNum: Int, hiDen: Int): DataFrame = {
    require(loNum * hiDen < hiNum * loDen,
      s"lo quantile $loNum/$loDen must be below hi $hiNum/$hiDen")
    graft.streaming.Streaming.winsorizeStream(df, keyCol, valCol,
      graft.streaming.Streaming.winsorizeCutpoints(df, keyCol, valCol,
        loNum, loDen, hiNum, hiDen))
  }

  /** Corpus-distribution drift between two dataset versions: exact
    * per-value histograms of the same integer-valued column on both
    * sides, full-outer-joined per (key, value), and the per-key
    * Jensen-Shannon divergence (base 2, in [0, 1]) of the two
    * empirical distributions — the monitoring signal that a source's
    * length/score distribution shifted between corpus versions. JS
    * rather than KL because it needs no smoothing: a value present on
    * one side only contributes a finite term, so the exact histograms
    * are used as-is. A key entirely missing from one side reports the
    * degenerate 0.5 (its `n_a`/`n_b` column exposes the absence).
    *
    * Scale shape: two map-side-combining histogram aggregates (bounded
    * by the value domain, not the corpus), one join and windows over
    * HISTOGRAM rows, one scalar aggregate per key. Per-term arithmetic
    * is stated identically in the DuckDB oracle; only the float SUM
    * order is engine-defined, so queries emit the divergence
    * r6-rounded.
    *
    * Output: (keyCol, js_divergence, n_a, n_b).
    */
  def histogramDivergence(dfA: DataFrame, dfB: DataFrame, keyCol: String,
                          valCol: String): DataFrame = {
    def hist(df: DataFrame, cnt: String) =
      df.filter(col(valCol).isNotNull)
        .groupBy(col(keyCol), col(valCol).as("_v"))
        .agg(count(lit(1)).as(cnt))
    val joined = hist(dfA, "_ca")
      .join(hist(dfB, "_cb"), Seq(keyCol, "_v"), "full_outer")
      .select(col(keyCol), col("_v"),
        coalesce(col("_ca"), lit(0L)).as("_ca"),
        coalesce(col("_cb"), lit(0L)).as("_cb"))
    val byKey = Window.partitionBy(col(keyCol))
    val p = when(col("_na") > 0,
      col("_ca").cast("double") / col("_na").cast("double")).otherwise(0.0)
    val q = when(col("_nb") > 0,
      col("_cb").cast("double") / col("_nb").cast("double")).otherwise(0.0)
    val term =
      lit(0.5) * (when(col("_p") > 0,
          col("_p") * log2(lit(2.0) * col("_p") / (col("_p") + col("_q"))))
          .otherwise(0.0) +
        when(col("_q") > 0,
          col("_q") * log2(lit(2.0) * col("_q") / (col("_p") + col("_q"))))
          .otherwise(0.0))
    joined
      .withColumn("_na", sum(col("_ca")).over(byKey))
      .withColumn("_nb", sum(col("_cb")).over(byKey))
      .withColumn("_p", p)
      .withColumn("_q", q)
      .groupBy(col(keyCol))
      .agg(sum(term).as("js_divergence"),
        max(col("_na")).as("n_a"), max(col("_nb")).as("n_b"))
  }

  /** Per-source corpus report — the monitoring read of a curation run:
    * document count, total/mean/min/max tokens, and the exact lower
    * median from [[histogramQuantile]]. Everything is exact integer
    * arithmetic plus ONE division for the mean, so the report is fully
    * sql-oracleable. Two corpus passes (count/sum/min/max aggregate +
    * the histogram), both map-side-combining; the median join runs on
    * one row per source.
    */
  def sourceReport(df: DataFrame, sourceCol: String,
                   tokenCol: String): DataFrame = {
    val agg = df.groupBy(col(sourceCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(col(tokenCol)).cast("long").as("n_tokens"),
      min(col(tokenCol)).as("min_tokens"),
      max(col(tokenCol)).as("max_tokens"))
    val med = histogramQuantile(df, sourceCol, tokenCol, 1, 2)
      .select(col(sourceCol), col("q_value").as("p50_tokens"))
    // LEFT join (ADVICE r6): the median excludes null values, so a key
    // whose value column is ENTIRELY null has no median row — a
    // monitoring report must still show that source (n_docs, null
    // min/max/p50) rather than silently dropping it
    agg.join(med, Seq(sourceCol), "left")
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("n_docs")).as("mean_tokens"),
        col("min_tokens"), col("p50_tokens"), col("max_tokens"))
  }

  /** The (idCol, _tgt, bucket) hashed-bigram projection shared by the
    * model fit and the scoring pass — row-local + explode, 8-byte
    * longs only past this point.
    */
  private def bigramBuckets(df: DataFrame, idCol: String, textCol: String,
                            isTarget: Column, numBuckets: Int): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), isTarget.as("_tgt"),
        split(col(textCol), " ").as("_ws"))
      .filter(size(col("_ws")) >= 2)
      .select(col(idCol), col("_tgt"), col("_ws"),
        explode(sequence(lit(1), size(col("_ws")) - 1)).as("_i"))
      .select(col(idCol), col("_tgt"),
        (conv(substring(md5(concat_ws(" ",
            element_at(col("_ws"), col("_i")),
            element_at(col("_ws"), col("_i") + 1))), 1, 8), 16, 10)
          .cast("long") % numBuckets).as("bucket"))

  /** The fitted DSIR model on its own: (bucket, lr) — the bounded
    * artifact a STREAMING gate embeds
    * ([[graft.streaming.Streaming.dsirScoreStream]]). Buckets the fit
    * corpus never produced are simply absent (their smoothed ratio is
    * a constant the scorers treat as 0 by the inner-join convention).
    */
  def dsirModel(df: DataFrame, idCol: String, textCol: String,
                isTarget: Column, numBuckets: Int = 1024): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    val grams = bigramBuckets(df, idCol, textCol, isTarget, numBuckets)
    val model = grams.groupBy(col("bucket")).agg(
      count(lit(1)).as("_cq"),
      count(when(col("_tgt"), lit(1))).as("_cp"))
    val totals = grams.agg(
      count(lit(1)).as("_nq"),
      count(when(col("_tgt"), lit(1))).as("_np"))
    model.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((col("_cp") + 1.0) / (col("_np") + numBuckets)) -
          log((col("_cq") + 1.0) / (col("_nq") + numBuckets))).as("lr"))
  }

  /** L16: DSIR importance weights (Xie et al. 2023, arXiv:2302.03169
    * "Data Selection for Language Models via Importance Resampling"):
    * score every document by how much more likely its hashed-bigram
    * features are under a TARGET distribution (a curated subset
    * standing in for "high-quality text") than under the raw corpus —
    * `log w(doc) = Σ_grams [log p̂_target(bucket) − log p̂_corpus(bucket)]`
    * with add-one smoothing over `numBuckets` hashed buckets. The
    * selection policy (top-k, weight-proportional resample) is the
    * caller's; this emits the per-doc evidence.
    *
    * Feature hashing is md5-based (`int(md5(gram)[0:8]) mod buckets`)
    * — engine-portable, so the DuckDB oracle restates the identical
    * bucketing (the text_fingerprint convention) and the whole score
    * is hash-checked end-to-end. Docs with fewer than 2 tokens have no
    * features and emit no row (the text_lm_score convention).
    *
    * Scale shape: bigram→bucket is a row-local projection + explode
    * carrying (doc_id, bucket, is_target) — 8-byte longs, never gram
    * strings; BOTH models fit in ONE `numBuckets`-bounded aggregation
    * (conditional count for the target side — the target is a subset
    * of the corpus, not a second scan); totals are a 1-row broadcast;
    * the log-ratio table is `numBuckets` rows broadcast back; the only
    * corpus-scale exchange is the per-doc weight sum. The gram
    * projection is referenced twice (model fit + scoring) — both are
    * the same cheap projection over the scan, no shuffle (the
    * semanticNearDup recompute note).
    *
    * Output: (idCol, n_bigrams, logw) — logw UNROUNDED; callers on the
    * oracle surface round once at output.
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, numBuckets: Int = 1024): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    val grams = bigramBuckets(df, idCol, textCol, isTarget, numBuckets)
    grams.join(broadcast(dsirModel(df, idCol, textCol, isTarget, numBuckets)),
        "bucket")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(col("lr")).as("logw"))
  }

  /** L16b: Gumbel-top-k importance RESAMPLING — the selection half of
    * DSIR (Xie et al. 2023 §2: sampling k docs without replacement
    * with probability ∝ w(doc) equals taking the top k of
    * `log w + Gumbel noise`). The noise is hash-derived, NOT random:
    * `g = −ln(−ln(u))` with `u = (hashU32(id) + 0.5) / 2^32` — the
    * portable Knuth hash, so the same corpus + weights select the SAME
    * k docs on every engine and every re-run (the reproducibility
    * contract every sampler in this file carries).
    *
    * The selection key is the score ROUNDED to 1e-6 (the shared
    * `floor(x·10⁶ + 0.5001)/10⁶` output-rounding formula) with the id
    * as tie-break: engines agree on ln only to the last ulp, and an
    * unrounded order could flip two docs straddling the k-cutoff by
    * 1e-15 — on the rounded grid both engines state the identical
    * selection.
    *
    * Scale shape: score is a row-local projection; `orderBy(...).limit(k)`
    * plans as TakeOrdered — map-side partial top-k per partition, one
    * k-row collect to the driver side of the exchange, never a full
    * sort; the rank window then runs over k rows only.
    *
    * Output: (idCol, logw, score, sample_rank 1..k).
    */
  def dsirResample(weights: DataFrame, idCol: String, logwCol: String,
                   k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val u = (hashU32(col(idCol)).cast("double") + 0.5) / M32.toDouble
    val gumbel = -log(-log(u))
    val score = floor((col(logwCol) + gumbel) * 1e6 + lit(0.5001)) / 1e6
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col(idCol).asc)
    weights.select(col(idCol), col(logwCol), score.as("score"))
      .orderBy(col("score").desc, col(idCol).asc).limit(k)
      .withColumn("sample_rank", row_number().over(w).cast("long"))
  }

  /** The END-TO-END curation funnel as ONE declarative plan: quality
    * gate → exact dedup keep-one → eval-set decontamination →
    * reproducible Bernoulli sample → per-source token budget →
    * offset packing, reported as per-source stage accounting
    * (cumulative doc counts, surviving token mass, and the pack
    * layout pinned by `sum_tok_offset`/`n_packs`). The stages are the
    * AssemblySpec chain (each operator spec'd alone elsewhere); this
    * operator exists to measure what a 100 TB pipeline actually pays
    * — EXCHANGE REUSE across stages — rather than the sum of six
    * standalone jobs.
    *
    * Scale shape — the corpus is scanned ONCE and exchanged exactly
    * TWICE, with every stage restated as a row-local flag or a window
    * riding one of those two exchanges (PlanSpec pins scan/exchange
    * counts):
    *   1. gate: row-local (token floor + digit-ratio cap);
    *   2. decontamination: row-local `arrayCountInSet` against the
    *      benchmark's driver-collected shingle-hash set (eval sets
    *      are tiny by contract — the [[graft.dedup.Dedup.contaminationFraction]]
    *      / stream-gate precedent; its bounded collect runs at
    *      CONSTRUCTION time);
    *   3. exact dedup: `min(id) over (partition by sha2(text))` among
    *      gated rows — exchange #1, by content hash;
    *   4. sample: row-local [[hashUniform]] < rate;
    *   5. budget: the per-source rate is a whole-partition window sum
    *     over exchange #2 (by source) — NOT a separate aggregate
    *     joined back, which would recompute the whole upstream
    *     lineage (the diurnal_predict_minfirst lesson);
    *   6. pack offsets: an ordered window on the SAME source
    *      exchange; the final per-source aggregation also rides it
    *      (window partitioning == grouping key ⇒ no further
    *      exchange).
    *
    * Budget note: the budget stage reuses the same id hash as the
    * sample stage (the [[sampleToTokenBudget]] convention), so its
    * effective keep is `u < min(sampleRate, rate)` — deterministic
    * and engine-reproducible, stated here because the correlation is
    * intentional (one hash = one consistent survival order per doc:
    * tightening budgets only ever SHRINKS the kept set).
    *
    * Pack-stage granularity: offsets here ride the per-source ordered
    * window because the output is per-source accounting anyway; for a
    * low-cardinality source domain over a real 100 TB corpus the
    * standalone pack step should use [[packSequencesScalable]]'s
    * sub-shard layout instead (see its shard-granularity contract).
    * `sum_tok_offset` = Σ over budgeted docs of their running token
    * offset — a single number that pins the ENTIRE layout (any
    * reorder, drop, or off-by-one shifts it); `n_packs` =
    * max(pack_id)+1 at `packCapacity` tokens per pack.
    */
  def curationPipeline(docs: DataFrame, idCol: String, sourceCol: String,
                       textCol: String, benchmark: DataFrame,
                       benchTextCol: String, minTokens: Int = 5,
                       maxDigitRatio: Double = 0.5, shingleN: Int = 5,
                       minOverlap: Int = 3, sampleRate: Double = 0.5,
                       budgetTokens: Long = 2000L,
                       packCapacity: Int = 512,
                       maxMembershipHashes: Long = 2000000L): DataFrame = {
    require(minTokens > 0 && shingleN > 0 && minOverlap > 0 &&
      packCapacity > 0 && budgetTokens > 0, "pipeline knobs must be positive")
    require(sampleRate > 0.0 && sampleRate <= 1.0,
      "sampleRate must be in (0, 1]")
    require(maxMembershipHashes >= 0, "maxMembershipHashes must be >= 0")
    // DECONTAM SIZE VALVE (r14, verdict-r13 item 2): the row-local
    // membership path embeds the benchmark's distinct shingle hashes
    // in the plan as a LongMembership literal — O(1) per-row and
    // exchange-free, but the literal travels in every task binary and
    // its driver-side mass is corpus-UNBOUNDED when the benchmark is
    // derived from a corpus slice (r13's own sg1000 run put 10M hashes
    // ≈ 80 MB into the tree). Above `maxMembershipHashes` distinct
    // hashes the pipeline therefore falls back to the broadcast
    // semi-join shape of [[graft.dedup.Dedup.contaminatedIds]]: the
    // bench hashes ship ONCE per executor as a broadcast (never in the
    // plan tree), the overlap count comes from an explode +
    // broadcast-semi-join + per-id partial count, and it joins the
    // main lineage by id — the price is a second corpus scan (the
    // decontam side's own, text column only) and the id-join
    // exchanges, which is the right trade once the literal stops
    // being "tiny by contract". Both paths are row-identical
    // (AssemblySpec pins it on one fixture). The default threshold
    // (2M hashes ≈ 16 MB of LongMembership literal) is the ceiling
    // where plan-tree mass stays negligible per task binary: every
    // real eval suite (thousands of questions) sits orders of
    // magnitude under it, while a corpus-derived set blows through it
    // — sg1000's bench slice measures 2.48M distinct hashes and
    // engages the valve by default (SCALING.md r14).
    val benchHashes = graft.dedup.Dedup
      .benchShingleHashes(benchmark, benchTextCol, shingleN)
    // ONE construction job decides the valve AND feeds the membership
    // path: collect up to threshold+1 hashes — if the limit did not
    // truncate, the collected array IS the complete set (no second
    // benchmark scan; a separate count() would re-run the whole
    // derivation lineage — measured +15 s at sg100, r14)
    // clamp BEFORE the +1: a caller passing Long.MaxValue to mean
    // "never valve" must not overflow into a negative limit
    val take = (math.min(maxMembershipHashes, Int.MaxValue - 2L) + 1).toInt
    val collected = benchHashes.limit(take).collect()
    val membershipFits = collected.length < take
    val id = col(idCol)
    val nToks = graft.text.TextAnalysis.wsTokenCount(col(textCol)).cast("long")
    val gated = col(textCol).isNotNull && nToks >= minTokens &&
      graft.text.TextAnalysis.digitRatio(col(textCol)) <= maxDigitRatio
    val u = hashUniform(id)
    val wContent = Window.partitionBy(col("_h"))
    val wSource = Window.partitionBy(col(sourceCol))
    val wPack = Window.partitionBy(col(sourceCol)).orderBy(id)
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = docs
      .select(id, col(sourceCol), col(textCol))
      .withColumn("_n", nToks)
      .withColumn("_g", gated)
      // EVERYTHING that reads the text is computed here, BELOW the
      // content exchange — the content hash and the decontam overlap
      // count — so the shuffle carries ids and flag-width columns, not
      // document bodies. With the overlap count above the window (the
      // first wiring), column pruning could not drop `text` from the
      // exchange payload: at mult=1000 that is ~GBs of text shuffled
      // to move what one int per row states.
      // Null-text rows get a synthetic per-row key: sha2(null) is null
      // and a null key would funnel every null-text doc into ONE
      // wContent partition (the pruneNearDups hot-partition hazard).
      // Correctness is unaffected — such rows are never gated.
      .withColumn("_h", coalesce(sha2(col(textCol), 256),
        concat(lit("_null_"), id.cast("string"))))
    val withNov = if (membershipFits) {
      val benchSet = collected.map(_.getLong(0)).toSet
      base.withColumn("_nov", org.apache.spark.sql.graft.TextExpressions
          .arrayCountInSet(org.apache.spark.sql.graft.TextExpressions
            .shingleHashes(col(textCol), shingleN), benchSet).cast("long"))
        .drop(textCol)
    } else {
      // contaminatedIds with minOverlap=1 = every doc with a non-zero
      // overlap count; docs it misses have _nov = 0 by definition
      val ov = graft.dedup.Dedup.contaminatedIds(docs, idCol, textCol,
          benchmark, benchTextCol, shingleN, minOverlap = 1)
        .withColumnRenamed("doc_id", "__ov_id")
      base.drop(textCol)
        .join(ov, id === col("__ov_id"), "left")
        .withColumn("_nov", coalesce(col("n_overlap"), lit(0L)))
        .drop("__ov_id", "n_overlap")
    }
    val flagged = withNov
      // keep-one: smallest gated id per content (dedup_exact's sha2
      // convention); the conditional min ignores ungated rows
      .withColumn("_dedup", col("_g") &&
        id === min(when(col("_g"), id)).over(wContent))
      .withColumn("_clean", col("_dedup") && !(col("_nov") >= minOverlap))
      .withColumn("_samp", col("_clean") && u < sampleRate)
      .withColumn("_rate", least(lit(1.0), lit(budgetTokens.toDouble) /
        sum(when(col("_samp"), col("_n"))).over(wSource)))
      .withColumn("_bud", col("_samp") && u < col("_rate"))
      .withColumn("_off",
        coalesce(sum(when(col("_bud"), col("_n"))).over(wPack), lit(0L)))
    flagged.groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("_g"), lit(1))).as("n_gated"),
        count(when(col("_dedup"), lit(1))).as("n_deduped"),
        count(when(col("_clean"), lit(1))).as("n_clean"),
        count(when(col("_samp"), lit(1))).as("n_sampled"),
        count(when(col("_bud"), lit(1))).as("n_budgeted"),
        coalesce(sum(when(col("_bud"), col("_n"))), lit(0L))
          .as("toks_budgeted"),
        coalesce(sum(when(col("_bud"), col("_off"))), lit(0L))
          .as("sum_tok_offset"),
        coalesce(max(when(col("_bud"),
            floor(col("_off") / packCapacity).cast("long"))) + 1L, lit(0L))
          .as("n_packs"))
  }

  /** Context-window chunking: split each document's whitespace tokens
    * into fixed-size windows of `chunkTokens` advancing by `stride`
    * (stride < chunkTokens gives overlapping windows) — the step that
    * turns curated documents into trainer-ready sequences. Row-local:
    * one split + one bounded explode per document, no shuffle; the
    * trailing window keeps whatever tokens remain (the trainer's
    * packer absorbs short tails — see [[packSequences]]).
    *
    * Output: idCol + `chunk_idx` (0-based), `chunk_start` (0-based
    * token offset), `n_chunk_tokens`, `chunk_text`.
    */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(stride > 0 && stride <= chunkTokens,
      "stride must be in (0, chunkTokens]")
    val words = split(trim(col(textCol)), "\\s+")
    df.withColumn("_ws", words)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(col("_ws")) - 1, lit(stride)),
          s => struct(s.as("start"),
            slice(col("_ws"), s + 1, lit(chunkTokens)).as("chunk"))))
        .as(Seq("chunk_idx", "_c")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("_c.start").cast("long").as("chunk_start"),
        size(col("_c.chunk")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("_c.chunk")).as("chunk_text"))
  }
}
