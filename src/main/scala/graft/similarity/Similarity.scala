package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CentroidExpressions
import graft.functions.cosineSimilarity

/** Similarity search over embedding columns (SURVEY §2 H1-H3, G5).
  *
  * Scale design (100 TB):
  *   - brute force = broadcast the query vector, one scan, top-k via
  *     global TakeOrdered (no full sort materialization);
  *   - hyperplane LSH = row-local signature (one projection), banded
  *     buckets, candidates from an equi-join — never all-pairs;
  *   - IVF/k-means = a k x dim driver-side centroid table embedded in a
  *     row-local argmax projection (NearestCentroidIds) — assignment
  *     never joins, never exchanges, never amplifies the corpus x k;
  *     query probes only nProbe centroid buckets.
  */
object Similarity {

  /** Deterministic +/-1 hyperplanes (seeded) — the matrix embedded in
    * the banding expression. Same Random-consumption order as the
    * original literal-column formulation, so the planes — and every
    * downstream candidate set — are bit-identical across the rewrite.
    */
  private[graft] def planes(numBits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numBits)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Sign-of-dot-product bit per hyperplane, packed into band values of
    * `bitsPerBand` bits each. Output: idCol, band (index), bv (value).
    *
    * The whole signature is ONE row-local codegen expression
    * ([[org.apache.spark.sql.graft.HyperplaneBandValues]]) + posexplode
    * — the MinHashSignature shape. The previous formulation (numBits
    * `when(vectorDot > 0)` columns summed per band) built an expression
    * tree too large for whole-stage codegen, dropping the projection to
    * interpreted eval (measured 1.8 s of dedup_embed's 2.9 s wall).
    * Null-vector rows produce NO band rows (a shared null bucket would
    * pair every null-vector doc with every other).
    */
  def lshBands(df: DataFrame, idCol: String, vecCol: String, dim: Int,
               numBits: Int, bitsPerBand: Int, seed: Long = 42L): DataFrame =
    df.select(col(idCol),
      posexplode(org.apache.spark.sql.graft.VectorExpressions
        .hyperplaneBands(col(vecCol), planes(numBits, dim, seed), bitsPerBand))
        .as(Seq("band", "bv")))

  /** Exact-cosine verification of a candidate pair list: two equi-joins
    * pull each side's vector, one fused codegen cosine per pair, filter
    * at the threshold. Shared by every candidate generator (LSH bands,
    * k-means clusters) — candidates in, verified pairs out, never
    * all-pairs.
    */
  private def verifyCosine(cand: DataFrame, df: DataFrame, idCol: String,
                           vecCol: String, threshold: Double): DataFrame = {
    val va = df.select(col(idCol).as("id_a"), col(vecCol).cast("array<double>").as("v_a"))
    val vb = df.select(col(idCol).as("id_b"), col(vecCol).cast("array<double>").as("v_b"))
    cand.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        cosineSimilarity(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** (id, v, bands): each non-null vector with its hyperplane band
    * values — the carried payload of [[embeddingNearDup]] and
    * [[graft.streaming.Streaming.embedCheckStream]], so the batch and
    * stream gates cannot drift on planes or band layout.
    */
  private[graft] def bandedVectors(df: DataFrame, idCol: String, vecCol: String,
                                   dim: Int, numBits: Int,
                                   bitsPerBand: Int): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"),
        org.apache.spark.sql.graft.VectorExpressions.hyperplaneBands(col(vecCol),
          planes(numBits, dim, 42L), bitsPerBand).as("bands"))

  /** Band `k` of a [[bandedVectors]] row: read from its carried array. */
  private[graft] val vectorBanding: graft.dedup.Dedup.Banding =
    (k, c) => element_at(c("bands"), k + 1)

  /** G5: embedding near-dup pairs — LSH-banded candidates verified by
    * exact cosine >= threshold.
    *
    * r11 shape (the simhash/hamming carried-payload rewrite applied to
    * vectors): the shared [[graft.dedup.Dedup.bandedSelfJoin]], each
    * side CARRYING its vector and its full band-value array, so the
    * exactly-once pair dedup (first shared band whose bucket survived
    * the cap) and the fused-codegen cosine verify are row-local
    * projections on the single join — no candidate materialization, no
    * distinct(), no verify join-backs (the old cappedBucketPairs
    * composition paid all three; its removal cut dedup_simhash 9x at
    * mult=10). The only corpus-scale exchange is the banded-row shuffle
    * for the join itself. Buckets over `maxBucketSize` are dropped
    * before the join (bounding the quadratic in-bucket mass) — the
    * simhash/hamming cap contract, replacing the old star-anchor
    * degrade.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                       threshold: Double, numBits: Int = 64,
                       bitsPerBand: Int = 8,
                       maxBucketSize: Int = 10000): DataFrame =
    graft.dedup.Dedup.bandedSelfJoin(
        bandedVectors(df, idCol, vecCol, dim, numBits, bitsPerBand),
        numBits / bitsPerBand, vectorBanding, maxBucketSize)
      .select(col("_aid").as("id_a"), col("_bid").as("id_b"),
        cosineSimilarity(col("_av"), col("_bv")).as("cosine"))
      .filter(col("cosine") >= threshold)

  /** G9: SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with k-means, then
    * look for high-cosine pairs WITHIN each cluster only — the cluster
    * assignment is the candidate blocker, turning the quadratic
    * all-pairs search into k independent in-cluster searches
    * (carried-vector self-join per cluster, over-cap clusters
    * excluded — see [[semanticNearDupWithCentroids]]).
    *
    * Scale shape: centroids are a k x dim driver table (the only
    * materialization, same as IVF); assignment is a ROW-LOCAL argmax
    * projection ([[org.apache.spark.sql.graft.NearestCentroidIds]]) —
    * zero joins, zero exchanges, the corpus never amplifies x k;
    * candidate pairing shuffles ids+cluster only (vectors re-join at
    * verify, candidates only). Recall is intra-cluster by construction
    * — a pair straddling a cluster boundary is missed, the documented
    * SemDeDup trade; raise k for precision of the blocker, not recall.
    *
    * Returns (id_a, id_b, cid, cosine) — the cluster id rides along so
    * keep-one policies can audit per-cluster prune rates. The
    * assignment subtree is referenced twice (pair generation + the cid
    * annotation); both references are the same cheap projection over
    * the scan, so the recompute is one extra argmax pass, no shuffle.
    *
    * `fitSampleRate` < 1 fits the k-means centroids on a reproducible
    * [[graft.mix.Mix.sampleByHash]] subset (the 100 TB shape — Lloyd
    * iterations scan the sample, the full corpus is assigned once by
    * the argmax projection); 1.0 fits on everything.
    */
  def semanticNearDup(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iterations: Int, threshold: Double,
                      maxClusterSize: Int = 10000,
                      fitSampleRate: Double = 1.0): DataFrame =
    semanticNearDupWithCentroids(df, idCol, vecCol,
      kmeansCentroidArray(df, idCol, vecCol, k, iterations, fitSampleRate),
      threshold, maxClusterSize)

  /** The blocker + in-cluster pairing + verify back half of
    * [[semanticNearDup]] with the centroid table INJECTED — shared by
    * the fitted path above and the fixed-literal-centroid
    * `dedup_semantic_det` (which removes the fit so the whole chain is
    * DuckDB-oracleable, the ann_ivf_det pattern).
    *
    * r11 shape: assignment is the row-local argmax; pairs come from
    * ONE self-equi-join on the cluster id with both sides CARRYING
    * their vectors — a single join key means every pair joins exactly
    * once, so there is no dedup step at all, and the fused-codegen
    * cosine verify is a projection on the join output (the old
    * cappedBucketPairs composition paid a count window, a distinct
    * over candidates, and two verify join-backs). Clusters larger than
    * `maxClusterSize` are EXCLUDED (their in-cluster pair mass is
    * quadratic; the old star-anchor degrade silently under-reported
    * exactly the densest region) — the k-row size aggregate that
    * enforces this is also how callers should audit: an over-cap
    * cluster means k is too small for the corpus, and the SemDeDup
    * answer is to raise k, not to sample the mega-cluster.
    */
  private[graft] def semanticNearDupWithCentroids(df: DataFrame,
                                                  idCol: String,
                                                  vecCol: String,
                                                  cents: Array[(Long, Array[Double])],
                                                  threshold: Double,
                                                  maxClusterSize: Int): DataFrame = {
    val assigned = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v"),
        CentroidExpressions.nearestCentroidId(col(vecCol), cents).as("_cid"))
    val kept =
      if (maxClusterSize == Int.MaxValue) assigned
      else {
        val small = assigned.groupBy(col("_cid"))
          .agg(count(lit(1)).as("_cn"))
          .filter(col("_cn") <= maxClusterSize).select(col("_cid"))
        assigned.join(broadcast(small), Seq("_cid"))
      }
    val b = kept.select(col("_cid"), col("_id").as("_idb"),
      col("_v").as("_vb"))
    kept.join(b, Seq("_cid"))
      .filter(col("_id") < col("_idb"))
      .select(col("_id").as("id_a"), col("_idb").as("id_b"),
        col("_cid").as("cid"),
        cosineSimilarity(col("_v"), col("_vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** H1: brute-force cosine top-k against a single-row query DataFrame
    * (broadcast) — the exactness baseline.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: DataFrame, k: Int): DataFrame =
    df.crossJoin(broadcast(query.select(col(vecCol).cast("array<double>").as("_qv"))))
      .select(col(idCol),
        cosineSimilarity(col(vecCol).cast("array<double>"), col("_qv")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)

  /** H8 `ann_hamming`: top-k nearest documents by 64-bit fingerprint
    * Hamming distance — binary-sketch retrieval, the cheapest ANN leg
    * (a 64-bit xor + popcount per row against an 8-byte query sketch;
    * the standard first stage before an exact or embedding rerank).
    * Fingerprints are the portable md5-sign SimHash
    * ([[org.apache.spark.sql.graft.PortableSimHash64]]), so unlike the
    * float-cosine ANN family the WHOLE ranking is integer-deterministic
    * and DuckDB-oracleable: distance and the (hamming, id) tie-break
    * are exact on both engines. Plan: one codegen fingerprint
    * projection, one broadcast of the 1-row query fingerprint,
    * TakeOrderedAndProject for the top-k (map-side partial top-k,
    * never a full sort).
    */
  def hammingTopK(docs: DataFrame, idCol: String, textCol: String,
                  query: DataFrame, queryTextCol: String, k: Int): DataFrame = {
    // fingerprints come from THE shared Dedup front end (review-pass
    // fix: a local re-derivation here could silently drift from the
    // sketches dedup_hamming dedups with)
    val corpus = graft.dedup.Dedup.fingerprintWords(docs, idCol, textCol)
      .withColumnRenamed("doc_id", idCol)
    // the query frame must hold exactly ONE non-null-text row — a
    // driver-side head(2) states it (ADVICE r10: the previous bare
    // limit(1) silently picked an arbitrary row from a multi-row
    // query, and a null/absent query text yielded an empty result
    // instead of an error)
    val qRows = query.filter(col(queryTextCol).isNotNull).head(2)
    require(qRows.length == 1,
      s"hammingTopK query frame must contain exactly one non-null-text " +
        s"row (got ${qRows.length})")
    val q = graft.dedup.Dedup
      .fingerprintWords(query.filter(col(queryTextCol).isNotNull)
        .withColumn("_qid", lit(0L)), "_qid", queryTextCol)
      .select(col("_lo").as("_qlo"), col("_hi").as("_qhi"))
    corpus.crossJoin(broadcast(q))
      .select(col(idCol),
        (bit_count(col("_lo").bitwiseXOR(col("_qlo"))) +
          bit_count(col("_hi").bitwiseXOR(col("_qhi"))))
          .cast("long").as("hamming"))
      .orderBy(col("hamming"), col(idCol))
      .limit(k)
  }

  /** H2: LSH-bucketed ANN — candidates share >= 1 signature band with
    * the query; exact cosine top-k within candidates only.
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, dim: Int,
              query: DataFrame, k: Int, numBits: Int = 48,
              bitsPerBand: Int = 6): DataFrame = {
    val bands = lshBands(df, idCol, vecCol, dim, numBits, bitsPerBand)
    val qBands = lshBands(query.select(lit(0L).as("_qid"), col(vecCol)),
      "_qid", vecCol, dim, numBits, bitsPerBand)
      .select(col("band").as("qband"), col("bv").as("qbv"))
    val candIds = bands
      .join(broadcast(qBands), col("band") === col("qband") && col("bv") === col("qbv"))
      .select(col(idCol)).distinct()
    bruteForceTopK(df.join(candIds, idCol), idCol, vecCol, query, k)
  }

  /** Symmetric per-vector int8 quantization — the storage/bandwidth
    * step of embedding pipelines (a 64-dim float32 vector becomes 64
    * bytes + one scale): `code_i = round_half_up(x_i / qscale)` with
    * `qscale = max|x| / 127`, so codes span [-127, 127] and
    * `code_i * qscale` reconstructs within qscale/2 per element.
    * Everything is a row-local projection over the scan — no shuffle,
    * no state — and every step (abs/max, two IEEE divisions, floor) is
    * exact-deterministic, so quantized corpora reproduce bit-for-bit
    * across engines (the oracle states the identical arithmetic).
    * A zero vector quantizes to all-zero codes with qscale 0.
    *
    * Output: idCol, `l2_norm` (the pre-quantization norm, kept because
    * cosine over codes needs it), `qscale`, `codes` (array<long>).
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // max|x| is projected ONCE: inlining it would re-evaluate the
    // array transform in the CASE condition, the scale, and each
    // lambda (CASE duplicates branch expressions — the langIdBest trap)
    val v = col(vecCol).cast("array<double>")
    val staged = df.select(col(idCol), v.as("_v"),
      array_max(transform(v, x => abs(x))).as("_ma"))
    val scale = col("_ma") / lit(127.0)
    staged.select(col(idCol),
      sqrt(org.apache.spark.sql.graft.VectorExpressions
        .vectorDot(col("_v"), col("_v"))).as("l2_norm"),
      scale.as("qscale"),
      when(col("_ma") === 0, transform(col("_v"), _ => lit(0L)))
        .otherwise(transform(col("_v"),
          x => floor(x / scale + lit(0.5)).cast("long")))
        .as("codes"))
  }

  /** Johnson-Lindenstrauss SIGN random projection: `outDim` output
    * components with out[j] = (Σ_i v[i]·s(i,j)) / sqrt(outDim),
    * s(i,j) ∈ {+1,−1} derived from the avalanche mix hash
    * ([[graft.mix.Mix.hashMix32Long]]) of the flat cell index
    * `i·outDim + j + seed` — pure 64-bit integer arithmetic, so the
    * SAME matrix is reproducible in any engine (and across cluster
    * restarts) without ever shipping data: the inDim×outDim sign table
    * is derived on the driver (bounded, like the k-means centroid
    * table) and rides in the plan as `outDim` literal arrays feeding
    * codegen [[org.apache.spark.sql.graft.VectorExpressions.vectorDot]]
    * columns. That keeps the operator a ROW-LOCAL zero-exchange
    * whole-stage-codegen projection — the 100 TB shape for a
    * dimensionality-reduction pass. (A first formulation recomputed
    * each cell's hash inline in an `aggregate` HOF: same numbers,
    * engine-independent too, but HOF lambdas run interpreted —
    * 512 expression-tree walks per row made it the slowest query in
    * the bench at 4.1 s; the literal-matrix dot is ~milliseconds.)
    *
    * The sign is the HIGH bit of the mixed hash; hashMix32, NOT
    * hashU32 — cell keys are sequential, and the sign bit of a
    * multiplicative (Weyl) hash over sequential keys is quasi-periodic
    * and lag-correlated, which systematically cancels structured
    * inputs (measured: norm-preservation ratio 0.12 instead of ~1 on
    * patterned vectors). The avalanche mix restores the
    * pairwise-independence the JL guarantee leans on.
    *
    * The dot accumulates left-to-right over i, so an oracle folding in
    * the same order reproduces it bit-for-bit up to the documented r6
    * output rounding. Vectors whose length differs from `inDim`
    * project to nulls (vectorDot's length-mismatch contract) rather
    * than silently truncating. Returns (idCol, `proj` array<double>).
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    inDim: Int, outDim: Int, seed: Long = 0L): DataFrame = {
    require(inDim > 0, "inDim must be positive")
    require(outDim > 0, "outDim must be positive")
    val invRoot = lit(1.0 / math.sqrt(outDim.toDouble))
    val projCols = (0 until outDim).map { j =>
      val signs = Array.tabulate(inDim) { i =>
        if (graft.mix.Mix.hashMix32Long(i.toLong * outDim + j + seed)
          < 2147483648L) 1.0 else -1.0
      }
      org.apache.spark.sql.graft.VectorExpressions
        .vectorDot(col("_v"), lit(signs)) * invRoot
    }
    df.select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
      .select(col(idCol), array(projCols: _*).as("proj"))
  }

  /** Lloyd's k-means over an embedding column, as DataFrame ops:
    * seeds = the first k vectors by id (deterministic), then
    * `iterations` rounds of assign (row-local argmax projection —
    * zero joins, zero exchanges) + per-centroid mean (posexplode + avg
    * by dimension). Only the k x dim centroid table ever reaches the
    * driver — that is the table the assignment projection embeds
    * anyway. Returns (cid, vector).
    *
    * `fitSampleRate` < 1 runs the whole fit — seeding and every Lloyd
    * iteration — on a reproducible [[graft.mix.Mix.sampleByHash]]
    * subset instead of the full corpus. That is the 100 TB contract:
    * centroid quality needs a representative sample, not every row, so
    * the per-iteration scan + posexplode mean shrink by 1/rate while
    * the full corpus is assigned ONCE (by the caller, via the argmax
    * projection). At 1.0 the fit is exactly the full-corpus fit — same
    * seeds, same iterations, same centroids.
    */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int,
                      iterations: Int, fitSampleRate: Double = 1.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    kmeansCentroidArray(df, idCol, vecCol, k, iterations, fitSampleRate)
      .toSeq.toDF("cid", "centroid")
  }

  /** [[kmeansCentroids]] as the driver-side k x dim array the argmax
    * assignment projection embeds — the internal form every caller
    * (semanticNearDup, ivfTopK, IvfIndex.build) actually needs.
    */
  private[graft] def kmeansCentroidArray(df: DataFrame, idCol: String,
                                         vecCol: String, k: Int,
                                         iterations: Int,
                                         fitSampleRate: Double = 1.0): Array[(Long, Array[Double])] = {
    require(fitSampleRate > 0.0 && fitSampleRate <= 1.0,
      s"fitSampleRate must be in (0, 1], got $fitSampleRate")
    val fit = if (fitSampleRate >= 1.0) df
              else graft.mix.Mix.sampleByHash(df, idCol, fitSampleRate)
    // null vectors are unindexable and would NPE the seed collect —
    // exclude them from the fit entirely
    val vecs = fit.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
      .persist() // re-scanned every Lloyd iteration
    try {
      var centroids = vecs.orderBy(col(idCol)).limit(k)
        .select(col(idCol).cast("long").as("_cid"), col("_v").as("_cv"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      require(centroids.nonEmpty,
        "k-means fit needs at least one non-null vector (empty corpus / " +
          "all-null vector column / sample rate too low for this corpus)")
      for (_ <- 0 until iterations) {
        val assigned = vecs.select(
          CentroidExpressions.nearestCentroidId(col("_v"), centroids).as("_cid"),
          col("_v"))
        // per-centroid mean: ONE map-side-combining VectorMean aggregate
        // (dim-length partial state per cid) — never a corpus x dim
        // posexplode through an exchange
        val means = assigned
          .groupBy(col("_cid"))
          .agg(org.apache.spark.sql.graft.VectorAggregates
            .vectorMean(col("_v")).as("_cv"))
          .filter(col("_cv").isNotNull)
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        // empty clusters keep their previous centroid
        val updated = means.toMap
        centroids = centroids.map { case (cid, v) => (cid, updated.getOrElse(cid, v)) }
      }
      centroids
    } finally vecs.unpersist()
  }

  /** Bitwise-REPRODUCIBLE Lloyd's k-means: the same fit as
    * [[kmeansCentroids]] restated in quantized integer arithmetic, so
    * the result is identical across partitionings, executor counts,
    * engines, and reruns — the property a 100 TB pipeline needs to
    * re-derive an index fit byte-for-byte for audits or incremental
    * rebuilds. The float fit is order-sensitive in the last ulps of
    * its per-dimension mean; here every order-sensitive step is exact:
    *
    *   - vectors quantize row-local to `floor(x * scale)` longs (the
    *     double multiply and floor are single IEEE ops — identical on
    *     any engine given the same input floats);
    *   - assignment = argmin of the INTEGER squared L2 distance to
    *     each centroid, smallest-cid tie-break (a least-of-structs
    *     projection over the k x dim literal table: row-local, zero
    *     exchanges — the [[CentroidExpressions]] shape);
    *   - the per-centroid mean re-quantizes each round:
    *     `floor(sum / n)` with an exact long sum, so the next round's
    *     assignment is again pure integer arithmetic;
    *   - empty clusters keep their previous centroid (same contract
    *     as [[kmeansCentroidArray]]).
    *
    * Seeds = the vectors of the `k` smallest ids. The per-round mean
    * is a posexplode + (cid, dim) partial-aggregating groupBy — map
    * sides collapse to k x dim rows per partition, so the shuffle is
    * bounded by k x dim x partitions, not the corpus. Returns the
    * final quantized centroid table as (cid, dim, cvalue) rows.
    *
    * Input contract (each makes the failure loud rather than silently
    * breaking the bit-reproducibility promise): rows whose vector is
    * null, empty, or contains a null element are EXCLUDED up front (a
    * null element would null-poison the integer distance fold where a
    * SQL re-derivation's SUM skips it); quantized components must
    * satisfy |x|*scale < ~sqrt(Long.MaxValue / dim) so the squared-L2
    * fold cannot wrap (for 64 dims: |x|*scale < ~3.8e8 — checked on
    * the seed vectors as a cheap tripwire; embeddings at the default
    * 1e6 scale have ~8 orders of headroom), and per-cluster mean sums
    * must stay under 2^53 for the exact double division (n * |x| *
    * scale — at 1e6 scale that is ~9e9 rows per cluster).
    */
  def kmeansCentroidsQuantized(df: DataFrame, idCol: String, vecCol: String,
                               k: Int, iterations: Int,
                               scale: Double = 1e6): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df
      .filter(col(vecCol).isNotNull && size(col(vecCol)) > 0 &&
        !exists(col(vecCol), x => x.isNull))
      .select(col(idCol).cast("long").as("_id"),
        transform(col(vecCol).cast("array<double>"),
          x => floor(x * lit(scale)).cast("long")).as("_v"))
      .persist() // re-scanned for seeds + every Lloyd round
    // try/finally so the seed collect, the overflow require, or a Lloyd
    // round failing cannot leak the cached dataset (the
    // kmeansCentroidArray lesson, ADVICE r11)
    try {
    var cents: Array[(Long, Array[Long])] = vecs.orderBy(col("_id")).limit(k)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    require(cents.length >= 2,
      s"corpus has ${cents.length} usable vectors; k-means needs >= 2")
    val dim = cents.head._2.length
    require(cents.forall(_._2.length == dim),
      s"seed vectors have ragged lengths (${cents.map(_._2.length).distinct.mkString(",")}); " +
        "kmeansCentroidsQuantized requires uniform-dimension vectors")
    val maxSafe = math.sqrt(Long.MaxValue.toDouble / math.max(dim, 1)) / 2
    require(cents.forall(_._2.forall(v => math.abs(v) < maxSafe)),
      s"quantized seed component exceeds the overflow-safe bound $maxSafe " +
        "for the integer distance fold; lower `scale`")
    def assigned: DataFrame = {
      val scored = cents.map { case (cid, cv) =>
        val dist = aggregate(
          zip_with(col("_v"), typedlit(cv.toSeq), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)
        struct(dist.as("d"), lit(cid).as("c"))
      }
      vecs.select(least(scored: _*).getField("c").as("_cid"), col("_v"))
    }
    def roundMeans: DataFrame = assigned
      .select(col("_cid"), posexplode(col("_v")).as(Seq("dim", "x")))
      .groupBy(col("_cid"), col("dim"))
      .agg(sum(col("x")).as("_s"), count(lit(1)).as("_n"))
      .select(col("_cid").as("cid"), col("dim").cast("long").as("dim"),
        floor(col("_s").cast("double") / col("_n")).cast("long").as("_cv"))
    for (_ <- 0 until iterations - 1) {
      val updated = roundMeans.collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          // sized by the SEED dim with explicit bounds checks: a ragged
          // non-seed vector shows up here as a dim index beyond (or a
          // dim count short of) the contract — fail with the contract
          // error, not ArrayIndexOutOfBounds / a silent zero centroid
          // component (ADVICE r11)
          require(rows.length == dim,
            s"cluster $cid aggregated ${rows.length} dimensions, expected $dim: " +
              s"a vector in $vecCol has non-uniform length")
          val arr = new Array[Long](dim)
          rows.foreach { r =>
            val d = r.getLong(1).toInt
            require(d < dim,
              s"vector dimension index $d >= declared dim $dim in $vecCol: " +
                "kmeansCentroidsQuantized requires uniform-dimension vectors")
            arr(d) = r.getLong(2)
          }
          (cid, arr)
        }
      cents = cents.map { case (cid, old) => (cid, updated.getOrElse(cid, old)) }
    }
    // the final round stays distributed; empty clusters fall back to
    // the previous round's centroid via the tiny k x dim literal table
    val prev = cents.toSeq.flatMap { case (cid, cv) =>
      cv.zipWithIndex.map { case (v, d) => (cid, d.toLong, v) }
    }.toDF("cid", "dim", "_prev")
    roundMeans.join(prev, Seq("cid", "dim"), "full")
      .select(col("cid"), col("dim"),
        coalesce(col("_cv"), col("_prev")).as("cvalue"))
      .localCheckpoint(true) // eager: safe to unpersist vecs after
    } finally vecs.unpersist()
  }

  /** A (cid, vector) DataFrame as the driver-side array the assignment
    * projection embeds — k x dim, the same bounded materialization the
    * old broadcast required.
    */
  private[graft] def collectCentroids(cents: DataFrame, cidCol: String,
                                      vecCol: String): Array[(Long, Array[Double])] =
    cents.select(col(cidCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** H6: product-quantization ANN (Jégou et al. 2011, the FAISS `PQ`
    * index family) in its asymmetric inner-product form: the vector
    * splits into `m` subvectors, each subspace gets a `kSub`-centroid
    * spherical-k-means codebook (all m fit TOGETHER in one exploded
    * Lloyd's pass per iteration — [[pqCodebooks]]; sample-fit via
    * `fitSampleRate`, the IVF contract), and every vector is ENCODED
    * as m small codes by the zero-exchange codegen argmax. The query never decodes anything: per subspace it
    * precomputes the m×kSub look-up table `lut_j[c] = <q_j, c_jc>`
    * driver-side, so the estimated score `Σ_j lut_j[code_j]` —
    * asymmetric distance computation — is a row-local array-literal
    * lookup, and the top-k is TakeOrdered.
    *
    * Scale shape: the corpus is scanned once for encoding+scoring
    * (fused in one codegen projection — codes never materialize unless
    * asked), the codebooks are m×kSub×subDim driver-side literals
    * (the centroid-table bound), and nothing shuffles but the final
    * top-k partials. At 100 TB the codes (m bytes/vector vs 4·dim) are
    * the point: encode once, store codes, re-score any query from LUTs
    * without touching the float corpus.
    *
    * Approximate by construction (codebooks are float-sum-order-
    * defined like every distributed k-means) → rows-only contract;
    * the spec pins an exactness degenerate case (kSub = n: every
    * vector is its own codeword, ADC = exact dot) and cluster recall.
    *
    * Output: (idCol, `adc_score` = estimated <q, x>), top `k` by
    * (score desc, id).
    *
    * `kSub = 64` default (SCALING.md "r15: ANN recall-vs-cost
    * curves"): kSub=16 sat at the
    * bottom of the measured quality@10 curve (0.75 at the sf0.01 gate
    * fixture, 0.945 at sg10); 64 is the knee (0.92 / 0.973, identical
    * to kSub=256 on both fixtures) and the codebook literal stays
    * m x kSub x subDim doubles — 4 KB at dim 64. Production 8-bit-code
    * PQ (kSub=256) is one knob away when corpus structure earns it.
    */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String, dim: Int,
             query: DataFrame, k: Int, m: Int = 8, kSub: Int = 64,
             iterations: Int = 2, fitSampleRate: Double = 1.0): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val books = pqCodebooks(df, idCol, vecCol, dim, m, kSub, iterations,
      fitSampleRate)
    pqTopKWithBooks(df, idCol, vecCol, dim, query, k, m, books)
  }

  /** The encode+LUT+ADC+top-k back half of [[pqTopK]] with the
    * codebooks INJECTED — shared by the fitted path above and the
    * fixed-literal-codebook `ann_pq_det` (which removes the k-means
    * fit so the whole chain is DuckDB-oracleable, the ann_ivf_det
    * pattern).
    */
  private[graft] def pqTopKWithBooks(df: DataFrame, idCol: String,
                                     vecCol: String, dim: Int,
                                     query: DataFrame, k: Int, m: Int,
                                     books: IndexedSeq[Array[(Long, Array[Double])]])
      : DataFrame = {
    val subDim = dim / m
    val vecD = col(vecCol).cast("array<double>")
    val q = query.select(vecD.as("_qv")).head.getSeq[Double](0).toArray
    require(q.length == dim, s"query dim ${q.length} != $dim")
    val luts: IndexedSeq[Array[Double]] = (0 until m).map { j =>
      val qj = q.slice(j * subDim, (j + 1) * subDim)
      books(j).map { case (_, cv) =>
        var s = 0.0; var i = 0
        while (i < subDim) { s += qj(i) * cv(i); i += 1 }
        s
      }
    }
    val adc = (0 until m).map { j =>
      val code = CentroidExpressions.nearestCentroidId(
        slice(vecD, j * subDim + 1, subDim), books(j))
      element_at(lit(luts(j)), code.cast("int") + 1)
    }.reduce(_ + _)
    df.select(col(idCol), adc.as("adc_score"))
      .orderBy(col("adc_score").desc, col(idCol))
      .limit(k)
  }

  /** H7: IVF-PQ — the standard billion-scale ANN composition (FAISS
    * `IVFx,PQy`): a coarse quantizer prunes the corpus to `nProbe` of
    * `kIvf` centroid buckets, and ONLY those candidates are scored,
    * by PQ ADC instead of exact math. Both legs are the engine's
    * existing primitives — the [[kmeansCentroidArray]] coarse fit, the
    * [[pqCodebooks]] fused sub-quantizer fit, the codegen argmax for
    * bucket assignment — composed into ONE zero-exchange scan plan:
    *
    *   scan → argmax(cid) → filter(cid ∈ probed)  [row-local prune]
    *        → ADC projection → TakeOrdered(k)
    *
    * Probe selection ranks the kIvf×dim centroid table against the
    * query on the driver (bounded, the IvfIndex convention). This
    * variant quantizes RAW vectors (not residuals — the spherical/
    * cosine analogue of FAISS's IP mode); the persisted-index
    * counterpart of the same plan is [[IvfIndex.topK]] with ADC in
    * place of exact cosine, where the bucket filter becomes parquet
    * partition pruning.
    *
    * Output: (idCol, `cid`, `adc_score`), top `k` by (score desc, id)
    * among candidates. Rows-only like every k-means-derived op.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                query: DataFrame, k: Int, kIvf: Int = 16,
                ivfIterations: Int = 2, nProbe: Int = 4, m: Int = 8,
                kSub: Int = 64, pqIterations: Int = 2,
                fitSampleRate: Double = 1.0): DataFrame = {
    require(nProbe >= 1 && nProbe <= kIvf, s"nProbe $nProbe out of [1, $kIvf]")
    val cents = kmeansCentroidArray(df, idCol, vecCol, kIvf, ivfIterations,
      fitSampleRate)
    val books = pqCodebooks(df, idCol, vecCol, dim, m, kSub, pqIterations,
      fitSampleRate)
    ivfPqTopKWithQuantizers(df, idCol, vecCol, dim, query, k, nProbe, m,
      cents, books)
  }

  /** The probe/prune/ADC/top-k back half of [[ivfPqTopK]] with BOTH
    * quantizers injected — shared by the fitted path above and the
    * fixed-literal `ann_ivf_pq_det` (which removes both fits so the
    * composition glue — coarse probe selection, bucket prune sitting
    * between assignment and scoring, ADC over survivors only — is
    * DuckDB-oracleable end to end).
    */
  private[graft] def ivfPqTopKWithQuantizers(df: DataFrame, idCol: String,
                                             vecCol: String, dim: Int,
                                             query: DataFrame, k: Int,
                                             nProbe: Int, m: Int,
                                             cents: Array[(Long, Array[Double])],
                                             books: IndexedSeq[Array[(Long, Array[Double])]])
      : DataFrame = {
    val vecD = col(vecCol).cast("array<double>")
    val q = query.select(vecD.as("_qv")).head.getSeq[Double](0).toArray
    require(q.length == dim, s"query dim ${q.length} != $dim")
    // probe selection: cosine-rank the bounded centroid table driver-side
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) Double.NegativeInfinity else d / den
    }
    val probed = cents.map { case (cid, cv) => (cid, cos(cv, q)) }
      .sortBy { case (cid, s) => (-s, cid) }.take(nProbe).map(_._1)
    val subDim = dim / m
    val luts: IndexedSeq[Array[Double]] = (0 until m).map { j =>
      val qj = q.slice(j * subDim, (j + 1) * subDim)
      books(j).map { case (_, cv) =>
        var s = 0.0; var i = 0
        while (i < subDim) { s += qj(i) * cv(i); i += 1 }
        s
      }
    }
    // the prune filter sits BETWEEN assignment and scoring: ADC is
    // projected over the post-filter vector column, so only survivors
    // pay the m argmax lookups
    def adcOf(v: Column): Column = (0 until m).map { j =>
      val code = CentroidExpressions.nearestCentroidId(
        slice(v, j * subDim + 1, subDim), books(j))
      element_at(lit(luts(j)), code.cast("int") + 1)
    }.reduce(_ + _)
    df.select(col(idCol),
        CentroidExpressions.nearestCentroidId(vecD, cents).as("cid"),
        vecD.as("_v"))
      .filter(col("cid").isin(probed.map(Long.box): _*))
      .select(col(idCol), col("cid"), adcOf(col("_v")).as("adc_score"))
      .orderBy(col("adc_score").desc, col(idCol))
      .limit(k)
  }

  /** The m per-subspace PQ codebooks, fit TOGETHER: all m spherical
    * Lloyd's runs share one seed collect and ONE exploded
    * assign-and-mean pass per iteration (posexplode by subspace, a
    * per-subspace argmax CASE, one grouped VectorMean) — instead of m
    * independent fits each paying its own persist + per-iteration jobs
    * (m×iterations scheduler round-trips; 6.7 s → sub-second at
    * sf0.1). Semantically identical to the per-subspace fits: seeds
    * are the first kSub subvectors by id, assignments are the same
    * cosine argmax, empty clusters keep their previous centroid.
    * Returns per subspace the codebook renumbered 0..kSub-1 so the
    * code doubles as the ADC LUT index (k-means cids are corpus ids —
    * arbitrary longs).
    */
  private[graft] def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
                                 dim: Int, m: Int, kSub: Int, iterations: Int,
                                 fitSampleRate: Double)
      : IndexedSeq[Array[(Long, Array[Double])]] = {
    require(fitSampleRate > 0.0 && fitSampleRate <= 1.0,
      s"fitSampleRate must be in (0, 1], got $fitSampleRate")
    val subDim = dim / m
    val fit = if (fitSampleRate >= 1.0) df
              else graft.mix.Mix.sampleByHash(df, idCol, fitSampleRate)
    val vecs = fit.select(col(idCol),
      col(vecCol).cast("array<double>").as("_v")).persist()
    val seeds = vecs.orderBy(col(idCol)).limit(kSub)
      .select(col("_v")).collect().map(_.getSeq[Double](0).toArray)
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seeds.map(_.slice(j * subDim, (j + 1) * subDim)))
    for (_ <- 0 until iterations) {
      val subCols = array((0 until m).map(j =>
        slice(col("_v"), j * subDim + 1, subDim)): _*)
      def nci(j: Int) = CentroidExpressions.nearestCentroidId(col("_sv"),
        books(j).zipWithIndex.map { case (cv, i) => (i.toLong, cv) })
      val cidExpr = (1 until m).foldLeft(when(col("_j") === 0, nci(0))) {
        (acc, j) => acc.when(col("_j") === j, nci(j))
      }
      val means = vecs
        .select(posexplode(subCols).as(Seq("_j", "_sv")))
        .select(col("_j"), cidExpr.as("_cid"), col("_sv"))
        .groupBy(col("_j"), col("_cid"))
        .agg(org.apache.spark.sql.graft.VectorAggregates
          .vectorMean(col("_sv")).as("_cv"))
        .filter(col("_cv").isNotNull)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
      val updated = means.map { case (j, c, v) => (j, c) -> v }.toMap
      books = Array.tabulate(m)(j => books(j).zipWithIndex.map {
        case (prev, c) => updated.getOrElse((j, c.toLong), prev)
      })
    }
    vecs.unpersist()
    (0 until m).map(j =>
      books(j).zipWithIndex.map { case (cv, i) => (i.toLong, cv) })
  }

  /** H3: IVF-style ANN — vectors are assigned to their nearest centroid
    * by the row-local argmax projection (zero joins, zero exchanges);
    * the query probes the `nProbe` nearest centroids and ranks only
    * those vectors.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              centroids: DataFrame, cidCol: String,
              query: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val cents = collectCentroids(centroids, cidCol, vecCol)
    val assigned = df.select(col(idCol),
      CentroidExpressions.nearestCentroidId(col(vecCol), cents).as("_cid"))
    val probed = query.select(explode(CentroidExpressions
        .nearestCentroidIds(col(vecCol), cents, nProbe)).as("_cid"))
      .distinct()
    val candIds = assigned.join(broadcast(probed), "_cid").select(col(idCol))
    bruteForceTopK(df.join(candIds, idCol), idCol, vecCol, query, k)
  }
}
