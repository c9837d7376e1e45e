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
    * seeds = the first k non-null vectors by id (deterministic), then
    * `iterations` rounds of assign (row-local argmax projection —
    * zero joins, zero exchanges) + per-centroid VectorMean — the
    * one-subspace case of [[lloydFit]]. Only the k x dim centroid table
    * ever reaches the driver — that is the table the assignment
    * projection embeds anyway. Returns (cid, vector), cids = seed ids.
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
                                         fitSampleRate: Double = 1.0): Array[(Long, Array[Double])] =
    lloydFit(df, idCol, vecCol, k, iterations, fitSampleRate).head

  /** The one Lloyd's body of the vector-search family: spherical k-means
    * fit TOGETHER over the `m` equal subspaces of an embedding column.
    * `m` = 1 fits whole vectors, whatever their length
    * ([[kmeansCentroidArray]]: IVF, SemDeDup, `IvfIndex.build`); `m` > 1
    * fits their `subDim`-long slices ([[pqCodebooks]]).
    *
    *   - rows with a null vector are excluded (unfittable: they would
    *     null the seed collect);
    *   - seeds are the first `k` vectors by id, sliced per subspace;
    *     cids are the seeds' ids;
    *   - an iteration is ONE pass: the row-local cosine argmax assigns
    *     each (sub)vector — for `m` > 1 after a posexplode by subspace,
    *     through a per-subspace argmax CASE — and one map-side-combining
    *     VectorMean grouped by (subspace, cid) gives the new centroids
    *     (m separate fits paid m × iterations scheduler round-trips;
    *     6.7 s → sub-second at sf0.1). No corpus x dim posexplode ever
    *     reaches an exchange;
    *   - empty clusters keep their previous centroid.
    *
    * The fit set is cached for the iterations and released on every
    * exit, failures included. Returns the m (cid, centroid) tables.
    */
  private def lloydFit(df: DataFrame, idCol: String, vecCol: String, k: Int,
                       iterations: Int, fitSampleRate: Double, m: Int = 1,
                       subDim: Int = 0): IndexedSeq[Array[(Long, Array[Double])]] = {
    require(fitSampleRate > 0.0 && fitSampleRate <= 1.0,
      s"fitSampleRate must be in (0, 1], got $fitSampleRate")
    val fit = if (fitSampleRate >= 1.0) df
              else graft.mix.Mix.sampleByHash(df, idCol, fitSampleRate)
    val vecs = fit.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
      .persist() // re-scanned every Lloyd iteration
    try {
      val seeds = vecs.orderBy(col(idCol)).limit(k)
        .select(col(idCol).cast("long").as("_cid"), col("_v").as("_cv"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      require(seeds.nonEmpty,
        "k-means fit needs at least one non-null vector (empty corpus / " +
          "all-null vector column / sample rate too low for this corpus)")
      def sub(v: Array[Double], j: Int) =
        if (m == 1) v else v.slice(j * subDim, (j + 1) * subDim)
      var books = (0 until m).map(j => seeds.map { case (cid, v) => (cid, sub(v, j)) })
      for (_ <- 0 until iterations) {
        def nci(j: Int, v: Column) = CentroidExpressions.nearestCentroidId(v, books(j))
        val assigned =
          if (m == 1) vecs.select(nci(0, col("_v")).as("_cid"), col("_v").as("_sv"))
          else {
            val bySubspace = (1 until m).foldLeft(when(col("_j") === 0, nci(0, col("_sv")))) {
              (acc, j) => acc.when(col("_j") === j, nci(j, col("_sv")))
            }
            val slices = (0 until m).map(j => slice(col("_v"), j * subDim + 1, subDim))
            vecs.select(posexplode(array(slices: _*)).as(Seq("_j", "_sv")))
              .select(col("_j"), bySubspace.as("_cid"), col("_sv"))
          }
        // one subspace groups by cid alone: no explode, no extra shuffle key
        val keys = if (m == 1) Seq("_cid") else Seq("_j", "_cid")
        val updated = assigned.groupBy(keys.map(col): _*)
          .agg(org.apache.spark.sql.graft.VectorAggregates.vectorMean(col("_sv")).as("_cv"))
          .filter(col("_cv").isNotNull)
          .collect().map { r =>
            (if (m == 1) 0 else r.getAs[Int]("_j"), r.getAs[Long]("_cid")) ->
              r.getAs[Seq[Double]]("_cv").toArray
          }.toMap
        // empty clusters keep their previous centroid
        books = books.indices.map(j => books(j).map { case (cid, prev) =>
          (cid, updated.getOrElse((j, cid), prev))
        })
      }
      books
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
      : DataFrame =
    df.select(col(idCol), adcScore(col(vecCol).cast("array<double>"),
        queryVector(query, vecCol, dim), m, books).as("adc_score"))
      .orderBy(col("adc_score").desc, col(idCol))
      .limit(k)

  /** The subvector length of `m` equal subspaces of a `dim`-long vector;
    * a `dim` that does not divide into `m` is an error, never a silent
    * drop of the trailing dimensions.
    */
  private def subspaceDim(dim: Int, m: Int): Int = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    dim / m
  }

  /** The one query vector of a PQ query frame. The frame must hold
    * exactly one non-null vector, of length `dim` — a driver-side
    * head(2) states it (the [[hammingTopK]] contract), so an empty
    * frame, a null vector or a multi-row frame is a named error, not a
    * NoSuchElementException, an NPE or an arbitrary row.
    */
  private def queryVector(query: DataFrame, vecCol: String, dim: Int): Array[Double] = {
    val rows = query.filter(col(vecCol).isNotNull)
      .select(col(vecCol).cast("array<double>")).head(2)
    require(rows.length == 1,
      s"PQ query frame must contain exactly one non-null $vecCol row (got ${rows.length})")
    val q = rows.head.getSeq[Double](0).toArray
    require(q.length == dim, s"query dim ${q.length} != $dim")
    q
  }

  /** Asymmetric distance computation (ADC) of the vector column `v`
    * against the query `q`: per subspace j the driver-side look-up table
    * `lut_j[c] = <q_j, c_jc>` and the row's code, the cosine argmax
    * against codebook j; the score `Σ_j lut_j[code_j]`, summed left to
    * right. Codes are 0..kSub-1, so a code is its LUT index.
    */
  private def adcScore(v: Column, q: Array[Double], m: Int,
                       books: IndexedSeq[Array[(Long, Array[Double])]]): Column = {
    val subDim = subspaceDim(q.length, m)
    (0 until m).map { j =>
      val qj = q.slice(j * subDim, (j + 1) * subDim)
      val lut = books(j).map { case (_, cv) =>
        var s = 0.0; var i = 0
        while (i < subDim) { s += qj(i) * cv(i); i += 1 }
        s
      }
      val code = CentroidExpressions.nearestCentroidId(
        slice(v, j * subDim + 1, subDim), books(j))
      element_at(lit(lut), code.cast("int") + 1)
    }.reduce(_ + _)
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
    * The probed buckets are [[CentroidExpressions.probedCids]] of the
    * query, the rank [[IvfIndex.topK]] and [[ivfTopK]] probe with. This
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
    val q = queryVector(query, vecCol, dim)
    val probed = CentroidExpressions.probedCids(Seq(q), cents, nProbe)
    // the prune filter sits BETWEEN assignment and scoring: ADC is
    // projected over the post-filter vector column, so only survivors
    // pay the m argmax lookups
    df.select(col(idCol),
        CentroidExpressions.nearestCentroidId(vecD, cents).as("cid"),
        vecD.as("_v"))
      .filter(col("cid").isin(probed.map(Long.box): _*))
      .select(col(idCol), col("cid"), adcScore(col("_v"), q, m, books).as("adc_score"))
      .orderBy(col("adc_score").desc, col(idCol))
      .limit(k)
  }

  /** The m per-subspace PQ codebooks: the m-subspace case of
    * [[lloydFit]], so each subspace's codebook is exactly the
    * one-subspace fit of its slice, while all m share one seed collect
    * and ONE exploded assign-and-mean pass per iteration. Returns per
    * subspace the codebook renumbered 0..kSub-1 so the code doubles as
    * the ADC LUT index (k-means cids are corpus ids — arbitrary longs).
    */
  private[graft] def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
                                 dim: Int, m: Int, kSub: Int, iterations: Int,
                                 fitSampleRate: Double)
      : IndexedSeq[Array[(Long, Array[Double])]] =
    lloydFit(df, idCol, vecCol, kSub, iterations, fitSampleRate, m,
        subspaceDim(dim, m))
      .map(_.zipWithIndex.map { case ((_, cv), i) => (i.toLong, cv) })

  /** The buckets a probe of `query`'s vectors scans: the query vectors,
    * collected (one job), and every (query, centroid) pair ranked on the
    * driver by [[CentroidExpressions.probedCids]] — the first `nProbe`
    * pairs' cids. A null query vector ranks every centroid at a null
    * similarity; an empty query probes nothing.
    */
  private[graft] def probedCids(query: DataFrame, vecCol: String,
                                cents: Array[(Long, Array[Double])],
                                nProbe: Int): Array[Long] = {
    val qvs = query.select(col(vecCol).cast("array<double>")).collect()
      .map(r => if (r.isNullAt(0)) null else r.getSeq[Double](0).toArray)
    CentroidExpressions.probedCids(qvs.toSeq, cents, nProbe)
  }

  /** H3: IVF-style ANN over a given centroid table — the
    * [[IvfIndex.topK]] probe without the persisted index. The probed
    * buckets are [[probedCids]] of the query; the corpus keeps the rows
    * whose row-local argmax assignment (zero joins, zero exchanges) is
    * one of them, as a literal `isin` filter, and ranks only those
    * exactly.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              centroids: DataFrame, cidCol: String,
              query: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val cents = collectCentroids(centroids, cidCol, vecCol)
    val probed = probedCids(query, vecCol, cents, nProbe)
    bruteForceTopK(df.filter(CentroidExpressions.nearestCentroidId(col(vecCol), cents)
        .isin(probed.map(Long.box): _*)), idCol, vecCol, query, k)
  }
}
