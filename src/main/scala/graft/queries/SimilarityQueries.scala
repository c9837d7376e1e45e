package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.similarity.Similarity

/** H1-H3 — similarity search over the embeddings table. The query
  * vector is vec_id 0; the corpus is everything else. ann_brute is
  * exact and gets a DuckDB oracle (list_dot_product twin); the two
  * approximate paths (ann_lsh, ann_ivf) are hash/seed-defined →
  * rows-only, with recall properties pinned by SimilaritySpec.
  */
object SimilarityQueries extends QueryPack {

  private def corpus(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).filter(col("vec_id") =!= 0)
  private def query(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).filter(col("vec_id") === 0)

  /** H1 `ann_brute` — exact cosine top-10 (broadcast query + one scan). */
  def annBrute(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(corpus(s, dir), "vec_id", "embedding",
        query(s, dir), 10)
      .select(col("vec_id"), r6(col("cosine")).as("cosine"))

  /** H8 `ann_hamming` — top-10 nearest documents to doc 0 by 64-bit
    * portable-SimHash Hamming distance (binary-sketch retrieval, the
    * cheap first stage of a rerank cascade). Integer-deterministic
    * end to end — fingerprint, distance, and the (hamming, doc_id)
    * tie-break — so unlike the cosine ANN family the full ranking is
    * DuckDB-oracled.
    */
  def annHamming(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.tables.Tables.documents(s, dir)
    Similarity.hammingTopK(docs.filter(col("doc_id") =!= 0), "doc_id", "text",
      docs.filter(col("doc_id") === 0), "text", 10)
  }

  /** H2 `ann_lsh` — hyperplane-LSH candidates, exact rank within.
    * SQL-ORACLED since r11 (was rows-only): the hyperplanes are a
    * deterministic seeded ±1 matrix, so the oracle stringifies the
    * SAME 48x64 plane table and re-derives sign-of-dot band values,
    * the band-sharing candidate set, and the exact cosine top-10 — the
    * full approximate-query semantics, hash-verified. The sign test
    * rides the ann_brute-proven sequential-dot arithmetic.
    */
  def annLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(corpus(s, dir), "vec_id", "embedding", 64,
        query(s, dir), 10)
      .select(col("vec_id"), r6(col("cosine")).as("cosine"))

  /** H3 `ann_ivf` — IVF with 16 k-means centroids (2 Lloyd's
    * iterations, deterministic seeds), 4 probes. The index (centroids +
    * cid-partitioned assignments) is an ingest artifact persisted under
    * spark-warehouse and reused across invocations — a query pays
    * probe-only cost: rank 16 centroids, partition-pruned scan of 4 of
    * 16 buckets, exact top-k within (SURVEY §8 #3). buildOrRefresh (not
    * buildOrLoad): a dataset regenerated in place at the same sf dir
    * must not be served from the stale index. That staleness check
    * costs one count of the corpus's non-null vectors per call (its
    * meta read is job-free); the probe itself is one job, the query
    * vector's collect, before the pruned scan.
    */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val san = dir.replaceAll("[^A-Za-z0-9.]+", "_")
    val idx = graft.similarity.IvfIndex.buildOrRefresh(
      corpus(s, dir), "vec_id", "embedding",
      s"spark-warehouse/ivf_${san}_k16")
    idx.topK(query(s, dir), 10, nProbe = 4)
      .select(col("vec_id"), r6(col("cosine")).as("cosine"))
  }

  /** H6 `ann_pq` — product-quantization ANN ([[Similarity.pqTopK]]):
    * 8 subspaces × 64-codeword spherical codebooks (the knee of
    * SCALING.md "r15: ANN recall-vs-cost curves" — kSub=16 measured
    * quality@10 0.75 at the gate fixture, 64 measures 0.92, flat
    * through 256), asymmetric
    * inner-product ADC top-10 against the vec_id-0 query. Encode +
    * score is ONE fused codegen projection over the scan (the
    * codebooks and the query LUTs ride as literals); codebooks are
    * float-sum-order-defined like every k-means → rows-only;
    * SimilaritySpec pins the kSub=n exactness degenerate case and
    * cluster recall.
    */
  def annPq(s: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(corpus(s, dir), "vec_id", "embedding", 64,
        query(s, dir), 10, m = 8, kSub = 64, iterations = 2)
      .select(col("vec_id"), r6(col("adc_score")).as("adc_score"))

  /** H7 `ann_ivf_pq` — the IVF×PQ composition ([[Similarity.ivfPqTopK]]):
    * 16-centroid coarse prune to 4 probed buckets, PQ ADC scoring of
    * only the survivors — one zero-exchange scan plan (assignment
    * argmax → bucket filter → ADC → TakeOrdered). Rows-only;
    * SimilaritySpec pins clustered recall and that pruning beats
    * scoring-everything on candidate count.
    */
  def annIvfPq(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(corpus(s, dir), "vec_id", "embedding", 64,
        query(s, dir), 10, kIvf = 16, ivfIterations = 2, nProbe = 4,
        m = 8, kSub = 64, pqIterations = 2)
      .select(col("vec_id"), col("cid"), r6(col("adc_score")).as("adc_score"))

  /** H3+ `ann_knn_join` — batch kNN SELF-join: EVERY corpus vector's
    * top-5 neighbors in one pass through the persisted IVF index
    * ([[graft.similarity.IvfIndex.topKBatch]] with excludeSelf) — the
    * ANN shape a 100 TB curation pipeline actually runs (score the
    * whole corpus, not one probe vector). Per-query probes are the
    * row-local top-nProbe centroid rank (zero joins to find buckets);
    * candidates come only from each query's probed buckets; the only
    * corpus-scale shuffles are the cid semi-join and the per-query
    * rank. Seed/probe-defined -> rows-only; SimilaritySpec pins recall
    * against the brute-force kNN on a fixture.
    *
    * kIvf=64, nProbe=8 since r16: the candidate-stage cost of the
    * batch join is corpus x nProbe/kIvf cosine evaluations, so a FINER
    * coarse quantizer cuts the pair mass structurally where nProbe
    * only scales it (kIvf=16 at nProbe=8 would scan half the corpus).
    * The batch join keeps its OWN
    * k=64 index (`_k64` path) — ann_ivf's single-probe shape stays on
    * the shared k=16 index whose nProbe=4 knee the r15 sweep pinned,
    * so its declared output is untouched. The k64 cold build is timed
    * separately in Bench's `index_builds` (the ann_ivf convention).
    */
  def annKnnJoin(s: SparkSession, dir: String): DataFrame = {
    val san = dir.replaceAll("[^A-Za-z0-9.]+", "_")
    val vecs = corpus(s, dir)
    val idx = graft.similarity.IvfIndex.buildOrRefresh(
      vecs, "vec_id", "embedding", s"spark-warehouse/ivf_${san}_k64", k = 64)
    idx.topKBatch(vecs, "vec_id", 5, nProbe = 8, excludeSelf = true)
      .select(col("query_id"), col("vec_id"), r6(col("cosine")).as("cosine"))
  }

  /** H4 `emb_quantize` — symmetric int8 quantization of the corpus
    * embeddings (storage/bandwidth step of vector pipelines). `qscale`
    * (abs/max + one division) and `codes` (round-half-up integers) are
    * order-free exact arithmetic and stay UNROUNDED; `l2_norm` is a
    * sequential dot accumulation, so it gets the ann_brute r6 OUTPUT
    * rounding on both sides (ADVICE r6: hash-comparing it unrounded
    * relied on DuckDB's list_dot_product never vectorizing its sum).
    * Codes are CSV-stringified on both sides so the driver's hash
    * compare sees a scalar column rather than an array dtype.
    */
  def embQuantize(s: SparkSession, dir: String): DataFrame =
    graft.similarity.Similarity
      .quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding")
      .select(col("vec_id"), r6(col("l2_norm")).as("l2_norm"), col("qscale"),
        concat_ws(",", transform(col("codes"), c => c.cast("string")))
          .as("codes"))

  /** H+ `emb_centroids` — per-label centroid of the embedding corpus
    * via the one-pass [[org.apache.spark.sql.graft.VectorAggregates
    * .vectorMean]] aggregate (the Lloyd-iteration / IVF-recenter
    * building block), exploded to (label, dim, mean_v) scalar rows so
    * the driver's hash compare never sees an array dtype. Fully
    * oracled: DuckDB re-derives the per-dimension means with an
    * indexed-lambda unnest; the mean is r6-rounded on both sides (the
    * per-dim sum is order-sensitive in the last ulps), n_vecs and dim
    * are exact integers.
    */
  def embCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        org.apache.spark.sql.graft.VectorAggregates
          .vectorMean(col("embedding")).as("_m"))
      .select(col("label"), col("n_vecs"),
        posexplode(col("_m")).as(Seq("dim", "_mv")))
      .select(col("label"), col("n_vecs"), col("dim").cast("long").as("dim"),
        r6(col("_mv")).as("mean_v"))

  /** H5 `emb_project` — Johnson-Lindenstrauss sign random projection
    * to 8 dimensions ([[Similarity.randomProject]]): the standard
    * bandwidth/recall trade of large-scale vector pipelines (project,
    * then shortlist in the cheap space, then re-rank exact). The
    * projection matrix is DERIVED (Knuth-hash sign per cell, seed 42),
    * never materialized, so the operator is a row-local zero-exchange
    * codegen projection; fully oracled because the matrix derivation
    * is exact integer arithmetic and the inner sum folds in the same
    * order on both engines (r6 on the float output). Exploded to
    * (vec_id, dim, proj_v) scalars for the hash compare.
    */
  def embProject(s: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(Tables.embeddings(s, dir), "vec_id",
        "embedding", inDim = 64, outDim = 8, seed = 42L)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "_p")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        r6(col("_p")).as("proj_v"))

  /** Fixed literal centroid table for `ann_ivf_det`: centroid j is the
    * indicator of dims [4j, 4j+3] of the 64-dim space (16 disjoint
    * block centroids — deterministic, well-separated, norm exactly 2).
    * Shared by the Spark query and (stringified) its DuckDB oracle so
    * the two engines rank the SAME index.
    */
  private[graft] val detCentroids: Seq[(Long, Seq[Double])] =
    (0L until 16L).map(j => (j, Seq.tabulate(64)(d =>
      if (d / 4 == j) 1.0 else 0.0)))

  /** H3det `ann_ivf_det` — the IVF probe/prune/rank chain over FIXED
    * literal centroids (VERDICT r10 item 4): the 5 seed-defined ANN
    * keys are rows-only because k-means fit order isn't portable, so
    * this variant removes the fit and hash-verifies everything else —
    * row-local argmax assignment, top-nProbe centroid probing with the
    * (cosine DESC, cid) tie-break, bucket pruning, and the exact
    * within-candidates top-k — against a DuckDB re-derivation from the
    * same literal centroid table. Same plan shape as `ann_ivf`'s probe
    * path (the index build is the only thing missing).
    */
  def annIvfDet(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = detCentroids.toDF("cid", "embedding")
    Similarity.ivfTopK(corpus(s, dir), "vec_id", "embedding",
        cents, "cid", query(s, dir), 10, nProbe = 4)
      .select(col("vec_id"), r6(col("cosine")).as("cosine"))
  }

  /** Fixed literal PQ codebooks for `ann_pq_det`: 8 subspaces x 4
    * codewords over the 8-dim slices, values in exact binary quarters
    * (1.0 / 0.25-multiples) so both engines hold them bit-identically.
    * Shared by the Spark query and (stringified) its DuckDB oracle.
    */
  private[graft] val detBooks: IndexedSeq[Array[(Long, Array[Double])]] =
    (0 until 8).map(j => Array.tabulate(4)(c =>
      (c.toLong, Array.tabulate(8)(i =>
        if (i == 2 * c) 1.0 else 0.25 * ((c + i + j) % 3)))))

  /** H6det `ann_pq_det` — the PQ encode/LUT/ADC/top-k chain over FIXED
    * literal codebooks (the ann_ivf_det pattern applied to H6): with
    * the k-means fit removed, per-subspace code assignment (cosine
    * argmax, cid tie-break), the driver-side query LUTs, the
    * left-to-right ADC sum, and the (score DESC, id) top-10 are all
    * exact arithmetic both engines state identically — DuckDB
    * re-derives every step from the same stringified codebook table.
    * Only the fit itself remains rows-only (`ann_pq`).
    */
  def annPqDet(s: SparkSession, dir: String): DataFrame =
    Similarity.pqTopKWithBooks(corpus(s, dir), "vec_id", "embedding", 64,
        query(s, dir), 10, 8, detBooks)
      .select(col("vec_id"), r6(col("adc_score")).as("adc_score"))

  /** H7det `ann_ivf_pq_det` — the IVF×PQ COMPOSITION over the fixed
    * literal quantizers of `ann_ivf_det` + `ann_pq_det`: with both
    * fits removed, the remaining logic — driver-side coarse probe
    * selection, the bucket prune sitting between assignment and ADC
    * (survivors only pay the m argmax lookups), and the
    * (score DESC, id) top-10 — is hash-verified end to end. Completes
    * the det family: every non-fit code path of the ANN surface is
    * now DuckDB-oracled.
    */
  def annIvfPqDet(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopKWithQuantizers(corpus(s, dir), "vec_id", "embedding",
        64, query(s, dir), 10, nProbe = 4, m = 8,
        detCentroids.map { case (cid, v) => (cid, v.toArray) }.toArray,
        detBooks)
      .select(col("vec_id"), col("cid"), r6(col("adc_score")).as("adc_score"))

  /** H9det `ann_kmeans_det` — the k-means FIT itself, hash-oracled:
    * the one step of the ANN family the det queries above still left
    * rows-only. [[Similarity.kmeansCentroidsQuantized]] restates
    * Lloyd's in quantized integer arithmetic (floor(x*1e6) longs,
    * integer argmin assignment with smallest-cid tie-break, exact long
    * sums, floor-of-mean re-quantization each round, empty-cluster
    * carryover), so seeding + 2 full Lloyd rounds are EXACT and DuckDB
    * re-derives the identical (cid, dim, cvalue) table — no float
    * order anywhere. The float fit (`ann_ivf` et al.) shares this
    * structure; what stays rows-only there is only the last-ulp sum
    * order of its per-dimension float means.
    */
  def annKmeansDet(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansCentroidsQuantized(Tables.embeddings(s, dir),
      "vec_id", "embedding", k = 8, iterations = 2)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_kmeans_det" -> annKmeansDet,
    "emb_project" -> embProject,
    "ann_brute" -> annBrute,
    "ann_ivf_det" -> annIvfDet,
    "ann_pq_det" -> annPqDet,
    "ann_ivf_pq_det" -> annIvfPqDet,
    "ann_hamming" -> annHamming,
    "ann_lsh" -> annLsh,
    "ann_ivf" -> annIvf,
    "ann_knn_join" -> annKnnJoin,
    "ann_pq" -> annPq,
    "ann_ivf_pq" -> annIvfPq,
    "emb_centroids" -> embCentroids,
    "emb_quantize" -> embQuantize)

  val oracles: Map[String, String] = Map(
    // The quantized k-means fit, re-derived step for step: quantize to
    // floor(x*1e6) BIGINTs, seeds = vectors of the 8 smallest ids,
    // then two unrolled Lloyd rounds of integer-argmin assignment
    // (dist, cid) and floor(sum/n) re-quantized means with
    // empty-cluster carryover. Every comparison and sum is exact
    // integer arithmetic; the only doubles are the quantize multiply
    // and the mean division, both single IEEE ops on exact inputs.
    "ann_kmeans_det" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL
        |    AND len(embedding) > 0
        |    AND len(list_filter(embedding, x -> x IS NULL)) = 0
        |), ev AS (
        |  SELECT vec_id, d.i AS dim, v[d.i + 1] AS x
        |  FROM e, (SELECT unnest(range(0, 64)) AS i) d
        |), c0 AS (
        |  SELECT vec_id AS cid, dim, x AS cx FROM ev
        |  WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8)
        |), d1 AS (
        |  SELECT ev.vec_id, c.cid,
        |    SUM((ev.x - c.cx) * (ev.x - c.cx)) AS dist
        |  FROM ev JOIN c0 c USING (dim) GROUP BY ev.vec_id, c.cid
        |), a1 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER
        |      (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d1)
        |  WHERE rn = 1
        |), m1 AS (
        |  SELECT a1.cid, ev.dim,
        |    CAST(floor(CAST(SUM(ev.x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
        |  FROM a1 JOIN ev USING (vec_id) GROUP BY a1.cid, ev.dim
        |), c1 AS (
        |  SELECT c0.cid, c0.dim, COALESCE(m1.cx, c0.cx) AS cx
        |  FROM c0 LEFT JOIN m1 ON c0.cid = m1.cid AND c0.dim = m1.dim
        |), d2 AS (
        |  SELECT ev.vec_id, c.cid,
        |    SUM((ev.x - c.cx) * (ev.x - c.cx)) AS dist
        |  FROM ev JOIN c1 c USING (dim) GROUP BY ev.vec_id, c.cid
        |), a2 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER
        |      (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d2)
        |  WHERE rn = 1
        |), m2 AS (
        |  SELECT a2.cid, ev.dim,
        |    CAST(floor(CAST(SUM(ev.x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
        |  FROM a2 JOIN ev USING (vec_id) GROUP BY a2.cid, ev.dim
        |)
        |SELECT c1.cid, CAST(c1.dim AS BIGINT) AS dim,
        |  COALESCE(m2.cx, c1.cx) AS cvalue
        |FROM c1 LEFT JOIN m2 ON c1.cid = m2.cid AND c1.dim = m2.dim""".stripMargin,
    // fingerprints recomputed from scratch (the dedup_hamming CTE),
    // then the exact (hamming, doc_id) top-10 against doc 0's sketch —
    // integer arithmetic only, so ORDER BY + LIMIT states the same
    // selection on both engines with zero float headroom
    "ann_hamming" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS t
        |  FROM documents WHERE text IS NOT NULL
        |), h AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS wlo,
        |    CAST(('0x' || substr(md5(t), 9, 8)) AS BIGINT) AS whi
        |  FROM toks
        |), bits AS (
        |  SELECT doc_id, g.b,
        |    SUM(CASE WHEN g.b < 32 THEN ((wlo >> g.b) & 1)
        |        ELSE ((whi >> (g.b - 32)) & 1) END * 2 - 1) AS c
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) g
        |  GROUP BY doc_id, g.b
        |), fp AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN b < 32 AND c > 0 THEN (CAST(1 AS BIGINT) << b)
        |        ELSE 0 END) AS lo,
        |    SUM(CASE WHEN b >= 32 AND c > 0 THEN (CAST(1 AS BIGINT) << (b - 32))
        |        ELSE 0 END) AS hi
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT f.doc_id,
        |  CAST(bit_count(xor(f.lo, q.lo)) + bit_count(xor(f.hi, q.hi))
        |    AS BIGINT) AS hamming
        |FROM fp f CROSS JOIN (SELECT lo, hi FROM fp WHERE doc_id = 0) q
        |WHERE f.doc_id <> 0
        |ORDER BY hamming, f.doc_id
        |LIMIT 10""".stripMargin,
    // same derived sign matrix (avalanche mix hash, exact integers),
    // same left-to-right fold of the signed terms (list_reduce), same
    // 1/sqrt(8) multiplier; r6 on the float output
    "emb_project" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |p AS (SELECT vec_id, j,
         |    list_reduce(
         |      list_transform(range(1, len(v) + 1), i ->
         |        v[i] * (CASE WHEN ${hashMix32Sql("(i-1)*8 + j + 42")}
         |                       < 2147483648
         |                THEN 1.0 ELSE -1.0 END)),
         |      (a, b) -> a + b) * (1.0 / sqrt(8.0)) AS pv
         |  FROM e, (SELECT unnest(range(0, 8)) AS j))
         |SELECT vec_id, CAST(j AS BIGINT) AS dim,
         |  floor(pv * 1000000 + 0.5001) / 1000000 AS proj_v
         |FROM p""".stripMargin,
    // The deterministic IVF x PQ composition: coarse probes from the
    // literal centroid table, candidates = corpus vectors whose argmax
    // centroid is probed, ADC terms from the literal codebooks over
    // candidates only, explicit left-to-right sum, (score DESC, id)
    // top-10.
    "ann_ivf_pq_det" -> {
      val centRows = detCentroids.map { case (cid, v) =>
        s"($cid, CAST([${v.mkString(",")}] AS DOUBLE[]))"
      }.mkString(", ")
      val bookRows = (0 until 8).flatMap(j => (0 until 4).map { c =>
        s"($j, $c, CAST([${detBooks(j)(c)._2.mkString(",")}] AS DOUBLE[]))"
      }).mkString(", ")
      val termCols = (0 until 8).map(j =>
        s"max(CASE WHEN a.j = $j THEN l.lv END) AS s$j").mkString(", ")
      val sumExpr = (0 until 8).map(j => s"s$j").mkString(" + ")
      s"""WITH cents(cid, cv) AS (VALUES $centRows),
         |books(j, c, cw) AS (VALUES $bookRows),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |  FROM embeddings),
         |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
         |csims AS (SELECT e.vec_id, c.cid,
         |    list_dot_product(e.emb, c.cv) /
         |      (sqrt(list_dot_product(e.emb, e.emb)) *
         |       sqrt(list_dot_product(c.cv, c.cv))) AS cos
         |  FROM e CROSS JOIN cents c),
         |probes AS (SELECT cid FROM csims WHERE vec_id = 0
         |  ORDER BY cos DESC, cid LIMIT 4),
         |assign AS (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER
         |      (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
         |    FROM csims WHERE vec_id <> 0) WHERE rn = 1),
         |cand AS (SELECT a.vec_id, a.cid
         |  FROM assign a JOIN probes p USING (cid)),
         |ssims AS (SELECT cand.vec_id, b.j, b.c,
         |    list_dot_product(e.emb[b.j*8+1 : b.j*8+8], b.cw) /
         |      (sqrt(list_dot_product(e.emb[b.j*8+1 : b.j*8+8],
         |                             e.emb[b.j*8+1 : b.j*8+8])) *
         |       sqrt(list_dot_product(b.cw, b.cw))) AS cos
         |  FROM cand JOIN e USING (vec_id) CROSS JOIN books b),
         |sassign AS (SELECT vec_id, j, c FROM (
         |    SELECT vec_id, j, c, row_number() OVER
         |      (PARTITION BY vec_id, j ORDER BY cos DESC NULLS LAST, c) AS rn
         |    FROM ssims) WHERE rn = 1),
         |lut AS (SELECT b.j, b.c,
         |    list_dot_product(qv[b.j*8+1 : b.j*8+8], b.cw) AS lv
         |  FROM books b CROSS JOIN q),
         |terms AS (SELECT a.vec_id, $termCols
         |  FROM sassign a JOIN lut l ON a.j = l.j AND a.c = l.c
         |  GROUP BY a.vec_id),
         |scored AS (SELECT t.vec_id, CAST(cand.cid AS BIGINT) AS cid,
         |    $sumExpr AS adc
         |  FROM terms t JOIN cand ON t.vec_id = cand.vec_id)
         |SELECT vec_id, cid, round(adc, 6) AS adc_score
         |FROM scored ORDER BY scored.adc DESC, vec_id LIMIT 10""".stripMargin
    },
    // ann_lsh, oracled from the stringified plane matrix: band value =
    // sum over the band's 6 planes of 2^(p%6) where dot(v, plane) > 0
    // (strict, matching HyperplaneBandValues); candidates share >= 1
    // (band, value) with the query; exact cosine top-10 within.
    "ann_lsh" -> {
      val planeRows = Similarity.planes(48, 64, 42L).zipWithIndex
        .map { case (pl, p) => s"($p, CAST([${pl.mkString(",")}] AS DOUBLE[]))" }
        .mkString(", ")
      s"""WITH planes(p, pl) AS (VALUES $planeRows),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |  FROM embeddings),
         |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
         |bits AS (SELECT e.vec_id, p.p // 6 AS band,
         |    CASE WHEN list_dot_product(e.emb, p.pl) > 0
         |         THEN 1 << (p.p % 6) ELSE 0 END AS bit
         |  FROM e CROSS JOIN planes p),
         |bands AS (SELECT vec_id, band, SUM(bit) AS bv
         |  FROM bits GROUP BY vec_id, band),
         |qbands AS (SELECT band, bv FROM bands WHERE vec_id = 0),
         |cand AS (SELECT DISTINCT b.vec_id
         |  FROM bands b JOIN qbands USING (band, bv) WHERE b.vec_id <> 0),
         |c AS (SELECT e.vec_id,
         |    list_dot_product(e.emb, qv) /
         |      (sqrt(list_dot_product(e.emb, e.emb)) *
         |       sqrt(list_dot_product(qv, qv))) AS cosine
         |  FROM e JOIN cand USING (vec_id) CROSS JOIN q)
         |SELECT vec_id, round(cosine, 6) AS cosine
         |FROM c ORDER BY c.cosine DESC, vec_id LIMIT 10""".stripMargin
    },
    // The deterministic PQ: per-subspace cosine-argmax assignment over
    // the same literal codebooks, query LUTs as plain dot products,
    // ADC restated as the explicit left-to-right 8-term sum (matching
    // the Spark fold's association), ordering on raw scores, r6 on
    // output only.
    "ann_pq_det" -> {
      val bookRows = (0 until 8).flatMap(j => (0 until 4).map { c =>
        val cw = detBooks(j)(c)._2
        s"($j, $c, CAST([${cw.mkString(",")}] AS DOUBLE[]))"
      }).mkString(", ")
      val termCols = (0 until 8).map(j =>
        s"max(CASE WHEN a.j = $j THEN l.lv END) AS s$j").mkString(", ")
      val sumExpr = (0 until 8).map(j => s"s$j").mkString(" + ")
      s"""WITH books(j, c, cw) AS (VALUES $bookRows),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |  FROM embeddings),
         |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
         |sims AS (SELECT e.vec_id, b.j, b.c,
         |    list_dot_product(e.emb[b.j*8+1 : b.j*8+8], b.cw) /
         |      (sqrt(list_dot_product(e.emb[b.j*8+1 : b.j*8+8],
         |                             e.emb[b.j*8+1 : b.j*8+8])) *
         |       sqrt(list_dot_product(b.cw, b.cw))) AS cos
         |  FROM e CROSS JOIN books b WHERE e.vec_id <> 0),
         |assign AS (SELECT vec_id, j, c FROM (
         |    SELECT vec_id, j, c, row_number() OVER
         |      (PARTITION BY vec_id, j ORDER BY cos DESC NULLS LAST, c) AS rn
         |    FROM sims) WHERE rn = 1),
         |lut AS (SELECT b.j, b.c,
         |    list_dot_product(qv[b.j*8+1 : b.j*8+8], b.cw) AS lv
         |  FROM books b CROSS JOIN q),
         |terms AS (SELECT a.vec_id, $termCols
         |  FROM assign a JOIN lut l ON a.j = l.j AND a.c = l.c
         |  GROUP BY a.vec_id),
         |scored AS (SELECT vec_id, $sumExpr AS adc FROM terms)
         |SELECT vec_id, round(adc, 6) AS adc_score
         |FROM scored ORDER BY scored.adc DESC, vec_id LIMIT 10""".stripMargin
    },
    // The deterministic IVF: the oracle re-derives assignment (argmax
    // cosine over the SAME literal centroid table, cid-asc tie-break),
    // the query's top-4 probed centroids, the bucket prune, and the
    // exact top-10 within candidates. All float arithmetic is the
    // ann_brute-proven sequential dot/norm shape; ordering on raw
    // cosines, r6 only on output.
    "ann_ivf_det" -> {
      val centRows = detCentroids.map { case (cid, v) =>
        s"($cid, CAST([${v.mkString(",")}] AS DOUBLE[]))"
      }.mkString(", ")
      s"""WITH cents(cid, cv) AS (VALUES $centRows),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |  FROM embeddings),
         |sims AS (SELECT e.vec_id, c.cid,
         |    list_dot_product(e.emb, c.cv) /
         |      (sqrt(list_dot_product(e.emb, e.emb)) *
         |       sqrt(list_dot_product(c.cv, c.cv))) AS cos
         |  FROM e CROSS JOIN cents c),
         |assign AS (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER
         |      (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
         |    FROM sims WHERE vec_id <> 0) WHERE rn = 1),
         |probes AS (SELECT cid FROM sims WHERE vec_id = 0
         |  ORDER BY cos DESC, cid LIMIT 4),
         |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
         |cand AS (SELECT a.vec_id FROM assign a JOIN probes p USING (cid)),
         |scored AS (SELECT e.vec_id,
         |    list_dot_product(e.emb, qv) /
         |      (sqrt(list_dot_product(e.emb, e.emb)) *
         |       sqrt(list_dot_product(qv, qv))) AS cosine
         |  FROM e JOIN cand USING (vec_id) CROSS JOIN q)
         |SELECT vec_id, round(cosine, 6) AS cosine
         |FROM scored ORDER BY scored.cosine DESC, vec_id LIMIT 10""".stripMargin
    },
    // Exact top-k is SQL-expressible: same double-precision dot/norm
    // arithmetic (sequential accumulation over the float-cast elements
    // in both engines), same (cosine DESC, vec_id) tie-break, rounding
    // applied only to the OUTPUT after ordering.
    "ann_brute" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id,
        |    list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
        |      (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                             CAST(embedding AS DOUBLE[]))) *
        |       sqrt(list_dot_product(qv, qv))) AS cosine
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id, round(cosine, 6) AS cosine
        |FROM c ORDER BY c.cosine DESC, vec_id LIMIT 10""".stripMargin,
    // per-dimension means re-derived with an indexed-lambda unnest;
    // both engines widen float32 exactly and divide once per dim
    "emb_centroids" ->
      """WITH e AS (SELECT label,
        |    unnest(list_transform(embedding, (v, i) -> {'dim': i - 1, 'v': v})) AS dv
        |  FROM embeddings),
        |m AS (SELECT label, dv.dim AS dim, avg(dv.v) AS mv
        |  FROM e GROUP BY label, dv.dim),
        |n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
        |SELECT m.label, n.n_vecs, CAST(m.dim AS BIGINT) AS dim,
        |  floor(mv * 1000000 + 0.5001) / 1000000 AS mean_v
        |FROM m JOIN n USING (label)""".stripMargin,
    "emb_quantize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |m AS (SELECT vec_id, e,
        |    list_max(list_transform(e, x -> abs(x))) AS ma FROM v)
        |SELECT vec_id,
        |  floor((sqrt(list_dot_product(e, e))) * 1000000 + 0.5001) / 1000000 AS l2_norm,
        |  ma / 127.0 AS qscale,
        |  CASE WHEN ma = 0
        |    THEN array_to_string(list_transform(e, x -> CAST(0 AS BIGINT)), ',')
        |    ELSE array_to_string(list_transform(e,
        |      x -> CAST(floor(x / (ma / 127.0) + 0.5) AS BIGINT)), ',')
        |  END AS codes
        |FROM m""".stripMargin)
}
