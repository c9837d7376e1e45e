package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.cosineSimilarity
import graft.tables.Tables

/** A persisted IVF index (SURVEY §8 #3): the k-means centroid table and
  * the per-vector centroid assignments are computed ONCE at build time
  * and written as parquet — queries only probe.
  *
  * This is the shape real vector stores use (an IVF index is an ingest
  * artifact, not per-query work), and it is the 100 TB story:
  *   - `centroids/` is k×dim — trivially broadcastable;
  *   - `assignments/` is the corpus partitioned BY CENTROID
  *     (`partitionBy("cid")`), so a probe of nProbe centroids is a
  *     partition-pruned scan reading ~nProbe/k of the data; the filter
  *     shows up as PartitionFilters in the scan, not a post-read filter.
  *   - the only driver-side materialization is k×dim centroids and the
  *     nProbe probed centroid ids (both bounded by k, same convention
  *     as kmeansCentroids); the driver reads the small `meta/` and
  *     `centroids/` tables itself ([[graft.tables.Tables.rows]]), with
  *     no Spark job.
  */
final class IvfIndex private (val spark: SparkSession, val path: String,
                              val idCol: String, val vecCol: String)
    extends graft.PersistedIndex[IvfIndex] {

  def centroids: DataFrame = Tables.open(spark, s"$path/centroids")

  /** Corpus vectors partitioned by their nearest centroid. */
  def assignments: DataFrame = Tables.open(spark, s"$path/assignments")

  /** The stored centroid table as the driver-side (cid, vector) array the
    * assignment and probe rankings take, read with no Spark job.
    */
  private def storedCentroids(): Array[(Long, Array[Double])] =
    Tables.rows(spark, s"$path/centroids")
      .map(r => (r.getAs[Long]("cid"), r.getAs[Seq[Double]]("centroid").toArray))

  /** ANN top-k: rank centroids against the query (k×dim, driver-side),
    * then scan only the nProbe winning partitions and rank exactly.
    */
  def topK(query: DataFrame, k: Int, nProbe: Int): DataFrame = {
    // LITERAL partition predicates the parquet scan can prune with
    val cand = assignments.filter(col("cid").isin(probedCids(query, nProbe).map(Long.box): _*))
    Similarity.bruteForceTopK(cand, idCol, vecCol, query, k)
  }

  /** The buckets [[topK]] scans: [[Similarity.probedCids]] of the query
    * against the k driver-held centroids.
    */
  private[graft] def probedCids(query: DataFrame, nProbe: Int): Array[Long] =
    Similarity.probedCids(query, vecCol, storedCentroids(), nProbe)

  /** Incremental maintenance: assign NEW vectors to the existing
    * centroids and append them to the cid-partitioned assignments (no
    * rebuild — appended files land inside the right cid= directories,
    * so probes keep pruning). Centroids do drift as the corpus grows;
    * when [[IvfIndex.isStale]]-style monitoring says the drift matters,
    * rebuild with [[IvfIndex.build]]. The meta row count is refreshed
    * so staleness probes stay meaningful.
    *
    * Ids already present in the index are SKIPPED (anti-join against
    * the assignments' id column — a columnar one-column scan): blindly
    * appending a re-sent id would duplicate the vector in its bucket,
    * skewing topK ranks and double-counting in meta. To UPDATE a
    * vector, rebuild (the partitioned-append file layout cannot rewrite
    * a row in place).
    */
  def addVectors(newVectors: DataFrame): Unit = {
    val cents = storedCentroids()
    newVectors
      .select(col(idCol), col(vecCol).cast("array<double>").as(vecCol))
      // a NULL vector has no nearest centroid: skip it (writing it
      // would land a meaningless cid=null partition the probes never
      // read)
      .filter(col(vecCol).isNotNull)
      .join(assignments.select(col(idCol)), Seq(idCol), "left_anti")
      .select(org.apache.spark.sql.graft.CentroidExpressions
          .nearestCentroidId(col(vecCol), cents).as("cid"),
        col(idCol), col(vecCol))
      .write.mode("append").partitionBy("cid").parquet(s"$path/assignments")
    assignments.agg(count(lit(1)).as("n_vectors"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    appended()
  }

  /** Centroid drift after incremental [[addVectors]] appends: per
    * bucket, the cosine between the STORED centroid and the current
    * mean of the bucket's members, plus the member count. One
    * map-side-combining VectorMean pass over assignments (the same
    * one-aggregate shape k-means iterations use — never a corpus x dim
    * posexplode) joined against the k-row centroid table — no driver
    * materialization beyond the k-row result the caller reads.
    *
    * Drift is the re-centering signal: appended vectors land in their
    * nearest EXISTING bucket, so as the corpus grows the stored
    * centroids stop being the members' means and probe ranking quality
    * decays. cosine ≈ 1 → fresh; lower → stale.
    */
  def centroidDrift(): DataFrame = {
    val memberMeans = assignments
      .groupBy(col("cid"))
      .agg(org.apache.spark.sql.graft.VectorAggregates
        .vectorMean(col(vecCol)).as("mean_vec"))
    val counts = assignments.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
    centroids.join(memberMeans, Seq("cid"), "left")
      .join(counts, Seq("cid"), "left")
      .select(col("cid"), col("n_members"),
        cosineSimilarity(col("centroid"), col("mean_vec")).as("centroid_cosine"))
  }

  /** Re-center WITHOUT re-bucketing: overwrite each stored centroid
    * with its bucket's current member mean (one aggregation pass), so
    * probe ranking reflects the corpus that actually lives in each
    * bucket. Membership — and therefore the partition layout — is
    * untouched: this is the cheap periodic maintenance step between
    * incremental appends. When drift is severe enough that vectors
    * belong in DIFFERENT buckets (centroid_cosine low and appends
    * dominated the corpus), a full [[IvfIndex.build]] re-bucket is the
    * honest fix; re-centering cannot move a vector.
    */
  def recenter(): Unit = {
    recover() // a recenter that crashed mid-swap left centroids_next
    val memberMeans = assignments
      .groupBy(col("cid"))
      .agg(org.apache.spark.sql.graft.VectorAggregates
        .vectorMean(col(vecCol)).as("centroid"))
      .filter(col("centroid").isNotNull)
    // keep empty buckets' stored centroids (no members to mean over)
    val updated = centroids.select(col("cid"), col("centroid").as("_old"))
      .join(memberMeans, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("centroid"), col("_old")).as("centroid"))
    // staged: parquet cannot overwrite the path it is reading
    replace("centroids")(updated.coalesce(1).write.mode("overwrite").parquet(_))
  }

  /** The compaction write (the lifecycle around it is
    * [[graft.PersistedIndex]]'s). Every [[addVectors]] append lands a
    * file per task per touched cid directory, so an append-heavy
    * lifecycle fragments the bucket scans probes prune to — measured in
    * SCALING.md "r13: index lifecycle under append-heavy ingest": 8
    * appends took the sg100 index from 240 to 2,146 files and topKBatch
    * from 0.68 s to ~3.2 s, and [[recenter]] (which rewrites only the
    * k-row centroid table) cannot recover it. Compaction rewrites the
    * table in the layout [[IvfIndex.build]] writes
    * (`IvfIndex.writeBuckets`), keeping the BY-CID partitions probes
    * prune with.
    */
  protected def dataTables: Seq[String] = Seq("assignments")

  protected def writeCompacted(table: String, dest: String,
                               targetFileRows: Long): Unit =
    IvfIndex.writeBuckets(assignments, idCol, assignments.count(),
      storedCentroids().length, targetFileRows, dest)

  /** Drift-triggered maintenance policy (SURVEY §9 #4): re-center when
    * any non-empty bucket's stored centroid has drifted below
    * `minCosine` against its member mean. Returns true when a re-center
    * ran. The drift probe is one aggregation over assignments; callers
    * run this after append batches, not per query.
    */
  def recenterIfDrifted(minCosine: Double = 0.995): Boolean = {
    val drifted = centroidDrift()
      .filter(col("n_members") > 0 && col("centroid_cosine") < minCosine)
      .limit(1).count() > 0
    if (drifted) recenter()
    drifted
  }

  /** Batch ANN: top-k neighbors for EVERY row of a query table in one
    * pass — the shape of real retrieval/dedup workloads (score a new
    * document batch against the corpus).
    *
    * Plan: per-query probes are a ROW-LOCAL top-nProbe centroid rank
    * (NearestCentroidIds over the k×dim driver-side table — the same
    * bounded materialization the class contract already allows) + one
    * explode, so the query table never joins or exchanges to find its
    * buckets; the union of probed cids is still ≤ |centroids|, so the
    * assignments scan stays partition-prunable via a dynamic filter
    * (cid semi-join); candidates join probes ON cid — each query's
    * vectors come only from its own probed buckets — and a per-query
    * window takes the exact top-k. Shuffles: one on cid (bounded by
    * nProbe × queries), one for the final per-query ranking.
    *
    * Null-vector queries have no nearest centroids and are DROPPED
    * from the output (no probes to run — the r7 contract; the old
    * window path emitted arbitrary probes and all-null cosines for
    * them).
    *
    * @param queryIdCol column naming each query row (output column
    *        `query_id`)
    * @param excludeSelf drop corpus rows whose id equals the query's id
    *        BEFORE ranking — the kNN SELF-join shape (every doc's top-k
    *        neighbors, trivial self-match at cosine 1 excluded), so a
    *        full k neighbors survive instead of k-1
    */
  def topKBatch(queries: DataFrame, queryIdCol: String, k: Int,
                nProbe: Int, excludeSelf: Boolean = false): DataFrame = {
    val cents = storedCentroids()
    val probes = queries
      .select(col(queryIdCol).as("query_id"),
        col(vecCol).cast("array<double>").as("_qv"))
      .select(col("query_id"), col("_qv"),
        explode(org.apache.spark.sql.graft.CentroidExpressions
          .nearestCentroidIds(col("_qv"), cents, nProbe)).as("cid"))
      .select(col("query_id"), col("cid"), col("_qv"))
    val cand = assignments
      .join(probes.select(col("cid")).distinct(), Seq("cid"), "left_semi")
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col(idCol))
    val scored = cand.join(probes, Seq("cid"))
      .select(col("query_id"), col(idCol),
        cosineSimilarity(col(vecCol), col("_qv")).as("cosine"))
    val pool = if (excludeSelf) scored.filter(col(idCol) =!= col("query_id"))
               else scored
    pool.withColumn("_rk", row_number().over(rankW))
      .filter(col("_rk") <= k)
      .select(col("query_id"), col(idCol), col("cosine"))
  }
}

object IvfIndex {

  /** Build the index: k-means centroids (Lloyd's, deterministic seeds),
    * assign every vector to its nearest centroid, write both tables
    * plus a one-row meta table recording the indexed vector count (the
    * staleness handle for [[IvfIndex.isStale]]). Beyond the k-means
    * iterations, two passes over the corpus: a count of its non-null
    * vectors, which sizes the bucket files, and the assignment write,
    * whose argmax is a row-local projection and whose one exchange
    * groups rows into [[writeBuckets]]'s (cid, salt) files — the layout
    * compaction leaves, so a fresh index holds right-sized files per
    * bucket instead of one file per input split per bucket.
    */
  def build(df: DataFrame, idCol: String, vecCol: String, path: String,
            k: Int = 16, iterations: Int = 2,
            fitSampleRate: Double = 1.0): IvfIndex = {
    val spark = df.sparkSession
    val cents = Similarity.kmeansCentroids(df, idCol, vecCol, k, iterations,
      fitSampleRate)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // assign from the PERSISTED table (exact doubles survive the parquet
    // roundtrip)
    val idx = new IvfIndex(spark, path, idCol, vecCol)
    val stored = idx.storedCentroids()
    val vecs = df.select(col(idCol), col(vecCol).cast("array<double>").as(vecCol))
      .filter(col(vecCol).isNotNull) // null vectors are unindexable
    val n = vecs.count()
    writeBuckets(vecs.select(org.apache.spark.sql.graft.CentroidExpressions
          .nearestCentroidId(col(vecCol), stored).as("cid"),
        col(idCol), col(vecCol)),
      idCol, n, stored.length, graft.PersistedIndex.TargetFileRows,
      s"$path/assignments")
    import spark.implicits._
    Seq(n).toDF("n_vectors")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    idx
  }

  /** The assignment layout build and compaction both write: partitioned
    * by cid, rows hash-salted into `ceil(meanBucket / targetFileRows)`
    * sub-files per bucket, one task per (cid, salt) ⇒ bounded,
    * right-sized files at any corpus scale (a 100 TB index with k
    * buckets of 25M vectors holds ~targetFileRows-row files, never one
    * monolith per bucket). Sub-files are sized from the MEAN bucket of
    * `n` rows over `nCids` buckets: k-means buckets are ~n/k by
    * construction, and a pathologically skewed bucket writes
    * proportionally more rows per file, which is the rebuild-k signal,
    * not a layout failure.
    */
  private def writeBuckets(rows: DataFrame, idCol: String, n: Long, nCids: Int,
                           targetFileRows: Long, dest: String): Unit = {
    val buckets = math.max(1L, nCids.toLong)
    val filesPerCid = math.max(1L,
      (n / buckets + targetFileRows - 1) / targetFileRows).toInt
    rows.repartition((buckets * filesPerCid).toInt, col("cid"),
        pmod(xxhash64(col(idCol)), lit(filesPerCid.toLong)))
      .write.mode("overwrite").partitionBy("cid").parquet(dest)
  }

  /** Open an already-built index. */
  def load(spark: SparkSession, path: String, idCol: String,
           vecCol: String): IvfIndex =
    new IvfIndex(spark, path, idCol, vecCol)

  /** True when a COMPLETED index exists at `path` — keyed on the meta
    * table, which build() writes last, so a build that crashed mid-way
    * reads as absent and is rebuilt.
    */
  def exists(spark: SparkSession, path: String): Boolean =
    graft.IndexMaintenance.isComplete(spark, path)

  /** Load if the index exists, else build and persist — the
    * ingest-once/query-many lifecycle. NOTE the contract: the index is
    * an ingest artifact keyed by `path`; this does NOT detect that the
    * corpus changed underneath an existing index (that check is a full
    * corpus count — call [[IvfIndex.isStale]] explicitly when the
    * source may have been rewritten, and rebuild with [[build]]).
    */
  def buildOrLoad(df: DataFrame, idCol: String, vecCol: String, path: String,
                  k: Int = 16, iterations: Int = 2): IvfIndex =
    if (exists(df.sparkSession, path)) load(df.sparkSession, path, idCol, vecCol)
    else build(df, idCol, vecCol, path, k, iterations)

  /** [[buildOrLoad]] plus the [[isStale]] count probe on the load path:
    * an existing index whose recorded vector count no longer matches
    * the corpus is REBUILT instead of served. This closes the
    * regenerated-dataset-at-the-same-path hole in buildOrLoad's
    * path-keyed contract at the cost of one corpus count per call —
    * the right default for harness/entry-point callers; ingest
    * pipelines that own the index lifecycle can keep the cheaper
    * buildOrLoad.
    */
  def buildOrRefresh(df: DataFrame, idCol: String, vecCol: String, path: String,
                     k: Int = 16, iterations: Int = 2): IvfIndex =
    if (exists(df.sparkSession, path)) {
      val idx = load(df.sparkSession, path, idCol, vecCol)
      if (isStale(idx, df)) build(df, idCol, vecCol, path, k, iterations)
      else idx
    } else build(df, idCol, vecCol, path, k, iterations)

  /** Cheap-but-not-free staleness probe: compares the indexed vector
    * count recorded at build time (read on the driver, no Spark job) with
    * the corpus's current count of non-null vectors — the rows
    * [[IvfIndex.build]] indexes — in one count scan. A matching count
    * does not PROVE freshness — an equal-size rewrite slips through — but
    * it catches the common regenerated/filtered-dataset case the
    * path-only contract misses.
    */
  def isStale(index: IvfIndex, corpus: DataFrame): Boolean = {
    // an index with no meta record (pre-meta build, partial write)
    // cannot prove freshness — report stale rather than crash
    if (!exists(index.spark, index.path)) return true
    val indexed = Tables.rows(index.spark, s"${index.path}/meta").head.getLong(0)
    indexed != corpus.filter(col(index.vecCol).isNotNull).count()
  }
}
