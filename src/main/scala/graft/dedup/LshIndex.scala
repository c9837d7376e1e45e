package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A persisted MinHash-LSH index for INCREMENTAL near-dup detection —
  * the production dedup shape: the corpus is indexed once at ingest,
  * and each new batch is checked against ALL history (and itself)
  * without recomputing or even rescanning the historical text.
  *
  * Three parquet tables, written at build:
  *   - `sigs/`   (doc_id, sig: array<long>[numHashes]) — the row-local
  *     MinHash signatures ([[org.apache.spark.sql.graft.MinHashSignature]]);
  *   - `banded/` (doc_id, band, bh), partitioned BY BAND — the LSH
  *     bucket keys, derived through the SAME [[Dedup.bandRows]]
  *     the batch operator uses;
  *   - `meta/`   one row recording (shingleN, numHashes, bands) — so
  *     [[LshIndex.load]] FAILS FAST on parameter mismatch instead of
  *     silently producing collapsed buckets and mis-scaled estimates.
  *
  * Cross-batch verification uses the STANDARD MinHash estimator
  * (fraction of equal signature components — an unbiased estimator of
  * Jaccard, stderr sqrt(J(1-J)/numHashes) ≈ 0.057 at k=64, J=0.7)
  * instead of exact shingle intersection: exact verify needs both
  * documents' text, which the index deliberately does not store —
  * history stays signatures-only (8 bytes × numHashes per doc,
  * independent of document length). Callers wanting exact Jaccard on
  * a batch's INTERNAL pairs can still run [[Dedup.minhashLsh]] over
  * the batch; the cross-batch contract is estimator-based and says so.
  *
  * Scale design (100 TB of history): a batch's banded rows are tiny
  * next to history, so the candidate join BROADCASTS the batch side
  * and streams the banded history scan — history is never shuffled;
  * signatures join on doc_id for candidate pairs only. Degenerate
  * buckets are capped on the BATCH side ([[LshIndex.checkAndAdd]]'s
  * `maxBatchBucket`): a boilerplate bucket holding N history rows and
  * M batch rows would emit N×M candidates; capping M to a
  * deterministic anchor sample bounds it at N×cap — linear in
  * history, the same star-degradation idea as
  * [[Dedup.cappedBucketPairs]] (which the batch-internal pairs use
  * directly).
  *
  * Crash-consistency contract: appends land banded/ FIRST, sigs/
  * second. A crash between the two leaves band rows without
  * signatures; the re-send of the same batch passes the anti-join
  * (which checks sigs/) and re-appends — duplicate band rows are
  * collapsed by the candidate `distinct()`, so the recovery is simply
  * "send the batch again". (The reverse order would be silent
  * corruption: ids in sigs/ but not banded/ are invisible to every
  * future candidate join yet refused re-indexing.)
  */
final class LshIndex private[dedup] (val spark: SparkSession, val path: String,
                                     val shingleN: Int, val numHashes: Int,
                                     val bands: Int)
    extends graft.PersistedIndex[LshIndex] {
  require(numHashes % bands == 0, "bands must divide numHashes")

  // explicit schemas: an index built over an EMPTY corpus (a pipeline
  // bootstrapping from no history) writes zero parquet data files, and
  // a schema-inferring read of that directory throws
  // UNABLE_TO_INFER_SCHEMA — the declared schema makes it an empty
  // frame instead (and skips footer inference on every load).
  // Legacy-layout note (ADVICE r11): indexes written before appends
  // cast idCol to long can hold INT32 doc_id in their parquet files.
  // MEASURED on this Spark (4.1.2): the vectorized reader widens
  // INT32 parquet columns into a declared-BIGINT read transparently,
  // including MIXED directories (legacy INT32 files + post-upgrade
  // INT64 appends in one dir) — DedupSpec's legacy test pins both the
  // pure-legacy load and the append-after-upgrade lifecycle, so a
  // Spark upgrade that drops the widening fails the suite loudly
  // instead of corrupting ingest.
  def sigs: DataFrame = spark.read
    .schema("doc_id BIGINT, sig ARRAY<BIGINT>").parquet(s"$path/sigs")
  def banded: DataFrame = spark.read
    .schema("doc_id BIGINT, band INT, bh BIGINT").parquet(s"$path/banded")

  private[dedup] def signatures(docs: DataFrame, idCol: String,
                                textCol: String): DataFrame = {
    // the persisted schema pins doc_id to BIGINT; a non-integral id
    // would cast to null for EVERY row under ansi=false (dropDuplicates
    // then keeps one null-id row and silently discards the batch) —
    // fail loudly at plan time instead, like every hash-keyed operator
    graft.mix.Mix.requireIntegralId(docs, idCol)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        org.apache.spark.sql.graft.TextExpressions
          .minhashSignature(col(textCol), shingleN, numHashes).as("sig"))
  }

  private[dedup] def bandRows(sig: DataFrame): DataFrame =
    Dedup.bandRows(sig, "sig", numHashes, bands, "doc_id")

  /** [[check]] then [[add]]: the ingest step that both reports a
    * batch's near-dups and admits the batch to the index.
    */
  def checkAndAdd(newDocs: DataFrame, idCol: String, textCol: String,
                  threshold: Double = 0.7,
                  maxBatchBucket: Int = 64): DataFrame = {
    val (pairs, newSigs) = checkInternal(newDocs, idCol, textCol,
      threshold, maxBatchBucket)
    appendSigs(newSigs)
    pairs
  }

  /** PURE query form: estimated-Jaccard near-dup pairs between
    * `newDocs` and everything indexed, plus within-batch pairs — the
    * index is NOT modified (callers that admit the batch use
    * [[checkAndAdd]], or [[add]] after inspecting the pairs). Ids
    * already indexed are skipped, and a batch-internal duplicate id
    * keeps one arbitrary row (ids are identity — same re-send contract
    * as IvfIndex.addVectors; two different documents must not share an
    * id). Cross-batch pairs are oriented (least, greatest) by id —
    * membership in the batch, not id order, decides which side a doc
    * joins from, so a new doc with a SMALLER id than its historical
    * dup still pairs.
    */
  def check(newDocs: DataFrame, idCol: String, textCol: String,
            threshold: Double = 0.7, maxBatchBucket: Int = 64): DataFrame =
    checkInternal(newDocs, idCol, textCol, threshold, maxBatchBucket)._1

  /** Admit a batch to the index without reporting pairs (the other
    * half of [[checkAndAdd]]; same skip-indexed-ids contract).
    */
  def add(newDocs: DataFrame, idCol: String, textCol: String): Unit =
    appendSigs(signatures(newDocs, idCol, textCol)
      .dropDuplicates("doc_id")
      .join(sigs.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint(true))

  /** Compaction writes (the lifecycle around them is
    * [[graft.PersistedIndex]]'s): sigs/ coalesced into right-sized
    * files; banded/ keeps its BY-BAND partition layout with one file per
    * band directory, so candidate joins and partition pruning behave
    * identically.
    */
  protected def dataTables: Seq[String] = Seq("sigs", "banded")

  protected def writeCompacted(table: String, dest: String,
                               targetFileRows: Long): Unit = table match {
    case "sigs" =>
      val files = math.max(1, (sigs.count() / targetFileRows).toInt)
      sigs.coalesce(files).write.mode("overwrite").parquet(dest)
    case "banded" =>
      // repartition ON band -> exactly one task, and so one file, per
      // band directory
      banded.repartition(bands, col("band"))
        .write.mode("overwrite").partitionBy("band").parquet(dest)
  }

  private def appendSigs(newSigs: DataFrame): Unit = {
    // banded FIRST (crash-consistency contract in the class doc)
    bandRows(newSigs).write.mode("append")
      .partitionBy("band").parquet(s"$path/banded")
    newSigs.write.mode("append").parquet(s"$path/sigs")
    appended()
  }

  private def checkInternal(newDocs: DataFrame, idCol: String, textCol: String,
                            threshold: Double,
                            maxBatchBucket: Int): (DataFrame, DataFrame) = {
    val newSigs = signatures(newDocs, idCol, textCol)
      .dropDuplicates("doc_id")
      .join(sigs.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint(true) // reused: bands, verify, and any append
    val newBanded = bandRows(newSigs)
    // batch-side bucket cap: keep at most maxBatchBucket deterministic
    // anchors per (band, bh) — the batch is small, so this window is
    // cheap, and it bounds the history join's per-bucket fan-out
    val bw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bh")).orderBy(Dedup.anchorOrder: _*)
    val cappedBatch = newBanded
      .withColumn("_r", row_number().over(bw))
      .filter(col("_r") <= maxBatchBucket).drop("_r")
    val bandEq = col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
    val cross = banded.as("a")
      .join(broadcast(cappedBatch).as("b"),
        bandEq && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    // batch-internal pairs share the batch operator's degenerate-bucket
    // guard wholesale
    val within = Dedup.cappedBucketPairs(newBanded, Seq("band", "bh"),
      maxBucketSize = maxBatchBucket)
    val cand = cross.union(within).distinct()
    val allSigs = sigs.union(newSigs)
    val out = cand
      .join(allSigs.select(col("doc_id").as("doc_a"), col("sig").as("_sig_a")), "doc_a")
      .join(allSigs.select(col("doc_id").as("doc_b"), col("sig").as("_sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), // row-local, candidate pairs only
        Dedup.estJaccard(col("_sig_a"), col("_sig_b"), numHashes)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .localCheckpoint(true) // materialize BEFORE any append: the pair
                             // frame reads sigs/ and banded/, and an
                             // append first would double-count the batch
    (out, newSigs)
  }
}

object LshIndex {

  /** Build the index over an initial corpus and persist it (including
    * the parameter record load() validates against).
    */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
            shingleN: Int = 3, numHashes: Int = 64,
            bands: Int = 16): LshIndex = {
    val idx = new LshIndex(docs.sparkSession, path, shingleN, numHashes, bands)
    import docs.sparkSession.implicits._
    idx.signatures(docs, idCol, textCol).dropDuplicates("doc_id")
      .write.mode("overwrite").parquet(s"$path/sigs")
    // band rows derive from the PERSISTED signatures: one signature
    // computation total, and the two tables cannot disagree
    idx.bandRows(idx.sigs)
      .write.mode("overwrite").partitionBy("band").parquet(s"$path/banded")
    Seq((shingleN, numHashes, bands))
      .toDF("shingle_n", "num_hashes", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    idx
  }

  /** True when a COMPLETED index exists at `path` — keyed on the meta
    * table's _SUCCESS marker, which build() writes last, so a build
    * that crashed mid-way reads as absent and is rebuilt.
    */
  def exists(spark: SparkSession, path: String): Boolean =
    graft.IndexMaintenance.isComplete(spark, path)

  /** Load if a completed index exists at `path`, else build — the
    * ingest-once/check-many lifecycle (same path-keyed contract as
    * IvfIndex.buildOrLoad: it does NOT detect that the corpus changed
    * under an existing path; rebuild explicitly for that).
    */
  def buildOrLoad(docs: DataFrame, idCol: String, textCol: String,
                  path: String, shingleN: Int = 3, numHashes: Int = 64,
                  bands: Int = 16): LshIndex =
    if (exists(docs.sparkSession, path))
      load(docs.sparkSession, path, shingleN, numHashes, bands)
    else build(docs, idCol, textCol, path, shingleN, numHashes, bands)

  /** Open an existing index, reading its parameter record on the driver
    * (no Spark job). The persisted parameter record must match
    * the requested parameters — a mismatch would silently collapse
    * buckets (element_at past the stored signature length) and
    * mis-scale every estimate, so it throws instead. Every index this
    * class builds writes the meta record, so its absence means the path
    * does not hold a complete LshIndex: throw rather than guess at
    * banding (a bands mismatch is unverifiable from the signature
    * length alone and would silently collapse cross-batch recall).
    */
  def load(spark: SparkSession, path: String, shingleN: Int = 3,
           numHashes: Int = 64, bands: Int = 16): LshIndex = {
    require(exists(spark, path),
      s"LshIndex at $path has no meta record — not an index this class " +
        "built (build() always persists meta). Rebuild it with build().")
    val m = graft.tables.Tables.rows(spark, s"$path/meta").head
    val (sn, nh, nb) = (m.getAs[Int]("shingle_n"),
      m.getAs[Int]("num_hashes"), m.getAs[Int]("bands"))
    require(sn == shingleN && nh == numHashes && nb == bands,
      s"LshIndex at $path was built with (shingleN=$sn, numHashes=$nh, " +
        s"bands=$nb) but load() requested ($shingleN, $numHashes, $bands) " +
        "— opening with different parameters silently corrupts results")
    new LshIndex(spark, path, shingleN, numHashes, bands)
  }
}
