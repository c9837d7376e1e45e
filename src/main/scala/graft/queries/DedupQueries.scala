package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.dedup.Dedup
import graft.similarity.Similarity

/** G1-G5 — deduplication over the documents / embeddings tables.
  * G2/G3/G5 are not SQL-expressible (hash/seed-dependent candidate
  * sets) -> rows-only driver checks with semantics pinned by DedupSpec;
  * G1/G4/G6/G+ carry real DuckDB oracles.
  */
object DedupQueries extends QueryPack {

  /** G1 `dedup_exact` — exact dedup via sha2 groupBy; oracle groups by
    * the text itself (identical result barring a 2^-256 collision).
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir), "doc_id", "text")

  /** G2 `dedup_minhash` — 64-perm MinHash, 16x4 banded LSH, exact
    * Jaccard >= 0.7 verify.
    */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(Tables.documents(s, dir), "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.7)
      .select(col("doc_a"), col("doc_b"), r4(col("jaccard")).as("jaccard"))

  /** G3 `dedup_simhash` — 64-bit SimHash, 4x16-bit bands, Hamming <= 8. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDup(Tables.documents(s, dir), "doc_id", "text", maxHamming = 8)

  /** G4 `dedup_jaccard` — blocked (by source) trigram Jaccard >= 0.3
    * over the df-capped (rare-shingle) universe. Since r12 this entry
    * takes the PRODUCTION ordering by default (verdict-r11 item 2):
    * shingles present in more than half their block's documents leave
    * the universe before pair enumeration, bounding the equi-join's
    * Σ df² candidate mass on vocab-saturated / boilerplate-laden
    * corpora (the r11 10x-data sweep measured 13x growth for the
    * uncapped form). The cap is exact-by-definition — Jaccard over the
    * rare-shingle sets — and the oracle restates it, so the operator
    * stays hash-verified.
    *
    * Since r14 (verdict-r13 item 1) the entry takes the CLASS-COLLAPSED
    * form [[graft.dedup.Dedup.blockedJaccardClassed]]: identical-text
    * classes collapse to min-id representatives before the verify join
    * (the dedup_prune r13 treatment) and pair output is reconstructed
    * from class pairs + membership row-locally — the verify join's
    * Σ df² mass tracks distinct contents, not copies. Like the prune,
    * the df bar consequently counts DISTINCT CONTENTS, and the oracle
    * restates that basis with the same `cls` CTE. The plain per-copy
    * forms remain available as [[graft.dedup.Dedup.blockedJaccard]]
    * (df over copies) with `maxShingleDocFrac = None` as the uncapped
    * small-vocab variant.
    *
    * SQL-oracled: the block join is an exact (not approximate) pruning
    * — a pair can only pass the threshold if it shares the block — so
    * DuckDB's capped within-source pair scan states the same set,
    * with shingle STRINGS standing in for the xxhash64 values (identical
    * barring a 64-bit collision, the dedup_exact/decontam convention).
    */
  def dedupJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.blockedJaccardClassed(Tables.documents(s, dir), "doc_id", "text",
      "source", shingleN = 3, threshold = 0.3, maxShingleDocFrac = Some(0.5))
      .select(col("doc_a"), col("doc_b"), r4(col("jaccard")).as("jaccard"))

  /** G+ `dedup_prune` — the MATERIALIZED deduplicated corpus (what a
    * curation pipeline actually ships): blocked-Jaccard pairs →
    * connected components → each cluster keeps its smallest id, every
    * other member drops, untouched docs pass through. Fully oracled:
    * DuckDB recomputes the pairs (the dedup_jaccard oracle), derives
    * components with a recursive min-label CTE, and anti-joins — so
    * the hash compare proves the whole pair→cluster→prune chain.
    * Since r12 the entry defaults to the saturation-robust df-capped
    * ordering (verdict-r11 item 2) — see [[dedupJaccard]]: shingles
    * present in more than half their block's documents leave the
    * Jaccard universe before pair enumeration (intersection AND union —
    * exact by definition, not approximate; the r10 skew fixture put a
    * 12-token line on 60% of docs and the uncapped candidate mass went
    * 5.1x). The G+r checklist key `dedup_prune_robust` is this same
    * builder and oracle.
    */
  def dedupPrune(s: SparkSession, dir: String): DataFrame =
    Dedup.pruneNearDups(Tables.documents(s, dir), "doc_id", "text", "source",
        shingleN = 3, threshold = 0.3, maxShingleDocFrac = Some(0.5))
      .select(col("doc_id"), col("source"), col("n_chars"))

  /** G+L `dedup_prune_lsh` — the SCALE-PATH prune
    * ([[graft.dedup.Dedup.pruneNearDupsLsh]]): LSH-bounded candidates,
    * exact-verified drops, keep-one per component. Rows-only by the
    * minhash seed layout (like dedup_minhash); the CHECKS floors pin
    * drop recall vs the exact chain at the same threshold and the
    * drops ⊆ exact-drops theorem (precision 1.0).
    */
  def dedupPruneLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.pruneNearDupsLsh(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, threshold = 0.7)
      .select(col("doc_id"), col("source"), col("n_chars"))

  /** G8+ `dedup_cut` — the passage-level end product: duplicated
    * 8-token spans CUT from every document (Lee et al. 2021 — remove
    * the duplicated passages, keep the documents). Fully oracled: the
    * DuckDB side re-derives the spans (the dedup_substring oracle) and
    * cuts with an indexed list_filter, so the hash compare proves
    * span-derivation AND the exact surviving token sequence.
    */
  def dedupCut(s: SparkSession, dir: String): DataFrame =
    Dedup.cutDuplicateSpans(Tables.documents(s, dir), "doc_id", "text",
      windowTokens = 8, minDocs = 2)

  /** G11 `text_lines_dedup` — CCNet-style line-level boilerplate
    * removal: drop every line whose normalized form appears in >= 2
    * distinct documents. The corpus texts are single-line token
    * streams, so the query synthesizes deterministic lines first —
    * 10-token segments joined by `\n` (the ts_interpolate
    * convention of deriving the tested structure from the data) —
    * then cuts cross-doc recurring lines. Fully oracled: DuckDB
    * re-derives the segments, counts normalized-line document
    * frequency on the strings (standing in for the xxhash64 values,
    * the dedup_substring convention), and re-cuts with an indexed
    * list_filter, so the hash compare proves the hot-line set AND the
    * exact surviving line sequence of every document.
    */
  def textLinesDedup(s: SparkSession, dir: String): DataFrame = {
    val ws = split(col("text"), " ")
    val nLines = ceil(size(ws) / lit(10.0)).cast("int")
    val lined = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        concat_ws("\n", transform(sequence(lit(0), nLines - 1),
          i => concat_ws(" ", slice(ws, i * 10 + 1, lit(10))))).as("text"))
    Dedup.dropBoilerplateLines(lined, "doc_id", "text", minDocs = 2)
  }

  /** G12 `dedup_hamming` — EXACT Hamming-radius (<= 3) near-dup pairs
    * over the portable md5-sign SimHash, Manku et al. WWW'07 style:
    * pigeonhole 4x16-bit block join as a LOSSLESS candidate generator,
    * xor+popcount verify. Fully oracled: the fingerprint is md5-derived
    * (engine-portable) and the blocking is exact, so DuckDB restates
    * the identical pair set by brute force — the first near-dup-by-
    * signature operator on the hash-verified surface (MinHash/seeded-
    * SimHash/LSH stay rows-only by seed-dependence, not by kind).
    *
    * Since r12 the entry ships with the PRODUCTION valve
    * (`maxBucketSize = 10000`, the simhashNearDup convention —
    * verdict-r11 spirit of the dedup_prune default): inert at oracle
    * scale (sf0.1 probe: largest identical class 249 docs, hottest
    * block bucket 668 classes — output identical to uncapped, so the
    * brute-force oracle still states the exact set), binding only on
    * the corpus shapes where the exact operator's output itself is the
    * cost (the mult=1000 probe: 250k-doc classes, 3.7e10 identical
    * pairs; capped run 55.9 s vs 2994 s — SCALING r12). The uncapped
    * exact form stays one explicit argument away.
    */
  def dedupHamming(s: SparkSession, dir: String): DataFrame =
    Dedup.hammingNearDup(Tables.documents(s, dir), "doc_id", "text",
      maxHamming = 3, maxBucketSize = 10000)

  /** G5 `dedup_embed` — hyperplane-LSH bucketed cosine near-dup pairs. */
  def dedupEmbed(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDup(Tables.embeddings(s, dir), "vec_id", "embedding",
      dim = 64, threshold = 0.3)
      .select(col("id_a"), col("id_b"), r4(col("cosine")).as("cosine"))

  /** G9 `dedup_semantic` — SemDeDup-style semantic near-dup pairs:
    * k-means clusters (16 centroids, 2 deterministic Lloyd's
    * iterations, the ann_ivf configuration) as the candidate blocker,
    * exact cosine >= 0.3 within clusters. Rows-only: the cluster
    * assignment depends on float-sum order inside the centroid means
    * (like every distributed k-means), so the candidate set is not
    * SQL-stateable; SimilaritySpec pins the semantics on a fixture
    * with planted within-cluster near-dups and cross-cluster decoys.
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticNearDup(Tables.embeddings(s, dir), "vec_id", "embedding",
      k = 16, iterations = 2, threshold = 0.3)
      .select(col("id_a"), col("id_b"), col("cid"),
        r4(col("cosine")).as("cosine"))

  /** G9det `dedup_semantic_det` — the SemDeDup chain over FIXED
    * literal centroids (the ann_ivf_det pattern applied to G9): with
    * the k-means fit removed, the argmax cluster blocker, the
    * exactly-once in-cluster pairing, and the exact cosine verify are
    * all hash-verified against a DuckDB re-derivation from the same
    * stringified centroid table. Only the fit itself remains rows-only
    * (`dedup_semantic`).
    */
  def dedupSemanticDet(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticNearDupWithCentroids(Tables.embeddings(s, dir),
        "vec_id", "embedding",
        SimilarityQueries.detCentroids
          .map { case (cid, v) => (cid, v.toArray) }.toArray,
        threshold = 0.3, maxClusterSize = 10000)
      .select(col("id_a"), col("id_b"), col("cid"),
        r4(col("cosine")).as("cosine"))

  /** G+ `dedup_clusters` — connected components over a pair list (the
    * keep-one-per-cluster step). The test graph is deterministic and
    * oracle-friendly: edges event_id -> 8*event_id form trees whose
    * component minimum is each id with its trailing base-8 factor
    * stripped (n >> 3*(v2(n)/3), where v2 = trailing binary zeros =
    * bit_count((n & -n) - 1)) — so DuckDB states the exact fixpoint in
    * closed form while the Spark side runs the real pointer-doubling
    * label-propagation loop to convergence.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val ids = Tables.events(s, dir).select(col("event_id"))
    val maxId = ids.agg(max(col("event_id"))).head.getLong(0)
    val edges = ids.filter(col("event_id") * 8 <= maxId && col("event_id") > 0)
      .select(col("event_id").as("src"), (col("event_id") * 8).as("dst"))
    // pointer doubling, not large-small-star: A/B on this graph at
    // sf0.1 (min-of-3, local[32]) measured 2.04s vs 4.90s — LS/SS pays
    // an extra distinct + per-round symmetrize that only wins when the
    // edge multiset itself is too hot to re-join (see PLANS.md).
    Dedup.connectedComponents(edges).select(col("node"), col("component"))
  }

  /** G6 `dedup_decontam` — eval-set decontamination: docs sharing >= 3
    * distinct 5-gram shingles with the benchmark slice (every 97th doc
    * standing in for an eval set). The benchmark's shingles broadcast;
    * the oracle joins on the shingle strings (identical result barring
    * an xxhash64 collision, same convention as dedup_exact's sha2).
    */
  def dedupDecontam(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.contaminatedIds(docs, "doc_id", "text",
      docs.filter(col("doc_id") % 97 === 0), "text",
      shingleN = 5, minOverlap = 3)
  }

  /** G6+ `dedup_contam_frac` — the whole corpus SCORED against the
    * dedup_decontam bench set: per doc, distinct 5-gram count, bench
    * overlap count, and the contamination fraction (the quantity
    * policy thresholds act on). Fully oracled: shingle strings stand
    * in for the xxhash64 values (the decontam convention), frac
    * r6-rounded on both sides.
    */
  def dedupContamFrac(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.contaminationFraction(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text", shingleN = 5)
      .select(col("doc_id"), col("n_grams"), col("n_overlap"),
        r6(col("contam_frac")).as("contam_frac"))
  }

  /** G8++ `dedup_overlap` — cross-source duplicated-window overlap
    * matrix over the dedup_substring hot set (8-token windows, >= 2
    * docs). Fully oracled on window strings (same collision
    * convention).
    */
  def dedupOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlap(Tables.documents(s, dir), "doc_id", "text", "source",
      windowTokens = 8, minDocs = 2)

  /** G8++ `dedup_profile` — document-frequency histogram of the
    * duplicated 8-token windows (how hot the duplicated passages
    * run). Fully oracled.
    */
  def dedupProfile(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateProfile(Tables.documents(s, dir), "doc_id", "text",
      windowTokens = 8, minDocs = 2)

  /** G7 `dedup_incremental` — the persisted-index production shape:
    * history = even doc ids (built once, reused across invocations
    * like ann_ivf's index), batch = odd ids checked against it via the
    * PURE `check` — no mutation, so the query is idempotent and only
    * the first invocation pays the build. Rows-only: the MinHash
    * estimator is hash-function-defined (like the rest of the minhash
    * family); DedupSpec pins the semantics, including cross-batch
    * orientation and the re-send no-op contract.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val san = dir.replaceAll("[^A-Za-z0-9.]+", "_")
    val docs = Tables.documents(s, dir)
    // v2 path: the v1 artifact was written by a checkAndAdd-based
    // wiring that appended the batch, so loading it would anti-join
    // the whole batch away; the versioned name makes the contract
    // change explicit instead of silently depending on cleanup
    val idx = graft.dedup.LshIndex.buildOrLoad(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      s"spark-warehouse/lsh_incr_v2_$san")
    idx.check(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
      threshold = 0.7)
      .select(col("doc_a"), col("doc_b"), r4(col("est_jaccard")).as("est_jaccard"))
  }

  /** G8 `dedup_substring` — exact-substring duplicate spans: 8-token
    * windows occurring in >= 2 distinct docs, merged into maximal
    * spans. SQL-oracled: window hashes stand in for window strings
    * (the dedup_exact/decontam collision convention), and the span
    * merge is deterministic integer arithmetic in both engines.
    */
  def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpans(Tables.documents(s, dir), "doc_id", "text",
      windowTokens = 8, minDocs = 2)

  /** G10 `dedup_bloom` — the Bloom-filter membership gate
    * ([[Dedup.bloomGate]]): the batch (every odd doc plus a
    * re-ingestion of the doc_id % 4 == 0 quarter of the history)
    * flagged against the even-doc history. The filter's bit layout is
    * Spark-implementation-defined → rows-only; DedupSpec pins the
    * contract that matters: zero false negatives (every re-ingested
    * doc flagged) and a bounded false-positive count, both
    * deterministic because partial-filter OR-merge is commutative.
    */
  def dedupBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.bloomGate(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1 || col("doc_id") % 4 === 0),
      "doc_id", "text", expectedItems = 1L << 16, numBits = 1L << 20)
      .select(col("doc_id"), col("maybe_dup"))
  }

  /** G+m `dedup_pair_mass` — the pre-flight candidate-mass audit of
    * the exact Jaccard chain ([[graft.dedup.Dedup.pairMassAudit]]):
    * per block, the Σ df·(df−1)/2 row count the verify equi-join
    * would materialize, the hottest shingle df, and the linear
    * universe size, over the SAME basis as the shipped
    * `dedup_jaccard` entry (class-collapsed reps, df-cap 0.5). This
    * is the number a 100 TB operator reads BEFORE launching the only
    * non-linear operator in the library — and the same scalar the
    * opt-in `maxCandidatePairs` fail-fast guard asserts inside the
    * exact chain's plan. Fully SQL-oracled: DuckDB restates the cls
    * collapse, the df-cap, and the per-block rollup with shingle
    * strings standing in for the xxhash64 values.
    */
  def dedupPairMass(s: SparkSession, dir: String): DataFrame =
    Dedup.pairMassAudit(Tables.documents(s, dir), "doc_id", "text",
      "source", shingleN = 3, maxShingleDocFrac = Some(0.5))

  /** G+a `dedup_prune_auto` — the measured router
    * ([[graft.dedup.Dedup.pruneNearDupsAuto]]): one linear
    * pairMassAudit job, then the exact chain when the measured
    * candidate mass fits the budget, else the LSH chain. On the
    * driver fixtures the mass is far under the default budget, so the
    * route is the exact chain and the entry is HASH-ORACLED by the
    * same SQL as `dedup_prune` — the oracle pins both the routed
    * output and the fact that the router picks exact here (an LSH
    * route at threshold 0.3 would hash-differ). The spec pins the
    * other branch.
    */
  def dedupPruneAuto(s: SparkSession, dir: String): DataFrame =
    Dedup.pruneNearDupsAuto(Tables.documents(s, dir), "doc_id", "text",
        "source", shingleN = 3, threshold = 0.3,
        maxShingleDocFrac = Some(0.5))
      .select(col("doc_id"), col("source"), col("n_chars"))

  /** G+hm `dedup_hamming_mass` — the Hamming family's pre-flight
    * audit ([[graft.dedup.Dedup.hammingPairMassAudit]]): bucket-join
    * candidate mass, hottest bucket, class structure and
    * identical-fingerprint output mass, in one linear row — the
    * numbers CLUSTER.md's dedup_hamming entry tells an operator to
    * check before touching `maxBucketSize`/`maxClassSize` at corpus
    * scale. SQL-oracled from the dedup_hamming fingerprint CTE plus
    * the block decomposition restated in DuckDB integer arithmetic.
    */
  def dedupHammingMass(s: SparkSession, dir: String): DataFrame =
    Dedup.hammingPairMassAudit(Tables.documents(s, dir), "doc_id", "text",
      maxHamming = 3)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_pair_mass" -> dedupPairMass,
    "dedup_prune_auto" -> dedupPruneAuto,
    "dedup_hamming_mass" -> dedupHammingMass,
    "dedup_bloom" -> dedupBloom,
    "dedup_substring" -> dedupSubstring,
    "text_lines_dedup" -> textLinesDedup,
    "dedup_incremental" -> dedupIncremental,
    "dedup_decontam" -> dedupDecontam,
    "dedup_contam_frac" -> dedupContamFrac,
    "dedup_overlap" -> dedupOverlap,
    "dedup_profile" -> dedupProfile,
    "dedup_exact" -> dedupExact,
    "dedup_minhash" -> dedupMinhash,
    "dedup_simhash" -> dedupSimhash,
    "dedup_jaccard" -> dedupJaccard,
    "dedup_hamming" -> dedupHamming,
    "dedup_prune" -> dedupPrune,
    "dedup_prune_robust" -> dedupPrune,
    "dedup_prune_lsh" -> dedupPruneLsh,
    "dedup_cut" -> dedupCut,
    "dedup_embed" -> dedupEmbed,
    "dedup_semantic" -> dedupSemantic,
    "dedup_semantic_det" -> dedupSemanticDet,
    "dedup_clusters" -> dedupClusters)

  private val oracles0: Map[String, String] = Map(
    // dedup_semantic_det: assignment argmax over the SAME literal
    // centroid table as ann_ivf_det (cosine DESC, cid tie-break),
    // in-cluster pairs under the cap (cannot trigger at oracle scale),
    // exact cosine verify at the threshold, r4 on output.
    "dedup_semantic_det" -> {
      val centRows = SimilarityQueries.detCentroids.map { case (cid, v) =>
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
         |    FROM sims) WHERE rn = 1),
         |c AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    CAST(a.cid AS BIGINT) AS cid,
         |    list_dot_product(ea.emb, eb.emb) /
         |      (sqrt(list_dot_product(ea.emb, ea.emb)) *
         |       sqrt(list_dot_product(eb.emb, eb.emb))) AS cosine
         |  FROM assign a JOIN assign b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  JOIN e ea ON a.vec_id = ea.vec_id
         |  JOIN e eb ON b.vec_id = eb.vec_id)
         |SELECT id_a, id_b, cid,
         |  floor(cosine * 10000 + 0.5001) / 10000 AS cosine
         |FROM c WHERE cosine >= 0.3""".stripMargin
    },
    // dedup_embed, oracled since r11 from the stringified hyperplane
    // matrix (the ann_lsh pattern): band values re-derived as
    // sign-of-dot sums (strict > 0, HyperplaneBandValues' test), the
    // exactly-once band-sharing pair set as DISTINCT pairs, exact
    // cosine verify at the threshold, r4 on output. The 10k bucket cap
    // cannot trigger at oracle scale (<= 2000 vectors), so the
    // uncapped statement is exact here.
    "dedup_embed" -> {
      val planeRows = graft.similarity.Similarity.planes(64, 64, 42L)
        .zipWithIndex
        .map { case (pl, p) => s"($p, CAST([${pl.mkString(",")}] AS DOUBLE[]))" }
        .mkString(", ")
      s"""WITH planes(p, pl) AS (VALUES $planeRows),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |  FROM embeddings),
         |bits AS (SELECT e.vec_id, p.p // 8 AS band,
         |    CASE WHEN list_dot_product(e.emb, p.pl) > 0
         |         THEN 1 << (p.p % 8) ELSE 0 END AS bit
         |  FROM e CROSS JOIN planes p),
         |bands AS (SELECT vec_id, band, SUM(bit) AS bv
         |  FROM bits GROUP BY vec_id, band),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id),
         |c AS (SELECT cand.id_a, cand.id_b,
         |    list_dot_product(ea.emb, eb.emb) /
         |      (sqrt(list_dot_product(ea.emb, ea.emb)) *
         |       sqrt(list_dot_product(eb.emb, eb.emb))) AS cosine
         |  FROM cand
         |  JOIN e ea ON cand.id_a = ea.vec_id
         |  JOIN e eb ON cand.id_b = eb.vec_id)
         |SELECT id_a, id_b,
         |  floor(cosine * 10000 + 0.5001) / 10000 AS cosine
         |FROM c WHERE cosine >= 0.3""".stripMargin
    },
    // brute-force pair scan over fingerprints recomputed from scratch:
    // md5 sign bits per DISTINCT token (the '0x'||substr(md5) parse is
    // the ds_dsir convention), +-1 sums per bit position, bit set iff
    // positive — then EVERY pair at Hamming <= 3. A hash match proves
    // the codegen fingerprint AND the losslessness of the pigeonhole
    // block join (a lost candidate would drop a row; a fingerprint
    // drift would change a distance).
    "dedup_hamming" ->
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
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
        |    AS BIGINT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3""".stripMargin,
    // dedup_hamming_mass: the dedup_hamming fingerprint CTE, then the
    // class collapse, the 16-bit block decomposition (b<2 -> lo word,
    // b>=2 -> hi, shift (b mod 2)*16 — hammingBlock's layout), and the
    // two scalar rollups. lo/hi are sums of bits 0..31, so they are
    // non-negative and the >> shifts are sign-safe on both engines.
    "dedup_hamming_mass" ->
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
        |), cls AS (
        |  SELECT lo, hi, count(*) AS m FROM fp GROUP BY lo, hi
        |), cstats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |    CAST(coalesce(max(m), 0) AS BIGINT) AS max_class_size,
        |    CAST(coalesce(sum((m * (m - 1)) // 2), 0) AS BIGINT)
        |      AS intra_class_pairs
        |  FROM cls
        |), banded AS (
        |  SELECT g.b AS blk,
        |    CASE WHEN g.b < 2 THEN (lo >> (g.b * 16)) & 65535
        |         ELSE (hi >> ((g.b - 2) * 16)) & 65535 END AS bv
        |  FROM cls CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) g
        |), bstats AS (
        |  SELECT CAST(coalesce(sum((c * (c - 1)) // 2), 0) AS BIGINT)
        |      AS candidate_class_pairs,
        |    CAST(coalesce(max(c), 0) AS BIGINT) AS max_bucket_classes
        |  FROM (SELECT blk, bv, count(*) AS c FROM banded GROUP BY blk, bv)
        |)
        |SELECT candidate_class_pairs, max_bucket_classes, n_classes,
        |  max_class_size, intra_class_pairs
        |FROM bstats CROSS JOIN cstats""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY text""".stripMargin,
    "dedup_decontam" ->
      """WITH b AS (SELECT DISTINCT
        |    unnest(list_transform(range(1, greatest(len(ws) - 4, 1) + 1),
        |      i -> array_to_string(ws[i:i+4], ' '))) AS s
        |  FROM (SELECT string_split(text, ' ') AS ws FROM documents
        |        WHERE doc_id % 97 = 0)),
        |d AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, greatest(len(ws) - 4, 1) + 1),
        |      i -> array_to_string(ws[i:i+4], ' ')))) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
        |SELECT d.doc_id, count(*) AS n_overlap
        |FROM d JOIN b ON d.s = b.s
        |GROUP BY d.doc_id
        |HAVING count(*) >= 3""".stripMargin,
    // the dedup_decontam bench CTE + per-doc distinct-gram lists; a
    // doc with no bench hit keeps n_overlap 0 via the left join
    "dedup_contam_frac" ->
      """WITH b AS (SELECT DISTINCT
        |    unnest(list_transform(range(1, greatest(len(ws) - 4, 1) + 1),
        |      i -> array_to_string(ws[i:i+4], ' '))) AS s
        |  FROM (SELECT string_split(text, ' ') AS ws FROM documents
        |        WHERE doc_id % 97 = 0 AND text IS NOT NULL)),
        |d AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(ws) - 4, 1) + 1),
        |      i -> array_to_string(ws[i:i+4], ' '))) AS gs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |        WHERE text IS NOT NULL)),
        |o AS (SELECT doc_id, count(*) AS n_overlap
        |  FROM (SELECT doc_id, unnest(gs) AS s FROM d) x
        |  JOIN b USING (s) GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.gs) AS BIGINT) AS n_grams,
        |  CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  floor(coalesce(o.n_overlap, 0) / CAST(len(d.gs) AS DOUBLE)
        |    * 1000000 + 0.5001) / 1000000 AS contam_frac
        |FROM d LEFT JOIN o USING (doc_id)""".stripMargin,
    // the dedup_substring gram CTEs + per-window source sets; window
    // STRINGS stand in for the strict-window xxhash64 values
    "dedup_overlap" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, source, unnest(list_transform(range(1, len(ws) - 8 + 2),
        |    i -> array_to_string(ws[i:i+7], ' '))) AS g
        |  FROM t),
        |dg AS (SELECT DISTINCT doc_id, source, g FROM g),
        |hot AS (SELECT g FROM dg GROUP BY g HAVING count(*) >= 2),
        |hs AS (SELECT DISTINCT g, source FROM dg JOIN hot USING (g))
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS n_shared
        |FROM hs a JOIN hs b ON a.g = b.g AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    "dedup_profile" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 8 + 2),
        |    i -> array_to_string(ws[i:i+7], ' '))) AS g
        |  FROM t),
        |d AS (SELECT g, count(*) AS nd FROM (SELECT DISTINCT doc_id, g FROM g)
        |  GROUP BY g HAVING count(*) >= 2)
        |SELECT nd AS n_docs, count(*) AS n_windows
        |FROM d GROUP BY nd""".stripMargin,
    "dedup_substring" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 8 + 2),
        |    i -> {'pos': i - 1, 'g': array_to_string(ws[i:i+7], ' ')})) AS pg
        |  FROM t),
        |gg AS (SELECT doc_id, pg.pos AS pos, pg.g AS g FROM g),
        |hot AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM gg)
        |  GROUP BY g HAVING count(*) >= 2),
        |f AS (SELECT doc_id, pos FROM gg JOIN hot USING (g)),
        |m AS (SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |         THEN 0 ELSE 1 END AS new_span
        |  FROM f),
        |sp AS (SELECT doc_id, pos,
        |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
        |  FROM m)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 8 AS BIGINT) AS span_end,
        |  count(*) AS n_windows
        |FROM sp GROUP BY doc_id, span""".stripMargin,
    // the dedup_substring span CTEs + a per-doc span list + an indexed
    // list_filter cut (i is 1-based in DuckDB lambdas, spans 0-based)
    "dedup_cut" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 8 + 2),
        |    i -> {'pos': i - 1, 'g': array_to_string(ws[i:i+7], ' ')})) AS pg
        |  FROM t),
        |gg AS (SELECT doc_id, pg.pos AS pos, pg.g AS g FROM g),
        |hot AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM gg)
        |  GROUP BY g HAVING count(*) >= 2),
        |f AS (SELECT doc_id, pos FROM gg JOIN hot USING (g)),
        |m AS (SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |         THEN 0 ELSE 1 END AS new_span
        |  FROM f),
        |sp AS (SELECT doc_id, pos,
        |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
        |  FROM m),
        |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
        |  FROM sp GROUP BY doc_id, span),
        |agg AS (SELECT doc_id, list({'s': s, 'e': e}) AS sps
        |  FROM spans GROUP BY doc_id),
        |k AS (SELECT t.doc_id, t.ws,
        |    CASE WHEN a.sps IS NULL THEN t.ws
        |         ELSE list_filter(t.ws, (tok, i) ->
        |           len(list_filter(a.sps,
        |             x -> i - 1 >= x.s AND i - 1 < x.e)) = 0)
        |    END AS kept
        |  FROM t LEFT JOIN agg a USING (doc_id))
        |SELECT doc_id,
        |  coalesce(array_to_string(kept, ' '), '') AS clean_text,
        |  CAST(len(ws) - len(kept) AS BIGINT) AS n_cut_tokens
        |FROM k""".stripMargin,
    // the synthesized 10-token segments + normalized-line document
    // frequency; line STRINGS stand in for the xxhash64 values
    "text_lines_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT doc_id,
        |    list_transform(range(1, CAST(ceil(len(ws) / 10.0) AS BIGINT) + 1),
        |      i -> array_to_string(ws[(i-1)*10+1 : (i-1)*10+10], ' ')) AS lines
        |  FROM t),
        |l AS (SELECT doc_id, unnest(list_transform(range(1, len(lines) + 1),
        |    i -> {'pos': i - 1, 'norm': lower(trim(lines[i]))})) AS pl
        |  FROM d),
        |ll AS (SELECT doc_id, pl.pos AS pos, pl.norm AS norm FROM l
        |  WHERE pl.norm <> ''),
        |hot AS (SELECT norm FROM (SELECT DISTINCT doc_id, norm FROM ll)
        |  GROUP BY norm HAVING count(*) >= 2),
        |f AS (SELECT doc_id, pos FROM ll JOIN hot USING (norm)),
        |agg AS (SELECT doc_id, list(pos) AS drops FROM f GROUP BY doc_id),
        |k AS (SELECT d.doc_id, d.lines,
        |    CASE WHEN a.drops IS NULL THEN d.lines
        |         ELSE list_filter(d.lines, (x, i) ->
        |           NOT list_contains(a.drops, i - 1))
        |    END AS kept
        |  FROM d LEFT JOIN agg a USING (doc_id))
        |SELECT doc_id,
        |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
        |  CAST(len(lines) - len(kept) AS BIGINT) AS n_cut_lines
        |FROM k""".stripMargin,
    // since r12 the entry is df-capped by default (verdict-r11 item
    // 2): per-(block, shingle) doc frequency over the distinct per-doc
    // shingle lists, universe capped at df <= 0.5 * block doc count,
    // Jaccard over the KEPT sets. 0.5*nd is exact on both engines.
    // Since r14 the chain is CLASS-COLLAPSED (verdict-r13 item 1):
    // identical-text classes reduce to min-id representatives (the
    // dedup_prune cls CTE), the df bar and the pair scan run over reps
    // only (df counts DISTINCT CONTENTS), and id-level pairs are
    // reconstructed — cross-class via both memberships with
    // least/greatest restoring doc_a < doc_b, intra-class as all
    // member pairs of classes with a non-empty capped universe at
    // jaccard exactly 1.0.
    // dedup_pair_mass: the same cls collapse + df-cap as dedup_jaccard,
    // then the per-block rollup over the kept (source, shingle) df
    // groups — Σ df, distinct shingles, max df, Σ df·(df−1)/2.
    // Integer arithmetic stated exactly on both engines: df·(df−1) is
    // even, DuckDB's // and Spark's DIV both truncate, and the casts
    // pin BIGINT against DuckDB's HUGEINT sum default.
    "dedup_pair_mass" ->
      """WITH cls AS (SELECT doc_id, source, text,
        |    CASE WHEN text IS NOT NULL
        |         THEN min(doc_id) OVER (PARTITION BY source, text)
        |         ELSE doc_id END AS rep
        |  FROM documents),
        |s AS (SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, greatest(len(ws) - 2, 1) + 1),
        |      i -> array_to_string(ws[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
        |        FROM cls WHERE doc_id = rep AND text IS NOT NULL)),
        |bc AS (SELECT source, count(*) AS nd FROM s GROUP BY source),
        |ex AS (SELECT doc_id, source, unnest(sh) AS g FROM s),
        |df AS (SELECT source, g, count(*) AS c FROM ex GROUP BY source, g),
        |kept AS (SELECT df.source, df.g, df.c
        |  FROM df JOIN bc USING (source)
        |  WHERE df.c <= CAST(0.5 AS DOUBLE) * bc.nd)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_postings,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(max(c) AS BIGINT) AS max_df,
        |  CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS candidate_pairs
        |FROM kept GROUP BY source""".stripMargin,
    "dedup_jaccard" ->
      """WITH cls AS (SELECT doc_id, source, text,
        |    CASE WHEN text IS NOT NULL
        |         THEN min(doc_id) OVER (PARTITION BY source, text)
        |         ELSE doc_id END AS rep
        |  FROM documents),
        |s AS (SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, greatest(len(ws) - 2, 1) + 1),
        |      i -> array_to_string(ws[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
        |        FROM cls WHERE doc_id = rep AND text IS NOT NULL)),
        |bc AS (SELECT source, count(*) AS nd FROM s GROUP BY source),
        |ex AS (SELECT doc_id, source, unnest(sh) AS g FROM s),
        |df AS (SELECT source, g, count(*) AS c FROM ex GROUP BY source, g),
        |kept AS (SELECT ex.doc_id, ex.source, ex.g
        |  FROM ex JOIN df USING (source, g) JOIN bc USING (source)
        |  WHERE df.c <= CAST(0.5 AS DOUBLE) * bc.nd),
        |sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
        |iv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM kept a JOIN kept b ON a.source = b.source AND a.g = b.g
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |rp AS (SELECT doc_a, doc_b,
        |    CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
        |  FROM iv JOIN sz sa ON sa.doc_id = iv.doc_a
        |    JOIN sz sb ON sb.doc_id = iv.doc_b
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.3)
        |SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
        |  greatest(ma.doc_id, mb.doc_id) AS doc_b, round(j, 4) AS jaccard
        |FROM rp JOIN cls ma ON ma.rep = rp.doc_a
        |  JOIN cls mb ON mb.rep = rp.doc_b
        |UNION ALL
        |SELECT a.doc_id, b.doc_id, 1.0 AS jaccard
        |FROM cls a JOIN cls b ON a.rep = b.rep AND a.doc_id < b.doc_id
        |JOIN sz ON sz.doc_id = a.rep""".stripMargin,
    // the df-capped dedup_jaccard pair chain + recursive min-label
    // components + keep-smallest-per-cluster anti-join: the full
    // (since-r12 default-robust) prune chain in SQL. The boilerplate
    // guard is restated as per-(block, shingle) doc frequency over the
    // distinct per-doc shingle lists, universe capped at
    // df <= 0.5 * block doc count (exact on both engines: 0.5 is a
    // power of two, so the cap comparison has zero float headroom).
    "dedup_prune" ->
      """WITH RECURSIVE cls AS (SELECT doc_id, source, text,
        |    CASE WHEN text IS NOT NULL
        |         THEN min(doc_id) OVER (PARTITION BY source, text)
        |         ELSE doc_id END AS rep
        |  FROM documents),
        |s AS (SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, greatest(len(ws) - 2, 1) + 1),
        |      i -> array_to_string(ws[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
        |        FROM cls WHERE doc_id = rep AND text IS NOT NULL)),
        |bc AS (SELECT source, count(*) AS nd FROM s GROUP BY source),
        |ex AS (SELECT doc_id, source, unnest(sh) AS g FROM s),
        |df AS (SELECT source, g, count(*) AS c FROM ex GROUP BY source, g),
        |kept AS (SELECT ex.doc_id, ex.source, ex.g
        |  FROM ex JOIN df USING (source, g) JOIN bc USING (source)
        |  WHERE df.c <= CAST(0.5 AS DOUBLE) * bc.nd),
        |sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
        |iv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM kept a JOIN kept b ON a.source = b.source AND a.g = b.g
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (SELECT doc_a, doc_b FROM iv
        |  JOIN sz sa ON sa.doc_id = iv.doc_a
        |  JOIN sz sb ON sb.doc_id = iv.doc_b
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.3),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
        |reach(node, root) AS (
        |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
        |  UNION
        |  SELECT e.b, r.root FROM reach r JOIN e ON e.a = r.node),
        |comp AS (SELECT node, min(root) AS component FROM reach GROUP BY node),
        |drops AS (SELECT doc_id FROM cls WHERE doc_id <> rep
        |  UNION
        |  SELECT c.doc_id FROM cls c
        |  JOIN (SELECT node FROM comp WHERE node <> component) dr
        |    ON c.rep = dr.node)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)""".stripMargin,
    "dedup_clusters" ->
      """WITH m AS (SELECT max(event_id) AS mx FROM events),
        |nodes AS (
        |  SELECT event_id AS node FROM events, m
        |  WHERE event_id * 8 <= mx AND event_id > 0
        |  UNION
        |  SELECT event_id * 8 FROM events, m
        |  WHERE event_id * 8 <= mx AND event_id > 0)
        |SELECT node,
        |  node >> (3 * (bit_count((node & -node) - 1) // 3)) AS component
        |FROM nodes""".stripMargin)

  // dedup_prune_auto routes to the exact chain on the driver fixtures
  // (measured mass ≪ default budget), so its oracle IS dedup_prune's —
  // one definition, and a hash mismatch would mean the router switched
  // branches on data where it must not. dedup_prune_robust is
  // dedup_prune's builder under its checklist name.
  val oracles: Map[String, String] = oracles0 ++
    Seq("dedup_prune_auto", "dedup_prune_robust").map(_ -> oracles0("dedup_prune"))
}
