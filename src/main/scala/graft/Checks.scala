package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.dedup.Dedup
import graft.functions.cosineSimilarity
import graft.queries.{DedupQueries, RelationalQueries, SimilarityQueries}

/** Property-check artifact for the rows-only (`no_oracle`) queries:
  * every hash/seed-defined query gets QUANTITATIVE accuracy / parity
  * numbers measured against exact ground truth computed with the
  * library's own exact operators — on the driver's own testdata, not
  * a unit fixture. Emits one JSON file (default `CHECKS_LOCAL.json`)
  * readable next to `CORRECTNESS_r{N}.json`, so the `no_oracle` rows
  * carry driver-visible evidence, not only ScalaTest pins.
  *
  * Floors are REGRESSION TRIPWIRES set inside the measured margins;
  * the per-fixture ScalaTest specs pin the tighter semantic
  * contracts. Ground-truth computation here is deliberately
  * brute-force (all-pairs cosine / shared-shingle exact Jaccard):
  * it is the measuring stick, not the engine — the queries under
  * check are the scale paths.
  *
  * Usage: runMain graft.Checks [sfDir] [outPath]
  */
object Checks {

  /** One measured metric against its floor. A non-finite value (NaN
    * from an aggregate over an empty or all-null input, or a ratio
    * over zero) never passes, and prints as JSON `null`.
    */
  private[graft] case class Check(query: String, metric: String,
                                  value: Double, floor: Double, cmp: String) {
    def pass: Boolean = java.lang.Double.isFinite(value) &&
      (if (cmp == "<=") value <= floor else value >= floor)
    def json: String =
      s"""{"metric":"$metric","value":${Json.num(value)},"cmp":"$cmp","floor":${Json.num(floor)},"pass":$pass}"""
  }

  /** Column `i` of an aggregate row as a double, NaN when it is null:
    * sum/avg/min/max over an empty or all-null join return null, and a
    * bare getDouble would kill the whole run with an NPE.
    */
  private[graft] def dbl(r: Row, i: Int): Double =
    if (r.isNullAt(i)) Double.NaN else r.getAs[Number](i).doubleValue

  /** Orientation-normalized pair set (doc_a < doc_b). */
  private def norm(df: DataFrame, a: String, b: String): DataFrame =
    df.select(least(col(a), col(b)).as("pa"), greatest(col(a), col(b)).as("pb"))
      .distinct()

  /** Exact set-Jaccard over n-gram shingle STRINGS for every pair
    * sharing at least one shingle (pairs sharing none have J = 0).
    */
  private def exactJaccardPairs(docs: DataFrame, n: Int): DataFrame = {
    val sh = Dedup.shingleRows(docs, "doc_id", "text", n)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("pa"), col("b.doc_id").as("pb"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("pa"), col("n").as("na")), "pa")
      .join(sizes.select(col("doc_id").as("pb"), col("n").as("nb")), "pb")
      .withColumn("jexact", col("i") / (col("na") + col("nb") - col("i")))
      .select(col("pa"), col("pb"), col("jexact"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outPath = args.lift(1).getOrElse("CHECKS_LOCAL.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession
      .tuned(org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]"),
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val checks = scala.collection.mutable.ListBuffer.empty[Check]

    val docsAll = Tables.documents(spark, sfDir)
    val docs = docsAll.filter(col("text").isNotNull).cache()

    // ---- minhash family: exact-Jaccard ground truth (shingleN = 3) --
    val j3 = exactJaccardPairs(docs, 3).cache()
    val truth07 = j3.filter(col("jexact") >= 0.7).cache()
    val nTruth07 = truth07.count()

    // dedup_minhash: banded-LSH candidates + exact verify vs truth
    val mh = norm(DedupQueries.dedupMinhash(spark, sfDir), "doc_a", "doc_b").cache()
    val nMh = mh.count()
    val mhHit = mh.join(truth07, Seq("pa", "pb")).count()
    checks += Check("dedup_minhash", "recall_vs_exact_jaccard_0.7",
      mhHit.toDouble / math.max(nTruth07, 1), 0.9, ">=")
    checks += Check("dedup_minhash", "precision_vs_exact_jaccard_0.7",
      mhHit.toDouble / math.max(nMh, 1), 0.99, ">=")

    // dedup_prune_lsh: the drop set vs the exact full-pair-graph chain
    // at the same global 0.7 threshold — recall floor, plus the subset
    // THEOREM (an LSH-subgraph drop has a smaller true-component
    // member, so it is an exact-chain drop too): violations must be 0.
    val exactDrops = Dedup.dropIdsFromPairs(
        truth07.select(col("pa").as("doc_a"), col("pb").as("doc_b")))
      .select(col("drop_id")).cache()
    val nExactDrops = exactDrops.count()
    val lshDrops = docsAll.select(col("doc_id"))
      .join(DedupQueries.dedupPruneLsh(spark, sfDir).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("drop_id")).cache()
    val lshHit = lshDrops.join(exactDrops, Seq("drop_id"), "left_semi").count()
    // vacuous pass when the fixture has no exact-chain drop at all —
    // 0/0 must not read as a recall failure (review finding r13)
    checks += Check("dedup_prune_lsh", "drop_recall_vs_exact_chain_0.7",
      if (nExactDrops == 0) 1.0 else lshHit.toDouble / nExactDrops,
      0.9, ">=")
    checks += Check("dedup_prune_lsh", "drops_outside_exact_chain",
      (lshDrops.count() - lshHit).toDouble, 0.0, "<=")

    // dedup_incremental: odd-batch-vs-even-history slice of the same
    // truth set, plus the MinHash estimator's error on reported pairs
    val truthInc = truth07
      .filter((col("pa") % 2 === 0 && col("pb") % 2 === 1) ||
        (col("pa") % 2 === 1 && col("pb") % 2 === 0)).cache()
    val nTruthInc = truthInc.count()
    val inc = DedupQueries.dedupIncremental(spark, sfDir).cache()
    val incN = norm(inc, "doc_a", "doc_b").cache()
    val incHit = incN.join(truthInc, Seq("pa", "pb")).count()
    checks += Check("dedup_incremental", "recall_vs_exact_jaccard_0.7",
      incHit.toDouble / math.max(nTruthInc, 1), 0.8, ">=")
    val mae = incN.join(j3, Seq("pa", "pb"))
      .join(inc.select(least(col("doc_a"), col("doc_b")).as("pa"),
        greatest(col("doc_a"), col("doc_b")).as("pb"), col("est_jaccard")),
        Seq("pa", "pb"))
      .agg(avg(abs(col("est_jaccard") - col("jexact"))), min(col("jexact")))
      .head()
    checks += Check("dedup_incremental", "estimator_mae_vs_exact",
      dbl(mae, 0), 0.1, "<=")
    checks += Check("dedup_incremental", "min_exact_jaccard_of_reported",
      dbl(mae, 1), 0.45, ">=")

    // dedup_simhash: near-identical pairs (exact trigram Jaccard >=
    // 0.85 — the corpus has no FULL exact-dup pairs, so this is the
    // non-vacuous truth set) must land within Hamming 8 of each other
    val truth085 = j3.filter(col("jexact") >= 0.85).cache()
    val nTruth085 = truth085.count()
    val sh = norm(DedupQueries.dedupSimhash(spark, sfDir), "doc_a", "doc_b")
    val shHit = sh.join(truth085, Seq("pa", "pb")).count()
    checks += Check("dedup_simhash", "recall_vs_exact_jaccard_0.85",
      shHit.toDouble / math.max(nTruth085, 1), 0.7, ">=")

    // dedup_hamming cap attribution (ADVICE r12): the shipped entry
    // caps at maxBucketSize = 10000 (class cap defaults to it) while
    // its DuckDB oracle stays the exact uncapped brute force — valid
    // only while neither cap binds on the fixture. Measure the two
    // observed maxima the caps bound; if fixture growth ever pushes
    // either past the cap, THIS row goes red with the attribution in
    // hand, instead of a bare oracle hash mismatch with no hint that
    // the cap (not the operator) diverged. Both maxima come from the
    // operator's own audit, over the shared banding projection.
    val hammingCap = 10000.0
    val hAudit = Dedup.hammingPairMassAudit(docs, "doc_id", "text",
      maxHamming = 3).head()
    val maxClass = dbl(hAudit, hAudit.fieldIndex("max_class_size"))
    val maxBucket = dbl(hAudit, hAudit.fieldIndex("max_bucket_classes"))
    checks += Check("dedup_hamming", "max_identical_class_vs_cap",
      maxClass, hammingCap, "<=")
    checks += Check("dedup_hamming", "max_block_bucket_vs_cap",
      maxBucket, hammingCap, "<=")

    // dedup_bloom: membership = batch text present in history (exact).
    // Zero false negatives is the Bloom contract; fp rate is bounded.
    val history = docsAll.filter(col("doc_id") % 2 === 0)
    val batch = docsAll.filter(col("doc_id") % 2 === 1 || col("doc_id") % 4 === 0)
    val members = batch.join(
      history.select(col("text")).filter(col("text").isNotNull).distinct(),
      Seq("text"), "left_semi").select(col("doc_id")).cache()
    val nMembers = members.count()
    val nBatch = batch.count()
    val bloom = DedupQueries.dedupBloom(spark, sfDir).cache()
    val fn = members.join(bloom.filter(!col("maybe_dup")), "doc_id").count()
    val fp = bloom.filter(col("maybe_dup"))
      .join(members, Seq("doc_id"), "left_anti").count()
    checks += Check("dedup_bloom", "false_negatives", fn.toDouble, 0.0, "<=")
    checks += Check("dedup_bloom", "false_positive_rate",
      fp.toDouble / math.max(nBatch - nMembers, 1), 0.02, "<=")

    // ---- embedding family: all-pairs exact-cosine ground truth -----
    val emb = Tables.embeddings(spark, sfDir).cache()
    val pairCos = emb.as("a").crossJoin(emb.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("pa"), col("b.vec_id").as("pb"),
        cosineSimilarity(col("a.embedding"), col("b.embedding")).as("cos"))
    val truthCos = pairCos.filter(col("cos") >= 0.3)
      .select(col("pa"), col("pb")).cache()
    val nTruthCos = truthCos.count()

    val embDup = norm(DedupQueries.dedupEmbed(spark, sfDir), "id_a", "id_b").cache()
    val nEmbDup = embDup.count()
    val embHit = embDup.join(truthCos, Seq("pa", "pb")).count()
    // the testdata embeddings are UNSTRUCTURED (within-label mean
    // cosine == cross-label ~= 0, max pair cosine 0.51): cosine-0.3
    // pairs are chance-level neighbors, not planted dups, so the
    // hyperplane banding (tuned for near-dup cosines) legitimately
    // recalls few of them. Recall is kept as a regression tripwire at
    // the measured level; the exactness contract is precision = 1
    // (every reported pair is exact-verified in-bucket).
    checks += Check("dedup_embed", "recall_vs_exact_cosine_0.3",
      embHit.toDouble / math.max(nTruthCos, 1), 0.1, ">=")
    checks += Check("dedup_embed", "precision_vs_exact_cosine_0.3",
      embHit.toDouble / math.max(nEmbDup, 1), 0.99, ">=")

    val sem = norm(DedupQueries.dedupSemantic(spark, sfDir), "id_a", "id_b").cache()
    val nSem = sem.count()
    val semHit = sem.join(truthCos, Seq("pa", "pb")).count()
    checks += Check("dedup_semantic", "recall_vs_exact_cosine_0.3",
      semHit.toDouble / math.max(nTruthCos, 1), 0.2, ">=")
    checks += Check("dedup_semantic", "precision_vs_exact_cosine_0.3",
      semHit.toDouble / math.max(nSem, 1), 0.99, ">=")

    // ---- ANN family: vs the exact brute-force top-k ----------------
    // On these unstructured embeddings the 10th..20th neighbors sit
    // within ~0.01 cosine of each other (measured mean 5th->6th gap
    // 0.009), so id-recall@k is a near-tie lottery by construction.
    // The primary metric is therefore the standard QUALITY RATIO —
    // cosine mass of the returned set over cosine mass of the exact
    // top-k (1.0 = perfect, and near-ties cost almost nothing) — with
    // id-recall kept as a secondary regression tripwire at the
    // measured level.
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("_qv"))
    def cosMass(ids: Set[Long]): Double =
      dbl(emb.filter(col("vec_id").isInCollection(ids))
        .crossJoin(broadcast(qvec))
        .agg(sum(cosineSimilarity(col("embedding"), col("_qv"))))
        .head(), 0)
    val bruteIds = SimilarityQueries.annBrute(spark, sfDir)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val bruteMass = cosMass(bruteIds)
    def annChecks(name: String, df: DataFrame, recallFloor: Double,
                  qualityFloor: Double): Unit = {
      val ids = df.select(col("vec_id")).collect().map(_.getLong(0)).toSet
      checks += Check(name, "quality_ratio_at_10_vs_brute",
        cosMass(ids) / bruteMass, qualityFloor, ">=")
      checks += Check(name, "recall_at_10_vs_brute",
        ids.intersect(bruteIds).size / 10.0, recallFloor, ">=")
    }
    // Floors pinned at 80% of the values measured on THIS gate fixture
    // at the shipped defaults (SCALING.md "r15: ANN recall-vs-cost
    // curves"): lsh (48,6) measured recall 0.2 / quality 0.75; ivf
    // nProbe=4 measured 0.6 / 0.955 (quality floor stays at the
    // pre-existing tighter 0.8); pq kSub=64 measured 0.6 / 0.923;
    // ivf_pq nProbe=4,kSub=64 measured 0.4 / 0.795. A mistuned index
    // now fails: lsh at bitsPerBand=8 measures recall 0.0 / quality
    // 0.25, pq at kSub=16 measures quality 0.75 < 0.74 floor margin.
    annChecks("ann_lsh", SimilarityQueries.annLsh(spark, sfDir), 0.16, 0.6)
    annChecks("ann_ivf", SimilarityQueries.annIvf(spark, sfDir), 0.48, 0.8)
    annChecks("ann_pq", SimilarityQueries.annPq(spark, sfDir), 0.48, 0.74)
    annChecks("ann_ivf_pq", SimilarityQueries.annIvfPq(spark, sfDir), 0.32,
      0.63)

    // ann_knn_join: mean recall@5 + quality ratio vs the brute kNN
    // self-join (all-pairs cosine, window top-5 — the measuring stick)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val directed = corpus.as("a").crossJoin(corpus.as("b"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("vec_id"),
        cosineSimilarity(col("a.embedding"), col("b.embedding")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val bruteKnn = directed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_id"), col("cos")).cache()
    val nQueries = corpus.count()
    val knn = SimilarityQueries.annKnnJoin(spark, sfDir)
      .select(col("query_id"), col("vec_id")).cache()
    val knnHit = knn.join(bruteKnn, Seq("query_id", "vec_id")).count()
    // raised with the shipped kIvf=64, nProbe=8 from 0.455 = 80% of
    // the 0.569 measured at kIvf=16, nProbe=4 (SCALING.md "r15: ANN
    // recall-vs-cost curves") — the floor only ever tightens
    checks += Check("ann_knn_join", "mean_recall_at_5_vs_brute",
      knnHit.toDouble / math.max(5 * nQueries, 1), 0.466, ">=")
    val knnMass = dbl(knn
      .join(directed, Seq("query_id", "vec_id"))
      .agg(sum(col("cos"))).head(), 0)
    val bruteKnnMass = dbl(bruteKnn.agg(sum(col("cos"))).head(), 0)
    checks += Check("ann_knn_join", "quality_ratio_at_5_vs_brute",
      knnMass / bruteKnnMass, 0.8, ">=")

    // ---- q_approx_sketch (r12): the rows-only sketch half carries
    // the SAME accuracy floors its oracled twin's certificate states —
    // each HLL estimate within 10% relative error of the exact
    // distinct count (floors keyed per column)
    val sk = RelationalQueries.qApproxSketch(spark, sfDir)
      .collect().map(r => r.getString(0) -> r).toMap
    // exact twins directly — running full qApprox here would recompute
    // the sketches and the histogram-quantile rank windows just to
    // discard them (review finding)
    val exq = Tables.lineitem(spark, sfDir).groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("nd_orders"),
        countDistinct(col("l_partkey")).as("nd_parts"))
      .collect().map(r => r.getString(0) -> r).toMap
    val worstRel = Seq(("est_nd_orders", "nd_orders"),
        ("est_nd_parts", "nd_parts")).map { case (e, x) =>
      sk.map { case (k, r) =>
        math.abs(r.getAs[Long](e).toDouble / exq(k).getAs[Long](x) - 1.0)
      }.max
    }
    checks += Check("q_approx_sketch", "hll_orders_max_rel_err",
      worstRel(0), 0.1, "<=")
    checks += Check("q_approx_sketch", "hll_parts_max_rel_err",
      worstRel(1), 0.1, "<=")

    // ---- ts_rolling_median_scalable: the same exact rolling median as
    // ts_rolling_multi's roll_med, row for row (the oracle hash holds
    // each key; this pins the two keys to each other)
    val exMed = SparkEntry.queries("ts_rolling_multi")(spark, sfDir)
      .select(col("user_id"), col("ts_c"), col("roll_med"))
    val med = SparkEntry.queries("ts_rolling_median_scalable")(spark, sfDir)
      .select(col("user_id"), col("ts_c"), col("roll_med").as("roll_med_s"))
    val worstDiff = dbl(exMed.join(med, Seq("user_id", "ts_c"))
      .agg(max(abs(col("roll_med_s") - col("roll_med")))).head, 0)
    checks += Check("ts_rolling_median_scalable", "median_max_abs_diff",
      worstDiff, 0.0, "<=")

    // ---- emit ------------------------------------------------------
    val byQuery = checks.toList.groupBy(_.query).toSeq.sortBy(_._1)
      .map { case (q, cs) =>
        s""""$q":[${cs.map(_.json).mkString(",")}]"""
      }.mkString(",")
    val nFail = checks.count(!_.pass)
    val line =
      s"""{"sf":${Json.str(sfDir)},"n_checks":${checks.size},"n_failed":$nFail,"checks":{$byQuery}}"""
    Files.writeString(Paths.get(outPath), line + "\n")
    println(line)
    checks.foreach(c => println(
      f"[check] ${c.query}%-18s ${c.metric}%-34s ${c.value}%.4f ${c.cmp} ${c.floor} ${if (c.pass) "PASS" else "FAIL"}"))
    if (nFail > 0) System.err.println(s"[checks] $nFail FAILED")
    spark.stop()
  }
}
