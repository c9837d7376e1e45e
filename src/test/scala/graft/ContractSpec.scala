package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract hygiene: the SparkEntry maps stay consistent and the
  * SURVEY §2 inventory stays fully wired.
  */
class ContractSpec extends AnyFunSuite {

  test("every oracleSql key has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("all SURVEY §2 query keys are wired into SparkEntry") {
    val inventory = Seq(
      "ts_rolling_center", "ts_rolling_multi", "ts_resample_1d", "ts_asof_join",
      "ts_interpolate", "ts_doy", "ts_infer_sampling", "ts_quadrature", "ts_clip_window",
      "diurnal_extrema", "diurnal_minfirst", "diurnal_amplitude", "diurnal_threshold",
      "diurnal_dechours", "diurnal_predict",
      "gps_flow_angle", "gps_reproject", "gps_detrend", "gps_velocity",
      "gps_drop_errors", "gps_displacement", "gps_normalize",
      "hydro_units", "hydro_fob", "hydro_patm_correct", "hydro_piecewise", "hydro_stage",
      "melt_shadow", "melt_albedo", "melt_rate", "melt_pipeline",
      "q1_agg", "q3_join", "q_window_topk", "q_antijoin", "q_topk", "q_sessionize",
      "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_jaccard", "dedup_embed",
      "dedup_prune", "dedup_cut", "ds_drift",
      "dedup_contam_frac", "dedup_overlap", "dedup_profile", "text_pii",
      "ann_brute", "ann_lsh", "ann_ivf", "ann_knn_join", "emb_centroids",
      "text_tokens", "text_langid", "text_quality", "text_fingerprint", "text_vocab",
      "mm_schema", "mm_features", "mm_decode", "mm_resize",
      "ev_funnel", "ds_stratified", "emb_project", "text_lm_score",
      "dedup_bloom",
      // r9 additions
      "text_c4_filter", "text_bm25", "text_hybrid", "ds_winsorize",
      "mm_phash", "dedup_phash", "ann_pq", "ann_ivf_pq", "ts_ewma",
      "ts_rolling_std", "ts_mad", "q_cube",
      // r10 additions
      "dedup_hamming", "ann_hamming", "dedup_prune_robust", "ts_step",
      "ds_epochs", "mm_resize_bilinear", "q_merge", "ts_gaps", "q_salted",
      // r11 additions
      "ann_ivf_det", "melt_from_hobo", "ann_pq_det", "dedup_semantic_det",
      "ann_ivf_pq_det", "ann_kmeans_det")
    val missing = inventory.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"SURVEY §2 keys missing from SparkEntry: $missing")
    // and nothing in the maps is an accidental duplicate across packs
    assert(SparkEntry.queries.size >= inventory.size + 12) // + r2/r3 extras
  }

  test("no duplicate keys in any query-pack Map literal (source-level)") {
    // Scala Map literals silently keep the last duplicate key, so a
    // stale twin entry becomes an edit-one-copy-silently-does-nothing
    // footgun (it bit the diurnal_predict_minfirst oracle in r2). Scan
    // the query-pack sources for repeated "key" -> occurrences.
    val packDir = java.nio.file.Paths.get("src/main/scala/graft/queries")
    val keyArrow = """"([A-Za-z0-9_]+)"\s*->""".r
    java.nio.file.Files.list(packDir).toArray.map(_.toString).filter(_.endsWith(".scala"))
      .foreach { f =>
        val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))
        val keys = keyArrow.findAllMatchIn(src).map(_.group(1)).toSeq
        // a key may appear once in defs and once in oracles — twice max
        val bad = keys.groupBy(identity).collect { case (k, v) if v.size > 2 => k }
        assert(bad.isEmpty, s"$f: keys appearing >2 times (defs+oracles): $bad")
      }
  }

  test("sql-expressible queries carry oracles; rows-only set is the known one") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // r6 moved ann_brute / dedup_jaccard / text_langid / mm_schema to
    // sql-oracled; what remains is genuinely hash/seed/impl-defined.
    // r10 moved mm_features (mixed-corpus analytic oracle) and
    // q_approx (exact half + accuracy-certificate flags) to
    // sql-oracled; what remains is genuinely hash/seed/impl-defined.
    val expected = Set(
      "dedup_minhash", "dedup_simhash", // xxhash64-seeded candidate sets
      // (dedup_embed moved to sql-oracled in r11: hyperplane matrix
      // stringified into the oracle, like ann_lsh)
      "ann_ivf",             // k-means fit is float-sum-order-defined
      // (ann_lsh moved to sql-oracled in r11: the seeded plane matrix
      // is stringified into the oracle)
      "ann_knn_join",        // IVF-probed kNN self-join, approximate (r7)
      "ann_pq",              // PQ codebooks are k-means-defined (r9)
      "ann_ivf_pq",          // coarse + PQ quantizers both k-means-defined (r9)
      "dedup_incremental",   // MinHash-estimator verify, hash-defined (r5)
      "dedup_prune_lsh",     // minhash-seeded candidate graph (r13); drops
                             // exact-verified, CHECKS floors vs exact chain
      "dedup_semantic",      // k-means assignment is float-sum-order-defined (r6)
      "dedup_bloom",         // Bloom bit layout is Spark-impl-defined (r7)
      "q_approx_sketch")     // raw HLL++/percentile-sketch estimates are
                             // impl-defined; accuracy hash-verified via
                             // q_approx's certificate (r12, bench split)
    assert(rowsOnly === expected,
      s"rows-only drift: extra=${rowsOnly -- expected} missing=${expected -- rowsOnly}")
  }

  test("the only entry points are Bench, Checks, ScaleGen and Verify") {
    // one-off probe/A-B mains answer one question and then rot; their
    // measurements belong in perfbench (`perfbench/run.py --trace 1`)
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val mains = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains("def main("))
      .map(_.getFileName.toString.stripSuffix(".scala")).toSet
    assert(mains === Set("Bench", "Checks", "ScaleGen", "Verify"))
  }

  /** Every `src/main/scala` source as (file, code with comments removed). */
  private def mainCode(): Seq[(java.nio.file.Path, String)] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .map(p => p -> Files.readString(p).replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\n]*", ""))
  }

  /** The name of the last `def` opened before `offset` in `code`. */
  private def enclosingDef(code: String, offset: Int): String =
    """\bdef\s+(\w+)""".r.findAllMatchIn(code.take(offset)).toSeq
      .lastOption.map(_.group(1)).getOrElse("")

  test("every parquet read declares its schema or goes through Tables.open") {
    // A schema-inferring read launches a Spark job per open to read one
    // footer; Tables.open reads that footer on the driver instead. The
    // one other schema-inferring read is Bench's untimed warm-up.
    val call = """\s*\.\s*\w+\s*\((?:[^()]|\([^()]*\))*\)"""
    val readParquet = ("""\bread(?:Stream)?\b((?:""" + call + """)*?)\s*\.\s*parquet\s*\(""").r
    val declared = """\.\s*schema\s*\(""".r
    val found = mainCode().flatMap { case (p, code) =>
      readParquet.findAllMatchIn(code)
        .filter(m => declared.findFirstIn(m.group(1)).isEmpty)
        .map(m => s"${p.getFileName}:${enclosingDef(code, m.start)}")
    }
    assert(found.diff(Seq("Bench.scala:main", "Tables.scala:open")).isEmpty,
      s"schema-inferring parquet reads outside Tables.open: ${found.mkString(", ")}")
  }

  test("sliding rangeBetween frames live only in TimeSeriesOps") {
    // Spark re-aggregates a sliding frame for every row; the rolling body
    // (TimeSeriesOps.rollingFrames) spreads a dense key over halo buckets
    // and is the one place such a frame is written, so a rangeBetween
    // with two bounded offsets anywhere else bypasses it. Growing frames
    // (an unbounded end) and bounded rowsBetween row frames stay allowed.
    val rangeCall = """\.\s*rangeBetween\s*\(((?:[^()]|\((?:[^()]|\([^()]*\))*\))*)\)""".r
    val found = mainCode()
      .filter { case (p, _) => p.getFileName.toString != "TimeSeriesOps.scala" }
      .flatMap { case (p, code) =>
        rangeCall.findAllMatchIn(code).filterNot(_.group(1).contains("unbounded"))
          .map(m => s"${p.getFileName}:${enclosingDef(code, m.start)}")
      }
    assert(found.isEmpty, s"sliding rangeBetween outside TimeSeriesOps: ${found.mkString(", ")}")
  }
}
