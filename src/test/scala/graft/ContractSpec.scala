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

  test("every SparkSession in src/main is built through GraftSession.tuned; only it sets the codegen confs") {
    // Spark sizes the codegen cache once per JVM, from the session conf in
    // effect when codegen first runs: an entry point that builds its own
    // session, or a site that resets either conf, falls back to Spark's
    // 100-entry cache or to stage ids in the cache key
    val builder = """SparkSession\s*\.\s*builder\s*\(\s*\)""".r
    val tunedBuilder =
      """\btuned\s*\(\s*(?:org\.apache\.spark\.sql\.)?SparkSession\s*\.\s*builder\s*\(\s*\)""".r
    val untuned = mainCode().flatMap { case (p, code) =>
      val tuned = tunedBuilder.findAllMatchIn(code).map(_.end).toSet
      builder.findAllMatchIn(code).filterNot(m => tuned(m.end))
        .map(m => s"${p.getFileName}:${enclosingDef(code, m.start)}")
    }
    assert(untuned.isEmpty, s"sessions built outside GraftSession.tuned: ${untuned.mkString(", ")}")
    val codegenConf =
      """codegen\.cache\.maxEntries|codegen\.useIdInClassName|CODEGEN_CACHE_MAX_ENTRIES|USE_ID_IN_CLASS_NAME""".r
    val confSites = mainCode().flatMap { case (p, code) =>
      codegenConf.findAllMatchIn(code)
        .map(m => s"${p.getFileName}:${enclosingDef(code, m.start)}")
    }
    assert(confSites === Seq("GraftSession.scala:tuned", "GraftSession.scala:tuned"),
      s"codegen conf sites: ${confSites.mkString(", ")}")
  }

  test("Hadoop filesystem calls live only in IndexMaintenance and ParquetFooters") {
    // a persisted index's on-disk lifecycle (completion marker, file
    // counts, staged swaps, crash recovery) is written once, in
    // IndexMaintenance.scala; an index class reaching for the filesystem
    // itself grows a second copy of a crash window
    val allowed = Set("IndexMaintenance.scala", "ParquetFooters.scala")
    val found = mainCode()
      .filterNot { case (p, _) => allowed(p.getFileName.toString) }
      .flatMap { case (p, code) =>
        """\bgetFileSystem\b""".r.findAllMatchIn(code)
          .map(m => s"${p.getFileName}:${enclosingDef(code, m.start)}")
      }
    assert(found.isEmpty,
      s"filesystem calls outside IndexMaintenance: ${found.mkString(", ")}")
  }

  /** Driver reads of a persisted index's small tables that launch a Spark
    * job: `Similarity.collectCentroids`, or `.head` / `.collect()` applied
    * to an open of `meta` or `centroids` (the `centroids` member is one).
    */
  private def jobReadsOfIndexTables(code: String): Seq[String] = {
    val openOfSmallTable =
      """(?:\bopen\s*\([^()]*\b(?:meta|centroids)\b[^()]*\)|\bcentroids\b)\s*\.\s*(?:head|collect)\b"""
    ("""\bcollectCentroids\b""".r.findAllMatchIn(code) ++
      openOfSmallTable.r.findAllMatchIn(code)).map(m => enclosingDef(code, m.start)).toSeq
  }

  test("the persisted indexes read meta and centroids on the driver, never through a job") {
    // every probe reads these tables; a job per read is the fixed cost a
    // probe waits for (SCALING.md "Job-free index probes")
    val found = mainCode()
      .filter { case (p, _) => Set("IvfIndex.scala", "LshIndex.scala")(p.getFileName.toString) }
      .flatMap { case (p, code) => jobReadsOfIndexTables(code).map(d => s"${p.getFileName}:$d") }
    assert(found.isEmpty, s"job-launching reads of index tables: ${found.mkString(", ")}")
    // the guard sees each form it forbids
    Seq(
      "def a = Similarity.collectCentroids(centroids, \"cid\", \"centroid\")",
      "def b = Tables.open(spark, s\"$path/meta\").head.getLong(0)",
      "def c = graft.tables.Tables.open(spark, s\"${index.path}/meta\")\n  .head",
      "def d = Tables.open(spark, s\"$path/centroids\").collect()",
      "def e = centroids.collect().map(_.getLong(0))",
      "def f = centroids .head")
      .foreach(planted => assert(jobReadsOfIndexTables(planted).nonEmpty, planted))
    assert(jobReadsOfIndexTables(
      "def ok = Tables.rows(spark, s\"$path/meta\").head; centroids.join(x)").isEmpty)
  }

  /** Second copies, in `Similarity.scala`, of the vector-search family's
    * single definitions: a Lloyd mean beside `lloydFit`'s one
    * `vectorMean(` call, or a local cosine (`def cos`) ranking centroids
    * beside `CentroidExpressions.probedCids`.
    */
  private def vectorSearchTwins(code: String): Seq[String] = {
    val means = """\bvectorMean\s*\(""".r.findAllMatchIn(code).size
    (if (means == 1) Nil else Seq(s"$means vectorMean( calls")) ++
      """\bdef\s+cos\w*""".r.findAllMatchIn(code)
        .map(m => s"local cosine in ${enclosingDef(code, m.start)}")
  }

  test("Similarity.scala has one Lloyd mean and no local cosine") {
    // the Lloyd fit, the PQ ADC and the centroid probe rank each have
    // one definition; a twin grows back as a second mean or a cosine
    val code = mainCode()
      .collectFirst { case (p, c) if p.getFileName.toString == "Similarity.scala" => c }.get
    assert(vectorSearchTwins(code).isEmpty, vectorSearchTwins(code).mkString(", "))
    // the guard sees each form it forbids
    Seq(code + "\n  def m(d: DataFrame) = d.agg(VectorAggregates.vectorMean(col(\"v\")))",
        code + "\n  def cos(a: Array[Double], b: Array[Double]): Double = 0.0")
      .foreach(planted => assert(vectorSearchTwins(planted).nonEmpty, planted.takeRight(80)))
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

  /** Second copies, in `TimeSeriesOps.scala`, of the ordered-neighbour
    * operators' single definitions: a `unionByName(` beside the as-of
    * sweep's one, or an `ignoreNulls = true` read outside the neighbour
    * helper and `ffill`.
    */
  private def neighbourTwins(code: String): Seq[String] = {
    val unions = """\bunionByName\s*\(""".r.findAllMatchIn(code).size
    (if (unions == 1) Nil else Seq(s"$unions unionByName( calls")) ++
      """\bignoreNulls\s*=\s*true""".r.findAllMatchIn(code)
        .map(m => enclosingDef(code, m.start))
        .filterNot(Set("neighbours", "ffill"))
        .map(d => s"ignoreNulls = true in $d")
  }

  test("TimeSeriesOps.scala has one as-of sweep and one neighbour helper") {
    // backward, forward, nearest and upsampling are one union + window
    // sweep and interpolation reads the same neighbours; a twin grows
    // back as a second union or a second ignore-nulls read
    val code = mainCode()
      .collectFirst { case (p, c) if p.getFileName.toString == "TimeSeriesOps.scala" => c }.get
    assert(neighbourTwins(code).isEmpty, neighbourTwins(code).mkString(", "))
    // the guard sees each form it forbids
    Seq(code + """
      |  def asofJoinBackward2(left: DataFrame, right: DataFrame, w: WindowSpec) =
      |    left.unionByName(right).select(col("*"),
      |      last(col("rv"), ignoreNulls = true).over(w).as("rv"))""".stripMargin,
        code + """
      |  def nextValue(v: Column, w: WindowSpec) =
      |    lead(v, 1, null, ignoreNulls = true).over(w)""".stripMargin)
      .foreach(planted => assert(neighbourTwins(planted).nonEmpty, planted.takeRight(80)))
  }

  /** "file:line" of each Scaladoc block that is followed, across
    * whitespace only, by another one: the first block documents
    * nothing.
    */
  private def stackedDocs(files: Seq[(String, String)]): Seq[String] =
    files.flatMap { case (name, src) =>
      """(?s)/\*\*(?:(?!\*/).)*\*/(?=\s*/\*\*)""".r.findAllMatchIn(src)
        .map(m => s"$name:${src.take(m.start).count(_ == '\n') + 1}")
    }

  test("no Scaladoc block in src/main is followed directly by another one") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .map(p => p.toString -> Files.readString(p))
    assert(stackedDocs(files).isEmpty, stackedDocs(files).mkString(", "))
    // the guard sees the form it forbids, a block directly below a block
    assert(stackedDocs(Seq("X.scala" ->
      "/** a */\n  /** b\n    */\n  /** c */\n  def f = 1")) === Seq("X.scala:1", "X.scala:2"))
  }

  /** Each decode entry point that `Multimodal.scala`'s code does not
    * hold exactly once, and the synthesis dims if `MultimodalQueries`'
    * code does not state them exactly once.
    */
  private def multimodalTwins(mm: String, queries: String): Seq[String] = {
    def count(code: String, s: String) = code.split(java.util.regex.Pattern.quote(s), -1).length - 1
    (Seq("ImageIO.read(", "AudioSystem.getAudioInputStream(", ".grouped(").map(_ -> mm) :+
        ("% 6 + 2" -> queries))
      .collect { case (s, code) if count(code, s) != 1 => s"${count(code, s)} x $s" }
  }

  test("the multimodal family has one batched decode body and one synthesis oracle") {
    // every decoder runs the one batchDecode body, and every image
    // oracle reads the one synthesized-image CTE; a copied decoder or
    // oracle grows back as a second read, grouping or dims formula
    def code(name: String) = mainCode()
      .collectFirst { case (p, c) if p.getFileName.toString == name => c }.get
    val (mm, queries) = (code("Multimodal.scala"), code("MultimodalQueries.scala"))
    assert(multimodalTwins(mm, queries).isEmpty, multimodalTwins(mm, queries).mkString(", "))
    // the guard sees each form it forbids
    val decodeTwin = mm + """
      |  def extractFeatures2(spark: SparkSession, media: DataFrame) =
      |    media.as[MediaRecord].mapPartitions(_.grouped(64).flatMap(_.map(r =>
      |      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload)))))""".stripMargin
    assert(multimodalTwins(decodeTwin, queries).length === 2)
    assert(multimodalTwins(mm, queries + "CAST(doc_id % 6 + 2 AS INT) AS w").nonEmpty)
  }
}
