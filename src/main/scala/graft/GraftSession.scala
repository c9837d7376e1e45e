package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the tuning this engine assumes.
  *
  * Local testing runs `local[N]`; at cluster scale the same settings
  * apply except parallelism, which should be ~2-3x total cores. AQE is
  * on so runtime stats re-plan skew joins and coalesce small shuffle
  * partitions — both load-bearing at 100 TB.
  *
  * Deliberate choices:
  *   - `spark.sql.ansi.enabled=false`: the reference (pandas) propagates
  *     invalid arithmetic as NaN/null instead of aborting; a single
  *     degenerate row must not kill a 100 TB job. Divisions in this
  *     code base therefore yield null on /0 rather than throwing.
  *   - `spark.sql.legacy.parquet.nanosAsLong=true`: older testdata
  *     generations wrote the events table with nanosecond timestamps,
  *     which the vectorized parquet reader otherwise rejects; we read
  *     them as long and convert to microsecond timestamps in
  *     [[graft.tables.Tables]] (truncation — identical to DuckDB's
  *     ns->us cast). Harmless for the current timestamp[us] schema.
  *   - `spark.sql.parquet.inferTimestampNTZ.enabled=false`: the current
  *     testdata stores timestamps without a timezone flag, which Spark
  *     would otherwise surface as TIMESTAMP_NTZ — a type `unix_micros`
  *     and friends reject. With the session timezone pinned to UTC,
  *     reading them as plain TimestampType is value-identical to
  *     DuckDB's tz-less TIMESTAMP (epoch_us agrees on every tick).
  *   - timezone pinned to UTC so timestamp<->epoch conversions are
  *     total-order stable across engines.
  *   - `spark.sql.codegen.cache.maxEntries=4096` (Spark: 100): one sweep
  *     of every declared query compiles about 1,400 distinct generated
  *     classes at sf0.01, so a 100-entry cache evicts each before its
  *     next use and a warm session recompiled nearly every class it ran.
  *     The cache is static: Spark sizes it once per JVM, when its
  *     `CodeGenerator` first initializes, from the session conf in
  *     effect then.
  *   - `spark.sql.codegen.useIdInClassName=false`: AQE numbers
  *     whole-stage pipelines in the order their stages complete, and
  *     that number is part of the generated class name and so of the
  *     cache key. With the number out of the name a pipeline keeps one
  *     class across calls, and identical pipelines of different queries
  *     share one. The only cost is that generated class names in stack
  *     traces lose their stage-id suffix (SCALING.md "Compile once per
  *     session").
  */
object GraftSession {
  def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Local split sizing: a 100 TB table has thousands of row
      // groups, so scan parallelism >> cores; locally the same tables
      // are a handful of small files that Spark's default 128 MB
      // split packing fuses into 1-2 input partitions, serializing
      // all scan-side work (decode, regex, shingle hashing) onto one
      // or two cores while every post-shuffle stage uses all of them.
      // 4 MB splits (+1 MB open cost so small files don't over-pack)
      // reproduce the cluster splits>>cores relationship at local
      // data sizes. On a real cluster leave both at default — the
      // data provides the parallelism (CLUSTER.md).
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // List partition directories on the driver: past 32 of them
      // (Spark's default) every open of a partitioned table runs a
      // listing job, a 64-task one for the cid= buckets of
      // ann_knn_join's k64 IVF index, where local listStatus calls take
      // milliseconds (SCALING.md "Job-free table opens"). The engine's
      // indexes have at most 64 partitions; on a cluster, where one
      // table has thousands on remote storage, leave the default
      // (CLUSTER.md).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      // Filter INFERENCE off (both rules are optimizations, never
      // semantics): every graft operator already filters its own nulls
      // before joins and explodes (the code-level contract), so the
      // inferred isnotnull/size>0 predicates only restate existing
      // filters — and when a join key or generator input is an
      // EXPENSIVE derived expression (simhash fingerprints, hyperplane
      // band arrays, minhash signatures), predicate pushdown
      // substitutes that full expression through its defining
      // projection into every corpus scan's Filter, re-evaluating it
      // per row per scan. Measured (r11, min-of-3): dedup_simhash
      // -27..31%, dedup_hamming -10..25%, dedup_embed -11..21% at
      // sg_uni/sg10; whole 148-query sf0.1 surface -6% median 0.94,
      // no query regressing beyond noise.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate," +
          "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")

  /** Generated classes the codegen cache holds: ~2.9x the ~1,400 distinct
    * classes one sweep of every declared query compiles at sf0.01. */
  val CodegenCacheMaxEntries = 4096

  /** Classes Janino has compiled in this JVM: every compile is a codegen
    * cache miss, so the count grows only while new or evicted classes
    * are compiled. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The capacity of this JVM's codegen cache, read from the cache
    * itself: it is fixed when Spark's `CodeGenerator` first initializes,
    * whatever the session conf says later. */
  def codegenCacheCapacity(): Long = {
    // CodeGenerator.cache (Spark's NonFateSharingLoadingCache) wraps a
    // Guava LocalCache whose maxWeight is the configured maxEntries
    def field(cls: Class[_], name: String, of: AnyRef): AnyRef = {
      val f = cls.getDeclaredField(name)
      f.setAccessible(true)
      f.get(of)
    }
    val generator = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val spark = field(generator.getClass, "cache", generator)
    val guava = spark.getClass.getMethod("cache").invoke(spark)
    val local = field(guava.getClass.getSuperclass, "localCache", guava)
    field(local.getClass, "maxWeight", local).asInstanceOf[Long]
  }

  /** Default shuffle partitions: 32 locally (matches local[32]), but
    * overridable via SPARK_GRAFT_SHUFFLE_PARTITIONS so scale-fixture
    * runs can size partitions to the DATA the way a cluster deployment
    * would (partitions scale with input; a fixed 32 at 20 GB conflates
    * spill with plan growth — r12 scaling-table caveat).
    */
  def defaultShufflePartitions: Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt).getOrElse(32)

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]",
              shufflePartitions: Int = defaultShufflePartitions): SparkSession.Builder =
    tuned(SparkSession.builder().master(master), shufflePartitions)

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
