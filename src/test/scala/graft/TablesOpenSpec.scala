package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** `Tables.open` reads the schema Spark would infer from one footer on
  * the driver: the schemas must be identical to inference, and opening
  * a table (or a partitioned index past Spark's 32-directory parallel
  * listing threshold) must run no Spark job.
  */
class TablesOpenSpec extends SparkSpec {
  private val sf = java.nio.file.Paths.get(Bench.CanonicalSfDir)
    .resolveSibling("sf0.01").toString
  private val canonical = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private lazy val work = Files.createTempDirectory("tables-open").toString
  private lazy val ivf64 = graft.similarity.IvfIndex.build(
    Tables.embeddings(spark, sf), "vec_id", "embedding", s"$work/ivf64", k = 64)
  private lazy val lshPath = {
    val p = s"$work/lsh"
    graft.dedup.LshIndex.build(Tables.documents(spark, sf), "doc_id", "text", p)
    p
  }

  private def assertSameSchema(path: String): Unit =
    assert(Tables.open(spark, path).schema === spark.read.parquet(path).schema,
      s"schema of $path differs from inference")

  /** Jobs started by `body`'s thread, counted by job group. A sentinel
    * job under another group runs afterwards: listener events arrive in
    * order, so once its start is seen every earlier start has been too.
    */
  private def jobsDuring(body: => Unit): Int = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tables-open", "opens under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("tables-open-sentinel", "listener barrier")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("tables-open-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("tables-open-sentinel"), "listener never saw the sentinel job")
    } finally sc.removeSparkListener(listener)
    groups.toArray.count(_ == "tables-open")
  }

  test("Tables.open infers the same schema as a schema-inferring read") {
    canonical.foreach(t => assertSameSchema(s"$sf/$t.parquet"))
    Seq("centroids", "assignments", "meta")
      .foreach(t => assertSameSchema(s"${ivf64.path}/$t"))
    assertSameSchema(s"$lshPath/meta")
    // SourcesSpec's legacy events fixture: ts stored as int64 nanos,
    // surfaced as a long under nanosAsLong, and the native-timestamp twin
    import spark.implicits._
    val base = 1704412800L * 1000000000L
    val legacy = (0 until 48).map(i =>
      (i.toLong, base + i * 3600L * 1000000000L + 999L, i.toLong % 4,
        "click", i.toDouble, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    legacy.write.mode("overwrite").parquet(s"$work/legacy/events.parquet")
    legacy.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .write.mode("overwrite").parquet(s"$work/native/events.parquet")
    Seq("legacy", "native").foreach(d => assertSameSchema(s"$work/$d/events.parquet"))
  }

  test("opening every canonical table and a k=64 IVF index runs no Spark job") {
    val buckets = new java.io.File(s"${ivf64.path}/assignments").list()
      .count(_.startsWith("cid="))
    assert(buckets > 32, s"the index must exceed the 32-directory listing default: $buckets")
    val jobs = jobsDuring {
      canonical.foreach(t => Tables.open(spark, s"$sf/$t.parquet"))
      ivf64.centroids
      ivf64.assignments
    }
    assert(jobs === 0)
    // the counter does see jobs: a schema-inferring open runs one
    assert(jobsDuring(spark.read.parquet(s"$sf/region.parquet")) >= 1)
  }

  test("index meta and centroid reads run no Spark job; a topK probe runs one") {
    val (lsh, _) = (lshPath, ivf64.path) // both built before counting
    val corpus = Tables.embeddings(spark, sf)
    val query = corpus.filter(col("vec_id") === 0)
    assert(jobsDuring(graft.dedup.LshIndex.load(spark, lsh)) === 0)
    assert(jobsDuring(ivf64.topKBatch(corpus, "vec_id", 5, nProbe = 8)) === 0)
    val countJobs = jobsDuring(corpus.count())
    assert(countJobs >= 1)
    assert(jobsDuring(graft.similarity.IvfIndex.isStale(ivf64, corpus)) === countJobs)
    assert(jobsDuring(ivf64.topK(query, 10, nProbe = 4)) === 1)
  }

  test("Tables.rows equals a collect of the table, row for row") {
    def sameRows(path: String): Unit = {
      val expected = spark.read.parquet(path).collect().toSeq
      assert(expected.nonEmpty, s"fixture: $path is empty")
      assert(Tables.rows(spark, path).toSeq === expected, path)
    }
    def sameIndexRows(p: String): Unit = Seq("meta", "centroids").foreach(t => sameRows(s"$p/$t"))
    sameRows(s"$lshPath/meta")
    sameIndexRows(ivf64.path)
    val corpus = Tables.embeddings(spark, sf)
    Seq(2, 64).foreach { k =>
      val idx = graft.similarity.IvfIndex.build(corpus.filter(col("vec_id") < 400),
        "vec_id", "embedding", s"$work/rows-k$k", k = k)
      sameIndexRows(idx.path)
      idx.addVectors(corpus.filter(col("vec_id") >= 400))
      sameIndexRows(idx.path)
      idx.recenter()
      sameIndexRows(idx.path)
    }
    // a partitioned table is refused, not read without its partition column
    intercept[IllegalArgumentException](Tables.rows(spark, s"${ivf64.path}/assignments"))
  }

  test("a missing path or a directory without data files fails as inference does") {
    def errorOf(f: => Any): String =
      intercept[AnalysisException](f).getCondition
    val missing = s"$work/no-such-table"
    assert(errorOf(Tables.open(spark, missing)) ===
      errorOf(spark.read.parquet(missing)))
    val empty = s"$work/empty-table"
    new java.io.File(empty).mkdirs()
    new java.io.File(empty, "_SUCCESS").createNewFile()
    assert(errorOf(Tables.open(spark, empty)) === errorOf(spark.read.parquet(empty)))
  }
}
