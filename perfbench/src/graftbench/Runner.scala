package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's JVM side: one closed-loop caller that runs a
  * workload's `SparkEntry` keys one after another and records how long
  * each call takes to return a DataFrame (`build`) and how long its
  * action takes (`exec`).
  *
  * Usage: Runner <plan file>. The plan is `name=value` lines written by
  * perfbench/run.py, which has already generated the inputs; the result
  * is one JSON object written to the plan's `out` path. Sequence:
  *   1. session start (measured from JVM start);
  *   2. cold builds of the persisted indexes, when the plan asks (in
  *      parallel, like the warm-up);
  *   3. warm-up pass: each key's output, plus its per-row hash column
  *      `__h`, is dumped to parquet for the checks run.py makes;
  *   4. timed passes until `seconds` have elapsed, and at least
  *      [[minPasses]]. Each key's timed action reads every output column
  *      into the row hash and returns the row count and hash sum, which
  *      run.py compares with the dump;
  *   5. with `trace=1` and dedup_jaccard among the keys, its pair-mass
  *      audit (outside every timed region).
  * With `trace=1` passes 2, 4, ... are traced and the run ends on an
  * untraced pass, so each traced pass has an untraced one on either
  * side and the cold pass 0 is next to none. A [[KeyListener]] counts
  * jobs, stages and tasks per key and phase of a traced pass, and spans
  * workload > pass > key > build/exec are kept in memory and written
  * with the result.
  */
object Runner {

  /** Passes a run makes at least: the first timed pass still runs on
    * partly JIT-compiled code, and a median needs three samples to set
    * one slow sample aside. A traced run needs passes 0 to 3 to trace
    * pass 2 between two untraced passes. */
  def minPasses(trace: Boolean): Int = if (trace) 4 else 3

  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        layer: String, startNs: Long, var endNs: Long = 0L)

  final case class Exec(pass: Int, key: String, traced: Boolean, buildS: Double,
                        execS: Double, fingerprint: String, error: String)

  def main(args: Array[String]): Unit = {
    val plan = scala.io.Source.fromFile(args(0), "UTF-8").getLines()
      .filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
      }.toMap
    val keys: Seq[(String, String)] = plan("keys").split(",").toSeq
      .map { kl => val Array(k, l) = kl.split(":"); k -> l }
    val seconds = plan("seconds").toDouble
    val trace = plan("trace") == "1"
    val cores = plan("cores").toInt
    val dataDir = plan("data_dir")
    val dumpDir = plan("dump_dir")
    val plant = plan.getOrElse("plant", "")

    val spark = graft.GraftSession
      .tuned(SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.local.dir", plan("local_dir"))
      .config("spark.sql.warehouse.dir", plan("warehouse_dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val startS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val queries = graft.SparkEntry.queries
    val missing = keys.map(_._1).filterNot(queries.contains)
    require(missing.isEmpty, s"unknown keys: ${missing.mkString(",")}")

    // 2. persisted indexes, built from empty: the keys then probe them.
    // Paths and parameters are the ones ann_ivf, ann_knn_join and
    // dedup_incremental pass, so their buildOrRefresh/buildOrLoad reuse
    // these builds.
    val san = dataDir.replaceAll("[^A-Za-z0-9.]+", "_")
    lazy val corpus = graft.tables.Tables.embeddings(spark, dataDir)
      .filter(col("vec_id") =!= 0)
    lazy val docs = graft.tables.Tables.documents(spark, dataDir)
    val indexBuilds: Map[String, () => Any] = Map(
      "ivf16" -> (() => graft.similarity.IvfIndex.build(corpus, "vec_id",
        "embedding", s"spark-warehouse/ivf_${san}_k16")),
      "ivf64" -> (() => graft.similarity.IvfIndex.build(corpus, "vec_id",
        "embedding", s"spark-warehouse/ivf_${san}_k64", k = 64)),
      "lsh" -> (() => graft.dedup.LshIndex.build(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        s"spark-warehouse/lsh_incr_v2_$san")))
    // Set-up work (index builds, warm-up) runs on `cores` threads: cold
    // first executions are mostly single-threaded planning and code
    // generation. Each task's own wall time is returned with its result.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    def inParallel[T](tasks: Seq[(String, () => T)]): Seq[(String, Double, scala.util.Try[T])] =
      tasks.map { case (name, task) =>
        pool.submit(new java.util.concurrent.Callable[(String, Double, scala.util.Try[T])] {
          def call() = {
            sc.setJobGroup(s"setup|$name", name)
            val (r, s) = timed(scala.util.Try(task()))
            (name, s, r)
          }
        })
      }.map(_.get())
    val indexes = plan("indexes").split(",").toSeq.filter(_.nonEmpty)
    val (indexS, indexWallS) = timed(inParallel(indexes.map(n => n -> indexBuilds(n)))
      .map { case (name, s, r) => r.get; name -> s })

    // 3. warm-up pass
    val execs = mutable.ArrayBuffer.empty[Exec]
    val (warm, warmupS) = timed(inParallel(keys.map { case (key, _) =>
      key -> (() => {
        val df = queries(key)(spark, dataDir)
        df.withColumn("__h", rowHash(df)).coalesce(1)
          .write.mode("overwrite").parquet(s"$dumpDir/$key")
      })
    }))
    pool.shutdown()
    warm.foreach { case (key, s, r) =>
      execs += Exec(-1, key, traced = false, 0.0, s, "", r.failed.map(errorText).getOrElse(""))
    }

    // 4. timed passes
    val listener = new KeyListener
    val spans = mutable.ArrayBuffer.empty[Span]
    def open(kind: String, name: String, layer: String, parent: Int): Span = {
      val s = Span(spans.size, parent, kind, name, layer, System.nanoTime())
      spans += s; s
    }
    val passWall = mutable.ArrayBuffer.empty[(Int, Boolean, Double, Double)]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum
    val window0 = System.nanoTime()
    val workloadSpan = if (trace) open("workload", plan("workload"), "", -1) else null
    var pass = 0
    var lastTraced = false
    while (pass < minPasses(trace) || lastTraced ||
        (System.nanoTime() - window0) / 1e9 < seconds) {
      val traced = trace && pass >= 2 && pass % 2 == 0
      if (traced) sc.addSparkListener(listener)
      val passSpan = if (traced) open("pass", s"pass$pass", "", workloadSpan.id) else null
      val gc0 = gcMs
      val p0 = System.nanoTime()
      keys.foreach { case (key, layer) =>
        val keySpan = if (traced) open("key", key, layer, passSpan.id) else null
        var buildS = 0.0
        var execS = 0.0
        val r = scala.util.Try {
          sc.setJobGroup(s"$pass|$key|build", key)
          val buildSpan = if (traced) open("build", key, layer, keySpan.id) else null
          val b0 = System.nanoTime()
          val built = queries(key)(spark, dataDir)
          val df = if (key == plant) built.union(built.limit(1)) else built
          val b1 = System.nanoTime()
          if (traced) buildSpan.endNs = b1
          buildS = (b1 - b0) / 1e9
          sc.setJobGroup(s"$pass|$key|exec", key)
          val execSpan = if (traced) open("exec", key, layer, keySpan.id) else null
          val fp = fingerprint(df)
          val e1 = System.nanoTime()
          if (traced) execSpan.endNs = e1
          execS = (e1 - b1) / 1e9
          fp
        }
        if (traced) keySpan.endNs = System.nanoTime()
        execs += Exec(pass, key, traced, buildS, execS, r.getOrElse(""),
          r.failed.map(errorText).getOrElse(""))
      }
      val wall = (System.nanoTime() - p0) / 1e9
      if (traced) {
        passSpan.endNs = System.nanoTime()
        org.apache.spark.GraftBenchBus.drain(sc)
        sc.removeSparkListener(listener)
      }
      passWall += ((pass, traced, wall, (gcMs - gc0) / 1000.0))
      lastTraced = traced
      pass += 1
    }
    if (trace) workloadSpan.endNs = System.nanoTime()
    sc.clearJobGroup()

    // 5. dedup_jaccard's candidate pairs, counted outside every timed region
    val candidatePairs =
      if (trace && keys.exists(_._1 == "dedup_jaccard"))
        graft.dedup.Dedup.pairMassAudit(docs, "doc_id", "text", "source",
          shingleN = 3, maxShingleDocFrac = Some(0.5))
          .agg(coalesce(sum(col("candidate_pairs")), lit(0L))).head.getLong(0)
      else 0L

    // ann_brute's oracle SQL is the ground truth of ann_recall_at_10
    val oracleKeys = (keys.map(_._1) :+ "ann_brute").distinct
    def obj(kv: Seq[(String, Any)]): String =
      kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val out = new StringBuilder
    out ++= "{"
    out ++= s""""provenance":${obj(Seq(
      "spark" -> q(spark.version), "java" -> q(System.getProperty("java.version")),
      "jvm" -> q(System.getProperty("java.vm.name")),
      "shuffle_partitions" -> q(spark.conf.get("spark.sql.shuffle.partitions"))))},"""
    out ++= s""""start_s":$startS,"warmup_s":$warmupS,"peak_rss_kb":$peakRssKb,"""
    out ++= s""""index":${obj(indexS)},"index_wall_s":$indexWallS,"candidate_pairs":$candidatePairs,"""
    out ++= s""""oracles":${obj(oracleKeys.flatMap(k =>
      graft.SparkEntry.oracleSql.get(k).map(v => k -> q(v))))},"""
    out ++= s""""passes":${passWall.map { case (p, t, w, g) =>
      s"""{"pass":$p,"traced":$t,"wall_s":$w,"gc_s":$g}""" }.mkString("[", ",", "]")},"""
    out ++= s""""executions":${execs.map { e =>
      obj(Seq("pass" -> e.pass, "key" -> q(e.key), "traced" -> e.traced,
        "build_s" -> e.buildS, "exec_s" -> e.execS,
        "fingerprint" -> q(e.fingerprint), "error" -> q(e.error)))
    }.mkString("[", ",", "]")},"""
    out ++= s""""groups":${obj(listener.groups.toSeq.map { case (g, c) =>
      g -> obj(Seq("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "failed_tasks" -> c.failedTasks, "task_ns" -> c.taskTimeNs,
        "max_task_ns" -> c.maxTaskNs, "cpu_ns" -> c.cpuNs,
        "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes))
    })},"""
    out ++= s""""spans":${spans.map { s =>
      obj(Seq("id" -> s.id, "parent" -> s.parent, "kind" -> q(s.kind),
        "name" -> q(s.name), "layer" -> q(s.layer),
        "start_ns" -> (s.startNs - window0), "end_ns" -> (s.endNs - window0)))
    }.mkString("[", ",", "]")}"""
    out ++= "}"
    Files.writeString(Paths.get(plan("out")), out.toString)
    spark.stop()
  }

  /** Per-row murmur3 hash over every output column. Map-typed columns
    * are hashed through their JSON text (Spark refuses to hash maps). */
  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(s"`${f.name}`")) else col(s"`${f.name}`")
    }
    hash(cols: _*)
  }

  /** The timed action: row count and the sum of the row hashes, a
    * row-order-free fingerprint that needs every output column. */
  def fingerprint(df: DataFrame): String = {
    val r = df.select(rowHash(df).cast("long").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def errorText(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).linesIterator.take(3).mkString(" ")}"

  private def peakRssKb: Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1L
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  /** JSON string literal: quotes, backslashes and every control
    * character are escaped. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
