package graft.tables

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical loaders for the driver-generated test tables.
  *
  * Every loader is a plain parquet scan so Catalyst's column pruning and
  * filter pushdown reach the file source (`PushedFilters` in explain).
  * The only normalization done here is the events table's nanosecond
  * timestamp -> microsecond TimestampType conversion (matching DuckDB's
  * ns->us truncating cast, so oracle comparisons line up).
  */
object Tables {

  /** Open the parquet table at `path` without running a Spark job.
    *
    * Spark's schema inference always launches a job to read one footer.
    * Here the footer inference would read is
    * read on the driver ([[org.apache.spark.sql.graft.ParquetFooters]]),
    * and the table is opened with that schema, which equals the inferred
    * one. A path that does not exist or holds no data file is opened
    * with inference, so it fails with Spark's own error. Every parquet
    * read in the engine goes through here or declares its schema.
    */
  def open(spark: SparkSession, path: String): DataFrame =
    org.apache.spark.sql.graft.ParquetFooters.inferredSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** Every row of a small persisted table (a persisted index's meta or
    * centroid table), read on the driver with no Spark job
    * ([[org.apache.spark.sql.graft.ParquetFooters.rows]]); equal to
    * `open(spark, path).collect()`, which it falls back to where [[open]]
    * falls back to inference, so a missing table fails as [[open]] does.
    */
  def rows(spark: SparkSession, path: String): Array[Row] =
    org.apache.spark.sql.graft.ParquetFooters.rows(spark, path)
      .getOrElse(open(spark, path).collect())

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    open(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** events with `ts` as a proper microsecond TimestampType.
    *
    * Schema-adaptive: current testdata stores `ts` as parquet
    * timestamp[us] (read natively as TimestampType); older generations
    * stored nanos-as-long (surfaced as LongType under
    * spark.sql.legacy.parquet.nanosAsLong=true, see GraftSession). The
    * long case truncates ns -> us with integer division — double
    * division loses precision at 1.7e18 ns (ulp there is 256!).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw // already TimestampType
    }
  }

  private def usOf(t: String): Long = {
    val norm = if (t.contains(" ") || t.contains("T")) t.replace(" ", "T")
      else t + "T00:00:00"
    val inst = java.time.LocalDateTime.parse(norm)
      .toInstant(java.time.ZoneOffset.UTC)
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  /** events clipped to [start, end) with the time predicate applied to
    * the RAW stored column, so it reaches the parquet scan as a
    * PushedFilter — at 100 TB that is the difference between reading
    * one day and reading everything. For a native TimestampType column
    * the timestamp literal predicate pushes down directly; for the
    * legacy nanos-as-long schema the predicate is applied to the raw
    * long (exact: ts_us >= X  <=>  ts_ns >= X*1000 under truncation)
    * before the conversion expression, which would otherwise block
    * pushdown.
    */
  def eventsClipped(s: SparkSession, d: String,
                    startInclusive: String, endExclusive: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw
          .filter(col("ts") >= usOf(startInclusive) * 1000L &&
            col("ts") < usOf(endExclusive) * 1000L)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.filter(col("ts") >= timestamp_micros(lit(usOf(startInclusive))) &&
          col("ts") < timestamp_micros(lit(usOf(endExclusive))))
    }
  }
}
