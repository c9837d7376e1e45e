package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The schema Spark's non-merging parquet inference would infer, read on
  * the driver.
  *
  * `spark.read.parquet(path)` infers through
  * `ParquetFileFormat.mergeSchemasInParallel`, which launches a Spark job
  * even when it reads one footer. Without `mergeSchema` that job touches
  * exactly one file: the first `_common_metadata`, else the first
  * `_metadata`, else the first data file, ordered by path string among
  * the leaf files the file index lists. [[inferredSchema]] lists the same
  * files, reads that one footer here and converts it with Spark's own
  * `readSchemaFromFooter` (the `org.apache.spark.sql.parquet.row.metadata`
  * key first, else `ParquetToSparkSchemaConverter` built from the session
  * conf the way the merge job builds it), so the result equals inference.
  */
object ParquetFooters {

  /** The inferred data schema of the parquet table at `path`, or None
    * when the path does not exist or holds no data file (the caller then
    * reads with inference and gets Spark's own errors), or when the
    * session merges schemas across all files.
    */
  def inferredSchema(spark: SparkSession, path: String): Option[StructType] = {
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) return None
    val p = new Path(path)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(hadoopConf)
    val root = try fs.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException => return None
    }
    val files = leafFiles(fs, root).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => !isSummary(f.getPath.getName)))
      .map(f => schemaOf(spark, hadoopConf, f))
  }

  private def isSummary(name: String): Boolean =
    name == "_common_metadata" || name == "_metadata"

  /** The files the file index keeps: hidden and `_`-prefixed names are
    * dropped (summary files and `k=v` directories excepted), and only
    * partition directories are descended into.
    */
  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    (if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st))
      .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
      .flatMap { c =>
        if (!c.isDirectory) Seq(c)
        else if (c.getPath.getName.contains("=")) leafFiles(fs, c)
        else Nil
      }

  private def schemaOf(spark: SparkSession,
                       hadoopConf: org.apache.hadoop.conf.Configuration,
                       file: FileStatus): StructType = {
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS))
    ParquetFileFormat.readSchemaFromFooter(footer, converter)
  }
}
