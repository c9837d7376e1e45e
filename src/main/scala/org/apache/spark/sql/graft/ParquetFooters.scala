package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
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
  *
  * [[rows]] reads a whole small table the same way: the driver lists its
  * files and runs Spark's own `ParquetFileFormat` reader over each, so a
  * persisted index's one-row meta table or k-row centroid table costs no
  * Spark job to read.
  */
object ParquetFooters {

  /** The inferred data schema of the parquet table at `path`, or None
    * when the path does not exist or holds no data file (the caller then
    * reads with inference and gets Spark's own errors), or when the
    * session merges schemas across all files.
    */
  def inferredSchema(spark: SparkSession, path: String): Option[StructType] =
    listed(spark, path).flatMap(_.schema(spark))

  /** Every row of the small, unpartitioned parquet table at `path`, read
    * on the driver with no Spark job: the rows
    * `spark.read.parquet(path).collect()` returns, in its order for a
    * one-file table (each index's meta and centroid table is one file).
    * The schema is [[inferredSchema]]'s, the values come from
    * `ParquetFileFormat`'s reader under the session conf, and files are
    * read largest first, as a scan packs them. None exactly when
    * [[inferredSchema]] is None. Every row is held in driver memory, so
    * this is for tables bounded by construction, never a corpus.
    */
  def rows(spark: SparkSession, path: String): Option[Array[Row]] =
    listed(spark, path).flatMap { table =>
      table.schema(spark).map { schema =>
        val files = table.files.filterNot(f => isSummary(f.getPath.getName))
        require(!table.root.isDirectory ||
            files.forall(_.getPath.getParent == table.root.getPath),
          s"$path is partitioned; rows reads unpartitioned tables only")
        val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark,
          schema, new StructType(), schema, Nil,
          Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), table.hadoopConf)
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        files.sortBy(f => (-f.getLen, f.getPath.toString))
          .flatMap { f =>
            read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath),
              0L, f.getLen, Array.empty[String], f.getModificationTime, f.getLen))
              .map(r => toRow(r).asInstanceOf[Row])
          }.toArray
      }
    }

  /** A table's root and the leaf files the file index would list, sorted
    * by path; None when the path does not exist or the session merges
    * schemas.
    */
  private case class Listed(hadoopConf: Configuration, root: FileStatus,
                            files: Seq[FileStatus]) {
    /** The schema inference reads from one footer: the first
      * `_common_metadata`, else `_metadata`, else data file.
      */
    def schema(spark: SparkSession): Option[StructType] = {
      def named(n: String) = files.find(_.getPath.getName == n)
      named("_common_metadata").orElse(named("_metadata"))
        .orElse(files.find(f => !isSummary(f.getPath.getName)))
        .map(f => schemaOf(spark, hadoopConf, f))
    }
  }

  private def listed(spark: SparkSession, path: String): Option[Listed] = {
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) return None
    val p = new Path(path)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(hadoopConf)
    val root = try fs.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException => return None
    }
    Some(Listed(hadoopConf, root, leafFiles(fs, root).sortBy(_.getPath.toString)))
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

  private def schemaOf(spark: SparkSession, hadoopConf: Configuration,
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
