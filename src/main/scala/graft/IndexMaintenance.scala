package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The on-disk lifecycle shared by the persisted indexes
  * ([[graft.dedup.LshIndex]], [[graft.similarity.IvfIndex]]): how an
  * index is known to be complete, how fragmentation is counted, and how
  * a table is replaced. One implementation because this logic is
  * crash-window-critical — a fix to the recovery ordering in one index
  * must not silently miss the other (review finding r13).
  */
object IndexMaintenance {

  private[graft] def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True when a COMPLETED index exists at `path` — keyed on the meta
    * table's _SUCCESS marker, which every build writes last, so a build
    * that crashed mid-way reads as absent and is rebuilt. Checked
    * through the path's Hadoop filesystem (HDFS/S3/etc., not just the
    * local disk).
    */
  def isComplete(spark: SparkSession, path: String): Boolean =
    fileSystem(spark, path).exists(new Path(s"$path/meta/_SUCCESS"))
}

object PersistedIndex {

  /** Rows per data file that builds and compactions aim for. */
  val TargetFileRows: Long = 4000000L
}

/** A persisted index: parquet tables under one directory, appended to
  * by a single-writer ingest owner, and compacted by that same owner.
  * The subclass supplies its appended-to data tables and how each is
  * rewritten; this class owns the lifecycle around them.
  *
  * Every table replacement is STAGED: the new copy is written in full to
  * `<table>_next`, then swapped in by directory rename (delete live,
  * rename staged) — no second rewrite of the data. A crash between the
  * delete and the rename leaves `<table>_next` complete and `<table>`
  * absent; [[recover]] finishes that rename, and every maintenance
  * entry point runs it before it reads a live table.
  */
abstract class PersistedIndex[Self <: PersistedIndex[Self]] { this: Self =>
  def spark: SparkSession
  def path: String

  /** The tables appends land in: counted by [[dataFileCount]] and
    * rewritten by [[compact]], in this order.
    */
  protected def dataTables: Seq[String]

  /** Write a right-sized, content-identical copy of data table `table`
    * to `dest` (same rows, same partition layout, so probes prune
    * identically).
    */
  protected def writeCompacted(table: String, dest: String,
                               targetFileRows: Long): Unit

  /** Opt-in append-time maintenance (r14, verdict-r13 item 5): when
    * set, every append finishes by running [[compactIfFragmented]] with
    * this policy, so an append-heavy lifecycle can never fragment
    * probes into the degradation of SCALING.md "r13: index lifecycle
    * under append-heavy ingest" (240→2,146 files, 0.68→3.2 s probes)
    * without the valve firing. Off by default; the trigger runs on the
    * same single-writer ingest owner as the append itself, so the
    * concurrency contract is unchanged. Measured at sg100: IVF probe
    * latency stays flat across 8 appends with no manual compact call
    * (SCALING.md "r14: append-time auto-maintenance for the persisted
    * indexes").
    */
  @volatile private var autoPolicy: Option[(Int, Long)] = None

  def withAutoMaintenance(maxFiles: Int = 64,
                          targetFileRows: Long = PersistedIndex.TargetFileRows): Self = {
    require(maxFiles > 0 && targetFileRows > 0,
      "auto-maintenance thresholds must be positive")
    autoPolicy = Some((maxFiles, targetFileRows))
    this
  }

  /** The append hook: every append calls this last. */
  protected def appended(): Unit =
    autoPolicy.foreach { case (mf, tr) => compactIfFragmented(mf, tr) }

  private def fs = IndexMaintenance.fileSystem(spark, path)
  private def table(t: String) = new Path(s"$path/$t")

  /** Parquet data files currently holding the data tables (recursive).
    * Every append lands at least one new file per task, so a long run
    * of small increments degrades scans into thousands of tiny reads —
    * this count is the fragmentation signal. A missing table counts 0.
    */
  def dataFileCount(): Int = {
    val f = fs
    dataTables.map(table).map { dir =>
      if (!f.exists(dir)) 0
      else {
        val it = f.listFiles(dir, true)
        var n = 0
        while (it.hasNext) {
          if (it.next().getPath.getName.endsWith(".parquet")) n += 1
        }
        n
      }
    }.sum
  }

  /** Size-triggered maintenance: when accumulated appends exceed
    * `maxFiles` data files, [[compact]]. Returns true when a compaction
    * ran. Recovery runs FIRST, before the file count reads the live
    * directories (review finding r13: counting first crashed the
    * maintenance entry point in exactly the window compact() documents
    * as recoverable).
    */
  def compactIfFragmented(maxFiles: Int = 64,
                          targetFileRows: Long = PersistedIndex.TargetFileRows): Boolean = {
    recover()
    val fragmented = dataFileCount() > maxFiles
    if (fragmented) compact(targetFileRows)
    fragmented
  }

  /** Rewrite every data table into right-sized files, content identical.
    * All tables stage fully before any live table is touched, then each
    * swaps in. Compaction belongs to the same single-writer ingest owner
    * as appends — an append racing a compaction would be dropped by the
    * rewrite.
    */
  def compact(targetFileRows: Long = PersistedIndex.TargetFileRows): Unit = {
    require(targetFileRows > 0, "targetFileRows must be positive")
    recover()
    dataTables.foreach(t => writeCompacted(t, s"$path/${t}_next", targetFileRows))
    dataTables.foreach(swap)
  }

  /** Replace one table: `write` the whole new copy to the staged path it
    * is given, then swap it in.
    */
  protected def replace(t: String)(write: String => Unit): Unit = {
    write(s"$path/${t}_next")
    swap(t)
  }

  private def swap(t: String): Unit = {
    fs.delete(table(t), true)
    require(fs.rename(table(s"${t}_next"), table(t)),
      s"index $path: rename of ${t}_next into $t failed")
  }

  /** Finish every interrupted swap: a staged `<table>_next` whose live
    * table is absent is complete (the live copy is deleted only after
    * staging finished), so rename it into place. A staged copy beside
    * its live table is an unfinished staging write; the next replace
    * overwrites it.
    */
  protected def recover(): Unit = {
    val root = new Path(path)
    if (fs.exists(root)) fs.listStatus(root)
      .map(_.getPath.getName)
      .filter(n => n.endsWith("_next") && !fs.exists(table(n.stripSuffix("_next"))))
      .foreach { n =>
        require(fs.rename(table(n), table(n.stripSuffix("_next"))),
          s"index $path: recovery rename of $n failed")
      }
  }
}
