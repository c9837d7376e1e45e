package graftbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Job, stage and task counts of one job group (one key's build or exec
  * phase in one pass). Times are nanoseconds, sizes bytes. */
final class GroupCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskTimeNs = 0L
  var maxTaskNs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Attributes Spark jobs, stages and tasks to the job group that was set
  * on the calling thread when the job was submitted. Jobs submitted
  * without a group land under "". */
final class KeyListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val groups = mutable.HashMap.empty[String, GroupCounts]

  private def of(group: String): GroupCounts =
    groups.getOrElseUpdate(group, new GroupCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    of(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val durNs = e.taskInfo.duration * 1000000L
    c.taskTimeNs += durNs
    c.maxTaskNs = math.max(c.maxTaskNs, durNs)
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}
