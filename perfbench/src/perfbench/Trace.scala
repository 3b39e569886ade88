package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Internals

/** Per-job-group work record. Every job, stage, task and SQL execution is
  * keyed to the job group it was submitted under (the group
  * `graft.util.Watchdog.run` sets for one operation), never to a
  * wall-clock window: a timed-out operation's straggler tasks stay on that
  * operation, and a task whose group is unknown is counted as
  * unattributed rather than billed to whichever operation is running. */
final class GroupWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillDiskB = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  var readTaskMs = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
  var writeTaskMs = 0L
  var sqlExecutions = 0
  var planS = 0.0
  /** Finish time of the group's last task to end, epoch ms. */
  var lastTaskEndMs = 0L
  /** (submit ms, end ms) per job, epoch clock. */
  val jobSpans = mutable.Map.empty[Int, (Long, Long)]
}

/** The benchmark's own SparkListener (installed only in traced runs). */
final class Trace extends SparkListener {
  private val groupKey = "spark.jobGroup.id"
  private val work = mutable.Map.empty[String, GroupWork]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val sqlGroup = mutable.Map.empty[Long, String]
  private var unattributed = 0L

  private def of(g: String): GroupWork = work.getOrElseUpdate(g, new GroupWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(groupKey))).foreach { g =>
      jobGroup(e.jobId) = g
      e.stageIds.foreach(stageGroup(_) = g)
      val w = of(g)
      w.jobs += 1
      w.jobSpans(e.jobId) = (e.time, Long.MaxValue)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.get(e.jobId).foreach { g =>
      val spans = of(g).jobSpans
      spans.get(e.jobId).foreach { case (s, _) => spans(e.jobId) = (s, e.time) }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId) match {
      case None => unattributed += 1
      case Some(g) =>
        val w = of(g)
        w.tasks += 1
        if (e.taskInfo != null) w.lastTaskEndMs = math.max(w.lastTaskEndMs, e.taskInfo.finishTime)
        val m = e.taskMetrics
        if (m != null) {
          w.runMs += m.executorRunTime
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          w.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          w.spillDiskB += m.diskBytesSpilled
          val info = e.taskInfo
          if (info != null && info.finishTime > 0)
            w.schedDelayMs += math.max(0L, info.finishTime - info.launchTime -
              m.executorRunTime - m.executorDeserializeTime -
              m.resultSerializationTime - (if (info.gettingResult)
                info.finishTime - info.gettingResultTime else 0L))
          val in = m.inputMetrics
          if (in.recordsRead > 0) {
            w.recordsRead += in.recordsRead
            w.bytesRead += in.bytesRead
            w.readTaskMs += m.executorRunTime
          }
          val out = m.outputMetrics
          if (out.recordsWritten > 0) {
            w.recordsWritten += out.recordsWritten
            w.bytesWritten += out.bytesWritten
            w.writeTaskMs += m.executorRunTime
          }
        }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      s.jobGroupId.foreach { g =>
        sqlGroup(s.executionId) = g
        of(g).sqlExecutions += 1
      }
    }
    case end: SparkListenerSQLExecutionEnd =>
      val planS = Internals.planSeconds(end)
      synchronized { sqlGroup.get(end.executionId).foreach(of(_).planS += planS) }
    case _ =>
  }

  /** The work recorded for `group`, once every event posted so far has
    * been delivered (call [[Internals.drainListenerBus]] first). */
  def group(g: String): GroupWork = synchronized(work.getOrElse(g, new GroupWork))

  def unattributedTasks: Long = synchronized(unattributed)
}

object Trace {
  /** Total length of the union of `spans` clipped to [from, to]. */
  def covered(spans: Iterable[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = spans.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}
