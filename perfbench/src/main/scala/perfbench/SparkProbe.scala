package perfbench

import scala.collection.mutable

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts Spark work per job from outside the program: a listener the
  * benchmark registers itself. Each job keeps its wall interval, its
  * module (from the call site, see [[Trace.moduleOf]]) and the summed
  * task metrics of its stages. Callbacks run on the listener-bus thread
  * and lock the probe; the benchmark's thread reads after [[drain]]. */
final class SparkProbe extends SparkListener {

  final class Job(val id: Int, val startMs: Long, val module: String) {
    var endMs = -1L
    var stages = 0
    var tasks = 0L
    var failedTasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var recordsRead = 0L
    var bytesRead = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  /** SQL execution id -> module of the action that started it. Jobs of
    * one execution may run on pool threads (broadcasts, subqueries,
    * adaptive stages), whose own call site names no program frame. */
  private val executions = mutable.HashMap.empty[Long, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  @volatile private var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage (highest id) carries the call site of the action
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).orNull
    val exec = Option(e.properties).flatMap(p => Seq("spark.sql.execution.root.id",
        "spark.sql.execution.id").flatMap(k => Option(p.getProperty(k))).headOption)
      .flatMap(id => executions.get(id.toLong))
    val module = Trace.moduleOf(site) match {
      case "none" => exec.getOrElse("none")
      case m => m
    }
    jobs(e.jobId) = new Job(e.jobId, e.time, module)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    events += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    job(e.stageInfo.stageId).foreach(_.stages += 1)
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    job(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != TaskSuccess) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.recordsRead += m.inputMetrics.recordsRead
        j.bytesRead += m.inputMetrics.bytesRead
      }
    }
    events += 1
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executions(x.executionId) = Trace.moduleOf(x.details)
    }
    case _ =>
  }

  private def job(stageId: Int): Option[Job] = stageJob.get(stageId).flatMap(jobs.get)

  /** Wait until every started job has ended and the bus has gone quiet,
    * so the benchmark's thread reads complete counts. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
        (last != events || synchronized(jobs.values.exists(_.endMs < 0)))) {
      last = events
      Thread.sleep(100)
    }
  }
}
