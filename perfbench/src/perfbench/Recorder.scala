package perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** JSON-ready ordered map (Jackson serialises java.util collections). */
object J {
  def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  def arr(xs: Iterable[Any]): JList[Any] = {
    val l = new JList[Any]()
    xs.foreach(l.add)
    l
  }
}

object SchedulerRecorder {
  /** Local property naming the `<pass>/<query>` that submitted a job. */
  val QueryTag = "perfbench.query"
}

/** Scheduler-side trace: one record per job (with its query tag) and per
  * stage attempt (task metrics summed per stage, task run times kept for
  * the skew metric), plus the running total of cached RDD block bytes.
  * Times are the events' own epoch milliseconds. Registered only in
  * traced passes.
  */
final class SchedulerRecorder extends SparkListener {
  private final class Stage(val id: Int, val attempt: Int) {
    var submitMs = 0L; var endMs = 0L
    var tasks = 0; var tasksFailed = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var spill = 0L
    var peakMem = 0L; var swBytes = 0L; var srBytes = 0L; var swRecords = 0L
    var fetchWaitMs = 0L; var inBytes = 0L; var inRows = 0L
    val taskRunMs = mutable.ArrayBuffer.empty[Long]
  }

  private val jobs = mutable.ArrayBuffer.empty[JMap[String, Any]]
  private val jobStart = mutable.Map.empty[Int, (Long, Seq[Int], String)]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val blocks = mutable.Map.empty[String, Long]
  private var cachedNow = 0L
  private var cachedPeak = 0L

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SchedulerRecorder.QueryTag)))
    jobStart(e.jobId) = (e.time, e.stageIds, tag.getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, sids, tag) =>
      jobs += J.obj("id" -> e.jobId, "start_ms" -> t0, "end_ms" -> e.time,
        "query" -> tag, "stage_ids" -> J.arr(sids))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stage(i.stageId, i.attemptNumber()).submitMs =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      if (s.submitMs == 0L) s.submitMs = i.submissionTime.getOrElse(0L)
      s.endMs = i.completionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    if (!e.taskInfo.successful) s.tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.taskRunMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.swBytes += m.shuffleWriteMetrics.bytesWritten
      s.swRecords += m.shuffleWriteMetrics.recordsWritten
      s.srBytes += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.inBytes += m.inputMetrics.bytesRead
      s.inRows += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      b.blockId match {
        case id: RDDBlockId =>
          val key = s"${b.blockManagerId.executorId}/$id"
          val size = b.memSize + b.diskSize
          cachedNow += size - blocks.getOrElse(key, 0L)
          if (size == 0L) blocks.remove(key) else blocks(key) = size
          cachedPeak = math.max(cachedPeak, cachedNow)
        case _ =>
      }
    }

  /** Peak cached bytes since the last call, restarting from the bytes
    * cached right now.
    */
  def takeCachedPeak(): Long = synchronized {
    val p = cachedPeak
    cachedPeak = cachedNow
    p
  }

  def jobsJson: JList[Any] = synchronized(J.arr(jobs.toList))

  def stagesJson: JList[Any] = synchronized(J.arr(stages.values.map { s =>
    J.obj("id" -> s.id, "attempt" -> s.attempt, "submit_ms" -> s.submitMs,
      "end_ms" -> s.endMs, "tasks" -> s.tasks,
      "tasks_failed" -> s.tasksFailed, "run_ms" -> s.runMs,
      "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "spill_bytes" -> s.spill,
      "peak_exec_mem" -> s.peakMem, "shuffle_write_bytes" -> s.swBytes,
      "shuffle_read_bytes" -> s.srBytes,
      "shuffle_records_written" -> s.swRecords,
      "fetch_wait_ms" -> s.fetchWaitMs, "input_bytes" -> s.inBytes,
      "input_rows" -> s.inRows, "task_run_ms" -> J.arr(s.taskRunMs))
  }.toList))
}

/** Catalyst-side trace: per planned execution, the QueryPlanningTracker
  * phases and the file writes of its final physical plan. A write outside
  * `resultsDir` is sink output (the `Sinks` layer).
  */
final class PlanRecorder(resultsDir: String)
    extends QueryExecutionListener {
  private val plans = mutable.ArrayBuffer.empty[JMap[String, Any]]

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> J.obj("start_ms" -> v.startTimeMs, "end_ms" -> v.endTimeMs)
    }
    // the benchmark's own result files are not sink output
    val writes = nodes(qe.executedPlan).filter {
      case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
        !c.outputPath.toUri.getPath.startsWith(resultsDir)
      case n => n.metrics.contains("numFiles") &&
        n.metrics.contains("numOutputBytes")
    }
    val wFiles = writes.map(metric(_, "numFiles")).sum
    val wBytes = writes.map(metric(_, "numOutputBytes")).sum
    synchronized {
      plans += J.obj("func" -> funcName, "duration_ns" -> durationNs,
        "phases" -> J.obj(phases.toSeq: _*),
        "write_files" -> wFiles, "write_bytes" -> wBytes)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         error: Exception): Unit = ()

  def json: JList[Any] = synchronized(J.arr(plans.toList))
}
