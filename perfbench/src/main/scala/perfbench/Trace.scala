package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A recorded span: one layer boundary crossed by one key of one pass.
  * Spans of one key share the key id `p<pass>/<key>`; `parent` names the
  * span that caused this one. Times are epoch milliseconds.
  */
final case class Span(id: String, parent: String, name: String,
    start: Long, end: Long)

/** Per-key counters at the scheduler, task, shuffle, scan and Catalyst
  * boundaries. Times are milliseconds unless named otherwise.
  */
final class KeyStats {
  var jobs, constructJobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, scanBytes, scanRows = 0L
  var analysisMs, optimizationMs, planningMs, queries = 0L
  val jobIvs = mutable.ArrayBuffer.empty[Intervals.Iv]
  val taskIvs = mutable.ArrayBuffer.empty[Intervals.Iv]
}

/** The benchmark's tracer: a `SparkListener` for jobs, stages and tasks and
  * a `QueryExecutionListener` for Catalyst phases. It is registered only for
  * traced passes. Jobs find their key through the `perfbench.key` and
  * `perfbench.phase` local properties the harness sets around each call;
  * query events are attributed to the current key, which is exact because
  * the harness drains the listener bus before the next key starts.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  val stats = mutable.LinkedHashMap.empty[String, KeyStats]
  @volatile var currentKey: String = ""
  /** When the current key's construction ended: queries that started
    * before it ran eagerly inside the registry function.
    */
  @volatile var constructEndMs: Long = Long.MaxValue

  private val jobOf = mutable.HashMap.empty[Int, (Int, String)] // stage -> (job, key)
  private val jobStart = mutable.HashMap.empty[Int, (Long, String, String)]

  private def statsOf(key: String) = stats.getOrElseUpdate(key, new KeyStats)

  def addSpan(s: Span): Unit = synchronized { spans += s }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val key = props.flatMap(p => Option(p.getProperty("perfbench.key"))).getOrElse(currentKey)
    val phase = props.flatMap(p => Option(p.getProperty("perfbench.phase"))).getOrElse("query")
    jobStart(e.jobId) = (e.time, key, phase)
    e.stageIds.foreach(s => jobOf(s) = (e.jobId, key))
    val st = statsOf(key)
    st.jobs += 1
    if (phase == "construct") st.constructJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, key, phase) =>
      statsOf(key).jobIvs += ((t0, e.time))
      spans += Span(s"$key/job${e.jobId}", s"$key/$phase", "job", t0, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val (job, key) = jobOf.getOrElse(si.stageId, (-1, currentKey))
    statsOf(key).stages += 1
    spans += Span(s"$key/stage${si.stageId}.${si.attemptNumber()}", s"$key/job$job",
      "stage", si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = jobOf.get(e.stageId).map(_._2).getOrElse(currentKey)
    val st = statsOf(key)
    st.tasks += 1
    if (!e.taskInfo.successful) st.failedTasks += 1
    st.taskIvs += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    Option(e.taskMetrics).foreach { m =>
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.scanBytes += m.inputMetrics.bytesRead
      st.scanRows += m.inputMetrics.recordsRead
    }
  }

  /** Catalyst phases of one query, from its planning tracker. `executed`
    * is false for the eager analysis of the DataFrame a registry function
    * returns, which no listener reports.
    */
  def recordPhases(key: String, qe: QueryExecution, parent: String,
      executed: Boolean = true): Unit = synchronized {
    val st = statsOf(key)
    if (executed) st.queries += 1
    qe.tracker.phases.foreach { case (phase, p) =>
      phase match {
        case "analysis" => st.analysisMs += p.durationMs
        case "optimization" => st.optimizationMs += p.durationMs
        case "planning" => st.planningMs += p.durationMs
        case _ =>
      }
      spans += Span(s"$parent/$phase#${spans.size}", parent, phase, p.startTimeMs, p.endTimeMs)
    }
  }

  private def executed(qe: QueryExecution): Unit = {
    val start = qe.tracker.phases.values.map(_.startTimeMs).minOption.getOrElse(Long.MaxValue)
    val phase = if (start < constructEndMs) "construct" else "query"
    recordPhases(currentKey, qe, s"$currentKey/$phase")
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    executed(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    executed(qe)
}
