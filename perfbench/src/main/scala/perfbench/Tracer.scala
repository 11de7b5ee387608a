package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span collector for traced passes: Spark jobs, completed
  * stages (with their summed task metrics and per-task shuffle-read
  * spread) and every finished query execution (Catalyst phase times,
  * files written). Each record carries the span id of the op that was
  * running; the run drains the listener bus after every traced op, so
  * a record can only ever belong to the op it is tagged with. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var span: String = ""
  private val records = mutable.ArrayBuffer[String]()
  private val taskReads = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

  private def emit(kind: String, kv: (String, Any)*): Unit = {
    val line = Json.obj(("kind" -> kind) +: ("span" -> span) +: kv: _*)
    records.synchronized { records += line }
  }

  def drain(): Seq[String] = records.synchronized {
    val r = records.toList; records.clear(); r
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    emit("job_start", "job" -> e.jobId, "t_ms" -> e.time,
      "phase" -> Option(e.properties).map(_.getProperty(Main.PhaseProp)).orNull,
      "stage_ids" -> e.stageIds)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    emit("job_end", "job" -> e.jobId, "t_ms" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null)
    taskReads.synchronized {
      taskReads.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer())
        .+=(e.taskMetrics.shuffleReadMetrics.totalBytesRead)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val reads = taskReads.synchronized {
      taskReads.remove((si.stageId, si.attemptNumber())).map(_.sorted).getOrElse(Nil)
    }
    val tm = si.taskMetrics
    def m(f: => Long): Long = if (tm == null) 0L else f
    emit("stage", "stage" -> si.stageId, "tasks" -> si.numTasks,
      "submit_ms" -> si.submissionTime.getOrElse(-1L),
      "done_ms" -> si.completionTime.getOrElse(-1L),
      "run_ms" -> m(tm.executorRunTime), "cpu_ns" -> m(tm.executorCpuTime),
      "gc_ms" -> m(tm.jvmGCTime),
      "shuffle_write_b" -> m(tm.shuffleWriteMetrics.bytesWritten),
      "shuffle_read_b" -> m(tm.shuffleReadMetrics.totalBytesRead),
      "input_b" -> m(tm.inputMetrics.bytesRead),
      "output_b" -> m(tm.outputMetrics.bytesWritten),
      "task_read_max_b" -> reads.lastOption.getOrElse(0L),
      "task_read_median_b" -> (if (reads.isEmpty) 0L else reads(reads.size / 2)))
  }

  private def onQe(name: String, qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val files = scala.util.Try(qe.executedPlan.collect {
      case p => p.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum).getOrElse(0L)
    emit("qe", "name" -> name, "ok" -> ok,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"), "files" -> files)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onQe(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onQe(funcName, qe, ok = false)
}
