package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: Spark's public listener events as raw
  * JSON rows, tagged with the operation they belong to. The harness tags
  * its own thread with the local property [[Recorder.Tag]] (and
  * [[Recorder.Phase]]); jobs inherit it at submission, and stages and
  * tasks inherit it from their job. Jobs submitted from threads the
  * harness does not own (streaming micro-batches) take `defaultTag`.
  */
final class Recorder(defaultTag: String = null)
    extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Recorder._

  val jobs = new ConcurrentLinkedQueue[Json.Raw]()
  val stages = new ConcurrentLinkedQueue[Json.Raw]()
  val tasks = new ConcurrentLinkedQueue[Json.Raw]()
  val executions = new ConcurrentLinkedQueue[Json.Raw]()

  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, String, Long,
    Seq[Int])]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty(Tag)))
      .orElse(Option(defaultTag))
    tag.foreach { t =>
      e.stageIds.foreach(stageTag.put(_, t))
      val phase = props.flatMap(p => Option(p.getProperty(Phase)))
        .getOrElse("")
      jobInfo.put(e.jobId, (t, phase, e.time, e.stageIds))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (t, phase, start, sids) =>
      jobs.add(Json.obj("tag" -> t, "phase" -> phase,
        "id" -> e.jobId, "start_us" -> start * 1000L,
        "end_us" -> e.time * 1000L, "stages" -> sids))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageTag.get(si.stageId)).foreach { t =>
      stages.add(Json.obj("tag" -> t, "id" -> si.stageId,
        "attempt" -> si.attemptNumber(),
        "start_us" -> si.submissionTime.map(_ * 1000L),
        "end_us" -> si.completionTime.map(_ * 1000L)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { t =>
      val ti = e.taskInfo
      val m = e.taskMetrics
      if (m != null) tasks.add(Json.obj("tag" -> t,
        "launch_us" -> ti.launchTime * 1000L,
        "finish_us" -> ti.finishTime * 1000L,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "deser_ms" -> m.executorDeserializeTime,
        "ser_ms" -> m.resultSerializationTime,
        "getres_ms" -> (if (ti.gettingResult) ti.finishTime -
          ti.gettingResultTime else 0L),
        "sw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "sw_records" -> m.shuffleWriteMetrics.recordsWritten,
        "sr_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
    }

  /** Catalyst phase boundaries and scan metrics of every finished
    * Dataset action (the noop write, and eager actions in builders). */
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Seq(p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }
    val scans = collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def metric(name: String): Long =
      scans.flatMap(_.metrics.get(name)).map(_.value).sum
    executions.add(Json.obj("phases" -> phases,
      "scan_bytes" -> metric("filesSize"), "scan_ms" -> metric("scanTime")))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object Recorder {
  val Tag = "perfbench.tag"
  val Phase = "perfbench.phase"
}
