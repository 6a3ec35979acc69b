package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters gathered by [[LayerTrace]] over one traced pass. */
final class LayerStats {
  var schemaJobs = 0L; var schemaS = 0.0
  var constructJobs = 0L
  var loopJobs = 0L; var loopS = 0.0
  var catalystS = 0.0
  var jobs = 0L; var stages = 0L; var tasks = 0L; var waitS = 0.0
  var taskRunS = 0.0; var taskCpuS = 0.0
  var shuffleWriteB = 0L; var shuffleReadB = 0L; var fetchWaitS = 0.0; var spillB = 0L
  var sinkCommitS = 0.0; var sinkBytes = 0L; var sinkFiles = 0L

  def toMap: Seq[(String, Double)] = Seq(
    "sources.schema_jobs" -> schemaJobs.toDouble, "sources.schema_s" -> schemaS,
    "construct.jobs" -> constructJobs.toDouble,
    "loop.jobs" -> loopJobs.toDouble, "loop.s" -> loopS,
    "catalyst.plan_s" -> catalystS,
    "sched.jobs" -> jobs.toDouble, "sched.stages" -> stages.toDouble,
    "sched.tasks" -> tasks.toDouble, "sched.wait_s" -> waitS,
    "exec.task_run_s" -> taskRunS, "exec.task_cpu_s" -> taskCpuS,
    "shuffle.write_mb" -> shuffleWriteB / 1e6, "shuffle.read_mb" -> shuffleReadB / 1e6,
    "shuffle.fetch_wait_s" -> fetchWaitS, "spill_mb" -> spillB / 1e6,
    "sink.write_s" -> sinkCommitS, "sink.out_mb" -> sinkBytes / 1e6,
    "sink.files" -> sinkFiles.toDouble)
}

/** The traced run's probe: a SparkListener for jobs, stages and tasks and a
  * QueryExecutionListener for the final action's planning and write. It is
  * attached only to traced passes; nothing inside graft is instrumented.
  *
  * Jobs are attributed to a layer by what Spark itself records on them: the
  * short call site (e.g. `parquet at SparkEntry.scala:32`) and
  * the harness's phase property, set on the calling thread around query
  * construction and around the final action.
  */
final class LayerTrace(sinkDir: String) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private var stats = new LayerStats
  private val jobInfo = mutable.Map.empty[Int, (Long, String)] // id -> (start ms, layer)
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]

  /** Returns the counters gathered since the last call and starts afresh;
    * call it only after the listener bus has drained. */
  def take(): LayerStats = synchronized { val s = stats; stats = new LayerStats; s }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // The result stage carries the job's short call site as its name.
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val construct = prop(LayerTrace.PhaseKey).contains(LayerTrace.Construct)
    stats.jobs += 1
    if (construct) stats.constructJobs += 1
    // A schema-inference (footer) job runs outside any SQL execution; a
    // parquet write has the same short call site but runs inside one.
    val layer =
      if (LayerTrace.ReadSite.matches(site) && prop("spark.sql.execution.id").isEmpty) "sources"
      else if (construct && LayerTrace.LoopSite.matches(site)) "loop"
      else ""
    layer match {
      case "sources" => stats.schemaJobs += 1
      case "loop"    => stats.loopJobs += 1
      case _         =>
    }
    jobInfo(e.jobId) = (e.time, layer)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (start, layer) =>
      val s = (e.time - start) / 1e3
      layer match {
        case "sources" => stats.schemaS += s
        case "loop"    => stats.loopS += s
        case _         =>
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stats.stages += 1
    val si = e.stageInfo
    stageSubmit((si.stageId, si.attemptNumber())) = si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    // the first task launch of a stage ends that stage's scheduling wait
    stageSubmit.remove((e.stageId, e.stageAttemptId)).foreach { submitted =>
      stats.waitS += math.max(0L, e.taskInfo.launchTime - submitted) / 1e3
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stats.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      stats.taskRunS += m.executorRunTime / 1e3
      stats.taskCpuS += m.executorCpuTime / 1e9
      stats.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      stats.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      stats.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
      stats.spillB += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val sink = isSinkWrite(qe.analyzed)
    if (sink || isNoopWrite(qe.analyzed)) synchronized {
      stats.catalystS += qe.tracker.phases.values.map(_.durationMs).sum / 1e3
      // the write node sits inside the adaptive plan, which the helper's
      // foreach descends into
      if (sink) foreach(qe.executedPlan) {
        case w: DataWritingCommandExec =>
          def metric(k: String) = w.metrics.get(k).map(_.value).getOrElse(0L)
          stats.sinkCommitS += (metric("taskCommitTime") + metric("jobCommitTime")) / 1e3
          stats.sinkBytes += metric("numOutputBytes")
          stats.sinkFiles += metric("numFiles")
        case _ =>
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def isNoopWrite(p: LogicalPlan): Boolean = p match {
    case w: V2WriteCommand => w.table.name == "noop-table"
    case _                 => false
  }

  private def isSinkWrite(p: LogicalPlan): Boolean = p match {
    case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString.contains(sinkDir)
    case _                                    => false
  }
}

object LayerTrace {
  /** Local property the harness sets on its thread around each phase. */
  val PhaseKey = "perfbench.phase"
  val Construct = "construct"
  val Action = "action"
  private val ReadSite = """(parquet|load) at .*""".r
  private val LoopSite = """\S+ at (AdaptiveLoop|Dedup|Centrality)\.scala:\d+""".r
}
