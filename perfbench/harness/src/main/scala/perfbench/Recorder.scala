package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart,
  SparkPlanGraph}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-job counters, summed from the job's task and stage events. */
final class JobRec(val id: Int, val group: String, val start: Long) {
  var end = -1L
  var ok = false
  var stages, tasks, failedTasks = 0L
  var runMs, waitMs, inBytes, inRows, shWrite, shRead = 0L
  var fetchWaitMs, spillBytes, outBytes, outRows = 0L
}

/** One streaming micro-batch, from a query progress event. */
final case class BatchRec(runId: String, batchId: Long, start: Long,
    triggerMs: Long, planMs: Long, walMs: Long, inputRows: Long)

/** The traced run's recorder: one SparkListener on the shared bus plus a
  * StreamingQueryListener on the main session. Streaming queries the
  * program starts in `newSession()` clones post their progress to the
  * shared bus only, so progress events arrive through both paths and
  * are kept once per (run, batch). Every callback runs on a listener
  * bus thread; readers drain the bus first (see [[Bus]]). */
final class Recorder extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val batches = mutable.LinkedHashMap.empty[(String, Long), BatchRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]
  val rddIds = mutable.HashSet.empty[Int]
  var blockBytes = 0L
  // accumulator ids of the "number of written files" SQL metric
  private val fileAccums = mutable.HashSet.empty[Long]
  var filesWritten = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new JobRec(e.jobId, group, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stageSubmit((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { s =>
        j.waitMs += math.max(0L, e.taskInfo.launchTime - s)
      }
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.inBytes += m.inputMetrics.bytesRead
        j.inRows += m.inputMetrics.recordsRead
        j.shWrite += m.shuffleWriteMetrics.bytesWritten
        j.shRead += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spillBytes += m.diskBytesSpilled
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRows += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        rddIds += b.blockId.asRDDId.get.rddId
        blockBytes += b.memSize + b.diskSize
      }
    }

  private def trackFileMetrics(plan: org.apache.spark.sql.execution.SparkPlanInfo)
      : Unit = SparkPlanGraph(plan).allNodes.foreach(_.metrics.foreach { m =>
    if (m.name == "number of written files") fileAccums += m.accumulatorId
  })

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => trackFileMetrics(s.sparkPlanInfo)
      case a: SparkListenerSQLAdaptiveExecutionUpdate =>
        trackFileMetrics(a.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) =>
          if (fileAccums.contains(id)) filesWritten += v
        }
      case p: StreamingQueryListener.QueryProgressEvent => progress(p)
      case _ => ()
    }
  }

  def progress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      def ms(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val key = (p.runId.toString, p.batchId)
      if (!batches.contains(key)) batches(key) = BatchRec(key._1, key._2,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        ms("triggerExecution"), ms("queryPlanning"),
        ms("walCommit") + ms("commitOffsets"), p.numInputRows)
    }

  /** Adds the recorded jobs, batches and totals to `json`. */
  def write(json: ObjectNode): Unit = synchronized {
    val js = json.putArray("jobs")
    jobs.values.foreach { j =>
      js.addObject().put("id", j.id).put("group", j.group)
        .put("start_ms", j.start).put("end_ms", j.end)
        .put("ok", if (j.ok) 1 else 0).put("stages", j.stages)
        .put("tasks", j.tasks).put("failed_tasks", j.failedTasks)
        .put("task_run_ms", j.runMs).put("task_wait_ms", j.waitMs)
        .put("input_bytes", j.inBytes).put("input_rows", j.inRows)
        .put("shuffle_write_bytes", j.shWrite)
        .put("shuffle_read_bytes", j.shRead)
        .put("fetch_wait_ms", j.fetchWaitMs).put("spill_bytes", j.spillBytes)
        .put("output_bytes", j.outBytes).put("output_rows", j.outRows)
    }
    val bs = json.putArray("batches")
    batches.values.foreach { b =>
      bs.addObject().put("run_id", b.runId).put("batch_id", b.batchId)
        .put("start_ms", b.start).put("trigger_ms", b.triggerMs)
        .put("plan_ms", b.planMs).put("wal_ms", b.walMs)
        .put("input_rows", b.inputRows)
    }
    json.put("persisted_rdds", rddIds.size).put("block_bytes", blockBytes)
      .put("files_written", filesWritten)
  }

  /** Receives progress of streams started on the main session. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress(e)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent)
        : Unit = ()
  }
}

/** Node counts of an executed plan, descending into adaptive plans,
  * query stages and subqueries. A reused exchange is not counted: it
  * runs no new shuffle. */
object PlanShape {
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
    QueryStageExec}
  import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
    ReusedExchangeExec, ShuffleExchangeLike}

  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** (exchanges, graft nodes) */
  def counts(p: SparkPlan): (Int, Int) = {
    val all = nodes(p)
    (all.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }, all.count(_.getClass.getName.startsWith("graft.")))
  }
}
