package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One recorded interval. Times are epoch nanoseconds; the listener's
  * spans carry Spark's millisecond event times.
  */
final case class Span(id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "start_ns" -> startNs, "end_ns" -> endNs, "attrs" -> attrs)
}

/** Work the executor layer did for one job group. */
final class ExecAgg {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var scanBytes, scanRows = 0L
  val jobSpans = mutable.ArrayBuffer.empty[Span]
  val stageSpans = mutable.ArrayBuffer.empty[Span]

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuNs / 1e6,
    "gc_ms" -> gcMs, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "scan_bytes" -> scanBytes, "scan_rows" -> scanRows)
}

/** Planner and storage work seen while one operation was current. */
final class PlanAgg {
  var executions, aqeUpdates = 0L
  var analysisMs, optimizeMs, planMs, graftRulesNs = 0.0
  val blockRdds = mutable.Set.empty[Int]
  var blockBytes = 0L

  def toMap: Map[String, Any] = Map(
    "executions" -> executions, "aqe_updates" -> aqeUpdates,
    "analysis_ms" -> analysisMs, "optimize_ms" -> optimizeMs,
    "plan_ms" -> planMs, "graft_rules_ms" -> graftRulesNs / 1e6,
    "block_rdds" -> blockRdds.size, "block_bytes" -> blockBytes)
}

/** Listens to the scheduler, the block manager and query executions.
  *
  * Jobs, stages and tasks are attributed exactly through the job group:
  * the harness sets one group per batch operation, and a streaming
  * micro-batch's jobs carry its query id and batch id. Block updates and
  * query-execution events carry no group; they go to the operation that
  * is current when the listener sees them, which is exact only when the
  * harness drains the listener bus before it moves on (traced runs do).
  */
final class Recorder(spark: SparkSession, traced: Boolean)
    extends SparkListener with QueryExecutionListener {

  private val sc: SparkContext = spark.sparkContext
  private val execs = new ConcurrentHashMap[String, ExecAgg]()
  private val plans = new ConcurrentHashMap[String, PlanAgg]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobGroupOf = new ConcurrentHashMap[Int, String]()
  @volatile var current: String = ""

  private val ids = new java.util.concurrent.atomic.AtomicLong(1L << 40)
  def nextId(): Long = ids.incrementAndGet()

  sc.addSparkListener(this)
  if (traced) spark.listenerManager.register(this)

  /** Group of a streaming micro-batch's jobs. */
  def streamGroup(queryId: String, batchId: Long): String = s"$queryId:$batchId"

  private def groupOf(p: java.util.Properties): String =
    if (p == null) ""
    else Option(p.getProperty("streaming.sql.batchId")) match {
      case Some(b) => streamGroup(p.getProperty("sql.streaming.queryId"), b.toLong)
      case None => Option(p.getProperty("spark.jobGroup.id")).getOrElse("")
    }

  private def exec(g: String): ExecAgg = execs.computeIfAbsent(g, _ => new ExecAgg)
  private def plan(g: String): PlanAgg = plans.computeIfAbsent(g, _ => new PlanAgg)

  def execOf(g: String): ExecAgg = Option(execs.get(g)).getOrElse(new ExecAgg)
  def planOf(g: String): PlanAgg = Option(plans.get(g)).getOrElse(new PlanAgg)

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(sc)

  /** Runs `f`, the harness's own work (an output check), so that none of
    * it is attributed to the current operation: the events the operation
    * posted are drained first, and `f`'s jobs, executions and blocks go
    * to the group `Recorder.CheckGroup`.
    */
  def outside[A](f: => A): A = {
    drain()
    val op = current
    current = Recorder.CheckGroup
    sc.setJobGroup(Recorder.CheckGroup, "output check")
    try { val r = f; drain(); r }
    finally { sc.clearJobGroup(); current = op }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobGroupOf.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach { s => stageGroup.put(s, g); stageJob.put(s, e.jobId.toLong) }
    val a = exec(g)
    a.synchronized { a.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroupOf.remove(e.jobId)
    val t0 = jobStart.remove(e.jobId)
    if (g != null && t0 != null) {
      val a = exec(g)
      a.synchronized {
        a.jobSpans += Span(e.jobId.toLong, -1L, "exec.job",
          t0.longValue * 1000000L, e.time * 1000000L,
          Map("job_id" -> e.jobId))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val g = stageGroup.getOrDefault(si.stageId, "")
    val a = exec(g)
    a.synchronized {
      a.stages += 1
      if (traced) for (s <- si.submissionTime; c <- si.completionTime)
        a.stageSpans += Span(nextId(), stageJob.getOrDefault(si.stageId, -1L),
          "exec.stage", s * 1000000L, c * 1000000L,
          Map("stage_id" -> si.stageId, "tasks" -> si.numTasks))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = exec(stageGroup.getOrDefault(e.stageId, ""))
    a.synchronized {
      a.tasks += 1
      a.taskRunMs += m.executorRunTime
      a.taskCpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.scanBytes += m.inputMetrics.bytesRead
      a.scanRows += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    b.blockId match {
      case RDDBlockId(rdd, _) if b.storageLevel.isValid =>
        val p = plan(current)
        p.synchronized {
          p.blockRdds += rdd
          p.blockBytes += b.memSize + b.diskSize
        }
      case _ => ()
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate =>
      val p = plan(current)
      p.synchronized { p.aqeUpdates += 1 }
    case _ => ()
  }

  private val graftRules = Set(
    graft.plans.SemiJoinBuildDedup.ruleName,
    graft.plans.SemiJoinValueTransfer.ruleName)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val t = qe.tracker
    def phase(n: String): Double = t.phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val p = plan(current)
    p.synchronized {
      p.executions += 1
      p.analysisMs += phase("analysis")
      p.optimizeMs += phase("optimization")
      p.planMs += phase("planning")
      p.graftRulesNs += t.rules.collect {
        case (r, s) if graftRules(r) => s.totalTimeNs.toDouble }.sum
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  /** Bytes still held in block storage by the given RDDs. */
  def retainedBytes(rdds: scala.collection.Set[Int]): Long =
    if (rdds.isEmpty) 0L
    else sc.getRDDStorageInfo.filter(i => rdds(i.id))
      .map(i => i.memSize + i.diskSize).sum
}

object Recorder {
  val CheckGroup = "perfbench-check"
}
