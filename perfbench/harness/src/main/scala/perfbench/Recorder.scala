package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SQLExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

object Recorder {
  /** Local properties the harness sets around each query; Spark copies
    * them onto every job the query starts (broadcasts included). */
  val TagKey = "perfbench.tag"
  val PhaseKey = "perfbench.phase"
}

/** Records jobs, stage attempts (with their tasks' metrics summed) and,
  * when registered as a QueryExecutionListener, one row per SQL
  * execution. Listener callbacks run on Spark's bus threads; the maps
  * are concurrent and [[dump]] is called after the session stopped. */
final class Recorder extends SparkListener {

  private final class Job(val id: Int, val start: Long, val stages: Seq[Int],
      val tag: String, val phase: String, val site: String) {
    @volatile var end: Long = -1L
  }

  /** Per stage attempt: task count and summed task metrics. */
  private final class StageAgg(val stage: Int, val submitted: Long) {
    var completed = false
    val v = new Array[Long](StageAgg.fields.length)
  }
  private object StageAgg {
    val fields = Seq("tasks", "run_ms", "cpu_ns", "gc_ms", "deser_ms",
      "task_wait_ms", "shuffle_write_bytes", "shuffle_read_bytes",
      "fetch_wait_ms", "spill_mem_bytes", "spill_disk_bytes",
      "input_bytes", "input_records")
  }

  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stages = new ConcurrentHashMap[(Int, Int), StageAgg]
  private val execs = new ConcurrentLinkedQueue[Map[String, Any]]

  /** Call site of each SQL execution, taken when it starts on the thread
    * that ran the action; the jobs it starts may be submitted from
    * Spark's own threads (adaptive query stages), whose stacks hold no
    * engine frame. */
  private val execSites = new ConcurrentHashMap[Long, String]

  /** "module/File" of the innermost engine frame in a long call site,
    * e.g. "operators/Zorder" for an action in Zorder.scala; the
    * harness's own consume is "perfbench/Harness". Without an engine
    * frame: "other/<File>" after the short call site. */
  private def site(long: String, short: String): String = {
    def file(frame: String) =
      frame.dropWhile(_ != '(').drop(1).takeWhile(c => c != '.' && c != ':')
    long.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") || l.startsWith("perfbench.") =>
        val pkg = l.takeWhile(_ != '(').split('.').dropRight(2)
        val module = if (pkg.length >= 2 && pkg(0) == "graft") pkg(1) else pkg(0)
        s"$module/${file(l)}"
    }.getOrElse("other/" + short.split(" at ").last.takeWhile(_ != '.'))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execSites.put(s.executionId, site(s.details, s.description))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val result = e.stageInfos.sortBy(_.stageId).lastOption
    val where = prop(SQLExecution.EXECUTION_ID_KEY).toLongOption
      .flatMap(id => Option(execSites.get(id)))
      .getOrElse(site(result.map(_.details).getOrElse(""),
        result.map(_.name).getOrElse("unknown")))
    jobs.put(e.jobId, new Job(e.jobId, e.time, e.stageIds,
      prop(Recorder.TagKey), prop(Recorder.PhaseKey), where))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stages.putIfAbsent((i.stageId, i.attemptNumber()),
      new StageAgg(i.stageId, i.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get((e.stageInfo.stageId, e.stageInfo.attemptNumber())))
      .foreach(a => a.synchronized(a.completed = true))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stages.get((e.stageId, e.stageAttemptId))
    val m = e.taskMetrics
    if (a != null && m != null) a.synchronized {
      val sw = m.shuffleWriteMetrics
      val sr = m.shuffleReadMetrics
      val vals = Array(1L, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.executorDeserializeTime, math.max(0L, e.taskInfo.launchTime - a.submitted),
        sw.bytesWritten, sr.totalBytesRead, sr.fetchWaitTime,
        m.memoryBytesSpilled, m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
      var i = 0
      while (i < vals.length) { a.v(i) += vals(i); i += 1 }
    }
  }

  /** Per SQL execution: Catalyst phase times and a walk of the executed
    * (final adaptive) plan, subqueries included. */
  val execListener: QueryExecutionListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)

    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(k: String) = phases.get(k).map(_.durationMs).getOrElse(0L)
      val at = if (phases.isEmpty) System.currentTimeMillis()
        else phases.values.map(_.endTimeMs).max
      val plan: SparkPlan = qe.executedPlan
      var exchanges, broadcasts, wsc, scanFiles = 0L
      collectWithSubqueries(plan) { case n => n }.foreach {
        case _: ShuffleExchangeLike => exchanges += 1
        case _: BroadcastExchangeLike => broadcasts += 1
        case _: WholeStageCodegenExec => wsc += 1
        case s: FileSourceScanExec =>
          scanFiles += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case _ =>
      }
      execs.add(Map("at_ms" -> at, "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
        "exchanges" -> exchanges, "broadcasts" -> broadcasts,
        "wsc_stages" -> wsc, "scan_files" -> scanFiles))
    }
  }

  /** Everything recorded, as JSON-ready values. */
  def dump(): Map[String, Any] = {
    val stageJob = jobs.values.asScala.toSeq.sortBy(_.id)
      .flatMap(j => j.stages.map(_ -> j.id)).reverse.toMap
    Map(
      "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
        "id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end, "tag" -> j.tag,
        "phase" -> j.phase, "site" -> j.site)),
      "stages" -> stages.values.asScala.toSeq.sortBy(a => a.stage).map(a =>
        Map[String, Any]("stage" -> a.stage, "job" -> stageJob.getOrElse(a.stage, -1),
          "completed" -> a.completed) ++ StageAgg.fields.zip(a.v)),
      "execs" -> execs.asScala.toSeq)
  }
}
