package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** One wall clock for the whole harness: epoch milliseconds with
  * nanosecond-derived resolution, on the same base as Spark's listener
  * timestamps (System.currentTimeMillis). */
object Clock {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Per-(stage, attempt) task aggregates. */
final class StageAcc {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var deserMs = 0L; var gcMs = 0L
  var peakMem = 0L; var schedMs = 0L
  var shWriteBytes = 0L; var shWriteRecords = 0L; var shReadBytes = 0L; var shReadRecords = 0L
  var fetchWaitMs = 0L; var spillBytes = 0L; var inBytes = 0L; var inRecords = 0L
  val runTimes = mutable.ArrayBuffer.empty[Long]
}

/** The traced run's recorders, both through Spark's public listener APIs:
  * SparkListener (jobs, stages, task metrics, SQL execution start and end)
  * and QueryExecutionListener (QueryPlanningTracker phases, executed-plan
  * size). Everything is kept in memory and dumped once by [[snapshot]].
  *
  * One run alternates traced and untraced passes with the listeners
  * registered. Events reach the listeners asynchronously, so whether one
  * is recorded is decided from its own timestamp (job and SQL execution
  * start, stage submission, task launch, first planning phase), against
  * the traced windows [[open]] and [[close]] mark, and not from when it is
  * delivered. Streaming batches need no listener: every
  * StreamingQueryProgress stays readable from the query's recentProgress. */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile private var windows = Vector.empty[(Double, Double)]
  @volatile private var openSince = Double.NaN

  /** Start a traced window now. */
  def open(): Unit = openSince = Clock.ms

  /** End the open traced window now. */
  def close(): Unit = if (!openSince.isNaN) {
    windows :+= ((openSince, Clock.ms))
    openSince = Double.NaN
  }

  private def traced(t: Double): Boolean = {
    val o = openSince
    (!o.isNaN && t >= o) || windows.exists { case (a, b) => t >= a && t <= b }
  }

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long, Boolean)]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageAcc = mutable.HashMap.empty[(Int, Int), StageAcc]
  private val qes = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val execStarts = new ConcurrentHashMap[Long, java.lang.Long]()
  private val execs = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile private var marker: CountDownLatch = null

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
    if (group.contains(Probe.DrainGroup)) Option(marker).foreach(_.countDown())
    else if (traced(e.time))
      jobs.add(Map("job" -> e.jobId, "start" -> e.time, "stages" -> e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.add((e.jobId, e.time, e.jobResult == JobSucceeded))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    if (traced(s.submissionTime.getOrElse(0L).toDouble))
      stages.add(Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "submit" -> s.submissionTime.getOrElse(0L), "end" -> s.completionTime.getOrElse(0L),
        "tasks" -> s.numTasks, "failed" -> s.failureReason.isDefined))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && traced(info.launchTime.toDouble)) stageAcc.synchronized {
      val a = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.runTimes += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.deserMs += m.executorDeserializeTime
      a.gcMs += m.jvmGCTime
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      a.schedMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
      a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
      a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shReadRecords += m.shuffleReadMetrics.recordsRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
    }
  }

  /** SQL executions: the action's span is measured by Spark itself. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if traced(s.time.toDouble) =>
      execStarts.put(s.executionId, s.time)
    case x: SparkListenerSQLExecutionEnd =>
      Option(execStarts.remove(x.executionId)).foreach { t0 =>
        execs.add(Map("id" -> x.executionId, "start" -> t0.longValue, "end" -> x.time,
          "ok" -> x.errorMessage.isEmpty))
      }
    case _ =>
  }

  private def record(qe: QueryExecution, failed: Boolean, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Map("start" -> p.startTimeMs, "end" -> p.endTimeMs)
    }
    val began = if (phases.nonEmpty) phases.values.map(_("start")).min.toDouble
      else Clock.ms - durationNs / 1e6
    if (traced(began)) {
      val nodes = scala.util.Try(Probe.planNodes(qe.executedPlan)).getOrElse(0)
      qes.add(Map("begin" -> began, "phases" -> phases, "nodes" -> nodes, "failed" -> failed))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, failed = false, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, failed = true, 0L)

  /** Wait until every event posted before this call has been delivered:
    * listeners on one queue see events in posting order, so once a marker
    * job's start reaches this probe, all earlier events have. */
  def drain(spark: SparkSession): Unit = {
    val latch = new CountDownLatch(1)
    marker = latch
    val sc = spark.sparkContext
    sc.setJobGroup(Probe.DrainGroup, "listener drain marker", false)
    try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
    require(latch.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    marker = null
  }

  def snapshot(): Map[String, Any] = {
    val ends = jobEnds.asScala.map(t => t._1 -> t).toMap
    val js = jobs.asScala.toSeq.map { j =>
      val id = j("job").asInstanceOf[Int]
      j ++ Map("end" -> ends.get(id).map(_._2).getOrElse(0L),
        "ok" -> ends.get(id).exists(_._3))
    }
    val accs = stageAcc.synchronized(stageAcc.toMap)
    val ss = stages.asScala.toSeq.map { s =>
      val a = accs.getOrElse((s("stage").asInstanceOf[Int], s("attempt").asInstanceOf[Int]),
        new StageAcc)
      s ++ Map("n" -> a.tasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
        "deser_ms" -> a.deserMs, "gc_ms" -> a.gcMs, "peak_mem" -> a.peakMem,
        "sched_ms" -> a.schedMs, "sh_write_bytes" -> a.shWriteBytes,
        "sh_write_records" -> a.shWriteRecords, "sh_read_bytes" -> a.shReadBytes,
        "sh_read_records" -> a.shReadRecords, "fetch_wait_ms" -> a.fetchWaitMs,
        "spill_bytes" -> a.spillBytes, "in_bytes" -> a.inBytes,
        "in_records" -> a.inRecords, "run_times" -> a.runTimes.toSeq)
    }
    Map("jobs" -> js, "stages" -> ss, "qes" -> qes.asScala.toSeq,
      "execs" -> execs.asScala.toSeq)
  }
}

object Probe {
  val DrainGroup = "perfbench-drain"

  /** Executed-plan size, looking through adaptive wrappers and stages. */
  def planNodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other => 1 + other.children.map(planNodes).sum + other.subqueries.map(planNodes).sum
  }

  private val isoMs = (s: String) =>
    scala.util.Try(java.time.Instant.parse(s).toEpochMilli.toDouble).getOrElse(0.0)

  /** The fields of one micro-batch's progress the benchmark reads. */
  def compact(p: StreamingQueryProgress): Map[String, Any] = {
    val ops = p.stateOperators.toSeq
    val endOffset = p.sources.headOption.flatMap(s => Option(s.endOffset)).getOrElse("")
    Map(
      "name" -> p.name, "batch" -> p.batchId, "ts" -> isoMs(p.timestamp),
      "duration" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "rows" -> p.numInputRows,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_mem" -> ops.map(_.memoryUsedBytes).sum,
      "dropped" -> ops.map(_.numRowsDroppedByWatermark).sum,
      "end_files" -> "\\.gpb\"".r.findAllMatchIn(endOffset).size)
  }
}
