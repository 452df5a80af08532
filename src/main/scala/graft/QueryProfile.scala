package graft

import java.lang.management.ManagementFactory
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success, TaskKilled}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** One stage of a profiled execution: its summed executor run time. */
final case class StageCost(id: Int, name: String, runS: Double)

/** What one profiled execution cost, layer by layer.
  *
  *  - `constructS`: building the frame, including every Spark job that
  *    runs while it is built (`constructJobs` of them, counted per call
  *    site in `constructJobSites`: the site of the SQL action a job ran
  *    under, else the name of the job's last stage);
  *  - `execS`: the action on the built frame, split into `execInJobS`
  *    (some job of the action running) and `execGapS` (driver time
  *    between its jobs: re-planning, codegen, scheduling);
  *  - `planS`: the analysis, optimization and planning phases of the SQL
  *    executions that ran in the window. It overlaps construct and exec
  *    rather than adding to them.
  *
  * Stage, task and executor counters (`taskRunS`, `taskCpuS`, `taskGcS`,
  * input, shuffle, spill) sum over both phases. `spillBytes` is memory
  * plus disk spill. `failedTasks` counts the tasks that ended in an
  * exception or another failure; killed tasks are not counted. The
  * persisted-RDD counters are read before the build and after the
  * action; `codegenCompiles` and `processCpuS` are JVM-wide deltas over
  * the window.
  */
final case class QueryProfile(
    constructS: Double,
    planS: Double,
    execS: Double,
    execInJobS: Double,
    execGapS: Double,
    constructJobs: Long,
    constructJobSites: Map[String, Long],
    execJobs: Long,
    stages: Long,
    tasks: Long,
    failedTasks: Long,
    taskRunS: Double,
    taskCpuS: Double,
    taskGcS: Double,
    inputBytes: Long,
    inputRecords: Long,
    shuffleReadBytes: Long,
    shuffleReadRecords: Long,
    shuffleWriteBytes: Long,
    shuffleWriteRecords: Long,
    spillBytes: Long,
    persistedRddsBefore: Long,
    persistedBytesBefore: Long,
    persistedRddsAfter: Long,
    persistedBytesAfter: Long,
    codegenCompiles: Long,
    processCpuS: Double,
    topStages: Seq[StageCost]) {

  /** One JSON object keyed by the field names in snake_case. */
  def toJson: String = productElementNames.zip(productIterator).map {
    case (k, v) =>
      val value = v match {
        case cs: Seq[_] => cs.collect { case c: StageCost =>
          s"""{"id":${c.id},"name":"${QueryProfile.escape(c.name)}","run_s":${c.runS}}"""
        }.mkString("[", ",", "]")
        case m: Map[_, _] => m.toSeq.map { case (site, n) =>
          s""""${QueryProfile.escape(site.toString)}":$n"""
        }.mkString("{", ",", "}")
        case other => other.toString
      }
      "\"" + k.replaceAll("([A-Z])", "_$1").toLowerCase + "\":" + value
  }.mkString("{", ",", "}")
}

object QueryProfile {
  // SparkContext.SPARK_JOB_GROUP_ID, which Spark keeps private
  private val JobGroupKey = "spark.jobGroup.id"
  private val runs = new AtomicLong()
  private val JobWaitNs = 60L * 1000000000L
  // listener events carry wall-clock milliseconds; map them onto nanoTime
  private val nanoAtEpochMs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Build a frame with `build`, run `action` on it, and profile both.
    *
    * Each phase runs under its own job group, so every job, stage and
    * task is attributed by the group its job was submitted under, not by
    * when it ran; the caller's group is restored afterwards. Construct
    * and exec seconds cover exactly `build` and `action`: the storage
    * reads happen before `build` starts, and the listener-bus drain and
    * the closing storage read after `action` returns. The window closes
    * only once every job started inside it has ended, so a job that
    * outlives the action (an adaptive stage a replan dropped) is counted
    * with its tasks, failed ones included. */
  def run[F, A](spark: SparkSession, label: String)(build: => F)(action: F => A)
      : (A, QueryProfile) = {
    val sc = spark.sparkContext
    val rec = new Recorder(s"graft-profile-${runs.incrementAndGet()}:$label")
    val (rddsBefore, bytesBefore) = storage(sc)
    val outerGroup = sc.getLocalProperty(JobGroupKey)
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try {
      val compiles0 = codegenCompiles
      val cpu0 = processCpuNs
      val w0 = System.currentTimeMillis()
      sc.setLocalProperty(JobGroupKey, rec.constructGroup)
      val t0 = System.nanoTime()
      val built = build
      val t1 = System.nanoTime()
      sc.setLocalProperty(JobGroupKey, rec.execGroup)
      val out = action(built)
      val t2 = System.nanoTime()
      val w2 = System.currentTimeMillis()
      val compiles = codegenCompiles - compiles0
      val cpuNs = processCpuNs - cpu0
      ListenerBridge.drain(sc)
      rec.awaitJobs()
      val (rddsAfter, bytesAfter) = storage(sc)
      val profile = rec.synchronized {
        val inJobNs = covered(rec.execJobs.values.map { case (a, b) =>
          (nanoAtEpochMs + a * 1000000L,
           if (b < 0) t2 else nanoAtEpochMs + b * 1000000L)
        }, t1, t2)
        val planMs = rec.phases.collect {
          case (start, ms) if start >= w0 && start <= w2 => ms
        }.sum
        val st = rec.stages.values
        def sum(f: Stage => Long): Long = st.iterator.map(f).sum
        QueryProfile(
          constructS = (t1 - t0) / 1e9,
          planS = planMs / 1e3,
          execS = (t2 - t1) / 1e9,
          execInJobS = inJobNs / 1e9,
          execGapS = (t2 - t1 - inJobNs) / 1e9,
          constructJobs = rec.constructJobSites.values.sum,
          constructJobSites = rec.constructJobSites.toMap,
          execJobs = rec.execJobs.size,
          stages = st.size,
          tasks = sum(_.tasks),
          failedTasks = sum(_.failed),
          taskRunS = sum(_.runMs) / 1e3,
          taskCpuS = sum(_.cpuNs) / 1e9,
          taskGcS = sum(_.gcMs) / 1e3,
          inputBytes = sum(_.inputBytes),
          inputRecords = sum(_.inputRecords),
          shuffleReadBytes = sum(_.shuffleReadBytes),
          shuffleReadRecords = sum(_.shuffleReadRecords),
          shuffleWriteBytes = sum(_.shuffleWriteBytes),
          shuffleWriteRecords = sum(_.shuffleWriteRecords),
          spillBytes = sum(_.spillBytes),
          persistedRddsBefore = rddsBefore,
          persistedBytesBefore = bytesBefore,
          persistedRddsAfter = rddsAfter,
          persistedBytesAfter = bytesAfter,
          codegenCompiles = compiles,
          processCpuS = cpuNs / 1e9,
          topStages = rec.stages.toSeq.sortBy { case (id, s) => (-s.runMs, id) }
            .take(3).map { case (id, s) => StageCost(id, s.name, s.runMs / 1e3) })
      }
      (out, profile)
    } finally {
      sc.setLocalProperty(JobGroupKey, outerGroup)
      spark.listenerManager.unregister(rec)
      sc.removeSparkListener(rec)
    }
  }

  private final class Stage(val name: String) {
    var tasks, failed, runMs, cpuNs, gcMs, inputBytes, inputRecords, shuffleReadBytes,
      shuffleReadRecords, shuffleWriteBytes, shuffleWriteRecords, spillBytes = 0L
  }

  private final class Recorder(group: String)
      extends SparkListener with QueryExecutionListener {
    val constructGroup = s"$group/construct"
    val execGroup = s"$group/exec"
    val constructJobSites = mutable.Map.empty[String, Long]
    // construction SQL execution id -> call site of its action; adaptive
    // execution submits stage jobs from pool threads, whose own stage
    // names only say CompletableFuture
    private val actionSites = mutable.Map.empty[String, String]
    // exec job id -> (start, end) in epoch ms; end -1 until the job ends
    val execJobs = mutable.Map.empty[Int, (Long, Long)]
    // jobs of either phase that have started and not yet ended
    private val running = mutable.Set.empty[Int]
    val stages = mutable.Map.empty[Int, Stage]
    // (start epoch ms, duration ms) of every planning phase seen
    val phases = mutable.ArrayBuffer.empty[(Long, Long)]

    private def groupOf(p: Properties): String =
      Option(p).map(_.getProperty(JobGroupKey)).orNull

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = groupOf(e.properties)
      if (g == constructGroup || g == execGroup) running += e.jobId
      if (g == constructGroup) {
        val site = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(actionSites.get)
          .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption.fold("?")(_.name))
        constructJobSites(site) = constructJobSites.getOrElse(site, 0L) + 1
      } else if (g == execGroup) execJobs(e.jobId) = (e.time, -1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      execJobs.get(e.jobId).foreach { case (a, _) => execJobs(e.jobId) = (a, e.time) }
      if (running.remove(e.jobId)) notifyAll()
    }
    /** Block until every job seen starting has ended (bounded, so a job
      * that never ends cannot hang the caller). Task ends are posted
      * before their job's end, so they have been counted by then. */
    def awaitJobs(): Unit = synchronized {
      val deadline = System.nanoTime() + JobWaitNs
      while (running.nonEmpty && System.nanoTime() < deadline) wait(100)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if x.jobGroupId.contains(constructGroup) =>
        synchronized(actionSites(x.executionId.toString) = x.description)
      case _ =>
    }
    // a stage belongs to the group of the job that submitted it; a stage
    // an earlier job already ran is listed by later jobs but never
    // resubmitted, so it is not counted again
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val g = groupOf(e.properties)
      if (g == constructGroup || g == execGroup)
        stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(e.stageInfo.name))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (s <- stages.get(e.stageId)) e.reason match {
        case Success | _: TaskKilled =>
        case _ => s.failed += 1
      }
      for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    private def planned(qe: QueryExecution): Unit = synchronized {
      qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.durationMs)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planned(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      planned(qe)
  }

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  private def covered(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  private def storage(sc: SparkContext): (Long, Long) =
    (sc.getPersistentRDDs.size.toLong,
     sc.getRDDStorageInfo.iterator.map(i => i.memSize + i.diskSize).sum)

  private def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
    case _ => 0L
  }

  private def escape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
