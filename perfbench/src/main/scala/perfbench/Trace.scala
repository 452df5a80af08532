package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sinks.SolrJsonSink

/** A closed interval of work. `op` is the id of the benchmark operation it
  * belongs to; `parent` is the id of the span that caused it (0 = none). */
final case class Span(id: Long, parent: Long, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans recorded around calls into graft, kept in memory until the run
  * ends. Spans timed in this JVM use System.nanoTime; Spark listener events
  * carry wall-clock milliseconds and are mapped onto the same clock. */
object Spans {
  private val ids = new AtomicLong()
  val all = new ConcurrentLinkedQueue[Span]()
  @volatile var currentOp: Int = 0
  @volatile var currentOpSpan: Long = 0L
  private val nanoAtEpochMs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def nextId(): Long = ids.incrementAndGet()
  def fromEpochMs(ms: Long): Long = nanoAtEpochMs + ms * 1000000L

  def add(parent: Long, name: String, startNs: Long, endNs: Long,
          op: Int = currentOp): Long = {
    val id = nextId()
    all.add(Span(id, parent, op, name, startNs, endNs))
    id
  }

  /** Times `f` as a span named `name` under the current operation. */
  def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally add(currentOpSpan, name, t0, System.nanoTime())
  }

  /** Total length of the union of `intervals`, each clipped to [lo, hi). */
  def covered(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}

/** Solr post statistics of the timing transport; in local mode every task
  * runs inside this JVM, so one process-wide record serves all of them. */
object SolrPosts {
  val latenciesNs = new ConcurrentLinkedQueue[java.lang.Long]()
  val docs = new LongAdder
  val bytes = new LongAdder
  val retryPosts = new LongAdder
  private val inRetry = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  def reset(): Unit = {
    latenciesNs.clear(); docs.reset(); bytes.reset(); retryPosts.reset()
  }

  def record(url: String, body: String, ok: Boolean, t0: Long, t1: Long): Unit = {
    if (url.contains("commit=true")) return
    val n = countDocs(body)
    // SolrJsonSink re-posts a failed batch one doc at a time
    if (n > 1) inRetry.set(!ok) else if (inRetry.get) retryPosts.increment()
    latenciesNs.add(t1 - t0)
    docs.add(n)
    bytes.add(body.getBytes("UTF-8").length.toLong)
    Spans.add(Spans.currentOpSpan, "sinks.solr_post", t0, t1)
  }

  private val json = new com.fasterxml.jackson.core.JsonFactory()
  private def countDocs(body: String): Long = {
    val p = json.createParser(body)
    try {
      var depth = 0
      var n = 0L
      var t = p.nextToken()
      while (t != null) {
        t match {
          case com.fasterxml.jackson.core.JsonToken.START_OBJECT =>
            if (depth == 1) n += 1; depth += 1
          case com.fasterxml.jackson.core.JsonToken.START_ARRAY => depth += 1
          case com.fasterxml.jackson.core.JsonToken.END_OBJECT |
               com.fasterxml.jackson.core.JsonToken.END_ARRAY => depth -= 1
          case _ =>
        }
        t = p.nextToken()
      }
      n
    } finally p.close()
  }
}

/** Wraps graft's HTTP transport and times every POST. */
final class TimingTransport(inner: SolrJsonSink.SolrTransport)
    extends SolrJsonSink.SolrTransport {
  def postJson(url: String, body: String): SolrJsonSink.Response = {
    val t0 = System.nanoTime()
    val resp = inner.postJson(url, body)
    SolrPosts.record(url, body, resp.status >= 200 && resp.status < 300, t0, System.nanoTime())
    resp
  }
}

/** Records what Spark did during the traced operations of the loop: jobs,
  * stages, tasks, SQL executions and their planning phases. Untraced
  * operations in between get an operation span only. */
final class Tracer(spark: SparkSession, cores: Int) extends SparkListener with QueryExecutionListener {
  private final case class StageAgg(var runMs: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0,
      var inBytes: Long = 0, var inRecords: Long = 0, var outBytes: Long = 0,
      var shWrite: Long = 0, var shRead: Long = 0, var spill: Long = 0,
      durations: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer(), var name: String = "")

  private val jobStarts = mutable.Map[Int, (Long, Option[Long], Seq[Int])]()
  private val jobs = mutable.ArrayBuffer[(Int, Long, Long, Option[Long], Seq[Int])]()
  private val stageSpans = mutable.ArrayBuffer[(Int, Long, Long)]()
  private val stages = mutable.Map[Int, StageAgg]()
  private val execStarts = mutable.Map[Long, (Long, Boolean)]()
  private val execs = mutable.ArrayBuffer[(Long, Long, Long)]()
  private val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  private val ops = mutable.ArrayBuffer[Span]()
  @volatile private var recording = false

  private var startNs = 0L
  private var stopNs = 0L
  private var tracedNs = 0L
  private var gcTotalMs = 0L
  private var jitTotalMs = 0L
  private var compiles = 0L
  private var compileMs = 0L
  private var compileExact = true

  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def start(t: Long): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    SolrPosts.reset()
    Spans.all.clear()
    startNs = t
  }

  def stop(t: Long): Unit = stopNs = t

  private def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)

  /** Runs one benchmark operation as a span. A traced operation records
    * its Spark events and JVM counters; the listener bus is drained on
    * both sides of it, outside the operation's own interval. */
  def operation[T](i: Int, kind: String, traced: Boolean)(f: => T): T = {
    val (gc0, jit0, compiles0, compileMs0) =
      if (traced) { setRecording(true); (gcMs, jitMs, compileCount, compileMsSum) }
      else (0L, 0L, 0L, 0L)
    val id = Spans.nextId()
    Spans.currentOp = i
    Spans.currentOpSpan = if (traced) id else 0L
    val t0 = System.nanoTime()
    try f finally {
      val s = Span(id, 0L, i, kind, t0, System.nanoTime())
      synchronized(ops += s)
      Spans.all.add(s)
      if (traced) {
        tracedNs += s.durNs
        gcTotalMs += gcMs - gc0
        jitTotalMs += jitMs - jit0
        compiles += compileCount - compiles0
        compileMs += compileMsSum - compileMs0
        setRecording(false)
      }
    }
  }

  // Spark records each codegen compile time (whole ms) in a sampling
  // histogram. Until the JVM's compile count passes the sample size the
  // histogram holds every value, so the difference of its sums around an
  // operation is that operation's own compile time; past that point it is
  // a sample and the figure is withheld.
  private def compileHist = CodegenMetrics.METRIC_COMPILATION_TIME
  private def compileCount = compileHist.getCount
  private def compileMsSum: Long = {
    val values = compileHist.getSnapshot.getValues
    if (values.length.toLong != compileHist.getCount) compileExact = false
    values.sum
  }

  // ---- SparkListener ------------------------------------------------------
  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobStarts(e.jobId) = (Spans.fromEpochMs(e.time), exec, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, exec, stageIds) =>
      jobs += ((e.jobId, t0, Spans.fromEpochMs(e.time), exec, stageIds))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (recording) synchronized {
    val info = e.stageInfo
    for (a <- info.submissionTime; b <- info.completionTime)
      stageSpans += ((info.stageId, Spans.fromEpochMs(a), Spans.fromEpochMs(b)))
    stages.getOrElseUpdate(info.stageId, StageAgg()).name = info.name
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording && e.taskMetrics != null) synchronized {
    val m = e.taskMetrics
    val s = stages.getOrElseUpdate(e.stageId, StageAgg())
    s.runMs += m.executorRunTime
    s.cpuNs += m.executorCpuTime
    s.gcMs += m.jvmGCTime
    s.inBytes += m.inputMetrics.bytesRead
    s.inRecords += m.inputMetrics.recordsRead
    s.outBytes += m.outputMetrics.bytesWritten
    s.shWrite += m.shuffleWriteMetrics.bytesWritten
    s.shRead += m.shuffleReadMetrics.totalBytesRead
    s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    s.durations += e.taskInfo.duration
  }
  override def onOtherEvent(event: SparkListenerEvent): Unit = if (recording) synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        execStarts(e.executionId) = (Spans.fromEpochMs(e.time), e.rootExecutionId.forall(_ == e.executionId))
      case e: SparkListenerSQLExecutionEnd =>
        execStarts.remove(e.executionId).foreach { case (t0, root) =>
          if (root) execs += ((e.executionId, t0, Spans.fromEpochMs(e.time)))
        }
      case _ =>
    }
  }

  // ---- QueryExecutionListener ---------------------------------------------
  private def phasesOf(qe: QueryExecution): Unit = if (recording) synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += ((name, Spans.fromEpochMs(p.startTimeMs), Spans.fromEpochMs(p.endTimeMs)))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phasesOf(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phasesOf(qe)

  /** Jobs whose start falls inside [t0, t1) on the shared clock. */
  def jobsBetween(t0: Long, t1: Long): Int = { drain(); synchronized {
    jobs.count { case (_, s, _, _, _) => s >= t0 && s < t1 } +
      jobStarts.values.count { case (s, _, _) => s >= t0 && s < t1 }
  } }

  def setRecording(on: Boolean): Unit = { drain(); recording = on }

  /** Per-layer metrics of the traced loop, plus the operation tree's
    * reconciliation against the loop's wall time. */
  def loopMetrics(): (Map[String, Double], Map[String, Any]) = synchronized {
    val wallNs = (stopNs - startNs).toDouble
    val loopOps = ops.filter(s => s.startNs >= startNs && s.endNs <= stopNs).sortBy(_.startNs)
    def opOf(t: Long): Option[Span] = loopOps.find(o => t >= o.startNs && t < o.endNs)

    // span tree: operation -> phase (planning phases, exec) -> job -> stage
    val execIds = mutable.Map[Long, Long]()
    execs.foreach { case (eid, a, b) =>
      opOf(a).foreach(o => execIds(eid) = Spans.add(o.id, "exec", a, b, o.op))
    }
    phases.foreach { case (name, a, b) =>
      opOf(a).foreach(o => Spans.add(o.id, s"plans.$name", a, b, o.op))
    }
    val jobSpans = mutable.ArrayBuffer[(Long, Long, Long, Seq[Int])]()
    var unattributed = 0
    jobs.filter(j => j._2 >= startNs && j._2 < stopNs).foreach { case (_, a, b, exec, stageIds) =>
      opOf(a) match {
        case Some(o) =>
          jobSpans += ((Spans.add(exec.flatMap(execIds.get).getOrElse(o.id), "spark.job", a, b, o.op),
            a, b, stageIds))
        case None => unattributed += 1
      }
    }
    // a job lists every stage it depends on, also those an earlier job
    // already ran, so a stage belongs to the listing job that was running
    // when the stage was submitted
    var unattributedStages = 0
    stageSpans.foreach { case (sid, a, b) =>
      val job = jobSpans.filter(_._4.contains(sid)).find(j => j._2 <= a && a <= j._3)
      (opOf(a), job) match {
        case (Some(o), Some(j)) => Spans.add(j._1, "spark.stage", a, b, o.op)
        case _ => unattributedStages += 1
      }
    }

    // reconciliation. Operation self time plus the time its child spans
    // cover plus the gaps between operations equals the loop's wall time by
    // construction while operations run one at a time, so the ratio only
    // shows operations that overlap. What can fail is the tree below them:
    // every span, at every depth, must lie inside its parent, and every job
    // and stage of a traced operation must find its parent. Spark's events
    // carry milliseconds on another clock, so a span may leave its parent by
    // up to EscapeSlackNs before it counts as escaped. A job must start
    // inside its SQL execution but need only end inside its operation: Spark
    // stamps the end of a map-stage job (adaptive execution runs those) after
    // it wakes the thread that waits for it, and the end of a cancelled job
    // when its tasks stop, so either can trail the execution's end.
    val all = Spans.all.asScala.toSeq
    val byId = all.map(s => s.id -> s).toMap
    val loopIds = loopOps.map(_.id).toSet
    def rootOf(s: Span): Long =
      if (s.parent == 0L) s.id else byId.get(s.parent).map(rootOf).getOrElse(0L)
    val tree = all.filter(s => loopIds.contains(rootOf(s)))
    val byParent = tree.groupBy(_.parent)
    var selfNs = 0L
    var coveredNs = 0L
    loopOps.foreach { o =>
      val in = Spans.covered(byParent.getOrElse(o.id, Nil).map(k => (k.startNs, k.endNs)), o.startNs, o.endNs)
      coveredNs += in
      selfNs += o.durNs - in
    }
    var escapedNs = 0L
    var escapedSpans = 0
    tree.filter(_.parent != 0L).foreach { s =>
      val p = byId(s.parent)
      val end = if (p.name == "exec") byId(p.parent).endNs else p.endNs
      val out = s.durNs - Spans.covered(Seq((s.startNs, s.endNs)), p.startNs, end)
      escapedNs += out
      if (out > EscapeSlackNs) escapedSpans += 1
    }
    val bounds = startNs +: loopOps.flatMap(o => Seq(o.startNs, o.endNs)) :+ stopNs
    val gapsNs = bounds.grouped(2).map(g => math.max(0L, g(1) - g(0))).sum
    // share of the traced operations' wall time in which some task ran
    val stageNs = loopOps.map(o => Spans.covered(tree.filter(s => s.op == o.op && s.name == "spark.stage")
      .map(s => (s.startNs, s.endNs)), o.startNs, o.endNs)).sum
    val recon = Map("wall_s" -> wallNs / 1e9, "op_self_s" -> selfNs / 1e9,
      "op_children_s" -> coveredNs / 1e9, "gaps_s" -> gapsNs / 1e9,
      "reconciled_ratio" -> (selfNs + coveredNs + gapsNs) / wallNs,
      "escaped_s" -> escapedNs / 1e9, "escaped_spans" -> escapedSpans,
      "unattributed_jobs" -> unattributed, "unattributed_stages" -> unattributedStages,
      "tree_spans" -> tree.size, "operations" -> loopOps.size,
      "task_busy_wall_share" -> stageNs / tracedNs.toDouble)

    // job gaps: time inside a root SQL execution with no job running
    val gapS = execs.filter { case (_, a, b) => a >= startNs && b <= stopNs }.map { case (_, a, b) =>
      (b - a) - Spans.covered(jobs.map(j => (j._2, j._3)), a, b)
    }.sum / 1e9

    val st = stages.values.toSeq
    val inputStages = st.filter(_.inBytes > 0)
    val sinkStages = st.filter(s => s.outBytes > 0 || SinkStage.findFirstIn(s.name).isDefined)
    val taskRunS = st.map(_.runMs).sum / 1e3
    def median(xs: Seq[Long]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2).toDouble else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val skew = st.filter(_.durations.size >= 2).map { s =>
      s.durations.max / math.max(median(s.durations.toSeq), 1.0)
    }
    def phaseS(name: String) = phases.filter(p => p._2 >= startNs && p._2 < stopNs && p._1 == name)
      .map(p => p._3 - p._2).sum / 1e9
    val loopJobs = jobs.count(j => j._2 >= startNs && j._2 < stopNs)

    val m = Map[String, Double](
      "plans.analysis_s" -> phaseS("analysis"),
      "plans.optimization_s" -> phaseS("optimization"),
      "plans.planning_s" -> phaseS("planning"),
      "plans.codegen_compiles" -> compiles.toDouble,
      "spark.jobs" -> loopJobs.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.durations.size).sum.toDouble,
      "spark.job_gap_s" -> gapS,
      "spark.task_run_s" -> taskRunS,
      "spark.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> st.map(_.shWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> st.map(_.shRead).sum.toDouble,
      "spark.spill_bytes" -> st.map(_.spill).sum.toDouble,
      "spark.core_busy_ratio" -> taskRunS / (tracedNs / 1e9 * cores),
      "spark.stage_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max),
      "jvm.gc_pause_s" -> gcTotalMs / 1e3,
      "jvm.jit_s" -> jitTotalMs / 1e3,
      "sources.input_bytes" -> inputStages.map(_.inBytes).sum.toDouble,
      "sources.input_records" -> inputStages.map(_.inRecords).sum.toDouble,
      "sources.splits" -> inputStages.map(_.durations.size).sum.toDouble,
      "sources.scan_task_s" -> inputStages.map(_.runMs).sum / 1e3,
      "sinks.write_task_s" -> sinkStages.map(_.runMs).sum / 1e3,
      // parquet the loop wrote plus JSON it posted to Solr
      "sinks.output_bytes" -> (st.map(_.outBytes).sum + SolrPosts.bytes.sum).toDouble) ++
      (if (compileExact) Map("plans.codegen_compile_s" -> compileMs / 1e3) else Map.empty)
    (m, recon)
  }

  private val EscapeSlackNs = 2000000L

  /** Stages whose call site is one of graft's sink writers. */
  private val SinkStage = """at (SolrJsonSink|CorpusWriter|Writers|WarcWriter|WebDatasetWriter)\.scala""".r
}
