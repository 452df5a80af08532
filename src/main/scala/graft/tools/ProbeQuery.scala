package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

import graft.GraftSession

/** The standing anomaly diagnostic (grew out of the r15 x04 probe —
  * the tool that would have caught the in-session residue decay before
  * it shipped): run any set of registered queries back to back for N
  * passes and print, PER EXECUTION,
  *
  *  - wall time and per-stage executor time (top stages by cost),
  *  - `sc.getPersistentRDDs` count + persisted block memory/disk sizes
  *    BEFORE and AFTER (the residue axis: a count or byte total that
  *    climbs across executions is an operator stranding storage),
  *  - plan shape counters (broadcasts, exchanges, scans),
  *  - the JVM axis (new r17 — the instrument the r16 decay post-mortem
  *    lacked: two of its four causes were invisible to storage):
  *    per-execution deltas of janino codegen compilations + generated
  *    bytecode (`CodegenMetrics`), classes loaded, and JIT compile time.
  *    A codegen-cache thrash shows as a compile count that KEEPS
  *    climbing on pass 2+ (steady state should re-compile ~nothing);
  *    a deopt convoy shows as JIT ms climbing while compiles stay flat.
  *    Reproduce the thrash signature on demand with
  *    `SPARK_GRAFT_CODEGEN_CACHE=2` (GraftSession override),
  *
  * so a pass-2 slowdown can be attributed: residue (persisted sizes
  * climb), plan drift (counters differ), JVM churn (compiles/class
  * loads climb), or a genuinely slow stage (its executor time dominates
  * both passes).
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.ProbeQuery x04_sitemap_index[,w02_...] [passes]"
  */
object ProbeQuery {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("x04_sitemap_index")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val passes = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = GraftSession.builder("probe-query",
      shufflePartitions = math.max(GraftSession.cores, 8)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sc = spark.sparkContext

    val stageTime = mutable.Map.empty[Int, Long]
    val stageName = mutable.Map.empty[Int, String]
    sc.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stageTime.synchronized {
          stageTime(e.stageId) = stageTime.getOrElse(e.stageId, 0L) +
            e.taskMetrics.executorRunTime
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageName.synchronized {
          stageName(e.stageInfo.stageId) = e.stageInfo.name.take(120)
        }
    })

    def storage(): (Int, Long, Long) = {
      val rdds = sc.getPersistentRDDs
      val infos = sc.getRDDStorageInfo
      (rdds.size, infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
    }
    def fmtStorage(s: (Int, Long, Long)): String =
      f"${s._1}%3d persisted RDDs, mem ${s._2 / 1e6}%9.1f MB, disk ${s._3 / 1e6}%9.1f MB"

    // JVM axis: (janino compilations, generated classes, classes
    // loaded, JIT compile ms) — read as totals, printed as deltas
    import org.apache.spark.metrics.source.CodegenMetrics
    val clBean = java.lang.management.ManagementFactory.getClassLoadingMXBean
    val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
    def jvm(): (Long, Long, Long, Long) = (
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount,
      clBean.getTotalLoadedClassCount,
      if (jitBean != null && jitBean.isCompilationTimeMonitoringSupported)
        jitBean.getTotalCompilationTime else 0L)

    // CPU/GC axis (r18 — the instrument the x03 pass-2 adjudication
    // needed: its stage's executorRunTime inflated 5x with ZERO
    // residue/codegen/classload movement, which only GC debt or
    // hypervisor steal can explain): per-execution deltas of total GC
    // ms (all collector beans), GC count, and process CPU ms. Inflated
    // executorRunTime with flat process-CPU = the host stole the cores
    // (steal/contention); inflated run time WITH matching GC ms = the
    // prior load's tenured garbage landing on this query's
    // allocation-heavy stage; inflated run time with matching
    // process-CPU but flat GC = genuinely more compute (plan drift —
    // cross-check the stage counters).
    import scala.jdk.CollectionConverters._
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def cpuGc(): (Long, Long, Long) = (
      gcBeans.map(_.getCollectionTime).sum,
      gcBeans.map(_.getCollectionCount).sum,
      osBean match {
        case o: com.sun.management.OperatingSystemMXBean =>
          o.getProcessCpuTime / 1000000L
        case _ => 0L
      })

    for (pass <- 1 to passes; name <- names) {
      val before = storage()
      val jvmBefore = jvm()
      val cpuGcBefore = cpuGc()
      stageTime.synchronized(stageTime.clear())
      stageName.synchronized(stageName.clear())
      // construction INSIDE the timer (the Bench runOnce shape): many
      // operators run their work — internal actions, eager
      // residue-releasing materializations — at construction time, and
      // a write-only timer would report block-read times instead
      val t0 = System.nanoTime()
      val frame = graft.SparkEntry.queries(name)(spark, d)
      frame.write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      if (pass == 1) {
        val plan = frame.queryExecution.executedPlan.toString
        // shuffles print as bare "Exchange hashpartitioning(...)" (the
        // node name is Exchange, never ShuffleExchange) — the negative
        // lookbehind keeps broadcasts out of the shuffle count
        System.err.println(s"[probe] $name plan: " +
          "broadcasts=" + "BroadcastExchange".r.findAllIn(plan).size +
          " exchanges=" + "(?<!Broadcast)Exchange".r.findAllIn(plan).size +
          " scans=" + "FileScan".r.findAllIn(plan).size)
      }
      val after = storage()
      val jvmAfter = jvm()
      System.err.println(f"[probe] pass $pass $name%-28s wall $wall%7.2f s")
      System.err.println(s"[probe]   storage before: ${fmtStorage(before)}")
      System.err.println(s"[probe]   storage after : ${fmtStorage(after)}")
      System.err.println(
        f"[probe]   jvm: +${jvmAfter._1 - jvmBefore._1}%4d codegen compiles, " +
          f"+${jvmAfter._2 - jvmBefore._2}%5d generated classes, " +
          f"+${jvmAfter._3 - jvmBefore._3}%5d classes loaded, " +
          f"+${jvmAfter._4 - jvmBefore._4}%5d JIT ms")
      val cpuGcAfter = cpuGc()
      System.err.println(
        f"[probe]   cpu/gc: +${cpuGcAfter._3 - cpuGcBefore._3}%7d process-CPU ms, " +
          f"+${cpuGcAfter._1 - cpuGcBefore._1}%6d GC ms, " +
          f"+${cpuGcAfter._2 - cpuGcBefore._2}%4d GC cycles " +
          f"(wall-CPU parity ${ (cpuGcAfter._3 - cpuGcBefore._3) / 1000.0 / (wall * 32) }%5.2f of 32 cores)")
      val top = stageTime.synchronized(stageTime.toSeq).sortBy(-_._2).take(8)
      top.foreach { case (id, ms) =>
        System.err.println(f"[probe]   stage $id%5d ${ms / 1000.0}%8.1f s  " +
          stageName.synchronized(stageName.getOrElse(id, "?")))
      }
    }
    System.err.println(s"[probe] final storage: ${fmtStorage(storage())}")
    spark.stop()
  }
}
