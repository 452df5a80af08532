package org.apache.spark.sql.graftbridge

import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of the `localCheckpoint`s and `persist`s an operator
  * builds for itself and frees before it returns.
  *
  * Why frees are explicit. A local checkpoint's blocks go only when its
  * RDD is garbage-collected and the asynchronous ContextCleaner reaches
  * it, and a Dataset persist is held by the session's CacheManager with a
  * strong reference, so it never goes at all. On a long-lived session (a
  * many-query bench JVM, a cluster running curation jobs back to back)
  * every call that leaves either behind squeezes the unified memory pool
  * for all the work after it: that was the r15 decay, where repeated
  * bench passes ran 2× to 18× slower. So an operator frees its frames
  * itself, and an iterative one frees each superseded round as soon as
  * the next has materialized, which bounds peak storage to a round or two.
  *
  * Why a free waits. Adaptive execution cancels the query stages it has
  * submitted only when the query fails. A stage that a successful replan
  * drops (the other side of an anti-join whose left side came back empty,
  * say) keeps running as an orphan job after the action returns, and
  * dropping the blocks it reads fails it with
  * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`. Every job started inside a scope
  * carries the scope's job tag, and by the time the owner's thread frees
  * it has returned from every job it waited on, so any tagged job still
  * running then is an orphan: the free cancels it and waits until its
  * tasks have stopped before it drops a block.
  *
  * The rules: [[free]] is identity-keyed and idempotent, and ignores
  * frames the scope does not hold; [[retain]] frees every held frame it
  * is not given; when the body exits, by result or by throw, the scope
  * frees whatever it still holds except the frame the body returns. A
  * freed checkpoint can never run again (its lineage was truncated), so
  * free only what no later plan reads. Lazy checkpoints behind a lazy
  * frame an operator RETURNS are not held here; the ContextCleaner
  * reclaims them once the caller drops the frame.
  */
final class FrameScope private (spark: SparkSession) {
  private val tag = s"graft-frames-${FrameScope.ids.incrementAndGet()}"
  // held frames, each with whether it is a CacheManager persist
  private val held = mutable.ArrayBuffer.empty[(DataFrame, Boolean)]

  /** `df.localCheckpoint(eager, level)`, held by this scope. */
  def checkpoint(df: DataFrame, eager: Boolean = false,
                 level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    hold(df.localCheckpoint(eager, level), persisted = false)

  /** `df.persist(MEMORY_AND_DISK)`, held by this scope. */
  def persist(df: DataFrame): DataFrame =
    hold(df.persist(StorageLevel.MEMORY_AND_DISK), persisted = true)

  /** Free each of `dfs` that this scope still holds. */
  def free(dfs: Dataset[_]*): Unit =
    drop(held.filter { case (h, _) => dfs.exists(_ eq h) }.toSeq)

  /** Free every held frame except `keep`. */
  def retain(keep: Dataset[_]*): Unit =
    drop(held.filterNot { case (h, _) => keep.exists(_ eq h) }.toSeq)

  private def hold(df: DataFrame, persisted: Boolean): DataFrame = {
    held += ((df, persisted))
    df
  }

  private def drop(frames: Seq[(DataFrame, Boolean)]): Unit = if (frames.nonEmpty) {
    held.filterInPlace { case (h, _) => !frames.exists(_._1 eq h) }
    stopOrphans()
    frames.foreach {
      case (df, true) => df.unpersist(blocking = false)
      case (df, false) => df.queryExecution.analyzed
        .collect { case lr: LogicalRDD => lr.rdd }
        .foreach(_.unpersist(blocking = false))
    }
  }

  /** Cancel the jobs of this scope still running and wait until their
    * killed tasks have stopped. Adaptive execution submits a stage's job
    * from an exchange pool thread, so a stage it created just before it
    * finished can submit its job after a first cancel: the loop repeats
    * until no such thread is busy. Bounded, so one stuck task cannot
    * hang the operator. */
  private def stopOrphans(): Unit = {
    val sc = spark.sparkContext
    var stages = Seq.empty[Int]
    def unsettled: Boolean = {
      val orphans = Await.result(
        sc.cancelJobsWithTagWithFuture(tag, "their owner is freeing the frames they read"),
        FrameScope.MaxWait)
      if (orphans.nonEmpty) ListenerBridge.drain(sc)
      stages ++= orphans.flatMap(j => sc.statusTracker.getJobInfo(j.jobId)).flatMap(_.stageIds)
      orphans.nonEmpty || FrameScope.exchangeBusy() ||
        stages.exists(s => sc.statusTracker.getStageInfo(s).exists(_.numActiveTasks > 0))
    }
    val deadline = System.nanoTime() + FrameScope.MaxWait.toNanos
    while (unsettled && System.nanoTime() < deadline) {
      Thread.sleep(5)
      ListenerBridge.drain(sc)
    }
  }
}

object FrameScope {
  private val ids = new AtomicLong()
  private val MaxWait = Duration(60, TimeUnit.SECONDS)

  /** Whether a thread of the pools adaptive execution submits shuffle
    * and broadcast jobs from is running (an idle pool thread waits). */
  private def exchangeBusy(): Boolean = {
    var root = Thread.currentThread.getThreadGroup
    while (root.getParent != null) root = root.getParent
    val threads = new Array[Thread](root.activeCount * 2 + 16)
    threads.take(root.enumerate(threads, true)).exists { t =>
      val n = t.getName
      (n.startsWith("shuffle-exchange") || n.startsWith("broadcast-exchange")) &&
        (t ne Thread.currentThread) &&
        (t.getState == Thread.State.RUNNABLE || t.getState == Thread.State.BLOCKED)
    }
  }

  /** Run `body` with a new scope whose job tag marks every job started
    * inside it; free what the scope still holds when `body` exits. */
  def apply[A](spark: SparkSession)(body: FrameScope => A): A = {
    val scope = new FrameScope(spark)
    val sc = spark.sparkContext
    sc.addJobTag(scope.tag)
    try {
      val out = body(scope)
      scope.retain(Seq(out).collect { case d: Dataset[_] => d }: _*)
      out
    } catch {
      case t: Throwable =>
        try scope.retain() catch { case u: Throwable => t.addSuppressed(u) }
        throw t
    } finally sc.removeJobTag(scope.tag)
  }
}
