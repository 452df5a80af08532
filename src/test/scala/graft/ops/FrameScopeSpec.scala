package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.FrameScope

import graft.{QueryProfile, SparkSpec}

class FrameScopeSpec extends SparkSpec {

  private def checkpointRdds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }

  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  test("free is identity-keyed and idempotent; exit keeps only the returned frame") {
    var kept: DataFrame = null
    var dropped: Seq[Int] = Nil
    var cached: DataFrame = null
    val out = FrameScope(spark) { s =>
      val a = s.checkpoint(spark.range(0, 100, 1, 4).toDF(), eager = true)
      val b = s.checkpoint(spark.range(0, 50, 1, 4).toDF(), eager = true)
      cached = s.persist(spark.range(0, 10, 1, 2).toDF())
      cached.count(): Unit
      val ida = checkpointRdds(a)
      assert(ida.nonEmpty && ida.forall(persisted))
      s.free(a)
      s.free(a) // a second free of the same frame is a no-op
      s.free(spark.range(3).toDF()) // and so is a frame the scope never held
      assert(!ida.exists(persisted))
      dropped = ida
      kept = b
      b
    }
    assert(out eq kept)
    assert(checkpointRdds(out).forall(persisted), "the returned frame must survive the exit")
    assert(out.count() == 50)
    assert(cached.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "a held persist must be freed on exit")
    assert(!dropped.exists(persisted))
  }

  test("retain frees every held frame it is not given") {
    FrameScope(spark) { s =>
      val frames = (1 to 3).map(i =>
        s.checkpoint(spark.range(0, i * 10, 1, 2).toDF(), eager = true))
      s.retain(frames(1))
      assert(!checkpointRdds(frames(0)).exists(persisted))
      assert(checkpointRdds(frames(1)).forall(persisted))
      assert(!checkpointRdds(frames(2)).exists(persisted))
    }
  }

  test("the throw path frees every held frame and rethrows") {
    var ids: Seq[Int] = Nil
    val e = intercept[IllegalStateException] {
      FrameScope(spark) { s =>
        ids = checkpointRdds(s.checkpoint(spark.range(0, 10, 1, 2).toDF(), eager = true))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(ids.nonEmpty && !ids.exists(persisted))
  }

  test("a free cancels a job of its scope still running and waits for its tasks") {
    @volatile var outcome: Throwable = null
    val (_, p) = QueryProfile.run(spark, "orphan-cancel") {
      FrameScope(spark) { s =>
        val held = s.checkpoint(spark.range(0, 160, 1, 16).toDF(), eager = true)
        // a thread started inside the scope inherits its job tag, as the
        // pool threads adaptive execution submits stage jobs from do
        val orphan = new Thread(() =>
          try held.rdd.mapPartitions { it => Thread.sleep(300); it }.count(): Unit
          catch { case t: Throwable => outcome = t })
        orphan.start()
        while (spark.sparkContext.statusTracker.getActiveJobIds.isEmpty) Thread.sleep(5)
        s.free(held)
        orphan.join()
      }
      spark.range(1).toDF()
    }(_.count())
    assert(outcome != null && String.valueOf(outcome.getMessage).contains("cancel"),
      s"the still-running job must be cancelled, got $outcome")
    assert(p.failedTasks == 0, s"${p.failedTasks} tasks failed reading freed blocks")
  }

  // Regression: adaptive execution cancels the stages it submitted only
  // when the query fails. Here every batch row is an exact copy of a
  // prior row, so the survivor-id anti-join's left side comes back
  // empty and the replan drops the verify side, while that side's
  // candidate-reading stage may still have tasks to run. Freeing the
  // candidate checkpoint under it used to fail those tasks with
  // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. More shuffle partitions than the
  // session's 4 cores (as any production stage has) leave tasks pending
  // when the operator frees, and a batch spread over 128 partitions keeps
  // the left side running while the verify side starts; 20 repeats make
  // the race show.
  test("dedupAgainstSignatures: no task of the call fails after its frames are freed") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector.fill(3000)(rnd.alphanumeric.take(6).mkString)
    val bases = Vector.fill(12)(Vector.fill(200)(vocab(rnd.nextInt(vocab.size))))
    // each base text plus 40 one-word variants: every batch row's bands
    // collide with its variants, so the candidate set is never empty
    val prior = (for (g <- bases.indices; v <- 0 to 40) yield {
      val w = if (v == 0) bases(g) else bases(g).updated(rnd.nextInt(200), s"v$v")
      (g * 1000L + v, w.mkString(" "))
    }).toDF("doc_id", "text")
    val batch = bases.indices.map(g => (1000000L + g, bases(g).mkString(" ")))
      .toDF("doc_id", "text").repartition(128)
    val sigs = Dedup.signatures(prior, "doc_id", "text").localCheckpoint(true)
    val conf = spark.conf
    val saved = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled").map(k => k -> conf.get(k))
    conf.set("spark.sql.shuffle.partitions", "32")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try for (i <- 1 to 20) {
      val (survivors, p) = QueryProfile.run(spark, s"orphan-$i")(
        Dedup.dedupAgainstSignatures(batch, sigs, prior, "doc_id", "text"))(_.count())
      assert(survivors == 0L, "every batch row is an exact copy of a prior row")
      assert(p.failedTasks == 0,
        s"repeat $i: ${p.failedTasks} tasks failed after the operator freed its frames")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }
}
