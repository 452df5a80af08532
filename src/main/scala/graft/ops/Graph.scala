package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.FrameScope

/** Graph centrality over edge lists — the link-graph side of corpus
  * curation (PageRank-style quality priors for web-crawl corpora, as in
  * Common Crawl filtering pipelines).
  *
  * Shares [[Dedup.connectedComponents]]'s iterative discipline: per round
  * the plan is ONE equi-join (ranks ⋈ edges on src) plus ONE groupBy(dst)
  * partial-aggregated sum — shuffles carry (node, partial rank) pairs
  * only, never adjacency lists; a lazy localCheckpoint per round keeps
  * lineage flat so round k doesn't replay rounds 1..k-1.
  */
object Graph {

  /** Distinct (src, dst) edges with both ends non-null, held by `s`. */
  private def edgeSet(s: FrameScope, edges: DataFrame, srcCol: String,
                      dstCol: String): DataFrame =
    s.checkpoint(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct())

  /** PageRank by power iteration with damping:
    *
    *   pr'(v) = (1−d)/N + d·(Σ_{u→v} pr(u)/outdeg(u) + dangling/N)
    *
    * where `dangling` is the rank mass parked on nodes with no
    * out-edges, redistributed uniformly (the standard correction — rank
    * sums to 1 every round, pinned by GraphSpec). Nodes = distinct
    * src ∪ dst. Returns (id, rank). Duplicate edges count once.
    *
    * The dangling-mass total rides IN-PLAN as a broadcast one-row
    * aggregate (r18: it used to be a per-round driver collect — at
    * sf0.1 the ~2 driver-synchronized jobs per round were most of the
    * operator's wall time; the arithmetic is unchanged operation for
    * operation, so ranks stay bit-identical). Rounds chain as LAZY
    * checkpoints; every CheckpointEvery-th round (and the final one)
    * checkpoints EAGERLY, cascade-materializing the lazy rounds behind
    * it, after which those superseded frames are freed immediately
    * (r19: the r18 shape cascaded only at the END, holding all `iters`
    * checkpointed rank frames at peak — fine at sf10 but real storage
    * pressure and a wide executor-loss blast radius on a 100 TB-class
    * graph). Peak storage is now ≤ CheckpointEvery (id, rank) frames —
    * 16-byte rows, spillable — for ceil(iters/CheckpointEvery) driver
    * round-trips instead of 1 (and instead of the pre-r18 2·iters).
    * Iteration count is the convergence knob; 10 rounds lands within
    * ~1e-4 L1 of the fixpoint on graphs with d = 0.85. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val CheckpointEvery = 4
    require(iters >= 0, s"iters must be non-negative: $iters")
    require(damping >= 0.0 && damping < 1.0,
      s"damping must be in [0, 1): $damping")
    FrameScope(edges.sparkSession) { s =>
      val e = edgeSet(s, edges, srcCol, dstCol)
      val nodes = s.checkpoint(e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .distinct())
      val n = nodes.count()
      if (n == 0) edges.select(col(srcCol).as("id"), lit(0.0).as("rank")).limit(0)
      else {
        val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
        var ranks = nodes.withColumn("rank", lit(1.0 / n))
        for (i <- 1 to iters) {
          // rank mass on dangling nodes (no out-edges): a one-row aggregate
          // broadcast into the round's projection. coalesce: sum over an
          // empty anti-join is NULL = no dangling mass. The expression tree
          // mirrors the old driver arithmetic exactly —
          // ((1−d)/n + (d·dangling)/n) + d·coalesce(contrib, 0) — same IEEE
          // ops in the same order, so ranks are bit-identical to the
          // collect-per-round formulation (GraphSpec pins rank sums; the
          // d11 oracle pins every value).
          val dangling = ranks.join(outdeg, ranks("id") === outdeg("src"),
              "left_anti")
            .agg(coalesce(sum("rank"), lit(0.0)).as("_dang"))
          val share = ranks.join(outdeg, ranks("id") === outdeg("src"))
            .select(col("src").as("sid"), (col("rank") / col("deg")).as("share"))
          val contrib = e.join(share, e("src") === col("sid"))
            .select(col("dst").as("id"), col("share").as("c"))
            .groupBy("id").agg(sum("c").as("contrib"))
          // every CheckpointEvery-th round (and the final one) checkpoints
          // EAGERLY: its action cascade-materializes the lazy rounds behind
          // it, after which those frames are superseded and freed on the
          // spot — peak storage stays ≤ CheckpointEvery rank frames
          val eager = i == iters || i % CheckpointEvery == 0
          ranks = s.checkpoint(nodes
            .join(contrib, Seq("id"), "left")
            .crossJoin(broadcast(dangling))
            .select(col("id"),
              ((lit((1.0 - damping) / n)
                + lit(damping) * col("_dang") / lit(n.toDouble))
                + lit(damping) * coalesce(col("contrib"), lit(0.0)))
                .as("rank")), eager)
          if (eager) s.retain(e, nodes, ranks)
        }
        // zero rounds: the start frame reads `nodes`, which the scope frees
        if (iters == 0) ranks.localCheckpoint(true) else ranks
      }
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999): auth(v) = Σ_{u→v} hub(u),
    * hub(u) = Σ_{u→v} auth(v), each L1-normalized per round (L1, not the
    * textbook L2: the normalizer is then a plain sum — one scalar
    * aggregate — and normalization choice does not change the ranking).
    * Returns (id, hub, auth). Same per-round shape as [[pageRank]]: two
    * equi-join + groupBy-sum passes moving (node, partial score) pairs,
    * flat lineage via localCheckpoint, one O(1)-row driver scalar per
    * normalization. Nodes with no in-edges get auth 0 (and mirrored for
    * hubs) — they stay in the output. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 10): DataFrame = {
    require(iters >= 0, s"iters must be non-negative: $iters")
    FrameScope(edges.sparkSession) { s =>
      val e = edgeSet(s, edges, srcCol, dstCol)
      val nodes = s.checkpoint(e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .distinct())
      val n = nodes.count()
      if (n == 0)
        edges.select(col(srcCol).as("id"), lit(0.0).as("hub"), lit(0.0).as("auth"))
          .limit(0)
      else {
        var scores = nodes.withColumn("hub", lit(1.0 / n))
          .withColumn("auth", lit(1.0 / n))
        def normalized(df: DataFrame, c: String, total: Double): DataFrame =
          if (total == 0.0) df else df.withColumn(c, col(c) / lit(total))
        def scalarSum(df: DataFrame, c: String): Double =
          df.agg(sum(c)).collect()(0) match {
            case r if r.isNullAt(0) => 0.0
            case r => r.getDouble(0)
          }
        // Each half-round's UN-normalized frame is checkpointed and its
        // normalizer sum is the action that materializes it — the frame
        // then has 2-3 consumers (the opposite half-round, the round's
        // output) that re-read BLOCKS instead of re-executing the
        // join+agg chain. Without the checkpoint those consumers
        // recomputed the auth chain up to 4× per round (lazy plans fan
        // out, Spark shares nothing across actions). Superseded frames
        // are freed as soon as their single downstream materializes, as
        // in pageRank.
        for (i <- 1 to iters) {
          val auth2 = e.join(scores.select(col("id"), col("hub")),
              e("src") === col("id"))
            .groupBy(col("dst").as("aid")).agg(sum("hub").as("auth"))
          val authRaw = s.checkpoint(nodes.join(auth2, nodes("id") === col("aid"), "left")
            .select(nodes("id"), coalesce(col("auth"), lit(0.0)).as("auth")))
          val aTot = scalarSum(authRaw, "auth") // materializes authRaw (and scores_{i-1})
          // scores_{i-1}'s only consumer was auth2; the previous round's
          // raw frames fed scores_{i-1}'s now-complete materialization
          s.retain(e, nodes, scores, authRaw)
          val withAuth = normalized(authRaw, "auth", aTot)
          val hub2 = e.join(withAuth.select(col("id").as("aid"), col("auth")),
              e("dst") === col("aid"))
            .groupBy(col("src").as("hid")).agg(sum("auth").as("hub"))
          val hubRaw = s.checkpoint(nodes
            .join(hub2, nodes("id") === col("hid"), "left")
            .select(nodes("id"), coalesce(col("hub"), lit(0.0)).as("hub")))
          val hTot = scalarSum(hubRaw, "hub") // materializes hubRaw
          scores = s.checkpoint(normalized(hubRaw, "hub", hTot)
            .join(withAuth.withColumnRenamed("id", "_aid2"),
              col("id") === col("_aid2"))
            .select(col("id"), col("hub"), col("auth")), i == iters)
        }
        // zero rounds: the start frame reads `nodes`, which the scope frees
        if (iters == 0) scores.localCheckpoint(true) else scores
      }
    }
  }

  /** Min-hop BFS levels from a seed set — the recursive-CTE reachability
    * query (org charts, BOM explosion, link neighborhoods) that Spark
    * SQL cannot express natively. Returns (id, level): level 0 = seed,
    * k = shortest hop distance ≤ `maxHops`; unreachable nodes are
    * absent. Distance is exact because frontier k is built from an
    * anti-join against everything found at < k — a node is claimed by
    * its FIRST wave, so partition order can never skew levels.
    *
    * Scale shape (the [[pageRank]] round discipline): each hop is one
    * frontier⋈edges equi-join + distinct + anti-join against the
    * visited set — shuffles keyed on node ids, frontier-sized, never
    * corpus-sized; flat lineage via per-round localCheckpoint with
    * superseded rounds freed deterministically; the per-round emptiness
    * check is the one O(1) driver materialization and stops the loop as
    * soon as the frontier drains (maxHops is the runaway bound, not the
    * expected cost). */
  def bfsLevels(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, seedCol: String,
                maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be non-negative: $maxHops")
    FrameScope(edges.sparkSession) { s =>
      val e = edgeSet(s, edges, srcCol, dstCol)
      var visited = s.checkpoint(seeds.select(col(seedCol).as("id"))
        .filter(col("id").isNotNull).distinct()
        .withColumn("level", lit(0)))
      var frontier = visited
      var hop = 1
      // count()==0, not isEmpty (r19): on a LAZY localCheckpoint frame,
      // isEmpty's executeTake(1) job computes only the partitions the take
      // touches and the checkpoint machinery then launches a SECOND job
      // for the missing partitions (LocalRDDCheckpointData.doCheckpoint);
      // count() computes every partition in the one job — emptiness test
      // and full materialization share a single driver action per hop
      var drained = frontier.count() == 0L
      while (hop <= maxHops && !drained) {
        val next = s.checkpoint(frontier.join(e, frontier("id") === e("src"))
          .select(col("dst").as("id")).distinct()
          .join(visited, Seq("id"), "left_anti")
          .withColumn("level", lit(hop)))
        // the count materializes `next` (and, through the anti-join, the
        // current visited checkpoint) — every older round is dead
        drained = next.count() == 0L
        if (drained) s.free(next)
        else {
          s.retain(e, frontier, visited, next)
          visited = s.checkpoint(visited.union(next))
          frontier = next
          hop += 1
        }
      }
      visited.localCheckpoint(true) // eager: every held frame is dead after it
    }
  }
}
