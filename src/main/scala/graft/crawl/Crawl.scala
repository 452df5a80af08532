package graft.crawl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.FrameScope
import org.apache.spark.storage.StorageLevel

import graft.ops.TextAnalysis

/** The crawl loop CLOSED OVER DISCOVERY: bounded-depth BFS where the
  * edges are not a table but the web itself — fetch the frontier, parse
  * the fetched HTML for outlinks, resolve + canonicalize them, drop the
  * already-visited, and fetch the survivors as the next round. This is
  * the orchestrator a real corpus build runs on top of
  * [[Fetch.fetchFrontier]] (which owns politeness, retries, redirects,
  * robots re-gating); [[graft.ops.Graph.bfsLevels]] is the static-edge
  * sibling (levels over a KNOWN link table).
  *
  * 100 TB shape: every shuffle in the loop is keyed on URLs and carries
  * URL-SIZED rows only — link extraction happens in the same stage that
  * reads the fetched round (bodies never shuffle), the visited set is a
  * url-only frame, and the next frontier is `distinct ⋈ anti-join`
  * exactly like distributed BFS. Rounds are localCheckpoint barriers
  * (flat lineage — depth-d lineage would re-FETCH the whole crawl on a
  * retry), with superseded rounds freed deterministically
  * (FrameScope, the pageRank discipline) so a long crawl does not
  * strand storage. Depth and per-round frontier size are loud bounds:
  * the web is unbounded by construction, so an un-scoped crawl failing
  * fast beats one that OOMs the visited set three hours in.
  */
object Crawl {

  /** Runaway guard: a round's frontier exceeding this fails loudly with
    * a pointer at `scope` — mirroring Sampling.MaxMixGroups. At 100 TB
    * the visited set shards fine far beyond this, but a frontier
    * GROWING past it means the scope predicate is not actually bounding
    * the crawl, and every further round multiplies the damage. */
  val MaxFrontierPerRound: Long = 50000000L

  /** Canonicalized link urls of one fetched round, resolved against the
    * page's FINAL address: a page reached through redirects resolves its
    * relative links against the last hop target, not the request url
    * (`/a` redirected to `/docs/index.html` linking `x.html` means
    * `/docs/x.html`). `try_element_at` (never `element_at`): an empty
    * chain must read null under ANSI, not throw. */
  private def roundLinks(pages: DataFrame, scope: Column => Column): DataFrame =
    pages
      .select(
        coalesce(try_element_at(col("redirects"), lit(-1)), col("url")).as("base"),
        explode(TextAnalysis.htmlLinks(col("body").cast("string")))
          .as("link"))
      .select(TextAnalysis.canonicalUrl(
        TextAnalysis.resolveUrl(col("base"), col("link.url"))).as("url"))
      .filter(col("url").isNotNull &&
        (col("url").startsWith("http://") ||
          col("url").startsWith("https://")) &&
        scope(col("url")))
      .distinct()

  /** Every url a round's redirect chains passed THROUGH or landed on —
    * each was fetched (and the landing page archived under its original
    * request url), so all of them belong in the visited set: a link to a
    * redirect target must not re-fetch a page the crawl already has. */
  private def hopUrls(fetched: DataFrame): DataFrame =
    fetched
      .select(explode(col("redirects")).as("hop"))
      .select(TextAnalysis.canonicalUrl(col("hop")).as("url"))
      .filter(col("url").isNotNull).distinct()

  /** Per-host politeness high-water marks of one round's fetches
    * (`fetched_at` = 0 rows made no HTTP exchange and carry no mark). */
  private def roundMarks(fetched: DataFrame): DataFrame =
    fetched.filter(col("fetched_at") > 0L)
      .groupBy(col("domain"))
      .agg(max(col("fetched_at")).as("last_fetch_ms"))

  /** Fetched rows ([[FetchedRow]] columns) + `depth` (BFS hop at which
    * the URL was first discovered; seeds are depth 0). One row per
    * distinct canonical URL — a URL reachable from many parents fetches
    * once, at its minimum depth. With a per-host round cap
    * ([[Fetch.Config.maxPerHostPerRound]]) a capped host's overflow
    * URLs re-queue into the NEXT round's frontier (they archive at the
    * depth they are actually fetched, not discovered); overflow still
    * pending when `maxDepth` lands stays in the output as
    * status [[Fetch.StatusDeferred]] marker rows — nothing is silently
    * dropped, and re-running with a larger `maxDepth` picks them up.
    *
    * Storage shape: every round's archive localCheckpoints at
    * DISK_ONLY — executor MEMORY holds only the url-sized loop frames
    * (frontier / visited / marks); the body-sized rounds live on local
    * disk until the final union reads them back once. Peak memory is
    * therefore ~one round's working set, not the whole crawl; peak
    * DISK is the crawl itself (it is the return value). A corpus-sized
    * crawl still belongs on [[run]], which lands rounds on durable
    * storage and survives driver loss.
    *
    * @param seeds    frame with a `url` column (canonicalized here)
    * @param cfg      transport/politeness config, per [[Fetch.Config]]
    * @param maxDepth rounds past the seeds (0 = fetch seeds only)
    * @param scope    predicate over the canonical URL column gating
    *                 which discovered links enter the frontier (host
    *                 allowlists, path prefixes…). Seeds bypass it.
    * @param maxFrontierPerRound loud runaway bound, see
    *                 [[MaxFrontierPerRound]]
    */
  def bfs(seeds: DataFrame, cfg: Fetch.Config, maxDepth: Int,
          scope: Column => Column = _ => lit(true),
          maxFrontierPerRound: Long = MaxFrontierPerRound): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be non-negative: $maxDepth")
    require(maxFrontierPerRound >= 1,
      s"maxFrontierPerRound must be positive: $maxFrontierPerRound")

    FrameScope(seeds.sparkSession) { s =>
      var frontier = s.checkpoint(seeds
        .select(TextAnalysis.canonicalUrl(col("url")).as("url"))
        .filter(col("url").isNotNull).distinct())
      var visited = frontier
      var marks: DataFrame = null // accumulated (domain, last_fetch_ms)
      var archives = Vector.empty[DataFrame] // one fetched round per depth
      var depth = 0
      // round 0 always runs — on an empty seed set it fetches nothing and
      // the output is the (correctly-schemad) empty archive, total for free
      var drained = false
      while (depth <= maxDepth && !drained) {
        // EAGER: fetching is the externally-visible side effect — it must
        // run exactly once per round, here, not wherever a lazy plan
        // happens to first act on it (and never AGAIN on a downstream
        // re-execution: the checkpoint truncates lineage at the archive)
        // DISK_ONLY: the archive is read exactly twice (link extraction
        // now, the final union later) — body-sized blocks have no
        // business in storage memory squeezing the execution pool
        val fetched = s.checkpoint(Fetch.fetchFrontier(frontier, cfg)
          .withColumn("depth", lit(depth)), eager = true, StorageLevel.DISK_ONLY)
        archives :+= fetched
        if (depth == maxDepth) drained = true
        else {
          val pages = fetched
            .filter(col("status").between(200, 299) &&
              col("content_type").startsWith("text/html"))
          // visited ∪ this round's hop urls gates discovery; the union is
          // what future rounds must remember, so it IS the next visited
          val seen = s.checkpoint(visited.union(hopUrls(fetched)))
          // accumulated politeness floors: max mark per host across all
          // rounds so far — a host resurfacing rounds later still waits
          // out its crawl-delay from its LAST actual fetch. Only when a
          // delay is actually configured: inside the loop the only
          // politeness source is cfg.defaultDelayMs (discovered
          // frontiers carry no crawl_delay_ms column), so with no delay
          // the floors would join as dead weight — one aggregation
          // shuffle per round for a column [[Fetch]] would ignore.
          val newMarks =
            if (cfg.defaultDelayMs <= 0) null
            else s.checkpoint(if (marks == null) roundMarks(fetched)
              else marks.unionByName(roundMarks(fetched))
                .groupBy(col("domain"))
                .agg(max(col("last_fetch_ms")).as("last_fetch_ms")))
          val discovered = roundLinks(pages, scope)
            .join(seen, Seq("url"), "left_anti")
          // cap-deferred overflow re-queues here: already visited (it
          // was in THIS round's frontier), so disjoint from the
          // anti-joined links; scope does not re-apply (it was already
          // admitted once)
          val fresh =
            if (cfg.maxPerHostPerRound <= 0) discovered
            else discovered.unionByName(
              fetched.filter(col("status") === Fetch.StatusDeferred)
                .select("url"))
          val next = s.checkpoint(
            if (newMarks == null) fresh
            else fresh
              .withColumn("domain", Fetch.urlDomain(col("url")))
              .join(newMarks, Seq("domain"), "left")
              .select(col("url"), col("domain"), col("last_fetch_ms")))
          val n = next.count() // materializes; doubles as the runaway gauge
          drained = n == 0L
          if (n > maxFrontierPerRound)
            throw new IllegalArgumentException(
              s"crawl frontier exploded: round ${depth + 1} discovered $n new " +
                s"URLs (bound $maxFrontierPerRound). Tighten `scope` (host " +
                "allowlist / path prefix) or raise maxFrontierPerRound if the " +
                "storage budget genuinely covers it.")
          if (drained) s.free(next, seen, newMarks)
          else {
            val nextVisited = s.checkpoint(visited.union(next.select("url"))
              .union(hopUrls(fetched)))
            // this round's frames are materialized: the round before it,
            // and `seen` (superseded by nextVisited), are dead
            s.retain(archives ++ Seq(frontier, visited, marks, next, newMarks,
              nextVisited): _*)
            visited = nextVisited
            marks = newMarks
            frontier = next
          }
        }
        depth += 1
      }
      // EAGER final materialization; the scope then frees every loop
      // frame — the per-round archives, the frontier/visited chain — on
      // this path and on a throw (frontier explosion, a failed round),
      // where the stranded frames are by definition the biggest of the
      // crawl. Mid-crawl, cap-deferred rows leave the archive (they
      // re-fetch next round — keeping them would duplicate their url);
      // at the final depth they stay as status-marker rows.
      archives.zipWithIndex.map { case (fetched, d) =>
        if (cfg.maxPerHostPerRound > 0 && d < maxDepth)
          fetched.filter(col("status") =!= Fetch.StatusDeferred)
        else fetched
      }.reduce(_ unionByName _).localCheckpoint(true)
    }
  }

  /** The RESTARTABLE production form of [[bfs]]: each round's archive
    * goes straight to disk through [[Fetch.run]]'s batch commit-log
    * (exactly-once WARC under `outDir/round_<d>/`), each round's
    * frontier is persisted as parquet BEFORE fetching
    * (`outDir/_crawl/frontier_<d>/` — the resume identity
    * [[Fetch.run]]'s plan fingerprint verifies), and link extraction
    * reads the round's archive back from disk. Re-running a crashed
    * crawl with the same `outDir` therefore resumes at the first
    * unfinished batch of the first unfinished round and never re-fetches
    * a committed batch — a multi-hour 100 TB crawl survives driver loss
    * with bounded re-work, where [[bfs]] (checkpoint-barrier rounds in
    * executor storage) would restart from the seeds.
    *
    * Semantics match [[bfs]] (min-depth, one fetch per distinct
    * canonical URL, redirect-aware link resolution and visited set,
    * cross-round politeness floors, `scope`/`maxFrontierPerRound`
    * gates, per-host-cap overflow re-queued into the next round —
    * overflow still pending when `maxDepth` lands stays visible as
    * status [[Fetch.StatusDeferred]] rows in the final round's audit,
    * and re-running the same outDir with a larger `maxDepth` fetches
    * it). Archives land per ROUND, so depth is the directory, not a
    * column; `curate.stream` can watch any round dir. Each round also
    * persists an AUDIT sidecar (`_crawl/audit_<d>/`, every fetched row
    * minus the body — the [[Fetch.run]] `auditDir` contract) and a
    * FAILURE tombstone table (`_crawl/failures_<d>/`: url, domain,
    * attempts, error, round — the audit's status −1 rows), so terminal
    * transport failures are never lost: [[recrawlFailures]] re-queues
    * exactly them through the same commit-log machinery, in place.
    *
    * Returns one [[FetchStats]] per executed round (resumed rounds
    * report only the re-fetched crash window — already-committed batches
    * contribute zero, the [[Fetch.run]] contract). */
  def run(seeds: DataFrame, outDir: String, cfg: Fetch.Config, maxDepth: Int,
          scope: Column => Column = _ => lit(true),
          maxFrontierPerRound: Long = MaxFrontierPerRound): Seq[FetchStats] = {
    require(maxDepth >= 0, s"maxDepth must be non-negative: $maxDepth")
    val spark = seeds.sparkSession
    val hconf = spark.sessionState.newHadoopConf()
    def frontierDir(d: Int) = s"$outDir/_crawl/frontier_$d"
    def roundDir(d: Int) = s"$outDir/round_$d"
    def auditGlob(d: Int) = s"$outDir/_crawl/audit_$d/batch-*"
    def complete(dir: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
      p.getFileSystem(hconf).exists(p)
    }
    var stats = Vector.empty[FetchStats]
    var visitedDirs = Vector.empty[String]
    var auditGlobs = Vector.empty[String]
    var frontier = seeds
      .select(TextAnalysis.canonicalUrl(col("url")).as("url"))
      .filter(col("url").isNotNull).distinct()
    var depth = 0
    var drained = false
    while (!drained) {
      val fDir = frontierDir(depth)
      // the persisted parquet IS the round's identity: on resume it is
      // read back VERBATIM (recomputing it from a prior round's archive
      // yields the same multiset, but the disk copy is what Fetch.run's
      // plan fingerprint was recorded against); a partial write (no
      // _SUCCESS) is overwritten
      if (!complete(fDir))
        frontier.write.mode("overwrite").parquet(fDir)
      val persisted = spark.read.parquet(fDir)
      if (depth == 0 && persisted.isEmpty) return stats // nothing to crawl
      visitedDirs :+= fDir
      stats :+= Fetch.run(persisted, roundDir(depth),
        checkpointDir = s"$outDir/_crawl/commits_$depth", cfg,
        auditDir = s"$outDir/_crawl/audit_$depth")
      auditGlobs :+= auditGlob(depth)
      val audit = spark.read.parquet(auditGlob(depth))
      // terminal failures as RE-QUEUEABLE tombstones, not a scaladoc
      // apology: everything status −1 (transport failures after all
      // attempts, host-budget skips) lands as parquet the recrawl can
      // feed back through the commit-log. Idempotent on resume
      // (overwrite of the same derivation from the same audit).
      audit.filter(col("status") === -1)
        .select(col("url"), col("domain"), col("attempts"), col("error"),
          lit(depth).as("round"))
        .write.mode("overwrite").parquet(s"$outDir/_crawl/failures_$depth")
      if (depth == maxDepth) drained = true
      else {
        // link extraction in the SCAN stage (url, link) — bodies never
        // shuffle; the redirect-chain join that picks each page's
        // resolution base joins url-sized rows only
        val rawLinks = spark.read.format("warc").load(roundDir(depth))
          .filter(col("warc_type") === "response" &&
            col("http_status").between(200, 299) &&
            col("http_content_type").startsWith("text/html"))
          .select(col("target_uri").as("url"),
            explode(TextAnalysis.htmlLinks(col("payload").cast("string")))
              .as("link"))
        val chains = audit.select(col("url"),
          coalesce(try_element_at(col("redirects"), lit(-1)), col("url"))
            .as("base"))
        val links = rawLinks.join(chains, Seq("url"), "left")
          .select(TextAnalysis.canonicalUrl(TextAnalysis.resolveUrl(
            coalesce(col("base"), col("url")), col("link.url"))).as("url"))
          .filter(col("url").isNotNull &&
            (col("url").startsWith("http://") ||
              col("url").startsWith("https://")) &&
            scope(col("url")))
          .distinct()
        // visited = every frontier url ever queued + every url a redirect
        // chain passed through (each was fetched; the landing page is
        // archived under its request url)
        val visited = visitedDirs.map(spark.read.parquet(_).select("url"))
          .reduce(_ unionByName _)
          .unionByName(auditGlobs.map { g =>
            spark.read.parquet(g)
              .select(explode(col("redirects")).as("hop"))
              .select(TextAnalysis.canonicalUrl(col("hop")).as("url"))
              .filter(col("url").isNotNull)
          }.reduce(_ unionByName _))
        // cross-round politeness floors: each host's max fetched_at over
        // every audited round so far rides into the next frontier as
        // last_fetch_ms ([[Fetch]] delays the host's first fetch of
        // round d+1 to floor + crawl-delay). Skipped when no delay is
        // configured — the loop's only politeness source is
        // cfg.defaultDelayMs, so the floors would be dead weight.
        val discovered = links.join(visited, Seq("url"), "left_anti")
        // per-host-cap overflow re-queues into the next round: already
        // in visited (it sat in this round's persisted frontier), so
        // disjoint from the anti-joined links
        val fresh =
          if (cfg.maxPerHostPerRound <= 0) discovered
          else discovered.unionByName(
            audit.filter(col("status") === Fetch.StatusDeferred)
              .select("url"))
        val next =
          if (cfg.defaultDelayMs <= 0) fresh
          else {
            val marks = auditGlobs.map(spark.read.parquet(_))
              .reduce(_ unionByName _)
              .filter(col("fetched_at") > 0L)
              .groupBy(col("domain"))
              .agg(max(col("fetched_at")).as("last_fetch_ms"))
            fresh.withColumn("domain", Fetch.urlDomain(col("url")))
              .join(marks, Seq("domain"), "left")
              .select(col("url"), col("domain"), col("last_fetch_ms"))
          }
        // cheap double-execution: both actions read url-sized frames off
        // disk-backed rounds (the archive scan is the only corpus-sized
        // leaf, and it prunes to 2xx-html rows either way)
        val n = next.count()
        if (n > maxFrontierPerRound)
          throw new IllegalArgumentException(
            s"crawl frontier exploded: round ${depth + 1} discovered $n " +
              s"new URLs (bound $maxFrontierPerRound). Tighten `scope` " +
              "(host allowlist / path prefix) or raise " +
              "maxFrontierPerRound if the storage budget genuinely " +
              "covers it.")
        drained = n == 0L
        frontier = next
        depth += 1
      }
    }
    stats
  }

  /** Re-queue every terminal fetch failure of a [[run]] crawl (and of
    * previous recrawl attempts) through the SAME outDir — no fresh
    * directory, no re-crawl of what already succeeded. One call executes
    * one retry attempt `r`:
    *
    *  - pending = distinct urls across every `_crawl/failures_*` table
    *    minus urls a previous attempt already fetched successfully
    *    (status ≥ 0 in a `_crawl/retry_audit_*` sidecar — a 404 is a
    *    successful FETCH; only status −1 stays pending);
    *  - when `cfg.defaultDelayMs > 0` the attempt's frontier carries
    *    politeness floors: each host's max `fetched_at` across EVERY
    *    audit so far (crawl rounds + previous retries), escalated by
    *    `attempt_index × delay` — so a just-crawled recovering host is
    *    not hammered the moment the crawl ends (first retry of a host
    *    fetched at T waits to ≥ T + D), and consecutive attempts back
    *    off linearly (attempt r waits to ≥ T + (r+1)·D) instead of
    *    re-fetching a still-failing host as fast as the caller loops;
    *  - the attempt's frontier persists to `_crawl/retry_frontier_<r>`
    *    (the resume identity), the archive lands in `outDir/retry_<r>/`
    *    through [[Fetch.run]]'s batch commit-log with its own audit
    *    sidecar, still-failing urls become `_crawl/failures_retry_<r>`
    *    (the NEXT call's feed), and a `_crawl/retry_<r>.done` marker
    *    commits the attempt;
    *  - a crashed attempt resumes in place (frontier parquet + commit
    *    log, exactly like a crashed round); a call with nothing pending
    *    returns zero stats and writes nothing.
    *
    * Recovered pages are archived but NOT link-expanded: their outlinks
    * were never part of the crawl's committed frontier identity, and
    * depth accounting for late-recovered pages is ambiguous — widen
    * `maxDepth` on the original run for more reach instead. */
  def recrawlFailures(outDir: String, cfg: Fetch.Config): FetchStats = {
    val spark = org.apache.spark.sql.SparkSession.active
    val hconf = spark.sessionState.newHadoopConf()
    val crawlPath = new org.apache.hadoop.fs.Path(s"$outDir/_crawl")
    val fs = crawlPath.getFileSystem(hconf)
    require(fs.exists(crawlPath),
      s"recrawlFailures: $outDir has no _crawl state — it is not a " +
        "Crawl.run output directory")
    def doneMarker(r: Int) =
      new org.apache.hadoop.fs.Path(crawlPath, s"retry_$r.done")
    var r = 0
    while (fs.exists(doneMarker(r))) r += 1
    val frontierDir = s"$outDir/_crawl/retry_frontier_$r"
    val frontierDone = new org.apache.hadoop.fs.Path(frontierDir, "_SUCCESS")
    if (!fs.exists(frontierDone)) {
      // not a crashed attempt to resume — compute this attempt's pending
      // set from the persisted tombstones and previous retry audits
      val failureDirs = fs.globStatus(
          new org.apache.hadoop.fs.Path(crawlPath, "failures_*"))
        .filter(_.isDirectory).map(_.getPath.toString).sorted.toSeq
      if (failureDirs.isEmpty) return FetchStats(0L, 0L, 0L, 0L, 0L)
      val failed = failureDirs.map(spark.read.parquet(_).select("url"))
        .reduce(_ unionByName _).distinct()
      val retryAudits = fs.globStatus(
          new org.apache.hadoop.fs.Path(crawlPath, "retry_audit_*"))
        .filter(_.isDirectory).map(_.getPath.toString + "/batch-*").sorted.toSeq
      val pending =
        if (retryAudits.isEmpty) failed
        else failed.join(
          retryAudits.map(spark.read.parquet(_)).reduce(_ unionByName _)
            .filter(col("status") >= 0).select("url"),
          Seq("url"), "left_anti")
      if (pending.isEmpty) return FetchStats(0L, 0L, 0L, 0L, 0L)
      val frontierOut =
        if (cfg.defaultDelayMs <= 0) pending
        else {
          // floors from EVERY audit so far — crawl rounds and previous
          // retry attempts alike (a host attempt r−1 actually touched
          // moved its own floor; one it skipped keeps the crawl's).
          // Escalation: tasks() waits to last_fetch_ms + delay, so
          // last_fetch_ms = floor + r·delay makes attempt r first fire
          // at ≥ floor + (r+1)·delay — linear backoff per attempt.
          // Null floor (host never made an exchange) stays null → no
          // wait, matching the loop's convention.
          val markGlobs =
            (fs.globStatus(new org.apache.hadoop.fs.Path(crawlPath, "audit_*")) ++
              fs.globStatus(new org.apache.hadoop.fs.Path(crawlPath, "retry_audit_*")))
              .filter(_.isDirectory).map(_.getPath.toString + "/batch-*").toSeq
          val marks = markGlobs.map(spark.read.parquet(_))
            .reduce(_ unionByName _)
            .filter(col("fetched_at") > 0L)
            .groupBy(col("domain"))
            .agg(max(col("fetched_at")).as("floor"))
          pending.withColumn("domain", Fetch.urlDomain(col("url")))
            .join(marks, Seq("domain"), "left")
            .select(col("url"), col("domain"),
              (col("floor") + lit(r.toLong * cfg.defaultDelayMs))
                .as("last_fetch_ms"))
        }
      frontierOut.write.mode("overwrite").parquet(frontierDir)
    }
    val frontier = spark.read.parquet(frontierDir)
    val st = Fetch.run(frontier, s"$outDir/retry_$r",
      checkpointDir = s"$outDir/_crawl/retry_commits_$r", cfg,
      auditDir = s"$outDir/_crawl/retry_audit_$r")
    // still-failing urls feed the NEXT attempt
    spark.read.parquet(s"$outDir/_crawl/retry_audit_$r/batch-*")
      .filter(col("status") === -1)
      .select(col("url"), col("domain"), col("attempts"), col("error"),
        lit(-1 - r).as("round"))
      .write.mode("overwrite").parquet(s"$outDir/_crawl/failures_retry_$r")
    // atomic commit of the attempt (tmp + rename, the marker pattern)
    val tmp = new org.apache.hadoop.fs.Path(crawlPath, s".retry_$r.done.tmp")
    val out = fs.create(tmp, true)
    try out.write("done\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, doneMarker(r)))
      throw new java.io.IOException(
        s"recrawlFailures: cannot commit marker ${doneMarker(r)}")
    st
  }
}

/** Deterministic LINKED web for tests and the graded w05 fixture: the
  * page at `http://site<h>.test/p/<id>` (h mod [[SyntheticWebTransport.H]],
  * id mod [[SyntheticWebTransport.N]]) links to `/p/<(2·id+5) mod N>`,
  * `/p/<(3·id+1) mod N>`, and the same id on the next host — a pure
  * function of the URL, so a DuckDB recursive CTE states the whole
  * reachable set analytically. `id % 13 == 0` pages are planted 404s
  * (fetched, archived, but contributing no outlinks). */
final class SyntheticWebTransport extends FetchTransport {
  import SyntheticWebTransport._
  override def fetch(url: String, userAgent: String): FetchResponse = {
    calls.incrementAndGet(): Unit
    val m = UrlRe.findFirstMatchIn(url).getOrElse(
      throw new IllegalArgumentException(s"not a synthetic-web url: $url"))
    val h = m.group(1).toLong
    val id = m.group(2).toLong
    require(h < H && id < N, s"node ($h, $id) outside the ($H, $N) web: $url")
    if (id % 13 == 0)
      FetchResponse(404, "text/plain",
        "gone".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    else
      FetchResponse(200, "text/html; charset=utf-8",
        body(h, id).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object SyntheticWebTransport {
  /** Web dimensions — the w05 oracle SQL states the same constants. */
  val H = 5L
  val N = 400L
  private val UrlRe = "^http://site(\\d+)\\.test/p/(\\d+)$".r
  /** Executor-call counter (tests run one-JVM local mode): the
    * no-refetch pin — a correct BFS calls fetch exactly once per
    * distinct reachable URL. */
  val calls = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Replicated CHARACTER-FOR-CHARACTER by the w05 oracle's SQL concat —
    * change one and the hash gate breaks. */
  def body(h: Long, id: Long): String =
    s"""<html><body><h1>node $h/$id</h1><a href="/p/${(2 * id + 5) % N}">x</a> <a href="/p/${(3 * id + 1) % N}">y</a> <a href="http://site${(h + 1) % H}.test/p/$id">hop</a></body></html>"""
}
