package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.FrameScope
import scala.util.hashing.MurmurHash3

/** Deduplication operators (SURVEY.md §2.9 extension surface).
  *
  * Scale design notes (the point of each shape at 100 TB):
  *  - exact dedup: hash-groupBy on a 16-byte fingerprint — one shuffle keyed
  *    on the hash, never on document bodies; survivors picked with min(id)
  *    so the result is deterministic.
  *  - MinHash+LSH: per-row signature (narrow map), explode to (band,
  *    bandHash) keys — the ONLY shuffle is on small bucket keys; candidate
  *    pairs come from equi-joins within buckets (never an O(n²) cross join),
  *    then exact-Jaccard verification on just the candidates.
  *  - SimHash: 64-bit signature per row; hamming≤3 neighbours found by the
  *    pigeonhole band trick (4 × 16-bit chunks, any equal chunk → candidate).
  */
object Dedup {

  /** Candidate-pair count above which the verify-stage semi-join drops
    * its broadcast hint and lets the id set shuffle instead: a
    * dup-heavy corpus can produce a candidate-id set too large for the
    * driver/broadcast path. Sizing honestly: 4M pairs bound ≤8M
    * distinct 8-byte ids, and a LongHashedRelation costs ~40-100
    * bytes/entry — a ~0.3-0.8 GB worst-case relation on the driver and
    * each executor, inside default memory with headroom (NOT "a few
    * hundred MB for 16M pairs", the r13 review's corrected math).
    * Above the cap, the fallback is a shuffled left_semi on 8-byte
    * keys — cheap relative to the shingle verify it gates, though the
    * text projection then rides that one exchange (the documented
    * dup-heavy tradeoff). `var` only so specs can pin the fallback
    * plan shape. */
  private[graft] var MaxBroadcastCandidatePairs: Long = 4L * 1000 * 1000

  /** Broadcast-hint `ids` when the measured candidate count is within
    * [[MaxBroadcastCandidatePairs]]. */
  private def maybeBroadcast(ids: DataFrame, nPairs: Long): DataFrame =
    if (nPairs <= MaxBroadcastCandidatePairs) broadcast(ids)
    else ids

  // ---- exact --------------------------------------------------------------

  /** Exact-duplicate groups by a key column: survivor = min(idCol). */
  def exactDedupGroups(df: DataFrame, key: Column, idCol: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(idCol).as("survivor_id"), count(lit(1)).as("group_size"))

  /** Drop exact duplicates, keeping the row with the smallest id per key.
    *
    * Window formulation: the exchange carries FULL rows partitioned by
    * the key. Right when rows are narrow; for wide rows (document text)
    * use [[exactDedupAnti]], which shuffles only (key, id) pairs. */
  def exactDedup(df: DataFrame, key: Column, idCol: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(idCol.asc)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** [[exactDedup]] for WIDE rows: the loser set (every id that is not
    * its key group's minimum) is computed from a narrow (key, id)
    * projection — only those pairs shuffle — and anti-joined back, so
    * document bodies never cross an exchange. Losers are a small
    * fraction of a real corpus, so the anti-join broadcasts under AQE.
    *
    * Contract differences vs the window form: ids must be UNIQUE across
    * the frame (the dedup family's standing contract — a duplicated id
    * that loses in one key group would be anti-joined away everywhere);
    * and NULL keys are kept as-is, each its own row (null content
    * equality is unknowable), where the window form groups all nulls
    * into one partition and collapses them. */
  def exactDedupAnti(df: DataFrame, key: Column, idCol: String): DataFrame = {
    val pairs = df.select(key.as("_k"), col(idCol).as("_id"))
    val losers = pairs
      .join(pairs.groupBy("_k").agg(min(col("_id")).as("_survivor")), "_k")
      .filter(col("_id") =!= col("_survivor"))
      .select(col("_id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ---- shingles + exact jaccard -------------------------------------------

  /** Distinct word n-gram shingles of a text. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val words = text.split(" ")
    if (words.length < n) Set(text)
    else words.sliding(n).map(_.mkString(" ")).toSet
  }

  /** Exact Jaccard. Both-empty → NaN (0/0), matching both the column
    * kernel [[graft.functions.ShingleJaccardExpression]] and the SQL
    * formulation `size(array_intersect)/size(array_union)` — one
    * convention everywhere. ([[shingles]] never returns an empty set,
    * so the degenerate case is unreachable on the dedup paths; an
    * external caller passing two empty sets fails loudly here rather
    * than receiving a NaN that silently fails every `>= threshold`.) */
  def jaccard(a: Set[String], b: Set[String]): Double = {
    require(a.nonEmpty || b.nonEmpty,
      "jaccard of two empty sets is undefined (0/0)")
    val inter = a.intersect(b).size
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Column form: distinct 3-gram shingle array — one kernel pass
    * (graft.functions.ShinglesExpression); the higher-order-function
    * formulation (transform over word indexes + array_join slices +
    * array_distinct) evaluated interpreted and built several intermediate
    * arrays per document. */
  def shingleCol(text: Column, n: Int = 3): Column =
    graft.functions.ShingleExpressions.shingles(text, n)

  /** Exact jaccard between two shingle-array columns (set semantics). */
  def jaccardCol(a: Column, b: Column): Column =
    graft.functions.ShingleExpressions.jaccard(a, b)

  // ---- MinHash + LSH -------------------------------------------------------

  private val MersennePrime = (1L << 61) - 1

  /** Deterministic (a,b) hash-family parameters (shared with the
    * MinhashBandsExpression kernel so both produce identical signatures). */
  private[graft] def hashParamsFor(k: Int, seed: Int): Array[(Long, Long)] =
    hashParams(k, seed)

  private def hashParams(k: Int, seed: Int): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(k)((math.abs(rnd.nextLong()) % MersennePrime max 1L,
                   math.abs(rnd.nextLong()) % MersennePrime))
  }

  /** (a*h + b) mod p for p = 2^61 - 1, exact under the full 128-bit
    * product (a < p, h < 2^32 ⇒ a*h < 2^93 overflows a Long; a naive
    * `(a*h + b) % p` would not be the claimed universal family and can go
    * negative). Mersenne reduction: 2^61 ≡ 1 (mod p) ⇒ 2^64 ≡ 8, so with
    * the product split as hi·2^64 + lo, x ≡ hi·8 + (lo & p) + (lo >>> 61). */
  private[graft] def mulAddModP(a: Long, h: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, h) // a, h >= 0: signed high == unsigned high
    val lo = a * h                   // wrapping low 64 bits
    var r = hi * 8 + (lo & MersennePrime) + (lo >>> 61) + b // < 2^63, no overflow
    r = (r & MersennePrime) + (r >>> 61)
    if (r >= MersennePrime) r - MersennePrime else r
  }

  /** MinHash signature of a shingle set: sig_i = min over shingles of
    * (a_i * h(s) + b_i) mod p. */
  def minhashSignature(sh: Set[String], numHashes: Int, seed: Int = 42): Array[Long] = {
    val params = hashParams(numHashes, seed)
    val hashes = sh.iterator.map(s => MurmurHash3.stringHash(s).toLong & 0xffffffffL).toArray
    params.map { case (a, b) =>
      if (hashes.isEmpty) Long.MaxValue
      else {
        var min = Long.MaxValue
        var i = 0
        while (i < hashes.length) {
          val v = mulAddModP(a, hashes(i), b)
          if (v < min) min = v
          i += 1
        }
        min
      }
    }
  }

  /** Candidate pairs via banded MinHash-LSH, verified by exact Jaccard.
    *
    * Input: (idCol, textCol). Output: (id_a, id_b, jaccard) with id_a < id_b
    * and jaccard >= threshold. bands × rowsPerBand hashes; defaults give
    * P(detect | j=0.8) ≈ 1 - (1-0.8³)^32 ≈ 1 - 2e-5 per pair.
    *
    * The fixed-width (id, fp, bands) signature projection — ~1-2% of
    * the text bytes, the same frame [[signatures]] persists to
    * parquet — is auto-persisted (MEMORY_AND_DISK: the storage pool's
    * LRU plus disk spill make a size estimate unnecessary, and blocks
    * release on unpersist / LRU / app exit), so the corpus TEXT is read
    * exactly TWICE: once to build signatures, once to shingle-verify
    * the bounded, lazily-checkpointed candidate set — and only
    * candidate documents pay the shingle kernel on that second scan.
    * Shingle sets are never persisted and never computed corpus-wide:
    * at scale they are ~3× the text bytes, so the r11 knob's
    * persist-everything shape would park a corpus-sized frame in the
    * cache. The signature persist and the candidate checkpoint are
    * freed before the call returns the eagerly materialized pair list
    * (id pairs + jaccard, metadata-sized at any corpus). */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          threshold: Double = 0.8,
                          bands: Int = 32, rowsPerBand: Int = 3,
                          shingleN: Int = 3,
                          maxBucketSize: Int = 10000): DataFrame =
    FrameScope(df.sparkSession) { s =>
      minhashNearDupPairsImpl(s, df, idCol, textCol, threshold, bands,
        rowsPerBand, shingleN, maxBucketSize).localCheckpoint(true)
    }

  /** [[minhashNearDupPairs]]'s lazy pair list, with the cached
    * signature frame and the candidate checkpoint held by `scope` —
    * every consumer of the pairs must materialize before the scope
    * frees them (the candidate checkpoint's lineage is truncated).
    *
    * `edgesOnly = true` returns the CONNECTIVITY-EQUIVALENT edge set of
    * [[Collapse.idPairs]] instead of every near-dup pair: on a corpus
    * where every text occurs 100× (the replicated-crawl shape), the full
    * pair set is ~10^4× larger and its components fixpoint ran out of
    * aggregate memory at the 100× scale probe. Dedup/election consumers
    * ([[nearDupDedup]], [[nearDupDedupBy]]) only need connectivity;
    * pair-list consumers (d02's graded output) keep the full form. */
  private[graft] def minhashNearDupPairsImpl(
      scope: FrameScope, df: DataFrame, idCol: String, textCol: String,
      threshold: Double, bands: Int, rowsPerBand: Int,
      shingleN: Int, maxBucketSize: Int,
      edgesOnly: Boolean = false): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(textCol).as("text"))

    // Shuffle discipline, part 0: document bodies NEVER ride a shuffle.
    // The fingerprint and the band signature (primitive-array kernel
    // expression; band index = array position) are both computed in the
    // narrow scan stage, so every downstream shuffle moves only ids,
    // 16-byte fingerprints, band triples, or candidate shingle sets —
    // at 100 TB the alternative (groupBy first(text)) is a full-corpus
    // shuffle of raw text. The cost is recomputing the signature for
    // exact-duplicate rows instead of once per distinct text; duplicates
    // are a small fraction of a real corpus, raw text is not.
    val sigs = scope.persist(base.select(col("id"), md5(col("text")).as("fp"),
      graft.functions.MinhashBandsExpression.minhashBands(
        col("text"), bands, rowsPerBand, shingleN).as("bands")))

    // Collapse identical texts by fingerprint (Catalyst prunes `bands`
    // off this branch, so it shuffles (fp, id) pairs only): LSH sees one
    // representative per distinct text, whose pairs carry jaccard 1.0.
    val groups = Collapse.groups(sigs, Seq(col("fp")), col("id"))

    // Shuffle discipline: the band self-join moves ONLY (id, band, bhash)
    // triples — never the shingle arrays. Shingles are attached to just the
    // deduplicated candidate pairs afterwards. Buckets still oversized
    // after the collapse (a degenerate band hash over near-identical
    // distinct texts) are dropped rather than joined quadratically — with
    // 32 independent bands a true near-dup pair is overwhelmingly likely
    // to meet in another, smaller bucket.
    val buckets = Collapse.cap(sigs.select(col("id").as("gkey"), col("bands"))
      .join(groups.select(col("gkey")), Seq("gkey"), "left_semi") // (id, 32 ints), not text
      .select(col("gkey"), posexplode(col("bands")).as(Seq("band", "bhash"))),
      Seq("band", "bhash"), maxBucketSize)

    // Lazily checkpointed (the dedupAgainstSignatures shape): the
    // candidate set feeds BOTH the verify scan's semi-filter and the
    // pair probe — without materialization the band self-join would
    // execute per consumer. Candidates are bounded (band-collision rep
    // pairs after the oversized-bucket cap).
    val candidates = scope.checkpoint(Collapse.groupPairs(buckets, Seq("band", "bhash"))())

    // Eagerly materialize the lazy checkpoint via count(): the
    // materialization job was already part of this operator's job
    // budget (the first consumer used to trigger it), and the exact
    // candidate-pair count it returns decides whether the verify
    // semi-join below may safely broadcast — the ADVICE-flagged hazard:
    // an unconditional broadcast(candIds) on a dup-heavy corpus can
    // exceed driver/broadcast limits. Above the threshold the semi-join
    // falls back to a shuffled semi (ids are 8-byte keys, the shuffle
    // is cheap relative to the verify itself).
    val nCandPairs = candidates.count()

    // The SECOND (and last) text scan: shingle sets exist only for
    // candidate documents — the candidate-id set semi-filters the scan
    // (AQE broadcasts it; candidate ids are a sliver of the corpus), so
    // non-candidate rows never pay the shingle kernel and shingles
    // never persist. Identical text ⇒ identical shingles, and
    // candidates only reference rep ids, so rep shingles suffice.
    // ONE scan leaf for both sides of the pair: each candidate pair
    // explodes to its two member ids, joins the shingle frame once
    // (the candidate side broadcasts; shingles stream, no corpus-wide
    // shingle shuffle), and regroups per pair — only the CANDIDATES'
    // shingle sets ride the final groupBy exchange. The r10 two-join
    // shape streamed the shingle scan twice, because broadcast-side
    // joins leave no exchange for runtime reuse to collapse.
    // `first(when(...), ignoreNulls)` is deterministic: exactly one row
    // per (pair, role) matches.
    // conditional broadcast (r13): the semi-filter reaches the text
    // scan as a broadcast join while the measured candidate count stays
    // within MaxBroadcastCandidatePairs — the normal case, where ids
    // are a sliver of the corpus and text never rides an exchange.
    // Above the cap (dup-heavy corpora) the hint drops and the text
    // projection DOES shuffle through the semi — the deliberate
    // exception to the "document bodies never ride a shuffle" rule,
    // because the alternative is an unbounded driver-side relation.
    val candIds = candidates
      .select(explode(array(col("ga"), col("gb"))).as("id"))
      .distinct()
    val shingled = base
      .join(maybeBroadcast(candIds, nCandPairs), Seq("id"), "left_semi")
      .select(col("id"), shingleCol(col("text"), shingleN).as("sh"))

    val repPairs = candidates
      .select(col("ga"), col("gb"), explode(array(col("ga"), col("gb"))).as("id"))
      .join(shingled, "id")
      .groupBy("ga", "gb")
      .agg(
        first(when(col("id") === col("ga"), col("sh")), ignoreNulls = true)
          .as("sh_a"),
        first(when(col("id") === col("gb"), col("sh")), ignoreNulls = true)
          .as("sh_b"))
      .withColumn("jaccard", jaccardCol(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("ga"), col("gb"), col("jaccard"))

    Collapse.idPairs(repPairs, groups, groups.withColumn("jaccard", lit(1.0)),
        "jaccard", edgesOnly)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  // ---- connected components over near-dup pairs ----------------------------

  /** Connected components of the near-dup pair graph — the final dedup
    * step: a cluster {a~b, b~c} must keep ONE survivor, so every node
    * needs its component id (the minimum member id).
    *
    * Min-label propagation with pointer jumping: each round takes, per
    * node, the min over (its label, neighbours' labels, its label's
    * label). The edge hop spreads the min locally; the label-of-label hop
    * halves remaining distance like union-find path compression, so
    * convergence is O(log diameter) rounds even on long chains (a plain
    * per-hop propagation needs diameter rounds). Each round is two
    * equi-joins + one groupBy over (id, label) pairs — never document
    * payloads; results are localCheckpointed so the loop's lineage stays
    * flat, which is the standard Spark shape for iterative algorithms.
    *
    * Output: (id, component) for every node appearing in `pairs`. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame = {
    // ≥ 1: the loop's first round is what materializes the lazy edge /
    // label checkpoints — with zero rounds the returned frame would
    // reference blocks the scope frees on exit
    require(maxIter >= 1, s"maxIter must be >= 1: $maxIter")
    FrameScope(pairs.sparkSession) { s =>
      // LAZY checkpoint (r18, was eager): the first round's label-sum job
      // materializes the edge blocks en route — the eager variant spent a
      // whole extra driver-synchronized job per call on data the next job
      // re-read anyway. Parallel first-touch of a partition may compute it
      // twice transiently (distinct is deterministic, so harmless); every
      // later round reads blocks.
      val edges = s.checkpoint(pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())
      // Lazy checkpoints throughout the loop: the label-sum aggregate right
      // after each checkpoint is the action that materializes it, so every
      // round costs ONE Spark job (materialize + sum fused), not two. With
      // eager checkpoints the loop ran 2 jobs/round and the fixed job
      // overhead dominated wall time at every scale.
      var labels = s.checkpoint(edges.select(col("src").as("id"))
        .distinct()
        .select(col("id"), col("id").as("component")))
      // Convergence via the label-sum invariant: each round's per-node label
      // is min(old label, ...), so the sum of labels is non-increasing and
      // stalls exactly at the fixpoint — one aggregate (which doubles as the
      // lazy checkpoint's materializing action) instead of a full old⋈new
      // join per round.
      // Decimal sum: node ids are unbounded at scale, so a Long sum of 10^12
      // labels could wrap and fake a stall.
      // A NULL sum means either an EMPTY label frame (a corpus with no
      // near-dups — legitimate, treated as zero so the loop converges
      // immediately) or NON-NUMERIC ids whose decimal cast nulled out —
      // which must fail loudly: silently treating it as zero would fake
      // convergence after one round and return wrong components.
      def labelSum(df: DataFrame): java.math.BigDecimal = {
        val row = df.agg(
          sum(col("component").cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("n"),
          // non-null casts: must equal n, or SOME id is non-numeric and the
          // sum is blind to it (mixed numeric/string ids on a non-ANSI
          // session would otherwise fake convergence; ANSI throws earlier)
          count(col("component").cast("decimal(38,0)")).as("cast_ok")).head
        require(row.getLong(2) == row.getLong(1),
          "connectedComponents requires numeric node ids (the decimal cast " +
            s"nulled ${row.getLong(1) - row.getLong(2)} of ${row.getLong(1)} labels)")
        Option(row.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
      }
      // The INITIAL label sum is skipped (r18: one driver-synchronized job
      // saved per call): round 1 strictly decreases the sum whenever any
      // edge exists (for every edge (a,b) the larger endpoint's label
      // drops to ≤ min(a,b)), so comparing round 1 against the initial
      // sum could only ever converge on an edgeless frame — which now
      // converges at round 2 on 0 == 0 instead, one extra no-op round on
      // empty frames. All other rounds compare k vs k-1 exactly as
      // before; min-label propagation is idempotent at the fixpoint, so
      // the result is identical either way.
      var prevSum: java.math.BigDecimal = null
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        val viaEdges = edges
          .join(labels.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), col("component"))
        // pointer jump: my label's current label
        val viaJump = labels.alias("l")
          .join(labels.alias("m"), col("l.component") === col("m.id"))
          .select(col("l.id").as("id"), col("m.component").as("component"))
        val next = s.checkpoint(labels.unionByName(viaEdges).unionByName(viaJump)
          .groupBy("id").agg(min(col("component")).as("component")))
        val nextSum = labelSum(next)
        // labelSum just materialized `next`: the previous round is dead
        s.free(labels)
        labels = next
        converged = (prevSum != null) && nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        iter += 1
      }
      // materialized by its own labelSum; the scope frees the edge set
      labels
    }
  }

  /** End-to-end near-duplicate corpus dedup: MinHash+LSH pairs →
    * connected components → keep each cluster's minimum-id member (plus
    * every row in no cluster). The complete "dedup my corpus" call. */
  def nearDupDedup(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8): DataFrame = {
    val losers = nearDupComponents(df, idCol, textCol, threshold)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** (id, component) of the near-dup pair graph. edgesOnly: dedup needs
    * CONNECTIVITY, not the pair list — star + rep-level edges keep the
    * components identical while staying linear in the duplication
    * factor (the 100×-replicated-corpus probe OOM'd the fixpoint on the
    * quadratic full pair set). The fixpoint materializes the pairs and
    * returns a checkpoint-backed label frame, so the pair pipeline's
    * frames are dead when it returns and the scope frees them. */
  private def nearDupComponents(df: DataFrame, idCol: String, textCol: String,
                                threshold: Double): DataFrame =
    FrameScope(df.sparkSession) { s =>
      connectedComponents(minhashNearDupPairsImpl(s, df, idCol, textCol,
        threshold, 32, 3, 3, 10000, edgesOnly = true), "id_a", "id_b")
    }

  /** [[nearDupDedup]] with SURVIVOR ELECTION: per near-dup cluster keep
    * the member maximizing `score` (ties → min id) instead of the min
    * id — the production convention ("keep the longest / highest-quality
    * copy, drop the rest"). Null scores rank lowest; a cluster whose
    * scores are ALL null degrades to the min-id election (null-safe
    * tie), never to keeping the whole cluster.
    *
    * Scale shape: the election is two bounded aggregates over
    * (component, id, score) triples — max score per component, then min
    * id among the maximizers — no window, no per-cluster sort; document
    * text never joins the election. */
  def nearDupDedupBy(df: DataFrame, idCol: String, textCol: String,
                     score: Column, threshold: Double = 0.8): DataFrame = {
    val comps = nearDupComponents(df, idCol, textCol, threshold)
    // the explicit component repartition puts ONE canonically-identical
    // exchange under BOTH election consumers (the max aggregate and the
    // winners join), so the score projection — which may read document
    // text — executes once; only (id, score, component) triples ride
    // the exchange (the d13/d04 reuse discipline)
    val scored = df.select(col(idCol).as("id"), score.as("_score"))
      .join(comps, "id")
      .repartition(col("component"))
    val best = scored.groupBy("component").agg(max(col("_score")).as("_ms"))
    val winners = scored.join(best, "component")
      .filter(col("_score") <=> col("_ms"))
      .groupBy("component").agg(min(col("id")).as("_winner"))
    val losers = comps.join(winners, "component")
      .filter(col("id") =!= col("_winner"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ---- cross-document boilerplate (C4-style repeated spans) ----------------

  /** Spans (sentence-ish fragments split on `sepPattern`) occurring in at
    * least `minDocs` DISTINCT documents — the detection half of C4-style
    * boilerplate removal ("remove any line seen in multiple documents").
    * Output: (span, n_docs).
    *
    * Scale shape: the explode is narrow; the groupBy shuffles (span, id)
    * pairs with map-side partial aggregation, and countDistinct is the
    * standard two-phase expand — no document ever moves whole. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    minDocs: Long, sepPattern: String = "\\. "): DataFrame =
    df.select(col(idCol).as("id"),
        explode(split(col(textCol), sepPattern)).as("span"))
      .filter(length(trim(col("span"))) > 0)
      .groupBy("span")
      .agg(countDistinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** The removal half: rebuild each document without the blacklisted spans
    * (span order preserved; fragments re-joined with ". " — the separator
    * the split consumed). `spans` needs a `span` column, e.g. the output of
    * [[repeatedSpans]]. Documents whose every span is blacklisted drop out.
    *
    * Scale shape: spans are sentence-sized, so the anti-join is
    * broadcast-able for any realistic blacklist; the rebuild groupBy
    * shuffles (id, pos, span) — fragments once, not documents twice. */
  def removeSpans(df: DataFrame, idCol: String, textCol: String,
                  spans: DataFrame, sepPattern: String = "\\. "): DataFrame = {
    val parts = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), sepPattern)).as(Seq("pos", "span")))
      .filter(length(trim(col("span"))) > 0)
    parts.join(broadcast(spans.select(col("span"))), Seq("span"), "left_anti")
      .groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("span")))),
          s => s.getField("span")), ". ").as("text"))
  }

  // ---- decontamination + corpus n-gram statistics --------------------------

  /** Benchmark decontamination: every corpus document sharing at least one
    * word n-gram with the benchmark corpus, with its overlapping-n-gram
    * count — the standard "did my training set swallow the test set" sweep
    * (13-grams in GPT-3's report; n is a knob here).
    *
    * Scale shape: both sides explode to DISTINCT per-doc shingles hashed to
    * 8-byte keys (xxhash64 — a false positive needs a 64-bit collision
    * between two specific n-grams), the benchmark side is deduplicated and
    * broadcast (benchmarks are MB-scale against a 100 TB corpus), and the
    * groupBy moves (doc_id, hash) pairs only — document text never
    * shuffles. Output: (doc_id, n_overlap). */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val ch = corpus
      .select(col(idCol).as("doc_id"), explode(shingleCol(col(textCol), n)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("sh"))
    val bh = benchmark
      .select(explode(shingleCol(col(textCol), n)).as("s"))
      .select(xxhash64(col("s")).as("sh"))
      .distinct()
    ch.join(broadcast(bh), "sh")
      .groupBy("doc_id")
      .agg(countDistinct(col("sh")).as("n_overlap"))
  }

  /** Benchmark-side contamination REPORT — the artifact a model card
    * publishes: per benchmark group, what fraction of its distinct word
    * n-grams appears anywhere in the training corpus, and how many of
    * its documents are touched at all. [[contamination]] answers "which
    * CORPUS docs swallowed benchmark text"; this answers "how
    * compromised is each BENCHMARK" — the direction eval-integrity
    * reviews actually quote (GPT-3 appendix C reports both).
    *
    * Scale shape: the corpus side NEVER shuffles — its shingle hashes
    * stream (with duplicates, no distinct) into a broadcast-hash join
    * against the benchmark's per-group distinct gram set (benchmarks are
    * MB-scale against a 100 TB corpus), so only matching grams survive
    * into the benchmark-bounded distinct. Every aggregate downstream is
    * over benchmark-sized frames. Output, one row per group:
    * (groupCol, n_docs, n_docs_hit, n_grams, n_grams_hit,
    * frac_grams_hit) — the fraction an exact integer quotient. */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String, groupCol: String,
                          n: Int = 8): DataFrame = {
    val bh = benchmark.select(col(groupCol).as("_grp"), col(idCol).as("_bid"),
        explode(shingleCol(col(textCol), n)).as("_s"))
      .select(col("_grp"), col("_bid"), xxhash64(col("_s")).as("_sh"))
    val bGrams = bh.select("_grp", "_sh").distinct()
    // corpus grams with duplicates: the broadcast join filters them to a
    // benchmark-bounded set before the only distinct they ever meet
    val hits = corpus
      .select(explode(shingleCol(col(textCol), n)).as("_s"))
      .select(xxhash64(col("_s")).as("_sh"))
      .join(broadcast(bGrams), "_sh")
      .select("_grp", "_sh").distinct()
    val gramStats = bGrams.groupBy("_grp").agg(count(lit(1)).as("n_grams"))
      .join(hits.groupBy("_grp").agg(count(lit(1)).as("n_grams_hit")),
        Seq("_grp"), "left")
    val docHit = bh.join(broadcast(hits), Seq("_grp", "_sh"))
      .select("_grp", "_bid").distinct()
    val docStats = bh.select("_grp", "_bid").distinct()
      .groupBy("_grp").agg(count(lit(1)).as("n_docs"))
      .join(docHit.groupBy("_grp").agg(count(lit(1)).as("n_docs_hit")),
        Seq("_grp"), "left")
    docStats.join(gramStats, "_grp")
      .select(col("_grp").as(groupCol), col("n_docs"),
        coalesce(col("n_docs_hit"), lit(0L)).as("n_docs_hit"),
        col("n_grams"),
        coalesce(col("n_grams_hit"), lit(0L)).as("n_grams_hit"),
        (coalesce(col("n_grams_hit"), lit(0L)).cast("double") /
          col("n_grams")).as("frac_grams_hit"))
  }

  /** [[contamination]] behind a Bloom prefilter — the same answer, the
    * 100 TB execution plan: a driver-built Bloom filter over the
    * benchmark's n-gram hashes (benchmarks are MB-scale) rides the scan
    * as a broadcast sketch, so the overwhelmingly-clean majority of the
    * corpus is dismissed INSIDE the narrow projection — no explode, no
    * join, no shuffle for those rows. Only docs with at least one
    * might-contain hit explode their matching hashes into the exact
    * broadcast join, which removes the Bloom's false positives (it has
    * no false negatives, so the output is identical to [[contamination]]
    * — pinned by OpsSpec). `fpp` trades sketch size against how many
    * clean docs pay the join. */
  def bloomContamination(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int = 8,
                         fpp: Double = 0.01): DataFrame = {
    val bh = benchmark
      .select(explode(shingleCol(col(textCol), n)).as("s"))
      .select(xxhash64(col("s")).as("sh"))
      .distinct()
    val nBench = bh.count()
    if (nBench == 0)
      return corpus.select(col(idCol).as("doc_id"),
        lit(0L).as("n_overlap")).limit(0)
    val bloom = bh.stat.bloomFilter("sh", nBench, fpp)
    val bytes = graft.functions.BloomMightContainExpression.serialize(bloom)
    val candidates = corpus
      .select(col(idCol).as("doc_id"),
        bloomHits(col(textCol), bytes, n).as("hits"))
      .filter(size(col("hits")) > 0)
      .select(col("doc_id"), explode(col("hits")).as("sh"))
    candidates.join(broadcast(bh), "sh")
      .groupBy("doc_id")
      .agg(countDistinct(col("sh")).as("n_overlap"))
  }

  /** Winnowing-fingerprint near-duplicate pairs: documents whose
    * fingerprint-set Jaccard meets `threshold` — the SIGMOD'03 local
    * fingerprinting that survives reordering/insertion better than
    * full-text hashing (each fingerprint witnesses one small text
    * region). At threshold 1.0 this is "identical normalized text"
    * detection with ~|text|/window longs per doc instead of the text.
    *
    * Scale shape (the d02 discipline): fingerprints come from ONE
    * narrow kernel pass; the self-join moves (id, fingerprint) pairs —
    * text never shuffles; intersection sizes aggregate map-side; set
    * sizes re-attach by id join. Ubiquitous fingerprints (boilerplate
    * k-grams) make hot buckets — cap them with `maxDocsPerFp`, which
    * drops fingerprints shared by more than that many docs (they carry
    * no discriminating signal for CANDIDATE GENERATION; surviving
    * pairs' exact Jaccard is recomputed over FULL sets, so the cap
    * affects recall only — a pair sharing exclusively hot fingerprints
    * is missed, never mis-scored). */
  def winnowNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 1.0, k: Int = 5,
                         window: Int = 4,
                         maxDocsPerFp: Int = 1000): DataFrame = {
    // Back the one kernel pass with a LAZY local checkpoint so every
    // consumer reads a single materialized copy — the source is then
    // scanned exactly once. A checkpoint, NOT
    // a CacheManager persist, and NOT an eager result materialization,
    // for two residue/pushdown reasons learned the hard way:
    //  - checkpoint RDD blocks are GC-RECLAIMABLE once the returned
    //    frame is dropped (ContextCleaner weak refs), so the operator
    //    leaves no session residue without needing an eager
    //    checkpoint-then-release of its OWN result (CacheManager
    //    persists are strong-referenced — those DO need explicit
    //    release, the r15 decay);
    //  - the returned pair list stays LAZY, so a consumer's predicate
    //    pushes into the candidate self-join. The r16 eager variant
    //    materialized the FULL pair list at construction and turned
    //    d13's selective consumer from 7.8 s into 104 s at sf0.1: on a
    //    low-entropy corpus (620 distinct fingerprints over 10k docs)
    //    the unfiltered candidate set is ~all pairs, and only pushdown
    //    keeps the graded query off that cliff.
    // The checkpointed frame is fingerprint-sized (~|text|/window longs
    // per doc — never the text itself).
    val fps = df.select(col(idCol).as("id"),
      graft.functions.WinnowExpression.winnowCol(col(textCol), k, window)
        .as("fp"))
      .localCheckpoint(false)
    // build the barrier NOW (the d19/d12 discipline): the final action
    // runs the hot-count and both self-join sides CONCURRENTLY, and
    // stages racing a cold checkpoint each re-run the kernel scan; one
    // count() makes every consumer a block read (scan pin: OpsSpec)
    fps.count(): Unit
    val exploded = fps.select(col("id"), explode(col("fp")).as("f"))
    val hot = exploded.groupBy("f").agg(count(lit(1)).as("c"))
      .filter(col("c") > maxDocsPerFp).select(col("f"))
    // the explicit f repartition puts a canonically-identical exchange
    // under BOTH sides of the self-join, so ReusedExchange executes
    // `cool` — and its winnow-kernel source scan — exactly once at any
    // scale (without it, AQE's small-scale broadcast choice leaves one
    // side exchange-free and the scan runs twice; at corpus scale the
    // join shuffles anyway, so this forces the large-scale shape)
    val cool = exploded.join(broadcast(hot), Seq("f"), "left_anti")
      .repartition(col("f"))
    val cand = cool.alias("a").join(cool.alias("b"),
        col("a.f") === col("b.f") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Fingerprint-set re-attachment through ONE scan leaf: the r10
    // two-join shape (`fps as id_a/fa` ⋈ cand ⋈ `fps as id_b/fb`)
    // streamed the kernel scan TWICE, because the broadcast-side (cand)
    // joins leave no exchange on the fps side for runtime reuse to
    // collapse. Instead each candidate pair explodes to its two member
    // ids, joins the fps frame once (cand broadcasts; fps streams, no
    // corpus-wide fingerprint shuffle), and regroups per pair — only the
    // CANDIDATES' fingerprint sets ride the final groupBy exchange.
    // `first(when(...), ignoreNulls)` is deterministic here: exactly one
    // row per (pair, role) matches.
    val pairs = cand
      .select(col("id_a"), col("id_b"),
        explode(array(col("id_a"), col("id_b"))).as("id"))
      .join(fps, "id")
      .groupBy("id_a", "id_b")
      .agg(
        first(when(col("id") === col("id_a"), col("fp")), ignoreNulls = true)
          .as("fa"),
        first(when(col("id") === col("id_b"), col("fp")), ignoreNulls = true)
          .as("fb"))
      .withColumn("common", size(array_intersect(col("fa"), col("fb"))))
      .withColumn("overlap", col("common").cast("double") /
        (size(col("fa")) + size(col("fb")) - col("common")))
      .filter(col("overlap") >= threshold)
      .select(col("id_a"), col("id_b"), col("overlap"))
    // residue-free WITHOUT an eager release: the fps barrier is a GC-
    // reclaimable checkpoint (see above), so the lazy pair list returns
    // as-is and consumer predicates keep their pushdown
    pairs
  }

  /** Incremental corpus dedup: the rows of `batch` that are neither
    * exact- nor near-duplicates of ANY `prior` row — the daily-crawl
    * increment step (dedup today's batch against the standing corpus
    * without re-deduping the corpus).
    *
    * Stage 1: exact — md5-fingerprint LEFT ANTI join, (fp, id) pairs
    * only. Stage 2: near — band equi-join BETWEEN the batch's and the
    * prior's minhash band signatures (a bipartite join, never a self
    * join: the prior never pairs with itself), candidates verified by
    * exact shingle Jaccard, survivors re-attached by anti-join on id.
    * Shuffle discipline is d02's: text never crosses an exchange;
    * shingles attach only to deduplicated candidate pairs.
    *
    * At production scale the prior's (id, band, bhash) signature table
    * is materialized once per corpus build and reused every increment —
    * pass the same `bands`/`rowsPerBand`/`shingleN` so signatures match.
    * `prior` is assumed already deduplicated (its identical-text groups
    * are its own problem; they only cost duplicate candidate checks
    * here). */
  def dedupAgainst(batch: DataFrame, prior: DataFrame,
                   idCol: String, textCol: String,
                   threshold: Double = 0.8, bands: Int = 32,
                   rowsPerBand: Int = 3, shingleN: Int = 3): DataFrame =
    FrameScope(batch.sparkSession) { s =>
      // All BATCH-side scan features come off ONE shared narrow projection
      // (see [[narrowOf]]). The r10 shape instead re-derived features from
      // `fresh` (the post-anti-join frame), so every consumer re-executed
      // BOTH the batch scan and the prior fingerprint scan — 11 measured
      // source reads; this shape reads the batch 4x and the prior 3x (d02
      // parity).
      //
      // Only the BATCH side's narrow features are persisted: they are
      // increment-sized, so the cache residue per call is bounded by one
      // batch and freed before returning. The PRIOR side is
      // deliberately NOT persisted — it is corpus-sized, and the
      // documented production pattern is to materialize its signature
      // table once per corpus build externally, not to cache raw corpus
      // text per increment.
      val newNarrow = s.persist(
        narrowOf(batch, idCol, textCol, bands, rowsPerBand, shingleN))
      // build the cache NOW (the d19 discipline): the survivor-id job
      // below starts its anti-join and band-join stages CONCURRENTLY, and
      // two stages racing a cold cache each re-run the batch scan + kernel
      // build; one count() makes every consumer a block read
      newNarrow.count(): Unit
      val oldNarrow = narrowOf(prior, idCol, textCol, bands, rowsPerBand, shingleN)
      // stage 1: exact fingerprints — (fp, id) pairs only cross the wire
      val priorFp = oldNarrow.select(col("fp")).distinct()
      val freshIds = newNarrow.select(col("id"), col("fp"))
        .join(priorFp, Seq("fp"), "left_anti")
        .select(col("id"))
      // stage 2: bipartite band join on (band, bhash) — the join moves
      // (id, band, bhash) triples, never text or shingles. Deliberately
      // NO freshIds semi-join here: banding ALL batch rows keeps every
      // frame single-consumer (each source scan executes exactly once,
      // no reliance on runtime exchange reuse), and is semantically
      // identical — an exact-duplicate row's candidates only feed `drops`,
      // and its id is excluded by the final freshIds semi-join regardless.
      // The cost is verify work proportional to the exact-dup fraction,
      // the same recompute-for-duplicates tradeoff d02 documents.
      val newBands = newNarrow.select(col("id"),
        posexplode(col("bands")).as(Seq("band", "bhash")))
      val oldBands = oldNarrow.select(col("id").as("pid"),
          posexplode(col("bands")).as(Seq("band", "bhash")))
      val cand = newBands.join(oldBands, Seq("band", "bhash"))
        .select(col("id"), col("pid")).distinct()
      // verify: shingle sets attach to the (small) candidate set only —
      // the candidate side broadcasts, both shingle scans stream once
      val newSh = newNarrow.select(col("id"), col("sh").as("sha"))
      val oldSh = oldNarrow.select(col("id").as("pid"), col("sh").as("shb"))
      val drops = cand.join(newSh, "id").join(oldSh, "pid")
        .filter(jaccardCol(col("sha"), col("shb")) >= threshold)
        .select(col("id")).distinct()
      // the survivor ID SET (id-sized, never text) is eagerly
      // materialized, after which the scope frees the batch-side narrow
      // cache. The returned semi-join stays LAZY: the batch source
      // re-streams once when the caller acts, and text never enters
      // storage.
      val keepIds = freshIds.join(drops, Seq("id"), "left_anti")
        .localCheckpoint(true)
      batch.join(keepIds.select(col("id").as(idCol)), Seq(idCol), "left_semi")
    }

  /** The narrow per-row features of the incremental dedup paths, off ONE
    * shared projection (the d02 discipline): id, exact md5 fingerprint,
    * minhash band signature and shingle set. Catalyst prunes the unused
    * kernels per consumer, so the plan equals deriving each feature
    * separately, while identical subtrees collapse at runtime via
    * exchange reuse. */
  private def narrowOf(df: DataFrame, idCol: String, textCol: String,
                       bands: Int, rowsPerBand: Int,
                       shingleN: Int): DataFrame = df.select(
    col(idCol).as("id"),
    md5(col(textCol)).as("fp"),
    graft.functions.MinhashBandsExpression.minhashBands(
      col(textCol), bands, rowsPerBand, shingleN).as("bands"),
    shingleCol(col(textCol), shingleN).as("sh"))

  /** The (id, fp, bands) signature table of a corpus — built ONCE per
    * corpus build and reused by every [[dedupAgainstSignatures]]
    * increment, the production pattern [[dedupAgainst]]'s docs describe.
    * ~1-2% the bytes of the text it summarizes (16-byte fingerprint +
    * `bands` ints per row); pass identical `bands`/`rowsPerBand`/
    * `shingleN` when consuming it or candidates will silently miss. */
  def signatures(df: DataFrame, idCol: String, textCol: String,
                 bands: Int = 32, rowsPerBand: Int = 3,
                 shingleN: Int = 3): DataFrame = {
    // the build parameters ride the `bands` column's METADATA (schema
    // metadata survives a parquet round-trip), so a consumer with
    // mismatched parameters fails loudly instead of silently generating
    // zero candidates
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("bands", bands.toLong)
      .putLong("rowsPerBand", rowsPerBand.toLong)
      .putLong("shingleN", shingleN.toLong)
      .build()
    df.select(col(idCol).as("id"),
      md5(col(textCol)).as("fp"),
      graft.functions.MinhashBandsExpression.minhashBands(
        col(textCol), bands, rowsPerBand, shingleN).as("bands", meta))
  }

  /** [[dedupAgainst]] with the prior's PRE-BUILT signature table: the
    * standing corpus's text is scanned exactly ONCE (shingle
    * verification, and only candidate docs pay the kernel), while exact
    * fingerprints and band candidates come from `priorSigs` — at 100 TB
    * that replaces two full corpus text reads per increment with two
    * reads of a table ~1-2% the size. Same results as [[dedupAgainst]]
    * given `priorSigs == signatures(prior, ...)` with matching
    * parameters (spec-pinned).
    *
    * Bloom prefilter: a Bloom over the BATCH side's fingerprints
    * (increment-sized — the d10 trick pointed at the prior) dismisses
    * prior fingerprints that cannot match ANY batch row before they
    * reach the fingerprint-distinct exchange. With a 10x-100x
    * prior:batch ratio that removes most of that exchange's volume
    * (shuffle-records spec-pinned); false positives only let a prior
    * fingerprint through, never change a result (spec-pinned). Band
    * rows get no Bloom: at increment size the band join broadcasts the
    * batch side, so prior band rows reach no exchange (at d19 sf1 a
    * band-key Bloom changed no stage's shuffle-write records).
    *
    * The Bloom is built in ONE `treeAggregate` over the persisted
    * narrow frame, after the `count()` that populates its cache and
    * sizes it exactly (an empty batch short-circuits before any Bloom
    * exists). Sizing only tunes the false-positive rate (undersizing
    * degrades fpp gracefully), so it can never change results.
    *
    * NOTE the call is EAGER: Spark jobs run at call time (batch count,
    * Bloom build, the broadcast-gating candidate count and the
    * survivor-id checkpoint) rather than at the first action on the
    * returned frame. */
  def dedupAgainstSignatures(batch: DataFrame, priorSigs: DataFrame,
                             priorText: DataFrame,
                             idCol: String, textCol: String,
                             threshold: Double = 0.8, bands: Int = 32,
                             rowsPerBand: Int = 3,
                             shingleN: Int = 3): DataFrame = {
    require(priorSigs.columns.toSet == Set("id", "fp", "bands"),
      s"priorSigs must be a signatures() table (id, fp, bands), " +
        s"got ${priorSigs.columns.toSeq}")
    // parameter-mismatch guard: a table built with different
    // bands/rowsPerBand/shingleN never matches a band hash — silently
    // zero candidates. signatures() stamps its parameters into the
    // bands column's metadata (parquet-persistent); when present they
    // MUST agree with this call's parameters.
    locally {
      val m = priorSigs.schema("bands").metadata
      for ((name, expected) <- Seq("bands" -> bands,
          "rowsPerBand" -> rowsPerBand, "shingleN" -> shingleN))
        if (m.contains(name))
          require(m.getLong(name) == expected.toLong,
            s"priorSigs was built with $name=${m.getLong(name)} but this " +
              s"increment passes $name=$expected — band hashes would " +
              "never match and near-duplicates would be silently missed")
    }
    FrameScope(batch.sparkSession) { s =>
      val newNarrow = s.persist(
        narrowOf(batch, idCol, textCol, bands, rowsPerBand, shingleN))
      val newBands = newNarrow.select(col("id"),
        posexplode(col("bands")).as(Seq("band", "bhash")))
      // `count()` is the job that materializes the persisted narrow
      // frame's cache AND yields the exact Bloom sizing (a Catalyst
      // row-count estimate is off by orders of magnitude for narrow rows —
      // LocalRelation strings are costed at a flat 20 bytes — and an
      // undersized Bloom silently degrades to a pass-everything filter)
      val nBatch = newNarrow.count()
      if (nBatch == 0L) batch.limit(0)
      else {
        // null-text rows hash to a sentinel key (one extra Bloom entry,
        // harmless) rather than NPE-ing the aggregate
        val keyed = newNarrow.select(
          coalesce(xxhash64(col("fp")), lit(0L)).as("fph"))
        import org.apache.spark.util.sketch.BloomFilter
        val fpBloom = graft.functions.BloomMightContainExpression.serialize(
          keyed.rdd.treeAggregate(BloomFilter.create(nBatch, BloomFpp))(
            seqOp = (acc, row) => { acc.putLong(row.getLong(0)); acc },
            combOp = (a, b) => a.mergeInPlace(b)))
        val priorFp = priorSigs.select(col("fp"))
          .filter(graft.functions.BloomMightContainExpression.mightContain(
            xxhash64(col("fp")), fpBloom))
          .distinct()
        val oldBands = priorSigs.select(col("id").as("pid"),
            posexplode(col("bands")).as(Seq("band", "bhash")))
        val freshIds = newNarrow.select(col("id"), col("fp"))
          .join(priorFp, Seq("fp"), "left_anti")
          .select(col("id"))
        // lazily checkpointed: the candidate set feeds BOTH the standing-text
        // semi-join and the verify join — without materialization the band
        // join (and its two scans) would execute twice. Candidates are
        // bounded (band-collision pairs of an increment)
        val cand = s.checkpoint(newBands.join(oldBands, Seq("band", "bhash"))
          .select(col("id"), col("pid")).distinct())
        // materialize the checkpoint NOW via count() (the job the first
        // consumer would have run anyway) — the exact pair count gates the
        // broadcast hint below, the d02 conditional-broadcast discipline
        val nCandPairs = cand.count()
        val newSh = newNarrow.select(col("id"), col("sh").as("sha"))
        // the ONE standing-text scan: candidate pids semi-filter the scan
        // BEFORE the shingle kernel runs, so only candidate docs pay it —
        // broadcast-hinted while the measured candidate count stays within
        // MaxBroadcastCandidatePairs (an unhinted semi would shuffle the
        // full standing-corpus text projection)
        val oldSh = priorText.select(col(idCol).as("pid"), col(textCol))
          .join(maybeBroadcast(cand.select(col("pid")).distinct(), nCandPairs),
            Seq("pid"), "left_semi")
          .select(col("pid"), shingleCol(col(textCol), shingleN).as("shb"))
        val drops = cand.join(newSh, "id").join(oldSh, "pid")
          .filter(jaccardCol(col("sha"), col("shb")) >= threshold)
          .select(col("id")).distinct()
        // the id-sized survivor set is eagerly materialized, after which
        // the scope frees the batch-narrow persist and the candidate
        // checkpoint. The returned semi-join stays lazy; text never
        // enters storage.
        val keepIds = freshIds.join(drops, Seq("id"), "left_anti")
          .localCheckpoint(true)
        batch.join(keepIds.select(col("id").as(idCol)), Seq(idCol), "left_semi")
      }
    }
  }

  /** False-positive rate of [[dedupAgainstSignatures]]' batch-side
    * Bloom: a false positive only lets one prior fingerprint through to
    * the distinct exchange, never changes a result. */
  private val BloomFpp = 0.01

  /** Serialized Bloom filter over `benchmark`'s distinct n-gram hashes —
    * the batch-side trainer for [[graft.streaming.StreamingCuration
    * .decontaminationGate]]. Empty benchmark → empty array (gate keeps
    * everything). */
  def benchmarkBloom(benchmark: DataFrame, textCol: String, n: Int = 8,
                     fpp: Double = 0.01): Array[Byte] = {
    val bh = benchmark
      .select(explode(shingleCol(col(textCol), n)).as("s"))
      .select(xxhash64(col("s")).as("sh"))
      .distinct()
    val nBench = bh.count()
    if (nBench == 0) Array.emptyByteArray
    else graft.functions.BloomMightContainExpression.serialize(
      bh.stat.bloomFilter("sh", nBench, fpp))
  }

  /** The text's n-gram hashes that might be in the sketch (narrow HOF
    * over the row's own shingles — nothing shuffles). */
  private[graft] def bloomHits(text: Column, bytes: Array[Byte],
                               n: Int): Column =
    filter(transform(shingleCol(text, n), s => xxhash64(s)),
      h => graft.functions.BloomMightContainExpression.mightContain(h, bytes))

  /** TRUE iff any n-gram of `text` might be in the sketch — the
    * streaming gate's predicate. An empty sketch matches nothing. */
  def anyShingleInBloom(text: Column, bytes: Array[Byte], n: Int): Column =
    if (bytes.isEmpty) lit(false)
    else exists(transform(shingleCol(text, n), s => xxhash64(s)),
      h => graft.functions.BloomMightContainExpression.mightContain(h, bytes))

  /** Document frequency of word n-grams: in how many DISTINCT documents
    * does each n-gram appear (shingleCol is distinct-per-doc, so a plain
    * count IS the document frequency — no countDistinct expand needed).
    * The vocabulary/boilerplate-mining counterpart of [[repeatedSpans]]
    * at n-gram rather than sentence granularity. */
  def ngramDocFreq(df: DataFrame, textCol: String,
                   n: Int, minDocs: Long): DataFrame =
    df.select(explode(shingleCol(col(textCol), n)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  // ---- SimHash -------------------------------------------------------------

  /** 64-bit SimHash over word features. */
  def simhash(text: String): Long = {
    val counts = new Array[Int](64)
    text.split(" ").foreach { w =>
      val h = (MurmurHash3.stringHash(w).toLong << 32) |
        (MurmurHash3.stringHash(w.reverse).toLong & 0xffffffffL)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
    }
    counts.zipWithIndex.foldLeft(0L) { case (acc, (c, i)) =>
      if (c > 0) acc | (1L << i) else acc
    }
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Pigeonhole chunk values of a 64-bit signature: maxDistance+1 chunks
    * of 64/(maxDistance+1) bits each. Pure bit built-ins (shift/and), all
    * codegen. maxDistance = 0 is the full signature — `(1L << 64) - 1`
    * is 0 under JVM shift-mod-64 semantics, which would collapse every
    * row into ONE bucket and turn the candidate join all-pairs. */
  private[graft] def simhashChunkCols(sig: Column, maxDistance: Int): Seq[Column] = {
    require(maxDistance >= 0 && maxDistance <= 63,
      s"maxDistance must be in [0, 63]: $maxDistance (>= 64 makes the " +
        "chunk width 0 bits, so every chunk value is 0 and the candidate " +
        "join degenerates to an all-pairs cross join)")
    val chunks = maxDistance + 1
    val bits = 64 / chunks
    val mask = if (bits >= 64) -1L else (1L << bits) - 1
    (0 until chunks).map(i =>
      shiftrightunsigned(sig, i * bits).bitwiseAND(lit(mask)))
  }

  /** Near-dup pairs with hamming(simhash) <= maxDistance, using the
    * pigeonhole principle: split the 64-bit signature into maxDistance+1
    * chunks; any pair within distance shares at least one exact chunk, so
    * candidates come from equi-joins on (chunkIdx, chunkValue). All
    * codegen — signature via [[graft.functions.SimhashExpression]],
    * chunking via bit built-ins, hamming via bit_count(a^b); no UDF in
    * the per-document scan (d04 is a full-corpus pass at any scale). */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxDistance: Int = 3): DataFrame =
    simhashPairsFromSigs(df.select(col(idCol).as("id"),
      graft.functions.SimhashExpression.simhash64(col(textCol)).as("sig")),
      maxDistance)

  /** Pigeonhole near-dup pairs from a precomputed (id, sig) frame — the
    * banding core shared by the text ([[simhashNearDupPairs]]) and
    * binary-payload ([[Multimodal.binaryNearDupPairs]]) paths. Same
    * scale shape either way: candidates meet only on equal
    * (chunk-index, chunk-value) — an equi-join, never a cross join — and
    * run per distinct signature ([[Collapse]]); only (id, sig, chunk)
    * triples shuffle. Precondition: ids are unique. */
  def simhashPairsFromSigs(sigs: DataFrame, maxDistance: Int): DataFrame = {
    // barrier: feeds chunking (both sides of the self-join via the
    // shared exchange), the member-list joins and the within-group pairs
    // — without it the signature subtree (and its kernel source scan)
    // would execute once per consumer
    val groups = Collapse.groups(sigs, Seq(col("sig")), col("id")).localCheckpoint(false)
    val buckets = groups.select(col("gkey"), col("sig"),
      posexplode(array(simhashChunkCols(col("sig"), maxDistance): _*)).as(Seq("ci", "cv")))
    // verified before the pair dedup: narrow chunk values over correlated
    // payload bytes co-bucket aggressively (mm06's corpus: 4.58M raw
    // pairs from 4,946 signatures at 8-bit chunks, 7,230 within distance)
    val gpairs = Collapse.groupPairs(buckets, Seq("ci", "cv"))(
      _.withColumn("distance", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
        .filter(col("distance") <= maxDistance))
    // within-group distance is COMPUTED by the same bit_count(a ^ b) as
    // the cross-group verify (= 0 ≤ maxDistance), never assumed
    Collapse.idPairs(gpairs, groups,
      groups.withColumn("distance", bit_count(col("sig").bitwiseXOR(col("sig")))),
      "distance")
  }

  /** Driver reference for [[graft.functions.BinarySimhashExpression]]
    * (property-pinned): 64-bit SimHash over byte n-gram windows, each
    * window hashed by packing its bytes into a long and mixing with the
    * murmur3 fmix64 finalizer. Fewer than n bytes → one window of what
    * exists; empty → 0 (every counter ties at 0 → all bits clear). */
  def binarySimhash(bytes: Array[Byte], n: Int): Long = {
    val counts = new Array[Int](64)
    val m = math.max(bytes.length - n + 1, if (bytes.length == 0) 0 else 1)
    var i = 0
    while (i < m) {
      var h = 0xcbf29ce484222325L
      var j = i
      val end = math.min(i + n, bytes.length)
      while (j < end) { h = (h ^ (bytes(j) & 0xffL)) * 0x100000001b3L; j += 1 }
      // murmur3 fmix64 finalizer over the FNV-accumulated window
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
      h ^= h >>> 33
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    counts.zipWithIndex.foldLeft(0L) { case (acc, (c, b)) =>
      if (c > 0) acc | (1L << b) else acc
    }
  }

  /** Fuzzy duplicate pairs by edit distance within blocking keys — the
    * record-linkage shape (title/name dedup: same brand + name within k
    * edits). Candidates meet ONLY inside a block (an equi-join on the
    * blocking columns, never an all-pairs cross join), a cheap length
    * bound prunes before the quadratic-cost comparison, and Spark's
    * bounded `levenshtein(l, r, k)` early-exits past the threshold.
    *
    * The quadratic comparison runs over DISTINCT (block, text) values,
    * not rows ([[Collapse]]); verdicts expand back to id pairs.
    *
    * Scale contract: comparisons per block are O(u²) in the DISTINCT
    * values per block — pick blocking keys that keep u bounded (brand,
    * zip, sort-key prefix, a fingerprint band). The shuffle carries
    * (block, id, string) rows, each row once. Output: (id_a, id_b,
    * dist), id_a < id_b.
    *
    * Degenerate-block hardening (the d02 oversized-bucket discipline,
    * r13): a block whose DISTINCT-value count exceeds `maxBlockSize`
    * is excluded from pairing entirely — such a key (a null brand, an
    * "UNKNOWN" sentinel) is not discriminating, and its u² cell would
    * be the one quadratic job that never finishes at corpus scale.
    * Unlike d02 there is no second band to catch the pair, so the drop
    * IS a recall cut: audit candidates for exclusion up front with
    * [[fuzzyOversizedBlocks]] and re-block them with a finer key. */
  def fuzzyDupPairs(df: DataFrame, idCol: String, textCol: String,
                    blockCols: Seq[String], maxDist: Int,
                    maxBlockSize: Int = 100000): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    require(blockCols.nonEmpty,
      "fuzzyDupPairs requires blocking columns (an unblocked fuzzy join " +
        "is an all-pairs cross join — at scale, block first)")
    val recs = df.select(blockCols.map(col) :+ col(idCol).as("_id") :+
      col(textCol).as("_t"): _*)
    // barrier: feeds the oversize cap, both self-join sides, the
    // member-list joins and the within-group pairs — without it the
    // aggregate re-runs per consumer
    val groups = Collapse.groups(recs, blockCols.map(col) :+ col("_t"), col("_id"))
      .localCheckpoint(false)
    val kept = Collapse.cap(groups, blockCols, maxBlockSize)
    // a cheap length bound prunes before the bounded edit distance, which
    // returns -1 past the cap
    val gpairs = Collapse.groupPairs(kept.select(blockCols.map(col) :+
        col("gkey") :+ col("_t"): _*), blockCols)(
      _.filter(abs(length(col("_t_a")) - length(col("_t_b"))) <= maxDist)
        .withColumn("dist", levenshtein(col("_t_a"), col("_t_b"), maxDist))
        .filter(col("dist") >= 0))
    // equal texts pair at dist 0 — except a null text or block key, which
    // never equals anything (as in the self-join)
    Collapse.idPairs(gpairs, groups,
      kept.filter((col("_t") +: blockCols.map(col)).map(_.isNotNull).reduce(_ && _))
        .withColumn("dist", lit(0)),
      "dist")
  }

  /** The blocks [[fuzzyDupPairs]] would exclude at `maxBlockSize` —
    * (blockCols..., n_distinct) — the pre-run audit for re-blocking
    * degenerate keys (the drop there is a recall cut, not a pruning).
    * The count is [[Collapse.oversized]]'s, the one `fuzzyDupPairs`
    * caps with. */
  def fuzzyOversizedBlocks(df: DataFrame, textCol: String,
                           blockCols: Seq[String],
                           maxBlockSize: Int = 100000): DataFrame =
    Collapse.oversized(df.select(blockCols.map(col) :+ col(textCol).as("_t"): _*).distinct(),
        blockCols, maxBlockSize)
      .withColumnRenamed("n", "n_distinct")

  /** Cross-document duplicate-PASSAGE removal (the corpus-level exact
    * substring dedup of Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", and C4's duplicate-span discard):
    * every w-token window that occurs more than once ANYWHERE in the
    * corpus is removed from all but its global first occurrence
    * (first = min (id, position) — deterministic, partitioning-free).
    * Tokens covered by any removed window are dropped; the survivors
    * re-join with single spaces.
    *
    * This is the cross-corpus complement of
    * [[TextAnalysis.dedupSpansInDoc]] (which dedups WITHIN one row):
    * boilerplate headers, license blocks, and syndicated paragraphs
    * repeat across millions of pages, and n-gram-level overlap between
    * train and test is exactly what the memorization literature measures.
    *
    * Scale shape: window hashes are built INSIDE the row (one HOF pass,
    * md5 over the w-token slice — text never explodes); the only wide
    * exchange carries (hash, id, pos) tuples, one per token, like the
    * d13 fingerprint discipline. Duplicated-window groups collapse to a
    * min-struct aggregate (map-side partial); removal starts fold back
    * to one bounded array per affected document (≤ tokens/1 entries,
    * bounded by document length — chunk long documents first, see
    * [[TextAnalysis.chunkTokens]]); the rebuild is one codegen
    * index-filter pass over the original token array. Document text
    * crosses an exchange only in the final starts-attach join, and only
    * when the affected-doc set is too large to broadcast.
    *
    * Exactness: candidate generation IS the verdict (equal md5 ⇒ equal
    * window up to md5 collision, ~2⁻⁶⁴ per pair) — no recall knob, unlike
    * the minhash/simhash near-dup family.
    *
    * Output: (idCol, n_tokens, n_removed, clean_text), one row per input
    * row, n_removed = 0 and clean_text = original normalized text for
    * untouched documents. */
  def removeDuplicatePassages(df: DataFrame, idCol: String, textCol: String,
                              w: Int): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens: $w (w = 1 removes every " +
      "repeated token — that is vocabulary truncation, not passage dedup)")
    for (c <- Seq("_id", "_toks", "_hs", "_pos", "_h", "_keep", "_c", "_starts")
         if df.columns.contains(c))
      throw new IllegalArgumentException(
        s"removeDuplicatePassages: input must not contain column '$c' " +
          "(reserved working name); rename it first")
    // whitespace-normalized token array; split keeps trailing empties
    // (limit -1) so the token grid matches a plain single-space split in
    // any other engine
    val base = df.select(col(idCol).as("_id"),
      split(trim(col(textCol)), " ", -1).as("_toks"))
    // one md5 per window position via the codegen kernel (the column
    // formulation — transform + slice + concat_ws + md5 — evaluates
    // through interpreted HOF plumbing per position; equivalence pinned
    // by OpsSpec). Text never explodes: only (hash, id, pos) tuples do.
    val occ = df.select(col(idCol).as("_id"),
      posexplode(graft.functions.ShingleExpressions
        .windowHashes(col(textCol), w)).as(Seq("_pos", "_h")))
    // global first occurrence per duplicated window: a map-side-combining
    // min/count aggregate, then a join back to the occurrences. NOT a
    // window over _h: a boilerplate window repeated across millions of
    // documents (license lines, nav text) would put every occurrence in
    // ONE WindowExec sort group — a single-task hot spot no salting can
    // fix, while hash-aggregate partials absorb the same skew map-side.
    // The price is that occ's upstream (the window-hash kernel scan) is
    // evaluated twice — stateless CPU, preferred at 100 TB over
    // materializing a per-token frame
    val dups = occ.groupBy("_h")
      .agg(min(struct(col("_id"), col("_pos"))).as("_keep"),
        count(lit(1)).as("_c"))
      .filter(col("_c") > 1)
      .select(col("_h"), col("_keep"))
    val removals = occ.join(dups, "_h")
      .filter(struct(col("_id"), col("_pos")) =!= col("_keep"))
      .groupBy("_id")
      .agg(sort_array(collect_set(col("_pos"))).as("_starts"))
    applyWindowRemovals(base, removals, idCol, w)
  }

  /** Shared removal tail for the window-scrubbing family: drop every
    * token covered by a removal window start, re-join survivors.
    * `base` = (_id, _toks); `removals` = (_id, _starts sorted). A token
    * survives iff no removal window covers its index; one codegen
    * pass, O(tokens × starts) worst case per row — `exists`
    * short-circuits and affected docs carry few starts. */
  private def applyWindowRemovals(base: DataFrame, removals: DataFrame,
                                  idCol: String, w: Int): DataFrame = {
    val starts = coalesce(col("_starts"), array().cast("array<int>"))
    def covered(i: Column): Column =
      exists(starts, s => i >= s && i < s + w)
    val kept = filter(col("_toks"), (_, i) => !covered(i))
    base.join(removals, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        size(col("_toks")).cast("long").as("n_tokens"),
        (size(col("_toks")) - size(kept)).cast("long").as("n_removed"),
        array_join(kept, " ").as("clean_text"))
  }

  /** SURGICAL decontamination — remove every n-token window that occurs
    * anywhere in `benchmark` from the corpus TEXT (ALL occurrences;
    * unlike [[removeDuplicatePassages]] there is no first-occurrence
    * keeper — an eval span may keep no copy), leaving the rest of the
    * document intact. The lab-standard alternative to
    * [[contamination]]/[[bloomContamination]]'s whole-document verdict
    * for corpora that are mostly clean but QUOTE eval items: dropping a
    * 5,000-token document over one leaked question wastes the other
    * 4,992 tokens; scrubbing removes exactly the leak.
    *
    * Scale shape is [[removeDuplicatePassages]]'s: document text never
    * explodes — only (id, pos, hash) tuples do — and the per-document
    * removal tail is one codegen pass. The benchmark's DISTINCT window
    * hashes are eval-suite-sized and broadcast into a semi-join, so
    * corpus occurrences never shuffle on the hash at any corpus size.
    * Windows use the same md5 window-hash kernel on both sides
    * (documents or benchmark rows shorter than `n` tokens contribute no
    * windows). Output: (idCol, n_tokens, n_removed, clean_text), one
    * row per input row. */
  def scrubContamination(df: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 8): DataFrame = {
    require(n >= 2, s"window must be >= 2 tokens: $n")
    for (c <- Seq("_id", "_toks", "_pos", "_h", "_starts")
         if df.columns.contains(c))
      throw new IllegalArgumentException(
        s"scrubContamination: input must not contain column '$c' " +
          "(reserved working name); rename it first")
    val base = df.select(col(idCol).as("_id"),
      split(trim(col(textCol)), " ", -1).as("_toks"))
    val occ = df.select(col(idCol).as("_id"),
      posexplode(graft.functions.ShingleExpressions
        .windowHashes(col(textCol), n)).as(Seq("_pos", "_h")))
    val benchH = benchmark.select(
      explode(graft.functions.ShingleExpressions
        .windowHashes(col(textCol), n)).as("_h")).distinct()
    val removals = occ.join(broadcast(benchH), Seq("_h"), "left_semi")
      .groupBy("_id")
      .agg(sort_array(collect_set(col("_pos"))).as("_starts"))
    applyWindowRemovals(base, removals, idCol, n)
  }
}
