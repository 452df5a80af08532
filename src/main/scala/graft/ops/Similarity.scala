package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY.md §2.9).
  *
  * Two paths:
  *  - brute-force cosine top-k — the exactness baseline; dot products via
  *    zip_with/aggregate (codegen, no UDF). O(n·m) pairs: fine for a
  *    broadcast-sized query set against a big corpus (broadcast the queries,
  *    the corpus streams through one narrow stage), wrong tool for all-pairs
  *    at 100 TB.
  *  - random-hyperplane LSH bucketing — the scale path: each vector maps to
  *    a small bucket signature (narrow map), candidates meet in a bucket
  *    equi-join, exact cosine re-ranks only within buckets.
  */
object Similarity {

  /** Dot product of two array<double> columns — a native codegen Catalyst
    * expression (see graft.functions.DotProduct); same sequential
    * accumulation order as a plain loop, so results are bit-identical to
    * the HOF formulation it replaces. */
  def dot(a: Column, b: Column): Column = graft.functions.GraftFunctions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero magnitude —
    * Spark 4's ANSI mode throws DIVIDE_BY_ZERO even on DOUBLE division,
    * so an unguarded quotient lets one zero embedding kill a whole
    * corpus-scale job. (Zero-norm rows never top a ranking at 0.0.) */
  def cosine(a: Column, b: Column): Column =
    safeCosine(dot(a, b), norm(a), norm(b))

  /** dotv / (na * nb), guarded for zero norms (see [[cosine]]). */
  private def safeCosine(dotv: Column, na: Column, nb: Column): Column =
    when(na * nb === 0, lit(0.0)).otherwise(dotv / (na * nb))

  /** Top-k per query over scored (query_id, neighbor_id, cosine) triples,
    * emitted as (query_id, neighbor_id, cosine, rank).
    *
    * Uses the bounded graft_topk aggregate instead of
    * `row_number().over(Window)`: the window formulation shuffles EVERY
    * scored triple into a sort, so an O(n·m) sweep moves n·m rows through
    * one exchange. The aggregate reduces map-side (ObjectHashAggregate
    * partial) to ≤ k rows per query per task before the shuffle — at 100 TB
    * the exchange carries tasks × |Q| × k rows, independent of corpus size.
    * Ordering (cosine desc, neighbor_id asc) matches the window it
    * replaces, so output is deterministic and engine-portable. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate.topk(
        col("cosine"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "c")))
      .select(col("query_id"), col("c.id").as("neighbor_id"),
        round(col("c.score"), 4).as("cosine"),
        (col("pos") + 1).as("rank"))

  /** Exact top-k neighbours for every vector in `queries` against `corpus`.
    * Both frames: (idCol, vecCol: array<float|double>). Output:
    * (query_id, neighbor_id, cosine, rank). Broadcasts the query side; each
    * side's norm is computed ONCE per row before the join (the O(n·m) stage
    * then does a single dot per pair). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame =
    rankTopK(scoredPairs(corpus, queries, idCol, vecCol), k)

  /** Hard-negative mining for contrastive training data: each query's
    * top-k most-similar corpus rows EXCLUDING anything essentially
    * identical to it (cosine > `maxCosine`) — exact and near duplicates
    * are false "negatives", and the most instructive negatives are the
    * closest non-duplicates. Same bounded-|Q| broadcast contract and
    * bounded map-side top-k as [[bruteForceTopK]]; the ceiling filter
    * runs before the aggregate, so excluded pairs never leave the scan
    * stage. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    maxCosine: Double = 0.99): DataFrame =
    rankTopK(scoredPairs(corpus, queries, idCol, vecCol)
      .filter(col("cosine") <= maxCosine), k)

  /** Matryoshka-style truncated-prefix ANN: candidates are scored on the
    * FIRST `dims` dimensions only (a narrow `slice` — the O(n·m) sweep
    * reads dims/D of each vector's data), the bounded aggregate keeps
    * k·overfetch per query, and survivors are exact-re-ranked on the full
    * vectors — the standard cheap-filter / exact-verify two-stage used
    * with Matryoshka-trained embeddings, where the prefix is trained to
    * be a usable embedding on its own.
    *
    * Exact-duplicate queries keep certainty (an identical vector has an
    * identical prefix, truncated cosine 1.0 = the maximum), which is what
    * makes the approximate path oracle-checkable (s09). */
  def truncatedTopK(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int, dims: Int,
                    overfetch: Int = 4): DataFrame = {
    require(dims >= 1, s"dims must be >= 1: $dims")
    require(overfetch >= 1, s"overfetch must be >= 1: $overfetch")
    val candidates = rankTopK(
      scoredPairs(corpus, queries, idCol, vecCol,
        v => slice(v, 1, dims)), k * overfetch)
      .select(col("query_id"), col("neighbor_id"))
    exactReRank(corpus, queries, idCol, vecCol, candidates, k)
  }

  /** All (query, corpus) cosine pairs under the bounded-broadcast-|Q|
    * contract, self-pairs excluded: only (query_id, neighbor_id, cosine)
    * triples leave the scan — vectors are projected away before anything
    * downstream. `prep` transforms each vector (e.g. prefix truncation)
    * before norms and dots. */
  private def scoredPairs(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String,
                          prep: Column => Column = identity): DataFrame = {
    val q = broadcast(queries.select(
        col(idCol).as("query_id"),
        prep(col(vecCol).cast("array<double>")).as("qv"))
      .withColumn("qn", norm(col("qv"))))
    val c = corpus.select(
        col(idCol).as("neighbor_id"),
        prep(col(vecCol).cast("array<double>")).as("cv"))
      .withColumn("cn", norm(col("cv")))
    c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        safeCosine(dot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine"))
  }

  /** Deterministic random hyperplanes (seeded) for sign-LSH. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Int = 42): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id for a vector column: bit i = sign(v · plane_i).
    * Pure column expression over a literal plane matrix. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, typedlit(p.toSeq)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** (table, bucket) pairs for ALL hash tables from ONE pass over the
    * vector column: element t of the array is table t's bucket id, so
    * posexplode recovers the table index. One corpus scan instead of
    * numTables — per-table scan subtrees each re-read and re-decode every
    * vector — and one kernel call instead of numTables × numPlanes inlined
    * when/dot chains. */
  private def allTableBuckets(vec: Column, numPlanes: Int, numTables: Int,
                              dim: Int, seedBase: Int): Column =
    graft.functions.SignLshBucketsExpression.signLshBuckets(
      vec, numPlanes, numTables, dim, seedBase)

  /** Identical-vector collapse around a candidate-pair ANN path: group
    * each side by the (double-cast) vector, generate candidates over
    * DISTINCT vectors only, score each distinct pair once, then expand
    * back to ids and rank. Exact under [[rankTopK]]'s (cosine desc, id
    * asc) order, because copies of one vector are interchangeable except
    * for id: a corpus group's k+1 smallest ids are the only copies that
    * can reach ANY query's top-k (the +1 spare covers the one self-match
    * a query id can exclude), and they ride a bounded aggregate
    * (score −id; exact for |id| < 2^53).
    *
    * This is the 100 TB shape: a crawled-embedding corpus is massively
    * EXACT-duplicated, and without the collapse the candidate-pair count
    * is QUADRATIC in the duplication factor (100-way duplicates =
    * 10,000× the pairs, whose vector re-attach joins then shuffle
    * corpus-sized payloads — the sf10 full-registry bench filled 78 GB
    * of spill and died on exactly this). With it, candidate generation
    * and scoring are duplication-independent, and only id-sized rows
    * expand at the end.
    *
    * `candidatePairs` receives the two distinct-vector frames as
    * (id, vec) — vec already cast array<double>, id = the group's
    * smallest member id — and returns (qkey, ckey) candidate pairs.
    *
    * Preconditions (both enforced or documented loudly, not silent):
    * ids must be an INTEGRAL type — groups key on long-cast ids, so a
    * string id would cast to null and a fractional one would collapse
    * distinct ids ([[requireIntegralId]] throws at plan time) — and ids
    * must be unique (a duplicated id could occupy two of a group's k+1
    * slots; `array_distinct` below drops the repeat from the expansion,
    * but the slot it ate is not recoverable). */
  private[ops] def collapsedTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int)(
      candidatePairs: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import graft.functions.TopKAggregate
    requireIntegralId(corpus, idCol, "collapsedTopK (lshTopK/ivfTopK)")
    requireIntegralId(queries, idCol, "collapsedTopK (lshTopK/ivfTopK)")
    // distinct corpus vectors: key = smallest member id; cids = the k+1
    // smallest member ids, ascending (topk orders by −id desc = id asc)
    // Lazily checkpointed (the Dedup candidate-set shape): each distinct
    // frame feeds BOTH candidate generation and the scoring join —
    // without a barrier the corpus dedup aggregate would execute per
    // consumer (two full corpus scans at 100 TB). Frames are
    // distinct-vector-sized; blocks release on GC.
    val dc = corpus
      .groupBy(col(vecCol).cast("array<double>").as("cv"))
      .agg(TopKAggregate.topk(-col(idCol).cast("double"),
        col(idCol).cast("long"), k + 1).as("top"))
      .select(col("cv"), expr("transform(top, x -> x.id)").as("cids"))
      .withColumn("ckey", element_at(col("cids"), 1))
      .localCheckpoint(false)
    val dq = queries
      .groupBy(col(vecCol).cast("array<double>").as("qv"))
      .agg(min(col(idCol).cast("long")).as("qkey"))
      .localCheckpoint(false)
    val pairs = candidatePairs(
      dc.select(col("ckey").as("id"), col("cv").as("vec")),
      dq.select(col("qkey").as("id"), col("qv").as("vec")))
    // score once per distinct pair. Vectors re-attach BY ID from the
    // ORIGINAL frames (the exactReRank shape): ckey/qkey are real member
    // ids, and id-keyed equi-joins let the planner broadcast from real
    // source stats — the checkpointed distinct frames carry no stats, so
    // joining their vectors directly would force a sort-merge moving
    // vector payloads. Each vector crosses the wire at most once.
    val cv = corpus.select(col(idCol).cast("long").as("ckey"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", norm(col("cv")))
    val qv = queries.select(col(idCol).cast("long").as("qkey"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val scored = pairs
      .join(qv, "qkey")
      .join(cv, "ckey")
      .select(col("qkey"), col("ckey"),
        safeCosine(dot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine"))
      // the group id-list rides an id-keyed join: array<long>, ≤ k+1
      // elements — a bounded id tuple, never a vector payload
      .join(dc.select(col("ckey"), col("cids")), "ckey")
    // expand: every query id of a distinct query vector sees its group's
    // candidates (vector-equality equi-join — the one place the vector IS
    // the key; |Q| id-plus-vector rows cross once, linear); self-matches
    // drop per id (the k+1 spare covers the one id a query can exclude)
    val queryIds = queries
      .select(col(idCol).cast("long").as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .join(dq, "qv")
      .select(col("query_id"), col("qkey"))
    val expanded = queryIds
      .join(scored, "qkey")
      // array_distinct: belt-and-braces for duplicated input ids (a
      // repeat inside one group would emit a neighbor twice and occupy
      // two top-k slots); a no-op on unique ids, bounded ≤ k+1 elements
      .select(col("query_id"),
        explode(array_distinct(col("cids"))).as("neighbor_id"),
        col("cosine"))
      .filter(col("query_id") =!= col("neighbor_id"))
    rankTopK(expanded, k)
  }

  /** Loud plan-time guard for the long-keyed collapse paths: a string id
    * would cast to null (every group keyed null → one giant group, wrong
    * answers with no error) and a fractional id would collapse distinct
    * ids onto one long. bruteForceTopK/pqTopK/quantizedTopK keep the
    * caller's id type and take no such cast — use those for non-integral
    * ids. */
  private def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$op requires an integral id column (byte/short/int/long), got " +
        s"'$idCol': ${dt.simpleString}. The identical-vector collapse keys " +
        "groups on long-cast ids; a non-integral id would cast to " +
        "null/lossy and silently corrupt results. Use bruteForceTopK/" +
        "pqTopK/quantizedTopK for non-integral ids.")
  }

  /** Approximate top-k: bucket corpus and queries by sign-LSH, join within
    * buckets (optionally with multi-probe via numTables different seeds),
    * exact cosine re-rank inside the candidate set.
    *
    * Shuffle discipline (the s04/d02 pattern, plus [[collapsedTopK]]):
    * buckets are computed per DISTINCT vector (identical vectors share
    * every bucket of every table, so collapsing first changes nothing
    * about the candidate set), the bucket joins move only (table, bucket,
    * id) tuples, and vectors attach once per distinct candidate pair. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              numPlanes: Int = 12, numTables: Int = 4, dim: Int = 64): DataFrame =
    collapsedTopK(corpus, queries, idCol, vecCol, k) { (c, q) =>
      def bucketed(df: DataFrame, outId: String) = df.select(
        col("id").as(outId),
        posexplode(allTableBuckets(col("vec"),
          numPlanes, numTables, dim, seedBase = 42)).as(Seq("table", "bucket")))
      bucketed(c, "ckey")
        .join(bucketed(q, "qkey"), Seq("table", "bucket"))
        .select(col("qkey"), col("ckey"))
        .dropDuplicates("qkey", "ckey")
    }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nlist` centroids
    * partitions the corpus into cells; each query probes its `nprobe`
    * nearest cells and exact-cosine re-ranks only those candidates.
    *
    * Scale shape: centroids are tiny (nlist × dim) — trained on a seeded
    * sample collected to the driver (Lloyd iterations over the sample),
    * then broadcast inside the assignment expression. Corpus assignment is
    * a narrow map; the probe is an equi-join on cell id. At 100 TB the
    * corpus assignment is computed once and reused (write `cell` as a
    * partition column), and nprobe bounds the scanned fraction to
    * ~nprobe/nlist of the corpus per query.
    *
    * Identical query/corpus vectors always land in the same cell (argmin
    * over the same centroids), so exact-duplicate queries are found with
    * certainty — which is what makes the approximate path oracle-checkable
    * (see s03 in OpsQueries). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nlist: Int = 16, nprobe: Int = 2, lloydIters: Int = 5,
              sampleSize: Int = 512, seed: Int = 42): DataFrame = {
    val centroids = trainCentroids(corpus, vecCol, nlist, lloydIters, sampleSize, seed)
    // pre-cast ids to long so the empty short-circuit's schema agrees
    // with the non-empty collapsedTopK path, which long-casts ids —
    // per-shard unions break exactly when one shard is empty and the
    // two paths disagree on the id type
    if (centroids.isEmpty)
      return emptyTopK(
        corpus.select(col(idCol).cast("long").as(idCol)),
        queries.select(col(idCol).cast("long").as(idCol)), idCol, k)

    // cell assignment is a narrow map (one kernel pass over the broadcast
    // centroid matrix — graft.functions.IvfCellsExpression) computed per
    // DISTINCT vector (identical vectors share their argmin cell, so the
    // collapse changes nothing about the candidate set); the cell join
    // moves ONLY (cell, id) pairs — a distinct corpus vector lives in
    // exactly one cell and a distinct query probes distinct cells, so
    // (qkey, ckey) pairs are already unique and need no dedup shuffle
    collapsedTopK(corpus, queries, idCol, vecCol, k) { (c, q) =>
      def cellsOf(vec: Column, n: Int): Column =
        graft.functions.IvfCellsExpression.ivfCells(vec, centroids, n)
      val cIds = c.select(col("id").as("ckey"),
        element_at(cellsOf(col("vec"), 1), 1).as("cell"))
      val qIds = q.select(col("id").as("qkey"),
        explode(cellsOf(col("vec"), nprobe)).as("cell"))
      cIds.join(qIds, Seq("cell")).select(col("qkey"), col("ckey"))
    }
  }

  /** [[ivfTopK]] with nlist derived from the corpus size: nlist = √n
    * clamped to [16, 65536] (the standard IVF sizing — cells hold ~√n
    * vectors, so the probed fraction SHRINKS as the corpus grows and the
    * sweep is ~m·√n instead of n·m/16; the sf0.1→sf1 scaling check
    * measured the fixed-nlist registered query at 50× for 10× data).
    * The training sample scales to 8 vectors per centroid (still a
    * driver-side collect — 8·√n rows, ~2 MB at n = 10⁹ and dim 64). */
  def ivfTopKAuto(corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  nprobe: Int = 2, lloydIters: Int = 5,
                  seed: Int = 42): DataFrame = {
    val n = corpus.count()
    val nlist = math.min(math.max(math.sqrt(n.toDouble).toInt, 16), 65536)
    ivfTopK(corpus, queries, idCol, vecCol, k, nlist = nlist, nprobe = nprobe,
      lloydIters = lloydIters, sampleSize = math.max(512, nlist * 8), seed = seed)
  }

  /** Deterministic Lloyd k-means over a seeded sample (driver-side: the
    * sample is `sampleSize` vectors, the centroids nlist × dim doubles). */
  private[ops] def trainCentroids(corpus: DataFrame, vecCol: String,
                                  nlist: Int, iters: Int,
                                  sampleSize: Int, seed: Int): Array[Array[Double]] = {
    val sample = sampleVectors(corpus, vecCol, sampleSize, seed)
    if (sample.isEmpty) Array.empty // caller decides (empty top-k)
    else lloyd(sample, nlist, iters)
  }

  /** Seeded deterministic vector sample collected to the driver, over the
    * DISTINCT vectors. Distinct-first matters on a duplicated corpus (the
    * crawled shape): a value-hash sort groups identical vectors
    * adjacently, so a top-`sampleSize` slice of the RAW corpus covers
    * only sampleSize/dupFactor distinct vectors — at 100-way duplication
    * the IVF quantizer then trains on ~1% of the vector space, collapses
    * most cells, and per-query candidate lists blow up by the duplication
    * factor (measured at sf10: 610k candidate pairs vs 18k, s03 73 s vs
    * 7 s). The hash rides the raw double array — no per-element string
    * cast on the sort key (that cast alone was 115 s of executor time at
    * 200k×64). */
  private def sampleVectors(corpus: DataFrame, vecCol: String,
                            sampleSize: Int, seed: Int): Array[Array[Double]] =
    corpus.select(col(vecCol).cast("array<double>").as("v")).distinct()
      .orderBy(xxhash64(col("v"), lit(seed)))
      .limit(sampleSize)
      .collect().map(_.getSeq[Double](0).toArray)

  /** Deterministic Lloyd iterations over an in-memory sample. */
  private[ops] def lloyd(sample: Array[Array[Double]], k: Int,
                         iters: Int): Array[Array[Double]] = {
    var centroids = Array.tabulate(math.min(k, sample.length))(i => sample(i).clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](sample.head.length))
      val counts = new Array[Int](centroids.length)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var ci = 0
        while (ci < centroids.length) {
          var d = 0.0; var j = 0
          val c = centroids(ci)
          while (j < v.length) { val t = v(j) - c(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = ci }
          ci += 1
        }
        counts(best) += 1
        var j = 0
        while (j < v.length) { sums(best)(j) += v(j); j += 1 }
      }
      centroids = centroids.indices.map { ci =>
        if (counts(ci) == 0) centroids(ci)
        else sums(ci).map(_ / counts(ci))
      }.toArray
    }
    centroids
  }

  /** Symmetric per-vector int8 quantization: scale = max|v|/127, elements
    * round(v/scale) in [-127, 127] — 4× less vector IO for ANN sweeps at
    * 100 TB (store the struct, dequantize on read or dot in int space).
    * All-zero vectors quantize to zeros with scale 0.
    *
    * One-pass codegen kernel (graft.functions.QuantizeInt8); semantically
    * identical to [[quantizeInt8Hof]], which stays as the parity oracle. */
  def quantizeInt8(vec: Column): Column =
    graft.functions.QuantizeInt8.quantize(vec)

  /** The built-in-functions formulation of [[quantizeInt8]] — interpreted
    * (HOFs have no codegen) and re-inlined per consumer by projection
    * collapse, so it is the test oracle, not the production path. */
  private[graft] def quantizeInt8Hof(vec: Column): Column = {
    val m = array_max(transform(vec, x => abs(x)))
    struct(
      (m / lit(127.0)).as("scale"),
      transform(vec, x =>
        when(m === 0, lit(0)).otherwise(round(x * lit(127.0) / m))
          .cast("tinyint")).as("q"))
  }

  /** Inverse of [[quantizeInt8]]: element error is bounded by scale/2. */
  def dequantizeInt8(quantized: Column): Column = {
    val scale = quantized.getField("scale")
    transform(quantized.getField("q"), x => x.cast("double") * scale)
  }

  /** Approximate top-k over an int8-quantized corpus: the candidate sweep
    * scores scale_q·scale_c·(q̂·ĉ)/(‖vq‖·‖vc‖) with an integer dot product
    * (graft.functions.Int8DotProduct — exact in Long), then full-precision
    * vectors are re-attached to just the k·overfetch survivors per query
    * for an exact cosine re-rank. Same bounded-broadcast-|Q| contract as
    * [[bruteForceTopK]], but the O(n·m) stage reads 1 byte per dimension
    * instead of 8 — at 100 TB the quantized corpus is what sits on disk
    * and in the scan, and only candidate ids cross a shuffle. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    overfetch: Int = 4): DataFrame = {
    import graft.functions.GraftFunctions.dotInt8
    def prep(df: DataFrame, id: String, p: String) = df
      .select(col(idCol).as(id),
        quantizeInt8(col(vecCol).cast("array<double>")).as("qz"),
        norm(col(vecCol).cast("array<double>")).as(s"${p}n"))
      .select(col(id), col("qz").getField("scale").as(s"${p}s"),
        col("qz").getField("q").as(s"${p}q"), col(s"${p}n"))
    val q = broadcast(prep(queries, "query_id", "q"))
    val c = prep(corpus, "neighbor_id", "c")
    // quantized scan: only (query_id, neighbor_id, approx) triples leave
    // it, and the bounded topk aggregate collapses them to k·overfetch per
    // query INSIDE each scan task — the only exchange in the O(n·m) stage
    // carries tasks × |Q| × k·overfetch rows, not n·m
    val approx = c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        safeCosine(col("qs") * col("cs") * dotInt8(col("qq"), col("cq")),
          col("qn"), col("cn")).as("approx"))
    val candidates = approx.groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate.topk(
        col("approx"), col("neighbor_id"), k * overfetch).as("top"))
      .select(col("query_id"),
        explode(col("top").getField("id")).as("neighbor_id"))
    exactReRank(corpus, queries, idCol, vecCol, candidates, k)
  }

  /** Empty top-k for an EMPTY corpus (e.g. a filtered-to-nothing pipeline
    * stage): no quantizer to train, no neighbours to return — empty
    * result, not a crash. Built from zero-row slices of the REAL frames
    * and through the same rankTopK as the non-empty path, so column
    * names, TYPES, nullability, and metadata cannot drift between the two
    * paths (per-shard unions break exactly when one shard is empty; a
    * spark.emptyDataFrame + lit() spelling would hardcode the id types
    * instead of inheriting the caller's). Catalyst folds the empty join
    * to a LocalRelation — nothing executes. */
  private def emptyTopK(corpus: DataFrame, queries: DataFrame,
                        idCol: String, k: Int): DataFrame =
    rankTopK(
      queries.select(col(idCol).as("query_id")).limit(0)
        .crossJoin(corpus.select(col(idCol).as("neighbor_id")).limit(0))
        .withColumn("cosine", lit(0.0)),
      k)

  /** Shared ANN tail: exact cosine over (query_id, neighbor_id) candidate
    * pairs — full vectors re-attach by id-equi-join (each embedding
    * crosses the wire once), norms computed once per row, bounded top-k. */
  private def exactReRank(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String,
                          candidates: DataFrame, k: Int): DataFrame = {
    val cv = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", norm(col("cv")))
    val qv = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val scored = candidates
      .join(qv, "query_id")
      .join(cv, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        safeCosine(dot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine"))
    rankTopK(scored, k)
  }

  /** Per-subspace PQ codebooks off a seeded driver sample: subspace m of
    * M covers dims [m·D/M, (m+1)·D/M); each gets `ksub` Lloyd centroids
    * (clamped to the sample size; <= 256 so codes fit one byte). */
  private[ops] def trainPqCodebooks(corpus: DataFrame, vecCol: String,
                                    m: Int, ksub: Int, iters: Int,
                                    sampleSize: Int, seed: Int): Array[Array[Array[Double]]] = {
    require(ksub >= 1 && ksub <= 256, s"ksub must be in [1, 256]: $ksub")
    require(m >= 1, s"m must be >= 1: $m")
    val sample = sampleVectors(corpus, vecCol, sampleSize, seed)
    if (sample.isEmpty) return Array.empty
    val dim = sample.head.length
    val mEff = math.min(m, dim) // low-dim vectors: one dim per subspace
    val bounds = graft.functions.PqExpressions.subBounds(dim, mEff)
    Array.tabulate(mEff) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, bounds(s), bounds(s + 1)))
      lloyd(sub, ksub, iters)
    }
  }

  /** Product-quantization ANN: the 100 TB memory story for vector search.
    * The corpus rides the O(n·m) sweep as M one-byte codes + one stored
    * norm per row (16-32× smaller than the raw vectors, 4-8× smaller than
    * [[quantizedTopK]]'s int8); queries precompute an M×ksub table of
    * partial dot products ONCE on the broadcast side, so scoring a corpus
    * row is M table lookups (asymmetric distance computation) — no vector
    * arithmetic at all in the hot stage. Top k·overfetch approximate
    * survivors per query re-rank against full-precision vectors
    * re-attached by id, same as the int8 path.
    *
    * Codebooks train driver-side on a seeded sample (the IVF centroid
    * pattern) and ship as expression literals — nothing joins against
    * them. Identical vectors encode to identical codes, so planted
    * exact-duplicate queries are recoverable (the s02/s03/s06 oracle
    * pattern); near-misses are covered by the overfetch + exact re-rank.
    *
    * Cache note for the sweep: the nested-loop join iterates queries per
    * corpus row, touching EVERY query's LUT — the working set is
    * |Q|·m·ksub·8 bytes. Size ksub so that set fits the last-level cache
    * (|Q|=5000, m=16: ksub=16 → 10 MB, cache-resident; ksub=256 →
    * 160 MB, every ADC lookup is a memory stall — measured 2.3× slower
    * end-to-end). A blocked mapPartitions sweep (query-block-major, LUT
    * block hot) is the next step if |Q|·ksub must both be large. */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             m: Int = 16, ksub: Int = 256, overfetch: Int = 4,
             lloydIters: Int = 5, sampleSize: Int = 512,
             seed: Int = 42): DataFrame = {
    import graft.functions.PqExpressions
    val codebooks = trainPqCodebooks(corpus, vecCol, m, ksub, lloydIters,
      sampleSize, seed)
    if (codebooks.isEmpty) return emptyTopK(corpus, queries, idCol, k)
    val kmax = codebooks.map(_.length).max
    val c = corpus.select(col(idCol).as("neighbor_id"),
      PqExpressions.pqEncode(col(vecCol).cast("array<double>"), codebooks).as("codes"),
      norm(col(vecCol).cast("array<double>")).as("cn"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      PqExpressions.pqLut(col(vecCol).cast("array<double>"), codebooks).as("lut"),
      norm(col(vecCol).cast("array<double>")).as("qn")))
    // the sweep reads M bytes + one norm per corpus row; the bounded topk
    // aggregate collapses scores to k·overfetch per query inside each scan
    // task — the only exchange carries tasks × |Q| × k·overfetch rows
    val approx = c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        safeCosine(PqExpressions.pqAdc(col("codes"), col("lut"), kmax),
          col("qn"), col("cn")).as("approx"))
    val candidates = approx.groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate.topk(
        col("approx"), col("neighbor_id"), k * overfetch).as("top"))
      .select(col("query_id"),
        explode(col("top").getField("id")).as("neighbor_id"))
    exactReRank(corpus, queries, idCol, vecCol, candidates, k)
  }

  /** Embedding-cosine near-duplicate pairs (cos >= threshold), by LSH
    * bucketing + exact verification — the embedding-space analog of
    * Dedup.minhashNearDupPairs. Bucketing, the bucket self-join and the
    * exact verification run per DISTINCT vector ([[Collapse]]). */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double = 0.95,
                         numPlanes: Int = 10, numTables: Int = 6,
                         dim: Int = 64): DataFrame = {
    requireIntegralId(df, idCol, "cosineNearDupPairs")
    // barrier: feeds bucketing, the member-list joins and the
    // within-group pairs
    val groups = Collapse.groups(df, Seq(col(vecCol).cast("array<double>").as("v")),
      col(idCol).cast("long")).localCheckpoint(false)
    val bucketed = groups.select(col("gkey"),
      posexplode(allTableBuckets(col("v"), numPlanes, numTables, dim,
        seedBase = 137)).as(Seq("table", "bucket")))
    // verify once per distinct pair — vectors re-attach BY ID from the
    // ORIGINAL frame (gkey is a real member id, and id-keyed joins
    // broadcast from real source stats; the checkpointed groups frame
    // has none, which would force vector payloads through a sort-merge)
    val dvecs = df.select(col(idCol).cast("long").as("gkey"),
      col(vecCol).cast("array<double>").as("v"))
    val verified = Collapse.groupPairs(bucketed, Seq("table", "bucket"))()
      .join(dvecs.select(col("gkey").as("ga"), col("v").as("va")), "ga")
      .join(dvecs.select(col("gkey").as("gb"), col("v").as("vb")), "gb")
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("ga"), col("gb"), col("cosine"))
    // within-group cosine is COMPUTED by the same (v, v) expression, never
    // assumed 1.0: a zero vector scores 0 and does not pair with its copies
    Collapse.idPairs(verified, groups,
      groups.withColumn("cosine", cosine(col("v"), col("v")))
        .filter(col("cosine") >= threshold),
      "cosine")
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** SemDedup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by k-means bucketing + within-cluster cosine pruning.
    * A row is dropped iff a LOWER-id row in the SAME cluster is at least
    * `threshold`-cosine-similar — the deterministic keep-lowest-id form of
    * the paper's "keep one representative per epsilon-ball", and (unlike a
    * global near-dup graph) embarrassingly parallel per cluster.
    *
    * Returns the surviving rows of `df` (schema unchanged).
    *
    * Scale shape: clustering bounds the quadratic — the candidate
    * self-join is an equi-join on the cluster id, so the pair count is
    * sum(|cluster|^2), never n^2; choose k ~ n/targetClusterSize to cap
    * it. The join sides carry (cluster, id, vector) ONLY; dropped ids
    * collapse to a distinct (id) set and full rows re-attach by left-anti
    * join, so document payloads never ride the quadratic stage. Cluster
    * assignment itself is the one-kernel-pass broadcast-centroid scan
    * from [[Clustering.assign]] — nothing shuffles to cluster. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               k: Int, threshold: Double, iters: Int = 5,
               sampleSize: Int = 4096, seed: Int = 42): DataFrame = {
    val cents = Clustering.trainKMeans(df, idCol, vecCol, k, iters,
      sampleSize, seed)
    semDedupWithCentroids(df, idCol, vecCol, cents, threshold)
  }

  /** [[semDedup]] with k scaled to the corpus (k = √n clamped to
    * [16, 65536], the [[ivfTopKAuto]] rule): expected cluster size √n, so
    * the within-cluster pair count is n^1.5 / tasks rather than n²/k for
    * a k frozen at training time — the knob sf0.1 hides and sf1 exposes
    * (the fixed-k d09 oracle query scales 3.7× for 10× data; the auto
    * form stays near-linear). */
  def semDedupAuto(df: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, iters: Int = 5,
                   seed: Int = 42): DataFrame = {
    val n = df.count()
    if (n == 0) return df
    val k = math.min(math.max(math.sqrt(n.toDouble).toInt, 16), 65536)
    semDedup(df, idCol, vecCol, k, threshold, iters,
      sampleSize = math.max(512, k * 8), seed = seed)
  }

  /** [[semDedupWithCentroids]] at the auto scale k = √n (clamped to
    * [16, 65536], the [[ivfTopKAuto]] rule) with the deterministic seed
    * Voronoi partition (first k of `seedsFrom` by id) instead of trained
    * Lloyd centroids — the SQL-expressible spelling of [[semDedupAuto]]'s
    * scale contract, so the oracle can grade the production k rather than
    * a pinned training-time constant. Expected cluster size √n keeps the
    * within-cluster pair count ~n^1.5 as the corpus grows; a k frozen at
    * 8 degrades to n²/8 (the sf0.1-hides / sf1-exposes knob). Use
    * [[semDedupAuto]] when real (trained) centroids are wanted; this form
    * when deterministic reproducibility across engines is the point. */
  def semDedupAutoSeeded(df: DataFrame, seedsFrom: DataFrame,
                         idCol: String, vecCol: String,
                         threshold: Double): DataFrame = {
    val n = df.count()
    if (n == 0) return df
    val k = math.min(math.max(math.sqrt(n.toDouble).toInt, 16), 65536)
    val (_, cents) = Clustering.seedCentroids(seedsFrom, idCol, vecCol, k)
    semDedupWithCentroids(df, idCol, vecCol, cents, threshold)
  }

  /** [[semDedup]] with caller-supplied centroids (e.g. the deterministic
    * seed Voronoi partition, or centroids trained on a previous corpus
    * snapshot). Total on empty input: no centroids → nothing to compare →
    * every row survives. */
  def semDedupWithCentroids(df: DataFrame, idCol: String, vecCol: String,
                            centroids: Array[Array[Double]],
                            threshold: Double): DataFrame = {
    if (centroids.isEmpty) return df
    val side = df.select(col(idCol).as("id"),
      element_at(graft.functions.IvfCellsExpression.ivfCells(
        col(vecCol).cast("array<double>"), centroids, 1), 1).as("cluster"),
      col(vecCol).cast("array<double>").as("v"))
    val drops = side.alias("a").join(side.alias("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id") &&
        cosine(col("a.v"), col("b.v")) >= lit(threshold))
      .select(col("b.id").as("id")).distinct()
    df.join(drops, df(idCol) === drops("id"), "left_anti")
  }

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell & Goldstein
    * 1998) over the int8-quantized dot space: greedily pick k of each
    * query's `shortlist` candidates, each pick maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), ties by candidate id —
    * the standard redundancy-suppressing rerank for retrieval and for
    * few-shot example selection.
    *
    * Both rel and sim are RAW INT8 DOT PRODUCTS (the SQ8 rerank
    * arithmetic: relevance and redundancy measured in the same quantized
    * code space, no normalization), and λ is the rational
    * lambdaNum/lambdaDen, so every greedy comparison is over exact
    * integers — the selection is bit-reproducible on any engine,
    * including the DuckDB recursive-CTE oracle (s10). Floating MMR would
    * hinge tie-breaks on cross-engine ulp agreement; integer MMR cannot.
    *
    * Scale shape: the [[bruteForceTopK]] contract — bounded |Q| broadcast
    * against a linear corpus sweep, candidates collapse map-side to ≤
    * shortlist per query (TopKAggregate) before any exchange. The greedy
    * itself runs per query group over ≤ shortlist rows via
    * flatMapGroups: inherently SEQUENTIAL (pick t depends on picks
    * 1..t−1), state bounded by shortlist × dims ints — the documented
    * last-resort case for typed per-group logic; everything upstream
    * stays columnar. Output: (query_id, rank, cand_id, rel, score) with
    * score = lambdaNum·rel − (lambdaDen−lambdaNum)·maxSim (the
    * λ-scaled margin, ×lambdaDen). */
  def mmrSelectInt8(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, shortlist: Int,
                    lambdaNum: Int = 2, lambdaDen: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    require(lambdaNum >= 1 && lambdaDen > lambdaNum,
      s"lambda must be a rational in (0, 1): $lambdaNum/$lambdaDen")
    val spark = corpus.sparkSession
    import spark.implicits._
    def codes(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).cast("long").as(as),
        quantizeInt8(col(vecCol).cast("array<double>"))
          .getField("q").cast("array<int>").as(s"${as}_q"))
    val qc = codes(queries, "qid")
    val cc = codes(corpus, "cid")
    // integer dots ride exactly in doubles (|dot| <= 127^2 * dims << 2^53)
    val rels = cc.crossJoin(broadcast(qc))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        dot(col("cid_q").cast("array<double>"),
          col("qid_q").cast("array<double>")).as("idot"))
    val short = rels.groupBy("qid")
      .agg(graft.functions.TopKAggregate.topk(
        col("idot"), col("cid"), shortlist).as("top"))
      .select(col("qid"), explode(col("top")).as("c"))
      .select(col("qid"), col("c.id").as("cid"),
        col("c.score").cast("long").as("rel"))
    val withCodes = short.join(cc, "cid")
      .select(col("qid"), col("cid"), col("rel"), col("cid_q"))
      .as[(Long, Long, Long, Seq[Int])]
    val negWeight = lambdaDen - lambdaNum
    withCodes.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // deterministic candidate order: (rel desc, cid asc) — the same
        // total order every tie below breaks to
        val cands = it.toArray.sortBy(t => (-t._3, t._2))
        val n = cands.length
        val codesArr = cands.map(_._4.toArray)
        val chosen = new Array[Boolean](n)
        val maxSim = Array.fill(n)(Long.MinValue)
        def idot(a: Array[Int], b: Array[Int]): Long = {
          var s = 0L; var i = 0
          val m = math.min(a.length, b.length)
          while (i < m) { s += a(i).toLong * b(i); i += 1 }
          s
        }
        val out = Array.newBuilder[(Long, Int, Long, Long, Long)]
        var picks = 0
        val kk = math.min(k, n)
        while (picks < kk) {
          var best = -1
          var bestScore = Long.MinValue
          var bestCid = Long.MaxValue
          var i = 0
          while (i < n) {
            if (!chosen(i)) {
              // first pick has no redundancy term: score = λ·rel alone
              // (× lambdaDen scale ⇒ lambdaNum·rel), matching the oracle
              val score =
                if (picks == 0) lambdaNum.toLong * cands(i)._3
                else lambdaNum.toLong * cands(i)._3 - negWeight * maxSim(i)
              // tie-break on candidate id ALONE (the oracle's
              // `ORDER BY score DESC, cid`) — never on rel
              if (score > bestScore ||
                  (score == bestScore && cands(i)._2 < bestCid)) {
                best = i; bestScore = score; bestCid = cands(i)._2
              }
            }
            i += 1
          }
          chosen(best) = true
          picks += 1
          out += ((qid, picks, cands(best)._2, cands(best)._3, bestScore))
          var j = 0
          while (j < n) {
            if (!chosen(j)) {
              val s = idot(codesArr(j), codesArr(best))
              if (s > maxSim(j)) maxSim(j) = s
            }
            j += 1
          }
        }
        out.result().iterator
      }
      .toDF("query_id", "rank", "cand_id", "rel", "score")
  }
}
