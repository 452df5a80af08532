package graft

import graft.marc.{Fixtures, MarcFunctions, MarcSource}
import graft.pipeline.Pipeline
import graft.queries.{OpsQueries, RelationalQueries}
import org.apache.spark.sql.functions._

/** Guards on physical plan shape — the properties that make these plans
  * scale, asserted so a refactor can't silently regress them. */
class PlanShapeSpec extends SparkSpec {

  test("the mapping pipeline compiles to a shuffle-free plan") {
    val df = MarcSource.fromRecords(spark, Fixtures.records("test_data.utf8"))
    val out = Pipeline.builder
      .toField("id", MarcFunctions.marcExtract("001"))
      .toField("title", MarcFunctions.marcExtract("245ab"))
      .run(df)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"mapping must not shuffle:\n$plan")
  }

  test("repeated marc_extract calls auto-fuse into one fields traversal") {
    import graft.functions.{MarcExtractBatch, MarcExtractExpression}
    // a real scan (ConvertToLocalRelation would fold a local Seq away)
    val dir = java.nio.file.Files.createTempDirectory("fuse").toString
    MarcSource.fromRecords(spark, Fixtures.records("test_data.utf8"))
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    // naive spelling: four independent extract expressions, no manual batch
    val out = df.select(
      MarcFunctions.marcExtract("001")(col("record")).as("id"),
      MarcFunctions.marcExtract("245ab")(col("record")).as("title"),
      MarcFunctions.marcExtract("260abef")(col("record")).as("publisher"),
      MarcFunctions.marcExtract("020a")(col("record")).as("isbn"))
    val optimized = out.queryExecution.optimizedPlan
    val batches = optimized.collect {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[MarcExtractBatch])) => p
    }
    val loose = optimized.collect {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[MarcExtractExpression])) => p
    }
    assert(batches.nonEmpty, s"expected a fused MarcExtractBatch:\n$optimized")
    assert(loose.isEmpty, s"no un-fused extract may remain:\n$optimized")
    // and the fused result matches the naive semantics
    val row = out.orderBy(col("id").getItem(0)).collect().head
    assert(row.getSeq[String](0).nonEmpty && row.getSeq[String](1).nonEmpty)
  }

  test("multiple xpath extractions fuse into one DOM parse per row") {
    import graft.functions.{XPathExtractBatch, XPathExtractExpression}
    val df = graft.queries.XmlQueries.queries("x01_xpath_extract")(spark, sfSmoke)
    val optimized = df.queryExecution.optimizedPlan
    val batches = optimized.collect {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[XPathExtractBatch])) => p
    }
    val loose = optimized.collect {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[XPathExtractExpression])) => p
    }
    assert(batches.nonEmpty, s"expected a fused XPathExtractBatch:\n$optimized")
    assert(loose.isEmpty, s"no un-fused xpath extract may remain:\n$optimized")
  }

  test("balanced() repartitions single-split scans but passes many-split scans through") {
    // single-row-group local file → one non-empty split → rebalance fires
    val docs = Tables.documents(spark, sfSmoke)
    val balanced = Tables.balanced(spark, docs)
    assert(balanced.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      "a single-split scan must be repartitioned to full parallelism")
    // a frame that already has cluster-scale parallelism must NOT gain a
    // shuffle: an explicit repartition is never removed by AQE, so baking
    // it in would be a pure-waste full shuffle on production inputs
    val wide = docs.repartition(spark.sparkContext.defaultParallelism)
    val untouched = Tables.balanced(spark, wide)
    assert(untouched eq wide, "a many-split frame must pass through untouched")
  }

  test("documents scan prunes to referenced columns only") {
    val df = OpsQueries.queries("t03_fingerprint")(spark, sfSmoke)
    val scan = df.queryExecution.executedPlan.toString
    // fingerprint reads doc_id + text; lang/source/n_chars must be pruned
    assert(scan.contains("ReadSchema"))
    assert(!scan.contains("n_chars"), s"unused column not pruned:\n$scan")
  }

  test("fact-dimension join broadcasts the dimension, not the fact") {
    val df = RelationalQueries.queries("q03_join_broadcast")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"), "dimension join must not sort-merge")
  }

  test("top-k order+limit plans as TakeOrderedAndProject (no global sort)") {
    val df = RelationalQueries.queries("q06_topk_orders")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  // the fully-prepared non-AQE plan: EnsureRequirements has inserted every
  // distribution exchange, so shuffle-shape assertions are not vacuous
  // (AdaptiveSparkPlanExec.inputPlan predates EnsureRequirements)
  private def prepared(build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.SparkPlan = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try build.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ANN candidate generation never shuffles embedding vectors") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    for (q <- Seq("s02_lsh_ann", "s03_ivf_ann", "s04_cosine_neardup",
                  "s06_quantized_ann")) {
      val plan = prepared(OpsQueries.queries(q)(spark, sfSmoke))
      // vectors may be broadcast (small side) and may ride the gated
      // balanced() round-robin rebalance of a single-split LOCAL scan
      // (production multi-split inputs pass that gate untouched) — but
      // they must never ride a structural shuffle (join keys, groupBy):
      // those move only id/bucket/score tuples or bounded topk buffers.
      // The one exemption is array<long> — the identical-vector
      // collapse legitimately moves bounded id LISTS (≤ k+1
      // group-member ids) across id-keyed joins, which are id tuples,
      // not vectors. Everything else (float/double vectors, strings,
      // nested arrays) stays under the guard. Note the collapse's
      // vector-keyed groupBy itself hides behind a localCheckpoint
      // LogicalRDD boundary, so THIS plan cannot see it; its one
      // vector shuffle is distinct-vector-sized by construction.
      import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
      import org.apache.spark.sql.types.LongType
      plan.foreach {
        case e: ShuffleExchangeExec
            if !e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] =>
          val arrays = e.output.filter(_.dataType match {
            case ArrayType(LongType, _) => false
            case ArrayType(_, _) => true
            case _ => false
          })
          assert(arrays.isEmpty,
            s"$q: vector attrs ${arrays.map(_.name).mkString(",")} cross a shuffle:\n${e.treeString}")
        case _ =>
      }
    }
  }

  test("sampling, split assignment, and PII scrub compile to shuffle-free plans") {
    import graft.ops.{Sampling, TextAnalysis}
    val docs = graft.Tables.documents(spark, sfSmoke)
    val sampled = Sampling.deterministicSample(docs, col("doc_id"), 0.5)
    assert(!sampled.queryExecution.executedPlan.toString.contains("Exchange"),
      "deterministic sampling must be a narrow filter on the scan")
    val assigned = docs.select(Sampling.splitAssign(col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.2)))
    assert(!assigned.queryExecution.executedPlan.toString.contains("Exchange"))
    val scrubbed = docs.select(TextAnalysis.scrubPii(col("text")))
    assert(!scrubbed.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("minhash dedup never shuffles raw document text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val plan = prepared(OpsQueries.queries("d02_minhash_neardup")(spark, sfSmoke))
    // fingerprints and band signatures are computed in the narrow scan
    // stage; only ids/fingerprints/band triples/shingle sets may shuffle
    plan.foreach {
      case e: ShuffleExchangeExec =>
        val textAttrs = e.output.filter(a =>
          a.name == "text" && a.dataType == StringType)
        assert(textAttrs.isEmpty,
          s"document text crosses a shuffle:\n${e.treeString}")
      case _ =>
    }
  }

  test("minhash banding join is an equi-join, never a cross join") {
    val df = OpsQueries.queries("d02_minhash_neardup")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"LSH must not cross join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"LSH must bucket-join, not nested-loop:\n$plan")
  }

  test("as-of joins with no join operator; band join never nested-loops") {
    val asof = RelationalQueries.queries("q21_asof_join")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    // the registered query's only joins are its own window machinery —
    // the as-of itself is a union + running window, not a join
    assert(!asof.contains("NestedLoop") && !asof.contains("CartesianProduct"),
      s"as-of must not nested-loop:\n$asof")
    val band = RelationalQueries.queries("q22_band_join")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!band.contains("NestedLoop") && !band.contains("CartesianProduct"),
      s"band join must stay an equi-join:\n$band")
  }

  test("classifier scoring shuffles (id, weight) pairs, never text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val plan = prepared(OpsQueries.queries("t11_quality_classifier")(spark, sfSmoke))
    plan.foreach {
      case e: ShuffleExchangeExec =>
        assert(!e.output.exists(a => a.dataType == StringType),
          s"strings cross the classifier shuffle:\n${e.treeString}")
      case _ =>
    }
  }

  test("LM scoring: weights broadcast to the tokens, document text never shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val plan = prepared(OpsQueries.queries("t15_lm_bits")(spark, sfSmoke))
    // the (token, weight) table rides a broadcast join, not an exchange;
    // the aggregation shuffle carries (id, bits, count) partials only.
    // Single-token strings (exploded _tok) may legitimately cross the
    // vocabulary-count shuffle of the training pass; the document TEXT
    // column must not cross any exchange
    plan.foreach {
      case e: ShuffleExchangeExec =>
        assert(!e.output.exists(a => a.name == "text" && a.dataType == StringType),
          s"document text crosses an LM-score shuffle:\n${e.treeString}")
      case _ =>
    }
    assert(plan.toString.contains("BroadcastHashJoin"),
      "LM weights must broadcast-join the token stream")
  }

  test("temperature mix, top-token, and NFC normalize are narrow passes") {
    import graft.ops.{Sampling, TextAnalysis}
    val docs = graft.Tables.documents(spark, sfSmoke)
    // rate training is a separate O(groups) count job; the RESULT plan
    // must be a filter on the scan — no shuffle of the data path
    val mixed = Sampling.temperatureMix(docs, col("doc_id"), col("lang"), 100L)
    assert(!mixed.queryExecution.executedPlan.toString.contains("Exchange"),
      "temperatureMix output must be a narrow filter")
    val rep = docs.select(TextAnalysis.topTokenFraction(col("text")))
    assert(!rep.queryExecution.executedPlan.toString.contains("Exchange"),
      "topTokenFraction must not explode/shuffle tokens")
    val norm = docs.select(TextAnalysis.normalizeNfc(col("text")))
    assert(!norm.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("takeUntilBudget never opens a global (unpartitioned) window") {
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.ops.Sampling
    val docs = graft.Tables.documents(spark, sfSmoke)
    val out = Sampling.takeUntilBudget(docs, col("doc_id"), col("n_chars"),
      col("n_chars"), budget = 10000L)
    val windows = prepared(out).collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"running sum must be bucket-partitioned, not global:\n${w.treeString}")
    }
  }

  test("pagerank rank position never opens a global (unpartitioned) window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = prepared(OpsQueries.queries("d11_pagerank")(spark, sfSmoke))
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the ordinal's bucket-local window")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"rank position must be range-bucketed, not a single-partition " +
          s"row_number:\n${w.treeString}")
    }
  }

  test("bloom decontamination: text never shuffles; exact tail broadcasts") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val plan = prepared(OpsQueries.queries("d10_bloom_decontaminate")(spark, sfSmoke))
    plan.foreach {
      case e: ShuffleExchangeExec =>
        assert(!e.output.exists(a => a.name == "text" && a.dataType == StringType),
          s"document text crosses a decontamination shuffle:\n${e.treeString}")
      case _ =>
    }
    assert(plan.toString.contains("BroadcastHashJoin"),
      "the exact verification join must broadcast the benchmark hashes")
  }

  test("tfidf keywords: one pass over the text, corpus size rides the plan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = graft.queries.RankingQueries.queries("r04_tfidf_keywords")(spark, sfSmoke)
    val plan = prepared(df)
    // the corpus-size branch is a zero-column count scan; exactly ONE
    // scan may read the text column (tf and df share the tokenize
    // shuffle via ReusedExchange, and the old separate docs.count()
    // ACTION is gone — N is a broadcast one-row aggregate in this plan)
    val textScans = plan.collect {
      case s: FileSourceScanExec if s.output.exists(_.name == "text") => s
    }
    assert(textScans.length == 1,
      s"expected exactly one text scan, got ${textScans.length}:\n$plan")
    assert(plan.toString.contains("ReusedExchange"),
      s"tf and df must share one tokenize shuffle:\n$plan")
  }
  // ---- registry scan/job budgets --------------------------------------
  // The t37 lesson: a query can pass every shape check while executing its
  // most expensive subtree three times — recomputation is invisible to
  // window/cartesian/exchange audits. Two measured budgets close that gap
  // (every run writes each query's measured numbers to
  // target/plan-audit.txt, the place to regenerate them from):
  //  - construction JOBS: Spark jobs triggered while building the frame
  //    (model-training collects, iterative rounds) — each extra job
  //    usually re-executes the source scan. Default budget = one
  //    schema-inference job per distinct file source in the final plan;
  //    anything beyond that must be declared here with its reason.
  //  - per-source SCAN LEAVES in the final (non-AQE) plan. Default 1;
  //    self-joins/unions over one table declare their multiplicity.
  // Exceeding a budget = you added a recomputation. Remove it, or justify
  // the new number here.
  private val jobBudget: Map[String, Int] = Map(
    "c01_kmeans_assign" -> 2,      // centroid training collect (bounded k)
    // r12 default: the candidate set lazily localCheckpoints, and
    // building its RDD materializes the upstream band-join stages;
    // r13: +1 for the eager candidates.count() that both materializes
    // the checkpoint and gates the verify semi-join's broadcast hint
    // (the ADVICE dup-heavy-corpus driver-OOM hazard); r16: +4 for the
    // self-releasing eager pair-list materialization (AQE stage jobs)
    // that frees the signature persist + candidate checkpoint — the
    // r15 CacheManager-residue fix
    "d02_minhash_neardup" -> 9,
    "d06_components" -> 10,        // pointer-jumping rounds, one job each
    // (r18: lazy edge checkpoint + skipped initial label sum, −2 jobs)
    "d09_semdedup" -> 3,           // auto-k probe + centroid training
    "d10_bloom_decontaminate" -> 3, // bloom filter build over benchmark
    "d11_pagerank" -> 26,          // 5 join+sum rounds + rank bucketing
    "d14_hits" -> 18,              // hub/authority rounds
    "d16_bfs_levels" -> 14,        // frontier rounds, one count per hop
    // r12: the persisted kernel pass hides d13's file scan behind an
    // InMemoryRelation; r16: the self-releasing eager pair-list
    // materialization (frees the fingerprint persist — CacheManager
    // residue fix) runs the pair DAG at construction, AQE stage jobs
    // included
    "d13_winnow_pairs" -> 5,
    "d17_component_sizes" -> 10,   // shares d06's iterative machinery (r18 −2)
    // d06's pointer-jumping rounds + the r12 candidate checkpoint
    // + the r13 broadcast-gating candidates.count()
    "d18_neardup_keep_best" -> 11, // r18: components trim rides along
    // r13 eager prefilter shape, three actions: (1) newNarrow.count()
    // — the job that builds the persisted narrow cache AND yields the
    // exact Bloom sizing (estimate-based sizing measured ~0.8 fpp =
    // pass-everything); (2) ONE treeAggregate filling the fingerprint
    // Bloom from the cache (never a source re-execution); (3)
    // cand.count() — materializes the candidate
    // checkpoint and gates the verify semi-join's broadcast hint.
    // (3) is AQE-multi-job (join stages), hence 5 not 3. r16: +5 for
    // the self-releasing eager survivor-id materialization that frees
    // the batch-narrow persist + candidate checkpoint per call (the
    // CacheManager residue fix — a streaming session runs this per
    // micro-batch)
    "d19_dedup_increment_sigs" -> 10,
    // w05 IS a crawl: construction runs the whole bounded-depth BFS
    // (fetching is the side effect — it cannot be lazy). Per round
    // (maxDepth=3 → 4 rounds): eager fetch-archive checkpoint + the
    // next-frontier count (skipped on the last round), plus the seed
    // canonicalization and the final consolidation checkpoint. The
    // budget documents the loop shape; the returned plan is checkpoint
    // blocks (0 source leaves)
    "w05_crawl_bfs" -> 12,
    // d12's self-releasing survivor-id materialization (dedupAgainst) —
    // the same r16 residue fix; previously fully lazy (default budget).
    // +1 r16: the deterministic batch-narrow cache build (count() before
    // the survivor job — two stages racing a cold cache each re-ran the
    // batch scan + kernel build; one job removes the race)
    "d12_dedup_increment" -> 7,
    // the e2e curation capstone runs the full chain at construction:
    // near-dup candidate checkpoint + broadcast-gating count (d02's
    // budget), the empty-benchmark bloomContamination count, and the
    // component-fixpoint rounds over the planted clone pairs; r16: +2
    // for the eager working-set-releasing output materialization
    // (cacheWorkingSet self-release — the r15 residue fix)
    "t45_curate_html" -> 19,   // r18: components trim inside nearDupDedup
    // w01/w02 SYNTHESIZE their WARC input at first construction (the
    // writer actions; at 100 TB the crawl files already exist — this is
    // input generation, not query shape). The build is marker-cached
    // against the source parquet's metadata, so only the FIRST
    // construction in a tmp lifetime pays; w02 additionally runs the
    // t45-documented curation-capstone construction jobs
    "w01_warc_roundtrip" -> 3,
    // w02 = t45's curation budget over the WARC fixture (same +2 eager
    // working-set-release materialization as t45)
    "w02_warc_curate" -> 17,   // r18: components trim (16 measured + 1 margin
    // for the marker-rebuild first construction)
    // w03's fixture EXECUTES the fetch run at first construction: the
    // frontier count that sizes the commit batches + one WarcWriter
    // action per batch (batchSize pinned small so several batches — and
    // the exactly-once machinery — sit on the graded path) + the
    // read-back planning probe. Marker-cached like w01/w02.
    "w03_crawl_fetch" -> 5,
    // w04 composes three ACTIONS at construction: the WARC media fixture
    // write (first time, marker-cached), the pixel near-dup + anti-join
    // feeding the WebDataset shard write (the graded drop must be
    // materialized to shards), and the shard read-back planning probe
    "w04_warc_media" -> 6,
    // x04's Sitemaps.expand eagerly materializes its result and releases
    // the classification checkpoint at construction (the r15 residue
    // fix): one localCheckpoint action over the 4-branch plant, AQE
    // stage jobs included
    "x04_sitemap_index" -> 4,
    // x05 runs the same eager expand over its 2-branch discovery corpus
    "x05_robots_discovery" -> 4,
    // t48 composes d11's pageRank (5 join+sum rounds + rank bucketing,
    // d11's documented 26) over edges harvested from generated HTML
    "t48_web_graph" -> 26,
    // globalOrdinal's construction shape (the d11 bucketing tail): the
    // lazy range-checkpoint materialization + the per-partition counts
    // collect — bounded scalar work, documented in Sampling.globalOrdinal
    "t51_frontier" -> 4,
    "t52_fetch_frontier" -> 4,
    "m12_marc_binary_roundtrip" -> 2, // DSv2 MarcScan planning probe
    "q24_percentile_disc" -> 6,    // pivot-histogram selection rounds
    "r01_bm25_topk" -> 2,          // corpus stats (avgdl, N) collect
    "r02_hybrid_rrf" -> 3,         // bm25 stats + two source reads
    "r03_pmi_bigrams" -> 2,        // total-pairs scalar
    "s03_ivf_ann" -> 3,            // IVF centroid training
    "s07_pq_ann" -> 2,             // PQ codebook training
    "t10_pack" -> 3,               // O(groups) driver prefix sums
    "t12_shuffle" -> 2,            // count for the permutation bound
    "t15_lm_bits" -> 3,            // vocab total + top-vocab collects
    // per-lang rate training count; +1 (r15): the MaxMixGroups guard
    // bounds the collect with a LIMIT, which plans as its own stage
    "t16_temperature_mix" -> 3,
    "t17_take_budget" -> 3,        // bucket prefix sums
    "t26_corpus_report" -> 6,      // one bounded aggregate per section
    "t31_bpe_budget" -> 3,         // token-count prefix sums
    "t33_dsir_weights" -> 2,       // bucket-weight model collect
    "t37_lm_bigram_bits" -> 2,     // ONE grouping-sets marginal collect
    // r18: the identical-signature collapse lazily localCheckpoints a
    // distinct-sig group frame; building its RDD materializes the
    // signature aggregate (AQE stage jobs) at construction — and hides
    // the file scan behind a LogicalRDD, so the default
    // perSource budget would be 0
    "d04_simhash_neardup" -> 1,
    // r18: same shape — the distinct-(block, text) member frame
    "d08_fuzzy_pairs" -> 1,
    "mm05_binary_neardup" -> 1,
    // mm06/mm07: the prior 8/10-row plant-table broadcast builds (2)
    // + the r18 group-checkpoint construction jobs
    "mm06_binary_neardup_nonzero" -> 4,
    "mm07_pixel_neardup" -> 4)
  private val scanBudget: Map[String, Int] = Map(
    // near-dup pipelines: fingerprint/band/verify stages re-reference the
    // narrow scan; exchanges are reused at runtime, the leaf count is the
    // plan's signature, not its IO cost
    // r12: the persisted signature frame hides most leaves behind an
    // InMemoryRelation — d02's two visible leaves are the cache-build
    // scan + the candidate-only shingle-verify scan
    "d02_minhash_neardup" -> 2, "d04_simhash_neardup" -> 4,
    "d07_decontaminate" -> 2,
    // d08: distinct-name self-join (2) + the r13 oversized-block
    // distinct-count audit (1) — the degenerate-block cap's price
    "d08_fuzzy_pairs" -> 3,
    "d09_semdedup" -> 6, "d10_bloom_decontaminate" -> 2,
    // t53 diffs two crawl SNAPSHOTS that the plant synthesizes from the
    // one fixture table (prev + current + new-URL branch); production
    // inputs are two distinct sources, so the triple leaf is the
    // fixture's artifact, not the operator's shape
    "t53_crawl_diff" -> 3,
    // x04's sitemap corpus is a 4-branch union plant of the one fixture
    // table (index/a/b/c documents), and Sitemaps.expand references the
    // corpus once per depth round (3) — 9 leaves = plant × rounds, all
    // now executed at construction behind expand's eager residue-releasing
    // materialization (the returned plan is checkpoint blocks, 0 leaves);
    // the budget documents the interior shape. Production `docs` is ONE
    // fetched table: one leaf per round, maxDepth-bounded
    "x04_sitemap_index" -> 9,
    // d12's registered query constructs its batch side from a 3-scan
    // union of the same table; the r12 persisted batch narrow leaves
    // the 3-scan union (cache build) + 3 prior-side consumers
    "d12_dedup_increment" -> 6,
    // signature path over the d12 universe: the cache-build union (3)
    // + the inline signatures(prior) build + the one prior text verify
    // scan (production holds sigs as a separate table)
    "d19_dedup_increment_sigs" -> 5,
    // d02 banding over the 2-scan planted union, election joins reuse
    "d18_neardup_keep_best" -> 4,
    "d15_contamination_report" -> 3,
    // corpus base tokens + corpus window-hash occurrences (the t32
    // two-consumer shape); the benchmark side broadcasts hash-only
    "d20_scrub_contamination" -> 2,
    // t45's crawl is a 4-scan union family (base + 3 planted variants)
    // of the one documents table, flowing through curate()'s dedup
    // internals (which re-reference the narrow scan, the d02 shape)
    "t45_curate_html" -> 9,
    // set ops / self-joins / funnels over one table
    "q08_intersect" -> 2, "q17_above_avg" -> 2, "q18_except_all" -> 2,
    "q21_asof_join" -> 2, "q22_band_join" -> 2, "q23_lead_lag" -> 2,
    "q25_sessionize" -> 2, "q31_funnel" -> 4, "q32_cohort_retention" -> 2,
    "q36_asof_forward" -> 5, "q37_resample_locf" -> 2,
    "q38_session_stats" -> 3,
    // base + the change batch synthesized from 3 filtered base scans;
    // the merge itself joins ONCE (UpsertSpec pins the single full-outer)
    "q39_merge_upsert" -> 4,
    // retrieval/ANN: query panel + corpus sides of the same table
    "r02_hybrid_rrf" -> 2, "r03_pmi_bigrams" -> 2, "r04_tfidf_keywords" -> 2,
    "s01_cosine_top1" -> 2, "s02_lsh_ann" -> 4, "s03_ivf_ann" -> 4,
    "s04_cosine_neardup" -> 6, "s06_quantized_ann" -> 3, "s07_pq_ann" -> 3,
    "s08_hard_negatives" -> 2, "s09_truncated_ann" -> 4,
    "s10_mmr_diversify" -> 3,
    // kept-keys semi-joins / drift windows over one table
    "t14_cap_per_source" -> 2, "t28_sql_cap_keys" -> 2,
    "t32_passage_dedup" -> 2, "t34_drift_report" -> 6,
    // planted-copy union (2 scans) × banding self-join (×2)
    "mm05_binary_neardup" -> 4,
    // corpus + planted a-rows + planted b-rows (3 scans) × banding
    // self-join (×2); the planted family is 8 fixed rows
    "mm06_binary_neardup_nonzero" -> 6,
    // mm06's shape with the 10-row pixel-plant family
    "mm07_pixel_neardup" -> 6)

  test("registry-wide plan audit: no global windows, cartesians, or 1-partition exchanges") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // ONE pass over every registered query's physical plan, three
    // 100 TB scale-killer checks:
    //  - WindowExec with no partitionSpec: the whole frame sorts on one task
    //  - cartesian / nested-loop joins: O(n*m) without an equi-key
    //  - ShuffleExchange to a SINGLE partition: a deliberate bottleneck
    // Queries that genuinely need one must justify themselves in the
    // allowlists below with a bounded-cardinality argument.

    // rank AFTER limit(k): the global window sees <= k rows
    // (Ranking.bm25TopK / rrfFuse call-site docs)
    val windowBoundedByLimit = Set("r01_bm25_topk", "r02_hybrid_rrf")
    // the bounded-|Q| sweep contract: a broadcast cross join against a
    // FIXED query panel (|Q| <= 64) or a one-row stats frame is the
    // documented linear-scan shape, not an accidental cartesian
    // (Similarity.scoredPairs / mmrSelectInt8, Ranking corpus stats,
    // Expectations/CorpusReport one-row summaries)
    val boundedBroadcastCross = Set(
      "s01_cosine_top1", "s02_lsh_ann", "s03_ivf_ann", "s04_cosine_neardup",
      "s06_quantized_ann", "s07_pq_ann", "s08_hard_negatives",
      "s09_truncated_ann", "s10_mmr_diversify",
      "r01_bm25_topk", "r02_hybrid_rrf", "r04_tfidf_keywords",
      "t11_quality_classifier", "t15_lm_bits",
      "t23_expectations", "t25_k_anonymity", "t26_corpus_report",
      "q17_above_avg", "c01_kmeans_assign", "d09_semdedup")
    val windowOff = scala.collection.mutable.ListBuffer[String]()
    val crossOff = scala.collection.mutable.ListBuffer[String]()
    val singleOff = scala.collection.mutable.ListBuffer[String]()
    val budgetOff = scala.collection.mutable.ListBuffer[String]()
    val audit = scala.collection.mutable.ListBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      // the profile scopes job counting by job group: construction
      // collects run on this thread and inherit the group, so background
      // activity can't pollute the count
      val (plan, profile) =
        try QueryProfile.run(spark, s"plan-audit:$name")(prepared(fn(spark, sfSmoke)))(identity)
        catch { case e: Throwable =>
          fail(s"$name failed to plan at sfSmoke: $e") }
      val cur = profile.constructJobs
      val srcScans = plan.collect {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.headOption
            .map(_.getName).getOrElse("?")
      }
      val perSource = srcScans.groupBy(identity).view.mapValues(_.size)
      val v2Scans = plan.collect { case b: BatchScanExec => b.scan.getClass.getSimpleName }
      audit += f"$name%-28s jobs=$cur%-3d scans=[" + (srcScans ++ v2Scans)
        .groupBy(identity).toSeq.sortBy(_._1)
        .map { case (src, hits) => s"$src=${hits.size}" }.mkString(",") + "]"
      val allowedJobs = jobBudget.getOrElse(name, perSource.size)
      if (cur > allowedJobs)
        budgetOff += s"$name: $cur construction jobs (budget $allowedJobs) — " +
          "an added collect/action re-executes the source subtree"
      val allowedScans = scanBudget.getOrElse(name, 1)
      perSource.foreach { case (src, cnt) =>
        if (cnt > allowedScans)
          budgetOff += s"$name: $cnt scan leaves of $src (budget $allowedScans)"
      }
      plan.foreach {
        case w: WindowExec if w.partitionSpec.isEmpty &&
            !windowBoundedByLimit.contains(name) =>
          windowOff += s"$name: ${w.windowExpression.mkString(", ")}"
        case j: BroadcastNestedLoopJoinExec
            if !boundedBroadcastCross.contains(name) =>
          crossOff += s"$name: ${j.joinType} nested-loop"
        case _: CartesianProductExec =>
          crossOff += s"$name: CartesianProduct"
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
          // a single-partition exchange fed by a PARTIAL aggregate moves
          // one map-side-combined row (or bounded sketch) per task — the
          // canonical global-aggregate merge, fine at any scale. Anything
          // else funneling to one partition is a deliberate bottleneck.
          def strip(p: org.apache.spark.sql.execution.SparkPlan)
              : org.apache.spark.sql.execution.SparkPlan = p match {
            case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
              strip(w.child)
            case i: org.apache.spark.sql.execution.InputAdapter => strip(i.child)
            case other => other
          }
          val partialCombined = strip(e.child) match {
            case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec |
                 _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec |
                 _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
            case _ => false
          }
          if (!partialCombined) singleOff += name
        case _ => ()
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("target", "plan-audit.txt"),
      audit.mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(windowOff.isEmpty,
      s"single-partition WindowExec in registered plans:\n${windowOff.mkString("\n")}")
    assert(crossOff.isEmpty,
      s"unjustified cartesian/nested-loop joins:\n${crossOff.mkString("\n")}")
    assert(singleOff.isEmpty,
      s"single-partition shuffle exchanges:\n${singleOff.distinct.mkString(", ")}")
    assert(budgetOff.isEmpty,
      s"scan/job budget exceeded (recomputation shape?):\n${budgetOff.mkString("\n")}")
  }
}
