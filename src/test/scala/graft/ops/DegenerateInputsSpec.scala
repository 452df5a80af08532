package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Totality sweep: every curation operator must be well-defined — empty
  * result, identity, or a DOCUMENTED loud error — on degenerate inputs
  * (empty frames, single rows, filtered-to-nothing pipelines). At 100 TB
  * a stage that crashes on an empty partition-of-the-work kills a day of
  * compute; these cases are cheap to pin and easy to regress. */
class DegenerateInputsSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDocs: DataFrame =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def oneDoc: DataFrame =
    Seq((1L, "just one lonely document here")).toDF("doc_id", "text")
  private def emptyVecs: DataFrame =
    Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
  private def someVecs: DataFrame = Seq(
    (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(1.0, 1.0)))
    .toDF("vec_id", "embedding")

  test("dedup family: empty and single-row corpora pass through") {
    assert(Dedup.minhashNearDupPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.minhashNearDupPairs(oneDoc, "doc_id", "text").count() == 0)
    assert(Dedup.nearDupDedup(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.nearDupDedup(oneDoc, "doc_id", "text").count() == 1)
    assert(Dedup.simhashNearDupPairs(emptyDocs, "doc_id", "text").count() == 0)
    val names = Seq.empty[(Long, String, String)].toDF("id", "blk", "name")
    assert(Dedup.fuzzyDupPairs(names, "id", "name", Seq("blk"), 2).count() == 0)
    assert(Dedup.fuzzyDupPairs(Seq((1L, "A", "hot gear")).toDF("id", "blk", "name"),
      "id", "name", Seq("blk"), 2).count() == 0)
    // a null block key equals nothing, not even itself: identical names
    // under it do not pair
    val nullBlock = Seq[(Long, String, String)]((1L, null, "hot gear"),
      (2L, null, "hot gear"), (3L, null, "hot gears")).toDF("id", "blk", "name")
    assert(Dedup.fuzzyDupPairs(nullBlock, "id", "name", Seq("blk"), 2).count() == 0)
    val emptyMedia = Seq.empty[(Long, Array[Byte])].toDF("id", "payload")
    assert(Multimodal.binaryNearDupPairs(emptyMedia, "id", "payload").count() == 0)
    // empty input keeps the non-empty schema, or per-shard unions break
    // exactly when one shard is empty
    val someDocs = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val someNames = Seq((1L, "A", "hot gear"), (2L, "A", "hot gears"))
      .toDF("id", "blk", "name")
    val media = Seq((1L, Array[Byte](1, 2, 3, 4, 5))).toDF("id", "payload")
    for ((empty, full) <- Seq(
        (Dedup.minhashNearDupPairs(emptyDocs, "doc_id", "text"),
          Dedup.minhashNearDupPairs(someDocs, "doc_id", "text")),
        (Dedup.simhashNearDupPairs(emptyDocs, "doc_id", "text"),
          Dedup.simhashNearDupPairs(someDocs, "doc_id", "text")),
        (Multimodal.binaryNearDupPairs(emptyMedia, "id", "payload"),
          Multimodal.binaryNearDupPairs(media, "id", "payload")),
        (Dedup.fuzzyDupPairs(names, "id", "name", Seq("blk"), 2),
          Dedup.fuzzyDupPairs(someNames, "id", "name", Seq("blk"), 2)),
        (Similarity.cosineNearDupPairs(emptyVecs, "vec_id", "embedding"),
          Similarity.cosineNearDupPairs(someVecs, "vec_id", "embedding"))))
      assert(empty.schema == full.schema, s"${empty.schema} vs ${full.schema}")
    assert(Dedup.exactDedup(emptyDocs, col("text"), col("doc_id")).count() == 0)
    assert(Dedup.repeatedSpans(emptyDocs, "doc_id", "text", minDocs = 2).count() == 0)
    assert(Dedup.ngramDocFreq(emptyDocs, "text", 2, 1).count() == 0)
  }

  test("decontamination: empty corpus, empty benchmark, both") {
    assert(Dedup.contamination(emptyDocs, oneDoc.select("text"), "doc_id", "text").count() == 0)
    assert(Dedup.contamination(oneDoc, emptyDocs.select("text"), "doc_id", "text").count() == 0)
    assert(Dedup.contamination(emptyDocs, emptyDocs.select("text"), "doc_id", "text").count() == 0)
  }

  test("similarity family: empty corpus or empty query set yields empty top-k") {
    assert(Similarity.lshTopK(emptyVecs, someVecs, "vec_id", "embedding", 1).count() == 0)
    assert(Similarity.lshTopK(someVecs, emptyVecs, "vec_id", "embedding", 1).count() == 0)
    assert(Similarity.quantizedTopK(emptyVecs, someVecs, "vec_id", "embedding", 1).count() == 0)
    assert(Similarity.quantizedTopK(someVecs, emptyVecs, "vec_id", "embedding", 1).count() == 0)
    assert(Similarity.ivfTopK(emptyVecs, someVecs, "vec_id", "embedding", 1).count() == 0)
    assert(Similarity.ivfTopK(someVecs, emptyVecs, "vec_id", "embedding", 1).count() == 0)
    assert(Similarity.pqTopK(emptyVecs, someVecs, "vec_id", "embedding", 1).count() == 0)
    assert(Similarity.pqTopK(someVecs, emptyVecs, "vec_id", "embedding", 1).count() == 0)
    assert(Similarity.truncatedTopK(emptyVecs, someVecs, "vec_id", "embedding", 1, dims = 2).count() == 0)
    assert(Similarity.truncatedTopK(someVecs, emptyVecs, "vec_id", "embedding", 1, dims = 2).count() == 0)
    assert(Similarity.hardNegatives(emptyVecs, someVecs, "vec_id", "embedding", 1).count() == 0)
    assert(Similarity.hardNegatives(someVecs, emptyVecs, "vec_id", "embedding", 1).count() == 0)
    assert(Similarity.pqTopK(emptyVecs, someVecs, "vec_id", "embedding", 1).schema ==
      Similarity.pqTopK(someVecs, someVecs, "vec_id", "embedding", 1,
        m = 2, ksub = 4).schema)
    // the empty-corpus short-circuit must produce the same schema as the
    // non-empty path (built through the same rankTopK), or per-shard
    // unions break exactly when one shard is empty
    val emptySchema =
      Similarity.ivfTopK(emptyVecs, someVecs, "vec_id", "embedding", 1).schema
    val fullSchema =
      Similarity.ivfTopK(someVecs, someVecs, "vec_id", "embedding", 1).schema
    assert(emptySchema == fullSchema, s"$emptySchema vs $fullSchema")
    assert(Similarity.cosineNearDupPairs(emptyVecs, "vec_id", "embedding").count() == 0)
  }

  test("zero-magnitude embeddings score 0.0 instead of killing the job") {
    // Spark 4 ANSI throws DIVIDE_BY_ZERO even on double division; an
    // unguarded cosine would crash every similarity path on the first
    // all-zero embedding in a corpus
    val withZero = someVecs.unionByName(
      Seq((99L, Seq(0.0, 0.0))).toDF("vec_id", "embedding"))
    val cos = withZero.select(col("vec_id"),
        Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cos(99L) == 0.0 && cos(1L) == 1.0)
    // end-to-end: brute force and quantized sweeps stay total
    assert(Similarity.bruteForceTopK(withZero, withZero, "vec_id", "embedding", 1)
      .count() > 0)
    assert(Similarity.quantizedTopK(withZero, withZero, "vec_id", "embedding", 1)
      .count() > 0)
  }

  test("text analysis and packing: empty frames flow through") {
    assert(TextAnalysis.hashedLinearScore(emptyDocs, "doc_id", "text").count() == 0)
    assert(Packing.packSequences(
      emptyDocs.select(col("doc_id"), lit(1L).as("n_tok")),
      "doc_id", "n_tok", budget = 16).count() == 0)
    val one = Packing.packSequences(
      oneDoc.select(col("doc_id"), lit(5L).as("n_tok")),
      "doc_id", "n_tok", budget = 16).collect()(0)
    assert(one.getLong(2) == 0L && one.getLong(3) == 0L) // bin 0, offset 0
  }

  test("as-of and band join: empty sides are totalities, not crashes") {
    val l = Seq((1L, "k", 10L)).toDF("lid", "key", "lt")
    val r = Seq.empty[(Long, String, Long, Double)].toDF("rid", "key", "rt", "v")
    val asof = AsOf.asofBackward(l, r, Seq("key"), "lt", "rt", "rid", Seq("v"))
    assert(asof.count() == 1 && asof.filter(col("asof_v").isNull).count() == 1)
    assert(AsOf.asofBackward(l.limit(0), r, Seq("key"), "lt", "rt", "rid", Seq("v")).count() == 0)
    assert(AsOf.bandJoin(l, r, Seq("key"), "lt", "rt", -5L, 5L, Seq("v")).count() == 0)
    assert(AsOf.bandJoin(l.limit(0), r, Seq("key"), "lt", "rt", -5L, 5L, Seq("v")).count() == 0)
  }

  test("ranking: empty corpus, cap, and fusion are total") {
    // empty corpus: stats are zero, no scores, no crash (avgdl division)
    assert(Ranking.bm25Score(emptyDocs, "doc_id", "text", Seq("x")).count() == 0)
    assert(Ranking.bm25TopK(emptyDocs, "doc_id", "text", Seq("x"), 5).count() == 0)
    val s = Ranking.bm25Stats(emptyDocs, "text", Seq("x"))
    assert(s.nDocs == 0 && s.sumDl == 0 && s.df("x") == 0)
    assert(Ranking.termFreqs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Ranking.docFreqs(emptyDocs, "doc_id", "text").count() == 0)
    val er = Seq.empty[(Long, Int)].toDF("id", "rank")
    assert(Ranking.rrfFuse(er, er, "id", "rank", 5).count() == 0)
    // one-sided fusion still ranks the populated list
    val one = Seq((7L, 1)).toDF("id", "rank")
    assert(Ranking.rrfFuse(one, er, "id", "rank", 5).count() == 1)
    assert(Sampling.capPerGroup(emptyDocs.withColumn("g", lit("a")),
      "g", "doc_id", 3).count() == 0)
  }

  test("clustering: empty corpus yields empty assignment, not a crash") {
    val a = Clustering.kmeansAssign(emptyVecs, "vec_id", "embedding", k = 3)
    assert(a.count() == 0)
    assert(a.columns.toSeq == Seq("id", "cluster"))
    val (labels, cents) = Clustering.seedCentroids(emptyVecs, "vec_id", "embedding", 3)
    assert(labels.isEmpty && cents.isEmpty)
    // k larger than the corpus: every vector seeds its own cluster
    val tiny = Clustering.kmeansAssign(someVecs, "vec_id", "embedding",
      k = 10, iters = 2)
    assert(tiny.count() == 3)
    assert(tiny.select("cluster").distinct().count() == 3)
  }

  test("session-2 ops: empty inputs are totalities, not crashes") {
    import spark.implicits._
    val emptyDocs = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // corpus report: counting metrics survive an empty corpus
    val report = CorpusReport.build(emptyDocs)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(report("n_docs") == 0.0 && report("n_tokens") == 0.0 &&
      report("mean_doc_tokens") == 0.0)
    assert(!report.contains("p50_chars")) // no median of nothing
    // k-anonymity on empty: no violating groups
    assert(Expectations.kAnonymityViolations(emptyDocs,
      Seq("lang", "source"), 5).count() == 0)
    // chunking / span dedup / rouge / top-token on empty frames
    assert(TextAnalysis.chunkDocs(emptyDocs, "doc_id", "text", 10).count() == 0)
    assert(emptyDocs.select(TextAnalysis.dedupSpansInDoc(col("text")))
      .count() == 0)
    assert(emptyDocs.select(TextAnalysis.rougeN(col("text"), col("text")))
      .count() == 0)
    // PMI on empty corpus
    assert(TextAnalysis.cooccurrenceRatio(emptyDocs, "text").count() == 0)
    // tfidf on empty corpus
    assert(Ranking.tfidfKeywords(emptyDocs, "doc_id", "text").count() == 0)
    // heavy hitters over zero rows: empty sketch, not a crash
    val hh = emptyDocs.agg(graft.functions.HeavyHittersAggregate
      .heavyHitters(col("text"), 4).as("hh")).collect()(0).getSeq[Any](0)
    assert(hh.isEmpty)
    // weighted sample of nothing
    assert(Sampling.weightedSample(emptyDocs, col("doc_id"),
      col("n_chars"), 5).count() == 0)
  }
  test("round-9 additions: passage dedup, DSIR, contamination report, MMR totality") {
    // passage dedup: empty corpus -> empty; single doc -> untouched
    assert(Dedup.removeDuplicatePassages(emptyDocs, "doc_id", "text", 12).count() == 0)
    val one = Dedup.removeDuplicatePassages(oneDoc, "doc_id", "text", 12).collect()(0)
    assert(one.getLong(2) == 0L && one.getString(3) == "just one lonely document here")
    // null text flows through as a zero-token row, not a crash
    val withNull = Seq((1L, "a b"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(Dedup.removeDuplicatePassages(withNull, "doc_id", "text", 2).count() == 2)

    // DSIR: empty frame -> empty; no target rows -> still total (nt = 0)
    assert(TextAnalysis.dsirScore(emptyDocs, "doc_id", "text", lit(true)).count() == 0)
    val noTarget = TextAnalysis.dsirScore(oneDoc, "doc_id", "text", lit(false))
      .collect()(0)
    assert(!noTarget.isNullAt(2))

    // contamination report: empty benchmark -> empty report; empty corpus
    // -> every group reported clean
    assert(Dedup.contaminationReport(oneDoc, emptyDocs.withColumn("g", lit("x")),
      "doc_id", "text", "g").count() == 0)
    val cleanAll = Dedup.contaminationReport(emptyDocs,
        oneDoc.withColumn("g", lit("x")), "doc_id", "text", "g").collect()
    assert(cleanAll.length == 1 && cleanAll(0).getLong(4) == 0L)

    // MMR: empty corpus or empty query panel -> empty selection; corpus
    // smaller than k -> emits what exists
    assert(Similarity.mmrSelectInt8(emptyVecs, someVecs, "vec_id", "embedding",
      k = 2, shortlist = 4).count() == 0)
    assert(Similarity.mmrSelectInt8(someVecs, emptyVecs, "vec_id", "embedding",
      k = 2, shortlist = 4).count() == 0)
    val tiny = Similarity.mmrSelectInt8(someVecs, someVecs.limit(1),
      "vec_id", "embedding", k = 8, shortlist = 8)
    assert(tiny.count() == 2) // corpus minus self = 2 candidates
  }

  test("round-11 additions: upsert, incremental dedup, signature path totality") {
    // merge: empty updates = all-keep identity; empty base = all-insert;
    // both empty = empty
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val none = Seq.empty[(Long, String)].toDF("k", "v")
    val keepAll = Upsert.merge(base, none, Seq("k"))
    assert(keepAll.count() == 2 &&
      keepAll.filter(col("action") =!= "keep").count() == 0)
    val insertAll = Upsert.merge(none, base, Seq("k"))
    assert(insertAll.count() == 2 &&
      insertAll.filter(col("action") =!= "insert").count() == 0)
    assert(Upsert.merge(none, none, Seq("k")).count() == 0)

    // incremental dedup: empty batch -> empty; empty prior -> batch
    // passes through (nothing to collide with); both orders of emptiness
    assert(Dedup.dedupAgainst(emptyDocs, oneDoc, "doc_id", "text").count() == 0)
    assert(Dedup.dedupAgainst(oneDoc, emptyDocs, "doc_id", "text").count() == 1)
    // signature path: empty signature table behaves like an empty prior
    val emptySigs = Dedup.signatures(emptyDocs, "doc_id", "text")
    assert(Dedup.dedupAgainstSignatures(oneDoc, emptySigs, emptyDocs,
      "doc_id", "text").count() == 1)
    assert(Dedup.dedupAgainstSignatures(emptyDocs,
      Dedup.signatures(oneDoc, "doc_id", "text"), oneDoc,
      "doc_id", "text").count() == 0)

    // winnow pairs: empty and single-row corpora yield no pairs
    assert(Dedup.winnowNearDupPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.winnowNearDupPairs(oneDoc, "doc_id", "text").count() == 0)
  }
}
