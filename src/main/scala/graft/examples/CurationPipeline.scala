package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.FrameScope

import graft.ops.{Clustering, Dedup, Sampling, TextAnalysis}
import graft.sinks.CorpusWriter

/** End-to-end training-corpus curation — the composed "user could switch"
  * example for the §2.9 extension surface, chaining the operators the way
  * a production 100 TB run would:
  *
  *   0. Unicode NFC canonicalization (codegen kernel, ASCII fast path) —
  *      BEFORE fingerprinting, so canonically-equal texts dedup together;
  *   1. exact dedup on the content fingerprint (16-byte-key shuffle);
  *   2. MinHash+LSH near-dup dedup with connected-components survivor
  *      election (text never crosses a shuffle);
  *   3. benchmark decontamination (8-gram overlap, Bloom-prefiltered so
  *      clean docs never reach the join), with optional cross-document
  *      passage dedup after it (repeated w-token windows removed from
  *      all but their global first occurrence);
  *   4. quality gates: heuristic quality score, duplicate-n-gram
  *      repetition cap, most-common-word cap, language allowlist — all
  *      narrow codegen columns;
  *   5. PII scrub (typed tags, regexp chain), then an optional DSIR
  *      importance gate (hashed-unigram log target/raw likelihood);
  *   6. optional temperature-weighted language rebalancing and
  *      token-budget selection (quantile-bucketed prefix sums);
  *   7. deterministic md5-keyed train/val/test split;
  *   8. partitioned parquet out via CorpusWriter (bounded writer tasks
  *      per partition value, maxRecordsPerFile rolling).
  *
  * Stage order is the cost order: each dedup/filter stage shrinks the
  * corpus before the next pays for it, and every per-row stage after the
  * near-dup join is narrow, so the whole tail pipelines inside one scan.
  */
object CurationPipeline {

  /** Gate thresholds; defaults match the t01/t04 oracle semantics. */
  final case class Config(
      // raw-HTML ingest: when true, textCol holds crawl HTML and stage
      // -1 rewrites it to extracted plain text (TextAnalysis.htmlToText
      // — script/style/comment strip, block-tag line breaks, entity
      // decode, whitespace collapse) before any gate runs; docs whose
      // markup extracts to empty are dropped here, not downstream
      htmlInput: Boolean = false,
      // with htmlInput: extract MAIN CONTENT only (TextAnalysis
      // .htmlMainText — boilerplate containers and link-dense/short
      // blocks drop) instead of full tag-stripped text; page chrome
      // (menus, footers, link boxes) never enters the corpus
      htmlMainContent: Boolean = false,
      // persist the canonicalized working set (post-extract, post-NFC
      // text) so the dedup/gate stages read it from cache instead of
      // re-running the union + extraction kernels per consumer (~4
      // re-executions in the default lazy shape). For INCREMENT-scale
      // inputs that fit executor storage — a corpus-scale batch should
      // stay lazy (text is the big column; at 100 TB you materialize
      // between stages with a write, not a cache). The curated output is
      // then eagerly materialized and the cached working set freed
      // before curate() returns (see FrameScope).
      cacheWorkingSet: Boolean = false,
      // repair cp1252/Latin-1 mojibake before canonicalization (the
      // conservative round-trip rule — clean accented text never
      // rewrites); mojibake docs otherwise miss their clean twins in
      // every byte-keyed dedup stage
      fixEncoding: Boolean = false,
      nearDupThreshold: Double = 0.8,
      // near-dup survivor election: None = min-id (deterministic,
      // cheapest); Some(score) = keep the best-scoring member per
      // cluster (Dedup.nearDupDedupBy — "keep the longest copy"), score
      // evaluated over the document's columns
      electSurvivorBy: Option[org.apache.spark.sql.Column] = None,
      maxBenchmarkOverlap: Long = 0,       // drop any doc sharing >N 8-grams
      minQuality: Double = 0.3,
      maxDup3Ratio: Double = 0.5,
      maxTopTokenFraction: Double = 1.0,   // 1.0 = gate off
      // deflate-ratio band: below = template spam, above = random soup
      compressionBand: Option[(Double, Double)] = None,
      // cross-document passage dedup: remove every w-token window that
      // repeats corpus-wide from all but its global first occurrence
      // (Lee et al. exact-substring); docs scrubbed empty are dropped
      passageDedupWindow: Option[Int] = None,
      // DSIR gate: (target subset predicate, min mean micro-nat
      // log-ratio) — keep docs at least this target-like; calibrate the
      // threshold on a scored sample before a production run
      dsirGate: Option[(org.apache.spark.sql.Column, Double)] = None,
      langs: Seq[String] = Seq("en", "es", "de", "fr"),
      // temperature-mix the languages toward sqrt weights, ~N docs out
      mixTarget: Option[Long] = None,
      // then best-quality-first until the whitespace-token budget is spent
      tokenBudget: Option[Long] = None,
      // deterministic epoch upsampling (training-mix weights as REPEAT
      // counts — "en 2.3 epochs"): applied after selection, before the
      // split, so every copy of a document inherits ONE split (the
      // assignment hashes the id — no train/val leakage across copies).
      // Languages in `langs` but absent from this map default to weight
      // 1.0 (pass-through) — a partial spec upsamples what it names and
      // never silently deletes a kept language. Output gains a `copy`
      // column when set.
      epochWeights: Option[Map[String, Double]] = None,
      // last entry is the remainder bucket (splitAssign semantics)
      splits: Seq[(String, Double)] = Seq(
        "train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      splitSalt: String = "graft")

  /** Curate `docs` (idCol, textCol, langCol) against a held-out
    * `benchmark` (textCol). Returns the cleaned frame with the original
    * columns plus `split`; every dropped row is dropped for exactly one
    * reason, in stage order. */
  def curate(docs: DataFrame, benchmark: DataFrame,
             idCol: String = "doc_id", textCol: String = "text",
             langCol: String = "lang",
             cfg: Config = Config()): DataFrame = {
    FrameScope(docs.sparkSession) { s =>
      // -1. raw-HTML ingest: extract plain text in the scan stage (narrow
      // kernel) so every downstream gate sees clean text; empty
      // extractions (pure-markup pages) drop here
      val textual =
        if (!cfg.htmlInput) docs
        else docs.withColumn(textCol,
            if (cfg.htmlMainContent) TextAnalysis.htmlMainText(col(textCol))
            else TextAnalysis.htmlToText(col(textCol)))
          .filter(length(col(textCol)) > 0)

      // 0. canonicalize bytes before anything hashes them (narrow
      // kernels; optional mojibake repair first — same scan stage)
      val repaired =
        if (!cfg.fixEncoding) textual
        else textual.withColumn(textCol, TextAnalysis.fixMojibake(col(textCol)))
      val canon0 = repaired.withColumn(textCol,
        TextAnalysis.normalizeNfc(col(textCol), stripControls = true))
      val canon = if (cfg.cacheWorkingSet) s.persist(canon0) else canon0

      // 1. exact dedup: min-id survivor per normalized-content fingerprint.
      // The anti-join form shuffles only (fingerprint, id) pairs — the
      // window form would move every document body through the exchange
      val exact = Dedup.exactDedupAnti(
        canon, TextAnalysis.fingerprintMd5(col(textCol)), idCol)

      // 2. near-dup dedup (LSH pairs -> components -> survivor election:
      // min-id by default, best-score with cfg.electSurvivorBy)
      val uniq = cfg.electSurvivorBy match {
        case Some(score) =>
          Dedup.nearDupDedupBy(exact, idCol, textCol, score,
            cfg.nearDupThreshold)
        case None =>
          Dedup.nearDupDedup(exact, idCol, textCol, cfg.nearDupThreshold)
      }

      // 3. decontamination: drop docs overlapping the held-out benchmark.
      // Bloom-prefiltered: the clean majority never reaches the join
      val contaminated = Dedup.bloomContamination(uniq, benchmark, idCol, textCol)
        .filter(col("n_overlap") > cfg.maxBenchmarkOverlap)
        .select(col("doc_id").as(idCol))
      val decon = uniq.join(contaminated, Seq(idCol), "left_anti")

      // 3.5 optional cross-document passage dedup: doc-level dedup above
      // removed whole near-duplicates; this removes the SPANS that still
      // repeat across surviving docs (boilerplate, license blocks). The
      // cleaned text re-attaches by id join (narrow cols ride the join,
      // the rebuilt text comes from the dedup side); scrubbed-empty docs
      // drop here so later stages never see token-less rows
      val clean = cfg.passageDedupWindow.fold(decon) { w =>
        val scrubbed = Dedup.removeDuplicatePassages(decon, idCol, textCol, w)
          .filter(col("n_tokens") > col("n_removed"))
          .select(col(idCol), col("clean_text").as(textCol))
        decon.drop(textCol).join(scrubbed, Seq(idCol))
      }

      // 4-5. narrow tail: quality gates, PII scrub
      val gated = clean
        .filter(TextAnalysis.qualityScore(col(textCol)) >= cfg.minQuality)
        .filter(TextAnalysis.duplicateNgramRatio(col(textCol), 3) <= cfg.maxDup3Ratio)
        .filter(TextAnalysis.topTokenFraction(col(textCol)) <= cfg.maxTopTokenFraction)
        .filter(cfg.compressionBand.fold(lit(true)) { case (lo, hi) =>
          TextAnalysis.compressionRatio(col(textCol)).between(lo, hi) })
        .filter(col(langCol).isin(cfg.langs: _*))
        .withColumn(textCol, TextAnalysis.scrubPii(col(textCol)))

      // 5.5 optional DSIR gate: keep documents whose hashed-unigram
      // importance score says they look like the target subset; the score
      // frame carries (id, long) only, survivors re-attach by semi join
      val selected = cfg.dsirGate.fold(gated) { case (target, minAvg) =>
        val keep = TextAnalysis.dsirScore(gated, idCol, textCol, target)
          .filter(col("avg_logw") >= minAvg)
          .select(col(idCol))
        gated.join(keep, Seq(idCol), "left_semi")
      }

      // 6. optional corpus shaping: language rebalance, then token budget
      val mixed = cfg.mixTarget.fold(selected)(t =>
        Sampling.temperatureMix(selected, col(idCol), col(langCol), t))
      val bounded = cfg.tokenBudget.fold(mixed)(b =>
        Sampling.takeUntilBudget(mixed, col(idCol),
          TextAnalysis.qualityScore(col(textCol)),
          TextAnalysis.tokenCountWs(col(textCol)), b))

      // 6.5 optional epoch upsampling: mixture weights as repeat counts;
      // kept languages missing from the spec default to 1.0 (the raw
      // operator's absent-means-drop convention is for full mixture specs,
      // not the capstone's additive override)
      val repeated = cfg.epochWeights.fold(bounded) { w =>
        val full = cfg.langs.map(l => l -> w.getOrElse(l, 1.0)).toMap ++ w
        Sampling.epochUpsample(bounded, col(idCol), col(langCol), full)
      }

      // 7. split assignment (hashes the id: every copy of a doc lands in
      // the same split — repeats never leak across train/val)
      val out = repeated.withColumn("split",
        Sampling.splitAssign(col(idCol), cfg.splits, cfg.splitSalt))

      // 8. working-set release: with the cache on, EAGERLY materialize the
      // curated output (one localCheckpoint job — by this point the dedup
      // stages' internal actions already harvested the cache's block
      // re-reads), and the scope frees the working set. The eager copy is
      // increment-sized (the knob's documented scope) and is reclaimed
      // when the caller drops the frame; downstream consumers
      // (curateIncrement's dedupAgainst, the writers) read its blocks
      // instead of re-running the chain.
      if (cfg.cacheWorkingSet) out.localCheckpoint(true) else out
    }
  }

  /** Incremental curation — "today's crawl against the standing corpus",
    * the shape production corpus refreshes actually run. The new batch
    * goes through the full [[curate]] gate chain (so its text is
    * canonicalized/scrubbed exactly like the standing rows were), then
    * [[Dedup.dedupAgainstSignatures]] drops every row that is an exact
    * or near duplicate of ANY standing row (bipartite band join — the
    * standing corpus never self-joins). Fingerprints and bands come from
    * `standingSigs`, the maintained [[Dedup.signatures]] table of
    * `standing` (~1-2% of the corpus bytes); standing TEXT is scanned
    * once, for candidate verification only. Returns ONLY the surviving
    * new rows; the caller appends them to the standing corpus (see the
    * `curate` CLI's `curate.against` mode), after which re-running the
    * same input yields zero rows.
    *
    * Epoch upsampling is rejected here: a standing corpus must hold one
    * row per document (repeat copies would pair with each other on the
    * next increment); apply training-mix repeats when EXPORTING the
    * corpus, not when maintaining it. */
  def curateIncrement(newDocs: DataFrame, benchmark: DataFrame,
                      standing: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text",
                      langCol: String = "lang",
                      cfg: Config = Config(),
                      standingSigs: DataFrame): DataFrame = {
    require(cfg.epochWeights.isEmpty,
      "curateIncrement: epoch upsampling does not compose with a standing " +
        "corpus (one row per document); apply repeats at export time")
    val curated = curate(newDocs, benchmark, idCol, textCol, langCol, cfg)
    Dedup.dedupAgainstSignatures(curated, standingSigs,
      standing.select(col(idCol), col(textCol)), idCol, textCol,
      cfg.nearDupThreshold)
  }

  /** Curate and write, partitioned by (split, lang) with bounded writer
    * tasks — the complete ingest-to-corpus call. */
  def curateAndWrite(docs: DataFrame, benchmark: DataFrame, path: String,
                     cfg: Config = Config()): Unit =
    CorpusWriter.writeCurated(curate(docs, benchmark, cfg = cfg), path,
      partitionCols = Seq("split", "lang"),
      clusterBy = Seq(col("doc_id")))

  /** Curated corpus → training shards: FFD-pack the documents into
    * token-budget bins without splitting any document
    * ([[graft.ops.Packing.packBinsFFD]]), then export WebDataset tar
    * shards ([[graft.sinks.WebDatasetWriter]]) where each sample carries
    * its text payload plus a JSON sidecar naming its (chunk, bin) — the
    * loader-side grouping key for assembling packed sequences. The
    * end-to-end terminal step after [[curate]]: every stage is
    * deterministic, so a re-run reproduces byte-identical shards. */
  def exportTrainingShards(docs: DataFrame, path: String,
                           idCol: String = "doc_id", textCol: String = "text",
                           tokenBudget: Long = 2048L,
                           chunkIdSpan: Long = 1 << 20,
                           numShards: Int = 64): Unit = {
    val toks = docs.select(col(idCol), col(textCol),
      TextAnalysis.tokenCountWs(col(textCol)).as("_n_tok"),
      // loader-ready BPE ids (pinned merge table + GPT-2 id
      // construction) in the sidecar: shards never need a loader-side
      // re-tokenization pass over the text — at 100 TB that pass is a
      // second full-corpus read
      graft.functions.BpeEncodeExpression.bpeEncode(col(textCol))
        .as("_token_ids"))
    val packed = graft.ops.Packing.packBinsFFD(
      toks.select(col(idCol), col("_n_tok")), idCol, "_n_tok",
      tokenBudget, chunkIdSpan)
    val samples = toks.join(packed, idCol)
    graft.sinks.WebDatasetWriter.writeShards(samples, path, idCol,
      Seq(
        "json" -> to_json(struct(col("chunk"), col("bin_ix"),
          col("n_tokens"), col("_token_ids").as("token_ids"))),
        "txt" -> col(textCol)),
      numShards)
  }

  /** Diversity-balanced corpus mix: cluster the embedding space
    * (spherical k-means, driver-trained centroids + one narrow
    * assignment pass), then cap each cluster's document count — so no
    * semantic neighborhood dominates the training mix, the
    * embedding-space analogue of the per-domain cap.
    *
    * Scale shape: the only non-narrow stages are the (id, cluster)
    * equi-join attaching cluster labels to documents and
    * [[Sampling.capPerGroup]]'s bounded (group, key) aggregate +
    * left-semi re-attach — document text crosses exactly one shuffle
    * (the label join), and nothing is ever window-sorted per cluster.
    * Returns the surviving docs with their `cluster` label. */
  def balanceByCluster(docs: DataFrame, embeddings: DataFrame,
                       k: Int, maxPerCluster: Int,
                       idCol: String = "doc_id", vecIdCol: String = "vec_id",
                       vecCol: String = "embedding", iters: Int = 5,
                       salt: String = "graft"): DataFrame = {
    val assigned = Clustering.kmeansAssign(embeddings, vecIdCol, vecCol, k,
        iters)
      .withColumnRenamed("id", idCol)
    val labeled = docs.join(assigned, Seq(idCol))
    Sampling.capPerGroup(labeled, "cluster", idCol, maxPerCluster, salt)
  }
}
