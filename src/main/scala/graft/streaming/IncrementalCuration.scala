package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.examples.CurationPipeline
import graft.ops.Dedup
import graft.sinks.CorpusWriter

/** Streaming INCREMENTAL curation — the restartable production ingest
  * that the batch `curate.against` CLI approximates daily: each
  * micro-batch runs the full gate chain ([[CurationPipeline.curate]])
  * and then [[Dedup.dedupAgainstSignatures]] against the STANDING
  * corpus, appending only the surviving delta plus its signature rows —
  * so the standing text is read once per batch (candidate verify) and
  * the exact/band stages touch only the ~1-2%-sized signature table.
  *
  * Exactly-once appends under micro-batch REPLAY come from the dedup
  * itself, not from a commit ledger: every row a crashed-but-appended
  * batch already wrote now exact-matches a standing fingerprint, so the
  * redelivered batch's delta is EMPTY (the restart spec pins this).
  * The corpus append and the signature append are two writes; a crash
  * between them leaves the signature table short, which the next batch
  * detects by row count and self-heals by rebuilding from the corpus
  * (the `curate.against` discipline, `Cli.scala`).
  *
  * State discipline: this pipeline keeps NO Spark streaming state — the
  * standing corpus + signature table on storage ARE the state, shared
  * with the batch path; the checkpoint only tracks source offsets. At
  * 100 TB that is the only state that can hold a corpus-lifetime dedup
  * scope (a watermarked in-memory store is window-bounded by design —
  * [[StreamingCuration.dedupExact]] — and cannot see last month's
  * rows). */
object IncrementalCuration {

  /** WARC response records → the (doc_id, text, lang) curation input —
    * the `curate.stream.format=warc` projection, shared by the CLI and
    * the crawl→curation integration path so both drive identical code:
    * only COMPLETE 200 content (crawls carry 404/5xx error pages,
    * redirect stubs, 204 empties, 206 fragments as response records),
    * doc_id = 64-bit hash of the target URI (collisions quarantine via
    * the standing corpus's doc_id mechanism), charset-sniffed decode,
    * lang classified on a one-off extraction of the decoded HTML
    * (`cfg.htmlInput` re-extracts inside curate — increment-sized
    * double work). Works on batch and streaming frames alike. */
  def warcDocs(warc: DataFrame): DataFrame =
    warc.filter(col("warc_type") === "response")
      .filter(col("http_status") === 200)
      .select(xxhash64(col("target_uri")).as("doc_id"),
        graft.ops.TextAnalysis.decodeHttpText(col("payload"),
          col("http_content_type")).as("text"))
      .withColumn("lang", graft.ops.TextAnalysis.langId(
        graft.ops.TextAnalysis.htmlToText(col("text"))))

  /** One micro-batch: curate, dedup against the standing corpus at
    * `standingDir`, append delta + signatures. Bootstraps a missing/
    * empty standing corpus from the first batch. Returns rows appended.
    * Idempotent on replay (see object doc). Rows whose doc_id already
    * exists in the standing corpus with DIFFERENT content (a recrawl)
    * are quarantined to `<standingDir>_rejected` rather than failing
    * the batch — a thrown batch would replay from the checkpoint
    * forever. Exposed separately from [[start]] so tests and custom
    * `foreachBatch` wirings drive the identical code path. */
  def processBatch(spark: SparkSession, batch: DataFrame,
                   standingDir: String, benchmark: DataFrame,
                   cfg: CurationPipeline.Config = CurationPipeline.Config())
      : Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(standingDir)
    val fs = root.getFileSystem(conf)
    def hasParquet(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(p) && {
        val it = fs.listFiles(p, true)
        var found = false
        while (!found && it.hasNext) {
          val f = it.next().getPath
          found = f.getName.endsWith(".parquet") &&
            !f.toString.contains("/_graft_")
        }
        found
      }
    val sigDir = s"$standingDir/_graft_signatures"
    val deltaTmp = s"$standingDir/_graft_increment_tmp"

    if (!hasParquet(root)) {
      // bootstrap: the first batch IS the corpus
      val curated = CurationPipeline.curate(batch, benchmark, cfg = cfg)
      CorpusWriter.writeCurated(curated, standingDir,
        partitionCols = Seq("split", "lang"))
      val written = spark.read.parquet(standingDir)
      Dedup.signatures(written, "doc_id", "text")
        .write.mode("overwrite").parquet(sigDir)
      return written.count()
    }

    val standing = spark.read.parquet(standingDir)
    // self-heal a short signature table (crash between the two appends)
    val standingN = standing.count()
    val sigPath = new org.apache.hadoop.fs.Path(sigDir)
    val sigsOk = hasParquet(sigPath) &&
      spark.read.parquet(sigDir).count() == standingN
    if (!sigsOk) {
      Dedup.signatures(standing, "doc_id", "text")
        .write.mode("overwrite").parquet(sigDir)
    }
    val priorSigs = spark.read.parquet(sigDir)

    val delta = CurationPipeline.curateIncrement(
      batch, benchmark, standing, cfg = cfg,
      standingSigs = priorSigs)
    // materialize the delta ONCE (the curation + dedup DAG must not
    // re-execute per consumer), then read the written copy back
    delta.write.mode("overwrite").parquet(deltaTmp)
    val materialized = spark.read.parquet(deltaTmp)
    val n = materialized.count()
    var appended = 0L
    if (n > 0L) {
      // Same-id-different-content collisions (a recrawled doc_id whose
      // text changed enough to survive dedup) would corrupt the
      // append-only corpus. They are QUARANTINED, not thrown: a
      // require() here would fail the micro-batch, and since the
      // offending batch replays from the checkpoint on every restart,
      // one legitimate recrawl would poison the stream permanently.
      // Colliding rows go to `<standingDir>_rejected` (audit +
      // reprocess path); clean rows append normally.
      val standingIds = standing.select("doc_id")
      val colliding = materialized
        .join(standingIds, Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      val collisions = colliding.count()
      if (collisions > 0L) {
        // replay-idempotent append: a crash after this write but before
        // the checkpoint commit replays the batch, and the colliding
        // row would land in quarantine AGAIN (unlike the corpus append,
        // dedup can't absorb it — the collision is the reason it's
        // here). Anti-join on (doc_id, content fingerprint) against the
        // already-quarantined rows first.
        val rejDir = standingDir + "_rejected"
        val rejPath = new org.apache.hadoop.fs.Path(rejDir)
        val toWrite =
          if (!hasParquet(rejPath)) colliding
          else colliding.withColumn("_fp", md5(col("text")))
            .join(spark.read.parquet(rejDir)
              .select(col("doc_id"), md5(col("text")).as("_fp")),
              Seq("doc_id", "_fp"), "left_anti")
            .drop("_fp")
        val nNew = toWrite.count()
        if (nNew > 0L) toWrite.write.mode("append").parquet(rejDir)
        System.err.println(
          s"IncrementalCuration: quarantined $nNew doc_id collisions " +
            s"to $rejDir ($collisions colliding in batch)")
      }
      val fresh =
        if (collisions == 0L) materialized
        else materialized.join(standingIds, Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
      appended = n - collisions
      if (appended > 0L) {
        CorpusWriter.appendCurated(fresh, standingDir,
          partitionCols = Seq("split", "lang"))
        Dedup.signatures(fresh, "doc_id", "text")
          .write.mode("append").parquet(sigDir)
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(deltaTmp), true)
    appended
  }

  /** Wire [[processBatch]] into a streaming source. The checkpoint
    * tracks source offsets only; restarts resume from the last
    * committed offset and any replayed batch appends nothing. */
  def start(stream: DataFrame, standingDir: String, benchmark: DataFrame,
            checkpointDir: String,
            cfg: CurationPipeline.Config = CurationPipeline.Config(),
            trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, _: Long) =>
        processBatch(b.sparkSession, b, standingDir, benchmark, cfg)
        ()
      }
      .start()
}
