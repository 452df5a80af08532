package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.examples.CurationPipeline
import graft.ops.Dedup
import graft.sinks.CorpusWriter

/** INCREMENTAL curation against a standing corpus — the restartable
  * streaming ingest and, through [[processBatch]], the batch
  * `curate -s curate.against` CLI: each increment runs the full gate
  * chain ([[CurationPipeline.curate]]) and then
  * [[Dedup.dedupAgainstSignatures]] against the STANDING corpus,
  * appending only the surviving delta plus its signature rows —
  * so the standing text is read once per batch (candidate verify) and
  * the exact/band stages touch only the ~1-2%-sized signature table.
  *
  * Exactly-once appends under micro-batch REPLAY come from the dedup
  * itself, not from a commit ledger: every row a crashed-but-appended
  * batch already wrote now exact-matches a standing fingerprint, so the
  * redelivered batch's delta is EMPTY (the restart spec pins this).
  * The corpus append and the signature append are two writes; a crash
  * between them leaves the signature table short, which the next batch
  * detects by row count and self-heals by rebuilding from the corpus.
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

  /** One standing-corpus increment — the one implementation behind both
    * the batch `curate -s curate.against` CLI and the streaming
    * [[start]]: self-heal the signature table, curate the batch and
    * dedup it against the standing corpus, write the surviving delta to
    * `deltaDir`, then append it and its signature rows to the standing
    * corpus at `standingDir`. Bootstraps a missing/empty standing corpus
    * from the first batch. Returns rows appended. Idempotent on replay
    * (see object doc). Rows whose doc_id already exists in the standing
    * corpus with DIFFERENT content (a recrawl) are quarantined to
    * `<standingDir>_rejected` rather than appended or thrown — a thrown
    * stream batch would replay from the checkpoint forever, and a failed
    * batch re-run would hit the same rows again. */
  def processBatch(spark: SparkSession, batch: DataFrame,
                   standingDir: String, deltaDir: String,
                   benchmark: DataFrame,
                   cfg: CurationPipeline.Config = CurationPipeline.Config())
      : Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(standingDir)
    val fs = root.getFileSystem(conf)
    // any .parquet file under `dir`, ignoring the `_graft_` side tables
    // BELOW it (signatures, the stream's delta) — only the corpus root
    // holds such dirs; the side tables themselves are matched normally
    def hasParquet(dir: String): Boolean = {
      val p = new Path(dir)
      val prefix = fs.makeQualified(p).toUri.getPath
      fs.exists(p) && {
        val it = fs.listFiles(p, true)
        var found = false
        while (!found && it.hasNext) {
          val rel = it.next().getPath.toUri.getPath.stripPrefix(prefix)
          found = rel.endsWith(".parquet") && !rel.contains("/_graft_")
        }
        found
      }
    }
    val sigDir = s"$standingDir/_graft_signatures"
    val partitionCols = Seq("split", "lang")

    if (!hasParquet(standingDir)) {
      // bootstrap: the first batch IS the corpus
      val curated = CurationPipeline.curate(batch, benchmark, cfg = cfg)
      CorpusWriter.writeCurated(curated, standingDir, partitionCols)
      val written = spark.read.parquet(standingDir)
      Dedup.signatures(written, "doc_id", "text")
        .write.mode("overwrite").parquet(sigDir)
      return written.count()
    }

    val standing = spark.read.parquet(standingDir)
    // self-heal: the corpus append and the signature append below are
    // two writes — a crash between them leaves the table SHORT (rows in
    // the corpus with no signature), which would let their duplicates
    // back in. A row-count disagreement (parquet footer counts, cheap)
    // triggers a full rebuild from the corpus.
    val hasSigs = hasParquet(sigDir)
    if (!hasSigs || spark.read.parquet(sigDir).count() != standing.count()) {
      if (hasSigs) System.err.println(
        s"[graft] curate: signature table out of sync with $standingDir " +
          "(interrupted append?) — rebuilding")
      Dedup.signatures(standing, "doc_id", "text")
        .write.mode("overwrite").parquet(sigDir)
    }
    val delta = CurationPipeline.curateIncrement(
      batch, benchmark, standing, cfg = cfg,
      standingSigs = spark.read.parquet(sigDir))
    CorpusWriter.writeCurated(delta, deltaDir, partitionCols)
    // all further steps read the WRITTEN delta — never the live frame
    // (a second action would re-execute the curation + dedup DAG) — and
    // an empty delta leaves no parquet to infer, hence the guard
    if (!hasParquet(deltaDir)) return 0L
    val materialized = spark.read.parquet(deltaDir)
    // Same-id-different-content collisions (a recrawled doc_id whose
    // text changed enough to survive dedup) would corrupt the
    // append-only corpus: they go to `<standingDir>_rejected` (audit +
    // reprocess path) and the clean rows append normally.
    val standingIds = standing.select("doc_id")
    val collisions = materialized
      .join(standingIds, Seq("doc_id"), "left_semi").count()
    val fresh =
      if (collisions == 0L) materialized
      else {
        // replay-idempotent quarantine: a crash after this write but
        // before the append (or the stream's offset commit) re-runs the
        // batch, and the colliding row would land in quarantine AGAIN
        // (dedup can't absorb it — the collision is why it's here).
        // Anti-join on (doc_id, content fingerprint) against the
        // already-quarantined rows first.
        val colliding = materialized
          .join(standingIds, Seq("doc_id"), "left_semi")
          .localCheckpoint(true)
        val rejDir = standingDir + "_rejected"
        val toWrite =
          if (!hasParquet(rejDir)) colliding
          else colliding.withColumn("_fp", md5(col("text")))
            .join(spark.read.parquet(rejDir)
              .select(col("doc_id"), md5(col("text")).as("_fp")),
              Seq("doc_id", "_fp"), "left_anti")
            .drop("_fp")
        val nNew = toWrite.count()
        if (nNew > 0L) toWrite.write.mode("append").parquet(rejDir)
        System.err.println(
          s"[graft] curate: quarantined $nNew doc_id collisions to " +
            s"$rejDir ($collisions colliding in batch)")
        // materialized now: the anti-join reads the standing corpus,
        // which the append below changes
        materialized.join(standingIds, Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
      }
    CorpusWriter.appendCurated(fresh, standingDir, partitionCols)
    // keep the signature table in lockstep with the corpus: the next
    // increment's exact/band stages never re-read this delta's text
    Dedup.signatures(fresh, "doc_id", "text")
      .write.mode("append").parquet(sigDir)
    materialized.count() - collisions
  }

  /** Wire [[processBatch]] into a streaming source. The checkpoint
    * tracks source offsets only; restarts resume from the last
    * committed offset and any replayed batch appends nothing. Each
    * batch's delta goes to `<standingDir>/_graft_increment_tmp`
    * (invisible to corpus reads) and is deleted once appended. */
  def start(stream: DataFrame, standingDir: String, benchmark: DataFrame,
            checkpointDir: String,
            cfg: CurationPipeline.Config = CurationPipeline.Config(),
            trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val deltaTmp = new Path(s"$standingDir/_graft_increment_tmp")
        processBatch(b.sparkSession, b, standingDir, deltaTmp.toString,
          benchmark, cfg)
        deltaTmp.getFileSystem(b.sparkSession.sessionState.newHadoopConf())
          .delete(deltaTmp, true)
        ()
      }
      .start()
}
