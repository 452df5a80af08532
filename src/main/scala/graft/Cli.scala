package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.examples.DemoIndexer
import graft.marc.MarcFunctions.marcRecordEncoder
import graft.pipeline.IndexerConfig
import graft.sinks.{SolrJsonSink, Writers}
import graft.sources.MarcIo

/** spark-submit main mirroring the reference's `traject` CLI
  * (/root/reference/lib/traject/command_line.rb:14-278):
  *
  *   graft.Cli [process|marcout|commit|curate|fetch] [-c config.Class]
  *             -i marc|json|xml|genericxml
  *             [-o outDir] [-w json|csv|debug|null|solr] [-u solrUrl]
  *             [-s key=value ...] input files...
  *
  * `-i genericxml` is the NokogiriIndexer route: files split into records
  * by `-s xml.each_record_xpath=...` (namespaces via
  * `-s xml.namespaces=p=uri;p2=uri`), passed to the `-c` config as raw-XML
  * rows (column `xml`) for extract_xpath rules.
  *
  * `-c` loads a user pipeline (an object/class implementing
  * `graft.pipeline.IndexerConfig`, the compiled analog of an eval'd ruby
  * config — command_line.rb:102-142); default is the demo indexer.
  * `marcout` bypasses mapping and re-serializes records; `commit` sends a
  * commit to Solr and exits (command_line.rb:269-277).
  * `-s marc_source.encoding=MARC-8` transcodes binary reads. Exit code is
  * non-zero when the Solr writer skipped records, matching the reference's
  * batch contract (doc/batch_execution.md:164-183).
  */
object Cli {

  /** The full `fetch.*` knob set, shared by the `fetch` and `crawl`
    * commands — one source of truth so a knob added for one can never be
    * silently dropped by the other (the r16 ADVICE class of bug). Any
    * setting under `fetch.transport.<k>` bridges to the executor System
    * property `graft.fetch.<k>` via [[crawl.Fetch.Config.transportProps]]
    * — the knobs no-arg transports like [[crawl.HttpFetchTransport]] read
    * at construction (timeout_secs, gzip, max_body_bytes) — so transport
    * tuning rides `-s` settings instead of
    * `spark.executor.extraJavaOptions`. */
  private[graft] def fetchConfig(
      settings: collection.Map[String, String]): crawl.Fetch.Config =
    crawl.Fetch.Config(
      transportClass = settings.getOrElse("fetch.transport", sys.error(
        "-s fetch.transport=className required (a graft.crawl.FetchTransport)")),
      userAgent = settings.getOrElse("fetch.user_agent", "graftbot"),
      maxAttempts = settings.getOrElse("fetch.max_attempts", "3").toInt,
      backoffMs = settings.getOrElse("fetch.backoff_ms", "1000").toLong,
      defaultDelayMs = settings.getOrElse("fetch.delay_ms", "0").toLong,
      batchSize = settings.getOrElse("fetch.batch_size", "100000").toLong,
      gzip = settings.get("fetch.gzip").contains("true"),
      maxRedirects = settings.getOrElse("fetch.max_redirects", "5").toInt,
      // true = gate cross-host redirect hops on the target's real
      // robots.txt (fetched via the same transport, memoized)
      redirectRobotsGate = settings.get("fetch.robots_gate").contains("true"),
      maxHostFailures =
        settings.getOrElse("fetch.host_failure_budget", "0").toInt,
      maxPerHostPerRound =
        settings.getOrElse("fetch.max_per_host_per_round", "0").toLong,
      warcHops = settings.get("fetch.warc_hops").contains("true"),
      transportProps = settings.collect {
        case (k, v) if k.startsWith("fetch.transport.") =>
          ("graft.fetch." + k.stripPrefix("fetch.transport.")) -> v
      }.toMap)

  final case class ExitCode(code: Int) extends RuntimeException(s"exit $code")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get("graft-cli")
    // basic auth from -s solr_writer.basic_auth_user/password (URL userinfo
    // also works; HttpTransport extracts it)
    def setting(prefix: String): Option[String] =
      args.toSeq.sliding(2).collectFirst {
        case Seq("-s", kv) if kv.startsWith(prefix + "=") => kv.split("=", 2)(1)
      }
    val auth = for {
      u <- setting("solr_writer.basic_auth_user")
      p <- setting("solr_writer.basic_auth_password")
    } yield (u, p)
    try run(args.toSeq, spark, new SolrJsonSink.HttpTransport(auth = auth))
    catch { case ExitCode(c) => sys.exit(c) }
    finally spark.stop()
  }

  /** Testable entry point: throws ExitCode instead of exiting, takes an
    * injectable transport and an externally-managed session. */
  def run(args: Seq[String], spark: SparkSession,
          transport: SolrJsonSink.SolrTransport): Unit = {
    var command = "process"
    var inputType = "marc"
    var outDir = "graft-out"
    var writer = "json"
    var solrUrl: Option[String] = None
    var configName: Option[String] = None
    val settings = scala.collection.mutable.Map[String, String]()
    val inputs = scala.collection.mutable.Buffer[String]()

    var i = 0
    while (i < args.length) {
      args(i) match {
        case "process" | "marcout" | "commit" | "curate" | "fetch" | "crawl"
            if inputs.isEmpty =>
          command = args(i)
        case "-i" => i += 1; inputType = args(i)
        case "-o" => i += 1; outDir = args(i)
        case "-w" => i += 1; writer = args(i)
        case "-u" => i += 1; solrUrl = Some(args(i))
        case "-c" => i += 1; configName = Some(args(i))
        case "-s" => i += 1
          args(i).split("=", 2) match {
            case Array(k, v) => settings(k) = v
            case _ => sys.error(s"bad -s setting: ${args(i)}")
          }
        case path => inputs += path
      }
      i += 1
    }

    if (command == "commit") {
      val url = solrUrl.getOrElse(sys.error("-u solrUrl required for commit"))
      val st = SolrJsonSink.Settings(url)
      val resp = transport.postJson(SolrJsonSink.commitUrl(st), "{}")
      if (resp.status < 200 || resp.status >= 300)
        sys.error(s"Solr commit failed: HTTP ${resp.status}: ${resp.body}")
      System.err.println(s"[graft] commit sent to ${SolrJsonSink.commitUrl(st)}")
      return
    }

    if (command == "fetch") {
      // crawl fetch executor: frontier parquet in (url [+ domain,
      // crawl_delay_ms, pos — t51/t52's politeness output]), WARC
      // archive out, batch commit-log exactly-once (re-running a
      // completed fetch is a no-op; a crashed run resumes).
      //   graft.Cli fetch -o warc-out -s fetch.transport=className
      //     [-s fetch.batch_size=N] [-s fetch.max_attempts=N]
      //     [-s fetch.backoff_ms=N] [-s fetch.delay_ms=N]
      //     [-s fetch.user_agent=ua] [-s fetch.gzip=true]
      //     [-s fetch.max_redirects=N] [-s fetch.robots_gate=true]
      //     [-s fetch.max_per_host_per_round=N (defer a host's overflow
      //      beyond N rows per action — Zipf-host round-latency cap)]
      //     [-s fetch.transport.<k>=v (→ executor System property
      //      graft.fetch.<k>: HttpFetchTransport's timeout_secs / gzip /
      //      max_body_bytes)]
      //     [-s fetch.checkpoint=dir] frontier.parquet...
      // The archive then re-enters the pipeline via
      //   graft.Cli curate -s curate.stream.format=warc ... warc-out
      require(inputs.nonEmpty, "no frontier tables given")
      val frontier = inputs.map(spark.read.parquet(_)).reduce(_ unionByName _)
      val stats = crawl.Fetch.run(frontier, outDir,
        checkpointDir = settings.get("fetch.checkpoint").orNull,
        cfg = fetchConfig(settings))
      System.err.println(
        s"[graft] fetch: attempted=${stats.attempted} responded=${stats.ok} " +
          s"failed=${stats.failed} retried=${stats.retried} " +
          s"bytes=${stats.bytes} → $outDir")
      return
    }

    if (command == "crawl") {
      // discovery crawl: seeds parquet in (url column), bounded-depth
      // BFS over the live web (fetch, parse outlinks, visited anti-join,
      // iterate), WARC archive out.
      //   graft.Cli crawl -o crawl-out -s fetch.transport=className
      //     -s crawl.max_depth=N [-s crawl.scope_prefix=p1,p2,...]
      //     [-s crawl.max_frontier=N] [-s crawl.restartable=true]
      //     [-s crawl.recrawl_failures=true (no seeds: re-queue the
      //      restartable crawl's terminal-failure tombstones in place)]
      //     [fetch.* knobs as for `fetch`, incl. fetch.batch_size /
      //      fetch.gzip / fetch.host_failure_budget / fetch.warc_hops /
      //      fetch.transport.<k>=v]
      //     seeds.parquet...
      // Default (in-memory rounds): crawl-out/warc (flat WARC dir —
      // curate.stream watches it directly) + crawl-out/audit (url,
      // depth, status, attempts, error, redirect chain — incl.
      // status=-1 transport failures that have no WARC record).
      // crawl.restartable=true routes through Crawl.run instead: WARC
      // lands per round (crawl-out/round_<d>/) through the batch
      // commit-log, frontiers persist under crawl-out/_crawl/, and
      // RE-RUNNING the same command after a crash resumes at the first
      // unfinished batch — the form a long production crawl wants.
      val scope: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        settings.get("crawl.scope_prefix") match {
          case Some(ps) =>
            val prefixes = ps.split(",").map(_.trim).filter(_.nonEmpty)
            u => prefixes.map(u.startsWith(_)).reduce(_ || _)
          case None => _ => lit(true)
        }
      val cfg = fetchConfig(settings)
      val maxDepth = settings.getOrElse("crawl.max_depth", "2").toInt
      val maxFrontier = settings.getOrElse("crawl.max_frontier",
        crawl.Crawl.MaxFrontierPerRound.toString).toLong
      if (settings.get("crawl.recrawl_failures").contains("true")) {
        // -s crawl.recrawl_failures=true: no seeds — re-queue the
        // persisted tombstones of the restartable crawl at -o outDir
        val stats = crawl.Crawl.recrawlFailures(outDir, cfg)
        System.err.println(
          s"[graft] recrawl: attempted=${stats.attempted} " +
            s"responded=${stats.ok} failed=${stats.failed} " +
            s"retried=${stats.retried} bytes=${stats.bytes} → $outDir")
        return
      }
      require(inputs.nonEmpty, "no seed tables given")
      val seeds = inputs.map(spark.read.parquet(_)).reduce(_ unionByName _)
      if (settings.get("crawl.restartable").contains("true")) {
        val stats = crawl.Crawl.run(seeds, outDir, cfg, maxDepth,
          scope = scope, maxFrontierPerRound = maxFrontier)
        System.err.println(
          s"[graft] crawl (restartable): rounds=${stats.size} " +
            s"attempted=${stats.map(_.attempted).sum} " +
            s"failed=${stats.map(_.failed).sum} " +
            s"bytes=${stats.map(_.bytes).sum} maxDepth=$maxDepth → $outDir")
      } else {
        val archive = crawl.Crawl.bfs(seeds, cfg, maxDepth,
          scope = scope, maxFrontierPerRound = maxFrontier)
        sinks.WarcWriter.write(
          crawl.Fetch.toWarcRows(archive), s"$outDir/warc")
        archive.select(col("url"), col("depth"), col("status"),
            col("attempts"), col("error"), col("redirects"))
          .write.mode("overwrite").parquet(s"$outDir/audit")
        val total = archive.count()
        val failed = archive.filter(col("status") < 0).count()
        System.err.println(
          s"[graft] crawl: fetched=$total failed=$failed " +
            s"maxDepth=$maxDepth → $outDir")
      }
      return
    }

    if (command == "curate") {
      // training-corpus curation over parquet document tables
      // (doc_id, text, lang): the §2.9 pipeline from spark-submit.
      //   graft.Cli curate -o outdir [-w parquet|jsonl|webdataset]
      //     [-s curate.benchmark=path] [-s curate.langs=en,de]
      //     [-s curate.passage_window=12] [-s curate.token_budget=N]
      //     [-s curate.epochs=en:2.3,es:1.0] [-s curate.shards=64]
      //     [-s curate.against=standing-corpus-dir]
      //     [-s curate.elect=tokens|quality]
      //     [-s curate.html=text|main]  (raw-crawl HTML inputs)
      //     [-s curate.stream.checkpoint=dir]  (streaming incremental)
      //     docs.parquet...
      // curate.against = INCREMENTAL mode (today's crawl vs the standing
      // corpus), the same increment the streaming mode runs per
      // micro-batch (IncrementalCuration.processBatch): the batch runs
      // the full gate chain, then d19's signature-table dedup against the
      // standing rows; outdir receives ONLY the surviving new rows, which
      // are then appended into the standing corpus (and its
      // signature table) — so re-running the same input yields
      // zero new rows. A surviving row whose doc_id the standing corpus
      // already holds (a recrawl with changed text) is quarantined to
      // <standing>_rejected instead of appended.
      require(inputs.nonEmpty, "no input document tables given")
      import spark.implicits._
      // lazy: the streaming modes below return before any batch read,
      // and a WARC watched dir is not parquet-readable at all
      lazy val docs = inputs.map(spark.read.parquet(_)).reduce(_ unionByName _)
      val benchmark = settings.get("curate.benchmark")
        .map(p => spark.read.parquet(p).select("text"))
        .getOrElse(Seq.empty[String].toDF("text"))
      val cfg = examples.CurationPipeline.Config(
        // -s curate.html=text|main — raw-crawl ingest: inputs hold HTML,
        // stage -1 extracts plain text ("text") or main content only
        // ("main": boilerplate containers + link-dense blocks drop)
        htmlInput = settings.get("curate.html").isDefined,
        htmlMainContent = settings.get("curate.html") match {
          case Some("main") => true
          case Some("text") | None => false
          case Some(other) => sys.error(
            s"curate.html: unknown mode '$other' (text|main)")
        },
        nearDupThreshold = settings.get("curate.near_dup_threshold")
          .map(_.toDouble).getOrElse(0.8),
        minQuality = settings.get("curate.min_quality")
          .map(_.toDouble).getOrElse(0.3),
        langs = settings.get("curate.langs").map(_.split(",").toSeq)
          .getOrElse(Seq("en", "es", "de", "fr")),
        // -s curate.elect=tokens|quality — near-dup survivor election by
        // token count or quality score instead of the min-id default
        electSurvivorBy = settings.get("curate.elect").map {
          case "tokens" => ops.TextAnalysis.tokenCountWs(col("text"))
          case "quality" => ops.TextAnalysis.qualityScore(col("text"))
          case other => sys.error(
            s"curate.elect: unknown election '$other' (tokens|quality)")
        },
        passageDedupWindow = settings.get("curate.passage_window").map(_.toInt),
        tokenBudget = settings.get("curate.token_budget").map(_.toLong),
        // -s curate.epochs=en:2.3,es:1.0 — training-mix repeat weights
        epochWeights = settings.get("curate.epochs").map(_.split(",").toSeq
          .map { kv =>
            kv.split(":", 2) match {
              case Array(l, w) =>
                val weight =
                  try w.trim.toDouble
                  catch {
                    case _: NumberFormatException => sys.error(
                      s"curate.epochs: non-numeric weight in '$kv' " +
                        "(expected lang:weight, e.g. en:2.3)")
                  }
                l.trim -> weight
              case _ => sys.error(
                s"curate.epochs: malformed entry '$kv' " +
                  "(expected lang:weight, e.g. en:2.3)")
            }
          }.toMap))
      // -s curate.stream.checkpoint=DIR (+ curate.against=standingDir):
      // STREAMING incremental curation — IncrementalCuration.start over a
      // watched parquet directory. Offsets live in the checkpoint, each
      // micro-batch appends its surviving delta + signatures to the
      // standing corpus, and a restart resumes exactly where it left off
      // (replayed batches append nothing — the dedup is the idempotence
      // mechanism). Default trigger processes everything available then
      // exits (cron-able); -s curate.stream.follow=true keeps running.
      //   graft.Cli curate -s curate.against=std -s curate.stream.checkpoint=ck
      //     [-s curate.stream.max_files_per_trigger=N]
      //     [-s curate.stream.follow=true]
      //     [-s curate.stream.format=warc -s curate.html=text|main]
      //     watched-dir
      settings.get("curate.stream.checkpoint").foreach { ckpt =>
        val standingDir = settings.getOrElse("curate.against", sys.error(
          "curate.stream.checkpoint requires -s curate.against=standingDir"))
        require(inputs.size == 1,
          s"curate.stream watches exactly ONE directory (got $inputs)")
        // -s curate.stream.format=warc — the 100 TB crawl entry path in
        // FOLLOW mode: watch a directory of .warc[.gz] drops, admit each
        // file exactly once (the source's checkpoint metadata log), and
        // run response records through charset-sniffed decode →
        // (doc_id, text, lang) → the same curation chain. doc_id is the
        // 64-bit hash of the target URI (collisions quarantine via the
        // standing corpus's doc_id mechanism); lang classifies on a
        // one-off extraction of the decoded HTML (cfg.htmlInput
        // re-extracts inside curate — increment-sized double work).
        val stream = settings.getOrElse("curate.stream.format", "parquet") match {
          case "parquet" =>
            // streaming sources need an explicit schema: take it from the
            // files already present (the watched dir must be non-empty on
            // first start; later files may only add nullable columns)
            val schema = spark.read.parquet(inputs.head).schema
            val reader = spark.readStream.schema(schema)
            settings.get("curate.stream.max_files_per_trigger")
              .foreach(n => reader.option("maxFilesPerTrigger", n))
            reader.parquet(inputs.head)
          case "warc" =>
            require(settings.get("curate.html").isDefined,
              "curate.stream.format=warc carries raw crawl HTML: pass " +
                "-s curate.html=text|main so the pipeline extracts it")
            val reader = spark.readStream.format("warc")
            settings.get("curate.stream.max_files_per_trigger")
              .foreach(n => reader.option("maxFilesPerTrigger", n))
            // the shared crawl-entry projection (IncrementalCuration
            // scaladoc documents the shape) — the integration spec
            // drives the identical code path over Crawl.run's rounds
            streaming.IncrementalCuration.warcDocs(reader.load(inputs.head))
          case other => sys.error(
            s"curate.stream.format: unknown format '$other' (parquet|warc)")
        }
        val follow = settings.get("curate.stream.follow").contains("true")
        val q = streaming.IncrementalCuration.start(
          stream, standingDir, benchmark, ckpt, cfg,
          trigger =
            if (follow)
              org.apache.spark.sql.streaming.Trigger.ProcessingTime(
                settings.get("curate.stream.interval_ms")
                  .map(_.toLong).getOrElse(0L))
            else org.apache.spark.sql.streaming.Trigger.AvailableNow())
        q.awaitTermination()
        val total = spark.read.parquet(standingDir).count()
        System.err.println(
          s"[graft] curate.stream: standing corpus $standingDir now " +
            s"holds $total rows (checkpoint $ckpt)")
        return
      }
      settings.get("curate.against").foreach { standingDir =>
        require(writer == "parquet" || writer == "json",
          s"curate.against requires the parquet writer (standing corpora " +
            s"are parquet), got -w $writer")
        val standing = spark.read.parquet(standingDir)
        require(standing.columns.contains("doc_id") &&
          standing.columns.contains("text"),
          s"curate.against: $standingDir is not a curated corpus " +
            "(missing doc_id/text)")
        val written = streaming.IncrementalCuration.processBatch(
          spark, docs, standingDir, outDir, benchmark, cfg)
        System.err.println(
          s"[graft] curate: appended $written new rows to $standingDir " +
            s"(delta written to $outDir)")
        return
      }
      val curated = examples.CurationPipeline.curate(docs, benchmark, cfg = cfg)
      val upsampled = cfg.epochWeights.isDefined
      // count from the WRITTEN output, never from `curated` — a count on
      // the live frame would re-execute the whole curation DAG (dedup,
      // connected components, decontamination) a second time
      val written: Long = writer match {
        case "parquet" | "json" =>
          sinks.CorpusWriter.writeCurated(curated, outDir,
            partitionCols = Seq("split", "lang"))
          spark.read.parquet(outDir).count()
        case "jsonl" =>
          sinks.CorpusWriter.writeJsonl(curated, outDir,
            partitionCols = Seq("split", "lang"))
          spark.read.textFile(outDir).count()
        case "webdataset" =>
          // epoch upsampling yields several copies per doc_id, and both
          // the FFD packer and WebDataset keys need UNIQUE ids — use the
          // numeric composite doc_id*1024+copy (copy <= 1001 by the
          // weight cap). Gated on the CONFIG, not on a column named
          // "copy" (an input table carrying its own copy column must
          // not have its ids rewritten). The explicit range guard makes
          // an outsized doc_id fail loudly under ANSI-on AND ANSI-off
          // (where Long arithmetic would otherwise wrap silently into
          // colliding keys). Loaders recover (doc_id, copy) by div/mod.
          val keyed =
            if (upsampled)
              curated.select(
                when(col("doc_id").between(0L, (Long.MaxValue - 1024L) / 1024L),
                  col("doc_id") * lit(1024L) + col("copy"))
                  .otherwise(raise_error(concat(
                    lit("curate: doc_id out of composite-key range for " +
                      "epoch upsampling: "), col("doc_id").cast("string"))))
                  .as("doc_id"),
                col("text"))
            else curated.select("doc_id", "text")
          examples.CurationPipeline.exportTrainingShards(
            keyed, outDir,
            numShards = settings.get("curate.shards").map(_.toInt).getOrElse(64))
          // header-only scan; shards hold packed bins, so count samples
          spark.read.format("webdataset").option("path", outDir).load()
            .select("key").count()
        case other => sys.error(s"unknown curate writer $other")
      }
      System.err.println(
        s"[graft] curate: wrote $written rows to $outDir")
      return
    }

    require(inputs.nonEmpty, "no input files given")
    val encoding = settings.getOrElse("marc_source.encoding", "UTF-8")

    def xmlNamespaces: Map[String, String] =
      settings.get("xml.namespaces").map(_.split(";").toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k.trim -> v.trim)
          case _ => None
        }
      }.toMap).getOrElse(Map.empty)

    val records: DataFrame = inputType match {
      case "marc" => inputs.map(MarcIo.readBinary(spark, _, encoding).toDF()).reduce(_ unionByName _)
      case "json" => inputs.map(MarcIo.readJson(spark, _).toDF()).reduce(_ unionByName _)
      case "xml"  => inputs.map(MarcIo.readXml(spark, _).toDF()).reduce(_ unionByName _)
      case "genericxml" =>
        graft.sources.XmlRead.readRecords(spark, inputs.toSeq,
          settings.get("xml.each_record_xpath"), xmlNamespaces)
      case other  => sys.error(s"unknown input type $other")
    }

    command match {
      case "marcout" =>
        require(inputType != "genericxml", "marcout requires a MARC input type")
        import graft.marc.MarcFunctions.marcRecordEncoder
        val recs = records.as[graft.marc.MarcRecord]
        // marcout.type=binary|xml|human (command_line.rb:105-130); binary
        // honors marcout.allow_oversized like MARC::Writer#allow_oversized
        settings.getOrElse("marcout.type", "binary") match {
          case "binary" => MarcIo.writeBinary(recs, outDir,
            allowOversized = settings.get("marcout.allow_oversized").contains("true"))
          case "xml"    => MarcIo.writeXml(recs, outDir)
          case "human"  => MarcIo.writeHuman(recs, outDir)
          case other    => sys.error(s"unrecognized marcout.type: $other")
        }
        System.err.println(s"[graft] marcout: wrote ${records.count()} records to $outDir")

      case "process" =>
        val indexer: IndexerConfig =
          configName.map(IndexerConfig.load).getOrElse(DemoIndexer)
        val docs = indexer.index(
          if (inputType == "genericxml") records
          else records.select(struct(col("leader"), col("fields")).as("record")))
        writer match {
          case "json"  => Writers.writeJson(docs, outDir)
          case "yaml"  => Writers.writeYaml(docs, outDir)
          case "csv"   => Writers.writeCsv(docs, docs.columns.toSeq, outDir)
          case "debug" => Writers.writeDebug(docs, "id", outDir)
          case "null"  => Writers.writeNull(docs)
          case "solr"  =>
            val url = solrUrl.getOrElse(sys.error("-u solrUrl required for -w solr"))
            val stats = SolrJsonSink.write(docs,
              SolrJsonSink.Settings(url,
                batchSize = settings.getOrElse("solr_writer.batch_size", "100").toInt,
                maxSkipped = settings.get("solr_writer.max_skipped_records").map(_.toLong)),
              transport)
            System.err.println(s"[graft] solr: sent=${stats.sent} skipped=${stats.skipped}")
            if (stats.skipped > 0) throw ExitCode(2) // skipped records ⇒ non-zero
          case other => sys.error(s"unknown writer $other")
        }
        System.err.println(s"[graft] process complete → $outDir")
    }
  }
}
