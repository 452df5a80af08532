package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.marc.{Fixtures, MarcFunctions}
import graft.pipeline.{IndexerConfig, Pipeline}
import graft.sinks.FakeTransport
import graft.sources.Iso2709

/** A user-supplied pipeline for the `-c` CLI drive (command_line.rb's
  * config-file contract): id + title only. Top-level so Class.forName can
  * see it. */
object TinyUserConfig extends IndexerConfig {
  def index(records: DataFrame): DataFrame = Pipeline.builder
    .toField("id", MarcFunctions.marcExtract("001"))
    .toField("title_display", MarcFunctions.marcExtract("245ab"))
    .run(records)
}

class CliSpec extends SparkSpec {

  private def marcFile: String = {
    val dir = Files.createTempDirectory("cli").toString
    val out = Files.newOutputStream(Paths.get(dir, "in.mrc"))
    Fixtures.records("test_data.utf8").foreach(r => out.write(Iso2709.encode(r)))
    out.close()
    s"$dir/in.mrc"
  }

  test("-c loads a user pipeline class and runs it end to end") {
    val outDir = Files.createTempDirectory("cliout").toString + "/docs"
    Cli.run(Seq("process", "-c", "graft.TinyUserConfig", "-i", "marc",
      "-o", outDir, "-w", "json", marcFile), spark, new FakeTransport())
    val docs = spark.read.json(outDir)
    assert(docs.count() == 30)
    assert(docs.columns.toSet == Set("id", "title_display"))
  }

  test("-c rejects unknown config names with a clear error") {
    val e = intercept[IllegalArgumentException] {
      IndexerConfig.load("no.such.ConfigClass")
    }
    assert(e.getMessage.contains("no.such.ConfigClass"))
  }

  test("commit command posts commit=true to the normalized update URL") {
    FakeTransport.queue.clear()
    Cli.run(Seq("commit", "-u", "http://s/core/update/json"), spark, new FakeTransport())
    import scala.jdk.CollectionConverters._
    val urls = FakeTransport.queue.asScala.toVector.map(_._1)
    assert(urls == Vector("http://s/core/update?commit=true"))
  }

  test("-i genericxml drives an XML pipeline end to end (NokogiriIndexer route)") {
    val xml =
      """<OAI-PMH xmlns="http://www.openarchives.org/OAI/2.0/"><ListRecords>
        |<record><metadata><oai_dc:dc xmlns:oai_dc="http://www.openarchives.org/OAI/2.0/oai_dc/"
        |  xmlns:dc="http://purl.org/dc/elements/1.1/">
        |  <dc:identifier>gx-1</dc:identifier><dc:title>One</dc:title>
        |</oai_dc:dc></metadata></record>
        |<record><metadata><oai_dc:dc xmlns:oai_dc="http://www.openarchives.org/OAI/2.0/oai_dc/"
        |  xmlns:dc="http://purl.org/dc/elements/1.1/">
        |  <dc:identifier>gx-2</dc:identifier><dc:title>Two</dc:title>
        |</oai_dc:dc></metadata></record>
        |</ListRecords></OAI-PMH>""".stripMargin
    val dir = Files.createTempDirectory("clixml").toString
    Files.write(Paths.get(dir, "oai.xml"), xml.getBytes("UTF-8"))
    val outDir = Files.createTempDirectory("clixmlout").toString + "/docs"
    Cli.run(Seq("process", "-i", "genericxml",
      "-c", "graft.examples.XmlDemoIndexer",
      "-s", "xml.each_record_xpath=//oai:record",
      "-s", "xml.namespaces=oai=http://www.openarchives.org/OAI/2.0/;dc=http://purl.org/dc/elements/1.1/;oai_dc=http://www.openarchives.org/OAI/2.0/oai_dc/",
      "-o", outDir, "-w", "json", s"$dir/oai.xml"), spark, new FakeTransport())
    val docs = spark.read.json(outDir)
    assert(docs.count() == 2)
    val ids = docs.select("id").collect().flatMap(_.getSeq[String](0)).sorted
    assert(ids.toSeq == Seq("gx-1", "gx-2"))
  }

  test("default process path still runs the demo indexer") {
    val outDir = Files.createTempDirectory("cliout2").toString + "/docs"
    Cli.run(Seq("process", "-i", "marc", "-o", outDir, "-w", "json", marcFile),
      spark, new FakeTransport())
    val docs = spark.read.json(outDir)
    assert(docs.count() == 30)
    assert(docs.columns.contains("title_t"))
  }

  test("marcout -s marcout.type=xml round-trips through MarcIo.readXml") {
    val outDir = Files.createTempDirectory("marcoutxml").toString + "/xml"
    Cli.run(Seq("marcout", "-i", "marc", "-o", outDir,
      "-s", "marcout.type=xml", marcFile), spark, new FakeTransport())
    val back = graft.sources.MarcIo.readXml(spark, outDir).collect().toVector
    assert(back.length == 30)
    val got = back.map(_.fields).sortBy(_.headOption.map(_.value).getOrElse(""))
    val want = Fixtures.records("test_data.utf8").map(_.fields)
      .sortBy(_.headOption.map(_.value).getOrElse(""))
    assert(got == want)
  }

  test("marcout -s marcout.type=human prints ruby-marc Record#to_s layout") {
    val outDir = Files.createTempDirectory("marcouthuman").toString + "/human"
    Cli.run(Seq("marcout", "-i", "marc", "-o", outDir,
      "-s", "marcout.type=human", marcFile), spark, new FakeTransport())
    val text = spark.read.text(outDir).collect().map(_.getString(0))
    assert(text.count(_.startsWith("LEADER ")) == 30)
    // data-field line shape: tag, indicators, subfields as `$c value `
    val t245 = text.filter(_.startsWith("245 "))
    assert(t245.length == 30)
    assert(t245.forall(_.contains("$a ")))
    // control-field line shape: `tag value` with value verbatim (the
    // fixture's 001 keeps its fixed-position padding: "   00282214 ")
    assert(text.contains("001    00282214 "))
    assert(text.contains("005 20090120022042.0"))
  }

  test("marcout rejects an unrecognized marcout.type") {
    val e = intercept[RuntimeException] {
      Cli.run(Seq("marcout", "-i", "marc", "-o", "/tmp/never",
        "-s", "marcout.type=bogus", marcFile), spark, new FakeTransport())
    }
    assert(e.getMessage.contains("bogus"))
  }
  test("curate subcommand runs the curation pipeline over parquet documents") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("cli-curate-in").toString
    spark.read.parquet(s"$sfSmoke/documents.parquet")
      .select("doc_id", "text", "lang").write.mode("overwrite").parquet(inDir)
    val outDir = java.nio.file.Files.createTempDirectory("cli-curate-out").toString
    Cli.run(Seq("curate", "-o", outDir,
      "-s", "curate.langs=en,es,de,fr,ja,zz",
      "-s", "curate.passage_window=12", inDir), spark, new FakeTransport())
    val back = spark.read.parquet(outDir)
    assert(back.count() > 0)
    assert(back.columns.toSet == Set("doc_id", "text", "lang", "split"))

    // webdataset writer variant produces readable shards
    val wdsDir = java.nio.file.Files.createTempDirectory("cli-curate-wds").toString
    Cli.run(Seq("curate", "-o", wdsDir, "-w", "webdataset",
      "-s", "curate.langs=en,es,de,fr,ja,zz", "-s", "curate.shards=3", inDir),
      spark, new FakeTransport())
    val shards = spark.read.format("webdataset").option("path", wdsDir).load()
    assert(shards.count() == back.count())
  }

  test("curate.against incremental mode: only novel rows append; re-run yields zero") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("cli-inc-in").toString
    spark.read.parquet(s"$sfSmoke/documents.parquet")
      .select("doc_id", "text", "lang").write.mode("overwrite").parquet(inDir)
    // build the standing corpus with a normal run
    val standing = java.nio.file.Files.createTempDirectory("cli-inc-std").toString
    Cli.run(Seq("curate", "-o", standing,
      "-s", "curate.langs=en,es,de,fr,ja,zz", inDir), spark, new FakeTransport())
    val standingN = spark.read.parquet(standing).count()
    assert(standingN > 0)

    // increment 1: the SAME input — everything is a duplicate, delta = 0,
    // standing unchanged
    val delta0 = java.nio.file.Files.createTempDirectory("cli-inc-d0").toString
    Cli.run(Seq("curate", "-o", delta0, "-s", s"curate.against=$standing",
      "-s", "curate.langs=en,es,de,fr,ja,zz", inDir), spark, new FakeTransport())
    val d0Files = java.nio.file.Files.walk(java.nio.file.Paths.get(delta0))
      .toArray.map(_.toString).filter(_.endsWith(".parquet"))
    assert(d0Files.isEmpty, s"same-input increment must write no rows: ${d0Files.toSeq}")
    assert(spark.read.parquet(standing).count() == standingN,
      "standing corpus must be unchanged by a duplicate increment")

    // increment 2: same input plus genuinely novel docs — only those
    // survive and append
    val novel = (1L to 5L).map(i => (9000000L + i,
      s"genuinely new document number $i with plenty of fresh unseen " +
        s"words like xylo$i quartz$i marble$i granite$i basalt$i " +
        "written to pass the default quality gates easily today",
      "en")).toDF("doc_id", "text", "lang")
    val inDir2 = java.nio.file.Files.createTempDirectory("cli-inc-in2").toString
    spark.read.parquet(inDir).unionByName(novel)
      .write.mode("overwrite").parquet(inDir2)
    val delta1 = java.nio.file.Files.createTempDirectory("cli-inc-d1").toString
    Cli.run(Seq("curate", "-o", delta1, "-s", s"curate.against=$standing",
      "-s", "curate.langs=en,es,de,fr,ja,zz", inDir2), spark, new FakeTransport())
    val deltaRows = spark.read.parquet(delta1)
    val deltaIds = deltaRows.select("doc_id").as[Long].collect().toSet
    assert(deltaIds.nonEmpty && deltaIds.forall(_ > 9000000L),
      s"delta must hold only the novel docs: $deltaIds")
    assert(spark.read.parquet(standing).count() == standingN + deltaIds.size,
      "standing corpus must grow by exactly the delta")
    // the signature table tracks the corpus in lockstep (underscore dir:
    // invisible to the standing corpus read) and holds one row per doc
    val sigs = spark.read.parquet(s"$standing/_graft_signatures")
    assert(sigs.columns.toSet == Set("id", "fp", "bands"))
    assert(sigs.count() == standingN + deltaIds.size,
      "signature table must grow with the corpus")
    assert(sigs.select("id").distinct().count() == standingN + deltaIds.size)

    // interrupted-append recovery: truncate the signature table (the
    // state a crash between corpus append and signature append leaves),
    // then re-run increment 2's input — the CLI must detect the count
    // disagreement, rebuild the table from the corpus, and still treat
    // the absorbed increment as a no-op instead of re-admitting dups or
    // wedging on the collision guard
    locally {
      val sigDir = s"$standing/_graft_signatures"
      val truncated = spark.read.parquet(sigDir).limit(3).collect()
      import org.apache.spark.sql.Row
      spark.createDataFrame(
        spark.sparkContext.parallelize(truncated.toSeq),
        spark.read.parquet(sigDir).schema)
        .write.mode("overwrite").parquet(sigDir)
    }
    val deltaHeal = java.nio.file.Files.createTempDirectory("cli-inc-heal").toString
    Cli.run(Seq("curate", "-o", deltaHeal, "-s", s"curate.against=$standing",
      "-s", "curate.langs=en,es,de,fr,ja,zz", inDir2), spark, new FakeTransport())
    assert(java.nio.file.Files.walk(java.nio.file.Paths.get(deltaHeal))
      .toArray.map(_.toString).count(_.endsWith(".parquet")) == 0,
      "post-heal re-run must stay a no-op")
    assert(spark.read.parquet(s"$standing/_graft_signatures").count() ==
      standingN + deltaIds.size, "signature table must be rebuilt in full")

    // increment 3: re-run increment 2's input — now zero again
    val delta2 = java.nio.file.Files.createTempDirectory("cli-inc-d2").toString
    Cli.run(Seq("curate", "-o", delta2, "-s", s"curate.against=$standing",
      "-s", "curate.langs=en,es,de,fr,ja,zz", inDir2), spark, new FakeTransport())
    assert(java.nio.file.Files.walk(java.nio.file.Paths.get(delta2))
      .toArray.map(_.toString).count(_.endsWith(".parquet")) == 0,
      "absorbed increment must yield zero new rows")
    assert(spark.read.parquet(standing).count() == standingN + deltaIds.size)

    // byte determinism: repeating increment 2 against an identical
    // standing copy produces byte-identical delta files
    val standing2 = java.nio.file.Files.createTempDirectory("cli-inc-std2").toString
    Cli.run(Seq("curate", "-o", standing2,
      "-s", "curate.langs=en,es,de,fr,ja,zz", inDir), spark, new FakeTransport())
    val delta1b = java.nio.file.Files.createTempDirectory("cli-inc-d1b").toString
    Cli.run(Seq("curate", "-o", delta1b, "-s", s"curate.against=$standing2",
      "-s", "curate.langs=en,es,de,fr,ja,zz", inDir2), spark, new FakeTransport())
    def digestByName(dir: String): Map[String, String] =
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet"))
        .map { p =>
          // job-UUID in the filename differs per run; partition dir +
          // part ordinal + bytes is the determinism contract
          val rel = java.nio.file.Paths.get(dir).relativize(p).toString
            .replaceAll("part-(\\d+)-[0-9a-f-]+", "part-$1")
          val md = java.security.MessageDigest.getInstance("MD5")
          rel -> md.digest(java.nio.file.Files.readAllBytes(p))
            .map("%02x".format(_)).mkString
        }.toMap
    assert(digestByName(delta1) == digestByName(delta1b),
      "increment output must be byte-deterministic")
  }

  test("curate.against quarantines a recrawled doc_id with new text and appends the rest") {
    import spark.implicits._
    def mkText(i: Long): String = {
      val r = new scala.util.Random(i)
      ("the of and to in a " * 3) +
        (0 until 30).map(_ => s"w${r.nextInt(500)}").mkString(" ")
    }
    val seedDir = java.nio.file.Files.createTempDirectory("cli-col-seed").toString
    (1L to 12L).map(i => (i, mkText(i), "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(seedDir)
    val standing = java.nio.file.Files.createTempDirectory("cli-col-std").toString
    Cli.run(Seq("curate", "-o", standing, seedDir), spark, new FakeTransport())
    val standingN = spark.read.parquet(standing).count()
    val oldText = spark.read.parquet(standing).filter(col("doc_id") === 3L)
      .select("text").as[String].collect().toSeq
    assert(oldText == Seq(mkText(3L)))
    // doc_id 3 comes back with novel text (survives the dedup), doc 601
    // is new
    val inDir = java.nio.file.Files.createTempDirectory("cli-col-in").toString
    Seq((3L, mkText(777L), "en"), (601L, mkText(601L), "en"))
      .toDF("doc_id", "text", "lang").write.mode("overwrite").parquet(inDir)
    def increment(): Unit = Cli.run(Seq("curate",
      "-o", java.nio.file.Files.createTempDirectory("cli-col-d").toString,
      "-s", s"curate.against=$standing", inDir), spark, new FakeTransport())
    increment()
    val corpus = spark.read.parquet(standing)
    assert(corpus.filter(col("doc_id") === 3L).select("text").as[String]
      .collect().toSeq == oldText, "the standing row stays, exactly once")
    assert(corpus.filter(col("doc_id") === 601L).count() == 1L)
    assert(corpus.count() == standingN + 1)
    val rejected = spark.read.parquet(standing + "_rejected")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(rejected == Seq((3L, mkText(777L))),
      "the recrawl lands in the quarantine sink")
    assert(spark.read.parquet(s"$standing/_graft_signatures").count() ==
      corpus.count(), "signature table in lockstep with the corpus")
    // a re-run of the same input appends nothing and quarantines nothing
    // twice
    increment()
    assert(spark.read.parquet(standing).count() == standingN + 1)
    assert(spark.read.parquet(standing + "_rejected").count() == 1L)
  }

  test("curate.stream: streaming incremental mode appends once, restart resumes from checkpoint") {
    import spark.implicits._
    def mkDocs(ids: Seq[Long]) = ids.map { i =>
      val r = new scala.util.Random(i)
      val words = (0 until 30).map(_ => s"w${r.nextInt(500)}")
      (i, ("the of and to in a " * 3) + words.mkString(" "), "en")
    }.toDF("doc_id", "text", "lang")
    val standing = java.nio.file.Files.createTempDirectory("cli-st-std").toString
    val watched = java.nio.file.Files.createTempDirectory("cli-st-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cli-st-ck").toString
    // seed the standing corpus via the batch path
    val seedDir = java.nio.file.Files.createTempDirectory("cli-st-seed").toString
    mkDocs(1L to 15L).write.mode("overwrite").parquet(seedDir)
    Cli.run(Seq("curate", "-o", standing, seedDir), spark, new FakeTransport())
    val seededN = spark.read.parquet(standing).count()
    assert(seededN > 0)
    // watched dir: novel docs + copies of standing docs (must not append)
    mkDocs(101L to 108L).unionByName(
        mkDocs(Seq(1L, 2L)).select((col("doc_id") + 9000L).as("doc_id"),
          col("text"), col("lang")))
      .coalesce(1).write.parquet(s"$watched/batch1")
    Cli.run(Seq("curate", "-s", s"curate.against=$standing",
      "-s", s"curate.stream.checkpoint=$ckpt", s"$watched/*"),
      spark, new FakeTransport())
    val after1 = spark.read.parquet(standing)
    val ids1 = after1.select("doc_id").as[Long].collect().toSet
    assert((101L to 108L).toSet.subsetOf(ids1))
    assert(!ids1.exists(_ >= 9000L), "duplicate rows must not append")
    // restart with a new file: only the new file processes (offsets
    // committed), novel rows land exactly once
    mkDocs(201L to 204L).coalesce(1).write.parquet(s"$watched/batch2")
    Cli.run(Seq("curate", "-s", s"curate.against=$standing",
      "-s", s"curate.stream.checkpoint=$ckpt", s"$watched/*"),
      spark, new FakeTransport())
    val after2 = spark.read.parquet(standing)
    assert((201L to 204L).toSet.subsetOf(
      after2.select("doc_id").as[Long].collect().toSet))
    assert(after2.groupBy("doc_id").count()
      .filter(col("count") > 1).count() == 0, "no doc ever appends twice")
    // signature table in lockstep
    assert(spark.read.parquet(s"$standing/_graft_signatures").count() ==
      after2.count())
    // guard: streaming without a standing corpus dir fails loudly
    val e = intercept[RuntimeException] {
      Cli.run(Seq("curate", "-s", s"curate.stream.checkpoint=$ckpt",
        s"$watched/*"), spark, new FakeTransport())
    }
    assert(e.getMessage.contains("curate.against"))
  }

  test("curate.stream follow=true: long-running mode absorbs a mid-stream file drop") {
    import spark.implicits._
    def mkDocs(ids: Seq[Long]) = ids.map { i =>
      val r = new scala.util.Random(i)
      val words = (0 until 30).map(_ => s"w${r.nextInt(500)}")
      (i, ("the of and to in a " * 3) + words.mkString(" "), "en")
    }.toDF("doc_id", "text", "lang")
    val standing = java.nio.file.Files.createTempDirectory("cli-fw-std").toString
    val watched = java.nio.file.Files.createTempDirectory("cli-fw-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cli-fw-ck").toString
    val seedDir = java.nio.file.Files.createTempDirectory("cli-fw-seed").toString
    mkDocs(1L to 15L).write.mode("overwrite").parquet(seedDir)
    Cli.run(Seq("curate", "-o", standing, seedDir), spark, new FakeTransport())
    mkDocs(301L to 306L).coalesce(1).write.parquet(s"$watched/batch1")
    // ids the standing corpus must NOT hold before the follow run
    def standingIds(): Set[Long] =
      try spark.read.parquet(standing).select("doc_id").as[Long]
        .collect().toSet
      catch { case _: Exception => Set.empty } // listing race mid-append
    val before = spark.streams.active.map(_.id).toSet
    val cli = new Thread(() =>
      Cli.run(Seq("curate", "-s", s"curate.against=$standing",
        "-s", s"curate.stream.checkpoint=$ckpt",
        "-s", "curate.stream.follow=true",
        "-s", "curate.stream.interval_ms=100", s"$watched/*"),
        spark, new FakeTransport()))
    cli.setDaemon(true)
    cli.start()
    def awaitIds(want: Set[Long], what: String): Unit = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!want.subsetOf(standingIds())) {
        assert(System.nanoTime() < deadline,
          s"$what not absorbed within 120s; have ${standingIds().size} ids")
        Thread.sleep(200)
      }
    }
    try {
      awaitIds((301L to 306L).toSet, "batch1")
      // MID-STREAM drop, while the query keeps ticking: novel rows plus
      // a copy of a standing doc (must dedup away, same as batch mode)
      mkDocs(401L to 404L).unionByName(
          mkDocs(Seq(301L)).select((col("doc_id") + 9000L).as("doc_id"),
            col("text"), col("lang")))
        .coalesce(1).write.parquet(s"$watched/batch2")
      awaitIds((401L to 404L).toSet, "batch2")
    } finally {
      spark.streams.active.filterNot(q => before.contains(q.id))
        .foreach(_.stop())
      cli.join(30000)
    }
    assert(!cli.isAlive, "CLI thread must exit after the query stops")
    val ids = standingIds()
    assert(!ids.exists(_ >= 9000L), "duplicate rows must not append")
    assert(spark.read.parquet(standing).groupBy("doc_id").count()
      .filter(col("count") > 1).count() == 0, "no doc ever appends twice")
    // signature table stays in lockstep under the follow trigger too
    assert(spark.read.parquet(s"$standing/_graft_signatures").count() ==
      spark.read.parquet(standing).count())
  }

  test("curate.stream format=warc: crawl drops curate end-to-end, exactly once") {
    import spark.implicits._
    def mkText(i: Long): String = {
      val r = new scala.util.Random(i)
      ("the of and to in a " * 3) +
        (0 until 30).map(_ => s"w${r.nextInt(500)}").mkString(" ")
    }
    def warcRows(ids: Seq[Long], uriPrefix: String, status: Int = 200) =
      ids.map { i =>
        val html = s"<html><body><p>${mkText(i)}</p></body></html>"
        (s"<urn:uuid:$i>", "response", s"$uriPrefix/$i",
          "2026-01-01T00:00:00Z", "application/http; msgtype=response",
          (s"HTTP/1.1 $status X\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
            + html).getBytes("UTF-8"))
      }.toDF("record_id", "warc_type", "target_uri", "warc_date",
        "content_type", "payload")
    def dropWarc(df: org.apache.spark.sql.DataFrame, watched: String,
                 name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("cli-warc-drop").toString
      graft.sinks.WarcWriter.write(df.coalesce(1), tmp, gzip = true)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watched, name))
    }
    val standing = java.nio.file.Files.createTempDirectory("cli-wc-std").toString
    val watched = java.nio.file.Files.createTempDirectory("cli-wc-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cli-wc-ck").toString
    // seed the standing corpus (plain batch curate over parquet docs)
    val seedDir = java.nio.file.Files.createTempDirectory("cli-wc-seed").toString
    (1L to 12L).map(i => (i, mkText(i), "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(seedDir)
    Cli.run(Seq("curate", "-o", standing, seedDir), spark, new FakeTransport())
    // drop 1: novel docs + a content COPY of a standing doc under a new
    // URI (must die at the content dedup, not the source) + a 404
    // error page (must die at the HTTP-status gate, never curated)
    dropWarc(warcRows(101L to 106L, "http://crawl.example/p")
        .unionByName(warcRows(Seq(3L), "http://mirror.example/m"))
        .unionByName(warcRows(Seq(404404L), "http://crawl.example/gone",
          status = 404))
        .unionByName(warcRows(Seq(206206L), "http://crawl.example/part",
          status = 206)),
      watched, "crawl-0001.warc.gz")
    def runStream(): Unit = Cli.run(Seq("curate",
      "-s", s"curate.against=$standing",
      "-s", s"curate.stream.checkpoint=$ckpt",
      "-s", "curate.stream.format=warc", "-s", "curate.html=text",
      s"$watched"), spark, new FakeTransport())
    runStream()
    val after1 = spark.read.parquet(standing)
    val texts1 = after1.select("text").as[String].collect().toSet
    (101L to 106L).foreach(i => assert(texts1.contains(mkText(i)),
      s"decoded+extracted text of crawl doc $i must land"))
    assert(after1.filter(col("text") === mkText(3L)).count() == 1,
      "the mirrored copy of a standing doc must dedup away")
    assert(after1.filter(col("text") === mkText(404404L)).count() == 0,
      "error-page responses (404) must not enter the corpus")
    assert(after1.filter(col("text") === mkText(206206L)).count() == 0,
      "byte-range fragments (206) must not enter the corpus")
    // drop 2 + re-run: only the new file admits; replaying the same
    // watched dir appends nothing for drop 1
    dropWarc(warcRows(201L to 203L, "http://crawl.example/p"),
      watched, "crawl-0002.warc.gz")
    runStream()
    val after2 = spark.read.parquet(standing)
    (201L to 203L).foreach(i =>
      assert(after2.filter(col("text") === mkText(i)).count() == 1))
    assert(after2.groupBy("doc_id").count()
      .filter(col("count") > 1).count() == 0, "no doc ever appends twice")
    // the signature table tracked both streamed appends
    assert(spark.read.parquet(s"$standing/_graft_signatures").count() ==
      after2.count())
    // guard: warc mode without the html knob fails with a usable message
    val e = intercept[Exception] {
      Cli.run(Seq("curate", "-s", s"curate.against=$standing",
        "-s", s"curate.stream.checkpoint=$ckpt",
        "-s", "curate.stream.format=warc", s"$watched"),
        spark, new FakeTransport())
    }
    assert(e.getMessage.contains("curate.html"))
  }

  test("curate rejects malformed curate.epochs entries with usable messages") {
    val inDir = java.nio.file.Files.createTempDirectory("cli-epochs-in").toString
    spark.read.parquet(s"$sfSmoke/documents.parquet")
      .select("doc_id", "text", "lang").write.mode("overwrite").parquet(inDir)
    val outDir = java.nio.file.Files.createTempDirectory("cli-epochs-out").toString
    // missing colon: names the offending entry and the expected format
    val e1 = intercept[RuntimeException] {
      Cli.run(Seq("curate", "-o", outDir, "-s", "curate.epochs=en=2.3", inDir),
        spark, new FakeTransport())
    }
    assert(e1.getMessage.contains("en=2.3") &&
      e1.getMessage.contains("lang:weight"), e1.getMessage)
    // non-numeric weight
    val e2 = intercept[RuntimeException] {
      Cli.run(Seq("curate", "-o", outDir,
        "-s", "curate.epochs=en:lots", inDir), spark, new FakeTransport())
    }
    assert(e2.getMessage.contains("en:lots") &&
      e2.getMessage.contains("lang:weight"), e2.getMessage)
  }

  test("fetch: frontier → WARC archive → curate.stream re-entry closes the crawl loop") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cli-fetch").toString
    val frontier = (1L to 12L).map(i => s"http://www.h${i % 3}.example/p/$i")
      .toDF("url")
    frontier.coalesce(1).write.parquet(s"$dir/frontier")

    def runFetch(): Unit = Cli.run(Seq("fetch", "-o", s"$dir/warc",
      "-s", "fetch.transport=graft.CliCorpusTransport",
      "-s", "fetch.batch_size=5", s"$dir/frontier"),
      spark, new graft.sinks.FakeTransport())
    runFetch()
    val archived = spark.read.format("warc").load(s"$dir/warc")
    assert(archived.count() == 12)
    assert(archived.select("target_uri").as[String].collect().toSet ==
      (1L to 12L).map(i => s"http://www.h${i % 3}.example/p/$i").toSet)
    // a re-run is a no-op: the commit log keeps the archive exactly-once
    runFetch()
    assert(spark.read.format("warc").load(s"$dir/warc").count() == 12)

    // re-entry: the archive feeds the w02 curation path unchanged
    val standing = Files.createTempDirectory("cli-fetch-std").toString
    val seedDir = Files.createTempDirectory("cli-fetch-seed").toString
    (900L to 902L).map { i =>
      val r = new scala.util.Random(i)
      (i, ("the of and to in a " * 3) +
        (0 until 30).map(_ => s"w${r.nextInt(500)}").mkString(" "), "en")
    }.toDF("doc_id", "text", "lang").write.mode("overwrite").parquet(seedDir)
    Cli.run(Seq("curate", "-o", standing, seedDir),
      spark, new graft.sinks.FakeTransport())
    val ckpt = Files.createTempDirectory("cli-fetch-ck").toString
    Cli.run(Seq("curate", "-s", s"curate.against=$standing",
      "-s", s"curate.stream.checkpoint=$ckpt",
      "-s", "curate.stream.format=warc", "-s", "curate.html=text",
      s"$dir/warc"), spark, new graft.sinks.FakeTransport())
    val ids = spark.read.parquet(standing).select("doc_id").as[Long]
      .collect().toSet
    val fetchedIds = frontier.select(xxhash64(col("url"))).as[Long]
      .collect().toSet
    assert(fetchedIds.subsetOf(ids),
      s"curated corpus must absorb all fetched pages; missing ${fetchedIds -- ids}")
    assert(spark.read.parquet(standing).groupBy("doc_id").count()
      .filter(col("count") > 1).count() == 0, "no doc ever appends twice")
  }

  test("crawl: seeds → discovery BFS → WARC archive + audit parquet") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cli-crawl").toString
    Seq("http://site0.test/p/1").toDF("url")
      .coalesce(1).write.parquet(s"$dir/seeds")
    Cli.run(Seq("crawl", "-o", s"$dir/out",
      "-s", "fetch.transport=graft.crawl.SyntheticWebTransport",
      "-s", "crawl.max_depth=1", s"$dir/seeds"),
      spark, new graft.sinks.FakeTransport())
    // depth-1 closure of (0,1): links (2·1+5)=7, (3·1+1)=4, host hop
    val want = Set("http://site0.test/p/1", "http://site0.test/p/7",
      "http://site0.test/p/4", "http://site1.test/p/1")
    val audit = spark.read.parquet(s"$dir/out/audit")
    assert(audit.select("url").as[String].collect().toSet == want)
    assert(audit.agg(max(col("depth"))).collect()(0).getInt(0) == 1)
    val archived = spark.read.format("warc").load(s"$dir/out/warc")
    assert(archived.select("target_uri").as[String].collect().toSet == want)
    // scope prefix bounds discovery: host-0 only, the /p/1 hop dropped
    Cli.run(Seq("crawl", "-o", s"$dir/scoped",
      "-s", "fetch.transport=graft.crawl.SyntheticWebTransport",
      "-s", "crawl.max_depth=1",
      "-s", "crawl.scope_prefix=http://site0.test/", s"$dir/seeds"),
      spark, new graft.sinks.FakeTransport())
    assert(spark.read.parquet(s"$dir/scoped/audit")
      .select("url").as[String].collect().toSet == (want - "http://site1.test/p/1"))
  }

  test("crawl restartable: per-round WARC on disk; re-run resumes as a no-op") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cli-crawl-r").toString
    Seq("http://site0.test/p/1").toDF("url")
      .coalesce(1).write.parquet(s"$dir/seeds")
    def run(transport: String): Unit = Cli.run(Seq("crawl", "-o", s"$dir/out",
      "-s", s"fetch.transport=$transport",
      "-s", "crawl.max_depth=1", "-s", "crawl.restartable=true",
      s"$dir/seeds"), spark, new graft.sinks.FakeTransport())
    run("graft.crawl.SyntheticWebTransport")
    val round0 = spark.read.format("warc").load(s"$dir/out/round_0")
    val round1 = spark.read.format("warc").load(s"$dir/out/round_1")
    assert(round0.select("target_uri").as[String].collect().toSeq ==
      Seq("http://site0.test/p/1"))
    assert(round1.select("target_uri").as[String].collect().toSet ==
      Set("http://site0.test/p/7", "http://site0.test/p/4",
        "http://site1.test/p/1"))
    // the same command after a "crash" completes without touching the
    // wire: every batch of every round is committed
    run(classOf[graft.crawl.NeverTransport].getName)
    assert(spark.read.format("warc").load(s"$dir/out/round_1").count() == 3)
  }

  test("fetchConfig: one source of truth for fetch.* knobs; fetch.transport.<k> bridges to graft.fetch.<k>") {
    val cfg = Cli.fetchConfig(Map(
      "fetch.transport" -> "graft.crawl.HttpFetchTransport",
      "fetch.user_agent" -> "ua-x",
      "fetch.batch_size" -> "77",
      "fetch.gzip" -> "true",
      "fetch.max_redirects" -> "2",
      "fetch.host_failure_budget" -> "4",
      "fetch.warc_hops" -> "true",
      "fetch.transport.timeout_secs" -> "7",
      "fetch.transport.max_body_bytes" -> "1024",
      "unrelated.setting" -> "ignored"))
    assert(cfg.transportClass == "graft.crawl.HttpFetchTransport")
    assert(cfg.userAgent == "ua-x" && cfg.batchSize == 77L && cfg.gzip)
    assert(cfg.maxRedirects == 2 && cfg.maxHostFailures == 4 && cfg.warcHops)
    assert(cfg.transportProps == Map(
      "graft.fetch.timeout_secs" -> "7",
      "graft.fetch.max_body_bytes" -> "1024"))
    // `fetch.transport` itself is the class name, never a prop
    assert(!cfg.transportProps.contains("graft.fetch."))
  }
}

/** Deterministic fetch transport for the CLI crawl-loop golden: each url
  * serves curate-worthy English text keyed by its trailing id. Top-level
  * so Class.forName can see it. */
final class CliCorpusTransport extends graft.crawl.FetchTransport {
  override def fetch(url: String, userAgent: String): graft.crawl.FetchResponse = {
    val id = url.substring(url.lastIndexOf('/') + 1).toLong
    val r = new scala.util.Random(id)
    val text = ("the of and to in a " * 3) +
      (0 until 30).map(_ => s"w${r.nextInt(500)}").mkString(" ")
    graft.crawl.FetchResponse(200, "text/html; charset=utf-8",
      s"<html><body><p>$text</p></body></html>".getBytes("UTF-8"))
  }
}
