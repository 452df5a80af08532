package graft.streaming

import graft.{Cli, SparkSpec}
import graft.sinks.FakeTransport
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class IncrementalCurationSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType)))

  /** clean, mutually-far docs (the CurationPipelineSpec generator). */
  private def mkDocs(ids: Seq[Long]) =
    ids.map { i =>
      val r = new scala.util.Random(i)
      val words = (0 until 30).map(_ => s"w${r.nextInt(500)}")
      (i, ("the of and to in a " * 3) + words.mkString(" "), "en")
    }.toDF("doc_id", "text", "lang")

  private def benchmark = Seq.empty[String].toDF("text")

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** one increment against `standingDir`, its delta to a fresh dir */
  private def increment(batch: DataFrame, standingDir: String): Long =
    IncrementalCuration.processBatch(spark, batch, standingDir,
      tmpDir("inc-delta"), benchmark)

  test("streaming increments: exactly-once across restart, replay appends nothing, batch parity") {
    val standingDir = java.nio.file.Files.createTempDirectory("inc-standing").toString
    val incomingDir = java.nio.file.Files.createTempDirectory("inc-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("inc-ckpt").toString

    // seed the standing corpus (the batch path's writer + signatures)
    val seed = mkDocs(1L to 20L)
    increment(seed, standingDir)
    val seededN = spark.read.parquet(standingDir).count()
    assert(seededN > 0)

    // increment 1: 10 novel docs + 3 exact copies of standing docs;
    // increment 2: 10 more novel + 2 copies of increment 1's docs
    val inc1 = mkDocs(101L to 110L).unionByName(
      mkDocs(Seq(1L, 2L, 3L)).select(
        (col("doc_id") + 9000L).as("doc_id"), col("text"), col("lang")))
    val inc2 = mkDocs(201L to 210L).unionByName(
      mkDocs(Seq(101L, 102L)).select(
        (col("doc_id") + 9100L).as("doc_id"), col("text"), col("lang")))
    inc1.coalesce(1).write.parquet(s"$incomingDir/inc1")
    inc2.coalesce(1).write.parquet(s"$incomingDir/inc2")

    def startStream() = IncrementalCuration.start(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$incomingDir/*"),
      standingDir, benchmark, ckpt)

    val q1 = startStream()
    try q1.processAllAvailable() finally q1.stop()
    val afterTwo = spark.read.parquet(standingDir)
    val ids = afterTwo.select("doc_id").as[Long].collect().toSet
    assert((101L to 110L).toSet.subsetOf(ids) && (201L to 210L).toSet.subsetOf(ids),
      s"novel increment docs must append: $ids")
    assert(!ids.exists(_ >= 9000L), "duplicate-content docs must not append")
    // one row per doc, ever
    assert(afterTwo.groupBy("doc_id").count().filter(col("count") > 1).count() == 0)

    // REPLAY: driving the same batch again appends nothing (the dedup
    // is the idempotence mechanism — a crashed-after-append batch that
    // gets redelivered finds all its rows exact-matched)
    assert(increment(inc1, standingDir) == 0L)
    assert(spark.read.parquet(standingDir).count() == afterTwo.count())

    // RESTART from checkpoint with a new file: only inc3 is processed
    // (offsets committed for inc1/inc2), and its novel rows land once
    val inc3 = mkDocs(301L to 305L)
    inc3.coalesce(1).write.parquet(s"$incomingDir/inc3")
    val q2 = startStream()
    try q2.processAllAvailable() finally q2.stop()
    val finalStream = spark.read.parquet(standingDir)
    val finalIds = finalStream.select("doc_id").as[Long].collect().toSet
    assert((301L to 305L).toSet.subsetOf(finalIds))
    assert(finalStream.groupBy("doc_id").count().filter(col("count") > 1).count() == 0)
    assert(!new java.io.File(s"$standingDir/_graft_increment_tmp").exists(),
      "the stream deletes each batch's delta once appended")

    // PARITY: the batch `curate -s curate.against` CLI over the same
    // replay (seed, inc1, inc2, inc3 in order) produces the identical
    // corpus
    val batchDir = tmpDir("inc-batch")
    val seedDir = tmpDir("inc-seed")
    seed.write.mode("overwrite").parquet(seedDir)
    Cli.run(Seq("curate", "-o", batchDir, seedDir), spark, new FakeTransport())
    for (inc <- Seq("inc1", "inc2", "inc3"))
      Cli.run(Seq("curate", "-o", tmpDir("inc-delta"),
        "-s", s"curate.against=$batchDir", s"$incomingDir/$inc"),
        spark, new FakeTransport())
    val batchRows = spark.read.parquet(batchDir)
      .select("doc_id", "text", "split").as[(Long, String, String)]
      .collect().toSet
    val streamRows = finalStream
      .select("doc_id", "text", "split").as[(Long, String, String)]
      .collect().toSet
    assert(batchRows == streamRows, "stream and batch increments must agree")

    // signature table in lockstep with the corpus
    val sigN = spark.read.parquet(s"$standingDir/_graft_signatures").count()
    assert(sigN == finalStream.count(), s"sigs $sigN vs corpus ${finalStream.count()}")
  }

  test("doc_id collision with changed content: quarantined, batch survives") {
    val standingDir = java.nio.file.Files.createTempDirectory("inc-coll").toString
    increment(mkDocs(1L to 12L), standingDir)
    // a recrawl: doc_id 3 returns with COMPLETELY different (novel)
    // content — it survives dedup but may not overwrite the standing
    // row; a throw here would poison the checkpoint-replayed stream
    val recrawl = mkDocs(Seq(777L)).select(
      lit(3L).as("doc_id"), col("text"), col("lang"))
    val appended =
      increment(recrawl.unionByName(mkDocs(Seq(601L))), standingDir)
    assert(appended == 1L, "only the novel doc appends; collision is quarantined")
    val corpus = spark.read.parquet(standingDir)
    assert(corpus.filter(col("doc_id") === 3L).count() == 1L,
      "standing row must remain exactly once (not overwritten/duplicated)")
    assert(corpus.filter(col("doc_id") === 601L).count() == 1L)
    val rejected = spark.read.parquet(standingDir + "_rejected")
    assert(rejected.select("doc_id").as[Long].collect().toSeq == Seq(3L),
      "colliding row must land in the quarantine sink")
    // signature table stays in lockstep with the corpus
    assert(spark.read.parquet(s"$standingDir/_graft_signatures").count() ==
      corpus.count())
    // REPLAY idempotence: a crash after the quarantine write but before
    // the offset commit redelivers the batch — the collision recurs
    // (its content still differs from standing) but must not quarantine
    // a second copy, and the novel doc still appends nothing
    val replayAppended =
      increment(recrawl.unionByName(mkDocs(Seq(601L))), standingDir)
    assert(replayAppended == 0L)
    assert(spark.read.parquet(standingDir + "_rejected").count() == 1L,
      "replayed collision must not duplicate in quarantine")
  }

  test("self-heal: a short signature table is rebuilt before the increment") {
    val standingDir = java.nio.file.Files.createTempDirectory("inc-heal").toString
    increment(mkDocs(1L to 12L), standingDir)
    // simulate a crash between corpus append and signature append:
    // truncate the signature table to half its rows
    val sigDir = s"$standingDir/_graft_signatures"
    val sigs = spark.read.parquet(sigDir).limit(3).collect()
    val half = spark.createDataFrame(
      spark.sparkContext.parallelize(sigs.toSeq),
      spark.read.parquet(sigDir).schema)
    half.write.mode("overwrite").parquet(sigDir)
    // next increment heals: its own dup rows are still dropped and the
    // table returns to lockstep
    val dupAgain = mkDocs(Seq(5L, 6L)).select(
      (col("doc_id") + 7000L).as("doc_id"), col("text"), col("lang"))
    val appended =
      increment(dupAgain.unionByName(mkDocs(Seq(501L))), standingDir)
    val corpus = spark.read.parquet(standingDir)
    assert(appended == 1L, "only the novel doc may append after the heal")
    assert(spark.read.parquet(sigDir).count() == corpus.count())
  }

  test("an in-sync signature table is appended to, never rebuilt") {
    val standingDir = tmpDir("inc-sync")
    val sigDir = new java.io.File(s"$standingDir/_graft_signatures")
    def parts(): Set[String] =
      sigDir.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    increment(mkDocs(1L to 12L), standingDir)
    assert(increment(mkDocs(101L to 104L), standingDir) > 0L)
    val before = parts()
    assert(before.nonEmpty)
    // a rebuild overwrites every part file; an append only adds its own
    assert(increment(mkDocs(201L to 204L), standingDir) > 0L)
    val after = parts()
    assert(before.subsetOf(after),
      s"signature table was rewritten: lost ${before -- after}")
    assert(after.size > before.size)
    assert(spark.read.parquet(sigDir.toString).count() ==
      spark.read.parquet(standingDir).count())
  }
}
