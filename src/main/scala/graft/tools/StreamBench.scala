package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.{Dedup, Sampling, TextAnalysis}
import graft.streaming.StreamingCuration

/** Streaming-curation scale bench: replays a documents table as a
  * file-based stream through the FULL gate chain (exact dedup,
  * multi-band near-dup suppression, quality/LM/DSIR/decontamination/
  * temperature gates, PII scrub) and reports rows/s plus per-operator
  * state-store rows and bytes — the numbers the batch side already
  * carries in BASELINE.md.
  *
  *   sbt "runMain graft.tools.StreamBench [sfDir] [bands]"
  *
  * Input = docs ∪ exact copies (+20 min) ∪ near copies (+25 min), event
  * time spread over 2 h, watermark 1 h, ~20 micro-batches. Expected
  * state bound: 1 store row per distinct fingerprint within the window
  * for exact dedup, plus `bands` stores × distinct docs within the
  * window for the near-dup gate — state grows with the WINDOW, never
  * the corpus. */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/sf1")
    val bands = args.lift(1).map(_.toInt).getOrElse(4)
    val store = args.lift(2).getOrElse("hdfs") // hdfs | rocksdb
    val spark = graft.GraftSession.builder("graft-stream-bench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (store == "rocksdb")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val base = to_timestamp(lit("2026-01-01 00:00:00"))
    // event time: 2-hour span keyed by id; copies arrive 20/25 min later
    def ts(idCol: org.apache.spark.sql.Column,
           offsetSec: Long): org.apache.spark.sql.Column =
      base + make_dt_interval(lit(0), lit(0), lit(0),
        (pmod(idCol, lit(7200L)) + lit(offsetSec)).cast("double"))
    val replay = docs.select(col("doc_id"), col("text"), col("lang"),
        ts(col("doc_id"), 0L).as("ts"))
      .unionByName(docs.select((col("doc_id") + 10000000L).as("doc_id"),
        col("text"), col("lang"), ts(col("doc_id"), 1200L).as("ts")))
      .unionByName(docs.select((col("doc_id") + 20000000L).as("doc_id"),
        concat(col("text"), lit(" streamed tail")).as("text"), col("lang"),
        ts(col("doc_id"), 1500L).as("ts")))
    val inDir = java.nio.file.Files.createTempDirectory("streambench-in").toString
    replay.repartitionByRange(20, col("ts"))
      .write.mode("overwrite").parquet(inDir)
    val inputRows = spark.read.parquet(inDir).count()

    // batch-trained models ride the stream plan as literals
    val lmModel = TextAnalysis.lmBitsModel(docs, "text")
    val dsirModel = TextAnalysis.dsirModel(docs, "text", col("lang") === "en")
    val bloom = Dedup.benchmarkBloom(
      docs.filter(col("doc_id") % 97 === 0).select("text"), "text")
    val langCounts = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val rates = Sampling.temperatureRates(langCounts,
      target = langCounts.map(_._2).sum / 2)

    def gates(df: org.apache.spark.sql.DataFrame) = {
      val deduped = StreamingCuration.nearDupSuppressMultiBand(
        StreamingCuration.dedupExact(df, "text", "ts", "1 hour"),
        "text", "ts", "1 hour", bands = bands, assumeWatermarked = true)
      StreamingCuration.scrubPii(
        StreamingCuration.temperatureGate(
          StreamingCuration.decontaminationGate(
            StreamingCuration.dsirFilter(
              StreamingCuration.lmFilter(
                StreamingCuration.qualityFilter(deduped, "text", 0.3),
                "text", lmModel, maxBitsPerToken = 14000.0),
              "text", dsirModel, minAvgLogw = -2000.0),
            "text", bloom),
          "doc_id", "lang", rates),
        "text")
    }

    // batch reference: same chain, batch semantics (dropDuplicates
    // stands in for the watermarked dedup), for the overhead comparison
    val batchStart = System.nanoTime()
    val batchFrame = gatesBatch(spark.read.parquet(inDir), lmModel,
      dsirModel, bloom, rates, bands)
    batchFrame.write.format("noop").mode("overwrite").save()
    val batchSec = (System.nanoTime() - batchStart) / 1e9

    val stream = spark.readStream
      .schema(spark.read.parquet(inDir).schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(inDir)
    val t0 = System.nanoTime()
    val q = gates(stream).writeStream
      .format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("streambench-ck").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wallSec = (System.nanoTime() - t0) / 1e9

    val progresses = q.recentProgress.toSeq
    val outRows = progresses.flatMap(p => Option(p.sink))
      .map(_.numOutputRows).filter(_ >= 0).sum
    val stateOps = progresses.flatMap(_.stateOperators.zipWithIndex)
      .groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (i, ps) =>
        val rows = ps.map(_._1.numRowsTotal).max
        val mem = ps.map(_._1.memoryUsedBytes).max
        (i, rows, mem)
      }
    val nBatches = progresses.count(_.numInputRows > 0)
    println(s"""{"metric":"stream_curation","sf_dir":"$sfDir","input_rows":$inputRows,""" +
      s""""output_rows":$outRows,"wall_sec":${f"$wallSec%.2f"},""" +
      s""""rows_per_sec":${f"${inputRows / wallSec}%.0f"},""" +
      s""""batch_sec":${f"$batchSec%.2f"},""" +
      s""""micro_batches":$nBatches,"bands":$bands,"store":"$store",""" +
      s""""state_ops":[${stateOps.map { case (i, r, m) =>
        s"""{"op":$i,"max_rows":$r,"max_bytes":$m}""" }.mkString(",")}]}""")
    spark.stop()
  }

  private def gatesBatch(df: org.apache.spark.sql.DataFrame,
                         lmModel: TextAnalysis.LmBitsModel,
                         dsirModel: TextAnalysis.DsirModel,
                         bloom: Array[Byte],
                         rates: Map[String, Double],
                         bands: Int): org.apache.spark.sql.DataFrame = {
    val exact = df.withColumn("_fp", md5(col("text")))
      .dropDuplicates("_fp").drop("_fp")
    val near = (0 until bands).foldLeft(
      exact.withColumn("_bands",
        graft.functions.MinhashBandsExpression.minhashBands(
          col("text"), bands, 2, 3))) { (d, b) =>
      d.withColumn("_bkey",
        struct(lit(b).as("b"), col("_bands").getItem(b).as("h")))
        .dropDuplicates("_bkey").drop("_bkey")
    }.drop("_bands")
    StreamingCuration.scrubPii(
      StreamingCuration.temperatureGate(
        StreamingCuration.decontaminationGate(
          StreamingCuration.dsirFilter(
            StreamingCuration.lmFilter(
              StreamingCuration.qualityFilter(near, "text", 0.3),
              "text", lmModel, maxBitsPerToken = 14000.0),
            "text", dsirModel, minAvgLogw = -2000.0),
          "text", bloom),
        "doc_id", "lang", rates),
      "text")
  }
}
