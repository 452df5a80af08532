package graft.tools

import org.apache.spark.sql.SparkSession
import graft.ops.Dedup

/** Production-shape increment scaling probe (not a test): the
  * registered d19 query's batch grows WITH the corpus (3.5× at sf1),
  * but a real increment is fixed-size. This measures
  * dedupAgainstSignatures with the SAME sf0.01-sized batch against
  * sf0.1 and sf1 standing corpora (signature tables prebuilt, the
  * production pattern) — the number BASELINE quotes for "increment
  * cost vs corpus growth". */
object IncrementScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${graft.GraftSession.cores}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .appName("inc-scale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._

    // fixed increment: the sf0.01 documents with shifted ids (half
    // novel via reversed text, half exact copies of standing rows)
    val batch = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select((col("doc_id") + 10000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0,
          array_join(reverse(split(col("text"), " ")), " "))
          .otherwise(col("text")).as("text"))

    for (sf <- Seq("/root/testdata/sf0.1", "target/sf1")) {
      val prior = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text"))
      val sigDir = java.nio.file.Files.createTempDirectory("incsigs").toString
      Dedup.signatures(prior, "doc_id", "text")
        .write.mode("overwrite").parquet(sigDir)
      val sigs = spark.read.parquet(sigDir)
      // warmup + 2 timed passes, min (the Bench discipline)
      def once(): Double = {
        val t0 = System.nanoTime()
        Dedup.dedupAgainstSignatures(batch, sigs, prior, "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      val t = math.min(once(), once())
      val n = prior.count()
      println(f"INCPROBE sf=$sf prior=$n batch=500 sec=$t%.2f")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
