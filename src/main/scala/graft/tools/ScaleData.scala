package graft.tools

import org.apache.spark.sql.functions._

/** Self-bench data scaler: replicates the driver-generated testdata
  * `factor`× with per-replica key strides, so key CARDINALITY scales with
  * volume (replicating ids verbatim would turn every key into a factor-way
  * duplicate and distort joins/windows). Foreign keys shift by the same
  * stride as their parent, so referential joins keep their selectivity;
  * tiny dimensions (region, nation) stay single-copy, as they would at any
  * real scale. Non-key payloads (texts, embeddings, timestamps) replicate
  * verbatim — dedup/ANN workloads see factor-way planted duplicates, which
  * is the honest shape of a crawled corpus.
  *
  *   sbt "runMain graft.tools.ScaleData /root/testdata/sf0.1 target/sf1 10"
  */
object ScaleData {
  /** Stride larger than any key in the source data; replica k shifts every
    * listed key column by k·Stride (cast back to its original type). */
  val Stride = 10000000L

  val KeyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq.empty, "nation" -> Seq.empty,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleData <inDir> <outDir> <factor>")
    val Array(inDir, outDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1)
    val spark = graft.GraftSession.builder(
      appName = "graft-scale-data", shufflePartitions = 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    for ((table, keys) <- KeyCols.toSeq.sortBy(_._1)) {
      val df = spark.read.parquet(s"$inDir/$table.parquet")
      keys.foreach { k =>
        val mx = df.agg(max(col(k).cast("long"))).collect()(0).getLong(0)
        require(mx < Stride, s"$table.$k max $mx exceeds stride $Stride")
      }
      val out =
        if (keys.isEmpty) df
        else (0 until factor).map { r =>
          keys.foldLeft(df) { (d, k) =>
            d.withColumn(k,
              (col(k).cast("long") + lit(r * Stride)).cast(df.schema(k).dataType))
          }
        }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      println(s"[scale] $table: ${df.count()} -> ${out.count()} rows")
    }
    spark.stop()
  }
}
