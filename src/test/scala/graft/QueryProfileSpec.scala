package graft

import org.apache.spark.sql.functions._

class QueryProfileSpec extends SparkSpec {

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private lazy val rowsOnDisk: (org.apache.spark.sql.DataFrame, Long) = {
    val dir = java.nio.file.Files.createTempDirectory("profile").toString
    spark.range(0, 5000, 1, 4).select(col("id"), (col("id") % 7).as("k"))
      .write.mode("overwrite").parquet(dir)
    (spark.read.parquet(dir), 5000L)
  }

  test("construction jobs: exactly the collects run while building") {
    val (_, p) = QueryProfile.run(spark, "one-collect") {
      val n = spark.range(0, 100, 1, 4).collect().length
      spark.range(0, n, 1, 4).toDF("id")
    }(noop)
    assert(p.constructJobs == 1)
    assert(p.constructJobSites.keySet.forall(_.startsWith("collect at")))
    assert(p.execJobs >= 1)
  }

  test("a parquet scan reports the rows written as input records") {
    val (onDisk, rows) = rowsOnDisk
    val (_, p) = QueryProfile.run(spark, "scan")(onDisk.select("id", "k"))(noop)
    assert(p.inputRecords == rows)
    assert(p.inputBytes > 0)
  }

  test("a narrow select shuffles nothing; a groupBy shuffles") {
    val (onDisk, _) = rowsOnDisk
    val (_, narrow) = QueryProfile.run(spark, "narrow")(
      onDisk.select((col("id") * 2).as("x")))(noop)
    assert(narrow.shuffleWriteBytes == 0 && narrow.shuffleReadBytes == 0)
    val (_, wide) = QueryProfile.run(spark, "wide")(
      onDisk.groupBy("k").agg(count(lit(1)).as("n")))(noop)
    assert(wide.shuffleWriteBytes > 0 && wide.shuffleReadBytes > 0)
    assert(wide.shuffleWriteRecords > 0)
  }

  test("exec splits exactly into in-job time and gaps") {
    val (onDisk, _) = rowsOnDisk
    val (_, p) = QueryProfile.run(spark, "split")(
      onDisk.groupBy("k").agg(sum("id").as("s")).orderBy("k"))(noop)
    assert(p.execInJobS > 0 && p.execGapS >= 0)
    assert(math.abs(p.execInJobS + p.execGapS - p.execS) <= 1e-3)
    assert(p.stages >= 1 && p.tasks >= p.stages)
    assert(p.topStages.nonEmpty && p.topStages.size <= 3)
  }

  test("a persist left in place shows up in the storage after numbers") {
    val rdd = spark.sparkContext.parallelize(1L to 200000L, 4)
    import spark.implicits._
    try {
      val (_, p) = QueryProfile.run(spark, "persist") {
        rdd.persist()
        rdd.toDF("v")
      }(_.count())
      // the independent reference: the block manager's size of this RDD
      val own = spark.sparkContext.getRDDStorageInfo.filter(_.id == rdd.id)
        .map(i => i.memSize + i.diskSize).sum
      assert(own > 0)
      assert(p.persistedRddsAfter >= 1 && p.persistedBytesAfter >= own)
      assert(p.persistedBytesAfter > p.persistedBytesBefore)
    } finally rdd.unpersist(blocking = true)
  }

  test("the JSON form carries every field in snake_case") {
    val (_, p) = QueryProfile.run(spark, "json")(
      spark.range(0, 10, 1, 2).toDF("id"))(noop)
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(p.copy(topStages = p.topStages :+ StageCost(-1, "a \"q\"\n", 0.0)).toJson)
    assert(tree.size == p.productArity)
    for (k <- Seq("construct_s", "exec_in_job_s", "construct_jobs", "input_records",
                  "shuffle_write_records", "persisted_bytes_after", "process_cpu_s"))
      assert(tree.has(k), s"$k missing")
    assert(tree.get("construct_jobs").asLong == p.constructJobs)
    assert(tree.get("top_stages").get(p.topStages.size).get("name").asText == "a \"q\"\n")
  }
}
