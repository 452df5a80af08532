package graft.tools

import org.apache.spark.sql.functions.col

/** Measures cross-document passage dedup (t32,
  * [[graft.ops.Dedup.removeDuplicatePassages]]) across window widths —
  * Lee et al.'s 50-token default vs the shorter windows aggressive
  * curation stacks use. Prints per-w wall time plus the (hash, id, pos)
  * exchange cardinality proxy (total window hashes emitted), the cost
  * driver at scale. `SPARK_GRAFT_SF_DIR` picks the table dir. */
object PassageWindowSweep {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder(
      appName = "passage-sweep").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.Tables.documentsBalanced(spark, sf)
    for (w <- args.map(_.toInt).toSeq match {
           case Seq() => Seq(12, 25, 50); case ws => ws }) {
      // warmup then min-of-2, the Bench discipline
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.ops.Dedup.removeDuplicatePassages(docs, "doc_id", "text", w)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      val t = math.min(once(), once())
      val nHashes = docs.select(
          org.apache.spark.sql.functions.size(
            graft.functions.ShingleExpressions.windowHashes(col("text"), w))
            .cast("long").as("n"))
        .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
      println(f"w=$w%-3d time=${t}%.2f s  window_hashes=$nHashes%,d")
    }
    spark.stop()
  }
}
