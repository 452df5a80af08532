package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology:
  *  - every query runs once UNTIMED first (JVM/classloading/codegen/JIT),
  *    then once timed — steady-state throughput, the same discipline as
  *    the reference's benchmark-ips harness
  *    (/root/reference/index_bench/index_bench.rb warmup phase);
  *  - timing forces FULL materialization through a noop sink —
  *    `df.count()` would let Catalyst prune away every projected column and
  *    benchmark an empty aggregate instead of the actual query.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cores
    val spark = GraftSession.builder(
        appName = "graft-bench",
        shufflePartitions = math.max(cpus, 8))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // a broken query must FAIL the bench run loudly, not silently lower the
    // total by dropping out as -1
    def runOnce(name: String): QueryProfile =
      try {
        QueryProfile.run(spark, name)(SparkEntry.queries(name)(spark, sfDir))(
          _.write.mode("overwrite").format("noop").save())._2
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] query $name FAILED: $e")
          spark.stop()
          sys.exit(1)
      }
    // a query's time is construction plus write; the profile's listener
    // drain and storage reads lie outside it
    def seconds(p: QueryProfile): Double = p.constructS + p.execS

    // warmup pass: every query once, untimed. SPARK_GRAFT_ONLY (comma-sep
    // names) narrows the set for local profiling; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // System.gc() between queries here too (not just in timed passes):
    // shuffle files of a finished query are reclaimed by ContextCleaner
    // only after their dependencies are GC'd, and a 158-query warmup at
    // sf10 otherwise accumulates tens of GB of dead spill on disk
    names.foreach { n =>
      System.gc()
      val t = seconds(runOnce(n))
      System.err.println(f"[bench] warmup $n%-28s ${t}%9.3f s")
    }
    // N timed passes (SPARK_GRAFT_BENCH_PASSES, default 3), report each
    // query's MINIMUM — the steady-state time, same statistic
    // benchmark-ips reports via max ips. A single pass is contaminated
    // by a wandering 1-3 s stall (host scheduling / major GC) that lands
    // on a different query every run; the min across passes is stable to
    // ±5%. System.gc() between queries keeps one query's collection
    // debris out of the next one's window and lets Spark's
    // ContextCleaner reclaim dead localCheckpoint blocks.
    // per-query progress on STDERR (stdout stays the one-line JSON
    // contract): at sf10 a full-registry pass runs >20 min, and a silent
    // bench is indistinguishable from a hung one
    def timedPass(pass: Int): Map[String, QueryProfile] =
      names.map { n =>
        System.gc()
        val p = runOnce(n)
        System.err.println(f"[bench] pass $pass $n%-28s ${seconds(p)}%9.3f s")
        n -> p
      }.toMap
    // default 3, not 2: with 3+ passes the aging ratio below gates on
    // median/min, which a lone host stall cannot inflate — the DRIVER's
    // own artifact (which runs this default) then adjudicates itself
    val nPasses = math.max(2, sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_PASSES", "3").toInt)
    val profiledPasses = (1 to nPasses).map(p => timedPass(p))
    val allPasses = profiledPasses.map(_.view.mapValues(seconds).toMap)
    val results = names.map(n => n -> allPasses.map(_(n)).min)
    def jsonMap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jsonMap(results)
    // In-session AGING is machine-detectable through a per-query pass
    // ratio. With 2 passes it is the raw pass2/pass1; with 3+ it is
    // median/min — robust to the one-off host stall that a 2-pass ratio
    // cannot distinguish from genuine decay (the r16 adjudication tail:
    // 13 sub-second queries over 1.35 on single-pass noise). Genuine
    // decay (the r15 disease: unreleased persists degrading every later
    // execution, x04 7.85 s → 141.3 s) inflates the MEDIAN of repeated
    // passes, which a lone spike cannot. A healthy session's ratios sit
    // ~1.0 ± host noise; the gate is ≤1.35 on queries ≥0.5 s.
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val ratios = names.map { n =>
      val ts = allPasses.map(_(n))
      n -> (if (nPasses == 2) { if (ts(0) > 0) ts(1) / ts(0) else 1.0 }
            else if (ts.min > 0) median(ts) / ts.min else 1.0)
    }
    val worstAged = ratios.filter { case (n, _) => allPasses.head(n) >= 0.5 }
      .sortBy(-_._2).take(1)
    val maxRatio = worstAged.headOption.map(_._2).getOrElse(1.0)
    val maxRatioQuery = worstAged.headOption.map(_._1).getOrElse("")
    // per-pass times ride along so a contended host is machine-detectable:
    // uniform cross-pass inflation vs the previous round means the HOST
    // was slow, not the code; a one-pass spike on one query is a stall
    val passes = allPasses
      .map(p => jsonMap(names.map(n => n -> p(n)))).mkString("[", ",", "]")
    val passTotals = allPasses.map(_.values.sum).mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // the full JSON as a FILE artifact, so consumers can ingest the result
    // directly instead of scraping it out of sbt's interleaved stdout
    // (override the path with SPARK_GRAFT_BENCH_OUT; never fail the bench
    // over an unwritable artifact path). The artifact path rides at the
    // top of the JSON so any consumer holding a fragment knows where the
    // complete record lives.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
      .toAbsolutePath.toString
    val json = s"""{"artifact":"$outPath","metric":"total","value":$total,"unit":"sec","queries":$qs,"pass_totals":$passTotals,"pass_ratio_max":$maxRatio,"pass_ratio_max_query":"$maxRatioQuery","pass_ratios":${jsonMap(ratios)},"passes":$passes,"sf":"$sfDir","host":{"cores":$cpus,"max_heap_bytes":${Runtime.getRuntime.maxMemory}}}"""
    // the artifact alone also carries each query's profile per pass,
    // parallel to `passes`; the stdout lines keep their schema
    val profiles = profiledPasses.map(p => names.map(n => "\"" + n + "\":" + p(n).toJson)
      .mkString("{", ",", "}")).mkString("[", ",", "]")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json.dropRight(1) + s""","profiles":$profiles}\n""").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: $e") }
    // stop the session BEFORE the contract lines: Spark's shutdown logging
    // must not interleave after the JSON in a merged stdout+stderr capture
    spark.stop()
    // COMPACT summary (total + artifact pointer) for humans reading the
    // log. It prints BEFORE the two full-record lines below, so a reader
    // that keeps only a bounded output tail never reaches it: such
    // readers should grep the GRAFT_BENCH_JSON: sentinel or read the
    // artifact file named in every line.
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","queries_in_artifact":${names.length},"pass_ratio_max":$maxRatio,"artifact":"$outPath"}""")
    // Greppable sentinel carrying the FULL record (per-query map included)
    // for consumers that grep rather than tail.
    println(s"GRAFT_BENCH_JSON: $json")
    // The TRUE FINAL stdout line is the full one-line JSON contract —
    // metric/value/unit/queries/sf — so a consumer that json-parses the
    // process's last line gets the per-query map, not just the total.
    // (build.sbt sets outputStrategy := StdoutOutput and showSuccess :=
    // false so sbt neither prefixes this line with "[info] " nor appends
    // a "[success]" banner after it — BENCH_r15..r18 all failed to parse
    // because of exactly those two sbt decorations.)
    println(json)
  }
}
