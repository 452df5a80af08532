package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-appropriate defaults.
  *
  * Local mode defaults to one worker thread per host core ([[cores]]),
  * and every setting is chosen for the 1000-executor / 100 TB design
  * point too: AQE handles runtime re-planning
  * (coalescing post-shuffle partitions, skew-join splitting), broadcast
  * threshold keeps dimension tables map-side, and shuffle partitions are
  * explicit rather than the 200 default.
  */
object GraftSession {
  /** Local-mode worker threads: `SPARK_GRAFT_CPUS`, else every core the
    * JVM sees. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(appName: String = "graft",
              master: String = s"local[$cores]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // SPARK_GRAFT_AQE=false runs the whole surface with adaptive
      // execution off — the audit knob proving no registered plan silently
      // depends on AQE skew splitting instead of ops/Skew's explicit
      // salting (BASELINE.md "AQE-off audit"). Default on, as production.
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      // SPARK_GRAFT_ANSI=false audits the registry under non-ANSI
      // semantics (clusters routinely disable ANSI): every oracle must
      // stay hash-green either way — no registered query may depend on
      // ANSI-only behavior (throw-on-overflow, strict casts). Default
      // on, as Spark 4 ships.
      .config("spark.sql.ansi.enabled",
        sys.env.getOrElse("SPARK_GRAFT_ANSI", "true"))
      // the generated-class cache defaults to 100 entries; a session
      // running the whole 158-query registry generates ~1-2k distinct
      // codegen units PER PASS, so the default thrashes: janino
      // recompiles continuously for the life of the session and the
      // resulting class-loading churn re-deoptimizes hot shared JVM
      // paths (the bench recorded one wandering ~25 s pass-2 stall per
      // run landing on whichever DOM-parse query hit the deopt storm —
      // x03 0.86→8.05 s one run, x04 4.8→29.8 s the next, storage
      // clean both times). 10k entries holds every unit of the full
      // registry; a production curation session (dozens of distinct
      // jobs, not 474 query executions) sits far below it either way.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // Below the bypass threshold Spark's shuffle writer opens ONE FILE
      // PER REDUCE PARTITION per map task and then concatenates them
      // (BypassMergeSortShuffleWriter.writePartitionedData →
      // copyFileStreamNIO) — thread dumps of the x04 bench showed the
      // executor pool dominated by exactly that file plumbing, not by
      // query work: 32 map tasks × 32 reduce files × ~6 exchanges of
      // KB-scale data is thousands of file create/write/concat calls
      // per query. Production clusters run hundreds-to-thousands of
      // shuffle partitions, PAST the default threshold (200), so they
      // use the serialized sort writer (one spill file + index per map
      // task) — forcing that writer here makes local shuffles take the
      // same code path production takes instead of a
      // small-partition-count special case (x04 3.4 → 2.0 s at sf0.1).
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
      // reader rejects; read as long nanos and convert explicitly.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
