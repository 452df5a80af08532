package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst gets filter
  * pushdown + column pruning on the scan for free; never cache here —
  * callers decide lifetime.
  */
object Tables {
  // Per-session RELATION memo (r18): `spark.read.parquet` re-lists the
  // path and re-infers the footer schema — including one Spark job —
  // on EVERY call, and a bench session constructs each registered query
  // 4× with 1-4 table loads each: pure driver/scheduler latency,
  // hundreds of ms per query execution. One resolved frame per
  // (session, path) is what a catalog/metastore table gives production
  // jobs. It holds NO row data — every action still recomputes from
  // the parquet files (this is metadata reuse, not result caching).
  // Callers that rewrite a path mid-session must go through
  // `spark.read` directly (none of the driver-provided tables are ever
  // rewritten in-session).
  //
  // Retention (r19 ADVICE fix): the r18 shape was a WeakHashMap keyed by
  // session — but every cached DataFrame strongly references its
  // SparkSession, so the value map kept the weak key reachable and
  // nothing ever evicted. A bounded access-order LRU makes retention
  // explicit instead of fictional: at most MaxSessions sessions' memos
  // are held, and a stopped session's memo is evicted before any live
  // session's, so dead sessions never push out a live one.
  private[graft] val MaxSessions = 8
  private val relCache = new SessionLru[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, DataFrame]](
    MaxSessions, _.sparkContext.isStopped)

  /** Access-order LRU of at most `max` entries that, when full, evicts
    * an entry whose key is `stopped` before the least recently used. */
  private[graft] final class SessionLru[K, V](max: Int, stopped: K => Boolean)
      extends java.util.LinkedHashMap[K, V](16, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size > max && {
        val it = keySet.iterator
        var dead = false
        while (!dead && it.hasNext) if (stopped(it.next())) { it.remove(); dead = true }
        !dead
      }
  }

  private def memo(spark: SparkSession, key: String)(
      build: => DataFrame): DataFrame = {
    val m = relCache.synchronized {
      var mm = relCache.get(spark)
      if (mm == null) {
        mm = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        relCache.put(spark, mm)
      }
      mm
    }
    // NOT computeIfAbsent: the build runs Spark jobs (footer read, split
    // probe) and documentsBalanced's build re-enters memo() for the
    // documents load — a nested computeIfAbsent on the same map is a
    // documented CHM hazard (JDK-8062841) and would hold a bin lock
    // across a Spark job. Build OUTSIDE any lock; a duplicate concurrent
    // build is harmless (pure metadata) and putIfAbsent keeps the winner.
    val got = m.get(key)
    if (got != null) got
    else {
      val built = build
      val prev = m.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    memo(spark, s"$dir/$name.parquet")(
      spark.read.parquet(s"$dir/$name.parquet"))

  def region(s: SparkSession, d: String)    = load(s, d, "region")
  def nation(s: SparkSession, d: String)    = load(s, d, "nation")
  def customer(s: SparkSession, d: String)  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String)  = load(s, d, "supplier")
  def part(s: SparkSession, d: String)      = load(s, d, "part")
  def orders(s: SparkSession, d: String)    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String)  = load(s, d, "lineitem")
  /** The events table with `ts` normalized ONCE at this choke point to a
    * stable epoch-µs long column `ts_us` (the raw `ts` is kept untouched).
    * The testdata generator has already shipped the column as INT64
    * nanoseconds (legacy parquet, Spark surfaces BIGINT) and as
    * `timestamp[us]` (Spark surfaces TIMESTAMP_NTZ) — per-query casts
    * against either physical type break wholesale when the generator
    * changes again, so every event-time consumer reads `ts_us` and only
    * this dispatch knows the physical schema. DuckDB's `epoch_us(ts)`
    * agrees with each branch (session timezone is pinned UTC in every
    * entry point, so NTZ naive micros == epoch micros). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.withColumn("ts_us", tsMicros(raw, "ts"))
  }

  /** Epoch-µs long for a time column of any physical type the generator
    * has produced. TIMESTAMP → unix_micros; TIMESTAMP_NTZ → cast to
    * TIMESTAMP first (session tz is UTC everywhere, so the naive value IS
    * the epoch — a bare cast-to-long would truncate to whole seconds);
    * BIGINT → legacy INT64-nanos, integer-divide (double division loses
    * precision on 1.7e18-scale values). Anything else fails loudly. */
  def tsMicros(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case TimestampType    => unix_micros(col(c))
      case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
      case LongType         => org.apache.spark.sql.functions.expr(s"$c DIV 1000")
      case t => throw new IllegalArgumentException(
        s"events.$c has unsupported physical type $t; extend Tables.tsMicros")
    }
  def documents(s: SparkSession, d: String) = load(s, d, "documents")

  /** documents rebalanced for CPU-bound per-row operators (shingling, DOM
    * parsing, language ID): the local test files are single-row-group
    * parquet — ONE non-empty input split — so a narrow plan would run its
    * whole per-row stage on one core. Use this ONLY where the per-row work
    * dominates the shuffle cost; cheap map-only queries should read
    * [[documents]] directly. */
  def documentsBalanced(s: SparkSession, d: String): DataFrame =
    // memoized like load(): the split-count probe compiles a physical
    // plan per call (`df.rdd`) — same latency class as the footer job
    memo(s, s"$d/documents.parquet#balanced")(balanced(s, documents(s, d)))

  /** Repartition `df` only when its scan yields far fewer splits than the
    * cluster has cores — i.e. the input genuinely lacks parallelism (few
    * files / few row groups). Production inputs with thousands of splits
    * pass through untouched: an explicit `repartition(n)` is a real
    * shuffle that AQE does NOT remove, so it must never be baked in
    * unconditionally. */
  def balanced(s: SparkSession, df: DataFrame): DataFrame = {
    val splits = df.rdd.getNumPartitions
    val target = s.sparkContext.defaultParallelism
    if (splits * 4 <= target) df.repartition(target) else df
  }

  def embeddings(s: SparkSession, d: String) = load(s, d, "embeddings")
}
