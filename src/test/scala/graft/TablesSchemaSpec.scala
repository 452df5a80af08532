package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-drift canary: the driver regenerates /root/testdata between
  * rounds and has already changed `events.ts`'s physical type once
  * (INT64-nanos → timestamp[us], which surfaces as TIMESTAMP_NTZ). Every
  * event-time consumer reads the normalized `ts_us` column that
  * [[Tables.events]] emits, so a future regeneration that breaks the
  * dispatch must fail HERE, in one test whose message names the
  * normalization point — not as a dozen scattered AnalysisExceptions.
  */
class TablesSchemaSpec extends SparkSpec {

  private def fields(name: String): Map[String, DataType] =
    Tables.load(spark, sfSmoke, name).schema.fields
      .map(f => f.name -> f.dataType).toMap

  test("events normalizes ts to epoch-µs ts_us regardless of physical type") {
    val ev = Tables.events(spark, sfSmoke)
    val tsType = fields("events")("ts")
    assert(Set[DataType](TimestampType, TimestampNTZType, LongType)(tsType),
      s"events.ts arrived as $tsType — extend Tables.tsMicros (the single " +
        "normalization point) before touching any query")
    assert(ev.schema("ts_us").dataType == LongType,
      "Tables.events must emit a LONG ts_us column")

    // value-level pin: ts_us is a plausible epoch-µs (year range ~2020-2030)
    // and agrees with the raw ts rendered as a timestamp
    val r = ev.agg(min("ts_us"), max("ts_us")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val us2020 = 1577836800000000L // 2020-01-01
    val us2030 = 1893456000000000L // 2030-01-01
    assert(lo >= us2020 && hi < us2030,
      s"ts_us range [$lo, $hi] is not epoch-µs — Tables.tsMicros dispatched " +
        s"the wrong unit for physical type $tsType")
    // calendar-day cross-check against an INDEPENDENT rendering of the
    // raw column. `to_date(col("ts"))` cannot resolve on the legacy
    // BIGINT branch (AnalysisException, not this test's diagnostic), so
    // the rendering branches on the physical type: INT64-nanos is
    // re-derived here from first principles (ns → µs floor division).
    val rawAsTs = tsType match {
      case LongType => timestamp_micros(expr("CAST(floor(ts / 1000) AS BIGINT)"))
      case _        => col("ts").cast(TimestampType)
    }
    val bad = ev.filter(
      to_date(timestamp_micros(col("ts_us"))) =!= to_date(rawAsTs)).count()
    assert(bad == 0, s"$bad rows where ts_us's calendar day disagrees with " +
      "raw ts — Tables.tsMicros normalization is wrong for this schema")
  }

  test("core table schemas carry the columns the query surface assumes") {
    // names only (types vary legitimately across generator versions for
    // dates/timestamps; the queries are written against these columns)
    val expect = Map(
      "events" -> Set("event_id", "ts", "user_id", "event_type", "value", "props"),
      "lineitem" -> Set("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus",
        "l_shipdate"),
      "orders" -> Set("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority"),
      "customer" -> Set("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment"),
      "documents" -> Set("doc_id", "text"),
      "embeddings" -> Set("vec_id", "embedding"))
    for ((t, cols) <- expect) {
      val have = fields(t).keySet
      val missing = cols -- have
      assert(missing.isEmpty,
        s"$t.parquet lost expected columns $missing (have $have) — the " +
          "testdata generator changed shape; fix loaders in graft.Tables " +
          "and audit the queries that read them")
    }
    assert(fields("embeddings")("embedding").isInstanceOf[ArrayType],
      "embeddings.embedding must be an array column")
  }

  test("the relation memo evicts stopped sessions before a live one") {
    // keys stand for sessions; `stopped` for sparkContext.isStopped (a
    // second, stoppable context cannot share this JVM with the suite's)
    val stopped = scala.collection.mutable.Set.empty[String]
    val lru = new Tables.SessionLru[String, Int](Tables.MaxSessions, stopped.contains)
    lru.put("live", 0) // the least recently used entry from here on
    for (i <- 1 to Tables.MaxSessions + 2) {
      val k = s"s$i"
      if (i % 2 == 0) stopped += k
      lru.put(k, i)
      assert(lru.size <= Tables.MaxSessions)
    }
    assert(lru.containsKey("live"), "a live memo must outlast stopped sessions")
    assert(!lru.containsKey("s2") && !lru.containsKey("s4"))
    // with no stopped session left, the bound still evicts the LRU
    stopped.clear()
    lru.keySet.removeIf(k => k != "live" && k.substring(1).toInt % 2 == 0)
    while (lru.size < Tables.MaxSessions) lru.put(s"x${lru.size}", 0)
    lru.put("newest", 0)
    assert(!lru.containsKey("live") && lru.size == Tables.MaxSessions)
  }
}
