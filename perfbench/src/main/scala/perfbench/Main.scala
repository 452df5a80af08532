package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.sinks.SolrJsonSink

/** One benchmark operation: a single `graft.Cli.run` call. */
final case class Op(kind: String, args: Seq[String])

/** What one workload runs: the untimed cold execution that ends set-up,
  * and the closed-loop sequence of timed operations. */
trait Workload {
  def warmUp: Seq[Op]
  def op(i: Int): Op
  /** The loop checks its deadline only every `round` operations, so a run
    * always holds whole rounds and the same mix of operations. */
  def round: Int = 1
  def close(): Unit = ()
}

/** `Cli.run process` over one batch directory of binary MARC files per
  * operation, written to the Solr stub; every operation posts to its own
  * stub core so its docs can be checked on their own. */
final class MarcIndex(work: String, cores: Int, stubDelayMs: Long) extends Workload {
  val stub = new SolrStub(stubDelayMs, threads = 2 * cores + 2)
  private val batches = new File(work, "marc").listFiles()
    .filter(_.getName.startsWith("batch_")).map(_.getPath).sorted.toSeq
  require(batches.nonEmpty, s"no MARC batches under $work/marc")

  def process(core: String, batch: Int) = Op("process",
    Seq("process", "-i", "marc", "-w", "solr", "-u", stub.baseUrl(core), batches(batch)))

  def warmUp: Seq[Op] = Seq(process("warm", 0))
  def op(i: Int): Op = process(s"op$i", i % batches.size)

  /** One line per received doc, `<core>\t<id>\t<title>`, plus one
    * `<core>\t#commits\t<n>` line per core. */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try stub.cores.forEach { (core, c) =>
      c.docs.forEach { case (id, title) => w.println(s"$core\t$id\t$title") }
      w.println(s"$core\t#commits\t${c.commits.get}")
    } finally w.close()
  }

  override def close(): Unit = stub.stop()
}

/** Daily curation: a day-0 batch `curate` builds a standing corpus, then
  * each daily increment curates an HTML crawl delta against it. A cycle is
  * day 0 followed by every increment, in a fresh output directory. */
final class CurateDaily(work: String) extends Workload {
  private val in = s"$work/corpus"
  private val deltas = new File(in).listFiles()
    .filter(_.getName.startsWith("delta_")).map(_.getName).sorted.toSeq
  require(deltas.nonEmpty, s"no deltas under $in")
  override val round: Int = 1 + deltas.size

  private def cycle(out: String): Seq[Op] =
    Op("curate_day0", Seq("curate", "-o", s"$out/standing", "-w", "parquet",
      "-s", s"curate.benchmark=$in/heldout", s"$in/day0/documents.parquet")) +:
      deltas.map { d =>
        Op("curate_increment", Seq("curate", "-o", s"$out/$d", "-w", "parquet",
          "-s", s"curate.against=$out/standing", "-s", "curate.html=text", s"$in/$d"))
      }

  def warmUp: Seq[Op] = cycle(s"$work/out/warm")
  def op(i: Int): Op = cycle(s"$work/out/c${i / round}")(i % round)
}

/** Benchmark harness: runs one workload in one process as a closed loop
  * with one client, and writes the raw samples as JSON for `run.py`.
  *
  * Untraced (`--trace 0`): set-up, then timed operations for `--seconds`,
  * rounded up to whole rounds.
  * Traced (`--trace 1`): the same loop (at least two rounds) with traced and
  * untraced operations alternating, so that every kind of operation runs
  * both ways in both orders (the tracing overhead), then the layer probes. */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    // the stub's threads are not daemons: exit explicitly either way
    try { bench(argv); sys.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
  }

  private def bench(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val cores = opt("cores").toInt
    val traced = opt("trace") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.GraftSession.builder("perfbench", s"local[$cores]",
      shufflePartitions = math.max(cores, 8)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val http = new SolrJsonSink.HttpTransport()
    val timing = new TimingTransport(http)
    val stubDelayMs = opt("stub-delay-ms").toLong
    val w: Workload = workload match {
      case "marc_index" => new MarcIndex(work, cores, stubDelayMs)
      case "curate_daily" => new CurateDaily(work)
      case other => sys.error(s"unknown workload $other")
    }
    val tracer = new Tracer(spark, cores)

    val ops = ArrayBuffer[Map[String, Any]]()
    var filesWritten = 0
    def run(i: Int, op: Op, record: Boolean, trace: Boolean): Option[String] = {
      val t0 = System.nanoTime()
      val error =
        try {
          tracer.operation(i, op.kind, trace)(graft.Cli.run(op.args, spark, if (trace) timing else http))
          None
        } catch { case e: Throwable => Some(e.toString) }
      val t1 = System.nanoTime()
      if (trace) op.args.sliding(2).collectFirst { case Seq("-o", d) if op.kind != "process" => d }
        .foreach(d => filesWritten += filesUnder(new File(d)))
      error.foreach(e => System.err.println(s"[perfbench] ${op.kind} $i failed: $e"))
      if (record) ops += Map("i" -> i, "kind" -> op.kind, "args" -> op.args,
        "t0_ns" -> t0, "t1_ns" -> t1, "traced" -> trace, "error" -> error.orNull)
      error
    }
    var next = 0
    def loop(untilNs: Long, minOps: Int): Unit =
      while (next % w.round != 0 || next < minOps || System.nanoTime() < untilNs) {
        // traced iff round + position is even: t u / u t / t u ...
        run(next, w.op(next), record = true, traced && (next / w.round + next % w.round) % 2 == 0)
        next += 1
      }

    w.warmUp.zipWithIndex.foreach { case (op, i) =>
      run(-1 - i, op, record = false, trace = false).foreach(e => sys.error(s"set-up failed: $e"))
    }
    val loopStart = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val budget = (seconds * 1e9).toLong
    var layers = Map.empty[String, Any]
    if (!traced) loop(loopStart + budget, minOps = 1)
    else {
      tracer.start(loopStart)
      loop(loopStart + budget, minOps = 2 * w.round)
      tracer.stop(System.nanoTime())
      val (loopLayers, recon) = tracer.loopMetrics()
      // layer probes; the Solr probe runs only where the loop posted nothing
      Spans.currentOp = -1
      Spans.currentOpSpan = 0L
      tracer.setRecording(true)
      if (SolrPosts.latenciesNs.isEmpty) {
        val stub = new SolrStub(stubDelayMs, threads = 2 * cores + 2)
        try graft.Cli.run(Seq("process", "-i", "marc", "-w", "solr", "-u",
            stub.baseUrl("probe"), s"$work/marc/batch_0"), spark, timing)
        finally stub.stop()
      }
      val probes = Probes.kernels(spark, work) ++ Probes.ops(spark, work) ++
        Probes.queries(spark, work, tracer)
      layers = Map("metrics" -> (loopLayers ++ solrMetrics() ++ probes ++
          Map("sinks.files_written" -> filesWritten.toDouble)),
        "reconciliation" -> recon)
      writeSpans(s"$work/spans.jsonl")
    }

    // the first collection queues dead shuffles and broadcasts for Spark's
    // ContextCleaner; the second, after it ran, frees what it released
    System.gc(); Thread.sleep(1000); System.gc()
    val liveHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    w match { case m: MarcIndex => m.dump(s"$work/stub.tsv"); case _ => }
    w.close()
    spark.stop()

    val result = Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "ops" -> ops,
      "live_heap_bytes" -> liveHeap,
      "layers" -> layers,
      "env" -> Map(
        "spark" -> org.apache.spark.SPARK_VERSION,
        "jdk" -> System.getProperty("java.runtime.version"),
        "cores" -> cores,
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory()))
    mapper.writeValue(new File(opt("out")), result)
  }

  private def solrMetrics(): Map[String, Double] = {
    val lat = SolrPosts.latenciesNs.asScala.map(_.toLong).toSeq.sorted
    def pct(p: Double) = if (lat.isEmpty) 0.0 else lat(math.min(lat.size - 1, (p * lat.size).toInt)) / 1e6
    val posts = lat.size.toDouble
    val docs = SolrPosts.docs.sum.toDouble
    Map("sinks.solr_posts" -> posts,
      "sinks.solr_docs_per_post" -> (if (posts > 0) docs / posts else 0.0),
      "sinks.solr_bytes_per_doc" -> (if (docs > 0) SolrPosts.bytes.sum / docs else 0.0),
      "sinks.solr_post_p50_ms" -> pct(0.5),
      "sinks.solr_post_p99_ms" -> pct(0.99),
      "sinks.solr_wait_s" -> lat.sum / 1e9,
      "sinks.solr_retry_posts" -> SolrPosts.retryPosts.sum.toDouble)
  }

  private def filesUnder(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(filesUnder).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0 else 1

  private def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try Spans.all.forEach(s => w.println(mapper.writeValueAsString(Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
    finally w.close()
  }
}
