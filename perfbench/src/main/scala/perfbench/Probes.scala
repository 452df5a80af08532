package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{HtmlTextExpression, MinhashBandsExpression, NormalizeTextExpression}
import graft.marc.{MarcExtractor, MarcRecord}
import graft.ops.{Dedup, TextAnalysis}
import graft.sources.Iso2709

/** Each layer's public functions called on their own, over the generated
  * inputs, in every traced run. */
object Probes {
  /** DemoIndexer's fused extract_marc specs. */
  val DemoSpecs: Seq[String] = Seq("001", "505art", "260abef:261abef:262ab:264ab",
    "020a:773z:776z:534z:556z", "010a", "300a", "245ak", "245abk",
    "245nps:130:240abcdefgklmnopqrs:210ab:222ab:242abcehnp:243abcdefgklmnopqrs:246abcdefgnp:247abcdefgnp",
    "700gklmnoprst:710fgklmnopqrst:711fgklnpst:730abdefgklmnopqrst:740anp:505t:780abcrst:785abcrst:773abrst",
    "440a:490a:800abcdt:400abcd:810abcdt:410abcd:811acdeft:411acdef:830adfgklmnoprst:760ast:762ast",
    "100abcdgqu:110abcdgnu:111acdegjnqu",
    "700abcdegqu:710abcdegnu:711acdegjnqu:720a:505r:245c:191abcdegqu",
    "100abcdq:110:111", "100abcdq:110abcdgnu:111acdenqu:700abcdq:710abcdgnu:711acdenqu",
    "600:610:611:630:650:651avxyz:653aa:654abcvyz:655abcvxyz:690abcdxyz:691abxyz:692abxyz:693abxyz:656akvxyz:657avxyz:652axyz:658abcd",
    "600abcdtq:610abt:610x:611abt:611x:630aa:630x:648a:648x:650aa:650x:651a:651x:691a:691x:653aa:654ab:656aa:690a:690x",
    "260a", "022a:022l:022y:773x:774x:776x",
    "490x:440x:800x:400x:410x:411x:810x:811x:830x:700x:710x:711x:730x:780x:785x:777x:543x:760x:762x:765x:767x:770x:772x:775x:786x:787x",
    "024a:028a")

  /** Registry queries that read only the documents table. */
  val DocQueries: Seq[String] = Seq("d01_exact_dedup", "d02_minhash_neardup",
    "d07_decontaminate", "t01_text_stats", "t45_curate_html")

  /** Median nanoseconds per item of `pass` over `items` items, repeated
    * until at least `minPasses` passes and `minNs` in total. */
  private def nsPerItem(items: Int, minPasses: Int = 5, minNs: Long = 300000000L)(pass: => Unit): Double = {
    val times = scala.collection.mutable.ArrayBuffer[Long]()
    val t0 = System.nanoTime()
    while (times.size < minPasses || System.nanoTime() - t0 < minNs) {
      val a = System.nanoTime(); pass; times += System.nanoTime() - a
    }
    times.sorted.apply(times.size / 2).toDouble / items
  }

  private var sink = 0L // keeps the JIT from dropping probed calls

  def kernels(spark: SparkSession, work: String): Map[String, Double] = {
    import spark.implicits._
    val files = new File(s"$work/marc/batch_0").listFiles().filter(_.getName.endsWith(".mrc")).sorted
    val bytes = files.map(f => Files.readAllBytes(f.toPath))
    var records: Seq[MarcRecord] = Nil
    val decode = Spans.timed("sources.iso2709_decode")(nsPerItem(1) {
      records = bytes.toSeq.flatMap(b => Iso2709.decodeAll(b))
    }) / records.size
    val extractors = DemoSpecs.map(MarcExtractor(_))
    val extract = Spans.timed("marc.extract")(nsPerItem(records.size) {
      records.foreach(r => extractors.foreach(e => sink += e.extract(r).size))
    })

    val texts = spark.read.parquet(s"$work/corpus/day0").select("text").as[String].collect()
      .map(UTF8String.fromString)
    val html = spark.read.parquet(s"$work/corpus/delta_0").select("text").as[String].collect()
    val nfc = NormalizeTextExpression(Literal(null), stripControls = true)
    val minhash = MinhashBandsExpression(Literal(null), bands = 32, rowsPerBand = 3, shingleN = 3, seed = 42)
    Map(
      "sources.iso2709_decode_ns_per_record" -> decode,
      "marc.extract_ns_per_record" -> extract,
      "functions.nfc_ns_per_doc" -> Spans.timed("functions.nfc")(nsPerItem(texts.length) {
        texts.foreach(t => sink += nfc.evalChild(t).hashCode)
      }),
      "functions.minhash_ns_per_doc" -> Spans.timed("functions.minhash")(nsPerItem(texts.length) {
        texts.foreach(t => sink += minhash.evalChild(t).hashCode)
      }),
      "functions.html_text_ns_per_doc" -> Spans.timed("functions.html_text")(nsPerItem(html.length) {
        html.foreach(h => sink += HtmlTextExpression.extract(h).length)
      }))
  }

  /** Seconds to build `df` and materialise it through the noop sink (graft's
    * ops run eager jobs while they build), and its row count. */
  private def materialise(name: String, df: => DataFrame): (Double, Long) = {
    val obs = Observation(name)
    val t0 = System.nanoTime()
    Spans.timed(name)(df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save())
    ((System.nanoTime() - t0) / 1e9, obs.get("rows").asInstanceOf[Long])
  }

  /** Each public op alone on the day-0 corpus: one warm-up execution, then
    * one timed execution. */
  def ops(spark: SparkSession, work: String): Map[String, Double] = {
    val docs = spark.read.parquet(s"$work/corpus/day0").select("doc_id", "text", "lang")
    val bench = spark.read.parquet(s"$work/corpus/heldout")
    val inRows = docs.count()
    val cases = Seq[(String, () => DataFrame)](
      "ops.exact_dedup" -> (() => Dedup.exactDedup(docs, TextAnalysis.fingerprintMd5(col("text")), col("doc_id"))),
      "ops.near_dup" -> (() => Dedup.nearDupDedup(docs, "doc_id", "text", 0.8)),
      "ops.decontam" -> (() => Dedup.scrubContamination(docs, bench, "doc_id", "text")),
      "ops.quality" -> (() => docs.filter(TextAnalysis.qualityScore(col("text")) >= 0.3)))
    var kept = 0L
    val times = cases.map { case (name, build) =>
      materialise(name, build())
      val (seconds, rows) = materialise(name, build())
      kept += rows
      s"${name}_s" -> seconds
    }.toMap

    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.8).count()
    val sigDir = s"$work/probe/signatures"
    Dedup.signatures(docs, "doc_id", "text").write.mode("overwrite").parquet(sigDir)
    val sigs = spark.read.parquet(sigDir)
    val delta = spark.read.parquet(s"$work/corpus/delta_0")
      .select(col("doc_id"), TextAnalysis.htmlToText(col("text")).as("text"), col("lang"))
    def against() = Dedup.dedupAgainstSignatures(delta, sigs, docs.select("doc_id", "text"), "doc_id", "text")
    materialise("ops.dedup_against", against())
    val againstS = materialise("ops.dedup_against", against())._1
    times ++ Map(
      "ops.near_dup_pairs" -> pairs.toDouble,
      "ops.rows_kept_ratio" -> kept.toDouble / (inRows * cases.size),
      "ops.dedup_against_s" -> againstS)
  }

  /** Time inside each `SparkEntry.queries(name)` call on the day-0
    * corpus, and the Spark jobs it starts; the first call also loads the
    * documents table into the session's memo, as the first query of a
    * registry pass does. */
  def queries(spark: SparkSession, work: String, tracer: Tracer): Map[String, Double] = {
    val dir = s"$work/corpus/day0"
    var seconds = 0.0
    var jobs = 0
    DocQueries.foreach { name =>
      val t0 = System.nanoTime()
      val df = Spans.timed(s"queries.construct")(graft.SparkEntry.queries(name)(spark, dir))
      val t1 = System.nanoTime()
      jobs += tracer.jobsBetween(t0, t1)
      seconds += (t1 - t0) / 1e9
      Spans.timed("exec")(df.write.format("noop").mode("overwrite").save())
    }
    Map("queries.construct_s" -> seconds, "queries.construct_jobs" -> jobs.toDouble)
  }
}
