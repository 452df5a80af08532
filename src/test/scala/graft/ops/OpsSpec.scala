package graft.ops

import graft.{QueryProfile, SparkSpec, Tables}
import org.apache.spark.sql.graftbridge.{FrameScope, ListenerBridge}
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {

  test("shingles and jaccard row-level match column-level") {
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "the quick brown fox jumps over the lazy dog zzz"
    val ra = Dedup.shingles(a)
    val rb = Dedup.shingles(b)
    val rowJ = Dedup.jaccard(ra, rb)
    import spark.implicits._
    val colJ = Seq((a, b)).toDF("a", "b")
      .select(Dedup.jaccardCol(Dedup.shingleCol(col("a")), Dedup.shingleCol(col("b"))))
      .head().getDouble(0)
    assert(math.abs(rowJ - colJ) < 1e-12)
    assert(rowJ == 7.0 / 8.0) // 7 shared of 8 union (9-word doc: 7 vs 8 shingles)
    // both-empty is undefined (0/0): fails loudly rather than yielding a
    // NaN that silently fails every >= threshold comparison
    intercept[IllegalArgumentException](Dedup.jaccard(Set.empty, Set.empty))
    assert(Dedup.jaccard(Set("a"), Set.empty) == 0.0)
  }

  test("shingle/jaccard kernels match their column formulations on fuzzed texts") {
    import org.apache.spark.sql.Column
    // the built-in formulations the kernels replaced, kept as the oracle
    def shingleOracle(text: Column, n: Int): Column = {
      val words = split(text, " ", 0)
      val grams = transform(
        sequence(lit(0), greatest(size(words) - n, lit(0))),
        i => array_join(slice(words, i + 1, lit(n)), " "))
      array_distinct(when(size(words) < n, array(text)).otherwise(grams))
    }
    def jaccardOracle(a: Column, b: Column): Column =
      size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)).cast("double")

    val rnd = new scala.util.Random(29)
    val vocab = Seq("a", "b", "cc", "ddd", "", "é中")
    val texts = Seq("", " ", "one", "one two", "a  b") ++
      Seq.fill(120)(Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) =>
      (t, texts((i + 7) % texts.length))
    }.toDF("a", "b")
    val rows = df.select(
        Dedup.shingleCol(col("a")).as("k_sh"), shingleOracle(col("a"), 3).as("o_sh"),
        Dedup.jaccardCol(Dedup.shingleCol(col("a")), Dedup.shingleCol(col("b"))).as("k_j"),
        jaccardOracle(shingleOracle(col("a"), 3), shingleOracle(col("b"), 3)).as("o_j"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"shingle mismatch: $r")
      val (kj, oj) = (r.getDouble(2), r.getDouble(3))
      assert(kj == oj || (kj.isNaN && oj.isNaN), s"jaccard mismatch: $r")
    }
  }

  test("minhash LSH finds planted near-dups with exact verification") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfSmoke).select("doc_id", "text")
    val planted = docs.unionByName(docs.select((col("doc_id") + 1000L).as("doc_id"),
      concat(col("text"), lit(" zzz")).as("text")))
    val pairs = Dedup.minhashNearDupPairs(planted, "doc_id", "text").collect()
    val plantedPairs = pairs.filter(r => r.getLong(1) == r.getLong(0) + 1000L)
    val nDocs = docs.count()
    assert(plantedPairs.length == nDocs, s"found ${plantedPairs.length} of $nDocs planted pairs")
    assert(pairs.forall(_.getDouble(2) >= 0.8))
  }

  test("minhash modular hash family is exact (no Long overflow)") {
    val p = BigInt(2).pow(61) - 1
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 2000) {
      val a = (BigInt(rnd.nextLong()).abs mod p).toLong max 1L
      val h = rnd.nextInt().toLong & 0xffffffffL
      val b = (BigInt(rnd.nextLong()).abs mod p).toLong
      val want = ((BigInt(a) * BigInt(h) + BigInt(b)) mod p).toLong
      val got = Dedup.mulAddModP(a, h, b)
      assert(got == want, s"a=$a h=$h b=$b")
      assert(got >= 0)
    }
  }

  test("MinhashBandsExpression band hashes equal minhashSignature over shingles") {
    import graft.functions.MinhashBandsExpression
    import org.apache.spark.unsafe.types.UTF8String
    import scala.util.hashing.MurmurHash3
    val (bands, rows, n, seed) = (32, 3, 3, 42)
    val expr = MinhashBandsExpression(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), bands, rows, n, seed)
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "short text",
      "one",
      "repeat repeat repeat repeat repeat repeat",
      "trailing spaces here   ",
      "a b c d e f g h i j k l m n o p q r s t u v w x y z")
    for (t <- texts) {
      val sig = Dedup.minhashSignature(Dedup.shingles(t, n), bands * rows, seed)
      val expected = (0 until bands).map(b =>
        MurmurHash3.arrayHash(java.util.Arrays.copyOfRange(sig, b * rows, (b + 1) * rows)))
      val got = expr.evalChild(UTF8String.fromString(t))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray().toSeq
      assert(got == expected, s"kernel/composition divergence on '$t'")
    }
    assert(expr.evalChild(null) == null)
  }

  test("SimhashExpression kernel equals Dedup.simhash; bit_count equals hamming") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val texts = Seq("the quick brown fox", "x", "", "repeat repeat repeat",
      "trailing   spaces", "unicode λ ü ß text") ++
      (1 to 20).map(_ => (1 to rnd.nextInt(30) + 1)
        .map(_ => ('a' + rnd.nextInt(5)).toChar.toString * (rnd.nextInt(3) + 1))
        .mkString(" "))
    val got = texts.toDF("text")
      .select(graft.functions.SimhashExpression.simhash64(col("text")))
      .as[Long].collect().toSeq
    assert(got == texts.map(Dedup.simhash), "kernel/scala simhash divergence")
    // null text → null, not NPE
    val nulls = Seq[Option[String]](None).toDF("text")
      .select(graft.functions.SimhashExpression.simhash64(col("text")))
      .collect()
    assert(nulls(0).isNullAt(0))
    // hamming as bit_count(a ^ b)
    for (_ <- 1 to 500) {
      val (a, b) = (rnd.nextLong(), rnd.nextLong())
      val ham = Seq((a, b)).toDF("a", "b")
        .select(bit_count(col("a").bitwiseXOR(col("b")))).collect()(0).getInt(0)
      assert(ham == Dedup.hamming(a, b))
    }
  }

  test("simhash chunking covers the full signature at maxDistance 0") {
    import spark.implicits._
    // (1L << 64) - 1 is 0 under JVM shift semantics: an unmasked chunk
    // would put EVERY row in one bucket (all-pairs join). chunks=1 must
    // key buckets by the whole signature.
    val sig = 0x123456789abcdef0L
    val cv = Seq(sig).toDF("sig")
      .select(Dedup.simhashChunkCols(col("sig"), maxDistance = 0): _*)
      .collect()(0).getLong(0)
    assert(cv == sig, f"chunk value $cv%x must be the full signature")
    // and at maxDistance 3 the four 16-bit chunks reassemble the signature
    val cs = Seq(sig).toDF("sig")
      .select(Dedup.simhashChunkCols(col("sig"), maxDistance = 3): _*)
      .collect()(0)
    val reassembled = (0 until 4).map(i => cs.getLong(i) << (i * 16)).reduce(_ | _)
    assert(reassembled == sig)
    // no UDF anywhere in the d04-shaped plan
    val docs = (1L to 50L).map(i => (i, s"doc number $i words ${i * 3}")).toDF("doc_id", "text")
    val plan = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDistance = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("udf"), s"UDF survives in simhash plan:\n$plan")
  }

  test("minhash near-dup survives a degenerate corpus of 10k identical docs") {
    import spark.implicits._
    // 10,000 identical documents + distinct decoys: without the exact-text
    // collapse every band bucket would hold all 10k rows (a quadratic cell)
    val same = (1L to 10000L).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
    val decoys = (20001L to 20003L).map(i => (i, s"totally different text number $i with words ${i * 7}"))
    val df = (same ++ decoys).toDF("doc_id", "text").repartition(8)
    val pairs = Dedup.minhashNearDupPairs(df, "doc_id", "text")
    val n = pairs.count()
    val expected = 10000L * 9999L / 2
    assert(n == expected, s"expected all $expected identical pairs, got $n")
    assert(pairs.filter(col("id_a") >= 20000L).count() == 0, "decoys must not pair")
    assert(pairs.filter(col("jaccard") =!= 1.0).count() == 0)
  }

  test("simhash: identical texts distance 0, different texts far") {
    val s1 = Dedup.simhash("the quick brown fox")
    assert(Dedup.hamming(s1, Dedup.simhash("the quick brown fox")) == 0)
    assert(Dedup.hamming(s1, Dedup.simhash("completely unrelated words entirely")) > 10)
  }

  test("winnowing fingerprint is stable and near-dup tolerant") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val f1 = TextAnalysis.winnow(t)
    assert(f1 == TextAnalysis.winnow(t))
    val f2 = TextAnalysis.winnow(t + " x")
    val overlap = f1.intersect(f2).size.toDouble / f1.union(f2).size
    assert(overlap > 0.7, s"winnow overlap $overlap")
    assert(f1.intersect(TextAnalysis.winnow("zzz yyy xxx www vvv uuu")).isEmpty)
  }

  test("LSH ANN retrieves high-similarity neighbours (planted copies)") {
    // Sign-LSH recall is a function of cosine: for random unrelated vectors
    // (top-1 cos ≈ 0.37 in this table) buckets rarely collide — that's the
    // design tradeoff, not a bug. The machinery test plants exact copies
    // (cos = 1 ⇒ identical signatures in every table ⇒ guaranteed collision)
    // and requires the original to come back as top-1.
    val emb = Tables.embeddings(spark, sfSmoke)
    val queries = emb.limit(32).select((col("vec_id") + 10000L).as("vec_id"),
      col("embedding"), col("label"))
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val hits = (0 until 32).count(i => approx.get(10000L + i).contains(i.toLong))
    assert(hits == 32, s"planted-copy top-1 recall: $hits/32")
  }

  test("IVF ANN recalls noisy planted near-duplicates") {
    // query = v + 0.05 * reverse(v): cosine to its source >= 0.99, so the
    // true top-1 is the source; IVF with nprobe=4 must find nearly all
    val emb = Tables.embeddings(spark, sfSmoke).limit(64)
    val queries = emb.select((col("vec_id") + 5000L).as("vec_id"),
      zip_with(col("embedding").cast("array<double>"),
        reverse(col("embedding").cast("array<double>")),
        (a, b) => a + lit(0.05) * b).as("embedding"))
    val corpus = Tables.embeddings(spark, sfSmoke)
    val got = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
        k = 1, nprobe = 4)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = got.count { case (q, n) => n == q - 5000L }
    assert(hits >= 58, s"IVF recall too low: $hits/64")
  }

  test("IVF auto-nlist: recall holds with corpus-derived cell counts") {
    // ivfTopKAuto picks nlist = √n (22 cells for this 500-vector corpus);
    // finer cells must not lose the 0.99-cosine planted near-dups
    val emb = Tables.embeddings(spark, sfSmoke)
    val queries = emb.limit(48).select((col("vec_id") + 8000L).as("vec_id"),
      zip_with(col("embedding").cast("array<double>"),
        reverse(col("embedding").cast("array<double>")),
        (a, b) => a + lit(0.05) * b).as("embedding"))
    val got = Similarity.ivfTopKAuto(emb, queries, "vec_id", "embedding",
        k = 1, nprobe = 4)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = got.count { case (q, n) => n == q - 8000L }
    assert(hits >= 44, s"auto-nlist IVF recall too low: $hits/48")
  }

  test("quantized ANN: noisy planted near-duplicates re-rank to their source") {
    // the int8 sweep must rank the ~0.999-cosine source into the overfetch
    // window and the exact re-rank must then pick it as top-1
    val emb = Tables.embeddings(spark, sfSmoke)
    val queries = emb.limit(48).select((col("vec_id") + 7000L).as("vec_id"),
      zip_with(col("embedding").cast("array<double>"),
        reverse(col("embedding").cast("array<double>")),
        (a, b) => a + lit(0.05) * b).as("embedding"))
    val got = Similarity.quantizedTopK(emb, queries, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = got.count { case (q, n) => n == q - 7000L }
    assert(hits == 48, s"quantized top-1 recall: $hits/48")
  }

  test("PQ ANN: planted exact copies are recovered; noisy near-dups re-rank") {
    val emb = Tables.embeddings(spark, sfSmoke)
    // exact copies: identical vectors encode to identical codes, so the
    // ADC sweep scores the source maximally among candidates and the
    // exact re-rank pins cosine 1.0
    val copies = emb.limit(32).select((col("vec_id") + 9000L).as("vec_id"),
      col("embedding"))
    val exact = Similarity.pqTopK(emb, copies, "vec_id", "embedding", k = 1,
        m = 8, ksub = 32)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactHits = exact.count { case (q, n) => n == q - 9000L }
    assert(exactHits == 32, s"PQ exact-copy recall: $exactHits/32")
    // noisy near-dups (~0.999 cosine): overfetch + exact re-rank recovers
    val noisy = emb.limit(48).select((col("vec_id") + 9500L).as("vec_id"),
      zip_with(col("embedding").cast("array<double>"),
        reverse(col("embedding").cast("array<double>")),
        (a, b) => a + lit(0.05) * b).as("embedding"))
    val got = Similarity.pqTopK(emb, noisy, "vec_id", "embedding", k = 1,
        m = 8, ksub = 32)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = got.count { case (q, n) => n == q - 9500L }
    assert(hits >= 44, s"PQ noisy top-1 recall: $hits/48")
  }

  test("PQ kernels: encode/LUT/ADC agree with a scala reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val dim = 20 // NOT divisible by m=6: exercises uneven subspace bounds
    val vecs = Seq.fill(40)(Seq.fill(dim)(rnd.nextGaussian()))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val cbs = Similarity.trainPqCodebooks(df, "embedding", m = 6, ksub = 7,
      iters = 3, sampleSize = 40, seed = 1)
    val bounds = graft.functions.PqExpressions.subBounds(dim, 6)
    def encodeRef(v: Seq[Double]): Seq[Int] = (0 until 6).map { s =>
      val sub = v.slice(bounds(s), bounds(s + 1))
      cbs(s).zipWithIndex.minBy { case (c, j) =>
        (sub.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, j)
      }._2
    }
    val enc = df.select(col("vec_id"),
        graft.functions.PqExpressions.pqEncode(col("embedding"), cbs).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1).map(_ & 0xFF)).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      assert(enc(i.toLong) == encodeRef(v), s"encode diverges on vec $i")
    }
    // ADC(q, codes(c)) == sum of q·centroid over c's assigned centroids
    val kmax = cbs.map(_.length).max
    val q = vecs.head
    val adc = df.select(col("vec_id"),
        graft.functions.PqExpressions.pqAdc(
          graft.functions.PqExpressions.pqEncode(col("embedding"), cbs),
          graft.functions.PqExpressions.pqLut(typedlit(q), cbs), kmax).as("adc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      val want = encodeRef(v).zipWithIndex.map { case (code, s) =>
        q.slice(bounds(s), bounds(s + 1)).zip(cbs(s)(code))
          .map { case (a, b) => a * b }.sum
      }.sum
      assert(math.abs(adc(i.toLong) - want) < 1e-9, s"ADC diverges on vec $i")
    }
  }

  test("int8 dot kernel is exact vs a BigInt reference on fuzzed vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // Seq[Byte], not Array[Byte]: the latter encodes as BINARY
    val rows = Seq.fill(200)((
      Seq.fill(64)((rnd.nextInt(255) - 127).toByte),
      Seq.fill(64)((rnd.nextInt(255) - 127).toByte)))
    val got = rows.toDF("a", "b")
      .select(graft.functions.GraftFunctions.dotInt8(col("a"), col("b")))
      .collect().map(_.getLong(0))
    rows.zip(got).foreach { case ((a, b), g) =>
      val want = a.zip(b).map { case (x, y) => x.toLong * y }.sum
      assert(g == want)
    }
  }

  test("contamination flags benchmark members and only genuine 8-gram sharers") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, base),                       // benchmark member
      (2L, s"prefix words here $base"), // shares all of base's 8-grams
      (3L, "completely different text with no overlapping phrases at all today"),
      (4L, base.split(" ").take(7).mkString(" ")) // only 7 words: no 8-gram
    ).toDF("doc_id", "text")
    val bench = docs.filter(col("doc_id") === 1L)
    val got = Dedup.contamination(docs, bench, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(1L, 2L), got.toString)
    assert(got(1L) == 5L) // 12 words -> 5 distinct 8-grams
    assert(got(2L) == 5L)
  }

  test("ngram document frequency counts distinct docs per n-gram") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"), (2L, "a b d"), (3L, "a b a b"), (4L, "x y z"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramDocFreq(docs, "text", n = 2, minDocs = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // "a b" appears in docs 1,2,3 (once each despite repetition in 3)
    assert(got == Map("a b" -> 3L), got.toString)
  }

  test("cosine near-dup pairs finds planted duplicate vectors") {
    val emb = Tables.embeddings(spark, sfSmoke).limit(100)
    val dupped = emb.unionByName(
      emb.select((col("vec_id") + 10000L).as("vec_id"), col("embedding"), col("label")))
    val pairs = Similarity.cosineNearDupPairs(dupped, "vec_id", "embedding",
      threshold = 0.999)
    val found = pairs.filter(col("id_b") === col("id_a") + 10000L).count()
    assert(found == 100, s"found $found of 100 planted identical vectors")
  }

  test("media header decoder: PNG, JPEG (both EXIF byte orders), GIF, garbage") {
    import graft.functions.{MediaHeader, MediaInfo}
    def hx(s: String): Array[Byte] =
      s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // PNG 640x480, bit depth 8
    val png = hx("89504E470D0A1A0A 0000000D 49484452 00000280 000001E0 08 06 000000")
    assert(MediaHeader.decode(png) == MediaInfo("png", 640, 480, -1, 8))
    // JPEG: APP1 EXIF (big-endian TIFF, orientation 6) + SOF0 480x640
    val jpegBE = hx("FFD8 FFE10022 457869660000 4D4D002A00000008" +
      " 0001 0112 0003 00000001 00060000 00000000" +
      " FFC00011 08 01E0 0280 03 011100 021101 031101 FFD9")
    assert(MediaHeader.decode(jpegBE) == MediaInfo("jpeg", 640, 480, 6, 8))
    // same EXIF in little-endian (II) byte order, orientation 3; SOF2
    val jpegLE = hx("FFD8 FFE10022 457869660000 49492A0008000000" +
      " 0100 1201 0300 01000000 03000000 00000000" +
      " FFC20011 08 01E0 0280 03 011100 021101 031101 FFD9")
    assert(MediaHeader.decode(jpegLE) == MediaInfo("jpeg", 640, 480, 3, 8))
    // JPEG with no EXIF: dimensions still decode, orientation absent
    val plain = hx("FFD8 FFC00011 08 0010 0020 03 011100 021101 031101 FFD9")
    assert(MediaHeader.decode(plain) == MediaInfo("jpeg", 32, 16, -1, 8))
    // GIF89a 100x50
    val gif = hx("474946383961 6400 3200 F7 00 00")
    assert(MediaHeader.decode(gif) == MediaInfo("gif", 100, 50, -1, 8))
    // totality: null, empty, truncated magic, desynced marker stream
    assert(MediaHeader.decode(null) == MediaHeader.Unknown)
    assert(MediaHeader.decode(Array.empty[Byte]) == MediaHeader.Unknown)
    assert(MediaHeader.decode(hx("89504E47")) == MediaHeader.Unknown)
    assert(MediaHeader.decode(hx("FFD8 0000 FFC0 0011 08")) ==
      MediaInfo("jpeg", -1, -1, -1, -1))
    // truncated SOF segment: claimed length exceeds the payload
    assert(MediaHeader.decode(hx("FFD8 FFC0FFFF 08")) ==
      MediaInfo("jpeg", -1, -1, -1, -1))
    // EXIF with a hostile IFD offset pointing outside the segment
    val evil = hx("FFD8 FFE10010 457869660000 4D4D002A 7FFFFFFF FFD9")
    assert(MediaHeader.decode(evil).orientation == -1)

    // the partition-batched DataFrame surface
    import spark.implicits._
    val df = Seq((1L, png), (2L, jpegBE), (3L, Array.empty[Byte]))
      .toDF("media_id", "payload")
    val out = Multimodal.decodeHeaders(df, "media_id", "payload")
      .orderBy("media_id")
      .as[(Long, String, Int, Int, Int, Int)].collect().toSeq
    assert(out == Seq((1L, "png", 640, 480, -1, 8),
      (2L, "jpeg", 640, 480, 6, 8), (3L, "unknown", -1, -1, -1, -1)))
  }

  test("binary SimHash: kernel == driver reference; near-dup finds byte-patched payloads") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // kernel vs driver reference on fuzzed payloads (incl. degenerate)
    val payloads = Seq(Array.empty[Byte], Array[Byte](1), Array[Byte](1, 2, 3)) ++
      Seq.fill(60)(Array.fill(rnd.nextInt(600))(rnd.nextInt(256).toByte))
    val kernelSigs = payloads.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("id", "p")
      .select(col("id"),
        graft.functions.BinarySimhashExpression.binarySimhash64(col("p"), 4))
      .orderBy("id").collect().map(_.getLong(1))
    payloads.zip(kernelSigs).foreach { case (p, sig) =>
      assert(sig == Dedup.binarySimhash(p, 4), "kernel diverges from reference")
    }
    // null totality
    assert(Seq(Option.empty[Array[Byte]]).toDF("p")
      .select(graft.functions.BinarySimhashExpression.binarySimhash64(col("p")))
      .head().isNullAt(0))
    // near-dup: 40 originals (4 KiB random), each with a 1-byte patch at
    // id+100 — large payload => counters far from zero => tiny hamming;
    // the banding must recover every planted pair (maxDistance=7: a one-
    // byte patch perturbs each bit counter by at most ±8, so a handful
    // of near-zero counters can flip) and distinct random payloads must
    // NOT pair (independent signatures sit at hamming ~32)
    val base = (0 until 40).map(i =>
      (i.toLong, Array.fill(4096)(rnd.nextInt(256).toByte)))
    val patched = base.map { case (i, p) =>
      val q = p.clone(); q(2048) = (q(2048) ^ 0x55).toByte; (i + 100L, q)
    }
    val all = (base ++ patched).toDF("media_id", "payload")
    val pairs = Multimodal.binaryNearDupPairs(all, "media_id", "payload",
        maxDistance = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == base.map { case (i, _) => (i, i + 100L) }.toSet,
      s"expected exactly the 40 planted pairs, got ${pairs.size}")
  }

  test("nearDupDedupBy: best score survives, ties break to min id, null ranks lowest") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma"
    val docs = Seq(
      (1L, base),                 // cluster A: shortest
      (2L, base + " tail"),       // cluster A: longest -> survives
      (3L, base + " tail"),       // cluster A: tie with 2 -> 2 wins (min id)
      (10L, "completely different content about rivers and mountains and weather patterns today")
    ).toDF("doc_id", "text")
    val kept = Dedup.nearDupDedupBy(docs, "doc_id", "text",
        size(split(col("text"), " ")), threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 10L), s"got $kept")
    // min-id election for comparison keeps 1
    val minId = Dedup.nearDupDedup(docs, "doc_id", "text", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(minId == Set(1L, 10L))
    // all-null scores degrade to the min-id election, never keep-all
    val keptNull = Dedup.nearDupDedupBy(docs, "doc_id", "text",
        lit(null).cast("int"), threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(keptNull == Set(1L, 10L), s"got $keptNull")
  }

  test("edgesOnly edge set: identical components to the full pair set, linear in duplication factor") {
    import spark.implicits._
    // the 100×-replicated-corpus shape scaled down: every text occurs
    // k=20 times (k-clique in the full pair graph), plus a near-dup
    // bridge between two text families — the cross-group expansion case
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma"
    val k = 20
    val docs = (
      (0 until k).map(i => (100L + i, base)) ++            // family A: k copies
      (0 until k).map(i => (200L + i, base + " tail")) ++  // family B: k near-dups of A
      Seq((300L, "unrelated content about rivers and mountains and weather patterns"))
    ).toDF("doc_id", "text")
    def comps(edgesOnly: Boolean): Map[Long, Long] = FrameScope(spark) { s =>
      val pairs = Dedup.minhashNearDupPairsImpl(s, docs, "doc_id",
        "text", 0.5, 32, 3, 3, 10000, edgesOnly = edgesOnly)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select("id", "component").as[(Long, Long)].collect().toMap
    }
    val full = comps(edgesOnly = false)
    val star = comps(edgesOnly = true)
    assert(star == full, "edgesOnly must yield the SAME component labeling")
    assert(full.keySet == ((100L until 100L + k) ++ (200L until 200L + k)).toSet)
    // and the edge COUNT is linear, not quadratic: full ≥ 2·C(k,2), star
    // ≤ 2(k-1) + rep-level cross pairs
    def edges(edgesOnly: Boolean): Long = FrameScope(spark) { s =>
      Dedup.minhashNearDupPairsImpl(s, docs, "doc_id",
        "text", 0.5, 32, 3, 3, 10000, edgesOnly = edgesOnly).count()
    }
    val nFull = edges(edgesOnly = false); val nStar = edges(edgesOnly = true)
    assert(nFull >= 2L * k * (k - 1) / 2, s"full pair set should be quadratic: $nFull")
    assert(nStar <= 2L * (k - 1) + 4, s"star edge set must stay linear: $nStar")
  }

  test("mm06 plant constants: exact distances 1..8; banding recalls at d, cuts at d-1") {
    import spark.implicits._
    // the offline-chosen (tools/PlantSearch) pairs baked into the mm06
    // oracle: class k must sit at kernel SimHash distance exactly k
    val plants = Seq(
      (1, "graft plant payload 1", "graft plant payload 167"),
      (2, "graft plant payload 1", "graft plant payload 130"),
      (3, "graft plant payload 0", "graft plant payload 6"),
      (4, "graft plant payload 0", "graft plant payload 166"),
      (5, "graft plant payload 0", "graft plant payload 7"),
      (6, "graft plant payload 0", "graft plant payload 1"),
      (7, "graft plant payload 0", "graft plant payload 8"),
      (8, "graft plant payload 0", "graft plant payload 2"))
    for ((d, a, b) <- plants)
      assert(java.lang.Long.bitCount(
        Dedup.binarySimhash(a.getBytes("UTF-8"), 4) ^
          Dedup.binarySimhash(b.getBytes("UTF-8"), 4)) == d,
        s"plant class $d drifted — regenerate with tools/PlantSearch")
    // pigeonhole banding recall is exact at the threshold boundary: the
    // distance-d pair IS found at maxDistance=d and NOT at d-1 (a
    // banding bug that under-recalls at distance >= 1, or a threshold
    // filter bug, fails one of the two directions)
    for ((d, a, b) <- plants) {
      val df = Seq((1L, a.getBytes("UTF-8")), (2L, b.getBytes("UTF-8")))
        .toDF("id", "payload")
      def found(maxD: Int): Boolean =
        Multimodal.binaryNearDupPairs(df, "id", "payload", maxDistance = maxD)
          .count() == 1
      assert(found(d), s"distance-$d pair must be recalled at maxDistance=$d")
      assert(!found(d - 1),
        s"distance-$d pair must be cut at maxDistance=${d - 1}")
    }
  }

  test("mm07 pixel plants: constructed dHash distances; byte path provably blind; jpeg re-encode hashes equal") {
    import spark.implicits._
    import graft.functions.ImageDHashExpression
    import graft.queries.PixelPlants
    // constructed distances: the dHash of variant k differs from base
    // in exactly k bits, across byte-DISJOINT encodes (PNG vs BMP)
    for (k <- 0 to 8) {
      val (a, b) = PixelPlants.pair(k)
      val (sa, sb) = (ImageDHashExpression.dhash(a), ImageDHashExpression.dhash(b))
      assert(sa.isDefined && sb.isDefined)
      assert(java.lang.Long.bitCount(sa.get ^ sb.get) == k,
        s"pixel plant class $k drifted")
      // the byte-level signature CANNOT see this pair: the two encodes
      // share almost no byte n-grams even at k=0 (identical pixels)
      val byteD = java.lang.Long.bitCount(
        Dedup.binarySimhash(a, 4) ^ Dedup.binarySimhash(b, 4))
      assert(byteD > 7, s"class $k: byte distance $byteD should exceed 7")
    }
    // the lossy JPEG re-encode of the 175-margin checkerboard hashes
    // IDENTICALLY (codec noise cannot flip a 175-luma comparison)
    val (ja, jb) = PixelPlants.pair(9)
    assert(ImageDHashExpression.dhash(ja) == ImageDHashExpression.dhash(jb))
    // banding recall at the threshold boundary, through the operator
    for (k <- Seq(1, 7, 8)) {
      val (a, b) = PixelPlants.pair(k)
      val df = Seq((1L, a), (2L, b)).toDF("id", "payload")
      def found(maxD: Int): Boolean =
        Multimodal.pixelNearDupPairs(df, "id", "payload", maxDistance = maxD)
          .count() == 1
      assert(found(k), s"distance-$k pair must be recalled at maxDistance=$k")
      assert(!found(k - 1), s"distance-$k pair must be cut at maxDistance=${k - 1}")
    }
    // totality: garbage and truncated payloads hash to null and never pair
    val junk = Seq((1L, "not an image".getBytes("UTF-8")),
      (2L, PixelPlants.png(PixelPlants.baseGrid).take(10)),
      (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    assert(Multimodal.pixelNearDupPairs(junk, "id", "payload").count() == 0)
    val sigs = junk.select(ImageDHashExpression.imageDHash(col("payload"))).collect()
    assert(sigs.forall(_.isNullAt(0)))
    // the magic prefilter must not narrow the decodable set — every
    // plant encode (PNG, BMP, lossy JPEG) passes it (the Some() results
    // above prove it transitively); printable text is rejected before
    // any reader probing
    assert(ImageDHashExpression.maybeImage(ja) &&
      ImageDHashExpression.maybeImage(jb))
    assert(!ImageDHashExpression.maybeImage("not an image".getBytes("UTF-8")))
  }

  test("salted join equals plain join on a skewed key distribution") {
    import spark.implicits._
    // 90% of rows share one hot key
    val large = (1 to 2000).map(i => (if (i % 10 == 0) s"k$i" else "HOT", i))
      .toDF("k", "v")
    val small = Seq(("HOT", "hot-dim"), ("k10", "ten"), ("k20", "twenty"))
      .toDF("k", "name")
    val plain = large.join(small, "k").select("k", "v", "name")
    val salted = Skew.saltedJoin(large, small, "k", salts = 8)
      .select("k", "v", "name")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("salted collect_set equals plain collect_set per key") {
    import spark.implicits._
    val df = (1 to 1000).map(i => ("HOT", s"v${i % 37}")).toDF("k", "v")
      .unionByName(Seq(("cold", "x")).toDF("k", "v"))
    val got = Skew.saltedCollectSet(df, "k", "v", salts = 8)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    assert(got("HOT") === (0 until 37).map(i => s"v$i").toSet)
    assert(got("cold") === Set("x"))
  }

  test("int8 quantization round-trips within scale/2 per element") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(0.5, -1.0, 0.25, 0.0)),
      (2L, Seq(127.0, -127.0, 1.0, -1.0)),
      (3L, Seq(0.0, 0.0, 0.0, 0.0))).toDF("id", "v")
    val out = vecs.select(col("id"), col("v"),
        Similarity.dequantizeInt8(Similarity.quantizeInt8(col("v"))).as("dq"),
        Similarity.quantizeInt8(col("v")).getField("q").as("q"))
      .orderBy("id").collect()
    // max-magnitude element maps to ±127 exactly
    assert(out(0).getSeq[Byte](3) == Seq[Byte](64, -127, 32, 0))
    assert(out(1).getSeq[Byte](3) == Seq[Byte](127, -127, 1, -1))
    assert(out(2).getSeq[Byte](3) == Seq[Byte](0, 0, 0, 0))
    for (r <- out) {
      val v = r.getSeq[Double](1)
      val dq = r.getSeq[Double](2)
      val scale = v.map(math.abs).max / 127.0
      v.zip(dq).foreach { case (x, y) =>
        assert(math.abs(x - y) <= scale / 2 + 1e-12, s"error too large: $x vs $y")
      }
    }
  }

  test("components and nearDupDedup are total on a corpus with no near-dups") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty, "id_a", "id_b").count() == 0)
    val distinctDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "red orange yellow green blue indigo")).toDF("doc_id", "text")
    val out = Dedup.nearDupDedup(distinctDocs, "doc_id", "text")
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("quantize kernel matches the HOF formulation bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1L to 200L).map { i =>
      (i, Seq.fill(16)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(6) - 2)))
    } ++ Seq(
      (900L, Seq(0.0, 0.0, 0.0)),            // zero vector -> scale 0, q zeros
      (901L, Seq(2.0)),                      // single element -> exactly 127
      (902L, Seq(-0.5, 1.0)),                // negative half-way: -63.5 -> HALF_UP
      (903L, Seq(0.25, 0.5, 0.75, -1.0)),    // exact .25/.5/.75 grid
      (904L, Seq.empty[Double]))             // empty array
    val df = rows.toDF("id", "v")
      .unionByName(Seq(905L).toDF("id")      // null element mid-array
        .selectExpr("id", "array(1.0, cast(null as double), -2.0) as v"))
      .unionByName(Seq(907L).toDF("id")      // null VECTOR -> struct(null, null)
        .selectExpr("id", "cast(null as array<double>) as v"))
    val both = df.select(col("id"),
        Similarity.quantizeInt8(col("v")).as("k"),
        Similarity.quantizeInt8Hof(col("v")).as("h"))
      .orderBy("id").collect()
    for (r <- both) {
      val (k, h) = (r.getStruct(1), r.getStruct(2))
      assert(k.get(0) == h.get(0), s"scale diverges for id=${r.getLong(0)}: $k vs $h")
      assert(k.get(1) == h.get(1), s"q diverges for id=${r.getLong(0)}: $k vs $h")
    }
    // totality where the HOF throws: ANSI cast of a NaN scaled value kills
    // the HOF plan; the kernel quantizes it to 0 with a NaN scale flag
    val nan = Seq(906L).toDF("id")
      .selectExpr("id", "array(1.0, cast('NaN' as double)) as v")
    intercept[Exception] {
      nan.select(Similarity.quantizeInt8Hof(col("v"))).collect()
    }
    val kq = nan.select(Similarity.quantizeInt8(col("v")).as("k"))
      .select(col("k.scale"), col("k.q")).collect()(0)
    assert(kq.getDouble(0).isNaN && kq.getSeq[Byte](1) == Seq[Byte](0, 0))
  }

  test("shuffleIndex equals the naive global-sort rank for any group count") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 500L).toDF("id")
    val naive = df
      .withColumn("h", md5(concat(col("id").cast("string"), lit("graft"))))
      .withColumn("position",
        row_number().over(Window.orderBy(col("h"), col("id"))).cast("long") - 1)
      .select("id", "position").as[(Long, Long)].collect().toSet
    for (g <- Seq(1, 3, 16, 1000)) {
      val got = Sampling.shuffleIndex(df, col("id"), numGroups = g)
        .select("id", "position").as[(Long, Long)].collect().toSet
      assert(got == naive, s"numGroups=$g diverges")
    }
    // a permutation: positions are exactly 0..n-1
    assert(naive.map(_._2) == (0L until 500L).toSet)
    // total on empty input
    assert(Sampling.shuffleIndex(df.limit(0), col("id")).count() == 0)
    // null keys have no position: loud error, not an NPE or silent drop
    val withNull = df.selectExpr("CASE WHEN id = 7 THEN NULL ELSE id END AS id")
    val e = intercept[IllegalArgumentException] {
      Sampling.shuffleIndex(withNull, col("id")).count()
    }
    assert(e.getMessage.contains("non-null keys"))
  }

  test("shuffleIndex validatePermutation: deterministic inputs pass, nondeterministic fail loudly") {
    import spark.implicits._
    val df = (1L to 300L).toDF("id")
    assert(Sampling.shuffleIndex(df, col("id"),
      validatePermutation = true).count() == 300)
    // an input that CHANGES between the count job and the rank job — the
    // documented contract violation (".sample without a seed, files
    // changing mid-run"): keys from a nondeterministic udf re-evaluate
    // differently per job, so group counts and window ranks disagree
    val rng = udf(() => scala.util.Random.nextDouble().toString)
      .asNondeterministic()
    val unstable = df.withColumn("k", rng())
    val e = intercept[IllegalArgumentException] {
      Sampling.shuffleIndex(unstable, col("k"),
        validatePermutation = true).count()
    }
    assert(e.getMessage.contains("not a permutation") &&
      e.getMessage.contains("determinism"), e.getMessage)
    // an empty input validates clean (no NPE on the null min/max aggregates)
    assert(Sampling.shuffleIndex(df.limit(0), col("id"),
      validatePermutation = true).count() == 0)
  }

  test("globalOrdinal equals the naive global row_number for any partition count") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // skewed scores with ties (tie-break on id makes the order total)
    val df = (1L to 400L).map(i => (i, (i % 7).toDouble)).toDF("id", "score")
    val naive = df.withColumn("pos",
        row_number().over(Window.orderBy(col("score").desc, col("id"))).cast("long"))
      .select("id", "pos").as[(Long, Long)].collect().toSet
    for (p <- Seq(1, 3, 16, 100)) {
      val got = Sampling.globalOrdinal(df,
          Seq(col("score").desc, col("id")), "pos", numParts = p)
        .select("id", "pos").as[(Long, Long)].collect().toSet
      assert(got == naive, s"numParts=$p diverges")
    }
    // exactly 1..n — a ranking, no gaps or duplicates
    assert(naive.map(_._2) == (1L to 400L).toSet)
    // total on empty input
    assert(Sampling.globalOrdinal(df.limit(0),
      Seq(col("score").desc, col("id")), "pos").count() == 0)
  }

  test("globalOrdinal is consistent across its two jobs on a large tie block") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // regression: range bounds are SAMPLED with a per-evaluation seed (it
    // folds in the RDD id), so without the internal localCheckpoint the
    // count job and rank job could draw different boundaries — every
    // position after the first divergent bound then shifts. A big run of
    // exactly-equal scores (the d11 pagerank shape: all leaf nodes share
    // one rank) makes any boundary drift visible as a block shift.
    val df = (1L to 3000L).map(i => (i, if (i <= 25) i.toDouble else 0.5))
      .toDF("id", "score").repartition(7)
    val naive = df.withColumn("pos",
        row_number().over(Window.orderBy(col("score").desc, col("id"))).cast("long"))
      .select("id", "pos").as[(Long, Long)].collect().toMap
    val got = Sampling.globalOrdinal(df,
        Seq(col("score").desc, col("id")), "pos", numParts = 5)
      .select("id", "pos").as[(Long, Long)].collect().toMap
    assert(got == naive)
  }

  test("globalOrdinal validateTotalOrder warns on duplicated order values, silent on total orders") {
    import spark.implicits._
    def captureErr(body: => Unit): String = {
      val bos = new java.io.ByteArrayOutputStream()
      val old = System.err
      System.setErr(new java.io.PrintStream(bos, true, "UTF-8"))
      try body finally System.setErr(old)
      bos.toString("UTF-8")
    }
    // ties everywhere: the order spec (score only, no tie-break) is NOT
    // total — ordinals among ties are input-order-dependent
    val tied = (1L to 2000L).map(i => (i, 1.0)).toDF("id", "score")
    val warn = captureErr {
      Sampling.globalOrdinal(tied, Seq(col("score")), "pos",
        numParts = 5, validateTotalOrder = true).count()
    }
    assert(warn.contains("WARNING globalOrdinal"),
      s"straddling tie must warn, got: '$warn'")
    // with the unique tie-break the same data is silent
    val quiet = captureErr {
      Sampling.globalOrdinal(tied, Seq(col("score"), col("id")), "pos",
        numParts = 5, validateTotalOrder = true).count()
    }
    assert(!quiet.contains("WARNING globalOrdinal"),
      s"total order must not warn, got: '$quiet'")
  }

  /** Driver-side reference for [[Dedup.minhashNearDupPairs]]: every
    * (a < b) pair whose exact shingle Jaccard reaches `threshold`, with
    * the operator's 4-digit HALF_UP rounding. Exact for corpora whose
    * near-dups sit far above the LSH detection curve and whose other
    * pairs share no shingle. */
  private def referencePairs(docs: Seq[(Long, String)],
                             threshold: Double): Set[(Long, Long, Double)] = {
    val sh = docs.map { case (id, t) => id -> Dedup.shingles(t) }
    (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      j = Dedup.jaccard(sa, sb) if j >= threshold
    } yield (a, b, BigDecimal(j).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
  }

  test("minhash pairs match the exact-Jaccard reference at three duplication levels") {
    // The persisted signatures and checkpointed candidates must emit
    // exactly the reference pair set whether the corpus has no exact
    // duplicates, a few, or mostly duplicates — the identical-text
    // collapse and the member expansion both run on every level. Texts
    // of different `i` share no token, so every reference pair is a
    // planted copy (Jaccard 1.0) or near-copy (one extra token, far
    // above the 32x3 banding's detection curve).
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def corpus(copiesOf: Int => Int): Seq[(Long, String)] = {
      val texts = (1 to 120).flatMap { i =>
        val words = Seq.fill(25)(s"w${i}_${rnd.nextInt(40)}").mkString(" ")
        // a planted near-copy (one extra token) + exact copies
        (words + " tail") +: Seq.fill(copiesOf(i))(words)
      }
      texts.zipWithIndex.map { case (t, ix) => (ix.toLong, t) }
    }
    val shapes = Seq(
      "none (ratio 1.0)" -> corpus(_ => 1),
      "low (ratio ~1.05)" -> corpus(i => if (i % 10 == 0) 2 else 1),
      "high (ratio ~2.5)" -> corpus(_ => 4))
    for ((label, docs) <- shapes) {
      val df = docs.toDF("doc_id", "text").localCheckpoint(true)
      val got = Dedup.minhashNearDupPairs(df, "doc_id", "text", threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val expected = referencePairs(docs, 0.5)
      assert(expected.nonEmpty, s"$label: pin corpus must produce pairs")
      assert(got == expected, s"$label: pair set must equal the reference " +
        s"(missing ${(expected -- got).take(5)}, extra ${(got -- expected).take(5)})")
    }
  }

  test("minhash pairs match the exact reference with bounded source reads") {
    val dir = java.nio.file.Files.createTempDirectory("mhmat").toString
    val rnd = new scala.util.Random(5)
    import spark.implicits._
    val docs = (1L to 150L).flatMap { i =>
      val words = Seq.fill(30)(s"w${i}_${rnd.nextInt(50)}").mkString(" ")
      // every doc has a planted near-copy at id+1000 (one extra token)
      Seq((i, words), (i + 1000L, words + " tail"))
    }
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val onDisk = spark.read.parquet(dir)
    val expected = referencePairs(docs, 0.5)
    try {
      val (got, profile) = QueryProfile.run(spark, "minhash-reads")(
          Dedup.minhashNearDupPairs(onDisk, "doc_id", "text", threshold = 0.5))(
        _.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
      val recs = profile.inputRecords
      assert(expected.nonEmpty)
      assert(got == expected, "pipeline must emit the reference pairs")
      // 2 text scans (signature build + candidate-only shingle verify =
      // 600 records) + the candidate checkpoint's cache-block reads
      // (bounded by the pair count; RDD cache reads count toward
      // recordsRead, InMemoryRelation reads do not)
      assert(recs <= 2 * 300 + 4 * expected.size,
        s"minhash read $recs records " +
          s"(expected ~${2 * 300} + candidate cache)")
    } finally spark.catalog.clearCache()
  }

  test("minhash never shuffles text when distinct texts exceed the broadcast cap") {
    // The rep filter must never be a text-side join: with more distinct
    // texts than MaxBroadcastCandidatePairs and auto-broadcast off, a
    // semi-join of the text scan against the rep ids would shuffle
    // document bodies. Only the candidate-id semi-join may touch text,
    // and it broadcasts while the candidate count is within the cap.
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // 2.5x exact duplication: per base text 4 exact copies + 1 near-copy
    val docs = (1 to 200).flatMap { i =>
      val words = Seq.fill(25)(s"w${i}_${rnd.nextInt(40)}").mkString(" ")
      Seq.fill(4)(words) :+ (words + " tail")
    }.zipWithIndex.map { case (t, ix) => (ix.toLong, t) }
      .toDF("doc_id", "text").localCheckpoint(true)
    // candidate pairs as the operator counts them: distinct rep pairs
    // sharing any (band, bhash) bucket
    val reps = docs.groupBy("text").agg(min(col("doc_id")).as("id"))
    val nDistinct = reps.count()
    val b = reps.select(col("id"), posexplode(
      graft.functions.MinhashBandsExpression.minhashBands(col("text"), 32, 3, 3))
      .as(Seq("band", "bhash")))
    val nCand = b.as("x").join(b.as("y"), col("x.band") === col("y.band") &&
        col("x.bhash") === col("y.bhash") && col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id")).distinct().count()
    assert(nCand > 0 && nCand < nDistinct,
      s"pin corpus needs candidates ($nCand) below distinct texts ($nDistinct)")

    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = {
      val here = p match { case e: ShuffleExchangeExec => Seq(e); case _ => Nil }
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
        case other => other.children ++ other.subqueries
      }
      here ++ inner.flatMap(shuffles)
    }
    val textShuffles = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val executions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
        executions.incrementAndGet()
        shuffles(qe.executedPlan).filter(_.output.exists(_.name == "text"))
          .foreach(e => textShuffles.add(s"$fn:\n${e.treeString}"))
      }
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val savedConf = thresholds.map(k => k -> spark.conf.getOption(k))
    val savedLimit = Dedup.MaxBroadcastCandidatePairs
    try {
      thresholds.foreach(spark.conf.set(_, "-1"))
      Dedup.MaxBroadcastCandidatePairs = (nCand + nDistinct) / 2
      spark.listenerManager.register(listener)
      val n = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5)
        .count()
      ListenerBridge.drain(spark.sparkContext)
      assert(n > 0, "pin corpus must produce pairs")
      assert(executions.get() > 0, "listener saw no executions")
      assert(textShuffles.isEmpty,
        s"document text crossed a shuffle:\n${textShuffles.toArray.mkString("\n")}")
    } finally {
      spark.listenerManager.unregister(listener)
      Dedup.MaxBroadcastCandidatePairs = savedLimit
      savedConf.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("dedup family DEFAULT plans: listener-measured source-read multipliers pinned") {
    // The r10 lesson: plan-leaf counts overstate IO (ReusedExchange) and
    // shape audits can't see recomputation — ground truth is task-metric
    // records read divided by table rows. r10 measured d02=7, d12=11,
    // d13=8; r11's shared-narrow-projection + one-leaf-attach cut them
    // to 6 / 7 / 3; r12 makes the persisted-signature shape the DEFAULT,
    // pinning d02 at 2 source scans (+ bounded candidate-cache reads),
    // d13 at 1, d12 at 1x batch + 3x prior. A regression above these
    // budgets means a consumer stopped sharing its subtree — fix the
    // plan, don't bump the number.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("scanpin").toString
    val rnd = new scala.util.Random(11)
    val docs = (1L to 200L).flatMap { i =>
      val words = Seq.fill(30)(s"w${i}_${rnd.nextInt(50)}").mkString(" ")
      Seq((i, words), (i + 5000L, words + " tail bit"))
    }.toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(dir)
    val onDisk = spark.read.parquet(dir)
    val nRows = onDisk.count()
    def measured(f: => org.apache.spark.sql.DataFrame): (Long, Long) = {
      val (n, profile) = QueryProfile.run(spark, "source-reads")(f)(_.count())
      (profile.inputRecords, n)
    }
    val (d02Reads, d02n) =
      measured(Dedup.minhashNearDupPairs(onDisk, "doc_id", "text", 0.5))
    assert(d02n > 0, "pin data must produce near-dup pairs")
    // the r12 default: 2 source scans (signature build + candidate-only
    // shingle verify) + the candidate checkpoint's cache-block reads
    // (bounded by the pair count — RDD cache reads count toward
    // recordsRead; the persisted signature frame's InMemoryRelation
    // reads do not). The r11 default read 6x.
    assert(d02Reads <= 2 * nRows + 4 * d02n,
      s"d02 default read ${d02Reads} records for $nRows rows " +
        "(budget 2x source + candidate cache)")
    val (d04Reads, d04n) =
      measured(Dedup.simhashNearDupPairs(onDisk, "doc_id", "text", 7))
    assert(d04n > 0)
    // r18: the identical-signature collapse materializes a distinct-sig
    // group frame behind a GC-reclaimable lazy checkpoint (the d13
    // shape). Text still leaves the source exactly once (the kernel
    // scan that builds the groups); checkpoint BLOCK reads count
    // toward recordsRead, one per consumer — the chunk self-join
    // (both sides share one repartition exchange), the two member-list
    // attachments, the within-group expansion.
    assert(d04Reads <= 4 * nRows,
      s"d04 default read ${d04Reads} records for $nRows rows (budget: " +
        "1 kernel source scan + 3 group-checkpoint block reads)")
    val (d13Reads, d13n) =
      measured(Dedup.winnowNearDupPairs(onDisk, "doc_id", "text", 0.6))
    assert(d13n > 0)
    // r16: the fingerprint barrier moved from a CacheManager persist
    // to a GC-reclaimable lazy checkpoint (pushdown + residue, see
    // winnowNearDupPairs). InMemoryRelation reads were invisible to
    // recordsRead; checkpoint BLOCK reads count — so the budget is
    // 1 source scan (the construction-time count that builds the
    // barrier) + one block read per consumer (hot-count, the reused
    // self-join exchange, the pair re-attachment join). Text still
    // leaves the source exactly once.
    assert(d13Reads <= 4 * nRows,
      s"d13 default read ${d13Reads} records for $nRows rows " +
        "(budget: 1 kernel-pass source scan + 3 checkpoint-block reads)")
    // d12 reads its two sides from separate stores (the production
    // shape); the r12 default persists the increment-sized batch
    // narrow, so budget = 1x the batch + 3x the prior (was 4+3)
    val priorDir = java.nio.file.Files.createTempDirectory("scanpin-p").toString
    val batchDir = java.nio.file.Files.createTempDirectory("scanpin-b").toString
    onDisk.filter(col("doc_id") <= 5000L)
      .write.mode("overwrite").parquet(priorDir)
    onDisk.filter(col("doc_id") > 5000L)
      .write.mode("overwrite").parquet(batchDir)
    val prior = spark.read.parquet(priorDir)
    val batch = spark.read.parquet(batchDir)
    val half = nRows / 2
    val (d12Reads, d12n) =
      measured(Dedup.dedupAgainst(batch, prior, "doc_id", "text", 0.95))
    assert(d12n > 0, "pin data must keep some batch rows")
    // 2x batch = 1 narrow-feature build (persisted, eagerly counted)
    // + the final full-row fetch of the kept batch rows; 3x prior
    // (fp/bands/sh consumers — the corpus side is deliberately never
    // cached); + d12n survivor-id CACHE-BLOCK reads (r16: the
    // self-releasing default eagerly checkpoints the id-sized keep
    // set, and RDD cache reads count toward recordsRead — the price
    // of freeing the batch-narrow persist deterministically)
    assert(d12Reads <= (2 + 3) * half + half / 4 + d12n,
      s"d12 default read ${d12Reads} records for $half-row sides, " +
        s"$d12n kept (budget 2x batch + 3x prior + kept ids + slack)")
    // survivor election: its overhead over the min-id election must be
    // ONE extra source scan (the score projection — the component
    // repartition collapses both election consumers onto one exchange)
    // plus bounded cache-block reads; the absolute numbers are
    // dominated by the components fixpoint's cache traffic on both
    // paths, so the DELTA is the meaningful pin
    val (minIdReads, _) =
      measured(Dedup.nearDupDedup(onDisk, "doc_id", "text", 0.5))
    val (electReads, electN) = measured(Dedup.nearDupDedupBy(
      onDisk, "doc_id", "text", size(split(col("text"), " ")), 0.5))
    assert(electN > 0)
    assert(electReads <= minIdReads + 4 * nRows,
      s"election read ${electReads} vs min-id ${minIdReads} " +
        "(budget: +1 score scan + cache reads)")
    // signature-table path: prior TEXT read once (verify only); the
    // other prior-side reads hit the ~1-2%-sized signature table
    val sigDir = java.nio.file.Files.createTempDirectory("scanpin-s").toString
    Dedup.signatures(prior, "doc_id", "text")
      .write.mode("overwrite").parquet(sigDir)
    val sigs = spark.read.parquet(sigDir)
    val (sigReads, _) = measured(
      Dedup.dedupAgainstSignatures(batch, sigs, prior, "doc_id", "text", 0.95))
    // SOURCE scans are 2x batch text (persisted narrow build + final
    // full-row fetch) + 1x prior text + 2x sig table; the 4*half
    // allowance is CACHE-block traffic, which also counts toward
    // recordsRead: the candidate checkpoint is read by its
    // broadcast-gating count, the verify join, and the standing-text
    // semi filter, and r16's self-releasing survivor-id checkpoint is
    // read by the final fetch (candidates/keeps ≈ one per batch row
    // here). Cache reads scale with CANDIDATES, never the corpus — a
    // failure past this budget means a SOURCE subtree stopped sharing.
    assert(sigReads <= (2 + 1 + 2) * half + 4 * half,
      s"d12-signatures read ${sigReads} records for $half-row sides " +
        "(budget 2x batch text + 1x prior text + 2x signature table " +
        "+ candidate/keep-set cache reads)")
  }

  test("d19 bloom prefilter: prior-side shuffle volume stays batch-sized") {
    import spark.implicits._
    // 10x prior:batch ratio — the d19 sf1 class the prefilter targets
    val rnd = new scala.util.Random(23)
    def words(i: Long) = Seq.fill(25)(s"p${i}_${rnd.nextInt(60)}").mkString(" ")
    val prior = (1L to 2000L).map(i => (i, words(i))).toDF("doc_id", "text")
    val batchRows = (1L to 100L).map(i => (i + 8000L, words(i + 4000L))) ++
      (1L to 100L).map(i => (i + 9000L, words(i))) // 100 novel + 100 dup-ish
    val batch = batchRows.toDF("doc_id", "text")
    // NOTE: words() draws fresh randoms per call, so "dup-ish" rows are
    // novel text too — plant REAL dups by reusing prior rows directly
    val dups = prior.filter(col("doc_id") <= 100L)
      .select((col("doc_id") + 9000L).as("doc_id"), col("text"))
    val fullBatch = batch.filter(col("doc_id") <= 8100L).unionByName(dups)
    val sigs = Dedup.signatures(prior, "doc_id", "text")

    val (keep, profile) = QueryProfile.run(spark, "d19-shuffle")(
        Dedup.dedupAgainstSignatures(fullBatch, sigs, prior, "doc_id", "text", 0.9))(
      _.select("doc_id").as[Long].collect().toSet)
    val recs = profile.shuffleWriteRecords
    assert(keep == (8001L to 8100L).toSet,
      s"planted exact dups must drop, novel rows survive: $keep")
    // Unfiltered, every distinct prior fingerprint crosses the
    // fingerprint-distinct exchange at least once (partial aggregation
    // dedups within a map task, never across), so the whole call's
    // shuffle stream is at least that many records. The prefilter
    // dismisses prior rows INSIDE the scan: only the 100 planted
    // matches plus ~1% false positives remain, and the stream must
    // stay under half that unfiltered floor. (The band join broadcasts
    // the batch side at this size, so prior band rows reach no
    // exchange either way.)
    val unfilteredFloor = sigs.select("fp").distinct().count()
    assert(recs * 2 <= unfilteredFloor,
      s"bloom prefilter let $recs shuffle records through; an " +
        s"unfiltered plan writes at least $unfilteredFloor")
  }

  test("epochUpsample edges: explicit zero weight drops; pure-fraction weight subsamples") {
    import spark.implicits._
    val docs = (1L to 2000L).map(i =>
      (i, if (i % 2 == 0) "keep" else "drop")).toDF("doc_id", "lang")
    val out = Sampling.epochUpsample(docs, col("doc_id"), col("lang"),
      Map("keep" -> 0.4, "drop" -> 0.0))
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byLang.contains("drop"), "weight 0.0 must drop the group")
    // 1000 keep docs at 0.4 -> ~400 single copies, never more than 1
    assert(math.abs(byLang("keep") - 400L) < 80, byLang.toString)
    assert(out.groupBy("doc_id").count().collect().forall(_.getLong(1) == 1L))
    // 'copy' reserved-name guard fires loudly
    val clash = docs.withColumn("copy", lit(1))
    val e = intercept[IllegalArgumentException] {
      Sampling.epochUpsample(clash, col("doc_id"), col("lang"),
        Map("keep" -> 1.0))
    }
    assert(e.getMessage.contains("copy"))
  }

  test("winnow and incremental dedup find exactly the planted copies") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val docs = (1L to 80L).flatMap { i =>
      val words = Seq.fill(25)(s"v${i}_${rnd.nextInt(40)}").mkString(" ")
      Seq((i, words), (i + 500L, words))
    }.toDF("doc_id", "text")
    try {
      // at overlap 1.0 the only pairs are the planted (i, i+500) copies:
      // texts of different i share no token
      val w = Dedup.winnowNearDupPairs(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(w == (1L to 80L).map(i => (i, i + 500L)).toSet,
        s"winnow must find exactly the planted copies, got ${w.size} pairs")
      val prior = docs.filter(col("doc_id") <= 500L)
      val batch = docs.filter(col("doc_id") > 500L)
      // the production signature-table path returns the identical keep
      // set: exact/band stages read signatures(prior), text only verifies.
      // Mixed-outcome batch: exact copies (drop), near copies (drop via
      // band+verify), genuinely novel reversed docs (keep)
      val mixed = batch.withColumn("text",
        when(col("doc_id") % 3 === 0,
          array_join(reverse(split(col("text"), " ")), " "))
          .when(col("doc_id") % 3 === 1, concat(col("text"), lit(" zz")))
          .otherwise(col("text")))
      val sigs = Dedup.signatures(prior, "doc_id", "text")
      val t0 = Dedup.dedupAgainst(mixed, prior, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      val t1 = Dedup.dedupAgainstSignatures(mixed, sigs, prior,
          "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      assert(t1 == t0, "signature path must match the text path")
      assert(t0 == (501L to 580L).filter(_ % 3 == 0).toSet,
        s"only the reversed (novel) rows may survive: kept $t0")
      // broadcast-fallback pin: above MaxBroadcastCandidatePairs the
      // verify semi-joins drop their broadcast hint (the dup-heavy
      // driver-OOM hazard) — keep sets and pair sets must not change
      val savedLimit = Dedup.MaxBroadcastCandidatePairs
      try {
        Dedup.MaxBroadcastCandidatePairs = 0L
        val t2 = Dedup.dedupAgainstSignatures(mixed, sigs, prior,
            "doc_id", "text")
          .select("doc_id").as[Long].collect().toSet
        assert(t2 == t0, "shuffled-semi fallback must match broadcast path")
        val p2 = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.5)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        Dedup.MaxBroadcastCandidatePairs = savedLimit
        val p1 = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.5)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        assert(p2.nonEmpty && p2 == p1,
          "minhash pair set must be hint-invariant")
      } finally Dedup.MaxBroadcastCandidatePairs = savedLimit
      // schema mismatch surfaces as a guard, not silence
      intercept[IllegalArgumentException] {
        Dedup.dedupAgainstSignatures(batch, sigs.drop("fp"), prior,
          "doc_id", "text")
      }
      // parameter mismatch too: the table stamps its build parameters
      // into the bands column metadata (parquet-persistent), and a
      // consumer with different bands/rows/shingleN fails loudly instead
      // of silently generating zero candidates
      val sigDir = java.nio.file.Files
        .createTempDirectory("sigmeta").toString
      Dedup.signatures(prior, "doc_id", "text", bands = 16, rowsPerBand = 4)
        .write.mode("overwrite").parquet(sigDir)
      val reread = spark.read.parquet(sigDir)
      val e = intercept[IllegalArgumentException] {
        Dedup.dedupAgainstSignatures(batch, reread, prior, "doc_id", "text")
      }
      assert(e.getMessage.contains("bands=16"), e.getMessage)
      // matching parameters pass through the metadata check
      assert(Dedup.dedupAgainstSignatures(batch, reread, prior,
        "doc_id", "text", bands = 16, rowsPerBand = 4).count() >= 0)
    } finally spark.catalog.clearCache()
  }

  test("epochUpsample: expected copies per group, partition-invariant, exact integers repeat") {
    import spark.implicits._
    val docs = (1L to 4000L).map(i =>
      (i, Seq("en", "es", "de", "fr")((i % 4).toInt))).toDF("doc_id", "lang")
    val w = Map("en" -> 2.3, "es" -> 1.0, "de" -> 0.4) // fr dropped
    val up = Sampling.epochUpsample(docs, col("doc_id"), col("lang"), w)
    val byLang = up.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 1000 docs per lang: en ~2300, es = exactly 1000, de ~400, fr absent
    assert(byLang("es") == 1000L, s"integer weight must be exact: $byLang")
    assert(!byLang.contains("fr"), "absent group must be dropped")
    assert(math.abs(byLang("en") - 2300L) < 150, s"en ${byLang("en")}")
    assert(math.abs(byLang("de") - 400L) < 100, s"de ${byLang("de")}")
    // every en doc appears at least floor(2.3)=2 times, copies numbered 1..n
    val enCounts = up.filter(col("lang") === "en").groupBy("doc_id").count()
      .collect().map(_.getLong(1))
    assert(enCounts.forall(c => c == 2L || c == 3L))
    // partition invariance: identical multiset at any layout
    val a = up.select("doc_id", "copy").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Sampling.epochUpsample(docs.repartition(13), col("doc_id"),
        col("lang"), w)
      .select("doc_id", "copy").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    // no shuffle: one narrow map + explode
    assert(!up.queryExecution.executedPlan.toString.contains("Exchange"),
      "upsampling must not shuffle")
  }

  test("exactDedupAnti equals the window exactDedup and keeps min ids") {
    import spark.implicits._
    val df = Seq(
      (1L, "aaa"), (5L, "aaa"), (3L, "aaa"),
      (2L, "bbb"), (4L, "ccc"), (6L, "ccc")).toDF("doc_id", "text")
    val anti = Dedup.exactDedupAnti(df, col("text"), "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val win = Dedup.exactDedup(df, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(anti == Set(1L, 2L, 4L) && anti == win)
  }

  test("connectedComponents rejects non-numeric ids loudly") {
    import spark.implicits._
    val pairs = Seq(("id1", "id5"), ("id5", "id3")).toDF("id_a", "id_b")
    val e = intercept[Exception] {
      Dedup.connectedComponents(pairs, "id_a", "id_b").count()
    }
    // ANSI sessions throw on the malformed decimal cast itself; the
    // labelSum require covers non-ANSI sessions where the cast nulls out
    // (silent fake convergence otherwise). Either way: loud, never wrong.
    assert(e.getMessage.contains("numeric node ids") ||
      e.getMessage.contains("CAST_INVALID_INPUT"))
  }

  test("linear classifier scores: weight table, unknown-token zero, exact means") {
    import spark.implicits._
    val docs = Seq(
      (1L, "good good bad"),
      (2L, "unknown words only"),
      (3L, "good")).toDF("doc_id", "text")
    // exactly-representable weights -> exact expected means
    val weights = Seq(("good", 0.5), ("bad", -0.25)).toDF("token", "weight")
    val got = TextAnalysis.linearScoreWithWeights(docs, "doc_id", "text", weights)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      (1L, 3L, 0.25),  // (0.5 + 0.5 - 0.25) / 3
      (2L, 3L, 0.0),   // all unknown
      (3L, 1L, 0.5)))
    // broadcast of the vocabulary, no shuffle of it
    val plan = TextAnalysis.linearScoreWithWeights(docs, "doc_id", "text", weights)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("linear classifier scores are total on null-text documents") {
    import spark.implicits._
    val docs = Seq((1L, Some("good bad")), (2L, None), (3L, Some("good")))
      .toDF("doc_id", "text")
    val weights = Seq(("good", 0.5), ("bad", -0.25)).toDF("token", "weight")
    // null-text docs must appear as (id, 0 tokens, null score), not vanish
    val real = TextAnalysis.linearScoreWithWeights(docs, "doc_id", "text", weights)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(real.toSeq == Seq(
      (1L, 2L, Some(0.125)), (2L, 0L, None), (3L, 1L, Some(0.5))))
    val hashed = TextAnalysis.hashedLinearScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2)))
    assert(hashed.map(_._1).toSeq == Seq(1L, 2L, 3L), "a document vanished")
    assert(hashed(1) == ((2L, 0L, true)))
  }

  test("PII scrub replaces emails, phones, and IPs with typed tags") {
    import spark.implicits._
    val rows = Seq(
      "mail a.b+c@sub.example.org now",
      "call 555-123-4567 or 555.987.6543",
      "host 192.168.1.254 up",
      "clean text, no pii at all",
      "v1.2 not an ip; user@host misses the tld dot only if invalid@x").toDF("text")
      .select(TextAnalysis.scrubPii(col("text"))).as[String].collect()
    assert(rows(0) == "mail <EMAIL> now")
    assert(rows(1) == "call <PHONE> or <PHONE>")
    assert(rows(2) == "host <IP> up")
    assert(rows(3) == "clean text, no pii at all")
  }

  test("deterministic sampling is reproducible, partition-independent, and ~fraction-sized") {
    import spark.implicits._
    val ids = (1L to 10000L).toDF("id")
    val s1 = Sampling.deterministicSample(ids, col("id"), 0.1)
      .as[Long].collect().sorted.toSeq
    // same rows regardless of partitioning (no RNG state)
    val s2 = Sampling.deterministicSample(ids.repartition(13), col("id"), 0.1)
      .as[Long].collect().sorted.toSeq
    assert(s1 == s2)
    assert(s1.size > 800 && s1.size < 1200, s"got ${s1.size} of ~1000")
    // disjoint fractions nest: a 5% sample is a subset of the 10% sample
    val s05 = Sampling.deterministicSample(ids, col("id"), 0.05)
      .as[Long].collect().toSet
    assert(s05.subsetOf(s1.toSet))
    // stratified: per-stratum fractions honored, unlisted strata dropped,
    // and each stratum's sample is the plain sample restricted to it
    val strat = Seq.tabulate(10000)(i => (i.toLong, if (i % 2 == 0) "en" else "es"))
      .toDF("id", "lang")
    val ss = Sampling.stratifiedSample(strat, col("id"), col("lang"),
      Map("en" -> 0.1, "es" -> 0.0))
    val kept = ss.select("id", "lang").as[(Long, String)].collect()
    assert(kept.forall(_._2 == "en"))
    assert(kept.length > 350 && kept.length < 650, s"got ${kept.length} of ~500")
    assert(kept.map(_._1).toSet.subsetOf(s1.toSet))
    // split assignment covers every row with sane proportions
    val splits = ids.select(Sampling.splitAssign(col("id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("s"))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(splits.keySet == Set("train", "val", "test"))
    assert(splits("train") > 7500 && splits("val") > 700 && splits("test") > 700)
    assert(splits.values.sum == 10000L)
  }

  test("fuzzyDupPairs: blocking, thresholds, and parity with the naive join") {
    import spark.implicits._
    val rows = Seq(
      (1L, "A", "hot gear"),
      (2L, "A", "hot gears"),   // dist 1, same block
      (3L, "A", "cold gear"),   // dist 2 vs "hot gear" ("h->c, +ol"? actually 3)
      (4L, "B", "hot gear"),    // identical text, DIFFERENT block: no pair
      (5L, "A", "completely different"),
      (6L, "A", "hot gear"))    // exact dup of 1, dist 0
      .toDF("id", "blk", "name")
    val got = Dedup.fuzzyDupPairs(rows, "id", "name", Seq("blk"), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // naive reference: unblocked predicate, then restricted to blocks
    val data = rows.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (ia, ba, ta) <- data; (ib, bb, tb) <- data
      if ba == bb && ia < ib
      dd = lev(ta, tb) if dd <= 2
    } yield (ia, ib, dd)).toSet
    assert(got == want)
    assert(got.contains((1L, 2L, 1)) && got.contains((1L, 6L, 0)))
    assert(!got.exists { case (a, b, _) => Set(a, b).contains(4L) })
    // the plan blocks with an equi-join — no cartesian anywhere
    val plan = Dedup.fuzzyDupPairs(rows, "id", "name", Seq("blk"), 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"), plan)

    // degenerate-block cap: a block whose distinct count exceeds
    // maxBlockSize is excluded wholesale (its u-squared cell is the one
    // quadratic job that never finishes at scale); other blocks keep
    // their pairs, and the audit names the dropped key up front
    val degen = (100L to 140L).map(i => (i, "Z", s"name variant $i"))
      .toDF("id", "blk", "name")
    val mixed = rows.unionByName(degen)
    val capped = Dedup.fuzzyDupPairs(mixed, "id", "name", Seq("blk"),
        maxDist = 2, maxBlockSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped == want, "Z-block pairs must drop; A-block pairs intact")
    val audit = Dedup.fuzzyOversizedBlocks(mixed, "name", Seq("blk"),
        maxBlockSize = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(audit.toSeq == Seq(("Z", 41L)))
    // default cap leaves the small corpus untouched
    assert(Dedup.fuzzyOversizedBlocks(mixed, "name", Seq("blk")).count() == 0)
  }

  test("truncated-prefix ANN recalls noisy planted near-duplicates") {
    // prefix scoring is approximate on noisy queries; the overfetch +
    // exact re-rank must still recover nearly every source
    val emb = Tables.embeddings(spark, sfSmoke).limit(64)
    val queries = emb.select((col("vec_id") + 5000L).as("vec_id"),
      zip_with(col("embedding").cast("array<double>"),
        reverse(col("embedding").cast("array<double>")),
        (a, b) => a + lit(0.05) * b).as("embedding"))
    val corpus = Tables.embeddings(spark, sfSmoke)
    val got = Similarity.truncatedTopK(corpus, queries, "vec_id", "embedding",
        k = 1, dims = 16, overfetch = 8)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = got.count { case (q, n) => n == q - 5000L }
    assert(hits >= 58, s"truncated-ANN recall too low: $hits/64")
    // dims >= full dimension degrades to exact brute force
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 1)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Similarity.truncatedTopK(corpus, queries, "vec_id", "embedding",
        k = 1, dims = 4096, overfetch = 1)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == exact)
  }

  test("hardNegatives skips duplicates and returns the closest non-duplicate") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.0, 0.0)),   // exact duplicate of 1
      (3L, Seq(0.9, 0.1, 0.0)),   // near but below the ceiling (cos ≈ 0.994)
      (4L, Seq(0.0, 1.0, 0.0)))   // orthogonal
      .toDF("vec_id", "embedding")
    val q = Seq((100L, Seq(1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    // ceiling 0.99: both the exact copies AND doc 3 (0.994) are "too
    // identical"; the hardest legal negative is the orthogonal doc 4
    val strict = Similarity.hardNegatives(corpus, q, "vec_id", "embedding",
      k = 1, maxCosine = 0.99).collect()
    assert(strict.length == 1 && strict(0).getLong(1) == 4L)
    // ceiling 0.999 admits doc 3 but still excludes the exact duplicates
    val loose = Similarity.hardNegatives(corpus, q, "vec_id", "embedding",
      k = 2, maxCosine = 0.999).collect().map(_.getLong(1)).toSeq
    assert(loose == Seq(3L, 4L))
    // sanity: plain top-k WOULD return a duplicate first
    val plain = Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", 1)
      .collect()(0)
    assert(plain.getDouble(2) == 1.0)
  }

  test("lmBitsScore: reference parity, OOV weighting, null-text totality") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the the the cat"),
      (2L, "cat sat"),
      (3L, "the"),
      (4L, null.asInstanceOf[String]))
    val got = TextAnalysis.lmBitsScore(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // reference model: tokens {the:4, cat:2, sat:1}, total=7, v=3
    def wt(c: Long): Long =
      math.round(-1000.0 * (math.log((c + 1.0) / ((7L + 3L) + 1.0)) / math.log(2.0)))
    val (wThe, wCat, wSat) = (wt(4), wt(2), wt(1))
    assert(got(1L) == ((4L, 3 * wThe + wCat, Some((3 * wThe + wCat) / 4000.0))))
    assert(got(2L) == ((2L, wCat + wSat, Some((wCat + wSat) / 2000.0))))
    assert(got(3L) == ((1L, wThe, Some(wThe / 1000.0))))
    // null text survives as (0 tokens, 0 bits, null score)
    assert(got(4L) == ((0L, 0L, None)))
    // rare tokens cost more bits than common ones
    assert(wSat > wCat && wCat > wThe)
    // capped vocabulary: only 'the' retained, others take the OOV weight
    val capped = TextAnalysis.lmBitsScore(docs.toDF("doc_id", "text"),
        "doc_id", "text", maxVocab = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(capped(2L) == 2 * wt(0))
  }

  test("capPerGroup keeps at most n per group, deterministically, full rows") {
    import spark.implicits._
    val docs = Seq.tabulate(300)(i =>
      (i.toLong, s"g${i % 3}", s"text $i")).toDF("id", "grp", "payload")
    val capped = Sampling.capPerGroup(docs, "grp", "id", 20)
    val rows = capped.collect()
    assert(rows.length == 60)
    // full rows survive with payload intact
    assert(rows.forall(r => r.getString(2) == s"text ${r.getLong(0)}"))
    val byGroup = rows.groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(0)).toSet)
    assert(byGroup.values.forall(_.size == 20))
    // partition-independent (pure function of the key)
    val again = Sampling.capPerGroup(docs.repartition(7), "grp", "id", 20)
      .select("id").as[Long].collect().toSet
    assert(again == rows.map(_.getLong(0)).toSet)
    // matches the window formulation it replaces
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
      .orderBy(substring(md5(concat(col("id").cast("string"), lit("graft"))), 1, 13), col("id"))
    val oracle = docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20).select("id").as[Long].collect().toSet
    assert(rows.map(_.getLong(0)).toSet == oracle)
    // groups under the cap are kept whole
    val small = Sampling.capPerGroup(docs, "grp", "id", 1000).count()
    assert(small == 300)
    // plan shape: bounded aggregate + semi join, never a window sort
    val plan = capped.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"capPerGroup must not window-sort:\n$plan")
    assert(plan.contains("LeftSemi"), plan)
  }

  test("capPerGroup: cross-group key reuse, bad keys fail loudly, null groups") {
    import spark.implicits._
    // the same key value in EVERY group: survivors must re-attach on
    // (group, key), so each group still caps at n — a key kept in group
    // A must not re-admit the same key's row in group B past B's cap
    val reused = Seq.tabulate(90)(i =>
      (i.toLong % 30, s"g${i / 30}", s"p$i")).toDF("id", "grp", "payload")
    val capped = Sampling.capPerGroup(reused, "grp", "id", 5)
    val byGroup = capped.collect().groupBy(_.getString(1))
    assert(byGroup.size == 3 && byGroup.values.forall(_.length == 5))
    // and each group's survivors are the hash-order head independently
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
      .orderBy(substring(md5(concat(col("id").cast("string"), lit("graft"))), 1, 13), col("id"))
    val oracle = reused.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).select("grp", "id").as[(String, Long)].collect().toSet
    assert(byGroup.toSeq.flatMap { case (g, rs) =>
      rs.map(r => (g, r.getLong(0))) }.toSet == oracle)
    // a null group is a group like any other, not silently dropped
    val nullG = Seq((1L, null: String, "a"), (2L, null: String, "b"), (3L, "g", "c"))
      .toDF("id", "grp", "payload")
    assert(Sampling.capPerGroup(nullG, "grp", "id", 10).count() == 3)
    // non-long-castable key: loud failure, never a silent drop
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).mkString("|")
    // (under ANSI mode the cast itself throws CAST_INVALID_INPUT before
    // our raise_error can — either way the failure is loud)
    val badKey = Seq(("not-a-number", "g", "x")).toDF("id", "grp", "payload")
    val e = intercept[Exception](Sampling.capPerGroup(badKey, "grp", "id", 5).count())
    assert(chain(e).contains("long-castable") ||
      chain(e).contains("CAST_INVALID_INPUT"), chain(e))
    // null key: same loud failure
    val nullKey = Seq((null: java.lang.Long, "g", "x")).toDF("id", "grp", "payload")
    val e2 = intercept[Exception](Sampling.capPerGroup(nullKey, "grp", "id", 5).count())
    assert(chain(e2).contains("long-castable"), chain(e2))
  }

  test("simhashNearDupPairs rejects maxDistance outside [0, 63]") {
    import spark.implicits._
    val docs = Seq((1L, "a b c")).toDF("id", "text")
    // >= 64 would make the chunk width 0 bits → all-pairs cross join
    val e = intercept[IllegalArgumentException](
      Dedup.simhashNearDupPairs(docs, "id", "text", maxDistance = 64))
    assert(e.getMessage.contains("[0, 63]"))
    intercept[IllegalArgumentException](
      Dedup.simhashNearDupPairs(docs, "id", "text", maxDistance = -1))
  }

  test("temperatureMix flattens group shares toward n^alpha, deterministically") {
    import spark.implicits._
    // skewed corpus: en 1600, fr 400, de 100 (sqrt weights 40/20/10)
    val docs = (Seq.fill(1600)("en") ++ Seq.fill(400)("fr") ++ Seq.fill(100)("de"))
      .zipWithIndex.map { case (l, i) => (i.toLong, l) }.toDF("id", "lang")
    val out = Sampling.temperatureMix(docs, col("id"), col("lang"), target = 600)
    val counts = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    // expected kept means: en 600*40/70 = 343, fr 171, de 86 (de's raw
    // share 4.8% rises to ~14%, en's 76% falls to ~57%)
    assert(counts("en") > 270 && counts("en") < 420, counts.toString)
    assert(counts("fr") > 120 && counts("fr") < 230, counts.toString)
    assert(counts("de") > 55 && counts("de") <= 100, counts.toString)
    // partition-independent (pure function of the key)
    val again = Sampling.temperatureMix(docs.repartition(7), col("id"),
        col("lang"), 600).select("id").as[Long].collect().toSet
    assert(again == out.select("id").as[Long].collect().toSet)
    // rates clamp at 1: a huge target keeps the whole corpus
    assert(Sampling.temperatureMix(docs, col("id"), col("lang"),
      1000000L).count() == 2100)
    // null groups dropped; empty input total
    val withNull = docs.withColumn("lang",
      when(col("id") < 10, lit(null)).otherwise(col("lang")))
    assert(Sampling.temperatureMix(withNull, col("id"), col("lang"),
      1000000L).count() == 2090)
    assert(Sampling.temperatureMix(docs.limit(0), col("id"), col("lang"),
      10L).count() == 0)
  }

  test("temperatureMix refuses unbounded group keys with a usable pointer") {
    import spark.implicits._
    // group = the key itself: every row its own group — the web-corpus
    // `group = domain` misuse the guard exists for
    val docs = (1L to 500L).toDF("id")
    val e = intercept[IllegalArgumentException] {
      Sampling.temperatureMix(docs, col("id"), col("id"), target = 100L,
        maxGroups = 200)
    }
    assert(e.getMessage.contains("200") &&
      e.getMessage.contains("heavy-hitters"), e.getMessage)
    // keepByRates guards the literal-chain depth the same way
    val bigRates = (1 to Sampling.MaxMixGroups + 1)
      .map(i => s"g$i" -> 0.5).toMap
    val e2 = intercept[IllegalArgumentException] {
      Sampling.keepByRates(col("id"), col("id"), bigRates)
    }
    assert(e2.getMessage.contains("when-chain"), e2.getMessage)
    // at the boundary it still works
    assert(Sampling.temperatureMix(
      docs.withColumn("g", col("id") % 200), col("id"), col("g"),
      target = 100L, maxGroups = 200).count() > 0)
    // the override can only LOWER the cap (keepByRates' when-chain is the
    // binding constraint): raising past MaxMixGroups is rejected up front
    val e3 = intercept[IllegalArgumentException] {
      Sampling.temperatureMix(docs, col("id"), col("id"), target = 100L,
        maxGroups = Sampling.MaxMixGroups + 1)
    }
    assert(e3.getMessage.contains("maxGroups"), e3.getMessage)
  }

  test("winnow kernel matches the driver function; pairs find planted edits") {
    import spark.implicits._
    val texts = Seq("The quick brown fox jumps over the lazy dog tonight",
      "a b", "", "some  Spaced   text HERE")
    val viaKernel = texts.toDF("t")
      .select(graft.functions.WinnowExpression.winnowCol(col("t")).as("w"))
      .as[Seq[Long]].collect().map(_.toSet)
    val viaDriver = texts.map(t => TextAnalysis.winnow(t))
    viaKernel.zip(viaDriver).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"text $i")
    }
    // a mid-document edit keeps most fingerprints but not all
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val edited = base.replace("epsilon", "EDITED")
    val df = Seq((1L, base), (2L, edited), (3L, base)).toDF("id", "t")
    val pairs = Dedup.winnowNearDupPairs(df, "id", "t", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = pairs.find(p => p._1 == 1L && p._2 == 3L)
    assert(exact.exists(_._3 == 1.0), pairs.mkString(","))
    val near = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(near.exists(p => p._3 > 0.5 && p._3 < 1.0), pairs.mkString(","))
  }

  test("dedupAgainst: drops exact and near matches to prior, keeps novel full rows") {
    import spark.implicits._
    val prior = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),       // exact
      (11L, "one two three four five six seven eight nine ten eleven twelve zzz"), // near
      (12L, "completely different content about spark physical plans here"),   // novel
      (13L, "totally novel second doc with its own vocabulary entirely"))      // novel
      .toDF("doc_id", "text").withColumn("payload", col("doc_id") * 2)
    val out = Dedup.dedupAgainst(batch, prior, "doc_id", "text", threshold = 0.8)
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L, 13L))
    // full rows (extra columns) survive the semi-join
    assert(out.columns.toSeq == Seq("doc_id", "text", "payload"))
    // empty batch and empty prior are total
    assert(Dedup.dedupAgainst(batch.limit(0), prior, "doc_id", "text").count() == 0)
    assert(Dedup.dedupAgainst(batch, prior.limit(0), "doc_id", "text")
      .count() == 4) // nothing to collide with
  }

  test("expectations report: one pass, null predicates count as violations") {
    import spark.implicits._
    import graft.ops.Expectations.{Check, report}
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (5L, "b"),
      (null, "a"), (20L, null)).toDF("x", "s")
    val out = report(df, Seq(
        Check("x_small", col("x") < 10),      // null x -> violation
        Check("s_known", col("s").isin("a", "b")), // null s -> violation
        Check("never", lit(false)),
        Check("always", lit(true))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(
      "x_small" -> (2L, 4L),  // 20 fails, null fails
      "s_known" -> (1L, 4L),  // null s fails
      "never" -> (4L, 4L),
      "always" -> (0L, 4L)))
    // single aggregate pass: exactly one Aggregate pair, no repeated scan
    val plan = report(df, Seq(Check("a", col("x") < 10),
      Check("b", col("s") === "a"))).queryExecution.executedPlan.toString
    assert(!plan.contains("Union"), s"one scan, not one per check:\n$plan")
    intercept[IllegalArgumentException] {
      report(df, Seq(Check("dup", lit(true)), Check("dup", lit(false))))
    }
  }

  test("weightedSample: exact A-Res parity with a driver reference, weight-proportional") {
    import spark.implicits._
    val rows = Seq.tabulate(400)(i => (i.toLong, 1L + (i % 10).toLong * 10L))
    val df = rows.toDF("id", "w")
    def refKeys(salt: String): Map[Long, Double] = rows.map { case (id, w) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id$salt".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      val u = (java.lang.Long.parseLong(md, 16).toDouble + 1.0) / 4503599627370496.0
      id -> math.log(u) / w.toDouble
    }.toMap
    val got = Sampling.weightedSample(df, col("id"), col("w"), k = 60)
      .select("id").as[Long].collect().toSet
    val expect = refKeys("graft").toSeq.sortBy { case (id, k) => (-k, id) }
      .take(60).map(_._1).toSet
    assert(got == expect)
    // partition-independence
    val again = Sampling.weightedSample(df.repartition(13), col("id"),
      col("w"), 60).select("id").as[Long].collect().toSet
    assert(again == got)
    // aggregate weighting across salts: heavy rows (w=91) picked far more
    // often than light ones (w=1)
    val picks = (1 to 20).flatMap(s =>
      Sampling.weightedSample(df, col("id"), col("w"), 60, salt = s"s$s")
        .select("id").as[Long].collect())
    val heavy = picks.count(id => id % 10 == 9)
    val light = picks.count(id => id % 10 == 0)
    assert(heavy > light * 3, s"heavy=$heavy light=$light")
    // zero/null weights are unsampleable; plan is top-k, not global sort
    val withZero = df.withColumn("w", when(col("id") < 390, lit(0L)).otherwise(col("w")))
    val onlyPos = Sampling.weightedSample(withZero, col("id"), col("w"), 60)
      .select("id").as[Long].collect()
    assert(onlyPos.toSet.subsetOf((390L until 400L).toSet) && onlyPos.length == 10)
    val plan = Sampling.weightedSample(df, col("id"), col("w"), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("chunkDocs: stride grid, tail coverage, degenerate totality") {
    import spark.implicits._
    def chunks(text: String, w: Int, ov: Int): Seq[(Long, String)] = {
      val df = Seq((1L, text)).toDF("doc_id", "text")
      TextAnalysis.chunkDocs(df, "doc_id", "text", w, ov)
        .select("chunk_ix", "chunk").as[(Long, String)].collect().toSeq
        .sortBy(_._1)
    }
    // exact grid: 7 tokens, window 3, overlap 1 (stride 2)
    assert(chunks("a b c d e f g", 3, 1).map(_._2) ==
      Seq("a b c", "c d e", "e f g"))
    // orphaned tail gets a partial window
    assert(chunks("a b c d e f g h", 3, 1).map(_._2) ==
      Seq("a b c", "c d e", "e f g", "g h"))
    // doc shorter than one window = one chunk
    assert(chunks("a b", 5, 2).map(_._2) == Seq("a b"))
    // no overlap = disjoint cover that reconstructs the doc
    assert(chunks("a b c d e", 2, 0).map(_._2).mkString(" ") == "a b c d e")
    // empty and whitespace-only texts emit nothing; null text emits nothing
    assert(chunks("", 4, 0).isEmpty && chunks("  ", 4, 0).isEmpty)
    val withNull = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(TextAnalysis.chunkDocs(withNull, "doc_id", "text", 4).count() == 0)
    // property on the real corpus: every token covered, windows bounded
    val docs = Tables.documents(spark, sfSmoke).limit(50)
    val out = TextAnalysis.chunkDocs(docs, "doc_id", "text", 30, 10)
      .groupBy("doc_id")
      .agg(sum(col("n_tokens") - lit(10)).as("covered"), count(lit(1)).as("k"),
        max("n_tokens").as("mx"))
      .collect()
    val nToks = docs.select(col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(3) <= 30, s"doc $id window too big")
      // sum(len - overlap) + overlap >= n  <=>  full coverage
      assert(r.getLong(1) + 10 >= nToks(id), s"doc $id tokens uncovered")
    }
  }

  test("chunkDocs fuzz: grid parity with a driver reference over random shapes") {
    import spark.implicits._
    def refChunks(text: String, w: Int, ov: Int): Seq[(Long, String)] = {
      val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      if (toks.isEmpty) return Nil
      val stride = w - ov
      val last = math.max(
        math.floor((toks.length - w + stride - 1).toDouble / stride).toLong
          * stride + 1, 1L).toInt
      (1 to last by stride).zipWithIndex.map { case (s, i) =>
        (i.toLong, toks.slice(s - 1, s - 1 + w).mkString(" "))
      }
    }
    val rnd = new scala.util.Random(17)
    val cases = Seq.tabulate(40) { i =>
      val n = rnd.nextInt(60) // 0..59 tokens
      val text = Seq.fill(n)(s"w${rnd.nextInt(9)}").mkString(" ")
      val w = 1 + rnd.nextInt(12)
      val ov = rnd.nextInt(w)
      (i.toLong, text, w, ov)
    }
    cases.foreach { case (id, text, w, ov) =>
      val got = TextAnalysis.chunkDocs(Seq((id, text)).toDF("doc_id", "text"),
          "doc_id", "text", w, ov)
        .select("chunk_ix", "chunk").as[(Long, String)].collect().toSeq
        .sortBy(_._1)
      val exp = refChunks(text, w, ov)
      assert(got == exp, s"case id=$id n=${text.split(" ").length} w=$w ov=$ov")
    }
  }

  test("dedupSpansInDoc keeps first occurrences in order, null-total") {
    import spark.implicits._
    val rows = Seq(
      (1L, "a b. c d. a b. e f"),  // repeated sentence dropped
      (2L, "x. x. x"),             // collapses to one
      (3L, "solo"),                // unchanged
      (4L, null.asInstanceOf[String]))
    val got = rows.toDF("id", "t")
      .select(col("id"), TextAnalysis.dedupSpansInDoc(col("t")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(got(1L) == "a b. c d. e f")
    assert(got(2L) == "x")
    assert(got(3L) == "solo")
    assert(got(4L) == null)
  }

  test("bloomContamination equals exact contamination; empty bench total") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfSmoke).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val exact = Dedup.contamination(docs, bench, "doc_id", "text", n = 8)
      .as[(Long, Long)].collect().toMap
    val bloomed = Dedup.bloomContamination(docs, bench, "doc_id", "text", n = 8)
      .as[(Long, Long)].collect().toMap
    assert(bloomed == exact)
    assert(exact.nonEmpty) // the planted overlap actually exercised the path
    // empty benchmark: no contamination, same schema, no crash
    val none = Dedup.bloomContamination(docs, bench.limit(0), "doc_id", "text")
    assert(none.columns.toSeq == Seq("doc_id", "n_overlap"))
    assert(none.count() == 0)
  }

  test("lexical diversity: ttr and hapax share on known inputs") {
    import spark.implicits._
    val rows = Seq(
      (1L, "a b a c a"),           // distinct 3/5; hapax {b,c} 2/3
      (2L, "x x x"),               // 1/3; hapax 0/1
      (3L, "all words differ here"), // 1.0; 1.0
      (4L, ""))                    // 0.0; 0.0
    val got = rows.toDF("id", "t")
      .select(col("id"), TextAnalysis.typeTokenRatio(col("t")).as("ttr"),
        TextAnalysis.hapaxFraction(col("t")).as("h"))
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == (3.0 / 5.0, 2.0 / 3.0))
    assert(got(2L) == (1.0 / 3.0, 0.0))
    assert(got(3L) == (1.0, 1.0))
    assert(got(4L) == (0.0, 0.0))
  }

  test("topTokenFraction is the most-common-token share, total on empties") {
    import spark.implicits._
    val rows = Seq(
      (1L, "a b a c a"),            // 'a' 3 of 5
      (2L, "x x x x"),              // 1.0
      (3L, "each word once here"),  // 0.25
      (4L, ""),                     // empty -> 0.0
      (5L, "  "),                   // whitespace-only -> 0.0
      (6L, "b a a b")               // tie: 2 of 4
    ).toDF("id", "text")
    val got = rows.select(col("id"),
        TextAnalysis.topTokenFraction(col("text")).as("f"))
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 0.6, 2L -> 1.0, 3L -> 0.25, 4L -> 0.0,
      5L -> 0.0, 6L -> 0.5))
    // brute-force parity on the real corpus
    val docs = Tables.documents(spark, sfSmoke).select("doc_id", "text")
    val eng = docs.select(col("doc_id"),
        TextAnalysis.topTokenFraction(col("text")).as("f"))
      .as[(Long, Double)].collect().toMap
    val brute = docs.as[(Long, String)].collect().map { case (id, t) =>
      val toks = t.trim.split("\\s+").filter(_.nonEmpty)
      val f = if (toks.isEmpty) 0.0
        else toks.groupBy(identity).values.map(_.length).max.toDouble / toks.length
      id -> f
    }.toMap
    assert(eng == brute)
  }

  test("takeUntilBudget equals the global-window prefix, without one") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = Seq.tabulate(5000)(i =>
      (i.toLong, rnd.nextInt(1000), 1 + rnd.nextInt(50), s"pay $i"))
    val df = rows.toDF("id", "score", "cost", "payload")
    val out = Sampling.takeUntilBudget(df, col("id"), col("score"),
      col("cost"), budget = 20000L, numGroups = 8)
    val kept = out.select("id").as[Long].collect().toSet
    // ground truth: driver-side greedy prefix over (score desc, id asc)
    var cum = 0L
    val expect = rows.sortBy(r => (-r._2, r._1)).iterator.takeWhile { r =>
      cum += r._3; cum <= 20000L
    }.map(_._1).toSet
    assert(kept == expect)
    assert(kept.nonEmpty && kept.size < 5000)
    // full rows survive; partition-count independent
    assert(out.columns.toSeq == Seq("id", "score", "cost", "payload"))
    val again = Sampling.takeUntilBudget(df.repartition(13), col("id"),
        col("score"), col("cost"), 20000L, numGroups = 3)
      .select("id").as[Long].collect().toSet
    assert(again == kept)
    // budget beyond the corpus keeps everything; zero budget keeps nothing
    assert(Sampling.takeUntilBudget(df, col("id"), col("score"), col("cost"),
      10000000L).count() == 5000)
    assert(Sampling.takeUntilBudget(df, col("id"), col("score"), col("cost"),
      0L).count() == 0)
    // empty input total; reserved-name clash rejected loudly
    assert(Sampling.takeUntilBudget(df.limit(0), col("id"), col("score"),
      col("cost"), 100L).count() == 0)
    val bad = df.withColumnRenamed("payload", "_tb_cum")
    intercept[IllegalArgumentException] {
      Sampling.takeUntilBudget(bad, col("id"), col("score"), col("cost"), 1L)
    }
  }

  test("nearDupDedup keeps exactly one survivor per near-dup cluster") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfSmoke).select("doc_id", "text")
    // two planted generations: id+1M (one extra token) and id+2M (two) —
    // each original heads a 3-member cluster
    val tripled = docs
      .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zzz")).as("text")))
      .unionByName(docs.select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" zzz yyy")).as("text")))
    val survivors = Dedup.nearDupDedup(tripled, "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet

    // independent ground truth: exact pairwise Jaccard + union-find; the
    // expected survivors are each true cluster's minimum id (organic
    // near-dups in the corpus merge clusters across planted triples)
    val all = tripled.as[(Long, String)].collect()
    val sh = all.map { case (id, t) => id -> Dedup.shingles(t) }
    val parent = scala.collection.mutable.Map(all.map(_._1 -> -1L): _*)
    def find(x: Long): Long = if (parent(x) < 0) x else { val r = find(parent(x)); parent(x) = r; r }
    for (i <- sh.indices; j <- (i + 1) until sh.length) {
      if (Dedup.jaccard(sh(i)._2, sh(j)._2) >= 0.7) {
        val (ra, rb) = (find(sh(i)._1), find(sh(j)._1))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val want = all.map(_._1).groupBy(find).values.map(_.min).toSet
    assert(survivors == want,
      s"expected ${want.size} cluster minima, got ${survivors.size}")
    // and every planted copy is gone
    assert(survivors.forall(_ < 1000000L))
  }

  test("connected components match union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val n = 300
    val edges = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // driver-side union-find ground truth
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      .map { id =>
        // component id = min node id in the component among graph nodes
        val root = find(id.toInt)
        id -> edges.flatMap(e => Seq(e._1, e._2)).filter(x => find(x.toInt) == root).min
      }.toMap
    val got = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == want, "components must equal union-find ground truth")
  }

  test("repeated spans are detected across documents and removable") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Buy now. Unique alpha text here. More alpha prose"),
      (2L, "Buy now. Different beta content. Another beta line"),
      (3L, "Buy now. Gamma body only"),
      (4L, "Nothing shared at all. Just delta")).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, "doc_id", "text", minDocs = 3)
    assert(spans.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("Buy now", 3L)))
    val cleaned = Dedup.removeSpans(docs, "doc_id", "text", spans)
      .orderBy("id").collect().map(_.getString(1))
    assert(cleaned(0) == "Unique alpha text here. More alpha prose")
    assert(cleaned(2) == "Gamma body only")
    assert(cleaned(3) == "Nothing shared at all. Just delta")
    // a doc whose every span is boilerplate drops out entirely
    val allBoiler = Seq((9L, "Buy now")).toDF("doc_id", "text")
    assert(Dedup.removeSpans(docs.unionByName(allBoiler), "doc_id", "text", spans)
      .filter(col("id") === 9L).count() == 0)
  }

  test("duplicate n-gram ratio flags repetitive documents") {
    import spark.implicits._
    val rows = Seq(
      "a b a b a b a b",       // bigrams: 7 total, 2 distinct -> 5/7
      "all words here differ", // no repeats -> 0
      "one two",               // shorter than a trigram -> dup3 = 0
      "w").toDF("text")
      .select(
        TextAnalysis.duplicateNgramRatio(col("text"), 2).as("dup2"),
        TextAnalysis.duplicateNgramRatio(col("text"), 3).as("dup3"))
      .collect()
    assert(rows(0).getDouble(0) == math.rint((1.0 - 2.0 / 7.0) * 1e4) / 1e4 ||
      rows(0).getDouble(0) == BigDecimal(1.0 - 2.0 / 7.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(rows(0).getDouble(1) > 0.5) // "a b a" repeats heavily
    assert(rows(1).getDouble(0) == 0.0 && rows(1).getDouble(1) == 0.0)
    assert(rows(2).getDouble(0) == 0.0 && rows(2).getDouble(1) == 0.0)
    assert(rows(3).getDouble(0) == 0.0)
  }

  test("langId picks the marker language") {
    import spark.implicits._
    val rows = Seq(
      "el los una pero como el los una",
      "the and was with this the and",
      "der und nicht auch eine der",
      "xyzzy qwerty").toDF("text")
      .select(TextAnalysis.langId(col("text"))).as[String].collect()
    assert(rows.toSeq == Seq("es", "en", "de", "und"))
  }

  test("langId kernel matches the column formulation on fuzzed token soups") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    // the filter/greatest/when formulation the kernel replaced, as oracle
    def oracle(text: Column): Column = {
      val toks = split(trim(text), """\s+""", 0)
      val scored = TextAnalysis.LangMarkers.map { case (lang, markers) =>
        val m = typedlit(markers)
        lang -> size(filter(toks, t => array_contains(m, t)))
      }
      val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
      scored.foldRight(lit("und"): Column) { case ((lang, score), acc) =>
        when(score === best && best > 0, lit(lang)).otherwise(acc)
      }
    }
    val rnd = new scala.util.Random(31)
    val vocab = TextAnalysis.LangMarkers.flatMap(_._2) ++ Seq("xyz", "", "的the", "Le")
    val texts = Seq("", "  ", "\tthe\n", "the el le der 的") ++
      Seq.fill(150)(Seq.fill(rnd.nextInt(14))(vocab(rnd.nextInt(vocab.length)))
        .mkString(if (rnd.nextBoolean()) " " else "  "))
    val got = texts.toDF("text")
      .select(TextAnalysis.langId(col("text")).as("k"), oracle(col("text")).as("o"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), s"langId mismatch: $r"))
  }
  test("removeDuplicatePassages: cross-doc spans removed from all but the global first") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x c d e y"),
      (3L, "tiny doc")).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatePassages(docs, "doc_id", "text", w = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // "c d e" occurs in docs 1 (pos 2) and 2 (pos 1): doc 1 is the global
    // first occurrence and keeps its text; doc 2 loses tokens 1..3
    assert(got(0) == ((1L, 6L, 0L, "a b c d e f")))
    assert(got(1) == ((2L, 5L, 3L, "x y")))
    // shorter than the window: no grams, untouched
    assert(got(2) == ((3L, 2L, 0L, "tiny doc")))
  }

  test("removeDuplicatePassages: within-doc repetition keeps exactly the first period") {
    import spark.implicits._
    val docs = Seq((7L, "p q r p q r p q r")).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatePassages(docs, "doc_id", "text", w = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    // windows repeat with period 3; removal starts 3..6 cover tokens 3..8,
    // so exactly the first period survives
    assert(got(0) == ((9L, 6L, "p q r")))
  }

  test("scrubContamination: benchmark spans removed from ALL occurrences, rest intact") {
    import spark.implicits._
    val docs = Seq(
      (1L, "intro words then the secret eval answer here plus tail text"),
      (2L, "clean document with no leaked content at all okay"),
      (3L, "the secret eval answer here plus more padding words"),
      (4L, "tiny")).toDF("doc_id", "text")
    val bench = Seq("prefix the secret eval answer here plus suffix")
      .toDF("text")
    val got = Dedup.scrubContamination(docs, bench, "doc_id", "text", n = 6)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // every doc-window matching a benchmark 6-gram is scrubbed — BOTH
    // leaked docs lose the span (no first-occurrence keeper), clean and
    // short docs pass through verbatim
    assert(got(0)._4.contains("intro words then") &&
      !got(0)._4.contains("secret"), got(0).toString)
    assert(got(0)._3 > 0)
    assert(got(1) == ((2L, 9L, 0L, "clean document with no leaked content at all okay")))
    assert(got(2)._4 == "" || !got(2)._4.contains("secret"), got(2).toString)
    assert(got(2)._3 > 0, "second occurrence must ALSO scrub")
    assert(got(3) == ((4L, 1L, 0L, "tiny")))
    // empty benchmark: pure no-op, every doc intact
    val noop = Dedup.scrubContamination(docs,
        Seq.empty[String].toDF("text"), "doc_id", "text", n = 6)
      .filter(col("n_removed") > 0).count()
    assert(noop == 0L)
    // guard parity with the passage scrubber
    intercept[IllegalArgumentException] {
      Dedup.scrubContamination(docs.withColumn("_h", lit(1)), bench,
        "doc_id", "text")
    }
  }

  test("removeDuplicatePassages: guards (w >= 2, reserved columns)") {
    import spark.implicits._
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.removeDuplicatePassages(docs, "doc_id", "text", w = 1)
    }
    intercept[IllegalArgumentException] {
      Dedup.removeDuplicatePassages(
        docs.withColumn("_starts", lit(1)), "doc_id", "text", w = 3)
    }
  }

  test("removeDuplicatePassages: restores planted duplication on the smoke corpus") {
    val docs = Tables.documents(spark, sfSmoke)
    val out = Dedup.removeDuplicatePassages(docs, "doc_id", "text", w = 12)
    val agg = out.agg(count(lit(1)), sum(col("n_removed")),
      sum(when(col("n_removed") > 0, 1L).otherwise(0L))).collect()(0)
    assert(agg.getLong(0) == docs.count())
    // the generator plants near-dup documents sharing long spans: some
    // (but far from all) docs must lose passages
    assert(agg.getLong(1) > 0, "no duplicated passages found in smoke data")
    assert(agg.getLong(2) < agg.getLong(0) / 2,
      "more than half the corpus flagged - window too small or hash broken")
    // idempotence: a second pass finds nothing left to remove
    val again = Dedup.removeDuplicatePassages(
      out.select(col("doc_id"), col("clean_text").as("text")),
      "doc_id", "text", w = 12)
    assert(again.agg(sum("n_removed")).collect()(0).getLong(0) == 0L,
      "passage dedup is not idempotent")
  }

  test("dsirScore: integer micro-nat weights match the driver formula; target-like docs score higher") {
    import spark.implicits._
    val docs = Seq(
      (1L, "good clean prose text", "tgt"),
      (2L, "good clean text words", "tgt"),
      (3L, "spam junk noise junk", "raw"),
      (4L, "good clean prose words", "raw"),
      (5L, "spam noise spam noise", "raw")).toDF("doc_id", "text", "kind")
    val got = TextAnalysis.dsirScore(docs, "doc_id", "text",
      targetFilter = col("kind") === "tgt")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // driver-side replay of the exact formula
    val toks = Seq(
      (1L, true, "good clean prose text"), (2L, true, "good clean text words"),
      (3L, false, "spam junk noise junk"), (4L, false, "good clean prose words"),
      (5L, false, "spam noise spam noise"))
      .flatMap { case (id, t, s) => s.split(" ").map(tok => (id, t, tok)) }
    def bucket(tok: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      d.take(2).map(b => f"$b%02x").mkString.take(3)
    }
    val byB = toks.groupBy(t => bucket(t._3))
    val nr = toks.size.toDouble
    val nt = toks.count(_._2).toDouble
    val wt = byB.map { case (b, ts) =>
      b -> math.floor(1e6 * (
        math.log((ts.count(_._2) + 1.0) / (nt + 4096.0)) -
        math.log((ts.size + 1.0) / (nr + 4096.0)))).toLong
    }
    val expect = toks.groupBy(_._1).map { case (id, ts) =>
      id -> ts.map(t => wt(bucket(t._3))).sum
    }
    got.foreach { case (id, n, lw, avg) =>
      assert(n == 4L)
      assert(lw == expect(id), s"doc $id: engine $lw != driver ${expect(id)}")
      assert(math.abs(avg - lw / 4e6) < 1e-12)
    }
    // ranking sanity: pure-target vocabulary outscores pure-spam
    val scores = got.map(r => r._1 -> r._4).toMap
    assert(scores(1L) > scores(5L) && scores(2L) > scores(3L))
    assert(scores(4L) > scores(5L),
      "a raw doc made of target-typical tokens must still score high")
  }

  test("dsirScore: null and token-less totality") {
    import spark.implicits._
    val docs = Seq((1L, "hello world", "t"), (2L, null.asInstanceOf[String], "r"),
      (3L, "", "r")).toDF("doc_id", "text", "kind")
    val got = TextAnalysis.dsirScore(docs, "doc_id", "text",
      targetFilter = col("kind") === "t")
      .orderBy("doc_id").collect()
    assert(got.length == 3)
    val byId = got.map(r => r.getLong(0) -> r).toMap
    assert(byId(2L).getLong(1) == 0L && byId(2L).isNullAt(3))
    // empty string splits to one empty token (the engine-portable grid)
    assert(byId(3L).getLong(1) == 1L && !byId(3L).isNullAt(3))
  }
  test("contaminationReport: per-group gram and doc fractions, exact") {
    import spark.implicits._
    // n = 2 grams; benchmark groups A and B
    val corpus = Seq(
      (101L, "w x y z"),            // grams: "w x","x y","y z"
      (102L, "p q")).toDF("doc_id", "text")
    val bench = Seq(
      (1L, "A", "w x a"),  // grams "w x","x a": 1 of 2 hit; doc hit
      (2L, "A", "b c"),    // gram "b c": no hit
      (3L, "B", "p q"),    // gram "p q": hit
      (4L, "B", "x y")     // gram "x y": hit
    ).toDF("doc_id", "grp", "text")
    val got = Dedup.contaminationReport(corpus, bench,
        "doc_id", "text", "grp", n = 2)
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // A: 3 distinct grams ("w x","x a","b c"), 1 hit; 1 of 2 docs hit
    assert(got(0) == (("A", 2L, 1L, 3L, 1L, 1.0 / 3.0)))
    // B: 2 distinct grams, both hit; both docs hit
    assert(got(1) == (("B", 2L, 2L, 2L, 2L, 1.0)))
  }

  test("contaminationReport: clean benchmark reports zero, group survives") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val bench = Seq((2L, "G", "delta epsilon zeta")).toDF("doc_id", "grp", "text")
    val got = Dedup.contaminationReport(corpus, bench,
        "doc_id", "text", "grp", n = 2).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(2) == 0L && r.getLong(4) == 0L && r.getDouble(5) == 0.0)
  }
  test("windowHashes kernel == column formulation (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val vocab = Seq("a", "bb", "ccc", "d", "", "ee")
    val texts = Seq("", " ", "one", "a b", "  padded  text  here  ") ++
      Seq.fill(120)(Seq.fill(rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" "))
    for (w <- Seq(2, 3, 5)) {
      val toks = split(trim(col("t")), " ", -1)
      val colForm = when(size(toks) >= w,
          transform(sequence(lit(0), size(toks) - w),
            i => md5(concat_ws(" ", slice(toks, i + 1, lit(w))))))
        .otherwise(array().cast("array<string>"))
      val bad = texts.toDF("t")
        .select(graft.functions.ShingleExpressions.windowHashes(col("t"), w)
          .as("k"), colForm.as("c"))
        .filter(not(col("k") <=> col("c"))).count()
      assert(bad == 0L, s"kernel diverges from column formulation at w=$w")
    }
    // null totality
    val r = Seq(Option.empty[String]).toDF("t")
      .select(graft.functions.ShingleExpressions.windowHashes(col("t"), 3))
      .collect()(0)
    assert(r.isNullAt(0))
  }
  test("bigramBuckets kernel == column formulation (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(78)
    val vocab = Seq("a", "bb", "ccc", "d", "", "ee", "ümlaut", "日本")
    val texts = Seq("", " ", "one", "a b", "  padded  text  here  ") ++
      Seq.fill(150)(Seq.fill(rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" "))
    // the t37 grid: split(text, " ") — keep empties, NO trim
    val toks = split(col("t"), " ")
    val colForm = when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1), i =>
          concat(
            substring(md5(element_at(toks, i + 1)), 1, 3),
            substring(md5(concat_ws(" ",
              element_at(toks, i), element_at(toks, i + 1))), 1, 4))))
      .otherwise(array().cast("array<string>"))
    val bad = texts.toDF("t")
      .select(graft.functions.BigramBucketsExpression.bigramBuckets(col("t"))
        .as("k"), colForm.as("c"))
      .filter(not(col("k") <=> col("c"))).count()
    assert(bad == 0L, "bigramBuckets kernel diverges from column formulation")
    // null totality: kernel gives null, the column form gives [] — both
    // explode_outer to the same single null row downstream
    val r = Seq(Option.empty[String]).toDF("t")
      .select(graft.functions.BigramBucketsExpression.bigramBuckets(col("t")))
      .collect()(0)
    assert(r.isNullAt(0))
  }
  test("mmrSelectInt8: diversification beats pure relevance; exact driver replay") {
    import spark.implicits._
    // 4-dim corpus: two tight clusters near the query's direction plus
    // orthogonal fillers; pure top-k would take the whole near cluster,
    // MMR must interleave the orthogonal directions
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),        // query
      (1L, Array(0.9f, 0.1f, 0f, 0f)),    // near cluster
      (2L, Array(0.88f, 0.12f, 0f, 0f)),
      (3L, Array(0.86f, 0.14f, 0f, 0f)),
      (4L, Array(0.3f, 0.9f, 0f, 0f)),    // different direction
      (5L, Array(0.3f, 0f, 0.9f, 0f)),    // another
      (6L, Array(0.1f, 0f, 0f, 0.9f)))    // near-orthogonal
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrSelectInt8(vecs, vecs.filter(col("vec_id") === 0L),
        "vec_id", "embedding", k = 4, shortlist = 6,
        lambdaNum = 1, lambdaDen = 2)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length == 4)
    assert(got(0)._2 == 1L, s"first pick must be the most relevant: $got")
    // picks 2-3 must NOT both come from the near cluster {2, 3}
    val cluster = got.slice(1, 3).map(_._2).count(Set(2L, 3L))
    assert(cluster <= 1, s"MMR failed to diversify: ${got.mkString(", ")}")

    // exact driver replay of the greedy over the same int8 codes
    def q8(v: Array[Float]): Array[Long] = {
      val m = v.map(x => math.abs(x.toDouble)).max
      v.map(x => if (m == 0) 0L else math.round(x.toDouble * 127.0 / m))
    }
    val byId = Seq(1L, 2L, 3L, 4L, 5L, 6L).map(i =>
      i -> q8(vecs.filter(col("vec_id") === i).collect()(0)
        .getSeq[Float](1).toArray)).toMap
    val qv = q8(Array(1f, 0f, 0f, 0f))
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val rel = byId.map { case (i, c) => i -> dot(qv, c) }
    var chosen = List.empty[Long]
    val replay = scala.collection.mutable.ListBuffer[(Int, Long, Long, Long)]()
    for (it <- 1 to 4) {
      val remaining = byId.keys.filterNot(chosen.contains).toSeq
      val scored = remaining.map { c =>
        val s = if (chosen.isEmpty) rel(c)
          else rel(c) - chosen.map(s0 => dot(byId(c), byId(s0))).max
        (c, s)
      }
      val (pick, sc) = scored.minBy { case (c, s) => (-s, c) }
      chosen ::= pick
      replay += ((it, pick, rel(pick), sc))
    }
    assert(got.toSeq == replay.toSeq,
      s"engine ${got.mkString(",")} != replay ${replay.mkString(",")}")
  }
  test("removeDuplicatePassages matches a driver reference on fuzzed corpora") {
    import spark.implicits._
    def reference(docs: Seq[(Long, String)], w: Int): Map[Long, (Long, Long, String)] = {
      val toks = docs.map { case (id, t) => id -> t.trim.split(" ", -1).toSeq }.toMap
      // (hash key = the window string itself; md5 is injective enough)
      val occ = docs.sortBy(_._1).flatMap { case (id, _) =>
        val tk = toks(id)
        (0 to tk.length - w).map(p => (tk.slice(p, p + w).mkString(" "), id, p))
      }
      val byWin = occ.groupBy(_._1)
      val removals = byWin.values.filter(_.size > 1).flatMap { os =>
        val keep = os.minBy(o => (o._2, o._3))
        os.filterNot(_ == keep)
      }.toSeq
      val startsByDoc = removals.groupBy(_._2)
        .map { case (id, rs) => id -> rs.map(_._3).toSet }
      docs.map { case (id, _) =>
        val tk = toks(id)
        val starts = startsByDoc.getOrElse(id, Set.empty)
        val covered = (0 until tk.length)
          .filter(i => starts.exists(s => i >= s && i < s + w)).toSet
        val kept = tk.zipWithIndex.filterNot(t => covered(t._2)).map(_._1)
        id -> ((tk.length.toLong, covered.size.toLong, kept.mkString(" ")))
      }.toMap
    }
    val rnd = new scala.util.Random(1234)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    for (trial <- 1 to 4) {
      val w = 2 + rnd.nextInt(3)
      val shared = Seq.fill(w + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val docs = (1L to 30L).map { id =>
        val body = Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length)))
        // a third of the docs embed the shared span at a random position
        val t = if (id % 3 == 0) {
          val at = rnd.nextInt(body.length + 1)
          (body.take(at) ++ shared.split(" ") ++ body.drop(at)).mkString(" ")
        } else body.mkString(" ")
        (id, t)
      }
      val expect = reference(docs, w)
      val got = Dedup.removeDuplicatePassages(docs.toDF("doc_id", "text"),
          "doc_id", "text", w)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(got == expect, s"trial $trial (w=$w) diverged from reference")
    }
  }

  test("mmrSelectInt8 matches the driver greedy on fuzzed vector panels") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 3) {
      val dims = 4 + rnd.nextInt(5)
      val n = 12 + rnd.nextInt(10)
      val vecs = (1L to n.toLong).map(i =>
        (i, Array.fill(dims)(rnd.nextFloat() * 2 - 1)))
      val k = 2 + rnd.nextInt(4)
      val shortlist = k + rnd.nextInt(5)
      val queries = vecs.take(2)
      val got = Similarity.mmrSelectInt8(vecs.toDF("vec_id", "embedding"),
          queries.toDF("vec_id", "embedding"), "vec_id", "embedding",
          k, shortlist, lambdaNum = 1, lambdaDen = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // driver replay
      def q8(v: Array[Float]): Array[Long] = {
        val m = v.map(x => math.abs(x.toDouble)).max
        v.map(x => if (m == 0) 0L else math.round(x.toDouble * 127.0 / m))
      }
      val codes = vecs.map { case (i, v) => i -> q8(v) }.toMap
      def dot(a: Array[Long], b: Array[Long]): Long =
        a.zip(b).map { case (x, y) => x * y }.sum
      val expect = queries.flatMap { case (qid, qv) =>
        val rels = vecs.collect { case (cid, _) if cid != qid =>
          cid -> dot(q8(qv), codes(cid)) }
        val short = rels.sortBy { case (cid, r) => (-r, cid) }.take(shortlist)
        var chosen = List.empty[Long]
        (1 to math.min(k, short.size)).map { it =>
          val scored = short.filterNot(c => chosen.contains(c._1)).map { case (cid, r) =>
            val s = if (chosen.isEmpty) r
              else r - chosen.map(sc => dot(codes(cid), codes(sc))).max
            (cid, s)
          }
          val pick = scored.minBy { case (cid, s) => (-s, cid) }._1
          chosen ::= pick
          (qid, it, pick)
        }
      }.toSet
      assert(got == expect, s"trial $trial (k=$k, C=$shortlist) diverged")
    }
  }
  test("driftReport: identical snapshots drift 0; disjoint vocab maxes out") {
    import spark.implicits._
    val a = Seq((1L, "en", "aa bb cc dd"), (2L, "en", "aa bb ee ff"),
      (3L, "de", "gg hh")).toDF("doc_id", "lang", "text")
    val same = TextAnalysis.driftReport(a, a, "text", "lang")
      .orderBy("lang").collect()
    same.foreach { r =>
      assert(r.getLong(5) == 0L && r.getLong(7) == 0L,
        s"identical snapshots must report zero drift: $r")
      assert(r.getLong(1) == r.getLong(2) && r.getLong(3) == r.getLong(4))
    }
    // completely new vocabulary: every new token is novel, L1 = 2.0
    val b = Seq((4L, "en", "xx yy zz ww")).toDF("doc_id", "lang", "text")
    val r = TextAnalysis.driftReport(a.filter(col("lang") === "en"), b,
      "text", "lang").collect()(0)
    assert(r.getLong(5) == 4L && r.getDouble(6) == 1.0)
    assert(r.getLong(7) >= 1990000L && r.getLong(7) <= 2000000L,
      s"disjoint distributions must be ~2e6 micro L1: ${r.getLong(7)}")
    // a group absent from one snapshot survives with zero-side totals
    val g = TextAnalysis.driftReport(a, a.filter(col("lang") === "en"),
      "text", "lang").orderBy("lang").collect()
    val de = g.find(_.getString(0) == "de").get
    assert(de.getLong(2) == 0L && de.getLong(4) == 0L && de.getLong(7) == 1000000L)
  }
  test("lmBigramBitsScore: rare PAIRS of common tokens score high; totality") {
    import spark.implicits._
    // "the cat"/"cat sat" dominate; doc 4 uses the SAME tokens in an
    // order never seen — unigram filters cannot see this, bigrams must
    val corpus = Seq.tabulate(30)(i => (i.toLong, "the cat sat on the mat")) ++
      Seq((100L, "mat the on sat cat the"),  // scrambled: rare pairs
        (101L, null.asInstanceOf[String]),   // null -> null score
        (102L, "single"))                    // < 2 tokens -> null score
    val got = TextAnalysis.lmBigramBitsScore(
        corpus.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(0L)._2.get < got(100L)._2.get,
      s"scrambled pairs must score higher: ${got(0L)} vs ${got(100L)}")
    assert(got(101L) == ((0L, None)) && got(102L) == ((0L, None)))
    assert(got(0L)._1 == 5L) // 6 tokens -> 5 pairs
  }
}
