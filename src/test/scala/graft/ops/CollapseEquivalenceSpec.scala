package graft.ops

import graft.{QueryProfile, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.FrameScope

/** Randomized equivalence pins for the identical-value collapses (r17's
  * ANN collapse, r18's simhash/fuzzy collapses) against the uncollapsed
  * direct formulations they replaced.
  *
  * The one clever invariant in [[Similarity.collapsedTopK]] — a corpus
  * group's k+1 smallest member ids cover ANY query's top-k under the
  * (cosine desc, id asc) order — is exercised here over corpora with
  * duplication factors up to 200 and exact cosine TIES (positive
  * power-of-two scalar multiples: bit-identical cosines in IEEE
  * arithmetic, and sign-LSH buckets invariant under positive scaling),
  * not just the fixed planted panels the oracle pins.
  */
class CollapseEquivalenceSpec extends SparkSpec {

  import spark.implicits._

  /** Deterministic duplicated corpus: `nDistinct` random vectors, each
    * duplicated by a factor in [1, dupMax]; every `tieEvery`-th distinct
    * vector is additionally a ×2 scalar multiple of its predecessor
    * (exact cosine tie against every query). Ids are unique and assigned
    * in a shuffled order, so group membership is not id-contiguous. */
  private def dupCorpus(seed: Long, nDistinct: Int, dupMax: Int,
                        dim: Int, tieEvery: Int): Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(seed)
    val base = Vector.tabulate(nDistinct) { i =>
      if (tieEvery > 0 && i % tieEvery == 1)
        null // filled below as a scalar multiple of i-1
      else Array.fill(dim)(rnd.nextGaussian())
    }
    val vecs = base.zipWithIndex.map {
      case (null, i) => base(i - 1).map(_ * 2.0)
      case (v, _) => v
    }
    val rows = vecs.flatMap { v =>
      val d = 1 + rnd.nextInt(dupMax)
      Seq.fill(d)(v.toSeq)
    }
    val ids = rnd.shuffle(rows.indices.toList).map(_.toLong + 1000L)
    ids.zip(rows)
  }

  private def toDf(rows: Seq[(Long, Seq[Double])]): DataFrame =
    rows.toDF("id", "vec").repartition(4)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("collapsedTopK with all-pairs candidates ≡ bruteForceTopK on duplicated corpora with ties") {
    for ((seed, dupMax) <- Seq((1L, 1), (2L, 5), (3L, 40), (4L, 200))) {
      val corpus = toDf(dupCorpus(seed, nDistinct = 8, dupMax = dupMax,
        dim = 6, tieEvery = 3))
      // queries: a slice of the corpus (self-matches must drop) plus two
      // novel vectors; duplicated query vectors exercise the qkey expand
      val novel = Seq((1L, Seq.fill(6)(0.25)), (2L, Seq.fill(6)(-0.5)))
      val queries = toDf(corpus.limit(12).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq ++ novel)
      for (k <- Seq(1, 3, 7)) {
        val collapsed = Similarity.collapsedTopK(
          corpus, queries, "id", "vec", k) { (c, q) =>
          q.select(col("id").as("qkey"))
            .crossJoin(c.select(col("id").as("ckey")))
        }
        val brute = Similarity.bruteForceTopK(corpus, queries, "id", "vec", k)
        assert(sortedRows(collapsed) == sortedRows(brute),
          s"seed=$seed dupMax=$dupMax k=$k: collapsed all-pairs must equal brute force")
      }
    }
  }

  test("cosineNearDupPairs ≡ direct pair scan when qualifying pairs are exact-collinear") {
    // threshold 0.999: random gaussian pairs (dim 6) qualify with
    // negligible probability, so qualifying pairs are the planted
    // identical/×2-collinear families — for which sign-LSH recall is
    // CERTAIN (buckets invariant under positive scaling), making the
    // approximate operator exactly comparable to the direct scan
    for ((seed, dupMax) <- Seq((11L, 3), (12L, 60), (13L, 200))) {
      val df = toDf(dupCorpus(seed, nDistinct = 6, dupMax = dupMax,
        dim = 6, tieEvery = 2))
      val got = Similarity.cosineNearDupPairs(df, "id", "vec", threshold = 0.999)
      val a = df.select(col("id").as("id_a"), col("vec").as("va"))
      val b = df.select(col("id").as("id_b"), col("vec").as("vb"))
      val direct = a.crossJoin(b)
        .filter(col("id_a") < col("id_b"))
        .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
        .filter(col("cosine") >= 0.999)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
      assert(sortedRows(got) == sortedRows(direct),
        s"seed=$seed dupMax=$dupMax: collapsed near-dup pairs must equal the direct scan")
      assert(got.count() > 0, "plant must produce qualifying pairs")
    }
  }

  test("simhashPairsFromSigs ≡ direct hamming pair scan (pigeonhole recall is exact)") {
    // any pair within maxDistance shares at least one exact chunk, so the
    // banded operator is EXACT, collapse or no collapse — compare against
    // the all-pairs scan on corpora where signatures repeat heavily
    val rnd = new scala.util.Random(7L)
    for ((dupMax, maxDistance) <- Seq((1, 3), (30, 3), (150, 7))) {
      val distinct = Seq.fill(10)(rnd.nextLong())
      // near-misses: flip 1..maxDistance bits of an existing signature
      val near = distinct.take(4).zipWithIndex.map { case (s, i) =>
        (0 to i).foldLeft(s)((acc, b) => acc ^ (1L << (b * 7)))
      }
      val rows = (distinct ++ near).flatMap { s =>
        Seq.fill(1 + rnd.nextInt(dupMax))(s)
      }
      val ids = rnd.shuffle(rows.indices.toList).map(_.toLong)
      val sigs = ids.zip(rows).toDF("id", "sig").repartition(4)
      val got = Dedup.simhashPairsFromSigs(sigs, maxDistance)
      val a = sigs.select(col("id").as("id_a"), col("sig").as("sa"))
      val b = sigs.select(col("id").as("id_b"), col("sig").as("sb"))
      val direct = a.crossJoin(b)
        .filter(col("id_a") < col("id_b"))
        .withColumn("distance", bit_count(col("sa").bitwiseXOR(col("sb"))))
        .filter(col("distance") <= maxDistance)
        .select(col("id_a"), col("id_b"), col("distance"))
      assert(sortedRows(got) == sortedRows(direct),
        s"dupMax=$dupMax maxDistance=$maxDistance: banded pairs must equal the direct scan")
      assert(got.count() > 0)
    }
  }

  test("fuzzyDupPairs ≡ direct blocked levenshtein scan on duplicated texts") {
    val rnd = new scala.util.Random(21L)
    val blocks = Seq("b1", "b2", "b3")
    val bases = Seq("linen antique", "linen antiqe", "metallic rose",
      "metalic rose", "navy lace", "navy lace x")
    for (dupMax <- Seq(1, 25, 120)) {
      val rows = for {
        b <- blocks; t <- bases
        _ <- 0 until (1 + rnd.nextInt(dupMax))
      } yield (b, t)
      val ids = rnd.shuffle(rows.indices.toList).map(_.toLong)
      val df = ids.zip(rows).map { case (id, (b, t)) => (id, b, t) }
        .toDF("id", "blk", "txt").repartition(4)
      val got = Dedup.fuzzyDupPairs(df, "id", "txt", Seq("blk"), maxDist = 2)
      val a = df.select(col("blk"), col("id").as("id_a"), col("txt").as("ta"))
      val b = df.select(col("blk"), col("id").as("id_b"), col("txt").as("tb"))
      val direct = a.join(b, "blk")
        .filter(col("id_a") < col("id_b"))
        .withColumn("dist", levenshtein(col("ta"), col("tb"), 2))
        .filter(col("dist") >= 0)
        .select(col("id_a"), col("id_b"), col("dist"))
      assert(sortedRows(got) == sortedRows(direct),
        s"dupMax=$dupMax: fuzzy pairs must equal the direct blocked scan")
      assert(got.count() > 0)
    }
  }

  test("candidate work grows at most linearly with duplication") {
    // the same distinct values at duplication factor 1 and 40. Collapsed,
    // each added row adds a bounded number of shuffle-write records (it
    // crosses the input repartition, the group aggregate, the within-group
    // fan-out and a few id-keyed joins: 1.4 to 3.1 per row measured).
    // Pairing ids directly puts d² rows per bucket into the self-join and
    // the pair-dedup exchange: 27 (simhash) and 131 (minhash) per row
    val rnd = new scala.util.Random(5L)
    val texts = (0 until 30).flatMap { i =>
      val t = Seq.fill(20)(s"w${rnd.nextInt(200)}").mkString(" ")
      if (i % 3 == 0) Seq(t, t + " tail") else Seq(t) // near-dup partners
    }
    val vecs = texts.map(_ => Seq.fill(6)(rnd.nextGaussian()))
    def corpus(dup: Int): DataFrame = (for {
      (t, i) <- texts.zipWithIndex
      c <- 0 until dup
    } yield (i * 1000L + c, s"b${i % 3}", t, vecs(i)))
      .toDF("id", "blk", "text", "vec").repartition(4)
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "simhash" -> (Dedup.simhashNearDupPairs(_, "id", "text", 3)),
      "cosine" -> (Similarity.cosineNearDupPairs(_, "id", "vec", 0.9)),
      "fuzzy" -> (Dedup.fuzzyDupPairs(_, "id", "text", Seq("blk"), 2)),
      "minhash" -> (Dedup.minhashNearDupPairs(_, "id", "text", 0.5)),
      "minhash edgesOnly" -> (df => FrameScope(spark) { s =>
        Dedup.minhashNearDupPairsImpl(s, df, "id", "text", 0.5, 32, 3, 3,
          10000, edgesOnly = true).localCheckpoint(true)
      }))
    val addedRows = 39L * texts.size
    for ((name, op) <- ops) {
      val Seq((n1, w1), (n40, w40)) = Seq(1, 40).map { dup =>
        val (n, p) = QueryProfile.run(spark, s"dup$dup:$name")(op(corpus(dup)))(_.count())
        (n, p.shuffleWriteRecords)
      }
      assert(n40 > n1, s"$name: duplication must add pairs ($n1 -> $n40)")
      assert(w40 - w1 <= 8 * addedRows,
        s"$name: shuffle-write records went $w1 -> $w40 for $addedRows added rows")
    }
  }
}
