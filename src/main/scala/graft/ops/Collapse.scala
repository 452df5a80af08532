package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The collapse-and-expand core of the near-dup pair operators:
  * [[Dedup.minhashNearDupPairs]], [[Dedup.simhashPairsFromSigs]] (and
  * through it [[Multimodal.binaryNearDupPairs]] and
  * [[Multimodal.pixelNearDupPairs]]), [[Dedup.fuzzyDupPairs]] and
  * [[Similarity.cosineNearDupPairs]].
  *
  * Each of them pairs rows that share a bucket: an LSH band, a simhash
  * chunk, a sign-LSH table bucket, a blocking key. Rows with an identical
  * key (text fingerprint, signature, vector, block and text) share every
  * bucket, so pairing rows directly makes candidate work quadratic in the
  * duplication factor: d copies of one key put d² rows per bucket into
  * the self-join and the pair-dedup exchange. That per-id form is what
  * failed at sf10: the cosine pairs' 200-way duplication filled 78 GB of
  * sort spill and died, mm07's duplicated image set took 90 s, and d08's
  * planted 100-way duplication 205 s. So every operator
  *  1. collapses ([[groups]]): one row per distinct key, holding its
  *     sorted member ids and `gkey`, the smallest of them;
  *  2. drops oversized buckets ([[cap]]) where it has a cap;
  *  3. pairs the groups that share a bucket ([[groupPairs]]) and
  *     verifies once per distinct group pair;
  *  4. expands the verified group pairs back to id pairs and adds the
  *     pairs within each group ([[idPairs]]).
  * Candidate work is then linear in the input rows. The output is still
  * every qualifying id pair, quadratic in the duplication by the
  * operators' definition, but it comes from exploding member lists, not
  * from candidate rows.
  *
  * Precondition: ids are unique. Groups are then disjoint, so a group
  * pair expands to each of its id pairs exactly once.
  */
private[ops] object Collapse {

  /** One row per distinct `key`: the key columns, `ids` (the members'
    * ids, ascending) and `gkey` (the smallest member id). */
  def groups(df: DataFrame, key: Seq[Column], id: Column): DataFrame =
    df.groupBy(key: _*).agg(sort_array(collect_list(id)).as("ids"), min(id).as("gkey"))

  /** The buckets (values of `on`) holding more than `max` rows of
    * `buckets`, with that row count `n`. A groupBy, not a window count:
    * it partial-aggregates map-side, so only distinct bucket keys per
    * task cross the wire instead of a sort of every bucket row. */
  def oversized(buckets: DataFrame, on: Seq[String], max: Int): DataFrame =
    buckets.groupBy(on.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > max)

  /** `buckets` without the rows of [[oversized]] buckets, whose pairing
    * would be one quadratic cell. The oversized set is normally empty
    * and pathologically tiny, so it broadcasts into an anti-join. */
  def cap(buckets: DataFrame, on: Seq[String], max: Int): DataFrame =
    buckets.join(broadcast(oversized(buckets, on, max).select(on.map(col): _*)),
      on, "left_anti")

  /** Distinct group pairs `(ga, gb)`, `ga < gb`, that share a bucket.
    * `buckets` holds `gkey`, the bucket columns `on` and any payload
    * column `p`; `verify` filters the met pairs, which hold `ga`, `gb` and
    * `p_a`, `p_b`. A score column that `verify` adds is kept (for a pair
    * met in several buckets, from one of its rows).
    *
    * The repartition on `on` puts one exchange under both sides of the
    * self-join, so the bucket subtree (and its source scan) runs once;
    * otherwise a small-scale broadcast choice leaves one side without an
    * exchange and the subtree runs twice. Verifying before the dedup
    * means the dedup exchange carries only the pairs that qualify. */
  def groupPairs(buckets: DataFrame, on: Seq[String])(
      verify: DataFrame => DataFrame = identity): DataFrame = {
    val b = buckets.repartition(on.map(col): _*)
    val sides = for (p <- b.columns.toSeq if p != "gkey" && !on.contains(p);
                     s <- Seq("a", "b")) yield (s"$s.$p", s"${p}_$s")
    verify(b.alias("a").join(b.alias("b"),
        on.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
          col("a.gkey") < col("b.gkey"))
      .select(col("a.gkey").as("ga") +: col("b.gkey").as("gb") +:
        sides.map { case (side, name) => col(side).as(name) }: _*))
      .drop(sides.map(_._2): _*)
      .dropDuplicates("ga", "gb")
  }

  /** Oriented id pairs `(id_a, id_b, score)`, `id_a < id_b`: every
    * member pair of each verified group pair in `gpairs` (`ga`, `gb`,
    * `score`; members from `groups`), plus every member pair within each
    * group of `within` (`gkey`, `ids`, `score`), whose caller keeps only
    * the groups that pair with themselves.
    *
    * The within-group fan-out posexplodes the member list and
    * repartitions on the left id before emitting each id's later
    * members, so a large group's C(n,2) pairs spread over tasks instead
    * of coming out of one row.
    *
    * `edgesOnly` returns a connectivity-equivalent edge set instead:
    * each group is a star (`gkey` to each other member) and verified
    * group pairs stay at `gkey` level. The components are the same, and
    * the edge count is linear in the duplication factor. */
  def idPairs(gpairs: DataFrame, groups: DataFrame, within: DataFrame,
              score: String, edgesOnly: Boolean = false): DataFrame = {
    val multi = within.filter(size(col("ids")) >= 2)
    if (edgesOnly)
      gpairs.select(col("ga").as("id_a"), col("gb").as("id_b"), col(score))
        .unionByName(multi.select(col("gkey").as("id_a"),
          explode(col("ids")).as("id_b"), col(score))
          .filter(col("id_a") =!= col("id_b")))
    else {
      val members = groups.select(col("gkey"), col("ids"))
      val cross = gpairs
        .join(members.select(col("gkey").as("ga"), col("ids").as("ids_a")), "ga")
        .join(members.select(col("gkey").as("gb"), col("ids").as("ids_b")), "gb")
        .select(explode(col("ids_a")).as("a"), col("ids_b"), col(score))
        .select(col("a"), explode(col("ids_b")).as("b"), col(score))
        .select(least(col("a"), col("b")).as("id_a"),
          greatest(col("a"), col("b")).as("id_b"), col(score))
      val fanout = multi
        .select(posexplode(col("ids")).as(Seq("ia", "id_a")), col("ids"), col(score))
        .repartition(col("id_a"))
        .select(col("id_a"),
          explode(slice(col("ids"), col("ia") + 2, size(col("ids")))).as("id_b"),
          col(score))
      cross.unionByName(fanout)
    }
  }
}
