package graft.ops

import graft.functions.Generators
import graft.functions.TextHash._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The candidate stage the near-duplicate families share, one copy of
  * each step: the capped bucket-pair generator (MinHash bands, SimHash
  * chunks, PPJoin prefixes, winnowing fingerprints, LSH and IVF cells),
  * and MinHash's one-scan signature, band rows and hash-set Jaccard
  * verify. What differs between the families (the bucket key, what a
  * member carries, how a pair is scored) stays in the family and is
  * passed in. */
private[graft] object NearDup {

  /** Every unordered member pair of each `key` bucket, as `as` = (a, b):
    * one shuffle on the key (groupBy-collect, never a bucket self-join),
    * then a local expansion. A bucket of n members yields n(n-1)/2 pairs,
    * so buckets outside 2..`cap` members emit none: one degenerate bucket
    * (mass duplication) would otherwise dominate the whole job, and a
    * dropped bucket is an all-duplicates cluster that exact dedup handles
    * more cheaply — run it first on dup-heavy corpora. `member` is a
    * bigint id, or a struct whose first field is the unique bigint id;
    * each pair comes once, ordered a < b by that id. The expansion is the
    * lazy [[Generators.PairsExplode]] generator, not
    * `explode(orderedPairs(...))`: inferred-filter inlining would rebuild
    * the O(n²) pair array once per emitted pair. */
  def bucketPairs(
      rows: DataFrame, key: Seq[String], member: Column, cap: Int, as: Seq[String]): DataFrame =
    rows.groupBy(key.map(col): _*)
      .agg(collect_list(member).as("ms"))
      .filter(size(col("ms")) >= 2 && size(col("ms")) <= cap)
      .select(Generators.pairsExplode(col("ms")).as(as))

  /** One-scan MinHash signatures: (id, m, hs) per doc with at least `w`
    * tokens, where `m` is the k family minima and `hs` the distinct
    * 28-bit shingle-hash set (the verify side). ShingleExplode emits each
    * doc's distinct shingles in one JVM pass (see [[Generators]] for why
    * no intermediate array column), each is hashed once, and the minima
    * and the set are one aggregate; partial aggregation collapses a doc's
    * shingles map-side (they are born in one partition), so the shuffle
    * carries one row per doc. A consumer that never reads `hs` does not
    * pay for it: column pruning drops the `collect_set` from the plan. */
  def minhashSignatures(
      docs: DataFrame, textCol: String, idCol: String, w: Int, k: Int): DataFrame = {
    val aggCols = (0 until k).map(j => min(minhashMember(j, col("h"))).as(s"m$j")) :+
      collect_set(col("h")).as("hs")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), Generators.shingleExplode(col(textCol), w).as("s"))
      .select(col("id"), hash28(col("s")).as("h"))
      .groupBy("id")
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("id"), array((0 until k).map(j => col(s"m$j")): _*).as("m"), col("hs"))
  }

  /** The `keep` columns of `df` next to one (band, bh) row per LSH band
    * of signature `sig` (`nBands` bands of `r` rows). */
  def bandRows(df: DataFrame, keep: Seq[String], sig: Column, nBands: Int, r: Int): DataFrame =
    df.select(keep.map(col) :+ explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"), bandHash(sig, b, r).as("bh"))): _*)).as("bb"): _*)
      .select(keep.map(col) ++ Seq(col("bb.band").as("band"), col("bb.bh").as("bh")): _*)

  /** Hash-set Jaccard verify: `keep` next to the exact `jaccard` of the
    * distinct hash sets `ha` and `hb`, pairs under `minJaccard` dropped.
    * The intersection size is bound once in a projection before the ratio
    * ([[jaccardFromNi]]), so each pair pays one array pass. */
  def hashSetJaccard(
      pairs: DataFrame, keep: Seq[Column], ha: Column, hb: Column, minJaccard: Double): DataFrame = {
    val bound = pairs.select(keep ++ Seq(size(array_intersect(ha, hb)).as("__ni"),
      (size(ha) + size(hb)).as("__ns")): _*)
    bound.select(bound.columns.dropRight(2).map(col) :+
        jaccardFromNi(col("__ni"), col("__ns")).as("jaccard"): _*)
      .filter(col("jaccard") >= minJaccard)
  }

  /** Exact Jaccard from a BOUND intersection size `ni` and the summed
    * set sizes `ns` (|A∪B| = |A|+|B|−|A∩B| for distinct sets), 6 dp.
    * Callers bind `size(array_intersect(…))` ONCE as a named column in
    * the projection before this one (the lshBandSCurve convention), so
    * each pair pays exactly one array pass structurally — not via codegen
    * subexpression elimination, and with no array_union second pass. */
  def jaccardFromNi(ni: Column, ns: Column): Column =
    round(ni.cast("double") / (ns - ni).cast("double"), 6)
}
