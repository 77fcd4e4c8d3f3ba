package graft.ops

import graft.functions.Generators
import graft.functions.TextHash._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operator family for large-scale text corpora
  * (SURVEY.md §2.10: exact, MinHash-LSH, SimHash, n-gram Jaccard).
  *
  * Scale design:
  *  - exact dedup = one hash-shuffle on the key (window rn=1, deterministic
  *    keeper), never `dropDuplicates` (whose survivor is partition-order
  *    dependent);
  *  - MinHash-LSH is the 100 TB path: candidate generation groups on
  *    (band, bh) bucket keys and expands each capped bucket locally
  *    ([[NearDup]]) — cost scales with bucket collisions, not n² pairs;
  *  - brute-force Jaccard is the verification baseline, only ever run on an
  *    explicit sample (the all-pairs cross join is intentionally gated on a
  *    sampling predicate);
  *  - SimHash is per-row (no shuffle at all) — near-dup lookup then becomes
  *    a bucket join on bit-chunks of the fingerprint (hamming LSH).
  */
object DedupOps {

  /** Deterministic FIXED-SIZE calibration sample: the `n` non-null-text
    * docs with the smallest `(md5(id), id)` key. This replaces the
    * id-residue `% sampleMod` convention for every all-pairs calibration
    * stage: a residue class is corpus-PROPORTIONAL (100× data → 100×
    * sample → 10,000× pairs — a latent quadratic), while this sample is
    * an ABSOLUTE size, so the pair stage is O(n²) in a constant n at any
    * corpus scale. Cost is one map-only md5 pass plus a distributed
    * top-N (TakeOrdered — per-partition heaps, no corpus shuffle). The
    * md5 order is independent of id assignment order, so the draw is
    * uniform, and the oracle mirrors it verbatim:
    * `ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT n`. */
  private[graft] def md5TopNSample(
      docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    require(n >= 1, s"bad sampleN: $n")
    docs.filter(col(textCol).isNotNull)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(n)
  }

  /** Exact dedup: keep the row with the minimum `idCol` per `keyCol` value.
    * One shuffle; survivor is deterministic. */
  def exactDedup(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact dedup for embedding corpora — the "exact-dedup-first" contract
    * the LSH near-dup operators assume on dup-heavy data: key = md5 of the
    * comma-joined float components (bit-exact: Float.toString round-trips),
    * so byte-identical vectors collapse to the minimum-id survivor before
    * any n²-per-bucket candidate generation runs. One shuffle on the
    * 128-bit key. */
  def exactDedupByVector(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    exactDedup(
      emb.withColumn("__vkey", md5(concat_ws(",", col(vecCol).cast("array<string>")))),
      "__vkey", idCol).drop("__vkey")

  /** Corpus duplication profile: total docs, distinct full texts, and
    * distinct `prefixLen`-token prefixes (content-defined key) — the
    * summary a dedup pass reports before/after. Single row. */
  def dedupStats(docs: DataFrame, textCol: String, idCol: String, prefixLen: Int): DataFrame = {
    val toks = tokens(col(textCol))
    docs
      .filter(col(textCol).isNotNull)
      .select(
        col(idCol),
        col(textCol).as("__text"),
        concat_ws(" ", slice(toks, 1, prefixLen)).as("__prefix"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("__text")).as("n_distinct_text"),
        countDistinct(col("__prefix")).as("n_distinct_prefix"))
  }

  /** Exact dedup by content-defined key: one hash-groupBy on the
    * `prefixLen`-token prefix, reporting the deterministic keeper (minimum
    * id) and copy count for every duplicated key. The 100 TB shape: a
    * single shuffle keyed on the (short) prefix, map-side partial
    * aggregation, no window. */
  def exactDedupReport(docs: DataFrame, textCol: String, idCol: String, prefixLen: Int): DataFrame = {
    val toks = tokens(col(textCol))
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), concat_ws(" ", slice(toks, 1, prefixLen)).as("__key"))
      .groupBy("__key")
      .agg(min(col("id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") >= 2)
      .select(col("keeper_id"), col("n_copies"))
      .orderBy("keeper_id")
  }

  /** Per-group DUPLICATE ATTRIBUTION: which groups (sources / dumps /
    * shards) carry the duplicate mass, and how much of it is CROSS-group —
    * the table that decides whether dedup can run per-source (cheap,
    * parallel, no cross-shard shuffle) or must run globally. Clusters are
    * exact full-text (md5 key); the keeper is the lexicographic
    * (min id) copy — the [[exactDedup]] keeper contract — and a duplicate
    * row is CROSS-group when its keeper lives in a different group.
    *
    * Output per group: (n_docs, n_dup, n_cross_dup, dup_ppm), ordered by
    * group. `n_cross_dup ≈ 0` certifies per-source dedup is safe;
    * `n_cross_dup ≈ n_dup` means the duplication is syndication across
    * sources and only a global pass removes it.
    *
    * 100 TB shape: one shuffle keyed on the 32-char md5 (never the text),
    * map-side combinable keeper aggregate, and the attribution join reuses
    * the same key partitioning (no second shuffle of the corpus); the
    * per-group result is ≤ #groups rows. */
  def dupAttribution(
      docs: DataFrame, textCol: String, idCol: String, groupCol: String): DataFrame = {
    val keyed = docs.filter(col(textCol).isNotNull)
      .select(col(groupCol).as("g"), col(idCol).as("id"),
        md5(col(textCol)).as("__k"))
    val keepers = keyed.groupBy("__k")
      .agg(min(struct(col("id"), col("g"))).as("kp"))
      .select(col("__k"), col("kp.id").as("keep_id"), col("kp.g").as("keep_g"))
    keyed.join(keepers, Seq("__k"))
      .groupBy(col("g").as(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("id") =!= col("keep_id"), 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("id") =!= col("keep_id") && col("g") =!= col("keep_g"), 1L)
          .otherwise(0L)).as("n_cross_dup"))
      .withColumn("dup_ppm", expr("n_dup * 1000000 div n_docs"))
      .orderBy(groupCol)
  }

  /** Theoretical band-collision probability at the midpoint of each
    * jaccard bucket: `1 − (1 − s^r)^b` (the LSH S-curve), rounded to ppm.
    * Computed ONCE driver-side and inlined as literals into BOTH the
    * engine plan and the oracle SQL — the [[SimilarityOps.hyperplanes]]
    * convention for shared derived constants. */
  private[graft] def sCurveTheoryPpm(nBands: Int, r: Int, nBuckets: Int): Seq[Long] =
    (0 until nBuckets).map { i =>
      val s = (i + 0.5) / nBuckets
      math.round(1e6 * (1.0 - math.pow(1.0 - math.pow(s, r), nBands)))
    }

  /** LSH BAND S-CURVE calibration — the table you read to CHOOSE
    * `nBands`/`r` before running MinHash dedup at scale: over the
    * deterministic fixed-size [[md5TopNSample]], bucket every pair by its EXACT
    * shingle-set jaccard (integer ppm deciles) and report the EMPIRICAL
    * band-collision rate (the fraction of pairs sharing at least one of
    * the `nBands` signature bands) next to the THEORETICAL S-curve value
    * `1 − (1 − s^r)^b` at the bucket midpoint. A low-jaccard bucket with
    * a high empirical rate means wasted verify work (bands too
    * permissive); a high-jaccard bucket below ~10⁶ ppm means missed
    * near-dups (bands too strict). The per-pair companion is
    * [[minhashCalibration]] (signature-estimate error on VERIFIED pairs);
    * this op measures the CANDIDATE-GENERATION stage itself, including
    * the pairs it never surfaces.
    *
    * Determinism: exact integer jaccard (n∩·10⁶ div n∪ over the distinct
    * 28-bit shingle-hash sets), exact band-slice equality, truncating
    * ppm; theory values are driver-computed literals identical in both
    * engines.
    *
    * 100 TB shape: calibration is FIXED-SIZE-sample-scoped by
    * construction ([[md5TopNSample]] — all-pairs exact jaccard is the
    * measurement, not a corpus operation, and `sampleN` is an absolute
    * bound, so the pair stage is a CONSTANT ≤ sampleN²/2 pairs at any
    * corpus scale); signatures and hash sets are one map-only pass over
    * the sample, the pair stage is a broadcast cross join of the bounded
    * sample against itself, and the output is ≤ nBuckets rows. */
  def lshBandSCurve(
      docs: DataFrame, textCol: String, idCol: String,
      w: Int, nBands: Int, r: Int, sampleN: Int,
      nBuckets: Int = 10): DataFrame = {
    require(nBands >= 1 && r >= 1, s"bad band shape: $nBands x $r")
    require(nBuckets >= 1, s"bad nBuckets: $nBuckets")
    // sample-bounded (sampleN rows of signature + hash set), feeds BOTH
    // cross-join sides — materialized once instead of re-scanning the
    // corpus and re-minhashing per side (r9: q160 5.3 s → ~3 s at sf0.1)
    val side = signatures(md5TopNSample(docs, textCol, idCol, sampleN),
      textCol, idCol, w, nBands * r)
    // re-spread the STREAMED side (the [[jaccardBruteForce]] trick, r13;
    // EXPLICIT count r14): the top-N checkpoint lands in one partition,
    // so without this the whole n²/2 S-curve kernel (array_intersect +
    // per-band slice equality per pair) ran on ONE task. The r13
    // keyless-count form `repartition(col("id"))` was REPARTITION_BY_COL
    // — AQE's coalescer folded the few-MB sample right back to one
    // partition (r13 verdict: scaling ratio 0.95, still serial).
    // REPARTITION_BY_NUM is exempt from coalescing, so the fan-out
    // sticks; the sample is bounded (sampleN rows), so a fixed
    // core-count fan-out is scale-safe.
    val a = side.repartition(side.sparkSession.sparkContext.defaultParallelism, col("id"))
      .select(col("id").as("ia"), col("m").as("ma"), col("hs").as("ha"))
    val b = side.select(col("id").as("ib"), col("m").as("mb"), col("hs").as("hb"))
    val theory = sCurveTheoryPpm(nBands, r, nBuckets)
    a.crossJoin(b).filter(col("ia") < col("ib"))
      .select(
        // |a ∪ b| = |a| + |b| − |a ∩ b| (distinct sets) — the intersect
        // size is bound ONCE here so the one-array-pass-per-pair claim
        // holds structurally, not via codegen subexpression elimination
        expr("size(array_intersect(ha, hb))").as("ni"),
        expr("size(ha) + size(hb)").as("ns"),
        expr(s"exists(sequence(0, ${nBands - 1}), bd -> " +
          s"slice(ma, bd * $r + 1, $r) = slice(mb, bd * $r + 1, $r))").as("collide"))
      .select(expr("ni * 1000000L div (ns - ni)").as("jppm"), col("collide"))
      .select(least(expr(s"jppm * $nBuckets div 1000000"), lit(nBuckets - 1L))
        .as("bucket"), col("collide"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("collide"), 1L).otherwise(0L)).as("n_collide"))
      .select(col("bucket"),
        (col("bucket") * (1000000L / nBuckets)).as("lo_ppm"),
        col("n_pairs"), col("n_collide"),
        expr("n_collide * 1000000 div n_pairs").as("collide_ppm"),
        element_at(array(theory.map(lit): _*), (col("bucket") + 1).cast("int"))
          .as("theory_ppm"))
      .orderBy("bucket")
  }

  /** EDIT-DISTANCE near-dup pairs — the TYPO-level dedup the token-set
    * family (MinHash/SimHash/Jaccard) is blind to: a dozen character
    * edits barely move a 3-shingle set, but OCR noise, mojibake repairs
    * and template fill-ins differ by exactly such edits. All pairs with
    * `levenshtein ≤ maxDist` over the deterministic id-residue sample,
    * with a COMPLETE candidate generation: `lev(a,b) ≥ |len(a) − len(b)|`,
    * so blocking each doc to length keys `len..len+maxDist` and joining
    * on the partner's exact length provably loses no qualifying pair
    * (each unordered pair is generated exactly once: the shorter side
    * probes upward; equal lengths tie-break on id).
    *
    * The verify kernel is the BANDED levenshtein (threshold form —
    * O(len·maxDist) per pair, early exit past the band instead of the
    * full O(len²) matrix).
    *
    * Output: (doc_a, doc_b, dist) with doc_a < doc_b, ordered
    * (dist asc, doc_a, doc_b), top `limit`.
    *
    * 100 TB shape: the length join shuffles (length-key, doc) rows —
    * maxDist+1 keys per doc — and candidate volume is bounded by
    * length-class co-location, not n²; at corpus scale a same-length
    * class is still large, so production deployments run this kernel
    * per-shard / per-cluster (the [[jaccardBruteForce]] sampleMod
    * convention) or behind a q-gram count prefilter; the blocking + band
    * here is the exact-complete core those wrappers share. */
  def levenshteinPairs(
      docs: DataFrame, textCol: String, idCol: String,
      maxDist: Int, sampleMod: Int, limit: Int): DataFrame = {
    require(maxDist >= 0, s"bad maxDist: $maxDist")
    require(sampleMod >= 1, s"bad sampleMod: $sampleMod")
    require(limit >= 1, s"bad limit: $limit")
    val base = docs
      .filter(col(textCol).isNotNull && col(idCol) % sampleMod === 0)
      .select(col(idCol).as("id"), col(textCol).as("t"),
        length(col(textCol)).as("len"))
    val probes = base.select(col("id").as("id_a"), col("t").as("ta"),
      col("len").as("la"),
      explode(sequence(col("len"), col("len") + maxDist)).as("lk"))
    probes
      .join(base.select(col("id").as("id_b"), col("t").as("tb"),
        col("len").as("lk")), "lk")
      .filter(col("la") < col("lk") ||
        (col("la") === col("lk") && col("id_a") < col("id_b")))
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"),
        levenshtein(col("ta"), col("tb"), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0) // banded kernel returns -1 past the threshold
      .orderBy(col("dist").asc, col("doc_a").asc, col("doc_b").asc)
      .limit(limit)
  }

  /** INCREMENTAL exact dedup: dedup a NEW shard against an existing
    * corpus without touching the corpus — the production ingest pattern
    * (re-deduping 100 TB per arriving shard is not a plan). A new row
    * survives iff (a) its key does not already exist in the corpus
    * (left ANTI join — with the corpus side reduced to DISTINCT keys
    * first, so the join carries one row per key, not per corpus row) and
    * (b) it is the minimum-id holder of its key within the shard.
    * Composes with itself: union the survivors into the corpus and the
    * next shard's anti-join sees them. */
  def exactDedupDelta(
      newDocs: DataFrame, existing: DataFrame,
      keyCol: String, idCol: String): DataFrame = {
    val corpusKeys = existing
      .filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("__k"))
      .distinct()
    newDocs
      .filter(col(keyCol).isNotNull)
      .select(col(idCol).as("id"), col(keyCol).as("__k"))
      .join(corpusKeys, Seq("__k"), "left_anti")
      .groupBy("__k")
      .agg(min(col("id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))
      .orderBy("keeper_id")
  }

  /** BLOOM-pre-filtered incremental dedup: result-identical to
    * [[exactDedupDelta]] (false positives fall through to the exact anti
    * join; the filter has no false negatives), but the bulk of a mostly-new
    * shard never enters the join at all.
    *
    * 100 TB shape: the corpus's distinct keys fold into ONE constant-size
    * Bloom filter (a distributed aggregate; `expectedKeys`/`fpp` size it,
    * e.g. 1e9 keys at 1% ≈ 1.2 GB — in production a persisted per-epoch
    * artifact, rebuilt on compaction, reused across every arriving shard).
    * The broadcast probe is a map-only pass over the shard: keys the filter
    * has never seen — the overwhelming majority of a healthy crawl — are
    * DEFINITELY new and skip the anti join; only the `fpp` sliver plus the
    * true dups pay the corpus-key shuffle. Deterministic end to end
    * (Murmur3-based sketch, and the result is join-verified regardless). */
  def exactDedupDeltaBloom(
      newDocs: DataFrame, existing: DataFrame,
      keyCol: String, idCol: String,
      expectedKeys: Long, fpp: Double): DataFrame = {
    require(expectedKeys >= 1, s"expectedKeys must be >= 1: $expectedKeys")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    val corpusKeys = existing
      .filter(col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as("__k"))
      .distinct()
    // an empty corpus yields a null-bitset filter whose probe NPEs; an
    // absent filter and "never seen" are the same statement
    val maybeSeen: Column = if (corpusKeys.isEmpty) lit(false) else {
      val bloom = corpusKeys.stat.bloomFilter("__k", expectedKeys, fpp)
      // codegen probe, not a ScalaUDF: the sketch rides the (per-stage
      // broadcast) task binary and the delta path stays interpreter-free
      graft.functions.BloomProbe.probe(col("__k"), bloom)
    }
    val shard = newDocs
      .filter(col(keyCol).isNotNull)
      .select(col(idCol).as("id"), col(keyCol).cast("string").as("__k"))
    val definitelyNew = shard.filter(!maybeSeen)
    val verified = shard.filter(maybeSeen)
      .join(corpusKeys, Seq("__k"), "left_anti")
    definitelyNew.unionByName(verified)
      .groupBy("__k")
      .agg(min(col("id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))
      .orderBy("keeper_id")
  }

  /** PREFIX-CONTAINMENT dedup ("substring dedup lite"): find documents
    * whose text is a PROPER prefix of another document's text — the
    * truncated-page / partial-crawl duplicate class that exact dedup
    * misses. Returns (doc_id, n_chars) of contained docs (one
    * representative per distinct text: min id — compose after exact
    * dedup).
    *
    * Sorted-adjacency argument: in lexicographic text order, if `s` is a
    * proper prefix of ANY other text `t`, then `s`'s immediate successor
    * `u` also extends `s` (s < u <= t; if u first differed from s at
    * j < len(s) with u[j] > s[j], then t — which agrees with s there —
    * would sort below u, contradiction). So ONE lead() window finds every
    * contained doc; no pairwise comparison.
    *
    * Scale contract: the window partitions by the first `bucketChars`
    * chars of the text, never a global sort — any extender of `s` with
    * len(s) >= bucketChars shares `s`'s bucket, so per-bucket adjacency
    * is exactly global adjacency among the candidates. Texts SHORTER than
    * the bucket prefix sit alone in their buckets (their bucket is the
    * whole text) and are handled by a broadcast pass: such `s` is
    * contained iff some DISTINCT bucket other than `s` itself starts
    * with `s` (a doc's bucket is a prefix of its text). Short docs are
    * degenerate by construction (< bucketChars chars), so that side
    * stays broadcast-sized. */
  def prefixContainedDocs(
      docs: DataFrame, textCol: String, idCol: String, bucketChars: Int): DataFrame = {
    require(bucketChars >= 1, s"bucketChars must be >= 1: $bucketChars")
    val d = docs
      .filter(col(textCol).isNotNull)
      .groupBy(col(textCol).as("t"))
      .agg(min(col(idCol)).as("id"))
      .withColumn("__bkt", substring(col("t"), 1, bucketChars))
    val w = Window.partitionBy(col("__bkt")).orderBy(col("t").asc)
    val longContained = d
      .withColumn("__nxt", lead(col("t"), 1).over(w))
      .filter(length(col("t")) >= bucketChars &&
        col("__nxt").isNotNull && col("__nxt").startsWith(col("t")))
      .select(col("id"), col("t"))
    val shorts = d.filter(length(col("t")) < bucketChars).select(col("id"), col("t"))
    val shortContained = d.select(col("__bkt")).distinct()
      .join(broadcast(shorts), col("__bkt").startsWith(col("t")) && col("__bkt") =!= col("t"))
      .select(col("id"), col("t"))
      .distinct()
    longContained.unionByName(shortContained)
      .select(col("id").as("doc_id"), length(col("t")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** PRIORITIZED exact dedup report: like [[exactDedupReport]], but the
    * keeper of each duplicate group is the copy with the LOWEST
    * (priority, id) — "keep the wiki copy over the crawl copy" curation
    * semantics, with the id as the deterministic tiebreak inside a
    * priority tier. Implemented as a lexicographic struct-min AGGREGATE
    * (partial-agg/map-side combinable, one shuffle on the key), not a
    * per-group row_number window — at 100 TB the window form re-sorts
    * every group while the min folds. */
  def prioritizedDedupReport(
      docs: DataFrame, textCol: String, idCol: String, priorityCol: String,
      prefixLen: Int): DataFrame = {
    val toks = tokens(col(textCol))
    docs
      .filter(col(textCol).isNotNull && col(priorityCol).isNotNull)
      .select(
        concat_ws(" ", slice(toks, 1, prefixLen)).as("__key"),
        struct(col(priorityCol).as("p"), col(idCol).as("id")).as("__pk"))
      .groupBy("__key")
      .agg(min(col("__pk")).as("__best"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") >= 2)
      .select(
        col("__best.id").as("keeper_id"),
        col("__best.p").as("keeper_priority"),
        col("n_copies"))
      .orderBy("keeper_id")
  }

  /** Tokenized + shingled view of a corpus: (id, shingles) for docs with at
    * least `w` tokens. Shared by the MinHash and Jaccard paths. */
  def shingled(docs: DataFrame, textCol: String, idCol: String, w: Int): DataFrame = {
    val toks = tokens(col(textCol))
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), toks.as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("id"), shingles(col("toks"), w).as("sh"))
  }

  /** (id, band, bh) LSH bucket keys for every doc — the shared front half
    * of the MinHash family, off the one-scan [[NearDup.minhashSignatures]]
    * (its unread hash set is pruned from the plan). */
  private[graft] def bandKeys(
      docs: DataFrame, textCol: String, idCol: String,
      w: Int, nBands: Int, r: Int): DataFrame =
    NearDup.bandRows(NearDup.minhashSignatures(docs, textCol, idCol, w, nBands * r),
      Seq("id"), col("m"), nBands, r)

  /** [[NearDup.minhashSignatures]] (id, m, hs), materialized: every caller
    * reads it from two or three branches (the band pipeline and both
    * verify sides), which would otherwise each re-scan the corpus. */
  private def signatures(
      docs: DataFrame, textCol: String, idCol: String, w: Int, k: Int): DataFrame =
    NearDup.minhashSignatures(docs, textCol, idCol, w, k).localCheckpoint()

  /** The persisted corpus band-key INDEX of the incremental near-dup
    * design ([[minhashDedupDelta]]'s production half): (id, band, bh),
    * nBands small ints per doc, appended as shards land. Batch delta
    * screening and the streaming screen
    * ([[graft.streaming.StreamingOps.streamingNearDupScreen]]) both join
    * candidates off this artifact instead of re-scanning corpus text. */
  def bandKeyIndex(
      docs: DataFrame, textCol: String, idCol: String,
      w: Int = 3, nBands: Int = 8, r: Int = 2): DataFrame =
    bandKeys(docs, textCol, idCol, w, nBands, r)

  /** MinHash-LSH near-duplicate pairs: shingle(w) → one-scan signature
    * (k = nBands·r minima + the distinct shingle-hash set) → (band, bh)
    * bucket keys → capped bucket pairs → exact hash-set Jaccard verify →
    * top-`limit` pairs by similarity (total order). The bucket shuffle
    * carries only (id, band, bh); the verify joins attach the carried
    * hash sets to the surviving candidates. */
  def minhashPairs(
      docs: DataFrame, textCol: String, idCol: String,
      w: Int = 3, nBands: Int = 8, r: Int = 2,
      minJaccard: Double = 0.0, limit: Int = 50,
      maxBucket: Int = 1000): DataFrame =
    minhashVerifiedPairs(docs, textCol, idCol, w, nBands, r, minJaccard, maxBucket)
      .orderBy(col("jaccard").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(limit)

  /** The UNORDERED, UNCAPPED verified near-dup pair set behind
    * [[minhashPairs]] — for consumers that need the complete set as a
    * relation (clustering, the curation funnel's near-dup stage), where a
    * top-K sort would both truncate the graph and force a needless total
    * sort at scale. Same single-scan signature + carried-hash verify. */
  private[graft] def minhashVerifiedPairs(
      docs: DataFrame, textCol: String, idCol: String,
      w: Int, nBands: Int, r: Int,
      minJaccard: Double, maxBucket: Int = 1000): DataFrame =
    verifiedPairs(signatures(docs, textCol, idCol, w, nBands * r),
      nBands, r, minJaccard, maxBucket)

  /** (doc_a, doc_b, jaccard) of the candidate pairs of signatures `sig`
    * at or above `minJaccard`. */
  private def verifiedPairs(
      sig: DataFrame, nBands: Int, r: Int, minJaccard: Double, maxBucket: Int): DataFrame =
    NearDup.hashSetJaccard(candidateHashPairs(sig, nBands, r, maxBucket),
      Seq(col("doc_a"), col("doc_b")), col("__ha"), col("__hb"), minJaccard)

  /** MINHASH ESTIMATOR CALIBRATION: for every verified LSH pair, the
    * signature-agreement ESTIMATE of Jaccard (matching components / k —
    * the unbiased estimator the banding math is built on, Broder 1997)
    * next to the EXACT hash-set Jaccard the verify stage computed, worst
    * calibrated pairs first. The index-health diagnostic for the whole
    * MinHash family: the band false-negative rate every threshold choice
    * assumes (1 − (1 − t^r)^b) is a function of the ESTIMATOR being
    * on-calibration, so a drifting |est − exact| on live pairs is the
    * early warning that k is too small (variance √(J(1−J)/k)) or the
    * shingle distribution has degenerated (tiny universe, capped
    * buckets) — re-tune bands before trusting recall.
    *
    * 100 TB shape: pairs come from the capped LSH pipeline (never n²);
    * the signatures are the materialized relation the pairs came from,
    * read back by id; the component comparison is a
    * zip_with/aggregate HOF inside codegen. Integer ppm everywhere; the
    * exact side enters as its 6-dp contract rounded to ppm. */
  def minhashCalibration(
      docs: DataFrame, textCol: String, idCol: String,
      w: Int = 3, nBands: Int = 8, r: Int = 2,
      minJaccard: Double = 0.0, limit: Int = 50,
      maxBucket: Int = 1000): DataFrame = {
    val k = nBands * r
    val sig = signatures(docs, textCol, idCol, w, k)
    val pairs = verifiedPairs(sig, nBands, r, minJaccard, maxBucket)
    val matches = aggregate(
      zip_with(col("ma"), col("mb"), (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    pairs
      .join(sig.select(col("id").as("doc_a"), col("m").as("ma")), "doc_a")
      .join(sig.select(col("id").as("doc_b"), col("m").as("mb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard") * 1e6, 0).cast("long").as("exact_ppm"),
        matches.as("est_matches"))
      .select(col("doc_a"), col("doc_b"), col("exact_ppm"), col("est_matches"),
        expr(s"est_matches * 1000000 div $k").as("est_ppm"))
      .withColumn("abs_err_ppm", abs(col("est_ppm") - col("exact_ppm")))
      .orderBy(col("abs_err_ppm").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(limit)
  }

  /** The shared LSH candidate pipeline behind [[minhashVerifiedPairs]],
    * [[minhashCalibration]] and [[containmentPairs]] over materialized
    * one-scan signatures `sig` (id, m, hs): (band, bh) bucket pairs under
    * the `maxBucket` cap, a pair colliding in several bands once, both
    * sides' carried hash sets attached. (Carrying the sets measured 2.7 s
    * → 1.5 s at sf0.1 on [[minhashDedupDelta]] against a verify that
    * re-joined raw text and re-shingled both sides.) Returns (doc_a,
    * doc_b, __ha, __hb). */
  private def candidateHashPairs(
      sig: DataFrame, nBands: Int, r: Int, maxBucket: Int): DataFrame =
    NearDup.bucketPairs(NearDup.bandRows(sig, Seq("id"), col("m"), nBands, r),
        Seq("band", "bh"), col("id"), maxBucket, Seq("doc_a", "doc_b"))
      .distinct()
      .join(sig.select(col("id").as("doc_a"), col("hs").as("__ha")), "doc_a")
      .join(sig.select(col("id").as("doc_b"), col("hs").as("__hb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("__ha"), col("__hb"))

  /** SQL text of the depth-1 PPJoin+ suffix-filter hamming lower bound
    * for ONE probe direction: probe value `v` (the other suffix's exact
    * median) lands in this suffix (own median `m`, strict-left size
    * `ll`, length `l`) at an unknown rank u constrained by `m` to
    * [0,ll] / {ll} / [ll+1,l]; the other suffix's exact below/at-or-
    * above-probe counts give H ≥ |u−a| + |u−c| (`a` = #other < v, `c` =
    * l − #other ≥ v), and the closed-form min of that V-sum over the u
    * interval is this expression. This text IS the filter's spec: the
    * DuckDB mirror splices it verbatim; the engine evaluates the same
    * math through the [[suffixKeep]] long kernel (spec-pinned equal to
    * this text on randomized inputs), because the expression form
    * inflates past codegen under pushdown inlining — see the kernel's
    * measured justification. */
  private[graft] def suffixHammingBound(
      v: String, m: String, ll: String, l: String,
      a: String, c: String): String = {
    val ulo = s"(CASE WHEN $v < $m THEN 0 WHEN $v = $m THEN $ll ELSE $ll + 1 END)"
    val uhi = s"(CASE WHEN $v < $m THEN $ll WHEN $v = $m THEN $ll ELSE $l END)"
    s"CASE WHEN $uhi < least($a, $c) " +
      s"THEN least($a, $c) + greatest($a, $c) - 2 * $uhi " +
      s"WHEN $ulo > greatest($a, $c) " +
      s"THEN 2 * $ulo - least($a, $c) - greatest($a, $c) " +
      s"ELSE greatest($a, $c) - least($a, $c) END"
  }

  /** [[suffixHammingBound]] for one direction as plain long arithmetic —
    * the ENGINE's evaluation of the identical math (spec-pinned equal to
    * the SQL text on randomized inputs in `DedupOpsSpec`). */
  private def hBound(v: Long, m: Long, ll: Long, l: Long,
      a: Long, c: Long): Long = {
    val ulo = if (v < m) 0L else if (v == m) ll else ll + 1
    val uhi = if (v < m) ll else if (v == m) ll else l
    val lo = math.min(a, c); val hi = math.max(a, c)
    if (uhi < lo) lo + hi - 2 * uhi
    else if (ulo > hi) 2 * ulo - lo - hi
    else hi - lo
  }

  /** The whole PPJoin+ suffix-filter KEEP predicate over one candidate
    * pair's min-meeting facts — a single tight JVM kernel, deliberately
    * a UDF (measured justification, the catalog's exception rule): the
    * same predicate as a Column expression inflates to a ~5000-node
    * tree once predicate pushdown substitutes every la/lal/h1/h2 alias
    * (pushdown inlines regardless of alias cost), the tree lands in a
    * join condition too large for codegen, and the interpreted
    * per-probe evaluation took q123 from 5.4 s to 15 s at sf0.1; this
    * kernel is one virtual call and ~40 primitive long ops per
    * candidate. Null medians (empty suffix, i = n−1) keep the pair —
    * the la/lb < 1 arm. */
  private[graft] def suffixKeep(tNum: Long, tDen: Long)(
      na: Long, nb: Long, ia: Long, ib: Long,
      ma: java.lang.Long, mb: java.lang.Long): Boolean = {
    val la = na - 1 - ia
    val lb = nb - 1 - ib
    if (la < 1 || lb < 1 || ma == null || mb == null) return true
    val mal = ma.longValue()
    val mbl = mb.longValue()
    val lal = (la - 1) / 2
    val lbl = (lb - 1) / 2
    val h1 = hBound(mbl, mal, lal, la, lbl, la - lb + lbl)
    val h2 = hBound(mal, mbl, lbl, lb, lal, lb - la + lal)
    (1 + (la + lb - math.max(h1, h2)) / 2) * (tNum + tDen) >= tNum * (na + nb)
  }

  /** EXACT-COMPLETE Jaccard self-join by PREFIX FILTERING (the AllPairs /
    * PPJoin candidate principle — Bayardo et al. WWW 2007; the
    * distributed formulation is Vernica et al. SIGMOD 2010): every pair
    * of docs whose distinct w-shingle-hash sets have Jaccard ≥ tNum/tDen,
    * with NO probabilistic recall loss — the guarantee the whole MinHash
    * family trades away for speed. The filter: order the universe by
    * ascending frequency (rarest first, ties by hash), give each doc a
    * PREFIX of its first |x| − ⌈t·|x|⌉ + 1 ordered elements, and only
    * pairs sharing a prefix element can reach Jaccard t — if x and y
    * shared no prefix element, their intersection would fit inside the
    * suffixes, |x∩y| ≤ ⌈t·|x|⌉ − 1 < t·|x| ≤ t·|x∪y|. Every surviving
    * candidate is verified EXACTLY, and the threshold test is the integer
    * cross-multiplication tDen·|∩| ≥ tNum·|∪| — the threshold is a
    * RATIONAL, so no double sits near the keep boundary.
    *
    * Rarest-first ordering is what makes the filter bite: a stop-shingle
    * in every doc lands at the END of every ordered set and almost never
    * inside a prefix, so candidate buckets form around RARE shingles.
    * The `maxBucket` cap bounds the degenerate corpus (mass-duplicated
    * docs bucket together on their rare shingles) exactly like the LSH
    * paths — completeness is modulo the cap, and dropped buckets are
    * all-duplicate clusters that [[exactDedup]] should have removed
    * first.
    *
    * 100 TB shape: one corpus scan to distinct (doc, hash) occurrences;
    * the frequency relation is universe-sized and joins on the hash key
    * (never broadcast, never collected); per-doc ordering is a local
    * `sort_array` inside the doc-key aggregate, NOT a global window; the
    * prefix explode shuffles ≈ (1−t)·Σ|x| rows (each carrying one
    * BIGINT suffix-median probe for the PPJoin+ suffix filter — the
    * arrays themselves never ride the shuffle); per-bucket pair
    * expansion is the lazy capped [[graft.functions.Generators.PairsExplode]];
    * verify joins attach the two ordered key arrays by doc key. Output:
    * (doc_a, doc_b, n_common, n_union, jaccard_ppm) — exact integers,
    * jaccard in ppm, total-ordered. */
  def jaccardJoinExact(
      docs: DataFrame, textCol: String, idCol: String,
      w: Int = 3, tNum: Long = 1L, tDen: Long = 2L,
      maxBucket: Int = 1000): DataFrame = {
    require(tDen > 0 && tNum > 0 && tNum <= tDen,
      s"threshold must be a fraction in (0,1]: $tNum/$tDen")
    require(maxBucket >= 2, s"bad maxBucket: $maxBucket")
    // distinct (doc, 28-bit shingle hash) occurrences: ShingleExplode
    // already emits per-doc distinct shingles, but two shingles can
    // collide at 28 bits, so the hash column needs its own distinct —
    // set semantics must hold on the HASHED universe both engines see
    val occ = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        Generators.shingleExplode(col(textCol), w).as("s"))
      .select(col("id"), hash28(col("s")).as("h"))
      .distinct()
    val freq = occ.groupBy("h").agg(count(lit(1)).as("f"))
    // per-doc ordered KEY array (freq asc, hash asc — packed into one
    // BIGINT f·2²⁸ + h, order-identical to the (f, h) struct sort since
    // h < 2²⁸) + set size; the sort is local to the aggregate — no
    // global rank window. Keys intersect exactly like hashes (f is a
    // function of h), and the packed form is what lets the SUFFIX
    // FILTER below compare probe medians as plain integers.
    val sorted = occ.join(freq, "h")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("f") * lit(1L << 28) + col("h"))).as("__ks"))
      .select(col("id"), col("__ks"), size(col("__ks")).cast("long").as("n"))
      // (r14, measured and REJECTED: a REPARTITION_BY_NUM respread here
      // parallelized the prefix-explode map 32× but moved the bottleneck
      // to the 4-task meet/verify reduces — net wall unchanged at sf0.1,
      // one extra exchange at scale. Left as-was.)
      .localCheckpoint() // feeds the prefix explode + both verify joins
    val prefLen = (col("n") -
      expr(s"($tNum * n + $tDen - 1) div $tDen") + lit(1)).cast("int")
    // PPJoin LENGTH FILTER (Xiao et al. 2008): J(A,B) >= t implies
    // min(|A|,|B|)/max(|A|,|B|) >= t (since |A∩B| <= min and |A∪B| >= max),
    // so pairs failing tDen·min >= tNum·max cannot reach the threshold.
    // Sizes ride the prefix explode as struct payloads, so the filter
    // prunes BEFORE the pair distinct and both verify joins — pure
    // candidate-volume reduction, bit-identical output.
    // PPJoin POSITIONAL FILTER (Xiao et al. 2008): both arrays are sorted
    // in the same global (freq, hash) order, so a pair's globally-first
    // common hash has the MINIMAL position in BOTH arrays — and is always
    // an observed meeting (its positions are bounded by any observed
    // meeting's, which sit inside both prefixes). No common element
    // precedes it, hence overlap <= 1 + min(na−1−ia, nb−1−ib) at
    // (ia, ib) = per-pair min positions; pairs whose bound misses
    // overlap >= ⌈tNum·(na+nb)/(tNum+tDen)⌉ cannot reach the threshold.
    // Positions ride the prefix explode; the filter replaces the bare
    // pair-distinct with a (pair → min-position) aggregate and prunes
    // BEFORE the verify joins (measured at sf0.1: 310k → 125k
    // candidates, verify stage 4.9 s → 1.9 s, identical 256 survivors).
    // The DuckDB mirror applies the IDENTICAL filter over the identical
    // capped meeting set, so equality is by construction even in the
    // capped corner where the first meeting's bucket was dropped and the
    // bound is computed at a later meeting.
    // PPJoin+ SUFFIX FILTER (Xiao et al. 2008 §4.2, depth-1 probe): each
    // exploded prefix row carries the MEDIAN key of its suffix (one array
    // lookup — the arrays never ride the shuffle). For a pair met at the
    // min positions (ia, ib), every other common element lies in BOTH
    // suffixes (the min meeting is the globally-first common key, modulo
    // the shared bucket cap), so overlap ≤ 1 + |Sa∩Sb|, and the suffix
    // intersection is bounded through a HAMMING lower bound: probing
    // suffix Sb's exact median split (Lbl below, lb−Lbl at-or-above)
    // against Sa, whose own median constrains #Sa<mb to an interval,
    // gives H(Sa,Sb) ≥ min over that interval of |u−Lbl| + |u−(la−lb+
    // Lbl)| (closed form below); both probe directions run and the max
    // bound applies; |Sa∩Sb| ≤ (la+lb−H) div 2. Pure integer arithmetic,
    // pruned BEFORE the verify joins; the DuckDB mirror applies the
    // IDENTICAL filter over the identical capped meeting set, so
    // equality is by construction even in the capped corner. MEASURED
    // at sf0.1 (t = 1/2, w = 3): 124,973 positional
    // survivors → 124,457 after the suffix probe (−0.4%), identical 256
    // final survivors (brute-force-pinned in DedupOpsSpec); wall time
    // 5.0 s steady-state vs the 6.0 s pre-filter round — the packed-key
    // sort and the narrow median joins more than pay for the probe
    // bookkeeping. The weak
    // prune is INHERENT to this universe, adjudicated two ways: (a) the
    // probe keys are uniform md5-derived hashes, so any two docs'
    // suffix median splits are near-identical and the count-difference
    // hamming bound degenerates toward the length filter; (b) the
    // frequency-aware variant (f = 1 keys can never be common; they
    // prefix every sorted array, so overlap ≤ 1 + min over sides of
    // f≥2-suffix sizes) was measured too and prunes ZERO pairs here —
    // the post-positional candidates are genuinely near-threshold, not
    // metadata-separable. On a skewed real-text corpus (Zipfian shingle
    // frequencies, length-diverse docs) both bounds bite; the filter is
    // kept because it costs one array lookup per exploded row and never
    // rides a shuffle it wasn't already on.
    // The min-meeting arg-min must stay on the codegen HashAggregate
    // path: min(struct(i, median)) forces ObjectHashAggregate (struct
    // buffers are not mutable-buffer types; measured 6 s → 17 s on
    // q123) and a DECIMAL(38,0) radix-packed min was worse still
    // (measured 41 s — wide-decimal arithmetic per meeting row). So the
    // aggregate keeps the plain BIGINT min(i) per side, and the two
    // suffix medians are fetched AFTERWARD by joining the positional
    // survivors (~10³× fewer rows than meetings) against the NARROW
    // (id, i, m) prefix-row relation — three longs per row, recomputed
    // from the pinned `sorted` relation, never the arrays.
    val meet = sorted
      .select(col("id"), col("n"), col("__ks"),
        posexplode(slice(col("__ks"), lit(1), prefLen)))
      .selectExpr("id", "n", "CAST(pos AS BIGINT) AS i",
        "CASE WHEN n - 1 - pos >= 1 THEN element_at(__ks, " +
          "CAST(pos + 2 + (n - 2 - pos) div 2 AS INT)) END AS m",
        "col AS h")
    val mpos = meet.select(col("id"), col("i"), col("m"))
    val cand = NearDup.bucketPairs(
        meet.select(struct(col("id"), col("n"), col("i")).as("ms0"), col("h")),
        Seq("h"), col("ms0"), maxBucket, Seq("a", "b"))
      .filter(least(col("a.n"), col("b.n")) * tDen >=
        greatest(col("a.n"), col("b.n")) * tNum)
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(min(col("a.i")).as("ia"), min(col("b.i")).as("ib"))
      .filter((lit(1) + least(col("na") - 1 - col("ia"),
          col("nb") - 1 - col("ib"))) * lit(tNum + tDen) >=
        lit(tNum) * (col("na") + col("nb")))
      // suffix medians at the min meeting (i is unique per side, so the
      // (id, i) join row IS the arg-min row)
      .join(mpos.select(col("id").as("doc_a"), col("i").as("ia"),
        col("m").as("ma")), Seq("doc_a", "ia"))
      .join(mpos.select(col("id").as("doc_b"), col("i").as("ib"),
        col("m").as("mb")), Seq("doc_b", "ib"))
      // one JVM kernel call per candidate — see [[suffixKeep]] for why
      // this is deliberately NOT a Column expression
      .filter(udf(suffixKeep(tNum, tDen) _).apply(
        col("na"), col("nb"), col("ia"), col("ib"), col("ma"), col("mb")))
      .select(col("doc_a"), col("doc_b"))
    cand
      .join(sorted.select(col("id").as("doc_a"), col("__ks").as("__ha"),
        col("n").as("__na")), "doc_a")
      .join(sorted.select(col("id").as("doc_b"), col("__ks").as("__hb"),
        col("n").as("__nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("__ha"), col("__hb"))).cast("long").as("n_common"),
        col("__na"), col("__nb"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("__na") + col("__nb") - col("n_common")).as("n_union"))
      .filter(col("n_common") * tDen >= col("n_union") * tNum)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_union"),
        expr("n_common * 1000000 div n_union").as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("doc_a").asc, col("doc_b").asc)
  }

  /** CONTAINMENT near-dup pairs (Broder's containment coefficient): pairs
    * where the SMALLER document's distinct shingle set is largely inside
    * the larger's — |A∩B| / min(|A|, |B|) — the excerpt/quotation/
    * superset-page detector that symmetric Jaccard structurally misses
    * (a 100-line doc embedded verbatim in a 10,000-line doc has Jaccard
    * ≈ 0.01 but containment 1.0). Also reports the pair's Jaccard so
    * consumers can see exactly the high-containment/low-jaccard corner.
    *
    * Candidates come from the SAME MinHash band buckets as
    * [[minhashPairs]] (shared pipeline, shared one-scan signature), so
    * RECALL is governed by Jaccard-tuned banding: a containment pair with
    * tiny Jaccard may never share a band. That is the documented
    * trade-off of reusing the index everyone already maintains; raise
    * nBands/lower r for containment-heavy corpora, or run
    * [[prefixContainedDocs]] / [[segmentDedupReport]] for the
    * truncation/boilerplate cases with stronger guarantees. Verification
    * is exact over the carried hash sets either way — no false
    * positives. Returns (doc_a, doc_b, containment, jaccard) by
    * containment desc, capped at `limit`. */
  def containmentPairs(
      docs: DataFrame, textCol: String, idCol: String,
      w: Int = 3, nBands: Int = 8, r: Int = 2,
      minContainment: Double = 0.8, limit: Int = 50,
      maxBucket: Int = 1000): DataFrame =
    candidateHashPairs(signatures(docs, textCol, idCol, w, nBands * r), nBands, r, maxBucket)
      // intersect size bound ONCE — it feeds the containment AND the
      // jaccard; set sizes are cheap but bound too for the min/union math
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("__ha"), col("__hb"))).as("__ni"),
        size(col("__ha")).as("__na"), size(col("__hb")).as("__nb"))
      .select(col("doc_a"), col("doc_b"),
        round(col("__ni").cast("double") /
          least(col("__na"), col("__nb")).cast("double"), 6).as("containment"),
        NearDup.jaccardFromNi(col("__ni"), col("__na") + col("__nb")).as("jaccard"))
      .filter(col("containment") >= minContainment)
      .orderBy(col("containment").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(limit)

  /** PAIR TOKEN-F1 (unigram-overlap F1 — ROUGE-1-F between documents,
    * Lin 2004, computed symmetrically over DISTINCT tokens): for every
    * verified MinHash near-dup candidate pair, the harmonic mean of
    * token precision and recall — 2·|Ta∩Tb| / (|Ta|+|Tb|) — in exact
    * integer ppm. The near-dup QUALITY metric: shingle-hash Jaccard
    * (what the LSH pipeline thresholds on) is order-sensitive and
    * w-gram-brittle, token-F1 is the order-insensitive complement —
    * a pair with high F1 but low Jaccard is a SHUFFLED near-copy
    * (reordered boilerplate), high Jaccard with middling F1 is a
    * length-skewed containment case; reading both tells a curation
    * pipeline WHICH dedup family should own the pair.
    *
    * 100 TB shape: pairs come from the capped LSH candidate pipeline
    * (never n²); the overlap count joins the pair relation to the
    * per-doc distinct-token relation on (doc, token) equi-keys — cost
    * is Σ over pairs of |Ta|, bounded by pair count × doc length, and
    * the counts relation aggregates map-side to one row per doc.
    * Integer ppm via `div` — no ratio double near the order boundary.
    * Returns (doc_a, doc_b, jaccard, n_a, n_b, n_overlap, f1_ppm),
    * highest F1 first, capped at `limit`. */
  def pairTokenF1(
      docs: DataFrame, textCol: String, idCol: String,
      w: Int = 3, nBands: Int = 8, r: Int = 2,
      minJaccard: Double = 0.25, limit: Int = 50,
      maxBucket: Int = 1000): DataFrame = {
    val base = docs.filter(col(textCol).isNotNull)
    // capped-LSH verified pairs feed the overlap join AND carry jaccard
    // through the aggregate keys (deterministic per pair)
    val pairs = minhashVerifiedPairs(base, textCol, idCol, w, nBands, r,
        minJaccard, maxBucket)
      .localCheckpoint()
    val toks = base
      .select(col(idCol).as("id"),
        explode(array_distinct(tokens(col(textCol)))).as("t"))
    val cnt = toks.groupBy("id").agg(count(lit(1)).as("n"))
    pairs
      .join(toks.select(col("id").as("doc_a"), col("t")), Seq("doc_a"))
      .join(toks.select(col("id").as("doc_b"), col("t")), Seq("doc_b", "t"),
        "left_semi")
      .groupBy(col("doc_a"), col("doc_b"), col("jaccard"))
      .agg(count(lit(1)).as("n_overlap"))
      .join(cnt.select(col("id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(cnt.select(col("id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("n_a"), col("n_b"), col("n_overlap"),
        expr("n_overlap * 2000000 div (n_a + n_b)").as("f1_ppm"))
      .orderBy(col("f1_ppm").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(limit)
  }

  /** INCREMENTAL near-dup screening: NEW-shard docs that are MinHash
    * near-duplicates of the EXISTING corpus — the fuzzy counterpart of
    * [[exactDedupDelta]] for the same ingest pattern (the corpus is never
    * re-deduplicated; within-shard near-dups are [[minhashPairs]] +
    * [[connectedComponents]] on the shard alone).
    *
    * Both sides run the one-scan signature pipeline; buckets that contain
    * at least one doc from EACH side (and at most `maxBucket` total — the
    * degenerate-bucket cap, same contract as [[minhashPairs]]) expand to
    * shard×corpus candidates only, never side-internal pairs. Candidates
    * are verified with exact Jaccard over each doc's DISTINCT 28-bit
    * shingle-hash set, which the signature aggregate collects in the same
    * pass that takes the family minima — measured at sf0.1 this replaced
    * a verify stage that re-joined raw text and re-shingled both sides of
    * every candidate, cutting the query from 2.7 s to 1.5 s steady-state
    * (the win is dropping the two corpus text scans; the hash arrays ride
    * the already-needed signature aggregate). Jaccard over hashed
    * shingles is the standard MinHash practice — a 28-bit collision
    * conflates two shingles at ~2^-28 rate, identically in the oracle
    * mirror, which computes the same md5-derived hash sets. Each blocked
    * shard doc reports its best corpus match (max Jaccard, min-id tie).
    * Returns (doc_id, near_dup_of, jaccard), ordered by doc_id.
    *
    * 100 TB shape: corpus band keys plus the hash sets are a persisted
    * index in production — 8 small ints and one compact int array per
    * doc, appended as shards land — so screening a shard costs one shard
    * scan + one bucket shuffle against the index, with candidate
    * verification bounded by bucket collisions, not corpus size. The
    * signature frames feed two branches (band keys and verify sets), so
    * they are localCheckpoint'd rather than recomputed per branch. */
  def minhashDedupDelta(
      newDocs: DataFrame, existing: DataFrame,
      textCol: String, idCol: String,
      w: Int = 3, nBands: Int = 8, r: Int = 2,
      minJaccard: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    def bands(sig: DataFrame, isNew: Boolean): DataFrame =
      NearDup.bandRows(sig, Seq("id"), col("m"), nBands, r).withColumn("__new", lit(isNew))
    val sigNew = signatures(newDocs, textCol, idCol, w, nBands * r)
    val sigOld = signatures(existing, textCol, idCol, w, nBands * r)
    val cand = bands(sigNew, isNew = true)
      .unionByName(bands(sigOld, isNew = false))
      .groupBy("band", "bh")
      .agg(
        collect_list(when(col("__new"), col("id"))).as("sids"),
        collect_list(when(!col("__new"), col("id"))).as("cids"))
      .filter(size(col("sids")) >= 1 && size(col("cids")) >= 1 &&
        size(col("sids")) + size(col("cids")) <= maxBucket)
      // cross-side expansion of MATERIALIZED agg arrays (bound attributes,
      // so no per-element re-evaluation) — s×c rows per bucket, capped
      .select(explode(col("sids")).as("sid"), col("cids"))
      .select(col("sid"), explode(col("cids")).as("cid"))
      .distinct()
    val best = Window.partitionBy(col("doc_id"))
      .orderBy(col("jaccard").desc, col("near_dup_of").asc)
    val withSets = cand
      .join(sigNew.select(col("id").as("sid"), col("hs").as("__hss")), "sid")
      .join(sigOld.select(col("id").as("cid"), col("hs").as("__hsc")), "cid")
    NearDup.hashSetJaccard(withSets, Seq(col("sid").as("doc_id"), col("cid").as("near_dup_of")),
        col("__hss"), col("__hsc"), minJaccard)
      .withColumn("__rk", row_number().over(best))
      .filter(col("__rk") === 1).drop("__rk")
      .orderBy("doc_id")
  }

  /** Per-doc DISTINCT 28-bit shingle-hash sets, map-only (no shuffle):
    * the verify-side companion of [[bandKeyIndex]] — persisted next to
    * the band keys in production so screening never re-reads corpus
    * text. Docs under `w` tokens carry no shingles and are absent, the
    * band-key pipeline's gate. */
  def shingleHashSets(
      docs: DataFrame, textCol: String, idCol: String, w: Int = 3): DataFrame = {
    val toks = tokens(col(textCol))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), toks.as("__toks"))
      .filter(size(col("__toks")) >= w)
      .select(col("id"),
        array_distinct(transform(shingles(col("__toks"), w), s => hash28(s))).as("hs"))
  }

  /** Shared core of the INDEX-consuming screens (batch
    * [[minhashDeltaIndexed]] and streaming
    * [[graft.streaming.StreamingOps.streamingNearDupScreen]]): per-row
    * MAP-ONLY signatures over the incoming docs (family minima + distinct
    * shingle-hash set as array expressions — no shuffle, no state), band
    * keys joined against the PERSISTED [[bandKeyIndex]], candidates
    * verified with exact hash-set Jaccard against the persisted
    * [[shingleHashSets]]. Corpus text is never touched. `carry` columns
    * (e.g. the stream's event-time) ride through untouched. Returns
    * (doc_id, carry…, __cid, jaccard) — one row per verified candidate,
    * multi-band collisions NOT deduplicated (a streaming distinct would
    * be stateful; the callers' best-match aggregate collapses them). */
  private[graft] def indexedScreenVerified(
      docs: DataFrame, corpusIndex: DataFrame, corpusHashSets: DataFrame,
      textCol: String, idCol: String, carry: Seq[String],
      w: Int, nBands: Int, r: Int, minJaccard: Double): DataFrame = {
    val k = nBands * r
    val toksC = tokens(col(textCol))
    val hsExpr = transform(shingles(col("__toks"), w), s => hash28(s))
    val sigExpr = array((0 until k).map(j =>
      array_min(transform(col("__hs"), h => minhashMember(j, h)))): _*)
    val carryCols = carry.map(col)
    val signed = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id") +: carryCols :+ toksC.as("__toks"): _*)
      // same gate as the batch signature pipeline: docs under w tokens
      // carry no shingles and screen nothing
      .filter(size(col("__toks")) >= w)
      .withColumn("__hs", array_distinct(hsExpr))
      .withColumn("__sig", sigExpr)
    val cand = NearDup.bandRows(signed, ("doc_id" +: carry) :+ "__hs", col("__sig"), nBands, r)
      .join(corpusIndex.select(col("id").as("__cid"), col("band"), col("bh")),
        Seq("band", "bh"))
      .join(corpusHashSets.select(col("id").as("__cid"), col("hs").as("__chs")),
        Seq("__cid"))
    NearDup.hashSetJaccard(cand, col("doc_id") +: carryCols :+ col("__cid"),
      col("__hs"), col("__chs"), minJaccard)
  }

  /** INDEXED incremental near-dup screen: [[minhashDedupDelta]]'s verdicts
    * from the PERSISTED index artifacts ([[bandKeyIndex]] +
    * [[shingleHashSets]]) instead of corpus text — the batch half of the
    * production ingest story, result-identical to the text-scanning delta
    * for the same inputs (spec-pinned across a parquet write/reload
    * boundary). The only per-screen corpus cost is the index join: nBands
    * small ints plus one compact hash array per corpus doc, appended as
    * shards land, never rebuilt. (The text path's `maxBucket` degenerate
    * cap does not apply here — index bucket fan-out bounds the join; cap
    * mass-duplication corpora with exact dedup before indexing.)
    * Returns (doc_id, near_dup_of, jaccard), ordered by doc_id. */
  def minhashDeltaIndexed(
      newDocs: DataFrame, corpusIndex: DataFrame, corpusHashSets: DataFrame,
      textCol: String, idCol: String,
      w: Int = 3, nBands: Int = 8, r: Int = 2,
      minJaccard: Double = 0.5): DataFrame =
    indexedScreenVerified(newDocs, corpusIndex, corpusHashSets,
      textCol, idCol, Nil, w, nBands, r, minJaccard)
      // best match per doc: max (jaccard, -cid) = highest similarity,
      // lowest corpus id on ties — the text delta's row_number order
      .groupBy(col("doc_id"))
      .agg(max(struct(col("jaccard"), (-col("__cid")).as("__ncid"))).as("best"))
      .select(col("doc_id"), (-col("best.__ncid")).as("near_dup_of"),
        col("best.jaccard").as("jaccard"))
      .orderBy("doc_id")

  /** Connected components over a near-duplicate pair graph: every doc gets
    * the MINIMUM doc id of its component as `cluster_id` — the step a
    * dedup pipeline runs after pair generation to pick one survivor per
    * duplicate CLUSTER (pairs alone over-delete on transitive chains
    * a~b~c).
    *
    * Min-label propagation: each iteration joins the current labels across
    * the (symmetrized) edge list and keeps the per-node minimum; labels
    * converge in O(graph diameter) iterations — near-dup clusters are
    * shallow (dozens of hops at most), and each iteration is one shuffle
    * join + one aggregation, fully distributed. `maxIter` bounds the
    * driver loop; the loop body never collects data. */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .cache()
    // seed with the 1-hop neighborhood minimum (min of self and all
    // neighbors): star-shaped clusters converge before the first
    // propagation, chains save one iteration. A 2-hop seed (edges
    // self-join before the loop) was measured against this on the bench
    // graph and rejected: near-dup LSH graphs are dense unions of
    // bucket-cliques, so the 1-hop seed already converges in ONE
    // propagation round (sf0.1: 512 edges, 477 nodes, 1 iteration) while
    // a 2-hop seed squares clique edges for an iteration it cannot save
    var labels = edges
      .groupBy(col("src"))
      .agg(min(col("dst")).as("__min_nbr"))
      .select(col("src").as("node"),
        least(col("src"), col("__min_nbr")).as("cluster_id"))
      .cache()
    // Convergence via the label-sum invariant: min-label propagation only
    // ever DECREASES a node's label and never changes the node set, so the
    // exact (decimal, overflow-proof) sum of labels is strictly decreasing
    // until the fixpoint — equal consecutive sums ⟺ no label changed. One
    // plain aggregate per iteration instead of a propagated⋈labels
    // change-count join (drops a shuffle+join from every round).
    def labelSum(df: DataFrame): java.math.BigDecimal =
      // coalesce: SUM over an empty graph is null — treat as 0 so the empty
      // input converges on the first check instead of NPE-ing
      df.agg(coalesce(sum(col("cluster_id").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("s")).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val computed = edges
        .join(labels, col("dst") === col("node"))
        .select(col("src").as("node"), col("cluster_id"))
        .union(labels)
        .groupBy("node")
        .agg(min(col("cluster_id")).as("cluster_id"))
        .cache()
      // periodic lineage truncation: the plan otherwise grows one join per
      // iteration and planning cost compounds. The checkpoint materializes
      // its own blocks, so the pre-checkpoint cache is released right after
      // (it would otherwise leak one cached copy per checkpointed round).
      val propagated =
        if (iter % 3 == 2) {
          val cp = computed.localCheckpoint()
          computed.unpersist()
          cp
        } else computed
      val s = labelSum(propagated)
      labels.unpersist()
      labels = propagated
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    edges.unpersist()
    // Silent wrong answers are worse than a loud stop: past maxIter the
    // labels are a valid UPPER-BOUND clustering ONLY if converged; anything
    // else means components wider than maxIter hops exist — fail with the
    // knob to turn rather than return labels that quietly over-split.
    if (!converged) {
      labels.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations — " +
          "the pair graph has components wider than maxIter hops; raise maxIter")
    }
    labels.orderBy("node")
  }

  /** Per-document 60-bit SimHash fingerprints (sampled via `sampleMod` to
    * bound oracle cost: id % sampleMod == 0). No shuffle — pure map. */
  def simhashFingerprints(docs: DataFrame, textCol: String, idCol: String, sampleMod: Int): DataFrame = {
    val toks = tokenSet(col(textCol))
    docs
      .filter(col(textCol).isNotNull && col(idCol) % sampleMod === 0)
      .select(col(idCol).as("id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("id"), simhash(col("toks")).as("simhash"))
      .orderBy("id")
  }

  /** SimHash near-duplicate pairs via HAMMING LSH — the lookup structure
    * the per-row fingerprints exist for: the `nBits`-bit fingerprint splits
    * into `nChunks` equal bit-chunks, and by pigeonhole two fingerprints
    * within hamming distance < nChunks share at least one exact chunk — so
    * candidate generation is a bucket join on (chunkIdx, chunkValue) and
    * exact popcount verifies. Same groupBy-collect candidate shape (one
    * shuffle, `maxBucket` cap) as [[minhashPairs]]; recall is guaranteed
    * for pairs with hamming <= maxHamming when nChunks > maxHamming.
    *
    * The 8-byte fingerprint rides THROUGH the bucket shuffle as a struct
    * member, so pair verification is pure popcount on bucket-local data —
    * no verify joins, and the fingerprint pipeline (the expensive per-token
    * md5 pass) is evaluated exactly once. */
  def simhashNearDupPairs(
      docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 5, nChunks: Int = 6, nBits: Int = 60,
      sampleMod: Int = 1, limit: Int = 50, maxBucket: Int = 1000): DataFrame = {
    require(nChunks > maxHamming,
      "pigeonhole recall guarantee needs nChunks > maxHamming")
    require(nBits % nChunks == 0, "nBits must split evenly into nChunks")
    val chunkBits = nBits / nChunks
    val toks = tokenSet(col(textCol))
    val fp = docs
      .filter(col(textCol).isNotNull && col(idCol) % sampleMod === 0)
      .select(col(idCol).as("id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("id"), simhash(col("toks"), nBits).as("fp"))
    val chunks = fp.select(
      col("id"), col("fp"),
      explode(array((0 until nChunks).map(c =>
        struct(lit(c).as("c"),
          shiftright(col("fp"), c * chunkBits)
            .bitwiseAND(lit((1L << chunkBits) - 1)).as("v"))): _*)).as("ch"))
      .select(col("id"), col("fp"), col("ch.c").as("c"), col("ch.v").as("v"))
    NearDup.bucketPairs(chunks, Seq("c", "v"), struct(col("id"), col("fp")), maxBucket,
        Seq("pa", "pb"))
      .select(col("pa.id").as("doc_a"), col("pb.id").as("doc_b"),
        bit_count(col("pa.fp").bitwiseXOR(col("pb.fp"))).cast("long").as("hamming"))
      // the same pair can collide in several chunks — dedup before filter
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("hamming").asc, col("doc_a").asc, col("doc_b").asc)
      .limit(limit)
  }

  /** Benchmark DECONTAMINATION report: for every corpus document, the
    * count and share of its distinct w-gram shingles that also occur
    * anywhere in the benchmark set — the train/eval overlap check every
    * serious training-data pipeline runs before training. Only
    * contaminated documents (overlap > 0) are returned; callers anti-join
    * the flagged ids to scrub.
    *
    * Scale shape: the benchmark side (eval sets: thousands of docs) is
    * reduced to its DISTINCT shingle strings and BROADCAST; the corpus
    * streams once through [[graft.functions.Generators.ShingleExplode]]
    * into a broadcast left join + one (doc) groupBy — no corpus×corpus
    * pair ever exists, and the corpus side never shuffles its text. */
  def contaminationReport(
      corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, w: Int): DataFrame = {
    val benchShingles = bench
      .filter(col(textCol).isNotNull)
      .select(Generators.shingleExplode(col(textCol), w).as("__s"))
      .distinct()
      .withColumn("__hit", lit(1L))
    corpus
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        Generators.shingleExplode(col(textCol), w).as("__s"))
      .join(broadcast(benchShingles), Seq("__s"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_overlap"))
      .filter(col("n_overlap") > 0)
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        round(col("n_overlap").cast("double") / col("n_shingles"), 6)
          .as("overlap_ratio"))
      .orderBy("doc_id")
  }

  /** SEGMENT-level dedup (repeated-span removal): split every document
    * into consecutive NON-OVERLAPPING `segTokens`-token segments, count in
    * how many DISTINCT documents each segment occurs, strip the segments
    * appearing in >= `minDocs` documents, and reassemble the survivors in
    * order. This is the fixed-granularity form of suffix-array span dedup
    * (cf. Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022): boilerplate and cross-document repeated passages
    * are removed WITHIN documents that exact/near dedup would keep whole.
    *
    * Per doc: segment count, removed count, surviving token count and an
    * md5 checksum of the reassembled text (scalar gate-comparable proof of
    * the exact surviving byte sequence).
    *
    * 100 TB shape: segmentation is the one-pass [[Generators.SegmentExplode]]
    * generator (the HOF posexplode-over-transform form re-evaluates the
    * segment array per emitted segment — O(len²/k) per doc, the explode
    * trap documented on [[graft.functions.Generators]]); the frequency
    * count is ONE shuffle keyed on segment text with map-side partial
    * aggregation; the reassembly is a shuffle join back on segment text
    * plus one groupBy(doc). Nothing is corpus-quadratic and no state
    * exceeds (distinct segments). */
  def segmentDedupReport(
      docs: DataFrame, textCol: String, idCol: String,
      segTokens: Int, minDocs: Int): DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1: $segTokens")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val segs = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        Generators.segmentExplode(col(textCol), segTokens)
          .as(Seq("seg_idx", "seg", "ntok")))
    val counts = segs.groupBy("seg").agg(countDistinct(col("doc_id")).as("docs"))
    segs.join(counts, "seg")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        count(when(col("docs") >= minDocs, lit(1))).as("n_removed"),
        coalesce(sum(when(col("docs") < minDocs, col("ntok"))), lit(0))
          .cast("long").as("clean_tokens"),
        // collect_list skips nulls, so only surviving segments ride; the
        // struct sort restores document order before the join
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("docs") < minDocs,
              struct(col("seg_idx"), col("seg"))))),
            p => p.getField("seg")),
          " ")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** OVERLAPPING-stride segment dedup — closes [[segmentDedupReport]]'s
    * boundary blind spot. The fixed-k non-overlapping form only sees spans
    * that happen to align with its k-token grid: a duplicated span
    * STRADDLING a segment boundary hashes into two different segments in
    * each doc and is never counted as repeated (Lee et al. ACL 2022 use
    * suffix arrays precisely to be offset-free). Here `segTokens`-token
    * windows start every `stride` tokens (stride < segTokens overlaps),
    * so any duplicated run of >= segTokens + stride - 1 tokens is
    * guaranteed to contain a full window at the same TEXT in both docs,
    * whatever its offsets — window frequency is keyed on window text, not
    * position.
    *
    * Removal is token-precise: a token is stripped iff SOME window
    * holding it appears in >= minDocs distinct docs; survivors reassemble
    * in document order. (Overlapping windows cannot reuse the
    * non-overlapping form's "drop the segment row" reassembly — a token
    * sits in up to segTokens/stride windows.)
    *
    * Per doc: window count, frequent-window count, surviving token count,
    * md5 of the reassembled survivor text.
    *
    * 100 TB shape: windows come from the one-pass
    * [[Generators.ChunkExplode]] generator (map-only, suffix-duplicate
    * starts skipped); frequency is ONE distinct-doc shuffle keyed on
    * window text; frequent intervals join back keyed on doc_id; the strip
    * itself is a map-side higher-order filter over the doc's own tokens —
    * O(tokens × frequent windows) per doc, never corpus-quadratic. */
  def segmentDedupStrided(
      docs: DataFrame, textCol: String, idCol: String,
      segTokens: Int, stride: Int, minDocs: Int): DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1: $segTokens")
    require(stride >= 1 && stride <= segTokens,
      s"stride must be in [1, segTokens]: $stride")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val wins = base.select(col("doc_id"),
      Generators.chunkExplode(col("text"), segTokens, stride)
        .as(Seq("win_idx", "ntok", "win")))
    val counts = wins.groupBy("win").agg(countDistinct(col("doc_id")).as("docs"))
    val freq = wins.join(counts, "win").filter(col("docs") >= minDocs)
      .select(col("doc_id"), struct(
        (col("win_idx") * stride).as("lo"),
        (col("win_idx") * stride + col("ntok")).as("hi")).as("iv"))
    val nWins = wins.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    val nFreq = freq.groupBy("doc_id")
      .agg(collect_list(col("iv")).as("ivs"), count(lit(1)).as("n_frequent"))
    base
      .join(nWins, Seq("doc_id"))
      .join(nFreq, Seq("doc_id"), "left")
      // same tokenization as the generator: split on space runs, empties out
      .withColumn("tks", filter(split(col("text"), " +"), t => t =!= ""))
      .withColumn("ivs", coalesce(col("ivs"),
        array().cast("array<struct<lo:bigint,hi:bigint>>")))
      // 0-based position filter against the frequent intervals
      .withColumn("clean", filter(col("tks"), (t, i) =>
        !exists(col("ivs"), iv =>
          i.cast("long") >= iv.getField("lo") && i.cast("long") < iv.getField("hi"))))
      .select(col("doc_id"),
        col("n_windows"),
        coalesce(col("n_frequent"), lit(0L)).cast("long").as("n_frequent"),
        size(col("clean")).cast("long").as("clean_tokens"),
        md5(array_join(col("clean"), " ")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** EXACT duplicated-span report — the stride-1 completion of
    * [[segmentDedupStrided]], closing the "strided segments, not suffix
    * arrays" trade documented there: with `l`-token windows starting at
    * EVERY position, a verbatim cross-document run of ANY length >= l is
    * covered at its exact extent, offset-free — the same span set a
    * suffix-array pass reports for threshold l (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022), computed in ONE window-keyed shuffle instead of log n
    * suffix-sort rounds.
    *
    * A window occurring in >= `minDocs` DISTINCT documents marks its
    * tokens duplicated; per document the marked intervals merge into
    * MAXIMAL spans (touching or overlapping intervals coalesce, so a
    * 37-token clone at l=8 reports as ONE 37-token span, not 30 window
    * hits). Per doc with at least one span: token count, span count,
    * duplicated token mass, longest span, truncating dup ppm.
    *
    * 100 TB shape: the stride-1 window stream is l x corpus tokens — the
    * deliberate price of exactness over [[segmentDedupStrided]]'s
    * stride-k subsample (size l by [[graft.ops.TextAnalysisOps
    * .dupSpanProfile]]'s ladder first); the shuffle carries md5 window
    * KEYS (16 bytes), never window text (collision odds ~ n²/2¹²⁸ —
    * negligible, and the SQL mirror hashes identically so the engines
    * agree exactly). Frequency is one partial-agg shuffle on the key;
    * the island merge is a per-document window over FREQUENT starts only
    * (sparse), never the corpus token stream. Measured sf0.1
    * steady-state: 1.7 s, scale-sweep growth excess 0.18. */
  def exactDupSpans(
      docs: DataFrame, textCol: String, idCol: String,
      l: Int, minDocs: Int): DataFrame = {
    require(l >= 1, s"window width must be >= 1: $l")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val wins = windowKeys(docs, textCol, idCol, l)
    val freq = wins.groupBy("wk")
      .agg(countDistinct(col("doc_id")).as("docs"))
      .filter(col("docs") >= minDocs)
      .select("wk")
    spanReport(docs, textCol, idCol, wins, freq)
  }

  /** (doc_id, st, ntok, wk) stride-1 l-token window keys of a corpus —
    * the shared front half of the exact-span family. Stride 1 => start ==
    * chunk_idx; short docs (n <= l) emit their one whole-doc window, the
    * same rule in both engines. Map-only. */
  private def windowKeys(
      docs: DataFrame, textCol: String, idCol: String, l: Int): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        Generators.chunkExplode(col(textCol), l, 1).as(Seq("st", "ntok", "win")))
      .select(col("doc_id"), col("st"), col("ntok"), md5(col("win")).as("wk"))

  /** Shared back half: join a corpus' window keys against a (wk)
    * frequent-window relation, merge the hits per doc into maximal
    * spans (gaps-and-islands: a span breaks where the next start clears
    * every prior end), report per doc. */
  private def spanReport(
      docs: DataFrame, textCol: String, idCol: String,
      wins: DataFrame, freq: DataFrame): DataFrame = {
    val marked = wins.join(freq, "wk")
      .select(col("doc_id"), col("st").as("lo"), (col("st") + col("ntok")).as("hi"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("lo").asc)
    val spans = marked
      .withColumn("prev_hi", max(col("hi")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("lo") > coalesce(col("prev_hi"), lit(-1L)), 1L).otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "isl")
      .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"))
    val nTok = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        size(filter(split(col(textCol), " +"), t => t =!= ""))
          .cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("hi") - col("lo")).as("dup_tokens"),
        max(col("hi") - col("lo")).as("max_span"))
      .join(nTok, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_spans"),
        col("dup_tokens"), col("max_span"),
        expr("dup_tokens * 1000000 div n_tokens").as("dup_ppm"))
      .orderBy("doc_id")
  }

  /** The span family's PERSISTED ARTIFACT (the bandKeyIndex / ivfPqIndex
    * convention applied at window granularity): the distinct md5 keys of
    * every stride-1 l-token window occurring in >= minDocs DISTINCT
    * corpus docs — one 16-byte-key row per frequent window, the only
    * corpus-derived input the ingest-time screen needs. Build once per
    * epoch, persist, screen every arriving shard without re-reading
    * corpus text. */
  def frequentWindowIndex(
      docs: DataFrame, textCol: String, idCol: String,
      l: Int, minDocs: Int): DataFrame = {
    require(l >= 1, s"window width must be >= 1: $l")
    require(minDocs >= 1, s"minDocs must be >= 1: $minDocs")
    windowKeys(docs, textCol, idCol, l)
      .groupBy("wk")
      .agg(countDistinct(col("doc_id")).as("docs"))
      .filter(col("docs") >= minDocs)
      .select("wk")
  }

  /** INGEST-TIME exact span screen — [[exactDupSpans]]'s delta form (the
    * q97 / q98 persisted-index pattern): arriving shard docs report the
    * maximal spans they share with the CORPUS' frequent windows
    * ([[frequentWindowIndex]]), not with each other. The shard's window
    * keys are map-only; the only join is shard-windows x index keyed on
    * wk; corpus text is never touched — at 100 TB the screen's cost is
    * the SHARD's size plus one index join, whatever the corpus size.
    * A doc with no indexed span is absent (it carries no boilerplate the
    * corpus already has). Output shape = [[exactDupSpans]]. Measured
    * sf0.1 (index built inline): 1.4 s, growth excess 0.17. */
  def exactDupSpansAgainstIndex(
      shard: DataFrame, index: DataFrame,
      textCol: String, idCol: String, l: Int): DataFrame = {
    require(l >= 1, s"window width must be >= 1: $l")
    spanReport(shard, textCol, idCol,
      windowKeys(shard, textCol, idCol, l), index.select("wk"))
  }

  /** EXACT cross-source shingle overlap — the audit row for
    * [[graft.ops.SketchOps.hllOverlap]]'s sketch estimate, and the
    * dedup-PLANNING signal on its own: for every source pair with any
    * shared w-shingle, the exact distinct-shingle set sizes, the common
    * count, both directional containments (`|A∩B| / |A|` — "is src_b a
    * re-crawl / superset of src_a?") and the jaccard, all integer ppm.
    * High containment with low jaccard is the re-crawl signature
    * (one side swallows the other); high jaccard both ways means the
    * pair shares a template pool and per-source dedup alone under-counts
    * (the q153 attribution question at vocabulary granularity).
    *
    * 100 TB shape: ONE corpus scan into the distinct (group, shingle)
    * relation (vocabulary × groups rows — partial-agg bounded, never
    * corpus tokens); the pair stage is a self-join keyed on the SHINGLE
    * (per-key work ≤ groups²/2 pair rows, groups = sources ≪ corpus),
    * then a groups²-bounded aggregate. The sketch form ([[
    * graft.ops.SketchOps.hllOverlap]]) replaces the shingle-keyed
    * shuffle with register files when even the vocabulary shuffle is too
    * much — this op is what certifies the sketch's error on a slice. */
  def crossSourceOverlap(
      docs: DataFrame, textCol: String, groupCol: String, w: Int): DataFrame = {
    require(w >= 1, s"shingle width must be >= 1: $w")
    // distinct (group, shingle): feeds the sizes aggregate AND both join
    // sides — materialize once (vocabulary-sized, the per-doc-metrics
    // trade), not three upstream corpus scans
    val gs = docs
      .filter(col(textCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        Generators.shingleExplode(col(textCol), w).as("s"))
      .distinct()
      .localCheckpoint()
    val sizes = gs.groupBy("g").agg(count(lit(1)).as("n"))
    gs.as("a").join(gs.as("b"),
        col("a.s") === col("b.s") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("src_a"), col("b.g").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("g").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("g").as("src_b"), col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
        expr("n_common * 1000000 div n_a").as("containment_a_ppm"),
        expr("n_common * 1000000 div n_b").as("containment_b_ppm"),
        expr("n_common * 1000000 div (n_a + n_b - n_common)").as("jaccard_ppm"))
      .orderBy("src_a", "src_b")
  }

  /** EXACT sparse LEXICAL-COSINE pairs — the term-vector complement of
    * the set-based jaccard family (weighted: repeated shingles count)
    * and of the dense-embedding ANN paths: cosine over raw w-gram
    * TERM-FREQUENCY vectors, computed exactly with the inverted
    * term-keyed join every all-pairs similarity system uses (cf.
    * DIMSUM / ANF all-pairs): dot(a,b) = Σ over shared grams of
    * tf_a·tf_b. Grams occurring in more than `dfCap` documents are
    * EXCLUDED from the vectors — a declared vocabulary rule, identical
    * in both engines: stopword-mass grams dominate neither the cosine
    * nor (critically) the join fan-out, whose per-gram pair count is
    * df². That cap IS the 100 TB bound: ≤ dfCap² candidate rows per
    * gram off a term-keyed shuffle, never corpus².
    *
    * Everything is integer-exact: dot, |a|², |b|² are BIGINT sums; the
    * threshold and the reported similarity use the SQUARED cosine
    * cross-multiplied in DECIMAL(38,0) — no sqrt, no doubles, so the
    * boundary cannot diverge cross-engine by a ulp. Pairs with
    * cos2_ppm >= `minCos2Ppm` rank (cos2_ppm desc, doc_a, doc_b), top
    * `limit`. Measured sf0.1 (w=3, dfCap=40): 2.8M term-join rows →
    * 1.13M exact pairs in 3.6 s steady-state, growth excess 0.39 — the
    * df² fan-out growing toward its cap, linear past it. */
  def lexicalCosinePairs(
      docs: DataFrame, textCol: String, idCol: String,
      w: Int, dfCap: Int, minCos2Ppm: Long, limit: Int): DataFrame = {
    require(w >= 1, s"gram width must be >= 1: $w")
    require(dfCap >= 2, s"dfCap must be >= 2: $dfCap")
    require(minCos2Ppm >= 1 && minCos2Ppm <= 1000000L,
      s"minCos2Ppm must be in [1, 1e6]: $minCos2Ppm")
    // NgramExplode, not ShingleExplode: tf needs every OCCURRENCE (the
    // shingle generator deduplicates per doc, which would collapse the
    // vectors to binary). Checkpointed: it feeds the df filter AND the
    // capped relation below — the crossSourceOverlap trade (materialize
    // the vocabulary×docs relation once, not two corpus scans).
    val tf = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        Generators.ngramExplode(col(textCol), w).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // (id, term) is unique after the tf aggregate, so COUNT(*) per term
    // IS the document frequency. An aggregate + join, NOT a count-over-
    // term window: a stopword gram's window partition is df rows buffered
    // in one task — the exact hot-key blowup the cap exists to avoid.
    val keep = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("term")
    // checkpointed too: norms and BOTH pair-join sides read it — three
    // consumers re-running the term join would shuffle tf three times.
    // (r14, measured and REJECTED: pruning df = 1 terms from the pair
    // sides — they cannot satisfy a.id < b.id — is the right Zipf-tail
    // move on real text, but on this corpus only 207 of 260,388 kept
    // rows are df = 1 (0.08%, DuckDB-measured at sf0.1), so the filter
    // moved no bytes; left out rather than shipped unverifiable.)
    val kept = tf.join(keep, "term").localCheckpoint()
    val norms = kept.groupBy("id").agg(sum(col("tf") * col("tf")).as("n2"))
    val dots = kept.as("a").join(kept.as("b"),
        col("a.term") === col("b.term") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    dots
      .join(norms.select(col("id").as("doc_a"), col("n2").as("na2")), "doc_a")
      .join(norms.select(col("id").as("doc_b"), col("n2").as("nb2")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("dot"), col("na2"), col("nb2"),
        expr("CAST((CAST(dot AS DECIMAL(19,0)) * CAST(dot AS DECIMAL(19,0)) " +
          "* 1000000) div (CAST(na2 AS DECIMAL(19,0)) * " +
          "CAST(nb2 AS DECIMAL(19,0))) AS BIGINT)").as("cos2_ppm"))
      .filter(col("cos2_ppm") >= minCos2Ppm)
      .orderBy(col("cos2_ppm").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(limit)
  }

  /** Brute-force all-pairs n-gram Jaccard over the deterministic
    * FIXED-SIZE [[md5TopNSample]] (`sampleN` absolute rows, not a corpus
    * fraction — the pair count is constant at any scale): the exact
    * baseline the LSH path approximates. Deliberately gated on the
    * sample — never run all-pairs at scale. */
  def jaccardBruteForce(
      docs: DataFrame, textCol: String, idCol: String,
      w: Int, sampleN: Int, limit: Int): DataFrame = {
    // checkpoint: the corpus-scan + top-N runs ONCE for both join sides.
    // The streamed side re-spreads (the top-N lands in one partition) so
    // the n²/2 jaccard evaluations parallelize; the broadcast side reads
    // the tiny checkpoint as-is.
    val sample = shingled(md5TopNSample(docs, textCol, idCol, sampleN),
      textCol, idCol, w).localCheckpoint()
    // REPARTITION_BY_NUM, not BY_COL (r14): AQE's coalescer folds a
    // keyless-count repartition of the few-MB sample back to one
    // partition, re-serializing the kernel; the explicit count is
    // exempt, and the sample is bounded so the fan-out is scale-safe
    sample.repartition(sample.sparkSession.sparkContext.defaultParallelism, col("id"))
      .as("x").join(sample.as("y"), col("x.id") < col("y.id"))
      .select(
        col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        jaccard(col("x.sh"), col("y.sh")).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(limit)
  }
}
