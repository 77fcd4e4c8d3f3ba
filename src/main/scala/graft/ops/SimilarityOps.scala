package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`) —
  * SURVEY.md §2.10 / the training-data-pipeline surface.
  *
  * Scale design:
  *  - brute-force top-k BROADCASTS the (small) query set and streams the
  *    corpus once: per-row cosine is a codegen'd `zip_with`+`aggregate`
  *    fold, the only shuffle is the final per-query top-k window over
  *    |queries| x |corpus| candidate rows pre-reduced by the window;
  *  - the LSH variant buckets both sides by random-hyperplane sign bits so
  *    each query only scans its bucket (corpus/2^planes expected) — the
  *    100 TB path; planes are deterministic md5-derived literals inlined
  *    into the plan (and, verbatim, into the DuckDB oracle SQL);
  *  - all float components are cast to double before any arithmetic, and
  *    folds run sequentially left-to-right, so results are bit-stable
  *    across partitionings and engines.
  */
object SimilarityOps {

  /** Element-wise double view of a float-array column. */
  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential left-to-right sum of an array<double> column. */
  private def seqSum(v: Column): Column = aggregate(v, lit(0.0), (a, x) => a + x)

  /** Cosine similarity of two float-array columns, rounded to 6 dp.
    * One fused codegen'd loop ([[graft.functions.VectorMath]]) — same
    * sequential-fold arithmetic as the HOF formulation and the oracle,
    * without interpreted per-component lambda dispatch. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorMath.cosineSim(a, b)

  // ---------------------------------------------------------------------
  // THE RANKING KIT. Every ranking decision of the vector-search family
  // goes through one function here: [[rankCells]] (rows against a
  // bounded cell relation), [[topK]] (per-key top-k), [[pqCodes]] (PQ
  // encode) and [[codebookStep]] (one PQ codebook Lloyd update).
  //
  // Cell ranking is shuffle-free (r14). The centroid relation is bounded
  // by contract wherever a row ranks cells (k, ksub, ~n/coarseMod, all
  // broadcast-sized), so each row ranks ONE collected array of (cid, cv)
  // structs: argmax/argmin via array_max/array_min, top-n via sort_array
  // + slice. Struct comparison IS the engine's sort order field by field
  // (NaN greatest, the same double total order as orderBy): ties past
  // the score break on the cid field exactly like a window's (score,
  // cid) orderBy, and cids are distinct, so the cv payload is never
  // compared. Results are bit-identical to the crossJoin + Window(id) +
  // rk form this replaced, without its Exchange(id) + Sort of the n×k
  // scored relation per use (per Lloyd iteration, per encode pass, per
  // probe ranking); assignment, encode and probe ranking are map-only
  // projections over the scan, and the only shuffles left in training
  // are the per-(cluster, dim) mean aggregates.
  // ---------------------------------------------------------------------

  /** What [[rankCells]] adds to each row. Cells rank by (ccos desc, cid
    * asc) over the struct (ccos = 6-dp cosine, ncid = −cid, cv): the max
    * struct is the best cell (max ncid = min cid on ties), and
    * sort_array(…, asc = false) is the full rank order. */
  private sealed trait CellRank
  /** The best cell's id. */
  private case object BestCid extends CellRank
  /** The best cell's struct; its cv rides along for residuals. */
  private case object BestCell extends CellRank
  /** One row per cell of the best `n`, best first. */
  private final case class TopCells(n: Int) extends CellRank
  /** Every cell's struct, best first. */
  private case object AllCells extends CellRank

  /** Ranks each row's vector column `v` against the bounded (cid, cv)
    * relation `cents`, broadcast as ONE row holding the (cid, cv) struct
    * array (collection order is irrelevant: cids are distinct). Returns
    * `keep` plus the `rank` column named `as`. `nonEmpty` drops every row
    * when `cents` is empty, as the crossJoin + window form did; a
    * consumer that already drops those rows (an explode of an empty
    * slice, a size filter) passes false. */
  private def rankCells(
      rows: DataFrame, v: String, cents: DataFrame, keep: Seq[Column],
      rank: CellRank, as: String, nonEmpty: Boolean = true): DataFrame = {
    val cells = rows.crossJoin(broadcast(
      cents.agg(collect_list(struct(col("cid"), col("cv"))).as("__cents"))))
    val scored = transform(col("__cents"), c => struct(
      cosine(col(v), c.getField("cv")).as("ccos"),
      (-c.getField("cid")).as("ncid"),
      c.getField("cv").as("cv")))
    val ranked = rank match {
      case BestCid => -array_max(scored).getField("ncid")
      case BestCell => array_max(scored)
      case TopCells(n) => explode(slice(sort_array(scored, asc = false), 1, n))
      case AllCells => sort_array(scored, asc = false)
    }
    (if (nonEmpty) cells.filter(size(col("__cents")) > 0) else cells)
      .select(keep :+ ranked.as(as): _*)
  }

  /** Per-`key` top-k: `rk` (long) numbers each key's rows by `order`,
    * and rows past rank k drop. */
  private def topK(df: DataFrame, key: String, k: Int, order: Column*): DataFrame =
    df.withColumn("rk",
        row_number().over(Window.partitionBy(col(key)).orderBy(order: _*)).cast("long"))
      .filter(col("rk") <= k)

  /** Exact-cosine top-k per query over candidate rows (query_id, qv,
    * neighbor_id, nv): (query_id, neighbor_id, cos, rk), cos desc with
    * neighbor_id tiebreak, ordered by (query_id, rk). */
  private def cosTopK(cand: DataFrame, k: Int): DataFrame =
    topK(cand.select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nv")).as("cos")),
      "query_id", k, col("cos").desc, col("neighbor_id").asc)
      .orderBy(col("query_id"), col("rk"))

  /** ADC top-k per query over code rows joined to their LUT entries
    * (query_id, id, d_e6): self-pairs drop, the m per-sub distances sum
    * exactly to adist_e6, and (query_id, neighbor_id, adist_e6, rk) ranks
    * adist asc with neighbor_id tiebreak, ordered by (query_id, rk). */
  private def adcTopK(scored: DataFrame, k: Int): DataFrame =
    topK(scored.filter(col("query_id") =!= col("id"))
        .groupBy(col("query_id"), col("id").as("neighbor_id"))
        .agg(sum(col("d_e6")).as("adist_e6")),
      "query_id", k, col("adist_e6").asc, col("neighbor_id").asc)
      .orderBy(col("query_id"), col("rk"))

  /** PQ encode: each (sub, sv) row of `subs` takes the code of its sub's
    * nearest `codebooks` (sub, cid, cv) centroid, as `as` next to `keep`.
    * The broadcast side is one row per sub holding the sub's (cid, cv)
    * struct array; the array_min of the (d = 6-dp L2², cid) structs IS
    * the (d asc, cid asc) rk=1 row. */
  private def pqCodes(
      subs: DataFrame, codebooks: DataFrame, keep: Seq[Column], as: String): DataFrame =
    subs.join(broadcast(codebooks.groupBy(col("sub"))
        .agg(collect_list(struct(col("cid"), col("cv"))).as("__cbs"))), "sub")
      .select(keep :+ array_min(transform(col("__cbs"), c => struct(
        l2sq(col("sv"), c.getField("cv")).as("d"),
        c.getField("cid").as("cid")))).getField("cid").as(as): _*)

  /** One PQ codebook Lloyd update over subvectors `subs` (sub, sv) and
    * codebooks `cb` (sub, cid, cv): encode, then each code's
    * decimal-exact per-dimension mean rounded to 6 dp. Returns (sub, cid,
    * n_vecs, cv); a code no subvector picked drops out. */
  private def codebookStep(subs: DataFrame, cb: DataFrame): DataFrame =
    pqCodes(subs, cb, Seq(col("sub"), col("sv")), "cid")
      .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("dim0", "x")))
      .groupBy(col("sub"), col("cid"), col("dim0"))
      .agg(
        round(sum(col("x").cast("decimal(18,9)")).cast("double")
          / count(lit(1)), 6).as("mu"),
        count(lit(1)).as("n"))
      .groupBy("sub", "cid")
      .agg(
        array_sort(collect_list(struct(col("dim0"), col("mu")))).as("pairs"),
        max(col("n")).as("n_vecs"))
      .select(col("sub"), col("cid"), col("n_vecs"),
        transform(col("pairs"), p => p.getField("mu")).as("cv"))

  /** Both directed edges (vec_id, neighbor_id, cos) of each undirected
    * (vec_a, vec_b, cos) pair: an array of structs over bound attributes,
    * so the explode duplicates no kernel work beyond the projection. */
  private def mirrorEdges(pairs: DataFrame): DataFrame = pairs
    .select(explode(array(
      struct(col("vec_a").as("vec_id"), col("vec_b").as("neighbor_id"), col("cos")),
      struct(col("vec_b").as("vec_id"), col("vec_a").as("neighbor_id"), col("cos"))))
      .as("e"))
    .select(col("e.vec_id").as("vec_id"), col("e.neighbor_id").as("neighbor_id"),
      col("e.cos").as("cos"))

  /** Every unordered pair within each `cell` group of 2..`maxCell`
    * members (`id`, `v`), with its cosine: (vec_a, vec_b, cos). Vectors
    * ride the cell shuffle as struct payloads ([[NearDup.bucketPairs]]),
    * so nothing joins back to the corpus. */
  private def cellPairCos(
      rows: DataFrame, cell: String, id: Column, v: Column, maxCell: Int): DataFrame =
    NearDup.bucketPairs(rows, Seq(cell), struct(id, v), maxCell, Seq("a", "b"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        cosine(col("a.v"), col("b.v")).as("cos"))

  /** Deterministic random hyperplanes: component d of plane p is
    * md5-derived, uniform in [-1, 1). Generated driver-side once; the same
    * literals are inlined into the oracle SQL so both engines use
    * byte-identical planes. */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map(p => (0 until dim).map(d =>
      graft.functions.VectorMath.md5HexPrefix(s"$p:$d".getBytes("UTF-8"), 15).toDouble /
        (1L << 59).toDouble - 1.0))

  /** LSH bucket id: bit p set iff dot(vec, plane_p) > 0. Codegen'd kernel
    * ([[graft.functions.VectorMath.HyperplaneBucket]]) — same sequential
    * dot-product fold as the HOF formulation and the oracle SQL. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    graft.functions.VectorMath.hyperplaneBucket(vec, planes)

  /** Brute-force exact top-k nearest neighbors by cosine for the query set
    * `idCol % queryMod == 0`, self-pairs excluded. */
  def annBruteForce(
      emb: DataFrame, idCol: String, vecCol: String,
      queryMod: Int, k: Int): DataFrame = {
    val queries = emb.filter(col(idCol) % queryMod === 0)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    cosTopK(emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id")), k)
  }

  /** DIMENSION-TRUNCATED top-k ANN (the Matryoshka / MRL production
    * knob, Kusupati et al. 2022): score by cosine over only the FIRST
    * `useDims` components of each vector — the compute/recall trade
    * every MRL-trained embedding ships (half the dims ≈ half the scan
    * FLOPs and bytes; prefix dims carry most of the signal by training).
    * Exactly [[annBruteForce]] with a sliced vector view, so the scan
    * cost drops by dims/useDims while the plan shape (broadcast query
    * side, one corpus stream, bounded per-query top-k) is unchanged.
    * `RECALL.json` measures what the truncation actually costs on this
    * corpus — embeddings NOT trained with MRL are the worst case, so
    * the measured number is a floor, not an advertisement. */
  def annBruteForceTruncated(
      emb: DataFrame, idCol: String, vecCol: String,
      queryMod: Int, k: Int, useDims: Int): DataFrame = {
    require(useDims >= 1, s"bad useDims: $useDims")
    val sliced = emb.select(col(idCol),
      slice(col(vecCol), 1, useDims).as("__tv"))
    annBruteForce(sliced, idCol, "__tv", queryMod, k)
  }

  /** LSH-bucketed approximate top-k: queries only meet candidates in the
    * same hyperplane-sign bucket. `nPlanes` small (corpus shrinks ~2^p per
    * query); increase planes + add multi-probe for bigger corpora. */
  def annLsh(
      emb: DataFrame, idCol: String, vecCol: String,
      queryMod: Int, k: Int, nPlanes: Int, dim: Int): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val bucketed = emb.select(
      col(idCol).as("id"), col(vecCol).as("v"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val queries = bucketed.filter(col("id") % queryMod === 0)
      .select(col("id").as("query_id"), col("v").as("qv"), col("bucket"))
    cosTopK(bucketed.select(col("id").as("neighbor_id"), col("v").as("nv"), col("bucket"))
      .join(broadcast(queries), "bucket")
      .filter(col("neighbor_id") =!= col("query_id")), k)
  }

  /** Multi-probe variant of [[annLsh]]: each query also probes the
    * `nPlanes` buckets at Hamming distance 1 from its own (one sign-bit
    * flip each) — recall rises toward brute force without adding planes or
    * shrinking buckets. Probe fan-out is on the SMALL query side (queries
    * × (nPlanes+1) rows), the corpus is still hashed once. */
  def annLshMultiProbe(
      emb: DataFrame, idCol: String, vecCol: String,
      queryMod: Int, k: Int, nPlanes: Int, dim: Int): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val bucketed = emb.select(
      col(idCol).as("id"), col(vecCol).as("v"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val probes = explode(array(
      (col("bucket") +: (0 until nPlanes).map(p =>
        col("bucket").bitwiseXOR(lit(1L << p)))): _*)).as("bucket_probe")
    val queries = bucketed.filter(col("id") % queryMod === 0)
      .select(col("id").as("query_id"), col("v").as("qv"), probes)
    cosTopK(bucketed.select(col("id").as("neighbor_id"), col("v").as("nv"), col("bucket"))
      .join(broadcast(queries), col("bucket") === col("bucket_probe"))
      .filter(col("neighbor_id") =!= col("query_id")), k)
  }

  /** Embedding-cosine near-duplicate pairs, LSH-bucketed: vectors sharing
    * a full hyperplane-sign bucket are candidates (each vector lives in
    * exactly ONE bucket, so no cross-band dedup is needed); exact cosine
    * verifies. Candidate generation is a groupBy-collect on the bucket id —
    * one shuffle, pipeline evaluated once — the same shape as MinHash-LSH
    * in [[graft.ops.DedupOps.minhashPairs]]. Vectors ride the bucket
    * shuffle ([[cellPairCos]], [[knnGraph]]'s form), so nothing joins
    * back to the corpus: at sf0.1 this ran q32 in 0.30–0.39 s against
    * 0.39–0.47 s for the two-join form (min of 5 passes, 3 alternating
    * rounds in one checkout, control q83 unchanged).
    *
    * `maxBucket` bounds the per-bucket pair expansion (n(n-1)/2) exactly as
    * in minhashPairs: with only 2^nPlanes buckets, ONE dense bucket — e.g. a
    * mass-duplicated embedding — would otherwise be a single task's OOM and
    * an unbounded n² blow-up at 100 TB. Dropped buckets are all-near-
    * identical clusters that exact dedup (on a vector hash) handles more
    * cheaply first — run it before this on dup-heavy corpora. */
  def embeddingNearDupPairs(
      emb: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, dim: Int, minCos: Double, limit: Int,
      maxBucket: Int = 1000): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val bucketed = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      lshBucket(col(vecCol), planes).as("bucket"))
    cellPairCos(bucketed, "bucket", col("id"), col("v"), maxBucket)
      .filter(col("cos") >= minCos)
      .orderBy(col("cos").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(limit)
  }

  /** SEMANTIC dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, then drop every vector whose cosine to
    * an EARLIER (lower-id) vector in the same cluster reaches `minCos` —
    * near-duplicate semantics, found via cluster-local comparison instead
    * of global all-pairs. Clusters here are IVF cells over the same
    * deterministic id-mod centroid set as [[annIvf]] (swap in
    * [[kmeansCentroids]] output for trained cells); the within-cell
    * threshold approximates global near-dup search because cell members
    * are already the mutually-nearest region of the space.
    *
    * Returns one row per DROPPED vector: (vec_id, kept_by, cos_e6) where
    * kept_by is the LOWEST-id same-cell neighbor at or above the
    * threshold (deterministic attribution) and cos_e6 the ×10^6
    * scaled-int cosine to it.
    *
    * 100 TB shape: one broadcast of the small centroid set for
    * assignment; pair generation is cell-local (collect_list + ordered
    * pairs per cell, capped at `maxCell` — same guardrail as
    * [[embeddingNearDupPairs]]); the keeper argmin is one
    * map-side-combinable groupBy over surviving pairs. Nothing is
    * corpus-quadratic. The pairs fetch their vectors by two corpus joins:
    * carrying them through the cell shuffle ([[cellPairCos]]) measured
    * no faster here (sf0.1 q69 median 0.80–0.89 s carried vs 0.81–0.82 s
    * joined, and slower than joined against control q83 in 6 of 8
    * paired runs) — q69 is sensitive to its pair-stage layout, as the r14
    * respread note in [[knnGraph]] found too. */
  def semanticDedup(
      emb: DataFrame, idCol: String, vecCol: String,
      centroidMod: Int, minCos: Double, maxCell: Int = 1000): DataFrame = {
    val pairs = NearDup.bucketPairs(
        ivfAssignments(emb, idCol, vecCol, ivfCentroids(emb, idCol, vecCol, centroidMod)),
        Seq("cid"), col("id"), maxCell, Seq("vec_a", "vec_b"))
      .join(emb.select(col(idCol).as("vec_a"), col(vecCol).as("va")), "vec_a")
      .join(emb.select(col(idCol).as("vec_b"), col(vecCol).as("vb")), "vec_b")
      .select(col("vec_a"), col("vec_b"), cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= minCos)
    val keepers = pairs.groupBy("vec_b").agg(min(col("vec_a")).as("kept_by"))
    keepers.as("k")
      .join(pairs.as("p"), col("k.vec_b") === col("p.vec_b") && col("kept_by") === col("vec_a"))
      .select(col("k.vec_b").as("vec_id"), col("kept_by"), e6(col("cos")).as("cos_e6"))
      .orderBy("vec_id")
  }

  /** Approximate k-NEAREST-NEIGHBOR GRAPH of the whole corpus: every
    * vector's top `kNbrs` same-cell neighbors by cosine — the structure
    * under dataset cartography, graph-based clustering (HDBSCAN/UMAP
    * neighborhoods), and label propagation; also the precursor a
    * NN-descent refinement (Dong et al., WWW 2011) would iterate on.
    * Cells are the deterministic id-mod IVF assignment of [[annIvf]]
    * (swap in [[kmeansCentroids]] output for trained cells).
    *
    * 100 TB shape — the crucial difference from running [[annIvf]] with
    * every vector as a query: that formulation BROADCASTS the query side,
    * which here is the whole corpus. Instead the graph is built
    * cell-locally: one broadcast centroid assignment, cells gathered with
    * the `maxCell` cap ([[semanticDedup]]'s guardrail), vectors riding
    * the cell shuffle as struct payloads (no join back to the corpus),
    * unordered pairs streamed lazily by the
    * [[graft.functions.Generators.PairsExplode]] generator — each pair's
    * cosine is evaluated once per direction at most, never a
    * corpus-sized broadcast, never all-pairs. Vectors in singleton cells
    * (or cells over the cap) emit no rows; multi-probe assignment or
    * trained centroids shrink that blind spot.
    *
    * Returns (vec_id, rk, neighbor_id, cos), rk 1..kNbrs. */
  def knnGraph(
      emb: DataFrame, idCol: String, vecCol: String,
      centroidMod: Int, kNbrs: Int, maxCell: Int = 1000): DataFrame = {
    val assigned = ivfAssignments(emb, idCol, vecCol,
      ivfCentroids(emb, idCol, vecCol, centroidMod))
    // (r14, measured and REJECTED: an explicit-count respread before the
    // pair generator — the q160 fix — made q83/q128/q69 ~20-30% SLOWER
    // at sf0.1: the explosion's cosine is one fused codegen kernel, ~0.2s
    // single-task here, cheaper than the extra exchange's stage cost.)
    val pairCos = cellPairCos(assigned, "cid", col("id"), col("v"), maxCell)
    topK(mirrorEdges(pairCos), "vec_id", kNbrs, col("cos").desc, col("neighbor_id").asc)
      .select(col("vec_id"), col("rk"), col("neighbor_id"), col("cos"))
      .orderBy("vec_id", "rk")
  }

  /** [[knnGraph]] plus `rounds` NN-descent refinement rounds (Dong et
    * al., WWW 2011) — closes the cell-local graph's documented blind
    * spot: vectors in singleton or over-cap cells, which emit no rows
    * there. Each extra round reaches one hop further through the graph
    * (spec-pinned: the singleton-cell fixture's vector reaches real
    * cluster members in round 1 and its TRUE top-k in round 2; recall vs
    * brute force is monotone over rounds because merging candidates can
    * only improve a per-node top-k).
    *
    * SATURATION WARNING (the r7 `RECALL.json` autopsy): with the default
    * isolated-only seeding, refinement provably CANNOT improve recall on
    * a corpus where every cell is populated — every node's base-graph
    * neighbors are same-cell, so the NN-descent local join only
    * generates same-cell candidate pairs, all of which the base build
    * already evaluated (its per-cell PairsExplode is exhaustive). The
    * measured r7 result — refined recall IDENTICAL to base at 4 dp —
    * is that structural fact, not a tuning miss. `crossBuckets > 0` is
    * the cure: see addition 1b.
    *
    * Three additions, all bounded:
    *   1. SEED (isolated rescue): isolated vectors (no edge in the base
    *      graph) are grouped into deterministic md5 pseudo-cells
    *      together with an "anchor" sample of the connected graph
    *      (`id % anchorMod == 0`) and get pairwise edges within their
    *      pseudo-cell. An anchor ties each pseudo-cell into the real
    *      graph so one refinement round can already reach real
    *      neighborhoods (an isolated-only seed pair would only know
    *      about each other).
    *   1b. CROSS-CELL SEED (`crossBuckets > 0`): EVERY node joins one
    *      deterministic md5 pseudo-cell of ~n/crossBuckets members —
    *      NN-descent's random initialization, made deterministic. These
    *      cross-cell edges are what the descent propagates: a node's
    *      candidate pool now reaches through random partners into OTHER
    *      cells' neighborhoods, and recall climbs toward brute force
    *      over rounds instead of saturating at the cell-local optimum.
    *      Size crossBuckets ≈ n/50: pseudo-cells then add ~25·n pairs
    *      per build (linear in corpus), bounded per-cell by `maxCell`.
    *   2. REFINE (the NN-descent local join): for every node, its graph
    *      neighbors — outgoing plus incoming, so a popular vector
    *      spreads what it knows — become a candidate list; candidate
    *      pairs sharing that node are generated by the same lazy
    *      [[graft.functions.Generators.PairsExplode]], their cosine
    *      computed once, and merged with the current edges; per-node
    *      top-k of the union is the refined graph.
    *
    * 100 TB shape: unchanged from [[knnGraph]] — no corpus broadcast, no
    * all-pairs. Adjacency lists are bounded (out-degree ≤ kNbrs, in-degree
    * ≤ cell size ≤ maxCell) and the same `maxCell` cap skips hub nodes
    * whose candidate list would blow past it. Size `seedBuckets` so
    * (isolated + anchors) / seedBuckets stays under `maxCell`.
    *
    * Same schema as [[knnGraph]]: (vec_id, rk, neighbor_id, cos). Recall
    * vs brute-force strictly improves on the base graph (spec-pinned). */
  def knnGraphRefined(
      emb: DataFrame, idCol: String, vecCol: String,
      centroidMod: Int, kNbrs: Int, maxCell: Int = 1000,
      seedBuckets: Int = 16, anchorMod: Int = 997,
      rounds: Int = 1, crossBuckets: Int = 0): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    require(crossBuckets >= 0, s"crossBuckets must be >= 0: $crossBuckets")
    val kv = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val base = knnGraph(emb, idCol, vecCol, centroidMod, kNbrs, maxCell)
      .select(col("vec_id"), col("neighbor_id"), col("cos"))
    // every edge is mirrored, so "has an edge" == "appears as vec_id"
    val connected = base.select(col("vec_id").as("id")).distinct()
    val isolated = kv.join(connected, Seq("id"), "left_anti")
    val anchors = kv.join(connected, Seq("id"), "left_semi")
      .filter(col("id") % anchorMod === 0)
    // crossBuckets > 0: every node seeds (isolated nodes included, so the
    // anchor rescue machinery is subsumed); otherwise only isolated ∪
    // anchors — the pre-r8 contract, kept for the singleton-cell fixture
    val (seedSrc, nb) =
      if (crossBuckets > 0) (kv, crossBuckets) else
        (isolated.unionByName(anchors), seedBuckets)
    val seedEdges = cellPairCos(seedSrc
      .withColumn("sb", pmod(conv(substring(
        md5(concat(lit("knnseed:"), col("id").cast("string"))), 1, 15), 16, 10)
        .cast("long"), lit(nb.toLong))), "sb", col("id"), col("v"), maxCell)
    val graph0 = base.unionByName(mirrorEdges(seedEdges))
    // NN-descent local join, once per round: undirected adjacency
    // (out + in), neighbor vectors riding the center shuffle as struct
    // payloads; per-round top-k trim bounds graph growth (and state)
    // exactly as NN-descent's K-list does. Intermediate rounds are
    // localCheckpoint'ed so round r+1 plans over materialized edges,
    // not an r-deep DAG.
    var graph = graph0
    var ranked: DataFrame = null
    for (round <- 0 until rounds) {
      val und = graph.select(col("vec_id"), col("neighbor_id"))
        .union(graph.select(col("neighbor_id"), col("vec_id")))
        .distinct()
      val candPairs = cellPairCos(
          und.join(kv.select(col("id").as("neighbor_id"), col("v").as("nv")), Seq("neighbor_id")),
          "vec_id", col("neighbor_id").as("id"), col("nv").as("v"), maxCell)
        // the same pair can share several centers — dedup before the merge
        .distinct()
      ranked = topK(graph.unionByName(mirrorEdges(candPairs))
          .groupBy("vec_id", "neighbor_id").agg(max(col("cos")).as("cos")),
        "vec_id", kNbrs, col("cos").desc, col("neighbor_id").asc)
      graph = ranked.select(col("vec_id"), col("neighbor_id"), col("cos"))
      if (round < rounds - 1) graph = graph.localCheckpoint()
    }
    ranked
      .select(col("vec_id"), col("rk"), col("neighbor_id"), col("cos"))
      .orderBy("vec_id", "rk")
  }

  /** IVF-style approximate top-k: an inverted-file index with a
    * deterministic centroid set (vectors with id % centroidMod == 0 stand
    * in for trained k-means centroids — the assignment/probe machinery is
    * what the engine provides; centroid training is an offline concern).
    * Every vector is assigned to its nearest centroid (one broadcast of
    * the small centroid set, ties broken by centroid id on the 6-dp
    * rounded cosine so both engines agree); queries probe their own
    * centroid's inverted list (nprobe=1). */
  def annIvf(
      emb: DataFrame, idCol: String, vecCol: String,
      centroidMod: Int, queryMod: Int, k: Int): DataFrame = {
    val assigned = ivfAssignments(emb, idCol, vecCol,
      ivfCentroids(emb, idCol, vecCol, centroidMod))
    val queries = assigned.filter(col("id") % queryMod === 0)
      .select(col("id").as("query_id"), col("v").as("qv"), col("cid"))
    cosTopK(assigned.select(col("id").as("neighbor_id"), col("v").as("nv"), col("cid"))
      .join(broadcast(queries), "cid")
      .filter(col("neighbor_id") =!= col("query_id")), k)
  }

  /** The k-sized centroid relation of a PERSISTED IVF index
    * (deterministic id-residue centroids, [[annIvf]]'s convention) — with
    * [[ivfAssignments]] these are the durable ANN artifacts of the
    * production similarity-ingest design, the exact counterpart of the
    * near-dup index pair ([[graft.ops.DedupOps.bandKeyIndex]] +
    * [[graft.ops.DedupOps.shingleHashSets]]). */
  def ivfCentroids(
      emb: DataFrame, idCol: String, vecCol: String, centroidMod: Int): DataFrame =
    emb.filter(col(idCol) % centroidMod === 0)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"))

  /** The inverted-list relation of a PERSISTED IVF index: every corpus
    * vector in exactly ONE list (nearest centroid, crk=1, cid tiebreak —
    * [[annIvf]]'s assignment verbatim), the vector stored WITH its list
    * so probes never re-read the corpus. Persist hive-partitioned by
    * `cid` and probe scans prune to the probed lists. */
  def ivfAssignments(
      emb: DataFrame, idCol: String, vecCol: String, centroids: DataFrame): DataFrame =
    rankCells(emb.select(col(idCol).as("id"), col(vecCol).as("v")), "v",
      centroids.select(col("cid"), col("cv")), Seq(col("id"), col("v")), BestCid, "cid")

  /** INGEST-time ANN from the PERSISTED index artifacts: each arriving
    * vector ranks the broadcast centroid relation, probes its `nprobe`
    * nearest lists in [[ivfAssignments]], and reports its exact-cosine
    * top-k corpus neighbors — [[graft.ops.DedupOps.minhashDeltaIndexed]]'s
    * similarity sibling (shard embeds, corpus only via its index; the
    * corpus is never re-assigned per query batch).
    *
    * 100 TB shape: the probe fan-out lives on the SMALL broadcast shard
    * side (shard × nprobe rows); the assignments relation is the big
    * side and joins on its own `cid` — persisted partitioned by cid, the
    * broadcast join prunes the scan to the probed lists (dynamic
    * partition pruning), so screening cost follows list sizes, not
    * corpus size. Returns (query_id, neighbor_id, cos, rk). */
  def annIvfDelta(
      newVecs: DataFrame, corpusCentroids: DataFrame, corpusAssignments: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val probes = rankCells(newVecs.select(col(idCol).as("qid"), col(vecCol).as("qv")), "qv",
        corpusCentroids.select(col("cid"), col("cv")), Seq(col("qid").as("query_id"), col("qv")),
        TopCells(nprobe), "__p", nonEmpty = false)
      .select(col("query_id"), col("qv"), (-col("__p.ncid")).as("cid"))
    cosTopK(corpusAssignments.select(col("id").as("neighbor_id"), col("v").as("nv"), col("cid"))
      .join(broadcast(probes), "cid"), k)
  }

  /** Multi-probe IVF: like [[annIvf]] but each query probes its `nprobe`
    * NEAREST centroids' inverted lists instead of only its own — the
    * standard IVF recall knob (recall rises toward brute force as nprobe →
    * k-cells). The corpus is still assigned to exactly ONE list (crk=1), so
    * probing n distinct cells can never duplicate a candidate; the probe
    * fan-out lives on the small broadcast query side (queries × nprobe
    * rows), mirroring [[annLshMultiProbe]]'s shape. */
  def annIvfMultiProbe(
      emb: DataFrame, idCol: String, vecCol: String,
      centroidMod: Int, queryMod: Int, k: Int, nprobe: Int): DataFrame = {
    // one descending cell array per row serves BOTH the assignment
    // (element 1) and the query side's nprobe probes (slice + explode)
    val ranked = rankCells(emb.select(col(idCol).as("id"), col(vecCol).as("v")), "v",
      ivfCentroids(emb, idCol, vecCol, centroidMod), Seq(col("id"), col("v")), AllCells, "__sc")
    val assigned = ranked
      .select(col("id"), col("v"), (-col("__sc")(0).getField("ncid")).as("cid"))
    val queries = ranked.filter(col("id") % queryMod === 0)
      .select(col("id").as("query_id"), col("v").as("qv"),
        explode(slice(col("__sc"), 1, nprobe)).as("__p"))
      .select(col("query_id"), col("qv"), (-col("__p.ncid")).as("cid"))
    cosTopK(assigned.select(col("id").as("neighbor_id"), col("v").as("nv"), col("cid"))
      .join(broadcast(queries), "cid")
      .filter(col("neighbor_id") =!= col("query_id")), k)
  }

  /** IVF centroid TRAINING: fixed-iteration Lloyd k-means expressed
    * entirely as DataFrame ops — no driver-side collect, ever. Upgrades
    * [[annIvf]]'s id-sampled stand-in centroids to trained ones.
    *
    * Each iteration is two distributed steps:
    *  1. assign — corpus × broadcast(centroids) cosine, per-vector argmax
    *     ([[rankCells]]; ties on the 6-dp score break by centroid id, so
    *     both engines agree);
    *  2. update — per-(cluster, dim) decimal-exact mean via posexplode
    *     (exact under any partial-agg order), re-assembled in dim order,
    *     rounded to 6 dp (the engine-wide cross-engine score contract).
    *
    * Initialization is deterministic AND bounded: the k lowest-id vectors
    * seed the k centroids, so the per-iteration broadcast stays k × dim
    * doubles no matter how large the corpus grows (an id-mod seed would
    * scale the centroid count — and the broadcast — with the corpus).
    * Clusters that lose all members drop out (standard Lloyd behavior).
    * `iters` is fixed rather than convergence-tested: that keeps the oracle
    * expressible (the DuckDB mirror unrolls the same iterations as CTEs)
    * and bounds cost; convergence-driven training is the same loop with a
    * count-based stop like [[DedupOps.connectedComponents]].
    *
    * 100 TB shape: centroids stay a small broadcast relation (k × dim
    * doubles); the corpus is scanned once per iteration, shuffled once per
    * iteration on (cluster, dim) for the partial-aggregated means. */
  def kmeansCentroids(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    require(iters >= 1, "kmeans needs at least one iteration")
    require(k >= 1, "kmeans needs at least one centroid")
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    var cents = kmeansSeed(emb, idCol, vecCol, k)
    var out: DataFrame = null
    for (_ <- 0 until iters) {
      out = lloydStep(vecs, cents)
      cents = out.select(col("cid"), col("centroid").as("cv"))
    }
    out.select(col("cid"), col("n_vecs"), col("centroid")).orderBy("cid")
  }

  /** The k lowest-id vectors as the deterministic, bounded seed. */
  private def kmeansSeed(
      emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    emb.orderBy(col(idCol).asc).limit(k)
      .select(col(idCol).as("cid"), asDouble(col(vecCol)).as("cv"))

  /** One Lloyd iteration (assign + decimal-exact update) over centroids
    * `cents` (cid, cv). Returns (cid, n_vecs, centroid) — the shared body
    * of [[kmeansCentroids]] and [[kmeansCentroidsConverged]], factored so
    * the two training modes cannot drift. */
  private def lloydStep(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val assigned = rankCells(vecs, "v", cents, Seq(col("v")), BestCid, "cid")
    val perDim = assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("dim0", "x")))
      .groupBy(col("cid"), (col("dim0") + 1).as("dim"))
      .agg(
        // float -> double -> decimal: exact widening then an exact,
        // associative sum (see labelCentroidProfile)
        round(sum(col("x").cast("double").cast("decimal(18,9)")).cast("double")
          / count(lit(1)), 6).as("m"),
        count(lit(1)).as("n"))
    perDim
      .groupBy("cid")
      .agg(
        array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"),
        max(col("n")).as("n_vecs"))
      .select(col("cid"), col("n_vecs"),
        transform(col("pairs"), p => p.getField("m")).as("centroid"))
  }

  /** Convergence-driven Lloyd training: the same assign/update step as
    * [[kmeansCentroids]], stopped as soon as no centroid's squared-L2
    * movement between consecutive iterations exceeds `tol` (and no cluster
    * was dropped that round), up to `maxIters`. Returns the centroid frame
    * plus the number of iterations actually run.
    *
    * Library surface only: the fixed-iteration form stays the
    * oracle-checked catalog entry because an unrolled-CTE oracle cannot
    * express a data-dependent stop. Unlike the fixed form — whose
    * iterations fold into ONE lazy plan executed once at the end — a
    * convergence test forces a materialization per iteration, so each
    * round is `localCheckpoint`ed to keep lineage (and planning cost)
    * flat, and the movement check is an O(k) aggregate over the two
    * broadcast-sized centroid frames, never a corpus-sized collect.
    *
    * 100 TB shape: identical per-iteration cost to [[kmeansCentroids]]
    * (one corpus scan + one (cluster, dim) shuffle) plus a k-row join;
    * the win is not running iterations the centroids no longer need. */
  def kmeansCentroidsConverged(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIters: Int, tol: Double = 1e-9): (DataFrame, Int) = {
    require(maxIters >= 1, "kmeans needs at least one iteration")
    require(k >= 1, "kmeans needs at least one centroid")
    require(tol >= 0, "tol must be non-negative")
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    var cents = kmeansSeed(emb, idCol, vecCol, k).localCheckpoint()
    var out: DataFrame = null
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val stepped = lloydStep(vecs, cents).localCheckpoint()
      val next = stepped.select(col("cid"), col("centroid").as("cv"))
      // movement: full-outer-join old/new on cid and read old count,
      // paired count, and max movement from ONE aggregate (one driver
      // action per iteration — a separate cents.count() would pay the
      // job-launch floor twice per round). A dropped cluster leaves
      // paired < nOld, which we treat as "still moving".
      val sq = zip_with(col("o.cv"), col("n.cv"),
        (a, b) => (a - b) * (a - b))
      val m = cents.as("o")
        .join(next.as("n"), col("o.cid") === col("n.cid"), "full_outer")
        .agg(
          count(col("o.cid")).as("nOld"),
          count(when(col("o.cid").isNotNull && col("n.cid").isNotNull, lit(1)))
            .as("paired"),
          coalesce(max(seqSum(sq)), lit(0.0)).as("maxMove"))
        .head()
      converged = m.getLong(0) == m.getLong(1) && m.getDouble(2) <= tol
      cents = next
      out = stepped
      iter += 1
    }
    (out.select(col("cid"), col("n_vecs"), col("centroid")).orderBy("cid"), iter)
  }

  /** Catalog shape of [[kmeansCentroids]]: one row per (cluster, dimension)
    * with scalar columns only. Array columns cannot be gate-compared (the
    * correctness harness sorts output columns and arrays are unhashable
    * there), so the array form above stays library-API-only and the
    * declared query uses this flattening. */
  def kmeansCentroidsFlat(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame =
    kmeansCentroids(emb, idCol, vecCol, k, iters)
      .select(col("cid"), col("n_vecs"),
        posexplode(col("centroid")).as(Seq("dim0", "mean")))
      .select(col("cid"), (col("dim0") + 1).cast("long").as("dim"),
        col("mean"), col("n_vecs"))
      .orderBy("cid", "dim")

  /** Squared L2 distance of two array columns, rounded to 6 dp. One fused
    * codegen'd loop ([[graft.functions.VectorMath.L2Squared]]) with the
    * same sequential left-to-right evaluation order as the HOF
    * formulation and the oracle's list_transform/list_sum — bit-wise
    * agreement, none of the interpreted per-component lambda dispatch. */
  private def l2sq(a: Column, b: Column): Column =
    graft.functions.VectorMath.l2Squared(a, b)

  /** EMBEDDING HEALTH profile per label/source: vector counts, NULL and
    * ALL-ZERO vector counts (the two degenerate classes every cosine
    * pipeline silently misranks — zero vectors have no direction at
    * all), dimension min/max (a ragged shard is an upstream encoder
    * bug), and squared-L2-norm min/max/mean. Collapsed norms flag an
    * encoder emitting near-constant outputs; for unit-normalized
    * corpora the norm band should hug 1.0 — the pre-flight check before
    * trusting any ANN/SemDeDup result downstream.
    *
    * Determinism: norm² is a sequential left-to-right Σx² (the
    * l2Sql/list_sum agreement contract) rounded to the engine-wide
    * 6 dp; the mean aggregates decimal-exactly (lloydStep pattern).
    * 100 TB shape: ONE map-only scan into a label-keyed partial
    * aggregate — no shuffle of vectors, only of per-label stat rows. */
  def embeddingProfile(
      emb: DataFrame, vecCol: String, groupCol: String): DataFrame = {
    val n2 = round(aggregate(transform(col(vecCol), x => x.cast("double")),
      lit(0.0d), (a, x) => a + x * x), 6)
    emb
      .select(col(groupCol), col(vecCol).isNull.as("is_nul"),
        when(col(vecCol).isNotNull, n2).as("n2"),
        when(col(vecCol).isNotNull, size(col(vecCol)).cast("long")).as("dim"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("is_nul"), 1L).otherwise(0L)).as("n_null"),
        sum(when(col("n2") === 0d, 1L).otherwise(0L)).as("n_zero"),
        min(col("dim")).as("dim_min"), max(col("dim")).as("dim_max"),
        min(col("n2")).as("norm2_min"), max(col("n2")).as("norm2_max"),
        round(sum(col("n2").cast("decimal(18,9)")).cast("double") /
          count(col("n2")), 6).as("norm2_mean"))
      .orderBy(col(groupCol))
  }

  /** CLUSTER SEPARATION profile (simplified silhouette, centroid form —
    * Hruschka et al. 2004's simplified silhouette with the repo's cosine
    * contract): train [[kmeansCentroids]], assign every vector to its
    * argmax-cosine centroid, and report per cluster the mean and minimum
    * MARGIN between the winning and runner-up centroid similarity. A
    * cluster whose margin hugs zero sits on a boundary (SemDeDup-style
    * cell dedup and the q80 topic labels are untrustworthy there); wide
    * margins certify the cell structure the IVF family prunes by. The
    * full silhouette's pairwise-distance form is O(n²); the centroid
    * form is the standard scalable surrogate and needs only the k-sized
    * broadcast the assignment pass already ships.
    *
    * Determinism: cosines are the engine-wide 6-dp contract; per-point
    * winner/runner-up come from ONE bounded (≤ k) sorted struct array
    * ((−cos, cid) — cos desc, cid asc, the training tiebreak), NOT a
    * per-point window; margins aggregate decimal-exactly (the lloydStep
    * sum pattern) so partial-agg order cannot shift a mean. Points are
    * dropped only if fewer than two trained centroids survive (both
    * engines drop them identically).
    *
    * 100 TB shape: one corpus scan × broadcast(k centroids) on top of
    * the training passes; one point-key aggregate (bounded arrays),
    * one cluster-key aggregate (≤ k rows). */
  def clusterSilhouette(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k >= 2, s"separation needs >= 2 centroids: $k")
    val cents = kmeansCentroids(emb, idCol, vecCol, k, iters)
      .select(col("cid"), col("centroid").as("cv"))
    // winner and runner-up are the first two ranked cells: (−ncid)
    // recovers cid, margin = ccos₀ − ccos₁
    rankCells(emb.select(col(idCol).as("id"), col(vecCol).as("v")), "v", cents,
        Seq(col("id")), AllCells, "a", nonEmpty = false)
      .filter(size(col("a")) >= 2)
      .select((-col("a")(0).getField("ncid")).as("cid"),
        round(col("a")(0).getField("ccos") - col("a")(1).getField("ccos"), 6)
          .as("margin"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_points"),
        round(sum(col("margin").cast("decimal(18,9)")).cast("double") /
          count(lit(1)), 6).as("mean_margin"),
        min(col("margin")).as("min_margin"))
      .orderBy("cid")
  }

  /** Cluster TOPIC labeling — the composition that makes k-means cells
    * HUMAN-AUDITABLE (class-based tf-idf, as in BERTopic, Grootendorst
    * 2022): train centroids on the embedding corpus ([[kmeansCentroids]]),
    * assign every vector to its cell (same argmax contract as training),
    * join each vector's document text, and rank each cell's terms by
    * c-TF-IDF with the engine's RATIONAL idf contract (see
    * [[TextAnalysisOps.tfIdfTopTerms]] for why not `ln`):
    * `score = (cell term count × n_cells) / n_cells_containing_term`,
    * identical operation order both engines.
    *
    * Output: (cid, rk, term, tf, df_cells, score), topN terms per cell.
    *
    * 100 TB shape: centroids stay a k×dim broadcast; assignment is one
    * corpus scan; the (cell, term) frame — tiny after map-side partial
    * aggregation (cells × vocabulary) — feeds three branches and is
    * checkpointed once (the [[TextAnalysisOps.tfIdfTopTerms]] pattern). */
  def clusterTopics(
      emb: DataFrame, docs: DataFrame,
      vecIdCol: String, vecCol: String, docIdCol: String, textCol: String,
      k: Int, iters: Int, topN: Int): DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    val cents = kmeansCentroids(emb, vecIdCol, vecCol, k, iters)
      .select(col("cid"), col("centroid").as("cv"))
      .localCheckpoint()
    val assigned = rankCells(emb.select(col(vecIdCol).as("id"), col(vecCol).as("v")), "v",
      cents, Seq(col("id")), BestCid, "cid")
    val tf = assigned
      .join(docs.filter(col(textCol).isNotNull)
        .select(col(docIdCol).as("id"), col(textCol).as("__txt")), "id")
      .select(col("cid"), graft.functions.Generators.ngramExplode(col("__txt"), 1).as("term"))
      .groupBy("cid", "term")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val cf = tf.groupBy("term").agg(count(lit(1)).as("df_cells"))
    val n = tf.select(countDistinct(col("cid")).as("n_cells"))
    topK(tf.join(cf, "term")
        .crossJoin(broadcast(n))
        .select(col("cid"), col("term"), col("tf"), col("df_cells"),
          round((col("tf") * col("n_cells")).cast("double") / col("df_cells"), 6).as("score")),
      "cid", topN, col("score").desc, col("term").asc)
      .select(col("cid"), col("rk"), col("term"), col("tf"), col("df_cells"), col("score"))
      .orderBy("cid", "rk")
  }

  /** 6-dp double -> exact ×10^6 scaled-int BIGINT (the engine-wide
    * money/score output contract; sums of these are exact and
    * order-independent, unlike sums of doubles). */
  private def e6(d: Column): Column =
    (d.cast("decimal(18,6)") * 1000000).cast("long")

  /** The PQ subvector length `dim / m`; `dim` must split evenly into `m`
    * subspaces. */
  private def subLenOf(dim: Int, m: Int): Int = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    dim / m
  }

  /** The `keep` columns next to one (sub, sv) row per PQ subspace of `v`
    * (`m` subspaces): sv is the contiguous `subLen`-long slice of `v`
    * that starts at component sub·subLen. */
  private def subvectors(
      df: DataFrame, keep: Seq[Column], v: Column, m: Int, subLen: Int): DataFrame = {
    val split = df.select(keep ++ Seq(explode(sequence(lit(0), lit(m - 1))).as("sub"),
      v.as("__v")): _*)
    split.select(split.columns.dropRight(2).map(col) ++ Seq(col("sub"),
      slice(col("__v"), col("sub") * subLen + lit(1), lit(subLen)).as("sv")): _*)
  }

  /** Sub-vector rows for product quantization: one row per (vector,
    * subspace) with the contiguous L-dim slice as double. */
  private def pqSubvectors(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, subLen: Int): DataFrame =
    subvectors(emb, Seq(col(idCol).as("id")), col(vecCol), m, subLen)
      .select(col("id"), col("sub"), asDouble(col("sv")).as("sv"))

  /** PRODUCT QUANTIZATION codebook training (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): split each
    * vector into `m` contiguous subspaces of dim/m components and train an
    * INDEPENDENT `ksub`-centroid Lloyd codebook per subspace — all
    * subspaces in one DataFrame loop (`sub` is a column, never a driver
    * loop). Same deterministic contract as [[kmeansCentroids]]: `ksub`
    * lowest-id seed vectors, 6-dp squared-L2 assignment with centroid-id
    * tiebreak, decimal-exact per-dimension means.
    *
    * 100 TB shape: this is THE billion-vector scale path — codes compress
    * each vector to m small ints (vs 4·dim bytes of floats), the codebook
    * relation stays m × ksub × (dim/m) doubles (a trivial broadcast), and
    * search never touches raw corpus vectors again. Returns
    * (sub, cid, cv, n_vecs). */
  def pqTrainCodebooks(
      emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ksub: Int, iters: Int): DataFrame = {
    val subLen = subLenOf(dim, m)
    require(ksub >= 1 && iters >= 1, "pq needs >=1 centroid and >=1 iteration")
    val subs = pqSubvectors(emb, idCol, vecCol, m, subLen)
    var cents = pqSubvectors(emb.orderBy(col(idCol).asc).limit(ksub), idCol, vecCol, m, subLen)
      .select(col("sub"), col("id").as("cid"), col("sv").as("cv"))
    var out: DataFrame = null
    for (_ <- 0 until iters) {
      out = codebookStep(subs, cents)
      cents = out.select(col("sub"), col("cid"), col("cv"))
    }
    out.orderBy("sub", "cid")
  }

  /** PQ encoding: each vector becomes `m` rows (id, sub, code) — the code
    * is the nearest codebook centroid per subspace (6-dp L2, cid
    * tiebreak). At scale this table replaces the raw vectors for search:
    * m small ints per vector. */
  def pqEncode(
      emb: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, dim: Int, m: Int): DataFrame = {
    pqCodes(pqSubvectors(emb, idCol, vecCol, m, subLenOf(dim, m)), codebooks,
      Seq(col("id"), col("sub")), "code")
  }

  /** PQ top-k ANN by asymmetric distance (ADC): the approximate distance
    * from query q to vector x is the sum over subspaces of the exact
    * distance from q's subvector to x's ASSIGNED CENTROID — so search
    * joins the tiny codes table against a per-query lookup table
    * (|queries| × m × ksub rows, broadcast) and never reads corpus
    * vectors. Per-sub distances are ×10^6 scaled-int, so the m-term sum
    * is exact and aggregation-order-independent; output is all-BIGINT
    * (query_id, neighbor_id, adist_e6, rk).
    *
    * Trains + encodes + searches in one call — the catalog entry; the
    * pieces above are the library API for reusing a trained codebook. */
  def pqAnn(
      emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ksub: Int, iters: Int,
      queryMod: Int, k: Int): DataFrame = {
    val subLen = subLenOf(dim, m)
    // the trained codebooks + code table through the session memo (r14):
    // a PQ deployment trains once and PERSISTS the index; repeated
    // searches over the same corpus and parameters read the artifacts.
    // The memoized codebooks are m × ksub rows; the codes relation is m
    // small ints per vector — the compressed index, never raw vectors.
    val (codebooks, codes) = pqMemo(emb, (idCol, vecCol, dim, m, ksub, iters)) {
      // materialize the trained codebooks ONCE (m × ksub rows): they
      // feed both the encode branch and the query LUT branch, and
      // without the checkpoint each branch embeds — and re-executes —
      // the whole iters-deep training DAG over the corpus
      val cb = pqTrainCodebooks(emb, idCol, vecCol, dim, m, ksub, iters)
        .localCheckpoint()
      (cb, pqEncode(emb, idCol, vecCol, cb, dim, m).localCheckpoint())
    }
    val lut = pqSubvectors(
        emb.filter(col(idCol) % queryMod === 0), idCol, vecCol, m, subLen)
      .join(broadcast(codebooks.select(col("sub"), col("cid"), col("cv"))), "sub")
      .select(col("id").as("query_id"), col("sub"), col("cid"),
        e6(l2sq(col("sv"), col("cv"))).as("d_e6"))
    adcTopK(codes.join(broadcast(lut),
      codes("sub") === lut("sub") && codes("code") === lut("cid")), k)
  }

  /** IVF-PQ top-k ANN (Jégou et al., TPAMI 2011 §IV — "IVFADC"): the
    * production combination the plain [[pqAnn]] only gestures at.
    * Vectors are first assigned to a coarse IVF cell ([[annIvf]]'s
    * deterministic id-residue centroids, same 6-dp-cosine/cid-tiebreak
    * argmax), then the RESIDUAL v − centroid(cell) is product-quantized.
    * Residuals are what make PQ codebooks bite: they are centered near
    * zero with far less variance than raw vectors, so the same bit
    * budget resolves much finer distances — the r7 recall autopsy showed
    * raw-vector PQ at tiny codebooks is correct-but-useless (recall@5 =
    * 0.008 at the q51 catalog parameters), while this operator at
    * production parameters (ksub=256, nprobe=8) measures 0.22 in
    * `RECALL.json` — better, but on distance-concentrated corpora pure
    * ADC still plateaus far below the probe-coverage ceiling, which is
    * why production deployments pair it with [[ivfPqRerankAnn]]'s exact
    * refine stage (0.688 at the same codes).
    *
    * Search is the classic per-cell ADC: a query ranks the broadcast
    * coarse centroids, probes its `nprobe` nearest cells, and for EACH
    * probed cell builds a lookup table of exact distances from the
    * query's residual-in-that-cell to every codebook centroid — the
    * approximate distance to a corpus vector is the m-term LUT sum over
    * the vector's codes, joined on (cell, subspace, code). Per-sub
    * distances are ×10^6 scaled ints, so the sum is exact BIGINT and the
    * ranking is aggregation-order-immune, [[pqAnn]]'s contract.
    *
    * 100 TB shape: the corpus persists as (id, cell, m codes) — m bytes
    * + a cell id per vector, hive-partitionable by cell so probes prune
    * the scan to the probed lists ([[annIvfDelta]]'s layout with codes
    * instead of raw vectors); codebooks are an m × ksub × (dim/m)
    * broadcast; the per-query LUT relation is |queries| × nprobe × m ×
    * ksub rows on the broadcast side — size the query batch, not the
    * corpus. Training touches the corpus once per Lloyd iteration (the
    * [[pqTrainCodebooks]] shape over the residual relation, which is
    * checkpointed once rather than re-derived per iteration).
    *
    * Output: (query_id, neighbor_id, adist_e6, rk), all-BIGINT. */
  def ivfPqAnn(
      emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, coarseMod: Int, m: Int, ksub: Int, iters: Int,
      queryMod: Int, k: Int, nprobe: Int): DataFrame = {
    val (cents, codebooks, codes) =
      idResidueIndexShared(emb, idCol, vecCol, dim, coarseMod, m, ksub, iters)
    ivfPqFromIndex(emb.filter(col(idCol) % queryMod === 0),
      cents, codebooks, codes, idCol, vecCol, dim, m, k, nprobe)
  }

  /** The ID-RESIDUE IVF-PQ index triple through the session memo —
    * [[kmeansIndexShared]]'s convention for the id-residue quantizer
    * (r14): the catalog's q124 ADC search and q125 rerank search train
    * IDENTICAL centroids, codebooks and codes over the same corpus and
    * parameters, so the second caller reads the memoized artifacts
    * instead of re-running the whole training DAG — exactly what a
    * production deployment does by PERSISTING the index
    * ([[ivfPqIndex]]'s documented durable form) instead of retraining
    * per query. */
  private def idResidueIndexShared(
      emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, coarseMod: Int, m: Int, ksub: Int, iters: Int):
      (DataFrame, DataFrame, DataFrame) =
    idResidueIndexMemo(emb, (idCol, vecCol, dim, coarseMod, m, ksub, iters)) {
      val (c, codebooks, codes) =
        ivfPqIndex(emb, idCol, vecCol, dim, coarseMod, m, ksub, iters)
      // the memoized value is the compressed index a deployment persists
      // (cells + m codes per vector), never raw vectors — checkpointed so
      // consumers read the artifact instead of re-running the encode
      (c, codebooks, codes.localCheckpoint())
    }

  /** IVF-PQ over TRAINED coarse cells (the r8 verdict's ask): Lloyd
    * k-means supplies the `kCoarse` coarse centroids, so the coarse
    * broadcast is O(kCoarse·dim) doubles HOWEVER LARGE the corpus —
    * [[ivfPqAnn]]'s id-residue convention keeps the oracle cheap but its
    * centroid relation (and its assignment join's broadcast side) grows
    * ~n/coarseMod with the corpus, which is the wrong shape at 10⁹
    * vectors. This is the production FAISS composition
    * (`IndexIVFPQ` over a trained coarse quantizer); everything past the
    * coarse stage is [[ivfPqIndexWith]]/[[ivfPqFromIndex]] verbatim.
    * Both engines train the identical quantizer (6-dp decimal-exact
    * means, lowest-id seeds), so the unrolled-CTE oracle stays exact. */
  def ivfPqKmeansAnn(
      emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, kCoarse: Int, kmIters: Int, m: Int, ksub: Int, iters: Int,
      queryMod: Int, k: Int, nprobe: Int): DataFrame = {
    val (c, codebooks, codes) = kmeansIndexShared(
      emb, idCol, vecCol, dim, kCoarse, kmIters, m, ksub, iters)
    ivfPqFromIndex(emb.filter(col(idCol) % queryMod === 0),
      c, codebooks, codes, idCol, vecCol, dim, m, k, nprobe)
  }

  /** Session-scoped caches ([[ArtifactCache]]) of trained PQ indexes,
    * one per quantizer: plain PQ's (codebooks, codes) for [[pqAnn]], and
    * the IVF-PQ triple (coarse centroids, residual codebooks, code table)
    * over id-residue cells ([[idResidueIndexShared]]) and over trained
    * kmeans cells ([[kmeansIndexShared]]). The memoized codes relation is
    * m small ints (+ a cell id) per vector — the compressed index a
    * production deployment PERSISTS, never the raw corpus. */
  private[graft] val pqMemo = new ArtifactCache[(DataFrame, DataFrame)]
  private[graft] val idResidueIndexMemo = new ArtifactCache[(DataFrame, DataFrame, DataFrame)]
  private[graft] val kmeansIndexMemo = new ArtifactCache[(DataFrame, DataFrame, DataFrame)]

  /** The kmeans-cell IVF-PQ index triple, shared by every consumer of
    * the same (content, params) index: the catalog's q129 ADC search and
    * q175 rerank search train IDENTICAL kmeans centroids + codebooks
    * over the same corpus, so the second caller skips the whole training
    * DAG (Lloyd rounds, residual pass, codebook iterations, encode). */
  private def kmeansIndexShared(
      emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, kCoarse: Int, kmIters: Int, m: Int, ksub: Int, iters: Int):
      (DataFrame, DataFrame, DataFrame) =
    kmeansIndexMemo(emb, (idCol, vecCol, dim, kCoarse, kmIters, m, ksub, iters)) {
      // trained once; feeds the residual assignment AND the query-side
      // probe ranking — checkpoint keeps the Lloyd iterations from
      // re-running per consumer (the codebook-materialization
      // precedent), and the relation is kCoarse rows of dim doubles
      val cents = kmeansCentroids(emb, idCol, vecCol, kCoarse, kmIters)
        .select(col("cid"), col("centroid").as("cv"))
        .localCheckpoint()
      val (c, codebooks, codes) =
        ivfPqIndexWith(emb, idCol, vecCol, cents, dim, m, ksub, iters)
      (c, codebooks, codes.localCheckpoint())
    }

  /** Build the THREE persisted artifacts of an IVF-PQ index —
    * (coarse centroids, residual codebooks, code table) — the durable
    * form of [[ivfPqAnn]]'s state, completing the index-artifact family
    * ([[ivfCentroids]]+[[ivfAssignments]] store raw vectors; this stores
    * m small ints per vector instead — the billion-vector compression
    * point). Persist codes hive-partitioned by `ccell` so probes prune;
    * centroids and codebooks are broadcast-sized. Write → reload →
    * [[ivfPqFromIndex]] is bit-identical to the inline search
    * (spec-pinned): every stored column is exact (BIGINT ids/codes,
    * double centroid components), so parquet round-trips lose nothing. */
  def ivfPqIndex(
      emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, coarseMod: Int, m: Int, ksub: Int, iters: Int):
      (DataFrame, DataFrame, DataFrame) =
    // id-residue coarse cells: the oracle-tractable DEFAULT, but the
    // centroid relation grows ~n/coarseMod with the corpus (at 10^9
    // vectors and cmod=50 that is a 2×10^7-row broadcast and an
    // n²/coarseMod assignment join) — at scale pass TRAINED fixed-k
    // centroids to [[ivfPqIndexWith]] instead ([[ivfPqKmeansAnn]] wires
    // [[kmeansCentroids]] in; its broadcast is O(k·dim) regardless of
    // corpus size). The centroid select is [[ivfCentroids]]' with the
    // cast folded in: a cast selected over ivfCentroids would plan above
    // the embeddings' round-robin exchange, its rename below it
    ivfPqIndexWith(emb, idCol, vecCol,
      emb.filter(col(idCol) % coarseMod === 0)
        .select(col(idCol).as("cid"), asDouble(col(vecCol)).as("cv")),
      dim, m, ksub, iters)

  /** [[ivfPqIndex]] over a CALLER-SUPPLIED coarse-centroid relation
    * (cid, cv) — the fixed-k quantizer entry point: with trained
    * centroids ([[kmeansCentroids]]) the coarse stage broadcasts
    * O(k·dim) doubles however large the corpus grows, where the
    * id-residue default's centroid count is corpus-proportional
    * (~n/coarseMod). Identical artifacts for identical `cents`
    * (spec-pinned against the id-residue form). */
  def ivfPqIndexWith(
      emb: DataFrame, idCol: String, vecCol: String, cents: DataFrame,
      dim: Int, m: Int, ksub: Int, iters: Int):
      (DataFrame, DataFrame, DataFrame) = {
    val subLen = subLenOf(dim, m)
    require(ksub >= 1 && iters >= 1, "pq needs >=1 centroid and >=1 iteration")
    // coarse assignment + residual, one corpus pass; checkpointed because
    // every Lloyd iteration, the encode branch, and nothing else should
    // re-run the corpus × centroid ranking
    val subs = ivfPqResidualSubs(emb, idCol, vecCol, cents, m, subLen)
      .localCheckpoint()
    // global residual codebooks, ksub lowest-id seeds — pqTrainCodebooks'
    // exact per-iteration contract (6-dp L2 + cid tiebreak, decimal means)
    val seedIds = emb.orderBy(col(idCol).asc).limit(ksub)
      .select(col(idCol).as("id"))
    var cb = subs.join(broadcast(seedIds), "id")
      .select(col("sub"), col("id").as("cid"), col("sv").as("cv"))
    for (_ <- 0 until iters)
      cb = codebookStep(subs, cb).select(col("sub"), col("cid"), col("cv"))
    // materialize the trained codebooks once: encode + every probed-cell
    // LUT read them, and the training DAG must not re-run per consumer
    val codebooks = cb.localCheckpoint()
    (cents, codebooks, pqCodes(subs, codebooks, Seq(col("id"), col("ccell"), col("sub")), "code"))
  }

  /** (id, ccell, sub, sv): nearest-coarse-cell assignment + residual,
    * split into m contiguous subvectors — the shared input of codebook
    * training and encoding. */
  private def ivfPqResidualSubs(
      emb: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, m: Int, subLen: Int): DataFrame =
    rankCells(emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v")), "v",
        cents, Seq(col("id"), col("v")), BestCell, "__best")
      .select(col("id"), (-col("__best.ncid")).as("ccell"),
        zip_with(col("v"), col("__best.cv"), (x, c) => x - c).as("rv"))
      .transform(subvectors(_, Seq(col("id"), col("ccell")), col("rv"), m, subLen))

  /** Encode ARRIVING vectors against a FROZEN IVF-PQ index (the
    * centroids + codebooks of [[ivfPqIndex]], typically reloaded from
    * parquet): coarse-assign, take the residual, quantize each subspace
    * to its nearest codebook centroid — the ingest-time counterpart of
    * [[ivfPqIndex]]'s corpus encode, byte-identical for the same
    * vectors (spec-pinned), so appended shard codes are
    * indistinguishable from seed codes. Residual codes are only valid
    * under the codebooks they were quantized with — never mix codebook
    * generations in one code table. */
  def ivfPqCodesFor(
      vecs: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, codebooks: DataFrame, dim: Int, m: Int): DataFrame = {
    val subLen = subLenOf(dim, m)
    pqCodes(ivfPqResidualSubs(vecs, idCol, vecCol, cents.select(col("cid"), col("cv")), m, subLen),
      codebooks, Seq(col("id"), col("ccell"), col("sub")), "code")
  }

  /** ADC search from the PERSISTED IVF-PQ artifacts — [[annIvfDelta]]'s
    * compressed sibling: arriving query vectors rank the broadcast
    * coarse centroids, probe their `nprobe` nearest cells, and score the
    * probed cells' CODES via per-cell lookup tables; the raw corpus is
    * never touched. `queries` is any (idCol, vecCol) relation — a delta
    * shard, or a filtered slice of the corpus itself (self-pairs are
    * excluded by id). */
  def ivfPqFromIndex(
      queries: DataFrame, cents: DataFrame, codebooks: DataFrame, codes: DataFrame,
      idCol: String, vecCol: String, dim: Int, m: Int, k: Int, nprobe: Int): DataFrame = {
    val subLen = subLenOf(dim, m)
    require(nprobe >= 1 && k >= 1, s"bad nprobe=$nprobe/k=$k")
    // queries: rank coarse cells, keep nprobe, residual PER PROBED CELL
    // (the probed cell's cv rides its ranked struct)
    val lut = rankCells(queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv")), "qv",
        cents, Seq(col("qid").as("query_id"), col("qv")), TopCells(nprobe), "__p", nonEmpty = false)
      .select(col("query_id"), (-col("__p.ncid")).as("ccell"),
        zip_with(col("qv"), col("__p.cv"), (x, c) => x - c).as("qrv"))
      .transform(subvectors(_, Seq(col("query_id"), col("ccell")), col("qrv"), m, subLen))
      .join(broadcast(codebooks.select(col("sub"), col("cid"), col("cv"))), "sub")
      .select(col("query_id"), col("ccell"), col("sub"), col("cid"),
        e6(l2sq(col("sv"), col("cv"))).as("d_e6"))
    adcTopK(codes.join(broadcast(lut),
      codes("ccell") === lut("ccell") && codes("sub") === lut("sub") &&
        codes("code") === lut("cid")), k)
  }

  /** IVF-PQ with EXACT RE-RANKING (the FAISS `IndexIVFPQ + RefineFlat`
    * production stack): [[ivfPqAnn]]'s ADC ranking selects a per-query
    * shortlist of `rerank` candidates, whose TRUE cosines are then
    * computed against the raw vectors — final top-k by exact cosine.
    *
    * Why the refine stage earns its keep (measured, `RECALL.json`): on
    * embeddings whose pairwise distances concentrate (random-ish unit
    * vectors — the hardest case) true neighbor gaps are smaller than
    * quantization noise, so at FULL probe coverage ADC recall@5
    * plateaus ~0.25 at the production m=8 codes and only ~0.75 even at
    * a near-exact m=32/ksub=256 quantizer. A shortlist 10× the k
    * absorbs that noise at the PRODUCTION code size: recall
    * rises to the coarse-probe coverage ceiling while the corpus still
    * compresses to m bytes/vector and the exact pass touches only
    * |queries| × rerank raw vectors — at 100 TB that is a point-lookup
    * stream against the id-keyed vector store, not a scan.
    *
    * Output: (query_id, neighbor_id, cos, rk) — the [[annBruteForce]]
    * schema, because the final scores ARE exact cosines. */
  def ivfPqRerankAnn(
      emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, coarseMod: Int, m: Int, ksub: Int, iters: Int,
      queryMod: Int, k: Int, nprobe: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"shortlist $rerank must be >= k=$k")
    exactRefine(
      ivfPqAnn(emb, idCol, vecCol, dim, coarseMod, m, ksub, iters,
        queryMod, rerank, nprobe),
      emb, idCol, vecCol, queryMod, k)
  }

  /** [[ivfPqRerankAnn]] over TRAINED coarse cells — the full production
    * FAISS stack (`IndexIVFPQ(quantizer=trained kmeans) + RefineFlat`):
    * [[ivfPqKmeansAnn]]'s ADC ranking selects the shortlist, exact
    * cosines re-rank it. This closes the r9 finding that the trained
    * quantizer TRAILED the id-residue rerank path (0.304 vs 0.688 at the
    * scaled operating point) — the gap was never the quantizer, it was
    * the missing refine stage over its candidates; with it wired the
    * trained path reaches the same coverage ceiling with an O(k·dim)
    * coarse broadcast however large the corpus (measured, `RECALL.json`:
    * ivf_pq_kmeans_rerank[scaled] = 0.736 vs the id-residue rerank's
    * 0.688 — the balanced trained cells give nprobe=16 BETTER coverage
    * than the same probes over skewed id-residue cells).
    *
    * Output: (query_id, neighbor_id, cos, rk) — exact-cosine scores,
    * [[ivfPqRerankAnn]]'s contract. */
  def ivfPqKmeansRerankAnn(
      emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, kCoarse: Int, kmIters: Int, m: Int, ksub: Int, iters: Int,
      queryMod: Int, k: Int, nprobe: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"shortlist $rerank must be >= k=$k")
    // rides the shared trained-index memo through ivfPqKmeansAnn: the
    // q129-after-q175 catalog shape trains the artifacts exactly once
    exactRefine(
      ivfPqKmeansAnn(emb, idCol, vecCol, dim, kCoarse, kmIters, m, ksub, iters,
        queryMod, rerank, nprobe),
      emb, idCol, vecCol, queryMod, k)
  }

  /** The shared EXACT-REFINE stage of the rerank family: true cosines of
    * a per-query shortlist against the raw vectors, final top-k. The
    * shortlist join is id-keyed (a point-lookup stream against the
    * vector store at scale, never a scan); the query side broadcasts. */
  private def exactRefine(
      shortlist: DataFrame, emb: DataFrame, idCol: String, vecCol: String,
      queryMod: Int, k: Int): DataFrame = {
    cosTopK(shortlist
      .select(col("query_id"), col("neighbor_id"))
      .join(emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv")),
        "neighbor_id")
      .join(broadcast(emb.filter(col(idCol) % queryMod === 0)
        .select(col(idCol).as("query_id"), col(vecCol).as("qv"))), "query_id"), k)
  }

  /** Per-label centroid profile: vector count and decimal-exact means of
    * the first two dimensions (component values cast to decimal before
    * summing — exact under any aggregation order). The full-centroid
    * operator for engine use is [[labelCentroids]]. */
  def labelCentroidProfile(emb: DataFrame, idCol: String, vecCol: String, labelCol: String): DataFrame =
    emb
      .groupBy(col(labelCol).as("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        // float -> double first: Spark's float->decimal cast goes through
        // Float.toString (shortest repr), which disagrees with engines that
        // round the widened binary value
        sum(element_at(col(vecCol), 1).cast("double").cast("decimal(18,9)")).as("s0"),
        sum(element_at(col(vecCol), 2).cast("double").cast("decimal(18,9)")).as("s1"))
      .select(
        col("label"), col("n_vecs"),
        round(col("s0").cast("double") / col("n_vecs"), 6).as("mean_d0"),
        round(col("s1").cast("double") / col("n_vecs"), 6).as("mean_d1"))
      .orderBy("label")

  /** Full per-label mean vector (array<double>): posexplode + per-dim avg +
    * re-assembly in dim order. One shuffle on (label, dim). */
  def labelCentroids(emb: DataFrame, vecCol: String, labelCol: String): DataFrame =
    emb
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(avg(col("x").cast("double")).as("m"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"))
      .select(col("label"), transform(col("pairs"), p => p.getField("m")).as("centroid"))

  /** LENGTH ↔ EMBEDDING-NORM CORRELATION — the encoder LENGTH-BIAS check
    * (q170): Pearson correlation between a document-length metric and its
    * embedding's squared norm over the doc ↔ vector join. A strong
    * positive correlation means the encoder leaks length into magnitude —
    * dot-product retrieval then systematically prefers long documents,
    * and the fix (normalize, or switch to cosine) should land BEFORE the
    * index is built. Complements [[embeddingProfile]] (marginal norm
    * stats) with the cross-modal signal.
    *
    * Determinism: the [[graft.ops.RelationalOps.momentStats]] contract —
    * x is exact integer, y is the 6-dp-rounded squared norm, all five
    * moment sums accumulate as EXACT decimals (associative — partial-agg
    * order cannot move them), and doubles appear only in the single
    * final Pearson expression, identical operation order both engines.
    *
    * Output: one row (n_pairs, corr). n_pairs < 2 or zero variance on
    * either side yields a null corr on both engines.
    *
    * 100 TB shape: one id-keyed join (the two projections are narrow),
    * one five-sum aggregate — no window, no collect; decimal(38)
    * headroom bounds the corpus at ~10¹² rows at these magnitudes (note
    * in-code if a wider accumulator is ever needed). */
  def lengthNormCorrelation(
      docs: DataFrame, docIdCol: String, lenCol: String,
      emb: DataFrame, vecIdCol: String, vecCol: String): DataFrame = {
    val x = docs.filter(col(lenCol).isNotNull)
      .select(col(docIdCol).as("k"), col(lenCol).cast("long").as("x"))
    val n2 = round(aggregate(transform(col(vecCol), v => v.cast("double")),
      lit(0.0d), (a, v) => a + v * v), 6)
    // y in exact ×10⁶ micro-ints (the zipfSlope regression-sum contract);
    // Pearson is scale-invariant, so the micro scaling cancels. A
    // unit-normalized corpus has zero norm variance and reports a NULL
    // corr (the integerCorrelation guard) — itself the answer: no
    // length bias is possible through the magnitude channel.
    val y = emb.filter(col(vecCol).isNotNull)
      .select(col(vecIdCol).as("k"), e6(n2).as("y"))
    RelationalOps.integerCorrelation(x.join(y, Seq("k")), "x", "y")
  }

  /** LABEL-CENTROID MARGIN — annotation QA over a labeled embedding
    * corpus: per label, how separable the label is in embedding space.
    * Every vector scores against ALL label centroids (decimal-exact 6-dp
    * means, the [[kmeansCentroids]] update contract); its margin is
    * `cos(v, own-label centroid) − max over other labels of cos(v, that
    * centroid)` — negative means some OTHER label's centroid explains the
    * vector better (a likely mislabel, or an unseparable label pair).
    * The trained-cell sibling is [[clusterSilhouette]] (unsupervised
    * cells); this op scores the HUMAN labels against the geometry.
    *
    * Output per label: (n_vecs, n_misassigned, mean_margin, min_margin,
    * mis_ppm), ordered by label. `mis_ppm` high = that label's
    * annotations disagree with embedding space — route to re-annotation
    * before the label trains a classifier.
    *
    * Determinism: 6-dp cosine contract, strict `margin < 0` mis test,
    * decimal-exact margin means, truncating ppm.
    *
    * 100 TB shape: centroids are one (label, dim)-keyed aggregate
    * (#labels × dim rows — a broadcast however big the corpus); scoring
    * is one corpus scan × broadcast centroids with a per-vector bounded
    * aggregate (≤ #labels rows per vector, map-side combinable); the
    * final frame is ≤ #labels rows. No windows, no self-joins. */
  def labelCentroidMargin(
      emb: DataFrame, idCol: String, vecCol: String, labelCol: String): DataFrame = {
    val base = emb.filter(col(vecCol).isNotNull && col(labelCol).isNotNull)
      .select(col(idCol).as("id"), col(labelCol).cast("long").as("lbl"),
        col(vecCol).as("v"))
    val cents = base
      .select(col("lbl"), posexplode(col("v")).as(Seq("dim0", "x")))
      .groupBy(col("lbl"), (col("dim0") + 1).as("dim"))
      // float -> double -> decimal: exact widening then an exact,
      // associative sum (the lloydStep update contract)
      .agg(round(sum(col("x").cast("double").cast("decimal(18,9)")).cast("double")
        / count(lit(1)), 6).as("m"))
      .groupBy("lbl")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"))
      .select(col("lbl").as("clbl"),
        transform(col("pairs"), p => p.getField("m")).as("cv"))
    base.crossJoin(broadcast(cents))
      .select(col("id"), col("lbl"), col("clbl"),
        cosine(col("v"), col("cv")).as("ccos"))
      .groupBy("id", "lbl")
      .agg(max(when(col("clbl") === col("lbl"), col("ccos"))).as("own"),
        max(when(col("clbl") =!= col("lbl"), col("ccos"))).as("bo"))
      .filter(col("own").isNotNull && col("bo").isNotNull)
      .select(col("lbl"), round(col("own") - col("bo"), 6).as("margin"))
      .groupBy(col("lbl").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("margin") < 0, 1L).otherwise(0L)).as("n_misassigned"),
        round(sum(col("margin").cast("decimal(18,9)")).cast("double")
          / count(lit(1)), 6).as("mean_margin"),
        min(col("margin")).as("min_margin"))
      .withColumn("mis_ppm", expr("n_misassigned * 1000000 div n_vecs"))
      .orderBy("label")
  }

  /** HARD-NEGATIVE TRIPLET MINING — the training-pair generator for
    * contrastive embedding fine-tuning (the SimCSE / sentence-transformers
    * data prep): for each sampled anchor, its most-similar SAME-label
    * vector (the positive) and its most-similar OTHER-label vector (the
    * hard negative — the one that teaches the model something; a random
    * negative is trivially far). `margin = pos_cos − neg_cos`: anchors
    * with small or negative margins are exactly the boundary cases a
    * contrastive loss needs most, and a heavily negative margin is the
    * same mislabel signal [[labelCentroidMargin]] reports at label
    * granularity, here at VECTOR granularity with the culprit attached.
    *
    * Output per anchor: (anchor_id, label, pos_id, pos_cos, neg_id,
    * neg_cos, margin), ordered by anchor_id. Anchors missing either side
    * (singleton label, or only one label in the corpus) drop.
    *
    * Determinism: 6-dp cosine; winner per side from a lexicographic
    * struct-min ((−cos, id) — cos desc, id asc, the training tiebreak),
    * map-side combinable — no per-anchor window over the corpus.
    *
    * 100 TB shape: anchors (id-residue sample) broadcast with their
    * vectors; the corpus streams ONCE against them (the [[annBruteForce]]
    * exactness-reference shape — swap in an ANN shortlist for production
    * fan-out); the per-(anchor) aggregate carries two bounded structs. */
  def tripletMining(
      emb: DataFrame, idCol: String, vecCol: String, labelCol: String,
      queryMod: Int): DataFrame = {
    require(queryMod >= 1, s"bad queryMod: $queryMod")
    val base = emb.filter(col(vecCol).isNotNull && col(labelCol).isNotNull)
      .select(col(idCol).as("nid"), col(labelCol).cast("long").as("nlbl"),
        col(vecCol).as("nv"))
    val anchors = base.filter(col("nid") % queryMod === 0)
      .select(col("nid").as("aid"), col("nlbl").as("albl"), col("nv").as("av"))
    base.crossJoin(broadcast(anchors))
      .filter(col("nid") =!= col("aid"))
      .select(col("aid"), col("albl"), col("nid"), col("nlbl"),
        cosine(col("nv"), col("av")).as("ccos"))
      .groupBy("aid", "albl")
      .agg(
        min(when(col("nlbl") === col("albl"),
          struct((-col("ccos")).as("nc"), col("nid").as("id")))).as("p"),
        min(when(col("nlbl") =!= col("albl"),
          struct((-col("ccos")).as("nc"), col("nid").as("id")))).as("n"))
      .filter(col("p").isNotNull && col("n").isNotNull)
      .select(col("aid").as("anchor_id"), col("albl").as("label"),
        col("p.id").as("pos_id"), (-col("p.nc")).as("pos_cos"),
        col("n.id").as("neg_id"), (-col("n.nc")).as("neg_cos"),
        round((-col("p.nc")) - (-col("n.nc")), 6).as("margin"))
      .orderBy("anchor_id")
  }

  // --- SCALAR (int8-style symmetric) QUANTIZATION -------------------------

  /** Per-dimension quantization scales: the max absolute component value
    * over the corpus, assembled into ONE single-row array<double> relation
    * (`sv`, dim entries) ready to broadcast — the calibration half of
    * symmetric int8 scalar quantization (the "SQ8" path every production
    * vector store ships next to PQ: 4× smaller vectors, integer distance
    * kernels, no codebook training). One posexplode pass + a dim-sized
    * aggregate; corpus vectors are never collected. */
  def sqScales(emb: DataFrame, vecCol: String): DataFrame =
    emb
      .filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy("d")
      .agg(max(abs(col("x").cast("double"))).as("s"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("d"), col("s")))).as("pairs"))
      .select(transform(col("pairs"), p => p.getField("s")).as("sv"))

  /** Symmetric int8 codes from a broadcast scale row: component d maps to
    * clamp(floor(x_d * 127 / s_d), -127, 127), an all-zero dimension
    * (s_d = 0) to 0. floor keeps the boundary integer-exact on any
    * IEEE-754 engine (round-half cases cannot diverge), and the clamp is
    * symmetric so code arithmetic never touches -128. Map-only: one
    * zip_with against the broadcast single-row scales. */
  def sqEncode(emb: DataFrame, idCol: String, vecCol: String, scales: DataFrame): DataFrame =
    emb
      .filter(col(vecCol).isNotNull)
      .crossJoin(broadcast(scales))
      .select(col(idCol).as("id"),
        zip_with(asDouble(col(vecCol)), col("sv"), (x, s) =>
          when(s === 0.0, lit(0L)).otherwise(
            greatest(lit(-127L), least(lit(127L), floor(x * lit(127.0) / s))))).as("q"))

  /** SQ8 RECONSTRUCTION-ERROR profile: per dimension, the exact
    * quantization error the [[sqEncode]] int8 codes carry —
    * `err_d = |x_d − code_d · s_d / 127|` at the 6-dp contract, reported
    * as (n_vecs, max_err_e6, mean_err_e6) per dimension. RECALL.json
    * answers "does the compressed index still rank right?"; this table
    * answers the prior question — "how much signal did 4× compression
    * destroy, and WHERE": a dimension whose max error towers over the
    * rest has outlier components stretching its scale (the standard cue
    * to clip calibration quantiles or switch that dim to PQ).
    *
    * Determinism: encode is the exact [[sqEncode]] arithmetic
    * (clamp∘floor — no round-half hazards); per-component errors round to
    * 6 dp then scale to exact ×10⁶ BIGINT, so max/mean are
    * order-independent integers on both engines.
    *
    * 100 TB shape: one calibration pass (dim-sized single-row broadcast,
    * shared with the encode), then ONE map-only corpus scan into a
    * (dim)-keyed aggregate — dim rows out, map-side combinable, no
    * shuffle of vectors. */
  def sqReconError(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val scales = sqScales(emb, vecCol)
    val code = when(col("z.s") === 0.0, lit(0L)).otherwise(
      greatest(lit(-127L), least(lit(127L), floor(col("z.x") * lit(127.0) / col("z.s")))))
    emb.filter(col(vecCol).isNotNull)
      .crossJoin(broadcast(scales))
      .select(posexplode(arrays_zip(asDouble(col(vecCol)).as("x"), col("sv").as("s")))
        .as(Seq("d0", "z")))
      .select((col("d0") + 1).cast("long").as("dim"),
        e6(round(abs(col("z.x") - code * col("z.s") / lit(127.0)), 6)).as("err_e6"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n_vecs"),
        max(col("err_e6")).as("max_err_e6"),
        expr("sum(err_e6) div count(1)").as("mean_err_e6"))
      .orderBy("dim")
  }

  /** SCALAR-QUANTIZED top-k ANN: calibrate ([[sqScales]]) + encode
    * ([[sqEncode]]) + search by exact integer dot product over the int8
    * codes — the compressed-corpus retrieval path that needs NO codebook
    * training (PQ's cheaper sibling; at 100 TB the corpus is stored as
    * dim bytes per vector instead of 4·dim, and the scan kernel is
    * integer multiply-add). The query side (`idCol % queryMod == 0`) is
    * broadcast with its codes; the corpus streams once; the per-query
    * top-k window ranks by the BIGINT dot (exact, aggregation-order
    * immune — scores cannot differ by a ulp between engines). Returns
    * all-BIGINT (query_id, neighbor_id, dot_q, rk). */
  def annScalarQuant(
      emb: DataFrame, idCol: String, vecCol: String,
      queryMod: Int, k: Int): DataFrame = {
    // one calibration pass feeds both encodes; dim-sized single row
    val scales = sqScales(emb, vecCol).localCheckpoint()
    val codes = sqEncode(emb, idCol, vecCol, scales)
    val queries = codes.filter(col("id") % queryMod === 0)
      .select(col("id").as("query_id"), col("q").as("qq"))
    val dot = aggregate(
      zip_with(col("qq"), col("nq"), (a, b) => a * b), lit(0L), (acc, x) => acc + x)
    topK(codes.select(col("id").as("neighbor_id"), col("q").as("nq"))
        .crossJoin(broadcast(queries))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), dot.as("dot_q")),
      "query_id", k, col("dot_q").desc, col("neighbor_id").asc)
      .orderBy(col("query_id"), col("rk"))
  }

  /** EMBEDDING ANISOTROPY — the spectral health row next to
    * [[embeddingProfile]]'s per-label counters: the share of the
    * centered scatter matrix's variance captured by its TOP eigenvalue,
    * estimated by `iters` rounds of power iteration. Contextual/poorly
    * trained encoders concentrate their vectors in a narrow cone
    * (Ethayarajh, EMNLP 2019) — top_share_ppm near 10⁶ means every
    * cosine in the ANN/SemDeDup/cluster family is dominated by one
    * common direction and the index's discriminative power is an
    * illusion; an isotropic corpus sits near the uniform share
    * (10⁶/dim). The REPORTED statistic is the exact Rayleigh quotient of
    * the deterministic R-round power iterate — monotone non-decreasing
    * in R toward the true top-share, identical in both engines.
    *
    * Integer-exactness contract: components scale to micro ints; the
    * per-dimension mean is one truncating division; scatter entries
    * C_ij = Σ_v (m_i−μ_i)(m_j−μ_j) are exact DECIMAL(38,0) sums; the
    * iterate rescales to ≤10³ by max-|w| each round and the share is
    * one truncating division (num·10⁶)/(den·trace) — BigInt here,
    * HUGEINT in the oracle, both toward-zero, identical values.
    *
    * 100 TB shape: ONE corpus scan explodes each vector's centered
    * UPPER-TRIANGLE outer product through map-side partial aggregation
    * into the dim(dim+1)/2-cell scatter relation (the classic XᵀX shape
    * — per-task state is dim² cells, never row-proportional); the
    * eigensolve itself is bounded DRIVER arithmetic over those ~2k
    * collected cells (the BPE-argmax bounded-collect contract — a 64×64
    * matrix-vector multiply is not distributed work; the DataFrame
    * formulation measured 2.5 s spending 8 scheduler round-trips on
    * micro-joins). Measured sf0.1: 1.4 s, growth excess 0.11. */
  def embeddingAnisotropy(
      emb: DataFrame, vecCol: String, dim: Int, iters: Int): DataFrame = {
    require(dim >= 2, s"dim must be >= 2: $dim")
    require(iters >= 1, s"iters must be >= 1: $iters")
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val rows = emb.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(transform(col(vecCol),
        x => round(x.cast("double") * 1e6, 0).cast("long")).as("m"))
    // dim rows; checkpointed — it feeds the mean array, the iterate init
    // and the final count would otherwise each re-scan the corpus
    val mu = rows
      .select(posexplode(col("m")).as(Seq("i", "mi")))
      .groupBy("i")
      .agg(sum(col("mi")).as("s"), count(lit(1)).as("n"))
      .select(col("i"), expr("s div n").as("mu"), col("n"))
      .localCheckpoint()
    // dim-sized: one bounded sorted struct array (the zipfSlope pattern)
    val muArr = mu.agg(
      transform(array_sort(collect_list(struct(col("i"), col("mu")))),
        e => e.getField("mu")).as("mua"),
      max(col("n")).as("n"))
    val centered = rows.crossJoin(broadcast(muArr))
      .select(zip_with(col("m"), col("mua"), (m, u) => m - u).as("cv"))
    // UPPER TRIANGLE only (j >= i, via a per-row slice), then mirror:
    // C is symmetric, so this halves the dominant n·dim² explode — the
    // mirrored rows are dim²/2 POST-aggregation rows, corpus-free
    val upper = centered
      .select(posexplode(col("cv")).as(Seq("i", "ci")), col("cv"))
      .select(col("i"), col("ci"),
        posexplode(slice(col("cv"), col("i") + 1, lit(dim))).as(Seq("p", "cj")))
      .select(col("i"), (col("i") + col("p")).as("j"), col("ci"), col("cj"))
      .groupBy("i", "j")
      .agg(sum(d38(d19(col("ci")) * d19(col("cj")))).as("cij"))
      .localCheckpoint() // BOTH union branches read this, never re-explode
    // The EIGENSOLVE is bounded driver arithmetic (the BPE-argmax /
    // chart-input bounded-collect contract): the collected relation is
    // the dim(dim+1)/2-cell upper triangle — 2,080 values at dim 64,
    // INDEPENDENT of corpus size — and Scala BigInt reproduces the
    // oracle's HUGEINT arithmetic exactly (both divisions truncate
    // toward zero). The distributed work is exactly the one corpus scan
    // above; running R rounds of a 64×64 matrix-vector multiply as
    // Spark jobs spends ~R scheduler round-trips on micro-work
    // (measured 2.5 s → ~1.3 s at sf0.1). Iterate scale 10³ keeps the
    // share's operands under 10³⁸ through 10⁹ vectors at dim 64
    // (num = vᵀCv ≤ dim²·10⁶·n·4·10¹²≈ 1.6·10³¹); the coarse rescale
    // quantizes the DIRECTION ~0.1% per round, but the reported
    // Rayleigh quotient of that iterate is exact, both engines.
    val c = Array.fill(dim, dim)(BigInt(0))
    upper.collect().foreach { r =>
      val (i, j) = (r.getAs[Number](0).intValue, r.getAs[Number](1).intValue)
      val x = BigInt(r.getDecimal(2).toBigInteger)
      c(i)(j) = x
      c(j)(i) = x
    }
    val trace = (0 until dim).map(i => c(i)(i)).sum
    var v = Array.fill(dim)(BigInt(1000))
    (1 to iters).foreach { _ =>
      val w = Array.tabulate(dim)(i => (0 until dim).map(j => c(i)(j) * v(j)).sum)
      val mx = w.map(_.abs).max
      v = if (mx == 0) w else w.map(x => (x * 1000) / mx)
    }
    val num = (for (i <- 0 until dim; j <- 0 until dim) yield v(i) * c(i)(j) * v(j)).sum
    val den = v.map(x => x * x).sum
    val nVecs = {
      val r = mu.agg(max(col("n"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val meanScatter = if (nVecs > 0) Some((trace / nVecs).toLong) else None
    val share = if (trace > 0) Some(((num * 1000000) / (den * trace)).toLong) else None
    val session = emb.sparkSession
    import session.implicits._
    Seq((nVecs, dim.toLong, meanScatter, share, 1000000L / dim))
      .toDF("n_vecs", "dim", "mean_scatter", "top_share_ppm", "uniform_share_ppm")
  }

  /** LEXICAL-vs-EMBEDDING AGREEMENT audit — the cross-signal sanity row
    * every embedding-dependent stage (SemDeDup, ANN retrieval, cluster
    * topics) implicitly assumes: over all pairs of the fixed
    * [[DedupOps.md5TopNSample]] calibration sample, the Pearson
    * correlation between exact lexical w-shingle jaccard (integer ppm)
    * and embedding cosine (micro units). Near-zero or negative
    * correlation means the embedding column does not encode lexical
    * content — the "wrong model / wrong column / scrambled id join"
    * failure caught BEFORE a semantic dedup silently drops unrelated
    * docs. Output: one row (n_pairs, corr), the q170 contract.
    *
    * Exactness: jaccard is integer hash-set arithmetic; cosine is the
    * engine-pinned sequential fold rounded to 6 dp then scaled to micro
    * ints (exact: the product of a 6-dp double and 10⁶ rounds to the
    * same integer in both engines); the correlation is
    * [[RelationalOps.integerCorrelation]]'s exact DECIMAL moments plus
    * one pinned double expression.
    *
    * 100 TB shape: the sample is ABSOLUTE-SIZE — sampleN² pairs at any
    * corpus scale (measured sf0.1: 31k pairs, 2.0 s steady-state,
    * growth excess 0.05); one scan of each table builds the checkpointed
    * (id, hash-set, vector) side and everything downstream is bounded. */
  def lexicalEmbeddingAgreement(
      docs: DataFrame, emb: DataFrame,
      textCol: String, idCol: String, vecIdCol: String, vecCol: String,
      w: Int, sampleN: Int): DataFrame = {
    val samp = DedupOps.md5TopNSample(docs, textCol, idCol, sampleN)
    val side = DedupOps.shingleHashSets(samp, textCol, idCol, w)
      .join(emb.select(col(vecIdCol).as("id"), col(vecCol).as("v")), "id")
      .localCheckpoint()
    // re-spread the streamed side ([[graft.ops.DedupOps.jaccardBruteForce]]'s
    // trick, r13; EXPLICIT count r14): the sample checkpoint is one
    // partition, so the n²/2 jaccard+cosine kernel otherwise runs on a
    // single task. REPARTITION_BY_NUM, not BY_COL — AQE coalesced the
    // r13 keyless-count exchange back to one partition (r13 verdict:
    // q181 scaling ratio 0.73, still serial); the sample is bounded
    // (sampleN rows), so a fixed core-count fan-out is scale-safe.
    val a = side.repartition(side.sparkSession.sparkContext.defaultParallelism, col("id"))
      .select(col("id").as("ia"), col("hs").as("ha"), col("v").as("va"))
    val b = side.select(col("id").as("ib"), col("hs").as("hb"), col("v").as("vb"))
    val pairs = a.crossJoin(b).filter(col("ia") < col("ib"))
      .select(
        expr("CAST(size(array_intersect(ha, hb)) AS BIGINT)").as("ni"),
        expr("CAST(size(ha) + size(hb) AS BIGINT)").as("ns"),
        round(cosine(col("va"), col("vb")) * 1e6, 0).cast("long").as("cos_micro"))
      .select(expr("ni * 1000000 div (ns - ni)").as("lex_jppm"), col("cos_micro"))
    RelationalOps.integerCorrelation(pairs, "lex_jppm", "cos_micro")
  }
}
