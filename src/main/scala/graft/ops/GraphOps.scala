package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph-centrality operators over relational pair data. The corpus-side
  * use case is link/interaction-graph quality ranking — host- or
  * entity-level PageRank is a standard crawl-curation signal (which
  * domains to trust, which entities anchor a knowledge slice) next to
  * the per-document scores in [[TextAnalysisOps]].
  *
  * Sibling of [[DedupOps.connectedComponents]] (same iterative
  * one-shuffle-per-round shape, same loud-failure convention): where
  * components answer "which nodes belong together", PageRank answers
  * "which nodes matter".
  */
object GraphOps {

  /** Node-count bound under which the iterative algorithms broadcast their
    * per-NODE relation (labels / ranks / survivor set — one small row per
    * node) against the streamed edge relation. A checkpointed relation
    * reports unknown partitioning AND unknown stats under AQE (measured:
    * `UnknownPartitioning(0)`), so without the hint every round pays an
    * exchange + sort of the FULL edge relation for a sort-merge join whose
    * build side is dimension-sized. Under the hint the edges stream
    * straight out of the checkpoint blocks and the round's only shuffle is
    * its aggregate. 2M nodes ≈ tens of MB serialized — comfortably inside
    * executor broadcast budgets; beyond the bound (billion-node near-dup
    * graphs) the code falls back to the shuffle join, which is the correct
    * plan at that shape. Join strategy never changes results, only plans. */
  private val BroadcastNodeLimit = 2000000L

  /** Broadcast-hint `nodeRel` when the measured node count is within
    * [[BroadcastNodeLimit]]; identity otherwise. */
  private def hinted(nodeRel: DataFrame, nNodes: Long): DataFrame =
    if (nNodes <= BroadcastNodeLimit) broadcast(nodeRel) else nodeRel

  /** The CANONICAL SYMMETRIC EDGE RELATION of the undirected graph a
    * pair relation induces: both directed copies of every pair, self
    * loops dropped, distinct — (src, dst) BIGINT-keyed. This is the ONE
    * relation all three graph algorithms consume ([[pageRankFromEdges]],
    * [[kCoreFromEdges]], [[triangleCountsFromEdges]]), and therefore the
    * graph family's PERSISTED ARTIFACT (the q97/q105 pattern): derive it
    * once from the expensive upstream joins, [[writeEdges]] it, and every
    * analysis run starts from [[readEdges]] instead of re-joining the
    * fact tables. Write→reload bit-identity is spec-pinned. The
    * `*FromEdges` entry points use their input as given (a parquet read,
    * or a materialized relation such as [[symmetricEdgesShared]]'s); the
    * pair-relation wrappers checkpoint the edges they derive. */
  def symmetricEdges(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Session-scoped cache of materialized [[symmetricEdges]] relations —
    * see [[symmetricEdgesShared]]. */
  private[graft] val edgeMemo = new ArtifactCache[DataFrame]

  /** [[symmetricEdges]] as a SHARED, SESSION-SCOPED MATERIALIZED
    * ARTIFACT ([[ArtifactCache]]) — the in-session equivalent of
    * [[writeEdges]]/[[readEdges]] for runs that consume the SAME graph
    * several ways (the catalog's q104 PageRank / q121 k-core / q133
    * label propagation all analyze the customer–supplier interaction
    * graph; before r9 each re-ran the fact-table join + union/distinct,
    * ~1.5 s apiece at sf0.1). First caller per (session, pairs content,
    * sourceKey) computes and checkpoints the canonical edge relation;
    * later callers reuse it. `sourceKey` names the pair relation's
    * construction (the catalog passes the sf directory + graph name).
    * The content fingerprint needs the ANALYZED plan (cheap — file-index
    * listing, no job), so `pairs` is forced once per lookup; only the
    * EXECUTION of the join/distinct is skipped on a hit. The memoized
    * value is the EDGE relation — the same thing [[writeEdges]] would
    * persist; at billion-edge scale prefer the on-disk artifact, which
    * this memo deliberately mirrors one-to-one. The cache keys on the
    * session that owns `pairs`; `spark` stays for source compatibility. */
  def symmetricEdgesShared(spark: org.apache.spark.sql.SparkSession,
      sourceKey: String, aCol: String, bCol: String)
      (pairs: => DataFrame): DataFrame = {
    val p = pairs
    edgeMemo(p, (sourceKey, aCol, bCol)) {
      symmetricEdges(p, aCol, bCol).localCheckpoint()
    }
  }

  /** Persist a [[symmetricEdges]] relation: range-partitioned and sorted
    * by (src, dst), so parquet row-group min/max stats on `src` prune
    * per-node/per-range reads and the degree aggregate's shuffle reads
    * are co-located runs. */
  def writeEdges(edges: DataFrame, path: String): Unit =
    edges.repartitionByRange(col("src"))
      .sortWithinPartitions(col("src"), col("dst"))
      .write.mode("overwrite").parquet(path)

  /** Load a persisted [[symmetricEdges]] artifact, resolved once per
    * session through the table registry ([[graft.io.Tables.parquet]]). */
  def readEdges(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.io.Tables.parquet(spark, path).select(col("src"), col("dst"))

  /** PAGERANK over the undirected graph induced by a pair relation —
    * each input pair contributes both directed edges, so every node has
    * in- AND out-degree ≥ 1 and no rank mass leaks through sinks (the
    * dangling-node complication of directed PageRank disappears by
    * construction). Self-loops are dropped with the r8 edge
    * canonicalization (a self-loop is degenerate under symmetric
    * PageRank: it feeds a node its own rank back). NOTE — that drop is a
    * BEHAVIORAL CHANGE vs pre-r8 for callers whose pair relation contains
    * self-loops: a loop no longer inflates its node's degree or recycles
    * rank mass (spec-pinned: a self-loop graph ranks identically to its
    * loop-free form).
    *
    * All arithmetic is INTEGER: ranks live in `scale` units (micro-ranks
    * at the default), per-edge contributions are truncating division
    * `rank div outdeg` BEFORE the sum, and the damped update is
    * `base + (dampNum · Σ) div dampDen` — every step exact BIGINT, so
    * `iters` rounds produce bit-identical ranks on any engine,
    * partitioning, or summation order (the repo's determinism convention;
    * float PageRank cannot promise that).
    *
    * 100 TB shape: degree table computed once; each round is ONE shuffle
    * (contributions grouped by destination) joined against the static
    * edge+degree relation — the [[SimilarityOps]] k-means / Jacobi
    * iteration shape with tiny driver state (none at all here), and
    * `localCheckpoint` per round keeps lineage flat. Rank mass is
    * conserved up to truncation (≤ 1 unit lost per node per round),
    * which is why `scale` defaults to 1e6.
    */
  def pageRankSymmetric(pairs: DataFrame, aCol: String, bCol: String,
      iters: Int, scale: Long = 1000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame =
    pageRankFromEdges(symmetricEdges(pairs, aCol, bCol).localCheckpoint(),
      iters, scale, dampNum, dampDen)

  /** [[pageRankSymmetric]] from an already-canonical [[symmetricEdges]]
    * relation — the persisted-artifact entry point: a run that starts
    * from [[readEdges]] skips the fact-table joins and the union/distinct
    * entirely. */
  def pageRankFromEdges(edges: DataFrame,
      iters: Int, scale: Long = 1000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters >= 1, s"bad iters: $iters")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping must be a fraction in [0,1]: $dampNum/$dampDen")
    val base = scale * (dampDen - dampNum) / dampDen

    // checkpoint the static relations once: deg feeds eout + the rank
    // init + the final join — without the checkpoints each consumer
    // would re-run the upstream derivation
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    val eout = edges.join(deg, "src").localCheckpoint()

    // node count (deg is one row per node, already materialized) gates the
    // per-round broadcast of the rank side — see [[BroadcastNodeLimit]]
    val nNodes = deg.count()

    // LAZY fixed-round fold (r14, guide §2.4 — the [[SimilarityOps]]
    // kmeans convention): no per-round localCheckpoint. Each round's
    // rank relation is consumed exactly ONCE (the next round's broadcast
    // build materializes it), so eager per-round snapshots bought
    // nothing and cost one job launch + block write per round — at
    // bench scale the rounds are job-count-dominated (JobProfile r14).
    // The static relations above stay checkpointed; plan depth is
    // iters-linear (each round references rank once).
    var rank = deg.select(col("src").as("node"), lit(scale).as("r"))
    (1 to iters).foreach { _ =>
      rank = hinted(rank, nNodes)
        .join(eout, col("node") === col("src"))
        .select(col("dst"), expr("r div d").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("csum"))
        .select(col("dst").as("node"),
          (lit(base) + expr(s"($dampNum * csum) div $dampDen")).as("r"))
    }
    rank.join(deg, col("node") === col("src"))
      .select(col("node"), col("r").as("rank_micro"), col("d").as("degree"))
      .orderBy(col("rank_micro").desc, col("node").asc)
  }

  /** K-CORE of the undirected graph induced by a pair relation — the
    * maximal subgraph where every node keeps degree ≥ `k` (Seidman 1983),
    * by `rounds` synchronous peel rounds: drop every node whose current
    * degree is below k, drop the edges it carried, repeat. Where
    * [[triangleCounts]] measures LOCAL closure, the k-core is the GLOBAL
    * density filter — the standard way to split a near-dup pair graph's
    * genuine dup communities (dense, survive peeling) from incidental
    * hub/star contacts (peel away in one or two rounds), and an
    * interaction-graph trust core next to [[pageRankSymmetric]].
    *
    * Semantics are FIXED-ROUND, not run-to-convergence: exactly `rounds`
    * peels, then report the surviving nodes with their degree in the
    * surviving edge set — so the DuckDB mirror (rounds unrolled as CTEs,
    * the k-means/perceptron oracle pattern) is equal by construction
    * whether or not the peel has converged. At fixpoint every reported
    * degree is ≥ k (spec-pinned on a fixture whose cascade NEEDS multiple
    * rounds); under-provisioned rounds simply report the partially peeled
    * graph identically on both engines. Synchronous peeling (all of a
    * round's sub-k nodes drop together) is what makes the rounds
    * deterministic — sequential peeling's intermediate states depend on
    * node order, the classic parallelization trap of the textbook
    * min-degree algorithm.
    *
    * 100 TB shape: each round is one degree aggregate + two semi-joins
    * against the shrinking edge relation — no driver-side data, no
    * global sort until the final bounded output; `localCheckpoint` per
    * round keeps lineage flat (the [[pageRankSymmetric]] iteration
    * shape). Integer degrees only — nothing to diverge by a ulp. */
  def kCore(pairs: DataFrame, aCol: String, bCol: String,
      k: Int, rounds: Int): DataFrame =
    kCoreFromEdges(symmetricEdges(pairs, aCol, bCol).localCheckpoint(), k, rounds)

  /** [[kCore]] from an already-canonical [[symmetricEdges]] relation —
    * the persisted-artifact entry point. */
  def kCoreFromEdges(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"bad k: $k")
    require(rounds >= 1, s"bad rounds: $rounds")
    var e = edges
    // one-time node count gates the per-round broadcast of the survivor
    // set (see [[BroadcastNodeLimit]]); survivors only shrink, so the
    // initial count is a sound bound for every round
    val nNodes = e.select(col("src")).distinct().count()
    (1 to rounds).foreach { _ =>
      // ONE broadcast serves BOTH semi-joins (r14): the two joins build
      // the IDENTICAL kb subtree, so exchange reuse (AQE query-stage
      // cache keys on the canonicalized plan) materializes the survivor
      // set once — the r13 form checkpointed `keep` to avoid the double
      // build, but its two `withColumnRenamed` projections made the
      // broadcast subtrees canonically DIFFERENT, forcing two builds
      // plus a checkpoint job per round. Joining on an explicit
      // condition keeps both subtrees byte-identical; the checkpoint
      // job per round disappears.
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("src").as("n"))
      val kb = hinted(keep, nNodes)
      e = e
        .join(kb, col("src") === col("n"), "left_semi")
        .join(kb, col("dst") === col("n"), "left_semi")
        .localCheckpoint()
    }
    e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
      .orderBy(col("degree").desc, col("node").asc)
  }

  /** LABEL-PROPAGATION COMMUNITIES (Raghavan et al. 2007, synchronous
    * form) over the undirected graph of a pair relation: every node
    * starts as its own label; each round, a node adopts the MOST
    * FREQUENT label among its neighbors (tie → smallest label), all
    * nodes updating simultaneously. Where [[graft.ops.DedupOps.connectedComponents]]
    * answers "which nodes are reachable from each other", this answers
    * "which nodes cluster together" — a component with two dense
    * communities joined by one bridge keeps two labels.
    *
    * Deterministic by construction: exact BIGINT neighbor-label counts
    * and the (count desc, label asc) argmax leave no RNG and no
    * float — the classic algorithm's random tie-breaking replaced by
    * the repo's total-order convention, so `rounds` rounds produce
    * bit-identical labels on any partitioning (and the unrolled-CTE
    * oracle is equal by construction). Fixed `rounds` keeps the oracle
    * expressible; synchronous updates can oscillate on bipartite-ish
    * structure, which fixed rounds also bound.
    *
    * 100 TB shape: one shuffle per round — neighbor labels aggregate
    * by (node, label) with map-side combine, then the per-node argmax
    * is a struct-max aggregate (NOT a window: no per-node sort, fully
    * map-side combinable); the static edge relation is checkpointed
    * once. Returns (node, label) ordered by node. */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
      rounds: Int): DataFrame =
    labelPropagationFromEdges(symmetricEdges(pairs, aCol, bCol).localCheckpoint(), rounds)

  /** [[labelPropagation]] from an already-canonical [[symmetricEdges]]
    * relation — the persisted-artifact entry point. */
  def labelPropagationFromEdges(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"bad rounds: $rounds")
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint()
    // one row per node, already materialized — the count gates the
    // per-round broadcast of the label side (see [[BroadcastNodeLimit]]):
    // hinted, the round's join streams edges straight from the checkpoint
    // blocks and its only shuffles are the two aggregates
    val nNodes = labels.count()
    // LAZY fixed-round fold (r14): no per-round localCheckpoint — each
    // round's label relation is consumed exactly once (the next round's
    // broadcast build materializes it), so the eager snapshot bought
    // nothing and cost one job launch + block write per round. See
    // [[pageRankFromEdges]].
    (1 to rounds).foreach { _ =>
      labels = edges
        .join(hinted(labels, nNodes), col("src") === col("node"))
        .groupBy(col("dst").as("n"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("n"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("best"))
        .select(col("n").as("node"), (-col("best.nl")).as("label"))
    }
    labels.orderBy(col("node"))
  }

  /** TRIANGLE COUNT per node over the undirected graph of a pair
    * relation — the local clustering signal (dense triangle
    * neighborhoods = genuine communities; triangle-free stars = hub
    * spam) used to audit near-dup cluster graphs and interaction graphs
    * alike. Exact, not sampled.
    *
    * Standard ordered-wedge formulation: canonicalize each undirected
    * edge to (lo, hi), self-join on the shared low endpoint to enumerate
    * wedges (a < b, a < c, b < c), then semi-join the closing edge
    * (b, c) — every triangle {a,b,c} is counted EXACTLY once at its
    * smallest vertex, then redistributed to all three corners by one
    * explode + count. All joins are equi-joins on node ids (no
    * cartesian); wedge fan-out is Σ deg_lo(v)² — the standard cost,
    * kept in check by the low-endpoint orientation (a hub appearing
    * mostly as `hi` generates no wedges of its own). The canonical edge
    * relation feeds three consumers, so it is localCheckpoint'ed.
    * Returns (node, n_triangles) for nodes in ≥ 1 triangle. */
  def triangleCounts(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    triangleCountsFromEdges(symmetricEdges(pairs, aCol, bCol))

  /** [[triangleCounts]] from an already-canonical [[symmetricEdges]]
    * relation — the persisted-artifact entry point. The canonical
    * (lo, hi) orientation is just the src < dst half of the symmetric
    * relation (both directions are present by construction). */
  def triangleCountsFromEdges(edges: DataFrame): DataFrame = {
    val e = edges
      .filter(col("src") < col("dst"))
      .select(col("src").as("lo"), col("dst").as("hi"))
      .localCheckpoint()
    val wedges = e.select(col("lo").as("a"), col("hi").as("b"))
      .join(e.select(col("lo").as("a"), col("hi").as("c")), Seq("a"))
      .filter(col("b") < col("c"))
    val triangles = wedges
      .join(e.select(col("lo").as("b"), col("hi").as("c")), Seq("b", "c"), "left_semi")
    triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy("node")
  }

  /** DEGREE ASSORTATIVITY of the undirected graph (Newman, PRL 2002, in
    * its edge-list Pearson form): the correlation between the two
    * endpoint degrees over every DIRECTED copy of every edge — the
    * [[symmetricEdges]] relation already carries both copies, which is
    * exactly the population r is defined over (each undirected edge
    * contributes (j,k) AND (k,j), making the statistic symmetric with no
    * half-weight convention). r < 0 — hubs attached to leaves — is the
    * template-flood / spam-hub signature on near-dup pair graphs and
    * crawl host graphs; genuine community structure (re-post cores,
    * organic neighborhoods) is assortative. The one-row scalar that says
    * whether q116's triangles and q121's cores describe the whole graph
    * or just its dense corner.
    *
    * Exactness and 100 TB shape: the degree table is ONE aggregate off
    * the static edge relation (checkpointed once — it feeds the
    * aggregate and both join probes); each directed edge joins its two
    * endpoint degrees with the per-node relation riding the engine's
    * [[BroadcastNodeLimit]] hint convention twice; the statistic is
    * [[RelationalOps.integerCorrelation]]'s exact DECIMAL moments plus
    * one pinned double — bit-stable on any partitioning. Output: one row
    * (n_pairs = directed edge count, corr; NULL for degree-regular
    * graphs via the integer-exact zero-variance guard). Measured sf0.1:
    * 2.8 s over the shared 1.2M-edge artifact, growth excess 0.36. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    // no edge checkpoint here: the canonical callers pass an already
    // materialized relation ([[symmetricEdgesShared]] / [[readEdges]]),
    // and re-snapshotting it per call would copy the artifact for
    // nothing — the two consumers below (degree aggregate + pair join)
    // re-read the caller's blocks
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    // the iterative trio's measured-count broadcast hint: a checkpointed
    // per-node relation reports unknown stats, and waiting for AQE's
    // runtime conversion still plans the edge shuffle first (measured
    // ~1.3 s slower here) — under the hint the edges never shuffle
    val nNodes = deg.count()
    val joined = edges
      .join(hinted(deg.select(col("src"), col("d").as("deg_src")), nNodes),
        "src")
      .join(hinted(deg.select(col("src").as("dst"), col("d").as("deg_dst")),
        nNodes), "dst")
    RelationalOps.integerCorrelation(joined, "deg_src", "deg_dst")
  }
}
