package graft.sql

import graft.ops.SimilarityOps

/** DuckDB oracle SQL for the similarity family — mirrors
  * [[graft.ops.SimilarityOps]]: float components cast to double before any
  * arithmetic; the SAME hyperplane literals the Spark plan inlines are
  * inlined here (via [[SimilarityOps.hyperplanes]]), so the two engines
  * cannot diverge on plane generation. */
object SimilaritySql {

  /** cosine(a, b) rounded to 6 dp over 1-indexed DOUBLE[] columns. */
  private def cosSql(a: String, b: String, dim: Int): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> $x[i] * $y[i]))"
    s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
  }

  def annBruteForce(table: String, queryMod: Int, k: Int, dim: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $table),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % $queryMod = 0),
cand AS (SELECT q.query_id, e.vec_id AS neighbor_id, ${cosSql("q.qv", "e.v", dim)} AS cos
  FROM q JOIN e ON e.vec_id <> q.query_id),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk FROM cand)
SELECT query_id, neighbor_id, cos, CAST(rk AS BIGINT) AS rk FROM ranked WHERE rk <= $k ORDER BY query_id, rk"""

  /** Mirror of [[graft.ops.SimilarityOps.annBruteForceTruncated]]:
    * [[annBruteForce]] over the first `useDims` components. */
  def annBruteForceTruncated(table: String, queryMod: Int, k: Int, useDims: Int): String =
    s"""WITH e AS (SELECT vec_id, (embedding::DOUBLE[])[1:$useDims] AS v FROM $table),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % $queryMod = 0),
cand AS (SELECT q.query_id, e.vec_id AS neighbor_id, ${cosSql("q.qv", "e.v", useDims)} AS cos
  FROM q JOIN e ON e.vec_id <> q.query_id),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk FROM cand)
SELECT query_id, neighbor_id, cos, CAST(rk AS BIGINT) AS rk FROM ranked WHERE rk <= $k ORDER BY query_id, rk"""

  def annLsh(table: String, queryMod: Int, k: Int, nPlanes: Int, dim: Int): String = {
    val planes = SimilarityOps.hyperplanes(nPlanes, dim)
    val planeValues = planes.zipWithIndex
      .map { case (h, p) => s"($p, [${h.mkString(", ")}]::DOUBLE[])" }
      .mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $table),
b AS (SELECT e.vec_id, e.v,
  CAST(SUM(CASE WHEN list_sum(list_transform(range(1, ${dim + 1}), i -> e.v[i] * p.h[i])) > 0
    THEN (1::BIGINT << p.p) ELSE 0 END) AS BIGINT) AS bucket
  FROM e, (VALUES $planeValues) AS p(p, h) GROUP BY e.vec_id, e.v),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id % $queryMod = 0),
cand AS (SELECT q.query_id, b.vec_id AS neighbor_id, ${cosSql("q.qv", "b.v", dim)} AS cos
  FROM q JOIN b ON b.bucket = q.bucket AND b.vec_id <> q.query_id),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk FROM cand)
SELECT query_id, neighbor_id, cos, CAST(rk AS BIGINT) AS rk FROM ranked WHERE rk <= $k ORDER BY query_id, rk"""
  }

  /** Shared bucket CTE text for hyperplane-LSH oracles. */
  private def bucketCte(table: String, nPlanes: Int, dim: Int): String = {
    val planes = SimilarityOps.hyperplanes(nPlanes, dim)
    val planeValues = planes.zipWithIndex
      .map { case (h, p) => s"($p, [${h.mkString(", ")}]::DOUBLE[])" }
      .mkString(", ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $table),
b AS (SELECT e.vec_id, e.v,
  CAST(SUM(CASE WHEN list_sum(list_transform(range(1, ${dim + 1}), i -> e.v[i] * p.h[i])) > 0
    THEN (1::BIGINT << p.p) ELSE 0 END) AS BIGINT) AS bucket
  FROM e, (VALUES $planeValues) AS p(p, h) GROUP BY e.vec_id, e.v)"""
  }

  def annLshMultiProbe(table: String, queryMod: Int, k: Int, nPlanes: Int, dim: Int): String =
    s"""WITH ${bucketCte(table, nPlanes, dim)},
probe AS (SELECT vec_id AS query_id, v AS qv, unnest(list_prepend(bucket,
  list_transform(range(0, $nPlanes), p -> xor(bucket, (1::BIGINT << p))))) AS bucket_probe
  FROM b WHERE vec_id % $queryMod = 0),
cand AS (SELECT q.query_id, b.vec_id AS neighbor_id, ${cosSql("q.qv", "b.v", dim)} AS cos
  FROM probe q JOIN b ON b.bucket = q.bucket_probe AND b.vec_id <> q.query_id),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk FROM cand)
SELECT query_id, neighbor_id, cos, CAST(rk AS BIGINT) AS rk FROM ranked WHERE rk <= $k ORDER BY query_id, rk"""

  def embeddingNearDup(table: String, nPlanes: Int, dim: Int, minCos: Double, limit: Int,
      maxBucket: Int = 1000): String =
    s"""WITH ${bucketCte(table, nPlanes, dim)},
ok_buckets AS (SELECT bucket FROM b GROUP BY bucket
  HAVING COUNT(*) >= 2 AND COUNT(*) <= $maxBucket),
cand AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
  JOIN ok_buckets o ON x.bucket = o.bucket),
v AS (SELECT c.vec_a, c.vec_b, ${cosSql("a.v", "bb.v", dim)} AS cos
  FROM cand c JOIN e a ON c.vec_a = a.vec_id JOIN e bb ON c.vec_b = bb.vec_id)
SELECT vec_a, vec_b, cos FROM v WHERE cos >= $minCos
ORDER BY cos DESC, vec_a ASC, vec_b ASC LIMIT $limit"""

  /** Mirror of [[graft.ops.SimilarityOps.semanticDedup]]: same id-mod
    * centroid assignment CTE as [[annIvf]], cell-local ordered pairs with
    * the maxCell cap, lowest-id keeper attribution, ×10^6 scaled-int
    * cosine. */
  def semanticDedup(table: String, centroidMod: Int, minCos: Double,
      dim: Int, maxCell: Int = 1000): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $table),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % $centroidMod = 0),
ac AS (SELECT e.vec_id AS id, c.cid,
  ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "c.cv", dim)} DESC, c.cid ASC) AS crk
  FROM e, c),
a AS (SELECT id, cid FROM ac WHERE crk = 1),
cells AS (SELECT cid FROM a GROUP BY cid HAVING COUNT(*) >= 2 AND COUNT(*) <= $maxCell),
pairs AS (SELECT x.id AS vec_a, y.id AS vec_b, ${cosSql("ea.v", "eb.v", dim)} AS cos
  FROM a x JOIN a y ON x.cid = y.cid AND x.id < y.id
  JOIN cells cl ON x.cid = cl.cid
  JOIN e ea ON x.id = ea.vec_id JOIN e eb ON y.id = eb.vec_id),
ok AS (SELECT * FROM pairs WHERE cos >= $minCos),
keep AS (SELECT vec_b, MIN(vec_a) AS kept_by FROM ok GROUP BY vec_b)
SELECT k.vec_b AS vec_id, k.kept_by,
  CAST(CAST(p.cos AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS cos_e6
FROM keep k JOIN ok p ON p.vec_b = k.vec_b AND p.vec_a = k.kept_by
ORDER BY vec_id"""

  /** Mirror of [[graft.ops.SimilarityOps.knnGraph]]: same id-mod cell
    * assignment, cell-capped symmetric join (cosine is bit-symmetric —
    * commutative IEEE products, identical fold order — so the symmetric
    * join equals the engine's compute-once-and-mirror), same
    * (cos desc, id asc) rank. */
  def knnGraph(table: String, centroidMod: Int, kNbrs: Int,
      dim: Int, maxCell: Int = 1000): String =
    s"""WITH ${knnGraphCtes(table, centroidMod, dim, maxCell)}
SELECT vec_id, CAST(rk AS BIGINT) AS rk, neighbor_id, cos
FROM ranked WHERE rk <= $kNbrs ORDER BY vec_id, rk"""

  /** Shared CTE text through `ranked` (the base cell-local graph). */
  private def knnGraphCtes(table: String, centroidMod: Int, dim: Int,
      maxCell: Int): String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $table),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % $centroidMod = 0),
ac AS (SELECT e.vec_id AS id, e.v, c.cid,
  ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "c.cv", dim)} DESC, c.cid ASC) AS crk
  FROM e, c),
a AS (SELECT id, v, cid FROM ac WHERE crk = 1),
cells AS (SELECT cid FROM a GROUP BY cid HAVING COUNT(*) >= 2 AND COUNT(*) <= $maxCell),
cand AS (SELECT x.id AS vec_id, y.id AS neighbor_id, ${cosSql("x.v", "y.v", dim)} AS cos
  FROM a x JOIN a y ON x.cid = y.cid AND x.id <> y.id
  JOIN cells cl ON x.cid = cl.cid),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rk FROM cand)"""

  /** Mirror of [[graft.ops.SimilarityOps.knnGraphRefined]] at rounds=1
    * with `crossBuckets > 0` (the r8 cross-cell-seeded NN-descent form):
    * base cell-local graph, deterministic md5 pseudo-cell seed pairs
    * over EVERY node (same 15-hex-digit md5 bucket arithmetic as the
    * engine), one local-join candidate round (neighbors-of-the-same-
    * center pairs over the undirected adjacency, center degree capped at
    * maxCell), merged by per-pair max cosine, per-node top-k re-rank.
    * Cosine is bit-symmetric (the [[knnGraph]] precedent), so the
    * symmetric SQL joins equal the engine's compute-once-and-mirror. */
  def knnGraphRefined(table: String, centroidMod: Int, kNbrs: Int,
      dim: Int, crossBuckets: Int, maxCell: Int = 1000): String =
    s"""WITH ${knnGraphCtes(table, centroidMod, dim, maxCell)},
be AS (SELECT vec_id, neighbor_id, cos FROM ranked WHERE rk <= $kNbrs),
sb AS (SELECT id, v,
  ('0x' || substr(md5('knnseed:' || CAST(id AS VARCHAR)), 1, 15))::BIGINT % $crossBuckets AS b
  FROM (SELECT vec_id AS id, v FROM e) kv),
okb AS (SELECT b FROM sb GROUP BY b HAVING COUNT(*) >= 2 AND COUNT(*) <= $maxCell),
se AS (SELECT x.id AS va, y.id AS vb, ${cosSql("x.v", "y.v", dim)} AS cos
  FROM sb x JOIN sb y ON x.b = y.b AND x.id < y.id JOIN okb ON x.b = okb.b),
g0 AS (SELECT vec_id, neighbor_id, cos FROM be
  UNION ALL SELECT va, vb, cos FROM se
  UNION ALL SELECT vb, va, cos FROM se),
und AS (SELECT DISTINCT vec_id, neighbor_id FROM (
  SELECT vec_id, neighbor_id FROM g0 UNION ALL SELECT neighbor_id, vec_id FROM g0)),
cc AS (SELECT vec_id FROM und GROUP BY vec_id HAVING COUNT(*) >= 2 AND COUNT(*) <= $maxCell),
cp AS (SELECT DISTINCT n1.neighbor_id AS va, n2.neighbor_id AS vb
  FROM und n1 JOIN und n2 ON n1.vec_id = n2.vec_id AND n1.neighbor_id < n2.neighbor_id
  JOIN cc ON n1.vec_id = cc.vec_id),
cpc AS (SELECT cp.va, cp.vb, ${cosSql("x.v", "y.v", dim)} AS cos
  FROM cp JOIN e x ON x.vec_id = cp.va JOIN e y ON y.vec_id = cp.vb),
merged AS (SELECT vec_id, neighbor_id, MAX(cos) AS cos FROM (
  SELECT vec_id, neighbor_id, cos FROM g0
  UNION ALL SELECT va, vb, cos FROM cpc
  UNION ALL SELECT vb, va, cos FROM cpc)
  GROUP BY vec_id, neighbor_id),
rr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rk FROM merged)
SELECT vec_id, CAST(rk AS BIGINT) AS rk, neighbor_id, cos
FROM rr WHERE rk <= $kNbrs ORDER BY vec_id, rk"""

  def annIvf(table: String, centroidMod: Int, queryMod: Int, k: Int, dim: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $table),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % $centroidMod = 0),
ac AS (SELECT e.vec_id AS id, e.v, c.cid, ${cosSql("e.v", "c.cv", dim)} AS ccos,
  ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "c.cv", dim)} DESC, c.cid ASC) AS crk
  FROM e, c),
a AS (SELECT id, v, cid FROM ac WHERE crk = 1),
q AS (SELECT id AS query_id, v AS qv, cid FROM a WHERE id % $queryMod = 0),
cand AS (SELECT q.query_id, a.id AS neighbor_id, ${cosSql("q.qv", "a.v", dim)} AS cos
  FROM q JOIN a ON a.cid = q.cid AND a.id <> q.query_id),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk FROM cand)
SELECT query_id, neighbor_id, cos, CAST(rk AS BIGINT) AS rk FROM ranked WHERE rk <= $k ORDER BY query_id, rk"""

  /** Multi-probe IVF oracle — mirrors
    * [[graft.ops.SimilarityOps.annIvfMultiProbe]]: one shared
    * centroid-distance ranking CTE; corpus keeps crk=1, queries keep
    * crk<=nprobe. */
  def annIvfMultiProbe(table: String, centroidMod: Int, queryMod: Int,
      k: Int, nprobe: Int, dim: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $table),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % $centroidMod = 0),
ac AS (SELECT e.vec_id AS id, e.v, c.cid, ${cosSql("e.v", "c.cv", dim)} AS ccos,
  ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "c.cv", dim)} DESC, c.cid ASC) AS crk
  FROM e, c),
a AS (SELECT id, v, cid FROM ac WHERE crk = 1),
q AS (SELECT id AS query_id, v AS qv, cid FROM ac WHERE id % $queryMod = 0 AND crk <= $nprobe),
cand AS (SELECT q.query_id, a.id AS neighbor_id, ${cosSql("q.qv", "a.v", dim)} AS cos
  FROM q JOIN a ON a.cid = q.cid AND a.id <> q.query_id),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk FROM cand)
SELECT query_id, neighbor_id, cos, CAST(rk AS BIGINT) AS rk FROM ranked WHERE rk <= $k ORDER BY query_id, rk"""

  /** Mirror of [[graft.ops.SimilarityOps.annIvfDelta]] over
    * [[graft.ops.SimilarityOps.ivfCentroids]] +
    * [[graft.ops.SimilarityOps.ivfAssignments]] with the shard split
    * expressed as `vec_id % shardMod` (= 0 → arriving shard, ≠ 0 →
    * indexed corpus): centroids are the corpus's id-residue set, every
    * corpus vector sits in its crk=1 list, each shard vector probes its
    * `nprobe` nearest lists, exact-cosine top-k. No self-exclusion —
    * shard and corpus ids are disjoint by the split. */
  def annIvfDelta(table: String, centroidMod: Int, shardMod: Int,
      k: Int, nprobe: Int, dim: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $table),
cp AS (SELECT vec_id AS id, v FROM e WHERE vec_id % $shardMod <> 0),
sh AS (SELECT vec_id AS id, v FROM e WHERE vec_id % $shardMod = 0),
c AS (SELECT id AS cid, v AS cv FROM cp WHERE id % $centroidMod = 0),
a AS (SELECT id, v, cid FROM (
  SELECT cp.id, cp.v, c.cid,
    ROW_NUMBER() OVER (PARTITION BY cp.id ORDER BY ${cosSql("cp.v", "c.cv", dim)} DESC, c.cid ASC) AS crk
  FROM cp, c) WHERE crk = 1),
q AS (SELECT id AS query_id, qv, cid FROM (
  SELECT sh.id, sh.v AS qv, c.cid,
    ROW_NUMBER() OVER (PARTITION BY sh.id ORDER BY ${cosSql("sh.v", "c.cv", dim)} DESC, c.cid ASC) AS crk
  FROM sh, c) WHERE crk <= $nprobe),
cand AS (SELECT q.query_id, a.id AS neighbor_id, ${cosSql("q.qv", "a.v", dim)} AS cos
  FROM q JOIN a ON a.cid = q.cid),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk FROM cand)
SELECT query_id, neighbor_id, cos, CAST(rk AS BIGINT) AS rk FROM ranked WHERE rk <= $k ORDER BY query_id, rk"""

  /** Fixed-iteration Lloyd k-means, UNROLLED: iteration t's assign/update
    * become CTEs a{t}/d{t}/c{t+1}, mirroring
    * [[graft.ops.SimilarityOps.kmeansCentroidsFlat]] step for step (6-dp
    * rounded cosine assignment with cid tiebreak; decimal-exact per-dim
    * means rounded to 6 dp; empty clusters drop out; k lowest-id seeds;
    * flat (cid, dim, mean, n_vecs) output — the catalog shape). */
  def kmeansCentroids(table: String, k: Int, iters: Int, dim: Int): String =
    kmeansCtePrefix(table, k, iters, dim) +
      s"\nSELECT cid, CAST(dim AS BIGINT) AS dim, m AS mean, CAST(n AS BIGINT) AS n_vecs FROM d${iters - 1} ORDER BY cid, dim"

  /** The shared unrolled-training prefix: `WITH e, c0[, a_t, d_t, c_{t+1}]*`
    * — trained centroids land in CTE `c{iters}`, per-dim means of the last
    * assignment in `d{iters-1}`. */
  private def kmeansCtePrefix(table: String, k: Int, iters: Int, dim: Int): String =
    "WITH " + kmeansCtesBody(table, k, iters, dim, p = "")

  /** [[kmeansCtePrefix]]'s body without the leading `WITH`, every CTE
    * name prefixed by `p` — composable into a larger WITH chain without
    * name collisions (the IVF-PQ-over-kmeans mirror embeds it as `km*`
    * next to the IVF-PQ prefix's own `e/c0/a_t/d_t` names). */
  private def kmeansCtesBody(
      table: String, k: Int, iters: Int, dim: Int, p: String): String = {
    require(iters >= 1)
    val sb = new StringBuilder
    sb.append(s"${p}e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM $table),\n")
    sb.append(s"${p}c0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM $table ORDER BY vec_id ASC LIMIT $k)")
    for (t <- 0 until iters) {
      sb.append(s""",
${p}a$t AS (SELECT v, cid FROM (
  SELECT e.v, c.cid,
    ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY ${cosSql("e.v", "c.cv", dim)} DESC, c.cid ASC) AS rk
  FROM ${p}e e, ${p}c$t c) WHERE rk = 1),
${p}d$t AS (SELECT cid, i.i AS dim,
    round(CAST(SUM(CAST(v[i.i] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS m,
    COUNT(*) AS n
  FROM ${p}a$t, (SELECT unnest(range(1, ${dim + 1})) AS i) i GROUP BY cid, i.i),
${p}c${t + 1} AS (SELECT cid, list(m ORDER BY dim) AS cv, MAX(n) AS n_vecs FROM ${p}d$t GROUP BY cid)""")
    }
    sb.toString
  }

  /** Mirror of [[graft.ops.SimilarityOps.embeddingProfile]]: same
    * sequential Σx² (list_sum/l2Sql contract) at 6 dp, same decimal-exact
    * mean, same null/zero/dim accounting. */
  def embeddingProfile(table: String, groupCol: String): String =
    s"""WITH e AS (SELECT $groupCol,
  embedding IS NULL AS is_nul,
  CASE WHEN embedding IS NOT NULL
    THEN round(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)), 6) END AS n2,
  CASE WHEN embedding IS NOT NULL THEN len(embedding) END AS dim
  FROM $table)
SELECT $groupCol, CAST(COUNT(*) AS BIGINT) AS n_vecs,
  CAST(SUM(CASE WHEN is_nul THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
  CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
  CAST(MIN(dim) AS BIGINT) AS dim_min, CAST(MAX(dim) AS BIGINT) AS dim_max,
  MIN(n2) AS norm2_min, MAX(n2) AS norm2_max,
  round(CAST(SUM(CAST(n2 AS DECIMAL(18,9))) AS DOUBLE) / COUNT(n2), 6) AS norm2_mean
FROM e GROUP BY $groupCol ORDER BY $groupCol"""

  /** Mirror of [[graft.ops.SimilarityOps.clusterSilhouette]]: the shared
    * unrolled-training prefix, a full cosine score of every (point,
    * trained centroid) pair, winner/runner-up per point by the training
    * tiebreak, and the decimal-exact per-cluster margin aggregate. */
  def clusterSilhouette(table: String, k: Int, iters: Int, dim: Int): String =
    kmeansCtePrefix(table, k, iters, dim) + s""",
sc AS (SELECT e.id, c.cid, ${cosSql("e.v", "c.cv", dim)} AS ccos FROM e, c$iters c),
r AS (SELECT id, cid, ccos,
  ROW_NUMBER() OVER (PARTITION BY id ORDER BY ccos DESC, cid ASC) AS rk FROM sc),
m AS (SELECT a.id, a.cid, round(a.ccos - b.ccos, 6) AS margin
  FROM (SELECT * FROM r WHERE rk = 1) a JOIN (SELECT * FROM r WHERE rk = 2) b USING (id))
SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_points,
  round(CAST(SUM(CAST(margin AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS mean_margin,
  MIN(margin) AS min_margin
FROM m GROUP BY cid ORDER BY cid"""

  /** Mirror of [[graft.ops.SimilarityOps.clusterTopics]]: the shared
    * unrolled-training prefix, a final assignment against the trained
    * centroids `c{iters}` (same argmax/tiebreak as training), the doc join,
    * and c-TF-IDF with the rational idf in the q56 operation order. */
  def clusterTopics(
      embTable: String, docsTable: String,
      k: Int, iters: Int, dim: Int, topN: Int): String = {
    kmeansCtePrefix(embTable, k, iters, dim) + s""",
asg AS (SELECT id, cid FROM (
  SELECT e.id, c.cid,
    ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY ${cosSql("e.v", "c.cv", dim)} DESC, c.cid ASC) AS rk
  FROM e, c$iters c) WHERE rk = 1),
t AS (SELECT a.cid, unnest(${toksOf("d.text")}) AS term
  FROM asg a JOIN $docsTable d ON d.doc_id = a.id WHERE d.text IS NOT NULL),
tf AS (SELECT cid, term, COUNT(*) AS tf FROM t GROUP BY cid, term),
cf AS (SELECT term, COUNT(*) AS df_cells FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT cid) AS n_cells FROM tf),
s AS (SELECT tf.cid, tf.term, tf.tf, cf.df_cells,
  round((tf.tf * n.n_cells)::DOUBLE / cf.df_cells, 6) AS score
  FROM tf JOIN cf USING (term) CROSS JOIN n),
r AS (SELECT s.*, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY score DESC, term ASC) AS rk FROM s)
SELECT cid, CAST(rk AS BIGINT) AS rk, term, CAST(tf AS BIGINT) AS tf,
  CAST(df_cells AS BIGINT) AS df_cells, score
FROM r WHERE rk <= $topN ORDER BY cid, rk"""
  }

  /** 6-dp squared L2 over two 1-indexed DOUBLE[] slices of length `len`. */
  private def l2Sql(a: String, b: String, len: Int): String =
    s"round(list_sum(list_transform(range(1, ${len + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), 6)"

  /** Product-quantization ANN, UNROLLED — mirrors
    * [[graft.ops.SimilarityOps.pqAnn]] step for step: per-subspace Lloyd
    * codebooks (ksub lowest-id seeds, 6-dp L2 assignment with cid
    * tiebreak, decimal-exact means), PQ encoding, then asymmetric-distance
    * top-k over the codes with ×10^6 scaled-int per-sub distances (the
    * m-term sum is an exact BIGINT on both engines). */
  def pqAnn(table: String, dim: Int, m: Int, ksub: Int, iters: Int,
      queryMod: Int, k: Int): String = {
    require(iters >= 1 && dim % m == 0)
    val len = dim / m
    def assign(cents: String) =
      s"""(SELECT s.id, s.sub, s.sv, c.cid,
    ROW_NUMBER() OVER (PARTITION BY s.id, s.sub ORDER BY ${l2Sql("s.sv", "c.cv", len)} ASC, c.cid ASC) AS rk
  FROM s JOIN $cents c ON c.sub = s.sub) WHERE rk = 1"""
    val sb = new StringBuilder
    sb.append(s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM $table),
s AS (SELECT e.id, sub.s AS sub, e.v[sub.s * $len + 1 : sub.s * $len + $len] AS sv
  FROM e, (SELECT unnest(range(0, $m)) AS s) sub),
seed AS (SELECT id FROM e ORDER BY id ASC LIMIT $ksub),
c0 AS (SELECT s.sub, s.id AS cid, s.sv AS cv FROM s JOIN seed ON seed.id = s.id)""")
    for (t <- 0 until iters) {
      sb.append(s""",
a$t AS (SELECT sub, sv, cid FROM ${assign(s"c$t")}),
d$t AS (SELECT sub, cid, i.i AS dim,
    round(CAST(SUM(CAST(sv[i.i] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS mu
  FROM a$t, (SELECT unnest(range(1, ${len + 1})) AS i) i GROUP BY sub, cid, i.i),
c${t + 1} AS (SELECT sub, cid, list(mu ORDER BY dim) AS cv FROM d$t GROUP BY sub, cid)""")
    }
    sb.append(s""",
codes AS (SELECT id, sub, cid AS code FROM ${assign(s"c$iters")}),
lut AS (SELECT s.id AS query_id, s.sub, c.cid,
    CAST(CAST(${l2Sql("s.sv", "c.cv", len)} AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS d_e6
  FROM s JOIN c$iters c ON c.sub = s.sub WHERE s.id % $queryMod = 0),
scores AS (SELECT l.query_id, cd.id AS neighbor_id, CAST(SUM(l.d_e6) AS BIGINT) AS adist_e6
  FROM codes cd JOIN lut l ON l.sub = cd.sub AND l.cid = cd.code AND l.query_id <> cd.id
  GROUP BY l.query_id, cd.id),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist_e6 ASC, neighbor_id ASC) AS rk FROM scores)
SELECT query_id, neighbor_id, adist_e6, CAST(rk AS BIGINT) AS rk FROM ranked WHERE rk <= $k ORDER BY query_id, rk""")
    sb.toString
  }

  /** IVF-PQ ANN, UNROLLED — mirrors [[graft.ops.SimilarityOps.ivfPqAnn]]
    * step for step: coarse id-residue cell assignment (6-dp cosine, cid
    * tiebreak), residual v − centroid(cell), per-subspace Lloyd codebooks
    * over residuals (ksub lowest-id seeds, 6-dp L2 assignment, decimal
    * means), residual encoding, then per-probed-cell ADC with ×10^6
    * scaled-int LUT distances summed as exact BIGINT. */
  def ivfPqAnn(table: String, dim: Int, coarseMod: Int, m: Int, ksub: Int,
      iters: Int, queryMod: Int, k: Int, nprobe: Int): String =
    ivfPqPrefix(table, dim, coarseMod, m, ksub, iters, queryMod, nprobe) + s""",
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist_e6 ASC, neighbor_id ASC) AS rk FROM scores)
SELECT query_id, neighbor_id, adist_e6, CAST(rk AS BIGINT) AS rk FROM ranked WHERE rk <= $k ORDER BY query_id, rk"""

  /** Mirror of [[graft.ops.SimilarityOps.ivfPqRerankAnn]]: the shared
    * IVF-PQ prefix selects the ADC top-`rerank` shortlist, whose exact
    * cosines against the raw vectors produce the final top-k — the
    * refine stage verbatim. */
  def ivfPqRerankAnn(table: String, dim: Int, coarseMod: Int, m: Int, ksub: Int,
      iters: Int, queryMod: Int, k: Int, nprobe: Int, rerank: Int): String =
    ivfPqPrefix(table, dim, coarseMod, m, ksub, iters, queryMod, nprobe) + s""",
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist_e6 ASC, neighbor_id ASC) AS rk FROM scores),
short AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= $rerank),
rr AS (SELECT sh.query_id, sh.neighbor_id, ${cosSql("q.v", "n.v", dim)} AS cos
  FROM short sh JOIN e q ON q.id = sh.query_id JOIN e n ON n.id = sh.neighbor_id),
rranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk FROM rr)
SELECT query_id, neighbor_id, cos, CAST(rk AS BIGINT) AS rk FROM rranked WHERE rk <= $k ORDER BY query_id, rk"""

  /** Mirror of [[graft.ops.SimilarityOps.ivfPqKmeansAnn]]: the unrolled
    * kmeans training prefix (km-prefixed CTEs) supplies the trained
    * coarse centroids, then the shared IVF-PQ text runs over them —
    * coarse assignment, residual codebooks, encode, per-probed-cell ADC,
    * all step for step with the id-residue form. */
  def ivfPqKmeansAnn(table: String, dim: Int, kCoarse: Int, kmIters: Int,
      m: Int, ksub: Int, iters: Int, queryMod: Int, k: Int, nprobe: Int): String =
    ivfPqPrefixWith(table, dim,
      preCtes = kmeansCtesBody(table, kCoarse, kmIters, dim, p = "km") + ",\n",
      coarseCte = s"c AS (SELECT cid, cv FROM kmc$kmIters)",
      m, ksub, iters, queryMod, nprobe) + s""",
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist_e6 ASC, neighbor_id ASC) AS rk FROM scores)
SELECT query_id, neighbor_id, adist_e6, CAST(rk AS BIGINT) AS rk FROM ranked WHERE rk <= $k ORDER BY query_id, rk"""

  /** Mirror of [[graft.ops.SimilarityOps.ivfPqKmeansRerankAnn]]: the
    * kmeans-trained coarse prefix, the ADC top-`rerank` shortlist, and
    * the exact-cosine refine — [[ivfPqKmeansAnn]]'s prefix with
    * [[ivfPqRerankAnn]]'s suffix, both verbatim. */
  def ivfPqKmeansRerankAnn(table: String, dim: Int, kCoarse: Int, kmIters: Int,
      m: Int, ksub: Int, iters: Int, queryMod: Int, k: Int, nprobe: Int,
      rerank: Int): String =
    ivfPqPrefixWith(table, dim,
      preCtes = kmeansCtesBody(table, kCoarse, kmIters, dim, p = "km") + ",\n",
      coarseCte = s"c AS (SELECT cid, cv FROM kmc$kmIters)",
      m, ksub, iters, queryMod, nprobe) + s""",
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist_e6 ASC, neighbor_id ASC) AS rk FROM scores),
short AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= $rerank),
rr AS (SELECT sh.query_id, sh.neighbor_id, ${cosSql("q.v", "n.v", dim)} AS cos
  FROM short sh JOIN e q ON q.id = sh.query_id JOIN e n ON n.id = sh.neighbor_id),
rranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk FROM rr)
SELECT query_id, neighbor_id, cos, CAST(rk AS BIGINT) AS rk FROM rranked WHERE rk <= $k ORDER BY query_id, rk"""

  /** Shared IVF-PQ text through the `scores` CTE (ADC sums) — id-residue
    * coarse cells (the oracle-cheap default). */
  private def ivfPqPrefix(table: String, dim: Int, coarseMod: Int, m: Int,
      ksub: Int, iters: Int, queryMod: Int, nprobe: Int): String =
    ivfPqPrefixWith(table, dim, preCtes = "",
      coarseCte = s"c AS (SELECT id AS cid, v AS cv FROM e WHERE id % $coarseMod = 0)",
      m, ksub, iters, queryMod, nprobe)

  /** [[ivfPqPrefix]] with a PLUGGABLE coarse-centroid stage: `coarseCte`
    * must define `c (cid, cv)`; `preCtes` (each ending with ",\n") may
    * define helper CTEs whose names cannot collide with
    * e/c/a/s/seed/c0/a_t/d_t/codes/qp/qs/lut/scores. Mirrors
    * [[graft.ops.SimilarityOps.ivfPqIndexWith]]'s parameterization. */
  private def ivfPqPrefixWith(table: String, dim: Int, preCtes: String,
      coarseCte: String, m: Int,
      ksub: Int, iters: Int, queryMod: Int, nprobe: Int): String = {
    require(iters >= 1 && dim % m == 0)
    val len = dim / m
    val resid = s"list_transform(range(1, ${dim + 1}), i -> e.v[i] - c.cv[i])"
    def assign(cents: String) =
      s"""(SELECT s.id, s.cell, s.sub, s.sv, c.cid,
    ROW_NUMBER() OVER (PARTITION BY s.id, s.sub ORDER BY ${l2Sql("s.sv", "c.cv", len)} ASC, c.cid ASC) AS rk
  FROM s JOIN $cents c ON c.sub = s.sub) WHERE rk = 1"""
    val sb = new StringBuilder
    sb.append(s"""WITH ${preCtes}e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM $table),
$coarseCte,
a AS (SELECT id, cell, rv FROM (
  SELECT e.id, c.cid AS cell, $resid AS rv,
    ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY ${cosSql("e.v", "c.cv", dim)} DESC, c.cid ASC) AS crk
  FROM e, c) WHERE crk = 1),
s AS (SELECT a.id, a.cell, sub.s AS sub, a.rv[sub.s * $len + 1 : sub.s * $len + $len] AS sv
  FROM a, (SELECT unnest(range(0, $m)) AS s) sub),
seed AS (SELECT id FROM e ORDER BY id ASC LIMIT $ksub),
c0 AS (SELECT s.sub, s.id AS cid, s.sv AS cv FROM s JOIN seed ON seed.id = s.id)""")
    for (t <- 0 until iters) {
      sb.append(s""",
a$t AS (SELECT sub, sv, cid FROM ${assign(s"c$t")}),
d$t AS (SELECT sub, cid, i.i AS dim,
    round(CAST(SUM(CAST(sv[i.i] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS mu
  FROM a$t, (SELECT unnest(range(1, ${len + 1})) AS i) i GROUP BY sub, cid, i.i),
c${t + 1} AS (SELECT sub, cid, list(mu ORDER BY dim) AS cv FROM d$t GROUP BY sub, cid)""")
    }
    sb.append(s""",
codes AS (SELECT id, cell, sub, cid AS code FROM ${assign(s"c$iters")}),
qp AS (SELECT id AS query_id, cell, qrv FROM (
  SELECT e.id, c.cid AS cell, $resid AS qrv,
    ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY ${cosSql("e.v", "c.cv", dim)} DESC, c.cid ASC) AS crk
  FROM e, c WHERE e.id % $queryMod = 0) WHERE crk <= $nprobe),
qs AS (SELECT qp.query_id, qp.cell, sub.s AS sub,
    qp.qrv[sub.s * $len + 1 : sub.s * $len + $len] AS qsv
  FROM qp, (SELECT unnest(range(0, $m)) AS s) sub),
lut AS (SELECT q.query_id, q.cell, q.sub, c.cid,
    CAST(CAST(${l2Sql("q.qsv", "c.cv", len)} AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS d_e6
  FROM qs q JOIN c$iters c ON c.sub = q.sub),
scores AS (SELECT l.query_id, cd.id AS neighbor_id, CAST(SUM(l.d_e6) AS BIGINT) AS adist_e6
  FROM codes cd JOIN lut l ON l.cell = cd.cell AND l.sub = cd.sub AND l.cid = cd.code
    AND l.query_id <> cd.id
  GROUP BY l.query_id, cd.id)""")
    sb.toString
  }

  def labelCentroidProfile(table: String): String =
    s"""SELECT label, COUNT(*) AS n_vecs,
round(CAST(SUM(CAST(embedding[1]::DOUBLE AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS mean_d0,
round(CAST(SUM(CAST(embedding[2]::DOUBLE AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS mean_d1
FROM $table GROUP BY label ORDER BY label"""

  /** Mirror of [[graft.ops.SimilarityOps.labelCentroidMargin]]: same
    * decimal-exact per-(label, dim) 6-dp means, same 6-dp cosine of every
    * vector against every label centroid, same own-vs-best-other margin
    * with the strict `< 0` mis test and truncating ppm. */
  def labelCentroidMargin(table: String, dim: Int): String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS lbl, embedding::DOUBLE[] AS v
  FROM $table WHERE embedding IS NOT NULL AND label IS NOT NULL),
d AS (SELECT lbl, i.i AS dim,
    round(CAST(SUM(CAST(v[i.i] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM e, (SELECT unnest(range(1, ${dim + 1})) AS i) i GROUP BY lbl, i.i),
c AS (SELECT lbl AS clbl, list(m ORDER BY dim) AS cv FROM d GROUP BY lbl),
sc AS (SELECT e.id, e.lbl, c.clbl, ${cosSql("e.v", "c.cv", dim)} AS ccos FROM e, c),
pm AS (SELECT id, lbl,
    MAX(CASE WHEN clbl = lbl THEN ccos END) AS own,
    MAX(CASE WHEN clbl <> lbl THEN ccos END) AS bo
  FROM sc GROUP BY id, lbl),
m AS (SELECT lbl, round(own - bo, 6) AS margin FROM pm
  WHERE own IS NOT NULL AND bo IS NOT NULL)
SELECT lbl AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
  CAST(SUM(CASE WHEN margin < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misassigned,
  round(CAST(SUM(CAST(margin AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS mean_margin,
  MIN(margin) AS min_margin,
  CAST((SUM(CASE WHEN margin < 0 THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS mis_ppm
FROM m GROUP BY lbl ORDER BY label"""

  /** Mirror of [[graft.ops.SimilarityOps.lengthNormCorrelation]]: same
    * 6-dp sequential Σv² norm, same ×10⁶ micro-int y, exact decimal
    * moment sums, doubles only in the one final Pearson expression with
    * the identical operation order. */
  def lengthNormCorrelation(
      docsTable: String, lenCol: String, embTable: String): String =
    s"""WITH x AS (SELECT doc_id AS k, CAST($lenCol AS BIGINT) AS x
  FROM $docsTable WHERE $lenCol IS NOT NULL),
y AS (SELECT vec_id AS k,
    CAST(CAST(round(list_sum(list_transform(embedding::DOUBLE[], v -> v * v)), 6)
      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y
  FROM $embTable WHERE embedding IS NOT NULL),
m AS (SELECT COUNT(*) AS n_pairs,
    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
    SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sxy,
    SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sxx,
    SUM(CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS syy
  FROM x JOIN y USING (k))
SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
  round(
    (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      (sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
    6) AS corr
FROM m"""

  /** Mirror of [[graft.ops.SimilarityOps.tripletMining]]: the oracle
    * ranks each side with a ROW_NUMBER over (ccos desc, id asc) — the
    * same total order the engine's lexicographic struct-min encodes. */
  def tripletMining(table: String, queryMod: Int, dim: Int): String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS lbl, embedding::DOUBLE[] AS v
  FROM $table WHERE embedding IS NOT NULL AND label IS NOT NULL),
a AS (SELECT id AS aid, lbl AS albl, v AS av FROM e WHERE id % $queryMod = 0),
sc AS (SELECT a.aid, a.albl, e.id AS nid, e.lbl AS nlbl, ${cosSql("e.v", "a.av", dim)} AS ccos
  FROM e, a WHERE e.id <> a.aid),
pos AS (SELECT aid, nid, ccos FROM (
  SELECT aid, nid, ccos, ROW_NUMBER() OVER (PARTITION BY aid ORDER BY ccos DESC, nid ASC) AS rk
  FROM sc WHERE nlbl = albl) WHERE rk = 1),
neg AS (SELECT aid, nid, ccos FROM (
  SELECT aid, nid, ccos, ROW_NUMBER() OVER (PARTITION BY aid ORDER BY ccos DESC, nid ASC) AS rk
  FROM sc WHERE nlbl <> albl) WHERE rk = 1)
SELECT a.aid AS anchor_id, a.albl AS label,
  p.nid AS pos_id, p.ccos AS pos_cos,
  n.nid AS neg_id, n.ccos AS neg_cos,
  round(p.ccos - n.ccos, 6) AS margin
FROM a JOIN pos p ON p.aid = a.aid JOIN neg n ON n.aid = a.aid
ORDER BY anchor_id"""

  /** Mirror of [[graft.ops.SimilarityOps.sqReconError]]: same max-abs
    * scales, same clamp∘floor codes, same `|x − q·s/127|` rounded to 6 dp
    * then scaled to exact ×10⁶ BIGINT before the per-dim max/mean. */
  def sqReconError(table: String, dim: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $table WHERE embedding IS NOT NULL),
s AS (SELECT i.i AS d, max(abs(v[i.i])) AS s FROM e, (SELECT unnest(range(1, ${dim + 1})) AS i) i GROUP BY 1),
err AS (SELECT s.d AS dim,
    CAST(CAST(round(ABS(v[s.d] - (CASE WHEN s.s = 0 THEN 0
      ELSE greatest(-127, least(127, CAST(floor(v[s.d] * 127.0 / s.s) AS BIGINT))) END) * s.s / 127.0), 6)
      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS e6
  FROM e, s)
SELECT CAST(dim AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
  MAX(e6) AS max_err_e6, CAST(SUM(e6) // COUNT(*) AS BIGINT) AS mean_err_e6
FROM err GROUP BY dim ORDER BY dim"""

  /** Mirror of [[graft.ops.SimilarityOps.annScalarQuant]]: same max-abs
    * per-dimension scales, same clamp(floor(x*127/s)) int8 codes (floor,
    * not round — half-way doubles cannot diverge), same exact BIGINT dot
    * ranking. All arithmetic either integer or identical IEEE-754 double
    * ops, so codes and scores are bit-equal across engines. */
  def annScalarQuant(table: String, queryMod: Int, k: Int, dim: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $table WHERE embedding IS NOT NULL),
s AS (SELECT i.i AS d, max(abs(v[i.i])) AS s FROM e, (SELECT unnest(range(1, ${dim + 1})) AS i) i GROUP BY 1),
sv AS (SELECT list(s ORDER BY d) AS sv FROM s),
c AS (SELECT vec_id, list_transform(range(1, ${dim + 1}), i ->
    CASE WHEN sv[i] = 0 THEN 0
         ELSE greatest(-127, least(127, CAST(floor(v[i] * 127.0 / sv[i]) AS BIGINT))) END) AS q
  FROM e, sv),
cand AS (SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(range(1, ${dim + 1}), i -> qs.q[i] * c.q[i])) AS BIGINT) AS dot_q
  FROM c qs JOIN c ON c.vec_id <> qs.vec_id WHERE qs.vec_id % $queryMod = 0),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot_q DESC, neighbor_id ASC) AS rk FROM cand)
SELECT query_id, neighbor_id, dot_q, CAST(rk AS BIGINT) AS rk FROM ranked WHERE rk <= $k ORDER BY query_id, rk"""

  /** Mirror of [[graft.ops.SimilarityOps.embeddingAnisotropy]]: same
    * micro-int scaling, same truncating per-dim mean, same exact
    * HUGEINT scatter sums (DECIMAL(38,0) on the engine side), same
    * R unrolled power rounds with the toward-zero max-|w| rescale both
    * engines share, same Rayleigh/trace ppm arithmetic. */
  def embeddingAnisotropy(table: String, dim: Int, iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      s"""w$r AS MATERIALIZED (SELECT cov.i, SUM(cov.cij * v${r - 1}.v) AS w
  FROM cov JOIN v${r - 1} ON v${r - 1}.i = cov.j GROUP BY cov.i),
mx$r AS MATERIALIZED (SELECT MAX(abs(w)) AS mx FROM w$r),
v$r AS MATERIALIZED (SELECT i, CASE WHEN mx = 0 THEN w ELSE (w * 1000) // mx END AS v
  FROM w$r, mx$r)"""
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM $table
  WHERE embedding IS NOT NULL AND len(embedding) = $dim),
comps AS MATERIALIZED (SELECT vid, i.i AS i,
    CAST(round(v[i.i] * 1000000, 0) AS BIGINT) AS m
  FROM e, (SELECT unnest(range(1, ${dim + 1})) AS i) i),
mu AS MATERIALIZED (SELECT i, SUM(m) // COUNT(*) AS mu, COUNT(*) AS n FROM comps GROUP BY i),
c AS MATERIALIZED (SELECT comps.vid, comps.i, CAST(comps.m - mu.mu AS HUGEINT) AS cv
  FROM comps JOIN mu USING (i)),
cov AS MATERIALIZED (SELECT a.i AS i, b.i AS j, SUM(a.cv * b.cv) AS cij
  FROM c a JOIN c b ON a.vid = b.vid GROUP BY a.i, b.i),
tr AS (SELECT SUM(cij) AS trace FROM cov WHERE i = j),
nv AS (SELECT COALESCE(MAX(n), 0) AS n_vecs FROM mu),
v0 AS MATERIALIZED (SELECT i, CAST(1000 AS HUGEINT) AS v FROM mu),
$rounds,
num AS (SELECT SUM(a.v * cov.cij * b.v) AS num
  FROM cov JOIN v$iters a ON a.i = cov.i JOIN v$iters b ON b.i = cov.j),
den AS (SELECT SUM(v * v) AS den FROM v$iters)
SELECT CAST(nv.n_vecs AS BIGINT) AS n_vecs, CAST($dim AS BIGINT) AS dim,
  CASE WHEN nv.n_vecs > 0 THEN CAST(tr.trace // nv.n_vecs AS BIGINT)
    ELSE NULL END AS mean_scatter,
  CASE WHEN tr.trace > 0
    THEN CAST((num.num * 1000000) // (den.den * tr.trace) AS BIGINT)
    ELSE NULL END AS top_share_ppm,
  CAST(${1000000L / dim} AS BIGINT) AS uniform_share_ppm
FROM nv, tr, num, den"""
  }

  /** Mirror of [[graft.ops.SimilarityOps.lexicalEmbeddingAgreement]]:
    * same md5-top-N sample, same 28-bit shingle hash sets, same 6-dp
    * cosine scaled to micro ints, same exact-decimal Pearson moments
    * and pinned final double ([[graft.ops.RelationalOps
    * .integerCorrelation]]'s contract). */
  def lexicalEmbeddingAgreement(
      docsTable: String, embTable: String,
      w: Int, sampleN: Int, dim: Int): String = {
    val gram = (0 until w).map(o => s"tk[i+$o]").mkString(" || ' ' || ")
    s"""WITH samp AS (SELECT doc_id, text FROM $docsTable WHERE text IS NOT NULL
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $sampleN),
t AS (SELECT doc_id AS id, $toks AS tk FROM samp),
sh AS (SELECT id, list_distinct(list_transform(range(1, len(tk) - ${w - 2}),
    i -> ('0x' || substr(md5($gram), 1, 7))::BIGINT)) AS hs
  FROM t WHERE len(tk) >= $w),
e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM $embTable),
side AS (SELECT sh.id, sh.hs, e.v FROM sh JOIN e USING (id)),
p AS (SELECT
    CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS ni,
    CAST(len(a.hs) + len(b.hs) AS BIGINT) AS ns,
    CAST(round(${cosSql("a.v", "b.v", dim)} * 1000000, 0) AS BIGINT) AS cos_micro
  FROM side a JOIN side b ON a.id < b.id),
f AS (SELECT CAST((ni * 1000000) // (ns - ni) AS BIGINT) AS x, cos_micro AS y FROM p),
m AS (SELECT COUNT(*) AS n_pairs,
    SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
    SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sxy,
    SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sxx,
    SUM(CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS syy,
    COUNT(DISTINCT x) AS ndx, COUNT(DISTINCT y) AS ndy
  FROM f)
SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
  CASE WHEN n_pairs < 2 OR ndx < 2 OR ndy < 2 THEN NULL
    ELSE round(
      (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        (sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
          sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
      6) END AS corr
FROM m"""
  }
}
