package graft.sql

/** DuckDB oracle SQL mirroring [[graft.ops.GraphOps]]. The recursive CTE
  * carries an iteration counter and re-aggregates per round — an
  * independent formulation of the same integer recurrence (DuckDB allows
  * GROUP BY on the recursive reference; the engine's loop is a join +
  * aggregate per round). */
object GraphSql {

  /** Mirror of [[graft.ops.GraphOps.pageRankSymmetric]] over the
    * customer–supplier interaction graph (customers and suppliers
    * namespaced onto disjoint odd/even node ids). Symmetric edges mean
    * every node re-appears as a destination each round, so the recursion
    * carries the full node set. */
  def pageRankCustomerSupplier(iters: Int, limit: Int,
      scale: Long = 1000000L, dampNum: Long = 85L, dampDen: Long = 100L): String = {
    val base = scale * (dampDen - dampNum) / dampDen
    s"""WITH RECURSIVE p AS (
  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
e AS (SELECT src, dst FROM (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p)
  WHERE src <> dst),
deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
pr(iter, node, r) AS (
  SELECT 0, src, CAST($scale AS BIGINT) FROM deg
  UNION ALL
  SELECT pr.iter + 1, e.dst,
    CAST($base + ($dampNum * SUM(pr.r // deg.d)) // $dampDen AS BIGINT)
  FROM pr JOIN e ON e.src = pr.node JOIN deg ON deg.src = pr.node
  WHERE pr.iter < $iters
  GROUP BY pr.iter + 1, e.dst)
SELECT node, r AS rank_micro, CAST(deg.d AS BIGINT) AS degree
FROM pr JOIN deg ON deg.src = pr.node
WHERE iter = $iters
ORDER BY rank_micro DESC, node ASC LIMIT $limit"""
  }

  /** Mirror of [[graft.ops.GraphOps.kCore]] over the customer–supplier
    * graph (q104's pair CTE): peel rounds UNROLLED as e0..e{rounds}
    * CTEs — fixed-round semantics make engine and mirror equal by
    * construction, converged or not. */
  def kCoreCustomerSupplier(k: Int, rounds: Int): String = {
    require(rounds >= 1)
    val sb = new StringBuilder
    sb.append(s"""WITH p AS (
  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
e0 AS (SELECT src, dst FROM (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p)
  WHERE src <> dst)""")
    (1 to rounds).foreach { i =>
      sb.append(s""",
k${i - 1} AS (SELECT src FROM e${i - 1} GROUP BY src HAVING COUNT(*) >= $k),
e$i AS (SELECT src, dst FROM e${i - 1}
  WHERE src IN (SELECT src FROM k${i - 1}) AND dst IN (SELECT src FROM k${i - 1}))""")
    }
    sb.append(s"""
SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
FROM e$rounds GROUP BY src ORDER BY degree DESC, node ASC""")
    sb.toString
  }

  /** Mirror of [[graft.ops.GraphOps.labelPropagation]] over the
    * customer-supplier interaction graph: the same symmetric-edge CTE as
    * the PageRank/k-core mirrors, identity labels in `l0`, then one
    * unrolled (count, argmax) round per iteration — count desc, label
    * asc is the Scala struct-max's exact order. */
  def labelPropagationCustomerSupplier(rounds: Int): String = {
    require(rounds >= 1)
    val sb = new StringBuilder
    sb.append(s"""WITH p AS (
  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
e AS (SELECT src, dst FROM (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p)
  WHERE src <> dst),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM e)""")
    (1 to rounds).foreach { i =>
      sb.append(s""",
c$i AS (SELECT e.dst AS n, l.label, COUNT(*) AS c
  FROM e JOIN l${i - 1} l ON l.node = e.src GROUP BY 1, 2),
l$i AS (SELECT n AS node, label FROM (
  SELECT n, label, ROW_NUMBER() OVER (PARTITION BY n ORDER BY c DESC, label ASC) AS rk
  FROM c$i) WHERE rk = 1)""")
    }
    sb.append(s"""
SELECT node, label FROM l$rounds ORDER BY node""")
    sb.toString
  }

  /** Mirror of [[graft.ops.GraphOps.triangleCounts]] over the capped
    * MinHash near-dup pair graph (the same pair set q39's clustering
    * consumes): same canonical (lo, hi) edges, ordered-wedge
    * enumeration, closing-edge semi-join, corner redistribution. */
  def triangleCountsNearDup(table: String, w: Int, nBands: Int, r: Int,
      minJaccard: Double, limit: Int): String =
    s"""WITH toks AS (SELECT doc_id AS id, $toks AS tk FROM $table WHERE text IS NOT NULL),
${DedupSql.minhashPairCtes("toks", w, nBands, r)},
pr AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= $minJaccard
  ORDER BY jaccard DESC, doc_a ASC, doc_b ASC LIMIT $limit),
e AS (SELECT DISTINCT least(doc_a, doc_b) AS lo, greatest(doc_a, doc_b) AS hi
  FROM pr WHERE doc_a <> doc_b),
wdg AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM e e1 JOIN e e2 ON e2.lo = e1.lo AND e2.hi > e1.hi),
t AS (SELECT a, b, c FROM wdg
  WHERE EXISTS (SELECT 1 FROM e WHERE e.lo = wdg.b AND e.hi = wdg.c)),
n AS (SELECT unnest([a, b, c]) AS node FROM t)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM n GROUP BY 1 ORDER BY 1"""

  /** Mirror of [[graft.ops.GraphOps.degreeAssortativity]] over the
    * customer–supplier graph (q104's pair CTE): same directed-copy
    * population, same exact DECIMAL Pearson moments, same zero-variance
    * guard and pinned final double
    * ([[graft.ops.RelationalOps.integerCorrelation]]'s contract). */
  def degreeAssortativityCustomerSupplier: String =
    s"""WITH p AS (
  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
e AS (SELECT src, dst FROM (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p)
  WHERE src <> dst),
deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
f AS (SELECT CAST(ds.d AS BIGINT) AS x, CAST(dd.d AS BIGINT) AS y
  FROM e JOIN deg ds ON ds.src = e.src JOIN deg dd ON dd.src = e.dst),
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
