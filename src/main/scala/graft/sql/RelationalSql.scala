package graft.sql

/** DuckDB oracle SQL for the relational (TPC-H-ish) query family.
  *
  * Mirrors [[graft.ops.RelationalOps]] exactly: per-row money values are
  * rounded in DECIMAL first — cast the raw double column to DECIMAL(18,2)
  * (the raw values carry sub-cent noise, so this cast ROUNDS, identically in
  * both engines) — then scaled by an exact power of ten to BIGINT and summed
  * as int64 (`*_e2`/`*_e4`/`*_e6` scaled-integer outputs). NO decimal
  * columns reach the output: DuckDB's client layer exports DECIMAL as
  * float64 while parquet decimals stay exact scaled values, so decimal
  * outputs hash-diverge on trailing zeros/width even when the values are
  * identical. An int64 has one representation everywhere.
  */
object RelationalSql {

  private val disc =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"

  /** Per-row ×10^4 scaled-integer `price*(1-disc)` (exact: `disc` has scale 4). */
  private val discE4 = s"CAST($disc * 10000 AS BIGINT)"

  /** Per-row ×100 scaled-integer money value (round to cents, then exact). */
  private def e2(col: String) = s"CAST(CAST($col AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** Per-row ×10^6 scaled-integer value (round to scale 6, then exact). */
  private def e6(col: String) = s"CAST(CAST($col AS DECIMAL(18,6)) * 1000000 AS BIGINT)"

  def pricingSummary(cutoff: String): String =
    s"""SELECT l_returnflag, l_linestatus,
CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
CAST(SUM(${e2("l_extendedprice")}) AS BIGINT) AS sum_base_price_e2,
CAST(SUM($discE4) AS BIGINT) AS sum_disc_price_e4,
COUNT(*) AS n_rows
FROM lineitem WHERE l_shipdate <= TIMESTAMP '$cutoff'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""

  /** Scaled-integer revenue (`revenue_e4` = revenue × 10^4): pure int64
    * arithmetic per row, BIGINT sum — one representation in every engine. */
  def revenueByNation: String =
    s"""SELECT r.r_name AS region_name, n.n_name AS nation_name,
CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
  * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) AS BIGINT) AS revenue_e4,
COUNT(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name ORDER BY region_name, nation_name"""

  def orderRollup: String =
    """SELECT
CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
COUNT(*) AS n_orders,
CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_price_e2
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY status, priority"""

  /** Mirror of [[graft.ops.RelationalOps.orderCube]]. */
  def orderCube: String =
    """SELECT
CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
COUNT(*) AS n_orders,
CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_price_e2
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY status, priority"""

  /** Mirror of [[graft.ops.RelationalOps.orderMarginals]]: the arbitrary
    * set list — both one-dimension marginals and the grand total, no
    * cross. */
  def orderMarginals: String =
    """SELECT
CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
COUNT(*) AS n_orders,
CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_price_e2
FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY status, priority"""

  def topCustomersPerSegment(k: Int): String =
    s"""WITH spend AS (
  SELECT o_custkey, CAST(SUM(${e2("o_totalprice")}) AS BIGINT) AS total_spend_e2, COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT c.c_mktsegment AS segment, c.c_custkey AS custkey, c.c_name AS name,
         s.total_spend_e2, s.n_orders,
         ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment ORDER BY s.total_spend_e2 DESC, c.c_custkey ASC) AS rk
  FROM customer c JOIN spend s ON c.c_custkey = s.o_custkey)
SELECT segment, custkey, name, total_spend_e2,
n_orders, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= $k ORDER BY segment, rk"""

  def eventJsonStats: String =
    s"""SELECT event_type, COUNT(*) AS n_events,
CAST(SUM(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
CAST(SUM(${e6("value")}) AS BIGINT) AS sum_value_e6
FROM events GROUP BY event_type ORDER BY event_type"""

  def brandStats: String =
    s"""SELECT p.p_brand AS brand, COUNT(*) AS n_lineitems,
CAST(SUM(l.l_quantity) AS BIGINT) AS sum_qty,
CAST(SUM(${e2("l.l_extendedprice")}) AS BIGINT) AS sum_price_e2
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand ORDER BY brand"""

  def inactiveCustomersByNation(cutoff: String): String =
    s"""SELECT n.n_name AS nation_name, COUNT(*) AS n_inactive
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '$cutoff')
GROUP BY n.n_name ORDER BY nation_name"""

  def statusSetCustomers: String =
    """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
ORDER BY custkey"""

  def activeCustomersByNation(cutoff: String): String =
    s"""SELECT n.n_name AS nation_name, COUNT(*) AS n_active
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '$cutoff')
GROUP BY n.n_name ORDER BY nation_name"""

  /** Exact interpolated quantiles — mirrors
    * [[graft.ops.RelationalOps.valuePercentiles]] (`quantile_cont` ≡
    * Spark's exact `percentile`, both linear interpolation, 6-dp rounded). */
  def valuePercentiles(ps: Seq[Double]): String = {
    val cols = ps.map(p =>
      s"round(quantile_cont(value, $p), 6) AS p${(p * 100).round}").mkString(",\n")
    s"""SELECT event_type,
$cols
FROM events WHERE value IS NOT NULL GROUP BY event_type ORDER BY event_type"""
  }

  /** Exact-decimal-moment statistics — mirrors
    * [[graft.ops.RelationalOps.momentStats]]: decimal sums, identical final
    * double formula, population variance. */
  def momentStats: String =
    """WITH m AS (SELECT event_type, COUNT(*) AS n,
  SUM(CAST(value AS DECIMAL(18,6))) AS s,
  SUM(CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS s2
  FROM events WHERE value IS NOT NULL GROUP BY event_type)
SELECT event_type, n,
round(CAST(s AS DOUBLE) / n, 6) AS mean,
round((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n, 6) AS variance,
round(sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n), 6) AS stddev
FROM m ORDER BY event_type"""

  def valueHistogram(width: Int): String =
    s"""SELECT event_type, CAST(floor(value / $width) * $width AS BIGINT) AS bin_lo,
COUNT(*) AS n FROM events WHERE value IS NOT NULL
GROUP BY event_type, bin_lo ORDER BY event_type, bin_lo"""

  /** Mirror of [[graft.ops.RelationalOps.percentileClip]] aggregated per
    * group: same distinct-value cumulative histogram, same integer
    * ceiling-division ranks (`//`), nearest-rank bounds — no interpolated
    * doubles anywhere near the filter predicate. */
  def percentileClipProfile(
      table: String, metricCol: String, groupCol: String, keyCol: String,
      pLo: Int, pHi: Int): String =
    s"""WITH h AS (SELECT $metricCol AS v, COUNT(*) AS c FROM $table
  WHERE $metricCol IS NOT NULL GROUP BY 1),
cm AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n FROM h),
b AS (SELECT MIN(CASE WHEN cum >= (n * $pLo + 99) // 100 THEN v END) AS lo,
  MIN(CASE WHEN cum >= (n * $pHi + 99) // 100 THEN v END) AS hi FROM cm)
SELECT d.$groupCol AS $groupCol, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(MIN(d.$metricCol) AS BIGINT) AS min_metric,
  CAST(MAX(d.$metricCol) AS BIGINT) AS max_metric,
  CAST(SUM(d.$keyCol) AS BIGINT) AS key_sum
FROM $table d, b WHERE d.$metricCol BETWEEN b.lo AND b.hi
GROUP BY 1 ORDER BY 1"""

  /** Batch sessionization oracle. `floor(epoch(ts))` mirrors Spark's
    * truncating `unix_timestamp`; session bounds are epoch-MICROSECOND
    * BIGINTs on both sides — min/max commute with the µs truncation, and a
    * raw int64 has one representation in every engine (Spark's parquet
    * writer emits INT96/ns-flavored timestamps, DuckDB µs — emitting the
    * number instead of the timestamp sidesteps the unit entirely). */
  def sessionizeBatch(gapSeconds: Long): String =
    s"""WITH e AS (SELECT user_id, ts, event_id, value,
  CASE WHEN lag(floor(epoch(ts))) OVER w IS NULL
         OR floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w > $gapSeconds
       THEN 1 ELSE 0 END AS s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
g AS (SELECT *, SUM(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
  ROWS UNBOUNDED PRECEDING) AS session_id FROM e)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
  epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS session_start,
  epoch_us(CAST(MAX(ts) AS TIMESTAMP)) AS session_end,
  COUNT(*) AS n_events,
  CAST(SUM(${e6("value")}) AS BIGINT) AS total_value_e6
FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id"""

  /** Mirror of [[graft.ops.RelationalOps.pivotDailyEventCounts]]: one
    * conditional count per explicit pivot value, zero-filled. */
  def pivotDailyEventCounts(
      table: String, tsCol: String, typeCol: String, types: Seq[String]): String = {
    val cols = types.map(t =>
      s"""CAST(COUNT(*) FILTER (WHERE $typeCol = '$t') AS BIGINT) AS "$t"""")
      .mkString(",\n  ")
    s"""SELECT CAST($tsCol AS DATE) AS day,
  $cols
FROM $table WHERE $tsCol IS NOT NULL AND $typeCol IS NOT NULL
GROUP BY 1 ORDER BY 1"""
  }

  /** Mirror of [[graft.ops.RelationalOps.madOutliers]]: same nearest-rank
    * median and MAD off the distinct-value cumulative histograms, same
    * integer cross-multiplied flag predicate. */
  def madOutliers(
      table: String, idCol: String, metricCol: String,
      num: Long, den: Long, limit: Int): String =
    s"""WITH h AS (SELECT $metricCol AS v, COUNT(*) AS c FROM $table
  WHERE $metricCol IS NOT NULL GROUP BY 1),
cm AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n FROM h),
b AS (SELECT CAST(MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN v END) AS BIGINT) AS median FROM cm),
d AS (SELECT $idCol AS id, CAST($metricCol AS BIGINT) AS metric, b.median,
    abs(CAST($metricCol AS BIGINT) - b.median) AS dev
  FROM $table, b WHERE $metricCol IS NOT NULL),
h2 AS (SELECT dev AS v, COUNT(*) AS c FROM d GROUP BY 1),
cm2 AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n FROM h2),
b2 AS (SELECT CAST(MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN v END) AS BIGINT) AS mad FROM cm2)
SELECT id, metric, median, dev, mad FROM d, b2 WHERE dev * $den > mad * $num
ORDER BY dev DESC, id ASC LIMIT $limit"""

  /** Mirror of [[graft.ops.RelationalOps.equiDepthHistogram]]: same
    * distinct-value cumulative histogram, integer ceiling-division
    * nearest-rank bounds, and strictly-below bucket rule as
    * [[SampleSql.tieredMixProfile]] (shared formulation, no sampling). */
  def equiDepthHistogram(table: String, metricCol: String, nBuckets: Int): String = {
    val cuts = (1 until nBuckets).map(i => i * 100 / nBuckets)
    val boundSelects = cuts.zipWithIndex.map { case (p, i) =>
      s"MIN(CASE WHEN cum >= (n * $p + 99) // 100 THEN v END) AS b$i"
    }.mkString(",\n  ")
    val bucketExpr = cuts.indices
      .map(i => s"(CASE WHEN d.$metricCol > b.b$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH h AS (SELECT $metricCol AS v, COUNT(*) AS c FROM $table
  WHERE $metricCol IS NOT NULL GROUP BY 1),
cm AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n FROM h),
b AS (SELECT $boundSelects FROM cm),
t AS (SELECT d.$metricCol AS m, $bucketExpr AS bucket
  FROM $table d, b WHERE d.$metricCol IS NOT NULL)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(MIN(m) AS BIGINT) AS min_metric, CAST(MAX(m) AS BIGINT) AS max_metric
FROM t GROUP BY bucket ORDER BY bucket"""
  }

  /** Mirror of [[graft.ops.RelationalOps.groupedPercentiles]]: per-group
    * (group, value) histogram, per-group cumulative window, the same
    * ⌈p·n/100⌉ integer ceiling rank, min-qualifying-value answer. */
  def groupedPercentiles(
      table: String, groupCol: String, metricCol: String,
      percents: Seq[Int]): String = {
    val pctList = percents.mkString(", ")
    s"""WITH h AS (SELECT $groupCol AS g, $metricCol AS v, COUNT(*) AS c
  FROM $table WHERE $metricCol IS NOT NULL GROUP BY 1, 2),
cm AS (SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum FROM h),
t AS (SELECT g, SUM(c) AS n FROM h GROUP BY g),
cuts AS (SELECT g, n, pct, (pct * n + 99) // 100 AS rk
  FROM t, (SELECT unnest([$pctList]) AS pct))
SELECT cuts.g AS $groupCol, CAST(cuts.pct AS BIGINT) AS pct,
  CAST(MIN(cm.v) AS BIGINT) AS cut_value, CAST(cuts.n AS BIGINT) AS n_group
FROM cuts JOIN cm ON cm.g = cuts.g AND cm.cum >= cuts.rk
GROUP BY cuts.g, cuts.pct, cuts.n
ORDER BY $groupCol, pct"""
  }

  /** Mirror of [[graft.ops.ProfileOps.columnRegisters]] →
    * [[graft.ops.ProfileOps.mergeColumnRegisters]] →
    * [[graft.ops.ProfileOps.columnDistinctEstimates]]: the oracle builds
    * the registers DIRECTLY over the whole table — cell-wise max merge is
    * associative, so the engine's shard-merged artifact must equal the
    * one-shot build. Same md5 cells, same exact DECIMAL Σ 2^(61-reg)
    * harmonic sum, same pinned-order division and linear-counting
    * fallback. `num`/`m` literals are formatted by the CALLER from the
    * same Scala constants the engine embeds. */
  def columnDistinctEstimates(
      table: String, cols: Seq[String], bucketHex: Int): String = {
    val m = math.pow(16, bucketHex)
    val alpha = 0.7213 / (1 + 1.079 / m)
    val num = alpha * m * m * math.pow(2, 61)
    val stacked = cols.map(c =>
      s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS v FROM $table WHERE $c IS NOT NULL")
      .mkString("\n  UNION ALL ")
    s"""WITH s AS (
  $stacked),
h AS (SELECT col_name, substr(md5(v), 1, $bucketHex) AS bucket,
    ('0x' || substr(md5(v), ${bucketHex + 1}, 15))::BIGINT AS hv FROM s),
r AS (SELECT col_name, bucket,
    CAST(MAX(CASE WHEN hv = 0 THEN 61 ELSE 61 - length(bin(hv)) END) AS BIGINT) AS register
  FROM h GROUP BY col_name, bucket),
a AS (SELECT col_name, COUNT(*) AS nonzero,
    SUM(CAST(1::BIGINT << CAST(61 - register AS INT) AS DECIMAL(38,0))) AS sp
  FROM r GROUP BY col_name),
e AS (SELECT col_name, nonzero,
    CAST($num AS DOUBLE) / CAST(sp + CAST(${m.toLong} - nonzero AS DECIMAL(38,0))
      * CAST(2305843009213693952 AS DECIMAL(38,0)) AS DOUBLE) AS raw
  FROM a)
SELECT col_name,
  round(CASE WHEN raw <= ${2.5 * m} AND nonzero < ${m.toLong}
    THEN CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE) / CAST(${m.toLong} - nonzero AS DOUBLE))
    ELSE raw END, 6) AS estimate,
  CAST(nonzero AS BIGINT) AS nonzero_buckets
FROM e ORDER BY col_name"""
  }

  /** Mirror of [[graft.ops.ProfileOps.joinIntegrity]]: distinct keys per
    * side, inner key match, integer orphan ppm. */
  def joinIntegrity(
      leftTable: String, leftKey: String,
      rightTable: String, rightKey: String): String =
    s"""WITH lk AS (SELECT CAST($leftKey AS BIGINT) AS k FROM $leftTable WHERE $leftKey IS NOT NULL),
rk AS (SELECT CAST($rightKey AS BIGINT) AS k FROM $rightTable WHERE $rightKey IS NOT NULL),
ld AS (SELECT DISTINCT k FROM lk), rd AS (SELECT DISTINCT k FROM rk),
c AS (SELECT
  (SELECT COUNT(*) FROM lk) AS n_left, (SELECT COUNT(*) FROM rk) AS n_right,
  (SELECT COUNT(*) FROM ld) AS n_left_keys, (SELECT COUNT(*) FROM rd) AS n_right_keys,
  (SELECT COUNT(*) FROM ld JOIN rd USING (k)) AS n_matched_keys)
SELECT CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
  CAST(n_left_keys AS BIGINT) AS n_left_keys, CAST(n_right_keys AS BIGINT) AS n_right_keys,
  CAST(n_matched_keys AS BIGINT) AS n_matched_keys,
  CAST(((n_left_keys - n_matched_keys) * 1000000) // n_left_keys AS BIGINT) AS left_orphan_ppm,
  CAST(((n_right_keys - n_matched_keys) * 1000000) // n_right_keys AS BIGINT) AS right_orphan_ppm
FROM c"""

  /** Mirror of [[graft.ops.ProfileOps.tableProfile]]: one SELECT per
    * column UNION ALL'd — same null count, exact distinct, and value/
    * length min-max metric (`isString` columns profile `length(col)`,
    * matching the Spark side's type dispatch). */
  def tableProfile(table: String, cols: Seq[(String, Boolean)]): String =
    cols.map { case (c, isString) =>
      val m = if (isString) s"length($c)" else c
      s"""SELECT '$c' AS col_name,
  CAST(COALESCE(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls,
  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
  CAST(MIN($m) AS BIGINT) AS min_metric,
  CAST(MAX($m) AS BIGINT) AS max_metric
FROM $table"""
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** Mirror of [[graft.ops.RelationalOps.calibratedClip]]: the
    * groupedPercentiles rank CTEs, pivoted to per-group lo/hi cuts, then
    * the one-scan recount with the same truncating ppm. */
  def calibratedClip(
      table: String, groupCol: String, metricCol: String,
      pLo: Int, pHi: Int): String =
    s"""WITH h AS (SELECT $groupCol AS g, CAST($metricCol AS BIGINT) AS v, COUNT(*) AS c
  FROM $table WHERE $metricCol IS NOT NULL GROUP BY 1, 2),
cm AS (SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum FROM h),
t AS (SELECT g, SUM(c) AS n FROM h GROUP BY g),
cuts AS (SELECT x.g, x.pct, MIN(cm.v) AS cut FROM (
    SELECT t.g, pct, (pct * t.n + 99) // 100 AS rk
    FROM t, (SELECT unnest([$pLo, $pHi]) AS pct)) x
  JOIN cm ON cm.g = x.g AND cm.cum >= x.rk GROUP BY x.g, x.pct),
b AS (SELECT g, MAX(CASE WHEN pct = $pLo THEN cut END) AS lo_cut,
    MAX(CASE WHEN pct = $pHi THEN cut END) AS hi_cut FROM cuts GROUP BY g),
d AS (SELECT $groupCol AS g, CAST($metricCol AS BIGINT) AS v FROM $table
  WHERE $metricCol IS NOT NULL)
SELECT d.g AS $groupCol,
  CAST(MIN(b.lo_cut) AS BIGINT) AS lo_cut, CAST(MIN(b.hi_cut) AS BIGINT) AS hi_cut,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN d.v BETWEEN b.lo_cut AND b.hi_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST((SUM(CASE WHEN d.v BETWEEN b.lo_cut AND b.hi_cut THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS kept_ppm
FROM d JOIN b ON d.g = b.g
GROUP BY d.g
ORDER BY $groupCol"""

  /** Mirror of [[graft.ops.RelationalOps.ksPairwise]]: same per-group
    * histogram, same union value axis with zero-filled gaps, same
    * truncating ×10⁶ ECDF ranks, same pairwise max-gap — all integer. */
  def ksPairwise(table: String, groupCol: String, metricCol: String): String =
    s"""WITH h AS (SELECT $groupCol AS g, CAST($metricCol AS BIGINT) AS v, COUNT(*) AS c
  FROM $table WHERE $metricCol IS NOT NULL GROUP BY 1, 2),
vals AS (SELECT DISTINCT v FROM h),
t AS (SELECT g, SUM(c) AS n FROM h GROUP BY g),
filled AS (SELECT t.g, vals.v, t.n, COALESCE(h.c, 0) AS c
  FROM vals CROSS JOIN t LEFT JOIN h ON h.g = t.g AND h.v = vals.v),
e AS (SELECT g, v, n,
  (SUM(c) OVER (PARTITION BY g ORDER BY v) * 1000000) // n AS e_ppm FROM filled)
SELECT a.g AS group_a, b.g AS group_b,
  CAST(MIN(a.n) AS BIGINT) AS n_a, CAST(MIN(b.n) AS BIGINT) AS n_b,
  CAST(MAX(ABS(a.e_ppm - b.e_ppm)) AS BIGINT) AS ks_ppm
FROM e a JOIN e b ON a.v = b.v AND a.g < b.g
GROUP BY a.g, b.g
ORDER BY group_a, group_b"""

  def topSuppliers(k: Int): String =
    s"""WITH rev AS (
  SELECT l_suppkey, CAST(SUM($discE4) AS BIGINT) AS revenue_e4 FROM lineitem GROUP BY l_suppkey)
SELECT s.s_suppkey AS suppkey, s.s_name AS supplier_name, n.n_name AS nation_name,
r.revenue_e4
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
ORDER BY r.revenue_e4 DESC, suppkey ASC LIMIT $k"""
}
