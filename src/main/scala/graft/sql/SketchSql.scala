package graft.sql

/** DuckDB oracle SQL mirroring [[graft.ops.SketchOps]]. Same md5-hex
  * bucket definition, same integer cell sums — the sketch is exactly
  * reproducible cross-engine (see the op's scaladoc). */
object SketchSql {

  /** Mirror of [[graft.ops.SketchOps.cmsHeavyHitters]]: build the
    * depth × 16^hexChars sketch, probe it per distinct term, keep
    * est >= minEst. */
  def cmsHeavyHitters(table: String, depth: Int, hexChars: Int, minEst: Long): String =
    s"""WITH t AS (SELECT unnest($toks) AS term FROM $table WHERE text IS NOT NULL),
cells AS (SELECT r.r AS row, substr(md5(r.r::VARCHAR || ':' || t.term), 1, $hexChars) AS bucket,
    COUNT(*) AS cnt
  FROM t, range($depth) AS r(r) GROUP BY 1, 2),
truth AS (SELECT term, COUNT(*) AS true_cnt FROM t GROUP BY term),
probes AS (SELECT term, true_cnt, r.r AS row,
    substr(md5(r.r::VARCHAR || ':' || term), 1, $hexChars) AS bucket
  FROM truth, range($depth) AS r(r)),
est AS (SELECT term, true_cnt, MIN(cnt) AS est
  FROM probes JOIN cells USING (row, bucket) GROUP BY term, true_cnt)
SELECT term, CAST(est AS BIGINT) AS est, CAST(true_cnt AS BIGINT) AS true_cnt
FROM est WHERE est >= $minEst ORDER BY est DESC, term ASC"""

  /** Mirror of [[graft.ops.SketchOps.frequentNgrams]]: the Misra-Gries
    * candidate guarantee makes the engine's sketch-routed output equal
    * the PLAIN exact computation — terms whose count clears n/(k+1) —
    * so the oracle is direct SQL with no sketch simulation at all. */
  def frequentNgrams(table: String, w: Int, k: Int): String = {
    val gram = (0 until w).map(j => s"tk[i + $j]").mkString(" || ' ' || ")
    s"""WITH t AS (SELECT $toks AS tk FROM $table WHERE text IS NOT NULL),
g AS (SELECT unnest(list_transform(range(1, len(tk) - ${w - 2}), i -> $gram)) AS term FROM t),
c AS (SELECT term, COUNT(*) AS cnt FROM g GROUP BY term),
tot AS (SELECT SUM(cnt) AS n FROM c)
SELECT term, CAST(cnt AS BIGINT) AS cnt,
  CAST((cnt * 1000000) // n AS BIGINT) AS share_ppm
FROM c, tot WHERE cnt * ${k + 1} > n
ORDER BY cnt DESC, term ASC"""
  }

  /** Mirror of [[graft.ops.SketchOps.frequentNgramsByGroup]]: the oracle
    * is EXACT per-group counts filtered at the same `cnt·(k+1) > n_g`
    * threshold — legal because the engine's Misra-Gries candidates are a
    * per-group superset of the answer at any partitioning. */
  def frequentNgramsByGroup(table: String, groupCol: String, w: Int, k: Int): String = {
    val gram = (0 until w).map(j => s"tk[i + $j]").mkString(" || ' ' || ")
    s"""WITH t AS (SELECT CAST($groupCol AS VARCHAR) AS g, $toks AS tk
  FROM $table WHERE text IS NOT NULL AND $groupCol IS NOT NULL),
gg AS (SELECT g, unnest(list_transform(range(1, len(tk) - ${w - 2}), i -> $gram)) AS term FROM t),
c AS (SELECT g, term, COUNT(*) AS cnt FROM gg GROUP BY g, term),
tot AS (SELECT g, SUM(cnt) AS n FROM c GROUP BY g)
SELECT c.g AS $groupCol, term, CAST(cnt AS BIGINT) AS cnt,
  CAST((cnt * 1000000) // n AS BIGINT) AS share_ppm
FROM c JOIN tot ON c.g = tot.g WHERE cnt * ${k + 1} > n
ORDER BY $groupCol, cnt DESC, term ASC"""
  }

  /** Mirror of [[graft.ops.SketchOps.hllRegisters]]: same md5 bucket/value
    * split, same binary-string-length rank — DuckDB's bin() is unpadded
    * exactly like Spark's, so `61 - length(bin(v))` is the identical
    * integer on both engines. */
  def hllRegisters(table: String, bucketHex: Int): String =
    s"""WITH t AS (SELECT unnest($toks) AS term FROM $table WHERE text IS NOT NULL),
h AS (SELECT substr(md5(term), 1, $bucketHex) AS bucket,
    ('0x' || substr(md5(term), ${bucketHex + 1}, 15))::BIGINT AS v FROM t),
r AS (SELECT bucket, CASE WHEN v = 0 THEN 61 ELSE 61 - length(bin(v)) END AS rho FROM h)
SELECT bucket, CAST(MAX(rho) AS BIGINT) AS register FROM r GROUP BY bucket ORDER BY bucket"""

  /** Mirror of [[graft.ops.SketchOps.hllRegistersBy]]. */
  def hllRegistersBy(table: String, groupCol: String, bucketHex: Int): String =
    s"""WITH t AS (SELECT $groupCol, unnest($toks) AS term FROM $table
  WHERE text IS NOT NULL AND $groupCol IS NOT NULL),
h AS (SELECT $groupCol, substr(md5(term), 1, $bucketHex) AS bucket,
    ('0x' || substr(md5(term), ${bucketHex + 1}, 15))::BIGINT AS v FROM t),
r AS (SELECT $groupCol, bucket, CASE WHEN v = 0 THEN 61 ELSE 61 - length(bin(v)) END AS rho FROM h)
SELECT $groupCol, bucket, CAST(MAX(rho) AS BIGINT) AS register
FROM r GROUP BY $groupCol, bucket ORDER BY $groupCol, bucket"""

  /** Mirror of [[graft.ops.SketchOps.hllOverlap]]: same per-group
    * register files, same cell-wise-max pair union, same exact
    * DECIMAL Σ 2^(61−register) harmonic sums (the q118 operation
    * order), intersection/Jaccard from the ROUNDED estimates in the
    * identical pinned order. */
  def hllOverlap(table: String, groupCol: String, bucketHex: Int): String = {
    val m = math.pow(16, bucketHex)
    val alpha = 0.7213 / (1 + 1.079 / m)
    val num = alpha * m * m * math.pow(2, 61)
    val est = (nz: String, sp: String) =>
      s"""round(CASE WHEN CAST($num AS DOUBLE) / CAST($sp + CAST(${m.toLong} - $nz AS DECIMAL(38,0))
      * CAST(2305843009213693952 AS DECIMAL(38,0)) AS DOUBLE) <= ${2.5 * m} AND $nz < ${m.toLong}
    THEN CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE) / CAST(${m.toLong} - $nz AS DOUBLE))
    ELSE CAST($num AS DOUBLE) / CAST($sp + CAST(${m.toLong} - $nz AS DECIMAL(38,0))
      * CAST(2305843009213693952 AS DECIMAL(38,0)) AS DOUBLE) END, 6)"""
    s"""WITH t AS (SELECT $groupCol AS g, unnest($toks) AS term FROM $table
  WHERE text IS NOT NULL AND $groupCol IS NOT NULL),
h AS (SELECT g, substr(md5(term), 1, $bucketHex) AS bucket,
    ('0x' || substr(md5(term), ${bucketHex + 1}, 15))::BIGINT AS v FROM t),
regs AS (SELECT g, bucket,
    CAST(MAX(CASE WHEN v = 0 THEN 61 ELSE 61 - length(bin(v)) END) AS BIGINT) AS register
  FROM h GROUP BY g, bucket),
gs AS (SELECT g, COUNT(*) AS nz,
    SUM(CAST(1::BIGINT << CAST(61 - register AS INT) AS DECIMAL(38,0))) AS sp
  FROM regs GROUP BY g),
pairs AS (SELECT a.g AS source_a, b.g AS source_b,
    a.nz AS nza, a.sp AS spa, b.nz AS nzb, b.sp AS spb
  FROM gs a JOIN gs b ON a.g < b.g),
uregs AS (SELECT p.source_a, p.source_b, r.bucket, MAX(r.register) AS register
  FROM pairs p JOIN regs r ON r.g = p.source_a OR r.g = p.source_b
  GROUP BY 1, 2, 3),
us AS (SELECT source_a, source_b, COUNT(*) AS nzu,
    SUM(CAST(1::BIGINT << CAST(61 - register AS INT) AS DECIMAL(38,0))) AS spu
  FROM uregs GROUP BY 1, 2),
e AS (SELECT source_a, source_b,
    ${est("nza", "spa")} AS est_a,
    ${est("nzb", "spb")} AS est_b,
    ${est("nzu", "spu")} AS est_union
  FROM pairs JOIN us USING (source_a, source_b)),
i AS (SELECT source_a, source_b, est_a, est_b, est_union,
    round(GREATEST(0.0, est_a + est_b - est_union), 6) AS est_intersection
  FROM e)
SELECT source_a, source_b, est_a, est_b, est_union, est_intersection,
  round(est_intersection / est_union, 6) AS jaccard_est
FROM i ORDER BY source_a, source_b"""
  }

  /** Mirror of [[graft.ops.SketchOps.log2QuantileProbe]]: same integer
    * bit-length buckets (DuckDB's bin() is unpadded like Spark's), same
    * cross-multiplied rank test, same shift-derived bucket range. */
  def log2QuantileProbe(table: String, metricCol: String, percents: Seq[Int]): String =
    s"""WITH v AS (SELECT CASE WHEN $metricCol = 0 THEN 0
    ELSE length(bin($metricCol)) END AS bucket
  FROM $table WHERE $metricCol IS NOT NULL AND $metricCol >= 0),
h AS (SELECT bucket, COUNT(*) AS cnt FROM v GROUP BY bucket),
cm AS (SELECT bucket, SUM(cnt) OVER (ORDER BY bucket) AS cum, SUM(cnt) OVER () AS n FROM h),
p AS (SELECT unnest([${percents.mkString(", ")}]) AS percent),
q AS (SELECT p.percent, MIN(cm.bucket) AS bucket
  FROM p JOIN cm ON cm.cum * 100 >= cm.n * p.percent GROUP BY p.percent)
SELECT CAST(percent AS BIGINT) AS percent, CAST(bucket AS BIGINT) AS bucket,
  CAST(CASE WHEN bucket = 0 THEN 0 ELSE 1::BIGINT << (bucket - 1) END AS BIGINT) AS bucket_lo,
  CAST(CASE WHEN bucket = 0 THEN 0
            WHEN bucket = 63 THEN 9223372036854775807
            ELSE (1::BIGINT << bucket) - 1 END AS BIGINT) AS bucket_hi
FROM q ORDER BY percent"""
}
