package graft.sql

import graft.ops.SampleOps

/** DuckDB mirrors of [[graft.ops.SampleOps]] — same md5-substring hash,
  * same hex threshold literal, same (hash, key) quota order, so both
  * engines select the identical row set. */
object SampleSql {

  private def h(key: String) = s"substr(md5(CAST($key AS VARCHAR)), 1, 8)"

  /** Mirror of [[graft.ops.SampleOps.weightedMix]] aggregated per group:
    * row count + key checksum (identity-sensitive — a different selected
    * row set with the same cardinality still fails). Groups without a
    * fraction fall out via the ELSE-less CASE (NULL comparison). */
  def weightedMixProfile(
      table: String, groupCol: String, keyCol: String,
      fractions: Map[String, (Long, Long)]): String = {
    val cases = fractions.toSeq.sortBy(_._1).map { case (g, (num, den)) =>
      val t = if (num == den) "g" else SampleOps.hexThreshold(num, den)
      s"WHEN '$g' THEN '$t'"
    }.mkString(" ")
    s"""WITH f AS (SELECT $groupCol, $keyCol FROM $table
  WHERE ${h(keyCol)} < CASE $groupCol $cases END)
SELECT $groupCol, CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(SUM($keyCol) AS BIGINT) AS key_sum
FROM f GROUP BY $groupCol ORDER BY $groupCol"""
  }

  /** Mirror of [[graft.ops.SampleOps.tieredMix]] aggregated per tier:
    * same distinct-value cumulative histogram and integer ceiling-division
    * ranks as [[RelationalSql.percentileClipProfile]], same tier rule
    * (count of bounds strictly below the metric), same md5 threshold
    * literals as [[weightedMixProfile]]; count + metric range + key
    * checksum pin the exact per-tier row set. */
  def tieredMixProfile(
      table: String, metricCol: String, keyCol: String,
      cuts: Seq[Int], fractions: Seq[(Long, Long)]): String = {
    val boundSelects = cuts.zipWithIndex.map { case (p, i) =>
      s"MIN(CASE WHEN cum >= (n * $p + 99) // 100 THEN v END) AS b$i"
    }.mkString(",\n  ")
    val tierExpr = cuts.indices
      .map(i => s"(CASE WHEN d.$metricCol > b.b$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val cases = fractions.zipWithIndex.map { case ((num, den), t) =>
      val thr = if (num == den) "g" else SampleOps.hexThreshold(num, den)
      s"WHEN $t THEN '$thr'"
    }.mkString(" ")
    s"""WITH h AS (SELECT $metricCol AS v, COUNT(*) AS c FROM $table
  WHERE $metricCol IS NOT NULL GROUP BY 1),
cm AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n FROM h),
b AS (SELECT $boundSelects FROM cm),
t AS (SELECT d.$keyCol, d.$metricCol, $tierExpr AS tier
  FROM $table d, b WHERE d.$metricCol IS NOT NULL),
f AS (SELECT * FROM t WHERE ${h(keyCol)} < CASE tier $cases END)
SELECT CAST(tier AS BIGINT) AS tier, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(MIN($metricCol) AS BIGINT) AS min_metric,
  CAST(MAX($metricCol) AS BIGINT) AS max_metric,
  CAST(SUM($keyCol) AS BIGINT) AS key_sum
FROM f GROUP BY tier ORDER BY tier"""
  }

  /** Mirror of [[graft.ops.SampleOps.packSequences]] aggregated per bin:
    * same md5 bucket spread, same (md5, key) concatenation order, same
    * start-offset integer division; n_docs + token total + key checksum
    * pin the exact per-bin membership. `tokenExpr` is the token-count SQL
    * for one row of `table`. */
  def packingProfile(
      table: String, keyCol: String, tokenExpr: String,
      budget: Long, nBuckets: Int): String =
    s"""WITH d AS (SELECT $keyCol, $tokenExpr AS n_tokens,
  ('0x' || substr(md5(CAST($keyCol AS VARCHAR)), 1, 8))::BIGINT AS h32,
  ${h(keyCol)} AS hk
  FROM $table WHERE text IS NOT NULL),
p AS (SELECT $keyCol, n_tokens, h32 % $nBuckets AS bucket,
  SUM(n_tokens) OVER (PARTITION BY h32 % $nBuckets ORDER BY hk, $keyCol
    ROWS UNBOUNDED PRECEDING) AS cum FROM d),
b AS (SELECT bucket, CAST((cum - n_tokens) // $budget AS BIGINT) AS bin, n_tokens, $keyCol FROM p)
SELECT bucket, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS tokens_packed,
  CAST(SUM($keyCol) AS BIGINT) AS key_sum
FROM b GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Mirror of [[graft.ops.SampleOps.budgetSample]]: one global
    * cumulative-sum window over (md5(key), key) order with a take-while
    * budget filter — the naive form the Spark side decomposes into
    * bucket offsets + parallel per-bucket windows. `tokenExpr` is the
    * token-count SQL for one row of `table`. */
  def budgetSample(table: String, keyCol: String, tokenExpr: String, budget: Long): String =
    s"""WITH d AS (SELECT $keyCol, CAST($tokenExpr AS BIGINT) AS n_tokens, ${h(keyCol)} AS hk
  FROM $table WHERE text IS NOT NULL),
c AS (SELECT $keyCol, n_tokens,
  CAST(SUM(n_tokens) OVER (ORDER BY hk ASC, $keyCol ASC ROWS UNBOUNDED PRECEDING) AS BIGINT)
    AS cum_tokens
  FROM d)
SELECT $keyCol, n_tokens, cum_tokens FROM c WHERE cum_tokens <= $budget
ORDER BY cum_tokens ASC, $keyCol ASC"""

  /** Mirror of [[graft.ops.SampleOps.splitAssign]] aggregated per
    * (split, group): same cumulative hex thresholds over the same md5
    * substring, same last-split ELSE branch; count + key checksum pin
    * the exact per-split membership. */
  def splitAssignProfile(
      table: String, keyCol: String, groupCol: String,
      splits: Seq[(String, Long)], den: Long): String = {
    val cum = splits.init.scanLeft(0L) { case (acc, (_, n)) => acc + n }.tail
    val whens = splits.init.zip(cum).map { case ((name, _), c) =>
      s"WHEN ${h(keyCol)} < '${SampleOps.hexThreshold(c, den)}' THEN '$name'"
    }.mkString(" ")
    s"""WITH a AS (SELECT CASE $whens ELSE '${splits.last._1}' END AS split,
  $groupCol, $keyCol FROM $table)
SELECT split, $groupCol, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM($keyCol) AS BIGINT) AS key_sum
FROM a GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  /** [[graft.ops.SampleOps.hashSample]] (num/den of `table` by `keyCol`)
    * then [[graft.ops.SampleOps.stratifiedQuota]] (`n` per `groupCol`). */
  def stratifiedSample(
      table: String, groupCol: String, keyCol: String,
      num: Long, den: Long, n: Int): String = {
    val t = SampleOps.hexThreshold(num, den)
    s"""WITH s AS (SELECT $groupCol, $keyCol, ${h(keyCol)} AS hk FROM $table
  WHERE ${h(keyCol)} < '$t'),
q AS (SELECT $groupCol, $keyCol,
  ROW_NUMBER() OVER (PARTITION BY $groupCol ORDER BY hk ASC, $keyCol ASC) AS rk FROM s)
SELECT $groupCol, $keyCol, CAST(rk AS BIGINT) AS rk FROM q
WHERE rk <= $n ORDER BY $groupCol, rk"""
  }

  /** Mirror of [[graft.ops.SampleOps.temperatureMixProfile]]: same
    * data-derived w_num = floor(sqrt(n_min·n_s)) integer weights (IEEE
    * sqrt is correctly rounded in both engines and n_min·n_s < 2^52, so
    * the floor is bit-equal), same exact h·n < w_num·2^32 keep test. */
  def temperatureMixProfile(table: String, groupCol: String, keyCol: String): String =
    s"""WITH c AS (SELECT $groupCol AS g, CAST(COUNT(*) AS BIGINT) AS n FROM $table
  WHERE $groupCol IS NOT NULL GROUP BY 1),
m AS (SELECT MIN(n) AS nmin FROM c),
wt AS (SELECT g, n, CAST(floor(sqrt(CAST(n * m.nmin AS DOUBLE))) AS BIGINT) AS w_num FROM c, m),
k AS (SELECT t.$groupCol AS g, t.$keyCol, wt.n, wt.w_num FROM $table t
  JOIN wt ON t.$groupCol = wt.g
  WHERE ('0x' || substr(md5(CAST(t.$keyCol AS VARCHAR)), 1, 8))::BIGINT * wt.n
        < wt.w_num * 4294967296)
SELECT g AS source, MAX(n) AS n_docs, MAX(w_num) AS w_num,
  CAST(COUNT(*) AS BIGINT) AS n_kept, CAST(SUM($keyCol) AS BIGINT) AS key_sum
FROM k GROUP BY 1 ORDER BY 1"""

  /** Mirror of [[graft.ops.SampleOps.mixPlan]]: same literal weight
    * relation, same exact availability counts, same truncating quota and
    * keep-rate arithmetic — the ×10⁶ product in HUGEINT where the
    * engine uses DECIMAL(38,0). */
  def mixPlan(
      table: String, groupCol: String,
      weights: Seq[(String, Long)], budgetTokens: Long): String = {
    val wSum = weights.map(_._2).sum
    val wVals = weights.map { case (g, w) => s"(${sq(g)}, $w)" }
      .mkString(", ")
    s"""WITH w(g, w) AS (VALUES $wVals),
a AS (SELECT $groupCol AS g,
  SUM(len($toks)) AS avail
  FROM $table WHERE text IS NOT NULL GROUP BY 1),
p AS (SELECT w.g, w.w, COALESCE(a.avail, 0) AS avail,
  ($budgetTokens * w.w) // $wSum AS target
  FROM w LEFT JOIN a USING (g))
SELECT g AS $groupCol, CAST(w AS BIGINT) AS weight,
  CAST(avail AS BIGINT) AS n_tokens_available,
  CAST(target AS BIGINT) AS target_tokens,
  CAST(CASE WHEN avail = 0 THEN 0
    WHEN target >= avail THEN 1000000
    ELSE (CAST(target AS HUGEINT) * 1000000) // avail END AS BIGINT) AS keep_ppm,
  CAST(LEAST(avail, target) AS BIGINT) AS expected_tokens,
  CAST(GREATEST(0, target - avail) AS BIGINT) AS deficit_tokens
FROM p ORDER BY $groupCol"""
  }

  /** Mirror of [[graft.ops.SampleOps.truncationWaste]]: same token
    * counts, same per-(window, group) integer sums, same HUGEINT
    * utilization product where the engine uses DECIMAL(38,0). */
  def truncationWaste(
      table: String, groupCol: String, windows: Seq[Int]): String =
    s"""WITH t AS (SELECT $groupCol,
    CAST(len($toks) AS BIGINT) AS tok
  FROM $table WHERE text IS NOT NULL),
e AS (SELECT $groupCol, tok, unnest([${windows.map(w => s"${w}::BIGINT").mkString(", ")}]) AS ctx_window FROM t),
g AS (SELECT ctx_window, $groupCol, COUNT(*) AS n_docs, SUM(tok) AS n_tokens,
    SUM(LEAST(tok, ctx_window)) AS kept_tokens,
    SUM(GREATEST(0, tok - ctx_window)) AS truncated_tokens
  FROM e GROUP BY 1, 2)
SELECT CAST(ctx_window AS BIGINT) AS ctx_window, $groupCol,
  CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(kept_tokens AS BIGINT) AS kept_tokens,
  CAST(truncated_tokens AS BIGINT) AS truncated_tokens,
  CAST(n_docs * ctx_window - kept_tokens AS BIGINT) AS pad_tokens,
  CAST((CAST(kept_tokens AS HUGEINT) * 1000000) // (n_docs * ctx_window) AS BIGINT) AS utilization_ppm
FROM g ORDER BY ctx_window, $groupCol"""

  /** Mirror of [[graft.ops.SampleOps.weightedPrioritySample]]: same
    * md5-uniform, same pinned `ln(u)/w × 10⁶` expression rounded once to
    * micro-int, same (priority desc, key asc) top cut. */
  def weightedPrioritySample(
      table: String, keyCol: String, weightCol: String, n: Int): String =
    s"""WITH d AS (SELECT $keyCol, CAST($weightCol AS BIGINT) AS weight,
  ('0x' || substr(md5(CAST($keyCol AS VARCHAR)), 1, 8))::BIGINT AS u
  FROM $table WHERE $weightCol IS NOT NULL AND $weightCol > 0)
SELECT $keyCol, weight,
  CAST(round(ln((u + 0.5) / 4294967296.0) / weight * 1000000) AS BIGINT) AS priority_micro
FROM d ORDER BY priority_micro DESC, $keyCol ASC LIMIT $n"""
}
