package graft.sql

/** DuckDB oracle SQL mirroring [[graft.ops.CurationOps.curationFunnel]] —
  * the same five stages composed from the same per-stage expressions the
  * stage operators' own mirrors use (Gopher mask CTEs from
  * [[TextAnalysisSql]], shingle CTEs from [[DedupSql]], md5-order budget
  * window from [[SampleSql]]), so funnel agreement is transitively the
  * agreement of every stage. */
object CurationSql {

  def curationFunnel(
      table: String, stopwords: Seq[String],
      minTokens: Long, maxTokens: Long, minStops: Long,
      prefixLen: Int, w: Int, benchMod: Int,
      maxOverlapNum: Long, maxOverlapDen: Long,
      budget: Long,
      ndMinJaccard: Double = 0.0, ndBands: Int = 0, ndR: Int = 2): String = {
    val stops = s"[${stopwords.map(sq).mkString(", ")}]"
    val bigram = (0 until 2).map(o => s"tk[i+$o]").mkString(" || ' ' || ")
    val shingle = (0 until w).map(o => s"tk[i+$o]").mkString(" || ' ' || ")
    val nd = ndBands > 0
    // optional near-dup stage: the engine's complete verified pair set
    // (DedupSql.minhashPairCtes — same CTE chain q21/q39 hash-check)
    // over the s2 survivors, recursive min-label reachability, keeper =
    // lowest id per cluster. `WITH` must be RECURSIVE for `reach`.
    val ndCtes = if (!nd) "" else s"""
mt AS (SELECT t.doc_id AS id, t.tk FROM t JOIN s2 ON t.doc_id = s2.doc_id),
${graft.sql.DedupSql.minhashPairCtes("mt", w, ndBands, ndR)},
ndp AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= $ndMinJaccard),
sym AS (SELECT doc_a AS src, doc_b AS dst FROM ndp UNION SELECT doc_b, doc_a FROM ndp),
reach(node, lab) AS (SELECT src, src FROM sym
  UNION SELECT sy.src, r2.lab FROM sym sy JOIN reach r2 ON sy.dst = r2.node),
cl AS (SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node),
s2b AS (SELECT doc_id, n_tokens FROM s2
  WHERE doc_id NOT IN (SELECT node FROM cl WHERE node <> cluster_id)),"""
    val surv = if (nd) "s2b" else "s2" // decontamination input
    val ndStageRow = if (!nd) "" else
      "\nUNION ALL SELECT 3, 'neardup', CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM s2b"
    val (decoN, budgetN) = if (nd) (4, 5) else (3, 4)
    s"""WITH${if (nd) " RECURSIVE" else ""} t AS (SELECT doc_id, $toks AS tk FROM $table
  WHERE text IS NOT NULL AND doc_id % $benchMod <> 0),
tok AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
  CAST(COALESCE(list_sum(list_transform(tk, x -> length(x))), 0) AS BIGINT) AS tok_chars,
  CAST(len(list_filter(tk, x -> list_contains($stops, x))) AS BIGINT) AS n_stop,
  CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
  CAST(len(list_filter(tk, x -> regexp_matches(x, '[#…]'))) AS BIGINT) AS n_sym FROM t),
b AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> $bigram)) AS bg
  FROM t WHERE len(tk) >= 2),
g AS (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY doc_id, bg),
a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bg, CAST(MAX(c) AS BIGINT) AS top_bg,
  CAST(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS dup_bg FROM g GROUP BY doc_id),
j AS (SELECT tok.doc_id, tok.n_tokens, tok.tok_chars, tok.n_stop, tok.n_alpha, tok.n_sym,
  COALESCE(a.n_bg, 0) AS n_bg, COALESCE(a.top_bg, 0) AS top_bg, COALESCE(a.dup_bg, 0) AS dup_bg
  FROM tok LEFT JOIN a USING (doc_id)),
m AS (SELECT doc_id, n_tokens,
  CASE WHEN n_tokens < $minTokens OR n_tokens > $maxTokens THEN 1 ELSE 0 END
  + CASE WHEN tok_chars < n_tokens * 3 OR tok_chars > n_tokens * 10 THEN 2 ELSE 0 END
  + CASE WHEN n_stop < $minStops THEN 4 ELSE 0 END
  + CASE WHEN top_bg * 5 > n_bg THEN 8 ELSE 0 END
  + CASE WHEN dup_bg * 5 > n_bg * 2 THEN 16 ELSE 0 END
  + CASE WHEN n_alpha * 5 < n_tokens * 4 THEN 32 ELSE 0 END
  + CASE WHEN n_sym * 10 > n_tokens THEN 64 ELSE 0 END AS rule_mask FROM j),
s1 AS (SELECT doc_id, n_tokens FROM m WHERE rule_mask = 0),
keyed AS (SELECT t.doc_id, s1.n_tokens, array_to_string(t.tk[1:$prefixLen], ' ') AS k
  FROM t JOIN s1 USING (doc_id)),
s2 AS (SELECT doc_id, n_tokens FROM (
  SELECT doc_id, n_tokens, ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id ASC) AS rn
  FROM keyed) WHERE rn = 1),$ndCtes
bt AS (SELECT doc_id AS id, $toks AS tk FROM $table
  WHERE text IS NOT NULL AND doc_id % $benchMod = 0),
bsh AS (SELECT id, list_distinct(list_transform(range(1, len(tk)-${w - 2}), i -> $shingle)) AS s
  FROM bt WHERE len(tk) >= $w),
bs AS (SELECT DISTINCT unnest(s) AS s FROM bsh),
csh AS (SELECT t.doc_id AS id,
    list_distinct(list_transform(range(1, len(t.tk)-${w - 2}), i -> ${shingle.replace("tk[", "t.tk[")})) AS s
  FROM t JOIN $surv ON t.doc_id = $surv.doc_id WHERE len(t.tk) >= $w),
dsh AS (SELECT id, unnest(s) AS s FROM csh),
ov AS (SELECT dsh.id, COUNT(*) AS n_sh, COUNT(bs.s) AS n_ov
  FROM dsh LEFT JOIN bs ON dsh.s = bs.s GROUP BY dsh.id),
bad AS (SELECT id FROM ov WHERE n_ov * $maxOverlapDen >= n_sh * $maxOverlapNum),
s3 AS (SELECT doc_id, n_tokens FROM $surv WHERE doc_id NOT IN (SELECT id FROM bad)),
c AS (SELECT doc_id, n_tokens,
  CAST(SUM(n_tokens) OVER (ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) ASC, doc_id ASC
    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM s3),
s4 AS (SELECT doc_id, n_tokens FROM c WHERE cum_tokens <= $budget)
SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS n_tokens FROM m
UNION ALL SELECT 1, 'quality', CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM s1
UNION ALL SELECT 2, 'dedup', CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM s2$ndStageRow
UNION ALL SELECT $decoN, 'decontaminated', CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM s3
UNION ALL SELECT $budgetN, 'budget', CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM s4
ORDER BY stage"""
  }

  /** Mirror of [[graft.ops.CurationOps.splitLeakage]]: the shared LSH
    * pair CTEs (complete verified set at the threshold), the q86 split
    * CASE over the same md5 hash/thresholds, unordered split-pair
    * normalization, exact counts. */
  def splitLeakage(
      table: String, splits: Seq[(String, Long)], den: Long,
      w: Int, nBands: Int, r: Int, minJaccard: Double,
      maxBucket: Int = 1000): String = {
    val cum = splits.init.scanLeft(0L) { case (acc, (_, n)) => acc + n }.tail
    val h = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
    val whens = splits.init.zip(cum).map { case ((name, _), c) =>
      s"WHEN $h < '${graft.ops.SampleOps.hexThreshold(c, den)}' THEN '$name'"
    }.mkString(" ")
    s"""WITH toks AS (SELECT doc_id AS id, $toks AS tk FROM $table WHERE text IS NOT NULL),
${DedupSql.minhashPairCtes("toks", w, nBands, r, maxBucket)},
asg AS (SELECT doc_id, CASE $whens ELSE '${splits.last._1}' END AS split FROM $table),
pr AS (SELECT least(sa.split, sb.split) AS split_a, greatest(sa.split, sb.split) AS split_b
  FROM v JOIN asg sa ON sa.doc_id = v.doc_a JOIN asg sb ON sb.doc_id = v.doc_b
  WHERE v.jaccard >= $minJaccard)
SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pr GROUP BY 1, 2 ORDER BY 1, 2"""
  }
}
