package graft.sql

/** DuckDB oracle SQL for the dedup family — mirrors [[graft.ops.DedupOps]]
  * and [[graft.functions.TextHash]] exactly: the shared 60-bit hash is
  * md5-derived (identical bytes in both engines), tokenization is
  * trim+split-on-spaces, shingles come from the RAW token order, and every
  * similarity is integer-set arithmetic divided in double then rounded —
  * bit-identical across engines.
  */
object DedupSql {

  /** hash60: first 15 hex chars of md5 as a 60-bit BIGINT. */
  private def h(e: String): String = s"('0x' || substr(md5($e),1,15))::BIGINT"

  private def shingleCte(
      w: Int, src: String = "toks", name: String = "sh", extra: String = ""): String = {
    val parts = (0 until w).map(o => s"tk[i+$o]").mkString(" || ' ' || ")
    // range() is stop-EXCLUSIVE: 1..len-(w-1) inclusive needs stop len-(w-2)
    s"$name AS (SELECT id$extra, list_distinct(list_transform(range(1, len(tk)-${w - 2}), i -> $parts)) AS s FROM $src WHERE len(tk) >= $w)"
  }

  def dedupStats(table: String, prefixLen: Int): String =
    s"""WITH t AS (SELECT doc_id, text, $toks AS tk FROM $table WHERE text IS NOT NULL)
SELECT COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_distinct_text,
COUNT(DISTINCT array_to_string(tk[1:$prefixLen], ' ')) AS n_distinct_prefix FROM t"""

  def exactDedupReport(table: String, prefixLen: Int): String =
    s"""WITH t AS (SELECT doc_id AS id, array_to_string(($toks)[1:$prefixLen], ' ') AS k
  FROM $table WHERE text IS NOT NULL)
SELECT MIN(id) AS keeper_id, COUNT(*) AS n_copies FROM t GROUP BY k
HAVING COUNT(*) >= 2 ORDER BY keeper_id"""

  /** Mirror of [[graft.ops.DedupOps.jaccardJoinExact]]: same rarest-first
    * (freq, hash) order via the packed f·2²⁸+h key sort, same prefix
    * length n − ⌈t·n⌉ + 1 in integer arithmetic, same capped buckets,
    * same PPJoin positional filter over the same capped meeting set
    * (per-pair MIN prefix positions, overlap bound
    * 1 + min(na−1−ia, nb−1−ib) cross-multiplied against
    * ⌈tNum·(na+nb)/(tNum+tDen)⌉), same PPJoin+ depth-1 SUFFIX filter
    * (per-row suffix-median keys, arg_min at the min meeting, the
    * [[graft.ops.DedupOps.suffixHammingBound]] spec text spliced here
    * verbatim while the engine evaluates the same math through its
    * spec-pinned long kernel), same integer cross-multiplied final
    * threshold —
    * the algorithm itself is mirrored (not brute force), and the
    * completeness theorem makes both equal the exact answer modulo the
    * shared cap. Mirroring the filters (rather than relying on their
    * safety theorems) keeps equality by construction even in the capped
    * corner where a pair's first meeting sat in a dropped bucket. */
  def jaccardJoinExact(
      table: String, w: Int, tNum: Long, tDen: Long, maxBucket: Int): String = {
    val gram = (0 until w).map(o => s"tk[i+$o]").mkString(" || ' ' || ")
    val h1 = graft.ops.DedupOps.suffixHammingBound(
      v = "mb", m = "ma", ll = "lal", l = "la", a = "lbl", c = "la - lb + lbl")
    val h2 = graft.ops.DedupOps.suffixHammingBound(
      v = "ma", m = "mb", ll = "lbl", l = "lb", a = "lal", c = "lb - la + lal")
    s"""WITH t0 AS (SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk)-${w - 2}), i -> $gram))) AS s
  FROM t0 WHERE len(tk) >= $w),
occ AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(s),1,7))::BIGINT AS h FROM sh),
freq AS (SELECT h, COUNT(*) AS f FROM occ GROUP BY h),
ky AS (SELECT doc_id, f * 268435456 + h AS k FROM occ JOIN freq USING (h)),
srt AS (SELECT doc_id, array_agg(k ORDER BY k) AS hs, COUNT(*) AS n
  FROM ky GROUP BY doc_id),
pr AS (SELECT doc_id, n, u['h'] AS h, u['p'] AS p, u['m'] AS m FROM (
  SELECT doc_id, n, unnest(list_transform(range(0, n - (($tNum * n + $tDen - 1) // $tDen) + 1),
    i -> {'h': hs[CAST(i + 1 AS INT)], 'p': i,
      'm': CASE WHEN n - 1 - i >= 1 THEN hs[CAST(i + 2 + (n - 2 - i) // 2 AS INT)] END})) AS u FROM srt)),
grp AS (SELECT h FROM pr GROUP BY h HAVING COUNT(*) >= 2 AND COUNT(*) <= $maxBucket),
cand0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
    MIN(a.p) AS ia, MIN(b.p) AS ib,
    arg_min(a.m, a.p) AS ma, arg_min(b.m, b.p) AS mb
  FROM pr a JOIN pr b USING (h) JOIN grp USING (h) WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n, b.n
  HAVING (1 + LEAST(a.n - 1 - MIN(a.p), b.n - 1 - MIN(b.p))) * ${tNum + tDen}
    >= $tNum * (a.n + b.n)),
sfx AS (SELECT doc_a, doc_b, na, nb, ma, mb,
    na - 1 - ia AS la, nb - 1 - ib AS lb,
    (na - 1 - ia - 1) // 2 AS lal, (nb - 1 - ib - 1) // 2 AS lbl FROM cand0),
cand AS (SELECT doc_a, doc_b FROM sfx
  WHERE la < 1 OR lb < 1 OR
    (1 + (la + lb - GREATEST($h1, $h2)) // 2) * ${tNum + tDen} >= $tNum * (na + nb)),
v AS (SELECT doc_a, doc_b,
    len(list_intersect(sa.hs, sb.hs)) AS n_common, sa.n + sb.n AS nsum
  FROM cand JOIN srt sa ON sa.doc_id = cand.doc_a JOIN srt sb ON sb.doc_id = cand.doc_b)
SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
  CAST(nsum - n_common AS BIGINT) AS n_union,
  CAST((n_common * 1000000) // (nsum - n_common) AS BIGINT) AS jaccard_ppm
FROM v WHERE n_common * $tDen >= (nsum - n_common) * $tNum
ORDER BY jaccard_ppm DESC, doc_a ASC, doc_b ASC"""
  }

  /** The minhash pair CTE chain over a caller-provided toks CTE `(id, tk)`
    * named `src`, ending in CTE `v(doc_a, doc_b, jaccard)` — already
    * verified against the distinct-hash sets but NOT yet
    * threshold-filtered, ordered, or limited, so both the top-K query
    * ([[minhashPairs]]) and complete-set consumers (the curation funnel's
    * near-dup stage) compose the identical pipeline. Mirrors
    * [[graft.ops.DedupOps.minhashVerifiedPairs]]. */
  private[sql] def minhashPairCtes(
      src: String, w: Int, nBands: Int, r: Int, maxBucket: Int = 1000): String =
    s"""${shingleCte(w, src = src)},
hs AS (SELECT id, s, list_transform(s, x -> ('0x' || substr(md5(x),1,7))::BIGINT) AS hl FROM sh),
sig AS (SELECT id, s, list_transform(range(0,${nBands * r}), j -> list_min(list_transform(hl, h -> (((506952114*(j+1)) % 2147483647) * h + ((40503*j + 1013904223) % 2147483647)) % 2147483647))) AS m FROM hs),
bands AS (SELECT id, b, ${h((0 until r).map(o => s"m[$r*b+${o + 1}]::VARCHAR").mkString(" || ',' || "))} AS bh
  FROM sig, (SELECT unnest(range(0,$nBands)) AS b)),
ok_buckets AS (SELECT b, bh FROM bands GROUP BY b, bh
  HAVING COUNT(*) >= 2 AND COUNT(*) <= $maxBucket),
cand AS (SELECT DISTINCT x.id AS doc_a, y.id AS doc_b
  FROM bands x JOIN bands y ON x.b = y.b AND x.bh = y.bh AND x.id < y.id
  JOIN ok_buckets o ON x.b = o.b AND x.bh = o.bh),
dh AS (SELECT id, list_distinct(hl) AS dh FROM hs),
v AS (SELECT c.doc_a, c.doc_b,
  round(len(list_intersect(a.dh, b.dh))::DOUBLE / len(list_distinct(list_concat(a.dh, b.dh))), 6) AS jaccard,
  round(len(list_intersect(a.dh, b.dh))::DOUBLE / least(len(a.dh), len(b.dh)), 6) AS containment
  FROM cand c JOIN dh a ON c.doc_a = a.id JOIN dh b ON c.doc_b = b.id)"""

  def minhashPairs(table: String, w: Int, nBands: Int, r: Int, minJaccard: Double, limit: Int,
      maxBucket: Int = 1000): String =
    s"""WITH toks AS (SELECT doc_id AS id, $toks AS tk FROM $table WHERE text IS NOT NULL),
${minhashPairCtes("toks", w, nBands, r, maxBucket)}
SELECT doc_a, doc_b, jaccard FROM v WHERE jaccard >= $minJaccard
ORDER BY jaccard DESC, doc_a ASC, doc_b ASC LIMIT $limit"""

  /** Mirror of [[graft.ops.DedupOps.containmentPairs]]: same shared LSH
    * candidate pipeline, same exact hash-set verify, score =
    * |A∩B| / min(|A|,|B|) (Broder containment) with the pair's Jaccard
    * alongside. */
  def containmentPairs(
      table: String, w: Int, nBands: Int, r: Int,
      minContainment: Double, limit: Int, maxBucket: Int = 1000): String =
    s"""WITH toks AS (SELECT doc_id AS id, $toks AS tk FROM $table WHERE text IS NOT NULL),
${minhashPairCtes("toks", w, nBands, r, maxBucket)}
SELECT doc_a, doc_b, containment, jaccard FROM v WHERE containment >= $minContainment
ORDER BY containment DESC, doc_a ASC, doc_b ASC LIMIT $limit"""

  /** Mirror of [[graft.ops.DedupOps.minhashCalibration]]: the shared LSH
    * pipeline's `sig` CTE provides the k-member signatures; component
    * agreement counts against the exact verify, integer ppm, worst
    * calibrated pairs first. */
  def minhashCalibration(
      table: String, w: Int, nBands: Int, r: Int,
      minJaccard: Double, limit: Int, maxBucket: Int = 1000): String = {
    val k = nBands * r
    s"""WITH toks AS (SELECT doc_id AS id, $toks AS tk FROM $table WHERE text IS NOT NULL),
${minhashPairCtes("toks", w, nBands, r, maxBucket)},
pr AS (SELECT doc_a, doc_b, jaccard FROM v WHERE jaccard >= $minJaccard),
cal AS (SELECT p.doc_a, p.doc_b,
  CAST(round(p.jaccard * 1e6) AS BIGINT) AS exact_ppm,
  CAST(len(list_filter(range(1, ${k + 1}), i -> a.m[i] = b.m[i])) AS BIGINT) AS est_matches
  FROM pr p JOIN sig a ON a.id = p.doc_a JOIN sig b ON b.id = p.doc_b)
SELECT doc_a, doc_b, exact_ppm, est_matches,
  CAST((est_matches * 1000000) // $k AS BIGINT) AS est_ppm,
  CAST(abs((est_matches * 1000000) // $k - exact_ppm) AS BIGINT) AS abs_err_ppm
FROM cal
ORDER BY abs_err_ppm DESC, doc_a ASC, doc_b ASC LIMIT $limit"""
  }

  /** Mirror of [[graft.ops.DedupOps.pairTokenF1]]: the shared LSH
    * candidate pipeline + exact hash-set verify select the pairs, then
    * the distinct-token overlap join computes ROUGE-1-F in integer ppm
    * (2·|Ta∩Tb|·10⁶ div (|Ta|+|Tb|)). */
  def pairTokenF1(
      table: String, w: Int, nBands: Int, r: Int,
      minJaccard: Double, limit: Int, maxBucket: Int = 1000): String =
    s"""WITH toks AS (SELECT doc_id AS id, $toks AS tk FROM $table WHERE text IS NOT NULL),
${minhashPairCtes("toks", w, nBands, r, maxBucket)},
pr AS (SELECT doc_a, doc_b, jaccard FROM v WHERE jaccard >= $minJaccard),
dt AS (SELECT id, unnest(list_distinct(tk)) AS t FROM toks),
cnt AS (SELECT id, COUNT(*) AS n FROM dt GROUP BY id),
ovl AS (SELECT p.doc_a, p.doc_b, p.jaccard, COUNT(*) AS n_overlap
  FROM pr p JOIN dt a ON a.id = p.doc_a
  JOIN dt b ON b.id = p.doc_b AND b.t = a.t
  GROUP BY 1, 2, 3)
SELECT o.doc_a, o.doc_b, o.jaccard,
  ca.n AS n_a, cb.n AS n_b, o.n_overlap,
  (o.n_overlap * 2000000) // (ca.n + cb.n) AS f1_ppm
FROM ovl o JOIN cnt ca ON ca.id = o.doc_a JOIN cnt cb ON cb.id = o.doc_b
ORDER BY f1_ppm DESC, doc_a ASC, doc_b ASC LIMIT $limit"""

  /** Mirror of [[graft.ops.DedupOps.minhashDedupDelta]] with the shard
    * split expressed as `doc_id % shardMod` (= 0 → new shard, ≠ 0 →
    * existing corpus): same signature pipeline as [[minhashPairs]], the
    * bucket must carry both sides (and at most `maxBucket` docs total),
    * candidates pair shard × corpus only, best match = max Jaccard with
    * min-id tiebreak. Verification Jaccard runs over each doc's DISTINCT
    * 28-bit shingle-hash set (`hl` distinct'd) — the engine's
    * carried-hash-set verify; md5-derived hashes make the sets
    * byte-identical across engines. */
  def minhashDedupDelta(
      table: String, w: Int, nBands: Int, r: Int,
      minJaccard: Double, shardMod: Int, maxBucket: Int = 1000): String =
    s"""WITH toks AS (SELECT doc_id AS id, doc_id % $shardMod = 0 AS nw, $toks AS tk
  FROM $table WHERE text IS NOT NULL),
${shingleCte(w, extra = ", nw")},
hs AS (SELECT id, nw, s, list_transform(s, x -> ('0x' || substr(md5(x),1,7))::BIGINT) AS hl FROM sh),
sig AS (SELECT id, nw, list_transform(range(0,${nBands * r}), j -> list_min(list_transform(hl, h -> (((506952114*(j+1)) % 2147483647) * h + ((40503*j + 1013904223) % 2147483647)) % 2147483647))) AS m FROM hs),
bands AS (SELECT id, nw, b, ${h((0 until r).map(o => s"m[$r*b+${o + 1}]::VARCHAR").mkString(" || ',' || "))} AS bh
  FROM sig, (SELECT unnest(range(0,$nBands)) AS b)),
ok AS (SELECT b, bh FROM bands GROUP BY b, bh
  HAVING COUNT(*) FILTER (WHERE nw) >= 1 AND COUNT(*) FILTER (WHERE NOT nw) >= 1
  AND COUNT(*) <= $maxBucket),
cand AS (SELECT DISTINCT x.id AS sid, y.id AS cid
  FROM bands x JOIN bands y ON x.b = y.b AND x.bh = y.bh AND x.nw AND NOT y.nw
  JOIN ok o ON x.b = o.b AND x.bh = o.bh),
dh AS (SELECT id, list_distinct(hl) AS dh FROM hs),
v AS (SELECT c.sid, c.cid,
  round(len(list_intersect(a.dh, b.dh))::DOUBLE / len(list_distinct(list_concat(a.dh, b.dh))), 6) AS jaccard
  FROM cand c JOIN dh a ON c.sid = a.id JOIN dh b ON c.cid = b.id),
best AS (SELECT sid, cid, jaccard,
  row_number() OVER (PARTITION BY sid ORDER BY jaccard DESC, cid ASC) AS rk
  FROM v WHERE jaccard >= $minJaccard)
SELECT sid AS doc_id, cid AS near_dup_of, jaccard FROM best WHERE rk = 1 ORDER BY doc_id"""

  /** Connected components over the minhash near-dup pair graph: recursive
    * label reachability + per-node MIN (DuckDB recursive CTEs dedup via
    * UNION, so the closure terminates). Mirrors
    * [[graft.ops.DedupOps.connectedComponents]] over the same pair set. */
  def connectedComponents(
      table: String, w: Int, nBands: Int, r: Int,
      minJaccard: Double, limit: Int): String =
    s"""WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM (${minhashPairs(table, w, nBands, r, minJaccard, limit)}) mh),
sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(node, lab) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.src, r2.lab FROM sym s JOIN reach r2 ON s.dst = r2.node)
SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node ORDER BY node"""

  /** Mirror of q146: [[connectedComponents]]' recursive CTE as a
    * subquery, cluster sizes, then the [[SketchSql]] bit-length bucket
    * (DuckDB's bin() is unpadded exactly like Spark's). */
  def clusterSizeHistogram(
      table: String, w: Int, nBands: Int, r: Int,
      minJaccard: Double, limit: Int): String =
    s"""SELECT CAST(length(bin(sz)) AS BIGINT) AS bucket,
  CAST(COUNT(*) AS BIGINT) AS cnt
FROM (SELECT cluster_id, COUNT(*) AS sz
  FROM (${connectedComponents(table, w, nBands, r, minJaccard, limit)})
  GROUP BY cluster_id)
GROUP BY bucket ORDER BY bucket"""

  def simhashFingerprints(table: String, sampleMod: Int): String =
    s"""WITH toks AS (SELECT doc_id AS id, list_distinct($toks) AS tk FROM $table
  WHERE text IS NOT NULL AND doc_id % $sampleMod = 0),
hs AS (SELECT id, list_transform(tk, x -> ${h("x")}) AS hl FROM toks WHERE len(tk) > 0)
SELECT id, CAST(list_sum(list_transform(range(0,60), b ->
  CASE WHEN list_sum(list_transform(hl, v -> CASE WHEN ((v >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
  THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
FROM hs ORDER BY id"""

  /** SimHash hamming-LSH near-dup pairs — mirrors
    * [[graft.ops.DedupOps.simhashNearDupPairs]]: same fingerprints, chunk
    * bucket join on (chunkIdx, chunkValue) with the bucket cap, exact
    * popcount verify. */
  def simhashNearDupPairs(table: String, maxHamming: Int, nChunks: Int, nBits: Int,
      sampleMod: Int, limit: Int, maxBucket: Int = 1000): String = {
    val chunkBits = nBits / nChunks
    val mask = (1L << chunkBits) - 1
    s"""WITH toks AS (SELECT doc_id AS id, list_distinct($toks) AS tk FROM $table
  WHERE text IS NOT NULL AND doc_id % $sampleMod = 0),
hs AS (SELECT id, list_transform(tk, x -> ${h("x")}) AS hl FROM toks WHERE len(tk) > 0),
fp AS (SELECT id, CAST(list_sum(list_transform(range(0,$nBits), b ->
  CASE WHEN list_sum(list_transform(hl, v -> CASE WHEN ((v >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
  THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS fp FROM hs),
chunks AS (SELECT id, cc.c AS c, (fp >> (cc.c * $chunkBits)) & $mask AS v
  FROM fp, (SELECT unnest(range(0, $nChunks)) AS c) cc),
ok AS (SELECT c, v FROM chunks GROUP BY c, v
  HAVING COUNT(*) >= 2 AND COUNT(*) <= $maxBucket),
cand AS (SELECT DISTINCT x.id AS doc_a, y.id AS doc_b
  FROM chunks x JOIN chunks y ON x.c = y.c AND x.v = y.v AND x.id < y.id
  JOIN ok o ON x.c = o.c AND x.v = o.v),
vv AS (SELECT c.doc_a, c.doc_b, CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
  FROM cand c JOIN fp a ON c.doc_a = a.id JOIN fp b ON c.doc_b = b.id)
SELECT doc_a, doc_b, hamming FROM vv WHERE hamming <= $maxHamming
ORDER BY hamming ASC, doc_a ASC, doc_b ASC LIMIT $limit"""
  }

  /** Mirror of [[graft.ops.DedupOps.exactDedupDelta]] with the shard
    * split expressed as `doc_id % shardMod` (= 0 → new shard, ≠ 0 →
    * existing corpus): shard keys absent from the corpus, min-id keeper
    * within the shard. */
  def exactDedupDelta(table: String, prefixLen: Int, shardMod: Int): String =
    s"""WITH nw AS (SELECT doc_id AS id, array_to_string(($toks)[1:$prefixLen], ' ') AS k
  FROM $table WHERE text IS NOT NULL AND doc_id % $shardMod = 0),
ex AS (SELECT DISTINCT array_to_string(($toks)[1:$prefixLen], ' ') AS k
  FROM $table WHERE text IS NOT NULL AND doc_id % $shardMod <> 0)
SELECT MIN(id) AS keeper_id, CAST(COUNT(*) AS BIGINT) AS n_copies
FROM nw WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.k = nw.k)
GROUP BY k ORDER BY keeper_id"""

  /** Mirror of [[graft.ops.DedupOps.prefixContainedDocs]] as the naive
    * single global LEAD window (the Spark side decomposes it into
    * bucket-partitioned windows + a short-doc broadcast pass — see the
    * op's scaladoc for why the two agree). `textExpr` derives the text
    * under test from one row of `table`. */
  def prefixContainedDocs(table: String, textExpr: String): String =
    s"""WITH d AS (SELECT MIN(doc_id) AS id, t FROM
  (SELECT doc_id, $textExpr AS t FROM $table WHERE text IS NOT NULL) GROUP BY t),
w AS (SELECT id, t, LEAD(t) OVER (ORDER BY t ASC) AS nxt FROM d)
SELECT id AS doc_id, CAST(length(t) AS BIGINT) AS n_chars FROM w
WHERE nxt IS NOT NULL AND starts_with(nxt, t) ORDER BY doc_id"""

  /** Mirror of [[graft.ops.DedupOps.prioritizedDedupReport]]: same token
    * prefix key, keeper = min (priority, id) per group — expressed as a
    * window rank (DuckDB has no struct-min ordering guarantee to lean
    * on), identical selection. `priorityExpr` is the per-row priority
    * SQL. */
  def prioritizedDedupReport(
      table: String, priorityExpr: String, prefixLen: Int): String =
    s"""WITH t AS (SELECT doc_id AS id, $priorityExpr AS prio,
  array_to_string(($toks)[1:$prefixLen], ' ') AS k
  FROM $table WHERE text IS NOT NULL AND $priorityExpr IS NOT NULL),
r AS (SELECT id, prio, k,
  ROW_NUMBER() OVER (PARTITION BY k ORDER BY prio, id) AS rk,
  COUNT(*) OVER (PARTITION BY k) AS c FROM t)
SELECT id AS keeper_id, CAST(prio AS BIGINT) AS keeper_priority,
  CAST(c AS BIGINT) AS n_copies
FROM r WHERE rk = 1 AND c >= 2 ORDER BY keeper_id"""

  /** Mirror of [[graft.ops.DedupOps.contaminationReport]] with the
    * benchmark/corpus split expressed as `keyCol % benchMod` (= 0 →
    * benchmark, ≠ 0 → corpus): per corpus doc, distinct-shingle overlap
    * against the union of all benchmark shingles. */
  def contamination(table: String, w: Int, benchMod: Int): String =
    s"""WITH toks AS (SELECT doc_id AS id, $toks AS tk FROM $table
  WHERE text IS NOT NULL AND doc_id % $benchMod <> 0),
${shingleCte(w)},
btoks AS (SELECT doc_id AS id, $toks AS tk FROM $table
  WHERE text IS NOT NULL AND doc_id % $benchMod = 0),
${shingleCte(w, src = "btoks", name = "bsh")},
bs AS (SELECT DISTINCT unnest(s) AS s FROM bsh),
ds AS (SELECT id, unnest(s) AS s FROM sh),
m AS (SELECT ds.id, COUNT(*) AS n_shingles, COUNT(bs.s) AS n_overlap
  FROM ds LEFT JOIN bs ON ds.s = bs.s GROUP BY ds.id)
SELECT id AS doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
  CAST(n_overlap AS BIGINT) AS n_overlap,
  round(n_overlap::DOUBLE / n_shingles, 6) AS overlap_ratio
FROM m WHERE n_overlap > 0 ORDER BY doc_id"""

  /** Mirror of [[graft.ops.DedupOps.segmentDedupReport]]: LATERAL range
    * over ceil(len/k) non-overlapping k-token slices, distinct-doc counts
    * per segment, survivors reassembled with an ORDER BY seg_idx
    * string_agg (NULL-skipping, like Spark's collect_list) and
    * md5-checksummed. */
  def segmentDedupReport(table: String, segTokens: Int, minDocs: Int): String = {
    val k = segTokens
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
t2 AS (SELECT doc_id, tk FROM t WHERE len(tk) > 0),
segs AS (SELECT doc_id, i.i AS seg_idx,
    array_to_string(tk[i.i*$k+1 : i.i*$k+$k], ' ') AS seg,
    len(tk[i.i*$k+1 : i.i*$k+$k]) AS ntok
  FROM t2, LATERAL (SELECT unnest(range((len(tk)+${k - 1})//$k)) AS i) i),
counts AS (SELECT seg, COUNT(DISTINCT doc_id) AS docs FROM segs GROUP BY seg)
SELECT s.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_segments,
  CAST(COUNT(CASE WHEN c.docs >= $minDocs THEN 1 END) AS BIGINT) AS n_removed,
  CAST(COALESCE(SUM(CASE WHEN c.docs < $minDocs THEN s.ntok END), 0) AS BIGINT) AS clean_tokens,
  md5(COALESCE(string_agg(CASE WHEN c.docs < $minDocs THEN s.seg END, ' ' ORDER BY s.seg_idx), '')) AS clean_md5
FROM segs s JOIN counts c USING (seg)
GROUP BY s.doc_id ORDER BY s.doc_id"""
  }

  /** Mirror of [[graft.ops.DedupOps.segmentDedupStrided]]: window starts
    * every `stride` with the generator's suffix-duplicate stop rule (a
    * non-zero start is kept iff the previous window fell short of the
    * token count), window text frequency by distinct doc, and a
    * token-position NOT EXISTS against the frequent-window intervals;
    * survivors string_agg in position order under md5. The parallel
    * `unnest(tk)` / `unnest(range(len(tk)))` pair zips token with its
    * 0-based position. */
  def segmentDedupStrided(
      table: String, segTokens: Int, stride: Int, minDocs: Int): String = {
    val k = segTokens
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
t2 AS (SELECT doc_id, tk FROM t WHERE len(tk) > 0),
st AS (SELECT doc_id, tk, unnest(range(0, len(tk), $stride)) AS st FROM t2),
wins AS (SELECT doc_id, st,
    array_to_string(tk[st+1 : least(st+$k, len(tk))], ' ') AS win,
    least(st+$k, len(tk)) - st AS ntok
  FROM st WHERE st = 0 OR st - $stride + $k < len(tk)),
counts AS (SELECT win, COUNT(DISTINCT doc_id) AS docs FROM wins GROUP BY win),
f AS (SELECT w.doc_id, w.st AS lo, w.st + w.ntok AS hi
  FROM wins w JOIN counts c USING (win) WHERE c.docs >= $minDocs),
nw AS (SELECT doc_id, COUNT(*) AS n_windows FROM wins GROUP BY doc_id),
nf AS (SELECT doc_id, COUNT(*) AS n_frequent FROM f GROUP BY doc_id),
tok AS (SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS p FROM t2),
surv AS (SELECT tok.doc_id, tok.tok, tok.p FROM tok
  WHERE NOT EXISTS (SELECT 1 FROM f
    WHERE f.doc_id = tok.doc_id AND tok.p >= f.lo AND tok.p < f.hi)),
agg AS (SELECT doc_id, COUNT(*) AS clean_tokens,
    md5(string_agg(tok, ' ' ORDER BY p)) AS clean_md5
  FROM surv GROUP BY doc_id)
SELECT nw.doc_id, CAST(nw.n_windows AS BIGINT) AS n_windows,
  CAST(COALESCE(nf.n_frequent, 0) AS BIGINT) AS n_frequent,
  CAST(COALESCE(agg.clean_tokens, 0) AS BIGINT) AS clean_tokens,
  COALESCE(agg.clean_md5, md5('')) AS clean_md5
FROM nw LEFT JOIN nf ON nw.doc_id = nf.doc_id
LEFT JOIN agg ON nw.doc_id = agg.doc_id
ORDER BY nw.doc_id"""
  }

  /** Mirror of [[graft.ops.DedupOps.exactDupSpans]]: same stride-1
    * window rule ([[segmentDedupStrided]]'s start predicate with stride
    * = 1), same md5 window key, same >= minDocs distinct-doc test, same
    * maximal-span island merge (touching intervals coalesce), same
    * truncating ppm. */
  def exactDupSpans(table: String, l: Int, minDocs: Int): String =
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
t2 AS (SELECT doc_id, tk FROM t WHERE len(tk) > 0),
st AS (SELECT doc_id, tk, unnest(range(0, len(tk), 1)) AS st FROM t2),
wins AS (SELECT doc_id, st,
    md5(array_to_string(tk[st+1 : least(st+$l, len(tk))], ' ')) AS wk,
    least(st+$l, len(tk)) - st AS ntok
  FROM st WHERE st = 0 OR st - 1 + $l < len(tk)),
freq AS (SELECT wk FROM wins GROUP BY wk HAVING COUNT(DISTINCT doc_id) >= $minDocs),
mk AS (SELECT doc_id, st AS lo, st + ntok AS hi FROM wins JOIN freq USING (wk)),
isl AS (SELECT doc_id, lo, hi, CASE WHEN lo > COALESCE(MAX(hi) OVER (
      PARTITION BY doc_id ORDER BY lo
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
  FROM mk),
grp AS (SELECT doc_id, lo, hi, SUM(brk) OVER (PARTITION BY doc_id ORDER BY lo
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM isl),
sp AS (SELECT doc_id, isl, MIN(lo) AS lo, MAX(hi) AS hi FROM grp GROUP BY doc_id, isl),
nt AS (SELECT doc_id, len(tk) AS n_tokens FROM t2),
agg AS (SELECT doc_id, COUNT(*) AS n_spans, SUM(hi - lo) AS dup_tokens,
    MAX(hi - lo) AS max_span FROM sp GROUP BY doc_id)
SELECT agg.doc_id, CAST(nt.n_tokens AS BIGINT) AS n_tokens,
  CAST(agg.n_spans AS BIGINT) AS n_spans,
  CAST(agg.dup_tokens AS BIGINT) AS dup_tokens,
  CAST(agg.max_span AS BIGINT) AS max_span,
  CAST(agg.dup_tokens * 1000000 // nt.n_tokens AS BIGINT) AS dup_ppm
FROM agg JOIN nt ON agg.doc_id = nt.doc_id
ORDER BY agg.doc_id"""

  /** Mirror of [[graft.ops.DedupOps.exactDupSpansAgainstIndex]] over an
    * id-parity shard split: the frequent-window index is built from the
    * CORPUS side only (`corpusPred`), the span report covers the SHARD
    * side only (`shardPred`) — same window rule, md5 key, island merge
    * and ppm as [[exactDupSpans]]. */
  def exactDupSpansAgainstIndex(
      table: String, l: Int, minDocs: Int,
      shardPred: String, corpusPred: String): String =
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
t2 AS (SELECT doc_id, tk FROM t WHERE len(tk) > 0),
st AS (SELECT doc_id, tk, unnest(range(0, len(tk), 1)) AS st FROM t2),
wins AS (SELECT doc_id, st,
    md5(array_to_string(tk[st+1 : least(st+$l, len(tk))], ' ')) AS wk,
    least(st+$l, len(tk)) - st AS ntok
  FROM st WHERE st = 0 OR st - 1 + $l < len(tk)),
idx AS (SELECT wk FROM wins WHERE $corpusPred GROUP BY wk
  HAVING COUNT(DISTINCT doc_id) >= $minDocs),
mk AS (SELECT doc_id, st AS lo, st + ntok AS hi FROM wins
  JOIN idx USING (wk) WHERE $shardPred),
isl AS (SELECT doc_id, lo, hi, CASE WHEN lo > COALESCE(MAX(hi) OVER (
      PARTITION BY doc_id ORDER BY lo
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
  FROM mk),
grp AS (SELECT doc_id, lo, hi, SUM(brk) OVER (PARTITION BY doc_id ORDER BY lo
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM isl),
sp AS (SELECT doc_id, isl, MIN(lo) AS lo, MAX(hi) AS hi FROM grp GROUP BY doc_id, isl),
nt AS (SELECT doc_id, len(tk) AS n_tokens FROM t2 WHERE $shardPred),
agg AS (SELECT doc_id, COUNT(*) AS n_spans, SUM(hi - lo) AS dup_tokens,
    MAX(hi - lo) AS max_span FROM sp GROUP BY doc_id)
SELECT agg.doc_id, CAST(nt.n_tokens AS BIGINT) AS n_tokens,
  CAST(agg.n_spans AS BIGINT) AS n_spans,
  CAST(agg.dup_tokens AS BIGINT) AS dup_tokens,
  CAST(agg.max_span AS BIGINT) AS max_span,
  CAST(agg.dup_tokens * 1000000 // nt.n_tokens AS BIGINT) AS dup_ppm
FROM agg JOIN nt ON agg.doc_id = nt.doc_id
ORDER BY agg.doc_id"""

  /** Mirror of [[graft.ops.DedupOps.dupAttribution]]: same md5 cluster
    * key, same min-id keeper (doc_id is unique, so `arg_min` equals the
    * engine's lexicographic struct-min), same cross-group test, same
    * truncating ppm. */
  def dupAttribution(table: String, groupCol: String): String =
    s"""WITH d AS (SELECT md5(text) AS k, doc_id, $groupCol AS g
  FROM $table WHERE text IS NOT NULL),
kp AS (SELECT k, MIN(doc_id) AS keep_id, arg_min(g, doc_id) AS keep_g
  FROM d GROUP BY k)
SELECT g AS $groupCol, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
  CAST(SUM(CASE WHEN doc_id <> keep_id AND g <> keep_g THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_dup,
  CAST((SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS dup_ppm
FROM d JOIN kp USING (k)
GROUP BY g
ORDER BY $groupCol"""

  /** The fixed-size calibration sample CTE — mirror of
    * [[graft.ops.DedupOps.md5TopNSample]]: the `n` non-null-text rows
    * with the smallest (md5(id), id). Engines agree byte-for-byte: both
    * render a BIGINT id as its decimal string and md5 to lowercase hex. */
  private def sampCte(table: String, n: Int): String =
    s"""samp AS (SELECT doc_id, text FROM $table WHERE text IS NOT NULL
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $n)"""

  /** Mirror of [[graft.ops.DedupOps.lshBandSCurve]]: all pairs of the
    * same fixed-size md5-top-N sample, same exact integer hash-set
    * jaccard, same band-slice equality over the shared `sig` minhash
    * formula, same bucket/ppm arithmetic; theory literals come from the
    * SAME driver-side computation. */
  def lshBandSCurve(
      table: String, w: Int, nBands: Int, r: Int,
      sampleN: Int, nBuckets: Int = 10): String = {
    val theory = graft.ops.DedupOps.sCurveTheoryPpm(nBands, r, nBuckets)
    val lo = 1000000L / nBuckets
    s"""WITH ${sampCte(table, sampleN)},
toks AS (SELECT doc_id AS id, $toks AS tk FROM samp),
${shingleCte(w)},
hs AS (SELECT id, s, list_transform(s, x -> ('0x' || substr(md5(x),1,7))::BIGINT) AS hl FROM sh),
sig AS (SELECT id, list_transform(range(0,${nBands * r}), j -> list_min(list_transform(hl, h -> (((506952114*(j+1)) % 2147483647) * h + ((40503*j + 1013904223) % 2147483647)) % 2147483647))) AS m,
    list_distinct(hl) AS dh FROM hs),
p AS (SELECT
    (len(list_intersect(a.dh, b.dh)) * 1000000) // len(list_distinct(list_concat(a.dh, b.dh))) AS jppm,
    len(list_filter(range(0, $nBands), bd -> a.m[bd*$r+1 : bd*$r+$r] = b.m[bd*$r+1 : bd*$r+$r])) > 0 AS collide
  FROM sig a JOIN sig b ON a.id < b.id),
g AS (SELECT least(jppm * $nBuckets // 1000000, ${nBuckets - 1}) AS bucket,
    COUNT(*) AS n_pairs, SUM(CASE WHEN collide THEN 1 ELSE 0 END) AS n_collide
  FROM p GROUP BY 1)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(bucket * $lo AS BIGINT) AS lo_ppm,
  CAST(n_pairs AS BIGINT) AS n_pairs, CAST(n_collide AS BIGINT) AS n_collide,
  CAST((n_collide * 1000000) // n_pairs AS BIGINT) AS collide_ppm,
  ([${theory.mkString(", ")}]::BIGINT[])[CAST(bucket AS INT) + 1] AS theory_ppm
FROM g ORDER BY bucket"""
  }

  /** Mirror of [[graft.ops.DedupOps.levenshteinPairs]]: plain all-pairs
    * levenshtein over the same sample — legal as the oracle because the
    * engine's length blocking is a complete candidate superset and the
    * banded kernel equals the full matrix within the threshold. */
  def levenshteinPairs(table: String, maxDist: Int, sampleMod: Int, limit: Int): String =
    s"""WITH d AS (SELECT doc_id AS id, text AS t FROM $table
  WHERE text IS NOT NULL AND doc_id % $sampleMod = 0)
SELECT a.id AS doc_a, b.id AS doc_b, CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
FROM d a JOIN d b ON a.id < b.id
WHERE levenshtein(a.t, b.t) <= $maxDist
ORDER BY dist ASC, doc_a ASC, doc_b ASC LIMIT $limit"""

  /** Mirror of [[graft.ops.DedupOps.crossSourceOverlap]]: same distinct
    * (group, shingle) relation, same shingle-keyed pair join, same
    * integer ppm containments/jaccard. */
  def crossSourceOverlap(table: String, groupCol: String, w: Int): String = {
    val parts = (0 until w).map(o => s"tk[i+$o]").mkString(" || ' ' || ")
    s"""WITH t AS (SELECT $groupCol AS g, $toks AS tk FROM $table
  WHERE text IS NOT NULL AND $groupCol IS NOT NULL),
sh AS (SELECT g, unnest(list_transform(range(1, len(tk)-${w - 2}), i -> $parts)) AS s
  FROM t WHERE len(tk) >= $w),
gs AS (SELECT DISTINCT g, s FROM sh),
sizes AS (SELECT g, COUNT(*) AS n FROM gs GROUP BY g),
common AS (SELECT a.g AS src_a, b.g AS src_b, COUNT(*) AS n_common
  FROM gs a JOIN gs b ON a.s = b.s AND a.g < b.g GROUP BY 1, 2)
SELECT c.src_a, c.src_b,
  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
  CAST(c.n_common AS BIGINT) AS n_common,
  CAST((c.n_common * 1000000) // sa.n AS BIGINT) AS containment_a_ppm,
  CAST((c.n_common * 1000000) // sb.n AS BIGINT) AS containment_b_ppm,
  CAST((c.n_common * 1000000) // (sa.n + sb.n - c.n_common) AS BIGINT) AS jaccard_ppm
FROM common c JOIN sizes sa ON sa.g = c.src_a JOIN sizes sb ON sb.g = c.src_b
ORDER BY src_a, src_b"""
  }

  /** Mirror of [[graft.ops.DedupOps.lexicalCosinePairs]]: same
    * every-occurrence w-gram tf vectors, same df <= dfCap vocabulary
    * rule, same term-keyed pair join, same DECIMAL(38,0)-exact squared
    * cosine (HUGEINT here) and truncating ppm, same total order. */
  def lexicalCosinePairs(
      table: String, w: Int, dfCap: Int, minCos2Ppm: Long, limit: Int): String = {
    val gram = s"array_to_string(tk[i : i + ${w - 1}], ' ')"
    s"""WITH t AS (SELECT doc_id AS id, $toks AS tk FROM $table WHERE text IS NOT NULL),
tf AS (SELECT id, g AS term, COUNT(*) AS tf FROM (
    SELECT id, unnest(list_transform(range(1, len(tk) - ${w - 2}), i -> $gram)) AS g
    FROM t WHERE len(tk) >= $w) GROUP BY id, g),
keep AS (SELECT term FROM tf GROUP BY term HAVING COUNT(*) <= $dfCap),
k AS (SELECT tf.* FROM tf JOIN keep USING (term)),
n2 AS (SELECT id, SUM(tf * tf) AS n2 FROM k GROUP BY id),
d AS (SELECT a.id AS doc_a, b.id AS doc_b, SUM(a.tf * b.tf) AS dot
  FROM k a JOIN k b ON a.term = b.term AND a.id < b.id GROUP BY a.id, b.id),
j AS (SELECT doc_a, doc_b, CAST(dot AS BIGINT) AS dot,
    CAST(na.n2 AS BIGINT) AS na2, CAST(nb.n2 AS BIGINT) AS nb2,
    CAST(CAST(dot AS HUGEINT) * dot * 1000000
      // (CAST(na.n2 AS HUGEINT) * nb.n2) AS BIGINT) AS cos2_ppm
  FROM d JOIN n2 na ON d.doc_a = na.id JOIN n2 nb ON d.doc_b = nb.id)
SELECT doc_a, doc_b, dot, na2, nb2, cos2_ppm FROM j
WHERE cos2_ppm >= $minCos2Ppm
ORDER BY cos2_ppm DESC, doc_a ASC, doc_b ASC LIMIT $limit"""
  }

  def jaccardBruteForce(table: String, w: Int, sampleN: Int, limit: Int): String =
    s"""WITH ${sampCte(table, sampleN)},
toks AS (SELECT doc_id AS id, $toks AS tk FROM samp),
${shingleCte(w)}
SELECT x.id AS doc_a, y.id AS doc_b,
round(len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(list_concat(x.s, y.s))), 6) AS jaccard
FROM sh x JOIN sh y ON x.id < y.id
ORDER BY jaccard DESC, doc_a ASC, doc_b ASC LIMIT $limit"""
}
