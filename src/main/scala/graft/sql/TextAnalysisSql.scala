package graft.sql

import graft.ops.TextAnalysisOps

/** DuckDB oracle SQL mirroring [[graft.ops.TextAnalysisOps]]. Language
  * profiles and stopword lists are taken from the same Scala config objects
  * the Spark plans use, so they cannot drift. */
object TextAnalysisSql {

  def langIdConfusion(table: String): String = {
    val profiles = TextAnalysisOps.langProfiles
      .map { case (lang, ms) => s"(${sq(lang)}, [${ms.map(sq).mkString(", ")}])" }
      .mkString(", ")
    s"""WITH t AS (SELECT doc_id, lang AS true_lang, $toks AS tk FROM $table WHERE text IS NOT NULL),
scored AS (SELECT t.doc_id, t.true_lang, p.cand, len(list_filter(t.tk, x -> list_contains(p.markers, x))) AS score
  FROM t, (VALUES $profiles) AS p(cand, markers)),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand ASC) AS rk FROM scored)
SELECT true_lang, cand AS predicted_lang, COUNT(*) AS n_docs
FROM ranked WHERE rk = 1 GROUP BY true_lang, cand ORDER BY true_lang, predicted_lang"""
  }

  /** Mirror of [[graft.ops.TextAnalysisOps.langMixtureProfile]]: same
    * fixed-window chunking (1-based inclusive slices clamp identically),
    * same marker-argmax per chunk via a struct sort (neg score first,
    * candidate second — lexicographic struct order in both engines),
    * same micro-ln entropy with HUGEINT-exact sum and truncating
    * division, clamp at 0. */
  def langMixtureProfile(table: String, chunkTokens: Int): String = {
    val profiles = TextAnalysisOps.langProfiles
      .map { case (lang, ms) => s"{'cand': ${sq(lang)}, 'markers': [${ms.map(sq).mkString(", ")}]}" }
      .mkString(", ")
    val ln = (x: String) => s"CAST(round(ln(($x)::DOUBLE) * 1e6) AS BIGINT)"
    s"""WITH t AS (SELECT doc_id, tk FROM (
    SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL) WHERE len(tk) >= 1),
cl AS (SELECT doc_id,
    list_transform(range(0, (len(tk) - 1) // $chunkTokens + 1), i ->
      (list_sort(list_transform([$profiles], p ->
        {'neg': -len(list_filter(tk[i*$chunkTokens+1 : i*$chunkTokens+$chunkTokens],
                                 x -> list_contains(p['markers'], x))),
         'cand': p['cand']})))[1]['cand']) AS langs
  FROM t),
d AS (SELECT doc_id, langs, list_distinct(langs) AS dl FROM cl),
e AS (SELECT doc_id,
    CAST(len(langs) AS BIGINT) AS n_chunks,
    CAST(len(dl) AS BIGINT) AS n_langs,
    (list_sort(list_transform(dl, l ->
      {'neg': -len(list_filter(langs, x -> x = l)), 'cand': l})))[1] AS top,
    list_sum(list_transform(dl, l ->
      CAST(len(list_filter(langs, x -> x = l)) AS BIGINT)
        * ${ln("len(list_filter(langs, x -> x = l))")})) AS sclc
  FROM d)
SELECT doc_id, n_chunks, n_langs,
  top['cand'] AS top_lang,
  CAST(-top['neg'] AS BIGINT) AS top_chunks,
  CAST((CAST(-top['neg'] AS BIGINT) * 1000000) // n_chunks AS BIGINT) AS top_share_ppm,
  CAST(GREATEST(${ln("n_chunks")} - CAST(sclc AS HUGEINT) // n_chunks, 0) AS BIGINT) AS mix_entropy_micro
FROM e ORDER BY doc_id"""
  }

  def qualityProfile(table: String, sampleMod: Int, stopwords: Seq[String]): String = {
    val stops = s"[${stopwords.map(sq).mkString(", ")}]"
    s"""WITH t AS (SELECT doc_id, text, $toks AS tk FROM $table
  WHERE text IS NOT NULL AND doc_id % $sampleMod = 0),
m AS (SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(tk) AS BIGINT) AS n_tokens,
  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit_chars,
  CAST(len(list_filter(tk, x -> list_contains($stops, x))) AS BIGINT) AS n_stop_tokens,
  CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT) AS tok_chars
  FROM t)
SELECT doc_id, n_chars, n_tokens, n_digit_chars, n_stop_tokens,
  round(tok_chars::DOUBLE / n_tokens, 6) AS avg_token_len,
  round(n_digit_chars::DOUBLE / n_chars, 6) AS digit_ratio,
  round(n_stop_tokens::DOUBLE / n_tokens, 6) AS stopword_ratio,
  CAST(round(
    CAST(least(50, n_tokens) AS DECIMAL(18,6)) * 0.008
      + 0.3 * (1 - CAST(round(n_digit_chars::DOUBLE / n_chars, 6) AS DECIMAL(18,6)))
      + 0.3 * CAST(round(n_stop_tokens::DOUBLE / n_tokens, 6) AS DECIMAL(18,6)), 6) AS DOUBLE) AS quality_score
FROM m ORDER BY doc_id"""
  }

  def tokenStats(table: String): String =
    s"""WITH t AS (SELECT len($toks) AS ws,
  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe
  FROM $table WHERE text IS NOT NULL)
SELECT COUNT(*) AS n_docs,
CAST(SUM(ws) AS BIGINT) AS total_ws_tokens,
CAST(SUM(bpe) AS BIGINT) AS total_bpe_tokens,
CAST(MAX(ws) AS BIGINT) AS max_ws_tokens,
round(SUM(ws)::DOUBLE / COUNT(*), 6) AS avg_ws_tokens FROM t"""

  /** Mirror of [[graft.ops.TextAnalysisOps.termDrift]]: same one-pass
    * term × slice counts, slice totals summed off the term aggregate,
    * same pinned-order chi² double expression (multiplies before the one
    * divide, left-associative on both engines). `sideExpr` is the 0/1
    * slice label SQL for one row of `table`. */
  def termDrift(table: String, sideExpr: String, minCount: Long, topN: Int): String =
    s"""WITH t AS (SELECT $sideExpr AS side, unnest($toks) AS term
  FROM $table WHERE text IS NOT NULL),
c0 AS (SELECT term,
    CAST(COALESCE(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_a,
    CAST(COALESCE(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_b
  FROM t GROUP BY 1),
tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb FROM c0),
s AS (SELECT term, n_a, n_b,
    round(((ta + tb)::DOUBLE
        * (n_a::DOUBLE * (tb - n_b) - n_b::DOUBLE * (ta - n_a))
        * (n_a::DOUBLE * (tb - n_b) - n_b::DOUBLE * (ta - n_a)))
      / ((n_a + n_b)::DOUBLE * ((ta - n_a) + (tb - n_b)) * ta * tb), 6) AS chi2
  FROM c0, tot WHERE n_a + n_b >= $minCount)
SELECT term, n_a, n_b, chi2 FROM s ORDER BY chi2 DESC, term ASC LIMIT $topN"""

  /** Mirror of [[graft.ops.TextAnalysisOps.pmiCollocations]]: same
    * adjacent-pair counts, same ln-free lift ratio in the same literal
    * operation order (IEEE multiply/divide are exact-rounded; ln is
    * not cross-engine), same min-count floor and tiebreak. */
  def pmiCollocations(table: String, minCount: Long, topN: Int): String =
    s"""WITH t AS (SELECT $toks AS tk FROM $table WHERE text IS NOT NULL),
tot AS (SELECT CAST(SUM(len(tk)) AS BIGINT) AS n_tokens,
  CAST(SUM(greatest(len(tk) - 1, 0)) AS BIGINT) AS m_bigrams FROM t),
uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw
  FROM (SELECT unnest(tk) AS w FROM t) GROUP BY 1),
bc AS (SELECT split_part(bg, ' ', 1) AS term_a, split_part(bg, ' ', 2) AS term_b,
    CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM (SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg
        FROM t WHERE len(tk) >= 2)
  GROUP BY 1, 2 HAVING COUNT(*) >= $minCount),
s AS (SELECT term_a, term_b, n_pair,
    round((n_pair::DOUBLE * tot.n_tokens * tot.n_tokens)
      / (tot.m_bigrams::DOUBLE * ca.cw * cb.cw), 6) AS lift
  FROM bc JOIN uc ca ON ca.w = bc.term_a JOIN uc cb ON cb.w = bc.term_b, tot)
SELECT term_a, term_b, n_pair, lift FROM s
ORDER BY lift DESC, term_a ASC, term_b ASC LIMIT $topN"""

  /** Mirror of [[graft.ops.TextAnalysisOps.ngramNovelty]]: same
    * space-joined token n-grams, same 60-bit md5 hash, same corpus-min
    * first-seen mark and integer-micro novel share. */
  def ngramNovelty(table: String, n: Int): String = {
    val gram = (0 until n).map(o => s"tk[i + $o]").mkString(" || ' ' || ")
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
ng AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - ${n - 2}), i -> $gram)) AS g
  FROM t WHERE len(tk) >= $n),
gh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh FROM ng),
f AS (SELECT gh, MIN(doc_id) AS first_doc FROM gh GROUP BY 1),
a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct,
  CAST(COALESCE(SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_repeated
  FROM gh JOIN f USING (gh) GROUP BY doc_id)
SELECT doc_id, n_distinct, n_repeated,
  CAST(((n_distinct - n_repeated) * 1000000) // n_distinct AS BIGINT) AS novelty_e6
FROM a ORDER BY doc_id"""
  }

  /** Bigram-repetition mirror of
    * [[graft.ops.TextAnalysisOps.repetitionProfile]]: every bigram
    * OCCURRENCE (multiset, unlike the dedup shingle CTEs' list_distinct);
    * integer counts, ratios rounded to 6 dp. */
  def repetitionProfile(table: String): String =
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
b AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg
  FROM t WHERE len(tk) >= 2),
g AS (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY doc_id, bg),
a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, CAST(MAX(c) AS BIGINT) AS mx,
  CAST(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS dup FROM g GROUP BY doc_id)
SELECT doc_id, n_bigrams,
  round(mx::DOUBLE / n_bigrams, 6) AS top_bigram_ratio,
  round(dup::DOUBLE / n_bigrams, 6) AS dup_bigram_ratio
FROM a ORDER BY doc_id"""

  /** Mirror of [[graft.ops.TextAnalysisOps.gopherRuleProfile]]: same
    * integer cross-multiplied thresholds, same bit weights, bigram CTE
    * shared shape with [[repetitionProfile]]. */
  def gopherRuleProfile(
      table: String, stopwords: Seq[String],
      minTokens: Long, maxTokens: Long, minStops: Long): String = {
    val stops = s"[${stopwords.map(sq).mkString(", ")}]"
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
tok AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
  CAST(COALESCE(list_sum(list_transform(tk, x -> length(x))), 0) AS BIGINT) AS tok_chars,
  CAST(len(list_filter(tk, x -> list_contains($stops, x))) AS BIGINT) AS n_stop,
  CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
  CAST(len(list_filter(tk, x -> regexp_matches(x, '[#…]'))) AS BIGINT) AS n_sym FROM t),
b AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg
  FROM t WHERE len(tk) >= 2),
g AS (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY doc_id, bg),
a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bg, CAST(MAX(c) AS BIGINT) AS top_bg,
  CAST(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS dup_bg FROM g GROUP BY doc_id),
j AS (SELECT tok.doc_id, tok.n_tokens, tok.tok_chars, tok.n_stop, tok.n_alpha, tok.n_sym,
  COALESCE(a.n_bg, 0) AS n_bg, COALESCE(a.top_bg, 0) AS top_bg, COALESCE(a.dup_bg, 0) AS dup_bg
  FROM tok LEFT JOIN a USING (doc_id)),
m AS (SELECT doc_id,
  CASE WHEN n_tokens < $minTokens OR n_tokens > $maxTokens THEN 1 ELSE 0 END
  + CASE WHEN tok_chars < n_tokens * 3 OR tok_chars > n_tokens * 10 THEN 2 ELSE 0 END
  + CASE WHEN n_stop < $minStops THEN 4 ELSE 0 END
  + CASE WHEN top_bg * 5 > n_bg THEN 8 ELSE 0 END
  + CASE WHEN dup_bg * 5 > n_bg * 2 THEN 16 ELSE 0 END
  + CASE WHEN n_alpha * 5 < n_tokens * 4 THEN 32 ELSE 0 END
  + CASE WHEN n_sym * 10 > n_tokens THEN 64 ELSE 0 END AS rule_mask FROM j)
SELECT CAST(rule_mask AS BIGINT) AS rule_mask, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM m GROUP BY rule_mask ORDER BY rule_mask"""
  }

  /** Mirror of [[graft.ops.TextAnalysisOps.hashedLinearScore]]: same md5
    * feature hashing, same integer weight derivation — the score is an
    * exact BIGINT on both engines. */
  def hashedLinearScore(table: String, dim: Int, topN: Int): String =
    s"""WITH t AS (SELECT doc_id, unnest($toks) AS term FROM $table WHERE text IS NOT NULL),
f AS (SELECT doc_id, (('0x' || substr(md5(term), 1, 7))::BIGINT % $dim) AS idx FROM t)
SELECT doc_id, CAST(SUM((idx * 2654435761) % 1001 - 500) AS BIGINT) AS score,
  CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM f GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT $topN"""

  /** Mirror of [[graft.ops.TextAnalysisOps.winnowingFingerprints]]:
    * same positional k-gram shingles, same 28-bit md5 hashes, same
    * window minima (DuckDB list slices are 1-based inclusive), checksum
    * over the sorted distinct selection. */
  def winnowingFingerprints(table: String, k: Int, win: Int): String = {
    val gram = (0 until k).map(j => s"tk[i + $j]").mkString(" || ' ' || ")
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
g AS (SELECT doc_id, list_transform(range(1, len(tk) - ${k - 2}), i -> $gram) AS sh
  FROM t WHERE len(tk) >= ${k + win - 1}),
h AS (SELECT doc_id, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hs FROM g),
f AS (SELECT doc_id, hs,
  list_distinct(list_transform(range(1, len(hs) - ${win - 2}),
    j -> list_min(hs[j:j + ${win - 1}]))) AS fp FROM h)
SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles,
  CAST(len(hs) - ${win - 1} AS BIGINT) AS n_windows,
  CAST(len(fp) AS BIGINT) AS n_fp,
  md5(array_to_string(list_transform(list_sort(fp), x -> x::VARCHAR), ',')) AS fp_md5
FROM f ORDER BY doc_id"""
  }

  /** Mirror of [[graft.ops.TextAnalysisOps.winnowingPairs]]: the q122
    * fingerprint CTEs, then the same capped-bucket pair algorithm
    * (distinct fingerprints per doc make COUNT(*) per pair the shared
    * count) with the smaller-set containment score in integer ppm. */
  def winnowingPairs(table: String, k: Int, win: Int,
      minShared: Int, limit: Int, maxBucket: Int = 1000): String = {
    val gram = (0 until k).map(j => s"tk[i + $j]").mkString(" || ' ' || ")
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
g AS (SELECT doc_id, list_transform(range(1, len(tk) - ${k - 2}), i -> $gram) AS sh
  FROM t WHERE len(tk) >= ${k + win - 1}),
h AS (SELECT doc_id, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hs FROM g),
f AS (SELECT doc_id, list_distinct(list_transform(range(1, len(hs) - ${win - 2}),
    j -> list_min(hs[j:j + ${win - 1}]))) AS fp FROM h),
occ AS (SELECT doc_id, len(fp) AS n_fp, unnest(fp) AS fp FROM f),
grp AS (SELECT fp FROM occ GROUP BY fp HAVING COUNT(*) >= 2 AND COUNT(*) <= $maxBucket),
pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_fp AS na, b.n_fp AS nb,
    COUNT(*) AS n_shared
  FROM occ a JOIN occ b USING (fp) JOIN grp USING (fp)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4
  HAVING COUNT(*) >= $minShared)
SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
  CAST(na AS BIGINT) AS n_fp_a, CAST(nb AS BIGINT) AS n_fp_b,
  CAST((n_shared * 1000000) // LEAST(na, nb) AS BIGINT) AS overlap_ppm
FROM pr ORDER BY overlap_ppm DESC, doc_a ASC, doc_b ASC LIMIT $limit"""
  }

  /** Mirror of [[graft.ops.TextAnalysisOps.scoreThresholdSweep]]: the
    * q74 score CTE (same md5 hash, same integer weights) joined to the
    * boolean label, aggregated per explicit threshold; precision/recall
    * as integer ppm with the zero-denominator guard. */
  def scoreThresholdSweep(
      table: String, labelSql: String, dim: Int, thresholds: Seq[Long]): String =
    s"""WITH t AS (SELECT doc_id, unnest($toks) AS term FROM $table WHERE text IS NOT NULL),
f AS (SELECT doc_id, (('0x' || substr(md5(term), 1, 7))::BIGINT % $dim) AS idx FROM t),
s AS (SELECT doc_id, CAST(SUM((idx * 2654435761) % 1001 - 500) AS BIGINT) AS score
  FROM f GROUP BY doc_id),
l AS (SELECT doc_id, ($labelSql) AS label FROM $table WHERE text IS NOT NULL),
j AS (SELECT s.score, l.label FROM s JOIN l USING (doc_id)),
th AS (SELECT unnest([${thresholds.mkString(", ")}]) AS threshold),
a AS (SELECT threshold,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(COALESCE(SUM(CASE WHEN score >= threshold THEN 1 ELSE 0 END), 0) AS BIGINT) AS pred_pos,
    CAST(COALESCE(SUM(CASE WHEN score >= threshold AND label THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
    CAST(COALESCE(SUM(CASE WHEN label THEN 1 ELSE 0 END), 0) AS BIGINT) AS actual_pos
  FROM th, j GROUP BY threshold)
SELECT CAST(threshold AS BIGINT) AS threshold, n_docs, pred_pos, tp, actual_pos,
  CAST(CASE WHEN pred_pos = 0 THEN 0 ELSE (tp * 1000000) // pred_pos END AS BIGINT) AS precision_ppm,
  CAST(CASE WHEN actual_pos = 0 THEN 0 ELSE (tp * 1000000) // actual_pos END AS BIGINT) AS recall_ppm
FROM a ORDER BY threshold"""

  /** Mirror of [[graft.ops.TextAnalysisOps.perceptronTrain]] with the
    * epochs UNROLLED as CTEs (the kmeans-oracle pattern): per epoch t,
    * `s{t}` scores every doc with `w{t}`, `m{t}` is the misclassified
    * set (predict +1 iff score > 0), `u{t}` pools the integer feature
    * updates, `w{t+1}` applies them. All-integer weights/scores make
    * the mirror bit-exact — no learning-rate doubles. `labelSql` is the
    * boolean label expression over the table's columns. */
  def perceptronTrain(
      table: String, labelSql: String, dim: Int, epochs: Int): String = {
    require(epochs >= 1)
    val sb = new StringBuilder
    sb.append(s"""WITH raw AS (SELECT doc_id, CASE WHEN $labelSql THEN 1 ELSE -1 END AS y,
  unnest($toks) AS term FROM $table WHERE text IS NOT NULL),
tf AS (SELECT doc_id, y, (('0x' || substr(md5(term), 1, 7))::BIGINT % $dim) AS f,
  COUNT(*) AS c FROM raw GROUP BY doc_id, y, f),
w0 AS (SELECT unnest(range(0, $dim)) AS f, 0::BIGINT AS w)""")
    for (t <- 0 until epochs) {
      sb.append(s""",
s$t AS (SELECT tf.doc_id, tf.y, SUM(tf.c * w$t.w) AS s
  FROM tf JOIN w$t ON tf.f = w$t.f GROUP BY tf.doc_id, tf.y),
m$t AS (SELECT doc_id FROM s$t WHERE (CASE WHEN s > 0 THEN 1 ELSE -1 END) <> y),
u$t AS (SELECT tf.f, SUM(tf.y * tf.c) AS d
  FROM tf JOIN m$t ON tf.doc_id = m$t.doc_id GROUP BY tf.f),
w${t + 1} AS (SELECT w$t.f, w$t.w + COALESCE(u$t.d, 0) AS w
  FROM w$t LEFT JOIN u$t ON w$t.f = u$t.f)""")
    }
    sb.append(s"\nSELECT f, CAST(w AS BIGINT) AS weight FROM w$epochs ORDER BY f")
    sb.toString
  }

  /** Mirror of [[graft.ops.TextAnalysisOps.patternScrub]]: same regexes
    * (RE2/Java common subset), same replacement order, global 'g' flag to
    * match Spark's replace-all semantics. */
  def patternScrub(
      table: String, sampleMod: Int,
      patterns: Seq[(String, String, String)]): String = {
    val counts = patterns.map { case (name, re, _) =>
      s"CAST(len(regexp_extract_all(text, ${sq(re)})) AS BIGINT) AS n_$name"
    }.mkString(",\n  ")
    val scrubbed = patterns.foldLeft("text") {
      case (c, (_, re, repl)) => s"regexp_replace($c, ${sq(re)}, ${sq(repl)}, 'g')"
    }
    s"""SELECT doc_id,
  $counts,
  md5($scrubbed) AS scrubbed_md5
FROM $table WHERE text IS NOT NULL AND doc_id % $sampleMod = 0
ORDER BY doc_id"""
  }

  /** Mirror of [[graft.ops.TextAnalysisOps.dupSpanProfile]]: per ladder
    * rung the same space-joined windows, the same 60-bit md5 hash keys,
    * exact counts and truncating ppm; empty rungs report zero rows of
    * their own (scalar subqueries always yield the rung row). */
  def dupSpanProfile(table: String, ladder: Seq[Int]): String = {
    val ctes = ladder.map { l =>
      // slice + array_to_string, NOT a 2·l-deep `||` chain (DuckDB's
      // binder recursion limit trips near l = 64)
      val gram = s"array_to_string(tk[i : i + ${l - 1}], ' ')"
      s"""h$l AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h FROM (
  SELECT doc_id, unnest(list_transform(range(1, len(tk) - ${l - 2}), i -> $gram)) AS g
  FROM t WHERE len(tk) >= $l)),
c$l AS (SELECT h, COUNT(*) AS c FROM h$l GROUP BY h)"""
    }.mkString(",\n")
    val blocks = ladder.map { l =>
      s"""SELECT CAST($l AS BIGINT) AS span_tokens,
  (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM c$l) AS n_windows,
  (SELECT CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c END), 0) AS BIGINT) FROM c$l) AS n_dup_windows,
  (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM h$l) AS n_docs,
  (SELECT CAST(COUNT(DISTINCT h$l.doc_id) AS BIGINT) FROM h$l JOIN c$l USING (h) WHERE c$l.c >= 2) AS n_dup_docs"""
    }.mkString("\nUNION ALL\n")
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
$ctes,
u AS (
$blocks)
SELECT span_tokens, n_windows, n_dup_windows, n_docs, n_dup_docs,
  CAST(CASE WHEN n_windows > 0 THEN (n_dup_windows * 1000000) // n_windows ELSE 0 END AS BIGINT) AS dup_ppm
FROM u ORDER BY span_tokens"""
  }

  /** Mirror of [[graft.ops.TextAnalysisOps.signalCorrelation]]: the q150
    * metric expressions, exact decimal moment sums, the count-distinct
    * zero-variance guard, one pinned-order double Pearson expression. */
  def signalCorrelation(table: String, xMetric: String, yMetric: String): String =
    s"""WITH t AS (SELECT $toks AS tk FROM $table
  WHERE text IS NOT NULL AND len($toks) > 0),
mm AS (SELECT CAST(len(tk) AS BIGINT) AS n_tokens,
    CAST((CAST(len(list_distinct(tk)) AS BIGINT) * 1000000) // len(tk) AS BIGINT) AS distinct_ppm,
    CAST((list_sum(list_transform(tk, x -> CAST(length(x) AS BIGINT))) * 100) // len(tk) AS BIGINT) AS mean_len_centi
  FROM t),
f AS (SELECT $xMetric AS x, $yMetric AS y FROM mm
  WHERE $xMetric IS NOT NULL AND $yMetric IS NOT NULL),
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

  /** Mirror of [[graft.ops.TextAnalysisOps.patternDensity]]: same RE2/Java
    * common-subset regexes, same per-group integer density arithmetic. */
  def patternDensity(
      table: String, groupCol: String,
      patterns: Seq[(String, String, String)]): String = {
    val perDoc = patterns.map { case (name, re, _) =>
      s"len(regexp_extract_all(text, ${sq(re)})) AS c_$name"
    }.mkString(",\n  ")
    val aggs = patterns.map { case (name, _, _) =>
      s"CAST(SUM(CASE WHEN c_$name > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_$name," +
        s"\n  CAST(SUM(c_$name) AS BIGINT) AS n_$name"
    }.mkString(",\n  ")
    val anyHit = patterns.map(p => s"c_${p._1} > 0").mkString(" OR ")
    val total = patterns.map(p => s"SUM(c_${p._1})").mkString(" + ")
    s"""WITH d AS (SELECT $groupCol, length(text) AS len,
  $perDoc
  FROM $table WHERE text IS NOT NULL)
SELECT $groupCol, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(len) AS BIGINT) AS n_chars,
  $aggs,
  CAST((SUM(CASE WHEN $anyHit THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS hit_docs_ppm,
  CAST((($total) * 1000000) // SUM(len) AS BIGINT) AS match_per_mchar
FROM d GROUP BY $groupCol ORDER BY $groupCol"""
  }

  /** Mirror of [[graft.ops.TextAnalysisOps.boilerplatePrefixes]]: same
    * token-prefix projection, arg-max by (count desc, prefix asc), same
    * truncating share. */
  def boilerplatePrefixes(table: String, groupCol: String, prefixLen: Int): String =
    s"""WITH p AS (SELECT $groupCol AS g,
    array_to_string(($toks)[1:$prefixLen], ' ') AS prefix
  FROM $table WHERE text IS NOT NULL),
c AS (SELECT g, prefix, COUNT(*) AS n_prefix FROM p WHERE prefix <> '' GROUP BY 1, 2),
t AS (SELECT g, SUM(n_prefix) AS n_docs FROM c GROUP BY g),
r AS (SELECT g, prefix, n_prefix,
    ROW_NUMBER() OVER (PARTITION BY g ORDER BY n_prefix DESC, prefix ASC) AS rk FROM c)
SELECT r.g AS $groupCol, r.prefix, CAST(t.n_docs AS BIGINT) AS n_docs,
  CAST(r.n_prefix AS BIGINT) AS n_prefix,
  CAST((r.n_prefix * 1000000) // t.n_docs AS BIGINT) AS share_ppm
FROM r JOIN t ON r.g = t.g WHERE r.rk = 1
ORDER BY $groupCol"""

  /** Mirror of [[graft.ops.TextAnalysisOps.tfIdfTopTerms]]: rational idf,
    * identical `(tf * n)::DOUBLE / df` operation order (bit-stable — see
    * the op's scaladoc on why not `ln`). */
  def tfIdfTopTerms(table: String, k: Int): String =
    s"""WITH t AS (SELECT doc_id, unnest($toks) AS term FROM $table WHERE text IS NOT NULL),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df_docs,
  round((tf.tf * n.n_docs)::DOUBLE / df.df_docs, 6) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n),
r AS (SELECT s.*, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk FROM s)
SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, CAST(tf AS BIGINT) AS tf,
  CAST(df_docs AS BIGINT) AS df_docs, score
FROM r WHERE rk <= $k ORDER BY doc_id, rk"""

  /** Mirror of [[graft.ops.TextAnalysisOps.vocabCoverage]]: same total
    * (count desc, term asc) vocab order, OOV mass from the two aggregates
    * — no second token pass on either side. */
  def vocabCoverage(table: String, vocabSize: Int): String =
    s"""WITH t AS (SELECT unnest($toks) AS term FROM $table WHERE text IS NOT NULL),
g AS (SELECT term, COUNT(*) AS c FROM t GROUP BY term),
v AS (SELECT term, c FROM g ORDER BY c DESC, term ASC LIMIT $vocabSize),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
  CAST(COALESCE(SUM(c), 0) AS BIGINT) AS total_tokens FROM g),
va AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
  CAST(COALESCE(SUM(c), 0) AS BIGINT) AS vocab_tokens FROM v)
SELECT vocab_size, n_types, total_tokens, vocab_tokens,
  total_tokens - vocab_tokens AS oov_tokens,
  n_types - vocab_size AS oov_types,
  CASE WHEN total_tokens > 0
    THEN round(vocab_tokens::DOUBLE / total_tokens, 6) ELSE 0.0 END AS coverage_ratio
FROM va CROSS JOIN tot"""

  /** Mirror of [[graft.ops.TextAnalysisOps.chunkDocuments]]: same start
    * offsets (every `stride`, stopping once a window reaches the doc end —
    * a start is kept iff it is 0 or the PREVIOUS window fell short of the
    * token count, the generator's suffix-duplicate rule), same
    * space-rejoined chunk text under md5. DuckDB list slices are 1-based
    * inclusive. */
  def chunkDocuments(table: String, chunk: Int, stride: Int): String =
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
s AS (SELECT doc_id, tk, unnest(range(0, len(tk), $stride)) AS st FROM t WHERE len(tk) > 0),
k AS (SELECT * FROM s WHERE st = 0 OR st - $stride + $chunk < len(tk))
SELECT doc_id, CAST(st // $stride AS BIGINT) AS chunk_idx,
  CAST(least(st + $chunk, len(tk)) - st AS BIGINT) AS n_chunk_tokens,
  md5(array_to_string(tk[st + 1 : least(st + $chunk, len(tk))], ' ')) AS chunk_md5
FROM k ORDER BY doc_id, chunk_idx"""

  /** Mirror of [[graft.ops.TextAnalysisOps.canonicalize]] aggregated per
    * source — DuckDB's utf8proc `nfc_normalize` is an INDEPENDENT
    * implementation of the Unicode spec the engine's JVM normalizer
    * follows; the cleanup regexes are the same ASCII-explicit classes.
    * Count + changed count + md5-prefix checksum pin the canonical
    * bytes, not just cardinalities. */
  def canonicalizeProfile(table: String): String =
    s"""WITH c AS (SELECT source, text,
  trim(regexp_replace(regexp_replace(nfc_normalize(text), '[\\x00-\\x1f\\x7f]', ' ', 'g'), ' +', ' ', 'g')) AS clean
  FROM $table WHERE text IS NOT NULL)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN clean != text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
  CAST(SUM(('0x' || substr(md5(clean), 1, 8))::BIGINT) AS BIGINT) AS checksum_sum
FROM c GROUP BY source ORDER BY source"""

  def fingerprints(table: String): String =
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
h AS (SELECT doc_id, list_transform(tk, x -> ('0x' || substr(md5(x),1,15))::BIGINT % 2147483647) AS hl
  FROM t WHERE len(tk) > 0)
SELECT doc_id, CAST(list_reduce(hl, (a, b) -> (a * 131 + b) % 2147483647) AS BIGINT) AS fingerprint
FROM h ORDER BY doc_id"""

  /** Mirror of [[graft.ops.TextAnalysisOps.bigramLmNll]]: identical
    * add-one-smoothed model, per-occurrence −ln(p) rounded to integer
    * micro-nats before the BIGINT sum, integer-division average. */
  def bigramLmNll(table: String, topN: Int): String =
    s"""WITH base AS (SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
tr AS (SELECT tk FROM base WHERE doc_id % 2 = 1),
uni AS (SELECT w AS prev, COUNT(*) AS cu FROM (SELECT unnest(tk) AS w FROM tr) GROUP BY w),
vocab AS (SELECT COUNT(*) AS v FROM uni),
bi AS (SELECT prev, cur, COUNT(*) AS cb FROM
  (SELECT tk[i] AS prev, tk[i + 1] AS cur
   FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM tr WHERE len(tk) >= 2))
  GROUP BY prev, cur),
sb AS (SELECT doc_id, tk[i] AS prev, tk[i + 1] AS cur
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
        FROM base WHERE doc_id % 2 = 0 AND len(tk) >= 2)),
contrib AS (SELECT sb.doc_id,
  CAST(round(-ln((COALESCE(bi.cb, 0) + 1)::DOUBLE
    / (COALESCE(uni.cu, 0) + vocab.v)::DOUBLE) * 1e6) AS BIGINT) AS nll_micro
  FROM sb LEFT JOIN bi USING (prev, cur) LEFT JOIN uni USING (prev) CROSS JOIN vocab),
s AS (SELECT doc_id, CAST(SUM(nll_micro) AS BIGINT) AS nll_micro_sum,
  CAST(COUNT(*) AS BIGINT) AS n_bigrams FROM contrib GROUP BY doc_id)
SELECT doc_id, n_bigrams, nll_micro_sum,
  CAST(nll_micro_sum // n_bigrams AS BIGINT) AS avg_nll_micro
FROM s ORDER BY avg_nll_micro DESC, doc_id ASC LIMIT $topN"""

  /** Mirror of [[graft.ops.TextAnalysisOps.vocabularyGrowth]]: same
    * bit-length doc-id buckets, same first-document type attribution,
    * cumulative sums over the ≤ 64 bucket rows. */
  def vocabularyGrowth(table: String): String =
    s"""WITH t AS (SELECT doc_id,
    CASE WHEN doc_id = 0 THEN 0 ELSE length(bin(doc_id)) END AS bkt,
    unnest($toks) AS term
  FROM $table WHERE text IS NOT NULL),
pb AS (SELECT bkt, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_toks
  FROM t GROUP BY bkt),
ft AS (SELECT term, MIN(doc_id) AS first_doc FROM t GROUP BY term),
nt AS (SELECT CASE WHEN first_doc = 0 THEN 0 ELSE length(bin(first_doc)) END AS bkt,
    COUNT(*) AS n_new
  FROM ft GROUP BY 1),
cells AS (SELECT COALESCE(pb.bkt, nt.bkt) AS bkt,
    COALESCE(n_docs, 0) AS n_docs, COALESCE(n_toks, 0) AS n_toks,
    COALESCE(n_new, 0) AS n_new
  FROM pb FULL OUTER JOIN nt ON pb.bkt = nt.bkt)
SELECT x.bkt AS bucket,
  CAST(SUM(y.n_docs) AS BIGINT) AS n_docs_cum,
  CAST(SUM(y.n_toks) AS BIGINT) AS n_tokens_cum,
  CAST(SUM(y.n_new) AS BIGINT) AS n_types_cum
FROM cells x JOIN cells y ON y.bkt <= x.bkt
GROUP BY x.bkt ORDER BY bucket"""

  /** Mirror of [[graft.ops.TextAnalysisOps.dsirWeights]]: same md5 mod-dim
    * buckets, same add-1-smoothed bucket models, per-bucket log ratio
    * rounded once to micro-int, exact BIGINT per-doc sums. */
  def dsirWeights(table: String, targetSql: String, dim: Int, topN: Int): String =
    s"""WITH t AS (SELECT doc_id, ($targetSql) AS is_target, unnest($toks) AS term
  FROM $table WHERE text IS NOT NULL),
f AS (SELECT doc_id, is_target, (('0x' || substr(md5(term), 1, 7))::BIGINT % $dim) AS b FROM t),
cnt AS (SELECT b, SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS tcnt, COUNT(*) AS ccnt
  FROM f GROUP BY b),
tot AS (SELECT SUM(tcnt) AS ttot, SUM(ccnt) AS ctot FROM cnt),
r AS (SELECT b, CAST(round((ln((tcnt + 1)::DOUBLE / (ttot + $dim)) -
    ln((ccnt + 1)::DOUBLE / (ctot + $dim))) * 1e6) AS BIGINT) AS ratio_micro
  FROM cnt CROSS JOIN tot),
s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(ratio_micro) AS BIGINT) AS weight_micro
  FROM f JOIN r USING (b) GROUP BY doc_id
  ORDER BY weight_micro DESC, doc_id ASC LIMIT $topN)
SELECT doc_id, n_tokens, weight_micro,
  CAST(ROW_NUMBER() OVER (ORDER BY weight_micro DESC, doc_id ASC) AS BIGINT) AS rk
FROM s ORDER BY rk"""

  /** Mirror of [[graft.ops.TextAnalysisOps.zipfSlope]]: same bounded
    * top-R (count desc, term asc), same round-to-micro-int ln, same
    * exact-BIGINT regression sums, same single double division in the
    * same operation order. */
  def zipfSlope(table: String, topR: Int): String =
    s"""WITH c AS (SELECT t AS term, COUNT(*) AS c
  FROM (SELECT unnest($toks) AS t FROM $table WHERE text IS NOT NULL) GROUP BY 1),
top AS (SELECT term, c FROM c ORDER BY c DESC, term ASC LIMIT $topR),
r AS (SELECT term, c, ROW_NUMBER() OVER (ORDER BY c DESC, term ASC) AS rank FROM top),
xy AS (SELECT term, c, rank,
  CAST(round(ln(rank::DOUBLE) * 1e6) AS BIGINT) AS x,
  CAST(round(ln(c::DOUBLE) * 1e6) AS BIGINT) AS y FROM r),
a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
  SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM xy),
s AS (SELECT a.*,
  (n_terms * sxy - sx * sy)::DOUBLE / (n_terms * sxx - sx * sx)::DOUBLE AS sl
  FROM a)
SELECT n_terms, CAST(round(sl * 1e6) AS BIGINT) AS slope_ppm,
  CAST(round((sy::DOUBLE - sl * sx::DOUBLE) / n_terms) AS BIGINT) AS intercept_micro,
  (SELECT term FROM r WHERE rank = 1) AS top_term,
  (SELECT CAST(c AS BIGINT) FROM r WHERE rank = 1) AS top_count
FROM s"""

  /** Mirror of [[graft.ops.TextAnalysisOps.zipfSlopeByGroup]]: the
    * [[zipfSlope]] arithmetic with every stage PARTITION BY group. */
  def zipfSlopeByGroup(table: String, groupCol: String, topR: Int): String =
    s"""WITH c AS (SELECT $groupCol AS g, t AS term, COUNT(*) AS c FROM (
    SELECT $groupCol, unnest($toks) AS t FROM $table
    WHERE text IS NOT NULL AND $groupCol IS NOT NULL) GROUP BY 1, 2),
r AS (SELECT g, term, c,
    ROW_NUMBER() OVER (PARTITION BY g ORDER BY c DESC, term ASC) AS rank
  FROM c QUALIFY rank <= $topR),
xy AS (SELECT g, term, c, rank,
  CAST(round(ln(rank::DOUBLE) * 1e6) AS BIGINT) AS x,
  CAST(round(ln(c::DOUBLE) * 1e6) AS BIGINT) AS y FROM r),
a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_terms,
  SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM xy GROUP BY g HAVING COUNT(*) >= 2),
s AS (SELECT a.*,
  (n_terms * sxy - sx * sy)::DOUBLE / (n_terms * sxx - sx * sx)::DOUBLE AS sl
  FROM a)
SELECT s.g AS $groupCol, n_terms,
  CAST(round(sl * 1e6) AS BIGINT) AS slope_ppm,
  CAST(round((sy::DOUBLE - sl * sx::DOUBLE) / n_terms) AS BIGINT) AS intercept_micro,
  (SELECT term FROM r WHERE r.g = s.g AND rank = 1) AS top_term,
  (SELECT CAST(c AS BIGINT) FROM r WHERE r.g = s.g AND rank = 1) AS top_count
FROM s ORDER BY $groupCol"""

  /** Mirror of [[graft.ops.TextAnalysisOps.tokenEntropyByGroup]]: same
    * per-term micro-ln longs, the c·ln-micro PRODUCT taken in HUGEINT
    * (cast-before-multiply, mirroring the engine's decimal-before-
    * multiply — a BIGINT product wraps/errors past ~3×10¹¹-count terms)
    * and summed in HUGEINT (the engine's DECIMAL(38,0) holds the same
    * integer), one truncating division per
    * group for the mean and one for the evenness, null efficiency at
    * V = 1. HUGEINT `//` is exact integer division; a DECIMAL `//`
    * would be TRUE division whose BIGINT cast then ROUNDS (caught at
    * the q173 gate dry-run: entropy off by one where the mean's
    * fraction exceeded .5). Non-negative operands everywhere. */
  def tokenEntropyByGroup(table: String, groupCol: String): String =
    s"""WITH c AS (SELECT $groupCol AS g, t AS term, COUNT(*) AS c FROM (
    SELECT $groupCol, unnest($toks) AS t FROM $table
    WHERE text IS NOT NULL AND $groupCol IS NOT NULL) GROUP BY 1, 2),
a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_types,
    CAST(SUM(c) AS BIGINT) AS n_tokens,
    SUM(CAST(c AS HUGEINT) * CAST(round(ln(c::DOUBLE) * 1e6) AS BIGINT)) AS sclc
  FROM c GROUP BY g),
e AS (SELECT g, n_tokens, n_types,
    GREATEST(CAST(round(ln(n_tokens::DOUBLE) * 1e6) AS BIGINT)
      - CAST(sclc // n_tokens AS BIGINT), 0) AS entropy_micro,
    CAST(round(ln(n_types::DOUBLE) * 1e6) AS BIGINT) AS lv
  FROM a)
SELECT g AS $groupCol, n_tokens, n_types, entropy_micro,
  CASE WHEN lv > 0 THEN (entropy_micro * 1000000) // lv END AS efficiency_ppm
FROM e ORDER BY $groupCol"""

  /** Mirror of [[graft.ops.TextAnalysisOps.sourceKlDivergence]]: same
    * micro-ln longs, the non-negative Σ c·(ln d − ln c) with the product
    * taken AND summed in HUGEINT (cast-before-multiply, the
    * tokenEntropyByGroup convention; DECIMAL `//` is true division in
    * DuckDB), one truncating division per group, clamp at 0. */
  def sourceKlDivergence(table: String, groupCol: String): String =
    s"""WITH t AS (SELECT $groupCol AS g, term, COUNT(*) AS c FROM (
    SELECT $groupCol, unnest($toks) AS term FROM $table
    WHERE text IS NOT NULL AND $groupCol IS NOT NULL) GROUP BY 1, 2),
d AS (SELECT term, SUM(c) AS d FROM t GROUP BY term),
n AS (SELECT CAST(round(ln(SUM(d)::DOUBLE) * 1e6) AS BIGINT) AS lN FROM d),
a AS (SELECT t.g, CAST(COUNT(*) AS BIGINT) AS n_types,
    CAST(SUM(t.c) AS BIGINT) AS n_tokens,
    SUM(CAST(t.c AS HUGEINT) * (CAST(round(ln(d.d::DOUBLE) * 1e6) AS BIGINT)
             - CAST(round(ln(t.c::DOUBLE) * 1e6) AS BIGINT))) AS p
  FROM t JOIN d USING (term) GROUP BY t.g)
SELECT g AS $groupCol, n_tokens, n_types,
  GREATEST((SELECT lN FROM n)
    - CAST(round(ln(n_tokens::DOUBLE) * 1e6) AS BIGINT)
    - CAST(p // n_tokens AS BIGINT), 0) AS kl_micro
FROM a ORDER BY $groupCol"""

  /** Mirror of [[graft.ops.TextAnalysisOps.longestTokenRun]]: the HOF
    * fold's first-maximal-run semantics as gaps-and-islands (pos − the
    * per-(doc, token) row number is constant exactly along a run) with
    * the (run desc, start asc) argmax. */
  def longestTokenRun(table: String, limit: Int): String =
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
p AS (SELECT doc_id, u['p'] AS pos, u['tok'] AS tok FROM (
  SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
    i -> {'p': i, 'tok': tk[CAST(i AS INT)]})) AS u FROM t)),
r AS (SELECT doc_id, pos, tok,
  pos - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY pos) AS isl FROM p),
runs AS (SELECT doc_id, tok, MIN(pos) AS strt, COUNT(*) AS run
  FROM r GROUP BY doc_id, tok, isl),
n AS (SELECT doc_id, len(tk) AS n_tokens FROM t WHERE len(tk) > 0),
best AS (SELECT doc_id, tok, run,
  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY run DESC, strt ASC) AS rk FROM runs)
SELECT b.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
  CAST(b.run AS BIGINT) AS max_run, b.tok AS top_token
FROM best b JOIN n USING (doc_id) WHERE rk = 1
ORDER BY max_run DESC, doc_id ASC LIMIT $limit"""

  /** Mirror of [[graft.ops.TextAnalysisOps.distinctNgramDiversity]]:
    * per-group distinct-n in integer ppm, one UNION ALL block per n. */
  def distinctNgramDiversity(table: String, groupCol: String, maxN: Int): String = {
    val blocks = (1 to maxN).map { n =>
      val gram = (0 until n).map(o => s"tk[i + $o]").mkString(" || ' ' || ")
      s"""SELECT $groupCol, CAST($n AS BIGINT) AS n,
  CAST(COUNT(*) AS BIGINT) AS n_grams,
  CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
  CAST((COUNT(DISTINCT g) * 1000000) // COUNT(*) AS BIGINT) AS distinct_ppm
FROM (SELECT $groupCol, unnest(list_transform(range(1, len(tk) - ${n - 2}), i -> $gram)) AS g
  FROM (SELECT $groupCol, $toks AS tk FROM $table WHERE text IS NOT NULL)
  WHERE len(tk) >= $n)
GROUP BY $groupCol"""
    }
    blocks.mkString("", "\nUNION ALL\n", s"\nORDER BY $groupCol, n")
  }

  /** Mirror of [[graft.ops.TextAnalysisOps.qualityEnsemble]] →
    * [[graft.ops.RelationalOps.rankBlend]]: same integer metrics, ECDF
    * ranks as window cumulative counts over the distinct-value
    * histograms (the oracle need not be scale-shaped), same ×10⁶
    * HUGEINT rank product, same truncating blend mean and (blend desc,
    * id asc) top cut. */
  def qualityEnsemble(table: String, idCol: String, limit: Int): String = {
    val metrics = Seq("n_tokens", "distinct_ppm", "mean_len_centi")
    val rankCtes = metrics.map(c =>
      s"""r_$c AS (SELECT __v AS v_$c, CAST((CAST(__cum AS HUGEINT) * 1000000) // __n AS BIGINT) AS rank_${c}_ppm
  FROM (SELECT $c AS __v, SUM(COUNT(*)) OVER (ORDER BY $c) AS __cum,
      SUM(COUNT(*)) OVER () AS __n FROM m GROUP BY $c))""").mkString(",\n")
    s"""WITH t AS (SELECT $idCol, $toks AS tk FROM $table
  WHERE text IS NOT NULL AND len($toks) > 0),
m AS (SELECT $idCol, CAST(len(tk) AS BIGINT) AS n_tokens,
    CAST((CAST(len(list_distinct(tk)) AS BIGINT) * 1000000) // len(tk) AS BIGINT) AS distinct_ppm,
    CAST((list_sum(list_transform(tk, x -> CAST(length(x) AS BIGINT))) * 100) // len(tk) AS BIGINT) AS mean_len_centi
  FROM t),
$rankCtes
SELECT m.$idCol, m.n_tokens, m.distinct_ppm, m.mean_len_centi,
  ${metrics.map(c => s"rank_${c}_ppm").mkString(", ")},
  (${metrics.map(c => s"rank_${c}_ppm").mkString(" + ")}) // ${metrics.size} AS blend_ppm
FROM m ${metrics.map(c => s"JOIN r_$c ON m.$c = v_$c").mkString(" ")}
ORDER BY blend_ppm DESC, m.$idCol ASC LIMIT $limit"""
  }

  /** Mirror of [[graft.ops.TextAnalysisOps.skipgramPairs]]: per offset a
    * positional list_transform over the token list (1-based; range guards
    * the shifted index in-bounds), same (least, greatest) normalization,
    * same exact counts and total order. */
  def skipgramPairs(table: String, window: Int, k: Int): String = {
    val blocks = (1 to window).map { off =>
      s"""SELECT u['w1'] AS w1, u['w2'] AS w2 FROM (
  SELECT unnest(list_transform(range(1, greatest(len(tk) - $off, 0) + 1),
    i -> {'w1': least(tk[CAST(i AS INT)], tk[CAST(i + $off AS INT)]),
          'w2': greatest(tk[CAST(i AS INT)], tk[CAST(i + $off AS INT)])})) AS u
  FROM t)"""
    }.mkString("\nUNION ALL\n")
    s"""WITH t AS (SELECT $toks AS tk FROM $table WHERE text IS NOT NULL),
p AS (
$blocks)
SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM p
GROUP BY w1, w2
ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT $k"""
  }
}
