package graft.sql

/** DuckDB oracle SQL mirroring [[graft.ops.RetrievalOps]]. Same whitespace
  * tokenization as the rest of the catalog; BM25 per-term contributions are
  * rounded to micro-units and summed as BIGINT so the score is an exact
  * integer in both engines (float-sum-order immune). */
object RetrievalSql {

  /** Mirror of [[graft.ops.RetrievalOps.hybridSearch]]: document-derived
    * BM25 query terms (self excluded before ranking), brute-force cosine
    * semantic side, exact-integer RRF fusion over the full outer join of
    * the two top-`kEach` rankings. */
  def hybridSearch(table: String, embTable: String,
      queryMod: Int, kEach: Int, kRrf: Int, k: Int, dim: Int,
      maxQueryTerms: Int = 0,
      k1: Double = 1.2, b: Double = 0.75): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> $x[i] * $y[i]))"
    val cos = s"round(${dot("cq.qv", "e.v")} / (sqrt(${dot("cq.qv", "cq.qv")}) * sqrt(${dot("e.v", "e.v")})), 6)"
    val semCtes = s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $embTable),
cq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % $queryMod = 0),
cc AS (SELECT cq.query_id, e.vec_id AS doc_id, $cos AS cos
  FROM cq JOIN e ON e.vec_id <> cq.query_id),
sem AS (SELECT query_id, doc_id, ROW_NUMBER() OVER (PARTITION BY query_id
  ORDER BY cos DESC, doc_id ASC) AS rk FROM cc),
semk AS (SELECT query_id, doc_id, rk FROM sem WHERE rk <= $kEach)"""
    hybridWithSemCtes(table, semCtes, queryMod, kEach, kRrf, k, maxQueryTerms, k1, b)
  }

  /** Mirror of [[graft.ops.RetrievalOps.hybridSearchWith]] over the SQ8
    * semantic side ([[SimilaritySql.annScalarQuant]]'s CTEs verbatim,
    * renamed to avoid collision with the lexical block): the q126
    * indexed-hybrid catalog entry — compressed-code ANN fused with the
    * same pruned BM25 by the same exact-integer RRF. */
  def hybridSearchSq8(table: String, embTable: String,
      queryMod: Int, kEach: Int, kRrf: Int, k: Int, dim: Int,
      maxQueryTerms: Int = 0,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val semCtes = s"""e2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $embTable WHERE embedding IS NOT NULL),
sqs AS (SELECT i.i AS d, max(abs(v[i.i])) AS s FROM e2, (SELECT unnest(range(1, ${dim + 1})) AS i) i GROUP BY 1),
ssv AS (SELECT list(s ORDER BY d) AS sv FROM sqs),
scod AS (SELECT vec_id, list_transform(range(1, ${dim + 1}), i ->
    CASE WHEN sv[i] = 0 THEN 0
         ELSE greatest(-127, least(127, CAST(floor(v[i] * 127.0 / sv[i]) AS BIGINT))) END) AS qq
  FROM e2, ssv),
scand AS (SELECT qs.vec_id AS query_id, scod.vec_id AS doc_id,
    CAST(list_sum(list_transform(range(1, ${dim + 1}), i -> qs.qq[i] * scod.qq[i])) AS BIGINT) AS dot_q
  FROM scod qs JOIN scod ON scod.vec_id <> qs.vec_id WHERE qs.vec_id % $queryMod = 0),
sem AS (SELECT query_id, doc_id, ROW_NUMBER() OVER (PARTITION BY query_id
  ORDER BY dot_q DESC, doc_id ASC) AS rk FROM scand),
semk AS (SELECT query_id, doc_id, rk FROM sem WHERE rk <= $kEach)"""
    hybridWithSemCtes(table, semCtes, queryMod, kEach, kRrf, k, maxQueryTerms, k1, b)
  }

  /** Shared hybrid text: pruned document-as-query BM25 lexical side +
    * exact-integer RRF fusion around a caller-supplied semantic CTE
    * block that must define `semk(query_id, doc_id, rk)`. */
  private def hybridWithSemCtes(table: String, semCtes: String,
      queryMod: Int, kEach: Int, kRrf: Int, k: Int,
      maxQueryTerms: Int, k1: Double, b: Double): String = {
    // Lucene-MLT term pruning: keep each query's maxQueryTerms RAREST
    // terms by corpus TOTAL frequency (tfreq asc, term asc) — the same
    // vocabulary-keyed rarity pass the engine runs; tf then covers only
    // the selected terms' postings
    val qsel =
      if (maxQueryTerms == 0) "q AS (SELECT query_id, term FROM q0)"
      else s"""fr AS (SELECT term, COUNT(*) AS tfreq FROM t GROUP BY term),
q AS (SELECT query_id, term FROM (
  SELECT q0.query_id, q0.term,
    ROW_NUMBER() OVER (PARTITION BY q0.query_id ORDER BY fr.tfreq ASC, q0.term ASC) AS trk
  FROM q0 JOIN fr USING (term)) WHERE trk <= $maxQueryTerms)"""
    s"""WITH t AS (SELECT doc_id, unnest($toks) AS term FROM $table WHERE text IS NOT NULL),
q0 AS (SELECT DISTINCT doc_id AS query_id, term FROM t WHERE doc_id % $queryMod = 0),
$qsel,
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY term),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
corpus AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
contrib AS (SELECT q.query_id, tf.doc_id,
  CAST(round(
    ln(1 + (corpus.n_docs - df.df_docs + 0.5) / (df.df_docs + 0.5))
    * (tf.tf * ($k1 + 1.0))
    / (tf.tf + $k1 * (1.0 - $b + $b * dl.dl / corpus.avgdl))
    * 1e6) AS BIGINT) AS contrib_micro
  FROM tf JOIN q USING (term) JOIN df USING (term)
    JOIN dl USING (doc_id) CROSS JOIN corpus
  WHERE q.query_id <> tf.doc_id),
sc AS (SELECT query_id, doc_id, CAST(SUM(contrib_micro) AS BIGINT) AS score_micro
  FROM contrib GROUP BY query_id, doc_id),
lex AS (SELECT query_id, doc_id, ROW_NUMBER() OVER (PARTITION BY query_id
  ORDER BY score_micro DESC, doc_id ASC) AS rk FROM sc),
lexk AS (SELECT query_id, doc_id, rk FROM lex WHERE rk <= $kEach),
$semCtes,
f AS (SELECT COALESCE(l.query_id, s.query_id) AS query_id,
    COALESCE(l.doc_id, s.doc_id) AS doc_id,
    COALESCE(1000000 // ($kRrf + l.rk), 0) + COALESCE(1000000 // ($kRrf + s.rk), 0) AS rrf_e6
  FROM lexk l FULL OUTER JOIN semk s
    ON l.query_id = s.query_id AND l.doc_id = s.doc_id),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
  ORDER BY rrf_e6 DESC, doc_id ASC) AS rk FROM f)
SELECT query_id, CAST(rk AS BIGINT) AS rk, doc_id, CAST(rrf_e6 AS BIGINT) AS rrf_e6
FROM r WHERE rk <= $k ORDER BY query_id, rk"""
  }

  /** Mirror of [[graft.ops.RetrievalOps.invertedIndexStats]]. */
  def invertedIndexStats(table: String, minDf: Int): String =
    s"""WITH t AS (SELECT doc_id, unnest($toks) AS term FROM $table WHERE text IS NOT NULL),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term)
SELECT term,
  CAST(COUNT(*) AS BIGINT) AS df_docs,
  CAST(SUM(tf) AS BIGINT) AS total_tf,
  CAST(MAX(tf) AS BIGINT) AS max_tf,
  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
  CAST(MAX(doc_id) AS BIGINT) AS max_doc,
  CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
FROM tf GROUP BY term HAVING COUNT(*) >= $minDf ORDER BY term"""

  /** Mirror of [[graft.ops.RetrievalOps.bm25TopK]]: identical idf/tf-norm
    * formulas, per-term `round(x * 1e6)` to BIGINT before the cross-term
    * sum, ranking on the exact integer score with doc_id tiebreak. */
  def bm25TopK(table: String, queries: Seq[(String, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val qrows = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => s"(${sq(qid)}, ${sq(t)})") }
      .mkString(", ")
    s"""WITH q(query_id, term) AS (VALUES $qrows),
t AS (SELECT doc_id, unnest($toks) AS term FROM $table WHERE text IS NOT NULL),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY term),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
corpus AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
contrib AS (SELECT q.query_id, tf.doc_id,
  CAST(round(
    ln(1 + (corpus.n_docs - df.df_docs + 0.5) / (df.df_docs + 0.5))
    * (tf.tf * ($k1 + 1.0))
    / (tf.tf + $k1 * (1.0 - $b + $b * dl.dl / corpus.avgdl))
    * 1e6) AS BIGINT) AS contrib_micro
  FROM tf JOIN q USING (term) JOIN df USING (term)
    JOIN dl USING (doc_id) CROSS JOIN corpus),
s AS (SELECT query_id, doc_id,
  CAST(SUM(contrib_micro) AS BIGINT) AS score_micro,
  CAST(COUNT(*) AS BIGINT) AS n_terms_hit
  FROM contrib GROUP BY query_id, doc_id),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
  ORDER BY score_micro DESC, doc_id ASC) AS rk FROM s)
SELECT query_id, CAST(rk AS BIGINT) AS rk, doc_id, score_micro, n_terms_hit
FROM r WHERE rk <= $k ORDER BY query_id, rk"""
  }

  /** Mirror of [[graft.ops.RetrievalOps.retrievalEval]]: the bm25TopK
    * CTE chain verbatim, a distinct (doc, query-term) relation for the
    * boolean-AND relevance truth, and the same zero-filled integer
    * MRR / recall@k arithmetic. */
  def retrievalEval(table: String, queries: Seq[(String, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val qrows = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => s"(${sq(qid)}, ${sq(t)})") }
      .mkString(", ")
    s"""WITH q(query_id, term) AS (VALUES $qrows),
t AS (SELECT doc_id, unnest($toks) AS term FROM $table WHERE text IS NOT NULL),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY term),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
corpus AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
contrib AS (SELECT q.query_id, tf.doc_id,
  CAST(round(
    ln(1 + (corpus.n_docs - df.df_docs + 0.5) / (df.df_docs + 0.5))
    * (tf.tf * ($k1 + 1.0))
    / (tf.tf + $k1 * (1.0 - $b + $b * dl.dl / corpus.avgdl))
    * 1e6) AS BIGINT) AS contrib_micro
  FROM tf JOIN q USING (term) JOIN df USING (term)
    JOIN dl USING (doc_id) CROSS JOIN corpus),
s AS (SELECT query_id, doc_id, SUM(contrib_micro) AS score_micro
  FROM contrib GROUP BY query_id, doc_id),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
  ORDER BY score_micro DESC, doc_id ASC) AS rk FROM s),
topk AS (SELECT query_id, doc_id, rk FROM r WHERE rk <= $k),
dterm AS (SELECT DISTINCT doc_id, term FROM tf),
m AS (SELECT q.query_id, d.doc_id, COUNT(DISTINCT q.term) AS mt
  FROM q JOIN dterm d USING (term) GROUP BY 1, 2),
qs AS (SELECT query_id, COUNT(DISTINCT term) AS nt FROM q GROUP BY 1),
rel AS (SELECT m.query_id, m.doc_id FROM m JOIN qs USING (query_id) WHERE m.mt = qs.nt),
nr AS (SELECT query_id, COUNT(*) AS n_relevant FROM rel GROUP BY 1),
hit AS (SELECT tk.query_id, MIN(tk.rk) AS fr, COUNT(*) AS hits
  FROM topk tk JOIN rel ON rel.query_id = tk.query_id AND rel.doc_id = tk.doc_id
  GROUP BY 1)
SELECT qs.query_id,
  CAST(COALESCE(nr.n_relevant, 0) AS BIGINT) AS n_relevant,
  CAST(COALESCE(hit.fr, 0) AS BIGINT) AS first_rank,
  CAST(CASE WHEN COALESCE(hit.fr, 0) > 0 THEN 1000000 // hit.fr ELSE 0 END AS BIGINT) AS rr_ppm,
  CAST(COALESCE(hit.hits, 0) AS BIGINT) AS hits_at_k,
  CAST(CASE WHEN COALESCE(nr.n_relevant, 0) > 0
    THEN (COALESCE(hit.hits, 0) * 1000000) // nr.n_relevant ELSE 0 END AS BIGINT) AS recall_ppm
FROM qs LEFT JOIN nr USING (query_id) LEFT JOIN hit USING (query_id)
ORDER BY query_id"""
  }

  /** Mirror of [[graft.ops.RetrievalOps.ndcgEval]]: same BM25 CTEs
    * through the top-k, same graded relevance (distinct matching query
    * terms), the SAME driver-computed discount literals
    * ([[graft.ops.RetrievalOps.ndcgDiscountPpm]] — both engines index
    * one literal array), same exact-BIGINT sums and truncating ppm. */
  def ndcgEval(table: String, queries: Seq[(String, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val qrows = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => s"(${sq(qid)}, ${sq(t)})") }
      .mkString(", ")
    val disc = s"[${graft.ops.RetrievalOps.ndcgDiscountPpm(k).mkString(", ")}]::BIGINT[]"
    s"""WITH q(query_id, term) AS (VALUES $qrows),
t AS (SELECT doc_id, unnest($toks) AS term FROM $table WHERE text IS NOT NULL),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY term),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
corpus AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
contrib AS (SELECT q.query_id, tf.doc_id,
  CAST(round(
    ln(1 + (corpus.n_docs - df.df_docs + 0.5) / (df.df_docs + 0.5))
    * (tf.tf * ($k1 + 1.0))
    / (tf.tf + $k1 * (1.0 - $b + $b * dl.dl / corpus.avgdl))
    * 1e6) AS BIGINT) AS contrib_micro
  FROM tf JOIN q USING (term) JOIN df USING (term)
    JOIN dl USING (doc_id) CROSS JOIN corpus),
s AS (SELECT query_id, doc_id, SUM(contrib_micro) AS score_micro
  FROM contrib GROUP BY query_id, doc_id),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
  ORDER BY score_micro DESC, doc_id ASC) AS rk FROM s),
topk AS (SELECT query_id, doc_id, rk FROM r WHERE rk <= $k),
dterm AS (SELECT DISTINCT doc_id, term FROM tf),
m AS (SELECT q.query_id, d.doc_id, COUNT(DISTINCT q.term) AS rel
  FROM q JOIN dterm d USING (term) GROUP BY 1, 2),
ideal AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
  ORDER BY rel DESC, doc_id ASC) AS irk FROM m),
idcg AS (SELECT query_id, SUM(rel * ($disc)[CAST(irk AS INT)]) AS idcg_micro
  FROM ideal WHERE irk <= $k GROUP BY 1),
dcg AS (SELECT tk.query_id,
    SUM(COALESCE(m.rel, 0) * ($disc)[CAST(tk.rk AS INT)]) AS dcg_micro
  FROM topk tk LEFT JOIN m ON m.query_id = tk.query_id AND m.doc_id = tk.doc_id
  GROUP BY 1),
qs AS (SELECT DISTINCT query_id FROM q)
SELECT qs.query_id,
  CAST(COALESCE(dcg.dcg_micro, 0) AS BIGINT) AS dcg_micro,
  CAST(COALESCE(idcg.idcg_micro, 0) AS BIGINT) AS idcg_micro,
  CAST(CASE WHEN COALESCE(idcg.idcg_micro, 0) > 0
    THEN (COALESCE(dcg.dcg_micro, 0) * 1000000) // idcg.idcg_micro
    ELSE 0 END AS BIGINT) AS ndcg_ppm
FROM qs LEFT JOIN idcg USING (query_id) LEFT JOIN dcg USING (query_id)
ORDER BY query_id"""
  }

  /** Mirror of [[graft.ops.RetrievalOps.phraseSearch]]: positional
    * postings pruned to the phrase terms, one position-offset self-join
    * per subsequent term (only relative offsets matter, so the 1-based
    * SQL positions and 0-based engine positions agree). */
  def phraseSearch(table: String, phrase: Seq[String], limit: Int): String = {
    val inList = phrase.distinct.map(sq).mkString(", ")
    val joins = phrase.tail.zipWithIndex.map { case (t, i) =>
      s"JOIN p p${i + 1} ON p${i + 1}.doc_id = p0.doc_id AND " +
        s"p${i + 1}.pos = p0.pos + ${i + 1} AND p${i + 1}.term = ${sq(t)}"
    }.mkString("\n  ")
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
p AS (SELECT doc_id, u['p'] AS pos, u['tok'] AS term FROM (
  SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
    i -> {'p': i, 'tok': tk[CAST(i AS INT)]})) AS u FROM t)
  WHERE u['tok'] IN ($inList)),
m AS (SELECT p0.doc_id FROM p p0
  $joins
  WHERE p0.term = ${sq(phrase.head)})
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches FROM m
GROUP BY doc_id ORDER BY n_matches DESC, doc_id ASC LIMIT $limit"""
  }
}
