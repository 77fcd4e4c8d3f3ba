package graft.sql

/** DuckDB oracle SQL mirroring [[graft.ops.WordPieceOps]].
  *
  * Unlike BPE (whose oracle stops at the round-1 candidate table — the
  * q102 precedent), the WHOLE WordPiece training loop unrolls here, the
  * [[UnigramLmSql]] convention: per round, the symbol-count and
  * pair-count aggregates, the argmax merge (integer micro-likelihood
  * score, exact tie order), and the greedy left-to-right non-overlapping
  * rewrite expressed as a RECURSIVE position-walk CTE — one row per
  * (word, position) step, emitting the merged symbol and skipping two
  * positions on a match, exactly [[graft.ops.Subword.applyMerge]] under
  * [[graft.ops.WordPieceOps.mergedSym]].
  * The rewrite is deliberately LAMBDA-FREE (no list_reduce): DuckDB
  * 1.0's vectorized lambda execution mis-binds rows under composition
  * (the measured unigram-LM finding), and the recursive walk sidesteps
  * the hazard while staying a faithful mirror. Out-of-range list
  * indexing (`sy[i+1]` at the last position) yields NULL, whose
  * comparison is NULL, which the CASE treats as no-match — the same
  * boundary applyMerge's explicit length check encodes.
  *
  * Non-recursive CTEs are MATERIALIZED (the unigram finding: geometric
  * subtree re-execution otherwise). */
object WordPieceSql {

  /** The shared training unroll: word counts → `##` round-0
    * symbolization `s0` → per round r: `sc{r}` (symbol counts),
    * `p{r}` (pair counts), `b{r}` (the argmax merge), `rw{r}` (the
    * recursive rewrite walk), `s{r}` (the re-symbolized word table). */
  private def trainCtes(table: String, rounds: Int): String = {
    val head = Seq(
      s"w0 AS MATERIALIZED (SELECT unnest($toks) AS word FROM $table WHERE text IS NOT NULL)",
      "wcnt AS MATERIALIZED (SELECT word, COUNT(*) AS wc FROM w0 GROUP BY word)",
      "s0 AS MATERIALIZED (SELECT word, wc, " +
        "list_transform(range(1, length(word) + 1), i -> " +
        "CASE WHEN i = 1 THEN word[CAST(i AS INT)] " +
        "ELSE '##' || word[CAST(i AS INT)] END) AS sy FROM wcnt)")
    val perRound = (1 to rounds).flatMap { r =>
      val p = r - 1
      Seq(
        s"sc$r AS MATERIALIZED (SELECT sy[CAST(i AS INT)] AS sym, SUM(wc) AS c FROM " +
          s"(SELECT sy, wc, unnest(range(1, len(sy) + 1)) AS i FROM s$p) GROUP BY sym)",
        s"p$r AS MATERIALIZED (SELECT sy[CAST(i AS INT)] AS l, sy[CAST(i + 1 AS INT)] AS r, " +
          s"SUM(wc) AS c FROM (SELECT sy, wc, unnest(range(1, len(sy))) AS i " +
          s"FROM s$p WHERE len(sy) >= 2) GROUP BY l, r)",
        s"b$r AS MATERIALIZED (SELECT l, r, l || (CASE WHEN r LIKE '##%' " +
          s"THEN substr(r, 3) ELSE r END) AS m FROM " +
          s"(SELECT p.l, p.r, (p.c * 1000000000000) // (cl.c * cr.c) AS score " +
          s"FROM p$r p JOIN sc$r cl ON cl.sym = p.l JOIN sc$r cr ON cr.sym = p.r " +
          s"ORDER BY score DESC, p.l ASC, p.r ASC LIMIT 1))",
        s"rw$r(word, wc, sy, i, out) AS (" +
          s"SELECT word, wc, sy, 1, CAST([] AS VARCHAR[]) FROM s$p " +
          s"UNION ALL " +
          s"SELECT t.word, t.wc, t.sy, " +
          s"CASE WHEN t.sy[CAST(t.i AS INT)] = b.l AND t.sy[CAST(t.i + 1 AS INT)] = b.r " +
          s"THEN t.i + 2 ELSE t.i + 1 END, " +
          s"list_append(t.out, CASE WHEN t.sy[CAST(t.i AS INT)] = b.l " +
          s"AND t.sy[CAST(t.i + 1 AS INT)] = b.r THEN b.m ELSE t.sy[CAST(t.i AS INT)] END) " +
          s"FROM rw$r t, b$r b WHERE t.i <= len(t.sy))",
        s"s$r AS MATERIALIZED (SELECT word, wc, out AS sy FROM rw$r WHERE i > len(sy))")
    }
    "WITH RECURSIVE " + (head ++ perRound).mkString(",\n")
  }

  /** Mirror of [[graft.ops.WordPieceOps.wordpiecePairScores]]: the
    * round-1 scored candidate table under the training loop's exact
    * selection order. */
  def wordpiecePairScores(table: String, n: Int): String =
    s"""WITH w0 AS MATERIALIZED (SELECT unnest($toks) AS word FROM $table WHERE text IS NOT NULL),
wcnt AS MATERIALIZED (SELECT word, COUNT(*) AS wc FROM w0 GROUP BY word),
s0 AS MATERIALIZED (SELECT word, wc, list_transform(range(1, length(word) + 1), i ->
  CASE WHEN i = 1 THEN word[CAST(i AS INT)] ELSE '##' || word[CAST(i AS INT)] END) AS sy FROM wcnt),
sc1 AS MATERIALIZED (SELECT sy[CAST(i AS INT)] AS sym, SUM(wc) AS c FROM
  (SELECT sy, wc, unnest(range(1, len(sy) + 1)) AS i FROM s0) GROUP BY sym),
p1 AS MATERIALIZED (SELECT sy[CAST(i AS INT)] AS l, sy[CAST(i + 1 AS INT)] AS r, SUM(wc) AS c
  FROM (SELECT sy, wc, unnest(range(1, len(sy))) AS i FROM s0 WHERE len(sy) >= 2) GROUP BY l, r)
SELECT p.l AS left_sym, p.r AS right_sym, CAST(p.c AS BIGINT) AS pair_count,
  CAST(cl.c AS BIGINT) AS left_count, CAST(cr.c AS BIGINT) AS right_count,
  CAST((p.c * 1000000000000) // (cl.c * cr.c) AS BIGINT) AS score_micro
FROM p1 p JOIN sc1 cl ON cl.sym = p.l JOIN sc1 cr ON cr.sym = p.r
ORDER BY score_micro DESC, left_sym ASC, right_sym ASC LIMIT $n"""

  /** Mirror of [[graft.ops.WordPieceOps.wordpieceFertility]]: per-group
    * fertility under the FULLY TRAINED merge table — every word's token
    * count is the length of its round-`rounds` symbol list. */
  def wordpieceFertility(table: String, groupCol: String, rounds: Int): String =
    s"""${trainCtes(table, rounds)},
d AS (SELECT $groupCol, doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
w1 AS (SELECT doc_id, unnest(tk) AS word FROM d),
enc AS (SELECT doc_id, length(word) AS nc, len(s.sy) AS nt
  FROM w1 JOIN s$rounds s USING (word)),
pd AS (SELECT doc_id, COUNT(*) AS nw, SUM(nc) AS nc, SUM(nt) AS nt FROM enc GROUP BY 1),
pda AS (SELECT d.$groupCol, COALESCE(p.nw, 0) AS nw, COALESCE(p.nc, 0) AS nc,
  COALESCE(p.nt, 0) AS nt FROM d LEFT JOIN pd p USING (doc_id))
SELECT $groupCol, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(nw) AS BIGINT) AS n_words, CAST(SUM(nc) AS BIGINT) AS n_chars,
  CAST(SUM(nt) AS BIGINT) AS n_wp_tokens,
  CASE WHEN SUM(nw) > 0 THEN CAST((SUM(nt) * 1000000) // SUM(nw) AS BIGINT) END AS tokens_per_word_ppm,
  CASE WHEN SUM(nt) > 0 THEN CAST((SUM(nc) * 1000000) // SUM(nt) AS BIGINT) END AS chars_per_token_ppm
FROM pda GROUP BY $groupCol ORDER BY $groupCol"""
}
