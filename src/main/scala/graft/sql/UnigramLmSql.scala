package graft.sql

/** DuckDB oracle SQL mirroring [[graft.ops.UnigramLmOps]] — the WHOLE
  * EM training loop, unrolled per round into CTEs (the kCore/perceptron
  * unrolled-iteration pattern): seed substring counts → per-round
  * {forward Viterbi DP, backtrack, usage re-count, prune, micro-ln
  * re-cost} → final vocabulary (and, for the fertility mirror, one more
  * encode pass under the final costs).
  *
  * The Viterbi passes are RECURSIVE CTEs, not lambda folds, for two
  * measured reasons (prototyped against a hand-rolled reference on
  * DuckDB 1.0): (a) nested lambdas referencing outer columns mis-bind
  * rows under the vectorized executor (a doc's fold returned a DIFFERENT
  * row's segmentation, nondeterministically); (b) plain relational
  * recursion with per-k LEFT JOINs is deterministic by construction.
  * The forward pass carries only the last `maxLen` dp values as columns
  * (piece lengths are bounded), so state per (word, position) row is
  * constant-width; the backtrack re-derives the arg-min with the
  * LARGEST-k tie-break — the exact rule
  * [[graft.ops.UnigramLmOps.viterbiPieces]] implements. Non-recursive
  * CTEs are MATERIALIZED: without it DuckDB re-executes each referenced
  * subtree per reference, which goes geometric across rounds (measured:
  * round 2 went from >2 min to 70 ms). */
object UnigramLmSql {

  /** cost(piece) = lnMicro(Σcnt) − lnMicro(cnt) over vocabulary CTE `v`
    * — the catalog's shared micro-ln convention. */
  private def costCte(v: String): String =
    s"SELECT piece, CAST(round(ln((SELECT SUM(cnt) FROM $v)) * 1000000, 0) AS BIGINT)" +
      s" - CAST(round(ln(cnt) * 1000000, 0) AS BIGINT) AS cost FROM $v"

  /** Single-char pieces (always alive) ∪ top-`budget` multi-char by
    * (cnt desc, piece asc) — the shared seed/prune rule. */
  private def pruneSql(src: String, budget: Int): String =
    s"SELECT piece, cnt FROM $src WHERE length(piece) = 1 " +
      s"UNION ALL SELECT piece, cnt FROM (SELECT piece, cnt FROM $src " +
      s"WHERE length(piece) >= 2 AND cnt > 0 ORDER BY cnt DESC, piece ASC LIMIT $budget)"

  /** Forward Viterbi DP as a recursive CTE: row (word, wc, i, d1..dM)
    * where d1 = dp[i] (min cost of the length-i prefix) and d2..dM are
    * the previous dp values the next step's ≤maxLen-piece lookback
    * needs. */
  private def fwdCte(name: String, costs: String, maxLen: Int,
      src: String = "wcnt"): String = {
    val dcols = (1 to maxLen).map(k => s"d$k").mkString(", ")
    val init = s"CAST(0 AS BIGINT)" +: Seq.fill(maxLen - 1)("CAST(NULL AS BIGINT)")
    val joins = (1 to maxLen).map { k =>
      val start = if (k == 1) "f.i + 1" else s"f.i - ${k - 2}"
      val guard = if (k == 1) "" else s"f.i >= ${k - 1} AND "
      s"LEFT JOIN $costs cc$k ON $guard" +
        s"cc$k.piece = substr(f.word, CAST($start AS INT), $k)"
    }
    val terms = (1 to maxLen).map(k => s"f.d$k + cc$k.cost").mkString(", ")
    val shift = (1 until maxLen).map(k => s"f.d$k").mkString(", ")
    s"""$name(word, wc, i, $dcols) AS (
  SELECT word, wc, 0, ${init.mkString(", ")} FROM $src
  UNION ALL
  SELECT f.word, f.wc, f.i + 1, least($terms), $shift
  FROM $name f
  ${joins.mkString("\n  ")}
  WHERE f.i < length(f.word))"""
  }

  /** Backtrack as a recursive CTE: one row per consumed piece, walking
    * pos downward; `kk` picks the LARGEST k whose piece closes the dp
    * equation (NULL conditions — absent piece or short prefix — skip
    * their CASE arm). */
  private def bwdCte(
      name: String, dpr: String, costs: String, maxLen: Int,
      src: String = "wcnt"): String = {
    val joins = Seq(s"JOIN $dpr dc ON dc.word = b.word AND dc.i = b.pos") ++
      (1 to maxLen).flatMap { k =>
        val guard = if (k == 1) "" else s"b.pos >= $k AND "
        Seq(
          s"LEFT JOIN $costs kc$k ON $guard" +
            s"kc$k.piece = substr(b.word, CAST(b.pos - $k + 1 AS INT), $k)",
          s"LEFT JOIN $dpr pd$k ON pd$k.word = b.word AND pd$k.i = b.pos - $k")
      }
    val kk = "(CASE " + (maxLen to 1 by -1).map(k =>
      s"WHEN pd$k.d + kc$k.cost = dc.d THEN $k").mkString(" ") + " END)"
    s"""$name(word, wc, pos, piece) AS (
  SELECT word, wc, length(word), CAST(NULL AS VARCHAR) FROM $src
  UNION ALL
  SELECT b.word, b.wc, b.pos - $kk, substr(b.word, CAST(b.pos - $kk + 1 AS INT), CAST($kk AS INT))
  FROM $name b
  ${joins.mkString("\n  ")}
  WHERE b.pos > 0)"""
  }

  /** The shared train chain: CTEs through the final vocabulary
    * `v<rounds>` and cost table `c<rounds>`. */
  private def trainCtes(
      table: String, rounds: Int, maxLen: Int,
      seedPieces: Int, keepPieces: Int, corpusPred: String = "TRUE"): String = {
    val m = "AS MATERIALIZED"
    val head = Seq(
      s"w0 $m (SELECT unnest($toks) AS word FROM $table" +
        s" WHERE text IS NOT NULL AND ($corpusPred))",
      s"wcnt $m (SELECT word, COUNT(*) AS wc FROM w0 GROUP BY word)",
      s"lw $m (SELECT word, wc, unnest(range(1, $maxLen + 1)) AS l FROM wcnt)",
      s"iw $m (SELECT word, wc, l, unnest(range(1, length(word) - l + 2)) AS i" +
        " FROM lw WHERE length(word) >= l)",
      s"sub $m (SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece," +
        " SUM(wc) AS cnt FROM iw GROUP BY 1)",
      s"v0 $m (${pruneSql("sub", seedPieces)})",
      s"c0 $m (${costCte("v0")})")
    val perRound = (1 to rounds).flatMap { r =>
      val p = r - 1
      Seq(
        fwdCte(s"fwd$r", s"c$p", maxLen),
        s"dpr$r $m (SELECT word, i, d1 AS d FROM fwd$r)",
        bwdCte(s"bwd$r", s"dpr$r", s"c$p", maxLen),
        s"u$r $m (SELECT piece, SUM(wc) AS usage FROM bwd$r" +
          " WHERE piece IS NOT NULL GROUP BY piece)",
        s"a$r $m (SELECT v.piece, COALESCE(u.usage, 0) +" +
          " CASE WHEN length(v.piece) = 1 THEN 1 ELSE 0 END AS cnt" +
          s" FROM v$p v LEFT JOIN u$r u USING (piece))",
        s"v$r $m (${pruneSql(s"a$r", keepPieces)})",
        s"c$r $m (${costCte(s"v$r")})")
    }
    "WITH RECURSIVE " + (head ++ perRound).mkString(",\n")
  }

  /** Mirror of [[graft.ops.UnigramLmOps.unigramTrain]]. */
  def unigramTrain(
      table: String, rounds: Int, maxLen: Int,
      seedPieces: Int, keepPieces: Int): String =
    trainCtes(table, rounds, maxLen, seedPieces, keepPieces) + s"""
SELECT v.piece, CAST(length(v.piece) AS BIGINT) AS piece_len,
  CAST(v.cnt AS BIGINT) AS cnt, c.cost AS cost_micro
FROM v$rounds v JOIN c$rounds c USING (piece)
ORDER BY cnt DESC, piece ASC"""

  /** Mirror of [[graft.ops.UnigramLmOps.unigramFertility]]: the train
    * chain + one more Viterbi pass under the FINAL costs, aggregated to
    * the [[BpeSql.bpeFertility]] shape. */
  def unigramFertility(
      table: String, groupCol: String, rounds: Int, maxLen: Int,
      seedPieces: Int, keepPieces: Int): String =
    fertilitySql(table, groupCol, rounds, maxLen, seedPieces, keepPieces,
      corpusPred = "TRUE", shardPred = "TRUE")

  /** Mirror of the PERSISTED-VOCAB delta path
    * ([[graft.ops.UnigramLmOps.unigramFertilityFromVocab]] over
    * [[graft.ops.UnigramLmOps.vocabArtifactShared]]): the vocabulary
    * trains on the `corpusPred` rows only and the fertility pass scores
    * the `shardPred` rows only. The persist/read round trip has no SQL
    * footprint — a lossless parquet write of the bounded vocabulary —
    * so the mirror IS the train-on-corpus / score-shard composition
    * (bit-equality of the artifact path is spec-pinned engine-side). */
  def unigramFertilityDelta(
      table: String, groupCol: String, rounds: Int, maxLen: Int,
      seedPieces: Int, keepPieces: Int,
      corpusPred: String, shardPred: String): String =
    fertilitySql(table, groupCol, rounds, maxLen, seedPieces, keepPieces,
      corpusPred, shardPred)

  private def fertilitySql(
      table: String, groupCol: String, rounds: Int, maxLen: Int,
      seedPieces: Int, keepPieces: Int,
      corpusPred: String, shardPred: String): String =
    trainCtes(table, rounds, maxLen, seedPieces, keepPieces, corpusPred) + s""",
wcntS AS MATERIALIZED (SELECT word, COUNT(*) AS wc FROM
  (SELECT unnest($toks) AS word FROM $table
   WHERE text IS NOT NULL AND ($shardPred)) GROUP BY word),
${fwdCte("fwdF", s"c$rounds", maxLen, src = "wcntS")},
dprF AS MATERIALIZED (SELECT word, i, d1 AS d FROM fwdF),
${bwdCte("bwdF", "dprF", s"c$rounds", maxLen, src = "wcntS")},
wtok AS MATERIALIZED (SELECT word, COUNT(piece) AS nt FROM bwdF GROUP BY word),
d AS MATERIALIZED (SELECT $groupCol, doc_id, $toks AS tk FROM $table
  WHERE text IS NOT NULL AND ($shardPred)),
w1 AS (SELECT doc_id, unnest(tk) AS word FROM d),
enc AS (SELECT doc_id, length(word) AS nc, wt.nt AS nt FROM w1 JOIN wtok wt USING (word)),
pd AS (SELECT doc_id, COUNT(*) AS nw, SUM(nc) AS nc, SUM(nt) AS nt FROM enc GROUP BY 1),
pda AS (SELECT d.$groupCol, COALESCE(p.nw, 0) AS nw, COALESCE(p.nc, 0) AS nc,
  COALESCE(p.nt, 0) AS nt FROM d LEFT JOIN pd p USING (doc_id))
SELECT $groupCol, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(nw) AS BIGINT) AS n_words, CAST(SUM(nc) AS BIGINT) AS n_chars,
  CAST(SUM(nt) AS BIGINT) AS n_unigram_tokens,
  CASE WHEN SUM(nw) > 0 THEN CAST((SUM(nt) * 1000000) // SUM(nw) AS BIGINT) END AS tokens_per_word_ppm,
  CASE WHEN SUM(nt) > 0 THEN CAST((SUM(nc) * 1000000) // SUM(nt) AS BIGINT) END AS chars_per_token_ppm
FROM pda GROUP BY $groupCol ORDER BY $groupCol"""
}
