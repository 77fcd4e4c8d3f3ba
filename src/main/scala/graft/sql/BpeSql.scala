package graft.sql

/** DuckDB oracle SQL mirroring [[graft.ops.BpeOps]]' oracle-expressible
  * step: the round-1 adjacent character-pair candidate table. (The
  * iterative merge loop itself is driver-coordinated and spec-pinned on a
  * closed-form fixture instead — single-statement SQL cannot express the
  * data-dependent per-round merge rewrite.) */
object BpeSql {

  /** Mirror of wordCounts → adjacentPairCounts → top `n`: per adjacent
    * character pair, the word-count-weighted occurrence total. */
  def topPairCounts(table: String, n: Int): String =
    s"""WITH t AS (SELECT unnest($toks) AS w FROM $table WHERE text IS NOT NULL),
wc AS (SELECT w, COUNT(*) AS wc FROM t GROUP BY w),
p AS (SELECT substr(w, i, 1) AS left_sym, substr(w, i + 1, 1) AS right_sym, wc
  FROM (SELECT w, wc, unnest(range(1, length(w))) AS i FROM wc WHERE length(w) >= 2)),
g AS (SELECT left_sym, right_sym, CAST(SUM(wc) AS BIGINT) AS pair_count
  FROM p GROUP BY left_sym, right_sym)
SELECT left_sym, right_sym, pair_count FROM g
ORDER BY pair_count DESC, left_sym ASC, right_sym ASC LIMIT $n"""

  /** Mirror of [[graft.ops.BpeOps.bpeFertility]]: the greedy
    * left-to-right non-overlapping `Subword.applyMerge` pass is expressed as a
    * `list_reduce` fold over a '|'-wrapped symbol string — the
    * accumulator ends with `|l|` exactly when the previous UNMERGED
    * symbol is `l` (a just-merged symbol is `l||r ≠ l` since `r` is
    * nonempty, reproducing applyMerge's skip-past-the-merge), and the
    * leading '|' in the suffix test anchors whole-symbol matches. One
    * fold per merge, re-split between folds. `BpeOpsSpec` pins the
    * engine on hand-computed cascades (incl. aaa/aaaa under
    * (a,a)+(aa,a)); cross-engine equality of this fold chain is the
    * q139 gate's job (validated on 500 random adversarial words during
    * development). */
  def bpeFertility(table: String, groupCol: String,
      merges: Seq[(String, String)]): String = {
    def fold(lst: String, l: String, r: String): String =
      s"list_reduce($lst, (acc, x) -> CASE WHEN x = ${sq(r)} AND " +
        s"ends_with(acc, ${sq("|" + l + "|")}) " +
        s"THEN substr(acc, 1, len(acc) - ${l.length + 1}) || ${sq(l + r + "|")} " +
        s"ELSE acc || x || '|' END)"
    def symsOf(s: String): String =
      s"list_filter(string_split($s, '|'), x -> x <> '')"
    def prep(symsE: String): String =
      s"list_concat(['|' || ($symsE)[1] || '|'], ($symsE)[2:])"
    val chars = "list_transform(range(1, len(word) + 1), i -> word[CAST(i AS INT)])"
    val merged = merges.tail.foldLeft(fold(prep(chars), merges.head._1, merges.head._2)) {
      case (cur, (l, r)) => fold(prep(symsOf(cur)), l, r)
    }
    s"""WITH d AS (SELECT $groupCol, doc_id, $toks AS tk FROM $table WHERE text IS NOT NULL),
w AS (SELECT doc_id, unnest(tk) AS word FROM d),
enc AS (SELECT doc_id, len(word) AS nc, len(${symsOf(merged)}) AS nt FROM w),
pd AS (SELECT doc_id, COUNT(*) AS nw, SUM(nc) AS nc, SUM(nt) AS nt FROM enc GROUP BY 1),
pda AS (SELECT d.$groupCol, COALESCE(p.nw, 0) AS nw, COALESCE(p.nc, 0) AS nc,
  COALESCE(p.nt, 0) AS nt FROM d LEFT JOIN pd p USING (doc_id))
SELECT $groupCol, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(nw) AS BIGINT) AS n_words, CAST(SUM(nc) AS BIGINT) AS n_chars,
  CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens,
  CASE WHEN SUM(nw) > 0 THEN CAST((SUM(nt) * 1000000) // SUM(nw) AS BIGINT) END AS tokens_per_word_ppm,
  CASE WHEN SUM(nt) > 0 THEN CAST((SUM(nc) * 1000000) // SUM(nt) AS BIGINT) END AS chars_per_token_ppm
FROM pda GROUP BY $groupCol ORDER BY $groupCol"""
  }
}
