package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WORDPIECE tokenizer training — the third production tokenizer family
  * next to [[BpeOps]] (greedy count-argmax merges) and [[UnigramLmOps]]
  * (EM-pruned piece LM): BPE's merge loop with BERT's LIKELIHOOD
  * selection rule (Schuster & Nakajima 2012; Wu et al. 2016 §4.1 — the
  * merge that maximizes p(lr)/(p(l)·p(r)), i.e. the language-model
  * likelihood gain of fusing the pair, not its raw frequency; a pair of
  * two already-frequent symbols must beat a higher bar than a pair of
  * rare ones). Symbols carry the standard `##` continuation convention:
  * round-0 symbolizes a word as first char plain + every later char
  * `##`-prefixed, and a merge concatenates the left symbol with the
  * right's unprefixed text — so initial and continuation subwords are
  * distinct symbols end to end, exactly the distinction the shipped
  * BERT vocabularies encode. (Degenerate corner, kept cross-engine
  * deterministic rather than forbidden: a literal '#' character in a
  * word produces symbols like `###`, whose stripped text concatenates
  * the same way in both engines.)
  *
  * Cross-engine determinism (the catalog's integer contract): the
  * selection score is INTEGER MICRO-likelihood
  * `pair_count · 10¹² div (left_count · right_count)` — both engines
  * compute the same BIGINT division and break ties (score, then pair
  * lexicographic) identically, so the learned merge sequence is exact
  * integer arithmetic. Counts are corpus token masses:
  * `pair_count · 10¹² < 2⁶³` holds through ~9·10⁶ corpus tokens; past
  * that, rescale the corpus pass or widen to DECIMAL (documented bound,
  * the q180 convention).
  *
  * 100 TB shape (the [[BpeOps]] story): the corpus collapses ONCE to the
  * (word, count) table; each round is two vocabulary-bounded aggregates
  * (symbol counts + pair counts), two vocabulary-keyed joins and ONE
  * bounded driver collect (the argmax row — the k-means/BPE driver-state
  * contract); inference is map-only over the corpus with the bounded
  * merge table riding the closure behind a per-thread memo.
  *
  * Reference scope: the reference (`/root/reference/main.py`) ships no
  * tokenizer; this family extends the engine for LLM-pipeline use, the
  * SURVEY §2-and-beyond contract.
  */
object WordPieceOps {

  /** Round-0 WordPiece symbolization: first char plain, every
    * continuation char `##`-prefixed. */
  private def charSymsWp(word: Column): Column =
    transform(sequence(lit(1), length(word)), i =>
      when(i === 1, word.substr(i, lit(1)))
        .otherwise(concat(lit("##"), word.substr(i, lit(1)))))

  /** [[charSymsWp]] on the JVM, for the inference kernel. */
  private[graft] def round0(word: String): Array[String] =
    Array.tabulate(word.length)(i =>
      if (i == 0) String.valueOf(word.charAt(0)) else "##" + word.charAt(i))

  private[graft] def stripCont(s: String): String =
    if (s.startsWith("##")) s.substring(2) else s

  /** The merged symbol: left text + right's unprefixed text (keeps the
    * left's initial/continuation status — the `##` bookkeeping rule). */
  private[graft] def mergedSym(l: String, r: String): String = l + stripCont(r)

  /** Scored adjacent-pair candidates of one symbolized (syms, wc) word
    * table: pair count, both symbols' occurrence counts, and the
    * integer micro-likelihood selection score. All relations are
    * vocabulary-bounded; the two count joins are small-side joins the
    * optimizer broadcasts. */
  private def scoredPairs(words: DataFrame): DataFrame = {
    val sc = words
      .select(explode(col("syms")).as("sym"), col("wc"))
      .groupBy(col("sym"))
      .agg(sum(col("wc")).as("c"))
    words
      .select(explode(Subword.pairsOf(col("syms"))).as("p"), col("wc"))
      .groupBy(col("p.left_sym").as("left_sym"), col("p.right_sym").as("right_sym"))
      .agg(sum(col("wc")).as("pair_count"))
      .join(sc.select(col("sym").as("left_sym"), col("c").as("left_count")), "left_sym")
      .join(sc.select(col("sym").as("right_sym"), col("c").as("right_count")), "right_sym")
      .select(col("left_sym"), col("right_sym"), col("pair_count"),
        col("left_count"), col("right_count"),
        expr("pair_count * 1000000000000 div (left_count * right_count)")
          .as("score_micro"))
  }

  /** WordPiece training round 1's scored candidate table over the raw
    * corpus — the oracle-expressible step (the [[BpeOps
    * .adjacentPairCounts]] convention), totally ordered by the training
    * loop's exact selection order. */
  def wordpiecePairScores(docs: DataFrame, textCol: String, n: Int): DataFrame =
    scoredPairs(
      BpeOps.wordCounts(docs, textCol)
        .select(charSymsWp(col("word")).as("syms"), col("wc")))
      .orderBy(col("score_micro").desc, col("left_sym").asc, col("right_sym").asc)
      .limit(n)

  /** WORDPIECE TRAIN: learn `rounds` merges. Returns the learned table
    * (round, left_sym, right_sym, merged_sym, pair_count, score_micro)
    * in learned order — the artifact a WordPiece tokenizer ships. Stops
    * early if no pair remains. */
  def wordpieceTrain(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val picked = Subword.mergeTrain(docs, textCol, rounds, charSymsWp, mergedSym) { words =>
      scoredPairs(words)
        .orderBy(col("score_micro").desc, col("left_sym").asc, col("right_sym").asc)
    }
    picked.zipWithIndex
      .map { case (t, i) =>
        val (l, r) = (t.getString(0), t.getString(1))
        (i + 1, l, r, mergedSym(l, r), t.getLong(2), t.getLong(5))
      }
      .toDF("round", "left_sym", "right_sym", "merged_sym", "pair_count", "score_micro")
  }

  /** Per-thread word → WordPiece-token-count memo: the merge list applied
    * to the word's round-0 symbols by the in-place
    * [[Subword.mergedCount]] kernel under the `##` fuse rule, keyed by
    * the merge table. */
  private[graft] val memo = new Subword.WordMemo[Subword.Merges](
    (w, ms) => Subword.mergedCount(round0(w), ms, mergedSym))

  /** WORDPIECE FERTILITY per group under the TRAINED merge table —
    * train-then-measure in one query (the q188 shape): tokens per
    * whitespace word and chars per token in integer ppm, the
    * cross-language tokenizer-equity metric ([[Subword.fertility]]).
    * Training's bounded word-table passes run first; the corpus encode
    * is then ONE map-only scan with the frozen merge list in the
    * closure. */
  def wordpieceFertility(
      docs: DataFrame, textCol: String, groupCol: String, rounds: Int): DataFrame = {
    val ms: Subword.Merges =
      wordpieceTrain(docs, textCol, rounds)
        .orderBy(col("round"))
        .select("left_sym", "right_sym").collect()
        .map(r => (r.getString(0), r.getString(1))).toIndexedSeq
    Subword.fertility(docs, textCol, groupCol, "n_wp_tokens")(w => memo.count(w, ms))
  }
}
