package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING as a distributed pipeline —
  * the vocabulary-learning step every LLM data stack runs before token
  * counting, packing, or budget planning (the applied counterparts
  * already live in [[TextAnalysisOps]] / [[graft.functions.Generators]]).
  *
  * Classic BPE (Sennrich et al. 2016, arXiv:1508.07909) trains on a
  * WORD-COUNT table, not the raw corpus: the corpus collapses to
  * (word, count) once — at 100 TB that is the only full-corpus pass,
  * and the table it produces is vocabulary-sized (heavy-tailed, millions
  * of rows, not billions). Each training round is then one small
  * aggregate over that table:
  *
  *   1. explode each word's adjacent symbol pairs, weighted by word count
  *      (map-side combinable sum — one bounded shuffle on pair),
  *   2. take the single best pair (count desc, then lexicographic — a
  *      total order, so training is deterministic on any engine or
  *      partitioning) to the driver,
  *   3. apply the merge to every word's symbol array (map-only), and
  *      localCheckpoint to keep the lineage flat across rounds.
  *
  * This is the k-means shape ([[SimilarityOps]]): tiny driver state (the
  * learned merge), distributed everything else.
  */
object BpeOps {

  /** (word, wc) — the corpus's whitespace-token counts; the one
    * corpus-scale pass of BPE training. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .select(graft.functions.Generators.ngramExplode(col(textCol), 1).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("wc"))

  /** One symbol per character: the round-0 symbolization. */
  private def charSyms(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** [[charSyms]] on the JVM, for the inference kernel. */
  private[graft] def round0(word: String): Array[String] =
    Array.tabulate(word.length)(i => String.valueOf(word.charAt(i)))

  /** ADJACENT-PAIR COUNTS of the round-0 (character) symbolization —
    * BPE training round 1's candidate table, exposed separately because
    * it is the step a SQL oracle can mirror exactly. Output:
    * (left_sym, right_sym, pair_count), pair_count = Σ word-count over
    * occurrences, totally ordered (count desc, pair asc). */
  def adjacentPairCounts(words: DataFrame): DataFrame =
    words
      .select(explode(Subword.pairsOf(charSyms(col("word")))).as("p"), col("wc"))
      .groupBy(col("p.left_sym").as("left_sym"), col("p.right_sym").as("right_sym"))
      .agg(sum(col("wc")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("left_sym").asc, col("right_sym").asc)

  /** Per-thread word → BPE-token-count memo: the merge list applied to
    * the word's characters by the in-place [[Subword.mergedCount]]
    * kernel, keyed by the merge table. */
  private[graft] val memo = new Subword.WordMemo[Subword.Merges](
    (w, ms) => Subword.mergedCount(round0(w), ms, _ + _))

  /** BPE TRAIN: learn `rounds` merges from the corpus. Returns the merge
    * table (round, left_sym, right_sym, pair_count) in learned order —
    * the artifact a tokenizer ships. Stops early if no pair remains
    * (every word fully merged). */
  def bpeTrain(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val picked = Subword.mergeTrain(docs, textCol, rounds, charSyms, _ + _) { words =>
      words
        .select(explode(Subword.pairsOf(col("syms"))).as("p"), col("wc"))
        .groupBy(col("p.left_sym").as("l"), col("p.right_sym").as("r"))
        .agg(sum(col("wc")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
    }
    picked.zipWithIndex
      .map { case (t, i) => (i + 1, t.getString(0), t.getString(1), t.getLong(2)) }
      .toDF("round", "left_sym", "right_sym", "pair_count")
  }

  /** BPE ENCODE: apply a learned merge table to the corpus and report
    * per-document BPE token counts — inference over the trained
    * vocabulary. Map-only over the corpus (merges ride the closure,
    * vocabulary-sized); one corpus pass regardless of merge count. */
  def bpeEncode(docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val ms = merges.toIndexedSeq
    val enc = udf((text: String) => {
      var total = 0L
      graft.functions.TextHash.words(text).foreach { w => total += memo.count(w, ms) }
      total
    })
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), enc(col(textCol)).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** TOKENIZER FERTILITY profile ([[Subword.fertility]]): apply a fixed
    * learned merge table (in merge-list order — the same inference step
    * as [[bpeEncode]]) and report per-group `tokens_per_word_ppm`
    * (fertility: how many BPE tokens a whitespace word costs — THE
    * cross-language tokenizer-equity metric) and `chars_per_token_ppm`
    * (compression). A language whose fertility runs high pays more
    * context window per sentence; curation pipelines track this per
    * shard before fixing a token budget.
    *
    * Determinism: pure integer counts; per-word merging depends only on
    * the word and the merge list. Symbols are UTF-16 code units on the
    * JVM and characters in DuckDB — identical on the BMP text this
    * corpus carries (documented boundary: astral-plane text would need a
    * codepoint iterator here and nothing else changed). */
  def bpeFertility(docs: DataFrame, textCol: String, groupCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val ms = merges.toIndexedSeq
    Subword.fertility(docs, textCol, groupCol, "n_bpe_tokens")(w => memo.count(w, ms))
  }
}
