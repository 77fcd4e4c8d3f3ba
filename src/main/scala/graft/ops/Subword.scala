package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.TextHash

/** The machinery the three subword-tokenizer families ([[BpeOps]],
  * [[WordPieceOps]], [[UnigramLmOps]]) share, one copy each: the
  * per-thread word memo, the fertility aggregate, and BPE/WordPiece's
  * merge kernels and driver merge-train loop. What differs between the
  * families (round-0 symbolization, candidate ranking, the fused-symbol
  * rule, the Viterbi scorer) stays in the family and is passed in. */
private[graft] object Subword {

  type Merges = IndexedSeq[(String, String)]

  /** PER-THREAD word→token-count memo for an inference kernel: word text
    * is Zipf-distributed, so a bounded map catches the head and the long
    * tail falls through to `tokens` — never wrong, only slower. The key
    * is the whole tokenizer model, built once per call outside the UDF.
    * Thread-local because Spark may share one deserialized UDF closure
    * across executor threads on some plans (local relations); a family
    * holds its memo as a `val` in its object and reaches it statically,
    * never through a closure (a `ThreadLocal` does not serialize), so
    * the map survives across tasks on the same thread, which is exactly
    * the reuse a long scan wants. 2^17 entries ≈ a few MB per thread at
    * worst. */
  final class WordMemo[M <: AnyRef](tokens: (String, M) => Int) {
    private val MemoCap = 1 << 17
    private val tl = new ThreadLocal[(M, java.util.HashMap[String, Integer])]
    def count(word: String, model: M): Int = {
      var st = tl.get()
      // reference check on the hot path: within a task the captured model
      // is one instance. A new task's content-equal instance keeps the
      // memo (re-keyed so the next call is back on the eq fast path); a
      // genuinely different model resets it.
      if (st == null || !(st._1 eq model)) {
        st =
          if (st != null && st._1 == model) (model, st._2)
          else (model, new java.util.HashMap[String, Integer]())
        tl.set(st)
      }
      val hit = st._2.get(word)
      if (hit != null) hit.intValue()
      else {
        val v = tokens(word, model)
        if (st._2.size < MemoCap) st._2.put(word, v)
        v
      }
    }
  }

  /** TOKENIZER FERTILITY per group: `tokensOf` counts one whitespace
    * word's tokens ([[TextHash.words]]), and the output is (group,
    * n_docs, n_words, n_chars, `tokensCol`, tokens_per_word_ppm,
    * chars_per_token_ppm) — fertility (tokens a word costs, the
    * cross-language tokenizer-equity metric) and compression in integer
    * ppm. Map-only over the corpus (the model rides `tokensOf`'s
    * closure) into a group-keyed partial-aggregated sum: one scan, one
    * metadata-sized shuffle. Empty-worded docs count toward `n_docs`
    * with zero words; a group with zero words reports null ratios
    * (CASE-guarded identically in the mirrors). */
  def fertility(docs: DataFrame, textCol: String, groupCol: String, tokensCol: String)(
      tokensOf: String => Int): DataFrame = {
    val stats = udf((text: String) => {
      var nw = 0L; var nc = 0L; var nt = 0L
      TextHash.words(text).foreach { w =>
        nw += 1; nc += w.length
        nt += tokensOf(w)
      }
      (nw, nc, nt)
    })
    docs
      .filter(col(textCol).isNotNull)
      .select(col(groupCol), stats(col(textCol)).as("s"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("s._1")).as("n_words"),
        sum(col("s._2")).as("n_chars"), sum(col("s._3")).as(tokensCol))
      .select(col(groupCol), col("n_docs"), col("n_words"), col("n_chars"),
        col(tokensCol),
        when(col("n_words") > 0,
          expr(s"$tokensCol * 1000000 div n_words")).as("tokens_per_word_ppm"),
        when(col(tokensCol) > 0,
          expr(s"n_chars * 1000000 div $tokensCol")).as("chars_per_token_ppm"))
      .orderBy(col(groupCol))
  }

  /** Adjacent-pair explode over a symbol array, empty for single-symbol
    * words (sequence() would count DOWN on a negative span — guard it). */
  def pairsOf(syms: Column): Column =
    when(size(syms) >= 2,
      transform(sequence(lit(0), size(syms) - 2), i =>
        struct(element_at(syms, i + 1).as("left_sym"),
          element_at(syms, i + 2).as("right_sym"))))
      .otherwise(array().cast("array<struct<left_sym:string,right_sym:string>>"))

  /** Greedy left-to-right, non-overlapping application of one learned
    * merge (l, r) → `fused` — the textbook apply step, used per training
    * round. */
  def applyMerge(syms: Seq[String], l: String, r: String, fused: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out += fused; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Symbol count after applying the whole merge list to one word's
    * round-0 symbols — the [[applyMerge]] fold with the intermediate
    * sequences elided: `syms` is compacted in place, one pass per merge,
    * with the same greedy contract (property-pinned equal to the fold in
    * `BpeOpsSpec` and `WordPieceOpsSpec`). The inference hot path calls
    * this once per memo miss; the fold allocated |merges|+1 sequences per
    * word, which dominated q139's profile. */
  def mergedCount(syms: Array[String], merges: Merges,
      fuse: (String, String) => String): Int = {
    var n = syms.length
    var m = 0
    while (m < merges.length && n > 1) {
      val l = merges(m)._1; val r = merges(m)._2
      var fused: String = null
      var w = 0; var j = 0
      while (j < n) {
        if (j < n - 1 && syms(j) == l && syms(j + 1) == r) {
          if (fused == null) fused = fuse(l, r)
          syms(w) = fused; j += 2
        } else { syms(w) = syms(j); j += 1 }
        w += 1
      }
      n = w; m += 1
    }
    n
  }

  /** The driver MERGE-TRAIN loop over the corpus's (word, wc) table:
    * symbolize every word (`round0`), then up to `rounds` times take the
    * first row of `ranked(words)` — a (left_sym, right_sym, ...) table in
    * selection order — and apply its merge to every word. Returns the
    * selected rows in learned order; stops early once no pair remains.
    * Each round is vocabulary-sized and the word table is checkpointed
    * to keep the lineage flat across rounds. */
  def mergeTrain(docs: DataFrame, textCol: String, rounds: Int, round0: Column => Column,
      fuse: (String, String) => String)(ranked: DataFrame => DataFrame): Seq[Row] = {
    require(rounds >= 1, s"bad rounds: $rounds")
    val mergeUdf = udf((syms: Seq[String], l: String, r: String, fused: String) =>
      applyMerge(syms, l, r, fused))
    val picked = scala.collection.mutable.ArrayBuffer.empty[Row]
    var words = BpeOps.wordCounts(docs, textCol).select(round0(col("word")).as("syms"), col("wc"))
    var done = false
    while (picked.length < rounds && !done) {
      if (picked.nonEmpty) {
        val (l, r) = (picked.last.getString(0), picked.last.getString(1))
        words = words.select(
          mergeUdf(col("syms"), lit(l), lit(r), lit(fuse(l, r))).as("syms"), col("wc"))
      }
      words = words.localCheckpoint()
      val top = ranked(words).limit(1).collect()
      if (top.isEmpty) done = true else picked += top(0)
    }
    picked.toSeq
  }
}
