package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** UNIGRAM-LM (SentencePiece-style) tokenizer TRAINING — the production
  * alternative to [[BpeOps]] (Kudo 2018, arXiv:1804.10959): instead of
  * greedily merging pairs, hold a CANDIDATE PIECE VOCABULARY with costs
  * −ln p(piece) and alternate EM rounds — E-step: segment every word by
  * bounded VITERBI over the candidate pieces (min total cost, ≤ `maxLen`
  * chars per piece); M-step: re-estimate piece counts from segmentation
  * usage and PRUNE to the keep budget (single-character pieces are never
  * pruned and carry a +1 count floor, so every word stays segmentable —
  * the standard character-coverage guarantee).
  *
  * Cross-engine determinism (the catalog's integer-arithmetic contract):
  * costs are INTEGER MICRO-NATS — `round(ln(cnt)·10⁶)` computed by the
  * engine's own SQL expression and mirrored by DuckDB's — so the Viterbi
  * DP, its tie-break (the LONGEST piece achieving the min at each
  * backtrack step), the usage counts and the prune order are exact
  * integer computations on both engines; the only doubles are inside the
  * shared micro-ln convention every ln-consuming query in the catalog
  * already uses.
  *
  * 100 TB shape (the [[BpeOps]] story): the corpus collapses ONCE to the
  * (word, count) table — vocabulary-sized, not corpus-sized; each EM
  * round is one map-only Viterbi pass over that table plus one
  * vocabulary-bounded usage aggregate; the candidate vocabulary itself
  * is bounded (`seedPieces`/`keepPieces` + alphabet) and rides UDF
  * closures, with one bounded driver collect per round (the k-means/BPE
  * driver-state contract). Inference ([[unigramFertility]]) is map-only
  * over the corpus with the frozen vocabulary in the closure.
  */
object UnigramLmOps {

  /** Weighted SUBSTRING counts of the word table — the seed-candidate
    * statistic: every position-anchored substring of length 1..`maxLen`,
    * counted once per occurrence, weighted by word count. */
  private[graft] def seedCounts(words: DataFrame, maxLen: Int): DataFrame =
    words
      .select(col("word"), col("wc"),
        explode(sequence(lit(1), lit(maxLen))).as("l"))
      .filter(length(col("word")) >= col("l"))
      .select(col("wc"),
        explode(sequence(lit(1), length(col("word")) - col("l") + 1)).as("i"),
        col("word"), col("l"))
      .select(col("word").substr(col("i"), col("l")).as("piece"), col("wc"))
      .groupBy("piece")
      .agg(sum(col("wc")).as("cnt"))

  /** Single chars (always) ∪ the top `budget` multi-char pieces by
    * (cnt desc, piece asc) — the shared seed/prune rule. The multi-char
    * sort-limit is over the BOUNDED candidate relation, never the
    * corpus. */
  private def pruned(vocab: DataFrame, budget: Int): DataFrame =
    vocab.filter(length(col("piece")) === 1)
      .unionByName(
        vocab.filter(length(col("piece")) >= 2 && col("cnt") > 0)
          .orderBy(col("cnt").desc, col("piece").asc)
          .limit(budget))

  /** (piece, cnt, cost_micro) with cost = lnMicro(Σcnt) − lnMicro(cnt) —
    * computed as a Spark SQL expression so the engine's rounding IS the
    * convention the DuckDB mirror replays. */
  private def withCosts(vocab: DataFrame, total: Long): DataFrame =
    vocab.select(col("piece"), col("cnt"),
      (round(log(lit(total.toDouble)) * 1e6, 0).cast("long") -
        round(log(col("cnt").cast("double")) * 1e6, 0).cast("long"))
        .as("cost_micro"))

  /** Bounded Viterbi: min-total-cost segmentation of `word` over the
    * cost map (pieces ≤ `maxLen` chars), backtracking with the LONGEST
    * piece achieving the min at each step — the deterministic tie-break
    * the SQL mirror replays ([[graft.sql.UnigramLmSql]]). Throws on an
    * unsegmentable word (cannot happen under the single-char floor). */
  private[graft] def viterbiPieces(
      word: String, cost: Map[String, Long], maxLen: Int): Seq[String] = {
    val n = word.length
    if (n == 0) return Nil
    val dp = new Array[Long](n + 1)
    var i = 1
    while (i <= n) {
      var best = Long.MaxValue
      var k = 1
      val kMax = math.min(maxLen, i)
      while (k <= kMax) {
        val c = cost.getOrElse(word.substring(i - k, i), Long.MaxValue)
        if (c != Long.MaxValue && dp(i - k) + c < best) best = dp(i - k) + c
        k += 1
      }
      require(best != Long.MaxValue,
        s"unsegmentable word (missing single-char piece): $word")
      dp(i) = best
      i += 1
    }
    val out = Seq.newBuilder[String]
    var pos = n
    while (pos > 0) {
      var ks = -1
      var k = 1
      val kMax = math.min(maxLen, pos)
      while (k <= kMax) {
        val p = word.substring(pos - k, pos)
        val c = cost.getOrElse(p, Long.MaxValue)
        if (c != Long.MaxValue && dp(pos - k) + c == dp(pos)) ks = k
        k += 1
      }
      out += word.substring(pos - ks, pos)
      pos -= ks
    }
    out.result()
  }

  /** The driver-coordinated EM loop: seed → `rounds` × (E: Viterbi
    * usage; M: re-count + floor + prune). Returns the FINAL
    * (piece, cnt, cost_micro) relation, still lazy on the cluster side
    * (only the per-round (piece, cost) pairs — bounded — are
    * collected). */
  private[graft] def trainedVocab(
      docs: DataFrame, textCol: String, rounds: Int, maxLen: Int,
      seedPieces: Int, keepPieces: Int): DataFrame = {
    require(rounds >= 1, s"bad rounds: $rounds")
    require(maxLen >= 2, s"bad maxLen: $maxLen")
    val words = BpeOps.wordCounts(docs, textCol).localCheckpoint()
    var vocab = pruned(seedCounts(words, maxLen), seedPieces).localCheckpoint()
    var r = 1
    while (r <= rounds) {
      val total = vocab.agg(coalesce(sum(col("cnt")), lit(0L))).first().getLong(0)
      // empty corpus -> empty vocab -> nothing to segment; stay empty
      if (total == 0L) return vocab.select(col("piece"), col("cnt"),
        lit(null).cast("long").as("cost_micro")).filter(lit(false))
      val cm = costMap(withCosts(vocab, total))
      val mx = maxLen
      val segUdf = udf((w: String) => viterbiPieces(w, cm, mx))
      val usage = words
        .select(explode(segUdf(col("word"))).as("piece"), col("wc"))
        .groupBy("piece")
        .agg(sum(col("wc")).as("usage"))
      val recounted = vocab.join(usage, Seq("piece"), "left")
        .select(col("piece"),
          (coalesce(col("usage"), lit(0L)) +
            when(length(col("piece")) === 1, 1L).otherwise(0L)).as("cnt"))
      vocab = pruned(recounted, keepPieces).localCheckpoint()
      r += 1
    }
    val total = vocab.agg(coalesce(sum(col("cnt")), lit(0L))).first().getLong(0)
    if (total == 0L) vocab.select(col("piece"), col("cnt"),
      lit(null).cast("long").as("cost_micro")).filter(lit(false))
    else withCosts(vocab, total)
  }

  /** TRAIN query entry: the learned piece vocabulary after `rounds` EM
    * rounds — (piece, piece_len, cnt, cost_micro), count-desc (the
    * artifact a unigram tokenizer ships, like [[BpeOps.bpeTrain]]'s
    * merge table). */
  def unigramTrain(
      docs: DataFrame, textCol: String, rounds: Int, maxLen: Int,
      seedPieces: Int, keepPieces: Int): DataFrame =
    trainedVocab(docs, textCol, rounds, maxLen, seedPieces, keepPieces)
      .select(col("piece"), length(col("piece")).cast("long").as("piece_len"),
        col("cnt"), col("cost_micro"))
      .orderBy(col("cnt").desc, col("piece").asc)

  /** The (piece → cost_micro) map of a costed vocabulary — bounded
    * (`keepPieces` + alphabet), collected to ride the Viterbi closures. */
  private def costMap(vocab: DataFrame): Map[String, Long] =
    vocab.select("piece", "cost_micro").collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap

  /** Per-thread word → Viterbi-token-count memo, keyed by the whole
    * model: the cost map AND the piece-length bound. */
  private[graft] val memo = new Subword.WordMemo[(Map[String, Long], Int)](
    (w, m) => viterbiPieces(w, m._1, m._2).length)

  /** UNIGRAM-TOKENIZER FERTILITY profile — [[BpeOps.bpeFertility]]'s
    * sibling over the TRAINED unigram vocabulary (train-then-measure in
    * one query): per group, `tokens_per_word_ppm` and
    * `chars_per_token_ppm` off the Viterbi segmentation under the
    * learned costs. Map-only over the corpus once training's bounded
    * word-table passes finish; the frozen cost map rides the closure. */
  def unigramFertility(
      docs: DataFrame, textCol: String, groupCol: String,
      rounds: Int, maxLen: Int, seedPieces: Int, keepPieces: Int): DataFrame =
    fertilityUnder(costMap(trainedVocab(docs, textCol, rounds, maxLen, seedPieces, keepPieces)),
      docs, textCol, groupCol, maxLen)

  /** The fertility aggregate ([[Subword.fertility]]) under a FROZEN cost
    * map — the map-only inference pass both the train-inline path
    * ([[unigramFertility]]) and the persisted-artifact path
    * ([[unigramFertilityFromVocab]]) run, so the two are bit-equal by
    * construction (spec-pinned). */
  private def fertilityUnder(
      cm: Map[String, Long], docs: DataFrame, textCol: String,
      groupCol: String, maxLen: Int): DataFrame = {
    val model = (cm, maxLen)
    Subword.fertility(docs, textCol, groupCol, "n_unigram_tokens")(w => memo.count(w, model))
  }

  // ---- The PERSISTED vocabulary artifact (the r12 verdict's ask) --------
  // A unigram tokenizer SHIPS its (piece, cnt, cost_micro) table — the
  // BPE merge-table analogue — and production inference reads the frozen
  // artifact, never re-trains. These entry points give the trainer the
  // same build-once/score-many story as the band-key index (q97) and the
  // BM25 postings (q105): write the trained vocabulary once, score any
  // later shard under it.

  /** Persist a trained vocabulary — (piece, cnt, cost_micro), bounded by
    * `keepPieces` + alphabet, so one file is the right layout (a
    * vocabulary is metadata-sized at any corpus scale). */
  def writeVocab(vocab: DataFrame, path: String): Unit =
    vocab.select(col("piece"), col("cnt"), col("cost_micro"))
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a persisted vocabulary artifact, resolved once per session
    * through the table registry ([[graft.io.Tables.parquet]]). */
  def readVocab(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.io.Tables.parquet(spark, path).select(col("piece"), col("cnt"), col("cost_micro"))

  private val vocabMemo = new ArtifactCache[String]

  /** Train-and-persist ONCE per (session, corpus content, sourceKey) —
    * an [[ArtifactCache]] like [[GraphOps.symmetricEdgesShared]], but
    * the memoized value is an ON-DISK path, not a cached relation: the
    * first caller trains and writes the parquet artifact, later callers
    * get the path and READ the frozen file (the production inference
    * shape — the artifact outlives any session cache). Each artifact
    * lives in its own temp directory, deleted when the JVM exits. The
    * cache keys on the session that owns `corpus`; `spark` stays for
    * source compatibility. */
  def vocabArtifactShared(
      spark: org.apache.spark.sql.SparkSession, sourceKey: String,
      corpus: DataFrame)(train: => DataFrame): String =
    vocabMemo(corpus, sourceKey) {
      val dir = java.nio.file.Files.createTempDirectory("graft-unigram-vocab")
      sys.addShutdownHook {
        val paths = java.nio.file.Files.walk(dir)
        try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p =>
          java.nio.file.Files.deleteIfExists(p))
        finally paths.close()
      }
      val path = dir.resolve("vocab.parquet").toString
      writeVocab(train, path)
      path
    }

  /** Fertility of a shard under a FROZEN persisted vocabulary — the
    * delta-scoring entry point (the q97/q184 persisted-screen shape):
    * the vocabulary relation (bounded — keepPieces + alphabet) is
    * collected into the closure cost map and the shard is scored
    * map-only; the corpus that trained the artifact is never re-read.
    * Bit-equal to the train-inline path on the same vocabulary by
    * construction (shared [[fertilityUnder]] kernel; spec-pinned through
    * the write→read round trip). */
  def unigramFertilityFromVocab(
      docs: DataFrame, textCol: String, groupCol: String,
      vocab: DataFrame, maxLen: Int): DataFrame =
    fertilityUnder(costMap(vocab), docs, textCol, groupCol, maxLen)
}
