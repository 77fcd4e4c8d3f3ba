package graft.ops

import graft.functions.TextHash._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operator family for training-data pipelines
  * (SURVEY.md §2.10): heuristic language ID, quality scoring, token
  * counting, and rolling-hash document fingerprinting.
  *
  * Everything is per-row `functions._` composition (codegen'd, no UDFs, no
  * shuffle except the final small aggregations), so each op streams the
  * corpus once regardless of scale.
  */
object TextAnalysisOps {

  /** Text CANONICALIZATION: Unicode NFC (via the codegen
    * [[graft.functions.NfcNormalize]] expression) → controls to spaces →
    * space-run collapse → trim. The pass every corpus runs before
    * tokenizing, hashing, or deduplicating: byte-different encodings of
    * equal text (combining marks vs precomposed, stray control bytes,
    * ragged whitespace) otherwise split dedup keys and token counts.
    *
    * The cleanup regexes are deliberately ASCII-EXPLICIT
    * (`[\x00-\x1f\x7f]`, then `' '+`) rather than `\p{Cntrl}`/`\s` —
    * Java and RE2 define those classes differently, and the DuckDB
    * oracle must select the identical bytes. Controls become spaces
    * FIRST, so tabs/newlines fold into the space collapse. Map-only,
    * one pass; appends `clean_text`, a 0/1 `changed` flag, and the md5
    * `clean_md5` of the canonical bytes (the downstream dedup key). */
  def canonicalize(docs: DataFrame, textCol: String): DataFrame = {
    val clean = trim(regexp_replace(
      regexp_replace(graft.functions.NfcNormalize.nfcCol(col(textCol)),
        "[\\x00-\\x1f\\x7f]", " "),
      " +", " "))
    docs.filter(col(textCol).isNotNull)
      .withColumn("clean_text", clean)
      .withColumn("changed",
        when(col("clean_text") =!= col(textCol), 1L).otherwise(0L))
      .withColumn("clean_md5", md5(col("clean_text")))
  }

  /** Marker-token profiles for the n-gram/stopword language heuristic.
    * Ordered so derived plans and SQL are deterministic. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "an", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "los", "de", "y", "que"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que"),
    "zh" -> Seq("的", "是", "不", "了"))

  /** Heuristic language ID vs the labeled `langCol`: per document, score
    * each candidate language by marker-token occurrences, pick the argmax
    * (ties -> lexicographically first candidate), and return the
    * (true_lang, predicted_lang, n_docs) confusion matrix. */
  def langIdConfusion(docs: DataFrame, textCol: String, langCol: String, idCol: String): DataFrame = {
    // tokenize ONCE into a materialized column: referenced by all profile
    // scores, it would otherwise be inlined (and re-evaluated) per language
    val scored = docs
      .filter(col(textCol).isNotNull)
      .select(
        col(idCol).as("doc_id"),
        col(langCol).as("true_lang"),
        tokens(col(textCol)).as("__toks"))
      .select(
        col("doc_id"),
        col("true_lang"),
        explode(array(langProfiles.map { case (lang, markers) =>
          struct(
            lit(lang).as("cand"),
            size(filter(col("__toks"),
              t => array_contains(array(markers.map(lit): _*), t))).as("score"))
        }: _*)).as("s"))
      .select(col("doc_id"), col("true_lang"), col("s.cand").as("cand"), col("s.score").as("score"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("cand").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("true_lang"), col("cand").as("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("true_lang", "predicted_lang")
  }

  /** Per-document LANGUAGE-MIXTURE profile (code-switching detection) —
    * what [[langIdConfusion]]'s whole-document argmax hides: a document
    * that is half English and half German still gets ONE label, but
    * mixed-language documents poison monolingual training corpora and
    * are exactly what a per-shard language filter mislabels. Each doc's
    * tokens split into fixed `chunkTokens` windows, every chunk gets the
    * [[langProfiles]] marker argmax (score desc, candidate asc — the
    * q27 tiebreak), and the per-doc row reports the chunk-language
    * distribution: majority language + its share, distinct languages,
    * and the mixture entropy in micro-nats (the q173 integer-ln
    * convention: `ln n − (Σ c·ln c)/n` over micro-rounded longs, exact
    * sum, one truncating division, clamped at 0). Entropy near 0 =
    * monolingual; high entropy + low majority share = code-switched.
    *
    * 100 TB shape: ENTIRELY map-side — chunking, per-chunk argmax,
    * distribution and entropy are all array HOFs inside one projection
    * (the marker profiles are literals in the expression tree), so the
    * op is one corpus scan with NO shuffle before the output sort; one
    * row per non-empty doc. */
  def langMixtureProfile(docs: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"bad chunkTokens: $chunkTokens")
    def lnMicro(x: Column): Column =
      round(log(x.cast("double")) * 1e6, 0).cast("long")
    val chunkOf = (i: Column, tk: Column) =>
      slice(tk, i * chunkTokens + 1, lit(chunkTokens))
    val argmaxLang = (ch: Column) => element_at(array_sort(array(
      langProfiles.map { case (lang, markers) =>
        struct(
          (lit(0) - size(filter(ch,
            t => array_contains(array(markers.map(lit): _*), t)))).as("neg"),
          lit(lang).as("cand"))
      }: _*)), 1).getField("cand")
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= 1)
      .select(col("doc_id"), col("__tk"),
        // integer div, not Column./ (which is double division)
        expr(s"CAST((size(__tk) - 1) div $chunkTokens AS INT)").as("__last"))
      .select(col("doc_id"),
        transform(
          sequence(lit(0), col("__last")),
          i => argmaxLang(chunkOf(i, col("__tk")))).as("__langs"))
      .select(col("doc_id"), col("__langs"),
        array_distinct(col("__langs")).as("__dl"))
      .select(col("doc_id"), col("__langs"),
        size(col("__langs")).cast("long").as("n_chunks"),
        size(col("__dl")).cast("long").as("n_langs"),
        element_at(array_sort(transform(col("__dl"), l =>
          struct(
            (lit(0) - size(filter(col("__langs"), x => x === l))).as("neg"),
            l.as("cand")))), 1).as("__top"),
        transform(col("__dl"), l =>
          size(filter(col("__langs"), x => x === l)).cast("long")).as("__cnts"))
      .select(col("doc_id"), col("n_chunks"), col("n_langs"),
        col("__top").getField("cand").as("top_lang"),
        (lit(0L) - col("__top").getField("neg")).as("top_chunks"),
        aggregate(col("__cnts"), lit(0L),
          (acc, c) => acc + c * lnMicro(c)).as("__sclc"))
      .select(col("doc_id"), col("n_chunks"), col("n_langs"),
        col("top_lang"), col("top_chunks"),
        expr("top_chunks * 1000000 div n_chunks").as("top_share_ppm"),
        greatest(
          lnMicro(col("n_chunks")) - expr("__sclc div n_chunks"),
          lit(0L)).as("mix_entropy_micro"))
      .orderBy("doc_id")
  }

  /** Per-document quality profile over an id-sampled subset. All ratios are
    * integer-count divisions in double, rounded — deterministic. */
  def qualityProfile(docs: DataFrame, textCol: String, idCol: String, sampleMod: Int,
      stopwords: Seq[String]): DataFrame = {
    val toks = tokens(col(textCol))
    docs
      .filter(col(textCol).isNotNull && col(idCol) % sampleMod === 0)
      .select(
        col(idCol).as("doc_id"),
        length(col(textCol)).cast("long").as("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        toks.as("__toks"),
        (length(col(textCol)) - length(regexp_replace(col(textCol), "[0-9]", "")))
          .cast("long").as("n_digit_chars"))
      .withColumn("n_stop_tokens",
        size(filter(col("__toks"), t =>
          array_contains(array(stopwords.map(lit): _*), t))).cast("long"))
      .withColumn("avg_token_len",
        round(aggregate(col("__toks"), lit(0L), (a, t) => a + length(t)).cast("double")
          / col("n_tokens"), 6))
      .withColumn("digit_ratio", round(col("n_digit_chars").cast("double") / col("n_chars"), 6))
      .withColumn("stopword_ratio", round(col("n_stop_tokens").cast("double") / col("n_tokens"), 6))
      // Score in EXACT decimal arithmetic: the weighted sum can land
      // precisely on a .5 boundary at 6 dp (e.g. 0.7216495), where binary
      // double noise makes engines round differently. The rounded ratio
      // inputs are exact 6-dp decimals, so decimal math is bit-stable.
      .withColumn("quality_score",
        round(
          least(lit(50), col("n_tokens")).cast("decimal(18,6)") * lit(BigDecimal("0.008"))
            + lit(BigDecimal("0.3")) * (lit(1).cast("decimal(18,6)") - col("digit_ratio").cast("decimal(18,6)"))
            + lit(BigDecimal("0.3")) * col("stopword_ratio").cast("decimal(18,6)"), 6)
          .cast("double"))
      .drop("__toks")
      .orderBy("doc_id")
  }

  /** Corpus-level token statistics: whitespace tokenizer vs a BPE-ish
    * regex tokenizer (letter runs / digit runs / single symbols). 1 row. */
  def tokenStats(docs: DataFrame, textCol: String): DataFrame = {
    val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    docs
      .filter(col(textCol).isNotNull)
      .select(
        size(tokens(col(textCol))).cast("long").as("ws"),
        regexp_count(col(textCol), lit(bpePattern)).cast("long").as("bpe"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws")).as("total_ws_tokens"),
        sum(col("bpe")).as("total_bpe_tokens"),
        max(col("ws")).as("max_ws_tokens"),
        round(sum(col("ws")).cast("double") / count(lit(1)), 6).as("avg_ws_tokens"))
  }

  /** Per-document repetition profile over token bigrams — the Gopher-rule
    * style repetitiousness signal for training-data quality filtering
    * (cf. reference quality heuristics, `main.py` keyword-noise family):
    * `top_bigram_ratio` (share of the single most frequent bigram) and
    * `dup_bigram_ratio` (share of bigrams occurring more than once), both
    * over ALL bigram occurrences, not distinct bigrams. Documents with
    * fewer than two tokens have no bigrams and are absent.
    *
    * Shape: one corpus scan, bigram occurrences emitted by the
    * [[graft.functions.Generators.NgramExplode]] generator (no
    * intermediate array column, so `InferFiltersFromGenerate` has nothing
    * to inline — the explode(HOF) re-evaluation trap documented in
    * `Generators`), then counted with a partial-aggregating groupBy on
    * (doc, bigram) — the count shuffle carries one row per DISTINCT
    * bigram per doc, so highly repetitive documents (the ones this op
    * exists to catch) shuffle the LEAST. Integer counts; ratios are
    * count/count doubles rounded to 6 dp (cross-engine deterministic). */
  def repetitionProfile(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        graft.functions.Generators.ngramExplode(col(textCol), 2).as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_bigrams"),
        max(col("c")).as("__top"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("__dup"))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        round(col("__top").cast("double") / col("n_bigrams"), 6).as("top_bigram_ratio"),
        round(col("__dup").cast("double") / col("n_bigrams"), 6).as("dup_bigram_ratio"))
      .orderBy("doc_id")
  }

  /** Top-k characteristic terms per document by tf-idf with a RATIONAL
    * idf (`n_docs / df`): `ln` is not correctly-rounded-guaranteed in
    * either engine (JVM `Math.log` vs libm), so the log form cannot be
    * bit-stable cross-engine, while `+ - * /` are IEEE exact-rounded —
    * `score = (tf * n_docs) / df` computed in the same operation order on
    * both sides is bit-identical. Rare-term up-weighting (the point of
    * idf) is preserved; the ln form is a one-line swap for library use.
    *
    * Shape: one corpus scan → (doc, term) count shuffle → term-keyed df
    * join (term cardinality ≪ token occurrences after the partial agg) →
    * per-doc top-k window. The scalar corpus count rides in via a
    * broadcast 1-row cross join, never a collect. The (doc, term) frame
    * feeds THREE branches (the join, the df aggregate, the doc count), so
    * it is localCheckpoint'ed — one token-explode scan + one shuffle
    * total, instead of Spark re-deriving the lineage per branch (the
    * [[graft.ops.SimilarityOps.pqAnn]] codebook pattern). The (doc,
    * term, tf) checkpoint is post-aggregation but still corpus-ORDER
    * sized, so the trade is measured at two scales (r10, min-of-3,
    * checkpoint vs `checkpoint = false`): sf0.1 0.91 s vs 1.20 s; a 10×
    * synthetic blow-up (documents unioned 10× under shifted ids) 4.67 s
    * vs 8.96 s — the win GROWS with scale (1.3× → 1.9×) because the
    * re-derived branches re-pay the token explode + shuffle, which scale
    * with the corpus, while the checkpoint write is the already-reduced
    * relation. Checkpoint stays the default. */
  def tfIdfTopTerms(docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val tf = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        graft.functions.Generators.ngramExplode(col(textCol), 1).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df_docs"))
    val n = tf.select(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df_docs"),
        round((col("tf") * col("n_docs")).cast("double") / col("df_docs"), 6).as("score"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df_docs"), col("score"))
      .orderBy("doc_id", "rk")
  }

  /** HASHED-FEATURE LINEAR SCORER: classifier inference at corpus scale
    * as pure relational algebra — the fastText/CCNet-style quality-
    * classifier pass every web-scale pipeline runs, with the model as
    * DATA, not code. Each token hashes to a feature index (the hashing
    * trick, md5 % dim); the document score is the exact integer sum of
    * its tokens' feature weights. Weights here derive deterministically
    * from the feature index (a stand-in for trained weights — a real
    * model ships as a broadcast (idx, weight) relation joined in the
    * same plan shape); keeping weights INTEGER makes the score an exact
    * BIGINT, so ranking cannot diverge cross-engine by a ulp.
    *
    * Shape: map-only token hashing (no vocabulary lookup, no shuffle for
    * inference itself), one partial-agg shuffle on doc id for the
    * per-document sum, top-N sort on the scored relation. At 100 TB the
    * cost is exactly one corpus scan. */
  def hashedLinearScore(
      docs: DataFrame, textCol: String, idCol: String,
      dim: Int, topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1: $topN")
    hashedDocScores(docs, textCol, idCol, dim)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topN)
  }

  /** The (doc_id, score, n_tokens) relation behind [[hashedLinearScore]]
    * and [[scoreThresholdSweep]]: one corpus scan, map-only hashing, one
    * doc-key partial-agg shuffle. */
  private[graft] def hashedDocScores(
      docs: DataFrame, textCol: String, idCol: String, dim: Int): DataFrame = {
    require(dim >= 2, s"feature dim must be >= 2: $dim")
    val idx = pmod(
      conv(substring(md5(col("term")), 1, 7), 16, 10).cast("long"), lit(dim))
    val weight = (idx * 2654435761L) % 1001L - 500L
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        graft.functions.Generators.ngramExplode(col(textCol), 1).as("term"))
      .select(col("doc_id"), weight.as("w"))
      .groupBy("doc_id")
      .agg(sum(col("w")).as("score"), count(lit(1)).as("n_tokens"))
  }

  /** Classifier THRESHOLD SWEEP — the operating-point report that turns
    * a quality score into a keep/drop rule (FineWeb-Edu keeps docs with
    * classifier score ≥ 3; someone had to pick the 3): for each caller-
    * supplied cutoff, how many docs clear it (`pred_pos`), how many of
    * those carry the positive label (`tp`), and the implied precision /
    * recall — in integer parts-per-million (`tp·10^6 div pred_pos`), so
    * no ratio double can diverge cross-engine at a boundary.
    *
    * Thresholds are an EXPLICIT list, not the distinct-score axis — a
    * full PR curve would put a cumulative window over every distinct
    * score (corpus-cardinality-sized); the sweep instead explodes each
    * scored doc to its |thresholds| cells and lets map-side combine
    * collapse every partition to |thresholds| rows before the one
    * constant-sized shuffle (the [[SketchOps.countMinSketch]] shape).
    * Scores and labels come from the SAME relations q74/q99 serve:
    * [[hashedDocScores]] + a boolean label column over the docs table.
    *
    * 100 TB shape: one corpus scan for scores (doc-key partial agg), a
    * metadata-sized label projection co-keyed on doc id, then the
    * constant-bounded threshold aggregate. No window, no sort beyond
    * the |thresholds|-row output. */
  def scoreThresholdSweep(
      docs: DataFrame, textCol: String, idCol: String, labelExpr: Column,
      dim: Int, thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    require(thresholds.distinct.length == thresholds.length,
      s"duplicate thresholds: $thresholds")
    val labels = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), labelExpr.as("label"))
    hashedDocScores(docs, textCol, idCol, dim)
      .join(labels, "doc_id")
      .select(col("score"), col("label"),
        explode(array(thresholds.map(lit(_)): _*)).as("threshold"))
      .groupBy("threshold")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("score") >= col("threshold"), 1L).otherwise(0L)).as("pred_pos"),
        sum(when(col("score") >= col("threshold") && col("label"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("label"), 1L).otherwise(0L)).as("actual_pos"))
      .select(col("threshold"), col("n_docs"), col("pred_pos"), col("tp"),
        col("actual_pos"),
        when(col("pred_pos") === 0, 0L)
          .otherwise(expr("tp * 1000000 div pred_pos")).as("precision_ppm"),
        when(col("actual_pos") === 0, 0L)
          .otherwise(expr("tp * 1000000 div actual_pos")).as("recall_ppm"))
      .orderBy("threshold")
  }

  /** In-engine quality-classifier TRAINING — the training half of
    * [[hashedLinearScore]]'s inference: a POOLED (batch) perceptron over
    * hashed bag-of-token features, integer arithmetic end to end. Per
    * epoch: score every doc with the current weights (one broadcast join
    * + doc-key partial agg), pool the misclassified docs' feature
    * updates (`w += Σ y·count` — one feature-key agg), apply. Pooling is
    * what makes the perceptron DISTRIBUTED and deterministic: the
    * classic per-sample update is inherently sequential, but the pooled
    * step is one associative aggregate per epoch, independent of row
    * order and partitioning (the same move that makes Lloyd k-means a
    * DataFrame op). All-integer scores and weights mean the DuckDB
    * mirror (epochs unrolled as CTEs, [[graft.sql.TextAnalysisSql]])
    * is bit-exact — no learning-rate doubles, no sigmoid.
    *
    * `labelExpr` is any boolean column (y = +1/−1); prediction is
    * `score > 0`. Feature hashing is [[hashedLinearScore]]'s md5 map,
    * so trained weights drop into the same serving shape.
    *
    * 100 TB shape: the (doc, feature, count) relation is computed ONCE
    * (localCheckpoint) and feeds every epoch; weights are `dim` rows
    * broadcast to the scorers; each epoch is two map-side-combinable
    * aggregates and a metadata-sized misclassified join — no collect,
    * no driver-side data, lineage truncated per epoch. */
  def perceptronTrain(
      docs: DataFrame, textCol: String, idCol: String,
      labelExpr: Column, dim: Int, epochs: Int): DataFrame = {
    require(dim >= 2, s"feature dim must be >= 2: $dim")
    require(epochs >= 1, s"epochs must be >= 1: $epochs")
    val spark = docs.sparkSession
    val fIdx = pmod(
      conv(substring(md5(col("term")), 1, 7), 16, 10).cast("long"), lit(dim))
    val tf = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        when(labelExpr, 1L).otherwise(-1L).as("y"),
        graft.functions.Generators.ngramExplode(col(textCol), 1).as("term"))
      .select(col("doc_id"), col("y"), fIdx.as("f"))
      .groupBy("doc_id", "y", "f")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    var w: DataFrame = spark.range(dim.toLong)
      .select(col("id").as("f"), lit(0L).as("weight"))
    var t = 0
    while (t < epochs) {
      val scores = tf
        .join(broadcast(w), "f")
        .groupBy("doc_id", "y")
        .agg(sum(col("c") * col("weight")).as("s"))
      val mis = scores
        .filter(when(col("s") > 0, 1L).otherwise(-1L) =!= col("y"))
        .select(col("doc_id").as("__mid"))
      val upd = tf
        .join(mis, col("doc_id") === col("__mid"))
        .groupBy("f")
        .agg(sum(col("y") * col("c")).as("__d"))
      w = w.join(upd, Seq("f"), "left")
        .select(col("f"), (col("weight") + coalesce(col("__d"), lit(0L))).as("weight"))
        .localCheckpoint()
      t += 1
    }
    w.orderBy("f")
  }

  /** Gopher-style composite quality filter (Rae et al. 2021 §A1.1
    * adapted to the available signals): evaluate seven document rules and
    * histogram the joint rule BITMASK over the corpus — mask 0 is the
    * surviving clean set, every other mask says exactly which rules
    * co-fired. Bits: 1 = token count outside [minTokens, maxTokens];
    * 2 = mean token length outside [3, 10]; 4 = fewer than `minStops`
    * stopword occurrences; 8 = top bigram > 20% of bigram occurrences;
    * 16 = duplicated bigrams > 40% of bigram occurrences; (r8, the two
    * remaining doc-level Gopher rules) 32 = fewer than 80% of tokens
    * contain an alphabetic character (`5·n_alpha < 4·n_tokens`); 64 =
    * symbol-to-token ratio over 10% (`#`/`…` hash-or-ellipsis tokens,
    * `10·n_sym > n_tokens`).
    *
    * Every threshold compares INTEGERS by cross-multiplication (e.g.
    * `5·top > n` instead of `top/n > 0.2`) — no ratio doubles anywhere,
    * so engines can't diverge by a ulp on the boundary. Docs with < 2
    * tokens have no bigrams; bits 8/16 stay clear. Shape: one pure-map
    * token pass + the (doc, bigram) partial-agg shuffle, joined per doc. */
  def gopherRuleProfile(
      docs: DataFrame, textCol: String, idCol: String, stopwords: Seq[String],
      minTokens: Long, maxTokens: Long, minStops: Long): DataFrame =
    gopherRuleMask(docs, textCol, idCol, stopwords, minTokens, maxTokens, minStops)
      .select(col("rule_mask"))
      .groupBy("rule_mask")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("rule_mask")

  /** Per-document form of [[gopherRuleProfile]]: one row per non-null-text
    * doc with (doc_id, n_tokens, rule_mask) — the reusable quality-filter
    * stage ([[CurationOps]] keeps mask==0 docs). Same integer
    * cross-multiplied thresholds; same one-token-scan + one-bigram-shuffle
    * cost. */
  def gopherRuleMask(
      docs: DataFrame, textCol: String, idCol: String, stopwords: Seq[String],
      minTokens: Long, maxTokens: Long, minStops: Long): DataFrame = {
    val toksC = tokens(col(textCol))
    val tokenSide = docs
      .filter(col(textCol).isNotNull)
      .select(
        col(idCol).as("doc_id"),
        size(toksC).cast("long").as("n_tokens"),
        aggregate(toksC, lit(0L), (a, t) => a + length(t)).as("tok_chars"),
        size(filter(toksC, t =>
          array_contains(array(stopwords.map(lit): _*), t))).cast("long").as("n_stop"),
        size(filter(toksC, t => t.rlike("[a-zA-Z]"))).cast("long").as("n_alpha"),
        size(filter(toksC, t => t.rlike("[#…]"))).cast("long").as("n_sym"))
    val bigramSide = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        graft.functions.Generators.ngramExplode(col(textCol), 2).as("bg"))
      .groupBy("doc_id", "bg")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_bg"),
        max(col("c")).as("top_bg"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_bg"))
    val mask =
      when(col("n_tokens") < minTokens || col("n_tokens") > maxTokens, 1L).otherwise(0L) +
        when(col("tok_chars") < col("n_tokens") * 3L
          || col("tok_chars") > col("n_tokens") * 10L, 2L).otherwise(0L) +
        when(col("n_stop") < minStops, 4L).otherwise(0L) +
        when(col("top_bg") * 5L > col("n_bg"), 8L).otherwise(0L) +
        when(col("dup_bg") * 5L > col("n_bg") * 2L, 16L).otherwise(0L) +
        when(col("n_alpha") * 5L < col("n_tokens") * 4L, 32L).otherwise(0L) +
        when(col("n_sym") * 10L > col("n_tokens"), 64L).otherwise(0L)
    tokenSide
      .join(bigramSide, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_bg", "top_bg", "dup_bg"))
      .select(col("doc_id"), col("n_tokens"), mask.as("rule_mask"))
  }

  /** Default scrub pattern set: PII shapes (email, IPv4) plus a content
    * deny-list — (name, regex, replacement), applied in order. Regexes are
    * written in the Java/RE2 common subset (see [[patternScrub]]). */
  val scrubPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("denylist", "\\b(customer|secret)\\b", "<TERM>"))

  /** PII / deny-list pattern scrub: per document, count matches of each
    * named regex and emit the md5 checksum of the text AFTER applying
    * every (pattern → replacement) in declaration order — the C4-style
    * "bad words" filter plus PII redaction (emails, phones, IPs), with
    * the checksum standing in for the scrubbed text so the full rewrite
    * is verified without shipping it.
    *
    * Pure per-row projection: codegen'd regexes, no shuffle, one corpus
    * scan — the 100 TB shape for a scrub pass. Patterns must stay within
    * the regex intersection both engines implement identically (character
    * classes, `\b`, bounded repetition; no backrefs/lookaround — those
    * are Java-only and would silently diverge from the RE2-style oracle). */
  def patternScrub(
      docs: DataFrame, textCol: String, idCol: String, sampleMod: Int,
      patterns: Seq[(String, String, String)]): DataFrame = {
    require(patterns.nonEmpty, "need at least one (name, regex, replacement)")
    val counts = patterns.map { case (name, re, _) =>
      regexp_count(col(textCol), lit(re)).cast("long").as(s"n_$name")
    }
    val scrubbed = patterns.foldLeft(col(textCol)) {
      case (c, (_, re, repl)) => regexp_replace(c, re, repl)
    }
    docs
      .filter(col(textCol).isNotNull && col(idCol) % sampleMod === 0)
      .select(col(idCol).as("doc_id") +: counts :+ md5(scrubbed).as("scrubbed_md5"): _*)
      .orderBy("doc_id")
  }

  /** Per-group PATTERN DENSITY — the PII/deny-list AUDIT TABLE read
    * before deciding where [[patternScrub]]'s redaction must run: per
    * group (source / dump), how many docs carry at least one match of
    * each named pattern, total match counts, and matches per million
    * characters. A source whose email density towers over the rest is a
    * scrape of a contact-bearing site; density ≈ 0 means scrubbing that
    * source is wasted compute.
    *
    * Output per group: (n_docs, n_chars, then per pattern `docs_<name>`
    * and `n_<name>`, then `hit_docs_ppm` — docs with ANY match — and
    * `match_per_mchar` over all patterns), ordered by group.
    *
    * 100 TB shape: ONE map-only scan (regexp_count per pattern, codegen)
    * into a group-keyed partial aggregate — ≤ #groups rows out, no
    * shuffle of text. */
  def patternDensity(
      docs: DataFrame, textCol: String, groupCol: String,
      patterns: Seq[(String, String, String)]): DataFrame = {
    require(patterns.nonEmpty, "need at least one (name, regex, replacement)")
    val perDoc = patterns.map { case (name, re, _) =>
      regexp_count(col(textCol), lit(re)).cast("long").as(s"__c_$name")
    }
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(groupCol) +: length(col(textCol)).cast("long").as("__len") +: perDoc: _*)
    val aggs =
      Seq(count(lit(1)).as("n_docs"), sum(col("__len")).as("n_chars")) ++
        patterns.flatMap { case (name, _, _) =>
          Seq(
            sum(when(col(s"__c_$name") > 0, 1L).otherwise(0L)).as(s"docs_$name"),
            sum(col(s"__c_$name")).as(s"n_$name"))
        }
    val anyHit = patterns.map(p => col(s"__c_${p._1}") > 0).reduce(_ || _)
    base
      .withColumn("__any", when(anyHit, 1L).otherwise(0L))
      .groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail :+ sum(col("__any")).as("__hits"): _*)
      .withColumn("hit_docs_ppm", expr("__hits * 1000000 div n_docs"))
      .withColumn("match_per_mchar",
        expr(s"(${patterns.map(p => s"n_${p._1}").mkString(" + ")}) * 1000000 div n_chars"))
      .drop("__hits")
      .orderBy(groupCol)
  }

  /** BOILERPLATE PREFIX detection — per group, the most common
    * `prefixLen`-token document OPENING and its share of the group's
    * docs: crawl dumps and template mills start every page with the same
    * header ("subscribe to our newsletter …"), and a prefix share far
    * above 1/vocab-diversity is the cheap tell that a source needs
    * header stripping BEFORE dedup (exact dedup misses it — the bodies
    * differ). The per-doc sibling is the q66 prefix-containment check;
    * this is the per-SOURCE rollup.
    *
    * Output per group: (prefix, n_docs, n_prefix, share_ppm), the top
    * prefix by (count desc, prefix asc), ordered by group.
    *
    * 100 TB shape: one map-only prefix projection, one (group, prefix)
    * partial-agg shuffle (short strings, never full text), one bounded
    * per-group argmax via lexicographic struct-max. */
  def boilerplatePrefixes(
      docs: DataFrame, textCol: String, groupCol: String,
      prefixLen: Int): DataFrame = {
    require(prefixLen >= 1, s"bad prefixLen: $prefixLen")
    val toks = graft.functions.TextHash.tokens(col(textCol))
    val counts = docs.filter(col(textCol).isNotNull)
      .select(col(groupCol).as("g"),
        concat_ws(" ", slice(toks, 1, prefixLen)).as("prefix"))
      .filter(col("prefix") =!= "")
      .groupBy("g", "prefix")
      .agg(count(lit(1)).as("n_prefix"))
    val totals = counts.groupBy("g").agg(sum(col("n_prefix")).as("n_docs"))
    counts
      // argmax by (count desc, prefix asc): negate the count in a struct
      // min — map-side combinable, no per-group window
      .groupBy("g")
      .agg(min(struct((-col("n_prefix")).as("nc"), col("prefix"))).as("best"))
      .join(broadcast(totals), Seq("g"))
      .select(col("g").as(groupCol), col("best.prefix").as("prefix"),
        col("n_docs"), (-col("best.nc")).as("n_prefix"))
      .withColumn("share_ppm", expr("n_prefix * 1000000 div n_docs"))
      .orderBy(groupCol)
  }

  /** Tokenizer VOCABULARY build + out-of-vocabulary coverage — the
    * "how big must the vocab be" question every tokenizer-training run
    * answers first (cf. BPE/WordPiece sizing studies): take the top
    * `vocabSize` terms by corpus frequency as the vocabulary and report,
    * in ONE summary row, how much of the token stream it covers.
    * Columns (all exact BIGINT + one rounded double):
    * `vocab_size` (actual, ≤ `vocabSize`), `n_types` (distinct terms),
    * `total_tokens`, `vocab_tokens` (occurrences covered), `oov_tokens`,
    * `oov_types`, `coverage_ratio` = vocab_tokens/total_tokens.
    *
    * Shape: one corpus scan ([[graft.functions.Generators.NgramExplode]]
    * occurrences) → one map-side-combined (term, count) shuffle; the
    * count frame is term-cardinality-sized and feeds two branches (vocab
    * selection + corpus totals), so it is localCheckpoint'ed. Vocab
    * selection is `orderBy(count desc, term asc).limit(V)` — Spark plans
    * a distributed TakeOrdered (per-partition top-V, merge of V-row
    * partials), NEVER a global sort or a single-partition window, so the
    * selection is bounded by V at any corpus size. Coverage needs no
    * second corpus pass: OOV mass = total − vocab sums, computed on the
    * two 1-row aggregates. Deterministic: the (count desc, term asc)
    * order is total, so boundary ties resolve identically everywhere. */
  def vocabCoverage(docs: DataFrame, textCol: String, vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1: $vocabSize")
    val counts = docs
      .filter(col(textCol).isNotNull)
      .select(graft.functions.Generators.ngramExplode(col(textCol), 1).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val vocab = counts.orderBy(col("c").desc, col("term").asc).limit(vocabSize)
    val tot = counts.agg(
      count(lit(1)).as("n_types"),
      coalesce(sum(col("c")), lit(0L)).as("total_tokens"))
    val va = vocab.agg(
      count(lit(1)).as("vocab_size"),
      coalesce(sum(col("c")), lit(0L)).as("vocab_tokens"))
    va.crossJoin(tot)
      .select(
        col("vocab_size"), col("n_types"), col("total_tokens"), col("vocab_tokens"),
        (col("total_tokens") - col("vocab_tokens")).as("oov_tokens"),
        (col("n_types") - col("vocab_size")).as("oov_types"),
        when(col("total_tokens") > 0,
          round(col("vocab_tokens").cast("double") / col("total_tokens"), 6))
          .otherwise(0d).as("coverage_ratio"))
  }

  /** Document CHUNKING for retrieval / context windows: split each doc
    * into `chunk`-token windows starting every `stride` tokens (overlap =
    * `chunk - stride` when `stride < chunk` — the RAG convention, so no
    * answer span is ever cut without a copy that contains it whole).
    * Output one row per chunk: (doc_id, chunk_idx, n_chunk_tokens,
    * chunk_md5) — the checksum stands in for the chunk payload so the
    * result stays hashable at the gate; library callers who need the text
    * select `chunk` off [[graft.functions.Generators.ChunkExplode]]
    * directly. The sibling of [[graft.ops.SampleOps.packSequences]]
    * (which concatenates SHORT docs up to the window; this splits LONG
    * ones).
    *
    * Shape: map-only — one corpus scan, chunks emitted by the
    * [[graft.functions.Generators.ChunkExplode]] generator (one JVM pass
    * per doc; no intermediate array for `InferFiltersFromGenerate` to
    * inline), md5 per chunk, no shuffle at all. The total ORDER BY is the
    * catalog's determinism contract, not part of the operator cost. */
  def chunkDocuments(
      docs: DataFrame, textCol: String, idCol: String,
      chunk: Int, stride: Int): DataFrame =
    chunkRows(docs, textCol, idCol, chunk, stride)
      .orderBy("doc_id", "chunk_idx")

  /** The UNORDERED chunking stage of [[chunkDocuments]] — stateless and
    * map-only, so it applies verbatim to a document STREAM (no state, no
    * watermark; a doc chunks identically whether it arrives in a
    * micro-batch or a batch scan — [[graft.streaming.StreamingOps]]
    * exposes it as `streamingChunks`, agreement spec-pinned). */
  def chunkRows(
      docs: DataFrame, textCol: String, idCol: String,
      chunk: Int, stride: Int): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        graft.functions.Generators.chunkExplode(col(textCol), chunk, stride)
          .as(Seq("chunk_idx", "n_chunk_tokens", "chunk")))
      .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
        md5(col("chunk")).as("chunk_md5"))

  /** Rolling-hash document fingerprint: polynomial fold of per-token
    * md5-derived hashes mod 2^31-1 (base 131). Order-sensitive (unlike the
    * SimHash/MinHash set signatures) — two docs with the same tokens in a
    * different order fingerprint differently. */
  def fingerprints(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val p = 2147483647L
    val toks = tokens(col(textCol))
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), toks.as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(
        col("doc_id"),
        aggregate(
          transform(col("__toks"), t => hash60(t) % p),
          lit(0L),
          (h, x) => (h * 131L + x) % p).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** (doc_id, __hs, __fp) — positional shingle-hash sequence and the
    * DISTINCT winnowing fingerprint set per doc, the shared map-only
    * front half of [[winnowingFingerprints]] and [[winnowingPairs]]. */
  private def winnowingSets(
      docs: DataFrame, textCol: String, idCol: String,
      k: Int, win: Int): DataFrame = {
    require(k >= 1, s"shingle width must be >= 1: $k")
    require(win >= 1, s"window must be >= 1: $win")
    val toks = graft.functions.TextHash.tokens(col(textCol))
    val hs = transform(
      graft.functions.TextHash.orderedShingles(col("__toks"), k),
      s => graft.functions.TextHash.hash28(s))
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), toks.as("__toks"))
      .filter(size(col("__toks")) >= k + win - 1)
      .select(col("doc_id"), hs.as("__hs"))
      .select(col("doc_id"), col("__hs"),
        array_distinct(transform(
          sequence(lit(1), size(col("__hs")) - (win - 1)),
          j => array_min(slice(col("__hs"), j, lit(win))))).as("__fp"))
  }

  /** WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): slide a `win`-wide window over
    * the document's POSITIONAL `k`-gram shingle-hash sequence and keep
    * each window's MINIMUM hash; the distinct selected hashes are the
    * document's fingerprint set. The guarantee that makes this the
    * standard local fingerprinting scheme: any substring match of at
    * least win + k − 1 tokens spans a whole window on both sides, so the
    * two documents provably share that window's minimum — no shared
    * fingerprint can be missed by selection (MinHash promises this only
    * probabilistically), while storage drops to an expected 2/(win+1)
    * density of the shingle count.
    *
    * Relation to the family: [[fingerprints]] is one order-sensitive
    * hash per doc (identity), [[DedupOps.shingleHashSets]] keeps EVERY
    * distinct shingle hash (exact containment/Jaccard verify),
    * winnowing is the guaranteed-recall MIDDLE — a position-aware
    * selected subset sized for persistence, the plagiarism/boilerplate
    * screen shape. Same 28-bit md5 shingle hashes as the MinHash
    * family, so winnowed sets are directly comparable to (and could
    * seed) the verify-side hash sets.
    *
    * Map-only: tokens → ordered shingle hashes → window minima are all
    * per-row array expressions (no shuffle, no state; the one Exchange
    * in the plan is the final presentation sort — plan-pinned). Docs too
    * short for one full window (tokens < k + win − 1) carry no
    * fingerprint and are absent, the [[DedupOps.shingleHashSets]] gate
    * convention. Output: (doc_id, n_shingles, n_windows, n_fp, fp_md5)
    * with the checksum over the sorted fingerprint set. */
  def winnowingFingerprints(
      docs: DataFrame, textCol: String, idCol: String,
      k: Int, win: Int): DataFrame = {
    winnowingSets(docs, textCol, idCol, k, win)
      .select(
        col("doc_id"),
        size(col("__hs")).cast("long").as("n_shingles"),
        (size(col("__hs")) - (win - 1)).cast("long").as("n_windows"),
        size(col("__fp")).cast("long").as("n_fp"),
        md5(array_join(transform(array_sort(col("__fp")), x => x.cast("string")), ","))
          .as("fp_md5"))
      .orderBy("doc_id")
  }

  /** WINNOWING FINGERPRINT PAIRS — MOSS-style clone detection (Schleimer
    * et al. SIGMOD 2003, the pairing half): documents sharing ≥
    * `minShared` DISTINCT winnowing fingerprints, scored by the share of
    * the SMALLER document's fingerprint set that is common (the
    * containment orientation — an excerpt buried in a long doc still
    * scores high). The winnowing guarantee carries over: any common
    * substring of ≥ win+k−1 tokens forces ≥ 1 shared fingerprint, so the
    * pair relation has GUARANTEED recall on long verbatim overlaps at
    * ~2/(win+1) of the positional-index cost — the structural complement
    * of MinHash (whole-document similarity, probabilistic) and of the
    * segment dedupers (fixed grids).
    *
    * 100 TB shape: the fingerprint relation is the same map-only front
    * half q122 ships; candidate pairs come from fingerprint-key buckets
    * with the familiar `maxBucket` degenerate cap and the lazy
    * [[graft.functions.Generators.PairsExplode]] — cost scales with
    * bucket collisions, never n²; the shared count is ONE (pair-key)
    * aggregate (each fingerprint is distinct per doc, so a pair's
    * meetings count its shared fingerprints exactly). Integer ppm. */
  def winnowingPairs(
      docs: DataFrame, textCol: String, idCol: String,
      k: Int, win: Int, minShared: Int, limit: Int,
      maxBucket: Int = 1000): DataFrame = {
    require(minShared >= 1, s"bad minShared: $minShared")
    require(limit >= 1, s"bad limit: $limit")
    // one-pass Generator, NOT explode(winnowingSets(...).__fp): the
    // Generate stage over the 4-deep nested-lambda fingerprint expression
    // re-emits the whole chain per codegen reference — Janino measurably
    // spent ~60 s compiling the fused stage per fresh plan (see
    // functions.Generators.WinnowExplode); arithmetic is identical and
    // spec-pinned equal to winnowingSets' __fp
    val fps = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        graft.functions.Generators.winnowExplode(col(textCol), k, win)
          .as(Seq("n_fp", "fp")))
    NearDup.bucketPairs(fps, Seq("fp"), struct(col("doc_id").as("id"), col("n_fp")), maxBucket,
        Seq("a", "b"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        col("a.n_fp").as("na"), col("b.n_fp").as("nb"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("na").as("n_fp_a"), col("nb").as("n_fp_b"),
        expr("n_shared * 1000000 div least(na, nb)").as("overlap_ppm"))
      .orderBy(col("overlap_ppm").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(limit)
  }

  /** Adjacent token-bigram explode: (prev, cur) structs, empty below two
    * tokens (guarded — a negative `sequence` span would count DOWN). */
  private def bigramsOf(tk: Column): Column =
    when(size(tk) >= 2,
      transform(sequence(lit(0), size(tk) - 2), i =>
        struct(element_at(tk, i + 1).as("prev"), element_at(tk, i + 2).as("cur"))))
      .otherwise(array().cast("array<struct<prev:string,cur:string>>"))

  /** BIGRAM-LM PERPLEXITY FILTER (CCNet-style): train an add-one-smoothed
    * bigram language model on the reference half of the corpus
    * (`idCol % 2 == 1`), score every held-out doc (`% 2 == 0`) by its
    * per-bigram negative log-likelihood, and surface the `topN` most
    * surprising docs — the classic second quality signal next to the
    * linear classifier ([[hashedLinearScore]]): gibberish, boilerplate,
    * and wrong-language text all score high NLL under a clean-reference
    * LM.
    *
    *   p(cur | prev) = (c(prev,cur) + 1) / (c(prev) + V)
    *
    * with V = distinct unigram types in the training half; unseen
    * prev/bigram counts coalesce to 0, so the formula covers OOV exactly.
    *
    * Determinism: counts and V are exact integers, p is a ratio of
    * integers, and each bigram OCCURRENCE's −ln(p) is rounded to integer
    * micro-nats before the per-doc sum — the BM25 convention
    * ([[RetrievalOps.bm25TopK]]): integer summation is order-immune, so
    * the score is bit-stable under any partitioning or engine. The
    * per-doc average is integer division (sum // n).
    *
    * 100 TB shape: training is one bigram-count shuffle over the
    * reference half (map-side combinable; the count table is
    * bigram-vocabulary-sized, heavy-tailed). Scoring shuffles scored-doc
    * bigram occurrences against that table on the bigram key, plus one
    * unigram join on prev — for a small reference LM both count tables
    * broadcast instead (AQE does this when they fit); the plan degrades
    * gracefully to shuffle joins when the LM outgrows memory. Final
    * per-doc aggregate is one partial-agg shuffle; topN is a bounded
    * TakeOrdered, never a global sort. */
  def bigramLmNll(docs: DataFrame, textCol: String, idCol: String,
      topN: Int): DataFrame = {
    require(topN >= 1, s"bad topN: $topN")
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))

    val train = base.filter(col("doc_id") % 2 === 1)
    val uni = train
      .select(explode(col("tk")).as("w"))
      .groupBy(col("w").as("prev")).agg(count(lit(1)).as("cu"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bi = train
      .select(explode(bigramsOf(col("tk"))).as("b"))
      .groupBy(col("b.prev").as("prev"), col("b.cur").as("cur"))
      .agg(count(lit(1)).as("cb"))

    val scoredBigrams = base.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), explode(bigramsOf(col("tk"))).as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.cur").as("cur"))

    val p = (coalesce(col("cb"), lit(0L)) + 1).cast("double") /
      (coalesce(col("cu"), lit(0L)) + col("v")).cast("double")
    scoredBigrams
      .join(bi, Seq("prev", "cur"), "left")
      .join(uni, Seq("prev"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(-log(p) * lit(1e6), 0).cast("long").as("nll_micro"))
      .groupBy("doc_id")
      .agg(sum(col("nll_micro")).as("nll_micro_sum"),
        count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_micro_sum"),
        expr("nll_micro_sum div n_bigrams").as("avg_nll_micro"))
      .orderBy(col("avg_nll_micro").desc, col("doc_id").asc)
      .limit(topN)
  }

  /** TERM DRIFT between two corpus slices: the chi-square statistic of
    * each term's 2×2 contingency table (term vs other-tokens × slice A vs
    * slice B) — the distribution-shift monitor a production pipeline runs
    * between crawl snapshots, sources, or time windows to catch topical
    * drift, template changes, and spam bursts before they hit training.
    * `sideCol` is a caller-computed 0/1 slice label (parity, month
    * bucket, source flag — the op does not care).
    *
    * Arithmetic contract: counts are exact BIGINTs off one aggregate; the
    * chi² itself is double but every multiply/divide is IEEE
    * exact-rounded and evaluated in one pinned operation order on both
    * engines (no ln, no variance estimate), so the ranking cannot differ
    * by a ulp. `minCount` floors total occurrences (chi² is unreliable
    * on tiny cells). Returns (term, n_a, n_b, chi2) by chi2 desc.
    *
    * Shape: ONE token-explode scan → one (term) partial-agg shuffle; the
    * slice totals derive from the term aggregate itself (summing the
    * term counts — no second corpus pass), broadcast back as one row.
    * The term-count frame feeds both branches, so it is
    * localCheckpoint'ed (the tf-idf precedent). */
  def termDrift(
      docs: DataFrame, textCol: String, sideCol: String,
      minCount: Long = 10, topN: Int = 50): DataFrame = {
    require(topN >= 1 && minCount >= 1, s"bad minCount=$minCount/topN=$topN")
    val c0 = docs
      .filter(col(textCol).isNotNull && col(sideCol).isNotNull)
      .select(col(sideCol).cast("int").as("side"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy("term")
      .agg(
        sum(when(col("side") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("n_b"))
      .localCheckpoint()
    val totals = c0.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    val oa = col("ta") - col("n_a")
    val ob = col("tb") - col("n_b")
    val det = col("n_a").cast("double") * ob - col("n_b").cast("double") * oa
    val chi2 = ((col("ta") + col("tb")).cast("double") * det * det) /
      ((col("n_a") + col("n_b")).cast("double") * (oa + ob) * col("ta") * col("tb"))
    c0.filter(col("n_a") + col("n_b") >= minCount)
      .crossJoin(broadcast(totals))
      .select(col("term"), col("n_a"), col("n_b"), round(chi2, 6).as("chi2"))
      .orderBy(col("chi2").desc, col("term").asc)
      .limit(topN)
  }

  /** PMI COLLOCATION mining: the corpus's most associated adjacent word
    * pairs — ranked by LIFT p(x,y)/(p(x)·p(y)), the monotone exponential
    * of pointwise mutual information (Church & Hanks 1990). Collocations
    * feed phrase-vocabulary induction for tokenizers and quality
    * analysis (boilerplate has distinctive high-lift pairs). `minCount`
    * drops singleton-noise pairs (the classic PMI failure mode: a pair
    * seen once between two hapax words scores arbitrarily high).
    *
    * Arithmetic contract: no `ln` anywhere (PMI's log is monotone, so
    * ranking by the raw lift ratio is the same ranking, and `+ - * /`
    * are IEEE exact-rounded where `ln` is not cross-engine) — lift =
    * (c_xy·N·N)/(M·c_x·c_y) evaluated in that literal operation order on
    * both engines, rounded 6 dp for display; ties break by pair text.
    *
    * Shape: one aggregate pass for unigram counts, one for bigram
    * counts — and NOTHING else touches the corpus: the totals (N tokens,
    * M bigrams) are the SUMS of those two aggregates' counts, computed
    * from the vocabulary-sized relations and broadcast back as one row.
    * The pair relation (vocabulary², bounded far below occurrence count
    * after the partial agg) joins the unigram counts twice on the term
    * key. Both aggregates feed two consumers each, so they are
    * localCheckpoint'ed. */
  def pmiCollocations(
      docs: DataFrame, textCol: String,
      minCount: Long = 5, topN: Int = 50): DataFrame = {
    require(minCount >= 1 && topN >= 1, s"bad minCount=$minCount/topN=$topN")
    val base = docs.filter(col(textCol).isNotNull)
      .select(tokens(col(textCol)).as("tk"))
    val uni = base.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
      .localCheckpoint()
    val pairs0 = base.select(explode(bigramsOf(col("tk"))).as("b"))
      .groupBy(col("b.prev").as("term_a"), col("b.cur").as("term_b"))
      .agg(count(lit(1)).as("n_pair"))
      .localCheckpoint()
    val totals = uni.agg(sum(col("cw")).as("n_tokens"))
      .crossJoin(pairs0.agg(sum(col("n_pair")).as("m_bigrams")))
    val pairs = pairs0.filter(col("n_pair") >= minCount)
    pairs
      .join(uni.select(col("w").as("term_a"), col("cw").as("ca")), "term_a")
      .join(uni.select(col("w").as("term_b"), col("cw").as("cb")), "term_b")
      .crossJoin(broadcast(totals))
      .select(col("term_a"), col("term_b"), col("n_pair"),
        round((col("n_pair").cast("double") * col("n_tokens") * col("n_tokens"))
          / (col("m_bigrams").cast("double") * col("ca") * col("cb")), 6).as("lift"))
      .orderBy(col("lift").desc, col("term_a").asc, col("term_b").asc)
      .limit(topN)
  }

  /** Per-document n-gram NOVELTY profile: how much of each document's
    * distinct n-gram vocabulary already appeared in an EARLIER document
    * (smaller id) anywhere in the corpus — the cross-document
    * memorization/boilerplate diagnostic that doc-level and segment-level
    * dedup both consult (a doc can be 0% a duplicate yet 95% non-novel).
    * First occurrence owns the n-gram: the corpus-min doc id per n-gram
    * is the "seen since" mark, so novelty is order-stable under corpus
    * growth (new docs never change an old doc's score).
    *
    * Returns (doc_id, n_distinct, n_repeated, novelty_e6) ordered by id:
    * distinct n-gram count, how many were seen earlier, and the novel
    * share in exact integer micro-units ((new·10^6) div distinct — no
    * ratio double near a comparison boundary). Docs with fewer than `n`
    * tokens carry no n-grams and are absent.
    *
    * Shape: n-grams leave the scan as 60-bit md5 hashes (8 bytes through
    * every shuffle instead of raw strings; a collision conflates two
    * n-grams at ~2^-60, identically in the oracle mirror). One distinct
    * over (doc, hash), one partial-agg min per hash, a hash-keyed join
    * that reuses the aggregate's partitioning, one per-doc count — no
    * corpus text ever shuffles twice. */
  def ngramNovelty(
      docs: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, "n-gram order must be >= 1")
    val gh = conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long")
    // distinct (doc, gram-hash) pairs feed the first-seen aggregate AND
    // the join back — LAZY on purpose (r9, the r8-verdict measurement):
    // a localCheckpoint here materializes a ~corpus-sized token relation
    // to executor storage; re-deriving from the scan + generator costs
    // one extra map-only pass and zero storage, and the two measured
    // identical at sf0.1 (ckpt 1.36–1.54 s vs lazy 1.35–1.51 s) — at
    // 100 TB the storage write is the strictly worse side of that tie
    val grams = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        graft.functions.Generators.ngramExplode(col(textCol), n).as("g"))
      .select(col("doc_id"), gh.as("gh"))
      .distinct()
    val first = grams.groupBy("gh").agg(min(col("doc_id")).as("first_doc"))
    grams
      .join(first, "gh")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_distinct"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("n_repeated"))
      .select(col("doc_id"), col("n_distinct"), col("n_repeated"),
        expr("((n_distinct - n_repeated) * 1000000) div n_distinct").as("novelty_e6"))
      .orderBy("doc_id")
  }

  /** DUPLICATED-WINDOW SPAN PROFILE — "how LONG are the verbatim overlaps
    * in this corpus": for each window length L on a fixed doubling ladder,
    * the share of L-token windows whose exact text occurs more than once
    * corpus-wide, and how many documents carry such a window. Read down
    * the ladder: the largest L with `n_dup_windows > 0` brackets the
    * corpus's longest verbatim clone (it lies in [L, 2·L_next)), the
    * dup_ppm decay rate says whether overlap is boilerplate snippets
    * (fast decay) or wholesale copying (plateau) — the profile that
    * decides the segment-dedup window size (q110/q112) and the honest
    * scalable stand-in for a full suffix-array longest-repeat scan
    * (which needs O(log n) corpus sorts; this is |ladder| map-only
    * passes).
    *
    * Output per L: (span_tokens, n_windows, n_dup_windows, n_docs,
    * n_dup_docs, dup_ppm), ordered by span_tokens.
    *
    * Determinism: exact counts; windows hash to 60-bit md5 ints (the
    * ngramNovelty convention) so the dup-group shuffle carries 8-byte
    * keys — collisions at 60 bits are negligible and IDENTICAL in both
    * engines (same md5 prefix).
    *
    * 100 TB shape: the [[graft.functions.Generators.MultiNgramHashExplode]]
    * generator emits every rung's window hashes off one token array
    * (r9 — the per-rung NgramExplode form re-read and re-tokenized the
    * corpus 3·|ladder| times; measured 6.3 s → ~2.2 s at sf0.1), into a
    * (span, hash)-keyed partial-agg count — the dup test shuffles
    * (span, hash, count) rows, never window text. THREE lazy generator
    * passes total (window stats; the dup-hash set; the per-doc dup
    * attribution semi join), plan-asserted ≤ 3 in `PlanSpec`;
    * deliberately NOT collapsed to one by materializing the counts —
    * the (span, hash) relation is corpus-scale, and the engine's rule is
    * to re-derive cheap corpus-scale intermediates rather than spill
    * them to block storage. The per-rung doc universe needs only each
    * doc's TOKEN COUNT (a doc emits a rung-L window iff n_tokens ≥ L),
    * one map-only pass. */
  def dupSpanProfile(
      docs: DataFrame, textCol: String, idCol: String,
      ladder: Seq[Int] = Seq(1, 2, 4, 8, 16, 32, 64)): DataFrame = {
    require(ladder.nonEmpty && ladder.forall(_ >= 1) && ladder == ladder.sorted,
      s"ladder must be ascending positive lengths: $ladder")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.filter(col(textCol).isNotNull)
    def hashed = base.select(col(idCol).as("doc_id"),
      graft.functions.Generators.multiNgramHashExplode(col(textCol), ladder)
        .as(Seq("span_tokens", "h")))
    val counts = hashed.groupBy("span_tokens", "h").agg(count(lit(1)).as("c"))
    val winStats = counts.groupBy("span_tokens").agg(
      sum(col("c")).as("n_windows"),
      coalesce(sum(when(col("c") >= 2, col("c"))), lit(0L)).as("n_dup_windows"))
    val dupHashes = counts.filter(col("c") >= 2).select("span_tokens", "h")
    val dupDocStats = hashed
      .join(dupHashes, Seq("span_tokens", "h"), "left_semi")
      .select("span_tokens", "doc_id").distinct()
      .groupBy("span_tokens").agg(count(lit(1)).as("n_dup_docs"))
    val ladderArr = array(ladder.map(l => lit(l.toLong)): _*)
    val docStats = base
      .select(col(idCol).as("doc_id"),
        size(graft.functions.TextHash.tokens(col(textCol))).cast("long").as("__nt"))
      .select(col("doc_id"),
        explode(filter(ladderArr, l => l <= col("__nt"))).as("span_tokens"))
      .groupBy("span_tokens").agg(countDistinct(col("doc_id")).as("n_docs"))
    ladder.map(_.toLong).toDF("span_tokens")
      .join(winStats, Seq("span_tokens"), "left")
      .join(docStats, Seq("span_tokens"), "left")
      .join(dupDocStats, Seq("span_tokens"), "left")
      .select(col("span_tokens"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
      .withColumn("dup_ppm",
        when(col("n_windows") > 0, expr("n_dup_windows * 1000000 div n_windows"))
          .otherwise(lit(0L)))
      .orderBy("span_tokens")
  }

  /** VOCABULARY GROWTH profile (Heaps' law, V(n) ≈ K·n^β): cumulative
    * token and distinct-type counts at doubling corpus prefixes — the
    * "how fast does my vocabulary grow as the corpus scales" curve that
    * sizes tokenizers and predicts OOV rates at 100 TB from the
    * measured exponent at 100 GB. Prefixes are by ascending doc id;
    * measurement point b covers docs with id bit-length ≤ b (the
    * [[SketchOps.log2Histogram]] integer convention — a float log2
    * would ulp-flip boundary ids), so the whole curve costs TWO bounded
    * aggregates however large the corpus:
    *  - per-bucket token counts (map-side combined, ≤ 64 rows);
    *  - per-bucket NEW-type counts keyed on each type's FIRST document
    *    ([[ngramNovelty]]'s first-seen mark — a type counts once, at
    *    the prefix that introduces it);
    * both prefix-summed by the metadata-sized triangle join (no
    * unpartitioned window, [[RelationalOps.nearestRankBounds]]'s move).
    * Output: (bucket, n_docs_cum, n_tokens_cum, n_types_cum), exact
    * BIGINT, one row per non-empty doc-id bit-length bucket. */
  def vocabularyGrowth(
      docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    def b(c: Column): Column =
      when(c === 0, lit(0L)).otherwise(length(bin(c)).cast("long"))
    val base = docs.filter(col(textCol).isNotNull)
    // LAZY (r9, measured): the exploded token relation feeds the token
    // counts AND the first-seen aggregate, but checkpointing it writes a
    // ~corpus-sized relation to executor storage for zero measured win
    // at sf0.1 (ckpt 1.12–1.48 s vs lazy 1.04–1.56 s) — the second
    // derivation is a map-only scan+generator pass, the cheaper side at
    // 100 TB
    val toks = base
      .select(b(col(idCol)).as("bkt"), col(idCol).as("doc_id"),
        graft.functions.Generators.ngramExplode(col(textCol), 1).as("t"))
    val perB = toks.groupBy("bkt").agg(
      countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("n_toks"))
    val newTypes = toks
      .groupBy("t").agg(min(col("doc_id")).as("first_doc"))
      .groupBy(b(col("first_doc")).as("bkt"))
      .agg(count(lit(1)).as("n_new"))
    val cells = perB.join(newTypes, Seq("bkt"), "full_outer")
      .select(col("bkt"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    cells.as("x")
      .join(cells.as("y"), col("y.bkt") <= col("x.bkt"))
      .groupBy(col("x.bkt").as("bucket"))
      .agg(sum(col("y.n_docs")).as("n_docs_cum"),
        sum(col("y.n_toks")).as("n_tokens_cum"),
        sum(col("y.n_new")).as("n_types_cum"))
      .orderBy("bucket")
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every corpus doc
    * by how much more likely its hashed-unigram bag is under a TARGET
    * distribution than under the raw corpus distribution — the
    * domain-steering move ("make the mix look like Wikipedia") that
    * needs no trained classifier. Features are the q74/q99/q120 hashed
    * buckets (md5(term) mod dim); both bucket models use add-1
    * smoothing; a bucket's log ratio ln((t+1)/(T+dim)) − ln((c+1)/(C+dim))
    * is rounded ONCE to exact micro-int (the BM25 contribution
    * convention), so each doc's weight is an exact BIGINT sum of its
    * token buckets' ratios — aggregation-order immune.
    *
    * Returns the topN docs by (weight_micro desc, doc_id asc):
    * (doc_id, n_tokens, weight_micro, rk).
    *
    * 100 TB shape: bucket counts map-side combine to ≤ dim rows per
    * side; the ratio relation is a dim-sized broadcast; the per-doc sum
    * is the one doc-key shuffle. The target set here is a COLUMN
    * PREDICATE over the same table (held-out slice, label, language) —
    * a separate exemplar corpus plugs in by union with the flag set. */
  def dsirWeights(
      docs: DataFrame, textCol: String, idCol: String, targetExpr: Column,
      dim: Int, topN: Int): DataFrame = {
    require(dim >= 2 && topN >= 1, s"bad dim=$dim/topN=$topN")
    val bucket = pmod(
      conv(substring(md5(col("t")), 1, 7), 16, 10).cast("long"), lit(dim))
    // LAZY (r9, measured): the bucketed token relation feeds the bucket
    // models AND the per-doc sum; a checkpoint materializes ~one row per
    // corpus token for zero measured win at sf0.1 (ckpt 1.47–1.72 s vs
    // lazy 1.50–1.74 s) — re-deriving is a map-only pass, zero storage
    val toks = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), targetExpr.as("is_target"),
        graft.functions.Generators.ngramExplode(col(textCol), 1).as("t"))
      .select(col("doc_id"), col("is_target"), bucket.as("b"))
    val counts = toks.groupBy("b").agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("tcnt"),
      count(lit(1)).as("ccnt"))
    val totals = counts.agg(
      sum(col("tcnt")).as("ttot"), sum(col("ccnt")).as("ctot"))
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        round((log((col("tcnt") + 1).cast("double") / (col("ttot") + dim)) -
          log((col("ccnt") + 1).cast("double") / (col("ctot") + dim))) * 1e6, 0)
          .cast("long").as("ratio_micro"))
    // the rank over the ≤ topN surviving rows comes from a triangle join
    // (count of lexicographically better rows + 1), not a window — the
    // engine-wide no-unpartitioned-window invariant holds even here,
    // where a post-limit window would have been bounded but would still
    // plan a single-partition WindowExec
    // deliberately LAZY: orderBy+limit is a deterministic TakeOrdered, so
    // the two triangle-join branches recompute identical rows from the
    // deterministic token relation — and the full scoring plan
    // stays visible for the PlanSpec broadcast/no-sort-merge asserts
    val top = toks
      .join(broadcast(ratios), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("ratio_micro")).as("weight_micro"))
      .orderBy(col("weight_micro").desc, col("doc_id").asc)
      .limit(topN)
    top.as("x")
      .join(top.as("y"),
        col("y.weight_micro") > col("x.weight_micro") ||
          (col("y.weight_micro") === col("x.weight_micro") &&
            col("y.doc_id") < col("x.doc_id")), "left")
      .groupBy(col("x.doc_id").as("doc_id"), col("x.n_tokens").as("n_tokens"),
        col("x.weight_micro").as("weight_micro"))
      .agg((count(col("y.doc_id")) + 1).as("rk"))
      .orderBy("rk")
  }

  /** ZIPF RANK-FREQUENCY SLOPE: least-squares slope of ln(count) against
    * ln(rank) over the `topR` most frequent tokens — the classic
    * power-law diagnostic for corpus health (natural text sits near −1;
    * a flat slope flags template/boilerplate floods, a cliff flags a
    * truncated or deduplicated-to-death vocabulary). Complements
    * [[vocabularyGrowth]] (Heaps' law — type growth) with the other
    * canonical corpus law (Zipf — frequency decay).
    *
    * Determinism: ranks come from the bounded top-R relation (count
    * desc, token asc — ties broken by the total-order convention) via a
    * collect-to-array + posexplode over ≤ topR rows, NOT a window (the
    * engine-wide no-unpartitioned-window invariant); ln is the
    * round-to-micro-int convention (the q103/q130 precedent), the
    * regression sums are exact BIGINTs (bounded: x ≤ ln(topR)·10⁶,
    * y ≤ ln(corpus tokens)·10⁶ — products stay < 2⁶³ through
    * corpus sizes of 10¹⁹ tokens), and the single slope division is
    * IEEE-exact double arithmetic in the same operation order on both
    * engines.
    *
    * 100 TB shape: one corpus scan → token-count shuffle (map-side
    * combined) → bounded TakeOrdered top-R → all remaining arithmetic on
    * ≤ topR rows. Returns ONE row: (n_terms, slope_ppm, intercept_micro,
    * top_term, top_count). */
  def zipfSlope(docs: DataFrame, textCol: String, topR: Int = 64): DataFrame = {
    require(topR >= 2, s"zipf regression needs topR >= 2: $topR")
    val counts = docs
      .filter(col(textCol).isNotNull)
      .select(graft.functions.Generators.ngramExplode(col(textCol), 1).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("c"))
    val top = counts.orderBy(col("c").desc, col("term").asc).limit(topR)
    // rank 1..R without a window: ONE bounded array, sorted by the same
    // (count desc, term asc) order via the (-c, term) struct encoding
    val ranked = top
      .agg(array_sort(collect_list(struct((-col("c")).as("nc"), col("term")))).as("a"))
      .select(posexplode(col("a")).as(Seq("rk0", "e")))
      .select((col("rk0") + 1).cast("long").as("rank"),
        (-col("e.nc")).as("c"), col("e.term").as("term"))
    ranked
      .select(col("rank"), col("c"), col("term"),
        round(log(col("rank").cast("double")) * 1e6, 0).cast("long").as("x"),
        round(log(col("c").cast("double")) * 1e6, 0).cast("long").as("y"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        min(struct(col("rank"), col("term"), col("c"))).as("t1"))
      .select(col("n_terms"),
        ((col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("__s"),
        col("sx"), col("sy"), col("t1"))
      .select(col("n_terms"),
        round(col("__s") * 1e6, 0).cast("long").as("slope_ppm"),
        round((col("sy").cast("double") - col("__s") * col("sx").cast("double")) /
          col("n_terms"), 0).cast("long").as("intercept_micro"),
        col("t1.term").as("top_term"), col("t1.c").as("top_count"))
  }

  /** Per-group UNIGRAM TOKEN ENTROPY — the third corpus-law health row
    * next to the Zipf slope ([[zipfSlopeByGroup]]) and Heaps growth
    * ([[vocabularyGrowth]]): H = ln N − (Σ c·ln c)/N in MICRO-NATS over
    * each group's term-frequency distribution, plus the normalized
    * efficiency H/ln V (Shannon evenness, ppm). A shard whose entropy
    * sits far below its siblings is template-flooded (few terms carry
    * the mass — the same pathology the Zipf slope shows as flattening,
    * measured on the whole distribution instead of the top-R head); an
    * efficiency near 10⁶ means near-uniform usage, the fingerprint of
    * id-like or generated junk.
    *
    * Determinism: per-term `round(ln c · 10⁶)` longs (the [[zipfSlope]]
    * micro-ln convention, gate-proven cross-engine), the c·ln-micro
    * PRODUCT taken in DECIMAL(38,0) — not multiplied in BIGINT and then
    * cast, which silently wraps once a term count passes ~3×10¹¹ — and
    * summed exactly in DECIMAL(38,0), ONE truncating integer division
    * per group for the mean, integer subtraction clamped at the
    * information-theoretic floor of 0 (micro-rounding can land a
    * near-degenerate group ~1 micro-nat negative, where truncating and
    * floor division would diverge cross-engine), and one more truncating
    * division for the evenness — no accumulated float anywhere.
    * Single-type groups (V = 1, ln V = 0) report null efficiency.
    *
    * Output per group: (n_tokens, n_types, entropy_micro,
    * efficiency_ppm), ordered by group.
    *
    * 100 TB shape: one (group, term) partial-agg count shuffle (bounded
    * by group × vocabulary, never corpus tokens — the
    * [[zipfSlopeByGroup]] shape), then one metadata-sized per-group
    * aggregate; ≤ #groups rows out. */
  def tokenEntropyByGroup(
      docs: DataFrame, textCol: String, groupCol: String): DataFrame = {
    val counts = docs
      .filter(col(textCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("g"),
        graft.functions.Generators.ngramExplode(col(textCol), 1).as("term"))
      .groupBy("g", "term")
      .agg(count(lit(1)).as("c"))
    counts
      .select(col("g"), col("c"),
        round(log(col("c").cast("double")) * 1e6, 0).cast("long").as("lc"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_types"),
        sum(col("c")).as("n_tokens"),
        // cast BEFORE the multiply: c·lc in BIGINT wraps once a term
        // count passes ~3×10¹¹ (lc ≈ 26·10⁶ there) — the DECIMAL sum
        // only protects if the PRODUCT is already decimal
        sum(col("c").cast("decimal(38,0)") * col("lc")).as("__sclc"))
      .select(col("g"), col("n_tokens"), col("n_types"),
        // clamp at the information-theoretic floor: micro-rounding can
        // push a near-degenerate group ~1 micro-nat below 0, where the
        // engines' truncating-vs-floor division would diverge downstream
        greatest(
          round(log(col("n_tokens").cast("double")) * 1e6, 0).cast("long") -
            expr("CAST(__sclc div n_tokens AS BIGINT)"),
          lit(0L)).as("entropy_micro"),
        round(log(col("n_types").cast("double")) * 1e6, 0).cast("long").as("__lv"))
      .select(col("g").as(groupCol), col("n_tokens"), col("n_types"),
        col("entropy_micro"),
        when(col("__lv") > 0,
          expr("entropy_micro * 1000000 div __lv")).as("efficiency_ppm"))
      .orderBy(groupCol)
  }

  /** Per-group KL DIVERGENCE vs the POOLED corpus — the single-number
    * domain-shift row of the per-shard dashboard: KL(source ‖ corpus)
    * over unigram distributions, in MICRO-NATS. Complements the other
    * drift ops: [[termDrift]] is per-TERM between two slices, the KS
    * drift is a NUMERIC metric's distribution, DSIR ([[dsirWeights]])
    * scores docs against an external target — this scores each SOURCE
    * against the corpus it is part of. A source near 0 is
    * distributionally exchangeable with the pool; a high-KL source is
    * the one whose up/down-weighting moves the mixture most (and the
    * first place to look when the pooled Zipf/entropy rows drift).
    *
    * NO SMOOTHING NEEDED, by construction: every source term occurs in
    * the pooled corpus (c ≤ d), so q is never zero — the usual KL
    * zero-mass headache disappears because the comparison is
    * part-vs-whole.
    *
    * Arithmetic (exact cross-engine): with per-term source count c,
    * corpus count d, source tokens Nₛ, corpus tokens N —
    * KL = ln N − ln Nₛ − (Σ c·(ln d − ln c))/Nₛ. Each ln is one
    * micro-rounded long (the [[zipfSlope]] convention); rounding is
    * monotone and c ≤ d, so every per-term (ld − lc) is ≥ 0 and the sum
    * P is NON-NEGATIVE — `P div Nₛ` therefore truncates identically in
    * both engines (the q173 floor-vs-trunc hazard cannot arise); the
    * c·Δln PRODUCT is taken in DECIMAL(38,0)/HUGEINT (cast before the
    * multiply — a BIGINT product leaves no headroom past ~2.5×10¹³
    * corpus tokens) and summed the same way. The result clamps at the information-theoretic
    * floor of 0 (micro-rounding can dip a near-pool-identical source a
    * few micro-nats negative).
    *
    * Output per group: (n_tokens, n_types, kl_micro), ordered by group.
    *
    * 100 TB shape: ONE corpus scan into the (group, term) partial-agg
    * count (vocabulary × groups rows, never corpus tokens) — the corpus
    * totals d re-aggregate from THAT relation, no second scan; the
    * relation feeds both the totals and the join, so it checkpoints
    * (vocabulary-sized — the per-doc-metrics trade, not the forbidden
    * corpus-scale one); then a term-keyed join of two vocabulary-bounded
    * relations and a per-group aggregate, ≤ #groups rows out. */
  def sourceKlDivergence(
      docs: DataFrame, textCol: String, groupCol: String): DataFrame = {
    val t = docs
      .filter(col(textCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("g"),
        graft.functions.Generators.ngramExplode(col(textCol), 1).as("term"))
      .groupBy("g", "term")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val d = t.groupBy("term").agg(sum(col("c")).as("d"))
    val n = d.agg(sum(col("d")).as("__n"))
      .select(round(log(col("__n").cast("double")) * 1e6, 0).cast("long").as("__lN"))
    t.join(d, "term")
      .select(col("g"), col("c"),
        // cast BEFORE the multiply (the tokenEntropyByGroup rationale):
        // c·(ld−lc) in BIGINT leaves no headroom past ~2.5×10¹³ corpus
        // tokens — the decimal product makes the 10¹³ design point safe
        ((round(log(col("d").cast("double")) * 1e6, 0).cast("long") -
          round(log(col("c").cast("double")) * 1e6, 0).cast("long"))
          .cast("decimal(38,0)") * col("c")).as("__p"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"),
        sum(col("__p")).as("__P"))
      .crossJoin(broadcast(n))
      .select(col("g").as(groupCol), col("n_tokens"), col("n_types"),
        greatest(
          col("__lN") -
            round(log(col("n_tokens").cast("double")) * 1e6, 0).cast("long") -
            expr("CAST(__P div n_tokens AS BIGINT)"),
          lit(0L)).as("kl_micro"))
      .orderBy(groupCol)
  }

  /** Per-group ZIPF rank-frequency slope — [[zipfSlope]] per source/dump
    * (the corpus-law HEALTH row of a per-shard dashboard): a shard whose
    * slope flattens relative to its siblings is template-flooded, one
    * whose slope cliffs has a truncated vocabulary — visible per shard
    * long before the pooled corpus curve moves. Same micro-int ln
    * convention and pinned one-double-division regression as the global
    * form (they cannot drift: identical x/y/sum expressions).
    *
    * Output per group: (n_terms, slope_ppm, intercept_micro, top_term,
    * top_count), ordered by group.
    *
    * 100 TB shape: one (group, term) partial-agg count shuffle (bounded
    * by group × vocabulary, never corpus tokens); the per-group top-R
    * rank runs as a window over that ALREADY-REDUCED relation (the q141
    * per-group-window convention — partitioned, input vocabulary-sized);
    * regression sums are exact BIGINTs per group, ≤ #groups rows out. */
  def zipfSlopeByGroup(
      docs: DataFrame, textCol: String, groupCol: String,
      topR: Int = 64): DataFrame = {
    require(topR >= 2, s"zipf regression needs topR >= 2: $topR")
    val counts = docs
      .filter(col(textCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("g"),
        graft.functions.Generators.ngramExplode(col(textCol), 1).as("term"))
      .groupBy("g", "term")
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("g"))
      .orderBy(col("c").desc, col("term").asc)
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topR)
      .select(col("g"), col("rank"), col("c"), col("term"),
        round(log(col("rank").cast("double")) * 1e6, 0).cast("long").as("x"),
        round(log(col("c").cast("double")) * 1e6, 0).cast("long").as("y"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        min(struct(col("rank"), col("term"), col("c"))).as("t1"))
      .filter(col("n_terms") >= 2)
      .select(col("g"), col("n_terms"),
        ((col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("__s"),
        col("sx"), col("sy"), col("t1"))
      .select(col("g").as(groupCol), col("n_terms"),
        round(col("__s") * 1e6, 0).cast("long").as("slope_ppm"),
        round((col("sy").cast("double") - col("__s") * col("sx").cast("double")) /
          col("n_terms"), 0).cast("long").as("intercept_micro"),
        col("t1.term").as("top_term"), col("t1.c").as("top_count"))
      .orderBy(groupCol)
  }

  /** LONGEST REPEATED-TOKEN RUN per document — the degenerate-repetition
    * signal ("the the the the …") that model-generated and
    * template-corrupted text exhibits and that RATIO rules (q54's
    * dup-bigram share, the Gopher mask) dilute away in long documents: a
    * 50-token run inside a 5,000-token doc moves dup_bigram_ratio by 1%
    * but is a hard artifact. Reports the worst `limit` documents with
    * their longest run and its token.
    *
    * MAP-ONLY: the run scan is a single `aggregate` HOF fold over the
    * token array (struct accumulator: previous token, current run, best
    * run, best token, token count — strictly-greater update keeps the
    * FIRST maximal run), executed inside codegen with zero shuffle
    * before the bounded TakeOrdered. The oracle expresses the identical
    * semantics as a gaps-and-islands window (pos − per-token row number)
    * with the (run desc, start asc) argmax — first maximal run on both
    * engines. Pure integers and token equality — nothing to diverge. */
  def longestTokenRun(
      docs: DataFrame, textCol: String, idCol: String,
      limit: Int = 50): DataFrame = {
    require(limit >= 1, s"bad limit: $limit")
    val init = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("best"), lit("").as("btok"), lit(0L).as("n"))
    val folded = aggregate(
      graft.functions.TextHash.tokens(col(textCol)), init,
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1L))
        val isNew = run > acc.getField("best")
        struct(x.as("prev"), run.as("run"),
          when(isNew, run).otherwise(acc.getField("best")).as("best"),
          when(isNew, x).otherwise(acc.getField("btok")).as("btok"),
          (acc.getField("n") + 1).as("n"))
      })
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), folded.as("f"))
      .filter(col("f.n") > 0)
      .select(col("doc_id"), col("f.n").as("n_tokens"),
        col("f.best").as("max_run"), col("f.btok").as("top_token"))
      .orderBy(col("max_run").desc, col("doc_id").asc)
      .limit(limit)
  }

  /** DISTINCT-N DIVERSITY per group (Li et al. 2016's distinct-n, the
    * standard text-diversity metric curation pipelines track per
    * language/source shard): for each n in 1..`maxN`, the share of
    * n-gram OCCURRENCES that are distinct n-grams, in integer ppm. A
    * collapsing distinct-2/3 under a stable distinct-1 is the signature
    * of template spam / self-repetition that per-document
    * [[repetitionProfile]] misses when the repetition spans documents.
    *
    * 100 TB shape: one corpus scan per n (the scans are independent and
    * schedule in parallel under one action); each is a map-only n-gram
    * generate into a (group, gram)-keyed partial-aggregated count —
    * distinct counting shuffles (group, gram) pairs, never raw
    * occurrences. Integer ppm via `div`. Groups whose docs are all
    * shorter than n have no n-gram rows and are absent for that n —
    * mirrored semantics on both engines. */
  def distinctNgramDiversity(
      docs: DataFrame, textCol: String, groupCol: String,
      maxN: Int = 3): DataFrame = {
    require(maxN >= 1, s"bad maxN: $maxN")
    (1 to maxN).map { n =>
      docs
        .filter(col(textCol).isNotNull)
        .select(col(groupCol),
          graft.functions.Generators.ngramExplode(col(textCol), n).as("g"))
        .groupBy(col(groupCol))
        .agg(count(lit(1)).as("n_grams"),
          countDistinct(col("g")).as("n_distinct"))
        .select(col(groupCol), lit(n).cast("long").as("n"),
          col("n_grams"), col("n_distinct"),
          expr("n_distinct * 1000000 div n_grams").as("distinct_ppm"))
    }.reduce(_.unionByName(_)).orderBy(col(groupCol), col("n"))
  }

  /** SKIP-GRAM CO-OCCURRENCE PAIRS: count unordered token pairs within a
    * positional window of `window` tokens (offsets 1..window) and return
    * the top `k` by count — the (center, context) pair-generation pass
    * every word2vec-style embedding trainer and collocation miner runs
    * over a training corpus (Mikolov et al. 2013's skip-gram extraction,
    * minus the subsampling). The doc-level PMI sibling
    * ([[pmiCollocations]]) scores set co-occurrence anywhere in a doc;
    * this op is POSITIONAL — only pairs at token distance ≤ window count,
    * so it sees local syntax, not topicality.
    *
    * Determinism: pairs normalize to (least, greatest) so direction
    * cannot split counts; exact BIGINT counts; total (cnt desc, w1, w2)
    * order.
    *
    * 100 TB shape: pair generation is MAP-ONLY — per offset a zip_with
    * of the token array against its own `off`-shifted slice (no
    * positional self-join, no posexplode shuffle of token rows); the only
    * shuffle is the (w1, w2)-keyed count with map-side combine, and the
    * result is a global top-k (TakeOrderedAndProject). Generated pair
    * volume is ≤ window × corpus token count, streamed not stored. */
  def skipgramPairs(
      docs: DataFrame, textCol: String, window: Int, k: Int): DataFrame = {
    require(window >= 1, s"bad window: $window")
    require(k >= 1, s"bad k: $k")
    val pairArrays = (1 to window).map { off =>
      expr(
        s"""zip_with(
           |  slice(__tk, 1, greatest(size(__tk) - $off, 0)),
           |  slice(__tk, ${off + 1}, greatest(size(__tk) - $off, 0)),
           |  (a, b) -> struct(least(a, b) AS w1, greatest(a, b) AS w2))""".stripMargin)
    }
    docs.filter(col(textCol).isNotNull)
      .select(graft.functions.TextHash.tokens(col(textCol)).as("__tk"))
      .select(explode(flatten(array(pairArrays: _*))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** QUALITY ENSEMBLE: rank-blend three incomparable per-doc quality
    * signals — token count, distinct-token ratio (ppm), and mean token
    * length (centi-chars) — into one ECDF-normalized ordering via
    * [[RelationalOps.rankBlend]], returning the top `limit` docs. This
    * is the FineWeb-style move for combining quality scorers whose raw
    * scales mean nothing to each other: each signal contributes its
    * percentile rank, not its magnitude, so no single wide-range metric
    * dominates the blend.
    *
    * All three metrics are integer, codegen'd, and computed in ONE
    * map-only pass over the corpus; the rank maps are
    * metric-cardinality-sized broadcasts (see [[RelationalOps.rankBlend]]
    * for the 100 TB shape). Empty docs (0 tokens) drop — their ratio
    * metrics are undefined. */
  def qualityEnsemble(
      docs: DataFrame, textCol: String, idCol: String, limit: Int): DataFrame = {
    val toks = tokens(col(textCol))
    val metrics = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), toks.as("__t"))
      .filter(size(col("__t")) > 0)
      .select(col(idCol),
        size(col("__t")).cast("long").as("n_tokens"),
        expr("CAST(size(array_distinct(__t)) AS BIGINT) * 1000000 div size(__t)")
          .as("distinct_ppm"),
        expr(
          "aggregate(__t, 0L, (acc, x) -> acc + length(x)) * 100 div size(__t)")
          .as("mean_len_centi"))
    RelationalOps.rankBlend(metrics, idCol,
      Seq("n_tokens", "distinct_ppm", "mean_len_centi"), limit)
  }

  /** QUALITY-SIGNAL REDUNDANCY check — the measurement to run BEFORE
    * blending signals ([[qualityEnsemble]] / FineWeb-style ensembles):
    * Pearson correlation between two of the per-doc integer quality
    * metrics (`n_tokens`, `distinct_ppm`, `mean_len_centi`). Rank
    * blending buys the most when signals are DEcorrelated; |corr| near 1
    * means the pair measures the same thing and one of them is wasted
    * ensemble capacity. Exactness contract and output shape:
    * [[RelationalOps.integerCorrelation]] (one row; n_pairs, 6-dp corr,
    * null on zero variance). One map-only metric scan + one five-sum
    * aggregate. */
  def signalCorrelation(
      docs: DataFrame, textCol: String,
      xMetric: String, yMetric: String): DataFrame = {
    val allowed = Set("n_tokens", "distinct_ppm", "mean_len_centi")
    require(allowed(xMetric) && allowed(yMetric) && xMetric != yMetric,
      s"metrics must be two distinct of $allowed: $xMetric, $yMetric")
    val toks = tokens(col(textCol))
    val metrics = docs
      .filter(col(textCol).isNotNull)
      .select(toks.as("__t"))
      .filter(size(col("__t")) > 0)
      .select(
        size(col("__t")).cast("long").as("n_tokens"),
        expr("CAST(size(array_distinct(__t)) AS BIGINT) * 1000000 div size(__t)")
          .as("distinct_ppm"),
        expr(
          "aggregate(__t, 0L, (acc, x) -> acc + length(x)) * 100 div size(__t)")
          .as("mean_len_centi"))
    RelationalOps.integerCorrelation(metrics, xMetric, yMetric)
  }
}
