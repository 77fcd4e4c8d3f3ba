package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval operator family for training-data pipelines: distributed
  * inverted-index construction and BM25 top-k search over the document
  * corpus.
  *
  * Retrieval is a first-class curation primitive at 100 TB — RAG corpus
  * selection, benchmark-decontamination lookups, and "find documents like
  * these seeds" expansion all reduce to (a) a term→postings index built
  * with one shuffle and (b) a scoring join against a tiny broadcast query
  * relation. The reference's keyword filter (`/root/reference/main.py:307`
  * `filter_posts_by_industry`) is the degenerate boolean form of the same
  * shape; this family generalizes it to ranked retrieval.
  *
  * Tokenization is the catalog's whitespace convention
  * ([[graft.functions.Generators.ngramExplode]] with w=1), identical to the
  * DuckDB mirror's `string_split_regex(trim(text), ' +')`.
  */
object RetrievalOps {

  /** Session-scoped cache of materialized [[moreLikeThis]] rankings —
    * see [[moreLikeThisShared]]. */
  private[graft] val mltMemo = new ArtifactCache[DataFrame]

  /** [[moreLikeThis]] as a SHARED, SESSION-SCOPED MATERIALIZED ARTIFACT
    * ([[ArtifactCache]]): the first caller per (session, docs content,
    * sourceKey, params) computes the ranking and checkpoints it; every
    * later caller gets the same tiny relation back — the
    * materialized-view move for rankings consumed by several downstream
    * queries (q115's brute-force hybrid and q126's index-backed hybrid
    * share an IDENTICAL lexical side; before r9 each rebuilt it from the
    * corpus, ~5 s apiece at sf0.1).
    *
    * The memoized value is the RESULT relation (per-query top-k — small
    * by construction), never the corpus-sized intermediates, so the memo
    * costs |queries| × k rows of executor storage per distinct key.
    * `sourceKey` names the docs relation (the catalog passes the sf
    * directory). */
  def moreLikeThisShared(docs: DataFrame, textCol: String, idCol: String,
      queryMod: Int, k: Int, maxQueryTerms: Int, sourceKey: String): DataFrame =
    mltMemo(docs, (sourceKey, textCol, idCol, queryMod, k, maxQueryTerms)) {
      moreLikeThis(docs, textCol, idCol, queryMod, k, maxQueryTerms).localCheckpoint()
    }

  /** INVERTED-INDEX STATS: the term dictionary + postings summary of a
    * distributed index build. One explode pass, a partial-agg shuffle on
    * (doc, term) for tf, then a term-level aggregate producing, per term:
    * document frequency, total/max term frequency, and a postings-set
    * fingerprint (min/max/sum of doc ids — the repo's integer checksum
    * convention).
    *
    * Deliberately NO `collect_list` postings column: materializing the
    * full posting list of a stop-term as one row is the classic index-build
    * scale trap (billions of doc ids in a single aggregation buffer at
    * 100 TB). Every aggregate here is constant-memory and map-side
    * combinable; a real posting-list sink would instead range-partition by
    * (term, doc_id) and write sorted runs — the stats relation this op
    * emits is exactly the dictionary such a sink needs.
    *
    * `minDf` prunes hapax noise (df < minDf) AFTER aggregation, like a
    * HAVING clause — it cannot be pushed below the term aggregate.
    */
  def invertedIndexStats(docs: DataFrame, textCol: String, idCol: String,
      minDf: Int): DataFrame = {
    require(minDf >= 1, s"bad minDf: $minDf")
    val tf = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        graft.functions.Generators.ngramExplode(col(textCol), 1).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("term"))
      .agg(
        count(lit(1)).as("df_docs"),
        sum(col("tf")).as("total_tf"),
        max(col("tf")).as("max_tf"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        sum(col("doc_id")).as("doc_id_sum"))
      .filter(col("df_docs") >= minDf)
      .orderBy("term")
  }

  /** BM25 TOP-K SEARCH: ranked retrieval of the best `k` documents per
    * query from a tiny query relation `(query_id, term)` — the standard
    * Robertson/Lucene BM25:
    *
    *   idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    *   score(q, d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Scale shape (one corpus scan for tf + one for doc lengths):
    *  1. Explode tokens and SEMI-JOIN against the broadcast query-term set
    *     BEFORE the tf shuffle — only query-term postings ever shuffle;
    *     at 100 TB this is the difference between shuffling the whole
    *     index and shuffling a few thousand rows per term.
    *  2. Doc lengths aggregate map-side (partial count per doc); N and
    *     avgdl reduce to one broadcast scalar row.
    *  3. df per query term comes off the pruned tf relation; joined back
    *     via broadcast (terms are few by construction).
    *  4. Per-(query, doc) sum, then a bounded top-k window per query.
    *
    * Determinism contract: each per-term contribution is rounded to
    * MICRO-units and cast to BIGINT before the cross-term sum, so the
    * aggregate is an exact integer — immune to float summation order
    * across engines and partitionings. Output `score_micro` is that
    * integer (1e-6 score units); ranking orders by it with doc_id as the
    * total tiebreaker.
    */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
      queries: Seq[(String, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    val base = docs.filter(col(textCol).isNotNull)
    val qr = queryRelation(spark, queries)
    // checkpoint both scoreBm25 inputs (r14, guide §1.2 "don't compute
    // things you throw away" — the moreLikeThis convention, which already
    // checkpointed ITS tf): tf feeds the df aggregate AND the contrib
    // join, dl feeds the corpus-stats aggregate AND the contrib join, and
    // dl is MAP-ONLY (no exchange for AQE reuse to latch onto), so each
    // lazy consumer was a full corpus tokenize pass. Both relations are
    // per-doc/per-posting integers — metadata-sized next to the text they
    // summarize.
    scoreBm25(prunedQueryTf(base, textCol, idCol, qr).localCheckpoint(),
      docLengths(base, textCol, idCol).localCheckpoint(), qr, k, k1, b)
  }

  /** Query-term-pruned postings off ONE corpus tokenize pass: the
    * distinct query terms broadcast-semi-join the exploded tokens BEFORE
    * the (doc, term) shuffle — the shared tf front half of [[bm25TopK]],
    * [[retrievalEval]] and [[ndcgEval]]. Its grouping keys are exactly
    * the distinct (doc, query-term) containment relation, which is why
    * the eval harnesses derive their relevance sides from it instead of
    * re-scanning the corpus. */
  private[graft] def prunedQueryTf(base: DataFrame, textCol: String, idCol: String,
      qr: DataFrame): DataFrame = base
    .select(col(idCol).as("doc_id"),
      graft.functions.Generators.ngramExplode(col(textCol), 1).as("term"))
    .join(broadcast(qr.select("term").distinct()), Seq("term"), "left_semi")
    .groupBy(col("doc_id"), col("term"))
    .agg(count(lit(1)).as("tf"))

  /** MORE-LIKE-THIS: document-as-query BM25 — each query document's
    * DISTINCT tokens become its query terms, ranking every other doc by
    * the same integer-micro BM25 the term-relation path uses (self-match
    * excluded; it would trivially rank first). The lexical half of
    * [[hybridSearch]], and the classic "related documents" retrieval
    * primitive.
    *
    * Scale shape: the query side is `idCol % queryMod == 0` — a small,
    * broadcastable (query_id, term) relation exactly like the literal
    * query path, so postings still semi-join-prune BEFORE the tf
    * shuffle; corpus cost does not depend on how verbose the query docs
    * are beyond their distinct-term count.
    *
    * `maxQueryTerms` (Lucene MLT's `maxQueryTerms` knob): keep only each
    * query's N RAREST terms (lowest corpus total frequency, term-text
    * tiebreak) before scoring. Without it a verbose query doc matches
    * nearly the whole corpus through its stopwords; rare terms carry all
    * the discrimination BM25's idf would weight anyway. Rarity is
    * measured by TOTAL occurrences, not Lucene's docFreq, deliberately:
    * occurrence counts come from a term-keyed aggregate that map-side
    * combines to vocabulary size, where a docFreq pass would shuffle the
    * full (doc, term) relation — the exact cost pruning exists to avoid
    * (the two orders agree wherever it matters: rare-by-occurrence ⊆
    * rare-by-doc). With pruning on, the (doc, term) tf shuffle itself
    * runs ONLY over the selected terms' postings. 0 disables pruning. */
  def moreLikeThis(docs: DataFrame, textCol: String, idCol: String,
      queryMod: Int, k: Int, maxQueryTerms: Int = 0,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryMod >= 2, s"bad queryMod: $queryMod")
    require(maxQueryTerms >= 0, s"bad maxQueryTerms: $maxQueryTerms")
    val base = docs.filter(col(textCol).isNotNull)
    val qterms = base.filter(col(idCol) % queryMod === 0)
      .select(col(idCol).as("query_id"),
        explode(array_distinct(graft.functions.TextHash.tokens(col(textCol)))).as("term"))
    val corpusTerms = base
      .select(col(idCol).as("doc_id"),
        graft.functions.Generators.ngramExplode(col(textCol), 1).as("term"))
    val qsel =
      if (maxQueryTerms == 0) qterms
      else {
        // vocabulary-sized, map-side-combinable rarity pass
        val freq = corpusTerms.groupBy(col("term")).agg(count(lit(1)).as("__tfreq"))
        val wq = Window.partitionBy(col("query_id"))
          .orderBy(col("__tfreq").asc, col("term").asc)
        qterms.join(freq, Seq("term"))
          .withColumn("__trk", row_number().over(wq))
          .filter(col("__trk") <= maxQueryTerms)
          .select("query_id", "term")
      }
    // the broadcast term set prunes postings BEFORE the (doc, term)
    // shuffle; qsel feeds this semi-join AND scoreBm25's contrib join,
    // and tf feeds scoreBm25's df aggregate AND contrib — checkpoint both
    val qselC = qsel.localCheckpoint()
    val tf = corpusTerms
      .join(broadcast(qselC.select("term").distinct()), Seq("term"), "left_semi")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // dl checkpointed for the same two-consumer reason as tf above (r14:
    // docLengths is map-only, so its corpus-stats and contrib-join
    // consumers each re-tokenized the corpus)
    scoreBm25(tf, docLengths(base, textCol, idCol).localCheckpoint(),
      qselC, k, k1, b, excludeSelf = true)
  }

  /** RECIPROCAL-RANK FUSION (Cormack et al., SIGIR 2009): merge two
    * rankings of the same (query, doc) domain by the exact-integer RRF
    * score Σ floor(10^6 / (kRrf + rank)) — the standard hybrid-search
    * combiner, rank-only so the two sides' incomparable score scales
    * (BM25 micro-units vs cosine) never meet. Docs ranked by one side
    * only still score on that side (full outer join); ties break by doc
    * id. Inputs expose (query_id, doc_id, rk); output is the fused
    * top-`k` with `rrf_e6` and a fresh rank. All-BIGINT — no float
    * anywhere. */
  def rrfFuse(a: DataFrame, b: DataFrame, kRrf: Int, k: Int): DataFrame = {
    require(kRrf >= 1 && k >= 1, s"bad kRrf=$kRrf/k=$k")
    val l = a.select(col("query_id"), col("doc_id"), col("rk").as("rk_a"))
    val r = b.select(col("query_id"), col("doc_id"), col("rk").as("rk_b"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_e6").desc, col("doc_id").asc)
    l.join(r, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_e6",
        coalesce(expr(s"1000000 div ($kRrf + rk_a)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($kRrf + rk_b)"), lit(0L)))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("doc_id"), col("rrf_e6"))
      .orderBy("query_id", "rk")
  }

  /** HYBRID lexical + semantic search: BM25 [[moreLikeThis]] fused with
    * brute-force embedding cosine by [[rrfFuse]] — the vector+keyword
    * retrieval stack (each side covers the other's blind spot: exact
    * terminology vs paraphrase). Assumes the document and embedding
    * tables share an id space (doc_id == vec_id), as aligned corpus
    * exports do. Both sides retrieve `kEach`, the fusion keeps `k`.
    *
    * Brute-force cosine is the EXACTNESS REFERENCE; at 100 TB the
    * semantic side must come from an index — pass any ranked ANN
    * relation to [[hybridSearchWith]] instead (the q126 catalog entry
    * fuses [[SimilarityOps.annScalarQuant]]'s compressed-code ranking;
    * [[SimilarityOps.annIvfDelta]]'s persisted-artifact path and
    * [[SimilarityOps.ivfPqRerankAnn]] plug in the same way). */
  def hybridSearch(docs: DataFrame, emb: DataFrame,
      textCol: String, idCol: String, embIdCol: String, vecCol: String,
      queryMod: Int, kEach: Int, kRrf: Int, k: Int,
      maxQueryTerms: Int = 0, sharedLexKey: Option[String] = None): DataFrame =
    hybridSearchWith(docs,
      SimilarityOps.annBruteForce(emb, embIdCol, vecCol, queryMod, kEach),
      textCol, idCol, queryMod, kEach, kRrf, k, maxQueryTerms, sharedLexKey)

  /** [[hybridSearch]] with a CALLER-SUPPLIED semantic ranking — the
    * pluggable form the 100 TB story needs: the lexical side stays the
    * semi-join-pruned document-as-query BM25, the semantic side is ANY
    * (query_id, neighbor_id, rk) relation — typically an ANN read off
    * persisted index artifacts (IVF lists, SQ8/PQ codes) rather than a
    * corpus scan. Rows ranked past `kEach` are dropped before fusion so
    * both sides weigh equally in the RRF sum. */
  def hybridSearchWith(docs: DataFrame, semantic: DataFrame,
      textCol: String, idCol: String,
      queryMod: Int, kEach: Int, kRrf: Int, k: Int,
      maxQueryTerms: Int = 0, sharedLexKey: Option[String] = None): DataFrame = {
    // sharedLexKey routes the lexical side through the session-scoped
    // materialized artifact (see moreLikeThisShared) — hybrids over the
    // same corpus share ONE BM25 ranking instead of each rebuilding it
    val mlt = sharedLexKey match {
      case Some(srcKey) => moreLikeThisShared(
        docs, textCol, idCol, queryMod, kEach, maxQueryTerms, srcKey)
      case None => moreLikeThis(docs, textCol, idCol, queryMod, kEach, maxQueryTerms)
    }
    val lex = mlt.select(col("query_id"), col("doc_id"), col("rk"))
    val sem = semantic
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rk"))
      .filter(col("rk") <= kEach)
    rrfFuse(lex, sem, kRrf, k)
  }

  /** Full (term, doc_id, tf) postings — the BM25 index-build pass: one
    * explode, one (doc, term) partial-agg shuffle over the whole vocab.
    * Persist with `repartitionByRange($"term").sortWithinPartitions("term")`
    * so parquet row-group min/max stats on `term` prune query-time scans. */
  def bm25Postings(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        graft.functions.Generators.ngramExplode(col(textCol), 1).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** (doc_id, dl) — map-only token-array sizes, zero-token docs excluded
    * (they can match no term; df/avgdl count tokenizable docs only). */
  def docLengths(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        size(graft.functions.TextHash.tokens(col(textCol))).cast("long").as("dl"))
      .filter(col("dl") > 0)

  /** BM25 FROM A PERSISTED INDEX: answer queries off pre-built
    * [[bm25Postings]] + [[docLengths]] relations instead of the corpus —
    * the production shape: build once (the only corpus-text scans),
    * persist, then every query run reads just the matching postings.
    * Query terms prune via an `isin` LITERAL filter, which reaches the
    * parquet scan as a pushed `In` predicate — with term-sorted postings
    * files, row-group stats skip everything else. Verdicts are
    * bit-identical to [[bm25TopK]] (same integer-micro contributions from
    * the same tf/df/dl values — spec-pinned across a write/reload
    * boundary). */
  def bm25FromIndex(postings: DataFrame, dl: DataFrame,
      queries: Seq[(String, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queries.flatMap(_._2).distinct
    val tf = postings.filter(col("term").isin(terms: _*))
    scoreBm25(tf, dl, queryRelation(postings.sparkSession, queries), k, k1, b)
  }

  /** RETRIEVAL EVALUATION — MRR / recall@k of the engine's own BM25
    * ranking against a MECHANICAL relevance oracle (docs containing ALL
    * the query's terms — boolean-AND relevance, the standard pseudo-label
    * when no human judgments exist): per query, the relevant-doc count,
    * the rank of the first relevant doc in the BM25 top-`k` (0 = none
    * retrieved), reciprocal rank and recall@k in integer ppm. The
    * evaluation harness that belongs NEXT to a retrieval stack: a ranking
    * change shows up here as a moved integer, not an anecdote.
    *
    * Output: (query_id, n_relevant, first_rank, rr_ppm, hits_at_k,
    * recall_ppm), one row per query (queries with zero relevant docs
    * report zeros), ordered by query_id.
    *
    * 100 TB shape: rides [[bm25TopK]]'s pruned shape (postings semi-join
    * the broadcast query terms BEFORE the tf shuffle); the relevance side
    * is a distinct (doc, query-term) projection of the SAME pruned
    * postings (no second corpus scan shape), aggregated per (query, doc)
    * with a broadcast query-size join; all metric arithmetic is exact
    * integer. */
  def retrievalEval(docs: DataFrame, textCol: String, idCol: String,
      queries: Seq[(String, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    val qr = queryRelation(spark, queries)
    val base = docs.filter(col(textCol).isNotNull)
    // ONE pruned-postings relation for BOTH the ranking and the relevance
    // oracle (r14): the boolean-AND relevance side only needs the distinct
    // (doc, query-term) containment pairs, which are exactly this tf's
    // grouping keys — the previous docTerms derivation re-tokenized the
    // corpus for a projection of a relation the ranking already built.
    val tf = prunedQueryTf(base, textCol, idCol, qr).localCheckpoint()
    val ranked = scoreBm25(tf,
      docLengths(base, textCol, idCol).localCheckpoint(), qr, k, k1, b)
      .select(col("query_id"), col("doc_id"), col("rk"))
    val docTerms = tf.select("doc_id", "term")
    val qsizes = qr.groupBy("query_id").agg(countDistinct(col("term")).as("nt"))
    val relevant = docTerms.join(broadcast(qr), Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(countDistinct(col("term")).as("mt"))
      .join(broadcast(qsizes), Seq("query_id"))
      .filter(col("mt") === col("nt"))
      .select("query_id", "doc_id")
    val nRel = relevant.groupBy("query_id").agg(count(lit(1)).as("n_relevant"))
    val hit = ranked.join(relevant, Seq("query_id", "doc_id"), "left_semi")
      .groupBy("query_id")
      .agg(min(col("rk")).as("__fr"), count(lit(1)).as("__hits"))
    qsizes.select("query_id")
      .join(nRel, Seq("query_id"), "left")
      .join(hit, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_relevant"), lit(0L)).as("n_relevant"),
        coalesce(col("__fr"), lit(0L)).as("first_rank"),
        when(coalesce(col("__fr"), lit(0L)) > 0,
          expr("1000000 div __fr")).otherwise(lit(0L)).as("rr_ppm"),
        coalesce(col("__hits"), lit(0L)).as("hits_at_k"),
        when(coalesce(col("n_relevant"), lit(0L)) > 0,
          expr("coalesce(__hits, 0) * 1000000 div n_relevant"))
          .otherwise(lit(0L)).as("recall_ppm"))
      .orderBy("query_id")
  }

  /** The nDCG rank-discount table as driver-computed integer literals:
    * `round(10⁶ / log2(r + 1))` for r = 1..k — inlined identically into
    * both engines (the S-curve theory-literal convention), so the one
    * non-algebraic function in nDCG (the log) can never diverge
    * cross-engine. */
  private[graft] def ndcgDiscountPpm(k: Int): Seq[Long] =
    (1 to k).map(r => math.round(1e6 * math.log(2.0) / math.log(r + 1.0)))

  /** nDCG@k of the BM25 ranking under GRADED relevance — the eval row
    * [[retrievalEval]]'s binary boolean-AND relevance cannot give: a doc
    * matching 3 of 4 query terms counts 3/4 of a perfect match instead
    * of zero, and rank position is discounted by the standard
    * `1 / log2(rank + 1)`. Grade = distinct query terms present (0..nt,
    * exact integers); DCG@k = Σ grade(rank r) · D(r) with the discount
    * table D driver-inlined as micro literals ([[ndcgDiscountPpm]]);
    * IDCG = the same sum over the ideal ordering (grade desc, doc id
    * asc — total order, both engines); nDCG = DCG·10⁶ div IDCG, exact
    * BIGINT end to end. A query whose terms match nothing reports 0.
    *
    * Output per query: (query_id, dcg_micro, idcg_micro, ndcg_ppm),
    * ordered by query_id.
    *
    * 100 TB shape: rides [[bm25TopK]]'s pruned postings (corpus tokens
    * semi-joined to query terms BEFORE the tf shuffle); the grade
    * relation is |queries| × matching docs; the ideal ranking is a
    * per-query window over that already-pruned relation; ≤ |queries|
    * rows out. */
  def ndcgEval(docs: DataFrame, textCol: String, idCol: String,
      queries: Seq[(String, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"bad k: $k")
    val spark = docs.sparkSession
    val qr = queryRelation(spark, queries)
    val disc = array(ndcgDiscountPpm(k).map(lit): _*)
    val base = docs.filter(col(textCol).isNotNull)
    // shared pruned-postings relation for ranking AND grades — the
    // retrievalEval move (r14): grade = distinct query terms present,
    // and the distinct (doc, query-term) pairs ARE this tf's keys
    val tf = prunedQueryTf(base, textCol, idCol, qr).localCheckpoint()
    val ranked = scoreBm25(tf,
      docLengths(base, textCol, idCol).localCheckpoint(), qr, k, k1, b)
      .select(col("query_id"), col("doc_id"), col("rk"))
    val grades = tf.select("doc_id", "term")
      .join(broadcast(qr), Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(countDistinct(col("term")).as("rel"))
    val wIdeal = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("doc_id").asc)
    val idcg = grades
      .withColumn("irk", row_number().over(wIdeal))
      .filter(col("irk") <= k)
      .select(col("query_id"),
        (col("rel") * element_at(disc, col("irk"))).as("g"))
      .groupBy("query_id")
      .agg(sum(col("g")).as("idcg_micro"))
    val dcg = ranked
      .join(grades, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"),
        (coalesce(col("rel"), lit(0L)) * element_at(disc, col("rk").cast("int"))).as("g"))
      .groupBy("query_id")
      .agg(sum(col("g")).as("dcg_micro"))
    qr.select("query_id").distinct()
      .join(idcg, Seq("query_id"), "left")
      .join(dcg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        coalesce(col("idcg_micro"), lit(0L)).as("idcg_micro"),
        when(coalesce(col("idcg_micro"), lit(0L)) > 0,
          expr("coalesce(dcg_micro, 0L) * 1000000 div idcg_micro"))
          .otherwise(lit(0L)).as("ndcg_ppm"))
      .orderBy("query_id")
  }

  private def queryRelation(spark: org.apache.spark.sql.SparkSession,
      queries: Seq[(String, Seq[String])]): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty, "empty query set")
    queries
      .flatMap { case (qid, ts) => ts.distinct.map(qid -> _) }
      .toDF("query_id", "term")
  }

  /** Shared scoring stage: df off the pruned tf relation, N/avgdl off the
    * doc-length relation, integer-micro per-term contributions, exact
    * BIGINT per-(query, doc) sum, bounded top-k window per query.
    * `qterms` is any broadcastable (query_id, term) relation — literal
    * VALUES or document-derived; `excludeSelf` drops query_id == doc_id
    * rows before ranking (the doc-as-query case). */
  private def scoreBm25(tf: DataFrame, dl: DataFrame,
      qterms: DataFrame, k: Int,
      k1: Double, b: Double, excludeSelf: Boolean = false): DataFrame = {
    require(k >= 1, s"bad k: $k")
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df_docs"))
    val corpus = dl.agg(
      count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))

    val idf = log(lit(1.0) +
      (col("n_docs") - col("df_docs") + lit(0.5)) / (col("df_docs") + lit(0.5)))
    val tfNorm = (col("tf") * (lit(k1) + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))

    val contrib0 = tf
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(df), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(corpus))
      .select(col("query_id"), col("doc_id"),
        round(idf * tfNorm * lit(1e6), 0).cast("long").as("contrib_micro"))
    val contrib =
      if (excludeSelf) contrib0.filter(col("query_id") =!= col("doc_id"))
      else contrib0

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    contrib
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib_micro")).as("score_micro"),
        count(lit(1)).as("n_terms_hit"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("doc_id"),
        col("score_micro"), col("n_terms_hit"))
      .orderBy("query_id", "rk")
  }

  /** EXACT PHRASE SEARCH over a POSITIONAL index — the retrieval
    * primitive BM25's bag-of-words structurally cannot express ("big
    * order scan" as a phrase, not three terms): positional postings
    * (doc, term, pos) filtered to the phrase's terms AT THE SCAN (an
    * IN-list of a handful of literals — predicate-pushdown territory),
    * then one equi-join per subsequent phrase term on
    * (doc, pos + offset) — the standard positional-intersection plan.
    * Reports per-document phrase occurrence counts, most hits first.
    *
    * 100 TB shape: the explode emits positions map-only; the IN-list
    * prunes to phrase-term postings BEFORE any shuffle (the bm25TopK
    * semi-join trick with literal terms), so the n−1 position joins
    * shuffle only those postings on the (doc, pos) key family. No
    * windows, integer positions, bounded TakeOrdered. A persisted
    * positional-postings artifact drops the scan entirely — the q105
    * pattern; this entry builds it inline so the oracle stays
    * single-statement. */
  def phraseSearch(docs: DataFrame, textCol: String, idCol: String,
      phrase: Seq[String], limit: Int): DataFrame = {
    require(phrase.size >= 2, s"phrase needs >= 2 terms: $phrase")
    require(limit >= 1, s"bad limit: $limit")
    val post = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextHash.tokens(col(textCol)))
          .as(Seq("pos", "term")))
      .filter(col("term").isin(phrase.map(_.asInstanceOf[Any]): _*))
    val first = post.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    val matches = phrase.tail.zipWithIndex.foldLeft(first) {
      case (acc, (t, i)) =>
        acc.join(
          post.filter(col("term") === t)
            .select(col("doc_id"), (col("pos") - (i + 1)).as("pos")),
          Seq("doc_id", "pos"))
    }
    matches
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"))
      .orderBy(col("n_matches").desc, col("doc_id").asc)
      .limit(limit)
  }
}
