package graft

import graft.io.Tables
import graft.ops.RetrievalOps
import org.scalatest.funsuite.AnyFunSuite

class RetrievalOpsSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark
  private def docs = Tables.documents(spark, sf)

  test("inverted index stats match a hand-built fixture") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a"), (2L, "b c"), (3L, "a"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = RetrievalOps.invertedIndexStats(df, "text", "doc_id", minDf = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // a: docs 1(tf2), 3(tf1); b: 1(tf1), 2(tf1); c: 2(tf1)
    assert(got.toSeq == Seq(
      ("a", 2L, 3L, 2L, 1L, 3L, 4L),
      ("b", 2L, 2L, 1L, 1L, 2L, 3L),
      ("c", 1L, 1L, 1L, 2L, 2L, 2L)))
    // minDf prunes the hapax term
    val pruned = RetrievalOps.invertedIndexStats(df, "text", "doc_id", minDf = 2)
      .collect().map(_.getString(0))
    assert(pruned.toSeq == Seq("a", "b"))
  }

  test("bm25 ranks the heavier matching doc first and sums multi-term hits") {
    import spark.implicits._
    // doc 1 mentions "spark" twice in a short doc; doc 2 once in a longer
    // doc; doc 3 matches both query terms so it must out-rank single-term
    // docs for the two-term query; doc 4 matches nothing
    val df = Seq(
      (1L, "spark spark fast"),
      (2L, "spark slow slow slow slow slow"),
      (3L, "spark stream"),
      (4L, "other words only"))
      .toDF("doc_id", "text")
    val out = RetrievalOps.bm25TopK(df, "text", "doc_id",
      Seq("q1" -> Seq("spark", "stream")), k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val ranked = out.map(t => t._3)
    assert(ranked.toSeq == Seq(3L, 1L, 2L), s"got $out")
    // doc 3 hit both terms
    assert(out.find(_._3 == 3L).get._5 == 2L)
    // scores strictly positive and descending
    val scores = out.map(_._4)
    assert(scores.forall(_ > 0) && scores.sameElements(scores.sorted.reverse))
  }

  test("bm25 postings are pruned to query terms before the tf shuffle") {
    // the pruning lives in the tf relation, which bm25TopK materializes
    // behind a localCheckpoint (r14: tf feeds two consumers) — so the
    // semi-join is asserted on the tf builder's own plan, and the
    // end-to-end query is checked for results on top of it
    import org.apache.spark.sql.functions.col
    val spark2 = docs.sparkSession
    import spark2.implicits._
    val tfPlan = RetrievalOps.prunedQueryTf(
      docs.filter(col("text").isNotNull), "text", "doc_id",
      Seq(("q", "spark")).toDF("query_id", "term"))
      .queryExecution.executedPlan.toString
    assert(tfPlan.contains("LeftSemi"), s"expected a semi-join prune in:\n$tfPlan")
    val out = RetrievalOps.bm25TopK(docs, "text", "doc_id",
      Seq("q" -> Seq("spark")), k = 5)
    assert(out.count() == 5)
  }

  test("bm25 from a persisted index survives write/reload bit-identically and prunes the scan") {
    import org.apache.spark.sql.functions.col
    val qs = Seq("qa" -> Seq("join", "filter"), "qb" -> Seq("spark", "stream"))
    val direct = RetrievalOps.bm25TopK(docs, "text", "doc_id", qs, k = 10)
      .collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx").toString
    // term-sorted postings files so row-group min/max stats prune terms
    RetrievalOps.bm25Postings(docs, "text", "doc_id")
      .repartitionByRange(4, col("term")).sortWithinPartitions("term")
      .write.parquet(s"$dir/postings")
    RetrievalOps.docLengths(docs, "text", "doc_id").write.parquet(s"$dir/dl")
    val fromIdx = RetrievalOps.bm25FromIndex(
      spark.read.parquet(s"$dir/postings"), spark.read.parquet(s"$dir/dl"), qs, k = 10)
    assert(fromIdx.collect().toSeq == direct,
      "indexed retrieval must reproduce the direct path bit-for-bit")
    // the query-term filter reaches the postings parquet scan
    val plan = fromIdx.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term"),
      s"expected a pushed In(term, ...) filter on the postings scan in:\n${plan.take(1500)}")
  }

  test("bm25 is deterministic across repartitionings (integer-micro scores)") {
    val a = RetrievalOps.bm25TopK(docs, "text", "doc_id",
      Seq("qa" -> Seq("join", "filter"), "qb" -> Seq("fast", "scan", "vector")), k = 12)
      .collect().toSeq
    val b = RetrievalOps.bm25TopK(docs.repartition(7), "text", "doc_id",
      Seq("qa" -> Seq("join", "filter"), "qb" -> Seq("fast", "scan", "vector")), k = 12)
      .collect().toSeq
    assert(a == b)
  }

  test("rrf fusion: hand-computed integer scores, one-sided docs still score") {
    import spark.implicits._
    // query 1: doc 5 ranks 1st on A and 2nd on B -> 1e6/61 + 1e6/62 = 32520
    //          doc 6 only on A at rank 2        -> 1e6/62         = 16129
    //          doc 7 only on B at rank 1        -> 1e6/61         = 16393
    val a = Seq((1L, 5L, 1L), (1L, 6L, 2L)).toDF("query_id", "doc_id", "rk")
    val b = Seq((1L, 7L, 1L), (1L, 5L, 2L)).toDF("query_id", "doc_id", "rk")
    val out = RetrievalOps.rrfFuse(a, b, kRrf = 60, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 5L, 1000000L / 61 + 1000000L / 62),
      (1L, 2L, 7L, 1000000L / 61),
      (1L, 3L, 6L, 1000000L / 62)), s"got ${out.toSeq}")
  }

  test("more-like-this ranks a near-duplicate of the query doc first, self excluded") {
    import spark.implicits._
    val df = Seq(
      (0L, "catalyst optimizer rewrites logical plans into physical plans"),
      (1L, "catalyst optimizer rewrites logical plans into physical plans quickly"),
      (2L, "gardening tips for growing tomatoes in small urban spaces"),
      (3L, "completely different text about cooking pasta sauces"))
      .toDF("doc_id", "text")
    val out = RetrievalOps.moreLikeThis(df, "text", "doc_id", queryMod = 100, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // query doc 0: its near-copy (doc 1) must rank first; doc 0 itself absent
    assert(out.nonEmpty && out.forall(_._3 != 0L), s"self-match must be excluded: ${out.toSeq}")
    assert(out.head == ((0L, 1L, 1L)), s"near-duplicate first: ${out.toSeq}")
  }

  test("more-like-this term pruning keeps the rarest terms; stopword-only matches vanish") {
    import spark.implicits._
    val df = Seq(
      (0L, "the the the unique zebra"),
      (1L, "the the the common words here and the rest"),
      (2L, "unique zebra appears here too"),
      (3L, "the of and a an"))
      .toDF("doc_id", "text")
    // maxQueryTerms = 2 keeps the query's two rarest terms: unique, zebra
    // ("the" is the corpus's most frequent term) -> only doc 2 matches at
    // all; the stopword-share docs are not even candidates
    val pruned = RetrievalOps.moreLikeThis(df, "text", "doc_id",
      queryMod = 100, k = 5, maxQueryTerms = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(pruned.toSeq == Seq((0L, 2L)), s"got ${pruned.toSeq}")
    // without pruning the stopword overlap drags other docs in
    val full = RetrievalOps.moreLikeThis(df, "text", "doc_id",
      queryMod = 100, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(full.map(_._2).toSet.contains(1L),
      s"unpruned MLT should match stopword-share docs: ${full.toSeq}")
  }

  test("hybrid search fuses both sides and is deterministic") {
    val emb = Tables.embeddings(spark, sf)
    val a = RetrievalOps.hybridSearch(docs, emb, "text", "doc_id", "vec_id", "embedding",
      queryMod = 100, kEach = 10, kRrf = 60, k = 5).collect().toSeq
    assert(a.nonEmpty)
    // every query returns at most k fused rows with ranks 1..n
    a.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length).toSeq)
    }
    val b = RetrievalOps.hybridSearch(docs.repartition(7), emb, "text", "doc_id",
      "vec_id", "embedding", queryMod = 100, kEach = 10, kRrf = 60, k = 5).collect().toSeq
    assert(a == b)
  }

  test("shared lexical ranking: memo serves the identical relation, content equals a fresh build") {
    val key = "retrievalspec-shared-" + System.nanoTime() // unique per run
    val fresh = RetrievalOps.moreLikeThis(docs, "text", "doc_id",
      queryMod = 100, k = 10, maxQueryTerms = 30).collect().toSeq
    val hits0 = RetrievalOps.mltMemo.hits
    val first = RetrievalOps.moreLikeThisShared(docs, "text", "doc_id",
      queryMod = 100, k = 10, maxQueryTerms = 30, sourceKey = key)
    val second = RetrievalOps.moreLikeThisShared(docs, "text", "doc_id",
      queryMod = 100, k = 10, maxQueryTerms = 30, sourceKey = key)
    // the second call is a memo HIT returning the same materialized
    // relation — no recomputation of the lexical side
    assert(second eq first)
    // >=: the counter is global and other suites run in parallel (the
    // catalog hybrids share their lexical side through this memo)
    assert(RetrievalOps.mltMemo.hits >= hits0 + 1)
    assert(first.collect().toSeq == fresh)
    // a different parameterization never collides
    val other = RetrievalOps.moreLikeThisShared(docs, "text", "doc_id",
      queryMod = 100, k = 5, maxQueryTerms = 30, sourceKey = key)
    assert(!(other eq first))
    // and the shared-key hybrid equals the unshared hybrid bit for bit
    val emb = Tables.embeddings(spark, sf)
    val unshared = RetrievalOps.hybridSearch(docs, emb, "text", "doc_id",
      "vec_id", "embedding", queryMod = 100, kEach = 10, kRrf = 60, k = 5)
      .collect().toSeq
    val shared = RetrievalOps.hybridSearch(docs, emb, "text", "doc_id",
      "vec_id", "embedding", queryMod = 100, kEach = 10, kRrf = 60, k = 5,
      sharedLexKey = Some(key))
      .collect().toSeq
    assert(shared == unshared)
  }

  test("shared lexical memo: mutating the backing dir under a constant sourceKey recomputes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_stale_").toString
    val path = dir + "/docs"
    val key = "retrievalspec-stale-" + System.nanoTime() // constant across BOTH calls
    Seq((0L, "alpha beta gamma"), (1L, "alpha beta delta"), (2L, "epsilon zeta eta"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(path)
    val first = RetrievalOps.moreLikeThisShared(spark.read.parquet(path),
      "text", "doc_id", queryMod = 2, k = 2, maxQueryTerms = 10, sourceKey = key)
    val firstRows = first.collect().toSeq
    // MUTATE the backing data under the SAME path and sourceKey: the
    // content fingerprint (sorted inputFiles) must force a fresh build —
    // the pre-r10 string key would have served the stale ranking here
    // non-isomorphic to the first fixture: doc 2 now shares a term with
    // doc 0, so the fresh ranking has MORE rows than the stale one would
    Seq((0L, "one two three"), (1L, "one two four"), (2L, "three five six"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(path)
    val reread = spark.read.parquet(path)
    val changed = RetrievalOps.moreLikeThisShared(reread,
      "text", "doc_id", queryMod = 2, k = 2, maxQueryTerms = 10, sourceKey = key)
    assert(!(changed eq first))
    val fresh = RetrievalOps.moreLikeThis(reread,
      "text", "doc_id", queryMod = 2, k = 2, maxQueryTerms = 10).collect().toSeq
    assert(changed.collect().toSeq == fresh)
    assert(changed.collect().toSeq != firstRows)
  }

  test("ndcgEval: matches an independent DCG recount; perfect single-term retrieval scores 10^6") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "x y common words"),            // rel(qa)=2
      (2L, "x x x x x x x x x x common"),  // rel(qa)=1, heavy tf
      (3L, "y common filler"),             // rel(qa)=1
      (4L, "nothing relevant here"),       // rel(qa)=0
      (5L, "z z common"))                  // rel(qb)=1
      .toDF("doc_id", "text")
    val queries = Seq("qa" -> Seq("x", "y"), "qb" -> Seq("z"))
    val k = 4
    val out = RetrievalOps.ndcgEval(df, "text", "doc_id", queries, k)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // independent recount: rel = distinct query terms present; DCG off
    // the actual BM25 ranking; IDCG off (rel desc, doc asc)
    val disc = RetrievalOps.ndcgDiscountPpm(k)
    val rel = Map(
      ("qa", 1L) -> 2L, ("qa", 2L) -> 1L, ("qa", 3L) -> 1L, ("qb", 5L) -> 1L)
    val ranked = RetrievalOps.bm25TopK(df, "text", "doc_id", queries, k)
      .select(col("query_id"), col("doc_id"), col("rk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val dcg = ranked.groupBy(_._1).view.mapValues(_.map { case (q, d, rk) =>
      rel.getOrElse((q, d), 0L) * disc(rk.toInt - 1)
    }.sum).toMap
    val idcg = rel.keys.groupBy(_._1).view.mapValues(ds =>
      ds.toSeq.map(kk => (rel(kk), kk._2)).sortBy { case (r, d) => (-r, d) }
        .take(k).zipWithIndex.map { case ((r, _), i) => r * disc(i) }.sum).toMap
    queries.map(_._1).foreach { q =>
      val (gotDcg, gotIdcg, gotNdcg) = out(q)
      assert(gotDcg == dcg(q), s"$q dcg: got $gotDcg want ${dcg(q)}")
      assert(gotIdcg == idcg(q), s"$q idcg: got $gotIdcg want ${idcg(q)}")
      assert(gotNdcg == gotDcg * 1000000L / gotIdcg)
      assert(gotNdcg <= 1000000L)
    }
    // qb is a single-term query whose lone match ranks first: DCG = IDCG
    assert(out("qb")._3 == 1000000L)
  }

  test("phrase search: adjacency required, counts exact, repeated terms handled") {
    import spark.implicits._
    val df = Seq(
      (1L, "big order scan then big order scan again"), // 2 matches
      (2L, "one big order scan here"), // 1 match
      (3L, "big scan order"), // terms present, wrong order: 0
      (4L, "big order nothing scan"), // not adjacent: 0
      (5L, "order scan big")) // wrap-around is not adjacency: 0
      .toDF("doc_id", "text")
    val r = graft.ops.RetrievalOps.phraseSearch(df, "text", "doc_id",
        Seq("big", "order", "scan"), limit = 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 2L, 2L -> 1L))
    // a phrase with a repeated term needs BOTH positions
    val rep = graft.ops.RetrievalOps.phraseSearch(
        Seq((1L, "go go stop"), (2L, "go stop go")).toDF("doc_id", "text"),
        "text", "doc_id", Seq("go", "go"), limit = 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(rep == Map(1L -> 1L))
    intercept[IllegalArgumentException] {
      graft.ops.RetrievalOps.phraseSearch(df, "text", "doc_id", Seq("big"), 10)
    }
  }

  test("retrievalEval: boolean-AND relevance, MRR consistency, zero-relevant query reports zeros") {
    import TestSpark.spark.implicits._
    val df = Seq(
      (1L, "apple pie apple"), (2L, "apple apple apple"),
      (3L, "pie pie apple pie"), (4L, "banana split"))
      .toDF("doc_id", "text")
    val queries = Seq(
      "q_both" -> Seq("apple", "pie"),       // docs 1 and 3 relevant
      "q_none" -> Seq("apple", "banana"))    // no doc has both
    val r = RetrievalOps.retrievalEval(df, "text", "doc_id", queries, k = 10)
      .collect().map(x => x.getString(0) -> x).toMap
    val both = r("q_both")
    assert(both.getAs[Long]("n_relevant") == 2L)
    assert(both.getAs[Long]("hits_at_k") == 2L)
    assert(both.getAs[Long]("recall_ppm") == 1000000L)
    val fr = both.getAs[Long]("first_rank")
    assert(fr >= 1L && both.getAs[Long]("rr_ppm") == 1000000L / fr)
    val none = r("q_none")
    assert(none.getAs[Long]("n_relevant") == 0L)
    assert(none.getAs[Long]("first_rank") == 0L && none.getAs[Long]("rr_ppm") == 0L)
    assert(none.getAs[Long]("hits_at_k") == 0L && none.getAs[Long]("recall_ppm") == 0L)
  }
}
