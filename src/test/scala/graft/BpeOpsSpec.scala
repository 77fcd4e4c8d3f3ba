package graft

import graft.ops.{BpeOps, Subword}
import org.scalatest.funsuite.AnyFunSuite

class BpeOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("applyMerge merges greedily left-to-right without overlap") {
    assert(Subword.applyMerge(Seq("a", "a", "a"), "a", "a", "aa") == Seq("aa", "a"))
    assert(Subword.applyMerge(Seq("l", "o", "w"), "l", "o", "lo") == Seq("lo", "w"))
    assert(Subword.applyMerge(Seq("x"), "a", "b", "ab") == Seq("x"))
    assert(Subword.applyMerge(Seq.empty, "a", "b", "ab") == Seq.empty)
  }

  test("mergedSymbolCount equals the applyMerge fold (and the memo) on random words") {
    val merges = Queries.fertilityMerges.toIndexedSeq
    val rnd = new scala.util.Random(42)
    val alphabet = "starchowx"
    (1 to 2000).foreach { _ =>
      val w = (0 until rnd.nextInt(12)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      var syms: Seq[String] = w.map(_.toString)
      merges.foreach { case (l, r) => syms = Subword.applyMerge(syms, l, r, l + r) }
      assert(Subword.mergedCount(BpeOps.round0(w), merges, _ + _) == syms.length, s"word '$w'")
      assert(BpeOps.memo.count(w, merges) == syms.length, s"memo word '$w'")
    }
    // a second merge table on the same thread must not cross-read the memo
    val other = IndexedSeq(("s", "t"))
    assert(BpeOps.memo.count("st", other) == 1)
    assert(BpeOps.memo.count("st", merges) == 1) // st is also a merge there
    assert(BpeOps.memo.count("at", IndexedSeq.empty[(String, String)]) == 2)
  }

  test("bpeTrain learns the textbook merge sequence on the classic fixture") {
    import spark.implicits._
    // Sennrich et al.'s worked example: {low:5, lower:2, newest:6, widest:3}
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val merges = BpeOps.bpeTrain(docs, "text", rounds = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.toSeq == Seq(
      (1, "e", "s", 9L),
      (2, "es", "t", 9L),
      (3, "l", "o", 7L),
      (4, "lo", "w", 7L),
      (5, "e", "w", 6L)), s"got ${merges.toSeq}")
  }

  test("bpeTrain stops early when every word is fully merged") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val merges = BpeOps.bpeTrain(docs, "text", rounds = 10).collect()
    // one merge (a,b) exhausts the corpus
    assert(merges.length == 1)
    assert(merges(0).getString(1) == "a" && merges(0).getString(2) == "b")
  }

  test("round-1 pair counts equal bpeTrain's first learned pair") {
    import spark.implicits._
    val docs = Seq((1L, "low low lower newest")).toDF("doc_id", "text")
    val top = BpeOps.adjacentPairCounts(BpeOps.wordCounts(docs, "text"))
      .collect().head
    val first = BpeOps.bpeTrain(docs, "text", rounds = 1).collect().head
    assert((top.getString(0), top.getString(1), top.getLong(2)) ==
      (first.getString(1), first.getString(2), first.getLong(3)))
  }

  test("bpeEncode with no merges counts characters; full merges count words") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab"), (2L, "abc")).toDF("doc_id", "text")
    val none = BpeOps.bpeEncode(docs, "text", "doc_id", Seq.empty)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(none == Map(1L -> 4L, 2L -> 3L))
    val merged = BpeOps.bpeEncode(docs, "text", "doc_id",
      Seq(("a", "b"), ("ab", "c")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == Map(1L -> 2L, 2L -> 1L))
  }

  test("bpeFertility: hand-computed cascades, greedy non-overlap, zero-word docs") {
    import spark.implicits._
    // merges (a,a) then (aa,a): "aaa" -> [aa,a] -> [aaa]? NO — second pass
    // merges (aa,a) -> [aaa]: 1 token. "aaaa" -> pass1 [aa,aa] (greedy
    // non-overlap), pass2 no (aa,a) adjacency with r="a" -> 2 tokens.
    // "aaaaa" -> pass1 [aa,aa,a], pass2 merges tail (aa,a)? left of "a"
    // is "aa" -> [aa,aaa] -> 2 tokens.
    val docs = Seq(
      (1L, "x", "aaa aaaa aaaaa"), // 1+2+2 = 5 tokens, 12 chars, 3 words
      (2L, "x", "   "), // zero words, still a doc
      (3L, "y", "ab")) // no merge applies: 2 tokens
      .toDF("doc_id", "lang", "text")
    val r = BpeOps.bpeFertility(docs, "text", "lang",
        Seq(("a", "a"), ("aa", "a")))
      .collect().map(x => x.getString(0) -> x).toMap
    val rx = r("x")
    assert(rx.getAs[Long]("n_docs") == 2L && rx.getAs[Long]("n_words") == 3L)
    assert(rx.getAs[Long]("n_chars") == 12L && rx.getAs[Long]("n_bpe_tokens") == 5L)
    assert(rx.getAs[Long]("tokens_per_word_ppm") == 1666666L)
    assert(rx.getAs[Long]("chars_per_token_ppm") == 2400000L)
    val ry = r("y")
    assert(ry.getAs[Long]("n_bpe_tokens") == 2L &&
      ry.getAs[Long]("tokens_per_word_ppm") == 2000000L)
    // a group with only zero-word docs reports null ratios, not a crash
    val z = BpeOps.bpeFertility(
        Seq((9L, "z", " ")).toDF("doc_id", "lang", "text"),
        "text", "lang", Seq(("a", "a")))
      .collect()(0)
    assert(z.getAs[Long]("n_docs") == 1L && z.getAs[Long]("n_words") == 0L)
    assert(z.isNullAt(z.fieldIndex("tokens_per_word_ppm")))
    assert(z.isNullAt(z.fieldIndex("chars_per_token_ppm")))
  }
}
