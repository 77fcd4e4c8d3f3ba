package graft

import graft.ops.{Subword, WordPieceOps}
import org.scalatest.funsuite.AnyFunSuite

class WordPieceOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("## bookkeeping: merged symbol keeps the left's status, strips the right's prefix") {
    assert(WordPieceOps.mergedSym("q", "##u") == "qu")
    assert(WordPieceOps.mergedSym("##i", "##ng") == "##ing")
    assert(WordPieceOps.mergedSym("qu", "##iz") == "quiz")
    // degenerate literal-# corner stays deterministic (documented):
    // stripping '##' off the symbol '###' leaves '#'
    assert(WordPieceOps.mergedSym("#", "###") == "##")
  }

  test("applyMergeWp is greedy left-to-right, non-overlapping, WordPiece-fused") {
    assert(Subword.applyMerge(Seq("q", "##u", "##i"), "q", "##u",
      WordPieceOps.mergedSym("q", "##u")) ==
      Seq("qu", "##i"))
    // overlap: the first match consumes both symbols, the trailing copy stays
    assert(Subword.applyMerge(Seq("a", "##a", "##a"), "a", "##a",
      WordPieceOps.mergedSym("a", "##a")) ==
      Seq("aa", "##a"))
    assert(Subword.applyMerge(Seq("##a", "##a", "##a", "##a"), "##a", "##a",
      WordPieceOps.mergedSym("##a", "##a")) ==
      Seq("##aa", "##aa"))
    // no match leaves the word untouched
    assert(Subword.applyMerge(Seq("x", "##y"), "a", "##b",
      WordPieceOps.mergedSym("a", "##b")) == Seq("x", "##y"))
  }

  test("wpSymbolCount equals the applyMergeWp fold on randomized words and merge lists") {
    val rnd = new scala.util.Random(20260817L)
    def round0(word: String): Seq[String] =
      word.headOption.map(String.valueOf).toSeq ++ word.drop(1).map("##" + _)
    for (_ <- 1 to 300) {
      val word = (1 to (1 + rnd.nextInt(10)))
        .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      // merge list drawn from pairs actually adjacent somewhere in the
      // evolving symbolization, plus a few junk pairs that never match
      var syms = round0(word)
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      for (_ <- 1 to 4) {
        if (syms.length >= 2 && rnd.nextBoolean()) {
          val i = rnd.nextInt(syms.length - 1)
          merges += ((syms(i), syms(i + 1)))
        } else merges += (("zz", "##zz"))
        val (l, r) = merges.last
        syms = Subword.applyMerge(syms, l, r, WordPieceOps.mergedSym(l, r))
      }
      assert(Subword.mergedCount(WordPieceOps.round0(word), merges.toIndexedSeq,
        WordPieceOps.mergedSym) == syms.length,
        s"word $word merges $merges")
    }
    assert(Subword.mergedCount(WordPieceOps.round0(""), IndexedSeq.empty,
      WordPieceOps.mergedSym) == 0)
    assert(Subword.mergedCount(WordPieceOps.round0("a"), IndexedSeq.empty,
      WordPieceOps.mergedSym) == 1)
  }

  /** The signature WordPiece-vs-BPE corpus: 'th' is 4x more frequent
    * than 'qu', so BPE's count argmax would learn (t, ##h) first — but
    * q/##u only ever occur together, so the likelihood score
    * 2·10¹²/(2·2) beats 8·10¹²/(8·8) and WordPiece learns (q, ##u)
    * first. Hand-derived round 2: with 'qu' fused, (t, ##h) at
    * 8·10¹²/64 is the only candidate left. */
  private def fixtureDocs = {
    import spark.implicits._
    Seq((1L, "g", "th th th th qu"), (2L, "g", "th th th th qu"))
      .toDF("doc_id", "lang", "text")
  }

  test("training follows the likelihood rule, not the count rule (hand-derived)") {
    val got = WordPieceOps.wordpieceTrain(fixtureDocs, "text", rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5)))
    // round 3 finds no pair (both words fully fused) -> early stop at 2
    assert(got.toSeq == Seq(
      (1, "q", "##u", "qu", 2L, 500000000000L),
      (2, "t", "##h", "th", 8L, 125000000000L)))
  }

  test("round-1 pair scores match the hand-computed integer micro-likelihoods") {
    val got = WordPieceOps.wordpiecePairScores(fixtureDocs, "text", n = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("q", "##u", 2L, 2L, 2L, 500000000000L),
      ("t", "##h", 8L, 8L, 8L, 125000000000L)))
  }

  test("fertility under the trained table matches hand counts") {
    val got = WordPieceOps.wordpieceFertility(fixtureDocs, "text", "lang", rounds = 2)
      .collect().map(_.toSeq)
    // every word fuses to one token: 10 words, 20 chars, 10 tokens
    assert(got.toSeq == Seq(Seq("g", 2L, 10L, 20L, 10L, 1000000L, 2000000L)))
    // one round short: 'th' still splits -> 8 two-symbol words + 2 fused
    val got1 = WordPieceOps.wordpieceFertility(fixtureDocs, "text", "lang", rounds = 1)
      .collect().map(_.toSeq)
    assert(got1.toSeq == Seq(Seq("g", 2L, 10L, 20L, 18L, 1800000L, 1111111L)))
  }

  test("empty corpus: train and fertility return schema-stable empty relations") {
    import spark.implicits._
    val docs = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    assert(WordPieceOps.wordpieceTrain(docs, "text", rounds = 2).count() == 0L)
    assert(WordPieceOps.wordpieceFertility(docs, "text", "lang", rounds = 2)
      .count() == 0L)
    assert(WordPieceOps.wordpiecePairScores(docs, "text", n = 5).count() == 0L)
  }
}
