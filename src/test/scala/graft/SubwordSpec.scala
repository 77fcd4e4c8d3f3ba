package graft

import graft.functions.TextHash
import graft.ops.{BpeOps, UnigramLmOps, WordPieceOps}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The shared subword-tokenizer kernel: one whitespace-word contract for
  * every tokenizer UDF, and per-family memos keyed by the whole model. */
class SubwordSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("tokenizer UDFs split words like TextHash.tokens: tabs and newlines are word chars") {
    import spark.implicits._
    val docs = Seq((1L, "g", "\tab cd\n")).toDF("doc_id", "grp", "text")
    val toks = docs.select(TextHash.tokens(col("text"))).head().getSeq[String](0)
    assert(toks == Seq("\tab", "cd\n"))
    val (nw, nc) = (toks.size.toLong, toks.map(_.length).sum.toLong)

    // no merges: one BPE token per char
    val enc = BpeOps.bpeEncode(docs, "text", "doc_id", Seq.empty).head()
    assert(enc.getLong(1) == nc)
    // (a, b) merges inside "\tab": \t ab | c d \n
    val bpe = BpeOps.bpeFertility(docs, "text", "grp", Seq(("a", "b"))).head()
    assert((bpe.getLong(2), bpe.getLong(3), bpe.getLong(4)) == ((nw, nc, 5L)))
    val wp = WordPieceOps.wordpieceFertility(docs, "text", "grp", 2).head()
    assert((wp.getLong(2), wp.getLong(3)) == ((nw, nc)))
    val uni = UnigramLmOps.unigramFertility(docs, "text", "grp",
      rounds = 1, maxLen = 2, seedPieces = 4, keepPieces = 4).head()
    assert((uni.getLong(2), uni.getLong(3)) == ((nw, nc)))
  }

  test("the unigram memo keys on the piece-length bound, not only the cost map") {
    val cm = Map("a" -> 5L, "b" -> 5L, "ab" -> 3L, "abab" -> 1L)
    assert(UnigramLmOps.memo.count("abab", (cm, 4)) == 1)
    assert(UnigramLmOps.memo.count("abab", (cm, 2)) == 2)
    assert(UnigramLmOps.memo.count("abab", (cm, 4)) == 1)
  }

  test("BPE and WordPiece memos never cross-read on one merge-table instance") {
    val ms = IndexedSeq(("a", "b"))
    assert(BpeOps.memo.count("ab", ms) == 1)
    // WordPiece symbolizes "ab" as (a, ##b): the (a, b) merge never fires
    assert(WordPieceOps.memo.count("ab", ms) == 2)
    assert(BpeOps.memo.count("ab", ms) == 1)
  }
}
