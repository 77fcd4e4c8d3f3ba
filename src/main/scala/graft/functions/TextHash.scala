package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine deterministic text hashing / shingling primitives.
  *
  * The whole dedup family (MinHash-LSH, SimHash, Jaccard — SURVEY.md §2.10)
  * is hash-compared against a DuckDB oracle, so every hash here is defined
  * in terms of md5 (identical bytes in any engine) rather than engine-native
  * hash functions (Spark's xxhash64/hash seed/algorithm differ from DuckDB's
  * `hash()`).
  *
  * hash60(s) = first 15 hex chars of md5(s) as a base-16 integer: a uniform
  * 60-bit non-negative value that fits a BIGINT in both engines.
  *   Spark:  conv(substring(md5(s),1,15),16,10)::long
  *   DuckDB: ('0x' || substr(md5(s),1,15))::BIGINT
  *
  * All functions are pure `org.apache.spark.sql.functions` compositions —
  * codegen'd, no UDFs, per-row independent (no shuffle), so they scale
  * linearly with partitions.
  */
object TextHash {

  /** 60-bit md5-derived hash of a string column. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 28-bit md5-derived hash (first 7 hex chars). Small enough that
    * `a*h28+b` with `a,b < 2^31` stays under 2^60 — i.e. safe in engines
    * that ERROR on 64-bit overflow (DuckDB) as well as ones that wrap
    * (JVM). The base hash for the MinHash family. */
  def hash28(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** Modulus of the MinHash universal-hash family: 2^31-1 (prime). */
  val MinHashP = 2147483647L

  /** Whitespace tokenization: trim, split on runs of spaces, drop empties.
    * Preserves the original sequence (shingling must see the raw order —
    * and the DuckDB oracle's list_distinct does not guarantee order, so
    * anything order-sensitive is built from THIS, not from [[tokenSet]]). */
  def tokens(text: Column): Column =
    filter(split(trim(text), " +"), t => t =!= "")

  private val spaceRuns = java.util.regex.Pattern.compile(" +")

  /** JVM twin of [[tokens]] for UDFs and generators: split on runs of
    * U+0020, drop empties. No Java `String.trim` (it strips every char
    * <= U+0020, tabs and newlines too, where [[tokens]]' trim and the
    * oracle's strip spaces only); one precompiled pattern, where
    * `String.split(" +")` compiles it on every call. */
  def words(s: String): Array[String] = spaceRuns.split(s).filter(_.nonEmpty)

  /** `toks(from until until)` joined by single spaces — the shingle,
    * n-gram and chunk text of [[words]]' output. */
  def join(toks: Array[String], from: Int, until: Int): String = {
    val sb = new java.lang.StringBuilder(toks(from))
    var i = from + 1
    while (i < until) { sb.append(' ').append(toks(i)); i += 1 }
    sb.toString
  }

  /** Distinct tokens — only for order-insensitive consumers (SimHash tally,
    * set sizes). */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** Distinct w-gram shingles over a token array (w consecutive tokens
    * joined by a single space). Requires size(toks) >= w at the call site. */
  def shingles(toks: Column, w: Int): Column =
    array_distinct(orderedShingles(toks, w))

  /** POSITIONAL w-gram shingles — [[shingles]] without the distinct: one
    * entry per shingle POSITION, in document order. Winnowing and any
    * other window-over-the-shingle-sequence consumer needs the sequence;
    * the set-semantics dedup family does not. Requires size(toks) >= w
    * at the call site. */
  def orderedShingles(toks: Column, w: Int): Column =
    transform(
      sequence(lit(1), size(toks) - (w - 1)),
      i => concat_ws(" ", (0 until w).map(o => element_at(toks, i + o)): _*))

  /** MinHash universal-hash family member j over a pre-hashed shingle:
    * h_j(x) = (a_j·x + b_j) mod (2^31-1), with closed-form coefficients
    * a_j = 506952114·(j+1) mod P, b_j = (40503·j + 1013904223) mod P that
    * any engine reproduces without lookup tables. With x < 2^28 (hash28)
    * and a_j < 2^31 every intermediate stays under 2^60 — safe both where
    * int64 wraps (JVM) and where it errors (DuckDB). */
  def minhashA(j: Int): Long = 506952114L * (j + 1) % MinHashP
  def minhashB(j: Int): Long = (40503L * j + 1013904223L) % MinHashP
  def minhashMember(j: Int, h: Column): Column =
    (lit(minhashA(j)) * h + lit(minhashB(j))) % MinHashP

  /** LSH band key for band b (a compile-time index) over a minhash
    * signature with r rows/band: hash of the comma-joined band slice
    * (1-indexed signature). */
  def bandHash(sig: Column, b: Int, r: Int): Column =
    hash60(concat_ws(",", (0 until r).map(o => element_at(sig, b * r + o + 1).cast("string")): _*))

  /** 60-bit SimHash over a token array: bit b of the result is set iff more
    * token hashes have bit b set than clear. Fused codegen'd kernel
    * ([[VectorMath.SimHashFingerprint]]): each token is md5'd ONCE and all
    * bit tallies update in one pass — the HOF formulation ([[simhashHof]])
    * re-evaluates the interpreted hash array once per bit (measured ~4×
    * slower end-to-end on the fingerprint queries). */
  def simhash(toks: Column, nBits: Int = 60): Column =
    VectorMath.simhashFingerprint(toks, nBits)

  /** The HOF reference formulation of [[simhash]] — kept as the executable
    * specification the kernel is property-tested against (same md5-derived
    * hash60, same majority rule, same tie behavior: a zero tally clears the
    * bit). */
  def simhashHof(toks: Column, nBits: Int = 60): Column = {
    val hs = transform(toks, t => hash60(t))
    (0 until nBits).map { b =>
      when(
        aggregate(hs, lit(0),
          (a, h) => a + when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1)) > 0,
        lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays, rounded to
    * 6 dp: integer set sizes divided in double — bit-identical across
    * engines. Fused codegen'd kernel ([[VectorMath.JaccardSimilarity]])
    * instead of interpreted `array_intersect`+`array_union`. */
  def jaccard(a: Column, b: Column): Column = VectorMath.jaccardSim(a, b)
}
