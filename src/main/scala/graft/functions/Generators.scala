package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.GraftSqlBridge.{StringInput, toColumn, toExpression}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst `Generator`s for the text hot paths.
  *
  * Why not `explode(<array expression>)`: Spark's `InferFiltersFromGenerate`
  * adds `size(arr) > 0 AND isnotnull(arr)` above the Generate, and predicate
  * pushdown then INLINES the whole array-building expression into that
  * filter — with higher-order functions this re-evaluates the tokenizer
  * once per array ELEMENT (O(tokens²) interpreted work per row, twice).
  * A generator takes the raw text column and emits rows in one JVM pass:
  * no intermediate array column exists, so there is nothing to infer
  * filters from or to duplicate. One eval per row, tight JVM code.
  */
object Generators {

  /** Distinct w-token shingles of a whitespace-tokenized text
    * ([[TextHash.words]], the JVM twin of [[TextHash.tokens]]; docs with
    * fewer than `w` tokens emit nothing). */
  case class ShingleExplode(child: Expression, w: Int)
      extends UnaryExpression with Generator with CodegenFallback with StringInput {
    require(w >= 1, s"shingle width must be >= 1, got $w")

    override def elementSchema: StructType =
      StructType(StructField("shingle", StringType, nullable = false) :: Nil)

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val v = child.eval(input)
      if (v == null) return Nil
      val toks = TextHash.words(v.asInstanceOf[UTF8String].toString)
      if (toks.length < w) return Nil
      val seen = new java.util.LinkedHashSet[String]
      var i = 0
      while (i <= toks.length - w) { seen.add(TextHash.join(toks, i, i + w)); i += 1 }
      val out = new Array[InternalRow](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) {
        out(j) = InternalRow(UTF8String.fromString(it.next())); j += 1
      }
      out
    }

    override protected def withNewChildInternal(newChild: Expression): ShingleExplode =
      copy(child = newChild)
  }

  /** Analyzer tokens of [[graft.text.SimpleAnalyzer]] as a generator:
    * lowercase, split on non-alphanumeric runs, keep tokens with
    * length >= minLen that are not pure digits and not stopwords.
    * Emits one row per SURVIVING token occurrence (multiset — word counts
    * need duplicates). */
  case class TokenExplode(child: Expression, minLen: Int, stopwords: Seq[String])
      extends UnaryExpression with Generator with CodegenFallback with StringInput {

    @transient private lazy val stopSet: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String](math.max(16, stopwords.size * 2))
      stopwords.foreach(s.add)
      s
    }
    @transient private lazy val splitter = java.util.regex.Pattern.compile("[^a-z0-9]+")
    @transient private lazy val digits = java.util.regex.Pattern.compile("^[0-9]+$")

    override def elementSchema: StructType =
      StructType(StructField("token", StringType, nullable = false) :: Nil)

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val v = child.eval(input)
      if (v == null) return Nil
      val toks = splitter.split(
        v.asInstanceOf[UTF8String].toString.toLowerCase(java.util.Locale.ROOT))
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      var i = 0
      while (i < toks.length) {
        val t = toks(i)
        if (t.length >= minLen && !digits.matcher(t).matches() && !stopSet.contains(t))
          out += InternalRow(UTF8String.fromString(t))
        i += 1
      }
      out
    }

    override protected def withNewChildInternal(newChild: Expression): TokenExplode =
      copy(child = newChild)
  }

  /** [[graft.text.UnicodeAnalyzer]] tokens as a generator: the full
    * normalize → split → lemmatize → strict-filter chain in one JVM pass per
    * row, with hash-set stopword/noise/lemma lookups. Emits one row per
    * SURVIVING token occurrence, original case (multiset — word counts need
    * duplicates). Semantics must stay identical to the analyzer's Column
    * form ([[graft.text.UnicodeAnalyzer.tokens]]) — pinned by a property
    * test comparing the two on mixed Persian/ASCII corpora. */
  case class UnicodeTokenExplode(child: Expression, analyzer: graft.text.UnicodeAnalyzer)
      extends UnaryExpression with Generator with CodegenFallback with StringInput {
    import graft.text.{UnicodeAnalyzer => UA}
    import java.util.regex.Pattern

    @transient private lazy val spacing = Pattern.compile(UA.SpacingPattern)
    @transient private lazy val diacritics = Pattern.compile(UA.DiacriticsClass)
    @transient private lazy val repeated = Pattern.compile("(\\p{L})\\1{2,}")
    @transient private lazy val splitter = Pattern.compile(UA.TokenSplitPattern)
    @transient private lazy val charset = Pattern.compile(UA.CharsetPattern)
    @transient private lazy val asciiOnly = Pattern.compile(UA.AsciiOnlyPattern)
    @transient private lazy val anyDigit = Pattern.compile(UA.AnyDigitPattern)
    @transient private lazy val stopSet: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String](math.max(16, analyzer.stopwords.size * 2))
      analyzer.stopwords.foreach(w => s.add(w.toLowerCase(java.util.Locale.ROOT)))
      s
    }
    @transient private lazy val noiseSet: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String](16)
      analyzer.asciiNoise.foreach(w => s.add(w.toLowerCase(java.util.Locale.ROOT)))
      s
    }
    @transient private lazy val webArr: Array[String] = analyzer.webNoise.toArray

    override def elementSchema: StructType =
      StructType(StructField("token", StringType, nullable = false) :: Nil)

    private def normalize(text: String): String = {
      var s = text
      if (analyzer.correctSpacing) s = spacing.matcher(s).replaceAll("$1‌$2")
      if (analyzer.unicodeReplacement) {
        val sb = new java.lang.StringBuilder(s.length)
        var i = 0
        while (i < s.length) {
          val c = s.charAt(i)
          val j = UA.CharMapFrom.indexOf(c)
          sb.append(if (j >= 0) UA.CharMapTo.charAt(j) else c)
          i += 1
        }
        s = sb.toString
      }
      if (analyzer.removeDiacritics) s = diacritics.matcher(s).replaceAll("")
      if (analyzer.decreaseRepeatedChars) s = repeated.matcher(s).replaceAll("$1")
      s
    }

    private def keep(t: String): Boolean = {
      if (t.length < analyzer.minLen) return false
      val tl = t.toLowerCase(java.util.Locale.ROOT)
      if (stopSet.contains(tl)) return false
      if (anyDigit.matcher(t).find()) return false
      var i = 0
      while (i < webArr.length) {
        if (tl.contains(webArr(i))) return false
        i += 1
      }
      if (!charset.matcher(t).matches()) return false
      if (asciiOnly.matcher(t).matches() &&
        (t.length > analyzer.asciiMaxLen || noiseSet.contains(tl))) return false
      true
    }

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val v = child.eval(input)
      if (v == null) return Nil
      val toks = splitter.split(normalize(v.asInstanceOf[UTF8String].toString))
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      var i = 0
      while (i < toks.length) {
        val raw = toks(i)
        val lemmaed = analyzer.lemmas.getOrElse(raw, raw)
        val hash = lemmaed.indexOf('#')
        val t = if (hash >= 0) lemmaed.substring(0, hash) else lemmaed
        if (keep(t)) out += InternalRow(UTF8String.fromString(t))
        i += 1
      }
      out
    }

    override protected def withNewChildInternal(newChild: Expression): UnicodeTokenExplode =
      copy(child = newChild)
  }

  /** Every w-gram OCCURRENCE of the whitespace-tokenized text, in order
    * (multiset — repetition metrics need duplicates, unlike
    * [[ShingleExplode]]'s distinct set). Same tokenization contract:
    * split on space runs, drop empties; under `w` tokens emits nothing. */
  case class NgramExplode(child: Expression, w: Int)
      extends UnaryExpression with Generator with CodegenFallback with StringInput {
    require(w >= 1, s"ngram width must be >= 1, got $w")

    override def elementSchema: StructType =
      StructType(StructField("ngram", StringType, nullable = false) :: Nil)

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val v = child.eval(input)
      if (v == null) return Nil
      val toks = TextHash.words(v.asInstanceOf[UTF8String].toString)
      if (toks.length < w) return Nil
      val out = new Array[InternalRow](toks.length - w + 1)
      var i = 0
      while (i <= toks.length - w) {
        out(i) = InternalRow(UTF8String.fromString(TextHash.join(toks, i, i + w)))
        i += 1
      }
      out
    }

    override protected def withNewChildInternal(newChild: Expression): NgramExplode =
      copy(child = newChild)
  }

  /** ALL ladder rungs' n-gram window hashes in ONE tokenization pass:
    * (span, h) per L-token window occurrence, for every L in `ladder`
    * with L ≤ token count. `h` is the 60-bit md5 hash of the
    * space-joined window — bit-identical to
    * `conv(substring(md5(w),1,15),16,10)::long` ([[TextHash.hash60]]),
    * so a SQL oracle reproduces it from the window text.
    *
    * Why one generator instead of |ladder| × [[NgramExplode]] scans: the
    * span profile (`TextAnalysisOps.dupSpanProfile`) needs every rung,
    * and each separate explode re-reads and re-tokenizes the full text
    * column; this emits all rungs off one token array and ships 16-byte
    * rows (no window strings cross the shuffle). */
  case class MultiNgramHashExplode(child: Expression, ladder: Seq[Int])
      extends UnaryExpression with Generator with CodegenFallback with StringInput {
    require(ladder.nonEmpty && ladder.forall(_ >= 1) && ladder == ladder.sorted,
      s"ladder must be ascending positive lengths: $ladder")

    override def elementSchema: StructType = StructType(
      StructField("span", org.apache.spark.sql.types.LongType, nullable = false) ::
        StructField("h", org.apache.spark.sql.types.LongType, nullable = false) :: Nil)

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val v = child.eval(input)
      if (v == null) return Nil
      val toks = TextHash.words(v.asInstanceOf[UTF8String].toString)
      if (toks.isEmpty || ladder.head > toks.length) return Nil
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      ladder.iterator.takeWhile(_ <= toks.length).foreach { w =>
        val span = w.toLong
        var i = 0
        while (i <= toks.length - w) {
          val window = TextHash.join(toks, i, i + w).getBytes(UTF_8)
          out += InternalRow(span, VectorMath.md5HexPrefix(window, 15))
          i += 1
        }
      }
      out
    }

    override protected def withNewChildInternal(newChild: Expression): MultiNgramHashExplode =
      copy(child = newChild)
  }

  /** WINNOWING fingerprints of a doc in one JVM pass: (n_fp, fp) rows —
    * one per DISTINCT fingerprint, each carrying the doc's distinct
    * count. Fingerprints are the window minima of the positional k-gram
    * 28-bit hashes ([[TextHash.hash28]]: first 7 md5 hex chars as long),
    * window length `win` — the Schleimer et al. 2003 scheme, same
    * arithmetic as the HOF form in `TextAnalysisOps.winnowingSets`.
    *
    * Why a Generator instead of explode(<HOF chain>): the winnowing
    * expression is a 4-deep nested-lambda tree (split → shingle concat →
    * md5 → window-min), and a Generate stage over it re-EMITS the whole
    * chain at each of its references during whole-stage codegen — the
    * generated function for Project+Generate+partial-agg grew large
    * enough that Janino spent ~60 s compiling it (measured at sf0.001:
    * 62.6 s first execution, 0.1 s re-execution of the cached plan — and
    * every fresh plan recompiles). One tight eval per row removes the
    * codegen object entirely; q144 drops to sub-second. */
  case class WinnowExplode(child: Expression, k: Int, win: Int)
      extends UnaryExpression with Generator with CodegenFallback with StringInput {
    require(k >= 1, s"shingle width must be >= 1, got $k")
    require(win >= 1, s"window must be >= 1, got $win")

    override def elementSchema: StructType = StructType(
      StructField("n_fp", org.apache.spark.sql.types.LongType, nullable = false) ::
        StructField("fp", org.apache.spark.sql.types.LongType, nullable = false) :: Nil)

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val v = child.eval(input)
      if (v == null) return Nil
      val toks = TextHash.words(v.asInstanceOf[UTF8String].toString)
      if (toks.length < k + win - 1) return Nil
      val nSh = toks.length - k + 1
      val hs = new Array[Long](nSh)
      var i = 0
      while (i < nSh) {
        hs(i) = VectorMath.md5HexPrefix(TextHash.join(toks, i, i + k).getBytes(UTF_8), 7)
        i += 1
      }
      val set = new java.util.LinkedHashSet[java.lang.Long]()
      var j = 0
      while (j <= nSh - win) {
        var m = hs(j)
        var o = 1
        while (o < win) { if (hs(j + o) < m) m = hs(j + o); o += 1 }
        set.add(m)
        j += 1
      }
      val n = set.size.toLong
      val out = new Array[InternalRow](set.size)
      val it = set.iterator()
      var r = 0
      while (it.hasNext) { out(r) = InternalRow(n, it.next().longValue()); r += 1 }
      out
    }

    override protected def withNewChildInternal(newChild: Expression): WinnowExplode =
      copy(child = newChild)
  }

  /** Consecutive NON-OVERLAPPING k-token segments of the whitespace-
    * tokenized text, in order: (seg_idx, seg, ntok) rows; the last segment
    * may be shorter than k. Same tokenization contract as the other
    * generators; zero-token docs emit nothing. One JVM pass — the HOF
    * form (posexplode over a transform/slice array) re-evaluates the
    * whole segmentation per emitted segment, O(len²/k) per doc. */
  case class SegmentExplode(child: Expression, k: Int)
      extends UnaryExpression with Generator with CodegenFallback with StringInput {
    require(k >= 1, s"segment width must be >= 1, got $k")

    override def elementSchema: StructType = StructType(
      StructField("seg_idx", org.apache.spark.sql.types.IntegerType, nullable = false) ::
        StructField("seg", StringType, nullable = false) ::
        StructField("ntok", org.apache.spark.sql.types.IntegerType, nullable = false) :: Nil)

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val v = child.eval(input)
      if (v == null) return Nil
      val toks = TextHash.words(v.asInstanceOf[UTF8String].toString)
      if (toks.length == 0) return Nil
      val nSeg = (toks.length + k - 1) / k
      val out = new Array[InternalRow](nSeg)
      var s = 0
      while (s < nSeg) {
        val from = s * k
        val until = math.min(from + k, toks.length)
        out(s) = InternalRow(s, UTF8String.fromString(TextHash.join(toks, from, until)),
          until - from)
        s += 1
      }
      out
    }

    override protected def withNewChildInternal(newChild: Expression): SegmentExplode =
      copy(child = newChild)
  }

  /** OVERLAPPING fixed-size token chunks — the RAG/context-window chunker:
    * chunk `i` covers tokens `[i*stride, min(i*stride + chunk, n))`, one
    * row `(chunk_idx, n_chunk_tokens, chunk)` per start offset below `n`.
    * `stride < chunk` overlaps consecutive chunks by `chunk - stride`
    * tokens (the retrieval-context convention); `stride == chunk` degrades
    * to [[SegmentExplode]]'s non-overlapping segments; `stride > chunk`
    * subsamples. Chunk text is the space-rejoin of the tokens (the
    * [[graft.functions.TextHash.tokens]] normalization — original
    * whitespace runs are not preserved). Zero-token docs emit nothing.
    * Chunking STOPS once a window reaches the document end: a later
    * start whose window would be wholly contained in the previous chunk
    * (possible only when stride < chunk) emits nothing — the RAG-chunker
    * convention; a duplicate-suffix chunk carries no new content and
    * would double-count its tokens downstream.
    * One JVM pass; the HOF form (posexplode over transform(range(...)))
    * re-evaluates the full chunking per emitted chunk. */
  case class ChunkExplode(child: Expression, chunk: Int, stride: Int)
      extends UnaryExpression with Generator with CodegenFallback with StringInput {
    require(chunk >= 1, s"chunk width must be >= 1, got $chunk")
    require(stride >= 1, s"stride must be >= 1, got $stride")

    override def elementSchema: StructType = StructType(
      StructField("chunk_idx", org.apache.spark.sql.types.LongType, nullable = false) ::
        StructField("n_chunk_tokens", org.apache.spark.sql.types.LongType, nullable = false) ::
        StructField("chunk", StringType, nullable = false) :: Nil)

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val v = child.eval(input)
      if (v == null) return Nil
      val toks = TextHash.words(v.asInstanceOf[UTF8String].toString)
      if (toks.length == 0) return Nil
      val n = toks.length
      // starts end when a window reaches the doc end (suffix-duplicate
      // rule, stride < chunk); the ceil(n/stride) cap keeps every start
      // below n in the stride > chunk subsampling regime
      val nChunks = math.min(
        (n + stride - 1) / stride,
        if (n <= chunk) 1 else (n - chunk + stride - 1) / stride + 1)
      val out = new Array[InternalRow](nChunks)
      var s = 0
      while (s < nChunks) {
        val from = s * stride
        val until = math.min(from + chunk, toks.length)
        out(s) = InternalRow(s.toLong, (until - from).toLong,
          UTF8String.fromString(TextHash.join(toks, from, until)))
        s += 1
      }
      out
    }

    override protected def withNewChildInternal(newChild: Expression): ChunkExplode =
      copy(child = newChild)
  }

  /** Ordered pairs (a, b) over an array column, sorted internally so
    * input order is irrelevant: the bucket-local candidate generator for
    * LSH/IVF near-dup search. Accepts `array<bigint>` (pairs of ids,
    * a < b) or `array<struct<bigint, ...>>` (pairs of payload structs,
    * ordered by the UNIQUE long first field — id-plus-fingerprint rides
    * the shuffle without a second join). One lazy JVM pass per bucket
    * row — `explode(orderedPairs(ids))` re-builds the O(n²) pair array
    * per emitted pair once `InferFiltersFromGenerate` + projection
    * collapse inline it (O(n⁴) at the bucket cap); here the pair array
    * never exists at all. */
  case class PairsExplode(child: Expression)
      extends UnaryExpression with Generator with CodegenFallback {
    import org.apache.spark.sql.types.{ArrayType, LongType}

    private def elemType: DataType =
      child.dataType.asInstanceOf[ArrayType].elementType

    override def elementSchema: StructType = StructType(
      StructField("a", elemType, nullable = false) ::
        StructField("b", elemType, nullable = false) :: Nil)

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      child.dataType match {
        case ArrayType(LongType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case ArrayType(s: StructType, _)
            if s.fields.nonEmpty && s.fields.head.dataType == LongType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"pairs_explode needs array<bigint> or array<struct<bigint,...>>, got $t")
      }
    }

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val v = child.eval(input)
      if (v == null) return Nil
      val data = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = data.numElements()
      if (n < 2) return Nil
      val arr: Array[Any] = elemType match {
        case LongType =>
          val a = data.toLongArray().sorted
          a.map(x => x: Any)
        case s: StructType =>
          // copy() — ArrayData rows may share a backing buffer
          val a = new Array[InternalRow](n)
          var i = 0
          while (i < n) { a(i) = data.getStruct(i, s.length).copy(); i += 1 }
          java.util.Arrays.sort(a, (x: InternalRow, y: InternalRow) =>
            java.lang.Long.compare(x.getLong(0), y.getLong(0)))
          a.map(x => x: Any)
      }
      // lazy: a capped bucket is ~n²/2 pairs — stream them, never hold them
      new Iterator[InternalRow] {
        private var i = 0
        private var j = 1
        override def hasNext: Boolean = i < arr.length - 1
        override def next(): InternalRow = {
          val r = InternalRow(arr(i), arr(j))
          j += 1
          if (j >= arr.length) { i += 1; j = i + 1 }
          r
        }
      }
    }

    override protected def withNewChildInternal(newChild: Expression): PairsExplode =
      copy(child = newChild)
  }

  /** Column API: one row per distinct w-shingle of `text`. */
  def shingleExplode(text: Column, w: Int): Column =
    toColumn(ShingleExplode(toExpression(text), w))

  /** Column API: (seg_idx, seg, ntok) per non-overlapping k-token segment. */
  def segmentExplode(text: Column, k: Int): Column =
    toColumn(SegmentExplode(toExpression(text), k))

  /** Column API: (a, b) ordered pairs of a bigint-array column. */
  def pairsExplode(ids: Column): Column =
    toColumn(PairsExplode(toExpression(ids)))

  /** Column API: (chunk_idx, n_chunk_tokens, chunk) per overlapping
    * `chunk`-token window at `stride`-token starts. */
  def chunkExplode(text: Column, chunk: Int, stride: Int): Column =
    toColumn(ChunkExplode(toExpression(text), chunk, stride))

  /** Column API: one row per w-gram occurrence of `text` (multiset). */
  def ngramExplode(text: Column, w: Int): Column =
    toColumn(NgramExplode(toExpression(text), w))

  /** Column API: (span, h) hash60 rows for every ladder rung's windows. */
  def multiNgramHashExplode(text: Column, ladder: Seq[Int]): Column =
    toColumn(MultiNgramHashExplode(toExpression(text), ladder))

  /** Column API: (n_fp, fp) per distinct winnowing fingerprint of `text`. */
  def winnowExplode(text: Column, k: Int, win: Int): Column =
    toColumn(WinnowExplode(toExpression(text), k, win))

  /** Column API: one row per surviving analyzer token of `text`. */
  def tokenExplode(text: Column, minLen: Int, stopwords: Seq[String]): Column =
    toColumn(TokenExplode(toExpression(text), minLen, stopwords))

  /** Column API: one row per surviving [[graft.text.UnicodeAnalyzer]] token. */
  def unicodeTokenExplode(text: Column, analyzer: graft.text.UnicodeAnalyzer): Column =
    toColumn(UnicodeTokenExplode(toExpression(text), analyzer))
}
