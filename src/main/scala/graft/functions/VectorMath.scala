package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Vector kernels as native Catalyst expressions.
  *
  * The `zip_with`+`aggregate` formulation of a dot product is a
  * higher-order-function chain: interpreted evaluation, one boxed lambda
  * call per component, and three array passes. This expression is one
  * fused loop over the raw `ArrayData` (no boxing, codegen'd), with
  * bit-identical arithmetic to the HOF version and the DuckDB oracle:
  * components widened float->double, sequential left-to-right sums.
  */
object VectorMath {

  /** cosine(a, b) = Σaᵢbᵢ / (√Σaᵢ² · √Σbᵢ²), unrounded; null if either
    * side is null. Each side may be array<float> (raw embeddings) or
    * array<double> (derived centroids) — floats widen to double exactly, so
    * the arithmetic is one contract regardless of storage type. Arrays must
    * be equal length; we require it and fail loudly (`zip_with` would fold
    * the common prefix silently). */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType

    private def elemIsFloat(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
        case _ => false
      })
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity needs array<float|double> columns, got " +
          s"${left.dataType} and ${right.dataType}")
    }

    protected override def nullSafeEval(a: Any, b: Any): Any =
      VectorMath.cosine(a.asInstanceOf[ArrayData], elemIsFloat(left),
        b.asInstanceOf[ArrayData], elemIsFloat(right))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorMath.cosine($a, ${elemIsFloat(left)}, $b, ${elemIsFloat(right)});")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): CosineSimilarity =
      copy(left = newLeft, right = newRight)
  }

  /** Shared kernel for interpreted eval and generated code. The element-type
    * flags are codegen-time literals, so JIT folds the branches away. */
  def cosine(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"cosine_similarity: length mismatch ${n} vs ${b.numElements()}")
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Column API: cosine similarity rounded to 6 dp (the engine-wide
    * cross-engine contract for similarity scores). */
  def cosineSim(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.round(
      toColumn(CosineSimilarity(toExpression(a), toExpression(b))), 6)

  /** Squared L2 distance Σ(aᵢ−bᵢ)², unrounded; null if either side is
    * null. Same fused-loop rationale and float/double widening contract
    * as [[CosineSimilarity]]; the sum runs sequentially left-to-right,
    * bit-identical to the `zip_with`+`aggregate` HOF formulation and the
    * DuckDB `list_transform`/`list_reduce` oracle. */
  case class L2Squared(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType

    private def elemIsFloat(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
        case _ => false
      })
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"l2_squared needs array<float|double> columns, got " +
          s"${left.dataType} and ${right.dataType}")
    }

    protected override def nullSafeEval(a: Any, b: Any): Any =
      VectorMath.l2sq(a.asInstanceOf[ArrayData], elemIsFloat(left),
        b.asInstanceOf[ArrayData], elemIsFloat(right))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorMath.l2sq($a, ${elemIsFloat(left)}, $b, ${elemIsFloat(right)});")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): L2Squared =
      copy(left = newLeft, right = newRight)
  }

  /** Shared kernel for interpreted eval and generated code. */
  def l2sq(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"l2_squared: length mismatch ${n} vs ${b.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      acc += d * d
      i += 1
    }
    acc
  }

  /** Column API: squared L2 rounded to 6 dp (engine-wide score
    * contract). */
  def l2Squared(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.round(
      toColumn(L2Squared(toExpression(a), toExpression(b))), 6)

  /** Random-hyperplane LSH bucket: bit p of the result is set iff
    * dot(vec, planes(p)) > 0. Planes travel as a reference object into
    * generated code — no per-plane literal-array columns, no interpreted
    * lambda per component. Dot products are the same sequential
    * left-to-right fold as the HOF/oracle formulation. */
  case class HyperplaneBucket(child: Expression, planes: Array[Array[Double]])
      extends UnaryExpression {

    override def dataType: DataType = LongType

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_bucket needs an array<float> column, got $other")
    }

    protected override def nullSafeEval(v: Any): Any =
      VectorMath.bucketOf(planes, v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("planes", planes, "double[][]")
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = graft.functions.VectorMath.bucketOf($ref, $v);")
    }

    override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
      copy(child = newChild)
  }

  /** Shared kernel for interpreted eval and generated code. */
  def bucketOf(planes: Array[Array[Double]], v: ArrayData): Long = {
    var bits = 0L
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      require(v.numElements() == plane.length,
        s"hyperplane_bucket: vector dim ${v.numElements()} != plane dim ${plane.length}")
      var dot = 0.0
      var i = 0
      while (i < plane.length) { dot += v.getFloat(i).toDouble * plane(i); i += 1 }
      if (dot > 0) bits |= 1L << p
      p += 1
    }
    bits
  }

  /** Column API for [[HyperplaneBucket]]. */
  def hyperplaneBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    toColumn(HyperplaneBucket(toExpression(vec), planes.map(_.toArray).toArray))

  /** Exact Jaccard similarity of two DISTINCT-element string arrays,
    * unrounded: |a∩b| / |a∪b| via one hash-set pass instead of the
    * interpreted `array_intersect`+`array_union` pair (which builds two
    * intermediate arrays per comparison). */
  case class JaccardSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(org.apache.spark.sql.types.StringType, _) => true
        case _ => false
      })
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"jaccard_similarity needs two array<string> columns, got " +
          s"${left.dataType} and ${right.dataType}")
    }

    protected override def nullSafeEval(a: Any, b: Any): Any =
      VectorMath.jaccardSets(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorMath.jaccardSets($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): JaccardSimilarity =
      copy(left = newLeft, right = newRight)
  }

  /** Shared kernel: inputs are distinct-element arrays (the engine's
    * shingle/token-set contract), so sizes are set cardinalities. */
  def jaccardSets(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return Double.NaN // matches 0/0 division
    val set = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String](na * 2)
    var i = 0
    while (i < na) { set.add(a.getUTF8String(i)); i += 1 }
    var inter = 0
    var j = 0
    while (j < nb) { if (set.contains(b.getUTF8String(j))) inter += 1; j += 1 }
    inter.toDouble / (na + nb - inter)
  }

  /** Column API: Jaccard rounded to 6 dp (engine-wide similarity
    * contract). */
  def jaccardSim(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.round(
      toColumn(JaccardSimilarity(toExpression(a), toExpression(b))), 6)

  /** SimHash over a token array as ONE fused kernel: per token, md5 →
    * 60-bit hash → tally all `nBits` bit positions; bit b of the result is
    * set iff more token hashes have it set than clear. The HOF formulation
    * (`transform` + nBits separate `aggregate` folds) evaluates the hash
    * array once PER BIT interpreted — measured 60× the md5 work; this
    * kernel hashes each token once. Bit-identical to the HOF/oracle
    * definition (pinned by a property test). */
  case class SimHashFingerprint(child: Expression, nBits: Int)
      extends UnaryExpression {
    require(nBits >= 1 && nBits <= 60, s"nBits must be in [1, 60], got $nBits")

    override def dataType: DataType = LongType

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash needs an array<string> column, got $other")
    }

    protected override def nullSafeEval(v: Any): Any =
      VectorMath.simhashOf(v.asInstanceOf[ArrayData], nBits)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = graft.functions.VectorMath.simhashOf($v, $nBits);")

    override protected def withNewChildInternal(newChild: Expression): SimHashFingerprint =
      copy(child = newChild)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The first `hexChars` (<= 15) hex digits of md5(bytes) as a
    * non-negative long — `conv(substring(md5(s),1,hexChars),16,10)`:
    * the leading digest bytes, big-endian, minus the trailing nibble
    * when `hexChars` is odd. One digest per thread. */
  def md5HexPrefix(bytes: Array[Byte], hexChars: Int): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < (hexChars + 1) / 2) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    if (hexChars % 2 == 1) v >>> 4 else v
  }

  /** hash60 of a token ([[TextHash.hash60]]): 15 md5 hex digits. */
  def hash60Of(token: org.apache.spark.unsafe.types.UTF8String): Long =
    md5HexPrefix(token.getBytes, 15)

  /** Shared kernel for interpreted eval and generated code. */
  def simhashOf(toks: ArrayData, nBits: Int): Long = {
    val tally = new Array[Int](nBits)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val h = hash60Of(toks.getUTF8String(i))
      var b = 0
      while (b < nBits) {
        if (((h >>> b) & 1L) == 1L) tally(b) += 1 else tally(b) -= 1
        b += 1
      }
      i += 1
    }
    var bits = 0L
    var b = 0
    while (b < nBits) { if (tally(b) > 0) bits |= 1L << b; b += 1 }
    bits
  }

  /** Column API for [[SimHashFingerprint]]. */
  def simhashFingerprint(toks: Column, nBits: Int): Column =
    toColumn(SimHashFingerprint(toExpression(toks), nBits))
}
