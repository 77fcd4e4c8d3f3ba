package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{StringInput, toColumn, toExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Multi-literal keyword matching as a native Catalyst expression.
  *
  * The reference's first-pass filter and per-industry tagging
  * (`/root/reference/main.py:223-237,284-288,309-329`) are substring
  * containment of ESCAPED keyword literals — i.e. multi-literal search,
  * not general regex. A `rlike` alternation re-scans the text once per
  * industry pattern; this expression runs ONE Aho-Corasick pass over the
  * text and returns all matched labels. Codegen'd via a reference object
  * (the automaton), so it composes with whole-stage codegen instead of
  * falling back to interpreted eval.
  */
object KeywordMatch {

  /** Aho-Corasick automaton mapping keyword hits to a label bitmask.
    * Labels are limited to 64 (a bitmask long) — taxonomies are small
    * config, not data. Built driver-side, shipped once per executor. */
  final class Tagger(taxonomy: Seq[(String, Seq[String])]) extends Serializable {
    require(taxonomy.size <= 64, "at most 64 labels per tagger")

    private val labels: Array[UTF8String] =
      taxonomy.map(t => UTF8String.fromString(t._1)).toArray
    private val allMask: Long =
      if (labels.length == 64) -1L else (1L << labels.length) - 1

    // Trie as parallel arrays; children in per-node hash maps (chars are
    // arbitrary unicode — Persian in the reference). Built in a local scope
    // so ONLY the final arrays are instance fields: the expression ships the
    // tagger to executors (codegen reference object), and serializing the
    // mutable builder scaffolding alongside the finished arrays would double
    // the payload.
    private val (childArr, outArr, failArr): (
        Array[java.util.HashMap[Char, Integer]], Array[Long], Array[Int]) = {
      val children = scala.collection.mutable.ArrayBuffer(
        new java.util.HashMap[Char, Integer]())
      val out = scala.collection.mutable.ArrayBuffer(0L)
      val fail = scala.collection.mutable.ArrayBuffer(0)

      for (((_, kws), li) <- taxonomy.zipWithIndex; kw <- kws if kw.nonEmpty) {
        var s = 0
        for (c <- kw) {
          val nxt = children(s).get(c)
          s = if (nxt != null) nxt.intValue()
          else {
            children += new java.util.HashMap[Char, Integer]()
            out += 0L; fail += 0
            children(s).put(c, children.size - 1)
            children.size - 1
          }
        }
        out(s) |= 1L << li
      }
      // BFS fail links; merge output masks along fail chains
      val q = new java.util.ArrayDeque[Integer]()
      children(0).forEach((_, v) => { fail(v) = 0; q.add(v) })
      while (!q.isEmpty) {
        val u = q.poll().intValue()
        children(u).forEach { (c, v) =>
          var f = fail(u)
          while (f != 0 && !children(f).containsKey(c)) f = fail(f)
          val fc = children(f).get(c)
          fail(v) = if (fc != null && fc.intValue() != v) fc.intValue() else 0
          out(v) |= out(fail(v))
          q.add(v)
        }
      }
      (children.toArray, out.toArray, fail.toArray)
    }

    def matchBits(text: String): Long = {
      var s = 0
      var bits = 0L
      var i = 0
      val n = text.length
      while (i < n && bits != allMask) {
        val c = text.charAt(i)
        var st = s
        var nxt = childArr(st).get(c)
        while (nxt == null && st != 0) { st = failArr(st); nxt = childArr(st).get(c) }
        s = if (nxt != null) nxt.intValue() else 0
        bits |= outArr(s)
        i += 1
      }
      bits
    }

    /** Matched labels in taxonomy order, as Catalyst array data. */
    def tags(text: UTF8String): ArrayData = {
      val bits = matchBits(text.toString)
      if (bits == 0L) Tagger.empty
      else {
        val res = new Array[Any](java.lang.Long.bitCount(bits))
        var li = 0; var j = 0
        while (li < labels.length) {
          if ((bits & (1L << li)) != 0) { res(j) = labels(li); j += 1 }
          li += 1
        }
        new GenericArrayData(res)
      }
    }
  }

  object Tagger {
    private val empty = new GenericArrayData(Array.empty[Any])
  }

  /** `multi_keyword_tags(text)`: array of taxonomy labels with at least one
    * keyword contained in `text` (taxonomy order). Null text -> null. */
  case class MultiKeywordTags(child: Expression, taxonomy: Seq[(String, Seq[String])])
      extends UnaryExpression with StringInput {

    @transient private lazy val tagger = new Tagger(taxonomy)

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true

    protected override def nullSafeEval(input: Any): Any =
      tagger.tags(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("tagger", tagger, classOf[Tagger].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.tags($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): MultiKeywordTags =
      copy(child = newChild)
  }

  /** Column API. */
  def multiKeywordTags(text: Column, taxonomy: Seq[(String, Seq[String])]): Column =
    toColumn(MultiKeywordTags(toExpression(text), taxonomy))
}
