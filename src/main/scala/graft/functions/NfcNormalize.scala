package graft.functions

import java.text.Normalizer
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{StringInput, toColumn, toExpression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen expression — the first
  * step of text canonicalization (U+0065 U+0301 and U+00E9 are the same
  * "é"; un-normalized corpora silently split token counts, dedup keys,
  * and shingle hashes across byte representations of equal text).
  *
  * NFC is the right form for a corpus pipeline: canonical composition
  * preserves text content exactly (unlike NFKC's lossy compatibility
  * folding) while making equal text byte-equal. Normalization is
  * stability-guaranteed by the Unicode standard for all assigned
  * codepoints, so the JVM's normalizer and DuckDB's utf8proc
  * `nfc_normalize` agree — the oracle cross-checks two INDEPENDENT
  * implementations of the spec.
  *
  * Costs one `isNormalized` quick-check scan on already-NFC text (the
  * overwhelming hot path for real corpora) and allocates only when
  * composition actually changes bytes.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression with StringInput {

  override def dataType: DataType = StringType

  protected override def nullSafeEval(s: Any): Any =
    NfcNormalize.nfc(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NfcNormalize.nfc($c);")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {

  /** Shared kernel for interpreted eval and generated code. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  /** Column form: `nfcCol(col("text"))`. */
  def nfcCol(c: Column): Column = toColumn(NfcNormalize(toExpression(c)))
}
