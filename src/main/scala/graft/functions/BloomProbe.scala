package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{StringInput, toColumn, toExpression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Membership probe against a DRIVER-BUILT Bloom filter as a native
  * codegen expression — the scan-side half of the Bloom-pre-filtered
  * incremental dedup ([[graft.ops.DedupOps.exactDedupDeltaBloom]]).
  *
  * Spark's own `might_contain` expression only accepts the binary blob
  * produced by its `bloom_filter_agg` aggregate, while
  * `DataFrame.stat.bloomFilter` hands back a sketch OBJECT — bridging the
  * two costs a serialize/re-parse per plan. Holding the object directly in
  * the expression keeps the whole delta path inside whole-stage codegen
  * (the previous ScalaUDF probe forced an interpreted row boundary around
  * every probe call): the filter rides the task binary, which the
  * scheduler broadcasts ONCE per stage, and each generated row evaluation
  * is a direct `mightContainBinary` call on the shared object.
  *
  * The probe hashes the UTF-8 bytes of the string key —
  * `BloomFilter.mightContainString` is defined as exactly that, so this
  * matches sketches built from the same string column by any path. */
case class BloomProbe(child: Expression, filter: BloomFilter)
    extends UnaryExpression with StringInput {

  override def dataType: DataType = BooleanType

  protected override def nullSafeEval(s: Any): Any =
    filter.mightContainBinary(s.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomFilter", filter,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.mightContainBinary($c.getBytes());")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomProbe =
    copy(child = newChild)
}

object BloomProbe {

  /** Column form: `BloomProbe.probe(col("k"), sketch)`. */
  def probe(c: Column, filter: BloomFilter): Column =
    toColumn(BloomProbe(toExpression(c), filter))
}
