package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Shim to Spark-private API: Column <-> Expression conversion, listener bus.
  *
  * Spark 4 made the converters (`classic.ExpressionUtils`) `private[sql]`;
  * the supported way for a library to register custom Catalyst nodes from
  * the public Column API is a shim in the `org.apache.spark.sql` package —
  * the same approach third-party Spark extensions use.
  */
object GraftSqlBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Runtime function registration into an existing session (the
    * build-time path is `SparkSessionExtensions.injectFunction`). */
  def registerFunction(
      spark: SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(id, info, builder)

  /** A fresh instance of `resolved`'s relation, as a DataFrame: the same
    * schema and file index under new attribute ids, so two instances can
    * be self-joined. Analyzing it lists and infers nothing, so it runs no
    * job. `resolved` must be a relation read, e.g. `spark.read.parquet`. */
  def freshInstance(resolved: DataFrame): DataFrame =
    resolved.queryExecution.analyzed match {
      case r: catalyst.analysis.MultiInstanceRelation =>
        classic.Dataset.ofRows(resolved.sparkSession.asInstanceOf[classic.SparkSession], r.newInstance())
      case p => throw new IllegalArgumentException(s"not a relation read: ${p.nodeName}")
    }

  /** The input contract of a one-string-argument expression: the
    * analyzer rejects any other argument type and adds no implicit cast,
    * so the plan is the one the caller wrote. (`AbstractDataType` is
    * `private[sql]`.) */
  trait StringInput extends catalyst.expressions.ExpectsInputTypes {
    override def inputTypes: Seq[types.AbstractDataType] = Seq(types.StringType)
  }

  /** Waits until every posted listener event is delivered (the bus is `private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
