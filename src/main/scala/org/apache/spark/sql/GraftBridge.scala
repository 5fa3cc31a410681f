package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` surface so graft can wrap custom
  * Catalyst Expressions as Columns and register SQL functions. Spark 4
  * made `Column` a ColumnNode wrapper; `classic.ExpressionUtils` is the
  * supported conversion for classic (non-Connect) sessions but is
  * package-private, hence this one-file shim.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (runs the analyzer). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def plan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** `TaskContext.taskMemoryManager()` is `private[spark]`; custom
    * physical operators need it to register a MemoryConsumer and
    * participate in execution-memory accounting. */
  def taskMemoryManager(ctx: org.apache.spark.TaskContext)
      : org.apache.spark.memory.TaskMemoryManager =
    ctx.taskMemoryManager()

  /** `StructType.merge` (`private[sql]`): the union Spark's parquet
    * `mergeSchema` read folds file schemas with — fields of `a` first,
    * then `b`'s new ones; conflicting types throw. */
  def mergeSchemas(a: types.StructType, b: types.StructType,
      caseSensitive: Boolean): types.StructType =
    a.merge(b, caseSensitive)

  /** `StructType.asNullable` (`private[spark]`): the schema with every
    * field nullable, as Spark's file sources read any schema. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** Drain the async listener bus (`private[spark]`) so metric listeners
    * observe every task of a just-finished action — the shuffle-volume
    * regression guards depend on it. */
  def waitListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
