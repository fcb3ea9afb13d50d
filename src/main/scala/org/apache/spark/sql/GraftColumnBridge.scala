package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column ↔ Expression conversions for
  * the engine's native Catalyst expressions (graft.expressions.*). Lives in
  * the spark.sql package purely for access; the standard pattern for
  * libraries that add codegen'd expressions without a fork. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Resolve an (unresolved) logical plan into a DataFrame — the hook the
    * SQL-text MERGE surface uses to analyze a `USING <view/subquery>`
    * source with Spark's own analyzer (temp views, nested selects). */
  def dataset(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame's logical plan — the hook SQL-text SELECT uses to splice a
    * lake table's snapshot (DV-filtered, schema-evolved, time-travelled)
    * into a parsed query in place of its `UnresolvedRelation`. */
  def logicalPlan(df: DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.logical

  /** `s` with every field, nested ones too, nullable — the schema a file
    * source reads with. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** Whether values of `s` order by their UTF8 bytes (no collation). */
  def binaryOrdered(s: types.StringType): Boolean = s.supportsBinaryOrdering
}
