package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/**
 * Analyzer RESOLUTION RULE (SURVEY §7 extension ladder, step c — injected by
 * [[graft.expressions.GraftExtensions]]): resolves [[LakeSql]]-registered
 * lake tables inside plain `spark.sql(...)` queries, so a session built
 * with the extension reads lake tables natively (its statements run through
 * [[LakeSqlParser]]):
 *
 * {{{
 *   SparkSession.builder()
 *     .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
 *   ...
 *   LakeSql.register("gold_fact", tbl)
 *   spark.sql("SELECT count(*) FROM gold_fact VERSION AS OF 3")
 * }}}
 *
 * Plain relations and `VERSION/TIMESTAMP AS OF` time travel resolve to the
 * CURRENT snapshot's logical plan (DV-filtered, schema-evolved, never
 * stale); the `table_changes('t', from[, to])` CDF function resolves
 * through the table function the extension registers, which calls
 * [[LakeSql.tableChanges]]. Each snapshot is one scan over a
 * [[ManifestFileIndex]]: a `WHERE` prunes files wherever Catalyst pushes
 * it, with no rewrite here.
 * Catalog names win: Spark's own resolution runs in the same fixed-point
 * batch, so a temp view or catalog table with the same name resolves first
 * and this rule never sees it. Plans with no registered relation pass
 * through untouched (one map probe per relation leaf).
 */
class ResolveLakeRelations(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    LakeSql.resolveRelations(spark, plan)
}
