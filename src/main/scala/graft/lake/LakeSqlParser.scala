package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * The session's SQL PARSER (injected by [[graft.expressions.GraftExtensions]]):
 * Spark's own parser, with every statement plan passed through
 * [[LakeSql.dispatch]] — so plain `spark.sql` runs lake DML, DDL and
 * maintenance (MERGE, OPTIMIZE, VACUUM, DESCRIBE HISTORY, …) the way
 * Delta's parser delegates to Spark's. `spark.sql` enters through
 * `parsePlanWithParameters`, other callers through `parsePlan`; both take
 * the one dispatch. Expressions, identifiers, types and bare queries go
 * straight to Spark.
 */
class LakeSqlParser(spark: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    LakeSql.dispatch(spark, sqlText, delegate.parsePlan(sqlText))
  override def parsePlanWithParameters(sqlText: String,
      paramContext: ParameterContext): LogicalPlan =
    LakeSql.dispatch(spark, sqlText,
      delegate.parsePlanWithParameters(sqlText, paramContext))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}
