package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Spark 4 removed the public `Column.expr` accessor (Column is now backed
 * by a ColumnNode shared with Connect). This bridge exposes the classic
 * converter — the supported way for Catalyst-extending libraries to move
 * between `Column` and `Expression`.
 */
object GraftSqlBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Literal attribute reference — THE fix for the recurring "col() PARSES
    * its argument" class: a legal column name containing a dot would bind
    * a struct FIELD path (AnalysisException at best, the wrong data at
    * worst). One definition for Scan/Validation/Optimize and friends. */
  def attr(name: String): Column = column(
    org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(name)))

  /** Re-wrap a batch plan as a *streaming* DataFrame (isStreaming=true) so a
    * v1 `Source.getBatch` result is accepted by MicroBatchExecution — the
    * same `internalCreateDataFrame` recipe Spark's own FileStreamSource
    * uses. The physical RDD is pinned lazily; the micro-batch executes
    * exactly the plan the source built. */
  def streamingDataFrame(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** Pin a sink-side micro-batch (whose plan is an IncrementalExecution) to
    * its physical RDD as a plain batch DataFrame, so downstream writes can
    * re-plan without re-reading the streaming source. */
  def pinnedBatchDataFrame(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Adds `rule` to the session's optimizer unless it is already there.
    * `newSession()` starts from an empty list, so callers register per
    * session rather than per JVM. */
  def registerOptimization(spark: SparkSession, rule: Rule[LogicalPlan]): Unit = {
    val x = spark.asInstanceOf[classic.SparkSession].experimental
    x.synchronized {
      if (!x.extraOptimizations.contains(rule)) x.extraOptimizations :+= rule
    }
  }

}
