package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Spark 4 removed the public Column(Expression) constructor (Column is a
  * ColumnNode facade in sql-api); extensions that build custom Catalyst
  * expressions reach the classic converter through a same-package bridge —
  * the standard pattern for Spark-native libraries. */
object GraftSqlBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  def aggColumn(f: AggregateFunction): Column =
    column(f.toAggregateExpression())

  /** `checkpoint` (a `localCheckpoint` result) with the statistics of the
    * `rows` it holds. Spark carries the optimizer's size estimate of the
    * checkpointed plan into the checkpoint, and a join's estimate is the
    * product of its inputs': a loop that joins each round's checkpoint
    * with itself triples the estimate's digits per round, so past ~20
    * rounds planning one round takes seconds, then minutes, of BigInt
    * multiplication. */
  def withRowCount(checkpoint: DataFrame, rows: Long): DataFrame =
    checkpoint.queryExecution.logical match {
      case r: LogicalRDD =>
        val session = checkpoint.sparkSession.asInstanceOf[classic.SparkSession]
        val stats = Statistics(EstimationUtils.getSizePerRow(r.output) * rows, Some(BigInt(rows)))
        classic.Dataset.ofRows(session, r.copy()(session, Some(stats), Some(r.constraints)))
      case other => throw new IllegalArgumentException(
        s"not a checkpoint: ${other.nodeName}")
    }
}
