package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{ShuffledRowRDD, UnsafeRowSerializer}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.SQLMetric

/**
 * Column <-> Expression bridge. Spark 4 `Column` wraps a ColumnNode and
 * the conversion helpers (`classic.ExpressionUtils`) are private[sql],
 * so this one-file shim lives in the org.apache.spark.sql package —
 * the standard pattern for Catalyst-level Spark extensions.
 */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `types.AbstractDataType` is private[sql] in Spark 4; expressions
    * outside this package need it to declare `ExpectsInputTypes.
    * inputTypes`. The alias is the standard visibility bridge. */
  type AbstractDataType = types.AbstractDataType

  /** `StructType.asNullable` (private[spark]): every field, array
    * element and map value nullable — how file sources present a
    * read schema. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** A DataFrame over a graft logical node (`classic.Dataset.ofRows`
    * is private[sql]). */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Spark's own row shuffle as a plain RDD step — the dependency and
    * reader an `Exchange` builds, for an operator that shuffles
    * inside its own RDD. `metrics` carries the shuffle read and write
    * metrics. */
  def exchange(rows: RDD[InternalRow], output: Seq[Attribute], to: Partitioning,
               metrics: Map[String, SQLMetric]): RDD[InternalRow] =
    new ShuffledRowRDD(ShuffleExchangeExec.prepareShuffleDependency(rows, output, to,
      new UnsafeRowSerializer(output.size), metrics), metrics)
}
