package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, TypeCollection}

/** Bridge into Spark's `private[sql]` Column↔Expression converters
  * (Spark 4 removed the public `new Column(Expression)` constructor) and
  * its `private[spark]` Hadoop-configuration builder. Lives in the
  * org.apache.spark.sql package tree purely for access; contains no
  * Spark-internal logic of its own.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** An expected input type accepting any of `types`, for
    * `ExpectsInputTypes.inputTypes` (`TypeCollection` is private[sql]).
    */
  def anyOf(types: DataType*): AbstractDataType = TypeCollection(types: _*)

  /** DataFrame from a LogicalPlan (`Dataset.ofRows` is private[sql]) —
    * needed to hand custom logical nodes to the session's planner.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** A Hadoop configuration built from `conf` the way Spark builds the
    * context's: Hadoop defaults plus every `spark.hadoop.*` entry.
    */
  def hadoopConf(conf: org.apache.spark.SparkConf): org.apache.hadoop.conf.Configuration =
    org.apache.spark.deploy.SparkHadoopUtil.get.newConfiguration(conf)
}
