package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.util.SerializableConfiguration

/** Bridge into Spark's private[sql] Column<->Expression conversion for
  * graft's custom Catalyst expressions (the Spark-4 Column wraps a
  * ColumnNode, so `new Column(expr)` no longer exists; the supported
  * in-repo converter is classic.ExpressionUtils, which is private[sql]),
  * and into the session's Hadoop conf for graft's hand-rolled file
  * sources (`sessionState` and `SerializableConfiguration` are internal).
  */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** [[expression]] converted now rather than at analysis, so an
    * expression built on it prints its input (`f('s)`) instead of a
    * lazy placeholder. */
  def converted(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)

  /** The session's Hadoop conf as Spark's file sources build it: the
    * `spark.hadoop.*` settings plus the session's SQL settings. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** [[hadoopConf]] shipped to tasks in one broadcast, as Spark's file
    * scans ship it; the returned function yields it inside a task. */
  def shippedHadoopConf(spark: SparkSession): () => Configuration = {
    val shipped = spark.sparkContext.broadcast(
      new SerializableConfiguration(hadoopConf(spark)))
    () => shipped.value.value
  }
}
