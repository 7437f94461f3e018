package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` Column↔Expression converters —
  * the supported way for an extension library to lift a custom
  * Catalyst [[Expression]] into the public Column API in Spark 4
  * (where Column wraps a ColumnNode rather than an Expression).
  * Lives under org.apache.spark.sql.* solely for access; contains no
  * Spark-internal logic.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Lift a custom LogicalPlan into a DataFrame (Dataset.ofRows is
    * private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame over an RDD of Catalyst rows laid out as `schema`,
    * read as they are (no external-row conversion): the rows keep the
    * RDD's partitions, order and lineage.
    * (SparkSession.internalCreateDataFrame is private[sql].) */
  def rowsFrame(spark: org.apache.spark.sql.SparkSession, rows: RDD[InternalRow],
                schema: StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
