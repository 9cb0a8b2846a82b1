package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal bridge to Spark's package-private Column <-> Expression
  * converters (Spark 4.x moved Column to a ColumnNode facade; the classic
  * converters live in `org.apache.spark.sql.classic.ExpressionUtils`,
  * `private[sql]`). Living inside the `org.apache.spark.sql` package tree is
  * the standard extension-library pattern for this.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a session-level SQL function backed by a Catalyst
    * expression builder (sessionState is private[sql]).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Inject a function through SparkSessionExtensions (plugin path). */
  def injectFunction(e: org.apache.spark.sql.SparkSessionExtensions,
      name: String, builder: Seq[Expression] => Expression): Unit =
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft", name),
      (es: Seq[Expression]) => builder(es)))

  /** A frame over catalyst rows an RDD writes itself, with no encoder:
    * the session's `internalCreateDataFrame` (private[sql]). The rows
    * must match `schema`.
    */
  def internalFrame(spark: org.apache.spark.sql.SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
