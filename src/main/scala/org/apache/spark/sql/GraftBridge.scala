package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` API — the one place the engine
  * reaches across Spark's package boundary:
  *  - the classic Column↔Expression converters (Spark 4.x Columns wrap
  *    ColumnNodes, and the supported conversion lives in
  *    `org.apache.spark.sql.classic.ExpressionUtils`), used to expose
  *    custom Catalyst expressions as Columns;
  *  - a DataFrame over a local relation whose rows are already in Catalyst
  *    form ([[graft.core.LocalRows]]), so a driver-held row store builds
  *    its frame without converting or copying a row;
  *  - for the driver-side fold of local plans ([[graft.core.LocalFold]]):
  *    a frame planned afresh (a new `QueryExecution`), and the NaN/-0.0
  *    normalization the hash aggregate applies to floating-point grouping
  *    keys. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def localFrame(spark: SparkSession, schema: StructType,
                 rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows.toVector))

  def planAfresh(df: DataFrame): QueryExecution =
    df.sparkSession.asInstanceOf[classic.SparkSession].sessionState
      .executePlan(df.queryExecution.logical)

  def normalizeFloats(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)
}
