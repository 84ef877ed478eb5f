package graft.core

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StructType

/** A driver-held row store: a session's rows plus their schema, immutable,
  * with one cached [[frame]] that is ONE local relation over exactly these
  * rows. It is the write primitive behind every session write of
  * [[graft.HashDb]] — KV pairs ([[graft.kv.KvStore]]), SQL rows and
  * documents ([[GraftCatalog]]), the Cypher graph — so a write is an
  * append to (or a filter of) a persistent `Vector`, with no Catalyst
  * analysis, optimization or collect. An append shares the earlier rows'
  * storage, so versions of an append-only table cost O(1) rows each, not
  * a copy.
  *
  * Reads plan over one leaf per store, and the session's optimizer folds
  * them on the driver: Spark's `ConvertToLocalRelation` folds a Project,
  * Filter or Limit over a local relation, and [[LocalFold]], installed
  * once per session by every store, folds sorts, joins, distincts and
  * unions, so a KV range, a Cypher MATCH or a join of session tables
  * optimizes to one local relation and runs no Spark job, with a plan
  * whose size does not grow with the session. A write that plans over
  * stores (an UPDATE, a DELETE, a schema-widening insert, a Cypher SET)
  * folds the same way, and [[of]] re-roots its result on a store.
  *
  * A union per write would scan as one partition per write and keep
  * filters from folding; that is why writes append here instead of
  * unioning frames. Frames that are not driver-local (parquet, RDDs,
  * checkpoints) have no store and keep their plans. */
final class LocalRows private (spark: SparkSession, val schema: StructType,
                               val rows: Vector[InternalRow]) {

  /** One local relation over [[rows]], built on first use; no row is
    * copied. */
  lazy val frame: DataFrame = GraftBridge.localFrame(spark, schema, rows)

  /** These rows followed by `more` (external rows in [[schema]]'s column
    * order). */
  def append(more: Seq[Row]): LocalRows = appendInternal(more.map(LocalRows.toInternal(schema)))

  /** These rows followed by `more`, already in Catalyst form. */
  def appendInternal(more: Seq[InternalRow]): LocalRows =
    new LocalRows(spark, schema, rows ++ more)

  /** These rows minus those matching `p`; the same store when none
    * does. */
  def filterNot(p: InternalRow => Boolean): LocalRows =
    if (rows.exists(p)) new LocalRows(spark, schema, rows.filterNot(p)) else this

  /** The rows as external `Row`s. */
  def toRows: Seq[Row] = {
    val conv = CatalystTypeConverters.createToScalaConverter(schema)
    rows.map(conv(_).asInstanceOf[Row])
  }
}

object LocalRows {

  /** A store holding `rows` (external rows in `schema`'s column order). */
  def apply(spark: SparkSession, schema: StructType, rows: Seq[Row]): LocalRows =
    internal(spark, schema, rows.iterator.map(toInternal(schema)).toVector)

  /** A store holding `rows`, already in Catalyst form. */
  def internal(spark: SparkSession, schema: StructType, rows: Vector[InternalRow]): LocalRows = {
    install(spark)
    new LocalRows(spark, schema, rows)
  }

  /** Add [[LocalFold]] to `spark`'s optimizer, once. */
  private[graft] def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(LocalFold))
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ LocalFold

  private def toInternal(schema: StructType): Row => InternalRow = {
    val conv = CatalystTypeConverters.createToCatalystConverter(schema)
    r => conv(r).asInstanceOf[InternalRow]
  }

  /** The store under a driver-local frame: one whose optimized plan is
    * one local relation, as every plan over stores folds to
    * ([[LocalFold]]) unless a join outgrows its bound or an operator does
    * not fold. Reading it runs no Spark job: the rows are the relation's
    * own. None for any other frame; a frame with a leaf that is not a
    * local relation (a parquet scan, an RDD) is rejected from its analyzed
    * plan, without being optimized. */
  def of(df: DataFrame): Option[LocalRows] = {
    val qe = df.queryExecution
    if (!qe.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else {
      install(df.sparkSession)
      qe.optimizedPlan match {
        case r: LocalRelation if r.schema.map(_.dataType) == df.schema.map(_.dataType) =>
          Some(new LocalRows(df.sparkSession, df.schema, r.data.toVector))
        case _ => None
      }
    }
  }
}
