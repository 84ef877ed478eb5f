package graft.core

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Union}
import org.apache.spark.sql.types.StructType

/** A driver-held row store: a session's rows plus their schema, immutable,
  * with one cached [[frame]] that is ONE local relation over exactly these
  * rows. It is the write primitive behind every session write of
  * [[graft.HashDb]] — KV pairs ([[graft.kv.KvStore]]), SQL rows and
  * documents ([[GraftCatalog]]), Cypher MERGE appends — so a write is an
  * append to (or a filter of) a persistent `Vector`, with no Catalyst
  * analysis, optimization or collect, and every read plans over one leaf
  * that Catalyst folds at plan time (`ConvertToLocalRelation`): no Spark
  * job, and a plan whose size does not grow with the session. An append
  * shares the earlier rows' storage, so versions of an append-only table
  * cost O(1) rows each, not a copy.
  *
  * Spark does not fold a union of local relations into one, and a union
  * per write scans as one partition per write and keeps filters from
  * folding; that is why writes append here instead of unioning frames.
  * Frames that are not driver-local (parquet, joins, checkpoints) have no
  * store and keep their plans. */
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
    new LocalRows(spark, schema, rows.iterator.map(toInternal(schema)).toVector)

  /** A store holding `rows`, already in Catalyst form. */
  def internal(spark: SparkSession, schema: StructType, rows: Vector[InternalRow]): LocalRows =
    new LocalRows(spark, schema, rows)

  private def toInternal(schema: StructType): Row => InternalRow = {
    val conv = CatalystTypeConverters.createToCatalystConverter(schema)
    r => conv(r).asInstanceOf[InternalRow]
  }

  /** The store under a driver-local frame: one whose optimized plan is one
    * local relation, or a union of them (what an UPDATE, DELETE or
    * schema-widening insert over a store plans to). Reading it runs no
    * Spark job: the rows are the relations' own. None for any other
    * frame; a frame with a leaf that is not a local relation (a parquet
    * scan, an RDD) is rejected from its analyzed plan, without being
    * optimized. */
  def of(df: DataFrame): Option[LocalRows] = {
    val qe = df.queryExecution
    if (!qe.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else {
      val parts = qe.optimizedPlan match {
        case r: LocalRelation => Seq(r)
        case u: Union if u.children.forall(_.isInstanceOf[LocalRelation]) =>
          u.children.map(_.asInstanceOf[LocalRelation])
        case _ => Nil
      }
      val types = df.schema.map(_.dataType)
      if (parts.isEmpty || parts.exists(_.schema.map(_.dataType) != types)) None
      else Some(new LocalRows(df.sparkSession, df.schema,
        parts match {
          case Seq(one) => one.data.toVector
          case _ => parts.iterator.flatMap(_.data).toVector
        }))
    }
  }
}
