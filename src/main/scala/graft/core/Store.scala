package graft.core

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** A keyed session store: a table's rows held on the driver
  * ([[LocalRows]]) or, for a frame that is not driver-local (parquet, an
  * RDD, a checkpoint), its plan. KV put and delete, document save, Cypher
  * MERGE and every [[GraftCatalog]] version go through one, so the four
  * surfaces share one key match, one pair of write paths and one
  * fold-back rule:
  *  - held rows are written on the driver with no plan built; a keyed
  *    write compares the stored rows' key fields by ordinal, in Catalyst
  *    form, and converts no stored row;
  *  - a plan is filtered on its keys, or probed for them, and an append
  *    to it is a union by name;
  *  - every plan a write builds, and every frame a caller hands in, goes
  *    through [[Store.of]], the session's one lineage policy.
  * Keys are column names; key values are external (`String`, `Long`). */
final class Store private (held: Either[DataFrame, LocalRows]) {

  /** The store as a frame: for held rows, their one local relation. */
  lazy val frame: DataFrame = held.fold(identity, _.frame)

  /** The held rows; None for a plan. */
  def rows: Option[LocalRows] = held.toOption

  def schema: StructType = held.fold(_.schema, _.schema)

  /** The rows as external `Row`s: held rows converted, a plan collected. */
  def toRows: Seq[Row] = held.fold(_.collect().toSeq, s => {
    val conv = CatalystTypeConverters.createToScalaConverter(s.schema)
    s.rows.map(conv(_).asInstanceOf[Row])
  })

  /** Rows in this store's schema, each given as column → value. */
  def newRows(values: Seq[Map[String, Any]]): LocalRows =
    LocalRows(held.fold(_.sparkSession, _.spark), schema,
      values.map(v => Row.fromSeq(schema.fieldNames.toSeq.map(v))))

  /** These rows followed by `add`: on the driver when `add`'s columns are
    * the store's with their types (columns it lacks read NULL), otherwise
    * a union by name, widening as Catalyst's union does. */
  def append(add: LocalRows): Store = held match {
    case Right(s) if Store.fits(s.schema, add.schema) =>
      new Store(Right(s.appendInternal(Store.conform(s.schema, add))))
    case _ => Store.of(frame.unionByName(add.frame, allowMissingColumns = true))
  }

  /** Replace on key: these rows without any whose `keys` equal one of
    * `add`'s, then `add`. */
  def upsert(keys: Seq[String], add: LocalRows): Store =
    where(keys, add.rows.map(Store.keyOf(add.schema, keys)), hit = false).append(add)

  /** Keep on key: these rows plus those of `add` whose `keys` the store
    * does not hold. No stored row is touched, so a stored row wins over
    * an added one with its key, and keys already stored twice stay so. */
  def insertAbsent(keys: Seq[String], add: LocalRows): Store = {
    val key = Store.keyOf(add.schema, keys)
    val have = where(keys, add.rows.map(key), hit = true).toRows
      .map(r => keys.map(r.getAs[Any])).toSet
    val fresh = add.filterNot(r => have(key(r)))
    if (fresh.rows.isEmpty) this else append(fresh)
  }

  /** These rows without those whose `keys` equal `key`. */
  def deleteKey(keys: Seq[String], key: Seq[Any]): Store = where(keys, Seq(key), hit = false)

  /** The rows whose `keys` equal `key`. */
  def lookup(keys: Seq[String], key: Seq[Any]): Store = where(keys, Seq(key), hit = true)

  // the rows whose `keys` equal one of `ks` (hit) or none of them (!hit);
  // a NULL key equals only a NULL
  private def where(keys: Seq[String], ks: Seq[Seq[Any]], hit: Boolean): Store = held match {
    case Right(s) =>
      val wanted = ks.map(_.map(CatalystTypeConverters.convertToCatalyst).toArray).toArray
      val ords = keys.map(s.schema.fieldIndex).toArray
      val gets = keys.map(k => InternalRow.getAccessor(s.schema(k).dataType)).toArray
      // a plain loop: this runs once per stored row on every keyed write
      def matched(r: InternalRow): Boolean = wanted.exists { w =>
        var j = 0
        while (j < ords.length && w(j) == gets(j)(r, ords(j))) j += 1
        j == ords.length
      }
      new Store(Right(s.filterNot(r => matched(r) != hit)))
    case Left(df) =>
      val matched = ks.map(k => keys.zip(k).map { case (c, v) => col(c) <=> lit(v) }
        .reduce(_ && _)).reduceOption(_ || _).getOrElse(lit(false))
      Store.of(df.filter(if (hit) matched else !matched))
  }
}

object Store {

  /** The store under `df`: the relation's own rows (no Spark job) when
    * its optimized plan is one local relation, as plans over held rows
    * fold to ([[LocalFold]]) unless a join outgrows its bound, and its
    * plan otherwise — told from the analyzed plan, unoptimized, when a
    * leaf is not a local relation. A frame that is one local relation
    * already (a store's own frame) is held as it is, not optimized. */
  def of(df: DataFrame): Store = {
    val qe = df.queryExecution
    val local = qe.analyzed match {
      case r: LocalRelation => Some(LocalRows.internal(df.sparkSession, df.schema, r.data.toVector, Some(df)))
      case a if a.collectLeaves().forall(_.isInstanceOf[LocalRelation]) =>
        LocalRows.install(df.sparkSession)
        Some(qe.optimizedPlan).collect {
          case r: LocalRelation if r.schema.map(_.dataType) == df.schema.map(_.dataType) =>
            LocalRows.internal(df.sparkSession, df.schema, r.data.toVector)
        }
      case _ => None
    }
    new Store(local.toRight(df))
  }

  /** A store holding `rows`. */
  def apply(rows: LocalRows): Store = new Store(Right(rows))

  // a row's values of `keys`, external
  private def keyOf(schema: StructType, keys: Seq[String]): InternalRow => Seq[Any] = {
    val at = keys.map(k => (schema.fieldIndex(k), schema(k).dataType))
    r => at.map { case (i, t) => CatalystTypeConverters.convertToScala(r.get(i, t), t) }
  }

  // rows of `add` append to rows of `to` unchanged: `add`'s columns are
  // distinct, each is one of `to`'s with its type (and not nullable where
  // `to`'s is not), and `to`'s other columns are nullable
  private def fits(to: StructType, add: StructType): Boolean =
    add.map(_.name).distinct.length == add.length &&
      add.forall(a => to.exists(_.name == a.name)) &&
      to.forall(t => add.find(_.name == t.name).fold(t.nullable)(a =>
        a.dataType == t.dataType && (t.nullable || !a.nullable)))

  // `add`'s rows in `to`'s column order, NULL where `add` has no column
  private def conform(to: StructType, add: LocalRows): Seq[InternalRow] =
    if (add.schema.fieldNames.sameElements(to.fieldNames)) add.rows
    else {
      val at = to.fields.map(f => (add.schema.fieldNames.indexOf(f.name), f.dataType))
      add.rows.map(r => new GenericInternalRow(at.map { case (i, t) => if (i < 0) null else r.get(i, t) }))
    }
}

/** What a [[Store]] holds for a driver-local table: its rows and schema,
  * immutable, with one cached [[frame]] that is ONE local relation over
  * exactly these rows. A write appends to (or filters) a persistent
  * `Vector` with no Catalyst pass, and an append shares the earlier rows'
  * storage, so versions of an append-only table cost O(1) rows each. Reads
  * plan over one leaf, which `ConvertToLocalRelation` and [[LocalFold]]
  * fold on the driver: a KV range, a MATCH or a session join runs no
  * Spark job, with a plan whose size does not grow with the session. */
final class LocalRows private (val spark: SparkSession, val schema: StructType,
                               val rows: Vector[InternalRow], built: Option[DataFrame]) {

  /** One local relation over [[rows]], built on first use; no row is
    * copied. */
  lazy val frame: DataFrame = built.getOrElse(GraftBridge.localFrame(spark, schema, rows))

  /** These rows followed by `more`, already in Catalyst form. */
  def appendInternal(more: Seq[InternalRow]): LocalRows =
    new LocalRows(spark, schema, rows ++ more, None)

  /** These rows minus those matching `p`; the same rows when none
    * does. */
  def filterNot(p: InternalRow => Boolean): LocalRows =
    if (rows.exists(p)) new LocalRows(spark, schema, rows.filterNot(p), None) else this
}

object LocalRows {

  /** Rows `rows` (external rows in `schema`'s column order). */
  def apply(spark: SparkSession, schema: StructType, rows: Seq[Row]): LocalRows = {
    val conv = CatalystTypeConverters.createToCatalystConverter(schema)
    internal(spark, schema, rows.iterator.map(conv(_).asInstanceOf[InternalRow]).toVector)
  }

  /** Rows `rows`, already in Catalyst form; `built` is a frame that is
    * one local relation over exactly them. */
  def internal(spark: SparkSession, schema: StructType, rows: Vector[InternalRow],
               built: Option[DataFrame] = None): LocalRows = {
    install(spark)
    new LocalRows(spark, schema, rows, built)
  }

  /** Add [[LocalFold]] to `spark`'s optimizer, once. */
  private[graft] def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(LocalFold))
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ LocalFold
}
