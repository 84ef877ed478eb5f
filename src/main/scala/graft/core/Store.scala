package graft.core

import scala.collection.immutable.TreeMap

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

/** A keyed session store: a table's rows held on the driver
  * ([[LocalRows]]) or, for a frame that is not driver-local (parquet, an
  * RDD, a checkpoint), its plan. KV put and delete, document save, Cypher
  * MERGE and every [[GraftCatalog]] version go through one, so the four
  * surfaces share one key match, one pair of write paths and one
  * fold-back rule:
  *  - held rows are written on the driver with no plan built; a keyed
  *    write or lookup goes through their key index
  *    ([[KeyIndex]]), so it costs O(log n) in the rows held and
  *    converts no stored row;
  *  - a plan is filtered on its keys, or probed for them, and an append
  *    to it is a union by name;
  *  - every plan a write builds, and every frame a caller hands in, goes
  *    through [[Store.of]], the session's one lineage policy.
  * Keys are column names; key values are external (`String`, `Long`).
  * A NULL key equals only a NULL. */
final class Store private (held: Either[DataFrame, LocalRows]) {

  /** The store as a frame: for held rows, their one local relation, in
    * the rows' insertion order ([[LocalRows.rows]]). */
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
    * `add`'s (all of them, where a key is stored twice), then `add`. */
  def upsert(keys: Seq[String], add: LocalRows): Store =
    without(keys, add.rows.map(Store.keyOf(add.schema, keys))).append(add)

  /** Keep on key: these rows plus those of `add` whose `keys` the store
    * does not hold. No stored row is touched, so a stored row wins over
    * an added one with its key, and keys already stored twice stay so. */
  def insertAbsent(keys: Seq[String], add: LocalRows): Store = {
    val key = Store.keyOf(add.schema, keys)
    val have: Seq[Any] => Boolean = held match {
      case Right(s) => k => s.get(keys, k).nonEmpty
      case Left(df) => Store.of(df.filter(Store.matching(keys, add.rows.map(key)))).toRows
        .map(r => keys.map(r.getAs[Any])).toSet
    }
    val fresh = add.filterNot(r => have(key(r)))
    if (fresh.rows.isEmpty) this else append(fresh)
  }

  /** These rows without those whose `keys` equal `key`. */
  def deleteKey(keys: Seq[String], key: Seq[Any]): Store = without(keys, Seq(key))

  /** The rows whose `keys` equal `key`: held rows read from the key index,
    * in insertion order; a plan filtered. */
  def lookup(keys: Seq[String], key: Seq[Any]): Store = held match {
    case Right(s) => new Store(Right(LocalRows.internal(s.spark, s.schema, s.get(keys, key))))
    case Left(df) => Store.of(df.filter(Store.matching(keys, Seq(key))))
  }

  // the rows whose `keys` equal none of `ks`
  private def without(keys: Seq[String], ks: Seq[Seq[Any]]): Store = held match {
    case Right(s) => new Store(Right(s.without(keys, ks)))
    case Left(df) => Store.of(df.filter(!Store.matching(keys, ks)))
  }
}

object Store {

  /** The store under `df`: the relation's own rows (no Spark job) when
    * its optimized plan is one local relation, as plans over held rows
    * fold to ([[LocalFold]]) unless a join outgrows its bound, and its
    * plan otherwise — told from the analyzed plan, unoptimized, when a
    * leaf is not a local relation. A frame that is one local relation
    * already is held as it is, not optimized; a store's own frame gives
    * back its rows, key index included. */
  def of(df: DataFrame): Store = {
    val qe = df.queryExecution
    val local = qe.analyzed match {
      case r: LocalRelation => Some(r.data match {
        case d: LocalRows.Data if d.owner != null => d.owner
        case data => LocalRows.internal(df.sparkSession, df.schema, data.toVector, Some(df))
      })
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

  // a plan's rows whose `keys` equal one of `ks`; a NULL key equals only a NULL
  private def matching(keys: Seq[String], ks: Seq[Seq[Any]]): Column =
    ks.map(k => keys.zip(k).map { case (c, v) => col(c) <=> lit(v) }.reduce(_ && _))
      .reduceOption(_ || _).getOrElse(lit(false))

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
  * exactly these rows, in insertion order (not key order): the order the
  * rows were appended in, so the row an upsert writes comes last. A write
  * makes a new version with no Catalyst pass: an append extends a
  * persistent `Vector` of slots, and a keyed delete empties the deleted
  * rows' slots, until more slots are empty than full and the next
  * version keeps only the full ones. Versions share the slots' storage,
  * so versions of an append-only table cost O(1) rows each.
  *
  * Keyed writes and reads go through a key index ([[KeyIndex]]): a
  * persistent sorted map from a key, in Spark's own order, to the slots
  * holding it. Every write derives the next version's index from this
  * one's, sharing its structure as the slots are shared (a compaction
  * renumbers it in one pass), so a keyed write or lookup costs O(log n)
  * and no pass over the rows. Rows that come with no index (a new table,
  * or the result of a SQL UPDATE or DELETE) answer their first
  * single-key probes by one pass over the rows, which costs less than
  * building the index, and build it once those passes have cost about
  * as much ([[KeyIndex.ScansPerBuild]]). The frame leads back to these
  * rows, so [[Store.of]] over it keeps the index. Reads plan over one
  * leaf, which `ConvertToLocalRelation` and [[LocalFold]] fold on the
  * driver: a MATCH or a session join runs no Spark job, with a plan
  * whose size does not grow with the session; KV reads and document gets
  * read the index and plan nothing. */
final class LocalRows private (val spark: SparkSession, val schema: StructType,
                               slots: Vector[InternalRow], empty: Int,
                               built: Option[DataFrame], carried: Option[KeyIndex],
                               carriedScans: Int) {

  /** The rows, in insertion order. */
  lazy val rows: Vector[InternalRow] = if (empty == 0) slots else slots.filter(_ != null)

  /** One local relation over [[rows]], built on first use; no row is
    * copied. */
  lazy val frame: DataFrame =
    built.getOrElse(GraftBridge.localFrame(spark, schema, new LocalRows.Data(this, rows)))

  @volatile private var indexed = carried
  // the single-key probes that this version and those it derives from
  // answered by a scan since their last index
  @volatile private var scans = carriedScans

  // the index of these rows on `keys`: this version's, or one built from
  // the rows (once; later versions derive theirs from it)
  private def index(keys: Seq[String]): KeyIndex = indexed.filter(_.keys == keys).getOrElse {
    val ix = KeyIndex.build(schema, keys, slots)
    indexed = Some(ix)
    ix
  }

  // the slots holding each of `ks` (Catalyst form), in order, and the
  // index they were read from: a lone key with no index at hand, while
  // the scans are fewer than KeyIndex.ScansPerBuild, is found in one pass
  // over the slots, with no index
  private def find(keys: Seq[String], ks: Seq[IndexedSeq[Any]]): (Seq[Vector[Int]], Option[KeyIndex]) =
    if (ks.length == 1 && !indexed.exists(_.keys == keys) && scans < KeyIndex.ScansPerBuild) {
      scans += 1
      (Seq(KeyIndex.scan(schema, keys, slots, ks.head)), None)
    } else {
      val ix = index(keys)
      (ks.map(ix.slotsOf), Some(ix))
    }

  /** The rows whose `keys` equal `key` (external values), in insertion
    * order. */
  def get(keys: Seq[String], key: Seq[Any]): Vector[InternalRow] =
    find(keys, Seq(KeyIndex.catalyst(schema, keys, key)))._1.head.map(slots)

  /** The rows whose `keys` are `start` (external values) or above, in key
    * order; rows with one key in insertion order. */
  def from(keys: Seq[String], start: Seq[Any]): Iterator[InternalRow] =
    index(keys).from(KeyIndex.catalyst(schema, keys, start)).flatMap(_.iterator.map(slots))

  /** These rows followed by `more`, already in Catalyst form. */
  def appendInternal(more: Seq[InternalRow]): LocalRows =
    new LocalRows(spark, schema, slots ++ more, empty, None,
      indexed.map(_.added(slots.length, more)), scans)

  /** These rows minus those whose `keys` equal one of `ks` (external
    * values); the same rows when none does. */
  def without(keys: Seq[String], ks: Seq[Seq[Any]]): LocalRows = {
    val gone = ks.map(KeyIndex.catalyst(schema, keys, _)).distinct
    val (at, ix) = find(keys, gone)
    val emptied = empty + at.map(_.length).sum
    lazy val left = at.foldLeft(slots)((s, is) => is.foldLeft(s)(_.updated(_, null)))
    lazy val next = ix.map(_.removed(gone))
    if (emptied == empty) this
    else if (2 * emptied > slots.length) {
      // slot i moves to the number of full slots before it
      val to = left.iterator.scanLeft(0)((n, r) => if (r == null) n else n + 1).toArray
      new LocalRows(spark, schema, left.filter(_ != null), 0, None, next.map(_.moved(to)), scans)
    } else new LocalRows(spark, schema, left, emptied, None, next, scans)
  }

  /** These rows minus those matching `p`; the same rows when none
    * does. */
  def filterNot(p: InternalRow => Boolean): LocalRows =
    if (rows.exists(p)) LocalRows.internal(spark, schema, rows.filterNot(p)) else this
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
    new LocalRows(spark, schema, rows, 0, built, None, 0)
  }

  /** The rows of a frame that `owner` built: the local relation's data,
    * through which [[Store.of]] finds `owner`, and its key index, again
    * (a deserialized copy keeps only the rows). */
  private[core] final class Data(@transient val owner: LocalRows, rows: Vector[InternalRow])
      extends scala.collection.immutable.AbstractSeq[InternalRow]
      with scala.collection.immutable.IndexedSeq[InternalRow] with Serializable {
    def apply(i: Int): InternalRow = rows(i)
    def length: Int = rows.length
    override def iterator: Iterator[InternalRow] = rows.iterator
  }

  /** Add [[LocalFold]] to `spark`'s optimizer, once. */
  private[graft] def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(LocalFold))
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ LocalFold
}

/** A [[LocalRows]] version's key index on the columns `keys`: a
  * persistent sorted map from a key, its values in Catalyst form, to the
  * slots holding rows with that key, ascending. Keys are ordered column by
  * column in Spark's own order (`UTF8String` binary order for strings,
  * not `java.lang.String`'s), NULL first; so a NULL equals only a NULL,
  * and a range of keys is a slice of the map. */
final class KeyIndex private (val keys: Seq[String], types: IndexedSeq[DataType],
                              ords: IndexedSeq[Int],
                              map: TreeMap[IndexedSeq[Any], Vector[Int]]) {

  def slotsOf(key: IndexedSeq[Any]): Vector[Int] = map.getOrElse(key, Vector.empty)

  /** The slots of keys `key` and above, key by key in order. */
  def from(key: IndexedSeq[Any]): Iterator[Vector[Int]] = map.valuesIteratorFrom(key)

  /** The index after `more` fill slots from `at` on (NULL: an emptied
    * slot). */
  def added(at: Int, more: Seq[InternalRow]): KeyIndex =
    new KeyIndex(keys, types, ords, more.iterator.zipWithIndex.foldLeft(map) { case (m, (r, j)) =>
      if (r == null) m
      else {
        val k = KeyIndex.keyOf(r, types, ords)
        m.updated(k, m.getOrElse(k, Vector.empty) :+ (at + j))
      }
    })

  /** The index without `ks`. */
  def removed(ks: Seq[IndexedSeq[Any]]): KeyIndex = new KeyIndex(keys, types, ords, map -- ks)

  /** The index after slot i moves to `to(i)`: one pass, the map's shape
    * kept. */
  def moved(to: Array[Int]): KeyIndex =
    new KeyIndex(keys, types, ords, map.transform((_, at) => at.map(to(_))))
}

object KeyIndex {

  /** Single-key probes a version lineage with no index answers by a scan
    * before it builds one: about what a build costs in scans (over 50,000
    * rows, keyed on (pk, sk) strings or on a long id, a build took 12-15
    * scans' time), so a lineage never pays more than twice what the
    * cheaper of the two would have cost it. */
  val ScansPerBuild = 12

  /** The index of `slots` (NULL: an emptied slot) in `schema` on `keys`. */
  def build(schema: StructType, keys: Seq[String], slots: Vector[InternalRow]): KeyIndex = {
    val (types, ords) = columns(schema, keys)
    new KeyIndex(keys, types, ords, TreeMap.empty[IndexedSeq[Any], Vector[Int]](ordering(types)))
      .added(0, slots)
  }

  /** The slots of `slots` whose `keys` equal `key` (Catalyst form), by
    * one pass over them, in order. */
  def scan(schema: StructType, keys: Seq[String], slots: Vector[InternalRow],
           key: IndexedSeq[Any]): Vector[Int] = {
    val (types, ords) = columns(schema, keys)
    val each = types.map(TypeUtils.getInterpretedOrdering)
    def holds(r: InternalRow): Boolean = ords.indices.forall { c =>
      val y = key(c)
      if (r.isNullAt(ords(c))) y == null else y != null && each(c).equiv(r.get(ords(c), types(c)), y)
    }
    slots.indices.filter(i => slots(i) != null && holds(slots(i))).toVector
  }

  /** External key values in Catalyst form, in the types of `schema`'s
    * columns `keys`. */
  def catalyst(schema: StructType, keys: Seq[String], key: Seq[Any]): IndexedSeq[Any] =
    key.iterator.zip(keys).map { case (v, c) =>
      val (l, t) = (Literal(v), schema(c).dataType)
      if (l.dataType == t) l.value
      else Cast(l, t, Option(SQLConf.get.sessionLocalTimeZone)).eval()
    }.toIndexedSeq

  private def columns(schema: StructType, keys: Seq[String]): (IndexedSeq[DataType], IndexedSeq[Int]) =
    (keys.map(schema(_).dataType).toIndexedSeq, keys.map(schema.fieldIndex).toIndexedSeq)

  private def keyOf(r: InternalRow, types: IndexedSeq[DataType], ords: IndexedSeq[Int]): IndexedSeq[Any] =
    ords.indices.map(c => if (r.isNullAt(ords(c))) null else r.get(ords(c), types(c)))

  // column by column in each type's Spark ordering, NULL first
  private def ordering(types: IndexedSeq[DataType]): Ordering[IndexedSeq[Any]] = {
    val each = types.map(TypeUtils.getInterpretedOrdering).toArray
    new Ordering[IndexedSeq[Any]] {
      def compare(a: IndexedSeq[Any], b: IndexedSeq[Any]): Int = {
        var j = 0
        var c = 0
        while (c == 0 && j < each.length) {
          val x = a(j)
          val y = b(j)
          c = if (x == null) (if (y == null) 0 else -1) else if (y == null) 1 else each(j).compare(x, y)
          j += 1
        }
        c
      }
    }
  }
}
