package graft.kv

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, BoundReference, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, Predicate, StartsWith}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.core.{LocalRows, Store}

/** DynamoDB-style KV surface (SURVEY §2.9 D1-D5 + §2.1 S1-S3; the
  * reference's server.py:80-168, hash-db.py:34-83) over a
  * `(pk, sk, value)` keyed store.
  *
  * The reference routes keys over a consistent-hash ring
  * (consistent_hashing.py:10-57) and keeps four in-memory index structures
  * per node (trie, nested trie, BST, partition-tree — client.py:177-202).
  * Here one index stands for all four: a session store holds its pairs on
  * the driver, the reference's per-node dict, with a key index sorted on
  * (pk, sk) in Spark's string order ([[graft.core.KeyIndex]]). A
  * point read is an index lookup, and each of the five query shapes a
  * slice of the index, tested with the shape's own Catalyst predicate and
  * returned as one local relation over its rows, already in order — no
  * plan is optimized and no Spark job runs. A store over any other frame (parquet)
  * answers the same reads as Catalyst filters and a sort: hash
  * partitioning on `pk` is the ring, and a pk-partitioned / sk-sorted
  * parquet layout gives partition pruning and row-group min/max pruning
  * for every shape. Both give the same rows in the same order.
  *
  * All query methods return rows ordered by sort key asc/desc, matching the
  * reference's `sorted(items, key=sort_key, reverse=…)` postcondition
  * (server.py:126,139-140,153-154,167-168); where the shape spans
  * partition keys (D2, D4), rows with one sort key follow in partition-key
  * order, and `desc` reverses the whole order.
  */
final class KvStore private (store: Store) {
  import KvStore.{PK, SK, key, sorted, str}

  /** The store as a frame: for a session store, the one local relation
    * over its held rows. */
  lazy val df: DataFrame = store.frame

  // ---- writes (S1-S3): the store's upsert (`put` overwrites, the
  // reference's hashmap set) and delete on (pk, sk). A session store —
  // [[KvStore.empty]] or any driver-local frame — edits its held rows and
  // their key index on the driver with no Spark plan built; on parquet a
  // delete is a filter and a put a filter plus a one-row union, not a
  // rewrite.
  def put(pk: String, sk: String, value: String): KvStore =
    new KvStore(store.upsert(key, store.newRows(Seq(Map("pk" -> pk, "sk" -> sk, "value" -> value)))))
  def delete(pk: String, sk: String): KvStore = new KvStore(store.deleteKey(key, Seq(pk, sk)))

  /** Exact get: a session store's rows at (pk, sk) from its key index
    * (none for a NULL argument, as for the filter); with the optimized
    * parquet layout this prunes to one partition + one row group
    * (reference: md5-ring route + dict lookup, client.py:59-64). */
  def get(pk: String, sk: String): DataFrame = store.rows match {
    case Some(held) => GraftBridge.localFrame(held.spark, held.schema,
      if (pk == null || sk == null) Vector.empty else held.get(key, Seq(pk, sk)))
    case None => df.filter(col("pk") === pk && col("sk") === sk)
  }

  /** The value at (pk, sk): a key lookup over a session store's held rows,
    * the reference's dict lookup (client.py:25), read by ordinal from the
    * matched row with no row converted; a filter and collect for any
    * other store. */
  def lookup(pk: String, sk: String): Option[String] = {
    val hit = store.lookup(key, Seq(pk, sk))
    hit.rows.fold(hit.toRows.headOption.map(_.getAs[String]("value"))) { held =>
      val v = held.schema.fieldIndex("value")
      held.rows.headOption.map(r => if (r.isNullAt(v)) null else r.getUTF8String(v).toString)
    }
  }

  /** D1 `query_begins`: pk exact + sk prefix (server.py:113-126). */
  def queryBegins(pk: String, skPrefix: String, desc: Boolean = false): DataFrame =
    range(desc, pk, skPrefix)(EqualTo(PK, str(pk)), StartsWith(SK, str(skPrefix)))()

  /** D2 `query_pk_sk_begins`: both pk and sk by prefix (server.py:128-140). */
  def queryPkSkBegins(pkPrefix: String, skPrefix: String, desc: Boolean = false): DataFrame =
    range(desc, pkPrefix, null)(StartsWith(PK, str(pkPrefix)))(StartsWith(SK, str(skPrefix)))

  /** D3 `query_between`: pk exact + sk in [from, to] inclusive
    * (server.py:143-154; BST walk datastructures.py:25-31). Callers pass real
    * bounds — the reference's `~~` +∞ sentinel (hash-db.py:101) is not needed. */
  def queryBetween(pk: String, skFrom: String, skTo: String, desc: Boolean = false): DataFrame =
    range(desc, pk, skFrom)(EqualTo(PK, str(pk)), LessThanOrEqual(SK, str(skTo)))(
      GreaterThanOrEqual(SK, str(skFrom)))

  /** D4 `both_between`: pk range × sk range (server.py:156-168). */
  def bothBetween(pkFrom: String, pkTo: String, skFrom: String, skTo: String,
                  desc: Boolean = false): DataFrame =
    range(desc, pkFrom, null)(LessThanOrEqual(PK, str(pkTo)))(GreaterThanOrEqual(PK, str(pkFrom)),
      GreaterThanOrEqual(SK, str(skFrom)), LessThanOrEqual(SK, str(skTo)))

  /** D5 `query_before_than` (hash-db.py:71-76). */
  def queryBeforeThan(pk: String, skPrefix: String, bound: String,
                      desc: Boolean = false): DataFrame =
    range(desc, pk, skPrefix)(EqualTo(PK, str(pk)), StartsWith(SK, str(skPrefix)),
      LessThan(SK, str(bound)))()

  /** D5 `query_greater_than` (hash-db.py:78-83). */
  def queryGreaterThan(pk: String, skPrefix: String, bound: String,
                       desc: Boolean = false): DataFrame =
    range(desc, pk, skPrefix)(EqualTo(PK, str(pk)), StartsWith(SK, str(skPrefix)))(
      GreaterThan(SK, str(bound)))

  // A read shape: the rows where the conjuncts `stop` and `rest` hold,
  // ordered by sk. Over a plan: their filter, sorted. Over held rows: the
  // index walked from key (pk, sk) `start` while `stop` holds, which it
  // does of every row the shape reads and of no key after the first it
  // fails, kept where `rest` holds, sorted on the driver. Both paths
  // evaluate the same Catalyst tests, so a NULL argument or key matches
  // no row in either, and every row read has a pk and an sk.
  private def range(desc: Boolean, start: String*)(stop: Expression*)(rest: Expression*): DataFrame =
    store.rows match {
      case None => sorted(df.filter(GraftBridge.column((stop ++ rest).reduce(And))), desc)
      case Some(held) =>
        val schema = held.schema
        def test(es: Seq[Expression]) = Predicate.createInterpreted(
          es.foldLeft(Literal.TrueLiteral: Expression)(And).transform { case a: UnresolvedAttribute =>
            BoundReference(schema.fieldIndex(a.name), schema(a.name).dataType, nullable = true)
          })
        val (more, keep) = (test(stop), test(rest))
        val (p, s) = (schema.fieldIndex("pk"), schema.fieldIndex("sk"))
        val asc = held.from(key, start).takeWhile(more.eval).filter(keep.eval).toVector.sortWith { (a, b) =>
          val c = a.getUTF8String(s).compareTo(b.getUTF8String(s))
          c < 0 || (c == 0 && a.getUTF8String(p).compareTo(b.getUTF8String(p)) < 0)
        }
        GraftBridge.localFrame(held.spark, schema, if (desc) asc.reverse else asc)
    }

  /** S7 full dump. */
  def dump(): DataFrame = df

  /** 100 TB layout: pk-hash-bucketed, (pk, sk)-sorted within partitions so
    * point lookups prune to one bucket and range scans prune row groups on
    * parquet min/max: the on-disk counterpart of a session store's key
    * index. */
  def writeOptimized(path: String, buckets: Int = 512): Unit =
    df.repartition(buckets, col("pk")).sortWithinPartitions("pk", "sk")
      .write.mode("overwrite").parquet(path)
}

object KvStore {
  /** A store over any frame of (pk, sk, value). */
  def apply(df: DataFrame): KvStore = new KvStore(Store.of(df))

  private val key = Seq("pk", "sk")

  private val PK = UnresolvedAttribute("pk")
  private val SK = UnresolvedAttribute("sk")

  private def str(v: String): Expression = Literal.create(v, StringType)

  // sk order, ties in pk order; `desc` reverses both
  private def sorted(d: DataFrame, desc: Boolean): DataFrame =
    if (desc) d.orderBy(col("sk").desc, col("pk").desc) else d.orderBy(col("sk"), col("pk"))

  /** An empty session store: its rows live on the driver. */
  def empty(spark: SparkSession): KvStore = new KvStore(Store(LocalRows(spark,
    StructType(Seq("pk", "sk", "value").map(StructField(_, StringType))), Nil)))

  /** events table → KV view used by the t2 harness: the reference's
    * `people-100 / messages-0000000042` key style (FIXTURES.md §A1) mapped
    * onto the synthetic events stream. Zero-padded so lexicographic sk order
    * is also event order. */
  def fromEvents(events: DataFrame): KvStore = KvStore(events.select(
    concat(lit("user-"), lpad(col("user_id").cast("string"), 4, "0")).as("pk"),
    concat(col("event_type"), lit("#"),
      lpad(col("event_id").cast("string"), 10, "0")).as("sk"),
    col("props").as("value")))

  /** The oracle-side (DuckDB) SQL equivalent of [[fromEvents]] — kept next
    * to the Scala so the two can't drift. */
  val fromEventsOracleSql: String =
    """SELECT concat('user-', lpad(CAST(user_id AS VARCHAR), 4, '0')) AS pk,
      |       concat(event_type, '#', lpad(CAST(event_id AS VARCHAR), 10, '0')) AS sk,
      |       props AS value
      |FROM events""".stripMargin
}
