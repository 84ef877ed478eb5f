package graft.kv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.core.{LocalRows, Store}

/** DynamoDB-style KV surface (SURVEY §2.9 D1-D5 + §2.1 S1-S3; reference
  * /root/reference/server.py:80-168, hash-db.py:34-83) re-expressed as
  * Catalyst filters over a `(pk, sk, value)` DataFrame.
  *
  * The reference routes keys over a consistent-hash ring
  * (consistent_hashing.py:10-57) and keeps four in-memory index structures
  * per node (trie, nested trie, BST, partition-tree — client.py:177-202).
  * On Spark all of that is subsumed: hash partitioning on `pk` IS the ring,
  * and a pk-partitioned / sk-sorted parquet layout gives partition pruning +
  * row-group min/max pruning for every one of the five query shapes, so no
  * secondary index structures exist in this engine at all.
  *
  * All query methods return rows ordered by sort key asc/desc, matching the
  * reference's `sorted(items, key=sort_key, reverse=…)` postcondition
  * (server.py:126,139-140,153-154,167-168).
  *
  * The pairs are a keyed store on (pk, sk) ([[graft.core.Store]]); a
  * session store holds them on the driver, the reference's per-node dict,
  * where [[lookup]] and a query's filter and sort run with no Spark job.
  */
final class KvStore private (store: Store) {
  import KvStore.{key, sorted}

  /** The store as a frame: for a session store, the one local relation
    * over its held rows. */
  lazy val df: DataFrame = store.frame

  // ---- writes (S1-S3): the store's upsert (`put` overwrites, the
  // reference's hashmap set) and delete on (pk, sk). A session store —
  // [[KvStore.empty]] or any driver-local frame — edits its held rows on
  // the driver with no Spark plan built; on parquet a delete is a filter
  // and a put a filter plus a one-row union, not a rewrite.
  def put(pk: String, sk: String, value: String): KvStore =
    new KvStore(store.upsert(key, store.newRows(Seq(Map("pk" -> pk, "sk" -> sk, "value" -> value)))))
  def delete(pk: String, sk: String): KvStore = new KvStore(store.deleteKey(key, Seq(pk, sk)))

  /** Exact get — with the optimized layout this prunes to one partition +
    * one row group (reference: md5-ring route + dict lookup, client.py:59-64). */
  def get(pk: String, sk: String): DataFrame =
    df.filter(col("pk") === pk && col("sk") === sk)

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
    sorted(df.filter(col("pk") === pk && col("sk").startsWith(skPrefix)), desc)

  /** D2 `query_pk_sk_begins`: both pk and sk by prefix (server.py:128-140). */
  def queryPkSkBegins(pkPrefix: String, skPrefix: String, desc: Boolean = false): DataFrame =
    sorted(df.filter(col("pk").startsWith(pkPrefix) && col("sk").startsWith(skPrefix)), desc)

  /** D3 `query_between`: pk exact + sk in [from, to] inclusive
    * (server.py:143-154; BST walk datastructures.py:25-31). Callers pass real
    * bounds — the reference's `~~` +∞ sentinel (hash-db.py:101) is not needed. */
  def queryBetween(pk: String, skFrom: String, skTo: String, desc: Boolean = false): DataFrame =
    sorted(df.filter(col("pk") === pk && col("sk").between(skFrom, skTo)), desc)

  /** D4 `both_between`: pk range × sk range (server.py:156-168). */
  def bothBetween(pkFrom: String, pkTo: String, skFrom: String, skTo: String,
                  desc: Boolean = false): DataFrame =
    sorted(df.filter(col("pk").between(pkFrom, pkTo) &&
      col("sk").between(skFrom, skTo)), desc)

  /** D5 `query_before_than` (hash-db.py:71-76). */
  def queryBeforeThan(pk: String, skPrefix: String, bound: String,
                      desc: Boolean = false): DataFrame =
    sorted(df.filter(col("pk") === pk && col("sk").startsWith(skPrefix) &&
      col("sk") < bound), desc)

  /** D5 `query_greater_than` (hash-db.py:78-83). */
  def queryGreaterThan(pk: String, skPrefix: String, bound: String,
                       desc: Boolean = false): DataFrame =
    sorted(df.filter(col("pk") === pk && col("sk").startsWith(skPrefix) &&
      col("sk") > bound), desc)

  /** S7 full dump. */
  def dump(): DataFrame = df

  /** 100 TB layout: pk-hash-bucketed, (pk, sk)-sorted within partitions so
    * point lookups prune to one bucket and range scans prune row groups on
    * parquet min/max. This replaces every index structure in the reference. */
  def writeOptimized(path: String, buckets: Int = 512): Unit =
    df.repartition(buckets, col("pk")).sortWithinPartitions("pk", "sk")
      .write.mode("overwrite").parquet(path)
}

object KvStore {
  /** A store over any frame of (pk, sk, value). */
  def apply(df: DataFrame): KvStore = new KvStore(Store.of(df))

  private val key = Seq("pk", "sk")

  private def sorted(d: DataFrame, desc: Boolean): DataFrame =
    d.orderBy(if (desc) col("sk").desc else col("sk").asc)

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
