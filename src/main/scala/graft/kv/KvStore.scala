package graft.kv

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.LocalRows

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
  */
final case class KvStore(df: DataFrame) {
  import KvStore.sorted

  // ---- writes (S1-S3). Appends are unions: at scale this is an append to a
  // pk-partitioned table, not a rewrite. `put` overwrites (the reference's
  // hashmap set): it drops any prior (pk, sk) row first. A session store
  // (driver-local rows) is rebuilt as one local relation (LocalRows).
  def put(pk: String, sk: String, value: String): KvStore = {
    val row = Row.fromSeq(df.columns.toSeq.map(Map("pk" -> pk, "sk" -> sk, "value" -> value)))
    KvStore(LocalRows.of(df) match {
      case Some(rows) => LocalRows.frame(df, rows.toSeq.filterNot(r =>
        r.getAs[String]("pk") == pk && r.getAs[String]("sk") == sk) :+ row)
      case None => delete(pk, sk).df.union(LocalRows.frame(df, Seq(row)))
    })
  }
  def putAll(rows: DataFrame): KvStore = KvStore(df.unionByName(rows))
  def delete(pk: String, sk: String): KvStore =
    KvStore(df.filter(!(col("pk") === pk && col("sk") === sk)))

  /** Exact get — with the optimized layout this prunes to one partition +
    * one row group (reference: md5-ring route + dict lookup, client.py:59-64). */
  def get(pk: String, sk: String): DataFrame =
    df.filter(col("pk") === pk && col("sk") === sk)

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
  private def sorted(d: DataFrame, desc: Boolean): DataFrame =
    d.orderBy(if (desc) col("sk").desc else col("sk").asc)

  def empty(spark: SparkSession): KvStore = {
    import spark.implicits._
    KvStore(Seq.empty[(String, String, String)].toDF("pk", "sk", "value"))
  }

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
