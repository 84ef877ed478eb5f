package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.{GraftCatalog, LocalRows, Store}
import graft.doc.DocStore
import graft.graph.{Cypher, PropertyGraph}
import graft.kv.KvStore
import graft.sql.HashQL

/** The unified multi-model façade — one object exposing all five query
  * surfaces of the reference (SURVEY §0): DynamoDB-style KV, the SQL
  * dialect (incl. `~` FTS and `~path[]~leaf` document addressing),
  * JSON document save/get, Cypher graph queries, and full-text search.
  * A user of hash-db's coordinator HTTP API maps each endpoint onto one
  * method here; every method returns/holds ordinary DataFrames, so the
  * whole thing distributes.
  *
  * Mutability model: the façade holds the current KV store, catalog
  * tables and graph, each immutable and swapped on write. Every session
  * write goes through one keyed store ([[graft.core.Store]]), the
  * reference's in-RAM dict (client.py:25): KV put and document save are
  * its upsert, Cypher MERGE its keep-on-key insert, SQL INSERT its
  * append, [[get]] and [[getDocument]] its lookups. A session's rows are
  * held on the driver with a key index, where all of these run with no
  * plan built, each in O(log n) of the rows held; KV ranges read the
  * same index ([[graft.kv.KvStore]]). Other writes' plans fold back
  * into held rows, so reads plan over one local relation however long
  * the session runs; a Cypher MATCH or a SQL join folds there too
  * ([[graft.core.LocalFold]]) and runs no Spark job. Tables from parquet
  * (and graphs from TPC-H) stay plans, written by filters and unions.
  *
  * Every entry point that touches session state holds this instance's
  * lock, so concurrent callers are serialized and no write is lost (an
  * uncontended lock costs nanoseconds). Frames a read returns are
  * immutable and may be used from any thread. Writes made directly
  * through [[catalog]] or [[joins]] bypass the lock.
  */
final class HashDb(val spark: SparkSession) {

  val catalog = new GraftCatalog(spark)
  val joins = new HashQL.JoinRegistry
  private var kvStore: KvStore = KvStore.empty(spark)
  private var graph: PropertyGraph = PropertyGraph.empty(spark)

  // ---------------- KV surface (POST /set, /get, /clear, /query_*) ------
  def set(pk: String, sk: String, value: String): Unit = synchronized {
    kvStore = kvStore.put(pk, sk, value)
  }
  def get(pk: String, sk: String): Option[String] = synchronized(kvStore.lookup(pk, sk))
  def clear(pk: String, sk: String): Unit = synchronized {
    kvStore = kvStore.delete(pk, sk)
  }
  def kv: KvStore = synchronized(kvStore)

  // ---------------- SQL surface (POST /sql) ----------------------------
  /** Execute a dialect statement; SELECTs return a DataFrame. */
  def sql(statement: String): Option[DataFrame] = synchronized {
    HashQL.execute(catalog, statement, Some(joins))
  }

  /** Expand a registered `create join` into its (lazily consistent) view.
    * Views are named by their table set (sorted, '+'-joined — see
    * JoinRegistry); pass either that canonical name or any table subset via
    * [[joinViewFor]]. */
  def joinView(name: String): DataFrame = synchronized {
    HashQL.joinView(catalog, joins.get(name).getOrElse(
      throw new IllegalArgumentException(s"no create join registered: $name")))
  }

  /** Expand the registered view covering exactly `tables`. */
  def joinViewFor(tables: Set[String]): DataFrame = synchronized {
    HashQL.joinView(catalog, joins.forTables(tables).getOrElse(
      throw new IllegalArgumentException(
        s"no create join registered over: ${tables.toSeq.sorted.mkString(", ")}")))
  }

  // ---------------- document surface (POST /save, GET /documents) ------
  /** Save a JSON document (S9): nested row in table `collection`
    * (columns: id, doc), replacing any prior doc with the same id. The
    * table is immediately queryable from SQL, including doc paths.
    *
    * The document is parsed on the driver against the collection's doc
    * type ([[DocStore.parseAgainst]]): a field the collection has not seen
    * widens that type — earlier documents read NULL there — and a value
    * whose type conflicts with its field's throws an
    * IllegalArgumentException naming the collection, id and field. A
    * widened type moves the earlier documents to it through JSON; the
    * save is then the collection store's upsert on `id` ([[graft.core.Store]]). */
  def saveDocument(collection: String, id: Long, json: String): Unit = synchronized {
    val old = catalog.storeOf(collection)
    val oldType = old.map(_.schema("doc").dataType)
    val (docType, doc) = DocStore.parseAgainst(json, oldType, s"saveDocument($collection, $id)")
    val row = LocalRows.internal(spark, StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("doc", docType))), Vector(InternalRow(id, doc)))
    catalog.register(collection, old.fold(Store(row)) { s =>
      val widened = if (oldType.contains(docType)) s
        else Store.of(s.frame.withColumn("doc", from_json(to_json(col("doc")), docType)))
      widened.upsert(Seq("id"), row)
    })
  }

  /** Hydrate a document back to JSON (S10). In a collection held on the
    * driver, the row is found through the collection's key index on `id`
    * ([[graft.core.KeyIndex]]) and its `doc` rendered by Spark's
    * own `to_json`, evaluated on that one row ([[DocStore.toJson]]): no
    * plan is built and no query runs. Any other collection (one
    * compacted to parquet) hydrates its filtered rows with a plan and a
    * collect. Where an id is stored twice, the first row stored wins. */
  def getDocument(collection: String, id: Long): Option[String] = synchronized {
    catalog.storeOf(collection).map(_.lookup(Seq("id"), Seq(id))).flatMap(hit => hit.rows match {
      case Some(held) =>
        val (at, docType) = (held.schema.fieldIndex("doc"), held.schema("doc").dataType)
        held.rows.headOption.map(r => DocStore.toJson(spark, r.get(at, docType), docType))
      case None => DocStore.hydrate(hit.frame).select("json").collect().headOption.map(_.getString(0))
    })
  }

  // ---------------- graph surface (POST /cypher) ------------------------
  /** Mutating statements (MERGE / DETACH DELETE / SET) change the graph
    * and return None; every other statement (MATCH, WITH, UNWIND,
    * shortestPath) returns bindings. A session graph stays one local
    * relation through every mutation: a MERGE appends rows, and DETACH
    * DELETE and SET fold back into the rows their plans fold to on the
    * driver ([[PropertyGraph.execute]]), so neither a mutation nor a
    * later MATCH runs a Spark job or plans over a lineage that grows with
    * the session. */
  def cypher(statement: String): Option[DataFrame] = synchronized {
    Cypher.parse(statement) match {
      case m @ (_: Cypher.Merge | _: Cypher.Delete | _: Cypher.SetAttrs) =>
        graph = graph.execute(m)
        None
      case q => Some(graph.query(q))
    }
  }
  def graphState: PropertyGraph = synchronized(graph)
}
