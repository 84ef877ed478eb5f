package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.{GraftCatalog, LocalRows}
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
  * tables and graph, each immutable and swapped on write. A session's KV
  * pairs, SQL rows and documents are driver-held row stores
  * ([[graft.core.LocalRows]]) — the reference's in-RAM dicts
  * (client.py:25): a write appends to or filters the rows on the driver,
  * [[get]] and [[getDocument]] are lookups there, and every read plans
  * over one local relation however long the session runs. The session
  * graph is held the same way, through MERGE, DETACH DELETE and SET
  * alike. Reads that sort, join or deduplicate those rows — a KV range, a
  * Cypher MATCH, a SQL join — fold to one local relation on the driver
  * ([[graft.core.LocalFold]]) and run no Spark job. Tables registered
  * from parquet (and graphs from TPC-H) stay plans.
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
    * driver-local collection replaces the row by id in its row store;
    * one whose type widened, or that is not driver-local (parquet, after
    * compact), commits a filter plus a one-row union instead. */
  def saveDocument(collection: String, id: Long, json: String): Unit = synchronized {
    val old = if (catalog.exists(collection)) Some(catalog.table(collection)) else None
    val oldType = old.map(_.schema("doc").dataType)
    val (docType, doc) = DocStore.parseAgainst(json, oldType, s"saveDocument($collection, $id)")
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("doc", docType)))
    val row = LocalRows.internal(spark, schema, Vector(InternalRow(id, doc)))
    val replaced = for (s <- catalog.rowsOf(collection)
                        if oldType.contains(docType) && s.schema.fieldNames.sameElements(schema.fieldNames);
                        p <- hasId(s, id)) yield s.filterNot(p).appendInternal(row.rows)
    (old, replaced) match {
      case (None, _) => catalog.register(collection, row)
      case (_, Some(s)) => catalog.register(collection, s)
      case (Some(df), None) =>
        // earlier documents move to the widened type by name, through JSON
        val widened = if (oldType.contains(docType)) df
          else df.withColumn("doc", from_json(to_json(col("doc")), docType))
        catalog.register(collection, widened.filter(col("id") =!= id)
          .unionByName(row.frame, allowMissingColumns = true))
    }
  }

  // a driver-local collection's rows with document id `id`, when ids are
  // the dialect's bigint
  private def hasId(s: LocalRows, id: Long): Option[InternalRow => Boolean] = {
    val i = s.schema.fieldNames.indexOf("id")
    if (i < 0 || s.schema(i).dataType != LongType) None
    else Some(r => !r.isNullAt(i) && r.getLong(i) == id)
  }

  /** Hydrate a document back to JSON (S10); in a driver-local collection
    * only the stored row with that id is hydrated. */
  def getDocument(collection: String, id: Long): Option[String] = synchronized {
    val held = catalog.rowsOf(collection).flatMap(s =>
      hasId(s, id).map(p => LocalRows.internal(spark, s.schema, s.rows.filter(p))))
    if (!catalog.exists(collection) || held.exists(_.rows.isEmpty)) None
    else DocStore.hydrate(held.fold(catalog.table(collection).filter(col("id") === id))(_.frame))
      .select("json").collect().headOption.map(_.getString(0))
  }

  // ---------------- graph surface (POST /cypher) ------------------------
  /** Mutating statements (MERGE / DETACH DELETE / SET) change the graph
    * and return None; every other statement (MATCH, WITH, UNWIND,
    * shortestPath) returns bindings. A session graph stays one local
    * relation through every mutation: a MERGE appends rows, and DETACH
    * DELETE and SET re-root the graph on the rows their plans fold to on
    * the driver ([[PropertyGraph.execute]]), so neither a mutation nor a
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
