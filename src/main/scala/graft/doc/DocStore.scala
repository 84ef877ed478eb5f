package graft.doc

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, StructsToJson}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Document store (SURVEY §2.1 S9/S10, §2.2 P2, §2.6 F3/F4).
  *
  * The reference shreds JSON documents into flattened keyvalues plus a
  * per-cluster path registry (/root/reference/server.py:196-331) and
  * re-hydrates them on read (client.py:66-143). On Spark none of that
  * machinery is needed: documents are native nested rows
  * (StructType/ArrayType), hydration is `to_json`, shredding is
  * `spark.read.json` schema inference. What we keep from the reference is
  * its *addressing syntax* — `people.~hobbies[]~name`
  * (README.md:123-145) — translated here into explode/getField chains.
  */
object DocStore {

  /** Bulk save path (S9): raw JSON strings → nested rows, schema
    * inferred — the Spark-native equivalent of the reference's shredder.
    * A collection's schema plays the reference's per-collection path
    * registry (server.py:289-331); [[parseAgainst]] grows it one document
    * at a time. */
  def fromJson(spark: SparkSession, idAndJson: DataFrame): DataFrame = {
    import spark.implicits._
    val schema = spark.read.json(idAndJson.select(col("json")).as[String]).schema
    idAndJson.withColumn("doc", from_json(col("json"), schema)).drop("json")
  }

  // the JSON reader leniencies Spark's own JSON source has on by default
  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES, JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .build()

  /** Driver-side save path ([[graft.HashDb.saveDocument]]): `json`, one
    * JSON object, as a Catalyst struct of the collection's doc type
    * `docType` (None: a new collection) widened by every field the
    * collection has not seen yet — no Spark job, and no plan. New fields
    * take the types Spark's JSON inference gives them (integers `bigint`,
    * other numbers `double`, all-null fields `string`), and a struct that
    * gains fields keeps them sorted by name, as inference does. Numbers
    * widen `bigint` → `decimal(38,0)` → `double`; any other value whose
    * JSON type differs from its field's type throws an
    * IllegalArgumentException that names `what` and the field. Returns the
    * widened type and the document in it. */
  def parseAgainst(json: String, docType: Option[DataType],
                   what: String): (StructType, InternalRow) = {
    val node = try mapper.readTree(json) catch {
      case e: JsonProcessingException =>
        throw new IllegalArgumentException(s"$what: not valid JSON: ${e.getOriginalMessage}")
    }
    require(node != null && node.isObject, s"$what: a document must be a JSON object")
    val t = canonical(widen(docType.getOrElse(new StructType()), node, "", what))
    (t.asInstanceOf[StructType], toCatalyst(node, t).asInstanceOf[InternalRow])
  }

  private def widen(t: DataType, v: JsonNode, path: String, what: String): DataType = {
    def conflict = throw new IllegalArgumentException(
      s"$what: field ${path.stripPrefix(".")} holds a JSON " +
        s"${v.getNodeType.toString.toLowerCase}, but the collection stores it as ${t.simpleString}")
    def rank(n: DataType) = n match {
      case LongType => 0; case _: DecimalType => 1; case _ => 2 }
    if (v.isNull) t
    else (t, v) match {
      case (NullType, _) =>
        if (v.isObject) widen(new StructType(), v, path, what)
        else if (v.isArray) widen(ArrayType(NullType), v, path, what)
        else if (v.isTextual) StringType
        else if (v.isBoolean) BooleanType
        else if (v.isFloatingPointNumber) DoubleType
        else if (v.isNumber) {
          if (v.canConvertToLong) LongType
          else if (v.bigIntegerValue.toString.length <= 38) DecimalType(38, 0)
          else DoubleType
        }
        else conflict
      case (s: StructType, _) if v.isObject =>
        val kept = s.fields.map(f => Option(v.get(f.name)).fold(f)(x =>
          f.copy(dataType = widen(f.dataType, x, s"$path.${f.name}", what))))
        val added = v.fieldNames.asScala.filterNot(s.fieldNames.toSet).map(k =>
          StructField(k, widen(NullType, v.get(k), s"$path.$k", what))).toSeq
        if (added.isEmpty) StructType(kept.toSeq) else StructType((kept ++ added).sortBy(_.name).toSeq)
      case (ArrayType(e, nulls), _) if v.isArray =>
        ArrayType(v.elements.asScala.foldLeft(e)((acc, x) => widen(acc, x, s"$path[]", what)), nulls)
      case (StringType, _) if v.isTextual => t
      case (BooleanType, _) if v.isBoolean => t
      case (LongType | DoubleType | _: DecimalType, _) if v.isNumber =>
        val n = widen(NullType, v, path, what)
        if (rank(n) > rank(t)) n else t
      case _ => conflict
    }
  }

  // an all-null field reads as a string, as Spark's JSON inference has it
  private def canonical(t: DataType): DataType = t match {
    case NullType => StringType
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = canonical(f.dataType))))
    case ArrayType(e, n) => ArrayType(canonical(e), n)
    case other => other
  }

  // `v` in Catalyst form; `t` is [[widen]]'s type for it
  private def toCatalyst(v: JsonNode, t: DataType): Any =
    if (v == null || v.isNull) null
    else t match {
      case s: StructType => new GenericInternalRow(s.fields.map(f => toCatalyst(v.get(f.name), f.dataType)))
      case ArrayType(e, _) => new GenericArrayData(v.elements.asScala.map(toCatalyst(_, e)).toArray)
      case StringType => UTF8String.fromString(v.textValue)
      case BooleanType => v.booleanValue
      case LongType => v.longValue
      case DoubleType => v.doubleValue
      case d: DecimalType =>
        val dec = Decimal(v.decimalValue)
        require(dec.changePrecision(d.precision, d.scale), s"$v does not fit ${d.simpleString}")
        dec
    }

  /** Read path (S10): hydrate a nested doc column back to a JSON string. */
  def hydrate(docs: DataFrame, docCol: String = "doc"): DataFrame =
    docs.withColumn("json", to_json(col(docCol)))

  /** [[hydrate]] for one held document: `doc`, a Catalyst value of
    * `docType`, rendered by Spark's own `to_json` under `spark`'s SQL conf
    * (its session time zone and JSON options), evaluated on the driver
    * with no plan built (NULL for a NULL `doc`). */
  def toJson(spark: SparkSession, doc: Any, docType: DataType): String = GraftBridge.withConf(spark) { conf =>
    val tz = conf.sessionLocalTimeZone
    if (renderers.size > 256) renderers.clear()
    val render = renderers.computeIfAbsent((docType, tz, conf.getAllConfs), _ => {
      val e = StructsToJson(Map.empty, BoundReference(0, docType, nullable = true), Some(tz))
      require(e.checkInputDataTypes().isSuccess, s"to_json cannot render a ${docType.simpleString}")
      e.replacement
    })
    // one JSON generator per renderer, so one rendering at a time
    render.synchronized(Option(render.eval(InternalRow(doc))).map(_.toString).orNull)
  }

  // `to_json` evaluators by doc type, time zone and SQL conf, a few per
  // session: a fresh one reads its JSON options from the conf and sets up
  // its JSON generator on first use, which costs more than the rendering
  private val renderers =
    new java.util.concurrent.ConcurrentHashMap[(DataType, String, Map[String, String]), Expression]()

  private final case class Seg(name: String, isArray: Boolean,
                               index: Option[Int] = None)

  /** `x` plain field · `x[]` every element (explodes / exists) · `x[n]`
    * the n-th element, 0-based (growth beyond the reference's []-only
    * addressing, README.md:100-145): a pure `element_at` — no explode,
    * NULL past the end, JSON-path-style. */
  private def parse(path: String): Seq[Seg] =
    path.split("~").filter(_.nonEmpty).toSeq.map { s =>
      if (s.endsWith("[]")) Seg(s.dropRight(2), isArray = true)
      else if (s.endsWith("]") && s.contains("[")) {
        val at = s.lastIndexOf('[')
        val idx = s.substring(at + 1, s.length - 1)
        require(idx.matches("[0-9]+"), s"bad array index in path segment: $s")
        Seg(s.substring(0, at), isArray = false, index = Some(idx.toInt))
      }
      else Seg(s, isArray = false)
    }

  /** P2 doc-path projection: `select(docs, "doc", "~orders[]~o_orderkey")`
    * emits one row per addressed leaf (array segments explode). Returns the
    * input columns (minus the doc) plus the leaf as `as`. */
  def selectPath(docs: DataFrame, docCol: String, path: String, as: String): DataFrame =
    selectPaths(docs, docCol, Seq(path -> as))

  /** Multi-path projection (the reference's flattened multi-path row dicts,
    * README.md:134-145): every path lands as one output column. Paths
    * addressing the SAME array share one explode, so their leaves stay
    * POSITIONALLY ALIGNED — `~orders[]~o_orderkey` and
    * `~orders[]~o_totalprice` in one statement emit one row per order with
    * that order's key AND price (not a self cross-product). Paths through
    * DIFFERENT arrays compose explodes, i.e. cross-product semantics —
    * the relational meaning of addressing two independent nested
    * collections in one statement. */
  def selectPaths(docs: DataFrame, docCol: String,
                  paths: Seq[(String, String)]): DataFrame = {
    val keep = docs.columns.filter(_ != docCol).toSeq
    var df = docs
    var fresh = 0
    // one explode per distinct array PREFIX (all segments up to and
    // including the array), shared across paths — the alignment guarantee
    val exploded = scala.collection.mutable.Map.empty[Seq[String], Column]
    def resolve(path: String): Column = {
      var cur: Column = col(docCol)
      var prefix = List.empty[String]
      parse(path).foreach { seg =>
        if (seg.isArray) {
          prefix = prefix :+ s"${seg.name}[]"
          val parent = cur
          cur = exploded.getOrElseUpdate(prefix, {
            fresh += 1
            val tmp = s"__seg$fresh"
            df = df.withColumn(tmp, explode(parent.getField(seg.name)))
            col(tmp)
          })
        } else if (seg.index.isDefined) {
          // indexed element: scan-side element_at (1-based), no explode
          prefix = prefix :+ s"${seg.name}[${seg.index.get}]"
          cur = try_element_at(cur.getField(seg.name), lit(seg.index.get + 1))
        } else {
          prefix = prefix :+ seg.name
          cur = cur.getField(seg.name)
        }
      }
      cur
    }
    val leaves = paths.map { case (p, as) => resolve(p).as(as) }
    df.select(keep.map(col) ++ leaves: _*)
  }

  /** Doc-path existence predicate: `pathExists(docs, "doc",
    * "~orders[]~o_totalprice", _ > 300000)` — true if ANY addressed leaf
    * matches. Uses higher-order `exists` (codegen'd) instead of
    * explode+distinct, so the filter stays scan-side. Supports one array
    * segment (the reference's own examples never nest arrays). */
  def pathMatches(docCol: Column, path: String, pred: Column => Column): Column = {
    val segs = parse(path)
    def step(c: Column, s: Seg): Column =
      if (s.index.isDefined) try_element_at(c.getField(s.name), lit(s.index.get + 1))
      else c.getField(s.name)
    val arrIdx = segs.indexWhere(_.isArray)
    if (arrIdx < 0)
      // pure scalar chain (plain and/or INDEXED segments): the predicate
      // applies to the single addressed leaf; NULL (missing field, index
      // past the end) fails the filter like any NULL comparison
      pred(segs.foldLeft(docCol)(step))
    else {
      val arr = segs.take(arrIdx).foldLeft(docCol)(step)
        .getField(segs(arrIdx).name)
      val post = segs.drop(arrIdx + 1)
      exists(arr, e => pred(post.foldLeft(e)(step)))
    }
  }
}
