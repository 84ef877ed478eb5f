package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.HashDb
import graft.graph.Cypher
import graft.sql.HashQL

/** `facade_mixed`: one client sends a seeded stream of small statements,
  * about half writes and half reads, across all five surfaces of a fresh
  * [[HashDb]]. The stream is cut into sessions (rounds) of [[FacadeMixed.mix]];
  * each session starts from a fresh, preloaded `HashDb`, so the state an
  * op sees depends on its position in the session and not on how fast
  * earlier ops ran. The generator keeps a model of every surface's contents
  * and stores each read's expected result with the op. */
final class FacadeMixed(spark: SparkSession, seed: Long, size: String, injectWrong: Int)
    extends Workload {
  import FacadeMixed._

  private val tiny = size == "tiny"
  private var db: HashDb = _
  private var ops: IndexedSeq[Op] = IndexedSeq.empty
  private val results = mutable.ArrayBuffer.empty[(Op, Either[String, Seq[String]])]

  def inputs: Seq[(String, String)] = Seq(
    "ops_per_session" -> (if (tiny) mix.length else mix.map(_._3).sum).toString,
    "preload_statements" -> preload(new Model, new Random(0)).length.toString,
    "read_share" -> f"${mix.filterNot(_._2).map(_._3).sum.toDouble / mix.map(_._3).sum}%.2f")

  def warmupRounds: Int = 3
  def setup(t: Tracer): Unit = startSession(0, t)

  def round(t: Tracer, k: Int): Seq[Sample] = {
    t.untimed(startSession(k, new Tracer(false, spark.sparkContext)))
    ops.map { op => t.beginOp(); run(op, t) }
  }

  /** A fresh `HashDb` with the session's preload applied, and the ops that
    * follow it. */
  private def startSession(k: Int, t: Tracer): Unit = {
    val rnd = new Random(seed * 1000003L + k)
    db = new HashDb(spark)
    val model = new Model
    preload(model, rnd).foreach(exec(_, t))
    ops = stream(rnd, model, tiny)
  }

  private def run(op: Op, t: Tracer): Sample = {
    val t0 = System.nanoTime()
    val out = try Right(exec(op, t)) catch { case e: Exception => Left(e.toString) }
    val ns = System.nanoTime() - t0
    results += ((op, out))
    t.count("core.table_versions")(
      db.catalog.names.map(db.catalog.versionOf).sum.toDouble)
    Sample(op.kind, op.write, ns)
  }

  /** Runs one op against `db`; reads return their rows rendered as strings. */
  private def exec(op: Op, t: Tracer): Seq[String] = op match {
    case KvSet(pk, sk, v) => t.span("kv.put")(db.set(pk, sk, v)); Nil
    case KvClear(pk, sk) => t.span("kv.put")(db.clear(pk, sk)); Nil
    case KvGet(pk, sk, _) =>
      val r = t.span("kv.get")(db.get(pk, sk))
      t.count("kv.plan_nodes")(Tracer.planNodes(db.kv.get(pk, sk).queryExecution.analyzed))
      r.toSeq
    case KvRange(pk, from, to, _) =>
      t.span("kv.range")(db.kv.queryBetween(pk, from, to).collect())
        .map(r => s"${r.getString(1)}=${r.getString(2)}").toSeq
    case DocSave(id, json) => t.span("doc.save")(db.saveDocument(collection, id, json)); Nil
    case DocGet(id, _) => t.span("doc.get")(db.getDocument(collection, id)).toSeq
    case GraphWrite(stmt) =>
      if (t.enabled) t.span("graph.parse")(Cypher.parse(stmt))
      t.span("graph.merge")(db.cypher(stmt)); Nil
    case GraphRead(stmt, _) =>
      if (t.enabled) t.span("graph.parse")(Cypher.parse(stmt))
      val (df, rows) = t.span("graph.match") {
        val df = db.cypher(stmt).get
        (df, df.collect())
      }
      t.count("graph.plan_nodes")(Tracer.planNodes(df.queryExecution.analyzed))
      rows.map(_.mkString("|")).toSeq.sorted
    case s: SqlOp =>
      if (t.enabled) t.span("sql.parse")(HashQL.parse(s.stmt))
      val built = t.span("sql.build")(db.sql(s.stmt))
      if (s.write) Nil
      else {
        val df: DataFrame = built.get
        t.span("spark.plan")(df.queryExecution.executedPlan)
        t.count("spark.plan_nodes")(Tracer.planNodes(df.queryExecution.analyzed))
        t.span(if (s.kind == "sql.fts") "fts.query" else "spark.exec")(df.collect())
          .map(_.mkString("|")).toSeq.sorted
      }
  }

  def verify(): (Long, Long) = {
    val corrupt = results.indices.filter(results(_)._1.expected.nonEmpty).take(injectWrong).toSet
    val wrong = results.zipWithIndex.count { case ((op, out), i) =>
      val got = if (corrupt(i)) Right(Seq("<injected wrong result>")) else out
      got match {
        case Left(_) => true
        case Right(rows) => op.expected.exists(_ != rows)
      }
    }
    (results.length.toLong, wrong.toLong)
  }
}

object FacadeMixed {
  val collection = "profiles"

  sealed trait Op {
    def kind: String
    def write: Boolean
    /** What a read must return; None for writes. */
    def expected: Option[Seq[String]] = None
  }
  final case class KvSet(pk: String, sk: String, v: String) extends Op {
    def kind = "kv.set"; def write = true }
  final case class KvClear(pk: String, sk: String) extends Op {
    def kind = "kv.clear"; def write = true }
  final case class KvGet(pk: String, sk: String, want: Option[String]) extends Op {
    def kind = "kv.get"; def write = false
    override def expected = Some(want.toSeq) }
  final case class KvRange(pk: String, from: String, to: String, want: Seq[String]) extends Op {
    def kind = "kv.range"; def write = false
    override def expected = Some(want) }
  final case class SqlOp(kind: String, stmt: String, want: Option[Seq[String]]) extends Op {
    def write = want.isEmpty
    override def expected = want.map(_.sorted) }
  final case class DocSave(id: Long, json: String) extends Op {
    def kind = "doc.save"; def write = true }
  final case class DocGet(id: Long, want: Option[String]) extends Op {
    def kind = "doc.get"; def write = false
    override def expected = Some(want.toSeq) }
  final case class GraphWrite(stmt: String) extends Op {
    def kind = "graph.merge"; def write = true }
  final case class GraphRead(stmt: String, want: Seq[String]) extends Op {
    def kind = "graph.match"; def write = false
    override def expected = Some(want.sorted) }

  /** Ops per session by kind: (kind, write, count). Fixed, so every session
    * and every seed has the same mix; only order and literals vary. Cypher
    * MATCH takes ~20x the next slowest op, so one per session keeps it from
    * taking most of a run's time and leaves room for more sessions, hence
    * more samples of every kind. */
  val mix: Seq[(String, Boolean, Int)] = Seq(
    ("kv.set", true, 2), ("kv.clear", true, 1), ("sql.insert", true, 2),
    ("sql.update", true, 1), ("doc.save", true, 2), ("graph.merge", true, 2),
    ("kv.get", false, 2), ("kv.range", false, 1), ("sql.select", false, 1),
    ("sql.fts", false, 1), ("sql.join", false, 1), ("sql.docpath", false, 1),
    ("doc.get", false, 2), ("graph.match", false, 1))

  private val products = Vector("spanner", "tree", "lamp", "kettle", "rope", "drum")
  private val words = Vector("red", "blue", "green", "old", "new", "small", "large",
    "fast", "slow", "cheap", "steel", "wood", "glass", "round", "flat", "soft")
  private val hobbies = Vector("chess", "rowing", "piano", "hiking", "poetry", "golf")
  private val pks = Vector.tabulate(6)(i => f"user-$i%02d")
  private val persons = 12

  /** Contents of every surface, as the engine should hold them. */
  final class Model {
    val kv = mutable.TreeMap.empty[(String, String), String]
    var nextSk = 0
    val people = mutable.LinkedHashMap.empty[Long, (String, Long)] // pid -> (name, age)
    val items = mutable.ArrayBuffer.empty[(String, Long, String)] // search, owner, note
    val prices = mutable.ArrayBuffer.empty[(String, Long)] // product, price
    val docs = mutable.LinkedHashMap.empty[Long, String]
    val edges = mutable.Set.empty[(String, String)]

    def apply(op: Op): Unit = op match {
      case KvSet(pk, sk, v) => kv((pk, sk)) = v
      case KvClear(pk, sk) => kv.remove((pk, sk))
      case DocSave(id, json) => docs(id) = json
      case _ =>
    }
  }

  private def pick[T](rnd: Random, xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

  private def docJson(id: Long, rnd: Random): String = {
    val hs = rnd.shuffle(hobbies).take(1 + rnd.nextInt(3))
    s"""{"age":${20 + rnd.nextInt(50)},"hobbies":[${hs.map(h => s"""{"name":"$h"}""").mkString(",")}],"name":"d$id"}"""
  }

  private def kvSet(m: Model, rnd: Random): KvSet = {
    m.nextSk += 1
    KvSet(pick(rnd, pks), f"msg-${m.nextSk}%05d", s"value-${rnd.nextInt(1000000)}")
  }

  private def person(i: Int) = s"p$i"

  private def merge(m: Model, rnd: Random): GraphWrite = {
    val a = rnd.nextInt(persons)
    val b = (a + 1 + rnd.nextInt(persons - 1)) % persons
    m.edges += ((person(a), person(b)))
    GraphWrite(s"merge (a:Person {'name': '${person(a)}'})-[:FOLLOWS]->" +
      s"(b:Person {'name': '${person(b)}'})")
  }

  private def insertPerson(m: Model, rnd: Random): SqlOp = {
    val pid = m.people.size + 1L
    val age = 20L + rnd.nextInt(8)
    m.people(pid) = (s"n$pid", age)
    SqlOp("sql.insert", s"insert into people (pid, people_name, age) values ($pid, 'n$pid', $age)", None)
  }
  private def insertItem(m: Model, rnd: Random): SqlOp = {
    val it = (pick(rnd, products), 1L + rnd.nextInt(math.max(1, m.people.size)),
      Seq.fill(3)(pick(rnd, words)).mkString(" "))
    m.items += it
    SqlOp("sql.insert", s"insert into items (search, owner, note) values " +
      s"('${it._1}', ${it._2}, '${it._3}')", None)
  }
  private def insertProduct(m: Model, rnd: Random): SqlOp = {
    val p = (pick(rnd, products), 100L * (1 + rnd.nextInt(20)))
    m.prices += p
    SqlOp("sql.insert", s"insert into products (name, price) values ('${p._1}', ${p._2})", None)
  }

  /** The state each session starts from: one registered `create join` and a
    * few rows, documents and edges on every surface. */
  def preload(m: Model, rnd: Random): Seq[Op] = {
    val ops = Seq(SqlOp("sql.ddl", "create join inner join people on items.owner = people.pid " +
      "inner join products on items.search = products.name", None)) ++
      Seq.fill(6)(kvSet(m, rnd)) ++
      Seq.fill(3)(insertPerson(m, rnd)) ++ Seq.fill(3)(insertProduct(m, rnd)) ++
      Seq.fill(3)(insertItem(m, rnd)) ++
      (1L to 2L).map(id => DocSave(id, docJson(id, rnd))) ++
      Seq.fill(3)(merge(m, rnd))
    ops.foreach(m.apply)
    ops
  }

  /** The session's ops, in a seeded order, each with its expected result
    * computed from the model as of that point in the stream. `tiny` runs one
    * op of each kind. */
  def stream(rnd: Random, m: Model, tiny: Boolean): IndexedSeq[Op] = {
    val kinds = rnd.shuffle(mix.flatMap { case (k, _, c) => Seq.fill(if (tiny) 1 else c)(k) })
      .toIndexedSeq
    kinds.map { k =>
      val op: Op = k match {
        case "kv.set" => kvSet(m, rnd)
        case "kv.clear" =>
          if (m.kv.isEmpty) kvSet(m, rnd)
          else { val (pk, sk) = pick(rnd, m.kv.keys.toIndexedSeq); KvClear(pk, sk) }
        case "kv.get" =>
          val (pk, sk) =
            if (m.kv.nonEmpty && rnd.nextInt(5) > 0) pick(rnd, m.kv.keys.toIndexedSeq)
            else (pick(rnd, pks), "msg-99999")
          KvGet(pk, sk, m.kv.get((pk, sk)))
        case "kv.range" =>
          val pk = pick(rnd, pks)
          val a = rnd.nextInt(m.nextSk + 1)
          val (from, to) = (f"msg-$a%05d", f"msg-${a + 6}%05d")
          KvRange(pk, from, to, m.kv.range((pk, from), (pk, to + "\u0000"))
            .map { case ((_, sk), v) => s"$sk=$v" }.toSeq)
        case "sql.insert" => rnd.nextInt(5) match {
          case 0 | 1 => insertPerson(m, rnd)
          case 2 | 3 => insertItem(m, rnd)
          case _ => insertProduct(m, rnd)
        }
        case "sql.update" =>
          val pid = 1L + rnd.nextInt(m.people.size)
          val age = 20L + rnd.nextInt(8)
          val (name, _) = m.people(pid)
          m.people(pid) = (name, age)
          SqlOp(k, s"update people set people.age = $age where people.people_name = '$name'", None)
        case "sql.select" =>
          val age = 20L + rnd.nextInt(8)
          SqlOp(k, s"select people.people_name from people where people.age = $age",
            Some(m.people.values.filter(_._2 == age).map(_._1).toSeq))
        case "sql.fts" =>
          val (w1, w2) = (pick(rnd, words), pick(rnd, words))
          SqlOp(k, s"select items.note from items where items.note ~ '$w1 | $w2'",
            Some(m.items.map(_._3).filter { n =>
              val toks = n.split(" ").toSet; toks(w1) || toks(w2) }.toSeq))
        case "sql.join" =>
          val prod = pick(rnd, products)
          SqlOp(k, "select products.price, people.people_name, items.search from items " +
            "inner join people on items.owner = people.pid " +
            "inner join products on items.search = products.name " +
            s"where items.search = '$prod'",
            Some(for {
              (s, owner, _) <- m.items.toSeq if s == prod
              (name, _) <- m.people.get(owner).toSeq
              (p, price) <- m.prices if p == s
            } yield s"$price|$name|$s"))
        case "sql.docpath" =>
          val h = pick(rnd, hobbies)
          SqlOp(k, s"select $collection.id from $collection where $collection.~hobbies[]~name = '$h'",
            Some(m.docs.collect { case (id, j) if j.contains(s""""name":"$h"""") => id.toString }.toSeq))
        case "doc.save" =>
          val id = if (rnd.nextInt(3) == 0) 1L + rnd.nextInt(m.docs.size) else m.docs.size + 1L
          DocSave(id, docJson(id, rnd))
        case "doc.get" =>
          val id = 1L + rnd.nextInt(m.docs.size + 1)
          DocGet(id, m.docs.get(id))
        case "graph.merge" => merge(m, rnd)
        case "graph.match" =>
          val a = person(rnd.nextInt(persons))
          if (rnd.nextBoolean())
            GraphRead(s"match (a:Person {name: '$a'})-[:FOLLOWS]->(b:Person) return b",
              m.edges.collect { case (`a`, b) => b }.toSeq)
          else
            GraphRead(s"match (a:Person {name: '$a'})<-[:FOLLOWS]-(b:Person) return b",
              m.edges.collect { case (b, `a`) => b }.toSeq)
      }
      m.apply(op)
      op
    }
  }
}
