package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

import graft.HashDb
import graft.graph.{Cypher, PropertyGraph}
import graft.matview.MatView
import graft.sql.HashQL

/** `analytic_sf01`: one client sends read-only analytic work over the
  * repository's TPC-H-shaped test tables at scale factor 0.1 (600k lineitem
  * rows; sf 0.001 for `--size tiny`), copied under `perfbench/data` and
  * registered in a [[HashDb]] catalog. A round runs each of ten statement
  * templates once and one corpus-cleaning batch ([[CorpusClean]]), in a
  * seeded order:
  * TPC-H Q1/Q3/Q5/Q6 shapes and a filtered join through `HashDb.sql`, `~`
  * full-text search over `documents`, two Cypher MATCHes on
  * `PropertyGraph.fromTpch`, and two aggregates that the aggregate view set
  * up with `MatView.materializeAggregate` can answer (the other four cannot).
  * The seed picks each template's literals and every round's order. */
final class AnalyticSf01(spark: SparkSession, seed: Long, size: String, data: String,
                         work: String, injectWrong: Int) extends Workload {
  import AnalyticSf01._

  private val sf = if (size == "tiny") 0.001 else 0.1
  private val dir = s"$data/sf$sf"
  private val mvPath = s"$work/matview"
  private val statements: IndexedSeq[Stmt] = templates(new Random(seed))
  private val corpus = new CorpusClean(spark, seed, size, dir, injectWrong)
  private var db: HashDb = _
  private var graph: PropertyGraph = _
  private val results = mutable.ArrayBuffer.empty[(Stmt, Either[String, Seq[String]])]

  def inputs: Seq[(String, String)] = Seq(
    "sf" -> sf.toString,
    "lineitem_rows" -> spark.read.parquet(s"$dir/lineitem.parquet").count().toString,
    "statements_per_round" -> statements.length.toString) ++ corpus.inputs

  def warmupRounds: Int = 1
  def setup(t: Tracer): Unit = {
    db = new HashDb(spark)
    tables.foreach(n => db.catalog.register(n, spark.read.parquet(s"$dir/$n.parquet")))
    val c = db.catalog
    graph = PropertyGraph.fromTpch(c.table("customer"), c.table("nation"),
      c.table("region"), c.table("supplier"))
    val view = db.sql(viewSql).get
    t.span("matview.materialize")(MatView.materializeAggregate(spark, viewName, view, mvPath))
  }

  def round(t: Tracer, k: Int): Seq[Sample] = {
    val rnd = new Random(seed * 7919L + k)
    val (before, after) = rnd.shuffle(statements).splitAt(rnd.nextInt(statements.length + 1))
    def stmts(ss: Seq[Stmt]) = ss.map { s => t.beginOp(); run(s, t) }
    stmts(before) ++ corpus.round(t, k) ++ stmts(after)
  }

  private def run(s: Stmt, t: Tracer): Sample = {
    val t0 = System.nanoTime()
    val out = try Right(exec(s, t)) catch { case e: Exception => Left(e.toString) }
    val ns = System.nanoTime() - t0
    results += ((s, out))
    Sample(s.kind, write = false, ns)
  }

  private def exec(s: Stmt, t: Tracer): Seq[String] = s.kind match {
    case "graph.match" =>
      if (t.enabled) t.span("graph.parse")(Cypher.parse(s.text))
      val (df, rows) = t.span("graph.match") {
        val df = graph.query(s.text)
        (df, df.collect())
      }
      t.count("graph.plan_nodes")(Tracer.planNodes(df.queryExecution.analyzed))
      render(rows)
    case kind =>
      if (t.enabled) t.span("sql.parse")(HashQL.parse(s.text))
      val df = t.span("sql.build")(db.sql(s.text).get)
      t.span("spark.plan")(df.queryExecution.executedPlan)
      t.count("spark.plan_nodes")(Tracer.planNodes(df.queryExecution.analyzed))
      if (s.agg) {
        t.count("matview.route_attempts")(1.0)
        t.count("matview.route_hits")(if (df.inputFiles.exists(_.contains(mvPath))) 1.0 else 0.0)
      }
      render(t.span(if (kind == "sql.fts") "fts.query" else "spark.exec")(df.collect()))
  }

  /** Compares every recorded result with a plain `spark.sql` computation of
    * the same statement over the parquet files, with the aggregate view's
    * routing removed so the reference reads the base tables. */
  def verify(): (Long, Long) = {
    MatView.drop(spark, viewName)
    tables.foreach(n => spark.read.parquet(s"$dir/$n.parquet").createOrReplaceTempView(n))
    val want = results.map(_._1).distinct.map(s => s -> render(spark.sql(s.oracle).collect())).toMap
    val wrong = results.zipWithIndex.count { case ((s, out), i) =>
      val got = if (i < injectWrong) Right(Seq("<injected wrong result>")) else out
      got != Right(want(s))
    }
    val (cAttempted, cWrong) = corpus.verify()
    (results.length + cAttempted, wrong + cWrong)
  }

  override def layerCounts(t: Tracer): Map[String, Double] = corpus.layerCounts
}

object AnalyticSf01 {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents")
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  /** Words of the `documents` vocabulary other than stop words. */
  val ftsWords: Seq[String] = Seq("spark", "query", "table", "join", "scan",
    "filter", "merge", "sort", "hash", "window", "batch", "stream", "vector",
    "column", "row", "key", "value", "order", "part", "line", "customer",
    "data", "group", "agg", "fast", "slow", "small", "big")

  /** One statement: `kind` names its class, `text` is what the engine runs
    * (dialect SQL or Cypher), `oracle` the equivalent Spark SQL, and `agg`
    * marks aggregates, which the aggregate view may or may not answer. */
  final case class Stmt(kind: String, text: String, oracle: String, agg: Boolean)

  val viewName = "perfbench_flag_status"
  val viewSql: String =
    "select lineitem.l_returnflag, lineitem.l_linestatus, " +
      "sum(lineitem.l_quantity) as sum_qty, count(*) as n from lineitem " +
      "group by lineitem.l_returnflag, lineitem.l_linestatus"

  /** Rows rendered as sorted strings; numbers by value, so `1.0E7` from one
    * engine and `10000000` from another compare equal. */
  def render(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.map {
    case null => "null"
    case d: Double => java.math.BigDecimal.valueOf(d).stripTrailingZeros.toPlainString
    case f: Float => java.math.BigDecimal.valueOf(f.toDouble).stripTrailingZeros.toPlainString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case n: java.lang.Number => new java.math.BigDecimal(n.toString).stripTrailingZeros.toPlainString
    case v => v.toString
  }.mkString("|")).toSeq.sorted

  private def pick[T](rnd: Random, xs: Seq[T]): T = xs(rnd.nextInt(xs.length))

  /** The ten templates with literals drawn from `rnd`. */
  def templates(rnd: Random): IndexedSeq[Stmt] = {
    val cutoff = f"${1998 + rnd.nextInt(3)}-${1 + rnd.nextInt(12)}%02d-01"
    val status = pick(rnd, Seq("F", "O"))
    val flag = pick(rnd, Seq("A", "N", "R"))
    val year = 1995 + rnd.nextInt(6)
    val disc = 2 + rnd.nextInt(7)
    val qty = 20 + rnd.nextInt(10)
    val segment = pick(rnd, segments)
    val q3date = f"${1996 + rnd.nextInt(5)}-${1 + rnd.nextInt(12)}%02d-15"
    val region = pick(rnd, regions)
    val q5year = 1995 + rnd.nextInt(5)
    val nation = rnd.nextInt(25)
    val price = 100000 + rnd.nextInt(300000)
    val words = rnd.shuffle(ftsWords).take(3)
    val source = s"src${rnd.nextInt(20)}"
    val rev = "floor(lineitem.l_extendedprice * ( 1 - lineitem.l_discount ) * 100)"
    val revO = "floor(l_extendedprice * (1 - l_discount) * 100)"
    IndexedSeq(
      Stmt("sql.q1",
        "select lineitem.l_returnflag, lineitem.l_linestatus, " +
          "sum(lineitem.l_quantity) as sum_qty, " +
          "sum(floor(lineitem.l_extendedprice * 100)) as base_cents, count(*) as n " +
          s"from lineitem where lineitem.l_shipdate <= date '$cutoff' " +
          "group by lineitem.l_returnflag, lineitem.l_linestatus",
        "SELECT l_returnflag, l_linestatus, sum(l_quantity), " +
          "sum(floor(l_extendedprice * 100)), count(*) FROM lineitem " +
          s"WHERE l_shipdate <= DATE '$cutoff' GROUP BY l_returnflag, l_linestatus",
        agg = true),
      Stmt("sql.rollup",
        "select lineitem.l_returnflag, sum(lineitem.l_quantity) as q, count(*) as n " +
          s"from lineitem where lineitem.l_linestatus = '$status' " +
          "group by lineitem.l_returnflag",
        "SELECT l_returnflag, sum(l_quantity), count(*) FROM lineitem " +
          s"WHERE l_linestatus = '$status' GROUP BY l_returnflag",
        agg = true),
      Stmt("sql.view",
        "select lineitem.l_returnflag, lineitem.l_linestatus, " +
          "sum(lineitem.l_quantity) as sum_qty, count(*) as n from lineitem " +
          s"where lineitem.l_returnflag = '$flag' " +
          "group by lineitem.l_returnflag, lineitem.l_linestatus",
        "SELECT l_returnflag, l_linestatus, sum(l_quantity), count(*) FROM lineitem " +
          s"WHERE l_returnflag = '$flag' GROUP BY l_returnflag, l_linestatus",
        agg = true),
      Stmt("sql.q6",
        "select sum(floor(lineitem.l_extendedprice * lineitem.l_discount * 100)) " +
          "as revenue_cents from lineitem " +
          s"where lineitem.l_shipdate >= date '$year-01-01' " +
          s"and lineitem.l_shipdate < date '${year + 1}-01-01' " +
          s"and lineitem.l_discount between 0.0${disc - 1} and 0.0${disc + 1} " +
          s"and lineitem.l_quantity < $qty",
        "SELECT sum(floor(l_extendedprice * l_discount * 100)) FROM lineitem " +
          s"WHERE l_shipdate >= DATE '$year-01-01' AND l_shipdate < DATE '${year + 1}-01-01' " +
          s"AND l_discount BETWEEN 0.0${disc - 1} AND 0.0${disc + 1} AND l_quantity < $qty",
        agg = true),
      Stmt("sql.q3",
        s"select lineitem.l_orderkey, sum($rev) as revenue_cents from customer " +
          "inner join orders on customer.c_custkey = orders.o_custkey " +
          "inner join lineitem on orders.o_orderkey = lineitem.l_orderkey " +
          s"where customer.c_mktsegment = '$segment' " +
          s"and orders.o_orderdate < date '$q3date' " +
          s"and lineitem.l_shipdate > date '$q3date' " +
          "group by lineitem.l_orderkey " +
          "order by revenue_cents desc, lineitem.l_orderkey limit 10",
        s"SELECT l_orderkey, sum($revO) AS r FROM customer " +
          "JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey " +
          s"WHERE c_mktsegment = '$segment' AND o_orderdate < DATE '$q3date' " +
          s"AND l_shipdate > DATE '$q3date' GROUP BY l_orderkey " +
          "ORDER BY r DESC, l_orderkey LIMIT 10",
        agg = true),
      Stmt("sql.q5",
        s"select nation.n_name, sum($rev) as revenue_cents from customer " +
          "inner join orders on customer.c_custkey = orders.o_custkey " +
          "inner join lineitem on orders.o_orderkey = lineitem.l_orderkey " +
          "inner join supplier on lineitem.l_suppkey = supplier.s_suppkey " +
          "and customer.c_nationkey = supplier.s_nationkey " +
          "inner join nation on supplier.s_nationkey = nation.n_nationkey " +
          "inner join region on nation.n_regionkey = region.r_regionkey " +
          s"where region.r_name = '$region' " +
          s"and orders.o_orderdate >= date '$q5year-01-01' " +
          s"and orders.o_orderdate < date '${q5year + 2}-01-01' " +
          "group by nation.n_name",
        s"SELECT n_name, sum($revO) FROM customer " +
          "JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey " +
          "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
          "JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
          s"WHERE r_name = '$region' AND o_orderdate >= DATE '$q5year-01-01' " +
          s"AND o_orderdate < DATE '${q5year + 2}-01-01' GROUP BY n_name",
        agg = true),
      Stmt("sql.join",
        "select orders.o_orderkey, customer.c_name, orders.o_totalprice from orders " +
          "inner join customer on orders.o_custkey = customer.c_custkey " +
          s"where customer.c_nationkey = $nation and orders.o_totalprice > $price " +
          "order by orders.o_totalprice desc, orders.o_orderkey limit 20",
        "SELECT o_orderkey, c_name, o_totalprice FROM orders " +
          s"JOIN customer ON o_custkey = c_custkey WHERE c_nationkey = $nation " +
          s"AND o_totalprice > $price ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
        agg = false),
      Stmt("sql.fts",
        "select documents.doc_id from documents " +
          s"where documents.text ~ '${words.mkString(" & ")}' " +
          s"and documents.source = '$source'",
        "SELECT doc_id FROM documents WHERE " + words.map(w =>
          s"array_contains(split(regexp_replace(lower(text), ',', ''), ' '), '$w')")
          .mkString(" AND ") + s" AND source = '$source'",
        agg = false),
      Stmt("graph.match",
        s"match (n:Nation)-[:IN]->(r:Region {r_name: '$region'}) return n",
        "SELECT concat('nation:', n_name) FROM nation " +
          s"JOIN region ON n_regionkey = r_regionkey WHERE r_name = '$region'",
        agg = false),
      Stmt("graph.match",
        s"match (s:Supplier)-[:LOCATED]->(n:Nation {n_name: 'NATION_$nation'}) return s",
        "SELECT concat('supplier:', s_suppkey) FROM supplier " +
          s"JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_$nation'",
        agg = false))
  }
}
