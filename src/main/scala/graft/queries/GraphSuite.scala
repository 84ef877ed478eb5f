package graft.queries

import org.apache.spark.sql.SparkSession
import graft.core.Tables
import graft.graph.PropertyGraph

/** Cypher/graph t2 coverage (SURVEY §2.8). The graph is built from the
  * TPC-H-ish tables (customer-IN->nation-IN->region, supplier-LOCATED->
  * nation) so every MATCH has a flat-SQL oracle: pattern matching over a
  * property graph IS a join query under Spark. RETURN emits bound node
  * names with set semantics (DISTINCT in the oracle).
  */
object GraphSuite extends Suite {

  // A deployment's graph is AT REST — MATCH queries hit materialized
  // vertex/edge tables, not a fresh 4-way union + 3 edge joins per query.
  // Memoize the built graph per (session, dir) like core/Tables.t does for
  // base tables, with localCheckpoint so vertices/edges are materialized
  // RDD blocks (plan depth 1, unaffected by spark.catalog.clearCache —
  // this is graph state, not a query-result cache).
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), PropertyGraph]

  private def g(s: SparkSession, d: String): PropertyGraph =
    cache.getOrElseUpdate((s, d),
      PropertyGraph.fromTpch(
        Tables.t(s, d, "customer"), Tables.t(s, d, "nation"),
        Tables.t(s, d, "region"), Tables.t(s, d, "supplier")).checkpointLocal())

  // The TPC-H hierarchy alone is a forest (zero triangles); the enriched
  // graph adds customer-[:BUYS]->supplier edges derived from
  // orders ⋈ lineitem (distinct pairs — one shuffle), which close
  // customer–supplier–nation triangles whenever a customer buys from a
  // supplier in its own nation. Memoized at rest like g().
  private val cacheB =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), PropertyGraph]

  private def gBuys(s: SparkSession, d: String): PropertyGraph =
    cacheB.getOrElseUpdate((s, d), {
      import org.apache.spark.sql.functions._
      val base = g(s, d)
      val buys = Tables.t(s, d, "orders")
        .join(Tables.t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("customer:"), col("o_custkey")).as("src"),
          concat(lit("supplier:"), col("l_suppkey")).as("dst"))
        .distinct() // before the map column — set ops reject MapType
        .select(col("src"), col("dst"), lit("BUYS").as("rel"),
          typedLit(Map.empty[String, String]).as("eattrs"))
      PropertyGraph(base.vertices, base.edges.unionByName(buys))
        .checkpointLocal()
    })

  def defs: Map[String, Q] = Map(

    // G4: single-hop expansion with label filters.
    "cypher_1hop" -> Q(
      (s, d) => g(s, d).query(
        "match (sup:Supplier)-[:LOCATED]->(n:Nation) return sup, n"),
      Some("""SELECT DISTINCT 'supplier:' || CAST(s_suppkey AS VARCHAR) AS sup,
             |  'nation:' || n_name AS n
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey""".stripMargin)),

    // G5: 2-hop chain — (c)-[:IN]->(n)-[:IN]->(r).
    "cypher_2hop" -> Q(
      (s, d) => g(s, d).query(
        "match (c:Customer)-[:IN]->(n:Nation)-[:IN]->(r:Region) return c, n, r"),
      Some("""SELECT DISTINCT 'customer:' || CAST(c_custkey AS VARCHAR) AS c,
             |  'nation:' || n_name AS n, 'region:' || r_name AS r
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey""".stripMargin)),

    // variable-length path (growth beyond the reference): *1..2 over the
    // IN hierarchy reaches each customer's nation (1 hop) AND its region
    // (2 hops) in one pattern — a bounded union of join chains, no
    // iterative fixpoint.
    "cypher_varlen" -> Q(
      (s, d) => g(s, d).query(
        "match (c:Customer)-[:IN*1..2]->(x) return c, x"),
      Some("""SELECT DISTINCT 'customer:' || CAST(c_custkey AS VARCHAR) AS c,
             |  'nation:' || n_name AS x
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |UNION
             |SELECT DISTINCT 'customer:' || CAST(c_custkey AS VARCHAR) AS c,
             |  'region:' || r_name AS x
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey""".stripMargin)),

    // G5: conjunctive comma-separated chains with a shared variable `n`
    // (the reference's variable-merge, client.py:978-1037, as an equi-join).
    "cypher_conjunctive" -> Q(
      (s, d) => g(s, d).query(
        "match (c:Customer)-[:IN]->(n:Nation), (sup:Supplier)-[:LOCATED]->(n:Nation) return c, sup, n"),
      Some("""SELECT DISTINCT 'customer:' || CAST(c_custkey AS VARCHAR) AS c,
             |  'supplier:' || CAST(s_suppkey AS VARCHAR) AS sup,
             |  'nation:' || n_name AS n
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN supplier ON s_nationkey = n_nationkey""".stripMargin)),

    // aggregates (growth — the reference's RETURN is projection-only):
    // Cypher implicit grouping, plain items are the keys. Aggregation
    // ranges over the DISTINCT pattern bindings — (c, n) pairs here, so
    // count(*) is customers-per-nation; numeric aggs coerce the string
    // attr via try_cast-to-long (sum/min/max of c_nationkey within a
    // nation all collapse to functions of that nation's key — exactly
    // what the oracle computes).
    "cypher_agg" -> Q(
      (s, d) => g(s, d).query(
        "match (c:Customer)-[:IN]->(n:Nation) return n, count(*), " +
          "sum(c.c_nationkey), min(c.c_nationkey), max(c.c_nationkey)"),
      Some("""SELECT 'nation:' || n_name AS n, count(*) AS cnt,
             |  CAST(sum(c_nationkey) AS BIGINT) AS sum_c_c_nationkey,
             |  min(c_nationkey) AS min_c_c_nationkey,
             |  max(c_nationkey) AS max_c_c_nationkey
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name""".stripMargin)),

    // global aggregate: no plain items → one row; the single-node chain
    // is a label scan, the count is over distinct bound nodes.
    "cypher_count" -> Q(
      (s, d) => g(s, d).query("match (c:Customer) return count(*)"),
      Some("SELECT count(*) AS cnt FROM customer")),

    // G3: attribute-map node lookup + expansion.
    "cypher_attr_lookup" -> Q(
      (s, d) => g(s, d).query(
        "match (n:Nation {name: 'nation:NATION_3'})-[:IN]->(r:Region) return n, r"),
      Some("""SELECT DISTINCT 'nation:' || n_name AS n, 'region:' || r_name AS r
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |WHERE n_name = 'NATION_3'""".stripMargin)),

    // G4 reverse edge: <-[:IN]- reads customer-IN->nation right-to-left
    // (reference direction bookkeeping, client.py:805-816).
    "cypher_reverse" -> Q(
      (s, d) => g(s, d).query(
        "match (n:Nation)<-[:IN]-(c:Customer) return c, n"),
      Some("""SELECT DISTINCT 'customer:' || CAST(c_custkey AS VARCHAR) AS c,
             |  'nation:' || n_name AS n
             |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin)),

    // G4 undirected edge: -[:IN]- matches either orientation, so an
    // unconstrained neighbor of a Nation is a Customer (incoming IN) or a
    // Region (outgoing IN).
    "cypher_undirected" -> Q(
      (s, d) => g(s, d).query(
        "match (n:Nation)-[:IN]-(x) return n, x"),
      Some("""SELECT DISTINCT 'nation:' || n_name AS n, 'region:' || r_name AS x
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |UNION
             |SELECT DISTINCT 'nation:' || n_name AS n,
             |  'customer:' || CAST(c_custkey AS VARCHAR) AS x
             |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin)),

    // G6 attribute RETURN: project attr values off the bound nodes
    // (client.py:1201-1219 returns node dicts; here n.n_name → column
    // n_n_name), mixed with a plain node return.
    "cypher_return_attr" -> Q(
      (s, d) => g(s, d).query(
        "match (c:Customer)-[:IN]->(n:Nation) return c.c_mktsegment, n.n_name"),
      Some("""SELECT DISTINCT c_mktsegment AS c_c_mktsegment, n_name AS n_n_name
             |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin)),

    // G3 attribute-map filter on a non-name attribute + attr projection.
    "cypher_attr_filter" -> Q(
      (s, d) => g(s, d).query(
        "match (c:Customer {c_mktsegment: 'BUILDING'})-[:IN]->(n:Nation) return c, n.n_name"),
      Some("""SELECT DISTINCT 'customer:' || CAST(c_custkey AS VARCHAR) AS c,
             |  n_name AS n_n_name
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE c_mktsegment = 'BUILDING'""".stripMargin)),

    // WHERE clause (growth — the reference grammar has no WHERE,
    // cypher.py): inequality/range predicates over bound-node attributes,
    // compiled to post-bind filters Catalyst pushes into the vertex scan.
    // Numeric literals compare numerically (attr string casts to long —
    // HashQL's coercion rule), quoted ones as strings.
    "cypher_where" -> Q(
      (s, d) => g(s, d).query(
        "match (c:Customer)-[:IN]->(n:Nation) " +
          "where c.c_nationkey >= 20 and c.c_nationkey < 23 and c.c_mktsegment = 'BUILDING' " +
          "return c, n.n_name"),
      Some("""SELECT DISTINCT 'customer:' || CAST(c_custkey AS VARCHAR) AS c,
             |  n_name AS n_n_name
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE c_nationkey >= 20 AND c_nationkey < 23
             |  AND c_mktsegment = 'BUILDING'""".stripMargin)),

    // boolean WHERE structure (growth²): AND over OR, parens
    // distributing over a conjunct, and NOT — both precedence shapes in
    // one statement, HashQL's hashql_or on the graph surface.
    "cypher_where_or" -> Q(
      (s, d) => g(s, d).query(
        "match (c:Customer)-[:IN]->(n:Nation) " +
          "where (c.c_nationkey = 3 or c.c_nationkey = 21) " +
          "and not c.c_mktsegment = 'BUILDING' " +
          "or c.c_nationkey >= 23 " +
          "return c, n.n_name"),
      Some("""SELECT DISTINCT 'customer:' || CAST(c_custkey AS VARCHAR) AS c,
             |  n_name AS n_n_name
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE (c_nationkey = 3 OR c_nationkey = 21)
             |  AND NOT c_mktsegment = 'BUILDING'
             |  OR c_nationkey >= 23""".stripMargin)),

    // ORDER BY + LIMIT (growth, the HashQL hashql_topk ask on the graph
    // surface): sort keys address RETURN output columns; plans
    // TakeOrderedAndProject (per-partition top-k + driver merge, no global
    // sort — CypherSpec plan assertion). Tie-broken on the unique c_name
    // so the kept set is deterministic and hash-checkable.
    // WITH pipeline (round-7 growth — Cypher's multi-stage idiom, absent
    // from the reference grammar): stage 1 counts customers per nation
    // (implicit grouping over distinct bindings), the post-WITH WHERE is
    // the graph HAVING, stage 2 re-binds n and hops to its region. The
    // pipe is a summary ⋈ pattern equi-join — group-sized left side, so
    // at scale Catalyst broadcasts it like any dimension.
    "cypher_with" -> Q(
      (s, d) => g(s, d).query(
        "match (c:Customer)-[:IN]->(n:Nation) with n, count(*) as nc " +
          "where nc > 60 match (n)-[:IN]->(r:Region) return n.n_name, nc, r"),
      Some("""WITH agg AS (
             |  SELECT 'nation:' || n_name AS n, count(*) AS nc
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  GROUP BY 1)
             |SELECT DISTINCT n_name AS n_n_name, nc, 'region:' || r_name AS r
             |FROM agg JOIN nation ON agg.n = 'nation:' || n_name
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE nc > 60""".stripMargin)),

    // WITH attribute passthrough (round-10 growth — the r9 verdict's
    // missing #4): a piped bare variable serves `v.attr` downstream by
    // one vertices join — the WHERE on c.c_nationkey and the RETURN of
    // c.c_mktsegment never projected those attrs in the WITH.
    "cypher_with_attr" -> Q(
      (s, d) => g(s, d).query(
        "match (c:Customer)-[:IN]->(n:Nation) with c, n " +
          "match (n)-[:IN]->(r:Region) where c.c_nationkey >= 10 " +
          "return c.c_mktsegment, r"),
      Some("""SELECT DISTINCT c_mktsegment AS c_c_mktsegment,
             |  'region:' || r_name AS r
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE c_nationkey >= 10""".stripMargin)),

    // UNWIND (round-10 growth): a literal identity list anchors the
    // pattern — the broadcast-probe lookup idiom.
    "cypher_unwind" -> Q(
      (s, d) => g(s, d).query(
        "unwind ['nation:NATION_3', 'nation:NATION_7', 'nation:NOWHERE'] as n " +
          "match (n)-[:IN]->(r:Region) return n, r"),
      Some("""SELECT DISTINCT 'nation:' || n_name AS n,
             |  'region:' || r_name AS r
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |WHERE n_name IN ('NATION_3', 'NATION_7')""".stripMargin)),

    // collect → UNWIND round trip (round-11 growth): collect gathers the
    // group's distinct customers into a sorted list, the pipeline UNWIND
    // explodes it back under a new alias with `n` still in scope — the
    // re-expansion identity (distinct (n, customer) pairs back out).
    "cypher_unwind_piped" -> Q(
      (s, d) => g(s, d).query(
        "match (c:Customer)-[:IN]->(n:Nation) where c.c_nationkey <= 2 " +
          "with n, collect(c) as cs unwind cs as cust return n, cust"),
      Some("""SELECT DISTINCT 'nation:' || n_name AS n,
             |  'customer:' || c_custkey AS cust
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE c_nationkey <= 2""".stripMargin)),

    // chained WITH stages: per-nation counts re-aggregated per region —
    // sum over a bare piped column (`sum(nc)`), the rollup shape.
    "cypher_with_chain" -> Q(
      (s, d) => g(s, d).query(
        "match (c:Customer)-[:IN]->(n:Nation) with n, count(*) as nc " +
          "match (n)-[:IN]->(r:Region) with r, sum(nc) as customers " +
          "return r, customers"),
      Some("""SELECT 'region:' || r_name AS r,
             |  CAST(count(*) AS BIGINT) AS customers
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY 1""".stripMargin)),

    // WITH ORDER BY/LIMIT (round-7 growth): the top-k pipeline — keep
    // the 5 biggest nations by customer count (tie-broken on the unique
    // n so the kept set is deterministic), then hop each to its region.
    // Plans TakeOrderedAndProject for the stage: per-partition top-k +
    // driver merge, no global sort.
    "cypher_with_topk" -> Q(
      (s, d) => g(s, d).query(
        "match (c:Customer)-[:IN]->(n:Nation) with n, count(*) as nc " +
          "order by nc desc, n limit 5 " +
          "match (n)-[:IN]->(r:Region) return n, nc, r"),
      Some("""WITH agg AS (
             |  SELECT 'nation:' || n_name AS n, count(*) AS nc
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  GROUP BY 1),
             |top AS (SELECT n, nc FROM agg ORDER BY nc DESC, n LIMIT 5)
             |SELECT DISTINCT top.n AS n, nc, 'region:' || r_name AS r
             |FROM top JOIN nation ON top.n = 'nation:' || n_name
             |JOIN region ON n_regionkey = r_regionkey""".stripMargin)),

    "cypher_topk" -> Q(
      (s, d) => g(s, d).query(
        "match (c:Customer)-[:IN]->(n:Nation) " +
          "return c.c_name, n.n_name order by c.c_name desc limit 10"),
      Some("""SELECT c_name AS c_c_name, n_name AS n_n_name
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |ORDER BY c_name DESC LIMIT 10""".stripMargin)),

    // OPTIONAL MATCH (growth — left-outer pattern semantics): every
    // Region keeps its row; only NATION_3's region binds n, the rest
    // project NULL. The optional group left-joins onto the mandatory
    // bindings on the shared variable r.
    "cypher_optional" -> Q(
      (s, d) => g(s, d).query(
        "match (r:Region) optional match " +
          "(n:Nation {name: 'nation:NATION_3'})-[:IN]->(r) return r, n"),
      Some("""SELECT DISTINCT 'region:' || r_name AS r,
             |  CASE WHEN x.n_name IS NULL THEN NULL
             |       ELSE 'nation:' || x.n_name END AS n
             |FROM region LEFT JOIN
             |  (SELECT * FROM nation WHERE n_name = 'NATION_3') x
             |  ON x.n_regionkey = r_regionkey""".stripMargin)),

    // OPTIONAL MATCH + aggregate: suppliers-per-nation INCLUDING the
    // zero-supplier nations (count skips the NULLs of unmatched rows) —
    // the canonical left-join-then-count Cypher idiom a plain MATCH
    // cannot express.
    "cypher_optional_count" -> Q(
      (s, d) => g(s, d).query(
        "match (n:Nation) optional match (sup:Supplier)-[:LOCATED]->(n) " +
          "return n, count(sup)"),
      Some("""SELECT 'nation:' || n_name AS n, count(s_suppkey) AS count_sup
             |FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
             |GROUP BY n_name""".stripMargin)),

    // DETACH DELETE (growth): drop the nations of EUROPE and every
    // incident edge; the follow-up MATCH proves both the nodes and the
    // customer-IN edges are gone (an orphaned edge would still bind).
    "cypher_detach_delete" -> Q(
      (s, d) => g(s, d)
        .execute("match (n:Nation)-[:IN]->(r:Region {name: 'region:EUROPE'}) " +
          "detach delete n")
        .query("match (c:Customer)-[:IN]->(n:Nation) return c, n"),
      Some("""SELECT DISTINCT 'customer:' || CAST(c_custkey AS VARCHAR) AS c,
             |  'nation:' || n_name AS n
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name <> 'EUROPE'""".stripMargin)),

    // SET (growth): stamp a new attribute on the matched nations, then
    // range over it with WHERE — proves the upsert lands scan-visible
    // (map_filter + map_concat surgery, no explode) and only on the
    // matched node set.
    "cypher_set" -> Q(
      (s, d) => g(s, d)
        .execute("match (n:Nation)-[:IN]->(r:Region {name: 'region:EUROPE'}) " +
          "set n.zone = 'euro'")
        .query("match (n:Nation) where n.zone = 'euro' return n, n.zone"),
      Some("""SELECT DISTINCT 'nation:' || n_name AS n, 'euro' AS n_zone
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'EUROPE'""".stripMargin)),

    // G1 attr-map MERGE identity (round-3 gap): nodes merged WITHOUT a
    // 'name' attribute — identity is the full attribute map, the
    // reference's general MERGE semantics (client.py:841-889). One region
    // is re-merged (must be a no-op on the SAME node) and the RETURN
    // projects the attribute back off the merge-created nodes.
    "cypher_merge_attrs" -> Q(
      (s, d) => {
        val names = Tables.t(s, d, "region").select("r_name")
          .collect().map(_.getString(0)).sorted // 5-row dim: driver-side ok
        val g0 = PropertyGraph.empty(s)
        val g1 = names.foldLeft(g0)((g, n) =>
          g.merge(s"merge (r:Region {'r_name': '$n'})"))
        val g2 = g1.merge(s"merge (r:Region {'r_name': '${names.head}'})") // no-op
        g2.query("match (r:Region) return r.r_name")
      },
      Some("SELECT DISTINCT r_name AS r_r_name FROM region")),

    // EDGE PROPERTIES (growth beyond the reference, whose edges are bare
    // adjacency bits — client.py:805-816): MERGE stores an attr map on
    // each nation-IN->region edge, a re-merge with DIFFERENT attrs is a
    // no-op (existing edge's properties win, mirroring node identity),
    // and MATCH binds the edge to a variable whose attr RETURNs as e_link.
    "cypher_edge_attrs" -> Q(
      (s, d) => {
        val names = Tables.t(s, d, "region").select("r_name")
          .collect().map(_.getString(0)).sorted // 5-row dim: driver-side ok
        // 5 statements (each MERGE probes, then appends its absent
        // identities — keep the statement stream short like cypher_merge_*;
        // bulk ingest goes through DataFrames, not statement folds)
        val g1 = names.foldLeft(PropertyGraph.empty(s)) { (g, r) =>
          g.merge(s"merge (r:Region {'name': '$r'})" +
            s"-[:IN {'link': '$r->world'}]->(w:World {'name': 'world'})")
        }
        // re-merge the first edge with a DIFFERENT property value — the
        // stored properties must win (idempotent upsert)
        val g2 = g1.merge(s"merge (r:Region {'name': '${names.head}'})" +
          s"-[:IN {'link': 'CLOBBERED'}]->(w:World {'name': 'world'})")
        g2.query("match (r:Region)-[e:IN]->(w:World) return r, e.link, w")
      },
      Some("""SELECT DISTINCT r_name AS r, r_name || '->world' AS e_link,
             |  'world' AS w
             |FROM region""".stripMargin)),

    // G1/G2 MERGE round-trip: merge the 5 regions (idempotently — one is
    // merged twice) into an empty graph, then MATCH them back.
    "cypher_merge_match" -> Q(
      (s, d) => {
        val names = Tables.t(s, d, "region").select("r_name")
          .collect().map(_.getString(0)).sorted // 5-row dim: driver-side ok
        val g0 = PropertyGraph.empty(s)
        val g1 = names.foldLeft(g0)((g, n) =>
          g.merge(s"merge (r:Region {'name': '$n'})"))
        val g2 = g1.merge(s"merge (r:Region {'name': '${names.head}'})") // no-op
        g2.query("match (r:Region) return r")
      },
      Some("SELECT DISTINCT r_name AS r FROM region")),

    // graph analytics (growth): connected components over the undirected
    // IN+LOCATED edges — each region's customer/nation/supplier tree is
    // one component; representative = min reachable node name
    // (Dedup.clusters' contract, so dedup and graph share ONE closure
    // implementation and ONE oracle convention — the recursive-CTE
    // closure mirrors clustersOracle).
    "graph_cc" -> Q(
      (s, d) => g(s, d).connectedComponents(),
      Some("""WITH RECURSIVE
             |v AS (SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node FROM customer
             |  UNION ALL SELECT 'nation:' || n_name FROM nation
             |  UNION ALL SELECT 'region:' || r_name FROM region
             |  UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR) FROM supplier),
             |jp AS (SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS a,
             |         'nation:' || n_name AS b
             |       FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  UNION ALL SELECT 'nation:' || n_name, 'region:' || r_name
             |       FROM nation JOIN region ON n_regionkey = r_regionkey
             |  UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR),
             |         'nation:' || n_name
             |       FROM supplier JOIN nation ON s_nationkey = n_nationkey),
             |edges AS (SELECT a AS u, b AS v FROM jp
             |  UNION SELECT b, a FROM jp
             |  UNION SELECT node, node FROM v),
             |reach(u, w) AS (
             |  SELECT u, v FROM edges
             |  UNION
             |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.w = e.u)
             |SELECT u AS node, min(w) AS rep FROM reach GROUP BY u""".stripMargin)),

    // graph analytics (growth): PageRank in exact integer fixed-point —
    // contrib = rank div outdeg, rank' = 150000 + (85·Σcontrib) div 100
    // at scale 10^6. Integer sums commute, so even the ITERATED ranks
    // hash-match across engines (float pagerank could not).
    // weighted PageRank (round-7 growth): BUYS edges weighted by the
    // customer-supplier LINE count — contrib = (rank·w) div Σw, still
    // exact integer fixed-point, so the iterated ranks hash-match the
    // SQL mirror; hierarchy edges default to w = 1 through the coalesce.
    "graph_pagerank_weighted" -> Q(
      (s, d) => {
        import org.apache.spark.sql.functions.{coalesce, element_at, lit}
        gBuysWeighted(s, d).pageRank(iters = 1,
          weight = Some(coalesce(
            element_at(org.apache.spark.sql.functions.col("eattrs"), "w")
              .cast("long"), lit(1L))))
      },
      Some("""WITH
             |v AS (SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node FROM customer
             |  UNION ALL SELECT 'nation:' || n_name FROM nation
             |  UNION ALL SELECT 'region:' || r_name FROM region
             |  UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR) FROM supplier),
             |e AS (SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS src,
             |        'nation:' || n_name AS dst, CAST(1 AS BIGINT) AS w
             |      FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  UNION ALL SELECT 'nation:' || n_name, 'region:' || r_name, 1
             |      FROM nation JOIN region ON n_regionkey = r_regionkey
             |  UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR),
             |        'nation:' || n_name, 1
             |      FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |  UNION ALL SELECT 'customer:' || CAST(o_custkey AS VARCHAR),
             |        'supplier:' || CAST(l_suppkey AS VARCHAR),
             |        CAST(count(*) AS BIGINT)
             |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |      GROUP BY o_custkey, l_suppkey),
             |ow AS (SELECT src, sum(w) AS wsum FROM e GROUP BY src),
             |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM v),
             |c1 AS (SELECT e.dst AS node,
             |         CAST(sum((r.rank * e.w) // o.wsum) AS BIGINT) AS cin
             |       FROM e JOIN r0 r ON e.src = r.node
             |       JOIN ow o ON e.src = o.src GROUP BY e.dst)
             |SELECT v.node,
             |  CAST(150000 + (85 * coalesce(c.cin, 0)) // 100 AS BIGINT) AS rank
             |FROM v LEFT JOIN c1 c ON v.node = c.node""".stripMargin)),

    "graph_pagerank" -> Q(
      (s, d) => g(s, d).pageRank(iters = 2),
      Some("""WITH
             |v AS (SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node FROM customer
             |  UNION ALL SELECT 'nation:' || n_name FROM nation
             |  UNION ALL SELECT 'region:' || r_name FROM region
             |  UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR) FROM supplier),
             |e AS (SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS src,
             |        'nation:' || n_name AS dst
             |      FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  UNION ALL SELECT 'nation:' || n_name, 'region:' || r_name
             |      FROM nation JOIN region ON n_regionkey = r_regionkey
             |  UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR),
             |        'nation:' || n_name
             |      FROM supplier JOIN nation ON s_nationkey = n_nationkey),
             |od AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
             |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM v),
             |c1 AS (SELECT e.dst AS node,
             |         CAST(sum(r.rank // o.odeg) AS BIGINT) AS cin
             |       FROM e JOIN r0 r ON e.src = r.node
             |       JOIN od o ON e.src = o.src GROUP BY e.dst),
             |r1 AS (SELECT v.node,
             |         CAST(150000 + (85 * coalesce(c.cin, 0)) // 100 AS BIGINT) AS rank
             |       FROM v LEFT JOIN c1 c ON v.node = c.node),
             |c2 AS (SELECT e.dst AS node,
             |         CAST(sum(r.rank // o.odeg) AS BIGINT) AS cin
             |       FROM e JOIN r1 r ON e.src = r.node
             |       JOIN od o ON e.src = o.src GROUP BY e.dst),
             |r2 AS (SELECT v.node,
             |         CAST(150000 + (85 * coalesce(c.cin, 0)) // 100 AS BIGINT) AS rank
             |       FROM v LEFT JOIN c2 c ON v.node = c.node)
             |SELECT node, rank FROM r2""".stripMargin)),

    // personalized PageRank (growth): all teleport mass at customer:1 —
    // integer fixed-point, 2 unrolled iterations hash-checked like
    // graph_pagerank. Ranks measure directed proximity to the source.
    "graph_ppr" -> Q(
      (s, d) => g(s, d).personalizedPageRank("customer:1", iters = 2),
      Some("""WITH
             |v AS (SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node FROM customer
             |  UNION ALL SELECT 'nation:' || n_name FROM nation
             |  UNION ALL SELECT 'region:' || r_name FROM region
             |  UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR) FROM supplier),
             |e AS (SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS src,
             |        'nation:' || n_name AS dst
             |      FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  UNION ALL SELECT 'nation:' || n_name, 'region:' || r_name
             |      FROM nation JOIN region ON n_regionkey = r_regionkey
             |  UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR),
             |        'nation:' || n_name
             |      FROM supplier JOIN nation ON s_nationkey = n_nationkey),
             |od AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
             |r0 AS (SELECT node,
             |         CAST(CASE WHEN node = 'customer:1' THEN 1000000 ELSE 0 END
             |           AS BIGINT) AS rank FROM v),
             |c1 AS (SELECT e.dst AS node,
             |         CAST(sum(r.rank // o.odeg) AS BIGINT) AS cin
             |       FROM e JOIN r0 r ON e.src = r.node
             |       JOIN od o ON e.src = o.src GROUP BY e.dst),
             |r1 AS (SELECT v.node,
             |         CAST(CASE WHEN v.node = 'customer:1' THEN 150000 ELSE 0 END
             |           + (85 * coalesce(c.cin, 0)) // 100 AS BIGINT) AS rank
             |       FROM v LEFT JOIN c1 c ON v.node = c.node),
             |c2 AS (SELECT e.dst AS node,
             |         CAST(sum(r.rank // o.odeg) AS BIGINT) AS cin
             |       FROM e JOIN r1 r ON e.src = r.node
             |       JOIN od o ON e.src = o.src GROUP BY e.dst),
             |r2 AS (SELECT v.node,
             |         CAST(CASE WHEN v.node = 'customer:1' THEN 150000 ELSE 0 END
             |           + (85 * coalesce(c.cin, 0)) // 100 AS BIGINT) AS rank
             |       FROM v LEFT JOIN c2 c ON v.node = c.node)
             |SELECT node, rank FROM r2""".stripMargin)),

    // Per-node triangle counts (growth) over the BUYS-enriched graph: a
    // triangle is customer–supplier–nation when the customer bought from
    // a same-nation supplier. The oracle mirrors the oriented-wedge
    // construction in plain SQL: orient min→max, wedge on the common
    // lowest endpoint, close against the edge list, explode corners.
    "graph_triangles" -> Q(
      (s, d) => gBuys(s, d).triangleCounts(),
      Some("""WITH v AS (
             |  SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node FROM customer
             |  UNION ALL SELECT 'nation:' || n_name FROM nation
             |  UNION ALL SELECT 'region:' || r_name FROM region
             |  UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR) FROM supplier),
             |raw AS (SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS a,
             |         'nation:' || n_name AS b
             |       FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  UNION ALL SELECT 'nation:' || n_name, 'region:' || r_name
             |       FROM nation JOIN region ON n_regionkey = r_regionkey
             |  UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR),
             |         'nation:' || n_name
             |       FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |  UNION ALL SELECT DISTINCT
             |         'customer:' || CAST(o_custkey AS VARCHAR),
             |         'supplier:' || CAST(l_suppkey AS VARCHAR)
             |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
             |      FROM raw WHERE a <> b),
             |w AS (SELECT e1.u, e1.v AS x, e2.v AS y
             |      FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v),
             |t AS (SELECT w.u, w.x, w.y
             |      FROM w JOIN e ON e.u = w.x AND e.v = w.y),
             |n AS (SELECT unnest([u, x, y]) AS node FROM t),
             |c AS (SELECT node, count(*) AS n_tri FROM n GROUP BY 1)
             |SELECT v.node, CAST(coalesce(c.n_tri, 0) AS BIGINT) AS n_tri
             |FROM v LEFT JOIN c USING (node)""".stripMargin)),

    // k-core decomposition (growth): the k=10 core of the BUYS-enriched
    // graph with in-core degrees. The oracle unrolls the peel to 6
    // rounds — the fixture reaches its fixpoint in ≤ 3 at every driver
    // SF (extra rounds are no-ops, matching the engine's early exit).
    "graph_kcore" -> Q(
      (s, d) => gBuys(s, d).kCore(k = 10),
      Some {
        val rounds = (1 to 6).map { i =>
          s"""r$i AS (SELECT d.a AS node FROM d
             |  WHERE d.a IN (SELECT node FROM r${i - 1})
             |    AND d.b IN (SELECT node FROM r${i - 1})
             |  GROUP BY d.a HAVING count(*) >= 10)""".stripMargin
        }.mkString(",\n")
        s"""WITH raw AS (SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS a,
           |         'nation:' || n_name AS b
           |       FROM customer JOIN nation ON c_nationkey = n_nationkey
           |  UNION ALL SELECT 'nation:' || n_name, 'region:' || r_name
           |       FROM nation JOIN region ON n_regionkey = r_regionkey
           |  UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR),
           |         'nation:' || n_name
           |       FROM supplier JOIN nation ON s_nationkey = n_nationkey
           |  UNION ALL SELECT DISTINCT
           |         'customer:' || CAST(o_custkey AS VARCHAR),
           |         'supplier:' || CAST(l_suppkey AS VARCHAR)
           |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
           |      FROM raw WHERE a <> b),
           |d AS (SELECT u AS a, v AS b FROM e
           |      UNION ALL SELECT v AS a, u AS b FROM e),
           |r0 AS (SELECT DISTINCT a AS node FROM d),
           |$rounds
           |SELECT d.a AS node, CAST(count(*) AS BIGINT) AS deg FROM d
           |WHERE d.a IN (SELECT node FROM r6)
           |  AND d.b IN (SELECT node FROM r6)
           |GROUP BY d.a""".stripMargin
      }),

    // k-truss (growth): edges of the BUYS-enriched graph closing ≥ 1
    // triangle inside the truss (k=3), with in-truss supports. The
    // oracle unrolls 4 peel rounds (fixture fixpoint ≤ 2 at every SF).
    "graph_ktruss" -> Q(
      (s, d) => gBuys(s, d).kTruss(k = 3),
      Some {
        // AS MATERIALIZED everywhere a CTE is referenced more than once:
        // without it DuckDB inlines each reference and the 4 unrolled
        // rounds re-evaluate the whole chain 3^4 times (observed as a
        // file-handle explosion on the base scans)
        def round(cur: String, out: String): String =
          s"""$out AS MATERIALIZED (
             |  WITH w AS (SELECT e1.u, e1.v AS x, e2.v AS y FROM $cur e1
             |             JOIN $cur e2 ON e1.u = e2.u AND e1.v < e2.v),
             |  t AS MATERIALIZED (SELECT w.u, w.x, w.y FROM w
             |        JOIN $cur e ON e.u = w.x AND e.v = w.y),
             |  te AS (SELECT u AS a, x AS b FROM t
             |    UNION ALL SELECT u, y FROM t UNION ALL SELECT x, y FROM t),
             |  s AS (SELECT a, b, count(*) AS sup FROM te GROUP BY 1, 2)
             |  SELECT c.u, c.v, s.sup FROM $cur c
             |  JOIN s ON s.a = c.u AND s.b = c.v WHERE s.sup >= 1)"""
            .stripMargin
        val rounds = (1 to 4).map(i =>
          round(s"t${i - 1}", s"t$i")).mkString(",\n")
        s"""WITH raw AS (SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS a,
           |         'nation:' || n_name AS b
           |       FROM customer JOIN nation ON c_nationkey = n_nationkey
           |  UNION ALL SELECT 'nation:' || n_name, 'region:' || r_name
           |       FROM nation JOIN region ON n_regionkey = r_regionkey
           |  UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR),
           |         'nation:' || n_name
           |       FROM supplier JOIN nation ON s_nationkey = n_nationkey
           |  UNION ALL SELECT DISTINCT
           |         'customer:' || CAST(o_custkey AS VARCHAR),
           |         'supplier:' || CAST(l_suppkey AS VARCHAR)
           |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |t0 AS MATERIALIZED (
           |       SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
           |       FROM raw WHERE a <> b),
           |$rounds
           |SELECT u, v, CAST(sup AS BIGINT) AS support FROM t4""".stripMargin
      }),

    // BFS shortest-path distances (growth): 2 undirected hops out of
    // region:EUROPE — the region at 0, its nations at 1, their customers
    // and suppliers at 2. The oracle is a depth-bounded recursive CTE
    // taking min(d) per node; the engine's frontier expansion must agree
    // hop for hop.
    "graph_bfs" -> Q(
      (s, d) => g(s, d).bfsDistances("region:EUROPE", maxHops = 2),
      Some("""WITH RECURSIVE
             |jp AS (SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS a,
             |         'nation:' || n_name AS b
             |       FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  UNION ALL SELECT 'nation:' || n_name, 'region:' || r_name
             |       FROM nation JOIN region ON n_regionkey = r_regionkey
             |  UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR),
             |         'nation:' || n_name
             |       FROM supplier JOIN nation ON s_nationkey = n_nationkey),
             |ed AS (SELECT a AS u, b AS v FROM jp UNION SELECT b, a FROM jp),
             |reach(node, d) AS (
             |  SELECT 'region:' || r_name, 0 FROM region WHERE r_name = 'EUROPE'
             |  UNION
             |  SELECT e.v, r.d + 1 FROM reach r JOIN ed e ON r.node = e.u
             |  WHERE r.d < 2)
             |SELECT node, CAST(min(d) AS BIGINT) AS dist
             |FROM reach GROUP BY node""".stripMargin)),

    // Cypher shortestPath (growth — Neo4j's anchored form): min-hop
    // distance from the EUROPE region to everything within 2 undirected
    // IN hops — its nations at 1, their customers at 2 (LOCATED edges
    // excluded by the rel type). length(p) rides out as p_length.
    "cypher_shortest_path" -> Q(
      (s, d) => g(s, d).query(
        "match p = shortestPath((r:Region {name: 'region:EUROPE'})" +
          "-[:IN*1..2]-(b)) return b, length(p)"),
      Some("""WITH RECURSIVE
             |jp AS (SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS a,
             |         'nation:' || n_name AS b
             |       FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  UNION ALL SELECT 'nation:' || n_name, 'region:' || r_name
             |       FROM nation JOIN region ON n_regionkey = r_regionkey),
             |ed AS (SELECT a AS u, b AS v FROM jp UNION SELECT b, a FROM jp),
             |reach(node, d) AS (
             |  SELECT 'region:' || r_name, 0 FROM region WHERE r_name = 'EUROPE'
             |  UNION
             |  SELECT e.v, r.d + 1 FROM reach r JOIN ed e ON r.node = e.u
             |  WHERE r.d < 2)
             |SELECT node AS b, CAST(min(d) AS BIGINT) AS p_length
             |FROM reach GROUP BY node HAVING min(d) >= 1""".stripMargin)),

    // WEIGHTED shortest paths (growth — Bellman-Ford supersteps): minimum
    // total line-item count over ≤ 4 undirected BUYS hops out of
    // customer:1. Weights live on the edges as properties (eattrs.w),
    // exercising the property-graph weight path end-to-end; integer
    // weights keep distances hash-exact. The oracle UNROLLS the four
    // relaxation rounds (min per node per round) — linear in rounds,
    // immune to the path blowup a recursive path-enumeration CTE hits on
    // dense bipartite graphs.
    "graph_sssp" -> Q(
      (s, d) => {
        import org.apache.spark.sql.functions._
        gBuysWeighted(s, d).ssspDistances("customer:1", maxHops = 4,
          weight = element_at(col("eattrs"), "w").cast("long"),
          rels = Seq("BUYS"))
      },
      Some {
        val rounds = (1 to 4).map { r =>
          s"""r$r AS (SELECT node, min(dist) AS dist FROM (
             |  SELECT node, dist FROM r${r - 1}
             |  UNION ALL
             |  SELECT und.v AS node, r${r - 1}.dist + und.w AS dist
             |  FROM r${r - 1} JOIN und ON r${r - 1}.node = und.u)
             |GROUP BY node)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS (SELECT 'customer:' || CAST(o_custkey AS VARCHAR) AS u,
           |        'supplier:' || CAST(l_suppkey AS VARCHAR) AS v,
           |        count(*) AS w
           |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |      GROUP BY 1, 2),
           |und AS (SELECT u, v, w FROM e0 UNION ALL SELECT v, u, w FROM e0),
           |r0 AS (SELECT 'customer:1' AS node, CAST(0 AS BIGINT) AS dist),
           |$rounds
           |SELECT node, dist FROM r4""".stripMargin
      })
  )

  // Weighted twin of gBuys: BUYS edges carry their line-item count as the
  // edge property `w` (an integer — the weight ssspDistances reads).
  // Memoized at rest like the others.
  private val cacheW =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), PropertyGraph]

  private def gBuysWeighted(s: SparkSession, d: String): PropertyGraph =
    cacheW.getOrElseUpdate((s, d), {
      import org.apache.spark.sql.functions._
      val base = g(s, d)
      val buys = Tables.t(s, d, "orders")
        .join(Tables.t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(concat(lit("customer:"), col("o_custkey")).as("src"),
          concat(lit("supplier:"), col("l_suppkey")).as("dst"))
        .agg(count(lit(1)).as("w"))
        .select(col("src"), col("dst"), lit("BUYS").as("rel"),
          map(lit("w"), col("w").cast("string")).as("eattrs"))
      PropertyGraph(base.vertices, base.edges.unionByName(buys))
        .checkpointLocal()
    })
}
