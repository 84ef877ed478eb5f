package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.core.{GraftCatalog, Tables}
import graft.sql.HashQL

/** The reference's SQL dialect end-to-end (SURVEY §3.1): dialect strings →
  * HashQL parse → DataFrame plans, oracle-checked against ANSI SQL.
  * The insert/update/create-join queries replay the exact scenario of
  * /root/reference/example.py:73-238 (people/items/products/reviews) with
  * literal-VALUES oracles — the reference's own smoke outputs, asserted.
  */
object HashqlSuite extends Suite {

  private def tpchCat(s: SparkSession, d: String): GraftCatalog = {
    val cat = new GraftCatalog(s)
    Tables.names.foreach(n => cat.register(n, Tables.t(s, d, n)))
    cat
  }

  private def run(s: SparkSession, d: String, sql: String): DataFrame =
    HashQL.execute(tpchCat(s, d), sql).get

  // one materialized create-join per (session, dir) — see hashql_select_routed
  private val routedReg = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), HashQL.JoinRegistry]

  /** example.py:86-132 replay: 4 people inserted, Sam's age updated. */
  private def peopleCat(s: SparkSession): GraftCatalog = {
    val cat = new GraftCatalog(s)
    Seq("insert into people (people_name, age) values ('Ted', 29)",
      "insert into people (people_name, age) values ('Fred', 45)",
      "insert into people (people_name, age) values ('Simon', 29)",
      "insert into people (people_name, age) values ('Sam', 29)")
      .foreach(HashQL.execute(cat, _))
    cat
  }

  def defs: Map[String, Q] = {
    val entries: Seq[(String, Q)] = Seq(

    "hashql_select_filter" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_name from customer " +
          "where customer.c_mktsegment = 'BUILDING' and customer.c_nationkey = 3"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_mktsegment = 'BUILDING' AND c_nationkey = 3""".stripMargin)),

    // comparison predicates (dialect growth beyond the reference's = and
    // ~): numeric < > <= >= with the same Long coercion as equality.
    "hashql_compare" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_nationkey from customer " +
          "where customer.c_nationkey >= 20 and customer.c_nationkey < 23"),
      Some("""SELECT c_custkey, c_nationkey FROM customer
             |WHERE c_nationkey >= 20 AND c_nationkey < 23""".stripMargin)),

    // OR + parentheses (dialect growth: the reference's WHERE is a flat
    // AND chain, server.py:456-476). Standard precedence — AND binds
    // tighter than OR — and the parenthesized disjunction distributes over
    // the conjunct, both shapes in one statement.
    "hashql_or" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_nationkey from customer " +
          "where (customer.c_nationkey = 3 or customer.c_nationkey = 7) " +
          "and customer.c_acctbal >= 0 or customer.c_nationkey = 21"),
      Some("""SELECT c_custkey, c_nationkey FROM customer
             |WHERE (c_nationkey = 3 OR c_nationkey = 7) AND c_acctbal >= 0
             |   OR c_nationkey = 21""".stripMargin)),

    // IN list: member equality with the dialect's numeric coercion.
    "hashql_in" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, orders.o_orderpriority from orders " +
          "where orders.o_orderpriority in ('1-URGENT', '5-LOW')"),
      Some("""SELECT o_orderkey, o_orderpriority FROM orders
             |WHERE o_orderpriority IN ('1-URGENT', '5-LOW')""".stripMargin)),

    // SAMPLE clause (dialect growth): deterministic arithBucket sampling
    // as dialect syntax — reproducible TABLESAMPLE, composed with WHERE.
    "hashql_sample" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, orders.o_orderpriority from orders " +
          "sample 250 permille by orders.o_orderkey " +
          "where orders.o_orderpriority = '1-URGENT'"),
      Some(s"""SELECT o_orderkey, o_orderpriority FROM orders
              |WHERE ${graft.llm.Sampling.arithSampleSql("o_orderkey", 250)}
              |  AND o_orderpriority = '1-URGENT'""".stripMargin)),

    // window functions (dialect growth): row_number per nation ordered
    // by key — the dedup-rank/top-n-per-group building block.
    "hashql_win_rownumber" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_nationkey, " +
          "row_number() over (partition by customer.c_nationkey " +
          "order by customer.c_custkey) from customer"),
      Some("""SELECT c_custkey, c_nationkey,
             |  CAST(row_number() OVER (PARTITION BY c_nationkey
             |       ORDER BY c_custkey) AS INTEGER) AS rn
             |FROM customer""".stripMargin)),

    // rank with real ties (many parts share a size within a type).
    "hashql_win_rank" -> Q(
      (s, d) => run(s, d,
        "select part.p_partkey, part.p_type, part.p_size, " +
          "rank() over (partition by part.p_type order by part.p_size) from part"),
      Some("""SELECT p_partkey, p_type, p_size,
             |  CAST(rank() OVER (PARTITION BY p_type ORDER BY p_size)
             |       AS INTEGER) AS rnk
             |FROM part""".stripMargin)),

    // running sum: ORDER BY in the window ⇒ the ANSI default RANGE frame
    // in both engines; integer measure keeps it exact.
    "hashql_win_runsum" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_nationkey, " +
          "sum(customer.c_custkey) over (partition by customer.c_nationkey " +
          "order by customer.c_custkey) from customer"),
      Some("""SELECT c_custkey, c_nationkey,
             |  CAST(sum(c_custkey) OVER (PARTITION BY c_nationkey
             |       ORDER BY c_custkey) AS BIGINT) AS wsum_c_custkey
             |FROM customer""".stripMargin)),

    // grouped top-k — THE dashboard query: biggest groups first, ORDER BY
    // addressing the aggregate's auto-alias, deterministic tie-break on
    // the key. Plans TakeOrderedAndProject above the partial agg.
    "hashql_topk_groups" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderpriority, count(*) from orders " +
          "group by orders.o_orderpriority " +
          "order by cnt desc, orders.o_orderpriority limit 3"),
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY cnt DESC, o_orderpriority LIMIT 3""".stripMargin)),

    // moving sum (round-7 growth): `rows 2 preceding` = ROWS BETWEEN 2
    // PRECEDING AND CURRENT ROW — the sliding-frame idiom; integer
    // measure keeps the fold exact, and the frame's evaluation order is
    // the window order (unique c_custkey), so both engines agree.
    "hashql_win_movsum" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_nationkey, " +
          "sum(customer.c_custkey) over (partition by customer.c_nationkey " +
          "order by customer.c_custkey rows 2 preceding) from customer"),
      Some("""SELECT c_custkey, c_nationkey,
             |  CAST(sum(c_custkey) OVER (PARTITION BY c_nationkey
             |       ORDER BY c_custkey
             |       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS wsum_c_custkey
             |FROM customer""".stripMargin)),

    // moving average over the same frame: a 3-element average of small
    // integers is an exact sum divided by an exact small count, so the
    // IEEE double matches bit-for-bit across engines.
    "hashql_win_movavg" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_nationkey, " +
          "avg(customer.c_nationkey) over (partition by customer.c_nationkey " +
          "order by customer.c_custkey rows 2 preceding) from customer"),
      Some("""SELECT c_custkey, c_nationkey,
             |  avg(c_nationkey) OVER (PARTITION BY c_nationkey
             |       ORDER BY c_custkey
             |       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             |    AS wavg_c_nationkey
             |FROM customer""".stripMargin)),

    // computed-UPDATE (growth beyond the reference's literal-only SET):
    // birthday bump — age = age + 1 for one person, literal-VALUES oracle.
    "hashql_update_expr" -> Q(
      (s, d) => {
        val cat = peopleCat(s)
        HashQL.execute(cat,
          "update people set people.age = people.age + 1 " +
            "where people.people_name = 'Ted'")
        HashQL.execute(cat,
          "select people.people_name, people.age from people").get
      },
      Some("""SELECT people_name, CAST(age AS BIGINT) AS age FROM (VALUES
             |  ('Ted', 30), ('Fred', 45), ('Simon', 29), ('Sam', 29)
             |) t(people_name, age)""".stripMargin)),

    // CTAS (growth): register a SELECT's result as a new lazy table and
    // query it — the staging-table idiom.
    "hashql_ctas" -> Q(
      (s, d) => {
        val cat = tpchCat(s, d)
        HashQL.execute(cat, "create table bld as " +
          "select customer.c_custkey, customer.c_name from customer " +
          "where customer.c_mktsegment = 'BUILDING'")
        HashQL.execute(cat,
          "select bld.c_custkey, bld.c_name from bld where bld.c_custkey <= 500").get
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_mktsegment = 'BUILDING' AND c_custkey <= 500"""
        .stripMargin)),

    // multi-row VALUES (growth): one statement, per-row id synthesis —
    // identical to the rows arriving as separate statements.
    "hashql_insert_multi" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat, "insert into pets (pet_name, legs) values " +
          "('Rex', 4), ('Tweety', 2), ('Slinky', 0)")
        HashQL.execute(cat, "insert into pets (pet_name, legs) values ('Dot', 8)")
        HashQL.execute(cat,
          "select pets.id, pets.pet_name, pets.legs from pets").get
      },
      Some("""SELECT CAST(id AS BIGINT) AS id, pet_name,
             |  CAST(legs AS BIGINT) AS legs FROM (VALUES
             |  (1, 'Rex', 4), (2, 'Tweety', 2), (3, 'Slinky', 0), (4, 'Dot', 8)
             |) t(id, pet_name, legs)""".stripMargin)),

    // TIME TRAVEL (growth — Delta-style VERSION AS OF over the catalog's
    // copy-on-write version log): read the people table as of the
    // version before Sam's age update alongside the current state.
    "hashql_time_travel" -> Q(
      (s, d) => {
        val cat = peopleCat(s) // 4 inserts → versions 1..4
        HashQL.execute(cat,
          "update people set people.age = 30 where people.people_name = 'Sam'")
        cat.tableAsOf("people", 4)
          .select(col("people_name"), col("age"), lit(4L).as("v"))
          .unionByName(cat.table("people")
            .select(col("people_name"), col("age"), lit(5L).as("v")))
      },
      Some("""SELECT people_name, CAST(age AS BIGINT) AS age,
             |  CAST(v AS BIGINT) AS v FROM (VALUES
             |  ('Ted', 29, 4), ('Fred', 45, 4), ('Simon', 29, 4), ('Sam', 29, 4),
             |  ('Ted', 29, 5), ('Fred', 45, 5), ('Simon', 29, 5), ('Sam', 30, 5)
             |) t(people_name, age, v)""".stripMargin)),

    // lag: previous row's value in window order (offset 1, NULL at the
    // partition head in both engines).
    "hashql_win_lag" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_nationkey, " +
          "lag(customer.c_custkey) over (partition by customer.c_nationkey " +
          "order by customer.c_custkey) from customer"),
      Some("""SELECT c_custkey, c_nationkey,
             |  lag(c_custkey) OVER (PARTITION BY c_nationkey
             |    ORDER BY c_custkey) AS lag_c_custkey
             |FROM customer""".stripMargin)),

    // IN (SELECT …): membership subquery planned as a LEFT SEMI join
    // with a broadcast-able dimension side — the 100 TB shape of the
    // "filter facts by a dimension predicate" idiom.
    "hashql_in_subquery" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_name from customer " +
          "where customer.c_nationkey in " +
          "(select nation.n_nationkey from nation where nation.n_regionkey = 2)"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_nationkey IN
             |  (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)"""
        .stripMargin)),

    // scalar subquery comparison (growth): "above the global average" —
    // the 1-row aggregate broadcasts and the filter stays scan-side.
    // avg of an integer column is engine-identical (sum/count in double).
    "hashql_scalar_subquery" -> Q(
      (s, d) => run(s, d,
        "select part.p_partkey, part.p_size from part " +
          "where part.p_size > (select avg(part.p_size) from part) " +
          "and part.p_type = 'ECONOMY'"),
      Some("""SELECT p_partkey, p_size FROM part
             |WHERE p_size > (SELECT avg(p_size) FROM part)
             |  AND p_type = 'ECONOMY'""".stripMargin)),

    // DELETE with an IN-subquery predicate (round-7 growth — the
    // decontamination idiom a training pipeline runs daily: drop every
    // corpus row named by a contamination list). The predicate evaluates
    // through the same semi-join machinery SELECT uses, then one
    // anti-join on the dialect id drops the doomed rows.
    "hashql_delete_in_subquery" -> Q(
      (s, d) => {
        val cat = peopleCat(s)
        HashQL.execute(cat, "insert into banned (nm) values ('Ted'), ('Sam')")
        HashQL.execute(cat,
          "delete from people where people.people_name in " +
            "(select banned.nm from banned)")
        HashQL.execute(cat, "select * from people").get
      },
      Some("""SELECT * FROM (VALUES (2, 'Fred', 45), (3, 'Simon', 29))
             |AS t(id, people_name, age)""".stripMargin)),

    // recursive CTE (round-7 growth): semi-naive reachability fixpoint —
    // UNION-distinct iteration with frontier-only step joins; the a→b→c→a
    // cycle terminates through EXCEPT, the c→d spur rides along, e/f stay
    // unreachable. DuckDB evaluates its native WITH RECURSIVE over the
    // same edge list.
    "hashql_recursive_reach" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("e", "f"))
          .foreach { case (x, y) =>
            HashQL.execute(cat, s"insert into g (s, d) values ('$x', '$y')") }
        HashQL.execute(cat,
          "with recursive r as (select g.d from g where g.s = 'a' " +
            "union select g.d from r inner join g on g.s = r.d) " +
            "select r.d from r").get
      },
      Some("""WITH RECURSIVE ed(s, d) AS (
             |  SELECT * FROM (VALUES ('a','b'), ('b','c'), ('c','a'),
             |    ('c','d'), ('e','f'))),
             |r(d) AS (SELECT d FROM ed WHERE s = 'a'
             |  UNION SELECT ed.d FROM r JOIN ed ON ed.s = r.d)
             |SELECT d FROM r""".stripMargin)),

    // catalog introspection (round-7 growth — the reference's HTTP API
    // has no listing/schema endpoints): show tables / describe.
    "hashql_show_tables" -> Q(
      (s, d) => HashQL.execute(tpchCat(s, d), "show tables").get,
      Some("""SELECT * FROM (VALUES ('customer'), ('documents'),
             |  ('embeddings'), ('events'), ('lineitem'), ('nation'),
             |  ('orders'), ('part'), ('region'), ('supplier'))
             |AS t(table_name)""".stripMargin)),

    "hashql_describe" -> Q(
      (s, d) => HashQL.execute(tpchCat(s, d), "describe nation").get,
      Some("""SELECT * FROM (VALUES ('n_nationkey', 'INT'),
             |  ('n_name', 'STRING'), ('n_regionkey', 'INT'))
             |AS t(column_name, column_type)""".stripMargin)),

    // CTEs (round-7 growth — `with name as (select …) select …`):
    // aggregate once in the CTE, filter its outputs in the body. CTE
    // names shadow tables for the statement and Catalyst inlines the
    // definition — the plan is exactly the nested aggregation's.
    "hashql_cte" -> Q(
      (s, d) => run(s, d,
        "with per_cust as (select orders.o_custkey, count(*) " +
          "from orders group by orders.o_custkey) " +
          "select per_cust.o_custkey, per_cust.cnt from per_cust " +
          "where per_cust.cnt >= 14"),
      Some("""WITH per_cust AS (
             |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
             |  FROM orders GROUP BY o_custkey)
             |SELECT o_custkey, cnt FROM per_cust WHERE cnt >= 14"""
        .stripMargin)),

    // CTE chain + body join against a base table: the second CTE refines
    // the first, and the body joins it back to customer — the dedupe of
    // the shared join-key name mirrors the reference's dict-merge.
    "hashql_cte_join" -> Q(
      (s, d) => run(s, d,
        "with per_cust as (select orders.o_custkey, count(*) " +
          "from orders group by orders.o_custkey), " +
          "big as (select per_cust.o_custkey, per_cust.cnt from per_cust " +
          "where per_cust.cnt >= 14) " +
          "select customer.c_name, big.cnt from big " +
          "inner join customer on customer.c_custkey = big.o_custkey"),
      Some("""WITH per_cust AS (
             |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
             |  FROM orders GROUP BY o_custkey),
             |big AS (SELECT o_custkey, cnt FROM per_cust WHERE cnt >= 14)
             |SELECT c_name, cnt FROM big
             |JOIN customer ON c_custkey = big.o_custkey""".stripMargin)),

    // EXISTS (SELECT …): correlated existence test — the correlation
    // `orders.o_custkey = customer.c_custkey` inside the subquery WHERE
    // becomes the LEFT SEMI join key; the status conjunct stays a
    // subquery-local filter. The 100 TB shape: facts filtered scan-side,
    // then one semi join probing the outer keys.
    "hashql_exists" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_name from customer " +
          "where exists (select orders.o_orderkey from orders " +
          "where orders.o_custkey = customer.c_custkey " +
          "and orders.o_orderstatus = 'F')"),
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')"""
        .stripMargin)),

    // NOT EXISTS: LEFT ANTI on the same correlation — customers with NO
    // urgent order, composed with a plain outer conjunct.
    "hashql_not_exists" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey from customer " +
          "where not exists (select orders.o_orderkey from orders " +
          "where orders.o_custkey = customer.c_custkey " +
          "and orders.o_orderpriority = '1-URGENT') " +
          "and customer.c_mktsegment = 'BUILDING'"),
      Some("""SELECT c_custkey FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey
             |  AND o.o_orderpriority = '1-URGENT')
             |AND c_mktsegment = 'BUILDING'""".stripMargin)),

    // NOT IN (SELECT …): LEFT ANTI (NOT EXISTS semantics — see the
    // InSelect scaladoc); composed with a plain conjunct in one WHERE.
    "hashql_not_in_subquery" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey from customer " +
          "where customer.c_nationkey not in " +
          "(select nation.n_nationkey from nation where nation.n_regionkey <= 2) " +
          "and customer.c_mktsegment = 'BUILDING'"),
      Some("""SELECT c_custkey FROM customer c
             |WHERE NOT EXISTS
             |  (SELECT 1 FROM nation WHERE n_regionkey <= 2
             |   AND n_nationkey = c.c_nationkey)
             |AND c_mktsegment = 'BUILDING'""".stripMargin)),

    // UNION (distinct) of two branches with positional alignment: output
    // names follow the first branch, overlapping keys collapse.
    "hashql_union" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey from customer where customer.c_nationkey = 1 " +
          "union select supplier.s_suppkey from supplier " +
          "where supplier.s_nationkey = 1"),
      Some("""SELECT c_custkey FROM customer WHERE c_nationkey = 1
             |UNION
             |SELECT s_suppkey FROM supplier WHERE s_nationkey = 1"""
        .stripMargin)),

    // LIKE: %/_ wildcards — Spark Column.like and DuckDB LIKE share
    // semantics (no regex, backslash escapes unused here).
    "hashql_like" -> Q(
      (s, d) => run(s, d,
        "select part.p_partkey, part.p_name from part " +
          "where part.p_name like '%r_d%' and part.p_size < 20"),
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE p_name LIKE '%r_d%' AND p_size < 20""".stripMargin)),

    // BETWEEN (dialect growth): desugars at parse time to >= AND <= —
    // its `and` binds to the atom, never the conjunction.
    "hashql_between" -> Q(
      (s, d) => run(s, d,
        "select part.p_partkey, part.p_size from part " +
          "where part.p_size between 10 and 15 and part.p_type = 'ECONOMY'"),
      Some("""SELECT p_partkey, p_size FROM part
             |WHERE p_size BETWEEN 10 AND 15 AND p_type = 'ECONOMY'"""
        .stripMargin)),

    // NOT in all its spellings (dialect growth): prefix `not (…)`, infix
    // `not in`, and `<>` — ANSI three-valued negation on both engines.
    "hashql_not" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_mktsegment from customer " +
          "where customer.c_mktsegment not in ('BUILDING', 'AUTOMOBILE') " +
          "and customer.c_nationkey <> 7 " +
          "and not (customer.c_acctbal < 0 or customer.c_nationkey = 3)"),
      Some("""SELECT c_custkey, c_mktsegment FROM customer
             |WHERE c_mktsegment NOT IN ('BUILDING', 'AUTOMOBILE')
             |  AND c_nationkey <> 7
             |  AND NOT (c_acctbal < 0 OR c_nationkey = 3)""".stripMargin)),

    // SELECT DISTINCT (dialect growth): set semantics over the projected
    // rows — one partial-agg shuffle, the q_distinct plan.
    "hashql_distinct" -> Q(
      (s, d) => run(s, d,
        "select distinct orders.o_orderstatus, orders.o_orderpriority from orders"),
      Some("""SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"""
        .stripMargin)),

    // LIMIT + OFFSET paging (dialect growth): rows m+1..m+n of the sorted
    // stream — deterministic under the unique-key tie-break, so pages are
    // stable and hash-checkable.
    "hashql_offset" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_acctbal from customer " +
          "order by customer.c_acctbal desc, customer.c_custkey limit 10 offset 5"),
      Some("""SELECT c_custkey, c_acctbal FROM customer
             |ORDER BY c_acctbal DESC, c_custkey LIMIT 10 OFFSET 5"""
        .stripMargin)),

    // multi-column GROUP BY (dialect growth; the reference groups by one
    // key, server.py:452-455).
    "hashql_groupby2" -> Q(
      (s, d) => run(s, d,
        "select count(*) from orders group by orders.o_orderstatus, orders.o_orderpriority"),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
             |FROM orders GROUP BY o_orderstatus, o_orderpriority""".stripMargin)),

    // HAVING (dialect growth): post-aggregation filter over the grouped
    // frame; both the agg-call spelling (`having count(*) >= 30`) and the
    // output-alias spelling (`having cnt >= 30`) resolve to the same
    // predicate. Catalyst plans Filter-over-Aggregate (q_having proves
    // the operator); grouping-key conjuncts would push below the agg.
    "hashql_having" -> Q(
      (s, d) => run(s, d,
        "select count(*), max(customer.c_acctbal) from customer " +
          "group by customer.c_nationkey having count(*) >= 30 and max(customer.c_acctbal) < 9990"),
      Some("""SELECT c_nationkey, count(*) AS cnt, max(c_acctbal) AS max_c_acctbal
             |FROM customer GROUP BY c_nationkey
             |HAVING count(*) >= 30 AND max(c_acctbal) < 9990""".stripMargin)),

    // HAVING is WHERE's predicate grammar over the aggregated frame: OR,
    // BETWEEN, and an aggregate the select list does not project (it
    // joins the same aggregation pass hidden and drops after the filter).
    "hashql_having_or_between" -> Q(
      (s, d) => run(s, d,
        "select count(*) from customer group by customer.c_nationkey " +
          "having min(customer.c_custkey) between 10 and 40 or count(*) < 5"),
      Some("""SELECT c_nationkey, count(*) AS cnt
             |FROM customer GROUP BY c_nationkey
             |HAVING min(c_custkey) BETWEEN 10 AND 40 OR count(*) < 5""".stripMargin)),

    // DELETE (dialect growth; the reference clears KV ranges,
    // client.py:204-212, but has no SQL DELETE): example.py people replay,
    // the 29-year-olds deleted, survivors selected. Copy-on-write
    // anti-filter underneath (GraftCatalog.delete) — only rows whose
    // predicate is TRUE go; a NULL predicate row stays.
    "hashql_delete_select" -> Q(
      (s, d) => {
        val cat = peopleCat(s)
        HashQL.execute(cat, "delete from people where people.age = 29")
        HashQL.execute(cat, "select * from people").get
      },
      Some("SELECT * FROM (VALUES (2, 'Fred', 45)) AS t(id, people_name, age)")),

    // LEFT JOIN (dialect growth; the reference's join surface is inner-
    // only, client.py:472-480): unmatched left rows survive with null
    // right-side columns, and the reference's missing-field row skip is
    // suspended for outer selects (dropping the nulls would turn the
    // outer join back into an inner one). Plans a single shuffled (or
    // broadcast) LeftOuter — same 100-TB shape as the inner chain.
    // Every dimension key in the testdata is fully referenced, so the
    // null-producing right side is carved first with a CTAS (urgent
    // orders only) — the left join then yields a MIX of matched rows and
    // null-extended ones (421 rows at sf0.01, 203 of them null).
    "hashql_left_join" -> Q(
      (s, d) => {
        val cat = tpchCat(s, d)
        HashQL.execute(cat, "create table urgento as " +
          "select orders.o_custkey, orders.o_orderkey from orders " +
          "where orders.o_orderpriority = '1-URGENT'")
        HashQL.execute(cat,
          "select customer.c_custkey, customer.c_name, urgento.o_orderkey " +
            "from customer left join urgento on customer.c_custkey = urgento.o_custkey " +
            "where customer.c_custkey <= 200").get
      },
      Some("""SELECT c_custkey, c_name, o_orderkey FROM customer
             |LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
             |           WHERE o_orderpriority = '1-URGENT') u
             |ON c_custkey = u.o_custkey WHERE c_custkey <= 200""".stripMargin)),

    // IS NULL over a LEFT JOIN — the SQL spelling of an anti-join
    // (customers with no urgent orders). The predicate is two-valued
    // (never UNKNOWN), so its survival set is exact under the dialect's
    // three-valued AND/OR.
    "hashql_left_join_null" -> Q(
      (s, d) => {
        val cat = tpchCat(s, d)
        HashQL.execute(cat, "create table urgento as " +
          "select orders.o_custkey, orders.o_orderkey from orders " +
          "where orders.o_orderpriority = '1-URGENT'")
        HashQL.execute(cat,
          "select customer.c_custkey, customer.c_name from customer " +
            "left join urgento on customer.c_custkey = urgento.o_custkey " +
            "where urgento.o_orderkey is null").get
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
             |           WHERE o_orderpriority = '1-URGENT') u
             |ON c_custkey = u.o_custkey WHERE u.o_orderkey IS NULL""".stripMargin)),

    // coalesce(t.f, v) over a LEFT JOIN — null-extended rows take the
    // default, matched rows keep their value; computed outputs are exempt
    // from the reference's missing-field skip. Pure scan-side expression
    // above the single join exchange.
    "hashql_coalesce" -> Q(
      (s, d) => {
        val cat = tpchCat(s, d)
        HashQL.execute(cat, "create table urgento as " +
          "select orders.o_custkey, orders.o_orderkey from orders " +
          "where orders.o_orderpriority = '1-URGENT'")
        HashQL.execute(cat,
          "select customer.c_custkey, coalesce(urgento.o_orderkey, 0) " +
            "from customer left join urgento on customer.c_custkey = urgento.o_custkey " +
            "where customer.c_custkey <= 200").get
      },
      Some("""SELECT c_custkey, coalesce(u.o_orderkey, 0) AS coalesce_o_orderkey
             |FROM customer
             |LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
             |           WHERE o_orderpriority = '1-URGENT') u
             |ON c_custkey = u.o_custkey WHERE c_custkey <= 200""".stripMargin)),

    // coalesce(a.k, b.k) over a FULL JOIN — the unified-key idiom: the
    // merged column is non-null for every surviving row whichever side
    // produced it. Same single-exchange FullOuter plan underneath.
    "hashql_full_join_merge" -> Q(
      (s, d) => {
        val cat = tpchCat(s, d)
        HashQL.execute(cat, "create table hibal as " +
          "select customer.c_custkey, customer.c_name from customer " +
          "where customer.c_nationkey >= 20")
        HashQL.execute(cat, "create table urgento as " +
          "select orders.o_custkey, orders.o_orderkey from orders " +
          "where orders.o_orderpriority = '1-URGENT'")
        HashQL.execute(cat,
          "select coalesce(hibal.c_custkey, urgento.o_custkey), urgento.o_orderkey " +
            "from hibal full join urgento on hibal.c_custkey = urgento.o_custkey").get
      },
      Some("""SELECT coalesce(h.c_custkey, u.o_custkey) AS coalesce_c_custkey,
             |       u.o_orderkey
             |FROM (SELECT c_custkey, c_name FROM customer WHERE c_nationkey >= 20) h
             |FULL JOIN (SELECT o_custkey, o_orderkey FROM orders
             |           WHERE o_orderpriority = '1-URGENT') u
             |ON h.c_custkey = u.o_custkey""".stripMargin)),

    // FULL [OUTER] JOIN — unmatched rows from BOTH sides survive (36
    // left-null + 2351 right-null + matches at sf0.01). Spark plans one
    // shuffled FullOuter on the key — same single-exchange shape as the
    // inner chain, still the 100-TB plan.
    "hashql_full_join" -> Q(
      (s, d) => {
        val cat = tpchCat(s, d)
        HashQL.execute(cat, "create table hibal as " +
          "select customer.c_custkey, customer.c_name from customer " +
          "where customer.c_nationkey >= 20")
        HashQL.execute(cat, "create table urgento as " +
          "select orders.o_custkey, orders.o_orderkey from orders " +
          "where orders.o_orderpriority = '1-URGENT'")
        HashQL.execute(cat,
          "select hibal.c_custkey, hibal.c_name, urgento.o_orderkey " +
            "from hibal full join urgento on hibal.c_custkey = urgento.o_custkey").get
      },
      Some("""SELECT h.c_custkey, h.c_name, u.o_orderkey
             |FROM (SELECT c_custkey, c_name FROM customer WHERE c_nationkey >= 20) h
             |FULL JOIN (SELECT o_custkey, o_orderkey FROM orders
             |           WHERE o_orderpriority = '1-URGENT') u
             |ON h.c_custkey = u.o_custkey""".stripMargin)),

    // count(DISTINCT col) — exact distinct counting in the dialect (the
    // engine operator is proven by q_count_distinct; approx siblings live
    // in the sketch suite). Plans the standard two-phase expand/partial
    // distinct aggregation — no row ever leaves its partition un-reduced.
    "hashql_count_distinct" -> Q(
      (s, d) => run(s, d,
        "select customer.c_mktsegment, count(distinct customer.c_nationkey) " +
          "from customer group by customer.c_mktsegment"),
      Some("""SELECT c_mktsegment, count(DISTINCT c_nationkey) AS cntd_c_nationkey
             |FROM customer GROUP BY c_mktsegment""".stripMargin)),

    // count(column) vs count(*) — null-aware counting, which only
    // becomes observable once LEFT JOIN can extend rows with nulls:
    // count(*) counts every joined-or-extended row, count(u.o_orderkey)
    // counts only the matched ones. One partial-agg shuffle; the
    // grouped form routes through the same plan as every GROUP BY.
    "hashql_count_col" -> Q(
      (s, d) => {
        val cat = tpchCat(s, d)
        HashQL.execute(cat, "create table urgento as " +
          "select orders.o_custkey, orders.o_orderkey from orders " +
          "where orders.o_orderpriority = '1-URGENT'")
        HashQL.execute(cat,
          "select count(urgento.o_orderkey), count(*) from customer " +
            "left join urgento on customer.c_custkey = urgento.o_custkey").get
      },
      Some("""SELECT count(u.o_orderkey) AS cnt_o_orderkey, count(*) AS cnt
             |FROM customer
             |LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
             |           WHERE o_orderpriority = '1-URGENT') u
             |ON c_custkey = u.o_custkey""".stripMargin)),

    // ORDER BY + LIMIT (dialect growth): plans as TakeOrderedAndProject —
    // per-partition top-k, driver merge, never a global sort
    // (HashQLSpec plan-shape assertion). Tie-broken on the unique key so
    // the kept set is deterministic and hash-checkable.
    "hashql_topk" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_acctbal from customer " +
          "order by customer.c_acctbal desc, customer.c_custkey limit 10"),
      Some("""SELECT c_custkey, c_acctbal FROM customer
             |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin)),

    "hashql_join" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, customer.c_name from orders " +
          "inner join customer on orders.o_custkey = customer.c_custkey " +
          "where customer.c_mktsegment = 'BUILDING'"),
      Some("""SELECT o_orderkey, c_name FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'""".stripMargin)),

    "hashql_groupby_count" -> Q(
      (s, d) => run(s, d,
        "select count(*) from customer group by customer.c_mktsegment"),
      Some("SELECT c_mktsegment, count(*) AS cnt FROM customer GROUP BY c_mktsegment")),

    "hashql_fts" -> Q(
      (s, d) => run(s, d,
        "select documents.doc_id from documents where documents.text ~ 'spark & join'"),
      Some("""SELECT doc_id FROM documents
             |WHERE list_contains(string_split(replace(lower(text), ',', ''), ' '), 'spark')
             |  AND list_contains(string_split(replace(lower(text), ',', ''), ' '), 'join')""".stripMargin)),

    // example.py:118-124: select * from people where people.age = 29
    "hashql_insert_select" -> Q(
      (s, d) => HashQL.execute(peopleCat(s),
        "select * from people where people.age = 29").get,
      Some("""SELECT * FROM (VALUES (1, 'Ted', 29), (3, 'Simon', 29), (4, 'Sam', 29))
             |  AS t(id, people_name, age)""".stripMargin)),

    // example.py:126-149: update Sam to 31, re-select age = 29
    "hashql_update_select" -> Q(
      (s, d) => {
        val cat = peopleCat(s)
        HashQL.execute(cat,
          "update people set people.age = 31 where people.people_name = 'Sam'")
        HashQL.execute(cat, "select * from people where people.age = 29").get
      },
      Some("SELECT * FROM (VALUES (1, 'Ted', 29), (3, 'Simon', 29)) AS t(id, people_name, age)")),

    // example.py:151-238: items/products/people 3-way join through the
    // dialect (the reference's richest SELECT).
    "hashql_join3" -> Q(
      (s, d) => {
        val cat = peopleCat(s)
        Seq(("Cat", 3L), ("Spanner", 3L), ("Tree", 3L), ("Spanner", 2L))
          .foreach { case (n, p) =>
            HashQL.execute(cat, s"insert into items (search, people) values ('$n', $p)") }
        Seq(("Spanner", 300L), ("Tree", 1000L), ("Spanner", 450L), ("Spanner", 600L))
          .foreach { case (n, pr) =>
            HashQL.execute(cat, s"insert into products (name, price) values ('$n', $pr)") }
        HashQL.execute(cat,
          "select products.price, people.people_name, items.search from items " +
            "inner join people on items.people = people.id " +
            "inner join products on items.search = products.name").get
      },
      // oracle = the same nested-loop over the literal rows
      Some("""WITH people AS (SELECT * FROM (VALUES (1, 'Ted'), (2, 'Fred'), (3, 'Simon'), (4, 'Sam'))
             |    AS p(id, people_name)),
             |items AS (SELECT * FROM (VALUES ('Cat', 3), ('Spanner', 3), ('Tree', 3), ('Spanner', 2))
             |    AS i(search, people)),
             |products AS (SELECT * FROM (VALUES ('Spanner', 300), ('Tree', 1000), ('Spanner', 450), ('Spanner', 600))
             |    AS pr(name, price))
             |SELECT price, people_name, search FROM items
             |JOIN people ON items.people = people.id
             |JOIN products ON items.search = products.name""".stripMargin)),

    // J5 n-way routing: the reference's own create-join shape (3-way,
    // example.py:151-238) materialized once, then an independently-built
    // identical join routes to the parquet — the result below is computed
    // THROUGH the routed plan (written + view dropped before returning, so
    // no registry state leaks into other queries in this session).
    "matview_route3" -> Q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val customer = Tables.t(s, d, "customer")
        val nation = Tables.t(s, d, "nation")
        val region = Tables.t(s, d, "region")
        val view = customer
          .join(nation, col("c_nationkey") === col("n_nationkey"))
          .join(region, col("n_regionkey") === col("r_regionkey"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_mv3").toString
        graft.matview.MatView.materialize(s, "route3_tmp", view, s"$tmp/view")
        val q = customer
          .join(nation, col("c_nationkey") === col("n_nationkey"))
          .join(region, col("n_regionkey") === col("r_regionkey"))
          .select(col("c_custkey"), col("n_name"), col("r_name"))
        val res = s"$tmp/result"
        q.write.mode("overwrite").parquet(res) // optimized while routing is live
        graft.matview.MatView.drop(s, "route3_tmp")
        s.read.parquet(res)
      },
      Some("""SELECT c_custkey, n_name, r_name FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey""".stripMargin)),

    // AGGREGATE over a routed view: the rule rewrites the join SUBTREE, so
    // a group-by on top routes too — closing the "aggregate rewrites"
    // doubt: any aggregation over a registered join reads the parquet.
    // MatViewSpec asserts the routed aggregate plan has zero Join nodes.
    "matview_route_agg" -> Q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, count, lit}
        val customer = Tables.t(s, d, "customer")
        val nation = Tables.t(s, d, "nation")
        val region = Tables.t(s, d, "region")
        val view = customer
          .join(nation, col("c_nationkey") === col("n_nationkey"))
          .join(region, col("n_regionkey") === col("r_regionkey"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_mva").toString
        graft.matview.MatView.materialize(s, "route_agg_tmp", view, s"$tmp/view")
        val q = customer
          .join(nation, col("c_nationkey") === col("n_nationkey"))
          .join(region, col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_customers"))
        val res = s"$tmp/result"
        q.write.mode("overwrite").parquet(res) // aggregated THROUGH the route
        graft.matview.MatView.drop(s, "route_agg_tmp")
        s.read.parquet(res)
      },
      Some("""SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_customers
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name""".stripMargin)),

    // PRE-AGGREGATED summary routing: a registered aggregate view answers
    // the verbatim-repeated group-by from the summary parquet — zero Join
    // AND zero aggregation in the routed plan (MatViewSpec-asserted);
    // coarser/re-aliased aggregates deliberately recompute.
    "matview_route_rollup" -> Q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, count, lit}
        def agg = Tables.t(s, d, "customer")
          .join(Tables.t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name")).agg(count(lit(1)).as("n_customers"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_mvr").toString
        graft.matview.MatView.materializeAggregate(s, "rollup_tmp", agg, s"$tmp/view")
        val res = s"$tmp/result"
        agg.write.mode("overwrite").parquet(res) // answered from the summary
        graft.matview.MatView.drop(s, "rollup_tmp")
        s.read.parquet(res)
      },
      Some("""SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name""".stripMargin)),

    // CONTAINMENT routing: the summary is keyed by (r_name, n_name); the
    // query groups by r_name ONLY — the classic rollup-serving ask — and
    // answers by RE-aggregating the summary (count→sum of counts,
    // min/max→same), zero fact rows (MatViewSpec asserts no Join in the
    // routed plan). Integer-exact aggregates, so the routed answer is
    // hash-checked against DuckDB computing from raw facts.
    "matview_route_coarse" -> Q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, count, lit, max, min}
        def base = Tables.t(s, d, "customer")
          .join(Tables.t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
          .join(Tables.t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        val summary = base.groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_customers"),
            min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_mvc").toString
        graft.matview.MatView.materializeAggregate(s, "coarse_tmp", summary, s"$tmp/view")
        val q = base.groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_customers"),
            min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
        val res = s"$tmp/result"
        q.write.mode("overwrite").parquet(res) // re-aggregated from the summary
        graft.matview.MatView.drop(s, "coarse_tmp")
        s.read.parquet(res)
      },
      Some("""SELECT r_name, CAST(count(*) AS BIGINT) AS n_customers,
             |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name""".stripMargin)),

    // FILTER-containment routing (the other half of rollup serving): a
    // subset group-by WITH a predicate on a summary grouping key answers
    // by FILTERING the summary then re-aggregating — zero fact rows
    // (plan-asserted in MatViewSpec). The reference's create-join read
    // path (server.py:806-894) is the spiritual ancestor: reads served
    // from maintained state, not recomputed from base rows.
    "matview_route_filtered" -> Q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, count, lit, max, min}
        def base = Tables.t(s, d, "customer")
          .join(Tables.t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
          .join(Tables.t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        val summary = base.groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_customers"),
            min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_mvf").toString
        graft.matview.MatView.materializeAggregate(s, "filt_tmp", summary, s"$tmp/view")
        val q = base.filter(col("r_name") === "EUROPE").groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_customers"),
            min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
        val res = s"$tmp/result"
        q.write.mode("overwrite").parquet(res) // summary filtered + re-aggregated
        graft.matview.MatView.drop(s, "filt_tmp")
        s.read.parquet(res)
      },
      Some("""SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
             |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'EUROPE'
             |GROUP BY n_name""".stripMargin)),

    // HAVING containment (round-7 growth): a filter ABOVE the
    // re-aggregation referencing only re-aggregated outputs filters the
    // FINAL groups — containment-safe (unlike key filters it needs no
    // predicate rewrite at all: the substituted aggregate keeps its
    // output ids, so the Filter rides through). Zero fact rows
    // (MatViewHavingSpec asserts the plan); the classic rollup-dashboard
    // ask `GROUP BY subset HAVING agg > k`.
    "matview_route_having" -> Q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, count, lit, min}
        def base = Tables.t(s, d, "customer")
          .join(Tables.t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
          .join(Tables.t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        val summary = base.groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_customers"), min(col("c_custkey")).as("min_key"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_mvh").toString
        graft.matview.MatView.materializeAggregate(s, "having_tmp", summary, s"$tmp/view")
        val q = base.groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_customers"), min(col("c_custkey")).as("min_key"))
          .filter(col("n_customers") > 5)
        val res = s"$tmp/result"
        q.write.mode("overwrite").parquet(res) // summary re-aggregated + HAVING
        graft.matview.MatView.drop(s, "having_tmp")
        s.read.parquet(res)
      },
      Some("""SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
             |  min(c_custkey) AS min_key
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY n_name
             |HAVING count(*) > 5""".stripMargin)),

    // boolean filter containment (round-6 growth + regression pin for the
    // folded-condition bug): a cross-side OR over two GROUPING KEYS gets
    // folded into the join CONDITION by PushPredicateThroughJoin — the
    // route must carry it to the summary (filter-then-re-aggregate), not
    // silently drop it and serve the unfiltered rollup.
    "matview_route_or" -> Q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, count, lit}
        def base = Tables.t(s, d, "customer")
          .join(Tables.t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
          .join(Tables.t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        val summary = base.groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_customers"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_mvo").toString
        graft.matview.MatView.materializeAggregate(s, "or_tmp", summary, s"$tmp/view")
        val q = base
          .filter(col("r_name") === "EUROPE" || col("n_name") === "JAPAN")
          .groupBy(col("n_name")).agg(count(lit(1)).as("n_customers"))
        val res = s"$tmp/result"
        q.write.mode("overwrite").parquet(res)
        graft.matview.MatView.drop(s, "or_tmp")
        s.read.parquet(res)
      },
      Some("""SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'EUROPE' OR n_name = 'JAPAN'
             |GROUP BY n_name""".stripMargin)),

    // J5 read path END-TO-END IN THE DIALECT: `create join` registered and
    // materialized, then a later dialect SELECT over the same join answers
    // from the pre-joined parquet (zero Join nodes — asserted in
    // MatViewSpec). This is the reference's read-path contract for create
    // join (server.py:806-894): SELECTs read maintained rows, not a live
    // join build. The materialization is the WRITE-path cost, paid once
    // per (session, dir) like a deployment's maintained view — repeated
    // SELECTs (warmup + timed bench runs) measure the routed READ.
    "hashql_select_routed" -> Q(
      (s, d) => {
        val reg = routedReg.getOrElseUpdate((s, d), {
          val cat = tpchCat(s, d)
          val r = new HashQL.JoinRegistry
          HashQL.execute(cat,
            "create join inner join nation on customer.c_nationkey = nation.n_nationkey " +
              "inner join region on nation.n_regionkey = region.r_regionkey",
            Some(r))
          val tmp = java.nio.file.Files.createTempDirectory("graft_routed").toString
          val name = HashQL.materializeJoin(
            cat, r, Set("customer", "nation", "region"), s"$tmp/view")
          graft.matview.MatView.drop(s, s"hashql:$name") // registry route only —
          // no Catalyst-rule leak into unrelated queries in this session
          r
        })
        HashQL.execute(tpchCat(s, d),
          "select customer.c_custkey, nation.n_name, region.r_name from customer " +
            "inner join nation on customer.c_nationkey = nation.n_nationkey " +
            "inner join region on nation.n_regionkey = region.r_regionkey",
          Some(reg)).get
      },
      Some("""SELECT c_custkey, n_name, r_name FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey""".stripMargin)),

    // M3/J5: create join registered, expanded as a view, queried.
    // `create agg view` → materializeAggregate: the dialect's verbatim
    // repeat of the view definition routes to the summary parquet (plan
    // assertions in HashQLSpec; here the oracle checks the answer).
    "hashql_create_agg_view" -> Q(
      (s, d) => {
        val cat = tpchCat(s, d)
        val tmp = java.nio.file.Files.createTempDirectory("graft_aggv").toString
        val name = HashQL.materializeAggView(cat,
          "create agg view as select supplier.s_nationkey, count(*), " +
            "min(supplier.s_suppkey) from supplier group by supplier.s_nationkey",
          s"$tmp/view")
        val out = HashQL.execute(cat,
          "select supplier.s_nationkey, count(*), min(supplier.s_suppkey) " +
            "from supplier group by supplier.s_nationkey").get
        out.write.mode("overwrite").parquet(s"$tmp/result") // run while routed
        graft.matview.MatView.drop(s, name) // no rule leak into other queries
        s.read.parquet(s"$tmp/result")
      },
      Some("""SELECT s_nationkey, CAST(count(*) AS BIGINT) AS cnt,
             |  min(s_suppkey) AS min_s_suppkey
             |FROM supplier GROUP BY s_nationkey""".stripMargin)),

    // …and the CONTAINMENT route through the dialect: a COARSER group-by
    // (key subset of the registered view) re-aggregates the summary —
    // zero fact rows — and still matches the facts oracle.
    "hashql_agg_routed_coarse" -> Q(
      (s, d) => {
        val cat = tpchCat(s, d)
        val tmp = java.nio.file.Files.createTempDirectory("graft_aggc").toString
        val name = HashQL.materializeAggView(cat,
          "create agg view as select lineitem.l_returnflag, " +
            "lineitem.l_linestatus, count(*) from lineitem " +
            "group by lineitem.l_returnflag, lineitem.l_linestatus",
          s"$tmp/view")
        val out = HashQL.execute(cat,
          "select lineitem.l_returnflag, count(*) from lineitem " +
            "group by lineitem.l_returnflag").get
        out.write.mode("overwrite").parquet(s"$tmp/result")
        graft.matview.MatView.drop(s, name)
        s.read.parquet(s"$tmp/result")
      },
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // delete-delta maintenance (round-7 growth): a DML DELETE on the base
    // table of a count/sum agg view SUBTRACTS the deleted rows from the
    // summary (negated partials, one scan of the deleted subset — never a
    // fact recompute) and the route survives; the oracle recomputes from
    // post-delete facts, so a drifted summary would hash-mismatch.
    // min/max views invalidate instead (recompute-only, HashQLSpec).
    "hashql_delete_agg_routed" -> Q(
      (s, d) => {
        val cat = tpchCat(s, d)
        val reg = new HashQL.JoinRegistry
        val tmp = java.nio.file.Files.createTempDirectory("graft_aggd").toString
        // integer-summed column (o_custkey): the fold's old−deleted
        // arithmetic stays EXACT, so the folded summary bit-matches the
        // oracle's direct post-delete aggregation
        val name = HashQL.materializeAggView(cat,
          "create agg view as select orders.o_orderpriority, count(*), " +
            "count(orders.o_custkey), sum(orders.o_custkey) " +
            "from orders group by orders.o_orderpriority",
          s"$tmp/view", Some(reg))
        HashQL.execute(cat,
          "delete from orders where orders.o_orderstatus = 'F'", Some(reg))
        val out = HashQL.execute(cat,
          "select orders.o_orderpriority, count(*), " +
            "count(orders.o_custkey), sum(orders.o_custkey) " +
            "from orders group by orders.o_orderpriority", Some(reg)).get
        out.write.mode("overwrite").parquet(s"$tmp/result") // while routed
        graft.matview.MatView.drop(s, name)
        s.read.parquet(s"$tmp/result")
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(count(o_custkey) AS BIGINT) AS cnt_o_custkey,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_o_custkey
             |FROM orders WHERE o_orderstatus <> 'F'
             |GROUP BY o_orderpriority""".stripMargin)),

    // INSERT delta (round-7 growth): appends never retract, so even a
    // min/max view folds the positive partials and keeps routing; the
    // oracle recomputes over the post-insert rows, so a drifted summary
    // would hash-mismatch. (Round 10: the delta is the INSERT's literal
    // rows conformed to the table schema — O(delta), no fact-table scan,
    // and raw-parquet tables without the dialect id column fold too.)
    "hashql_insert_agg_routed" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        val reg = new HashQL.JoinRegistry
        Seq(("a", 1), ("a", 2), ("b", 3)).foreach { case (g, v) =>
          HashQL.execute(cat, s"insert into t (g, v) values ('$g', $v)") }
        val tmp = java.nio.file.Files.createTempDirectory("graft_aggi").toString
        val name = HashQL.materializeAggView(cat,
          "create agg view as select t.g, count(*), min(t.v), max(t.v), " +
            "sum(t.v) from t group by t.g", s"$tmp/view", Some(reg))
        HashQL.execute(cat,
          "insert into t (g, v) values ('a', 0), ('c', 9)", Some(reg))
        val out = HashQL.execute(cat,
          "select t.g, count(*), min(t.v), max(t.v), sum(t.v) " +
            "from t group by t.g", Some(reg)).get
        out.write.mode("overwrite").parquet(s"$tmp/result") // while routed
        graft.matview.MatView.drop(s, name)
        s.read.parquet(s"$tmp/result")
      },
      Some("""SELECT * FROM (VALUES
             |  ('a', CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
             |  ('b', CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT)),
             |  ('c', CAST(1 AS BIGINT), CAST(9 AS BIGINT), CAST(9 AS BIGINT), CAST(9 AS BIGINT))
             |) AS t(g, cnt, min_v, max_v, sum_v)""".stripMargin)),

    // UPDATE delta (round-7 growth): an update is a retract+append pair —
    // the count/sum view folds the before-image out and the after-image
    // in, group-key moves included, and keeps routing.
    "hashql_update_agg_routed" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        val reg = new HashQL.JoinRegistry
        Seq(("a", 1), ("a", 2), ("b", 3)).foreach { case (g, v) =>
          HashQL.execute(cat, s"insert into t (g, v) values ('$g', $v)") }
        val tmp = java.nio.file.Files.createTempDirectory("graft_aggu").toString
        val name = HashQL.materializeAggView(cat,
          "create agg view as select t.g, count(*), count(t.v), sum(t.v) " +
            "from t group by t.g", s"$tmp/view", Some(reg))
        HashQL.execute(cat,
          "update t set t.v = t.v + 10 where t.g = 'a'", Some(reg))
        val out = HashQL.execute(cat,
          "select t.g, count(*), count(t.v), sum(t.v) from t group by t.g",
          Some(reg)).get
        out.write.mode("overwrite").parquet(s"$tmp/result") // while routed
        graft.matview.MatView.drop(s, name)
        s.read.parquet(s"$tmp/result")
      },
      Some("""SELECT * FROM (VALUES
             |  ('a', CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(23 AS BIGINT)),
             |  ('b', CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT))
             |) AS t(g, cnt, cnt_v, sum_v)""".stripMargin)),

    "hashql_create_join_view" -> Q(
      (s, d) => {
        val cat = tpchCat(s, d)
        val reg = new HashQL.JoinRegistry
        HashQL.execute(cat,
          "create join inner join nation on customer.c_nationkey = nation.n_nationkey " +
            "inner join region on nation.n_regionkey = region.r_regionkey",
          Some(reg))
        HashQL.joinView(cat, reg.forTables(Set("customer", "nation", "region")).get)
          .select("c_custkey", "n_name", "r_name")
      },
      Some("""SELECT c_custkey, n_name, r_name FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey""".stripMargin)),

    // ---- round-9 growth: expression projections (verdict #2) ----

    // arithmetic in the projection with standard precedence and an AS
    // alias; int×long widens to BIGINT on both engines (oracle casts the
    // DuckDB INT32 product), double halving is bit-exact.
    "hashql_expr_project" -> Q(
      (s, d) => run(s, d,
        "select part.p_partkey, part.p_size * 2 + 1 as s2, " +
          "part.p_retailprice / 2 as half from part where part.p_size >= 45"),
      Some("""SELECT p_partkey, CAST(p_size * 2 + 1 AS BIGINT) AS s2,
             |  p_retailprice / 2 AS half
             |FROM part WHERE p_size >= 45""".stripMargin)),

    // CASE WHEN in the projection — full WHERE-grammar conditions, ELSE
    // branch, decimal literals coercing to double.
    "hashql_case" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, " +
          "case when orders.o_totalprice >= 200000.0 then 'big' " +
          "when orders.o_totalprice >= 50000.0 then 'mid' " +
          "else 'small' end as bucket from orders"),
      Some("""SELECT o_orderkey,
             |  CASE WHEN o_totalprice >= 200000.0 THEN 'big'
             |       WHEN o_totalprice >= 50000.0 THEN 'mid'
             |       ELSE 'small' END AS bucket
             |FROM orders""".stripMargin)),

    // aggregate over a computed expression — the revenue idiom's shape
    // (sum of a per-row product) on exact-integer-valued doubles, so the
    // distributed sum is order-independent and hash-stable.
    "hashql_agg_expr" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_returnflag, " +
          "sum(lineitem.l_quantity * (1 + lineitem.l_linenumber)) as wq " +
          "from lineitem group by lineitem.l_returnflag"),
      Some("""SELECT l_returnflag, sum(l_quantity * (1 + l_linenumber)) AS wq
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // CASE inside an aggregate — conditional counting, the pivot
    // building block; oracle casts DuckDB's HUGEINT sum to BIGINT.
    "hashql_agg_case" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderstatus, " +
          "sum(case when orders.o_orderpriority = '1-URGENT' then 1 else 0 end) " +
          "as urgent, count(*) from orders group by orders.o_orderstatus"),
      Some("""SELECT o_orderstatus,
             |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
             |           THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
             |  count(*) AS cnt
             |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // expression-aggregate alias addressable in HAVING and ORDER BY —
    // the alias names the output column, so post-aggregation clauses
    // compose exactly like the auto-aliases.
    "hashql_agg_expr_having" -> Q(
      (s, d) => run(s, d,
        "select customer.c_nationkey, " +
          "sum(case when customer.c_acctbal < 0.0 then 1 else 0 end) " +
          "as overdrawn from customer group by customer.c_nationkey " +
          "having overdrawn >= 1 " +
          "order by overdrawn desc, customer.c_nationkey limit 10"),
      Some("""SELECT c_nationkey,
             |  CAST(sum(CASE WHEN c_acctbal < 0.0 THEN 1 ELSE 0 END)
             |       AS BIGINT) AS overdrawn
             |FROM customer GROUP BY c_nationkey
             |HAVING CAST(sum(CASE WHEN c_acctbal < 0.0 THEN 1 ELSE 0 END)
             |       AS BIGINT) >= 1
             |ORDER BY overdrawn DESC, c_nationkey LIMIT 10""".stripMargin)),

    // scalar subquery under `=` (round-9 growth, verdict #5): broadcast
    // the 1-row aggregate and filter — `where t.f = (select max(…)…)` is
    // the most common scalar spelling.
    "hashql_eq_scalar" -> Q(
      (s, d) => run(s, d,
        "select part.p_partkey, part.p_size from part " +
          "where part.p_size = (select max(part.p_size) from part)"),
      Some("""SELECT p_partkey, p_size FROM part
             |WHERE p_size = (SELECT max(p_size) FROM part)""".stripMargin)),

    // ---- round-10 growth: expressions in WHERE / with GROUP BY ----

    // computed expression on the LEFT of a comparison (r9 verdict missing
    // #1): the WHERE and SELECT grammars share one expression language,
    // lowered to a scan-side codegen'd filter.
    "hashql_expr_where" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_orderkey, lineitem.l_linenumber from lineitem " +
          "where lineitem.l_quantity * (1 + lineitem.l_linenumber) >= 300.0 " +
          "and lineitem.l_returnflag = 'A'"),
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem
             |WHERE l_quantity * (1 + l_linenumber) >= 300.0
             |AND l_returnflag = 'A'""".stripMargin)),

    // column-to-column inequality (round-10 FIX: `t.a > t.b` used to
    // lex the right side as the literal string "t.b" — only `=` had a
    // colref arm; now it lowers through the expression comparison).
    "hashql_cmp_col" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_orderkey, lineitem.l_linenumber from lineitem " +
          "where lineitem.l_discount > lineitem.l_tax " +
          "and lineitem.l_returnflag = 'R'"),
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem
             |WHERE l_discount > l_tax AND l_returnflag = 'R'""".stripMargin)),

    // scalar expressions over GROUPING KEYS compose with aggregation —
    // computed on the aggregated (group-count-sized) frame, free at scale.
    "hashql_expr_groupkey" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_linenumber, lineitem.l_linenumber * 10 as ln10, " +
          "count(*) from lineitem group by lineitem.l_linenumber"),
      Some("""SELECT l_linenumber, CAST(l_linenumber * 10 AS BIGINT) AS ln10,
             |  count(*) AS cnt
             |FROM lineitem GROUP BY l_linenumber""".stripMargin)),

    // `<>` against a scalar subquery (r9 verdict missing #5 second half):
    // same broadcast-compare plan as `=`, negated.
    "hashql_ne_scalar" -> Q(
      (s, d) => run(s, d,
        "select part.p_partkey, part.p_size from part " +
          "where part.p_size <> (select max(part.p_size) from part) " +
          "and part.p_size >= 48"),
      Some("""SELECT p_partkey, p_size FROM part
             |WHERE p_size <> (SELECT max(p_size) FROM part)
             |AND p_size >= 48""".stripMargin)),

    // scalar functions in the expression grammar (round-10 growth):
    // string tier — upper/length/substr, composing with arithmetic and
    // the WHERE grammar (length(...) >= 8 is a computed comparison).
    "hashql_string_funcs" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, upper(customer.c_name) as un, " +
          "length(customer.c_name) as ln, " +
          "substr(customer.c_name, 10, 9) as tail " +
          "from customer where customer.c_custkey <= 100 " +
          "and length(customer.c_name) >= 8"),
      Some("""SELECT c_custkey, upper(c_name) AS un, length(c_name) AS ln,
             |  substr(c_name, 10, 9) AS tail
             |FROM customer WHERE c_custkey <= 100 AND length(c_name) >= 8""".stripMargin)),

    // date parts from a timestamp column — year/month/day pinned BIGINT
    // on both engines.
    "hashql_date_parts" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_orderkey, lineitem.l_linenumber, " +
          "year(lineitem.l_shipdate) as y, month(lineitem.l_shipdate) as m, " +
          "day(lineitem.l_shipdate) as dd " +
          "from lineitem where lineitem.l_orderkey <= 200"),
      Some("""SELECT l_orderkey, l_linenumber, year(l_shipdate) AS y,
             |  month(l_shipdate) AS m, day(l_shipdate) AS dd
             |FROM lineitem WHERE l_orderkey <= 200""".stripMargin)),

    // date-literal range filter on a timestamp column (the TPC-H Q1
    // shipdate idiom): the quoted literal coerces to timestamp in the
    // comparison on BOTH engines, and the predicate pushes to the scan.
    "hashql_date_filter" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_orderkey, lineitem.l_linenumber from lineitem " +
          "where lineitem.l_shipdate >= '2001-06-01' " +
          "and lineitem.l_shipdate < '2001-09-01'"),
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem
             |WHERE l_shipdate >= '2001-06-01'
             |AND l_shipdate < '2001-09-01'""".stripMargin)),

    // round-10 scalar-function growth: concat + replace (string tier).
    // concat null-propagates on the Spark side, so the oracle spells it
    // as the `||` chain — DuckDB's own concat() skips NULLs instead.
    "hashql_concat_replace" -> Q(
      (s, d) => run(s, d,
        "select concat(customer.c_mktsegment, '_', " +
          "replace(customer.c_name, 'Customer#', '')) as tag " +
          "from customer where customer.c_custkey < 50"),
      Some("""SELECT c_mktsegment || '_' || replace(c_name, 'Customer#', '') AS tag
             |FROM customer WHERE c_custkey < 50""".stripMargin)),

    // round(x, scale) (half away from zero on both engines), the `%`
    // operator at `* /` precedence, and its mod() spelling — all over
    // BIGINT/DOUBLE columns so the output types line up engine-to-engine.
    "hashql_round_mod" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_orderkey, round(lineitem.l_quantity / 7, 2) as q7, " +
          "lineitem.l_orderkey % 7 as m7, mod(lineitem.l_orderkey, 5) as m5 " +
          "from lineitem where lineitem.l_orderkey <= 100"),
      Some("""SELECT l_orderkey, round(l_quantity / 7, 2) AS q7,
             |  l_orderkey % 7 AS m7, mod(l_orderkey, 5) AS m5
             |FROM lineitem WHERE l_orderkey <= 100""".stripMargin)),

    // running min/max windows with explicit `as` re-aliases (round-10
    // growth; the ANSI default RANGE frame — Spark and DuckDB agree, and
    // l_linenumber is unique per order so the running prefix is
    // deterministic).
    "hashql_win_minmax" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_orderkey, lineitem.l_linenumber, " +
          "min(lineitem.l_quantity) over (partition by lineitem.l_orderkey " +
          "order by lineitem.l_linenumber) as lo, " +
          "max(lineitem.l_quantity) over (partition by lineitem.l_orderkey " +
          "order by lineitem.l_linenumber) as hi " +
          "from lineitem where lineitem.l_orderkey <= 100"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  min(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS lo,
             |  max(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS hi
             |FROM lineitem WHERE l_orderkey <= 100""".stripMargin)),

    // the monthly-rollup idiom: date_trunc as a computed grouping key.
    // DuckDB's date_trunc('month', ts) returns DATE where Spark returns
    // TIMESTAMP — the oracle casts so the schemas line up.
    "hashql_date_trunc" -> Q(
      (s, d) => run(s, d,
        "select date_trunc('month', lineitem.l_shipdate) as mo, " +
          "count(*), sum(lineitem.l_quantity) as qty " +
          "from lineitem group by mo"),
      Some("""SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS mo,
             |  count(*) AS cnt, sum(l_quantity) AS qty
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // `||` chains fold to one null-propagating n-ary concat — the ANSI
    // spelling of hashql_concat_replace's function form.
    "hashql_concat_op" -> Q(
      (s, d) => run(s, d,
        "select customer.c_name || '/' || customer.c_mktsegment as tag " +
          "from customer where customer.c_custkey < 50"),
      Some("""SELECT c_name || '/' || c_mktsegment AS tag
             |FROM customer WHERE c_custkey < 50""".stripMargin)),

    // explicit casts: number→string for composite keys, double→long
    // (l_quantity is integer-valued, so DuckDB's rounding CAST and
    // Spark's truncating one agree here — the general rule is on ECast).
    "hashql_cast" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_orderkey, cast(lineitem.l_quantity as long) as q, " +
          "cast(lineitem.l_orderkey as string) || ':' || " +
          "cast(lineitem.l_linenumber as string) as k " +
          "from lineitem where lineitem.l_orderkey <= 100"),
      Some("""SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS q,
             |  CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR) AS k
             |FROM lineitem WHERE l_orderkey <= 100""".stripMargin)),

    // expressions over aggregates (round-10 growth): the TPC-H Q14
    // promo-share shape — a ratio of two sums in one global aggregation.
    // All inputs are integer-valued doubles, so the sums are exact in
    // either engine's summation order and the single IEEE division is
    // bitwise-deterministic (no rounding shim needed).
    "hashql_agg_arith" -> Q(
      (s, d) => run(s, d,
        "select sum(case when lineitem.l_linenumber = 1 " +
          "then lineitem.l_quantity else 0.0 end) * 100 / " +
          "sum(lineitem.l_quantity) as promo from lineitem"),
      Some("""SELECT sum(CASE WHEN l_linenumber = 1 THEN l_quantity ELSE 0.0 END)
             |  * 100 / sum(l_quantity) AS promo FROM lineitem""".stripMargin)),

    // grouped ratio: per-order mean quantity — sum/count computed in the
    // SAME groupBy pass as the projected count (one shuffle).
    "hashql_group_mean" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_orderkey, sum(lineitem.l_quantity) / count(*) " +
          "as mean_qty, count(*) as cnt from lineitem " +
          "group by lineitem.l_orderkey"),
      Some("""SELECT l_orderkey, sum(l_quantity) / count(*) AS mean_qty,
             |  count(*) AS cnt FROM lineitem GROUP BY 1""".stripMargin)),

    // dialect set ops beyond UNION (round-10 growth): INTERSECT /
    // EXCEPT, positional, names from the first branch.
    "hashql_intersect" -> Q(
      (s, d) => run(s, d,
        "select customer.c_nationkey from customer " +
          "intersect select supplier.s_nationkey from supplier"),
      Some("""SELECT c_nationkey FROM customer
             |INTERSECT SELECT s_nationkey FROM supplier""".stripMargin)),

    "hashql_except" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey from orders " +
          "except select customer.c_custkey from customer " +
          "where customer.c_custkey >= 100"),
      Some("""SELECT o_custkey FROM orders
             |EXCEPT SELECT c_custkey FROM customer
             |WHERE c_custkey >= 100""".stripMargin)),

    // ntile buckets over a unique order key (deterministic).
    "hashql_ntile" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, ntile(4) over (order by orders.o_orderkey) " +
          "from orders where orders.o_orderkey <= 100"),
      Some("""SELECT o_orderkey,
             |  CAST(ntile(4) OVER (ORDER BY o_orderkey) AS INT) AS ntl
             |FROM orders WHERE o_orderkey <= 100""".stripMargin)),

    // composite join keys (round-10 growth): `on a = b and c = d` —
    // one hash join on both key columns; never routes through a
    // single-pair materialized view.
    "hashql_join_composite" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, supplier.s_suppkey from customer " +
          "inner join supplier on customer.c_nationkey = supplier.s_nationkey " +
          "and customer.c_custkey = supplier.s_suppkey"),
      Some("""SELECT c_custkey, s_suppkey FROM customer
             |JOIN supplier ON c_nationkey = s_nationkey
             |AND c_custkey = s_suppkey""".stripMargin)),

    // coalesce / nullif compose inside the expression grammar.
    "hashql_nullif_coalesce" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, " +
          "coalesce(nullif(orders.o_orderstatus, 'O'), 'open') as st " +
          "from orders where orders.o_orderkey <= 300"),
      Some("""SELECT o_orderkey,
             |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS st
             |FROM orders WHERE o_orderkey <= 300""".stripMargin)),

    // GROUP BY a computed alias (round-10 growth): the time-rollup
    // idiom — the expression key evaluates scan-side BEFORE the
    // partial aggregation, so at 100 TB this is one shuffle on the
    // bucketed key like any grouped aggregate.
    "hashql_group_expr" -> Q(
      (s, d) => run(s, d,
        "select year(lineitem.l_shipdate) as y, count(*), " +
          "sum(lineitem.l_quantity) as sq from lineitem group by y " +
          "order by y"),
      Some("""SELECT year(l_shipdate) AS y, count(*) AS cnt,
             |  sum(l_quantity) AS sq
             |FROM lineitem GROUP BY y ORDER BY y""".stripMargin)),

    // UPDATE SET takes the full expression grammar (round-10): CASE WHEN
    // on the right-hand side; literal-VALUES oracle over the replayed
    // scenario.
    "hashql_update_case" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        Seq(("a", 10), ("b", 3), ("c", 25)).foreach { case (g, v) =>
          HashQL.execute(cat, s"insert into uc (g, v) values ('$g', $v)") }
        HashQL.execute(cat,
          "update uc set uc.v = case when uc.v >= 10 then uc.v * 2 " +
            "else uc.v + 100 end where uc.g <> 'c'")
        HashQL.execute(cat, "select uc.g, uc.v from uc").get
      },
      Some("""SELECT * FROM (VALUES
             |  ('a', CAST(20 AS BIGINT)),
             |  ('b', CAST(103 AS BIGINT)),
             |  ('c', CAST(25 AS BIGINT))
             |) AS t(g, v)""".stripMargin)),

    // dense_rank window (round-10 growth): rank without gaps, ties share.
    "hashql_dense_rank" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, orders.o_orderpriority, " +
          "dense_rank() over (partition by orders.o_orderpriority " +
          "order by orders.o_custkey) from orders " +
          "where orders.o_orderkey <= 500"),
      Some("""SELECT o_orderkey, o_orderpriority,
             |  CAST(dense_rank() OVER (PARTITION BY o_orderpriority
             |       ORDER BY o_custkey) AS INT) AS drnk
             |FROM orders WHERE o_orderkey <= 500""".stripMargin)),

    // subqueries under OR (r9 verdict missing #5): each subquery leaf
    // lowers to a boolean flag attached by one join; the disjunction
    // filters the flags — OR-of-EXISTS, the review's named idiom.
    "hashql_or_exists" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey from customer " +
          "where customer.c_nationkey = 0 or exists " +
          "(select orders.o_orderkey from orders " +
          "where orders.o_custkey = customer.c_custkey " +
          "and orders.o_totalprice >= 400000.0)"),
      Some("""SELECT c_custkey FROM customer
             |WHERE c_nationkey = 0 OR EXISTS
             |  (SELECT o_orderkey FROM orders
             |   WHERE o_custkey = c_custkey AND o_totalprice >= 400000.0)""".stripMargin)),

    // a CTE referenced twice materializes ONCE (localCheckpoint) — the
    // answers are the plain-CTE answers, and ScaleSpec asserts the body
    // plan reads the checkpoint instead of re-running the aggregation.
    "hashql_cte_shared" -> Q(
      (s, d) => run(s, d,
        "with c as (select orders.o_orderpriority, count(*) from orders " +
          "group by orders.o_orderpriority) " +
          "select c.o_orderpriority, c.cnt from c where c.cnt > 100 " +
          "union all select c.o_orderpriority, c.cnt from c where c.cnt <= 100"),
      Some("""WITH c AS (SELECT o_orderpriority, count(*) AS cnt
             |  FROM orders GROUP BY o_orderpriority)
             |SELECT o_orderpriority, cnt FROM c WHERE cnt > 100
             |UNION ALL
             |SELECT o_orderpriority, cnt FROM c WHERE cnt <= 100""".stripMargin)),

    // SUBSET containment over a materialized create join (r9 verdict #3):
    // a 2-table query answers from the 3-table pre-joined parquet because
    // region's clause was verified row-preserving at materialization
    // (unique key + total match); MatViewSpec asserts zero Join nodes and
    // that a fact-side drop still falls back.
    "matview_route_subset" -> Q(
      (s, d) => {
        val cat = tpchCat(s, d)
        val reg = new HashQL.JoinRegistry
        HashQL.execute(cat,
          "create join inner join nation on customer.c_nationkey = nation.n_nationkey " +
            "inner join region on nation.n_regionkey = region.r_regionkey",
          Some(reg))
        val tmp = java.nio.file.Files.createTempDirectory("graft_mvsub").toString
        val name = HashQL.materializeJoin(
          cat, reg, Set("customer", "nation", "region"), s"$tmp/view")
        val out = HashQL.execute(cat,
          "select customer.c_custkey, nation.n_name from customer " +
            "inner join nation on customer.c_nationkey = nation.n_nationkey",
          Some(reg)).get
        out.write.mode("overwrite").parquet(s"$tmp/result") // while routed
        graft.matview.MatView.drop(s, s"hashql:$name")
        s.read.parquet(s"$tmp/result")
      },
      Some("""SELECT c_custkey, n_name FROM customer
             |JOIN nation ON c_nationkey = n_nationkey""".stripMargin)),

    // multi-column UPDATE SET (round 11): both assignments evaluate
    // against the BEFORE image in one copy-on-write projection — SQL's
    // simultaneous semantics.
    "hashql_update_multi" -> Q(
      (s, d) => {
        val cat = peopleCat(s)
        HashQL.execute(cat,
          "update people set people.age = people.age + 1, " +
            "people.people_name = upper(people.people_name) " +
            "where people.age = 29")
        HashQL.execute(cat,
          "select people.people_name, people.age from people").get
      },
      Some("""SELECT * FROM (VALUES ('TED', 30), ('Fred', 45),
             |  ('SIMON', 30), ('SAM', 30)) AS p(people_name, age)""".stripMargin)),

    // ---- round 11: typed temporal tier -----------------------------

    // typed date literals + interval arithmetic in WHERE (the TPC-H Q1
    // shipdate idiom — r10 verdict #1): both predicates lower to native
    // timestamp comparisons, interval arithmetic folds at plan time, and
    // the filters push to the parquet scan (ScaleSpec asserts).
    "hashql_date_arith" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_orderkey, lineitem.l_linenumber from lineitem " +
          "where lineitem.l_shipdate <= date '2001-12-01' - interval '90' day " +
          "and lineitem.l_shipdate > date '2001-01-01' + interval '6' month"),
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem
             |WHERE l_shipdate <= DATE '2001-12-01' - INTERVAL 90 DAY
             |AND l_shipdate > DATE '2001-01-01' + INTERVAL 6 MONTH""".stripMargin)),

    // typed literals ride every literal position — BETWEEN and equality
    // compare the timestamp column against DATE values natively (no
    // string lexicographics), still a pushable scan-side filter.
    "hashql_date_between" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey from orders where orders.o_orderdate " +
          "between date '2001-03-01' and date '2001-06-30'"),
      Some("""SELECT o_orderkey FROM orders
             |WHERE o_orderdate BETWEEN DATE '2001-03-01' AND DATE '2001-06-30'""".stripMargin)),

    // date/timestamp CAST targets: timestamp → DATE truncates the time
    // part on both engines.
    "hashql_date_cast" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, cast(orders.o_orderdate as date) as od " +
          "from orders where orders.o_orderkey <= 200"),
      Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od
             |FROM orders WHERE o_orderkey <= 200""".stripMargin)),

    // TPC-H Q1 (pricing summary) in the dialect: typed interval WHERE,
    // aggregates over expressions, a ratio, multi-key GROUP BY + ORDER
    // BY. Money sums ride floor(x*100) cents — floor of the SAME double
    // is deterministic on both engines and the long sums are exact in
    // any order (the verify skill's exactness rule; a raw double sum
    // would hash-flip on summation order).
    "hashql_q1_pricing" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_returnflag, lineitem.l_linestatus, " +
          "sum(lineitem.l_quantity) as sum_qty, " +
          "sum(floor(lineitem.l_extendedprice * 100)) as base_cents, " +
          "sum(floor(lineitem.l_extendedprice * ( 1 - lineitem.l_discount ) * 100)) as disc_cents, " +
          "sum(floor(lineitem.l_extendedprice * ( 1 - lineitem.l_discount ) * ( 1 + lineitem.l_tax ) * 100)) as charge_cents, " +
          "sum(lineitem.l_quantity) / count(*) as avg_qty, " +
          "count(*) as count_order " +
          "from lineitem " +
          "where lineitem.l_shipdate <= date '2001-12-01' - interval '90' day " +
          "group by lineitem.l_returnflag, lineitem.l_linestatus " +
          "order by lineitem.l_returnflag, lineitem.l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  sum(l_quantity) AS sum_qty,
             |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS base_cents,
             |  CAST(sum(CAST(floor(l_extendedprice * ( 1 - l_discount ) * 100) AS BIGINT)) AS BIGINT) AS disc_cents,
             |  CAST(sum(CAST(floor(l_extendedprice * ( 1 - l_discount ) * ( 1 + l_tax ) * 100) AS BIGINT)) AS BIGINT) AS charge_cents,
             |  sum(l_quantity) / count(*) AS avg_qty,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= DATE '2001-12-01' - INTERVAL 90 DAY
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // TPC-H Q6 (forecasting revenue change) in the dialect: typed date
    // range + double BETWEEN + quantity bound, one scan-side filter into
    // a global aggregate. Revenue rides floor-cents (exact long sum —
    // see hashql_q1_pricing).
    "hashql_q6_forecast" -> Q(
      (s, d) => run(s, d,
        "select sum(floor(lineitem.l_extendedprice * lineitem.l_discount * 100)) " +
          "as revenue_cents, count(*) as n from lineitem " +
          "where lineitem.l_shipdate >= date '2000-01-01' " +
          "and lineitem.l_shipdate < date '2001-01-01' " +
          "and lineitem.l_discount between 0.02 and 0.07 " +
          "and lineitem.l_quantity < 24"),
      Some("""SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT)
             |    AS revenue_cents,
             |  count(*) AS n
             |FROM lineitem
             |WHERE l_shipdate >= DATE '2000-01-01' AND l_shipdate < DATE '2001-01-01'
             |AND l_discount BETWEEN 0.02 AND 0.07 AND l_quantity < 24""".stripMargin)),

    // TPC-H Q3 (shipping priority) shape: segment filter, 3-way join,
    // typed date bounds on BOTH fact tables, grouped revenue, top-10 by
    // revenue desc with a key tiebreak — the first "real" analyst query
    // the typed tier unlocks end-to-end.
    "hashql_q3_shipping" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_orderkey, " +
          "sum(floor(lineitem.l_extendedprice * ( 1 - lineitem.l_discount ) * 100)) " +
          "as revenue_cents " +
          "from customer " +
          "inner join orders on customer.c_custkey = orders.o_custkey " +
          "inner join lineitem on orders.o_orderkey = lineitem.l_orderkey " +
          "where customer.c_mktsegment = 'BUILDING' " +
          "and orders.o_orderdate < date '2001-03-15' " +
          "and lineitem.l_shipdate > date '2001-03-15' " +
          "group by lineitem.l_orderkey " +
          "order by revenue_cents desc, lineitem.l_orderkey limit 10"),
      Some("""SELECT l_orderkey,
             |  CAST(sum(CAST(floor(l_extendedprice * ( 1 - l_discount ) * 100) AS BIGINT)) AS BIGINT)
             |    AS revenue_cents
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |AND o_orderdate < DATE '2001-03-15'
             |AND l_shipdate > DATE '2001-03-15'
             |GROUP BY l_orderkey
             |ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""".stripMargin)),

    // DECIMAL money math (round 11): the revenue sum runs over
    // decimal(18,2) — fixed-point partials are EXACT and
    // order-independent, the money-type answer to "doubles flip on
    // summation order". The t2 comparator can't hash DECIMAL output
    // columns (Arrow-lossy on the oracle side), so the typed sum is
    // emitted two lossless ways: integral cents (BIGINT) and the
    // canonical decimal STRING rendering — both prove the fixed-point
    // value bit-for-bit.
    "hashql_decimal_money" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_returnflag, " +
          "cast(sum(cast(lineitem.l_extendedprice as decimal(18, 2))) * 100 " +
          "as long) as base_cents, " +
          "cast(cast(sum(cast(lineitem.l_extendedprice as decimal(18, 2))) " +
          "as decimal(18, 2)) as string) as base_repr, " +
          "count(*) as n from lineitem " +
          "where lineitem.l_shipdate >= date '2000-06-01' " +
          "group by lineitem.l_returnflag " +
          "order by lineitem.l_returnflag"),
      Some("""SELECT l_returnflag,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 2))) * 100 AS BIGINT)
             |    AS base_cents,
             |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 2))) AS DECIMAL(18, 2))
             |    AS VARCHAR) AS base_repr,
             |  count(*) AS n
             |FROM lineitem
             |WHERE l_shipdate >= DATE '2000-06-01'
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // TPC-H Q5 (local supplier volume) shape: SIX tables left-deep with
    // a COMPOSITE ON (supplier joins on l_suppkey AND the
    // customer=supplier nation equality — Q5's signature condition),
    // region filter + typed date band, grouped floor-cents revenue per
    // nation, order by revenue desc.
    "hashql_q5_supplier" -> Q(
      (s, d) => run(s, d,
        "select nation.n_name, " +
          "sum(floor(lineitem.l_extendedprice * ( 1 - lineitem.l_discount ) * 100)) " +
          "as revenue_cents " +
          "from customer " +
          "inner join orders on customer.c_custkey = orders.o_custkey " +
          "inner join lineitem on orders.o_orderkey = lineitem.l_orderkey " +
          "inner join supplier on lineitem.l_suppkey = supplier.s_suppkey " +
          "and customer.c_nationkey = supplier.s_nationkey " +
          "inner join nation on supplier.s_nationkey = nation.n_nationkey " +
          "inner join region on nation.n_regionkey = region.r_regionkey " +
          "where region.r_name = 'MIDDLE EAST' " +
          "and orders.o_orderdate >= date '1996-01-01' " +
          "and orders.o_orderdate < date '1999-01-01' " +
          "group by nation.n_name " +
          "order by revenue_cents desc, nation.n_name"),
      Some("""SELECT n_name,
             |  CAST(sum(CAST(floor(l_extendedprice * ( 1 - l_discount ) * 100) AS BIGINT)) AS BIGINT)
             |    AS revenue_cents
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'MIDDLE EAST'
             |AND o_orderdate >= DATE '1996-01-01'
             |AND o_orderdate < DATE '1999-01-01'
             |GROUP BY n_name
             |ORDER BY revenue_cents DESC, n_name""".stripMargin)),

    // TPC-H Q10 (returned-item reporting) shape: returnflag filter +
    // quarter date band, multi-key grouping incl. the nation attribute,
    // top 20 by lost revenue (tiebreak on the key for a deterministic
    // row set).
    "hashql_q10_returns" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_name, nation.n_name, " +
          "sum(floor(lineitem.l_extendedprice * ( 1 - lineitem.l_discount ) * 100)) " +
          "as revenue_cents " +
          "from customer " +
          "inner join orders on customer.c_custkey = orders.o_custkey " +
          "inner join lineitem on orders.o_orderkey = lineitem.l_orderkey " +
          "inner join nation on customer.c_nationkey = nation.n_nationkey " +
          "where lineitem.l_returnflag = 'R' " +
          "and orders.o_orderdate >= date '2000-01-01' " +
          "and orders.o_orderdate < date '2000-07-01' " +
          "group by customer.c_custkey, customer.c_name, nation.n_name " +
          "order by revenue_cents desc, customer.c_custkey limit 20"),
      Some("""SELECT c_custkey, c_name, n_name,
             |  CAST(sum(CAST(floor(l_extendedprice * ( 1 - l_discount ) * 100) AS BIGINT)) AS BIGINT)
             |    AS revenue_cents
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE l_returnflag = 'R'
             |AND o_orderdate >= DATE '2000-01-01'
             |AND o_orderdate < DATE '2000-07-01'
             |GROUP BY c_custkey, c_name, n_name
             |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin)),

    // ---- round 11: correlated scalar subqueries (r10 verdict #2) ----

    // decorrelated to ONE groupBy(o_orderkey).agg + ONE left equi-join
    // (ScaleSpec asserts: no per-row execution, no nested-loop/cartesian
    // join). max keeps the comparison deterministic (order-independent
    // over doubles); orders with no lineitems compare against NULL and
    // drop — ANSI, and DuckDB's native correlated plan agrees.
    "hashql_scalar_corr" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, orders.o_totalprice from orders " +
          "where orders.o_totalprice > ( select max(lineitem.l_extendedprice) " +
          "from lineitem where lineitem.l_orderkey = orders.o_orderkey )"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_totalprice > ( SELECT max(l_extendedprice)
             |  FROM lineitem WHERE l_orderkey = o_orderkey )""".stripMargin)),

    // the COUNT edge: a correlated count over an EMPTY set is 0, not
    // NULL (the join miss coalesces for count aggregates only) —
    // customers with no orders and c_nationkey = 0 survive `<=` here;
    // a NULL-semantics bug would silently drop them.
    "hashql_scalar_corr_count" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_nationkey from customer " +
          "where customer.c_nationkey <= ( select count(*) from orders " +
          "where orders.o_custkey = customer.c_custkey )"),
      Some("""SELECT c_custkey, c_nationkey FROM customer
             |WHERE c_nationkey <= ( SELECT count(*) FROM orders
             |  WHERE o_custkey = c_custkey )""".stripMargin)),

    // NOT over a scalar compare is THREE-VALUED (the r10 advice's
    // coalesce defect): a NULL lhs makes the comparison UNKNOWN and NOT
    // keeps it UNKNOWN — the row drops, exactly like the conjunct
    // spelling and ANSI. Mystery (no age) must NOT appear.
    "hashql_not_scalar_null" -> Q(
      (s, d) => {
        val cat = peopleCat(s)
        HashQL.execute(cat, "insert into people (people_name) values ('Mystery')")
        HashQL.execute(cat,
          "select people.people_name from people where not " +
            "( people.age = ( select max(people.age) from people ) )").get
      },
      Some("""WITH people AS (SELECT * FROM (VALUES
             |    ('Ted', 29), ('Fred', 45), ('Simon', 29), ('Sam', 29),
             |    ('Mystery', NULL))
             |  AS p(people_name, age))
             |SELECT people_name FROM people
             |WHERE NOT ( age = ( SELECT max(age) FROM people ) )""".stripMargin)),

    // scalar subqueries in the PROJECTION list (round 11): the
    // correlated form attaches each customer's order count by the same
    // decorrelated groupBy + left-join plan as the WHERE-side compare —
    // count's empty-group-is-0 edge included (customers with no orders
    // show 0, not NULL).
    "hashql_scalar_proj" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, " +
          "( select count(*) from orders " +
          "where orders.o_custkey = customer.c_custkey ) as n_orders " +
          "from customer where customer.c_custkey <= 200"),
      Some("""SELECT c_custkey,
             |  ( SELECT count(*) FROM orders WHERE o_custkey = c_custkey )
             |    AS n_orders
             |FROM customer WHERE c_custkey <= 200""".stripMargin)),

    // the uncorrelated projection form broadcasts ONE row — the
    // "share of the global max" idiom alongside a plain field.
    "hashql_scalar_proj_global" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, orders.o_totalprice, " +
          "( select max(orders.o_totalprice) from orders ) as global_max " +
          "from orders where orders.o_orderkey <= 100"),
      Some("""SELECT o_orderkey, o_totalprice,
             |  ( SELECT max(o_totalprice) FROM orders ) AS global_max
             |FROM orders WHERE o_orderkey <= 100""".stripMargin)),

    // ---- round 11: regexp/string tier 2 (r10 verdict #3) ------------

    // rlike predicate + regexp_extract/regexp_replace/split_part — Java
    // regex semantics; the oracle pins DuckDB equivalences
    // (regexp_matches for RLIKE, the 'g' flag for replace-ALL).
    "hashql_regexp" -> Q(
      (s, d) => run(s, d,
        "select customer.c_name, " +
          "regexp_extract(customer.c_name, 'Customer#0*([1-9][0-9]*)', 1) as num, " +
          "regexp_replace(customer.c_name, '[0-9]', '#') as masked, " +
          "split_part(customer.c_name, '#', 2) as tail " +
          "from customer where customer.c_custkey <= 50 " +
          "and customer.c_name rlike 'Customer#[0-9]+'"),
      Some("""SELECT c_name,
             |  regexp_extract(c_name, 'Customer#0*([1-9][0-9]*)', 1) AS num,
             |  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
             |  split_part(c_name, '#', 2) AS tail
             |FROM customer WHERE c_custkey <= 50
             |AND regexp_matches(c_name, 'Customer#[0-9]+')""".stripMargin)),

    // computed heads take IN and BETWEEN (round-11): the year-bucket
    // membership idiom, desugared to comparison trees at parse.
    "hashql_expr_in" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_orderkey, lineitem.l_linenumber from lineitem " +
          "where year(lineitem.l_shipdate) in (1996, 1998) " +
          "and month(lineitem.l_shipdate) between 2 and 4"),
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem
             |WHERE year(l_shipdate) IN (1996, 1998)
             |AND month(l_shipdate) BETWEEN 2 AND 4""".stripMargin)),

    // string tier 3 (round-11): instr (1-based, 0 absent), lpad/rpad,
    // boolean containment tests — semantics identical on both engines.
    "hashql_string_tier3" -> Q(
      (s, d) => run(s, d,
        "select customer.c_name, instr(customer.c_name, '#') as pos, " +
          "lpad(customer.c_mktsegment, 12, '.') as seg, " +
          "rpad(customer.c_mktsegment, 4, '_') as seg4 " +
          "from customer where customer.c_custkey <= 100 " +
          "and contains(customer.c_name, '#') " +
          "and starts_with(customer.c_name, 'Customer') " +
          "and not ends_with(customer.c_name, '0')"),
      Some("""SELECT c_name, instr(c_name, '#') AS pos,
             |  lpad(c_mktsegment, 12, '.') AS seg,
             |  rpad(c_mktsegment, 4, '_') AS seg4
             |FROM customer WHERE c_custkey <= 100
             |AND contains(c_name, '#')
             |AND starts_with(c_name, 'Customer')
             |AND NOT ends_with(c_name, '0')""".stripMargin)),

    // anchored rlike + infix NOT RLIKE (three-valued like every
    // comparison).
    "hashql_rlike" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_mktsegment from customer " +
          "where customer.c_mktsegment rlike '^(BU|MA)' " +
          "and customer.c_name not rlike '[13579]$' " +
          "and customer.c_custkey <= 300"),
      Some("""SELECT c_custkey, c_mktsegment FROM customer
             |WHERE regexp_matches(c_mktsegment, '^(BU|MA)')
             |AND NOT regexp_matches(c_name, '[13579]$')
             |AND c_custkey <= 300""".stripMargin)),

    // ---- round 11: window growth (r10 verdict #4) --------------------

    // full ROWS BETWEEN frame — the centered moving sum.
    "hashql_win_frame" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_orderkey, lineitem.l_linenumber, " +
          "sum(lineitem.l_quantity) over (partition by lineitem.l_orderkey " +
          "order by lineitem.l_linenumber " +
          "rows between 1 preceding and 1 following) as winq " +
          "from lineitem where lineitem.l_orderkey <= 100"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
             |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS winq
             |FROM lineitem WHERE l_orderkey <= 100""".stripMargin)),

    // first_value under the default frame; last_value needs the
    // unbounded-following frame to mean "the partition's last" (the ANSI
    // default frame ends at the current row — both engines agree).
    "hashql_first_last" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, orders.o_custkey, " +
          "first_value(orders.o_totalprice) over (partition by orders.o_custkey " +
          "order by orders.o_orderkey) as fv, " +
          "last_value(orders.o_totalprice) over (partition by orders.o_custkey " +
          "order by orders.o_orderkey " +
          "rows between unbounded preceding and unbounded following) as lv " +
          "from orders where orders.o_orderkey <= 500"),
      Some("""SELECT o_orderkey, o_custkey,
             |  first_value(o_totalprice) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderkey) AS fv,
             |  last_value(o_totalprice) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv
             |FROM orders WHERE o_orderkey <= 500""".stripMargin)),

    // GROUP BY the expression itself (round-11: the other spelling of
    // the round-10 alias form — both lower to one scan-side computed
    // key) + the quarter date part.
    "hashql_group_by_expr" -> Q(
      (s, d) => run(s, d,
        "select year(orders.o_orderdate) as y, quarter(orders.o_orderdate) as q, " +
          "count(*), " +
          "sum(floor(orders.o_totalprice * 100)) / count(*) as avg_cents " +
          "from orders " +
          "group by year(orders.o_orderdate), quarter(orders.o_orderdate) " +
          "order by y, q"),
      Some("""SELECT year(o_orderdate) AS y, quarter(o_orderdate) AS q,
             |  count(*) AS cnt,
             |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    / count(*) AS avg_cents
             |FROM orders
             |GROUP BY year(o_orderdate), quarter(o_orderdate)
             |ORDER BY y, q""".stripMargin)),

    // window COUNT (round-11): group size per row without collapsing —
    // the dedup-rank / fan-out-inspection idiom.
    "hashql_win_count" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, orders.o_custkey, " +
          "count(*) over (partition by orders.o_custkey) as wcnt " +
          "from orders where orders.o_orderkey <= 500"),
      Some("""SELECT o_orderkey, o_custkey,
             |  count(*) OVER (PARTITION BY o_custkey) AS wcnt
             |FROM orders WHERE o_orderkey <= 500""".stripMargin)),

    // QUALIFY (round-11; DuckDB-native): the grouped top-k idiom —
    // top-2 orders per customer by price, one window + one post-window
    // filter (no self-join); the trailing o_orderkey tiebreak makes the
    // row set deterministic under ties.
    "hashql_qualify" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, orders.o_orderkey, " +
          "row_number() over (partition by orders.o_custkey " +
          "order by orders.o_totalprice desc, orders.o_orderkey) as rn " +
          "from orders where orders.o_orderkey <= 2000 " +
          "qualify rn <= 2"),
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(row_number() OVER (PARTITION BY o_custkey
             |    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
             |FROM orders WHERE o_orderkey <= 2000
             |QUALIFY rn <= 2""".stripMargin)),

    // QUALIFY takes the same grammar: the first and third order per
    // customer, an OR over the window output.
    "hashql_qualify_or" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, orders.o_orderkey, " +
          "row_number() over (partition by orders.o_custkey " +
          "order by orders.o_totalprice desc, orders.o_orderkey) as rn " +
          "from orders where orders.o_orderkey <= 2000 " +
          "qualify rn = 1 or rn = 3"),
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(row_number() OVER (PARTITION BY o_custkey
             |    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
             |FROM orders WHERE o_orderkey <= 2000
             |QUALIFY rn = 1 OR rn = 3""".stripMargin)),

    // ORDER BY over expressions (round-11): sort keys run the full
    // scalar grammar over output columns; the trailing unique key keeps
    // the LIMIT deterministic.
    "hashql_order_expr" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_name from customer " +
          "where customer.c_custkey <= 100 " +
          "order by length(customer.c_name) desc, " +
          "customer.c_custkey % 7, customer.c_custkey limit 20"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey <= 100
             |ORDER BY length(c_name) DESC, c_custkey % 7, c_custkey
             |LIMIT 20""".stripMargin)),

    // ---- round 12: non-equality correlation --------------------------

    // RANGE correlation in a scalar subquery (r11 verdict #7): the
    // count's subset depends on the outer row's own acctbal — planned as
    // distinct outer (custkey, acctbal) tuples → hash join on the
    // equality key with the range riding the condition → per-tuple
    // aggregate → one broadcastable back-join; never a per-row
    // execution, never a nested loop (ScaleSpec asserts). The count
    // coalesces to 0 on empty subsets (ANSI), so order-less customers
    // with positive nationkeys survive. (The compare HEAD is an integer
    // column: the dialect casts the lhs to the scalar's type — long here
    // — so a double head against a count would truncate.)
    "hashql_scalar_corr_range" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey from customer " +
          "where customer.c_nationkey > ( select count(*) from orders " +
          "where orders.o_custkey = customer.c_custkey " +
          "and orders.o_totalprice < customer.c_acctbal )"),
      Some("""SELECT c_custkey FROM customer
             |WHERE c_nationkey > ( SELECT count(*) FROM orders
             |  WHERE o_custkey = c_custkey AND o_totalprice < c_acctbal )""".stripMargin)),

    // EXISTS with a non-equality cross conjunct (round 12 — the TPC-H
    // Q21 shape): the range comparison rides the semi-join CONDITION
    // next to the equality key — one hash join, extras post-filtered.
    "hashql_exists_noneq" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey from customer " +
          "where exists ( select orders.o_orderkey from orders " +
          "where orders.o_custkey = customer.c_custkey " +
          "and orders.o_totalprice > customer.c_acctbal )"),
      Some("""SELECT c_custkey FROM customer
             |WHERE EXISTS ( SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_totalprice > c_acctbal )""".stripMargin)),

    // NOT EXISTS with a cross INEQUALITY (`s_suppkey <> c_custkey` —
    // Q21's `l2.l_suppkey <> l1.l_suppkey` shape): anti-join on the
    // equality key, the inequality in the condition; UNKNOWN (null side)
    // is no match, exactly the per-row semantics.
    "hashql_not_exists_noneq" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey from customer " +
          "where not exists ( select supplier.s_suppkey from supplier " +
          "where supplier.s_nationkey = customer.c_nationkey " +
          "and supplier.s_suppkey <> customer.c_custkey " +
          "and supplier.s_suppkey <= 3 )"),
      Some("""SELECT c_custkey FROM customer
             |WHERE NOT EXISTS ( SELECT 1 FROM supplier
             |  WHERE s_nationkey = c_nationkey AND s_suppkey <> c_custkey
             |  AND s_suppkey <= 3 )""".stripMargin)),

    // HAVING right-hand side as an EXPRESSION over output columns
    // (round 12 — r11 missing #2): nations whose custkey sum exceeds
    // 800 × their row count. Exact long arithmetic on both sides.
    "hashql_having_expr" -> Q(
      (s, d) => run(s, d,
        "select customer.c_nationkey, count(*), sum(customer.c_custkey) " +
          "from customer group by customer.c_nationkey " +
          "having sum(customer.c_custkey) > cnt * 800"),
      Some("""SELECT c_nationkey, count(*) AS cnt,
             |  CAST(sum(c_custkey) AS BIGINT) AS sum_c_custkey
             |FROM customer GROUP BY c_nationkey
             |HAVING sum(c_custkey) > count(*) * 800""".stripMargin)),

    // QUALIFY expression RHS (round 12): keep all but each customer's
    // LAST-ranked order — `rn <= n - 1` compares two window outputs.
    "hashql_qualify_expr" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, orders.o_orderkey, " +
          "row_number() over (partition by orders.o_custkey " +
          "order by orders.o_totalprice desc, orders.o_orderkey) as rn, " +
          "count(*) over (partition by orders.o_custkey) as n " +
          "from orders where orders.o_orderkey <= 2000 " +
          "qualify rn <= n - 1"),
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(row_number() OVER (PARTITION BY o_custkey
             |    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn,
             |  count(*) OVER (PARTITION BY o_custkey) AS n
             |FROM orders WHERE o_orderkey <= 2000
             |QUALIFY rn <= n - 1""".stripMargin)),

    // BARE `group by <expr>` (round 12 — r11 missing #4): the key
    // auto-projects under a reserved alias, computes once scan-side, and
    // is STRIPPED from the output — orders-per-year counts, no key col.
    "hashql_group_expr_bare" -> Q(
      (s, d) => run(s, d,
        "select count(*) from orders group by year(orders.o_orderdate)"),
      Some("SELECT count(*) AS cnt FROM orders GROUP BY year(o_orderdate)")),

    // ---- round 12: table aliases / self-joins (r11 verdict #1) -------

    // SELF-JOIN via aliases: line pairs within an order. Each alias
    // binds a reserved-renamed frame, so the same table joins itself
    // with zero ambiguous columns; the projection restores the
    // user-visible names. ONE equi-join, two scans of the same parquet —
    // no cartesian (HashQLSpec + ScaleSpec assert).
    "hashql_self_join" -> Q(
      (s, d) => run(s, d,
        "select l1.l_orderkey, l1.l_linenumber, l2.l_linenumber as ln2, " +
          "l2.l_suppkey as sup2 from lineitem l1 " +
          "inner join lineitem l2 on l1.l_orderkey = l2.l_orderkey " +
          "where l1.l_linenumber < l2.l_linenumber and l1.l_orderkey <= 500"),
      Some("""SELECT l1.l_orderkey, l1.l_linenumber, l2.l_linenumber AS ln2,
             |  l2.l_suppkey AS sup2
             |FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
             |WHERE l1.l_linenumber < l2.l_linenumber AND l1.l_orderkey <= 500""".stripMargin)),

    // TPC-H Q21 (suppliers who kept waiting) shape: 4-way join with an
    // aliased fact, a cross-table date comparison, an EXISTS demanding
    // ANOTHER supplier on the same order (self-join correlation with a
    // cross inequality) and a NOT EXISTS excluding orders where any
    // OTHER supplier shipped late — the full multi-subquery self-join
    // composition. (The testdata lacks receipt/commit dates; the late
    // test rides l_shipdate cutoffs instead — same plan shape.)
    "hashql_q21_waiting" -> Q(
      (s, d) => run(s, d,
        "select supplier.s_name, count(*) as numwait from supplier " +
          "inner join lineitem l1 on supplier.s_suppkey = l1.l_suppkey " +
          "inner join orders on l1.l_orderkey = orders.o_orderkey " +
          "inner join nation on supplier.s_nationkey = nation.n_nationkey " +
          "where orders.o_orderstatus = 'F' " +
          "and nation.n_name in ('NATION_3', 'NATION_7') " +
          "and l1.l_shipdate > orders.o_orderdate " +
          "and exists ( select l2.l_orderkey from lineitem l2 " +
          "where l2.l_orderkey = l1.l_orderkey " +
          "and l2.l_suppkey <> l1.l_suppkey ) " +
          "and not exists ( select l3.l_orderkey from lineitem l3 " +
          "where l3.l_orderkey = l1.l_orderkey " +
          "and l3.l_suppkey <> l1.l_suppkey " +
          "and l3.l_shipdate > date '2000-06-30' ) " +
          "group by supplier.s_name " +
          "order by numwait desc, supplier.s_name limit 10"),
      Some("""SELECT s_name, count(*) AS numwait
             |FROM supplier
             |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
             |JOIN orders ON l1.l_orderkey = o_orderkey
             |JOIN nation ON s_nationkey = n_nationkey
             |WHERE o_orderstatus = 'F'
             |AND n_name IN ('NATION_3', 'NATION_7')
             |AND l1.l_shipdate > o_orderdate
             |AND EXISTS ( SELECT 1 FROM lineitem l2
             |  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey )
             |AND NOT EXISTS ( SELECT 1 FROM lineitem l3
             |  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
             |  AND l3.l_shipdate > DATE '2000-06-30' )
             |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin)),

    // ---- round 12: more TPC-H shapes on the new machinery ------------

    // TPC-H Q14 (promo revenue share): a RATIO of conditional aggregates
    // — CASE-gated floor-cents sum over total floor-cents sum. The longs
    // are exact in any summation order; the single long/long division is
    // one IEEE op, bitwise-deterministic on both engines (no rounding
    // shim needed).
    "hashql_q14_promo" -> Q(
      (s, d) => run(s, d,
        "select 100 * sum(case when part.p_type like 'PROMO%' " +
          "then floor(lineitem.l_extendedprice * ( 1 - lineitem.l_discount ) * 100) " +
          "else 0 end) / " +
          "sum(floor(lineitem.l_extendedprice * ( 1 - lineitem.l_discount ) * 100)) " +
          "as promo_pct, count(*) as n " +
          "from lineitem inner join part on lineitem.l_partkey = part.p_partkey " +
          "where lineitem.l_shipdate >= date '2000-09-01' " +
          "and lineitem.l_shipdate < date '2000-10-01'"),
      Some("""SELECT CAST(100 * sum(CASE WHEN p_type LIKE 'PROMO%'
             |    THEN CAST(floor(l_extendedprice * ( 1 - l_discount ) * 100) AS BIGINT)
             |    ELSE 0 END) AS BIGINT) /
             |  CAST(sum(CAST(floor(l_extendedprice * ( 1 - l_discount ) * 100) AS BIGINT)) AS BIGINT)
             |    AS promo_pct,
             |  count(*) AS n
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE l_shipdate >= DATE '2000-09-01'
             |AND l_shipdate < DATE '2000-10-01'""".stripMargin)),

    // TPC-H Q17 (small-quantity-order revenue): a correlated scalar
    // whose value is an EXPRESSION over an aggregate (0.2 * avg) —
    // decorrelated to one groupBy(l_partkey) + one left equi-join; avg
    // over integer-valued doubles is exact, so the comparison is
    // deterministic.
    "hashql_q17_smallqty" -> Q(
      (s, d) => run(s, d,
        "select sum(floor(lineitem.l_extendedprice * 100)) as total_cents, " +
          "count(*) as n " +
          "from lineitem inner join part on lineitem.l_partkey = part.p_partkey " +
          "where part.p_brand = 'Brand#12' " +
          "and lineitem.l_quantity < ( select 0.2 * avg(l2.l_quantity) as t " +
          "from lineitem l2 where l2.l_partkey = lineitem.l_partkey )"),
      Some("""SELECT CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  count(*) AS n
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE p_brand = 'Brand#12'
             |AND l_quantity < ( SELECT 0.2 * avg(l2.l_quantity)
             |  FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey )""".stripMargin)),

    // TPC-H Q18 (large-volume customers): IN over a grouped-HAVING
    // subquery whose aggregate is NOT projected (round-12 HAVING
    // machinery) — one column out, one semi-join in; then the classic
    // multi-key rollup with a top-100 by price.
    "hashql_q18_volume" -> Q(
      (s, d) => run(s, d,
        "select customer.c_name, customer.c_custkey, orders.o_orderkey, " +
          "orders.o_totalprice, sum(lineitem.l_quantity) as sum_qty " +
          "from customer " +
          "inner join orders on customer.c_custkey = orders.o_custkey " +
          "inner join lineitem on orders.o_orderkey = lineitem.l_orderkey " +
          "where orders.o_orderkey in ( select lineitem.l_orderkey " +
          "from lineitem group by lineitem.l_orderkey " +
          "having sum(lineitem.l_quantity) > 250 ) " +
          "group by customer.c_name, customer.c_custkey, orders.o_orderkey, " +
          "orders.o_totalprice " +
          "order by orders.o_totalprice desc, orders.o_orderkey limit 100"),
      Some("""SELECT c_name, c_custkey, o_orderkey, o_totalprice,
             |  sum(l_quantity) AS sum_qty
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE o_orderkey IN ( SELECT l_orderkey FROM lineitem
             |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250 )
             |GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // RANGE interval frames (round 12 — r11 missing #5): each order's
    // trailing-30-day order count per customer — `range between interval
    // '30' day preceding and current row` over the temporal key, lowered
    // to Spark's native numeric rangeBetween on the key's day number
    // (whole-day windows; the oracle casts to DATE for the same
    // day-granular frame).
    "hashql_win_range_days" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, orders.o_orderkey, " +
          "count(*) over (partition by orders.o_custkey " +
          "order by orders.o_orderdate " +
          "range between interval '30' day preceding and current row) as n30 " +
          "from orders where orders.o_orderkey <= 3000"),
      Some("""SELECT o_custkey, o_orderkey,
             |  count(*) OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
             |    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS n30
             |FROM orders WHERE o_orderkey <= 3000""".stripMargin)),

    // first/last_value WITH TIEBREAK under a RANGE frame (round 14 —
    // the r13 queue's #4, un-rejecting the r12-advice reject): the pick
    // is the struct-extremum over (order key, tiebreak, value) — a
    // peer-INSENSITIVE min/max, deterministic for ANY data; both
    // engines compare structs field-order lexicographically.
    "hashql_first_last_range" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, orders.o_orderkey, " +
          "first_value(orders.o_totalprice, orders.o_orderkey) over " +
          "(partition by orders.o_custkey order by orders.o_orderdate " +
          "range between interval '90' day preceding and current row) " +
          "as fv, " +
          "last_value(orders.o_totalprice, orders.o_orderkey) over " +
          "(partition by orders.o_custkey order by orders.o_orderdate " +
          "range between interval '90' day preceding and current row) " +
          "as lv " +
          "from orders where orders.o_orderkey <= 3000"),
      Some("""SELECT o_custkey, o_orderkey,
             |  (min({'k': CAST(o_orderdate AS DATE), 't': o_orderkey,
             |        'v': o_totalprice}) OVER
             |    (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
             |     RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)).v
             |    AS fv,
             |  (max({'k': CAST(o_orderdate AS DATE), 't': o_orderkey,
             |        'v': o_totalprice}) OVER
             |    (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
             |     RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)).v
             |    AS lv
             |FROM orders WHERE o_orderkey <= 3000""".stripMargin)),

    // scalar tier 6 (round 14): ANSI EXTRACT (parse-time sugar for the
    // date parts), null-skipping concat_ws (both engines skip NULL
    // args), and ln/exp/log2/log10. The logarithms/exponential are NOT
    // correctly-rounded across libms (unlike sqrt/power — probed: last-
    // ulp diffs on ~15% of values), so the oracle compares them at a
    // floor-scaled micro precision where the engines agree exactly; the
    // documented contract is "double within 1 ulp".
    "hashql_scalar_tier6" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, " +
          "extract(year from orders.o_orderdate) as y, " +
          "extract(month from orders.o_orderdate) as m, " +
          "concat_ws('-', orders.o_orderstatus, " +
          "orders.o_orderpriority) as cw, " +
          "floor(ln(cast(orders.o_orderkey + 1 as double)) " +
          "* 1000000.0) as l, " +
          "floor(exp(cast(mod(orders.o_orderkey, 5) as double)) " +
          "* 1000000.0) as ex, " +
          "floor(log2(cast(orders.o_orderkey + 1 as double)) " +
          "* 1000000.0) as l2, " +
          "floor(log10(cast(orders.o_orderkey + 1 as double)) " +
          "* 1000000.0) as l10 " +
          "from orders where orders.o_orderkey <= 300 " +
          "order by orders.o_orderkey"),
      Some("""SELECT o_orderkey,
             |  extract(year FROM o_orderdate) AS y,
             |  extract(month FROM o_orderdate) AS m,
             |  concat_ws('-', o_orderstatus, o_orderpriority) AS cw,
             |  CAST(floor(ln(CAST(o_orderkey + 1 AS DOUBLE))
             |    * 1000000.0) AS BIGINT) AS l,
             |  CAST(floor(exp(CAST(mod(o_orderkey, 5) AS DOUBLE))
             |    * 1000000.0) AS BIGINT) AS ex,
             |  CAST(floor(log2(CAST(o_orderkey + 1 AS DOUBLE))
             |    * 1000000.0) AS BIGINT) AS l2,
             |  CAST(floor(log10(CAST(o_orderkey + 1 AS DOUBLE))
             |    * 1000000.0) AS BIGINT) AS l10
             |FROM orders WHERE o_orderkey <= 300
             |ORDER BY o_orderkey""".stripMargin)),

    // date_part + make_date (round 14): DuckDB's function spelling of
    // EXTRACT (parse-time desugar) and DATE construction from integer
    // parts — both engine-shared.
    "hashql_date_part_make" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, " +
          "date_part('quarter', orders.o_orderdate) as q, " +
          "make_date(1995, mod(orders.o_orderkey, 12) + 1, 15) as md " +
          "from orders where orders.o_orderkey <= 300 " +
          "order by orders.o_orderkey"),
      Some("""SELECT o_orderkey,
             |  date_part('quarter', o_orderdate) AS q,
             |  make_date(1995, mod(o_orderkey, 12) + 1, 15) AS md
             |FROM orders WHERE o_orderkey <= 300
             |ORDER BY o_orderkey""".stripMargin)),

    // IGNORE NULLS (round 14, DuckDB's in-paren spelling): lag skips
    // NULL values when picking the offset row, first_value the frame's
    // leading NULLs — the gap-fill / last-observation idioms. The
    // oracle builds the same rows inline and runs DuckDB's own IGNORE
    // NULLS, so the semantics (not just values) are cross-checked.
    "hashql_ignore_nulls" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into sig (o, v) values (1, 10), (2, null), " +
            "(3, null), (4, 40)")
        HashQL.execute(cat,
          "select sig.o, lag(sig.v ignore nulls) over " +
            "(order by sig.o) as pv, " +
            "first_value(sig.v ignore nulls) over " +
            "(order by sig.o desc) as lastnn " +
            "from sig order by sig.o").get
      },
      Some("""WITH sig(o, v) AS (VALUES (1, 10), (2, NULL), (3, NULL),
             |  (4, 40))
             |SELECT o, lag(v IGNORE NULLS) OVER (ORDER BY o) AS pv,
             |  first_value(v IGNORE NULLS) OVER (ORDER BY o DESC)
             |    AS lastnn
             |FROM sig ORDER BY o""".stripMargin)),

    // BETWEEN with EXPRESSION bounds (round 14): the banding idiom —
    // totalprice within ±10% of a computed center; literal bounds keep
    // their pushdown-friendly shape, expression bounds ride the
    // comparison tier.
    "hashql_between_expr" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey from orders " +
          "where orders.o_totalprice between " +
          "cast(orders.o_orderkey as double) * 10.0 - 5000.0 and " +
          "cast(orders.o_orderkey as double) * 10.0 + 50000.0 " +
          "and orders.o_orderkey <= 2000 order by orders.o_orderkey"),
      Some("""SELECT o_orderkey FROM orders
             |WHERE o_totalprice BETWEEN
             |  CAST(o_orderkey AS DOUBLE) * 10.0 - 5000.0 AND
             |  CAST(o_orderkey AS DOUBLE) * 10.0 + 50000.0
             |  AND o_orderkey <= 2000
             |ORDER BY o_orderkey""".stripMargin)),

    // list tier (round 14): len / list_contains / array_to_string over
    // split's regex-delimited arrays — the word-count / membership /
    // re-join idioms on the documents table, all scan-side codegen.
    "hashql_list_funcs" -> Q(
      (s, d) => run(s, d,
        "select documents.doc_id, " +
          "len(split(documents.text, ' ')) as nw, " +
          "list_contains(split(documents.text, ' '), 'the') as hast, " +
          "array_to_string(split(documents.text, ','), '|') as ats " +
          "from documents where documents.doc_id <= 200 " +
          "order by documents.doc_id"),
      Some("""SELECT doc_id,
             |  len(string_split_regex(text, ' ')) AS nw,
             |  list_contains(string_split_regex(text, ' '), 'the') AS hast,
             |  array_to_string(string_split_regex(text, ','), '|') AS ats
             |FROM documents WHERE doc_id <= 200
             |ORDER BY doc_id""".stripMargin)),

    // PIVOT (round 14 — DuckDB's simplified PIVOT with an explicit IN
    // list): per-linestatus quantity sums spread over the return
    // flags — ONE partial-agg'd aggregation (explicit values = no
    // distinct-values pre-job), empty sum cells NULL on both engines.
    "hashql_pivot" -> Q(
      (s, d) => run(s, d,
        "pivot lineitem on lineitem.l_returnflag in ('A', 'N', 'R') " +
          "using sum(lineitem.l_quantity) group by lineitem.l_linestatus"),
      Some("""PIVOT lineitem ON l_returnflag IN ('A', 'N', 'R')
             |USING sum(l_quantity) GROUP BY l_linestatus""".stripMargin)),

    // PIVOT with count (round 14): DuckDB renders empty count cells 0
    // where Spark's pivot leaves NULL — the lowering coalesces for
    // engine parity.
    "hashql_pivot_count" -> Q(
      (s, d) => run(s, d,
        "pivot orders on orders.o_orderstatus in ('O', 'F', 'P') " +
          "using count(*) group by orders.o_orderpriority"),
      Some("""PIVOT orders ON o_orderstatus IN ('O', 'F', 'P')
             |USING count(*) GROUP BY o_orderpriority""".stripMargin)),

    // DYNAMIC PIVOT (round 15 — the r14 queue's #3): no IN list — ONE
    // bounded distinct-values probe (limit cap+1, sorted, NULLs
    // excluded; beyond the cap it rejects toward the explicit list),
    // then the SAME explicit-values plan (≤4 aggregate nodes, no
    // distinct-values job leaking into the aggregation itself).
    "hashql_pivot_dynamic" -> Q(
      (s, d) => run(s, d,
        "pivot lineitem on lineitem.l_returnflag " +
          "using sum(lineitem.l_quantity) group by lineitem.l_linestatus"),
      Some("""PIVOT lineitem ON l_returnflag
             |USING sum(l_quantity) GROUP BY l_linestatus""".stripMargin)),

    // multi-aggregate PIVOT (round 16): several USING aggregates ride
    // ONE aggregation pass — columns <value>_<alias> on both engines;
    // empty COUNT cells render 0 on both.
    "hashql_pivot_multi_agg" -> Q(
      (s, d) => run(s, d,
        "pivot lineitem on lineitem.l_returnflag " +
          "using sum(lineitem.l_quantity) as q, count(*) as n, " +
          "max(lineitem.l_discount) as mx " +
          "group by lineitem.l_linestatus"),
      Some("""PIVOT lineitem ON l_returnflag
             |USING sum(l_quantity) AS q, count(*) AS n,
             |  max(l_discount) AS mx
             |GROUP BY l_linestatus""".stripMargin)),

    // UNNEST in FROM position (round 15 — the r14 queue's #2): explode
    // a list-valued expression over the preceding row — ONE per-row
    // Generate, zero shuffles, the filter still pushed to the scan.
    // The tokenize-and-count idiom every text pipeline starts with.
    "hashql_unnest" -> Q(
      (s, d) => run(s, d,
        "select documents.doc_id, u.w from documents, " +
          "unnest(split(documents.text, ' ')) as u(w) " +
          "where documents.doc_id <= 20 order by documents.doc_id, u.w"),
      Some("""SELECT d.doc_id, u.w
             |FROM documents d, unnest(string_split_regex(d.text, ' ')) AS u(w)
             |WHERE d.doc_id <= 20 ORDER BY d.doc_id, u.w""".stripMargin)),

    // generate_series in FROM position (round 15): the calendar /
    // gap-fill source — inclusive bounds (DuckDB parity), one
    // explode(sequence(…)) over a 1-row range, zero shuffles.
    "hashql_series" -> Q(
      (s, d) => run(s, d,
        "select g.i, g.i * 3 as t from generate_series(1, 50) g(i) " +
          "order by g.i"),
      Some("""SELECT g.i, g.i * 3 AS t FROM generate_series(1, 50) g(i)
             |ORDER BY g.i""".stripMargin)),

    // generate_series DATE series (round 15): interval-stepped calendar.
    "hashql_series_date" -> Q(
      (s, d) => run(s, d,
        "select g.d from generate_series(cast('1996-01-01' as date), " +
          "cast('1996-03-01' as date), interval '1' week) g(d) " +
          "order by g.d"),
      Some("""SELECT CAST(g.d AS DATE) AS d FROM generate_series(
             |  DATE '1996-01-01', DATE '1996-03-01', INTERVAL 7 DAY) g(d)
             |ORDER BY d""".stripMargin)),

    // LATERAL body OFFSET (round 15 — the r14 queue's #6): the
    // second-best-per-key idiom — rank window `off < rn <= off+k`, the
    // upper bound still riding WindowGroupLimit.
    "hashql_lateral_offset" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, x.ok from customer, " +
          "lateral ( select orders.o_orderkey as ok from orders " +
          "where orders.o_custkey = customer.c_custkey " +
          "order by orders.o_totalprice desc, orders.o_orderkey " +
          "limit 1 offset 1 ) x where customer.c_custkey <= 60 " +
          "order by customer.c_custkey"),
      Some("""SELECT c.c_custkey, x.ok FROM customer c,
             |LATERAL (SELECT o.o_orderkey AS ok FROM orders o
             |  WHERE o.o_custkey = c.c_custkey
             |  ORDER BY o.o_totalprice DESC, o.o_orderkey
             |  LIMIT 1 OFFSET 1) x
             |WHERE c.c_custkey <= 60 ORDER BY c.c_custkey""".stripMargin)),

    // LATERAL body DISTINCT (round 15): dedup BEFORE the rank — the
    // distinct-statuses-per-customer shape; ORDER BY is restricted to
    // projected columns (ANSI), so the surviving rows are deterministic.
    "hashql_lateral_distinct" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, x.st from customer, " +
          "lateral ( select distinct orders.o_orderstatus as st " +
          "from orders where orders.o_custkey = customer.c_custkey " +
          "order by st limit 2 ) x where customer.c_custkey <= 60 " +
          "order by customer.c_custkey, x.st"),
      Some("""SELECT c.c_custkey, x.st FROM customer c,
             |LATERAL (SELECT DISTINCT o.o_orderstatus AS st FROM orders o
             |  WHERE o.o_custkey = c.c_custkey ORDER BY st LIMIT 2) x
             |WHERE c.c_custkey <= 60
             |ORDER BY c.c_custkey, x.st""".stripMargin)),

    // PURE-RANGE-correlated EXISTS (round 15 — the r14 queue's #5): no
    // equality key, ONE range conjunct — reduces to GLOBAL min/max
    // stats (`∃ o.totalprice > c.acctbal` ⇔ `max(totalprice) >
    // acctbal`): one 1-row aggregate broadcast, constant work per outer
    // row, NO join at any scale (better than any banded range join).
    "hashql_exists_range" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey from customer where exists " +
          "(select orders.o_totalprice from orders " +
          "where orders.o_totalprice < customer.c_acctbal) " +
          "and customer.c_custkey <= 200 order by customer.c_custkey"),
      Some("""SELECT c_custkey FROM customer WHERE EXISTS
             |  (SELECT o_totalprice FROM orders
             |   WHERE o_totalprice < customer.c_acctbal)
             |AND c_custkey <= 200 ORDER BY c_custkey""".stripMargin)),

    // ASOF JOIN (round 15 — DuckDB's ASOF JOIN, dialect-level over
    // operators.AsOfJoin): latest fresh row at-or-before each probe
    // row per key — union + ONE key shuffle + one window pass, never
    // the per-key cross join a range-condition join would plan. Bare
    // form drops unmatched probes (DuckDB); LEFT NULL-extends.
    "hashql_asof_join" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into tr15 (sym, tts, px) values ('a', 3, 10), " +
            "('a', 7, 20), ('b', 1, 5), ('a', 12, 30)")
        HashQL.execute(cat,
          "insert into qt15 (qsym, qts, bid) values ('a', 1, 1), " +
            "('a', 5, 5), ('a', 9, 9), ('b', 4, 2)")
        HashQL.execute(cat,
          "select tr15.sym, tr15.tts, tr15.px, qt15.bid from tr15 " +
            "asof join qt15 on tr15.sym = qt15.qsym " +
            "and qt15.qts <= tr15.tts " +
            "order by tr15.sym, tr15.tts").get
      },
      Some("""WITH tr(sym, tts, px) AS (VALUES ('a', 3, 10), ('a', 7, 20),
             |  ('b', 1, 5), ('a', 12, 30)),
             |qt(qsym, qts, bid) AS (VALUES ('a', 1, 1), ('a', 5, 5),
             |  ('a', 9, 9), ('b', 4, 2))
             |SELECT tr.sym, tr.tts, tr.px, qt.bid FROM tr
             |ASOF JOIN qt ON tr.sym = qt.qsym AND qt.qts <= tr.tts
             |ORDER BY tr.sym, tr.tts""".stripMargin)),

    // ASOF LEFT JOIN, FORWARD direction (round 15): earliest fresh row
    // at-or-after the probe (next-event-after lookup); unmatched probes
    // NULL-extend.
    "hashql_asof_left_forward" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into al15 (sym, tts) values ('a', 3), ('a', 7), " +
            "('b', 1)")
        HashQL.execute(cat,
          "insert into ql15 (qsym, qts, bid) values ('a', 1, 1), " +
            "('a', 5, 5), ('a', 9, 9)")
        HashQL.execute(cat,
          "select al15.sym, al15.tts, ql15.bid from al15 " +
            "asof left join ql15 on al15.sym = ql15.qsym " +
            "and ql15.qts >= al15.tts " +
            "order by al15.sym, al15.tts").get
      },
      Some("""WITH t(sym, tts) AS (VALUES ('a', 3), ('a', 7), ('b', 1)),
             |q(qsym, qts, bid) AS (VALUES ('a', 1, 1), ('a', 5, 5),
             |  ('a', 9, 9))
             |SELECT t.sym, t.tts, q.bid FROM t
             |ASOF LEFT JOIN q ON t.sym = q.qsym AND q.qts >= t.tts
             |ORDER BY t.sym, t.tts""".stripMargin)),

    // `* EXCLUDE / REPLACE` star modifiers (round 15 — DuckDB's): the
    // wide-table idiom — project everything except the heavy column,
    // rewrite one column in place keeping its position and name.
    // Desugars to the explicit item list; column pruning still reaches
    // the scan (ReadSchema drops the excluded columns).
    "hashql_star_modifiers" -> Q(
      (s, d) => run(s, d,
        "select * exclude (p_retailprice, p_type) " +
          "replace (lower(part.p_brand) as p_brand) from part " +
          "where part.p_partkey <= 200 order by part.p_partkey"),
      Some("""SELECT * EXCLUDE (p_retailprice, p_type)
             |REPLACE (lower(p_brand) AS p_brand) FROM part
             |WHERE p_partkey <= 200 ORDER BY p_partkey""".stripMargin)),

    // INSERT … ON CONFLICT (round 15 — DuckDB's upsert verb): DO UPDATE
    // reads the incoming row through excluded.*; desugars onto MERGE
    // (one join + one anti join + one commit). The oracle EXECUTES the
    // real ON CONFLICT in DuckDB over a PRIMARY KEY temp table.
    "hashql_upsert" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into oc15 (k, v) values ('a', 1), ('b', 2)")
        HashQL.execute(cat,
          "insert into oc15 (k, v) values ('a', 10), ('c', 30) " +
            "on conflict (k) do update set oc15.v = excluded.v + oc15.v")
        HashQL.execute(cat,
          "insert into oc15 (k, v) values ('b', 99), ('d', 4) " +
            "on conflict (k) do nothing")
        HashQL.execute(cat,
          "select oc15.k, oc15.v from oc15 order by oc15.k").get
      },
      Some("""CREATE TEMP TABLE g15oc(k VARCHAR PRIMARY KEY, v BIGINT);
             |INSERT INTO g15oc VALUES ('a', 1), ('b', 2);
             |INSERT INTO g15oc VALUES ('a', 10), ('c', 30)
             |  ON CONFLICT (k) DO UPDATE SET v = excluded.v + g15oc.v;
             |INSERT INTO g15oc VALUES ('b', 99), ('d', 4)
             |  ON CONFLICT (k) DO NOTHING;
             |SELECT k, v FROM g15oc ORDER BY k""".stripMargin)),

    // string_agg with WITHIN-GROUP ORDER BY (round 15 — DuckDB's
    // `string_agg(x, sep ORDER BY k)`): collect (key, value) structs,
    // sort (value is the deterministic tiebreaker), join — still
    // partitioning-independent, one aggregation pass.
    "hashql_string_agg_order" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, string_agg(orders.o_orderstatus, ',' " +
          "order by orders.o_orderkey) as st from orders " +
          "where orders.o_custkey <= 100 group by orders.o_custkey " +
          "order by orders.o_custkey"),
      Some("""SELECT o_custkey, string_agg(o_orderstatus, ','
             |  ORDER BY o_orderkey) AS st
             |FROM orders WHERE o_custkey <= 100
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // INSERT/DELETE … RETURNING (round 15 — DuckDB/Postgres): the
    // statement's result IS its delta frame (already in hand for the
    // O(delta) hooks — zero extra passes). The oracle EXECUTES the same
    // DML in DuckDB and returns the real RETURNING rows.
    "hashql_returning" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into ret15 (k, v) values ('a', 1), ('b', 2), ('c', 3)")
        HashQL.execute(cat,
          "delete from ret15 where ret15.v <= 2 returning k, v").get
          .orderBy("k")
      },
      Some("""CREATE TEMP TABLE g15rt(k VARCHAR, v BIGINT);
             |INSERT INTO g15rt VALUES ('a', 1), ('b', 2), ('c', 3);
             |DELETE FROM g15rt WHERE v <= 2 RETURNING k, v""".stripMargin)),

    // UPDATE … RETURNING (round 15): the after-image of the matched
    // rows — DuckDB executes the same statement oracle-side.
    "hashql_update_returning" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into ur15 (k, v) values ('a', 1), ('b', 2), ('c', 3)")
        HashQL.execute(cat,
          "update ur15 set ur15.v = ur15.v * 10 where ur15.v >= 2 " +
            "returning k, v").get
      },
      Some("""CREATE TEMP TABLE g15ur(k VARCHAR, v BIGINT);
             |INSERT INTO g15ur VALUES ('a', 1), ('b', 2), ('c', 3);
             |UPDATE g15ur SET v = v * 10 WHERE v >= 2
             |RETURNING k, v""".stripMargin)),

    // COPY TO / FROM (round 15 — DuckDB's COPY as the dialect source/
    // sink verb): parquet out, re-register, query the round-trip — the
    // oracle computes the same aggregate from the original table
    // (COPY is lossless by construction).
    "hashql_copy_roundtrip" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        cat.register("part", graft.core.Tables.t(s, d, "part"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft_copy_q").toString
        HashQL.execute(cat, s"copy part to '$dir/p' (format parquet)")
        HashQL.execute(cat, s"copy partc from '$dir/p' (format parquet)")
        HashQL.execute(cat,
          "select partc.p_brand, count(*) as cnt, " +
            "sum(partc.p_size) as sz from partc " +
            "group by partc.p_brand order by partc.p_brand").get
      },
      Some("""SELECT p_brand, count(*) AS cnt,
             |  CAST(sum(p_size) AS BIGINT) AS sz
             |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // COPY TO … PARTITION_BY (round 16): hive-partitioned parquet
    // export (the lang/date pretraining-shard shape) — COPY FROM reads
    // it back through partition discovery, keys intact; the aggregate
    // proves the round trip losslessly. Partition-value inference would
    // re-type numeric-looking keys, so the group key also COUNTs per
    // partition directory.
    "hashql_copy_partitioned" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        cat.register("part", graft.core.Tables.t(s, d, "part"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft_copy_p").toString
        HashQL.execute(cat,
          s"copy part to '$dir/p' (format parquet, partition_by (p_brand))")
        HashQL.execute(cat, s"copy partp from '$dir/p' (format parquet)")
        HashQL.execute(cat,
          "select partp.p_brand, count(*) as cnt, " +
            "sum(partp.p_size) as sz from partp " +
            "group by partp.p_brand order by partp.p_brand").get
      },
      Some("""SELECT p_brand, count(*) AS cnt,
             |  CAST(sum(p_size) AS BIGINT) AS sz
             |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // Tuple (a, b) IN subquery (round 15): the composite-key membership
    // test — ONE semi join over all key pairs (the multi-key
    // decontamination idiom); NOT form rejects toward NOT EXISTS.
    "hashql_tuple_in" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_orderkey, lineitem.l_linenumber, " +
          "lineitem.l_quantity from lineitem " +
          "where (lineitem.l_orderkey, lineitem.l_linenumber) in " +
          "(select lineitem.l_orderkey, lineitem.l_linenumber " +
          "from lineitem where lineitem.l_quantity >= 49) " +
          "and lineitem.l_orderkey <= 2000 " +
          "order by lineitem.l_orderkey, lineitem.l_linenumber"),
      // this DuckDB predates tuple-IN subqueries — the oracle spells the
      // equivalent EXISTS (identical under WHERE with non-NULL keys)
      Some("""SELECT l.l_orderkey, l.l_linenumber, l.l_quantity
             |FROM lineitem l
             |WHERE EXISTS (SELECT 1 FROM lineitem b
             |  WHERE b.l_quantity >= 49 AND b.l_orderkey = l.l_orderkey
             |  AND b.l_linenumber = l.l_linenumber)
             |AND l.l_orderkey <= 2000
             |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin)),

    // CTE-headed DML (round 15 — `with staged as (…) insert|delete|
    // update|merge …`): the CTE scope binds around the statement; the
    // oracle EXECUTES the same CTE-headed DML in DuckDB.
    "hashql_with_dml" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into cd15 (k, v) values ('a', 1), ('b', 2), ('c', 30)")
        HashQL.execute(cat,
          "with big as (select cd15.k, cd15.v from cd15 " +
            "where cd15.v >= 2) " +
            "insert into ar15 (k, v) select big.k, big.v from big")
        HashQL.execute(cat,
          "with doomed as (select cd15.k from cd15 where cd15.v > 10) " +
            "delete from cd15 where cd15.k in " +
            "(select doomed.k from doomed)")
        // row order is irrelevant (the checker canonicalizes)
        HashQL.execute(cat,
          "select cd15.k, cd15.v from cd15 " +
            "union all select ar15.k, ar15.v from ar15").get
      },
      Some("""CREATE TEMP TABLE g15cd(k VARCHAR, v BIGINT);
             |INSERT INTO g15cd VALUES ('a', 1), ('b', 2), ('c', 30);
             |CREATE TEMP TABLE g15ar(k VARCHAR, v BIGINT);
             |WITH big AS (SELECT k, v FROM g15cd WHERE v >= 2)
             |INSERT INTO g15ar SELECT k, v FROM big;
             |WITH doomed AS (SELECT k FROM g15cd WHERE v > 10)
             |DELETE FROM g15cd WHERE k IN (SELECT k FROM doomed);
             |SELECT k, v FROM g15cd
             |UNION ALL SELECT k, v FROM g15ar ORDER BY 1, 2""".stripMargin)),

    // UNPIVOT (round 14): melt three same-typed measures into
    // (name, value) rows — a per-row Expand, zero shuffles; NULL cells
    // drop (DuckDB semantics, filtered on the Spark side).
    "hashql_unpivot" -> Q(
      (s, d) => run(s, d,
        "unpivot part on (part.p_size, part.p_partkey) " +
          "into name m value v"),
      Some("""UNPIVOT part ON p_size, p_partkey
             |INTO NAME m VALUE v""".stripMargin)),

    // NULLABLE window order keys (round 14): a nullif-computed key
    // plants NULLs — the window's ASC pins NULLS LAST like the
    // statement-level ORDER BY (Spark's asc default is nulls-first,
    // DuckDB's nulls-last; unpinned, every O-status row would rank
    // FIRST on one engine and LAST on the other).
    "hashql_win_null_keys" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, rank() over " +
          "(partition by orders.o_custkey " +
          "order by nullif(orders.o_orderstatus, 'O'), " +
          "orders.o_orderkey) as r " +
          "from orders where orders.o_orderkey <= 2000 " +
          "order by orders.o_orderkey"),
      Some("""SELECT o_orderkey, rank() OVER (PARTITION BY o_custkey
             |  ORDER BY nullif(o_orderstatus, 'O'), o_orderkey) AS r
             |FROM orders WHERE o_orderkey <= 2000
             |ORDER BY o_orderkey""".stripMargin)),

    // ARITHMETIC window keys (round 14): `partition by t.k % 10` — the
    // expression-key machinery headed by a column; computes scan-side
    // under a reserved name, sheds after the window.
    "hashql_win_arith_key" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, orders.o_custkey, " +
          "rank() over (partition by orders.o_custkey % 10 " +
          "order by orders.o_orderkey) as r " +
          "from orders where orders.o_orderkey <= 2000 " +
          "order by orders.o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey,
             |  rank() OVER (PARTITION BY o_custkey % 10
             |    ORDER BY o_orderkey) AS r
             |FROM orders WHERE o_orderkey <= 2000
             |ORDER BY o_orderkey""".stripMargin)),

    // TPC-H Q4 (order priority checking) shape: grouped counts gated by
    // an EXISTS whose late-shipment test is a CROSS comparison
    // (l_shipdate > o_orderdate — inner column vs outer column, riding
    // the semi-join condition; the testdata lacks commit/receipt dates).
    "hashql_q4_priority" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderpriority, count(*) as order_count from orders " +
          "where orders.o_orderdate >= date '2000-01-01' " +
          "and orders.o_orderdate < date '2000-07-01' " +
          "and exists ( select lineitem.l_orderkey from lineitem " +
          "where lineitem.l_orderkey = orders.o_orderkey " +
          "and lineitem.l_shipdate > orders.o_orderdate ) " +
          "group by orders.o_orderpriority " +
          "order by orders.o_orderpriority"),
      Some("""SELECT o_orderpriority, count(*) AS order_count FROM orders
             |WHERE o_orderdate >= DATE '2000-01-01' AND o_orderdate < DATE '2000-07-01'
             |AND EXISTS ( SELECT 1 FROM lineitem
             |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate )
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // TPC-H Q7 (volume shipping) shape: SIX-way join with TWO ALIASES OF
    // NATION (supplier's vs customer's — inexpressible before round-12
    // aliases), the either-direction OR pair filter, year-bucketed
    // floor-cents revenue grouped by the restored alias names.
    "hashql_q7_volume" -> Q(
      (s, d) => run(s, d,
        "select n1.n_name as supp_nation, n2.n_name as cust_nation, " +
          "year(lineitem.l_shipdate) as l_year, " +
          "sum(floor(lineitem.l_extendedprice * ( 1 - lineitem.l_discount ) * 100)) " +
          "as revenue_cents " +
          "from supplier " +
          "inner join lineitem on supplier.s_suppkey = lineitem.l_suppkey " +
          "inner join orders on lineitem.l_orderkey = orders.o_orderkey " +
          "inner join customer on orders.o_custkey = customer.c_custkey " +
          "inner join nation n1 on supplier.s_nationkey = n1.n_nationkey " +
          "inner join nation n2 on customer.c_nationkey = n2.n_nationkey " +
          "where ( n1.n_name = 'NATION_1' and n2.n_name = 'NATION_2' " +
          "or n1.n_name = 'NATION_2' and n2.n_name = 'NATION_1' ) " +
          "and lineitem.l_shipdate between date '1996-01-01' and date '1997-12-31' " +
          "group by supp_nation, cust_nation, l_year " +
          "order by supp_nation, cust_nation, l_year"),
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |  year(l_shipdate) AS l_year,
             |  CAST(sum(CAST(floor(l_extendedprice * ( 1 - l_discount ) * 100) AS BIGINT)) AS BIGINT)
             |    AS revenue_cents
             |FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation n1 ON s_nationkey = n1.n_nationkey
             |JOIN nation n2 ON c_nationkey = n2.n_nationkey
             |WHERE ( n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2'
             |  OR n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1' )
             |AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
             |GROUP BY supp_nation, cust_nation, l_year
             |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // TPC-H Q19 (discounted revenue) shape: a disjunction of composite
    // brand/quantity/size bands over the join — one scan-side OR filter,
    // no plan blowup.
    "hashql_q19_bands" -> Q(
      (s, d) => run(s, d,
        "select sum(floor(lineitem.l_extendedprice * ( 1 - lineitem.l_discount ) * 100)) " +
          "as revenue_cents, count(*) as n " +
          "from lineitem inner join part on lineitem.l_partkey = part.p_partkey " +
          "where ( part.p_brand = 'Brand#12' and lineitem.l_quantity between 1 and 11 " +
          "and part.p_size between 1 and 5 ) " +
          "or ( part.p_brand = 'Brand#23' and lineitem.l_quantity between 10 and 20 " +
          "and part.p_size between 1 and 10 ) " +
          "or ( part.p_brand = 'Brand#34' and lineitem.l_quantity between 20 and 30 " +
          "and part.p_size between 1 and 15 )"),
      Some("""SELECT CAST(sum(CAST(floor(l_extendedprice * ( 1 - l_discount ) * 100) AS BIGINT)) AS BIGINT)
             |    AS revenue_cents,
             |  count(*) AS n
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE ( p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
             |  AND p_size BETWEEN 1 AND 5 )
             |OR ( p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
             |  AND p_size BETWEEN 1 AND 10 )
             |OR ( p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30
             |  AND p_size BETWEEN 1 AND 15 )""".stripMargin)),

    // TPC-H Q20 (potential part promotion) shape: NESTED IN subqueries —
    // the inner membership (promo parts) feeds the middle one (their
    // recent suppliers) feeds the outer semi-join. Two broadcastable
    // probes, no correlation needed.
    "hashql_q20_nested_in" -> Q(
      (s, d) => run(s, d,
        "select supplier.s_name from supplier " +
          "where supplier.s_suppkey in ( select lineitem.l_suppkey from lineitem " +
          "where lineitem.l_partkey in ( select part.p_partkey from part " +
          "where part.p_type = 'PROMO' and part.p_size <= 3 ) " +
          "and lineitem.l_shipdate >= date '2001-01-01' ) " +
          "order by supplier.s_name"),
      Some("""SELECT s_name FROM supplier WHERE s_suppkey IN (
             |  SELECT l_suppkey FROM lineitem WHERE l_partkey IN (
             |    SELECT p_partkey FROM part WHERE p_type = 'PROMO' AND p_size <= 3 )
             |  AND l_shipdate >= DATE '2001-01-01' )
             |ORDER BY s_name""".stripMargin)),

    // TPC-H Q22 (global sales opportunity) shape: an UNCORRELATED scalar
    // whose value is an expression over an aggregate (deterministic:
    // avg over exact floor-cents, one division), plus a NOT EXISTS with
    // a cross comparison — rich customers with no urgent order priced
    // above their own balance.
    "hashql_q22_opportunity" -> Q(
      (s, d) => run(s, d,
        "select customer.c_nationkey, count(*) as numcust, " +
          "sum(floor(customer.c_acctbal * 100)) as bal_cents from customer " +
          "where customer.c_acctbal > ( select avg(floor(c2.c_acctbal * 100)) / 100 " +
          "as a from customer c2 where c2.c_acctbal > 0 ) " +
          "and not exists ( select orders.o_orderkey from orders " +
          "where orders.o_custkey = customer.c_custkey " +
          "and orders.o_orderpriority = '1-URGENT' " +
          "and orders.o_totalprice > customer.c_acctbal ) " +
          "group by customer.c_nationkey " +
          "order by customer.c_nationkey"),
      Some("""SELECT c_nationkey, count(*) AS numcust,
             |  CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
             |FROM customer
             |WHERE c_acctbal > ( SELECT avg(CAST(floor(c2.c_acctbal * 100) AS BIGINT)) / 100
             |  FROM customer c2 WHERE c2.c_acctbal > 0 )
             |AND NOT EXISTS ( SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
             |  AND o_totalprice > c_acctbal )
             |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // TPC-H Q8 (national market share) shape: per-year ratio of a
    // CASE-gated floor-cents sum (the target nation's slice) to the
    // total — seven-way join with two nation aliases + region, grouped
    // by the computed year key. Exact longs, one deterministic division.
    "hashql_q8_share" -> Q(
      (s, d) => run(s, d,
        "select year(orders.o_orderdate) as o_year, " +
          "100 * sum(case when n2.n_name = 'NATION_5' " +
          "then floor(lineitem.l_extendedprice * ( 1 - lineitem.l_discount ) * 100) " +
          "else 0 end) / " +
          "sum(floor(lineitem.l_extendedprice * ( 1 - lineitem.l_discount ) * 100)) " +
          "as share_pct " +
          "from customer " +
          "inner join orders on customer.c_custkey = orders.o_custkey " +
          "inner join lineitem on orders.o_orderkey = lineitem.l_orderkey " +
          "inner join supplier on lineitem.l_suppkey = supplier.s_suppkey " +
          "inner join nation n1 on customer.c_nationkey = n1.n_nationkey " +
          "inner join nation n2 on supplier.s_nationkey = n2.n_nationkey " +
          "inner join region on n1.n_regionkey = region.r_regionkey " +
          "where region.r_name = 'MIDDLE EAST' " +
          "and orders.o_orderdate between date '1996-01-01' and date '1997-12-31' " +
          "group by o_year order by o_year"),
      Some("""SELECT year(o_orderdate) AS o_year,
             |  CAST(100 * sum(CASE WHEN n2.n_name = 'NATION_5'
             |    THEN CAST(floor(l_extendedprice * ( 1 - l_discount ) * 100) AS BIGINT)
             |    ELSE 0 END) AS BIGINT)
             |  / CAST(sum(CAST(floor(l_extendedprice * ( 1 - l_discount ) * 100) AS BIGINT)) AS BIGINT)
             |    AS share_pct
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation n1 ON c_nationkey = n1.n_nationkey
             |JOIN nation n2 ON s_nationkey = n2.n_nationkey
             |JOIN region ON n1.n_regionkey = r_regionkey
             |WHERE r_name = 'MIDDLE EAST'
             |AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
             |GROUP BY o_year ORDER BY o_year""".stripMargin)),

    // TPC-H Q13 (customer distribution) shape: orders-per-customer via
    // LEFT JOIN (order-less customers count 0), then the histogram of
    // those counts — a two-level aggregation staged through a CTE.
    "hashql_q13_custdist" -> Q(
      (s, d) => run(s, d,
        "with po as ( select customer.c_custkey, count(orders.o_orderkey) " +
          "from customer left join orders on customer.c_custkey = orders.o_custkey " +
          "group by customer.c_custkey ) " +
          "select po.cnt_o_orderkey as c_count, count(*) as custdist from po " +
          "group by c_count order by custdist desc, c_count desc"),
      Some("""WITH po AS ( SELECT c_custkey, count(o_orderkey) AS cnt_o_orderkey
             |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |  GROUP BY c_custkey )
             |SELECT cnt_o_orderkey AS c_count, count(*) AS custdist FROM po
             |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // TPC-H Q15 (top supplier) shape: a revenue CTE referenced TWICE —
    // the join side and the max-scalar subquery (the multiply-referenced
    // heavy CTE localCheckpoints, so the aggregation computes once).
    "hashql_q15_top_supplier" -> Q(
      (s, d) => run(s, d,
        "with revenue as ( select lineitem.l_suppkey, " +
          "sum(floor(lineitem.l_extendedprice * ( 1 - lineitem.l_discount ) * 100)) " +
          "as total_cents from lineitem " +
          "where lineitem.l_shipdate >= date '2001-01-01' " +
          "and lineitem.l_shipdate < date '2001-04-01' " +
          "group by lineitem.l_suppkey ) " +
          "select supplier.s_suppkey, supplier.s_name, revenue.total_cents " +
          "from supplier " +
          "inner join revenue on supplier.s_suppkey = revenue.l_suppkey " +
          "where revenue.total_cents = ( select max(revenue.total_cents) from revenue ) " +
          "order by supplier.s_suppkey"),
      Some("""WITH revenue AS ( SELECT l_suppkey,
             |  CAST(sum(CAST(floor(l_extendedprice * ( 1 - l_discount ) * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents
             |  FROM lineitem
             |  WHERE l_shipdate >= DATE '2001-01-01' AND l_shipdate < DATE '2001-04-01'
             |  GROUP BY l_suppkey )
             |SELECT s_suppkey, s_name, total_cents
             |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
             |WHERE total_cents = ( SELECT max(total_cents) FROM revenue )
             |ORDER BY s_suppkey""".stripMargin)),

    // DERIVED TABLES (round 12): `join ( select … ) name on …` — the
    // per-nation max joined back to find each nation's richest
    // customer(s); the FROM-subquery binds exactly like a CTE, and the
    // same-named join key collapses on the inner join.
    "hashql_from_subquery" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_acctbal, mx.max_c_acctbal " +
          "from customer " +
          "inner join ( select customer.c_nationkey, max(customer.c_acctbal) " +
          "from customer group by customer.c_nationkey ) mx " +
          "on customer.c_nationkey = mx.c_nationkey " +
          "where customer.c_acctbal = mx.max_c_acctbal " +
          "order by customer.c_custkey"),
      Some("""SELECT c_custkey, c_acctbal, max_c_acctbal
             |FROM customer
             |JOIN ( SELECT c_nationkey, max(c_acctbal) AS max_c_acctbal
             |  FROM customer GROUP BY c_nationkey ) mx
             |ON customer.c_nationkey = mx.c_nationkey
             |WHERE c_acctbal = max_c_acctbal
             |ORDER BY c_custkey""".stripMargin)),

    // ROLLUP (round 12): per-(returnflag, linestatus) quantity sums plus
    // per-returnflag subtotals and a grand total — one Expand + one
    // partial-agg'd shuffle (Spark-native), NULL keys marking subtotal
    // rows on both engines.
    "hashql_rollup" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_returnflag, lineitem.l_linestatus, " +
          "sum(lineitem.l_quantity) as sum_qty, count(*) as n from lineitem " +
          "group by rollup ( lineitem.l_returnflag, lineitem.l_linestatus ) " +
          "order by lineitem.l_returnflag, lineitem.l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
             |  count(*) AS n
             |FROM lineitem
             |GROUP BY ROLLUP ( l_returnflag, l_linestatus )
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // CUBE (round 12): every subtotal slice of the two keys.
    "hashql_cube" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderstatus, orders.o_orderpriority, " +
          "count(*) as n from orders " +
          "group by cube ( orders.o_orderstatus, orders.o_orderpriority )"),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
             |FROM orders
             |GROUP BY CUBE ( o_orderstatus, o_orderpriority )""".stripMargin)),

    // SIMPLE CASE form (round 12): `case <head> when v then …` desugars
    // to searched =-comparisons — priority buckets by exact status.
    "hashql_case_simple" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, case orders.o_orderstatus " +
          "when 'F' then 1 when 'P' then 2 else 0 end as bucket " +
          "from orders where orders.o_orderkey <= 500"),
      Some("""SELECT o_orderkey, CASE o_orderstatus
             |  WHEN 'F' THEN 1 WHEN 'P' THEN 2 ELSE 0 END AS bucket
             |FROM orders WHERE o_orderkey <= 500""".stripMargin)),

    // computed-head IN subquery (round 12): membership on an EXPRESSION
    // key — the year of the ship date probes the distinct order years,
    // one semi-join on a scan-side computed column.
    "hashql_expr_in_select" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_orderkey, lineitem.l_linenumber from lineitem " +
          "where lineitem.l_orderkey <= 300 " +
          "and year(lineitem.l_shipdate) in ( select year(orders.o_orderdate) " +
          "as y from orders where orders.o_orderkey <= 5 )"),
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem
             |WHERE l_orderkey <= 300
             |AND year(l_shipdate) IN ( SELECT year(o_orderdate)
             |  FROM orders WHERE o_orderkey <= 5 )""".stripMargin)),

    // string_agg (round 12): SORTED string aggregation — elements
    // collect, sort, join, so the output is deterministic under any
    // partitioning (the oracle spells the same order with ORDER BY).
    "hashql_string_agg" -> Q(
      (s, d) => run(s, d,
        "select nation.n_regionkey, string_agg(nation.n_name, ',') as names " +
          "from nation group by nation.n_regionkey order by nation.n_regionkey"),
      Some("""SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
             |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)),

    // min_by/max_by (round 12; DuckDB arg_min/arg_max): each customer's
    // first and latest order price by the UNIQUE order key
    // (deterministic — ties impossible on a unique key).
    "hashql_arg_extreme" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, " +
          "max_by(orders.o_totalprice, orders.o_orderkey) as last_price, " +
          "min_by(orders.o_totalprice, orders.o_orderkey) as first_price " +
          "from orders group by orders.o_custkey"),
      Some("""SELECT o_custkey, arg_max(o_totalprice, o_orderkey) AS last_price,
             |  arg_min(o_totalprice, o_orderkey) AS first_price
             |FROM orders GROUP BY o_custkey""".stripMargin)),

    // grouping() (round 12): the subtotal marker distinguishes a rolled-
    // away key from a data NULL on the expanded frame.
    "hashql_grouping" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_returnflag, count(*) as n, " +
          "grouping(lineitem.l_returnflag) as is_total from lineitem " +
          "group by rollup ( lineitem.l_returnflag )"),
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(GROUPING(l_returnflag) AS BIGINT) AS is_total
             |FROM lineitem GROUP BY ROLLUP ( l_returnflag )""".stripMargin)),

    // ANSI FILTER clause (round 12): per-group conditional aggregates
    // without CASE noise — returned-quantity sums next to totals, one
    // agg pass.
    "hashql_filter_clause" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_linestatus, " +
          "count(*) filter ( where lineitem.l_returnflag = 'R' ) as n_returned, " +
          "sum(lineitem.l_quantity) filter ( where lineitem.l_returnflag = 'R' ) " +
          "as qty_returned, count(*) as n from lineitem " +
          "group by lineitem.l_linestatus order by lineitem.l_linestatus"),
      Some("""SELECT l_linestatus,
             |  count(*) FILTER ( WHERE l_returnflag = 'R' ) AS n_returned,
             |  sum(l_quantity) FILTER ( WHERE l_returnflag = 'R' ) AS qty_returned,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // sum(distinct) + extract() sugar (round 12): distinct-value sums
    // and the ANSI date-part spelling, one statement.
    "hashql_sum_distinct_extract" -> Q(
      (s, d) => run(s, d,
        "select extract ( year from orders.o_orderdate ) as y, " +
          "sum(distinct orders.o_custkey) as sd, count(*) as n " +
          "from orders group by y order by y"),
      Some("""SELECT extract(year FROM o_orderdate) AS y,
             |  CAST(sum(DISTINCT o_custkey) AS BIGINT) AS sd, count(*) AS n
             |FROM orders GROUP BY y ORDER BY y""".stripMargin)),

    // median + explicit NULLS placement (round 12): exact medians over
    // integer-valued quantities hash-match (both engines interpolate
    // even counts the same way); the NULLS FIRST key proves the explicit
    // placement survives a LIMIT.
    "hashql_median_nulls" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_returnflag, median(lineitem.l_quantity) as med, " +
          "count(*) as n from lineitem " +
          "group by lineitem.l_returnflag " +
          "order by lineitem.l_returnflag desc nulls first"),
      Some("""SELECT l_returnflag, median(l_quantity) AS med, count(*) AS n
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag DESC NULLS FIRST""".stripMargin)),

    // INSERT … SELECT (round 12): two bulk appends land with synthesized
    // ids continuing the monotonic counter — min_id 1, max_id = total
    // row count prove the id sequence spans both appends contiguously.
    "hashql_insert_from_select" -> Q(
      (s, d) => {
        val cat = tpchCat(s, d)
        HashQL.execute(cat, "insert into rich ( ck, bal ) " +
          "select customer.c_custkey, customer.c_acctbal from customer " +
          "where customer.c_acctbal > 9000")
        HashQL.execute(cat, "insert into rich ( ck, bal ) " +
          "select customer.c_custkey, customer.c_acctbal from customer " +
          "where customer.c_acctbal < 100")
        HashQL.execute(cat,
          "select count(*) as n, sum(floor(rich.bal * 100)) as cents, " +
            "min(rich.id) as min_id, max(rich.id) as max_id from rich").get
      },
      Some("""SELECT count(*) AS n,
             |  CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents,
             |  CAST(1 AS BIGINT) AS min_id, CAST(count(*) AS BIGINT) AS max_id
             |FROM customer WHERE c_acctbal > 9000 OR c_acctbal < 100""".stripMargin)),

    // ---- round 12: the last TPC-H shapes (all 22 now expressible) -----

    // TPC-H Q2 (minimum-cost supplier) shape: the correlated-MIN
    // tie-back — suppliers whose balance IS their nation's minimum,
    // via an ALIASED same-table scalar subquery (the testdata lacks
    // partsupp; s_acctbal stands in for ps_supplycost).
    "hashql_q2_mincost" -> Q(
      (s, d) => run(s, d,
        "select supplier.s_suppkey, supplier.s_name, nation.n_name " +
          "from supplier " +
          "inner join nation on supplier.s_nationkey = nation.n_nationkey " +
          "where supplier.s_acctbal = ( select min(s2.s_acctbal) " +
          "from supplier s2 where s2.s_nationkey = supplier.s_nationkey ) " +
          "order by supplier.s_suppkey"),
      Some("""SELECT s_suppkey, s_name, n_name
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |WHERE s_acctbal = ( SELECT min(s2.s_acctbal)
             |  FROM supplier s2 WHERE s2.s_nationkey = supplier.s_nationkey )
             |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q9 (product-type profit) shape: per-nation per-year profit
    // over a six-way join including part, with a TWO-FACTOR expression
    // inside the aggregate (revenue minus a cost proxy — the testdata
    // lacks ps_supplycost; p_retailprice × quantity stands in).
    "hashql_q9_profit" -> Q(
      (s, d) => run(s, d,
        "select nation.n_name, year(orders.o_orderdate) as o_year, " +
          "sum(floor(( lineitem.l_extendedprice * ( 1 - lineitem.l_discount ) " +
          "- part.p_retailprice * lineitem.l_quantity * 0.1 ) * 100)) " +
          "as profit_cents " +
          "from lineitem " +
          "inner join part on lineitem.l_partkey = part.p_partkey " +
          "inner join supplier on lineitem.l_suppkey = supplier.s_suppkey " +
          "inner join orders on lineitem.l_orderkey = orders.o_orderkey " +
          "inner join nation on supplier.s_nationkey = nation.n_nationkey " +
          "where part.p_type = 'PROMO' " +
          "group by nation.n_name, o_year " +
          "order by nation.n_name, o_year desc"),
      Some("""SELECT n_name, year(o_orderdate) AS o_year,
             |  CAST(sum(CAST(floor(( l_extendedprice * ( 1 - l_discount )
             |    - p_retailprice * l_quantity * 0.1 ) * 100) AS BIGINT)) AS BIGINT)
             |    AS profit_cents
             |FROM lineitem
             |JOIN part ON l_partkey = p_partkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN nation ON s_nationkey = n_nationkey
             |WHERE p_type = 'PROMO'
             |GROUP BY n_name, o_year
             |ORDER BY n_name, o_year DESC""".stripMargin)),

    // TPC-H Q11 (important stock) shape: grouped value sums kept only
    // when they exceed a FRACTION OF THE GLOBAL TOTAL — a derived table
    // filtered by an uncorrelated expression-over-aggregate scalar
    // (HAVING can't see other tables; the derived-table spelling can).
    "hashql_q11_stock" -> Q(
      (s, d) => run(s, d,
        "select d.l_partkey, d.value_cents from " +
          "( select lineitem.l_partkey, " +
          "sum(floor(lineitem.l_extendedprice * 100)) as value_cents " +
          "from lineitem group by lineitem.l_partkey ) d " +
          "where d.value_cents > ( select sum(floor(lineitem.l_extendedprice " +
          "* 100)) * 0.0007 as t from lineitem ) " +
          "order by d.value_cents desc, d.l_partkey"),
      Some("""SELECT l_partkey, value_cents FROM
             |( SELECT l_partkey,
             |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             |      AS value_cents
             |  FROM lineitem GROUP BY l_partkey ) d
             |WHERE value_cents > ( SELECT sum(CAST(floor(l_extendedprice * 100)
             |  AS BIGINT)) * 0.0007 FROM lineitem )
             |ORDER BY value_cents DESC, l_partkey""".stripMargin)),

    // TPC-H Q12 (shipping-mode priority) shape: per-linestatus counts of
    // high- vs low-priority orders — CASE-gated sums with a date band
    // (the testdata lacks l_shipmode; l_linestatus buckets instead).
    "hashql_q12_priority" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_linestatus, " +
          "sum(case when orders.o_orderpriority = '1-URGENT' " +
          "or orders.o_orderpriority = '2-HIGH' then 1 else 0 end) " +
          "as high_line_count, " +
          "sum(case when orders.o_orderpriority <> '1-URGENT' " +
          "and orders.o_orderpriority <> '2-HIGH' then 1 else 0 end) " +
          "as low_line_count " +
          "from orders " +
          "inner join lineitem on orders.o_orderkey = lineitem.l_orderkey " +
          "where lineitem.l_shipdate >= date '2000-01-01' " +
          "and lineitem.l_shipdate < date '2001-01-01' " +
          "group by lineitem.l_linestatus " +
          "order by lineitem.l_linestatus"),
      Some("""SELECT l_linestatus,
             |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
             |    OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT)
             |    AS high_line_count,
             |  CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
             |    AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT)
             |    AS low_line_count
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE l_shipdate >= DATE '2000-01-01'
             |AND l_shipdate < DATE '2001-01-01'
             |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // TPC-H Q16 (parts/supplier relationship) shape: DISTINCT supplier
    // counts per part attribute band, with NOT-equality and NOT LIKE
    // screens (supplier set via lineitem — the testdata lacks partsupp).
    "hashql_q16_partsupp" -> Q(
      (s, d) => run(s, d,
        "select part.p_brand, part.p_size, " +
          "count(distinct lineitem.l_suppkey) as supplier_cnt " +
          "from part " +
          "inner join lineitem on part.p_partkey = lineitem.l_partkey " +
          "where part.p_brand <> 'Brand#45' " +
          "and not part.p_type like 'MEDIUM%' " +
          "and part.p_size in (1, 4, 9, 14, 19, 23, 36, 45) " +
          "group by part.p_brand, part.p_size " +
          "order by supplier_cnt desc, part.p_brand, part.p_size"),
      Some("""SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
             |FROM part JOIN lineitem ON p_partkey = l_partkey
             |WHERE p_brand <> 'Brand#45'
             |AND p_type NOT LIKE 'MEDIUM%'
             |AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
             |GROUP BY p_brand, p_size
             |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin)),

    // RIGHT JOIN (round 13 — r12 queue #2): keeps unmatched fresh-side
    // rows — customers with no orders surface null-extended. In the
    // left-deep chain this is LEFT with the frames swapped; Spark's
    // "right" join type is exactly that plan (the fact side streams, the
    // preserved customer side builds).
    "hashql_right_join" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, customer.c_name, orders.o_orderkey " +
          "from orders right join customer " +
          "on orders.o_custkey = customer.c_custkey " +
          "where customer.c_custkey <= 200"),
      Some("""SELECT c_custkey, c_name, o_orderkey
             |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
             |WHERE c_custkey <= 200""".stripMargin)),

    // Non-equality ON conjunct on an OUTER join (round 13 — r12 queue
    // #2): the range rides the JOIN CONDITION, so it decides MATCHING —
    // customers whose every order misses the price bar stay in the
    // output null-extended (spelled in WHERE they would vanish: the
    // ON-vs-WHERE null-extension semantics this query proves). The
    // equality pair stays the hash-join key; the range is a post-filter
    // on each hash match, never a nested loop.
    "hashql_left_join_on_range" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, orders.o_orderkey, orders.o_totalprice " +
          "from customer left join orders " +
          "on customer.c_custkey = orders.o_custkey " +
          "and orders.o_totalprice > 200000.0 " +
          "where customer.c_custkey <= 200"),
      Some("""SELECT c_custkey, o_orderkey, o_totalprice
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |AND o_totalprice > 200000.0
             |WHERE c_custkey <= 200""".stripMargin)),

    // Windows over a GROUPED select (round 13 — the r11/r12 verdicts'
    // #1): `rank() over (order by sum(...))` ranks the GROUPS. The OVER
    // clause spells the aggregate; it rides the SAME aggregation pass as
    // the projected aggregates (one shuffle), and the window computes
    // over the aggregated frame — Window over Aggregate, plan-asserted
    // in ScaleSpec.
    "hashql_win_over_agg" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, count(*) as n, " +
          "sum(orders.o_orderkey) as s, " +
          "rank() over (order by sum(orders.o_orderkey) desc, " +
          "orders.o_custkey) as r " +
          "from orders group by orders.o_custkey"),
      Some("""SELECT o_custkey, count(*) AS n,
             |  CAST(sum(o_orderkey) AS BIGINT) AS s,
             |  CAST(rank() OVER (ORDER BY sum(o_orderkey) DESC, o_custkey)
             |    AS INT) AS r
             |FROM orders GROUP BY o_custkey""".stripMargin)),

    // Grouped top-k-of-groups (round 13): aggregate → HAVING → window →
    // QUALIFY, the pinned ordering invariant — HAVING shrinks the frame
    // BEFORE ranks compute, so filtered groups never occupy a rank.
    // l_quantity is integer-valued, so its double sum is exact in any
    // summation order; rank ties break on the key.
    "hashql_qualify_grouped" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_suppkey, sum(lineitem.l_quantity) as total_qty, " +
          "rank() over (order by sum(lineitem.l_quantity) desc, " +
          "lineitem.l_suppkey) as r " +
          "from lineitem group by lineitem.l_suppkey " +
          "having sum(lineitem.l_quantity) > 100 " +
          "qualify r <= 10 order by r"),
      Some("""SELECT l_suppkey, sum(l_quantity) AS total_qty,
             |  CAST(rank() OVER (ORDER BY sum(l_quantity) DESC, l_suppkey)
             |    AS INT) AS r
             |FROM lineitem GROUP BY l_suppkey
             |HAVING sum(l_quantity) > 100
             |QUALIFY r <= 10 ORDER BY r""".stripMargin)),

    // GROUPING SETS (round 13 — r12 queue #5): the general subtotal
    // form; rollup/cube are its two special cases. Spark's native
    // groupingSets — one Expand feeding the SAME partial-agg'd
    // aggregation shuffle, only the listed sets expand; subtotal rows
    // carry NULL keys (ANSI, both engines).
    "hashql_grouping_sets" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderstatus, orders.o_orderpriority, count(*) " +
          "from orders group by grouping sets " +
          "( (orders.o_orderstatus, orders.o_orderpriority), " +
          "(orders.o_orderstatus), () )"),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
             |FROM orders GROUP BY GROUPING SETS
             |((o_orderstatus, o_orderpriority), (o_orderstatus), ())""".stripMargin)),

    // Hour-granular RANGE frames (round 13 — r12 queue #6): sub-day
    // intervals switch the frame to epoch-SECOND offsets over the raw
    // timestamp key (exact-timestamp semantics; the day/week form keeps
    // its whole-day date-truncated semantics) — still Spark's native
    // numeric rangeBetween, no self-join. Trailing-36h shipped quantity
    // per supplier; l_quantity is integer-valued, so the double sums are
    // exact in any per-frame summation order.
    "hashql_win_range_hours" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_orderkey, lineitem.l_linenumber, " +
          "lineitem.l_suppkey, lineitem.l_shipdate, " +
          "sum(lineitem.l_quantity) over (partition by lineitem.l_suppkey " +
          "order by lineitem.l_shipdate range between interval '36' hour " +
          "preceding and current row) as qty36h " +
          "from lineitem where lineitem.l_orderkey <= 3000"),
      Some("""SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
             |  sum(l_quantity) OVER (PARTITION BY l_suppkey
             |    ORDER BY l_shipdate RANGE BETWEEN INTERVAL 36 HOUR
             |    PRECEDING AND CURRENT ROW) AS qty36h
             |FROM lineitem WHERE l_orderkey <= 3000""".stripMargin)),

    // `select *` under table aliases (round 13 — r12 queue #3): the star
    // expands to one item per source column in FROM/JOIN order, aliased
    // sources under deterministic QUALIFIED names (n1_n_nationkey, …) so
    // two aliases of one table never collide. Same-region nation pairs.
    "hashql_self_join_star" -> Q(
      (s, d) => run(s, d,
        "select * from nation n1 inner join nation n2 " +
          "on n1.n_regionkey = n2.n_regionkey " +
          "where n1.n_nationkey < n2.n_nationkey"),
      Some("""SELECT n1.n_nationkey AS n1_n_nationkey,
             |  n1.n_name AS n1_n_name, n1.n_regionkey AS n1_n_regionkey,
             |  n2.n_nationkey AS n2_n_nationkey, n2.n_name AS n2_n_name,
             |  n2.n_regionkey AS n2_n_regionkey
             |FROM nation n1 JOIN nation n2
             |ON n1.n_regionkey = n2.n_regionkey
             |WHERE n1.n_nationkey < n2.n_nationkey""".stripMargin)),

    // Period-over-period over GROUPED sums (round 13): lag() reads the
    // aggregate ALIAS over the grouped frame — yearly order counts with
    // the previous year's count alongside, the delta-report idiom.
    "hashql_win_lag_grouped" -> Q(
      (s, d) => run(s, d,
        "select year(orders.o_orderdate) as yr, count(*) as n, " +
          "lag(n) over (order by yr) as prev_n " +
          "from orders group by yr order by yr"),
      Some("""SELECT year(o_orderdate) AS yr, count(*) AS n,
             |  lag(count(*)) OVER (ORDER BY year(o_orderdate)) AS prev_n
             |FROM orders GROUP BY yr ORDER BY yr""".stripMargin)),

    // ILIKE (round 13): case-insensitive LIKE, the DuckDB/Postgres
    // spelling — Spark's native ilike Column, codegen'd.
    "hashql_ilike" -> Q(
      (s, d) => run(s, d,
        "select part.p_partkey, part.p_name from part " +
          "where part.p_name ilike '%Red%'"),
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE p_name ILIKE '%Red%'""".stripMargin)),

    // Ordinal GROUP BY / ORDER BY keys (round 13): `group by 1` binds to
    // the first select item at parse; `order by 2` reads the output
    // ordinally at lowering (sorting by a constant is a no-op nobody
    // means) — the interactive-analyst shorthand both engines share.
    "hashql_ordinals" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderpriority, count(*) from orders " +
          "group by 1 order by 2 desc, 1"),
      Some("""SELECT o_orderpriority, count(*) AS cnt FROM orders
             |GROUP BY 1 ORDER BY 2 DESC, 1""".stripMargin)),

    // ANSI-89 comma joins (round 13): `from customer, orders, lineitem
    // where …` — the spelling the reference-era TPC-H queries use.
    // Comma sources build as CROSS sources; the WHERE equalities become
    // the join conditions in the optimizer (ScaleSpec asserts hash
    // joins, no cartesian); a missing link predicate REJECTS.
    "hashql_comma_join" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, count(*), " +
          "sum(lineitem.l_quantity) as qty " +
          "from customer, orders, lineitem " +
          "where customer.c_custkey = orders.o_custkey " +
          "and orders.o_orderkey = lineitem.l_orderkey " +
          "and customer.c_mktsegment = 'BUILDING' " +
          "group by customer.c_custkey"),
      Some("""SELECT c_custkey, count(*) AS cnt, sum(l_quantity) AS qty
             |FROM customer, orders, lineitem
             |WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
             |AND c_mktsegment = 'BUILDING'
             |GROUP BY c_custkey""".stripMargin)),

    // Window keys as EXPRESSIONS (round 13): `partition by
    // year(o_orderdate)` computes the key scan-side under a reserved
    // name (the bare group-by-expression machinery), the window
    // addresses it, and the final projection sheds it — top-5 orders
    // per year by price.
    "hashql_win_expr_key" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, orders.o_orderdate, " +
          "row_number() over (partition by year(orders.o_orderdate) " +
          "order by orders.o_totalprice desc, orders.o_orderkey) as rn " +
          "from orders where orders.o_orderkey <= 2000 qualify rn <= 5"),
      Some("""SELECT o_orderkey, o_orderdate,
             |  CAST(row_number() OVER (PARTITION BY year(o_orderdate)
             |    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
             |FROM orders WHERE o_orderkey <= 2000
             |QUALIFY rn <= 5""".stripMargin)),

    // Scalar tier 4 (round 13): datediff counts day boundaries (Spark's
    // (end, start) order; the oracle spells date_diff('day', start,
    // end)), last_day returns the month-end DATE, sqrt is IEEE-exact on
    // both engines, greatest/least skip NULLs on both. All codegen'd
    // native Columns — no UDFs.
    "hashql_scalar_tier4" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, " +
          "datediff(lineitem.l_shipdate, orders.o_orderdate) as lag_days, " +
          "last_day(cast(orders.o_orderdate as date)) as month_end, " +
          "sqrt(cast(orders.o_orderkey as double)) as rootk, " +
          "greatest(lineitem.l_partkey, lineitem.l_suppkey) as gk, " +
          "least(lineitem.l_partkey, lineitem.l_suppkey) as lk " +
          "from orders " +
          "inner join lineitem on orders.o_orderkey = lineitem.l_orderkey " +
          "where orders.o_orderkey <= 500"),
      Some("""SELECT o_orderkey,
             |  date_diff('day', o_orderdate, l_shipdate) AS lag_days,
             |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
             |  sqrt(CAST(o_orderkey AS DOUBLE)) AS rootk,
             |  greatest(l_partkey, l_suppkey) AS gk,
             |  least(l_partkey, l_suppkey) AS lk
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE o_orderkey <= 500""".stripMargin)),

    // avg(distinct) (round 13 — r12 queue #8): no codegen'd Spark Column
    // exists, so the dialect lowers it as sum_distinct / count_distinct
    // in ONE distinct-expand aggregation pass; the sum fits a long, so
    // the double division is bitwise-identical on both engines.
    "hashql_avg_distinct" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_returnflag, avg(distinct lineitem.l_quantity) " +
          "as avg_qty from lineitem group by lineitem.l_returnflag " +
          "order by lineitem.l_returnflag"),
      Some("""SELECT l_returnflag, avg(DISTINCT l_quantity) AS avg_qty
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // HAVING <> (round 13 — r12 queue #8): three-valued inequality over
    // the aggregated frame, same Filter-over-Aggregate plan as every
    // HAVING conjunct.
    "hashql_having_ne" -> Q(
      (s, d) => run(s, d,
        "select customer.c_nationkey, count(*) from customer " +
          "group by customer.c_nationkey having count(*) <> 24 " +
          "order by customer.c_nationkey"),
      Some("""SELECT c_nationkey, count(*) AS cnt FROM customer
             |GROUP BY c_nationkey HAVING count(*) <> 24
             |ORDER BY c_nationkey""".stripMargin)),

    // CORRELATED UPDATE (round 13 — r12 queue #4): the SET subquery
    // correlates through the updated table and decorrelates to one
    // grouped aggregate + one left equi-join per DISTINCT key (the same
    // scalarJoin plan SELECTs use) — never per-row. count(*) coalesces
    // the join miss to 0 (ANSI); a max → NULL miss is spec-covered (the
    // dialect's missing-field row skip would hide that row from this
    // oracle SELECT).
    "hashql_update_correlated" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into teams (tname) values ('red'), ('blue'), ('green')")
        HashQL.execute(cat,
          "insert into scores (team, pts) values ('red', 3), ('red', 9), " +
            "('blue', 4)")
        HashQL.execute(cat,
          "update teams set teams.games = ( select count(*) " +
            "from scores where scores.team = teams.tname )")
        HashQL.execute(cat,
          "select teams.tname, teams.games from teams " +
            "order by teams.tname").get
      },
      Some("""SELECT * FROM (VALUES ('blue', 1), ('green', 0),
             |  ('red', 2)) AS t(tname, games)""".stripMargin)),

    // UPDATE with a subquery WHERE (round 13): the decontamination
    // idiom `update … where nm in (select …)` — the matched row set
    // evaluates through the same semi-join machinery SELECT/DELETE use,
    // pins by the dialect id, and rides a left join on id into the one
    // copy-on-write rewrite (never a per-row probe).
    "hashql_update_in_subquery" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into docs (nm, score) values ('d1', 10), ('d2', 20), " +
            "('d3', 30)")
        HashQL.execute(cat, "insert into bad (nm) values ('d2')")
        HashQL.execute(cat,
          "update docs set docs.score = 0 " +
            "where docs.nm in (select bad.nm from bad)")
        HashQL.execute(cat,
          "select docs.nm, docs.score from docs order by docs.nm").get
      },
      Some("""SELECT * FROM (VALUES ('d1', 10), ('d2', 0),
             |  ('d3', 30)) AS t(nm, score)""".stripMargin)),

    // MERGE INTO (round 14 — the r13 queue's #1): matched rows update
    // (the RHS reads SOURCE columns — `inv.qty + shipment.amount`),
    // not-matched source rows insert, ONE statement, ONE left join +
    // ONE anti-join, ONE copy-on-write commit. The refresh/upsert loop
    // (re-crawl replaces by key) is the natural user; reference analog:
    // document save's overwrite-by-id (server.py:289-331).
    "hashql_merge_upsert" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into inv (sku, qty) values ('a', 5), ('b', 3), ('c', 7)")
        HashQL.execute(cat,
          "insert into shipment (sku, amount) values ('b', 10), ('d', 4)")
        HashQL.execute(cat,
          "merge into inv using shipment on inv.sku = shipment.sku " +
            "when matched then update set inv.qty = " +
            "inv.qty + shipment.amount " +
            "when not matched then insert (sku, qty) " +
            "values (shipment.sku, shipment.amount)")
        HashQL.execute(cat,
          "select inv.sku, inv.qty from inv order by inv.sku").get
      },
      // round-15 (r14 missing #7): the oracle EXECUTES the equivalent
      // DML in DuckDB (UPDATE…FROM + anti-joined INSERT…SELECT — this
      // DuckDB predates MERGE INTO) instead of a hand-computed literal
      Some("""CREATE TEMP TABLE g15up_inv(sku VARCHAR, qty BIGINT);
             |INSERT INTO g15up_inv VALUES ('a', 5), ('b', 3), ('c', 7);
             |CREATE TEMP TABLE g15up_sh(sku VARCHAR, amount BIGINT);
             |INSERT INTO g15up_sh VALUES ('b', 10), ('d', 4);
             |UPDATE g15up_inv SET qty = g15up_inv.qty + s.amount
             |  FROM g15up_sh s WHERE g15up_inv.sku = s.sku;
             |INSERT INTO g15up_inv SELECT s.sku, s.amount FROM g15up_sh s
             |  WHERE s.sku NOT IN (SELECT sku FROM g15up_inv);
             |SELECT sku, qty FROM g15up_inv ORDER BY sku""".stripMargin)),

    // RECURSIVE CTE with PER-ROUND AGGREGATION (round 14 — un-rejecting
    // the r9-carried reject, the r13 queue's #8): the textbook recursive
    // shortest path — each round the GROUPED step takes min(dist + w)
    // over the FRONTIER join, the fixpoint dedups (node, dist) pairs,
    // and the body extracts the final minimum. DuckDB's exact recursive
    // semantics (working table = last round's new rows); expected
    // distances verified against DuckDB's own recursive evaluation.
    "hashql_recursive_sssp" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into redg (src, dst, w) values (1, 2, 4), (1, 3, 1), " +
            "(3, 2, 1), (2, 4, 1), (3, 4, 7)")
        HashQL.execute(cat,
          "with recursive sp as (select redg.dst, redg.w from redg " +
            "where redg.src = 1 union select redg.dst, " +
            "min(sp.w + redg.w) as md from sp inner join redg " +
            "on redg.src = sp.dst group by redg.dst) " +
            "select sp.dst, min(sp.w) as d from sp group by sp.dst " +
            "order by sp.dst").get
      },
      Some("""SELECT * FROM (VALUES (2, 2), (3, 1),
             |  (4, 3)) AS t(dst, d)""".stripMargin)),

    // UPDATE … FROM (round 14): the join-update — SET reads SOURCE
    // columns, u-local conjuncts prune the source scan, t-local
    // conjuncts gate the matched rows; one left join + one hit-guarded
    // copy-on-write projection. Symmetric with DELETE … USING.
    "hashql_update_from" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into stock (sku, qty) values ('a', 5), ('b', 3), " +
            "('c', 7), ('d', 1)")
        HashQL.execute(cat,
          "insert into recv (sku, amount, ok) values ('a', 10, 1), " +
            "('b', 20, 0), ('d', 4, 1)")
        HashQL.execute(cat,
          "update stock set stock.qty = stock.qty + recv.amount " +
            "from recv where stock.sku = recv.sku and recv.ok = 1 " +
            "and stock.qty > 2")
        HashQL.execute(cat,
          "select stock.sku, stock.qty from stock " +
            "order by stock.sku").get
      },
      // round-15: real-DML oracle — DuckDB runs the SAME join-update
      Some("""CREATE TEMP TABLE g15uf_st(sku VARCHAR, qty BIGINT);
             |INSERT INTO g15uf_st VALUES ('a', 5), ('b', 3), ('c', 7),
             |  ('d', 1);
             |CREATE TEMP TABLE g15uf_rv(sku VARCHAR, amount BIGINT,
             |  ok BIGINT);
             |INSERT INTO g15uf_rv VALUES ('a', 10, 1), ('b', 20, 0),
             |  ('d', 4, 1);
             |UPDATE g15uf_st SET qty = g15uf_st.qty + r.amount
             |  FROM g15uf_rv r WHERE g15uf_st.sku = r.sku AND r.ok = 1
             |  AND g15uf_st.qty > 2;
             |SELECT sku, qty FROM g15uf_st ORDER BY sku""".stripMargin)),

    // MERGE … WHEN MATCHED THEN DELETE (round 14): the blocklist
    // purge — matched target rows drop (one anti join), unmatched
    // source rows may still insert in the same statement.
    "hashql_merge_delete" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into corpus14 (nm, score) values ('d1', 10), " +
            "('d2', 20), ('d3', 30)")
        HashQL.execute(cat, "insert into block14 (nm) values ('d2')")
        HashQL.execute(cat,
          "merge into corpus14 using block14 " +
            "on corpus14.nm = block14.nm " +
            "when matched then delete")
        HashQL.execute(cat,
          "select corpus14.nm, corpus14.score from corpus14 " +
            "order by corpus14.nm").get
      },
      // round-15: real-DML oracle (DuckDB executes the purge)
      Some("""CREATE TEMP TABLE g15md_c(nm VARCHAR, score BIGINT);
             |INSERT INTO g15md_c VALUES ('d1', 10), ('d2', 20), ('d3', 30);
             |CREATE TEMP TABLE g15md_b(nm VARCHAR);
             |INSERT INTO g15md_b VALUES ('d2');
             |DELETE FROM g15md_c WHERE nm IN (SELECT nm FROM g15md_b);
             |SELECT nm, score FROM g15md_c ORDER BY nm""".stripMargin)),

    // MERGE with CONDITIONAL clauses (round 15 — the r14 queue's #1):
    // multiple WHEN MATCHED guards evaluated in order (first-match-wins,
    // ONE chained when()/otherwise() projection), a guarded insert, and
    // WHEN NOT MATCHED BY SOURCE pruning stale target rows — the full
    // one-statement table-sync the re-crawl/decontaminate loop needs.
    // The oracle EXECUTES the decomposed DML in DuckDB (insert set
    // snapshotted first — MERGE classifies rows against the ORIGINAL
    // target image).
    "hashql_merge_conditional" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into mc15 (k, v, keep) values ('a', 1, 1), ('b', 2, 1), " +
            "('c', 3, 0), ('e', 9, 1)")
        HashQL.execute(cat,
          "insert into sc15 (k, w) values ('a', 100), ('b', -1), " +
            "('c', 5), ('d', 7)")
        HashQL.execute(cat,
          "merge into mc15 using sc15 on mc15.k = sc15.k " +
            "when matched and sc15.w < 0 then delete " +
            "when matched and mc15.keep = 1 then update set " +
            "mc15.v = mc15.v + sc15.w " +
            "when not matched then insert (k, v, keep) " +
            "values (sc15.k, sc15.w, 1) " +
            "when not matched by source and mc15.keep = 1 then delete")
        HashQL.execute(cat,
          "select mc15.k, mc15.v from mc15 order by mc15.k").get
      },
      Some("""CREATE TEMP TABLE g15mc_t(k VARCHAR, v BIGINT, keep BIGINT);
             |INSERT INTO g15mc_t VALUES ('a', 1, 1), ('b', 2, 1),
             |  ('c', 3, 0), ('e', 9, 1);
             |CREATE TEMP TABLE g15mc_s(k VARCHAR, w BIGINT);
             |INSERT INTO g15mc_s VALUES ('a', 100), ('b', -1), ('c', 5),
             |  ('d', 7);
             |CREATE TEMP TABLE g15mc_ins AS SELECT s.k, s.w FROM g15mc_s s
             |  WHERE s.k NOT IN (SELECT k FROM g15mc_t);
             |DELETE FROM g15mc_t WHERE keep = 1
             |  AND k NOT IN (SELECT k FROM g15mc_s);
             |DELETE FROM g15mc_t WHERE k IN
             |  (SELECT k FROM g15mc_s WHERE w < 0);
             |UPDATE g15mc_t SET v = g15mc_t.v + s.w FROM g15mc_s s
             |  WHERE g15mc_t.k = s.k AND NOT (s.w < 0)
             |  AND g15mc_t.keep = 1;
             |INSERT INTO g15mc_t SELECT k, w, 1 FROM g15mc_ins;
             |SELECT k, v FROM g15mc_t ORDER BY k""".stripMargin)),

    // MERGE … WHEN NOT MATCHED BY SOURCE (round 15): the pure table-sync
    // — after the statement the target IS the source (update hits,
    // insert the new, drop the stale), in ONE left join + ONE anti join
    // + ONE commit.
    "hashql_merge_by_source" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into cat15 (k, v) values ('a', 1), ('b', 2), ('z', 9)")
        HashQL.execute(cat,
          "insert into feed15 (k, v2) values ('b', 20), ('c', 30)")
        HashQL.execute(cat,
          "merge into cat15 using feed15 on cat15.k = feed15.k " +
            "when matched then update set cat15.v = feed15.v2 " +
            "when not matched then insert (k, v) values (feed15.k, feed15.v2) " +
            "when not matched by source then delete")
        HashQL.execute(cat,
          "select cat15.k, cat15.v from cat15 order by cat15.k").get
      },
      Some("""CREATE TEMP TABLE g15bs_t(k VARCHAR, v BIGINT);
             |INSERT INTO g15bs_t VALUES ('a', 1), ('b', 2), ('z', 9);
             |CREATE TEMP TABLE g15bs_s(k VARCHAR, v2 BIGINT);
             |INSERT INTO g15bs_s VALUES ('b', 20), ('c', 30);
             |DELETE FROM g15bs_t WHERE k NOT IN (SELECT k FROM g15bs_s);
             |UPDATE g15bs_t SET v = s.v2 FROM g15bs_s s
             |  WHERE g15bs_t.k = s.k;
             |INSERT INTO g15bs_t SELECT k, v2 FROM g15bs_s
             |  WHERE k NOT IN (SELECT k FROM g15bs_t);
             |SELECT k, v FROM g15bs_t ORDER BY k""".stripMargin)),

    // Range-correlated ALL over NULLABLE inner values (round 15 — the
    // r14 MEDIUM advice): `x >= all (S)` where S carries a NULL makes
    // the quantifier UNKNOWN and DROPS the row (ANSI). The EXISTS
    // rewrite's violation column now projects SKIP-EXEMPT (coalesce
    // identity), so the dialect's missing-field row skip cannot hide
    // the NULL from the anti join. The oracle runs DuckDB's own
    // correlated quantifier over the same nullable data.
    "hashql_all_null_range" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into pa15 (pcat, price, day) values ('g', 50, 10), " +
            "('h', 50, 10)")
        HashQL.execute(cat,
          "insert into oa15 (ocat, oprice, oday) values ('g', 40, 5), " +
            "('h', 40, 5), ('h', 30, 6)")
        HashQL.execute(cat,
          "update oa15 set oa15.oprice = null where oa15.oday = 6")
        HashQL.execute(cat,
          "select pa15.pcat from pa15 where pa15.price >= all " +
            "(select oa15.oprice from oa15 where oa15.ocat = pa15.pcat " +
            "and oa15.oday < pa15.day) order by pa15.pcat").get
      },
      Some("""WITH pa(pcat, price, day) AS
             |  (VALUES ('g', 50, 10), ('h', 50, 10)),
             |oa(ocat, oprice, oday) AS
             |  (VALUES ('g', 40, 5), ('h', 40, 5), ('h', NULL, 6))
             |SELECT pa.pcat FROM pa WHERE pa.price >= ALL
             |  (SELECT oa.oprice FROM oa WHERE oa.ocat = pa.pcat
             |   AND oa.oday < pa.day)
             |ORDER BY pa.pcat""".stripMargin)),

    // UPDATE with a scalar-subquery RHS (round 12): Ted's age becomes
    // the PRE-update maximum (one 1x1 evaluation, assigned as a
    // literal); the example.py people replay keeps the oracle literal.
    "hashql_update_scalar" -> Q(
      (s, d) => {
        val cat = peopleCat(s)
        HashQL.execute(cat,
          "update people set people.age = ( select max(people.age) " +
            "from people ) where people.people_name = 'Ted'")
        HashQL.execute(cat,
          "select people.people_name, people.age from people " +
            "order by people.people_name").get
      },
      Some("""SELECT * FROM (VALUES ('Fred', 45), ('Sam', 29), ('Simon', 29),
             |  ('Ted', 45)) AS t(people_name, age)""".stripMargin)),

    // scalar tier 5 (round 13): trims / reverse / repeat / left / right /
    // strpos / translate / ascii / md5 / sign / power — all codegen'd
    // native Columns, scan-side. DuckDB divergences pinned in the oracle:
    // sign keeps the argument's width there (CAST to BIGINT), concat
    // spells as the null-propagating || chain.
    "hashql_scalar_tier5" -> Q(
      (s, d) => run(s, d,
        "select part.p_partkey, " +
          "left(part.p_name, 5) as lft, right(part.p_name, 4) as rgt, " +
          "reverse(part.p_brand) as rev, repeat(part.p_brand, 2) as rep, " +
          "strpos(part.p_name, 'ri') as sp, " +
          "translate(part.p_type, 'AEO', 'aeo') as tr, " +
          "ascii(part.p_name) as ac, md5(part.p_name) as dg, " +
          "sign(part.p_size - 25) as sg, " +
          "power(cast(part.p_size as double), 2) as pw, " +
          "ltrim(concat('  ', part.p_name)) as lt, " +
          "rtrim(concat(part.p_name, '  ')) as rt " +
          "from part where part.p_partkey <= 300 order by part.p_partkey"),
      Some("""SELECT p_partkey,
             |  left(p_name, 5) AS lft, right(p_name, 4) AS rgt,
             |  reverse(p_brand) AS rev, repeat(p_brand, 2) AS rep,
             |  strpos(p_name, 'ri') AS sp,
             |  translate(p_type, 'AEO', 'aeo') AS tr,
             |  ascii(p_name) AS ac, md5(p_name) AS dg,
             |  CAST(sign(p_size - 25) AS BIGINT) AS sg,
             |  pow(CAST(p_size AS DOUBLE), 2) AS pw,
             |  ltrim('  ' || p_name) AS lt, rtrim(p_name || '  ') AS rt
             |FROM part WHERE p_partkey <= 300
             |ORDER BY p_partkey""".stripMargin)),

    // relative-rank windows (round 13): percent_rank (rank−1)/(n−1),
    // cume_dist (peers ≤ current)/n, nth_value over the running frame
    // (NULL until the 2nd row arrives). The unique order key keeps
    // nth_value deterministic; the small-integer IEEE divisions are
    // bit-identical on both engines.
    "hashql_win_relrank" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, orders.o_orderkey, " +
          "percent_rank() over (partition by orders.o_custkey " +
          "order by orders.o_orderkey) as prnk, " +
          "cume_dist() over (partition by orders.o_custkey " +
          "order by orders.o_orderkey) as cdist, " +
          "nth_value(orders.o_totalprice, 2) over (partition by " +
          "orders.o_custkey order by orders.o_orderkey) as nv " +
          "from orders where orders.o_custkey <= 120 " +
          "order by orders.o_custkey, orders.o_orderkey"),
      Some("""SELECT o_custkey, o_orderkey,
             |  percent_rank() OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderkey) AS prnk,
             |  cume_dist() OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderkey) AS cdist,
             |  nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderkey) AS nv
             |FROM orders WHERE o_custkey <= 120
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // IS [NOT] DISTINCT FROM (round 13): the null-safe comparison — the
    // nullif-planted NULL rows are KEPT by `is distinct from 3` where a
    // plain `<>` would drop them (UNKNOWN), the operator's whole point.
    // (Only the never-null key projects: a projected plain NULL field
    // would trip the dialect's missing-field row skip — nation-5 rows'
    // presence in the key set IS the semantics under test.)
    "hashql_is_distinct" -> Q(
      (s, d) => run(s, d,
        "select d.k from ( select customer.c_custkey as k, " +
          "nullif(customer.c_nationkey, 5) as nk from customer ) d " +
          "where d.nk is distinct from 3 order by d.k"),
      Some("""SELECT c_custkey AS k FROM customer
             |WHERE nullif(c_nationkey, 5) IS DISTINCT FROM 3
             |ORDER BY c_custkey""".stripMargin)),

    // explicit CROSS JOIN (round 13): binds like an ANSI-89 comma source;
    // the WHERE equality folds it into a hash join (broadcast dim at any
    // scale), and an unlinked spelling trips the cartesian scale guard.
    "hashql_cross_join" -> Q(
      (s, d) => run(s, d,
        "select nation.n_name, region.r_name from nation " +
          "cross join region " +
          "where nation.n_regionkey = region.r_regionkey " +
          "order by nation.n_name"),
      Some("""SELECT n_name, r_name FROM nation CROSS JOIN region
             |WHERE n_regionkey = r_regionkey
             |ORDER BY n_name""".stripMargin)),

    // quantified ALL (round 13): one stats aggregate over the subquery
    // side broadcast onto the scan — suppliers whose balance tops every
    // nation-3 customer's. ANSI-exact three-valued arithmetic (see
    // QuantCmp); no row-to-row join at any scale.
    "hashql_quant_all" -> Q(
      (s, d) => run(s, d,
        "select supplier.s_suppkey, supplier.s_acctbal from supplier " +
          "where supplier.s_acctbal > all ( select customer.c_acctbal " +
          "from customer where customer.c_nationkey = 3 ) " +
          "order by supplier.s_suppkey"),
      Some("""SELECT s_suppkey, s_acctbal FROM supplier
             |WHERE s_acctbal > ALL ( SELECT c_acctbal FROM customer
             |  WHERE c_nationkey = 3 )
             |ORDER BY s_suppkey""".stripMargin)),

    // quantified ANY (round 13): the easiest-value form — parts cheaper
    // than at least one ECONOMY part's price; same broadcast-stats plan.
    "hashql_quant_any" -> Q(
      (s, d) => run(s, d,
        "select part.p_partkey, part.p_retailprice from part " +
          "where part.p_retailprice < any ( select part.p_retailprice " +
          "from part where part.p_type = 'ECONOMY' ) " +
          "order by part.p_partkey"),
      Some("""SELECT p_partkey, p_retailprice FROM part
             |WHERE p_retailprice < ANY ( SELECT p_retailprice FROM part
             |  WHERE p_type = 'ECONOMY' )
             |ORDER BY p_partkey""".stripMargin)),

    // inline VALUES table (round 13): a literal lookup table in JOIN
    // position — plans as a LocalRelation (broadcast-sized by
    // construction), the enum-decode idiom without a catalog table.
    "hashql_values_table" -> Q(
      (s, d) => run(s, d,
        "select nation.n_name, m.zone from nation " +
          "join ( values (0, 'west'), (1, 'east'), (2, 'north') ) " +
          "m(rk, zone) on nation.n_regionkey = m.rk " +
          "order by nation.n_name"),
      Some("""SELECT n_name, zone FROM nation
             |JOIN ( VALUES (0, 'west'), (1, 'east'), (2, 'north') )
             |  m(rk, zone) ON n_regionkey = m.rk
             |ORDER BY n_name""".stripMargin)),

    // DISTINCT ON (round 13): each customer's priciest order — the
    // Postgres/DuckDB first-row-per-key form; the o_orderkey tiebreaker
    // pins the pick deterministically on both engines.
    "hashql_distinct_on" -> Q(
      (s, d) => run(s, d,
        "select distinct on (orders.o_custkey) orders.o_custkey, " +
          "orders.o_orderkey, orders.o_totalprice from orders " +
          "where orders.o_custkey <= 200 " +
          "order by orders.o_custkey, orders.o_totalprice desc, " +
          "orders.o_orderkey"),
      Some("""SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey,
             |  o_totalprice
             |FROM orders WHERE o_custkey <= 200
             |ORDER BY o_custkey, o_totalprice DESC,
             |  o_orderkey""".stripMargin)),

    // GROUP BY ALL / ORDER BY ALL (round 13): the DuckDB ergonomic
    // forms — every non-aggregate item groups, every output sorts
    // left-to-right; both expand at parse to the explicit plan (same
    // one-shuffle aggregation, same TakeOrdered sort).
    "hashql_group_order_all" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_returnflag, lineitem.l_linestatus, " +
          "sum(lineitem.l_quantity) as sq, count(*) " +
          "from lineitem group by all order by all"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  sum(l_quantity) AS sq, count(*) AS cnt
             |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin)),

    // variance/stddev (round 13): BOTH sides spell the exact-sum
    // formula arithmetic — the engines' native streaming aggregates
    // round differently in the last ULP and could never hash-match;
    // integer-valued l_quantity keeps every sum exact in any order, so
    // the two IEEE divisions (+ sqrt) are bitwise-deterministic.
    "hashql_var_stddev" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_returnflag, " +
          "var_samp(lineitem.l_quantity) as vs, " +
          "var_pop(lineitem.l_quantity) as vp, " +
          "stddev(lineitem.l_quantity) as sd " +
          "from lineitem group by lineitem.l_returnflag " +
          "order by lineitem.l_returnflag"),
      Some("""SELECT l_returnflag,
             |  (CAST(count(l_quantity) * sum(l_quantity * l_quantity)
             |      - sum(l_quantity) * sum(l_quantity) AS DOUBLE)
             |    / count(l_quantity)) / nullif(count(l_quantity) - 1, 0)
             |    AS vs,
             |  (CAST(count(l_quantity) * sum(l_quantity * l_quantity)
             |      - sum(l_quantity) * sum(l_quantity) AS DOUBLE)
             |    / count(l_quantity)) / nullif(count(l_quantity), 0)
             |    AS vp,
             |  sqrt((CAST(count(l_quantity) * sum(l_quantity * l_quantity)
             |      - sum(l_quantity) * sum(l_quantity) AS DOUBLE)
             |    / count(l_quantity)) / nullif(count(l_quantity) - 1, 0))
             |    AS sd
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // bivariate statistics tier (round 15): corr/covar_pop/covar_samp —
    // like var/stddev, BOTH sides spell the exact-sum expansion (native
    // streaming accumulators can never hash-match); the `a + (b - b)`
    // pair gate scopes every sum to rows where BOTH inputs are non-null
    // (ANSI) in pure arithmetic. l_quantity and l_linenumber are
    // integer-valued and small, so every sum is exact in any order.
    "hashql_corr_covar" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_returnflag, " +
          "corr(lineitem.l_quantity, lineitem.l_linenumber) as r, " +
          "covar_pop(lineitem.l_quantity, lineitem.l_linenumber) as cp, " +
          "covar_samp(lineitem.l_quantity, lineitem.l_linenumber) as cs " +
          "from lineitem group by lineitem.l_returnflag " +
          "order by lineitem.l_returnflag"),
      Some("""WITH g AS (
             |  SELECT l_returnflag,
             |    count(l_linenumber + (l_quantity - l_quantity)) AS n,
             |    sum(l_linenumber + (l_quantity - l_quantity)) AS sx,
             |    sum(l_quantity + (l_linenumber - l_linenumber)) AS sy,
             |    sum(l_quantity * l_linenumber) AS sxy,
             |    sum((l_linenumber + (l_quantity - l_quantity))
             |      * (l_linenumber + (l_quantity - l_quantity))) AS sxx,
             |    sum((l_quantity + (l_linenumber - l_linenumber))
             |      * (l_quantity + (l_linenumber - l_linenumber))) AS syy
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l_returnflag,
             |  CAST(n * sxy - sx * sy AS DOUBLE)
             |    / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
             |      * CAST(n * syy - sy * sy AS DOUBLE)), 0.0) AS r,
             |  (CAST(n * sxy - sx * sy AS DOUBLE) / n) / nullif(n, 0) AS cp,
             |  (CAST(n * sxy - sx * sy AS DOUBLE) / n) / nullif(n - 1, 0)
             |    AS cs
             |FROM g ORDER BY l_returnflag""".stripMargin)),

    // higher moments (round 15): skewness (sample G1) / kurtosis
    // (sample excess G2) in power sums — exact-long sums cast to
    // double BEFORE combining, every combining op correctly rounded
    // (sqrt spelling, never pow), the oracle parenthesized to the
    // identical op tree.
    "hashql_skew_kurt" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_returnflag, " +
          "skewness(lineitem.l_quantity) as sk, " +
          "kurtosis(lineitem.l_quantity) as ku, " +
          "kurtosis_pop(lineitem.l_quantity) as kp " +
          "from lineitem group by lineitem.l_returnflag " +
          "order by lineitem.l_returnflag"),
      Some("""WITH g AS (
             |  SELECT l_returnflag,
             |    CAST(count(l_quantity) AS DOUBLE) AS nd,
             |    CAST(sum(l_quantity) AS DOUBLE) AS s1,
             |    CAST(sum(l_quantity * l_quantity) AS DOUBLE) AS s2,
             |    CAST(sum((l_quantity * l_quantity) * l_quantity)
             |      AS DOUBLE) AS s3,
             |    CAST(sum((l_quantity * l_quantity) *
             |      (l_quantity * l_quantity)) AS DOUBLE) AS s4
             |  FROM lineitem GROUP BY l_returnflag),
             |v AS (
             |  SELECT l_returnflag, nd, s1, s2, s3, s4,
             |    ((nd * s2) - (s1 * s1)) AS m2n,
             |    (((nd * nd) * s3) - (3.0 * (nd * (s1 * s2))))
             |      + (2.0 * (s1 * (s1 * s1))) AS num3,
             |    ((((nd * (nd * nd)) * s4)
             |      - (4.0 * ((nd * nd) * (s1 * s3))))
             |      + (6.0 * (nd * ((s1 * s1) * s2))))
             |      - (3.0 * ((s1 * s1) * (s1 * s1))) AS num4
             |  FROM g),
             |w AS (
             |  SELECT l_returnflag, nd, m2n, num3,
             |    ((num4 / nullif(m2n * m2n, 0.0)) - 3.0) AS g2
             |  FROM v)
             |SELECT l_returnflag,
             |  ((num3 / nullif(m2n * sqrt(m2n), 0.0))
             |    * sqrt(nd * (nd - 1.0))) / nullif(nd - 2.0, 0.0) AS sk,
             |  ((((nd + 1.0) * g2) + 6.0) * (nd - 1.0))
             |    / nullif((nd - 2.0) * (nd - 3.0), 0.0) AS ku,
             |  g2 AS kp
             |FROM w ORDER BY l_returnflag""".stripMargin)),

    // linear-regression aggregates (round 15): the full ANSI regr_*
    // family over the same exact-sum machinery; regr_r2's var(y)=0 → 1
    // edge rides the round-15 aggregate-threshold CASE condition.
    "hashql_regr" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_returnflag, " +
          "regr_slope(lineitem.l_quantity, lineitem.l_linenumber) as slope, " +
          "regr_intercept(lineitem.l_quantity, lineitem.l_linenumber) as icept, " +
          "regr_r2(lineitem.l_quantity, lineitem.l_linenumber) as r2, " +
          "regr_count(lineitem.l_quantity, lineitem.l_linenumber) as n_pairs, " +
          "regr_avgx(lineitem.l_quantity, lineitem.l_linenumber) as ax, " +
          "regr_avgy(lineitem.l_quantity, lineitem.l_linenumber) as ay " +
          "from lineitem group by lineitem.l_returnflag " +
          "order by lineitem.l_returnflag"),
      Some("""WITH g AS (
             |  SELECT l_returnflag,
             |    count(l_linenumber + (l_quantity - l_quantity)) AS n,
             |    sum(l_linenumber + (l_quantity - l_quantity)) AS sx,
             |    sum(l_quantity + (l_linenumber - l_linenumber)) AS sy,
             |    sum(l_quantity * l_linenumber) AS sxy,
             |    sum((l_linenumber + (l_quantity - l_quantity))
             |      * (l_linenumber + (l_quantity - l_quantity))) AS sxx,
             |    sum((l_quantity + (l_linenumber - l_linenumber))
             |      * (l_quantity + (l_linenumber - l_linenumber))) AS syy
             |  FROM lineitem GROUP BY l_returnflag),
             |v AS (
             |  SELECT l_returnflag, n, sx, sy,
             |    CAST(n * sxy - sx * sy AS DOUBLE) AS cnum,
             |    CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
             |    CAST(n * syy - sy * sy AS DOUBLE) AS vy
             |  FROM g)
             |SELECT l_returnflag,
             |  cnum / nullif(vx, 0.0) AS slope,
             |  (CAST(sy AS DOUBLE) - (cnum / nullif(vx, 0.0))
             |    * CAST(sx AS DOUBLE)) / nullif(n, 0) AS icept,
             |  CASE WHEN NOT (vx = 0.0) AND vy = 0.0 THEN CAST(1.0 AS DOUBLE)
             |    ELSE cnum * cnum / nullif(vx * vy, 0.0) END AS r2,
             |  n AS n_pairs,
             |  CAST(sx AS DOUBLE) / nullif(n, 0) AS ax,
             |  CAST(sy AS DOUBLE) / nullif(n, 0) AS ay
             |FROM v ORDER BY l_returnflag""".stripMargin)),

    // epoch / epoch_ms (round 15): DuckDB's epoch is fractional seconds
    // as DOUBLE (micros/1e6 — one exact IEEE division both engines
    // share), epoch_ms exact BIGINT milliseconds; UTC-pinned sessions
    // keep the instants identical.
    "hashql_epoch" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, epoch(orders.o_orderdate) as ep, " +
          "epoch_ms(orders.o_orderdate) as ems " +
          "from orders where orders.o_orderkey <= 300 " +
          "order by orders.o_orderkey"),
      Some("""SELECT o_orderkey, epoch(o_orderdate) AS ep,
             |  epoch_ms(o_orderdate) AS ems
             |FROM orders WHERE o_orderkey <= 300
             |ORDER BY o_orderkey""".stripMargin)),

    // composition (round 15): CTE → array_agg list column → lambda →
    // list_sum — proves LIST-VALUED columns flow through the CTE
    // machinery and the lambda tier composes over them downstream of
    // an aggregation (exact integer digits, hash-stable).
    "hashql_list_compose" -> Q(
      (s, d) => run(s, d,
        "with keys as ( select orders.o_custkey as ck, " +
          "array_agg(orders.o_orderkey) as ks from orders " +
          "group by orders.o_custkey ) " +
          "select keys.ck, len(keys.ks) as n, " +
          "list_sum(list_transform(keys.ks, x -> x % 10)) as digsum " +
          "from keys where keys.ck <= 200 order by keys.ck"),
      Some("""WITH keys AS (
             |  SELECT o_custkey AS ck,
             |    array_agg(o_orderkey ORDER BY o_orderkey) AS ks
             |  FROM orders GROUP BY o_custkey)
             |SELECT ck, len(ks) AS n,
             |  CAST(list_sum(list_transform(ks, x -> x % 10)) AS BIGINT)
             |    AS digsum
             |FROM keys WHERE ck <= 200 ORDER BY ck""".stripMargin)),

    // time_bucket (round 15): fixed-width buckets aligned at the Unix
    // epoch in exact 64-bit millisecond arithmetic — the down-sampling
    // twin of date_trunc for widths the calendar doesn't name; native
    // time_bucket origins differ per engine, so BOTH sides spell the
    // pinned formula.
    "hashql_time_bucket" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, " +
          "time_bucket(interval '30' day, orders.o_orderdate) as b30d, " +
          "time_bucket(interval '45' minute, orders.o_orderdate) as b45m, " +
          // pre-epoch probe (round-16): floor-mod buckets DOWN to
          // 22:00, where a truncating % would have rounded up to 23:00
          "time_bucket(interval '1' hour, " +
          "timestamp '1969-12-31 22:47:13') as pre " +
          "from orders where orders.o_orderkey <= 300 " +
          "order by orders.o_orderkey"),
      Some("""SELECT o_orderkey,
             |  make_timestamp((epoch_ms(o_orderdate)
             |    - ((epoch_ms(o_orderdate) % 2592000000 + 2592000000)
             |       % 2592000000)) * 1000) AS b30d,
             |  make_timestamp((epoch_ms(o_orderdate)
             |    - ((epoch_ms(o_orderdate) % 2700000 + 2700000)
             |       % 2700000)) * 1000) AS b45m,
             |  make_timestamp((epoch_ms(TIMESTAMP '1969-12-31 22:47:13')
             |    - ((epoch_ms(TIMESTAMP '1969-12-31 22:47:13') % 3600000
             |        + 3600000) % 3600000)) * 1000) AS pre
             |FROM orders WHERE o_orderkey <= 300
             |ORDER BY o_orderkey""".stripMargin)),

    // ALTER TABLE (round 15): the full schema-evolution verb set over
    // the copy-on-write catalog — add (with backfilling DEFAULT),
    // rename column, rename table, drop column; the oracle executes
    // the same DDL script. Inserts after ADD COLUMN always supply the
    // new column (the dialect's dynamic schema fills ABSENT fields
    // with NULL, not the column default — documented divergence).
    "hashql_alter_table" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into prod (pname, price) values ('a', 10), ('b', 20)")
        HashQL.execute(cat,
          "alter table prod add column category varchar default 'gen'")
        HashQL.execute(cat, "alter table prod rename column pname to title")
        HashQL.execute(cat, "alter table prod rename to products")
        HashQL.execute(cat,
          "insert into products (title, price, category) " +
            "values ('c', 30, 'new')")
        HashQL.execute(cat, "alter table products drop column price")
        HashQL.execute(cat,
          "select products.title, products.category from products " +
            "order by products.title").get
      },
      Some("""CREATE TEMP TABLE g15at_prod(pname VARCHAR, price BIGINT);
             |INSERT INTO g15at_prod VALUES ('a', 10), ('b', 20);
             |ALTER TABLE g15at_prod ADD COLUMN category VARCHAR
             |  DEFAULT 'gen';
             |ALTER TABLE g15at_prod RENAME COLUMN pname TO title;
             |ALTER TABLE g15at_prod RENAME TO g15at_products;
             |INSERT INTO g15at_products VALUES ('c', 30, 'new');
             |ALTER TABLE g15at_products DROP COLUMN price;
             |SELECT title, category FROM g15at_products
             |ORDER BY title""".stripMargin)),

    // date_diff (round 15): DuckDB's boundary-crossing counts,
    // desugared to exact arithmetic (datediff / date-part algebra /
    // floor'd epoch buckets); the oracle runs the native function.
    "hashql_date_diff" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, " +
          "date_diff('day', orders.o_orderdate, timestamp '1998-12-01') as dd, " +
          "date_diff('month', orders.o_orderdate, timestamp '1998-12-01') as dm, " +
          "date_diff('year', orders.o_orderdate, timestamp '1998-12-01') as dy, " +
          "date_diff('hour', orders.o_orderdate, " +
          "timestamp '1998-12-01 07:30:00') as dh " +
          "from orders where orders.o_orderkey <= 300 " +
          "order by orders.o_orderkey"),
      Some("""SELECT o_orderkey,
             |  date_diff('day', o_orderdate, TIMESTAMP '1998-12-01') AS dd,
             |  date_diff('month', o_orderdate, TIMESTAMP '1998-12-01') AS dm,
             |  date_diff('year', o_orderdate, TIMESTAMP '1998-12-01') AS dy,
             |  date_diff('hour', o_orderdate,
             |    TIMESTAMP '1998-12-01 07:30:00') AS dh
             |FROM orders WHERE o_orderkey <= 300
             |ORDER BY o_orderkey""".stripMargin)),

    // USING joins (round 15): ANSI `join u using (k, …)` — each key
    // equates the same-named column on both sides, composite keys ride
    // the extras tier; LEFT USING keeps the null-extension semantics.
    "hashql_using_join" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into emp (ename, dept_id, band) values " +
            "('ann', 1, 3), ('bob', 2, 1), ('cal', 1, 2), ('dee', 9, 5)")
        HashQL.execute(cat,
          "insert into dept (dept_id, dname, band) values " +
            "(1, 'eng', 3), (2, 'ops', 1), (3, 'hr', 9)")
        HashQL.execute(cat,
          "select emp.ename, dept.dname from emp " +
            "join dept using (dept_id) order by emp.ename").get
          .union(HashQL.execute(cat,
            "select emp.ename, dept.dname from emp " +
              "left join dept using (dept_id, band) " +
              "order by emp.ename").get)
      },
      Some("""CREATE TEMP TABLE g15u_emp(ename VARCHAR, dept_id BIGINT,
             |  band BIGINT);
             |INSERT INTO g15u_emp VALUES ('ann', 1, 3), ('bob', 2, 1),
             |  ('cal', 1, 2), ('dee', 9, 5);
             |CREATE TEMP TABLE g15u_dept(dept_id BIGINT, dname VARCHAR,
             |  band BIGINT);
             |INSERT INTO g15u_dept VALUES (1, 'eng', 3), (2, 'ops', 1),
             |  (3, 'hr', 9);
             |SELECT ename, dname FROM g15u_emp JOIN g15u_dept
             |  USING (dept_id)
             |UNION ALL
             |SELECT ename, dname FROM g15u_emp LEFT JOIN g15u_dept
             |  USING (dept_id, band)""".stripMargin)),

    // CREATE VIEW (round 15): a LOGICAL view — the body re-plans on
    // every read, so the post-CREATE insert is visible through it (the
    // golden's whole point; CTAS would have pinned the earlier commit).
    "hashql_create_view" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into sales (rk, amt) values (1, 10), (2, 20), (1, 5)")
        HashQL.execute(cat,
          "create view big_sales as select sales.rk, sales.amt " +
            "from sales where sales.amt >= 10")
        HashQL.execute(cat,
          "insert into sales (rk, amt) values (2, 50), (3, 7)")
        HashQL.execute(cat,
          "select big_sales.rk, sum(big_sales.amt) as s from big_sales " +
            "group by big_sales.rk order by big_sales.rk").get
      },
      Some("""CREATE TEMP TABLE g15v_sales(rk BIGINT, amt BIGINT);
             |INSERT INTO g15v_sales VALUES (1, 10), (2, 20), (1, 5);
             |CREATE TEMP VIEW g15v_big AS
             |  SELECT rk, amt FROM g15v_sales WHERE amt >= 10;
             |INSERT INTO g15v_sales VALUES (2, 50), (3, 7);
             |SELECT rk, CAST(sum(amt) AS BIGINT) AS s FROM g15v_big
             |GROUP BY rk ORDER BY rk""".stripMargin)),

    // list tier 2 (round 15): sort/distinct/extract/slice/position/
    // unique/sum over split-derived lists — all scan-side codegen'd
    // array ops; dialect list_distinct is SORTED (DuckDB's is
    // hash-ordered, so the mirror sorts both sides); the oracle casts
    // list_sum's HUGEINT down to BIGINT.
    "hashql_list_tier2" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, " +
          "array_to_string(list_sort(split(customer.c_name, '0')), '|') as srt, " +
          "array_to_string(list_distinct(split(customer.c_name, '0')), '|') as dst, " +
          "list_sum(list_transform(split(customer.c_name, '#'), " +
          "x -> length(x))) as lsum, " +
          "list_extract(split(customer.c_name, '#'), 2) as second_part, " +
          "list_position(split(customer.c_name, '#'), 'Customer') as pc, " +
          // ABSENT element → 0 on both engines (DuckDB 1.0; ≥1.1 moved
          // to NULL — divergence documented at the lowering)
          "list_position(split(customer.c_name, '#'), 'zzz') as pz, " +
          "list_unique(split(customer.c_name, '0')) as uq, " +
          "array_to_string(array_slice(split(customer.c_name, '0'), 2, 3), '|') as mid " +
          "from customer where customer.c_custkey <= 200 " +
          "order by customer.c_custkey"),
      Some("""SELECT c_custkey,
             |  array_to_string(list_sort(string_split_regex(c_name, '0')),
             |    '|') AS srt,
             |  array_to_string(list_sort(list_distinct(
             |    string_split_regex(c_name, '0'))), '|') AS dst,
             |  CAST(list_sum(list_transform(string_split_regex(c_name, '#'),
             |    x -> length(x))) AS BIGINT) AS lsum,
             |  list_extract(string_split_regex(c_name, '#'), 2)
             |    AS second_part,
             |  list_position(string_split_regex(c_name, '#'), 'Customer')
             |    AS pc,
             |  list_position(string_split_regex(c_name, '#'), 'zzz')
             |    AS pz,
             |  list_unique(string_split_regex(c_name, '0')) AS uq,
             |  array_to_string(array_slice(string_split_regex(c_name, '0'),
             |    2, 3), '|') AS mid
             |FROM customer WHERE c_custkey <= 200
             |ORDER BY c_custkey""".stripMargin)),

    // list lambdas (round 15): list_transform/list_filter with
    // `x -> body` — Spark transform/filter HOFs, scan-side inside
    // whole-stage codegen (per-element work never explodes rows); the
    // shared scalar dispatch means the function tier inside lambdas is
    // the tier outside. Output stringified (list columns don't hash).
    "hashql_list_lambda" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, " +
          "array_to_string(list_transform(split(customer.c_name, '#'), " +
          "x -> upper(x)), '|') as up, " +
          "len(list_filter(split(customer.c_name, '0'), " +
          "x -> length(x) > 0)) as nz " +
          "from customer where customer.c_custkey <= 200 " +
          "order by customer.c_custkey"),
      Some("""SELECT c_custkey,
             |  array_to_string(list_transform(
             |    string_split_regex(c_name, '#'), x -> upper(x)), '|') AS up,
             |  len(list_filter(string_split_regex(c_name, '0'),
             |    x -> length(x) > 0)) AS nz
             |FROM customer WHERE c_custkey <= 200
             |ORDER BY c_custkey""".stripMargin)),

    // UNION ALL BY NAME (round 15): branches align by column name, the
    // schema-evolution idiom — absent columns null-fill; Spark's
    // unionByName ≡ DuckDB's BY NAME, including output column order
    // (first branch, then new columns in appearance order).
    "hashql_union_by_name" -> Q(
      (s, d) => run(s, d,
        "select nation.n_nationkey as k, nation.n_name as nm " +
          "from nation where nation.n_nationkey < 5 " +
          "union all by name " +
          "select region.r_name as nm, region.r_regionkey as k, " +
          "region.r_regionkey * 10 as extra from region"),
      Some("""SELECT n_nationkey AS k, n_name AS nm
             |FROM nation WHERE n_nationkey < 5
             |UNION ALL BY NAME
             |SELECT r_name AS nm, r_regionkey AS k,
             |  r_regionkey * 10 AS extra FROM region""".stripMargin)),

    // bool_and / bool_or (round 15): ANSI EVERY/ANY over a predicate,
    // desugared onto min/max of a three-way CASE gate (unknown rows
    // ignored, ANSI); the oracle runs the native aggregates — booleans
    // are exact, so they hash directly.
    "hashql_bool_agg" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_returnflag, " +
          "bool_and(lineitem.l_quantity > 1) as all_gt1, " +
          "bool_or(lineitem.l_quantity > 49) as any_gt49 " +
          "from lineitem group by lineitem.l_returnflag " +
          "order by lineitem.l_returnflag"),
      Some("""SELECT l_returnflag,
             |  bool_and(l_quantity > 1) AS all_gt1,
             |  bool_or(l_quantity > 49) AS any_gt49
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // aggregate-threshold CASE conditions (round 15): `case when sum(…)
    // > k then … end` in a grouped projection — the condition's
    // aggregates join the SAME one-shuffle aggregation pass under
    // reserved names (no second scan, no HAVING detour).
    "hashql_case_agg_cond" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_returnflag, " +
          "case when sum(lineitem.l_quantity) > 500000 then 'heavy' " +
          "when count(*) > 10000 then 'mid' else 'light' end as band, " +
          "count(*) from lineitem group by lineitem.l_returnflag " +
          "order by lineitem.l_returnflag"),
      Some("""SELECT l_returnflag,
             |  CASE WHEN sum(l_quantity) > 500000 THEN 'heavy'
             |    WHEN count(*) > 10000 THEN 'mid' ELSE 'light' END AS band,
             |  count(*) AS cnt
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // LATERAL aggregate subquery (round 13): per-customer order stats —
    // DECORRELATED to one grouped aggregate over orders + one LEFT hash
    // join (count 0 / max NULL on the empty group, ANSI cross-lateral
    // semantics); never a per-outer-row evaluation.
    "hashql_lateral_agg" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, t.cnt, t.hi from customer, " +
          "lateral ( select count(*), max(orders.o_totalprice) as hi " +
          "from orders where orders.o_custkey = customer.c_custkey ) t " +
          "where customer.c_custkey <= 300 order by customer.c_custkey"),
      Some("""SELECT c_custkey, t.cnt, t.hi FROM customer,
             |LATERAL ( SELECT count(*) AS cnt, max(o_totalprice) AS hi
             |  FROM orders WHERE o_custkey = c_custkey ) t
             |WHERE c_custkey <= 300
             |ORDER BY c_custkey""".stripMargin)),

    // EXPRESSION window keys in a GROUPED select (round 14 — the r13
    // queue's #3): `partition by year(o_orderdate)` matches the
    // projected computed grouping key structurally and addresses its
    // column on the aggregated frame — top-3 most-ordering customers
    // per order-year, one aggregation shuffle + one window exchange.
    "hashql_win_over_agg_exprkey" -> Q(
      (s, d) => run(s, d,
        "select year(orders.o_orderdate) as y, orders.o_custkey, " +
          "count(*) as cnt, rank() over " +
          "(partition by year(orders.o_orderdate) " +
          "order by cnt desc, orders.o_custkey) as r " +
          "from orders group by y, orders.o_custkey " +
          "qualify r <= 3 order by y, r"),
      Some("""SELECT year(o_orderdate) AS y, o_custkey, count(*) AS cnt,
             |  rank() OVER (PARTITION BY year(o_orderdate)
             |    ORDER BY count(*) DESC, o_custkey) AS r
             |FROM orders GROUP BY year(o_orderdate), o_custkey
             |QUALIFY r <= 3 ORDER BY y, r""".stripMargin)),

    // RANGE-correlated LATERAL aggregates (round 14 — completing the
    // r13 missing #6): per-order stats over its LATE lineitems
    // (shipped after the order date) — eq + range correlation
    // decorrelated over the DISTINCT outer tuples: one tuple-distinct
    // shuffle, one hash join with the range as a post-filter, one
    // grouped aggregation, one left join back; count misses 0 (ANSI).
    "hashql_lateral_range" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, t.cnt, t.sum_l_quantity from orders, " +
          "lateral ( select count(*), sum(lineitem.l_quantity) " +
          "from lineitem where lineitem.l_orderkey = orders.o_orderkey " +
          "and lineitem.l_shipdate > orders.o_orderdate ) t " +
          "where orders.o_orderkey <= 2000 order by orders.o_orderkey"),
      Some("""SELECT o_orderkey, t.cnt, t.sum_l_quantity FROM orders,
             |LATERAL ( SELECT count(*) AS cnt,
             |    sum(l_quantity) AS sum_l_quantity
             |  FROM lineitem WHERE l_orderkey = o_orderkey
             |  AND l_shipdate > o_orderdate ) t
             |WHERE o_orderkey <= 2000
             |ORDER BY o_orderkey""".stripMargin)),

    // ROW-RETURNING LATERAL (round 14 — the r13 queue's #2): each
    // customer's single most expensive order — decorrelated to ONE
    // keyed window over orders (row_number ≤ 1, WindowGroupLimit) +
    // ONE inner equi-join; ANSI comma-lateral drops orderless
    // customers. The ORDER BY carries a unique tiebreaker (o_orderkey)
    // per the DISTINCT ON determinism contract.
    "hashql_lateral_top1" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, x.ok, x.tp from customer, " +
          "lateral ( select orders.o_orderkey as ok, " +
          "orders.o_totalprice as tp from orders " +
          "where orders.o_custkey = customer.c_custkey " +
          "order by orders.o_totalprice desc, orders.o_orderkey " +
          "limit 1 ) x " +
          "where customer.c_custkey <= 300 order by customer.c_custkey"),
      Some("""SELECT c_custkey, x.ok, x.tp FROM customer,
             |LATERAL ( SELECT o_orderkey AS ok, o_totalprice AS tp
             |  FROM orders WHERE o_custkey = c_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1 ) x
             |WHERE c_custkey <= 300
             |ORDER BY c_custkey""".stripMargin)),

    // LEFT JOIN LATERAL (round 14): the keep-miss variant of the
    // row-returning lateral — orderless customers survive with NULL
    // lateral outputs; same keyed-window + equi-join plan, LEFT type.
    "hashql_left_join_lateral" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, x.ok from customer " +
          "left join lateral ( select orders.o_orderkey as ok " +
          "from orders where orders.o_custkey = customer.c_custkey " +
          "order by orders.o_totalprice desc, orders.o_orderkey " +
          "limit 1 ) x on true " +
          "where customer.c_custkey <= 300 order by customer.c_custkey"),
      Some("""SELECT c_custkey, x.ok FROM customer
             |LEFT JOIN LATERAL ( SELECT o_orderkey AS ok
             |  FROM orders WHERE o_custkey = c_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1 ) x
             |  ON true
             |WHERE c_custkey <= 300
             |ORDER BY c_custkey""".stripMargin)),

    // round-14 surface COMPOSITION golden: DISTINCT ON (r13) picks each
    // nation's richest customer while a LEFT JOIN LATERAL (r14)
    // attaches that customer's single best order — or NULL for the
    // orderless; the lateral folds before the window, so the pick rides
    // its output. Two keyed windows + two hash joins, nothing per-row.
    "hashql_best_order_per_nation" -> Q(
      (s, d) => run(s, d,
        "select distinct on (customer.c_nationkey) " +
          "customer.c_nationkey, customer.c_custkey, " +
          "customer.c_acctbal, x.ok " +
          "from customer left join lateral ( select " +
          "orders.o_orderkey as ok from orders " +
          "where orders.o_custkey = customer.c_custkey " +
          "order by orders.o_totalprice desc, orders.o_orderkey " +
          "limit 1 ) x on true " +
          "order by customer.c_nationkey, customer.c_acctbal desc, " +
          "customer.c_custkey"),
      Some("""SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey,
             |  c_acctbal, x.ok
             |FROM customer LEFT JOIN LATERAL ( SELECT o_orderkey AS ok
             |  FROM orders WHERE o_custkey = c_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1 ) x
             |  ON true
             |ORDER BY c_nationkey, c_acctbal DESC,
             |  c_custkey""".stripMargin)),

    // DELETE … USING (round 13): the join-delete — one semi join
    // computes the doomed id set (using-side filters prune its scan
    // first), then the ordinary copy-on-write anti-join. The oracle is
    // the literal post-state, the DML pattern of this suite.
    "hashql_delete_using" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into docs2 (nm, score) values ('d1', 10), ('d2', 20), " +
            "('d3', 30)")
        HashQL.execute(cat,
          "insert into bad2 (nm, flag) values ('d2', 1), ('d3', 0)")
        HashQL.execute(cat,
          "delete from docs2 using bad2 " +
            "where docs2.nm = bad2.nm and bad2.flag = 1")
        HashQL.execute(cat,
          "select docs2.nm, docs2.score from docs2 order by docs2.nm").get
      },
      Some("""SELECT * FROM (VALUES ('d1', 10),
             |  ('d3', 30)) AS t(nm, score)""".stripMargin)),

    // EXISTS as a projected boolean (round 13): the labeling idiom —
    // flag customers holding any 300k+ order; one row-preserving left
    // join against the DISTINCT correlation keys, miss coalesced FALSE.
    "hashql_exists_flag" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, exists ( select orders.o_orderkey " +
          "from orders where orders.o_custkey = customer.c_custkey " +
          "and orders.o_totalprice > 300000.0 ) as big_spender " +
          "from customer where customer.c_custkey <= 300 " +
          "order by customer.c_custkey"),
      Some("""SELECT c_custkey, EXISTS ( SELECT o_orderkey FROM orders
             |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0 )
             |  AS big_spender
             |FROM customer WHERE c_custkey <= 300
             |ORDER BY c_custkey""".stripMargin)),

    // round-13 surface COMPOSITION golden: DISTINCT ON picks each
    // nation's richest customer while a LATERAL attaches their order
    // count — one statement, two of the round's operators interacting
    // (lateral folds before the window, its outputs ride the pick).
    "hashql_richest_per_nation" -> Q(
      (s, d) => run(s, d,
        "select distinct on (customer.c_nationkey) customer.c_nationkey, " +
          "customer.c_custkey, customer.c_acctbal, t.cnt from customer, " +
          "lateral ( select count(*) from orders " +
          "where orders.o_custkey = customer.c_custkey ) t " +
          "order by customer.c_nationkey, customer.c_acctbal desc, " +
          "customer.c_custkey"),
      Some("""SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey,
             |  c_acctbal, t.cnt
             |FROM customer, LATERAL ( SELECT count(*) AS cnt FROM orders
             |  WHERE o_custkey = c_custkey ) t
             |ORDER BY c_nationkey, c_acctbal DESC,
             |  c_custkey""".stripMargin)),

    // HAVING with a scalar-subquery RHS (round 13): the TPC-H Q11 idiom
    // spelled DIRECTLY — suppliers holding more than 1.1% of the global
    // quantity; the threshold broadcasts as a 1-row cross join against
    // the aggregated frame (fraction-based, so it scales with SF).
    "hashql_having_subquery" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_suppkey, sum(lineitem.l_quantity) as sq " +
          "from lineitem group by lineitem.l_suppkey " +
          "having sum(lineitem.l_quantity) > " +
          "( select sum(lineitem.l_quantity) * 0.011 as thr from lineitem ) " +
          "order by lineitem.l_suppkey"),
      Some("""SELECT l_suppkey, sum(l_quantity) AS sq FROM lineitem
             |GROUP BY l_suppkey
             |HAVING sum(l_quantity) > ( SELECT sum(l_quantity) * 0.011
             |  FROM lineitem )
             |ORDER BY l_suppkey""".stripMargin)),

    // lag/lead with offsets and miss defaults (round 13) — the
    // period-over-period family's full form; same single window
    // exchange as the 1-arg spelling.
    "hashql_lag_offset" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, orders.o_orderkey, " +
          "lag(orders.o_orderkey, 2) over (partition by orders.o_custkey " +
          "order by orders.o_orderkey) as l2, " +
          "lead(orders.o_orderkey, 1, -1) over (partition by " +
          "orders.o_custkey order by orders.o_orderkey) as ld " +
          "from orders where orders.o_custkey <= 150 " +
          "order by orders.o_custkey, orders.o_orderkey"),
      Some("""SELECT o_custkey, o_orderkey,
             |  lag(o_orderkey, 2) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderkey) AS l2,
             |  lead(o_orderkey, 1, -1) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderkey) AS ld
             |FROM orders WHERE o_custkey <= 150
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // inline QUALIFY windows (round 13): grouped top-k WITHOUT
    // projecting the rank — the call computes under a reserved alias
    // dropped right after the filter; Spark 4's WindowGroupLimit
    // pushdown applies (partial top-k before the window exchange).
    "hashql_qualify_inline" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, orders.o_orderkey from orders " +
          "where orders.o_custkey <= 150 " +
          "qualify row_number() over (partition by orders.o_custkey " +
          "order by orders.o_orderkey) <= 2 " +
          "order by orders.o_custkey, orders.o_orderkey"),
      Some("""SELECT o_custkey, o_orderkey FROM orders
             |WHERE o_custkey <= 150
             |QUALIFY row_number() OVER (PARTITION BY o_custkey
             |  ORDER BY o_orderkey) <= 2
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // CORRELATED quantified ALL (round 13): per-key stats + LEFT join
    // (a key miss is that row's empty set — vacuously true); customers
    // whose balance tops a tenth of every one of their own orders,
    // orderless customers included.
    "hashql_quant_corr" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey from customer " +
          "where customer.c_acctbal > all ( select " +
          "orders.o_totalprice / 10.0 as t10 from orders " +
          "where orders.o_custkey = customer.c_custkey ) " +
          "and customer.c_custkey <= 300 order by customer.c_custkey"),
      Some("""SELECT c_custkey FROM customer
             |WHERE c_acctbal > ALL ( SELECT o_totalprice / 10.0
             |  FROM orders WHERE o_custkey = c_custkey )
             |  AND c_custkey <= 300
             |ORDER BY c_custkey""".stripMargin)),

    // RANGE-correlated quantified ALL (round 14 — the r13 queue's #5):
    // orders that were their customer's most expensive SO FAR — the
    // eq + range correlation cannot group-decorrelate, so it rewrites
    // to ONE NOT-EXISTS anti join whose condition carries the range
    // conjunct and the three-valued violation test ((x op s) IS NOT
    // TRUE) as hash-match post-filters; never a nested loop.
    "hashql_quant_corr_range" -> Q(
      (s, d) => run(s, d,
        "select o1.o_orderkey from orders o1 " +
          "where o1.o_totalprice >= all ( select o2.o_totalprice " +
          "from orders o2 where o2.o_custkey = o1.o_custkey " +
          "and o2.o_orderdate <= o1.o_orderdate ) " +
          "and o1.o_orderkey <= 3000 order by o1.o_orderkey"),
      Some("""SELECT o1.o_orderkey FROM orders o1
             |WHERE o1.o_totalprice >= ALL ( SELECT o2.o_totalprice
             |  FROM orders o2 WHERE o2.o_custkey = o1.o_custkey
             |  AND o2.o_orderdate <= o1.o_orderdate )
             |  AND o1.o_orderkey <= 3000
             |ORDER BY o1.o_orderkey""".stripMargin)),

    // named WINDOW clause (round 13): one spec, several functions —
    // each `over w` substitutes the same parsed spec at select end
    // (fn-dependent validation per use), so the plan is identical to
    // the inline spellings: one window exchange shared by both calls.
    "hashql_named_window" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, orders.o_orderkey, " +
          "row_number() over w as rn, sum(orders.o_orderkey) over w as rs " +
          "from orders where orders.o_custkey <= 150 " +
          "window w as (partition by orders.o_custkey " +
          "order by orders.o_orderkey) " +
          "order by orders.o_custkey, orders.o_orderkey"),
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(row_number() OVER w AS INTEGER) AS rn,
             |  CAST(sum(o_orderkey) OVER w AS BIGINT) AS rs
             |FROM orders WHERE o_custkey <= 150
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // percentile_cont (round 13): exact interpolated quantiles — Spark's
    // percentile and DuckDB's quantile_cont share the q·(n−1) rank
    // formula, and integer-valued l_quantity keeps the interpolation
    // arithmetic bitwise-deterministic (median's generalization).
    "hashql_percentile_cont" -> Q(
      (s, d) => run(s, d,
        "select lineitem.l_returnflag, " +
          "percentile_cont(lineitem.l_quantity, 0.25) as q25, " +
          "percentile_cont(lineitem.l_quantity, 0.5) as q50, " +
          "percentile_cont(lineitem.l_quantity, 0.9) as q90 " +
          "from lineitem group by lineitem.l_returnflag " +
          "order by lineitem.l_returnflag"),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.25) AS q25,
             |  quantile_cont(l_quantity, 0.5) AS q50,
             |  quantile_cont(l_quantity, 0.9) AS q90
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // strptime (round 13): the parsing inverse of strftime — render the
    // timestamp, parse it back, both engines agree on well-formed input.
    "hashql_strptime" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, " +
          "strptime(strftime(orders.o_orderdate, '%Y/%m/%d %H:%M:%S'), " +
          "'%Y/%m/%d %H:%M:%S') as ts from orders " +
          "where orders.o_orderkey <= 400 order by orders.o_orderkey"),
      Some("""SELECT o_orderkey,
             |  strptime(strftime(o_orderdate, '%Y/%m/%d %H:%M:%S'),
             |    '%Y/%m/%d %H:%M:%S') AS ts
             |FROM orders WHERE o_orderkey <= 400
             |ORDER BY o_orderkey""".stripMargin)),

    // try_strptime (round 14 — closes the r13 documented divergence):
    // plain strptime now RAISES on malformed input on BOTH engines
    // (Spark 4's ANSI default = DuckDB's contract); try_strptime is
    // the forgiving pair, and this golden feeds it DELIBERATELY
    // malformed rows (every 7th key gets a trailing 'x') so the NULL
    // misses hash-compare too.
    "hashql_try_strptime" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, " +
          "try_strptime(concat(strftime(orders.o_orderdate, '%Y-%m-%d'), " +
          "case when mod(orders.o_orderkey, 7) = 0 then 'x' else '' end), " +
          "'%Y-%m-%d') as ts from orders " +
          "where orders.o_orderkey <= 400 order by orders.o_orderkey"),
      Some("""SELECT o_orderkey,
             |  try_strptime(strftime(o_orderdate, '%Y-%m-%d') ||
             |    (CASE WHEN mod(o_orderkey, 7) = 0 THEN 'x' ELSE '' END),
             |    '%Y-%m-%d') AS ts
             |FROM orders WHERE o_orderkey <= 400
             |ORDER BY o_orderkey""".stripMargin)),

    // try_cast (round 15): NULL on a failed conversion where plain CAST
    // raises under both engines' ANSI defaults. Every 5th key feeds a
    // non-numeric string so the NULL misses hash-compare too; the
    // round-trip column proves success paths are unchanged.
    "hashql_try_cast" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, " +
          "try_cast(case when mod(orders.o_orderkey, 5) = 0 " +
          "then orders.o_orderstatus " +
          "else cast(orders.o_orderkey as varchar) end as bigint) as n " +
          "from orders where orders.o_orderkey <= 400 " +
          "order by orders.o_orderkey"),
      Some("""SELECT o_orderkey,
             |  TRY_CAST(CASE WHEN mod(o_orderkey, 5) = 0 THEN o_orderstatus
             |    ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT) AS n
             |FROM orders WHERE o_orderkey <= 400
             |ORDER BY o_orderkey""".stripMargin)),

    // LIMIT … WITH TIES (round 15): rows tying with the n-th row's FULL
    // sort-key tuple stay in — the result is ORDER-INSENSITIVE (every
    // tie group all in or all out), so it hash-compares where a bare
    // LIMIT over tied keys never could. Lowered as a bounded threshold
    // probe + one literal lexicographic filter (never a global rank
    // window); the oracle spells the rank() formulation.
    "hashql_limit_ties" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, orders.o_orderpriority, " +
          "orders.o_orderdate from orders " +
          "order by orders.o_orderpriority, orders.o_orderdate desc " +
          "limit 25 with ties"),
      Some("""SELECT o_orderkey, o_orderpriority, o_orderdate FROM (
             |  SELECT o_orderkey, o_orderpriority, o_orderdate,
             |    rank() OVER (ORDER BY o_orderpriority ASC,
             |      o_orderdate DESC) AS rk
             |  FROM orders) WHERE rk <= 25""".stripMargin)),

    // ANSI string sugars (round 15): substring(s FROM i FOR n) and
    // position(needle IN haystack) — parse-time desugarings over the
    // substr/strpos tiers both engines already share.
    "hashql_ansi_sugar" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, " +
          "substring(customer.c_name from 3 for 8) as mid, " +
          "substring(customer.c_name, 12) as tail_s, " +
          "position('1' in customer.c_name) as p1 " +
          "from customer where customer.c_custkey <= 300 " +
          "order by customer.c_custkey"),
      Some("""SELECT c_custkey,
             |  substring(c_name FROM 3 FOR 8) AS mid,
             |  substring(c_name, 12) AS tail_s,
             |  position('1' IN c_name) AS p1
             |FROM customer WHERE c_custkey <= 300
             |ORDER BY c_custkey""".stripMargin)),

    // array_agg (round 15): LIST aggregation — value-sorted in bare
    // calls so the result is deterministic under any partitioning; the
    // golden stringifies (list columns don't hash across engines) and
    // the oracle mirrors with an explicit ORDER BY inside the call.
    "hashql_array_agg" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, " +
          "array_to_string(array_agg(orders.o_orderkey), ',') as keys_csv, " +
          "count(*) from orders where orders.o_custkey <= 200 " +
          "group by orders.o_custkey order by orders.o_custkey"),
      Some("""SELECT o_custkey,
             |  array_to_string(array_agg(o_orderkey ORDER BY o_orderkey),
             |    ',') AS keys_csv,
             |  count(*) AS cnt
             |FROM orders WHERE o_custkey <= 200
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // TRUNCATE (round 15): DELETE with no predicate — same commit, same
    // O(delta) hooks; the oracle executes the equivalent DML script.
    "hashql_truncate" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into trc (k, v) values ('a', 1), ('b', 2), ('c', 3)")
        HashQL.execute(cat, "truncate table trc")
        HashQL.execute(cat, "insert into trc (k, v) values ('d', 9)")
        HashQL.execute(cat,
          "select trc.k, trc.v from trc order by trc.k").get
      },
      Some("""CREATE TEMP TABLE g15trc(k VARCHAR, v BIGINT);
             |INSERT INTO g15trc VALUES ('a', 1), ('b', 2), ('c', 3);
             |TRUNCATE g15trc;
             |INSERT INTO g15trc VALUES ('d', 9);
             |SELECT k, v FROM g15trc ORDER BY k""".stripMargin)),

    // strftime (round 13): DuckDB %-code rendering, lowered to Spark's
    // date_format with a translated pattern — zero-padded on both
    // engines, so the strings hash-match byte for byte.
    "hashql_strftime" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey, " +
          "strftime(orders.o_orderdate, '%Y/%m/%d') as ymd, " +
          "strftime(orders.o_orderdate, '%j') as doy " +
          "from orders where orders.o_orderkey <= 400 " +
          "order by orders.o_orderkey"),
      Some("""SELECT o_orderkey,
             |  strftime(o_orderdate, '%Y/%m/%d') AS ymd,
             |  strftime(o_orderdate, '%j') AS doy
             |FROM orders WHERE o_orderkey <= 400
             |ORDER BY o_orderkey""".stripMargin)),

    // array_agg/string_agg DISTINCT (round 16): the sorted value SET —
    // collect_set + sort, one aggregation pass, deterministic under any
    // partitioning; expression position composes with the list tier
    // (array_to_string here). The oracle spells the deterministic
    // mirror: list_sort(list_distinct(array_agg FILTER non-null)).
    "hashql_array_agg_distinct" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, " +
          "array_to_string(array_agg(distinct orders.o_orderstatus), ',') as sts, " +
          "string_agg(distinct orders.o_orderpriority, '|') as pri, " +
          "count(*) as cnt from orders where orders.o_custkey <= 200 " +
          "group by orders.o_custkey order by orders.o_custkey"),
      Some("""SELECT o_custkey,
             |  array_to_string(list_sort(list_distinct(
             |    array_agg(o_orderstatus)
             |      FILTER (WHERE o_orderstatus IS NOT NULL))), ',') AS sts,
             |  array_to_string(list_sort(list_distinct(
             |    array_agg(o_orderpriority)
             |      FILTER (WHERE o_orderpriority IS NOT NULL))), '|')
             |    AS pri,
             |  count(*) AS cnt
             |FROM orders WHERE o_custkey <= 200
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // array_agg with WITHIN-GROUP ORDER BY (round 16): string_agg's
    // struct-collect single pass, list-valued — ordered by a UNIQUE key
    // so the order is total; stringified through a CTE (list columns
    // don't hash in the compare).
    "hashql_array_agg_order" -> Q(
      (s, d) => run(s, d,
        "with k as ( select orders.o_custkey as ck, " +
          "array_agg(orders.o_orderstatus " +
          "order by orders.o_orderkey desc) as ks " +
          "from orders group by orders.o_custkey ) " +
          "select k.ck, array_to_string(k.ks, ',') as st from k " +
          "where k.ck <= 150 order by k.ck"),
      Some("""WITH k AS (
             |  SELECT o_custkey AS ck,
             |    array_agg(o_orderstatus ORDER BY o_orderkey DESC) AS ks
             |  FROM orders GROUP BY o_custkey)
             |SELECT ck, array_to_string(ks, ',') AS st FROM k
             |WHERE ck <= 150 ORDER BY ck""".stripMargin)),

    // nested lambdas (round 16): a lambda inside a lambda body over a
    // list of lists — the binding stack resolves inner-first, so `x`
    // (the outer element, itself a list) feeds list_filter under `y`.
    "hashql_lambda_nested" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, " +
          "list_sum(list_transform(" +
          "list_transform(split(customer.c_name, '#'), " +
          "x -> split(x, '0')), " +
          "x -> len(list_filter(x, y -> length(y) > 1)))) as deep " +
          "from customer where customer.c_custkey <= 200 " +
          "order by customer.c_custkey"),
      Some("""SELECT c_custkey,
             |  CAST(list_sum(list_transform(
             |    list_transform(string_split_regex(c_name, '#'),
             |      x -> string_split_regex(x, '0')),
             |    x -> len(list_filter(x, y -> length(y) > 1))))
             |    AS BIGINT) AS deep
             |FROM customer WHERE c_custkey <= 200
             |ORDER BY c_custkey""".stripMargin)),

    // USING in a 3+ table chain (round 16): the key resolves against
    // the CUMULATIVE left side (ANSI/DuckDB) — here the second USING
    // key `grp` arrives via the FIRST join (only `mid` has it), so the
    // r15 base-table bind pointed at a table without the column;
    // ambiguity (two same-named accumulated columns) rejects toward ON
    // (spec-covered).
    "hashql_using_chain" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into base (bid, bval) values (1, 10), (2, 20), (3, 30)")
        HashQL.execute(cat,
          "insert into mid (bid, grp) values (1, 'x'), (2, 'y'), (3, 'x')")
        HashQL.execute(cat,
          "insert into grps (grp, label) values ('x', 'ex'), ('y', 'wy')")
        HashQL.execute(cat,
          "select grps.label, sum(base.bval) as tot from base " +
            "join mid using (bid) join grps using (grp) " +
            "group by grps.label order by grps.label").get
      },
      Some("""CREATE TEMP TABLE g16u_base(bid BIGINT, bval BIGINT);
             |INSERT INTO g16u_base VALUES (1, 10), (2, 20), (3, 30);
             |CREATE TEMP TABLE g16u_mid(bid BIGINT, grp VARCHAR);
             |INSERT INTO g16u_mid VALUES (1, 'x'), (2, 'y'), (3, 'x');
             |CREATE TEMP TABLE g16u_grps(grp VARCHAR, label VARCHAR);
             |INSERT INTO g16u_grps VALUES ('x', 'ex'), ('y', 'wy');
             |SELECT label, CAST(sum(bval) AS BIGINT) AS tot
             |FROM g16u_base JOIN g16u_mid USING (bid)
             |  JOIN g16u_grps USING (grp)
             |GROUP BY label ORDER BY label""".stripMargin)),

    // MERGE … WHEN NOT MATCHED BY SOURCE THEN UPDATE (round 16): the
    // gentler half of table-sync — stale target rows are FLAGGED, not
    // dropped; ordered first-match-wins with the BY SOURCE delete. The
    // oracle executes the equivalent multi-statement DuckDB program
    // (matched rows are in the source, so the update-before-delete
    // order cannot misfire; the sandbox DuckDB has no MERGE INTO).
    "hashql_merge_by_source_update" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into mby (k, v, active) values " +
            "('a', 1, 1), ('b', 2, 1), ('c', 3, 1), ('d', 9, 1)")
        HashQL.execute(cat,
          "insert into msr (k, v) values ('a', 10), ('e', 50)")
        HashQL.execute(cat,
          "merge into mby using msr on mby.k = msr.k " +
            "when matched then update set mby.v = msr.v " +
            "when not matched by source and mby.v < 3 then delete " +
            "when not matched by source then update set mby.active = 0 " +
            "when not matched then insert (k, v, active) " +
            "values (msr.k, msr.v, 1)")
        HashQL.execute(cat,
          "select mby.k, mby.v, mby.active from mby order by mby.k").get
      },
      Some("""CREATE TEMP TABLE g16m_t(k VARCHAR, v BIGINT,
             |  active BIGINT);
             |INSERT INTO g16m_t VALUES ('a', 1, 1), ('b', 2, 1),
             |  ('c', 3, 1), ('d', 9, 1);
             |CREATE TEMP TABLE g16m_s(k VARCHAR, v BIGINT);
             |INSERT INTO g16m_s VALUES ('a', 10), ('e', 50);
             |UPDATE g16m_t SET v = s.v FROM g16m_s s
             |  WHERE g16m_t.k = s.k;
             |DELETE FROM g16m_t
             |  WHERE k NOT IN (SELECT k FROM g16m_s) AND v < 3;
             |UPDATE g16m_t SET active = 0
             |  WHERE k NOT IN (SELECT k FROM g16m_s) AND NOT (v < 3);
             |INSERT INTO g16m_t SELECT k, v, 1 FROM g16m_s
             |  WHERE k NOT IN (SELECT k FROM g16m_t);
             |SELECT k, v, active FROM g16m_t ORDER BY k""".stripMargin)),

    // multiple WHEN NOT MATCHED clauses (round 16): ordered
    // first-match-wins inserts with DIFFERENT column lists — the
    // projections conform over the union of inserted columns (absent
    // ones null); one anti-join feeds every clause.
    "hashql_merge_multi_insert" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into mmi (k, v) values ('a', 1)")
        HashQL.execute(cat,
          "insert into mms (k, v) values ('a', 5), ('b', 20), ('c', 2)")
        HashQL.execute(cat,
          "merge into mmi using mms on mmi.k = mms.k " +
            "when matched then update set mmi.v = mms.v " +
            "when not matched and mms.v >= 10 then " +
            "insert (k, v, tag) values (mms.k, mms.v, 'big') " +
            "when not matched then insert (k, v) values (mms.k, mms.v)")
        // coalesce = the skip-exempt projection: bare `mmi.tag` would
        // SKIP the rows the second clause inserted without a tag (P1
        // missing-field semantics)
        HashQL.execute(cat,
          "select mmi.k, mmi.v, coalesce(mmi.tag, '-') as tag " +
            "from mmi order by mmi.k").get
      },
      Some("""CREATE TEMP TABLE g16mi_t(k VARCHAR, v BIGINT,
             |  tag VARCHAR);
             |INSERT INTO g16mi_t VALUES ('a', 1, NULL);
             |CREATE TEMP TABLE g16mi_s(k VARCHAR, v BIGINT);
             |INSERT INTO g16mi_s VALUES ('a', 5), ('b', 20), ('c', 2);
             |UPDATE g16mi_t SET v = s.v FROM g16mi_s s
             |  WHERE g16mi_t.k = s.k;
             |INSERT INTO g16mi_t SELECT k, v,
             |  CASE WHEN v >= 10 THEN 'big' ELSE NULL END
             |  FROM g16mi_s WHERE k NOT IN (SELECT k FROM g16mi_t);
             |SELECT k, v, COALESCE(tag, '-') AS tag FROM g16mi_t
             |ORDER BY k""".stripMargin)),

    // UNION ALL recursion (round 16): BAG semantics — multiplicities
    // ARE the answer (path counting over a DAG: d and e are reachable
    // from a along TWO paths each); termination is an empty round, and
    // the 64-round cap rejects cyclic divergence (spec-covered).
    "hashql_recursive_bag" -> Q(
      (s, d) => {
        val cat = new GraftCatalog(s)
        HashQL.execute(cat,
          "insert into edg (s, t) values ('a', 'b'), ('a', 'c'), " +
            "('b', 'd'), ('c', 'd'), ('d', 'e')")
        HashQL.execute(cat,
          "with recursive reach as ( " +
            "select edg.s as s, edg.t as t from edg where edg.s = 'a' " +
            "union all " +
            "select reach.s, edg.t from reach " +
            "join edg on reach.t = edg.s ) " +
            "select reach.t, count(*) as paths from reach " +
            "group by reach.t order by reach.t").get
      },
      Some("""CREATE TEMP TABLE g16r_e(s VARCHAR, t VARCHAR);
             |INSERT INTO g16r_e VALUES ('a','b'), ('a','c'),
             |  ('b','d'), ('c','d'), ('d','e');
             |WITH RECURSIVE reach AS (
             |  SELECT s, t FROM g16r_e WHERE s = 'a'
             |  UNION ALL
             |  SELECT reach.s, e.t FROM reach
             |    JOIN g16r_e e ON reach.t = e.s)
             |SELECT t, count(*) AS paths FROM reach
             |GROUP BY t ORDER BY t""".stripMargin)),

    // two-range EXISTS (round 16): a JOINT witness with NO equality key
    // (`∃ l: l_orderkey < x AND l_suppkey > y`) — banded bucket
    // equi-join (1024 exact-long buckets + prefix-folded witness
    // aggregates), never the nested loop Spark would otherwise plan;
    // ScaleSpec asserts the plan. The inner carries a LOCAL filter too.
    "hashql_exists_range2" -> Q(
      (s, d) => run(s, d,
        "select orders.o_orderkey from orders " +
          "where exists ( select lineitem.l_orderkey from lineitem " +
          "where lineitem.l_orderkey < orders.o_orderkey " +
          "and lineitem.l_suppkey > orders.o_custkey " +
          "and lineitem.l_quantity >= 30 ) " +
          "and orders.o_orderkey <= 400 order by orders.o_orderkey"),
      Some("""SELECT o_orderkey FROM orders o
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |  WHERE l_orderkey < o.o_orderkey
             |    AND l_suppkey > o.o_custkey
             |    AND l_quantity >= 30)
             |AND o_orderkey <= 400 ORDER BY o_orderkey""".stripMargin)),

    // levenshtein + list membership tier (round 16): native edit
    // distance on both engines; list_has_any/list_has_all (DuckDB
    // argument order — the SECOND list is the candidate subset);
    // list_intersect SORTED (the deterministic mirror — both engines
    // dedup the intersection).
    "hashql_levenshtein" -> Q(
      (s, d) => run(s, d,
        "select customer.c_custkey, " +
          "levenshtein(customer.c_name, 'Customer') as lv, " +
          "list_has_any(split(customer.c_name, '0'), " +
          "split(customer.c_name, '1')) as ha, " +
          "list_has_all(split(customer.c_name, '#'), " +
          "split(customer.c_name, '#')) as hb, " +
          "array_to_string(list_intersect(split(customer.c_name, '0'), " +
          "split(customer.c_name, '1')), '|') as li " +
          "from customer where customer.c_custkey <= 200 " +
          "order by customer.c_custkey"),
      Some("""SELECT c_custkey,
             |  levenshtein(c_name, 'Customer') AS lv,
             |  list_has_any(string_split_regex(c_name, '0'),
             |    string_split_regex(c_name, '1')) AS ha,
             |  list_has_all(string_split_regex(c_name, '#'),
             |    string_split_regex(c_name, '#')) AS hb,
             |  coalesce(array_to_string(list_sort(list_intersect(
             |    string_split_regex(c_name, '0'),
             |    string_split_regex(c_name, '1'))), '|'), '') AS li
             |FROM customer WHERE c_custkey <= 200
             |ORDER BY c_custkey""".stripMargin)),
             // ^ DuckDB's array_to_string([] …) is NULL where Spark's
             // array_join is '' — the coalesce pins the empty
             // intersection to '' on both sides (input lists are never
             // NULL here, so no real NULL is masked)

    // bitwise aggregates (round 16): native partial-agg'd bit_and/
    // bit_or/bit_xor — order-free, exact on any partitioning.
    "hashql_bit_agg" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, bit_and(orders.o_orderkey) as ba, " +
          "bit_or(orders.o_orderkey) as bo, " +
          "bit_xor(orders.o_orderkey) as bx, count(*) as cnt " +
          "from orders where orders.o_custkey <= 200 " +
          "group by orders.o_custkey order by orders.o_custkey"),
      Some("""SELECT o_custkey, bit_and(o_orderkey) AS ba,
             |  bit_or(o_orderkey) AS bo, bit_xor(o_orderkey) AS bx,
             |  count(*) AS cnt
             |FROM orders WHERE o_custkey <= 200
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // deterministic mode (round 16): most frequent value, ties broken
    // toward the SMALLEST — native mode is tie-arbitrary on both
    // engines, so the dialect pins the tiebreak and the oracle spells
    // the count-desc/value-asc rank explicitly.
    "hashql_mode" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, mode(orders.o_orderpriority) as md, " +
          "count(*) as cnt from orders where orders.o_custkey <= 200 " +
          "group by orders.o_custkey order by orders.o_custkey"),
      Some("""WITH c AS (
             |  SELECT o_custkey, o_orderpriority v, count(*) n
             |  FROM orders WHERE o_custkey <= 200 GROUP BY 1, 2),
             |r AS (
             |  SELECT o_custkey, v, sum(n) OVER (PARTITION BY o_custkey)
             |    AS tot, row_number() OVER (PARTITION BY o_custkey
             |    ORDER BY n DESC, v ASC) AS rn
             |  FROM c)
             |SELECT o_custkey, v AS md, CAST(tot AS BIGINT) AS cnt
             |FROM r WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // SUMMARIZE (round 16): the data-card verb — per-column min/max
    // (string-rendered), non-null count, null count, EXACT distinct
    // count, all from ONE aggregation statement; the oracle composes
    // the same card per column.
    "hashql_summarize" -> Q(
      (s, d) => run(s, d, "summarize nation").orderBy("column_name"),
      Some("""SELECT * FROM (
             |  SELECT 'n_nationkey' AS column_name,
             |    CAST(min(n_nationkey) AS VARCHAR) AS min,
             |    CAST(max(n_nationkey) AS VARCHAR) AS max,
             |    count(n_nationkey) AS n,
             |    count(*) - count(n_nationkey) AS nnull,
             |    count(DISTINCT n_nationkey) AS ndv FROM nation
             |  UNION ALL SELECT 'n_name',
             |    CAST(min(n_name) AS VARCHAR),
             |    CAST(max(n_name) AS VARCHAR), count(n_name),
             |    count(*) - count(n_name), count(DISTINCT n_name)
             |  FROM nation
             |  UNION ALL SELECT 'n_regionkey',
             |    CAST(min(n_regionkey) AS VARCHAR),
             |    CAST(max(n_regionkey) AS VARCHAR), count(n_regionkey),
             |    count(*) - count(n_regionkey),
             |    count(DISTINCT n_regionkey) FROM nation)
             |ORDER BY column_name""".stripMargin)),

    // array_agg continuation forms (round 16): the item-head lookahead
    // sends non-`as` continuations through the expression grammar —
    // arithmetic over an aggregate and a wrapped aggregate call.
    "hashql_array_agg_expr" -> Q(
      (s, d) => run(s, d,
        "select orders.o_custkey, " +
          "len(array_agg(orders.o_orderkey)) * 2 as n2, " +
          "length(array_to_string(array_agg(orders.o_orderstatus), '')) " +
          "as sl from orders where orders.o_custkey <= 200 " +
          "group by orders.o_custkey order by orders.o_custkey"),
      Some("""SELECT o_custkey,
             |  len(array_agg(o_orderkey)) * 2 AS n2,
             |  length(array_to_string(array_agg(o_orderstatus), ''))
             |    AS sl
             |FROM orders WHERE o_custkey <= 200
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin))
    )
    // a duplicate key in one suite would silently shadow (Map keeps the
    // last) — caught round 12 when a new entry collided with an r7 name
    require(entries.map(_._1).distinct.size == entries.size,
      s"duplicate query names in HashqlSuite: " +
        entries.map(_._1).diff(entries.map(_._1).distinct).mkString(", "))
    entries.toMap
  }
}
