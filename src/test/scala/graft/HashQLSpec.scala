package graft

import graft.core.{GraftCatalog, LocalFold}
import graft.sql.HashQL
import org.apache.spark.sql.functions.{col, count, lit}

/** Dialect semantics: dynamic schema, id synthesis, int coercion,
  * missing-field row skip, FTS predicate — FIXTURES.md §A2 scenario. */
class HashQLSpec extends SparkSpec {
  import spark.implicits._

  test("insert synthesizes ids and unions schemas dynamically") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into t (a) values ('x')")
    HashQL.execute(cat, "insert into t (a, b) values ('y', 2)")
    val rows = cat.table("t").orderBy("id").collect()
    assert(rows.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L))
    assert(cat.table("t").columns.toSet == Set("id", "a", "b"))
    assert(rows(0).getAs[Any]("b") == null) // schema union, missing ⇒ null
  }

  test("missing projected field skips the row (server.py:1054-1060)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into t (a) values ('x')")
    HashQL.execute(cat, "insert into t (a, b) values ('y', 2)")
    val got = HashQL.execute(cat, "select t.a, t.b from t").get.collect()
    assert(got.map(_.getString(0)).toSeq == Seq("y"))
  }

  test("numeric literals coerce to long in predicates") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into p (name, age) values ('Ted', 29)")
    HashQL.execute(cat, "insert into p (name, age) values ('Fred', 45)")
    val got = HashQL.execute(cat, "select p.name from p where p.age = 29").get
    assert(got.as[String].collect().toSeq == Seq("Ted"))
  }

  test("FTS '~' with OR over inserted rows (example.py:296-306)") {
    val cat = new GraftCatalog(spark)
    Seq("Cat", "Spanner", "blah sentence").foreach(v =>
      HashQL.execute(cat, s"insert into items (search, people) values ('$v', 3)"))
    val got = HashQL.execute(cat,
      "select items.search from items where items.search ~ 'blah | nonsense | notthere' and items.people = 3").get
    assert(got.as[String].collect().toSeq == Seq("blah sentence"))
  }

  test("FTS '~' phrase adjacency flows through the dialect") {
    val cat = new GraftCatalog(spark)
    Seq("key agg row", "agg key row", "key then agg").foreach(v =>
      HashQL.execute(cat, s"insert into ph (search) values ('$v')"))
    val got = HashQL.execute(cat,
      "select ph.search from ph where ph.search ~ '\"key agg\"'").get
    assert(got.as[String].collect().toSeq == Seq("key agg row"))
  }

  test("dialect aggregates: sum/avg/min/max with and without group by") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 10), ("a", 20), ("b", 5)).foreach { case (g, v) =>
      HashQL.execute(cat, s"insert into m (grp, v) values ('$g', $v)") }
    val grouped = HashQL.execute(cat,
      "select sum(m.v), max(m.v) from m group by m.grp").get
      .orderBy("grp").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(grouped.toSeq == Seq(("a", 30L, 20L), ("b", 5L, 5L)))
    val global = HashQL.execute(cat, "select min(m.v) from m").get
      .collect().head.getLong(0)
    assert(global == 5L)
  }

  test("compact checkpoints the accumulated plan without changing results") {
    val cat = new GraftCatalog(spark)
    (1 to 20).foreach(i => HashQL.execute(cat, s"insert into c (v) values ($i)"))
    val before = cat.table("c").orderBy("id").collect().map(_.toSeq).toSeq
    val out = java.nio.file.Files.createTempDirectory("compact").toString
    cat.compact("c", out)
    val after = cat.table("c").orderBy("id").collect().map(_.toSeq).toSeq
    assert(after == before)
    // post-compaction plan is a plain scan (no unions left)
    assert(!cat.table("c").queryExecution.optimizedPlan.toString.contains("Union"))
  }

  test("comparison predicates and multi-column group by") {
    val cat = new GraftCatalog(spark)
    Seq(("a", "x", 1L), ("b", "x", 5L), ("c", "y", 7L), ("d", "y", 9L))
      .foreach { case (n, g, v) =>
        HashQL.execute(cat, s"insert into m (nm, grp, v) values ('$n', '$g', $v)") }
    // spaced and unspaced comparison forms both lex ('<'/'>' are stop chars)
    assert(HashQL.execute(cat, "select m.nm from m where m.v > 5").get
      .collect().map(_.getString(0)).sorted.toSeq == Seq("c", "d"))
    assert(HashQL.execute(cat, "select m.nm from m where m.v>=5 and m.v<9").get
      .collect().map(_.getString(0)).sorted.toSeq == Seq("b", "c"))
    val g2 = HashQL.execute(cat,
      "select count(*) from m group by m.grp, m.v").get
    assert(g2.columns.toSeq == Seq("grp", "v", "cnt") && g2.count() == 4)
    // <> lexes as ONE token (never mis-parsed into '<' '>' with a
    // silently-dropped literal) and means not-equal
    assert(HashQL.execute(cat, "select m.nm from m where m.v <> 5").get
      .collect().map(_.getString(0)).sorted.toSeq == Seq("a", "c", "d"))
    // trailing junk after a complete statement is an error, never ignored
    intercept[IllegalArgumentException](
      HashQL.execute(cat, "select m.nm from m where m.v = 5 bogus"))
    // ORDER BY addresses aggregate output aliases as bare identifiers
    val topGrp = HashQL.execute(cat,
      "select count(*) from m group by m.grp order by cnt desc, grp limit 1").get
    assert(topGrp.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .forall { case (_, c) => c == 2L })
  }

  test("boolean grammar: AND over OR, parens, IN member coercion, LIKE wildcards") {
    val cat = new GraftCatalog(spark)
    Seq(("ann", "x", 1L), ("bob", "x", 5L), ("cat", "y", 7L), ("dan", "y", 9L))
      .foreach { case (n, g, v) =>
        HashQL.execute(cat, s"insert into b (nm, grp, v) values ('$n', '$g', $v)") }
    def names(sql: String): Seq[String] =
      HashQL.execute(cat, sql).get.collect().map(_.getString(0)).sorted.toSeq
    // AND binds tighter than OR: grp='x' AND v=5 OR v=9 = (x∧5) ∨ 9
    assert(names("select b.nm from b where b.grp = 'x' and b.v = 5 or b.v = 9")
      == Seq("bob", "dan"))
    // parens flip it: x ∧ (5 ∨ 9)
    assert(names("select b.nm from b where b.grp = 'x' and (b.v = 5 or b.v = 9)")
      == Seq("bob"))
    // IN: numeric members coerce like Eq; string members compare as-is
    assert(names("select b.nm from b where b.v in (1, 9)") == Seq("ann", "dan"))
    assert(names("select b.nm from b where b.nm in ('ann', 'cat')") == Seq("ann", "cat"))
    // LIKE: % spans, _ is exactly one char
    assert(names("select b.nm from b where b.nm like '%a%'") == Seq("ann", "cat", "dan"))
    assert(names("select b.nm from b where b.nm like '_a_'") == Seq("cat", "dan"))
    // OR works in UPDATE/DELETE predicates too (shared preds())
    HashQL.execute(cat, "delete from b where b.v = 1 or b.v = 9")
    assert(names("select b.nm from b") == Seq("bob", "cat"))
    // an unquoted LIKE pattern is a clean error
    intercept[IllegalArgumentException](
      HashQL.execute(cat, "select b.nm from b where b.nm like 7"))
  }

  test("left join keeps unmatched rows; is [not] null carves the sets") {
    val cat = new GraftCatalog(spark)
    Seq("ann", "bob", "cat").foreach(n =>
      HashQL.execute(cat, s"insert into c (nm) values ('$n')"))
    Seq(("ann", 1), ("ann", 2), ("cat", 5)).foreach { case (w, a) =>
      HashQL.execute(cat, s"insert into o (who, amt) values ('$w', $a)") }
    val lj = HashQL.execute(cat,
      "select c.nm, o.amt from c left join o on c.nm = o.who").get
    // bob survives with a null amt — the na.drop missing-field skip is
    // suspended for outer selects (it would undo the join type)
    assert(lj.count() == 4)
    assert(lj.filter(col("amt").isNull).collect().map(_.getString(0)).toSeq
      == Seq("bob"))
    // LEFT OUTER JOIN spelling parses to the same plan
    assert(HashQL.execute(cat,
      "select c.nm, o.amt from c left outer join o on c.nm = o.who")
      .get.count() == 4)
    // bare `join` is `inner join` — the common SQL spelling
    assert(HashQL.execute(cat,
      "select c.nm, o.amt from c join o on c.nm = o.who").get.count() == 3)
    // is null / is not null partition the outer result exactly
    def nms(sql: String): Seq[String] =
      HashQL.execute(cat, sql).get.collect().map(_.getString(0)).sorted.toSeq
    assert(nms("select c.nm from c left join o on c.nm = o.who " +
      "where o.amt is null") == Seq("bob"))
    assert(nms("select c.nm from c left join o on c.nm = o.who " +
      "where o.amt is not null") == Seq("ann", "ann", "cat"))
    // the join type survives optimization: projecting a right-side column
    // keeps LeftOuter (no silent inner-join degrade); checked on the plan
    // Spark makes, as these driver-held tables would otherwise fold away
    assert(LocalFold.unfolded(lj).optimizedPlan.toString.contains("LeftOuter"),
      LocalFold.unfolded(lj).optimizedPlan.toString)
    // on an ordinary table, is not null is the missing-field skip made
    // explicit; is null selects the schema-union null rows
    HashQL.execute(cat, "insert into c (nm, extra) values ('dan', 9)")
    assert(nms("select c.nm from c where c.extra is null")
      == Seq("ann", "bob", "cat"))
    assert(nms("select c.nm from c where c.extra is not null") == Seq("dan"))
    // count(col) is null-aware where count(*) is not — observable exactly
    // here, where the left join manufactured a null
    val cnts = HashQL.execute(cat,
      "select count(o.amt), count(*) from c left join o on c.nm = o.who").get
      .collect().head
    assert(cnts.getLong(0) == 3 && cnts.getLong(1) == 5) // dan + bob null amt
    // …and in HAVING, the count(t.f) spelling resolves to its own alias
    assert(HashQL.execute(cat,
      "select c.nm, count(o.amt) from c left join o on c.nm = o.who " +
        "group by c.nm having count(o.amt) = 0").get
      .collect().map(_.getString(0)).sorted.toSeq == Seq("bob", "dan"))
    // FULL JOIN keeps unmatched rows from both sides: 'eve' has orders
    // but no c row, bob/dan have c rows but no orders
    HashQL.execute(cat, "insert into o (who, amt) values ('eve', 7)")
    val fj = HashQL.execute(cat,
      "select c.nm, o.who, o.amt from c full join o on c.nm = o.who").get
    assert(fj.count() == 6) // ann×2, cat, eve(null nm), bob+dan (null o)
    assert(fj.filter(col("nm").isNull).collect().map(_.getString(1)).toSeq
      == Seq("eve"))
    assert(fj.filter(col("who").isNull).count() == 2)
    // FULL keeps its type through optimization too (neither side can
    // broadcast a full outer — both sides exchange)
    assert(fj.queryExecution.optimizedPlan.toString.contains("FullOuter"),
      fj.queryExecution.optimizedPlan.toString)
    // count(distinct) is exact and group-scoped
    assert(HashQL.execute(cat,
      "select count(distinct o.who) from o").get.collect().head.getLong(0) == 3)
    // coalesce replaces the outer join's null extensions (and is exempt
    // from the missing-field skip — a computed output is never missing)
    val co = HashQL.execute(cat,
      "select c.nm, coalesce(o.amt, 0) from c left join o on c.nm = o.who")
      .get.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(co == Seq(("ann", 1L), ("ann", 2L), ("bob", 0L), ("cat", 5L),
      ("dan", 0L)), co.toString)
    intercept[IllegalArgumentException](HashQL.execute(cat,
      "select c.nm, coalesce(o.amt, 0) from c group by c.nm"))
    // …but over a grouping key it computes per group, in any GROUP BY
    // spelling (DuckDB gives the same rows)
    val byKey = HashQL.execute(cat,
      "select o.who, coalesce(o.who, 'none'), count(*) from c full join o " +
        "on c.nm = o.who group by o.who").get
      .select("coalesce_who", "cnt").as[(String, Long)].collect().sorted.toSeq
    assert(byKey == Seq(("ann", 2L), ("cat", 1L), ("eve", 1L), ("none", 2L)),
      byKey.toString)
    Seq("group by coalesce(o.who, 'none')", "group by 1", "group by all")
      .foreach { g =>
        val got = HashQL.execute(cat, "select coalesce(o.who, 'none'), " +
          s"count(*) from c full join o on c.nm = o.who $g").get
          .as[(String, Long)].collect().sorted.toSeq
        assert(got == byKey, s"$g: $got")
      }
    // coalesce(a.k, b.k) merges the two sides of a FULL JOIN into one
    // non-null key column
    val merged = HashQL.execute(cat,
      "select coalesce(c.nm, o.who) from c full join o on c.nm = o.who")
      .get.collect().map(_.getString(0))
    assert(merged.forall(_ != null) && merged.sorted.toSeq
      == Seq("ann", "ann", "bob", "cat", "dan", "eve"), merged.toSeq.toString)
    // ORDER BY asc puts nulls LAST (the DuckDB default): a LIMIT over a
    // nullable sort key keeps the same rows in both engines
    val ord = HashQL.execute(cat,
      "select c.nm, o.amt from c left join o on c.nm = o.who " +
        "order by amt, nm limit 3").get
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ord == Seq(("ann", 1L), ("ann", 2L), ("cat", 5L)), ord.toString)
  }

  test("NOT / <> / BETWEEN / DISTINCT / OFFSET round out the grammar") {
    val cat = new GraftCatalog(spark)
    Seq(("ann", "x", 1L), ("bob", "x", 5L), ("cat", "y", 7L), ("dan", "y", 9L))
      .foreach { case (n, g, v) =>
        HashQL.execute(cat, s"insert into b (nm, grp, v) values ('$n', '$g', $v)") }
    def names(sql: String): Seq[String] =
      HashQL.execute(cat, sql).get.collect().map(_.getString(0)).sorted.toSeq
    // BETWEEN is inclusive both ends, and its AND binds to the atom:
    // between 5 and 7 AND grp='y' parses as (v∈[5,7]) ∧ (grp=y)
    assert(names("select b.nm from b where b.v between 5 and 7") == Seq("bob", "cat"))
    assert(names("select b.nm from b where b.v between 5 and 7 and b.grp = 'y'")
      == Seq("cat"))
    assert(names("select b.nm from b where b.v not between 5 and 7")
      == Seq("ann", "dan"))
    // <> and prefix NOT
    assert(names("select b.nm from b where b.grp <> 'x'") == Seq("cat", "dan"))
    assert(names("select b.nm from b where not (b.v = 1 or b.v = 9)")
      == Seq("bob", "cat"))
    assert(names("select b.nm from b where b.nm not in ('ann', 'cat')")
      == Seq("bob", "dan"))
    assert(names("select b.nm from b where b.nm not like '%a%'") == Seq("bob"))
    // infix NOT before a plain comparison is rejected with a clean error
    intercept[IllegalArgumentException](
      HashQL.execute(cat, "select b.nm from b where b.v not = 5"))
    // DISTINCT over the projection
    assert(names("select distinct b.grp from b") == Seq("x", "y"))
    // OFFSET pages the sorted stream; beyond-the-end offset is empty
    assert(names("select b.nm from b order by b.v limit 2 offset 1")
      == Seq("bob", "cat"))
    assert(names("select b.nm from b order by b.v offset 3") == Seq("dan"))
    assert(names("select b.nm from b order by b.v limit 2 offset 9") == Nil)
  }

  test("having filters the aggregated frame; agg-call and alias spellings agree") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 10), ("a", 20), ("b", 5), ("b", 6), ("b", 7), ("c", 100))
      .foreach { case (g, v) =>
        HashQL.execute(cat, s"insert into h (grp, v) values ('$g', $v)") }
    val byCall = HashQL.execute(cat,
      "select count(*), sum(h.v) from h group by h.grp having count(*) >= 2 and sum(h.v) < 31").get
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(byCall.toSeq.sorted == Seq(("a", 2L, 30L), ("b", 3L, 18L)))
    val byAlias = HashQL.execute(cat,
      "select count(*), sum(h.v) from h group by h.grp having cnt >= 2 and sum_v < 31").get
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(byAlias.toSeq.sorted == byCall.toSeq.sorted)
    // having composes with order by + limit on the filtered frame
    val top = HashQL.execute(cat,
      "select count(*) from h group by h.grp having count(*) >= 2 order by cnt desc limit 1").get
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.toSeq == Seq(("b", 3L)))
    // unsupported op rejected cleanly
    intercept[IllegalArgumentException](
      HashQL.execute(cat, "select count(*) from h group by h.grp having count(*) ~ 'x'"))
  }

  test("delete removes only predicate-TRUE rows; NULL-predicate rows stay") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into p (name, age) values ('Ted', 29)")
    HashQL.execute(cat, "insert into p (name, age) values ('Fred', 45)")
    HashQL.execute(cat, "insert into p (name) values ('NoAge')") // age is NULL
    HashQL.execute(cat, "delete from p where p.age = 29")
    // Ted (TRUE) deleted; Fred (FALSE) and NoAge (NULL — dynamic-schema
    // row missing the field) both survive, as SQL DELETE requires
    assert(cat.table("p").select("name").as[String].collect().toSet ==
      Set("Fred", "NoAge"))
    HashQL.execute(cat, "delete from p") // no WHERE ⇒ everything goes
    assert(cat.table("p").count() == 0L)
  }

  test("order by + limit plans TakeOrderedAndProject, never a global sort") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 3L), ("b", 1L), ("c", 7L), ("d", 5L), ("e", 2L))
      .foreach { case (n, v) =>
        HashQL.execute(cat, s"insert into m (nm, v) values ('$n', $v)") }
    val top = HashQL.execute(cat,
      "select m.nm, m.v from m order by m.v desc limit 2").get
    assert(top.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("c", 7L), ("d", 5L)))
    // the plan Spark makes, as these driver-held rows would otherwise fold
    val plan = LocalFold.unfolded(top).executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"order by + limit did not plan top-k:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort leaked into the top-k plan:\n$plan")
    // ascending default, multi-key, and bare limit parse too
    val asc = HashQL.execute(cat,
      "select m.nm from m order by m.v, m.nm limit 3").get
    assert(asc.collect().map(_.getString(0)).toSeq == Seq("b", "e", "a"))
    assert(HashQL.execute(cat, "select m.nm from m limit 2").get.count() == 2)
  }

  test("dialect GROUP BY SELECTs route through a registered aggregate summary") {
    import graft.core.Tables
    // the MatView rule is session-wide Catalyst, and dialect SELECTs are
    // plain DataFrames — so a summary registered via the DataFrame API
    // serves the HashQL surface too, exact-match AND containment+HAVING
    val cat = new GraftCatalog(spark)
    val customer = Tables.t(spark, sf, "customer")
    cat.register("customer", customer)
    val summary = customer.groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("cnt"))
    val out = java.nio.file.Files.createTempDirectory("hq_mv").toString
    graft.matview.MatView.materializeAggregate(spark, "hq_seg", summary, out)
    try {
      // containment: the dialect groups by a SUBSET key — re-aggregates
      // the summary, zero fact rows; HAVING filters the routed frame
      val q = HashQL.execute(cat,
        "select count(*) from customer group by customer.c_mktsegment having count(*) >= 1").get
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(out.split("/").last), s"no summary scan:\n$plan")
      assert(!plan.contains(sf), s"dialect group-by still reads facts:\n$plan")
      val routed = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      graft.matview.MatView.drop(spark, "hq_seg")
      val raw = HashQL.execute(cat,
        "select count(*) from customer group by customer.c_mktsegment").get
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(routed == raw)
    } finally graft.matview.MatView.drop(spark, "hq_seg")
  }

  test("repeated compact to the SAME path works (swap, not self-overwrite)") {
    val cat = new GraftCatalog(spark)
    (1 to 5).foreach(i => HashQL.execute(cat, s"insert into c (v) values ($i)"))
    val out = java.nio.file.Files.createTempDirectory("compact2").toString + "/c"
    cat.compact("c", out)
    // the registered scan now reads `out`; mutate and compact AGAIN to the
    // same path — a plain overwrite would throw "cannot overwrite a path
    // that is also being read from"
    HashQL.execute(cat, "insert into c (v) values (6)")
    cat.compact("c", out)
    HashQL.execute(cat, "insert into c (v) values (7)")
    cat.compact("c", out)
    val vs = cat.table("c").orderBy("id").collect().map(_.getLong(1)).toSeq
    assert(vs == (1L to 7L))
    // no swap debris left behind
    assert(!new java.io.File(out + ".compact.tmp").exists)
    assert(!new java.io.File(out + ".compact.old").exists)
  }

  test("create joins over different table sets coexist; same set versions") {
    val cat = new GraftCatalog(spark)
    Seq("insert into items (search, people) values ('Cat', 1)",
      "insert into people (people_name) values ('Ted')",
      "insert into products (name, price) values ('Cat', 3)")
      .foreach(HashQL.execute(cat, _))
    val reg = new HashQL.JoinRegistry
    HashQL.execute(cat,
      "create join inner join people on items.people = people.id", Some(reg))
    // a second create join over a DIFFERENT table set must NOT clobber the
    // first (round-2 defect: both landed in one "default" slot)
    HashQL.execute(cat,
      "create join inner join products on items.search = products.name", Some(reg))
    assert(reg.names == Seq("items+people", "items+products"))
    assert(reg.forTables(Set("items", "people")).isDefined)
    assert(reg.forTables(Set("people", "items")).isDefined) // order-free
    val v1 = HashQL.joinView(cat, reg.forTables(Set("items", "people")).get)
    assert(v1.columns.contains("people_name") && !v1.columns.contains("price"))
    // re-creating over the SAME table set replaces that entry only
    HashQL.execute(cat,
      "create join inner join people on items.people = people.id", Some(reg))
    assert(reg.names == Seq("items+people", "items+products"))
  }

  test("DML invalidates the materialized route: SELECT falls back to fresh rows") {
    import graft.core.Tables
    val cat = new GraftCatalog(spark)
    Seq("customer", "nation", "region").foreach(n =>
      cat.register(n, Tables.t(spark, sf, n)))
    val reg = new HashQL.JoinRegistry
    HashQL.execute(cat,
      "create join inner join nation on customer.c_nationkey = nation.n_nationkey " +
        "inner join region on nation.n_regionkey = region.r_regionkey", Some(reg))
    val tmp = java.nio.file.Files.createTempDirectory("mv_inval").toString
    val name = HashQL.materializeJoin(
      cat, reg, Set("customer", "nation", "region"), s"$tmp/view")
    graft.matview.MatView.drop(spark, s"hashql:$name")
    def joinsIn(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size
    val sel = "select customer.c_custkey, nation.n_name from customer " +
      "inner join nation on customer.c_nationkey = nation.n_nationkey " +
      "inner join region on nation.n_regionkey = region.r_regionkey"
    assert(joinsIn(HashQL.execute(cat, sel, Some(reg)).get) == 0) // routed
    // UPDATE a joined table: the stale route must drop, the SELECT must
    // rebuild the live join and see the new value
    HashQL.execute(cat,
      "update nation set nation.n_name = 'RENAMED' where nation.n_nationkey = 0",
      Some(reg))
    val after = HashQL.execute(cat, sel, Some(reg)).get
    assert(joinsIn(after) > 0, "stale route survived DML")
    val names = after.select("n_name").distinct().as[String].collect().toSet
    assert(names.contains("RENAMED"))
  }

  test("mixed doc-path + scalar projection explodes leaves, repeats scalars") {
    val db = new HashDb(spark)
    db.saveDocument("people", 1,
      """{"name": "Sam", "hobbies": [{"name": "God"}, {"name": "Chess"}]}""")
    db.saveDocument("people", 2, """{"name": "Ted", "hobbies": [{"name": "Go"}]}""")
    val got = db.sql("select people.id, people.~hobbies[]~name from people").get
    assert(got.columns.toSeq == Seq("id", "name"))
    assert(got.as[(Long, String)].collect().toSet ==
      Set((1L, "God"), (1L, "Chess"), (2L, "Go")))
    // path-only projection unchanged
    val only = db.sql("select people.~hobbies[]~name from people").get
    assert(only.columns.toSeq == Seq("name") && only.count() == 3)
    // star + doc path: star expands to the plain columns (id), not dropped
    val star = db.sql("select *, people.~hobbies[]~name from people").get
    assert(star.columns.toSeq == Seq("id", "name") && star.count() == 3)
  }

  test("CTAS and multi-row VALUES: arity checks, no silent replace") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into src (a, n) values ('x', 1), ('y', 2), ('z', 3)")
    assert(cat.versionOf("src") == 3, "multi-row insert must commit per row")
    HashQL.execute(cat, "create table big as " +
      "select src.a, src.n from src where src.n >= 2")
    assert(HashQL.execute(cat, "select big.a from big").get
      .as[String].collect().toSet == Set("y", "z"))
    // CTAS over a union chain
    HashQL.execute(cat, "create table both as select src.a from src " +
      "union all select big.a from big")
    assert(HashQL.execute(cat, "select both.a from both").get.count() == 5)
    intercept[IllegalArgumentException](HashQL.execute(cat,
      "create table big as select src.a from src"))
    intercept[IllegalArgumentException](HashQL.execute(cat,
      "insert into src (a, n) values ('w')"))
  }

  test("time travel: every mutation commits a version; compact keeps alignment") {
    val cat = new GraftCatalog(spark)
    assert(cat.versionOf("t") == 0)
    HashQL.execute(cat, "insert into t (a, n) values ('x', 1)") // v1
    HashQL.execute(cat, "insert into t (a, n) values ('y', 2)") // v2
    HashQL.execute(cat, "update t set t.n = 9 where t.a = 'x'") // v3
    HashQL.execute(cat, "delete from t where t.a = 'y'")        // v4
    assert(cat.versionOf("t") == 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "n").as[(String, Long)].collect().toSet
    assert(rows(cat.tableAsOf("t", 1)) == Set(("x", 1L)))
    assert(rows(cat.tableAsOf("t", 2)) == Set(("x", 1L), ("y", 2L)))
    assert(rows(cat.tableAsOf("t", 3)) == Set(("x", 9L), ("y", 2L)))
    assert(rows(cat.tableAsOf("t", 4)) == rows(cat.table("t")))
    intercept[IllegalArgumentException](cat.tableAsOf("t", 5))
    intercept[IllegalArgumentException](cat.tableAsOf("t", 0))
    intercept[IllegalArgumentException](cat.tableAsOf("zzz", 1))
    // compact swaps the current version's plan, not the version count;
    // prior versions keep their own lineage
    val dir = java.nio.file.Files.createTempDirectory("tt").toString
    cat.compact("t", s"$dir/t")
    assert(cat.versionOf("t") == 4)
    assert(rows(cat.tableAsOf("t", 4)) == Set(("x", 9L)))
    assert(rows(cat.tableAsOf("t", 2)) == Set(("x", 1L), ("y", 2L)))
  }

  test("IN-subquery semi/anti joins and UNION set semantics") {
    val cat = new GraftCatalog(spark)
    Seq("insert into people (people_name, age) values ('Ted', 29)",
      "insert into people (people_name, age) values ('Fred', 45)",
      "insert into people (people_name, age) values ('Sam', 33)",
      "insert into adults (a_name) values ('Fred')",
      "insert into adults (a_name) values ('Sam')")
      .foreach(HashQL.execute(cat, _))
    def names(sql: String): Set[String] =
      HashQL.execute(cat, sql).get.select("people_name")
        .as[String].collect().toSet
    assert(names("select people.people_name from people where " +
      "people.people_name in (select adults.a_name from adults)") ==
      Set("Fred", "Sam"))
    // NOT IN = anti join; composes with a plain conjunct
    assert(names("select people.people_name from people where " +
      "people.people_name not in (select adults.a_name from adults)") ==
      Set("Ted"))
    assert(names("select people.people_name from people where " +
      "people.people_name in (select adults.a_name from adults) " +
      "and people.age = 45") == Set("Fred"))
    // self-referencing subquery stays unambiguous (reserved rename)
    assert(names("select people.people_name from people where " +
      "people.people_name in (select people.people_name from people " +
      "where people.age > 30)") == Set("Fred", "Sam"))

    // UNION dedups across branches; UNION ALL keeps duplicates
    val u = HashQL.execute(cat, "select people.people_name from people " +
      "union select adults.a_name from adults").get
    assert(u.columns.toSeq == Seq("people_name") &&
      u.as[String].collect().toSet == Set("Ted", "Fred", "Sam") &&
      u.count() == 3)
    val ua = HashQL.execute(cat, "select people.people_name from people " +
      "union all select adults.a_name from adults").get
    assert(ua.count() == 5)

    // scalar subquery: above-average filter; wide subquery rejected
    assert(names("select people.people_name from people where " +
      "people.age > (select avg(people.age) from people)") == Set("Fred"))
    intercept[IllegalArgumentException](HashQL.execute(cat,
      "select people.people_name from people where people.age > " +
        "(select people.people_name, people.age from people)"))

    // membership under OR plans as a flag join (round-10 growth)
    assert(names("select people.people_name from people where people.age = 29 or " +
      "people.people_name in (select adults.a_name from adults)") ==
      Set("Ted", "Fred", "Sam"))
    // rejected shapes: mixed chain, wide subquery
    intercept[IllegalArgumentException](HashQL.execute(cat,
      "select people.people_name from people union all " +
        "select adults.a_name from adults union select adults.a_name from adults"))
    intercept[IllegalArgumentException](HashQL.execute(cat,
      "select people.people_name from people where people.people_name in " +
        "(select people.people_name, people.age from people)"))
  }

  test("window calls and SAMPLE clause: semantics + rejected shapes") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 2L, 5L), ("b", 7L, 1L))
      .zipWithIndex.foreach { case ((g, o, v), i) =>
        HashQL.execute(cat,
          s"insert into t (g, o, v, k) values ('$g', $o, $v, ${i + 1})")
      }
    // row_number per group ordered by (o, k): deterministic via unique k
    val rn = HashQL.execute(cat, "select t.k, row_number() over " +
      "(partition by t.g order by t.o, t.k) from t").get
      .as[(Long, Int)].collect().toMap
    assert(rn == Map(1L -> 1, 2L -> 2, 3L -> 3, 4L -> 1), s"rn: $rn")
    // rank: ties share a rank, next rank skips
    val rnk = HashQL.execute(cat, "select t.k, rank() over " +
      "(partition by t.g order by t.o) from t").get
      .as[(Long, Int)].collect().toMap
    assert(rnk == Map(1L -> 1, 2L -> 2, 3L -> 2, 4L -> 1), s"rnk: $rnk")
    // running sum over the ANSI RANGE frame: o=2 peers both included
    val ws = HashQL.execute(cat, "select t.k, sum(t.v) over " +
      "(partition by t.g order by t.o) from t").get
      .as[(Long, Long)].collect().toMap
    assert(ws == Map(1L -> 10L, 2L -> 35L, 3L -> 35L, 4L -> 1L), s"ws: $ws")
    // window aliases are ORDER-BY-addressable output columns
    val top = HashQL.execute(cat, "select t.k, row_number() over " +
      "(partition by t.g order by t.o, t.k) from t order by rn desc limit 1").get
      .as[(Long, Int)].collect().head
    assert(top == ((3L, 3)))
    // sample clause: deterministic subset, nested across rates
    def keys(p: Int) = HashQL.execute(cat,
      s"select t.k from t sample $p permille by t.k").get
      .as[Long].collect().toSet
    assert(keys(1000) == Set(1L, 2L, 3L, 4L) && keys(0).isEmpty)
    assert(keys(250).subsetOf(keys(500)) && keys(500).subsetOf(keys(1000)))

    // windows over GROUP BY compute on the aggregated frame (round 13
    // lifted the round-7 reject): one row per group, numbered by key
    val gw = HashQL.execute(cat,
      "select t.g, count(*), row_number() over (order by t.g) as rn " +
        "from t group by t.g order by rn").get
    assert(gw.select("g").as[String].collect().toSeq == gw.select("g")
      .as[String].collect().toSeq.sorted)
    // avg joined the window set in round 7, min/max in round 10,
    // count/first/last_value in round 11 — the DISTINCT count stays out
    // (neither engine windows a distinct count)
    val eDc = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select count(distinct t.v) over (order by t.o) as f from t"))
    assert(eDc.getMessage.contains("distinct"), eDc.getMessage)
    // count(*) over a partition = the group-size-per-row idiom
    val wc = HashQL.execute(cat,
      "select t.g, count(*) over (partition by t.g) as wcnt from t").get
      .select("g", "wcnt").as[(String, Long)].collect().toSet
    assert(wc.forall { case (_, n) => n >= 1 })
    intercept[IllegalArgumentException](HashQL.execute(cat,
      "select t.k from t sample 1001 permille by t.k"))
  }

  test("update rewrites matching rows only (example.py:126-149)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into p (name, age) values ('Sam', 29)")
    HashQL.execute(cat, "insert into p (name, age) values ('Ted', 29)")
    HashQL.execute(cat, "update p set p.age = 31 where p.name = 'Sam'")
    val ages = cat.table("p").orderBy("id").select("age").as[Long].collect().toSeq
    assert(ages == Seq(31L, 29L))
    // explicit null-out, read back via the is-null predicate
    HashQL.execute(cat, "update p set p.age = null where p.name = 'Ted'")
    assert(HashQL.execute(cat, "select p.name from p where p.age is null").get
      .as[String].collect().toSeq == Seq("Ted"))
    // bare null as a COMPARISON literal is a clear error — it used to lex
    // as the string "null" (a silent wrong answer against text columns)
    intercept[IllegalArgumentException](
      HashQL.execute(cat, "select p.name from p where p.name = null"))
    // explicit NULL in INSERT VALUES = the field omitted for that row
    HashQL.execute(cat, "insert into p (name, age) values ('Nix', null)")
    assert(HashQL.execute(cat, "select p.name from p where p.age is null").get
      .as[String].collect().toSet == Set("Ted", "Nix"))
  }

  test("create agg view: verbatim + coarser selects route to the summary; DML invalidates") {
    val cat = new GraftCatalog(spark)
    val reg = new HashQL.JoinRegistry
    val dir = java.nio.file.Files.createTempDirectory("aggview").toString
    // parquet-backed like every production table: containment identity is
    // the relation leaf, which column pruning must leave in place (a
    // LocalRelation fixture would be pruned INTO a different leaf)
    Seq(("x", "p", 1L), ("x", "q", 2L), ("y", "p", 4L), ("x", "p", 8L))
      .toDF("a", "b", "v").write.parquet(s"$dir/facts")
    cat.register("t", spark.read.parquet(s"$dir/facts"))
    val name = HashQL.materializeAggView(cat,
      "create agg view as select t.a, t.b, count(*), sum(t.v) from t group by t.a, t.b",
      s"$dir/view", Some(reg))
    try {
      // verbatim repeat: the exact route reads the summary parquet —
      // no aggregation over fact rows, the scan is the view dir
      val exact = HashQL.execute(cat,
        "select t.a, t.b, count(*), sum(t.v) from t group by t.a, t.b", Some(reg)).get
      val exactPlan = exact.queryExecution.executedPlan.toString
      assert(exactPlan.contains(s"$dir/view"), s"exact route missed:\n$exactPlan")
      assert(exact.as[(String, String, Long, Long)].collect().toSet ==
        Set(("x", "p", 2L, 9L), ("x", "q", 1L, 2L), ("y", "p", 1L, 4L)))
      // coarser group-by: containment re-aggregates the summary
      val coarse = HashQL.execute(cat,
        "select t.a, count(*), sum(t.v) from t group by t.a", Some(reg)).get
      val coarsePlan = coarse.queryExecution.executedPlan.toString
      assert(coarsePlan.contains(s"$dir/view"), s"containment route missed:\n$coarsePlan")
      assert(coarse.as[(String, Long, Long)].collect().toSet ==
        Set(("x", 3L, 11L), ("y", 1L, 4L)))
      // avg(t.v) decomposes from a summary storing count(t.v) + sum(t.v):
      // the null-aware count is exactly the denominator avg needs (the
      // first view's count(*) can't serve it — v reads as nullable from
      // parquet — so containment falls through to this one)
      val name2 = HashQL.materializeAggView(cat,
        "create agg view as select t.a, count(t.v), sum(t.v) from t group by t.a",
        s"$dir/view2", Some(reg))
      try {
        val avgQ = HashQL.execute(cat, "select avg(t.v) from t", Some(reg)).get
        val avgPlan = avgQ.queryExecution.executedPlan.toString
        assert(avgPlan.contains(s"$dir/view2"), s"avg route missed:\n$avgPlan")
        assert(avgQ.as[Double].collect().head == 3.75) // (1+2+4+8)/4
      } finally graft.matview.MatView.drop(spark, name2)
      // HAVING composes with the route: the Filter sits ABOVE the
      // Aggregate node the rule rewrites (transformUp), so the filtered
      // aggregation still reads the summary — zero fact rows
      val hav = HashQL.execute(cat,
        "select t.a, count(*) from t group by t.a having count(*) >= 2",
        Some(reg)).get
      assert(hav.queryExecution.executedPlan.toString.contains(s"$dir/view"),
        s"HAVING broke the route:\n${hav.queryExecution.executedPlan}")
      assert(hav.as[(String, Long)].collect().toSet == Set(("x", 3L)))
      // DML folds the positive delta into the summary and the EXACT
      // route survives (round-10: the insert delta is the literal rows —
      // no dialect id column needed, raw-parquet tables fold too); a
      // drifted summary would show wrong sums here. The COARSE
      // containment route falls back to facts after the table plan grows
      // a Union (pruning re-shapes union branches, so flatten can't
      // match) — correct answers either way, fresh rows included.
      HashQL.execute(cat, "insert into t (a, b, v) values ('y', 'q', 100)", Some(reg))
      val exactAfter = HashQL.execute(cat,
        "select t.a, t.b, count(*), sum(t.v) from t group by t.a, t.b", Some(reg)).get
      assert(exactAfter.queryExecution.executedPlan.toString.contains(s"$dir/view"),
        s"insert dropped the foldable exact route:\n${exactAfter.queryExecution.executedPlan}")
      assert(exactAfter.as[(String, String, Long, Long)].collect().toSet ==
        Set(("x", "p", 2L, 9L), ("x", "q", 1L, 2L), ("y", "p", 1L, 4L),
          ("y", "q", 1L, 100L)))
      val after = HashQL.execute(cat,
        "select t.a, count(*), sum(t.v) from t group by t.a", Some(reg)).get
      assert(after.as[(String, Long, Long)].collect().toSet ==
        Set(("x", 3L, 11L), ("y", 2L, 104L)))
    } finally graft.matview.MatView.drop(spark, name)
  }

  test("agg-expression ratios stay correct with a registered agg view") {
    // the ratio query's Aggregate carries EXTRA reserved aggregates, so
    // whatever the summary route decides (fire or fall back), answers
    // must match the direct aggregation — silent mis-routing is the
    // failure class this pins
    val cat = new GraftCatalog(spark)
    val reg = new HashQL.JoinRegistry
    val dir = java.nio.file.Files.createTempDirectory("aggratio").toString
    Seq(("x", 10L), ("x", 20L), ("y", 9L)).toDF("g", "v")
      .write.parquet(s"$dir/facts")
    cat.register("t", spark.read.parquet(s"$dir/facts"))
    val name = HashQL.materializeAggView(cat,
      "create agg view as select t.g, count(*), sum(t.v) from t group by t.g",
      s"$dir/view", Some(reg))
    try {
      val ratio = HashQL.execute(cat,
        "select t.g, sum(t.v) / count(*) as mean, count(*) as n from t " +
          "group by t.g", Some(reg)).get
      assert(ratio.select("g", "mean", "n").as[(String, Double, Long)]
        .collect().toSet == Set(("x", 15.0, 2L), ("y", 9.0, 1L)))
    } finally graft.matview.MatView.drop(spark, name)
    // a view that spells out the auto-aliases is the same view, and the
    // verbatim query routes to it (DuckDB gives the same rows)
    val spelled = HashQL.materializeAggView(cat,
      "create agg view as select t.g, count(*) as cnt, sum(t.v) as sum_v " +
        "from t group by t.g",
      s"$dir/spelled", Some(reg))
    // the summary stores keys and plain aggregates only: a projected
    // coalesce or window would be silently missing from it, so the
    // definition rejects, naming the item
    Seq("coalesce(t.g, 'none')" -> "coalesce_g",
      "rank() over (order by count(*))" -> "rnk").foreach { case (item, nm) =>
      val e = intercept[IllegalArgumentException](HashQL.materializeAggView(
        cat, s"create agg view as select t.g, count(*), $item from t " +
          "group by t.g", s"$dir/rejected", Some(reg)))
      assert(e.getMessage.contains(s"does not store $nm"), e.getMessage)
    }
    try {
      val q = HashQL.execute(cat,
        "select t.g, count(*), sum(t.v) from t group by t.g", Some(reg)).get
      assert(q.queryExecution.executedPlan.toString.contains(s"$dir/spelled"),
        q.queryExecution.executedPlan.toString)
      assert(q.as[(String, Long, Long)].collect().toSet ==
        Set(("x", 2L, 30L), ("y", 1L, 9L)))
    } finally graft.matview.MatView.drop(spark, spelled)
  }

  test("DML DELETE delta-folds count/sum agg views; min/max views invalidate") {
    val cat = new GraftCatalog(spark)
    val reg = new HashQL.JoinRegistry
    val dir = java.nio.file.Files.createTempDirectory("hashql_deldelta").toString
    Seq(("a", 1), ("a", 2), ("b", 3), ("b", 4), ("c", 5)).foreach { case (g, v) =>
      HashQL.execute(cat, s"insert into t (g, v) values ('$g', $v)") }
    HashQL.execute(cat, "insert into t (g) values ('c')") // v = null row
    val name = HashQL.materializeAggView(cat,
      "create agg view as select t.g, count(*), count(t.v), sum(t.v) " +
        "from t group by t.g", s"$dir/view", Some(reg))
    val q = "select t.g, count(*), count(t.v), sum(t.v) from t group by t.g"
    try {
      // deleting one row keeps the route AND the answers exact
      HashQL.execute(cat, "delete from t where t.v = 2", Some(reg))
      val afterOne = HashQL.execute(cat, q, Some(reg)).get
      assert(afterOne.queryExecution.executedPlan.toString.contains(s"$dir/view"),
        s"delete dropped the deltable route:\n${afterOne.queryExecution.executedPlan}")
      assert(afterOne.as[(String, Long, Long, Option[Long])].collect().toSet ==
        Set(("a", 1L, 1L, Some(1L)), ("b", 2L, 2L, Some(7L)),
          ("c", 2L, 1L, Some(5L))))
      // emptied group vanishes; a group left with only null values serves
      // sum = NULL (the count(t.v) companion detects it), like a recompute
      HashQL.execute(cat, "delete from t where t.g = 'b'", Some(reg))
      HashQL.execute(cat, "delete from t where t.v = 5", Some(reg))
      val afterAll = HashQL.execute(cat, q, Some(reg)).get
      assert(afterAll.queryExecution.executedPlan.toString.contains(s"$dir/view"))
      val rows = afterAll.as[(String, Long, Long, Option[Long])].collect().toSet
      assert(rows == Set(("a", 1L, 1L, Some(1L)), ("c", 1L, 0L, None)), rows)
      // the folded summary still equals a from-facts recompute
      graft.matview.MatView.drop(spark, name)
      assert(HashQL.execute(cat, q, Some(reg)).get
        .as[(String, Long, Long, Option[Long])].collect().toSet == rows)
    } finally graft.matview.MatView.drop(spark, name)
    // a min/max view cannot subtract — DELETE invalidates it as before
    val name2 = HashQL.materializeAggView(cat,
      "create agg view as select t.g, count(*), min(t.v) from t group by t.g",
      s"$dir/view2", Some(reg))
    try {
      HashQL.execute(cat, "delete from t where t.v = 1", Some(reg))
      val after = HashQL.execute(cat,
        "select t.g, count(*), min(t.v) from t group by t.g", Some(reg)).get
      assert(!after.queryExecution.executedPlan.toString.contains(s"$dir/view2"),
        "min/max view still routed after DELETE")
      assert(after.as[(String, Long, Option[Long])].collect().toSet ==
        Set(("c", 1L, None)))
    } finally graft.matview.MatView.drop(spark, name2)
  }

  test("DML INSERT/UPDATE delta-fold agg views; min/max folds on append only") {
    val cat = new GraftCatalog(spark)
    val reg = new HashQL.JoinRegistry
    val dir = java.nio.file.Files.createTempDirectory("hashql_insdelta").toString
    Seq(("a", 1), ("a", 2), ("b", 3)).foreach { case (g, v) =>
      HashQL.execute(cat, s"insert into t (g, v) values ('$g', $v)") }
    // min/max view: INSERT folds (appends never retract)
    val nameMm = HashQL.materializeAggView(cat,
      "create agg view as select t.g, count(*), min(t.v), max(t.v) " +
        "from t group by t.g", s"$dir/mm", Some(reg))
    val qMm = "select t.g, count(*), min(t.v), max(t.v) from t group by t.g"
    try {
      HashQL.execute(cat, "insert into t (g, v) values ('a', 0), ('c', 9)", Some(reg))
      val got = HashQL.execute(cat, qMm, Some(reg)).get
      assert(got.queryExecution.executedPlan.toString.contains(s"$dir/mm"),
        s"insert dropped the min/max route:\n${got.queryExecution.executedPlan}")
      val rows = got.as[(String, Long, Long, Long)].collect().toSet
      assert(rows == Set(("a", 3L, 0L, 2L), ("b", 1L, 3L, 3L), ("c", 1L, 9L, 9L)),
        rows)
      // …but UPDATE retracts, and min/max cannot — route must drop
      HashQL.execute(cat, "update t set t.v = 7 where t.g = 'b'", Some(reg))
      val afterUp = HashQL.execute(cat, qMm, Some(reg)).get
      assert(!afterUp.queryExecution.executedPlan.toString.contains(s"$dir/mm"),
        "min/max view survived an UPDATE")
      assert(afterUp.as[(String, Long, Long, Long)].collect().toSet ==
        Set(("a", 3L, 0L, 2L), ("b", 1L, 7L, 7L), ("c", 1L, 9L, 9L)))
    } finally graft.matview.MatView.drop(spark, nameMm)
    // count/sum view: UPDATE folds as a retract+append pair, including a
    // group-KEY update that moves rows between groups
    val nameCs = HashQL.materializeAggView(cat,
      "create agg view as select t.g, count(*), count(t.v), sum(t.v) " +
        "from t group by t.g", s"$dir/cs", Some(reg))
    val qCs = "select t.g, count(*), count(t.v), sum(t.v) from t group by t.g"
    try {
      HashQL.execute(cat, "update t set t.v = t.v + 10 where t.g = 'a'", Some(reg))
      val got = HashQL.execute(cat, qCs, Some(reg)).get
      assert(got.queryExecution.executedPlan.toString.contains(s"$dir/cs"),
        s"update dropped the count/sum route:\n${got.queryExecution.executedPlan}")
      assert(got.as[(String, Long, Long, Option[Long])].collect().toSet ==
        Set(("a", 3L, 3L, Some(33L)), ("b", 1L, 1L, Some(7L)),
          ("c", 1L, 1L, Some(9L))))
      // group-key move: all of c becomes b — c vanishes, b absorbs
      HashQL.execute(cat, "update t set t.g = 'b' where t.g = 'c'", Some(reg))
      val moved = HashQL.execute(cat, qCs, Some(reg)).get
      assert(moved.queryExecution.executedPlan.toString.contains(s"$dir/cs"))
      val rows = moved.as[(String, Long, Long, Option[Long])].collect().toSet
      assert(rows == Set(("a", 3L, 3L, Some(33L)), ("b", 2L, 2L, Some(16L))),
        rows)
      // folded summary ≡ from-facts recompute
      graft.matview.MatView.drop(spark, nameCs)
      assert(HashQL.execute(cat, qCs, Some(reg)).get
        .as[(String, Long, Long, Option[Long])].collect().toSet == rows)
    } finally graft.matview.MatView.drop(spark, nameCs)
  }

  test("rows-frame windows: moving sum/avg values, frame guards") {
    val cat = new GraftCatalog(spark)
    Seq(1, 2, 3, 4).foreach(v =>
      HashQL.execute(cat, s"insert into w (g, v) values ('x', $v)"))
    val mov = HashQL.execute(cat,
      "select w.v, sum(w.v) over (partition by w.g order by w.v rows 1 preceding), " +
        "avg(w.v) over (partition by w.g order by w.v rows 1 preceding) from w").get
    assert(mov.as[(Long, Long, Double)].collect().toSet ==
      Set((1L, 1L, 1.0), (2L, 3L, 1.5), (3L, 5L, 2.5), (4L, 7L, 3.5)))
    // a frame needs ORDER BY; only sum/avg take one
    intercept[IllegalArgumentException](HashQL.execute(cat,
      "select sum(w.v) over (partition by w.g rows 1 preceding) from w"))
    intercept[IllegalArgumentException](HashQL.execute(cat,
      "select row_number() over (order by w.v rows 1 preceding) from w"))
  }

  test("DELETE with subquery predicates: the decontamination idiom") {
    val cat = new GraftCatalog(spark)
    Seq(("d1", 10), ("d2", 20), ("d3", 30), ("d4", 40)).foreach { case (n, s) =>
      HashQL.execute(cat, s"insert into corpus (nm, score) values ('$n', $s)") }
    Seq("d2", "d4").foreach(n =>
      HashQL.execute(cat, s"insert into bad (nm) values ('$n')"))
    // IN-subquery composed with a plain conjunct: only the matching half
    // of the bad list is doomed
    HashQL.execute(cat,
      "delete from corpus where corpus.nm in (select bad.nm from bad) " +
        "and corpus.score >= 40")
    assert(HashQL.execute(cat, "select corpus.nm from corpus").get
      .as[String].collect().toSet == Set("d1", "d2", "d3"))
    // NOT IN — keep only the contaminated rows' complement
    HashQL.execute(cat,
      "delete from corpus where corpus.nm not in (select bad.nm from bad)")
    assert(HashQL.execute(cat, "select corpus.nm from corpus").get
      .as[String].collect().toSet == Set("d2"))
    // the delta hook sees subquery deletes too: a count view stays
    // routed and exact through one
    val reg = new HashQL.JoinRegistry
    val dir = java.nio.file.Files.createTempDirectory("hashql_subdel").toString
    HashQL.execute(cat, "insert into corpus (nm, score) values ('d9', 90)")
    val name = HashQL.materializeAggView(cat,
      "create agg view as select corpus.nm, count(*) from corpus " +
        "group by corpus.nm", s"$dir/view", Some(reg))
    try {
      HashQL.execute(cat,
        "delete from corpus where corpus.nm in (select bad.nm from bad)",
        Some(reg))
      val got = HashQL.execute(cat,
        "select corpus.nm, count(*) from corpus group by corpus.nm",
        Some(reg)).get
      assert(got.queryExecution.executedPlan.toString.contains(s"$dir/view"),
        "subquery delete dropped the deltable route")
      assert(got.as[(String, Long)].collect().toSet == Set(("d9", 1L)))
    } finally graft.matview.MatView.drop(spark, name)
    // UPDATE takes subquery predicates too (round 13 lifted the
    // reject): the matched row set pins by id, like the DELETE form.
    // State here: corpus = {d9:90}, bad = {d2, d4}.
    HashQL.execute(cat,
      "insert into corpus (nm, score) values ('d3', 30), ('d2', 25)")
    HashQL.execute(cat,
      "update corpus set corpus.score = 1 " +
        "where corpus.nm in (select bad.nm from bad)")
    def score(nm: String): Long = cat.table("corpus")
      .filter(col("nm") === nm).select("score").as[Long].collect().head
    assert(score("d2") == 1L && score("d3") == 30L && score("d9") == 90L)
    // composes with plain conjuncts and NOT IN
    HashQL.execute(cat,
      "update corpus set corpus.score = corpus.score + 100 " +
        "where corpus.nm not in (select bad.nm from bad) " +
        "and corpus.score <= 50")
    assert(score("d3") == 130L && score("d9") == 90L && score("d2") == 1L)
  }

  test("a CTE shadowing a routed table bypasses the materialized join") {
    import graft.core.Tables
    val cat = new GraftCatalog(spark)
    Seq("customer", "nation").foreach(n =>
      cat.register(n, Tables.t(spark, sf, n)))
    val reg = new HashQL.JoinRegistry
    HashQL.execute(cat,
      "create join inner join nation on customer.c_nationkey = nation.n_nationkey",
      Some(reg))
    val tmp = java.nio.file.Files.createTempDirectory("mv_cte").toString
    val name = HashQL.materializeJoin(
      cat, reg, Set("customer", "nation"), s"$tmp/view")
    try {
      def joinsIn(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.size
      val plainSel = "select customer.c_custkey, nation.n_name from customer " +
        "inner join nation on customer.c_nationkey = nation.n_nationkey"
      assert(joinsIn(HashQL.execute(cat, plainSel, Some(reg)).get) == 0) // routed
      // the same join under a CTE shadow of `customer` must NOT serve the
      // pre-joined base rows — the shadow's filter would silently vanish
      val shadowed = HashQL.execute(cat,
        "with customer as (select customer.c_custkey, customer.c_nationkey " +
          "from customer where customer.c_mktsegment = 'BUILDING') " + plainSel,
        Some(reg)).get
      assert(joinsIn(shadowed) >= 1, "CTE shadow was bypassed by the route")
      val expect = HashQL.execute(cat,
        "select customer.c_custkey from customer " +
          "where customer.c_mktsegment = 'BUILDING'", Some(reg)).get.count()
      assert(shadowed.count() == expect)
    } finally graft.matview.MatView.drop(spark, s"hashql:$name")
  }

  test("recursive CTE: reachability fixpoint, cycle termination, guards") {
    val cat = new GraftCatalog(spark)
    // a→b→c→a cycle plus c→d spur and an unreachable e→f
    Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("e", "f"))
      .foreach { case (s2, d2) =>
        HashQL.execute(cat, s"insert into e (s, d) values ('$s2', '$d2')") }
    val reach = HashQL.execute(cat,
      "with recursive r as (select e.d from e where e.s = 'a' " +
        "union select e.d from r inner join e on e.s = r.d) " +
        "select r.d from r").get
    // the cycle terminates through EXCEPT; d rides the spur; e/f excluded
    assert(reach.as[String].collect().toSet == Set("a", "b", "c", "d"))
    // UNION ALL recursion (round-16): BAG semantics — acyclic data
    // terminates on an empty round and multiplicities survive (two
    // derivations of d: a→b→c→d has one path here, but the spur c→d
    // plus cycle paths produce repeats; use a clean DAG below)
    HashQL.execute(cat,
      "insert into dag (s, d) values ('p', 'q'), ('p', 'r'), " +
        "('q', 'z'), ('r', 'z')")
    val bag = HashQL.execute(cat,
      "with recursive rb as (select dag.d from dag where dag.s = 'p' " +
        "union all select dag.d from rb inner join dag on dag.s = rb.d) " +
        "select rb.d, count(*) as n from rb group by rb.d order by rb.d")
      .get.as[(String, Long)].collect().toSeq
    assert(bag == Seq(("q", 1L), ("r", 1L), ("z", 2L)))
    // …but CYCLIC data diverges — the 64-round cap rejects with the
    // remedy instead of hanging
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "with recursive r as (select e.d from e where e.s = 'a' " +
        "union all select e.d from r inner join e on e.s = r.d) " +
        "select r.d from r"))
    assert(e1.getMessage.contains("UNION ALL recursion diverges"),
      e1.getMessage)
    // arity mismatch between base and step is a clear error
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "with recursive r as (select e.d from e where e.s = 'a' " +
        "union select e.s, e.d from r inner join e on e.s = r.d) " +
        "select r.d from r"))
    assert(e2.getMessage.contains("columns"), e2.getMessage)
    // GROUPED steps now work PER-ROUND with aggregates (round-14 — see
    // the shortest-paths test); a KEY-ONLY grouping still rejects
    // toward the plain spelling (the fixpoint dedups every round)
    val e3 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "with recursive r as (select e.d from e where e.s = 'a' " +
        "union select e.d from r inner join e on e.s = r.d group by e.d) " +
        "select r.d from r"))
    assert(e3.getMessage.contains("plain spelling"), e3.getMessage)
    val aggOver = HashQL.execute(cat,
      "with recursive r as (select e.d from e where e.s = 'a' " +
        "union select e.d from r inner join e on e.s = r.d) " +
        "select count(*) as reached from r").get
    assert(aggOver.as[Long].collect().toSeq == Seq(4L))
    // a COMPUTED predicate in the step (ExprCmp) plans like the simple
    // spelling `where e2.d < 4`
    HashQL.execute(cat, "insert into e2 (s, d) values (1, 2), (2, 3), (3, 4)")
    val computed = HashQL.execute(cat,
      "with recursive r as (select e2.d from e2 where e2.s = 1 " +
        "union select e2.d from r inner join e2 on e2.s = r.d " +
        "where e2.d + 0 < 4) select r.d from r").get
    assert(computed.as[Long].collect().toSet == Set(2L, 3L))
    // the recursive name doesn't leak past the statement
    intercept[IllegalArgumentException](cat.table("r"))
  }

  test("CTEs: chaining, table shadowing, scope popped after the statement") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 1), ("a", 2), ("b", 3), ("b", 4), ("b", 5)).foreach { case (g, v) =>
      HashQL.execute(cat, s"insert into t (g, v) values ('$g', $v)") }
    // aggregate CTE + filter over its outputs
    val one = HashQL.execute(cat,
      "with s as (select t.g, count(*), sum(t.v) from t group by t.g) " +
        "select s.g, s.cnt, s.sum_v from s where s.cnt >= 3").get
    assert(one.as[(String, Long, Long)].collect().toSet == Set(("b", 3L, 12L)))
    // a later CTE references an earlier one; the body joins a CTE with a
    // real table
    val chain = HashQL.execute(cat,
      "with s as (select t.g, sum(t.v) from t group by t.g), " +
        "big as (select s.g, s.sum_v from s where s.sum_v > 3) " +
        "select t.g, t.v, big.sum_v from t " +
        "inner join big on big.g = t.g where t.v >= 4").get
    assert(chain.as[(String, Long, Long)].collect().toSet ==
      Set(("b", 4L, 12L), ("b", 5L, 12L)))
    // a CTE SHADOWS a same-named catalog table for the statement…
    val shadowed = HashQL.execute(cat,
      "with t as (select t.g from t where t.v = 1) select t.g from t").get
    assert(shadowed.as[String].collect().toSeq == Seq("a"))
    // …and the real table is back the moment the statement ends
    assert(HashQL.execute(cat, "select t.g from t").get.count() == 5)
    // a CTE body can be a UNION chain
    val u = HashQL.execute(cat,
      "with gs as (select t.g from t where t.v = 1 " +
        "union select t.g from t where t.v = 3) " +
        "select gs.g from gs").get
    assert(u.as[String].collect().toSet == Set("a", "b"))
    // CTE names don't leak into the catalog
    intercept[IllegalArgumentException](cat.table("s"))
    // duplicate CTE names are rejected
    intercept[IllegalArgumentException](HashQL.execute(cat,
      "with x as (select t.g from t), x as (select t.g from t) " +
        "select x.g from x"))
  }

  test("correlated EXISTS / NOT EXISTS plan as semi/anti joins") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 1), ("b", 2), ("c", 3)).foreach { case (n, k) =>
      HashQL.execute(cat, s"insert into cust (nm, k) values ('$n', $k)") }
    Seq((1, "open"), (1, "done"), (3, "open")).foreach { case (k, st) =>
      HashQL.execute(cat, s"insert into ord (ck, st) values ($k, '$st')") }
    val ex = HashQL.execute(cat,
      "select cust.nm from cust where exists (select ord.id from ord " +
        "where ord.ck = cust.k and ord.st = 'open')").get
    assert(ex.as[String].collect().toSet == Set("a", "c"))
    val nex = HashQL.execute(cat,
      "select cust.nm from cust where not exists (select ord.id from ord " +
        "where ord.ck = cust.k and ord.st = 'open')").get
    assert(nex.as[String].collect().toSet == Set("b"))
    // the plan is a join, not a cartesian/filter shape (the plan Spark
    // makes, as these driver-held tables would otherwise fold away)
    assert(LocalFold.unfolded(ex).optimizedPlan.toString.contains("LeftSemi"))
    assert(LocalFold.unfolded(nex).optimizedPlan.toString.contains("LeftAnti"))
  }

  test("uncorrelated EXISTS is an all-or-nothing gate") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into g (v) values (1)")
    HashQL.execute(cat, "insert into probe (x) values (7)")
    val keep = HashQL.execute(cat,
      "select g.v from g where exists (select probe.x from probe where probe.x = 7)").get
    assert(keep.count() == 1)
    val drop = HashQL.execute(cat,
      "select g.v from g where exists (select probe.x from probe where probe.x = 8)").get
    assert(drop.count() == 0)
  }

  test("subqueries under OR plan as flag joins (round-10: OR-of-EXISTS/IN/scalar)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into r (v, w) values (1, 10), (2, 20), (3, 30), (9, 90)")
    HashQL.execute(cat, "insert into r2 (v) values (1), (3)")
    // OR of a plain predicate and a correlated EXISTS
    val orEx = HashQL.execute(cat,
      "select r.v from r where r.v = 9 or exists " +
        "(select r2.v from r2 where r2.v = r.v)").get
    assert(orEx.as[Long].collect().sorted.toSeq == Seq(1L, 3L, 9L))
    // OR of IN-subquery and a comparison
    val orIn = HashQL.execute(cat,
      "select r.v from r where r.v in (select r2.v from r2) or r.w >= 90").get
    assert(orIn.as[Long].collect().sorted.toSeq == Seq(1L, 3L, 9L))
    // NOT of a membership under OR — anti semantics (join miss = false)
    val orNotIn = HashQL.execute(cat,
      "select r.v from r where not (r.v in (select r2.v from r2)) and r.v <= 2").get
    assert(orNotIn.as[Long].collect().toSeq == Seq(2L))
    // scalar compare under OR
    val orScalar = HashQL.execute(cat,
      "select r.v from r where r.v = (select max(r2.v) from r2) or r.v = 2").get
    assert(orScalar.as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // OR-of-NOT-EXISTS keeps rows with no match
    val orNotEx = HashQL.execute(cat,
      "select r.v from r where r.v = 1 or not exists " +
        "(select r2.v from r2 where r2.v = r.v)").get
    assert(orNotEx.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 9L))
    // a tuple membership under OR and under NOT: a flag and an anti join
    // on all key pairs (DuckDB over the same rows: 1, 2, 9 and 3, 9)
    HashQL.execute(cat, "insert into r3 (v, x) values (1, 10), (3, 99), (2, 20)")
    val orTuple = HashQL.execute(cat,
      "select r.v from r where r.v = 9 or (r.v, r.w) in (select r3.v, r3.x from r3)").get
    assert(orTuple.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 9L))
    val notTuple = HashQL.execute(cat,
      "select r.v from r where not ((r.v, r.w) in (select r3.v, r3.x from r3))").get
    assert(notTuple.as[Long].collect().sorted.toSeq == Seq(3L, 9L))
    // a subquery inside a CASE condition of a WHERE comparison is a
    // subquery leaf like any other: it lowers to a flag join too
    val caseIn = HashQL.execute(cat,
      "select r.v from r where case when r.v in (select r2.v from r2) " +
        "then 1 else 0 end = 1").get
    assert(caseIn.as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // still rejected: a subquery inside a projected CASE condition
    // (Column-only surface — no join machinery there)
    val e = intercept[IllegalArgumentException] {
      HashQL.execute(cat,
        "select case when r.v in (select r2.v from r2) then 1 else 0 end " +
          "as hit from r").get.collect()
    }
    assert(e.getMessage.contains("CASE conditions"), e.getMessage)
    // …and so is the multi-key (tuple) membership there
    val eTuple = intercept[IllegalArgumentException] {
      HashQL.execute(cat,
        "select r.v, case when (r.v, r.w) in (select r2.v, r2.v from r2) " +
          "then 1 else 0 end as hit from r").get.collect()
    }
    assert(eTuple.getMessage.contains("CASE conditions"), eTuple.getMessage)
  }

  test("column-to-column equality filters the same frame") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into pair (a, b) values (1, 1), (2, 3)")
    val got = HashQL.execute(cat,
      "select pair.a from pair where pair.a = pair.b").get
    assert(got.as[Long].collect().toSeq == Seq(1L))
  }

  test("coalesce(…, null) and ungrouped agg+field mixes are rejected") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into mx (g, v) values ('a', 1)")
    val e1 = intercept[IllegalArgumentException] {
      HashQL.execute(cat, "select coalesce(mx.v, null) from mx")
    }
    assert(e1.getMessage.contains("coalesce"))
    val e2 = intercept[IllegalArgumentException] {
      HashQL.execute(cat, "select mx.g, count(mx.v) from mx").get.collect()
    }
    assert(e2.getMessage.contains("without GROUP BY"))
  }

  test("all-null INSERT row pins to an id-only row (omit ≡ null)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into z (a, b) values (null, null)")
    val rows = cat.table("z").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("id") == 1L)
    // every value null ⇒ every field omitted ⇒ the row carries only its
    // synthesized id (the dynamic-schema model's omit-equals-null corner)
    assert(cat.table("z").columns.toSet == Set("id"))
  }

  // ---- expression grammar goldens (rounds 9-10) ----

  private def exprCat(): GraftCatalog = {
    val cat = new GraftCatalog(spark)
    Seq((2, 3, 4), (10, 0, 1), (5, 5, 5)).foreach { case (a, b, c) =>
      HashQL.execute(cat, s"insert into e (a, b, c) values ($a, $b, $c)") }
    cat
  }

  test("expression precedence: * binds over +; parens override; division is double") {
    val cat = exprCat()
    val got = HashQL.execute(cat,
      "select e.a, e.a + e.b * e.c as x, (e.a + e.b) * e.c as y, e.a / 2 as h " +
        "from e where e.a = 2").get
    assert(got.as[(Long, Long, Long, Double)].collect().toSeq ==
      Seq((2L, 14L, 20L, 1.0))) // 2+3*4=14 not 20; (2+3)*4=20; 2/2=1.0
  }

  test("CASE nests in THEN/ELSE branches and composes with arithmetic") {
    val cat = exprCat()
    val got = HashQL.execute(cat,
      "select e.a, case when e.b = 0 then 0 - 1 else " +
        "case when e.a > e.b then e.a * 100 else e.b end end as k " +
        "from e order by e.a").get
    assert(got.as[(Long, Long)].collect().toSeq ==
      Seq((2L, 3L), (5L, 5L), (10L, -1L)))
  }

  test("computed projections require AS; alias collisions and doc-paths reject with clear messages") {
    val cat = exprCat()
    // missing AS
    val e1 = intercept[IllegalArgumentException](
      HashQL.execute(cat, "select e.a + 1 from e"))
    assert(e1.getMessage.contains("as <alias>"), e1.getMessage)
    // computed alias shadowing a projected field (round-10: was a silent
    // overwrite through withColumn)
    val e2 = intercept[IllegalArgumentException](
      HashQL.execute(cat, "select e.a, e.b / 2 as a from e"))
    assert(e2.getMessage.contains("collides with a projected field"), e2.getMessage)
    // duplicate computed aliases
    val e3 = intercept[IllegalArgumentException](
      HashQL.execute(cat, "select e.a + 1 as x, e.b + 1 as x from e"))
    assert(e3.getMessage.contains("duplicate computed output aliases"), e3.getMessage)
    // doc-paths are not expression operands
    HashQL.execute(cat, "insert into d (k) values (1)")
    val e4 = intercept[IllegalArgumentException](
      HashQL.execute(cat, "select d.~a~b + 1 as x from d").get.collect())
    assert(e4.getMessage.contains("doc-paths are not addressable"), e4.getMessage)
  }

  test("grouped selects: expressions over grouping keys compute post-agg; non-key refs reject") {
    val cat = exprCat()
    val got = HashQL.execute(cat,
      "select e.a, e.a * 10 as a10, count(*) from e group by e.a " +
        "order by e.a").get
    assert(got.select("a", "a10", "cnt").as[(Long, Long, Long)].collect().toSeq ==
      Seq((2L, 20L, 1L), (5L, 50L, 1L), (10L, 100L, 1L)))
    val e1 = intercept[IllegalArgumentException](
      HashQL.execute(cat, "select e.a, e.b * 2 as b2, count(*) from e group by e.a"))
    assert(e1.getMessage.contains("grouping keys only"), e1.getMessage)
  }

  test("expressions in WHERE: computed comparisons filter; non-comparison ops reject") {
    val cat = exprCat()
    // a*b > 10 keeps (5,5,5) [25] and (2,3,4) [6]? no — 6 < 10; (10,0,1)=0
    val got = HashQL.execute(cat,
      "select e.a from e where e.a * e.b > 10").get
    assert(got.as[Long].collect().toSeq == Seq(5L))
    // both sides computed; CASE as a predicate operand
    val both = HashQL.execute(cat,
      "select e.a from e where e.a + e.b = e.c + 5 and " +
        "case when e.c > 3 then 1 else 0 end = 1").get
    assert(both.as[Long].collect().toSeq == Seq(5L)) // 5+5 = 5+5, c=5 > 3
    // computed IN joined the grammar in round 11 (was a reject)
    val exprIn = HashQL.execute(cat,
      "select e.a from e where e.a + 1 in (2, 3)").get
    assert(exprIn.as[Long].collect().nonEmpty)
    // a computed head with a genuinely unsupported op still rejects (FTS
    // `~` keys on a plain column; LIKE joined the grammar with the one
    // comparison node)
    val e1 = intercept[IllegalArgumentException](
      HashQL.execute(cat, "select e.a from e where e.a + 1 ~ 'x'"))
    assert(e1.getMessage.contains("computed expression compares with"), e1.getMessage)
  }

  test("<> column and scalar-subquery arms; non-aggregate scalar subqueries reject") {
    val cat = exprCat()
    val ne = HashQL.execute(cat, "select e.a from e where e.a <> e.c").get
    assert(ne.as[Long].collect().sorted.toSeq == Seq(2L, 10L))
    val nes = HashQL.execute(cat,
      "select e.a from e where e.a <> (select max(e.a) from e)").get
    assert(nes.as[Long].collect().sorted.toSeq == Seq(2L, 5L))
    // a row-set subquery can produce N rows — the broadcast compare
    // would silently duplicate outer rows, so it must reject
    val e1 = intercept[IllegalArgumentException](
      HashQL.execute(cat, "select e.a from e where e.a = (select e.b from e)")
        .get.collect())
    assert(e1.getMessage.contains("global aggregate"), e1.getMessage)
  }

  test("scalar functions: string/math tier, nesting, WHERE composition, arity guards") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into f (s, x) values ('  Hello  ', -7), ('world', 3)")
    val got = HashQL.execute(cat,
      "select f.x, upper(f.s) as u, length(trim(f.s)) as n, abs(f.x) as a, " +
        "substr(trim(f.s), 2, 3) as mid from f order by f.x").get
    assert(got.as[(Long, String, Long, Long, String)].collect().toSeq == Seq(
      (-7L, "  HELLO  ", 5L, 7L, "ell"),
      (3L, "WORLD", 5L, 3L, "orl")))
    // functions compose with arithmetic and compare in WHERE
    val wh = HashQL.execute(cat,
      "select f.s from f where length(trim(f.s)) + f.x = 8").get
    assert(wh.as[String].collect().toSeq == Seq("world")) // 5 + 3
    // 2-arg substr runs to end of string
    val tail2 = HashQL.execute(cat,
      "select substr(f.s, 2) as t2 from f where f.x = 3").get
    assert(tail2.as[String].collect().toSeq == Seq("orld"))
    // arity is validated at parse time with the allowed counts
    val e1 = intercept[IllegalArgumentException](
      HashQL.execute(cat, "select upper(f.s, f.s) as u from f"))
    assert(e1.getMessage.contains("argument"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      HashQL.execute(cat, "select soundex(f.s) as r from f"))
    assert(e2.getMessage.contains("as <alias>") || e2.getMessage.contains("expected"),
      e2.getMessage) // unknown fn never parses as a call
  }

  test("concat/replace/round/mod and the % operator: semantics and guards") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into g (s, x) values ('ab#1', 17), ('cd#2', -17)")
    val got = HashQL.execute(cat,
      "select g.x, concat(g.s, '!') as c, replace(g.s, '#', '-') as r, " +
        "g.x % 5 as m, mod(g.x, 5) as m2 from g order by g.x desc").get
    // % / mod: sign follows the dividend (both engines)
    assert(got.as[(Long, String, String, Long, Long)].collect().toSeq == Seq(
      (17L, "ab#1!", "ab-1", 2L, 2L),
      (-17L, "cd#2!", "cd-2", -2L, -2L)))
    // % binds at * / precedence: 3 + 17 % 5 = 3 + 2, not (3+17) % 5
    val prec = HashQL.execute(cat,
      "select 3 + g.x % 5 as p from g where g.x = 17").get
    assert(prec.as[Long].collect().toSeq == Seq(5L))
    // round: 1-arg and static-scale 2-arg; half away from zero
    HashQL.execute(cat, "insert into h (d) values (2.5), (-2.5), (2.345)")
    val r = HashQL.execute(cat,
      "select round(h.d) as r0, round(h.d, 2) as r2 from h").get
    assert(r.as[(Double, Double)].collect().toSet == Set(
      (3.0, 2.5), (-3.0, -2.5), (2.0, 2.35)))
    // round's scale must be an integer literal, not an expression
    val e1 = intercept[IllegalArgumentException](
      HashQL.execute(cat, "select round(h.d, h.d) as r from h"))
    assert(e1.getMessage.contains("integer literal"), e1.getMessage)
    // concat null-propagates (Spark/|| semantics, not DuckDB concat())
    HashQL.execute(cat, "insert into g (s) values ('lone')") // x is NULL
    val nulls = HashQL.execute(cat,
      "select concat(g.s, '_', g.x) as c from g where g.s = 'lone'").get
    assert(nulls.collect().head.isNullAt(0))
  }

  test("|| chains and date_trunc/hour/minute: folding, precedence, unit guard") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into e (s, x, t) values ('a', 2, '2024-03-17 13:45:10')")
    // a || chain folds to one n-ary concat; arithmetic binds tighter
    val got = HashQL.execute(cat,
      "select e.s || '-' || e.x + 1 as tag from e").get
    assert(got.as[String].collect().toSeq == Seq("a-3"))
    // null-propagating, like ANSI ||
    HashQL.execute(cat, "insert into e (s) values ('b')") // x NULL
    assert(HashQL.execute(cat,
      "select e.s || e.x as tag from e where e.s = 'b'").get
      .collect().head.isNullAt(0))
    // date parts and truncation (string timestamps cast on the fly)
    val dt = HashQL.execute(cat,
      "select hour(e.t) as h, minute(e.t) as m, " +
        "date_trunc('month', e.t) as mo from e where e.s = 'a'").get
    val r = dt.collect().head
    assert(r.getLong(0) == 13L && r.getLong(1) == 45L &&
      r.getTimestamp(2).toString.startsWith("2024-03-01 00:00:00"))
    // the unit must be a known literal
    val e1 = intercept[IllegalArgumentException](
      HashQL.execute(cat, "select date_trunc('fortnight', e.t) as mo from e"))
    assert(e1.getMessage.contains("unit"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      HashQL.execute(cat, "select date_trunc(e.s, e.t) as mo from e"))
    assert(e2.getMessage.contains("unit"), e2.getMessage)
  }

  test("UPDATE SET takes full expressions; simple shapes keep their coercions") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 10), ("b", 3)).foreach { case (g, v) =>
      HashQL.execute(cat, s"insert into u (g, v) values ('$g', $v)") }
    // CASE on the RHS
    HashQL.execute(cat,
      "update u set u.v = case when u.v >= 10 then u.v * 2 else u.v + 100 end")
    assert(HashQL.execute(cat, "select u.g, u.v from u").get
      .as[(String, Long)].collect().toSet == Set("a" -> 20L, "b" -> 103L))
    // parenthesized arithmetic (not the simple col-op-lit shape)
    HashQL.execute(cat, "update u set u.v = (u.v + 1) * 10 where u.g = 'a'")
    assert(HashQL.execute(cat, "select u.v from u where u.g = 'a'").get
      .as[Long].collect().toSeq == Seq(210L))
    // functions on the RHS
    HashQL.execute(cat, "update u set u.g = upper(u.g) where u.v = 103")
    assert(HashQL.execute(cat, "select u.g from u where u.v = 103").get
      .as[String].collect().toSeq == Seq("B"))
  }

  test("dense_rank windows: no gaps on ties") {
    val cat = new GraftCatalog(spark)
    Seq(("x", 10), ("x", 10), ("x", 20), ("y", 5)).foreach { case (g, v) =>
      HashQL.execute(cat, s"insert into w (g, v) values ('$g', $v)") }
    val got = HashQL.execute(cat,
      "select w.g, w.v, dense_rank() over (partition by w.g order by w.v) " +
        "from w order by w.g, w.v").get
    assert(got.as[(String, Long, Int)].collect().toSeq == Seq(
      ("x", 10L, 1), ("x", 10L, 1), ("x", 20L, 2), ("y", 5L, 1)))
  }

  test("expressions over aggregates: grouped and global ratios; guards") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 10, 2), ("a", 20, 3), ("b", 9, 4)).foreach { case (g, v, w) =>
      HashQL.execute(cat, s"insert into r (g, v, w) values ('$g', $v, $w)") }
    // grouped: mean via sum/count plus a scaled sum — ONE groupBy pass,
    // reserved agg columns never leak
    val got = HashQL.execute(cat,
      "select r.g, sum(r.v) / count(*) as mean, sum(r.v) * 2 as s2, " +
        "count(*) as n from r group by r.g order by r.g").get
    // grouped output keeps the dialect's keys-then-aggs-then-computed
    // order (matview routing relies on stored names/positions); the
    // computed aliases land after the base aggregates
    assert(got.columns.toSet == Set("g", "mean", "s2", "n"))
    assert(got.select("g", "mean", "s2", "n")
      .as[(String, Double, Long, Long)].collect().toSeq == Seq(
        ("a", 15.0, 60L, 2L), ("b", 9.0, 18L, 1L)))
    // global: ratio of two sums; functions compose around aggregates
    val tot = HashQL.execute(cat,
      "select sum(r.v) / sum(r.w) as ratio, " +
        "round(sum(r.v) * 1.0 / count(*), 2) as m from r").get
    assert(tot.columns.toSeq == Seq("ratio", "m"))
    assert(tot.as[(Double, Double)].collect().toSeq ==
      Seq((39.0 / 9.0, 13.0)))
    // HAVING addresses a computed ratio alias like any output column
    val hv = HashQL.execute(cat,
      "select r.g, sum(r.v) / count(*) as mean from r group by r.g " +
        "having mean > 10").get
    assert(hv.select("g").as[String].collect().toSeq == Seq("a"))
    // aggregates in WHERE reject with the HAVING hint
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select r.g from r where sum(r.v) > 5"))
    assert(e1.getMessage.contains("HAVING"), e1.getMessage)
    // mixing agg expressions with plain fields without GROUP BY rejects
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select r.g, sum(r.v) / 2 as h from r"))
    assert(e2.getMessage.contains("GROUP BY"), e2.getMessage)
    // non-key scan columns inside a grouped expression reject
    val e3 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select r.g, sum(r.v) / r.v as bad from r group by r.g"))
    assert(e3.getMessage.contains("grouping key"), e3.getMessage)
  }

  test("cast: explicit conversions in projections and WHERE; bad targets reject") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into c (s, x, d) values ('12', 7, 2.9)")
    val got = HashQL.execute(cat,
      "select cast(c.s as long) + 1 as n, cast(c.x as double) / 2 as h, " +
        "cast(c.x as string) || '!' as t, cast(c.d as bigint) as w from c").get
    // double→long truncates toward zero (Spark/ANSI; DuckDB CAST rounds —
    // documented on ECast, oracles spell trunc explicitly)
    assert(got.as[(Long, Double, String, Long)].collect().toSeq ==
      Seq((13L, 3.5, "7!", 2L)))
    assert(HashQL.execute(cat,
      "select c.x from c where cast(c.s as long) = 12").get
      .as[Long].collect().toSeq == Seq(7L))
    val e1 = intercept[IllegalArgumentException](
      HashQL.execute(cat, "select cast(c.x as blob) as y from c"))
    assert(e1.getMessage.contains("cast target"), e1.getMessage)
  }

  test("min/max over windows: running extremum under ORDER BY") {
    val cat = new GraftCatalog(spark)
    Seq(("x", 3), ("x", 1), ("x", 2), ("y", 9)).foreach { case (g, v) =>
      HashQL.execute(cat, s"insert into w (g, v) values ('$g', $v)") }
    val got = HashQL.execute(cat,
      "select w.g, w.v, min(w.v) over (partition by w.g order by w.id) as lo, " +
        "max(w.v) over (partition by w.g order by w.id) as hi " +
        "from w order by w.id").get
    assert(got.as[(String, Long, Long, Long)].collect().toSeq == Seq(
      ("x", 3L, 3L, 3L), ("x", 1L, 1L, 3L), ("x", 2L, 1L, 3L),
      ("y", 9L, 9L, 9L)))
  }

  test("GROUP BY a computed alias: expression keys evaluate pre-agg; unknown keys reject") {
    val cat = new GraftCatalog(spark)
    Seq(("ab", 1), ("cd", 2), ("efg", 3), ("hi", 4)).foreach { case (s0, v) =>
      HashQL.execute(cat, s"insert into t (s, v) values ('$s0', $v)") }
    // group by a computed key (string length buckets)
    val got = HashQL.execute(cat,
      "select length(t.s) as n, count(*), sum(t.v) from t group by n " +
        "order by n").get
    assert(got.select("n", "cnt", "sum_v").as[(Long, Long, Long)].collect().toSeq ==
      Seq((2L, 3L, 7L), (3L, 1L, 3L)))
    // computed key + post-agg expression over it in one select
    val both = HashQL.execute(cat,
      "select length(t.s) as n, n * 10 as n10, count(*) from t group by n " +
        "order by n").get
    assert(both.select("n", "n10", "cnt").as[(Long, Long, Long)].collect().toSeq ==
      Seq((2L, 20L, 3L), (3L, 30L, 1L)))
    // HAVING addresses the computed key like any output column
    val hav = HashQL.execute(cat,
      "select length(t.s) as n, count(*) from t group by n having cnt > 1").get
    assert(hav.select("n", "cnt").as[(Long, Long)].collect().toSeq == Seq((2L, 3L)))
    // a bare group key that is neither a column nor an alias rejects
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select count(*) from t group by nope"))
    assert(e1.getMessage.contains("neither a column nor a computed"), e1.getMessage)
  }

  test("composite JOIN ON: and-ed equi-conjuncts; blocks matview routing") {
    val cat = new GraftCatalog(spark)
    Seq((1, 10, "a"), (1, 20, "b"), (2, 10, "c")).foreach { case (k1, k2, v) =>
      HashQL.execute(cat, s"insert into L (k1, k2, v) values ($k1, $k2, '$v')") }
    Seq((1, 10, "X"), (2, 10, "Y"), (1, 99, "Z")).foreach { case (k1, k2, w) =>
      HashQL.execute(cat, s"insert into R (r1, r2, w) values ($k1, $k2, '$w')") }
    val got = HashQL.execute(cat,
      "select L.v, R.w from L inner join R on L.k1 = R.r1 and L.k2 = R.r2").get
    assert(got.as[(String, String)].collect().toSet ==
      Set("a" -> "X", "c" -> "Y")) // (1,20) and (1,99) have no composite match
    // LEFT JOIN keeps the unmatched left rows under the composite condition
    val lj = HashQL.execute(cat,
      "select L.v, R.w from L left join R on L.k1 = R.r1 and L.k2 = R.r2 " +
        "where R.w is null").get
    assert(lj.as[(String, String)].collect().map(_._1).toSet == Set("b"))
  }

  test("coalesce/nullif inside expressions: n-ary first-non-null, ANSI NULLIF") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into n (a, b) values ('x', 'y'), ('same', 'same')")
    HashQL.execute(cat, "insert into n (b) values ('only_b')") // a missing ⇒ null
    val got = HashQL.execute(cat,
      "select coalesce(nullif(n.a, 'same'), n.b, 'fallback') as r from n " +
        "order by r").get
    // ('x','y')→x; ('same','same')→nullif nulls a→b='same'; (null,'only_b')→b
    assert(got.as[String].collect().toSeq == Seq("only_b", "same", "x"))
  }

  test("dialect INTERSECT/EXCEPT: set and multiset forms, mixed chains reject") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into A (v) values (1), (2), (2), (3)")
    HashQL.execute(cat, "insert into B (v) values (2), (3), (3), (4)")
    def vals(sql: String): Seq[Long] =
      HashQL.execute(cat, sql).get.as[Long].collect().sorted.toSeq
    assert(vals("select A.v from A intersect select B.v from B") == Seq(2L, 3L))
    assert(vals("select A.v from A except select B.v from B") == Seq(1L))
    // multiset: A has two 2s, B one 2 → one survives EXCEPT ALL
    assert(vals("select A.v from A except all select B.v from B") == Seq(1L, 2L))
    assert(vals("select A.v from A intersect all select B.v from B") == Seq(2L, 3L))
    // chains are one op only
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select A.v from A union select B.v from B except select A.v from A"))
    assert(e1.getMessage.contains("mixed set operators"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select A.v from A except select B.v from B except all select A.v from A"))
    assert(e2.getMessage.contains("mixed"), e2.getMessage)
  }

  test("ntile windows: balanced buckets over the window order") {
    val cat = new GraftCatalog(spark)
    (1 to 8).foreach(v => HashQL.execute(cat, s"insert into t (v) values ($v)"))
    val got = HashQL.execute(cat,
      "select t.v, ntile(3) over (order by t.v) from t order by t.v").get
    assert(got.select("v", "ntl").as[(Long, Int)].collect().toSeq ==
      Seq((1L, 1), (2L, 1), (3L, 1), (4L, 2), (5L, 2), (6L, 2), (7L, 3), (8L, 3)))
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select ntile(0) over (order by t.v) from t"))
    assert(e.getMessage.contains("positive"), e.getMessage)
  }

  test("a pure rename keeps the missing-field skip (select t.a as b ≡ select t.a)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into t (a) values ('x')")
    HashQL.execute(cat, "insert into t (a, b) values ('y', 2)")
    val renamed = HashQL.execute(cat, "select t.b as bb from t").get
    assert(renamed.columns.toSeq == Seq("bb"))
    assert(renamed.as[Long].collect().toSeq == Seq(2L)) // row without b skipped
    // a COMPUTED output stays exempt (never "missing")
    val computed = HashQL.execute(cat, "select t.b + 0 as bb from t").get.collect()
    assert(computed.length == 2)
  }

  test("typed temporal literals + interval arithmetic (round 11)") {
    val cat = new GraftCatalog(spark)
    // typed literals flow through INSERT (literal() handles them anywhere)
    Seq("2020-01-05", "2020-02-05", "2020-03-05").zipWithIndex.foreach {
      case (day, i) => HashQL.execute(cat,
        s"insert into ev (n, ts) values (${i + 1}, timestamp '$day 10:30:00')")
    }
    // date literal compares against the timestamp column natively
    val afterFeb = HashQL.execute(cat,
      "select ev.n from ev where ev.ts >= date '2020-02-01'").get
    assert(afterFeb.as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // interval arithmetic: +1 month lands exactly on the next literal
    val window = HashQL.execute(cat,
      "select ev.n from ev where ev.ts < date '2020-01-10' + interval '1' month " +
        "and ev.ts > timestamp '2020-03-05 10:30:00' - interval '60' day").get
    assert(window.as[Long].collect().toSeq == Seq(2L))
    // CAST to date truncates the time part; year/month parts agree
    val casted = HashQL.execute(cat,
      "select ev.n, cast(ev.ts as date) as d, month(ev.ts) as m from ev " +
        "where ev.n = 1").get.collect().head
    assert(casted.getAs[java.sql.Date]("d").toString == "2020-01-05")
    assert(casted.getAs[Long]("m") == 1L)
    // date_add / date_sub shift whole days (DATE out)
    val shifted = HashQL.execute(cat,
      "select date_add(ev.ts, 3) as fwd, date_sub(ev.ts, 5) as back " +
        "from ev where ev.n = 1").get.collect().head
    assert(shifted.getAs[java.sql.Date]("fwd").toString == "2020-01-08")
    assert(shifted.getAs[java.sql.Date]("back").toString == "2019-12-31")
    // week intervals normalize to days: 2020-01-05 10:30 < 2020-01-08
    val weeks = HashQL.execute(cat,
      "select ev.n from ev where ev.ts < date '2020-01-01' + interval '1' week").get
    assert(weeks.as[Long].collect().toSeq == Seq(1L))
  }

  test("interval literals are rejected outside +/- position; bad shapes reject") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into t (a) values ('x')")
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select interval '1' day as iv from t"))
    assert(e1.getMessage.contains("right operand"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](HashQL.parse(
      "select t.a from t where t.a <= date '2020-1-1' - interval '1' day"))
    assert(e2.getMessage.contains("yyyy-mm-dd"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](HashQL.parse(
      "select cast(t.a as blob) as x from t"))
    assert(e3.getMessage.contains("cast target"), e3.getMessage)
  }

  test("decimal(p,s) casts: exact money sums, scale pinning, bad shapes reject") {
    val cat = new GraftCatalog(spark)
    Seq("1.10", "2.20", "3.30").foreach(v =>
      HashQL.execute(cat, s"insert into m (price) values ('$v')"))
    // string → decimal; the SUM is exact (0.1+0.2+0.3 of doubles is NOT)
    val sum = HashQL.execute(cat,
      "select cast(sum(cast(m.price as decimal(18, 2))) as decimal(18, 2)) " +
        "as total from m").get.collect().head.getDecimal(0)
    assert(sum.toPlainString == "6.60", sum.toPlainString)
    // per-row cast keeps the declared scale
    val rows = HashQL.execute(cat,
      "select cast(m.price as decimal(10, 2)) as p from m " +
        "order by p desc limit 1").get.collect().head.getDecimal(0)
    assert(rows.toPlainString == "3.30")
    // guards: precision range, missing scale parens shape
    val e1 = intercept[IllegalArgumentException](HashQL.parse(
      "select cast(m.price as decimal(40, 2)) as p from m"))
    assert(e1.getMessage.contains("1..38"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](HashQL.parse(
      "select cast(m.price as decimal(2, 7)) as p from m"))
    assert(e2.getMessage.contains("scale"), e2.getMessage)
  }

  test("correlated scalar subqueries decorrelate with ANSI edge semantics") {
    val cat = new GraftCatalog(spark)
    // parents: (k, threshold); children: (k, v) — parent 3 has NO children
    Seq((1, 10), (2, 100), (3, 0)).foreach { case (k, t) =>
      HashQL.execute(cat, s"insert into par (k, thresh) values ($k, $t)") }
    Seq((1, 5), (1, 7), (2, 50)).foreach { case (k, v) =>
      HashQL.execute(cat, s"insert into child (k, v) values ($k, $v)") }
    // max: parent 3's scalar is NULL → comparison UNKNOWN → dropped
    val gtMax = HashQL.execute(cat,
      "select par.k from par where par.thresh > " +
        "( select max(child.v) from child where child.k = par.k )").get
    assert(gtMax.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // count: parent 3's scalar is 0 (not NULL) → `>=` keeps it
    val geCount = HashQL.execute(cat,
      "select par.k from par where par.thresh >= " +
        "( select count(*) from child where child.k = par.k )").get
    assert(geCount.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // local filters inside the subquery compose with the correlation;
    // parent 2's children ALL fail v < 7, so its sum-over-empty is NULL
    // (ANSI — unlike count) and the comparison drops it
    val filtered = HashQL.execute(cat,
      "select par.k from par where par.thresh > " +
        "( select sum(child.v) from child where child.k = par.k and child.v < 7 )").get
    assert(filtered.as[Long].collect().sorted.toSeq == Seq(1L))
  }

  test("non-equality correlation: scalar range decorrelation, EXISTS extras, leak guard") {
    val cat = new GraftCatalog(spark)
    Seq((1, 10, 6), (2, 100, 5), (3, 7, 99)).foreach { case (k, t, b) =>
      HashQL.execute(cat, s"insert into par2 (k, thresh, bound) values ($k, $t, $b)") }
    Seq((1, 5), (1, 7), (2, 50), (2, 3)).foreach { case (k, v) =>
      HashQL.execute(cat, s"insert into ch2 (k, v) values ($k, $v)") }
    // RANGE correlation (round-12): the subquery's subset depends on the
    // outer row's bound — `v < par2.bound`. Per-row: par1 (bound 6) sees
    // {5}, par2 (bound 5) sees {3}, par3 has no children at all.
    val sums = HashQL.execute(cat,
      "select par2.k, ( select sum(ch2.v) from ch2 " +
        "where ch2.k = par2.k and ch2.v < par2.bound ) as s from par2").get
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(sums == Map(1L -> Some(5L), 2L -> Some(3L), 3L -> None))
    // correlated count over a range: empty subsets are 0 (ANSI), and the
    // WHERE-side compare form shares the plan
    val cnt = HashQL.execute(cat,
      "select par2.k from par2 where par2.thresh >= " +
        "( select count(*) from ch2 where ch2.k = par2.k and ch2.v < par2.bound )").get
    assert(cnt.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // an expression OVER aggregates as the scalar value (TPC-H Q17's
    // `0.2 * avg(x)` idiom) — equality-correlated
    val exprAvg = HashQL.execute(cat,
      "select par2.k from par2 where par2.thresh > " +
        "( select 2 * avg(ch2.v) as s2 from ch2 where ch2.k = par2.k )").get
    assert(exprAvg.as[Long].collect().sorted.toSeq == Seq(2L))
    // EXISTS with a non-equality cross conjunct rides the join condition
    val exRange = HashQL.execute(cat,
      "select par2.k from par2 where exists ( select ch2.id from ch2 " +
        "where ch2.k = par2.k and ch2.v < par2.thresh )").get
    assert(exRange.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // … and inequality (the Q21 shape `l2.suppkey <> l1.suppkey`)
    val exNeq = HashQL.execute(cat,
      "select par2.k from par2 where not exists ( select ch2.id from ch2 " +
        "where ch2.k = par2.k and ch2.v <> par2.bound )").get
    assert(exNeq.as[Long].collect().toSeq == Seq(3L))
    // the plans stay hash joins — no nested loop / cartesian anywhere
    val rangePlan = HashQL.execute(cat,
      "select par2.k, ( select sum(ch2.v) from ch2 " +
        "where ch2.k = par2.k and ch2.v < par2.bound ) as s from par2").get
      .queryExecution.executedPlan.toString
    assert(!rangePlan.contains("CartesianProduct") &&
      !rangePlan.contains("BroadcastNestedLoop"), rangePlan)
    // LEAK GUARD (r11 advice): an outer reference in an unsupported form
    // REJECTS with the correlation form named — never a silent bind to
    // the inner frame
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select par2.k from par2 where par2.thresh > " +
        "( select sum(ch2.v) from ch2 where upper(par2.k) = ch2.k )"))
    assert(e1.getMessage.contains("unsupported correlation form"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select par2.k from par2 where exists ( select ch2.id from ch2 " +
        "where ch2.k = par2.k and upper(par2.k) = ch2.k )"))
    assert(e2.getMessage.contains("unsupported correlation form"), e2.getMessage)
    // an outer ref on the OUTER side of a nested subquery arm
    // (`t.n in (select …)`) is a correlation too — never bound to the
    // inner table's same-named column
    HashQL.execute(cat, "insert into t (k, n) values (1, 10), (2, 20), (3, 30)")
    HashQL.execute(cat,
      "insert into u (k, v, n) values (1, 5, 100), (1, 7, 100), (2, 9, 200)")
    HashQL.execute(cat, "insert into w (n) values (10)")
    Seq(
      "select t.k, ( select count(*) from u where u.k = t.k and " +
        "t.n in (select w.n from w) ) as s from t",
      "select t.k from t where exists ( select u.k from u where " +
        "u.k = t.k and t.n in (select w.n from w) )").foreach { q =>
      val e = intercept[IllegalArgumentException](
        HashQL.execute(cat, q).get.collect())
      assert(e.getMessage.contains("unsupported correlation form"), e.getMessage)
    }
    // range-only correlation (no equality key) rejects toward adding one
    val e3 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select par2.k from par2 where par2.thresh > " +
        "( select sum(ch2.v) from ch2 where ch2.v < par2.bound )"))
    assert(e3.getMessage.contains("equality conjunct"), e3.getMessage)
  }

  test("projection scalar subqueries: correlated attach, count-0, guards") {
    val cat = new GraftCatalog(spark)
    Seq((1, 10), (2, 100), (3, 0)).foreach { case (k, t) =>
      HashQL.execute(cat, s"insert into par (k, thresh) values ($k, $t)") }
    Seq((1, 5), (1, 7), (2, 50)).foreach { case (k, v) =>
      HashQL.execute(cat, s"insert into child (k, v) values ($k, $v)") }
    // correlated max: parent 3 has no children → NULL
    val m = HashQL.execute(cat,
      "select par.k, ( select max(child.v) from child " +
        "where child.k = par.k ) as mx from par").get
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(m == Map(1L -> Some(7L), 2L -> Some(50L), 3L -> None))
    // correlated count: parent 3 shows 0, not NULL
    val c = HashQL.execute(cat,
      "select par.k, ( select count(*) from child " +
        "where child.k = par.k ) as n from par").get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == Map(1L -> 2L, 2L -> 1L, 3L -> 0L))
    // any aggregate of the inventory correlates: median, and mode with
    // its smallest-value tiebreak (DuckDB: median, and the count-desc/
    // value-asc pick)
    val md = HashQL.execute(cat,
      "select par.k, ( select median(child.v) from child " +
        "where child.k = par.k ) as md, ( select mode(child.v) as mo " +
        "from child where child.k = par.k ) as mo from par").get
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(md == Map(1L -> (Some(6.0), Some(5L)), 2L -> (Some(50.0), Some(50L)),
      3L -> (None, None)), md.toString)
    // uncorrelated: one broadcast value on every row
    val u = HashQL.execute(cat,
      "select par.k, ( select sum(child.v) from child ) as s from par").get
      .collect().map(_.getLong(1)).toSet
    assert(u == Set(62L))
    // the attached alias is ORDER-BY-addressable like any output column
    val ordered = HashQL.execute(cat,
      "select par.k, ( select count(*) from child " +
        "where child.k = par.k ) as n from par order by n desc, par.k limit 1").get
      .collect().head
    assert(ordered.getLong(0) == 1L && ordered.getLong(1) == 2L)
    // an aggregate inside a CASE condition: a join miss serves the
    // empty-set value through the same condition (count 0 → else branch)
    val cased = HashQL.execute(cat,
      "select par.k, ( select case when count(*) > 0 then 1 else 0 end " +
        "as c from child where child.k = par.k ) as s from par").get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cased == Map(1L -> 1L, 2L -> 1L, 3L -> 0L))
    // guards: GROUP BY mix, reserved alias
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select par.k, ( select count(*) from child ) as n from par group by par.k"))
    assert(e1.getMessage.contains("CTE"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](HashQL.parse(
      "select ( select count(*) from child ) as graft_x from par"))
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
  }

  test("rlike + regexp tier: match, extract, replace-all, split, split_part") {
    val cat = new GraftCatalog(spark)
    Seq("user#042", "user#7", "admin#9", "guest").foreach(v =>
      HashQL.execute(cat, s"insert into u (name) values ('$v')"))
    val matched = HashQL.execute(cat,
      "select u.name from u where u.name rlike '^user#[0-9]+'").get
    assert(matched.as[String].collect().sorted.toSeq == Seq("user#042", "user#7"))
    val notM = HashQL.execute(cat,
      "select u.name from u where u.name not rlike '#'").get
    assert(notM.as[String].collect().toSeq == Seq("guest"))
    val ex = HashQL.execute(cat,
      "select u.name, regexp_extract(u.name, '#0*([0-9]+)', 1) as num, " +
        "regexp_replace(u.name, '[0-9]', '*') as masked, " +
        "split_part(u.name, '#', 1) as role from u " +
        "where u.name rlike '#'").get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(ex.toSet == Set(
      ("user#042", "42", "user#***", "user"),
      ("user#7", "7", "user#*", "user"),
      ("admin#9", "9", "admin#*", "admin")))
    // split yields the array form (spec-only surface: arrays don't hash
    // through the parquet oracle compare)
    val parts = HashQL.execute(cat,
      "select split(u.name, '#') as parts from u where u.name = 'user#042'").get
    assert(parts.as[Seq[String]].collect().head == Seq("user", "042"))
    // patterns must be literals where Spark compiles them statically
    val e = intercept[IllegalArgumentException](HashQL.parse(
      "select regexp_extract(u.name, u.name, 1) as x from u"))
    assert(e.getMessage.contains("literal"), e.getMessage)
  }

  test("window frames: rows between bounds, first/last_value, ranking guard") {
    val cat = new GraftCatalog(spark)
    (1 to 6).foreach(v => HashQL.execute(cat,
      s"insert into w (g, v) values ('${if (v <= 3) "a" else "b"}', $v)"))
    val framed = HashQL.execute(cat,
      "select w.g, w.v, sum(w.v) over (partition by w.g order by w.v " +
        "rows between 1 preceding and 1 following) as s from w " +
        "order by w.g, w.v").get
    assert(framed.select("s").as[Long].collect().toSeq ==
      Seq(3L, 6L, 5L, 9L, 15L, 11L))
    val fl = HashQL.execute(cat,
      "select w.g, w.v, first_value(w.v) over (partition by w.g order by w.v) as fv, " +
        "last_value(w.v) over (partition by w.g order by w.v " +
        "rows between unbounded preceding and unbounded following) as lv " +
        "from w order by w.g, w.v").get
    assert(fl.select("fv", "lv").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 3L), (1L, 3L), (1L, 3L), (4L, 6L), (4L, 6L), (4L, 6L)))
    // empty frame rejected at parse
    val e1 = intercept[IllegalArgumentException](HashQL.parse(
      "select sum(w.v) over (order by w.v rows between 1 following and 1 preceding) as s from w"))
    assert(e1.getMessage.contains("frame is empty"), e1.getMessage)
    // the scale guard: an unpartitioned ranking window over FILE-BACKED
    // data with no WHERE/LIMIT rejects; a LocalRelation table is bounded
    // by construction and passes (the ntile spec above)
    cat.register("ord", graft.core.Tables.t(spark, sf, "orders"))
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select ord.o_orderkey, row_number() over (order by ord.o_orderkey) from ord"))
    assert(e2.getMessage.contains("ONE executor"), e2.getMessage)
    // LIMIT does NOT exempt (r11 verdict #1): the window sorts every row
    // BEFORE the limit applies — a limit-only query still rejects
    val e3 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select ord.o_orderkey, row_number() over (order by ord.o_orderkey) " +
        "from ord limit 10"))
    assert(e3.getMessage.contains("ONE executor"), e3.getMessage)
    HashQL.execute(cat, // WHERE-bounded passes (with or without LIMIT)
      "select ord.o_orderkey, row_number() over (order by ord.o_orderkey) " +
        "from ord where ord.o_orderkey <= 10 limit 5").get.count()
  }

  test("computed heads take IN / BETWEEN: desugared comparison trees") {
    val cat = new GraftCatalog(spark)
    Seq(10, 25, 37, 44).foreach(v =>
      HashQL.execute(cat, s"insert into t (v) values ($v)"))
    val in = HashQL.execute(cat,
      "select t.v from t where t.v % 10 in (5, 7)").get
    assert(in.as[Long].collect().sorted.toSeq == Seq(25L, 37L))
    val between = HashQL.execute(cat,
      "select t.v from t where t.v % 10 between 4 and 7").get
    assert(between.as[Long].collect().sorted.toSeq == Seq(25L, 37L, 44L))
    // `not (…)` negates the desugared tree
    val notIn = HashQL.execute(cat,
      "select t.v from t where not ( t.v % 10 in (5, 7) )").get
    assert(notIn.as[Long].collect().sorted.toSeq == Seq(10L, 44L))
  }

  test("string tier 3: instr/lpad/rpad values; boolean functions as bare predicates") {
    val cat = new GraftCatalog(spark)
    Seq("alpha#1", "beta", "alpha#2x").foreach(v =>
      HashQL.execute(cat, s"insert into s3 (v) values ('$v')"))
    val row = HashQL.execute(cat,
      "select instr(s3.v, '#') as pos, lpad(s3.v, 9, '*') as lp, " +
        "rpad(s3.v, 3, '_') as rp from s3 where s3.v = 'alpha#1'").get
      .collect().head
    assert(row.getLong(0) == 6L && row.getString(1) == "**alpha#1" &&
      row.getString(2) == "alp")
    // bare boolean predicates, NOT included
    val got = HashQL.execute(cat,
      "select s3.v from s3 where contains(s3.v, '#') " +
        "and starts_with(s3.v, 'alpha') and not ends_with(s3.v, 'x')").get
    assert(got.as[String].collect().toSeq == Seq("alpha#1"))
    // a boolean function still composes with an explicit comparison head
    val cmp = HashQL.execute(cat,
      "select s3.v from s3 where instr(s3.v, '#') > 0").get
    assert(cmp.as[String].collect().sorted.toSeq == Seq("alpha#1", "alpha#2x"))
  }

  test("GROUP BY expressions match projected aliases; date parts quarter/week/dayofyear") {
    val cat = new GraftCatalog(spark)
    Seq("2020-01-15", "2020-02-20", "2020-07-04").zipWithIndex.foreach {
      case (day, i) => HashQL.execute(cat,
        s"insert into ev (n, ts) values (${i + 1}, timestamp '$day')")
    }
    // the expression spelling lowers to the SAME plan as the alias form
    val byExpr = HashQL.execute(cat,
      "select quarter(ev.ts) as q, count(*) from ev group by quarter(ev.ts) " +
        "order by q").get.as[(Long, Long)].collect().toSeq
    assert(byExpr == Seq((1L, 2L), (3L, 1L)))
    // parts agree with the calendar
    val parts = HashQL.execute(cat,
      "select week(ev.ts) as w, dayofyear(ev.ts) as dy from ev " +
        "where ev.n = 3").get.collect().head
    assert(parts.getAs[Long]("dy") == 186L) // 2020 is a leap year
    assert(parts.getAs[Long]("w") == 27L)   // ISO week of 2020-07-04
    // the BARE spelling (round-12 — r11 missing #4): an unprojected
    // group-by expression auto-projects under a reserved key and the key
    // is STRIPPED from the output — count per quarter, no key column
    val bare = HashQL.execute(cat,
      "select count(*) from ev group by quarter(ev.ts)").get
    assert(bare.columns.toSeq == Seq("cnt"))
    assert(bare.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("UPDATE SET with a scalar-subquery RHS: pre-state, uncorrelated only (round-12)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into t (g, v) values ('a', 1), ('b', 5), ('c', 3)")
    // the scalar evaluates ONCE against the PRE-update state
    HashQL.execute(cat,
      "update t set t.v = ( select max(t.v) from t ) where t.g = 'a'")
    assert(cat.table("t").orderBy("id").select("v").as[Long].collect().toSeq ==
      Seq(5L, 5L, 3L))
    // composes with multi-assignment; other tables work too
    HashQL.execute(cat, "insert into bounds (lo) values (100)")
    HashQL.execute(cat,
      "update t set t.v = ( select min(bounds.lo) from bounds ), t.g = 'x' " +
        "where t.g = 'c'")
    assert(cat.table("t").filter(col("g") === "x")
      .select("v").as[Long].collect().toSeq == Seq(100L))
    // multi-row uncorrelated forms reject
    HashQL.execute(cat, "insert into bounds (lo) values (200)")
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "update t set t.v = ( select bounds.lo from bounds )"))
    assert(e2.getMessage.contains("exactly one row"), e2.getMessage)
  }

  test("correlated UPDATE decorrelates through the updated table (round-13)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into t (g, v) values ('a', 1), ('b', 5), ('c', 3)")
    HashQL.execute(cat,
      "insert into u (g, w) values ('a', 10), ('a', 40), ('b', 7)")
    // per-key aggregate lands on matching rows; a key with NO subquery
    // rows gets the ANSI empty-set value (max → NULL)
    HashQL.execute(cat,
      "update t set t.v = ( select max(u.w) from u where u.g = t.g )")
    val got = cat.table("t").orderBy("id").select("v").collect().map(_.get(0))
    assert(got.toSeq == Seq(40L, 7L, null))
    // count coalesces the miss to 0; WHERE pins the matched set; other
    // assignments in the same statement keep simultaneous semantics
    HashQL.execute(cat,
      "update t set t.v = ( select count(*) from u where u.g = t.g ), " +
        "t.g = 'seen' where t.g = 'c'")
    val c = cat.table("t").filter(col("g") === "seen")
      .select("v").as[Long].collect().toSeq
    assert(c == Seq(0L))
    // correlation through a table that is NOT the update target rejects
    HashQL.execute(cat, "insert into z (g, y) values ('a', 1)")
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "update t set t.v = ( select max(u.w) from u where u.g = z.g )"))
    assert(e.getMessage.contains("only through the updated table"),
      e.getMessage)
    // O(delta) hook: a count/sum agg view stays EXACT through a
    // registry-routed correlated UPDATE (fold or invalidate — either
    // way the answer must equal a from-facts recompute)
    val reg = new HashQL.JoinRegistry
    val dir = java.nio.file.Files.createTempDirectory("hashql_corrupd").toString
    val cat2 = new GraftCatalog(spark)
    HashQL.execute(cat2,
      "insert into f (g, v) values ('a', 1), ('a', 2), ('b', 3)")
    HashQL.execute(cat2, "insert into s (g, w) values ('a', 10), ('b', 20)")
    val name = HashQL.materializeAggView(cat2,
      "create agg view as select f.g, count(*), sum(f.v) from f group by f.g",
      s"$dir/view", Some(reg))
    try {
      HashQL.execute(cat2,
        "update f set f.v = ( select max(s.w) from s where s.g = f.g )",
        Some(reg))
      val q = "select f.g, count(*), sum(f.v) from f group by f.g"
      val got = HashQL.execute(cat2, q, Some(reg)).get
        .as[(String, Long, Long)].collect().toSet
      assert(got == Set(("a", 2L, 20L), ("b", 1L, 20L)))
      graft.matview.MatView.drop(spark, name)
      assert(HashQL.execute(cat2, q, Some(reg)).get
        .as[(String, Long, Long)].collect().toSet == got)
    } finally graft.matview.MatView.drop(spark, name)
  }

  test("EXPLAIN: formatted physical plan lines, never executes (round-12)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into t (g, v) values ('a', 1), ('b', 2)")
    val plan = HashQL.execute(cat,
      "explain select t.g, count(*) from t where t.v > 1 group by t.g").get
    val text = plan.as[String].collect().mkString("\n")
    assert(plan.columns.toSeq == Seq("plan_line"))
    assert(text.contains("HashAggregate") || text.contains("Aggregate"), text)
    // the filter over the LocalRelation constant-folds away — the plan
    // header and node list still render
    assert(text.contains("== Physical Plan ==") && plan.count() > 5, text)
  }

  test("INSERT ... SELECT: bulk append with stable synthesized ids (round-12)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into src (g, v) values ('a', 1), ('b', 2), ('c', 3)")
    // seed the target through a VALUES insert, then bulk-append
    HashQL.execute(cat, "insert into dst (g, v) values ('z', 99)")
    HashQL.execute(cat,
      "insert into dst ( g, v ) select src.g, src.v * 10 as v10 from src " +
        "where src.v >= 2")
    val rows = cat.table("dst").orderBy("id")
      .select("id", "g", "v").as[(Long, String, Long)].collect().toSeq
    assert(rows == Seq((1L, "z", 99L), (2L, "b", 20L), (3L, "c", 30L)))
    // ids are STABLE across evaluations (the delta materialized once)
    val again = cat.table("dst").orderBy("id")
      .select("id").as[Long].collect().toSeq
    assert(again == Seq(1L, 2L, 3L))
    // the counter continues after the bulk append
    HashQL.execute(cat, "insert into dst (g, v) values ('w', 7)")
    assert(cat.table("dst").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // bare form (no column list) keeps the select's names; schema unions
    HashQL.execute(cat,
      "insert into dst2 select src.g, length(src.g) as glen from src")
    assert(cat.table("dst2").columns.toSeq == Seq("id", "g", "glen"))
    assert(cat.table("dst2").count() == 3)
    // guards: projecting id, arity mismatch
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "insert into dst3 select src.id, src.g from src"))
    assert(e1.getMessage.contains("synthesizes id"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "insert into dst ( g ) select src.g, src.v from src"))
    assert(e2.getMessage.contains("column list"), e2.getMessage)
  }

  test("NULLS FIRST/LAST and median (round-12)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into t (g, v) values ('a', 1), ('b', 3), ('c', 2)")
    HashQL.execute(cat, "insert into t (g) values ('d')") // v NULL
    // explicit null placement overrides the pinned defaults
    val nf = HashQL.execute(cat,
      "select t.g from t order by t.v asc nulls first").get
    assert(nf.as[String].collect().toSeq == Seq("d", "a", "c", "b"))
    val nl = HashQL.execute(cat,
      "select t.g from t order by t.v desc nulls last").get
    assert(nl.as[String].collect().toSeq == Seq("b", "c", "a", "d"))
    // median: exact, interpolating even counts like DuckDB
    val med = HashQL.execute(cat,
      "select median(t.v) as m, count(*) as n from t").get.collect().head
    assert(med.getDouble(0) == 2.0)
    val med2 = HashQL.execute(cat,
      "select t.g, median(t.v) from t group by t.g order by t.g limit 1").get
      .collect().head
    assert(med2.getDouble(1) == 1.0)
  }

  test("FILTER clause, sum(distinct), EXTRACT sugar (round-12)") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 1), ("a", 1), ("a", 4), ("b", 2)).foreach { case (g, v) =>
      HashQL.execute(cat, s"insert into t (g, v) values ('$g', $v)") }
    // FILTER gates the aggregate to matching rows only
    val f = HashQL.execute(cat,
      "select t.g, count(*) filter ( where t.v > 1 ) as big, " +
        "sum(t.v) filter ( where t.v > 1 ) as big_sum, " +
        "count(*) as n from t group by t.g order by t.g").get
    assert(f.as[(String, Long, Long, Long)].collect().toSeq ==
      Seq(("a", 1L, 4L, 3L), ("b", 1L, 2L, 1L)))
    // sum(distinct) collapses duplicate values
    val sd = HashQL.execute(cat,
      "select t.g, sum(distinct t.v) as sd from t group by t.g order by t.g").get
    assert(sd.as[(String, Long)].collect().toSeq == Seq(("a", 5L), ("b", 2L)))
    // extract(part from x) = the date-part functions
    HashQL.execute(cat, "insert into ev (d) values (timestamp '2021-07-04')")
    val ex = HashQL.execute(cat,
      "select extract ( month from ev.d ) as m, " +
        "extract ( dayofyear from ev.d ) as dy from ev").get.collect().head
    assert(ex.getLong(0) == 7L && ex.getLong(1) == 185L)
    // guards: distinct on min/max (unaffected by it — round 13 admits
    // avg(distinct) as sum_distinct/count_distinct); unknown extract part
    val e1 = intercept[IllegalArgumentException](HashQL.parse(
      "select min(distinct t.v) as x from t"))
    assert(e1.getMessage.contains("DISTINCT"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](HashQL.parse(
      "select extract ( dow from ev.d ) as x from ev"))
    assert(e2.getMessage.contains("extract takes"), e2.getMessage)
  }

  test("string_agg / min_by / max_by / grouping() (round-12)") {
    val cat = new GraftCatalog(spark)
    Seq(("a", "z", 1), ("a", "m", 5), ("b", "q", 2)).foreach { case (g, s0, v) =>
      HashQL.execute(cat, s"insert into t (g, s, v) values ('$g', '$s0', $v)") }
    // string_agg sorts elements — deterministic under any partitioning
    val sa = HashQL.execute(cat,
      "select t.g, string_agg(t.s, ',') as names from t group by t.g " +
        "order by t.g").get
    assert(sa.as[(String, String)].collect().toSeq ==
      Seq(("a", "m,z"), ("b", "q")))
    // min_by/max_by: the value at the extremal key
    val ae = HashQL.execute(cat,
      "select t.g, max_by(t.s, t.v) as top, min_by(t.s, t.v) as bottom " +
        "from t group by t.g order by t.g").get
    assert(ae.as[(String, String, String)].collect().toSeq ==
      Seq(("a", "m", "z"), ("b", "q", "q")))
    // global (no GROUP BY) forms work too
    val g0 = HashQL.execute(cat,
      "select string_agg(t.g, '|') as gs, max_by(t.s, t.v) as top from t").get
      .collect().head
    assert(g0.getString(0) == "a|a|b" && g0.getString(1) == "m")
    // grouping() marks rollup subtotal rows; rejected without rollup
    val gr = HashQL.execute(cat,
      "select t.g, count(*), grouping(t.g) as is_total from t " +
        "group by rollup ( t.g ) order by is_total, t.g").get
    assert(gr.as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 0L), ("b", 1L, 0L), (null, 3L, 1L)))
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select t.g, count(*), grouping(t.g) as x from t group by t.g"))
    assert(e.getMessage.contains("ROLLUP"), e.getMessage)
  }

  test("simple CASE form and computed-head IN subqueries (round-12)") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 1), ("b", 2), ("c", 3), (null, 9)).foreach { case (g, v) =>
      val gv = if (g == null) "null" else s"'$g'"
      HashQL.execute(cat, s"insert into t (g, v) values ($gv, $v)") }
    // simple CASE desugars to searched =-comparisons; NULL head → ELSE
    val sc = HashQL.execute(cat,
      "select t.v, case t.g when 'a' then 10 when 'b' then 20 else 0 end " +
        "as c from t order by t.v").get
    assert(sc.select("c").as[Long].collect().toSeq == Seq(10L, 20L, 0L, 0L))
    // computed-head IN (select …): semi-join on the computed key
    HashQL.execute(cat, "insert into keys (k) values (2), (6)")
    val inSub = HashQL.execute(cat,
      "select t.v from t where t.v * 2 in ( select keys.k from keys )").get
    assert(inSub.as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // NOT and OR compositions keep the flag/anti semantics
    val notIn = HashQL.execute(cat,
      "select t.v from t where not ( t.v * 2 in ( select keys.k from keys ) ) " +
        "and t.v < 9").get
    assert(notIn.as[Long].collect().toSeq == Seq(2L))
    val orIn = HashQL.execute(cat,
      "select t.v from t where t.v * 2 in ( select keys.k from keys ) " +
        "or t.v = 9").get
    assert(orIn.as[Long].collect().sorted.toSeq == Seq(1L, 3L, 9L))
  }

  test("ROLLUP/CUBE grouping: subtotal rows with NULL keys (round-12)") {
    val cat = new GraftCatalog(spark)
    Seq(("a", "x", 1), ("a", "y", 2), ("b", "x", 4)).foreach { case (g, h, v) =>
      HashQL.execute(cat, s"insert into t (g, h, v) values ('$g', '$h', $v)") }
    // rollup: (g,h) leaves + per-g subtotals + grand total
    val ru = HashQL.execute(cat,
      "select t.g, t.h, sum(t.v) from t group by rollup ( t.g, t.h ) " +
        "order by t.g, t.h").get
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2))).toSeq
    assert(ru.toSet == Set(
      (Some("a"), Some("x"), 1L), (Some("a"), Some("y"), 2L),
      (Some("a"), None, 3L), (Some("b"), Some("x"), 4L),
      (Some("b"), None, 4L), (None, None, 7L)))
    // cube adds the per-h slice
    val cu = HashQL.execute(cat,
      "select t.g, t.h, sum(t.v) from t group by cube ( t.g, t.h )").get
    assert(cu.count() == 8) // 3 leaves + 2 g-subtotals + 2 h-subtotals + grand
    // HAVING composes over the expanded frame
    val hv = HashQL.execute(cat,
      "select t.g, t.h, sum(t.v) from t group by rollup ( t.g, t.h ) " +
        "having sum(t.v) >= 4").get
    assert(hv.count() == 3) // (b,x,4), (b,null,4), (null,null,7)
  }

  test("derived tables: FROM/JOIN subqueries bind like CTEs (round-12)") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 1), ("a", 2), ("b", 10), ("b", 30), ("c", 5)).foreach {
      case (g, v) => HashQL.execute(cat, s"insert into t (g, v) values ('$g', $v)") }
    // FROM subquery: aggregate-then-filter without a CTE
    val d1 = HashQL.execute(cat,
      "select d.g, d.sum_v from ( select t.g, sum(t.v) from t group by t.g ) d " +
        "where d.sum_v >= 10 order by d.g").get
    assert(d1.as[(String, Long)].collect().toSeq == Seq(("b", 40L)))
    // JOIN against a derived table
    val d2 = HashQL.execute(cat,
      "select t.g, t.v, d.sum_v from t " +
        "inner join ( select t.g, sum(t.v) from t group by t.g ) d on t.g = d.g " +
        "where t.v = d.sum_v").get
    assert(d2.as[(String, Long, Long)].collect().toSeq == Seq(("c", 5L, 5L)))
    // two derived tables join each other; second-level aggregation
    val d3 = HashQL.execute(cat,
      "select count(*) as n from " +
        "( select t.g, sum(t.v) from t group by t.g ) x " +
        "inner join ( select t.g, count(*) from t group by t.g ) y on x.g = y.g " +
        "where x.sum_v > y.cnt").get
    assert(d3.as[Long].collect().toSeq == Seq(3L))
    // a derived table may be ALIASED downstream? names are bindings —
    // duplicates and shadows reject
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select x.g from ( select t.g from t ) x " +
        "inner join ( select t.g from t ) x on x.g = x.g"))
    assert(e1.getMessage.contains("duplicate derived-table name"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select t.g from ( select t.g from t ) t"))
    assert(e2.getMessage.contains("shadows"), e2.getMessage)
    // the name is REQUIRED
    val e3 = intercept[IllegalArgumentException](HashQL.parse(
      "select g from ( select t.g from t )"))
    assert(e3.getMessage.contains("needs a name"), e3.getMessage)
  }

  test("RANGE interval window frames: trailing-days sums over a temporal key (round-12)") {
    val cat = new GraftCatalog(spark)
    Seq(("2021-01-01", 1), ("2021-01-05", 2), ("2021-01-08", 4),
        ("2021-01-20", 8)).foreach { case (d, v) =>
      HashQL.execute(cat, s"insert into w (d, v) values (timestamp '$d', $v)") }
    // trailing 7 days, current day included; 01-08 reaches back exactly
    // 7 days to 01-01 (inclusive bound, both engines)
    val sums = HashQL.execute(cat,
      "select w.v, sum(w.v) over (order by w.d " +
        "range between interval '7' day preceding and current row) as s7 " +
        "from w order by w.d").get
    assert(sums.select("s7").as[Long].collect().toSeq == Seq(1L, 3L, 7L, 8L))
    // week normalizes to days; unbounded bound composes
    val wk = HashQL.execute(cat,
      "select sum(w.v) over (order by w.d " +
        "range between interval '1' week preceding and current row) as s " +
        "from w order by w.d").get
    assert(wk.select("s").as[Long].collect().toSeq == Seq(1L, 3L, 7L, 8L))
    // guards: DESC key and unknown units reject (hour/minute/second
    // joined the unit set in round 13 — see the epoch-seconds test)
    val e1 = intercept[IllegalArgumentException](HashQL.parse(
      "select sum(w.v) over (order by w.d desc " +
        "range between interval '7' day preceding and current row) as s from w"))
    assert(e1.getMessage.contains("ASCENDING"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](HashQL.parse(
      "select sum(w.v) over (order by w.d " +
        "range between interval '2' month preceding and current row) as s from w"))
    assert(e2.getMessage.contains("day|week|hour"), e2.getMessage)
  }

  test("table aliases: self-joins, grouped keys, correlated subqueries (round-12)") {
    val cat = new GraftCatalog(spark)
    Seq((1, 1, 10), (1, 2, 20), (2, 1, 10), (3, 1, 30), (3, 2, 30)).foreach {
      case (o, l, s) =>
        HashQL.execute(cat, s"insert into li (ord, ln, sup) values ($o, $l, $s)") }
    // self-join: line pairs within one order — output names RESTORED
    // (l1.ord projects as `ord`, not the reserved rename)
    val pairs = HashQL.execute(cat,
      "select l1.ord, l1.ln, l2.ln as ln2 from li l1 " +
        "inner join li l2 on l1.ord = l2.ord where l1.ln < l2.ln").get
    assert(pairs.columns.toSeq == Seq("ord", "ln", "ln2"))
    assert(pairs.as[(Long, Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 1L, 2L), (3L, 1L, 2L)))
    // the plan is ONE equi-join — no cartesian/nested loop
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
    // grouped self-join: aliased grouping key restores its output name
    val multi = HashQL.execute(cat,
      "select l1.ord, count(*) from li l1 inner join li l2 on l1.ord = l2.ord " +
        "where l1.sup <> l2.sup group by l1.ord").get
    assert(multi.columns.toSeq == Seq("ord", "cnt"))
    assert(multi.as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
    // aliased EXISTS correlation with a cross inequality — the Q21
    // scaffolding: lines whose order has another line from a DIFFERENT
    // supplier
    val q21ish = HashQL.execute(cat,
      "select l1.ord, l1.ln from li l1 where exists " +
        "( select l2.ord from li l2 where l2.ord = l1.ord and l2.sup <> l1.sup )").get
    assert(q21ish.as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 1L), (1L, 2L)))
    // window + ORDER BY address the restored names
    val win = HashQL.execute(cat,
      "select l1.ord, l1.ln, row_number() over (partition by l1.ord " +
        "order by l1.ln desc) as rn from li l1 order by l1.ord, rn").get
    assert(win.columns.toSeq == Seq("ord", "ln", "rn"))
    assert(win.select("ln").as[Long].collect().take(2).toSeq == Seq(2L, 1L))
    // `*` with aliases expands qualified (round-13 lifted the reject);
    // guards: alias shadowing a table, duplicate alias
    val starred = HashQL.execute(cat,
      "select * from li l1 inner join li l2 on l1.ord = l2.ord").get
    assert(starred.columns.forall(c =>
      c.startsWith("l1_") || c.startsWith("l2_")), starred.columns.toSeq)
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select li.ord from li li"))
    assert(e2.getMessage.contains("shadows"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select x.ord from li x inner join li x on x.ord = x.ord"))
    assert(e3.getMessage.contains("duplicate table alias"), e3.getMessage)
  }

  test("HAVING/QUALIFY expression RHS; HAVING over unprojected aggregates (round-12)") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 1), ("a", 2), ("a", 3), ("b", 10), ("b", 30)).foreach {
      case (g, v) => HashQL.execute(cat, s"insert into t (g, v) values ('$g', $v)") }
    // RHS expression over output columns: sum > cnt * 4 — a: 6 > 12 no,
    // b: 40 > 8 yes
    val he = HashQL.execute(cat,
      "select t.g, count(*), sum(t.v) from t group by t.g " +
        "having sum(t.v) > cnt * 4").get
    assert(he.select("g").as[String].collect().toSeq == Seq("b"))
    // HAVING over an aggregate the select list does NOT project: the
    // call joins the same agg pass and DROPS after the filter
    val hu = HashQL.execute(cat,
      "select t.g, count(*) from t group by t.g having sum(t.v) >= 40").get
    assert(hu.columns.toSeq == Seq("g", "cnt"))
    assert(hu.as[(String, Long)].collect().toSeq == Seq(("b", 2L)))
    // … also when the select list has NO aggregates at all (the TPC-H
    // Q18 inner shape: `select key … group by key having sum(q) > 300`)
    val keysOnly = HashQL.execute(cat,
      "select t.g from t group by t.g having sum(t.v) >= 40").get
    assert(keysOnly.columns.toSeq == Seq("g"))
    assert(keysOnly.as[String].collect().toSeq == Seq("b"))
    // … which makes it a 1-column IN subquery
    val inSub = HashQL.execute(cat,
      "select t.g, t.v from t where t.g in " +
        "( select t.g from t group by t.g having sum(t.v) >= 40 )").get
    assert(inSub.as[(String, Long)].collect().map(_._2).sorted.toSeq == Seq(10L, 30L))
    // QUALIFY expression RHS
    val qe = HashQL.execute(cat,
      "select t.g, t.v, row_number() over (partition by t.g order by t.v desc) as rn, " +
        "count(*) over (partition by t.g) as n from t qualify rn <= n - 1").get
    assert(qe.select("v").as[Long].collect().sorted.toSeq == Seq(2L, 3L, 30L))
  }

  test("multi-column UPDATE SET: simultaneous semantics, duplicate targets reject") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into t (a, b) values (1, 2)")
    HashQL.execute(cat, "insert into t (a, b) values (10, 20)")
    // every RHS reads the BEFORE image: a/b swap, not cascade
    HashQL.execute(cat, "update t set t.a = t.b, t.b = t.a where t.a = 1")
    val rows = cat.table("t").orderBy("id")
      .select("a", "b").as[(Long, Long)].collect().toSeq
    assert(rows == Seq((2L, 1L), (10L, 20L)))
    // mixed shapes in one statement (arith + expression)
    HashQL.execute(cat,
      "update t set t.a = t.a + 100, t.b = t.a * 2 where t.b = 20")
    val rows2 = cat.table("t").orderBy("id")
      .select("a", "b").as[(Long, Long)].collect().toSeq
    assert(rows2 == Seq((2L, 1L), (110L, 20L)))
    val e = intercept[IllegalArgumentException](HashQL.parse(
      "update t set t.a = 1, t.a = 2"))
    assert(e.getMessage.contains("duplicate"), e.getMessage)
  }

  test("QUALIFY: post-window top-k filter; window-less qualify rejects") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9), ("b", 8)).foreach { case (g, v) =>
      HashQL.execute(cat, s"insert into t (g, v) values ('$g', $v)") }
    val top = HashQL.execute(cat,
      "select t.g, t.v, row_number() over (partition by t.g " +
        "order by t.v desc) as rn from t qualify rn <= 2 order by t.g, rn").get
      .select("g", "v").as[(String, Long)].collect().toSeq
    assert(top == Seq(("a", 3L), ("a", 2L), ("b", 9L), ("b", 8L)))
    // composes with window-count: groups smaller than 3 only
    val small = HashQL.execute(cat,
      "select t.g, count(*) over (partition by t.g) as wcnt from t " +
        "qualify wcnt < 3").get.select("g").as[String].collect().toSet
    assert(small == Set("b"))
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select t.g from t qualify g = 'a'"))
    assert(e.getMessage.contains("no window"), e.getMessage)
  }

  test("order by expressions: grammar over output columns, stable under limit") {
    val cat = new GraftCatalog(spark)
    Seq(("aa", 2), ("b", 10), ("ccc", 1), ("dd", 5)).foreach { case (n, v) =>
      HashQL.execute(cat, s"insert into t (name, v) values ('$n', $v)") }
    val byLen = HashQL.execute(cat,
      "select t.name from t order by length(t.name) desc, t.name").get
    assert(byLen.as[String].collect().toSeq == Seq("ccc", "aa", "dd", "b"))
    val byExpr = HashQL.execute(cat,
      "select t.name, t.v from t order by t.v % 4, t.v limit 3").get
    // v%4 → ccc:1, dd:1, aa:2, b:2; ties break on v
    assert(byExpr.select("name").as[String].collect().toSeq ==
      Seq("ccc", "dd", "aa"))
  }

  test("avg(distinct) lowers as sum_distinct/count_distinct; HAVING/QUALIFY <> (round-13)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into t (g, v) values ('a', 2), ('a', 2), ('a', 4), ('b', 6), ('b', 9)")
    val ad = HashQL.execute(cat,
      "select t.g, avg(distinct t.v) as adv from t group by t.g order by t.g").get
    assert(ad.select("adv").as[Double].collect().toSeq == Seq(3.0, 7.5))
    // HAVING <>: three-valued inequality over the aggregated frame
    val ne = HashQL.execute(cat,
      "select t.g, count(*) from t group by t.g having count(*) <> 3").get
    assert(ne.select("g").as[String].collect().toSeq == Seq("b"))
    // QUALIFY <> composes the same way over window outputs
    val q = HashQL.execute(cat,
      "select t.g, t.v, row_number() over (partition by t.g " +
        "order by t.v, t.id) as rn from t qualify rn <> 1 order by t.g, rn").get
    assert(q.count() == 3)
  }

  test("scalar-subquery projected values must bind to the subquery's tables (r12 advice)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into t (g, v) values ('a', 1), ('b', 5)")
    HashQL.execute(cat, "insert into u (g, b) values ('a', 100)")
    // an outer qualifier inside the aggregate would silently bind to the
    // INNER frame's same-named column — reject instead
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select t.g from t where t.v < ( select sum(t.v) from u where u.g = t.g )"))
    assert(e1.getMessage.contains("projected value references outer"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select t.g, ( select max(t.v) from u ) as m from t"))
    assert(e2.getMessage.contains("projected value references outer"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "update t set t.v = ( select max(t.v) from u )"))
    assert(e3.getMessage.contains("projects outer"), e3.getMessage)
  }

  test("uncorrelated EXISTS is lazy: EXPLAIN never runs the probe (r12 advice)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into t (v) values (1), (2)")
    val boomUdf = org.apache.spark.sql.functions.udf((x: Long) => {
      if (x >= 0) throw new RuntimeException("boom"); x })
    cat.register("boom",
      spark.range(1).toDF("x").select(boomUdf(col("x")).as("x")))
    // the old limit(1).count() gate would have thrown "boom" here
    val plan = HashQL.execute(cat,
      "explain select t.v from t where exists ( select boom.x from boom )").get
    assert(plan.count() > 0)
    // execution still gates all-or-nothing, flag form included
    HashQL.execute(cat, "insert into probe (x) values (7)")
    assert(HashQL.execute(cat,
      "select t.v from t where exists ( select probe.x from probe )")
      .get.count() == 2)
    assert(HashQL.execute(cat,
      "select t.v from t where not exists ( select probe.x from probe " +
        "where probe.x = 8 )").get.count() == 2)
    assert(HashQL.execute(cat,
      "select t.v from t where exists ( select probe.x from probe " +
        "where probe.x = 8 )").get.count() == 0)
    assert(HashQL.execute(cat,
      "select t.v from t where t.v = 2 or exists ( select probe.x from " +
        "probe where probe.x = 8 )").get.count() == 1)
  }

  test("RANGE interval frames reject first/last_value (r12 advice)") {
    val e = intercept[IllegalArgumentException](HashQL.parse(
      "select first_value(t.v) over (order by t.d " +
        "range between interval '7' day preceding and current row) as fv from t"))
    assert(e.getMessage.contains("nondeterministic"), e.getMessage)
  }

  test("first/last_value(x, tb) under RANGE frames: deterministic pick (round-14)") {
    val cat = new GraftCatalog(spark)
    // two rows TIE on the date key — the tiebreak pins which is first
    HashQL.execute(cat,
      "insert into fl (d, k, v) values ('2020-01-01', 1, 10), " +
        "('2020-01-01', 2, 20), ('2020-01-03', 3, 30), ('2020-01-08', 4, 40)")
    val got = HashQL.execute(cat,
      "select fl.k, first_value(fl.v, fl.k) over (order by fl.d " +
        "range between interval '2' day preceding and current row) as fv, " +
        "last_value(fl.v, fl.k) over (order by fl.d " +
        "range between interval '2' day preceding and current row) as lv " +
        "from fl order by fl.k").get
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 10L, 20L), (2L, 10L, 20L), (3L, 10L, 30L),
      (4L, 40L, 40L)))
    // under a table alias the tiebreak renames with the rest of the
    // window — alone, and joined to a table with its own `k`
    HashQL.execute(cat, "insert into m (j, k) values (1, 9), (2, 1), (3, 5), (4, 6)")
    Seq("from fl a", "from fl a inner join m on m.j = a.k").foreach { src =>
      val aliased = HashQL.execute(cat,
        "select a.k, first_value(a.v, a.k) over (order by a.d " +
          s"range between interval '2' day preceding and current row) as fv $src").get
        .as[(Long, Long)].collect().sorted.toSeq
      assert(aliased == Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 40L)), src)
    }
    // the tiebreak form is RANGE-frame-only
    val e = intercept[IllegalArgumentException](HashQL.parse(
      "select first_value(t.v, t.k) over (order by t.d) as fv from t"))
    assert(e.getMessage.contains("RANGE"), e.getMessage)
  }

  test("RIGHT JOIN and non-equality ON conjuncts (round-13)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into dep (dk, dn) values (1, 'eng'), (2, 'ops'), (3, 'hr')")
    HashQL.execute(cat,
      "insert into emp (ek, dk2, sal) values (10, 1, 100), (11, 1, 40), (12, 2, 70)")
    // RIGHT keeps unmatched fresh-side rows (hr has no employees)
    val rj = HashQL.execute(cat,
      "select dep.dn, emp.sal from emp right join dep on emp.dk2 = dep.dk " +
        "order by dep.dn, emp.sal").get.collect()
    assert(rj.map(r => (r.getString(0), r.get(1))).toSeq ==
      Seq(("eng", 40L), ("eng", 100L), ("hr", null), ("ops", 70L)))
    // a non-equality ON conjunct decides MATCHING: eng keeps only its
    // >50 match, hr stays null-extended — the WHERE spelling drops hr
    val onForm = HashQL.execute(cat,
      "select dep.dn, emp.sal from dep left join emp " +
        "on dep.dk = emp.dk2 and emp.sal > 50 order by dep.dn").get
    assert(onForm.collect().map(r => (r.getString(0), r.get(1))).toSeq ==
      Seq(("eng", 100L), ("hr", null), ("ops", 70L)))
    val whereForm = HashQL.execute(cat,
      "select dep.dn, emp.sal from dep left join emp on dep.dk = emp.dk2 " +
        "where emp.sal > 50 order by dep.dn").get.collect()
    assert(whereForm.map(_.getString(0)).toSeq == Seq("eng", "ops"))
    // the equality pair stays the hash-join key — never a nested loop
    assert(!onForm.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoop"))
    // <> and literal-RHS forms ride the same condition
    val ne = HashQL.execute(cat,
      "select dep.dn, emp.ek from dep inner join emp " +
        "on dep.dk = emp.dk2 and emp.ek <> 11 order by emp.ek").get
    assert(ne.select("ek").as[Long].collect().toSeq == Seq(10L, 12L))
    val litRhs = HashQL.execute(cat,
      "select dep.dn, emp.sal from dep left join emp " +
        "on dep.dk = emp.dk2 and emp.sal >= 100 order by dep.dn").get.collect()
    assert(litRhs.map(r => (r.getString(0), r.get(1))).toSeq ==
      Seq(("eng", 100L), ("hr", null), ("ops", null)))
    // cross-frame column-column range in ON, both spellings (the flipped
    // parse normalizes the operator)
    HashQL.execute(cat, "insert into b1 (k, lo) values (1, 50), (2, 80)")
    HashQL.execute(cat, "insert into b2 (k2, v) values (1, 60), (1, 40), (2, 75)")
    Seq("on b1.k = b2.k2 and b2.v > b1.lo",
        "on b1.k = b2.k2 and b1.lo < b2.v").foreach { on =>
      val cc = HashQL.execute(cat,
        s"select b1.k, b2.v from b1 left join b2 $on order by b1.k").get
        .collect()
      assert(cc.map(r => (r.getLong(0), r.get(1))).toSeq ==
        Seq((1L, 60L), (2L, null)), on)
    }
    // a same-side column pair in ON rejects toward WHERE
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select b1.k from b1 inner join b2 on b1.k = b2.k2 and b2.v > b2.k2"))
    assert(e.getMessage.contains("accumulated side"), e.getMessage)
  }

  test("select * expands under table aliases with qualified names (round-13)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into t (g, v) values ('a', 1), ('a', 2), ('b', 3)")
    val st = HashQL.execute(cat,
      "select * from t t1 inner join t t2 on t1.g = t2.g " +
        "where t1.v < t2.v").get
    assert(st.columns.toSeq ==
      Seq("t1_id", "t1_g", "t1_v", "t2_id", "t2_g", "t2_v"))
    assert(st.count() == 1)
    // mixed star: a plain source keeps bare names alongside an alias
    HashQL.execute(cat, "insert into u (g2, w) values ('a', 9)")
    val mixed = HashQL.execute(cat,
      "select * from u inner join t t1 on u.g2 = t1.g").get
    assert(mixed.columns.toSeq == Seq("id", "g2", "w", "t1_id", "t1_g", "t1_v"))
    assert(mixed.count() == 2)
    // two PLAIN sources still collide on id — the expansion says so
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select * from u inner join t t1 on u.g2 = t1.g " +
        "inner join u on t1.g = u.g2"))
    assert(e.getMessage.contains("alias every source") ||
      e.getMessage.contains("duplicate"), e.getMessage)
  }

  test("windows over grouped selects: aggregate → HAVING → window → QUALIFY (round-13)") {
    val cat = new GraftCatalog(spark)
    Seq(("eng", 10), ("eng", 30), ("ops", 25), ("hr", 5), ("hr", 2), ("mkt", 50))
      .foreach { case (g, v) =>
        HashQL.execute(cat, s"insert into t (g, v) values ('$g', $v)") }
    // rank the groups by their sum — the OVER clause spells the agg
    val ranked = HashQL.execute(cat,
      "select t.g, sum(t.v), rank() over (order by sum(t.v) desc) as r " +
        "from t group by t.g order by r").get
    assert(ranked.select("g", "r").as[(String, Long)].collect().toSeq
      .map { case (g, r) => (g, r.toInt) } ==
      Seq(("mkt", 1), ("eng", 2), ("ops", 3), ("hr", 4)))
    // an UNPROJECTED dep joins the agg pass and drops after the window
    val bare = HashQL.execute(cat,
      "select t.g, rank() over (order by sum(t.v) desc) as r " +
        "from t group by t.g order by r").get
    assert(bare.columns.toSeq == Seq("g", "r"))
    assert(bare.select("g").as[String].collect().toSeq ==
      Seq("mkt", "eng", "ops", "hr"))
    // HAVING shrinks the frame BEFORE ranks compute: hr never occupies
    // a rank; QUALIFY then filters the ranked output
    val hq = HashQL.execute(cat,
      "select t.g, sum(t.v) as s, rank() over (order by s desc) as r " +
        "from t group by t.g having s > 10 qualify r <= 2 order by r").get
    assert(hq.select("g", "r").as[(String, Int)].collect().toSeq ==
      Seq(("mkt", 1), ("eng", 2)))
    // an aggregate call inside OVER without GROUP BY rejects
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select t.v, rank() over (order by sum(t.v) desc) as r from t"))
    assert(e.getMessage.contains("needs GROUP BY"), e.getMessage)
    // lag over the grouped frame reads the aggregate ALIAS — the
    // period-over-period idiom (NULL at the frame edge)
    val pop = HashQL.execute(cat,
      "select t.g, sum(t.v) as s, lag(s) over (order by t.g) as prev " +
        "from t group by t.g order by t.g").get.collect()
    // groups in g order: eng(40), hr(7), mkt(50), ops(25)
    assert(pop.map(_.get(2)).toSeq == Seq(null, 40L, 7L, 50L))
  }

  test("GROUPING SETS: the general subtotal form (round-13)") {
    val cat = new GraftCatalog(spark)
    Seq(("us", "a", 1), ("us", "b", 2), ("eu", "a", 4), ("eu", "a", 8))
      .foreach { case (r, p, v) =>
        HashQL.execute(cat, s"insert into t (r, p, v) values ('$r', '$p', $v)") }
    val gsets = HashQL.execute(cat,
      "select t.r, t.p, sum(t.v) as s from t " +
        "group by grouping sets ( (t.r, t.p), (t.r), () ) " +
        "order by t.r nulls first, t.p nulls first").get
    val rows = gsets.collect().map(x => (x.get(0), x.get(1), x.getLong(2))).toSeq
    assert(rows == Seq(
      (null, null, 15L),            // () grand total
      ("eu", null, 12L), ("eu", "a", 12L),
      ("us", null, 3L), ("us", "a", 1L), ("us", "b", 2L)))
    // grouping() distinguishes subtotal NULLs from data NULLs here too
    val marked = HashQL.execute(cat,
      "select t.r, count(*), grouping(t.p) as gp from t " +
        "group by grouping sets ( (t.r, t.p), (t.r) ) " +
        "order by t.r, gp").get
    assert(marked.select("gp").as[Long].collect().toSeq ==
      Seq(0L, 1L, 0L, 0L, 1L))
    // duplicate sets reject
    val e = intercept[IllegalArgumentException](HashQL.parse(
      "select t.r, count(*) from t group by grouping sets ( (t.r), (t.r) )"))
    assert(e.getMessage.contains("duplicate grouping sets"), e.getMessage)
  }

  test("hour/minute RANGE frames ride epoch seconds (round-13)") {
    val cat = new GraftCatalog(spark)
    Seq("2021-01-01 00:00:00", "2021-01-01 05:00:00", "2021-01-01 06:30:00",
      "2021-01-01 13:00:00").zipWithIndex.foreach { case (ts, i) =>
      HashQL.execute(cat,
        s"insert into ev (ts, v) values (timestamp '$ts', ${i + 1})") }
    // trailing 6 hours, inclusive: 00:00→1; 05:00→1+2; 06:30→2+3
    // (00:00 is 6.5h back); 13:00→4 alone
    val w6 = HashQL.execute(cat,
      "select ev.v, sum(ev.v) over (order by ev.ts range between " +
        "interval '6' hour preceding and current row) as s6 from ev " +
        "order by ev.ts").get
    assert(w6.select("s6").as[Long].collect().toSeq == Seq(1L, 3L, 5L, 4L))
    // minutes work; mixing a day bound scales it into the seconds frame
    val mixed = HashQL.execute(cat,
      "select ev.v, sum(ev.v) over (order by ev.ts range between " +
        "interval '1' day preceding and interval '30' minute following) " +
        "as sm from ev order by ev.ts").get
    assert(mixed.select("sm").as[Long].collect().toSeq ==
      Seq(1L, 3L, 6L, 10L))
    // day-only frames keep their whole-day (date-truncated) semantics
    val day = HashQL.execute(cat,
      "select ev.v, sum(ev.v) over (order by ev.ts range between " +
        "interval '1' day preceding and current row) as sd from ev " +
        "order by ev.ts").get
    assert(day.select("sd").as[Long].collect().toSeq ==
      Seq(10L, 10L, 10L, 10L))
  }

  test("window keys as expressions: partition by year(t.d) (round-13)") {
    val cat = new GraftCatalog(spark)
    Seq(("2020-02-01", 1), ("2020-07-01", 2), ("2021-03-01", 3),
      ("2021-04-01", 4)).foreach { case (d0, v) =>
      HashQL.execute(cat,
        s"insert into ev (d, v) values (timestamp '$d0', $v)") }
    val rn = HashQL.execute(cat,
      "select ev.v, row_number() over (partition by year(ev.d) " +
        "order by ev.v desc) as rn from ev order by ev.v").get
    assert(rn.select("rn").as[Int].collect().toSeq == Seq(2, 1, 2, 1))
    assert(rn.columns.toSeq == Seq("v", "rn")) // reserved key shed
    // grouped selects accept expression window keys only as functions
    // of the grouping keys (round-14) — over a non-key column the
    // reject still fires with the fix-it
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select count(*), rank() over (order by year(ev.d)) as r " +
        "from ev group by ev.v"))
    assert(e.getMessage.contains("not a grouping key"), e.getMessage)
  }

  test("comma joins: ANSI-89 FROM lists, cartesian guard (round-13)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into c (ck, seg) values (1, 'B'), (2, 'A')")
    HashQL.execute(cat,
      "insert into o (ok, ck2, pri) values (10, 1, 'H'), (11, 1, 'L'), (12, 2, 'H')")
    val j = HashQL.execute(cat,
      "select c.seg, o.ok from c, o where c.ck = o.ck2 and o.pri = 'H' " +
        "order by o.ok").get
    assert(j.as[(String, Long)].collect().toSeq ==
      Seq(("B", 10L), ("A", 12L)))
    // the equality folded into the join condition — the physical plan is
    // a hash join, not a cartesian pair scan (the plan Spark makes, as
    // these driver-held tables would otherwise fold away)
    val ep = LocalFold.unfolded(j).executedPlan.toString
    assert(!ep.contains("CartesianProduct") &&
      (ep.contains("HashJoin") || ep.contains("SortMergeJoin")), ep)
    // aliases compose (comma self-join)
    val sj = HashQL.execute(cat,
      "select o1.ok, o2.ok as ok2 from o o1, o o2 " +
        "where o1.ck2 = o2.ck2 and o1.ok < o2.ok").get
    assert(sj.as[(Long, Long)].collect().toSeq == Seq((10L, 11L)))
    // a missing link predicate rejects instead of planning |A|x|B|
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select c.seg, o.ok from c, o where o.pri = 'H'"))
    assert(e.getMessage.contains("cartesian"), e.getMessage)
    // an uncorrelated scalar subquery's own 1-row broadcast cross join
    // must NOT trip the guard (maxRows proves the side is a scalar)
    val withScalar = HashQL.execute(cat,
      "select c.seg, o.ok from c, o where c.ck = o.ck2 " +
        "and o.ok > ( select min(o.ok) from o )").get
    assert(withScalar.count() == 2)
  }

  test("scalar tier 4: datediff / last_day / sqrt / greatest / least (round-13)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into t (a, b, x) values (3, 12, 16)")
    val row = HashQL.execute(cat,
      "select datediff(date '2021-03-01', date '2021-02-27') as dd, " +
        "last_day(date '2021-02-03') as ld, sqrt(t.x) as sq, " +
        "greatest(t.a, t.b, 7) as g, least(t.a, t.b, 7) as l from t").get
      .collect().head
    assert(row.getLong(0) == 2L)
    assert(row.getDate(1).toString == "2021-02-28")
    assert(row.getDouble(2) == 4.0)
    assert(row.getLong(3) == 12L && row.getLong(4) == 3L)
  }

  test("ILIKE, ordinal GROUP/ORDER keys, DROP TABLE (round-13)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into t (nm, v) values ('Alpha', 1), ('ALPINE', 2), ('beta', 3)")
    // case-insensitive LIKE, three-valued under NOT
    val il = HashQL.execute(cat,
      "select t.nm from t where t.nm ilike 'al%'").get
    assert(il.as[String].collect().toSet == Set("Alpha", "ALPINE"))
    val nil0 = HashQL.execute(cat,
      "select t.nm from t where t.nm not ilike 'al%'").get
    assert(nil0.as[String].collect().toSeq == Seq("beta"))
    // ordinals: group by 1 binds to the first output, order by 2 to the
    // second
    val ord = HashQL.execute(cat,
      "select upper(t.nm) as u, count(*) from t group by 1 order by 2 desc, 1").get
    assert(ord.columns.toSeq == Seq("u", "cnt"))
    assert(ord.select("u").as[String].collect().length == 3)
    val e1 = intercept[IllegalArgumentException](HashQL.parse(
      "select t.nm from t group by 5"))
    assert(e1.getMessage.contains("out of range"), e1.getMessage)
    // drop table: registration + history + counter go; if-exists guards
    HashQL.execute(cat, "drop table t")
    assert(!cat.exists("t"))
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "drop table t"))
    assert(e2.getMessage.contains("no such table"), e2.getMessage)
    HashQL.execute(cat, "drop table if exists t") // no-op, no throw
    // a fresh insert restarts ids at 1 (counter dropped with the table)
    HashQL.execute(cat, "insert into t (nm) values ('x')")
    assert(cat.table("t").select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("ranking-guard fix-it names WHERE only (r12 verdict: LIMIT cannot help)") {
    val cat = new GraftCatalog(spark)
    cat.register("ord13", graft.core.Tables.t(spark, sf, "orders"))
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select ord13.o_orderkey, row_number() over " +
        "(order by ord13.o_orderkey) from ord13"))
    assert(e.getMessage.contains("LIMIT cannot help"), e.getMessage)
    assert(!e.getMessage.contains("WHERE/LIMIT"), e.getMessage)
  }

  test("scalar tier 5: trims/reverse/repeat/left/right/strpos/translate/ascii/md5/sign/power (round-13)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into s5 (txt, n) values ('  pad  ', -7)")
    val got = HashQL.execute(cat,
      "select ltrim(s5.txt) as lt, rtrim(s5.txt) as rt, " +
        "reverse(trim(s5.txt)) as rev, repeat(trim(s5.txt), 2) as rep, " +
        "left(trim(s5.txt), 2) as l2, right(trim(s5.txt), 2) as r2, " +
        "left(trim(s5.txt), 9) as lall, right(trim(s5.txt), 9) as rall, " +
        "left(trim(s5.txt), 0) as l0, right(trim(s5.txt), 0) as r0, " +
        "strpos(s5.txt, 'ad') as sp, strpos(s5.txt, 'zz') as sp0, " +
        "translate(trim(s5.txt), 'pd', 'Pb') as tr, " +
        "ascii(trim(s5.txt)) as ac, md5(trim(s5.txt)) as dg, " +
        "sign(s5.n) as sg, sign(0 * s5.n) as sg0, " +
        "power(s5.n, 2) as pw from s5").get.collect().head
    assert(got.getAs[String]("lt") == "pad  ")
    assert(got.getAs[String]("rt") == "  pad")
    assert(got.getAs[String]("rev") == "dap")
    assert(got.getAs[String]("rep") == "padpad")
    assert(got.getAs[String]("l2") == "pa")
    assert(got.getAs[String]("r2") == "ad")
    assert(got.getAs[String]("lall") == "pad") // n beyond length clamps
    assert(got.getAs[String]("rall") == "pad")
    assert(got.getAs[String]("l0") == "")
    assert(got.getAs[String]("r0") == "")
    assert(got.getAs[Long]("sp") == 4L) // 1-based, 0 when absent
    assert(got.getAs[Long]("sp0") == 0L)
    assert(got.getAs[String]("tr") == "Pab")
    assert(got.getAs[Int]("ac") == 'p'.toInt)
    assert(got.getAs[String]("dg").matches("[0-9a-f]{32}"))
    assert(got.getAs[Long]("sg") == -1L)
    assert(got.getAs[Long]("sg0") == 0L)
    assert(got.getAs[Double]("pw") == 49.0)
  }

  test("percent_rank / cume_dist / nth_value windows (round-13)") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 1), ("a", 2), ("a", 2), ("a", 4), ("b", 5)).foreach {
      case (g, v) =>
        HashQL.execute(cat, s"insert into w13 (g, v) values ('$g', $v)")
    }
    val got = HashQL.execute(cat,
      "select w13.g, w13.v, " +
        "percent_rank() over (partition by w13.g order by w13.v) as pr, " +
        "cume_dist() over (partition by w13.g order by w13.v) as cd, " +
        "nth_value(w13.v, 2) over (partition by w13.g order by w13.v, w13.id) as nv " +
        "from w13 order by w13.g, w13.id").get.collect()
    // g=a values 1,2,2,4 → ranks 1,2,2,4 → percent_rank (r−1)/(n−1)
    assert(got.map(_.getAs[Double]("pr")).toSeq ==
      Seq(0.0, 1.0 / 3, 1.0 / 3, 1.0, 0.0))
    // cume_dist: peers ≤ current / n
    assert(got.map(_.getAs[Double]("cd")).toSeq ==
      Seq(0.25, 0.75, 0.75, 1.0, 1.0))
    // nth_value(v, 2) over the RUNNING frame: NULL until 2 rows arrive
    assert(got.map(r => Option(r.getAs[Any]("nv"))).toSeq ==
      Seq(None, Some(2L), Some(2L), Some(2L), None))
    // rank-like: ORDER BY is required
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select percent_rank() over (partition by w13.g) from w13"))
    assert(e.getMessage.contains("requires an ORDER BY"), e.getMessage)
  }

  test("is [not] distinct from: the null-safe comparison (round-13)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into dn (a, b) values (1, 1), (1, 2), (null, 1), (null, null)")
    def ids(q: String): Seq[Long] =
      HashQL.execute(cat, q).get.select("id").as[Long].collect().toSeq.sorted
    // null-safe equality: (1,1) and (null,null) match
    assert(ids("select dn.id from dn where dn.a is not distinct from dn.b") ==
      Seq(1L, 4L))
    // its negation is TOTAL (every row lands on exactly one side)
    assert(ids("select dn.id from dn where dn.a is distinct from dn.b") ==
      Seq(2L, 3L))
    // literal RHS: NULL a IS distinct from 1 (unlike `<>`, which drops it)
    assert(ids("select dn.id from dn where dn.a is distinct from 1") ==
      Seq(3L, 4L))
    // bare NULL RHS: is [not] distinct from null ≡ is [not] null
    assert(ids("select dn.id from dn where dn.a is distinct from null") ==
      Seq(1L, 2L))
    assert(ids("select dn.id from dn where dn.a is not distinct from null") ==
      Seq(3L, 4L))
  }

  test("explicit CROSS JOIN binds like a comma source; guards hold (round-13)") {
    val cat = new GraftCatalog(spark)
    cat.register("regx", graft.core.Tables.t(spark, sf, "region"))
    cat.register("natx", graft.core.Tables.t(spark, sf, "nation"))
    val crossed = HashQL.execute(cat,
      "select natx.n_name from natx cross join regx " +
        "where natx.n_regionkey = regx.r_regionkey and regx.r_name = 'ASIA' " +
        "order by natx.n_name").get.as[String].collect().toSeq
    val comma = HashQL.execute(cat,
      "select natx.n_name from natx, regx " +
        "where natx.n_regionkey = regx.r_regionkey and regx.r_name = 'ASIA' " +
        "order by natx.n_name").get.as[String].collect().toSeq
    assert(crossed == comma && crossed.nonEmpty)
    // an unlinked cross join is a cartesian — the scale guard rejects
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select natx.n_name from natx cross join regx"))
    assert(e1.getMessage.contains("cartesian"), e1.getMessage)
    // a cross join SPELLED after an ON-join rejects toward the head form
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select natx.n_name from natx " +
        "join regx on natx.n_regionkey = regx.r_regionkey cross join natx"))
    assert(e2.getMessage.contains("right after FROM"), e2.getMessage)
    // FULL (and, round-14, RIGHT) JOIN multiplicity is association-
    // dependent under a cross — reject
    val e3 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select natx.n_name from natx cross join regx " +
        "full join natx on natx.n_regionkey = natx.n_regionkey"))
    assert(e3.getMessage.contains("FULL or RIGHT JOIN"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select natx.n_name from natx cross join regx " +
        "right join natx on natx.n_regionkey = natx.n_regionkey"))
    assert(e4.getMessage.contains("FULL or RIGHT JOIN"), e4.getMessage)
  }

  test("quantified comparisons: ANY / SOME / ALL over uncorrelated subqueries (round-13)") {
    val cat = new GraftCatalog(spark)
    Seq(1, 5, 10).foreach(v =>
      HashQL.execute(cat, s"insert into q13 (v) values ($v)"))
    Seq(3, 5).foreach(x =>
      HashQL.execute(cat, s"insert into qs (x) values ($x)"))
    // a dialect-visible NULL must be COMPUTED (a plain `select qn.x`
    // SKIPS missing-field rows, the reference's projection semantics) —
    // nullif plants it without tripping the row skip
    HashQL.execute(cat, "insert into qn (x) values (3), (0)")
    HashQL.execute(cat, "insert into qd (x) values (5), (5)")
    def vs(q: String): Seq[Long] =
      HashQL.execute(cat, q).get.select("v").as[Long].collect().toSeq.sorted
    // inequality quantifiers over the stats frame
    assert(vs("select q13.v from q13 where q13.v > all (select qs.x from qs)") ==
      Seq(10L))
    assert(vs("select q13.v from q13 where q13.v > any (select qs.x from qs)") ==
      Seq(5L, 10L))
    assert(vs("select q13.v from q13 where q13.v > some (select qs.x from qs)") ==
      Seq(5L, 10L)) // SOME ≡ ANY
    assert(vs("select q13.v from q13 where q13.v < all (select qs.x from qs)") ==
      Seq(1L))
    // membership shapes route to their native plans
    assert(vs("select q13.v from q13 where q13.v = any (select qs.x from qs)") ==
      Seq(5L))
    assert(vs("select q13.v from q13 where q13.v <> all (select qs.x from qs)") ==
      Seq(1L, 10L))
    // uniformity forms: = ALL / <> ANY read min = x = max
    assert(vs("select q13.v from q13 where q13.v = all (select qd.x from qd)") ==
      Seq(5L))
    assert(vs("select q13.v from q13 where q13.v <> any (select qd.x from qd)") ==
      Seq(1L, 10L))
    // empty set: ALL is vacuously true, ANY is false
    assert(vs("select q13.v from q13 where q13.v > all " +
      "(select qs.x from qs where qs.x > 100)") == Seq(1L, 5L, 10L))
    assert(vs("select q13.v from q13 where q13.v > any " +
      "(select qs.x from qs where qs.x > 100)") == Seq.empty)
    // a NULL in the set blocks ALL (UNKNOWN) even when every non-null passes
    assert(vs("select q13.v from q13 where q13.v > all " +
      "(select nullif(qn.x, 0) as nx from qn)") == Seq.empty)
    // …but ANY still fires off the non-null values
    assert(vs("select q13.v from q13 where q13.v > any " +
      "(select nullif(qn.x, 0) as nx from qn)") == Seq(5L, 10L))
    // three-valued under NOT (flag path): ¬(v > all {3,5}) keeps v ≤ 5
    assert(vs("select q13.v from q13 where not " +
      "(q13.v > all (select qs.x from qs))") == Seq(1L, 5L))
    // OR position rides the same flag machinery
    assert(vs("select q13.v from q13 where q13.v = 1 or " +
      "q13.v > all (select qs.x from qs)") == Seq(1L, 10L))
    // CORRELATED quantifiers (equality conjuncts) decorrelate: per-key
    // stats + LEFT join; a key miss is that row's EMPTY set → ALL true.
    // Here the key is the value itself: v=5 sees {5} (5 > all {5} is
    // false), v=1/v=10 see the empty set (vacuously true).
    assert(vs("select q13.v from q13 where q13.v > all " +
      "(select qs.x from qs where qs.x = q13.v)") == Seq(1L, 10L))
    // …and ANY over the empty per-key set is FALSE
    assert(vs("select q13.v from q13 where q13.v >= any " +
      "(select qs.x from qs where qs.x = q13.v)") == Seq(5L))
    // a 2-arg coalesce is a computed column here too (DuckDB: the same
    // rows)
    assert(vs("select q13.v from q13 where q13.v > all " +
      "(select coalesce(qs.x, 0) from qs where qs.x = q13.v)") == Seq(1L, 10L))
    assert(vs("select q13.v from q13 where q13.v > all " +
      "(select coalesce(qs.x, 0) from qs)") == Seq(10L))
    // PURE range correlation (round-14: non-eq correlation now rewrites
    // through EXISTS, which still demands an equality key alongside)
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select q13.v from q13 where q13.v > all " +
        "(select qs.x from qs where qs.x < q13.v)"))
    assert(e.getMessage.contains("EQUALITY conjunct"), e.getMessage)
  }

  test("inline VALUES tables in FROM and JOIN position (round-13)") {
    val cat = new GraftCatalog(spark)
    val got = HashQL.execute(cat,
      "select t.a, t.b from ( values (1, 'x'), (2, 'y'), (3, null) ) " +
        "as t(a, b) order by t.a").get.collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(r => Option(r.getString(1))).toSeq ==
      Seq(Some("x"), Some("y"), None))
    // join position — the broadcast lookup-table idiom
    cat.register("natv", graft.core.Tables.t(spark, sf, "nation"))
    val j = HashQL.execute(cat,
      "select natv.n_name, m.zone from natv " +
        "join ( values (0, 'west'), (1, 'east') ) m(rk, zone) " +
        "on natv.n_regionkey = m.rk order by natv.n_name").get.collect()
    assert(j.nonEmpty && j.forall(r => Set("west", "east")(r.getString(1))))
    // type discipline: all-NULL and mixed-type columns reject
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select t.a from ( values (null), (null) ) t(a)"))
    assert(e1.getMessage.contains("all NULL"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select t.a from ( values (1), ('x') ) t(a)"))
    assert(e2.getMessage.contains("mixes types"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select t.a from ( values (1, 2) ) t(a, a)"))
    assert(e3.getMessage.contains("duplicate"), e3.getMessage)
  }

  test("DISTINCT ON keeps the first row per key group in ORDER BY (round-13)") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 10), ("a", 20), ("b", 5), ("b", 50)).foreach { case (g, v) =>
      HashQL.execute(cat, s"insert into dd (g, v) values ('$g', $v)") }
    val got = HashQL.execute(cat,
      "select distinct on (dd.g) dd.g, dd.v from dd " +
        "order by dd.g, dd.v desc").get.collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 20L), ("b", 50L)))
    // ascending tiebreak flips the pick
    val asc = HashQL.execute(cat,
      "select distinct on (dd.g) dd.g, dd.v from dd " +
        "order by dd.g, dd.v").get.collect()
    assert(asc.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 10L), ("b", 5L)))
    // determinism contract: a tiebreaker is required…
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select distinct on (dd.g) dd.g, dd.v from dd order by dd.g"))
    assert(e1.getMessage.contains("tiebreaker"), e1.getMessage)
    // …ORDER BY must lead with the ON keys…
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select distinct on (dd.g) dd.g, dd.v from dd " +
        "order by dd.v desc, dd.g"))
    assert(e2.getMessage.contains("lead with the DISTINCT ON"), e2.getMessage)
    // …and the keys must be projected
    val e3 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select distinct on (dd.g) dd.v from dd order by dd.g, dd.v desc"))
    assert(e3.getMessage.contains("projected"), e3.getMessage)
  }

  test("GROUP BY ALL and ORDER BY ALL expand from the select list (round-13)") {
    val cat = new GraftCatalog(spark)
    Seq(("b", 1), ("a", 2), ("a", 3), ("b", 4)).foreach { case (g, v) =>
      HashQL.execute(cat, s"insert into ga (g, v) values ('$g', $v)") }
    val got = HashQL.execute(cat,
      "select ga.g, sum(ga.v) as s from ga group by all order by all")
      .get.collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 5L), ("b", 5L)))
    // computed keys group by alias; aggregate-bearing items stay outputs
    val m = HashQL.execute(cat,
      "select upper(ga.g) as gu, sum(ga.v) * 1.0 / count(*) as mean " +
        "from ga group by all order by all desc").get.collect()
    assert(m.map(_.getString(0)).toSeq == Seq("B", "A"))
    assert(m.map(_.getDouble(1)).toSeq == Seq(2.5, 2.5))
    // star selects reject (columns unknown until execution)
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select * from ga group by all"))
    assert(e1.getMessage.contains("explicit projections"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select * from ga order by all"))
    assert(e2.getMessage.contains("explicit projections"), e2.getMessage)
  }

  test("variance / stddev aggregates: exact-sum lowering, ANSI edges (round-13)") {
    val cat = new GraftCatalog(spark)
    Seq(2, 4, 4, 4, 5, 5, 7, 9).foreach(x =>
      HashQL.execute(cat, s"insert into vx (g, x) values ('a', $x)"))
    HashQL.execute(cat, "insert into vx (g, x) values ('b', 5)")
    val g = HashQL.execute(cat,
      "select vx.g, var_pop(vx.x) as vp, stddev_pop(vx.x) as sp, " +
        "var_samp(vx.x) as vs, stddev(vx.x) as sd, variance(vx.x) as vr " +
        "from vx group by vx.g order by vx.g").get.collect()
    // the classic 2,4,4,4,5,5,7,9: pop variance 4, pop stddev 2
    assert(g(0).getDouble(1) == 4.0 && g(0).getDouble(2) == 2.0)
    assert(g(0).getDouble(3) == 32.0 / 7)
    assert(g(0).getDouble(4) == math.sqrt(32.0 / 7))
    assert(g(0).getDouble(5) == 32.0 / 7) // variance ≡ var_samp
    // 1-value group: samp is NULL (nullif'd zero denominator), pop is 0
    assert(g(1).isNullAt(3) && g(1).getDouble(1) == 0.0)
    // global (ungrouped) spelling rides the same machinery
    val tot = HashQL.execute(cat,
      "select var_pop(vx.x) as vp from vx where vx.g = 'a'").get.collect()
    assert(tot.head.getDouble(0) == 4.0)
  }

  test("LIMIT … WITH TIES keeps whole tie groups (round-15)") {
    val cat = new GraftCatalog(spark)
    // scores 9,9,7,7,7,3 — tie groups straddle every interesting cut
    Seq(("a", 9), ("b", 9), ("c", 7), ("d", 7), ("e", 7), ("f", 3))
      .foreach { case (k, v) =>
        HashQL.execute(cat, s"insert into lt (k, v) values ('$k', $v)") }
    val one = HashQL.execute(cat,
      "select lt.k, lt.v from lt order by lt.v desc limit 1 with ties")
      .get.collect()
    assert(one.map(_.getAs[Long]("v")).toSeq == Seq(9L, 9L))
    val three = HashQL.execute(cat,
      "select lt.k, lt.v from lt order by lt.v desc limit 3 with ties")
      .get.collect()
    assert(three.length == 5 && three.forall(_.getAs[Long]("v") >= 7))
    // exact boundary: no spill past a closed tie group
    val two = HashQL.execute(cat,
      "select lt.k, lt.v from lt order by lt.v desc limit 2 with ties")
      .get.collect()
    assert(two.length == 2)
    // multi-key: ties are the FULL tuple — k breaks the 7s apart
    val mk = HashQL.execute(cat,
      "select lt.k, lt.v from lt order by lt.v desc, lt.k limit 3 with ties")
      .get.collect()
    assert(mk.map(_.getAs[String]("k")).toSeq == Seq("a", "b", "c"))
    // guards
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select lt.k from lt limit 2 with ties"))
    assert(e1.getMessage.contains("needs ORDER BY"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select lt.k from lt order by lt.k limit 2 with ties offset 1"))
    assert(e2.getMessage.contains("OFFSET"), e2.getMessage)
    // NULL sort keys under the pinned nulls-last: a threshold inside
    // the non-nulls excludes them; a NULL threshold admits everything
    HashQL.execute(cat, "insert into lt (k) values ('z')")
    val nn = HashQL.execute(cat,
      "select lt.k, coalesce(lt.v, lt.v) as v2 from lt " +
        "order by v2 desc limit 2 with ties").get.collect()
    assert(nn.length == 2 && nn.forall(_.getAs[Long]("v2") == 9L))
    val all7 = HashQL.execute(cat,
      "select lt.k, coalesce(lt.v, lt.v) as v2 from lt " +
        "order by v2 desc limit 7 with ties").get.collect()
    assert(all7.length == 7)
  }

  test("array_agg / list: sorted lists, ORDER BY, NULL skip (round-15)") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 3, 1), ("a", 1, 2), ("a", 2, 3), ("b", 9, 1))
      .foreach { case (g, v, o) =>
        HashQL.execute(cat, s"insert into ar (g, v, o) values ('$g', $v, $o)") }
    HashQL.execute(cat, "insert into ar (g, o) values ('a', 4)") // v NULL
    // bare call: value-sorted; NULL elements skipped
    val got = HashQL.execute(cat,
      "select ar.g, array_agg(ar.v) as vs from ar group by ar.g " +
        "order by ar.g").get.collect()
    assert(got(0).getSeq[Long](1) == Seq(1L, 2L, 3L))
    assert(got(1).getSeq[Long](1) == Seq(9L))
    // within-group ORDER BY (insertion order via o), and desc
    val ord = HashQL.execute(cat,
      "select ar.g, array_agg(ar.v order by ar.o) as vs, " +
        "list(ar.v order by ar.o desc) as vd " +
        "from ar where ar.g = 'a' group by ar.g").get.collect().head
    assert(ord.getSeq[Long](ord.fieldIndex("vs")) == Seq(3L, 1L, 2L))
    assert(ord.getSeq[Long](ord.fieldIndex("vd")) == Seq(2L, 1L, 3L))
    // expression position: feeds list functions in the same agg pass
    val csv = HashQL.execute(cat,
      "select ar.g, array_to_string(array_agg(ar.v), '-') as s, " +
        "len(array_agg(ar.v)) as n from ar group by ar.g order by ar.g")
      .get.collect()
    assert(csv(0).getAs[String]("s") == "1-2-3")
    assert(csv(0).getAs[Long]("n") == 3L) // the NULL never collected
    // DISTINCT (round-16): the sorted value SET — item form,
    // expression position, and string_agg all share it
    HashQL.execute(cat, "insert into ar (g, v, o) values ('a', 2, 9)")
    val dst = HashQL.execute(cat,
      "select array_agg(distinct ar.v) as d, " +
        "string_agg(distinct ar.v, '-') as sd, " +
        "len(array_agg(distinct ar.v)) as n " +
        "from ar where ar.g = 'a'").get.collect().head
    assert(dst.getSeq[Long](dst.fieldIndex("d")) == Seq(1L, 2L, 3L))
    assert(dst.getAs[String]("sd") == "1-2-3")
    assert(dst.getAs[Long]("n") == 3L)
    // DISTINCT is value-sorted by construction — an explicit ORDER BY
    // under it does not compose
    val edo = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select array_agg(distinct ar.v order by ar.o) as d from ar"))
    assert(edo.getMessage.contains("value-sorted"), edo.getMessage)
    // the composed spelling keeps working
    val composed = HashQL.execute(cat,
      "select list_distinct(array_agg(ar.v)) as d from ar where ar.g = 'a'")
      .get.collect().head
    assert(composed.getSeq[Long](0) == Seq(1L, 2L, 3L))
    // item-head lookahead (round-16): a non-`as` continuation after
    // array_agg(…) parses through the expression grammar instead of
    // dying at the item form's alias requirement
    val cont = HashQL.execute(cat,
      "select len(array_agg(ar.v)) * 2 as n2 from ar where ar.g = 'a'")
      .get.collect().head
    assert(cont.getAs[Long]("n2") == 8L) // 4 values in 'a' now (2 dup)
  }

  test("TRUNCATE empties the table through the DELETE commit (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into trq (k, v) values ('a', 1), ('b', 2)")
    HashQL.execute(cat, "truncate table trq")
    assert(HashQL.execute(cat, "select trq.k from trq").get.count() == 0L)
    // bare spelling, and the table stays writable after
    HashQL.execute(cat, "insert into trq (k, v) values ('c', 3)")
    HashQL.execute(cat, "truncate trq")
    HashQL.execute(cat, "insert into trq (k, v) values ('d', 4)")
    val got = HashQL.execute(cat,
      "select trq.k, trq.v from trq").get.collect()
    assert(got.map(r => (r.getAs[String]("k"), r.getAs[Long]("v"))).toSeq
      == Seq(("d", 4L)))
  }

  test("ANSI substring FROM/FOR and position IN desugar (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into ss (s) values ('abcdef')")
    val got = HashQL.execute(cat,
      "select substring(ss.s from 2 for 3) as m, " +
        "substring(ss.s from 4) as t4, " +
        "substring(ss.s, 2, 3) as mc, " +
        "position('cd' in ss.s) as p, " +
        "position('zz' in ss.s) as p0 from ss").get.collect().head
    assert(got.getAs[String]("m") == "bcd")
    assert(got.getAs[String]("t4") == "def")
    assert(got.getAs[String]("mc") == "bcd")
    assert(got.getAs[Long]("p") == 3L)
    assert(got.getAs[Long]("p0") == 0L)
  }

  test("try_cast: NULL on failure, success paths unchanged (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into tc (s, d) values ('12', '2024-01-02')")
    HashQL.execute(cat, "insert into tc (s, d) values ('abc', 'nope')")
    val got = HashQL.execute(cat,
      "select tc.s, try_cast(tc.s as bigint) as n, " +
        "try_cast(tc.d as date) as dd from tc order by tc.s").get.collect()
    assert(got(0).getAs[Long]("n") == 12L)
    assert(got(0).getAs[java.sql.Date]("dd").toString == "2024-01-02")
    assert(got(1).isNullAt(got(1).fieldIndex("n")))
    assert(got(1).isNullAt(got(1).fieldIndex("dd")))
    // target-type grammar is the CAST grammar — same clear rejection
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select try_cast(tc.s as blob) as b from tc"))
    assert(e.getMessage.contains("cast target must be"), e.getMessage)
  }

  test("bivariate statistics tier: corr/covar/regr_*, pair gating, edges (round-15)") {
    val cat = new GraftCatalog(spark)
    // group a: two full pairs (1,2) (3,4) plus two HALF rows — one
    // missing y, one missing x; ANSI scopes every sum to full pairs
    HashQL.execute(cat, "insert into cv (g, x, y) values ('a', 1, 2)")
    HashQL.execute(cat, "insert into cv (g, x, y) values ('a', 3, 4)")
    HashQL.execute(cat, "insert into cv (g, x) values ('a', 100)")
    HashQL.execute(cat, "insert into cv (g, y) values ('a', 77)")
    // group c: x constant (var(x)=0) — slope/r2 NULL
    HashQL.execute(cat, "insert into cv (g, x, y) values ('c', 1, 5)")
    HashQL.execute(cat, "insert into cv (g, x, y) values ('c', 1, 7)")
    // group d: y constant, x varying — r2 = 1 (the ANSI edge), slope 0
    HashQL.execute(cat, "insert into cv (g, x, y) values ('d', 1, 3)")
    HashQL.execute(cat, "insert into cv (g, x, y) values ('d', 2, 3)")
    val g = HashQL.execute(cat,
      "select cv.g, covar_pop(cv.x, cv.y) as cp, covar_samp(cv.x, cv.y) as cs, " +
        "corr(cv.x, cv.y) as r, regr_count(cv.y, cv.x) as n, " +
        "regr_slope(cv.y, cv.x) as sl, regr_intercept(cv.y, cv.x) as ic, " +
        "regr_r2(cv.y, cv.x) as r2, regr_avgx(cv.y, cv.x) as ax " +
        "from cv group by cv.g order by cv.g").get.collect()
    // a: pairs (1,2),(3,4) only — the half rows never enter any sum
    assert(g(0).getDouble(1) == 1.0 && g(0).getDouble(2) == 2.0)
    assert(g(0).getDouble(3) == 1.0) // perfectly linear
    assert(g(0).getLong(4) == 2L)    // regr_count = full pairs only
    assert(g(0).getDouble(5) == 1.0 && g(0).getDouble(6) == 1.0) // y = x+1
    assert(g(0).getDouble(7) == 1.0)
    assert(g(0).getDouble(8) == 2.0) // avg x over pairs, not the 100 row
    // c: var(x)=0 → slope/r2/corr NULL (nullif'd denominators)
    assert(g(1).isNullAt(3) && g(1).isNullAt(5) && g(1).isNullAt(7))
    // d: var(y)=0, var(x)≠0 → r2 = 1 (ANSI), slope 0, corr NULL
    assert(g(2).getDouble(5) == 0.0 && g(2).getDouble(7) == 1.0)
    assert(g(2).isNullAt(3))
    // global (ungrouped) spelling rides the same machinery
    val tot = HashQL.execute(cat,
      "select corr(cv.x, cv.y) as r from cv where cv.g = 'a'").get.collect()
    assert(tot.head.getDouble(0) == 1.0)
  }

  test("epoch / epoch_ms render UTC instants exactly (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into ep (d) values ('2024-01-02 03:04:05')")
    val got = HashQL.execute(cat,
      "select epoch(cast(ep.d as timestamp)) as e, " +
        "epoch_ms(cast(ep.d as timestamp)) as ms from ep").get.collect().head
    assert(got.getAs[Double]("e") == 1704164645.0)
    assert(got.getAs[Long]("ms") == 1704164645000L)
  }

  test("list lambdas: transform and filter run scan-side (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into lm (s) values ('a-bb-ccc')")
    val got = HashQL.execute(cat,
      "select list_transform(split(lm.s, '-'), x -> upper(x)) as up, " +
        "list_filter(split(lm.s, '-'), x -> length(x) >= 2) as f2, " +
        "list_transform(split(lm.s, '-'), x -> length(x) * 10) as lens " +
        "from lm").get.collect().head
    assert(got.getSeq[String](got.fieldIndex("up")) == Seq("A", "BB", "CCC"))
    assert(got.getSeq[String](got.fieldIndex("f2")) == Seq("bb", "ccc"))
    assert(got.getSeq[Long](got.fieldIndex("lens")) == Seq(10L, 20L, 30L))
    // and/or chains in filter bodies
    val f = HashQL.execute(cat,
      "select list_filter(split(lm.s, '-'), " +
        "x -> length(x) > 1 and length(x) < 3) as m from lm")
      .get.collect().head
    assert(f.getSeq[String](0) == Seq("bb"))
    // lambdas over aggregated lists ride the same agg pass
    val ag = HashQL.execute(cat,
      "select list_transform(array_agg(lm.s), x -> length(x)) as ls " +
        "from lm").get.collect().head
    assert(ag.getSeq[Long](0) == Seq(8L))
    // outer-column capture rejects with a clear message
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select list_transform(split(lm.s, '-'), x -> concat(x, lm.s)) " +
        "as b from lm"))
    assert(e.getMessage.contains("lambda variable"), e.getMessage)
    // CASE inside a transform body — the general predicate grammar's
    // bare-comparison forms bind to the lambda variable
    val cs = HashQL.execute(cat,
      "select list_transform(split(lm.s, '-'), " +
        "x -> case when length(x) > 2 then upper(x) " +
        "when x = 'bb' then 'two' else x end) as m from lm")
      .get.collect().head
    assert(cs.getSeq[String](0) == Seq("a", "two", "CCC"))
    // nested lambdas (round-16; r15 died with a raw MatchError): the
    // outer variable is a list the inner lambda iterates — per outer
    // part, count the '.'-split pieces longer than 1 char
    val nested = HashQL.execute(cat,
      "select list_transform(" +
        "list_transform(split(lm.s, '-'), x -> split(x, 'b')), " +
        "x -> len(list_filter(x, y -> length(y) >= 1))) as deep from lm")
      .get.collect().head
    // 'a'→['a'], 'bb'→['','',''] (empties filtered), 'ccc'→['ccc']
    assert(nested.getSeq[Long](0) == Seq(1L, 0L, 1L))
    // inner shadows outer on a same-named variable — the inner binding
    // wins (lexical scope), so length applies to the inner element
    val shadow = HashQL.execute(cat,
      "select list_transform(" +
        "list_transform(split(lm.s, '-'), x -> split(x, 'zz')), " +
        "x -> list_transform(x, x -> length(x))) as sh from lm")
      .get.collect().head
    assert(shadow.getSeq[Seq[Long]](0) == Seq(Seq(1L), Seq(2L), Seq(3L)))
    // outer-capture inside a NESTED body still rejects, naming both vars
    val en = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select list_transform(list_transform(split(lm.s, '-'), " +
        "x -> split(x, 'b')), x -> len(list_transform(x, " +
        "y -> length(z)))) as b from lm"))
    assert(en.getMessage.contains("lambda variable"), en.getMessage)
  }

  test("time_bucket aligns fixed widths at the Unix epoch (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into tbk (t) values ('2024-01-02 10:37:55')")
    val got = HashQL.execute(cat,
      "select time_bucket(interval '15' minute, cast(tbk.t as timestamp)) as q, " +
        "time_bucket(interval '1' hour, cast(tbk.t as timestamp)) as h, " +
        "time_bucket(interval '1' day, cast(tbk.t as timestamp)) as d " +
        "from tbk").get.collect().head
    assert(got.getAs[java.sql.Timestamp]("q").toString
      .startsWith("2024-01-02 10:30:00"))
    assert(got.getAs[java.sql.Timestamp]("h").toString
      .startsWith("2024-01-02 10:00:00"))
    assert(got.getAs[java.sql.Timestamp]("d").toString
      .startsWith("2024-01-02 00:00:00"))
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select time_bucket(interval '1' month, cast(tbk.t as timestamp)) " +
        "as m from tbk"))
    assert(e.getMessage.contains("time_bucket unit"), e.getMessage)
    // pre-epoch (round-16): floor-mod buckets DOWN across the 1970
    // boundary — truncating % would have labeled this 23:00
    val pre = HashQL.execute(cat,
      "select time_bucket(interval '1' hour, " +
        "timestamp '1969-12-31 22:47:13') as p from tbk")
      .get.collect().head
    assert(pre.getAs[java.sql.Timestamp]("p").toString
      .startsWith("1969-12-31 22:00:00"), pre.toString)
  }

  test("ALTER TABLE: add/rename/drop column, rename table, guards (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into at1 (a, b) values (1, 'x'), (2, 'y')")
    HashQL.execute(cat, "alter table at1 add column c bigint default 7")
    val afterAdd = HashQL.execute(cat,
      "select at1.a, at1.c from at1 order by at1.a").get.collect()
    assert(afterAdd.map(_.getAs[Long]("c")).toSeq == Seq(7L, 7L))
    HashQL.execute(cat, "alter table at1 add column d varchar")
    assert(HashQL.execute(cat, "select at1.d from at1").get
      .collect().forall(_.isNullAt(0)))
    HashQL.execute(cat, "alter table at1 rename column b to label")
    HashQL.execute(cat, "alter table at1 drop column d")
    HashQL.execute(cat, "alter table at1 rename to at2")
    val out = HashQL.execute(cat,
      "select at2.a, at2.label, at2.c from at2 order by at2.a").get
    assert(out.columns.toSeq == Seq("a", "label", "c"))
    // id counter travels with the rename — new ids continue, not restart
    HashQL.execute(cat, "insert into at2 (a, label, c) values (3, 'z', 1)")
    val ids = HashQL.execute(cat, "select at2.id from at2").get
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
    // guards: id is row identity; old name gone
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "alter table at2 drop column id"))
    assert(e1.getMessage.contains("row identity"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select at1.a from at1"))
    assert(e2.getMessage.contains("no such table"), e2.getMessage)
  }

  test("date_diff counts boundary crossings, not full intervals (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into ddf (a, b) values " +
      "('2023-12-31 23:59:59', '2024-01-01 00:00:01')")
    val got = HashQL.execute(cat,
      "select date_diff('day', cast(ddf.a as timestamp), " +
        "cast(ddf.b as timestamp)) as dd, " +
        "date_diff('month', cast(ddf.a as timestamp), " +
        "cast(ddf.b as timestamp)) as dm, " +
        "date_diff('year', cast(ddf.a as timestamp), " +
        "cast(ddf.b as timestamp)) as dy, " +
        "date_diff('hour', cast(ddf.a as timestamp), " +
        "cast(ddf.b as timestamp)) as dh, " +
        "date_diff('second', cast(ddf.a as timestamp), " +
        "cast(ddf.b as timestamp)) as ds from ddf").get.collect().head
    // 2 seconds of wall time, but EVERY boundary is crossed once
    assert(got.getAs[Long]("dd") == 1L && got.getAs[Long]("dm") == 1L)
    assert(got.getAs[Long]("dy") == 1L && got.getAs[Long]("dh") == 1L)
    assert(got.getAs[Long]("ds") == 2L)
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select date_diff('week', cast(ddf.a as timestamp), " +
        "cast(ddf.b as timestamp)) as w from ddf"))
    assert(e.getMessage.contains("date_diff takes"), e.getMessage)
  }

  test("USING joins equate same-named columns; composite keys (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into ue (n, k, b) values ('a', 1, 7), ('b', 2, 8), ('c', 3, 9)")
    HashQL.execute(cat,
      "insert into ud (k, d, b) values (1, 'x', 7), (2, 'y', 0)")
    val inner = HashQL.execute(cat,
      "select ue.n, ud.d from ue join ud using (k) order by ue.n")
      .get.collect()
    assert(inner.map(r => (r.getString(0), r.getString(1))).toSeq
      == Seq(("a", "x"), ("b", "y")))
    // composite USING: (k, b) matches only the ('a',1,7) row
    val comp = HashQL.execute(cat,
      "select ue.n, ud.d from ue join ud using (k, b)").get.collect()
    assert(comp.map(_.getString(0)).toSeq == Seq("a"))
    // LEFT USING null-extends misses
    val lft = HashQL.execute(cat,
      "select ue.n, ud.d from ue left join ud using (k) order by ue.n")
      .get.collect()
    assert(lft.length == 3 && lft(2).isNullAt(1))
    // chained USING (round-16): the second key lives only on the FIRST
    // joined table (ud.d), never the base — cumulative-left resolution
    HashQL.execute(cat,
      "insert into ug (d, lab) values ('x', 'ex'), ('y', 'wy')")
    val chain = HashQL.execute(cat,
      "select ue.n, ug.lab from ue join ud using (k) " +
        "join ug using (d) order by ue.n").get.collect()
    assert(chain.map(r => (r.getString(0), r.getString(1))).toSeq
      == Seq(("a", "ex"), ("b", "wy")))
    // ambiguity (round-16): after a LEFT join both k copies survive on
    // the accumulated side, so a later USING (k) must reject toward ON
    HashQL.execute(cat, "insert into uk (k, z) values (1, 5)")
    val amb = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select ue.n from ue left join ud using (k) join uk using (k)"))
    assert(amb.getMessage.contains("explicit ON"), amb.getMessage)
    // absent key (round-16): a USING name nowhere on the cumulative
    // left side rejects with the same remedy, not an analysis error
    val abs = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select ue.n from ue join uk using (zz)"))
    assert(abs.getMessage.contains("0 columns"), abs.getMessage)
  }

  test("CREATE VIEW: logical re-planning reads, guards, DROP VIEW (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into vb (k, v) values (1, 10), (2, 3)")
    HashQL.execute(cat,
      "create view vv as select vb.k, vb.v from vb where vb.v >= 10")
    assert(HashQL.execute(cat, "select vv.k from vv").get.count() == 1L)
    // a later write to the BASE table is visible through the view
    HashQL.execute(cat, "insert into vb (k, v) values (3, 99)")
    assert(HashQL.execute(cat, "select vv.k from vv").get.count() == 2L)
    // views are read-only: any write path rejects
    val w = intercept[IllegalArgumentException](HashQL.execute(cat,
      "insert into vv (k, v) values (9, 9)"))
    assert(w.getMessage.contains("read-only"), w.getMessage)
    // plain CREATE VIEW over an existing view rejects; OR REPLACE works
    val dup = intercept[IllegalArgumentException](HashQL.execute(cat,
      "create view vv as select vb.k from vb"))
    assert(dup.getMessage.contains("OR REPLACE"), dup.getMessage)
    HashQL.execute(cat,
      "create or replace view vv as select vb.k from vb")
    assert(HashQL.execute(cat, "select vv.k from vv").get.columns.toSeq
      == Seq("k"))
    // self-reference rejects at CREATE; indirect cycles at READ
    val self = intercept[IllegalArgumentException](HashQL.execute(cat,
      "create or replace view vv as select vv.k from vv"))
    assert(self.getMessage.contains("reference itself"), self.getMessage)
    // indirect cycle: legal to CREATE (validation still sees the old
    // vv), caught at the first READ through the back-reference
    HashQL.execute(cat, "create view v2 as select vv.k from vv")
    HashQL.execute(cat, "create or replace view vv as select v2.k from v2")
    val cyc = intercept[Exception](HashQL.execute(cat,
      "select vv.k from vv"))
    assert(cyc.getMessage.contains("cycle"), cyc.getMessage)
    // recover: point vv back at the base table, then drop v2
    HashQL.execute(cat, "create or replace view vv as select vb.k from vb")
    HashQL.execute(cat, "drop view v2")
    val gone = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select v2.k from v2"))
    assert(gone.getMessage.contains("no such table"), gone.getMessage)
    HashQL.execute(cat, "drop view if exists v2") // idempotent spelling
  }

  test("list tier 2: concat/flatten/min/max/sum edges, slice, extract (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into l2 (s) values ('3-1-2')")
    val got = HashQL.execute(cat,
      "select list_concat(split(l2.s, '-'), split(l2.s, '-')) as cc, " +
        "flatten(list_transform(split(l2.s, '-'), x -> split(x, 'z'))) as fl, " +
        "list_min(split(l2.s, '-')) as mn, list_max(split(l2.s, '-')) as mx, " +
        "list_sum(list_transform(split(l2.s, '-'), " +
        "x -> cast(x as bigint))) as sm, " +
        "list_extract(split(l2.s, '-'), 9) as oob, " +
        "array_to_string(array_slice(split(l2.s, '-'), 3, 2), '|') as inv " +
        "from l2").get.collect().head
    assert(got.getSeq[String](got.fieldIndex("cc")).length == 6)
    assert(got.getSeq[String](got.fieldIndex("fl")) == Seq("3", "1", "2"))
    assert(got.getAs[String]("mn") == "1" && got.getAs[String]("mx") == "3")
    assert(got.getAs[Long]("sm") == 6L)
    assert(got.isNullAt(got.fieldIndex("oob"))) // 1-based, NULL OOB
    assert(got.getAs[String]("inv") == "")      // inverted range → []
    // empty effective list: list_sum yields NULL like DuckDB
    val e = HashQL.execute(cat,
      "select list_sum(list_filter(split(l2.s, '-'), x -> length(x) > 9)) " +
        "as z from l2").get.collect().head
    assert(e.isNullAt(0))
  }

  test("UNION ALL BY NAME aligns by column, null-fills gaps (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into ua (k, nm) values (1, 'x')")
    HashQL.execute(cat, "insert into ub (nm, k, extra) values ('y', 2, 9)")
    val got = HashQL.execute(cat,
      "select ua.k, ua.nm from ua union all by name " +
        "select ub.nm, ub.k, ub.extra from ub").get
    assert(got.columns.toSeq == Seq("k", "nm", "extra"))
    val rows = got.collect().sortBy(_.getAs[Long]("k"))
    assert(rows(0).isNullAt(2) && rows(1).getAs[Long]("extra") == 9L)
    // plain positional unions keep the arity guard
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select ua.k, ua.nm from ua union all " +
        "select ub.nm, ub.k, ub.extra from ub"))
    assert(e.getMessage.contains("same number of columns"), e.getMessage)
    // mixing BY NAME and positional in one chain rejects
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select ua.k from ua union all by name select ub.k from ub " +
        "union all select ub.k from ub"))
    assert(e2.getMessage.contains("BY NAME"), e2.getMessage)
  }

  test("skewness / kurtosis match the native-aggregate conventions (round-15)") {
    val cat = new GraftCatalog(spark)
    Seq(2, 4, 4, 4, 5, 5, 7, 9, 13).foreach(x =>
      HashQL.execute(cat, s"insert into mk (g, x) values ('a', $x)"))
    HashQL.execute(cat, "insert into mk (g, x) values ('b', 5), ('b', 5)")
    val got = HashQL.execute(cat,
      "select mk.g, skewness(mk.x) as sk, kurtosis(mk.x) as ku, " +
        "kurtosis_pop(mk.x) as kp from mk group by mk.g order by mk.g")
      .get.collect()
    // DuckDB natives on this data: 1.3479642857142833 / 1.7649642857142769
    // / 0.3266062499999949 (streaming); our exact-sum path agrees ~1e-12
    assert(math.abs(got(0).getAs[Double]("sk") - 1.34796428571428) < 1e-9)
    assert(math.abs(got(0).getAs[Double]("ku") - 1.76496428571427) < 1e-9)
    assert(math.abs(got(0).getAs[Double]("kp") - 0.32660625) < 1e-9)
    // zero variance → every moment ratio NULLs (never NaN/Inf)
    Seq("sk", "ku", "kp").foreach(c =>
      assert(got(1).isNullAt(got(1).fieldIndex(c)), s"$c on constant group"))
  }

  test("bool_and / bool_or ignore UNKNOWN rows, ANSI edges (round-15)") {
    val cat = new GraftCatalog(spark)
    // a: (10, 20, NULL) — unknown ignored; b: all NULL → NULL result
    HashQL.execute(cat, "insert into ba (g, v) values ('a', 10), ('a', 20)")
    HashQL.execute(cat, "insert into ba (g) values ('a'), ('b')")
    val got = HashQL.execute(cat,
      "select ba.g, bool_and(ba.v > 5) as all5, bool_and(ba.v > 15) as all15, " +
        "bool_or(ba.v > 15) as any15, bool_or(ba.v > 99) as any99 " +
        "from ba group by ba.g order by ba.g").get.collect()
    val a = got(0)
    assert(a.getAs[Boolean]("all5") && !a.getAs[Boolean]("all15"))
    assert(a.getAs[Boolean]("any15") && !a.getAs[Boolean]("any99"))
    val b = got(1)
    Seq("all5", "all15", "any15", "any99").foreach(c =>
      assert(b.isNullAt(b.fieldIndex(c)), s"$c should be NULL on all-unknown"))
  }

  test("aggregate-threshold CASE conditions join the aggregation pass (round-15)") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 10), ("a", 20), ("b", 1)).foreach { case (g, v) =>
      HashQL.execute(cat, s"insert into ct (g, v) values ('$g', $v)") }
    val got = HashQL.execute(cat,
      "select ct.g, case when sum(ct.v) > 25 then 'big' " +
        "when count(*) > 1 then 'mid' else 'small' end as band, " +
        "sum(ct.v) as s from ct group by ct.g order by ct.g").get.collect()
    assert(got.map(r => (r.getAs[String]("g"), r.getAs[String]("band"),
      r.getAs[Long]("s"))).toSeq
      == Seq(("a", "big", 30L), ("b", "small", 1L)))
    // the condition's aggregate need not appear in the select list
    val solo = HashQL.execute(cat,
      "select ct.g, case when min(ct.v) < 5 then 'lo' else 'hi' end as b " +
        "from ct group by ct.g order by ct.g").get.collect()
    assert(solo.map(_.getAs[String]("b")).toSeq == Seq("hi", "lo"))
  }

  test("strftime renders temporals under DuckDB %-codes (round-13)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into st (d) values ('2024-03-07 01:02:03')")
    val got = HashQL.execute(cat,
      "select strftime(cast(st.d as timestamp), '%Y/%m/%d') as ymd, " +
        "strftime(cast(st.d as timestamp), '%H:%M:%S') as hms, " +
        "strftime(cast(st.d as timestamp), '%j') as doy, " +
        "strftime(cast(st.d as timestamp), '%y-%m') as ym " +
        "from st").get.collect().head
    assert(got.getString(0) == "2024/03/07")
    assert(got.getString(1) == "01:02:03")
    assert(got.getString(2) == "067") // zero-padded day-of-year, both engines
    assert(got.getString(3) == "24-03")
    // the format is a validated static literal
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select strftime(cast(st.d as timestamp), '%Q') as bad from st"))
    assert(e.getMessage.contains("strftime's format"), e.getMessage)
  }

  test("LATERAL aggregate subqueries decorrelate to one grouped join (round-13)") {
    val cat = new GraftCatalog(spark)
    cat.register("custL", graft.core.Tables.t(spark, sf, "customer"))
    cat.register("ordL", graft.core.Tables.t(spark, sf, "orders"))
    val got = HashQL.execute(cat,
      "select custL.c_custkey, t.cnt, t.hi from custL, " +
        "lateral ( select count(*), max(ordL.o_totalprice) as hi " +
        "from ordL where ordL.o_custkey = custL.c_custkey ) t " +
        "where custL.c_custkey <= 30 order by custL.c_custkey")
      .get.collect()
    // DataFrame twin of the decorrelated plan
    val ord = graft.core.Tables.t(spark, sf, "orders")
    val cust = graft.core.Tables.t(spark, sf, "customer")
    val agg = ord.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"),
        org.apache.spark.sql.functions.max(col("o_totalprice")).as("hi"))
    val exp = cust.filter(col("c_custkey") <= 30)
      .join(agg, cust("c_custkey") === agg("o_custkey"), "left")
      .select(col("c_custkey"),
        org.apache.spark.sql.functions.coalesce(col("cnt"), lit(0L)).as("cnt"),
        col("hi"))
      .orderBy("c_custkey").collect()
    assert(got.map(_.toSeq).toSeq == exp.map(_.toSeq).toSeq)
    // ANSI empty-group row: a local filter that empties every group
    // still yields one row per outer — count 0, max NULL
    val emptied = HashQL.execute(cat,
      "select custL.c_custkey, t.cnt, t.hi from custL, " +
        "lateral ( select count(*), max(ordL.o_totalprice) as hi " +
        "from ordL where ordL.o_custkey = custL.c_custkey " +
        "and ordL.o_totalprice > 999999999.0 ) t " +
        "where custL.c_custkey <= 5 order by custL.c_custkey").get.collect()
    assert(emptied.nonEmpty &&
      emptied.forall(r => r.getLong(1) == 0L && r.isNullAt(2)))
    // aliased outer + aliased body: the rewriters thread the correlation
    val ali = HashQL.execute(cat,
      "select c.c_custkey, t.cnt from custL c, " +
        "lateral ( select count(*) from ordL o " +
        "where o.o_custkey = c.c_custkey ) t " +
        "where c.c_custkey <= 30 order by c.c_custkey").get.collect()
    assert(ali.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      exp.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // uncorrelated lateral: a 1-row aggregate frame cross-joins
    val un = HashQL.execute(cat,
      "select custL.c_custkey, t.mx from custL, " +
        "lateral ( select max(ordL.o_totalprice) as mx from ordL ) t " +
        "where custL.c_custkey <= 5 order by custL.c_custkey").get.collect()
    assert(un.map(_.getDouble(1)).distinct.length == 1)
    // shape guards: plain columns need the round-14 row-returning form
    // (ORDER BY … LIMIT k); non-equality correlation rejects
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select custL.c_custkey, t.o_orderkey from custL, " +
        "lateral ( select ordL.o_orderkey from ordL " +
        "where ordL.o_custkey = custL.c_custkey ) t"))
    assert(e1.getMessage.contains("ORDER BY"), e1.getMessage)
    // round-14: a range conjunct now decorrelates WITH an equality key
    // alongside; pure-range still rejects (no hash key)
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select custL.c_custkey, t.cnt from custL, " +
        "lateral ( select count(*) from ordL " +
        "where ordL.o_custkey < custL.c_custkey ) t"))
    assert(e2.getMessage.contains("equality conjunct"), e2.getMessage)
  }

  test("DELETE … USING: the join-delete (round-13)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into du (nm, score) values ('d1', 10), ('d2', 20), ('d3', 30)")
    HashQL.execute(cat,
      "insert into ub (nm, flag) values ('d2', 1), ('d3', 0)")
    // only rows matching AND passing the using-side filter go
    HashQL.execute(cat,
      "delete from du using ub where du.nm = ub.nm and ub.flag = 1")
    val left = HashQL.execute(cat,
      "select du.nm from du order by du.nm").get.as[String].collect().toSeq
    assert(left == Seq("d1", "d3"))
    // t-local conjuncts bound the doomed set from the t side
    HashQL.execute(cat,
      "delete from du using ub where du.nm = ub.nm and du.score > 99")
    assert(HashQL.execute(cat, "select du.nm from du").get.count() == 2)
    // the linking equality is required
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "delete from du using ub where du.score = 10"))
    assert(e.getMessage.contains("equality conjunct linking"), e.getMessage)
  }

  test("percentile_cont and strptime (round-13)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into px (x) values " +
      (1 to 10).map(i => s"($i)").mkString(", "))
    val q = HashQL.execute(cat,
      "select percentile_cont(px.x, 0.25) as q1, " +
        "percentile_cont(px.x, 0.5) as q2, " +
        "percentile_cont(px.x, 0.9) as q9 from px").get.collect().head
    // index q·(n−1) with linear interpolation over 1..10
    assert(q.getDouble(0) == 3.25 && q.getDouble(1) == 5.5)
    assert(math.abs(q.getDouble(2) - 9.1) < 1e-12)
    val eQ = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select percentile_cont(px.x, 1.5) as bad from px"))
    assert(eQ.getMessage.contains("[0, 1]"), eQ.getMessage)
    // strptime: string → TIMESTAMP, strftime's parsing inverse
    HashQL.execute(cat, "insert into sp (s) values ('2024/03/07 01:02:03')")
    val ts = HashQL.execute(cat,
      "select strptime(sp.s, '%Y/%m/%d %H:%M:%S') as ts, " +
        "strftime(strptime(sp.s, '%Y/%m/%d %H:%M:%S'), '%Y/%m/%d %H:%M:%S') " +
        "as back from sp").get.collect().head
    assert(ts.getTimestamp(0) ==
      java.sql.Timestamp.valueOf("2024-03-07 01:02:03"))
    assert(ts.getString(1) == "2024/03/07 01:02:03") // round trip
  }

  test("named WINDOW clause: one spec, many functions (round-13)") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 1), ("a", 2), ("a", 3), ("b", 5)).foreach { case (g, v) =>
      HashQL.execute(cat, s"insert into nw (g, v) values ('$g', $v)") }
    val got = HashQL.execute(cat,
      "select nw.g, nw.v, row_number() over w as rn, " +
        "rank() over w as rk, sum(nw.v) over w as rs " +
        "from nw window w as (partition by nw.g order by nw.v) " +
        "order by nw.g, nw.v").get.collect()
    assert(got.map(_.getInt(2)).toSeq == Seq(1, 2, 3, 1)) // rn
    assert(got.map(_.getLong(4)).toSeq == Seq(1L, 3L, 6L, 5L)) // running sum
    // two specs; later items may use either
    val two = HashQL.execute(cat,
      "select nw.g, row_number() over w1 as rn, sum(nw.v) over w2 as tot " +
        "from nw window w1 as (partition by nw.g order by nw.v), " +
        "w2 as (partition by nw.g) order by nw.g, rn").get.collect()
    assert(two.map(_.getLong(2)).toSeq == Seq(6L, 6L, 6L, 5L))
    // fn-dependent validation still runs per use: rank needs ORDER BY
    val e1 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select rank() over w from nw window w as (partition by nw.g)"))
    assert(e1.getMessage.contains("requires an ORDER BY"), e1.getMessage)
    // an undeclared name names the fix
    val e2 = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select row_number() over w from nw order by nw.v"))
    assert(e2.getMessage.contains("not declared"), e2.getMessage)
  }

  test("lag/lead offsets and defaults; inline QUALIFY windows (round-13)") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 1), ("a", 2), ("a", 3), ("b", 5)).foreach { case (g, v) =>
      HashQL.execute(cat, s"insert into lw (g, v) values ('$g', $v)") }
    val got = HashQL.execute(cat,
      "select lw.g, lw.v, lag(lw.v, 2) over (partition by lw.g " +
        "order by lw.v) as l2, " +
        "lag(lw.v, 1, 0) over (partition by lw.g order by lw.v) as l1d, " +
        "lead(lw.v, 1, 99) over (partition by lw.g order by lw.v) as ld " +
        "from lw order by lw.g, lw.v").get.collect()
    assert(got.map(r => Option(r.getAs[Any]("l2"))).toSeq ==
      Seq(None, None, Some(1L), None)) // offset 2, NULL misses
    assert(got.map(_.getLong(3)).toSeq == Seq(0L, 1L, 2L, 0L)) // default 0
    assert(got.map(_.getLong(4)).toSeq == Seq(2L, 3L, 99L, 99L)) // lead dflt
    // inline QUALIFY: top-1 per group WITHOUT projecting the rank
    val top = HashQL.execute(cat,
      "select lw.g, lw.v from lw qualify row_number() over " +
        "(partition by lw.g order by lw.v desc) = 1 order by lw.g")
      .get.collect()
    assert(top.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 3L), ("b", 5L)))
    assert(top.head.schema.fieldNames.toSeq == Seq("g", "v")) // rank dropped
    // …and through a NAMED window
    val topW = HashQL.execute(cat,
      "select lw.g, lw.v from lw window w as (partition by lw.g " +
        "order by lw.v) qualify row_number() over w = 1 order by lw.g")
      .get.collect()
    assert(topW.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 5L)))
  }

  test("HAVING with a scalar-subquery RHS: the direct Q11 spelling (round-13)") {
    val cat = new GraftCatalog(spark)
    Seq(("a", 1), ("a", 2), ("b", 10), ("b", 20), ("c", 100)).foreach {
      case (g, v) =>
        HashQL.execute(cat, s"insert into hv (g, v) values ('$g', $v)") }
    // groups whose sum tops a third of the global sum (133/3 ≈ 44.3)
    val got = HashQL.execute(cat,
      "select hv.g, sum(hv.v) as s from hv group by hv.g " +
        "having sum(hv.v) > ( select sum(hv.v) / 3.0 as thr from hv ) " +
        "order by hv.g").get.collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("c", 100L)))
    // QUALIFY takes the same RHS (shared value grammar + lowering)
    val q = HashQL.execute(cat,
      "select hv.g, hv.v, row_number() over (partition by hv.g " +
        "order by hv.v) as rn from hv " +
        "qualify rn <= ( select min(hv.v) from hv ) " +
        "order by hv.g, hv.v").get.collect()
    assert(q.map(_.getString(0)).toSeq == Seq("a", "b", "c")) // rn ≤ 1
    // CREATE AGG VIEW definitions reject HAVING wholesale (subquery
    // values included) — the bare-grouped-aggregation contract
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "create agg view as select hv.g, sum(hv.v) from hv group by hv.g " +
        "having sum(hv.v) > ( select sum(hv.v) / 3.0 as thr from hv )"))
    assert(e.getMessage.contains("bare grouped aggregation"), e.getMessage)
  }

  test("EXISTS as a projected boolean flag (round-13)") {
    val cat = new GraftCatalog(spark)
    cat.register("custE", graft.core.Tables.t(spark, sf, "customer"))
    cat.register("ordE", graft.core.Tables.t(spark, sf, "orders"))
    val got = HashQL.execute(cat,
      "select custE.c_custkey, exists ( select ordE.o_orderkey from ordE " +
        "where ordE.o_custkey = custE.c_custkey ) as has_orders " +
        "from custE where custE.c_custkey <= 30 " +
        "order by custE.c_custkey").get.collect()
    // twin: the semi-join membership set
    val withOrders = graft.core.Tables.t(spark, sf, "orders")
      .select(col("o_custkey")).distinct().as[Long].collect().toSet
    assert(got.forall(r => r.getBoolean(1) == withOrders(r.getLong(0))))
    // an impossible filter flags FALSE (two-valued), never NULL
    val none = HashQL.execute(cat,
      "select custE.c_custkey, exists ( select ordE.o_orderkey from ordE " +
        "where ordE.o_custkey = custE.c_custkey " +
        "and ordE.o_totalprice > 999999999.0 ) as big " +
        "from custE where custE.c_custkey <= 5").get.collect()
    assert(none.nonEmpty && none.forall(r => !r.isNullAt(1) && !r.getBoolean(1)))
    // grouped selects reject toward a CTE
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select custE.c_nationkey, count(*), exists ( select ordE.o_orderkey " +
        "from ordE where ordE.o_custkey = custE.c_nationkey ) as x " +
        "from custE group by custE.c_nationkey"))
    assert(e.getMessage.contains("cannot mix with GROUP BY"), e.getMessage)
  }

  test("quantifiers compose with UPDATE/DELETE WHERE (round-13)") {
    val cat = new GraftCatalog(spark)
    Seq(1, 5, 10).foreach(v =>
      HashQL.execute(cat, s"insert into qd13 (v) values ($v)"))
    Seq(3, 5).foreach(x =>
      HashQL.execute(cat, s"insert into qr13 (x) values ($x)"))
    // UPDATE rows above every reference value
    HashQL.execute(cat,
      "update qd13 set qd13.v = 0 where qd13.v > all " +
        "(select qr13.x from qr13)")
    assert(HashQL.execute(cat, "select qd13.v from qd13 order by qd13.v")
      .get.as[Long].collect().toSeq == Seq(0L, 1L, 5L))
    // DELETE rows below any reference value
    HashQL.execute(cat,
      "delete from qd13 where qd13.v < any (select qr13.x from qr13)")
    assert(HashQL.execute(cat, "select qd13.v from qd13")
      .get.as[Long].collect().toSeq == Seq(5L))
  }

  test("strptime raises on malformed input (ANSI); try_strptime yields NULL (round-14)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into sp (s) values ('2020-01-15'), ('not-a-date')")
    // well-formed rows parse on both spellings
    val ok = HashQL.execute(cat,
      "select try_strptime(sp.s, '%Y-%m-%d') as ts from sp " +
        "where sp.s = '2020-01-15'").get.collect()
    assert(ok.head.getTimestamp(0) ==
      java.sql.Timestamp.valueOf("2020-01-15 00:00:00"))
    // plain strptime RAISES at execution on a malformed row — Spark's
    // ANSI default, which is exactly DuckDB's strptime contract
    intercept[Exception](HashQL.execute(cat,
      "select strptime(sp.s, '%Y-%m-%d') as ts from sp").get.collect())
    // try_strptime is the forgiving NULL pair (DuckDB try_strptime)
    val soft = HashQL.execute(cat,
      "select try_strptime(sp.s, '%Y-%m-%d') as ts from sp " +
        "where sp.s = 'not-a-date'").get.collect()
    assert(soft.head.isNullAt(0))
  }

  test("range-correlated quantifiers rewrite through EXISTS (round-14)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into qo (ck, ok, d, amt) values " +
        "(1, 1, '2020-01-01', 50), (1, 2, '2020-02-01', 30), " +
        "(1, 3, '2020-03-01', 70), (2, 4, '2020-01-15', 20)")
    // ALL with eq + range correlation: the running-max test (an empty
    // set — no earlier orders — is vacuously true, ANSI)
    val lead = HashQL.execute(cat,
      "select qo.ok from qo where qo.amt >= all ( select q2.amt from " +
        "qo q2 where q2.ck = qo.ck and q2.d <= qo.d ) " +
        "order by qo.ok").get.as[Long].collect().toSeq
    assert(lead == Seq(1L, 3L, 4L))
    // ANY with eq + range correlation: beats SOME strictly-earlier order
    val up = HashQL.execute(cat,
      "select qo.ok from qo where qo.amt > any ( select q2.amt from " +
        "qo q2 where q2.ck = qo.ck and q2.d < qo.d ) " +
        "order by qo.ok").get.as[Long].collect().toSeq
    assert(up == Seq(3L))
    // the plan is hash semi/anti — never a nested loop
    val df = HashQL.execute(cat,
      "select qo.ok from qo where qo.amt >= all ( select q2.amt from " +
        "qo q2 where q2.ck = qo.ck and q2.d <= qo.d )").get
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"range-correlated quantifier planned per-row:\n${plan.take(1500)}")
    // pure range correlation (no equality key) still rejects
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select qo.ok from qo where qo.amt >= all ( select q2.amt from " +
        "qo q2 where q2.d <= qo.d )"))
    assert(e.getMessage.contains("EQUALITY"), e.getMessage)
  }

  test("grouped windows over EXPRESSION keys (round-14)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into ge (k, v) values (1, 10), (1, 20), (2, 30), " +
        "(2, 40), (3, 50)")
    // (b) the key is a function of a grouping key — recomputed on the
    // aggregated frame under the reserved name
    val b = HashQL.execute(cat,
      "select ge.k, count(*) as c, rank() over " +
        "(partition by mod(ge.k, 2) order by ge.k) as r " +
        "from ge group by ge.k order by ge.k").get
      .as[(Long, Long, Int)].collect().toSeq
    assert(b == Seq((1L, 2L, 1), (2L, 2L, 1), (3L, 1L, 2)))
    // (a) bare `group by <expr>` spelling: the reserved graft_gk key
    // column survives until the window reads it, then drops
    val a = HashQL.execute(cat,
      "select count(*) as c, rank() over (partition by mod(ge.k, 2) " +
        "order by c desc) as r from ge group by mod(ge.k, 2) " +
        "order by c desc").get.as[(Long, Int)].collect().toSeq
    assert(a == Seq((3L, 1), (2L, 1)))
    // an expression over a NON-key column still rejects
    val bad = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select ge.k, count(*) as c, rank() over " +
        "(partition by mod(ge.v, 2) order by c) as r " +
        "from ge group by ge.k"))
    assert(bad.getMessage.contains("not a grouping key"))
  }

  test("row-returning LATERAL: top-k per row, empty-group drop, fan-out (round-14)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into cust14 (ck) values (1), (2), (3)")
    HashQL.execute(cat,
      "insert into ord14 (ck, ok, amt) values (1, 10, 100), (1, 11, 300), " +
        "(1, 12, 200), (2, 20, 50)")
    // top-1: the single best order per customer; customer 3 (orderless)
    // DROPS — ANSI comma-lateral semantics
    val top1 = HashQL.execute(cat,
      "select cust14.ck, x.ok from cust14, " +
        "lateral ( select ord14.ok from ord14 " +
        "where ord14.ck = cust14.ck order by ord14.amt desc, ord14.ok " +
        "limit 1 ) x order by cust14.ck").get
      .as[(Long, Long)].collect().toSeq
    assert(top1 == Seq((1L, 11L), (2L, 20L)))
    // the 2-arg coalesce projects like any computed column (DuckDB: the
    // same rows)
    val coal = HashQL.execute(cat,
      "select cust14.ck, x.coalesce_amt from cust14, " +
        "lateral ( select coalesce(ord14.amt, 0) from ord14 " +
        "where ord14.ck = cust14.ck order by ord14.amt desc, ord14.ok " +
        "limit 1 ) x order by cust14.ck").get
      .as[(Long, Long)].collect().toSeq
    assert(coal == Seq((1L, 300L), (2L, 50L)))
    // limit 2 fans out: up to two rows per outer row
    val top2 = HashQL.execute(cat,
      "select cust14.ck, x.ok from cust14, " +
        "lateral ( select ord14.ok from ord14 " +
        "where ord14.ck = cust14.ck order by ord14.amt desc, ord14.ok " +
        "limit 2 ) x order by cust14.ck, x.ok").get
      .as[(Long, Long)].collect().toSeq
    assert(top2 == Seq((1L, 11L), (1L, 12L), (2L, 20L)))
    // computed sort keys work (expression order key)
    val comp = HashQL.execute(cat,
      "select cust14.ck, x.ok from cust14, " +
        "lateral ( select ord14.ok from ord14 " +
        "where ord14.ck = cust14.ck " +
        "order by ord14.amt % 7, ord14.ok limit 1 ) x " +
        "order by cust14.ck").get.as[(Long, Long)].collect().toSeq
    assert(comp == Seq((1L, 10L), (2L, 20L))) // 100%7=2 < 200%7=4 < 300%7=6
    // UNCORRELATED body: global top-1 broadcast to every outer row
    val uncorr = HashQL.execute(cat,
      "select cust14.ck, g.ok from cust14, " +
        "lateral ( select ord14.ok from ord14 " +
        "order by ord14.amt desc, ord14.ok limit 1 ) g " +
        "order by cust14.ck").get.as[(Long, Long)].collect().toSeq
    assert(uncorr == Seq((1L, 11L), (2L, 11L), (3L, 11L)))
    // a row-returning body NEEDS order by + limit
    val bare = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select cust14.ck, x.ok from cust14, " +
        "lateral ( select ord14.ok from ord14 " +
        "where ord14.ck = cust14.ck ) x"))
    assert(bare.getMessage.contains("ORDER BY"))
    // LEFT JOIN LATERAL keeps the orderless outer row NULL-extended
    val kept = HashQL.execute(cat,
      "select cust14.ck, coalesce(x.ok, -1) as ok from cust14 " +
        "left join lateral ( select ord14.ok from ord14 " +
        "where ord14.ck = cust14.ck order by ord14.amt desc, ord14.ok " +
        "limit 1 ) x on true order by cust14.ck").get
      .as[(Long, Long)].collect().toSeq
    assert(kept == Seq((1L, 11L), (2L, 20L), (3L, -1L)))
    // RIGHT/FULL JOIN LATERAL reject
    val rj = intercept[IllegalArgumentException](HashQL.parse(
      "select cust14.ck from cust14 right join lateral " +
        "( select ord14.ok from ord14 where ord14.ck = cust14.ck " +
        "order by ord14.ok limit 1 ) x on true"))
    assert(rj.getMessage.contains("JOIN LATERAL"), rj.getMessage)
  }

  test("MERGE INTO: upsert semantics, one commit, id synthesis (round-14)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into inv (sku, qty) values ('a', 5), ('b', 3), ('c', 7)")
    HashQL.execute(cat,
      "insert into ship (sku, amount) values ('b', 10), ('d', 4)")
    val v0 = cat.versionOf("inv")
    HashQL.execute(cat,
      "merge into inv using ship on inv.sku = ship.sku " +
        "when matched then update set inv.qty = inv.qty + ship.amount " +
        "when not matched then insert (sku, qty) " +
        "values (ship.sku, ship.amount)")
    // the whole statement is ONE copy-on-write commit
    assert(cat.versionOf("inv") == v0 + 1)
    val rows = HashQL.execute(cat,
      "select inv.sku, inv.qty from inv order by inv.sku").get
      .as[(String, Long)].collect().toSeq
    assert(rows == Seq(("a", 5L), ("b", 13L), ("c", 7L), ("d", 4L)))
    // inserted rows continue the monotonic id counter (3 originals → 4)
    val ids = cat.table("inv").orderBy("id").select("id", "sku")
      .as[(Long, String)].collect().toSeq
    assert(ids == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // matched-only merge: no inserts, updates only
    HashQL.execute(cat,
      "merge into inv using ship on inv.sku = ship.sku " +
        "when matched then update set inv.qty = ship.amount")
    assert(HashQL.execute(cat,
      "select inv.sku, inv.qty from inv order by inv.sku").get
      .as[(String, Long)].collect().toSeq ==
      Seq(("a", 5L), ("b", 10L), ("c", 7L), ("d", 4L)))
    // not-matched-only merge: everything matches now → no-op append
    HashQL.execute(cat,
      "merge into inv using ship on inv.sku = ship.sku " +
        "when not matched then insert (sku, qty) values (ship.sku, 0)")
    assert(cat.table("inv").count() == 4)
  }

  test("MERGE INTO: dynamic-schema SET, cardinality + scope guards") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into tgt (k, v) values ('a', 1), ('b', 2)")
    HashQL.execute(cat, "insert into srcx (k, w) values ('a', 9)")
    // SET on a column the target never had: dynamic schema adds it
    // (unmatched rows hold null), the dialect's schema-union semantics
    HashQL.execute(cat,
      "merge into tgt using srcx on tgt.k = srcx.k " +
        "when matched then update set tgt.extra = srcx.w")
    val got = HashQL.execute(cat,
      "select tgt.k, coalesce(tgt.extra, -1) as e from tgt " +
        "order by tgt.k").get.as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 9L), ("b", -1L)))
    // duplicate source ON keys reject (ANSI cardinality violation)
    HashQL.execute(cat, "insert into srcx (k, w) values ('a', 8)")
    val dup = intercept[IllegalArgumentException](HashQL.execute(cat,
      "merge into tgt using srcx on tgt.k = srcx.k " +
        "when matched then update set tgt.v = srcx.w"))
    assert(dup.getMessage.contains("duplicate ON keys"))
    // a third table in scope rejects
    val scope = intercept[IllegalArgumentException](HashQL.execute(cat,
      "merge into tgt using srcx on tgt.k = srcx.k " +
        "when matched then update set tgt.v = other.w"))
    assert(scope.getMessage.contains("in scope"))
    // ON must link target to source
    intercept[IllegalArgumentException](HashQL.parse(
      "merge into tgt using srcx on tgt.k = tgt.k " +
        "when matched then update set tgt.v = 1"))
    // at least one WHEN clause
    intercept[IllegalArgumentException](HashQL.parse(
      "merge into tgt using srcx on tgt.k = srcx.k"))
  }

  test("MERGE INTO: conditional clauses + BY SOURCE (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into m15 (k, v, keep) values ('a', 1, 1), ('b', 2, 1), " +
        "('c', 3, 0), ('e', 9, 1)")
    HashQL.execute(cat,
      "insert into s15 (k, w) values ('a', 100), ('b', -1), ('c', 5), " +
        "('d', 7)")
    // guards read target AND source; clauses fire in order; unmatched
    // guard rows fall through UNCHANGED; by-source prunes stale rows
    HashQL.execute(cat,
      "merge into m15 using s15 on m15.k = s15.k " +
        "when matched and s15.w < 0 then delete " +
        "when matched and m15.keep = 1 then update set " +
        "m15.v = m15.v + s15.w " +
        "when not matched then insert (k, v, keep) values (s15.k, s15.w, 1) " +
        "when not matched by source and m15.keep = 1 then delete")
    val got = HashQL.execute(cat,
      "select m15.k, m15.v from m15 order by m15.k").get
      .as[(String, Long)].collect().toSeq
    // a: matched, keep=1 → 1+100; b: w<0 → deleted; c: matched but
    // keep=0 → no clause fires, unchanged; d: inserted; e: not matched
    // by source, keep=1 → deleted
    assert(got == Seq(("a", 101L), ("c", 3L), ("d", 7L)))
  }

  test("MERGE INTO: first-match-wins order, insert guard, scope (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into mo (k, v) values ('a', 10)")
    HashQL.execute(cat, "insert into so (k, w) values ('a', 1), ('z', 0)")
    // both guards hold — the FIRST clause fires (ANSI order)
    HashQL.execute(cat,
      "merge into mo using so on mo.k = so.k " +
        "when matched and mo.v > 5 then update set mo.v = 1 " +
        "when matched and mo.v > 0 then update set mo.v = 2 " +
        "when not matched and so.w > 0 then insert (k, v) values (so.k, so.w)")
    val got = HashQL.execute(cat,
      "select mo.k, mo.v from mo order by mo.k").get
      .as[(String, Long)].collect().toSeq
    // 'z' fails the insert guard (w = 0) → not inserted
    assert(got == Seq(("a", 1L)))
    // an EARLIER unconditional matched clause makes the rest
    // unreachable — parse-time reject
    val un = intercept[IllegalArgumentException](HashQL.parse(
      "merge into mo using so on mo.k = so.k " +
        "when matched then delete " +
        "when matched and mo.v > 0 then update set mo.v = 1"))
    assert(un.getMessage.contains("unconditional"), un.getMessage)
    // a BY SOURCE guard reads the TARGET only (there is no source image)
    val bs = intercept[IllegalArgumentException](HashQL.execute(cat,
      "merge into mo using so on mo.k = so.k " +
        "when not matched by source and so.w > 0 then delete"))
    assert(bs.getMessage.contains("TARGET"), bs.getMessage)
    // a NOT MATCHED insert guard reads the SOURCE only
    val nm = intercept[IllegalArgumentException](HashQL.execute(cat,
      "merge into mo using so on mo.k = so.k " +
        "when not matched and mo.v > 0 then insert (k, v) values (so.k, 1)"))
    assert(nm.getMessage.contains("SOURCE"), nm.getMessage)
  }

  test("MERGE: BY SOURCE UPDATE + multiple NOT MATCHED clauses (round-16)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into m16 (k, v, active) values " +
        "('a', 1, 1), ('b', 2, 1), ('c', 8, 1)")
    HashQL.execute(cat,
      "insert into s16 (k, w) values ('a', 10), ('x', 50), ('y', 3)")
    // by-source tier is ordered first-match-wins: stale rows with v < 5
    // drop, the rest are FLAGGED (update, round-16); not-matched tier
    // is ordered too, with different column lists per clause
    HashQL.execute(cat,
      "merge into m16 using s16 on m16.k = s16.k " +
        "when matched then update set m16.v = s16.w " +
        "when not matched by source and m16.v < 5 then delete " +
        "when not matched by source then update set m16.active = 0 " +
        "when not matched and s16.w >= 10 then " +
        "insert (k, v, tag) values (s16.k, s16.w, 'big') " +
        "when not matched then insert (k, v) values (s16.k, s16.w)")
    // coalesce is the skip-exempt projection — bare `m16.tag` would
    // SKIP the rows where the merge left the field null (P1 semantics)
    val got = HashQL.execute(cat,
      "select m16.k, m16.v, coalesce(m16.active, -1) as act, " +
        "coalesce(m16.tag, '') as tag from m16 order by m16.k")
      .get.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    // a: matched → v=10, active kept; b: stale v=2<5 → deleted;
    // c: stale v=8 → active flagged 0; x: big insert (active null);
    // y: small insert via the second clause (tag null)
    assert(got == Seq(("a", 10L, 1L, ""), ("c", 8L, 0L, ""),
      ("x", 50L, -1L, "big"), ("y", 3L, -1L, "")))
    // reachability: an EARLIER unconditional clause in each new tier
    // rejects at parse
    val ub = intercept[IllegalArgumentException](HashQL.parse(
      "merge into m16 using s16 on m16.k = s16.k " +
        "when not matched by source then delete " +
        "when not matched by source and m16.v > 0 then update set " +
        "m16.active = 0"))
    assert(ub.getMessage.contains("unconditional"), ub.getMessage)
    val ui = intercept[IllegalArgumentException](HashQL.parse(
      "merge into m16 using s16 on m16.k = s16.k " +
        "when not matched then insert (k) values (s16.k) " +
        "when not matched and s16.w > 0 then insert (k) values (s16.k)"))
    assert(ui.getMessage.contains("unconditional"), ui.getMessage)
    // a BY SOURCE update's right-hand side reads the TARGET only
    val sc = intercept[IllegalArgumentException](HashQL.execute(cat,
      "merge into m16 using s16 on m16.k = s16.k " +
        "when not matched by source then update set m16.v = s16.w"))
    assert(sc.getMessage.contains("TARGET"), sc.getMessage)
  }

  test("MERGE cardinality: duplicate keys among pure inserts are legal " +
    "(round-15, r14 advice)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into tc (k, v) values ('a', 1)")
    HashQL.execute(cat,
      "insert into sc (k, w) values ('x', 1), ('x', 2), ('a', 5)")
    // duplicate 'x' keys hit NO target row — ANSI inserts both
    HashQL.execute(cat,
      "merge into tc using sc on tc.k = sc.k " +
        "when matched then update set tc.v = sc.w " +
        "when not matched then insert (k, v) values (sc.k, sc.w)")
    val got = HashQL.execute(cat,
      "select tc.k, tc.v from tc order by tc.k, tc.v").get
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 5L), ("x", 1L), ("x", 2L)))
    // duplicates that DO hit a target row still reject
    HashQL.execute(cat, "insert into sc (k, w) values ('a', 6)")
    val dup = intercept[IllegalArgumentException](HashQL.execute(cat,
      "merge into tc using sc on tc.k = sc.k " +
        "when matched then update set tc.v = sc.w"))
    assert(dup.getMessage.contains("duplicate ON keys"), dup.getMessage)
  }

  test("range-correlated ALL sees NULL inner values (round-15, r14 advice)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into pa (pcat, price, day) values ('g', 50, 10), ('h', 50, 10)")
    HashQL.execute(cat,
      "insert into oa (ocat, oprice, oday) values ('g', 40, 5), " +
        "('h', 40, 5), ('h', 30, 6)")
    // plant a NULL inner value inside h's range window
    HashQL.execute(cat, "update oa set oa.oprice = null where oa.oday = 6")
    val got = HashQL.execute(cat,
      "select pa.pcat from pa where pa.price >= all " +
        "(select oa.oprice from oa where oa.ocat = pa.pcat " +
        "and oa.oday < pa.day) order by pa.pcat").get
      .as[String].collect().toSeq
    // ANSI: h's NULL offer makes `50 >= NULL` UNKNOWN — the ALL
    // quantifier is not TRUE, the row drops (the r14 skip would have
    // silently kept it)
    assert(got == Seq("g"))
  }

  test("row-returning LATERAL may project its correlation key " +
    "(round-15, r14 advice)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into lc (ck, nm) values (1, 'a'), (2, 'b')")
    HashQL.execute(cat,
      "insert into lo (k, v) values (1, 10), (1, 30), (2, 20), (2, 40)")
    // the body projects lo.k, which is ALSO the correlation key — the
    // projected column serves the join key (no duplicate projection)
    val got = HashQL.execute(cat,
      "select lc.nm, x.k, x.v from lc, lateral (select lo.k, lo.v from lo " +
        "where lo.k = lc.ck order by lo.v desc limit 1) x " +
        "order by lc.nm").get
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 1L, 30L), ("b", 2L, 40L)))
  }

  test("range-lateral aggregate EXPRESSIONS over correlation columns " +
    "(round-15, r14 advice)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into rl (k, d) values (1, 10), (2, 10)")
    HashQL.execute(cat,
      "insert into ru (k, d, v) values (1, 3, 5), (1, 20, 7), (2, 4, 11)")
    // sum(ru.d * 2): ru.d ALSO serves the range conjunct, so it rides
    // in as a reserved slot — the expression must read the slot
    val got = HashQL.execute(cat,
      "select rl.k, x.sd from rl, lateral (select sum(ru.d * 2) as sd " +
        "from ru where ru.k = rl.k and ru.d < rl.d) x order by rl.k").get
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 6L), (2L, 8L)))
  }

  test("UPDATE … FROM cardinality narrowed to actual hits (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into uh (k, v) values ('a', 1)")
    HashQL.execute(cat,
      "insert into us (k, w) values ('x', 1), ('x', 2), ('a', 5)")
    // duplicate 'x' keys hit NO target row — they update nothing and
    // must not reject (mirrors the MERGE r14-advice fix)
    HashQL.execute(cat,
      "update uh set uh.v = us.w from us where uh.k = us.k")
    assert(HashQL.execute(cat, "select uh.v from uh").get
      .as[Long].collect().toSeq == Seq(5L))
    // duplicates that DO hit still reject
    HashQL.execute(cat, "insert into us (k, w) values ('a', 6)")
    val dup = intercept[IllegalArgumentException](HashQL.execute(cat,
      "update uh set uh.v = us.w from us where uh.k = us.k"))
    assert(dup.getMessage.contains("more than"), dup.getMessage)
  }

  test("UPDATE … FROM guards: linking equality + third-table reject " +
    "(round-15, r14 advice)") {
    // the linking equality must join the TARGET and the NAMED source
    val lk = intercept[IllegalArgumentException](HashQL.parse(
      "update t set t.v = 1 from u where t.k = x.k"))
    assert(lk.getMessage.contains("linking"), lk.getMessage)
    // no third table anywhere in the WHERE
    val th = intercept[IllegalArgumentException](HashQL.parse(
      "update t set t.v = 1 from u where t.k = u.k and x.j = 3"))
    assert(th.getMessage.contains("scope"), th.getMessage)
  }

  test("UNNEST in FROM position (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into ut (k, s) values (1, 'a b'), (2, 'c'), (3, '')")
    // split + unnest: one row per element; refs address the alias
    val got = HashQL.execute(cat,
      "select ut.k, u.w from ut, unnest(split(ut.s, ' ')) as u(w) " +
        "order by ut.k, u.w").get.as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "")))
    // the unnest column participates in WHERE and GROUP BY
    val agg = HashQL.execute(cat,
      "select u.w, count(*) as cnt from ut, unnest(split(ut.s, ' ')) " +
        "as u(w) where u.w <> '' group by u.w order by u.w").get
      .as[(String, Long)].collect().toSeq
    assert(agg == Seq(("a", 1L), ("b", 1L), ("c", 1L)))
    // output-name collision rejects
    val cl = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select ut.k from ut, unnest(split(ut.s, ' ')) as u(k)"))
    assert(cl.getMessage.contains("collides"), cl.getMessage)
  }

  test("generate_series in FROM position (round-15)") {
    val cat = new GraftCatalog(spark)
    // integer series, inclusive both ends, default step 1
    val g1 = HashQL.execute(cat,
      "select g.i from generate_series(1, 5) g(i) order by g.i").get
      .as[Long].collect().toSeq
    assert(g1 == Seq(1L, 2L, 3L, 4L, 5L))
    // explicit step
    val g2 = HashQL.execute(cat,
      "select g.i from generate_series(1, 9, 3) g(i) order by g.i").get
      .as[Long].collect().toSeq
    assert(g2 == Seq(1L, 4L, 7L))
    // date series with an interval step (the calendar source)
    val g3 = HashQL.execute(cat,
      "select g.d from generate_series(cast('2024-01-01' as date), " +
        "cast('2024-01-04' as date), interval '1' day) g(d) " +
        "order by g.d").get.collect().map(_.get(0).toString).toSeq
    assert(g3 == Seq("2024-01-01", "2024-01-02", "2024-01-03",
      "2024-01-04"))
    // a series JOINS like any source (gap-fill idiom)
    HashQL.execute(cat, "insert into gs (n, v) values (2, 20), (4, 40)")
    val g4 = HashQL.execute(cat,
      "select g.i, coalesce(gs.v, 0) as v from generate_series(1, 4) g(i) " +
        "left join gs on gs.n = g.i order by g.i").get
      .as[(Long, Long)].collect().toSeq
    assert(g4 == Seq((1L, 0L), (2L, 20L), (3L, 0L), (4L, 40L)))
    // column refs in bounds reject
    val cr = intercept[IllegalArgumentException](HashQL.parse(
      "select g.i from generate_series(1, gs.n) g(i)"))
    assert(cr.getMessage.contains("literal"), cr.getMessage)
  }

  test("dynamic PIVOT discovers values; cap rejects (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into pd (g, k, v) values ('a', 'x', 1), ('a', 'y', 3), " +
        "('b', 'y', 4)")
    // no IN list: values discovered (sorted), same plan as explicit
    val dyn = HashQL.execute(cat,
      "pivot pd on pd.k using sum(pd.v) group by pd.g").get
      .orderBy("g").as[(String, Option[Long], Option[Long])]
      .collect().toSeq
    assert(dyn == Seq(("a", Some(1L), Some(3L)), ("b", None, Some(4L))))
    // NULL pivot keys mint no column
    HashQL.execute(cat, "insert into pd (g, v) values ('a', 9)")
    val dyn2 = HashQL.execute(cat,
      "pivot pd on pd.k using sum(pd.v) group by pd.g").get
    assert(dyn2.columns.toSeq == Seq("g", "x", "y"), dyn2.columns.toSeq)
    // multi-aggregate USING (round-16): columns <value>_<alias>, one
    // aggregation pass; empty COUNT cells render 0
    val multi = HashQL.execute(cat,
      "pivot pd on pd.k using sum(pd.v) as s, count(*) as c " +
        "group by pd.g").get.orderBy("g")
    assert(multi.columns.toSeq == Seq("g", "x_s", "x_c", "y_s", "y_c"),
      multi.columns.toSeq)
    val mrows = multi
      .as[(String, Option[Long], Long, Option[Long], Long)]
      .collect().toSeq
    assert(mrows == Seq(("a", Some(1L), 1L, Some(3L), 1L),
      ("b", None, 0L, Some(4L), 1L)))
    // multiple aggregates need aliases; a single one rejects an alias
    val noal = intercept[IllegalArgumentException](HashQL.execute(cat,
      "pivot pd on pd.k using sum(pd.v), count(*) group by pd.g"))
    assert(noal.getMessage.contains("alias"), noal.getMessage)
    // the dynamic cap is a SESSION setting (round-16)
    spark.conf.set("graft.pivot.dynamicCap", "1")
    try {
      val low = intercept[IllegalArgumentException](HashQL.execute(cat,
        "pivot pd on pd.k using sum(pd.v) group by pd.g"))
      assert(low.getMessage.contains("dynamicCap"), low.getMessage)
    } finally spark.conf.unset("graft.pivot.dynamicCap")
  }

  test("LATERAL body DISTINCT and OFFSET (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into lod (k) values (1), (2)")
    HashQL.execute(cat,
      "insert into lou (k, v) values (1, 10), (1, 20), (1, 20), " +
        "(1, 30), (2, 5)")
    // OFFSET: rank 2..3 per key (rn between off+1 and off+lim)
    val got = HashQL.execute(cat,
      "select lod.k, x.v from lod, lateral (select lou.v from lou " +
        "where lou.k = lod.k order by lou.v desc, lou.v limit 2 offset 1) x " +
        "order by lod.k, x.v").get.as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 20L), (1L, 20L)))
    // DISTINCT dedups before the rank — the duplicate 20 collapses
    val dis = HashQL.execute(cat,
      "select lod.k, x.v from lod, lateral (select distinct lou.v " +
        "from lou where lou.k = lod.k order by lou.v desc limit 2) x " +
        "order by lod.k, x.v").get.as[(Long, Long)].collect().toSeq
    assert(dis == Seq((1L, 20L), (1L, 30L), (2L, 5L)))
    // DISTINCT + an ORDER BY over a non-projected, non-key column
    // rejects (which duplicate survives would decide the order)
    HashQL.execute(cat,
      "insert into lox (k, v, w) values (1, 10, 3), (1, 10, 9)")
    val bad = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select lod.k, x.v from lod, lateral (select distinct lox.v " +
        "from lox where lox.k = lod.k order by lox.w limit 1) x"))
    assert(bad.getMessage.contains("projected"), bad.getMessage)
  }

  test("pure-range EXISTS reduces to min/max stats (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into ev15 (d) values (5), (8)")
    HashQL.execute(cat, "insert into q15 (x) values (6), (9), (3)")
    // ∃ d < x ⇔ min(d) < x — one 1-row broadcast, no join
    val ex = HashQL.execute(cat,
      "select q15.x from q15 where exists (select ev15.d from ev15 " +
        "where ev15.d < q15.x) order by q15.x").get
      .as[Long].collect().toSeq
    assert(ex == Seq(6L, 9L))
    val nex = HashQL.execute(cat,
      "select q15.x from q15 where not exists (select ev15.d from ev15 " +
        "where ev15.d < q15.x) order by q15.x").get
      .as[Long].collect().toSeq
    assert(nex == Seq(3L))
    // inequality form: ∃ d ≠ x
    HashQL.execute(cat, "insert into one15 (d) values (6)")
    val ne = HashQL.execute(cat,
      "select q15.x from q15 where not exists (select one15.d from one15 " +
        "where one15.d <> q15.x) order by q15.x").get
      .as[Long].collect().toSeq
    assert(ne == Seq(6L))
    // under OR (flag position) — the 1-row broadcast is row-preserving
    val fl = HashQL.execute(cat,
      "select q15.x from q15 where q15.x = 3 or exists " +
        "(select ev15.d from ev15 where ev15.d > q15.x) " +
        "order by q15.x").get.as[Long].collect().toSeq
    assert(fl == Seq(3L, 6L))
    // TWO pure-range conjuncts still reject (no joint witness)
    val two = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select q15.x from q15 where exists (select ev15.d from ev15 " +
        "where ev15.d < q15.x and ev15.d <> q15.x)"))
    assert(two.getMessage.contains("ONE conjunct"), two.getMessage)
    // the plan carries a 1-ROW broadcast (the stats frame), never a
    // row-to-row join: the only join input above the aggregate is the
    // broadcast side
    val df = HashQL.execute(cat,
      "select q15.x from q15 where exists (select ev15.d from ev15 " +
        "where ev15.d < q15.x)").get
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("Aggregate"), plan.take(800))
  }

  test("levenshtein/list-membership, bit aggregates, mode, SUMMARIZE (round-16)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into fx (s) values ('kitten')")
    val f = HashQL.execute(cat,
      "select levenshtein(fx.s, 'sitting') as lv, " +
        "list_has_any(split(fx.s, 't'), split(fx.s, 'k')) as ha, " +
        "list_has_all(split(fx.s, 't'), split(fx.s, 'q')) as hb, " +
        "array_to_string(list_intersect(split(fx.s, 't'), " +
        "split(fx.s, 'k')), '|') as li from fx").get.collect().head
    assert(f.getAs[Long]("lv") == 3L)
    // split('kitten','t')=[ki,,en]; split('kitten','k')=[,itten] —
    // shared element '' → ha true; hb: is [,itten] ⊆ [ki,,en]? no
    assert(f.getAs[Boolean]("ha") && !f.getAs[Boolean]("hb"))
    assert(f.getAs[String]("li") == "")
    // bit aggregates: 12&10&6=0, |=14, ^=0; NULL rows skip
    HashQL.execute(cat,
      "insert into bt (g, v) values ('a', 12), ('a', 10), ('a', 6)")
    HashQL.execute(cat, "insert into bt (g) values ('a')")
    val b = HashQL.execute(cat,
      "select bt.g, bit_and(bt.v) as ba, bit_or(bt.v) as bo, " +
        "bit_xor(bt.v) as bx from bt group by bt.g").get.collect().head
    assert((b.getAs[Long]("ba"), b.getAs[Long]("bo"),
      b.getAs[Long]("bx")) == ((0L, 14L, 0L)))
    // mode: deterministic — counts tie (2,2) → smallest value wins;
    // NULL elements skip
    HashQL.execute(cat,
      "insert into md (g, v) values ('a', 5), ('a', 3), ('a', 5), " +
        "('a', 3), ('a', 1), ('b', 7)")
    HashQL.execute(cat, "insert into md (g) values ('b')")
    val m = HashQL.execute(cat,
      "select md.g, mode(md.v) as mo from md group by md.g " +
        "order by md.g").get.collect()
    assert(m.map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq(("a", 3L), ("b", 7L)))
    // SUMMARIZE: per-column card off one aggregation; nulls counted
    val sz = HashQL.execute(cat, "summarize md").get
      .orderBy("column_name").collect()
    val vRow = sz.find(_.getString(0) == "v").get
    assert(vRow.getAs[String]("min") == "1" &&
      vRow.getAs[String]("max") == "7")
    assert(vRow.getAs[Long]("n") == 6L && vRow.getAs[Long]("nnull") == 1L
      && vRow.getAs[Long]("ndv") == 4L)
  }

  test("two-range EXISTS: banded joint witness (round-16)") {
    val cat = new GraftCatalog(spark)
    // witness table: (a, b) — joint test (a < x AND b > y) must find a
    // SINGLE row satisfying both; (1, 1) and (9, 9) mean independent
    // min(a)/max(b) stats would claim witnesses that don't exist
    HashQL.execute(cat,
      "insert into wt (a, b) values (1, 1), (9, 9), (5, 4)")
    HashQL.execute(cat,
      "insert into qr (x, y) values (2, 0), (2, 3), (6, 3), (10, 8), (1, 0)")
    val ex = HashQL.execute(cat,
      "select qr.x, qr.y from qr where exists (select wt.a from wt " +
        "where wt.a < qr.x and wt.b > qr.y) order by qr.x, qr.y").get
      .as[(Long, Long)].collect().toSeq
    // (2,0): row (1,1) ✓; (2,3): only a<2 is (1,1), b=1 ≤ 3 ✗;
    // (6,3): (5,4) ✓; (10,8): (9,9) ✓; (1,0): no a < 1 ✗
    assert(ex == Seq((2L, 0L), (6L, 3L), (10L, 8L)))
    // NOT EXISTS — the anti form over the same banded join
    val nex = HashQL.execute(cat,
      "select qr.x, qr.y from qr where not exists (select wt.a from wt " +
        "where wt.a < qr.x and wt.b > qr.y) order by qr.x, qr.y").get
      .as[(Long, Long)].collect().toSeq
    assert(nex == Seq((1L, 0L), (2L, 3L)))
    // flipped directions: band on >, witness on < (suffix fold, min)
    val fl = HashQL.execute(cat,
      "select qr.x, qr.y from qr where exists (select wt.a from wt " +
        "where wt.a > qr.x and wt.b < qr.y) order by qr.x, qr.y").get
      .as[(Long, Long)].collect().toSeq
    // (2,3): (5,4)? b=4 ≥ 3 ✗; (9,9)? b=9 ✗ → none... wait (5,4): a>2 ✓
    // b<3 ✗; none ✗. (10,8): a>10 none ✗. (2,0)/(1,0): b<0 none ✗.
    // (6,3): a>6 → (9,9), b<3 ✗ → none.
    assert(fl == Seq())
    // …and a satisfiable flipped probe
    HashQL.execute(cat, "insert into qr (x, y) values (4, 10)")
    val fl2 = HashQL.execute(cat,
      "select qr.x from qr where exists (select wt.a from wt " +
        "where wt.a > qr.x and wt.b < qr.y)").get
      .as[Long].collect().toSeq
    assert(fl2 == Seq(4L)) // (5,4) and (9,9) both witness
    // the plan is an equi-join on the bucket key — never a nested loop
    val pf = HashQL.execute(cat,
      "select qr.x from qr where exists (select wt.a from wt " +
        "where wt.a < qr.x and wt.b > qr.y)").get
    val plan = pf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(1200))
    // a non-integer band column rejects toward the equality spelling
    HashQL.execute(cat, "insert into ws (a, b) values ('s', 1)")
    val ni = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select qr.x from qr where exists (select ws.a from ws " +
        "where ws.a < qr.x and ws.b > qr.y)"))
    assert(ni.getMessage.contains("integer column"), ni.getMessage)
  }

  test("ASOF JOIN: backward/forward, inner/left, guards (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into tr (sym, tts, px) values ('a', 3, 10), ('a', 7, 20), " +
        "('b', 1, 5)")
    HashQL.execute(cat,
      "insert into qt (qsym, qts, bid) values ('a', 1, 1), ('a', 5, 5), " +
        "('a', 9, 9)")
    // backward inner: latest quote at-or-before each trade; 'b' has no
    // quote → dropped (DuckDB's bare ASOF JOIN)
    val bi = HashQL.execute(cat,
      "select tr.sym, tr.tts, qt.bid from tr asof join qt " +
        "on tr.sym = qt.qsym and qt.qts <= tr.tts " +
        "order by tr.sym, tr.tts").get
      .as[(String, Long, Long)].collect().toSeq
    assert(bi == Seq(("a", 3L, 1L), ("a", 7L, 5L)))
    // forward left: earliest quote at-or-after; 'b' kept NULL-extended
    val fl = HashQL.execute(cat,
      "select tr.sym, tr.tts, qt.bid from tr asof left join qt " +
        "on tr.sym = qt.qsym and qt.qts >= tr.tts " +
        "order by tr.sym, tr.tts").get
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)))).toSeq
    assert(fl == Seq(("a", 3L, Some(5L)), ("a", 7L, Some(9L)),
      ("b", 1L, None)))
    // strict bounds reject toward the inclusive forms
    val st = intercept[IllegalArgumentException](HashQL.parse(
      "select tr.sym from tr asof join qt on tr.sym = qt.qsym " +
        "and qt.qts < tr.tts"))
    assert(st.getMessage.contains("INCLUSIVE"), st.getMessage)
    // the plan is union + one keyed window — never a per-key cross join
    val df = HashQL.execute(cat,
      "select tr.sym, qt.bid from tr asof join qt " +
        "on tr.sym = qt.qsym and qt.qts <= tr.tts").get
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"ASOF planned per-row:\n${plan.take(1200)}")
    assert(plan.contains("Window"), plan.take(800))
  }

  test("* EXCLUDE / REPLACE star modifiers (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into sm (a, b, c) values (1, 2, 'x'), (3, 4, 'y')")
    val ex = HashQL.execute(cat,
      "select * exclude (id, b) from sm order by sm.a").get
    assert(ex.columns.toSeq == Seq("a", "c"), ex.columns.toSeq)
    assert(ex.as[(Long, String)].collect().toSeq ==
      Seq((1L, "x"), (3L, "y")))
    // REPLACE rewrites a column in place, keeping position + name
    val rp = HashQL.execute(cat,
      "select * exclude (id) replace (sm.a * 10 as a) from sm " +
        "order by sm.b").get
    assert(rp.columns.toSeq == Seq("a", "b", "c"), rp.columns.toSeq)
    assert(rp.as[(Long, Long, String)].collect().toSeq ==
      Seq((10L, 2L, "x"), (30L, 4L, "y")))
    // unknown / double-booked columns reject
    val uk = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select * exclude (zz) from sm"))
    assert(uk.getMessage.contains("unknown"), uk.getMessage)
    val db = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select * exclude (a) replace (sm.a + 1 as a) from sm"))
    assert(db.getMessage.contains("both"), db.getMessage)
    // joins reject toward explicit projection
    HashQL.execute(cat, "insert into sm2 (a, d) values (1, 9)")
    val jn = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select * exclude (id) from sm join sm2 on sm.a = sm2.a"))
    assert(jn.getMessage.contains("SINGLE-table"), jn.getMessage)
  }

  test("INSERT … ON CONFLICT upsert (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into oc (k, v) values ('a', 1), ('b', 2)")
    // DO UPDATE: conflicting rows update through excluded.*, others insert
    HashQL.execute(cat,
      "insert into oc (k, v) values ('a', 10), ('c', 30) " +
        "on conflict (k) do update set oc.v = excluded.v + oc.v")
    val got = HashQL.execute(cat,
      "select oc.k, oc.v from oc order by oc.k").get
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 11L), ("b", 2L), ("c", 30L)))
    // DO NOTHING: conflicting rows skip silently
    HashQL.execute(cat,
      "insert into oc (k, v) values ('a', 99), ('d', 4) " +
        "on conflict (k) do nothing")
    val got2 = HashQL.execute(cat,
      "select oc.k, oc.v from oc order by oc.k").get
      .as[(String, Long)].collect().toSeq
    assert(got2 == Seq(("a", 11L), ("b", 2L), ("c", 30L), ("d", 4L)))
    // duplicate conflict keys WITHIN the batch reject (DuckDB too)
    val dup = intercept[IllegalArgumentException](HashQL.execute(cat,
      "insert into oc (k, v) values ('x', 1), ('x', 2) " +
        "on conflict (k) do update set oc.v = excluded.v"))
    assert(dup.getMessage.contains("duplicate conflict keys"),
      dup.getMessage)
    // a key not in the inserted columns rejects
    val bk = intercept[IllegalArgumentException](HashQL.execute(cat,
      "insert into oc (v) values (1) on conflict (k) do nothing"))
    assert(bk.getMessage.contains("inserted columns"), bk.getMessage)
  }

  test("string_agg ORDER BY key, RETURNING, COPY round-trip (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into sa (g, nm, rk) values ('x', 'b', 3), ('x', 'a', 1), " +
        "('x', 'c', 2), ('y', 'z', 1)")
    // within-group ordering by ANOTHER column, asc + desc
    val got = HashQL.execute(cat,
      "select sa.g, string_agg(sa.nm, ',' order by sa.rk) as s " +
        "from sa group by sa.g order by sa.g").get
      .as[(String, String)].collect().toSeq
    assert(got == Seq(("x", "a,c,b"), ("y", "z")))
    val desc = HashQL.execute(cat,
      "select sa.g, string_agg(sa.nm, '-' order by sa.rk desc) as s " +
        "from sa group by sa.g order by sa.g").get
      .as[(String, String)].collect().toSeq
    assert(desc == Seq(("x", "b-c-a"), ("y", "z")))
    // INSERT … RETURNING: the inserted rows (ids included under *)
    val ins = HashQL.execute(cat,
      "insert into rr (k, v) values ('a', 1), ('b', 2) returning k, v").get
      .as[(String, Long)].collect().toSeq.sorted
    assert(ins == Seq(("a", 1L), ("b", 2L)))
    val insStar = HashQL.execute(cat,
      "insert into rr (k, v) values ('c', 3) returning *").get
    assert(insStar.columns.contains("id"), insStar.columns.toSeq)
    // UPDATE … RETURNING: the updated rows' after-image
    val upd = HashQL.execute(cat,
      "update rr set rr.v = rr.v + 100 where rr.v <= 2 returning k, v").get
      .as[(String, Long)].collect().toSeq.sorted
    assert(upd == Seq(("a", 101L), ("b", 102L)))
    HashQL.execute(cat,
      "update rr set rr.v = rr.v - 100 where rr.v > 100")
    // DELETE … RETURNING: the deleted rows' before-image
    val del = HashQL.execute(cat,
      "delete from rr where rr.v <= 2 returning k").get
      .as[String].collect().toSeq.sorted
    assert(del == Seq("a", "b"))
    assert(HashQL.execute(cat, "select rr.k from rr").get.count() == 1)
    // COPY TO / FROM round-trips, parquet and csv (schema sidecar)
    val dir = java.nio.file.Files.createTempDirectory("graft_copy").toString
    HashQL.execute(cat, s"copy rr to '$dir/rr_pq' (format parquet)")
    HashQL.execute(cat, s"copy rr2 from '$dir/rr_pq' (format parquet)")
    assert(HashQL.execute(cat,
      "select rr2.k, rr2.v from rr2").get
      .as[(String, Long)].collect().toSeq == Seq(("c", 3L)))
    HashQL.execute(cat, s"copy sa to '$dir/sa_csv' (format csv)")
    HashQL.execute(cat, s"copy sa2 from '$dir/sa_csv' (format csv)")
    assert(HashQL.execute(cat,
      "select sa2.g, sa2.nm, sa2.rk from sa2 order by sa2.g, sa2.rk").get
      .collect().length == 4)
    // the csv round-trip kept exact types (sidecar, not inferSchema)
    assert(cat.table("sa2").schema == cat.table("sa").schema)
    // COPY FROM refuses to clobber an existing table
    val cl = intercept[IllegalArgumentException](HashQL.execute(cat,
      s"copy rr from '$dir/rr_pq' (format parquet)"))
    assert(cl.getMessage.contains("exists"), cl.getMessage)
  }

  test("tuple (a, b) IN subquery (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into docs15 (src, pg, score) values ('s1', 1, 10), " +
        "('s1', 2, 20), ('s2', 1, 30)")
    HashQL.execute(cat,
      "insert into bad15 (bsrc, bpg) values ('s1', 2), ('s2', 1), " +
        "('s3', 9)")
    val got = HashQL.execute(cat,
      "select docs15.score from docs15 where (docs15.src, docs15.pg) in " +
        "(select bad15.bsrc, bad15.bpg from bad15) " +
        "order by docs15.score").get.as[Long].collect().toSeq
    assert(got == Seq(20L, 30L))
    // composes with other conjuncts
    val got2 = HashQL.execute(cat,
      "select docs15.score from docs15 where (docs15.src, docs15.pg) in " +
        "(select bad15.bsrc, bad15.bpg from bad15) and docs15.score > 25").get
      .as[Long].collect().toSeq
    assert(got2 == Seq(30L))
    // the NOT form rejects toward NOT EXISTS (the ANSI NULL trap)
    val ni = intercept[IllegalArgumentException](HashQL.parse(
      "select docs15.score from docs15 where (docs15.src, docs15.pg) " +
        "not in (select bad15.bsrc, bad15.bpg from bad15)"))
    assert(ni.getMessage.contains("NOT EXISTS"), ni.getMessage)
    // arity mismatch rejects
    val ar = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select docs15.score from docs15 where (docs15.src, docs15.pg) in " +
        "(select bad15.bsrc from bad15)"))
    assert(ar.getMessage.contains("key(s)"), ar.getMessage)
  }

  test("CTE-headed DML (round-15)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into cd (k, v) values ('a', 1), ('b', 2), ('c', 30)")
    // WITH … INSERT INTO … SELECT: the CTE stages the row set
    HashQL.execute(cat,
      "with big as (select cd.k, cd.v from cd where cd.v >= 2) " +
        "insert into arch (k, v) select big.k, big.v from big")
    assert(HashQL.execute(cat,
      "select arch.k from arch order by arch.k").get
      .as[String].collect().toSeq == Seq("b", "c"))
    // WITH … DELETE with a staged subquery predicate (+ RETURNING)
    val del = HashQL.execute(cat,
      "with doomed as (select cd.k from cd where cd.v > 10) " +
        "delete from cd where cd.k in (select doomed.k from doomed) " +
        "returning k").get.as[String].collect().toSeq
    assert(del == Seq("c"))
    assert(HashQL.execute(cat, "select cd.k from cd").get.count() == 2)
    // WITH … MERGE: the CTE is the merge SOURCE
    HashQL.execute(cat,
      "with src as (select arch.k, arch.v * 10 as w from arch) " +
        "merge into cd using src on cd.k = src.k " +
        "when matched then update set cd.v = src.w " +
        "when not matched then insert (k, v) values (src.k, src.w)")
    assert(HashQL.execute(cat,
      "select cd.k, cd.v from cd order by cd.k").get
      .as[(String, Long)].collect().toSeq ==
      Seq(("a", 1L), ("b", 20L), ("c", 300L)))
    // a CTE name as the DML TARGET rejects
    val bad = intercept[IllegalArgumentException](HashQL.execute(cat,
      "with x as (select cd.k from cd) delete from x"))
    assert(bad.getMessage.contains("CTE name"), bad.getMessage)
    // the source CTE may derive from the TARGET itself (the re-crawl
    // self-refresh shape) — self-lineage joins must still plan
    HashQL.execute(cat,
      "with topv as (select cd.k, cd.v from cd where cd.v >= 20) " +
        "merge into cd using topv on cd.k = topv.k " +
        "when matched then update set cd.v = topv.v + 1")
    assert(HashQL.execute(cat,
      "select cd.k, cd.v from cd order by cd.k").get
      .as[(String, Long)].collect().toSeq ==
      Seq(("a", 1L), ("b", 21L), ("c", 301L)))
  }

  test("IGNORE NULLS and BETWEEN expression bounds (round-14)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into ig (o, v) values (1, 10), (2, null), (3, null), (4, 40)")
    // lag/lead/first/last with IGNORE NULLS
    val got = HashQL.execute(cat,
      "select ig.o, lag(ig.v ignore nulls) over (order by ig.o) as pv, " +
        "lead(ig.v ignore nulls) over (order by ig.o) as nv " +
        "from ig order by ig.o").get.collect()
    assert(got.map(r => Option(r.get(1))).toSeq ==
      Seq(None, Some(10L), Some(10L), Some(10L)))
    assert(got.map(r => Option(r.get(2))).toSeq ==
      Seq(Some(40L), Some(40L), Some(40L), None))
    // tiebreak + ignore nulls under a RANGE frame: NULL values never
    // win the struct extremum
    HashQL.execute(cat,
      "insert into igd (d, k, v) values ('2020-01-01', 1, null), " +
        "('2020-01-01', 2, 7), ('2020-01-03', 3, 9)")
    val fr = HashQL.execute(cat,
      "select igd.k, first_value(igd.v, igd.k ignore nulls) over " +
        "(order by igd.d range between interval '2' day preceding " +
        "and current row) as fv from igd order by igd.k").get.collect()
    assert(fr.map(r => Option(r.get(1))).toSeq ==
      Seq(Some(7L), Some(7L), Some(7L)))
    // BETWEEN with expression bounds
    HashQL.execute(cat,
      "insert into bx (a, lo, hi) values (5, 1, 10), (5, 6, 10), (5, 1, 4)")
    assert(HashQL.execute(cat,
      "select bx.lo from bx where bx.a between bx.lo and bx.hi " +
        "order by bx.lo").get.as[Long].collect().toSeq == Seq(1L))
  }

  test("PIVOT / UNPIVOT statements (round-14)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into pv (g, k, v) values ('a', 'x', 1), ('a', 'x', 2), " +
        "('a', 'y', 3), ('b', 'y', 4)")
    // sum pivot: empty cells NULL
    val p = HashQL.execute(cat,
      "pivot pv on pv.k in ('x', 'y', 'z') using sum(pv.v) " +
        "group by pv.g").get.orderBy("g")
      .as[(String, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    assert(p == Seq(("a", Some(3L), Some(3L), None),
      ("b", None, Some(4L), None)))
    // count pivot: empty cells 0 (DuckDB parity)
    val c = HashQL.execute(cat,
      "pivot pv on pv.k in ('x', 'y') using count(*) group by pv.g")
      .get.orderBy("g").as[(String, Long, Long)].collect().toSeq
    assert(c == Seq(("a", 2L, 1L), ("b", 0L, 1L)))
    // unpivot: NULL cells drop, other columns carry
    HashQL.execute(cat,
      "insert into up (g, x, y) values ('a', 1, null), ('b', 2, 3)")
    val u = HashQL.execute(cat,
      "unpivot up on (up.x, up.y) into name m value v").get
      .select("g", "m", "v").orderBy("g", "m")
      .as[(String, String, Long)].collect().toSeq
    assert(u == Seq(("a", "x", 1L), ("b", "x", 2L), ("b", "y", 3L)))
    // guards
    intercept[IllegalArgumentException](HashQL.parse(
      "pivot pv on pv.k in ('x') using median(pv.v) group by pv.g"))
    intercept[IllegalArgumentException](HashQL.execute(cat,
      "unpivot up on (up.zz) into name m value v"))
    intercept[IllegalArgumentException](HashQL.execute(cat,
      "unpivot up on (up.x) into name g value v")) // name collides
  }

  test("window order keys pin NULLS LAST on ASC (round-14)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into wn (g, k, v) values ('a', 1, 10)")
    HashQL.execute(cat, "insert into wn (g, v) values ('a', 20)") // k → null
    val got = HashQL.execute(cat,
      "select wn.v, rank() over (partition by wn.g order by wn.k) as r " +
        "from wn order by wn.v").get.as[(Long, Int)].collect().toSeq
    assert(got == Seq((10L, 1), (20L, 2))) // the null key ranks LAST
  }

  test("scalar tier 6: EXTRACT sugar, concat_ws null-skip, logs (round-14)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into t6 (d, a, b) values ('2021-03-15', 'x', 'y')")
    HashQL.execute(cat, "insert into t6 (d, a) values ('2022-07-01', 'z')")
    val got = HashQL.execute(cat,
      "select extract(year from cast(t6.d as date)) as y, " +
        "concat_ws('-', t6.a, t6.b) as cw, log2(4.0) as l2 from t6 " +
        "order by y").get.collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(2021L, 2022L))
    assert(got.map(_.getString(1)).toSeq == Seq("x-y", "z")) // null SKIPPED
    assert(got.map(_.getDouble(2)).toSeq == Seq(2.0, 2.0))
    // extract in a WHERE predicate (the expression head-check wiring)
    assert(HashQL.execute(cat,
      "select t6.a from t6 " +
        "where extract(year from cast(t6.d as date)) = 2022").get
      .as[String].collect().toSeq == Seq("z"))
    // a bad unit is a parse-time reject
    intercept[IllegalArgumentException](HashQL.parse(
      "select extract(century from cast(t6.d as date)) as c from t6"))
    // arithmetic window keys: partition by k % 2 (scan-side, shed)
    HashQL.execute(cat,
      "insert into wk (k, v) values (1, 10), (2, 20), (3, 30), (4, 40)")
    val w = HashQL.execute(cat,
      "select wk.k, sum(wk.v) over (partition by wk.k % 2) as s from wk " +
        "order by wk.k").get.as[(Long, Long)].collect().toSeq
    assert(w == Seq((1L, 40L), (2L, 60L), (3L, 40L), (4L, 60L)))
  }

  test("range-correlated LATERAL aggregates decorrelate over tuples (round-14)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into lc (ck, cutoff) values (1, 10), (2, 20), (3, 5)")
    HashQL.execute(cat,
      "insert into lo (ck, amt, pay) values (1, 5, 100), (1, 15, 200), " +
        "(2, 25, 300), (2, 8, null)")
    // per row: stats over the row's own under-cutoff orders; ck=3 has
    // none — count coalesces to 0, sum stays NULL (ANSI empty group);
    // ck=2's matched row has a NULL pay — count(*) still counts it
    // (the row skip must not shrink the aggregated set), count(pay)
    // and sum(pay) skip the null value (SQL)
    val got = HashQL.execute(cat,
      "select lc.ck, t.cnt, t.cnt_pay, coalesce(t.sum_pay, -1) as sa " +
        "from lc, " +
        "lateral ( select count(*), count(lo.pay), sum(lo.pay) from lo " +
        "where lo.ck = lc.ck and lo.amt < lc.cutoff ) t " +
        "order by lc.ck").get
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 1L, 100L), (2L, 1L, 0L, -1L),
      (3L, 0L, 0L, -1L)))
    // the plan: hash joins only — never a nested loop
    val df = HashQL.execute(cat,
      "select lc.ck, t.cnt from lc, " +
        "lateral ( select count(*) from lo " +
        "where lo.ck = lc.ck and lo.amt < lc.cutoff ) t").get
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"range lateral planned per-row:\n${plan.take(1500)}")
    // pure range correlation (no equality) still rejects
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "select lc.ck, t.cnt from lc, " +
        "lateral ( select count(*) from lo where lo.amt < lc.cutoff ) t"))
    assert(e.getMessage.contains("equality conjunct"), e.getMessage)
  }

  test("recursive CTE per-round aggregation: shortest paths (round-14)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into redg (src, dst, w) values (1, 2, 4), (1, 3, 1), " +
        "(3, 2, 1), (2, 4, 1), (3, 4, 7)")
    val sp = HashQL.execute(cat,
      "with recursive sp as (select redg.dst, redg.w from redg " +
        "where redg.src = 1 union select redg.dst, " +
        "min(sp.w + redg.w) as md " +
        "from sp inner join redg on redg.src = sp.dst group by redg.dst) " +
        "select sp.dst, min(sp.w) as d from sp group by sp.dst " +
        "order by sp.dst").get.as[(Long, Long)].collect().toSeq
    assert(sp == Seq((2L, 2L), (3L, 1L), (4L, 3L)))
    // the GROUP BY keys must LEAD the projection (the grouped plan
    // outputs keys first — positional base-alignment)
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "with recursive sp as (select redg.w, redg.dst from redg " +
        "where redg.src = 1 union select min(sp.w + redg.w) as md, " +
        "redg.dst from sp inner join redg on redg.src = sp.dst " +
        "group by redg.dst) select sp.w from sp"))
    assert(e.getMessage.contains("keys first"), e.getMessage)
  }

  test("UPDATE … FROM: join-update with guards (round-14)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into st (sku, qty) values ('a', 5), ('b', 3), ('c', 7)")
    HashQL.execute(cat,
      "insert into rc (sku, amount, ok) values ('a', 10, 1), " +
        "('b', 20, 0), ('x', 9, 1)")
    val v0 = cat.versionOf("st")
    // u-local filter prunes the source; t-rows without a match keep
    HashQL.execute(cat,
      "update st set st.qty = st.qty + rc.amount from rc " +
        "where st.sku = rc.sku and rc.ok = 1")
    assert(cat.versionOf("st") == v0 + 1) // one commit
    assert(HashQL.execute(cat,
      "select st.sku, st.qty from st order by st.sku").get
      .as[(String, Long)].collect().toSeq ==
      Seq(("a", 15L), ("b", 3L), ("c", 7L)))
    // duplicate source match rejects (the MERGE cardinality contract)
    HashQL.execute(cat, "insert into rc (sku, amount, ok) values ('a', 1, 1)")
    val e = intercept[IllegalArgumentException](HashQL.execute(cat,
      "update st set st.qty = rc.amount from rc " +
        "where st.sku = rc.sku and rc.ok = 1"))
    assert(e.getMessage.contains("more than once"), e.getMessage)
    // a linking equality conjunct is required
    intercept[IllegalArgumentException](HashQL.parse(
      "update st set st.qty = 0 from rc where rc.ok = 1"))
  }

  test("MERGE WHEN MATCHED THEN DELETE (round-14)") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into cp (nm, v) values ('d1', 1), ('d2', 2), ('d3', 3)")
    // duplicate source keys are FINE for delete (idempotent)
    HashQL.execute(cat,
      "insert into bl (nm) values ('d2'), ('d2'), ('zz')")
    HashQL.execute(cat,
      "merge into cp using bl on cp.nm = bl.nm " +
        "when matched then delete")
    assert(HashQL.execute(cat, "select cp.nm from cp order by cp.nm").get
      .as[String].collect().toSeq == Seq("d1", "d3"))
    // delete + insert in one statement: purge and backfill
    HashQL.execute(cat,
      "merge into cp using bl on cp.nm = bl.nm " +
        "when matched then delete " +
        "when not matched then insert (nm, v) values (bl.nm, 0)")
    // d1/d3 unmatched by bl stay; no cp row matches bl, so bl's rows
    // insert (zz once, d2 twice — ANSI inserts every source row)
    assert(HashQL.execute(cat, "select cp.nm from cp order by cp.nm").get
      .as[String].collect().toSeq == Seq("d1", "d2", "d2", "d3", "zz"))
    // update+delete in one MATCHED clause rejects
    intercept[IllegalArgumentException](HashQL.parse(
      "merge into cp using bl on cp.nm = bl.nm " +
        "when matched then update set cp.v = 1 " +
        "when matched then delete"))
  }

  test("MERGE INTO delta-folds count/sum agg views (round-14)") {
    val cat = new GraftCatalog(spark)
    val reg = new HashQL.JoinRegistry
    val dir = java.nio.file.Files.createTempDirectory("hashql_mrg").toString
    Seq(("a", 1), ("a", 2), ("b", 3)).foreach { case (g, v) =>
      HashQL.execute(cat, s"insert into mt (g, v) values ('$g', $v)") }
    HashQL.execute(cat, "insert into md (g, w) values ('a', 10), ('c', 5)")
    val name = HashQL.materializeAggView(cat,
      "create agg view as select mt.g, count(*), count(mt.v), sum(mt.v) " +
        "from mt group by mt.g", s"$dir/cs", Some(reg))
    val q = "select mt.g, count(*), count(mt.v), sum(mt.v) from mt group by mt.g"
    try {
      // matched rows g='a' get v += 10 (retract+append fold), g='c'
      // inserts (positive fold) — the view must still route and agree
      HashQL.execute(cat,
        "merge into mt using md on mt.g = md.g " +
          "when matched then update set mt.v = mt.v + md.w " +
          "when not matched then insert (g, v) values (md.g, md.w)",
        Some(reg))
      val got = HashQL.execute(cat, q, Some(reg)).get
      assert(got.queryExecution.executedPlan.toString.contains(s"$dir/cs"),
        s"MERGE dropped the count/sum route:\n${got.queryExecution.executedPlan}")
      val rows = got.as[(String, Long, Long, Option[Long])].collect().toSet
      assert(rows == Set(("a", 2L, 2L, Some(23L)), ("b", 1L, 1L, Some(3L)),
        ("c", 1L, 1L, Some(5L))), rows)
      // folded summary ≡ from-facts recompute
      graft.matview.MatView.drop(spark, name)
      assert(HashQL.execute(cat, q, Some(reg)).get
        .as[(String, Long, Long, Option[Long])].collect().toSet == rows)
    } finally graft.matview.MatView.drop(spark, name)
  }

  test("conditional MERGE ≡ reference model over random data (round-15)") {
    // adversarial first-match-wins check: random target/source rows and
    // random clause stacks, compared against a row-at-a-time Scala model
    val rnd = new scala.util.Random(42)
    (1 to 15).foreach { it =>
      val cat = new GraftCatalog(spark)
      val tKeys = rnd.shuffle(('a' to 'f').toList).take(2 + rnd.nextInt(4))
      val target = tKeys.map(k =>
        (k.toString, (rnd.nextInt(21) - 5).toLong, rnd.nextInt(2).toLong))
      val sKeys = rnd.shuffle(('a' to 'h').toList).take(2 + rnd.nextInt(5))
      val source = sKeys.map(k =>
        (k.toString, (rnd.nextInt(21) - 5).toLong))
      HashQL.execute(cat, "insert into mpt (k, v, keep) values " +
        target.map { case (k, v, p) => s"('$k', $v, $p)" }.mkString(", "))
      HashQL.execute(cat, "insert into mps (sk, w) values " +
        source.map { case (k, w) => s"('$k', $w)" }.mkString(", "))
      val t1 = rnd.nextInt(11) - 5
      val t2 = rnd.nextInt(11) - 5
      val t3 = rnd.nextInt(11) - 5
      val withDelete = rnd.nextBoolean()
      val withUncond = rnd.nextBoolean()
      val insGuard = rnd.nextBoolean()
      val withBySource = rnd.nextBoolean()
      // clause stack: [delete if w < t1]? , update if keep = 1, [update
      // unconditional]? — guards may overlap, FIRST match must win
      val matchedClauses =
        (if (withDelete) Seq(s"when matched and mps.w < $t1 then delete")
         else Nil) ++
        Seq("when matched and mpt.keep = 1 then update set " +
          "mpt.v = mpt.v + mps.w") ++
        (if (withUncond) Seq("when matched then update set mpt.v = mps.w")
         else Nil)
      val insClause =
        if (insGuard) s"when not matched and mps.w > $t2 then insert " +
          "(k, v, keep) values (mps.sk, mps.w, 1)"
        else "when not matched then insert (k, v, keep) " +
          "values (mps.sk, mps.w, 1)"
      val bsClause =
        if (withBySource) Seq(s"when not matched by source and " +
          s"mpt.v > $t3 then delete")
        else Nil
      val stmt = (Seq(s"merge into mpt using mps on mpt.k = mps.sk") ++
        matchedClauses ++ Seq(insClause) ++ bsClause).mkString(" ")
      HashQL.execute(cat, stmt)
      // reference model: row-at-a-time, first-match-wins
      val srcByK = source.toMap
      val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      target.foreach { case (k, v, keep) =>
        srcByK.get(k) match {
          case Some(w) =>
            val fired =
              (if (withDelete && w < t1) Some("del")
               else if (keep == 1) Some("upd+")
               else if (withUncond) Some("upd=")
               else None)
            fired match {
              case Some("del") => ()
              case Some("upd+") => kept += ((k, v + w))
              case Some("upd=") => kept += ((k, w))
              case _ => kept += ((k, v))
            }
          case None =>
            if (!(withBySource && v > t3)) kept += ((k, v))
        }
      }
      source.foreach { case (k, w) =>
        if (!target.exists(_._1 == k) && (!insGuard || w > t2))
          kept += ((k, w))
      }
      val got = HashQL.execute(cat,
        "select mpt.k, mpt.v from mpt order by mpt.k").get
        .as[(String, Long)].collect().toSeq
      assert(got == kept.sortBy(_._1).toSeq,
        s"iteration $it\nstmt: $stmt\ntarget: $target\nsource: $source\n" +
          s"got $got\nexpected ${kept.sortBy(_._1)}")
    }
  }

  test("conditional/BY SOURCE MERGE delta-folds agg views (round-15)") {
    val cat = new GraftCatalog(spark)
    val reg = new HashQL.JoinRegistry
    val dir = java.nio.file.Files.createTempDirectory("hashql_mrg15").toString
    Seq(("a", 1L), ("b", 2L), ("c", 3L), ("e", 9L)).foreach { case (g, v) =>
      HashQL.execute(cat, s"insert into mq (g, v) values ('$g', $v)") }
    HashQL.execute(cat,
      "insert into mqd (g, w) values ('a', 10), ('b', -1), ('d', 7)")
    val name = HashQL.materializeAggView(cat,
      "create agg view as select mq.g, count(*), sum(mq.v) " +
        "from mq group by mq.g", s"$dir/cs15", Some(reg))
    val q = "select mq.g, count(*), sum(mq.v) from mq group by mq.g"
    try {
      // a: guarded update (+10); b: matched delete (w < 0); d: insert;
      // e: by-source delete — the view's count/sum folds must track
      // updates (retract+append), deletes (negative), inserts (positive)
      HashQL.execute(cat,
        "merge into mq using mqd on mq.g = mqd.g " +
          "when matched and mqd.w < 0 then delete " +
          "when matched then update set mq.v = mq.v + mqd.w " +
          "when not matched then insert (g, v) values (mqd.g, mqd.w) " +
          "when not matched by source and mq.v > 5 then delete",
        Some(reg))
      val got = HashQL.execute(cat, q, Some(reg)).get
      val rows = got.as[(String, Long, Option[Long])].collect().toSet
      assert(rows == Set(("a", 1L, Some(11L)), ("c", 1L, Some(3L)),
        ("d", 1L, Some(7L))), rows)
      // folded summary ≡ from-facts recompute
      graft.matview.MatView.drop(spark, name)
      assert(HashQL.execute(cat, q, Some(reg)).get
        .as[(String, Long, Option[Long])].collect().toSet == rows)
    } finally graft.matview.MatView.drop(spark, name)
  }

  test("aggregate items keep their output names and values in every position") {
    // rows cross-checked against DuckDB 1.0 over the same data
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into pa (g, v, k) values ('a', 1, 1), " +
      "('a', 2, 1), ('a', 2, 2), ('b', 5, 2), ('c', 7, 4)")
    HashQL.execute(cat, "insert into pa (g, k) values ('b', 3)") // v null
    HashQL.execute(cat,
      "insert into pu (uk, d) values (1, 10), (1, 20), (2, 5), (4, 1), (4, 9)")
    HashQL.execute(cat, "insert into fa (ka) values (1), (2)")
    HashQL.execute(cat, "insert into fb (kb) values (2), (3)")
    def out(sql: String): (Seq[String], Seq[Seq[Any]]) = {
      val df = HashQL.execute(cat, sql).get
      (df.columns.toSeq, df.collect().map(_.toSeq).toSeq)
    }
    def sorted(sql: String): (Seq[String], Seq[Seq[Any]]) = {
      val (cs, rs) = out(sql)
      (cs, rs.sortBy(_.map(String.valueOf).mkString("|")))
    }
    val calls = Seq("count(*)", "count(pa.v)", "count(distinct pa.v)",
      "sum(pa.v)", "avg(pa.v)", "min(pa.v)", "max(pa.v)", "median(pa.v)")
    val auto = Seq("cnt", "cnt_v", "cntd_v", "sum_v", "avg_v", "min_v",
      "max_v", "median_v")
    val aliased = calls.zipWithIndex.map { case (c, i) => s"$c as o$i" }
    val byGroup = Seq(
      Seq("a", 3L, 3L, 2L, 5L, 5.0 / 3, 1L, 2L, 2.0),
      Seq("b", 2L, 1L, 1L, 5L, 5.0, 5L, 5L, 5.0),
      Seq("c", 1L, 1L, 1L, 7L, 7.0, 7L, 7L, 7.0))
    val global = Seq(Seq(6L, 5L, 4L, 17L, 3.4, 1L, 7L, 2.0))
    assert(sorted(s"select pa.g, ${calls.mkString(", ")} from pa group by pa.g")
      == (("g" +: auto), byGroup))
    assert(sorted(s"select pa.g, ${aliased.mkString(", ")} from pa group by pa.g")
      == (("g" +: auto.indices.map(i => s"o$i")), byGroup))
    assert(out(s"select ${calls.mkString(", ")} from pa") == ((auto, global)))
    assert(out(s"select ${aliased.mkString(", ")} from pa")
      == ((auto.indices.map(i => s"o$i"), global)))
    // the same calls under a table alias keep the bare column's names
    assert(sorted(s"select a.g, ${calls.map(_.replace("pa.", "a.")).mkString(", ")} " +
      "from pa a group by a.g") == (("g" +: auto), byGroup))
    assert(sorted("select pa.g, count(*) filter (where pa.v > 1) as big " +
      "from pa group by pa.g") == ((Seq("g", "big"),
        Seq(Seq("a", 2L), Seq("b", 1L), Seq("c", 1L)))))
    // HAVING over aggregates the select does not project
    assert(sorted("select pa.g, count(*) from pa group by pa.g " +
      "having sum(pa.v) > 5") == ((Seq("g", "cnt"), Seq(Seq("c", 1L)))))
    assert(sorted("select pa.g, count(*) from pa group by pa.g " +
      "having count(pa.v) > 1") == ((Seq("g", "cnt"), Seq(Seq("a", 3L)))))
    assert(sorted("select a.g, count(*), sum(a.v), count(distinct a.v) " +
      "from pa a group by a.g having max(a.v) >= 5") ==
      ((Seq("g", "cnt", "sum_v", "cntd_v"),
        Seq(Seq("b", 2L, 5L, 1L), Seq("c", 1L, 7L, 1L)))))
    // aggregates spelled inside OVER, projected and not
    assert(sorted("select pa.g, sum(pa.v), rank() over (order by sum(pa.v) " +
      "desc) from pa group by pa.g") == ((Seq("g", "sum_v", "rnk"),
        Seq(Seq("a", 5L, 2), Seq("b", 5L, 2), Seq("c", 7L, 1)))))
    assert(sorted("select pa.g, rank() over (order by max(pa.v) desc) " +
      "from pa group by pa.g") == ((Seq("g", "rnk"),
        Seq(Seq("a", 3), Seq("b", 2), Seq("c", 1)))))
    // correlated scalar and LATERAL aggregates; lateral counts zero-fill
    assert(sorted("select pa.g, pa.k, (select count(*) from pu " +
      "where pu.uk = pa.k) as n from pa") == ((Seq("g", "k", "n"),
        Seq(Seq("a", 1L, 2L), Seq("a", 1L, 2L), Seq("a", 2L, 1L),
          Seq("b", 2L, 1L), Seq("b", 3L, 0L), Seq("c", 4L, 2L)))))
    assert(sorted("select pa.g, pa.k, x.cnt, x.sum_d, x.cnt_d from pa, " +
      "lateral (select count(*), sum(pu.d), count(pu.d) from pu " +
      "where pu.uk = pa.k) x") == ((Seq("g", "k", "cnt", "sum_d", "cnt_d"),
        Seq(Seq("a", 1L, 2L, 30L, 2L), Seq("a", 1L, 2L, 30L, 2L),
          Seq("a", 2L, 1L, 5L, 1L), Seq("b", 2L, 1L, 5L, 1L),
          Seq("b", 3L, 0L, null, 0L), Seq("c", 4L, 2L, 10L, 2L)))))
    // range lateral: count(pu.d) reads the column the range compares
    assert(sorted("select pa.g, pa.k, x.cnt_d, x.sum_d, x.cnt from pa, " +
      "lateral (select count(pu.d), sum(pu.d), count(*) from pu " +
      "where pu.uk = pa.k and pu.d > pa.v) x") ==
      ((Seq("g", "k", "cnt_d", "sum_d", "cnt"),
        Seq(Seq("a", 1L, 2L, 30L, 2L), Seq("a", 1L, 2L, 30L, 2L),
          Seq("a", 2L, 1L, 5L, 1L), Seq("b", 2L, 0L, null, 0L),
          Seq("b", 3L, 0L, null, 0L), Seq("c", 4L, 1L, 9L, 1L)))))
    // the 2-arg projection coalesce: a literal default, a FULL JOIN key
    assert(sorted("select pa.g, coalesce(pa.v, 0) from pa") ==
      ((Seq("g", "coalesce_v"), Seq(Seq("a", 1L), Seq("a", 2L), Seq("a", 2L),
        Seq("b", 0L), Seq("b", 5L), Seq("c", 7L)))))
    assert(sorted("select coalesce(fa.ka, fb.kb) from fa full join fb " +
      "on fa.ka = fb.kb") == ((Seq("coalesce_ka"), Seq(Seq(1L), Seq(2L), Seq(3L)))))
    // ORDER BY ALL expands through the auto-aliases
    assert(out("select pa.g, count(*), sum(pa.v) from pa group by pa.g " +
      "order by all") == ((Seq("g", "cnt", "sum_v"),
        Seq(Seq("a", 3L, 5L), Seq("b", 2L, 5L), Seq("c", 1L, 7L)))))
  }

  /** `d` holds x = 1.5, 1.0, 2.7 and NULL (ids 1-4), with a string `s`
    * and a long `k` beside it. Expected rows are DuckDB 1.0's. */
  private def cmpCat(): GraftCatalog = {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into d (x, s, k) values (1.5, 'apple', 2), " +
      "(1.0, 'Avocado', 2), (2.7, 'berry', 4), (null, null, 5)")
    cat
  }
  private def ids(cat: GraftCatalog, where: String): Seq[Long] =
    HashQL.execute(cat, s"select d.id from d where $where").get
      .as[Long].collect().sorted.toSeq

  test("one comparison: an integer literal meets a double column as a double, " +
    "bare or computed head") {
    val cat = cmpCat()
    assert(ids(cat, "d.x = 1") == Seq(2L))
    assert(ids(cat, "d.x + 0 = 1") == Seq(2L))
    assert(ids(cat, "d.x > 1") == Seq(1L, 3L))
    assert(ids(cat, "d.x + 0 > 1") == Seq(1L, 3L))
    assert(ids(cat, "d.x between 1 and 2") == Seq(1L, 2L))
    assert(ids(cat, "d.x in (1, 2.7)") == Seq(2L, 3L))
    assert(ids(cat, "d.x not in (1, 2.7)") == Seq(1L))
  }

  test("one comparison: a doc-path leaf compares the same way for every op") {
    val db = new HashDb(spark)
    db.saveDocument("people", 1, """{"hobbies": [{"lvl": 1.5}]}""")
    db.saveDocument("people", 2, """{"hobbies": [{"lvl": 1.0}, {"lvl": 0.5}]}""")
    db.saveDocument("people", 3, """{"hobbies": [{"lvl": 0.5}, {"lvl": 2.0}]}""")
    def docIds(where: String): Seq[Long] =
      db.sql(s"select people.id from people where $where").get
        .as[Long].collect().sorted.toSeq
    assert(docIds("people.~hobbies[]~lvl = 1") == Seq(2L))
    assert(docIds("people.~hobbies[]~lvl > 1") == Seq(1L, 3L))
    assert(docIds("people.~hobbies[]~lvl is not distinct from 1") == Seq(2L))
    // `is not null` / `is distinct from` test some leaf too
    db.saveDocument("pets", 1, """{"tags": [{"n": null}, {"n": "x"}]}""")
    db.saveDocument("pets", 2, """{"tags": []}""")
    db.saveDocument("pets", 3, """{"tags": [{"n": "y"}]}""")
    db.saveDocument("pets", 4, """{"tags": [{"n": null}]}""")
    def petIds(where: String): Seq[Long] =
      db.sql(s"select pets.id from pets where $where").get
        .as[Long].collect().sorted.toSeq
    assert(petIds("pets.~tags[]~n is not null") == Seq(1L, 3L))
    assert(petIds("pets.~tags[]~n is null") == Seq(1L, 4L))
    // NOT negates the whole scan: no leaf is NULL
    assert(petIds("not (pets.~tags[]~n is null)") == Seq(2L, 3L))
    assert(petIds("pets.~tags[]~n is distinct from 'x'") == Seq(1L, 3L, 4L))
    // `<>` negates the whole three-valued scan: no leaf equals 'x', and
    // a NULL leaf with no match leaves it UNKNOWN
    assert(petIds("pets.~tags[]~n <> 'x'") == Seq(2L, 3L))
  }

  test("one comparison: list_filter bodies parse the WHERE grammar") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into lf (s) values ('ab-b-abc')")
    def filtered(body: String): Seq[String] = {
      val r = HashQL.execute(cat,
        s"select list_filter(split(lf.s, '-'), x -> $body) as f from lf")
        .get.collect().head
      r.getSeq[String](0)
    }
    // AND binds tighter than OR, as in WHERE
    assert(filtered("length(x) = 1 or length(x) = 2 and length(x) = 3") ==
      Seq("b"))
    assert(filtered("x like 'a%'") == Seq("ab", "abc"))
    assert(filtered("x in ('b', 'abc')") == Seq("b", "abc"))
    assert(filtered("nullif(x, 'b') is not null") == Seq("ab", "abc"))
    assert(filtered("contains(x, 'c')") == Seq("abc"))
  }

  test("one comparison: computed heads take LIKE / IS NULL / IS DISTINCT " +
    "FROM, ref heads an arithmetic right-hand side") {
    val cat = cmpCat()
    assert(ids(cat, "upper(d.s) like 'A%'") == Seq(1L, 2L))
    assert(ids(cat, "d.x + 0 is null") == Seq(4L))
    assert(ids(cat, "d.x * 2 is not distinct from 3") == Seq(1L))
    assert(ids(cat, "d.k = d.id + 1") == Seq(1L, 3L, 4L))
    assert(ids(cat, "d.k in (d.id + 1, 0)") == Seq(1L, 3L, 4L))
    assert(ids(cat, "d.k is not distinct from d.id + 1") == Seq(1L, 3L, 4L))
    assert(ids(cat, "d.k between d.id and d.id + 1") == Seq(1L, 2L, 3L, 4L))
    assert(ids(cat, "d.x = d.x + 0") == Seq(1L, 2L, 3L))
    // after a computed head a bare word is a column, after a plain ref
    // a string
    assert(ids(cat, "d.x * 2 > k") == Seq(1L, 3L))
    assert(ids(cat, "d.s = apple") == Seq(1L))
  }

  test("INSERT rejects a caller-supplied id before anything commits") {
    val cat = new GraftCatalog(spark)
    val e = intercept[IllegalArgumentException](
      HashQL.execute(cat, "insert into t (id, v) values (0, 0)"))
    assert(e.getMessage.contains("id"), e.getMessage)
    assert(!cat.names.contains("t"))
    HashQL.execute(cat, "insert into u (v) values (1)")
    intercept[IllegalArgumentException](
      HashQL.execute(cat, "insert into u (v, id) values (2, 7)"))
    HashQL.execute(cat, "insert into u (v) values (3)")
    assert(cat.table("u").columns.toSeq == Seq("id", "v"))
    assert(HashQL.execute(cat, "select * from u").get.as[(Long, Long)]
      .collect().sorted.toSeq == Seq((1L, 1L), (2L, 3L)))
  }

  test("grouped select: computed outputs keep their select-list slot") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat,
      "insert into pa (g, v) values ('a', 1), ('a', 2), ('b', 5)")
    def cols(q: String): Seq[String] = HashQL.execute(cat, q).get.columns.toSeq
    // DuckDB 1.0 names the same columns in the same order
    assert(cols("select pa.g, coalesce(pa.g, 'x'), count(*) from pa " +
      "group by pa.g") == Seq("g", "coalesce_g", "cnt"))
    assert(cols("select pa.g, sum(pa.v) / count(*) as m, count(*) from pa " +
      "group by pa.g") == Seq("g", "m", "cnt"))
    assert(cols("select pa.g, pa.g || 'x' as gx, sum(pa.v) from pa " +
      "group by pa.g") == Seq("g", "gx", "sum_v"))
    assert(cols("select pa.g, rank() over (order by count(*)), count(*) " +
      "from pa group by pa.g") == Seq("g", "rnk", "cnt"))
    // a repeated output name keeps the aggregation's order
    assert(cols("select pa.g, count(*), count(*) from pa group by pa.g") ==
      Seq("g", "cnt", "cnt"))
  }
}
