package graft

import graft.graph.{Cypher, PropertyGraph}

/** Parser golden-IR tests ported from /root/reference/cypher_test.py:3-45,
  * plus the 4-triple MATCH of example.py:273 over the example.py:241-261
  * MERGE corpus — the reference's only end-to-end graph scenario. */
class CypherSpec extends SparkSpec {

  test("golden IR: match with label + attribute map (cypher_test.py:3-22)") {
    val q = "match (actor)-[:ACTED_IN]->(wallstreet:Movie {title: 'Wall Street'}) return actor"
    val Cypher.Match(chains, returns, _, _, _, _) = Cypher.parse(q): @unchecked
    assert(returns == Seq(Cypher.Ret("actor", None)))
    assert(chains.size == 1)
    val ch = chains.head
    assert(ch.rels == Seq(Cypher.Rel("ACTED_IN", Cypher.Out)))
    assert(ch.nodes(0) == Cypher.NodePat(Some("actor"), None, Map.empty))
    assert(ch.nodes(1) == Cypher.NodePat(Some("wallstreet"), Some("Movie"),
      Map("title" -> "Wall Street")))
  }

  test("golden IR: keywords case-insensitive (cypher_test.py:25-45)") {
    val q = "MATCH (actor)-[:ACTED_IN]->(w:Movie {title: 'Wall Street'}) RETURN actor"
    val Cypher.Match(_, returns, _, _, _, _) = Cypher.parse(q): @unchecked
    assert(returns == Seq(Cypher.Ret("actor", None)))
  }

  test("golden IR: edge directions and attribute RETURN items") {
    val Cypher.Match(chains, returns, _, _, _, _) = Cypher.parse(
      "match (n:Nation)<-[:IN]-(c:Customer)-[:KNOWS]-(o) return c, n.n_name, o.name"): @unchecked
    assert(chains.head.rels == Seq(
      Cypher.Rel("IN", Cypher.In), Cypher.Rel("KNOWS", Cypher.Both)))
    assert(returns == Seq(Cypher.Ret("c", None),
      Cypher.Ret("n", Some("n_name")), Cypher.Ret("o", Some("name"))))
    // a malformed <-...-> edge is rejected
    intercept[IllegalArgumentException] {
      Cypher.parse("match (a)<-[:R]->(b) return a")
    }
  }

  test("reverse and undirected MATCH agree with the forward formulation") {
    val g = PropertyGraph.empty(spark)
      .merge("merge (a:Person {'name': 'Sam'})-[:FRIEND]->(b:Person {'name': 'Tasya'})")
      .merge("merge (a:Person {'name': 'Simon'})-[:FRIEND]->(b:Person {'name': 'Sam'})")
    // <- flips: who does Sam point at / who points at Sam
    val outOf = g.query("match (p:Person {name: 'Sam'})-[:FRIEND]->(q) return q")
      .collect().map(_.getString(0)).toSet
    val into = g.query("match (p:Person {name: 'Sam'})<-[:FRIEND]-(q) return q")
      .collect().map(_.getString(0)).toSet
    assert(outOf == Set("Tasya") && into == Set("Simon"))
    // undirected = both orientations
    val any = g.query("match (p:Person {name: 'Sam'})-[:FRIEND]-(q) return q")
      .collect().map(_.getString(0)).toSet
    assert(any == Set("Tasya", "Simon"))
    // attribute RETURN projects the attr value under var_attr
    val attrs = g.query("match (p:Person {name: 'Sam'})-[:FRIEND]->(q) return q.name")
    assert(attrs.columns.toSeq == Seq("q_name"))
    assert(attrs.collect().map(_.getString(0)).toSet == Set("Tasya"))
  }

  test("properties(n) returns the whole attribute map; attr-map MERGE identity") {
    // parser: properties(n) → Ret(n, Some("*"))
    val Cypher.Match(_, rets, _, _, _, _) = Cypher.parse(
      "match (r:Region) return properties(r), r.r_name"): @unchecked
    assert(rets == Seq(Cypher.Ret("r", Some("*")), Cypher.Ret("r", Some("r_name"))))
    // executor: nodes merged WITHOUT a name — identity = full attr map;
    // re-merge with identical attrs is a no-op on the same node
    val g = PropertyGraph.empty(spark)
      .merge("merge (r:Region {'r_name': 'EMEA', 'tier': '1'})")
      .merge("merge (r:Region {'r_name': 'APAC', 'tier': '2'})")
      .merge("merge (r:Region {'r_name': 'EMEA', 'tier': '1'})") // no-op
    assert(g.vertices.count() == 2)
    val rows = g.query("match (r:Region) return properties(r), r.r_name")
      .collect()
    assert(rows.length == 2)
    val byName = rows.map(r =>
      r.getString(1) -> r.getMap[String, String](0).toMap).toMap
    assert(byName("EMEA") == Map("r_name" -> "EMEA", "tier" -> "1"))
    assert(byName("APAC") == Map("r_name" -> "APAC", "tier" -> "2"))
    // mixed bare-node + whole-map RETURN keeps set semantics
    val mixed = g.query("match (r:Region) return r, properties(r)")
    assert(mixed.columns.toSeq == Seq("r", "r_properties"))
    assert(mixed.count() == 2)
  }

  test("merge parses quoted attribute keys (example.py:242 style)") {
    val Cypher.Merge(ch) = Cypher.parse(
      "merge (person:Person {'name': 'Samuel'})-[:FRIEND]->(tasya:Person {'name': 'Tasya'})"): @unchecked
    assert(ch.rels == Seq(Cypher.Rel("FRIEND", Cypher.Out)))
    assert(ch.nodes(0).attrs("name") == "Samuel")
  }

  test("MATCH filters on non-name attributes (cypher_test.py pattern)") {
    val g = PropertyGraph.empty(spark)
      .merge("merge (a:Person {'name': 'Oliver', 'role': 'actor'})-[:ACTED_IN]->(m:Movie {'name': 'Wall Street', 'title': 'Wall Street'})")
      .merge("merge (a:Person {'name': 'Marty', 'role': 'director'})-[:DIRECTED]->(m:Movie {'name': 'Wall Street'})")
    val actors = g.query(
      "match (actor:Person {role: 'actor'})-[:ACTED_IN]->(m:Movie {title: 'Wall Street'}) return actor")
      .collect().map(_.getString(0)).toSeq
    assert(actors == Seq("Oliver"))
    assert(g.query(
      "match (actor:Person {role: 'producer'})-[:ACTED_IN]->(m:Movie) return actor")
      .count() == 0)
  }

  test("edge properties: parse, MERGE store + existing-wins, MATCH filter, e.attr RETURN") {
    import spark.implicits._
    // parser: variable + attrs on the edge, in every direction
    val Cypher.Match(chains, rets, _, _, _, _) = Cypher.parse(
      "match (a)-[e:R {w: '3'}]->(b) return a, e.w, b"): @unchecked
    assert(chains.head.rels == Seq(
      Cypher.Rel("R", Cypher.Out, 1, 1, Some("e"), Map("w" -> "3"))))
    assert(rets(1) == Cypher.Ret("e", Some("w")))
    // an edge variable cannot bind a band; bare/properties() edge returns rejected
    intercept[IllegalArgumentException](
      Cypher.parse("match (a)-[e:R*1..2]->(b) return a"))
    // executor: two typed edges with different weights
    val g0 = PropertyGraph.empty(spark)
      .merge("merge (x:N {name: 'x'})-[:R {w: '3'}]->(y:N {name: 'y'})")
      .merge("merge (y:N {name: 'y'})-[:R {w: '7'}]->(z:N {name: 'z'})")
    // MATCH attr filter: only the w=3 edge matches
    assert(g0.query("match (a)-[:R {w: '3'}]->(b) return a, b")
      .as[(String, String)].collect().toSet == Set(("x", "y")))
    // e.attr RETURN carries the per-edge value
    assert(g0.query("match (a)-[e:R]->(b) return a, e.w, b")
      .as[(String, String, String)].collect().toSet ==
      Set(("x", "3", "y"), ("y", "7", "z")))
    // re-merge with different attrs: existing edge's properties win
    val g1 = g0.merge("merge (x:N {name: 'x'})-[:R {w: '99'}]->(y:N {name: 'y'})")
    assert(g1.query("match (a)-[e:R]->(b) return a, e.w, b")
      .as[(String, String, String)].collect().toSet ==
      Set(("x", "3", "y"), ("y", "7", "z")))
    // bare edge-var return is rejected (no printable identity)
    intercept[IllegalArgumentException](
      g0.query("match (a)-[e:R]->(b) return e"))
    // properties(e) attaches the WHOLE edge map post-distinct (the same
    // identity trick as properties(n), keyed on stored endpoints)
    val maps = g0.query("match (a)-[e:R]->(b) return a, properties(e), b")
      .as[(String, Map[String, String], String)].collect().toSet
    assert(maps == Set(
      ("x", Map("w" -> "3"), "y"), ("y", Map("w" -> "7"), "z")))
    // undirected edge with an attr filter matches both orientations
    assert(g0.query("match (a)-[e:R {w: '7'}]-(b) return a, e.w, b")
      .as[(String, String, String)].collect().toSet ==
      Set(("y", "7", "z"), ("z", "7", "y")))
    // reusing one edge variable across two patterns (or colliding with a
    // node variable) is rejected — it would silently turn carry columns
    // into join keys
    intercept[IllegalArgumentException](
      g0.query("match (a)-[e:R]->(b)-[e:R]->(c) return a, e.w, c"))
    intercept[IllegalArgumentException](
      g0.query("match (a)-[b:R]->(b) return a, b.w"))
  }

  test("variable-length paths: parser forms, band semantics, direction flip") {
    // parser: *n and *m..n, on any direction
    val Cypher.Match(cs, _, _, _, _, _) =
      Cypher.parse("match (a)-[:R*2]->(b) return a, b"): @unchecked
    assert(cs.head.rels == Seq(Cypher.Rel("R", Cypher.Out, 2, 2)))
    val Cypher.Match(cs2, _, _, _, _, _) =
      Cypher.parse("match (a)<-[:R*1..3]-(b) return a, b"): @unchecked
    assert(cs2.head.rels == Seq(Cypher.Rel("R", Cypher.In, 1, 3)))
    intercept[IllegalArgumentException](Cypher.parse("match (a)-[:R*3..2]->(b) return a"))
    intercept[IllegalArgumentException](Cypher.parse("match (a)-[:R*0]->(b) return a"))
    intercept[IllegalArgumentException](Cypher.parse("match (a)-[:R*1..99]->(b) return a"))

    // executor on a hand-built path graph 1->2->3->4 (+ a side edge 2->5)
    import spark.implicits._
    val v = Seq("n1", "n2", "n3", "n4", "n5")
      .map(n => (n, "N", Map.empty[String, String])).toDF("name", "label", "attrs")
    val e = Seq(("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("n2", "n5"))
      .map { case (s, d) => (s, d, "R") }.toDF("src", "dst", "rel")
    val g = PropertyGraph(v, e)
    def pairs(q: String): Set[(String, String)] =
      g.query(q).as[(String, String)].collect().toSet
    // exactly 2 hops
    assert(pairs("match (a)-[:R*2]->(b) return a, b") ==
      Set(("n1", "n3"), ("n1", "n5"), ("n2", "n4")))
    // band 1..2 = union of 1-hop and 2-hop endpoint pairs
    assert(pairs("match (a)-[:R*1..2]->(b) return a, b") ==
      Set(("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("n2", "n5"),
        ("n1", "n3"), ("n1", "n5"), ("n2", "n4")))
    // reversed band mirrors the forward one
    assert(pairs("match (a)<-[:R*1..2]-(b) return a, b") ==
      pairs("match (a)-[:R*1..2]->(b) return a, b").map(_.swap))
    // MERGE must reject a variable-length edge instead of silently
    // creating a plain 1-hop one
    intercept[IllegalArgumentException](
      g.merge("merge (a:N {name: 'x'})-[:R*3]->(b:N {name: 'y'})"))
    // same variable on both endpoints of one edge: clear error, not an
    // ambiguous-reference crash downstream
    intercept[IllegalArgumentException](
      g.query("match (a)-[:R*1..2]->(a) return a"))
  }

  test("WHERE clause: parser goldens, numeric coercion, edge-var predicates") {
    // parser: conjunctive WHERE between the pattern and RETURN; numeric
    // literals parse as Long, quoted as String
    val Cypher.Match(_, _, wheres, _, _, _) = Cypher.parse(
      "match (n:Person) where n.age > 30 and n.city = 'Oslo' return n"): @unchecked
    assert(wheres == Seq(
      Cypher.Where("n", "age", ">", 30L), Cypher.Where("n", "city", "=", "Oslo")))
    // <= / >= lex as one op; <> dies cleanly; unbound variable rejected
    val Cypher.Match(_, _, w2, _, _, _) = Cypher.parse(
      "match (n:P) where n.age <= 9 return n"): @unchecked
    assert(w2 == Seq(Cypher.Where("n", "age", "<=", 9L)))
    intercept[IllegalArgumentException](
      Cypher.parse("match (n:P) where n.age <> 9 return n"))
    // boolean structure: AND over OR, parens, NOT; top-level ANDs flatten
    // into the conjunct list, OR/NOT stay trees; OR never eats ORDER
    val Cypher.Match(_, _, w3, _, _, _) = Cypher.parse(
      "match (n:P) where (n.a = 1 or n.b = 2) and not n.c = 'x' " +
        "return n order by n limit 2"): @unchecked
    assert(w3 == Seq(
      Cypher.WOr(Cypher.Where("n", "a", "=", 1L), Cypher.Where("n", "b", "=", 2L)),
      Cypher.WNot(Cypher.Where("n", "c", "=", "x"))), s"$w3")
    val Cypher.Match(_, _, w4, _, _, _) = Cypher.parse(
      "match (n:P) where n.a = 1 and n.b = 2 or n.c = 3 return n"): @unchecked
    assert(w4 == Seq(Cypher.WOr(
      Cypher.WAnd(Cypher.Where("n", "a", "=", 1L), Cypher.Where("n", "b", "=", 2L)),
      Cypher.Where("n", "c", "=", 3L))), s"$w4")

    import spark.implicits._
    val g = PropertyGraph.empty(spark)
      .merge("merge (a:Person {'name': 'Ann', 'age': '31'})-[:KNOWS {'since': '2015'}]->(b:Person {'name': 'Bob', 'age': '25'})")
      .merge("merge (a:Person {'name': 'Cid', 'age': '40'})-[:KNOWS {'since': '2021'}]->(b:Person {'name': 'Ann', 'age': '31'})")
    intercept[IllegalArgumentException](
      g.query("match (n:Person) where q.age > 30 return n"))
    // numeric range over a node attribute (attr string casts to long)
    assert(g.query("match (n:Person) where n.age > 30 return n")
      .as[String].collect().toSet == Set("Ann", "Cid"))
    // string compare + name addressing the identity itself
    assert(g.query("match (n:Person) where n.name < 'B' return n")
      .as[String].collect().toSet == Set("Ann"))
    // WHERE over a hop: filter applies post-bind, edges unaffected
    assert(g.query("match (a:Person)-[:KNOWS]->(b:Person) where b.age >= 30 return a, b")
      .as[(String, String)].collect().toSet == Set(("Cid", "Ann")))
    // edge-variable predicate: the attr is carried out of the hop even
    // though RETURN never mentions it
    assert(g.query("match (a)-[e:KNOWS]->(b) where e.since >= 2020 return a, b")
      .as[(String, String)].collect().toSet == Set(("Cid", "Ann")))
    // non-numeric attr under a numeric comparison drops the row (NULL),
    // never errors
    assert(g.query("match (n:Person) where n.name > 30 return n").count() == 0)
  }

  test("aggregates: parser goldens, implicit grouping, binding-distinct counts") {
    // parser: count(*) / count(v) / fn(v.attr); a node variable that
    // happens to be named like an aggregate still parses bare
    val Cypher.Match(_, rets, _, _, _, _) = Cypher.parse(
      "match (a)-[:R]->(b) return a, count(*), sum(b.v)"): @unchecked
    assert(rets == Seq(Cypher.Ret("a", None), Cypher.RetAgg("count", None),
      Cypher.RetAgg("sum", Some(Cypher.Ret("b", Some("v"))))))
    val Cypher.Match(_, r2, _, _, _, _) = Cypher.parse(
      "match (count:C) return count"): @unchecked
    assert(r2 == Seq(Cypher.Ret("count", None)))
    // sum over a bare node identity (a string) dies when planned as a
    // pattern RETURN — the bare form is reserved for piped WITH columns,
    // so the check moved from the parser to evalMatch
    intercept[IllegalArgumentException](
      PropertyGraph.empty(spark).query("match (a) return sum(a)"))
    intercept[IllegalArgumentException](
      Cypher.parse("match (a) return count(properties(a))"))

    import spark.implicits._
    val g = PropertyGraph.empty(spark)
      .merge("merge (a:P {'name': 'Ann', 'age': '31'})-[:KNOWS]->(b:P {'name': 'Bob', 'age': '25'})")
      .merge("merge (a:P {'name': 'Ann', 'age': '31'})-[:KNOWS]->(b:P {'name': 'Cid', 'age': '40'})")
      .merge("merge (a:P {'name': 'Dee', 'age': 'young'})-[:KNOWS]->(b:P {'name': 'Cid', 'age': '40'})")
    // implicit grouping: plain item = key; count over distinct bindings
    assert(g.query("match (a:P)-[:KNOWS]->(b:P) return a, count(*)")
      .as[(String, Long)].collect().toSet == Set(("Ann", 2L), ("Dee", 1L)))
    // global aggregate: no keys -> one row; sum/avg coerce via try_cast so
    // the non-numeric 'young' drops as NULL instead of throwing
    assert(g.query("match (n:P) return count(*), sum(n.age), avg(n.age)")
      .as[(Long, Long, Double)].collect().toSeq ==
        Seq((4L, 96L, 32.0)))
    // re-merging does not inflate counts (bindings stay distinct), and
    // min/max coerce numerically
    val g2 = g.merge("merge (a:P {'name': 'Ann', 'age': '31'})-[:KNOWS]->(b:P {'name': 'Bob', 'age': '25'})")
    assert(g2.query("match (a:P)-[:KNOWS]->(b:P) return a, count(*), min(b.age), max(b.age)")
      .as[(String, Long, Long, Long)].collect().toSet ==
        Set(("Ann", 2L, 25L, 40L), ("Dee", 1L, 40L, 40L)))
    // ORDER BY addresses aggregate output aliases; LIMIT composes
    assert(g.query(
      "match (a:P)-[:KNOWS]->(b:P) return a, count(*) order by cnt desc, a limit 1")
      .as[(String, Long)].collect().toSeq == Seq(("Ann", 2L)))
    // properties() cannot be a grouping key
    intercept[IllegalArgumentException](
      g.query("match (n:P) return properties(n), count(*)"))
  }

  test("ORDER BY / LIMIT: parser goldens, top-k plan, output-column addressing") {
    // parser: sort keys are RETURN-item shapes with asc/desc, limit an int
    val Cypher.Match(_, _, _, obs, lim, _) = Cypher.parse(
      "match (n:P) return n, n.age order by n.age desc, n asc limit 3"): @unchecked
    assert(obs == Seq((Cypher.Ret("n", Some("age")), true), (Cypher.Ret("n", None), false)))
    assert(lim.contains(3))
    // properties() maps are unorderable; trailing junk dies (expectEof)
    intercept[IllegalArgumentException](
      Cypher.parse("match (n:P) return n order by properties(n)"))
    intercept[IllegalArgumentException](
      Cypher.parse("match (n:P) return n bogus trailing"))

    import spark.implicits._
    val g = Seq(("Ann", "31"), ("Bob", "25"), ("Cid", "40"), ("Dee", "25"))
      .foldLeft(PropertyGraph.empty(spark)) { case (acc, (n, a)) =>
        acc.merge(s"merge (p:Person {'name': '$n', 'age': '$a'})") }
    // sort on an attr output column, tie-break on the identity, cap rows
    val top = g.query(
      "match (p:Person) return p, p.age order by p.age desc, p limit 2")
    assert(top.as[(String, String)].collect().toSeq ==
      Seq(("Cid", "40"), ("Ann", "31")))
    // ORDER BY + LIMIT plans per-partition top-k, never a global sort
    // (the plan Spark makes, as this driver-held graph would otherwise fold)
    val plan = graft.core.LocalFold.unfolded(top).executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k plan:\n$plan")
    // bare LIMIT caps without sorting
    assert(g.query("match (p:Person) return p limit 3").count() == 3)
    // a sort key absent from RETURN is a clear error
    intercept[IllegalArgumentException](
      g.query("match (p:Person) return p order by p.age"))
  }

  test("example.py four-triple MATCH over the MERGE corpus") {
    val merges = Seq(
      "merge (p:Person {'name': 'Samuel'})-[:FRIEND]->(o:Person {'name': 'Tasya'})",
      "merge (p:Person {'name': 'Tasya'})-[:FRIEND]->(o:Person {'name': 'Samuel'})",
      "merge (p:Person {'name': 'Samuel'})-[:FRIEND]->(o:Person {'name': 'Simon'})",
      "merge (p:Person {'name': 'Simon'})-[:FRIEND]->(o:Person {'name': 'Samuel'})",
      "merge (p:Person {'name': 'Samuel'})-[:FRIEND]->(o:Person {'name': 'John'})",
      "merge (p:Person {'name': 'Simon'})-[:FRIEND]->(o:Person {'name': 'Sally'})",
      "merge (p:Person {'name': 'Sally'})-[:FRIEND]->(o:Person {'name': 'Simon'})",
      "merge (p:Person {'name': 'Tasya'})-[:FRIEND]->(o:Person {'name': 'Margaret'})",
      "merge (p:Person {'name': 'Margaret'})-[:FRIEND]->(o:Person {'name': 'Tasya'})",
      "merge (p:Person {'name': 'Samuel'})-[:LIKES]->(o:Post {'name': 'Ideas'})",
      "merge (p:Person {'name': 'Tasya'})-[:POSTED]->(o:Post {'name': 'Ideas'})",
      "merge (p:Person {'name': 'Tasya'})-[:POSTED]->(o:Post {'name': 'Lamentations'})",
      "merge (p:Person {'name': 'Tasya'})-[:POSTED]->(o:Post {'name': 'Love'})",
      "merge (p:Person {'name': 'Tasya'})-[:POSTED]->(o:Post {'name': 'Thoughts'})",
      "merge (p:Person {'name': 'Samuel'})-[:LIKES]->(o:Post {'name': 'Thoughts'})",
      "merge (p:Person {'name': 'Tasya'})-[:LIKES]->(o:Food {'name': 'Pocky'})",
      "merge (p:Post {'name': 'Ideas'})-[:REFERS]->(o:Person {'name': 'Margaret'})",
      "merge (p:Post {'name': 'Thoughts'})-[:REFERS]->(o:Person {'name': 'John'})")
    val g = merges.foldLeft(PropertyGraph.empty(spark))(_.merge(_))
    // re-merge is a no-op
    val g2 = g.merge(merges.head)
    assert(g2.vertices.count() == g.vertices.count())

    val rows = g2.query(
      "match (start:Person)-[:FRIEND]->(end:Person), (start)-[:LIKES]->(post:Post), " +
        "(end)-[:POSTED]->(post:Post), (post:Post)-[:REFERS]->(person:Person) " +
        "return start, end, post, person")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    // Samuel LIKES Ideas & Thoughts; Tasya POSTED both; both REFER someone;
    // Samuel-FRIEND->Tasya closes the pattern.
    assert(rows == Set(
      ("Samuel", "Tasya", "Ideas", "Margaret"),
      ("Samuel", "Tasya", "Thoughts", "John")))
  }

  private def fixtureGraph: PropertyGraph = Seq(
    "merge (a:Person {'name': 'Ann', 'age': '30'})-[:KNOWS]->(b:Person {'name': 'Bob', 'age': '20'})",
    "merge (c:Person {'name': 'Cal', 'age': '40'})",
    "merge (a:Person {'name': 'Ann'})-[:LIKES]->(p:Post {'name': 'P1'})"
  ).foldLeft(PropertyGraph.empty(spark))(_.merge(_))

  test("OPTIONAL MATCH: unmatched rows survive with NULL optional vars") {
    val g = fixtureGraph
    // parser golden
    val m = Cypher.parse(
      "match (p:Person) optional match (p)-[:KNOWS]->(q:Person) return p, q")
      .asInstanceOf[Cypher.Match]
    assert(m.optional.nonEmpty && m.chains.length == 1)
    val rows = g.query(
      "match (p:Person) optional match (p)-[:KNOWS]->(q:Person) return p, q")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(rows == Set(("Ann", Some("Bob")), ("Bob", None), ("Cal", None)))
    // optional attr projection NULLs too (left attrs join)
    val attrs = g.query(
      "match (p:Person) optional match (p)-[:KNOWS]->(q:Person) return p, q.age")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(attrs == Set(("Ann", Some("20")), ("Bob", None), ("Cal", None)))
    // count(q) skips NULL bindings — zero-match rows count 0
    val counts = g.query(
      "match (p:Person) optional match (p)-[:KNOWS]->(q:Person) return p, count(q)")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(counts == Set(("Ann", 1L), ("Bob", 0L), ("Cal", 0L)))
    // properties(q) of an optional var: NULL map on unmatched rows
    val maps = g.query(
      "match (p:Person) optional match (p)-[:KNOWS]->(q:Person) return p, properties(q)")
      .collect().map(r => (r.getString(0), Option(r.getMap[String, String](1)))).toSet
    assert(maps.map { case (p, m) => (p, m.isDefined) } ==
      Set(("Ann", true), ("Bob", false), ("Cal", false)))
    // guardrails: no shared variable; WHERE over an optional-only var
    intercept[IllegalArgumentException](g.query(
      "match (p:Person) optional match (x:Post) return p, x"))
    intercept[IllegalArgumentException](g.query(
      "match (p:Person) optional match (p)-[:KNOWS]->(q:Person) " +
        "where q.age > 10 return p, q"))
  }

  test("DETACH DELETE: nodes go, incident edges cascade both directions") {
    val g = fixtureGraph
    val g2 = g.execute("match (p:Person {name: 'Ann'}) detach delete p")
    assert(g2.vertices.select("name").collect().map(_.getString(0)).toSet ==
      Set("Bob", "Cal", "P1"))
    // Ann's outgoing KNOWS and LIKES edges are both gone
    assert(g2.edges.count() == 0)
    // WHERE composes with the delete pattern
    val g3 = g.execute("match (p:Person) where p.age >= 30 detach delete p")
    assert(g3.vertices.select("name").collect().map(_.getString(0)).toSet ==
      Set("Bob", "P1"))
    // parser: bare DELETE is not offered
    intercept[IllegalArgumentException](
      g.execute("match (p:Person) delete p"))
  }

  test("SET: attr upsert on matched nodes only; identity not settable") {
    val g = fixtureGraph
    val g2 = g.execute("match (p:Person) where p.age >= 30 set p.senior = 'y'")
    val seniors = g2.query("match (p:Person) where p.senior = 'y' return p")
      .collect().map(_.getString(0)).toSet
    assert(seniors == Set("Ann", "Cal"))
    // overwrite an EXISTING key (map_filter precedes map_concat)
    val g3 = g2.execute("match (p:Person {name: 'Ann'}) set p.senior = 'n'")
    assert(g3.query("match (p:Person) where p.senior = 'y' return p")
      .collect().map(_.getString(0)).toSet == Set("Cal"))
    // untouched nodes keep their attrs verbatim
    assert(g3.query("match (p:Person {name: 'Bob'}) return p.age")
      .collect().map(_.getString(0)).toSeq == Seq("20"))
    intercept[IllegalArgumentException](
      g.execute("match (p:Person) set p.name = 'x'"))
    // a caller's bare (src, dst, rel) edge frame: a MERGE after a SET
    // keeps its new edge's properties
    import spark.implicits._
    val bare = PropertyGraph(
      Seq(("x", "N", Map.empty[String, String])).toDF("name", "label", "attrs"),
      Seq(("x", "x", "SELF")).toDF("src", "dst", "rel"))
      .execute("match (n:N) set n.k = 'v'")
      .merge("merge (x:N {name: 'x'})-[:R {w: '1'}]->(y:N {name: 'y'})")
    assert(bare.query("match (a)-[:R {w: '1'}]->(b) return a, b")
      .as[(String, String)].collect().toSeq == Seq(("x", "y")))
  }

  test("shortestPath: anchored BFS, band filter, target filters, length(p)") {
    // a chain with a shortcut: a→b→c→d plus a→c
    val g = Seq(
      "merge (p:N {'name': 'a'})-[:R]->(o:N {'name': 'b'})",
      "merge (p:N {'name': 'b'})-[:R]->(o:N {'name': 'c'})",
      "merge (p:N {'name': 'c'})-[:R]->(o:M {'name': 'd'})",
      "merge (p:N {'name': 'a'})-[:R]->(o:N {'name': 'c'})")
      .foldLeft(PropertyGraph.empty(spark))(_.merge(_))
    val got = g.query(
      "match p = shortestPath((s:N {name: 'a'})-[:R*1..3]->(b)) return b, length(p)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the a→c shortcut wins over a→b→c; d rides it at 2
    assert(got == Map("b" -> 1L, "c" -> 1L, "d" -> 2L), got.toString)
    // band minimum excludes closer nodes; label filter restricts targets
    val far = g.query(
      "match p = shortestPath((s:N {name: 'a'})-[:R*2..3]->(b)) return b")
      .collect().map(_.getString(0)).toSet
    assert(far == Set("d"), far.toString)
    val labeled = g.query(
      "match p = shortestPath((s:N {name: 'a'})-[:R*1..3]->(b:M)) return b, length(p)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(labeled == Map("d" -> 2L))
    // undirected band sees predecessors too
    val undir = g.query(
      "match p = shortestPath((s:N {name: 'c'})-[:R*1..1]-(b)) return b")
      .collect().map(_.getString(0)).toSet
    assert(undir == Set("a", "b", "d"), undir.toString)
    // error paths: ambiguous source, reversed arrow, bad RETURN var
    intercept[IllegalArgumentException](g.query(
      "match p = shortestPath((s:N)-[:R*1..2]->(b)) return b").collect())
    intercept[IllegalArgumentException](g.query(
      "match p = shortestPath((s:N {name: 'a'})<-[:R*1..2]-(b)) return b"))
    intercept[IllegalArgumentException](g.query(
      "match p = shortestPath((s:N {name: 'a'})-[:R*1..2]->(b)) return length(q)"))
  }

  test("WITH pipeline: parser goldens") {
    val q = "match (c:Customer)-[:IN]->(n:Nation) " +
      "with n, count(*) as nc where nc > 2 " +
      "match (n)-[:IN]->(r:Region) return n.name, nc, r order by nc desc limit 5"
    val w = Cypher.parse(q).asInstanceOf[Cypher.With]
    assert(w.items == Seq(
      (Cypher.Ret("n", None), None),
      (Cypher.RetAgg("count", None), Some("nc"))))
    // post-WITH WHERE leaves are BARE output names (attr == "")
    assert(w.postWheres == Seq(Cypher.Where("nc", "", ">", 2L)))
    val tail = w.next.asInstanceOf[Cypher.Match]
    assert(tail.chains.size == 1 && tail.returns.size == 3)
    assert(tail.orderBy == Seq((Cypher.RetAgg("count", None), true)) ||
      tail.orderBy == Seq((Cypher.Ret("nc", None), true)))
    assert(tail.limit.contains(5))
    // bare RETURN tail: a Match with EMPTY chains
    val w2 = Cypher.parse(
      "match (a:P)-[:R]->(b) with b, count(*) as k return b, k")
      .asInstanceOf[Cypher.With]
    assert(w2.next.asInstanceOf[Cypher.Match].chains.isEmpty)
    // chained stages nest With inside With
    val w3 = Cypher.parse(
      "match (a:P)-[:R]->(b) with b match (b)-[:S]->(d) with d return d")
      .asInstanceOf[Cypher.With]
    assert(w3.next.isInstanceOf[Cypher.With])
    // dotted post-WITH refs get the targeted scoping error
    val e = intercept[IllegalArgumentException](Cypher.parse(
      "match (a:P)-[:R]->(b) with b where b.x > 1 return b"))
    assert(e.getMessage.contains("bare name"))
    // a WITH must be followed by MATCH or RETURN
    intercept[IllegalArgumentException](Cypher.parse(
      "match (a:P)-[:R]->(b) with b detach delete b"))
    // properties() cannot pipe
    intercept[IllegalArgumentException](Cypher.parse(
      "match (a:P)-[:R]->(b) with properties(b) return b"))
  }

  test("WITH pipeline: aggregate stage, HAVING filter, second hop") {
    var g = PropertyGraph.empty(spark)
    Seq("Ann" -> "Paris", "Bob" -> "Paris", "Cy" -> "Paris", "Dee" -> "Oslo")
      .foreach { case (p, c) =>
        g = g.merge(s"merge (p:Person {'name': '$p'})-[:LIVES]->(c:City {'name': '$c'})") }
    g = g.merge("merge (c:City {'name': 'Paris'})-[:IN]->(k:Country {'name': 'FR'})")
    g = g.merge("merge (c:City {'name': 'Oslo'})-[:IN]->(k:Country {'name': 'NO'})")
    // count per city, keep cities with > 2 residents, hop to country
    val got = g.query(
      "match (p:Person)-[:LIVES]->(c:City) with c, count(*) as n where n > 2 " +
        "match (c)-[:IN]->(k:Country) return c.name, n, k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set(("Paris", 3L, "FR")), got.toString)
    // chained WITH stages: per-city counts re-aggregated per country
    val chained = g.query(
      "match (p:Person)-[:LIVES]->(c:City) with c, count(*) as n " +
        "match (c)-[:IN]->(k:Country) with k, sum(n) as total " +
        "return k, total order by total desc")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(chained == Seq("FR" -> 3L, "NO" -> 1L), chained.toString)
    // bare RETURN tail serves the filtered stage directly
    val bare = g.query(
      "match (p:Person)-[:LIVES]->(c:City) with c, count(*) as n where n > 2 " +
        "return c, n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(bare == Set("Paris" -> 3L))
    // WITH narrows scope: p is gone downstream
    val e1 = intercept[IllegalArgumentException](g.query(
      "match (p:Person)-[:LIVES]->(c:City) with c " +
        "match (c)-[:IN]->(k:Country) return p, k"))
    assert(e1.getMessage.contains("WITH"), e1.getMessage)
    // post-WITH WHERE is scoped to the WITH outputs
    val e2 = intercept[IllegalArgumentException](g.query(
      "match (p:Person)-[:LIVES]->(c:City) with c, count(*) as n where m > 1 " +
        "return c, n"))
    assert(e2.getMessage.contains("in scope"), e2.getMessage)
    // a pipeline segment must re-bind a WITH variable (no implicit cross)
    val e3 = intercept[IllegalArgumentException](g.query(
      "match (p:Person)-[:LIVES]->(c:City) with c, count(*) as n " +
        "match (x:Country)-[:IN]->(y) return x, n"))
    assert(e3.getMessage.contains("re-bind"), e3.getMessage)
    // WITH ORDER BY/LIMIT: the top-k pipeline — modifiers run BEFORE the
    // post-WITH WHERE (Neo4j's clause order), so LIMIT 1 keeps only the
    // top city and the filter then sees just that row
    val top = g.query(
      "match (p:Person)-[:LIVES]->(c:City) with c, count(*) as n " +
        "order by n desc, c limit 1 " +
        "match (c)-[:IN]->(k:Country) return c, n, k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(top == Set(("Paris", 3L, "FR")), top.toString)
    // LIMIT-before-WHERE: the limit keeps Paris only; a WHERE that
    // excludes it yields the empty frame (Oslo was already truncated)
    val cut = g.query(
      "match (p:Person)-[:LIVES]->(c:City) with c, count(*) as n " +
        "order by n desc, c limit 1 where n < 2 return c, n")
    assert(cut.count() == 0, "WHERE must filter AFTER the LIMIT")
    // an ORDER BY key must be a WITH output
    val e4 = intercept[IllegalArgumentException](g.query(
      "match (p:Person)-[:LIVES]->(c:City) with c, count(*) as n " +
        "order by zz limit 1 return c"))
    assert(e4.getMessage.contains("in scope"), e4.getMessage)
    // segment aggregation ranges over the distinct BINDINGS, not the
    // distinct projected values: three Paris residents count as 3 even
    // though only c is projected
    val perCity = g.query(
      "match (c:City) with c match (q:Person)-[:LIVES]->(c) " +
        "return c, count(*)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perCity == Map("Paris" -> 3L, "Oslo" -> 1L), perCity.toString)
    // a numeric aggregate over a segment-bound bare node var is rejected
    // (identity strings would try_cast to NULL), same as single-stage
    val e5 = intercept[IllegalArgumentException](g.query(
      "match (c:City) with c match (q:Person)-[:LIVES]->(c) " +
        "return c, sum(q)"))
    assert(e5.getMessage.contains("var.attr"), e5.getMessage)
    // aggregation over a segment with an ANONYMOUS node is rejected (the
    // unnamed binding cannot join the distinct set — it would silently
    // undercount); naming the node is the documented fix
    val e6 = intercept[IllegalArgumentException](g.query(
      "match (c:City) with c match ()-[:LIVES]->(c) return c, count(*)"))
    assert(e6.getMessage.contains("NAMED"), e6.getMessage)
    // Neo4j-port compat: RETURN DISTINCT / WITH DISTINCT are accepted
    // no-ops (set semantics already hold here)
    val dis = g.query(
      "match (p:Person)-[:LIVES]->(c:City) return distinct c")
      .collect().map(_.getString(0)).toSet
    assert(dis == Set("Paris", "Oslo"))
    val wdis = g.query(
      "match (p:Person)-[:LIVES]->(c:City) with distinct c return c")
      .collect().map(_.getString(0)).toSet
    assert(wdis == Set("Paris", "Oslo"))
  }

  test("WITH attribute passthrough: piped bare variables serve v.attr downstream") {
    var g = PropertyGraph.empty(spark)
    Seq(("Ann", "31", "Paris"), ("Bob", "45", "Paris"), ("Cy", "19", "Oslo"))
      .foreach { case (p, age, c) =>
        g = g.merge(s"merge (p:Person {'name': '$p', 'age': '$age'})" +
          s"-[:LIVES]->(c:City {'name': '$c'})") }
    // `WITH p MATCH … WHERE p.age > 30` — age was NOT projected in the
    // WITH; the piped identity recovers it from the vertices frame
    val got = g.query(
      "match (p:Person)-[:LIVES]->(c:City) with p, c " +
        "match (p)-[:LIVES]->(c) where p.age > 30 return p, c")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(got == Set("Ann" -> "Paris", "Bob" -> "Paris"), got.toString)
    // RETURN of a piped-only attribute (p not re-bound downstream)
    val ret = g.query(
      "match (p:Person)-[:LIVES]->(c:City) with p, c " +
        "match (c)-[:LIVES]-(q:Person) where q.name = 'Ann' return p.age")
      .collect().map(_.getString(0)).toSet
    assert(ret == Set("31", "45"), ret.toString) // Paris residents' ages
    // aggregate over a piped attribute (1:1 hop, so the piped bindings
    // don't fan out): residents' ages summed per country
    g = g.merge("merge (c:City {'name': 'Paris'})-[:IN]->(k:Country {'name': 'FR'})")
    g = g.merge("merge (c:City {'name': 'Oslo'})-[:IN]->(k:Country {'name': 'NO'})")
    val agg = g.query(
      "match (p:Person)-[:LIVES]->(c:City) with p, c " +
        "match (c)-[:IN]->(k:Country) return k, sum(p.age)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(agg == Set("FR" -> 76L, "NO" -> 19L), agg.toString)
    // a conjunct mixing piped and segment-bound variables is rejected
    val e1 = intercept[IllegalArgumentException](g.query(
      "match (p:Person)-[:LIVES]->(c:City) with p, c " +
        "match (c)-[:LIVES]-(q:Person) where p.age > 30 or q.age > 30 " +
        "return p, q"))
    assert(e1.getMessage.contains("may not mix"), e1.getMessage)
    // an unknown piped variable in WHERE still rejects cleanly
    val e2 = intercept[IllegalArgumentException](g.query(
      "match (p:Person)-[:LIVES]->(c:City) with c " +
        "match (c)-[:LIVES]-(q:Person) where z.age > 30 return q"))
    assert(e2.getMessage.contains("in scope"), e2.getMessage)
  }

  test("UNWIND: literal list anchors a pattern; bare RETURN; parse guards") {
    var g = PropertyGraph.empty(spark)
    Seq("Ann" -> "Paris", "Bob" -> "Paris", "Cy" -> "Oslo")
      .foreach { case (p, c) =>
        g = g.merge(s"merge (p:Person {'name': '$p'})-[:LIVES]->(c:City {'name': '$c'})") }
    // the listed identities anchor the pattern — a broadcast-sized probe
    val got = g.query(
      "unwind ['Ann', 'Cy', 'Nobody'] as p match (p)-[:LIVES]->(c:City) " +
        "return p, c")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(got == Set("Ann" -> "Paris", "Cy" -> "Oslo"), got.toString)
    // bare RETURN projects the list (set semantics — duplicate collapses)
    val bare = g.query("unwind ['x', 'y', 'x'] as v return v")
      .collect().map(_.getString(0)).toSet
    assert(bare == Set("x", "y"))
    // numeric list keeps a numeric column
    val nums = g.query("unwind [3, 1, 2] as n return n order by n limit 2")
      .collect().map(_.getLong(0)).toSeq
    assert(nums == Seq(1L, 2L))
    // UNWIND composes with WITH stages downstream
    val piped = g.query(
      "unwind ['Ann', 'Bob'] as p match (p)-[:LIVES]->(c:City) " +
        "with c, count(*) as n return c, n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(piped == Set("Paris" -> 2L))
    // guards: empty list, mixed types, missing AS
    val e1 = intercept[IllegalArgumentException](
      Cypher.parse("unwind [] as x return x"))
    assert(e1.getMessage.contains("non-empty"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Cypher.parse("unwind ['a', 2] as x return x"))
    assert(e2.getMessage.contains("all-string or all-numeric"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      Cypher.parse("unwind ['a'] x return x"))
    assert(e3.getMessage.contains("AS"), e3.getMessage)
  }

  test("collect + pipeline UNWIND: sorted lists, re-expansion, scope, guards") {
    var g = PropertyGraph.empty(spark)
    Seq("Ann" -> "Paris", "Bob" -> "Paris", "Cy" -> "Oslo")
      .foreach { case (p, c) =>
        g = g.merge(s"merge (p:Person {'name': '$p'})-[:LIVES]->(c:City {'name': '$c'})") }
    // collect gathers the group's DISTINCT identities, SORTED (set
    // semantics + determinism — documented divergence from Neo4j's bags)
    val collected = g.query(
      "match (p:Person)-[:LIVES]->(c:City) with c, collect(p) as ps return c, ps")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(collected == Map("Paris" -> Seq("Ann", "Bob"), "Oslo" -> Seq("Cy")))
    // collect also works in a PLAIN pattern RETURN (auto-alias collect_p)
    val direct = g.query(
      "match (p:Person)-[:LIVES]->(c:City) return c, collect(p)")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(direct == collected)
    // UNWIND re-expands the list; the other piped variable stays in scope
    val expanded = g.query(
      "match (p:Person)-[:LIVES]->(c:City) with c, collect(p) as ps " +
        "unwind ps as person return c, person")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(expanded == Set("Paris" -> "Ann", "Paris" -> "Bob", "Oslo" -> "Cy"))
    // the exploded alias re-anchors a MATCH tail like any piped variable
    val rejoined = g.query(
      "match (p:Person)-[:LIVES]->(c:City) with c, collect(p) as ps " +
        "unwind ps as person match (person)-[:LIVES]->(c2:City) return person, c2")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(rejoined == Set("Ann" -> "Paris", "Bob" -> "Paris", "Cy" -> "Oslo"))
    // guards: non-list column, out-of-scope column, alias collision
    val e1 = intercept[IllegalArgumentException](g.query(
      "match (p:Person)-[:LIVES]->(c:City) with c, count(*) as n " +
        "unwind n as x return x"))
    assert(e1.getMessage.contains("not a list"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](g.query(
      "match (p:Person)-[:LIVES]->(c:City) with c, collect(p) as ps " +
        "unwind zs as x return x"))
    assert(e2.getMessage.contains("in scope"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](g.query(
      "match (p:Person)-[:LIVES]->(c:City) with c, collect(p) as ps " +
        "unwind ps as c return c"))
    assert(e3.getMessage.contains("collides"), e3.getMessage)
  }

  test("numeric UNWIND into a node-rebinding tail matches string identities (r10 advice)") {
    var g = PropertyGraph.empty(spark)
    // vertices whose identities are numeric STRINGS — the shape the
    // silent-empty defect hit: LongType list vs string identity equi-join
    Seq("1" -> "Paris", "2" -> "Oslo")
      .foreach { case (p, c) =>
        g = g.merge(s"merge (p:Person {'name': '$p'})-[:LIVES]->(c:City {'name': '$c'})") }
    val got = g.query(
      "unwind [1, 2, 9] as p match (p)-[:LIVES]->(c:City) return p, c")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(got == Set("1" -> "Paris", "2" -> "Oslo"), got.toString)
    // a numeric list NOT anchoring a pattern keeps its numeric column
    val nums = g.query("unwind [2, 1] as n return n order by n limit 1")
      .collect().map(_.getLong(0)).toSeq
    assert(nums == Seq(1L))
  }

  test("HashDb.cypher serves every read statement kind, UNWIND included") {
    val db = new HashDb(spark)
    Seq("Ann" -> "Oslo", "Bob" -> "Paris").foreach { case (p, c) =>
      assert(db.cypher(
        s"merge (p:Person {'name': '$p'})-[:LIVES]->(c:City {'name': '$c'})").isEmpty) }
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    Seq(
      "unwind ['Ann', 'Bob'] as p match (p)-[:LIVES]->(c:City) return p, c",
      "unwind ['x', 'y'] as v return v",
      "match (p:Person)-[:LIVES]->(c:City) with c, count(*) as n return c, n",
      "match (p:Person)-[:LIVES]->(c:City) return p, c"
    ).foreach { q =>
      val got = db.cypher(q)
      assert(got.isDefined, q)
      assert(rows(got.get) == rows(db.graphState.query(q)), q)
    }
    assert(rows(db.cypher("unwind ['Ann', 'Bob'] as p match (p)-[:LIVES]->(c:City) " +
      "return p, c").get) == Set(Seq("Ann", "Oslo"), Seq("Bob", "Paris")))
  }
}
