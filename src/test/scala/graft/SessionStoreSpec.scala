package graft

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Union}

import graft.core.GraftCatalog
import graft.sql.HashQL

/** The driver-held row store behind `HashDb`'s session writes
  * ([[graft.core.LocalRows]]): tables written row at a time stay one local
  * relation, versions share rows, point reads and writes run no Spark job,
  * documents widen instead of dropping fields, concurrent writers lose
  * nothing, and a long mixed session reads right with bounded plans. */
class SessionStoreSpec extends SparkSpec {
  import spark.implicits._

  private def nodes(df: DataFrame): Int = df.queryExecution.analyzed.collect { case p => p }.length
  private def isOneLocalRelation(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]
  private def relation(df: DataFrame): LocalRelation =
    df.queryExecution.analyzed.asInstanceOf[LocalRelation]
  private def sqlRows(cat: GraftCatalog, stmt: String): Set[String] =
    HashQL.execute(cat, stmt).get.collect().map(_.mkString("|")).toSet

  /** Job ids `f` started, tagged by a job group of its own. */
  private def jobsOf(f: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val group = s"session-store-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }

  test("appends after an UPDATE or a schema-widening insert keep the table one LocalRelation") {
    val cat = new GraftCatalog(spark)
    HashQL.execute(cat, "insert into t (a, n) values ('x', 1), ('y', 2)")
    HashQL.execute(cat, "update t set t.n = 9 where t.a = 'x'")
    HashQL.execute(cat, "insert into t (a, n) values ('z', 3)")
    assert(isOneLocalRelation(cat.table("t")))
    // a new field and a double where the table holds bigints: Catalyst's
    // union widens both, and the result folds back; later bigints union
    // into the double column the same way
    HashQL.execute(cat, "insert into t (a, n, extra) values ('q', 4.5, 'e')")
    HashQL.execute(cat, "insert into t (a, n) values ('w', 5)")
    HashQL.execute(cat, "delete from t where t.a = 'y'")
    HashQL.execute(cat, "insert into t (a, n, extra) values ('v', 6, 'f')")
    val t = cat.table("t")
    assert(isOneLocalRelation(t), t.queryExecution.analyzed.treeString)
    assert(cat.rowsOf("t").isDefined)
    assert(t.columns.toSeq == Seq("id", "a", "n", "extra"))
    assert(t.collect().map(_.mkString("|")).toSet == Set(
      "1|x|9.0|null", "3|z|3.0|null", "4|q|4.5|e", "5|w|5.0|null", "6|v|6.0|f"))
  }

  test("cat.insert returns the one-row delta on the append path and the union path") {
    val cat = new GraftCatalog(spark)
    cat.insert("t", Seq("a" -> "x"))
    val appended = cat.insert("t", Seq("a" -> "y"))
    assert(appended.collect().map(_.mkString("|")).toSeq == Seq("2|y"))
    assert(appended.columns.toSeq == Seq("id", "a"))
    val widened = cat.insert("t", Seq("a" -> "z", "b" -> 7L))
    assert(widened.collect().map(_.mkString("|")).toSeq == Seq("3|z|7"))
    assert(cat.table("t").count() == 3 && isOneLocalRelation(cat.table("t")))
  }

  test("tableAsOf returns every earlier version unchanged, and appends share rows") {
    val cat = new GraftCatalog(spark)
    val seen = mutable.ArrayBuffer.empty[Set[String]]
    def snap(): Unit = seen += cat.table("t").collect().map(_.mkString("|")).toSet
    Seq("insert into t (a, n) values ('x', 1)",
      "insert into t (a, n) values ('y', 2)",
      "insert into t (a, n) values ('z', 3)",
      "update t set t.n = 9 where t.a = 'x'",
      "insert into t (a, n, c) values ('w', 4, 'new')",
      "delete from t where t.n = 2",
      "insert into t (a, n) values ('v', 5)").foreach { s =>
      HashQL.execute(cat, s); snap()
    }
    assert(cat.versionOf("t") == seen.length)
    seen.zipWithIndex.foreach { case (rows, i) =>
      assert(cat.tableAsOf("t", i + 1).collect().map(_.mkString("|")).toSet == rows,
        s"version ${i + 1}")
    }
    // versions 1-3 are appends: each reads the first row object itself
    val firsts = (1 to 3).map(v => relation(cat.tableAsOf("t", v)).data.head)
    assert(firsts.forall(_ eq firsts.head))
  }

  test("a parquet-registered table still gets a union") {
    val cat = new GraftCatalog(spark)
    val dir = java.nio.file.Files.createTempDirectory("store").toString
    Seq((1L, "x"), (2L, "y")).toDF("id", "a").write.parquet(s"$dir/t")
    cat.register("t", spark.read.parquet(s"$dir/t"))
    HashQL.execute(cat, "insert into t (a) values ('z')")
    val plan = cat.table("t").queryExecution.analyzed
    assert(plan.collect { case u: Union => u }.nonEmpty)
    assert(cat.rowsOf("t").isEmpty)
    assert(sqlRows(cat, "select t.a from t") == Set("x", "y", "z"))
  }

  test("session writes and point reads run no Spark job") {
    val db = new HashDb(spark)
    db.set("p", "a", "1")
    db.sql("insert into t (a, n) values ('x', 1)")
    db.saveDocument("c", 1, """{"age":30,"name":"a"}""")
    val jobs = jobsOf {
      db.set("p", "b", "2"); db.set("p", "a", "3"); db.clear("p", "b")
      assert(db.get("p", "a").contains("3") && db.get("p", "b").isEmpty)
      db.sql("insert into t (a, n) values ('y', 2)")
      db.saveDocument("c", 2, """{"age":31,"name":"b"}""")
      db.saveDocument("c", 1, """{"age":32,"name":"a"}""")
      assert(db.getDocument("c", 1).contains("""{"age":32,"name":"a"}"""))
      assert(db.getDocument("c", 3).isEmpty)
    }
    assert(jobs.isEmpty, s"jobs started: $jobs")
  }

  test("session range reads, Cypher MATCH, joins, order by and distinct run no Spark job") {
    val db = new HashDb(spark)
    val kv = mutable.TreeMap.empty[String, String]
    (1 to 12).foreach { i => db.set("p", f"s$i%02d", s"v$i"); kv(f"s$i%02d") = s"v$i" }
    db.set("q", "s05", "other")
    db.sql("create join inner join people on items.owner = people.pid " +
      "inner join products on items.search = products.name")
    val people = Seq((1L, "ann", 30L), (2L, "bob", 25L), (3L, "cat", 30L))
    people.foreach { case (pid, n, age) =>
      db.sql(s"insert into people (pid, people_name, age) values ($pid, '$n', $age)") }
    Seq(("pen", 100L), ("cup", 200L)).foreach { case (n, price) =>
      db.sql(s"insert into products (name, price) values ('$n', $price)") }
    Seq(("pen", 1L), ("pen", 3L), ("cup", 2L), ("pen", 9L)).foreach { case (s, o) =>
      db.sql(s"insert into items (search, owner, note) values ('$s', $o, 'x')") }
    Seq("a" -> "b", "a" -> "c", "b" -> "c").foreach { case (a, b) =>
      db.cypher(s"merge (a:P {'name': '$a'})-[:R]->(b:P {'name': '$b'})") }
    def col0(df: DataFrame): Seq[String] = df.collect().map(_.get(0).toString).toSeq
    val jobs = jobsOf {
      val range = kv.range("s03", "s08\u0000").map { case (k, v) => s"$k=$v" }.toSeq
      def pairs(df: DataFrame) = df.collect().map(r => s"${r.getString(1)}=${r.getString(2)}").toSeq
      assert(pairs(db.kv.queryBetween("p", "s03", "s08")) == range)
      assert(pairs(db.kv.queryBetween("p", "s03", "s08", desc = true)) == range.reverse)
      assert(col0(db.cypher("match (a:P {name: 'a'})-[:R]->(b:P) return b").get).sorted == Seq("b", "c"))
      assert(col0(db.cypher("match (a:P)-[:R]->(b:P {name: 'c'}) return a").get).sorted == Seq("a", "b"))
      val joined = db.sql("select products.price, people.people_name, items.search from items " +
        "inner join people on items.owner = people.pid " +
        "inner join products on items.search = products.name where items.search = 'pen'").get
      assert(joined.collect().map(_.mkString("|")).sorted.toSeq == Seq("100|ann|pen", "100|cat|pen"))
      assert(col0(db.sql("select people.people_name from people order by people.age desc, " +
        "people.people_name").get) == Seq("ann", "cat", "bob"))
      assert(col0(db.sql("select distinct people.age from people").get).sorted == Seq("25", "30"))
    }
    assert(jobs.isEmpty, s"jobs started: $jobs")
  }

  test("a 240-statement MERGE/SET/DETACH DELETE session stays one local relation and runs no job") {
    val db = new HashDb(spark)
    val rnd = new Random(11)
    val names = (0 until 10).map(i => s"n$i")
    val colors = Seq("red", "blue")
    val attrs = mutable.Map.empty[String, Map[String, String]] // name -> attrs but name
    val edges = mutable.Set.empty[(String, String)]
    def pick(): String = names(rnd.nextInt(names.length))
    def names0(df: DataFrame): Set[String] = df.collect().map(_.getString(0)).toSet
    def statement(): Unit = rnd.nextInt(10) match {
      case 0 | 1 | 2 | 3 | 4 =>
        val (a, b) = (pick(), pick())
        db.cypher(s"merge (a:P {'name': '$a'})-[:R]->(b:P {'name': '$b'})")
        Seq(a, b).foreach(n => attrs.getOrElseUpdate(n, Map.empty)); edges += ((a, b))
      case 5 | 6 =>
        val (a, c) = (pick(), colors(rnd.nextInt(2)))
        db.cypher(s"match (p:P {name: '$a'}) set p.color = '$c'")
        attrs.get(a).foreach(m => attrs(a) = m + ("color" -> c))
      case 7 =>
        val c = colors(rnd.nextInt(2))
        db.cypher(s"match (p:P) where p.color = '$c' set p.seen = 'y'")
        attrs.foreach { case (n, m) => if (m.get("color").contains(c)) attrs(n) = m + ("seen" -> "y") }
      case _ =>
        val a = pick()
        if (rnd.nextBoolean()) {
          db.cypher(s"match (p:P {name: '$a'}) detach delete p")
          attrs.remove(a); edges.filterInPlace { case (s, d) => s != a && d != a }
        } else {
          db.cypher(s"match (a:P {name: '$a'})-[:R]->(b:P) detach delete b")
          val gone = edges.collect { case (`a`, b) => b }.toSet
          gone.foreach(attrs.remove); edges.filterInPlace { case (s, d) => !gone(s) && !gone(d) }
        }
    }
    def check(): Unit = {
      val g = db.graphState
      Seq(g.vertices, g.edges).foreach(df => assert(isOneLocalRelation(df), df.queryExecution.analyzed.treeString))
      assert(names0(g.vertices.select("name")) == attrs.keySet)
      assert(g.edges.collect().map(r => (r.getString(0), r.getString(1))).toSet == edges)
      val a = pick()
      assert(names0(db.cypher(s"match (a:P {name: '$a'})-[:R]->(b:P) return b").get) ==
        edges.collect { case (`a`, b) => b }.toSet)
      val c = colors(rnd.nextInt(2))
      assert(names0(db.cypher(s"match (p:P) where p.color = '$c' return p").get) ==
        attrs.collect { case (n, m) if m.get("color").contains(c) => n }.toSet)
      assert(names0(db.cypher("match (p:P) where p.seen = 'y' return p").get) ==
        attrs.collect { case (n, m) if m.contains("seen") => n }.toSet)
    }
    (1 to 40).foreach(_ => statement())
    check()
    // past the old 32-mutation checkpoint, mutations and reads stay on the driver
    val jobs = jobsOf((1 to 20).foreach { k =>
      (1 to 10).foreach(_ => statement())
      if (k % 4 == 0) check()
    })
    assert(jobs.isEmpty, s"jobs started: $jobs")
    check()
  }

  test("saveDocument widens the collection schema for a new field; earlier docs keep theirs") {
    val db = new HashDb(spark)
    db.saveDocument("c", 1, """{"age":30,"name":"a"}""")
    db.saveDocument("c", 2, """{"age":31,"hobbies":[{"name":"chess"}],"name":"b"}""")
    assert(db.getDocument("c", 2).contains("""{"age":31,"hobbies":[{"name":"chess"}],"name":"b"}"""))
    assert(db.getDocument("c", 1).contains("""{"age":30,"name":"a"}"""))
    assert(db.sql("select c.id from c where c.~hobbies[]~name = 'chess'").get
      .as[Long].collect().toSeq == Seq(2L))
    // a nested struct gains a field; a bigint field takes a double
    db.saveDocument("c", 3, """{"age":2.5,"hobbies":[{"level":3,"name":"go"}]}""")
    assert(db.getDocument("c", 3).contains("""{"age":2.5,"hobbies":[{"level":3,"name":"go"}]}"""))
    assert(db.getDocument("c", 2).contains("""{"age":31.0,"hobbies":[{"name":"chess"}],"name":"b"}"""))
    assert(isOneLocalRelation(db.catalog.table("c")))
  }

  test("saveDocument replaces by id in a collection SQL gave another column") {
    val db = new HashDb(spark)
    db.saveDocument("c", 1, """{"name":"a"}""")
    db.sql("insert into c (tag) values ('t')")
    db.saveDocument("c", 2, """{"name":"b"}""")
    db.saveDocument("c", 2, """{"name":"bb"}""")
    assert(db.getDocument("c", 2).contains("""{"name":"bb"}"""))
    assert(db.catalog.table("c").columns.toSeq == Seq("id", "doc", "tag"))
    assert(db.catalog.table("c").collect().map(_.mkString("|")).toSet ==
      Set("1|[a]|null", "1|null|t", "2|[bb]|null"))
  }

  test("saveDocument on a compacted collection replaces by id and appends new ids") {
    val db = new HashDb(spark)
    (1 to 3).foreach(i => db.saveDocument("c", i, s"""{"n":$i,"name":"d$i"}"""))
    val dir = java.nio.file.Files.createTempDirectory("store").toString
    db.catalog.compact("c", s"$dir/c")
    assert(db.catalog.rowsOf("c").isEmpty)
    def ids(where: String): Seq[Long] =
      db.sql(s"select c.id from c where $where").get.as[Long].collect().sorted.toSeq
    db.saveDocument("c", 2, """{"n":20,"name":"two"}""")
    assert(db.getDocument("c", 2).contains("""{"n":20,"name":"two"}"""))
    assert(ids("c.id = 2") == Seq(2L))
    assert(ids("c.~name = 'two'") == Seq(2L) && ids("c.~name = 'd2'").isEmpty)
    db.saveDocument("c", 4, """{"n":4,"name":"d4"}""")
    assert(db.getDocument("c", 4).contains("""{"n":4,"name":"d4"}"""))
    assert(ids("c.id > 0") == Seq(1L, 2L, 3L, 4L))
    // a new field widens the compacted documents too
    db.saveDocument("c", 3, """{"extra":"x","n":3,"name":"d3"}""")
    assert(db.getDocument("c", 3).contains("""{"extra":"x","n":3,"name":"d3"}"""))
    assert(db.getDocument("c", 1).contains("""{"n":1,"name":"d1"}"""))
    assert(ids("c.id = 3") == Seq(3L) && ids("c.id > 0") == Seq(1L, 2L, 3L, 4L))
  }

  test("saveDocument throws on a type conflict, naming the collection, id and field") {
    val db = new HashDb(spark)
    db.saveDocument("c", 1, """{"age":30,"name":"a"}""")
    val e = intercept[IllegalArgumentException](db.saveDocument("c", 2,
      """{"age":"old","hobbies":[{"name":"chess"}],"name":"b"}"""))
    assert(e.getMessage.contains("saveDocument(c, 2)") && e.getMessage.contains("field age"),
      e.getMessage)
    db.saveDocument("c", 3, """{"tags":[{"k":1}]}""")
    val nested = intercept[IllegalArgumentException](
      db.saveDocument("c", 4, """{"tags":[{"k":"one"}]}"""))
    assert(nested.getMessage.contains("field tags[].k"), nested.getMessage)
    // nothing was committed by the failed saves
    assert(db.getDocument("c", 2).isEmpty && db.getDocument("c", 4).isEmpty)
    assert(db.catalog.table("c").count() == 2)
  }

  test("two threads writing one HashDb lose no set or insert") {
    val db = new HashDb(spark)
    val n = 60
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { t =>
      new Thread(() => try (0 until n).foreach { i =>
        db.set(s"t$t", f"k$i%03d", s"$t-$i")
        db.sql(s"insert into writes (writer, i) values ('t$t', $i)")
      } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, errors)
    assert(db.kv.dump().count() == 2 * n)
    assert((0 until 2).forall(t => (0 until n).forall(i => db.get(s"t$t", f"k$i%03d").contains(s"$t-$i"))))
    val ids = db.sql("select writes.id from writes").get.as[Long].collect().toSeq
    assert(ids.sorted == (1L to 2L * n))
  }

  test("a 1200-write mixed session reads the model's rows with bounded plans") {
    val db = new HashDb(spark)
    val rnd = new Random(7)
    val words = Vector("red", "blue", "green", "old", "new", "small", "large", "fast")
    val hobbies = Vector("chess", "rowing", "piano", "golf")
    val kv = mutable.TreeMap.empty[(String, String), String]
    val people = mutable.LinkedHashMap.empty[Long, (String, Long)] // id -> (name, age)
    val notes = mutable.ArrayBuffer.empty[String]
    val docs = mutable.LinkedHashMap.empty[Long, String]
    var nextPid = 0L
    // the graph's writes draw from their own generator, so the other
    // surfaces' writes are the same with or without them
    val grnd = new Random(13)
    val vertices = mutable.Map.empty[String, Map[String, String]] // name -> attrs but name
    val edges = mutable.Set.empty[(String, String)]
    def graphWrite(): Unit = {
      def node(): (String, String) = (s"g${grnd.nextInt(12)}", s"t${grnd.nextInt(3)}")
      if (grnd.nextInt(5) == 0) {
        val (n, c) = (s"g${grnd.nextInt(12)}", Seq("red", "blue")(grnd.nextInt(2)))
        db.cypher(s"match (p:P {name: '$n'}) set p.color = '$c'")
        vertices.get(n).foreach(m => vertices(n) = m + ("color" -> c))
      } else {
        // a re-merge of a stored name with another tier keeps the stored row
        val ((a, ta), (b, tb)) = (node(), node())
        db.cypher(s"merge (a:P {'name': '$a', 'tier': '$ta'})-[:R]->(b:P {'name': '$b', 'tier': '$tb'})")
        Seq(a -> ta, b -> tb).foreach { case (n, t) => vertices.getOrElseUpdate(n, Map("tier" -> t)) }
        edges += ((a, b))
      }
    }
    def doc(id: Long, city: Boolean): String = {
      val hs = rnd.shuffle(hobbies).take(1 + rnd.nextInt(2))
      s"""{"age":${20 + rnd.nextInt(5)},""" + (if (city) """"city":"x",""" else "") +
        s""""hobbies":[${hs.map(h => s"""{"name":"$h"}""").mkString(",")}],"name":"d$id"}"""
    }
    def write(k: Int): Unit = rnd.nextInt(10) match {
      case 0 | 1 | 2 =>
        val key = (s"p${rnd.nextInt(3)}", f"s${rnd.nextInt(60)}%03d")
        if (rnd.nextInt(4) == 0) { db.clear(key._1, key._2); kv.remove(key) }
        else { val v = s"v$k"; db.set(key._1, key._2, v); kv(key) = v }
      case 3 | 4 =>
        nextPid += 1
        val age = 20L + rnd.nextInt(5)
        // one in ten inserts also carries a field the table has not seen
        val city = if (rnd.nextInt(10) == 0) s", city" -> s", 'c$k'" else "" -> ""
        db.sql(s"insert into people (name, age${city._1}) values ('n$nextPid', $age${city._2})")
        people(nextPid) = (s"n$nextPid", age)
      case 5 if people.nonEmpty =>
        val id = people.keys.toIndexedSeq(rnd.nextInt(people.size))
        val age = 20L + rnd.nextInt(5)
        if (rnd.nextInt(3) == 0) {
          db.sql(s"delete from people where people.id = $id"); people.remove(id)
        } else {
          db.sql(s"update people set people.age = $age where people.id = $id")
          people(id) = (people(id)._1, age)
        }
      case 6 =>
        val note = Seq.fill(3)(words(rnd.nextInt(words.length))).mkString(" ")
        db.sql(s"insert into items (note) values ('$note')"); notes += note
      case _ =>
        val id = if (docs.nonEmpty && rnd.nextInt(3) == 0) 1L + rnd.nextInt(docs.size)
          else docs.size + 1L
        val json = doc(id, city = k > 600 && rnd.nextInt(5) == 0)
        db.saveDocument("docs", id, json); docs(id) = json
    }
    val planSizes = mutable.ArrayBuffer.empty[Seq[Int]]
    def check(): Unit = {
      val pk = s"p${rnd.nextInt(3)}"
      val range = db.kv.queryBetween(pk, "s010", "s040")
      assert(range.collect().map(r => s"${r.getString(1)}=${r.getString(2)}").toSeq ==
        kv.range((pk, "s010"), (pk, "s040\u0000")).map { case ((_, sk), v) => s"$sk=$v" }.toSeq)
      kv.keys.take(5).foreach { case (p, s) => assert(db.get(p, s) == kv.get((p, s))) }
      val age = 20L + rnd.nextInt(5)
      val select = db.sql(s"select people.name from people where people.age = $age").get
      assert(select.as[String].collect().sorted.toSeq ==
        people.values.collect { case (n, `age`) => n }.toSeq.sorted)
      val (w1, w2) = (words(rnd.nextInt(words.length)), words(rnd.nextInt(words.length)))
      val fts = db.sql(s"select items.note from items where items.note ~ '$w1 | $w2'").get
      assert(fts.as[String].collect().sorted.toSeq ==
        notes.filter(n => n.split(" ").exists(Set(w1, w2))).sorted.toSeq)
      val h = hobbies(rnd.nextInt(hobbies.length))
      val path = db.sql(s"select docs.id from docs where docs.~hobbies[]~name = '$h'").get
      assert(path.as[Long].collect().sorted.toSeq ==
        docs.collect { case (id, j) if j.contains(s""""name":"$h"""") => id }.toSeq.sorted)
      docs.keys.take(3).foreach(id => assert(db.getDocument("docs", id) == docs.get(id)))
      planSizes += Seq(range, select, fts, path).map(nodes)
      val g = db.graphState
      Seq(g.vertices, g.edges).foreach(df => assert(isOneLocalRelation(df), df.queryExecution.analyzed.treeString))
      def names(stmt: String): Set[String] = db.cypher(stmt).get.collect().map(_.getString(0)).toSet
      val a = s"g${grnd.nextInt(12)}"
      assert(names(s"match (a:P {name: '$a'})-[:R]->(b:P) return b") ==
        edges.collect { case (`a`, b) => b }.toSet)
      val t = s"t${grnd.nextInt(3)}"
      assert(names(s"match (p:P) where p.tier = '$t' return p") ==
        vertices.collect { case (n, m) if m("tier") == t => n }.toSet)
      assert(names("match (p:P) where p.color = 'red' return p") ==
        vertices.collect { case (n, m) if m.get("color").contains("red") => n }.toSet)
    }
    (1 to 1200).foreach { k =>
      write(k)
      if (grnd.nextInt(6) == 0) graphWrite()
      if (k % 150 == 0) check()
    }
    assert(people.nonEmpty && notes.nonEmpty && docs.size > 100 && kv.nonEmpty)
    assert(vertices.size == 12 && vertices.values.exists(_.contains("color")))
    assert(db.catalog.table("people").columns.contains("city"))
    assert(db.catalog.table("docs").schema("doc").dataType.simpleString.contains("city"))
    // every table is still one local relation, so plan size does not grow
    // with the session
    Seq("people", "items", "docs").foreach(t => assert(isOneLocalRelation(db.catalog.table(t)), t))
    assert(planSizes.map(_.max).max <= 12, planSizes)
    assert(planSizes.distinct.length == 1, planSizes)
  }
}
