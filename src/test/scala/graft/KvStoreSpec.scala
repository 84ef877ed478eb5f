package graft

import graft.kv.KvStore

/** D1-D5 ≡ brute-force filter on the collected rows (SURVEY §5 property
  * strategy), plus reference scenario A1 from FIXTURES.md. */
class KvStoreSpec extends SparkSpec {
  import spark.implicits._

  private def fixture: KvStore = KvStore(Seq(
    ("people-100", "messages-100", "Message 100"),
    ("people-100", "messages-101", "Message 101"),
    ("people-100", "messages-105", "Message 105"),
    ("people-100", "messages-3500", "Message 3500"),
    ("people-200", "messages-500", "Message 500"),
    ("machines-10", "messages-3500", "Machine 101"),
    ("people-100-2020-05-01", "friends-2019-05-01", "1, 2"),
    ("people-100-2020-05-01", "friends-2020-06-01", "1, 2, 3")
  ).toDF("pk", "sk", "value"))

  test("D1 query_begins asc/desc") {
    val asc = fixture.queryBegins("people-100", "messages")
      .select("sk").as[String].collect.toSeq
    assert(asc == Seq("messages-100", "messages-101", "messages-105", "messages-3500"))
    val desc = fixture.queryBegins("people-100", "messages", desc = true)
      .select("sk").as[String].collect.toSeq
    assert(desc == asc.reverse)
  }

  test("D2 query_pk_sk_begins spans pk prefixes") {
    val got = fixture.queryPkSkBegins("people", "messages")
      .select("value").as[String].collect.toSet
    assert(got == Set("Message 100", "Message 101", "Message 105", "Message 3500", "Message 500"))
  }

  test("D3 between is inclusive") {
    val got = fixture.queryBetween("people-100", "messages-101", "messages-105")
      .select("sk").as[String].collect.toSeq
    assert(got == Seq("messages-101", "messages-105"))
  }

  test("D4 both_between (the ~~ sentinel becomes a real bound)") {
    val got = fixture.bothBetween("people-100-2020-05", "people-100-2020-07",
      "friends-2019", "friends-2020-06-~~")
      .select("value").as[String].collect.toSeq
    assert(got == Seq("1, 2", "1, 2, 3"))
  }

  test("D5 before/greater") {
    assert(fixture.queryBeforeThan("people-100", "messages", "messages-105")
      .select("sk").as[String].collect.toSeq == Seq("messages-100", "messages-101"))
    assert(fixture.queryGreaterThan("people-100", "messages", "messages-101")
      .select("sk").as[String].collect.toSeq == Seq("messages-105", "messages-3500"))
  }

  test("put/get/delete round-trip") {
    val s2 = fixture.put("x", "y", "v")
    assert(s2.get("x", "y").count() == 1)
    assert(s2.delete("x", "y").get("x", "y").count() == 0)
  }

  test("put over an existing key overwrites: one row, the new value") {
    val s = fixture.put("u", "k1", "old").put("u", "k1", "new")
    assert(s.get("u", "k1").select("value").as[String].collect().toSeq == Seq("new"))
    assert(s.queryBetween("u", "k0", "k2").select("sk", "value")
      .as[(String, String)].collect().toSeq == Seq("k1" -> "new"))
    // a fixture key too, and the façade's set/get path
    val s2 = fixture.put("people-100", "messages-101", "edited")
    assert(s2.queryBetween("people-100", "messages-101", "messages-101")
      .select("value").as[String].collect().toSeq == Seq("edited"))
    // a store that is not one local relation takes the filter + union path
    val s3 = KvStore(fixture.df.repartition(2)).put("people-100", "messages-101", "edited")
    assert(s3.queryBetween("people-100", "messages-101", "messages-101")
      .select("value").as[String].collect().toSeq == Seq("edited"))
    assert(s3.dump().count() == fixture.dump().count())
    val db = new HashDb(spark)
    db.set("u", "k1", "old"); db.set("u", "k1", "new")
    assert(db.get("u", "k1").contains("new"))
    assert(db.kv.queryBetween("u", "k1", "k1").count() == 1)
  }
}
