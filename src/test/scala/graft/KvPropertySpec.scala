package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{StringType, StructType}
import org.scalacheck.Gen
import graft.kv.KvStore

/** SURVEY §5 property strategy: every KV query shape ≡ brute-force filter
  * over the collected rows, and a session store's index reads ≡ the same
  * reads as Catalyst plans, on randomized datasets and bounds (raw
  * ScalaCheck generators, deterministic seeds). */
class KvPropertySpec extends SparkSpec with PropertySampling {
  import spark.implicits._


  private val key = Gen.oneOf("alpha", "beta", "gamma", "delta", "ep")
  private val rowsGen = Gen.listOfN(40, for {
    pk <- key; sk1 <- key; sk2 <- Gen.choose(0, 9)
  } yield (pk, s"$sk1-$sk2", s"$pk/$sk1-$sk2"))

  test("D1/D3/D4 ≡ brute force on random datasets") {
    (1 to 8).foreach { seed =>
      val data = sample(rowsGen, seed)
      val pk = sample(key, seed + 100)
      val skp = sample(key, seed + 200)
      val lo0 = sample(Gen.choose(0, 9), seed + 300)
      val hi0 = sample(Gen.choose(0, 9), seed + 400)
      val (lo, hi) = (math.min(lo0, hi0), math.max(lo0, hi0))
      val store = KvStore(data.toDF("pk", "sk", "value"))

      val d1 = store.queryBegins(pk, skp).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val d1Exp = data.filter(r => r._1 == pk && r._2.startsWith(skp))
        .map(r => (r._1, r._2)).sortBy(_._2)
      assert(d1 == d1Exp, s"D1 seed=$seed pk=$pk skp=$skp")

      val (skLo, skHi) = (s"$skp-$lo", s"$skp-$hi")
      val d3 = store.queryBetween(pk, skLo, skHi).collect().map(_.getString(1)).toSeq
      val d3Exp = data.filter(r => r._1 == pk && r._2 >= skLo && r._2 <= skHi)
        .map(_._2).sorted
      assert(d3 == d3Exp, s"D3 seed=$seed")

      val d4 = store.bothBetween("alpha", pk, skLo, skHi).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val d4Exp = data.filter(r => r._1 >= "alpha" && r._1 <= pk &&
        r._2 >= skLo && r._2 <= skHi).map(r => (r._1, r._2))
      assert(d4.sortBy(x => (x._2, x._1)) == d4Exp.sortBy(x => (x._2, x._1)),
        s"D4 seed=$seed")
    }
  }

  test("every KV read over held rows ≡ the same read over a plan: rows and order") {
    // non-ASCII keys, one in U+E000-U+FFFF and one supplementary: UTF-8
    // byte order, Spark's, puts "\uE000" before "\uD83D\uDE00", and
    // java.lang.String order puts it after
    val chars = Gen.oneOf("a", "b", "é", "\uE000", "\uFFFF", "\uD83D\uDE00", "-")
    def str(n: Int) = Gen.choose(1, n).flatMap(Gen.listOfN(_, chars)).map(_.mkString)
    val rowsGen = Gen.listOfN(60, for {
      pk <- str(2); sk <- str(3); v <- Gen.frequency(4 -> str(2), 1 -> Gen.const(null))
    } yield (pk, sk, v))
    // an argument: a drawn string, often a stored key's prefix, or empty
    val arg = Gen.frequency(6 -> str(3), 1 -> Gen.const(""))
    val schema = new StructType().add("pk", StringType).add("sk", StringType).add("value", StringType)
    def first(s: String) = if (s.isEmpty) s else s.substring(0, s.offsetByCodePoints(0, 1))
    var nonEmpty = 0
    (1 to 6).foreach { seed =>
      val data = sample(rowsGen, seed).distinctBy(r => (r._1, r._2))
      val held = KvStore(data.toDF("pk", "sk", "value"))
      val plan = KvStore(spark.createDataFrame(
        spark.sparkContext.parallelize(data.map { case (p, s, v) => Row(p, s, v) }, 2), schema))
      assert(held.df.queryExecution.analyzed.isInstanceOf[LocalRelation])
      assert(!plan.df.queryExecution.analyzed.isInstanceOf[LocalRelation])
      val as = (0 until 12).map(i => sample(arg, seed * 100 + i))
      val (pk, sk) = (data.head._1, data.head._2)
      def same(what: String, read: KvStore => DataFrame): Unit = {
        val (h, p) = (read(held).collect().toSeq, read(plan).collect().toSeq)
        assert(h == p, s"$what seed=$seed")
        if (h.nonEmpty) nonEmpty += 1
      }
      same("get", _.get(pk, sk))
      same("get miss", _.get(pk, sk + "-"))
      Seq(false, true).foreach { desc =>
        val d = s"desc=$desc"
        same(s"D1 $d", _.queryBegins(pk, first(sk), desc))
        same(s"D1 empty prefix $d", _.queryBegins(pk, "", desc))
        same(s"D1 drawn $d", _.queryBegins(as(0), as(1), desc))
        same(s"D2 $d", _.queryPkSkBegins(first(pk), first(as(2)), desc))
        same(s"D2 empty prefixes $d", _.queryPkSkBegins("", "", desc))
        same(s"D3 $d", _.queryBetween(pk, as(3), as(4), desc))
        same(s"D3 lo > hi $d", _.queryBetween(pk, "\uFFFF", "a", desc))
        same(s"D3 across U+E000 $d", _.queryBetween(pk, "\uE000", "\uD83D\uDE00", desc))
        same(s"D4 $d", _.bothBetween(as(5), as(6), as(7), as(8), desc))
        same(s"D4 wide $d", _.bothBetween("", "\uD83D\uDE00", "", "\uD83D\uDE00", desc))
        same(s"D5 before $d", _.queryBeforeThan(pk, "", as(9), desc))
        same(s"D5 greater $d", _.queryGreaterThan(pk, "", as(10), desc))
        same(s"D5 greater prefix $d", _.queryGreaterThan(pk, first(sk), as(11), desc))
        same(s"NULL argument $d", _.queryBetween(pk, null, "\uFFFF", desc))
      }
    }
    assert(nonEmpty > 60, "too few reads found rows to compare")
  }

  test("inner join ≡ nested loop on random datasets") {
    val pairsGen = Gen.listOfN(30, for {
      k <- Gen.choose(0, 9); v <- Gen.alphaStr.map(_.take(4))
    } yield (k, v))
    (1 to 6).foreach { seed =>
      val l = sample(pairsGen, seed)
      val r = sample(pairsGen, seed + 1000)
      val lDf = l.toDF("k", "lv"); val rDf = r.toDF("k2", "rv")
      val got = lDf.join(rDf, lDf("k") === rDf("k2"))
        .select("k", "lv", "rv").as[(Int, String, String)].collect().sorted.toSeq
      val exp = (for { (lk, lv) <- l; (rk, rv) <- r if lk == rk } yield (lk, lv, rv)).sorted
      assert(got == exp, s"join seed=$seed")
    }
  }
}
