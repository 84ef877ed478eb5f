package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen

import graft.core.{LocalFold, LocalRows}

/** The driver-side fold of plans over local relations ([[LocalFold]]):
  * differentially, every folded plan returns the rows Spark computes for
  * the same plan over the same data held as an RDD (not foldable), on
  * random small tables with nulls, duplicate keys, empty sides, NaN and
  * -0.0 doubles and long/int key mixes; in order wherever a sort is on
  * top. Joins fold only within `spark.sql.autoBroadcastJoinThreshold`. */
class LocalFoldSpec extends SparkSpec with PropertySampling {

  LocalRows.install(spark)

  private val schemaL = StructType(Seq(StructField("k", LongType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("s", StringType)))
  private val schemaR = StructType(Seq(StructField("k2", LongType), StructField("i2", IntegerType),
    StructField("d2", DoubleType), StructField("s2", StringType)))

  private def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 4 -> g)
  private val rowGen: Gen[Row] = for {
    k <- orNull(Gen.choose(0L, 4L))
    i <- orNull(Gen.choose(0, 4))
    d <- orNull(Gen.oneOf(Gen.const(Double.NaN), Gen.const(-0.0), Gen.const(0.0),
      Gen.choose(1, 3).map(_.toDouble)))
    s <- orNull(Gen.oneOf("a", "b", "c"))
  } yield Row(k, i, d, s)
  private val tableGen: Gen[Seq[Row]] = Gen.frequency(
    1 -> Gen.const(Nil), 6 -> Gen.choose(1, 12).flatMap(Gen.listOfN(_, rowGen)))

  /** A plan over (l, r), and the output columns a sort on top orders by
    * (compared in order; Nil = compared as a multiset only). `zeroTies`
    * compares -0.0 as 0.0 in whole rows too: a limit keeps either of two
    * rows that tie on them, and Spark drops a distinct over a relation of
    * at most one row (OptimizeOneRowPlan), so over one local row it
    * returns the row's own -0.0 where the hash aggregate over the RDD
    * returns the normalized 0.0; the multiset still tells -0.0 and 0.0
    * apart as distinct keys. */
  private case class Plan(name: String, sortedBy: Seq[String],
                          f: (DataFrame, DataFrame) => DataFrame, zeroTies: Boolean = false)

  private val joinTypes = Seq("inner", "cross", "left_outer", "left_semi", "left_anti")
  private val conditions: Seq[(String, (DataFrame, DataFrame) => Column)] = Seq(
    "long key" -> ((l, r) => l("k") === r("k2")),
    "long = int key" -> ((l, r) => l("k") === r("i2")),
    "double key" -> ((l, r) => l("d") === r("d2")),
    "null-safe key" -> ((l, r) => l("k") <=> r("k2")),
    "key + residual" -> ((l, r) => l("s") === r("s2") && l("i") < r("i2")),
    "residual only" -> ((l, r) => l("i") > r("i2") || r("s2").isNull))

  private val plans: Seq[Plan] =
    Seq(
      Plan("sort k asc nulls first", Seq("k"), (l, _) => l.orderBy(col("k").asc_nulls_first)),
      Plan("sort d desc nulls last, s asc", Seq("d", "s"),
        (l, _) => l.orderBy(col("d").desc_nulls_last, col("s").asc)),
      Plan("sort s desc nulls first, d asc nulls last", Seq("s", "d"),
        (l, _) => l.orderBy(col("s").desc_nulls_first, col("d").asc_nulls_last)),
      Plan("distinct", Nil, (l, _) => l.distinct(), zeroTies = true),
      Plan("distinct double", Nil, (l, _) => l.select("d").distinct(), zeroTies = true),
      Plan("distinct s, k", Nil, (l, _) => l.select("s", "k").distinct(), zeroTies = true),
      Plan("distinct, renamed and flagged", Nil, (l, _) => l.select("s", "d").distinct()
        .select(col("s").as("t"), col("d"), lit(true).as("hit")), zeroTies = true),
      Plan("sort, limit", Seq("k", "i", "d", "s"), (l, _) =>
        l.orderBy(col("k").desc_nulls_last, col("i"), col("d"), col("s")).limit(3), zeroTies = true),
      Plan("union", Nil, (l, r) => l.union(r)),
      Plan("union distinct, sorted", Seq("k", "i", "d", "s"),
        (l, r) => l.union(r).distinct().orderBy("k", "i", "d", "s"), zeroTies = true),
      Plan("join, project, distinct, sort", Seq("s", "d2"),
        (l, r) => l.join(r, l("k") === r("k2")).select(l("s"), r("d2")).distinct()
          .orderBy(col("s").desc, col("d2").asc_nulls_first), zeroTies = true),
      Plan("cross join, no condition", Nil, (l, r) => l.crossJoin(r))) ++
    (for { jt <- joinTypes; (cn, c) <- conditions } yield
      Plan(s"$jt join on $cn", Nil, (l, r) => l.join(r, c(l, r), jt)))

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double if d == 0.0 => "0.0"
    case x => x.toString
  }

  test("folded plans over local relations ≡ the same plans over RDDs") {
    val cases = (1 to 6).map(seed => (sample(tableGen, seed), sample(tableGen, seed + 1000))) ++
      Seq((sample(tableGen, 7), Nil), (Nil, sample(tableGen, 8)))
    cases.zipWithIndex.foreach { case ((ls, rs), seed) =>
      val localL = spark.createDataFrame(ls.asJava, schemaL)
      val localR = spark.createDataFrame(rs.asJava, schemaR)
      val rddL = spark.createDataFrame(spark.sparkContext.parallelize(ls, 2), schemaL)
      val rddR = spark.createDataFrame(spark.sparkContext.parallelize(rs, 2), schemaR)
      plans.foreach { p =>
        val clue = s"seed=$seed plan=${p.name}"
        val folded = p.f(localL, localR)
        val plan = folded.queryExecution.optimizedPlan
        assert(plan.isInstanceOf[LocalRelation], s"$clue\n${plan.treeString}")
        val (got, want) = (folded.collect().toSeq, p.f(rddL, rddR).collect().toSeq)
        def rendered(rows: Seq[Row]) = rows.map(r =>
          if (p.zeroTies) r.toSeq.map(render).mkString("|") else r.toString).sorted
        assert(rendered(got) == rendered(want), clue)
        if (p.sortedBy.nonEmpty) {
          def keys(rows: Seq[Row]) = rows.map(r => p.sortedBy.map(c => render(r.getAs[Any](c))))
          assert(keys(got) == keys(want), clue)
        }
      }
    }
  }

  private def withThreshold[T](bytes: Long)(f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a join whose output exceeds autoBroadcastJoinThreshold keeps its Join and its rows") {
    import spark.implicits._
    val l = (1 to 40).map(i => (i.toLong, s"l$i")).toDF("a", "x")
    val r = (1 to 40).map(i => (i.toLong, s"r$i")).toDF("b", "y")
    def joins(df: DataFrame) = df.queryExecution.optimizedPlan.collect { case j: Join => j }.size
    val want = (for (i <- 1 to 40; j <- 1 to 40) yield s"$i|l$i|$j|r$j").sorted
    withThreshold(4096) {
      val crossed = l.crossJoin(r)
      assert(joins(crossed) == 1, crossed.queryExecution.optimizedPlan.treeString)
      assert(crossed.collect().map(_.mkString("|")).sorted.toSeq == want)
      // a join within the bound still folds
      val keyed = l.join(r, $"a" === $"b")
      assert(keyed.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      assert(keyed.count() == 40)
    }
    // -1 folds no join at all; sorts and distincts still fold
    withThreshold(-1) {
      assert(joins(l.join(r, $"a" === $"b")) == 1)
      assert(l.orderBy($"x".desc).queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    }
    assert(l.crossJoin(r).queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
  }

  test("unfolded gives the plan Spark alone optimizes; non-local plans are untouched") {
    import spark.implicits._
    val l = Seq((1L, "a"), (2L, "b")).toDF("a", "x")
    val r = Seq((1L, "p")).toDF("b", "y")
    val j = l.join(r, $"a" === $"b", "left_outer")
    assert(j.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(LocalFold.unfolded(j).optimizedPlan.collect { case x: Join => x.joinType.toString }.contains("LeftOuter"))
    val rdd = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L))),
      StructType(Seq(StructField("b", LongType))))
    val mixed = l.join(rdd, $"a" === $"b").orderBy($"x")
    assert(mixed.queryExecution.optimizedPlan.collect { case x: Join => x }.size == 1)
    assert(mixed.collect().map(_.mkString("|")).toSeq == Seq("1|a|1"))
  }
}
