package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.sql.HashQL
import graft.sql.HashQL._

/** HashQL's one child traversal ([[HashQL.mapPred]], [[HashQL.mapExpr]],
  * [[HashQL.mapItem]], [[HashQL.mapSelect]]) against a reference that
  * knows nothing of the AST: a reflective `productIterator` walk that
  * descends through case classes, Seq, Option, Either and tuples and
  * stops at subquery bodies. Generated trees cover every Pred, Expr and
  * SelectItem variant (checked against the sealed traits' subclasses), so
  * a variant the traversal misses — or a new one the generators do not
  * build yet — fails here instead of leaving a silent gap in the
  * rewrites and scope guards built on the traversal. */
class TraversalPropertySpec extends AnyFunSuite with PropertySampling {

  /** Every ColRef under `x` outside subquery bodies, by reflection. */
  private def refWalk(x: Any): Seq[ColRef] = x match {
    case r: ColRef => Seq(r)
    case _: Select => Nil
    case s: Seq[_] => s.flatMap(refWalk)
    case o: Option[_] => o.toSeq.flatMap(refWalk)
    case e: Either[_, _] => e.fold(refWalk, refWalk)
    case p: Product => p.productIterator.flatMap(refWalk).toSeq
    case _ => Nil
  }
  /** The same walk over a SELECT's own fields (its nested bodies stop). */
  private def selectWalk(s: Select): Seq[ColRef] =
    s.productIterator.flatMap(refWalk).toSeq

  private def multiset(rs: Seq[ColRef]): Map[ColRef, Int] =
    rs.groupBy(identity).map { case (r, xs) => r -> xs.size }

  private val tag = (r: ColRef) => r.copy(column = s"tagged_${r.column}")
  private def allTagged(rs: Seq[ColRef]): Boolean =
    rs.forall(_.column.startsWith("tagged_"))

  private val refGen: Gen[ColRef] = for {
    t <- Gen.oneOf("t", "u", "")
    c <- Gen.oneOf("a", "b", "x")
  } yield ColRef(t, c)
  private val litGen: Gen[Any] = Gen.oneOf[Any](1L, 2.5, "s", null)
  private val opGen: Gen[String] = Gen.oneOf("<", ">", "<=", ">=", "=", "<>")
  private val cmpOpGen: Gen[String] = Gen.oneOf(graft.core.Compare.ops.toSeq)
  private val docRefGen: Gen[ColRef] =
    Gen.oneOf("t", "u").map(ColRef(_, "~hobbies[]~name"))

  /** A subquery body whose own refs the traversal must not reach. */
  private val subGen: Gen[Select] = for {
    r <- refGen
    v <- litGen
  } yield Select(Seq(Field(ColRef("inner", "v"))), "inner", Nil,
    Seq(Cmp(ECol(ColRef("inner", "k")), "=", ELit(v)),
      Cmp(ECol(ColRef("inner", "k")), "=", ECol(r))), Nil)

  private def exprGen(depth: Int): Gen[Expr] = {
    val leaf: Gen[Expr] = Gen.oneOf(
      litGen.map(ELit(_)),
      refGen.map(ECol(_)),
      Gen.choose(1L, 9L).map(EInterval(_, "day")))
    if (depth == 0) leaf
    else {
      val sub = Gen.lzy(exprGen(depth - 1))
      Gen.oneOf(leaf,
        for { l <- sub; op <- Gen.oneOf("+", "*"); r <- sub } yield EArith(l, op, r),
        for {
          n <- Gen.choose(1, 2)
          brs <- Gen.listOfN(n, Gen.zip(predGen(depth - 1), sub))
          els <- Gen.option(sub)
        } yield ECase(brs, els),
        for { x <- sub; ty <- Gen.oneOf("long", "try double") } yield ECast(x, ty),
        for { fn <- Gen.oneOf("sum", "count", "max"); a <- sub } yield EAgg(fn, a),
        for { n <- Gen.choose(2, 3); as <- Gen.listOfN(n, sub) } yield
          EFunc("coalesce", as),
        for { l <- sub; body <- sub } yield EFunc("list_transform:a", Seq(l, body)))
    }
  }

  private def predGen(depth: Int): Gen[Pred] = {
    val leaf: Gen[Pred] = Gen.oneOf(
      // the one comparison over a plain ref, a doc-path and a ref pair
      Gen.zip(refGen, cmpOpGen, litGen).map {
        case (r, op, v) => Cmp(ECol(r), op, ELit(v)) },
      Gen.zip(docRefGen, cmpOpGen, litGen).map {
        case (r, op, v) => Cmp(ECol(r), op, ELit(v)) },
      refGen.map(FtsMatch(_, "cat | dog")),
      Gen.zip(refGen, subGen).map { case (r, s) => InSelect(ECol(r), s) },
      Gen.zip(Gen.listOfN(2, refGen), subGen).map { case (rs, s) => InSelectTuple(rs, s) },
      Gen.zip(refGen, refGen).map { case (a, b) => Cmp(ECol(a), "=", ECol(b)) },
      subGen.map(ExistsSelect(_)),
      Gen.zip(refGen, opGen, subGen).map { case (r, op, s) => CmpSelect(ECol(r), op, s) },
      Gen.zip(refGen, opGen, Gen.oneOf("any", "all"), subGen).map {
        case (r, op, q, s) => QuantCmp(r, op, q, s) },
      Gen.zip(refGen, opGen, refGen).map { case (i, op, o) => CmpNotTrue(i, op, o) },
      refGen.map(SampleBucket(_, 100)),
      Gen.oneOf(true, false).map(FlagPred("graft_flag_1", _)))
    if (depth == 0) leaf
    else {
      val sub = Gen.lzy(predGen(depth - 1))
      val e = Gen.lzy(exprGen(depth - 1))
      Gen.oneOf(leaf,
        Gen.listOfN(2, sub).map(And(_)),
        Gen.listOfN(2, sub).map(Or(_)),
        sub.map(Not(_)),
        // the subquery arms over a computed head
        Gen.zip(e, subGen).map { case (x, s) => InSelect(x, s) },
        Gen.zip(e, opGen, subGen).map { case (x, op, s) => CmpSelect(x, op, s) },
        e.map(BoolExpr(_)),
        // the one comparison over a computed head
        Gen.zip(e, cmpOpGen, e).map { case (l, op, r) => Cmp(l, op, r) })
    }
  }

  private def itemGen(depth: Int): Gen[SelectItem] = {
    val e = exprGen(depth)
    Gen.oneOf(
      Gen.const(Star),
      Gen.zip(e, Gen.const("c")).map { case (x, c) => StarMod(Nil, Seq(x -> c)) },
      refGen.map(Field(_)),
      // the parser's two plain-aggregate forms: count(*) and an
      // auto-aliased call over a column
      Gen.const(AggExprItem("count_star", ELit(1L), "cnt")),
      refGen.map(r => AggExprItem("sum", ECol(r), s"sum_${r.column}")),
      for {
        arg <- Gen.option(refGen); part <- Gen.listOfN(1, refGen)
        ord <- refGen; tb <- Gen.option(refGen); dep <- refGen
      } yield WinCall("first_value", arg, part, Seq(ord -> false),
        aggDeps = Seq(s"sum_${dep.column}" ->
          AggExprItem("sum", ECol(dep), s"sum_${dep.column}")), tiebreak = tb),
      // the 2-arg projection coalesce: a literal or column default
      Gen.zip(refGen, Gen.oneOf[Expr](ELit(0L), ECol(ColRef("u", "b")))).map {
        case (r, d) => ExprItem(EFunc("coalesce", Seq(ECol(r), d)),
          s"coalesce_${r.column}") },
      subGen.map(ScalarSubItem(_, "s")),
      subGen.map(ExistsItem(_, "f")),
      e.map(ExprItem(_, "x")),
      e.map(AggExprItem("sum", _, "sx")),
      Gen.zip(e, Gen.option(e)).map { case (x, o) =>
        StringAggItem(x, ",", "sa", o.map(_ -> true)) },
      Gen.zip(e, e).map { case (v, k) => ArgExtremeItem("min_by", v, k, "mb") },
      refGen.map(GroupingItem(_, "g")))
  }

  private val selectGen: Gen[Select] = for {
    items <- Gen.listOfN(3, itemGen(1))
    jl <- refGen; jr <- refGen; xl <- refGen; xr <- refGen
    wheres <- Gen.listOfN(2, predGen(1))
    gb <- Gen.listOfN(1, refGen)
    hv <- Gen.oneOf[Expr](ELit(5L), ECol(ColRef("", "cnt")))
    hagg <- Gen.oneOf(refGen.map(r => EAgg("sum", ECol(r))),
      Gen.const(EAgg("count_star", ELit(1L))))
    ob <- exprGen(1)
    don <- refGen
    lat <- subGen
    un <- exprGen(1)
    sv <- subGen
  } yield Select(items, "t",
    Seq(JoinClause("u", jl, jr, extra = Seq((xl, "<", xr), (xl, "=", 3L)))),
    wheres, gb,
    having = Seq(Cmp(hagg, ">", hv), CmpSelect(hagg, ">", sv)),
    orderBy = Seq((ob, false, None)),
    qualify = Seq(Cmp(ECol(ColRef("", "rn")), "<=", ECol(ColRef("", "n")))),
    groupSets = Seq(gb, Nil),
    distinctOn = Seq(don),
    laterals = Seq(("lat", lat, false)),
    unnests = Seq(("un", "x", un)))

  /** Class names of a sealed trait's direct subclasses. */
  private def variants[T: scala.reflect.runtime.universe.TypeTag]: Set[String] =
    scala.reflect.runtime.universe.typeOf[T].typeSymbol.asClass
      .knownDirectSubclasses.map(_.name.toString)

  private def nodeNames(x: Any): Seq[String] = x match {
    case _: Select => Nil
    case s: Seq[_] => s.flatMap(nodeNames)
    case o: Option[_] => o.toSeq.flatMap(nodeNames)
    case e: Either[_, _] => e.fold(nodeNames, nodeNames)
    case p: Product => p.productPrefix +: p.productIterator.flatMap(nodeNames).toSeq
    case _ => Nil
  }

  private val seeds = 1 to 400

  test("generated trees cover every Pred, Expr and SelectItem variant") {
    val seen = seeds.flatMap(s => nodeNames(sample(predGen(3), s)) ++
      nodeNames(sample(itemGen(2), s))).toSet
    Seq(variants[Pred], variants[Expr], variants[SelectItem]).foreach { vs =>
      assert(vs.size > 7 && vs.subsetOf(seen), s"never generated: ${vs -- seen}")
    }
  }

  test("predicate/expression traversal: collector, tagging map and identity " +
    "agree with the reflective walk") {
    seeds.foreach { s =>
      val p = sample(predGen(3), s)
      val e = sample(exprGen(3), s)
      assert(multiset(HashQL.refsOf(_.pred(p))) == multiset(refWalk(p)), s"seed $s: $p")
      assert(multiset(HashQL.refsOf(_.expr(e))) == multiset(refWalk(e)), s"seed $s: $e")
      val tp = HashQL.rewrite(ref = tag).pred(p)
      val te = HashQL.rewrite(ref = tag).expr(e)
      assert(allTagged(refWalk(tp)) && refWalk(tp).size == refWalk(p).size, s"seed $s: $tp")
      assert(allTagged(refWalk(te)) && refWalk(te).size == refWalk(e).size, s"seed $s: $te")
      assert(HashQL.mapPred(p, Kids()) == p && HashQL.rewrite().pred(p) == p, s"seed $s")
      assert(HashQL.mapExpr(e, Kids()) == e && HashQL.rewrite().expr(e) == e, s"seed $s")
    }
  }

  test("select traversal: every reference-holding field is reached, " +
    "subquery bodies only through `sub`") {
    seeds.take(100).foreach { s =>
      val sel = sample(selectGen, s)
      val k = HashQL.rewrite()
      assert(multiset(HashQL.refsOf(k => HashQL.mapSelect(sel, k, k))) ==
        multiset(selectWalk(sel)), s"seed $s: $sel")
      val t = HashQL.rewrite(ref = tag)
      val tagged = HashQL.mapSelect(sel, t, t)
      assert(allTagged(selectWalk(tagged)) &&
        selectWalk(tagged).size == selectWalk(sel).size, s"seed $s: $tagged")
      assert(HashQL.mapSelect(sel, k, k) == sel, s"seed $s")
      // bodies are reached through `sub` and nothing else
      var bodies = 0
      val counting = HashQL.rewrite(sub = b => { bodies += 1; b })
      HashQL.mapSelect(sel, counting, counting)
      val expected = refBodies(sel.productIterator.toSeq)
      assert(bodies == expected, s"seed $s: $bodies bodies reached, $expected held")
    }
  }

  /** Subquery bodies held under `x` (not descending into them). */
  private def refBodies(x: Any): Int = x match {
    case _: Select => 1
    case s: Seq[_] => s.map(refBodies).sum
    case o: Option[_] => o.toSeq.map(refBodies).sum
    case e: Either[_, _] => e.fold(refBodies, refBodies)
    case p: Product => p.productIterator.map(refBodies).sum
    case _ => 0
  }
}
