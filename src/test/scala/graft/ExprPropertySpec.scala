package graft

import org.scalacheck.Gen
import graft.core.GraftCatalog
import graft.sql.HashQL

/** SURVEY §5 property strategy for the round-9/10 expression grammar:
  * randomly generated expression STRINGS — arithmetic with precedence
  * and parens, nested CASE WHEN, abs(), column refs and literals — must
  * parse, plan, and evaluate to exactly what a straightforward in-memory
  * interpreter computes on the same rows. One generator produces the SQL
  * text and its interpreter side by side, so parser, lowering, and
  * Catalyst execution are all under test at once.
  *
  * Domain is kept in small non-negative longs (values/literals ≤ 9,
  * tree depth ≤ 3) so ANSI overflow can never fire on either path (the
  * comparison property below widens to doubles with NULLs), and
  * division is excluded (its double typing belongs to the oracle-checked
  * driver queries, not a long-valued differential test). CASE condition
  * operands are leaves: a '(' opening a WHEN condition is predicate
  * grouping, not expression grouping — the grammar's documented shape. */
class ExprPropertySpec extends SparkSpec with PropertySampling {
  import spark.implicits._

  private type Env = Map[String, Long]
  private type GenExpr = (String, Env => Long)

  private val leafGen: Gen[GenExpr] = Gen.oneOf(
    Gen.choose(0L, 9L).map(n => (n.toString, (_: Env) => n)),
    Gen.oneOf("a", "b").map(c => (s"t.$c", (r: Env) => r(c))))

  private def exprGen(depth: Int): Gen[GenExpr] =
    if (depth == 0) leafGen
    else Gen.frequency(
      2 -> leafGen,
      4 -> (for {
        (ls, lf) <- exprGen(depth - 1)
        (rs, rf) <- exprGen(depth - 1)
        op <- Gen.oneOf("+", "-", "*")
      } yield (s"( $ls $op $rs )", (r: Env) => op match {
        case "+" => lf(r) + rf(r)
        case "-" => lf(r) - rf(r)
        case "*" => lf(r) * rf(r)
      })),
      1 -> exprGen(depth - 1).map { case (s0, f) =>
        (s"abs( $s0 - 9 )", (r: Env) => math.abs(f(r) - 9L)) },
      3 -> (for {
        (cls, clf) <- leafGen // condition operands: leaves (see scaladoc)
        (crs, crf) <- leafGen
        op <- Gen.oneOf("<", ">", "=", "<=", ">=")
        (ts, tf) <- exprGen(depth - 1)
        (es, ef) <- exprGen(depth - 1)
      } yield (s"case when $cls $op $crs then $ts else $es end", (r: Env) => {
        val c = op match {
          case "<" => clf(r) < crf(r)
          case ">" => clf(r) > crf(r)
          case "=" => clf(r) == crf(r)
          case "<=" => clf(r) <= crf(r)
          case ">=" => clf(r) >= crf(r)
        }
        if (c) tf(r) else ef(r)
      })))

  test("random expression trees: dialect parse+plan ≡ in-memory interpreter") {
    val cat = new GraftCatalog(spark)
    val rows = for { a <- 0L to 9L; b <- Seq(0L, 3L, 7L, 9L) } yield (a, b)
    rows.foreach { case (a, b) =>
      HashQL.execute(cat, s"insert into t (a, b) values ($a, $b)") }
    (1 to 40).foreach { seed =>
      val (sql, f) = sample(exprGen(3), seed)
      val got = HashQL.execute(cat, s"select t.id, $sql as x from t").get
        .as[(Long, Long)].collect().toMap
      val expected = rows.zipWithIndex.map { case ((a, b), i) =>
        (i + 1).toLong -> f(Map("a" -> a, "b" -> b)) }.toMap
      assert(got == expected, s"seed $seed diverged on: $sql")
    }
  }

  test("random expressions as WHERE predicates: filter ≡ interpreter row set") {
    val cat = new GraftCatalog(spark)
    val rows = for { a <- 0L to 9L; b <- Seq(0L, 4L, 9L) } yield (a, b)
    rows.foreach { case (a, b) =>
      HashQL.execute(cat, s"insert into t (a, b) values ($a, $b)") }
    (1 to 25).foreach { seed =>
      val (ls, lf) = sample(exprGen(2), seed)
      val (rs, rf) = sample(exprGen(2), seed + 1000)
      val op = sample(Gen.oneOf("<", ">", "=", "<=", ">="), seed + 2000)
      // `0 + …` pins the computed-comparison (ExprCmp) path: a bare
      // column head followed by `= (` would read as a scalar-subquery
      // opener (the grammar's documented dispatch), and the ECol-headed
      // forms have their own goldens
      val got = HashQL.execute(cat,
        s"select t.id from t where 0 + $ls $op $rs").get
        .as[Long].collect().toSet
      val expected = rows.zipWithIndex.collect { case ((a, b), i)
          if {
            val env = Map("a" -> a, "b" -> b)
            val (l, r) = (lf(env), rf(env))
            op match {
              case "<" => l < r; case ">" => l > r; case "=" => l == r
              case "<=" => l <= r; case ">=" => l >= r
            }
          } => (i + 1).toLong }.toSet
      assert(got == expected, s"seed $seed diverged on: $ls $op $rs")
    }
  }

  // ---- comparisons over a double column with NULLs ----
  // Fractional values and NULLs beside integer literals: each generated
  // comparison is spelled with a bare head (`tx.x op …`) and a computed
  // one (`tx.x + 0 op …`), and both must keep the interpreter's rows —
  // SQL three-valued logic, the integer literal compared as a double
  // (DuckDB's answer), never the column truncated to the literal's type.
  private type Keep = Option[Double] => Boolean

  private val cmpLitGen: Gen[Double] = Gen.oneOf(-1.0, 0.0, 1.0, 2.0, 3.0, 1.5)
  private def sqlLit(d: Double): String =
    if (d.isWhole) d.toLong.toString else d.toString
  private val notGen: Gen[Boolean] = Gen.oneOf(true, false)
  private def not(n: Boolean): String = if (n) "not " else ""

  private val cmpFormGen: Gen[(String, Keep)] = Gen.oneOf(
    for {
      op <- Gen.oneOf("=", "<>", "<", ">", "<=", ">=")
      v <- cmpLitGen
    } yield (s"$op ${sqlLit(v)}", (x: Option[Double]) => x.exists(a => op match {
      case "=" => a == v; case "<>" => a != v; case "<" => a < v
      case ">" => a > v; case "<=" => a <= v; case ">=" => a >= v
    })),
    for { lo <- cmpLitGen; hi <- cmpLitGen; n <- notGen } yield (
      s"${not(n)}between ${sqlLit(lo)} and ${sqlLit(hi)}",
      (x: Option[Double]) => x.exists(a => (a >= lo && a <= hi) != n)),
    for { vs <- Gen.listOfN(2, cmpLitGen); n <- notGen } yield (
      s"${not(n)}in (${vs.map(sqlLit).mkString(", ")})",
      (x: Option[Double]) => x.exists(a => vs.contains(a) != n)),
    for { v <- cmpLitGen; n <- notGen } yield (
      s"is ${not(n)}distinct from ${sqlLit(v)}",
      (x: Option[Double]) => x.contains(v) == n),
    notGen.map(n => (s"is ${not(n)}null", (x: Option[Double]) => x.isEmpty != n)))

  test("random comparisons over a double column with NULLs: bare head ≡ " +
    "computed head ≡ interpreter") {
    val cat = new GraftCatalog(spark)
    val xs = Seq(Some(1.5), Some(1.0), Some(2.7), None, Some(0.5), Some(-1.0),
      Some(2.0), None, Some(3.0), Some(-0.5))
    xs.foreach(x => HashQL.execute(cat,
      s"insert into tx (x) values (${x.fold("null")(_.toString)})"))
    (1 to 40).foreach { seed =>
      val (form, keep) = sample(cmpFormGen, seed)
      val expected = xs.zipWithIndex.collect {
        case (x, i) if keep(x) => (i + 1).toLong }.toSet
      Seq("tx.x", "tx.x + 0").foreach { head =>
        val got = HashQL.execute(cat,
          s"select tx.id from tx where $head $form").get
          .as[Long].collect().toSet
        assert(got == expected, s"seed $seed diverged on: $head $form")
      }
    }
  }

  // ---- string tier: upper/lower/trim/substr/replace/|| differentially ----
  // ASCII-only domain so JVM String ops and Spark's UTF8String agree
  // letter-for-letter; spaces only as whitespace (trim strips exactly
  // those on both paths).
  private type SEnv = Map[String, String]
  private type GenSExpr = (String, SEnv => String)

  private val sLeafGen: Gen[GenSExpr] = Gen.oneOf(
    Gen.const(("ts.s", (r: SEnv) => r("s"))),
    Gen.oneOf("ab", "X#", " ", "7", "_x").map(v => (s"'$v'", (_: SEnv) => v)))

  private def sExprGen(depth: Int): Gen[GenSExpr] =
    if (depth == 0) sLeafGen
    else Gen.frequency(
      2 -> sLeafGen,
      2 -> sExprGen(depth - 1).map { case (s0, f) =>
        (s"upper( $s0 )", (r: SEnv) => f(r).toUpperCase) },
      2 -> sExprGen(depth - 1).map { case (s0, f) =>
        (s"lower( $s0 )", (r: SEnv) => f(r).toLowerCase) },
      1 -> sExprGen(depth - 1).map { case (s0, f) =>
        (s"trim( $s0 )", (r: SEnv) => f(r).trim) },
      2 -> (for {
        (s0, f) <- sExprGen(depth - 1)
        pos <- Gen.choose(1, 3)
        len <- Gen.choose(0, 4)
      } yield (s"substr( $s0 , $pos , $len )",
        (r: SEnv) => f(r).drop(pos - 1).take(len))),
      2 -> (for {
        (s0, f) <- sExprGen(depth - 1)
        from <- Gen.oneOf("a", "#", "x", "B")
        to <- Gen.oneOf("", "z", "--")
      } yield (s"replace( $s0 , '$from' , '$to' )",
        (r: SEnv) => f(r).replace(from, to))),
      3 -> (for {
        (ls, lf) <- sExprGen(depth - 1)
        (rs, rf) <- sExprGen(depth - 1)
      } yield (s"$ls || $rs", (r: SEnv) => lf(r) + rf(r))),
      // round-11 regexp tier — patterns restricted to the shared
      // Java/RE2 subset (char classes, quantifiers); replace-ALL
      // semantics mirror String.replaceAll
      2 -> (for {
        (s0, f) <- sExprGen(depth - 1)
        pat <- Gen.oneOf("[0-9]+", "[a-z]", "#+", "[A-Z]")
        to <- Gen.oneOf("", "@", "NN")
      } yield (s"regexp_replace( $s0 , '$pat' , '$to' )",
        (r: SEnv) => f(r).replaceAll(pat, to))),
      1 -> (for {
        (s0, f) <- sExprGen(depth - 1)
        pat <- Gen.oneOf("([0-9]+)", "([a-z]+)", "(#+)")
      } yield (s"regexp_extract( $s0 , '$pat' , 1 )",
        (r: SEnv) => {
          val m = java.util.regex.Pattern.compile(pat).matcher(f(r))
          if (m.find()) m.group(1) else ""
        })),
      1 -> (for {
        (s0, f) <- sExprGen(depth - 1)
        delim <- Gen.oneOf("#", "b")
        part <- Gen.choose(1, 2)
      } yield (s"split_part( $s0 , '$delim' , $part )",
        (r: SEnv) => {
          // Spark/DuckDB split_part: 1-based, '' when out of range;
          // a trailing delimiter yields a trailing empty field
          // (split with -1 keeps it, unlike Java's default split)
          val fields = f(r).split(java.util.regex.Pattern.quote(delim), -1)
          if (part <= fields.length) fields(part - 1) else ""
        })))

  test("random string-function trees: dialect parse+plan ≡ JVM string ops") {
    val cat = new GraftCatalog(spark)
    val vals = Seq("", " ab ", "Hello#1", "xYz", "a b", "##",
      "Customer#42", "q")
    vals.foreach(v => HashQL.execute(cat, s"insert into ts (s) values ('$v')"))
    (1 to 30).foreach { seed =>
      val (sql, f) = sample(sExprGen(3), seed)
      val got = HashQL.execute(cat, s"select ts.id, $sql as x from ts").get
        .as[(Long, String)].collect().toMap
      val expected = vals.zipWithIndex.map { case (v, i) =>
        (i + 1).toLong -> f(Map("s" -> v)) }.toMap
      assert(got == expected, s"seed $seed diverged on: $sql")
    }
  }
}
