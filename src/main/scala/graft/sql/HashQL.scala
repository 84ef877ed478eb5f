package graft.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.GraftCatalog
import graft.fts.Fts

/** Frontend for the reference's SQL dialect (SURVEY §3.1; parser at
  * /root/reference/server.py:333-573, executor server.py:575-1133 +
  * client.py:286-738), re-expressed as a thin translator to DataFrame
  * plans — parse → Column/join tree → Catalyst. The reference's scatter/
  * gather/repair machinery (server.py:922-1064) has no equivalent here
  * because a single `.join` already shuffles correctly.
  *
  * Dialect:
  * {{{
  *   insert into t (f, g) values ('s', 2) [, ('u', 3)]*   // null = omit
  *   update t set t.f = v | null | t.g | t.g + n | t.g - n | t.g * n
  *     | <expr>                          // full scalar grammar on the RHS
  *     [where t.g = w [and …]]
  *   // BARE-WORD RULE on a SET right-hand side: an unquoted bare word
  *   // ALONE keeps its pre-grammar meaning — a STRING LITERAL
  *   // (`set t.f = v2` assigns the text "v2"); the same word INSIDE an
  *   // expression is a column reference (`set t.f = v2 + 1` reads
  *   // column v2). Quote literals, table-qualify columns to be explicit.
  *   delete from t [where t.g = w [and …]]
  *   select [distinct] t.a, u.b | * | count(*) | count([distinct] t.f)
  *     | coalesce(t.f, v | u.g)
  *     | <expr> as x | sum|avg|min|max(<expr>) as x | count(…) as x
  *     | <expr over aggregates> as x     // sum(a) / sum(b), count(*) * k —
  *       aggregate calls as expression factors (aggregate selects only)
  *       where <expr> := t.a | <num> | ( <expr> ) | <expr> +|-|*|/|% <expr>
  *         | <expr> || <expr> [|| …]        // n-ary concat, loosest
  *         | date '<yyyy-mm-dd>' | timestamp '<yyyy-mm-dd[ hh:mm:ss]>'
  *         | <expr> +|- interval '<n>' year|month|week|day|hour|minute|second
  *         | cast ( <expr> as long|bigint|double|string|varchar|date
  *                  |timestamp|decimal(p,s) )
  *         | case when <pred> then <expr> [when …]* [else <expr>] end
  *         | upper|lower|length|trim|abs|floor|ceil|substr|year|month|day
  *           |hour|minute|date_trunc|coalesce|nullif|concat|round|replace
  *           |mod|date_add|date_sub|regexp_replace|regexp_extract|split
  *           |split_part ( <expr> [, …] )
  *     | ( select <agg> from u [where …] ) as x   // scalar subquery item
  *     | row_number()|rank() over (partition by t.p order by t.o [desc]
  *         [rows n preceding | rows between <bound> and <bound>])
  *     | sum(t.x)|count(*)|count(t.x)|lag(t.x)|lead(t.x)
  *       |first_value(t.x)|last_value(t.x) over (…)
  *     from t [alias] | ( select … ) [as] name [sample n permille by t.id]
  *       [, t2 [alias] | ( select … ) [as] name]*   // ANSI-89 comma joins:
  *       // WHERE equalities become the join conditions (round-13); a
  *       // plan left cartesian is rejected with the remedy named
  *     [[inner | left [outer] | right [outer] | full [outer]] join
  *       u [alias] | ( select … ) [as] name
  *       on t.x = u.y [and a <op> b | a <op> literal]*]*
  *       // `from lineitem l1 inner join lineitem l2 on l1.k = l2.k` —
  *       // aliases make SELF-JOINS expressible (round 12); refs address
  *       // the alias, outputs keep the original column names.
  *       // `from ( select … ) d` — DERIVED TABLES (round 12): the body
  *       // binds under the required name, exactly like a CTE
  *     [where t.f = v | t.f <> v | t.f < v | t.f > v | t.f <= v | t.f >= v
  *            | t.f between a and b | t.f in (v1, v2, …) | t.f like 'pat'
  *            | t.f rlike 'regex' | t.f is [not] null
  *            | t.f [not] in (select u.g from u [where …])
  *            | t.f =|<|>|<=|>= (select sum|avg|min|max|count(…) from u
  *                [where …])   // correlated via u.k = t.k conjuncts
  *            | t.f ~ 'tok1 & tok2 | tok3'
  *            | not <pred> | t.f not in|like|between …
  *            [and|or …, AND over OR, parens group]]
  *     [group by t.f | <alias> | <expr> [, …]]   // a bare <expr> key
  *       // auto-projects under a reserved name and strips from output
  *     [having count(*)|sum(t.f)|…|alias  =|<|>|<=|>=  v | <expr> [and …]]
  *       // an aggregate spelled here needn't be projected (round 12)
  *     [qualify <window alias|output>  =|<|>|<=|>=  v | <expr> [and …]]
  *     [order by <expr> [asc|desc] [, …]] [limit n] [offset m]
  *   select … union [all] select … [union [all] select …]*
  *   create table t as select …[ union …]
  *   create join inner join a on a.x = b.y [inner join …]*
  *   create agg view as select g [, …], count(*) | sum(t.f) | … from t
  *     [inner join …]* [where …] group by t.g [, …]
  * }}}
  * Numeric literals coerce to Long (reference server.py:477-478); rows
  * missing a projected field are skipped (server.py:1054-1060) —
  * reproduced via na.drop on the projected columns. That skip is the
  * reference's row-dict semantics for its own (inner-join) surface: a
  * SELECT with a LEFT JOIN follows standard SQL instead — right-side
  * nulls survive projection (dropping them would turn the outer join
  * back into an inner one).
  *
  * Known limitation (shared with the reference, whose merged row dicts
  * also collide on `id` — client.py:420): joined tables each carry a
  * synthesized `id`, so projecting `id` from a multi-table SELECT is
  * ambiguous; project table-specific fields instead.
  */
object HashQL {

  final case class ColRef(table: String, column: String)
  sealed trait SelectItem
  case object Star extends SelectItem
  /** `* exclude (a, b) [replace (<expr> as c, …)]` (round-15 — DuckDB's
    * star modifiers): the wide-table idiom (project everything except
    * the blob column; rewrite one column in place). Desugars to the
    * explicit item list as soon as the source's columns are known —
    * excluded columns drop, replaced columns become computed items
    * under their own name, everything else keeps plain-Field semantics
    * (the missing-field row skip included). Single-table star only. */
  final case class StarMod(exclude: Seq[String],
                           replace: Seq[(Expr, String)]) extends SelectItem {
    require(exclude.nonEmpty || replace.nonEmpty,
      "* EXCLUDE/REPLACE needs at least one modifier")
    require(exclude.distinct.size == exclude.size,
      "duplicate column in * EXCLUDE")
    require(replace.map(_._2).distinct.size == replace.size,
      "duplicate column in * REPLACE")
  }
  final case class Field(ref: ColRef) extends SelectItem
  /** Window calls (dialect growth — no analog anywhere in the reference):
    * `row_number() over (partition by t.p order by t.o [desc])` → `rn`,
    * `rank() over (…)` → `rnk`, `sum(t.x) over (…)` → `wsum_x` (a RUNNING
    * sum when ORDER BY is present — the ANSI default RANGE frame, which
    * Spark and DuckDB share, peers included). Windows project alongside
    * plain fields, and (round-13) in a GROUPED select they compute over
    * the AGGREGATED frame — keys, aggregate aliases, and OVER-clause
    * aggregate spellings are addressable, with the pinned order
    * aggregate → HAVING → window → QUALIFY. No doc-paths in the same
    * select; window aliases are addressable in ORDER BY like any output
    * column. */
  /** `frame`: a ROWS frame as (lo, hi) row offsets relative to the
    * current row — `rows <n> preceding` parses to (-n, 0) (the moving
    * sum/avg idiom), and the full `rows between <a> preceding|following
    * and <b> preceding|following|current row` form (round-11 growth)
    * parses to its offsets; `unbounded` maps to Long.MinValue/MaxValue
    * (Spark's Window.unbounded* sentinels). None = the ANSI default
    * RANGE frame. */
  /** `rangeUnit` (round-12): when Some("day"), `frame` holds DAY offsets
    * of a `range between interval '<n>' day|week preceding|following …`
    * frame over a single ascending temporal ORDER BY key — lowered to a
    * numeric rangeBetween over the key's day number (days since epoch:
    * same order, same peers; timestamps truncate to their date — whole-
    * day window semantics, the sliding-time-window idiom). */
  /** `aggDeps` (round-13 — windows over GROUPED selects): aggregate
    * calls SPELLED inside the OVER clause (`rank() over (order by
    * sum(t.x) desc)`), parsed to (auto-alias, [[AggExprItem]]) pairs
    * (expression keys ride as (reserved name, [[ExprItem]])). The
    * order/part refs address the auto-alias; the grouped executor adds
    * any dep the select list does not already produce to the SAME
    * aggregation pass and drops it after the window computes — exactly
    * the HAVING-over-unprojected-aggregates machinery. */
  final case class WinCall(fn: String, arg: Option[ColRef],
                           part: Seq[ColRef],
                           order: Seq[(ColRef, Boolean)],
                           frame: Option[(Long, Long)] = None,
                           buckets: Option[Int] = None,
                           alias: Option[String] = None,
                           rangeUnit: Option[String] = None,
                           aggDeps: Seq[(String, SelectItem)] = Nil,
                           // `… over w` (round-13): an unresolved NAMED
                           // window reference — the parser substitutes
                           // the WINDOW clause's spec (and runs the
                           // fn-dependent validations) at select end;
                           // always None after parsing completes
                           namedRef: Option[String] = None,
                           // lag/lead miss default (round-13):
                           // `lag(x, n, d)` — d fills where the offset
                           // row does not exist (both engines)
                           default: Option[Any] = None,
                           // first/last_value tiebreak (round-14):
                           // `first_value(x, tb)` under a RANGE frame —
                           // the deterministic-pick contract (see
                           // winColumn's struct-extremum lowering)
                           tiebreak: Option[ColRef] = None,
                           // `lag(x [, n] ignore nulls)` /
                           // `first_value(x ignore nulls)` (round-14,
                           // DuckDB's in-paren spelling): skip NULL
                           // values when picking the offset/frame row
                           ignoreNulls: Boolean = false)
    extends SelectItem

  /** Scalar expression tree (round-9 growth — the first thing every
    * interactive user types: `select t.a + t.b`, `case when … then … end`,
    * `sum(l_extendedprice * (1 - l_discount))`; the reference projects
    * bare fields only, server.py:421-446). Grammar is the standard
    * two-level precedence (`* /` over `+ -`, parens group); operators are
    * space-separated tokens like the rest of the dialect. Numeric
    * literals: integers coerce to Long (reference semantics), decimals to
    * Double. Doc-paths are not addressable inside expressions (their
    * any-leaf explode semantics don't compose with scalar arithmetic —
    * project the leaf first through a CTE). */
  sealed trait Expr
  final case class ELit(v: Any) extends Expr
  final case class ECol(ref: ColRef) extends Expr
  final case class EArith(l: Expr, op: String, r: Expr) extends Expr
  /** `case when <pred> then <expr> [when …]* [else <expr>] end` — the
    * conditions are full WHERE-grammar predicates (minus subqueries);
    * a missing ELSE yields NULL, per SQL. */
  final case class ECase(branches: Seq[(Pred, Expr)], els: Option[Expr]) extends Expr
  /** `cast(<expr> as long|bigint|double|string|varchar|date|timestamp)` —
    * explicit type conversion (long/bigint and string/varchar are
    * synonyms). NOTE: double→long truncates toward zero (Spark/ANSI);
    * DuckDB's CAST rounds instead — oracles spell that case
    * CAST(trunc(x) AS BIGINT). date/timestamp targets (round-11 growth)
    * give the dialect a typed temporal lattice: cast a string or
    * timestamp to DATE (truncates the time part, both engines) or a
    * string/date to TIMESTAMP (midnight-extends, both engines). */
  final case class ECast(expr: Expr, ty: String) extends Expr {
    // a "try " prefix marks TRY_CAST (round-15): NULL on conversion
    // failure instead of ANSI's raise — carried inside ty so every
    // structural rewrite (alias rebind, agg substitution, renames)
    // passes it through untouched
    private val ty0 = ty.stripPrefix("try ")
    require(Set("long", "double", "string", "date", "timestamp").contains(ty0)
        || ty0.matches("decimal\\([0-9]+,[0-9]+\\)"),
      "cast target must be long | bigint | double | string | varchar | " +
        s"date | timestamp | decimal(p,s), got $ty0")
    // decimal(p,s) (round-11): the MONEY type — fixed-point sums are
    // exact and order-independent, so decimal aggregates hash-match
    // across engines and partitionings where double sums flip on
    // summation order. double→decimal is safe at the data's own scale
    // (both engines recover the nearest s-digit decimal); scaling DOWN
    // rounds HALF_UP on Spark vs half-even on DuckDB at exact ties —
    // documented, keep s at or above the data's scale.
    if (ty0.startsWith("decimal(")) {
      val Array(p, s) = ty0.stripPrefix("decimal(").stripSuffix(")").split(",")
      require(p.toInt >= 1 && p.toInt <= 38 && s.toInt >= 0 && s.toInt <= p.toInt,
        s"decimal precision must be 1..38 and scale 0..precision, got $ty")
    }
  }
  /** `interval '<n>' <unit>` — a typed interval literal, valid ONLY as
    * the right operand of `+`/`-` (round-11 growth — the TPC-H Q1 idiom
    * `l_shipdate <= date '1998-12-01' - interval '90' day`). unit ∈
    * year | month | week | day | hour | minute | second (singular or
    * plural; week normalizes to days at parse). Lowers to Spark's native
    * interval arithmetic: year/month ride YearMonthIntervalType (DATE
    * stays DATE), day/hour/minute/second ride DayTimeIntervalType.
    * Anywhere else in an expression it is rejected at lowering. */
  final case class EInterval(n: Long, unit: String) extends Expr {
    require(Set("year", "month", "day", "hour", "minute", "second")
      .contains(unit), s"bad interval unit: $unit")
  }
  /** An aggregate call INSIDE an expression tree — `sum(a) / sum(b)`,
    * `count(*) * 1.0 / n`, `round(sum(x) / count(*), 2)`: the ratio/mean
    * idioms (TPC-H Q14's promo share). Valid only in an aggregate
    * select's projection: the executor computes each distinct EAgg as a
    * reserved-named aggregate column in the SAME groupBy.agg pass
    * (partial-agg'd scan-side like any aggregate), then evaluates the
    * surrounding arithmetic on the aggregated frame and drops the
    * reserved columns. Anywhere else (WHERE, UPDATE SET, grouping keys)
    * lowering rejects with a clear message — filter on aggregates
    * through HAVING. fn is one of [[aggFn]]'s, like [[AggExprItem]]'s
    * (the parser decides which of them may appear inside an
    * expression); `count_star`'s arg is a placeholder. */
  final case class EAgg(fn: String, arg: Expr) extends Expr {
    require(aggFn.isDefinedAt(fn), s"unsupported aggregate: $fn")
  }
  /** The aggregate inventory: each function's lowering over its argument
    * column — the one table [[AggExprItem]] and [[EAgg]] lower through.
    * Every entry is a native partial-agg'd aggregate or a sorted collect,
    * so results are partitioning-independent. */
  private lazy val aggFn: PartialFunction[String, Column => Column] = {
    case "count_star" => _ => count(lit(1))
    // null-aware: rows where the column is null (schema-union gaps,
    // LEFT JOIN extensions) don't count — standard SQL count(col)
    case "count" => count(_)
    // exact distinct count — the partial-agg expand/shuffle plan
    // q_count_distinct proves; excluded from matview containment by
    // registration (distinct aggs don't re-aggregate)
    case "count_distinct" => count_distinct(_)
    case "sum" => sum(_)
    case "sum_distinct" => sum_distinct(_)
    case "avg" => avg(_)
    // exact median (round-12): both engines linearly interpolate even
    // counts, so integer-valued inputs hash-match (DuckDB: median);
    // non-reaggregable — MatView containment skips it by construction
    case "median" => median(_)
    case "min" => min(_)
    case "max" => max(_)
    // bitwise aggregates (round-16): order-free, so exact anywhere
    case "bit_and" => bit_and(_)
    case "bit_or" => bit_or(_)
    case "bit_xor" => bit_xor(_)
    // deterministic mode (round-16): sort-collect, then ONE run-length
    // fold over the sorted array — the longest run wins and STRICT
    // improvement keeps the earliest (smallest) value on ties.
    // try_element_at(arr, MaxValue) seeds element-typed NULLs without
    // knowing the type statically. Same memory profile as string_agg
    // (per-group collected array).
    case "mode" => c =>
      val arr = sort_array(collect_list(c))
      val nul = try_element_at(arr, lit(Int.MaxValue))
      val st0 = struct(nul.as("prev"), lit(0L).as("run"),
        nul.as("best"), lit(0L).as("bestRun"))
      aggregate(arr, st0, (acc, x) => {
        val run = when(x <=> acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1L))
        val better = run > acc.getField("bestRun")
        struct(x.as("prev"), run.as("run"),
          when(better, x).otherwise(acc.getField("best")).as("best"),
          when(better, run).otherwise(acc.getField("bestRun"))
            .as("bestRun"))
      }, acc => acc.getField("best"))
    // value-sorted deterministic list aggregation (round-15) —
    // collect_list skips NULLs; empty → NULL like DuckDB's
    // NULL-filtered array_agg, not []
    case "array_agg" => c =>
      val arr = sort_array(collect_list(c))
      when(size(arr) === 0, lit(null)).otherwise(arr)
    // the sorted value SET (round-16) — collect_set skips NULLs like
    // collect_list; same empty → NULL rule. DuckDB mirror:
    // list_sort(list_distinct(array_agg(x) FILTER (WHERE x IS NOT
    // NULL)))
    case "array_agg_distinct" => c =>
      val arr = sort_array(collect_set(c))
      when(size(arr) === 0, lit(null)).otherwise(arr)
    // exact interpolated quantile (round-13): percentile_cont(x, q) —
    // Spark's exact percentile and DuckDB's quantile_cont share the
    // rank formula (index q·(n−1), linear interpolation), so
    // integer-valued inputs hash-match exactly like median (the q=0.5
    // special case). The static fraction rides the fn name, so the
    // item flows through every rewriter untouched; non-reaggregable
    // like median.
    case q if q.startsWith("percentile_cont:") =>
      percentile(_, lit(q.stripPrefix("percentile_cont:").toDouble))
  }
  /** The output name of a bare aggregate or coalesce over a column —
    * `cnt_<col>`, `cntd_<col>`, `<fn>_<col>` (`sum_x`, `coalesce_a`) —
    * for the parser to pin on the item it builds. */
  private def autoAlias(fn: String, column: String): String = fn match {
    case "count" => s"cnt_$column"
    case "count_distinct" => s"cntd_$column"
    case f => s"${f}_$column"
  }
  /** `count(*)`: the projection's row count, `cnt`. */
  private val countStarItem = AggExprItem("count_star", ELit(1L), "cnt")
  /** [[EFunc]]'s function inventory: name → accepted arities (built
    * once, not per node). */
  private lazy val funcArity: Map[String, Set[Int]] = Map(
    "upper" -> Set(1), "lower" -> Set(1),
    "length" -> Set(1), "trim" -> Set(1), "abs" -> Set(1),
    "floor" -> Set(1), "ceil" -> Set(1), "substr" -> Set(2, 3),
    "year" -> Set(1), "month" -> Set(1), "day" -> Set(1),
    "coalesce" -> Set(2, 3, 4), "nullif" -> Set(2),
    "concat" -> (2 to 8).toSet, "round" -> Set(1, 2),
    "replace" -> Set(3), "mod" -> Set(2),
    "hour" -> Set(1), "minute" -> Set(1), "date_trunc" -> Set(2),
    // round-11 date-part growth: quarter/week/dayofyear agree between
    // engines (week = ISO week number on both; dayofweek does NOT —
    // deliberately absent)
    "quarter" -> Set(1), "week" -> Set(1), "dayofyear" -> Set(1),
    // round-11 regexp/string tier 2 (Java regex semantics; the oracle
    // notes pin the DuckDB equivalences): regexp_replace replaces ALL
    // occurrences (DuckDB spells that with the 'g' flag),
    // regexp_extract returns '' on no match (both engines), split is
    // regex-delimited (DuckDB string_split_regex), split_part is
    // 1-based on a LITERAL delimiter (both engines)
    "regexp_replace" -> Set(3), "regexp_extract" -> Set(3),
    "split" -> Set(2), "split_part" -> Set(3),
    // date_add/date_sub(d, n): n whole days; the operand casts to
    // DATE first (Spark semantics — the oracle spells
    // CAST(x AS DATE) ± n)
    "date_add" -> Set(2), "date_sub" -> Set(2),
    // round-11 string tier 3 — semantics identical on both engines:
    // instr is 1-based (0 when absent), lpad/rpad truncate when the
    // input exceeds the length, contains/starts_with/ends_with are
    // boolean (null-propagating)
    "instr" -> Set(2), "lpad" -> Set(3), "rpad" -> Set(3),
    "contains" -> Set(2), "starts_with" -> Set(2), "ends_with" -> Set(2),
    // round-13 tier 4 — semantics shared with DuckDB where noted:
    // datediff(end, start) counts DAY BOUNDARIES (timestamps truncate
    // to dates; the oracle spells date_diff('day', start, end)),
    // last_day returns the month's last DATE, sqrt is IEEE correctly
    // rounded (bitwise-identical doubles on both engines),
    // greatest/least SKIP NULLs on both engines
    "datediff" -> Set(2), "last_day" -> Set(1), "sqrt" -> Set(1),
    "greatest" -> (2 to 6).toSet, "least" -> (2 to 6).toSet,
    // round-13 tier 5 — semantics identical on both engines where
    // noted: ltrim/rtrim strip spaces; reverse flips; repeat takes a
    // static count; left/right clamp at the string length for n ≥ 0
    // (lowered via 1-based substr composition — negative n is DuckDB's
    // drop-from-the-other-end, deliberately out); strpos is instr's
    // DuckDB spelling (1-based, 0 absent); translate maps chars
    // positionally with static from/to (unmatched FROM chars delete);
    // ascii is the first codepoint (INT on both); md5 the lowercase
    // hex digest; sign pins BIGINT (DuckDB keeps the argument's type —
    // oracles cast); power is IEEE correctly rounded like sqrt
    "ltrim" -> Set(1), "rtrim" -> Set(1), "reverse" -> Set(1),
    "repeat" -> Set(2), "left" -> Set(2), "right" -> Set(2),
    "strpos" -> Set(2), "translate" -> Set(3), "ascii" -> Set(1),
    "md5" -> Set(1), "sign" -> Set(1), "power" -> Set(2),
    // strftime(x, '<fmt>') (round-13): temporal rendering under
    // DuckDB's %-code spelling, lowered to Spark's date_format with a
    // translated pattern; the format is a static literal restricted
    // to the codes both engines render identically (%Y %y %m %d %H
    // %M %S %j) plus plain separators. strptime is its parsing
    // inverse (string → TIMESTAMP, Spark to_timestamp) — on
    // WELL-FORMED input the engines agree, and under Spark 4's ANSI
    // default a malformed string RAISES on both engines (round-14:
    // the r13 divergence note predates ANSI; try_strptime below is
    // the forgiving NULL pair, also engine-shared)
    "strftime" -> Set(2), "strptime" -> Set(2),
    // round-14 tier 6: concat_ws skips NULL arguments on BOTH engines
    // (unlike the null-propagating concat/|| chain) — the separator
    // is a static literal (Spark's concat_ws signature); ln/exp/
    // log2/log10 agree with DuckDB within 1 ulp but are NOT
    // correctly-rounded across libms (probed — unlike sqrt/power),
    // so exact cross-engine checks compare a scaled-integer rendering
    "concat_ws" -> (3 to 8).toSet,
    "ln" -> Set(1), "exp" -> Set(1), "log2" -> Set(1),
    "log10" -> Set(1),
    // round-14 list tier (composes with split's regex-delimited
    // arrays): len = element count (BIGINT on both engines — Spark
    // size pins long), list_contains = membership (null-propagating
    // both), array_to_string joins with a STATIC separator (DuckDB
    // array_to_string ≡ Spark array_join; both skip nothing — NULL
    // elements become empty on neither engine's split output)
    "len" -> Set(1), "list_contains" -> Set(2),
    "array_to_string" -> Set(2),
    // epoch/epoch_ms (round-15): DuckDB epoch = fractional SECONDS as
    // DOUBLE (micros/1e6 — one exact division both engines share);
    // epoch_ms = exact BIGINT milliseconds (Spark unix_millis)
    "epoch" -> Set(1), "epoch_ms" -> Set(1),
    // millis → TIMESTAMP (time_bucket's rebuild leg; also user-facing)
    "timestamp_millis" -> Set(1),
    // list tier 2 (round-15, pairs with the lambda tier; all also
    // legal INSIDE lambda bodies through the shared dispatch):
    // list_distinct is SORTED here — DuckDB's is hash-ordered, so the
    // deterministic mirror is list_sort(list_distinct(l));
    // list_extract is 1-based, NULL out of bounds (try_element_at);
    // array_slice is INCLUSIVE [b, e] like DuckDB; list_sum is for
    // integer lists (exact fold, order-free); list_unique counts
    // distinct elements
    "list_sort" -> Set(1), "list_reverse" -> Set(1),
    "list_distinct" -> Set(1), "list_concat" -> Set(2),
    "list_extract" -> Set(2), "array_slice" -> Set(3),
    "flatten" -> Set(1), "list_position" -> Set(2),
    "list_min" -> Set(1), "list_max" -> Set(1),
    "list_sum" -> Set(1), "list_unique" -> Set(1),
    // make_date(y, m, d) — a DATE from integer parts, identical on
    // both engines (round-14); date_part desugars at parse like
    // extract, so it never reaches lowering
    "make_date" -> Set(3),
    // round-16 membership/edit tier: levenshtein (both engines
    // native, exact integer); list_has_any/list_has_all (DuckDB
    // parity over Spark arrays_overlap / array_except);
    // list_intersect is SORTED here (DuckDB's order is
    // input-dependent — the deterministic mirror is
    // list_sort(list_intersect(a, b)))
    "levenshtein" -> Set(2), "list_has_any" -> Set(2),
    "list_has_all" -> Set(2), "list_intersect" -> Set(2),
    // try_strptime (round-14 — closes the r13 documented divergence):
    // under Spark 4's ANSI default, to_timestamp RAISES on malformed
    // input exactly like DuckDB's strptime — so plain strptime is
    // already strict on both engines (the r13 note predates ANSI).
    // try_strptime is the forgiving pair (NULL on malformed), DuckDB's
    // try_strptime to Spark's try_to_timestamp — NULLs hash-compare.
    "try_strptime" -> Set(2))
  /** Scalar function call (round-10 growth — the string/date/math tier a
    * dialect user reaches for first): fn ∈ upper | lower | length | trim
    * | abs | floor | ceil | substr(x, start [, len]) | year | month |
    * day | hour | minute | date_trunc(unit, ts) | concat |
    * round(x [, scale]) | replace(s, from, to) | mod(a, b). All lower to
    * codegen'd native Columns with DuckDB-identical semantics (1-based
    * substr, char length, date parts from timestamps,
    * half-away-from-zero round, dividend-signed mod; DuckDB's
    * date_trunc returns DATE for coarse units where Spark keeps
    * TIMESTAMP — oracles cast);
    * floor/ceil return BIGINT on both engines. concat null-propagates
    * (Spark semantics — the DuckDB equivalent is the `||` chain, not its
    * null-skipping concat()). round's scale must be an integer LITERAL
    * (Spark's round takes a static scale). Arity is validated at parse
    * time. */
  final case class EFunc(fn: String, args: Seq[Expr]) extends Expr {
    private def arity = funcArity
    // list lambdas (round-15): `list_transform:<var>` / `list_filter:
    // <var>` carry the variable name after ':' (the percentile_cont:q
    // pattern); args are (list expr, body expr), parser-constructed only
    private val isLambda =
      fn.startsWith("list_transform:") || fn.startsWith("list_filter:")
    require(isLambda || arity.contains(fn),
      s"unsupported scalar function: $fn")
    require(if (isLambda) args.length == 2 else arity(fn).contains(args.length),
      s"$fn takes ${arity.getOrElse(fn, Set(2)).toSeq.sorted.mkString(" or ")} " +
        s"argument(s), got ${args.length}")
    if (fn == "round" && args.length == 2)
      require(args(1) match {
        case ELit(_: Long) => true
        case _ => false
      }, "round's scale must be an integer literal")
    if (fn == "date_trunc")
      require(args.head match {
        case ELit(u: String) =>
          Set("year", "quarter", "month", "week", "day", "hour",
            "minute").contains(u)
        case _ => false
      }, "date_trunc's unit must be a literal: 'year' | 'quarter' | " +
        "'month' | 'week' | 'day' | 'hour' | 'minute'")
    // Spark's regexp_extract/split take the PATTERN as a static string
    // (codegen'd regex compile-once) — enforce literals at parse time
    if (fn == "regexp_extract") {
      require(args(1).isInstanceOf[ELit] &&
        args(1).asInstanceOf[ELit].v.isInstanceOf[String],
        "regexp_extract's pattern must be a quoted string literal")
      require(args(2) match { case ELit(_: Long) => true; case _ => false },
        "regexp_extract's group index must be an integer literal")
    }
    if (fn == "split")
      require(args(1).isInstanceOf[ELit] &&
        args(1).asInstanceOf[ELit].v.isInstanceOf[String],
        "split's delimiter pattern must be a quoted string literal")
    // Spark's repeat/translate take static arguments (codegen'd once)
    if (fn == "repeat")
      require(args(1) match {
        case ELit(n: Long) => n >= 0
        case _ => false
      }, "repeat's count must be a non-negative integer literal")
    // negative n is DuckDB's drop-from-the-other-end, declared out of
    // scope above — the substr composition would silently return ''
    // instead, so enforce the contract statically (r13 advice)
    if (fn == "left" || fn == "right")
      require(args(1) match {
        case ELit(n: Long) => n >= 0
        case _ => false
      }, s"$fn's count must be a non-negative integer literal " +
        "(negative counts — drop-from-the-other-end — are out of scope)")
    if (fn == "translate")
      require(args.tail.forall {
        case ELit(_: String) => true
        case _ => false
      }, "translate's from/to arguments must be quoted string literals")
    if (fn == "concat_ws")
      require(args.head match {
        case ELit(_: String) => true
        case _ => false
      }, "concat_ws's separator must be a quoted string literal")
    if (fn == "array_to_string")
      require(args(1) match {
        case ELit(_: String) => true
        case _ => false
      }, "array_to_string's separator must be a quoted string literal")
    if (fn == "strftime" || fn == "strptime" || fn == "try_strptime")
      require(args(1) match {
        case ELit(f: String) =>
          f.matches("(%[YymdHMSj]|[-/:., ])+")
        case _ => false
      }, s"$fn's format must be a quoted literal of %Y %y %m %d " +
        "%H %M %S %j codes and - / : . , space separators")
  }

  /** `( select <agg> from u [where …] ) as alias` — a scalar subquery in
    * the PROJECTION list (round-11 growth): attaches the subquery's
    * single aggregate value as a named output column. Same structural
    * rules as the WHERE-side [[CmpSelect]]: the subquery is a
    * single-aggregate select; uncorrelated → one broadcast row,
    * correlated (via `u.k = t.k` conjuncts) → decorrelated
    * groupBy + left equi-join, count aggregates coalesce missing groups
    * to 0 (ANSI), others stay NULL. A computed output — exempt from the
    * missing-field row skip; not available under GROUP BY or doc-paths
    * (stage through a CTE). */
  final case class ScalarSubItem(sub: Select, alias: String) extends SelectItem {
    require(!alias.startsWith("graft_"),
      s"alias $alias collides with reserved internal names")
  }
  /** `exists ( select … [where …] ) as flag` (round-13) — EXISTENCE as a
    * projected BOOLEAN: TRUE where the (correlated) subquery matches,
    * FALSE otherwise (two-valued — a missing match is a fact, not
    * UNKNOWN; the labeling-pipeline idiom). Shares [[existsJoin]]'s flag
    * machinery: one row-preserving left join against the DISTINCT
    * correlation keys (a ≤1-row constant gate when uncorrelated),
    * coalesced to FALSE. Computed — skip-exempt; ungrouped selects
    * only. */
  final case class ExistsItem(sub: Select, alias: String) extends SelectItem {
    require(!alias.startsWith("graft_"),
      s"alias $alias collides with reserved internal names")
  }

  /** `<expr> as alias` — a computed projection. The alias is REQUIRED for
    * anything beyond a bare column (it is what names the output), and is
    * addressable in ORDER BY exactly like the window/agg auto-aliases.
    * Computed outputs are exempt from the reference's missing-field row
    * skip (they are never "missing"; their NULLs are data). */
  final case class ExprItem(expr: Expr, alias: String) extends SelectItem
  /** An aggregate projection: `count(*)`, `sum(t.f)`, `sum|avg|min|max(
    * <expr>) as alias`, … — fn is one of [[aggFn]]'s, over a column or a
    * computed expression. A bare call over a column carries its
    * auto-alias (`cnt`, `sum_f`, `cntd_f`, pinned by the parser), an AS
    * names it otherwise. The alias is addressable in HAVING and ORDER
    * BY. */
  final case class AggExprItem(fn: String, expr: Expr, alias: String) extends SelectItem
  /** `string_agg(<expr>, '<sep>') as alias` (round-12): SORTED string
    * aggregation — elements collect, sort, and join with the literal
    * separator, so the output is deterministic under any partitioning
    * (DuckDB mirror: `string_agg(x, sep ORDER BY x)`). NULL elements are
    * skipped (both engines); an all-NULL group yields NULL, not ''. */
  final case class StringAggItem(e: Expr, sep: String, alias: String,
                                 // `order by <expr> [desc]` inside the
                                 // call (round-15 — DuckDB's within-group
                                 // ordering); None keeps the round-12
                                 // value-sorted default. Ties sort by the
                                 // VALUE (the struct tiebreak), so the
                                 // output stays deterministic.
                                 order: Option[(Expr, Boolean)] = None,
                                 // array_agg/list (round-15): emit the
                                 // sorted LIST itself instead of the
                                 // joined string (sep is then unused);
                                 // same NULL-skip and empty→NULL rules
                                 asList: Boolean = false,
                                 // DISTINCT (round-16): collect the value
                                 // SET — value-sorted by construction
                                 // (collect_set + sort), so it composes
                                 // with neither an explicit ORDER BY
                                 // (parser rejects) nor a tiebreak need;
                                 // DuckDB mirror: list_sort(list_distinct(
                                 // array_agg(x) FILTER (WHERE x IS NOT
                                 // NULL)))
                                 distinct: Boolean = false)
      extends SelectItem {
    require(!(distinct && order.nonEmpty),
      "DISTINCT aggregation is value-sorted; ORDER BY does not compose")
  }
  /** `min_by|max_by(<value>, <key>) as alias` (round-12): the value at
    * the extremal key (DuckDB: arg_min/arg_max). Ties on the key pick an
    * arbitrary row on BOTH engines — use a unique key for deterministic
    * results. */
  final case class ArgExtremeItem(fn: String, v: Expr, k: Expr,
                                  alias: String) extends SelectItem {
    require(fn == "min_by" || fn == "max_by", s"bad arg-extreme fn: $fn")
  }
  /** `grouping(t.g) as alias` (round-12): 1 on a ROLLUP/CUBE subtotal
    * row where `g` is rolled away, 0 on data rows — distinguishes a
    * subtotal NULL from a data NULL. Valid only with rollup/cube. */
  final case class GroupingItem(ref: ColRef, alias: String) extends SelectItem

  sealed trait Pred
  /** `l <op> r` — THE comparison. Every comparison the dialect parses is
    * one of these over two scalar [[Expr]] operands (plain refs, doc-paths,
    * literals and computed expressions alike), built by one grammar
    * (`P.comparison` — WHERE, CASE conditions and list_filter bodies share
    * it) and lowered once ([[predColumn]], lambda bodies included). Ops
    * (the table of [[graft.core.Compare]]):
    *  - `=` `<` `>` `<=` `>=` — three-valued (a NULL side is UNKNOWN, so
    *    the row drops, and NOT keeps it dropped). The parser spells `<>`
    *    as `Not(Cmp(l, "=", r))`, the one inequality in its trees; `between a
    *    and b` desugars to `>= a AND <= b`, `in (v, …)` to the OR of one
    *    `=` per member.
    *  - `<=>` and `is distinct from` — null-safe equality (`is not
    *    distinct from`) and its negation: two NULLs are equal, never
    *    UNKNOWN. `is null` is `<=> NULL`, `is not null` is `is distinct
    *    from NULL`.
    *  - `like` `ilike` `rlike` — against a quoted pattern (`%`/`_`
    *    wildcards; rlike is a Java regex, unanchored like DuckDB's
    *    regexp_matches).
    *
    * A doc-path left operand (`people.~hobbies[]~lvl`) dispatches to
    * [[graft.doc.DocStore.pathMatches]] with the same op for every op:
    * ANY addressed leaf satisfies it (reference README.md:123-145), so
    * `is not null` keeps a document with some non-NULL leaf, while a `Not`
    * negates the whole scan (`<>`, `not like`, `not (… is null)`: no leaf
    * matches). No
    * cast is injected on either side: the literal is typed at parse (an
    * integer token is a long, the reference's int coercion,
    * server.py:471-483) and Catalyst's ANSI coercion types the comparison,
    * so `d.x > 1` over a double column compares as double, as DuckDB
    * does. */
  final case class Cmp(l: Expr, op: String, r: Expr) extends Pred {
    require(graft.core.Compare.ops(op), s"bad comparison operator: $op")
  }
  /** A bare BOOLEAN expression as a predicate (round-11): `where
    * contains(t.f, '#')`, `where not starts_with(t.f, 'x')` — the
    * containment tests read naturally without a comparison. Three-valued
    * (NULL input → NULL → row dropped) like every comparison. */
  final case class BoolExpr(e: Expr) extends Pred
  /** `t.a = u.b` over two plain column refs (the reference compares
    * columns only to literals, server.py:456-476). Inside an EXISTS
    * subquery, a pair whose one side references an OUTER table is the
    * correlation key, and the subquery and join-DML decorrelators peel it
    * off; anywhere else it is a plain same-frame filter. */
  private[sql] object ColEq {
    def unapply(p: Pred): Option[(ColRef, ColRef)] = p match {
      case Cmp(ECol(a), "=", ECol(b)) => Some((a, b))
      case _ => None
    }
  }
  final case class FtsMatch(ref: ColRef, query: String) extends Pred
  /** Boolean structure (dialect growth: the reference's WHERE is a flat
    * AND chain, server.py:456-476). Standard SQL precedence — AND binds
    * tighter than OR, parentheses group — so `a = 1 and b = 2 or c = 3`
    * is Or(And(a,b), c). */
  final case class And(ps: Seq[Pred]) extends Pred
  final case class Or(ps: Seq[Pred]) extends Pred
  /** `t.f in (select u.g from u [where …])` — membership against a
    * one-column subquery, planned as a LEFT SEMI join (`not in (…)` as
    * LEFT ANTI, i.e. NOT-EXISTS semantics — a null-producing subquery
    * does not veto every row the way ANSI NOT IN does; the oracle
    * mirrors with NOT EXISTS). Valid only as a top-level WHERE conjunct:
    * a membership test under OR/parens would need a general subquery
    * planner for one dialect corner — rejected at execution with a clear
    * message. Dialect growth (the reference has no subqueries,
    * server.py:456-476). */
  final case class InSelect(ref: ColRef, sub: Select) extends Pred
  /** `(a, b) in (select x, y from …)` (round-15 — the multi-key
    * membership test, the composite-key dedup/decontamination idiom):
    * ONE semi join on ALL the key pairs as a WHERE conjunct, one flag
    * join under OR or NOT (a miss reads FALSE, so NOT is NOT EXISTS).
    * NULL keys never match. `(a, b) NOT IN (…)` rejects toward NOT EXISTS
    * — multi-column NOT IN under ANSI turns UNKNOWN for every row once
    * the subquery holds one NULL, a trap better spelled explicitly. */
  final case class InSelectTuple(refs: Seq[ColRef], sub: Select)
      extends Pred {
    require(refs.length >= 2, "a tuple IN needs two or more columns")
  }
  /** `<expr> in (select …)` — membership of a COMPUTED head (round-12:
    * `where year(t.d) in (select …)`): same LEFT SEMI plan as
    * [[InSelect]] (NOT → LEFT ANTI), keyed on the computed column —
    * still one broadcastable probe. Top-level-conjunct or flag-join
    * under OR, exactly like the plain-ref form. */
  final case class InSelectExpr(e: Expr, sub: Select) extends Pred
  /** `[not] exists (select … from u [join …] [where …])` — correlated
    * existence test, the most common subquery form after IN. Correlation
    * rides in the subquery WHERE as [[ColEq]] conjuncts referencing an
    * outer table; planned as a LEFT SEMI (NOT → LEFT ANTI) join on those
    * keys, so the 100 TB shape is one broadcast-able probe exactly like
    * [[InSelect]]. Null outer keys never equal anything: EXISTS drops
    * them, NOT EXISTS keeps them — ANSI, and precisely why NOT EXISTS is
    * the null-safe spelling of NOT IN. Top-level-conjunct only, like the
    * other subquery forms. Dialect growth (no subqueries in the
    * reference). */
  final case class ExistsSelect(sub: Select) extends Pred
  /** `t.f <op> (select <agg> from u [where …])` — comparison against a
    * SCALAR subquery (must produce exactly one row and one column: a
    * global aggregate). Planned as a broadcast cross-join of the 1-row
    * frame + a filter — the "above the average" idiom. Top-level-conjunct
    * only, like [[InSelect]]. Dialect growth. */
  final case class CmpSelect(ref: ColRef, op: String, sub: Select) extends Pred
  /** `t.a <op> any|all ( select u.v from u [where …] )` (round-13) — the
    * ANSI QUANTIFIED comparison. The subquery projects ONE column
    * (plain or computed). The lowering never joins row-to-row: the
    * subquery collapses to a stats frame (count(*) / count(v) / min(v) /
    * max(v) — one partial-agg shuffle) — ONE broadcast row when
    * uncorrelated, one row PER CORRELATION KEY (equality conjuncts
    * `u.k = t.k`, LEFT-joined, miss = empty set) when correlated — and
    * the quantifier becomes ANSI-exact arithmetic over the stats:
    * `> all` ⇔ empty OR (no nulls AND a > max), `< any` ⇔ a < max,
    * `= all` ⇔ empty OR (no nulls AND min = a = max), `<> any` ⇔
    * ∃ non-null value ≠ a (min ≠ a ∨ max ≠ a). The membership-shaped
    * forms route to their native plans at parse: `= any` ≡ IN (semi
    * join), `<> all` ≡ NOT IN (anti join, with the dialect's documented
    * NOT-IN null caveat). `some` = `any` (ANSI). */
  final case class QuantCmp(ref: ColRef, op: String, quant: String,
                            sub: Select) extends Pred {
    require(quant == "any" || quant == "all", s"bad quantifier: $quant")
    require(Set("<", ">", "<=", ">=", "=", "<>").contains(op),
      s"bad quantified operator: $op")
  }
  /** INTERNAL (round-14, never parsed): `(outer op inner) IS NOT TRUE`
    * — the violation conjunct of the non-equality-correlated ALL
    * rewrite (see [[quantExistsRewrite]]). `x op ALL (S)` holds iff no
    * S row makes `x op s` anything but TRUE — one NOT-EXISTS anti join
    * whose condition is this three-valued test, which is ANSI-exact in
    * WHERE context (empty S vacuously true; a NULL x or NULL s row
    * "violates", dropping the row exactly as UNKNOWN would). */
  final case class CmpNotTrue(inner: ColRef, op: String,
                              outer: ColRef) extends Pred

  /** `not <atom>` / `t.f not in (…)` / `t.f not like '…'` /
    * `t.f not between a and b` / `t.f <> v` — SQL three-valued negation
    * (NOT of a null comparison stays null, so filters still drop the
    * row — matching Spark's and ANSI's `!`). `<>` parses directly to
    * `Not(Cmp(l, "=", r))`. `between a and b` desugars at parse time to
    * `>= a AND <= b` (its `and` is part of the atom, not a conjunction),
    * so BETWEEN needs no executor support at all. */
  final case class Not(p: Pred) extends Pred
  /** `from t sample N permille by t.id` — deterministic hash sampling as
    * a dialect clause (desugared at parse time into this WHERE conjunct):
    * keeps rows whose [[graft.llm.Sampling.arithBucket]] of the named
    * column falls below N. Reproducible across runs/partitions/engines,
    * nested across rates (a 100-permille sample ⊂ the 200-permille one) —
    * `TABLESAMPLE BERNOULLI` semantics without the nondeterminism.
    * Scan-side filter: at 100 TB this is a sampling pass at I/O rate. */
  final case class SampleBucket(ref: ColRef, permille: Int) extends Pred

  /** HAVING conjunct: `column` addresses an OUTPUT column of the
    * aggregated frame — the auto-alias of an agg call (`cnt`, `sum_x`) or
    * a grouping column; the parser maps `count(*)`/`sum(t.f)`/… spellings
    * to those aliases, so `having count(*) > 2` and `having cnt > 2` are
    * the same predicate.
    *
    * `value` (round-12 growth): a literal, or a FULL scalar [[Expr]] over
    * output columns — `having sum_x > cnt * 2`, `qualify rn <= n / 10`.
    *
    * `agg` (round-12 growth — the TPC-H Q18 idiom): when the target was
    * SPELLED as an aggregate call (`having sum(t.f) > 300`), the parsed
    * call rides along so a grouped select can compute it even when the
    * select list does NOT project it — the executor adds it to the same
    * agg pass under its auto-alias and drops it after the filter. */
  final case class HavingPred(column: String, op: String, value: Any,
                              agg: Option[SelectItem] = None)
  /** A scalar-subquery RHS inside [[HavingPred.value]] (round-13) —
    * `having sum(x) > ( select sum(x) * 0.0001 from … )`, the TPC-H Q11
    * idiom spelled DIRECTLY. Lowered through the same [[scalarCompare]]
    * broadcast plan as WHERE-side scalars (plan-only — EXPLAIN never
    * executes it); the subquery is a global aggregate (1 row
    * structurally), uncorrelated — the aggregated frame has no table
    * names left to correlate against. CREATE AGG VIEW rejects HAVING
    * wholesale (its bare-grouped-aggregation contract), subquery values
    * included. */
  final case class SubVal(sub: Select)

  sealed trait Stmt
  /** Multi-row INSERT (growth): `values (…), (…), …` — each row commits
    * one catalog version with its own synthesized id, exactly as if the
    * rows arrived as separate statements (the reference is strictly
    * row-at-a-time, server.py:666-669). */
  final case class Insert(table: String, fields: Seq[String],
                          rows: Seq[Seq[Any]]) extends Stmt
  /** `insert into t (…) values (…) returning *|c1, c2` / `delete from t
    * [using u] where … returning …` (round-15 — DuckDB/Postgres
    * RETURNING): the statement's result IS its delta — the inserted
    * rows (synthesized ids included under `*`) or the deleted rows'
    * before-image. Zero extra passes: both frames already exist for the
    * O(delta) registry hooks. `cols` empty means `*`. */
  final case class Returning(inner: Stmt, cols: Seq[String]) extends Stmt
  /** `copy <table> to '<path>' (format parquet|csv|jsonl [,
    * partition_by (c, …)])` (round-15; partition_by round-16 — DuckDB's
    * COPY as the dialect-level SINK verb): distributed write through
    * [[graft.sources.Sources]] (parquet = system-of-record; csv/jsonl =
    * loss-pinned interchange). PARTITION_BY hive-partitions the export
    * (lang/date sharding for pretraining dumps) — parquet only, where
    * the directory keys round-trip losslessly through COPY FROM's
    * partition discovery. */
  final case class CopyTo(table: String, path: String,
                          format: String,
                          partitionBy: Seq[String] = Nil) extends Stmt
  /** `copy <table> from '<path>' (format …)` — the SOURCE verb: read and
    * REGISTER under the name (raw frame, no synthesized ids — the bulk
    * ingest path; the table must not already exist: appending to a
    * dialect table goes through INSERT … SELECT, which synthesizes
    * ids). CSV/JSONL re-reads use the schema the write pinned. */
  final case class CopyFrom(table: String, path: String,
                            format: String) extends Stmt
  /** `insert into t (f, …) values (…) on conflict (k, …) do nothing |
    * do update set c = <expr> [, …]` (round-15 — DuckDB's upsert verb):
    * rows whose conflict-key tuple matches an existing row either skip
    * (NOTHING) or update it (SET right-hand sides may read the incoming
    * row through `excluded.c`); the rest insert. Desugars onto the
    * MERGE machinery — same one-join/one-anti/one-commit plan. */
  final case class UpsertValues(table: String, fields: Seq[String],
                                rows: Seq[Seq[Any]], keys: Seq[String],
                                action: Option[Seq[(ColRef, Expr)]])
      extends Stmt {
    require(keys.nonEmpty, "ON CONFLICT needs at least one key column")
    require(rows.nonEmpty, "upsert needs at least one VALUES row")
  }
  /** `insert into t [( f, g )] select …` (round-12 — bulk append): the
    * query's rows append with synthesized ids continuing the table's
    * counter (materialized once so ids are stable); a column list renames
    * the select's outputs positionally. The id column itself cannot be
    * projected (the dialect synthesizes it). */
  final case class InsertSelect(table: String, fields: Seq[String],
                                body: Stmt) extends Stmt
  /** `create table t as select …` (growth — CTAS): registers the SELECT's
    * result frame as a new catalog table. Lazy like every catalog entry —
    * the scan/join plan IS the table until something materializes it;
    * `GraftCatalog.compact` lands it in parquet when wanted. The target
    * must not already exist (no silent replace). */
  final case class CreateTableAs(table: String, sel: Stmt) extends Stmt
  /** SET right-hand side (growth beyond the reference's literal-only
    * assignment, server.py:478): a literal, another column, or
    * column-arithmetic `t.b + n | t.b - n | t.b * n` (long coercion —
    * non-numeric values become NULL under try_cast, never a throw). */
  sealed trait SetVal
  final case class SetLit(v: Any) extends SetVal
  final case class SetCol(ref: ColRef) extends SetVal
  final case class SetArith(ref: ColRef, op: String, n: Long) extends SetVal
  /** `set t.a = <full scalar expression>` (round-10 growth): the whole
    * expression grammar — arithmetic with precedence/parens, CASE WHEN,
    * scalar functions — on the SET right-hand side, lowered through the
    * ONE Expr → Column path. The three simple shapes above keep their
    * dedicated forms (SetArith's try_cast-to-long coercion predates the
    * grammar and is preserved). */
  final case class SetExpr(e: Expr) extends SetVal
  /** `set t.a = ( select <agg> … )` (round-12): a scalar subquery
    * right-hand side. UNCORRELATED → evaluated ONCE against the
    * pre-update state (one 1×1 collect, never per-row) and assigned as a
    * literal. CORRELATED through the updated table (round-13 — `set t.a
    * = ( select max(u.b) from u where u.k = t.k )`) → decorrelated
    * through the same scalarJoin plan SELECT uses: grouped aggregate +
    * one left equi-join per DISTINCT key, ANSI miss semantics, one
    * copy-on-write commit. */
  final case class SetScalar(sub: Select) extends SetVal
  /** `update t set t.a = …[, t.b = …]*` — multi-assignment (round 11):
    * every right-hand side evaluates against the BEFORE image
    * simultaneously (`set t.a = t.b, t.b = t.a` swaps — SQL semantics,
    * one copy-on-write projection). Target columns must be distinct. */
  final case class Update(table: String, sets: Seq[(ColRef, SetVal)],
                          wheres: Seq[Pred],
                          // `update t set … from u where t.k = u.k …`
                          // (round-14): the join-update — Postgres/
                          // DuckDB's UPDATE … FROM, symmetric with
                          // DELETE … USING. SET right-hand sides may
                          // read source columns; lowered as ONE left
                          // join against the (locally filtered) source
                          // + one hit-guarded copy-on-write projection.
                          // ANSI-deterministic: a source that matches
                          // one target row twice rejects (the MERGE
                          // cardinality contract).
                          from: Option[String] = None) extends Stmt {
    require(sets.nonEmpty, "UPDATE needs at least one assignment")
    require(sets.map(_._1.column).distinct.size == sets.size,
      s"duplicate UPDATE target column: " +
        sets.map(_._1.column).diff(sets.map(_._1.column).distinct).mkString(", "))
  }
  /** `delete from t where …` — dialect growth (the reference clears whole
    * KV ranges, client.py:204-212, but its SQL stops at SELECT/INSERT/
    * UPDATE/CREATE JOIN); lowers to [[GraftCatalog.delete]] (copy-on-write
    * anti-filter) + registry invalidation, symmetric with Update. An
    * omitted WHERE deletes every row (the table stays registered). */
  final case class Delete(table: String, wheres: Seq[Pred],
                          // `delete from t using u where t.k = u.k …`
                          // (round-13): the join-delete — rows of t with
                          // a match in u go; lowered as ONE semi join on
                          // the WHERE's cross-table equality conjuncts
                          // (each side's local conjuncts filter its own
                          // scan first), then the ordinary copy-on-write
                          // id anti-join. Needs row identity (the
                          // dialect id column).
                          using: Option[String] = None) extends Stmt
  /** `merge into t using u on t.k = u.k [and …] when matched then
    * update set t.c = <expr> [, …] when not matched then insert (c, …)
    * values (<expr>, …)` — the upsert verb (round-14, the r13 queue's
    * #1; reference analog: document save's overwrite-by-id,
    * server.py:289-331, and Cypher MERGE, client.py:876-889). Lowered
    * as ONE left-outer join of the target against the before-image
    * source (matched updates — simultaneous SET semantics, every RHS
    * may read source columns) plus ONE anti-join (not-matched source
    * rows through the INSERT list), committed in ONE copy-on-write
    * register; the O(delta) registry hooks get the matched before/after
    * pair and the id-stamped insert delta — never a table rescan.
    * ANSI cardinality (a source row set must hit each target row at
    * most once) is enforced by one bounded aggregate over the source.
    * `on`: (target-ref, source-ref) equality pairs. */
  /** One `when matched [and <cond>] then update set … | delete` clause
    * (round-15 — the r14 queue's #1). Clauses evaluate IN ORDER and the
    * FIRST whose condition holds fires (ANSI first-match-wins), encoded
    * as ONE chained when()/otherwise() clause-index projection — never a
    * second pass. An UNKNOWN condition (NULL operand) does not fire the
    * clause — evaluation falls through to the next, exactly ANSI's
    * "search condition is true". Conditions may read target AND source
    * columns (the matched join row carries both). */
  final case class MergeMatched(cond: Option[Pred],
                                sets: Seq[(ColRef, Expr)],
                                delete: Boolean) {
    require(delete != sets.nonEmpty,
      "a WHEN MATCHED clause is either UPDATE SET or DELETE")
    require(sets.map(_._1.column).distinct.size == sets.size,
      "duplicate WHEN MATCHED target column")
  }
  final case class Merge(target: String, source: String,
                         on: Seq[(ColRef, ColRef)],
                         // ordered WHEN MATCHED clauses (round-15:
                         // multiple, each optionally guarded; delete
                         // clauses mix freely with update clauses)
                         matched: Seq[MergeMatched],
                         // ordered `when not matched [and <cond>] then
                         // insert (…) values (…)` clauses (round-16:
                         // MULTIPLE, first-match-wins like the matched
                         // tier) — each condition reads SOURCE columns
                         // only (the row has no target image); a source
                         // row firing no clause simply doesn't insert
                         notMatched: Seq[(Seq[String], Seq[Expr],
                           Option[Pred])],
                         // ordered `when not matched by source [and
                         // <cond>] then delete | update set …` clauses
                         // (round-15 delete-only; round-16 adds UPDATE —
                         // flag-don't-drop stale rows, the gentler half
                         // of table-sync). Conditions AND set
                         // right-hand sides read TARGET columns only
                         // (there is no source image); first-match-wins
                         // like the matched tier.
                         bySource: Seq[MergeMatched] = Nil)
      extends Stmt {
    require(on.nonEmpty, "MERGE needs at least one ON equality pair")
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    require(matched.dropRight(1).forall(_.cond.nonEmpty),
      "only the LAST WHEN MATCHED clause may be unconditional — an " +
        "earlier unconditional clause makes the rest unreachable")
    require(notMatched.dropRight(1).forall(_._3.nonEmpty),
      "only the LAST WHEN NOT MATCHED clause may be unconditional — an " +
        "earlier unconditional clause makes the rest unreachable")
    require(bySource.dropRight(1).forall(_.cond.nonEmpty),
      "only the LAST WHEN NOT MATCHED BY SOURCE clause may be " +
        "unconditional — an earlier unconditional clause makes the " +
        "rest unreachable")
  }
  /** `pivot <table> on <t.k> in (<lit>, …) using <agg>(t.v | *) group
    * by <t.g> [, …]` (round-14 — DuckDB's simplified PIVOT with an
    * explicit IN list): one row per group, one column per IN value
    * (named by the value), each cell the aggregate over that (group,
    * value) slice. Lowered to Spark's native
    * `groupBy(g).pivot(k, values).agg(…)` — with EXPLICIT values the
    * plan is ONE partial-agg'd aggregation (no extra distinct-values
    * job), each value a codegen'd conditional aggregate; count cells
    * coalesce to 0 (DuckDB renders empty count cells 0 where Spark
    * leaves NULL; sum/avg/min/max stay NULL on both engines). */
  /** `aggs`: the USING aggregates — (fn, arg, alias). ONE aggregate may
    * go bare (columns named by the IN value, the round-14 shape);
    * MULTIPLE aggregates (round-16 — DuckDB's `USING sum(v) AS s,
    * count(*) AS c`) each need an alias, and columns come out
    * `<value>_<alias>` (Spark's multi-aggregate pivot naming — the same
    * convention DuckDB uses). */
  final case class Pivot(table: String, on: ColRef, values: Seq[Any],
                         aggs: Seq[(String, Option[ColRef], Option[String])],
                         groupBy: Seq[ColRef]) extends Stmt {
    require(aggs.nonEmpty, "pivot needs at least one USING aggregate")
    aggs.foreach { case (fn, arg, _) =>
      require(Set("count", "sum", "avg", "min", "max").contains(fn),
        s"pivot aggregates count/sum/avg/min/max, got $fn")
      require(fn == "count" || arg.nonEmpty,
        s"pivot $fn needs a column argument")
    }
    require(aggs.size == 1 || aggs.forall(_._3.nonEmpty),
      "a multi-aggregate PIVOT names each aggregate — `using sum(t.v) " +
        "as s, count(*) as c` (columns come out <value>_<alias>)")
    require(aggs.size == 1 ||
      aggs.flatMap(_._3).distinct.size == aggs.size,
      "duplicate PIVOT aggregate aliases")
    require(aggs.size > 1 || aggs.head._3.isEmpty,
      "a single-aggregate PIVOT names columns by the IN value — the " +
        "alias belongs to the multi-aggregate form")
    // values may be EMPTY (round-15): the dynamic form — the executor
    // discovers them with one bounded distinct-values job
  }
  /** Dynamic-PIVOT column cap DEFAULT: one `limit N+1` distinct-values
    * probe; beyond it the statement rejects toward an explicit IN list
    * (an unbounded pivot would mint one output column per distinct
    * value — a 100 TB high-cardinality key could mint millions).
    * Round-16: per-session override through the Spark conf
    * `graft.pivot.dynamicCap` — a session SETTING, not a code edit. */
  val PivotDynamicCap = 100
  /** `unpivot <table> on (<t.c1>, <t.c2>, …) into name <n> value <v>`
    * (round-14 — DuckDB's UNPIVOT): melt the listed same-typed columns
    * into (name, value) rows, every other column carried along; NULL
    * cells DROP (DuckDB semantics — Spark's native unpivot keeps them,
    * so one scan-side filter follows). Zero shuffles: unpivot is a
    * per-row Expand. */
  final case class Unpivot(table: String, cols: Seq[ColRef],
                           nameCol: String, valueCol: String) extends Stmt {
    require(cols.nonEmpty, "unpivot needs at least one ON column")
  }
  /** orderBy: (column, descending) pairs; limit: row cap; having:
    * post-aggregation conjuncts. All growth beyond the reference (its SQL
    * surface has no sorts or HAVING — ordering exists only on the KV
    * surface, server.py:126) — the first things an interactive dialect
    * user asks for, and the engine already proves the operators
    * (TakeOrderedAndProject via q_topk, aggregate-then-filter via
    * q_having). */
  /** One `… join u on l = r` clause. `kind` ∈ inner | left | right |
    * full: LEFT [OUTER] keeps unmatched accumulated-left rows (`u`'s
    * columns go null), RIGHT [OUTER] (round-13) keeps unmatched fresh-side
    * rows (the accumulated side's columns go null — in a left-deep chain
    * it is LEFT with the frames swapped, and Spark's "right" join type is
    * exactly that plan), FULL [OUTER] keeps unmatched rows from BOTH
    * sides. The reference's dialect has no outer joins at all
    * (client.py:472-480 inner-merges row dicts), so all three are
    * growth. */
  final case class JoinClause(table: String, l: ColRef, r: ColRef,
                              kind: String = "inner",
                              extra: Seq[(ColRef, String, Any)] = Nil,
                              // ANSI `USING (k, …)` (round-16 flag): the
                              // left key resolves against the CUMULATIVE
                              // left side at lowering (the parser holds
                              // no schemas), so `l`'s recorded table is
                              // only the base-table guess — consumers
                              // that key on the (table, l, r) identity
                              // (materialized-view routing) must skip
                              // non-first USING clauses, where the guess
                              // may not be where the key lives
                              using: Boolean = false) {
    def outer: Boolean = kind != "inner"
    // `extra`: additional `AND l2 <op> rhs` conjuncts on the ON clause —
    // round-10 equality between columns (composite join keys), round-13
    // the comparison tier (= <> < > <= >=) with a column OR literal
    // right-hand side (the rhs is a ColRef or a parsed literal). The
    // FIRST conjunct stays the hash-join equality key;
    // non-equality extras ride the SAME join condition as post-filters
    // on the hash match (never a nested loop). For OUTER joins that
    // placement is semantic: an ON conjunct decides MATCHING (unmatched
    // rows survive null-extended) where a WHERE conjunct filters rows —
    // moving one to the other changes the answer. A clause with extras
    // never routes through a materialized join view (views register the
    // single-pair form; a silently-matching primary pair would drop the
    // extra condition).
  }
  final case class Select(items: Seq[SelectItem], table: String,
                          joins: Seq[JoinClause], wheres: Seq[Pred],
                          groupBy: Seq[ColRef],
                          having: Seq[HavingPred] = Nil,
                          // sort keys are full scalar EXPRESSIONS over
                          // output columns (round-11 growth — `order by
                          // length(t.name) desc`); a bare ECol keeps the
                          // round-7 output-column addressing. The third
                          // element: explicit NULLS FIRST(true)/LAST
                          // (false); None keeps the pinned defaults
                          // (asc→nulls-last, desc→nulls-last — the
                          // engines' shared LIMIT-stable order)
                          orderBy: Seq[(Expr, Boolean, Option[Boolean])] = Nil,
                          limit: Option[Int] = None,
                          distinct: Boolean = false,
                          offset: Option[Int] = None,
                          // `qualify <output> op literal [and …]` —
                          // post-window filtering (round-11; DuckDB's
                          // QUALIFY): conjuncts over window aliases /
                          // output columns, applied AFTER the windows
                          // compute and before DISTINCT/ORDER BY. The
                          // grouped-top-k idiom: `qualify rn <= 3`.
                          // Requires a window call in the select.
                          qualify: Seq[HavingPred] = Nil,
                          // `from <table> <alias>` / `join <table> <alias>`
                          // (round-12 growth — SELF-JOINS): (alias, real
                          // table) pairs; `table`/JoinClause.table hold
                          // the ALIAS name, refs address it, and
                          // [[resolveAliases]] rebinds each alias to a
                          // reserved-renamed frame before planning.
                          aliases: Seq[(String, String)] = Nil,
                          // `from ( select … ) d` / `join ( select … ) d
                          // on …` (round-12 growth — DERIVED TABLES):
                          // (name, body) pairs; the name appears as the
                          // table/join name and binds the body's frame
                          // statement-wide, exactly like a CTE. Bodies
                          // are self-contained (no outer correlation).
                          derived: Seq[(String, Stmt)] = Nil,
                          // `group by rollup ( … )` / `cube ( … )`
                          // (round-12 growth): subtotal aggregations —
                          // Spark's native rollup/cube (one Expand +
                          // one aggregation shuffle, partial-agg'd);
                          // subtotal rows carry NULL keys, as in ANSI.
                          // round-13 adds groupMode "sets" — the general
                          // `group by grouping sets ( (a,b), (a), () )`
                          // form, with the explicit sets below (groupBy
                          // then holds the distinct union of all set
                          // keys, in first-appearance order).
                          groupMode: String = "",
                          groupSets: Seq[Seq[ColRef]] = Nil,
                          // `from a, b, c where a.x = b.y …` (round-13
                          // growth): ANSI-89 comma joins — additional
                          // FROM sources (tables, aliases, or derived
                          // names) built as CROSS sources whose WHERE
                          // equality conjuncts Catalyst folds into hash
                          // joins (PushPredicateThroughJoin +
                          // ReorderJoin); a plan left cartesian is
                          // REJECTED by the executor's scale guard.
                          froms: Seq[String] = Nil,
                          // `select distinct on (k…) … order by k…, tie`
                          // (round-13 — the Postgres/DuckDB form): keep
                          // the FIRST row of each key group in the
                          // statement's ORDER BY. The parser requires
                          // ORDER BY to lead with the ON keys and carry
                          // ≥1 tiebreaker (a deterministic pick);
                          // lowered as one row_number window partitioned
                          // by the keys, filtered to 1.
                          distinctOn: Seq[ColRef] = Nil,
                          // `from t, lateral ( select <aggs> from u
                          // where u.k = t.k ) x` (round-13): per-outer-
                          // row aggregation — (name, body) pairs whose
                          // bodies correlate through equality conjuncts.
                          // DECORRELATED: the body groups by its
                          // correlation keys once and LEFT-joins the
                          // outer frame (count coalesces to 0 — the
                          // empty-group aggregate row ANSI's
                          // cross-lateral produces); never per-row.
                          // The Boolean marks `left join lateral … on
                          // true` (round-14): a row-returning body
                          // KEEPS unmatched outer rows (NULL-extended)
                          // instead of dropping them (aggregate bodies
                          // always yield one row, so the flag is
                          // irrelevant there).
                          laterals: Seq[(String, Select, Boolean)] = Nil,
                          // `from t, unnest(<list expr>) as u(x)`
                          // (round-15 — the r14 queue's #2): explode a
                          // list-valued expression over the preceding
                          // FROM row — (name, output column, expr)
                          // triples. ANSI cross-lateral semantics: an
                          // empty/NULL list DROPS its outer row. Lowered
                          // to ONE per-row Generate (explode) — zero
                          // shuffles, an Expand in the scan stage.
                          unnests: Seq[(String, String, Expr)] = Nil,
                          // `limit n with ties` (round-15 — the ANSI
                          // FETCH FIRST … WITH TIES semantics): keep
                          // every row whose FULL sort-key tuple equals
                          // the n-th row's. Lowered as a bounded
                          // threshold probe (TakeOrderedAndProject to n
                          // rows, then 1) + a literal lexicographic
                          // filter — never a global single-partition
                          // rank window.
                          limitTies: Boolean = false)
    extends Stmt
  /** `select … union [all] select … [union [all] select …]*` — positional
    * set union of SELECT branches (output names follow the first branch,
    * like SQL). ALL keeps duplicates; plain UNION dedups the whole chain.
    * Mixed ALL/DISTINCT ops in one chain are rejected (their SQL
    * semantics depend on association order — an explicit error beats a
    * silent choice). Each branch is a full Select (its own WHERE / GROUP
    * BY / ORDER BY / LIMIT, applied per-branch). Dialect growth. */
  final case class Union(selects: Seq[Select], all: Boolean,
                         // `union [all] by name` (round-15 — DuckDB):
                         // branches align by COLUMN NAME, the output
                         // schema is the ordered union of branch
                         // schemas, absent columns null-fill
                         byName: Boolean = false) extends Stmt
  /** `select … intersect [all] select …` / `select … except [all] select …`
    * (round-10 growth — the dialect's set-op surface beyond UNION):
    * positional set operations, names follow the first branch. Plain
    * forms have SQL set semantics (dedup), ALL keeps multiset semantics
    * (Spark intersectAll/exceptAll ≡ DuckDB's). A chain mixes neither
    * ops nor ALL-ness — parenthesize through CTEs for anything richer
    * (set-op association is too easy to silently mis-read). */
  final case class SetOpChain(op: String, selects: Seq[Select],
                              all: Boolean) extends Stmt {
    require(op == "intersect" || op == "except", s"bad set op: $op")
  }
  /** `with name as (select …) (, name as (select …))* select …` — common
    * table expressions (dialect growth; the reference has no subqueries
    * at all, server.py:456-476). Each CTE body is a full Select or Union
    * chain; later CTEs and the main body see all earlier CTE names,
    * which SHADOW same-named catalog tables for the statement (standard
    * SQL scoping). Queries only — a CTE cannot head a DML statement. */
  /** `show tables` — one (table_name) row per catalog table, sorted
    * (dialect growth — introspection the reference's HTTP API lacks). */
  case object ShowTables extends Stmt
  /** `describe t` — (column_name, column_type) rows in schema order;
    * types render as Spark SQL type names (BIGINT, STRING, …). */
  final case class Describe(table: String) extends Stmt
  /** `summarize t` (round-16 — DuckDB's SUMMARIZE, the data-card
    * verb): one row per column with (column_name, min, max, n, nnull,
    * ndv) — min/max rendered as strings so the frame is uniform,
    * counts and EXACT distinct counts as BIGINT. ONE aggregation
    * statement over the table (Spark plans the multi-column distinct
    * set through a single Expand — one logical pass, expansion factor
    * = column count); the 4·|columns| aggregate values collect to the
    * driver (bounded by the schema, never the data) and reshape into
    * the per-column rows. */
  final case class Summarize(table: String) extends Stmt
  /** `drop table [if exists] t` (round-13) — removes the catalog
    * registration, version history, and id counter (metadata-only; plans
    * other statements captured stay valid, backing files untouched) and
    * invalidates the table's materialized-join/agg-view routes. */
  final case class DropTable(table: String, ifExists: Boolean) extends Stmt
  /** `create [or replace] view <name> as select …` (round-15) — a
    * LOGICAL view: the body re-plans on every read against the current
    * table versions (CTAS materializes a commit; a view never does).
    * Self-reference is rejected at CREATE so reads terminate. */
  final case class CreateView(name: String, body: Stmt,
                              orReplace: Boolean) extends Stmt
  final case class DropView(name: String, ifExists: Boolean) extends Stmt
  /** `alter table …` (round-15): schema evolution over the
    * copy-on-write catalog — RENAME TO is metadata-only; column ops
    * commit one rewritten PLAN (projection-level, no data rewrite
    * until the next materialization). ADD COLUMN DEFAULT backfills
    * existing rows like DuckDB. The dialect `id` column is row
    * identity — renaming or dropping it rejects. */
  sealed trait AlterOp
  final case class RenameTo(to: String) extends AlterOp
  final case class RenameCol(from: String, to: String) extends AlterOp
  final case class AddCol(name: String, ty: String,
                          default: Option[Any]) extends AlterOp
  final case class DropCol(name: String) extends AlterOp
  final case class AlterTable(table: String, op: AlterOp) extends Stmt
  /** `explain select …` (round-12) — one `plan_line` row per line of the
    * FORMATTED physical plan (scan pushdowns, join strategies, exchanges:
    * the things a user tunes). Introspection only — never executes the
    * query. */
  final case class Explain(body: Stmt) extends Stmt
  /** `( values (1, 'a'), (2, 'b') ) [as] t(a, b)` (round-13) — an INLINE
    * TABLE in FROM/JOIN position: literal rows under REQUIRED column
    * names, bound statement-wide exactly like a derived table. Types
    * infer from the literals (BIGINT / DOUBLE / VARCHAR / DATE /
    * TIMESTAMP, one type per column); explicit NULL is allowed wherever
    * the column has at least one typed value. Plans as a LocalRelation —
    * driver-literal and broadcast-sized by construction (the dialect's
    * lookup-table idiom: `join ( values … ) m on …`). */
  final case class InlineValues(cols: Seq[String],
                                rows: Seq[Seq[Any]]) extends Stmt {
    require(cols.nonEmpty && rows.nonEmpty, "VALUES needs columns and rows")
    require(cols.distinct.size == cols.size,
      s"duplicate VALUES column names: ${cols.diff(cols.distinct).mkString(", ")}")
    require(rows.forall(_.length == cols.length),
      s"every VALUES row must supply ${cols.length} value(s)")
  }
  /** `from generate_series(<start>, <stop> [, <step>]) g(i)` (round-15
    * — the r14 queue's #2): an integer-or-date series as a FROM source,
    * INCLUSIVE both ends (DuckDB semantics; Spark's `sequence` agrees).
    * Arguments are literal/interval expressions (no column refs — the
    * source precedes any row). Plans as one explode(sequence(…)) over a
    * 1-row range: a per-row Generate, zero shuffles, broadcast-sized by
    * construction (the calendar/gap-fill idiom). */
  final case class GenSeries(col: String, start: Expr, stop: Expr,
                             step: Option[Expr]) extends Stmt
  /** `with recursive name as (select base union select step) select …` —
    * the SQL fixpoint (dialect growth; DuckDB-compatible semantics):
    * UNION (distinct — ALL is rejected, bag recursion diverges on
    * cycles) iterated semi-naively: each round evaluates the step with
    * `name` bound to the LAST round's NEW rows only, keeps what EXCEPT
    * hasn't been seen, and stops when a round adds nothing. Rounds are
    * capped (64) with a clear error, so a diverging recursion cannot
    * hang a cluster. The step's references to `name` resolve through the
    * same statement scope as plain CTEs; step output columns align to
    * the base's POSITIONALLY (standard recursive-CTE rule). */
  final case class WithRecursive(name: String, base: Select, step: Select,
                                 body: Stmt,
                                 // UNION ALL (round-16): BAG recursion —
                                 // no dedup/EXCEPT between rounds (the
                                 // standard transitive-closure-with-
                                 // multiplicity spelling); termination is
                                 // an EMPTY round, and the 64-round cap
                                 // rejects divergence on cyclic data with
                                 // a clear error
                                 bag: Boolean = false) extends Stmt
  final case class WithCtes(ctes: Seq[(String, Stmt)], body: Stmt) extends Stmt {
    require(ctes.nonEmpty, "WITH needs at least one CTE")
    require(ctes.map(_._1).distinct.size == ctes.size,
      s"duplicate CTE names: ${ctes.map(_._1).diff(ctes.map(_._1).distinct).mkString(", ")}")
  }
  final case class CreateJoin(clauses: Seq[(String, ColRef, ColRef)]) extends Stmt
  /** `create agg view as select …` — dialect growth: registers the
    * SELECT's aggregation as a routed summary via
    * [[graft.matview.MatView.materializeAggregate]], so any later
    * aggregation over the same facts (verbatim, coarser group-by, or
    * grouping-key-filtered — the exact + containment routes) reads the
    * summary parquet instead of the fact rows. The inner select must be a
    * bare grouped aggregation: GROUP BY present; projected fields ⊆
    * grouping keys; no HAVING/ORDER BY/LIMIT/OFFSET/DISTINCT (those
    * belong on the QUERIES over the view, which route regardless). */
  final case class CreateAggView(sel: Select) extends Stmt

  // ---------------- one child traversal over the AST ----------------

  /** What one traversal step does with each kind of child a node holds:
    * column references, sub-expressions, sub-predicates and subquery
    * bodies. [[mapPred]], [[mapExpr]], [[mapItem]] and [[mapSelect]]
    * rebuild a node from its direct children mapped through these (the
    * `mapChildren` idiom of Catalyst's TreeNode); an identity default
    * leaves that kind alone. Subquery bodies are their own scope, so a
    * rewrite reaches into them only through an explicit `sub`. */
  private[graft] final case class Kids(
      ref: ColRef => ColRef = identity,
      expr: Expr => Expr = identity,
      pred: Pred => Pred = identity,
      sub: Select => Select = identity)

  /** Rebuild a predicate from its mapped children. Every variant is
    * listed and there is NO wildcard case — keep it that way: a new
    * variant then fails the build here (non-exhaustive matches are
    * errors) instead of silently falling out of every rewrite and scope
    * guard built on this traversal. A subquery arm hands its OUTER-side
    * refs and expression to `ref`/`expr` and its body to `sub`. */
  private[graft] def mapPred(p: Pred, k: Kids): Pred = p match {
    case Cmp(l, op, r) => Cmp(k.expr(l), op, k.expr(r))
    case BoolExpr(e) => BoolExpr(k.expr(e))
    case FtsMatch(r, q) => FtsMatch(k.ref(r), q)
    case And(ps) => And(ps.map(k.pred))
    case Or(ps) => Or(ps.map(k.pred))
    case InSelect(r, s) => InSelect(k.ref(r), k.sub(s))
    case InSelectTuple(rs, s) => InSelectTuple(rs.map(k.ref), k.sub(s))
    case InSelectExpr(e, s) => InSelectExpr(k.expr(e), k.sub(s))
    case ExistsSelect(s) => ExistsSelect(k.sub(s))
    case CmpSelect(r, op, s) => CmpSelect(k.ref(r), op, k.sub(s))
    case QuantCmp(r, op, q, s) => QuantCmp(k.ref(r), op, q, k.sub(s))
    case CmpNotTrue(i, op, o) => CmpNotTrue(k.ref(i), op, k.ref(o))
    case Not(x) => Not(k.pred(x))
    case SampleBucket(r, pm) => SampleBucket(k.ref(r), pm)
    case f: FlagPred => f
  }

  /** [[mapPred]]'s expression twin — same rule: every variant, no
    * wildcard. */
  private[graft] def mapExpr(e: Expr, k: Kids): Expr = e match {
    case l: ELit => l
    case ECol(r) => ECol(k.ref(r))
    case EArith(l, op, r) => EArith(k.expr(l), op, k.expr(r))
    case ECase(brs, els) =>
      ECase(brs.map { case (p, v) => (k.pred(p), k.expr(v)) }, els.map(k.expr))
    case ECast(x, ty) => ECast(k.expr(x), ty)
    case i: EInterval => i
    case EAgg(fn, a) => EAgg(fn, k.expr(a))
    case EFunc(fn, args) => EFunc(fn, args.map(k.expr))
  }

  /** [[mapPred]]'s projection-item twin (window specs with their
    * tiebreak and OVER-clause aggregates, and grouping keys included) —
    * same rule: every variant, no wildcard. */
  private[graft] def mapItem(it: SelectItem, k: Kids): SelectItem = it match {
    case Star => Star
    case StarMod(ex, rep) => StarMod(ex, rep.map { case (e, c) => (k.expr(e), c) })
    case Field(r) => Field(k.ref(r))
    case w: WinCall => w.copy(arg = w.arg.map(k.ref), part = w.part.map(k.ref),
      order = w.order.map { case (r, d) => (k.ref(r), d) },
      aggDeps = w.aggDeps.map { case (n, d) => (n, mapItem(d, k)) },
      tiebreak = w.tiebreak.map(k.ref))
    case ScalarSubItem(s, a) => ScalarSubItem(k.sub(s), a)
    case ExistsItem(s, a) => ExistsItem(k.sub(s), a)
    case ExprItem(e, a) => ExprItem(k.expr(e), a)
    case AggExprItem(fn, e, a) => AggExprItem(fn, k.expr(e), a)
    case s: StringAggItem => s.copy(e = k.expr(s.e),
      order = s.order.map { case (o, d) => (k.expr(o), d) })
    case ArgExtremeItem(fn, v, x, a) => ArgExtremeItem(fn, k.expr(v), k.expr(x), a)
    case GroupingItem(r, a) => GroupingItem(k.ref(r), a)
  }

  /** Map every reference-holding field of a SELECT: items, join keys and
    * ON extras, WHERE, GROUP BY and grouping sets, HAVING/QUALIFY
    * aggregates, UNNEST expressions and lateral bodies (as subqueries)
    * through `k`; the fields that address OUTPUT columns — ORDER BY and
    * DISTINCT ON keys, HAVING/QUALIFY values — through `out`. Derived
    * bodies are self-contained and stay as they are. */
  private[graft] def mapSelect(s: Select, k: Kids, out: Kids): Select = {
    def having(h: HavingPred): HavingPred = h.copy(
      value = h.value match {
        case e: Expr => out.expr(e)
        case SubVal(b) => SubVal(out.sub(b))
        case v => v
      },
      agg = h.agg.map(mapItem(_, k)))
    s.copy(items = s.items.map(mapItem(_, k)),
      joins = s.joins.map(j => j.copy(l = k.ref(j.l), r = k.ref(j.r),
        extra = j.extra.map { case (l, op, rhs) =>
          (k.ref(l), op, rhs match { case r: ColRef => k.ref(r); case v => v }) })),
      wheres = s.wheres.map(k.pred),
      groupBy = s.groupBy.map(k.ref),
      groupSets = s.groupSets.map(_.map(k.ref)),
      having = s.having.map(having),
      qualify = s.qualify.map(having),
      orderBy = s.orderBy.map { case (e, d, nf) => (out.expr(e), d, nf) },
      distinctOn = s.distinctOn.map(out.ref),
      laterals = s.laterals.map { case (n, b, o) => (n, k.sub(b), o) },
      unnests = s.unnests.map { case (n, c, e) => (n, c, k.expr(e)) })
  }

  /** Kids that rewrite top-down at every depth: where `expr`/`pred` is
    * defined its result replaces the node (and is not descended into);
    * elsewhere the node's children are rewritten. Refs go through `ref`,
    * subquery bodies through `sub`. The ref maps, collectors and
    * substitutions over the AST are all built on this. */
  private[graft] def rewrite(ref: ColRef => ColRef = identity,
                             sub: Select => Select = identity,
                             expr: PartialFunction[Expr, Expr] = PartialFunction.empty,
                             pred: PartialFunction[Pred, Pred] = PartialFunction.empty)
      : Kids = {
    lazy val k: Kids = Kids(ref,
      e => expr.applyOrElse(e, (x: Expr) => mapExpr(x, k)),
      p => pred.applyOrElse(p, (x: Pred) => mapPred(x, k)), sub)
    k
  }

  /** A deep ref rewrite for the contexts that plan no subquery (recursive
    * steps, MERGE / UPDATE … FROM / ON CONFLICT source renames,
    * range-lateral slots): a node holding a subquery body rejects with
    * `s"$what: <node>"`. */
  private def refsNoSubquery(f: ColRef => ColRef, what: String): Kids = {
    def reject(node: Any): Select => Select =
      _ => throw new IllegalArgumentException(s"$what: $node")
    lazy val k: Kids = Kids(f, mapExpr(_, k),
      p => mapPred(p, k.copy(sub = reject(p))), reject("a subquery"))
    k
  }

  /** The column refs a traversal reaches from `start` (`_.expr(e)`,
    * `_.pred(p)`, …), subquery bodies excluded, in traversal order.
    * `outputSide` hides aggregate arguments (pre-aggregation scan
    * columns) and lambda binders (no column at all) — the view the
    * grouped-select guard checks against the grouping keys. */
  private[graft] def refsOf(start: Kids => Any,
                            outputSide: Boolean = false): Seq[ColRef] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[ColRef]
    lazy val k: Kids = rewrite(ref = r => { out += r; r }, expr = {
      case a: EAgg if outputSide => a
      case f @ EFunc(fn, Seq(list, body)) if outputSide &&
          (fn.startsWith("list_transform:") || fn.startsWith("list_filter:")) =>
        k.expr(list)
        val v = fn.substring(fn.indexOf(':') + 1)
        out ++= refsOf(_.expr(body), outputSide).filterNot(_.column == v)
        f
    })
    start(k)
    out.toSeq
  }

  /** The subquery bodies a traversal reaches from `start` (bodies nested
    * inside those stay inside them). */
  private def subqueriesOf(start: Kids => Any): Seq[Select] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Select]
    start(rewrite(sub = s => { out += s; s }))
    out.toSeq
  }

  // ---------------- lexer/parser ----------------

  private def coerce(tok: String): Any =
    if (tok.matches("-?[0-9]+")) tok.toLong
    else if (tok.matches("-?[0-9]+\\.[0-9]+")) tok.toDouble
    else tok

  def parse(sql: String): Stmt = {
    val p = new P(sql)
    val out = p.stmt()
    p.expectEof()
    out
  }

  private final class P(s: String) {
    private val toks: Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < s.length) {
        val c = s(i)
        if (c.isWhitespace) i += 1
        else if (c == '\'') {
          val j = s.indexOf('\'', i + 1)
          require(j > 0, s"unterminated string in: $s")
          out += s.substring(i, j + 1); i = j + 1
        } else if ("(),=*<>".contains(c)) {
          // two-char ops lex as one token: <= >= and the <> not-equal
          if ((c == '<' || c == '>') && i + 1 < s.length &&
              (s(i + 1) == '=' || (c == '<' && s(i + 1) == '>'))) {
            out += s.substring(i, i + 2); i += 2
          } else { out += c.toString; i += 1 }
        }
        else {
          // '~' inside an identifier is a doc-path (people.~hobbies[]~name);
          // a standalone '~' token is the FTS operator
          val start = i
          while (i < s.length && !s(i).isWhitespace && !"(),=*'<>".contains(s(i))) i += 1
          out += s.substring(start, i)
        }
      }
      out.toArray
    }
    private var p = 0
    private def peek: String = if (p < toks.length) toks(p) else ""
    private def next(): String = { val t = peek; p += 1; t }
    /** a statement must consume every token — trailing junk (e.g. the
      * literal after a mis-parsed operator) is an error, never silently
      * ignored */
    def expectEof(): Unit = require(p >= toks.length,
      s"unexpected trailing tokens: ${toks.drop(p).take(4).mkString(" ")}")
    private def kw(k: String): Unit =
      require(next().equalsIgnoreCase(k), s"expected $k near ${toks.drop(p - 1).take(4).mkString(" ")}")
    private def is(k: String): Boolean = peek.equalsIgnoreCase(k)

    private def colRef(): ColRef = {
      val t = next()
      val i = t.indexOf('.')
      require(i > 0, s"expected table.column, got $t")
      ColRef(t.substring(0, i), t.substring(i + 1))
    }
    /** does the NEXT token have the `table.column` shape — an IDENTIFIER
      * head before the dot? Mere '.'-containment would misread dotted
      * numerics (1.5) as column refs; quoted strings are never refs. */
    private def peekIsColRef: Boolean = {
      val t = peek
      val head = t.takeWhile(_ != '.')
      t.contains('.') && head.nonEmpty &&
        (head.head.isLetter || head.head == '_') &&
        head.forall(c => c.isLetterOrDigit || c == '_')
    }
    private def literal(): Any = {
      val t = next()
      // bare NULL used to lex as the STRING "null" — a silent wrong
      // answer in comparisons (`= null` would match rows containing the
      // text "null"); SQL's `= null` is never true anyway, so reject it
      // toward the forms that mean something
      require(!t.equalsIgnoreCase("null"),
        "bare null is not a comparison literal: use `t.f is [not] null` " +
          "in predicates, or `set t.f = null` in UPDATE")
      // typed temporal literals (round-11): `date '1998-12-01'`,
      // `timestamp '1998-12-01 12:00:00'` — everywhere a literal is
      // legal (=, <, BETWEEN, IN lists), so typed predicates push to the
      // parquet scan as date/timestamp filters instead of string compares
      if ((t.equalsIgnoreCase("date") || t.equalsIgnoreCase("timestamp")) &&
          peek.startsWith("'")) typedTemporal(t.toLowerCase, literal().toString)
      else if (t.startsWith("'")) t.substring(1, t.length - 1) else coerce(t)
    }
    private def typedTemporal(kind: String, s0: String): Any = kind match {
      case "date" =>
        require(s0.matches("\\d{4}-\\d{2}-\\d{2}"),
          s"date literal must be 'yyyy-mm-dd', got '$s0'")
        java.sql.Date.valueOf(s0)
      case "timestamp" =>
        // a date-only timestamp literal midnight-extends, like both engines
        val s1 = if (s0.matches("\\d{4}-\\d{2}-\\d{2}")) s0 + " 00:00:00" else s0
        require(s1.matches("\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}(\\.\\d+)?"),
          s"timestamp literal must be 'yyyy-mm-dd[ hh:mm:ss[.f]]', got '$s0'")
        java.sql.Timestamp.valueOf(s1)
    }

    def stmt(): Stmt = next().toLowerCase match {
      case "insert" => kw("into"); insertRest()
      case "update" => updateRest()
      case "delete" => kw("from"); deleteRest()
      case "merge" => kw("into"); mergeRest()
      case "pivot" => pivotRest()
      case "unpivot" => unpivotRest()
      case "copy" =>
        // `copy t to '<path>' (format parquet|csv|jsonl)` /
        // `copy t from '<path>' (format …)` (round-15 — DuckDB's COPY,
        // the dialect-level source/sink verb over graft.sources.Sources)
        val t = next()
        val dir = next().toLowerCase
        require(dir == "to" || dir == "from",
          s"COPY <table> TO|FROM '<path>', got $dir")
        val path = literal() match {
          case s1: String => s1
          case other => throw new IllegalArgumentException(
            s"COPY path must be a quoted string, got $other")
        }
        kw("("); kw("format")
        val fmt = next().toLowerCase
        require(Set("parquet", "csv", "jsonl").contains(fmt),
          s"COPY format is parquet|csv|jsonl, got $fmt")
        // `, partition_by (c [, c2 …])` (round-16): hive-partitioned
        // export — the TO verb only (FROM discovers partitions itself)
        val parts = if (is(",")) {
          next(); kw("partition_by"); kw("(")
          val ps = scala.collection.mutable.ArrayBuffer(next())
          while (is(",")) { next(); ps += next() }
          kw(")")
          require(dir == "to",
            "PARTITION_BY applies to COPY … TO (COPY FROM discovers " +
              "partition directories itself)")
          ps.toSeq
        } else Nil
        kw(")")
        if (dir == "to") CopyTo(t, path, fmt, parts)
        else CopyFrom(t, path, fmt)
      case "alter" =>
        kw("table")
        val t = next()
        if (is("rename")) {
          next()
          if (is("to")) { next(); AlterTable(t, RenameTo(next())) }
          else {
            kw("column")
            val from = next(); kw("to")
            AlterTable(t, RenameCol(from, next()))
          }
        } else if (is("add")) {
          next(); kw("column")
          val c = next()
          require(c.matches("[A-Za-z_][A-Za-z0-9_]*") &&
            !c.startsWith("graft_"), s"bad column name: $c")
          val ty = next().toLowerCase match {
            case "bigint" => "long"
            case "varchar" => "string"
            case ty0 => ty0
          }
          require(Set("long", "double", "string", "date", "timestamp")
            .contains(ty), s"ADD COLUMN type must be bigint | double | " +
              s"varchar | date | timestamp, got $ty")
          val dflt = if (is("default")) { next(); Some(literal()) } else None
          AlterTable(t, AddCol(c, ty, dflt))
        } else {
          kw("drop"); kw("column")
          AlterTable(t, DropCol(next()))
        }
      case "truncate" =>
        // TRUNCATE [TABLE] t (round-15) — DELETE with no predicate: the
        // same copy-on-write commit and O(delta) hooks (the delete image
        // is the whole table), so routed/aggregate views fold correctly
        if (is("table")) next()
        Delete(next(), Seq.empty, None)
      case "select" => selectOrUnion()
      case "show" => kw("tables"); ShowTables
      case "describe" => Describe(next())
      case "summarize" => Summarize(next())
      case "drop" =>
        // `drop view [if exists] v` (round-15) rides alongside the
        // round-13 `drop table` — separate namespaces, separate verbs
        if (is("view")) {
          next()
          val ifExists = if (is("if")) { next(); kw("exists"); true } else false
          DropView(next(), ifExists)
        } else {
          kw("table")
          val ifExists = if (is("if")) { next(); kw("exists"); true } else false
          DropTable(next(), ifExists)
        }
      case "explain" =>
        kw("select")
        Explain(selectOrUnion())
      case "with" if is("recursive") =>
        // with recursive name as (select base union [all] select step)
        // select … — UNION ALL (round-16) takes BAG semantics: rounds
        // append wholesale and stop only when a round yields ZERO rows,
        // so cyclic data diverges; the bounded-iteration cap turns that
        // divergence into a clear error instead of a hung cluster
        next()
        val name = next()
        kw("as"); kw("("); kw("select")
        val base = selectRest()
        kw("union")
        val bag = if (is("all")) { next(); true } else false
        kw("select")
        val step = selectRest()
        kw(")"); kw("select")
        WithRecursive(name, base, step, selectOrUnion(), bag)
      case "with" =>
        // CTEs: with name as (select …) (, name as (…))* select …
        val ctes = scala.collection.mutable.ArrayBuffer.empty[(String, Stmt)]
        var more = true
        while (more) {
          val name = next()
          kw("as"); kw("("); kw("select")
          ctes += name -> selectOrUnion()
          kw(")")
          more = is(",") && { next(); true }
        }
        // CTE-headed DML (round-15 — `with staged as (select …) insert
        // into t select * from staged` / delete/update/merge): the CTE
        // scope binds around the statement, same shadowing rule as
        // queries. RETURNING composes (the tail rides the DML's parse).
        if (is("insert")) { next(); kw("into")
          WithCtes(ctes.toSeq, insertRest()) }
        else if (is("delete")) { next(); kw("from")
          WithCtes(ctes.toSeq, deleteRest()) }
        else if (is("update")) { next(); WithCtes(ctes.toSeq, updateRest()) }
        else if (is("merge")) { next(); kw("into")
          WithCtes(ctes.toSeq, mergeRest()) }
        else {
          kw("select")
          WithCtes(ctes.toSeq, selectOrUnion())
        }
      case "create" =>
        if (is("table")) {
          next()
          val t = next()
          kw("as"); kw("select")
          CreateTableAs(t, selectOrUnion()) // union chains compose under CTAS
        }
        // `create [or replace] view <name> as select …` (round-15) — a
        // LOGICAL view: the body re-plans on every read against the
        // current table versions (CTAS materializes; this never does).
        // `agg view` keeps its own routed-materialization verb above.
        else if (is("view") ||
                 (is("or") && peekAt(1).equalsIgnoreCase("replace") &&
                  peekAt(2).equalsIgnoreCase("view"))) {
          val orReplace = is("or") && { next(); kw("replace"); true }
          kw("view")
          val name = next()
          require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"bad view name: $name")
          require(!name.startsWith("graft_"),
            s"view name $name collides with reserved internal names")
          kw("as"); kw("select")
          CreateView(name, selectOrUnion(), orReplace)
        }
        else if (is("agg")) {
          next(); kw("view"); kw("as"); kw("select")
          val sel = selectRest()
          require(sel.groupBy.nonEmpty, "create agg view needs GROUP BY")
          require(sel.having.isEmpty && sel.orderBy.isEmpty &&
            sel.limit.isEmpty && sel.offset.isEmpty && !sel.distinct &&
            sel.qualify.isEmpty,
            "create agg view takes a bare grouped aggregation " +
              "(no having/qualify/order by/limit/offset/distinct)")
          val groupCols = sel.groupBy.map(_.column).toSet
          sel.items.foreach {
            case Field(r) => require(groupCols.contains(r.column),
              s"projected field ${r.column} is not a grouping key")
            case Star => throw new IllegalArgumentException(
              "create agg view cannot project *")
            // a plain call over a column under its auto-alias — the
            // item `count(*)`, `sum(t.f)`, … parse to
            case a: AggExprItem if a == countStarItem || (a.expr match {
                case ECol(r) => a.alias == autoAlias(a.fn, r.column) &&
                  Set("count", "count_distinct", "sum", "avg", "median",
                    "min", "max")(a.fn)
                case _ => false
              }) => ()
            // everything else (windows, expressions, subqueries) the
            // summary would not store (aggViewFrame computes only the
            // keys and the plain aggregates)
            case it => throw new IllegalArgumentException(
              "create agg view aggregates plain columns " +
                "(count/sum/avg/min/max(t.f)) — the summary does not " +
                s"store ${outputNameOf(it).getOrElse(it.toString)}: " +
                "windows, expressions and subqueries don't re-aggregate " +
                "for containment routing or DML folds")
          }
          CreateAggView(sel)
        } else { kw("join"); createJoinRest() }
      case other => throw new IllegalArgumentException(s"unsupported statement: $other")
    }

    private def insertRest(): Stmt = {
      val table = next()
      // `insert into t select …` — bulk append, no column list
      if (is("select")) { next(); return InsertSelect(table, Nil, selectOrUnion()) }
      // `insert into t by name select …` (round-15 — DuckDB's
      // spelling): accepted as documentation — the dialect's bulk
      // append ALREADY aligns by column name (schema-union semantics),
      // absent columns NULL
      if (is("by")) {
        next(); kw("name"); kw("select")
        return InsertSelect(table, Nil, selectOrUnion())
      }
      kw("(")
      val fields = scala.collection.mutable.ArrayBuffer(next())
      while (is(",")) { next(); fields += next() }
      kw(")")
      // `insert into t ( a, b ) select …` — the list renames positionally
      if (is("select")) {
        next(); return InsertSelect(table, fields.toSeq, selectOrUnion())
      }
      kw("values")
      val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      // explicit NULL in VALUES = the field omitted for that row (the
      // dialect's dynamic schema already means "missing => null", so the
      // two spellings are one semantics)
      def insertVal(): Any = if (is("null")) { next(); null } else literal()
      var more = true
      while (more) {
        kw("(")
        val values = scala.collection.mutable.ArrayBuffer(insertVal())
        while (is(",")) { next(); values += insertVal() }
        kw(")")
        require(values.length == fields.length,
          s"insert row has ${values.length} values for ${fields.length} fields")
        rows += values.toSeq
        if (is(",")) next() else more = false
      }
      // `on conflict (k, …) do nothing | do update set c = <expr> …`
      // (round-15 — see [[UpsertValues]]); `excluded.c` reads the
      // incoming row, the same RHS grammar as MERGE (bare word = string)
      if (is("on")) {
        next(); kw("conflict"); kw("(")
        val keys = scala.collection.mutable.ArrayBuffer(next())
        while (is(",")) { next(); keys += next() }
        kw(")"); kw("do")
        val action: Option[Seq[(ColRef, Expr)]] =
          if (is("nothing")) { next(); None }
          else {
            kw("update"); kw("set")
            def rhs(): Expr =
              if (is("null")) { next(); ELit(null) }
              else exprTree() match {
                case ECol(ColRef("", bare)) => ELit(bare)
                case e => e
              }
            val sets =
              scala.collection.mutable.ArrayBuffer.empty[(ColRef, Expr)]
            var m2 = true
            while (m2) {
              val ref = colRef(); kw("=")
              require(ref.table.isEmpty || ref.table == table,
                s"ON CONFLICT DO UPDATE assigns the TARGET's columns — " +
                  s"got ${ref.table}.${ref.column}")
              sets += ((ref, rhs()))
              m2 = is(",") && { next(); true }
            }
            Some(sets.toSeq)
          }
        return UpsertValues(table, fields.toSeq, rows.toSeq, keys.toSeq,
          action)
      }
      val ins = Insert(table, fields.toSeq, rows.toSeq)
      if (is("returning")) Returning(ins, returningCols()) else ins
    }

    /** `returning *` (empty list) or `returning c1 [, c2 …]`. */
    private def returningCols(): Seq[String] = {
      kw("returning")
      if (is("*")) { next(); Nil }
      else {
        val cs = scala.collection.mutable.ArrayBuffer(next())
        while (is(",")) { next(); cs += next() }
        cs.toSeq
      }
    }

    private def updateRest(): Stmt = {
      val table = next()
      kw("set")
      // each RHS: `null`, or the FULL scalar expression grammar (round-10
      // — arithmetic, CASE, scalar functions); the three simple shapes
      // map to their dedicated SetVal forms so pre-grammar coercion
      // semantics (SetArith's try_cast-to-long) are preserved bit-for-bit
      def assignment(): (ColRef, SetVal) = {
        val ref = colRef(); kw("=")
        val v: SetVal =
          if (is("null")) { next(); SetLit(null) } // explicit null-out
          // `= ( select <agg> … )` — a scalar-subquery RHS (round-12)
          else if (peek == "(" && peekAt(1).equalsIgnoreCase("select")) {
            next(); kw("select")
            val sub = selectRest(); kw(")")
            SetScalar(sub)
          }
          else exprTree() match {
            case ELit(x) => SetLit(x)
            // a bare unquoted word on a SET RHS keeps its pre-grammar
            // meaning: a string literal, not an output-column reference
            // (UPDATE has no computed aliases in scope)
            case ECol(ColRef("", bare)) => SetLit(bare)
            case ECol(r2) => SetCol(r2)
            case EArith(ECol(r2), op @ ("+" | "-" | "*"), ELit(n: Long)) =>
              SetArith(r2, op, n)
            case e => SetExpr(e)
          }
        (ref, v)
      }
      // `set t.a = …, t.b = …` (round-11 multi-assignment) — the comma
      // separates assignments; commas INSIDE an RHS live in function-call
      // parens, so there is no ambiguity
      val sets = scala.collection.mutable.ArrayBuffer(assignment())
      while (is(",")) { next(); sets += assignment() }
      // `from u` (round-14) — the join-update source; the WHERE must
      // link the two tables with an equality conjunct (like DELETE …
      // USING), and SET right-hand sides may read u's columns
      val from = if (is("from")) { next(); Some(next()) } else None
      val wheres = if (is("where")) { next(); preds() } else Nil
      from.foreach { u =>
        // the linking equality must join EXACTLY the target and the
        // named source (r14 advice: `where t.k = x.k` with a third
        // table passed the old some-cross-equality guard, then the
        // executor silently bound x.k by bare name against the target)
        require(wheres.exists {
          case ColEq(a, b) => Set(a.table, b.table) == Set(table, u)
          case _ => false
        }, "UPDATE … FROM needs at least one equality conjunct linking " +
          s"the target and the source ($table.k = $u.k)")
        val foreign = wheres.flatMap(predTables)
          .filterNot(tb => tb == table || tb == u).distinct
        require(foreign.isEmpty,
          s"UPDATE … FROM predicates reference table(s) " +
            s"${foreign.mkString(", ")} — only $table and $u are in " +
            "scope (stage a third table through MERGE or a CTE)")
      }
      val upd = Update(table, sets.toSeq, wheres, from)
      if (is("returning")) Returning(upd, returningCols()) else upd
    }

    /** `merge into t using u on … when matched then update set … when
      * not matched then insert (…) values (…)` — see [[Merge]]. SET and
      * VALUES right-hand sides take the full scalar expression grammar
      * and may reference source columns (`u.c`); a bare unquoted word
      * keeps its pre-grammar meaning as a string literal, the same
      * convention as UPDATE's SET. */
    private def mergeRest(): Merge = {
      val t = next()
      kw("using"); val u = next()
      require(!t.equalsIgnoreCase(u),
        "MERGE target and source must be distinct tables")
      kw("on")
      val pairs = scala.collection.mutable.ArrayBuffer.empty[(ColRef, ColRef)]
      var more = true
      while (more) {
        val a = colRef(); kw("="); val b = colRef()
        pairs += (
          if (a.table == t && b.table == u) (a, b)
          else if (a.table == u && b.table == t) (b, a)
          else throw new IllegalArgumentException(
            s"a MERGE ON conjunct is a target↔source equality " +
              s"($t.k = $u.k), got: ${a.table}.${a.column} = " +
              s"${b.table}.${b.column}"))
        more = is("and") && { next(); true }
      }
      // the full expression grammar on every RHS; explicit NULL and the
      // bare-word-is-a-string convention ride along
      def rhs(): Expr =
        if (is("null")) { next(); ELit(null) }
        else exprTree() match {
          case ECol(ColRef("", bare)) => ELit(bare)
          case e => e
        }
      // `when matched AND <cond> then` (round-15): the guard is the
      // conjunction grammar up to THEN; OR-chains need parens inside a
      // conjunct (predConj stops at a bare top-level OR, and the THEN
      // keyword check gives the clear error)
      def guard(): Option[Pred] =
        if (is("and")) { next(); Some(predConj()) } else None
      val matched =
        scala.collection.mutable.ArrayBuffer.empty[MergeMatched]
      val notMatched = scala.collection.mutable.ArrayBuffer
        .empty[(Seq[String], Seq[Expr], Option[Pred])]
      val bySource =
        scala.collection.mutable.ArrayBuffer.empty[MergeMatched]
      // shared by WHEN MATCHED and (round-16) WHEN NOT MATCHED BY
      // SOURCE — the latter's assignments read the target only, which
      // the lowering's scope check enforces
      def updateSets(clause: String): Seq[(ColRef, Expr)] = {
        kw("update"); kw("set")
        val sets =
          scala.collection.mutable.ArrayBuffer.empty[(ColRef, Expr)]
        var m2 = true
        while (m2) {
          val ref = colRef(); kw("=")
          require(ref.table.isEmpty || ref.table == t,
            s"$clause assigns the TARGET's columns — got " +
              s"${ref.table}.${ref.column}")
          sets += ((ref, rhs()))
          m2 = is(",") && { next(); true }
        }
        sets.toSeq
      }
      require(is("when"), "MERGE needs at least one WHEN clause")
      while (is("when")) {
        next()
        if (is("matched")) {
          next()
          val cond = guard()
          kw("then")
          // `then delete` (round-14) — the matched action drops the
          // row; otherwise `update set …`
          if (is("delete")) { next(); matched += MergeMatched(cond, Nil, true) }
          else matched += MergeMatched(cond,
            updateSets("WHEN MATCHED"), false)
        } else {
          kw("not"); kw("matched")
          // `when not matched BY SOURCE [and <cond>] then delete |
          // update set …` (round-15 delete; round-16 update): target
          // rows with no source match drop or restate — table-sync's
          // two halves, ordered first-match-wins like the matched tier
          if (is("by")) {
            next(); kw("source")
            val cond = guard()
            kw("then")
            if (is("delete")) { next(); bySource += MergeMatched(cond, Nil, true) }
            else bySource += MergeMatched(cond,
              updateSets("WHEN NOT MATCHED BY SOURCE"), false)
          } else {
            val cond = guard()
            kw("then"); kw("insert")
            kw("(")
            val cols = scala.collection.mutable.ArrayBuffer(next())
            while (is(",")) { next(); cols += next() }
            kw(")"); kw("values"); kw("(")
            val vals = scala.collection.mutable.ArrayBuffer(rhs())
            while (is(",")) { next(); vals += rhs() }
            kw(")")
            require(cols.length == vals.length,
              s"MERGE insert names ${cols.length} column(s) for " +
                s"${vals.length} value(s)")
            require(!cols.contains("id"),
              "MERGE inserts synthesize id — don't insert one")
            notMatched += ((cols.toSeq, vals.toSeq, cond))
          }
        }
      }
      Merge(t, u, pairs.toSeq, matched.toSeq, notMatched.toSeq,
        bySource.toSeq)
    }

    /** `pivot t on t.k in ('a', 'b') using sum(t.v) group by t.g` —
      * see [[Pivot]]. */
    private def pivotRest(): Pivot = {
      val t = next()
      kw("on"); val on = colRef()
      // the IN list is OPTIONAL (round-15 — DuckDB's dynamic PIVOT):
      // without it, the executor runs ONE bounded distinct-values job
      // (capped — beyond the cap it rejects toward the explicit list)
      val vs = scala.collection.mutable.ArrayBuffer.empty[Any]
      if (is("in")) {
        next(); kw("(")
        vs += literal()
        while (is(",")) { next(); vs += literal() }
        kw(")")
      }
      kw("using")
      // one or more aggregates (round-16: `using sum(t.v) as s,
      // count(*) as c`) — multiples need aliases (AST enforces)
      val aggs = scala.collection.mutable.ArrayBuffer
        .empty[(String, Option[ColRef], Option[String])]
      var moreAgg = true
      while (moreAgg) {
        val fn = next().toLowerCase
        kw("(")
        val arg = if (is("*")) { next(); None } else Some(colRef())
        kw(")")
        val al = if (is("as")) { next(); Some(next()) } else None
        aggs += ((fn, arg, al))
        moreAgg = is(",") && { next(); true }
      }
      kw("group"); kw("by")
      val gs = scala.collection.mutable.ArrayBuffer(colRef())
      while (is(",")) { next(); gs += colRef() }
      Pivot(t, on, vs.toSeq, aggs.toSeq, gs.toSeq)
    }

    /** `unpivot t on (t.c1, t.c2) into name k value v` — see
      * [[Unpivot]]. */
    private def unpivotRest(): Unpivot = {
      val t = next()
      kw("on"); kw("(")
      val cs = scala.collection.mutable.ArrayBuffer(colRef())
      while (is(",")) { next(); cs += colRef() }
      kw(")")
      kw("into"); kw("name")
      val n = next()
      kw("value")
      val v = next()
      require(n.matches("[A-Za-z_][A-Za-z0-9_]*") &&
        v.matches("[A-Za-z_][A-Za-z0-9_]*") && n != v,
        s"unpivot needs two distinct plain output names, got $n / $v")
      Unpivot(t, cs.toSeq, n, v)
    }

    private def deleteRest(): Stmt = {
      val table = next()
      // `delete from t using u where t.k = u.k [and …]` (round-13) —
      // the join-delete (Postgres/DuckDB USING): rows of t with a match
      // in u under the WHERE's equality conjuncts go; see the executor
      // for the semi-join lowering
      val using = if (is("using")) { next(); Some(next()) } else None
      val wheres = if (is("where")) { next(); preds() } else Nil
      require(using.isEmpty || wheres.exists {
        case ColEq(a, b) => a.table != b.table
        case _ => false
      }, "DELETE … USING needs at least one equality conjunct linking " +
        "the two tables (t.k = u.k)")
      val del = Delete(table, wheres, using)
      if (is("returning")) Returning(del, returningCols()) else del
    }

    /** WHERE clause → top-level AND conjuncts (callers fold with &&).
      * Grammar: expr := conj (OR conj)*; conj := atom (AND atom)*;
      * atom := '(' expr ')' | simple — standard SQL precedence. */
    private def preds(): Seq[Pred] = predExpr() match {
      case And(ps) => ps
      case other => Seq(other)
    }
    private def predExpr(): Pred = {
      val terms = scala.collection.mutable.ArrayBuffer(predConj())
      while (is("or")) { next(); terms += predConj() }
      if (terms.size == 1) terms.head else Or(terms.toSeq)
    }
    private def predConj(): Pred = {
      val terms = scala.collection.mutable.ArrayBuffer(predAtom())
      while (is("and")) { next(); terms += predAtom() }
      if (terms.size == 1) terms.head else And(terms.toSeq)
    }
    /** Bounded lookahead: `( t.a, t.b [, …] ) [not] in ( select`? */
    private def isTupleInSelect: Boolean = {
      if (peek != "(") return false
      var k = 1
      var refs = 0
      var commas = 0
      while (peekAt(k) != ")" && peekAt(k).nonEmpty && k < 24) {
        if (peekAt(k) == ",") commas += 1
        else if (peekAt(k).contains(".")) refs += 1
        else return false
        k += 1
      }
      val afterNot =
        if (peekAt(k + 1).equalsIgnoreCase("not")) 1 else 0
      peekAt(k) == ")" && refs >= 2 && commas == refs - 1 &&
        peekAt(k + 1 + afterNot).equalsIgnoreCase("in") &&
        peekAt(k + 2 + afterNot) == "(" &&
        peekAt(k + 3 + afterNot).equalsIgnoreCase("select")
    }
    private def predAtom(): Pred =
      if (isTupleInSelect) {
        // `(a, b) in (select x, y …)` (round-15) — see [[InSelectTuple]]
        next()
        val refs = scala.collection.mutable.ArrayBuffer(colRef())
        while (is(",")) { next(); refs += colRef() }
        kw(")")
        val negated = is("not") && { next(); true }
        kw("in"); kw("("); kw("select")
        val sub = selectRest(); kw(")")
        require(!negated,
          "(a, b) NOT IN (select …) is an ANSI NULL trap (one NULL " +
            "subquery value makes every row UNKNOWN) — spell NOT " +
            "EXISTS (select … where x = t.a and y = t.b)")
        InSelectTuple(refs.toSeq, sub)
      }
      else if (is("(")) { next(); val e = predExpr(); kw(")"); e }
      else if (is("not")) { next(); Not(predAtom()) }
      else if (is("exists")) {
        // `exists (select …)`; `not exists (…)` arrives via the branch
        // above as Not(ExistsSelect)
        next(); kw("("); kw("select")
        val sub = selectRest(); kw(")")
        ExistsSelect(sub)
      }
      else comparison(exprTree())

    /** The ONE comparison grammar (see [[Cmp]]): any head — a plain ref,
      * a doc-path, a computed expression, a lambda variable — then one
      * operator switch. WHERE, CASE conditions and list_filter bodies all
      * parse here. The subquery arms (quantified, scalar, IN-select over a
      * plain ref) and FTS `~` key on a column, so they need a plain-ref
      * head, as their lowerings do. */
    private def comparison(head: Expr): Pred = {
      def refHead(form: String): ColRef = head match {
        case ECol(r) => r
        case _ => throw new IllegalArgumentException(
          "a computed expression compares with = <> < > <= >=, [NOT] " +
            "IN/BETWEEN/LIKE/ILIKE/RLIKE and IS [NOT] NULL/DISTINCT FROM " +
            s"— $form needs a plain column head")
      }
      def subqueryNext: Boolean =
        is("(") && peekAt(1).equalsIgnoreCase("select")
      def subquery(): Select = {
        kw("("); kw("select")
        val sub = selectRest()
        kw(")")
        sub
      }
      if (is("is")) {
        // `is [not] null` ≡ `is [not] distinct from null`; both are the
        // null-safe equality or its negation
        next()
        val n = is("not") && { next(); true }
        val distinct = is("distinct") && { next(); kw("from"); true }
        val rhs =
          if (!distinct) { kw("null"); ELit(null) }
          else if (is("null")) { next(); ELit(null) }
          else operand()
        return Cmp(head, if (n != distinct) "is distinct from" else "<=>", rhs)
      }
      // a BOOLEAN function call with no comparison following is itself
      // the predicate (round-11: `where contains(t.f, '#')`)
      val cmpOps = Set("=", "<>", "<", ">", "<=", ">=")
      if (!cmpOps(peek)) head match {
        case EFunc("contains" | "starts_with" | "ends_with", _) =>
          return BoolExpr(head)
        case _ =>
      }
      // `x not in/like/ilike/rlike/between …` — the negation rides the
      // operator
      val negated = is("not") && { next(); true }
      val op = next().toLowerCase
      require(!negated || Set("in", "like", "ilike", "rlike", "between")(op),
        "infix NOT applies to IN / LIKE / ILIKE / RLIKE / BETWEEN; " +
          "use `not (…)` otherwise")
      val atom = op match {
        case o if cmpOps(o) =>
          if ((is("any") || is("some") || is("all")) && peekAt(1) == "(" &&
              peekAt(2).equalsIgnoreCase("select")) {
            // `<op> any|some|all ( select … )` — the ANSI quantified
            // forms; `some` is `any`'s synonym. The membership-shaped
            // quantifiers route straight to their native membership
            // plans (semi/anti join); the rest carry the quantifier to
            // [[QuantCmp]]'s stats lowering.
            val ref = refHead(s"$o ${peek.toLowerCase} (select …)")
            val q = if (next().equalsIgnoreCase("all")) "all" else "any"
            val sub = subquery()
            (o, q) match {
              // the membership shapes route to the native semi/anti
              // plans, which carry no correlation machinery — a
              // correlated conjunct would resolve against the inner
              // frame only (silently wrong when names coincide), so
              // classify here; the min/max stats lowering cannot
              // express membership, so QuantCmp is no fallback (r13
              // advice)
              case ("=", "any") | ("<>", "all") =>
                val subT = fromTables(sub)
                val foreign = sub.wheres
                  .flatMap(p => predTables(p).filterNot(subT)).distinct
                require(foreign.isEmpty,
                  s"correlated $o $q subquery references outer " +
                    s"table(s) ${foreign.mkString(", ")} — spell the " +
                    "shape through EXISTS (exists (select 1 from … " +
                    "where inner.k = outer.k and inner.v = outer.v))")
                if (o == "=") InSelect(ref, sub)
                else Not(InSelect(ref, sub))
              case _ => QuantCmp(ref, o, q, sub)
            }
          }
          // `t.a <op> (select <agg> …)` — the scalar-subquery comparison
          // (round-9 growth; `<>` is the same broadcast-compare plan,
          // negated)
          else if (subqueryNext)
            CmpSelect(refHead(s"$o (select …)"), o, subquery())
          else {
            // a computed head compares with a full expression, where a
            // bare word is a column (`sum_v * 2 > cnt` over a grouped
            // select's outputs); every other right-hand side is an operand
            val rhs = if (head.isInstanceOf[ECol]) operand() else exprTree()
            if (o == "<>") Not(Cmp(head, "=", rhs)) else Cmp(head, o, rhs)
          }
        case "~" => FtsMatch(refHead("~"), literal().toString)
        case "between" =>
          // BETWEEN's `and` binds to the atom, not the conjunction —
          // consumed here before predConj ever sees it
          val lo = operand(); kw("and"); val hi = operand()
          And(Seq(Cmp(head, ">=", lo), Cmp(head, "<=", hi)))
        case "in" =>
          if (subqueryNext) {
            val sub = subquery()
            head match {
              case ECol(r) => InSelect(r, sub)
              case e => InSelectExpr(e, sub)
            }
          } else {
            kw("(")
            val vs = scala.collection.mutable.ArrayBuffer(operand())
            while (is(",")) { next(); vs += operand() }
            kw(")")
            Or(vs.toSeq.map(Cmp(head, "=", _)))
          }
        case "like" | "ilike" | "rlike" =>
          val v = literal()
          require(v.isInstanceOf[String], s"$op expects a quoted " +
            s"${if (op == "rlike") "regex " else ""}pattern, got $v")
          Cmp(head, op, ELit(v))
        case o => throw new IllegalArgumentException(s"unsupported predicate op: $o")
      }
      if (negated) Not(atom) else atom
    }

    /** Lambda variables in scope while a list lambda's body parses. */
    private var lambdaVars: List[String] = Nil

    /** A comparison's right-hand operand: the expression grammar, except
      * that a bare word keeps [[literal]]'s meaning — a string (`t.name =
      * alice`), not an output column — unless it names a lambda variable
      * in scope; bare NULL rejects there too. Typed temporals (`date
      * '…'`) are the same literal either way. The right of `= <> < > <=
      * >=` after a computed head is the one exception: a full expression
      * (see [[comparison]]). */
    private def operand(): Expr = {
      val bareWord = peek.matches("[A-Za-z_][A-Za-z0-9_]*") &&
        peekAt(1) != "(" && !peekAt(1).startsWith("'") && !is("case") &&
        !lambdaVars.contains(peek)
      if (bareWord) ELit(literal()) else exprTree()
    }

    /** A SELECT (already past the keyword), optionally continued by a
      * UNION [ALL] chain — shared by top-level selects, CTAS bodies, and
      * CTE bodies (inside parens the closing ')' ends the chain). */
    private def selectOrUnion(): Stmt = {
      val first = selectRest()
      if (is("intersect") || is("except")) {
        val op = next().toLowerCase
        val allFlags = scala.collection.mutable.ArrayBuffer(
          is("all") && { next(); true })
        kw("select")
        val branches = scala.collection.mutable.ArrayBuffer(first, selectRest())
        while (is(op)) {
          next()
          allFlags += (is("all") && { next(); true })
          kw("select")
          branches += selectRest()
        }
        require(!is("union") && !is("intersect") && !is("except"),
          "mixed set operators in one chain are not supported — " +
            "parenthesize through CTEs")
        require(allFlags.distinct.size == 1,
          s"mixed $op / $op ALL in one chain is not supported")
        SetOpChain(op, branches.toSeq, allFlags.head)
      }
      else if (!is("union")) first
      else {
        val branches = scala.collection.mutable.ArrayBuffer(first)
        val allFlags = scala.collection.mutable.ArrayBuffer.empty[Boolean]
        val nameFlags = scala.collection.mutable.ArrayBuffer.empty[Boolean]
        while (is("union")) {
          next()
          allFlags += (is("all") && { next(); true })
          // `union [all] by name` (round-15 — DuckDB): align branches
          // by column name instead of position
          nameFlags += (is("by") && { next(); kw("name"); true })
          kw("select")
          branches += selectRest()
        }
        require(allFlags.distinct.size == 1,
          "mixed UNION / UNION ALL in one chain is not supported")
        require(nameFlags.distinct.size == 1,
          "mixed UNION / UNION BY NAME in one chain is not supported")
        require(!is("intersect") && !is("except"),
          "mixed set operators in one chain are not supported — " +
            "parenthesize through CTEs")
        Union(branches.toSeq, allFlags.head, nameFlags.head)
      }
    }

    private def selectRest(): Select = {
      // `select distinct …` — set semantics over the projected rows;
      // `select distinct on (k…) …` (round-13) — first-row-per-key
      // instead (Postgres/DuckDB), validated against ORDER BY below
      val distinct0 = is("distinct") && { next(); true }
      val distinctOn: Seq[ColRef] =
        if (distinct0 && is("on")) {
          next(); kw("(")
          def donKey(): ColRef =
            if (peek.contains('.')) colRef() else ColRef("", next())
          val ks = scala.collection.mutable.ArrayBuffer(donKey())
          while (is(",")) { next(); ks += donKey() }
          kw(")")
          ks.toSeq
        } else Nil
      val distinct = distinct0 && distinctOn.isEmpty
      val items = scala.collection.mutable.ArrayBuffer.empty[SelectItem]
      var more = true
      while (more) {
        if (is("*")) {
          next()
          // `* exclude (a, b) [replace (<expr> as a, …)]` (round-15 —
          // DuckDB's star modifiers): desugared to the explicit item
          // list once the source columns are known (selectFrame)
          if (is("exclude") || is("replace")) {
            val excl = scala.collection.mutable.ArrayBuffer.empty[String]
            val repl =
              scala.collection.mutable.ArrayBuffer.empty[(Expr, String)]
            if (is("exclude")) {
              next(); kw("(")
              excl += next()
              while (is(",")) { next(); excl += next() }
              kw(")")
            }
            if (is("replace")) {
              next(); kw("(")
              def one(): Unit = {
                val e = exprTree(); kw("as")
                repl += ((e, next()))
              }
              one()
              while (is(",")) { next(); one() }
              kw(")")
            }
            items += StarMod(excl.toSeq, repl.toSeq)
          } else items += Star
        }
        else if (is("row_number") || is("rank") || is("dense_rank") ||
                 is("percent_rank") || is("cume_dist")) {
          // percent_rank/cume_dist (round-13): relative rank in [0, 1] —
          // (rank−1)/(n−1) and peers-≤-current/n. Small-integer IEEE
          // divisions are correctly rounded on both engines, so the
          // doubles hash-match bit for bit.
          val fn = next().toLowerCase; kw("("); kw(")")
          items += windowSpec(fn, None)
        }
        else if (is("nth_value")) {
          // nth_value(col, n) (round-13): the n-th value of the ordered
          // frame — NULL until the default running frame has n rows
          // (both engines); n is a static positive integer like ntile's
          val fn = next().toLowerCase; kw("(")
          val r = if (peekIsColRef) colRef() else {
            val t = next()
            require(t.matches("[A-Za-z_][A-Za-z0-9_]*"),
              s"$fn takes a column or an output alias, got $t")
            ColRef("", t)
          }
          kw(",")
          val t = next()
          require(t.matches("[0-9]+") && t.toInt > 0,
            s"nth_value expects a positive row index, got $t")
          kw(")")
          items += windowSpec(fn, Some(r), buckets = Some(t.toInt))
        }
        else if (is("ntile")) {
          // ntile(N) — N equal-ish buckets over the window order
          // (round-10 growth; deterministic only when the ORDER BY key
          // is unique, as with every row-numbering function)
          next(); kw("(")
          val t = next()
          require(t.matches("[0-9]+") && t.toInt > 0,
            s"ntile expects a positive bucket count, got $t")
          kw(")")
          items += windowSpec("ntile", None, buckets = Some(t.toInt))
        }
        else if (is("lag") || is("lead") || is("first_value") ||
                 is("last_value")) {
          // the argument is a column OR a bare output alias (round-13 —
          // `lag(n) over (order by yr)` in a GROUPED select reads the
          // aggregate alias: the period-over-period idiom)
          val fn = next().toLowerCase; kw("(")
          val r = if (peekIsColRef) colRef() else {
            val t = next()
            require(t.matches("[A-Za-z_][A-Za-z0-9_]*"),
              s"$fn takes a column or an output alias, got $t")
            ColRef("", t)
          }
          // `lag(x, n [, default])` (round-13): an explicit offset and a
          // miss default — lag(x) ≡ lag(x, 1, NULL), like both engines.
          // `first_value(x, tb)` / `last_value(x, tb)` (round-14): an
          // explicit TIEBREAK column for the RANGE-frame deterministic
          // pick (mkWinCall validates the pairing).
          var off: Option[Int] = None
          var dflt: Option[Any] = None
          var tb: Option[ColRef] = None
          if (is(",")) {
            next()
            if (fn == "lag" || fn == "lead") {
              val n = next()
              require(n.matches("[0-9]+"),
                s"$fn's offset must be a non-negative integer literal, got $n")
              off = Some(n.toInt)
              if (is(",")) { next(); dflt = Some(literal()) }
            } else {
              tb = Some(if (peekIsColRef) colRef() else ColRef("", next()))
            }
          }
          // `… ignore nulls )` (round-14, DuckDB's in-paren spelling):
          // skip NULL values when picking the offset/frame row
          val ign = is("ignore") && { next(); kw("nulls"); true }
          kw(")")
          items += windowSpec(fn, Some(r), buckets = off, default = dflt,
            tiebreak = tb, ignoreNulls = ign)
        }
        else if (is("count")) {
          // count(*) counts rows; count(t.f) counts NON-NULL f — the SQL
          // distinction starts mattering once LEFT JOIN can produce nulls
          val item0 = plainAgg()
          // `count(*)|count(t.f) over (…)` — a window count (round 11:
          // running/frame counts, the group-size-per-row idiom); the
          // distinct form stays out (neither engine windows a distinct
          // count without rewrites)
          if (is("over")) {
            val warg = item0 match {
              case AggExprItem("count", ECol(r), _) => Some(r)
              case AggExprItem("count_star", _, _) => None
              case _ => throw new IllegalArgumentException(
                "count(distinct …) cannot be a window function — " +
                  "aggregate through GROUP BY instead")
            }
            items += windowSpec("count", warg)
          }
          // `count(…) filter ( where <pred> )` (round-12): the ANSI
          // FILTER clause — desugars to a CASE-gated aggregate (count of
          // the matching rows only); requires `as <alias>` (computed)
          else if (is("filter")) {
            next(); kw("("); kw("where")
            val p = predExpr(); kw(")")
            val fn = if (item0.fn == "count_star") "count" else item0.fn
            items += AggExprItem(fn, ECase(Seq((p, item0.expr)), None),
              aliasAfterAs("count(…) filter (…)"))
          }
          // `count(…) as alias` re-aliases the aggregate (the alias then
          // addresses it in HAVING/ORDER BY in place of the auto-alias);
          // an arithmetic continuation makes it an expression over
          // aggregates — `count(*) * 1.0 / n as share`
          else items += (if (arithOps.exists(is))
            ExprItem(exprTreeFrom(EAgg(item0.fn, item0.expr)),
              aliasAfterAs("count(…) <op> …"))
          else if (is("as")) item0.copy(alias = aliasAfterAs("count(…)"))
          else item0)
        }
        else if (is("string_agg") && peekAt(1) == "(") {
          // `string_agg([distinct] <expr>, '<sep>') as alias` —
          // sorted-deterministic; DISTINCT (round-16) joins the sorted
          // value SET (same rule as array_agg: no ORDER BY under it)
          next(); kw("(")
          val dist = if (is("distinct")) { next(); true } else false
          val e = exprTree(); kw(",")
          val sep = literal()
          require(sep.isInstanceOf[String],
            s"string_agg expects a quoted separator literal, got $sep")
          // `string_agg(x, ',' order by y [desc])` (round-15): explicit
          // within-group ordering
          val ord = if (is("order")) {
            require(!dist,
              "string_agg(DISTINCT x, sep ORDER BY …) — the distinct " +
                "set is already value-sorted; drop the ORDER BY")
            next(); kw("by")
            val oe = exprTree()
            val desc =
              if (is("desc")) { next(); true }
              else { if (is("asc")) next(); false }
            Some((oe, desc))
          } else None
          kw(")")
          items += StringAggItem(e, sep.toString,
            aliasAfterAs("string_agg(…)"), ord, distinct = dist)
        }
        else if ((is("array_agg") || is("list")) && peekAt(1) == "(" &&
                 // the ITEM form owns ORDER BY / DISTINCT and fires only
                 // on the bare `array_agg(…) as alias` shape — a
                 // LOOKAHEAD (round-16; the r15 guard claimed this but
                 // fired unconditionally) checks the token after the
                 // matching ')' is `as`, so arithmetic continuations
                 // (`array_agg(x) / count(*)`) and wrapped calls
                 // (`len(array_agg(x))`) fall through to the expression
                 // grammar below
                 afterCallToken().equalsIgnoreCase("as")) {
          // `array_agg([distinct] <expr> [order by <expr> [desc]]) as
          // alias` / DuckDB's `list(…)` (round-15): the LIST-valued twin
          // of string_agg — same collect/sort machinery, same
          // NULL-element skip, same empty→NULL; bare calls stay
          // value-sorted so the output is deterministic under any
          // partitioning. DISTINCT (round-16) collects the value SET —
          // value-sorted by construction, so an explicit ORDER BY under
          // DISTINCT is rejected (ANSI only allows ordering by the
          // distinct expression itself, and that IS the default order).
          next(); kw("(")
          val dist = if (is("distinct")) { next(); true } else false
          val e = exprTree()
          val ord = if (is("order")) {
            require(!dist,
              "array_agg(DISTINCT x ORDER BY …) — the distinct set is " +
                "already value-sorted; drop the ORDER BY")
            next(); kw("by")
            val oe = exprTree()
            val desc =
              if (is("desc")) { next(); true }
              else { if (is("asc")) next(); false }
            Some((oe, desc))
          } else None
          kw(")")
          items += StringAggItem(e, ",", aliasAfterAs("array_agg(…)"), ord,
            asList = true, distinct = dist)
        }
        else if ((is("min_by") || is("max_by")) && peekAt(1) == "(") {
          // `min_by|max_by(<value>, <key>) as alias` — value at extremal key
          val fn = next().toLowerCase; kw("(")
          val v = exprTree(); kw(",")
          val k = exprTree(); kw(")")
          items += ArgExtremeItem(fn, v, k, aliasAfterAs(s"$fn(…)"))
        }
        else if (is("grouping") && peekAt(1) == "(") {
          // `grouping(t.g) as alias` — rollup/cube subtotal marker
          next(); kw("(")
          val r = colRef(); kw(")")
          items += GroupingItem(r, aliasAfterAs("grouping(…)"))
        }
        else if (is("percentile_cont") && peekAt(1) == "(") {
          // percentile_cont(<expr>, <q>) (round-13) — exact interpolated
          // quantile at a STATIC fraction; see the aggsRaw lowering note
          next(); kw("(")
          val e = exprTree(); kw(",")
          val qd = literal() match {
            case d: Double => d
            case l: Long => l.toDouble
            case other => throw new IllegalArgumentException(
              s"percentile_cont's fraction must be a numeric literal, got $other")
          }
          require(qd >= 0.0 && qd <= 1.0,
            s"percentile_cont's fraction must be in [0, 1], got $qd")
          kw(")")
          items += AggExprItem(s"percentile_cont:$qd", e,
            aliasAfterAs("percentile_cont(…)"))
        }
        else if (Seq("var_samp", "var_pop", "stddev_samp", "stddev_pop",
                     "stddev", "variance").exists(is) && peekAt(1) == "(") {
          // variance/stddev (round-13) — DESUGARED to the exact-sum
          // formula (n·Σx² − (Σx)²) / n / (n−1 | n) over ONE aggregation
          // pass, stddev wrapping it in sqrt. Why not the engines'
          // native aggregates: their streaming accumulations (Welford /
          // per-partition merges) round differently in the last ULP, so
          // results could never hash-match — the exact-integer sums +
          // two correctly-rounded IEEE divisions (+ sqrt) make BOTH
          // engines compute bit-identical doubles (integer inputs whose
          // squares sum within 2⁶³ — the oracle spells the same
          // formula). The nullif'd denominator serves the ANSI edges:
          // var_samp of a 1-value group = NULL, var_pop = 0.0, empty
          // (all-NULL) groups = NULL. `stddev` = stddev_samp,
          // `variance` = var_samp (both engines' aliases).
          val fn0 = next().toLowerCase
          val fn = fn0 match {
            case "stddev" => "stddev_samp"
            case "variance" => "var_samp"
            case f => f
          }
          kw("(")
          val e = exprTree(); kw(")")
          val n = EAgg("count", e)
          val sx = EAgg("sum", e)
          val sxx = EAgg("sum", EArith(e, "*", e))
          val num = ECast(EArith(EArith(n, "*", sxx), "-",
            EArith(sx, "*", sx)), "double")
          val den2 =
            if (fn.endsWith("_samp")) EArith(n, "-", ELit(1L)) else n
          val varE = EArith(EArith(num, "/", n), "/",
            EFunc("nullif", Seq(den2, ELit(0L))))
          val out = if (fn.startsWith("stddev")) EFunc("sqrt", Seq(varE))
                    else varE
          items += ExprItem(out, aliasAfterAs(s"$fn0(…)"))
        }
        else if (Seq("corr", "covar_pop", "covar_samp", "regr_slope",
                     "regr_intercept", "regr_r2", "regr_count",
                     "regr_avgx", "regr_avgy").exists(is) &&
                 peekAt(1) == "(") {
          // bivariate statistics tier (round 15) — the ANSI two-argument
          // aggregates, DESUGARED like var/stddev to exact-sum arithmetic
          // over ONE aggregation pass (the engines' native streaming
          // accumulators round differently in the last ULP and can never
          // hash-match). ANSI considers only rows where BOTH inputs are
          // non-null; the pair gate `a + (b − b)` nulls a wherever b is
          // NULL with no CASE predicate, so every Σ below is pair-scoped.
          // regr_* take (y, x) — dependent first — per the standard.
          val fn = next().toLowerCase
          kw("(")
          val e1 = exprTree(); kw(",")
          val e2 = exprTree(); kw(")")
          val py = EArith(e1, "+", EArith(e2, "-", e2))
          val px = EArith(e2, "+", EArith(e1, "-", e1))
          val n = EAgg("count", px)
          val sx = EAgg("sum", px); val sy = EAgg("sum", py)
          val sxy = EAgg("sum", EArith(e1, "*", e2))
          // n·Σxy − Σx·Σy (the covariance numerator, ×n²) and the two
          // variance numerators — exact when inputs are integer-valued
          // and squares sum within the exact double range, like var/stddev
          val cnum = ECast(EArith(EArith(n, "*", sxy), "-",
            EArith(sx, "*", sy)), "double")
          def varNum(s: EAgg, p: Expr) = ECast(EArith(
            EArith(n, "*", EAgg("sum", EArith(p, "*", p))), "-",
            EArith(s, "*", s)), "double")
          val vx = varNum(sx, px); val vy = varNum(sy, py)
          val out = fn match {
            case "covar_pop" =>
              EArith(EArith(cnum, "/", n), "/",
                EFunc("nullif", Seq(n, ELit(0L))))
            case "covar_samp" =>
              EArith(EArith(cnum, "/", n), "/",
                EFunc("nullif", Seq(EArith(n, "-", ELit(1L)), ELit(0L))))
            case "corr" =>
              EArith(cnum, "/", EFunc("nullif",
                Seq(EFunc("sqrt", Seq(EArith(vx, "*", vy))), ELit(0.0))))
            case "regr_count" => n
            case "regr_avgx" =>
              EArith(ECast(sx, "double"), "/",
                EFunc("nullif", Seq(n, ELit(0L))))
            case "regr_avgy" =>
              EArith(ECast(sy, "double"), "/",
                EFunc("nullif", Seq(n, ELit(0L))))
            case "regr_slope" =>
              EArith(cnum, "/", EFunc("nullif", Seq(vx, ELit(0.0))))
            case "regr_intercept" =>
              // (Σy − slope·Σx) / n, evaluated in doubles in this shape
              EArith(EArith(ECast(sy, "double"), "-",
                EArith(EArith(cnum, "/",
                  EFunc("nullif", Seq(vx, ELit(0.0)))), "*",
                  ECast(sx, "double"))), "/",
                EFunc("nullif", Seq(n, ELit(0L))))
            case "regr_r2" =>
              // ANSI edges: var(x)=0 → NULL (nullif'd denominator);
              // var(x)≠0 ∧ var(y)=0 → 1; else corr² — the CASE condition
              // reads aggregates, the round-15 aggNodes extension
              ECase(Seq((And(Seq(Not(Cmp(vx, "=", ELit(0.0))),
                Cmp(vy, "=", ELit(0.0)))), ELit(1.0))),
                Some(EArith(EArith(cnum, "*", cnum), "/",
                  EFunc("nullif", Seq(EArith(vx, "*", vy), ELit(0.0))))))
          }
          items += ExprItem(out, aliasAfterAs(s"$fn(…)"))
        }
        else if (Seq("skewness", "kurtosis", "kurtosis_pop").exists(is) &&
                 peekAt(1) == "(") {
          // higher-moment tier (round-15): skewness = DuckDB's
          // sample-adjusted G1, kurtosis = sample-adjusted EXCESS G2,
          // kurtosis_pop = population excess g2 (all verified against
          // the native aggregates to 1e-14). Power sums are exact
          // 64-bit longs, CAST TO DOUBLE BEFORE combining (cubes of
          // sums overflow 64 bits at scale), and every combining op is
          // IEEE correctly rounded — ×, /, sqrt; pow is AVOIDED
          // (m^1.5 spells m·sqrt(m)) because pow is not correctly
          // rounded — so identical sums give identical bits on both
          // engines. Degenerate denominators (zero variance, n too
          // small) nullif to NULL.
          val fn = next().toLowerCase
          kw("(")
          val e = exprTree(); kw(")")
          def d(x: Expr) = ECast(x, "double")
          def mul(x: Expr, y: Expr) = EArith(x, "*", y)
          def sub(x: Expr, y: Expr) = EArith(x, "-", y)
          def div(x: Expr, y: Expr) =
            EArith(x, "/", EFunc("nullif", Seq(y, ELit(0.0))))
          val nd = d(EAgg("count", e))
          val s1 = d(EAgg("sum", e))
          val s2 = d(EAgg("sum", mul(e, e)))
          val m2n = sub(mul(nd, s2), mul(s1, s1))
          val out = fn match {
            case "skewness" =>
              val s3 = d(EAgg("sum", mul(mul(e, e), e)))
              val num3 = EArith(sub(mul(mul(nd, nd), s3),
                mul(ELit(3.0), mul(nd, mul(s1, s2)))), "+",
                mul(ELit(2.0), mul(s1, mul(s1, s1))))
              // G1 = num3/(m2n·√m2n) · √(n(n−1)) / (n−2)
              div(mul(div(num3, mul(m2n, EFunc("sqrt", Seq(m2n)))),
                EFunc("sqrt", Seq(mul(nd, sub(nd, ELit(1.0)))))),
                sub(nd, ELit(2.0)))
            case _ =>
              val s3 = d(EAgg("sum", mul(mul(e, e), e)))
              val s4 = d(EAgg("sum", mul(mul(e, e), mul(e, e))))
              val num4 = EArith(EArith(sub(
                mul(mul(nd, mul(nd, nd)), s4),
                mul(ELit(4.0), mul(mul(nd, nd), mul(s1, s3)))), "+",
                mul(ELit(6.0), mul(nd, mul(mul(s1, s1), s2)))), "-",
                mul(ELit(3.0), mul(mul(s1, s1), mul(s1, s1))))
              val g2 = sub(div(num4, mul(m2n, m2n)), ELit(3.0))
              if (fn == "kurtosis_pop") g2
              // G2 = ((n+1)·g2 + 6)·(n−1) / ((n−2)(n−3))
              else div(mul(EArith(mul(EArith(nd, "+", ELit(1.0)), g2),
                "+", ELit(6.0)), sub(nd, ELit(1.0))),
                mul(sub(nd, ELit(2.0)), sub(nd, ELit(3.0))))
          }
          items += ExprItem(out, aliasAfterAs(s"$fn(…)"))
        }
        else if ((is("bool_and") || is("bool_or")) && peekAt(1) == "(") {
          // bool_and / bool_or (round-15): ANSI EVERY/ANY over a
          // predicate. UNKNOWN rows are IGNORED (ANSI — not coerced to
          // false): the inner CASE maps true→1 / false→0 / unknown→NULL,
          // min/max skips the NULLs, and the outer aggregate-threshold
          // CASE maps back to BOOLEAN (empty or all-unknown group →
          // NULL, both engines). Pure parse-level desugar — one
          // aggregation pass, no new lowering.
          val fn = next().toLowerCase; kw("(")
          val p = predExpr(); kw(")")
          val g = ECase(Seq((p, ELit(1L)), (Not(p), ELit(0L))), None)
          val m = EAgg(if (fn == "bool_and") "min" else "max", g)
          val out = ECase(Seq(
            (Cmp(m, "=", ELit(1L)), ELit(true)),
            (Cmp(m, "=", ELit(0L)), ELit(false))), None)
          items += ExprItem(out, aliasAfterAs(s"$fn(…)"))
        }
        else if ((is("bit_and") || is("bit_or") || is("bit_xor")) &&
                 peekAt(1) == "(") {
          // bit_and / bit_or / bit_xor (round-16): bitwise aggregates
          // over integer columns — native partial-agg'd aggregates on
          // both engines, exact by construction (bit ops are
          // order-free); NULL rows skip, empty group → NULL
          val fn = next().toLowerCase; kw("(")
          val e = exprTree(); kw(")")
          items += AggExprItem(fn, e, aliasAfterAs(s"$fn(…)"))
        }
        else if (is("mode") && peekAt(1) == "(") {
          // mode (round-16): the most frequent value, DETERMINISTIC —
          // ties break toward the SMALLEST value (native mode is
          // arbitrary on ties in both engines, so the dialect pins the
          // tiebreak and the oracle spells the count-desc/value-asc
          // rank). Lowered as a sorted-collect run-length fold (the
          // string_agg memory profile); NULLs skip, empty → NULL.
          next(); kw("(")
          val e = exprTree(); kw(")")
          items += AggExprItem("mode", e, aliasAfterAs("mode(…)"))
        }
        else if (Seq("sum", "avg", "min", "max", "median").exists(is)) {
          val fn = next().toLowerCase; kw("(")
          // `sum(distinct <expr>)` (round-12): distinct-value sum.
          // `avg(distinct <expr>)` (round-13): no codegen'd Spark Column
          // exists, so it lowers as sum_distinct / count_distinct — both
          // ride the SAME distinct-expand aggregation pass (one shuffle),
          // cast to double so the division matches DuckDB's avg(DISTINCT)
          // exactly. min/max are unaffected by DISTINCT — rejected toward
          // the plain spelling.
          val dist = is("distinct") && { next(); true }
          require(!dist || fn == "sum" || fn == "avg",
            "DISTINCT applies to sum, avg and count aggregates only")
          val e = exprTree(); kw(")")
          if (dist && fn == "avg") {
            items += ExprItem(
              EArith(ECast(EAgg("sum_distinct", e), "double"), "/",
                EAgg("count_distinct", e)),
              aliasAfterAs("avg(distinct …)"))
          }
          else if (dist) {
            items += AggExprItem("sum_distinct", e, aliasAfterAs("sum(distinct …)"))
          }
          // `<agg>(…) filter ( where <pred> )` (round-12): ANSI FILTER —
          // a CASE-gated aggregate over the matching rows only
          else if (is("filter")) {
            next(); kw("("); kw("where")
            val p = predExpr(); kw(")")
            items += AggExprItem(fn, ECase(Seq((p, e)), None),
              aliasAfterAs(s"$fn(…) filter (…)"))
          }
          // an arithmetic continuation makes the whole item an expression
          // OVER aggregates — `sum(a) / sum(b) as r`, the ratio idiom
          else items += (if (arithOps.exists(is)) {
            require(fn != "median",
              "median(…) cannot continue into an expression — project " +
                "it `as <alias>` and compute over it through a CTE")
            ExprItem(exprTreeFrom(EAgg(fn, e)),
              aliasAfterAs(s"$fn(<expression>) <op> …"))
          } else e match {
            // plain-column forms: window call when OVER follows, the
            // call under its auto-alias (sum_x) otherwise
            case ECol(r) if is("over") => windowSpec(fn, Some(r))
            case ECol(r) if !is("as") => AggExprItem(fn, e, autoAlias(fn, r.column))
            // aggregate over a computed expression — the revenue idiom
            // sum(l_extendedprice * (1 - l_discount)); AS names the output
            case _ => AggExprItem(fn, e, aliasAfterAs(s"$fn(<expression>)"))
          })
        }
        else if (is("coalesce") && coalesce2Shape()) {
          // the 2-arg projection form `coalesce(t.a, v)` names its output
          // `coalesce_a` (the FULL-JOIN key merge `coalesce(a.k, b.k)`);
          // anything richer — 3+ args, nested calls, arithmetic
          // continuation, an AS alias — parses through the expression
          // grammar's n-ary coalesce below
          next(); kw("(")
          val r = colRef(); kw(",")
          // second arg: a column ref (identifier-headed table.column) or
          // a literal; dotted numerics like 1.5 are literals, and bare
          // null gets its own rejection
          require(!is("null"),
            "coalesce(…, null) is a no-op — use a typed literal or column default")
          val d = if (peekIsColRef) ECol(colRef()) else ELit(literal())
          kw(")")
          items += ExprItem(EFunc("coalesce", Seq(ECol(r), d)),
            autoAlias("coalesce", r.column))
        }
        else if (peek == "(" && peekAt(1).equalsIgnoreCase("select")) {
          // scalar subquery in the projection list (round-11) — the
          // value-attaching twin of the WHERE-side compare form
          next(); kw("select")
          val sub = selectRest()
          kw(")")
          items += ScalarSubItem(sub, aliasAfterAs("( select … )"))
        }
        else if (is("exists") && peekAt(1) == "(") {
          // EXISTS as a projected boolean flag (round-13)
          next(); kw("("); kw("select")
          val sub = selectRest()
          kw(")")
          items += ExistsItem(sub, aliasAfterAs("exists ( … )"))
        }
        else {
          // plain field, or a scalar expression (arithmetic / CASE /
          // function calls / a re-aliased column) — anything computed
          // must be AS-named
          val e = exprTree()
          items += ((e, is("as")) match {
            case (ECol(r), false) => Field(r)
            case (_, true) => ExprItem(e, aliasAfterAs("expression"))
            case _ => throw new IllegalArgumentException(
              "a computed projection needs `as <alias>` to name its output " +
                "(only a bare t.col projects unnamed)")
          })
        }
        if (is(",")) next() else more = false
      }
      kw("from")
      // `from <table> [<alias>]` / `join <table> [<alias>] on …`
      // (round-12 growth — self-joins): a bare identifier right after a
      // table name (not a clause keyword) aliases it for the statement;
      // the AST carries the alias as the table NAME plus an
      // (alias → real) entry, resolved by the executor.
      val aliasList = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val aliasStop = Set("sample", "inner", "left", "right", "full", "cross",
        "lateral", "join", "asof", "where", "group", "having", "qualify",
        "window", "order", "limit", "offset", "union", "intersect", "except",
        "on", "using", ")", ",", "")
      def maybeAliased(t: String): String =
        if (!aliasStop.contains(peek.toLowerCase) &&
            peek.matches("[A-Za-z_][A-Za-z0-9_]*")) {
          val a = next()
          require(!a.startsWith("graft_"),
            s"table alias $a collides with reserved internal names")
          aliasList += a -> t
          a
        } else t
      // `from ( select … ) d` — a DERIVED TABLE (round-12): the body
      // binds under the required name, statement-wide like a CTE
      val derivedList = scala.collection.mutable.ArrayBuffer.empty[(String, Stmt)]
      def sourceName(what: String): String = {
        if (is("as")) next() // optional AS
        val nm = next()
        require(nm.matches("[A-Za-z_][A-Za-z0-9_]*") &&
          !nm.startsWith("graft_") && !aliasStop.contains(nm.toLowerCase),
          s"$what needs a name — got $nm")
        nm
      }
      def fromSource(): String =
        if (is("(") && peekAt(1).equalsIgnoreCase("values")) {
          // `( values (…), (…) ) [as] t(a, b)` (round-13) — an inline
          // table; the column list is REQUIRED (deterministic output
          // names on both engines)
          next(); next()
          val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
          var m = true
          while (m) {
            kw("(")
            def cell(): Any = if (is("null")) { next(); null } else literal()
            val row = scala.collection.mutable.ArrayBuffer[Any](cell())
            while (is(",")) { next(); row += cell() }
            kw(")")
            rows += row.toSeq
            if (is(",")) next() else m = false
          }
          kw(")")
          val nm = sourceName("an inline VALUES table")
          kw("(")
          def colName(): String = {
            val c = next()
            require(c.matches("[A-Za-z_][A-Za-z0-9_]*") &&
              !c.startsWith("graft_"),
              s"bad VALUES column name: $c")
            c
          }
          val cols = scala.collection.mutable.ArrayBuffer(colName())
          while (is(",")) { next(); cols += colName() }
          kw(")")
          derivedList += nm -> InlineValues(cols.toSeq, rows.toSeq)
          nm
        } else if (is("(")) {
          next(); kw("select")
          val body = selectOrUnion()
          kw(")")
          val nm = sourceName("a derived table (from ( select … ) <name>)")
          derivedList += nm -> body
          nm
        } else if (is("generate_series") && peekAt(1) == "(") {
          // `from generate_series(start, stop [, step]) g(i)` (round-15)
          // — rides the derived-table machinery: the name binds a 1-row
          // explode(sequence(…)) frame statement-wide
          next(); next()
          val start = exprTree()
          kw(","); val stop = exprTree()
          val step = if (is(",")) { next(); Some(exprTree()) } else None
          kw(")")
          val nm = sourceName("a generate_series source")
          kw("(")
          val c = next()
          require(c.matches("[A-Za-z_][A-Za-z0-9_]*") &&
            !c.startsWith("graft_"),
            s"bad generate_series column name: $c")
          kw(")")
          (start +: stop +: step.toSeq).foreach(e =>
            require(exprRefs(e).isEmpty,
              "generate_series bounds are literal expressions — no " +
                "column references (the source precedes any row)"))
          derivedList += nm -> GenSeries(c, start, stop, step)
          nm
        } else maybeAliased(next())
      val table = fromSource()
      // `sample N permille by t.id` rides directly after the base table
      // (TABLESAMPLE position) and desugars to a WHERE conjunct
      val sample = if (is("sample")) {
        next()
        val n = next()
        require(n.matches("[0-9]+") && n.toInt <= 1000,
          s"sample expects a permille in 0..1000, got $n")
        kw("permille"); kw("by")
        Some(SampleBucket(colRef(), n.toInt))
      } else None
      // ANSI-89 comma joins (round-13): `from customer, orders, lineitem
      // where …` — each source takes the same alias/derived grammar.
      // `cross join` (round-13) is the explicit spelling of the same
      // source list: both build as CROSS sources whose WHERE equality
      // conjuncts Catalyst folds into hash joins, and both answer to the
      // executor's cartesian scale guard. CROSS sources bind at the head
      // of the FROM list (before any ON-join clause — the parser rejects
      // a cross join SPELLED after one, where ANSI's left-associative
      // reading could differ from the head-of-list build).
      val fromList = scala.collection.mutable.ArrayBuffer.empty[String]
      val lateralList =
        scala.collection.mutable.ArrayBuffer.empty[(String, Select, Boolean)]
      val unnestList =
        scala.collection.mutable.ArrayBuffer.empty[(String, String, Expr)]
      while (is(",") || (is("cross") && peekAt(1).equalsIgnoreCase("join"))) {
        if (is(",")) next() else { next(); next() }
        // `, lateral ( select <aggs> … where u.k = t.k ) x` (round-13):
        // a correlated per-outer-row aggregation source — see
        // [[Select.laterals]] for the decorrelated lowering
        if (is("lateral")) {
          next(); kw("("); kw("select")
          val body = selectRest()
          kw(")")
          lateralList += ((sourceName("a LATERAL subquery"), body, false))
        } else if (is("unnest") && peekAt(1) == "(") {
          // `, unnest(<list expr>) as u(x)` (round-15): a correlated
          // list explosion — an UNNEST over the preceding row IS a
          // lateral; see [[Select.unnests]]
          next(); next()
          val e = exprTree()
          kw(")")
          val nm = sourceName("an UNNEST source")
          kw("(")
          val c = next()
          require(c.matches("[A-Za-z_][A-Za-z0-9_]*") &&
            !c.startsWith("graft_"),
            s"bad UNNEST column name: $c")
          kw(")")
          unnestList += ((nm, c, e))
        } else fromList += fromSource()
      }
      val joins = scala.collection.mutable.ArrayBuffer.empty[JoinClause]
      while (is("inner") || is("left") || is("right") || is("full") ||
             is("join") ||
             (is("asof") && (peekAt(1).equalsIgnoreCase("join") ||
               peekAt(1).equalsIgnoreCase("left")))) {
        // `asof [left] join u on t.k = u.k and u.ts <= t.ts` (round-15
        // — DuckDB's ASOF JOIN): attach the latest (<=) / earliest (>=)
        // fresh-side row per key; LEFT keeps unmatched rows
        // NULL-extended, the bare form drops them (DuckDB semantics).
        // The ON clause is EXACTLY one equality + one inclusive time
        // inequality — the inequality's direction picks backward vs
        // forward.
        if (is("asof")) {
          next()
          val kind = if (is("left")) { next(); "asof_left" } else "asof"
          kw("join")
          val t = fromSource(); kw("on")
          val l = colRef(); kw("="); val r = colRef()
          kw("and")
          val lt = colRef()
          val op = next() match {
            case o @ ("<=" | ">=") => o
            case o @ ("<" | ">") => throw new IllegalArgumentException(
              s"ASOF JOIN takes an INCLUSIVE time bound (<= or >=), " +
                s"got $o")
            case o => throw new IllegalArgumentException(
              s"ASOF JOIN's second ON conjunct is the time inequality " +
                s"(u.ts <= t.ts), got operator $o")
          }
          val rt = colRef()
          require(lt.table.nonEmpty && rt.table.nonEmpty &&
            (lt.table == t) != (rt.table == t),
            "the ASOF time inequality compares the joined table's time " +
              "against the accumulated side's")
          joins += JoinClause(t, l, r, kind, Seq((lt, op, rt)))
        } else {
        // bare `join` = `inner join`, the common SQL spelling
        val kind =
          if (is("join")) "inner"
          else {
            val k = next().toLowerCase(java.util.Locale.ROOT)
            if (k != "inner" && is("outer")) next() // LEFT|RIGHT|FULL OUTER
            k
          }
        kw("join")
        // `[left|inner] join lateral ( select … ) x on true` (round-14):
        // the EXPLICIT-join lateral — LEFT keeps unmatched outer rows
        // NULL-extended (the row-returning keep-miss variant);
        // correlation lives inside the body, so the ON clause is the
        // ANSI-mandated constant TRUE
        if (is("lateral")) {
          require(kind == "inner" || kind == "left",
            s"$kind JOIN LATERAL is not supported — LATERAL joins are " +
              "INNER (drop on empty) or LEFT (NULL-extend on empty)")
          next(); kw("("); kw("select")
          val body = selectRest()
          kw(")")
          val nm = sourceName("a LATERAL subquery")
          kw("on"); kw("true")
          lateralList += ((nm, body, kind == "left"))
        } else {
        val t = fromSource()
        if (is("using")) {
          // `join u using (k [, k2 …])` (round-15 — ANSI USING): each
          // key equates the SAME-NAMED column on both sides. The left
          // side resolves against the CUMULATIVE left frame at LOWERING
          // (round-16 — ANSI/DuckDB semantics; the parser holds no
          // schemas, so the ColRef's table field is only the base-table
          // guess and the `using` flag tells lowering to verify the name
          // is unambiguous there, rejecting toward ON when it is not).
          // Output keeps both qualified columns like the ON form; inner
          // joins make them equal.
          next(); kw("(")
          val ks = scala.collection.mutable.ArrayBuffer(next())
          while (is(",")) { next(); ks += next() }
          kw(")")
          ks.foreach(k => require(k.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"USING takes bare column names, got $k"))
          joins += JoinClause(t, ColRef(table, ks.head),
            ColRef(t, ks.head), kind,
            ks.tail.toSeq.map(k =>
              (ColRef(table, k), "=", ColRef(t, k): Any)),
            using = true)
        } else {
        kw("on")
        // the FIRST conjunct is the hash-join equality key
        val l = colRef(); kw("="); val r = colRef()
        // `on a = b and c <op> d` — the AND binds to the ON clause;
        // WHERE needs its keyword, so no ambiguity. Extras take the
        // comparison tier (round-13): = stays the composite-key form,
        // <> < > <= >= ride the join condition as post-filters on the
        // hash match, and the right-hand side may be a LITERAL (`and
        // o.status = 'F'`) — ON-clause placement, which for OUTER joins
        // is semantically distinct from WHERE (see [[JoinClause]]).
        val extras = scala.collection.mutable.ArrayBuffer
          .empty[(ColRef, String, Any)]
        while (is("and")) {
          next()
          val l2 = colRef()
          val op = next() match {
            case o @ ("=" | "<>" | "<" | ">" | "<=" | ">=") => o
            case o => throw new IllegalArgumentException(
              s"unsupported ON-clause operator: $o (= <> < > <= >=)")
          }
          val rhs: Any = if (peekIsColRef) colRef() else literal()
          extras += ((l2, op, rhs))
        }
        joins += JoinClause(t, l, r, kind, extras.toSeq)
        }
        }
        }
      }
      // a CROSS JOIN spelled after an ON-join would need ANSI's strict
      // left-associative build; the head-of-list form is equivalent for
      // inner/left joins and unambiguous — reject toward it
      require(!is("cross"),
        "CROSS JOIN sources bind like ANSI-89 comma sources — list them " +
          "right after FROM (from a cross join b join t on …)")
      // a FULL join's unmatched null-extended rows appear ONCE per ANSI
      // association but |cross side| times under the head-of-list build —
      // the combination is ambiguous, reject it
      // … and a RIGHT join's unmatched right rows are the same trap:
      // ANSI associates a, (b RIGHT JOIN c) but the head-of-list build
      // would plan (a × b) RIGHT JOIN c — unmatched c rows appear once
      // with NULL a-columns instead of |a| copies (r13 advice)
      require(fromList.isEmpty ||
        joins.forall(j => j.kind != "full" && j.kind != "right"),
        "comma/CROSS JOIN sources cannot mix with FULL or RIGHT JOIN " +
          "in one FROM (the unmatched-row multiplicity is " +
          "association-dependent) — stage the outer join through a CTE")
      val wheres = sample.toSeq ++ (if (is("where")) { next(); preds() } else Nil)
      var groupMode = ""
      var groupSets: Seq[Seq[ColRef]] = Nil
      // `t.col`, a BARE identifier addressing a computed projection's
      // alias (round-10: `select year(t.d) as y … group by y`), or the
      // EXPRESSION itself repeated (round-11: `group by year(t.d)` —
      // the other spelling DuckDB accepts): an expression key matches
      // a projected ExprItem STRUCTURALLY and rewrites to its alias,
      // so both spellings lower to the same scan-side computed key.
      def groupKey(): ColRef =
        if ((exprFuncs.contains(peek.toLowerCase) && peekAt(1) == "(") ||
            ((is("cast") || is("try_cast")) && peekAt(1) == "(") || is("case")) {
          val e = exprTree()
          items.collectFirst {
            case ExprItem(e2, a) if e2 == e => ColRef("", a)
          }.getOrElse {
            // BARE spelling (round-12 — r11 missing #4): `group by
            // year(t.d)` with no projected alias auto-projects under a
            // RESERVED alias; the executor computes it scan-side like
            // any computed key and strips graft_gk columns from the
            // output after aggregation — both spellings, one plan.
            val a = s"graft_gk${items.length}"
            items += ExprItem(e, a)
            ColRef("", a)
          }
        }
        // `group by 1` (round-13) — ordinal keys resolve against the
        // select list at parse (items are in hand); only plain fields
        // and computed projections are groupable
        else if (peek.matches("[0-9]+")) {
          val n = next().toInt
          require(n >= 1 && n <= items.length,
            s"GROUP BY ordinal $n out of range 1..${items.length}")
          items(n - 1) match {
            case Field(r) => r
            case ExprItem(_, a) => ColRef("", a)
            case other => throw new IllegalArgumentException(
              s"GROUP BY ordinal $n addresses a non-groupable select " +
                s"item ($other) — ordinals bind to plain or computed " +
                "projections")
          }
        }
        else if (peek.contains('.')) colRef() else ColRef("", next())
      val groupBy = if (is("group")) {
        next(); kw("by")
        // `group by all` (round-13, the DuckDB form): every
        // NON-AGGREGATE select item is a key — plain fields by name,
        // computed projections by alias; expression items containing
        // aggregates (the ratio idiom) are outputs, not keys. Star
        // rejects (its columns are unknown until execution).
        if (is("all") && !peekAt(1).startsWith("(")) {
          next()
          require(!items.contains(Star),
            "GROUP BY ALL needs explicit projections (select * columns " +
              "are unknown until execution)")
          val ks = items.toSeq.collect {
            case Field(r) => r
            case ExprItem(e, a) if aggNodes(e).isEmpty => ColRef("", a)
          }
          require(ks.nonEmpty,
            "GROUP BY ALL found no non-aggregate select items to group by")
          ks
        }
        // `group by grouping sets ( (a, b), (a), () )` (round-13 — the
        // general subtotal form; rollup/cube below are its two special
        // cases). Each parenthesized set lists keys from the plain
        // grammar; `()` is the grand-total set. The statement's groupBy
        // becomes the DISTINCT UNION of all set keys.
        else if (is("grouping") && peekAt(1).equalsIgnoreCase("sets") &&
            peekAt(2) == "(") {
          next(); next(); kw("(")
          groupMode = "sets"
          val sets = scala.collection.mutable.ArrayBuffer.empty[Seq[ColRef]]
          var m = true
          while (m) {
            kw("(")
            val set = scala.collection.mutable.ArrayBuffer.empty[ColRef]
            if (!is(")")) {
              set += groupKey()
              while (is(",")) { next(); set += groupKey() }
            }
            kw(")")
            sets += set.toSeq
            if (is(",")) next() else m = false
          }
          kw(")")
          require(sets.map(_.map(_.column)).distinct.size == sets.size,
            "duplicate grouping sets — list each set once")
          groupSets = sets.toSeq
          groupSets.flatten.distinctBy(_.column)
        } else {
          // `group by rollup ( k1, k2, … )` / `cube ( … )` — subtotal
          // grouping (round-12); the parenthesized key list reuses the
          // plain grammar
          if ((is("rollup") || is("cube")) && peekAt(1) == "(") {
            groupMode = next().toLowerCase
            kw("(")
          }
          val gs = scala.collection.mutable.ArrayBuffer(groupKey())
          while (is(",")) { next(); gs += groupKey() }
          if (groupMode.nonEmpty) kw(")")
          gs.toSeq
        }
      } else Nil
      val having = if (is("having")) {
        next()
        val hs = scala.collection.mutable.ArrayBuffer.empty[HavingPred]
        var m = true
        while (m) {
          val (target, agg) = havingTarget()
          val op = next() match {
            case o @ ("=" | "<" | ">" | "<=" | ">=" | "<>") => o
            case o => throw new IllegalArgumentException(s"unsupported having op: $o")
          }
          hs += HavingPred(target, op, havingValue(), agg)
          if (is("and")) next() else m = false
        }
        hs.toSeq
      } else Nil
      // WINDOW clause (round-13): `window w as ( partition by … order
      // by … [frame] ) [, w2 as ( … )]` — named reusable window specs;
      // every `over w` reference substitutes here (validations run per
      // use, because they are fn-dependent). A named spec nobody
      // references is legal (and harmless), like SQL.
      val windowSpecs = scala.collection.mutable.LinkedHashMap.empty[String, WSpec]
      if (is("window")) {
        next()
        var moreW = true
        while (moreW) {
          val nm = next()
          require(nm.matches("[A-Za-z_][A-Za-z0-9_]*") &&
            !nm.startsWith("graft_"), s"bad window name: $nm")
          require(!windowSpecs.contains(nm), s"duplicate window name: $nm")
          kw("as"); kw("(")
          windowSpecs += nm -> windowSpecBody()
          kw(")")
          if (is(",")) next() else moreW = false
        }
      }
      // QUALIFY (round-11): window-output conjuncts, HAVING's grammar
      // over the post-window frame; windows-required is checked at
      // lowering (where the item list is interpreted)
      val qualify = if (is("qualify")) {
        next()
        val qs = scala.collection.mutable.ArrayBuffer.empty[HavingPred]
        var m = true
        var qwi = 0
        while (m) {
          // INLINE window calls (round-13): `qualify row_number() over
          // (…) <= 3` without projecting the rank — the call joins the
          // item list under a RESERVED alias the executor drops right
          // after the QUALIFY filter runs; `over w` names compose (the
          // clause resolves below, after QUALIFY parses)
          val target: String =
            if (Seq("row_number", "rank", "dense_rank", "percent_rank",
                "cume_dist").exists(is) && peekAt(1) == "(") {
              val fn = next().toLowerCase; kw("("); kw(")")
              val w = windowSpec(fn, None)
              val nm = s"graft_qw$qwi"; qwi += 1
              items += w.copy(alias = Some(nm))
              nm
            } else if (is("ntile") && peekAt(1) == "(") {
              next(); kw("(")
              val t = next()
              require(t.matches("[0-9]+") && t.toInt > 0,
                s"ntile expects a positive bucket count, got $t")
              kw(")")
              val w = windowSpec("ntile", None, buckets = Some(t.toInt))
              val nm = s"graft_qw$qwi"; qwi += 1
              items += w.copy(alias = Some(nm))
              nm
            } else havingTarget()._1
          val op = next() match {
            case o @ ("=" | "<" | ">" | "<=" | ">=" | "<>") => o
            case o => throw new IllegalArgumentException(s"unsupported qualify op: $o")
          }
          qs += HavingPred(target, op, havingValue())
          if (is("and")) next() else m = false
        }
        qs.toSeq
      } else Nil
      // named-window resolution (round-13) — AFTER QUALIFY, so inline
      // qualify calls may reference WINDOW-clause names too
      if (windowSpecs.nonEmpty) items.mapInPlace {
        case w: WinCall if w.namedRef.isDefined =>
          val spec = windowSpecs.getOrElse(w.namedRef.get,
            throw new IllegalArgumentException(
              s"unknown window name ${w.namedRef.get} — declare it in " +
                "the WINDOW clause"))
          mkWinCall(w.fn, w.arg, w.buckets, spec, w.alias, w.default,
            w.tiebreak, w.ignoreNulls)
        case it => it
      }
      items.foreach {
        case w: WinCall if w.namedRef.isDefined =>
          throw new IllegalArgumentException(
            s"window name ${w.namedRef.get} is not declared — add " +
              s"`window ${w.namedRef.get} as ( … )` after HAVING")
        case _ => ()
      }
      val orderBy = if (is("order")) {
        next(); kw("by")
        val obs = scala.collection.mutable.ArrayBuffer.empty[(Expr, Boolean, Option[Boolean])]
        // `order by all [desc]` (round-13, the DuckDB form): sort by
        // every output column left-to-right — expands here to the
        // items' output names (auto-aliases included), one direction
        // for the lot. Star selects reject (their columns are unknown
        // until execution — spell the projection out).
        if (is("all") && { val t = peekAt(1).toLowerCase
          t == "" || t == "desc" || t == "asc" || t == "limit" ||
            t == "offset" }) {
          next()
          val desc = if (is("desc")) { next(); true }
                     else { if (is("asc")) next(); false }
          require(!items.contains(Star),
            "ORDER BY ALL needs explicit projections (select * columns " +
              "are unknown until execution)")
          // reserved internal items (inline-QUALIFY graft_qw* windows,
          // bare-expression graft_gk* keys) are dropped from the final
          // output — sorting by them would fail at execution (r13
          // advice), and they are not user-visible outputs anyway
          items.foreach { it =>
            outputNameOf(it).filterNot(_.startsWith("graft_")).foreach(n =>
              obs += ((ECol(ColRef("", n)), desc, None)))
          }
          require(obs.nonEmpty, "ORDER BY ALL found no sortable outputs")
          obs.toSeq
        } else {
        var m = true
        while (m) {
          // a sort key is a full scalar EXPRESSION over OUTPUT columns
          // (round-11 growth — `order by length(t.name) desc`, `order by
          // sum_x / cnt`); a bare `t.f` or alias identifier parses to
          // ECol and keeps the round-7 output-column addressing.
          // `desc`/`asc` are not operators, so exprTree stops before them.
          val e = exprTree()
          val desc =
            if (is("desc")) { next(); true }
            else { if (is("asc")) next(); false }
          // `nulls first | nulls last` (round-12) — explicit null
          // placement; omitted keeps the pinned engine-shared defaults
          val nf: Option[Boolean] =
            if (is("nulls")) {
              next()
              next().toLowerCase match {
                case "first" => Some(true)
                case "last" => Some(false)
                case t => throw new IllegalArgumentException(
                  s"expected first|last after NULLS, got $t")
              }
            } else None
          obs += ((e, desc, nf))
          if (is(",")) next() else m = false
        }
        obs.toSeq
        }
      } else Nil
      val limit = if (is("limit")) {
        next()
        val t = next()
        require(t.matches("[0-9]+"), s"limit expects a number, got $t")
        Some(t.toInt)
      } else None
      // `limit n with ties` (round-15): ANSI FETCH FIRST … WITH TIES —
      // rows tying with the n-th row's FULL sort-key tuple stay in. The
      // result is order-insensitive (ties all in or all out), so it
      // hash-compares deterministically where a bare LIMIT over tied
      // keys could not.
      val limitTies = limit.isDefined && is("with") && {
        next(); kw("ties")
        require(orderBy.nonEmpty,
          "LIMIT … WITH TIES needs ORDER BY — ties are defined by the " +
            "sort keys")
        true
      }
      // `[limit n] offset m` — skip m rows (meaningful under ORDER BY,
      // like any SQL OFFSET)
      val offset = if (is("offset")) {
        next()
        val t = next()
        require(t.matches("[0-9]+"), s"offset expects a number, got $t")
        Some(t.toInt)
      } else None
      // DISTINCT ON determinism contract (round-13): ORDER BY leads with
      // the ON keys (same spelling) and carries ≥1 tiebreaker — without
      // one, which row each group keeps would differ across runs,
      // partitionings, and engines
      if (distinctOn.nonEmpty) {
        require(orderBy.length > distinctOn.length,
          "DISTINCT ON requires ORDER BY <the on-keys>, <a tiebreaker> — " +
            "the tiebreaker pins WHICH row each key group keeps")
        val lead = orderBy.take(distinctOn.length)
        require(lead.zip(distinctOn).forall {
          case ((ECol(r), _, _), k) => r == k
          case _ => false
        }, "ORDER BY must lead with the DISTINCT ON keys, spelled the " +
          "same way (then at least one tiebreaker)")
        require(groupBy.isEmpty,
          "DISTINCT ON cannot mix with GROUP BY in one select — stage " +
            "through a CTE or derived table")
      }
      if (limitTies) require(offset.isEmpty,
        "LIMIT … WITH TIES does not compose with OFFSET — stage through " +
          "a derived table")
      Select(items.toSeq, table, joins.toSeq, wheres, groupBy, having, orderBy,
        limit, distinct, offset, qualify, aliasList.toSeq, derivedList.toSeq,
        groupMode, groupSets, fromList.toSeq, distinctOn, lateralList.toSeq,
        unnestList.toSeq, limitTies)
    }

    /** Scalar expression grammar (standard precedence, two levels):
      * expr := term (('+'|'-') term)*; term := factor (('*'|'/') factor)*;
      * factor := '(' expr ')' | CASE … END | colref | literal. Operators
      * are space-separated tokens (`*` also lexes standalone); a bare
      * column parses to ECol so callers can keep the round-7 plain-field
      * shapes when nothing was computed. */
    private def exprTree(): Expr = exprTreeFrom(exprFactor())
    /** Continue the expression grammar from an already-parsed first
      * factor — the entry point for select items whose leading aggregate
      * was consumed by selectRest's dedicated branches (`sum(x) / …`). */
    private def exprTreeFrom(first: Expr): Expr = {
      // `||` string concatenation binds loosest (ANSI: below + -); a
      // chain folds into one n-ary concat — null-propagating in both
      // engines (unlike DuckDB's null-skipping concat() function)
      var e = exprAddFrom(first)
      if (is("||")) {
        val parts = scala.collection.mutable.ArrayBuffer(e)
        while (is("||")) { next(); parts += exprAdd() }
        e = EFunc("concat", parts.toSeq)
      }
      e
    }
    private def exprAdd(): Expr = exprAddFrom(exprFactor())
    private def exprAddFrom(first: Expr): Expr = {
      var e = exprTermFrom(first)
      while (is("+") || is("-")) { val op = next(); e = EArith(e, op, exprTerm()) }
      e
    }
    private def exprTerm(): Expr = exprTermFrom(exprFactor())
    private def exprTermFrom(first: Expr): Expr = {
      var e = first
      // `%` binds like `* /` (C/SQL precedence); space-separated like
      // every dialect operator
      while (is("*") || is("/") || is("%")) {
        val op = next(); e = EArith(e, op, exprFactor())
      }
      e
    }
    private def peekAt(k: Int): String = if (p + k < toks.length) toks(p + k) else ""
    /** Lookahead only (consumes nothing): does the upcoming `coalesce(…)`
      * match the LEGACY 2-arg single-token-argument projection shape,
      * with no expression continuation after the ')'? */
    private def coalesce2Shape(): Boolean =
      peekAt(1) == "(" && peekAt(3) == "," && peekAt(5) == ")" &&
        !Set("as", "+", "-", "*", "/", "%", "||").contains(peekAt(6).toLowerCase)
    /** Lookahead only (consumes nothing): the token right AFTER the
      * matching ')' of a call whose '(' sits at offset 1 — "" at end of
      * input. Decides item-form vs expression-grammar dispatch for
      * aggregate heads (round-16): `array_agg(x) as a` is the item form,
      * `array_agg(x) / count(*) as a` and `len(array_agg(x)) as a`
      * continue through the expression grammar. */
    private def afterCallToken(): String = {
      var i = p + 2
      var depth = 1
      while (i < toks.length && depth > 0) {
        toks(i) match {
          case "(" => depth += 1
          case ")" => depth -= 1
          case _ =>
        }
        i += 1
      }
      if (i < toks.length) toks(i) else ""
    }
    private val exprFuncs = Set("upper", "lower", "length", "trim", "abs",
      "floor", "ceil", "substr", "year", "month", "day", "coalesce", "nullif",
      "concat", "round", "replace", "mod", "hour", "minute", "date_trunc",
      "regexp_replace", "regexp_extract", "split", "split_part",
      "date_add", "date_sub", "quarter", "week", "dayofyear",
      "instr", "lpad", "rpad", "contains", "starts_with", "ends_with",
      "datediff", "last_day", "sqrt", "greatest", "least",
      "ltrim", "rtrim", "reverse", "repeat", "left", "right",
      "strpos", "translate", "ascii", "md5", "sign", "power", "strftime",
      "strptime", "try_strptime", "extract", "concat_ws",
      "ln", "exp", "log2", "log10",
      "len", "list_contains", "array_to_string",
      "levenshtein", "list_has_any", "list_has_all", "list_intersect",
      "make_date", "date_part", "epoch", "epoch_ms", "timestamp_millis",
      "list_sort", "list_reverse", "list_distinct", "list_concat",
      "list_extract", "array_slice", "flatten", "list_position",
      "list_min", "list_max", "list_sum", "list_unique")
    private val arithOps = Seq("+", "-", "*", "/", "%", "||")
    private def exprFactor(): Expr =
      if (is("(")) { next(); val e = exprTree(); kw(")"); e }
      else if ((is("cast") || is("try_cast")) && peekAt(1) == "(") {
        // try_cast (round-15): DuckDB/Spark TRY_CAST — NULL on a failed
        // conversion where plain CAST raises under both engines' ANSI
        // defaults; same target-type grammar
        val tryMode = is("try_cast")
        next(); kw("(")
        val e = exprTree()
        kw("as")
        val ty = next().toLowerCase match {
          case "bigint" => "long"
          case "varchar" => "string"
          // decimal(p, s) — the precision/scale lex as separate tokens
          case "decimal" if is("(") =>
            next()
            val p0 = next(); kw(",")
            val s0 = next(); kw(")")
            require(p0.matches("[0-9]+") && s0.matches("[0-9]+"),
              s"decimal takes integer precision and scale, got ($p0, $s0)")
            s"decimal($p0,$s0)"
          case t => t
        }
        kw(")")
        ECast(e, if (tryMode) s"try $ty" else ty)
      }
      else if ((is("list_transform") || is("list_filter")) &&
               peekAt(1) == "(") {
        // list lambdas (round-15 — DuckDB's list_transform/list_filter,
        // Spark's transform/filter HOFs): `(l, x -> <body>)`. Bodies run
        // scan-side inside whole-stage codegen — per-element work never
        // explodes rows. transform bodies are scalar expressions;
        // filter bodies are WHERE-grammar predicates, encoded as a
        // boolean CASE so the AST stays expression-shaped.
        val fn = next().toLowerCase
        kw("(")
        val l = exprTree(); kw(",")
        val v = next()
        require(v.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"lambda variable must be an identifier, got $v")
        require(!v.startsWith("graft_"),
          s"lambda variable $v collides with reserved internal names")
        if (is("->")) next() else { kw("-"); kw(">") }
        lambdaVars = v :: lambdaVars
        val body: Expr =
          try {
            if (fn == "list_transform") exprTree()
            else ECase(Seq((predExpr(), ELit(true))), Some(ELit(false)))
          } finally lambdaVars = lambdaVars.tail
        kw(")")
        EFunc(s"$fn:$v", Seq(l, body))
      }
      else if (is("substring") && peekAt(1) == "(") {
        // ANSI `substring(s from i [for n])` (round-15) — sugar over the
        // 1-based substr the dialect already lowers; the comma spelling
        // rides too (both engines accept both)
        next(); kw("(")
        val s0 = exprTree()
        val (i0, n0) =
          if (is("from")) { next(); val i = exprTree()
            val n = if (is("for")) { next(); Some(exprTree()) } else None
            (i, n) }
          else { kw(","); val i = exprTree()
            val n = if (is(",")) { next(); Some(exprTree()) } else None
            (i, n) }
        kw(")")
        EFunc("substr", Seq(s0, i0) ++ n0)
      }
      else if (is("position") && peekAt(1) == "(") {
        // ANSI `position(needle in haystack)` (round-15) → strpos(
        // haystack, needle): 1-based, 0 when absent, both engines
        next(); kw("(")
        val needle = exprTree(); kw("in")
        val hay = exprTree(); kw(")")
        EFunc("strpos", Seq(hay, needle))
      }
      else if (is("time_bucket") && peekAt(1) == "(") {
        // `time_bucket(interval '<n>' <unit>, ts)` (round-15): fixed-
        // width buckets ALIGNED AT THE UNIX EPOCH in exact 64-bit
        // millisecond arithmetic (epoch_ms − epoch_ms % width) — native
        // time_bucket origins differ per engine, so the alignment is
        // pinned and the oracle spells the same formula. The
        // down-sampling twin of date_trunc for widths the calendar
        // doesn't name (45 minutes, 30 days).
        next(); kw("(")
        kw("interval")
        val nTok = literal()
        val n = nTok match {
          case l: Long => l
          case s0: String if s0.matches("[0-9]+") => s0.toLong
          case other => throw new IllegalArgumentException(
            s"time_bucket's interval count must be an integer, got $other")
        }
        require(n >= 1, s"time_bucket width must be positive, got $n")
        val unitMs = next().toLowerCase.stripSuffix("s") match {
          case "second" => 1000L
          case "minute" => 60000L
          case "hour" => 3600000L
          case "day" => 86400000L
          case "week" => 604800000L
          case u => throw new IllegalArgumentException(
            s"time_bucket unit is second|minute|hour|day|week, got $u")
        }
        val w = ELit(n * unitMs)
        kw(",")
        val ts = exprTree(); kw(")")
        val ems = EFunc("epoch_ms", Seq(ts))
        // FLOOR-mod (round-16): `%` truncates toward zero in both
        // engines, so the bare `ems - ems % w` would round pre-epoch
        // (negative epoch_ms) instants UP to the boundary above — the
        // ((m % w + w) % w) form floors everywhere, keeping buckets
        // epoch-aligned on both sides of 1970 (the oracle spells the
        // same floor-mod)
        val m = EArith(EArith(EArith(ems, "%", w), "+", w), "%", w)
        EFunc("timestamp_millis", Seq(EArith(ems, "-", m)))
      }
      else if (is("date_diff") && peekAt(1) == "(") {
        // `date_diff('<part>', start, end)` (round-15 — DuckDB):
        // BOUNDARY-CROSSING counts, desugared to exact arithmetic the
        // engines share — day → datediff, year/month → date-part
        // algebra, hour/minute/second → floor'd epoch-bucket diffs
        // (exact 64-bit integers end to end). No 'week' (its Monday
        // boundary rule has no shared one-expression spelling).
        next(); kw("(")
        val part0 = literal()
        require(part0.isInstanceOf[String] &&
          Set("day", "month", "year", "hour", "minute", "second")
            .contains(part0.toString),
          s"date_diff takes 'day'|'month'|'year'|'hour'|'minute'|" +
            s"'second', got $part0")
        kw(",")
        val a0 = exprTree(); kw(",")
        val b0 = exprTree(); kw(")")
        def months(e: Expr) = EArith(
          EArith(EFunc("year", Seq(e)), "*", ELit(12L)), "+",
          EFunc("month", Seq(e)))
        part0.toString match {
          case "day" => EFunc("datediff", Seq(b0, a0))
          case "year" =>
            EArith(EFunc("year", Seq(b0)), "-", EFunc("year", Seq(a0)))
          case "month" => EArith(months(b0), "-", months(a0))
          case p =>
            val ms = Map("hour" -> 3600000L, "minute" -> 60000L,
              "second" -> 1000L)(p)
            def bucket(e: Expr) = ECast(EFunc("floor", Seq(EArith(
              EFunc("epoch_ms", Seq(e)), "/", ELit(ms)))), "long")
            EArith(bucket(b0), "-", bucket(a0))
        }
      }
      else if (is("date_part") && peekAt(1) == "(") {
        // `date_part('<part>', <expr>)` (round-14) — DuckDB's function
        // spelling of EXTRACT; desugars to the same date-part functions
        next(); kw("(")
        val part0 = literal()
        require(part0.isInstanceOf[String] &&
          Set("year", "month", "day", "hour", "minute", "quarter",
            "week", "dayofyear").contains(part0.toString),
          s"date_part takes 'year'|'month'|'day'|'hour'|'minute'|" +
            s"'quarter'|'week'|'dayofyear', got $part0")
        kw(",")
        val e = exprTree()
        kw(")")
        EFunc(part0.toString, Seq(e))
      }
      else if (is("extract") && peekAt(1) == "(") {
        // `extract ( <part> from <expr> )` (round-12; round-14 moved it
        // AHEAD of the generic function branch and added `extract` to
        // exprFuncs, so the sugar also heads WHERE predicates, GROUP BY
        // keys, and window keys) — ANSI sugar for the date-part
        // functions; parts limited to the engine-agreeing set
        // (dayofweek deliberately absent, like the function forms)
        next(); kw("(")
        val part = next().toLowerCase
        require(Set("year", "month", "day", "hour", "minute", "quarter",
          "week", "dayofyear").contains(part),
          s"extract takes year|month|day|hour|minute|quarter|week|" +
            s"dayofyear, got $part")
        kw("from")
        val e = exprTree()
        kw(")")
        EFunc(part, Seq(e))
      }
      else if (exprFuncs.contains(peek.toLowerCase) && peekAt(1) == "(") {
        // scalar function call — name must be immediately followed by '('
        // (a column named `trim` in `t.trim` stays a colref: dotted)
        val fn = next().toLowerCase
        kw("(")
        val args = scala.collection.mutable.ArrayBuffer(exprTree())
        while (is(",")) { next(); args += exprTree() }
        kw(")")
        EFunc(fn, args.toSeq)
      }
      else if (Seq("sum", "avg", "min", "max", "count", "array_agg", "list")
                 .exists(is) && peekAt(1) == "(") {
        // an aggregate call in factor position — `sum(a) / sum(b)`'s
        // right-hand side, `round(sum(x) / count(*), 2)`'s inner calls.
        // Valid only in aggregate projections (lowering enforces).
        // array_agg / list (round-15): VALUE-SORTED list aggregation
        // (deterministic under any partitioning; the DuckDB mirror is
        // `array_agg(x ORDER BY x) FILTER (WHERE x IS NOT NULL)` — NULL
        // elements skip, empty groups yield NULL); expression position
        // feeds list functions, `array_to_string(array_agg(x), ',')`.
        val fn = next().toLowerCase match {
          case "list" => "array_agg"
          case f => f
        }
        kw("(")
        val ag =
          if (fn == "array_agg") {
            // array_agg(DISTINCT x) in expression position (round-16):
            // the sorted value SET — `array_to_string(array_agg(
            // distinct s), ',')` is the common stringified spelling
            if (is("distinct")) { next(); EAgg("array_agg_distinct", exprTree()) }
            else EAgg(fn, exprTree())
          }
          else if (fn != "count") EAgg(fn, exprTree())
          else if (is("*")) { next(); EAgg("count_star", ELit(1L)) }
          else if (is("distinct")) { next(); EAgg("count_distinct", exprTree()) }
          else EAgg("count", exprTree())
        kw(")")
        ag
      }
      else if (is("case")) {
        next()
        // SIMPLE form (round-12): `case <head> when <v> then … end`
        // desugars to the searched form with `<head> = <v>` conditions —
        // a NULL head matches no branch and falls to ELSE, per ANSI
        val headOpt = if (is("when")) None else Some(exprTree())
        val brs = scala.collection.mutable.ArrayBuffer.empty[(Pred, Expr)]
        while (is("when")) {
          next()
          val p = headOpt match {
            case Some(h) => Cmp(h, "=", exprTree())
            case None => predExpr()
          }
          kw("then")
          brs += ((p, exprTree()))
        }
        require(brs.nonEmpty, "CASE needs at least one WHEN branch")
        val els = if (is("else")) { next(); Some(exprTree()) } else None
        kw("end")
        ECase(brs.toSeq, els)
      }
      else if ((is("date") || is("timestamp")) && peekAt(1).startsWith("'")) {
        // typed temporal literal in expression position — `date
        // '1998-12-01' - interval '90' day` (the keyword alone, not
        // followed by a quoted literal, stays a bare identifier/column)
        val kind = next().toLowerCase
        ELit(typedTemporal(kind, literal().toString))
      }
      else if (is("interval") && peekAt(1).startsWith("'")) {
        // `interval '<n>' <unit>` — valid only as a +/- right operand
        // (lowering rejects it anywhere else with a clear message)
        next()
        val nTok = literal().toString
        require(nTok.matches("-?[0-9]+"),
          s"interval expects a quoted integer count, got '$nTok'")
        val rawUnit = next().toLowerCase.stripSuffix("s")
        // weeks normalize to days at parse (neither engine has a WEEK
        // interval type; 1 week = exactly 7 days in both)
        if (rawUnit == "week") EInterval(nTok.toLong * 7, "day")
        else EInterval(nTok.toLong, rawUnit)
      }
      else if (peekIsColRef) ECol(colRef())
      else if (peek.matches("[A-Za-z_][A-Za-z0-9_]*") && !is("null")) {
        // a BARE identifier in factor position references an output
        // column — an aggregate auto-alias or a computed grouping key
        // (`n * 10 as n10` over `group by n`); string LITERALS are the
        // quoted tokens, as everywhere in the dialect
        ECol(ColRef("", next()))
      }
      else ELit(literal())

    /** Consume `as <alias>` (required) and validate the alias shape. */
    private def aliasAfterAs(what: String): String = {
      require(is("as"), s"computed projection $what needs `as <alias>`")
      next()
      val a = next()
      require(a.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad output alias: $a")
      require(!a.startsWith("graft_"),
        s"alias $a collides with reserved internal names")
      a
    }

    /** `over (partition by …[, …] order by …[ desc][, …])` — both clauses
      * optional, any combination; window fns limited to row_number / rank
      * (need ORDER BY to mean anything — required) and sum. */
    /** A parsed parenthesized window specification — shared by the
      * inline `over ( … )` form and the named `window w as ( … )`
      * clause (round-13). Validation is fn-dependent, so it happens in
      * [[mkWinCall]] at each USE of the spec. */
    final case class WSpec(part: Seq[ColRef],
                           order: Seq[(ColRef, Boolean)],
                           frame: Option[(Long, Long)],
                           rangeUnit: Option[String],
                           deps: Seq[(String, SelectItem)])

    private def windowSpec(fn: String, arg: Option[ColRef],
                           buckets: Option[Int] = None,
                           default: Option[Any] = None,
                           tiebreak: Option[ColRef] = None,
                           ignoreNulls: Boolean = false): WinCall = {
      kw("over")
      // `over w` — a NAMED window (round-13): the spec lives in the
      // statement's WINDOW clause, parsed later; leave an unresolved
      // reference for selectRest to substitute (and validate)
      if (peek != "(") {
        val nm = next()
        require(nm.matches("[A-Za-z_][A-Za-z0-9_]*") &&
          !nm.startsWith("graft_") &&
          !Set("from", "where", "group", "having", "qualify", "window",
            "order", "limit", "offset", "union", "intersect", "except",
            "as").contains(nm.toLowerCase),
          s"expected ( or a window name after OVER, got $nm")
        val alias =
          if (is("as")) Some(aliasAfterAs(s"$fn() over $nm")) else None
        return WinCall(fn, arg, Nil, Nil, None, buckets, alias, None, Nil,
          namedRef = Some(nm), default = default, tiebreak = tiebreak,
          ignoreNulls = ignoreNulls)
      }
      kw("(")
      val w = windowSpecBody()
      kw(")")
      // `… over (…) as x` re-aliases the window output (else the
      // auto-alias: rn, wsum_col, …), like the aggregate re-alias form
      val alias = if (is("as")) Some(aliasAfterAs(s"$fn() over (…)")) else None
      mkWinCall(fn, arg, buckets, w, alias, default, tiebreak, ignoreNulls)
    }

    private def windowSpecBody(): WSpec = {
      // window keys (round-13 growth, the grouped-window surface):
      // `t.col` as ever, a BARE identifier addressing an output alias
      // (`order by sum_qty desc` over the aggregated frame), or an
      // AGGREGATE CALL spelling (`order by sum(t.x) desc`) — parsed to
      // its auto-alias with the call recorded as a dep the grouped
      // executor computes in the same aggregation pass.
      val deps = scala.collection.mutable.ArrayBuffer.empty[(String, SelectItem)]
      def winKey(): ColRef =
        if (Seq("count", "sum", "avg", "min", "max").exists(is) &&
            peekAt(1) == "(") {
          val a = plainAgg()
          require(a.fn != "count_distinct",
            "count(distinct …) cannot key a window — project it and " +
              "order by its output name")
          deps += a.alias -> a
          ColRef("", a.alias)
        } else if ((exprFuncs.contains(peek.toLowerCase) && peekAt(1) == "(")
            || ((is("cast") || is("try_cast")) && peekAt(1) == "(") || is("case")) {
          // EXPRESSION keys (round-13 — `partition by year(t.d)`): the
          // expression computes scan-side under a reserved name (exactly
          // the bare `group by <expr>` machinery) and the spec addresses
          // it; the executor adds the column pre-window and the final
          // projection drops it. Ungrouped selects only — after
          // aggregation the scan row is gone.
          val e = exprTree()
          val n = s"graft_wk${deps.length}"
          deps += n -> ExprItem(e, n)
          ColRef("", n)
        } else if (peekIsColRef) {
          val r = colRef()
          // ARITHMETIC continuation (round-14): `partition by t.k % 2`
          // — the expression-key machinery, headed by a column instead
          // of a function
          if (arithOps.contains(peek)) {
            val e = exprTreeFrom(ECol(r))
            val n = s"graft_wk${deps.length}"
            deps += n -> ExprItem(e, n)
            ColRef("", n)
          } else r
        }
        else {
          val t = next()
          require(t.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"expected a window key (t.col, an output alias, an " +
              s"aggregate call, or an expression), got $t")
          val r = ColRef("", t)
          if (arithOps.contains(peek)) {
            val e = exprTreeFrom(ECol(r))
            val n = s"graft_wk${deps.length}"
            deps += n -> ExprItem(e, n)
            ColRef("", n)
          } else r
        }
      val part = if (is("partition")) {
        next(); kw("by")
        val ps = scala.collection.mutable.ArrayBuffer(winKey())
        while (is(",")) { next(); ps += winKey() }
        ps.toSeq
      } else Nil
      val order = if (is("order")) {
        next(); kw("by")
        val os = scala.collection.mutable.ArrayBuffer.empty[(ColRef, Boolean)]
        var m = true
        while (m) {
          val r = winKey()
          val desc =
            if (is("desc")) { next(); true }
            else { if (is("asc")) next(); false }
          os += ((r, desc))
          if (is(",")) next() else m = false
        }
        os.toSeq
      } else Nil
      // ROWS frames — `rows <n> preceding` (the moving-sum/avg idiom,
      // → BETWEEN n PRECEDING AND CURRENT ROW) or the full `rows between
      // <bound> and <bound>` form (round-11 growth), bound ∈ `<n>
      // preceding|following` | `current row` | `unbounded
      // preceding|following`. ROWS semantics need a deterministic row
      // order, so ORDER BY is required with any frame.
      def bound(): Long =
        if (is("current")) { next(); kw("row"); 0L }
        else if (is("unbounded")) {
          next()
          next().toLowerCase match {
            case "preceding" => Long.MinValue
            case "following" => Long.MaxValue
            case t => throw new IllegalArgumentException(
              s"expected preceding|following after unbounded, got $t")
          }
        } else {
          val n = next()
          require(n.matches("[0-9]+"), s"frame bound expects a number, got $n")
          next().toLowerCase match {
            case "preceding" => -n.toLong
            case "following" => n.toLong
            case t => throw new IllegalArgumentException(
              s"expected preceding|following after $n, got $t")
          }
        }
      val (frame, rangeUnit) = if (is("rows")) {
        next()
        if (is("between")) {
          next()
          val lo = bound(); kw("and"); val hi = bound()
          require(lo <= hi,
            s"rows frame is empty: lower bound must not exceed upper bound")
          (Some((lo, hi)), None)
        } else {
          val n = next()
          require(n.matches("[0-9]+"), s"frame bound expects a number, got $n")
          kw("preceding")
          (Some((-n.toLong, 0L)), None)
        }
      } else if (is("range")) {
        // `range between <bound> and <bound>` where a bound is `interval
        // '<n>' day|week|hour|minute|second preceding|following` |
        // `current row` | `unbounded preceding|following` (round-12
        // day/week, round-13 the sub-day units — the sliding time
        // window: SUM over the trailing 7 days / 6 hours). Week
        // normalizes to days. A frame whose every interval is
        // day-granular rides DAY offsets over the key's day number
        // (whole-day window semantics — timestamps truncate to their
        // date); any sub-day interval switches the WHOLE frame to
        // SECOND offsets over the key's epoch seconds (exact-timestamp
        // semantics), with day offsets scaling ×86400.
        next(); kw("between")
        def rbound(): (Long, String) =
          if (is("current")) { next(); kw("row"); (0L, "") }
          else if (is("unbounded")) {
            next()
            next().toLowerCase match {
              case "preceding" => (Long.MinValue, "")
              case "following" => (Long.MaxValue, "")
              case t => throw new IllegalArgumentException(
                s"expected preceding|following after unbounded, got $t")
            }
          } else {
            kw("interval")
            val nTok = literal().toString
            require(nTok.matches("[0-9]+"),
              s"a range bound expects interval '<n>' " +
                s"day|week|hour|minute|second, got '$nTok'")
            val unit = next().toLowerCase.stripSuffix("s")
            val (n, u) = unit match {
              case "week" => (nTok.toLong * 7, "day")
              case "day" => (nTok.toLong, "day")
              case "hour" => (nTok.toLong * 3600, "second")
              case "minute" => (nTok.toLong * 60, "second")
              case "second" => (nTok.toLong, "second")
              case other => throw new IllegalArgumentException(
                s"range frames take day|week|hour|minute|second " +
                  s"intervals, got $other")
            }
            next().toLowerCase match {
              case "preceding" => (-n, u)
              case "following" => (n, u)
              case t => throw new IllegalArgumentException(
                s"expected preceding|following after the interval, got $t")
            }
          }
        val (lo0, lu) = rbound(); kw("and"); val (hi0, hu) = rbound()
        val unit = if (lu == "second" || hu == "second") "second" else "day"
        def norm(v: Long, u: String): Long =
          if (v == Long.MinValue || v == Long.MaxValue || u == unit || u == "")
            v
          else v * 86400L // day offsets scale into a seconds frame
        val lo = norm(lo0, lu); val hi = norm(hi0, hu)
        require(lo <= hi,
          "range frame is empty: lower bound must not exceed upper bound")
        (Some((lo, hi)), Some(unit))
      } else (None, None)
      WSpec(part, order, frame, rangeUnit, deps.distinctBy(_._1).toSeq)
    }

    /** Pair a window FUNCTION with a SPEC — the validations are
      * fn-dependent, so a named window validates at each use. */
    private def mkWinCall(fn: String, arg: Option[ColRef],
                          buckets: Option[Int], w: WSpec,
                          alias: Option[String],
                          default: Option[Any] = None,
                          tiebreak: Option[ColRef] = None,
                          ignoreNulls: Boolean = false): WinCall = {
      val (part, order, frame, rangeUnit) =
        (w.part, w.order, w.frame, w.rangeUnit)
      // the frame-taking window functions work with or without ORDER BY
      // when unframed: ordered = running, unordered = whole-partition
      val framedAggs = Set("sum", "avg", "min", "max", "count",
        "first_value", "last_value", "nth_value")
      require((framedAggs ++ Set("row_number", "rank", "dense_rank",
        "ntile", "percent_rank", "cume_dist", "lag", "lead")).contains(fn),
        s"window functions supported: row_number, rank, dense_rank, ntile, " +
          s"percent_rank, cume_dist, sum, avg, min, max, first_value, " +
          s"last_value, nth_value, lag, lead — got $fn")
      require(framedAggs.contains(fn) || order.nonEmpty,
        s"$fn() over (…) requires an ORDER BY in the window")
      // first/last/nth_value without ORDER BY would pick an arbitrary
      // row — nondeterministic across runs/partitionings; require the order
      require(!Set("first_value", "last_value", "nth_value").contains(fn) ||
        order.nonEmpty,
        s"$fn() over (…) requires an ORDER BY in the window")
      require(frame.isEmpty || framedAggs.contains(fn),
        "a rows/range frame applies to sum/avg/min/max/count/first_value/" +
          "last_value/nth_value windows only")
      require(frame.isEmpty || order.nonEmpty,
        "a rows/range frame requires an ORDER BY in the window")
      // a day-ranged frame orders by ONE ascending temporal key (the day
      // number is the range dimension; DESC would flip offset signs —
      // rejected toward the ascending spelling)
      require(rangeUnit.isEmpty || (order.size == 1 && !order.head._2),
        "a RANGE interval frame requires exactly one ASCENDING order key " +
          "(a date or timestamp column)")
      // first/last_value under a RANGE frame read ONE peer row, but the
      // frame orders by the key's range dimension only — rows tying on
      // the same key make the pick nondeterministic across partitionings
      // and engines (r12 advice). The peer-INSENSITIVE aggregates
      // (sum/avg/min/max/count include all peers) stay deterministic.
      // Round-14 (the r13 queue's #4): an explicit TIEBREAK column —
      // `first_value(x, tb)` — un-rejects the shape: the pick becomes
      // the struct-extremum over (order key, tb, x), deterministic for
      // ANY data (lexicographic minimum, no peer sensitivity left).
      require(rangeUnit.isEmpty || tiebreak.nonEmpty ||
        !Set("first_value", "last_value", "nth_value").contains(fn),
        s"$fn over a RANGE interval frame is nondeterministic when order " +
          "keys tie — carry an explicit tiebreak column ($fn(x, tb)), " +
          "use a ROWS frame over a unique key, or a peer-insensitive " +
          "aggregate (sum/avg/min/max/count)")
      // the tiebreak form exists FOR the range frame — anywhere else the
      // plain spelling is already deterministic (frame order = row order)
      require(tiebreak.isEmpty || rangeUnit.nonEmpty,
        s"$fn's tiebreak argument applies under a RANGE interval frame " +
          "only — the plain spelling is deterministic elsewhere")
      WinCall(fn, arg, part, order, frame, buckets, alias, rangeUnit, w.deps,
        default = default, tiebreak = tiebreak, ignoreNulls = ignoreNulls)
    }

    /** A plain aggregate call from its function name to its `)` —
      * `count(*)`, `count([distinct] t.f)`, `sum|avg|min|max(t.f)` — as
      * the item the same bare call projects (auto-aliased: `cnt`,
      * `cnt_f`, `cntd_f`, `sum_f`, …). */
    private def plainAgg(): AggExprItem = {
      val fn0 = next().toLowerCase; kw("(")
      val a =
        if (fn0 == "count" && is("*")) { next(); countStarItem }
        else {
          val fn = if (fn0 == "count" && is("distinct")) { next(); "count_distinct" }
                   else fn0
          val r = colRef()
          AggExprItem(fn, ECol(r), autoAlias(fn, r.column))
        }
      kw(")"); a
    }

    /** A HAVING target resolves to an OUTPUT column name: agg-call
      * spellings map to the same auto-aliases the projection generates
      * (`count(*)`→cnt, `sum(t.f)`→sum_f, …), a `t.f` grouping column to
      * its bare name, and a bare identifier passes through (addressing an
      * alias directly). Agg-call spellings ALSO return the parsed call —
      * [[HavingPred.agg]] — so an unprojected aggregate can still be
      * computed by the grouped select (round-12). */
    private def havingTarget(): (String, Option[SelectItem]) =
      if (is("count") ||
          (Seq("sum", "avg", "min", "max").exists(is) && peekAt(1) == "(")) {
        val a = plainAgg()
        (a.alias, Some(a))
      } else {
        val t = next()
        val i = t.indexOf('.')
        (if (i > 0) t.substring(i + 1) else t, None)
      }

    /** HAVING/QUALIFY right-hand side (round-12 growth): a literal, or a
      * full scalar expression over output columns (`cnt * 2`, `n / 10`);
      * a plain literal keeps its raw value (the pre-grammar shape). */
    private def havingValue(): Any =
      // `having <agg> > ( select … )` (round-13) — a scalar-subquery RHS
      if (is("(") && peekAt(1).equalsIgnoreCase("select")) {
        next(); kw("select")
        val sub = selectRest()
        kw(")")
        SubVal(sub)
      } else exprTree() match {
        case ELit(v) => v
        case e => e
      }

    private def createJoinRest(): CreateJoin = {
      val clauses = scala.collection.mutable.ArrayBuffer.empty[(String, ColRef, ColRef)]
      while (is("inner")) { next(); kw("join"); val t = next(); kw("on")
        val l = colRef(); kw("="); val r = colRef(); clauses += ((t, l, r)) }
      CreateJoin(clauses.toSeq)
    }
  }

  // ---------------- executor ----------------

  /** Materialized-join registry (M3/J5): `create join` statements land here;
    * `view` recomputes lazily (Spark's lazy evaluation makes every view
    * consistent with current table state — the reference's insert-time
    * maintenance is an optimization our streaming module provides
    * separately, see graft.streaming.Streams.maintainJoin).
    *
    * Entries are keyed by the SET of tables the clauses touch (canonical
    * name = sorted tables joined with '+'), mirroring the reference's
    * per-table-pair registration (server.py:674-696) — create joins over
    * different table sets coexist; re-creating a join over the same table
    * set versions it (latest wins), never silently clobbering an unrelated
    * view. */
  final class JoinRegistry {
    private var views = Map.empty[String, CreateJoin]
    private var mats = Map.empty[String, DataFrame]

    /** All tables a create-join's clauses mention. */
    def tablesOf(cj: CreateJoin): Set[String] =
      cj.clauses.flatMap { case (t, l, r) => Seq(t, l.table, r.table) }.toSet

    /** Canonical registry name for a clause set. */
    def nameOf(cj: CreateJoin): String = tablesOf(cj).toSeq.sorted.mkString("+")

    /** Register; returns the canonical name. Same table set ⇒ replaces
      * (versioning — the refreshed definition wins, and any materialized
      * copy of the superseded definition stops routing). */
    def put(cj: CreateJoin): String = {
      val n = nameOf(cj)
      views += n -> cj
      mats -= n
      n
    }
    def get(name: String): Option[CreateJoin] = views.get(name)
    def forTables(tables: Set[String]): Option[CreateJoin] =
      views.get(tables.toSeq.sorted.mkString("+"))
    def names: Seq[String] = views.keys.toSeq.sorted

    /** Attach a materialized frame (a parquet scan of the pre-joined rows)
      * to a registered view — see [[HashQL.materializeJoin]]. */
    private[sql] def setMaterialized(name: String, df: DataFrame): Unit =
      mats += name -> df

    /** Tables of a materialized view whose join clause was verified
      * ROW-PRESERVING at materialization time (join key unique on the
      * fresh side AND every accumulated row matched): dropping them from
      * a query cannot multiply or filter the remaining tables' rows, so
      * a SELECT over a SUBSET of the view's tables may still serve from
      * the pre-joined parquet. Recorded by [[HashQL.materializeJoin]];
      * see [[routedFrame]]. */
    private var droppables = Map.empty[String, Set[String]]
    private[sql] def setDroppable(name: String, tables: Set[String]): Unit =
      droppables += name -> tables

    /** Per-table column lists of a materialized view, recorded at
      * materialization — subset routes project the pre-joined frame DOWN
      * to the retained tables' columns, so a WHERE/projection referencing
      * a dropped table's column fails up front (AnalysisException on the
      * routed plan) exactly as it would after invalidation falls back to
      * the live join — query validity no longer depends on
      * materialization state (the r10 advice's subset-leak defect). */
    private var tableCols = Map.empty[String, Map[String, Seq[String]]]
    private[sql] def setTableCols(name: String,
                                  cols: Map[String, Seq[String]]): Unit =
      tableCols += name -> cols

    /** The dialect read path of the reference's `create join`
      * (server.py:806-894, README.md:29-64): a SELECT whose join clauses
      * match a registered AND materialized view answers from the pre-joined
      * parquet — zero Join nodes in its plan. Matching is on the unordered
      * column-pair set, so clause order / side order don't matter; any
      * difference (extra table, different key) falls back to the live join
      * build. */
    def routedFrame(tables: Set[String],
                    joins: Seq[(String, ColRef, ColRef)],
                    allowSubset: Boolean = true): Option[DataFrame] = {
      val exact = for {
        cj <- forTables(tables)
        df <- mats.get(nameOf(cj))
        if joinPairs(cj.clauses) == joinPairs(joins)
      } yield df
      exact.orElse(if (allowSubset) subsetRoute(tables, joins) else None)
    }

    /** SUBSET containment (round-10 growth — the r9 verdict's #3): a
      * SELECT joining a strict subset of a materialized view's tables
      * serves from the pre-joined parquet when (a) every DROPPED table's
      * clause was verified row-preserving at materialization (unique
      * fresh-side key + total match — the FK-to-PK lookup shape, so
      * dropping it neither multiplies nor filters the retained rows) and
      * (b) the view's join pairs among RETAINED tables are exactly the
      * query's (same keys, clause/side order free). A row-multiplying
      * drop (the fact side, or a non-unique dim key) fails (a) and falls
      * back to the live join — asserted in HashQLSpec. */
    private def subsetRoute(tables: Set[String],
                            joins: Seq[(String, ColRef, ColRef)]): Option[DataFrame] = {
      val qPairs = joinPairs(joins)
      views.keysIterator.toSeq.sorted.iterator.flatMap { n =>
        val cj = views(n)
        val vt = tablesOf(cj)
        val dropped = vt.diff(tables)
        for {
          df <- mats.get(n)
          if tables.subsetOf(vt) && dropped.nonEmpty
          if dropped.subsetOf(droppables.getOrElse(n, Set.empty))
          retained = cj.clauses.filter { case (t, l, r) =>
            Seq(t, l.table, r.table).forall(tables.contains) }
          if joinPairs(retained) == qPairs
        } yield {
          // project down to the RETAINED tables' columns (recorded at
          // materialization): the dropped tables' columns must not leak
          // into the query's scope — see [[setTableCols]]
          tableCols.get(n) match {
            case Some(cols) =>
              val keep = tables.flatMap(cols.getOrElse(_, Seq.empty))
              df.select(df.columns.filter(keep).map(col).toSeq: _*)
            case None => df
          }
        }
      }.nextOption()
    }

    private def joinPairs(clauses: Seq[(String, ColRef, ColRef)]): Set[Set[(String, String)]] =
      clauses.map { case (_, l, r) => Set((l.table, l.column), (r.table, r.column)) }.toSet

    /** Drop materialized routes involving `table` — DML calls this so the
      * read path can never serve stale pre-joined rows (the reference
      * re-maintains the view at insert time, server.py:806-894; here the
      * route falls back to the live join until re-materialized — same
      * answers, one more join). The registered definition stays, so
      * re-running [[HashQL.materializeJoin]] restores the fast path. */
    private[sql] def invalidateTable(table: String): Unit = {
      mats = mats.filter { case (name, _) => !name.split("\\+").contains(table) }
      // aggregate views over the table: drop the Catalyst route too — the
      // summary parquet is stale the moment facts change (same contract
      // as the join mats; re-run materializeAggView to restore)
      aggViews.foreach { case (name, reg) =>
        if (reg.tables.contains(table)) {
          graft.matview.MatView.drop(reg.spark, name)
          aggViews -= name
        }
      }
    }

    /** DML hooks (round-7 growth — incremental view maintenance for the
      * dialect's mutations): join mats always invalidate (pre-joined rows
      * are stale the moment facts change), but an aggregate view whose
      * summary can absorb the delta folds it instead and keeps routing —
      * at 100 TB that is one scan of the CHANGED rows versus a full fact
      * recompute. Each hook runs AFTER the catalog mutated; the
      * removed/added frames are plans captured around the copy-on-write
      * rewrite (catalog plans are immutable, so the pre-mutation plan
      * stays evaluatable). Delta rules per mutation:
      *  - INSERT: positive partials — count/sum/min/max all fold
      *    (appends never retract, so even min/max absorb new rows);
      *  - DELETE: negated partials — count/sum only, with count(*)
      *    present (group emptiness) and a count(col) companion per
      *    sum(col) (all-NULL-remainder exactness); min/max cannot
      *    subtract without history (the classic IVM limit) and
      *    invalidate, recompute-only;
      *  - UPDATE: retract-the-before + append-the-after under DELETE's
      *    rules (an update IS a retraction pair; group-key updates move
      *    rows between groups and emptied groups vanish). */
    private[sql] def onDelete(cat: GraftCatalog, table: String,
                              deleted: DataFrame): Unit =
      dmlHook(cat, table, removed = Some(deleted), added = None)
    private[sql] def onInsert(cat: GraftCatalog, table: String,
                              inserted: DataFrame): Unit =
      dmlHook(cat, table, removed = None, added = Some(inserted))
    private[sql] def onUpdate(cat: GraftCatalog, table: String,
                              before: DataFrame, after: DataFrame): Unit =
      dmlHook(cat, table, removed = Some(before), added = Some(after))

    private def dmlHook(cat: GraftCatalog, table: String,
                        removed: Option[DataFrame],
                        added: Option[DataFrame]): Unit = {
      mats = mats.filter { case (name, _) => !name.split("\\+").contains(table) }
      aggViews.foreach { case (name, reg) =>
        if (reg.tables.contains(table) &&
            !dmlFold(cat, name, reg, table, removed, added)) {
          graft.matview.MatView.drop(reg.spark, name)
          aggViews -= name
        }
      }
    }

    /** Fold a DML delta into one registered aggregate view; false when
      * the view cannot absorb it (caller invalidates instead — re-run
      * materializeAggView to restore). Foldable = single-table view
      * whose aggregates fit the mutation's rules (see [[onDelete]]'s
      * scaladoc): append-only deltas fold count/sum/min/max; any
      * retraction (`removed` present) restricts to count/sum, requires
      * count(*) (group emptiness is row count: `cnt` 0 ⇒ the group
      * vanishes, as a re-materialization would show) and a count(col)
      * companion per sum(col) — the textbook IVM sum+count pairing, so a
      * group whose remaining col values are all NULL serves sum = NULL
      * exactly like a batch recompute, not a fabricated 0. The fold:
      * signed partials over the changed subsets (view WHERE applied),
      * folded into the current summary parquet (crash-safe swap), then
      * the route RE-REGISTERS against the post-mutation definition
      * frame — exact-match routing keys on the canonical fact plan,
      * which the copy-on-write DML just changed
      * ([[graft.matview.MatView.registerAggregate]], no recompute). */
    private def dmlFold(cat: GraftCatalog, name: String, reg: AggViewReg,
                        table: String, removed: Option[DataFrame],
                        added: Option[DataFrame]): Boolean = {
      val sel = reg.sel
      if (sel.joins.nonEmpty || sel.table != table) return false
      // the agg-view parse guard admits plain calls only: fn over a
      // column (or count(*)) under its auto-alias
      val aggs = sel.items.collect { case a: AggExprItem => a }
      val calls = aggs.filter(_ != countStarItem)
      val retracts = removed.isDefined
      val okFns = if (retracts) Set("count", "sum")
        else Set("count", "sum", "min", "max")
      if (!calls.forall(c => okFns(c.fn))) return false
      if (retracts) {
        if (!(aggs.contains(countStarItem) || calls.isEmpty)) return false
        val cntArgs = calls.filter(_.fn == "count").map(_.expr).toSet
        if (!calls.filter(_.fn == "sum").forall(c => cntArgs(c.expr)))
          return false
      }
      val spark = reg.spark
      val groupCols = sel.groupBy.map(_.column)
      // the view's stored columns (aggsOf's: count(*) when none is named)
      val stored = if (aggs.isEmpty) Seq(countStarItem) else aggs
      // counts and sums fold by summation (sum() skips nulls, so an
      // all-null partial is a no-op — those rows contributed nothing to
      // the stored value either); min/max fold by min/max
      def refold(fn: String): String = if (fn == "min" || fn == "max") fn else "sum"
      // signed partials under the stored aliases; min/max only ever
      // appear on the append side (okFns above)
      def partials(rows: DataFrame, sign: Int): DataFrame = {
        var r = rows
        sel.wheres.foreach(p => r = r.filter(predColumn(cat, p)))
        val cols = stored.map { a =>
          val c = aggFn(a.fn)(exprColumn(cat, a.expr))
          (if (refold(a.fn) == "sum") c * sign else c).as(a.alias)
        }
        r.groupBy(groupCols.map(col): _*).agg(cols.head, cols.tail: _*)
      }
      val old = spark.read.parquet(reg.path)
      val deltas = removed.map(partials(_, -1)).toSeq ++
        added.map(partials(_, 1)).toSeq
      val foldCols = stored.map(a => aggFn(refold(a.fn))(col(a.alias)).as(a.alias))
      var folded = deltas.foldLeft(old)(_ unionByName _)
        .groupBy(groupCols.map(col): _*)
        .agg(foldCols.head, foldCols.tail: _*)
      if (retracts) {
        // emptied KEYED groups vanish, as a recompute would show; the
        // GLOBAL aggregation (no GROUP BY) keeps its one row — a
        // recompute over zero facts still yields (0, NULL, …)
        if (groupCols.nonEmpty) folded = folded.filter(col("cnt") > 0)
        calls.filter(_.fn == "sum").foreach { s =>
          val n = calls.find(c => c.fn == "count" && c.expr == s.expr).get
          folded = folded.withColumn(s.alias, when(col(n.alias) > 0, col(s.alias)))
        }
      }
      // the old scan keeps reading reg.path while the fold lands in the
      // swap tmp; readers see old or new, never a mix
      graft.sources.Sources.swapDir(spark, reg.path) { tmp =>
        folded.select(old.columns.map(col).toSeq: _*)
          .write.mode("overwrite").parquet(tmp)
      }
      graft.matview.MatView.registerAggregate(spark, name,
        aggViewFrame(cat, sel), reg.path)
      true
    }

    /** name → registration for `create agg view` — tracked so DML can
      * delta-fold or invalidate the MatView route. */
    private var aggViews = Map.empty[String, AggViewReg]
    private[sql] def putAggView(name: String, reg: AggViewReg): Unit =
      aggViews += name -> reg
  }

  /** One `create agg view` registration — enough definition (parsed
    * SELECT + summary path) for the DELETE-time delta fold. */
  private[sql] final case class AggViewReg(
      tables: Set[String], spark: org.apache.spark.sql.SparkSession,
      path: String, sel: Select)

  /** `~path <op> rhs` — a [[Cmp]] whose left operand is a doc-path. */
  private object DocCmp {
    def unapply(p: Pred): Option[(String, String, Expr)] = p match {
      case Cmp(ECol(r), op, rhs) if r.column.startsWith("~") =>
        Some((r.column, op, rhs))
      case _ => None
    }
  }

  /** Lower a predicate to a Column. `env` is the lambda binding stack
    * (see [[exprColumn]]): empty outside list-lambda bodies. */
  private def predColumn(cat: GraftCatalog, pr: Pred,
                         env: Seq[(String, Column)] = Nil): Column = pr match {
    // doc-path comparison: `people.~hobbies[]~name = 'God'` — ANY
    // addressed leaf satisfies it, whatever the op (reference
    // README.md:123-145); doc tables carry their nested document in a
    // `doc` column (see graft.HashDb.saveDocument)
    case DocCmp(path, op, rhs) if env.isEmpty =>
      val rc = exprColumn(cat, rhs)
      graft.doc.DocStore.pathMatches(col("doc"), path,
        graft.core.Compare.cmp(_, op, rc))
    // disjuncts over ONE doc-path (an IN list's equalities) test each
    // leaf in one any-leaf scan: ∃ over an OR is the OR of the ∃s
    case Or(ps @ DocCmp(path, _, _) +: _) if env.isEmpty && ps.forall {
        case DocCmp(`path`, _, _) => true
        case _ => false } =>
      val tests = ps.collect { case DocCmp(_, op, rhs) => (op, exprColumn(cat, rhs)) }
      graft.doc.DocStore.pathMatches(col("doc"), path, leaf =>
        tests.map { case (op, rc) => graft.core.Compare.cmp(leaf, op, rc) }
          .reduce(_ || _))
    // both operands through the ONE scalar lowering, no cast injected —
    // native operators, whole-stage codegen'd, a scan-side filter
    case Cmp(l, op, r) =>
      graft.core.Compare.cmp(exprColumn(cat, l, env), op, exprColumn(cat, r, env))
    // a bare boolean expression IS the predicate
    case BoolExpr(e) => exprColumn(cat, e, env)
    case FtsMatch(ref, q) => Fts.matches(Fts.tokens(refColumn(ref, env)), q)
    case And(ps) => ps.map(predColumn(cat, _, env)).reduce(_ && _)
    case Or(ps) => ps.map(predColumn(cat, _, env)).reduce(_ || _)
    // a lowered subquery flag. Membership/existence flags (threeValued =
    // false): join miss = FALSE (two-valued), so NOT keeps unmatched
    // rows — the anti-join semantics under OR (the documented NOT-IN
    // divergence). Scalar-COMPARE flags (threeValued = true) keep NULL
    // when the comparison is UNKNOWN (null lhs or null scalar), so
    // `not (t.a = (select max …))` drops null-lhs rows exactly like the
    // conjunct spelling and ANSI — the r10 advice's coalesce defect.
    case FlagPred(f, threeValued) =>
      if (threeValued) col(f) else coalesce(col(f), lit(false))
    // three-valued: !(null) stays null, so NOT over a null comparison
    // still drops the row — ANSI semantics on both engines
    case Not(p) => !predColumn(cat, p, env)
    case _: InSelect | _: InSelectTuple | _: InSelectExpr | _: ExistsSelect |
         _: CmpSelect | _: QuantCmp =>
      // unreachable from WHERE (applyWheres plans conjunct forms as
      // semi/anti joins and OR/NOT trees through flaggedFilter) — this
      // guards the remaining Column-only surfaces: CASE conditions
      // inside expressions, and agg-view definition filters
      throw new IllegalArgumentException(
        "subquery predicates (in/exists/scalar compare) are supported in " +
          "WHERE clauses, not inside CASE conditions or view definitions")
    case SampleBucket(ref, permille) =>
      graft.llm.Sampling.arithBucket(col(ref.column)) < permille
    // the ALL rewrite's violation test, `(outer op inner) IS NOT TRUE`
    // (existsJoin lowers it inside the join condition; this is the same
    // test over one frame)
    case CmpNotTrue(inner, op, outer) =>
      !(graft.core.Compare.cmp(col(outer.column), op, col(inner.column)) <=> lit(true))
  }

  /** Lower a scalar expression to a Column. Arithmetic rides Spark's
    * native operators (whole-stage-codegen'd; `/` is ANSI double division
    * in both engines), CASE lowers to a `when` chain whose conditions go
    * through the ONE predicate dispatch ([[predColumn]] — so CASE
    * conditions support exactly the WHERE grammar minus subqueries). No
    * casts are injected: parquet columns keep their types and Spark's
    * coercion matches DuckDB's for the numeric tower.
    *
    * `env` is the lambda binding stack (round-15 — `list_transform(l, x
    * -> x * 2)`; round-16 — NESTED lambdas, `list_transform(ll, x ->
    * list_filter(x, y -> y > 0))`): a body lowers through this same
    * function with its variable appended, so the grammar and function
    * tier inside lambdas are exactly those outside them. See
    * [[refColumn]] for how a reference resolves under it. */
  private def exprColumn(cat: GraftCatalog, e: Expr,
                         env: Seq[(String, Column)] = Nil): Column = e match {
    case ELit(v) => lit(v)
    case ECol(r) => refColumn(r, env)
    // temporal ± interval (round-11): year/month ride a YearMonth
    // interval literal (DATE stays DATE), day/hour/minute/second a
    // DayTime one — Spark's native interval arithmetic, codegen'd; the
    // interval literal is folded at plan time (expr() over constants)
    case EArith(l, op @ ("+" | "-"), EInterval(n, unit)) =>
      val base = exprColumn(cat, l, env)
      val iv = expr(s"INTERVAL '$n' ${unit.toUpperCase(java.util.Locale.ROOT)}")
      if (op == "+") base + iv else base - iv
    case _: EInterval => throw new IllegalArgumentException(
      "interval literals are valid only as the right operand of + or - " +
        "(e.g. date '1998-12-01' - interval '90' day)")
    case EArith(l, op, r) =>
      val (lc, rc) = (exprColumn(cat, l, env), exprColumn(cat, r, env))
      op match {
        case "+" => lc + rc
        case "-" => lc - rc
        case "*" => lc * rc
        case "/" => lc / rc
        // sign follows the dividend in both engines
        case "%" => lc % rc
        case other => throw new IllegalArgumentException(s"unsupported arithmetic op: $other")
      }
    case ECast(e0, ty) =>
      if (ty.startsWith("try ")) exprColumn(cat, e0, env).try_cast(ty.stripPrefix("try "))
      else exprColumn(cat, e0, env).cast(ty)
    case _: EAgg => throw new IllegalArgumentException(
      "aggregate calls are valid only in an aggregate select's " +
        "projection — filter on aggregates through HAVING")
    case ECase(brs, els) =>
      val first = when(predColumn(cat, brs.head._1, env),
        exprColumn(cat, brs.head._2, env))
      val chained = brs.tail.foldLeft(first) { case (acc, (p, v)) =>
        acc.when(predColumn(cat, p, env), exprColumn(cat, v, env)) }
      els.fold(chained)(d => chained.otherwise(exprColumn(cat, d, env)))
    // list lambdas (round-15): fn carries the variable name after ':'
    // (the percentile_cont:q pattern) — the base list lowers under the
    // current bindings, the body under the stack extended with the
    // variable
    case EFunc(fn, args) if fn.startsWith("list_transform:") ||
                            fn.startsWith("list_filter:") =>
      val v = fn.substring(fn.indexOf(':') + 1)
      val base = exprColumn(cat, args(0), env)
      val body = (x: Column) => exprColumn(cat, args(1), env :+ (v -> x))
      if (fn.startsWith("list_transform:")) transform(base, body)
      else filter(base, body)
    case EFunc(fn, args) =>
      scalarFunc(cat, fn, args, args.map(exprColumn(cat, _, env)))
  }

  /** A column reference under the lambda binding stack `env`: a bare name
    * bound there is its lambda variable, scanned LAST-first so an inner
    * variable shadows an outer one of the same name (lexical scope).
    * Inside a lambda body every other reference rejects — outer-column
    * capture (DuckDB allows it; a clear error beats silently reading the
    * wrong scope under the dialect's rename machinery). Outside one, a
    * ref is its frame column; doc-paths are not addressable there. */
  private def refColumn(r: ColRef, env: Seq[(String, Column)]): Column =
    env.reverseIterator.collectFirst {
      case (v, x) if r.table.isEmpty && v == r.column => x
    }.getOrElse {
      require(env.isEmpty, "lambda bodies may reference only the lambda " +
        s"variable${if (env.size > 1) "s" else ""} " +
        s"${env.map(b => s"`${b._1}`").mkString(", ")} and literals — " +
        s"got ${if (r.table.nonEmpty) s"${r.table}." else ""}${r.column}")
      require(!r.column.startsWith("~"),
        "doc-paths are not addressable inside expressions — project the " +
          "leaf through a CTE first")
      col(r.column)
    }

  /** The scalar-function dispatch over PRE-LOWERED argument columns (a
    * lambda body's arguments already resolved under its bindings). `args`
    * stays available for the literal-extraction cases (formats, pads). */
  private def scalarFunc(cat: GraftCatalog, fn: String, args: Seq[Expr],
                         a: Seq[Column]): Column =
      fn match {
        case "upper" => upper(a(0))
        case "lower" => lower(a(0))
        // char length; Spark returns INT, DuckDB BIGINT — pin long so
        // the engines agree on the output schema
        case "length" => length(a(0)).cast("long")
        case "trim" => trim(a(0))
        case "abs" => abs(a(0))
        // Spark floor/ceil(double) already return LONG; DuckDB returns
        // DOUBLE — oracles cast (documented on EFunc)
        case "floor" => floor(a(0))
        case "ceil" => ceil(a(0))
        // 1-based, like both engines; 2-arg form runs to end of string
        case "substr" =>
          val len = if (a.length == 3) a(2).cast("int") else lit(Int.MaxValue)
          a(0).substr(a(1).cast("int"), len)
        // date parts from timestamp/date columns; INT on Spark, BIGINT
        // on DuckDB — pin long
        case "year" => year(a(0)).cast("long")
        case "month" => month(a(0)).cast("long")
        case "day" => dayofmonth(a(0)).cast("long")
        // n-ary first-non-null / ANSI NULLIF
        case "coalesce" => coalesce(a: _*)
        case "nullif" => when(a(0) === a(1), lit(null)).otherwise(a(0))
        // null-propagating, like the SQL `||` chain (the DuckDB oracle
        // spelling); DuckDB's own concat() skips nulls instead
        case "concat" => concat(a: _*)
        // half away from zero on both engines; scale is a static int
        // (validated an ELit at parse)
        case "round" =>
          if (a.length == 1) round(a(0))
          else round(a(0), args(1).asInstanceOf[ELit].v.asInstanceOf[Long].toInt)
        case "replace" => replace(a(0), a(1), a(2))
        case "mod" => a(0) % a(1)
        case "hour" => hour(a(0)).cast("long")
        case "minute" => minute(a(0)).cast("long")
        // ISO week on both engines; quarter/dayofyear also agree —
        // INT on Spark, BIGINT on DuckDB, pin long like the other parts
        case "quarter" => quarter(a(0)).cast("long")
        case "week" => weekofyear(a(0)).cast("long")
        case "dayofyear" => dayofyear(a(0)).cast("long")
        // unit validated a literal at parse; Spark takes (unit, ts),
        // timestamp out on both engines
        case "date_trunc" =>
          date_trunc(args.head.asInstanceOf[ELit].v.asInstanceOf[String], a(1))
        // whole-day shifts, DATE out (the operand casts to date first —
        // Spark semantics; the oracle spells CAST(x AS DATE) ± n)
        case "date_add" => date_add(a(0), a(1).cast("int"))
        case "date_sub" => date_sub(a(0), a(1).cast("int"))
        // regexp tier (round-11) — Java regex semantics, patterns static
        // literals where Spark requires them (validated at parse):
        // regexp_replace replaces ALL occurrences (DuckDB's 'g' flag),
        // regexp_extract returns '' on no match (both engines), split is
        // regex-delimited (DuckDB string_split_regex), split_part 1-based
        // on a literal delimiter (both engines; Spark errors on part 0
        // like DuckDB)
        case "regexp_replace" => regexp_replace(a(0), a(1), a(2))
        case "regexp_extract" => regexp_extract(a(0),
          args(1).asInstanceOf[ELit].v.asInstanceOf[String],
          args(2).asInstanceOf[ELit].v.asInstanceOf[Long].toInt)
        case "split" => split(a(0),
          args(1).asInstanceOf[ELit].v.asInstanceOf[String])
        case "split_part" => split_part(a(0), a(1), a(2).cast("int"))
        // string tier 3 (round-11): 1-based position (0 absent — both
        // engines), pad/truncate to length, boolean containment tests
        case "instr" => position(a(1), a(0)).cast("long")
        case "lpad" => lpad(a(0), a(1).cast("int"), a(2))
        case "rpad" => rpad(a(0), a(1).cast("int"), a(2))
        case "contains" => a(0).contains(a(1))
        case "starts_with" => a(0).startsWith(a(1))
        case "ends_with" => a(0).endsWith(a(1))
        // round-13 tier 4: day-boundary difference (Spark datediff is
        // (end, start); INT on Spark, BIGINT on DuckDB — pin long),
        // month-end date, IEEE sqrt, null-skipping extrema
        case "datediff" => datediff(a(0), a(1)).cast("long")
        case "last_day" => last_day(a(0))
        case "sqrt" => sqrt(a(0))
        case "greatest" => greatest(a: _*)
        case "least" => least(a: _*)
        // round-13 tier 5: space trims, reversal, static repetition,
        // length-clamped prefix/suffix (substr composition — see the
        // arity map's semantics notes), DuckDB-spelled position,
        // positional char mapping, first codepoint, md5 hex digest,
        // BIGINT-pinned sign, IEEE power
        case "ltrim" => ltrim(a(0))
        case "rtrim" => rtrim(a(0))
        case "reverse" => reverse(a(0))
        case "repeat" => repeat(a(0),
          args(1).asInstanceOf[ELit].v.asInstanceOf[Long].toInt)
        case "left" => a(0).substr(lit(1), a(1).cast("int"))
        case "right" =>
          val n = a(1).cast("int")
          a(0).substr(greatest(length(a(0)) - n + lit(1), lit(1)), n)
        case "strpos" => position(a(1), a(0)).cast("long")
        case "translate" => translate(a(0),
          args(1).asInstanceOf[ELit].v.asInstanceOf[String],
          args(2).asInstanceOf[ELit].v.asInstanceOf[String])
        case "ascii" => ascii(a(0))
        case "md5" => md5(a(0))
        // round-14 tier 6: null-skipping separator join (both engines
        // skip NULL args); IEEE-exact logarithms/exponential like sqrt
        case "concat_ws" => concat_ws(
          args.head.asInstanceOf[ELit].v.asInstanceOf[String], a.tail: _*)
        case "ln" => log(a(0))
        case "exp" => exp(a(0))
        case "log2" => log2(a(0))
        case "log10" => log10(a(0))
        // round-14 list tier — all codegen'd array ops, scan-side
        case "epoch" => unix_micros(a(0).cast("timestamp")).cast("double") /
          lit(1000000.0)
        case "epoch_ms" => unix_millis(a(0).cast("timestamp"))
        case "timestamp_millis" => timestamp_millis(a(0))
        case "len" => size(a(0)).cast("long")
        case "list_contains" => array_contains(a(0), a(1))
        // list tier 2 (round-15) — scan-side codegen'd array ops.
        // array_sort (not sort_array): DuckDB's list_sort puts NULL
        // elements LAST, which is array_sort's contract
        case "list_sort" => array_sort(a(0))
        case "list_reverse" => reverse(a(0))
        // SORTED distinct: DuckDB's list_distinct is hash-ordered, so
        // the deterministic cross-engine mirror sorts both sides
        case "list_distinct" => array_sort(array_distinct(a(0)))
        case "list_concat" => concat(a(0), a(1))
        // 1-based, NULL out of bounds (both engines)
        case "list_extract" => try_element_at(a(0), a(1).cast("int"))
        // DuckDB's INCLUSIVE [begin, end]; an inverted range yields []
        case "array_slice" =>
          slice(a(0), a(1).cast("int"),
            greatest(a(2) - a(1) + lit(1), lit(0)).cast("int"))
        case "flatten" => flatten(a(0))
        // 1-based first match, 0 when absent — matching Spark's
        // array_position AND the oracle engine (DuckDB 1.0, verified: no
        // match → 0). KNOWN DIVERGENCE from DuckDB ≥1.1, which changed
        // list_position to return NULL when absent; callers wanting that
        // spelling compose nullif(list_position(l, x), 0). The golden
        // (hashql_list_tier2's pz column) probes an ABSENT element so
        // the 0-convention is oracle-proven, not masked.
        case "list_position" => array_position(a(0), a(1))
        case "list_min" => array_min(a(0))
        case "list_max" => array_max(a(0))
        // round-16 membership/edit tier — see the arity registry notes
        case "levenshtein" => levenshtein(a(0), a(1)).cast("long")
        case "list_has_any" => arrays_overlap(a(0), a(1))
        // ⊆: every element of the SECOND list appears in the first
        // (DuckDB's argument order); empty sub-list → true both engines
        case "list_has_all" => size(array_except(a(1), a(0))) === 0
        case "list_intersect" => array_sort(array_intersect(a(0), a(1)))
        // exact integer fold — order-free, so deterministic anywhere;
        // NULL elements skip and a NULL/empty effective list yields
        // NULL, like DuckDB's list_sum
        case "list_sum" =>
          val nn = filter(a(0), _.isNotNull)
          when(size(nn) <= 0, lit(null)).otherwise(
            aggregate(nn, lit(0L), (acc, x) => acc + x.cast("long")))
        case "list_unique" => size(array_distinct(a(0))).cast("long")
        case "array_to_string" => array_join(a(0),
          args(1).asInstanceOf[ELit].v.asInstanceOf[String])
        case "make_date" => make_date(a(0), a(1), a(2))
        case "sign" => signum(a(0)).cast("long")
        case "power" => pow(a(0), a(1))
        // DuckDB %-codes → Spark's date_format pattern (the format is a
        // validated static literal, so the translation is total); both
        // engines zero-pad, so the rendered strings are identical
        case "strftime" | "strptime" | "try_strptime" =>
          val f = args(1).asInstanceOf[ELit].v.asInstanceOf[String]
          val pattern = f
            .replace("%Y", "yyyy").replace("%y", "yy")
            .replace("%m", "MM").replace("%d", "dd")
            .replace("%H", "HH").replace("%M", "mm")
            .replace("%S", "ss").replace("%j", "DDD")
          // strptime RAISES on malformed input under Spark's ANSI
          // default — DuckDB strptime parity; try_strptime is the
          // forgiving NULL pair (DuckDB try_strptime parity)
          if (fn == "strftime") date_format(a(0), pattern)
          else if (fn == "strptime") to_timestamp(a(0), pattern)
          else try_to_timestamp(a(0), lit(pattern))
      }

  /** Column names a scalar expression references (CASE conditions
    * included) — the grouped-select guard checks these against the
    * grouping keys. */
  private def exprRefs(e: Expr): Set[String] =
    refsOf(_.expr(e), outputSide = true).map(_.column).toSet

  /** The distinct aggregate calls inside an expression tree (CASE
    * conditions included — `case when sum(x) > 0 then …`), in first-
    * occurrence order. */
  private def aggNodes(e: Expr): Seq[EAgg] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[EAgg]
    rewrite(expr = { case a: EAgg => out += a; a }).expr(e)
    out.distinct.toSeq
  }

  /** Replace each EAgg with a bare reference to its reserved aggregate
    * output column — the post-aggregation rewrite. */
  private def substAggs(e: Expr, m: Map[EAgg, String]): Expr =
    rewrite(expr = { case a: EAgg => ECol(ColRef("", m(a))) }).expr(e)

  private def aggColumnOf(cat: GraftCatalog, a: EAgg, name: String): Column =
    aggFn(a.fn)(exprColumn(cat, a.arg)).as(name)
  private def predRefs(p: Pred): Set[String] =
    refsOf(_.pred(p), outputSide = true).map(_.column).toSet

  /** TABLE qualifiers a scalar expression references (bare output-alias
    * refs carry no table and don't count) — subquery planning uses these
    * to classify conjuncts as local vs correlated. */
  private def exprTables(e: Expr): Set[String] =
    refsOf(_.expr(e)).map(_.table).filter(_.nonEmpty).toSet
  /** TABLE qualifiers a predicate references — a subquery arm's OUTER
    * side included (`t.n in (select …)` reads t), its body not (that
    * carries its own FROM scope). */
  private def predTables(p: Pred): Set[String] =
    refsOf(_.pred(p)).map(_.table).filter(_.nonEmpty).toSet

  /** Outer-table references inside a subquery's PROJECTED items — a
    * correlation form no branch supports (r12 advice: exprColumn ignores
    * table qualifiers, so `( select sum(t.b) from u … )` would silently
    * bind t.b to u's column named b and compute a wrong aggregate).
    * Checked up front by every scalar-subquery consumer, so the reject
    * covers the uncorrelated and eq-correlated branches exactly like the
    * range branch's per-node check. */
  private def scalarItemLeak(sub: Select, subTables: Set[String]): Seq[String] =
    refsOf(k => sub.items.map(mapItem(_, k))).map(_.table)
      .filter(t => t.nonEmpty && !subTables(t)).distinct

  /** HAVING/QUALIFY right-hand side: a raw literal compares as ever; an
    * [[Expr]] (round-12 — `having sum_x > cnt * 2`) lowers over the
    * aggregated frame's OUTPUT columns (Compare.cmp's lit() passes a
    * Column through untouched). */
  /** Fold HAVING/QUALIFY conjuncts over a frame: literal and Expr RHSs
    * are plain Filters; a [[SubVal]] RHS attaches its broadcast scalar
    * through [[scalarCompare]] (1-row cross join, plan-only) before
    * filtering and sheds the reserved columns — the round-13 direct
    * TPC-H-Q11 spelling. */
  private def applyHavingPreds(cat: GraftCatalog, df0: DataFrame,
                               hs: Seq[HavingPred],
                               registry: Option[JoinRegistry]): DataFrame =
    hs.foldLeft(df0) { (d, h) =>
      h.value match {
        case SubVal(sub) =>
          val (joined, cmpC, reserved) =
            scalarCompare(cat, d, ColRef("", h.column), h.op, sub, registry)
          joined.filter(cmpC).drop(reserved: _*)
        case _ =>
          d.filter(graft.core.Compare.cmp(col(h.column), h.op, hrhs(cat, h)))
      }
    }

  private def hrhs(cat: GraftCatalog, h: HavingPred): Any = h.value match {
    case _: SubVal => throw new IllegalStateException(
      "subquery HAVING values lower through applyHavingPreds") // unreachable
    case e: Expr => exprColumn(cat, e)
    case v => v
  }

  /** The OUTPUT column name a select item produces (the projection's
    * auto-aliases for aggregate/window calls) — ORDER BY ALL expands
    * through this; None for items with no single addressable name
    * (Star, doc paths). */
  private def outputNameOf(it: SelectItem): Option[String] = it match {
    case Field(r) if !r.column.startsWith("~") => Some(r.column)
    case AggExprItem(_, _, a) => Some(a)
    case ExprItem(_, a) => Some(a)
    case StringAggItem(_, _, a, _, _, _) => Some(a)
    case ArgExtremeItem(_, _, _, a) => Some(a)
    case GroupingItem(_, a) => Some(a)
    case w: WinCall => Some(winAlias(w))
    case s0: ScalarSubItem => Some(s0.alias)
    case x: ExistsItem => Some(x.alias)
    case _ => None
  }

  /** Window output auto-aliases: `rn` / `rnk` / `wsum_<col>` —
    * addressable in ORDER BY like every other output column. */
  private def winAlias(w: WinCall): String = w.alias.getOrElse(w.fn match {
    case "row_number" => "rn"
    case "rank" => "rnk"
    case "dense_rank" => "drnk"
    case "ntile" => "ntl"
    case "percent_rank" => "prnk"
    case "cume_dist" => "cdist"
    case "nth_value" => s"nv_${w.arg.get.column}"
    case "sum" => s"wsum_${w.arg.get.column}"
    case "avg" => s"wavg_${w.arg.get.column}"
    case "min" => s"wmin_${w.arg.get.column}"
    case "max" => s"wmax_${w.arg.get.column}"
    // count(*) over → wcnt; count(t.f) over → wcnt_f (non-null counted)
    case "count" => w.arg.fold("wcnt")(r => s"wcnt_${r.column}")
    case "first_value" => s"fv_${w.arg.get.column}"
    case "last_value" => s"lv_${w.arg.get.column}"
    case "lag" | "lead" => s"${w.fn}_${w.arg.get.column}"
  })

  private def winColumn(w: WinCall): Column = {
    import org.apache.spark.sql.expressions.Window
    val spec0 =
      if (w.part.isEmpty) Window.partitionBy()
      else Window.partitionBy(w.part.map(p => col(p.column)): _*)
    // ASC pins NULLS LAST (round-14): Spark's asc default is
    // nulls-FIRST while DuckDB's is nulls-last — a nullable window
    // order key would rank rows differently per engine (the same
    // pinning the statement-level ORDER BY has carried since round 12;
    // desc defaults already agree on nulls-last)
    val ordered =
      if (w.order.isEmpty) spec0
      else spec0.orderBy(w.order.map { case (r, d) =>
        if (d) col(r.column).desc else col(r.column).asc_nulls_last }: _*)
    // ROWS frames carry their (lo, hi) offsets from the parser (unbounded
    // = Long.MinValue/MaxValue — Spark's Window.unbounded* sentinels);
    // Spark and DuckDB share the frame semantics, and the frame's
    // evaluation order is the window order — deterministic.
    // A day-ranged frame (round-12) orders by the key's DAY NUMBER (days
    // since epoch — same order, same peers for DATE keys; timestamps
    // truncate to their date: whole-day window semantics) and applies a
    // numeric rangeBetween — Spark's native range frame, no self-join.
    // A second-ranged frame (round-13 — hour/minute/second intervals)
    // orders by the key's EPOCH SECONDS instead: exact-timestamp window
    // semantics, still Spark's native numeric rangeBetween.
    val spec = (w.frame, w.rangeUnit) match {
      case (Some((lo, hi)), Some("day")) =>
        val dayNo = datediff(col(w.order.head._1.column).cast("date"),
          lit(java.sql.Date.valueOf("1970-01-01")))
        spec0.orderBy(dayNo.asc).rangeBetween(lo, hi)
      case (Some((lo, hi)), Some(_)) =>
        val sec = unix_timestamp(col(w.order.head._1.column))
        spec0.orderBy(sec.asc).rangeBetween(lo, hi)
      case (Some((lo, hi)), None) => ordered.rowsBetween(lo, hi)
      case _ => ordered
    }
    w.fn match {
      case "row_number" => row_number().over(spec)
      case "rank" => rank().over(spec)
      case "dense_rank" => dense_rank().over(spec)
      case "ntile" => ntile(w.buckets.get).over(spec)
      // relative ranks (round-13): (rank−1)/(n−1) and the cumulative
      // peer fraction — small-int IEEE divisions, bit-identical on both
      // engines; same one-exchange Window plan as rank
      case "percent_rank" => percent_rank().over(spec)
      case "cume_dist" => cume_dist().over(spec)
      // the n-th row of the ordered frame (buckets carries the static
      // index, like ntile's count); NULL until the running frame has n
      // rows — both engines
      case "nth_value" =>
        nth_value(col(w.arg.get.column), w.buckets.get).over(spec)
      // with ORDER BY and no explicit frame this is the ANSI default
      // RANGE frame (running sum, peers included) — Spark and DuckDB
      // agree; without ORDER BY, the whole partition's sum on every row
      case "sum" => sum(col(w.arg.get.column)).over(spec)
      case "avg" => avg(col(w.arg.get.column)).over(spec)
      // count(*) counts frame rows; count(col) counts non-null — the SQL
      // distinction, per-row over the window
      case "count" =>
        w.arg.fold(count(lit(1)))(r => count(col(r.column))).over(spec)
      // running min/max under ORDER BY; whole-partition extremum without
      case "min" => min(col(w.arg.get.column)).over(spec)
      case "max" => max(col(w.arg.get.column)).over(spec)
      // explicit offsets and miss defaults (round-13): lag(x) ≡
      // lag(x, 1, NULL) — the offset rides the buckets slot like
      // ntile's count / nth_value's index
      case "lag" =>
        lag(col(w.arg.get.column), w.buckets.getOrElse(1),
          w.default.orNull, w.ignoreNulls).over(spec)
      case "lead" =>
        lead(col(w.arg.get.column), w.buckets.getOrElse(1),
          w.default.orNull, w.ignoreNulls).over(spec)
      // first/last value within the frame; with ORDER BY and no explicit
      // frame, the ANSI default frame ends at the current row — so
      // last_value is the CURRENT row's value unless the frame says
      // `rows between … and unbounded following` (both engines agree)
      // TIEBREAK form under a RANGE frame (round-14): the pick is the
      // lexicographic extremum of (raw order key, tiebreak, value) —
      // min/max over a struct, a peer-INSENSITIVE aggregate, so the
      // result is deterministic for ANY data on both engines (struct
      // comparison is field-order lexicographic on Spark and DuckDB
      // alike). The raw key leads the struct: within the frame its
      // order agrees with the frame's day/second dimension.
      case "first_value" | "last_value" if w.tiebreak.isDefined =>
        // IGNORE NULLS composes: a NULL value makes the whole struct
        // NULL via when(), and min/max skip NULL inputs
        val v = col(w.arg.get.column)
        val st = struct(col(w.order.head._1.column).as("k"),
          col(w.tiebreak.get.column).as("t"), v.as("v"))
        val in = if (w.ignoreNulls) when(v.isNotNull, st) else st
        (if (w.fn == "first_value") min(in) else max(in))
          .over(spec).getField("v")
      case "first_value" =>
        first_value(col(w.arg.get.column), lit(w.ignoreNulls)).over(spec)
      case "last_value" =>
        last_value(col(w.arg.get.column), lit(w.ignoreNulls)).over(spec)
    }
  }

  /** Aggregate output columns with their dialect auto-aliases (cnt,
    * sum_x, …) — shared by the SELECT executor and the agg-view builder
    * so the view's stored names are exactly the names queries produce. */
  private def aggsOf(cat: GraftCatalog, items: Seq[SelectItem]): Seq[Column] = {
    val aggs = aggsRaw(cat, items)
    if (aggs.isEmpty) Seq(count(lit(1)).as("cnt")) else aggs
  }
  /** Like [[aggsOf]] but without the default count — for callers that
    * supply their own aggregate columns (expressions over aggregates). */
  private def aggsRaw(cat: GraftCatalog, items: Seq[SelectItem]): Seq[Column] =
    items.collect {
      // aggregates over columns and computed expressions alike: the
      // expression evaluates scan-side inside whole-stage codegen
      case AggExprItem(fn, e, a) => aggFn(fn)(exprColumn(cat, e)).as(a)
      // sorted-deterministic string aggregation (round-12): collect,
      // sort, join — partitioning-independent; all-NULL/empty groups
      // yield NULL like DuckDB's string_agg, not ''
      case StringAggItem(e, sep, a, None, asList, dist) =>
        // DISTINCT collects the SET (collect_set skips NULLs like
        // collect_list does) — one aggregation either way
        val coll = if (dist) collect_set(exprColumn(cat, e))
                   else collect_list(exprColumn(cat, e))
        val arr = sort_array(coll)
        when(size(arr) === 0, lit(null))
          .otherwise(if (asList) arr else concat_ws(sep, arr)).as(a)
      // explicit within-group ordering (round-15): collect (key, value)
      // structs, sort (value is the deterministic tiebreaker), project
      // the values back out. concat_ws skips NULL elements — DuckDB's
      // string_agg NULL-skip, same as the default form. collect_list
      // skips NULL VALUES scan-side for the list form too, so
      // array_agg's elements match its expression-position twin.
      case StringAggItem(e, sep, a, Some((k, desc)), asList, _) =>
        val ec = exprColumn(cat, e)
        val st = collect_list(when(ec.isNotNull,
          struct(exprColumn(cat, k).as("k"), ec.as("v"))))
        val sorted0 = sort_array(st)
        val sorted = if (desc) reverse(sorted0) else sorted0
        val vals = transform(sorted, s0 => s0.getField("v"))
        when(size(vals) === 0, lit(null))
          .otherwise(if (asList) vals else concat_ws(sep, vals)).as(a)
      // value at the extremal key (round-12; DuckDB arg_min/arg_max)
      case ArgExtremeItem("min_by", v, k, a) =>
        min_by(exprColumn(cat, v), exprColumn(cat, k)).as(a)
      case ArgExtremeItem("max_by", v, k, a) =>
        max_by(exprColumn(cat, v), exprColumn(cat, k)).as(a)
      // ROLLUP/CUBE subtotal marker (round-12): 1 where the key rolled
      // away, 0 on data rows — BIGINT on both engines
      case GroupingItem(r, a) => grouping(col(r.column)).cast("long").as(a)
    }

  /** `create agg view as select …` → one summary parquet at `path` +
    * Catalyst routing ([[graft.matview.MatView.materializeAggregate]]):
    * after this, ANY matching aggregation in the session — the verbatim
    * repeat, a coarser group-by over a key subset, or a grouping-key
    * filter — reads the summary instead of fact rows, dialect and
    * DataFrame queries alike (the route rewrites the optimized plan, so
    * there is no dialect-level read path to keep in sync). DML through
    * [[execute]] with the same `registry` invalidates the route
    * (re-materialize to restore it). Built from FACTS, never through a
    * routed join view — the registration must capture base-table identity
    * for containment matching. Returns the registered view name. */
  def materializeAggView(cat: GraftCatalog, sql: String, path: String,
                         registry: Option[JoinRegistry] = None): String = {
    val sel = parse(sql) match {
      case CreateAggView(s) => s
      case other => throw new IllegalArgumentException(
        s"materializeAggView expects `create agg view as select …`, got $other")
    }
    // containment routing identifies the view child by its INNER-equi-join
    // structure (MatView.flatten) — an outer join has no such identity,
    // so agg views stay inner-only
    require(!sel.joins.exists(_.outer),
      "create agg view supports inner joins only")
    // routing keys on BASE-table identity; an alias-scoped frame has none
    require(sel.aliases.isEmpty && sel.derived.isEmpty,
      "create agg view takes base table names (no aliases or derived tables)")
    // containment identity needs explicit join structure — comma joins
    // leave it in WHERE
    require(sel.froms.isEmpty,
      "create agg view takes explicit `inner join … on …` clauses " +
        "(comma-joined FROM lists don't register)")
    // rollup/cube summaries don't re-aggregate for containment routing
    require(sel.groupMode.isEmpty,
      "create agg view takes a plain GROUP BY (no rollup/cube)")
    val frame = aggViewFrame(cat, sel)
    val tables = (sel.joins.flatMap(j => Seq(j.table, j.l.table, j.r.table))
      .toSet + sel.table).toSeq.sorted
    val name = s"hashqlagg:${tables.mkString("+")}:" +
      sel.groupBy.map(_.column).mkString(",")
    graft.matview.MatView.materializeAggregate(frame.sparkSession, name, frame, path)
    registry.foreach(_.putAggView(name,
      AggViewReg(tables.toSet, frame.sparkSession, path, sel)))
    name
  }

  /** Build a `create agg view` definition frame over the catalog's
    * CURRENT table state — shared by registration and by the delete-delta
    * re-registration (exact-match routing keys on the canonical fact
    * plan, so after copy-on-write DML the entry must re-register against
    * the new plan). */
  private def aggViewFrame(cat: GraftCatalog, sel: Select): DataFrame = {
    var df = cat.table(sel.table)
    sel.joins.foreach { case JoinClause(t, l, r, _, extra, _) =>
      val tdf = cat.table(t)
      val (known, fresh) = if (l.table == t) (r, l) else (l, r)
      // agg views keep the round-10 equality-extras form (containment
      // routing identifies views by their equi-join structure)
      extra.foreach { case (_, op2, rhs) =>
        require(op2 == "=" && rhs.isInstanceOf[ColRef],
          "create agg view joins take column-equality ON conjuncts only") }
      val cond = extra.foldLeft(df(known.column) === tdf(fresh.column)) {
        case (c, (l2, _, r2: ColRef)) =>
          val (k2, f2) = if (l2.table == t) (r2, l2) else (l2, r2)
          c && df(k2.column) === tdf(f2.column)
        case (_, (_, _, bad)) => throw new IllegalStateException(s"$bad")
      }
      df = df.join(tdf, cond)
    }
    sel.wheres.foreach(pr => df = df.filter(predColumn(cat, pr)))
    val aggs = aggsOf(cat, sel.items)
    df.groupBy(sel.groupBy.map(g => col(g.column)): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** CSV/JSONL are not self-describing — COPY TO pins the exact schema
    * in a `_graft_schema.json` sidecar (Spark read ignores `_`-prefixed
    * files) so COPY FROM round-trips loss-free without inferSchema's
    * extra pass and type drift. */
  private def writeSchemaSidecar(df: DataFrame, path: String): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_graft_schema.json"), df.schema.json)
  private def readSchemaSidecar(path: String)
      : org.apache.spark.sql.types.StructType = {
    val p = java.nio.file.Paths.get(path, "_graft_schema.json")
    require(java.nio.file.Files.exists(p),
      s"COPY … FROM (format csv|jsonl) needs the _graft_schema.json " +
        s"sidecar a COPY TO writes — none at $path (use parquet for " +
        "foreign data)")
    org.apache.spark.sql.types.DataType.fromJson(
      java.nio.file.Files.readString(p))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
  }


  /** Execute an UPDATE and return the updated rows' AFTER-image plan
    * (the same O(delta) frame the registry hook gets — captured against
    * the PRE state, so it stays evaluatable after the commit). Shared by
    * the plain statement and its RETURNING form (round-15). */
  private def runUpdate(cat: GraftCatalog, upd: Update,
                        registry: Option[JoinRegistry]): DataFrame =
    upd match {
    case Update(t, sets, wheres, Some(u)) =>
        // join-update (round-14, symmetric with DELETE … USING):
        // classify the WHERE — cross-table equality conjuncts are the
        // join keys, u-local conjuncts filter the source scan, t-local
        // conjuncts gate which matched rows update. ONE left join +
        // ONE hit-guarded copy-on-write projection + ONE commit; SET
        // right-hand sides read source columns through the same
        // reserve-rename MERGE uses. Deterministic by the MERGE
        // cardinality contract (a source matching one target row twice
        // rejects).
        val pre = cat.table(t)
        val src0 = cat.table(u)
        val pairs = scala.collection.mutable.ArrayBuffer.empty[(ColRef, ColRef)]
        val tLocal = scala.collection.mutable.ArrayBuffer.empty[Pred]
        val uLocal = scala.collection.mutable.ArrayBuffer.empty[Pred]
        wheres.foreach {
          case ColEq(a, b) if (a.table == u) != (b.table == u) =>
            pairs += (if (a.table == u) (b, a) else (a, b)) // (t-ref, u-ref)
          case p =>
            require(!subqueryPred(p),
              "subquery predicates cannot mix with UPDATE … FROM — " +
                "stage the row set through a CTE or use MERGE")
            val tabs = predTables(p)
            if (tabs == Set(u)) uLocal += p
            else {
              require(!tabs.contains(u),
                s"an UPDATE … FROM conjunct must live on one table or " +
                  s"be an equality pair across them, got: $p")
              tLocal += p
            }
        }
        val badT = sets.flatMap { case (_, sv) => sv match {
          case SetCol(r2) => Seq(r2.table)
          case SetArith(r2, _, _) => Seq(r2.table)
          case SetExpr(e) => exprTables(e).toSeq
          case SetScalar(_) => throw new IllegalArgumentException(
            "a scalar-subquery SET cannot mix with UPDATE … FROM — " +
              "the source table IS the join; compute over u's columns")
          case _ => Nil
        }}.filter(tb => tb.nonEmpty && tb != t && tb != u).distinct
        require(badT.isEmpty,
          s"UPDATE … FROM expressions reference table(s) " +
            s"${badT.mkString(", ")} — only $t and $u are in scope")
        val src = uLocal.foldLeft(src0)((d, p) =>
          d.filter(predColumn(cat, p)))
        // only source rows that actually HIT a target row are subject to
        // the one-update-per-target rule (round-15, mirroring the MERGE
        // fix) — duplicate keys among no-hit rows update nothing and are
        // harmless; NULL keys never match either way
        val upfKc = pairs.toSeq.map(p => col(p._2.column))
        val upfHit = pairs.toSeq.map { case (tr, ur) =>
          src(ur.column) === pre(tr.column) }.reduce(_ && _)
        val dup = src.join(pre, upfHit, "left_semi")
          .groupBy(upfKc: _*)
          .count().filter(col("count") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"UPDATE … FROM source $u matches a target row more than " +
            s"once (${dup.mkString(", ")}) — de-duplicate the source " +
            "(the MERGE cardinality contract)")
        def mcol(c: String) = s"graft_upf_$c"
        val srcR = src.columns.foldLeft(src)((d, c) =>
          d.withColumnRenamed(c, mcol(c)))
          .withColumn("graft_upf_hit", lit(true))
        val cond = pairs.map { case (tr, ur) =>
          pre(tr.column) === srcR(mcol(ur.column)) }.reduce(_ && _)
        val joined = pre.join(srcR, cond, "left")
        // a NULL t-local predicate keeps the old value (when() treats
        // UNKNOWN as no-update, SQL semantics)
        val guard = coalesce(col("graft_upf_hit"), lit(false)) &&
          tLocal.map(predColumn(cat, _)).reduceOption(_ && _)
            .getOrElse(lit(true))
        def setColF(sv: SetVal): Column = sv match {
          case SetLit(v) =>
            v match { case i: Int => lit(i.toLong); case x => lit(x) }
          case SetCol(r2) =>
            if (r2.table == u) col(mcol(r2.column)) else col(r2.column)
          case SetArith(r2, op, n) =>
            val base = (if (r2.table == u) col(mcol(r2.column))
              else col(r2.column)).try_cast("long")
            op match {
              case "+" => base + n
              case "-" => base - n
              case "*" => base * n
            }
          case SetExpr(e) => exprColumn(cat,
            renameSource(u, mcol, "a MERGE/UPDATE-FROM expression").expr(e))
          case sv0 => throw new IllegalStateException(s"unreachable: $sv0")
        }
        val assigns = sets.map { case (ref, sv) => ref.column -> setColF(sv) }
        val newTable = joined.withColumns(assigns.map { case (f, v) =>
          f -> when(guard, v).otherwise(
            if (pre.columns.contains(f)) col(f) else lit(null))
        }.toMap).drop(srcR.columns.toSeq: _*)
        cat.register(t, newTable)
        // O(delta) hook: the matched-and-gated rows only, before/after
        val before = joined.filter(guard).drop(srcR.columns.toSeq: _*)
        val after = joined.filter(guard).withColumns(assigns.toMap)
          .drop(srcR.columns.toSeq: _*)
        registry.foreach(_.onUpdate(cat, t, before, after))
        after
    case Update(t, sets, wheres, None) =>
        val pre0 = cat.table(t)
        // subquery WHERE predicates (round-13 — the decontamination
        // idiom `update … where id in (select …)`, symmetric with the
        // round-9 DELETE form): the predicate set evaluates to a ROW SET
        // via the same semi/anti machinery SELECT uses, pinned by the
        // dialect id; the matched flag then rides a left join on id into
        // the copy-on-write rewrite. Needs row identity.
        val subq = wheres.exists(subqueryPred)
        if (subq) require(pre0.columns.contains("id"),
          s"UPDATE with a subquery predicate needs table $t's dialect " +
            "id column (raw-registered tables have no row identity)")
        lazy val matchedIds = applyWheres(cat, pre0, wheres, registry)
          .select(col("id").as("graft_upd_id")).distinct()
        def plainCond = wheres.map(predColumn(cat, _))
          .reduceOption(_ && _).getOrElse(lit(true))
        val cond = if (subq) lit(true) else plainCond
        // the update IS a retraction pair: retract the matched rows'
        // before-image, append their after-image (matched set pinned by
        // id against the PRE plan — the SET may change the very columns
        // the WHERE tested)
        val before =
          if (subq) pre0.join(matchedIds, pre0("id") === col("graft_upd_id"),
            "left_semi")
          else pre0.filter(cond)
        // each SET right-hand side as a Column — applied once through the
        // catalog's copy-on-write rewrite (ALL assignments in ONE
        // projection, every RHS against the BEFORE image — SQL's
        // simultaneous semantics), and once to the captured before-frame
        // to derive the after-image O(delta): the updated rows are
        // exactly the before rows with the SETs applied, so the hook
        // never rescans the post-update table
        def setCol(sv: SetVal): Column = sv match {
          case SetLit(v) => v match { case i: Int => lit(i.toLong); case x => lit(x) }
          case SetCol(r2) => col(r2.column)
          case SetArith(r2, op, n) =>
            val base = col(r2.column).try_cast("long")
            op match {
              case "+" => base + n
              case "-" => base - n
              case "*" => base * n
            }
          case SetExpr(e) => exprColumn(cat, e)
          // UNCORRELATED scalar-subquery RHS (round-12): one 1×1
          // evaluation against the PRE-update state, assigned as a
          // literal (correlated forms take the decorrelated-join path
          // below instead)
          case SetScalar(sub) =>
            val subTables = fromTables(sub)
            // the projected value too (r12 advice): `set t.a = ( select
            // max(t.b) from u )` would silently bind t.b to u's column b
            val itemLeak = scalarItemLeak(sub, subTables)
            require(itemLeak.isEmpty,
              s"UPDATE's scalar subquery projects outer table(s) " +
                s"${itemLeak.mkString(", ")} — the value must be computed " +
                "from the subquery's own tables")
            val sf = selectFrame(cat, sub, registry)
            require(sf.columns.length == 1,
              "UPDATE's scalar subquery must project exactly one column")
            val rows = sf.limit(2).collect()
            require(rows.length == 1,
              s"UPDATE's scalar subquery must yield exactly one row, " +
                s"got ${rows.length} — aggregate it")
            lit(rows.head.get(0))
        }
        // is a SET scalar subquery CORRELATED (its WHERE references a
        // table outside its own FROM set)? Correlation may target the
        // UPDATED table only — it is the one frame the assignment row
        // provides.
        def corrTables(sub: Select): Seq[String] = {
          val subTables = fromTables(sub)
          sub.wheres.flatMap(p =>
            predTables(p).filterNot(subTables.contains)).distinct
        }
        val correlated = sets.collect {
          case (ref, SetScalar(sub)) if corrTables(sub).nonEmpty => (ref, sub)
        }
        if (correlated.isEmpty && !subq) {
          val assigns = sets.map { case (ref, sv) => ref.column -> setCol(sv) }
          cat.updateExprs(t, assigns, cond)
          val after = before.withColumns(assigns.toMap)
          registry.foreach(_.onUpdate(cat, t, before, after))
          after
        } else {
          // CORRELATED UPDATE (round-13 — r12 queue #4): `set t.a =
          // ( select max(u.b) from u where u.k = t.k )` decorrelates
          // through the SAME scalarJoin plan SELECT uses — grouped
          // aggregate over the subquery side, one left equi-join back to
          // the table on the correlation keys (per-DISTINCT-key, never
          // per-row), ANSI miss semantics (counts 0, others NULL). All
          // right-hand sides still evaluate against the BEFORE image
          // simultaneously; the whole rewrite is one copy-on-write
          // commit. The O(delta) hook gets the same plan applied to the
          // matched-rows-only before frame.
          correlated.foreach { case (_, sub) =>
            val bad = corrTables(sub).filterNot(_ == t)
            require(bad.isEmpty,
              s"UPDATE's scalar subquery may correlate only through the " +
                s"updated table $t — it references ${bad.mkString(", ")}")
          }
          def applyUpdate(frame: DataFrame, cnd: Column): DataFrame = {
            var acc = frame
            val reserved = scala.collection.mutable.ArrayBuffer.empty[String]
            val values = sets.zipWithIndex.map {
              case ((ref, SetScalar(sub)), i) if corrTables(sub).nonEmpty =>
                val (joined, v, _, res) = scalarJoin(cat, acc, sub, registry)
                // pin the value into a reserved column and shed the
                // join's own reserved names immediately, so chained
                // correlated assignments never collide on them
                val vc = s"graft_updv_$i"
                acc = joined.withColumn(vc, v).drop(res: _*)
                reserved += vc
                ref.column -> col(vc)
              case ((ref, sv), _) => ref.column -> setCol(sv)
            }
            acc.withColumns(values.map { case (f, v) =>
              f -> when(cnd, v).otherwise(
                if (frame.columns.contains(f)) col(f) else lit(null))
            }.toMap).drop(reserved.toSeq: _*)
          }
          // build BOTH plans against the PRE state, then commit. The
          // subquery-WHERE form joins the matched-id flag in (left join
          // on id — the unmatched rows keep their columns through the
          // when-otherwise); the after-image starts from the matched
          // rows, so its guard is constant-true.
          val (start, startCond, startDrop) =
            if (subq) (pre0.join(matchedIds,
              pre0("id") === col("graft_upd_id"), "left"),
              col("graft_upd_id").isNotNull, Seq("graft_upd_id"))
            else (pre0, cond, Seq.empty[String])
          val newTable = applyUpdate(start, startCond).drop(startDrop: _*)
          val after = applyUpdate(before, lit(true))
          cat.register(t, newTable)
          registry.foreach(_.onUpdate(cat, t, before, after))
          after
        }
    }

  /** Execute a DELETE and return the deleted rows' BEFORE-image plan
    * (captured ahead of the copy-on-write commit — plans are immutable,
    * so it stays evaluatable after). Shared by the plain statement and
    * its RETURNING form (round-15). */
  private def runDelete(cat: GraftCatalog, del: Delete,
                        registry: Option[JoinRegistry]): DataFrame =
    del match {
      case Delete(t, wheres, Some(u)) =>
        // join-delete (round-13): classify the WHERE into cross-table
        // equality conjuncts (the join condition), t-local and u-local
        // filters; ONE semi join computes the doomed id set — never a
        // row-at-a-time probe
        val pre = cat.table(t)
        require(pre.columns.contains("id"),
          s"DELETE … USING needs table $t's dialect id column " +
            "(raw-registered tables have no row identity)")
        val uF0 = cat.table(u)
        val pairs = scala.collection.mutable.ArrayBuffer.empty[(ColRef, ColRef)]
        val tLocal = scala.collection.mutable.ArrayBuffer.empty[Pred]
        val uLocal = scala.collection.mutable.ArrayBuffer.empty[Pred]
        wheres.foreach {
          case ColEq(a, b) if (a.table == u) != (b.table == u) =>
            pairs += (if (a.table == u) (b, a) else (a, b)) // (t-ref, u-ref)
          case p =>
            val tabs = predTables(p)
            if (tabs == Set(u)) uLocal += p
            else {
              require(!tabs.contains(u),
                s"a DELETE … USING conjunct must live on one table or be " +
                  s"an equality pair across them, got: $p")
              tLocal += p
            }
        }
        val tF = tLocal.foldLeft(pre)((d, p) => d.filter(predColumn(cat, p)))
        val uF = uLocal.foldLeft(uF0)((d, p) => d.filter(predColumn(cat, p)))
        val cond = pairs.map { case (tr, ur) =>
          tF(tr.column) === uF(ur.column) }.reduce(_ && _)
        val doomed = tF.join(uF, cond, "left_semi").select("id")
        cat.deleteRows(t, doomed)
        val deleted = pre.join(doomed, Seq("id"), "left_semi")
        registry.foreach(_.onDelete(cat, t, deleted))
        deleted
      case Delete(t, wheres, None) =>
        // capture the deleted rows' plan BEFORE the copy-on-write rewrite
        // (plans are immutable, so it stays evaluatable after); the hook
        // then folds negated partials into deltable aggregate views and
        // invalidates everything else
        val pre = cat.table(t)
        val deleted =
          if (wheres.exists(subqueryPred)) {
            // subquery predicates (the decontamination idiom — `delete …
            // where id in (select …)`) evaluate to a ROW SET via the same
            // semi/anti machinery SELECT uses; the doomed ids then drop
            // by one anti-join. Needs the dialect id column for identity.
            require(pre.columns.contains("id"),
              s"DELETE with a subquery predicate needs table $t's dialect " +
                "id column (raw-registered tables have no row identity)")
            val doomed = applyWheres(cat, pre, wheres, registry).select("id")
            cat.deleteRows(t, doomed)
            pre.join(doomed, Seq("id"), "left_semi")
          } else {
            val cond = wheres.map(predColumn(cat, _))
              .reduceOption(_ && _).getOrElse(lit(true))
            cat.delete(t, cond)
            pre.filter(cond)
          }
        registry.foreach(_.onDelete(cat, t, deleted))
        deleted
    }

  /** Conform the literal row frames an INSERT just appended to the
    * post-insert table schema: union them, add typed nulls for table
    * columns no row supplied, cast shared columns to the table's
    * (possibly union-widened) type, in table column order. The result is
    * a plan over LocalRelations only — the O(delta) feed for
    * [[JoinRegistry.onInsert]]; ScaleSpec asserts it never scans a
    * fact-table file. */
  private[graft] def insertDeltaFrame(post: DataFrame,
                                      rowDfs: Seq[DataFrame]): DataFrame = {
    val delta0 = rowDfs.reduce(_.unionByName(_, allowMissingColumns = true))
    delta0.select(post.schema.fields.toSeq.map { f =>
      (if (delta0.columns.contains(f.name)) col(f.name)
       else lit(null)).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Execute a dialect statement. DDL/DML mutate the catalog and return
    * None; SELECT returns the result frame. */
  def execute(cat: GraftCatalog, sql: String,
              registry: Option[JoinRegistry] = None): Option[DataFrame] =
    executeStmt(cat, parse(sql), registry)

  private def executeStmt(cat: GraftCatalog, stmt: Stmt,
                          registry: Option[JoinRegistry]): Option[DataFrame] =
    stmt match {
      // INSERT … ON CONFLICT (round-15 — DuckDB's upsert verb):
      // desugars onto the MERGE machinery — the VALUES batch becomes a
      // scoped inline source, `excluded.c` references rewrite to it,
      // DO NOTHING is the insert-only merge (one anti join), DO UPDATE
      // adds the matched clause. Duplicate conflict keys WITHIN the
      // batch reject up front (DuckDB errors there too) — checked on
      // the literal rows, zero cost.
      case UpsertValues(t, fields, rows, keys, action) =>
        require(cat.exists(t),
          s"INSERT … ON CONFLICT needs an existing table $t " +
            "(a plain INSERT creates it)")
        val keyIdx = keys.map(fields.indexOf)
        require(keyIdx.forall(_ >= 0),
          s"ON CONFLICT keys must be inserted columns — " +
            s"${keys.zip(keyIdx).collect { case (k, -1) => k }.mkString(", ")}")
        val tuples = rows.map(r => keyIdx.map(r(_)))
        require(tuples.distinct.size == tuples.size,
          "the VALUES batch has duplicate conflict keys — de-duplicate " +
            "the batch (DuckDB rejects it too)")
        val srcName = "graft_upsert_src"
        require(!cat.exists(srcName) && !cat.isShadowed(srcName),
          s"reserved name $srcName is taken")
        val srcDf = inlineFrame(cat, InlineValues(fields, rows))
        def rex(e: Expr): Expr = refsNoSubquery(
          r => if (r.table == "excluded") ColRef(srcName, r.column) else r,
          "unsupported predicate inside an ON CONFLICT DO UPDATE expression")
          .expr(e)
        val matched = action match {
          case None => Nil
          case Some(sets) =>
            Seq(MergeMatched(None, sets.map { case (ref, e) =>
              (ref, rex(e)) }, delete = false))
        }
        val nm = Seq((fields,
          fields.map(f => ECol(ColRef(srcName, f)): Expr),
          None: Option[Pred]))
        val on = keys.map(k => (ColRef(t, k), ColRef(srcName, k)))
        cat.withScope(Map(srcName -> srcDf))(
          executeStmt(cat, Merge(t, srcName, on, matched, nm, Nil),
            registry))
      case Insert(t, fs, rows) =>
        // a null value is the field omitted for that row — schema union
        // supplies the null (and no type is invented for it)
        val rowDfs = rows.map(r => cat.insert(t, fs.zip(r).filter(_._2 != null)))
        // the inserted rows ARE the literals the executor just appended —
        // the delta frame is their LocalRelations conformed to the
        // post-insert schema, O(delta) with zero fact-table I/O (an
        // anti-join derivation would shuffle the whole table to recover
        // rows already in hand). A table registered WITHOUT the dialect's
        // id column (raw parquet) predates synthesized identity — but the
        // delta fold never needs identity on INSERT (appends fold by
        // positive partials alone), so it gets the same O(delta) feed.
        registry.foreach(_.onInsert(cat, t,
          insertDeltaFrame(cat.table(t), rowDfs)))
        None
      case InsertSelect(t, fs, body) =>
        // bulk append (round-12): the query's rows land with synthesized
        // ids continuing the counter; the delta (already materialized by
        // insertSelect for id stability) feeds the same O(delta) hook
        var frame = queryFrame(cat, body, registry)
        if (fs.nonEmpty) {
          require(frame.columns.length == fs.length,
            s"insert column list names ${fs.length} fields, the select " +
              s"projects ${frame.columns.length}")
          frame = frame.toDF(fs: _*)
        }
        val delta = cat.insertSelect(t, frame)
        registry.foreach(_.onInsert(cat, t,
          insertDeltaFrame(cat.table(t), Seq(delta))))
        None
      case CreateTableAs(t, sel) =>
        require(!cat.exists(t), s"create table: $t already exists")
        cat.register(t, sel match {
          case s: Select => selectFrame(cat, s, registry)
          case u: Union => unionFrame(cat, u, registry)
          case so: SetOpChain => setOpFrame(cat, so, registry)
          case other => throw new IllegalStateException(s"CTAS over $other")
        })
        None
      case u0: Update => runUpdate(cat, u0, registry); None
      case Returning(u0: Update, cols) =>
        val after = runUpdate(cat, u0, registry)
        Some(if (cols.isEmpty) after else after.select(cols.map(col): _*))
      case Merge(t, u, on, matched, notMatched, bySource) =>
        val pre = cat.table(t)
        val src = cat.table(u)
        // every computed ref must live on the target or the source
        val inScope = Set(t, u)
        val badRefs = (matched.flatMap(_.sets.map(_._2)) ++
          notMatched.flatMap(_._2))
          .flatMap(exprTables).filterNot(inScope).distinct
        require(badRefs.isEmpty,
          s"MERGE expressions reference table(s) ${badRefs.mkString(", ")}" +
            s" — only the target ($t) and source ($u) are in scope")
        // clause-condition scope (round-15): WHEN MATCHED guards see
        // target+source (the matched join row carries both); a
        // NOT MATCHED insert guard sees the SOURCE only (the row has no
        // target image); a BY SOURCE guard — and (round-16) a BY SOURCE
        // update's right-hand sides — see the TARGET only. No
        // subqueries anywhere — stage those through a CTE.
        matched.flatMap(_.cond).foreach { p =>
          require(!subqueryPred(p),
            "a MERGE clause condition cannot carry subqueries — stage " +
              "the row set through a CTE")
          val bad = predTables(p).filterNot(inScope)
          require(bad.isEmpty,
            s"a WHEN MATCHED condition references table(s) " +
              s"${bad.mkString(", ")} — only $t and $u are in scope")
        }
        notMatched.flatMap(_._3).foreach { p =>
          require(!subqueryPred(p),
            "a MERGE clause condition cannot carry subqueries — stage " +
              "the row set through a CTE")
          val bad = predTables(p).filterNot(_ == u)
          require(bad.isEmpty,
            s"a WHEN NOT MATCHED condition reads SOURCE ($u) columns " +
              s"only — it references ${bad.mkString(", ")}")
        }
        bySource.flatMap(_.cond).foreach { p =>
          require(!subqueryPred(p),
            "a MERGE clause condition cannot carry subqueries — stage " +
              "the row set through a CTE")
          val bad = predTables(p).filterNot(_ == t)
          require(bad.isEmpty,
            s"a WHEN NOT MATCHED BY SOURCE condition reads TARGET ($t) " +
              s"columns only — it references ${bad.mkString(", ")}")
        }
        bySource.flatMap(_.sets.map(_._2)).foreach { e =>
          val bad = exprTables(e).filterNot(_ == t)
          require(bad.isEmpty,
            s"a WHEN NOT MATCHED BY SOURCE update reads TARGET ($t) " +
              s"columns only (there is no source image) — it " +
              s"references ${bad.mkString(", ")}")
        }
        // ANSI cardinality: at most ONE source row may UPDATE a target
        // row. Only source rows that actually HIT a target row are
        // subject to the rule (r14 advice) — duplicate keys among pure
        // inserts are legal (ANSI inserts EVERY not-matched source row),
        // so one semi join against the target precedes the bounded
        // aggregate. The source is the delta side, typically small;
        // never a target rescan. Delete-only merges stay exempt
        // (deletion is idempotent). With CONDITIONAL clauses this is
        // deliberately conservative: two hits whose guards are disjoint
        // would be ANSI-legal, but which fires is data-dependent — the
        // explicit reject keeps the statement deterministic.
        if (matched.exists(_.sets.nonEmpty)) {
          val kc = on.map(p => col(p._2.column))
          val hitCond = on.map { case (tr, ur) =>
            src(ur.column) === pre(tr.column) }.reduce(_ && _)
          val dup = src.join(pre, hitCond, "left_semi")
            .groupBy(kc: _*).count()
            .filter(col("count") > 1).limit(1).collect()
          require(dup.isEmpty,
            s"MERGE source $u has duplicate ON keys " +
              s"(${dup.mkString(", ")}) matching a target row — ANSI " +
              "forbids updating one target row twice; de-duplicate " +
              "the source first")
        }
        // reserve-rename EVERY source column so the join frame never
        // collides with target names; rewrite source refs in the
        // computed values and clause conditions to match. The hit flag
        // reads the join miss.
        def mcol(c: String) = s"graft_mrg_$c"
        val srcR = src.columns.foldLeft(src)((d, c) =>
          d.withColumnRenamed(c, mcol(c)))
          .withColumn("graft_mrg_hit", lit(true))
        val cond = on.map { case (tr, ur) =>
          pre(tr.column) === srcR(mcol(ur.column)) }.reduce(_ && _)
        def rexpr(e: Expr): Expr =
          renameSource(u, mcol, "a MERGE/UPDATE-FROM expression").expr(e)
        def rpredCol(p: Pred): Column =
          predColumn(cat, renameSource(u, mcol, "a MERGE clause condition").pred(p))
        val hit = coalesce(col("graft_mrg_hit"), lit(false))
        val reserved = srcR.columns.toSeq
        val needJoin = matched.nonEmpty || bySource.nonEmpty
        lazy val joined = pre.join(srcR, cond, "left")
        // FIRST-MATCH-WINS clause indices (ANSI evaluation order): one
        // chained when()/otherwise() per tier — never a second pass.
        // An UNKNOWN guard falls through to the next clause; a row
        // firing no clause keeps its index NULL (columns unchanged).
        // Matched clauses fire on HIT rows, BY SOURCE clauses
        // (round-16) on MISS rows — disjoint domains, so the two index
        // columns never both fire on one row.
        val clauseIdx = matched.zipWithIndex
          .foldRight(lit(null).cast("int")) { case ((mc, i), acc) =>
            val fire = mc.cond.map(p => hit && rpredCol(p)).getOrElse(hit)
            when(fire, lit(i)).otherwise(acc)
          }
        val bsrcIdx = bySource.zipWithIndex
          .foldRight(lit(null).cast("int")) { case ((mc, i), acc) =>
            val fire = mc.cond.map(p => !hit && rpredCol(p)).getOrElse(!hit)
            when(fire, lit(i)).otherwise(acc)
          }
        lazy val withIdx = joined
          .withColumn("graft_mrg_clause", clauseIdx)
          .withColumn("graft_mrg_bsrc", bsrcIdx)
        val idxCols = Seq("graft_mrg_clause", "graft_mrg_bsrc")
        val delIdx = matched.zipWithIndex.collect {
          case (mc, i) if mc.delete => i }
        val bsrcDelIdx = bySource.zipWithIndex.collect {
          case (mc, i) if mc.delete => i }
        def fires(cn: String, idxs: Seq[Int]): Column =
          if (idxs.isEmpty) lit(false)
          else coalesce(col(cn).isin(idxs.map(Int.box): _*), lit(false))
        val dropFire = fires("graft_mrg_clause", delIdx) ||
          fires("graft_mrg_bsrc", bsrcDelIdx)
        // matched + by-source updates: ONE withColumns projection over
        // ALL update clauses — for each assigned column, the firing
        // clause's value (matched tier first — the domains are
        // disjoint, so the nesting is arbitrary); every RHS reads the
        // BEFORE image (simultaneous SET semantics)
        val updClauses = matched.zipWithIndex.filter(_._1.sets.nonEmpty)
        val bsrcUpdClauses =
          bySource.zipWithIndex.filter(_._1.sets.nonEmpty)
        val setCols = (updClauses ++ bsrcUpdClauses)
          .flatMap(_._1.sets.map(_._1.column)).distinct
        def chainSets(clauses: Seq[(MergeMatched, Int)], cn: String,
                      f: String, base: Column): Column =
          clauses.foldRight(base) { case ((mc, i), acc) =>
            mc.sets.find(_._1.column == f) match {
              case Some((_, e)) =>
                when(col(cn) === i,
                  exprColumn(cat, rexpr(e))).otherwise(acc)
              case None => acc
            }
          }
        def newVal(f: String): Column =
          chainSets(updClauses, "graft_mrg_clause", f,
            chainSets(bsrcUpdClauses, "graft_mrg_bsrc", f,
              if (pre.columns.contains(f)) col(f) else lit(null)))
        def applySets(frame: DataFrame): DataFrame =
          if (setCols.isEmpty) frame
          else frame.withColumns(setCols.map(f => f -> newVal(f)).toMap)
        val updated =
          if (!needJoin) pre
          else applySets(withIdx.filter(!dropFire))
            .drop(idxCols: _*).drop(reserved: _*)
        // not-matched inserts: source rows with no target hit (one
        // anti-join), clause-indexed first-match-wins (round-16 —
        // MULTIPLE insert clauses), each projected through its own
        // INSERT list and conformed over the union of inserted columns
        // (absent ones null). The guards' scope is SOURCE-only, so BARE
        // refs bind to the source too (on the matched side bare refs
        // bind to the target, the only unrenamed frame there).
        val insRows =
          if (notMatched.isEmpty) None
          else {
            val miss = srcR.join(pre, cond, "left_anti")
            def srcRef(r: ColRef): ColRef =
              if (r.table == u || r.table.isEmpty)
                ColRef("", mcol(r.column))
              else r
            val insIdx = notMatched.zipWithIndex
              .foldRight(lit(null).cast("int")) {
                case (((_, _, icond), i), acc) =>
                  val fire = icond.map(p => predColumn(cat,
                    refsNoSubquery(srcRef,
                      "unsupported predicate inside a MERGE clause condition")
                      .pred(p)))
                    .getOrElse(lit(true))
                  when(fire, lit(i)).otherwise(acc)
              }
            val indexed = miss.withColumn("graft_mrg_ins", insIdx)
            val allCols = notMatched.flatMap(_._1).distinct
            val frames = notMatched.zipWithIndex.map {
              case ((cols, vals, _), i) =>
                indexed.filter(col("graft_mrg_ins") === i)
                  .select(allCols.map { c =>
                    cols.indexOf(c) match {
                      case -1 => lit(null).as(c)
                      case j => exprColumn(cat, rexpr(vals(j))).as(c)
                    }
                  }: _*)
            }
            Some(frames.reduce(_ unionByName _))
          }
        val delta = cat.mergeCommit(t, updated, insRows)
        // O(delta) hooks: deleted rows (matched-delete + by-source
        // delete) as one before-image; updated rows (matched +
        // by-source updates) as a before/after pair — never a
        // post-commit rescan
        if (needJoin && (delIdx.nonEmpty || bsrcDelIdx.nonEmpty))
          registry.foreach(_.onDelete(cat, t,
            withIdx.filter(dropFire)
              .drop(idxCols: _*).drop(reserved: _*)))
        if (updClauses.nonEmpty || bsrcUpdClauses.nonEmpty) {
          val updFire = fires("graft_mrg_clause", updClauses.map(_._2)) ||
            fires("graft_mrg_bsrc", bsrcUpdClauses.map(_._2))
          val beforeF = withIdx.filter(updFire)
            .drop(idxCols: _*).drop(reserved: _*)
          val afterF = applySets(withIdx.filter(updFire))
            .drop(idxCols: _*).drop(reserved: _*)
          registry.foreach(_.onUpdate(cat, t, beforeF, afterF))
        }
        for (d <- delta; reg <- registry)
          reg.onInsert(cat, t, insertDeltaFrame(cat.table(t), Seq(d)))
        None
      case d: Delete => runDelete(cat, d, registry); None
      // `… returning *|c1, c2` (round-15 — DuckDB/Postgres RETURNING):
      // the DML's own delta frame comes back as the statement's result —
      // inserted rows (ids included under *) or the deleted rows'
      // before-image; zero extra passes (the frames already feed the
      // O(delta) hooks).
      case Returning(ins: Insert, cols) =>
        val rowDfs = ins.rows.map(r =>
          cat.insert(ins.table, ins.fields.zip(r).filter(_._2 != null)))
        val delta = insertDeltaFrame(cat.table(ins.table), rowDfs)
        registry.foreach(_.onInsert(cat, ins.table, delta))
        Some(if (cols.isEmpty) delta else delta.select(cols.map(col): _*))
      case Returning(d: Delete, cols) =>
        val deleted = runDelete(cat, d, registry)
        Some(if (cols.isEmpty) deleted
             else deleted.select(cols.map(col): _*))
      case Returning(other, _) => throw new IllegalArgumentException(
        s"RETURNING rides INSERT … VALUES, UPDATE and DELETE, got: $other")
      case CopyTo(t, path, fmt, parts) =>
        val df = cat.table(t)
        if (parts.nonEmpty) {
          val missing = parts.filterNot(df.columns.contains)
          require(missing.isEmpty,
            s"PARTITION_BY columns not on $t: ${missing.mkString(", ")}")
          // parquet-only: csv/jsonl re-reads pin the sidecar schema,
          // which would fight partition-column discovery (the keys live
          // in directory names, not the files)
          require(fmt == "parquet",
            "PARTITION_BY export is parquet-only — csv/jsonl interchange " +
              "stays flat (the sidecar schema pins file columns)")
        }
        fmt match {
          case "parquet" =>
            graft.sources.Sources.writeParquet(df, path, parts)
          case "csv" =>
            graft.sources.Sources.writeCsv(df, path)
            writeSchemaSidecar(df, path)
          case "jsonl" =>
            graft.sources.Sources.writeJsonl(df, path)
            writeSchemaSidecar(df, path)
          case other => throw new IllegalStateException(s"format $other")
        }
        None
      case CopyFrom(t, path, fmt) =>
        require(!cat.exists(t) && !cat.isShadowed(t),
          s"COPY … FROM registers a NEW table — $t exists (append " +
            "through insert into … select)")
        val df = fmt match {
          case "parquet" => graft.sources.Sources.readParquet(cat.spark, path)
          case "csv" =>
            graft.sources.Sources.readCsv(cat.spark, path,
              readSchemaSidecar(path))
          case "jsonl" =>
            graft.sources.Sources.readJsonl(cat.spark, path,
              readSchemaSidecar(path))
          case other => throw new IllegalStateException(s"format $other")
        }
        cat.register(t, df)
        None
      case Pivot(t, on, values0, pivotAggs, gs) =>
        val df = cat.table(t)
        // DYNAMIC form (round-15 — empty IN list): ONE bounded
        // distinct-values job (limit cap+1 — never a full collect),
        // sorted for deterministic column order, NULL keys excluded
        // (DuckDB's dynamic PIVOT mints no NULL column); then the
        // explicit-values plan below, unchanged. The cap threads
        // through the SESSION conf (round-16) with the compiled
        // default — a per-session knob, not a code edit.
        val values = if (values0.nonEmpty) values0 else {
          val cap = df.sparkSession.conf
            .get("graft.pivot.dynamicCap", PivotDynamicCap.toString).toInt
          require(cap >= 1,
            s"graft.pivot.dynamicCap must be >= 1, got $cap")
          val probe = df.select(col(on.column))
            .filter(col(on.column).isNotNull)
            .distinct().orderBy(col(on.column))
            .limit(cap + 1).collect().map(_.get(0)).toSeq
          require(probe.size <= cap,
            s"dynamic PIVOT found more than $cap distinct " +
              s"values of ${on.column} — spell an explicit IN list " +
              "(or raise the graft.pivot.dynamicCap session setting)")
          require(probe.nonEmpty,
            s"dynamic PIVOT found no non-NULL values of ${on.column}")
          probe
        }
        def aggOf(fn: String, arg: Option[ColRef]): Column = fn match {
          case "count" => arg.fold(count(lit(1)))(r => count(col(r.column)))
          case "sum" => sum(col(arg.get.column))
          case "avg" => avg(col(arg.get.column))
          case "min" => min(col(arg.get.column))
          case "max" => max(col(arg.get.column))
        }
        val aggCols = pivotAggs.map { case (fn, arg, al) =>
          al.fold(aggOf(fn, arg))(a => aggOf(fn, arg).as(a)) }
        // EXPLICIT values → ONE partial-agg'd aggregation, no
        // distinct-values pre-job; each IN value becomes one codegen'd
        // conditional aggregate column PER USING aggregate (round-16:
        // several ride the same single aggregation pass — Spark names
        // them <value>_<alias>, DuckDB's convention too)
        var out = df.groupBy(gs.map(g => col(g.column)): _*)
          .pivot(on.column, values).agg(aggCols.head, aggCols.tail: _*)
        // DuckDB renders an empty COUNT cell 0 (sum/avg/min/max stay
        // NULL on both engines)
        val countCols = values.flatMap { v =>
          if (pivotAggs.size == 1)
            (if (pivotAggs.head._1 == "count") Seq(v.toString) else Nil)
          else pivotAggs.collect { case ("count", _, Some(a)) =>
            s"${v.toString}_$a" }
        }
        out = countCols.foldLeft(out)((d, c) =>
          d.withColumn(c, coalesce(col(s"`$c`"), lit(0L))))
        Some(out)
      case Unpivot(t, cols, nameC, valueC) =>
        val df = cat.table(t)
        val onSet = cols.map(_.column).toSet
        val missing = onSet.diff(df.columns.toSet)
        require(missing.isEmpty,
          s"unpivot: no such column(s): ${missing.mkString(", ")}")
        require(!df.columns.contains(nameC) && !df.columns.contains(valueC),
          s"unpivot output names $nameC/$valueC collide with $t's columns")
        val ids = df.columns.filterNot(onSet).map(col)
        // NULL cells DROP (DuckDB's UNPIVOT; Spark's keeps them)
        Some(df.unpivot(ids, cols.map(c => col(c.column)).toArray,
          nameC, valueC).filter(col(valueC).isNotNull))
      case cj: CreateJoin =>
        registry.getOrElse(throw new IllegalStateException(
          "create join needs a JoinRegistry")).put(cj); None
      case _: CreateAggView => throw new IllegalStateException(
        "create agg view materializes a summary — call " +
          "HashQL.materializeAggView(cat, sql, path, registry) " +
          "with a parquet path for it")
      case ShowTables =>
        val s = cat.spark
        import s.implicits._
        Some(cat.names.toDF("table_name"))
      case Summarize(t) =>
        val df = cat.table(t)
        val cols = df.columns.toSeq
        // one aggregation statement: per column min/max (rendered),
        // non-null count, exact distinct count, plus the row total —
        // the collected row is 4·|columns|+1 values, schema-bounded
        val aggs = cols.flatMap(c => Seq(
          min(col(c)).cast("string").as(s"graft_sz_mn_$c"),
          max(col(c)).cast("string").as(s"graft_sz_mx_$c"),
          count(col(c)).as(s"graft_sz_n_$c"),
          count_distinct(col(c)).as(s"graft_sz_d_$c"))) :+
          count(lit(1)).as("graft_sz_total")
        val row = df.agg(aggs.head, aggs.tail: _*).head
        val total = row.getAs[Long]("graft_sz_total")
        val s = cat.spark
        import s.implicits._
        Some(cols.map { c =>
          val n = row.getAs[Long](s"graft_sz_n_$c")
          (c, row.getAs[String](s"graft_sz_mn_$c"),
            row.getAs[String](s"graft_sz_mx_$c"), n, total - n,
            row.getAs[Long](s"graft_sz_d_$c"))
        }.toDF("column_name", "min", "max", "n", "nnull", "ndv"))
      case DropTable(t, ifExists) =>
        if (cat.exists(t)) {
          // routes keyed on the table are stale the moment it goes
          registry.foreach(_.invalidateTable(t))
          cat.drop(t)
        } else require(ifExists, s"drop table: no such table $t " +
          "(use `drop table if exists`)")
        None
      case CreateView(name, body, orReplace) =>
        body match {
          case _: Select | _: Union | _: SetOpChain | _: WithCtes |
               _: WithRecursive => ()
          case other => throw new IllegalArgumentException(
            s"CREATE VIEW takes a read statement, got: $other")
        }
        require(tableRefCount(body, name) == 0,
          s"view $name cannot reference itself — stage through another " +
            "view or a CTE")
        val thunk = () => executeStmt(cat, body, registry).getOrElse(
          throw new IllegalStateException("view body produced no frame"))
        thunk() // eager validation: schema/scope errors surface at CREATE
        cat.registerView(name, thunk, orReplace)
        None
      case DropView(name, ifExists) =>
        cat.dropView(name, ifExists)
        None
      case AlterTable(t, op) =>
        require(cat.exists(t), s"alter table: no such table $t")
        // any route/materialization keyed on the table is stale the
        // moment its shape changes
        registry.foreach(_.invalidateTable(t))
        op match {
          case RenameTo(to) => cat.rename(t, to)
          case RenameCol(from, to) =>
            val df = cat.table(t)
            require(from != "id", "the dialect id column is row " +
              "identity — it cannot be renamed")
            require(df.columns.contains(from),
              s"alter table $t: no such column $from")
            require(!df.columns.contains(to),
              s"alter table $t: column $to already exists")
            cat.register(t, df.withColumnRenamed(from, to))
          case AddCol(c, ty, dflt) =>
            val df = cat.table(t)
            require(!df.columns.contains(c),
              s"alter table $t: column $c already exists")
            // DEFAULT backfills existing rows (DuckDB semantics); no
            // default → typed NULLs. Plan-level projection — no data
            // rewrite until the next materialization.
            cat.register(t, df.withColumn(c,
              dflt.map(lit(_)).getOrElse(lit(null)).cast(ty)))
          case DropCol(c) =>
            val df = cat.table(t)
            require(c != "id", "the dialect id column is row identity " +
              "— it cannot be dropped")
            require(df.columns.contains(c),
              s"alter table $t: no such column $c")
            cat.register(t, df.drop(c))
        }
        None
      case Describe(t) =>
        val s = cat.spark
        import s.implicits._
        Some(cat.table(t).schema.fields.toSeq
          .map(f => (f.name, f.dataType.sql)).toDF("column_name", "column_type"))
      case Explain(body) =>
        val s = cat.spark
        import s.implicits._
        val frame = queryFrame(cat, body, registry)
        Some(frame.queryExecution
          .explainString(org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
          .linesIterator.toSeq.toDF("plan_line"))
      case q @ (_: Select | _: Union | _: SetOpChain | _: InlineValues |
                _: GenSeries) => Some(queryFrame(cat, q, registry))
      case WithCtes(ctes, body) =>
        // build each CTE's plan inside the scope of the earlier ones,
        // then the body inside all of them; a built plan captured its
        // inputs, so it stays valid after the scope pops. A CTE
        // referenced ONCE costs nothing — Catalyst inlines it. A CTE
        // referenced MORE than once downstream (later CTEs + body,
        // subqueries included) would be planned — and executed — once
        // per reference, silently doubling a heavy subtree's cost; those
        // localCheckpoint IF the definition is itself heavy (joins,
        // aggregation, distinct, set ops, windows — work worth paying
        // once). A CHEAP multiply-referenced CTE (a plain scan-filter-
        // project) stays lazy: double-planning a scan costs less than
        // materializing it, and checkpointing would sever predicate/
        // column pushdown from the body into the scan (the r10 advice's
        // pushdown-loss defect) and pin the plan to current executors.
        val scope = ctes.zipWithIndex.foldLeft(Map.empty[String, DataFrame]) {
          case (sc, ((name, defn), i)) =>
            val built = cat.withScope(sc)(queryFrame(cat, defn, registry))
            val uses = (ctes.drop(i + 1).map(_._2) :+ body)
              .map(tableRefCount(_, name)).sum
            sc + (name ->
              (if (uses > 1 && heavyCte(defn)) built.localCheckpoint() else built))
        }
        body match {
          case _: Select | _: Union | _: SetOpChain =>
            Some(cat.withScope(scope)(queryFrame(cat, body, registry)))
          case dml =>
            // CTE-headed DML (round-15): the scope binds around the
            // statement — CTEs stage the row set, the DML reads them
            // like tables. The TARGET must not be a CTE name (writing
            // "through" a shadow would silently clobber the base).
            def targetOf(s0: Stmt): String = s0 match {
              case i: Insert => i.table
              case i: InsertSelect => i.table
              case u0: UpsertValues => u0.table
              case u0: Update => u0.table
              case d0: Delete => d0.table
              case m0: Merge => m0.target
              case Returning(inner, _) => targetOf(inner)
              case other => throw new IllegalArgumentException(
                s"a CTE headers SELECT or DML, got: $other")
            }
            val tgt = targetOf(dml)
            require(!scope.contains(tgt),
              s"the DML target $tgt is a CTE name — CTEs stage row " +
                "SETS; write to a real table")
            // RETURNING's frame must survive the scope pop — its plan
            // captured the CTE inputs at build time, so forcing nothing
            // here is safe (same rule as query CTEs)
            cat.withScope(scope)(executeStmt(cat, dml, registry))
        }
      case WithRecursive(name, base, step, body, bag) =>
        // semi-naive fixpoint: each round binds `name` to the LAST
        // round's NEW rows only, so the step join probes the frontier,
        // not the whole accumulated set — the 100 TB recursion shape
        // (frontiers shrink; acc grows once per row). localCheckpoint
        // per round keeps plan depth at one round and the driver holds
        // counters only. Columns align positionally to the base's, the
        // standard recursive-CTE rule. The frontier binds under RESERVED
        // column names (the step AST's `name.` references are retargeted
        // to them), so the recursive table's columns can never collide
        // with the step tables' — a recursion's working table and its
        // edge table share names by construction.
        // BAG mode (round-16, UNION ALL): the frontier is the step's
        // whole output — no distinct, no EXCEPT (multiplicities are the
        // answer); termination is an EMPTY round, and the same 64-round
        // cap turns cyclic-data divergence into a clear error (with the
        // frontier-sized per-round I/O, 64 rounds of a diverging bag
        // stay bounded by 64 step evaluations — nothing hangs).
        val recStep = retargetRecursive(step, name)
        def rec(df: DataFrame): DataFrame =
          df.toDF(df.columns.map(c => s"__rec_$c").toSeq: _*)
        var acc = {
          val b = selectFrame(cat, base, registry)
          (if (bag) b else b.distinct()).localCheckpoint()
        }
        var frontier = acc
        var rounds = 0
        var done = false
        while (!done && rounds < 64) {
          rounds += 1
          val stepped = cat.withScope(Map(name -> rec(frontier)))(
            selectFrame(cat, recStep, registry))
          require(stepped.columns.length == acc.columns.length,
            s"recursive step projects ${stepped.columns.length} columns, " +
              s"base has ${acc.columns.length}")
          val aligned = stepped.toDF(acc.columns.toSeq: _*)
          val fresh =
            (if (bag) aligned else aligned.distinct().except(acc))
              .localCheckpoint()
          if (fresh.isEmpty) done = true
          else {
            // frontiers alone are checkpointed: acc stays a lazy union of
            // the (already-materialized) per-round frontiers, so each
            // round's I/O is frontier-sized — re-checkpointing acc here
            // would rewrite the whole accumulated set every round,
            // O(rounds × |acc|) materialization for no answer change
            acc = acc.unionByName(fresh)
            frontier = fresh
          }
        }
        require(done,
          s"recursive CTE '$name' did not reach a fixpoint within 64 " +
            "rounds" + (if (bag) " — UNION ALL recursion diverges on " +
            "cyclic data; use UNION (distinct) or bound the step with " +
            "a depth column" else ""))
        Some(cat.withScope(Map(name -> acc))(queryFrame(cat, body, registry)))
    }

  /** Rewrite a recursive step's `name.col` references to the frontier's
    * reserved `__rec_col` names. The step grammar is deliberately the
    * semi-naive walk shape — plain projection, inner joins, simple
    * predicates; grouping/windows/subqueries inside a recursive step are
    * rejected with a clear message (recursion composes with them through
    * the OUTER body instead). */
  private def retargetRecursive(step: Select, name: String): Select = {
    require(step.having.isEmpty &&
      step.orderBy.isEmpty && step.limit.isEmpty && step.offset.isEmpty &&
      !step.distinct && step.qualify.isEmpty,
      "a recursive step is a plain or GROUPED select … from … [join …] " +
        "[where …] — sort/limit/having through the outer body instead")
    // PER-ROUND AGGREGATION (round-14 — the r13 queue's #8, un-rejecting
    // the carried reject): a GROUPED step aggregates over each round's
    // FRONTIER join (the recursive shortest-path / min-label shape —
    // `select e.dst, min(r.d + e.w) … group by e.dst`); the fixpoint
    // dedups the (key, value) pairs against the accumulated set and the
    // OUTER body takes the final group-wise extremum, exactly DuckDB's
    // semantics (working table = last round's new rows). The grouped
    // plan outputs keys first, so the items must lead with the GROUP BY
    // keys in order for positional base-alignment to hold. The graph
    // module's bfs/sssp/cc/kcore remain the scale path (bounded
    // frontiers, no (key, value)-pair accumulation).
    if (step.groupBy.nonEmpty) {
      // key-only grouping is just per-round distinct — the fixpoint's
      // EXCEPT already dedups, so the plain spelling is the same plan
      // minus a shuffle (and the grouped branch would append its
      // fallback count column, breaking positional alignment)
      require(step.items.length > step.groupBy.length,
        "a grouped recursive step carries at least one aggregate — " +
          "for per-round distinct use the plain spelling (the fixpoint " +
          "dedups every round)")
      val lead = step.items.take(step.groupBy.length)
      require(lead.length == step.groupBy.length &&
        lead.zip(step.groupBy).forall {
          case (Field(r), k) => r.column == k.column
          case _ => false
        },
        "a grouped recursive step projects its GROUP BY keys first, in " +
          "order, then the aggregates (the grouped plan's output order)")
    }
    step.items.foreach {
      case _: Field | _: AggExprItem =>
      case other => throw new IllegalArgumentException(
        s"a recursive step projects plain columns or aggregates, got: $other")
    }
    val k = refsNoSubquery(
      r => if (r.table == name) ColRef(r.table, s"__rec_${r.column}") else r,
      "a recursive step supports simple predicates only, got")
    mapSelect(step, k, k)
  }

  /** Evaluate a query-shaped Stmt (Select or Union) to a frame. */
  /** Occurrences of table name `n` in a query AST — FROM, JOIN clauses,
    * and every subquery body (predicate arms, projected scalars,
    * laterals, HAVING values), recursively.
    * Drives the multi-reference CTE checkpoint decision. */
  private def tableRefCount(st: Stmt, n: String): Int = st match {
    case s: Select =>
      (if (s.table == n) 1 else 0) + s.joins.count(_.table == n) +
        s.froms.count(_ == n) +
        // aliased references count against the REAL table (the alias is
        // what appears as table/join name); derived bodies count their
        // own references
        s.aliases.count(_._2 == n) +
        s.derived.map(d => tableRefCount(d._2, n)).sum +
        subqueriesOf(k => mapSelect(s, k, k)).map(tableRefCount(_, n)).sum
    case Union(ss, _, _) => ss.map(tableRefCount(_, n)).sum
    case SetOpChain(_, ss, _) => ss.map(tableRefCount(_, n)).sum
    // DML bodies (round-15 — CTE-headed DML): count the plan-level reads
    // so a heavy multiply-read CTE still checkpoints. MERGE reads its
    // source three times (cardinality probe, matched join, insert anti
    // join); DELETE USING / UPDATE FROM read the source twice (filtered
    // scan + the delta capture).
    case i: InsertSelect => tableRefCount(i.body, n)
    case d: Delete => (if (d.using.contains(n)) 2 else 0) +
      subqueriesOf(k => d.wheres.map(k.pred)).map(tableRefCount(_, n)).sum
    case u0: Update => (if (u0.from.contains(n)) 2 else 0) +
      subqueriesOf(k => u0.wheres.map(k.pred)).map(tableRefCount(_, n)).sum
    case m: Merge => if (m.source == n) 3 else 0
    case Returning(inner, _) => tableRefCount(inner, n)
    case _ => 0
  }
  /** Is a CTE definition worth materializing when multiply-referenced?
    * Heavy = contains a join, aggregation (GROUP BY or aggregate items),
    * DISTINCT, a window, a subquery predicate, or is a set-op chain —
    * shapes whose double evaluation costs more than one materialization.
    * A plain scan-filter-project stays lazy (pushdown-transparent). */
  private def heavyCte(st: Stmt): Boolean = st match {
    case s: Select =>
      s.joins.nonEmpty || s.froms.nonEmpty || s.groupBy.nonEmpty ||
        s.distinct ||
        s.items.exists {
          case _: AggExprItem | _: WinCall | _: ScalarSubItem | _: ExistsItem => true
          case e: ExprItem => aggNodes(e.expr).nonEmpty
          case _ => false
        } || s.wheres.exists(subqueryPred)
    case Union(ss, all, _) => !all || ss.exists(heavyCte) // plain UNION dedups
    case SetOpChain(_, _, _) => true
    case _ => true
  }

  private def queryFrame(cat: GraftCatalog, stmt: Stmt,
                         registry: Option[JoinRegistry]): DataFrame =
    stmt match {
      case s: Select => selectFrame(cat, s, registry)
      case u: Union => unionFrame(cat, u, registry)
      case so: SetOpChain => setOpFrame(cat, so, registry)
      case v: InlineValues => inlineFrame(cat, v)
      case g: GenSeries => genSeriesFrame(cat, g)
      case other => throw new IllegalStateException(s"not a query: $other")
    }

  /** Build a [[GenSeries]] source: one explode(sequence(start, stop
    * [, step])) over a 1-row range — a per-row Generate, zero shuffles.
    * Inclusive both ends (DuckDB parity). Integer series default to
    * step 1; date/timestamp series REQUIRE an interval step. */
  private def genSeriesFrame(cat: GraftCatalog, g: GenSeries): DataFrame = {
    // an INTERVAL step (date/timestamp series) lowers to the native
    // interval literal directly — exprColumn only accepts intervals as
    // ± operands
    def arg(e: Expr): Column = e match {
      case EInterval(n, unit) => expr(
        s"INTERVAL '$n' ${unit.toUpperCase(java.util.Locale.ROOT)}")
      case other => exprColumn(cat, other)
    }
    val seq = g.step match {
      case Some(st) => org.apache.spark.sql.functions.sequence(
        arg(g.start), arg(g.stop), arg(st))
      case None => org.apache.spark.sql.functions.sequence(
        arg(g.start), arg(g.stop))
    }
    cat.spark.range(1).select(explode(seq).as(g.col))
  }

  /** Build an [[InlineValues]] table: per-column type inference over the
    * literals, one LocalRelation — driver-literal rows, broadcast-sized
    * by construction, no scan or shuffle anywhere. */
  private def inlineFrame(cat: GraftCatalog, v: InlineValues): DataFrame = {
    import org.apache.spark.sql.types._
    def typeOf(x: Any): DataType = x match {
      case _: Long => LongType
      case _: Double => DoubleType
      case _: String => StringType
      case _: java.sql.Date => DateType
      case _: java.sql.Timestamp => TimestampType
      case _: Boolean => BooleanType
      case other => throw new IllegalArgumentException(
        s"unsupported VALUES literal: $other")
    }
    val fields = v.cols.zipWithIndex.map { case (c, i) =>
      val types = v.rows.flatMap(r => Option(r(i))).map(typeOf).distinct
      require(types.nonEmpty,
        s"VALUES column $c is all NULL — give it at least one typed value")
      require(types.size == 1,
        s"VALUES column $c mixes types: ${types.mkString(", ")}")
      StructField(c, types.head, nullable = true)
    }
    val rows = v.rows.map(r => org.apache.spark.sql.Row(r: _*))
    import scala.jdk.CollectionConverters._
    cat.spark.createDataFrame(rows.asJava, StructType(fields))
  }

  /** Apply a WHERE conjunct list to a frame — plain predicates as
    * filters, subquery predicates as their join forms. Shared by SELECT
    * and by the subquery-DELETE path (the predicate set IS the doomed
    * row set there). */
  private def applyWheres(cat: GraftCatalog, frame: DataFrame,
                          wheres: Seq[Pred],
                          registry: Option[JoinRegistry]): DataFrame = {
    var df = frame
    wheres.foreach {
      // membership subqueries plan as semi/anti joins on the filtered
      // frame — Catalyst broadcasts the (typically dimension-sized)
      // subquery side, so the 100 TB shape is one broadcast probe
      case InSelect(ref, sub) =>
        val sf = subqueryFrame(cat, sub, registry)
        df = df.join(sf, df(ref.column) === sf("graft_in_sub"), "left_semi")
      // multi-key membership (round-15): ONE semi join over ALL the key
      // pairs — the composite-key decontamination idiom. NULL keys
      // never match (FALSE ≡ UNKNOWN under WHERE).
      case InSelectTuple(refs, sub) =>
        val (sf, on) = tupleIn(cat, df, refs, sub, registry)
        df = df.join(sf, on, "left_semi")
      case Not(InSelect(ref, sub)) =>
        val sf = subqueryFrame(cat, sub, registry)
        df = df.join(sf, df(ref.column) === sf("graft_in_sub"), "left_anti")
      // computed-head membership (round-12): the key evaluates scan-side
      // inside the join condition — same semi/anti probe
      case InSelectExpr(e, sub) =>
        val sf = subqueryFrame(cat, sub, registry)
        df = df.join(sf, exprColumn(cat, e) === sf("graft_in_sub"), "left_semi")
      case Not(InSelectExpr(e, sub)) =>
        val sf = subqueryFrame(cat, sub, registry)
        df = df.join(sf, exprColumn(cat, e) === sf("graft_in_sub"), "left_anti")
      case ExistsSelect(sub) =>
        df = existsJoin(cat, df, sub, registry, anti = false)
      case Not(ExistsSelect(sub)) =>
        df = existsJoin(cat, df, sub, registry, anti = true)
      // scalar subquery compare — uncorrelated: broadcast the 1-row
      // aggregate (a scan-side filter against a broadcast value);
      // correlated (round-11): decorrelated to groupBy + one equi-join
      case CmpSelect(ref, op, sub) =>
        val (joined, cmpC, reserved) = scalarCompare(cat, df, ref, op, sub, registry)
        df = joined.filter(cmpC).drop(reserved: _*)
      // NON-EQUALITY-correlated quantifiers (round-14 — the r13 queue's
      // #5): the grouped-stats decorrelation cannot produce per-outer-
      // row stats for a range correlation, so the shape rewrites through
      // the EXISTS machinery — the range conjuncts ride the semi/anti
      // join condition exactly like EXISTS extras. WHERE-conjunct
      // context only (UNKNOWN ≡ FALSE here, which the rewrite preserves
      // ANSI-exactly — see quantExistsRewrite).
      case QuantCmp(ref, op, quant, sub) if quantNonEqCorr(sub) =>
        df = applyWheres(cat, df,
          Seq(quantExistsRewrite(ref, op, quant, sub)), registry)
      // quantified compare (round-13) — one stats aggregate broadcast
      // over the frame, ANSI three-valued arithmetic filters (UNKNOWN
      // drops the row, exactly like every comparison conjunct)
      case QuantCmp(ref, op, quant, sub) =>
        val (joined, qC, reserved) =
          quantCompare(cat, df, ref, op, quant, sub, registry)
        df = joined.filter(qC).drop(reserved: _*)
      // subqueries UNDER OR / nested NOT (round-10 growth — the r9
      // verdict's missing #5): each subquery leaf lowers to a boolean
      // FLAG column attached by one join, the boolean tree then filters
      // on the flags, and the flags drop
      case pr if subqueryPred(pr) => df = flaggedFilter(cat, df, pr, registry)
      case pr => df = df.filter(predColumn(cat, pr))
    }
    df
  }

  /** A tuple IN's uncorrelated subquery, columns renamed `graft_in_<i>`
    * and then `shape`d, and the join condition pairing `df`'s keys with them. */
  private def tupleIn(cat: GraftCatalog, df: DataFrame, refs: Seq[ColRef], sub: Select,
                      registry: Option[JoinRegistry],
                      shape: DataFrame => DataFrame = identity): (DataFrame, Column) = {
    val foreign = sub.wheres.flatMap(predTables).filterNot(fromTables(sub)).distinct
    require(foreign.isEmpty, s"a tuple IN subquery is uncorrelated — it references " +
      s"${foreign.mkString(", ")}; correlate through EXISTS")
    val raw = selectFrame(cat, sub, registry)
    require(raw.columns.length == refs.length, s"tuple IN: the subquery projects " +
      s"${raw.columns.length} column(s) for ${refs.length} key(s)")
    val names = refs.indices.map(i => s"graft_in_$i")
    val sf = shape(raw.toDF(names: _*))
    (sf, refs.zip(names).map { case (r, n) => df(r.column) === sf(n) }.reduce(_ && _))
  }

  /** Does a conjunct contain a subquery predicate ANYWHERE in its tree
    * (needs join machinery, not a plain Column)? */
  private def subqueryPred(p: Pred): Boolean = subqueriesOf(_.pred(p)).nonEmpty

  /** Internal marker for a lowered subquery leaf: the named boolean flag
    * column, attached by [[flaggedFilter]], never produced by the parser.
    * For MEMBERSHIP/EXISTENCE flags a join miss reads as FALSE
    * (coalesce), so NOT over them is NOT-EXISTS semantics — exactly the
    * top-level anti-join forms, now reachable under OR. SCALAR-COMPARE
    * flags set threeValued: their UNKNOWN must stay NULL so NOT remains
    * three-valued (matching the conjunct spelling and ANSI). */
  private[graft] final case class FlagPred(colName: String,
                                    threeValued: Boolean = false) extends Pred

  /** Plan a predicate TREE containing subquery leaves in non-conjunct
    * positions (`where t.a = 1 or exists (…)`, `not (t.f in (select …))`
    * under OR, …): every subquery leaf becomes a boolean flag column —
    * membership/existence by ONE left join against the DISTINCT subquery
    * side (broadcastable exactly like the semi/anti forms; distinct keeps
    * the join row-preserving), scalar compares by the same broadcast
    * 1-row cross join as the conjunct path — then the tree filters with
    * flags substituted for the subquery leaves, and the flags drop. At
    * 100 TB this costs the same joins the semi/anti plans pay; the only
    * difference is rows are KEPT and flagged instead of filtered early. */
  private def flaggedFilter(cat: GraftCatalog, frame: DataFrame, pr: Pred,
                            registry: Option[JoinRegistry]): DataFrame = {
    var df = frame
    var n = 0
    val flags = scala.collection.mutable.ArrayBuffer.empty[String]
    def newFlag(): String = { n += 1; val f = s"graft_flag_$n"; flags += f; f }
    val lowered = rewrite(pred = {
      case InSelect(ref, sub) =>
        val f = newFlag()
        val sf = subqueryFrame(cat, sub, registry).distinct()
          .withColumn(f, lit(true))
        df = df.join(sf, df(ref.column) === sf("graft_in_sub"), "left")
          .drop("graft_in_sub")
        FlagPred(f)
      case InSelectExpr(e, sub) =>
        val f = newFlag()
        val sf = subqueryFrame(cat, sub, registry).distinct()
          .withColumn(f, lit(true))
        df = df.join(sf, exprColumn(cat, e) === sf("graft_in_sub"), "left")
          .drop("graft_in_sub")
        FlagPred(f)
      case InSelectTuple(refs, sub) =>
        val f = newFlag()
        val (sf, on) = tupleIn(cat, df, refs, sub, registry,
          _.distinct().withColumn(f, lit(true)))
        df = df.join(sf, on, "left").drop(refs.indices.map(i => s"graft_in_$i"): _*)
        FlagPred(f)
      case ExistsSelect(sub) =>
        val f = newFlag()
        df = existsJoin(cat, df, sub, registry, anti = false, flagCol = Some(f))
        FlagPred(f)
      case CmpSelect(ref, op, sub) =>
        val f = newFlag()
        // the flag keeps the RAW three-valued comparison (no coalesce to
        // false): a NULL lhs or NULL scalar stays NULL, so NOT over a
        // scalar compare drops those rows exactly like the conjunct
        // spelling and ANSI — see FlagPred's scaladoc
        val (joined, cmpC, reserved) = scalarCompare(cat, df, ref, op, sub, registry)
        df = joined.withColumn(f, cmpC).drop(reserved: _*)
        FlagPred(f, threeValued = true)
      case QuantCmp(ref, op, quant, sub) =>
        val f = newFlag()
        // quantCompare's Column is already ANSI three-valued (UNKNOWN
        // stays NULL), so NOT over a quantifier keeps dropping the
        // UNKNOWN rows — same contract as the scalar-compare flag
        val (joined, qC, reserved) =
          quantCompare(cat, df, ref, op, quant, sub, registry)
        df = joined.withColumn(f, qC).drop(reserved: _*)
        FlagPred(f, threeValued = true)
    }).pred(pr)
    df.filter(predColumn(cat, lowered)).drop(flags.toSeq: _*)
  }

  /** INTERSECT/EXCEPT chains (left-associative, one op per chain):
    * positional like UNION; plain = set semantics (one partial-agg
    * dedup shuffle per op), ALL = multiset (Spark's intersectAll /
    * exceptAll — the same hash-join-on-all-columns plans q_set_*_all
    * prove). */
  private def setOpFrame(cat: GraftCatalog, so: SetOpChain,
                         registry: Option[JoinRegistry]): DataFrame = {
    val frames = so.selects.map(selectFrame(cat, _, registry))
    require(frames.map(_.columns.length).distinct.size == 1,
      s"${so.op} branches must project the same number of columns, " +
        s"got ${frames.map(_.columns.length).mkString("/")}")
    frames.reduce((a, b) => (so.op, so.all) match {
      case ("intersect", false) => a.intersect(b)
      case ("intersect", true) => a.intersectAll(b)
      case ("except", false) => a.except(b)
      case ("except", true) => a.exceptAll(b)
      case _ => throw new IllegalStateException(so.op)
    })
  }

  private def unionFrame(cat: GraftCatalog, u: Union,
                         registry: Option[JoinRegistry]): DataFrame = {
    val frames = u.selects.map(selectFrame(cat, _, registry))
    val out =
      if (u.byName) {
        // BY NAME (round-15): branches align by column name — the
        // output schema is the first branch's columns plus each later
        // branch's NEW columns in appearance order, absent columns
        // null-filled (Spark's unionByName ≡ DuckDB's UNION BY NAME).
        // Branch arity may differ by construction. NULL-filled gaps are
        // DATA (the schema-evolution idiom), not missing fields.
        frames.reduce(_.unionByName(_, allowMissingColumns = true))
      } else {
        require(frames.map(_.columns.length).distinct.size == 1,
          s"union branches must project the same number of columns, " +
            s"got ${frames.map(_.columns.length).mkString("/")}")
        // positional union (SQL): names follow the first branch; plain
        // UNION dedups the whole chain (one partial-agg shuffle)
        frames.reduce(_ union _)
      }
    if (u.all) out else out.distinct()
  }

  /** Reserved column name for `<alias>.<column>` under alias resolution. */
  private def aliasedName(alias: String, column: String): String =
    s"graft_a_${alias}_$column"
  private def aliasedRef(aliases: Set[String])(r: ColRef): ColRef =
    if (aliases.contains(r.table)) ColRef(r.table, aliasedName(r.table, r.column))
    else r

  /** Resolve FROM/JOIN table aliases (round-12 growth — SELF-JOINS, the
    * r11 verdict's #1): each alias binds a statement-scoped frame whose
    * columns are RENAMED under a reserved per-alias prefix, so two
    * aliases of the SAME table join without a single ambiguous column;
    * the AST is rewritten to address the renamed columns, and the
    * projection restores the user-visible names (`l1.l_orderkey` outputs
    * `l_orderkey`). Plain renames keep the missing-field skip; the plan
    * is the ordinary left-deep equi-join — two scans of the same parquet,
    * one hash/merge join, never a cartesian. Aliased statements skip the
    * materialized-join route by construction (scope shadowing). */
  private def resolveAliases(cat: GraftCatalog, sel: Select)
      : (Map[String, DataFrame], Select) = {
    val names = sel.aliases.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate table alias: ${names.diff(names.distinct).mkString(", ")}")
    names.foreach(a => require(!cat.exists(a) && !cat.isShadowed(a),
      s"table alias $a shadows an existing table — pick another name"))
    val scope = sel.aliases.map { case (a, t) =>
      val df = cat.table(t)
      a -> df.toDF(df.columns.map(c => aliasedName(a, c)).toSeq: _*)
    }.toMap
    // `select *` under aliases (round-13 — r12 queue #3): expand the
    // star HERE, where the catalog still resolves each source, to one
    // item per source column in FROM/JOIN order. Aliased sources emit
    // DETERMINISTIC QUALIFIED names (`l1.l_orderkey` → l1_l_orderkey —
    // two aliases of one table would collide on the bare names), plain
    // sources keep their bare columns. Expansion is a pure rename
    // ExprItem, so the plan is a projection over the ordinary join — no
    // extra pass; the missing-field skip keeps applying through the
    // ECol-rename exemption rule.
    val expanded =
      if (!sel.items.contains(Star)) sel
      else {
        val aliasMap = sel.aliases.toMap
        val sources = (sel.table +: sel.froms) ++ sel.joins.map(_.table)
        val starItems = sources.flatMap { s0 =>
          aliasMap.get(s0) match {
            case Some(real) => cat.table(real).columns.toSeq.map(c =>
              ExprItem(ECol(ColRef(s0, c)), s"${s0}_$c"): SelectItem)
            case None => cat.table(s0).columns.toSeq.map(c =>
              Field(ColRef(s0, c)): SelectItem)
          }
        }
        val outNames = starItems.map {
          case ExprItem(_, a) => a
          case Field(r) => r.column
          case other => throw new IllegalStateException(s"$other")
        }
        require(outNames.distinct.size == outNames.size,
          s"select * expansion collides on ${
            outNames.diff(outNames.distinct).distinct.mkString(", ")} — " +
            "alias every source (aliased columns expand qualified)")
        sel.copy(items = sel.items.flatMap {
          case Star => starItems
          case other => Seq(other)
        })
      }
    (scope, rewriteAliases(expanded, names.toSet))
  }

  /** Rewrite every alias reference in a SELECT to its reserved renamed
    * column. Top-level projection items are RESTRUCTURED first so outputs
    * keep their user-visible names; nested subqueries get a pure ref
    * rewrite (their own FROM names SHADOW outer aliases — standard
    * scoping). */
  private def rewriteAliases(sel: Select, aliases: Set[String]): Select = {
    def aliased(r: ColRef): Boolean = aliases.contains(r.table)
    // ORDER BY, DISTINCT ON and HAVING/QUALIFY values address OUTPUT
    // columns — an aliased ref there maps to its restored output name
    def outRef(r: ColRef): ColRef = if (aliased(r)) ColRef("", r.column) else r
    val itemsBuf = scala.collection.mutable.ArrayBuffer.empty[SelectItem]
    sel.items.foreach {
      // resolveAliases expands Star to per-source items BEFORE the
      // rewrite (round-13) — reaching one here is an internal error
      case Star => throw new IllegalStateException(
        "unexpanded * under table aliases")
      case _: StarMod => throw new IllegalStateException(
        "unexpanded * EXCLUDE/REPLACE under table aliases")
      // a plain aliased field projects under its ORIGINAL column name (a
      // pure rename — keeps the missing-field row skip)
      case Field(r) if aliased(r) => itemsBuf += ExprItem(ECol(r), r.column)
      // pin the auto-alias BEFORE renaming so wsum_<col> keeps the
      // user-visible column name (aggregates and coalesce items carry
      // theirs from the parser)
      case w: WinCall => itemsBuf += w.copy(alias = Some(winAlias(w)))
      // grouping's key addresses the RESTORED output name (the grouped
      // branch rewrites aliased keys to it)
      case g0: GroupingItem => itemsBuf += g0.copy(ref = outRef(g0.ref))
      case other => itemsBuf += other
    }
    // an aliased GROUP BY key addresses the OUTPUT name (the projection
    // restored it); if the key is not projected, auto-project the rename
    // — matching the unaliased dialect, where grouping keys always land
    // in the output
    sel.groupBy.filter(aliased).foreach { g =>
      val produced = itemsBuf.exists {
        case ExprItem(_, a) => a == g.column
        case Field(r) => r.column == g.column
        case _ => false
      }
      if (!produced) itemsBuf += ExprItem(ECol(g), g.column)
    }
    // a nested subquery's (and a lateral body's) own FROM names shadow
    // the outer aliases
    def subSel(s0: Select): Select = deepAliasMap(s0, aliases.diff(fromTables(s0)))
    mapSelect(sel.copy(items = itemsBuf.toSeq,
        groupBy = sel.groupBy.map(outRef),
        groupSets = sel.groupSets.map(_.map(outRef)),
        aliases = Nil),
      rewrite(ref = aliasedRef(aliases), sub = subSel),
      rewrite(ref = outRef, sub = subSel))
  }

  /** Pure ref rewrite for a NESTED subquery under outer aliases: every
    * reference to a still-visible outer alias renames; structure is
    * untouched (the sub's own aliases resolve later, in its own
    * selectFrame). */
  private def deepAliasMap(s0: Select, vis: Set[String]): Select =
    if (vis.isEmpty) s0
    else {
      val k = rewrite(ref = aliasedRef(vis),
        sub = s1 => deepAliasMap(s1, vis.diff(fromTables(s1))))
      mapSelect(s0, k, k)
    }

  private def selectFrame(cat: GraftCatalog, sel: Select,
                          registry: Option[JoinRegistry],
                          // inline-VALUES source names (round-13):
                          // threaded through the derived/alias rebind
                          // recursions so the missing-field skip can
                          // exempt their columns (explicit VALUES NULLs
                          // are data, never a missing field)
                          inlineNames: Set[String] = Set.empty): DataFrame = {
    // DERIVED TABLES first (their bodies are self-contained — built
    // OUTSIDE any alias scope), then aliases resolve inside the bound
    // scope. A derived name behaves exactly like a CTE: ordinary table
    // scoping, no column renames needed (refs address its projection).
    if (sel.derived.nonEmpty) {
      val names = sel.derived.map(_._1)
      require(names.distinct.size == names.size,
        s"duplicate derived-table name: ${names.diff(names.distinct).mkString(", ")}")
      names.foreach(n => require(!cat.exists(n) && !cat.isShadowed(n),
        s"derived table $n shadows an existing table — pick another name"))
      val scope = sel.derived.map { case (n, body) =>
        n -> queryFrame(cat, body, registry) }.toMap
      return cat.withScope(scope)(
        selectFrame(cat, sel.copy(derived = Nil), registry, inlineNames ++
          sel.derived.collect {
            case (n, _: InlineValues) => n
            case (n, _: GenSeries) => n }))
    }
    // `* exclude/replace` (round-15): desugar to the explicit item list
    // now that the (single) source's columns are known — plain columns
    // keep Field semantics, replaced columns become computed items
    if (sel.items.exists(_.isInstanceOf[StarMod])) {
      require(sel.joins.isEmpty && sel.froms.isEmpty &&
        sel.aliases.isEmpty,
        "* EXCLUDE/REPLACE expands a SINGLE-table star — project " +
          "joined/aliased sources explicitly (or stage through a CTE)")
      val base = cat.table(sel.table).columns.toSeq
      val items2 = sel.items.flatMap {
        case StarMod(excl, repl) =>
          val missing = (excl ++ repl.map(_._2)).filterNot(base.contains)
          require(missing.isEmpty,
            s"* EXCLUDE/REPLACE names unknown column(s): " +
              s"${missing.mkString(", ")}")
          require(excl.intersect(repl.map(_._2)).isEmpty,
            "a column cannot be both EXCLUDEd and REPLACEd")
          val rm = repl.map { case (e, c) => c -> e }.toMap
          base.filterNot(excl.contains).map { c =>
            rm.get(c) match {
              case Some(e) => ExprItem(e, c): SelectItem
              case None => Field(ColRef("", c)): SelectItem
            }
          }
        case other => Seq(other)
      }
      return selectFrame(cat, sel.copy(items = items2), registry,
        inlineNames)
    }
    if (sel.aliases.nonEmpty) {
      val (scope, rewritten) = resolveAliases(cat, sel)
      return cat.withScope(scope)(
        selectFrame(cat, rewritten, registry, inlineNames))
    }
    sel match {
      case Select(items, table, joins, wheres, groupBy, having, orderBy, limit,
                  distinct, offset, qualify, _, _, _, _, _, _, _, _,
                  limitTies) =>
        // read path first: if the statement's joins match a registered +
        // materialized `create join`, answer from the pre-joined rows
        // (the reference's whole point for create join — SELECTs read the
        // maintained view, server.py:806-894). create join views are
        // inner by construction, so a SELECT with any LEFT JOIN never
        // routes (the pre-joined rows lack the unmatched-left rows).
        val tset = fromTables(sel)
        // a CTE shadowing any participating table makes the NAME-keyed
        // route wrong (the pre-joined parquet holds BASE rows, not the
        // shadow's) — fall back to the live build, which resolves shadows
        // subset routing serves a query over FEWER tables from the wider
        // pre-joined parquet — `select *` must not expand the dropped
        // tables' columns, so Star disables that route (exact still fires)
        val routed =
          if (joins.exists(_.outer) || joins.exists(_.extra.nonEmpty) ||
              sel.froms.nonEmpty || tset.exists(cat.isShadowed) ||
              // a non-FIRST USING clause resolves its left key against
              // the cumulative frame at lowering (round-16) — its
              // recorded (table, l, r) identity is only a guess, so the
              // NAME-keyed view route must not match on it (a first
              // USING join's cumulative side IS the base table, which
              // the recorded pair names exactly)
              joins.drop(1).exists(_.using)) None
          else registry.flatMap(_.routedFrame(tset,
            joins.map(j => (j.table, j.l, j.r)),
            allowSubset = !items.contains(Star)))
        var df = routed.getOrElse {
          var acc = cat.table(table)
          // comma sources build as CROSS joins; the WHERE equality
          // conjuncts below become join conditions in the optimizer
          // (PushPredicateThroughJoin + ReorderJoin), and the guard
          // after applyWheres rejects any plan left cartesian
          sel.froms.foreach(f => acc = acc.crossJoin(cat.table(f)))
          joins.foreach { case JoinClause(t, l, r, kind, extra, usng) =>
            // the clause's table is the fresh side; the other ref is already
            // in the accumulated left-deep join (reference client.py:472-480)
            val tdf = cat.table(t)
            val (known, fresh) = if (l.table == t) (r, l) else (l, r)
            // ANSI USING resolution (round-16): every key must name
            // exactly ONE column on the cumulative left side — zero
            // means the name lives nowhere to the left, two or more
            // (an outer-join chain that kept both copies, or unrelated
            // same-named columns) is the ambiguity ANSI/DuckDB reject;
            // both reject toward the explicit-ON spelling rather than
            // silently binding one of the candidates
            if (usng) {
              val keys = known.column +:
                extra.collect { case (l2, _, _: ColRef) => l2.column }
              keys.foreach { k =>
                val n = acc.columns.count(_ == k)
                require(n == 1,
                  s"USING ($k): the accumulated left side has $n columns " +
                    s"named $k — spell the join with an explicit ON " +
                    "qualifying the intended table")
              }
            }
            if (kind == "asof" || kind == "asof_left") {
              // ASOF JOIN (round-15): union + ONE key shuffle + one
              // window pass (operators.AsOfJoin) — never the per-key
              // cross join a range-condition join would plan. The fresh
              // side carries ALL its columns except the join key (it
              // equals the accumulated key); the carried fresh TIME
              // column doubles as the match indicator for the
              // drop-unmatched (non-LEFT) form.
              val Seq((c1, op0, rhs0)) = extra
              val c2 = rhs0 match {
                case r2: ColRef => r2
                case other => throw new IllegalArgumentException(
                  s"ASOF time bound must compare two columns, got $other")
              }
              val (ft, at, opN) =
                if (c1.table == t) (c1, c2, op0)
                else (c2, c1, flipCmp(op0))
              // the fresh side's dialect id is internal row identity —
              // never user-addressed through a join; drop it from the
              // carry when the accumulated side already has one
              val payload = tdf.columns.filterNot(_ == fresh.column)
                .filterNot(c => c == "id" && acc.columns.contains("id"))
                .toSeq
              val clash = payload.toSet.intersect(acc.columns.toSet)
              require(clash.isEmpty,
                s"ASOF JOIN $t columns collide with the accumulated " +
                  s"side: ${clash.mkString(", ")} — stage a renaming " +
                  "derived table")
              val pm = payload.map(c => c -> c).toMap
              // a NULL fresh-side time can never be "at or before/after"
              // anything — excluded scan-side, or it would sort to an
              // edge of the window and be carried as a phantom match
              val tdfT = tdf.filter(tdf(ft.column).isNotNull)
              val joined = opN match {
                case "<=" => graft.operators.AsOfJoin.asOf(acc, tdfT,
                  known.column, fresh.column, at.column, ft.column, pm)
                case ">=" => graft.operators.AsOfJoin.asOfForward(acc, tdfT,
                  known.column, fresh.column, at.column, ft.column, pm)
                case o => throw new IllegalStateException(
                  s"unreachable ASOF operator $o")
              }
              acc =
                if (kind == "asof_left") joined
                else joined.filter(col(ft.column).isNotNull)
            } else {
            // column-column extras orient accumulated-op-fresh (a parse
            // that led with the fresh side flips the operator); a literal
            // rhs compares whichever side its column lives on. Either
            // way the extras ride the SAME hash-join condition —
            // Catalyst keeps the equality pair as the join key and
            // evaluates the rest as a post-filter on each hash match
            // (never a nested loop), which for OUTER joins is exactly
            // the ANSI ON-clause semantics (unmatched rows null-extend).
            val cond = extra.foldLeft(acc(known.column) === tdf(fresh.column)) {
              case (c, (l2, op2, rhs)) =>
                val term = rhs match {
                  case r2: ColRef =>
                    // a column-column conjunct must span the two frames —
                    // a same-side pair would silently read the wrong frame
                    require((l2.table == t) != (r2.table == t),
                      s"an ON conjunct must compare the joined table $t " +
                        "against the accumulated side — move same-side " +
                        "column comparisons to WHERE (or use a literal " +
                        "right-hand side)")
                    val (k2, f2, op3) =
                      if (l2.table == t) (r2, l2, flipCmp(op2))
                      else (l2, r2, op2)
                    if (op3 == "=") acc(k2.column) === tdf(f2.column)
                    else if (op3 == "<>") !(acc(k2.column) === tdf(f2.column))
                    else graft.core.Compare.cmp(acc(k2.column), op3,
                      tdf(f2.column))
                  case v =>
                    val side = if (l2.table == t) tdf(l2.column)
                               else acc(l2.column)
                    graft.core.Compare.cmp(side, op2, v)
                }
                c && term
            }
            acc = acc.join(tdf, cond, kind)
            // same-NAMED equi-join keys (a CTE joined back to its base
            // table is the common case) would make every later bare-name
            // reference ambiguous; on an INNER join the two copies hold
            // equal values, so keep the accumulated side's — the
            // reference's dict-merge does the same collapse. Outer joins
            // keep both (the unmatched side's NULL key is meaningful —
            // the coalesce key-merge serves those).
            if (kind == "inner" && known.column == fresh.column)
              acc = acc.drop(tdf(fresh.column))
            }
          }
          acc
        }
        // UNNEST sources (round-15): one per-row Generate each — the
        // output column joins the frame before WHERE/laterals, so
        // conjuncts and lateral bodies may reference it
        sel.unnests.foreach { case (nm, c, e) =>
          require(!df.columns.contains(c),
            s"UNNEST $nm output column $c collides with an existing " +
              "column — pick another name")
          df = df.withColumn(c, explode(exprColumn(cat, e)))
        }
        // LATERAL aggregate subqueries fold in BEFORE the WHERE clause,
        // so outer conjuncts may filter on lateral outputs (`where
        // t.cnt > 5`) — Catalyst still pushes outer-only conjuncts
        // below the lateral join. Round-15 (the r14 perf observation):
        // SIMPLE conjuncts that read only PRE-lateral columns apply
        // first — they commute with the lateral join (outer-only
        // filters), and a visibly-filtered outer lets lateralTopK
        // semi-prune the ranked inner side.
        val (preLat, postLat) =
          if (sel.laterals.isEmpty) (Seq.empty[Pred], wheres)
          else wheres.partition(p => !subqueryPred(p) &&
            predRefs(p).nonEmpty &&
            predRefs(p).forall(df.columns.contains))
        df = applyWheres(cat, df, preLat, registry)
        sel.laterals.foreach { case (nm, body, outerJoin) =>
          df = lateralJoin(cat, df, nm, body, registry, outerJoin)
        }
        df = applyWheres(cat, df, postLat, registry)
        // SCALE GUARD (round-13, comma joins): a comma-joined select
        // whose WHERE fails to link every source leaves a cartesian in
        // the plan — at 100 TB that is |A|×|B| work. Reject with the
        // remedy instead of executing it. (Plan-only check: the
        // optimizer runs, nothing executes; over the plan without the
        // driver-side fold, so session tables are judged as any others.)
        if (sel.froms.nonEmpty) {
          // a ≤1-row side is NOT a cartesian risk — the uncorrelated
          // scalar-subquery/EXISTS probes legitimately broadcast one row
          // on a condition-less cross join, and maxRows proves it
          val cartesian = graft.core.LocalFold.unfolded(df).optimizedPlan.collectFirst {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join
                if j.condition.isEmpty &&
                  j.joinType == org.apache.spark.sql.catalyst.plans.Cross &&
                  !j.left.maxRows.exists(_ <= 1) &&
                  !j.right.maxRows.exists(_ <= 1) => j
          }
          require(cartesian.isEmpty,
            "comma-joined FROM sources need WHERE equality conjuncts " +
              "linking every source (a.k = b.k) — the plan still " +
              "contains a cartesian join")
        }
        // aggregates SPELLED in HAVING but not projected (round-12 — the
        // TPC-H Q18 idiom `having sum(l_quantity) > 300`): the grouped
        // branch adds them to the same agg pass under their auto-aliases
        // and records them here to DROP after the filter runs.
        var havingDrop: Seq[String] = Nil
        // aggregates a window's OVER clause spells that the select list
        // does not produce (round-13 grouped windows) — same add-then-
        // drop treatment as havingDrop
        var winDrop: Seq[String] = Nil
        // expression window keys in a GROUPED select (round-14): each
        // reserved graft_wk name with the Column that reproduces it on
        // the AGGREGATED frame — added just before the windows compute,
        // dropped with winDrop after
        var winPost: Seq[(String, Column)] = Nil
        val out = groupBy match {
          case gs if gs.nonEmpty =>
            require(!items.exists(_.isInstanceOf[ScalarSubItem]),
              "scalar subqueries cannot mix with GROUP BY in one select — " +
                "stage through a CTE")
            require(!items.exists(_.isInstanceOf[ExistsItem]),
              "projected EXISTS flags cannot mix with GROUP BY in one " +
                "select — stage through a CTE")
            require(sel.groupMode.nonEmpty ||
              !items.exists(_.isInstanceOf[GroupingItem]),
              "grouping() marks ROLLUP/CUBE subtotal rows — a plain " +
                "GROUP BY has none")
            // scalar expressions in a grouped select come in two kinds
            // (round-10 growth): an ExprItem whose alias appears in the
            // GROUP BY list is a COMPUTED GROUPING KEY — evaluated
            // scan-side BEFORE the aggregation (`year(t.d) as y … group
            // by y`, the time-rollup/histogram idiom, partial-agg'd like
            // any key); every other ExprItem computes on the aggregated
            // frame and may reference grouping keys only (no per-group
            // value otherwise).
            val groupExprs = items.collect { case e: ExprItem => e }
            val (keyExprs, postExprs) = groupExprs.partition(e =>
              gs.exists(g => g.table.isEmpty && g.column == e.alias))
            var pre = df
            keyExprs.foreach { e =>
              require(!pre.columns.contains(e.alias),
                s"computed grouping key ${e.alias} collides with a column")
              pre = pre.withColumn(e.alias, exprColumn(cat, e.expr))
            }
            gs.filter(_.table.isEmpty).foreach(g =>
              require(pre.columns.contains(g.column),
                s"group by ${g.column}: neither a column nor a computed " +
                  "projection alias of this select"))
            val groupKeySet = gs.map(_.column).toSet
            postExprs.foreach { e =>
              val bad = exprRefs(e.expr).diff(groupKeySet)
              require(bad.isEmpty,
                s"a grouped select's expressions may reference grouping " +
                  s"keys only — ${bad.mkString(", ")} is not a grouping key " +
                  "(aggregate it, or compute over the result through a CTE)")
            }
            // expressions OVER aggregates (`sum(a) / count(*) as mean`):
            // each distinct inner aggregate joins the SAME groupBy.agg
            // pass under a reserved name (one shuffle, partial-agg'd),
            // the arithmetic evaluates on the aggregated frame, and the
            // reserved columns drop from the output
            val aggMap = postExprs.flatMap(e => aggNodes(e.expr)).distinct
              .zipWithIndex.map { case (a, i) => a -> s"__ag$i" }.toMap
            val extraAggs = aggMap.toSeq.sortBy(_._2)
              .map { case (a, n) => aggColumnOf(cat, a, n) }
            val base = aggsRaw(cat, items)
            // HAVING aggregates the select list does NOT produce: same
            // agg pass (one shuffle), auto-aliased, dropped post-filter
            val itemAliases = items.flatMap {
              case AggExprItem(_, _, a) => Seq(a)
              case StringAggItem(_, _, a, _, _, _) => Seq(a)
              case ArgExtremeItem(_, _, _, a) => Seq(a)
              case GroupingItem(_, a) => Seq(a)
              case _ => Seq.empty
            }.toSet
            val havingAdds = having.flatMap(h => h.agg.map(h.column -> _))
              .distinctBy(_._1)
              .filterNot { case (n, _) =>
                itemAliases.contains(n) || gs.exists(_.column == n) }
            havingDrop = havingAdds.map(_._1)
            val havingAggs = aggsRaw(cat, havingAdds.map(_._2))
            // window OVER-clause aggregate spellings (round-13 —
            // `rank() over (order by sum(t.x) desc)`): any dep the
            // select list does not already produce joins the SAME
            // aggregation pass under its auto-alias and drops after the
            // window computes — one shuffle for keys, aggregates,
            // HAVING extras and window deps alike.
            val winAdds = items.collect { case w: WinCall => w }
              .flatMap(_.aggDeps).distinctBy(_._1)
              .filterNot { case (n, _) =>
                itemAliases.contains(n) || gs.exists(_.column == n) ||
                  havingAdds.exists(_._1 == n) }
            // EXPRESSION window keys in a grouped select (round-14 —
            // the r13 queue's #3): legal when the expression is a
            // function of the GROUPING KEYS (constant per group), in
            // either spelling: (a) it structurally matches a projected
            // or computed-key expression — including the bare `group by
            // <expr>`'s reserved graft_gk item — and addresses that
            // column; (b) its refs are all grouping keys, so it
            // recomputes POST-aggregation under the reserved graft_wk
            // name. Anything else has no per-group value and rejects.
            val (exprWins, aggWins) = winAdds.partition {
              case (_, _: ExprItem) => true
              case _ => false
            }
            val gkSet = gs.map(_.column).toSet
            // reserved graft_gk key columns a window key addresses must
            // survive until the windows compute (then drop with winDrop)
            val keepGk = scala.collection.mutable.Set.empty[String]
            winPost = exprWins.map { case (n, it) =>
              val e = it.asInstanceOf[ExprItem].expr
              items.collectFirst {
                case ExprItem(e2, a) if e2 == e && a != n => a
              } match {
                case Some(a) =>
                  if (a.startsWith("graft_gk")) keepGk += a
                  n -> col(a)
                case None =>
                  // legal refs: grouping keys, aggregate auto-aliases,
                  // and computed projections — everything present on
                  // the aggregated frame when the key recomputes
                  val allowed = gkSet ++ itemAliases ++
                    groupExprs.map(_.alias)
                  val bad = exprRefs(e).diff(allowed)
                  require(bad.isEmpty,
                    "a grouped window's computed key must be a function " +
                      "of the grouping keys or projected outputs — " +
                      s"${bad.mkString(", ")} is not a grouping key " +
                      "(project the expression `as <alias>` and group " +
                      "by it)")
                  n -> exprColumn(cat, e)
              }
            }
            aggWins.foreach {
              case (_, _: AggExprItem) => ()
              case (_, other) => throw new IllegalArgumentException(
                s"unsupported grouped-window dependency: $other")
            }
            winDrop = winAdds.map(_._1) ++ keepGk
            val winAggs = aggsRaw(cat, aggWins.map(_._2))
            val aggAll =
              if (base.isEmpty && extraAggs.isEmpty && havingAggs.isEmpty &&
                  winAggs.isEmpty)
                Seq(count(lit(1)).as("cnt"))
              else base ++ extraAggs ++ havingAggs ++ winAggs
            // ROLLUP/CUBE (round-12): Spark's native subtotal grouping —
            // one Expand node feeding the SAME partial-agg'd aggregation
            // shuffle; subtotal rows carry NULL keys (ANSI, both engines)
            val grouped = sel.groupMode match {
              case "rollup" => pre.rollup(gs.map(g => col(g.column)): _*)
              case "cube" => pre.cube(gs.map(g => col(g.column)): _*)
              // the general GROUPING SETS form (round-13): same native
              // Expand-over-aggregation plan, one partial-agg'd shuffle,
              // only the listed sets expand (rollup/cube above are its
              // two special cases)
              case "sets" => pre.groupingSets(
                sel.groupSets.map(_.map(g => col(g.column))),
                gs.map(g => col(g.column)): _*)
              case _ => pre.groupBy(gs.map(g => col(g.column)): _*)
            }
            val aggd = grouped.agg(aggAll.head, aggAll.tail: _*)
            postExprs.foreach(e => require(!aggd.columns.contains(e.alias),
              s"computed alias ${e.alias} collides with an output column"))
            postExprs.foldLeft(aggd)((d, e) =>
              d.withColumn(e.alias, exprColumn(cat, substAggs(e.expr, aggMap))))
              .drop(aggMap.values.toSeq: _*)
              // reserved graft_gk keys carry the BARE `group by <expr>`
              // spelling (no user-visible name) — stripped from the
              // output, except those a grouped window key addresses
              // (they ride until the windows compute, then drop)
              .drop(gs.map(_.column).filter(c =>
                c.startsWith("graft_gk") && !keepGk(c)): _*)
          case _ =>
            require(!items.exists(_.isInstanceOf[GroupingItem]),
              "grouping() is valid only under GROUP BY ROLLUP/CUBE")
            val docPaths = items.collect { case Field(r) if r.column.startsWith("~") => r }
            if (docPaths.nonEmpty) {
              require(!items.exists(_.isInstanceOf[WinCall]),
                "window calls cannot mix with doc-path projection")
              require(!items.exists(i => i.isInstanceOf[ExprItem] ||
                i.isInstanceOf[AggExprItem]),
                "expressions cannot mix with doc-path projection")
              require(!items.exists(_.isInstanceOf[ScalarSubItem]),
                "scalar subqueries cannot mix with doc-path projection")
              require(!items.exists(_.isInstanceOf[ExistsItem]),
                "projected EXISTS flags cannot mix with doc-path projection")
              // doc-path projection, one output row per addressed leaf
              // combination: paths through the SAME array share one explode
              // (positionally-aligned leaves — the reference's flattened
              // multi-path row dicts, README.md:134-145); paths through
              // different arrays cross. Plain fields may be projected
              // ALONGSIDE paths — they repeat per exploded leaf.
              val aliasOf = docPaths.map(r =>
                r -> r.column.split("~").last.replaceAll("\\[\\d*\\]$", "")).toMap
              require(aliasOf.values.toSeq.distinct.size == aliasOf.size,
                "doc-paths in one select need distinct leaf names")
              val exploded = graft.doc.DocStore.selectPaths(df, "doc",
                docPaths.distinct.map(r => r.column -> aliasOf(r)))
              val outCols = items.flatMap {
                case Field(r) if r.column.startsWith("~") => Seq(aliasOf(r))
                case Field(r) => Seq(r.column)
                // `select *, t.~path from t`: star expands to every plain
                // column (the doc struct itself is consumed by the path)
                case Star => df.columns.toSeq.filter(_ != "doc")
                case _ => Seq.empty // aggs; windows/coalesce/exprs rejected above
              }.distinct
              val pathAliases = aliasOf.values.toSet
              val scalarCols = outCols.filterNot(pathAliases)
              val projected = exploded.select(outCols.map(col): _*)
              // missing-field skip applies to the scalar fields, as in the
              // plain branch (server.py:1054-1060); null doc leaves are kept
              // (unchanged single-path semantics). LEFT JOIN selects keep
              // SQL null semantics instead (see the class doc).
              if (scalarCols.isEmpty || joins.exists(_.outer)) projected
              else projected.na.drop("any", scalarCols)
            } else {
              val scalarSubs = items.collect { case s0: ScalarSubItem => s0 }
              val existsItems = items.collect { case x: ExistsItem => x }
              val wins = items.collect { case w: WinCall => w }
              // OVER-clause deps here: EXPRESSION keys compute scan-side
              // under their reserved names (added below, shed by the
              // final projection); an AGGREGATE call means "over the
              // groups" — meaningless without GROUP BY
              val winKeyExprs = wins.flatMap(_.aggDeps).distinctBy(_._1)
              winKeyExprs.foreach {
                case (_, _: ExprItem) => ()
                case _ => throw new IllegalArgumentException(
                  "an aggregate call inside OVER needs GROUP BY in the " +
                    "same select (windows over aggregates rank the groups)")
              }
              // SCALE GUARD (r10 verdict): a ranking window with no
              // PARTITION BY plans a single-partition global sort — one
              // executor orders EVERY row, the 100 TB killer. Allowed
              // above a WHERE (a documented-selective input) or over
              // statement-created tables (LocalRelations — bounded by
              // construction); an unfiltered global rank over FILE-BACKED
              // data is rejected toward partitioning or an explicit
              // filter. LIMIT does NOT exempt (r11 verdict): it applies
              // AFTER the window computes — Window is not
              // TakeOrderedAndProject, so `… limit 10` still sorts every
              // row on one executor before any limit.
              val ranking = Set("row_number", "rank", "dense_rank", "ntile")
              if (wins.exists(w => w.part.isEmpty && ranking(w.fn)) &&
                  wheres.isEmpty) {
                val fileBacked = df.queryExecution.analyzed.collectFirst {
                  case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
                }.isDefined
                require(!fileBacked,
                  "an unpartitioned ranking window (row_number/rank/" +
                    "dense_rank/ntile with no PARTITION BY) globally sorts " +
                    "on ONE executor — add `partition by`, or a WHERE " +
                    "that bounds the input (LIMIT cannot help: it applies " +
                    "after the window has already sorted every row)")
              }
              val exprs = items.collect { case e: ExprItem => e }
              val computedAliases = wins.map(winAlias) ++ exprs.map(_.alias) ++
                scalarSubs.map(_.alias) ++ existsItems.map(_.alias)
              require(computedAliases.distinct.size == computedAliases.size,
                s"duplicate computed output aliases: $computedAliases")
              // a computed alias shadowing a projected plain field would
              // silently overwrite it in withColumn — reject instead
              val plainNames = items.flatMap {
                case Field(r) => Seq(r.column)
                case Star => df.columns.toSeq
                case _ => Seq.empty
              }
              require(computedAliases.intersect(plainNames).isEmpty,
                s"computed alias ${computedAliases.intersect(plainNames).mkString(", ")} " +
                  "collides with a projected field — pick a distinct alias")
              val cols = items.flatMap {
                case Star => df.columns.toSeq
                case _: StarMod => throw new IllegalStateException(
                  "unexpanded * EXCLUDE/REPLACE") // desugared at entry
                case Field(ref) => Seq(ref.column)
                case w: WinCall => Seq(winAlias(w))
                case e: ExprItem => Seq(e.alias)
                case s0: ScalarSubItem => Seq(s0.alias)
                case x: ExistsItem => Seq(x.alias)
                case _: AggExprItem | _: StringAggItem | _: ArgExtremeItem |
                     _: GroupingItem => Seq.empty
              }
              val isAggItem = (i: SelectItem) => i match {
                case _: AggExprItem | _: StringAggItem |
                     _: ArgExtremeItem => true
                // an expression over aggregates is itself an aggregate
                // output (`sum(a) / sum(b) as r`)
                case e: ExprItem => aggNodes(e.expr).nonEmpty
                case _ => false
              }
              // all-aggregate select = global aggregation; a MIX of
              // aggregates and plain fields without GROUP BY has no SQL
              // meaning — reject instead of silently dropping the
              // aggregate (same posture as the window/coalesce guards)
              require(!items.exists(isAggItem) || items.forall(isAggItem),
                "aggregates cannot mix with plain fields without GROUP BY")
              if (items.nonEmpty && items.forall(isAggItem)) {
                val aggExprs = items.collect {
                  case e: ExprItem if aggNodes(e.expr).nonEmpty => e }
                val aggMap = aggExprs.flatMap(e => aggNodes(e.expr)).distinct
                  .zipWithIndex.map { case (a, i) => a -> s"__ag$i" }.toMap
                val aggAll = aggsRaw(cat, items) ++ aggMap.toSeq.sortBy(_._2)
                  .map { case (a, n) => aggColumnOf(cat, a, n) }
                val aggd = df.agg(aggAll.head, aggAll.tail: _*)
                aggExprs.foldLeft(aggd)((d, e) => d.withColumn(e.alias,
                  exprColumn(cat, substAggs(e.expr, aggMap))))
                  .drop(aggMap.values.toSeq: _*)
              }
              else {
                // computed window keys first (scan-side, codegen'd); the
                // final projection's column list never includes the
                // reserved graft_wk names, so they shed with the select
                val withWinKeys = winKeyExprs.foldLeft(df) {
                  case (d, (n, ExprItem(e, _))) =>
                    d.withColumn(n, exprColumn(cat, e))
                  case (d, _) => d
                }
                val withWins = wins.foldLeft(withWinKeys)((d, w) =>
                  d.withColumn(winAlias(w), winColumn(w)))
                // scalar expressions evaluate per-row inside the same
                // projection — codegen'd, no extra pass
                val withExprs = exprs.foldLeft(withWins)((d, e) =>
                  d.withColumn(e.alias, exprColumn(cat, e.expr)))
                // projection-list scalar subqueries attach their value by
                // the shared scalarJoin plan (broadcast row or
                // decorrelated left join)
                val withComputed0 = scalarSubs.foldLeft(withExprs) { (d, s0) =>
                  val (joined, v, _, reserved) =
                    scalarJoin(cat, d, s0.sub, registry)
                  joined.withColumn(s0.alias, v).drop(reserved: _*)
                }
                // projected EXISTS flags (round-13): one row-preserving
                // left join each, miss coalesced to FALSE (two-valued)
                val withComputed = existsItems.foldLeft(withComputed0) {
                  (d, x) =>
                    existsJoin(cat, d, x.sub, registry, anti = false,
                      flagCol = Some(x.alias))
                      .withColumn(x.alias,
                        coalesce(col(x.alias), lit(false)))
                }
                // missing-field skip semantics (server.py:1054-1060)
                // apply to the projected SCALAR fields; window outputs
                // and coalesce (computed, never "missing") are exempt, and
                // LEFT JOIN selects keep SQL null semantics (dropping null
                // right-side fields would undo the outer join — see the
                // class doc). A PURE RENAME (`select t.a as b`) is not a
                // computation — it keeps the skip, so renaming a column
                // never changes the returned row set. Inline VALUES
                // columns (round-13) are exempt too: their explicit
                // NULLs are DATA the user wrote, never a missing field.
                // …and LATERAL outputs (round-13): computed aggregates
                // whose NULLs are the ANSI empty-group row, never a
                // missing field
                // UNNEST outputs are DATA (round-15): a NULL list
                // element IS a present value — the missing-field skip
                // must not drop its row (DuckDB keeps it); same
                // exemption as lateral outputs and inline VALUES
                val latNames = (sel.laterals.map(_._1) ++
                  sel.unnests.map(_._1)).toSet
                val skipExempt = (wins.map(winAlias) ++
                  scalarSubs.map(_.alias) ++ existsItems.map(_.alias) ++
                  items.collect {
                    case Field(r) if inlineNames(r.table) ||
                      latNames(r.table) => r.column } ++
                  exprs.collect { case e if !e.expr.isInstanceOf[ECol] => e.alias }).toSet
                val scalarCols = cols.filterNot(skipExempt)
                val projected = withComputed.select(cols.map(col): _*)
                if (scalarCols.isEmpty || joins.exists(_.outer)) projected
                else projected.na.drop("any", scalarCols)
              }
            }
        }
        // GROUPED WINDOWS (round-13 — the r11/r12 verdicts' #1): window
        // calls in a grouped select compute over the AGGREGATED frame
        // (`rank() over (order by sum(t.x) desc)` ranks the GROUPS).
        // ORDERING INVARIANT (r11 verdict #3, now exercised): aggregate
        // → HAVING → window → QUALIFY. HAVING must shrink the frame
        // BEFORE ranks compute — groups it removes must never occupy a
        // rank — so the grouped-window path applies it here and the
        // common HAVING step below is skipped. The plan stays
        // Window-over-Filter-over-Aggregate: one aggregation shuffle
        // plus the window's own partition exchange, nothing more
        // (ScaleSpec asserts). The aggregation bounds the frame the way
        // a WHERE bounds a scan, so the unpartitioned-ranking scale
        // guard does not apply here by construction.
        val groupedWins =
          if (groupBy.nonEmpty) items.collect { case w: WinCall => w }
          else Nil
        val (windowed, havingDone) =
          if (groupedWins.isEmpty) (out, false)
          else {
            val h = applyHavingPreds(cat, out, having, registry)
            // expression window keys reproduce on the aggregated frame
            // under their reserved names just before the windows read
            // them (round-14) — dropped with winDrop below
            val hp = winPost.foldLeft(h)((d, p) =>
              d.withColumn(p._1, p._2))
            val w = groupedWins.foldLeft(hp)((d, wc) =>
              d.withColumn(winAlias(wc), winColumn(wc)))
            (w.drop((havingDrop ++ winDrop).distinct: _*), true)
          }
        // a grouped select's outputs come out in select-list order: the
        // aggregation puts aggregates before post-aggregation items and
        // the windows after both. The grouping keys lead, and extras
        // still to drop (HAVING-only aggregates) keep their slots. A
        // repeated output name (`count(*), count(*)`) cannot be selected
        // by name, so that frame keeps the aggregation's order.
        val afterWin =
          if (groupBy.isEmpty ||
              windowed.columns.distinct.length < windowed.columns.length)
            windowed
          else {
            val listed = items.flatMap(outputNameOf).distinct.filter(n =>
              windowed.columns.contains(n) && !groupBy.exists(_.column == n))
            val inOrder = listed.iterator
            val order = windowed.columns.toSeq.map(c =>
              if (listed.contains(c)) inOrder.next() else c)
            if (order == windowed.columns.toSeq) windowed
            else windowed.select(order.map(col): _*)
          }
        // QUALIFY filters the post-window frame's OUTPUT columns (the
        // grouped-top-k idiom `qualify rn <= 3`); Catalyst plans it as
        // Filter-over-Window. Requires a window in the select — a
        // window-less QUALIFY is just WHERE (or HAVING), rejected
        // toward them.
        val qualified =
          if (qualify.isEmpty) afterWin
          else {
            require(items.exists(_.isInstanceOf[WinCall]),
              "QUALIFY filters window outputs — this select has no " +
                "window call (use WHERE, or HAVING over aggregates)")
            // inline qualify windows (round-13) computed under reserved
            // graft_qw aliases drop right after their filter runs
            val qwDrop = items.collect {
              case w: WinCall if w.alias.exists(_.startsWith("graft_qw")) =>
                w.alias.get
            }
            applyHavingPreds(cat, afterWin, qualify, registry).drop(qwDrop: _*)
          }
        // HAVING filters the aggregated frame's OUTPUT columns (Catalyst
        // plans it as Filter-over-Aggregate and pushes grouping-key
        // conjuncts below the aggregation — the same plan q_having
        // proves); an aggregate referenced in HAVING is either projected
        // in the select list, or (round-12) spelled as a call and added
        // to the agg pass under its auto-alias — dropped again here.
        // (Already applied pre-window when the select has grouped
        // windows — the ordering invariant above.)
        val havinged =
          if (havingDone) qualified
          else applyHavingPreds(cat, qualified, having, registry)
            .drop(havingDrop: _*)
        // DISTINCT over the projected (post-HAVING) rows — one
        // partial-agg shuffle on all output columns, exactly the
        // q_distinct plan. DISTINCT ON (round-13) instead keeps the
        // FIRST row per key group in the statement's ORDER BY: one
        // row_number window partitioned by the keys (one exchange on
        // the keys; the parse-validated tiebreaker makes the pick
        // deterministic — Postgres/DuckDB semantics), filtered to 1.
        val dedup =
          if (sel.distinctOn.nonEmpty) {
            import org.apache.spark.sql.expressions.Window
            val missing =
              sel.distinctOn.filterNot(r => havinged.columns.contains(r.column))
            require(missing.isEmpty,
              s"DISTINCT ON keys must be projected output columns — " +
                s"missing: ${missing.map(_.column).mkString(", ")}")
            val part = sel.distinctOn.map(r => col(r.column))
            val tail = orderBy.drop(sel.distinctOn.length).map {
              case (e, desc, nf) =>
                val c = exprColumn(cat, e)
                (desc, nf) match {
                  case (false, None) => c.asc_nulls_last
                  case (true, None) => c.desc
                  case (false, Some(f)) =>
                    if (f) c.asc_nulls_first else c.asc_nulls_last
                  case (true, Some(f)) =>
                    if (f) c.desc_nulls_first else c.desc_nulls_last
                }
            }
            val w = Window.partitionBy(part: _*).orderBy(tail: _*)
            havinged.withColumn("graft_don", row_number().over(w))
              .filter(col("graft_don") === 1).drop("graft_don")
          }
          else if (distinct) havinged.distinct() else havinged
        // ORDER BY / LIMIT on the projected frame: sort keys address
        // output columns (aliases included — `cnt`, `sum_x`, doc-path leaf
        // names). ORDER BY + LIMIT plans as TakeOrderedAndProject (per-
        // partition top-k + driver merge — no global sort at any scale);
        // a bare LIMIT is a CollectLimit. OFFSET composes before LIMIT
        // (SQL `LIMIT n OFFSET m` = rows m+1..m+n of the sorted stream —
        // Spark folds offset+limit+sort into one GlobalLimit plan).
        // ASC pins NULLS LAST: Spark's asc default is nulls-FIRST while
        // DuckDB's is nulls-last, and with outer joins in the dialect a
        // nullable sort key under LIMIT would otherwise keep DIFFERENT
        // rows per engine (desc defaults already agree on nulls-last).
        // Sort keys are full expressions over output columns (round-11);
        // a bare ECol lowers to the same output-column reference as ever.
        // (key column, descending, nulls-first) triples — shared by the
        // plain sort and the WITH TIES threshold machinery
        val keySpecs: Seq[(Column, Boolean, Boolean)] =
          orderBy.map { case (e, desc, nf) =>
            // `order by 2` (round-13) — an integer-literal sort key is an
            // ORDINAL into the output columns (sorting by a constant is
            // a no-op nobody means; both engines read it ordinally)
            val c = e match {
              case ELit(n: Long) =>
                require(n >= 1 && n <= dedup.columns.length,
                  s"ORDER BY ordinal $n out of range " +
                    s"1..${dedup.columns.length}")
                col(dedup.columns((n - 1).toInt))
              case _ => exprColumn(cat, e)
            }
            // pinned defaults: asc → nulls-last (DuckDB parity), desc →
            // nulls-last (both engines' default)
            (c, desc, nf.getOrElse(false))
          }
        def dirOf(c: Column, desc: Boolean, nFirst: Boolean): Column =
          (desc, nFirst) match {
            case (false, false) => c.asc_nulls_last
            case (false, true) => c.asc_nulls_first
            case (true, false) => c.desc_nulls_last
            case (true, true) => c.desc_nulls_first
          }
        val ordered =
          if (orderBy.isEmpty) dedup
          else dedup.orderBy(keySpecs.map((dirOf _).tupled): _*)
        if (limitTies) {
          // WITH TIES (round-15): qualify = key-tuple ≤lex the n-th
          // row's tuple. The threshold is a BOUNDED probe — one
          // TakeOrderedAndProject to n rows, re-sorted inverted to 1 row
          // (the dynamic-PIVOT probe pattern) — then ONE literal
          // lexicographic filter over the scan: no global rank window,
          // no single-partition stage at any scale.
          val n = limit.get
          val m = keySpecs.length
          val withKeys = keySpecs.zipWithIndex.foldLeft(dedup) {
            case (df, ((c, _, _), i)) => df.withColumn(s"graft_lt_$i", c) }
          def dirs(invert: Boolean) = keySpecs.zipWithIndex.map {
            case ((_, d, f), i) =>
              dirOf(col(s"graft_lt_$i"), d ^ invert, f ^ invert) }
          val th = withKeys.orderBy(dirs(invert = false): _*).limit(n)
            .orderBy(dirs(invert = true): _*).limit(1)
            .select((0 until m).map(i => col(s"graft_lt_$i")): _*).collect()
          if (th.isEmpty) ordered // empty input — nothing to bound
          else {
            val t = th.head
            // strictly-before under key i's direction and nulls
            // placement, against the LITERAL threshold value
            def before(i: Int): Column = {
              val (_, desc, nFirst) = keySpecs(i)
              val c = col(s"graft_lt_$i")
              if (t.isNullAt(i)) { if (nFirst) lit(false) else c.isNotNull }
              else {
                val cmp = if (desc) c > lit(t.get(i)) else c < lit(t.get(i))
                if (nFirst) c.isNull || cmp else cmp
              }
            }
            def tie(i: Int): Column = col(s"graft_lt_$i") <=> lit(t.get(i))
            val pred = (0 until m).reverse.foldLeft(lit(true)) {
              (acc, i) => before(i) || (tie(i) && acc) }
            withKeys.filter(pred)
              .orderBy(dirs(invert = false): _*)
              .drop((0 until m).map(i => s"graft_lt_$i"): _*)
          }
        } else {
          val skipped = offset.fold(ordered)(ordered.offset)
          limit.fold(skipped)(skipped.limit)
        }
    }
  }

  /** Every table/alias/derived NAME a select's FROM surface binds —
    * base table, comma sources, and join clauses. The subquery
    * decorrelators classify conjuncts as local-vs-correlated against
    * this set. */
  private def fromTables(s: Select): Set[String] =
    s.joins.flatMap(j => Seq(j.table, j.l.table, j.r.table)).toSet +
      s.table ++ s.froms ++ s.laterals.map(_._1) ++ s.unnests.map(_._1)

  /** Mirror a comparison operator across its operands (`a < b` ≡
    * `b > a`) — shared by ON-clause extras and the subquery
    * decorrelators, which all normalize to one orientation. */
  private def flipCmp(op: String): String = op match {
    case "<" => ">"
    case ">" => "<"
    case "<=" => ">="
    case ">=" => "<="
    case o => o
  }

  /** (inner, outer) orientation of a correlation ColEq — an equality
    * whose ONE side references a table outside the subquery's FROM/JOIN
    * set; None for subquery-local predicates. Shared by EXISTS and
    * scalar-compare decorrelation. */
  private def corrPairOf(subTables: Set[String])(p: Pred): Option[(ColRef, ColRef)] =
    p match {
      case ColEq(a, b) if subTables.contains(a.table) != subTables.contains(b.table) =>
        if (subTables.contains(a.table)) Some((a, b)) else Some((b, a))
      case _ => None
    }

  /** (inner, op, outer) orientation of a RANGE correlation conjunct —
    * a comparison between one inner and one outer column, normalized so
    * the inner side leads (the operator flips with the operands).
    * Shared by the scalar-subquery and LATERAL range decorrelators. */
  private def rangePairOf(subTables: Set[String])
                         (p: Pred): Option[(ColRef, String, ColRef)] =
    p match {
      case Cmp(ECol(a), op @ ("<" | "<=" | ">" | ">="), ECol(b))
          if a.table.nonEmpty && b.table.nonEmpty &&
            subTables.contains(a.table) != subTables.contains(b.table) =>
        if (subTables.contains(a.table)) Some((a, op, b))
        else Some((b, flipCmp(op), a))
      case _ => None
    }

  /** Plan `t.f <op> (select <agg> from u [where …])` against `outer`.
    *
    * UNCORRELATED: the subquery must be a global aggregate (exactly one
    * row STRUCTURALLY — all items aggregates, no GROUP BY; ANSI errors
    * on N-row scalars at runtime, we reject at plan time), broadcast as
    * a 1-row cross join — a scan-side filter against a broadcast value.
    *
    * CORRELATED (round-11 growth — the r10 verdict's #2): correlation
    * rides in the subquery WHERE as [[ColEq]] conjuncts referencing an
    * outer table, exactly like EXISTS. Decorrelated to the standard
    * idiom: ONE groupBy(correlation keys).agg over the subquery side
    * (partial-agg'd scan-side) + ONE left equi-join — never a per-row
    * subquery execution, so the 100 TB shape is an aggregate shuffle of
    * the (typically smaller) subquery side and a broadcastable probe.
    * ANSI semantics at the edges: a missing group is NULL for
    * sum/avg/min/max (comparison UNKNOWN → row dropped) but 0 for
    * count/count(distinct) — COUNT over an empty correlated set is 0,
    * so the join miss coalesces to 0 for count aggregates only.
    *
    * Returns (joined frame, the three-valued compare Column, reserved
    * columns to drop after filtering/flagging). */
  private def scalarCompare(cat: GraftCatalog, outer: DataFrame, ref: ColRef,
                            op: String, sub: Select,
                            registry: Option[JoinRegistry])
      : (DataFrame, Column, Seq[String]) = {
    val (joined, v, dt, reserved) = scalarJoin(cat, outer, sub, registry)
    val lhs = col(ref.column).try_cast(dt)
    val cmpC =
      if (op == "<>") !(lhs === v)
      else graft.core.Compare.cmp(lhs, op, v)
    (joined, cmpC, reserved)
  }

  /** Attach a scalar subquery's value to `outer` — the shared plan under
    * the WHERE-side compare ([[scalarCompare]]) and the projection-list
    * item ([[ScalarSubItem]]). Returns (joined frame, value Column, the
    * scalar's type, reserved columns to drop). See [[scalarCompare]]'s
    * scaladoc for the decorrelation shape and ANSI edges. */
  private def scalarJoin(cat: GraftCatalog, outer: DataFrame, sub: Select,
                         registry: Option[JoinRegistry])
      : (DataFrame, Column, org.apache.spark.sql.types.DataType, Seq[String]) = {
    val subTables = fromTables(sub)
    // the projected value must be built from the subquery's own tables —
    // an outer qualifier there would silently bind to a same-named inner
    // column (r12 advice); correlation belongs in WHERE conjuncts
    val itemLeak = scalarItemLeak(sub, subTables)
    require(itemLeak.isEmpty,
      s"a scalar subquery's projected value references outer table(s) " +
        s"${itemLeak.mkString(", ")} — the value must be computed from " +
        "the subquery's own tables; correlate through WHERE conjuncts " +
        "(u.k = t.k) instead")
    val countFns = Set("count_star", "count", "count_distinct")
    // classify WHERE conjuncts: equality correlation (u.k = t.k), RANGE
    // correlation (round-12 growth — `u.d < t.d`: </<=/>/>= between one
    // inner and one outer column, oriented inner-op-outer here), and
    // subquery-local. Anything ELSE referencing an outer table is an
    // unsupported correlation form — REJECTED up front (the r11 advice:
    // bare names in "local" predicates resolve against the INNER frame,
    // so a silently misclassified correlation yields wrong aggregates).
    val (eqCorr, rest) = sub.wheres.partition(p => corrPairOf(subTables)(p).isDefined)
    def rangePair(p: Pred): Option[(ColRef, String, ColRef)] =
      rangePairOf(subTables)(p)
    val (rangeCorr, local) = rest.partition(p => rangePair(p).isDefined)
    val leak = local.flatMap(p => predTables(p).filterNot(subTables.contains)).distinct
    require(leak.isEmpty,
      s"unsupported correlation form in scalar subquery — predicate " +
        s"references outer table(s) ${leak.mkString(", ")}: correlate " +
        "through equality (u.k = t.k) or range (u.d < t.d) conjuncts " +
        "between one inner and one outer column")
    require(sub.groupBy.isEmpty && sub.items.nonEmpty && sub.items.forall {
      case _: AggExprItem => true
      // an expression OVER aggregates (round-12 growth — TPC-H Q17's
      // `0.2 * avg(l_quantity)`) is itself a one-row scalar
      case e: ExprItem => aggNodes(e.expr).nonEmpty
      case _ => false
    },
      "a scalar subquery must be a global aggregate (select count/sum/avg/" +
        "min/max … — possibly inside an expression — with no GROUP BY: " +
        "exactly one row), optionally correlated through u.k = t.k or " +
        "u.d < t.d conjuncts; use IN (select …) for row-set membership")
    /** The single value expression of a correlated scalar subquery —
      * aggregates normalized to EAgg nodes, literals allowed around them;
      * plain-column refs are rejected (no per-group value on a miss). */
    def valueExpr: Expr = {
      require(sub.items.length == 1,
        "a correlated scalar subquery projects exactly one aggregate")
      val ve = sub.items.head match {
        case AggExprItem(fn, e, _) => EAgg(fn, e)
        case ExprItem(e, _) => e
        case other => throw new IllegalArgumentException(
          s"unsupported scalar-subquery item: $other")
      }
      require(exprRefs(ve).isEmpty,
        "a correlated scalar value is an expression over aggregates and " +
          "literals only (bare column refs have no value on a join miss)")
      ve
    }
    /** ANSI value of the aggregate expression over an EMPTY correlated
      * set: counts are 0, sum/avg/min/max are NULL — substituted as
      * literals and constant-folded, so a join MISS serves exactly what a
      * per-row execution would. */
    def missExpr(e: Expr): Expr = rewrite(expr = {
      case EAgg(fn, _) => if (countFns(fn)) ELit(0L) else ELit(null)
    }).expr(e)
    /** Coalesce a join-miss NULL to the empty-set value — but ONLY when
      * every aggregate node is a count (then a MATCHED group's value is
      * built from non-null counts, so a NULL scalar always means "miss");
      * with sum/avg/min/max in play a matched all-NULL group is itself
      * NULL and must stay NULL. */
    def missValued(scalar: Column, ve: Expr): Column =
      if (aggNodes(ve).forall(n => countFns(n.fn)))
        coalesce(scalar, exprColumn(cat, missExpr(ve)))
      else scalar
    if (eqCorr.isEmpty && rangeCorr.isEmpty) {
      val sf = selectFrame(cat, sub, registry)
      require(sf.columns.length == 1,
        s"scalar subquery must project exactly one column, " +
          s"got ${sf.columns.mkString(", ")}")
      val sv = sf.toDF("graft_scalar")
      (outer.crossJoin(broadcast(sv)), col("graft_scalar"),
        sv.schema.head.dataType, Seq("graft_scalar"))
    } else if (rangeCorr.isEmpty) {
      val ve = valueExpr
      val pairs = eqCorr.flatMap(p => corrPairOf(subTables)(p))
      // grouped aggregate over the subquery side: keys first (groupBy
      // output order), then the value — renamed to reserved names so
      // the join condition can never be ambiguous, even when inner and
      // outer read the same table
      val inner = selectFrame(cat,
        sub.copy(items = pairs.map(p => Field(p._1)) :+ ExprItem(ve, "graft_scalar"),
          wheres = local, groupBy = pairs.map(_._1)), registry)
      val keyed = inner.toDF(
        pairs.indices.map(i => s"graft_sc_$i") :+ "graft_scalar": _*)
      val cond = pairs.zipWithIndex.map { case ((_, o), i) =>
        outer(o.column) === keyed(s"graft_sc_$i") }.reduce(_ && _)
      val joined = outer.join(keyed, cond, "left")
      (joined, missValued(col("graft_scalar"), ve),
        keyed.schema("graft_scalar").dataType,
        pairs.indices.map(i => s"graft_sc_$i") :+ "graft_scalar")
    } else {
      // RANGE correlation (round-12): the aggregate's subset depends on
      // the outer row only through its CORRELATION COLUMN VALUES — so
      // decorrelate over the DISTINCT outer key tuples: (1) distinct the
      // outer's correlation columns (a narrow partial-agg shuffle),
      // (2) hash-join them to the subquery rows on the EQUALITY keys
      // with the range conjuncts riding the join condition (post-filter
      // on the hash match — never a nested loop), (3) aggregate per
      // tuple, (4) left-join the scalars back to the outer on the same
      // tuple. 100 TB shape: both joins are key-partitioned or
      // broadcastable; nothing is per-outer-row.
      val ve = valueExpr
      val eqPairs = eqCorr.flatMap(p => corrPairOf(subTables)(p))
      require(eqPairs.nonEmpty,
        "range correlation in a scalar subquery needs an equality " +
          "conjunct (u.k = t.k) alongside the range — a pure range " +
          "correlation would plan a nested-loop join at scale")
      val ranges = rangeCorr.flatMap(rangePair)
      val outerCols = (eqPairs.map(_._2) ++ ranges.map(_._3)).map(_.column).distinct
      val keyIdx = outerCols.zipWithIndex.toMap
      val keysDf = outer.select(outerCols.map(col): _*).distinct()
        .toDF(outerCols.indices.map(i => s"graft_sc_k$i"): _*)
      val nodes = aggNodes(ve)
      nodes.foreach(n => require(exprTables(n.arg).subsetOf(subTables),
        s"a scalar subquery's aggregate argument must reference the " +
          s"subquery's own tables, got ${exprTables(n.arg).mkString(", ")}"))
      val innerFieldRefs = eqPairs.map(_._1) ++ ranges.map(_._1)
      val innerItems = innerFieldRefs.map(Field(_)) ++
        nodes.zipWithIndex.map { case (n, i) =>
          ExprItem(if (n.fn == "count_star") ELit(1L) else n.arg, s"graft_sc_v$i") }
      val innerRows = selectFrame(cat,
        sub.copy(items = innerItems, wheres = local, groupBy = Nil), registry)
        .toDF(innerFieldRefs.indices.map(i => s"graft_sc_i$i") ++
          nodes.indices.map(i => s"graft_sc_v$i"): _*)
      val eqConds = eqPairs.zipWithIndex.map { case ((_, o), i) =>
        keysDf(s"graft_sc_k${keyIdx(o.column)}") === innerRows(s"graft_sc_i$i") }
      val rangeConds = ranges.zipWithIndex.map { case ((_, op, o), j) =>
        graft.core.Compare.cmp(innerRows(s"graft_sc_i${eqPairs.length + j}"),
          op, keysDf(s"graft_sc_k${keyIdx(o.column)}")) }
      val matched = keysDf.join(innerRows,
        (eqConds ++ rangeConds).reduce(_ && _), "inner")
      val aggMap = nodes.zipWithIndex.map { case (n, i) => n -> s"graft_ag$i" }.toMap
      val aggCols = nodes.zipWithIndex.map { case (n, i) =>
        aggColumnOf(cat, EAgg(n.fn, ECol(ColRef("", s"graft_sc_v$i"))), s"graft_ag$i") }
      val agged = matched
        .groupBy(outerCols.indices.map(i => col(s"graft_sc_k$i")): _*)
        .agg(aggCols.head, aggCols.tail: _*)
        .withColumn("graft_scalar", exprColumn(cat, substAggs(ve, aggMap)))
        .drop(aggMap.values.toSeq: _*)
      val back = outerCols.indices.map(i =>
        outer(outerCols(i)) === agged(s"graft_sc_k$i")).reduce(_ && _)
      val joined = outer.join(agged, back, "left")
      (joined, missValued(col("graft_scalar"), ve),
        agged.schema("graft_scalar").dataType,
        outerCols.indices.map(i => s"graft_sc_k$i") :+ "graft_scalar")
    }
  }

  /** Plan `[not] exists (select …)` as a LEFT SEMI/ANTI join. Correlation
    * rides in the subquery WHERE as `inner.col = outer.col` [[ColEq]]
    * equalities: every conjunct whose one side references a table outside
    * the subquery's FROM/JOIN set becomes a join-key pair; the rest stay
    * subquery-local filters (including fully-local ColEq, which
    * predColumn handles). Null outer keys never match — EXISTS drops
    * them, NOT EXISTS keeps them (ANSI). The subquery's projection is
    * ignored per SQL; grouping/ordering decorations are rejected.
    * Uncorrelated EXISTS degenerates to a constant gate: a LAZY ≤1-row
    * probe rides a broadcast semi/anti join, so building the statement
    * (EXPLAIN included — the r12 advice) runs nothing; execution pays one
    * probe row. 100 TB: the correlated semi join broadcasts the typically
    * dimension-sized subquery side, exactly like [[InSelect]]. */
  private def existsJoin(cat: GraftCatalog, outer: DataFrame, sub: Select,
                         registry: Option[JoinRegistry],
                         anti: Boolean,
                         flagCol: Option[String] = None): DataFrame = {
    require(sub.groupBy.isEmpty && sub.having.isEmpty && sub.orderBy.isEmpty &&
      sub.limit.isEmpty && !sub.distinct && sub.offset.isEmpty &&
      sub.qualify.isEmpty,
      "exists subquery supports plain select … from … [join …] [where …]")
    val subTables = fromTables(sub)
    def corrPair(p: Pred): Option[(ColRef, ColRef)] = corrPairOf(subTables)(p)
    val (corr, rest) = sub.wheres.partition(p => corrPair(p).isDefined)
    // NON-EQUALITY cross-frame conjuncts (round-12 growth — TPC-H Q21's
    // `l2.l_suppkey <> l1.l_suppkey`): a conjunct referencing a table
    // OUTSIDE the subquery's FROM set that is not an equality pair. The
    // supported shapes (inequality / range between ONE inner and ONE
    // outer column) ride in the JOIN CONDITION next to the equality keys
    // — the hash join matches on the keys and post-filters the extras,
    // never a nested loop. Anything else is an unsupported correlation
    // form, REJECTED up front (the r11 advice: bare names in "local"
    // predicates bind to the INNER frame — a silent misclassification
    // would answer wrongly instead of erroring).
    val (cross, local) = rest.partition(p =>
      predTables(p).exists(!subTables.contains(_)))
    // each cross conjunct → (inner ref, outer ref, condition builder
    // taking the reserved inner Column and the outer Column)
    def crossForm(p: Pred): (ColRef, ColRef, (Column, Column) => Column) = {
      def oriented(a: ColRef, b: ColRef): Option[(ColRef, ColRef, Boolean)] =
        if (a.table.isEmpty || b.table.isEmpty) None
        else if (subTables.contains(a.table) && !subTables.contains(b.table))
          Some((a, b, false))
        else if (!subTables.contains(a.table) && subTables.contains(b.table))
          Some((b, a, true))
        else None
      def reject(): Nothing = throw new IllegalArgumentException(
        s"unsupported correlation form in EXISTS subquery: $p — correlate " +
          "through equality (u.k = t.k), inequality (u.k <> t.k), or " +
          "range (u.k < t.k) conjuncts between one inner and one outer column")
      p match {
        // inequality: a join-condition UNKNOWN (null side) is no match —
        // exactly the per-row EXISTS semantics
        case Not(ColEq(a, b)) => oriented(a, b) match {
          case Some((i, o, _)) => (i, o, (ic, oc) => !(ic === oc))
          case None => reject()
        }
        case Cmp(ECol(a), op @ ("=" | "<" | ">" | "<=" | ">="), ECol(b)) =>
          oriented(a, b) match {
            case Some((i, o, flipped)) =>
              val op2 = if (flipped) flipCmp(op) else op
              (i, o, (ic, oc) =>
                if (op2 == "=") ic === oc
                else graft.core.Compare.cmp(ic, op2, oc))
            case None => reject()
          }
        // the ALL rewrite's violation test (round-14): three-valued
        // `(outer op inner) IS NOT TRUE` — null-safe against TRUE
        case CmpNotTrue(i, op, o) =>
          (i, o, (ic, oc) =>
            !(graft.core.Compare.cmp(oc, op, ic) <=> lit(true)))
        case _ => reject()
      }
    }
    if (corr.isEmpty && cross.isEmpty) {
      // LAZY constant gate (r12 advice: the old `.limit(1).count()` here
      // made EXPLAIN execute the subquery): probe the subquery for AT
      // MOST ONE row and broadcast it — a semi join against a ≤1-row
      // always-true side keeps everything iff the probe is non-empty
      // (anti: iff empty), and the flag form left-joins the probe row so
      // a miss coalesces to FALSE. Plan-only until an action runs; at
      // execution the probe costs one row.
      val probe = selectFrame(cat, sub.copy(wheres = local), registry)
        .limit(1).select(lit(true).as("graft_ex_any"))
      flagCol match {
        case Some(f) =>
          outer.join(broadcast(probe), lit(true), "left")
            .withColumn(f, coalesce(col("graft_ex_any"), lit(false)))
            .drop("graft_ex_any")
        case None =>
          outer.join(broadcast(probe), lit(true),
            if (anti) "left_anti" else "left_semi")
      }
    } else {
      val pairs = corr.flatMap(corrPair)
      val crossForms = cross.map(crossForm)
      // PURE-RANGE/INEQUALITY correlation (round-15 — the r14 queue's
      // #5): with NO equality key, a SINGLE range/inequality conjunct
      // reduces to GLOBAL STATS — `∃ s: s < x` ⇔ `min(s) < x`, `∃ s ≠ x`
      // ⇔ `min ≠ x ∨ max ≠ x` — one 1-row aggregate broadcast onto the
      // outer frame, constant work per row at any scale (no join at
      // all, better than any banded range join). Two or more conjuncts
      // would need a JOINT witness (independent min/max is wrong) and
      // still reject toward an equality key.
      if (pairs.isEmpty) {
        // TWO range conjuncts (round-16 — the r15 queue's #5): a JOINT
        // witness (`∃ s: s.a < x AND s.b > y`) that independent min/max
        // stats cannot answer — banded through [[bandedRangeExists]]'s
        // bucket equi-join, never a nested loop.
        val ranges = cross.flatMap(rangePairOf(subTables))
        if (crossForms.length == 2 && ranges.length == 2) {
          require(flagCol.isEmpty,
            "a two-range EXISTS is supported as a top-level WHERE " +
              "conjunct only (under OR it would multiply rows)")
          return bandedRangeExists(cat, outer, sub, local, ranges(0),
            ranges(1), anti, registry)
        }
        require(crossForms.length == 1,
          "a correlated EXISTS needs an EQUALITY conjunct (u.k = t.k) — " +
            "pure range/inequality correlation is supported for ONE " +
            "conjunct (min/max stats) or TWO range conjuncts (a banded " +
            "joint witness); anything more needs an equality key")
        import graft.core.Compare.cmp
        val innerRef = crossForms.head._1
        val outerRef = crossForms.head._2
        // inner column SKIP-EXEMPT (coalesce identity): count(*) vs
        // count(v) must see NULL-valued rows
        val stats = selectFrame(cat, sub.copy(
          items = Seq(ExprItem(EFunc("coalesce",
            Seq(ECol(innerRef), ECol(innerRef))), "graft_exs_v")),
          wheres = local), registry)
          .agg(min(col("graft_exs_v")).as("graft_exs_mn"),
            max(col("graft_exs_v")).as("graft_exs_mx"))
        val joined = outer.crossJoin(broadcast(stats))
        val o = col(outerRef.column)
        val mn = col("graft_exs_mn")
        val mx = col("graft_exs_mx")
        val existsC: Column = cross.head match {
          // ∃ s ≠ x (NULL s never satisfies <>; NULL x matches nothing)
          case Not(ColEq(_, _)) =>
            mn.isNotNull && ((mn =!= o) || (mx =!= o))
          case Cmp(ECol(a), op0, ECol(_)) =>
            // normalize to inner-vs-outer orientation (as crossForm)
            val op2 = if (subTables.contains(a.table)) op0 else flipCmp(op0)
            op2 match {
              // the easiest witness: min for < / <=, max for > / >=;
              // NULL stats (empty/all-NULL S) and NULL x collapse to
              // no-match below
              case o2 @ ("<" | "<=") => cmp(mn, o2, o)
              case o2 @ (">" | ">=") => cmp(mx, o2, o)
              case o2 => throw new IllegalArgumentException(
                s"unsupported pure-range EXISTS operator: $o2 — " +
                  "existence under = needs an equality join key")
            }
          case other => throw new IllegalArgumentException(
            s"unsupported pure-range EXISTS correlation: $other — " +
              "add an equality conjunct (u.k = t.k)")
        }
        val drops = Seq("graft_exs_mn", "graft_exs_mx")
        // EXISTS is two-valued: UNKNOWN collapses to FALSE
        val truth = existsC <=> lit(true)
        return (flagCol match {
          case Some(f) => joined.withColumn(f, truth)
          case None => joined.filter(if (anti) !truth else truth)
        }).drop(drops: _*)
      }
      // project the inner correlation keys AND the cross conjuncts' inner
      // columns, under reserved names so the join condition can never be
      // ambiguous (same trick as subqueryFrame) even when inner and
      // outer read the same table. Equality keys project as plain Fields
      // (a NULL key never matches — the dialect's missing-field row skip
      // is harmless there), but the CROSS conjuncts' inner columns are
      // SKIP-EXEMPT computed identities (coalesce(c, c), the
      // lateralRangeAgg trick — r14 advice): CmpNotTrue's violation test
      // must SEE NULL inner values (`x op NULL` is UNKNOWN ≡ not-TRUE,
      // which violates the ALL rewrite and must drop the outer row), and
      // a plain Field would na.drop those rows before the anti join.
      // Inequality/range conjuncts never match NULLs either way, so the
      // exemption is semantics-neutral for them.
      val innerRefs = pairs.map(_._1) ++ crossForms.map(_._1)
      val innerItems = pairs.map(p => Field(p._1): SelectItem) ++
        crossForms.zipWithIndex.map { case ((i0, _, _), j) =>
          ExprItem(EFunc("coalesce", Seq(ECol(i0), ECol(i0))),
            s"graft_exc_$j"): SelectItem }
      val innerKeys = selectFrame(cat,
        sub.copy(items = innerItems, wheres = local), registry)
        .toDF(innerRefs.indices.map(i => s"graft_ex_$i"): _*)
      def cond(inner: DataFrame): Column = {
        val eq = pairs.zipWithIndex.map { case ((_, o), i) =>
          outer(o.column) === inner(s"graft_ex_$i") }
        val extra = crossForms.zipWithIndex.map { case ((_, o, mk), j) =>
          mk(inner(s"graft_ex_${pairs.length + j}"), outer(o.column)) }
        (eq ++ extra).reduce(_ && _)
      }
      flagCol match {
        case Some(f) =>
          // flag form ([[flaggedFilter]] — EXISTS under OR): distinct
          // keys keep the left join row-preserving; the flag reads
          // true/null → coalesced FALSE at the filter. Non-equality
          // extras would break row preservation (many distinct inner
          // rows can satisfy a range against one outer row) — rejected.
          require(crossForms.isEmpty,
            "non-equality EXISTS correlation is supported as a top-level " +
              "WHERE conjunct only (under OR it would multiply rows)")
          val inner = innerKeys.distinct().withColumn(f, lit(true))
          outer.join(inner, cond(inner), "left")
            .drop(pairs.indices.map(i => s"graft_ex_$i"): _*)
        case None =>
          outer.join(innerKeys, cond(innerKeys),
            if (anti) "left_anti" else "left_semi")
      }
    }
  }

  /** Two-range EXISTS without an equality key (round-16):
    * `∃ s: s.a opA x AND s.b opB y` — a JOINT witness, which neither
    * independent min/max stats (wrong: the min-a row may fail the b
    * test) nor a naive plan (BroadcastNestedLoopJoin, O(|outer|·|S|))
    * can serve at scale. The RangeJoin-style banding:
    *
    *  1. ONE stats pass over S gives min/max of the BAND column `a`
    *     (must be integral — exact long bucket arithmetic, no
    *     float-boundary misbuckets); width = span/1024 rounded up, so
    *     ≤1024 buckets regardless of data size.
    *  2. Per-bucket aggregate of the WITNESS column `b` (max for >/>=,
    *     min for </<=), densified over the full bucket range
    *     (spark.range, ≤1026 rows) and prefix-folded by a window —
    *     prefix(k) answers "best b among rows whose bucket is STRICTLY
    *     below k", which qualify on `a` wholesale (exact: bucket
    *     boundaries are longs). opA pointing the other way flips the
    *     fold to a suffix. The window runs on ≤1026 post-aggregation
    *     rows — single-partition by construction and trivially cheap.
    *  3. The unified inner frame = S's rows (bucket, a, b) ∪ prefix
    *     rows (bucket, NULL, best-b). ONE hash semi/anti equi-join on
    *     the outer row's CLAMPED bucket with the residual predicate
    *     `(a IS NULL OR a opA x) AND b opB y` — prefix rows resolve
    *     every fully-qualified bucket, S's own rows resolve only the
    *     outer row's boundary bucket. Never a cross product; hot
    *     buckets are plain equi-join skew (AQE splits them).
    *
    * NULL rows of S can't witness (filtered scan-side); a NULL outer
    * x/y nulls the bucket/compare and matches nothing — EXISTS's
    * UNKNOWN→FALSE. */
  private def bandedRangeExists(cat: GraftCatalog, outer: DataFrame,
                                sub: Select, local: Seq[Pred],
                                bandC: (ColRef, String, ColRef),
                                witC: (ColRef, String, ColRef),
                                anti: Boolean,
                                registry: Option[JoinRegistry]): DataFrame = {
    import graft.core.Compare.cmp
    import org.apache.spark.sql.types._
    val spark = outer.sparkSession
    // inner witness rows — both columns SKIP-EXEMPT coalesce identities
    // (the stats-path discipline), NULLs dropped scan-side (a NULL can
    // never witness a range)
    val innerW0 = selectFrame(cat, sub.copy(
      items = Seq(
        ExprItem(EFunc("coalesce", Seq(ECol(bandC._1), ECol(bandC._1))),
          "graft_ebr_a"),
        ExprItem(EFunc("coalesce", Seq(ECol(witC._1), ECol(witC._1))),
          "graft_ebr_b")),
      wheres = local), registry)
    val innerW = innerW0.filter(col("graft_ebr_a").isNotNull &&
      col("graft_ebr_b").isNotNull)
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    require(integral.contains(innerW.schema("graft_ebr_a").dataType),
      s"a two-range EXISTS bands on ${bandC._1.column}, which must be " +
        "an integer column (exact bucket boundaries) — cast it, or " +
        "correlate through an equality key")
    val st = innerW.agg(min(col("graft_ebr_a").cast("long")),
      max(col("graft_ebr_a").cast("long"))).head
    if (st.isNullAt(0))
      // empty/no-witness inner: EXISTS is FALSE everywhere
      return if (anti) outer else outer.filter(lit(false))
    val (mnA, mxA) = (st.getLong(0), st.getLong(1))
    val nBuckets = 1024L
    val w = Math.max(1L, Math.addExact(
      Math.subtractExact(mxA, mnA) / nBuckets, 1L))
    val lowDir = bandC._2 == "<" || bandC._2 == "<="
    val maxto = if (lowDir) nBuckets else nBuckets - 1
    val minto = if (lowDir) 0L else -1L
    def ibucket(c: Column): Column =
      ((c.cast("long") - lit(mnA)) / lit(w)).cast("long")
    val perBucket = innerW.withColumn("graft_ebr_k",
      least(ibucket(col("graft_ebr_a")), lit(nBuckets - 1)))
    // witness fold direction: the EXISTS test `b opB y` is answered by
    // the best b — max for >/-(>=), min for </<=
    val wantMax = witC._2 == ">" || witC._2 == ">="
    def best(c: Column): Column = if (wantMax) max(c) else min(c)
    val bAgg = perBucket.groupBy(col("graft_ebr_k"))
      .agg(best(col("graft_ebr_b")).as("graft_ebr_bb"))
    val allK = spark.range(minto, maxto + 1).toDF("graft_ebr_k")
    val wspec =
      if (lowDir) org.apache.spark.sql.expressions.Window
        .orderBy(col("graft_ebr_k").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      else org.apache.spark.sql.expressions.Window
        .orderBy(col("graft_ebr_k").asc)
        .rowsBetween(1, org.apache.spark.sql.expressions.Window
          .unboundedFollowing)
    val prefixRows = allK.join(bAgg, Seq("graft_ebr_k"), "left")
      .withColumn("graft_ebr_pv",
        (if (wantMax) max(col("graft_ebr_bb"))
         else min(col("graft_ebr_bb"))).over(wspec))
      .filter(col("graft_ebr_pv").isNotNull)
      .select(col("graft_ebr_k"),
        lit(null).cast(innerW.schema("graft_ebr_a").dataType)
          .as("graft_ebr_a"),
        col("graft_ebr_pv").as("graft_ebr_b"))
    val unified = perBucket
      .select(col("graft_ebr_k"), col("graft_ebr_a"), col("graft_ebr_b"))
      .unionByName(prefixRows)
    val ox = outer(bandC._3.column)
    val oy = outer(witC._3.column)
    val okey = least(greatest(ibucket(ox), lit(minto)), lit(maxto))
    val jcond = okey === unified("graft_ebr_k") &&
      (unified("graft_ebr_a").isNull ||
        cmp(unified("graft_ebr_a"), bandC._2, ox)) &&
      cmp(unified("graft_ebr_b"), witC._2, oy)
    outer.join(unified, jcond, if (anti) "left_anti" else "left_semi")
  }

  /** Rewrite every reference to `srcTable` to its reserved renamed
    * column (`mcol`) — shared by MERGE and UPDATE … FROM, whose joined
    * frames rename the whole source side so it can never collide with
    * target columns. `ctx` names the statement part in the reject of a
    * subquery there. */
  private def renameSource(srcTable: String, mcol: String => String,
                           ctx: String): Kids =
    refsNoSubquery(
      r => if (r.table == srcTable) ColRef("", mcol(r.column)) else r,
      s"unsupported predicate inside $ctx")

  /** Does a quantified subquery carry NON-EQUALITY correlation — a
    * conjunct referencing an outer table that is not an outer↔inner
    * equality pair? Those shapes cannot group-by decorrelate (the stats
    * would depend on each outer row's range), so they take the EXISTS
    * rewrite instead (round-14). */
  private def quantNonEqCorr(sub: Select): Boolean = {
    val subT = fromTables(sub)
    sub.wheres.exists {
      case ColEq(a, b) if subT(a.table) != subT(b.table) => false
      case p => predTables(p).exists(!subT.contains(_))
    }
  }

  /** Rewrite a non-equality-correlated quantifier through EXISTS
    * (round-14 — the r13 queue's #5). WHERE-conjunct context only
    * (UNKNOWN ≡ FALSE there), and the rewrites preserve that exactly:
    *
    *   `x op ANY (S)` ⇔ EXISTS (S where x op s) — TRUE iff some row
    *     compares TRUE; NULL x / NULL s rows simply never match, which
    *     is FALSE where ANSI says UNKNOWN — identical under WHERE.
    *   `x op ALL (S)` ⇔ NOT EXISTS (S where (x op s) IS NOT TRUE) —
    *     empty S is vacuously TRUE; a NULL x (nonempty S) or NULL s
    *     row "violates" and drops the row exactly as UNKNOWN would.
    *
    * Each is ONE hash semi/anti join on the equality correlation keys
    * with the range conjuncts riding the join condition as post-filters
    * ([[existsJoin]]'s crossForm) — never a nested loop. A PURE-range
    * quantifier still rejects: the rewrite adds the comparison as a
    * second cross conjunct, and existsJoin's stats reduction (round-15)
    * accepts exactly ONE (two conjuncts would need a joint witness).
    * The subquery must project one PLAIN column (the comparison rides
    * the join condition against it). */
  private def quantExistsRewrite(ref: ColRef, op: String, quant: String,
                                 sub: Select): Pred = {
    val vRef = sub.items match {
      case Seq(Field(r)) => r
      case other => throw new IllegalArgumentException(
        "a range-correlated quantified subquery projects one PLAIN " +
          s"column — the comparison rides the join condition; got: $other")
    }
    if (quant == "any") {
      // x op s must be TRUE for some s: spell inner-vs-outer
      val conj: Pred = op match {
        case "=" => Cmp(ECol(vRef), "=", ECol(ref)) // an extra equality JOIN key
        case "<>" => Not(Cmp(ECol(vRef), "=", ECol(ref)))
        case o => Cmp(ECol(vRef), flipCmp(o), ECol(ref))
      }
      ExistsSelect(sub.copy(wheres = sub.wheres :+ conj))
    } else
      Not(ExistsSelect(sub.copy(
        wheres = sub.wheres :+ CmpNotTrue(vRef, op, ref))))
  }

  /** Plan an IN-subquery's inner SELECT: must project exactly one column;
    * renamed to a reserved name so the semi/anti join condition can never
    * be ambiguous, even when the subquery reads the same table as the
    * outer query. */
  /** Lower an uncorrelated quantified comparison (see [[QuantCmp]]): the
    * subquery collapses to ONE stats row — count(*) / count(v) / min(v) /
    * max(v), a single partial-agg shuffle over the subquery side — the
    * stats broadcast onto the outer frame via a 1-row cross join
    * (constant work per outer row at any scale; no row-to-row join), and
    * the quantifier evaluates as ANSI-exact THREE-VALUED arithmetic over
    * the stats, so the same Column serves conjunct filters and NOT/OR
    * flag positions:
    *   `x op ALL(S)`  — TRUE on empty; UNKNOWN on NULL x; FALSE when the
    *                    hardest non-null value fails; TRUE when it passes
    *                    and S has no NULLs; else UNKNOWN (ANSI).
    *   `x op ANY(S)`  — FALSE on empty; UNKNOWN on NULL x; TRUE when the
    *                    easiest non-null value passes; FALSE when none
    *                    does and S has no NULLs; else UNKNOWN.
    * `=`/`<>` quantifiers test value-uniformity through min/max equality
    * (∃ v ≠ x ⇔ min ≠ x ∨ max ≠ x).
    * @return (joined frame, three-valued predicate, reserved cols) */
  private def quantCompare(cat: GraftCatalog, df: DataFrame, ref: ColRef,
                           op: String, quant: String, sub: Select,
                           registry: Option[JoinRegistry])
      : (DataFrame, Column, Seq[String]) = {
    val subT = fromTables(sub)
    val leaks = scalarItemLeak(sub, subT)
    require(leaks.isEmpty,
      s"quantified subquery projects outer table(s) ${leaks.mkString(", ")} " +
        "— project the subquery's own columns only")
    // CORRELATED quantifiers (round-13): equality conjuncts spanning
    // outer↔inner decorrelate — the stats aggregate groups by the
    // correlation keys (one aggregation shuffle over the subquery side)
    // and LEFT-joins the outer frame; a join miss is that outer row's
    // EMPTY set (counts coalesce to 0, ALL vacuously true / ANY false —
    // ANSI). Non-equality correlation still rejects toward EXISTS.
    val corrPairs = scala.collection.mutable.ArrayBuffer.empty[(ColRef, ColRef)]
    val local = scala.collection.mutable.ArrayBuffer.empty[Pred]
    sub.wheres.foreach {
      case ColEq(x, y) if subT(x.table) != subT(y.table) =>
        corrPairs += (if (subT(x.table)) (x, y) else (y, x))
      case p =>
        val foreign = predTables(p).filterNot(subT)
        require(foreign.isEmpty,
          s"unsupported correlation form in quantified subquery: $p — " +
            "correlate with equality conjuncts (inner.k = outer.k), or " +
            "spell the shape through EXISTS")
        local += p
    }
    val (joined, cnt0, nn0, mn, mx, reserved) =
      if (corrPairs.isEmpty) {
        val stats = subqueryFrame(cat, sub.copy(wheres = local.toSeq),
          registry).agg(
          count(lit(1)).as("graft_q_cnt"),
          count(col("graft_in_sub")).as("graft_q_nn"),
          min(col("graft_in_sub")).as("graft_q_mn"),
          max(col("graft_in_sub")).as("graft_q_mx"))
        (df.crossJoin(stats), col("graft_q_cnt"), col("graft_q_nn"),
          col("graft_q_mn"), col("graft_q_mx"),
          Seq("graft_q_cnt", "graft_q_nn", "graft_q_mn", "graft_q_mx"))
      } else {
        val ve: Expr = sub.items match {
          case Seq(Field(r)) => ECol(r)
          case Seq(ExprItem(e, _)) => e
          case other => throw new IllegalArgumentException(
            s"a quantified subquery projects exactly one plain or " +
              s"computed column, got: $other")
        }
        val innerKeys = corrPairs.map(_._1).distinctBy(_.column).toSeq
        val probe = sub.copy(
          items = innerKeys.map(Field(_)) ++ Seq(
            AggExprItem("count_star", ELit(1L), "graft_q_cnt"),
            AggExprItem("count", ve, "graft_q_nn"),
            AggExprItem("min", ve, "graft_q_mn"),
            AggExprItem("max", ve, "graft_q_mx")),
          wheres = local.toSeq, groupBy = innerKeys)
        var stats = selectFrame(cat, probe, registry)
        val keyRename = innerKeys.zipWithIndex
          .map { case (k, i) => k.column -> s"graft_q_k$i" }.toMap
        keyRename.foreach { case (from, to) =>
          stats = stats.withColumnRenamed(from, to) }
        val cond = corrPairs.map { case (in, out) =>
          df(out.column) === stats(keyRename(in.column)) }.reduce(_ && _)
        (df.join(stats, cond, "left"), col("graft_q_cnt"),
          col("graft_q_nn"), col("graft_q_mn"), col("graft_q_mx"),
          keyRename.values.toSeq ++
            Seq("graft_q_cnt", "graft_q_nn", "graft_q_mn", "graft_q_mx"))
      }
    val a = joined(ref.column)
    // a LEFT-join miss reads as the empty set
    val cnt = coalesce(cnt0, lit(0L))
    val nn = coalesce(nn0, lit(0L))
    import graft.core.Compare.cmp
    val predC = quant match {
      case "all" =>
        // the hardest value: max for > / >=, min for < / <=; either
        // extremum works for = (uniformity test)
        val fail = op match {
          case "=" => (a =!= mn) || (a =!= mx)
          case o @ ("<" | "<=") => !cmp(a, o, mn)
          case o => !cmp(a, o, mx)
        }
        val pass = op match {
          case "=" => (a === mn) && (a === mx)
          case o @ ("<" | "<=") => cmp(a, o, mn)
          case o => cmp(a, o, mx)
        }
        when(cnt === 0, lit(true))
          .when(a.isNull, lit(null))
          .when(fail, lit(false))
          .when(pass && (nn === cnt), lit(true))
          .otherwise(lit(null))
      case _ =>
        // the easiest value: max for < / <=, min for > / >=
        val pass = op match {
          case "<>" => (a =!= mn) || (a =!= mx)
          case o @ ("<" | "<=") => cmp(a, o, mx)
          case o => cmp(a, o, mn)
        }
        when(cnt === 0, lit(false))
          .when(a.isNull, lit(null))
          .when(pass, lit(true))
          .when(nn === cnt, lit(false))
          .otherwise(lit(null))
    }
    (joined, predC, reserved)
  }

  /** Decorrelate one LATERAL aggregate subquery (see [[Select.laterals]]):
    * the body — restricted to the decorrelatable shape `select <aggs>
    * from … where <equality correlation> and <local preds>` — GROUPS BY
    * its correlation keys through the ordinary grouped-select machinery
    * (one aggregation shuffle over the inner side only), then LEFT-joins
    * the outer frame on those keys (one hash join; the inner side is
    * group-count-sized, typically broadcastable). Count aggregates
    * coalesce to 0 on a join miss — exactly the one-row aggregate ANSI's
    * cross-lateral produces over an empty group. An UNCORRELATED body is
    * a 1-row aggregate frame cross-joined (broadcast, constant work).
    * Never a per-outer-row evaluation at any scale. */
  private def lateralJoin(cat: GraftCatalog, outer: DataFrame, nm: String,
                          body: Select,
                          registry: Option[JoinRegistry],
                          outerJoin: Boolean = false): DataFrame = {
    val bodyTables = fromTables(body)
    val rowReturning = body.items.nonEmpty && body.items.forall {
      case _: Field | _: ExprItem => true
      case _ => false
    }
    if (rowReturning)
      return lateralTopK(cat, outer, nm, body, registry, bodyTables,
        outerJoin)
    require(body.items.nonEmpty && body.items.forall {
      case _: AggExprItem | _: StringAggItem |
           _: ArgExtremeItem => true
      case _ => false
    }, s"a LATERAL subquery ($nm) projects AGGREGATES only, or plain " +
      "columns under ORDER BY … LIMIT k (the row-returning top-k form) " +
      "— mixing the two shapes in one body is not supported")
    require(body.groupBy.isEmpty && body.qualify.isEmpty &&
      body.orderBy.isEmpty && body.limit.isEmpty && body.offset.isEmpty &&
      !body.distinct && body.having.isEmpty && body.laterals.isEmpty,
      s"a LATERAL subquery ($nm) is `select <aggs> from … [join …] " +
        "[where …]` — its grouping IS the correlation")
    val leaks = scalarItemLeak(body, bodyTables)
    require(leaks.isEmpty,
      s"LATERAL $nm projects outer table(s) ${leaks.mkString(", ")} — " +
        "aggregate the subquery's own columns only")
    // conjuncts: equality pairs spanning outer↔inner correlate, RANGE
    // comparisons (round-14 — completing the r13 missing #6) ride the
    // decorrelated join condition; the rest must be local to the body
    val corrPairs = scala.collection.mutable.ArrayBuffer.empty[(ColRef, ColRef)]
    val ranges =
      scala.collection.mutable.ArrayBuffer.empty[(ColRef, String, ColRef)]
    val local = scala.collection.mutable.ArrayBuffer.empty[Pred]
    body.wheres.foreach {
      case ColEq(a, b) if bodyTables(a.table) != bodyTables(b.table) =>
        corrPairs += (if (bodyTables(a.table)) (a, b) else (b, a))
      case p if rangePairOf(bodyTables)(p).isDefined =>
        ranges += rangePairOf(bodyTables)(p).get
      case p =>
        val foreign = predTables(p).filterNot(bodyTables)
        require(foreign.isEmpty,
          s"unsupported correlation form in LATERAL $nm: $p — correlate " +
            "with equality (inner.k = outer.k) or range (inner.d < " +
            "outer.d) conjuncts")
        local += p
    }
    if (ranges.nonEmpty)
      return lateralRangeAgg(cat, outer, nm, body, registry,
        corrPairs.toSeq, ranges.toSeq, local.toSeq)
    val innerKeys = corrPairs.map(_._1).distinctBy(_.column).toSeq
    val probe = body.copy(
      items = innerKeys.map(Field(_)) ++ body.items,
      wheres = local.toSeq, groupBy = innerKeys)
    var lat = selectFrame(cat, probe, registry)
    // reserve-rename the key columns so they can never collide with an
    // outer column of the same name
    val keyRename = innerKeys.zipWithIndex
      .map { case (k, i) => k.column -> s"graft_lat_$i" }.toMap
    keyRename.foreach { case (from, to) =>
      lat = lat.withColumnRenamed(from, to) }
    val clash = lat.columns.filterNot(_.startsWith("graft_lat_")).toSet
      .intersect(outer.columns.toSet)
    require(clash.isEmpty,
      s"LATERAL $nm outputs collide with outer columns: " +
        s"${clash.mkString(", ")} — alias the aggregates (as <name>)")
    val joined =
      if (corrPairs.isEmpty) outer.crossJoin(lat) // 1-row aggregate frame
      else {
        val cond = corrPairs.map { case (in, out) =>
          outer(out.column) === lat(keyRename(in.column))
        }.reduce(_ && _)
        outer.join(lat, cond, "left")
      }
    countsZeroFilled(joined.drop(keyRename.values.toSeq: _*), body)
  }

  /** ANSI cross-lateral: an aggregate over an empty group still yields
    * one row — count 0, sum/min/max NULL. A lateral's LEFT join misses
    * give the NULLs; its count outputs coalesce to 0 here. */
  private def countsZeroFilled(joined: DataFrame, body: Select): DataFrame =
    body.items.collect {
      case AggExprItem(fn, _, a) if fn.startsWith("count") => a
    }.foldLeft(joined)((d, c) =>
      d.withColumn(c, coalesce(col(c), lit(0L))))

  /** RANGE-correlated LATERAL aggregates (round-14 — completing the r13
    * missing #6): `lateral (select <aggs> from u where u.k = t.k and
    * u.d < t.d) x` — the trailing-window / as-of aggregation idiom.
    * The grouped decorrelation cannot pre-aggregate (each outer row's
    * range admits a different inner subset), so this generalizes the
    * scalar-subquery range machinery to N aggregate items: (1) DISTINCT
    * the outer's referenced key/range columns (one narrow partial-agg
    * shuffle over tuples, not rows), (2) hash-join the body rows on the
    * EQUALITY keys with the ranges as join-condition post-filters —
    * never a nested loop, (3) aggregate per tuple, (4) LEFT-join the
    * aggregates back on the same tuple (count misses coalesce to 0,
    * ANSI). 100 TB: both joins key-partitioned or broadcastable;
    * nothing per-outer-row. */
  private def lateralRangeAgg(cat: GraftCatalog, outer: DataFrame,
                              nm: String, body: Select,
                              registry: Option[JoinRegistry],
                              corrPairs: Seq[(ColRef, ColRef)],
                              ranges: Seq[(ColRef, String, ColRef)],
                              local: Seq[Pred]): DataFrame = {
    require(corrPairs.nonEmpty,
      s"range correlation in LATERAL $nm needs an equality conjunct " +
        "(u.k = t.k) alongside the range — a pure range correlation " +
        "would plan a nested-loop join at scale")
    body.items.foreach {
      case _: AggExprItem => ()
      case other => throw new IllegalArgumentException(
        s"a range-correlated LATERAL ($nm) projects count/sum/avg/min/" +
          s"max aggregates only, got: $other")
    }
    // (1) distinct outer tuples over every referenced outer column
    val outerCols =
      (corrPairs.map(_._2) ++ ranges.map(_._3)).map(_.column).distinct
    val keyIdx = outerCols.zipWithIndex.toMap
    val keysDf = outer.select(outerCols.map(col): _*).distinct()
      .toDF(outerCols.indices.map(i => s"graft_lat_k$i"): _*)
    // (2) the body rows: correlation/range inner columns under reserved
    // names plus every column the aggregates read under their own names
    val innerFieldRefs = corrPairs.map(_._1) ++ ranges.map(_._1)
    val aggRefs = body.items.flatMap {
      case AggExprItem(_, e, _) => exprRefs(e).toSeq
      case _ => Nil
    }.distinct.filterNot(c => innerFieldRefs.exists(_.column == c))
    // the aggregate ARGUMENT columns project as COMPUTED identities
    // (coalesce(v, v) — skip-exempt), NOT plain fields: the dialect's
    // missing-field row skip must not shrink the aggregated set (the
    // eq-only lateral path aggregates through the grouped branch,
    // which never skips — count(*) over null-valued rows must agree).
    // Null correlation/range keys may skip freely (they never match).
    val innerRows = selectFrame(cat, body.copy(
      items = innerFieldRefs.map(Field(_)) ++
        aggRefs.map(c => ExprItem(EFunc("coalesce",
          Seq(ECol(ColRef("", c)), ECol(ColRef("", c)))), c)),
      wheres = local), registry)
      .toDF(innerFieldRefs.indices.map(i => s"graft_lat_i$i") ++
        aggRefs: _*)
    val eqConds = corrPairs.zipWithIndex.map { case ((_, o), i) =>
      keysDf(s"graft_lat_k${keyIdx(o.column)}") ===
        innerRows(s"graft_lat_i$i") }
    val rangeConds = ranges.zipWithIndex.map { case ((in, op, o), j) =>
      graft.core.Compare.cmp(
        innerRows(s"graft_lat_i${corrPairs.length + j}"), op,
        keysDf(s"graft_lat_k${keyIdx(o.column)}")) }
    val matched = keysDf.join(innerRows,
      (eqConds ++ rangeConds).reduce(_ && _), "inner")
    // (3) every aggregate in ONE pass, under the SAME aliases the
    // ordinary lateral path produces (aggsRaw) — except that references
    // to correlation/range columns were renamed into reserved inner
    // slots and must read from there (r14 advice: a `sum(u.d * 2)` or
    // `count(u.d)` whose u.d also serves the range conjunct would
    // otherwise reference a name that no longer exists on innerRows).
    def slotRef(r: ColRef): ColRef =
      innerFieldRefs.indexWhere(_.column == r.column) match {
        case -1 => r
        case i => ColRef("", s"graft_lat_i$i")
      }
    val slots = refsNoSubquery(slotRef,
      "unsupported predicate inside a range-lateral aggregate")
    val items2 = body.items.map {
      case a: AggExprItem => a.copy(expr = slots.expr(a.expr))
      case it => it
    }
    val aggCols = aggsRaw(cat, items2)
    val agged = matched
      .groupBy(outerCols.indices.map(i => col(s"graft_lat_k$i")): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .drop(innerFieldRefs.indices.map(i => s"graft_lat_i$i"): _*)
    val clash = agged.columns.filterNot(_.startsWith("graft_lat_")).toSet
      .intersect(outer.columns.toSet)
    require(clash.isEmpty,
      s"LATERAL $nm outputs collide with outer columns: " +
        s"${clash.mkString(", ")} — alias the aggregates (as <name>)")
    // (4) left-join back on the full outer tuple; ANSI empty-group
    // counts coalesce to 0
    val back = outerCols.indices.map(i =>
      outer(outerCols(i)) === agged(s"graft_lat_k$i")).reduce(_ && _)
    val joined = outer.join(agged, back, "left")
      .drop(outerCols.indices.map(i => s"graft_lat_k$i"): _*)
    countsZeroFilled(joined, body)
  }

  /** ROW-RETURNING lateral (round-14 — the r13 queue's #2): `lateral
    * (select <cols> from u where u.k = t.k order by s [desc] limit k)
    * x` — the per-row top-k (nearest-event / best-match) idiom.
    * Decorrelated to ONE keyed window over the INNER side only
    * (row_number ≤ k — the DISTINCT ON lowering; Spark's
    * WindowGroupLimit pushes the limit into the per-group sort, so no
    * global sort and no full materialization) + ONE inner equi-join on
    * the correlation keys. ANSI comma/cross-lateral semantics: an outer
    * row whose subquery comes back empty DROPS (unlike the aggregate
    * form, which always yields its one row). Never a per-outer-row
    * plan at any scale. The body's ORDER BY doubles as the determinism
    * contract — it must totally order each correlation group (carry a
    * unique tiebreaker, as DISTINCT ON requires) or which rows survive
    * is engine-dependent. */
  private def lateralTopK(cat: GraftCatalog, outer: DataFrame, nm: String,
                          body: Select, registry: Option[JoinRegistry],
                          bodyTables: Set[String],
                          outerJoin: Boolean = false): DataFrame = {
    require(body.orderBy.nonEmpty && body.limit.isDefined,
      s"a row-returning LATERAL ($nm) pins its rows with ORDER BY … " +
        "LIMIT k — without them every inner row would join (spell that " +
        "as a plain join)")
    val lim = body.limit.get
    require(lim >= 1, s"LATERAL $nm: LIMIT must be ≥ 1")
    val off = body.offset.getOrElse(0)
    require(off >= 0, s"LATERAL $nm: OFFSET must be ≥ 0")
    require(body.groupBy.isEmpty && body.qualify.isEmpty &&
      body.having.isEmpty && body.laterals.isEmpty,
      s"a row-returning LATERAL ($nm) is `select [distinct] <cols> " +
        "from … [join …] [where …] order by … limit k [offset n]` — " +
        "stage anything richer through a CTE")
    val leaks = scalarItemLeak(body, bodyTables)
    require(leaks.isEmpty,
      s"LATERAL $nm projects outer table(s) ${leaks.mkString(", ")} — " +
        "project the subquery's own columns only")
    val corrPairs = scala.collection.mutable.ArrayBuffer.empty[(ColRef, ColRef)]
    val local = scala.collection.mutable.ArrayBuffer.empty[Pred]
    body.wheres.foreach {
      case ColEq(a, b) if bodyTables(a.table) != bodyTables(b.table) =>
        corrPairs += (if (bodyTables(a.table)) (a, b) else (b, a))
      case p =>
        val foreign = predTables(p).filterNot(bodyTables)
        require(foreign.isEmpty,
          s"unsupported correlation form in LATERAL $nm: $p — correlate " +
            "with equality conjuncts (inner.k = outer.k)")
        local += p
    }
    val innerKeys = corrPairs.map(_._1).distinctBy(_.column).toSeq
    // DISTINCT inside the body (round-15 — the r14 queue's #6): the
    // probe dedups BEFORE the ranking window. ANSI requires the sort
    // keys to be functions of the projected columns (otherwise which
    // duplicate survives decides the order) — enforced here, so the
    // dedup over (keys ++ items ++ sort exprs) equals the dedup over
    // the user-visible projection.
    if (body.distinct) {
      val visible = (body.items.collect {
        case Field(r) => r.column
        case ExprItem(_, a) => a
      } ++ innerKeys.map(_.column)).toSet
      body.orderBy.foreach { case (e, _, _) =>
        val bad = exprRefs(e).filterNot(visible)
        require(bad.isEmpty,
          s"DISTINCT in LATERAL $nm: ORDER BY may reference only " +
            s"projected columns — got ${bad.mkString(", ")}")
      }
    }
    // project the sort keys under reserved aliases so the window can
    // address computed order expressions; dropped after the filter
    val sortItems = body.orderBy.zipWithIndex.map { case ((e, _, _), i) =>
      ExprItem(e, s"graft_latsort_$i") }
    if (corrPairs.isEmpty) {
      // uncorrelated: the inner top-k evaluates ONCE (selectFrame's
      // ordinary ORDER BY + LIMIT → TakeOrderedAndProject), then
      // cross-joins as a ≤k-row broadcast frame
      val lat = selectFrame(cat,
        body.copy(wheres = local.toSeq), registry)
      val clash = lat.columns.toSet.intersect(outer.columns.toSet)
      require(clash.isEmpty,
        s"LATERAL $nm outputs collide with outer columns: " +
          s"${clash.mkString(", ")} — alias the projections (as <name>)")
      // LEFT JOIN LATERAL keeps outer rows even when the (≤k-row)
      // global top-k is EMPTY — a condition-less left join against the
      // broadcast-sized frame; the cross join would drop everything
      return if (outerJoin) outer.join(lat, lit(true), "left")
             else outer.crossJoin(lat)
    }
    // a body that already projects a correlation key as a plain Field
    // (`lateral (select u.k, u.v … where u.k = t.k …)`) reuses that
    // projected column for the join key — prepending a second copy would
    // make the rename below ambiguous (r14 advice)
    val projectedKeys = body.items.collect { case Field(r) => r.column }.toSet
    val probeKeys = innerKeys.filterNot(k => projectedKeys(k.column))
    val probe = body.copy(
      items = probeKeys.map(Field(_)) ++ body.items ++ sortItems,
      wheres = local.toSeq, orderBy = Nil, limit = None)
    var lat = selectFrame(cat, probe, registry)
    // INNER-SIDE SEMI PRUNE (round-15 — the r14 queue's #4): when the
    // outer frame is visibly FILTERED, left-semi join the inner body on
    // the correlation keys against the outer's distinct keys BEFORE the
    // ranking window — at 100 TB a selective outer cuts the ranked set
    // by orders of magnitude, and the semi join shuffles the inner on
    // the SAME keys the window partitions by (exchange reuse). An
    // unfiltered outer skips the prune — the full-table lateral is
    // optimal there, and the probe would only add work.
    val outerFiltered = outer.queryExecution.logical.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.isDefined
    if (outerFiltered) {
      val outCols = corrPairs.map(_._2.column).distinct.toSeq
      val keyIdx = outCols.zipWithIndex.toMap
      val keys = outer.select(outCols.map(col): _*).distinct()
        .toDF(outCols.indices.map(i => s"graft_latp_$i"): _*)
      val pruneCond = corrPairs.toSeq.map { case (in, out) =>
        lat(in.column) === keys(s"graft_latp_${keyIdx(out.column)}")
      }.reduce(_ && _)
      lat = lat.join(keys, pruneCond, "left_semi")
    }
    import org.apache.spark.sql.expressions.Window
    val sortCols = body.orderBy.zipWithIndex.map { case ((_, desc, nf), i) =>
      val c = col(s"graft_latsort_$i")
      (desc, nf) match {
        case (false, None) => c.asc_nulls_last
        case (true, None) => c.desc
        case (false, Some(first)) =>
          if (first) c.asc_nulls_first else c.asc_nulls_last
        case (true, Some(first)) =>
          if (first) c.desc_nulls_first else c.desc_nulls_last
      }
    }
    if (body.distinct) lat = lat.distinct()
    val w = Window.partitionBy(innerKeys.map(k => col(k.column)): _*)
      .orderBy(sortCols: _*)
    // OFFSET (round-15): rank window `off < rn <= off + lim` — the
    // upper bound still rides WindowGroupLimit (per-group top-(off+lim)
    // sort, no full materialization); the lower bound post-filters
    lat = lat.withColumn("graft_lat_rn", row_number().over(w))
      .filter(col("graft_lat_rn") <= off + lim &&
        col("graft_lat_rn") > off)
      .drop("graft_lat_rn")
      .drop(sortItems.map(_.alias): _*)
    // only the PREPENDED keys rename into reserved slots and drop after
    // the join; a body-projected key stays under its own name (it is a
    // user-visible output) and serves the join condition directly
    val keyRename = probeKeys.zipWithIndex
      .map { case (k, i) => k.column -> s"graft_lat_$i" }.toMap
    keyRename.foreach { case (from, to) =>
      lat = lat.withColumnRenamed(from, to) }
    val clash = lat.columns.filterNot(_.startsWith("graft_lat_")).toSet
      .intersect(outer.columns.toSet)
    require(clash.isEmpty,
      s"LATERAL $nm outputs collide with outer columns: " +
        s"${clash.mkString(", ")} — alias the projections (as <name>)")
    val cond = corrPairs.map { case (in, out) =>
      outer(out.column) ===
        lat(keyRename.getOrElse(in.column, in.column)) }.reduce(_ && _)
    // comma/INNER lateral drops empty-subquery outer rows (ANSI CROSS
    // APPLY); LEFT JOIN LATERAL keeps them NULL-extended (round-14)
    outer.join(lat, cond, if (outerJoin) "left" else "inner")
      .drop(keyRename.values.toSeq: _*)
  }

  private def subqueryFrame(cat: GraftCatalog, sub: Select,
                            registry: Option[JoinRegistry]): DataFrame = {
    val sf = selectFrame(cat, sub, registry)
    require(sf.columns.length == 1,
      s"in (select …) subquery must project exactly one column, " +
        s"got ${sf.columns.mkString(", ")}")
    sf.toDF("graft_in_sub")
  }

  /** Materialize a registered `create join` to parquet and wire BOTH read
    * paths to it:
    *  1. dialect SELECTs whose joins match the view answer from the parquet
    *     via [[JoinRegistry.routedFrame]] (the reference's read-path
    *     contract — server.py:806-894);
    *  2. arbitrary DataFrame/SQL queries joining the same relations on the
    *     same keys route through the Catalyst rule
    *     ([[graft.matview.MatView.materialize]]).
    * Freshness: re-run after base-table changes (or maintain incrementally
    * with graft.streaming.Streams.maintainJoinN writing to `path`). Column
    * names across the joined tables must be distinct (true for every view
    * the dialect can register over distinct-prefixed tables; joins of
    * insert-created tables collide on the synthesized `id` — the documented
    * dialect limitation).
    * @return the canonical view name (also the MatView registration name,
    *         prefixed "hashql:") */
  def materializeJoin(cat: GraftCatalog, registry: JoinRegistry,
                      tables: Set[String], path: String): String = {
    val cj = registry.forTables(tables).getOrElse(throw new IllegalArgumentException(
      s"no create join registered for ${tables.toSeq.sorted.mkString("+")}"))
    val name = registry.nameOf(cj)
    val view = joinView(cat, cj)
    graft.matview.MatView.materialize(view.sparkSession, s"hashql:$name", view, path)
    registry.setMaterialized(name, view.sparkSession.read.parquet(path))
    registry.setTableCols(name,
      tables.iterator.map(t => t -> cat.table(t).columns.toSeq).toMap)
    // record which tables a SUBSET query may drop (JoinRegistry.subsetRoute):
    // clause k is row-preserving iff its fresh-side key is unique in its
    // table AND the join kept the accumulated row count — the FK-to-PK
    // lookup shape. Verified here, where materialization already pays a
    // full pass; each check is one aggregate over the (typically
    // dimension-sized) fresh table plus a count of the growing join.
    val (t0, l0, r0) = cj.clauses.head
    var acc = cat.table(if (l0.table == t0) r0.table else l0.table)
    var accCnt = acc.count()
    val droppable = Set.newBuilder[String]
    cj.clauses.foreach { case (t, l, r) =>
      val tdf = cat.table(t)
      val (known, fresh) = if (l.table == t) (r, l) else (l, r)
      val unique = tdf.groupBy(col(fresh.column)).count()
        .filter(col("count") > 1).isEmpty
      acc = acc.join(tdf, acc(known.column) === tdf(fresh.column))
      val after = acc.count()
      if (unique && after == accCnt) droppable += t
      accCnt = after
    }
    registry.setDroppable(name, droppable.result())
    name
  }

  /** Expand a registered `create join` into its DataFrame view. */
  def joinView(cat: GraftCatalog, cj: CreateJoin): DataFrame = {
    // base table = the referenced table that is not the first clause's own
    val (t0, l0, r0) = cj.clauses.head
    var df = cat.table(if (l0.table == t0) r0.table else l0.table)
    cj.clauses.foreach { case (t, l, r) =>
      val tdf = cat.table(t)
      val (known, fresh) = if (l.table == t) (r, l) else (l, r)
      df = df.join(tdf, df(known.column) === tdf(fresh.column))
    }
    df
  }
}
