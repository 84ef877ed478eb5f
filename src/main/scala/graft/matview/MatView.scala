package graft.matview

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet, Cast, Coalesce, Divide, EqualTo, Expression, If, IsNotNull, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import graft.core.LocalFold

/** Materialized-view routing (SURVEY §2.3 J5 / §2.10 M3 / §4 "candidate for
  * a custom Rule").
  *
  * The reference maintains `create join` results at INSERT time so that
  * later SELECTs read pre-joined rows (/root/reference/server.py:806-894,
  * README.md:29-64). The Spark-first equivalent splits that into:
  *
  *  1. materialize: write the join once (batch) or incrementally
  *     (graft.streaming.Streams.maintainJoin) to parquet;
  *  2. route: a Catalyst optimizer `Rule` that replaces any inner join
  *     matching a registered view with a scan of the materialized parquet —
  *     every SELECT over that join then skips the join, which is exactly
  *     the read-path benefit the reference buys with insert-time
  *     maintenance.
  *
  * The rule runs with `spark.experimental.extraOptimizations`, i.e. AFTER
  * column pruning/pushdown have reshaped the query, so matching is
  * structural rather than plan-identity: a Join qualifies when (a) its
  * leaf relations are the view's leaf relations and (b) its inner
  * equi-condition involves the same column-name pairs. The substitute scan
  * is wrapped in a by-name Project aliased to the join's original
  * expression ids, so pruned queries and parents keep resolving. It runs
  * before the driver-side fold of local plans ([[graft.core.LocalFold]]),
  * and a view registers its plan as Spark alone optimizes it
  * ([[graft.core.LocalFold.unfolded]]), so views over driver-held tables
  * match as views over any other tables do.
  * Limitation (by construction of CREATE JOIN views): column names across
  * the joined tables must be distinct — true for every view the HashQL
  * surface can register.
  */
object MatView {

  private final case class Key(leaves: Set[LeafId], cond: Set[(String, String)])

  /** A relation's identity in a route: its canonical form, which names a
    * scan's files. A local relation's form prints no rows, so it also
    * carries the relation's rows, compared by reference: the same held
    * rows are the same object, and every write to a driver-held table
    * makes a new one ([[graft.core.LocalRows]]). */
  private final class LeafId(val canonical: String, val rows: Option[AnyRef]) {
    override def equals(o: Any): Boolean = o match {
      case l: LeafId => l.canonical == canonical && l.rows.size == rows.size &&
        l.rows.zip(rows).forall { case (a, b) => a eq b }
      case _ => false
    }
    override def hashCode: Int = canonical.hashCode
  }
  private sealed trait ViewEntry { def name: String; def replacement: LogicalPlan }
  private final case class JoinEntry(name: String, key: Key,
                                     replacement: LogicalPlan) extends ViewEntry
  /** `canonical` drives the verbatim exact-match route; the containment
    * route uses `childKey` (the view child's flatten() identity — None
    * when the child isn't a plain relation/join chain, disabling
    * containment) plus name-keyed maps from the view's output expressions
    * ([[sqlKey]]) to the summary parquet's columns. */
  private final case class AggEntry(name: String, canonical: LogicalPlan,
                                    replacement: LogicalPlan,
                                    childKey: Option[Key],
                                    groupMap: Map[String, Attribute],
                                    aggMap: Map[String, Attribute]) extends ViewEntry

  // ONE registry for both view kinds. Lifetime note: an entry's replacement
  // plan (a parquet LogicalRelation) strongly references its SparkSession,
  // so a session with live registrations is pinned until `drop` — the
  // WeakHashMap only reclaims sessions whose registries emptied. Sessions
  // here are process-long; call drop() when a view is retired.
  private val registries =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.ListBuffer[ViewEntry]]()

  private def registry(spark: SparkSession): scala.collection.mutable.ListBuffer[ViewEntry] =
    registries.synchronized {
      var r = registries.get(spark)
      if (r == null) { r = scala.collection.mutable.ListBuffer.empty; registries.put(spark, r) }
      r
    }

  /** All reads take an immutable snapshot under the buffer's own lock;
    * mutations hold the same lock — a concurrent materialize/drop during
    * query optimization can never tear an iteration. */
  private def snapshot(spark: SparkSession): List[ViewEntry] = {
    val r = registry(spark)
    r.synchronized(r.toList)
  }
  private def mutate(spark: SparkSession)(f: scala.collection.mutable.ListBuffer[ViewEntry] => Unit): Unit = {
    val r = registry(spark)
    r.synchronized(f(r))
  }

  /** A join side qualifies only if it is a bare relation under pruning-
    * inserted Projects and optimizer-inserted IsNotNull(joinkey) filters —
    * any USER filter (or other operator) means the query's join is NOT the
    * registered view (e.g. a filtered variant), and substituting would
    * silently drop it. */
  private def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }
  /** Flatten an inner-equi-join TREE (n-way, any shape — the reference's own
    * `create join` smoke is 3-way, example.py:151-238) into its leaf
    * relations plus the union of all equi-condition column-name pairs,
    * plus the columns of every IsNotNull filter passed through. Returns
    * None if anything other than a bare relation (modulo pruning-Projects
    * / IsNotNull-Filters) or a plain inner equi-join appears — a user
    * filter means the query is NOT the registered view, and so does a
    * Project that COMPUTES anything (only attribute-list Projects, the
    * shape column pruning inserts, are transparent — substituting through
    * e.g. `upper(n_name).as("n_name")` would silently drop the
    * computation).
    *
    * IsNotNull filters are NOT absorbed blindly: the caller must check
    * the returned columns against the join-condition columns ([[keyOf]]).
    * The inner join implies non-nullness only for its OWN keys; a user's
    * `WHERE maybe IS NOT NULL` on a nullable payload column used to be
    * swallowed here, silently routing to rows the filter should have
    * dropped. */
  private def leafId(leaf: LogicalPlan): LeafId = leaf match {
    case l: LocalRelation => new LeafId(l.canonicalized.toString, Some(l.data))
    case _ => new LeafId(leaf.canonicalized.toString, None)
  }

  private def flatten(plan: LogicalPlan)
      : Option[(Set[LeafId], Set[(String, String)], Set[String])] =
    plan match {
      case Project(projectList, child)
          if projectList.forall(_.isInstanceOf[AttributeReference]) =>
        flatten(child)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        val cs = conjuncts(f.condition)
        val nnCols = cs.collect {
          case org.apache.spark.sql.catalyst.expressions.IsNotNull(
            a: AttributeReference) => a.name }
        if (nnCols.length != cs.length) None
        else flatten(f.child).map { case (l, c, nn) => (l, c, nn ++ nnCols) }
      case j: Join if j.joinType == Inner && j.condition.isDefined =>
        // a join CONDITION can carry more than the view's equi-keys:
        // PushPredicateThroughJoin folds a cross-side user predicate
        // (e.g. `r_name = 'EU' OR n_name = 'JP'`) into the condition.
        // Ignoring such residue would route the view WITHOUT the
        // predicate — a wrong answer — so any non-equi conjunct kills
        // the exact route here (the containment route rewrites it).
        val (eqs, rest) = condSplit(j)
        if (rest.nonEmpty) None
        else for ((ll, lc, ln) <- flatten(j.left); (rl, rc, rn) <- flatten(j.right))
          yield (ll ++ rl, lc ++ rc ++ eqs, ln ++ rn)
      case leaf if leaf.children.isEmpty =>
        Some((Set(leafId(leaf)), Set.empty, Set.empty))
      case _ => None
    }

  /** [[flatten]] variant for the FILTERED containment route: instead of
    * rejecting user filters, COLLECT their conjuncts for rewriting against
    * the summary. By the time the rule runs (extraOptimizations), a user's
    * `WHERE r_name = 'EUROPE'` has been pushed below the joins onto the
    * leaf scans, so predicates are gathered from ANY depth. IsNotNull
    * conjuncts over join-CONDITION columns are absorbed (the view's inner
    * join already implies them — same contract as flatten); every other
    * conjunct, including a user's own IS NOT NULL on a non-join column,
    * is returned and must rewrite against the summary or the route is
    * abandoned. */
  private def flattenCollect(plan: LogicalPlan, joinCols: Set[String])
      : Option[(Set[LeafId], Set[(String, String)], Seq[Expression])] = plan match {
    case Project(projectList, child)
        if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      flattenCollect(child, joinCols)
    case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
      flattenCollect(f.child, joinCols).map { case (l, c, p) =>
        val kept = conjuncts(f.condition).filterNot {
          case IsNotNull(a: AttributeReference) => joinCols.contains(a.name)
          case _ => false
        }
        (l, c, p ++ kept)
      }
    case j: Join if j.joinType == Inner && j.condition.isDefined =>
      // non-equi residue in the condition (a cross-side user predicate
      // PushPredicateThroughJoin folded in) is COLLECTED like a Filter
      // conjunct: it must rewrite against the summary or the route is
      // abandoned — never silently dropped
      val (eqs, rest) = condSplit(j)
      for ((ll, lc, lp) <- flattenCollect(j.left, joinCols);
           (rl, rc, rp) <- flattenCollect(j.right, joinCols))
        yield (ll ++ rl, lc ++ rc ++ eqs, lp ++ rp ++ rest)
    case leaf if leaf.children.isEmpty =>
      Some((Set(leafId(leaf)), Set.empty, Nil))
    case _ => None
  }

  /** Split a join condition into its attr=attr equi-conjuncts (the view
    * identity) and everything else (user predicates folded into the
    * condition by pushdown — the callers decide whether that residue is
    * rewritable or fatal). */
  private def condSplit(j: Join): (Set[(String, String)], Seq[Expression]) = {
    val cs = j.condition.toSeq.flatMap(conjuncts)
    val eqs = cs.collect {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        if (a.name <= b.name) (a.name, b.name) else (b.name, a.name)
    }.toSet
    val rest = cs.filter {
      case EqualTo(_: AttributeReference, _: AttributeReference) => false
      case _ => true
    }
    (eqs, rest)
  }

  /** Exact-route identity of a query join tree. IsNotNull filters inside
    * the tree are legitimate ONLY over join-implied columns: the tree's
    * own condition columns, or `outerJoinCols` — key columns of ENCLOSING
    * inner joins, whose constraints Catalyst pushes into the subtree and
    * whose joins re-apply the null semantics after the substitution. An
    * IsNotNull over any other column is a real user predicate the
    * materialized rows do not honor, so the route must not fire. */
  private def keyOf(j: Join, outerJoinCols: Set[String] = Set.empty): Option[Key] =
    flatten(j).flatMap { case (leaves, conds, nn) =>
      val condCols = conds.flatMap { case (a, b) => Seq(a, b) }
      if (nn.subsetOf(condCols ++ outerJoinCols)) Some(Key(leaves, conds))
      else None
    }

  /** By-NAME substitution (join views): every column the possibly-pruned
    * join still outputs must exist in the materialized parquet; parents
    * keep resolving because the aliases reuse the original expression
    * ids. Name-keyed is right here because CREATE JOIN views require
    * distinct column names across the joined tables. */
  private def substituteByName(orig: LogicalPlan, replacement: LogicalPlan): Option[LogicalPlan] = {
    val byName = replacement.output.map(a => a.name -> a).toMap
    if (orig.output.forall(o => byName.contains(o.name)))
      Some(Project(orig.output.map(o =>
        Alias(byName(o.name), o.name)(exprId = o.exprId)), replacement))
    else None
  }

  /** POSITIONAL substitution (aggregate views): plan canonicalization
    * erases alias names, so a canonical match fixes the output LIST —
    * position i of the query computes exactly what position i of the view
    * computed — while names may differ or even be PERMUTED between query
    * and view. Mapping by name would silently wire a permuted query's
    * outputs to the wrong summary columns; positional mapping is correct
    * by construction and also lets re-aliased repeats route (they keep
    * their own names via the Alias wrappers). */
  private def substitutePositional(orig: LogicalPlan, replacement: LogicalPlan): Option[LogicalPlan] =
    if (orig.output.length == replacement.output.length)
      Some(Project(orig.output.zip(replacement.output).map { case (o, r) =>
        Alias(r, o.name)(exprId = o.exprId)
      }, replacement))
    else None

  /** Name-based identity for view-output expressions under the CREATE
    * JOIN distinct-column-names assumption: `.sql` renders attributes by
    * name (exprIds — which differ across analysis runs — are excluded),
    * so `sum(c_acctbal)` from the view registration and from a later
    * query compare equal. Positional/exprId identity can't work here
    * because containment queries are pruned DIFFERENTLY from the view. */
  private def sqlKey(e: Expression): String = {
    // strip attribute qualifiers first: a query through a temp view
    // renders `view.n_name` where DataFrame registration rendered
    // `n_name` — same column, and view column names are distinct by
    // contract, so the qualifier carries no identity here
    val stripped = e.transform {
      case a: AttributeReference if a.qualifier.nonEmpty =>
        a.withQualifier(Seq.empty)
    }
    stripped.sql.toLowerCase(java.util.Locale.ROOT)
  }

  /** True when `e` contains ANY aggregate call. Outputs containing one
    * that is not a plain unfiltered non-distinct Count/Sum/Min/Max/Avg
    * (countDistinct, sum(x)/100, filtered aggs …) are neither grouping
    * keys nor re-aggregable — they must register NOWHERE, so containment
    * queries touching them fall back to fact rows instead of binding a
    * summary column outside an aggregate (an invalid plan). */
  private def containsAgg(e: Expression): Boolean =
    e.exists(_.isInstanceOf[AggregateExpression])

  /** CONTAINMENT routing (the rollup-serving path): a query grouping by a
    * SUBSET of a summary's keys — any subset, including the global empty
    * set — answers by RE-aggregating the summary when every output is
    * derivable: count→sum of stored counts, sum/min/max→same function
    * over the stored column, and avg(x)→Σsum(x)/Σcount(x) when the
    * summary stores both (count(1) suffices for a non-nullable x).
    * distinct/filtered aggregates and avg without its matching count
    * fall back to fact rows; their verbatim repeats still route via the
    * exact-match path.
    * Child identity is flatten()'s (leaves, join-conds) key, which
    * absorbs the pruning Projects that make coarser queries structurally
    * different from the view. */
  private def substituteCoarse(a: Aggregate, e: AggEntry): Option[LogicalPlan] = {
    if (e.childKey.isEmpty) return None
    val key = e.childKey.get
    val joinCols = key.cond.flatMap { case (x, y) => Seq(x, y) }
    val flat = flattenCollect(a.child, joinCols)
    if (flat.isEmpty) return None
    val (leaves, conds, preds) = flat.get
    if (Key(leaves, conds) != key) return None
    // FILTER containment: a deterministic predicate referencing only the
    // summary's GROUPING KEYS selects whole groups — filtering the
    // summary's rows on the rewritten predicate keeps exactly the fact
    // rows the original filter kept (the summary has one row per distinct
    // key combination). Each conjunct rewrites by substituting every
    // subexpression matching a grouping-key sqlKey with the summary
    // column; any residual fact-side reference (a non-key column) or
    // nondeterminism abandons the route → facts.
    val rewrittenPreds = preds.map { p =>
      val out = p.transformUp {
        case ex if e.groupMap.contains(sqlKey(ex)) => e.groupMap(sqlKey(ex))
      }
      if (out.deterministic &&
          out.references.subsetOf(AttributeSet(e.replacement.output))) Some(out)
      else None
    }
    if (rewrittenPreds.exists(_.isEmpty)) return None
    val source: LogicalPlan =
      if (rewrittenPreds.isEmpty) e.replacement
      else org.apache.spark.sql.catalyst.plans.logical.Filter(
        rewrittenPreds.map(_.get).reduce(And), e.replacement)
    val newGrouping = a.groupingExpressions.map(g => e.groupMap.get(sqlKey(g)))
    if (newGrouping.exists(_.isEmpty)) return None
    val newList = a.aggregateExpressions.map { ne =>
      val u = ne match { case al: Alias => al.child; case x => x }
      val rewritten: Option[Expression] = u match {
        case ae: AggregateExpression if ae.filter.isEmpty && !ae.isDistinct =>
          ae.aggregateFunction match {
            // avg DECOMPOSES when the summary stores both sum(x) and the
            // NON-NULL count of the same column (count(1) suffices for a
            // non-nullable x): avg = Σ sums / Σ counts, null when the
            // count sums to 0 (an all-null group — matches avg's null).
            // Restricted to double avg (decimal re-division drifts scale).
            case av: Average if ae.dataType == DoubleType =>
              val argKey = sqlKey(av.child)
              for {
                sAttr <- e.aggMap.get(s"sum($argKey)")
                cAttr <- e.aggMap.get(s"count($argKey)").orElse(
                  if (!av.child.nullable) e.aggMap.get("count(1)") else None)
              } yield {
                val num = Sum(sAttr).toAggregateExpression()
                val den = Sum(cAttr).toAggregateExpression()
                If(EqualTo(den, Literal(0L)),
                  Literal(null, DoubleType),
                  Divide(Cast(num, DoubleType), Cast(den, DoubleType)))
              }
            case fn => e.aggMap.get(sqlKey(fn)).flatMap { attr =>
              fn match {
                case _: Count =>
                  // count over count-column sums; coalesce keeps count's
                  // non-null contract (summary rows exist ⇒ never hit, but
                  // the type system shouldn't loosen nullability)
                  Some(Coalesce(Seq(Sum(attr).toAggregateExpression(), Literal(0L))))
                case _: Sum =>
                  val r = Sum(attr).toAggregateExpression()
                  // decimal sums widen precision on re-aggregation — routing
                  // would change the output type; serve those from facts
                  if (r.dataType == ae.dataType) Some(r) else None
                case _: Min => Some(Min(attr).toAggregateExpression())
                case _: Max => Some(Max(attr).toAggregateExpression())
                case _ => None
              }
            }
          }
        // distinct/filtered/composite aggregate outputs never match here:
        // registration excludes anything containing an aggregate from
        // groupMap, and this guard keeps a query-side composite (e.g.
        // sum(x)/100) from being treated as a grouping column
        case other if !containsAgg(other) => e.groupMap.get(sqlKey(other))
        case _ => None
      }
      rewritten.map(r => Alias(r, ne.name)(exprId = ne.exprId))
    }
    if (newList.exists(_.isEmpty)) None
    else Some(Aggregate(newGrouping.map(_.get), newList.map(_.get), source))
  }

  private final class Rewrite(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      val entries = snapshot(spark)
      if (entries.isEmpty) plan
      else {
      // key columns of every inner join in the WHOLE plan: an IsNotNull
      // a parent join's constraint inference pushed into a candidate
      // subtree is safe to absorb — that parent re-drops null keys
      // post-substitution (keyOf rejects all other IsNotNulls)
      val planJoinCols: Set[String] = plan.collect {
        case pj: Join if pj.joinType == Inner =>
          condSplit(pj)._1.flatMap { case (a, b) => Seq(a, b) }
      }.flatten.toSet
      plan.transformUp {
        // pre-aggregated summaries: the CANONICALIZED whole-aggregate
        // match first (zero re-aggregation — a verbatim dashboard repeat
        // reads the summary scan directly, whatever it renamed outputs
        // to), then the containment route (subset group-by re-aggregates
        // the summary — still zero fact rows).
        case a: Aggregate =>
          val aggs = entries.collect { case e: AggEntry => e }
          aggs.find(_.canonical == a.canonicalized)
            .flatMap(e => substitutePositional(a, e.replacement))
            .orElse(aggs.iterator.map(substituteCoarse(a, _))
              .collectFirst { case Some(p) => p })
            .getOrElse(a)
        case j: Join if j.joinType == Inner && j.condition.isDefined =>
          entries.collectFirst {
            case e: JoinEntry if keyOf(j, planJoinCols).contains(e.key) => e }
            .flatMap(e => substituteByName(j, e.replacement)).getOrElse(j)
      }
      }
    }
  }

  /** Materialize `view` (an inner equi-join chain — 2-way or n-way, any
    * tree shape) to `path` and install the routing rule: from now on any
    * query in this session joining the same relations on the same keys
    * reads the parquet instead. Call again to refresh after base-table
    * changes. */
  def materialize(spark: SparkSession, name: String, view: DataFrame, path: String): Unit = {
    // refresh contract: drop the old registration FIRST — with it live,
    // the installed rule would route the view's own plan (and the
    // materializing write) to the STALE parquet: the key extraction below
    // would then see a scan instead of a join and throw.
    drop(spark, name)
    val analyzed = LocalFold.unfolded(view).optimizedPlan
    // collectFirst visits pre-order, so the first Join is the topmost —
    // keyOf flattens the whole chain under it.
    val joinKey = analyzed.collectFirst { case j: Join => keyOf(j) }.flatten.getOrElse(
      throw new IllegalArgumentException(
        "materialize expects an inner equi-join (chain) of plain relations"))
    view.write.mode("overwrite").parquet(path)
    val replacement = spark.read.parquet(path).queryExecution.analyzed
    mutate(spark)(_ += JoinEntry(name, joinKey, replacement))
    installRule(spark)
  }

  // first among the extra rules, so it sees the plan before the
  // driver-side fold of local plans (LocalFold) does
  private def installRule(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[Rewrite]))
      spark.experimental.extraOptimizations =
        new Rewrite(spark) +: spark.experimental.extraOptimizations

  /** Materialize an AGGREGATE view (a group-by over a relation or join
    * chain) and route matching aggregations to the summary parquet — the
    * rollup-serving path the join rule can't cover. Two routes:
    *
    *  1. EXACT (canonicalized whole-plan): same grouping, same aggregates,
    *     same child — the verbatim-repeat workload dashboards generate.
    *     Output aliases may differ (canonicalization erases names;
    *     substitution is POSITIONAL, so a re-aliased or alias-permuted
    *     repeat routes and keeps its own names over the right columns).
    *  2. CONTAINMENT ([[substituteCoarse]]): a group-by over a SUBSET of
    *     the summary's keys (including the global aggregate) whose every
    *     output re-aggregates from stored columns — count→sum of counts,
    *     sum/min/max→same, avg→Σsum/Σcount when both are stored —
    *     answers by re-aggregating the summary, zero fact rows. A WHERE
    *     over the summary's GROUPING KEYS (equality, comparisons, any
    *     deterministic predicate — `GROUP BY n_name WHERE r_name =
    *     'EUROPE'`) also routes: key predicates select whole groups, so
    *     the summary is filtered before re-aggregating — still zero fact
    *     rows. distinct / filtered aggregates, avg without its matching
    *     count, decimal sums, and predicates touching NON-key columns
    *     recompute from facts (only their verbatim repeats route).
    *
    * Register the aggregate view EITHER over base tables OR over a
    * registered join view's tables, not both at once: the join rule
    * rewrites the child first (transformUp is bottom-up), which changes
    * the aggregate's canonical form away from one registered against raw
    * tables. */
  def materializeAggregate(spark: SparkSession, name: String, view: DataFrame,
                           path: String): Unit =
    registerAggregateImpl(spark, name, view, path, writeSummary = true)

  /** Register routing for `view` against an EXISTING summary parquet at
    * `path` WITHOUT recomputing it — the delete-delta path: the summary
    * was just folded in place, but exact-match routing keys on the
    * canonical FACT plan, which copy-on-write DML just changed, so the
    * entry must re-register against the post-mutation definition frame.
    * The caller owns the invariant that the parquet really is the
    * summary of `view` (the fold equivalence is spec-tested). */
  def registerAggregate(spark: SparkSession, name: String, view: DataFrame,
                        path: String): Unit =
    registerAggregateImpl(spark, name, view, path, writeSummary = false)

  private def registerAggregateImpl(spark: SparkSession, name: String,
                                    view: DataFrame, path: String,
                                    writeSummary: Boolean): Unit = {
    // same refresh-ordering contract as materialize: unregister before
    // planning or writing, so the stale route can't capture either
    drop(spark, name)
    val plan = LocalFold.unfolded(view).optimizedPlan
    // the ROOT must be the Aggregate: the rule only compares Aggregate
    // nodes against the stored canonical, so registering e.g. a
    // Filter-over-aggregate would be a dead entry that never routes
    require(plan.isInstanceOf[Aggregate],
      s"materializeAggregate expects the view's optimized plan to BE an " +
        s"Aggregate (a bare groupBy().agg()), got ${plan.nodeName}")
    val agg = plan.asInstanceOf[Aggregate]
    if (writeSummary) view.write.mode("overwrite").parquet(path)
    val replacement = spark.read.parquet(path).queryExecution.analyzed
    // containment metadata: the child's structural identity plus
    // name-keyed output→summary-column maps (positional zip: replacement
    // column i stores view output i)
    val group = Map.newBuilder[String, Attribute]
    val aggs = Map.newBuilder[String, Attribute]
    val seenKeys = scala.collection.mutable.Set.empty[String]
    var keysCollide = false
    agg.aggregateExpressions.zip(replacement.output).foreach { case (ne, attr) =>
      val inner = ne match { case al: Alias => al.child; case x => x }
      // sqlKey is NAME-based: two outputs whose .sql strings render
      // identically (e.g. same-named attributes from different join sides,
      // qualifiers erased) would overwrite each other last-wins and a
      // coarser query could silently re-aggregate the WRONG column. Any
      // collision disables containment for this entry entirely (childKey
      // = None below); the exact-match route is canonical-plan-keyed and
      // stays safe.
      if (!seenKeys.add(sqlKey(inner))) keysCollide = true
      inner match {
        case ae: AggregateExpression if ae.filter.isEmpty && !ae.isDistinct =>
          aggs += sqlKey(ae.aggregateFunction) -> attr
        // distinct/filtered/composite aggregate outputs register in
        // NEITHER map — they are not grouping keys (treating one as a
        // group column would bind the summary attribute outside an
        // aggregate: invalid plan, or silently wrong reuse of
        // per-fine-group distinct counts) and not re-aggregable
        case other if !containsAgg(other) => group += sqlKey(other) -> attr
        case _ => ()
      }
    }
    // sqlKey strips attribute qualifiers (so temp-view and DataFrame
    // registrations render the same key) — sound ONLY while a bare name
    // denotes one attribute across the view's join: if any column name
    // appears in TWO child leaves, a query grouping on the OTHER side's
    // same-named column would strip to an identical key and silently
    // route to this side's summary column. Disable containment for such
    // views (exact-match routing is canonical-plan-keyed, qualifier-free
    // by construction, and stays on). Checked on the ANALYZED plan:
    // column pruning in the optimized child can remove the very
    // same-named column a differently-pruned query still groups on.
    val leafNames = view.queryExecution.analyzed.collectLeaves()
      .flatMap(_.output.map(_.name.toLowerCase(java.util.Locale.ROOT)))
    val nameAmbiguous = leafNames.size != leafNames.distinct.size
    val childKey =
      if (keysCollide || nameAmbiguous) None
      else flatten(agg.child).flatMap { case (l, c, nn) =>
        // same guard as keyOf: a view registered over a join carrying a
        // non-key IsNotNull has semantics the (leaves, conds) key cannot
        // encode — disable containment for it rather than over-match
        val condCols = c.flatMap { case (x, y) => Seq(x, y) }
        if (nn.subsetOf(condCols)) Some(Key(l, c)) else None
      }
    mutate(spark)(_ += AggEntry(name, plan.canonicalized, replacement,
      childKey, group.result(), aggs.result()))
    installRule(spark)
  }

  /** Refresh a registered AGGREGATE view's stored summary IN PLACE from an
    * already-computed frame — the read side of incremental maintenance
    * (`graft.streaming.Streams.maintainAggregate` streams per-batch
    * partials; `foldAggregate` folds them into the current summary; this
    * lands the fold under the routed path without ever recomputing from
    * facts). The routing metadata (canonical plan, containment key,
    * output maps) is KEPT — only the replacement scan and its attribute
    * references change — so exact-match and containment queries keep
    * routing, now over the fresh rows.
    *
    * `summary` must carry the registered summary's exact column names in
    * the same order (the fold does, by construction); the write is
    * crash-safe via [[graft.sources.Sources.swapDir]] (the old scan reads
    * `path` while the new contents land in the swap tmp). */
  def refreshAggregate(spark: SparkSession, name: String, path: String,
                       summary: DataFrame): Unit = {
    val e = snapshot(spark).collectFirst {
      case e: AggEntry if e.name == name => e
    }.getOrElse(throw new IllegalArgumentException(
      s"no registered aggregate view: $name"))
    val expected = e.replacement.output.map(_.name)
    require(summary.columns.toSeq == expected,
      s"refresh summary columns ${summary.columns.toSeq} != registered $expected")
    graft.sources.Sources.swapDir(spark, path) { tmp =>
      summary.write.mode("overwrite").parquet(tmp)
    }
    val replacement = spark.read.parquet(path).queryExecution.analyzed
    // groupMap/aggMap hold the OLD scan's attributes — remap by name onto
    // the fresh scan (names are unique: registration disabled containment
    // on any collision, and exact-match substitution is positional)
    val byName = replacement.output.map(a => a.name -> a).toMap
    val refreshed = e.copy(replacement = replacement,
      groupMap = e.groupMap.view.mapValues(a => byName(a.name)).toMap,
      aggMap = e.aggMap.view.mapValues(a => byName(a.name)).toMap)
    mutate(spark) { r =>
      val i = r.indexWhere(_.name == name)
      r(i) = refreshed
    }
  }

  /** Drop a view's routing (the parquet stays on disk). */
  def drop(spark: SparkSession, name: String): Unit =
    mutate(spark)(_.filterInPlace(_.name != name))
}
