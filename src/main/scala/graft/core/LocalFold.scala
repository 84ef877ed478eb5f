package graft.core

import scala.collection.mutable
import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, MapType, StructType}

/** Whole-plan evaluation on the driver for plans over driver-held rows:
  * Spark's `ConvertToLocalRelation` folds a Project, Filter or Limit over
  * a local relation into one, and this rule carries that over to the
  * operators it leaves out, so a read over [[LocalRows]] stores — a KV
  * range, a Cypher MATCH, a join of session tables — plans to ONE local
  * relation and `collect()` runs no Spark job. Bottom up, a node whose
  * children are all local relations folds when it is
  *  - a global `Sort`;
  *  - a `Join` (inner, cross, left outer, left semi, left anti): a hash
  *    join on the equi-keys whose equality is binary, with the other keys
  *    and any residual condition evaluated per candidate pair; folded only
  *    while its output fits `spark.sql.autoBroadcastJoinThreshold` bytes
  *    (Spark's own "fits on the driver" bound; -1 folds no join), else
  *    the `Join` stays;
  *  - an `Aggregate` with no aggregate function — a distinct, or a
  *    group-by whose outputs are expressions of its keys (a rename, a
  *    literal flag) — deduplicated on binary keys with NaN and -0.0
  *    normalized, as Spark's hash aggregate does;
  *  - a `Union`;
  *  - a Limit, and a Project or Filter (through `ConvertToLocalRelation`).
  * Evaluation is interpreted, as `ConvertToLocalRelation`'s is, so no code
  * is compiled at plan time; a node with a non-deterministic or
  * unevaluable expression is left as it is. Plans with any other leaf
  * (parquet, RDDs) are not touched.
  *
  * It runs with the session's `extraOptimizations`, after the
  * materialized-view route ([[graft.matview.MatView]]), which therefore
  * sees the plans it saw before this rule existed; [[unfolded]] gives that
  * plan to code that inspects a plan's operators. */
object LocalFold extends Rule[LogicalPlan] {

  private val suspended = new DynamicVariable(false)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (suspended.value || !plan.containsPattern(LOCAL_RELATION)) plan
    else plan.transformUp {
      case p if p.children.nonEmpty && p.children.forall(local) =>
        (p match {
          case s: Sort if s.global => sort(s)
          case j: Join => join(j)
          case a: Aggregate => distinct(a)
          case u: Union => Some(LocalRelation(u.output, u.children.flatMap(rows)))
          // a LocalLimit keeps at least n rows of its input, a GlobalLimit
          // exactly the first n
          case LocalLimit(IntegerLiteral(n), c) => Some(LocalRelation(c.output, rows(c).take(n)))
          case GlobalLimit(IntegerLiteral(n), c) => Some(LocalRelation(c.output, rows(c).take(n)))
          case _ => None
        }).getOrElse(ConvertToLocalRelation(p))
    }

  /** `df` planned afresh as Spark alone plans it, with this rule off
    * (its `optimizedPlan` and `executedPlan`, without running it): for
    * checks of a plan's operators (the join a view is keyed on, a
    * cartesian product) that must not depend on where the rows live. */
  def unfolded(df: DataFrame): QueryExecution =
    suspended.withValue(true) {
      val qe = GraftBridge.planAfresh(df)
      qe.optimizedPlan
      qe
    }

  private def local(p: LogicalPlan): Boolean = p match {
    case l: LocalRelation => !l.isStreaming
    case _ => false
  }
  private def rows(p: LogicalPlan): Seq[InternalRow] = p.asInstanceOf[LocalRelation].data

  private def evaluable(e: Expression): Boolean =
    e.deterministic && !ConvertToLocalRelation.hasUnevaluableExpr(e)

  private def sort(s: Sort): Option[LogicalPlan] =
    if (!s.order.forall(o => evaluable(o.child))) None
    else Some(LocalRelation(s.output, rows(s.child).sorted(new InterpretedOrdering(s.order, s.child.output))))

  // a key whose values are equal exactly when their UnsafeRow bytes are:
  // no non-binary collation, and floating point only once normalized
  private def binaryKey(k: Expression): Boolean =
    UnsafeRowUtils.isBinaryStable(k.dataType) &&
      (k.isInstanceOf[KnownFloatingPointNormalized] || !floating(k.dataType))
  private def floating(t: DataType): Boolean = t match {
    case FloatType | DoubleType | _: MapType => true
    case s: StructType => s.fields.exists(f => floating(f.dataType))
    case a: ArrayType => floating(a.elementType)
    case _ => false
  }

  private def join(j: Join): Option[LogicalPlan] = {
    val (left, right) = (j.left, j.right)
    val (leftKeys, rightKeys, other) = j match {
      case ExtractEquiJoinKeys(_, lk, rk, cond, _, _, _, _) => (lk, rk, cond)
      case _ => (Nil, Nil, j.condition)
    }
    val (hashed, compared) = leftKeys.zip(rightKeys).partition { case (l, r) =>
      binaryKey(l) && binaryKey(r) }
    val residual = (compared.map { case (l, r) => EqualTo(l, r) } ++ other).reduceOption(And)
    val maxBytes = SQLConf.get.autoBroadcastJoinThreshold
    val foldable = j.joinType match {
      case Inner | Cross | LeftOuter | LeftSemi | LeftAnti => true
      case _ => false
    }
    if (!foldable || maxBytes < 0 || !(leftKeys ++ rightKeys ++ residual).forall(evaluable)) None
    else {
      val maxRows = BigInt(maxBytes) / EstimationUtils.getSizePerRow(j.output)
      val leftKey = keyOf(hashed.map(_._1), left.output)
      val rightKey = keyOf(hashed.map(_._2), right.output)
      val build = mutable.HashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
      rows(right).foreach { r =>
        val k = rightKey(r)
        if (!k.anyNull) build.getOrElseUpdate(k.copy(), mutable.ArrayBuffer.empty) += r
      }
      val cond = residual.map { c =>
        val p = InterpretedPredicate(BindReferences.bindReference(c, left.output ++ right.output))
        p.initialize(0)
        p
      }
      val joined = new JoinedRow
      val noMatch = new GenericInternalRow(right.output.length)
      val out = mutable.ArrayBuffer.empty[InternalRow]
      val it = rows(left).iterator
      while (it.hasNext && out.length <= maxRows) {
        val l = it.next()
        val k = leftKey(l)
        val matches = (if (k.anyNull) None else build.get(k)).iterator.flatten
          .filter(r => cond.forall(_.eval(joined(l, r))))
        j.joinType match {
          case LeftSemi => if (matches.hasNext) out += l
          case LeftAnti => if (!matches.hasNext) out += l
          case LeftOuter if !matches.hasNext => out += joined(l, noMatch).copy()
          case _ => matches.foreach(r => out += joined(l, r).copy())
        }
      }
      if (out.length > maxRows) None else Some(LocalRelation(j.output, out.toSeq))
    }
  }

  private def keyOf(keys: Seq[Expression], input: Seq[Attribute]): UnsafeProjection =
    InterpretedUnsafeProjection.createProjection(BindReferences.bindReferences(keys, input))

  // an aggregate with no aggregate function: a distinct over its keys,
  // each output computed from the key values (a rename, a literal flag)
  private def distinct(a: Aggregate): Option[LogicalPlan] = {
    val keys = a.groupingExpressions.collect { case k: Attribute => k }
    val byKeys = keys.nonEmpty && keys.length == a.groupingExpressions.length &&
      keys.forall(k => UnsafeRowUtils.isBinaryStable(k.dataType)) &&
      a.aggregateExpressions.forall(e => evaluable(e) &&
        !e.exists(_.isInstanceOf[AggregateExpression]) && e.references.subsetOf(AttributeSet(keys)))
    if (!byKeys) None
    else {
      // keys with floating point normalized, as the hash aggregate's are
      val key = keyOf(keys.map(GraftBridge.normalizeFloats), a.child.output)
      val output = new InterpretedMutableProjection(a.aggregateExpressions, keys)
      output.initialize(0)
      val seen = mutable.LinkedHashSet.empty[UnsafeRow]
      rows(a.child).foreach { r =>
        val k = key(r)
        if (!seen.contains(k)) seen += k.copy()
      }
      Some(LocalRelation(a.output, seen.iterator.map(output(_).copy()).toSeq))
    }
  }
}
