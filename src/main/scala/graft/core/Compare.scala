package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{ilike, like, lit, rlike}

/** The ONE comparison dispatch shared by every predicate surface
  * (HashQL WHERE and HAVING, Cypher WHERE). `v` is a literal or a
  * Column. The surfaces differ only in what they compare: the dialect
  * WHERE compares its operands as typed (Catalyst's ANSI coercion
  * decides), Cypher try_casts so junk attrs drop instead of throwing,
  * and HAVING compares output columns as-is. */
object Compare {
  private val table: Map[String, (Column, Column) => Column] = Map(
    "=" -> (_ === _),
    "<" -> (_ < _),
    ">" -> (_ > _),
    "<=" -> (_ <= _),
    ">=" -> (_ >= _),
    // three-valued inequality (round-13): NULL input → NULL → row
    // dropped, exactly like every comparison above
    "<>" -> ((c, v) => !(c === v)),
    // null-safe equality and its negation: two NULLs are equal, never
    // UNKNOWN
    "<=>" -> (_ <=> _),
    "is distinct from" -> ((c, v) => !(c <=> v)),
    "like" -> (like(_, _)),
    "ilike" -> (ilike(_, _)),
    "rlike" -> (rlike(_, _)))

  /** Every operator [[cmp]] takes. */
  val ops: Set[String] = table.keySet

  def cmp(c: Column, op: String, v: Any): Column = table.get(op) match {
    case Some(f) => f(c, lit(v))
    case None => throw new IllegalArgumentException(s"unsupported comparison op: $op")
  }
}
