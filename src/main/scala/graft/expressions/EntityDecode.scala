package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The entity catalog as a sorted id → canonical dictionary: `ids` in
  * ascending order, `names(i)` the canonical of `ids(i)`. Ids need not be
  * dense; a lookup is a binary search. */
final class EntityDictionary private (
    ids: Array[Long], names: Array[UTF8String]) extends Serializable {

  /** The canonical of `id`, or null when the catalog has no such id. */
  def canonical(id: Long): UTF8String = {
    val i = java.util.Arrays.binarySearch(ids, id)
    if (i >= 0) names(i) else null
  }
}

object EntityDictionary {
  /** The dictionary of `(entity_id, canonical)` catalog rows; duplicate rows
    * collapse, and an id with two canonicals is a corrupt catalog. */
  def apply(entries: Seq[(Long, String)]): EntityDictionary = {
    val sorted = entries.distinct.sortBy(_._1).toArray
    val ids    = sorted.map(_._1)
    for (i <- 1 until ids.length)
      require(ids(i - 1) != ids(i), s"entity id ${ids(i)} has more than one canonical")
    new EntityDictionary(ids, sorted.map(e => UTF8String.fromString(e._2)))
  }
}

/**
 * `entity_id → canonical` by a probe of a driver-built [[EntityDictionary]],
 * or NULL when the id is absent (or NULL), so a filter on the result keeps
 * the inner-join semantics of a decode join without the join: no build
 * side to broadcast per query, no exchange, no extra job.
 *
 * The dictionary travels as a Spark broadcast. Generated code takes the
 * broadcast from the codegen reference array and reads its value once per
 * generated-class instance, so the dictionary never enters the generated
 * source: every plan over any dictionary compiles to the same class, and
 * a task ships only the broadcast handle.
 */
final case class EntityDecode(child: Expression, dict: Broadcast[EntityDictionary])
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean  = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "entity_decode"
  // the broadcast handle is not an argument worth printing in plans
  override def flatArguments: Iterator[Any] = Iterator(child)

  override def nullSafeEval(id: Any): Any = dict.value.canonical(id.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dictClass = classOf[EntityDictionary].getName
    val ref = ctx.addReferenceObj("graftDict", dict, classOf[Broadcast[_]].getName)
    val d   = ctx.addMutableState(dictClass, "graftDictValue",
      v => s"$v = ($dictClass) $ref.value();")
    nullSafeCodeGen(ctx, ev, id =>
      s"""
         |${ev.value} = $d.canonical($id);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): EntityDecode =
    copy(child = newChild)
}

object EntityDecode {
  /** Column API: decode the entity-id column `id` through `dict`. */
  def apply(id: Column, dict: Broadcast[EntityDictionary]): Column =
    GraftColumnBridge.column(EntityDecode(GraftColumnBridge.expression(id), dict))
}
