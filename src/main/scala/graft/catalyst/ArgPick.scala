package graft.catalyst

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, CreateNamedStruct, EqualTo,
  Expression, GreaterThan, If, IsNull, LessThan, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** `arg_pick(max?, t, v, payload…)` — the whole input row (as a named
  * struct) at the extreme `(t, v)` order key per group; the flat-slot
  * twin of `min_by/max_by(struct(fields…), struct(t, v))`.
  *
  * WHY (the [[TopTwo]] rationale, applied to the rate family's
  * first/last picks): `min_by`/`max_by` with a struct payload carries
  * a STRUCT-typed aggregation buffer, which Spark's UnsafeRow hash map
  * cannot hold — `rangeAgg`'s per-(series, instant) aggregate and
  * `windowRangeAgg`'s stage-1 bucket partial therefore compiled to
  * partial SortAggregates that sort the exploded candidates / lag
  * features at SAMPLE grain. This aggregate keeps one primitive buffer
  * slot per field (longs/doubles — mutable UnsafeRow types), so the
  * planner stays in whole-stage HashAggregate with map-side combine
  * and the sample-grain sort disappears from every
  * rate/increase/delta/_over_time plan.
  *
  * Semantics match the expression it replaces: ordering is
  * lexicographic `(t, v)` under Spark's comparison rules (NaN greatest,
  * matching the struct order key), rows with a null `t` are ignored,
  * ties keep the incumbent (min_by/max_by ties are unspecified), and
  * an empty group evaluates to a NULL struct (not a struct of nulls —
  * the splice's `ignoreNulls` reads depend on it). Output field names
  * and order are the caller's, so consumers keep reading
  * `first.t` / `last.prev_v` / … unchanged.
  */
final case class ArgPick(
    pickMax: Boolean,
    names: Seq[String],
    children: Seq[Expression]) extends DeclarativeAggregate {
  require(names.length == children.length && names.length >= 2,
    "arg_pick needs (key1, key2, payload…) with matching names; the " +
      "first two fields are the lexicographic order key")

  override def prettyName: String = if (pickMax) "arg_pick_max" else "arg_pick_min"
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(
    names.zip(children).map { case (n, c) => StructField(n, c.dataType) })
  override def checkInputDataTypes(): TypeCheckResult =
    TypeCheckResult.TypeCheckSuccess

  private lazy val slots: Seq[AttributeReference] =
    names.zip(children).map { case (n, c) =>
      AttributeReference(s"pick_$n", c.dataType)()
    }

  override lazy val aggBufferAttributes: Seq[AttributeReference] = slots

  override lazy val initialValues: Seq[Expression] =
    children.map(c => Literal.create(null, c.dataType))

  /** `(at, av)` beats the incumbent `(bt, bv)`: empty incumbent loses;
    * otherwise strict lexicographic in the pick direction (Spark's
    * NaN-greatest double comparison — the struct order key's rule). */
  private def beats(
      at: Expression, av: Expression,
      bt: Expression, bv: Expression): Expression = {
    def cmp(a: Expression, b: Expression): Expression =
      if (pickMax) GreaterThan(a, b) else LessThan(a, b)
    Or(IsNull(bt),
      Or(cmp(at, bt), And(EqualTo(at, bt), cmp(av, bv))))
  }

  private def pick(cond: Expression, a: Seq[Expression], b: Seq[Expression])
      : Seq[Expression] =
    a.zip(b).map { case (x, y) => If(cond, x, y) }

  override lazy val updateExpressions: Seq[Expression] = {
    val x: Seq[Expression] = children
    val s: Seq[Expression] = slots
    val skip = IsNull(children.head) // null t rows are ignored
    pick(skip, s, pick(beats(children(0), children(1), slots(0), slots(1)), x, s))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val l: Seq[Expression] = slots.map(_.left)
    val r: Seq[Expression] = slots.map(_.right)
    // the RIGHT side is the challenger (mirrors update): an empty
    // challenger keeps the incumbent; beats() already hands an empty
    // incumbent to any non-empty challenger
    val rEmpty = IsNull(slots(0).right)
    pick(rEmpty, l, pick(beats(r(0), r(1), l(0), l(1)), r, l))
  }

  override lazy val evaluateExpression: Expression =
    If(IsNull(slots.head),
      Literal.create(null, dataType),
      CreateNamedStruct(names.zip(slots).flatMap { case (n, s) =>
        Seq(Literal(n), s)
      }))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArgPick =
    copy(children = newChildren)
}

object ArgPick {
  import org.apache.spark.sql.Column

  /** Column form: the row (as a struct of `names`) at the extreme
    * `(t, v)` per group. `fields` must start with the order key pair
    * ("t" -> t, "v" -> v). */
  def pick(max: Boolean, fields: Seq[(String, Column)]): Column =
    org.apache.spark.sql.graft.bridge.columnFn { exprs =>
      ArgPick(max, fields.map(_._1), exprs).toAggregateExpression()
    }(fields.map(_._2): _*)
}
