package graft.catalyst

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, CreateNamedStruct, EqualTo,
  Expression, GreaterThan, If, IsNull, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** `top2(t, id, v)` — the two samples with the LARGEST `(t, id)` per
  * group, as a struct `(max1: (t, id, v), max2: (t, id, v))` (`max2`
  * all-null for singleton groups).
  *
  * A [[DeclarativeAggregate]] over SIX primitive buffer slots — flat
  * longs/doubles, not a struct buffer, so the planner keeps it in
  * HashAggregate (mutable-buffer types) with map-side partial
  * aggregation: each input partition reduces to two samples per group
  * before the exchange, and no sort appears anywhere in the plan. The
  * irate/idelta family (reference consumer surface: the
  * BufferedSeriesIterator peek-back, `querier.go:50-57`) reads only
  * the last two samples of each (series, bucket); through a window
  * that is a full-volume hash exchange + per-partition sort, through
  * this aggregate it is one combine-shrunk hash aggregate — at 100 TB
  * the difference between shuffling every sample and two rows per
  * series-bucket.
  *
  * Ordering is lexicographic on `(t, id)` — `id` (sample_id) is the
  * family's usual unique tiebreaker, so `v` never participates,
  * matching the window family's `ORDER BY t, sample_id`. Null inputs
  * are ignored (slots hold null only while empty).
  */
case class TopTwo(t: Expression, id: Expression, v: Expression)
    extends DeclarativeAggregate {

  override def prettyName: String = "top2"
  override def children: Seq[Expression] = Seq(t, id, v)
  override def nullable: Boolean = false
  override def dataType: DataType = {
    val sample = StructType(Seq(
      StructField("t", t.dataType), StructField("id", id.dataType),
      StructField("v", v.dataType)))
    StructType(Seq(StructField("max1", sample), StructField("max2", sample)))
  }

  override def checkInputDataTypes(): TypeCheckResult =
    TypeCheckResult.TypeCheckSuccess

  private lazy val b1t = AttributeReference("max1_t", t.dataType)()
  private lazy val b1i = AttributeReference("max1_id", id.dataType)()
  private lazy val b1v = AttributeReference("max1_v", v.dataType)()
  private lazy val b2t = AttributeReference("max2_t", t.dataType)()
  private lazy val b2i = AttributeReference("max2_id", id.dataType)()
  private lazy val b2v = AttributeReference("max2_v", v.dataType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(b1t, b1i, b1v, b2t, b2i, b2v)

  override lazy val initialValues: Seq[Expression] =
    Seq(t, id, v, t, id, v).map(e => Literal.create(null, e.dataType))

  /** `(at, ai)` lexicographically beats `(bt, bi)`, empty (null) slots
    * losing. */
  private def beats(
      at: Expression, ai: Expression,
      bt: Expression, bi: Expression): Expression =
    Or(IsNull(bt),
      Or(GreaterThan(at, bt),
        And(EqualTo(at, bt), GreaterThan(ai, bi))))

  private def pick(cond: Expression, a: Seq[Expression], b: Seq[Expression])
      : Seq[Expression] =
    a.zip(b).map { case (x, y) => If(cond, x, y) }

  override lazy val updateExpressions: Seq[Expression] = {
    val x = Seq(t, id, v)
    val s1 = Seq[Expression](b1t, b1i, b1v)
    val s2 = Seq[Expression](b2t, b2i, b2v)
    val skip = Or(IsNull(t), IsNull(id))
    val xBeats1 = beats(t, id, b1t, b1i)
    val xBeats2 = beats(t, id, b2t, b2i)
    pick(skip, s1, pick(xBeats1, x, s1)) ++
      pick(skip, s2, pick(xBeats1, s1, pick(xBeats2, x, s2)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val l1 = Seq[Expression](b1t.left, b1i.left, b1v.left)
    val l2 = Seq[Expression](b2t.left, b2i.left, b2v.left)
    val r1 = Seq[Expression](b1t.right, b1i.right, b1v.right)
    val r2 = Seq[Expression](b2t.right, b2i.right, b2v.right)
    // the winner of (l1, r1) takes slot 1; slot 2 is the better of the
    // loser and the winner's own second slot
    val leftWins = beats(l1.head, l1(1), r1.head, r1(1))
    val m1 = pick(leftWins, l1, r1)
    val loser = pick(leftWins, r1, l1)
    val second = pick(leftWins, l2, r2)
    val loserBeats = beats(loser.head, loser(1), second.head, second(1))
    m1 ++ pick(loserBeats, loser, second)
  }

  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(Seq(
      Literal("max1"), CreateNamedStruct(Seq(
        Literal("t"), b1t, Literal("id"), b1i, Literal("v"), b1v)),
      Literal("max2"), CreateNamedStruct(Seq(
        Literal("t"), b2t, Literal("id"), b2i, Literal("v"), b2v))))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopTwo =
    copy(t = newChildren(0), id = newChildren(1), v = newChildren(2))
}
