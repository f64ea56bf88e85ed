package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.QuaternaryLike
import org.apache.spark.sql.types._

/** Exact top-2-by-timestamp aggregate, the top-2 partial of the
  * instant-value family (`irate`/`idelta`): keeps the two points with
  * the LARGEST time in a constant-size (4-slot primitive) buffer and
  * emits them as `struct<lt, lv, lt2, lv2>` (newest, then second
  * newest; null where the group holds fewer points).
  *
  * Each input row is itself a top-2 — `(rel, v)` and an optional
  * runner-up `(rel2, v2)` — so ONE aggregate both builds the partial
  * from samples (runner-up null) and merges partial rows: top-2 is
  * commutative and associative (the top-2 of a union is the top-2 of
  * the sides' top-2s), so update and merge are the same union.
  *
  * Why a DeclarativeAggregate (r17, guide §2.3/§2.4): unlike the rate
  * family's counter-reset partials, which need ADJACENCY and therefore
  * an ordered pass, top-2 needs no window at all. The rank-2 window
  * filter it replaced shuffled every sample before any reduction; this
  * is a plain hash aggregation whose map-side partials shuffle two
  * points per (series, bucket) per task. Buffer slots are flat
  * longs/doubles, so the aggregate stays in whole-stage-codegen
  * HashAggregate — no ObjectHashAggregate, no sort fallback.
  *
  * Time ties are impossible at the call sites (one sample per
  * (series, t), disjoint bucket ranges); a null time is a no-op, a
  * null value is carried verbatim. */
case class Top2ByRel(rel: Expression, v: Expression, rel2: Expression,
    v2: Expression) extends DeclarativeAggregate
    with QuaternaryLike[Expression] {

  override def first: Expression = rel
  override def second: Expression = v
  override def third: Expression = rel2
  override def fourth: Expression = v2
  override def prettyName: String = "top2_by_rel"
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("lt", LongType), StructField("lv", DoubleType),
    StructField("lt2", LongType), StructField("lv2", DoubleType)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(rel, rel2).forall(_.dataType == LongType) &&
        Seq(v, v2).forall(_.dataType == DoubleType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "top2_by_rel expects (bigint, double, bigint, double) inputs, got " +
        children.map(_.dataType.simpleString).mkString("(", ", ", ")"))

  private lazy val r1 = AttributeReference("r1", LongType)()
  private lazy val v1 = AttributeReference("v1", DoubleType)()
  private lazy val r2 = AttributeReference("r2", LongType)()
  private lazy val w2 = AttributeReference("v2", DoubleType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(r1, v1, r2, w2)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal(null, LongType), Literal(null, DoubleType),
    Literal(null, LongType), Literal(null, DoubleType))

  /** Top-2 of the union of two top-2s `(t1, v1, t2, v2)`: the winner's
    * top stays top; the runner-up is the larger of (loser's top,
    * winner's second) — each side's own second never beats its own
    * top, so the loser's second can't place. */
  private def union(a: Seq[Expression], b: Seq[Expression]): Seq[Expression] = {
    val Seq(at, av, at2, av2) = a
    val Seq(bt, bv, bt2, bv2) = b
    val aWins = And(IsNotNull(at), Or(IsNull(bt), GreaterThan(at, bt)))
    val candT = If(aWins, bt, at)
    val candV = If(aWins, bv, av)
    val curT = If(aWins, at2, bt2)
    val curV = If(aWins, av2, bv2)
    val candWins = And(IsNotNull(candT),
      Or(IsNull(curT), GreaterThan(candT, curT)))
    Seq(If(aWins, at, bt), If(aWins, av, bv),
      If(candWins, candT, curT), If(candWins, candV, curV))
  }

  override lazy val updateExpressions: Seq[Expression] =
    union(aggBufferAttributes, children)

  override lazy val mergeExpressions: Seq[Expression] =
    union(aggBufferAttributes.map(_.left), aggBufferAttributes.map(_.right))

  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(Seq(Literal("lt"), r1, Literal("lv"), v1,
      Literal("lt2"), r2, Literal("lv2"), w2))

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Top2ByRel =
    copy(rel = newFirst, v = newSecond, rel2 = newThird, v2 = newFourth)
}

object Top2ByRel {
  /** Column-API entry point: the top-2 of rows carrying a point
    * `(rel, v)` and a runner-up `(rel2, v2)`, as an aggregate. */
  def top2(rel: Column, v: Column, rel2: Column, v2: Column): Column =
    GraftColumnBridge.column(Top2ByRel(
      GraftColumnBridge.expression(rel), GraftColumnBridge.expression(v),
      GraftColumnBridge.expression(rel2), GraftColumnBridge.expression(v2))
      .toAggregateExpression())
}
