package graft.exec

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.LongType

/** A time value of one query's evaluation range: `startMs + delta`
  * (`fromEnd = false`) or `endMs + delta`, as a Catalyst literal.
  *
  * Every optimizer rule, partition-pruning step and parquet pushdown
  * sees a plain `Literal` (it IS one, and matches `Literal(x, _)`).
  * Only its generated code differs: a plain long literal is spliced
  * into the Java source, so every new window of a dashboard compiles
  * new whole-stage classes; a `TimeLit` reads its value through the
  * stage's references array, so two windows of one query shape
  * generate the same source and Spark's codegen cache serves the
  * second (SCALE.md §11).
  *
  * The (fromEnd, delta) slot is what lets a plan built for one window
  * serve another: [[TimeLit.bind]] re-binds every `TimeLit` of an
  * analyzed plan. The engine folds each time value in Scala before it
  * becomes one (`start − o − w` is one literal, not an `Add` over
  * two), since Spark would constant-fold such an `Add` into a plain
  * literal. The product is (fromEnd, delta, value), so a Catalyst
  * `makeCopy` rebuilds a `TimeLit`, slot included.
  */
final class TimeLit(val fromEnd: Boolean, val delta: Long, v: Long)
    extends Literal(v, LongType) {

  /** The same slot on the range [startMs, endMs]. */
  def at(startMs: Long, endMs: Long): TimeLit =
    new TimeLit(fromEnd, delta, (if (fromEnd) endMs else startMs) + delta)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("timeLit", value, "java.lang.Long")
    ExprCode.forNonNullValue(JavaCode.expression(s"$ref.longValue()", LongType))
  }

  override def productArity: Int = 3
  override def productElement(n: Int): Any = n match {
    case 0 => fromEnd
    case 1 => delta
    case 2 => v
    case _ => throw new IndexOutOfBoundsException(n.toString)
  }
}

object TimeLit {
  def column(fromEnd: Boolean, delta: Long, value: Long): Column =
    GraftColumnBridge.column(new TimeLit(fromEnd, delta, value))

  /** `plan` with every `TimeLit` moved to the range [startMs, endMs]. */
  def bind(plan: LogicalPlan, startMs: Long, endMs: Long): LogicalPlan =
    plan.transformAllExpressions { case t: TimeLit => t.at(startMs, endMs) }
}
