package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native series-catalog probe: the labels map of series `sig` as a
  * one-element array, or an empty array when the catalog holds no such
  * series. `explode` over it replaces the `join(seriesDim, sig)` label
  * rejoin on small tables with the join's inner semantics (a missing
  * sig yields no row) and no filter for the optimizer to push below
  * the aggregation onto every sample row. The catalog (one entry per
  * series, collected once per engine) is broadcast once; each row
  * probes it inside whole-stage codegen instead of the plan carrying a
  * BroadcastExchange of the same rows on every query.
  *
  * `catalog` maps each sig to its one-element labels array
  * ([[CatalogLabels.entry]]). `labelsType` is the catalog's labels
  * type, so the exploded column types exactly like the joined one; the
  * stored maps are the dimension's own rows, entry order included. */
case class CatalogLabels(child: Expression,
    catalog: Broadcast[java.util.HashMap[java.lang.Long, ArrayData]],
    labelsType: DataType) extends UnaryExpression {

  override def dataType: DataType = ArrayType(labelsType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "catalog_labels"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"catalog_labels expects a bigint sig, got ${child.dataType}")

  @transient private lazy val table = catalog.value
  @transient private lazy val absent: ArrayData = new GenericArrayData(Array.empty[Any])

  /** Shared by interpreted eval and generated code. */
  def lookup(sig: Long): ArrayData = {
    val a = table.get(sig)
    if (a == null) absent else a
  }
  def missing: ArrayData = absent

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input)
    if (s == null) absent else lookup(s.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("catalog", this)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} = ${c.isNull} ? $self.missing() : $self.lookup(${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CatalogLabels =
    copy(child = newChild)
}

object CatalogLabels {
  def apply(sig: Column,
      catalog: Broadcast[java.util.HashMap[java.lang.Long, ArrayData]],
      labelsType: DataType): Column =
    GraftColumnBridge.column(
      CatalogLabels(GraftColumnBridge.expression(sig), catalog, labelsType))

  /** A catalog entry: the series' labels as a one-element array. */
  def entry(labels: MapData): ArrayData = new GenericArrayData(Array[Any](labels))
}
