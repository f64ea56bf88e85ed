package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark 4's `private[sql]` ColumnNode conversion layer.
  *
  * Spark 4 moved `Column` onto an API-agnostic ColumnNode tree; the
  * catalyst `Expression <-> Column` converters
  * (`classic.ExpressionUtils`) became `private[sql]`, so a library
  * shipping its own native expressions (e.g.
  * `graft.functions.WordShingles`) needs this one-file shim in the
  * `org.apache.spark.sql` package — the same pattern Spark connectors
  * use. No Spark behavior is altered; this only re-exports the two
  * converters, plus the logical-plan-to-DataFrame constructors: one
  * that reads a sub-plan of an existing frame (the chunk tier's
  * envelope rows under its decode, `graft.storage.ChunkStore
  * .envelopes`), and one over an already-analyzed plan (a re-bound
  * plan template, `graft.exec.PromQLEngine.planTemplates`).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A frame over `plan`, which the caller vouches is analyzed: an
    * analyzed plan whose expressions were rewritten with no change of
    * type or reference. The plan is marked analyzed, so the analyzer
    * returns it as is instead of re-running every rule over it. */
  def analyzedFrame(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    frame(spark, plan)
  }
}
