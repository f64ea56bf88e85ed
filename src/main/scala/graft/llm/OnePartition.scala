package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

/** The one-partition gate of the `llm_batch` pass operators: the text
  * family (`TextOps.qualityFilter`, `Dedup.exactDedup`,
  * `minhashLshPairs`, `dupClusters`, `applyDedup`,
  * `containmentPrefixPairs`, `incrementalNearDup`) passes its document
  * and pair frames through [[text]], the vector family
  * (`Similarity.lshCosinePairs`, `clusterBlockedPairs`) its embeddings
  * through [[vectors]]. An input whose optimizer size estimate is at
  * most its family's bound is coalesced to one partition, whose
  * `SinglePartition` satisfies every later aggregate, window,
  * `groupByKey` and join of the operator, so its plan holds no shuffle
  * Exchange (broadcasts stay). On such a corpus each stage's fixed
  * cost (job floor, AQE stage, codegen) dominates the work, which one
  * task does faster than the parallel plan spreads it. Above the
  * bound every plan is the parallel one. The estimate is the scan's
  * file size scaled by the projections over it: it is read from the
  * optimized plan and costs no Spark job. Spark still plans a shuffle
  * under a join whose one-partition child's estimate exceeds
  * `spark.sql.maxSinglePartitionBytes`, as every frame above a join
  * or over an RDD does, so the gated operators label by aggregates,
  * not joins, past such frames.
  *
  * The bounds come from the `llm_pass` crossover sweep
  * (`graft.tools.LlmScalePoint`, SCALE.md §10, 4 cores). The families
  * cross far apart, because a text byte costs far more work (shingles,
  * 192 MinHash values, 64 bands) than an embedding byte. */
private[graft] object OnePartition {

  /** Largest document or pair frame planned on one partition: one
    * partition was faster at the llm_batch-sized corpus (docs estimate
    * 196 KB) and slower at sf0.1 (255 KB, six times the documents). */
  @volatile private[llm] var textMaxBytes: Long = 224L << 10

  /** Largest embedding frame planned on one partition: one partition
    * was faster up to sf0.1's planted embeddings (1.6 MB) and slower
    * at the ×3 corpus (3.6 MB). */
  @volatile private[llm] var vectorMaxBytes: Long = 2L << 20

  /** A document or pair frame through the gate. */
  def text(df: DataFrame): DataFrame = gate(df, textMaxBytes)

  /** An embedding frame through the gate. */
  def vectors(df: DataFrame): DataFrame = gate(df, vectorMaxBytes)

  /** `df` on one partition when its size estimate is at most
    * `maxBytes`, else `df` unchanged. An input already coalesced to
    * one partition is returned as it is, so an operator that calls
    * another (`applyDedup` runs `exactDedup`) builds the same plan,
    * and hits the same plan-keyed memo tables, as a direct call. */
  private def gate(df: DataFrame, maxBytes: Long): DataFrame =
    df.queryExecution.logical match {
      case Repartition(1, false, _) => df
      case _ =>
        if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes) df.coalesce(1)
        else df
    }

  /** `df.localCheckpoint(false)` that keeps a one-partition plan on
    * one partition: the checkpointed frame forgets its plan's
    * partitioning, so without the restated `coalesce(1)` every later
    * aggregate or join over it would plan an Exchange. */
  private[llm] def localCheckpoint(df: DataFrame): DataFrame = {
    val one = df.queryExecution.sparkPlan.outputPartitioning == SinglePartition
    val c = df.localCheckpoint(false)
    if (one) c.coalesce(1) else c
  }

  /** Run `f` with both bounds pinned to `bytes`: `Long.MaxValue` plans
    * every input on one partition, 0 keeps every plan parallel. */
  private[graft] def withMaxBytes[A](bytes: Long)(f: => A): A = {
    val prev = (textMaxBytes, vectorMaxBytes)
    textMaxBytes = bytes
    vectorMaxBytes = bytes
    try f finally { textMaxBytes = prev._1; vectorMaxBytes = prev._2 }
  }
}
