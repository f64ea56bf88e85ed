package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic, hash-checkable witnesses for the approximate
  * similarity operators (`x2/x3/x5` ANN top-k, `d7/d8` banded embedding
  * pairs).
  *
  * The approximate operators are correct-by-construction only up to
  * recall, so a row-for-row SQL oracle cannot exist (the reference's
  * bench harness has the same problem and solves it the same way: it
  * checks an HLL series-count WITNESS, `internal/test/bench/
  * bench.go:57-94`, not raw rows). Instead each entry runs the
  * approximate operator AND its exact baseline inside Spark and emits
  * one row of scalar verdicts:
  *
  *  - recall against the exact baseline, collapsed to a `>= threshold`
  *    boolean (the raw recall depends on hash seeds; the boolean is
  *    stable at any scale factor with margin chosen from measurement),
  *  - subset-ness / false-positive counts, which are EXACTLY zero
  *    because every candidate is exact-rescored before emission,
  *  - cosine exactness on the overlap (approximate entries must report
  *    true cosines, not estimates),
  *  - baseline cardinalities the DuckDB oracle recomputes from the
  *    parquet tables.
  *
  * The witness aggregations are Spark jobs over the operator outputs —
  * nothing is collected to the driver — so the entries exercise the
  * full distributed path of both the approximate operator and its
  * baseline, then reduce to one row the driver can hash.
  *
  * Null ids: the r16 groupBy forms put NULL keys in one group, where
  * the former join forms never matched them. A key group with a null
  * id (`qid`/`neighbor_id`, `ia`/`ib`) therefore never counts as a
  * hit, and a null-id approximate pair counts as a false positive —
  * the join forms' semantics, pinned by `LlmOpsSpec`.
  */
object AnnWitness {

  /** Witness for an approximate top-k (`ann`) against the exact top-k
    * (`exact`), both shaped (qid, neighbor_id, cos).
    *
    * Output row:
    *  - `n_queries`: distinct qids answered by the approximate path
    *  - `ann_rows`, `exact_rows`: result cardinalities
    *  - `recall_ok`: |ann ∩ exact| / |exact| >= minRecall
    *  - `cos_exact_ok`: on the overlap, the approximate cosine equals
    *    the exact cosine to 1e-9 (re-scoring emits true cosines)
    */
  def topkWitness(ann: DataFrame, exact: DataFrame,
      minRecall: Double): DataFrame = {
    // r16 (optimization): ONE tagged-union aggregation instead of two
    // joins + three aggregates + two crossJoins — each side's lineage
    // (the ANN pipeline, the brute baseline) is evaluated once, and
    // the witness costs one hash-agg shuffle. Multiplicity-exact vs
    // the join form: per key, hits = cnt_a·cnt_e and the overlap's
    // max |acos − ecos| over all (a, e) combos is
    // max(maxA − minE, maxE − minA).
    val a = ann.select(col("qid"), col("neighbor_id"),
      col("cos").cast("double").as("c"),
      lit(1L).as("_a"), lit(0L).as("_e"))
    val e = exact.select(col("qid"), col("neighbor_id"),
      col("cos").cast("double").as("c"),
      lit(0L).as("_a"), lit(1L).as("_e"))
    a.unionByName(e)
      .groupBy(col("qid"), col("neighbor_id"))
      .agg(sum(col("_a")).as("ca"), sum(col("_e")).as("ce"),
        max(when(col("_a") === 1, col("c"))).as("maxA"),
        min(when(col("_a") === 1, col("c"))).as("minA"),
        max(when(col("_e") === 1, col("c"))).as("maxE"),
        min(when(col("_e") === 1, col("c"))).as("minE"))
      .withColumn("keyed",
        col("qid").isNotNull && col("neighbor_id").isNotNull)
      .agg(
        coalesce(countDistinct(when(col("ca") > 0, col("qid"))), lit(0L))
          .as("n_queries"),
        coalesce(sum(col("ca")), lit(0L)).as("ann_rows"),
        coalesce(sum(col("ce")), lit(0L)).as("exact_rows"),
        coalesce(sum(when(col("keyed"), col("ca") * col("ce"))), lit(0L))
          .as("hits"),
        coalesce(max(when(col("keyed") && col("ca") > 0 && col("ce") > 0,
          greatest(col("maxA") - col("minE"), col("maxE") - col("minA")))),
          lit(0.0)).as("max_err"))
      .select(col("n_queries"), col("ann_rows"), col("exact_rows"),
        (col("hits").cast("double") / col("exact_rows") >= minRecall)
          .cast("long").as("recall_ok"),
        (col("max_err") < 1e-9).cast("long").as("cos_exact_ok"))
  }

  /** Witness for approximate near-dup pairs (`approx`) against the
    * exact all-pairs baseline (`exact`), both shaped (ia, ib, cos).
    *
    * Output row:
    *  - `exact_pairs`: baseline cardinality (on the planted corpus this
    *    equals the base vector count — one jittered copy per vector at
    *    cos ≈ 0.989, no accidental pairs above the 0.9 threshold —
    *    which the DuckDB oracle recomputes as COUNT(*) of the table)
    *  - `false_pos`: approx pairs absent from exact — exactly 0, since
    *    candidates are exact-rescored against the same threshold
    *  - `recall_ok`: |approx ∩ exact| / |exact| >= minRecall
    */
  def pairsWitness(approx: DataFrame, exact: DataFrame,
      minRecall: Double): DataFrame = {
    // r16 (optimization): ONE tagged-union aggregation (see
    // topkWitness) — anti-join rows with multiplicity are
    // sum(ca where ce = 0), inner-join rows are sum(ca·ce), baseline
    // cardinality is sum(ce).
    val a = approx.select(col("ia"), col("ib"),
      lit(1L).as("_a"), lit(0L).as("_e"))
    val e = exact.select(col("ia"), col("ib"),
      lit(0L).as("_a"), lit(1L).as("_e"))
    a.unionByName(e)
      .groupBy(col("ia"), col("ib"))
      .agg(sum(col("_a")).as("ca"), sum(col("_e")).as("ce"))
      .withColumn("keyed", col("ia").isNotNull && col("ib").isNotNull)
      .agg(
        coalesce(sum(col("ce")), lit(0L)).as("exact_pairs"),
        coalesce(sum(when(col("ce") === 0 || !col("keyed"), col("ca"))
          .otherwise(0L)), lit(0L)).as("false_pos"),
        coalesce(sum(when(col("keyed"), col("ca") * col("ce"))), lit(0L))
          .as("hits"))
      .select(col("exact_pairs"), col("false_pos"),
        (col("hits").cast("double") / col("exact_pairs") >= minRecall)
          .cast("long").as("recall_ok"))
  }
}
