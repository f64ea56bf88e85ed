package graft.exec

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, Row}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Top2ByRel

/** The per-(series, bucket) partial algebra, defined once. A rollup
  * rung ([[graft.storage.Ingest.foldPartials]]) persists these
  * partials, its incremental maintenance
  * ([[graft.storage.Ingest.mergeFoldPartials]]) merges them, and every
  * bucketed PromQL route builds them from samples at query time,
  * pre-merges a rung's sub-bucket rows into step buckets, and merges
  * the buckets covering each step. Route equivalence (rung vs raw) and
  * merge-vs-refold bit-equality both rest on these being one
  * definition.
  *
  * Four families, each with
  *   - `fromSamples`: the aggregate over one bucket's samples; `atStart`
  *     marks samples exactly on the bucket start (the at-start partial
  *     that makes CLOSED `[t − w, t]` windows reconstructable from
  *     half-open buckets);
  *   - `merge`: the aggregate over partial rows of disjoint time
  *     ranges; `atStart` marks the rows whose at-start columns count
  *     (in a step bucket, the sub-bucket on the step boundary);
  *   - a finish where the family needs one (rate, top-2).
  * Aggregates are named lists ([[Aggs]]) carrying the rung's column
  * names; [[agg]] runs any mix of them in one aggregation. Marker-only
  * rows (null value columns) are skipped by every merge. */
object Partials {

  /** Named aggregate expressions of one family. */
  type Aggs = Seq[(String, Column)]

  /** Grouped aggregation of the given families' partials. A name
    * repeated across families (fold and rate both count `cnt`) is
    * computed once, first definition wins; packed merge results
    * (`_rate`, `_top2`) are expanded into their partial columns. */
  def agg(g: RelationalGroupedDataset, families: Aggs*): DataFrame = {
    val cs = families.flatten.distinctBy(_._1).map { case (n, c) => c.as(n) }
    val out = g.agg(cs.head, cs.tail: _*)
    if (!out.columns.exists(packed)) out
    else out.select(out.schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case s: StructType if packed(f.name) =>
          s.fieldNames.toSeq.map(n => n -> col(s"${f.name}.$n").as(n))
        case _ => Seq(f.name -> col(f.name))
      }
    }.distinctBy(_._1).map(_._2): _*)
  }

  private val packed = Set("_rate", "_top2")

  /** Rung columns that hold sample times (engines read them relative to
    * their grid anchor). */
  val timeCols: Set[String] = Set("ft", "lt", "lt2", "lta")

  /** The bucket's at-start point `(v0, has0)`, carried by the rate and
    * top-2 partials: from samples `has` is 1, merging it is `has0`. */
  def startPoint(v: Column, has: Column, atStart: Column): Aggs = Seq(
    "v0" -> max(when(atStart, v)),
    "has0" -> max(when(atStart, has).otherwise(0)))

  /** `*_over_time` folds: count/sum/sum²/min/max + NaN flag over the
    * bucket's live samples, and the same over its at-start samples
    * (`cnt0` … `nan0`). Sums add, min/max/NaN flag take min/max. */
  object Fold {
    val fields: Seq[String] = Seq("cnt", "sum", "sumsq", "mn", "mx", "nan")

    def fromSamples(v: Column, atStart: Column): Aggs = Seq(
      "cnt" -> count(lit(1)), "sum" -> sum(v), "sumsq" -> sum(v * v),
      "mn" -> min(v), "mx" -> max(v),
      "nan" -> max(when(isnan(v), 1).otherwise(0)),
      "cnt0" -> sum(when(atStart, 1L).otherwise(0L)),
      "sum0" -> sum(when(atStart, v)),
      "sumsq0" -> sum(when(atStart, v * v)),
      "mn0" -> min(when(atStart, v)), "mx0" -> max(when(atStart, v)),
      "nan0" -> max(when(atStart && isnan(v), 1).otherwise(0)))

    /** Merge of the full-bucket columns, read through `c`. */
    def mergeFull(c: String => Column): Aggs = Seq(
      "cnt" -> sum(c("cnt")), "sum" -> sum(c("sum")),
      "sumsq" -> sum(c("sumsq")), "mn" -> min(c("mn")),
      "mx" -> max(c("mx")), "nan" -> max(c("nan")))

    def merge(atStart: Column): Aggs = mergeFull(col) ++ Seq(
      "cnt0" -> sum(when(atStart, col("cnt0")).otherwise(0L)),
      "sum0" -> sum(when(atStart, col("sum0"))),
      "sumsq0" -> sum(when(atStart, col("sumsq0"))),
      "mn0" -> min(when(atStart, col("mn0"))),
      "mx0" -> max(when(atStart, col("mx0"))),
      "nan0" -> max(when(atStart, col("nan0")).otherwise(0)))
  }

  /** `rate`/`increase`/`delta`: first/last point, the in-bucket
    * counter-reset correction, point count, and the at-start point.
    * The merge is ORDERED — [[PromUdfs.mergeRateParts]] folds partials
    * in time order, adding the boundary reset at each seam — and the
    * finish is [[PromUdfs.ratePartials]]. */
  object Rate {
    /** Adds `_cinc`, the counter-reset correction of each sample: the
      * previous value (in `t` order within `keys`) when a strict
      * decrease is observed, with Go's NaN-comparison semantics
      * (`v < prev` is FALSE when either side is NaN,
      * `functions.go:57-63`; Spark alone would order NaN greatest and
      * poison the sum). */
    def withCorrection(keys: Seq[Column], t: Column, v: Column)(
        df: DataFrame): DataFrame = {
      val pv = lag(v, 1).over(Window.partitionBy(keys: _*).orderBy(t))
      df.withColumn("_cinc",
        when(pv.isNotNull && !isnan(v) && !isnan(pv) && v < pv, pv)
          .otherwise(lit(0.0)))
    }

    /** Over samples carrying [[withCorrection]]'s `_cinc`. */
    def fromSamples(t: Column, v: Column, atStart: Column): Aggs = Seq(
      "ft" -> min(t), "fv" -> min_by(v, t), "lt" -> max(t),
      "lv" -> max_by(v, t), "corr" -> sum(col("_cinc")),
      "cnt" -> count(lit(1))) ++ startPoint(v, lit(1), atStart)

    /** One partial as an ordered-merge element, `b` its sort key. */
    def part(b: Column): Column = struct(b.as("b"), col("ft"), col("fv"),
      col("lt"), col("lv"), col("corr"), col("cnt"))

    /** The at-start point `(t, v0)` as a one-point partial. */
    def startPart(b: Column, t: Column): Column = struct(b.as("b"),
      t.as("ft"), col("v0").as("fv"), t.as("lt"), col("v0").as("lv"),
      lit(0.0).as("corr"), lit(1L).as("cnt"))

    /** The time-sorted partials of a group, the merge's input. */
    def collect(part: Column): Column = array_sort(collect_list(part))

    def merge(atStart: Column): Aggs = Seq(
      "_rate" -> mergeUdf(collect(when(col("cnt").isNotNull, part(col("ft")))))) ++
      startPoint(col("v0"), col("has0"), atStart)

    private val mergeUdf: UserDefinedFunction = udf((ps: Seq[Row]) =>
      if (ps.isEmpty) None else {
        val (ft, fv, lt, lv, corr, cnt) = PromUdfs.mergeRateParts(ps)
        Some(RatePart(ft, fv, lt, lv, corr, cnt))
      })

    def finish(parts: Column, rangeStartRel: Column, rangeEndRel: Column,
        rangeMs: Long, isCounter: Boolean, isRate: Boolean): Column =
      PromUdfs.ratePartialsUdf(parts, rangeStartRel, rangeEndRel,
        lit(rangeMs), lit(isCounter), lit(isRate))
  }

  final case class RatePart(ft: Long, fv: Double, lt: Long, lv: Double,
      corr: Double, cnt: Long)

  /** `irate`/`idelta`: the bucket's two newest live points `(lt, lv)`,
    * `(lt2, lv2)` — one [[Top2ByRel]] aggregate both builds and merges
    * them. */
  object Top2 {
    def fromSamples(t: Column, v: Column): Aggs = Seq("_top2" ->
      Top2ByRel.top2(t, v, lit(null).cast("long"), lit(null).cast("double")))

    def merge(c: String => Column = col): Aggs = Seq("_top2" ->
      Top2ByRel.top2(c("lt"), c("lv"), c("lt2"), c("lv2")))

    /** Null when the window holds fewer than two points. */
    def finish(isRate: Boolean): Column = PromUdfs.instantFinishUdf(
      col("lt"), col("lv"), col("lt2"), col("lv2"), lit(isRate))
  }

  /** Instant selection: the bucket's newest point with its stale flag
    * (markers included — a marker as the newest point hides the
    * series), and its at-start point. */
  object Latest {
    def newest(t: Column, v: Column, stale: Column): Aggs = Seq(
      "lta" -> max(t), "lva" -> max_by(v, t), "lsa" -> max_by(stale, t))

    def fromSamples(t: Column, v: Column, stale: Column,
        atStart: Column): Aggs = newest(t, v, stale) ++ Seq(
      "v0a" -> max(when(atStart, v)), "s0a" -> max(when(atStart, stale)),
      "has0a" -> max(when(atStart, 1).otherwise(0)))

    def merge(atStart: Column): Aggs =
      newest(col("lta"), col("lva"), col("lsa")) ++ Seq(
        "v0a" -> max(when(atStart, col("v0a"))),
        "s0a" -> max(when(atStart, col("s0a"))),
        "has0a" -> max(when(atStart, col("has0a")).otherwise(0)))
  }
}
