package graft.exec

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

import graft.model.Samples
import graft.promql.Ast._
import graft.promql.Parser

/** Set-at-once PromQL evaluator on Spark DataFrames.
  *
  * The reference evaluates a range query as N independent instant
  * evaluations, one per step (`promql/engine.go:412-462`), over iterators
  * bound once per query (`engine.go:492-560`). Here the whole range is ONE
  * distributed plan: selectors materialize `(series, step)` rows by
  * exploding each sample onto the grid steps whose window contains it —
  * an equi-grouped formulation that avoids a samples×steps theta join
  * (no broadcast-nested-loop; scales linearly with window/step overlap) —
  * and every downstream operator is keyed by `(sig, t)` instead of `sig`.
  *
  * Vector DataFrames carry columns:
  *   sig LONG        series signature, xxhash64 of the canonical labels
  *   labels MAP      full label set
  *   t LONG          step (evaluation) timestamp, ms
  *   st LONG         underlying sample timestamp, ms (for `timestamp()`)
  *   v DOUBLE        value
  * Scalar DataFrames carry (t, v); constants additionally fold driver-side.
  *
  * Small tables run each query as ONE Spark task. The gate
  * ([[singleTask]]) is one lazy predicate per table state, kept in
  * the [[tableSpan]] memo: a bound chunk tier whose envelope columns
  * count at most `singleTaskMaxSamples` samples (without a chunk tier
  * the gate has nothing to read short of a sample scan, and every plan
  * is the parallel one). Below it the leaves (selector scans, rung
  * slices, the step grid) are coalesced to one partition, so no
  * shuffle Exchange is planned, and the series dimension is collected
  * to the driver once per engine (an engine serves one table state)
  * and broadcast once as the series catalog. Those are the same
  * `(sig, labels)` rows the label rejoin's BroadcastExchange collects
  * on every query; with the catalog, label rejoins probe it in task
  * and series-dimension questions answer with no job. Above the bound
  * every plan is the parallel one.
  */
class PromQLEngine(
    spark: SparkSession,
    samples: DataFrame,
    lookbackMs: Long = PromQLEngine.DefaultLookbackMs,
    maxPointsPerSeries: Int = 11000,
    // (table, bucketMs) rungs from graft.storage.Ingest.foldPartials
    // over the SAME samples — the downsampling resolution ladder (one
    // rung or several, e.g. 1m + 1h + 1d). Aligned instant selectors,
    // folds, the rate family and irate/idelta read the COARSEST rung
    // whose bucket divides the step instead of the raw sample volume;
    // the rung is chosen once per selector, in vectorSelect and
    // evalRangeFunc. Coarser buckets mean fewer rows, and every rung
    // reconstructs exactly (the partials are lossless associative
    // shapes, not approximations), so resolution selection never
    // changes results — only scan volume. `private[graft]` so
    // deployment specs can assert a swapped-in engine actually carries
    // its tiers (HttpApi.forTable).
    private[graft] val partialsLadder: Seq[(DataFrame, Long)] = Nil,
    // (sig, labels) one row per distinct series, from
    // graft.storage.Ingest.seriesIndex over the SAME samples, kept
    // live by the write path. When bound it IS the series dimension
    // (seriesDim): label rejoins, labelValues, unbounded series() and
    // the series catalog read it, never a full-table distinct over
    // samples. Selector matchers do not go through it: every scan
    // filters with them on the rows it reads (selectorCond), which
    // measured no slower than a sig semi-join against the index
    // (SCALE.md §6 "Route vs. measured win").
    seriesIndex: Option[DataFrame] = None,
    // Gorilla chunk tier over the SAME samples, already decoded to the
    // canonical frame (graft.storage.ChunkStore.read): when bound,
    // every sample-volume selector scan serves from it instead of
    // `samples` — the reference's block read path (vendor
    // tsdb/querier.go chunk reads), where the chunk table IS the cold
    // store. Time bounds prune BEFORE decode via the
    // ChunkEnvelopePushdown rule (date partitions + min_t/max_t
    // row-group stats), and per-chunk rows amortize matcher evaluation
    // by the samples-per-chunk factor. Series-dimension questions
    // (seriesDim, labelValues, index-only series()) serve from the
    // series INDEX when one is bound (r16 — a samples-derived dim is
    // a full-table distinct a serving deployment would rebuild per
    // write); without an index they stay on `samples`, never the
    // chunk tier — the raw table answers them without decode.
    // Results are bit-identical either way (asserted
    // in ForTableTiersSpec) — only scan cost differs. ONE documented
    // exception: a protocol-violating at-least-once client that
    // re-sends a CONFLICTING value for an already-written (series, t)
    // in a LATER batch. In-batch dedup (the reference's
    // ErrAmendSample policy, storage/Ingest.dedup) cannot see prior
    // batches, so the raw table keeps both rows, while chunk
    // compaction / heal collapse them (smallest value wins, stale
    // beats plain — ChunkStore.stageCompaction). The reference rejects
    // such amends at append time via its head lookup; replicating that
    // here would cost a per-write history anti-join over the touched
    // partitions. Clients honoring remote-write's no-amend contract
    // never diverge.
    chunkTier: Option[DataFrame] = None) {

  import PromQLEngine._

  // G12 date functions extract calendar fields via the session time zone;
  // the engine's semantics are defined in UTC (functions.go:886-955).
  require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
    "PromQLEngine requires spark.sql.session.timeZone=UTC " +
      "(PromQL date functions are defined in UTC)")

  // install the DIV-comparison pushdown rule (idempotent): lets the
  // engine's time predicates prune parquet row groups through the
  // nanos→ms adapter division (see graft.plans.IntDivPushdown)
  if (!spark.experimental.extraOptimizations.contains(graft.plans.IntDivPushdown))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.IntDivPushdown
  // chunk-tier envelope pushdown (idempotent): time bounds on decoded
  // sample timestamps prune chunk rows BEFORE decode (see
  // graft.plans.ChunkEnvelopePushdown); a no-op on plans without a
  // chunk_decode Generate
  if (!spark.experimental.extraOptimizations.contains(graft.plans.ChunkEnvelopePushdown))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.ChunkEnvelopePushdown

  /** The frame sample-volume selector scans read: the chunk tier when
    * bound, the raw samples otherwise. Same canonical schema, same
    * content; `chunk_tier` route hits count each scan served. */
  private val scanSamples: DataFrame = chunkTier.getOrElse(samples)
  private def scanSource: DataFrame = {
    if (chunkTier.isDefined) countRoute("chunk_tier")
    oneTask(scanSamples)
  }

  /** True when the samples table carries a precomputed `sig` column —
    * the bucketed storage tier ([[graft.storage.Ingest.writeBucketedStore]]
    * stores `sigExpr(labels)` at write time and buckets the table on
    * it). Selectors then key by the STORED column: the scan's
    * `HashPartitioning(sig, n)` satisfies every per-series grouping
    * downstream, so the sample-volume shuffle vanishes from range-query
    * plans (asserted in PlanShapeSpec). Recomputing the hash here would
    * sever that lineage — Catalyst cannot prove `xxhash64(...)` equal
    * to the stored attribute. */
  private val storedSig = scanSamples.columns.contains(SIG)
  private def sigCol: Column =
    if (storedSig) col(SIG) else Samples.sigExpr(col(L))

  /** Evaluation grid: instant = single step. Every value the plan
    * derives from `startMs` or `endMs` enters it through [[atStart]] or
    * [[atEnd]], folded to one [[TimeLit]], so the plan re-binds to
    * another window of the same shape (see [[planTemplates]]). */
  case class EvalRange(startMs: Long, endMs: Long, stepMs: Long) {
    require(stepMs > 0, "zero or negative query resolution step")
    require(endMs >= startMs, "end timestamp must not be before start time")
    val numSteps: Long = (endMs - startMs) / stepMs + 1
    // API guard, reference internal/api/v1/api.go:211-216 — the
    // reference's check is `(end-start)/step > 11000` (strict), which
    // ADMITS a range of exactly 11,000 steps = 11,001 evaluation
    // points; the r13 boundary golden pins this off-by-one
    require(numSteps - 1 <= maxPointsPerSeries,
      "exceeded maximum resolution of 11,000 points per timeseries")
    /** `startMs + d` / `endMs + d` as a plan literal. */
    def atStart(d: Long): Column = TimeLit.column(fromEnd = false, d, startMs + d)
    def atEnd(d: Long): Column = TimeLit.column(fromEnd = true, d, endMs + d)
    /** Step `k`'s timestamp. */
    def stepAt(k: Column): Column = atStart(0) + k * stepMs
    lazy val stepsDF: DataFrame = oneTask(spark.range(numSteps).toDF())
      .select(stepAt(col("id")).as("t"))
  }

  sealed trait Value
  case class VecV(df: DataFrame) extends Value
  case class ScalV(df: DataFrame, const: Option[Double]) extends Value
  case class StrV(s: String) extends Value
  /** Range-vector result — only legal at the top level of an instant
    * query (`promql/engine.go:712-719`); rows keep the SAMPLE
    * timestamps. */
  case class MatV(df: DataFrame) extends Value

  // ---------- public API ----------

  /** Distinct label sets matching a selector, optionally time-bounded
    * (S8, `internal/api/v1/api.go:252-315`). */
  def series(matchExpr: String, startMs: Option[Long] = None,
      endMs: Option[Long] = None): Seq[Map[String, String]] = {
    val vs = Parser.parse(matchExpr) match {
      case v: VectorSelector => v
      case _ => throw new IllegalArgumentException(
        "match[] must be a vector selector")
    }
    // unbounded series(): a pure series-dimension question — answer
    // from the series index alone, no sample scan (the reference's
    // index-only path, tsdb/querier.go); on a small table from the
    // driver-side series catalog, with no Spark job at all
    val cond = selectorCond(vs)
    val unbounded = startMs.isEmpty && endMs.isEmpty
    if (unbounded && singleTask)
      return catalog.matching(cond)
        .map(_.getMap[String, String](1).toMap).toSeq.distinct
    var df = idxCached match {
      case Some(idx) if unbounded => idx.filter(cond)
      case _ => scanSource.filter(cond)
    }
    startMs.foreach(s => df = df.filter(col(T) >= s))
    endMs.foreach(e => df = df.filter(col(T) <= e))
    // distinct() rejects MAP columns — dedup via the sorted entries key
    df.select(array_sort(map_entries(col(L))).as("_ents")).distinct()
      .select(map_from_entries(col("_ents")).as(L)).collect()
      .map(_.getMap[String, String](0).toMap).toSeq
  }

  /** Matcher-filtered samples for one selector expression, staleness
    * markers INCLUDED — the shared core of the egress and probe
    * surfaces below (one place to fix matcher handling). */
  private def matchedSamples(matchExpr: String): DataFrame = {
    val vs = Parser.parse(matchExpr) match {
      case v: VectorSelector => v
      case _ => throw new IllegalArgumentException(
        s"expected a vector selector, got: $matchExpr")
    }
    scanSource.filter(selectorCond(vs))
  }

  /** Raw matching samples for egress (S5 remote-read,
    * `internal/read/read.go:45-126`): matcher + time bounds pushed to
    * the scan, rows returned as a DataFrame for streaming collection. */
  def rawSamples(matchExpr: String, startMs: Option[Long] = None,
      endMs: Option[Long] = None): DataFrame =
    rawSamplesWithMarkers(matchExpr, startMs, endMs)
      .filter(!col("stale")).drop("stale")

  /** [[rawSamples]] with staleness markers INCLUDED, carried as a
    * fourth boolean `stale` column (the raw NaN payload bits don't
    * survive Tungsten, so the flag travels separately and egress
    * reconstitutes [[Samples.StaleNaN]] driver-side). The protobuf
    * remote-read path needs this: the reference's stored samples
    * include the markers, and a federating reader that never receives
    * them resurrects ended series for a full lookback window. */
  def rawSamplesWithMarkers(matchExpr: String, startMs: Option[Long] = None,
      endMs: Option[Long] = None): DataFrame = {
    val hasStale = scanSamples.columns.contains("stale")
    var df = matchedSamples(matchExpr)
    startMs.foreach(s => df = df.filter(col(T) >= s))
    endMs.foreach(e => df = df.filter(col(T) <= e))
    val staleCol = if (hasStale) col("stale") else lit(false)
    df.select(col(L), col(T), col(V), staleCol.as("stale"))
      .orderBy(Samples.sigStr(col(L)), col(T))
  }

  /** Newest recorded timestamp for `matchExpr`, staleness markers
    * INCLUDED — a marker IS an evaluation result. The alert-state
    * probe needs this: a resolved alert's final step is recorded ONLY
    * as its marker, so a non-stale max(t) would freeze event-time
    * "now" at the last firing step and report the alert active
    * forever. */
  def latestSampleMs(matchExpr: String): Option[Long] = {
    val r = matchedSamples(matchExpr).agg(max(col(T))).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** Distinct values of one label across the bound samples (S8,
    * `internal/api/v1/api.go:317-341`). Memoized per engine: the
    * engine serves one immutable table state (a table that grows gets
    * a NEW engine — [[graft.api.HttpApi.forTable]] swaps on write), so
    * the answer cannot change, and metadata endpoints are the
    * highest-rate queries a dashboard fires. */
  def labelValues(name: String): Seq[String] =
    labelValuesMemo.computeIfAbsent(name, n =>
      // a pure series-dimension question: with a series index the
      // answer never touches the sample volume (the reference reads
      // it from the index too, tsdb/index.go LabelValues); on a small
      // table the driver-side series catalog answers it, no Spark job
      if (singleTask)
        catalog.labels.flatMap(l => Option(l.getOrElse(n, null))).distinct.toSeq
      else idxCached.getOrElse(samples)
        .select(col(L).getItem(n).as("v"))
        .filter(col("v").isNotNull).distinct()
        .collect().map(_.getString(0)).toSeq)

  private val labelValuesMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  def instant(query: String, tsMs: Long): DataFrame =
    finish(evalRoot(Parser.parse(query), EvalRange(tsMs, tsMs, 1000)))

  def rangeQuery(query: String, startMs: Long, endMs: Long, stepMs: Long): DataFrame = {
    val expr = rangeExpr(query)
    finish(evalRoot(expr, EvalRange(startMs, endMs, stepMs)))
  }

  /** [[instant]] and [[rangeQuery]] for the SERVING path: the plan
    * comes from the query shape's template (see [[planTemplates]]). */
  def instantCached(query: String, tsMs: Long): DataFrame =
    templated(query, Parser.parse(query), EvalRange(tsMs, tsMs, 1000))

  def rangeQueryCached(query: String, startMs: Long, endMs: Long,
      stepMs: Long): DataFrame = {
    val expr = rangeExpr(query)
    templated(query, expr, EvalRange(startMs, endMs, stepMs))
  }

  private def rangeExpr(query: String): Expr = {
    val expr = Parser.parse(query)
    expr.typ match {
      case ValueType.Vector | ValueType.Scalar => expr
      case t => throw new IllegalArgumentException(
        // verbatim engine.go:271 (%q around documentedType)
        s"""invalid expression type "$t" for range query, """ +
          "must be Scalar or instant Vector")
    }
  }

  /** Plan templates for the SERVING path: one analyzed plan per query
    * SHAPE, re-bound to each request's window. A dashboard refresh
    * moves its window, so a cache keyed by the exact (query, start,
    * end, step) missed on all but literal repeats, and each miss paid
    * the DataFrame build (the evaluation walk plus Catalyst analysis,
    * a median 0.08 s per dashboard request) and, with the window's
    * times inlined in the generated code, ~50 fresh class compiles
    * per refresh (SCALE.md §11). A re-bind moves literals only and
    * skips analysis; the re-bound plan's code is already compiled.
    *
    * The shape ([[TemplateKey]]) holds every input route choice reads,
    * so a template only serves requests that would have built its
    * plan: the query text, the step and step count, each selector
    * offset's [[bestPartials]] pick (the one route input that depends
    * on the window's position) and the one-task gate; [[slidingWins]]
    * and [[foldRungPays]] read only these plus the engine's table
    * stats. Every time value in the plan is a [[TimeLit]] (see
    * [[EvalRange]]), and [[TimeLit.bind]] moves them all to the new
    * window. A template keeps its most recent binding, so an exact
    * repeat re-collects the identical DataFrame; a re-bound plan
    * replays the counter bumps of its build ([[tally]]), so the route
    * counters read as if it had been built. Engine instances are
    * swapped wholesale on write ([[graft.api.HttpApi.forTable]]), so a
    * fresh engine starts empty and a template never outlives its
    * table state. Plan CONSTRUCTION only lives here (the PlanCache
    * liveness rule — the collect happens per request at the API
    * layer). */
  private val planTemplates: java.util.Map[TemplateKey, PlanTemplate] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[TemplateKey, PlanTemplate](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[TemplateKey, PlanTemplate]): Boolean =
          size() > 64
      })

  private case class TemplateKey(query: String, stepMs: Long, numSteps: Long,
      rungs: Seq[Long], singleTask: Boolean)

  private final class PlanTemplate(plan: LogicalPlan, tallies: Seq[() => Unit],
      @volatile var bound: (Long, Long, DataFrame)) {
    def serve(tr: EvalRange): DataFrame = {
      val (s, e, df) = bound
      if (s == tr.startMs && e == tr.endMs) df
      else {
        tallies.foreach(_())
        // re-binding changes literal values only, never a type or a
        // reference, so the analysis of the template's plan holds
        val fresh = GraftColumnBridge.analyzedFrame(spark,
          TimeLit.bind(plan, tr.startMs, tr.endMs))
        bound = (tr.startMs, tr.endMs, fresh)
        fresh
      }
    }
  }

  /** Serving-path template counters, exported on `/metrics` as
    * `graft_plan_template_{hits,misses}_total`; like [[routeHits]],
    * scoped to this engine instance. */
  private[graft] val templateHits = new java.util.concurrent.atomic.AtomicLong
  private[graft] val templateMisses = new java.util.concurrent.atomic.AtomicLong

  /** Serve `expr` on `tr` from its shape's template, building the
    * template on a miss. The build runs OUTSIDE the map lock: a
    * Catalyst analysis inside `computeIfAbsent` would serialize every
    * concurrent hit behind it (the synchronizedMap holds one lock for
    * the access-order LRU update too). A racing pair may both build;
    * the first-cached template wins. */
  private def templated(query: String, expr: Expr, tr: EvalRange): DataFrame = {
    val key = TemplateKey(query, tr.stepMs, tr.numSteps,
      selectorOffsets(expr).toSeq.sorted.map(o =>
        bestPartials(tr.stepMs, tr.startMs - o).fold(0L)(_._2)),
      singleTask)
    val hit = planTemplates.get(key)
    if (hit != null) {
      templateHits.incrementAndGet()
      return hit.serve(tr)
    }
    templateMisses.incrementAndGet()
    val log = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    buildLog.set(log)
    val df = try finish(evalRoot(expr, tr)) finally buildLog.remove()
    planTemplates.putIfAbsent(key, new PlanTemplate(
      df.queryExecution.analyzed, log.toSeq, (tr.startMs, tr.endMs, df)))
    df
  }

  /** Evaluate to the canonical (labels, t, v) result frame. */
  private def finish(value: Value): DataFrame = value match {
    case VecV(df) => df.select(col(L), col(T), col(V))
    case MatV(df) => df.select(col(L), col(ST).as(T), col(V))
    case ScalV(df, _) =>
      df.select(map().cast("map<string,string>").as(L), col(T), col(V))
    case StrV(_) => throw new IllegalArgumentException(
      "string results have no tabular form")
  }

  // ---------- selectors ----------

  private def matcherCond(m: LabelMatcher): Column = {
    // An absent label behaves as the empty string (pkg/labels/matcher.go).
    val value = coalesce(col(L).getItem(m.name), lit(""))
    m.typ match {
      case MatchType.Eq => value === m.value
      case MatchType.NotEq => value =!= m.value
      // fully anchored like the reference (matcher.go:55-69), with
      // the RE2 dialect mapped onto Java regex (promql.Re2): RE2-only
      // spellings translate, Java-only constructs were rejected at
      // parse time
      case MatchType.Regex =>
        value.rlike("^(?:" + graft.promql.Re2.toJava(m.value) + ")$")
      case MatchType.NotRegex =>
        !value.rlike("^(?:" + graft.promql.Re2.toJava(m.value) + ")$")
    }
  }

  /** A selector's matcher conjunction — its metric name as an
    * `__name__` equality plus every label matcher — as one predicate
    * on the labels column. Every scan a selector reads (raw samples,
    * chunk rows, rung rows, the series index or catalog) filters with
    * it, inside the scan's own stage: on the chunk tier it runs once
    * per ≤ 240-sample chunk row, on a rung once per bucket row. */
  private def selectorCond(vs: VectorSelector): Column = {
    val ms = vs.name.map(n =>
      LabelMatcher(MatchType.Eq, Samples.MetricNameLabel, n)).toSeq ++ vs.matchers
    require(ms.nonEmpty, "vector selector must contain at least one label matcher")
    ms.map(matcherCond).reduce(_ && _)
  }

  /** All samples falling in each step's window `[step-o-w, step-o]`
    * (closed on both ends, matching the vendored engine's `t >= mint`
    * selection — engine.go:789-806,837-892), exploded onto the step grid.
    * Output: sig, labels, t(step), st, v. */
  private def windowed(vs: VectorSelector, windowMs: Long, tr: EvalRange,
      keepStale: Boolean = false): DataFrame = {
    val o = vs.offsetMs
    // Staleness markers (engine.go:796-798,869-871): range selectors drop
    // marker samples from the window; the INSTANT selector instead keeps
    // them through selection so a marker that is the newest point in the
    // lookback makes the series ABSENT (no fallback to older samples) —
    // see vectorSelect. Markers arrive as an explicit `stale` flag set at
    // ingest because Spark normalizes NaN payload bits inside UnsafeRow.
    val hasStale = scanSamples.columns.contains("stale")
    val staleCol = if (hasStale) col("stale") else lit(false)
    val src = scanSource
    val unstale =
      if (keepStale || !hasStale) src else src.filter(!col("stale"))
    val base = unstale.filter(selectorCond(vs))
      .filter(col(T) >= tr.atStart(-o - windowMs) && col(T) <= tr.atEnd(-o))
      .select(sigCol.as(SIG), col(L), col(T).as(ST), col(V),
        staleCol.as("_stale"))
    // steps covered by a sample at st: step >= st+o  &&  step <= st+o+w
    // (integer form of  step-o-w <= st <= step-o), intersected with the
    // grid and clamped to [start, end]. st+o-start is spelled
    // st-(start-o), so the time value stays one literal.
    val stepD = lit(tr.stepMs.toDouble)
    val firstStep = greatest(tr.atStart(0),
      tr.stepAt(ceil((col(ST) - tr.atStart(-o)).cast("double") / stepD))
        .cast("long"))
    val lastStep = least(tr.atEnd(0),
      tr.stepAt(floor((col(ST) - tr.atStart(-o - windowMs)).cast("double") / stepD))
        .cast("long"))
    base
      .withColumn("_f", firstStep).withColumn("_l", lastStep)
      .filter(col("_f") <= col("_l"))
      .withColumn(T, explode(sequence(col("_f"), col("_l"), lit(tr.stepMs))))
      .select(col(SIG), col(L), col(T), col(ST), col(V), col("_stale"))
  }

  /** Instant vector selector: latest sample per series in the lookback
    * window at each step (`promql/engine.go:767-806`; 5-min lookback
    * `engine.go:1469-1471`). A staleness marker as the NEWEST lookback
    * point excludes the series — older points are not resurrected
    * (engine.go:789-798 takes the latest point, then drops it if stale). */
  private def vectorSelect(vs: VectorSelector, tr: EvalRange): DataFrame = {
    val m = lookbackMs / tr.stepMs
    val aligned = lookbackMs % tr.stepMs == 0 && m <= 512
    // a rung route is beneficial at any m; query-time bucketing only
    // on a real range query with fan-out to save
    val rung =
      if (aligned) bestPartials(tr.stepMs, tr.startMs - vs.offsetMs) else None
    if (aligned && (rung.nonEmpty || (m >= 2 && tr.numSteps >= 8)))
      bucketedSelect(vs, tr, rung)
    else {
      countRoute("raw_general")
      // the newest point of each (series, step) window: per-field
      // max_bys on the SAME key (sample timestamps are unique within a
      // group, so all three pick the same row) keep the aggregation
      // hash-based, where a struct-typed buffer forces SortAggregate.
      // Labels rejoin from the cached series dimension afterwards.
      joinLabels(Partials.agg(
          windowed(vs, lookbackMs, tr, keepStale = true)
            .groupBy(col(SIG), col(T)),
          Partials.Latest.newest(col(ST), col(V), col("_stale")))
          .filter(!col("lsa")))
        .select(col(SIG), col(L), col(T), col("lta").as(ST), col("lva").as(V))
    }
  }

  /** Spec surface: whether this engine's series dimension is a bound
    * series index (see [[seriesDim]]). */
  private[graft] def hasSeriesIndex: Boolean = seriesIndex.isDefined

  /** Spec surface: whether selector scans serve from the chunk tier. */
  private[graft] def hasChunkTier: Boolean = chunkTier.isDefined

  /** The COARSEST bound rung servable for a grid: bucket divides the
    * step and the (offset-shifted) start sits on a bucket boundary.
    * Coarser buckets hold fewer rows, and every rung is an exact
    * associative shape, so resolution selection changes scan volume
    * only, never results. Called once per selector, by [[vectorSelect]]
    * and [[evalRangeFunc]]; the bucketed evaluators take their choice. */
  private def bestPartials(stepMs: Long,
      anchor: Long): Option[(DataFrame, Long)] =
    partialsLadder
      .filter { case (_, bkt) =>
        stepMs % bkt == 0 && Math.floorMod(anchor, bkt) == 0 }
      .sortBy(-_._2).headOption

  /** The rung rows a bucketed evaluator reads instead of raw samples:
    * matchers evaluated on the rung's own labels, buckets inside
    * `[anchor − w, end − o]` (the grid is aligned and w a multiple of
    * the step, so the closed window's low edge is a bucket boundary),
    * plus the [[gridCols]] of the bucket start, with the sample-time
    * columns made relative to the anchor like the query-time
    * partials'. Input volume: series × buckets, never samples. */
  private def rungSlice(tbl: DataFrame, vs: VectorSelector, w: Long,
      tr: EvalRange): DataFrame = {
    val o = vs.offsetMs
    oneTask(tbl)
      .filter(selectorCond(vs))
      .filter(col("bucket_start") >= tr.atStart(-o - w) &&
        col("bucket_start") <= tr.atEnd(-o))
      .select(tbl.columns.toSeq.map(c =>
        if (Partials.timeCols(c)) (col(c) - tr.atStart(-o)).as(c) else col(c)) ++
        gridCols(col("bucket_start"), tr.atStart(-o), tr.stepMs): _*)
  }

  /** A rung's rows as step-bucket partials. At q = step/bucket = 1 each
    * row IS one: every bucket start is then a step boundary, so its
    * at-start columns count. At q > 1 the q sub-bucket rows of a step
    * bucket first `merge` into ONE row, counting only the at-start
    * columns of the sub-bucket on the step boundary (`_s0`; the
    * others' start points are interior samples of the step window,
    * already inside their full partial) — fanning out sub-bucket rows
    * directly costs q × m exploded rows per (series, step bucket),
    * measured 1.4× SLOWER than raw at q = 60 for rate (LadderBench,
    * 15 s cadence / 1 m rung / 1 h steps) where the merged route
    * beats raw ~2×. `live` drops marker-only buckets, which carry no
    * values. */
  private def rungRows(rung: (DataFrame, Long), vs: VectorSelector,
      w: Long, tr: EvalRange, live: Boolean)(
      merge: Partials.Aggs*): DataFrame = {
    val rows = rungSlice(rung._1, vs, w, tr)
    val kept = if (live) rows.filter(col("cnt").isNotNull) else rows
    if (tr.stepMs == rung._2) kept
    else Partials.agg(kept.groupBy(col(SIG), col("_b")), merge: _*)
  }

  /** The covering-step fan-out every bucketed evaluator shares. Window
    * semantics are CLOSED [t-w, t], which half-open buckets cannot
    * express alone: step k combines the FULL partials of buckets
    * k-m … k-1 plus bucket k's AT-START partial (its samples exactly
    * on the step boundary). So each (series, step-bucket `_b`) row
    * sends `full` to steps `_b+1 … _b+m` and, when `hasStart`, `start`
    * to step `_b` — both clipped to the grid. Output: (sig, _c) with
    * `_c = struct(k = step index, p = partial of type pType)`. */
  private def fanOut(partials: DataFrame, m: Int, tr: EvalRange,
      pType: String, full: Column, hasStart: Column,
      start: Column): DataFrame = {
    val contribType = s"array<struct<k:bigint,p:$pType>>"
    val lo = greatest(col("_b") + 1, lit(0L))
    val hi = least(col("_b") + m, lit(tr.numSteps - 1))
    val fullSeq = when(lo <= hi, sequence(lo, hi, lit(1L)))
      .otherwise(array().cast("array<bigint>"))
    val fullContrib = transform(fullSeq, k => struct(k.as("k"), full.as("p")))
    val startContrib =
      when(col("_b").between(0, tr.numSteps - 1) && hasStart,
        array(struct(col("_b").as("k"), start.as("p"))))
        .otherwise(array().cast(contribType))
    partials.select(col(SIG), explode(concat(
      fullContrib.cast(contribType), startContrib)).as("_c"))
  }

  /** Bucketed instant selector: the general path explodes every sample
    * onto lookback/step covering steps (20× at a 5 m lookback and 15 s
    * steps — THE production monitoring shape). Here samples reduce to
    * one latest-point partial per (series, bucket) first; only those
    * fan out, and the per-step winner is the max-timestamp partial
    * among covering buckets plus the at-start point of the step's own
    * bucket. Staleness travels with the partial: the winner being a
    * marker hides the series, exactly like the general path. A rung's
    * stored last/at-start points carry the stale flag too;
    * marker-only buckets are present by construction (see
    * [[graft.storage.Ingest.foldPartials]]). */
  private def bucketedSelect(vs: VectorSelector, tr: EvalRange,
      rung: Option[(DataFrame, Long)]): DataFrame = {
    val step = tr.stepMs
    val m = (lookbackMs / step).toInt
    val partials = rung match {
      case Some(r) =>
        countRoute("select_partials", r._2)
        rungRows(r, vs, lookbackMs, tr, live = false)(
          Partials.Latest.merge(col("_s0")))
      case None =>
        countRoute("bucketed_query_time")
        Partials.agg(bucketedBase(vs, lookbackMs, tr, keepStale = true)
            .groupBy(col(SIG), col("_b")),
          Partials.Latest.fromSamples(col("_rel"), col(V), col("_st0"),
            col("_s0")))
    }
    // contributing rels are unique within a (series, step) group (lp
    // rels of distinct buckets lie in disjoint ranges; the sp rel is
    // the step boundary itself), so the newest point is one row
    joinLabels(Partials.agg(
        fanOut(partials, m, tr, "struct<rel:bigint,v:double,stale:boolean>",
          full = struct(col("lta").as("rel"), col("lva").as("v"),
            col("lsa").as("stale")),
          hasStart = col("has0a") === 1,
          start = struct((col("_b") * step).as("rel"), col("v0a").as("v"),
            coalesce(col("s0a"), lit(false)).as("stale")))
          .groupBy(col(SIG), col("_c.k").as("_k")),
        Partials.Latest.newest(col("_c.p.rel"), col("_c.p.v"),
          col("_c.p.stale")))
        .filter(!col("lsa")))
      .withColumn(T, tr.stepAt(col("_k")))
      .select(col(SIG), col(L), col(T),
        (col("lta") + tr.atStart(-vs.offsetMs)).as(ST), col("lva").as(V))
  }

  // ---------- evaluation ----------

  /** The (sig → labels) dimension of the samples table: one row per
    * series, computed once and Spark-cached, shared across engines over
    * the same table. Selectors never transform labels, so every
    * aggregation over SAMPLE-volume frames can aggregate numerics only,
    * keyed by the 8-byte sig (map-typed `first(labels)` buffers
    * disqualify hash aggregation — SortAggregate pairs sorting the full
    * sample volume — and labels-as-grouping-key pays an entries
    * array_sort per sample row), then [[joinLabels]] rejoins this small
    * dimension on the aggregated output (AQE broadcasts it).
    *
    * With a series INDEX bound, the dimension IS the index (r16): the
    * index already holds exactly (sig, canonical labels) one row per
    * series, kept live by the write path — the reference reads series
    * labels from its index too (`tsdb/querier.go` via
    * `index.Series`), never by scanning samples. The samples-derived
    * fallback below is a FULL-TABLE distinct with a per-row entries
    * sort, which a serving deployment rebuilds after every write (the
    * engine swap releases the cache — a stale dim would hide new
    * series from every label rejoin): the r16 multi-day soak measured
    * that rebuild growing with TOTAL table volume until reader qps
    * and write latency collapsed together (~batch 60 of a 96 × 2 M
    * day: writes 28 → 128 s, qps 0.9 → 0.0) — a per-write cost
    * carrying a term in table AGE, the same defect class as the r15
    * compaction sweep, one tier up. */
  private lazy val seriesDim: DataFrame = idxCached match {
    case Some(idx) => idx.select(col(SIG), col(L))
    case None => seriesDimCache.computeIfAbsent(
      samples.queryExecution.analyzed.canonicalized, _ =>
        samples.select(array_sort(map_entries(col(L))).as("_ents")).distinct()
          .select(map_from_entries(col("_ents")).as(L))
          .select(Samples.sigExpr(col(L)).as(SIG), col(L))
          .cache())
  }

  /** Rejoin full label sets onto a sig-keyed aggregated frame. On a
    * small table this is a probe of the broadcast series catalog
    * ([[graft.functions.CatalogLabels]]) inside the one task, with the
    * join's inner semantics: a sig the catalog lacks explodes to no
    * row. */
  private def joinLabels(aggd: DataFrame): DataFrame =
    if (singleTask) {
      val c = catalog
      aggd.select(col("*"),
        explode(graft.functions.CatalogLabels(col(SIG), c.bc, c.labelsType)).as(L))
    } else aggd.join(seriesDim, SIG)

  /** The series catalog: every `(sig, labels)` row of [[seriesDim]] on
    * the driver, broadcast once. It is the same rows the label
    * rejoin's BroadcastExchange collects on every query of a small
    * table, collected once per engine — an engine serves one table
    * state — so label rejoins probe it in-task and the series-
    * dimension questions (label values, unbounded series(), the
    * series count) answer without a Spark job. Built
    * on the first query that needs it, never on the write or swap
    * path; only small tables (see [[singleTask]]) build one. */
  private final class SeriesCatalog(dim: DataFrame) {
    val labelsType: DataType = dim.schema(L).dataType
    private val rows: Array[InternalRow] =
      dim.select(col(SIG), col(L)).queryExecution.executedPlan.executeCollect()
    val size: Int = rows.length
    val labels: Array[Map[String, String]] = rows.map(r =>
      CatalystTypeConverters.convertToScala(r.getMap(1), labelsType)
        .asInstanceOf[scala.collection.Map[String, String]].toMap)
    val bc: Broadcast[java.util.HashMap[java.lang.Long, ArrayData]] = {
      val m = new java.util.HashMap[java.lang.Long, ArrayData](size * 2)
      rows.foreach(r => m.put(r.getLong(0),
        graft.functions.CatalogLabels.entry(r.getMap(1).copy())))
      spark.sparkContext.broadcast(m)
    }
    /** (sig, labels) rows as a LocalRelation, so a matcher filter on
      * it folds on the driver (ConvertToLocalRelation): no job. */
    private lazy val frame: DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(rows.indices.map(i =>
        Row(rows(i).getLong(0), labels(i))): _*),
      StructType(Seq(StructField(SIG, LongType), StructField(L, labelsType))))
    /** Catalog rows `cond` keeps, as (sig, labels) rows. */
    def matching(cond: Column): Array[Row] = frame.filter(cond).collect()
  }

  // built on first use; concurrent first queries may each build one
  // (same rows), and whichever catalog no plan references any more is
  // reclaimed by Spark's ContextCleaner, as is the one a release drops
  @volatile private var catalogV: SeriesCatalog = null

  private def catalog: SeriesCatalog = {
    val c = catalogV
    if (c != null) c
    else { val built = new SeriesCatalog(seriesDim); catalogV = built; built }
  }

  /** Spec surface: the catalog broadcast, once built. */
  private[graft] def catalogBroadcast: Option[Broadcast[_]] =
    Option(catalogV).map(_.bc)

  /** The bound series index, Spark-cached once per index STATE (plan
    * identity, like [[seriesDim]]). The index is series-cardinality —
    * broadcastable, a normal cache working set even at 40 M active
    * series — but an INLINE index (built from samples, as callers
    * without a persisted index table bind it) re-runs a
    * sample-volume first(labels) aggregate on every label rejoin and
    * metadata question if used raw; that recompute was most of the
    * r11 s13 serving cost (SCALE.md "FirstLabels settle", r12).
    * A deployment binding a parquet-backed index
    * ([[graft.storage.Ingest.appendSeriesIndex]]) caches just the
    * scan. Released with [[releaseSeriesDim]] on engine swap. */
  private lazy val idxCached: Option[DataFrame] =
    seriesIndex.map(idx => seriesIndexCache.computeIfAbsent(
      idx.queryExecution.analyzed.canonicalized, _ => idx.cache()))

  /** The chunk rows under the bound chunk tier: one row per ≤ 240
    * samples carrying `n`, `min_t` and `max_t`, read without a
    * decode. */
  private lazy val chunkEnvelopes: Option[DataFrame] =
    chunkTier.flatMap(graft.storage.ChunkStore.envelopes)

  /** Memoized (minT, maxT, rows) of the bound table — the input of the
    * [[singleTask]] gate and, with the series count, of the density
    * cost model ([[tableStats]]). Keyed by the CANONICALIZED plan and
    * shared across engines (like [[seriesDim]]): a serving deployment
    * that swaps engines per write pays one probe per table STATE, not
    * per engine object. With a chunk tier bound the probe reads only
    * its chunk envelopes (`min(min_t)`, `max(max_t)`, `sum(n)`), on
    * the first query that state serves; without one it scans the raw
    * `t` column, and only when a route choice asks for [[tableStats]]
    * (the gate never does). Only route and plan choices read these,
    * so their source never changes a result. */
  private lazy val tableSpan: Option[(Long, Long, Long)] =
    tableStatsCache.computeIfAbsent(
      samples.queryExecution.analyzed.canonicalized, _ => {
        val r = chunkEnvelopes match {
          case Some(env) =>
            env.agg(min(col("min_t")), max(col("max_t")), sum(col("n"))).head()
          case None =>
            samples.agg(min(col(T)), max(col(T)), count(lit(1))).head()
        }
        if (r.isNullAt(0)) None
        else Some((r.getLong(0), r.getLong(1), r.getLong(2)))
      })

  /** (minT, maxT, rows, series): [[tableSpan]] plus the series count,
    * which a one-task table reads from the catalog (no job). */
  private lazy val tableStats: Option[(Long, Long, Long, Long)] =
    tableSpan.map { case (t0, t1, rows) =>
      (t0, t1, rows,
        if (singleTask) catalog.size.toLong else seriesDim.count())
    }

  /** The one-task gate: a chunk tier is bound and holds at most
    * [[PromQLEngine.singleTaskMaxSamples]] samples (the gate reads
    * only its envelopes, never the samples; an engine without a chunk
    * tier keeps the parallel plan). Below it, every query runs as
    * ONE Spark task: the leaves (selector scans, rung slices, the step
    * grid) are coalesced to one partition, whose `SinglePartition`
    * satisfies every later per-(sig, t) aggregate, window and sort-
    * merge join, so no shuffle Exchange is planned and a query is one
    * stage (plus one broadcast stage per vector-matching join that
    * Spark broadcasts). On such a table each stage's fixed cost (job
    * floor, AQE stage, whole-stage codegen) dominates, and one task
    * does the work the parallel plan spreads over several. Above the
    * bound every plan is the parallel one. */
  private def singleTask: Boolean = chunkEnvelopes.isDefined &&
    tableSpan.forall(_._3 <= singleTaskMaxSamples)

  private def oneTask(df: DataFrame): DataFrame =
    if (singleTask) df.coalesce(1) else df

  /** Density-aware route choice: sliding costs ~2×(steps + m) rows
    * per series regardless of window width; the explode route costs
    * (partials per series) × m. On a SPARSE table (the test fixture
    * averages ~3 samples per series-day) the explode side is tiny and
    * sliding's dense step coverage would be pure overhead; at
    * production scrape density (≥ 1 sample per bucket) the explode
    * side is bucketCount × m and sliding wins by the
    * samples-per-bucket factor. Estimated from the memoized table
    * stats under a uniform-cadence assumption, with 1.5× hysteresis
    * toward the explode route (the single-stage plan). The query span
    * is the grid's (steps and step only, never the window's position
    * or an off-grid end), so the choice is one per plan template. */
  private def slidingWins(w: Long, tr: EvalRange): Boolean =
    tableStats.exists { case (t0, t1, rows, series) =>
      val span = math.max(1L, t1 - t0)
      val qspan = math.min(span, (tr.numSteps - 1) * tr.stepMs + w)
      val m = (w / tr.stepMs).toDouble
      val perSeries = rows.toDouble / math.max(1L, series) * qspan / span
      val partials = math.min(perSeries, qspan.toDouble / tr.stepMs)
      partials * m > 3.0 * (tr.numSteps + m)
    }

  /** Cost gate on the fold-rung route: pays at m = range/step ≥ 2
    * unconditionally, for TUMBLING windows (m = 1) only when the rung
    * compresses. At m ≥ 2 a rung substitutes the query-time bucketing
    * stage one-for-one (same downstream fan-out/merge), so routing
    * never costs more than it saves; at m = 1 the raw path is a
    * SINGLE-stage fold over narrow sample rows, and reading the
    * rung's ~dozen partial columns back from parquet plus re-merging
    * them only pays when buckets actually compress — on a sparse
    * table (≲1 sample per bucket) the rung has as many rows as the
    * raw scan and the route is a measured ~2× loss (SCALE.md §6,
    * a1/p3 at ×100). Estimated samples per (series, bucket) from the
    * memoized [[tableStats]] under the same uniform-cadence
    * assumption as [[slidingWins]]; the 3× threshold is hysteresis
    * toward raw, the simpler single-stage plan — both routes are
    * exact, so this gate is pure cost, never correctness. Declines
    * are counted (`fold_partials_declined:<bucketMs>`) so an operator
    * can see the router refusing a bound rung — the flip side of
    * `fold_partials:<bucketMs>`. */
  private def foldRungPays(m: Long, bucketMs: Long): Boolean =
    m >= 2 || {
      val dense = tableStats.exists { case (t0, t1, rows, series) =>
        val span = math.max(1L, t1 - t0)
        rows.toDouble * bucketMs / (math.max(1L, series) * span) >=
          PromQLEngine.foldRungMinSamplesPerBucket
      }
      if (!dense) countRoute("fold_partials_declined", bucketMs)
      dense
    }

  /** Drop this engine's cached series dimension (entry + Spark cache).
    * For serving deployments that rebuild the engine when the
    * underlying table grows ([[graft.api.HttpApi.forTable]]): each
    * table state canonicalizes to a distinct plan key, so without an
    * explicit release a long-running writer would accumulate one
    * cached dimension per write. Safe while queries are in flight —
    * an unpersisted frame recomputes on demand. */
  def releaseSeriesDim(): Unit = {
    val key = samples.queryExecution.analyzed.canonicalized
    Option(seriesDimCache.remove(key)).foreach(_.unpersist(false))
    tableStatsCache.remove(key) // tiny, but same lifecycle
    seriesIndex.foreach { idx =>
      val k = idx.queryExecution.analyzed.canonicalized
      Option(seriesIndexCache.remove(k)).foreach(_.unpersist(false))
    }
    // plans still running hold their own reference to the catalog
    // broadcast; ContextCleaner reclaims it once none does
    catalogV = null
  }

  /** groupBy that carries a labels map as part of the GROUPING KEY
    * (sorted entries array) instead of a `first(map)` aggregate — for
    * aggregations over ALREADY-REDUCED frames (≤ series×steps rows)
    * whose labels may have been transformed, where [[seriesDim]] no
    * longer applies. A map-typed aggregation buffer disqualifies both
    * hash-aggregation strategies; array keys hash fine, and on small
    * inputs the per-row entries cost is noise. The map is rebuilt on
    * the aggregated output. */
  private def groupByWithLabels(df: DataFrame, labelsCol: Column,
      keys: Seq[Column])(aggs: Column*): DataFrame =
    df.groupBy(keys :+ array_sort(map_entries(labelsCol)).as("_ents"): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(L, map_from_entries(col("_ents")))
      .drop("_ents")

  /** Memoized evaluation: identical subtrees over the same range reuse
    * ONE DataFrame object, so Catalyst sees structurally equal subplans
    * and physical planning dedups their exchanges (ReuseExchange). This
    * is the common-subexpression reuse the tree-walking reference gets
    * for free from its per-node iterators — e.g.
    * `max by(x)(m) - min by(x)(m)` scans/windows `m` once, not twice.
    *
    * The memo is per-thread and cleared at each public entry point:
    * reuse only matters WITHIN one query plan, the API server evaluates
    * concurrent queries on a shared engine (a shared map would race),
    * and an unbounded cross-query cache would leak in a long-running
    * server. */
  private val memo = ThreadLocal.withInitial(() =>
    scala.collection.mutable.HashMap.empty[(Expr, EvalRange), Value])

  /** Per-query record of `by`-form decomposable aggregations, keyed by
    * (child subtree, range, op): lets a coarser aggregation of the same
    * child re-aggregate the finer result instead of the raw sample
    * volume (see [[evalAggregate]]). */
  private val aggMemo = ThreadLocal.withInitial(() =>
    scala.collection.mutable.HashMap.empty[(Expr, EvalRange, String),
      List[(Seq[String], DataFrame)]])

  /** Test hook: how many aggregations were served by re-aggregating a
    * finer partial result instead of re-reducing the sample volume. */
  private[graft] val reaggHits = new java.util.concurrent.atomic.AtomicLong

  /** Route observability: how many range-function evaluations each
    * acceleration tier served (`fold_partials:<bucketMs>`,
    * `rate_partials:<bucketMs>`, `instant_partials:<bucketMs>`,
    * `select_partials:<bucketMs>`, `sliding_fold`, `bucketed_query_time`,
    * `raw_general`) — surfaced as
    * `graft_engine_route_total` on `/metrics` so an operator can SEE
    * whether production dashboards actually hit the materialized
    * tiers (the routing is silent by design: results are
    * bit-identical either way, so only a counter can tell). The rung
    * is chosen once per selector, in [[vectorSelect]] (instant
    * selectors) and [[evalRangeFunc]] (range functions, with the
    * `fold_partials_declined:<bucketMs>` density gate); the bucketed
    * evaluators count the route they were handed. Like [[reaggHits]],
    * scoped to this engine instance. */
  private[graft] val routeHits = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicLong]()
  private def countRoute(route: String, bucketMs: Long = -1L): Unit = {
    val key = if (bucketMs > 0) s"$route:$bucketMs" else route
    tally(() => routeHits.computeIfAbsent(key,
      _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet())
  }

  /** The counter bumps of the template build running on this thread
    * (see [[planTemplates]]), or null outside one. */
  private val buildLog =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[() => Unit]]

  /** Apply one counter bump now and log it for the template build in
    * progress, whose re-bound plans replay it. */
  private def tally(bump: () => Unit): Unit = {
    bump()
    val log = buildLog.get
    if (log != null) log += bump
  }

  /** Queries planned on the one-task plan (see [[singleTask]]),
    * exported beside the route counters as
    * `graft_engine_route_total{route="single_task"}`. Kept apart from
    * [[routeHits]], whose entries are each one range-function or
    * selector route, so route shares stay shares of routed work. */
  private[graft] val singleTaskQueries = new java.util.concurrent.atomic.AtomicLong

  private def evalRoot(e: Expr, tr: EvalRange): Value = {
    memo.get().clear()
    aggMemo.get().clear()
    if (singleTask) tally(() => singleTaskQueries.incrementAndGet())
    eval(e, tr)
  }

  def eval(e: Expr, tr: EvalRange): Value =
    memo.get().getOrElseUpdate((e, tr), evalImpl(e, tr))

  private def evalImpl(e: Expr, tr: EvalRange): Value = e match {
    case NumberLiteral(v) =>
      ScalV(tr.stepsDF.withColumn(V, lit(v)), Some(v))
    case StringLiteral(s) => StrV(s)
    case ParenExpr(inner) => eval(inner, tr)
    case vs: VectorSelector => VecV(vectorSelect(vs, tr))
    // legal only at the top level of an instant query (the parser's
    // typecheck rejects nested uses; rangeQuery rejects the type)
    case m: MatrixSelector =>
      MatV(windowed(m.selector, m.rangeMs, tr)
        .select(col(SIG), col(L), col(T), col(ST), col(V)))
    case UnaryExpr(op, inner) => evalUnary(op, inner, tr)
    case agg: AggregateExpr => VecV(evalAggregate(agg, tr))
    case be: BinaryExpr => evalBinary(be, tr)
    case call: Call => evalCall(call, tr)
  }

  private def evalUnary(op: String, inner: Expr, tr: EvalRange): Value =
    eval(inner, tr) match {
      case ScalV(df, c) if op == "-" =>
        ScalV(df.withColumn(V, -col(V)), c.map(x => -x))
      case s: ScalV => s
      // engine.go:745-757: unary minus only negates values — the
      // metric name is KEPT in this vintage
      case VecV(df) if op == "-" =>
        VecV(df.withColumn(V, -col(V)))
      case v: VecV => v
      case _ => throw new IllegalArgumentException(
        "unary expression only allowed on expressions of type scalar or instant vector")
    }

  // ---------- aggregations (engine.go:1254-1448) ----------

  /** Aggregations whose group results merge under the same (or a sum)
    * operator, so a coarser grouping can re-aggregate a finer one:
    * sum/count partials re-SUM; min/max partials re-min/max (the
    * NaN-loses guard composes — a partial is NaN only when its whole
    * subgroup was NaN). avg/stddev/quantile/topk do not decompose. */
  private val decomposableAggs = Set("sum", "count", "min", "max")

  private def evalAggregate(agg: AggregateExpr, tr: EvalRange): DataFrame = {
    // Partial re-aggregation: `sum by (a,b) (x)` followed by
    // `sum by (a) (x)` (or a global `sum(x)`) in the SAME query —
    // the share-of-total shape `sum by (k) (x) / on() group_left
    // sum(x)` is the canonical case — re-aggregates the finer result
    // (groups × steps rows) instead of re-reducing the raw sample
    // volume (series × steps, 100-1000× more at monitoring scale).
    // Same in the opposite set direction for without forms:
    // `without (a, b)` is COARSER than `without (a)` (drops more), so
    // it folds the without-(a) partials. by↔without never mix: whether
    // a by-grouping survives a without-projection depends on the
    // data's label sets, not the AST. The reference's tree walker
    // re-reduces from scratch every time.
    if (!decomposableAggs(agg.op))
      return evalAggregateImpl(agg, tr)
    val key = (agg.expr, tr, agg.op + (if (agg.without) "!w" else ""))
    val finer = aggMemo.get().getOrElse(key, Nil).find { case (g, _) =>
      if (agg.without) g.toSet.subsetOf(agg.grouping.toSet)
      else agg.grouping.toSet.subsetOf(g.toSet)
    }
    val result = finer match {
      case Some((_, df)) =>
        tally(() => reaggHits.incrementAndGet()); reAggregate(df, agg)
      case None => evalAggregateImpl(agg, tr)
    }
    aggMemo.get().updateWith(key)(prev =>
      Some((agg.grouping, result) :: prev.getOrElse(Nil)))
    result
  }

  /** Re-aggregate a finer aggregation's output under a coarser
    * grouping (callers guarantee the coarser/finer set relation and a
    * decomposable op). count partials merge with SUM. The finer
    * result's labels ARE its grouping labels, so the coarser
    * projection applies to them directly — including the without
    * form, whose dropped labels simply vanish again. */
  private def reAggregate(df: DataFrame, agg: AggregateExpr): DataFrame = {
    val glabels =
      if (agg.without) Samples.labelsWithout(col(L), agg.grouping)
      else Samples.labelsOn(col(L), agg.grouping)
    val withGl = df
      .withColumn("_gl", glabels)
      .withColumn("_gs", Samples.sigExpr(col("_gl")))
    val aggCol = agg.op match {
      case "sum" | "count" => sum(col(V))
      case "min" =>
        coalesce(min(when(!isnan(col(V)), col(V))), lit(Double.NaN))
      case "max" =>
        coalesce(max(when(!isnan(col(V)), col(V))), lit(Double.NaN))
      case other => throw new IllegalStateException(
        s"'$other' is not decomposable")
    }
    groupByWithLabels(withGl, col("_gl"), Seq(col("_gs"), col(T)))(
      aggCol.as(V))
      .select(col("_gs").as(SIG), col(L), col(T), col(T).as(ST), col(V))
  }

  private def evalAggregateImpl(agg: AggregateExpr, tr: EvalRange): DataFrame = {
    val VecV(in) = (eval(agg.expr, tr): @unchecked)
    val glabels =
      if (agg.without) Samples.labelsWithout(col(L), agg.grouping)
      else Samples.labelsOn(col(L), agg.grouping)
    val withGl = in.withColumn("_gl", glabels)
    // the group signature is skipped for count_values, which groups on
    // the OUTPUT label set (_os) and never touches _gs
    lazy val prepared = withGl.withColumn("_gs", Samples.sigExpr(col("_gl")))

    def grouped(aggCol: Column): DataFrame =
      groupByWithLabels(prepared, col("_gl"), Seq(col("_gs"), col(T)))(
        aggCol.as(V))
        .select(col("_gs").as(SIG), col(L), col(T), col(T).as(ST), col(V))

    agg.op match {
      case "sum" => grouped(sum(col(V)))
      case "avg" => grouped(avg(col(V)))
      // min/max: NaN LOSES — a NaN accumulator is replaced by any real
      // value (engine.go:1346-1353); result is NaN only when the whole
      // group is NaN. (The opposite of *_over_time, which use Go
      // math.Min/Max and propagate NaN — functions.go:414-445.)
      case "min" =>
        grouped(coalesce(min(when(!isnan(col(V)), col(V))), lit(Double.NaN)))
      case "max" =>
        grouped(coalesce(max(when(!isnan(col(V)), col(V))), lit(Double.NaN)))
      case "count" => grouped(count(lit(1)).cast("double"))
      case "stddev" => grouped(stddev_pop(col(V)))
      case "stdvar" => grouped(var_pop(col(V)))
      case "quantile" =>
        // out-of-range φ yields ∓Inf (promql/quantile.go:161-170); a
        // NaN φ passes BOTH range checks there, floats a NaN rank into
        // values[int(NaN)] and PANICS — the evaluator's recover turns
        // that into the "unexpected error" response (engine.go:599-614,
        // quantile.go:171-183), so NaN φ is an ERROR, not a NaN result
        val q = constParam(agg.param, "quantile")
        if (q.isNaN) throw new IllegalArgumentException(
          "unexpected error (NaN quantile rank, quantile.go:176-182)")
        else if (q < 0) grouped(lit(Double.NegativeInfinity))
        else if (q > 1) grouped(lit(Double.PositiveInfinity))
        // NOT builtin percentile: its sort puts NaN last where the
        // vintage heap puts NaN FIRST (see PromQuantile)
        else grouped(PromQuantile.quantile(q)(col(V)))
      case "topk" | "bottomk" =>
        val kd = constParam(agg.param, agg.op)
        // evalInt (engine.go:637-643): NaN or beyond int64 is an error,
        // anything else truncates toward zero
        if (kd.isNaN || kd > Long.MaxValue.toDouble || kd < Long.MinValue.toDouble)
          throw new IllegalArgumentException(
            s"Scalar value $kd overflows int64")
        val k = math.min(kd.toLong, Int.MaxValue.toLong).toInt
        if (k < 1) // engine.go:1259-1262: non-positive k → empty vector
          return prepared.filter(lit(false))
            .select(col(SIG), col(L), col(T), col(ST), col(V))
        // bounded per-group heap like the reference (engine.go:1364-1384),
        // as a partial+merge Aggregator: O(k·groups) memory and shuffle,
        // never a single-partition window. NaN always loses; exact value
        // ties break on the canonical label string (deterministic).
        val sortKey =
          if (agg.op == "topk")
            when(isnan(col(V)), lit(Double.NegativeInfinity)).otherwise(col(V))
          else
            when(isnan(col(V)), lit(Double.PositiveInfinity)).otherwise(col(V))
        val winners = prepared
          .groupBy(col("_gs"), col(T))
          .agg(TopK.topk(k, desc = agg.op == "topk")(
            sortKey, Samples.sigStr(col(L)), col(ST), col(V)).as("_w"))
          .select(col(T), explode(col("_w")).as("_e"))
          .select(col(T), col("_e.tie").as("_tie"), col("_e.st").as(ST),
            col("_e.v").as(V))
        winners
          .withColumn(L, TopK.decodeLabelsUdf(col("_tie")))
          .select(Samples.sigExpr(col(L)).as(SIG), col(L), col(T), col(ST),
            col(V))
      case "count_values" =>
        val lbl = agg.param match {
          case Some(StringLiteral(s)) => s
          case _ => throw new IllegalArgumentException(
            "count_values requires a string literal label name")
        }
        val outLabels = map_concat(
          graft.functions.FilterLabels.drop(col("_gl"), Seq(lbl)),
          map(lit(lbl), graft.functions.GoFormatFloatExpr(col(V))))
        groupByWithLabels(
          withGl
            .withColumn("_ol", outLabels)
            .withColumn("_os", Samples.sigExpr(col("_ol"))),
          col("_ol"), Seq(col("_os"), col(T)))(
          count(lit(1)).cast("double").as(V))
          .select(col("_os").as(SIG), col(L), col(T), col(T).as(ST), col(V))
      case other => throw new IllegalArgumentException(
        s"unknown aggregation operator '$other'")
    }
  }

  private def constParam(p: Option[Expr], op: String): Double = p match {
    case Some(e) => constFold(e).getOrElse(throw new IllegalArgumentException(
      s"aggregation parameter of '$op' must be a constant scalar expression"))
    case None => throw new IllegalArgumentException(s"'$op' requires a parameter")
  }

  /** Driver-side constant folding for scalar literal subtrees. */
  private def constFold(e: Expr): Option[Double] = e match {
    case NumberLiteral(v) => Some(v)
    case ParenExpr(i) => constFold(i)
    case UnaryExpr("-", i) => constFold(i).map(x => -x)
    case UnaryExpr("+", i) => constFold(i)
    case BinaryExpr(op, l, r, _, _) =>
      for (a <- constFold(l); b <- constFold(r); c <- scalarBinop(op, a, b))
        yield c
    // scalar(vector(c)) round-trips a literal through the vector world
    // (the reference's evalInt evaluates ANY scalar expr; the
    // data-INDEPENDENT shapes fold here, data-dependent params like
    // scalar(metric) stay unsupported-by-design in the set-at-once plan)
    case Call(f, Seq(Call(g, Seq(i)))) if f.name == "scalar" && g.name == "vector" =>
      constFold(i)
    case _ => None
  }

  private def scalarBinop(op: String, a: Double, b: Double): Option[Double] =
    op match {
      case "+" => Some(a + b)
      case "-" => Some(a - b)
      case "*" => Some(a * b)
      case "/" => Some(a / b)
      case "%" => Some(a % b)
      // Go math.Pow, not Java Math.pow: Pow(1, y) = 1 for ANY y (incl.
      // NaN) and Pow(-1, ±Inf) = 1, where Java returns NaN for both
      case "^" => Some(
        if (a == 1.0) 1.0
        else if (a == -1.0 && b.isInfinite) 1.0
        else math.pow(a, b))
      case "==" => Some(if (a == b) 1 else 0)
      case "!=" => Some(if (a != b) 1 else 0)
      case ">" => Some(if (a > b) 1 else 0)
      case "<" => Some(if (a < b) 1 else 0)
      case ">=" => Some(if (a >= b) 1 else 0)
      case "<=" => Some(if (a <= b) 1 else 0)
      case _ => None
    }

  // ---------- binary operators ----------

  /** IEEE comparison columns — Spark treats NaN==NaN as true and NaN as
    * the largest double; PromQL follows Go/IEEE (engine.go:1199-1227). */
  private def cmpCond(op: String, l: Column, r: Column): Column = {
    val noNaN = !isnan(l) && !isnan(r)
    op match {
      case "==" => noNaN && (l === r)
      case "!=" => isnan(l) || isnan(r) || (l =!= r)
      case ">" => noNaN && (l > r)
      case "<" => noNaN && (l < r)
      case ">=" => noNaN && (l >= r)
      case "<=" => noNaN && (l <= r)
      case _ => throw new IllegalArgumentException(s"not a comparison: $op")
    }
  }

  private def arithCol(op: String, l: Column, r: Column): Column = op match {
    case "+" => l + r
    case "-" => l - r
    case "*" => l * r
    // Spark returns NULL for a zero divisor (non-ANSI); Go returns
    // ±Inf/NaN — fall back to the exact IEEE result on that branch.
    case "/" => when(r =!= 0.0, l / r).otherwise(PromUdfs.divUdf(l, r))
    case "%" => when(r =!= 0.0, l % r).otherwise(PromUdfs.modUdf(l, r))
    // Go Pow(1, y) = 1 for ANY y and Pow(-1, ±Inf) = 1; Java NaNs both
    case "^" => when(l === 1.0, lit(1.0))
      .when(l === -1.0 && abs(r) === Double.PositiveInfinity, lit(1.0))
      .otherwise(pow(l, r))
    case _ => throw new IllegalArgumentException(s"not arithmetic: $op")
  }

  private def evalBinary(be: BinaryExpr, tr: EvalRange): Value = {
    val lv = eval(be.lhs, tr)
    val rv = eval(be.rhs, tr)
    (lv, rv) match {
      case (ScalV(_, Some(a)), ScalV(_, Some(b))) =>
        val c = scalarBinop(be.op, a, b).get
        ScalV(tr.stepsDF.withColumn(V, lit(c)), Some(c))
      case (ScalV(ldf, _), ScalV(rdf, _)) =>
        val joined = ldf.withColumnRenamed(V, "_lv")
          .join(rdf.withColumnRenamed(V, "_rv"), Seq(T))
        val out =
          if (comparisonOps.contains(be.op))
            joined.withColumn(V,
              when(cmpCond(be.op, col("_lv"), col("_rv")), 1.0).otherwise(0.0))
          else joined.withColumn(V, arithCol(be.op, col("_lv"), col("_rv")))
        ScalV(out.select(col(T), col(V)), None)
      case (VecV(vdf), s: ScalV) => vectorScalar(be, vdf, s, vecOnLeft = true)
      case (s: ScalV, VecV(vdf)) => vectorScalar(be, vdf, s, vecOnLeft = false)
      case (VecV(ldf), VecV(rdf)) => VecV(vectorVector(be, ldf, rdf))
      case _ => throw new IllegalArgumentException(
        "binary expression must contain only scalar and instant vector types")
    }
  }

  /** vector ⊙ scalar (engine.go:1132-1161). */
  private def vectorScalar(be: BinaryExpr, vdf: DataFrame, s: ScalV,
      vecOnLeft: Boolean): Value = {
    val withS = s.const match {
      case Some(c) => vdf.withColumn("_sv", lit(c))
      case None => vdf.join(
        broadcast(s.df.withColumnRenamed(V, "_sv")), Seq(T))
    }
    val (l, r) =
      if (vecOnLeft) (col(V), col("_sv")) else (col("_sv"), col(V))
    val dropName = shouldDropMetricName(be.op)
    val out =
      if (comparisonOps.contains(be.op)) {
        if (be.returnBool)
          withS.withColumn(V, when(cmpCond(be.op, l, r), 1.0).otherwise(0.0))
        else withS.filter(cmpCond(be.op, l, r)) // keep the VECTOR value
      } else withS.withColumn(V, arithCol(be.op, l, r))
    val labeled =
      if (dropName) reSig(out.withColumn(L, Samples.dropMetricName(col(L))))
      else out
    VecV(labeled.select(col(SIG), col(L), col(T), col(ST), col(V)))
  }

  /** vector ⊙ vector — signature-keyed join (engine.go:894-1130). */
  private def vectorVector(be: BinaryExpr, ldf: DataFrame, rdf: DataFrame): DataFrame = {
    val m = be.matching.getOrElse(VectorMatching())
    def msig(c: Column): Column =
      if (m.on) Samples.sigOn(c, m.matchingLabels)
      else Samples.sigWithout(c, m.matchingLabels)
    val lhs = ldf.withColumn("_ms", msig(col(L)))
    val rhs = rdf.withColumn("_ms", msig(col(L)))

    if (setOps.contains(be.op)) {
      val rKeys = rhs.select(col("_ms"), col(T)).distinct()
      val lKeys = lhs.select(col("_ms"), col(T)).distinct()
      return (be.op match {
        case "and" => lhs.join(rKeys, Seq("_ms", T), "left_semi")
        case "unless" => lhs.join(rKeys, Seq("_ms", T), "left_anti")
        case "or" =>
          val missing = rhs.join(lKeys, Seq("_ms", T), "left_anti")
          lhs.unionByName(missing)
      }).select(col(SIG), col(L), col(T), col(ST), col(V))
    }

    val card = m.card
    // one-to-one requires BOTH sides unique per (sig, t); group_left
    // requires the rhs ("one" side) unique; group_right the lhs.
    val w = Window.partitionBy(col("_ms"), col(T))
    val lCnt = count(lit(1)).over(w)
    val lhs2 = lhs.withColumn("_lc",
      if (card == Cardinality.OneToMany) lCnt else
        (if (card == Cardinality.OneToOne) lCnt else lit(1L)))
      .select(col("_ms"), col(T), col(L).as("_ll"), col(ST).as("_lst"),
        col(V).as("_lv"), col("_lc"))
    val rhs2 = rhs.withColumn("_rc",
      if (card == Cardinality.ManyToOne) lCnt else
        (if (card == Cardinality.OneToOne) lCnt else lit(1L)))
      .select(col("_ms"), col(T), col(L).as("_rl"), col(V).as("_rv"), col("_rc"))
    val joined = lhs2.join(rhs2, Seq("_ms", T))

    val errMsg = card match {
      case Cardinality.OneToOne =>
        "multiple matches for labels: many-to-one matching must be explicit (group_left/group_right)"
      case _ =>
        "multiple matches for labels: grouping labels must ensure unique matches"
    }
    val dupErr = col("_lc") > 1 || col("_rc") > 1

    val dropName = shouldDropMetricName(be.op)
    // result metric (engine.go:1098-1130): start from the "many" side
    val manyLabels = if (card == Cardinality.OneToMany) col("_rl") else col("_ll")
    val oneLabels = if (card == Cardinality.OneToMany) col("_ll") else col("_rl")
    var outLabels = if (dropName) Samples.dropMetricName(manyLabels) else manyLabels
    outLabels = card match {
      case Cardinality.OneToOne =>
        if (m.on) Samples.labelsOn(outLabels, m.matchingLabels)
        else graft.functions.FilterLabels.drop(outLabels, m.matchingLabels)
      case _ =>
        if (m.include.isEmpty) outLabels
        else map_concat(
          graft.functions.FilterLabels.drop(outLabels, m.include),
          graft.functions.FilterLabels.keep(oneLabels, m.include))
    }

    def guarded(value: Column): Column =
      when(dupErr, raise_error(lit(errMsg)).cast("double")).otherwise(value)

    val lV = col("_lv"); val rV = col("_rv")
    val computed =
      if (comparisonOps.contains(be.op)) {
        if (be.returnBool)
          joined.withColumn(V,
            guarded(when(cmpCond(be.op, lV, rV), 1.0).otherwise(0.0)))
        else joined
          .withColumn(V, guarded(lV)) // keep lhs value
          .filter(cmpCond(be.op, lV, rV))
      } else joined.withColumn(V, guarded(arithCol(be.op, lV, rV)))

    val out = computed
      .withColumn(L, outLabels)
      .withColumn(SIG, Samples.sigExpr(col(L)))
      .select(col(SIG), col(L), col(T), col("_lst").as(ST), col(V))
    // duplicate OUTPUT series (same result labels at same t) are an error
    // in the reference. For many-to-one/one-to-many this is the
    // insertSig collision path — two "many"-side rows whose result
    // metrics coincide after label copying (engine.go:1023-1039,
    // errorf "grouping labels must ensure unique matches"); for
    // one-to-one it can only arise past the side-uniqueness guards and
    // surfaces as the generic duplicate-labelset error
    val dupOutMsg =
      if (card == Cardinality.OneToOne)
        "vector cannot contain metrics with the same labelset"
      else
        "multiple matches for labels: grouping labels must ensure unique matches"
    val ow = Window.partitionBy(col(SIG), col(T))
    out.withColumn("_oc", count(lit(1)).over(ow))
      .withColumn(V, when(col("_oc") > 1,
        raise_error(lit(dupOutMsg)).cast("double")).otherwise(col(V)))
      .drop("_oc")
  }

  // ---------- function calls ----------

  private def evalCall(call: Call, tr: EvalRange): Value = {
    val name = call.func.name
    name match {
      case "time" =>
        ScalV(tr.stepsDF.withColumn(V, col(T).cast("double") / 1000.0), None)
      case "vector" =>
        val ScalV(sdf, _) = (eval(call.args.head, tr): @unchecked)
        val emptyLabels = map().cast("map<string,string>")
        VecV(sdf.select(Samples.sigExpr(emptyLabels).as(SIG),
          emptyLabels.as(L), col(T), col(T).as(ST), col(V)))
      case "scalar" =>
        val VecV(vdf) = (eval(call.args.head, tr): @unchecked)
        val aggd = vdf.groupBy(col(T))
          .agg(count(lit(1)).as("_c"), first(col(V)).as("_fv"))
        val out = tr.stepsDF.join(aggd, Seq(T), "left")
          .withColumn(V,
            when(col("_c") === 1, col("_fv")).otherwise(lit(Double.NaN)))
          .select(col(T), col(V))
        ScalV(out, None)
      case "absent" => VecV(evalAbsent(call.args.head, tr))
      case "timestamp" =>
        val VecV(vdf) = (eval(call.args.head, tr): @unchecked)
        VecV(reSig(vdf
          .withColumn(V, col(ST).cast("double") / 1000.0)
          .withColumn(L, Samples.dropMetricName(col(L)))))
      case "sort" | "sort_desc" => // NaN last in BOTH directions (G9)
        val VecV(vdf) = (eval(call.args.head, tr): @unchecked)
        val key =
          if (name == "sort")
            when(isnan(col(V)), lit(Double.PositiveInfinity)).otherwise(col(V)).asc
          else
            when(isnan(col(V)), lit(Double.NegativeInfinity)).otherwise(col(V)).desc
        VecV(vdf.orderBy(key))
      case "label_replace" => VecV(evalLabelReplace(call, tr))
      case "label_join" => VecV(evalLabelJoin(call, tr))
      case "histogram_quantile" => VecV(evalHistogramQuantile(call, tr))
      case _ if rangeFuncs.contains(name) => VecV(evalRangeFunc(call, tr))
      case _ if instantMathFuncs.contains(name) =>
        val VecV(vdf) = (eval(call.args.head, tr): @unchecked)
        val extra = call.args.drop(1).map(a => constFold(a).getOrElse(
          throw new IllegalArgumentException(
            s"argument of $name must be a constant scalar")))
        VecV(reSig(vdf
          .withColumn(V, instantMathFuncs(name)(col(V), extra))
          .withColumn(L, Samples.dropMetricName(col(L)))))
      case _ if dateFuncs.contains(name) => VecV(evalDateFunc(call, tr))
      case other => throw new IllegalArgumentException(
        s"unknown function '$other'")
    }
  }

  private def evalAbsent(arg: Expr, tr: EvalRange): DataFrame = {
    val VecV(vdf) = (eval(arg, tr): @unchecked)
    // synthesized labels: the = matchers of a DIRECT selector argument,
    // excluding __name__ (functions.go:511-531). Vintage-exact corner:
    // the reference type-asserts `args[0].(*VectorSelector)`, so a
    // PARENTHESIZED selector — or any other wrapper — synthesizes no
    // labels at all (`absent((m{k="x"}))` answers `{}`), and regex /
    // negative matchers never contribute even when they pin a single
    // value (r16 golden group)
    val eqLabels: Seq[(String, String)] = arg match {
      case VectorSelector(_, matchers, _) =>
        matchers.collect {
          case LabelMatcher(MatchType.Eq, n, v)
            if n != Samples.MetricNameLabel => (n, v)
        }
      case _ => Nil
    }
    val lblCol =
      if (eqLabels.isEmpty) map().cast("map<string,string>")
      else map(eqLabels.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    tr.stepsDF
      .join(vdf.select(col(T)).distinct(), Seq(T), "left_anti")
      .withColumn(L, lblCol)
      .select(Samples.sigExpr(col(L)).as(SIG), col(L), col(T),
        col(T).as(ST), lit(1.0).as(V))
  }

  private def evalLabelReplace(call: Call, tr: EvalRange): DataFrame = {
    val Seq(vecArg, dstE, replE, srcE, regexE) = call.args
    val VecV(vdf) = (eval(vecArg, tr): @unchecked)
    val (dst, repl, src, regexStr) = (str(dstE), str(replE), str(srcE), str(regexE))
    // validation order matches functions.go:788-794; the RE2 facade
    // makes the reference's canonical (?P<name>…) group syntax work
    // and rejects what RE2 rejects
    val pattern =
      try graft.promql.Re2.compileAnchored(regexStr)
      catch {
        case _: java.util.regex.PatternSyntaxException |
            _: graft.promql.Re2.Re2SyntaxException =>
          throw new IllegalArgumentException(
            s"invalid regular expression in label_replace(): $regexStr")
      }
    if (!Samples.isValidLabelName(dst))
      throw new IllegalArgumentException(
        s"invalid destination label name in label_replace(): $dst")
    val replaceUdf = udf { labels: Map[String, String] =>
      val srcVal = labels.getOrElse(src, "")
      val m = pattern.matcher(srcVal)
      if (!m.matches()) labels
      else {
        // Go regex.ExpandString, NOT Java replaceFirst: an
        // out-of-range `$5` or absent named group expands to empty
        // (functions.go:806) where Java throws; `$$` is a literal `$`
        val out = PromUdfs.goExpand(repl, name => {
          // Go's extract: an all-ASCII-digits name without a leading
          // zero (and below its 1e8 overflow guard) is a group INDEX;
          // anything else is a named-group lookup
          val isIndex = name.nonEmpty && name.forall(c => c >= '0' && c <= '9') &&
            name.length <= 8 && !(name.charAt(0) == '0' && name.length > 1)
          if (isIndex) {
            val idx = name.toInt
            if (idx <= m.groupCount) Option(m.group(idx)) else None
          } else
            try Option(m.group(name))
            catch { case _: IllegalArgumentException => None }
        })
        if (out.isEmpty) labels - dst else labels + (dst -> out)
      }
    }
    // DELIBERATE strictness deviation: the vintage outSet
    // (functions.go:796-820) tracks only MATCHED elements, so a
    // matched element colliding with an UNMATCHED one silently emits
    // DUPLICATE label sets (e.g. label_replace(v,"s","r","s","q") when
    // both {s="q"} and {s="r"} exist) — duplicate vectors then break
    // every downstream assumption. We reject ALL output collisions;
    // matched-vs-matched collisions error in both engines.
    assertUniqueOut(reSig(vdf.withColumn(L, replaceUdf(col(L)))),
      "label_replace")
  }

  private def evalLabelJoin(call: Call, tr: EvalRange): DataFrame = {
    val VecV(vdf) = (eval(call.args.head, tr): @unchecked)
    val dst = str(call.args(1)); val sep = str(call.args(2))
    val srcs = call.args.drop(3).map(str)
    // functions.go:843-853
    srcs.find(!Samples.isValidLabelName(_)).foreach(s =>
      throw new IllegalArgumentException(
        s"invalid source label name in label_join(): $s"))
    if (!Samples.isValidLabelName(dst))
      throw new IllegalArgumentException(
        s"invalid destination label name in label_join(): $dst")
    val joinUdf = udf { labels: Map[String, String] =>
      val joined = srcs.map(s => labels.getOrElse(s, "")).mkString(sep)
      if (joined.isEmpty) labels - dst else labels + (dst -> joined)
    }
    assertUniqueOut(reSig(vdf.withColumn(L, joinUdf(col(L)))),
      "label_join")
  }

  private def evalHistogramQuantile(call: Call, tr: EvalRange): DataFrame = {
    val q = constFold(call.args.head).getOrElse(throw new IllegalArgumentException(
      "histogram_quantile quantile must be a constant scalar"))
    val VecV(vdf) = (eval(call.args(1), tr): @unchecked)
    // group by labels minus le and __name__; parse le as double
    val gl = Samples.labelsWithout(col(L), Seq("le"))
    groupByWithLabels(
      vdf
        .withColumn("_le", goParseFloat(col(L).getItem("le")))
        .filter(col("_le").isNotNull) // buckets without le are skipped
        .withColumn("_gl", gl)
        .withColumn("_gs", Samples.sigExpr(col("_gl"))),
      col("_gl"), Seq(col("_gs"), col(T)))(
      collect_list(struct(col("_le"), col(V))).as("_buckets"))
      .withColumn(V, PromUdfs.bucketQuantileUdf(lit(q), col("_buckets")))
      .select(col("_gs").as(SIG), col(L), col(T), col(T).as(ST), col(V))
  }

  /** Fold-style functions eligible for the bucketed fast path.
    * stddev/stdvar are deliberately EXCLUDED: the partial-mergeable
    * sumsq/n − mean² form cancels catastrophically when variance ≪
    * mean² (observed: 5e-8 relative error at sf0.1, above float32
    * resolution), while the general path uses Spark's Welford-stable
    * var_pop. A Chan-style centered-partial merge could restore them
    * if the fan-out ever matters for variance queries. */
  private val bucketFoldFuncs = Set("sum_over_time", "avg_over_time",
    "count_over_time", "min_over_time", "max_over_time")

  /** Shared base for the query-time bucketed paths: matched,
    * time-bounded samples with their [[gridCols]] (anchor = first
    * shifted eval time) and stale flag `_st0`. Staleness markers are
    * dropped unless `keepStale`: instant selection keeps them, so a
    * marker as the newest point hides the series. */
  private def bucketedBase(selector: VectorSelector, w: Long,
      tr: EvalRange, keepStale: Boolean = false): DataFrame = {
    val o = selector.offsetMs
    val hasStale = scanSamples.columns.contains("stale")
    val src = scanSource
    val unstale = if (hasStale && !keepStale) src.filter(!col("stale")) else src
    unstale.filter(selectorCond(selector))
      .filter(col(T) >= tr.atStart(-o - w) && col(T) <= tr.atEnd(-o))
      .select(Seq(sigCol.as(SIG), col(L), col(V),
        (if (hasStale) col("stale") else lit(false)).as("_st0")) ++
        gridCols(col(T), tr.atStart(-o), tr.stepMs): _*)
  }

  /** Grid coordinates of time column `t` on a step grid anchored at
    * `anchor`: `_rel = t − anchor`, the step-bucket index `_b` (exact
    * integer floor: the nonnegative remainder is subtracted first so
    * the division is of an exact multiple) and `_s0` (t sits ON a
    * step boundary). */
  private def gridCols(t: Column, anchor: Column, step: Long): Seq[Column] = {
    val rel = t - anchor
    val rem = pmod(rel, lit(step))
    Seq(rel.as("_rel"), ((rel - rem) / lit(step.toDouble)).cast("long").as("_b"),
      (rem === 0).as("_s0"))
  }

  /** Range functions with SUBTRACTABLE folds, which slidingFold can
    * serve with amplification ~2 instead of m = range/step.
    * stddev/stdvar are EXCLUDED for the same measured reason they are
    * excluded from [[bucketFoldFuncs]]: the subtractable sumsq/n −
    * mean² form cancels catastrophically when variance ≪ mean², and a
    * whole-span prefix of squares makes that strictly worse than the
    * per-bucket form that was already rejected. */
  private val slidableFoldFuncs = Set("count_over_time", "sum_over_time",
    "avg_over_time")

  /** Sliding-window fold via per-series prefix sums: the bucketed path
    * still fans every (series, bucket) partial out to the m = w/step
    * steps it covers — 72× at `[6h]` @ 5 m, 288× at `[1d]` @ 5 m, THE
    * term that scales a fine-grid range query superlinearly in window
    * width. For subtractable folds the fan-out is unnecessary:
    * window(s) = P[s−1] − P[s−m−1] + at-start(s), where P is the
    * running prefix of per-bucket partials in bucket order. Each
    * partial row then serves each step with at most TWO lookups (its
    * prefix as the newest at-or-below s−1, and as the newest
    * at-or-below s−m−1), so total row volume is ~2×steps per series
    * regardless of m.
    *
    * Exactness: count subtracts exactly (integers). Sums accumulate
    * FINITE values only, with NaN/±Inf tracked as subtractable COUNTS
    * and the IEEE outcome reconstructed per window exactly as the
    * reference's sequential loop produces it (`functions.go:436-497`:
    * any NaN → NaN; +Inf and −Inf both present → NaN; one Inf sign →
    * ±Inf for sum/avg). Two caveats shared by every O(1)
    * sliding-sum scheme: (a) a FINITE prefix overflowing to ±Inf
    * (values summing past ~1.8e308) degrades later windows to NaN;
    * (b) a series mixing magnitudes across MANY orders (one 1e15
    * spike among 1e-3 values) loses the bits of later small windows
    * below ulp(prefix) — for same-magnitude series the error is
    * ~(span/window)·ε, negligible. The explode path, which sums only
    * in-window values, serves such pathological series; this route
    * targets the scrape-density monitoring shape. Floating-point
    * subtraction reorders the summation, as the bucketed path's
    * partial merge already does. */
  private def slidingFold(selector: VectorSelector, w: Long, tr: EvalRange,
      name: String): DataFrame = {
    countRoute("sliding_fold")
    val step = tr.stepMs
    val m = (w / step).toInt
    val n = tr.numSteps
    val finite = !isnan(col(V)) && col(V) =!= Double.PositiveInfinity &&
      col(V) =!= Double.NegativeInfinity

    val parts = bucketedBase(selector, w, tr)
      .groupBy(col(SIG), col("_b"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(when(finite, col(V)).otherwise(0.0)).as("fsum"),
        sum(when(isnan(col(V)), 1L).otherwise(0L)).as("nanc"),
        sum(when(col(V) === Double.PositiveInfinity, 1L).otherwise(0L))
          .as("pinf"),
        sum(when(col(V) === Double.NegativeInfinity, 1L).otherwise(0L))
          .as("ninf"),
        sum(when(col("_s0"), 1L).otherwise(0L)).as("cnt0"),
        sum(when(col("_s0") && finite, col(V)).otherwise(0.0)).as("fsum0"),
        sum(when(col("_s0") && isnan(col(V)), 1L).otherwise(0L)).as("nan0c"),
        sum(when(col("_s0") && col(V) === Double.PositiveInfinity, 1L)
          .otherwise(0L)).as("pinf0"),
        sum(when(col("_s0") && col(V) === Double.NegativeInfinity, 1L)
          .otherwise(0L)).as("ninf0"))

    // running prefix over EXISTING buckets (sparse series stay sparse:
    // a bucket's prefix serves every step until the next bucket)
    val cumW = Window.partitionBy(col(SIG)).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seqW = Window.partitionBy(col(SIG)).orderBy(col("_b"))
    val cum = parts.select(col(SIG), col("_b"),
      sum(col("cnt")).over(cumW).as("ccnt"),
      sum(col("fsum")).over(cumW).as("cfsum"),
      sum(col("nanc")).over(cumW).as("cnanc"),
      sum(col("pinf")).over(cumW).as("cpinf"),
      sum(col("ninf")).over(cumW).as("cninf"),
      lead(col("_b"), 1).over(seqW).as("_nb"),
      col("cnt0"), col("fsum0"),
      col("nan0c"), col("pinf0"), col("ninf0"))

    val contribType = "array<struct<k:bigint,cnt:bigint,fsum:double," +
      "nanc:bigint,pinf:bigint,ninf:bigint>>"
    def span(lo: Column, hi: Column): Column =
      when(lo <= hi, sequence(lo, hi, lit(1L)))
        .otherwise(array().cast("array<bigint>"))
    val far = lit(Long.MaxValue / 4)
    val nbc = coalesce(col("_nb"), far)
    def cumStruct(k: Column, sign: Int): Column = struct(
      k.as("k"), (col("ccnt") * sign).as("cnt"),
      (col("cfsum") * sign).as("fsum"),
      (col("cnanc") * sign).as("nanc"), (col("cpinf") * sign).as("pinf"),
      (col("cninf") * sign).as("ninf"))
    // +P as the newest prefix at-or-below s−1: s ∈ [_b+1, nb] ∩ [0, n)
    val plusP = transform(
      span(greatest(col("_b") + 1, lit(0L)), least(nbc, lit(n - 1L))),
      k => cumStruct(k, 1))
    // −P as the newest prefix at-or-below s−m−1: s ∈ [_b+m+1, nb+m] ∩ [0, n)
    val minusP = transform(
      span(greatest(col("_b") + m + 1, lit(0L)),
        least(nbc + m, lit(n - 1L))),
      k => cumStruct(k, -1))
    // the closed window's own at-start point: k = _b (as in fanOut)
    val start0 = when(col("_b").between(0, n - 1) && col("cnt0") > 0,
      array(struct(col("_b").as("k"), col("cnt0").as("cnt"),
        col("fsum0").as("fsum"),
        col("nan0c").as("nanc"), col("pinf0").as("pinf"),
        col("ninf0").as("ninf"))))
      .otherwise(array().cast(contribType))

    val windows = cum
      .select(col(SIG), explode(concat(plusP.cast(contribType),
        minusP.cast(contribType), start0)).as("_c"))
      .groupBy(col(SIG), col("_c.k").as("_k"))
      .agg(
        sum(col("_c.cnt")).as("cnt"), sum(col("_c.fsum")).as("fsum"),
        sum(col("_c.nanc")).as("nanc"),
        sum(col("_c.pinf")).as("pinf"), sum(col("_c.ninf")).as("ninf"))
      .filter(col("cnt") > 0)

    val cntD = col("cnt").cast("double")
    val anyNaN = col("nanc") > 0 || (col("pinf") > 0 && col("ninf") > 0)
    val sumV = when(anyNaN, Double.NaN)
      .when(col("pinf") > 0, Double.PositiveInfinity)
      .when(col("ninf") > 0, Double.NegativeInfinity)
      .otherwise(col("fsum"))
    val value = name match {
      case "count_over_time" => cntD
      case "sum_over_time" => sumV
      case "avg_over_time" => sumV / cntD
    }
    joinLabels(windows)
      .withColumn(T, tr.stepAt(col("_k")))
      .withColumn(V, value)
      .select(col(SIG), Samples.dropMetricName(col(L)).as(L), col(T),
        col(T).as(ST), col(V))
      .transform(reSig)
  }

  /** Step-aligned bucketed evaluation of the fold-style `*_over_time`
    * functions. The general `windowed()` path explodes every sample
    * onto every covering grid step — row amplification = range/step
    * (≈60× for `[1h]` @ 1m, 288× for `[1d]` @ 5m), the dominant scale
    * cost of range queries. Here samples are first REDUCED to one
    * partial row per (series, step-bucket) carrying associative
    * aggregates (count/sum/sum²/min/max + NaN flag, and the same over
    * the bucket's at-start samples), and only those partials fan out
    * ([[fanOut]]) — amplification applies to rows already shrunk by
    * the samples-per-bucket factor (e.g. 4 samples per 1m bucket at
    * 15s scrape ⇒ 4× less shuffle). With a `rung`, its buckets merge
    * into the step buckets instead of raw samples. */
  private def bucketedFold(selector: VectorSelector, w: Long, tr: EvalRange,
      name: String, rung: Option[(DataFrame, Long)]): DataFrame = {
    val step = tr.stepMs
    val m = (w / step).toInt
    val partials = rung match {
      case Some(r) =>
        countRoute("fold_partials", r._2)
        rungRows(r, selector, w, tr, live = true)(
          Partials.Fold.merge(col("_s0")))
      case None =>
        countRoute("bucketed_query_time")
        Partials.agg(bucketedBase(selector, w, tr).groupBy(col(SIG), col("_b")),
          Partials.Fold.fromSamples(col(V), col("_s0")))
    }
    val fields = Partials.Fold.fields
    val merged = joinLabels(Partials.agg(
      fanOut(partials, m, tr,
        "struct<cnt:bigint,sum:double,sumsq:double,mn:double,mx:double,nan:int>",
        full = struct(fields.map(col): _*),
        hasStart = col("cnt0") > 0,
        start = struct(fields.map(f => col(f + "0").as(f)): _*))
        .groupBy(col(SIG), col("_c.k").as("_k")),
      Partials.Fold.mergeFull(f => col(s"_c.p.$f"))))

    val cntD = col("cnt").cast("double")
    val value = name match {
      case "count_over_time" => cntD
      case "sum_over_time" => col("sum")
      case "avg_over_time" => col("sum") / cntD
      // Go math.Min/Max propagate NaN in *_over_time (functions.go:414-445)
      case "min_over_time" =>
        when(col("nan") === 1, lit(Double.NaN)).otherwise(col("mn"))
      case "max_over_time" =>
        when(col("nan") === 1, lit(Double.NaN)).otherwise(col("mx"))
      // sum/sum² formulation mirrors functions.go:471-497
      case "stdvar_over_time" =>
        col("sumsq") / cntD - (col("sum") / cntD) * (col("sum") / cntD)
      case "stddev_over_time" =>
        sqrt(col("sumsq") / cntD - (col("sum") / cntD) * (col("sum") / cntD))
    }
    merged
      .withColumn(T, tr.stepAt(col("_k")))
      .withColumn(V, value)
      .select(col(SIG), Samples.dropMetricName(col(L)).as(L), col(T),
        col(T).as(ST), col(V))
      .transform(reSig)
  }

  /** Bucketed `rate`/`increase`/`delta`: per-bucket partials
    * (first/last point, in-bucket counter-correction via a lag window,
    * count) fan out to covering steps and merge IN BUCKET ORDER with
    * the boundary-reset correction — associative, so amplification
    * applies to one partial row per (series, bucket) instead of every
    * sample. A `rung` serves steps that are a MULTIPLE of its bucket;
    * in-bucket reset corrections are prepaid at ingest. */
  private def bucketedRate(selector: VectorSelector, w: Long, tr: EvalRange,
      isCounter: Boolean, isRate: Boolean,
      rung: Option[(DataFrame, Long)]): DataFrame = {
    val step = tr.stepMs
    val m = (w / step).toInt
    val partials = rung match {
      case Some(r) =>
        countRoute("rate_partials", r._2)
        rungRows(r, selector, w, tr, live = true)(
          Partials.Rate.merge(col("_s0")))
      case None =>
        countRoute("bucketed_query_time")
        Partials.agg(bucketedBase(selector, w, tr)
            .transform(Partials.Rate.withCorrection(Seq(col(SIG), col("_b")),
              col("_rel"), col(V)))
            .groupBy(col(SIG), col("_b")),
          Partials.Rate.fromSamples(col("_rel"), col(V), col("_s0")))
    }

    // partial field `b` = the step-bucket index, the merge sort key. A
    // sample at exactly the step time belongs to the window ending
    // there: bucket k's at-start point is the FINAL partial of window k
    // (b = k, after every full partial of that window, b < k)
    val startRel = col("_b") * step
    joinLabels(
      fanOut(partials, m, tr,
        "struct<b:bigint,ft:bigint,fv:double,lt:bigint,lv:double," +
          "corr:double,cnt:bigint>",
        full = Partials.Rate.part(col("_b")),
        hasStart = col("has0") === 1,
        start = Partials.Rate.startPart(col("_b"), startRel))
        .groupBy(col(SIG), col("_c.k").as("_k"))
        .agg(Partials.Rate.collect(col("_c.p")).as("_ps")))
      .withColumn(V, Partials.Rate.finish(col("_ps"),
        (col("_k") - m) * step, col("_k") * step, w, isCounter, isRate))
      .filter(col(V).isNotNull)
      .withColumn(T, tr.stepAt(col("_k")))
      .select(col(SIG), Samples.dropMetricName(col(L)).as(L), col(T),
        col(T).as(ST), col(V))
      .transform(reSig)
  }

  /** Bucketed `irate`/`idelta`: only the two newest points of each
    * window matter, so each bucket keeps its two latest points and
    * steps pick the two globally latest among covering-bucket
    * candidates — ≤ 2(m+1) candidate points per step instead of every
    * sample. r17: the rank-2 window filter (sample-volume
    * Exchange+Sort+Window before any reduction) is replaced by the
    * commutative constant-buffer [[graft.functions.Top2ByRel]]
    * aggregate — top-2 merges exactly, so ONE hash aggregation with
    * map-side partials builds the bucket partials, and the same
    * aggregate merges a rung's sub-buckets and each step's candidates.
    * A `rung`'s (lt, lv, lt2, lv2) columns ARE each bucket's two
    * newest live points. */
  private def bucketedInstant(selector: VectorSelector, w: Long,
      tr: EvalRange, isRate: Boolean,
      rung: Option[(DataFrame, Long)]): DataFrame = {
    val step = tr.stepMs
    val m = (w / step).toInt
    val partials = rung match {
      case Some(r) =>
        countRoute("instant_partials", r._2)
        rungRows(r, selector, w, tr, live = true)(Partials.Top2.merge(),
          Partials.startPoint(col("v0"), col("has0"), col("_s0")))
      case None =>
        countRoute("bucketed_query_time")
        Partials.agg(bucketedBase(selector, w, tr).groupBy(col(SIG), col("_b")),
          Partials.Top2.fromSamples(col("_rel"), col(V)),
          Partials.startPoint(col(V), lit(1), col("_s0")))
    }
    val none = lit(null)
    joinLabels(Partials.agg(
      fanOut(partials, m, tr, "struct<lt:bigint,lv:double,lt2:bigint,lv2:double>",
        full = struct(col("lt"), col("lv"), col("lt2"), col("lv2")),
        hasStart = col("has0") === 1,
        start = struct((col("_b") * step).as("lt"), col("v0").as("lv"),
          none.cast("long").as("lt2"), none.cast("double").as("lv2")))
        .groupBy(col(SIG), col("_c.k").as("_k")),
      Partials.Top2.merge(f => col(s"_c.p.$f"))))
      .withColumn(V, Partials.Top2.finish(isRate))
      .filter(col(V).isNotNull)
      .withColumn(T, tr.stepAt(col("_k")))
      .select(col(SIG), Samples.dropMetricName(col(L)).as(L), col(T),
        col(T).as(ST), col(V))
      .transform(reSig)
  }

  /** Range-vector functions: window per (series, step) then aggregate. */
  private def evalRangeFunc(call: Call, tr: EvalRange): DataFrame = {
    val name = call.func.name
    val (msArg, scalarArgs) = name match {
      case "quantile_over_time" => (call.args(1), Seq(call.args.head))
      case _ => (call.args.head, call.args.drop(1))
    }
    val ms = msArg match {
      case m: MatrixSelector => m
      case ParenExpr(m: MatrixSelector) => m
      case _ => throw new IllegalArgumentException(
        s"expected range vector in call to '$name'")
    }
    // bucketed fast paths: fold-style and rate-family functions on
    // step-aligned windows of a real range query (see bucketedFold's
    // and bucketedRate's scale rationale). m = range/step must be ≥ 2:
    // at m = 1 there is no fan-out to save and the partial+merge pair
    // costs one extra shuffle over the single-stage general path.
    val aligned = ms.rangeMs % tr.stepMs == 0
    val m = ms.rangeMs / tr.stepMs
    val bucketable = aligned && m >= 2 && m <= 512 && tr.numSteps >= 8
    // the ONE rung decision for every route below. With a rung the
    // m ≥ 2 economics don't apply: even a tumbling window (m = 1)
    // reads series × buckets rows instead of raw samples, so a rung
    // routes whenever the grid aligns
    val rung =
      if (aligned && m <= 512)
        bestPartials(tr.stepMs, tr.startMs - ms.selector.offsetMs)
      else None
    // sliding prefix-sum route for subtractable folds: amplification
    // ~2 regardless of m, so unlike `bucketable` it carries NO m ≤ 512
    // cap — the wider the window, the bigger its win over the explode.
    // m ≥ 16 keeps small windows on the single-explode path (sliding
    // pays two extra window functions); with a rung bound, that route
    // wins on scan volume and keeps priority.
    val slidable = aligned && m >= PromQLEngine.slideMinM &&
      // no 512 cap, but bound m before .toInt: a sub-ms step against a
      // years-wide window must fall through (to the general path),
      // never wrap Int and mis-seed the lookup offsets
      m <= (1L << 20) && tr.numSteps >= 8 &&
      rung.isEmpty && slidableFoldFuncs.contains(name) &&
      slidingWins(ms.rangeMs, tr)
    if (slidable)
      return slidingFold(ms.selector, ms.rangeMs, tr, name)
    // fold family only: tumbling (m = 1) rung reads must clear the
    // density gate (see foldRungPays) — rate/irate stay ungated, their
    // raw path pays per-window pair analysis the rung avoids even on
    // sparse tables (c2 at ×100: 18.7 s raw vs 9.8 s tiered)
    if (bucketFoldFuncs.contains(name)) {
      val foldRung = rung.filter { case (_, bkt) => foldRungPays(m, bkt) }
      if (bucketable || foldRung.nonEmpty)
        return bucketedFold(ms.selector, ms.rangeMs, tr, name, foldRung)
    }
    // the rate and instant-value families route on the same alignment
    // geometry (coarser steps merge q = step/bucket sub-partials)
    if ((bucketable || rung.nonEmpty) &&
        (name == "rate" || name == "increase" || name == "delta"))
      return bucketedRate(ms.selector, ms.rangeMs, tr,
        isCounter = name != "delta", isRate = name == "rate", rung)
    if ((bucketable || rung.nonEmpty) &&
        (name == "irate" || name == "idelta"))
      return bucketedInstant(ms.selector, ms.rangeMs, tr,
        isRate = name == "irate", rung)
    // none of the accelerated routes fired: the general windowed path
    countRoute("raw_general")
    lazy val win = windowed(ms.selector, ms.rangeMs, tr)
    val consts = scalarArgs.map(a => constFold(a).getOrElse(
      throw new IllegalArgumentException(
        s"scalar argument of $name must be constant")))

    def aggSimple(c: Column, guardNaN: Boolean = false): DataFrame = {
      val anyNaN = max(when(isnan(col(V)), 1).otherwise(0)) === 1
      val vc = if (guardNaN) when(anyNaN, lit(Double.NaN)).otherwise(c) else c
      joinLabels(win.groupBy(col(SIG), col(T)).agg(vc.as(V)))
        .select(col(SIG),
          Samples.dropMetricName(col(L)).as(L), col(T), col(T).as(ST), col(V))
        .transform(reSig)
    }
    def aggPoints(f: Column => Column): DataFrame =
      joinLabels(win.groupBy(col(SIG), col(T)).agg(
        array_sort(collect_list(struct(col(ST).as("t"), col(V).as("v")))).as("_pts")))
        .withColumn(V, f(col("_pts")))
        .filter(col(V).isNotNull)
        .select(col(SIG),
          Samples.dropMetricName(col(L)).as(L), col(T), col(T).as(ST), col(V))
        .transform(reSig)

    val o = ms.selector.offsetMs; val r = ms.rangeMs
    name match {
      case "sum_over_time" => aggSimple(sum(col(V)))
      case "avg_over_time" => aggSimple(avg(col(V)))
      case "min_over_time" => aggSimple(min(col(V)), guardNaN = true)
      case "max_over_time" => aggSimple(max(col(V)), guardNaN = true)
      case "count_over_time" => aggSimple(count(lit(1)).cast("double"))
      case "stddev_over_time" => aggSimple(stddev_pop(col(V)))
      case "stdvar_over_time" => aggSimple(var_pop(col(V)))
      case "quantile_over_time" =>
        // NaN φ errors exactly like the vector quantile (same
        // quantile() helper panics on the NaN rank, engine recover)
        if (consts.head.isNaN) throw new IllegalArgumentException(
          "unexpected error (NaN quantile rank, quantile.go:176-182)")
        aggPoints(p => PromUdfs.quantileOverTimeUdf(lit(consts.head), p))
      case "rate" => aggPoints(p =>
        PromUdfs.rateUdf(p, col(T), lit(o), lit(r), lit(true), lit(true)))
      case "increase" => aggPoints(p =>
        PromUdfs.rateUdf(p, col(T), lit(o), lit(r), lit(true), lit(false)))
      case "delta" => aggPoints(p =>
        PromUdfs.rateUdf(p, col(T), lit(o), lit(r), lit(false), lit(false)))
      case "irate" => aggPoints(p => PromUdfs.instantValueUdf(p, lit(true)))
      case "idelta" => aggPoints(p => PromUdfs.instantValueUdf(p, lit(false)))
      // resets/changes as a lag window + conditional sum (keeps
      // whole-stage codegen; no per-group array materialization + UDF).
      // The window and the following groupBy share the (sig, t) hash
      // partitioning, so this costs ONE shuffle. Go comparisons with a
      // NaN operand are always false (functions.go:731-776), hence the
      // isnan guards: Spark orders NaN greatest instead.
      case "resets" | "changes" =>
        val w = Window.partitionBy(col(SIG), col(T)).orderBy(col(ST))
        val pv = lag(col(V), 1).over(w)
        val inc =
          if (name == "resets")
            when(pv.isNotNull && !isnan(col(V)) && !isnan(pv) &&
              col(V) < pv, 1).otherwise(0)
          else // NaN→NaN is not a change; Spark's =!= already treats
               // NaN===NaN as true, and NaN vs real compares unequal
            when(pv.isNotNull && col(V) =!= pv, 1).otherwise(0)
        joinLabels(win.withColumn("_inc", inc)
          .groupBy(col(SIG), col(T))
          .agg(sum(col("_inc")).cast("double").as(V)))
          .select(col(SIG),
            Samples.dropMetricName(col(L)).as(L), col(T), col(T).as(ST),
            col(V))
          .transform(reSig)
      case "deriv" => aggPoints(PromUdfs.derivUdf(_))
      case "predict_linear" => aggPoints(p => // anchored at the eval ts
        PromUdfs.predictLinearUdf(p, col(T), lit(consts.head)))
      case "holt_winters" =>
        // factor bounds error at PLAN time like the reference's
        // pre-loop evalFloat checks (functions.go:227-232) — the UDF's
        // own require never fires when the selector matches nothing,
        // but the vintage errors even on an empty matrix
        // message VERBATIM incl. the vintage's two quirks: the "goT"
        // typo and the trend error printing the SMOOTHING factor's
        // value (functions.go:227-232 formats sf in both branches)
        val (sf, tf) = (consts.head, consts(1))
        if (sf <= 0 || sf >= 1) throw new IllegalArgumentException(
          "invalid smoothing factor. Expected: 0 < sf < 1 goT: " +
            "%f".formatLocal(java.util.Locale.ROOT, sf))
        if (tf <= 0 || tf >= 1) throw new IllegalArgumentException(
          "invalid trend factor. Expected: 0 < tf < 1 goT: " +
            "%f".formatLocal(java.util.Locale.ROOT, sf))
        aggPoints(p =>
          PromUdfs.holtWintersUdf(p, lit(consts.head), lit(consts(1))))
      case other => throw new IllegalArgumentException(
        s"unhandled range function '$other'")
    }
  }

  private def evalDateFunc(call: Call, tr: EvalRange): DataFrame = {
    val name = call.func.name
    val VecV(vdf) =
      if (call.args.isEmpty) {
        // default argument: vector(time()) (functions.go:886-905)
        (evalCall(Call(functions("vector"),
          Seq(Call(functions("time"), Nil))), tr): @unchecked)
      } else (eval(call.args.head, tr): @unchecked)
    // value = epoch SECONDS (truncated), interpreted in UTC (G12)
    val ts = timestamp_seconds(col(V).cast("long"))
    val out = name match {
      case "minute" => minute(ts)
      case "hour" => hour(ts)
      case "day_of_week" => dayofweek(ts) - 1 // Go: Sunday=0; Spark: Sunday=1
      case "day_of_month" => dayofmonth(ts)
      case "days_in_month" => dayofmonth(last_day(ts))
      case "month" => month(ts)
      case "year" => year(ts)
    }
    reSig(vdf.withColumn(V, out.cast("double"))
      .withColumn(L, Samples.dropMetricName(col(L))))
  }

  private def str(e: Expr): String = e match {
    case StringLiteral(s) => s
    case _ => throw new IllegalArgumentException("expected string literal")
  }

  /** Recompute sig after a label transformation. */
  private def reSig(df: DataFrame): DataFrame =
    df.withColumn(SIG, Samples.sigExpr(col(L)))
      .select(col(SIG), col(L), col(T), col(ST), col(V))

  /** Duplicate-output assert for the label-rewriting functions: the
    * reference errors when two result series collapse to the same
    * label set at one timestamp (`functions.go:814-818` label_replace,
    * `:874-878` label_join). Same distributed shape as the binop
    * duplicate check: a count over the REWRITTEN (sig, step) window —
    * the one shuffle the semantics inherently require, since the
    * collision is only visible after re-keying. */
  private def assertUniqueOut(df: DataFrame, fn: String): DataFrame = {
    val ow = Window.partitionBy(col(SIG), col(T))
    df.withColumn("_oc", count(lit(1)).over(ow))
      .withColumn(V, when(col("_oc") > 1,
        raise_error(lit(s"duplicated label set in output of $fn()"))
          .cast("double")).otherwise(col(V)))
      .drop("_oc")
  }
}

object PromQLEngine {
  val DefaultLookbackMs: Long = 300000L // engine.go:1469-1471

  /** One cached (sig → labels) dimension per samples table, shared by
    * every engine over the same table — keyed by the CANONICALIZED
    * logical plan (Spark's sameResult identity), so engines built over
    * structurally identical frames (fresh adapter calls, re-created
    * synthetic tables) reuse one dimension instead of leaking a cached
    * copy per DataFrame object. */
  private val seriesDimCache = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame]()

  /** One materialized series index per index STATE (see `idxCached`). */
  private val seriesIndexCache = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame]()

  /** One (minT, maxT, rows) probe per table state (see `tableSpan`). */
  private val tableStatsCache = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
    Option[(Long, Long, Long)]]()

  private[exec] val SIG = "sig"
  private[exec] val L = "labels"
  private[exec] val T = "t"
  private[exec] val ST = "st"
  private[exec] val V = "v"

  import graft.promql.Ast
  private[exec] val comparisonOps = Ast.comparisonOps
  private[exec] val setOps = Ast.setOps
  private[exec] val functions = Ast.functions
  private[exec] def shouldDropMetricName(op: String): Boolean =
    Ast.shouldDropMetricName(op)

  /** The distinct offsets of an expression's selectors: the inputs of
    * each selector's rung pick (see `bestPartials`). */
  private def selectorOffsets(e: Expr): Set[Long] = e match {
    case VectorSelector(_, _, off) => Set(off)
    case MatrixSelector(sel, _) => Set(sel.offsetMs)
    case ParenExpr(i) => selectorOffsets(i)
    case UnaryExpr(_, i) => selectorOffsets(i)
    case BinaryExpr(_, a, b, _, _) => selectorOffsets(a) ++ selectorOffsets(b)
    case AggregateExpr(_, ex, p, _, _) =>
      selectorOffsets(ex) ++ p.toSet.flatMap(selectorOffsets)
    case Call(_, args) => args.toSet.flatMap(selectorOffsets)
    case _ => Set.empty
  }

  private[exec] val rangeFuncs: Set[String] = Set(
    "sum_over_time", "avg_over_time", "min_over_time", "max_over_time",
    "count_over_time", "stddev_over_time", "stdvar_over_time",
    "quantile_over_time", "rate", "increase", "delta", "irate", "idelta",
    "resets", "changes", "deriv", "predict_linear", "holt_winters")

  /** Go strconv.ParseFloat for `le` values — the vintage dialect
    * exactly: `[±]inf`/`[±]infinity` and UNSIGNED `nan`
    * (case-insensitive) as specials, otherwise plain decimal/
    * scientific syntax only. NO surrounding whitespace (Java's
    * parseDouble trims — Go errors, and histogram_quantile SKIPS the
    * unparseable bucket, quantile.go bucket collection), no hex floats
    * (`0x1p-2` — Java accepts, pre-1.13 Go rejects), no `d`/`f`
    * suffixes (Java accepts). An unparseable `le` returns None and
    * the bucket drops out, like the reference's `continue`. */
  private val GoFloatRe =
    """[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?""".r
  private[exec] def goParseFloat(c: Column): Column = {
    val u = udf { s: String =>
      if (s == null) None
      else s.toLowerCase match {
        case "inf" | "+inf" | "infinity" | "+infinity" =>
          Some(Double.PositiveInfinity)
        case "-inf" | "-infinity" => Some(Double.NegativeInfinity)
        case "nan" => Some(Double.NaN)
        case _ if GoFloatRe.matches(s) => Some(s.toDouble)
        case _ => None
      }
    }
    u(c)
  }

  /** Per-sample scalar math functions (G1-G5, G2-G4). Second element of the
    * tuple receives any extra constant args. */
  private[exec] val instantMathFuncs: Map[String, (Column, Seq[Double]) => Column] = {
    import org.apache.spark.sql.functions._
    def logSem(f: Column => Column): (Column, Seq[Double]) => Column =
      // Go: ln(0)=-Inf, ln(<0)=NaN, ln(NaN)=NaN; Spark log(x<=0)=NULL
      (v, _) => when(isnan(v), lit(Double.NaN))
        .when(v > 0, f(v))
        .when(v === 0, lit(Double.NegativeInfinity))
        .otherwise(lit(Double.NaN))
    // Spark ceil/floor return LONG (mangles NaN/±Inf); guard like Go
    def finiteGuard(f: Column => Column): Column => Column =
      v => when(isnan(v) || abs(v) === Double.PositiveInfinity, v)
        .otherwise(f(v))
    Map(
      "abs" -> ((v, _) => abs(v)),
      "ceil" -> ((v, _) => finiteGuard(x => ceil(x).cast("double"))(v)),
      "floor" -> ((v, _) => finiteGuard(x => floor(x).cast("double"))(v)),
      "exp" -> ((v, _) => exp(v)),
      "sqrt" -> ((v, _) => sqrt(v)),
      "ln" -> logSem(log(_)),
      "log2" -> logSem(log2(_)),
      "log10" -> logSem(log10(_)),
      "round" -> ((v, extra) => {
        val toNearest = extra.headOption.getOrElse(1.0)
        PromUdfs.roundUdf(v, lit(toNearest))
      }),
      // Go math.Min/Max propagate NaN from EITHER side (functions.go
      // clamp_max/clamp_min) — a NaN limit NaNs the whole vector
      "clamp_max" -> ((v, extra) =>
        if (extra.head.isNaN) lit(Double.NaN)
        else when(isnan(v), v).otherwise(least(v, lit(extra.head)))),
      "clamp_min" -> ((v, extra) =>
        if (extra.head.isNaN) lit(Double.NaN)
        else when(isnan(v), v).otherwise(greatest(v, lit(extra.head))))
    )
  }

  private[exec] val dateFuncs: Set[String] = Set(
    "minute", "hour", "day_of_week", "day_of_month", "days_in_month",
    "month", "year")

  /** Minimum m = range/step for the sliding prefix-sum fold route.
    * Production default 16 (below it the single explode is cheaper);
    * tests raise it to Int.MaxValue to force the explode path and
    * assert route equivalence. */
  @volatile private[exec] var slideMinM: Int = 16

  /** Minimum estimated samples per (series, rung-bucket) for a
    * TUMBLING (m = 1) fold to read a materialized rung instead of
    * folding raw samples directly (see `foldRungPays`). 3.0 =
    * meaningful compression with hysteresis toward the single-stage
    * raw plan; production scrape cadence (15 s samples, 1 h rungs ≈
    * 240/bucket) clears it by orders of magnitude, the sparse
    * ~1-sample/series/day fixtures (≈0.4/bucket on daily rungs) fall
    * back to raw — the measured-faster plan in both regimes. */
  @volatile private[exec] var foldRungMinSamplesPerBucket: Double = 3.0

  /** Largest chunk-tier table state (samples) that runs each query as
    * ONE Spark task (see `singleTask`) and answers series-dimension
    * questions from the driver-side series catalog. Set from a
    * crossover sweep of the dashboard refresh (SCALE.md §9), measured
    * on 4 cores only: the one-task plan was faster up to 1.04M samples
    * and slower at 1.38M. Tests pin it to 0 to assert the parallel
    * plan shapes on small chunked fixtures. */
  @volatile private[exec] var singleTaskMaxSamples: Long = 1000000L
}
