package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DateType, LongType, StringType}

import graft.functions.ChunkDecode

/** Push query time bounds through the chunk-decode `Generate` as
  * envelope predicates on the chunk table, so pruning happens BEFORE
  * any blob is decoded.
  *
  * The chunk tier ([[graft.storage.ChunkStore]]) stores one row per
  * Gorilla blob with a `(min_t, max_t)` envelope and a UTC `date`
  * partition column — the reference's block/chunk index metadata
  * (vendor `tsdb/index.go` chunk meta MinTime/MaxTime) in parquet
  * form. The engine's selector filters, however, bound the DECODED
  * sample timestamp `t`, an output of the `chunk_decode` generator:
  * Catalyst cannot push a predicate on a generator output below its
  * `Generate`, so without this rule a 5-minute query over a year of
  * chunked history would decode every blob and discard almost all
  * rows.
  *
  * Soundness: every sample in a chunk satisfies
  * `min_t <= t <= max_t`, and all of a chunk's samples fall on its
  * `date` (UTC day), so
  *
  *   ∃ sample with t >= X  ⇒  max_t >= X  ∧  date >= day(X)
  *   ∃ sample with t <= Y  ⇒  min_t <= Y  ∧  date <= day(Y)
  *
  * The derived predicates are necessary conditions — the original
  * filter on `t` stays in place to trim the chunk-boundary overhang —
  * so the rewrite can only REMOVE non-overlapping chunks, never
  * change results. ISO `yyyy-MM-dd` dates compare correctly as
  * strings for the nonnegative epochs this engine queries (guarded).
  *
  * After the rewrite the envelope predicates sit directly above the
  * chunk relation (below the pruning `Project` the optimizer already
  * inserted), where `PhysicalOperation` collects them: `date` becomes
  * a partition filter (whole day directories skipped) and
  * `min_t`/`max_t` become pushed parquet filters (row-group min/max
  * pruning). Installed idempotently beside [[IntDivPushdown]] by
  * `PromQLEngine`; re-derived predicates that already exist below are
  * detected by `semanticEquals`, so the fixed-point batch terminates.
  */
object ChunkEnvelopePushdown extends Rule[LogicalPlan] {

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case other => Seq(other)
  }

  private def utcDay(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

  /** (lowerBoundMs, upperBoundMs) a conjunct imposes on the generated
    * `t` attribute, if any. Strictness is kept on the envelope side
    * (`max_t > x` is as prunable as `>=`). The bound is the conjunct's
    * own literal, reused as is on the envelope: a
    * [[graft.exec.TimeLit]] stays one, so the envelope filter's
    * generated code does not depend on the query window. */
  private def boundOf(tAttr: Attribute, c: Expression)
      : Option[(Boolean, Boolean, Literal)] = c match {
    // (isLower, isStrict, literal)
    case GreaterThanOrEqual(a: Attribute, x @ Literal(_: Long, LongType))
        if a.semanticEquals(tAttr) => Some((true, false, x))
    case GreaterThan(a: Attribute, x @ Literal(_: Long, LongType))
        if a.semanticEquals(tAttr) => Some((true, true, x))
    case LessThanOrEqual(a: Attribute, x @ Literal(_: Long, LongType))
        if a.semanticEquals(tAttr) => Some((false, false, x))
    case LessThan(a: Attribute, x @ Literal(_: Long, LongType))
        if a.semanticEquals(tAttr) => Some((false, true, x))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond,
        g @ Generate(ChunkDecode(_), _, _, _, genOut, gchild))
        if genOut.nonEmpty =>
      val tAttr = genOut.head // elementSchema order: (t, v, stale)
      val bounds = splitConj(cond).flatMap(boundOf(tAttr, _))
      if (bounds.isEmpty) f
      else {
        val injected = inject(gchild, bounds)
        if (injected.fastEquals(gchild)) f
        else f.copy(child = g.copy(child = injected))
      }
  }

  /** Walk through the Project/Filter chain the optimizer left between
    * the Generate and the chunk relation, and place the envelope
    * predicates directly above the first node whose output carries the
    * envelope columns. Unknown shapes are left untouched (no change —
    * the rewrite is an optimization, never required). */
  private def inject(p: LogicalPlan,
      bounds: Seq[(Boolean, Boolean, Literal)]): LogicalPlan = p match {
    case leaf if envelopeAttrs(leaf).isDefined =>
      val (minT, maxT, dateOpt) = envelopeAttrs(leaf).get
      val existing: Seq[Expression] = leaf match {
        case Filter(c, _) => splitConj(c)
        case _ => Nil
      }
      val derived = bounds.flatMap { case (isLower, strict, xLit) =>
        val x = xLit.value.asInstanceOf[Long]
        val env: Expression =
          if (isLower) { if (strict) GreaterThan(maxT, xLit)
                         else GreaterThanOrEqual(maxT, xLit) }
          else { if (strict) LessThan(minT, xLit)
                 else LessThanOrEqual(minT, xLit) }
        // ISO date strings order lexicographically only for years
        // 1000-9999; epoch-ms in [0, ~year 9999] is the served range.
        // Partition inference reads `date` back as DateType (epoch-day
        // ordering is exact there); a pre-inference frame carries the
        // written StringType.
        val dayPred: Seq[Expression] = dateOpt match {
          case Some(d) if x >= 0L && x < 253402300800000L =>
            val dayLit = d.dataType match {
              case DateType =>
                Literal(Math.floorDiv(x, 86400000L).toInt, DateType)
              case _ => Literal.create(utcDay(x), StringType)
            }
            if (isLower) Seq(GreaterThanOrEqual(d, dayLit))
            else Seq(LessThanOrEqual(d, dayLit))
          case _ => Nil
        }
        env +: dayPred
      }
      val fresh = derived.filterNot(d =>
        existing.exists(_.semanticEquals(d)))
      if (fresh.isEmpty) leaf
      else Filter(fresh.reduce(And), leaf)
    case pr: Project =>
      val c = inject(pr.child, bounds)
      if (c.fastEquals(pr.child)) pr else pr.copy(child = c)
    case fl: Filter =>
      val c = inject(fl.child, bounds)
      if (c.fastEquals(fl.child)) fl else fl.copy(child = c)
    case other => other
  }

  /** The envelope attributes of a node that exposes the chunk-table
    * schema: typed `min_t`/`max_t` longs, plus the `date` string when
    * present (partition pruning). */
  private def envelopeAttrs(p: LogicalPlan)
      : Option[(Attribute, Attribute, Option[Attribute])] = {
    // a Filter's output mirrors its child — looking through it here
    // would double-inject above and below; require the columns on the
    // node's own output and let the caller recurse through wrappers
    val out = p.output
    for {
      mn <- out.find(a => a.name == "min_t" && a.dataType == LongType)
      mx <- out.find(a => a.name == "max_t" && a.dataType == LongType)
    } yield (mn, mx,
      out.find(a => a.name == "date" &&
        (a.dataType == StringType || a.dataType == DateType)))
  }
}
