package graft.exec

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.api.HttpApi
import graft.storage.{ChunkStore, Ingest}

/** Plan templates (`PromQLEngine.planTemplates`) and the time literals
  * they re-bind ([[TimeLit]]): over seeded random windows, every
  * template-served result is bit-equal to a fresh uncached build and
  * counts the same routes, and two windows of one shape generate the
  * same whole-stage code. */
class PlanTemplateSpec extends SparkTestBase {

  private val m = 60000L
  private val h = 60 * m
  private val d = 24 * h
  private val t0 = 18 * h
  private val hours = 30 // 18:00 on day 0 to 00:00 on day 2

  /** The dashboard fixture of SingleTaskSpec over 30 h: counters per
    * (job, instance, code) with resets and gaps, one gauge per
    * instance, a trailing staleness marker on each series. */
  private lazy val table: String = {
    val rnd = new scala.util.Random(11)
    val rows = for {
      i <- 0 until 3
      name <- Seq("dash_requests_total", "dash_capacity")
      code <- if (name == "dash_capacity") Seq("") else Seq("200", "500")
    } yield {
      val labels = Map("__name__" -> name, "job" -> s"job-${i % 2}",
        "instance" -> s"inst-$i") ++ (if (code.isEmpty) Nil else Seq("code" -> code))
      var v = rnd.nextInt(50).toLong
      val pts = (0 until hours * 60).flatMap { k =>
        if (rnd.nextInt(10) == 0) None
        else {
          v = if (name == "dash_capacity") 5 + rnd.nextInt(20)
            else if (rnd.nextInt(120) == 0) rnd.nextInt(5).toLong
            else v + rnd.nextInt(9)
          Some(Row(labels, t0 + k * m, v.toDouble, false))
        }
      }
      pts :+ Row(labels, pts.last.getLong(1) + m, graft.model.Samples.StaleNaN, true)
    }
    val schema = StructType(Seq(
      StructField("labels", MapType(StringType, StringType), nullable = false),
      StructField("t", LongType, nullable = false),
      StructField("v", DoubleType, nullable = false),
      StructField("stale", BooleanType, nullable = false)))
    val path = Files.createTempDirectory("plan-template").toString
    val api = HttpApi.forTable(spark, path, rollups = Seq(m, h, d), chunks = true)
    try api.writeDirect(spark.createDataFrame(rows.flatten.asJava, schema))
    finally api.stop()
    path
  }

  /** A tiered engine over the table, built the way the table server
    * builds one after a write. */
  private def tiered(): PromQLEngine =
    new PromQLEngine(spark, Ingest.readTable(spark, table),
      partialsLadder = Seq(m, h, d).map(b =>
        (spark.read.parquet(Ingest.rollupPath(table, b)).drop("date"), b)),
      seriesIndex = Some(spark.read.parquet(s"$table/_index")),
      chunkTier = Some(ChunkStore.read(spark, s"$table/_chunks")))

  /** A query shape: `steps` grid points `step` apart; step 0 is an
    * instant query. */
  private case class Shape(q: String, step: Long, steps: Int)

  private val agg = "sum by (job) (rate(dash_requests_total[5m]))"
  private val shapes = Seq(
    // the dash_read refresh (SingleTaskSpec's shapes)
    Shape("""dash_requests_total{job="job-1",code="500"}""", 0, 1),
    Shape(agg, 0, 1),
    Shape(agg, 15000, 241),
    Shape("""sum by (job, instance) (rate(dash_requests_total{code="200"}[5m]))""" +
      " / on (job, instance) group_left dash_capacity", 0, 1),
    Shape("""topk(3, rate(dash_requests_total{code="500"}[5m]))""", 0, 1),
    Shape("sum by (code) (increase(dash_requests_total[1h]))", h, 13),
    Shape(agg, m, 61),
    Shape("sum(rate(dash_requests_total[5m]))", 15000, 241),
    // the other routes, each taken or declined by the window's
    // alignment to the 1 m / 1 h / 1 d rungs, some under an offset
    Shape("dash_capacity", m, 61),
    Shape("""rate(dash_requests_total{code="200"}[10m] offset 30m)""", 5 * m, 25),
    Shape("irate(dash_requests_total[5m])", m, 31),
    Shape("max_over_time(dash_capacity[30m] offset 1h)", m, 31),
    Shape("sum_over_time(dash_requests_total[2h])", m, 61),
    Shape("count_over_time(dash_capacity[1d])", d, 1),
    Shape("time() - timestamp(dash_capacity offset 2m)", 30000, 31),
    Shape("absent(dash_missing)", 5 * m, 13))

  /** Seeded windows: starts on a day boundary, on an hour, on a
    * minute, or anywhere, inside the fixture's span. */
  private def windows(rnd: scala.util.Random, n: Int): Seq[Long] =
    Seq.fill(n) {
      val lo = t0 + 3 * h
      rnd.nextInt(4) match {
        case 0 => d
        case 1 => lo + h * rnd.nextInt(hours - 16)
        case 2 => lo + m * rnd.nextInt((hours - 16) * 60)
        case _ => lo + (rnd.nextDouble() * (hours - 16) * h).toLong
      }
    }

  private def bits(df: DataFrame): Map[(Map[String, String], Long), Long] =
    df.collect().map(r => (r.getMap[String, String](0).toMap, r.getLong(1)) ->
      java.lang.Double.doubleToLongBits(r.getDouble(2))).toMap

  private def routes(e: PromQLEngine): Map[String, Long] =
    e.routeHits.asScala.map { case (k, v) => k -> v.get() }.toMap

  private def delta(after: Map[String, Long], before: Map[String, Long]) =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }.filter(_._2 != 0)

  test("seeded windows: every template-bound result is bit-equal to a " +
      "fresh uncached build and takes the same routes") {
    val rnd = new scala.util.Random(23)
    val served = tiered()
    val fresh = tiered()
    val ws = windows(rnd, 20)
    val servedFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for ((w, i) <- ws.zipWithIndex; shape <- shapes) {
      // an end anywhere before the next grid point: the same grid
      val (s, e) =
        if (shape.step == 0) (w, w)
        else (w, w + (shape.steps - 1) * shape.step +
          (if (i % 2 == 0) 0L else rnd.nextInt(shape.step.toInt).toLong))
      def run(eng: PromQLEngine, cached: Boolean) = {
        val before = routes(eng)
        val df =
          if (shape.step == 0) { if (cached) eng.instantCached(shape.q, s) else eng.instant(shape.q, s) }
          else if (cached) eng.rangeQueryCached(shape.q, s, e, shape.step)
          else eng.rangeQuery(shape.q, s, e, shape.step)
        (df, bits(df), delta(routes(eng), before))
      }
      val (df, got, gotRoutes) = run(served, cached = true)
      val (_, want, wantRoutes) = run(fresh, cached = false)
      val where = s"${shape.q} on [$s, $e] step ${shape.step}"
      assert(got == want, s"$where: the template-bound result differs")
      // an exact repeat re-collects its template's last DataFrame and,
      // like any plan-cache hit, counts no route
      if (servedFrames.exists(_ eq df))
        assert(gotRoutes.isEmpty, s"$where: a repeat counted routes")
      else {
        assert(gotRoutes == wantRoutes, s"$where: routes differ")
        servedFrames += df
      }
    }
    // templates were re-bound, not only built: rung picks split some
    // shapes into several templates, but most windows hit
    assert(served.templateHits.get() > ws.size * shapes.size / 2,
      s"hits ${served.templateHits.get()}, misses ${served.templateMisses.get()}")
    assert(served.templateMisses.get() >= shapes.size)
    // every route the fixture is built to exercise was taken
    val taken = routes(served).keySet.map(_.takeWhile(_ != ':'))
    Seq("raw_general", "rate_partials", "fold_partials", "instant_partials",
      "select_partials", "sliding_fold", "bucketed_query_time").foreach(r =>
      assert(taken(r), s"no window took $r: $taken"))
    served.releaseSeriesDim()
    fresh.releaseSeriesDim()
  }

  test("two windows of one shape generate the same whole-stage code") {
    val eng = tiered()
    def source(df: DataFrame): Seq[String] = {
      df.collect()
      codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
    }
    for (shape <- shapes) {
      // both windows on an hour and a day apart: the same rung picks
      val (a, b) = (d + 2 * h, 2 * d - 7 * h)
      def at(s: Long) =
        if (shape.step == 0) eng.instantCached(shape.q, s)
        else eng.rangeQueryCached(shape.q, s, s + (shape.steps - 1) * shape.step,
          shape.step)
      val first = at(a)
      val misses = eng.templateMisses.get()
      val second = at(b)
      assert(eng.templateMisses.get() == misses, s"${shape.q}: not re-bound")
      assert(second ne first)
      val (sa, sb) = (source(first), source(second))
      assert(sa.nonEmpty, s"${shape.q}: no whole-stage code")
      assert(sa == sb, s"${shape.q}: the generated code depends on the window")
      // an exact repeat re-collects the identical DataFrame
      assert(at(b) eq second)
    }
    eng.releaseSeriesDim()
  }

  test("a TimeLit is a Literal to Catalyst, keeps its slot through a " +
      "copy, and re-binds") {
    val lit = new TimeLit(fromEnd = true, -300000L, 1000000L)
    assert(lit == Literal(1000000L, LongType))
    (lit: org.apache.spark.sql.catalyst.expressions.Expression) match {
      case Literal(v: Long, LongType) => assert(v == 1000000L)
      case other => fail(s"not a long literal: $other")
    }
    val copy = lit.makeCopy(lit.productIterator.map(_.asInstanceOf[AnyRef]).toArray)
    copy match {
      case t: TimeLit =>
        assert(t.fromEnd && t.delta == -300000L && t.value == 1000000L)
      case other => fail(s"makeCopy lost the slot: ${other.getClass}")
    }
    val moved = lit.at(startMs = 5L, endMs = 2000000L)
    assert(moved.value == 1700000L && moved.fromEnd && moved.delta == -300000L)
  }
}
