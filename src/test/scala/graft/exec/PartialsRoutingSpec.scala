package graft.exec

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.storage.Ingest

/** Materialized fold-partials routing: an engine given
  * `Ingest.foldPartials` must serve aligned `*_over_time` queries
  * from the partials table with results IDENTICAL to the raw path,
  * and fall back to raw when the grid does not align. */
class PartialsRoutingSpec extends SparkTestBase {

  private val m = 60000L
  // 30s cadence across 2h, three series: one rising, one with a NaN
  // mid-stream, one constant — boundary samples land exactly on the
  // 5m step grid, exercising the closed-window at-start partial
  private lazy val fixture = samplesDF(
    Map("__name__" -> "pm", "s" -> "rise") ->
      (0 to 240).map(i => (i * 30000L, i.toDouble)),
    Map("__name__" -> "pm", "s" -> "nan") ->
      (0 to 240).map(i =>
        (i * 30000L, if (i == 77) Double.NaN else 2.0 * i)),
    Map("__name__" -> "pm", "s" -> "flat") ->
      (0 to 240).map(i => (i * 30000L, 7.0)))

  private val funcs = Seq("sum_over_time", "avg_over_time",
    "count_over_time", "min_over_time", "max_over_time")

  private def results(e: PromQLEngine, q: String,
      start: Long, end: Long, step: Long) =
    e.rangeQuery(q, start, end, step)
      .select(col("labels")("s").as("s"), col("t"), col("v"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .map { case (s, t, v) =>
        // NaN != NaN would fail tuple equality; compare the bits
        (s, t, java.lang.Double.doubleToLongBits(v)) }
      .toSet

  test("aligned grids: partials-served results equal the raw path " +
      "for every fold function (NaN and boundary samples included)") {
    val raw = new PromQLEngine(spark, fixture)
    val routed = new PromQLEngine(spark, fixture,
      partialsLadder = Seq((Ingest.foldPartials(fixture, 5 * m), 5 * m)))
    for (f <- funcs; offset <- Seq("", " offset 10m")) {
      val q = s"$f(pm[10m]$offset)"
      // start 20m, end 115m, step 5m: aligned to the 5m buckets
      val a = results(raw, q, 20 * m, 115 * m, 5 * m)
      val b = results(routed, q, 20 * m, 115 * m, 5 * m)
      assert(a == b, s"$q diverged between raw and partials paths")
      assert(a.nonEmpty)
    }
    // the route counters (the /metrics observability surface) agree
    // with what actually ran: every routed query hit the 5m partials,
    // every raw one fell through to the general path
    assert(Option(routed.routeHits.get(s"fold_partials:${5 * m}"))
      .exists(_.get() >= funcs.size), "routed engine did not count its hits")
    assert(routed.routeHits.get("raw_general") == null,
      "routed engine unexpectedly fell back to the general path")
    // the partials-less engine serves the same aligned grids from the
    // QUERY-TIME bucketed path (m=2 is bucketable), not the general one
    assert(Option(raw.routeHits.get("bucketed_query_time"))
      .exists(_.get() > 0),
      "raw engine did not count its query-time bucketed evaluations")
  }

  test("rate/increase/delta route at step == bucket, bit-identical to " +
      "the raw path (counter resets and boundary samples included)") {
    // a counter with two in-window resets plus the rising/flat series
    val withCtr = samplesDF(
      Map("__name__" -> "pm", "s" -> "rise") ->
        (0 to 240).map(i => (i * 30000L, i.toDouble)),
      Map("__name__" -> "pm", "s" -> "ctr") ->
        (0 to 240).map(i => (i * 30000L, ((i * 7) % 100).toDouble)),
      Map("__name__" -> "pm", "s" -> "flat") ->
        (0 to 240).map(i => (i * 30000L, 7.0)))
    val raw = new PromQLEngine(spark, withCtr)
    val routed = new PromQLEngine(spark, withCtr,
      partialsLadder = Seq((Ingest.foldPartials(withCtr, 5 * m), 5 * m)))
    for (f <- Seq("rate", "increase", "delta");
        w <- Seq("5m", "10m"); offset <- Seq("", " offset 10m")) {
      val q = s"$f(pm[$w]$offset)"
      val a = results(raw, q, 20 * m, 115 * m, 5 * m)
      val b = results(routed, q, 20 * m, 115 * m, 5 * m)
      assert(a == b, s"$q diverged between raw and partials paths")
      assert(a.nonEmpty)
    }
  }

  test("rate/increase/delta route at COARSER aligned steps: q = " +
      "step/bucket ordered sub-partials merge bit-identically") {
    // the counter's in-window resets cross sub-bucket seams, so the
    // boundary-reset correction of the ordered merge is load-bearing;
    // a sparse series exercises windows whose sub-buckets are empty
    val withCtr = samplesDF(
      Map("__name__" -> "pm", "s" -> "rise") ->
        (0 to 240).map(i => (i * 30000L, i.toDouble)),
      Map("__name__" -> "pm", "s" -> "ctr") ->
        (0 to 240).map(i => (i * 30000L, ((i * 7) % 100).toDouble)),
      Map("__name__" -> "pm", "s" -> "sparse") ->
        (0 to 12).map(i => (i * 600000L + 90000L, (i * 3).toDouble)))
    val raw = new PromQLEngine(spark, withCtr)
    val routed = new PromQLEngine(spark, withCtr,
      partialsLadder = Seq((Ingest.foldPartials(withCtr, 5 * m), 5 * m)))
    // step 10m and 15m over 5m buckets: q = 2 and q = 3
    for (f <- Seq("rate", "increase", "delta");
        (w, step) <- Seq(("20m", 10 * m), ("30m", 15 * m), ("10m", 10 * m));
        offset <- Seq("", " offset 10m")) {
      val q = s"$f(pm[$w]$offset)"
      val a = results(raw, q, 30 * m, 110 * m, step)
      val b = results(routed, q, 30 * m, 110 * m, step)
      assert(a == b, s"$q @ step=$step diverged between raw and partials")
      assert(a.nonEmpty)
    }
    // routing proof: empty partials -> empty result at the coarser step
    val empty = Ingest.foldPartials(withCtr.filter(lit(false)), 5 * m)
    val e = new PromQLEngine(spark, withCtr,
      partialsLadder = Seq((empty, 5 * m)))
    assert(e.rangeQuery("rate(pm[10m])", 20 * m, 115 * m, 5 * m)
      .count() == 0)
    assert(e.rangeQuery("increase(pm[20m])", 20 * m, 110 * m, 10 * m)
      .count() == 0) // coarser aligned step now routes too
    // a NON-multiple step (7m over 5m buckets) still falls back to raw
    assert(e.rangeQuery("increase(pm[14m])", 21 * m, 105 * m, 7 * m)
      .count() > 0)
  }

  test("irate/idelta route through the table's per-bucket top-2 " +
      "columns, bit-identical at step == bucket and coarser steps") {
    // sparse series: single-point buckets (lt2 null) and windows whose
    // two newest points span DIFFERENT sub-buckets; ctr: same-bucket
    // adjacent points with resets
    val withCtr = samplesDF(
      Map("__name__" -> "pm", "s" -> "rise") ->
        (0 to 240).map(i => (i * 30000L, i.toDouble)),
      Map("__name__" -> "pm", "s" -> "ctr") ->
        (0 to 240).map(i => (i * 30000L, ((i * 7) % 100).toDouble)),
      Map("__name__" -> "pm", "s" -> "sparse") ->
        (0 to 12).map(i => (i * 600000L + 90000L, (i * 3).toDouble)))
    val raw = new PromQLEngine(spark, withCtr)
    val routed = new PromQLEngine(spark, withCtr,
      partialsLadder = Seq((Ingest.foldPartials(withCtr, 5 * m), 5 * m)))
    for (f <- Seq("irate", "idelta");
        (w, step) <- Seq(("10m", 5 * m), ("20m", 10 * m), ("30m", 15 * m));
        offset <- Seq("", " offset 10m")) {
      val q = s"$f(pm[$w]$offset)"
      val a = results(raw, q, 30 * m, 110 * m, step)
      val b = results(routed, q, 30 * m, 110 * m, step)
      assert(a == b, s"$q @ step=$step diverged between raw and partials")
      assert(a.nonEmpty)
    }
    // routing proof: empty partials -> empty result on aligned grids
    val empty = Ingest.foldPartials(withCtr.filter(lit(false)), 5 * m)
    val e = new PromQLEngine(spark, withCtr,
      partialsLadder = Seq((empty, 5 * m)))
    assert(e.rangeQuery("irate(pm[10m])", 20 * m, 115 * m, 5 * m)
      .count() == 0)
    assert(e.rangeQuery("idelta(pm[20m])", 20 * m, 110 * m, 10 * m)
      .count() == 0)
  }

  test("instant selectors route at step == bucket; staleness markers " +
      "still hide series through the materialized path") {
    // series "gone" ends with a stale marker at 60m — the marker is
    // its bucket's newest point, and the lookback (5m default) must
    // hide the series at the steps the marker covers, on BOTH routes
    val withStale = samplesDF(
      Map("__name__" -> "pm", "s" -> "rise") ->
        (0 to 240).map(i => (i * 30000L, i.toDouble)),
      Map("__name__" -> "pm", "s" -> "gone") ->
        ((0 to 119).map(i => (i * 30000L, 5.0)) :+
          ((120 * 30000L, graft.model.Samples.StaleNaN))))
    val raw = new PromQLEngine(spark, withStale)
    val routed = new PromQLEngine(spark, withStale,
      partialsLadder = Seq((Ingest.foldPartials(withStale, 5 * m), 5 * m)))
    for (q <- Seq("pm", """pm{s="gone"}""", "pm offset 10m")) {
      val a = results(raw, q, 20 * m, 115 * m, 5 * m)
      val b = results(routed, q, 20 * m, 115 * m, 5 * m)
      assert(a == b, s"$q diverged between raw and partials paths")
    }
    // the rung-less engine counts its selector routes too: the 5m grid
    // (m = lookback/step = 1) takes the general path, a 1m grid (m = 5)
    // the query-time buckets
    assert(Option(raw.routeHits.get("raw_general")).exists(_.get() >= 3),
      s"raw instant selectors were not counted: ${raw.routeHits}")
    raw.rangeQuery("pm", 20 * m, 115 * m, m)
    assert(Option(raw.routeHits.get("bucketed_query_time"))
      .exists(_.get() >= 1),
      s"query-time bucketed selector was not counted: ${raw.routeHits}")
    // the marker semantics end-to-end on the routed path: gone at 60m+
    assert(routed.rangeQuery("""pm{s="gone"}""", 60 * m, 115 * m, 5 * m)
      .count() == 0)
    assert(routed.rangeQuery("""pm{s="gone"}""", 55 * m, 55 * m, 5 * m)
      .count() == 1)
    // routing proof: empty partials -> empty aligned instant selector
    val empty = Ingest.foldPartials(withStale.filter(lit(false)), 5 * m)
    val e = new PromQLEngine(spark, withStale,
      partialsLadder = Seq((empty, 5 * m)))
    assert(e.rangeQuery("pm", 20 * m, 115 * m, 5 * m).count() == 0)
    // q = 5: a 1m rung serving 5m steps — the default-lookback shape a
    // production 1m rollup serves. Multiple sub-bucket rows per step
    // bucket, at-start gating, and the staleness winner all run at
    // q > 1 (the q = 1 tests above never reach that path).
    val routed1m = new PromQLEngine(spark, withStale,
      partialsLadder = Seq((Ingest.foldPartials(withStale, m), m)))
    for (q <- Seq("pm", """pm{s="gone"}""", "pm offset 10m")) {
      val a = results(raw, q, 20 * m, 115 * m, 5 * m)
      val b = results(routed1m, q, 20 * m, 115 * m, 5 * m)
      assert(a == b, s"$q diverged on the q=5 select route")
      assert(a.nonEmpty)
    }
    // routing proof at q = 5: empty 1m rung -> empty result
    val empty1m = Ingest.foldPartials(withStale.filter(lit(false)), m)
    assert(new PromQLEngine(spark, withStale,
        partialsLadder = Seq((empty1m, m)))
      .rangeQuery("pm", 20 * m, 115 * m, 5 * m).count() == 0)
  }

  test("resolution ladder: the engine serves from the COARSEST aligned " +
      "rung, falling down the ladder as grids misalign") {
    val raw = new PromQLEngine(spark, fixture)
    val p5 = Ingest.foldPartials(fixture, 5 * m)
    val p15 = Ingest.foldPartials(fixture, 15 * m)
    // both rungs bound: results identical to raw on every aligned grid
    val laddered = new PromQLEngine(spark, fixture,
      partialsLadder = Seq((p5, 5 * m), (p15, 15 * m)))
    for (q <- Seq("sum_over_time(pm[30m])", "increase(pm[30m])",
        "irate(pm[30m])", "pm");
        step <- Seq(5 * m, 15 * m, 30 * m)) {
      val a = results(raw, q, 30 * m, 105 * m, step)
      val b = results(laddered, q, 30 * m, 105 * m, step)
      assert(a == b, s"$q @ step=$step diverged on the ladder")
      assert(a.nonEmpty)
    }
    // routing proof — coarse rung EMPTY, fine rung full: a
    // 15m-divisible step reads the (empty) coarse rung; a 5m-only
    // step falls to the fine rung and sees data
    val emptyCoarse = Ingest.foldPartials(fixture.filter(lit(false)), 15 * m)
    val e = new PromQLEngine(spark, fixture,
      partialsLadder = Seq((p5, 5 * m), (emptyCoarse, 15 * m)))
    assert(e.rangeQuery("sum_over_time(pm[30m])", 30 * m, 105 * m, 15 * m)
      .count() == 0) // coarsest aligned rung (15m) chosen — and empty
    assert(e.rangeQuery("sum_over_time(pm[30m])", 30 * m, 105 * m, 5 * m)
      .count() > 0) // 5m step only aligns to the fine rung
  }

  test("bucketed rate paths use Go NaN comparison semantics: a real " +
      "value after a NaN is NOT a counter reset") {
    // Spark orders NaN greatest (156 < NaN is TRUE), Go's v < prev is
    // false with either side NaN — without the isnan guards the lag
    // correction adds the NaN "previous value" and poisons the window.
    // The nan series rises by 2 per 30s with one mid-stream NaN, so
    // every fully-covered 30m window's increase is exactly 120 —
    // including the windows spanning the NaN.
    val raw = new PromQLEngine(spark, fixture)
    // 15 steps ≥ 8, m = 6: the QUERY-TIME bucketedRate path
    val r = results(raw, "increase(pm[30m])", 35 * m, 105 * m, 5 * m)
      .filter(_._1 == "nan")
    assert(r.size == 15)
    assert(r.forall(_._3 == java.lang.Double.doubleToLongBits(120.0)),
      s"NaN-window increase diverged: $r")
    // and the MATERIALIZED route (6 steps < 8 forces raw onto the UDF
    // path, so this also pins materialized == sequential-scan formula)
    val routed = new PromQLEngine(spark, fixture,
      partialsLadder = Seq((Ingest.foldPartials(fixture, 15 * m), 15 * m)))
    val q = "increase(pm[30m])"
    assert(results(raw, q, 30 * m, 105 * m, 15 * m) ==
      results(routed, q, 30 * m, 105 * m, 15 * m))
  }

  test("tumbling (m = 1) folds read a rung only when it compresses: " +
      "sparse tables decline to raw, dense ones route") {
    // sparse: one sample per 25m, so a 5m rung holds ≈0.2
    // samples/(series, bucket) — the rung has as many rows as the raw
    // scan and the route would be pure re-merge overhead
    val sparse = samplesDF(
      Map("__name__" -> "pm", "s" -> "a") ->
        (0 to 5).map(i => (i * 25 * m, i.toDouble)),
      Map("__name__" -> "pm", "s" -> "b") ->
        (0 to 5).map(i => (i * 25 * m, 2.0 * i)))
    // rung built EMPTY: a query that reads it returns nothing, one
    // that declines to raw sees data — route proof beyond counters
    val emptyRung = Ingest.foldPartials(sparse.filter(lit(false)), 5 * m)
    val e = new PromQLEngine(spark, sparse,
      partialsLadder = Seq((emptyRung, 5 * m)))
    // m = 1: the density gate declines -> raw path -> rows
    assert(e.rangeQuery("sum_over_time(pm[5m])", 25 * m, 125 * m, 5 * m)
      .count() > 0)
    assert(Option(e.routeHits.get(s"fold_partials_declined:${5 * m}"))
      .exists(_.get() > 0), "decline was not counted")
    assert(e.routeHits.get(s"fold_partials:${5 * m}") == null)
    // m = 2 on the SAME sparse engine: the rung substitutes the
    // query-time bucketing stage 1:1 -> still routed (empty -> 0 rows)
    assert(e.rangeQuery("sum_over_time(pm[10m])", 25 * m, 125 * m, 5 * m)
      .count() == 0)
    // dense table (30s cadence ≈ 10 samples per 5m bucket), m = 1:
    // the rung compresses -> routed
    val emptyDense = Ingest.foldPartials(fixture.filter(lit(false)), 5 * m)
    val d = new PromQLEngine(spark, fixture,
      partialsLadder = Seq((emptyDense, 5 * m)))
    assert(d.rangeQuery("sum_over_time(pm[5m])", 20 * m, 115 * m, 5 * m)
      .count() == 0)
    assert(Option(d.routeHits.get(s"fold_partials:${5 * m}"))
      .exists(_.get() > 0))
    assert(d.routeHits.get(s"fold_partials_declined:${5 * m}") == null)
    // a declined route is bit-equal to the raw engine (pure cost gate)
    val rawSparse = new PromQLEngine(spark, sparse)
    val full = new PromQLEngine(spark, sparse,
      partialsLadder = Seq((Ingest.foldPartials(sparse, 5 * m), 5 * m)))
    val q = "count_over_time(pm[5m])"
    assert(results(rawSparse, q, 25 * m, 125 * m, 5 * m) ==
      results(full, q, 25 * m, 125 * m, 5 * m))
  }

  test("misaligned grids fall back to the raw path and stay correct") {
    val raw = new PromQLEngine(spark, fixture)
    // 2m buckets do not divide the 5m step — must fall back
    val routed = new PromQLEngine(spark, fixture,
      partialsLadder = Seq((Ingest.foldPartials(fixture, 2 * m), 2 * m)))
    val q = "sum_over_time(pm[10m])"
    assert(results(raw, q, 20 * m, 115 * m, 5 * m) ==
      results(routed, q, 20 * m, 115 * m, 5 * m))
    // unaligned start (20m30s on a 5m-bucket table) also falls back
    val routed5 = new PromQLEngine(spark, fixture,
      partialsLadder = Seq((Ingest.foldPartials(fixture, 5 * m), 5 * m)))
    assert(results(raw, q, 20 * m + 30000, 115 * m + 30000, 5 * m) ==
      results(routed5, q, 20 * m + 30000, 115 * m + 30000, 5 * m))
  }

  test("aligned queries READ the partials table, not raw samples") {
    // partials deliberately built from an EMPTY frame: an aligned
    // query must come back empty, proving the route; a misaligned one
    // falls back to raw and still sees data
    val empty = Ingest.foldPartials(
      fixture.filter(lit(false)), 5 * m)
    val e = new PromQLEngine(spark, fixture,
      partialsLadder = Seq((empty, 5 * m)))
    assert(e.rangeQuery("sum_over_time(pm[10m])",
      20 * m, 115 * m, 5 * m).count() == 0)
    assert(e.rangeQuery("sum_over_time(pm[10m])",
      20 * m + 30000, 115 * m + 30000, 5 * m).count() > 0)
  }

  test("seeded random inputs: every rung route equals the raw engine " +
      "bit for bit, and each case is served by the rung it targets") {
    val rnd = new scala.util.Random(5)
    // (case, bucket, step = q × bucket, window = k × step, offset,
    // start, end) on a bucket-aligned grid
    val cases = (1 to 12).map { c =>
      val bkt = if (rnd.nextBoolean()) m else 5 * m
      val step = (1 + rnd.nextInt(3)) * bkt
      val w = (1 + rnd.nextInt(3)) * step
      val off = if (rnd.nextBoolean()) 0L else bkt
      val start = 30 * m + rnd.nextInt(4) * step
      (c, bkt, step, w, off, start, start + (5 + rnd.nextInt(6)) * step)
    }
    // 2-3 counters per case at a 10 s cadence over 4 h with resets,
    // ~10 % gaps, rare NaNs and a trailing staleness marker. Integer
    // counter values keep the floating-point reassociation caveat of
    // the rung merge (last-ulp sums) out of the comparison.
    val df = samplesDF(cases.flatMap { cs =>
      (0 until 2 + rnd.nextInt(2)).map { s =>
        var v = rnd.nextInt(50).toLong
        val pts = (0L until 240 * m by 10000L).flatMap { t =>
          if (rnd.nextInt(10) == 0) None
          else {
            v = if (rnd.nextInt(60) == 0) rnd.nextInt(5).toLong
              else v + rnd.nextInt(7)
            Some(t -> (if (rnd.nextInt(150) == 0) Double.NaN else v.toDouble))
          }
        }
        Map("__name__" -> "pr", "c" -> s"${cs._1}", "s" -> s"s$s") ->
          (pts :+ (pts.last._1 + 10000L -> graft.model.Samples.StaleNaN))
      }
    }: _*).cache()
    // one cached rung per bucket size, shared by every case: the ladder
    // picks the case's own bucket, the coarsest one dividing its step
    val ladder = Seq(m, 5 * m).map(b => (Ingest.foldPartials(df, b).cache(), b))
    try cases.foreach { case (c, bkt, step, w, off, start, end) =>
      // the instant selector's lookback is the window too, so its
      // rung route aligns on every drawn step
      val raw = new PromQLEngine(spark, df, lookbackMs = w)
      val routed = new PromQLEngine(spark, df, lookbackMs = w,
        partialsLadder = ladder)
      val o = if (off == 0) "" else s" offset ${off / m}m"
      val vs = s"""pr{c="$c"}$o"""
      val rs = s"""pr{c="$c"}[${w / m}m]$o"""
      for ((q, route) <- Seq(s"sum_over_time($rs)" -> "fold_partials",
          s"rate($rs)" -> "rate_partials",
          s"irate($rs)" -> "instant_partials", vs -> "select_partials")) {
        val ctx = s"case $c: $q bucket=${bkt / m}m step=${step / m}m"
        val a = results(raw, q, start, end, step)
        assert(a.nonEmpty, ctx)
        assert(a == results(routed, q, start, end, step), s"$ctx diverged")
        assert(Option(routed.routeHits.get(s"$route:$bkt")).map(_.get())
          .contains(1L), s"$ctx was not served by $route:$bkt")
      }
      assert(routed.routeHits.keySet.asScala.forall(_.endsWith(s":$bkt")),
        s"case $c: an unrouted evaluation ${routed.routeHits}")
    } finally {
      ladder.foreach(_._1.unpersist())
      df.unpersist()
    }
  }
}
