package graft.exec

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.model.Samples
import graft.storage.Ingest

/** Series-index (postings) routing: an engine given
  * `Ingest.seriesIndex` must resolve matchers on the index and
  * restrict the sample scan by a sig semi-join, with results
  * IDENTICAL to the per-row filter path for every matcher type —
  * staleness semantics included. */
class SeriesIndexSpec extends SparkTestBase {

  private val m = 60000L
  private lazy val fixture = samplesDF(
    Map("__name__" -> "px", "job" -> "api", "inst" -> "a") ->
      (0 to 120).map(i => (i * 30000L, i.toDouble)),
    Map("__name__" -> "px", "job" -> "api", "inst" -> "b") ->
      (0 to 120).map(i => (i * 30000L, 2.0 * i)),
    Map("__name__" -> "px", "job" -> "web") ->
      (0 to 120).map(i => (i * 30000L, 7.0)),
    Map("__name__" -> "py", "job" -> "api") ->
      ((0 to 60).map(i => (i * 30000L, 1.0)) :+
        ((61 * 30000L, Samples.StaleNaN))))
    .withColumn("sig", Samples.sigExpr(col("labels")))

  private def engines = {
    val plain = new PromQLEngine(spark, fixture)
    val indexed = new PromQLEngine(spark, fixture,
      seriesIndex = Some(Ingest.seriesIndex(fixture)))
    (plain, indexed)
  }

  private def asSet(df: org.apache.spark.sql.DataFrame) = df
    .select(Samples.sigStr(col("labels")).as("k"), col("t"), col("v"))
    .collect()
    .map(r => (r.getString(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2))))
    .toSet

  test("indexed and plain paths agree for every matcher type") {
    val (plain, indexed) = engines
    for (q <- Seq(
        "px", // name only
        """px{job="api"}""", // eq
        """px{job!="api"}""", // neq
        """{__name__=~"p.*"}""", // regex, cross-metric
        """px{inst=~"a|b"}""", // regex on sometimes-absent label
        """px{inst!~"a"}""", // neg regex incl. absent-as-empty
        """sum by (job) (rate(px[5m]))""", // through agg + range fn
        "py")) { // staleness: marker hides the series at covered steps
      val a = asSet(plain.rangeQuery(q, 10 * m, 55 * m, 5 * m))
      val b = asSet(indexed.rangeQuery(q, 10 * m, 55 * m, 5 * m))
      assert(a == b, s"$q diverged between plain and indexed paths")
      assert(a.nonEmpty, s"$q empty — fixture does not exercise it")
    }
    // marker semantics through the index path
    assert(indexed.rangeQuery("py", 62 * m, 90 * m, 5 * m).count() == 0)
  }

  /** Run f with the selectivity gate wide open — for tests of the
    * semi-join MACHINERY itself, where the 4-series fixture's coarse
    * fractions (¼ steps) would otherwise trip the gate. */
  private def ungated[A](f: => A): A = {
    val saved = PromQLEngine.indexSemiMaxFraction
    PromQLEngine.indexSemiMaxFraction = 1.0
    try f finally PromQLEngine.indexSemiMaxFraction = saved
  }

  test("the sample scan is restricted by a semi-join; the regex " +
      "evaluates only on the index side") { ungated {
    val (_, indexed) = engines
    val df = indexed.rangeQuery("""{__name__=~"p.*", job="api"}""",
      10 * m, 20 * m, 5 * m)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), s"no semi-join in plan:\n$plan")
    // the regex appears exactly once — on the index subtree, not as a
    // per-sample filter too
    val hits = "RLIKE".r.findAllIn(plan).size +
      "rlike".r.findAllIn(plan).size
    assert(hits == 1, s"regex evaluated $hits times in plan:\n$plan")
  } }

  test("equality-only matchers stay per-row — the semi-join engages " +
      "only for expensive (regex) matchers, observable via index_semi") {
    ungated {
      val (_, indexed) = engines
      // equality: no semi-join stage, no index_semi count
      val eqPlan = indexed.rangeQuery("""px{job="api"}""", 10 * m, 20 * m, 5 * m)
        .queryExecution.optimizedPlan.toString
      assert(!eqPlan.contains("LeftSemi"),
        s"equality matcher routed through the index:\n$eqPlan")
      assert(!indexed.routeHits.containsKey("index_semi"))
      // regex: semi-join present AND counted
      indexed.rangeQuery("""px{inst=~"a|b"}""", 10 * m, 20 * m, 5 * m)
      assert(indexed.routeHits.get("index_semi").get() == 1,
        "regex matcher did not count the index route")
    }
  }

  test("the selectivity gate: rare regex matchers route through the " +
      "index, broad ones fall back to per-row (default threshold)") {
    // 40 series so fractions are fine-grained: job=~"j07" keeps 1/40
    // (2.5% ≤ 10% → semi-join), job=~"j.*" keeps all (→ per-row)
    val wide = samplesDF(
      (0 until 40).map(i =>
        Map("__name__" -> "pw", "job" -> f"j$i%02d") ->
          (0 to 20).map(k => (k * 30000L, (i * 100 + k).toDouble))): _*)
      .withColumn("sig", Samples.sigExpr(col("labels")))
    val plain = new PromQLEngine(spark, wide)
    val indexed = new PromQLEngine(spark, wide,
      seriesIndex = Some(Ingest.seriesIndex(wide)))
    // rare: routed (plan has the semi-join, counter increments)
    val rare = indexed.rangeQuery("""pw{job=~"j07"}""", 0, 10 * m, m)
    assert(rare.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
      "rare matcher did not engage the semi-join")
    assert(indexed.routeHits.get("index_semi").get() >= 1)
    // broad: declined (no semi-join stage, decline counted), results
    // still identical to the plain path — the gate is pure cost
    val broad = indexed.rangeQuery("""pw{job=~"j.*"}""", 0, 10 * m, m)
    assert(!broad.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
      "broad matcher engaged the semi-join past the gate")
    assert(indexed.routeHits.get("index_semi_declined").get() >= 1,
      "decline was not counted")
    assert(asSet(broad) ==
      asSet(plain.rangeQuery("""pw{job=~"j.*"}""", 0, 10 * m, m)))
    assert(asSet(rare) ==
      asSet(plain.rangeQuery("""pw{job=~"j07"}""", 0, 10 * m, m)))
  }

  test("series and label-values APIs route through the index too") {
    val (plain, indexed) = engines
    assert(plain.series("""{job=~"a.*"}""").toSet ==
      indexed.series("""{job=~"a.*"}""").toSet)
    assert(plain.labelValues("job").toSet == indexed.labelValues("job").toSet)
    // proof the unbounded metadata path is index-ONLY: an engine whose
    // samples frame is empty still answers from the index
    val indexOnly = new PromQLEngine(spark, fixture.filter(lit(false)),
      seriesIndex = Some(Ingest.seriesIndex(fixture)))
    assert(indexOnly.series("px").size == 3)
    assert(indexOnly.labelValues("job").toSet == Set("api", "web"))
    // time-BOUNDED series() must consult samples and go empty
    assert(indexOnly.series("px", startMs = Some(0L)).isEmpty)
  }

  test("the tiers compose: chunk store + series index + fold partials " +
      "in one engine, identical to the plain path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compose").toString
    graft.storage.ChunkStore.write(fixture, dir)
    val decoded = graft.storage.ChunkStore.read(spark, dir)
    val eng = new PromQLEngine(spark, decoded,
      partialsLadder = Seq((Ingest.foldPartials(decoded, 5 * m), 5 * m)),
      seriesIndex = Some(Ingest.seriesIndex(decoded)))
    val (plain, _) = engines
    for (q <- Seq("""sum by (job) (count_over_time(px[10m]))""",
        """px{job="api"}""", "py")) {
      assert(asSet(eng.rangeQuery(q, 10 * m, 55 * m, 5 * m)) ==
        asSet(plain.rangeQuery(q, 10 * m, 55 * m, 5 * m)),
        s"$q diverged on the composed tiers")
    }
  }

  test("appendSeriesIndex upserts incrementally and is idempotent " +
      "under replay") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-sidx").toString
    val b1 = fixture.filter(col("labels")("__name__") === "px")
    val b2 = fixture // superset: px series repeat, py is new
    Ingest.appendSeriesIndex(b1, path)
    assert(spark.read.parquet(path).count() == 3)
    Ingest.appendSeriesIndex(b2, path)
    assert(spark.read.parquet(path).count() == 4)
    Ingest.appendSeriesIndex(b2, path) // replayed batch: no-op
    assert(spark.read.parquet(path).count() == 4)
    // a dir holding only underscore-hidden leftovers (a _temporary
    // parquet from a crashed append) must read as "no data": probing
    // it as data would fail schema inference on the visible file set
    val ghost = java.nio.file.Files
      .createTempDirectory("graft-sidx-ghost").toString
    val hidden = new java.io.File(s"$ghost/_leftovers")
    hidden.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$ghost/_leftovers/part-0.parquet"),
      Array[Byte](1, 2, 3))
    Ingest.appendSeriesIndex(b1, ghost)
    assert(spark.read.parquet(ghost).count() == 3)
    // the persisted index serves an engine like the in-memory one
    val eng = new PromQLEngine(spark, fixture,
      seriesIndex = Some(spark.read.parquet(path)))
    val (plain, _) = engines
    assert(asSet(eng.rangeQuery("px", 10 * m, 55 * m, 5 * m)) ==
      asSet(plain.rangeQuery("px", 10 * m, 55 * m, 5 * m)))
    // compaction rewrites the per-batch file fragments into bounded
    // sig-partitioned files with content unchanged
    val before = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getMap[String, String](1).toMap)).toSet
    Ingest.compactSeriesIndex(spark, path)
    val after = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getMap[String, String](1).toMap)).toSet
    assert(after == before, "compaction changed index content")
    assert(new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet")) <= Ingest.SeriesBuckets)
  }

  test("without a stored sig the engine falls back to per-row filters") {
    val noSig = fixture.drop("sig")
    val eng = new PromQLEngine(spark, noSig,
      seriesIndex = Some(Ingest.seriesIndex(noSig)))
    val (plain, _) = engines
    assert(asSet(eng.rangeQuery("""px{job="api"}""", 10 * m, 55 * m, 5 * m)) ==
      asSet(plain.rangeQuery("""px{job="api"}""", 10 * m, 55 * m, 5 * m)))
  }
}
