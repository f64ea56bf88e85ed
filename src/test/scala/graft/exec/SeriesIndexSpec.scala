package graft.exec

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.model.Samples
import graft.storage.Ingest

/** The series index as the series dimension: an engine given
  * `Ingest.seriesIndex` answers metadata from it and filters every
  * sample scan with the selector's matchers, with results IDENTICAL to
  * a plain engine for every matcher type — staleness semantics
  * included. */
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
    // the index adds no route: both engines served the same routes
    assert(indexed.routeHits.keySet == plain.routeHits.keySet)
    // matchers filter the sample scan itself: no join against the
    // index, and the regex evaluates once, on the scan
    val plan = indexed.rangeQuery("""{__name__=~"p.*", job="api"}""",
      10 * m, 20 * m, 5 * m).queryExecution.optimizedPlan.toString
    assert(!plan.contains("LeftSemi"), s"semi-join in plan:\n$plan")
    assert("(?i)rlike".r.findAllIn(plan).size == 1,
      s"regex not evaluated exactly once in plan:\n$plan")
    // 40 series: a broad regex keeps every series, a rare one 1/40
    val wide = samplesDF(
      (0 until 40).map(i =>
        Map("__name__" -> "pw", "job" -> f"j$i%02d") ->
          (0 to 20).map(k => (k * 30000L, (i * 100 + k).toDouble))): _*)
      .withColumn("sig", Samples.sigExpr(col("labels")))
    val widePlain = new PromQLEngine(spark, wide)
    val wideIndexed = new PromQLEngine(spark, wide,
      seriesIndex = Some(Ingest.seriesIndex(wide)))
    for ((q, series) <- Seq("""pw{job=~"j.*"}""" -> 40, """pw{job=~"j07"}""" -> 1)) {
      val a = asSet(widePlain.rangeQuery(q, 0, 10 * m, m))
      assert(a == asSet(wideIndexed.rangeQuery(q, 0, 10 * m, m)),
        s"$q diverged between plain and indexed paths")
      assert(a.map(_._1).size == series, s"$q kept ${a.map(_._1).size} series")
    }
  }

  test("seeded random selectors: the forTable tier stack (series " +
      "index, chunk tier, 5 m rung) equals a plain engine bit for bit, " +
      "and each case is served by the route it targets") {
    val rnd = new scala.util.Random(11)
    // 2 metrics × 4 jobs × (inst = "a" | absent): integer counters at
    // a 30 s cadence over 2 h, resets, ~10 % gaps and a trailing
    // staleness marker. `mb` carries kind="b" so a cross-metric rate
    // keeps distinct label sets once the metric name drops.
    val df = samplesDF((for {
      name <- Seq("ma", "mb"); j <- 0 until 4; inst <- Seq(Some("a"), None)
    } yield {
      val labels = Map("__name__" -> name, "job" -> s"j$j") ++
        inst.map("inst" -> _) ++ (if (name == "mb") Map("kind" -> "b") else Map())
      var v = rnd.nextInt(50).toLong
      val pts = (0L until 120 * m by 30000L).flatMap { t =>
        if (rnd.nextInt(10) == 0) None
        else {
          v = if (rnd.nextInt(40) == 0) rnd.nextInt(5).toLong else v + rnd.nextInt(7)
          Some(t -> v.toDouble)
        }
      }
      labels -> (pts :+ (pts.last._1 + 30000L -> Samples.StaleNaN))
    }): _*).withColumn("sig", Samples.sigExpr(col("labels"))).cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-sel-prop").toString
    graft.storage.ChunkStore.write(df, dir)
    val decoded = graft.storage.ChunkStore.read(spark, dir)
    val rung = Ingest.foldPartials(df, 5 * m).cache()
    val plain = new PromQLEngine(spark, df)
    val tiered = new PromQLEngine(spark, df, partialsLadder = Seq((rung, 5 * m)),
      seriesIndex = Some(Ingest.seriesIndex(df)), chunkTier = Some(decoded))
    // a metric-name part that never matches the empty string (the
    // parser requires one) and 1-2 label matchers over a present
    // label, a sometimes-absent one and an absent one; the first
    // matcher cycles through every (operator, label) class
    val names = Seq("ma", "mb", """__name__=~"m[ab]"""", """__name__=~"ma|mx"""",
      """__name__=~"m.+"""")
    val labels = Seq("job", "inst", "zone")
    val values = Map("job" -> Seq("j0", "j1", "j[01]", "j.*", ""),
      "inst" -> Seq("a", "", "a|b", ".+"), "zone" -> Seq("", "z1", ".*", "z.+"))
    val ops = Seq("=", "!=", "=~", "!~")
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def matcher(l: String, op: String) = s"""$l$op"${pick(values(l))}""""
    val selectors = (0 until 12).map { i =>
      val ms = matcher(labels(i % 3), ops(i % 4)) +:
        Seq.fill(rnd.nextInt(2))(matcher(pick(labels), pick(ops)))
      val n = pick(names)
      if (n.startsWith("__name__")) (n +: ms).mkString("{", ", ", "}")
      else ms.mkString(s"$n{", ", ", "}")
    }
    // (grid, start) — the rung-aligned grid starts on a 5 m boundary,
    // the unaligned one 30 s past it; both step 5 m over 12 steps
    val grids = Seq("aligned" -> 30 * m, "unaligned" -> (30 * m + 30000L))
    var nonEmpty = 0
    try for (vs <- selectors; (grid, start) <- grids;
        (q, rungRoute, rawRoute) <- Seq(
          (vs, "select_partials", "raw_general"),
          (s"rate($vs[10m])", "rate_partials", "bucketed_query_time"),
          (s"count_over_time($vs[10m])", "fold_partials", "bucketed_query_time"))) {
      val ctx = s"$q on the $grid grid"
      val before = tiered.routeHits.asScala.map { case (k, v) => k -> v.get() }.toMap
      val b = asSet(tiered.rangeQuery(q, start, start + 12 * 5 * m, 5 * m))
      val served = tiered.routeHits.asScala.map { case (k, v) =>
        k -> (v.get() - before.getOrElse(k, 0L)) }.filter(_._2 > 0).toMap
      val a = asSet(plain.rangeQuery(q, start, start + 12 * 5 * m, 5 * m))
      assert(a == b, s"$ctx diverged")
      if (a.nonEmpty) nonEmpty += 1
      val want =
        if (grid == "aligned") Map(s"$rungRoute:${5 * m}" -> 1L)
        else Map(rawRoute -> 1L, "chunk_tier" -> 1L)
      assert(served == want, s"$ctx served by $served, want $want")
    } finally {
      rung.unpersist()
      df.unpersist()
    }
    assert(nonEmpty >= selectors.size, s"only $nonEmpty non-empty cases")
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
