package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.exec.PromQLEngine
import graft.model.Samples
import graft.storage.{ChunkStore, Ingest}

/** Two-scale tier bench for the PromQL acceleration surface (SCALE.md
  * §6 "Tier scale points"): runs the headline bench rows (a1, c1/c2,
  * f1, p2/p3, and the tier-routed p9/p10/s11/s13 shapes) on a base
  * corpus AND a `tools/gen_scale.py` k×-series corpus, against BOTH a
  * raw engine and a fully-tiered engine (hourly fold-partials + daily
  * ladder rung + series index; chunk store for the s11 row), and
  * records WHICH tier served each evaluation from the engine's route
  * counters — the same `ConcurrentHashMap` `/metrics` exports as
  * `graft_engine_route_total`, re-scraped over live HTTP at the end
  * so the counter surface itself is exercised.
  *
  * Usage: runMain graft.tools.TierScaleBench <dir> [dir2 ...]
  * e.g.   /root/testdata/sf0.1 /root/repo/tmpdata/sf0.1x10
  *
  * Methodology matches the bench: cold run first (plan + codegen +
  * store-read warmup), then median of three warm draws. Tier stores
  * are parquet-materialized per corpus before any timing (build cost
  * reported separately — it is ingest/compaction cost, not query
  * cost). */
object TierScaleBench {

  private val T0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val DAY = 86400000L
  private val HOUR = 3600000L
  private val START = T0 + DAY
  private val END = T0 + 29 * DAY

  /** (row, promql, start, end, step) — the bench's headline PromQL
    * shapes (SparkEntry's grids, verbatim). */
  private val battery = Seq(
    ("a1_sum", "sum by (event_type) (count_over_time(events_value[1d]))",
      START, END, DAY),
    ("c1_topk_rate", "topk(2, sum by (event_type) (rate(events_value[2d])))",
      START, END, DAY),
    ("c2_rate_share", "sum by (event_type) (rate(events_value[2d])) " +
      "/ on() group_left sum(rate(events_value[2d]))", START, END, DAY),
    ("f1_rate", "rate(events_value[2d])", START, END, DAY),
    ("p2_instant", "events_value{event_type=~\"click|view\"}",
      START, START + 6 * HOUR, 60000L),
    ("p3_range_count", "count_over_time(events_value[1d])",
      START, END, DAY),
    // p9 shape: p3's fold on a 12h grid — hourly-rung aligned
    ("p9_fold_12h", "count_over_time(events_value[1d])",
      START, END, DAY / 2),
    // p10 shape: daily-aligned 2d fold — coarsest (daily) rung
    ("p10_ladder_2d", "sum_over_time(events_value[2d])",
      START, END, DAY))

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("tier-scale-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dirs.foreach(run(spark, _))
    spark.stop()
  }

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Cold + median-of-three-warm for one engine query; returns
    * (cold, warmMedian, routesTouched) where routes are the NEW
    * route-counter keys this query's evaluations incremented. */
  private def measure(eng: PromQLEngine,
      q: (String, String, Long, Long, Long)): (Double, Double, String) = {
    val (_, promql, s, e, st) = q
    def once(): Unit = eng.rangeQuery(promql, s, e, st).count()
    val before = snapshot(eng)
    val cold = time(once())
    val warms = Seq.fill(3)(time(once()))
    val after = snapshot(eng)
    val routes = after.map { case (k, v) =>
      k -> (v - before.getOrElse(k, 0L))
    }.filter(_._2 > 0).toSeq.sortBy(-_._2)
      .map { case (k, v) => s"$k x$v" }.mkString(",")
    (cold, warms.sorted.apply(1), if (routes.isEmpty) "-" else routes)
  }

  private def snapshot(eng: PromQLEngine): Map[String, Long] = {
    val m = scala.collection.mutable.Map[String, Long]()
    eng.routeHits.forEach((k, v) => m(k) = v.get())
    m.toMap
  }

  private def run(spark: SparkSession, dir: String): Unit = {
    println(s"==== corpus $dir ====")
    val samples = Samples.fromEventsDir(spark, dir)
    val nSamples = samples.count()
    val nSeries = samples.select("sig").distinct().count()
    println(f"samples $nSamples%d  series $nSeries%d")

    // ---- tier store builds (ingest-side cost, timed separately) ----
    // every store lives in a temp dir removed when the corpus is done
    val stores = scala.collection.mutable.ArrayBuffer.empty[String]
    def tmp(tag: String) = {
      val p = java.nio.file.Files.createTempDirectory(s"tierbench-$tag").toString
      stores += p
      p
    }
    try measureCorpus(spark, samples, tmp)
    finally stores.foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  private def measureCorpus(spark: SparkSession, samples: DataFrame,
      tmp: String => String): Unit = {
    var hourlyP: DataFrame = null; var dailyP: DataFrame = null
    var index: DataFrame = null; var chunkDir: String = null
    val tHourly = time {
      val p = tmp("hourly")
      Ingest.foldPartials(samples, HOUR).write.mode("overwrite").parquet(p)
      hourlyP = spark.read.parquet(p)
    }
    val tDaily = time {
      val p = tmp("daily")
      Ingest.foldPartials(samples, DAY).write.mode("overwrite").parquet(p)
      dailyP = spark.read.parquet(p)
    }
    val tIndex = time {
      val p = tmp("index")
      Ingest.seriesIndex(samples).write.mode("overwrite").parquet(p)
      index = spark.read.parquet(p)
    }
    val tChunk = time {
      chunkDir = tmp("chunks")
      ChunkStore.write(samples, chunkDir)
    }
    println(f"tier builds: hourly $tHourly%.1f s  daily $tDaily%.1f s  " +
      f"index $tIndex%.1f s  chunks $tChunk%.1f s")

    val raw = new PromQLEngine(spark, samples)
    val tiered = new PromQLEngine(spark, samples,
      partialsLadder = Seq((hourlyP, HOUR), (dailyP, DAY)),
      seriesIndex = Some(index))

    println(f"${"row"}%-16s ${"raw-warm"}%9s ${"tier-warm"}%9s  route")
    for (q <- battery) {
      val (_, rawWarm, _) = measure(raw, q)
      val (_, tierWarm, route) = measure(tiered, q)
      println(f"${q._1}%-16s $rawWarm%8.2fs $tierWarm%8.2fs  $route")
    }
    // s11: the p3 row over the chunk layout (decode-on-scan)
    val chunkEng = new PromQLEngine(spark, ChunkStore.read(spark, chunkDir))
    val (_, s11Warm, s11Route) = measure(chunkEng, battery(5))
    println(f"${"s11_chunk_p3"}%-16s ${"-"}%9s $s11Warm%8.2fs  $s11Route")
    // s13 rows, three matcher classes on the tiered engine (whose
    // series index is its series dimension): an EQUALITY matcher, a
    // BROAD regex (2 of 5 event types ≈ 40% of series) and a RARE
    // regex (3 user ids ≈ 0.2-2%); every class filters the scan it
    // reads
    val s13eq = ("s13_eq_match",
      "count_over_time(events_value{event_type=\"click\"}[1d])",
      START, END, DAY)
    val s13broad = ("s13_broad_regex",
      "count_over_time(events_value{event_type=~\"click|view\"}[1d])",
      START, END, DAY)
    val s13rare = ("s13_rare_regex",
      "count_over_time(events_value{user_id=~\"1[0-2]\"}[1d])",
      START, END, DAY)
    for (q <- Seq(s13eq, s13broad, s13rare)) {
      val (_, s13Raw, _) = measure(raw, q)
      val (_, s13Tier, s13Route) = measure(tiered, q)
      println(f"${q._1}%-16s $s13Raw%8.2fs $s13Tier%8.2fs  $s13Route")
    }

    // ---- the counters ARE the /metrics surface: scrape them live ----
    val api = new graft.api.HttpApi(spark, tiered)
    api.start()
    try {
      val url = new java.net.URI(
        s"http://127.0.0.1:${api.boundPort}/metrics").toURL
      val body = new String(url.openStream().readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      body.linesIterator
        .filter(_.startsWith("graft_engine_route_total"))
        .foreach(println)
    } finally api.stop()
  }
}
