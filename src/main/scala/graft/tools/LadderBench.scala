package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.exec.PromQLEngine
import graft.storage.Ingest

/** Measures the resolution ladder on a DENSE corpus (the regime the
  * fixture cannot exercise: its series are sparser than any bucket).
  * Synthesizes a scrape-shaped table — series × 15 s cadence × 48 h —
  * writes it plus 1 m and 1 h partials rungs to parquet, and times the
  * same aligned queries through the raw engine, the 1 m rung, and the
  * full ladder (1 m + 1 h, which routes hourly-step queries to the 1 h
  * rung; the `p1m` column is the 1 m rung at q = step/bucket = 60).
  * The instant-selector rows (`m`, `sum(m)` at 60 s and 300 s steps,
  * q = 1 and 5 on the 1 m rung) are the `select_partials` A/B: every
  * 97th series ends with a staleness marker, and each answer is
  * checked against the raw engine's, row for row, before it is timed.
  * The session runs on every available core. SCALE.md §6 quotes the
  * output. Not a contract surface. */
object LadderBench {
  def main(args: Array[String]): Unit = {
    val nSeries = args.headOption.map(_.toInt).getOrElse(400)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cadMs = 15000L
    val hours = 48
    val perSeries = hours * 3600000L / cadMs
    val n = nSeries * perSeries
    val tmp = java.nio.file.Files.createTempDirectory("graft-ladder").toString
    // counter-ish values with resets so the rate family has work to do
    // `id / n` is DOUBLE division in Spark — use DIV for an exact long t
    def labels(s: org.apache.spark.sql.Column) =
      map(lit("__name__"), lit("m"), lit("s"), s.cast("string")).as("labels")
    spark.range(n).select(
      labels(col("id") % nSeries),
      (expr(s"id DIV $nSeries") * cadMs).as("t"),
      pmod(expr(s"id DIV $nSeries") + col("id") % 37, lit(9973))
        .cast("double").as("v"),
      lit(false).as("stale"))
      // every 97th series ends with a staleness marker
      .unionByName(spark.range(0, nSeries, 97).select(labels(col("id")),
        lit(perSeries * cadMs).as("t"), lit(Double.NaN).as("v"),
        lit(true).as("stale")))
      .write.mode("overwrite").parquet(s"$tmp/raw")
    val raw = spark.read.parquet(s"$tmp/raw")
    Ingest.foldPartials(raw, 60000L)
      .write.mode("overwrite").parquet(s"$tmp/p1m")
    Ingest.foldPartials(raw, 3600000L)
      .write.mode("overwrite").parquet(s"$tmp/p1h")
    val p1m = spark.read.parquet(s"$tmp/p1m")
    val p1h = spark.read.parquet(s"$tmp/p1h")
    println(s"rows raw=${raw.count()} p1m=${p1m.count()} p1h=${p1h.count()}")

    val eRaw = new PromQLEngine(spark, raw)
    val eFine = new PromQLEngine(spark, raw,
      partialsLadder = Seq((p1m, 60000L)))
    val eLadder = new PromQLEngine(spark, raw,
      partialsLadder = Seq((p1m, 60000L), (p1h, 3600000L)))
    val h = 3600000L
    val (start, end, step) = (6 * h, 47 * h, h)
    def med3(f: => Unit): Double = {
      f
      Seq.fill(3) {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.sorted.apply(1)
    }
    for (q <- Seq("sum_over_time(m[6h])", "rate(m[6h])", "irate(m[6h])",
        "idelta(m[6h])")) {
      val tR = med3(eRaw.rangeQuery(q, start, end, step).count())
      val tF = med3(eFine.rangeQuery(q, start, end, step).count())
      val tL = med3(eLadder.rangeQuery(q, start, end, step).count())
      println(f"$q%-24s raw=$tR%.2f p1m=$tF%.2f ladder(1h)=$tL%.2f " +
        f"vs_raw=${tR / tL}%.1fx")
    }
    // instant selectors at q = 1 and 5 on the 1 m rung, answers first
    def answer(e: PromQLEngine, q: String, st: Long) =
      e.rangeQuery(q, start, end, st).select(
        array_sort(map_entries(col("labels"))).as("l"), col("t"), col("v"))
    for (q <- Seq("m", "sum(m)"); st <- Seq(60000L, 300000L)) {
      val (a, b) = (answer(eRaw, q, st), answer(eFine, q, st))
      val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
      require(diff == 0, s"$q step=${st / 1000}s: $diff rows differ")
      val tR = med3(eRaw.rangeQuery(q, start, end, st).count())
      val tF = med3(eFine.rangeQuery(q, start, end, st).count())
      println(f"${s"$q @ ${st / 1000}s (q=${st / 60000})"}%-24s " +
        f"raw=$tR%.2f p1m=$tF%.2f rows=${a.count()} vs_raw=${tR / tF}%.2fx")
    }
    spark.stop()
  }
}
