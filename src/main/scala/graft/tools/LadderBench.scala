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
  * rung). SCALE.md §6 quotes the output. Not a contract surface. */
object LadderBench {
  def main(args: Array[String]): Unit = {
    val nSeries = args.headOption.map(_.toInt).getOrElse(400)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
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
    spark.range(n).select(
      map(lit("__name__"), lit("m"),
        lit("s"), (col("id") % nSeries).cast("string")).as("labels"),
      (expr(s"id DIV $nSeries") * cadMs).as("t"),
      pmod(expr(s"id DIV $nSeries") + col("id") % 37, lit(9973))
        .cast("double").as("v"),
      lit(false).as("stale"))
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
    for (q <- Seq("sum_over_time(m[6h])", "rate(m[6h])", "irate(m[6h])")) {
      val tR = med3(eRaw.rangeQuery(q, start, end, step).count())
      val tF = med3(eFine.rangeQuery(q, start, end, step).count())
      val tL = med3(eLadder.rangeQuery(q, start, end, step).count())
      println(f"$q%-24s raw=$tR%.2f p1m=$tF%.2f ladder(1h)=$tL%.2f " +
        f"vs_raw=${tR / tL}%.1fx")
    }
    spark.stop()
  }
}
