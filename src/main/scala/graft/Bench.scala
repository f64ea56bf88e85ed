package graft
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one JSON line with per-query seconds.
  *
  * Each query runs once cold plus three warm, reporting the warm
  * MEDIAN: a 29-step range query has a ~0.5s Spark job-scheduling
  * floor when cold, which swamps the plan cost being measured (the
  * round-1 numbers were overhead-dominated for 21 of 49 queries); a
  * single warm run still absorbs one-off costs that are not the
  * plan's — codegen compilation and the lazily-materialized adapter
  * cache land on whichever query touches them first (round-2's
  * second-run numbers put 3.5s on a2_avg whose steady state is 0.7s);
  * and best-of-two still let one GC/compaction collision shift a
  * sub-second query 2-3× (round-3's g2_floor read 2.5s against an
  * identical-plan 0.8s twin). The total is the sum of warm medians;
  * `cold_sec` carries the first-run sum.
  *
  * Round-4 postmortem: the official run landed in a session-wide
  * contention storm (map-only x4 read 2.0s against a 0.17s steady
  * state; three 10s medians none of which reproduced in a clean
  * session) and the median-of-five escalation could not save it
  * because ALL draws were poisoned. Two defenses landed for round 5:
  *   1. every draw is recorded in bench_full.json so a contaminated
  *      run is adjudicable from the artifact alone, and
  *   2. a fixed-work CALIBRATION PROBE runs after each query's warm
  *      draws; when the probe reads >1.5× its session-start baseline
  *      the host was contended during those draws, so the harness
  *      GCs, sleeps, and re-draws (up to two retries) rather than
  *      report the storm as the plan's cost.
  */
/** Renders the one-line bench JSON. Factored out of [[Bench]] so a
  * unit test can pin the line length below the driver's ~2000-char
  * stdout tail window without running Spark.
  */
object BenchFormat {
  /** One query's full measurement record: every warm draw taken
    * (across retries), the probe ratio that accepted the final batch
    * (the MAX of the bracketing before/after probes), how many
    * contended batches were discarded, and whether the entry serves
    * from a memoized artifact ([[graft.SparkEntry.memoizedEntries]] —
    * flagged so near-identical draws on those rows are read as
    * memo-serving, not as a suspiciously stable live plan). `failed`
    * marks a row where any draw threw: its times measure the failure,
    * not the query.
    */
  final case class Rec(name: String, cold: Double, warm: Double,
      draws: Seq[Double], probeRatio: Double, retries: Int,
      memoized: Boolean = false, stormed: Boolean = false,
      failed: Boolean = false)

  /** One interleaved throughput window: the light-only and mixed
    * figures plus, for EACH half, the max bracketing-probe ratio that
    * accepted it and how many contended halves were discarded first —
    * the storm evidence the serial section has carried since r5 — and
    * how many light-thread and heavy-thread queries THREW in the two
    * accepted halves (a heavy query that fails at once frees its
    * slots, so the mixed figure would otherwise read as light-only
    * throughput with nothing flagged). */
  final case class QpsWindow(light: Double, mixed: Double,
      lightRatio: Double, mixedRatio: Double,
      lightRetries: Int = 0, mixedRetries: Int = 0,
      lightStormed: Boolean = false, mixedStormed: Boolean = false,
      lightFailed: Long = 0, heavyFailed: Long = 0)

  /** Shortest-unique underscore-token prefix per query name:
    * `a1_sum` → `a1`, but `f1_rate`/`f1_delta` keep their second token
    * because `f1` alone would collide. Deterministic given the name
    * set; the full mapping is recoverable from bench_full.json.
    */
  def shortKeys(names: Seq[String]): Map[String, String] = {
    names.map { n =>
      val toks = n.split('_')
      val cand = (1 to toks.length).iterator
        .map(k => toks.take(k).mkString("_"))
        .find(c => !names.exists(m =>
          m != n && m.split('_').take(c.count(_ == '_') + 1)
            .mkString("_") == c))
        .getOrElse(n)
      n -> cand
    }.toMap
  }
  private def r2(d: Double): String =
    "%.2f".formatLocal(java.util.Locale.ROOT, d)
  private def r3(d: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, d)

  /** The driver-contract stdout line: abbreviated keys, centisecond
    * values. < 1800 chars for the current query set (unit-asserted).
    */
  def line(results: Seq[(String, Double, Double)], coldTotal: Double,
      qps: Double, mixedQps: Double, sfNum: String,
      qpsStormed: Boolean = false): String = {
    val short = shortKeys(results.map(_._1))
    // adaptive precision: centiseconds under 10s, whole seconds above —
    // the worst-case line width is what the driver's ~2000-char stdout
    // window bounds (132 entries at 1-decimal ≥10s widths overran the
    // 1800 budget), and a ≥10s reading doesn't need sub-second digits
    // on the stdout line at all: bench_full.json keeps ms precision
    def rq(d: Double) =
      if (d < 9.995) r2(d)
      else "%.0f".formatLocal(java.util.Locale.ROOT, d)
    val qs = results.map { case (k, _, w) => "\"" + short(k) + "\":" + rq(w) }
      .mkString("{", ",", "}")
    val total = results.map(_._3).sum
    // r16: the serial rows have carried machine-readable storm stamps
    // since r15, but the TOP-LEVEL instant_qps/mixed_qps maxima could
    // still ship from a window half whose redraws were exhausted with
    // the probe hot, with nothing on the headline saying so — mirror
    // the serial convention with one flag when ANY half shipped stormed
    val storm = if (qpsStormed) ",\"qps_stormed\":true" else ""
    s"""{"metric":"total","value":${r2(total)},"unit":"sec","queries":$qs,"cold_sec":${r2(coldTotal)},"instant_qps":${r2(qps)},"mixed_qps":${r2(mixedQps)}$storm,"sf":$sfNum}"""
  }

  /** Full-name, ms-precision record written beside the build as
    * bench_full.json: per query the accepted cold/warm figures PLUS
    * every individual warm draw (retries included, in draw order) and
    * the calibration-probe ratio that accepted the final batch — so a
    * contended run is diagnosable from the artifact without re-running
    * (round 4's three 10-second medians could not be adjudicated
    * noise-vs-plan from a single recorded median).
    */
  def fullJson(recs: Seq[Rec], coldTotal: Double, qps: Double,
      mixedQps: Double, sfNum: String, probeBaseline: Double,
      prepSec: Double = 0.0,
      qpsWindows: Seq[QpsWindow] = Nil): String = {
    val qs = recs.map { r =>
      val draws = r.draws.map(r3).mkString("[", ",", "]")
      "\"" + r.name + "\":{\"warm\":" + r3(r.warm) +
        ",\"cold\":" + r3(r.cold) + ",\"draws\":" + draws +
        ",\"probe_ratio\":" + r2(r.probeRatio) +
        ",\"retries\":" + r.retries +
        (if (r.memoized) ",\"memoized\":true" else "") +
        // r15: a row whose 2 redraws were exhausted with the probe
        // still >1.5× baseline shipped a STORMED median — flagged so
        // cross-round driver-line comparisons can filter mechanically
        // instead of digging through draw arrays (the r14 m8/m9 rows)
        (if (r.stormed) ",\"stormed\":true" else "") +
        (if (r.failed) ",\"failed\":true" else "") + "}"
    }.mkString("{", ",", "}")
    val total = recs.map(_.warm).sum
    // every interleaved (light, mixed) throughput window, in run
    // order, WITH the max bracketing-probe ratio that accepted each
    // half and its retry count (r14: the r13 driver run's qps windows
    // decayed 12.2 -> 2.4 -> 2.1 q/s and the artifact could not
    // adjudicate storm vs regression — now each window carries the
    // same contention evidence the serial batches have had since r5):
    // [light, mixed, light_ratio, mixed_ratio, light_retries,
    //  mixed_retries, light_stormed, mixed_stormed, light_failed,
    //  heavy_failed] — the stormed pair is 0/1 (r15): 1 marks a half
    // whose redraws were exhausted with the probe still >1.5×, i.e.
    // the figure shipped stormed; the failed pair counts the light-
    // and heavy-thread queries that threw in the accepted halves
    val wins = qpsWindows
      .map { w => "[" + r2(w.light) + "," + r2(w.mixed) + "," +
        r2(w.lightRatio) + "," + r2(w.mixedRatio) + "," +
        w.lightRetries + "," + w.mixedRetries + "," +
        (if (w.lightStormed) 1 else 0) + "," +
        (if (w.mixedStormed) 1 else 0) + "," +
        w.lightFailed + "," + w.heavyFailed + "]" }
      .mkString("[", ",", "]")
    // top-level mirror of the per-window stormed flags (r16): true iff
    // any accepted half exhausted its redraws with the probe >1.5×
    val storm =
      if (qpsWindows.exists(w => w.lightStormed || w.mixedStormed))
        ",\"qps_stormed\":true"
      else ""
    s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"cold_sec":${r3(coldTotal)},"instant_qps":${r3(qps)},"mixed_qps":${r3(mixedQps)}$storm,"qps_windows":$wins,"probe_baseline_ms":${r3(probeBaseline * 1000)},"fixture_prep_sec":${r3(prepSec)},"sf":$sfNum}"""
  }
}

object Bench {
  /** Fixed-work single-thread calibration probe (~40ms uncontended on
    * this class of host): a xorshift64* reduction whose result is
    * published to a volatile sink so the JIT cannot elide it. When the
    * host is contended — another session's GC storm, a noisy
    * neighbor — this fixed work stretches by the same time-slicing
    * factor the query draws just suffered, which is exactly the signal
    * the harness needs to discard those draws.
    */
  @volatile private var sink: Long = 0L
  def probeOnce(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var acc = 0L
    var i = 0
    while (i < 20000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545f4914f6cdd1dL
      i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // a PREVIOUS run's contract line must not survive a crash of this
    // one: a driver that falls back to the file (the reason it exists)
    // would otherwise read stale timings as this run's results
    try java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get("bench_line.json"))
    catch { case _: Throwable => () }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // FAIR scheduling, mirroring the serving deployment
      // (graft.tools.Serve + HttpApi's per-query pools): the serial
      // per-query medians are unaffected (one job at a time), but the
      // concurrent qps sections share task slots round-robin across
      // query threads — each thread below pins its own on-demand pool
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // probe baseline: min of 7 draws AFTER JIT warmup — min, not
    // median, because the baseline wants the UNCONTENDED cost and any
    // upward noise in it would mask real contention later
    (0 until 3).foreach(_ => probeOnce())
    val probeBaseline = Seq.fill(7)(probeOnce()).min
    // derived stores (bucketed table, rollup rungs, chunk store,
    // recorded rules) are ingest-side artifacts in the deployments the
    // entries model — build them OUTSIDE the timed draws so a cold
    // figure measures the query, not a 13–19 s one-time fixture build
    // landing on whichever query touches it first (r4's r1 row)
    val prepSec = time { SparkEntry.prepareFixtures(spark, sfDir) }
    // median of three warm runs (escalating to five when the three
    // disagree by >2.5×, see scaladoc), each batch BRACKETED by
    // calibration probes: a ratio >1.5× baseline on EITHER side means
    // the host was (or may have been) contended while those draws ran,
    // so the batch is discarded and re-drawn after a GC + settle pause
    // (up to 2 retries). A trailing-only probe accepts a batch whose
    // contention storm ended just before the probe ran — the leading
    // probe closes that gap; the recorded probe_ratio is the max of
    // the accepted batch's two brackets. Round 4's storm poisoned all
    // draws of 3 queries at 10s each — under this scheme those batches
    // would have been rejected and re-drawn post-storm.
    val recs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // a throwing draw still yields a time (the row stays in the
      // contract line) but stamps the row failed in bench_full.json
      var failed = false
      def draw(): Double = time {
        try fn(spark, sfDir).count()
        catch { case NonFatal(_) => failed = true }
      }
      val cold = draw()
      def drawBatch(): Seq[Double] = {
        val warms = Seq.fill(3)(draw())
        if (warms.min > 0.05 && warms.max > 2.5 * warms.min)
          warms ++ Seq.fill(2)(draw())
        else warms
      }
      var allDraws = Vector.empty[Double]
      var pre = probeOnce() / probeBaseline
      var batch = drawBatch()
      allDraws ++= batch
      var post = probeOnce() / probeBaseline
      var ratio = math.max(pre, post)
      var retries = 0
      while (ratio > 1.5 && retries < 2) {
        System.gc()
        Thread.sleep(250)
        retries += 1
        pre = probeOnce() / probeBaseline
        batch = drawBatch()
        allDraws ++= batch
        post = probeOnce() / probeBaseline
        ratio = math.max(pre, post)
      }
      val warm = batch.sorted.apply(batch.size / 2)
      BenchFormat.Rec(name, cold, warm, allDraws, ratio, retries,
        memoized = SparkEntry.memoizedEntries.contains(name),
        // redraws exhausted with the probe still hot: the reported
        // median is storm-contaminated — stamp it machine-readably
        stormed = ratio > 1.5, failed = failed)
    }
    val results = recs.map(r => (r.name, r.cold, r.warm))
    // settle before the throughput section: the serial section leaves
    // promoted garbage from ~120 queries × 4+ draws; a full GC here
    // keeps the first qps window from paying the collection
    System.gc()
    // concurrent instant-query throughput: the reference's SLA anchor is
    // ≥5 queries/s on a 5-node cluster (docs/assumptions.md:48); this
    // drives light selector/metadata queries from 8 client threads for
    // ~5 s against the warm session and reports completions/second
    val lightNames = Seq("p2_instant_selector", "s4_scan",
      "s8_label_values", "g10_time").filter(SparkEntry.queries.contains)
    // `heavy` = 0: light-only throughput (the reference's ≥5 q/s SLA
    // anchor). `heavy` > 0: that many extra threads saturate the
    // engine with a heavy range query while the light clients run —
    // shows the 20-slot admission gate keeps light-query throughput
    // bounded under mixed load (the reference's 20-concurrent
    // envelope), rather than letting one expensive query starve the
    // instant path.
    // Returns (completions/s, light failures, heavy failures).
    def runQps(heavy: Int, windowSec: Long = 5): (Double, Long, Long) = {
      val stopAt = System.nanoTime() + windowSec * 1000 * 1000 * 1000
      val done = new java.util.concurrent.atomic.AtomicLong(0)
      val lightFailed = new java.util.concurrent.atomic.AtomicLong(0)
      val heavyFailed = new java.util.concurrent.atomic.AtomicLong(0)
      val lightThreads = (0 until 8).map { k =>
        new Thread(() => {
          spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", s"bench-light-$k")
          var i = k
          while (System.nanoTime() < stopAt) {
            val name = lightNames(i % lightNames.length)
            // only a SUCCESSFUL count() is a completion — a failing
            // query must not inflate the reported throughput, and is
            // counted so the window can be read as failed
            try { SparkEntry.queries(name)(spark, sfDir).count()
                  done.incrementAndGet() }
            catch { case NonFatal(_) => lightFailed.incrementAndGet() }
            i += 1
          }
        })
      }
      val heavyThreads = (0 until heavy).map { h =>
        new Thread(() => {
          spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", s"bench-heavy-$h")
          while (System.nanoTime() < stopAt) {
            try SparkEntry.queries("p7_fine_grid")(spark, sfDir).count()
            catch { case NonFatal(_) => heavyFailed.incrementAndGet() }
          }
        })
      }
      val t0 = System.nanoTime()
      (lightThreads ++ heavyThreads).foreach(_.start())
      (lightThreads ++ heavyThreads).foreach(_.join())
      (done.get().toDouble / ((System.nanoTime() - t0) / 1e9),
        lightFailed.get(), heavyFailed.get())
    }
    // untimed warmup: the FIRST concurrent round pays scheduler/JIT
    // lazy-init that serial runs never touch (measured: a cold first
    // round reads 2× slower than the same load re-run) — without it
    // the light-only and mixed figures are not comparable
    runQps(0, windowSec = 3)
    // best of three windows: throughput CAPACITY is the quantity of
    // interest, and a single 5 s window can lose half its budget to
    // one GC/JIT stall (observed: a light-only window reading 21 q/s
    // while the HEAVIER mixed window right after it read 44) — and on
    // a virtualized host a whole two-window sequence can land in a
    // noisy-neighbor patch (observed: back-to-back runs reading 38
    // and 78 q/s with identical binaries and an idle guest)
    // …and INTERLEAVE the light and mixed windows: three consecutive
    // windows of one kind all land inside a single ~15 s noisy patch
    // (observed: a mixed best-of-three reading 3.4 q/s between two
    // runs reading 48 and 65 with identical binaries); alternating
    // means a patch must span the whole sequence to poison either max
    // …and (r14) BRACKET each half with the calibration probe, like
    // the serial batches: a half whose pre/post probe ratio exceeds
    // 1.5× baseline ran on a (possibly) contended host, so it is
    // discarded and redrawn after a GC + settle pause (up to 2
    // retries), and the accepted ratio + retry count land in
    // bench_full.json per window — the r13 driver run's monotonically
    // decaying windows (12.2 → 2.4 → 2.1 q/s against same-day clean
    // draws of 61–64) could not be adjudicated storm-vs-regression
    // from the artifact; now they can (two clean HEAD re-runs showed
    // no decay: stable 55–64 q/s windows, see SCALE.md r14).
    def qpsHalf(heavy: Int): ((Double, Long, Long), Double, Int, Boolean) = {
      var pre = probeOnce() / probeBaseline
      var q = runQps(heavy)
      var post = probeOnce() / probeBaseline
      var ratio = math.max(pre, post)
      var retries = 0
      while (ratio > 1.5 && retries < 2) {
        System.gc()
        Thread.sleep(250)
        retries += 1
        pre = probeOnce() / probeBaseline
        q = runQps(heavy)
        post = probeOnce() / probeBaseline
        ratio = math.max(pre, post)
      }
      (q, ratio, retries, ratio > 1.5)
    }
    val windows = Seq.fill(3) {
      val ((l, lf, _), lr, lt, ls) = qpsHalf(0)
      val ((x, xlf, xhf), xr, xt, xs) = qpsHalf(2)
      BenchFormat.QpsWindow(l, x, lr, xr, lt, xt, ls, xs,
        lightFailed = lf + xlf, heavyFailed = xhf)
    }
    val qps = windows.map(_.light).max
    val mixedQps = windows.map(_.mixed).max
    val coldTotal = results.map(_._2).sum
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("0")
    // The driver captures only the LAST ~2000 chars of stdout: the
    // r2/r3 lines (full names, ms precision, 100+ queries) overran the
    // window, truncating the line's HEAD — the driver recorded
    // `parsed: null` both rounds. The stdout line therefore uses
    // shortest-unique key abbreviations and centisecond values
    // (BenchFormat guarantees < 1800 chars); the full-name
    // full-precision map goes to bench_full.json beside the build.
    val qpsStormed =
      windows.exists(w => w.lightStormed || w.mixedStormed)
    val line = BenchFormat.line(results, coldTotal, qps, mixedQps, sfNum,
      qpsStormed)
    val full = BenchFormat.fullJson(recs, coldTotal, qps, mixedQps, sfNum,
      probeBaseline, prepSec, windows)
    try {
      val p = java.nio.file.Paths.get("bench_full.json")
      java.nio.file.Files.write(p, full.getBytes("UTF-8"))
    } catch { case _: Throwable => () } // stdout line is the contract
    // r17: the driver-side parser has returned null on the stdout line
    // every round (the sbt "[info] " prefix) — ALSO write the exact
    // contract line to a fixed path beside the build, additions-only
    try {
      val p = java.nio.file.Paths.get("bench_line.json")
      java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    println(line)
    spark.stop()
  }
}
