package graft.api

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.exec.PromQLEngine
import graft.storage.Ingest

/** The live-write deployment must serve the SAME accelerated plans as
  * the read-only `Serve` modes: after every `/write`,
  * [[HttpApi.forTable]] upserts the series index and refreshes the
  * fold-partials rungs for the touched dates, then swaps in an engine
  * bound to both tiers — the analogue of the reference TSDB keeping
  * its head inverted index live during appends (`tsdb/head.go`,
  * `tsdb/index/postings.go:267-418`). */
class ForTableTiersSpec extends SparkTestBase {

  private val m = 60000L

  private def bits(e: PromQLEngine, q: String,
      start: Long, end: Long, step: Long) =
    e.rangeQuery(q, start, end, step)
      .select(col("labels")("k").as("k"), col("t"), col("v"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2))))
      .toSet

  test("forTable binds the series index and partials rungs, and a " +
      "write refreshes both before the engine swap") {
    val path = Files.createTempDirectory("api-table-tiers").toString
    val tApi = HttpApi.forTable(spark, path, rollups = Seq(5 * m))
    tApi.start()
    try {
      def postT(p: String, body: String): Int = {
        val url = new URI(s"http://127.0.0.1:${tApi.boundPort}$p").toURL
        val conn = url.openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes(UTF_8))
        conn.getResponseCode
      }
      // a counter with resets at 30s cadence across 2h — resets make
      // the p9 rate route's correction columns load-bearing
      val lines1 = (0 to 240).map(i =>
        s"""{"labels":{"__name__":"live_m","k":"a"},"t":${i * 30000L},"v":${(i * 7) % 100}}""")
        .mkString("\n")
      assert(postT("/api/v1/write", lines1) == 200)

      // the swapped-in engine carries both tiers
      val e1 = tApi.servingEngine
      assert(e1.hasSeriesIndex, "swapped engine lost the series index")
      assert(e1.partialsLadder.map(_._2) == Seq(5 * m),
        "swapped engine lost the partials rung")

      // s13 routing proof: the matcher resolves from the on-disk index
      // ALONE — an engine whose samples table is EMPTY still answers
      // series() because the unbounded path is index-only
      val idx = spark.read.parquet(s"$path/_index")
      val idxOnly = new PromQLEngine(spark, samplesDF(),
        seriesIndex = Some(idx))
      assert(idxOnly.series("""live_m{k="a"}""").nonEmpty,
        "matcher did not resolve via the index")

      // p9 routing proof (inverse witness, as PartialsRoutingSpec):
      // same samples but an EMPTY rung at the same bucket size → the
      // aligned rate returns NOTHING, so with the real rung bound the
      // rows can only be coming from the rung, not the raw path.
      // (A rung-only probe over empty samples cannot work — the
      // materialized routes join labels back through the samples-
      // derived series dimension.)
      val tableSamples = Ingest.readTable(spark, path)
      val emptyRung = Ingest.foldPartials(
        tableSamples.filter(lit(false)), 5 * m)
      val starved = new PromQLEngine(spark, tableSamples,
        partialsLadder = Seq((emptyRung, 5 * m)))
      assert(starved
        .rangeQuery("rate(live_m[10m])", 20 * m, 115 * m, 5 * m)
        .count() == 0, "aligned rate did not route to the rung")

      // ...and the served engine's routed results are bit-equal to a
      // raw-path engine over the same table
      val raw1 = new PromQLEngine(spark, Ingest.readTable(spark, path))
      for (q <- Seq("rate(live_m[10m])", "sum_over_time(live_m[10m])",
          "irate(live_m[10m])")) {
        val a = bits(raw1, q, 20 * m, 115 * m, 5 * m)
        val b = bits(e1, q, 20 * m, 115 * m, 5 * m)
        assert(a == b, s"$q diverged between raw and served engines")
        assert(a.nonEmpty)
      }

      // second write into the SAME date: the incremental refresh must
      // rewrite that date's partials partition — the routed query now
      // covers the new points and stays bit-equal to raw
      val lines2 = (241 to 280).map(i =>
        s"""{"labels":{"__name__":"live_m","k":"a"},"t":${i * 30000L},"v":${(i * 7) % 100}}""")
        .mkString("\n")
      assert(postT("/api/v1/write", lines2) == 200)
      val e2 = tApi.servingEngine
      val raw2 = new PromQLEngine(spark, Ingest.readTable(spark, path))
      val a2 = bits(raw2, "rate(live_m[10m])", 20 * m, 135 * m, 5 * m)
      val b2 = bits(e2, "rate(live_m[10m])", 20 * m, 135 * m, 5 * m)
      assert(a2 == b2, "post-refresh rate diverged between raw and served")
      // the extension past 2h only exists in the second write
      assert(a2.exists(_._2 > 120 * m),
        "refresh did not pick up the second write's points")

      // the serving engine's route counters surface on /metrics — the
      // bits() comparisons above ran rate/sum/irate through the rungs
      val metricsUrl = new URI(
        s"http://127.0.0.1:${tApi.boundPort}/metrics").toURL
      val metrics = new String(
        metricsUrl.openStream().readAllBytes(), UTF_8)
      assert(metrics.contains("graft_engine_route_total{route=\"rate_partials\""),
        s"route counters missing from /metrics:\n$metrics")

      // a new series in the second batch reaches the index incrementally
      assert(postT("/api/v1/write",
        """{"labels":{"__name__":"live_m","k":"b"},"t":0,"v":1}""") == 200)
      val idx2 = spark.read.parquet(s"$path/_index")
      assert(idx2.filter(col("labels")("k") === "b").count() == 1)
      // idempotent: re-writing the same series adds no index row
      assert(postT("/api/v1/write",
        s"""{"labels":{"__name__":"live_m","k":"b"},"t":$m,"v":2}""") == 200)
      assert(spark.read.parquet(s"$path/_index")
        .filter(col("labels")("k") === "b").count() == 1)
    } finally tApi.stop()
  }

  test("the write path auto-compacts the series index past the " +
      "fragmentation threshold") {
    val path = Files.createTempDirectory("api-table-compact").toString
    val tApi = HttpApi.forTable(spark, path, indexCompactThreshold = 3)
    tApi.start()
    try {
      def postT(body: String): Int = {
        val url = new URI(
          s"http://127.0.0.1:${tApi.boundPort}/api/v1/write").toURL
        val conn = url.openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes(UTF_8))
        conn.getResponseCode
      }
      def idxFiles: Int = new java.io.File(s"$path/_index").listFiles()
        .count(_.getName.endsWith(".parquet"))
      // each write carries a NOVEL series → one index file per write
      // when uncompacted, so 8 writes would mean exactly 8 files; the
      // threshold-3 compactions must keep growth SUB-linear (the
      // rewritten bucket files fan out by sig, so the exact count
      // depends on hash placement — the invariant is boundedness, not
      // a specific number)
      for (i <- 1 to 8)
        assert(postT(s"""{"labels":{"__name__":"cm","k":"$i"},"t":0,"v":$i}""") == 200)
      assert(idxFiles < 8,
        s"index never compacted: $idxFiles files for 8 single-series writes")
      // the rewrites lost nothing: every series ever written answers
      assert(spark.read.parquet(s"$path/_index").count() == 8)
      assert(tApi.servingEngine.series("cm").size == 8)
    } finally tApi.stop()
  }

  test("debounced rollup refresh: N rapid writes trigger ceil(N/k) " +
      "refreshes, queries stay raw-path-correct between them, and the " +
      "ladder is bit-equal to raw after quiesce") {
    val path = Files.createTempDirectory("api-table-debounce").toString
    val tApi = HttpApi.forTable(spark, path, rollups = Seq(5 * m),
      refreshEveryWrites = 3)
    tApi.start()
    try {
      def postT(body: String): Int = {
        val url = new URI(
          s"http://127.0.0.1:${tApi.boundPort}/api/v1/write").toURL
        val conn = url.openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes(UTF_8))
        conn.getResponseCode
      }
      def write(lo: Int, hi: Int): Unit = assert(postT((lo to hi).map(i =>
        s"""{"labels":{"__name__":"db_m","k":"a"},"t":${i * m},"v":$i}""")
        .mkString("\n")) == 200)
      // 8 rapid writes at k=3 → refreshes after writes 3 and 6 only
      write(0, 10); write(11, 20)
      assert(tApi.rollupRefreshCount == 0,
        "refresh ran before the debounce threshold")
      // deferred window: the marker is absent (a crash here must heal)
      assert(!new java.io.File(s"$path/_tiers_ok").exists(),
        "marker certified stale rungs")
      // ...and the serving engine must NOT route to the stale rungs —
      // raw-path answers stay correct for the deferred writes' points
      val eMid = tApi.servingEngine
      assert(eMid.partialsLadder.isEmpty,
        "engine bound rungs that lag the table")
      val rawMid = new PromQLEngine(spark, Ingest.readTable(spark, path))
      val aMid = bits(rawMid, "sum_over_time(db_m[10m])", 0, 20 * m, 5 * m)
      assert(aMid == bits(eMid, "sum_over_time(db_m[10m])", 0, 20 * m, 5 * m)
        && aMid.nonEmpty, "mid-debounce query diverged from raw")
      write(21, 30) // third write: refresh fires
      assert(tApi.rollupRefreshCount == 1,
        s"expected 1 refresh after 3 writes, got ${tApi.rollupRefreshCount}")
      // r15 witness: the debounced flush ran as the ASSOCIATIVE merge
      // of the 3 pending batches' union, not the accumulated-date
      // refold (the bit-equality asserts below prove it exact)
      assert(tApi.rollupIncrementalMergeCount == 1,
        "debounced flush took the volume-coupled full refold")
      assert(new java.io.File(s"$path/_tiers_ok").exists())
      assert(tApi.servingEngine.partialsLadder.map(_._2) == Seq(5 * m),
        "post-refresh engine did not rebind the rungs")
      write(31, 40); write(41, 50); write(51, 60) // writes 4..6
      write(61, 70); write(71, 80) // writes 7..8: deferred again
      assert(tApi.rollupRefreshCount == 2,
        s"8 writes at k=3 should refresh twice (ceil only after flush), " +
          s"got ${tApi.rollupRefreshCount}")
      // quiesce: flush runs the trailing deferred refresh
      tApi.flushTiers()
      assert(tApi.rollupRefreshCount == 3)
      assert(new java.io.File(s"$path/_tiers_ok").exists(),
        "flush did not re-certify the marker")
      // after quiesce the ladder-routed answers are bit-equal to raw
      // over the FULL written range (all 8 writes' points included)
      val e = tApi.servingEngine
      assert(e.partialsLadder.nonEmpty)
      val raw = new PromQLEngine(spark, Ingest.readTable(spark, path))
      val a = bits(raw, "sum_over_time(db_m[10m])", 0, 80 * m, 5 * m)
      val b = bits(e, "sum_over_time(db_m[10m])", 0, 80 * m, 5 * m)
      assert(a == b, "post-quiesce ladder diverged from raw")
      assert(a.exists(_._2 == 80 * m), "ladder missed the trailing writes")
      // flush with nothing pending is a no-op
      tApi.flushTiers()
      assert(tApi.rollupRefreshCount == 3)
      // every refresh this test drove — two debounce-triggered, one
      // quiesce flush — was the pending-union associative merge
      assert(tApi.rollupIncrementalMergeCount == 3,
        "a debounced refresh fell back to the full refold")
    } finally tApi.stop()
  }

  test("the write path compacts the SAMPLES table geometrically: the " +
      "file-count threshold alone does not retrigger until the " +
      "partition doubles, results stay bit-equal (r15)") {
    val path = Files.createTempDirectory("api-table-scompact").toString
    val tApi = HttpApi.forTable(spark, path, sampleCompactThreshold = 6)
    tApi.start()
    try {
      def postT(body: String): Int = {
        val url = new URI(
          s"http://127.0.0.1:${tApi.boundPort}/api/v1/write").toURL
        val conn = url.openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes(UTF_8))
        conn.getResponseCode
      }
      def write(i: Int): Unit = assert(postT(
        s"""{"labels":{"__name__":"sc_m","k":"a"},"t":${i * m},"v":$i}""")
        == 200)
      def files(): Int = {
        val d = new java.io.File(s"$path/date=1970-01-01")
        if (!d.exists()) 0
        else d.listFiles().count(_.getName.endsWith(".parquet"))
      }
      (0 until 8).foreach(write) // 8 files > threshold 6 -> compacts
      assert(tApi.awaitCompactions(), "compactor did not drain")
      assert(tApi.sampleCompactionCount >= 1,
        "samples compaction never ran past the threshold")
      val afterFirst = files()
      assert(afterFirst <= graft.storage.Ingest.SeriesBuckets,
        s"compaction did not bound the partition: $afterFirst")
      val countAfterFirst = tApi.sampleCompactionCount
      // geometric gate: 7 more equal-sized writes re-cross the file
      // threshold but the partition has NOT doubled since the last
      // compaction -> no re-run (the pre-r15 trigger would re-encode
      // the whole date here, the O(day^2) term the soak measured)
      (8 until 15).foreach(write)
      assert(tApi.awaitCompactions(), "compactor did not drain")
      assert(files() > 6, "fixture must re-cross the file threshold")
      assert(tApi.sampleCompactionCount == countAfterFirst,
        "compaction retriggered inside a doubling interval")
      // ...and once the partition doubles, it runs again
      (15 until 40).foreach(write)
      assert(tApi.awaitCompactions(), "compactor did not drain")
      assert(tApi.sampleCompactionCount > countAfterFirst,
        "compaction never retriggered after the partition doubled")
      // results bit-equal to a raw scan of what was written
      val vals = tApi.servingEngine
        .rangeQuery("sum_over_time(sc_m[5m])", 0, 39 * m, 5 * m)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
      val raw = new PromQLEngine(spark, Ingest.readTable(spark, path))
        .rangeQuery("sum_over_time(sc_m[5m])", 0, 39 * m, 5 * m)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
      assert(vals == raw && vals.nonEmpty,
        "compacted table diverged from the served engine")
    } finally tApi.stop()
  }

  test("compaction watermarks PERSIST across restarts (r16): a reopened " +
      "server resumes the doubling cadence instead of mass-compacting, " +
      "and the boot sweep fires only when a date is genuinely due") {
    val path = Files.createTempDirectory("api-table-wm").toString
    val date = "1970-01-01"
    def serve() = HttpApi.forTable(spark, path, sampleCompactThreshold = 6)
    def postT(api: HttpApi, body: String): Int = {
      val url = new URI(
        s"http://127.0.0.1:${api.boundPort}/api/v1/write").toURL
      val conn = url.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes(UTF_8))
      conn.getResponseCode
    }
    def write(api: HttpApi, i: Int): Unit = assert(postT(api,
      s"""{"labels":{"__name__":"wm_m","k":"a"},"t":${i * m},"v":$i}""")
      == 200)
    val api1 = serve(); api1.start()
    try {
      (0 until 8).foreach(write(api1, _)) // crosses threshold -> compacts
      assert(api1.awaitCompactions())
      assert(api1.sampleCompactionCount >= 1, "fixture never compacted")
      // leave the partition RE-CROSSED over the file threshold but
      // inside the doubling interval — the exact restart state the r15
      // in-memory watermarks mishandled (2 x 0 fires immediately)
      (8 until 15).foreach(write(api1, _))
      assert(api1.awaitCompactions())
      assert(api1.sampleCompactionCount == 1,
        "gate should hold inside the doubling interval")
    } finally api1.stop()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val persisted = graft.storage.CompactionWatermarks
      .load(fs, new org.apache.hadoop.fs.Path(path))
    assert(persisted.get(date).exists(_ > 0L),
      s"watermark not persisted: $persisted")
    // restart 1: the boot sweep sees >threshold files but the
    // PERSISTED watermark says the partition has not doubled -> no
    // compaction (an r15-style server would recompact here)
    val api2 = serve(); api2.start()
    try {
      assert(api2.awaitCompactions())
      assert(api2.sampleCompactionCount == 0,
        "restart mass-compacted despite the persisted watermark")
    } finally api2.stop()
    // restart 2 with the watermark file gone: the same boot sweep now
    // finds the date due (>threshold files, 2 x 0 bytes) and compacts
    // WITHOUT any write — the background boot catch-up path
    assert(new java.io.File(s"$path/_compact_watermarks").delete())
    val api3 = serve(); api3.start()
    try {
      assert(api3.awaitCompactions())
      assert(api3.sampleCompactionCount >= 1,
        "boot sweep never compacted a due date")
      // and the served rows survived every pass bit-equal to raw
      val vals = api3.servingEngine
        .rangeQuery("sum_over_time(wm_m[5m])", 0, 14 * m, 5 * m)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
      val raw = new PromQLEngine(spark, Ingest.readTable(spark, path))
        .rangeQuery("sum_over_time(wm_m[5m])", 0, 14 * m, 5 * m)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
      assert(vals == raw && vals.nonEmpty,
        "compacted table diverged after restarts")
    } finally api3.stop()
  }

  test("a write that FAILED between append and tier refresh is healed " +
      "by the next successful write (not just certified over)") {
    import spark.implicits._
    val path = Files.createTempDirectory("api-table-failheal").toString
    val tApi = HttpApi.forTable(spark, path, rollups = Seq(5 * m))
    tApi.start()
    try {
      def postT(body: String): Int = {
        val url = new URI(
          s"http://127.0.0.1:${tApi.boundPort}/api/v1/write").toURL
        val conn = url.openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes(UTF_8))
        conn.getResponseCode
      }
      assert(postT((0 to 30).map(i =>
        s"""{"labels":{"__name__":"fh","k":"a"},"t":${i * m},"v":$i}""")
        .mkString("\n")) == 200)
      // simulate a sink failure AFTER Ingest.append but BEFORE the
      // index upsert / rung refresh: exactly the on-disk state such a
      // failure leaves — marker deleted, batch rows in the table,
      // tiers unaware of the batch's novel series
      assert(new java.io.File(s"$path/_tiers_ok").delete())
      val orphan = (0 to 30).map(i => Ingest.WriteSample(
        Map("__name__" -> "fh", "k" -> "orphan"), i * m, 3.0 * i))
      Ingest.append(Ingest.canonicalize(orphan.toDS()), path)
      spark.catalog.refreshByPath(path)
      // next successful write: the absent marker (with no deferral
      // outstanding) must force a FULL heal, so the orphan batch's
      // series reaches the index and its dates' rungs
      assert(postT(
        s"""{"labels":{"__name__":"fh","k":"b"},"t":0,"v":1}""") == 200)
      assert(new java.io.File(s"$path/_tiers_ok").exists())
      assert(spark.read.parquet(s"$path/_index")
        .filter(col("labels")("k") === "orphan").count() == 1,
        "healed index missed the failed batch's series")
      // the served engine answers for the orphan series bit-equal to raw
      val e = tApi.servingEngine
      assert(e.hasSeriesIndex && e.partialsLadder.nonEmpty)
      val raw = new PromQLEngine(spark, Ingest.readTable(spark, path))
      val q = """sum_over_time(fh{k="orphan"}[10m])"""
      val a = bits(raw, q, 0, 30 * m, 5 * m)
      assert(a == bits(e, q, 0, 30 * m, 5 * m) && a.nonEmpty,
        "healed engine diverged from raw on the failed batch's series")
    } finally tApi.stop()
  }

  test("forTable(chunks=true): every write cuts its own chunks, the " +
      "served engine reads from the tier bit-equally to raw, and " +
      "compaction bounds fragmentation") {
    val path = Files.createTempDirectory("api-table-chunks").toString
    // threshold LOW enough that the single-series writes below really
    // cross it (each write cuts ~1 chunk file; the old threshold of 40
    // was never reached by 14 writes, so the compaction branch — and
    // its bound — passed vacuously, caught by the r9 run-counter)
    val tApi = HttpApi.forTable(spark, path, chunks = true,
      chunkCompactThreshold = 8)
    tApi.start()
    try {
      def postT(body: String): Int = {
        val url = new URI(
          s"http://127.0.0.1:${tApi.boundPort}/api/v1/write").toURL
        val conn = url.openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes(UTF_8))
        conn.getResponseCode
      }
      def write(lo: Int, hi: Int): Unit = assert(postT((lo to hi).map(i =>
        s"""{"labels":{"__name__":"ck_m","k":"a"},"t":${i * m},"v":$i}""")
        .mkString("\n")) == 200)
      write(0, 120)
      // the tier exists, the marker certifies it, the engine binds it
      assert(graft.storage.ChunkStore
        .readChunks(spark, s"$path/_chunks").count() > 0,
        "first write cut no chunks")
      assert(new java.io.File(s"$path/_tiers_ok").exists())
      val e1 = tApi.servingEngine
      assert(e1.hasChunkTier, "served engine did not bind the chunk tier")
      // served results are bit-equal to a raw-path engine...
      val raw1 = new PromQLEngine(spark, Ingest.readTable(spark, path))
      val a1 = bits(raw1, "sum_over_time(ck_m[10m])", 0, 120 * m, 5 * m)
      assert(a1 == bits(e1, "sum_over_time(ck_m[10m])", 0, 120 * m, 5 * m)
        && a1.nonEmpty, "chunk-served query diverged from raw")
      assert(e1.routeHits.containsKey("chunk_tier"),
        "selector scan did not count the chunk_tier route")
      // one dashboard query over HTTP on this small chunked table runs
      // as one Spark task, exported as the single_task route
      def singleTask(): Long = new String(new URI(
          s"http://127.0.0.1:${tApi.boundPort}/metrics").toURL
          .openStream().readAllBytes(), UTF_8)
        .linesIterator.collectFirst {
          case l if l.startsWith("graft_engine_route_total{route=\"single_task\"}") =>
            l.split(' ').last.toLong
        }.getOrElse(0L)
      val before = singleTask()
      val dq = java.net.URLEncoder.encode("sum by (k) (rate(ck_m[5m]))", UTF_8)
      assert(new URI(s"http://127.0.0.1:${tApi.boundPort}/api/v1/query?query=$dq&time=3600")
        .toURL.openConnection().asInstanceOf[HttpURLConnection].getResponseCode == 200)
      assert(singleTask() == before + 1, "single_task not counted on /metrics")
      // ...and they really COME from the tier: the same raw table with
      // an empty chunk tier bound answers nothing (inverse witness,
      // the starved-rung pattern above)
      val starved = new PromQLEngine(spark, Ingest.readTable(spark, path),
        chunkTier = Some(graft.storage.ChunkStore
          .read(spark, s"$path/_chunks").filter(lit(false))))
      assert(starved
        .rangeQuery("sum_over_time(ck_m[10m])", 0, 120 * m, 5 * m)
        .count() == 0, "selector scan did not read from the chunk tier")

      // a second write is served WITHOUT a heal: its chunks are cut
      // per-batch, and the swapped engine covers the new points
      write(121, 150)
      val e2 = tApi.servingEngine
      val raw2 = new PromQLEngine(spark, Ingest.readTable(spark, path))
      val a2 = bits(raw2, "sum_over_time(ck_m[10m])", 0, 150 * m, 5 * m)
      assert(a2 == bits(e2, "sum_over_time(ck_m[10m])", 0, 150 * m, 5 * m),
        "post-append chunk-served query diverged from raw")
      assert(a2.exists(_._2 > 120 * m),
        "chunk tier missed the second batch's points")

      // fragmentation stays bounded: many single-day writes, then the
      // partition's file count must sit under ~threshold + one batch's
      // fan-out (each write adds <= SeriesBuckets files; compact
      // rewrites the date in place). r15: the compactor ALSO requires
      // the partition to have doubled in bytes since its last run (the
      // geometric gate bounding a day's total re-encode work) — these
      // equal-sized writes keep doubling the tiny partition, so the
      // threshold remains the binding condition here and the bound
      // still holds; a workload inside a doubling interval may carry
      // more files by design
      for (i <- 0 until 12) write(151 + i * 3, 153 + i * 3)
      assert(tApi.awaitCompactions(), "compactor did not drain")
      def chunkFiles: Int = {
        val d = new java.io.File(s"$path/_chunks")
        d.listFiles().filter(_.getName.startsWith("date="))
          .flatMap(_.listFiles())
          .count(_.getName.endsWith(".parquet"))
      }
      assert(chunkFiles <= 8 + graft.storage.Ingest.SeriesBuckets,
        s"chunk partition never compacted: $chunkFiles files")
      // the compactions went through the reader-drain barrier (r9):
      // ran, not deferred — no queries were in flight at write time
      val (ran, deferred) = tApi.chunkCompactionCounts
      assert(ran > 0, "compaction never counted as run")
      assert(deferred == 0, s"compaction deferred with an idle gate: $deferred")
      val eN = tApi.servingEngine
      val rawN = new PromQLEngine(spark, Ingest.readTable(spark, path))
      val aN = bits(rawN, "sum_over_time(ck_m[10m])", 0, 190 * m, 5 * m)
      assert(aN == bits(eN, "sum_over_time(ck_m[10m])", 0, 190 * m, 5 * m)
        && aN.exists(_._2 > 180 * m),
        "post-compaction chunk-served query diverged from raw")
    } finally tApi.stop()
  }

  test("chunk tier crash-heal: a batch that reached the table but " +
      "never the chunk store is healed by the next write") {
    import spark.implicits._
    val path = Files.createTempDirectory("api-table-chunkheal").toString
    val tApi = HttpApi.forTable(spark, path, chunks = true)
    tApi.start()
    try {
      def postT(body: String): Int = {
        val url = new URI(
          s"http://127.0.0.1:${tApi.boundPort}/api/v1/write").toURL
        val conn = url.openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes(UTF_8))
        conn.getResponseCode
      }
      assert(postT((0 to 60).map(i =>
        s"""{"labels":{"__name__":"ch","k":"a"},"t":${i * m},"v":$i}""")
        .mkString("\n")) == 200)
      // simulate the crash window: marker deleted, a batch appended to
      // the TABLE only — the chunk store never saw it
      assert(new java.io.File(s"$path/_tiers_ok").delete())
      val orphan = (0 to 60).map(i => Ingest.WriteSample(
        Map("__name__" -> "ch", "k" -> "orphan"), i * m, 3.0 * i))
      Ingest.append(Ingest.canonicalize(orphan.toDS()), path)
      spark.catalog.refreshByPath(path)
      // the next write must heal the WHOLE store (rebuild from table),
      // not just cut its own chunks
      assert(postT(
        s"""{"labels":{"__name__":"ch","k":"b"},"t":0,"v":1}""") == 200)
      assert(new java.io.File(s"$path/_tiers_ok").exists())
      val e = tApi.servingEngine
      assert(e.hasChunkTier)
      val raw = new PromQLEngine(spark, Ingest.readTable(spark, path))
      val q = """sum_over_time(ch{k="orphan"}[10m])"""
      val a = bits(raw, q, 0, 60 * m, 5 * m)
      assert(a == bits(e, q, 0, 60 * m, 5 * m) && a.nonEmpty,
        "healed chunk store missed the orphan batch")
    } finally tApi.stop()
  }

  test("the _tiers_ok marker certifies a CONFIGURATION: reopening " +
      "with chunks=true a table last served without chunks heals " +
      "once at boot") {
    val path = Files.createTempDirectory("api-table-chunkconf").toString
    // server 1: no chunk tier configured — its marker certifies only
    // the index
    val api1 = HttpApi.forTable(spark, path)
    api1.start()
    try {
      val url = new URI(
        s"http://127.0.0.1:${api1.boundPort}/api/v1/write").toURL
      val conn = url.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write((0 to 90).map(i =>
        s"""{"labels":{"__name__":"cc","k":"a"},"t":${i * m},"v":$i}""")
        .mkString("\n").getBytes(UTF_8))
      assert(conn.getResponseCode == 200)
    } finally api1.stop()
    assert(new java.io.File(s"$path/_tiers_ok").exists())
    assert(!new java.io.File(s"$path/_chunks").exists())
    // server 2: chunks=true — the marker's config string differs, so
    // boot heals (builds the chunk store from the table) instead of
    // trusting a tier the previous server never kept
    val api2 = HttpApi.forTable(spark, path, chunks = true)
    try {
      assert(graft.storage.ChunkStore
        .readChunks(spark, s"$path/_chunks").count() > 0,
        "config change did not trigger the boot heal")
      val e = api2.servingEngine
      assert(e.hasChunkTier)
      val raw = new PromQLEngine(spark, Ingest.readTable(spark, path))
      val a = bits(raw, "sum_over_time(cc[10m])", 0, 90 * m, 5 * m)
      assert(a == bits(e, "sum_over_time(cc[10m])", 0, 90 * m, 5 * m)
        && a.nonEmpty, "healed chunk tier diverged from raw")
    } finally api2.stop()
  }

  test("a same-config restart after a successful write trusts the " +
      "marker: no boot heal (the write path certifies WITH the config " +
      "string, r8 advice)") {
    val path = Files.createTempDirectory("api-table-recert").toString
    val api1 = HttpApi.forTable(spark, path, chunks = true)
    api1.start()
    try {
      val url = new URI(
        s"http://127.0.0.1:${api1.boundPort}/api/v1/write").toURL
      val conn = url.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write((0 to 90).map(i =>
        s"""{"labels":{"__name__":"rc","k":"a"},"t":${i * m},"v":$i}""")
        .mkString("\n").getBytes(UTF_8))
      assert(conn.getResponseCode == 200)
    } finally api1.stop()
    // the write path must re-create the marker WITH the config string:
    // an empty marker (the pre-fix bare create) fails certification and
    // silently turns every restart into a full-table heal
    val marker = new java.io.File(s"$path/_tiers_ok")
    val content = new String(
      java.nio.file.Files.readAllBytes(marker.toPath), UTF_8)
    assert(content == "rollups=;chunks=true\n",
      s"marker lost the config string after a write: '$content'")
    def chunkFiles: Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$path/_chunks"))
        .map(_.getPath).filter(_.endsWith(".parquet")).toSet
    }
    val before = chunkFiles
    val markerM = marker.lastModified
    val api2 = HttpApi.forTable(spark, path, chunks = true)
    try {
      assert(marker.lastModified == markerM,
        "same-config boot re-certified the marker (it healed)")
      assert(chunkFiles == before,
        "same-config boot rebuilt the chunk store (it healed)")
      assert(api2.servingEngine.hasChunkTier)
    } finally api2.stop()
  }

  test("a crash between the table append and the tier refresh heals " +
      "at the next startup (the _tiers_ok marker protocol)") {
    import spark.implicits._
    val path = Files.createTempDirectory("api-table-heal").toString
    // a server wrote one healthy batch and stopped
    val tApi = HttpApi.forTable(spark, path, rollups = Seq(5 * m))
    tApi.stop()
    val healthy = (0 to 60).map(i => Ingest.WriteSample(
      Map("__name__" -> "hm", "k" -> "a"), i * m, i.toDouble))
    Ingest.append(Ingest.canonicalize(healthy.toDS()), path)
    spark.catalog.refreshByPath(path)
    Ingest.appendSeriesIndex(Ingest.canonicalize(healthy.toDS()),
      s"$path/_index")
    Ingest.refreshFoldPartials(spark, path,
      Ingest.rollupPath(path, 5 * m), 5 * m)
    // CRASH WINDOW: the sink deletes the marker, appends a batch with
    // a NEW series, and dies before the index upsert / rung refresh
    assert(new java.io.File(s"$path/_tiers_ok").delete() ||
      !new java.io.File(s"$path/_tiers_ok").exists())
    val crashed = (0 to 60).map(i => Ingest.WriteSample(
      Map("__name__" -> "hm", "k" -> "crash"), i * m, 2.0 * i))
    Ingest.append(Ingest.canonicalize(crashed.toDS()), path)
    spark.catalog.refreshByPath(path)
    // restart: the missing marker forces a full tier heal
    val tApi2 = HttpApi.forTable(spark, path, rollups = Seq(5 * m))
    try {
      val e = tApi2.servingEngine
      assert(e.hasSeriesIndex && e.partialsLadder.nonEmpty)
      // the crashed batch's series is matcher-resolvable via the index
      assert(spark.read.parquet(s"$path/_index")
        .filter(col("labels")("k") === "crash").count() == 1)
      // and the rung-routed query covers its points, bit-equal to raw
      val raw = new PromQLEngine(spark, Ingest.readTable(spark, path))
      def bits2(en: PromQLEngine) =
        en.rangeQuery("sum_over_time(hm[10m])", 20 * m, 55 * m, 5 * m)
          .select(col("labels")("k"), col("t"), col("v")).collect()
          .map(r => (r.getString(0), r.getLong(1),
            java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
      val a = bits2(raw); val b = bits2(e)
      assert(a == b, "healed tiers diverged from raw")
      assert(a.exists(_._1 == "crash"),
        "healed index/rung missed the crashed batch's series")
      assert(new java.io.File(s"$path/_tiers_ok").exists(),
        "heal did not restore the freshness marker")
    } finally tApi2.stop()
  }
}
