package graft.storage

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.exec.PromQLEngine
import graft.model.Samples

/** Chunk tier end-to-end: write → read must be the identity on the
  * canonical sample frame (staleness flags included), the engine must
  * produce identical results over either frame, and the bounded read
  * must prune chunks at the scan. */
class ChunkStoreSpec extends SparkTestBase {

  private val m = 60000L

  private def tmpDir(): String =
    Files.createTempDirectory("graft-chunks").toString

  private lazy val fixture = samplesDF(
    Map("__name__" -> "cm", "s" -> "rise") ->
      (0 to 500).map(i => (1704067200000L + i * 30000L, i.toDouble)),
    Map("__name__" -> "cm", "s" -> "nan") ->
      (0 to 500).map(i => (1704067200000L + i * 30000L,
        if (i == 77) Double.NaN else 2.0 * i)),
    Map("__name__" -> "cm", "s" -> "gone") ->
      ((0 to 100).map(i => (1704067200000L + i * 30000L, 5.0)) :+
        ((1704067200000L + 101 * 30000L, Samples.StaleNaN))))

  private def asSet(df: org.apache.spark.sql.DataFrame) = df
    .select(Samples.sigStr(col("labels")).as("k"), col("t"), col("v"),
      col("stale"))
    .collect()
    .map(r => (r.getString(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getBoolean(3)))
    .toSet

  test("write → read is the identity on the canonical frame " +
      "(NaN values and staleness markers included)") {
    val dir = tmpDir()
    ChunkStore.write(fixture, dir, maxPerChunk = 100)
    val back = ChunkStore.read(spark, dir)
    assert(asSet(back) == asSet(fixture))
    // the stale marker came back as a FLAG (bit pattern is gone after
    // decode-to-double in Spark rows, by design)
    assert(back.filter(col("stale")).count() == 1)
  }

  test("engine results are identical over raw and chunk-backed frames") {
    val dir = tmpDir()
    ChunkStore.write(fixture, dir)
    val raw = new PromQLEngine(spark, fixture)
    val viaChunks = new PromQLEngine(spark, ChunkStore.read(spark, dir))
    val t0 = 1704067200000L
    for (q <- Seq("cm", "sum by (s) (cm)", "rate(cm[10m])",
        "count_over_time(cm[10m])", """cm{s="gone"}""")) {
      val a = raw.rangeQuery(q, t0 + 20 * m, t0 + 200 * m, 5 * m)
      val b = viaChunks.rangeQuery(q, t0 + 20 * m, t0 + 200 * m, 5 * m)
      val ka = a.select(Samples.sigStr(col("labels")).as("k"), col("t"),
        col("v")).collect().map(r => (r.getString(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
      val kb = b.select(Samples.sigStr(col("labels")).as("k"), col("t"),
        col("v")).collect().map(r => (r.getString(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
      assert(ka == kb, s"$q diverged between raw and chunk-backed engines")
    }
  }

  test("chunks split at the maxPerChunk cap and at date boundaries") {
    val dir = tmpDir()
    // 2880 30s-samples = exactly one day, starting at midnight UTC,
    // plus 10 samples of the next day
    val twoDays = samplesDF(
      Map("__name__" -> "cm") ->
        (0 until 2890).map(i => (1704067200000L + i * 30000L, 1.0)))
    ChunkStore.write(twoDays, dir, maxPerChunk = 240)
    val chunks = ChunkStore.readChunks(spark, dir)
    assert(chunks.agg(max(col("n"))).head().getInt(0) <= 240)
    // day 1: 2880/240 = 12 full chunks; day 2: one 10-sample chunk
    // (parquet infers the partition column as DateType — cast back)
    assert(chunks.groupBy(col("date").cast("string").as("date")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("2024-01-01", 12L), ("2024-01-02", 1L)))
    // no chunk's envelope crosses its date partition
    assert(chunks.filter(
      date_format(timestamp_millis(col("min_t")), "yyyy-MM-dd") =!= col("date").cast("string") ||
      date_format(timestamp_millis(col("max_t")), "yyyy-MM-dd") =!= col("date").cast("string"))
      .count() == 0)
  }

  test("bounded read prunes chunks before decode (scan-level filters)") {
    val dir = tmpDir()
    ChunkStore.write(fixture, dir, maxPerChunk = 50)
    val t0 = 1704067200000L
    val bounded = ChunkStore.read(spark, dir, t0 + 30 * m, t0 + 40 * m)
    // correctness of the bound
    assert(asSet(bounded) ==
      asSet(fixture.filter(col("t").between(t0 + 30 * m, t0 + 40 * m))))
    // the envelope comparisons reach the parquet scan as pushed filters
    // and the date bounds prune partitions (the PushedFilters list is
    // string-truncated, so assert the max_t bound + min_t presence)
    val plan = bounded.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(max_t") &&
      plan.contains("IsNotNull(min_t"),
      s"envelope filters not pushed:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("date"),
      s"date partition filters missing:\n$plan")
  }

  test("compact merges fragmented appends back to full chunks, " +
      "preserving the decoded frame exactly") {
    val dir = tmpDir()
    // interleaved appends: even then odd samples of one day — each
    // append cuts its own short chunks, the day ends up fragmented
    val mk = (parity: Int) => samplesDF(
      Map("__name__" -> "cm") ->
        (0 until 1440).filter(_ % 2 == parity)
          .map(i => (1704067200000L + i * 60000L, i.toDouble)))
    ChunkStore.write(mk(0), dir)
    ChunkStore.write(mk(1), dir)
    val before = asSet(ChunkStore.read(spark, dir))
    assert(ChunkStore.readChunks(spark, dir).count() == 6) // 2 × 720/240
    ChunkStore.compactStaged(spark, dir, "2024-01-01")
    // 1440 samples → 6 full chunks, but now each spans the MERGED
    // sample stream (interleaving gone, delta-of-delta regular again)
    val chunks = ChunkStore.readChunks(spark, dir)
    assert(chunks.count() == 6)
    assert(chunks.agg(min(col("n"))).head().getInt(0) == 240)
    assert(asSet(ChunkStore.read(spark, dir)) == before)
  }

  test("compactStaged snapshot swap: decoded frame preserved, a chunk " +
      "batch appended mid-rewrite survives, and StagedSwap.recover " +
      "heals both crash windows (r16, the three-op-commit ask)") {
    val dir = tmpDir()
    val date = "2024-01-01"
    val mk = (parity: Int) => samplesDF(
      Map("__name__" -> "cm") ->
        (0 until 1440).filter(_ % 2 == parity)
          .map(i => (1704067200000L + i * 60000L, i.toDouble)))
    ChunkStore.write(mk(0), dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def decodedSet() = {
      spark.catalog.refreshByPath(dir)
      asSet(ChunkStore.read(spark, dir))
    }
    // snapshot + rewrite, then a SECOND batch lands mid-rewrite: its
    // chunk files are not in the snapshot and must survive the commit
    val snap = StagedSwap.snapshot(fs, root, date)
    ChunkStore.stageCompaction(spark, dir, date, snap)
    ChunkStore.write(mk(1), dir)
    val withMidRewrite = decodedSet()
    assert(StagedSwap.commit(fs, root, date, snap), "commit aborted")
    assert(decodedSet() == withMidRewrite,
      "commit lost the mid-rewrite batch or compacted samples")
    assert(!fs.exists(StagedSwap.swapoutDir(root, date)) &&
      !fs.exists(StagedSwap.stagingDir(root, date)),
      "leftovers after a clean commit")
    val committed = decodedSet()
    // crash window 1: move-aside done, no marker -> roll back exactly
    val snap2 = StagedSwap.snapshot(fs, root, date)
    ChunkStore.stageCompaction(spark, dir, date, snap2)
    val swapout = StagedSwap.swapoutDir(root, date)
    fs.mkdirs(swapout)
    snap2.foreach { f =>
      assert(fs.rename(f,
        new org.apache.hadoop.fs.Path(swapout, f.getName)))
    }
    StagedSwap.recover(fs, root)
    assert(decodedSet() == committed, "roll-back changed the store")
    // crash window 2: marker written, move-in half done -> roll forward
    val snap3 = StagedSwap.snapshot(fs, root, date)
    ChunkStore.stageCompaction(spark, dir, date, snap3)
    fs.mkdirs(swapout)
    snap3.foreach { f =>
      assert(fs.rename(f,
        new org.apache.hadoop.fs.Path(swapout, f.getName)))
    }
    fs.create(new org.apache.hadoop.fs.Path(swapout, "_swapped_in"), true)
      .close()
    val stagedPart = new org.apache.hadoop.fs.Path(
      StagedSwap.stagingDir(root, date), s"date=$date")
    val stagedFiles = fs.listStatus(stagedPart)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath)
    assert(stagedFiles.nonEmpty)
    assert(fs.rename(stagedFiles.head, new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, s"date=$date"),
      stagedFiles.head.getName)))
    StagedSwap.recover(fs, root)
    assert(decodedSet() == committed, "roll-forward changed the store")
    assert(!fs.exists(swapout) &&
      !fs.exists(StagedSwap.stagingDir(root, date)),
      "recovery left swapout/staging dirs")
  }

  test("label filters push below the decode Generate: non-matching " +
      "chunks are never decoded") {
    val dir = tmpDir()
    ChunkStore.write(fixture, dir)
    // an engine-shaped matcher on the decoded frame: references only
    // the pass-through labels column, so Catalyst must push it through
    // the Generate node — decode then runs ONLY on matching chunks
    val filtered = ChunkStore.read(spark, dir)
      .filter(col("labels")("s") === "rise")
    val plan = filtered.queryExecution.optimizedPlan.toString
    val genIdx = plan.indexOf("Generate")
    val filtIdx = plan.indexOf("labels#")
    assert(genIdx >= 0)
    // the labels predicate appears BELOW the Generate in the tree
    // rendering (child plans print after their parents)
    val below = plan.substring(genIdx)
    assert(below.contains("= rise") || below.contains("rise"),
      s"matcher did not push below decode:\n$plan")
    // and the Filter node is not a parent of Generate (no Filter
    // before Generate in the rendering that references labels)
    val head = plan.substring(0, genIdx)
    assert(!head.contains("rise"),
      s"matcher stuck above the decode Generate:\n$plan")
    assert(filtered.count() == 501)
  }

  test("streaming ingest cuts chunks per micro-batch, replay-safe") {
    val dir = tmpDir()
    val ckpt = tmpDir()
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Ingest.WriteSample]
    mem.addData((1 to 100).map(i =>
      Ingest.WriteSample(Map("__name__" -> "sc"),
        1704067200000L + i * 1000L, i.toDouble)): _*)
    ChunkStore.stream(mem.toDS(), dir, ckpt).awaitTermination(60000)
    assert(ChunkStore.read(spark, dir).count() == 100)
    // the batch-0 commit marker exists under the stream's namespace
    // (derived from the QUALIFIED checkpoint path, matching commitOnce)
    val cp = new org.apache.hadoop.fs.Path(ckpt)
    val qualified = cp.getFileSystem(
      spark.sessionState.newHadoopConf()).makeQualified(cp).toString
    val ns = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(qualified))
    assert(new java.io.File(s"$dir/_commits/$ns-0").exists())
    // second stream over the same checkpoint adds nothing (no new data)
    ChunkStore.stream(mem.toDS(), dir, ckpt).awaitTermination(60000)
    assert(ChunkStore.read(spark, dir).count() == 100)
  }

  test("compression: regular cadence lands in the reference's " +
      "bytes/sample envelope") {
    val dir = tmpDir()
    // the reference bench workload shape: regular scrape, counter-like
    // values (docs/assumptions.md claims 1.37 B/sample on production
    // metrics; a synthetic integer-stepped counter compresses harder)
    val n = 5000
    val counter = samplesDF(
      (0 until 20).map(s =>
        Map("__name__" -> "ctr", "inst" -> s.toString) ->
          (0 until n).map(i =>
            (1704067200000L + i * 15000L, (i * 3 + s).toDouble))): _*)
    ChunkStore.write(counter, dir)
    val (samples, bytes, perSample) = ChunkStore.stats(spark, dir)
    assert(samples == 20L * n)
    assert(perSample < 2.0, s"$perSample B/sample (raw is 16)")
    assert(bytes > 0)
  }

  test("stats on an empty or unwritten store is (0, 0, NaN), not a crash") {
    val (s0, b0, p0) = ChunkStore.stats(spark, tmpDir() + "/never-written")
    assert(s0 == 0L && b0 == 0L && p0.isNaN)
  }

  test("compact collapses duplicate (series, t) samples arriving in " +
      "different append batches instead of crashing forever") {
    val dir = tmpDir()
    val labels = Map("__name__" -> "dup", "s" -> "a")
    val t0 = 1704067200000L
    // an at-least-once client re-sends (t0+60s, 7.0) in a second batch
    // with extra points; per-batch dedup can't see across the appends
    ChunkStore.write(samplesDF(
      labels -> Seq((t0, 1.0), (t0 + 60000L, 7.0))), dir)
    ChunkStore.write(samplesDF(
      labels -> Seq((t0 + 60000L, 7.0), (t0 + 120000L, 3.0))), dir)
    // pre-compaction the day holds 4 rows (the dup twice)
    assert(ChunkStore.read(spark, dir).count() == 4)
    ChunkStore.compactStaged(spark, dir, "2024-01-01")
    val back = ChunkStore.read(spark, dir)
      .select(col("t"), col("v")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(back == Set((t0, 1.0), (t0 + 60000L, 7.0), (t0 + 120000L, 3.0)))
    // conflicting-value dups resolve like Ingest.dedup: smallest wins
    ChunkStore.write(samplesDF(
      labels -> Seq((t0 + 120000L, 2.0))), dir)
    ChunkStore.compactStaged(spark, dir, "2024-01-01")
    val vAt = ChunkStore.read(spark, dir).filter(col("t") === t0 + 120000L)
      .select(col("v")).collect().map(_.getDouble(0)).toSeq
    assert(vAt == Seq(2.0))
  }

  test("collapseDupSamples (the compact/rebuild dedup) stays a HASH " +
      "aggregate — the maintenance-path extension of the PlanAuditSpec " +
      "gate (builtin first(map) would demote it to SortAggregate over " +
      "the full day's sample volume)") {
    val withSig = fixture.withColumn("sig",
      graft.model.Samples.sigExpr(col("labels")))
    val p = ChunkStore.collapseDupSamples(withSig).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert(!p.contains("SortAggregate"),
      s"maintenance dedup demoted to SortAggregate:\n${p.take(800)}")
    assert(p.contains("ObjectHashAggregate") || p.contains("HashAggregate"),
      s"expected a hash aggregate:\n${p.take(800)}")
  }

  test("roundtripMismatch counts bad KEY GROUPS under every corruption " +
      "class (pins the r16 s12 semantics change: per-key, not per-row)") {
    import spark.implicits._
    def df(rows: (Long, Long, Double)*) =
      rows.toDF("sig", "t", "v")
    val raw = df((1L, 10L, 1.0), (1L, 20L, 2.0), (2L, 10L, Double.NaN))
    // identical (NaN compares equal via <=>): zero mismatches
    assert(ChunkStore.roundtripMismatch(raw, raw) == (3L, 0L))
    // one value differs: that key group counts once
    assert(ChunkStore.roundtripMismatch(raw,
      df((1L, 10L, 1.0), (1L, 20L, 9.0), (2L, 10L, Double.NaN))) == (3L, 1L))
    // a key missing from the decoded side: counts once
    assert(ChunkStore.roundtripMismatch(raw,
      df((1L, 10L, 1.0), (2L, 10L, Double.NaN))) == (3L, 1L))
    // an extra key only on the decoded side: counts once
    assert(ChunkStore.roundtripMismatch(raw,
      df((1L, 10L, 1.0), (1L, 20L, 2.0), (2L, 10L, Double.NaN),
        (9L, 9L, 9.0))) == (3L, 1L))
    // a key DUPLICATED on one side (same value twice): ONE bad key
    // group — the pre-r16 full-outer-join form would have scored this
    // differently (per unmatched join row); the per-group semantics
    // are the contract now
    assert(ChunkStore.roundtripMismatch(raw,
      df((1L, 10L, 1.0), (1L, 20L, 2.0), (2L, 10L, Double.NaN),
        (2L, 10L, Double.NaN))) == (3L, 1L))
    // duplicated on the raw side: still one bad group, and n_raw
    // counts ROWS (4), not groups
    assert(ChunkStore.roundtripMismatch(
      df((1L, 10L, 1.0), (1L, 20L, 2.0), (2L, 10L, 3.0), (2L, 10L, 3.0)),
      raw)._2 == 1L)
  }
}
