package graft.storage

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.exec.PromQLEngine
import graft.model.Samples

class IngestSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("append → readTable round trip; stale markers filtered at query (P5)") {
    val path = tmp("ingest")
    val edge = Seq(
      Ingest.WriteSample(Map("__name__" -> "m", "job" -> "a"), 0L, 1.0),
      Ingest.WriteSample(Map("__name__" -> "m", "job" -> "a"), 60000L, 2.0),
      // staleness marker ends the series early
      Ingest.WriteSample(Map("__name__" -> "m", "job" -> "a"), 120000L, Samples.StaleNaN),
      Ingest.WriteSample(Map("__name__" -> "m", "job" -> "b"), 120000L, 7.0)
    ).toDS()
    Ingest.append(Ingest.canonicalize(edge), path)
    val table = Ingest.readTable(spark, path)
    assert(table.count() == 4)
    assert(table.filter(col("stale")).count() == 1)

    val engine = new PromQLEngine(spark, table)
    // at t=120s: series a's newest lookback point is the stale marker →
    // the series is absent (no fallback to the t=60s point), per
    // engine.go:789-798; series b is untouched
    val r = resultMap(engine.instant("m", 120000L))
    assert(r.size == 1)
    assert(r(("__name__=m,job=b", 120000L)) == 7.0)
  }

  test("duplicate-timestamp policy: identical dups collapse, conflicts resolve or fail") {
    val path = tmp("ingest-dup")
    val edge = Seq(
      Ingest.WriteSample(Map("__name__" -> "d"), 0L, 5.0),
      Ingest.WriteSample(Map("__name__" -> "d"), 0L, 5.0), // identical rewrite: ok
      Ingest.WriteSample(Map("__name__" -> "d"), 60000L, 1.0),
      Ingest.WriteSample(Map("__name__" -> "d"), 60000L, 9.0) // conflict
    ).toDS()
    val batch = Ingest.canonicalize(edge)
    Ingest.append(batch, path) // lenient: conflict resolves to min
    val rows = Ingest.readTable(spark, path).orderBy("t").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("v") == 5.0)
    assert(rows(1).getAs[Double]("v") == 1.0) // deterministic min
    // strict mode raises ErrAmendSample-style error
    val ex = intercept[Exception] {
      Ingest.append(batch, tmp("ingest-strict"), strict = true)
    }
    assert(ex.getMessage != null)
  }

  test("dedup labels are deterministic under shuffled label-map entry order") {
    import scala.collection.immutable.ListMap
    // > 4 entries so Scala doesn't collapse to an order-canonical MapN;
    // ListMap preserves insertion order into the Spark map column
    val entries = Seq("__name__" -> "z", "a" -> "1", "b" -> "2",
      "c" -> "3", "d" -> "4")
    val perms = Seq(entries, entries.reverse,
      entries.drop(2) ++ entries.take(2))
    // same logical series written with every entry order, in several
    // arrival orders — all must dedup to ONE row carrying the
    // entry-SORTED map, regardless of which input row "wins"
    def run(order: Seq[Seq[(String, String)]]) = {
      val ds = order.map(e =>
        Ingest.WriteSample(ListMap(e: _*), 0L, 1.0)).toDS()
      // observe the stored entry order via map_entries — Row.getMap
      // would rebuild a hash map and hide it
      val out = Ingest.dedup(Ingest.canonicalize(ds), strict = true)
        .select(map_entries(col("labels"))).collect()
      assert(out.length == 1)
      out.head.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getString(0), r.getString(1)))
    }
    val expected = entries.sortBy(_._1)
    assert(run(perms) == expected)
    assert(run(perms.reverse) == expected)
    assert(run(perms.tail :+ perms.head) == expected)
  }

  test("compact rewrites a fragmented date partition, preserving data") {
    val path = tmp("ingest-compact")
    // 8 appends × up to 32 bucket files each → a fragmented day
    for (batch <- 0 until 8) {
      val edge = (0 until 64).map { i =>
        Ingest.WriteSample(Map("__name__" -> "c", "s" -> i.toString),
          (batch * 64 + i) * 1000L, i.toDouble)
      }.toDS()
      Ingest.append(Ingest.canonicalize(edge), path)
    }
    def files(date: String) = {
      val d = new java.io.File(s"$path/date=$date")
      d.listFiles().count(_.getName.endsWith(".parquet"))
    }
    val before = Ingest.readTable(spark, path).collect()
      .map(r => (r.getAs[Map[String, String]]("labels"), r.getAs[Long]("t"),
        r.getAs[Double]("v"), r.getAs[Boolean]("stale"))).toSet
    // every append commits at least one new file, so the day holds ≥ 8
    // (with test-sized shuffle parallelism: exactly one per append)
    val fragmented = files("1970-01-01")
    assert(fragmented >= 8,
      s"expected a fragmented partition, got $fragmented files")
    Ingest.compactStaged(spark, path, "1970-01-01")
    val compacted = files("1970-01-01")
    assert(compacted < fragmented && compacted <= Ingest.SeriesBuckets,
      s"expected fewer, bucketed files; $fragmented -> $compacted")
    val after = Ingest.readTable(spark, path).collect()
      .map(r => (r.getAs[Map[String, String]]("labels"), r.getAs[Long]("t"),
        r.getAs[Double]("v"), r.getAs[Boolean]("stale"))).toSet
    assert(after == before)
  }

  test("streaming ingest via foreachBatch micro-batches") {
    val path = tmp("ingest-stream")
    val ckpt = tmp("ingest-ckpt")
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ingest.WriteSample]
    mem.addData(
      Ingest.WriteSample(Map("__name__" -> "s", "k" -> "1"), 0L, 1.5),
      Ingest.WriteSample(Map("__name__" -> "s", "k" -> "2"), 1000L, 2.5))
    val q = Ingest.stream(mem.toDS(), path, ckpt)
    q.awaitTermination(60000)
    val table = Ingest.readTable(spark, path)
    assert(table.count() == 2)
    val engine = new PromQLEngine(spark, table)
    val r = resultMap(engine.instant("s", 1000L))
    assert(r.size == 2)
  }

  test("streaming rollup refresh: ladder-routed queries stay bit-equal " +
      "to raw after every micro-batch") {
    val path = tmp("ingest-rollup")
    val ckpt = tmp("ingest-rollup-ckpt")
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Ingest.WriteSample]
    val m = 60000L
    def s(k: String, t: Long, v: Double) =
      Ingest.WriteSample(Map("__name__" -> "rm", "k" -> k), t, v)
    def run() = Ingest.streamWithRollups(mem.toDS(), path, ckpt,
      Seq(5 * m), indexed = true).awaitTermination(120000)
    def bits(e: PromQLEngine, q: String, start: Long, end: Long) =
      e.rangeQuery(q, start, end, 5 * m)
        .select(col("labels")("k").as("k"), col("t"), col("v"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2))))
        .toSet
    // after each batch the on-disk rung must answer exactly like raw
    def check(start: Long, end: Long): Set[(String, Long, Long)] = {
      val samples = Ingest.readTable(spark, path)
      val rung = spark.read.parquet(Ingest.rollupPath(path, 5 * m))
        .drop("date")
      val raw = new PromQLEngine(spark, samples)
      val routed = new PromQLEngine(spark, samples,
        partialsLadder = Seq((rung, 5 * m)))
      var last = Set.empty[(String, Long, Long)]
      for (q <- Seq("sum_over_time(rm[10m])", "rate(rm[10m])")) {
        val a = bits(raw, q, start, end)
        val b = bits(routed, q, start, end)
        assert(a == b, s"$q diverged from raw after streaming refresh")
        assert(a.nonEmpty)
        last = a
      }
      last
    }
    // batch 1: a counter with resets + a rising series, 30s cadence
    // over the first hour
    mem.addData((0 to 120).flatMap(i => Seq(
      s("ctr", i * 30000L, ((i * 7) % 50).toDouble),
      s("rise", i * 30000L, i.toDouble))): _*)
    run()
    val r1 = check(20 * m, 55 * m)
    // batch 2: the next hour lands in the SAME UTC date — the refresh
    // must rewrite that date's partition, not append beside it
    mem.addData((121 to 240).flatMap(i => Seq(
      s("ctr", i * 30000L, ((i * 7) % 50).toDouble),
      s("rise", i * 30000L, i.toDouble))): _*)
    run()
    val r2 = check(20 * m, 115 * m)
    assert(r2.exists(_._2 > 60 * m), "refresh missed the second batch")
    assert(r2.filter(_._2 <= 55 * m) == r1.filter(_._2 <= 55 * m),
      "second refresh changed already-correct earlier windows")
    // indexed=true kept the series index live across BOTH batches:
    // exactly one row per distinct series (the replayed sigs of batch
    // 2 upserted as no-ops), and an index-bound engine answers
    // matchers identically to the plain one
    val idxPath = new org.apache.hadoop.fs.Path(path, "_index").toString
    val idx = spark.read.parquet(idxPath)
    assert(idx.count() == 2, "streaming index upsert duplicated sigs")
    val samples = Ingest.readTable(spark, path)
    val viaIndex = new PromQLEngine(spark, samples,
      seriesIndex = Some(idx))
    assert(resultMap(viaIndex.instant("""rm{k="rise"}""", 60 * m)) ==
      resultMap(new PromQLEngine(spark, samples)
        .instant("""rm{k="rise"}""", 60 * m)),
      "index-bound matcher diverged after streaming upserts")
  }

  test("incremental rung refresh equals the full date refold bit-for-bit: " +
      "junction counter resets, boundary samples, markers, single-point " +
      "and marker-only buckets, new series, and the interleave fallback") {
    val m = 60000L
    val bucket = 5 * m
    def mk(k: String, t: Long, v: Double, stale: Boolean = false) =
      Ingest.WriteSample(Map("__name__" -> "ir", "k" -> k), t,
        if (stale) java.lang.Double.longBitsToDouble(Samples.StaleNaNBits)
        else v)
    // batch 1: a counter with in-bucket resets, a boundary-aligned
    // sample (t == bucket_start), a single-point bucket, a marker-only
    // bucket for series "gone"
    val b1 = Seq(
      mk("ctr", 0L, 10), mk("ctr", m, 3), mk("ctr", 2 * m, 7),
      mk("rise", 0L, 1), mk("rise", 2 * m, 2),
      mk("solo", bucket + m, 42),
      mk("gone", 2 * bucket + m, 0, stale = true))
    // batch 2, same buckets strictly LATER: junction reset on ctr
    // (7 -> 2), growth on rise, a second point for solo's bucket
    // (exercises the merged lt2), a brand-new series, a boundary
    // sample opening the NEXT bucket
    val b2 = Seq(
      mk("ctr", 3 * m, 2), mk("ctr", 4 * m, 9),
      mk("rise", 3 * m, 3), mk("rise", bucket, 5),
      mk("solo", bucket + 2 * m, 43),
      mk("fresh2", 4 * m, 7))
    def canon(rows: Seq[Ingest.WriteSample]) =
      Ingest.dedup(Ingest.canonicalize(rows.toDS()), strict = false)
    def rungRows(p: String) =
      spark.read.parquet(p).drop("date").collect()
        .map(_.toSeq.map {
          case d: Double => java.lang.Double.doubleToLongBits(d)
          case x => x
        }).toSet
    val path = tmp("ingest-incr")
    val full = tmp("rung-full")
    val inc = tmp("rung-inc")
    Ingest.appendCanonical(canon(b1), path)
    // bootstrap both rungs from the table (inc takes the bootstrap
    // branch: no parquet yet)
    Ingest.refreshFoldPartials(spark, path, full, bucket, None)
    Ingest.refreshFoldPartialsIncremental(spark, path, inc, bucket,
      canon(b1))
    assert(rungRows(full) == rungRows(inc), "bootstrap diverged")
    // batch 2: full refold vs associative merge of just the batch
    Ingest.appendCanonical(canon(b2), path)
    spark.catalog.refreshByPath(path)
    Ingest.refreshFoldPartials(spark, path, full, bucket,
      Some(Ingest.datesOf(canon(b2))))
    Ingest.refreshFoldPartialsIncremental(spark, path, inc, bucket,
      canon(b2))
    assert(rungRows(full) == rungRows(inc),
      "incremental merge diverged from the full refold")
    // batch 3 INTERLEAVES ctr's first bucket (t = 90s lands between
    // existing live points): must detect and fall back to the full
    // refold, still bit-equal
    val b3 = Seq(mk("ctr", m + 30000L, 5))
    Ingest.appendCanonical(canon(b3), path)
    spark.catalog.refreshByPath(path)
    Ingest.refreshFoldPartials(spark, path, full, bucket,
      Some(Ingest.datesOf(canon(b3))))
    Ingest.refreshFoldPartialsIncremental(spark, path, inc, bucket,
      canon(b3))
    assert(rungRows(full) == rungRows(inc),
      "interleave fallback diverged from the full refold")
    // the merged rung must also serve queries bit-equally to raw
    val samples = Ingest.readTable(spark, path)
    val rung = spark.read.parquet(inc).drop("date")
    val raw = new PromQLEngine(spark, samples)
    val routed = new PromQLEngine(spark, samples,
      partialsLadder = Seq((rung, bucket)))
    for (q <- Seq("sum_over_time(ir[10m])", "rate(ir[10m])",
        "irate(ir[10m])")) {
      val a = resultMap(raw.rangeQuery(q, 0L, 3 * bucket, bucket))
      val b = resultMap(routed.rangeQuery(q, 0L, 3 * bucket, bucket))
      assert(a == b && a.nonEmpty, s"$q diverged on the merged rung")
    }
  }

  test("debounced multi-batch pending set (r15): folding the UNION of " +
      "several appended batches' canonical rows merges bit-equal to the " +
      "full refold — in-order, cross-batch duplicate rows, batches that " +
      "interleave EACH OTHER, and rung-interleave fallback") {
    val m = 60000L
    val bucket = 5 * m
    def mk(k: String, t: Long, v: Double) =
      Ingest.WriteSample(Map("__name__" -> "du", "k" -> k), t, v)
    def canon(rows: Seq[Ingest.WriteSample]) =
      Ingest.dedup(Ingest.canonicalize(rows.toDS()), strict = false)
    def rungRows(p: String) =
      spark.read.parquet(p).drop("date").collect()
        .map(_.toSeq.map {
          case d: Double => java.lang.Double.doubleToLongBits(d)
          case x => x
        }).toSet
    val path = tmp("ingest-deb")
    val full = tmp("rung-deb-full")
    val inc = tmp("rung-deb-inc")
    // committed history: one bucket of a counter + bootstrap
    val b0 = Seq(mk("ctr", 0L, 10), mk("ctr", m, 3), mk("rise", 0L, 1))
    Ingest.appendCanonical(canon(b0), path)
    Ingest.refreshFoldPartials(spark, path, full, bucket, None)
    Ingest.refreshFoldPartialsIncremental(spark, path, inc, bucket,
      canon(b0))
    assert(rungRows(full) == rungRows(inc), "bootstrap diverged")
    // three DEFERRED writes. b1/b2 carry a cross-batch duplicate
    // (ctr @ 3m = 7 in both): each per-batch dedup keeps it, so the
    // table holds TWO rows — the union must too, or cnt diverges from
    // the refold. b2 and b3 INTERLEAVE each other inside rise's second
    // bucket (order-free union fold must absorb that without the
    // fallback); all three stay strictly LATER than the rung's
    // committed live ranges, so the rung-junction merge applies.
    val b1 = Seq(mk("ctr", 3 * m, 7), mk("rise", bucket + m, 4))
    val b2 = Seq(mk("ctr", 3 * m, 7), mk("ctr", 4 * m, 2),
      mk("rise", bucket + 3 * m, 6))
    val b3 = Seq(mk("rise", bucket + 2 * m, 5))
    Seq(b1, b2, b3).foreach { b =>
      Ingest.appendCanonical(canon(b), path)
      spark.catalog.refreshByPath(path)
    }
    val union = Seq(b1, b2, b3).map(canon).reduce(_.unionByName(_))
    Ingest.refreshFoldPartials(spark, path, full, bucket,
      Some(Ingest.datesOf(union)))
    Ingest.refreshFoldPartialsIncremental(spark, path, inc, bucket, union)
    assert(rungRows(full) == rungRows(inc),
      "multi-batch union merge diverged from the full refold")
    // a later pending set whose union interleaves the RUNG's committed
    // range (ctr @ 3.5m lands between committed 3m and 4m) must detect
    // and fall back — still bit-equal
    val b4 = Seq(mk("ctr", 3 * m + 30000L, 4))
    val b5 = Seq(mk("rise", 2 * bucket, 9))
    Seq(b4, b5).foreach { b =>
      Ingest.appendCanonical(canon(b), path)
      spark.catalog.refreshByPath(path)
    }
    val union2 = Seq(b4, b5).map(canon).reduce(_.unionByName(_))
    Ingest.refreshFoldPartials(spark, path, full, bucket,
      Some(Ingest.datesOf(union2)))
    Ingest.refreshFoldPartialsIncremental(spark, path, inc, bucket, union2)
    assert(rungRows(full) == rungRows(inc),
      "rung-interleave fallback diverged on a multi-batch union")
    // the merged rung serves queries bit-equally to raw
    val samples = Ingest.readTable(spark, path)
    val rung = spark.read.parquet(inc).drop("date")
    val raw = new PromQLEngine(spark, samples)
    val routed = new PromQLEngine(spark, samples,
      partialsLadder = Seq((rung, bucket)))
    for (q <- Seq("sum_over_time(du[10m])", "increase(du[10m])")) {
      val a = resultMap(raw.rangeQuery(q, 0L, 3 * bucket, bucket))
      val b = resultMap(routed.rangeQuery(q, 0L, 3 * bucket, bucket))
      assert(a == b && a.nonEmpty, s"$q diverged on the merged rung")
    }
  }

  test("compactStaged snapshot swap: rows preserved bit-for-bit, files " +
      "bounded, an append landing mid-rewrite survives the commit, and " +
      "recovery heals both crash windows (roll-back and roll-forward)") {
    val path = tmp("ingest-cstaged")
    val m = 60000L
    def batch(i: Int) = Seq(
      Ingest.WriteSample(Map("__name__" -> "cs", "k" -> "a"), i * m, i),
      Ingest.WriteSample(Map("__name__" -> "cs", "k" -> "b"), i * m, 2 * i))
    // 6 appends into one date -> 6+ files
    (0 until 6).foreach { i =>
      Ingest.append(Ingest.canonicalize(batch(i).toDS()), path)
    }
    val date = "1970-01-01"
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def files() = new java.io.File(s"$path/date=$date")
      .listFiles().count(_.getName.endsWith(".parquet"))
    def bits() = {
      spark.catalog.refreshByPath(path)
      Ingest.readTable(spark, path).collect()
        .map(_.toSeq.map {
          case d: Double => java.lang.Double.doubleToLongBits(d)
          case x => x
        }).toSet
    }
    assert(files() >= 6, s"fixture should fragment: ${files()}")
    val before = bits()
    // --- the off-write-path shape: snapshot, rewrite, APPEND MORE,
    // commit — the mid-rewrite batch's files are not in the snapshot,
    // so the file-level commit must leave them untouched (the r16
    // background-compactor contract)
    val snap = StagedSwap.snapshot(fs, root, date)
    Ingest.stageCompaction(spark, path, date, snap)
    Ingest.append(Ingest.canonicalize(batch(6).toDS()), path)
    val withMidRewrite = bits()
    assert(withMidRewrite != before, "fixture: batch 7 should add rows")
    assert(StagedSwap.commit(fs, root, date, snap), "commit aborted")
    assert(bits() == withMidRewrite,
      "commit lost rows (mid-rewrite append or compacted content)")
    assert(files() <= Ingest.SeriesBuckets + 2,
      s"compaction did not bound the partition: ${files()}")
    assert(!new java.io.File(s"$path/_swapout-$date").exists() &&
      !new java.io.File(s"$path/_compacting-$date").exists(),
      "staged/swapout leftovers after a clean commit")
    val committed = bits()
    // --- crash window 1 (move-aside done, marker NOT yet written —
    // no staged file is live): recovery rolls BACK, restoring the
    // partition to its exact pre-commit state
    val snap2 = StagedSwap.snapshot(fs, root, date)
    Ingest.stageCompaction(spark, path, date, snap2)
    val swapout = StagedSwap.swapoutDir(root, date)
    fs.mkdirs(swapout)
    snap2.foreach { f =>
      assert(fs.rename(f,
        new org.apache.hadoop.fs.Path(swapout, f.getName)))
    }
    Ingest.recoverStagedCompaction(spark, path)
    assert(bits() == committed, "roll-back recovery changed rows")
    assert(!fs.exists(swapout) &&
      !fs.exists(StagedSwap.stagingDir(root, date)),
      "roll-back left swapout/staging dirs")
    // --- crash window 2 (marker written, move-in half done): recovery
    // rolls FORWARD from the staging dir — same logical rows, no dups
    val snap3 = StagedSwap.snapshot(fs, root, date)
    Ingest.stageCompaction(spark, path, date, snap3)
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
    // move ONE staged file in, "crash", recover
    assert(stagedFiles.nonEmpty)
    assert(fs.rename(stagedFiles.head, new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, s"date=$date"),
      stagedFiles.head.getName)))
    Ingest.recoverStagedCompaction(spark, path)
    assert(bits() == committed, "roll-forward recovery changed rows")
    assert(!fs.exists(swapout) &&
      !fs.exists(StagedSwap.stagingDir(root, date)),
      "roll-forward left swapout/staging dirs")
  }

  test("mergeFoldPartials property: for seeded random corpora split at " +
      "a time cut, merge(fold(A), fold(B)) equals fold(A ∪ B) " +
      "bit-for-bit (resets, markers, boundary rows, empty sides)") {
    val bucket = 60000L
    def df(rows: Seq[(Map[String, String], Long, Double, Boolean)]) =
      rows.toDF("labels", "t", "v", "stale")
    def rowsOf(p: org.apache.spark.sql.DataFrame) =
      p.collect().map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case x => x
      }).toSet
    for (trial <- 0 until 4) {
      val rnd = new scala.util.Random(100 + trial)
      // 5 series × 40 points at 10s cadence: integer values (so FP
      // addition order cannot differ), counter-ish with resets,
      // occasional stale markers, every 6th point exactly on a bucket
      // boundary; one series present only in the LATE half
      val all = for {
        s <- 0 until 5
        i <- 0 until 40
        if !(s == 4 && i < 25)
      } yield (Map("__name__" -> "pm", "k" -> s.toString),
        i * 10000L,
        ((i * (s + 3)) % 47).toDouble,
        rnd.nextInt(15) == 0)
      val cut = (rnd.nextInt(38) + 1) * 10000L
      val a = all.filter(_._2 < cut)
      val b = all.filter(_._2 >= cut)
      val full = Ingest.foldPartials(df(all), bucket)
      val merged = Ingest.mergeFoldPartials(
        Ingest.foldPartials(df(a), bucket),
        Ingest.foldPartials(df(b), bucket))
      assert(rowsOf(merged) == rowsOf(full),
        s"trial $trial (cut at ${cut / 1000}s) diverged")
    }
    // fixed inputs, cut mid-bucket at 90 s: NaN and ±Inf values (a
    // +Inf last point before the cut makes the junction reset +Inf), a
    // counter reset exactly at the cut, and a bucket whose only row on
    // one side of the cut is a staleness marker, each way round
    def pts(k: String, vs: Seq[(Long, Double, Boolean)]) = vs.map {
      case (t, v, st) => (Map("__name__" -> "pm", "k" -> k), t, v, st) }
    val special =
      pts("nan", (0 until 18).map(i => (i * 10000L, i match {
        case 5 | 10 => Double.NaN
        case 8 => Double.PositiveInfinity
        case 13 => Double.NegativeInfinity
        case _ => i.toDouble
      }, false))) ++
      pts("reset", (0 until 18).map(i =>
        (i * 10000L, if (i < 9) 10.0 * i else (i - 9).toDouble, false))) ++
      pts("markA", Seq((0L, 1.0, false), (30000L, 2.0, false),
        (70000L, Double.NaN, true), (90000L, 3.0, false),
        (100000L, 4.0, false), (130000L, 5.0, false))) ++
      pts("markB", Seq((0L, 1.0, false), (60000L, 2.0, false),
        (80000L, 3.0, false), (100000L, Double.NaN, true),
        (150000L, 4.0, false)))
    val cut = 90000L
    val mergedSpecial = Ingest.mergeFoldPartials(
      Ingest.foldPartials(df(special.filter(_._2 < cut)), bucket),
      Ingest.foldPartials(df(special.filter(_._2 >= cut)), bucket))
    assert(rowsOf(mergedSpecial) ==
      rowsOf(Ingest.foldPartials(df(special), bucket)),
      "NaN/Inf, reset-at-cut or one-sided-marker buckets diverged")
  }

  test("rollup refresh across a UTC midnight rewrites BOTH touched " +
      "date partitions") {
    val path = tmp("ingest-rollup-2d")
    val m = 60000L
    val day = 86400000L
    // one series straddling midnight: 23:00 day 0 .. 01:00 day 1
    val edge = (0 to 120).map(i => Ingest.WriteSample(
      Map("__name__" -> "xd"), day - 60 * m + i * m, i.toDouble))
    val batch = Ingest.canonicalize(edge.toDS())
    Ingest.append(batch, path)
    val dates = Ingest.datesOf(batch)
    assert(dates.toSet == Set("1970-01-01", "1970-01-02"))
    Ingest.refreshFoldPartials(spark, path,
      Ingest.rollupPath(path, 60 * m), 60 * m, Some(dates))
    val rung = spark.read.parquet(Ingest.rollupPath(path, 60 * m))
    // both dates materialized (partition-column inference reads the
    // string partition back as DateType — compare through a cast),
    // and no hour bucket spans the boundary
    assert(rung.select(col("date").cast("string")).distinct().collect()
      .map(_.getString(0)).toSet == Set("1970-01-01", "1970-01-02"))
    assert(rung.filter(col("bucket_start") < day &&
      col("bucket_start") + 60 * m > day).count() == 0)
    // routed results equal raw across the midnight window
    val samples = Ingest.readTable(spark, path)
    val raw = new PromQLEngine(spark, samples)
    val routed = new PromQLEngine(spark, samples,
      partialsLadder = Seq((rung.drop("date"), 60 * m)))
    val q = "sum_over_time(xd[2h])"
    val a = resultMap(raw.rangeQuery(q, day - 60 * m, day + 60 * m, 60 * m))
    val b = resultMap(routed.rangeQuery(q, day - 60 * m, day + 60 * m, 60 * m))
    assert(a == b && a.nonEmpty)
  }

  test("replayed micro-batches append once (foreachBatch is at-least-once)") {
    val path = tmp("ingest-replay")
    val ckpt = tmp("ingest-replay-ckpt")
    val batch = Ingest.canonicalize(Seq(
      Ingest.WriteSample(Map("__name__" -> "rp"), 0L, 1.0),
      Ingest.WriteSample(Map("__name__" -> "rp"), 60000L, 2.0)).toDS())
    Ingest.appendOnce(batch, path, ckpt, batchId = 7L)
    Ingest.appendOnce(batch, path, ckpt, batchId = 7L) // crash replay
    assert(Ingest.readTable(spark, path).count() == 2)
    // a genuinely new batch (and another stream's same batch id) land
    Ingest.appendOnce(batch, path, ckpt, batchId = 8L)
    Ingest.appendOnce(batch, path, tmp("other-ckpt"), batchId = 7L)
    assert(Ingest.readTable(spark, path).count() == 6)
  }

  test("streaming staleness: a series that stops reporting gets a " +
      "synthetic marker; an explicitly-ended one does not") {
    val path = tmp("ingest-stale")
    val ckpt = tmp("ingest-stale-ckpt")
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Ingest.WriteSample]
    val m = 60000L
    def run() = Ingest.streamWithStaleness(mem.toDS(), path, ckpt,
      scrapeIntervalMs = m, graceIntervals = 2).awaitTermination(120000)
    def s(k: String, t: Long, v: Double) =
      Ingest.WriteSample(Map("__name__" -> "sc", "k" -> k), t, v)
    // batch 1: three series reporting at t=1m..3m (not epoch: the
    // initial watermark is 0 and rows AT the watermark drop as late)
    mem.addData((1 to 3).flatMap(i => Seq(
      s("a", i * m, i), s("b", i * m, i), s("c", i * m, i))): _*)
    run()
    // batch 2: only a continues; c ends EXPLICITLY with a marker.
    // b's timeout arms at lastSeen 3m + grace 2m; a's samples push
    // the watermark to 8m − 2m = 6m, past it
    mem.addData(Seq(s("a", 7 * m, 7), s("a", 8 * m, 8),
      s("c", 4 * m, Samples.StaleNaN)): _*)
    run()
    // batch 3: one more batch so the advanced watermark takes effect
    // and fires b's timeout
    mem.addData(s("a", 9 * m, 9))
    run()

    val table = Ingest.readTable(spark, path)
    val bRows = table.filter(col("labels")("k") === "b")
      .select(col("t"), col("stale")).as[(Long, Boolean)].collect().toMap
    // b: samples at 1..3m plus ONE synthetic marker at lastSeen+interval
    assert(bRows == Map(m -> false, 2 * m -> false, 3 * m -> false,
      4 * m -> true))
    // c: explicit marker only — no synthetic second ending
    val cRows = table.filter(col("labels")("k") === "c" && col("stale"))
      .select(col("t")).as[Long].collect().toSeq
    assert(cRows == Seq(4 * m))
    // a: still live, no marker
    assert(table.filter(col("labels")("k") === "a" && col("stale")).count() == 0)
    // P5 end-to-end: the synthetic marker hides b at its step
    val eng = new PromQLEngine(spark, table)
    assert(eng.instant("""sc{k="b"}""", 4 * m).count() == 0)
    assert(resultMap(eng.instant("""sc{k="b"}""", 3 * m)).values.toSeq ==
      Seq(3.0))
  }

  test("JSON-lines batch source parses the write wire format") {
    val dir = tmp("jsonl")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "w.jsonl"),
      """{"labels":{"__name__":"j","k":"1"},"t":0,"v":1.5}
        |{"labels":{"__name__":"j","k":"1"},"t":60000,"v":"NaN"}
        |{"labels":{"__name__":"j","k":"2"},"t":0,"v":"+Inf","stale":false}
        |{"labels":{"__name__":"j","k":"3"},"t":0,"v":"NaN","stale":true}
        |""".stripMargin)
    val df = graft.model.Samples.fromJsonLines(spark, dir)
    val rows = df.orderBy("t").collect()
    assert(rows.length == 4)
    assert(rows.exists(r => r.getAs[Double]("v") == 1.5))
    assert(rows.exists(r => r.getAs[Double]("v").isPosInfinity))
    assert(df.filter(col("stale")).count() == 1)
    // engine query over the parsed source: stale series hidden
    val e = new PromQLEngine(spark, df)
    val r = resultMap(e.instant("""j{k="2"}""", 0L))
    assert(r(("__name__=j,k=2", 0L)).isPosInfinity)
    assert(e.instant("""j{k="3"}""", 0L).count() == 0)
  }

  test("storage footprint stays within a sane bytes-per-sample budget") {
    // reference design target is ~1.37 B/sample with Gorilla chunks
    // (docs/assumptions.md:39-41); parquet with dictionary + delta
    // encodings won't match that, but must stay in the same order of
    // magnitude for the 100 TB story. Shape mirrors the reference bench
    // harness: few labels, monotone-ish timestamps, float values.
    val n = 50000
    val series = 50
    val edge = spark.range(n).as[Long].map { i =>
      Ingest.WriteSample(
        Map("__name__" -> "bench_metric", "inst" -> (i % series).toString),
        i * 1000L, math.sin(i.toDouble / 100) * 100)
    }
    val path = tmp("ingest-size")
    Ingest.append(Ingest.canonicalize(edge), path)
    def dirBytes(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    val bytesPerSample = dirBytes(new java.io.File(path)).toDouble / n
    info(f"bytes/sample: $bytesPerSample%.2f")
    assert(bytesPerSample < 40.0, f"parquet footprint $bytesPerSample%.1f B/sample")
  }

  test("date partitioning prunes by time predicate") {
    val path = tmp("ingest-part")
    val edge = Seq(
      Ingest.WriteSample(Map("__name__" -> "p"), 0L, 1.0), // 1970-01-01
      Ingest.WriteSample(Map("__name__" -> "p"), 86400000L, 2.0) // 1970-01-02
    ).toDS()
    Ingest.append(Ingest.canonicalize(edge), path)
    val dates = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("date=")).map(_.getName).sorted
    assert(dates.toSeq == Seq("date=1970-01-01", "date=1970-01-02"))
  }
}
