package graft.storage

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Samples

/** One encoded chunk: ≤ `maxPerChunk` consecutive samples of ONE
  * series within ONE date partition, as a Gorilla/XOR blob plus the
  * min/max-t envelope the read path prunes on. */
case class ChunkRow(sig: Long, labels: Map[String, String], date: String,
    min_t: Long, max_t: Long, n: Int, chunk: Array[Byte])

/** Chunk-compressed storage tier: the reference's on-disk story
  * (Gorilla/XOR chunks inside date blocks — vendor
  * `prometheus/tsdb/chunkenc/xor.go`, `tsdb/block.go`; design target
  * ≈ 1.37 bytes/sample, `docs/assumptions.md:39-41`) re-expressed as a
  * parquet table OF chunks:
  *
  *   date=yyyy-MM-dd / (sig, labels, min_t, max_t, n, chunk BINARY)
  *
  * Spark-first rationale: the raw-sample parquet tables already get
  * general-purpose compression, but a chunk tier buys the two things
  * that matter for COLD HISTORY at 100 TB — (1) ~5-20× fewer rows
  * (one per ≤240 samples) so scan/filter/shuffle row overheads
  * amortize, and (2) time-series-aware compression (delta-of-delta
  * timestamps are ~1 bit/sample on regular scrapes vs 8 bytes raw).
  * Pruning happens BEFORE decode at three levels: `date` Hive
  * partitions, parquet min/max row-group stats on `min_t`/`max_t`
  * (both driver-pushable — the filters are plain comparisons), and
  * matcher filters on `labels` per chunk row (one evaluation per 240
  * samples instead of per sample). Decode is map-side only — the
  * exploded frame enters the engine exactly like raw samples, so
  * every operator downstream is unchanged.
  *
  * Staleness markers survive the codec: the writer folds the `stale`
  * flag back into the value's raw bits ([[Samples.StaleNaNBits]])
  * before encoding, and the reader re-derives the flag from the
  * decoded bits — inside the blob Spark cannot normalize NaNs.
  */
object ChunkStore {

  /** Max samples per chunk. The reference targets 120 per chunk
    * (`tsdb/head.go` samplesPerChunk); 240 halves per-chunk row
    * overhead at the same intra-chunk seek cost, which a columnar
    * scan does not pay anyway. Hard cap 65535 (uint16 header). */
  val DefaultMaxPerChunk = 240

  /** Encode canonical samples into the chunk layout at `path`.
    * Input must be deduped per (series, t) — the strictly-increasing
    * timestamp contract is [[Ingest.dedup]]'s output contract (the
    * encoder fails fast on violations, the ErrAmendSample stance).
    *
    * Plan shape: one hash exchange on `sig` (the same murmur3 family
    * the bucketed store uses) then a per-partition sort — encoding is
    * a single pass over each partition's (sig, t)-ordered run. No
    * driver-side state; scales with executors. */
  def write(samples: DataFrame, path: String,
      maxPerChunk: Int = DefaultMaxPerChunk,
      buckets: Int = Ingest.SeriesBuckets,
      overwrite: Boolean = false): Unit = {
    require(maxPerChunk > 0 && maxPerChunk <= 0xffff,
      s"maxPerChunk out of range: $maxPerChunk")
    val spark = samples.sparkSession
    import spark.implicits._
    val sigC =
      if (samples.columns.contains("sig")) col("sig")
      else Samples.sigExpr(col("labels"))
    val staleC =
      if (samples.columns.contains("stale")) col("stale") else lit(false)
    val typed = samples
      .select(sigC.as("sig"), col("labels"),
        // pure-UTC epoch-day derivation: read() prunes with UTC date
        // strings, so a session-timezone date_format here would make
        // chunks near midnight invisible under a non-UTC session
        Ingest.utcDate(col("t")).as("date"),
        col("t"), col("v"), staleC.as("stale"))
      .as[(Long, Map[String, String], String, Long, Double, Boolean)]
    val chunks = typed
      .repartition(buckets, col("sig"))
      .sortWithinPartitions(col("sig"), col("t"))
      .mapPartitions { it =>
        new Iterator[ChunkRow] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): ChunkRow = {
            val (sig, labels, date, _, _, _) = buf.head
            val ts = Array.newBuilder[Long]
            val vb = Array.newBuilder[Long]
            var n = 0
            var minT = Long.MaxValue
            var maxT = Long.MinValue
            while (n < maxPerChunk && buf.hasNext &&
                buf.head._1 == sig && buf.head._3 == date) {
              val (_, _, _, t, v, stale) = buf.next()
              ts += t
              vb += (if (stale) Samples.StaleNaNBits
                     else java.lang.Double.doubleToRawLongBits(v))
              if (t < minT) minT = t
              if (t > maxT) maxT = t
              n += 1
            }
            ChunkRow(sig, labels, date, minT, maxT, n,
              GorillaChunk.encode(ts.result(), vb.result()))
          }
        }
      }
    // r17 (guide §6, output file sizing): the encode tasks are
    // sig-bucketed, so EVERY task holds EVERY date it saw and the
    // partitionBy writer opened (tasks × dates) tiny files — 532
    // ~2 KB files for the sf0.1 fixture store, and each subsequent
    // scan paid per-file open/footer cost that dwarfed the decode
    // (the r16 "5.6 µs/chunk fixed cost"). REBALANCE the ENCODED
    // chunk rows (small: the heavy samples were already reduced
    // ~240:1) by date before the write: AQE coalesces small dates
    // into one task (fixture: 1 file/date) and splits a large date
    // into advisory-sized tasks (production: ~64–256 MB files) — the
    // scale-adaptive shape, no constant tuned for either. The
    // within-partition sort restores (sig, min_t) clustering so
    // parquet row-group min/max stats keep pruning envelope reads.
    chunks.toDF()
      .hint("rebalance", col("date"))
      .sortWithinPartitions(col("date"), col("sig"), col("min_t"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("date").parquet(path)
  }


  /** The chunk table itself (no decode) — for stats and pruning
    * plan assertions. */
  def readChunks(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Decode the whole store back to the engine's canonical sample
    * frame (sig, labels, t, v, stale). */
  def read(spark: SparkSession, path: String): DataFrame =
    decoded(readChunks(spark, path))

  /** Decode only chunks overlapping `[startMs, endMs]`: `date`
    * partition pruning + parquet min/max stats on the envelope columns
    * drop non-overlapping chunks BEFORE any decode runs; the exact
    * `t` range filter after decode trims the chunk-boundary overhang.
    * This is the cold-history read path: a 5-minute query against a
    * year of 100 TB history touches only the two days' partitions and,
    * within them, only row groups whose envelope overlaps. */
  def read(spark: SparkSession, path: String,
      startMs: Long, endMs: Long): DataFrame = {
    val d0 = java.time.Instant.ofEpochMilli(startMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    val d1 = java.time.Instant.ofEpochMilli(endMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    decoded(readChunks(spark, path)
      .filter(col("date") >= d0 && col("date") <= d1)
      .filter(col("max_t") >= startMs && col("min_t") <= endMs))
      .filter(col("t") >= startMs && col("t") <= endMs)
  }

  /** The chunk rows under a decoded frame from [[read]] — the
    * `chunk_decode` Generate's child, with any envelope filters the
    * ranged read applied — or None when `decoded` decodes no chunks.
    * Envelope questions (`sum(n)`, `min(min_t)`, `max(max_t)`) read
    * these per-chunk columns instead of decoding every sample. */
  private[graft] def envelopes(decoded: DataFrame): Option[DataFrame] =
    decoded.queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.catalyst.plans.logical.Generate(
          graft.functions.ChunkDecode(_), _, _, _, _, chunks) =>
        org.apache.spark.sql.GraftColumnBridge.frame(decoded.sparkSession, chunks)
    }

  /** Map-side decode via the native generator
    * ([[graft.functions.ChunkDecode]]): the analyzer extracts it into
    * a `Generate` node emitting (t, v, stale) directly as internal
    * rows — no per-point object boxing, and label predicates still
    * push below the Generate (plan-asserted in ChunkStoreSpec), so
    * non-matching chunks are never decoded. */
  private def decoded(chunks: DataFrame): DataFrame =
    chunks.select(col("sig"), col("labels"),
      graft.functions.ChunkDecode.decode(col("chunk")))

  /** Structured Streaming ingest straight into the chunk tier: each
    * micro-batch canonicalizes + dedups (per-batch ErrAmendSample, as
    * [[Ingest.stream]]) and cuts its own chunks — the streaming twin
    * of the reference's head-chunk cutting. Replay-safe with the same
    * batch-id commit markers as [[Ingest.appendOnce]] (a parquet
    * append of chunk rows is no more idempotent than one of sample
    * rows). Per-batch chunks are SHORT by construction; run
    * [[compactStaged]] behind the ingest watermark to restore full
    * chunks, exactly like the reference's background compactor. */
  def stream(edge: Dataset[Ingest.WriteSample], path: String,
      checkpoint: String,
      maxPerChunk: Int = DefaultMaxPerChunk): StreamingQuery =
    Ingest.canonicalize(edge).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Ingest.commitOnce(batch.sparkSession, path, checkpoint, id) {
          write(Ingest.dedup(batch, strict = false), path, maxPerChunk)
        }
        ()
      }
      .start()

  /** Collapse cross-batch duplicate (sig, t) rows to the encoder's
    * strictly-increasing contract: smallest value wins, a stale marker
    * beats a plain value at one timestamp (the [[Ingest.dedup]]
    * non-strict resolution). Per-batch dedup cannot see across
    * appends, so an at-least-once client re-sending a sample in a
    * later batch leaves two rows at one (sig, t); without the collapse
    * the re-encode would break the encoder's contract and the
    * compaction would fail forever. Shared by [[stageCompaction]] and
    * the crash-rebuild path in `HttpApi.forTable` — a sample-volume
    * aggregate, so it MUST stay a hash aggregate:
    * `graft.exec.FirstLabels.first` keeps the map-typed label column
    * out of the aggregation buffer (builtin `first(map)` demotes the
    * whole thing to SortAggregate — the r11/r12 lesson, plan-pinned
    * by `ChunkStoreSpec`). */
  private[graft] def collapseDupSamples(decodedFrame: DataFrame): DataFrame =
    decodedFrame
      .groupBy(col("sig"), col("t"))
      .agg(graft.exec.FirstLabels.first(col("labels")).as("_l0"),
        min(col("v")).as("v"), max(col("stale")).as("stale"))
      .withColumn("labels",
        map_from_entries(array_sort(map_entries(col("_l0")))))
      .select(col("sig"), col("labels"), col("t"), col("v"), col("stale"))

  /** Compact one `date` partition: every append cuts its own chunks,
    * so a day receiving many write batches accumulates short chunks
    * per series (an interleaved append can't extend a sealed blob —
    * the same reason the reference rewrites whole blocks when
    * compacting, `tsdb/compact.go`). Decodes the partition, collapses
    * cross-batch duplicates ([[collapseDupSamples]]) and re-encodes
    * through the standard write pass (full chunks again).
    *
    * Commits with the serve-through-rewrite discipline of
    * [[Ingest.compactSeriesIndex]] (r15), upgraded in r16 to
    * [[StagedSwap]]'s marker-ordered FILE-level snapshot protocol: the
    * re-encode — minutes of work on a hot date, geometrically
    * scheduled so each run covers a DOUBLED partition — reads an
    * explicit snapshot of the partition's files into an
    * underscore-staged dir while queries keep serving, and the commit
    * swaps exactly those files. Two r15 defects closed at once: the
    * dir-level swap forced the rewrite inside the write lock (an
    * appended batch's chunks would have been dropped by the swap —
    * now its files simply aren't in the snapshot), and its
    * delete-then-rename commit could lose the live partition to a
    * crash between the ops, costing a full heal-from-table — the
    * marker protocol rolls back or forward at boot
    * ([[Ingest.recoverStagedCompaction]] on this root) for the price
    * of a directory rename. Residual: the commit window can strand an
    * in-flight plan or serve one a listing missing the partition —
    * the serving path holds it under a brief admission quiesce and
    * swaps engines right after (`HttpApi.forTable`). */
  def compactStaged(spark: SparkSession, path: String, date: String,
      maxPerChunk: Int = DefaultMaxPerChunk,
      buckets: Int = Ingest.SeriesBuckets): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val snap = StagedSwap.snapshot(fs, root, date)
    if (snap.isEmpty) return
    stageCompaction(spark, path, date, snap, maxPerChunk, buckets)
    StagedSwap.commit(fs, root, date, snap)
    spark.catalog.refreshByPath(path)
  }

  /** The rewrite half of [[compactStaged]]: decode + collapse +
    * re-encode exactly `snapshot`'s files into the staging dir,
    * leaving the live partition untouched; commit separately with
    * [[StagedSwap.commit]]. */
  def stageCompaction(spark: SparkSession, path: String, date: String,
      snapshot: Seq[org.apache.hadoop.fs.Path],
      maxPerChunk: Int = DefaultMaxPerChunk,
      buckets: Int = Ingest.SeriesBuckets): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = StagedSwap.stagingDir(root, date)
    fs.delete(staging, true) // leftover from a crashed build
    val day = collapseDupSamples(decoded(
      spark.read.parquet(snapshot.map(_.toString): _*)))
      .localCheckpoint(true)
    // write() re-derives each sample's UTC date from t, so the staged
    // files land under date=<date> inside the staging dir — every
    // snapshot row was stored in that partition
    try write(day, staging.toString, maxPerChunk, buckets)
    finally day.queryExecution.analyzed.foreach {
      // free the checkpoint blocks now, not at GC time
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  /** Round-trip mismatch witness over two (sig, t, v) frames: returns
    * (n_raw, mismatch) in ONE tagged-union hash aggregation (r16's
    * s12 shape). SEMANTICS (pinned by ChunkStoreSpec, r17): `mismatch`
    * counts BAD (sig, t) KEY GROUPS — a key whose sides' values differ
    * NaN-safely, or that is absent or duplicated on either side — not
    * bad join rows (the pre-r16 full-outer-join form counted one per
    * unmatched row, so a key duplicated k times scored k−1; here it
    * scores 1). On unique-key inputs (the store's dedup invariant) the
    * two forms are identical, and ANY corruption still lands ≥ 1. */
  def roundtripMismatch(raw: DataFrame, dec: DataFrame): (Long, Long) = {
    val r = raw.withColumn("_side", lit(1))
      .unionByName(dec.withColumn("_side", lit(2)))
      .groupBy(col("sig"), col("t"))
      .agg(
        max(when(col("_side") === 1, col("v"))).as("_vr"),
        sum(when(col("_side") === 1, 1L).otherwise(0L)).as("_cr"),
        max(when(col("_side") === 2, col("v"))).as("_vd"),
        sum(when(col("_side") === 2, 1L).otherwise(0L)).as("_cd"))
      .agg(sum(col("_cr")).as("n_raw"),
        sum(when(not(col("_vr") <=> col("_vd")) ||
          col("_cr") =!= 1L || col("_cd") =!= 1L, 1L).otherwise(0L))
          .as("mismatch"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Compression accounting: (samples, chunk payload bytes,
    * bytes/sample). Payload = the Gorilla blobs alone; the parquet
    * file footprint (dictionary-compressed labels, envelope columns)
    * is measured separately by callers via the filesystem. */
  def stats(spark: SparkSession, path: String): (Long, Long, Double) = {
    if (!Ingest.hasParquetData(spark, path)) return (0L, 0L, Double.NaN)
    val row = readChunks(spark, path)
      .agg(sum(col("n")), sum(length(col("chunk")))).head()
    // sum() over zero rows is null, not 0
    if (row.isNullAt(0)) return (0L, 0L, Double.NaN)
    val samples = row.getLong(0)
    val bytes = row.getLong(1)
    (samples, bytes, bytes.toDouble / samples)
  }
}
