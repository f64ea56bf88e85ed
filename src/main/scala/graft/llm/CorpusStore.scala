package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Serving lifecycle for a document corpus with a PERSISTED
  * incremental-dedup index (r16, the r15 verdict's "wire the tier
  * end-to-end" item): the llm-side analogue of
  * [[graft.api.HttpApi.forTable]]'s tier discipline. `open` binds (or
  * builds, exactly once per corpus mutation) the persisted df table /
  * orientation-2 prefix postings / high-df route slice beside the
  * corpus, so a FRESH process serves its first daily batch at the
  * documented O(batch) cost — no caller-orchestrated
  * `writeIncrementalIndex`/`bindIncrementalIndex` pair, which is how
  * the r15 surface left cold starts one forgotten call away from a
  * silent postings-volume window shuffle. The reference's shape: the
  * TSDB writes a block's index AT compaction
  * (`vendor/github.com/prometheus/tsdb/compact.go:484` →
  * `index/index.go:101`) and `db.go` Open mmaps it — readers never
  * rebuild indexes from chunks, and neither should a dedup server
  * rebuild postings from text.
  *
  * Mutation discipline (`append` / `compact`): DECERTIFY FIRST (drop
  * the index `_ok` marker), mutate the table, invalidate the session
  * memo for the corpus plan key (the memo keys on canonicalized plans
  * whose file-index equality is by ROOT PATHS — an in-place mutation
  * leaves the key equal while the content changed, the r15 advisor's
  * staleness hole), then rebuild + rebind. A crash anywhere between
  * decertify and rebuild leaves the marker absent, and the next
  * `open` rebuilds — the `_tiers_ok` ordering of the samples path.
  * The docs-count guard inside [[Dedup.ensureIncrementalIndex]] stays
  * as belt-and-braces for out-of-band rewrites.
  */
final class CorpusStore private (
    spark: SparkSession, val dir: String, n: Int,
    thresholds: Seq[Double], share: Double,
    idCol: String, textCol: String) {

  val indexDir: String = Dedup.incrementalIndexPath(dir)
  private val root = new org.apache.hadoop.fs.Path(dir)
  private val fs = root.getFileSystem(spark.sessionState.newHadoopConf())

  /** The corpus as served — re-read per call so the plan always scans
    * the current listing (the memo layer below dedups the heavy
    * derived frames by plan key, so this costs a listing, not a
    * recompute). */
  def docs: DataFrame = spark.read.parquet(dir)

  /** The corpus's fingerprint (shingle-set) frame — the memoized
    * history side every incremental batch joins against. */
  private[llm] def historySets: DataFrame =
    Dedup.shingleSetsCached(docs, n, idCol, textCol)

  /** Fresh-batch near-dup against the corpus (d16's serving shape):
    * (fid, hid, jaccard) pairs at ≥ `threshold`. Thresholds listed at
    * `open` serve from the persisted prefix postings; others build
    * their prefix inline once per session (exact either way). */
  def nearDupBatch(fresh: DataFrame, threshold: Double): DataFrame =
    Dedup.incrementalJaccardFromSets(
      Dedup.shingleSetsCached(fresh, n, idCol, textCol),
      historySets, threshold, share)

  /** Fresh-batch max-containment against the corpus (d17's serving
    * shape): (fid, hid, containment) pairs at ≥ `threshold`. */
  def containmentBatch(fresh: DataFrame, threshold: Double): DataFrame =
    Dedup.incrementalContainmentFromSets(
      Dedup.shingleSetsCached(fresh, n, idCol, textCol),
      historySets, threshold, share)

  /** Append accepted documents to the corpus and refresh the index
    * tier — the "history compaction" moment of the daily-batch loop
    * (dedup a batch, keep the survivors, append them, refresh). One
    * index rebuild per append batch, never per query batch. */
  def append(batch: DataFrame): Unit = {
    decertify()
    batch.select(idCol, textCol).write.mode("append").parquet(dir)
    spark.catalog.refreshByPath(dir)
    refreshIndex()
  }

  /** Rewrite the corpus table (bounding the file fragmentation a
    * daily append cadence accumulates) and refresh the index tier.
    * The rows are materialized BEFORE the overwrite so the job never
    * reads files it is deleting — a single-writer contract (the
    * samples table stages its rewrite instead, see
    * [[graft.storage.Ingest.compactStaged]]). */
  def compact(): Unit = {
    val snap = docs.localCheckpoint(true)
    try {
      decertify()
      snap.write.mode("overwrite").parquet(dir)
      spark.catalog.refreshByPath(dir)
      refreshIndex()
    } finally snap.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  /** Drop the `_ok` marker so no session can bind the now-stale
    * artifacts (belt-and-braces on top of the docs-count guard). */
  private def decertify(): Unit = {
    fs.delete(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(indexDir), "_ok"), false)
    ()
  }

  /** Invalidate the session memo for this corpus and bind-or-rebuild
    * the persisted tier. Safe to call any time; costs one count action
    * plus a rebuild only when the tier is uncertified or stale. */
  def refreshIndex(): Unit = {
    Dedup.invalidateHistoryCaches(historySets)
    Dedup.ensureIncrementalIndex(historySets, indexDir, thresholds, share)
  }
}

object CorpusStore {

  /** Open (or initialize) a corpus for incremental-dedup serving:
    * binds the persisted index when it certifies coverage of
    * `thresholds` + `share` for the CURRENT corpus content, rebuilds
    * it otherwise — so the first server over a freshly mutated corpus
    * pays the build once and every later process opens in
    * O(listing). */
  def open(spark: SparkSession, dir: String, n: Int = 3,
      thresholds: Seq[Double] = Seq(0.8), share: Double = Dedup.DefaultPrefixDfShare,
      idCol: String = "doc_id", textCol: String = "text"): CorpusStore = {
    val cs = new CorpusStore(spark, dir, n, thresholds, share, idCol, textCol)
    cs.refreshIndex()
    cs
  }
}
