package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, OnePartition, Similarity, TextOps}

/** Scale points for the LLM-pipeline SCALE-PATH operators (the ones a
  * 100 TB corpus would actually run — LSH/SimHash banding and the
  * bucketed embedding searches, NOT the exact quadratic baselines,
  * whose regime the dedup-crossover table already bounds). Run on
  * sf0.1 and the `gen_scale.py` 10×/100× corpora and compare growth
  * (SCALE.md §2/§3 scale-point paragraphs).
  *
  * Usage: runMain graft.tools.LlmScalePoint [--ops a,b] <dir> [dir2 ...]
  * Cold run then median of three warm, per op, into a noop sink.
  *
  * `--ops` (r9, fresh-JVM protocol): restrict to the named ops so a
  * shell loop can run ONE JVM PER (op, scale) POINT. The r8 ×100 LSH
  * draws showed why this matters: same-session draws inherit page
  * cache, JIT state, and shuffle-dir residue from whatever ran before
  * them — one 194.6 s outlier elevated EVERY row measured after it in
  * its section, stretching an honest ~linear scale point into a
  * 42–194.6 s envelope (SCALE.md §3.2). A scale table row is only
  * comparable when each cell is the median of N fresh-JVM draws.
  *
  * `llm_pass` is the crossover sweep of the one-partition gate
  * (`graft.llm.OnePartition`, SCALE.md §10): the nine operators of a
  * perfbench `llm_batch` pass, in its order and with its parameters,
  * timed per op on both sides of the gate (every input forced onto one
  * partition, and the parallel plan). Each draw shifts every id, so
  * its plans are new and every memo table misses, as in the
  * benchmark's cold passes; the sides alternate draw by draw. It runs
  * with one shuffle partition per core, as the benchmark does, and
  * prints the gate's size estimate of each input. */
object LlmScalePoint {

  def main(args: Array[String]): Unit = {
    var argv = args.toSeq
    val only: Option[Set[String]] =
      if (argv.size >= 2 && argv.head == "--ops") {
        val s = argv(1).split(',').map(_.trim).filter(_.nonEmpty).toSet
        argv = argv.drop(2)
        Some(s)
      } else None
    val dirs = if (argv.nonEmpty) argv
      else Seq("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("llm-scale-point")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.codegen.maxFields", 256)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dirs.foreach(run(spark, _, only))
    dirs.foreach(dir => if (only.forall(_.contains("llm_pass"))) passSweep(spark, dir))
    spark.stop()
  }

  private val PassOps = Seq("quality_filter", "exact_dedup",
    "minhash_lsh_pairs", "dup_clusters", "apply_dedup",
    "containment_prefix_pairs", "incremental_near_dup", "lsh_cosine_pairs",
    "cluster_blocked_pairs")

  /** The `llm_pass` rows: median of three cold draws per op and side. */
  private def passSweep(spark: SparkSession, dir: String): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val prevPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", cores.toLong)
    def estimate(df: DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes
    def inputs(draw: Int): (DataFrame, DataFrame, DataFrame) = {
      val shift = lit(draw * 1000000000L)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select((col("doc_id") + shift).as("doc_id"), col("text"))
      // a fresh shard of one doc in five, each a near copy (one word
      // appended) of its history doc
      val fresh = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 500000000L).as("doc_id"),
          concat(col("text"), lit(" zzz")).as("text"))
      val emb = Similarity.withPlantedDupes(
        spark.read.parquet(s"$dir/embeddings.parquet")
          .select((col("vec_id") + shift).as("vec_id"), col("embedding")))
      (docs, fresh, emb)
    }
    def pass(draw: Int): Seq[Double] = {
      val (docs, fresh, emb) = inputs(draw)
      def timed(df: => DataFrame): (DataFrame, Double) = {
        val t0 = System.nanoTime()
        val d = df
        d.write.format("noop").mode("overwrite").save()
        (d, (System.nanoTime() - t0) / 1e9)
      }
      val (near, tNear) = timed(Dedup.minhashLshPairs(docs, 3, 0.7))
      Seq(timed(TextOps.qualityFilter(docs))._2,
        timed(Dedup.exactDedup(docs))._2,
        tNear,
        timed(Dedup.dupClusters(docs, near))._2,
        timed(Dedup.applyDedup(docs, near))._2,
        timed(Dedup.containmentPrefixPairs(docs, 3, 0.8))._2,
        timed(Dedup.incrementalNearDup(fresh, docs, 3, 0.7))._2,
        timed(Similarity.lshCosinePairs(emb, 0.9, 64))._2,
        timed(Similarity.clusterBlockedPairs(emb, 0.9, 64))._2)
    }
    try {
      val (docs, fresh, emb) = inputs(0)
      println(s"==== llm_pass $dir  cores $cores  input estimates: docs " +
        s"${estimate(docs)} B  fresh ${estimate(fresh)} B  emb ${estimate(emb)} B ====")
      val sides = Seq("one" -> Long.MaxValue, "parallel" -> 0L)
      val draws = (1 to 3).flatMap { k =>
        sides.map { case (side, bound) =>
          side -> OnePartition.withMaxBytes(bound)(pass(2 * k + (if (side == "one") 0 else 1)))
        }
      }
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      sides.foreach { case (side, _) =>
        val ts = draws.filter(_._1 == side).map(_._2)
        PassOps.indices.foreach { i =>
          println(f"llm_pass ${PassOps(i)}%-26s $side%-8s cold-med ${med(ts.map(_(i)))}%7.2f s")
        }
        println(f"llm_pass ${"total"}%-26s $side%-8s cold-med ${med(ts.map(_.sum))}%7.2f s")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevPartitions)
  }

  private def run(spark: SparkSession, dir: String,
      only: Option[Set[String]]): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val nDocs = docs.count(); val nVecs = emb.count()
    println(s"==== corpus $dir  docs $nDocs  vecs $nVecs ====")
    def med(f: => DataFrame): (Double, Double) = {
      def once(): Double = {
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = once()
      (cold, Seq.fill(3)(once()).sorted.apply(1))
    }
    // draw counter for the d17_batch_* ops: each draw's fresh side is
    // id-shifted so its PLAN is new (per-batch costs run per draw)
    var batchDraw = 0L
    def boilerCorpus(d: DataFrame): (DataFrame, DataFrame) = {
      val boiler = lit(
        " all rights reserved contact us terms of service apply today")
      val m = col("doc_id") % 1000000L
      val history = d.select(col("doc_id"),
        when(m % 5 < 4, concat(col("text"), boiler))
          .otherwise(col("text")).as("text"))
      val fresh = d.filter(m % 10 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text").substr(lit(1),
            floor(length(col("text")) / lit(2)).cast("int")), boiler)
            .as("text"))
      (fresh, history)
    }
    // the r13-vintage incremental containment: broadcast semi-join
    // prune only, NO prefix bound — kept here (and only here) so the
    // boilerplate A/B measures exactly what the bound buys
    def unprunedIncrementalContainment(fresh: DataFrame,
        history: DataFrame, n: Int, threshold: Double): DataFrame = {
      val fs = Dedup.shingleSetsCached(fresh, n, "doc_id", "text")
      val hs = Dedup.shingleSetsCached(history, n, "doc_id", "text")
      val fpost = fs.select(col("id").as("fid"), col("nsh").as("nf"),
        explode(col("hs")).as("s"))
      val hpost = hs.select(col("id").as("hid"), col("nsh").as("nh"),
        explode(col("hs")).as("s"))
      val pruned = hpost.join(
        broadcast(fpost.select(col("s")).distinct()), Seq("s"), "left_semi")
      pruned.join(fpost, Seq("s"))
        .groupBy(col("fid"), col("hid"), col("nf"), col("nh"))
        .agg(count(lit(1)).as("inter"))
        .withColumn("containment",
          greatest(col("inter").cast("double") / col("nf").cast("double"),
            col("inter").cast("double") / col("nh").cast("double")))
        .filter(col("containment") >= threshold)
        .select(col("fid"), col("hid"), col("containment"))
    }
    val ops: Seq[(String, () => DataFrame)] = Seq(
      ("d3_minhash_lsh", () => Dedup.minhashLshPairs(docs, 3, 0.5)),
      ("d4_simhash", () => Dedup.simhashPairs(docs)),
      ("x2_lsh_pairs", () => Similarity.lshCosinePairs(emb, 0.9,
        dim = 64, nBits = 64, bands = 8)),
      ("x3_ivf_blocked", () => Similarity.clusterBlockedPairs(emb, 0.9,
        dim = 64, nprobe = 2)),
      // r8: the two text ops whose SHUFFLED volume is vocabulary-
      // bounded (model/pair tables after map-side combine) — wall
      // growth across 10×/100× corpora should track the linear scan
      // with no superlinear pair structure; the replicated corpora
      // hold the vocabulary constant, isolating exactly that term
      ("t20_lm_score", () => TextOps.lmScore(docs)),
      ("t21_bpe_pairs", () => TextOps.bpePairCounts(docs, 20)),
      // r8b: entropy shuffles (doc, token) pairs — corpus-linear but
      // combine-heavy; co-occurrence shuffles the vocab²-bounded pair
      // table (held constant by the replicated corpora, like t20/t21);
      // centroids shuffle labels×dims cells (output-sized, constant)
      ("t22_word_entropy", () => TextOps.wordEntropy(docs)),
      ("t23_cooccurrence", () => TextOps.cooccurrence(docs, 3, 20)),
      ("t24_source_kl", () => TextOps.sourceDivergence(docs)),
      ("t25_zipf_slope", () => TextOps.zipfSlope(docs)),
      ("x6_label_centroids", () => Similarity.labelCentroids(emb)),
      ("x8_centroid_assign", () => Similarity.centroidAssign(emb)),
      // r9: the langId battery as t27's grouping shape — the cost the
      // native StopwordHits expression cut ~10× (langId cannot be
      // column-pruned when it is an aggregation key, so this measures
      // the real per-row scoring, unlike a pruned count)
      ("t27_lang_confusion", () => docs
        .select(col("lang"), TextOps.langId(col("text")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))),
      // r9: BPE train (vocabulary-bounded rounds after one corpus
      // aggregate) and encode (broadcast vocab join + per-doc agg) —
      // the sharded corpora grow the vocabulary ×k (per-shard token
      // tags), so both the vocab aggregate and the broadcast side
      // scale linearly; growth beyond linear would mean a pair
      // structure leaked into the rounds
      ("t28_bpe_merges", () => TextOps.bpeMerges(docs, 3)),
      ("t29_bpe_encode", () => TextOps.bpeEncode(docs, 3)),
      // r10: containment prefix filter — per-shard pair structure is
      // held constant by the sharded corpora, so candidates and
      // output grow ×k while the df aggregate/window grow with
      // postings volume: wall should track the linear terms. BM25's
      // base query terms match only shard 0 of the scaled corpora
      // (tokens are shard-tagged), so its output stays CONSTANT and
      // the measurement isolates the corpus-linear tokenize scan —
      // the dominant 100 TB term.
      ("d15_containment_prefix",
        () => Dedup.containmentPrefixPairs(docs, 3, 0.6)),
      ("t30_bm25", () => TextOps.bm25(docs, graft.SparkEntry.Bm25Terms)),
      // r10: iterated k-means — per-round work is one broadcast
      // map-only scoring pass + one (cluster, dim) mean aggregate;
      // the k×dim checkpoint is a constant driver action per round
      ("x9_kmeans_rounds", () => Similarity.kmeansRounds(emb, 3)),
      // r11: PQ top-k — CONSTANT 10-query probe side (shard 0 ids),
      // so growth isolates the corpus-side terms: the sampled codebook
      // build (driver k-means, amortized across warm draws via
      // pqCache) and the ADC byte-code scan (corpus-linear); the
      // rescored shortlist stays queries-bounded
      ("x5_sim_pq", () => Similarity.pqTopK(
        emb.filter(col("vec_id") < 10), emb, 5, dim = 64)),
      // r11: image near-dup — perceptual hashes are a map-only codegen
      // pass; the 4×16-bit banded Hamming join ships 4 small rows per
      // image, so growth should track the payload scan
      ("m6_image_neardup", () => graft.llm.Multimodal.imageNearDupPairs(
        graft.llm.Multimodal.mediaTableWithDupes(docs))),
      // r11: incremental near-dup vs history — history = lower half of
      // each shard, fresh = upper half + exact copies of the lowest
      // 10% (the planted overlap, constant per shard). The broadcast
      // shingle prune keeps cost at batch×overlap per shard — growth
      // beyond linear would mean the history² structure leaked back
      ("d16_incremental_neardup", () => {
        val m = col("doc_id") % 1000000L
        val history = docs.filter(m < 2500)
        val fresh = docs.filter(m >= 2500)
          .select(col("doc_id"), col("text"))
          .unionByName(docs.filter(m < 500)
            .select((col("doc_id") + 100000000L).as("doc_id"), col("text")))
        Dedup.incrementalNearDup(fresh, history, 3, 0.5)
      }),
      // r12: image dedup clusters — m6's banded pairs + alternating-
      // star CC; the planted corpus keeps components tiny (pairs), so
      // growth isolates the CC iteration floor over a ×k pair table
      ("m7_image_dedup", () => {
        val media = graft.llm.Multimodal.mediaTableWithDupes(docs)
        Dedup.dupClusters(
          media.filter(col("kind") === "image").select(col("doc_id")),
          graft.llm.Multimodal.imageNearDupPairsCached(media)
            .select(col("ia"), col("ib")))
      }),
      // r12: video frame dedup — shuffle volume = frame COUNT (two
      // long-keyed hash aggregates), never payload bytes; growth
      // should track the frame-slicing scan
      ("m10_frame_dedup", () => graft.llm.Multimodal.frameDedup(
        graft.llm.Multimodal.mediaTableWithDupes(docs))),
      // r12: video near-dup — d15's prefix filter over per-video
      // frame-fingerprint sets; per-shard pair structure constant, so
      // candidates/output grow ×k over the frame-set aggregate
      ("m11_video_neardup", () => graft.llm.Multimodal.videoNearDupPairs(
        graft.llm.Multimodal.mediaTableWithDupes(docs), 0.9)),
      // r12: audio near-dup — energy trigrams formed map-only inside
      // the partition pass, d15 prefix filter over the sets
      ("m12_audio_neardup", () => {
        val spark = docs.sparkSession
        graft.llm.Multimodal.audioNearDupPairs(spark,
          graft.llm.Multimodal.mediaTableWithDupes(docs), 0.9)
      }),
      // r12: the distributed-PCA pair — the gramian is one
      // ObjectHashAggregate buffer per task (dim²/2 FMAs per row, so
      // wall should track the scan), and pcaProject adds the map-only
      // projection + output-sized moment aggregate on top
      ("x10_embed_gramian", () => Similarity.embeddingGramian(emb, 64)),
      ("x11_pca_project", () => Similarity.pcaProject(emb, 64, 8)),
      // r13: SemDeDup PRODUCTION pairs job — whiten (memoized eigen) →
      // cluster → in-block pairs, WITHOUT the oracle witness (whose
      // exact baseline is the O(N²) all-pairs scan, excluded like every
      // other quadratic baseline here); cold includes the eigen +
      // centroid index builds, warm shows the served cost
      ("c4_semdedup", () => Similarity.semDeDupPairs(
        Similarity.withPlantedDupes(emb), 64, 32, 0.9)),
      // r13: incremental containment — history = docs, fresh = 10% new
      // + truncated copies; batch set broadcast-prunes history postings
      ("d17_incr_containment", () => {
        val history = docs.select(col("doc_id"), col("text"))
        val fresh = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            col("text").substr(lit(1),
              floor(length(col("text")) / lit(2)).cast("int")).as("text"))
        Dedup.incrementalContainment(fresh, history, 3, 0.8)
      }),
      // r14: SemDeDup through the APPLY step — c4's production pairs
      // job + alternating-star CC + the survivor rule; growth beyond
      // c4's own isolates the CC floor over a ×k pair table (m7's
      // argument, on the embedding family)
      ("c5_semdedup_apply", () => {
        val planted = Similarity.withPlantedDupes(emb)
        val pairs = Similarity.semDeDupPairs(planted, 64, 32, 0.9)
          .select(col("ia"), col("ib"))
        Dedup.dupClusters(planted.select(col("vec_id")), pairs,
          idCol = "vec_id")
      }),
      // r14: the d17 incremental core on VIDEO frame sets — fresh =
      // the planted re-encodes, history = the original media table;
      // frame-set build + prefix-bounded candidate join, so growth
      // should track the frame-slicing scan like m10/m11
      ("m13_video_incr", () => {
        val history = graft.llm.Multimodal.mediaTable(docs)
        val fresh = graft.llm.Multimodal.mediaTableWithDupes(docs)
          .filter(col("doc_id") >= 1000000L)
        Dedup.incrementalContainmentFromSets(
          graft.llm.Multimodal.videoFrameSets(fresh),
          graft.llm.Multimodal.videoFrameSets(history), 0.9)
      }),
      // r14: BOILERPLATE-skewed incremental containment — one 9-word
      // sentence shared by 80% of history AND every fresh doc (the
      // web-scale worst case the r13 verdict flagged). The prefix
      // bound keeps candidates at batch×source-overlap; growth should
      // track d17's own
      ("d17_boiler_prefix", () => {
        val (fresh, history) = boilerCorpus(docs)
        Dedup.incrementalContainment(fresh, history, 3, 0.8)
      }),
      // the PRE-r14 unpruned shape on the same corpus, for the
      // base-scale A/B ONLY: its candidate join carries
      // Σ_s df_batch(s)·df_hist(s) ≈ (0.1·0.8)·N² posting pairs
      // through the shuffle — the blowup the prefix bound removes
      // (never run this at ×100; that is the point)
      ("d17_boiler_unpruned", () => {
        val (fresh, history) = boilerCorpus(docs)
        unprunedIncrementalContainment(fresh, history, 3, 0.8)
      }),
      // r15 (the r14 verdict's ask #7): the adaptive route's PER-BATCH
      // fixed cost as a fraction of batch cost at scale. Every draw
      // shifts the fresh ids, minting a NEW batch plan — so the route
      // probe, batch shingle aggregation, vocabulary broadcast, and
      // prefix slice run PER DRAW (a serving day's every batch is a
      // new plan), while the history-side artifacts (df table, prefix
      // postings, high-df slice) stay memoized across draws exactly as
      // they persist across batches in production. The _forced twin
      // (share = 0) skips the probe; (adaptive − forced)/adaptive is
      // the probe's fraction, and either warm median over the
      // d17_boiler_prefix row (same plan EVERY draw, everything
      // memoized) bounds the whole fixed machinery.
      ("d17_batch_adaptive", () => {
        val (fresh0, history) = boilerCorpus(docs)
        batchDraw += 1
        val fresh = fresh0.select(
          (col("doc_id") + lit(batchDraw * 1000000000L)).as("doc_id"),
          col("text"))
        Dedup.incrementalContainmentFromSets(
          Dedup.shingleSetsCached(fresh, 3),
          Dedup.shingleSetsCached(history, 3), 0.8)
      }),
      ("d17_batch_forced", () => {
        val (fresh0, history) = boilerCorpus(docs)
        batchDraw += 1
        val fresh = fresh0.select(
          (col("doc_id") + lit(batchDraw * 1000000000L)).as("doc_id"),
          col("text"))
        Dedup.incrementalContainmentFromSets(
          Dedup.shingleSetsCached(fresh, 3),
          Dedup.shingleSetsCached(history, 3), 0.8, prefixDfShare = 0.0)
      }))
    for ((name, f) <- ops if only.forall(_.contains(name))) {
      val (cold, warm) = med(f())
      println(f"$name%-16s cold $cold%7.2f s  warm-med $warm%7.2f s")
    }
    // guard observability (r7): the skew/band-cap engagements for this
    // corpus — the counters /metrics exports as graft_llm_guard_total
    import scala.jdk.CollectionConverters._
    Similarity.diag.asScala.toSeq.sortBy(_._1).foreach { case (k, n) =>
      println(s"guard $k = ${n.get()}")
    }
  }
}
