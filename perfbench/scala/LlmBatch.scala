package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{Dedup, Similarity, TextOps}

/** `llm_batch`: cold passes of the graft.llm dedup pipeline over a
  * seeded corpus, each op's output collected (fully materialized).
  * Every pass reads a corpus written for it alone, so no memoized plan
  * from an earlier pass matches. Outputs are checked after the timed
  * pass against answers computed here from the generated texts and
  * vectors: exact for the text ops, soundness plus a recall floor for
  * the approximate cosine ops. */
object LlmBatch {
  val Ops = Seq("quality_filter", "exact_dedup", "minhash_lsh_pairs",
    "dup_clusters", "apply_dedup", "containment_prefix_pairs",
    "incremental_near_dup", "lsh_cosine_pairs", "cluster_blocked_pairs")
  val BaseDocs = 600
  val FreshDocs = 150
  val Vectors = 600
  val Dim = 64
  val Shingle = 3
  val JaccardT = 0.7
  val ContainT = 0.8
  val CosineT = 0.9
  val CosineRecallFloor = 0.95
  val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "that")

  final case class Corpus(docs: Seq[(Long, String)], fresh: Seq[(Long, String)],
      vecs: Seq[(Long, Array[Double])]) {
    def bytes: Seq[Array[Byte]] =
      (docs ++ fresh).map { case (i, t) => s"$i\t$t\n".getBytes(UTF_8) } ++
        vecs.map { case (i, v) => s"$i\t${v.mkString(",")}\n".getBytes(UTF_8) }
  }

  /** A seeded corpus: ordinary English-shaped documents plus planted
    * exact copies, near copies (one word changed), half-length
    * prefixes (containment), too-short documents, and a fresh shard
    * whose first documents are near copies of history documents. */
  def corpus(seed: Long, docs: Int, fresh: Int, vectors: Int): Corpus = {
    val rnd = new scala.util.Random(seed)
    val vocab = Seq.fill(4000)(Seq.fill(3 + rnd.nextInt(6))(
      ('a' + rnd.nextInt(26)).toChar).mkString)
    def words(n: Int) = Seq.fill(n)(
      if (rnd.nextInt(4) == 0) Stopwords(rnd.nextInt(Stopwords.size))
      else vocab(rnd.nextInt(vocab.size)))
    def nearCopy(ws: Seq[String]) = {
      val i = 5 + rnd.nextInt(ws.size - 10)
      ws.updated(i, vocab(rnd.nextInt(vocab.size)))
    }
    val base = (0 until docs).map(i => i.toLong -> words(40 + rnd.nextInt(40)))
    val n = docs / 20
    val planted =
      (0 until n).map(j => base(rnd.nextInt(docs))._2) ++ // exact copies
        (0 until 2 * n).map(j => nearCopy(base(rnd.nextInt(docs))._2)) ++
        (0 until n).map { j => val ws = base(rnd.nextInt(docs))._2; ws.take(ws.size / 2) } ++
        (0 until n).map(_ => words(5 + rnd.nextInt(10))) // too short
    val all = base ++ planted.zipWithIndex.map { case (ws, j) => (docs + j).toLong -> ws }
    val fr = (0 until fresh).map { j =>
      val ws = if (j < fresh / 4) nearCopy(base(rnd.nextInt(docs))._2) else words(40 + rnd.nextInt(40))
      (2000000L + j) -> ws
    }
    val vecs = (0 until vectors).map(i => i.toLong -> Array.fill(Dim)(rnd.nextGaussian()))
    Corpus(all.map { case (i, ws) => i -> ws.mkString(" ") },
      fr.map { case (i, ws) => i -> ws.mkString(" ") }, vecs)
  }

  def writeCorpus(spark: SparkSession, c: Corpus, dir: String): Unit = {
    val docSchema = StructType(Seq(StructField("doc_id", LongType, false),
      StructField("text", StringType, false)))
    def docsDf(xs: Seq[(Long, String)]) = spark.createDataFrame(
      xs.map { case (i, t) => Row(i, t) }.asJava, docSchema)
    docsDf(c.docs).coalesce(1).write.parquet(s"$dir/documents")
    docsDf(c.fresh).coalesce(1).write.parquet(s"$dir/fresh")
    spark.createDataFrame(c.vecs.map { case (i, v) => Row(i, v.toSeq) }.asJava,
      StructType(Seq(StructField("vec_id", LongType, false),
        StructField("embedding", ArrayType(DoubleType, false), false))))
      .coalesce(1).write.parquet(s"$dir/embeddings")
  }

  /** One pass: input parquet → every op's output collected. */
  def pass(spark: SparkSession, dir: String, tracer: Tracer, passNo: Int)
      : Map[String, Array[Row]] = {
    val out = mutable.LinkedHashMap.empty[String, Array[Row]]
    def op(name: String)(df: => DataFrame): DataFrame = {
      tracer.span(s"llm.$name", passNo) {
        spark.sparkContext.setJobGroup(s"pb-llm.$name-$passNo", "perfbench", false)
        try {
          val d = df
          out(name) = d.collect()
          d
        } finally spark.sparkContext.clearJobGroup()
      }
    }
    tracer.span("pass", passNo) {
      val docs = spark.read.parquet(s"$dir/documents")
      val fresh = spark.read.parquet(s"$dir/fresh")
      val emb = Similarity.withPlantedDupes(spark.read.parquet(s"$dir/embeddings"))
      op("quality_filter")(TextOps.qualityFilter(docs))
      op("exact_dedup")(Dedup.exactDedup(docs))
      val near = op("minhash_lsh_pairs")(Dedup.minhashLshPairs(docs, Shingle, JaccardT))
      op("dup_clusters")(Dedup.dupClusters(docs, near))
      op("apply_dedup")(Dedup.applyDedup(docs, near))
      op("containment_prefix_pairs")(Dedup.containmentPrefixPairs(docs, Shingle, ContainT))
      op("incremental_near_dup")(Dedup.incrementalNearDup(fresh, docs, Shingle, JaccardT))
      op("lsh_cosine_pairs")(Similarity.lshCosinePairs(emb, CosineT, Dim))
      op("cluster_blocked_pairs")(Similarity.clusterBlockedPairs(emb, CosineT, Dim))
    }
    out.toMap
  }

  // ---- independent answers -------------------------------------------------

  private def shingles(t: String): Set[String] =
    t.split(" ").sliding(Shingle).filter(_.length == Shingle).map(_.mkString(" ")).toSet

  /** Pairs (a < b) among `left` × `right` whose shingle sets score at
    * least `t` under `score`, found through a shingle inverted index. */
  private def pairs(left: Seq[(Long, String)], right: Seq[(Long, String)],
      t: Double, score: (Set[String], Set[String]) => Double): Set[(Long, Long)] = {
    val ls = left.map { case (i, x) => i -> shingles(x) }.toMap
    val rs = right.map { case (i, x) => i -> shingles(x) }.toMap
    val index = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
    rs.foreach { case (i, s) => s.foreach(h => index.getOrElseUpdate(h, mutable.ArrayBuffer.empty) += i) }
    ls.toSeq.flatMap { case (i, s) =>
      s.iterator.flatMap(h => index.getOrElse(h, Nil)).filter(_ != i).toSet
        .filter(j => score(s, rs(j)) >= t).map(j => (math.min(i, j), math.max(i, j)))
    }.toSet
  }
  private def jaccard(a: Set[String], b: Set[String]) =
    if (a.isEmpty && b.isEmpty) 0.0 else (a & b).size.toDouble / (a | b).size
  private def containment(a: Set[String], b: Set[String]) =
    if (a.isEmpty || b.isEmpty) 0.0 else (a & b).size.toDouble / math.min(a.size, b.size)

  private def components(ids: Seq[Long], edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long] ++ ids.map(i => i -> i)
    def find(x: Long): Long = { val p = parent(x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  private def pairSet(rows: Array[Row]): Set[(Long, Long)] =
    rows.map { r => val (a, b) = (r.getLong(0), r.getLong(1)); (math.min(a, b), math.max(a, b)) }.toSet

  /** Mismatch descriptions per op (empty = correct). */
  def check(c: Corpus, out: Map[String, Array[Row]], emb: Map[Long, Array[Double]])
      : Map[String, Seq[String]] = {
    val res = mutable.LinkedHashMap.empty[String, Seq[String]]
    val ids = c.docs.map(_._1)
    def expect[A](op: String, got: A, want: A): Unit =
      res(op) = if (got == want) Nil else Seq(s"$op differs from the expected answer")

    val nTok = c.docs.map { case (i, t) => i -> t.split(" ").length }.toMap
    val q = out("quality_filter")
    res("quality_filter") =
      (if (q.length != ids.size) Seq(s"quality_filter: ${q.length} rows for ${ids.size} docs") else Nil) ++
        q.toSeq.flatMap { r =>
          val i = r.getLong(0)
          val flags = (1 to 5).map(r.getLong)
          if (flags(0) != (if (nTok(i) < 20) 1L else 0L) ||
              r.getLong(6) != (if (flags.sum == 0) 1L else 0L))
            Some(s"quality_filter: doc $i flags ${flags.mkString(",")} kept ${r.getLong(6)}")
          else None
        }.take(3)

    val byText = c.docs.groupBy(_._2).values.map(g => g.map(_._1)).toSeq
    val canon = byText.flatMap(g => g.map(_ -> g.min)).toMap
    expect("exact_dedup", out("exact_dedup").map(r => r.getLong(0) -> r.getLong(2)).toMap, canon)

    val near = pairs(c.docs, c.docs, JaccardT, jaccard)
    expect("minhash_lsh_pairs", pairSet(out("minhash_lsh_pairs")), near)
    val comp = components(ids, near)
    expect("dup_clusters", out("dup_clusters").map(r => r.getLong(0) -> r.getLong(1)).toMap, comp)
    val survivors = components(ids, near ++ canon.collect { case (i, m) if i != m => (i, m) })
    expect("apply_dedup", out("apply_dedup").map(r => r.getLong(0) -> r.getLong(1)).toMap, survivors)
    expect("containment_prefix_pairs", pairSet(out("containment_prefix_pairs")),
      pairs(c.docs, c.docs, ContainT, containment))
    expect("incremental_near_dup", pairSet(out("incremental_near_dup")),
      pairs(c.fresh, c.docs, JaccardT, jaccard))

    // approximate ops: every pair really is above the threshold, and
    // the planted near-identical pairs are found at the recall floor
    def cos(a: Long, b: Long) = {
      val (x, y) = (emb(a), emb(b))
      var d = 0.0; var nx = 0.0; var ny = 0.0; var k = 0
      while (k < x.length) { d += x(k) * y(k); nx += x(k) * x(k); ny += y(k) * y(k); k += 1 }
      d / math.sqrt(nx * ny)
    }
    val truth = emb.keys.filter(_ < 1000000L).map(i => (i, i + 1000000L)).toSet
    Seq("lsh_cosine_pairs", "cluster_blocked_pairs").foreach { op =>
      val got = pairSet(out(op))
      val unsound = got.filter { case (a, b) => cos(a, b) < CosineT - 1e-9 }
      val recall = (got & truth).size.toDouble / truth.size
      res(op) = unsound.take(3).map(p => s"$op: pair $p below the threshold").toSeq ++
        (if (recall < CosineRecallFloor) Seq(f"$op: recall $recall%.3f below the floor") else Nil)
    }
    res.toMap
  }

  /** Order-independent hash of an op's output rows. */
  def outputHash(rows: Array[Row]): String =
    java.lang.Long.toHexString(rows.map(_.mkString("|").hashCode.toLong & 0xffffffffL).sum)

  // ---- the run -------------------------------------------------------------

  def run(seed: Long, seconds: Double, runDir: String, nproc: Int, traced: Boolean): Unit = {
    val spark = Common.session(nproc, runDir)
    val stats = new JobStats
    spark.sparkContext.addSparkListener(stats)
    val probes = new Probes
    def passSeed(p: Int) = seed * 1000003L + p
    def dir(p: Int) = s"$runDir/corpus-$p"
    val corpora = mutable.Map.empty[Int, Corpus]
    def prepare(p: Int): Double = Common.timed {
      val c = corpus(passSeed(p), BaseDocs, FreshDocs, Vectors)
      writeCorpus(spark, c, dir(p))
      corpora(p) = c
    }._2
    // set-up: three corpora, each generated and written from the seed
    // (the first three passes' inputs); warm-up: one pass over a small
    // corpus from another seed
    val setupRuns = (0 until 3).map(prepare)
    val warm = Common.timed {
      val w = corpus(~seed, 150, 40, 150)
      writeCorpus(spark, w, s"$runDir/warmup")
      pass(spark, s"$runDir/warmup", new Tracer, -1)
    }._2
    val inputHash = Common.sha256(corpora(0).bytes)
    val docsPerPass = corpora(0).docs.size + corpora(0).fresh.size + 2 * Vectors

    val tracer = new Tracer
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    var failedOps = 0
    val hashes = mutable.ArrayBuffer.empty[Map[String, String]]
    var outRows = Map.empty[String, Long].withDefaultValue(0L)
    probes.take()
    val start = Common.now()
    var p = 0
    // another pass only if it is expected to end inside the window
    while (p == 0 || Common.now() - start + passTimes.max < seconds) {
      if (!corpora.contains(p)) prepare(p)
      val (out, sec) = Common.timed(pass(spark, dir(p), tracer, p))
      passTimes += sec
      probes.take()
      val c = corpora.remove(p).get
      val emb = Similarity.withPlantedDupes(spark.read.parquet(s"${dir(p)}/embeddings"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      val bad = check(c, out, emb).filter(_._2.nonEmpty)
      failedOps += bad.size
      failures ++= bad.values.flatten
      hashes += out.map { case (k, rows) => k -> outputHash(rows) }
      outRows = Ops.map(o => o -> (outRows(o) + out(o).length)).toMap
      Common.deleteTree(dir(p))
      p += 1
    }
    val passes = p
    val metrics = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    def m(name: String, v: Double, unit: String) = metrics(name) = Map("value" -> v, "unit" -> unit)
    if (traced) {
      org.apache.spark.PerfbenchListenerDrain(spark.sparkContext)
      tracer.dump(s"$runDir/spans.jsonl")
      val selfs = tracer.selfTimes
      Ops.foreach { o =>
        val a = stats.sum(_.startsWith(s"pb-llm.$o-"))
        m(s"llm.${o}_s", Common.median(selfs.filter(_._1.name == s"llm.$o").map(_._2)), "s")
        m(s"llm.$o.task_cpu_s", a.cpuNs / 1e9 / passes, "s")
        m(s"llm.$o.shuffle_bytes", a.shuffleBytes.toDouble / passes, "bytes")
        m(s"llm.$o.output_rows", outRows(o).toDouble / passes, "count")
      }
      val roots = selfs.filter(_._1.parent < 0)
      m("trace.unattributed_ratio", roots.map(_._2).sum /
        math.max(1e-9, roots.map(s => (s._1.endNs - s._1.startNs) / 1e9).sum), "ratio")
      m("host.probe_ratio", probes.ratio, "ratio")
      m("host.peak_rss_mb", Common.peakRssMb(), "MB")
    } else {
      m("setup_s", Common.median(setupRuns) + warm, "s")
      m("pipeline_s", Common.median(passTimes.toSeq), "s")
      m("host.probe_ratio", probes.ratio, "ratio")
      m("host.peak_rss_mb", Common.peakRssMb(), "MB")
      m("failed_ratio", failedOps.toDouble / (passes * Ops.size), "fraction")
    }
    Common.emit(if (traced) "TRACE" else "LLM", Map(
      "correct" -> failures.isEmpty, "attempted" -> passes * Ops.size,
      "failed" -> failedOps, "details" -> failures.take(5),
      "docs" -> docsPerPass,
      "passes" -> passes, "pass_s" -> passTimes.toSeq,
      "setup_runs_s" -> setupRuns, "warmup_s" -> warm,
      "input_hash" -> inputHash, "output_hashes" -> hashes.headOption.getOrElse(Map.empty),
      "metrics" -> metrics))
    spark.stop()
  }
}
