package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.exec.TopK

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers:
  *  - [[topK]] / [[brutePairs]]: exact brute-force cosine — the
  *    correctness baseline. Cost is |queries|×|corpus| dot products; at
  *    100 TB this is only viable for small query sets, which is exactly
  *    how it is shaped: the corpus side streams through a map-only dot
  *    product against a BROADCAST query set (no shuffle of the corpus),
  *    and per-query top-k uses the bounded-heap aggregator
  *    ([[graft.exec.TopK]]) — O(k·queries) memory, never a global sort.
  *  - [[annTopK]]: random-hyperplane LSH bucketing. Corpus vectors are
  *    hashed to 64 sign bits banded into 16×4-bit bucket keys; only
  *    bucket-colliding (query, candidate) pairs get exact scoring. At
  *    100 TB the shuffle is 16 small (band, key, id) rows per vector —
  *    the scale path, at the price of approximate recall (verified ≳0.9
  *    on the fixture in the unit suite).
  *
  * The dot product folds left-to-right (`aggregate` over `zip_with`) so
  * any engine reproducing the same fold order gets bit-identical sums.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Observability counters for the adaptive-LSH guards (r6 advice:
    * recall-affecting drops must be visible, not silent):
    * `lsh_buckets_dropped` (over-`maxBucket` buckets removed by the
    * skew guard) and `lsh_band_cap_hits` (the ≥95%-recall band sizing
    * exceeded the 64-band cap). Process-lifetime, like
    * [[graft.exec.PromQLEngine.routeHits]]. */
  val diag = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicLong]()
  private def countDiag(k: String, by: Long = 1L): Unit =
    diag.computeIfAbsent(k,
      _ => new java.util.concurrent.atomic.AtomicLong).addAndGet(by)

  /** Left-to-right dot product of two double arrays — the native
    * [[graft.functions.ArrayDot]] expression (codegen, reads straight
    * from UnsafeArrayData), not `aggregate(zip_with(...))` (interpreted
    * per element, ~1000× slower on 64-dim vectors) and no longer a
    * Scala UDF (which deserialized both arrays per row). The fold
    * order (acc += a_i·b_i, i ascending) is the contract the SQL
    * oracles mirror for bit-identical doubles. */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayDot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** (id, v: array<double>, nrm) normalized view of an embeddings frame. */
  def prep(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    emb.select(col(idCol).as("id"), v.as("v")).withColumn("nrm", l2norm(col("v")))
  }

  /** [[prep]] memoized + Spark-cached, keyed by the CANONICALIZED logical
    * plan of the (id, vec) projection (Spark's sameResult identity, the
    * same pattern as the engine's series dimension): the exact, LSH, and
    * IVF entries all start from the identical normalized corpus view, and
    * without the cache every operator — and every Lloyd iteration inside
    * [[kmeansCentroids]] — re-scans the parquet and re-runs the norm UDF.
    * The cached view is (id, 64 doubles, nrm) per vector: ~0.5 KB/row, so
    * even a 10⁹-vector corpus is a normal cluster-cache working set, and
    * Spark degrades to disk/recompute if it does not fit. */
  def prepCached(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    prepCache.computeIfAbsent(
      emb.select(col(idCol), col(vecCol)).queryExecution.analyzed.canonicalized,
      _ => prep(emb, idCol, vecCol).cache())

  private val prepCache: java.util.Map[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame] =
    PlanCache.bounded(16)

  /** [[kmeansRounds]]' normalized (id, label, v, nrm) corpus view,
    * memoized + Spark-cached per canonicalized (id, label, vec)
    * projection — the labeled twin of [[prepCache]]. */
  private val kmeansCorpusCache: java.util.Map[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame] =
    PlanCache.bounded(16)

  /** Benchmark corpus with PLANTED near-duplicates: the fixture
    * embeddings carry no true near-dups (max pair cosine ≈ 0.6, i.e. the
    * tail of a random-vector distribution), so the sub-quadratic
    * near-dup paths ([[lshCosinePairs]], [[clusterBlockedPairs]]) are
    * demonstrated on the union of the corpus with one jittered copy per
    * vector (id + 1e6): per-component seeded-Gaussian noise scaled to
    * `rel`·‖v‖/√dim puts each copy at cosine ≈ 1/√(1+rel²) ≈ 0.989 from
    * its original — the near-identical regime real dedup targets.
    * Deterministic per id, so repeated calls build canonically-equal
    * plans (and hit [[prepCached]]). */
  def withPlantedDupes(emb: DataFrame, rel: Double = 0.15,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val base = emb.select(col(idCol).cast("long").as(idCol),
      col(vecCol).cast("array<double>").as(vecCol))
    val jittered = base.select((col(idCol) + 1000000L).as(idCol),
      jitterUdf(col(idCol), col(vecCol), lit(rel)).as(vecCol))
    base.unionByName(jittered)
  }

  /** Single val so structurally identical [[withPlantedDupes]] plans
    * canonicalize equal (ScalaUDF compares function identity). */
  private val jitterUdf: UserDefinedFunction =
    udf { (id: Long, v: Array[Double], rel: Double) =>
      val rnd = new java.util.Random(id * 2654435761L + 17)
      var n2 = 0.0
      v.foreach(x => n2 += x * x)
      val sigma = rel * math.sqrt(n2 / math.max(1, v.length))
      v.map(x => x + sigma * rnd.nextGaussian()).toArray
    }

  /** L2-normalize + symmetric int8 quantization of each embedding —
    * the standard compaction step before a vector index ships (4× the
    * density of float32, 16× of the raw doubles). norm = √(Σx²) with a
    * LEFT-TO-RIGHT fold in double (the cross-engine deterministic
    * order the SQL oracles mirror); qᵢ = ⌊xᵢ/norm·127 + 0.5⌋
    * (round-half-up, the PromQL-round formula — IEEE-identical in any
    * engine). Zero vectors quantize to all-zero rather than NaN.
    * Map-only, zero shuffle, scan-speed at 100 TB.
    *
    * Output: per-vector norm plus the quantized min/max/sum — scalar
    * witnesses of the full rewrite (the oracle compare stays
    * scalar-shaped; a consumer wanting the int8 array keeps the `_q`
    * projection one select earlier). */
  def normQuantize(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val sq = aggregate(col(vecCol).cast("array<double>"), lit(0.0d),
      (a, x) => a + x * x)
    emb.select(col(idCol), col(vecCol).cast("array<double>").as("_v"),
        sqrt(sq).as("_norm"))
      .select(col(idCol), col("_norm"),
        transform(col("_v"), x =>
          when(col("_norm") === 0.0, lit(0L))
            .otherwise(floor(x / col("_norm") * lit(127.0d) + lit(0.5d)))
            .cast("long")).as("_q"))
      .select(col(idCol), col("_norm").cast("float").as("norm"),
        array_min(col("_q")).as("q_min"), array_max(col("_q")).as("q_max"),
        aggregate(col("_q"), lit(0L), (a, x) => a + x).as("q_sum"))
  }

  /** Upper-triangular corpus GRAMIAN Σᵥ vᵢ·vⱼ of an embedding column —
    * the one distributed pass behind PCA / whitening / covariance
    * drift monitors (RowMatrix.computeGramianMatrix's shape): the
    * eigendecomposition that follows runs driver-side on the dim×dim
    * result, so the cluster's whole job is this aggregate.
    *
    * Shape: [[graft.exec.VecMoments]] — a native
    * TypedImperativeAggregate whose buffer is the flat
    * `[tri | sums | n]` double array, ObjectHashAggregate with ONE
    * group, so each task reduces its rows map-side into a single
    * buffer (dim 64 → 2145 doubles) and the shuffle is one buffer per
    * task regardless of corpus size; per row the update is the dim²/2
    * fused multiply-adds that ARE the gramian math, read straight off
    * the UnsafeArrayData (r13: the typed-Aggregator predecessor
    * decoded a boxed `Seq[Float]` per row and Kryo-coded the buffer —
    * the FirstLabels per-row-decode class). No explode, no join, no
    * per-element lambda (a transform-based pair expansion evaluates
    * interpreted per element — the SCALE.md §3 ArrayDot lesson).
    *
    * Determinism across engines: products accumulate in double from
    * float32 inputs and the emitted cell casts to float32 — order-of-
    * addition noise (~1e-15 relative) vanishes below float32's 1.2e-7
    * ULP, the same argument as [[labelCentroids]]'s mean.
    *
    * Output: (i, j, s) long-form upper triangle, 1-based dims — the
    * (i, j) of each flat triangle slot come from two tiny literal
    * lookup arrays, so the explode stays in-plan (nothing collected). */
  def embeddingGramian(emb: DataFrame, dim: Int,
      vecCol: String = "embedding"): DataFrame = {
    val t = dim * (dim + 1) / 2
    val iArr = new Array[Int](t)
    val jArr = new Array[Int](t)
    var k = 0
    for (i <- 0 until dim; j <- i until dim) {
      iArr(k) = i + 1; jArr(k) = j + 1; k += 1
    }
    emb.select(col(vecCol).cast("array<float>").as("v"))
      .agg(graft.exec.VecMoments.moments(dim, col("v")).as("m"))
      .select(posexplode(slice(col("m"), 1, t)).as(Seq("k", "s")))
      .select(element_at(typedLit(iArr.toSeq), col("k") + 1).as("i"),
        element_at(typedLit(jArr.toSeq), col("k") + 1).as("j"),
        col("s").cast("float").as("s"))
  }

  /** PCA projection with self-verifying witnesses (x11): the complete
    * distributed-PCA story over [[embeddingGramian]]'s machinery —
    * ONE moments pass (gramian triangle + per-dim sums + count in a
    * single ObjectHashAggregate buffer), a DRIVER-side cyclic-Jacobi
    * eigendecomposition of the dim×dim covariance (the classic
    * RowMatrix.computePrincipalComponents split: the cluster never
    * sees more than one buffer per task; the eigen problem is a 64×64
    * driver matrix), then a MAP-ONLY projection pass whose per-
    * component moments are aggregated output-sized.
    *
    * Because eigenvectors are not SQL-re-derivable, the entry follows
    * the x2/x3/x5 witness pattern: the emitted row is a set of
    * VERDICTS the oracle states literally — eigenpair residuals
    * ‖Cv−λv‖ ≤ tol, orthonormality, descending eigenvalues,
    * Σ top-k λ ≤ trace(C), and the distributed check that each
    * projected component's variance equals its eigenvalue (the
    * round-trip that ties the cluster-side projection back to the
    * driver-side eigenbasis). */
  /** Corpus eigenstructure, memoized per (canonicalized vec-projection
    * plan, dim): ONE distributed moments pass ([[graft.exec
    * .VecMoments]]) → population covariance C = G/n − μμᵀ → driver
    * cyclic-Jacobi eigen, sorted descending. Memoization makes
    * repeated calls (bench warm draws, [[pcaProject]] + [[
    * whitenProject]] over one corpus) reuse the SAME μ/λ/V array
    * instances, so downstream `ArrayProject` expressions canonicalize
    * equal and the prep/centroid plan caches hit.
    *
    * Bounded access-order LRU (r14, the [[PlanCache]] discipline): a
    * long-running server whose per-batch corpora mint a fresh plan
    * key every batch must not accumulate plan trees + dim² arrays
    * without bound — 16 entries covers every concurrent-corpus shape
    * the entries exercise. The compute runs Spark jobs, so it happens
    * OUTSIDE the map lock ([[lruGetOrCompute]]): a racing pair may
    * both compute, first-cached wins — instance stability holds for
    * every LATER caller, which is what the plan-canonicalization
    * reuse needs. */
  private val eigenCache = boundedLru[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int),
    (Long, Array[Double], Array[Array[Double]], Array[Double],
      Array[Array[Double]])](16)

  /** Size-capped access-order LRU for driver-side (array) values —
    * unlike [[PlanCache]] there is nothing to unpersist on eviction. */
  private def boundedLru[K, V](max: Int): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[K, V]): Boolean = size() > max
      })

  /** get-or-compute against a synchronized LRU with the COMPUTE
    * outside the lock — the eigen/whiten computes run Spark actions,
    * and holding the map mutex across a job would serialize unrelated
    * corpora (the r9 selectivity-cache liveness rule). On a race the
    * first-cached value wins, so all later callers share one
    * instance. */
  private def lruGetOrCompute[K, V](m: java.util.Map[K, V], k: K)(
      f: => V): V = {
    val hit = m.get(k)
    if (hit != null) hit
    else {
      val v = f
      m.synchronized {
        val prior = m.get(k)
        if (prior != null) prior else { m.put(k, v); v }
      }
    }
  }

  /** (n, μ, C, λ desc, eigenvectors (row i ↔ λᵢ)). */
  private[llm] def corpusEigen(emb: DataFrame, dim: Int, vecCol: String)
      : (Long, Array[Double], Array[Array[Double]], Array[Double],
        Array[Array[Double]]) =
    lruGetOrCompute(eigenCache,
      (emb.select(col(vecCol)).queryExecution.analyzed.canonicalized, dim)) {
        val m = emb.select(col(vecCol).cast("array<float>").as("v"))
          .agg(graft.exec.VecMoments.moments(dim, col("v")).as("m"))
          .head().getSeq[Double](0).toArray
        val (n, sums, tri) = graft.exec.VecMoments.split(dim, m)
        require(n >= 2, s"PCA needs at least two vectors, got $n")
        // covariance C = G/n − μμᵀ (population)
        val mu = sums.map(_ / n)
        val c = Array.ofDim[Double](dim, dim)
        var idx = 0
        for (i <- 0 until dim; j <- i until dim) {
          val v = tri(idx) / n - mu(i) * mu(j)
          c(i)(j) = v; c(j)(i) = v
          idx += 1
        }
        val (eval0, evec0) = PcaMath.jacobiEigen(c)
        // sort descending by eigenvalue
        val order = eval0.indices.sortBy(i => -eval0(i))
        (n, mu, c, order.map(eval0).toArray, order.map(evec0).toArray)
      }

  def pcaProject(emb: DataFrame, dim: Int, k: Int,
      vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(k >= 1 && k <= dim)
    val (n, mu, c, evals, evecs) = corpusEigen(emb, dim, vecCol)
    // driver-side verdicts
    val tol = 1e-9 * math.max(1.0, evals.map(math.abs).max)
    val residOk = (0 until dim).forall { i =>
      val r = PcaMath.matVec(c, evecs(i)).zip(evecs(i))
        .map { case (cv, v) => cv - evals(i) * v }
      math.sqrt(r.map(x => x * x).sum) <= 1e6 * tol
    }
    val orthOk = (0 until dim).forall { i =>
      (i until dim).forall { j =>
        val d = evecs(i).zip(evecs(j)).map { case (a, b) => a * b }.sum
        math.abs(d - (if (i == j) 1.0 else 0.0)) <= 1e-9
      }
    }
    val descOk = evals.sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
    val trace = (0 until dim).map(i => c(i)(i)).sum
    val topk = evals.take(k)
    val traceOk = topk.sum <= trace * (1 + 1e-12) + 1e-9
    // pass 2: map-only projection, output-sized moment aggregate
    // native projection (graft.functions.ArrayProject): k×dim FMAs
    // straight off the array data — the udf predecessor's per-row
    // Seq[Float] decode was the ×100 term (SCALE.md r12 points)
    // filter malformed vectors BEFORE projecting — the moments pass
    // drops them (n excludes them), so pass 2 must too, or one
    // malformed row flips var_ok with no diagnostic
    val pm = emb.filter(validVec(vecCol, dim))
      .select(posexplode(graft.functions.ArrayProject(
        col(vecCol).cast("array<double>"), mu, evecs.take(k)))
        .as(Seq("comp", "p")))
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("cnt"), sum(col("p")).as("s1"),
        sum(col("p") * col("p")).as("s2"))
      .collect()
    // var(proj_i) must equal λᵢ (population variance; centering makes
    // the mean ~0) — the witness that the DISTRIBUTED projection used
    // the driver eigenbasis correctly
    val varOk = pm.forall { r =>
      val i = r.getInt(0)
      val cnt = r.getLong(1)
      val mean = r.getDouble(2) / cnt
      val vvar = r.getDouble(3) / cnt - mean * mean
      // mean tolerance scales with the component's spread (√λᵢ) so
      // large-magnitude embeddings don't false-fail the ~0 check
      cnt == n &&
        math.abs(mean) <= 1e-6 * math.max(1.0,
          math.sqrt(math.max(0.0, evals(i)))) &&
        math.abs(vvar - evals(i)) <= 1e-6 * math.max(1.0, math.abs(evals(i)))
    } && pm.length == k
    Seq((n, k.toLong, if (residOk) 1L else 0L, if (orthOk) 1L else 0L,
      if (descOk) 1L else 0L, if (traceOk) 1L else 0L,
      if (varOk) 1L else 0L))
      .toDF("n_vecs", "k", "resid_ok", "orth_ok", "desc_ok", "trace_ok",
        "var_ok")
  }

  /** The exact row-inclusion rule of [[graft.exec.VecMomentsExpr]]
    * (length == dim AND no null elements), as a pushable predicate for
    * the map-only passes that must count the SAME rows the moments
    * pass counted (r13 advice: `size === dim` alone let a
    * null-element vector through — ArrayProject reads undefined cells
    * off such an array and the row silently skews var_ok / the
    * whitened output). Native [[graft.functions.ArrayNoNulls]] rather
    * than `exists`/`array_compact`, which both desugar to interpreted
    * lambda HOFs on this corpus-volume map pass. */
  private def validVec(vecCol: String, dim: Int): Column =
    size(col(vecCol)) === dim &&
      graft.functions.ArrayNoNulls(col(vecCol))

  /** Memoized whitening basis per (corpus plan, dim, k): the top-k
    * eigenvectors of [[corpusEigen]], each scaled by 1/√λᵢ — so the
    * projection is directly the WHITENED coordinates (unit variance
    * per component). One cache entry per corpus keeps the μ/basis
    * array INSTANCES stable across calls, which keeps the
    * `ArrayProject` plans canonically equal (case-class equality on
    * Array fields is reference equality) and the downstream
    * prep/centroid caches hitting. Near-zero eigenvalues floor at
    * `eps` — a degenerate direction whitens to ~0 instead of blowing
    * up. */
  private val whitenCache = boundedLru[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, Int),
    (Array[Double], Array[Array[Double]])](16)

  private def whitenBasis(emb: DataFrame, dim: Int, k: Int,
      vecCol: String, eps: Double = 1e-12)
      : (Array[Double], Array[Array[Double]]) =
    lruGetOrCompute(whitenCache,
      (emb.select(col(vecCol)).queryExecution.analyzed.canonicalized,
        dim, k)) {
        val (_, mu, _, evals, evecs) = corpusEigen(emb, dim, vecCol)
        val w = Array.tabulate(k) { i =>
          val s = 1.0 / math.sqrt(math.max(evals(i), eps))
          evecs(i).map(_ * s)
        }
        (mu, w)
      }

  /** PCA-WHITENED projection of the embedding column: (id, wvec) with
    * wvec = Λ^(−1/2)·Vᵀ·(v − μ) over the top-`k` eigenpairs — the
    * map-only front half of SemDeDup. The whitening scale is FOLDED
    * INTO the projection basis, so the per-row cost is exactly
    * [[pcaProject]]'s k×dim native-`ArrayProject` FMAs; wrong-dim or
    * null-element vectors are filtered out ([[validVec]], matching
    * the moments pass that shaped μ/λ/V). Driver round-trip: only the dim×dim eigen step
    * ([[corpusEigen]], memoized). */
  def whitenProject(emb: DataFrame, dim: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= dim)
    val (mu, w) = whitenBasis(emb, dim, k, vecCol)
    emb.filter(validVec(vecCol, dim))
      .select(col(idCol), graft.functions.ArrayProject(
        col(vecCol).cast("array<double>"), mu, w).as("wvec"))
  }

  /** SemDeDup end-to-end (c4, Abbas et al. 2023 §3 shape): project the
    * corpus into PCA-WHITENED space, k-means cluster THERE, and find
    * near-duplicate pairs only within probed clusters — whitening
    * first is the published pipeline's point (raw cosine over-weights
    * the high-variance directions every document shares; whitened
    * cosine is the semantic-duplicate measure the clustering blocks
    * on).
    *
    * Composition, every stage pre-existing machinery:
    * [[whitenProject]] (map-only native projection) feeds
    * [[clusterBlockedPairs]] (d8's probed-block kernel) — the pairs
    * job is ONE Catalyst plan from parquet scan to pair rows; driver
    * round-trips are only the two documented INDEX builds (the
    * dim×dim eigen step and the k-means centroid loop, both memoized
    * per corpus).
    *
    * Emitted as the d7/d8 WITNESS row against the exact all-pairs
    * baseline [[brutePairs]] computed on the SAME whitened frame:
    * (exact_pairs, false_pos = 0 since candidates are exact-rescored,
    * recall_ok). */
  /** The PRODUCTION SemDeDup pairs job: whiten → cluster → in-block
    * near-dup, no baseline — what a curation run executes at scale
    * (the witness wrapper below exists for the oracle only, since its
    * exact baseline is O(N²) by definition). */
  def semDeDupPairs(emb: DataFrame, dim: Int, kComps: Int,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    clusterBlockedPairs(
      whitenProject(emb, dim, kComps, idCol, vecCol), threshold,
      dim = kComps, idCol = idCol, vecCol = "wvec")

  def semDeDup(emb: DataFrame, dim: Int, kComps: Int, threshold: Double,
      minRecall: Double = 0.95, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val w = whitenProject(emb, dim, kComps, idCol, vecCol)
    AnnWitness.pairsWitness(
      semDeDupPairs(emb, dim, kComps, threshold, idCol, vecCol),
      brutePairs(w, threshold, dim = kComps, idCol = idCol, vecCol = "wvec"),
      minRecall)
  }

  private[llm] object PcaMath {
    /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
      * (eigenvalues, eigenvectors as rows), unordered. Deterministic —
      * fixed sweep order, convergence on off-diagonal Frobenius norm. */
    def jacobiEigen(cIn: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
      val n = cIn.length
      val a = Array.tabulate(n, n)((i, j) => cIn(i)(j))
      val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
      var sweep = 0
      def off(): Double = {
        var s = 0.0
        for (i <- 0 until n; j <- i + 1 until n) s += a(i)(j) * a(i)(j)
        math.sqrt(2 * s)
      }
      val scale = math.max(1e-300, math.sqrt(
        (for (i <- 0 until n) yield a(i)(i) * a(i)(i)).sum + off() * off()))
      while (off() > 1e-14 * scale && sweep < 100) {
        for (p <- 0 until n; q <- p + 1 until n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
            val tSign = if (theta >= 0) 1.0 else -1.0
            val tt = tSign / (math.abs(theta) + math.sqrt(theta * theta + 1))
            val cc = 1.0 / math.sqrt(tt * tt + 1)
            val ss = tt * cc
            var i = 0
            while (i < n) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = cc * aip - ss * aiq
              a(i)(q) = ss * aip + cc * aiq
              i += 1
            }
            i = 0
            while (i < n) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = cc * api - ss * aqi
              a(q)(i) = ss * api + cc * aqi
              i += 1
            }
            i = 0
            while (i < n) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = cc * vip - ss * viq
              v(i)(q) = ss * vip + cc * viq
              i += 1
            }
          }
        }
        sweep += 1
      }
      val evals = Array.tabulate(n)(i => a(i)(i))
      val evecs = Array.tabulate(n, n)((i, j) => v(j)(i)) // rows
      (evals, evecs)
    }

    def matVec(m: Array[Array[Double]], x: Array[Double]): Array[Double] =
      Array.tabulate(m.length)(i =>
        (0 until x.length).map(j => m(i)(j) * x(j)).sum)
  }

  /** Per-label element-wise centroid of an embedding column — the
    * summarization step behind IVF coarse quantizers, SemDeDup cluster
    * centers, and per-class embedding drift monitors. Emitted in long
    * form (label, dim, n_vecs, c) rather than as an array column so
    * the result is a plain scalar frame any engine can sort/compare.
    *
    * Shape: posexplode to (label, dim, value) then ONE hash aggregate
    * keyed on (label, dim) — map-side partial aggregation reduces each
    * task to labels×dims cells, so the shuffle is output-sized (tiny)
    * regardless of corpus size. No join, no window; at 100 TB the cost
    * is the parquet scan. */
  def labelCentroids(emb: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    emb.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("_p", "_v")))
      .groupBy(col("label"), (col("_p") + 1).cast("int").as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        avg(col("_v").cast("double")).cast("float").as("c"))

  /** Nearest-centroid assignment — the classify/re-cluster step an
    * IVF index or a SemDeDup pass runs after [[labelCentroids]]:
    * every vector scores against each label centroid by cosine and
    * takes the argmax (ties to the smaller label). Output carries the
    * true label and a `correct` flag, so the same frame doubles as a
    * centroid-classifier self-consistency report.
    *
    * Determinism across engines: centroid components are QUANTIZED to
    * float32 before use (an engine recomputing the double means lands
    * on the same bytes after the float cast — the same reason a
    * published index ships float32), and every dot/norm is the shared
    * left-to-right double fold ([[graft.functions.ArrayDot]], codegen;
    * the SQL oracle mirrors the fold). The argmax then discretizes
    * identical doubles, never nearly-equal ones.
    *
    * Scale shape: the centroid table is labels-sized and BROADCAST;
    * scoring is a map-only pass over the vectors (k dots per row via
    * the codegen'd kernel), and the argmax folds in the same hash
    * aggregate — no shuffle touches corpus volume. */
  def centroidAssign(emb: DataFrame, labelCol: String = "label",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val labelType = emb.schema(labelCol).dataType
    val cent = labelCentroids(emb, labelCol, vecCol)
      .groupBy(col("label").as("clabel"))
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("_dc"))
      .select(col("clabel"),
        transform(col("_dc"), x => x.getField("c").cast("double")).as("cv"))
    val centN = cent.select(col("clabel"), col("cv"),
      sqrt(graft.functions.ArrayDot(col("cv"), col("cv"))).as("cnrm"))
    val v = emb.select(col(idCol), col(labelCol).as("label"),
        col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_vnrm", sqrt(graft.functions.ArrayDot(col("_v"), col("_v"))))
    v.crossJoin(broadcast(centN))
      .withColumn("_cos", graft.functions.ArrayDot(col("_v"), col("cv")) /
        (col("_vnrm") * col("cnrm")))
      .groupBy(col(idCol), col("label"))
      // hash-aggregable argmin (graft.exec.ArgMin), not min(struct):
      // the struct buffer demoted this corpus-volume aggregate to
      // SortAggregate (r11) — ordering contract identical (numeric
      // labels; the winner casts back to the label's own type)
      .agg(graft.exec.ArgMin.argmin(-col("_cos"),
        col("clabel").cast("double"), col("_cos")).as("_m"))
      .select(col(idCol), col("label"),
        col("_m.tie").cast(labelType).as("assigned"),
        col("_m.payload").cast("float").as("cos"),
        (col("label") === col("_m.tie").cast(labelType)).as("correct"))
  }

  /** Iterated Lloyd k-means over the embedding corpus — `rounds` ×
    * (nearest-centroid assign → per-cluster mean recompute), seeded
    * from the per-label means ([[labelCentroids]]), i.e. the
    * embedding-side twin of t28's iterated BPE loop: a production
    * re-clustering pass an IVF index or SemDeDup runs to tighten its
    * coarse quantizer.
    *
    * Determinism across engines, per round: centroid components
    * QUANTIZE to float32 after every mean recompute (byte-stable under
    * an engine recomputing the double mean), cosines use the shared
    * left-to-right double fold ([[graft.functions.ArrayDot]]), argmax
    * ties go to the smaller cluster label. A cluster that loses all
    * members simply drops out of later rounds (both engines derive the
    * live set from the assignments).
    *
    * Scale shape — the MLlib discipline: the centroid table is
    * k×dim (kilobytes), so each round LOCAL-CHECKPOINTS it (a driver
    * action on an output-sized table, the t28 pattern) and broadcasts
    * it into a map-only scoring pass; the only corpus-volume shuffles
    * are the per-round (cluster, dim) mean aggregates with map-side
    * combine. Rounds are data-independent plans, so the lineage stays
    * flat — no exponential plan growth across iterations. */
  def kmeansRounds(emb: DataFrame, rounds: Int,
      labelCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(rounds >= 1, "kmeansRounds needs at least one round")
    // the corpus-volume view is a LAZY cache through the bounded LRU
    // (r11, was an eager localCheckpoint — r10 verdict watch item 2):
    // MLlib's discipline for iterative reuse. cache() degrades to
    // disk/recompute instead of pinning executor storage for the whole
    // loop, keeps lineage (an executor loss recomputes the lost
    // blocks), repeated calls over the same corpus (bench warm draws,
    // a served clustering endpoint) reuse one copy, and eviction
    // unpersists. The k×dim centroid table below stays an EAGER
    // localCheckpoint — that one is output-sized (kilobytes) and its
    // point is cutting the per-round lineage, not storage
    val v = kmeansCorpusCache.computeIfAbsent(
      emb.select(col(idCol), col(labelCol), col(vecCol))
        .queryExecution.analyzed.canonicalized,
      _ => emb.select(col(idCol).as("_id"), col(labelCol).as("_lbl"),
          col(vecCol).cast("array<double>").as("_v"))
        .withColumn("_vnrm",
          sqrt(graft.functions.ArrayDot(col("_v"), col("_v"))))
        .cache())
    // (clabel, cv, cnrm) from per-group float32-quantized means
    def centroids(grouped: DataFrame, grp: Column): DataFrame =
      grouped.select(grp.as("clabel"), posexplode(col("_v")).as(Seq("_p", "_x")))
        .groupBy(col("clabel"), col("_p"))
        .agg(avg(col("_x")).cast("float").cast("double").as("_c"))
        .groupBy(col("clabel"))
        .agg(array_sort(collect_list(struct(col("_p"), col("_c")))).as("_pc"))
        .select(col("clabel"),
          transform(col("_pc"), x => x.getField("_c")).as("cv"))
        .withColumn("cnrm",
          sqrt(graft.functions.ArrayDot(col("cv"), col("cv"))))
        .localCheckpoint(true)
    val labelType = emb.schema(labelCol).dataType
    def assign(cent: DataFrame): DataFrame =
      v.crossJoin(broadcast(cent))
        // nanvl → −1: a zero-norm vector or all-zero centroid yields
        // 0/0 = NaN, which Spark's min(struct) orders LARGEST while
        // DuckDB's ORDER BY cos DESC sorts it last — pinning NaN to −1
        // (worse than any real cosine) keeps the tie-break contract
        // identical across engines for degenerate embeddings (r10
        // advice)
        .withColumn("_cos",
          nanvl(graft.functions.ArrayDot(col("_v"), col("cv")) /
            (col("_vnrm") * col("cnrm")), lit(-1.0)))
        .groupBy(col("_id"), col("_lbl"))
        // hash-aggregable argmin — same contract as the struct min
        // (smaller -cos wins, ties to the smaller numeric label,
        // winner cast back to the label's own type)
        .agg(graft.exec.ArgMin.argmin(-col("_cos"),
          col("clabel").cast("double"), col("_cos")).as("_m"))
        .select(col("_id"), col("_lbl"),
          col("_m.tie").cast(labelType).as("assigned"),
          col("_m.payload").as("_cos"))
    var cent = centroids(v, col("_lbl"))
    var a: DataFrame = null
    for (r <- 1 to rounds) {
      a = assign(cent)
      if (r < rounds)
        cent = centroids(a.join(v, Seq("_id", "_lbl")), col("assigned"))
    }
    a.select(col("_id").as(idCol), col("_lbl").as(labelCol),
      col("assigned"), col("_cos").cast("float").as("cos"),
      (col("_lbl") === col("assigned")).as("stable"))
  }

  /** Exact all-pairs with cosine ≥ threshold (embedding near-dup).
    * O(N²/2) — baseline only; the banded variants are the scale path.
    *
    * Shaped as a broadcast + per-partition primitive-array kernel: the
    * corpus (id, norm, packed vector) is broadcast — the exact payload a
    * broadcast nested-loop join would ship — and each partition streams
    * its rows against it with a tight double-array loop. The DataFrame
    * formulation (flattened scalar columns joined on `id < id`) pushes
    * the 64-term dot product into the BroadcastNestedLoopJoin CONDITION,
    * which Spark evaluates interpreted per candidate pair (~5 µs/pair
    * measured); the kernel is ~100× faster and keeps the same fold order
    * (ascending index, left-associated) the SQL oracles mirror. At 100 TB
    * the broadcast side is the binding constraint either way — this
    * operator is the small-corpus correctness baseline, [[annTopK]] /
    * [[ivfTopK]] are the scale path. */
  def brutePairs(emb: DataFrame, threshold: Double, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val p = prepCached(emb, idCol, vecCol)
      .select(col("id"), col("v").cast("array<double>"), col("nrm"))
      .as[(Long, Array[Double], Double)]
    val corpus = p.collect().sortBy(_._1)
    val n = corpus.length
    val ids = corpus.map(_._1)
    val nrms = corpus.map(_._3)
    val flat = new Array[Double](n * dim)
    var ci = 0
    while (ci < n) {
      val v = corpus(ci)._2
      val m = math.min(dim, v.length)
      System.arraycopy(v, 0, flat, ci * dim, m)
      ci += 1
    }
    val bc = spark.sparkContext.broadcast((ids, nrms, flat))
    p.flatMap { case (ia, va, na) =>
      val (ids, nrms, flat) = bc.value
      // first corpus index with id > ia (ids are sorted ascending)
      var lo = 0
      var hi = ids.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ids(mid) <= ia) lo = mid + 1 else hi = mid
      }
      val out = Seq.newBuilder[(Long, Long, Double)]
      var j = lo
      while (j < ids.length) {
        var s = 0.0
        val off = j * dim
        val m = math.min(dim, va.length)
        var i = 0
        while (i < m) { s += va(i) * flat(off + i); i += 1 }
        val cos = s / (na * nrms(j))
        if (cos >= threshold) out += ((ia, ids(j), cos))
        j += 1
      }
      out.result()
    }.toDF("ia", "ib", "cos")
  }

  /** Exact top-k nearest neighbours (cosine) of each query vector.
    * Query side is broadcast; the corpus makes ONE map-only pass; per-
    * query winners come from the bounded-heap aggregator. Ties break on
    * the neighbour id (ascending), deterministically. */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = prepCached(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val c = prepCached(corpus, idCol, vecCol)
    val scored = c.join(broadcast(q), col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
    scored
      .groupBy(col("qid"))
      .agg(TopK.topk(k, desc = true)(col("cos"),
        lpad(col("id").cast("string"), 12, "0"), col("id"), col("cos")).as("_w"))
      .select(col("qid"), explode(col("_w")).as("_e"))
      .select(col("qid"), col("_e.st").as("neighbor_id"), col("_e.v").as("cos"))
  }

  // ---- random-hyperplane LSH (approximate scale path) --------------------

  /** Near-duplicate PAIRS with cosine ≥ threshold via banded
    * random-hyperplane LSH — the 100 TB path that replaces
    * [[brutePairs]]' O(N²) scan. Each vector hashes to `nBits` sign
    * bits banded into `bands` keys (`nBits/bands` bits each); only
    * bucket-colliding pairs are scored exactly, so false positives
    * vanish and the miss probability for a pair at angle θ is
    * (1 − (1−θ/π)^r)^b. Shuffle per vector = `bands` small rows plus
    * one signature — independent of the corpus square. The candidate
    * join is bucket-local; a degenerate bucket (many near-identical
    * vectors) is the one skew hazard, the same one MinHash banding has.
    * Rescoring reuses the same ascending-index dot-product fold as the
    * exact baseline.
    *
    * BAND DEPTH MUST TRACK THE THRESHOLD AND THE CORPUS SIZE: per-bit
    * agreement is p = 1−θ/π, so r=8/b=8 gives recall ≈ 0.94 at
    * cos ≥ 0.87 (the usual near-dup operating point) but only ≈ 0.2 at
    * cos = 0.45; and a band's 2^r buckets must outnumber the corpus or
    * random collisions dominate — random pairs collide at b/2^r, so
    * candidate volume is ~N²·b/2^r and r ≈ log₂N keeps it ~N·b.
    * Growing r costs recall, which more bands buy back (miss =
    * (1−p^r)^b). The defaults suit ~10³-10⁴ vectors; a 10⁵ corpus
    * wants r=16/b≥16 (measured: r=8/b=8 went superlinear at 8×10⁴
    * vectors — 3 % of 3.2×10⁹ pairs is still 10⁸ candidates). `nBits`
    * may exceed 64: band keys are materialized directly (one long per
    * band), not packed into a single word. */
  def lshCosinePairs(emb: DataFrame, threshold: Double, dim: Int = 64,
      nBits: Int = 64, bands: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 7L, targetBucket: Int = 16,
      maxBucket: Int = 0): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    // maxBucket: 0 is the explicit AUTO sentinel, positive values set
    // the cap directly, negatives are rejected (r7 advice: the old
    // require(maxBucket >= 2) silently became AUTO for them). NOTE for
    // pre-r7 callers passing maxBucket explicitly: the r6 default was
    // a fixed 10000 — AUTO (64 × targetBucket, floor 1024) is TIGHTER
    // at default targetBucket, so buckets in (1024, 10000] that used
    // to emit pairs are now dropped; recall on hub-heavy corpora can
    // move, by design (drops are counted + logged).
    require(maxBucket >= 0,
      s"maxBucket must be positive, or 0 for AUTO: $maxBucket")
    // AUTO rationale (r7): 64 × targetBucket (floor 1024).
    // The r6 fixed 10000 ceiling bounded candidate VOLUME but not
    // per-task work — a single 10⁴-wide bucket expands to 5×10⁷
    // pairs inside ONE task, the map-side sort spill behind x2's
    // 45–74 s ×100 spread (SCALE.md §3.2). At adaptive depth the
    // EXPECTED width is targetBucket, so 64× over expectation is
    // already a degenerate hub direction: dropping it loses ~no true
    // pairs (near-dups also collide in narrower bands, and the drops
    // are logged/counted now), while capping the worst task's pair
    // fan-out at ~0.5 M.
    val maxB = if (maxBucket > 0) maxBucket else math.max(1024, 64 * targetBucket)
    require(maxB >= 2, "a bucket below 2 vectors can emit no pair")
    val r0 = nBits / bands
    require(r0 <= 63, "band depth must fit in a long")
    val p = prepCached(OnePartition.vectors(emb), idCol, vecCol)
    // ADAPTIVE DEPTH + count-based skew guard (the d3 design, applied
    // to the hyperplane family — r6, after a measured failure): at
    // fixed band depth r the key space is 2^r, so the expected bucket
    // population N/2^r grows LINEARLY with the corpus and in-bucket
    // candidates QUADRATICALLY — the 8-bit default that is instant at
    // 2 k vectors generated a disk-filling ~10^9-pair self-join at
    // 200 k (SCALE.md §3 scale points). Two layers, both engaging
    // only when a corpus count says they must, so small-corpus
    // results stay byte-stable:
    //  1. DEPTH: past `targetBucket` expected population, deepen to
    //     r = ⌈log2(N/targetBucket)⌉ and re-derive the band COUNT
    //     from the hyperplane collision probability at THIS
    //     threshold (p = 1 − acos(θ)/π, per-band hit rate p^r,
    //     bands sized for ≥95% pair recall — textbook LSH parameter
    //     selection), so recall survives the deepening.
    //  2. SKEW: expected-size math cannot see an anisotropic corpus
    //     (popular sign-patterns hold far more than N/2^r vectors —
    //     exactly what re-exploded after layer 1 alone), so a
    //     count-based pre-filter drops buckets wider than
    //     `maxBucket` before any id list materializes, d3-style: the
    //     dropped directions are the uninformative ones, the other
    //     bands still vote for their pairs, and the surviving groups
    //     are bounded.
    val n = p.count()
    val needR = math.ceil(math.log(math.max(1.0,
      n.toDouble / targetBucket)) / math.log(2)).toInt
    val (r, nBands) =
      if (needR <= r0) (r0, bands)
      else {
        val rr = math.min(48, needR)
        val pHit = 1.0 - math.acos(math.min(1.0, threshold)) / math.Pi
        val perBand = math.pow(pHit, rr)
        val b = math.ceil(math.log(0.05) / math.log1p(-perBand)).toLong
        if (b > 64) {
          // the ≥95%-recall sizing wanted more bands than the cap
          // allows (low thresholds at deep r) — recall undershoots by
          // design here, but never SILENTLY (advice r6)
          countDiag("lsh_band_cap_hits")
          log.warn(s"lshCosinePairs: recall sizing wants $b bands at " +
            s"depth $rr for threshold $threshold; capped at 64 — " +
            "expected pair recall falls below the 95% design point")
        }
        (rr, math.max(bands, math.min(64L, b)).toInt)
      }
    val keysC = bandKeysCol(dim, r, nBands, seed)
    val buckets0 = p.select(col("id"), posexplode(keysC(col("v"))))
      .select(col("id"), col("pos").as("band"), col("col").as("bkey"))
    val pruned =
      if (n <= maxB) buckets0
      else {
        // one aggregation pass, COLLECTED: the over-wide bucket list
        // is tiny (degenerate directions only), so materializing it
        // on the driver both makes the drop count observable (advice
        // r6: silent drops read as full recall) and turns the
        // anti-join build side into a local relation instead of
        // re-running the aggregation inside the join
        val wideRows = buckets0.groupBy(col("band"), col("bkey"))
          .agg(count(lit(1)).as("_bn"))
          .filter(col("_bn") > maxB)
          .select(col("band"), col("bkey"))
          .collect()
        if (wideRows.nonEmpty) {
          countDiag("lsh_buckets_dropped", wideRows.length.toLong)
          log.warn(s"lshCosinePairs: dropping ${wideRows.length} " +
            s"over-wide buckets (> $maxB of $n vectors) — pairs " +
            "confined to dropped directions in every band are lost")
        }
        if (wideRows.isEmpty) buckets0
        else {
          val spark = emb.sparkSession
          val wide = spark.createDataFrame(
            java.util.Arrays.asList(wideRows: _*),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("band",
                org.apache.spark.sql.types.IntegerType),
              org.apache.spark.sql.types.StructField("bkey",
                org.apache.spark.sql.types.LongType))))
          buckets0.join(broadcast(wide), Seq("band", "bkey"), "left_anti")
        }
      }
    // grouped map-side pair expansion (one exchange on (band, bkey))
    // instead of a bucket self-join — the d3 fusion; group width is
    // bounded by the skew guard above
    val cand = pruned
      .groupBy(col("band"), col("bkey"))
      .agg(collect_set(col("id")).as("_ids"))
      .filter(size(col("_ids")) >= 2)
      .select(explode(col("_ids")).as("ia"), col("_ids"))
      .select(col("ia"), explode(col("_ids")).as("ib"))
      .filter(col("ia") < col("ib"))
      .distinct()
    exactRescore(cand, p, threshold)
  }

  /** Memoized plane matrices per (dim, nBits, seed): STABLE Array
    * instances so the native signature expressions (case classes over
    * Array fields — reference equality) canonicalize equal across
    * calls and the downstream plan caches hit. r13: the banding /
    * signature map passes moved from boxed per-row UDFs (one
    * `Array[Double]` decode per corpus row) to the codegen
    * [[graft.functions.HyperplaneBandKeys]] / [[graft.functions
    * .HyperplaneSig]] expressions — bit-identical loops. */
  private val planesCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, Long), Array[Array[Double]]]()

  private def planesFor(dim: Int, nBits: Int, seed: Long): Array[Array[Double]] =
    planesCache.computeIfAbsent((dim, nBits, seed),
      { case (d, n, s) => planes(d, n, s) })

  private def bandKeysCol(dim: Int, r: Int, bands: Int,
      seed: Long): Column => Column =
    v => graft.functions.HyperplaneBandKeys(
      v, planesFor(dim, r * bands, seed), r, bands)

  /** Exact cosine rescoring of candidate (ia, ib) pairs against the
    * prepped corpus — false positives die here, so a banded/blocked
    * variant's output differs from the exact baseline only by recall.
    * Two sig-keyed joins shipping one vector each; at scale the shuffle
    * is |candidates| × vector width, which is the quantity the candidate
    * generators are designed to bound. */
  private def exactRescore(cand: DataFrame, p: DataFrame,
      threshold: Double): DataFrame = {
    val va = p.select(col("id").as("ia"), col("v").as("va"), col("nrm").as("na"))
    val vb = p.select(col("id").as("ib"), col("v").as("vb"), col("nrm").as("nb"))
    cand.join(va, Seq("ia")).join(vb, Seq("ib"))
      .select(col("ia"), col("ib"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("ia"), col("ib"), col("cos"))
  }

  /** Near-duplicate pairs via CLUSTER BLOCKING (the SemDeDup shape,
    * Abbas et al. 2023): k-means the corpus, assign every vector to its
    * `nprobe` nearest centroids, and score pairs only WITHIN a shared
    * block — with a per-block primitive kernel, not a pair join: the
    * shuffle ships each vector `nprobe` times (grouped by block id),
    * and the in-block dot products run in a tight loop over packed
    * arrays, so a block of B vectors costs B·0.5 KB of shuffle and
    * B²/2 fused multiply-adds — never B² joined rows. Work is
    * Σ_c C(|block c|, 2) ≈ nprobe²·N²/k; `numCentroids = -1` sizes
    * k = N/`targetBlock` from a corpus count, which keeps block size —
    * and therefore per-task memory AND total work per vector — CONSTANT
    * as the corpus grows (a fixed k went quadratic at 20× the dev
    * corpus; measured 190 s before this shape). Misses are pairs whose
    * endpoints share no probed centroid: near-identical pairs rank
    * centroids near-identically, so recall → 1 as pair cosine → 1;
    * like every sub-quadratic method it cannot hold recall at LOW
    * thresholds (see SCALE.md). Data-adaptive counterpart to the
    * data-oblivious [[lshCosinePairs]]. */
  def clusterBlockedPairs(emb: DataFrame, threshold: Double, dim: Int = 64,
      numCentroids: Int = -1, nprobe: Int = 2, targetBlock: Int = 250,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 11L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = OnePartition.vectors(emb)
    val p = prepCached(e, idCol, vecCol)
    val k =
      if (numCentroids > 0) numCentroids
      else math.max(16, (p.count() * nprobe / targetBlock).toInt)
    val centroids = kmeansCentroids(e, k, dim,
      idCol = idCol, vecCol = vecCol, seed = seed)
    val blocked = p.select(explode(probesCol(centroids, nprobe)(col("v"))).as("_c"),
        col("id"), col("v"), col("nrm"))
      .as[(Int, Long, Array[Double], Double)]
    val th = threshold
    blocked.groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray.sortBy(_._2)
        val n = rows.length
        val out = Seq.newBuilder[(Long, Long, Double)]
        var i = 0
        while (i < n) {
          val (ia, va, na) = (rows(i)._2, rows(i)._3, rows(i)._4)
          var j = i + 1
          while (j < n) {
            val (ib, vb, nb) = (rows(j)._2, rows(j)._3, rows(j)._4)
            if (ia != ib) {
              var s = 0.0
              val m = math.min(va.length, vb.length)
              var x = 0
              while (x < m) { s += va(x) * vb(x); x += 1 }
              val cos = s / (na * nb)
              if (cos >= th) out += ((ia, ib, cos))
            }
            j += 1
          }
          i += 1
        }
        out.result()
      }
      .toDF("ia", "ib", "cos")
      .distinct() // a pair sharing several probed blocks scores identically
  }

  /** Deterministic Gaussian hyperplanes (seeded), one 64-bit signature
    * per vector: bit j = sign of ⟨plane_j, v⟩. */
  private def planes(dim: Int, nBits: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  // ---- IVF (inverted-file) ANN -------------------------------------------

  /** Deterministic k-means centroids: seeded sample for initialization,
    * a few Lloyd iterations computed AS DATAFRAME JOBS (assignment is a
    * broadcast-centroid map pass; update is one groupBy) — no driver
    * loops over data, only over the `iters` counter. Centroid count
    * should be ~√N; at 100 TB the centroid table stays tiny (≤ 10⁵ ×
    * dim floats) and always broadcasts. */
  /** Index-build memoization: centroids keyed by (canonicalized corpus
    * plan, k, dim, iters, seed). ANN indexes are built once and queried
    * many times in production — re-deriving the k-means per query would
    * charge every query the build cost. The cache holds k×dim doubles
    * per entry (tiny); a hit returns the centroids of the first build
    * for its key. The build is NOT bit-reproducible across plans: each
    * Lloyd update averages per (cluster, dim) and Spark merges the
    * per-partition partials in partition order, so the same corpus
    * planned on one partition (see [[OnePartition]]) or spread over
    * several yields centroids that differ in their last bits
    * (measured: 67–78 % of the cells, by up to 124 ulps, on the planted
    * sf0.001–sf0.1 corpora — the plans key separate entries here). A
    * different centroid can move a vector that sits near a tie to
    * another block, so [[clusterBlockedPairs]] is checked by soundness
    * and recall across plans, not by row equality (its pairs were
    * identical on those corpora). */
  private val centroidCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, Int, Int, Long),
    Array[(Int, Array[Double])]]()

  def kmeansCentroids(corpus: DataFrame, k: Int, dim: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 11L): Array[(Int, Array[Double])] = {
    val key = (corpus.select(col(idCol), col(vecCol))
      .queryExecution.analyzed.canonicalized, k, dim, iters, seed)
    centroidCache.computeIfAbsent(key, _ =>
      kmeansCentroidsUncached(corpus, k, dim, iters, idCol, vecCol, seed))
  }

  private def kmeansCentroidsUncached(corpus: DataFrame, k: Int, dim: Int,
      iters: Int, idCol: String, vecCol: String,
      seed: Long): Array[(Int, Array[Double])] = {
    val p = prepCached(corpus, idCol, vecCol)
    var centroids = p.orderBy(xxhash64(col("id"), lit(seed))).limit(k)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray).zipWithIndex.map(_.swap)
    var it = 0
    while (it < iters) {
      // ONE Lloyd iteration as x9's shape (r13, closing the r12
      // verdict's two-Lloyds watch item): assignment is the native
      // codegen argmin ([[nearestCentroidCol]] — the boxed per-row
      // UDF decode is gone), update is a single map-side-combined
      // (cluster, dim) aggregate instead of 64 separate avg columns.
      // The collect is k×dim tiny rows — the centroid table itself.
      val assignC = nearestCentroidCol(centroids)
      // assignment MUST materialize in its own projection BELOW the
      // explode: an expression sharing a select with a generator lands
      // in the Project ABOVE the Generate and evaluates once per
      // EXPLODED row — 64× the assignment work (this exact collapse
      // took the ×100 x3 build from ~8 s to 736 s before the split)
      val updated = p
        .select(assignC(col("v")).as("_c"), col("v"))
        .select(col("_c"), posexplode(col("v")).as(Seq("_p", "_x")))
        .groupBy(col("_c"), col("_p"))
        .agg(avg(col("_x")).as("_m"))
        .collect()
      val byId = updated.groupBy(_.getInt(0)).map { case (ci, rows) =>
        val c = new Array[Double](dim)
        rows.foreach(r => c(r.getInt(1)) = r.getDouble(2))
        ci -> c
      }
      // keep unchanged centroids for clusters that emptied out
      centroids = centroids.map { case (i, c) => i -> byId.getOrElse(i, c) }
      it += 1
    }
    centroids
  }

  /** Native assignment column: the codegen [[graft.functions
    * .NearestCentroid]] argmin up to [[CoarseScanThreshold]] centroids
    * (bit-identical loop to the UDF it replaces), the two-level
    * coarse-scan UDF past it (the coarse path's group walk doesn't
    * codegen; it only engages at centroid counts where the O(√k·dim)
    * scan dominates the per-row decode anyway). */
  private def nearestCentroidCol(centroids: Array[(Int, Array[Double])])
      : Column => Column =
    if (centroids.length <= CoarseScanThreshold) {
      val ids = centroids.map(_._1)
      val cents = centroids.map(_._2)
      v => graft.functions.NearestCentroid(v, ids, cents)
    } else {
      val u = nearestCentroidUdf(centroids)
      v => u(v)
    }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  /** Past this many centroids, per-vector assignment switches from the
    * exact linear scan to the two-level coarse scan ([[coarseIndex]]).
    * `private[llm]` so specs can force the coarse path on a small
    * corpus. */
  private[llm] var CoarseScanThreshold = 512

  /** Driver-built two-level index over the centroid TABLE: ≈√k group
    * means (3 seeded-deterministic Lloyd iterations over the k
    * centroids — trivial driver compute) plus each group's member
    * list. Per-vector assignment then ranks √k means and exact-scans
    * only the nearest groups' members: O(√k·dim) instead of O(k·dim)
    * per vector, attacking the N·k assignment term SCALE.md §3.2
    * measured as the IVF/blocked bottleneck at ×100 (the classical
    * coarse-quantizer shape). Misses need the true nearest centroid
    * to live in a far-ranked group — rare for the near-dup regime and
    * bounded by scanning several groups; recall is spec-pinned with
    * the coarse path forced. */
  private def coarseIndex(centroids: Array[(Int, Array[Double])])
      : (Array[Array[Double]], Array[Array[(Int, Array[Double])]]) = {
    val k = centroids.length
    val dim = centroids(0)._2.length
    val g = math.max(2, math.round(math.sqrt(k.toDouble)).toInt)
    val means = Array.tabulate(g)(i =>
      centroids((i.toLong * k / g).toInt)._2.clone())
    val assign = new Array[Int](k)
    var it = 0
    while (it < 3) {
      var ci = 0
      while (ci < k) {
        var best = 0; var bestD = Double.MaxValue
        var gi = 0
        while (gi < g) {
          val d = sqDist(means(gi), centroids(ci)._2)
          if (d < bestD) { bestD = d; best = gi }
          gi += 1
        }
        assign(ci) = best
        ci += 1
      }
      val sums = Array.fill(g)(new Array[Double](dim))
      val cnts = new Array[Int](g)
      ci = 0
      while (ci < k) {
        val gi = assign(ci); val c = centroids(ci)._2
        var i = 0
        while (i < dim) { sums(gi)(i) += c(i); i += 1 }
        cnts(gi) += 1
        ci += 1
      }
      var gi = 0
      while (gi < g) {
        if (cnts(gi) > 0) {
          var i = 0
          while (i < dim) { sums(gi)(i) /= cnts(gi); i += 1 }
          means(gi) = sums(gi)
        }
        gi += 1
      }
      it += 1
    }
    val groups = Array.fill(g)(
      scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Double])])
    var ci = 0
    while (ci < k) { groups(assign(ci)) += centroids(ci); ci += 1 }
    (means, groups.map(_.toArray))
  }

  /** The nearest groups' members, enough of them to make the final
    * take(nprobe) robust (≥ max(32, 8·nprobe) candidates or every
    * group). */
  private def coarseCandidates(means: Array[Array[Double]],
      groups: Array[Array[(Int, Array[Double])]], v: Array[Double],
      minCand: Int): Array[(Int, Array[Double])] = {
    val order = means.indices.sortBy(gi => sqDist(means(gi), v))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Double])]
    var oi = 0
    while (oi < order.length && out.length < minCand) {
      out ++= groups(order(oi))
      oi += 1
    }
    out.toArray
  }

  /** ids of the `nprobe` nearest centroids (squared-L2), ascending by
    * distance — shared by [[ivfTopK]] query probing and
    * [[clusterBlockedPairs]] block assignment. Up to
    * [[CoarseScanThreshold]] centroids the native codegen
    * [[graft.functions.NearestCentroidProbes]] expression does the
    * exact scan (r13: the probing pass is the corpus-volume map in the
    * blocked family — the UDF form decoded a boxed `Array[Double]`
    * and allocated k tuples per row; the expression's bounded stable
    * insertion is bit-identical to `sortBy.take`); past it the
    * two-level coarse-scan UDF. */
  private def probesCol(centroids: Array[(Int, Array[Double])],
      nprobe: Int): Column => Column =
    if (centroids.length <= CoarseScanThreshold) {
      val ids = centroids.map(_._1)
      val cents = centroids.map(_._2)
      v => graft.functions.NearestCentroidProbes(v, ids, cents, nprobe)
    } else {
      val (means, groups) = coarseIndex(centroids)
      val minCand = math.max(32, 8 * nprobe)
      val u = udf { (v: Array[Double]) =>
        coarseCandidates(means, groups, v, minCand)
          .map { case (ci, c) => (ci, sqDist(c, v)) }
          .sortBy(_._2).take(nprobe).map(_._1)
      }
      v => u(v)
    }

  private def nearestCentroidUdf(centroids: Array[(Int, Array[Double])])
      : UserDefinedFunction =
    if (centroids.length <= CoarseScanThreshold)
      udf { (v: Array[Double]) =>
        var best = -1
        var bestD = Double.MaxValue
        centroids.foreach { case (ci, c) =>
          val d = sqDist(c, v)
          if (d < bestD) { bestD = d; best = ci }
        }
        best
      }
    else {
      val (means, groups) = coarseIndex(centroids)
      udf { (v: Array[Double]) =>
        var best = -1
        var bestD = Double.MaxValue
        coarseCandidates(means, groups, v, 32).foreach { case (ci, c) =>
          val d = sqDist(c, v)
          if (d < bestD) { bestD = d; best = ci }
        }
        best
      }
    }

  /** IVF approximate top-k: corpus vectors are assigned to their nearest
    * centroid (one map-only pass against the broadcast centroid table);
    * each query probes its `nprobe` nearest centroids and scores only
    * those inverted lists exactly. Recall/cost trades via nprobe; the
    * unit suite asserts recall against the exact top-k. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      numCentroids: Int = 16, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = kmeansCentroids(corpus, numCentroids, dim,
      idCol = idCol, vecCol = vecCol)
    val probesU = probesCol(centroids, nprobe)
    val assignC = nearestCentroidCol(centroids)
    val c = prepCached(corpus, idCol, vecCol).withColumn("_c", assignC(col("v")))
    val q = prepCached(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        explode(probesU(col("v"))).as("_c"))
    c.join(broadcast(q), Seq("_c"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
      .groupBy(col("qid"))
      .agg(TopK.topk(k, desc = true)(col("cos"),
        lpad(col("id").cast("string"), 12, "0"), col("id"), col("cos")).as("_w"))
      .select(col("qid"), explode(col("_w")).as("_e"))
      .select(col("qid"), col("_e.st").as("neighbor_id"), col("_e.v").as("cos"))
  }

  // ---- product quantization (memory-bound ANN tier) ----------------------

  /** Per-subspace codebooks for product quantization (Jégou, Douze,
    * Schmid 2011): the normalized vector splits into `m` subvectors of
    * dim/m components; each subspace gets its own `ksub`-centroid
    * k-means. Memoized per (corpus plan, dim, m, ksub, iters, seed) —
    * the index BUILD is one-time and amortized, like [[ivfTopK]]'s
    * centroid table. Returned shape: books(s)(j) = centroid j of
    * subspace s. */
  def pqCodebooks(corpus: DataFrame, dim: Int, m: Int, ksub: Int,
      iters: Int = 3, idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 23L): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val key = (corpus.select(col(idCol), col(vecCol))
      .queryExecution.analyzed.canonicalized, dim, m, ksub, iters, seed)
    pqCache.computeIfAbsent(key, _ => {
      val dsub = dim / m
      val p = prepCached(corpus, idCol, vecCol)
      (0 until m).toArray.map { s =>
        // normalized subvector s as its own corpus; kmeansCentroids
        // memoizes per sliced plan, so rebuilds are free too
        val sub = p.select(col("id").as(idCol),
          expr(s"transform(slice(v, ${s * dsub + 1}, $dsub), x -> x / nrm)")
            .as(vecCol))
        kmeansCentroids(sub, ksub, dsub, iters, idCol, vecCol, seed + s)
          .sortBy(_._1).map(_._2)
      }
    })
  }

  private val pqCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, Int, Int,
      Int, Long), Array[Array[Array[Double]]]]()

  /** PQ-encode: map-only pass turning each vector into `m` byte codes
    * (nearest codebook centroid per normalized subspace) — a 32×
    * compression of a float32 embedding at m=8, the representation
    * that keeps a 100 TB corpus's ANN index in cluster memory. */
  def pqEncode(corpus: DataFrame, books: Array[Array[Array[Double]]],
      dim: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val m = books.length
    val dsub = dim / m
    // native codegen encoder (r13): the encode is THE corpus-volume
    // map of the PQ index build; the UDF form decoded a boxed
    // Array[Double] per row. Codebooks are memoized per corpus plan
    // (pqCache), so the expression instances canonicalize equal
    prepCached(corpus, idCol, vecCol)
      .select(col("id"), graft.functions.PqEncode(
        col("v"), col("nrm"), books, dsub).as("codes"))
  }

  /** PQ approximate top-k with exact re-ranking (the FAISS ADC shape).
    * Each query precomputes an m×ksub table of subspace inner products
    * with the codebooks (one small array per query, broadcast with the
    * query side); the corpus CODES make one map-only pass summing m
    * byte-indexed lookups per (query, vector) — never touching the
    * float vectors — and the `shortlist` ADC winners per query are
    * re-scored exactly before the final top-k, so emitted cosines are
    * exact and recall loss is confined to true neighbours the ADC
    * estimate dropped from the shortlist.
    *
    * At 100 TB: the scan reads 8-byte codes instead of 256-byte
    * floats; the only full-volume work is byte lookups; the exact
    * re-rank touches |Q|·shortlist vectors via an id join. Build cost
    * (codebooks + encode) is one-time per corpus plan. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      m: Int = 8, ksub: Int = 16, shortlist: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val books = pqCodebooks(corpus, dim, m, ksub, idCol = idCol, vecCol = vecCol)
    val dsub = dim / m
    val codes = pqEncode(corpus, books, dim, idCol, vecCol)
    val tableU = udf { (qv: Array[Double], qn: Double) =>
      val tbl = new Array[Double](m * ksub)
      var s = 0
      while (s < m) {
        val book = books(s)
        var j = 0
        while (j < book.length) {
          val c = book(j)
          var ip = 0.0
          var i = 0
          while (i < dsub) { ip += (qv(s * dsub + i) / qn) * c(i); i += 1 }
          tbl(s * ksub + j) = ip
          j += 1
        }
        s += 1
      }
      tbl
    }
    // native ADC accumulation (r13): the per-(query, vector) hot loop
    // of the shortlist scan — byte lookups in whole-stage codegen
    val adcC = (codes: Column, tbl: Column) =>
      graft.functions.PqAdc(codes, tbl, ksub)
    val q = prepCached(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        tableU(col("v"), col("nrm")).as("tbl"))
    val short = codes.join(broadcast(q.select(col("qid"), col("tbl"))),
        col("qid") =!= col("id"))
      .select(col("qid"), col("id"), adcC(col("codes"), col("tbl")).as("adc"))
      .groupBy(col("qid"))
      .agg(TopK.topk(shortlist, desc = true)(col("adc"),
        lpad(col("id").cast("string"), 12, "0"), col("id"), col("adc")).as("_w"))
      .select(col("qid"), explode(col("_w")).as("_e"))
      .select(col("qid"), col("_e.st").as("id"))
    val c = prepCached(corpus, idCol, vecCol)
    short.join(broadcast(q.select(col("qid"), col("qv"), col("qn"))), Seq("qid"))
      .join(c, Seq("id"))
      .select(col("qid"), col("id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
      .groupBy(col("qid"))
      .agg(TopK.topk(k, desc = true)(col("cos"),
        lpad(col("id").cast("string"), 12, "0"), col("id"), col("cos")).as("_w"))
      .select(col("qid"), explode(col("_w")).as("_e"))
      .select(col("qid"), col("_e.st").as("neighbor_id"), col("_e.v").as("cos"))
  }

  /** Approximate top-k: LSH candidates (16×4-bit bands over a 64-bit
    * hyperplane signature) scored exactly, then bounded-heap top-k. */
  def annTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 7L): DataFrame = {
    val sigC = (v: Column) =>
      graft.functions.HyperplaneSig(v, planesFor(dim, 64, seed))
    def withBuckets(df: DataFrame): DataFrame = {
      // project the signature ONCE; referencing the UDF inside each of
      // the 16 band structs would recompute it per band
      val sigged = df.select(col("id"), sigC(col("v")).as("sig"))
      val bandArr = array((0 until 16).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), 4 * b).bitwiseAND(lit(0xfL)).as("bkey"))
      }: _*)
      sigged.select(col("id"), explode(bandArr).as("bb"))
        .select(col("id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    }
    val q = withBuckets(prepCached(queries, idCol, vecCol))
      .select(col("id").as("qid"), col("band").as("qband"),
        col("bkey").as("qbkey"))
    val c = withBuckets(prepCached(corpus, idCol, vecCol))
    val cand = c.join(broadcast(q),
        col("band") === col("qband") && col("bkey") === col("qbkey") &&
          col("qid") =!= col("id"))
      .select(col("qid"), col("id"))
      .distinct()
    val qv = prepCached(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val cv = prepCached(corpus, idCol, vecCol)
    cand.join(broadcast(qv), Seq("qid")).join(cv, Seq("id"))
      .select(col("qid"), col("id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
      .groupBy(col("qid"))
      .agg(TopK.topk(k, desc = true)(col("cos"),
        lpad(col("id").cast("string"), 12, "0"), col("id"), col("cos")).as("_w"))
      .select(col("qid"), explode(col("_w")).as("_e"))
      .select(col("qid"), col("_e.st").as("neighbor_id"), col("_e.v").as("cos"))
  }

  // plan-keyed caches pin their session via the canonicalized
  // plan; cleared wholesale when any session's context ends
  // (graft.model.Samples.registerSessionBoundCache)
  graft.model.Samples.registerSessionBoundCache(prepCache)
  graft.model.Samples.registerSessionBoundValueCache(centroidCache)
  graft.model.Samples.registerSessionBoundValueCache(pqCache)
  graft.model.Samples.registerSessionBoundCache(kmeansCorpusCache)

}
