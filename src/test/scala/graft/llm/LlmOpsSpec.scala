package graft.llm

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class LlmOpsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "completely different content about spark engines"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (4L, "short text")
  ).toDF("doc_id", "text")

  test("exactDedup groups identical content under the canonical id") {
    val r = Dedup.exactDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(r(0L) == (0L, 2L)) // group {0,3}, canonical 0
    assert(r(3L) == (0L, 2L))
    assert(r(1L) == (1L, 1L))
  }

  test("ngramJaccardPairs finds near-dups, minhashLshPairs agrees exactly") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    // docs 0/1 share 6 of 8 distinct trigrams (J = 6/8); 0/3 identical (J=1)
    assert(exact.map(p => (p._1, p._2)).toSet ==
      Set((0L, 1L), (0L, 3L), (1L, 3L)))
    assert(exact.find(p => p._1 == 0 && p._2 == 3).get._3 == 1.0)
    val banded = Dedup.minhashLshPairs(docs, 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    assert(banded.toSeq == exact.toSeq)
  }

  test("containmentPairs: embedded short doc scores 1.0 where Jaccard dilutes") {
    val d = Seq(
      (0L, "x1 x2 x3 x4"),                               // 2 trigrams
      (1L, "x1 x2 x3 x4 y1 y2 y3 y4 y5 y6"),             // superset: 8 trigrams
      (2L, "z1 z2 z3 z4")                                 // unrelated
    ).toDF("doc_id", "text")
    // Jaccard(0,1) = 2/8 = 0.25 — below d2's 0.5 bar — but containment
    // max(2/2, 2/8) = 1.0: exactly the embedded-quote case
    val j = Dedup.ngramJaccardPairs(d, 3, 0.5).collect()
    assert(j.isEmpty)
    val c = Dedup.containmentPairs(d, 3, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(c.toSeq == Seq((0L, 1L, 1.0)))
    // symmetric near-dups still pass: containment >= Jaccard always
    val c2 = Dedup.containmentPairs(docs, 3, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(c2 == Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("containmentPrefixPairs (PPJoin prefix filter) equals the " +
      "inverted-index baseline bit-for-bit") {
    val mixed = Seq(
      (0L, "x1 x2 x3 x4"),
      (1L, "x1 x2 x3 x4 y1 y2 y3 y4 y5 y6"), // superset of 0
      (2L, "z1 z2 z3 z4"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "the quick brown fox jumps over the lazy cat"), // near-dup of 3
      (5L, "the quick brown fox jumps over the lazy dog"), // exact dup of 3
      (6L, "q1"), (7L, "")                                  // no shingles
    ).toDF("doc_id", "text")
    for (t <- Seq(0.6, 0.9)) {
      val base = Dedup.containmentPairs(mixed, 3, t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2)).toSeq
      val pref = Dedup.containmentPrefixPairs(mixed, 3, t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2)).toSeq
      assert(pref == base, s"threshold $t: prefix filter diverged")
      assert(base.nonEmpty, s"threshold $t: fixture must exercise pairs")
    }
  }

  test("bm25: Lucene +1 idf and length normalization, hand-checked") {
    val d = Seq(
      (0L, "spark spark join"),
      (1L, "join scan"),
      (2L, "other words here")
    ).toDF("doc_id", "text")
    val r = TextOps.bm25(d, Seq("spark", "scan")).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getFloat(3)))
      .toMap
    val n = 3.0; val avgdl = 8.0 / 3.0
    def score(tf: Double, df: Double, dl: Double): Float =
      (math.log((n - df + 0.5) / (df + 0.5) + 1.0) *
        tf * (1.2 + 1.0) /
        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))).toFloat
    assert(r(0L) == ((3L, 1L, score(2, 1, 3))))
    assert(r(1L) == ((2L, 1L, score(1, 1, 2))))
    assert(!r.contains(2L)) // no query term: no row, never a 0-score flood
  }

  test("plan-keyed memo caches are LRU-bounded and eviction unpersists " +
      "(a per-batch op sees a NEW plan key every batch)") {
    // 20 distinct corpus plans > the 16-entry bound; the earliest
    // frames must be evicted AND released from executor storage
    val frames = (0 until 20).map { k =>
      val d = Seq((k.toLong, s"alpha beta gamma delta epsilon $k"))
        .toDF("doc_id", "text")
      val f = Dedup.shingleSetsCached(d, 3)
      f.count() // materialize the cache entry
      f
    }
    val levels = frames.map(_.storageLevel.useMemory)
    assert(levels.takeRight(16).forall(identity),
      "recently used entries must stay cached")
    assert(levels.take(4).forall(l => !l),
      s"evicted entries must be unpersisted, got $levels")
    // session-teardown path (r10 advice): clearAndUnpersist must
    // release EVERY surviving entry, not just LRU-evicted ones
    val m = PlanCache.bounded[Int](4)
    val kept = Seq(0L -> "alpha beta", 1L -> "gamma delta").map { case (i, t) =>
      val f = Dedup.exactDedup(Seq((i, t)).toDF("doc_id", "text")).cache()
      f.count(); m.put(i.toInt, f); f
    }
    assert(kept.forall(_.storageLevel.useMemory))
    PlanCache.clearAndUnpersist(m)
    assert(m.isEmpty && kept.forall(!_.storageLevel.useMemory),
      "clearAndUnpersist must empty the map and release Spark storage")
  }

  test("incrementalNearDup: fresh-vs-history pairs only, never " +
      "history-history") {
    val history = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
      (2L, "completely different content about spark engines")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // exact copy of 0
      (11L, "totally novel text with no overlap at all here"),
      (12L, "the quick brown fox jumps over the lazy cow")  // near-dup of 0/1
    ).toDF("doc_id", "text")
    val r = Dedup.incrementalNearDup(fresh, history, 3, 0.5).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      .sortBy(p => (p._1, p._2))
    // 10 matches 0 exactly (J=1) and 1 at 6/8; 12 matches 0 and 1 at 6/8;
    // the 0-1 history pair must NOT appear, nor any fresh-fresh pair
    assert(r.map(p => (p._1, p._2)).toSeq ==
      Seq((10L, 0L), (10L, 1L), (12L, 0L), (12L, 1L)))
    assert(r.head._3 == 1.0)
    assert(r.forall(p => p._1 >= 10L && p._2 < 10L))
  }

  test("incrementalExactDedup flags new docs against history, exactly") {
    val history = Seq((1L, "alpha doc"), (2L, "beta doc")).toDF("doc_id", "text")
    val fresh = Seq((10L, "alpha doc"), (11L, "gamma doc"), (12L, "beta doc"))
      .toDF("doc_id", "text")
    val r = Dedup.incrementalExactDedup(fresh, history).collect()
      .map(x => x.getLong(0) -> x.getBoolean(2)).toMap
    assert(r == Map(10L -> true, 11L -> false, 12L -> true))
    // a generous fpp cannot change the (verified) output
    val loose = Dedup.incrementalExactDedup(fresh, history, fpp = 0.5).collect()
      .map(x => x.getLong(0) -> x.getBoolean(2)).toMap
    assert(loose == r)
  }

  test("WordShingles expression matches the split-based reference") {
    val cases = Seq(
      "the quick brown fox", "", "a", "a b", "  leading", "trailing  ",
      "double  space", "unicode é ü 漢字 test ok", "a a a a",
      "the quick the quick brown"
    )
    for (s <- cases; n <- 1 to 3) {
      val df = Seq(Tuple1(s)).toDF("text")
      val got = df.select(graft.functions.WordShingles.windows($"text", n))
        .head.getSeq[String](0)
      val t = s.split(" ", -1)
      val want =
        if (t.length < n) Seq.empty[String]
        else (0 to t.length - n).map(i => t.slice(i, i + n).mkString(" "))
      assert(got == want, s"windows n=$n text='$s'")
      val gotD = df.select(graft.functions.WordShingles.shingles($"text", n))
        .head.getSeq[String](0)
      assert(gotD == want.distinct, s"shingles n=$n text='$s'")
    }
    val nullDf = Seq(Tuple1(null: String)).toDF("text")
    assert(nullDf.select(graft.functions.WordShingles.shingles($"text", 2))
      .head.isNullAt(0))
  }

  test("StopwordHits expression matches the lambda-filter reference") {
    val profiles = TextOps.StopwordProfiles.map(_._2)
    val cases = Seq(
      "the quick brown fox", "", "THE Of AND", "der die la de",
      "的 是 xyz", "  the  ", "le la de et que en les un",
      "word the word the word", "nothing matches here at all",
      "supercalifragilistic the", "a", "y"
    )
    for (s <- cases) {
      val df = Seq(Tuple1(s)).toDF("text")
      val got = df.select(graft.functions.StopwordHits.hits($"text", profiles))
        .head.getSeq[Int](0)
      // reference: lower -> split -> per-profile membership count
      val toks = s.toLowerCase.split(" ", -1)
      val want = profiles.map(ws => toks.count(ws.toSet))
      assert(got == want, s"text='$s'")
    }
    // null text -> null vector (the when(...).otherwise('und') contract
    // downstream relies on null propagation)
    val nullDf = Seq(Tuple1(null: String)).toDF("text")
    assert(nullDf.select(graft.functions.StopwordHits.hits($"text", profiles))
      .head.isNullAt(0))
    // a token shared by two profiles ("de" ∈ es and fr) counts in both
    val shared = Seq(Tuple1("de de")).toDF("text")
      .select(graft.functions.StopwordHits.hits($"text", profiles))
      .head.getSeq[Int](0)
    assert(shared == Seq(0, 0, 2, 2, 0))
  }

  test("substringDupSpans merges overlapping windows into maximal spans") {
    val d = Seq(
      // 1 and 2 share tokens "c d e f g h" (positions 3-8 / 1-6); the
      // shared run is 6 tokens = three overlapping 4-token windows
      (1L, "a b c d e f g h i j"),
      (2L, "c d e f g h x y z w"),
      // 3 repeats a 4-gram within ITSELF only — not a cross-doc dup
      (3L, "p q r s p q r s t u"),
      (4L, "unrelated words entirely here nothing shared at all ok")
    ).toDF("doc_id", "text")
    val spans = Dedup.substringDupSpans(d, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(spans.toSeq == Seq((1L, 3L, 8L, 6L), (2L, 1L, 6L, 6L)))
  }

  test("substringDupSpans splits disjoint duplicated regions") {
    val d = Seq(
      // shares 1-4 and 9-12 with doc 2, with a 4-token unique gap —
      // two maximal spans, not one
      (1L, "a b c d gap1 gap2 gap3 gap4 w x y z"),
      (2L, "a b c d mid1 mid2 mid3 mid4 w x y z")
    ).toDF("doc_id", "text")
    val spans = Dedup.substringDupSpans(d, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(spans.toSeq ==
      Seq((1L, 1L, 4L), (1L, 9L, 12L), (2L, 1L, 4L), (2L, 9L, 12L)))
  }

  test("crossDocOnly=false also dedups within-doc repeats, global-first wins") {
    val d = Seq(
      // "p q r s" occurs twice WITHIN doc 1 (positions 1 and 5)
      (1L, "p q r s p q r s t u"),
      (2L, "totally unrelated words here nothing matching at all today")
    ).toDF("doc_id", "text")
    // cross-doc default: no flags at all
    assert(Dedup.substringDupSpans(d, 4).count() == 0)
    assert(Dedup.cutDupSpans(d, 4).filter(col("tokens_removed") > 0).count() == 0)
    // self-repeat mode: the second occurrence is the span, and the cut
    // keeps only the global first
    val spans = Dedup.substringDupSpans(d, 4, crossDocOnly = false).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.toSeq == Seq((1L, 5L, 8L, 4L)))
    val cut = Dedup.cutDupSpans(d, 4, crossDocOnly = false).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(cut(1L) == ("p q r s t u", 4L))
    assert(cut(2L)._2 == 0L)
  }

  test("substring ops match brute-force references on random corpora") {
    val rnd = new scala.util.Random(7)
    val vocab = Array("a", "b", "c", "d", "e", "f")
    val k = 3
    case class W(id: Long, p: Long, s: String)
    for (trial <- 1 to 5) {
      val corpus = (0 until 20).map { id =>
        val len = rnd.nextInt(16)
        (id.toLong,
          (0 until len).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val wins = corpus.flatMap { case (id, text) =>
        val t = text.split(" ", -1)
        if (t.length < k) Seq.empty[W]
        else (0 to t.length - k).map(i => W(id, i + 1L, t.slice(i, i + k).mkString(" ")))
      }
      val byS = wins.groupBy(_.s)
      val dupS = byS.filter(_._2.map(_.id).distinct.size >= 2).keySet
      def mergeSpans(id: Long, ps: Seq[Long]): Set[(Long, Long, Long, Long)] = {
        var runs = List.empty[List[Long]]
        ps.sorted.foreach { p =>
          runs match {
            case h :: rest if p <= h.head + k => runs = (p :: h) :: rest
            case _ => runs = List(p) :: runs
          }
        }
        runs.map(r =>
          (id, r.last, r.head + k - 1, r.head + k - 1 - r.last + 1)).toSet
      }
      val expSpans = wins.filter(w => dupS(w.s)).groupBy(_.id)
        .flatMap { case (id, ws) => mergeSpans(id, ws.map(_.p)) }.toSet
      val df = corpus.toDF("doc_id", "text")
      val gotSpans = Dedup.substringDupSpans(df, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(gotSpans == expSpans, s"trial $trial spans")

      val minDoc = byS.map { case (s, occ) => s -> occ.map(_.id).min }
      val expCut = corpus.map { case (id, text) =>
        val t = text.split(" ", -1)
        val cut = Array.fill(t.length)(false)
        wins.filter(w => w.id == id && dupS(w.s) && minDoc(w.s) != id).foreach { w =>
          ((w.p - 1) until math.min(w.p - 1 + k, t.length.toLong))
            .foreach(i => cut(i.toInt) = true)
        }
        val kept = t.zipWithIndex.collect { case (tok, i) if !cut(i) => tok }
          .mkString(" ")
        id -> (kept, cut.count(identity).toLong, t.length.toLong)
      }.toMap
      val gotCut = Dedup.cutDupSpans(df, k).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(gotCut == expCut, s"trial $trial cut")
    }
  }

  test("cutDupSpans keeps the min-doc copy and cuts token-by-token") {
    val d = Seq(
      (1L, "a b c d e f g h i j"),   // owns the shared run — untouched
      (2L, "c d e f g h x y z w"),   // shared run cut: 6 tokens removed
      (3L, "only unique material here nothing else matches at all now")
    ).toDF("doc_id", "text")
    val r = Dedup.cutDupSpans(d, 4).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2), x.getLong(3)))
      .toMap
    assert(r(1L) == ("a b c d e f g h i j", 0L, 10L))
    assert(r(2L) == ("x y z w", 6L, 10L))
    assert(r(3L)._2 == 0L)
    assert(r(3L)._1 == "only unique material here nothing else matches at all now")
  }

  test("minhashLshPairs caps degenerate band buckets without hurting defaults") {
    // 12 identical docs: every band bucket has width 12 (plus the
    // near-dup fixture pair) — the w² fan-out hazard in miniature
    val degen = (10L until 22L).map(i => (i, "all these words are exactly the same"))
    val corpus = degen.toDF("doc_id", "text")
    val full = Dedup.minhashLshPairs(corpus, 3, 0.5).collect()
    assert(full.length == 12 * 11 / 2) // all identical pairs found
    val capped = Dedup.minhashLshPairs(corpus, 3, 0.5, maxBucket = 5)
    assert(capped.collect().isEmpty) // every bucket wider than the cap
    // a cap above the bucket width changes nothing
    val loose = Dedup.minhashLshPairs(corpus, 3, 0.5, maxBucket = 12).collect()
    assert(loose.length == full.length)
  }

  test("connectedComponents: chains, stars, and multi-round convergence") {
    // a path graph 1-2-3-...-8 (forces several large/small-star rounds),
    // a separate pair, and edges given in arbitrary orientation
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (6L, 5L), (6L, 7L), (8L, 7L),
      (11L, 10L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 8L).forall(comp(_) == 1L))
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp.size == 10)
  }

  test("dupClusters labels every doc with its component min and size") {
    // near-dup graph on the fixture: {0,1,3} via trigram Jaccard >= 0.5
    val pairs = Dedup.ngramJaccardPairs(docs, 3, 0.5).select($"ia", $"ib")
    val r = Dedup.dupClusters(docs, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(r(0L) == (0L, 3L) && r(1L) == (0L, 3L) && r(3L) == (0L, 3L))
    assert(r(2L) == (2L, 1L) && r(4L) == (4L, 1L)) // singletons
  }

  test("qualityFilter flags each rule independently and keeps clean docs") {
    val corpus = Seq(
      // 20 tokens, stopword-rich, unique words -> kept
      (0L, "the cat sat on a mat and the dog ran to a tree in the park while birds sang songs"),
      (1L, "short text"), // too_short (and low_stopword)
      // repetitive: one word 21x -> dup_word_frac 20/21 > 0.65
      (2L, ("spam " * 20).trim + " spam"),
      // 20 unique German-looking tokens -> lang_filtered (de profile wins)
      (3L, "der hund lief und die katze sprang nicht weil das wetter mit regen kam aber ein vogel sang laut"),
      // high punctuation: >20% of chars non-alphanumeric
      (4L, "a!!! b??? c;;; d::: e--- f+++ g*** h=== i&&& j%%% k### l@@@ m^^^ n~~~ o||| p((( q))) r[[[ s]]] t的 u v w x")
    ).toDF("doc_id", "text")
    val r = TextOps.qualityFilter(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(r(0L) == (0L, 0L, 0L, 0L, 0L, 1L)) // kept, no flags
    assert(r(1L)._1 == 1L && r(1L)._6 == 0L)  // too_short
    assert(r(2L)._5 == 1L && r(2L)._6 == 0L)  // repetitive
    assert(r(3L)._4 == 1L && r(3L)._6 == 0L)  // lang_filtered
    assert(r(4L)._2 == 1L && r(4L)._6 == 0L)  // high_punct
  }

  test("applyDedup keeps one survivor per exact+near component with flags") {
    // components over exact edges {0,3} ∪ near pairs {(0,1),(0,3),(1,3)}:
    // {0,1,3} survives as 0; 2 and 4 are untouched singletons
    val pairs = Dedup.ngramJaccardPairs(docs, 3, 0.5).select($"ia", $"ib")
    val r = Dedup.applyDedup(docs, pairs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(r(0L) == (0L, 1L, 1L, 1L)) // survivor, yet an exact+near dup member
    assert(r(1L) == (0L, 0L, 0L, 1L)) // near-dup only, dropped
    assert(r(3L) == (0L, 0L, 1L, 1L)) // exact copy of 0, dropped
    assert(r(2L) == (2L, 1L, 0L, 0L)) // clean singleton
    assert(r(4L) == (4L, 1L, 0L, 0L))
    assert(r.values.count(_._2 == 1L) == 3) // exactly one survivor per component
  }

  test("streamingExactDedup keeps first-seen content within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val q = Dedup.streamingExactDedup(
        mem.toDF().toDF("doc_id", "ets", "text"), "ets", "10 minutes")
      .writeStream.format("memory").queryName("sded")
      .outputMode("append")
      .start()
    try {
      // start past t=0: the late filter drops eventTime <= the initial
      // epoch-0 watermark, which would silently exclude a ts(0) row
      mem.addData(
        (0L, ts(60), "alpha doc"), (1L, ts(61), "beta doc"),
        (2L, ts(62), "alpha doc"), // dup of 0, same batch
        (3L, ts(63), "gamma doc"))
      q.processAllAvailable()
      // dup arriving in a LATER batch, still within the watermark horizon
      mem.addData((4L, ts(64), "beta doc"), (5L, ts(65), "delta doc"))
      q.processAllAvailable()
      val kept = spark.sql("select doc_id from sded").collect()
        .map(_.getLong(0)).sorted
      // one representative per content: exactly one of the batch-1
      // "alpha" twins {0,2} (within-batch pick is arbitrary — the
      // content is identical), and 4 is dropped because "beta" was
      // already seen in the earlier batch
      assert(kept.length == 4 && Seq(1L, 3L, 5L).forall(kept.contains))
      assert(kept.count(Seq(0L, 2L).contains) == 1)
    } finally q.stop()
  }

  test("bpeMerges: three deterministic rounds on the classic low/lowest " +
      "corpus (Sennrich fig. 1 shape)") {
    val d = Seq((0L, "low low lower lowest newest newest"))
      .toDF("doc_id", "text")
    // round 1: lo=4 ow=4 we=4 tie -> "l o" (lexicographic); round 2:
    // (lo,w)=4 (w,e)=4 tie -> "lo w"; round 3: (e,s)=3 (s,t)=3 -> "e s"
    val r = TextOps.bpeMerges(d, 3).collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2))).sortBy(_._1)
    assert(r.toSeq == Seq((1, "l o", 4L), (2, "lo w", 4L), (3, "e s", 3L)))
    // leftmost-first run semantics: merging (a,a) over "aaaa" pairs
    // positions 1-2 and 3-4, so round 2's winner is (aa,aa)
    val runs = Seq((0L, "aaaa aaaa")).toDF("doc_id", "text")
    val rr = TextOps.bpeMerges(runs, 2).collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2))).sortBy(_._1)
    assert(rr.toSeq == Seq((1, "a a", 6L), (2, "aa aa", 2L)))
  }

  test("bpeEncode: per-doc token counts after the learned merges") {
    // merges (from the bpeMerges test): l+o, lo+w, e+s
    // low -> [low]; lower -> [low,e,r]; lowest -> [low,es,t];
    // newest -> [n,e,w,es,t]; a 1-char word stays one symbol
    val d = Seq(
      (0L, "low low lower lowest newest newest"),
      (1L, "low a")).toDF("doc_id", "text")
    val r = TextOps.bpeEncode(d, 3).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    // doc 0: words 6, chars 3+3+5+6+6+6=29, tokens 1+1+3+3+5+5=18
    assert(r(0L) == ((6L, 29L, 18L)))
    // doc 1: words 2, chars 4, tokens 1+1=2
    assert(r(1L) == ((2L, 4L, 2L)))
  }

  test("streamingExactDedup state is BOUNDED by the watermark: expired " +
      "hashes leave the store and re-sent content past the horizon is " +
      "admitted again (the documented batch-side handoff)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val q = Dedup.streamingExactDedup(
        mem.toDF().toDF("doc_id", "ets", "text"), "ets", "10 minutes")
      .writeStream.format("memory").queryName("sded_state")
      .outputMode("append")
      .start()
    def stateRows: Long = q.recentProgress
      .filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head.numRowsTotal).lastOption.getOrElse(-1L)
    try {
      // epoch 1: three distinct contents near t=60s (NOT epoch 0: the
      // operator's late filter drops eventTime <= watermark, and the
      // initial watermark IS epoch 0)
      mem.addData((0L, ts(60), "w a"), (1L, ts(70), "w b"),
        (2L, ts(80), "w c"))
      q.processAllAvailable()
      assert(stateRows == 3, s"epoch-1 state: $stateRows")
      // epoch 2, one hour later: the watermark advances to 3600-600s;
      // epoch-1 hashes (expiry ~600s) become evictable
      mem.addData((3L, ts(3600), "w d"), (4L, ts(3610), "w e"))
      q.processAllAvailable()
      // epoch 3 confirms eviction ran: state must hold ONLY the
      // unexpired hashes (2 from epoch 2 + the new one), never the 6
      // distinct contents ever seen — THE boundedness contract that
      // lets the stream run forever over a firehose
      mem.addData((5L, ts(3700), "w f"))
      q.processAllAvailable()
      assert(stateRows == 3,
        s"state not bounded by the watermark: $stateRows rows")
      // re-sending epoch-1 content BEYOND the horizon with a current
      // timestamp: its hash expired, so it is admitted AGAIN — dedup
      // only guarantees uniqueness within the lateness window; the
      // scaladoc hands cross-horizon dups to batch exactDedup
      mem.addData((6L, ts(3720), "w a"))
      q.processAllAvailable()
      val kept = spark.sql("select doc_id, text from sded_state").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(kept.count(_._2 == "w a") == 2,
        s"expired content not re-admitted: $kept")
      assert(kept.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 4L, 5L, 6L))
    } finally q.stop()
  }

  test("streamingNearDup: watermark-bounded shingle state, within-horizon " +
      "pairs only, expired docs never pair (the d16 streaming twin)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // bands=32/r=2 for near-certain banding recall at jaccard ~0.67
    val q = Dedup.streamingNearDup(
        mem.toDF().toDF("doc_id", "ets", "text"), "ets", "10 minutes",
        n = 2, threshold = 0.5, numHashes = 64, bands = 32)
      .writeStream.format("memory").queryName("snear")
      .outputMode("append")
      .start()
    def stateRows: Long = q.recentProgress
      .filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head.numRowsTotal).lastOption.getOrElse(-1L)
    def pairs = spark.sql("select fid, hid, jaccard from snear").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    try {
      // epoch 1: doc 2 is a near-dup of doc 1 (bigrams: 4 of 6 shared,
      // jaccard 2/3); doc 3 is unrelated; same-batch pairing must work
      mem.addData(
        (1L, ts(60), "a b c d e f"),
        (2L, ts(65), "a b c d e g"),
        (3L, ts(70), "p q r s t u"))
      q.processAllAvailable()
      assert(pairs == Set((2L, 1L, 2.0 / 3)),
        s"same-batch near-pair missing or wrong: $pairs")
      // a LATER batch within the horizon pairs against stored state
      mem.addData((4L, ts(80), "a b c d e h")) // near-dup of 1 AND 2
      q.processAllAvailable()
      assert(pairs.map(p => (p._1, p._2)) ==
        Set((2L, 1L), (4L, 1L), (4L, 2L)), s"cross-batch pairs: $pairs")
      val grown = stateRows
      assert(grown > 0, "state operator reported no rows")
      // one hour later the watermark passes epoch 1: its shingle state
      // must leave the store...
      mem.addData((5L, ts(3600), "z y x w v u"))
      q.processAllAvailable()
      mem.addData((6L, ts(3610), "m n o p q r"))
      q.processAllAvailable()
      assert(stateRows < grown,
        s"state not bounded by the watermark: $stateRows vs $grown")
      // ...and a fresh near-dup of the EXPIRED content pairs with
      // nothing (cross-horizon dups are the batch layer's job)...
      mem.addData((7L, ts(3620), "a b c d e f"))
      q.processAllAvailable()
      assert(!pairs.exists(p => p._1 == 7L || p._2 == 7L),
        s"doc 7 paired across the horizon: $pairs")
      // ...while a near-dup of doc 7 WITHIN the horizon still pairs
      mem.addData((8L, ts(3630), "a b c d e q"))
      q.processAllAvailable()
      assert(pairs.exists(p => p._1 == 8L && p._2 == 7L),
        s"within-horizon pair after expiry missing: $pairs")
      // exactness: every emitted jaccard is the true shingle-set value
      pairs.foreach { case (_, _, j) => assert(j >= 0.5 && j <= 1.0) }
      // exactly-once: near-identical docs share MANY bands, but the
      // first-shared-band rule lets only one bucket emit each pair —
      // count raw rows (the Set above would mask duplicates)
      val raw = spark.sql("select fid, hid from snear").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(raw.length == raw.toSet.size,
        s"multi-band duplicate emissions: ${raw.toSeq.sorted}")
    } finally q.stop()
  }

  test("streamingNearDup ≡ batch near-dup on a within-horizon corpus: " +
      "cross-batch pairs equal incrementalNearDup, in-batch pairs equal " +
      "ngramJaccardPairs, jaccards bit-identical") {
    // The cross-check that pins the streaming op's semantics to the
    // oracle-checked batch ops (r11 verdict ask 7). Contract mapping:
    // within the watermark horizon, streamingNearDup emits each
    // unordered near pair once, oriented (fid = later (ets, id),
    // hid = earlier); with r = 1 banding (bands = numHashes) a pair
    // misses only if NO minhash coordinate agrees — P ≈ (1−j)^64,
    // ~1e-20 at j ≥ 0.5, and the fixture is deterministic so the
    // equality is stable. Exact-verify means the emitted jaccard is
    // the true shingle-set value, so it must equal the batch ops'
    // doubles BIT for bit (same xxhash64 sets, same c/(na+nb−c)).
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(30).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // batch B = perturbed copies of A (last word dropped): bigram sets
    // nearly identical => jaccard well above 0.5
    val aRows = base.map { case (id, t) => (id, ts(100 + id), t) }
    val bRows = base.map { case (id, t) =>
      (id + 1000000L, ts(200 + id),
        t.split(" ").dropRight(1).mkString(" ")) }
    val q = Dedup.streamingNearDup(
        mem.toDF().toDF("doc_id", "ets", "text"), "ets", "2 hours",
        n = 2, threshold = 0.5, numHashes = 64, bands = 64)
      .writeStream.format("memory").queryName("snear_eq")
      .outputMode("append")
      .start()
    try {
      mem.addData(aRows.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(bRows.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("select fid, hid, jaccard from snear_eq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val aDf = aRows.toSeq.map(x => (x._1, x._3)).toDF("doc_id", "text")
    val bDf = bRows.toSeq.map(x => (x._1, x._3)).toDF("doc_id", "text")
    // in-batch truth: ngramJaccardPairs emits ia < ib; ets increases
    // with id inside each batch, so streaming orients fid = ib
    def inBatch(df: org.apache.spark.sql.DataFrame) =
      Dedup.ngramJaccardPairs(df, 2, 0.5).collect()
        .map(r => (r.getLong(1), r.getLong(0), r.getDouble(2)))
    // cross-batch truth: B is "today's crawl", A the history
    val cross = Dedup.incrementalNearDup(bDf, aDf, 2, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = (inBatch(aDf) ++ inBatch(bDf) ++ cross).toSet
    assert(want.nonEmpty, "fixture produced no near pairs — not a test")
    assert(got == want,
      s"streaming != batch:\n missing=${want -- got}\n extra=${got -- want}")
  }

  test("connectedComponents of an empty edge set is empty") {
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(edges).collect().isEmpty)
  }

  test("connectedComponents: one-task union-find finish equals the pure star loop") {
    // r16: below spark.graft.cc.localFinishEdges the tail star rounds
    // are replaced by a single-task union-find — must be bit-equal to
    // the star fixpoint on a graph mixing chains, a clique, dup edges
    // in both orientations, and singleton-free ids
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (6L, 5L), (6L, 7L), (8L, 7L),
      (11L, 10L), (10L, 11L), // duplicate pair, both orientations
      (20L, 21L), (21L, 22L), (20L, 22L), // triangle
      (30L, 31L)).toDF("a", "b")
    def run(): Set[(Long, Long)] = Dedup.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = run() // default cap: the finish path
    spark.conf.set("spark.graft.cc.localFinishEdges", "0")
    val star = try run() // cap 0: the pure alternating-star loop
    finally spark.conf.unset("spark.graft.cc.localFinishEdges")
    assert(local == star)
    assert(local.filter(_._2 == 1L).map(_._1) == (1L to 8L).toSet)
    assert(local.filter(_._2 == 20L).map(_._1) == Set(20L, 21L, 22L))
  }

  test("connectedComponents union-find finish handles string ids") {
    val edges = Seq(("b", "a"), ("b", "c"), ("z", "y")).toDF("a", "b")
    val comp = Dedup.connectedComponents(edges).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(comp == Set("a" -> "a", "b" -> "a", "c" -> "a",
      "y" -> "y", "z" -> "y"))
  }

  test("connectedComponents string ids: non-BMP vs high-BMP ordering " +
      "matches the star loop (UTF-8 binary order, not UTF-16)") {
    // U+10000 (surrogate pair, UTF-16 units 0xD800 0xDC00) sorts BELOW
    // U+FFFD in UTF-16 code-unit order but ABOVE it in code-point /
    // UTF-8 binary order — Spark's least/greatest use the latter, so
    // the union-find finish must pick "�" as the component min
    val supp = new String(Character.toChars(0x10000)) // U+10000
    val bmp = "�" // U+FFFD, high-BMP
    val edges = Seq((supp, bmp)).toDF("a", "b")
    def run(): Set[(String, String)] = Dedup.connectedComponents(edges)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val local = run() // default cap: the union-find finish
    spark.conf.set("spark.graft.cc.localFinishEdges", "0")
    val star = try run() // cap 0: the pure alternating-star loop
    finally spark.conf.unset("spark.graft.cc.localFinishEdges")
    assert(local == star)
    assert(local == Set(supp -> bmp, bmp -> bmp),
      s"expected component min $bmp (code-point order), got $local")
  }

  test("tokenHash64 matches the md5-low64-LE convention (DuckDB md5_number_lower)") {
    // md5('hello') = 5d41402abc4b2a76 b9719d911017c592; LE of the last 8
    // bytes = 0x92C51710919D71B9 = 10575884659879408057 (unsigned)
    assert(Dedup.tokenHash64("hello") == java.lang.Long.parseUnsignedLong("10575884659879408057"))
  }

  test("simhashPairs: identical docs at distance 0; banding finds them") {
    val pairs = Dedup.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 0 && p._2 == 3 && p._3 == 0))
    // near-dup pair 0/1 differs by one token — small but possibly > 3;
    // just assert symmetry/no self pairs
    assert(pairs.forall(p => p._1 < p._2))
  }

  test("similarity topK is exact and deterministic") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.7f, 0.7f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.topK(emb.filter($"vec_id" === 0), emb, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(r.toSeq == Seq((0L, 1L), (0L, 3L)))
  }

  test("lshCosinePairs recall vs brutePairs on the sf0.001 embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the fixture's 0.45 threshold sits at θ≈63°, far below the usual
    // near-dup operating point — shallow r=4 bands keep recall there
    val exact = pairs(Similarity.brutePairs(emb, 0.45, dim = 64))
    val banded = pairs(Similarity.lshCosinePairs(emb, 0.45, dim = 64,
      nBits = 64, bands = 16))
    assert(banded.subsetOf(exact), "exact rescoring must kill false positives")
    val recall = if (exact.isEmpty) 1.0
      else (exact & banded).size.toDouble / exact.size
    assert(recall >= 0.7, s"LSH pair recall $recall too low (${exact.size} exact)")
  }

  test("withPlantedDupes: deterministic, one copy per vector at cos ≈ 0.99") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planted = Similarity.withPlantedDupes(emb)
    assert(planted.count() == 2 * emb.count())
    val again = Similarity.withPlantedDupes(emb)
    assert(planted.exceptAll(again).isEmpty && again.exceptAll(planted).isEmpty)
    // each planted copy sits in the near-identical regime
    val cos = Similarity.brutePairs(planted, 0.95, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = emb.count()
    val expected = (0L until n).map(i => (i, i + 1000000L)).toSet
    assert(cos == expected, s"planted pairs off: ${cos.size} found, $n expected")
  }

  test("lshCosinePairs at its design point: near-total recall on planted dups") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planted = Similarity.withPlantedDupes(emb)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.brutePairs(planted, 0.9, dim = 64))
    val banded = pairs(Similarity.lshCosinePairs(planted, 0.9, dim = 64,
      nBits = 64, bands = 8))
    assert(banded.subsetOf(exact))
    val recall = (exact & banded).size.toDouble / exact.size
    assert(recall >= 0.99, s"design-point LSH recall $recall (${exact.size} exact)")
  }

  test("lshCosinePairs adaptive depth: a tiny targetBucket forces the " +
      "deepened bands and recall still holds on planted dups") {
    // forcing targetBucket=4 on the 200-vector planted corpus puts
    // the expected 2^8-key bucket population over the cap, so the
    // guard deepens r and re-derives the band count from the 0.9
    // threshold's collision probability — the regime a 200k-vector
    // corpus hits with the DEFAULT cap (where the fixed 8-bit depth
    // generated a disk-filling quadratic self-join, SCALE.md §3)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planted = Similarity.withPlantedDupes(emb)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.brutePairs(planted, 0.9, dim = 64))
    val banded = pairs(Similarity.lshCosinePairs(planted, 0.9, dim = 64,
      nBits = 64, bands = 8, targetBucket = 1, maxBucket = 8))
    assert(banded.subsetOf(exact))
    val recall = (exact & banded).size.toDouble / exact.size
    assert(recall >= 0.95, s"deepened-band recall $recall (${exact.size} exact)")
  }

  test("coarse centroid scan (forced): blocked pairs and IVF top-k " +
      "keep recall when assignment goes two-level") {
    // production corpora cross CoarseScanThreshold centroids and
    // assignment switches to the sqrt-k coarse index (SCALE.md §3.2's
    // N·k bottleneck); force it here on the small fixture and pin the
    // same recall contracts the exact-scan tests assert
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planted = Similarity.withPlantedDupes(emb)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val old = Similarity.CoarseScanThreshold
    Similarity.CoarseScanThreshold = 4
    try {
      val exact = pairs(Similarity.brutePairs(planted, 0.9, dim = 64))
      val blocked = pairs(Similarity.clusterBlockedPairs(planted, 0.9,
        dim = 64, numCentroids = 16, nprobe = 2))
      assert(blocked.subsetOf(exact))
      val recall = (exact & blocked).size.toDouble / exact.size
      assert(recall >= 0.95, s"coarse-scan blocked recall $recall")
      // IVF top-1 on the planted corpus: each original's nearest
      // neighbor is its planted copy; coarse probing must still find it
      val q = planted.filter(col("vec_id") < 1000000L).limit(20)
      val top = Similarity.ivfTopK(q, planted, k = 2, dim = 64,
        numCentroids = 16, nprobe = 4)
        .filter(col("neighbor_id") =!= col("qid")).collect()
        .groupBy(_.getLong(0))
        .map { case (qid, rows) => qid ->
          rows.maxBy(_.getDouble(2)).getLong(1) }
      val hits = top.count { case (qid, nb) => nb == qid + 1000000L }
      assert(hits >= (top.size * 0.9).toInt,
        s"coarse IVF found $hits/${top.size} planted copies")
    } finally Similarity.CoarseScanThreshold = old
  }

  test("clusterBlockedPairs: subset of exact, high recall on planted dups") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planted = Similarity.withPlantedDupes(emb)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.brutePairs(planted, 0.9, dim = 64))
    val blocked = pairs(Similarity.clusterBlockedPairs(planted, 0.9, dim = 64,
      numCentroids = 16, nprobe = 2))
    assert(blocked.subsetOf(exact))
    val recall = (exact & blocked).size.toDouble / exact.size
    assert(recall >= 0.95, s"cluster-blocked recall $recall (${exact.size} exact)")
  }

  test("annTopK and ivfTopK recall vs exact topK on the sf0.001 embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.topK(q, emb, 5))
    val lsh = pairs(Similarity.annTopK(q, emb, 5, dim = 64))
    val lshRecall = (exact & lsh).size.toDouble / exact.size
    assert(lshRecall >= 0.5, s"LSH ANN recall $lshRecall too low")
    val ivf = pairs(Similarity.ivfTopK(q, emb, 5, dim = 64,
      numCentroids = 8, nprobe = 4))
    val ivfRecall = (exact & ivf).size.toDouble / exact.size
    assert(ivfRecall >= 0.5, s"IVF ANN recall $ivfRecall too low")
  }

  test("pqTopK: exact rescored cosines, high recall via ADC shortlist") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 10)
    val exact = Similarity.topK(q, emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = Similarity.pqTopK(q, emb, 5, dim = 64,
      m = 8, ksub = 16, shortlist = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val recall = (exact.keySet & pq.keySet).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ ANN recall $recall too low")
    // the re-rank makes every emitted cosine EXACT — equal to the
    // brute value for the same (query, neighbour) pair
    (exact.keySet & pq.keySet).foreach { key =>
      assert(math.abs(exact(key) - pq(key)) < 1e-12, s"inexact cos at $key")
    }
    // determinism across invocations (codebook cache + tie-breaks)
    val again = Similarity.pqTopK(q, emb, 5, dim = 64,
      m = 8, ksub = 16, shortlist = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(again == pq)
  }

  test("hashSplit is deterministic, content-independent, ~90/5/5") {
    val r1 = TextOps.hashSplit(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val relabeled = docs.withColumn("text", lit("x"))
    val r2 = TextOps.hashSplit(relabeled).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(r1 == r2, "split must not depend on content")
    assert(r1.values.forall { case (b, s) =>
      (b < 900) == (s == "train") && (b >= 950) == (s == "test") })
    // cross-engine hash convention: bucket = md5-low64 unsigned mod
    assert(r1(0L)._1 ==
      java.lang.Long.remainderUnsigned(Dedup.tokenHash64("0"), 1000L))
  }

  test("packSequences: per-shard running layout, spanning docs split") {
    import spark.implicits._
    // one shard so the layout is a single known stream
    val d = Seq((1L, "a b c"), (2L, "d e"), (3L, "f g h i")) // 3,2,4 tokens
      .toDF("doc_id", "text")
    val r = TextOps.packSequences(d, budget = 4, shards = 1).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(r(1L) == (0L, 0L, 0L)) // tokens [0,3) in seq 0
    assert(r(2L) == (3L, 0L, 1L)) // tokens [3,5) span the seq-0/1 cut
    assert(r(3L) == (5L, 1L, 2L)) // tokens [5,9) span seqs 1-2
  }

  test("contamination counts distinct blocklist shingles per doc") {
    import spark.implicits._
    val block = Seq("quick brown fox").toDF("s")
    val r = TextOps.contamination(docs, block, 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(r(0L) == (1L, 1L) && r(1L) == (1L, 1L) && r(3L) == (1L, 1L))
    assert(r(2L) == (0L, 0L) && r(4L) == (0L, 0L))
    assert(r.size == 5, "every doc must be labeled")
  }

  test("topTerms: bounded-heap vocabulary head with deterministic ties") {
    val r = TextOps.topTerms(docs, 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // 'the' appears 6 times across the fixture docs; ties break on the
    // token string ascending
    assert(r.head == ("the", 6L))
    assert(r.length == 3)
    assert(r.sliding(2).forall { case Array((ta, ca), (tb, cb)) =>
      ca > cb || (ca == cb && ta < tb) })
  }

  test("lmScore matches a hand-rolled add-one bigram model exactly") {
    val out = TextOps.lmScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getFloat(2))).toMap
    // independent reference model over the same fixture: train = the
    // hashSplit 'train' stratum, <s> begin-of-doc context, add-one
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val split = TextOps.hashSplit(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val train = rows.filter(r => split(r._1) == "train")
    assert(train.nonEmpty) // ~90% of ids land in 'train'
    def toks(s: String): Seq[String] = s.split(" ", -1).toSeq
    val bigr = train.toSeq.flatMap { case (_, t) =>
      val tk = toks(t); ("<s>" +: tk.init).zip(tk) }
    val bc = bigr.groupBy(identity).map { case (k, v) => k -> v.size }
    val cc = bigr.groupBy(_._1).map { case (c, v) => c -> v.size }
    val vocab = train.flatMap(r => toks(r._2)).distinct.length.toDouble
    for ((id, t) <- rows) {
      val tk = toks(t)
      val lps = ("<s>" +: tk.init).zip(tk).map { case (c, w) =>
        math.log((bc.getOrElse((c, w), 0) + 1.0) /
          (cc.getOrElse(c, 0) + vocab)) }
      assert(out(id)._1 == tk.size.toLong, s"doc $id token count")
      assert(math.abs(out(id)._2 - (lps.sum / lps.size).toFloat) <= 1e-6,
        s"doc $id avg_logp")
    }
    // the exact-dup pair shares one score; every doc is scored
    assert(out(0L)._2 == out(3L)._2)
    assert(out.size == rows.length)
  }

  test("bpePairCounts: frequency-weighted adjacent pairs, tie on pair") {
    import spark.implicits._
    val d = Seq((0L, "aba ab"), (1L, "ab cd x")).toDF("doc_id", "text")
    // words: aba x1 -> ab, ba; ab x2 -> ab x2; cd x1; x (len 1, none)
    val r = TextOps.bpePairCounts(d, 2).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(r.head == ("ab", 3L))
    // ba and cd tie at 1; 'ba' < 'cd' wins the k=2 cut
    assert(r.toSeq == Seq(("ab", 3L), ("ba", 1L)))
    val all = TextOps.bpePairCounts(d, 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(all == Map("ab" -> 3L, "ba" -> 1L, "cd" -> 1L))
  }

  test("wordEntropy: token/type counts and H = log2(N) - (Σ n·log2 n)/N") {
    import spark.implicits._
    val d = Seq(
      (0L, "a a a a"),     // 4 tokens, 1 type, H = 0
      (1L, "a b"),         // 2 tokens, 2 types, H = 1
      (2L, "the quick the")// 3 tokens, 2 types, H = log2(3) - 2/3
    ).toDF("doc_id", "text")
    val r = TextOps.wordEntropy(d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getFloat(3)))
      .toMap
    assert(r(0L) == (4L, 1L, 0.0f))
    assert(r(1L) == (2L, 2L, 1.0f))
    assert(r(2L)._1 == 3L && r(2L)._2 == 2L)
    val h2 = (math.log(3.0) / math.log(2.0) -
      2.0 * (math.log(2.0) / math.log(2.0)) / 3.0).toFloat
    assert(math.abs(r(2L)._3 - h2) <= 1e-6f)
  }

  test("cooccurrence: windowed unordered pairs, tie-broken top-k, PMI") {
    import spark.implicits._
    // tokens [a, b, a, c]: window-2 forward pairs (a,b) (a,a) (a,b)
    // [from b→a unordered] (b,c) (a,c) → counts ab=2 aa=1 bc=1 ac=1
    val d = Seq((0L, "a b a c")).toDF("doc_id", "text")
    val all = TextOps.cooccurrence(d, 2, 10).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    assert(all == Map(("a", "b") -> 2L, ("a", "a") -> 1L,
      ("b", "c") -> 1L, ("a", "c") -> 1L))
    // k=2 cut: ab (count 2) first, then the (a,a)<(a,c)<(b,c) tie
    val top2 = TextOps.cooccurrence(d, 2, 2).collect()
      .map(x => (x.getString(0), x.getString(1)))
    assert(top2.toSet == Set(("a", "b"), ("a", "a")))
    // PMI of (a,b): ln(cnt·N²/(T·n_a·n_b)), N=4 tokens, T=5 pairs,
    // n_a=2, n_b=1 — matched double arithmetic, compared as float
    val pmi = TextOps.cooccurrence(d, 2, 10).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getFloat(3)).toMap
    val exp = math.log((2.0 * 4 * 4) / (5.0 * 2 * 1)).toFloat
    assert(pmi(("a", "b")) == exp)
    // window=1 drops the skip-gram pairs
    val w1 = TextOps.cooccurrence(d, 1, 10).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    assert(w1 == Map(("a", "b") -> 2L, ("a", "c") -> 1L))
  }

  test("langConfidence: prediction, top hits, and runner-up margin") {
    import spark.implicits._
    val d = Seq(
      (0L, "the of and xyz"),      // en 3 hits, others 0 → margin 3
      (1L, "de la que y"),         // es 4, fr 3 (la de que) → margin 1
      (2L, "xyz qqq www"),         // zero everywhere → und, margin 0
      (3L, "le la de et the a")    // fr 4, es 2, en 2 → margin 2
    ).toDF("doc_id", "text")
    val r = TextOps.langConfidence(d).collect()
      .map(x => x.getLong(0) ->
        (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(0L) == (("en", 3L, 3L)))
    assert(r(1L) == (("es", 4L, 1L)))
    assert(r(2L) == (("und", 0L, 0L)))
    assert(r(3L) == (("fr", 4L, 2L)))
  }

  test("sourceDivergence: per-source unigram KL vs the smoothed corpus") {
    import spark.implicits._
    val d = Seq(
      (0L, "a a b", "s1"),
      (1L, "c c c", "s2")
    ).toDF("doc_id", "text", "source")
    val r = TextOps.sourceDivergence(d).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getFloat(2))).toMap
    // corpus: a=2 b=1 c=3, total 6, vocab 3 → smoothed q(w)=(gn+1)/9
    def kl(counts: Map[String, Long]): Float = {
      val nt = counts.values.sum.toDouble
      val q = Map("a" -> 3.0, "b" -> 2.0, "c" -> 4.0).map {
        case (w, gn1) => w -> gn1 / 9.0 }
      counts.map { case (w, n) =>
        (n / nt) * math.log((n / nt) / q(w)) }.sum.toFloat
    }
    assert(r("s1")._1 == 3L && r("s2")._1 == 3L)
    assert(math.abs(r("s1")._2 - kl(Map("a" -> 2L, "b" -> 1L))) <= 1e-6f)
    assert(math.abs(r("s2")._2 - kl(Map("c" -> 3L))) <= 1e-6f)
    // the single-token source diverges more than the mixed one
    assert(r("s2")._2 > r("s1")._2)
  }

  test("zipfSlope: least-squares ln-ln fit over the tie-broken rank") {
    import spark.implicits._
    // counts: a=4, b=2, c=1 → ranks 1,2,3 (no ties); exact Zipf with
    // slope -1 would be 4,2,4/3 — this fixture is close but not exact
    val d = Seq((0L, "a a a a b b c")).toDF("doc_id", "text")
    val r = TextOps.zipfSlope(d).collect().head
    assert(r.getLong(0) == 3L)
    val xs = Seq(1.0, 2.0, 3.0).map(math.log)
    val ys = Seq(4.0, 2.0, 1.0).map(math.log)
    val m = 3.0
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val sxx = xs.map(x => x * x).sum
    val exp = ((m * sxy - sx * sy) / (m * sxx - sx * sx)).toFloat
    assert(math.abs(r.getFloat(1) - exp) <= 1e-6f)
    assert(r.getFloat(1) < -1.0f && r.getFloat(1) > -1.5f)
    // tie-break determinism: equal counts rank by token, so permuting
    // doc order cannot change the fit
    val d2 = Seq((0L, "b b a a a a c")).toDF("doc_id", "text")
    assert(TextOps.zipfSlope(d2).collect().head.getFloat(1) ==
      r.getFloat(1))
  }

  test("kmeansRounds: a mislabeled vector is reclaimed by its true " +
      "cluster and the assignment is stable across extra rounds") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.05f), 0),
      (2L, Seq(0.9f, 0.1f, 0.0f), 0),
      (3L, Seq(0.95f, 0.05f, 0.0f), 1), // mislabeled: lives in cluster 0
      (4L, Seq(0.0f, 1.0f, 0.05f), 1),
      (5L, Seq(0.1f, 0.9f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    def asgn(rounds: Int) =
      Similarity.kmeansRounds(emb, rounds).collect()
        .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val r1 = asgn(1)
    assert(r1 == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 1),
      s"round 1 should already reclaim vec 3: $r1")
    // fixed point: more rounds do not move anything
    assert(asgn(3) == r1)
    // the stable flag reports label-vs-assignment agreement
    val st = Similarity.kmeansRounds(emb, 3).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(st == Map(1L -> true, 2L -> true, 3L -> false,
      4L -> true, 5L -> true))
  }

  test("embeddingGramian: upper-triangular sums match the brute force, " +
      "survive partitioning, ignore wrong-dim rows") {
    import spark.implicits._
    val vecs = (0 until 50).map { k =>
      (k.toLong, Array.tabulate(4)(d => ((k * 7 + d * 3) % 11 - 5).toFloat))
    }
    val e = vecs.toDF("vec_id", "embedding").repartition(8)
    val got = Similarity.embeddingGramian(e, 4).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getFloat(2)).toMap
    assert(got.size == 10) // 4*5/2 upper-triangular cells
    for (i <- 0 until 4; j <- i until 4) {
      val want = vecs.map { case (_, v) =>
        v(i).toDouble * v(j).toDouble }.sum.toFloat
      assert(got((i + 1, j + 1)) == want, s"cell ($i,$j)")
    }
    // a wrong-dim row contributes nothing rather than corrupting cells
    val mixed = (vecs :+ (99L, Array(1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val got2 = Similarity.embeddingGramian(mixed, 4).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getFloat(2)).toMap
    assert(got2 == got)
    // plan: hash-based, single aggregate, no explode/join
    val p = Similarity.embeddingGramian(e, 4)
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortAggregate") && !p.contains("Join"), p)
  }

  test("pcaProject: verdicts all pass on a rank-2 synthetic corpus, and " +
      "the Jacobi eigensolver recovers the planted spectrum") {
    import spark.implicits._
    // rank-2 data in 4 dims: v = a*d1 + b*d2, var(a)=25, var(b)=1
    val rnd = new scala.util.Random(3)
    val d1 = Array(0.5f, 0.5f, 0.5f, 0.5f)
    val d2 = Array(0.5f, -0.5f, 0.5f, -0.5f)
    val vecs = (0 until 400).map { i =>
      val a = (rnd.nextGaussian() * 5).toFloat
      val b = rnd.nextGaussian().toFloat
      (i.toLong, Array.tabulate(4)(j => a * d1(j) + b * d2(j)))
    }
    val e = vecs.toDF("vec_id", "embedding").repartition(8)
    val out = Similarity.pcaProject(e, 4, 2).collect().head
    assert(out.getLong(0) == 400 && out.getLong(1) == 2)
    (2 to 6).foreach(i => assert(out.getLong(i) == 1L,
      s"verdict ${out.schema(i).name} failed"))
    // the driver eigensolver itself: planted diagonal spectrum
    val m = Array(
      Array(3.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), Array(0.0, 0.0, 2.0))
    val (ev, evec) = Similarity.PcaMath.jacobiEigen(m)
    assert(ev.sorted.sameElements(Array(1.0, 2.0, 3.0)))
    // eigenvectors are axis-aligned (up to sign)
    ev.zip(evec).foreach { case (l, v) =>
      val axis = m.indices.find(i => m(i)(i) == l).get
      assert(math.abs(math.abs(v(axis)) - 1.0) < 1e-12)
    }
  }

  test("labelCentroids: element-wise per-label means in long form") {
    import spark.implicits._
    val e = Seq(
      (0L, Array(1.0f, 2.0f), 7),
      (1L, Array(3.0f, 6.0f), 7),
      (2L, Array(10.0f, 0.0f), 9)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.labelCentroids(e).collect()
      .map(x => (x.getInt(0), x.getInt(1)) -> (x.getLong(2), x.getFloat(3)))
      .toMap
    assert(r == Map(
      (7, 1) -> (2L, 2.0f), (7, 2) -> (2L, 4.0f),
      (9, 1) -> (1L, 10.0f), (9, 2) -> (1L, 0.0f)))
  }

  test("centroidAssign: cosine argmax to the quantized label centroid") {
    import spark.implicits._
    // two clean clusters on orthogonal axes plus one vector between
    // them leaning toward label 1's axis
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.9f, 0.1f), 1),
      (2L, Array(0.0f, 1.0f), 2),
      (3L, Array(0.1f, 0.9f), 2),
      (4L, Array(1.0f, 0.2f), 2) // on label 1's axis → misassigned
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.centroidAssign(e).collect()
      .map(x => x.getLong(0) ->
        (x.getInt(1), x.getInt(2), x.getBoolean(4))).toMap
    assert(r(0L) == ((1, 1, true)))
    assert(r(1L) == ((1, 1, true)))
    assert(r(2L) == ((2, 2, true)))
    assert(r(3L) == ((2, 2, true)))
    assert(r(4L)._2 == 1 && !r(4L)._3)
    // tie-break: two labels with byte-identical centroids (both mean
    // to exactly (0.5, 0.5)) tie on every vector — the smaller label
    // must win deterministically
    val tied = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.0f, 1.0f), 1),
      (2L, Array(1.0f, 0.0f), 2),
      (3L, Array(0.0f, 1.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val t = Similarity.centroidAssign(tied).collect()
      .map(x => x.getLong(0) -> x.getInt(2)).toMap
    assert(t.values.toSet == Set(1))
  }

  test("repetitionSignals: dup/top n-gram fractions with short-doc edges") {
    import spark.implicits._
    val d = Seq(
      (0L, "a a a a"),        // words: 4 total, 1 distinct, top 4
      (1L, "a b a b a"),      // bigrams: 4 total, 2 distinct ("a b" ×2, "b a" ×2)
      (2L, "x"),              // < 2 tokens: bigram/trigram stats are 0
      (3L, "p q r s")         // all distinct everywhere
    ).toDF("doc_id", "text")
    val r = TextOps.repetitionSignals(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(r(0L).getAs[Float]("dup_word_frac") == 0.75f)
    assert(r(0L).getAs[Float]("top_word_frac") == 1.0f)
    assert(r(0L).getAs[Float]("dup_2gram_frac") == (1.0 - 1.0 / 3).toFloat)
    assert(r(1L).getAs[Float]("dup_2gram_frac") == 0.5f)
    assert(r(1L).getAs[Float]("top_2gram_frac") == 0.5f)
    assert(r(2L).getAs[Float]("dup_2gram_frac") == 0.0f)
    assert(r(2L).getAs[Float]("top_3gram_frac") == 0.0f)
    assert(r(3L).getAs[Float]("dup_word_frac") == 0.0f)
    assert(r(3L).getAs[Float]("top_2gram_frac") == (1.0 / 3).toFloat)
  }

  test("tfidf: tf, df, and ln weight over the fixture corpus") {
    val rows = TextOps.tfidf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getFloat(4))).toMap
    // "the" appears twice in doc 0 and in 3 of 5 docs
    val (tf, df, w) = rows((0L, "the"))
    assert(tf == 2L && df == 3L)
    assert(w == (2.0 * math.log(5.0 / 3)).toFloat)
    // corpus-unique token: df 1, weight tf·ln(5)
    val (tf2, df2, w2) = rows((2L, "spark"))
    assert(tf2 == 1L && df2 == 1L && w2 == math.log(5.0).toFloat)
    // every (doc, distinct token) pair is present exactly once
    assert(rows.size == docs.collect().map(r =>
      r.getString(1).split(" ", -1).distinct.length).sum)
  }

  test("TextOps: token counts, fingerprint fold, langId argmax") {
    val r = TextOps.analyze(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(r(0L).getAs[Int]("ws_tokens") == 9)
    assert(r(0L).getAs[String]("pred_lang") == "en") // 'the' twice, 'over'...
    // fingerprint of "short text": fold (acc*31+c) % P over codes
    val expected = "short text".foldLeft(0L)((a, c) => (a * 31 + c) % TextOps.FingerprintMod)
    assert(r(4L).getAs[Long]("fingerprint") == expected)
  }

  test("stratifiedSample: per-stratum rates, id-stable, rate-monotone") {
    val d = (0L until 2000L).map(i =>
      (i, if (i % 2 == 0) "en" else "zh", s"text $i")).toDF("doc_id", "lang", "text")
    val kept = TextOps.stratifiedSample(d, "lang",
      Seq("en" -> 900, "zh" -> 200), 500).collect().map(_.getLong(0)).toSet
    val en = kept.count(_ % 2 == 0).toDouble / 1000
    val zh = kept.count(_ % 2 == 1).toDouble / 1000
    assert(math.abs(en - 0.9) < 0.05, s"en keep rate $en")
    assert(math.abs(zh - 0.2) < 0.05, s"zh keep rate $zh")
    // monotone: lowering a rate only removes docs, never adds
    val keptLower = TextOps.stratifiedSample(d, "lang",
      Seq("en" -> 500, "zh" -> 200), 500).collect().map(_.getLong(0)).toSet
    assert(keptLower.subsetOf(kept))
    // a doc's fate is a pure function of its id: rerun is identical
    val rerun = TextOps.stratifiedSample(d, "lang",
      Seq("en" -> 900, "zh" -> 200), 500).collect().map(_.getLong(0)).toSet
    assert(rerun == kept)
  }

  test("sourceMix: inverse-sqrt keep rates, small strata uncut, " +
      "growth of one stratum never flips another") {
    // big: 1600 docs, small: 100 — k = 10 gives big 250000 ppm
    // (10/40), small capped at 1000000 (10/10 = 1.0)
    val d = (0L until 1700L).map(i =>
      (i, if (i < 1600) "big" else "small", s"text $i"))
      .toDF("doc_id", "stratum", "text")
    val r = TextOps.sourceMix(d, 10.0, "stratum").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2),
        x.getLong(3), x.getLong(4)))
    val byStratum = r.groupBy(_._2)
    assert(byStratum("big").head._4 == 250000L) // floor(10/40 * 1e6)
    assert(byStratum("small").head._4 == 1000000L) // capped: rate 1.0
    assert(byStratum("small").forall(_._5 == 1L)) // small keeps all
    val bigKeep = byStratum("big").count(_._5 == 1L).toDouble / 1600
    assert(math.abs(bigKeep - 0.25) < 0.05, s"big keep rate $bigKeep")
    // stability: tripling the small stratum must not flip any of the
    // big stratum's decisions (per-stratum rate + id-pure hash)
    val d2 = (0L until 1900L).map(i =>
      (i, if (i < 1600) "big" else "small", s"text $i"))
      .toDF("doc_id", "stratum", "text")
    val r2 = TextOps.sourceMix(d2, 10.0, "stratum").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(4)))
    val bigBefore = r.filter(_._2 == "big").map(x => (x._1, x._5)).toSet
    val bigAfter = r2.filter(_._2 == "big").map(x => (x._1, x._3)).toSet
    assert(bigBefore == bigAfter)
  }

  test("domainStats and redactPii: extraction, counts, and the md5 witness") {
    val d = Seq(
      (0L, "see http://a.example.com/x and https://b.example.org/y done"),
      (1L, "again http://a.example.com/z plus mail bob@corp.example.net"),
      (2L, "call 555-0142 or 555-9999 now"),
      (3L, "nothing here")).toDF("doc_id", "text")
    val dom = TextOps.domainStats(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(dom("a.example.com") == (2L, 2L)) // 2 urls in 2 docs
    assert(dom("b.example.org") == (1L, 1L))
    assert(!dom.contains("corp.example.net")) // emails are not URLs
    val red = d.select(col("doc_id") +:
      TextOps.redactPii(col("text")).map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(red(1L).getAs[Long]("n_emails") == 1L)
    assert(red(2L).getAs[Long]("n_phones") == 2L)
    assert(red(3L).getAs[Long]("n_emails") == 0L)
    // the witness is the md5 of the rewritten text
    val exp = java.security.MessageDigest.getInstance("MD5")
      .digest("call [PHONE] or [PHONE] now".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(red(2L).getAs[String]("redacted_md5") == exp)
  }

  test("corpusStats: exact interpolated percentiles per stratum") {
    // token counts en: 1,2,3,4 -> p50 = 2.5, p90 = 3.7 (linear interp)
    val d = Seq(
      (0L, "en", "a"), (1L, "en", "a b"), (2L, "en", "a b c"),
      (3L, "en", "a b c d"), (4L, "fr", "x y")).toDF("doc_id", "lang", "text")
    val r = TextOps.corpusStats(d, "lang").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(r("en").getAs[Long]("n_docs") == 4L)
    assert(math.abs(r("en").getAs[Float]("p50_tokens") - 2.5f) < 1e-6)
    assert(math.abs(r("en").getAs[Float]("p90_tokens") - 3.7f) < 1e-6)
    assert(math.abs(r("en").getAs[Float]("mean_tokens") - 2.5f) < 1e-6)
    assert(r("fr").getAs[Float]("p50_tokens") == 2.0f)
  }

  test("normQuantize: norm fold, round-half-up int8, zero-vector guard") {
    val d = Seq(
      (0L, Array(3.0f, 4.0f)),       // norm 5, q = (76, 102)
      (1L, Array(-1.0f, 0.0f)),      // norm 1, q = (-127, 0)
      (2L, Array(0.0f, 0.0f))        // zero vector -> all-zero q
    ).toDF("vec_id", "embedding")
    val r = Similarity.normQuantize(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(math.abs(r(0L).getAs[Float]("norm") - 5.0f) < 1e-6)
    // 3/5*127 + .5 = 76.7 -> 76; 4/5*127 + .5 = 102.1 -> 102
    assert(r(0L).getAs[Long]("q_min") == 76L)
    assert(r(0L).getAs[Long]("q_max") == 102L)
    assert(r(0L).getAs[Long]("q_sum") == 178L)
    assert(r(1L).getAs[Long]("q_min") == -127L)
    assert(r(1L).getAs[Long]("q_max") == 0L)
    assert(r(2L).getAs[Float]("norm") == 0.0f)
    assert(r(2L).getAs[Long]("q_min") == 0L && r(2L).getAs[Long]("q_sum") == 0L)
  }

  test("multimodal: frame sampling slices the payload deterministically") {
    val media = Multimodal.mediaTable(docs)
    val frames = Multimodal.frameSample(media, 4).collect()
    val d0 = docs.collect().find(_.getLong(0) == 0L).get.getString(1)
    val f0 = frames.filter(_.getLong(0) == 0L)
    assert(f0.length == d0.length / 32) // 43/32 = 1 frame at idx 0
    val hex = f0.head.getString(2)
    assert(hex == d0.substring(0, 32).getBytes("UTF-8").map("%02x".format(_)).mkString)
    // decode stub features
    val feats = Multimodal.decodeStub(spark, media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(feats(0L).n_bytes == d0.length)
    assert(math.abs(feats(0L).mean_byte -
      d0.getBytes("UTF-8").map(_ & 0xff).sum.toDouble / d0.length) < 1e-12)
  }

  test("crossOverlap marks shared n-grams, zeroes short docs") {
    // trigram scan: docs 0 and 3 are identical (7 trigrams each, all
    // shared); doc 1 shares 6 of its 7 with them; docs 2, 4 share
    // none. doc 4 ("short text") has <3 tokens -> no shingles at all
    val r = TextOps.crossOverlap(docs, 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(r(0L) == (7L, 7L) && r(3L) == (7L, 7L))
    assert(r(1L) == (7L, 6L))
    assert(r(2L) == (4L, 0L))
    assert(r(4L) == (0L, 0L))
  }

  test("chunk: stride layout, overlap sharing, short tail") {
    // 10 tokens, size 4, overlap 1 -> stride 3: starts 0,3,6,9
    val one = Seq((0L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")).toDF("doc_id", "text")
    val r = TextOps.chunk(one, 4, 1).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(r == Map(0L -> (0L, 4L), 1L -> (3L, 4L), 2L -> (6L, 4L),
      3L -> (9L, 1L))) // short tail chunk
    // md5 witness matches the joined token slice
    val c1 = TextOps.chunk(one, 4, 1).collect().find(_.getLong(1) == 1L).get
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest("t3 t4 t5".getBytes("UTF-8") ++ " t6".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(c1.getString(4) == expect)
  }

  test("importanceScore: add-1 smoothed log-likelihood ratio, hand-checked") {
    // corpus: target doc "a b", other doc "a c"
    // counts: cc(a)=2 cc(b)=1 cc(c)=1; tc(a)=1 tc(b)=1; Tc=4 Tt=2 V=3
    val corpus = Seq((0L, "a b", true), (1L, "a c", false))
      .toDF("doc_id", "text", "is_t")
    val r = TextOps.importanceScore(corpus, $"is_t").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getFloat(2))).toMap
    def w(tc: Long, cc: Long) =
      math.log((tc + 1.0) / (2 + 3)) - math.log((cc + 1.0) / (4 + 3))
    assert(r(0L)._1 == 2L && r(1L)._1 == 2L)
    assert(math.abs(r(0L)._2 - (w(1, 2) + w(1, 1))) < 1e-6)
    assert(math.abs(r(1L)._2 - (w(1, 2) + w(0, 1))) < 1e-6)
    // the target doc outranks the non-target doc
    assert(r(0L)._2 > r(1L)._2)
  }

  test("embedStub witnesses are exact and batch-boundary independent") {
    val media = Multimodal.mediaTable(docs)
    def collectAll(bs: Int) = Multimodal.embedStub(spark, media, bs)
      .collect().map(e => e.doc_id -> e).toMap
    val byOne = collectAll(1)
    val byBig = collectAll(1000)
    assert(byOne.keySet == byBig.keySet)
    byOne.foreach { case (id, e) => assert(e == byBig(id)) }
    // hand-check doc 0: histogram of (byte >> 4) over the text bytes
    val d0 = docs.collect().find(_.getLong(0) == 0L).get.getString(1)
    val hist = d0.getBytes("UTF-8").map(b => (b & 0xff) >> 4)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val e0 = byOne(0L)
    assert(e0.dim == 16 && e0.n_bytes == d0.length)
    assert(e0.n_bins == hist.size)
    assert(e0.c_max == hist.values.max)
    assert(e0.l2num == hist.values.map(c => c * c).sum)
  }

  // ---- perceptual image hashes (m5/m6) -----------------------------------

  test("ImageHashes: analytic edge cases — empty, constant, ramps") {
    import graft.functions.ImageHashes
    assert(ImageHashes.ahash(Array.empty[Byte]) == 0L)
    assert(ImageHashes.dhash(Array.empty[Byte]) == 0L)
    // constant payload: no cell strictly above the mean, no gradient
    val const = Array.fill[Byte](130)(42)
    assert(ImageHashes.ahash(const) == 0L)
    assert(ImageHashes.dhash(const) == 0L)
    // strictly increasing ramp: dhash compares mean(c) > mean(c+1) —
    // never true — and ahash sets exactly the upper-half cells
    val ramp = Array.tabulate[Byte](200)(i => i.toByte)
    assert(ImageHashes.dhash(ramp) == 0L)
    assert(java.lang.Long.bitCount(ImageHashes.ahash(ramp)) == 32)
    assert((ImageHashes.ahash(ramp) & 1L) == 0L) // lowest cell below mean
    // strictly decreasing ramp: every adjacent gradient is downhill
    val down = ramp.reverse
    assert(ImageHashes.dhash(down) == -1L) // all 64 bits set
  }

  test("ImageHashes: a one-byte same-length edit moves few aHash bits") {
    import graft.functions.ImageHashes
    val base = "the quick brown fox jumps over the lazy dog and then naps"
      .getBytes("UTF-8")
    val edited = base.clone(); edited(base.length - 1) = '~'.toByte
    val d = java.lang.Long.bitCount(
      ImageHashes.ahash(base) ^ ImageHashes.ahash(edited))
    assert(d <= 3, s"one-byte edit moved $d aHash bits")
  }

  test("imageNearDupPairs: banded join equals brute force on the planted " +
      "sf0.001 media corpus, and every planted image pair within 3 is found") {
    import graft.functions.ImageHashes
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = Multimodal.mediaTableWithDupes(d)
    val got = Multimodal.imageNearDupPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // driver-side brute force over the same corpus
    val hs = media.filter(col("kind") === "image")
      .select(col("doc_id"), col("media")).collect()
      .map(r => r.getLong(0) -> ImageHashes.ahash(r.getAs[Array[Byte]](1)))
    val brute = (for {
      (ia, ha) <- hs; (ib, hb) <- hs if ia < ib
      h = java.lang.Long.bitCount(ha ^ hb).toLong if h <= 3
    } yield (ia, ib, h)).toSet
    assert(got == brute, "banded join must be EXACT at distance <= 3")
    assert(brute.nonEmpty, "planted corpus must contain near-dup image pairs")
    assert(brute.exists { case (ia, ib, _) => ib == ia + 1000000L },
      "planted copies must be among the pairs")
    // only image-kind rows participate (kind rides from the original,
    // so planted ids reduce to an image-kind original mod the offset)
    assert(hs.map(_._1 % 1000000L % 3).forall(_ == 0))
  }

  test("audioEnergy: hand-checked window energies, per-doc quiet flags, " +
      "partial trailing windows dropped") {
    // doc 4 is audio-kind (4 % 3 == 1). Build a payload with one loud
    // 32-byte window ('~' = 126, d = -2... use '!' = 33, d = -95) and
    // one near-silent window ('}' = 125, d = -3), plus a 10-byte tail
    // that must NOT produce a window
    val text = "!" * 32 + "}" * 32 + "x" * 10
    val media = Multimodal.mediaTable(Seq((4L, text)).toDF("doc_id", "text"))
    val rows = Multimodal.audioEnergy(spark, media).collect()
      .map(w => w.window_idx -> (w.energy, w.quiet)).toMap
    assert(rows.size == 2, s"trailing partial window leaked: $rows")
    assert(rows(0L) == ((32L * 95 * 95, false)))
    assert(rows(1L) == ((32L * 3 * 3, true))) // 288*2 < 288800
    // non-audio kinds are excluded entirely
    val img = Multimodal.mediaTable(Seq((3L, text)).toDF("doc_id", "text"))
    assert(Multimodal.audioEnergy(spark, img).isEmpty)
  }

  test("frameDedup: planted video copies share every full frame except " +
      "any containing the perturbed last byte; canonical is the min pair") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(60)
    val out = Multimodal.frameDedup(Multimodal.mediaTableWithDupes(d))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getInt(3), r.getLong(4))).toMap
    assert(out.nonEmpty)
    val origs = out.keys.map(_._1).filter(_ < 1000000L).toSeq.distinct
    assert(origs.nonEmpty && origs.forall(_ % 3 == 2), "video kind only")
    origs.foreach { id =>
      val nFrames = out.keys.count(_._1 == id)
      // every ORIGINAL frame except possibly the last is mirrored by
      // the planted copy, so its group has >= 2 members with the
      // original as canonical
      (0 until nFrames - 1).foreach { f =>
        val (cd, cf, gs) = out((id, f))
        assert(gs >= 2 && cd <= id,
          s"frame ($id,$f) not deduped against its copy: $gs")
        // the copy points at the SAME canonical occurrence
        assert(out((id + 1000000L, f)) == ((cd, cf, gs)))
      }
    }
  }

  test("videoNearDupPairs: frame-set containment finds planted copies " +
      "and equals the brute-force frame-set answer") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(90)
    val media = Multimodal.mediaTableWithDupes(d)
    val got = Multimodal.videoNearDupPairs(media, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute-force truth over the same distinct-frame sets
    val sets = Multimodal.videoFrameSets(media).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val truth = (for {
      (ia, sa) <- sets.toSeq; (ib, sb) <- sets.toSeq if ia < ib
      inter = (sa & sb).size.toDouble
      c = math.max(inter / sa.size, inter / sb.size) if c >= 0.9
    } yield (ia, ib) -> c).toMap
    assert(got == truth, s"prefix-filtered != brute: " +
      s"missing=${truth.keySet -- got.keySet} extra=${got.keySet -- truth.keySet}")
    // every planted copy whose perturbed byte falls OUTSIDE the full
    // frames (len % 32 != 0) shares ALL frames => containment 1.0
    val texts = d.collect().map(r =>
      r.getLong(0) -> r.getAs[String]("text")).toMap
    texts.foreach { case (id, t) =>
      val n = t.getBytes("UTF-8").length
      if (id % 3 == 2 && n >= 32 && n % 32 != 0)
        assert(got.get((id, id + 1000000L)).contains(1.0),
          s"planted copy of $id (len $n) not found at containment 1.0")
    }
  }

  test("audioNearDupPairs: energy-trigram containment equals the " +
      "brute-force set answer; planted tail-perturbed copies found") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(90)
    val media = Multimodal.mediaTableWithDupes(d)
    val got = Multimodal.audioNearDupPairs(spark, media, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute-force truth: per-doc distinct energy trigrams
    val wins = Multimodal.audioEnergy(spark, media).collect()
      .groupBy(_.doc_id)
      .view.mapValues(_.sortBy(_.window_idx).map(_.energy).toSeq).toMap
    val sets = wins.collect { case (id, es) if es.length >= 3 =>
      id -> es.sliding(3).map(_.mkString(",")).toSet }
    val truth = (for {
      (ia, sa) <- sets.toSeq; (ib, sb) <- sets.toSeq if ia < ib
      inter = (sa & sb).size.toDouble
      c = math.max(inter / sa.size, inter / sb.size) if c >= 0.9
    } yield (ia, ib) -> c).toMap
    assert(truth.nonEmpty, "fixture produced no audio near pairs")
    assert(got == truth, s"prefix-filtered != brute: " +
      s"missing=${truth.keySet -- got.keySet} extra=${got.keySet -- truth.keySet}")
    // audio-kind docs only participate
    assert(got.keys.flatMap(p => Seq(p._1, p._2))
      .forall(id => id % 1000000L % 3 == 1))
  }

  test("whitenProject: whitened components have mean ~0 and variance ~1, " +
      "and wrong-dim vectors are dropped from projection as from moments") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(6)(j =>
        (rnd.nextGaussian() * (j + 1)).toFloat))
    } :+ (999L, Array(1.0f, 2.0f)) // wrong dim: must vanish
    val e = vecs.toDF("vec_id", "embedding").repartition(4)
    val w = Similarity.whitenProject(e, 6, 4)
    val rows = w.collect()
    assert(rows.length == 300 && rows.forall(_.getLong(0) != 999L))
    val comps = rows.map(_.getSeq[Double](1).toArray)
    assert(comps.forall(_.length == 4))
    (0 until 4).foreach { c =>
      val xs = comps.map(_(c))
      val mean = xs.sum / xs.length
      val v = xs.map(x => (x - mean) * (x - mean)).sum / xs.length
      assert(math.abs(mean) < 1e-9, s"comp $c mean $mean")
      assert(math.abs(v - 1.0) < 1e-6, s"comp $c variance $v")
    }
  }

  test("whitenProject/pcaProject: a null-element vector is excluded " +
      "exactly as the moments pass excludes it (r13 advice)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val good = (0 until 60).map(i => (i.toLong,
      Seq.tabulate(4)(j => Option((rnd.nextGaussian() * (j + 1)).toFloat))))
    val bad = (999L, Seq(Option(1.0f), None, Option(2.0f), Option(3.0f)))
    val e = (good :+ bad).toDF("vec_id", "embedding").repartition(3)
    val rows = Similarity.whitenProject(e, 4, 2).collect()
    assert(rows.length == 60 && rows.forall(_.getLong(0) != 999L),
      "null-element vector must vanish from the whitened output")
    // and the x10 witness stays all-green on the same corpus: pass 2
    // now counts exactly the rows the moments pass counted
    val p = Similarity.pcaProject(e, 4, 2).collect().head
    assert(p.getLong(0) == 60L, s"n_vecs=${p.getLong(0)}")
    (2 until 7).foreach(i => assert(p.getLong(i) == 1L, s"verdict col $i"))
  }

  test("ArrayNoNulls: true iff no element is null, null in -> null out") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq(Option(1.0f), Option(2.0f))),
      (1L, Seq(Option(1.0f), None)),
      (2L, Seq.empty[Option[Float]])).toDF("id", "v")
    val got = df.select(col("id"),
        graft.functions.ArrayNoNulls(col("v")).as("ok"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(0L -> true, 1L -> false, 2L -> true))
    val onNull = df.withColumn("v",
        when(col("id") === 0L, col("v")))
      .select(graft.functions.ArrayNoNulls(col("v")).as("ok"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getBoolean(0)))
    assert(onNull.count(_.isEmpty) == 2, "null array must yield null")
  }

  test("PqEncode: a too-short vector throws instead of silently " +
      "encoding out-of-bounds garbage (r13 advice)") {
    import spark.implicits._
    val books = Array(Array(Array(0.0, 0.0)), Array(Array(0.0, 0.0)))
    val df = Seq((0L, Array(0.1, 0.2, 0.3), 1.0)).toDF("id", "v", "n")
    val ex = intercept[Throwable] {
      df.select(graft.functions.PqEncode(col("v"), col("n"), books, 2)
        .as("c")).collect()
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("pq_encode"), s"unexpected failure chain: $msgs")
  }

  test("semDeDup: whiten -> cluster -> in-block near-dup recovers every " +
      "planted pair with zero false positives (the c4 witness invariant)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val base = (0 until 150).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding").repartition(4)
    val planted = Similarity.withPlantedDupes(base, rel = 0.03)
    // kComps 16 (full whiten): at 8 comps the random-direction cosine
    // tail over ~45k pairs crosses 0.9 and background pairs enter the
    // exact baseline — the same dimensionality argument that sizes the
    // c4 entry at 32 comps
    val out = Similarity.semDeDup(planted, 16, 16, 0.9).collect().head
    assert(out.getLong(0) == 150L, s"exact_pairs=${out.getLong(0)}")
    assert(out.getLong(1) == 0L, "false_pos must be 0 (exact rescoring)")
    assert(out.getLong(2) == 1L, "recall_ok must hold")
  }

  test("incrementalContainment: fresh-vs-history only, catches the " +
      "embedded-quote case Jaccard dilutes, equals the quadratic baseline") {
    val history = Seq(
      (0L, "a b c d e f g h i j k l m n o p"),
      (1L, "completely different history content here and more of it"),
      (2L, "x y z w v u t s r q")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "a b c d e f g h"), // half of doc 0: containment 1.0
      (11L, "totally novel text with no overlap at all whatsoever today")
    ).toDF("doc_id", "text")
    val r = Dedup.incrementalContainment(fresh, history, 3, 0.8).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    assert(r.toSeq == Seq((10L, 0L, 1.0)),
      s"expected only the half-doc pair, got ${r.toSeq}")
    // cross-check against the quadratic fresh x history baseline at a
    // looser threshold (catches pruning errors, not just the easy hit)
    val fs = Dedup.shingleSetsCached(fresh, 3)
    val hs = Dedup.shingleSetsCached(history, 3)
    val got = Dedup.incrementalContainmentFromSets(fs, hs, 0.1).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    val brute = fs.collect().flatMap { f =>
      hs.collect().flatMap { h =>
        val fa = f.getSeq[Long](1).toSet
        val ha = h.getSeq[Long](1).toSet
        val inter = (fa & ha).size
        val c = math.max(inter.toDouble / fa.size, inter.toDouble / ha.size)
        if (c >= 0.1) Some((f.getLong(0), h.getLong(0), c)) else None
      }
    }.toSet
    assert(got == brute, s"got $got vs brute $brute")
  }

  test("incremental containment serves the VIDEO family unchanged: " +
      "batch-vs-history frame-set pairs equal the full m11 pairs job " +
      "restricted to cross pairs (the d17 core is element-agnostic)") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val history = Multimodal.mediaTable(d)
    val all = Multimodal.mediaTableWithDupes(d)
    val fresh = all.filter(col("doc_id") >= 1000000L)
    val got = Dedup.incrementalContainmentFromSets(
        Multimodal.videoFrameSets(fresh),
        Multimodal.videoFrameSets(history), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // the full pairs job on the union, restricted to (fresh, history)
    // pairs and re-oriented fresh-first
    val full = Multimodal.videoNearDupPairs(all, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (ia, ib, _) => (ia >= 1000000L) != (ib >= 1000000L) }
      .map { case (ia, ib, c) =>
        if (ia >= 1000000L) (ia, ib, c) else (ib, ia, c) }
      .toSet
    assert(got.nonEmpty, "planted video copies must pair with history")
    assert(got == full, s"incremental ${got.size} vs full-cross ${full.size}")
  }

  test("incremental containment serves the AUDIO family unchanged: " +
      "batch-vs-history energy-trigram pairs equal the full m12 pairs " +
      "job restricted to cross pairs") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val history = Multimodal.mediaTable(d)
    val all = Multimodal.mediaTableWithDupes(d)
    val fresh = all.filter(col("doc_id") >= 1000000L)
    val got = Dedup.incrementalContainmentFromSets(
        Multimodal.audioEnvelopeSets(fresh),
        Multimodal.audioEnvelopeSets(history), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val full = Multimodal.audioNearDupPairs(spark, all, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (ia, ib, _) => (ia >= 1000000L) != (ib >= 1000000L) }
      .map { case (ia, ib, c) =>
        if (ia >= 1000000L) (ia, ib, c) else (ib, ia, c) }
      .toSet
    assert(got.nonEmpty, "planted audio copies must pair with history")
    assert(got == full, s"incremental ${got.size} vs full-cross ${full.size}")
  }

  test("prefix filter exactness at the THRESHOLD boundary: a pair at " +
      "containment exactly t with (1-t)*|A| integral is found (r13 FP " +
      "regression — floor((1-t)*|A|)+1 computed a one-short prefix)") {
    import spark.implicits._
    // |A| = |B| = 30, sharing exactly 27 -> containment 27/30 = 0.9.
    // A's three df=1 elements (28,29,30 — its misses) sort FIRST in
    // the rarest-first prefix order, so the old 3-element prefix was
    // exactly the missing set and the candidate never formed; the
    // exact 4-element prefix must include a shared element.
    val sets = Seq(
      (1L, (1L to 27L) ++ Seq(28L, 29L, 30L), 30L),
      (2L, (1L to 27L) ++ Seq(101L, 102L, 103L), 30L)
    ).toDF("id", "hs", "nsh")
    val got = Dedup.containmentPrefixPairsFromSets(sets, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 0.9)), s"got ${got.toSeq}")
  }

  test("match-count candidate filter keeps pairs whose REQUIRED overlap " +
      "is one element (r17: the k=2 count bound must relax to min(2, " +
      "ceil(t*|A|)) or a contained singleton set would vanish)") {
    import spark.implicits._
    val sets = Seq(
      (1L, Seq(5L), 1L), // |A| = 1: containment 1/1 = 1.0 via one match
      (2L, Seq(1L, 2L, 3L, 4L, 5L), 5L),
      (3L, Seq(7L, 8L), 2L) // no overlap with anything
    ).toDF("id", "hs", "nsh")
    val got = Dedup.containmentPrefixPairsFromSets(sets, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 2L, 1.0)), s"got $got")
  }

  test("incremental prefix bound: a boilerplate shingle block shared by " +
      "80% of history generates no candidates outside the prefix, and " +
      "results still equal brute force (r13 verdict skew item)") {
    import spark.implicits._
    val boiler = "all rights reserved contact us terms of service apply"
    def uniq(i: Int, seed: Int) =
      (0 until 12).map(j => s"w${seed}_${i}_$j").mkString(" ")
    val history = (0 until 50).map { i =>
      (i.toLong, if (i < 40) s"${uniq(i, 1)} $boiler" else uniq(i, 1))
    }.toDF("doc_id", "text")
    val fresh = Seq(
      (100L, s"${uniq(7, 1)} $boiler"), // near-dup of history doc 7
      (101L, s"${uniq(0, 2)} $boiler"), // boilerplate-only overlap
      (102L, uniq(1, 3))                // no overlap at all
    ).toDF("doc_id", "text")
    def brute(threshold: Double, containment: Boolean) = {
      val fs = Dedup.shingleSetsCached(fresh, 3).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
      val hs = Dedup.shingleSetsCached(history, 3).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
      (for ((fid, fa) <- fs; (hid, ha) <- hs) yield {
        val inter = (fa & ha).size.toDouble
        val sc = if (containment)
          math.max(inter / fa.size, inter / ha.size)
        else inter / (fa.size + ha.size - inter)
        (fid, hid, sc)
      }).filter(_._3 >= threshold).map(t => (t._1, t._2)).toSet
    }
    val gotJ = Dedup.incrementalNearDup(fresh, history, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotJ == brute(0.5, containment = false),
      s"jaccard: $gotJ vs ${brute(0.5, containment = false)}")
    val gotC = Dedup.incrementalContainment(fresh, history, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotC == brute(0.5, containment = true),
      s"containment: $gotC vs ${brute(0.5, containment = true)}")
    // the bound itself: the boilerplate shingles' history df is ~40,
    // far beyond the prefix of any 12-unique-word fresh doc at t=0.5,
    // so no fresh PREFIX element may have history df > the rarest
    // unique band — witnessed structurally rather than by timing
    val fsets = Dedup.shingleSetsCached(fresh, 3)
    val dfq = Dedup.setDfCached(Dedup.shingleSetsCached(history, 3))
    val prefDf = fsets
      .select(col("id"), explode(col("hs")).as("s"))
      .join(dfq, Seq("s"), "left").na.fill(0L, Seq("df"))
    val boilerDf = prefDf.agg(max(col("df"))).collect().head.getLong(0)
    assert(boilerDf >= 40L, s"fixture must carry a high-df block: $boilerDf")
    // the adaptive route (r14): BOTH the forced-prefix and the
    // forced-unpruned paths answer identically on this corpus — the
    // route is a cost decision, never a semantic one
    val hs2 = Dedup.shingleSetsCached(history, 3)
    val fs2 = Dedup.shingleSetsCached(fresh, 3)
    def pairsAt(share: Double) =
      Dedup.incrementalContainmentFromSets(fs2, hs2, 0.5, share)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.rint(r.getDouble(2) * 1e12))).toSet
    assert(pairsAt(0.0) == pairsAt(Double.MaxValue),
      "prefix and unpruned routes must answer identically")
    val gotJ2 = Dedup.incrementalJaccardFromSets(fs2, hs2, 0.5,
        Double.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotJ2 == brute(0.5, containment = false),
      "unpruned jaccard route diverged from brute force")
  }

  test("incremental containment orientation 2: a SMALL history doc " +
      "contained in a large fresh doc is found via the history-side " +
      "prefix (a fresh-only prefix provably misses it)") {
    import spark.implicits._
    // F = {1..100}; H0 = {91..99, 1000} -> inter 9, containment 9/10 =
    // 0.9. The fresh prefix (11 rarest under history-df order) is
    // {1..11} - disjoint from the overlap - so orientation 1 cannot
    // form the candidate; H0's 2-element prefix must.
    val fsets = Seq((100L, (1L to 100L).toArray, 100L))
      .toDF("id", "hs", "nsh")
    val hsets = Seq(
      (0L, ((91L to 99L) :+ 1000L).toArray, 10L),
      (1L, (2000L to 2040L).toArray, 41L)).toDF("id", "hs", "nsh")
    val got = Dedup.incrementalContainmentFromSets(fsets, hsets, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((100L, 0L)),
      s"got ${got.toSeq}")
    assert(math.abs(got.head._3 - 0.9) < 1e-12)
  }

  test("NearestCentroid native expression matches the sqDist argmin " +
      "contract (first centroid wins ties, common-prefix fold)") {
    import spark.implicits._
    val cents = Array(
      0 -> Array(0.0, 0.0), 1 -> Array(1.0, 1.0), 2 -> Array(0.0, 0.0))
    val ids = cents.map(_._1)
    val cvs = cents.map(_._2)
    val vs = Seq(
      (0L, Array(0.1, -0.1)),  // nearest 0 (2 ties at same dist -> first)
      (1L, Array(0.9, 1.2)),   // nearest 1
      (2L, Array(0.5, 0.5))    // exactly between -> centroid 0 (first)
    ).toDF("id", "v")
    val got = vs.select(col("id"),
        graft.functions.NearestCentroid(col("v"), ids, cvs).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 0))
  }

  test("NearestCentroidProbes: ascending by distance with STABLE ties " +
      "(the sortBy.take contract), bounded by centroid count") {
    import spark.implicits._
    // c0 and c2 are identical: ties must keep centroid-array order
    val cents = Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(0.0, 0.0),
      Array(2.0, 2.0))
    val ids = Array(0, 1, 2, 3)
    val vs = Seq((0L, Array(0.1, 0.0)), (1L, Array(1.9, 2.0)))
      .toDF("id", "v")
    def probesOf(nprobe: Int): Map[Long, Seq[Int]] =
      vs.select(col("id"), graft.functions.NearestCentroidProbes(
          col("v"), ids, cents, nprobe).as("p"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // reference: stable sort by squared distance
    def ref(v: Array[Double], nprobe: Int): Seq[Int] =
      ids.map { i =>
        val c = cents(i)
        (i, c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.sortBy(_._2).take(nprobe).map(_._1).toSeq
    for (np <- Seq(1, 2, 3, 4, 9)) {
      val got = probesOf(np)
      assert(got(0L) == ref(Array(0.1, 0.0), np), s"np=$np id=0 ${got(0L)}")
      assert(got(1L) == ref(Array(1.9, 2.0), np), s"np=$np id=1 ${got(1L)}")
    }
  }

  test("MinHashSig native expression equals the reference fold on " +
      "seeded random hash sets (negative hashes included)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val p = 2147483647L
    val as = Array(3L, 7L, 1234567L, 99991L)
    val bs = Array(11L, 0L, 424242L, 5L)
    val sets = (0 until 40).map { i =>
      (i.toLong, Array.fill(1 + rnd.nextInt(30))(rnd.nextLong()))
    }
    val got = sets.toDF("id", "hs").select(col("id"),
        graft.functions.MinHashSig(col("hs"), as, bs, p).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    sets.foreach { case (i, hs) =>
      val ref = Array.fill(4)(Long.MaxValue)
      hs.foreach { h0 =>
        val h = ((h0 % p) + p) % p
        (0 until 4).foreach { k =>
          val v = (as(k) * h + bs(k)) % p
          if (v < ref(k)) ref(k) = v
        }
      }
      assert(got(i) == ref.toSeq, s"set $i")
    }
  }

  test("PqEncode: nearest codeword per subspace with first-wins ties; " +
      "PqAdc sums the byte-indexed table entries") {
    import spark.implicits._
    // 2 subspaces of 2 dims; book 0 has duplicate codewords (tie)
    val books = Array(
      Array(Array(0.0, 0.0), Array(0.0, 0.0), Array(1.0, 1.0)),
      Array(Array(0.5, 0.5), Array(-0.5, -0.5)))
    val df = Seq((0L, Array(0.1, -0.1, -0.4, -0.6), 1.0)).toDF("id", "v", "n")
    val codes = df.select(graft.functions.PqEncode(
        col("v"), col("n"), books, 2).as("c"))
      .collect().head.getAs[Array[Byte]](0)
    assert(codes.toSeq == Seq(0.toByte, 1.toByte),
      s"tie must keep the FIRST codeword: ${codes.toSeq}")
    val tbl = (0 until 2 * 3).map(_.toDouble).toArray // ksub = 3
    val adc = Seq((codes, tbl)).toDF("c", "t")
      .select(graft.functions.PqAdc(col("c"), col("t"), 3).as("a"))
      .collect().head.getDouble(0)
    // code(0)=0 -> tbl(0*3+0)=0; code(1)=1 -> tbl(1*3+1)=4
    assert(adc == 4.0, s"adc=$adc")
  }

  test("SortedIntersectCount equals the set-intersection size on sorted " +
      "random long arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0 until 30).map { i =>
      val a = Array.fill(rnd.nextInt(40))(rnd.nextInt(50).toLong)
        .distinct.sorted
      val b = Array.fill(rnd.nextInt(40))(rnd.nextInt(50).toLong)
        .distinct.sorted
      (i.toLong, a, b)
    }
    val got = rows.toDF("id", "a", "b").select(col("id"),
        graft.functions.SortedIntersectCount(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (i, a, b) =>
      assert(got(i) == (a.toSet & b.toSet).size.toLong, s"row $i")
    }
  }

  test("VecMoments: native buffer equals the reference fold; wrong-dim " +
      "and null-element rows are skipped") {
    import spark.implicits._
    val data: Seq[(Long, Array[Float])] = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(-1.0f, 0.5f, 2.0f)),
      (2L, Array(1.0f, 2.0f)), // wrong dim: skipped
      (3L, Array(0.0f, 1.0f, -1.0f)))
    val df = data.toDF("id", "v").repartition(3)
    val m = df.select(graft.exec.VecMoments.moments(3,
        col("v").cast("array<float>")).as("m"))
      .head().getSeq[Double](0).toArray
    val (n, sums, tri) = graft.exec.VecMoments.split(3, m)
    val good = data.filter(_._2.length == 3).map(_._2.map(_.toDouble))
    assert(n == 3)
    (0 until 3).foreach(i =>
      assert(sums(i) == good.map(_(i)).sum, s"sum $i"))
    var k = 0
    for (i <- 0 until 3; j <- i until 3) {
      assert(tri(k) == good.map(v => v(i) * v(j)).sum, s"tri($i,$j)")
      k += 1
    }
  }

  test("StringPolyHash property: equals the HOF fold on 60 seeded " +
      "random unicode strings spanning 1/2/3/4-byte sequences") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    // code-point pools per UTF-8 width, astral plane included
    val pools = Seq(
      (0x20 to 0x7e),                   // 1-byte
      (0xa1 to 0x2ff),                  // 2-byte
      Seq(0x4e00, 0x4e8c, 0x2603, 0x20ac, 0xfb01), // 3-byte
      Seq(0x1f600, 0x1d11e, 0x10348))   // 4-byte (surrogate pairs)
    def randString(): String = {
      val sb = new StringBuilder
      (0 until rnd.nextInt(40)).foreach { _ =>
        val pool = pools(rnd.nextInt(pools.length))
        sb.appendAll(Character.toChars(
          pool.iterator.drop(rnd.nextInt(pool.size)).next()))
      }
      sb.toString
    }
    val texts = (0 until 60).map(i => (i.toLong, randString()))
    val df = texts.toDF("id", "text")
    val legacy = df.select(col("id"),
      aggregate(
        expr("transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1)))")
          .cast("array<bigint>"),
        lit(0L),
        (acc, c) => (acc * 31 + c) % TextOps.FingerprintMod).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = df.select(col("id"),
      graft.functions.StringPolyHash(col("text"), TextOps.FingerprintMod)
        .as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.foreach { case (i, t) =>
      assert(legacy(i) == native(i), s"mismatch on ${t.codePoints()
        .toArray.toSeq.map(c => f"U+$c%04X")}")
    }
  }

  test("StringPolyHash equals the HOF fold it replaced, on ascii and " +
      "multi-byte text") {
    import spark.implicits._
    val texts = Seq("", "a", "hello world", "ASCII with 0123456789",
      "schöne Grüße", "中文字符串测试", "mixed 中文 and ascii ü")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val legacy = df.select(col("id"),
      aggregate(
        expr("transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1)))")
          .cast("array<bigint>"),
        lit(0L),
        (acc, c) => (acc * 31 + c) % TextOps.FingerprintMod).as("fp"))
    val native = df.select(col("id"),
      graft.functions.StringPolyHash(col("text"), TextOps.FingerprintMod)
        .as("fp"))
    val l = legacy.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = native.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l == n, s"legacy $l vs native $n")
  }

  test("imagePHash emits %016x hex of the native expression hashes") {
    import graft.functions.ImageHashes
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50)
    val got = Multimodal.imagePHash(Multimodal.mediaTable(d)).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val texts = d.collect().map(r => r.getLong(0) -> r.getAs[String]("text")).toMap
    got.foreach { case (id, (a, dh)) =>
      assert(id % 3 == 0, "pHash applies to image-kind rows only")
      val bs = texts(id).getBytes("UTF-8")
      assert(a == f"${ImageHashes.ahash(bs)}%016x")
      assert(dh == f"${ImageHashes.dhash(bs)}%016x")
    }
    assert(got.nonEmpty)
  }

  test("AnnWitness: a null-id key group is never a hit; a null-id " +
      "approx pair is a false positive") {
    // one keyed match plus one null-id row present on BOTH sides: the
    // groupBy collects the null rows into one group, which must not
    // score as a hit (nor feed the cosine check) the way the former
    // join forms never matched null keys
    val ann = Seq((Some(1L), Some(2L), 0.9), (None, Some(3L), 0.8))
      .toDF("qid", "neighbor_id", "cos")
    val exact = Seq((Some(1L), Some(2L), 0.9), (None, Some(3L), 0.5))
      .toDF("qid", "neighbor_id", "cos")
    val t = AnnWitness.topkWitness(ann, exact, 0.75).head()
    assert(t.getAs[Long]("n_queries") == 1L)
    assert(t.getAs[Long]("ann_rows") == 2L)
    assert(t.getAs[Long]("exact_rows") == 2L)
    assert(t.getAs[Long]("recall_ok") == 0L, "null-id group counted as a hit")
    assert(t.getAs[Long]("cos_exact_ok") == 1L,
      "null-id group fed the cosine-exactness check")
    val approx = Seq((Some(1L), Some(2L)), (None, Some(3L))).toDF("ia", "ib")
    val pairs = Seq((Some(1L), Some(2L)), (None, Some(3L))).toDF("ia", "ib")
    val p = AnnWitness.pairsWitness(approx, pairs, 0.75).head()
    assert(p.getAs[Long]("exact_pairs") == 2L)
    assert(p.getAs[Long]("false_pos") == 1L,
      "null-id approx pair must count as a false positive")
    assert(p.getAs[Long]("recall_ok") == 0L, "null-id pair counted as a hit")
  }

  // ---- the one-partition gate (OnePartition) -----------------------------

  /** Shuffle exchanges in a collected frame's final plan, walking AQE
    * stages, reused exchanges, subqueries and the plans of the cached
    * relations it reads. */
  private def shuffles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case e: ShuffleExchangeExec => e.simpleString(80) +: walk(e.child)
      case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Component minimum of every id over `edges` (brute-force union-find). */
  private def components[A](ids: Seq[A], edges: Seq[(A, A)])(
      implicit ord: Ordering[A]): Map[A, A] = {
    val parent = scala.collection.mutable.Map.empty[A, A]
    (ids ++ edges.flatMap(e => Seq(e._1, e._2))).foreach(i => parent(i) = i)
    def find(x: A): A = { val p = parent(x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  /** A seeded random dedup graph: docs drawn from a small text pool
    * (exact groups) and near pairs over the first two thirds of the
    * ids (the rest stay isolated), with both orientations of some
    * pairs, repeated pairs and a self-pair. Every fourth graph has all
    * texts distinct, and every fourth an empty near set. */
  private def randomGraph(seed: Int): (Seq[(Long, String)], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val n = 1 + rnd.nextInt(30)
    val ids = rnd.shuffle((0 until n).map(i => (i * 7 + seed % 5).toLong))
    val texts =
      if (seed % 4 == 1) (0 until n).map(i => s"text $i")
      else Seq.fill(n)(s"text ${rnd.nextInt(1 + n / 3)}")
    val near =
      if (seed % 4 == 2) Nil
      else {
        val reach = math.max(1, 2 * n / 3)
        val ps = Seq.fill(rnd.nextInt(n + 1))(
          (ids(rnd.nextInt(reach)), ids(rnd.nextInt(reach))))
        ps ++ ps.take(ps.size / 3).map(_.swap) ++ ps.take(ps.size / 4) :+
          (ids(0) -> ids(0))
      }
    (ids.zip(texts), near)
  }

  /** `applyDedup` and `dupClusters` against the brute-force union-find
    * answer on one graph, under the current gate bound. */
  private def checkDedupGraph[A: Ordering: scala.reflect.runtime.universe.TypeTag](
      docs: Seq[(A, String)], near: Seq[(A, A)], what: String): Unit = {
    val docsDf = docs.toDF("doc_id", "text")
    val nearDf = near.toDF("ia", "ib")
    val ids = docs.map(_._1)
    val groups = docs.groupBy(_._2).values.map(_.map(_._1))
    val canon = groups.flatMap(g => g.map(_ -> g.min)).toMap
    val groupSize = groups.flatMap(g => g.map(_ -> g.size)).toMap
    val nearIds = near.flatMap(p => Seq(p._1, p._2)).toSet
    val survivor = components(ids, near ++ canon.toSeq.filter(e => e._1 != e._2))
    val want = ids.map(i => i -> (survivor(i), if (survivor(i) == i) 1L else 0L,
      if (groupSize(i) > 1) 1L else 0L, if (nearIds(i)) 1L else 0L)).toMap
    val got = Dedup.applyDedup(docsDf, nearDf).collect()
      .map(r => r.getAs[A](0) -> (r.getAs[A](1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length == ids.size && got.toMap == want, s"applyDedup, $what")

    val cluster = components(ids, near)
    val size = ids.groupBy(cluster).map { case (c, m) => c -> m.size.toLong }
    val clusters = Dedup.dupClusters(docsDf, nearDf).collect()
      .map(r => r.getAs[A](0) -> (r.getAs[A](1), r.getLong(2)))
    assert(clusters.length == ids.size &&
      clusters.toMap == ids.map(i => i -> (cluster(i), size(cluster(i)))).toMap,
      s"dupClusters, $what")
  }

  test("applyDedup and dupClusters equal a brute-force union-find on " +
      "seeded random graphs, on one partition and on the parallel plan") {
    for (bound <- Seq(Long.MaxValue, 0L); seed <- 0 until 12)
      OnePartition.withMaxBytes(bound) {
        val (docs, near) = randomGraph(seed)
        val what = s"seed $seed, bound $bound"
        if (seed % 3 == 0)
          checkDedupGraph(docs.map { case (i, t) => s"d$i" -> t },
            near.map { case (a, b) => (s"d$a", s"d$b") }, s"$what, string ids")
        else checkDedupGraph(docs, near, what)
      }
  }

  test("the nine pass ops plan no shuffle on one partition; the exact " +
      "ops' rows equal the parallel plan's, the cosine ops stay sound " +
      "at the recall floor on both") {
    // a seeded corpus: 300 docs of 30-59 words over a 500-word
    // vocabulary, planted exact copies and near copies (one appended
    // word), a fresh shard of near copies, and 300 Gaussian vectors
    // with one planted near-identical copy each
    val rnd = new scala.util.Random(9)
    val vocab = Seq.fill(500)(Seq.fill(3 + rnd.nextInt(5))(('a' + rnd.nextInt(26)).toChar).mkString)
    val base = (0L until 300L).map(i =>
      i -> Seq.fill(30 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val docs = (base ++ base.take(20).map { case (i, t) => (i + 1000000L, t) } ++
      base.take(40).map { case (i, t) => (i + 2000000L, t + " zzz") }).toDF("doc_id", "text")
    val fresh = base.filter(_._1 % 5 == 0)
      .map { case (i, t) => (i + 3000000L, t + " yyy") }.toDF("doc_id", "text")
    val emb = Similarity.withPlantedDupes((0L until 300L)
      .map(i => i -> Array.fill(64)(rnd.nextGaussian())).toDF("vec_id", "embedding"))
    val cosineOps = Set("lsh_cosine_pairs", "cluster_blocked_pairs")

    def pass(): Map[String, (Array[Row], Seq[String])] = {
      val near = Dedup.minhashLshPairs(docs, 3, 0.7)
      Seq(
        "quality_filter" -> (() => TextOps.qualityFilter(docs)),
        "exact_dedup" -> (() => Dedup.exactDedup(docs)),
        "minhash_lsh_pairs" -> (() => near),
        "dup_clusters" -> (() => Dedup.dupClusters(docs, near.select("ia", "ib"))),
        "apply_dedup" -> (() => Dedup.applyDedup(docs, near.select("ia", "ib"))),
        "containment_prefix_pairs" -> (() => Dedup.containmentPrefixPairs(docs, 3, 0.8)),
        "incremental_near_dup" -> (() => Dedup.incrementalNearDup(fresh, docs, 3, 0.7)),
        "lsh_cosine_pairs" -> (() => Similarity.lshCosinePairs(emb, 0.9, 64)),
        "cluster_blocked_pairs" -> (() => Similarity.clusterBlockedPairs(emb, 0.9, 64))
      ).map { case (name, op) =>
        val df = op()
        name -> (df.collect(), shuffles(df))
      }.toMap
    }
    val one = OnePartition.withMaxBytes(Long.MaxValue)(pass())
    val par = OnePartition.withMaxBytes(0L)(pass())

    one.foreach { case (name, (_, sh)) =>
      assert(sh.isEmpty, s"$name plans a shuffle on one partition: $sh")
    }
    assert(par("exact_dedup")._2.nonEmpty && par("apply_dedup")._2.nonEmpty,
      "bound 0 must keep the parallel plan")
    assert(one("minhash_lsh_pairs")._1.length > 20 &&
      one("incremental_near_dup")._1.nonEmpty, "the planted duplicates went unfound")
    one.keySet.diff(cosineOps).foreach { name =>
      assert(one(name)._1.map(_.toString).sorted.sameElements(
        par(name)._1.map(_.toString).sorted), s"$name differs between the plans")
    }
    // the approximate ops, on either plan: every pair is above the
    // threshold, and the planted pairs are found at the recall floor
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Long, b: Long) = {
      val (x, y) = (vecs(a), vecs(b))
      x.zip(y).map(p => p._1 * p._2).sum /
        math.sqrt(x.map(v => v * v).sum * y.map(v => v * v).sum)
    }
    val truth = vecs.keySet.filter(_ < 1000000L).map(i => (i, i + 1000000L))
    for (plan <- Seq(one, par); name <- cosineOps) {
      val got = plan(name)._1.map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.forall { case (a, b) => cos(a, b) >= 0.9 - 1e-9 }, s"$name unsound")
      val recall = (got & truth).size.toDouble / truth.size
      assert(recall >= 0.95, s"$name recall $recall")
    }
  }
}
