package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization / token counting, quality scoring, language
  * identification, and document fingerprinting.
  *
  * All operators are pure per-row column expressions (no UDFs except
  * where order-dependent folds demand them) — they stay inside
  * whole-stage codegen and need NO shuffle at all: at 100 TB each is a
  * single map-only pass whose cost is the parquet scan itself.
  */
object TextOps {

  /** Whitespace tokens (single-space split, empties preserved — the
    * deterministic convention shared with the oracle SQL). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish token count: runs of letters, runs of digits, and single
    * punctuation marks each count as one token — the standard cheap
    * proxy for subword-tokenizer counts. */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
  def bpeishCount(text: Column): Column = regexp_count(text, lit(BpeishPattern))

  /** Word n-gram shingles (distinct, first-occurrence order), the unit
    * for Jaccard similarity. Docs with fewer than n tokens produce an
    * empty set.
    *
    * A native Catalyst expression ([[graft.functions.WordShingles]]),
    * not a UDF and not a higher-order-function form: the declarative
    * `transform(sequence(...), i -> concat_ws(element_at(tok, i+k)...))`
    * is O(tokens²) interpreted work per document (measured 3-5 s of
    * the d2/d3 pipelines at sf0.1); a Scala UDF fixes that but pays a
    * UTF8String→String→UTF8String round trip per row and breaks the
    * codegen span. The expression stays in whole-stage codegen and
    * emits byte-range views. Tokenization matches [[tokens]]:
    * single-space split, empties preserved. */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.WordShingles.shingles(text, n)

  /** Rolling polynomial fingerprint: fold(acc*31 + code) mod P over the
    * character stream — a Rabin-Karp-style content fingerprint. P < 1e15
    * keeps acc*31+c within signed-64 range, so the fold is exact integer
    * arithmetic reproducible in any engine. Native single-pass
    * expression ([[graft.functions.StringPolyHash]], r13): the HOF
    * predecessor evaluated an interpreted lambda per character AND
    * each `substring(text, i, 1)` seek was O(i) — O(n²) per doc. */
  val FingerprintMod = 999999999999989L
  def fingerprint(text: Column): Column =
    graft.functions.StringPolyHash(text, FingerprintMod)

  /** Tiny per-language stopword profiles for the n-gram/stopword
    * language-ID heuristic. Deliberately small: the operator's job is
    * the distributed shape (map-only scoring + argmax), not lexical
    * coverage. */
  val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los", "un"),
    "fr" -> Seq("le", "la", "de", "et", "que", "en", "les", "un"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我"))

  /** All five profiles' stopword hit counts as one `array<int>` in
    * [[StopwordProfiles]] order — a single codegen'd pass over the text
    * ([[graft.functions.StopwordHits]]); every langId consumer shares
    * this one evaluation instead of 5 interpreted lambda filters. */
  def stopwordHitsVec(text: Column): Column =
    graft.functions.StopwordHits.hits(text, StopwordProfiles.map(_._2))

  /** Stopword hits for one language profile (same native single-pass
    * expression, single-profile instance). */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    element_at(graft.functions.StopwordHits.hits(text, Seq(words)), 1)

  /** Language-ID: argmax of stopword hits with deterministic lexicographic
    * tie-break; zero hits everywhere → "und" (undetermined).
    *
    * `array_position` returns the FIRST index of the max, and the
    * profiles are sorted by language code, so ties resolve to the
    * lexicographically smallest code — the same contract as the old
    * strict-`>` fold (and the oracle's CASE chain). array_max /
    * array_position are codegen'd collection expressions, not lambda
    * higher-order functions. */
  def langId(text: Column): Column = {
    val vec = stopwordHitsVec(text)
    val langs = array(StopwordProfiles.map(p => lit(p._1)): _*)
    val mx = array_max(vec)
    when(mx > 0, element_at(langs, array_position(vec, mx).cast("int")))
      .otherwise(lit("und"))
  }

  /** Language-ID confidence: [[langId]]'s prediction plus the top
    * stopword-hit count and its margin over the runner-up profile —
    * the signal a routing pipeline uses to send low-margin documents
    * to a heavier classifier instead of trusting the cheap one.
    * All-integer outputs (no float compare risk); map-only, zero
    * shuffle, scan-speed at 100 TB like the rest of the per-row ops. */
  def langConfidence(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sorted = sort_array(
      stopwordHitsVec(col(textCol)).cast("array<bigint>"), asc = false)
    docs.select(col(idCol), langId(col(textCol)).as("pred_lang"),
      element_at(sorted, 1).as("top_hits"),
      (element_at(sorted, 1) - element_at(sorted, 2)).as("margin"))
  }

  /** Quality scoring: length, punctuation ratio, stopword ratio, mean
    * token length — the standard cheap heuristics used to filter
    * training corpora. All ratios are exact integer-over-integer
    * divisions. */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val nChars = length(text).cast("double")
    val tok = tokens(text)
    val nTok = size(tok).cast("double")
    val nPunct = (length(text) -
      length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))).cast("double")
    val enHits = stopwordHits(text, StopwordProfiles.toMap.apply("en"))
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTok,
      "mean_token_len" -> (nChars - (nTok - 1)) / nTok, // chars minus spaces
      "punct_ratio" -> nPunct / nChars,
      "stopword_ratio" -> enHits.cast("double") / nTok)
  }

  // ---- deterministic corpus splitting ------------------------------------

  /** Deterministic hash bucket in [0, buckets): UNSIGNED remainder of
    * the md5-low64 of the stringified id — the cross-engine hash
    * convention ([[Dedup.tokenHash64]] == DuckDB `md5_number_lower`,
    * both reduced with unsigned %). Content- and corpus-independent,
    * so a document's bucket never changes as the corpus grows or is
    * re-sharded — the property a train/val split must have. Map-only. */
  def hashBucket(id: Column, buckets: Int): Column = {
    val u = udf { (s: String) =>
      java.lang.Long.remainderUnsigned(Dedup.tokenHash64(s), buckets.toLong)
    }
    u(id.cast("string"))
  }

  /** Train/val/test split by hash bucket over 1000: [0,900) train,
    * [900,950) val, rest test. One map-only pass, zero shuffle. */
  def hashSplit(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val b = hashBucket(col(idCol), 1000)
    docs.select(col(idCol), b.as("bucket"),
      when(b < 900, "train").when(b < 950, "val").otherwise("test")
        .as("split"))
  }

  /** GPT-style sequence packing: documents are laid end-to-end in id
    * order WITHIN A SHARD and cut into fixed `budget`-token sequences;
    * a document occupying token offsets [start, start+nt) spans
    * sequences [first_seq, last_seq] (split across the cut, the
    * standard pack-then-slice pretraining layout). The running sum is
    * windowed PER SHARD — per-shard packing IS the distributed
    * formulation (a single global order would put every row in one
    * window partition, and carries no training-relevant meaning
    * anyway): shards pack in parallel, each emitting its own sequence
    * numbering. */
  def packSequences(docs: DataFrame, budget: Int, shards: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nt = size(tokens(col(textCol))).cast("long")
    val sharded = docs.select(col(idCol),
      hashBucket(col(idCol), shards).as("shard"), nt.as("n_tokens"))
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sharded
      .withColumn("_cum", sum(col("n_tokens")).over(w))
      .select(col(idCol), col("shard"), col("n_tokens"),
        (col("_cum") - col("n_tokens")).as("start_tok"),
        expr(s"(_cum - n_tokens) DIV $budget").as("first_seq"),
        expr(s"(_cum - 1) DIV $budget").as("last_seq"))
  }

  /** Benchmark decontamination: per-document count of DISTINCT word
    * n-grams that appear in a blocklist (e.g. eval-benchmark shingles).
    * The blocklist — typically ≤10⁶ n-grams — broadcasts; the corpus
    * side is one map pass (shingle explode) plus a partial-aggregated
    * count, so the only shuffle is (id, hits) partials. Documents with
    * zero hits are retained (left join) — the downstream filter wants
    * every doc labeled. */
  def contamination(docs: DataFrame, blocklist: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = docs.select(col(idCol),
      explode(wordShingles(col(textCol), n)).as("s"))
    val hits = sh.join(broadcast(blocklist.select(col("s")).distinct()), "s")
      .groupBy(col(idCol)).agg(count(lit(1)).as("hits"))
    docs.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("hits"), lit(0L)).as("contaminated_ngrams"),
        (coalesce(col("hits"), lit(0L)) > 0).cast("long").as("contaminated"))
  }

  /** Per-document n-gram repetition statistics — the Gopher-style
    * repetition quality signals (duplicate n-gram fraction and
    * most-frequent-n-gram mass) used to drop boilerplate/spam from
    * training corpora. One pass over the token stream per document with
    * a counting hash map (a loop UDF for the same O(tokens²)-lambda
    * reason as [[wordShingles]]); map-only, zero shuffle — at 100 TB
    * the cost is the pruned column scan. Returns
    * struct(total, distinct, top): total n-gram occurrences, distinct
    * n-grams, and the count of the most frequent n-gram. Docs with
    * fewer than n tokens return (0, 0, 0). */
  def repetitionStats(text: Column, n: Int): Column = {
    val u = udf { (text: String) =>
      if (text == null) (0L, 0L, 0L)
      else {
        val t = text.split(" ", -1)
        if (t.length < n) (0L, 0L, 0L)
        else {
          val counts = new java.util.HashMap[String, Long]
          var top = 0L
          var i = 0
          while (i + n <= t.length) {
            val sb = new java.lang.StringBuilder(t(i))
            var k = 1
            while (k < n) { sb.append(' ').append(t(i + k)); k += 1 }
            val c = counts.merge(sb.toString, 1L, (a, b) => a + b)
            if (c > top) top = c
            i += 1
          }
          ((t.length - n + 1).toLong, counts.size.toLong, top)
        }
      }
    }
    u(text).cast("struct<total:bigint,distinct:bigint,top:bigint>")
  }

  /** Repetition-signal projection: duplicate and top-n-gram fractions
    * for n = 1 (words), 2, 3. Zero-token edge cases yield 0.0 so every
    * document is labeled. */
  def repetitionSignals(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val cols = Seq(1, 2, 3).flatMap { n =>
      val s = repetitionStats(col(textCol), n)
      val total = s.getField("total").cast("double")
      val dup = when(s.getField("total") > 0,
        lit(1.0) - s.getField("distinct").cast("double") / total)
        .otherwise(0.0)
      val topf = when(s.getField("total") > 0,
        s.getField("top").cast("double") / total).otherwise(0.0)
      val tag = if (n == 1) "word" else s"${n}gram"
      Seq(dup.cast("float").as(s"dup_${tag}_frac"),
        topf.cast("float").as(s"top_${tag}_frac"))
    }
    docs.select(col(idCol) +: cols: _*)
  }

  /** Corpus TF-IDF: one row per (document, distinct token) with the
    * term frequency, document frequency, and tf·ln(N/df) weight.
    *
    * Plan shape at 100 TB: the only full-volume shuffle is the
    * (doc, token) inverted index feeding the tf hash-aggregate
    * (map-side combined); document frequency re-aggregates the
    * ALREADY-REDUCED tf table by token (vocabulary-sized), and the
    * corpus size N is a scalar aggregate that broadcasts. The df-side
    * join is broadcast when the vocabulary fits (typical: ≤10⁷ terms)
    * and falls back to an AQE shuffle join on the token key otherwise —
    * both sides are post-aggregation volumes, never raw token streams. */
  def tfidf(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // materialize tf once (r10, the bm25 lesson): it feeds the df
    // aggregate AND the weight join, and without the boundary Catalyst
    // re-plans the explode subtree per consumer — the executed plan
    // held multiple full corpus scans with no exchange reuse (pruning
    // makes the duplicated exchanges unequal). tf is the operator's
    // own output volume, so one MEMORY_AND_DISK copy is the floor cost
    // of emitting the result at all. The boundary is a LAZY cache()
    // through the bounded LRU (r11, replacing an eager
    // localCheckpoint): lineage survives, so an executor loss
    // RECOMPUTES the lost blocks instead of failing the query, no job
    // runs at plan-construction time, and eviction unpersists — the
    // long-running-server lifecycle the checkpoint blocks lacked.
    val tf = tfCache.computeIfAbsent(
      (docs.select(col(idCol), col(textCol))
        .queryExecution.analyzed.canonicalized, Nil),
      _ => docs
        .select(col(idCol), explode(tokens(col(textCol))).as("token"))
        .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
        .cache())
    val df_ = tf.groupBy(col("token")).agg(count(lit(1)).as("doc_freq"))
    val n = docs.agg(count(lit(1)).as("_n"))
    tf.join(broadcast(df_), "token")
      .crossJoin(broadcast(n))
      .select(col(idCol), col("token"), col("tf"), col("doc_freq"),
        (col("tf").cast("double") *
          log(col("_n").cast("double") / col("doc_freq").cast("double")))
          .cast("float").as("tfidf"))
  }

  /** BM25 relevance of every document against a fixed query-term set
    * (Robertson–Spärck Jones, the Lucene `+1` idf variant that keeps
    * scores positive when df > N/2):
    * score = Σ_t ln((N − df + 0.5)/(df + 0.5) + 1) ·
    *         tf(k1+1) / (tf + k1(1 − b + b·dl/avgdl)).
    * The pipeline use is decontamination-adjacent retrieval: score the
    * corpus against an eval-set query and audit (or drop) the head.
    * Distributed shape: doc length rides the SAME tokenize pass as the
    * term filter (no per-doc length join back to the corpus), the
    * explode is filtered to the query terms BEFORE the per-doc
    * aggregate so the shuffle carries only matching tokens, df
    * re-aggregates the already-reduced tf table (≤ |terms| rows) and
    * broadcasts, and N/avgdl is one scalar aggregate broadcast by the
    * cross join. Output is one row per matching document — never a
    * corpus × vocabulary product. The per-doc term sum collapses under
    * the REAL cast like t20's avg (≤ |terms| addends). */
  def bm25(docs: DataFrame, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val terms = queryTerms.distinct
    val tok = docs.select(col(idCol),
      tokens(col(textCol)).as("_tk"))
    val stats = tok.agg(count(lit(1)).as("_n"),
      avg(size(col("_tk")).cast("double")).as("_avgdl"))
    // MATERIALIZE the tf table once: it feeds both the df aggregate
    // and the final score join, and without the boundary Catalyst
    // re-plans the subtree per consumer — the executed plan re-scanned
    // the corpus FOUR times (column pruning makes the duplicated
    // exchanges unequal, so AQE reuse never fires). tf is output-sized
    // (≤ |matching docs| × |terms| rows), so the materialized copy is
    // trivially small at any corpus scale, and the operator drops to
    // TWO corpus scans: this one and the N/avgdl stats aggregate
    // (which must see non-matching docs). Lazy cache() via the bounded
    // LRU, not localCheckpoint (r11): lineage-preserving (executor
    // loss recomputes), no plan-construction-time job, eviction
    // unpersists.
    val tf = tfCache.computeIfAbsent(
      (docs.select(col(idCol), col(textCol))
        .queryExecution.analyzed.canonicalized, terms.sorted),
      _ => tok
        .select(col(idCol), size(col("_tk")).cast("long").as("dl"),
          explode(col("_tk")).as("token"))
        .where(col("token").isin(terms: _*))
        .groupBy(col(idCol), col("dl"), col("token"))
        .agg(count(lit(1)).as("tf"))
        .cache())
    val df_ = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val idf = log((col("_n").cast("double") - col("df") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val norm = col("tf").cast("double") * (lit(k1) + 1.0) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") /
          col("_avgdl")))
    tf.join(broadcast(df_), "token")
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol), col("dl"))
      .agg(count(lit(1)).cast("long").as("matched_terms"),
        sum(idf * norm).cast("float").as("bm25"))
      .select(col(idCol), col("dl"), col("matched_terms"), col("bm25"))
  }

  /** Global top-k term frequencies (vocabulary head). Token explode →
    * hash-aggregated counts (map-side combine) → the bounded-heap
    * top-k aggregator ([[graft.exec.TopK]]) as a partial+merge global
    * aggregate: every map task contributes at most 2k rows, so the
    * final gather is O(k · tasks) — never a global sort of the
    * vocabulary. Ties break on the token string, deterministically. */
  def topTerms(docs: DataFrame, k: Int,
      textCol: String = "text"): DataFrame = {
    val counts = docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    counts
      .agg(graft.exec.TopK.topk(k, desc = true)(col("cnt").cast("double"),
        col("token"), lit(0L), col("cnt").cast("double")).as("_w"))
      .select(explode(col("_w")).as("_e"))
      .select(col("_e.tie").as("token"), col("_e.v").cast("long").as("cnt"))
  }

  /** Deterministic per-stratum hash sampling: keep a row iff its id's
    * hash bucket ([[hashBucket]] over 1000, the unsigned md5-low64
    * cross-engine convention) falls below the stratum's keep-rate in
    * permille — the standard tool for rebalancing the source/language
    * mix of a training corpus. Map-only, zero shuffle, and a pure
    * function of the id: re-running over a grown corpus never flips a
    * previously kept document, so downstream shards stay append-only.
    * `rates` is ordered (first match wins) to keep the plan
    * deterministic regardless of map iteration order. */
  def stratifiedSample(docs: DataFrame, strataCol: String,
      rates: Seq[(String, Int)], defaultPermille: Int,
      idCol: String = "doc_id"): DataFrame = {
    val rate = rates.reverse.foldLeft(lit(defaultPermille)) {
      case (acc, (k, permille)) =>
        when(col(strataCol) === k, lit(permille)).otherwise(acc)
    }
    docs.filter(hashBucket(col(idCol), 1000) < rate)
  }

  /** Temperature-style source balancing — the data-mixing lever that
    * flattens source skew in a training mixture (α = 0.5 "temperature
    * sampling" of XLM / The Pile, expressed per-stratum): a stratum
    * holding c docs keeps each doc with rate min(1, k/√c), so its
    * sampled mass grows ∝ √c instead of c and no stratum needs a
    * hand-tuned rate. The keep decision is the deterministic
    * md5-low64 ppm bucket of the id (the [[hashBucket]] convention):
    * content- and corpus-independent, so growing one stratum never
    * flips another's documents and re-runs are idempotent. The ppm
    * threshold is computed from √, one division and one
    * multiplication — all correctly-rounded IEEE ops, so any engine
    * derives the same integer (a Σcᵅ-normalized weight would hang the
    * threshold on an order-dependent float SUM instead). Cost: one
    * stratum-count aggregate (strata × 1 row, broadcast back) + a
    * map-only pass — scan-speed at 100 TB.
    *
    * The result is a per-doc KEEP-DECISION table, not the filtered
    * mixture: (id, stratum, src_docs, keep_ppm, keep), one row per
    * input doc, no document payload columns. Join back on `idCol` and
    * filter `keep = 1` to materialize the mixture (unlike
    * [[stratifiedSample]], which filters in place) — the decision
    * table is the auditable artifact a pipeline wants to persist. */
  def sourceMix(docs: DataFrame, k: Double, strataCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val counts = docs.groupBy(col(strataCol))
      .agg(count(lit(1)).as("src_docs"))
      .withColumn("keep_ppm",
        least(lit(1000000L),
          floor(lit(k) / sqrt(col("src_docs")) * lit(1000000.0))
            .cast("long")))
    docs.select(col(idCol), col(strataCol))
      .join(broadcast(counts), Seq(strataCol))
      .select(col(idCol), col(strataCol), col("src_docs"), col("keep_ppm"),
        (hashBucket(col(idCol), 1000000) < col("keep_ppm")).cast("long")
          .as("keep"))
  }

  /** URL host pattern (capture group 1 = domain). RE2-compatible: the
    * same pattern string runs unchanged in DuckDB. */
  val UrlPattern = "https?://([A-Za-z0-9.-]+)"

  /** Per-domain URL statistics: extract every URL host, explode, count
    * occurrences and distinct documents per domain. The explode is
    * map-side; the shuffle carries (domain, doc) pairs for the distinct
    * count plus map-side-combined occurrence partials — bounded by the
    * distinct (domain, doc) set, never the raw text volume. Domain
    * cardinality is web-scale bounded (~10⁸), so the aggregate itself
    * never skews a single reducer beyond one domain's doc list. */
  def domainStats(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
        explode(regexp_extract_all(col(textCol), lit(UrlPattern), lit(1)))
          .as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        count_distinct(col(idCol)).as("n_docs"))

  /** E-mail / phone patterns for PII scrubbing. RE2-compatible (no
    * backreferences, no lookaround) so the DuckDB oracle runs the
    * identical pattern; both engines use leftmost greedy matching. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "555-[0-9]{4}"

  /** PII scrubbing columns: match counts plus the md5 of the redacted
    * text — an engine-portable exact witness that the rewrite produced
    * byte-identical output. Pure per-row regexp work: map-only, full
    * codegen, scan-speed at 100 TB. */
  def redactPii(text: Column): Seq[(String, Column)] = {
    val redacted = regexp_replace(
      regexp_replace(text, EmailPattern, "[EMAIL]"),
      PhonePattern, "[PHONE]")
    Seq(
      "n_emails" -> regexp_count(text, lit(EmailPattern)).cast("long"),
      "n_phones" -> regexp_count(text, lit(PhonePattern)).cast("long"),
      "redacted_md5" -> md5(redacted.cast("binary")))
  }

  /** Per-stratum corpus statistics: document count, token-count mean
    * and EXACT interpolated p50/p90 (the same exact-percentile
    * semantics as PromQL quantile — never percentile_approx, which is
    * neither deterministic nor oracle-comparable). One hash aggregate
    * keyed by the stratum; the percentile buffer holds (value → count)
    * entries, bounded by the DISTINCT token counts (≤ max document
    * length), not by group row count — safe for billion-document
    * strata. */
  def corpusStats(docs: DataFrame, strataCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    val nTok = size(tokens(col(textCol))).cast("double")
    docs.select(col(strataCol), nTok.as("_nt"))
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        avg(col("_nt")).cast("float").as("mean_tokens"),
        percentile(col("_nt"), lit(0.5)).cast("float").as("p50_tokens"),
        percentile(col("_nt"), lit(0.9)).cast("float").as("p90_tokens"))
  }

  /** DSIR-style importance score for data selection: the add-1-smoothed
    * unigram log-likelihood ratio of a target distribution against the
    * whole corpus,
    * `Σ_occurrences ln((tc+1)/(Tt+V)) − ln((cc+1)/(Tc+V))`,
    * where tc/cc are the token's target/corpus counts, Tt/Tc the
    * respective token totals, and V the corpus vocabulary size. Docs
    * resembling the target (rows where `isTarget` holds) score high;
    * sampling ∝ score is the importance-resampling recipe for steering
    * a pretraining mix toward a target domain.
    *
    * Plan shape at 100 TB: ONE full-volume shuffle (the token explode
    * feeding a hash aggregate that computes target and corpus counts
    * together, map-side combined); the totals are a 1-row broadcast and
    * the per-token weight table is vocabulary-sized — broadcast onto a
    * second map-only pass over the token stream, then the per-doc sum
    * rides the same hash aggregation as every other per-doc reduce. */
  def importanceScore(docs: DataFrame, isTarget: Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol), isTarget.as("_t"),
      explode(tokens(col(textCol))).as("tk"))
    val counts = tok.groupBy(col("tk")).agg(
      count(lit(1)).as("cc"),
      sum(when(col("_t"), 1L).otherwise(0L)).as("tc"))
    val tot = counts.agg(sum(col("cc")).as("tcAll"),
      sum(col("tc")).as("tcT"), count(lit(1)).as("v"))
    val w = counts.crossJoin(broadcast(tot)).select(col("tk"),
      (log((col("tc") + 1).cast("double") /
          (col("tcT") + col("v")).cast("double")) -
        log((col("cc") + 1).cast("double") /
          (col("tcAll") + col("v")).cast("double"))).as("wt"))
    tok.join(broadcast(w), "tk")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("wt")).cast("float").as("score"))
  }

  /** Composite quality filter — the C4/Gopher-style rule stack that
    * turns the individual signals into a keep/drop decision, one flag
    * column per rule so downstream can audit WHY a document dropped:
    *
    *   - `too_short`: fewer than `minTokens` whitespace tokens
    *   - `high_punct`: punctuation ratio above `maxPunctRatio`
    *   - `low_stopword`: English stopword ratio below
    *     `minStopwordRatio` (the classic gibberish/word-soup signal)
    *   - `lang_filtered`: language-ID outside `allowedLangs`
    *   - `repetitive`: duplicate-word fraction above `maxDupWordFrac`
    *     or most-frequent-bigram mass above `maxTop2gramFrac`
    *
    * `kept` = 1 iff no rule fired. Every input is a map-only column
    * expression ([[qualityColumns]], [[langId]], [[repetitionStats]]),
    * so the whole filter is one shuffle-free pass — at 100 TB the cost
    * is the pruned column scan, and the filter composes with
    * [[stratifiedSample]]/[[hashSplit]] in the same stage. Thresholds
    * compare doubles computed by formulas mirrored verbatim in the
    * oracle, so the 0/1 flags are exactly reproducible. */
  def qualityFilter(docs: DataFrame, allowedLangs: Seq[String] = Seq("en"),
      minTokens: Int = 20, maxPunctRatio: Double = 0.2,
      minStopwordRatio: Double = 0.02, maxDupWordFrac: Double = 0.65,
      maxTop2gramFrac: Double = 0.10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val q = qualityColumns(text).toMap
    val r1 = repetitionStats(text, 1)
    val r2 = repetitionStats(text, 2)
    val dupWord = when(r1.getField("total") > 0,
      lit(1.0) - r1.getField("distinct").cast("double") /
        r1.getField("total").cast("double")).otherwise(0.0)
    val top2 = when(r2.getField("total") > 0,
      r2.getField("top").cast("double") /
        r2.getField("total").cast("double")).otherwise(0.0)
    val fShort = (q("n_tokens") < minTokens).cast("long")
    val fPunct = (q("punct_ratio") > maxPunctRatio).cast("long")
    val fStop = (q("stopword_ratio") < minStopwordRatio).cast("long")
    val fLang = (!langId(text).isInCollection(allowedLangs)).cast("long")
    val fRep = (dupWord > maxDupWordFrac || top2 > maxTop2gramFrac)
      .cast("long")
    OnePartition.text(docs).select(col(idCol),
      fShort.as("too_short"), fPunct.as("high_punct"),
      fStop.as("low_stopword"), fLang.as("lang_filtered"),
      fRep.as("repetitive"),
      (fShort + fPunct + fStop + fLang + fRep === 0).cast("long").as("kept"))
  }

  /** Cross-document n-gram overlap — the memorization/novelty scan:
    * for each doc, the fraction of its DISTINCT word n-grams that
    * appear in at least one OTHER document. High fractions mark
    * boilerplate and near-copies that pair-level dedup misses (a doc
    * stitched from many sources shares most n-grams yet pairs with
    * none of them above a Jaccard threshold).
    *
    * Plan shape at 100 TB: one explode of the per-doc distinct
    * shingle-hash sets (8-byte keys, reusing [[Dedup.shingleSetsCached]]'s
    * aggregation), a vocabulary-sized document-frequency aggregate
    * (map-side combined), an equi-join back on the hash, and the
    * per-doc reduce — two shuffles total, both on 8-byte keys, no row
    * ever carries text. Docs with fewer than n tokens have no
    * shingles and report (0, 0, 0.0). */
  def crossOverlap(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sets = Dedup.shingleSetsCached(docs, n, idCol, textCol)
    val post = sets.select(col("id"), explode(col("hs")).as("h"))
    val dfreq = post.groupBy(col("h")).agg(count(lit(1)).as("_df"))
    val per = post.join(dfreq, "h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_df") >= 2, 1L).otherwise(0L)).as("shared"))
    docs.select(col(idCol))
      .join(per.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("shared"), lit(0L)).as("shared"),
        when(col("n_shingles").isNull, 0.0)
          .otherwise(col("shared").cast("double") /
            col("n_shingles").cast("double"))
          .cast("float").as("shared_frac"))
  }

  /** Fixed-size token chunking with overlap — the RAG/pretraining
    * chunker: chunk i covers tokens `[i·(size−overlap), …+size)`, so
    * consecutive chunks share `overlap` tokens; the last chunk may be
    * short. One map-only explode (row count multiplies by ~n/stride,
    * bytes by ~size/stride); the chunk text is witnessed by its md5
    * (engine-portable) plus offsets, so downstream can slice lazily.
    * Chunk identity is a pure function of (doc, offsets) — re-chunking
    * a grown corpus never renumbers existing chunks. */
  def chunk(docs: DataFrame, chunkTokens: Int, overlap: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      "overlap must be in [0, chunkTokens)")
    val stride = chunkTokens - overlap
    val tok = tokens(col(textCol))
    docs
      .select(col(idCol), tok.as("_tk"))
      .select(col(idCol), col("_tk"),
        explode(sequence(lit(0), size(col("_tk")) - 1, lit(stride)))
          .as("start_tok"))
      .select(col(idCol),
        (col("start_tok") / stride).cast("long").as("chunk_idx"),
        col("start_tok").cast("long"),
        least(lit(chunkTokens), size(col("_tk")) - col("start_tok"))
          .cast("long").as("chunk_tokens"),
        md5(concat_ws(" ",
          slice(col("_tk"), col("start_tok") + 1, lit(chunkTokens)))
          .cast("binary")).as("chunk_md5"))
  }

  /** CCNet-style n-gram language-model quality scoring: train an
    * add-one-smoothed BIGRAM model on the corpus's deterministic
    * `train` hash split ([[hashSplit]]'s < 900‰ convention), then
    * score EVERY document by its average token log-probability under
    * that model (low = out-of-distribution text — boilerplate,
    * gibberish, wrong language; the public CCNet pipeline ranks CC
    * documents by exactly this signal, with a wiki-trained KenLM in
    * place of the bigram table).
    *
    * Distributed shape, linear end-to-end: training is one explode +
    * count shuffle keyed on the bigram (the map-side combine does the
    * heavy lifting — the shuffled volume is the model's DISTINCT
    * bigram vocabulary, not the token stream); context totals derive
    * from the bigram table by a second tiny keyed count; scoring
    * re-explodes the corpus and equi-joins the model on the bigram
    * key (AQE broadcasts it when small; at 100 TB it is an ordinary
    * shuffle join keyed on (context, word) — never all-pairs) and
    * folds per doc. The vocabulary size enters as a broadcast
    * one-row frame, keeping the whole computation one lazy plan.
    *
    * P(w|c) = (C(c,w) + 1) / (C(c) + V) with V = distinct train
    * words; unseen contexts degrade to 1/V. `<s>` is the
    * begin-of-document context. Output: (doc_id, n_tokens,
    * avg_logp float32).
    */
  def lmScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol), tokens(col(textCol)).as("_tk"))
    val train = tok.filter(hashBucket(col(idCol), 1000) < 900)
    // (context, word) pairs: contexts are the tokens shifted right
    // with <s> in front — materialized as plain columns BEFORE any
    // join (lambda-bearing exprs must never reach join keys)
    def bigrams(df: DataFrame): DataFrame = df
      .select(col(idCol), col("_tk"),
        posexplode(col("_tk")).as(Seq("_i", "w")))
      .withColumn("c",
        when(col("_i") === 0, lit("<s>"))
          .otherwise(element_at(col("_tk"), col("_i"))))
      .select(col(idCol), col("c"), col("w"))
    val model = bigrams(train)
      .groupBy(col("c"), col("w")).agg(count(lit(1)).as("n"))
    // context totals AND the vocabulary size both derive from the
    // model table (every train token is the w of exactly one bigram,
    // so distinct w in the model IS the train vocabulary): all three
    // model-side consumers sit on one (c, w) exchange, which AQE
    // reuses — the train corpus is scanned ONCE for training, not
    // once per derived statistic
    val ctx = model.groupBy(col("c")).agg(sum(col("n")).as("nc"))
    // plan-audited: the ctx branch reuses the model's (c, w) exchange
    // (ReusedExchange), so training scans the corpus twice (model +
    // this vocabulary count), scoring once — a deployment scoring
    // repeatedly against one model should persist the model/ctx/vocab
    // tables, the normal train-once-score-many split
    val vocab = model.select(col("w")).distinct()
      .agg(count(lit(1)).as("v"))
    bigrams(tok)
      .join(model, Seq("c", "w"), "left")
      .join(ctx, Seq("c"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("_lp", log(
        (coalesce(col("n"), lit(0L)) + lit(1.0)) /
          (coalesce(col("nc"), lit(0L)) + col("v"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        avg(col("_lp")).cast("float").as("avg_logp"))
  }

  /** One byte-pair-encoding merge-count iteration — the inner step of
    * tokenizer training (Sennrich et al.'s BPE: repeatedly merge the
    * most frequent adjacent symbol pair): count every adjacent
    * CHARACTER pair weighted by word frequency and return the top-k
    * candidates. The decisive scale property: pairs are enumerated
    * over the DISTINCT word vocabulary (output of the word-count
    * shuffle, ~√corpus), each weighted by its count — never over the
    * token stream itself — so the expensive substring explosion runs
    * on vocabulary-sized input. Final gather reuses the bounded-heap
    * top-k aggregator (O(k·tasks), no global sort); ties break on the
    * pair string, matching the oracle's ORDER BY cnt DESC, pair. */
  def bpePairCounts(docs: DataFrame, k: Int,
      textCol: String = "text"): DataFrame = {
    val wc = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val pairs = wc
      .filter(length(col("w")) >= 2)
      .select(col("w"), col("n"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("_i"))
      .select(expr("substring(w, _i, 2)").as("pair"), col("n"))
      .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
    pairs
      .agg(graft.exec.TopK.topk(k, desc = true)(col("cnt").cast("double"),
        col("pair"), lit(0L), col("cnt").cast("double")).as("_w"))
      .select(explode(col("_w")).as("_e"))
      .select(col("_e.tie").as("pair"), col("_e.v").cast("long").as("cnt"))
  }

  /** Iterated BPE merge training (the Sennrich-2016 tokenizer-training
    * loop on top of [[bpePairCounts]]'s single step): `rounds` times,
    * count adjacent SYMBOL pairs over the word vocabulary weighted by
    * corpus frequency, pick the most frequent pair (count DESC, pair
    * ASC — fully deterministic), and merge its leftmost-first
    * non-overlapping occurrences into one symbol. Output: one row per
    * round, (merge_round, pair, cnt).
    *
    * Words live as marker-wrapped symbol strings
    * `⟨h⟩ ⟨e⟩ ⟨l⟩ ⟨l⟩ ⟨o⟩` (⟨ = \\u0001, ⟩ = \\u0002 — absent from any
    * text corpus), which makes merge application a plain string
    * `replace("⟨a⟩ ⟨b⟩" → "⟨ab⟩")`: the markers prevent false matches
    * inside longer symbols, and replace's left-to-right non-overlap
    * scan IS BPE's leftmost-first rule (verified identical in Spark
    * and DuckDB for the `aaaa → (aa)(aa)` run case). No UDF, no
    * recursion, engine-portable.
    *
    * Scale shape: everything after the first `(word, n)` aggregate is
    * VOCABULARY-sized — the per-round pair count is a hash aggregate
    * over ~|vocab|·|word| rows, the top-1 is a 1-row driver action,
    * and the merge is a map-only column rewrite. `rounds` is small by
    * construction (a tokenizer trains thousands of merges over a
    * sampled vocabulary, not the corpus), so the driver loop is the
    * honest shape, exactly like the reference trainers. The lambda in
    * pair generation evaluates interpreted, which is irrelevant at
    * vocabulary cardinality. */
  def bpeMerges(docs: DataFrame, rounds: Int,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    learnBpeMerges(docs, rounds, textCol).zipWithIndex
      .map { case ((pr, cnt), i) =>
        (i + 1, pr.replace(markS, "").replace(markE, ""), cnt) }
      .toDF("merge_round", "pair", "cnt")
  }

  private[llm] val markS = "\u0001"
  private[llm] val markE = "\u0002"

  /** Marker-wrapped symbol encoding of a word column. */
  private def wrapSyms(w: Column): Column = array_join(
    transform(split(w, ""), c => concat(lit(markS), c, lit(markE))), " ")

  /** Merging ⟨a⟩ ⟨b⟩ → ⟨ab⟩ drops the inner end/start marker pair. */
  private def mergedForm(pr: String): String =
    pr.replace(markE + " " + markS, "")

  /** The training loop shared by [[bpeMerges]] (reports the merges)
    * and [[bpeEncode]] (applies them): the chosen MARKER-WRAPPED pair
    * strings in training order, with their counts. */
  private[llm] def learnBpeMerges(docs: DataFrame, rounds: Int,
      textCol: String): Seq[(String, Long)] = {
    // materialize the vocabulary ONCE: it is the only corpus-volume
    // pass, and every round's re-count would otherwise re-run the
    // token explode + aggregate through lineage (3 corpus scans for 3
    // rounds at 100 TB); the checkpointed artifact is vocabulary-sized
    val vocab0 = docs.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(wrapSyms(col("w")).as("s"), col("n"))
      .localCheckpoint(true)
    var vocab = vocab0
    val out = Seq.newBuilder[(String, Long)]
    try for (_ <- 1 to rounds) {
      val top = vocab
        .select(col("n"), split(col("s"), " ").as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(sy) - 1), " +
            "i -> concat(element_at(sy, i), ' ', element_at(sy, i + 1)))"))
          .as("pr"))
        .groupBy(col("pr")).agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("pr"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val pr = top(0).getString(0)
        out += ((pr, top(0).getLong(1)))
        vocab = vocab.withColumn("s",
          replace(col("s"), lit(pr), lit(mergedForm(pr))))
      }
    } finally vocab0.queryExecution.analyzed.foreach {
      // free the checkpoint blocks once the merges are chosen
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }
    out.result()
  }

  /** BPE ENCODE: train `rounds` merges ([[learnBpeMerges]]) and apply
    * them to the whole corpus, reporting per-document word / char /
    * post-merge token counts — the tokenizer-application step that
    * turns t28's training into corpus statistics (how much the learned
    * vocabulary compressed each document).
    *
    * Scale shape: the merges are applied on the DISTINCT-WORD table
    * (vocabulary-sized, where the interpreted char-split lambda is
    * irrelevant), and the corpus pass is one explode + BROADCAST join
    * on the word — the per-document aggregate is the only shuffle, so
    * at 100 TB this costs the same as any token-count pass. Merges
    * train on ≥2-char words but apply to every non-empty word (a
    * 1-char word is a single symbol no pair can touch). */
  def bpeEncode(docs: DataFrame, rounds: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val merges = learnBpeMerges(docs, rounds, textCol)
    var enc = docs.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1).distinct()
      .withColumn("s", wrapSyms(col("w")))
    merges.foreach { case (pr, _) =>
      enc = enc.withColumn("s",
        replace(col("s"), lit(pr), lit(mergedForm(pr))))
    }
    val wtok = enc.select(col("w"),
      length(col("w")).cast("long").as("_wc"),
      size(split(col("s"), " ")).cast("long").as("_wt"))
    docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
      .join(broadcast(wtok), Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("_wc")).as("n_chars"),
        sum(col("_wt")).as("n_tokens"))
  }

  /** Per-document unigram Shannon entropy (bits) over whitespace
    * tokens, with token/type counts — the classic lexical-diversity
    * quality signal (low entropy ⇒ repetitive boilerplate, the same
    * family of filters CCNet/Gopher apply before LM scoring).
    *
    * Entropy is computed from per-doc token counts via the identity
    * H = log2(N) − (Σ n·log2 n)/N, so the whole operator is two
    * hash aggregations keyed on the document id — both with map-side
    * partial aggregation, no join, no window. At 100 TB the first
    * (doc_id, token) aggregate is the only real shuffle and its
    * cardinality is bounded by total tokens; the second collapses to
    * one row per document.
    */
  def wordEntropy(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("n"))
    counts.groupBy(col(idCol))
      .agg(sum(col("n")).as("_nt"), count(lit(1)).as("n_types"),
        sum(col("n") * log2(col("n").cast("double"))).as("_s"))
      .select(col(idCol), col("_nt").cast("long").as("n_tokens"),
        col("n_types"),
        (log2(col("_nt").cast("double")) - col("_s") / col("_nt"))
          .cast("float").as("entropy_bits"))
  }

  /** Windowed word co-occurrence with PMI — the word2vec/GloVe
    * pre-pass: every unordered token pair within a forward window of
    * `window` positions is counted corpus-wide, and the top-`k` pairs
    * by count (ties on the pair) are scored with pointwise mutual
    * information ln(P(a,b) / (P(a)·P(b))).
    *
    * Pair generation is map-only (token stream × window, no self-join
    * on position); the count is one hash aggregate whose key space is
    * bounded by vocabulary², in practice far smaller. The top-k cut is
    * a TakeOrderedAndProject (per-partition bounded heap + driver
    * merge, O(k) per task — no global sort), and ONLY the k winners
    * are joined back to the unigram table for the PMI denominators —
    * broadcast, so the join is a map-only pass over the vocabulary.
    *
    * Plan-audited: the pair-count and unigram-count exchanges each
    * appear in two subtrees (top-k + total, enrich + total) and AQE
    * reuses all of them (3× ReusedExchange in the executed plan), so
    * the corpus is scanned exactly twice — once per distinct shuffle.
    */
  def cooccurrence(docs: DataFrame, window: Int, k: Int,
      textCol: String = "text"): DataFrame = {
    require(window >= 1 && k >= 1, s"window=$window k=$k")
    val tok = docs.select(tokens(col(textCol)).as("_tk"))
    // r17 (guide §2.3, narrower shuffle keys): the pair aggregate is
    // the only corpus-volume shuffle here, and it shipped two token
    // STRINGS per row; keying on 64-bit xxhash64 halves-or-better the
    // exchange bytes and makes the per-row hash/compare fixed-width.
    // Strings re-attach AFTER the aggregate via a broadcast of the
    // vocabulary (already computed for the unigram counts), and the
    // top-k tie-break still happens on the re-attached strings, so
    // output order is unchanged. Same 64-bit-collision stance as the
    // d2 shingle join (~|vocab|²/2^64): a collision would merge two
    // pair counts; at realistic vocabularies the odds are negligible.
    val pairs = tok
      .select(col("_tk"), posexplode(col("_tk")).as(Seq("_i", "_a")))
      // own select below the window explode: an expression sharing a
      // select with a generator lands in the Project ABOVE the
      // Generate and runs once per EXPLODED row (the x9 ×64 lesson)
      .select(col("_tk"), col("_i"), xxhash64(col("_a")).as("_ha"))
      .select(col("_tk"), col("_i"), col("_ha"),
        explode(sequence(lit(1), lit(window))).as("_o"))
      // `get` (0-based, null past the end) rather than element_at:
      // the window runs off the document tail for the last tokens —
      // filter on the raw token BEFORE hashing (xxhash64 maps null to
      // the seed, not to null)
      .withColumn("_b", get(col("_tk"), col("_i") + col("_o")))
      .filter(col("_b").isNotNull)
      .select(least(col("_ha"), xxhash64(col("_b"))).as("h1"),
        greatest(col("_ha"), xxhash64(col("_b"))).as("h2"))
    val pch = pairs.groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("cnt"))
    val wc = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    // hash → string map is vocabulary-sized: broadcast it twice to
    // re-attach pair member strings map-side, then canonicalize the
    // pair by STRING order exactly as before
    val hw = wc.select(xxhash64(col("w")).as("h"), col("w"))
    val pc = pch
      .join(broadcast(hw.select(col("h").as("h1"), col("w").as("_s1"))),
        Seq("h1"))
      .join(broadcast(hw.select(col("h").as("h2"), col("w").as("_s2"))),
        Seq("h2"))
      .select(least(col("_s1"), col("_s2")).as("w1"),
        greatest(col("_s1"), col("_s2")).as("w2"), col("cnt"))
    val top = pc.orderBy(col("cnt").desc, col("w1"), col("w2")).limit(k)
    val totTokens = wc.agg(sum(col("n")).as("nt"))
    val totPairs = pc.agg(sum(col("cnt")).as("tp"))
    // enrich the k winners with their unigram counts: broadcast the
    // tiny side, stream the vocabulary — two map-only passes
    val withN1 = wc.select(col("w").as("w1"), col("n").as("_n1"))
      .join(broadcast(top), Seq("w1"))
    wc.select(col("w").as("w2"), col("n").as("_n2"))
      .join(broadcast(withN1), Seq("w2"))
      .crossJoin(broadcast(totTokens))
      .crossJoin(broadcast(totPairs))
      .withColumn("pmi", log(
        (col("cnt").cast("double") * col("nt") * col("nt")) /
          (col("tp").cast("double") * col("_n1") * col("_n2")))
        .cast("float"))
      .select(col("w1"), col("w2"), col("cnt"), col("pmi"))
  }

  /** Per-stratum KL divergence of the unigram distribution against
    * the corpus-wide distribution — the domain-shift / source-drift
    * monitor a mixture pipeline runs before re-weighting (high KL ⇒
    * the source speaks a different token distribution than the blend
    * it feeds). The corpus side is add-one smoothed so a stratum-only
    * token contributes ln(p/ε) rather than ∞.
    *
    * The (stratum, token) aggregate is the ONLY shuffle that sees
    * corpus volume (map-side combined); the corpus totals re-aggregate
    * that already-reduced table, the per-stratum totals are
    * stratum-count-sized, and the grand total is a 1-row broadcast.
    * The token join runs on post-aggregate volumes both sides. AQE
    * reuses the shared (stratum, token) exchange across its three
    * consumers — the corpus is scanned once.
    */
  def sourceDivergence(docs: DataFrame, strataCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val sc = docs.select(col(strataCol).as("source"),
        explode(tokens(col(textCol))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
    val st = sc.groupBy(col("source")).agg(sum(col("n")).as("nt"))
    val gc = sc.groupBy(col("w")).agg(sum(col("n")).as("gn"))
    val gt = gc.agg(sum(col("gn")).as("gnt"), count(lit(1)).as("v"))
    sc.join(st, Seq("source"))
      .join(gc, Seq("w"))
      .crossJoin(broadcast(gt))
      .groupBy(col("source"), col("nt"))
      .agg(sum((col("n").cast("double") / col("nt")) *
        log((col("n").cast("double") / col("nt")) /
          ((col("gn").cast("double") + lit(1.0)) /
            (col("gnt") + col("v"))))).as("_kl"))
      .select(col("source"), col("nt").cast("long").as("n_tokens"),
        col("_kl").cast("float").as("kl_vs_corpus"))
  }

  /** Zipf (rank-frequency power-law) slope of the corpus vocabulary —
    * the one-number corpus-health signal (natural text reads ≈ −1;
    * template/boilerplate floods flatten it, OCR noise steepens the
    * tail): least-squares slope of ln(freq) on ln(rank), ranks
    * tie-broken on the token so the fit is deterministic.
    *
    * The global rank deliberately avoids a single-partition window:
    * the word-count table is sorted (range-partitioned exchange) and
    * ranked with zipWithIndex — two distributed passes over the
    * VOCABULARY-sized table (post word-count reduce), never the token
    * stream. The slope folds from the five classic sums in one
    * aggregate row.
    */
  def zipfSlope(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wc = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val ranked = wc.orderBy(col("n").desc, col("w")).select(col("n"))
      .as[Long].rdd.zipWithIndex()
      .map { case (n, i) => (n, i + 1) }.toDF("n", "rk")
    ranked.select(log(col("rk").cast("double")).as("x"),
        log(col("n").cast("double")).as("y"))
      .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("m").cast("long").as("n_terms"),
        ((col("m") * col("sxy") - col("sx") * col("sy")) /
          (col("m") * col("sxx") - col("sx") * col("sx")))
          .cast("float").as("zipf_slope"))
  }

  /** Memoized + Spark-cached tf tables for [[tfidf]] / [[bm25]], keyed
    * by (canonicalized docs plan, query-term set) — `Nil` is the tfidf
    * (whole-vocabulary) key. Same lifecycle as Dedup's pair/shingle
    * caches: bounded LRU, unpersist-on-evict, lazily built values. */
  private val tfCache: java.util.Map[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Seq[String]),
    DataFrame] = PlanCache.bounded(16)
  graft.model.Samples.registerSessionBoundCache(tfCache)

  /** One-pass text-analysis projection over a documents frame. */
  def analyze(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val quality = qualityColumns(text).map { case (n, c) => c.as(n) }
    docs.select(
      Seq(col(idCol),
        size(tokens(text)).as("ws_tokens"),
        bpeishCount(text).as("bpeish_tokens"),
        langId(text).as("pred_lang"),
        fingerprint(text).as("fingerprint")) ++ quality: _*)
  }
}
