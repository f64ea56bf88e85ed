package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, Semaphore, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.exec.{PromQLEngine, PromUdfs}
import graft.model.Samples
import graft.promql.{Ast, Parser}

/** Prometheus-v1-compatible HTTP API over the engine — the subset the
  * reference registers (`internal/api/v1/api.go:124-341`):
  *
  *   GET/POST /api/v1/query        instant query
  *   GET/POST /api/v1/query_range  range query
  *   GET      /api/v1/series       series metadata for match[] selectors
  *   GET      /api/v1/label/{name}/values
  *   POST     /api/v1/write        ingest (snappy+protobuf prompb, the
  *            reference wire format via [[Prompb]]; JSON lines accepted
  *            as a fallback for hand-driven clients)
  *   POST     /write               reference route alias (write.go:27)
  *   POST     /read                snappy+protobuf remote read
  *            (`internal/read/read.go:45-126`): ReadRequest in,
  *            ReadResponse out
  *   GET      /api/v1/rules        configured rule group (extension —
  *            the reference has no rule engine; public API shape)
  *   GET      /api/v1/alerts       active alerts at the newest
  *            recorded evaluation step
  *
  * Envelope and guards mirror the reference: `{status, data}` /
  * `{status:"error", errorType, error}` (`api.go:373-413`), step > 0,
  * start ≤ end, the 11k-points-per-series cap (enforced in the engine),
  * a 10 MiB body cap (`cmd/timbala/main.go:44`), plus the engine gate:
  * 20 concurrent queries, 2-minute timeout (`engine.go:1474-1503`).
  * Range results are sorted by canonical labels (`engine.go:484-486`).
  */
class HttpApi(spark: SparkSession, engine0: PromQLEngine,
    writeSink: Option[DataFrame => Long] = None, port: Int = 0,
    rules: Option[graft.streaming.RecordingRules.Group] = None) {

  /** The serving engine. A table-backed deployment swaps this after
    * each write: a DataFrame's parquet file listing is SNAPSHOTTED
    * into the analyzed plan at read time (`refreshByPath` does not
    * reach it — verified empirically), so the engine built at startup
    * can never see appended files. In-flight queries keep their old
    * engine; the next request reads the fresh one. */
  @volatile private var engineV: PromQLEngine = engine0
  private def engine: PromQLEngine = engineV
  /** The engine currently serving requests — spec surface for
    * asserting which acceleration tiers a swapped-in engine carries. */
  private[graft] def servingEngine: PromQLEngine = engineV
  /** Swap the serving engine, returning the previous one so the
    * caller can release its cached series dimension. */
  def swapEngine(e: PromQLEngine): PromQLEngine = {
    val old = engineV; engineV = e; old
  }

  private val gate = new Semaphore(HttpApi.MaxConcurrent)
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  // request-per-thread like the reference's Go server (goroutine per
  // connection): ADMISSION control is the query gate, so the socket
  // layer must be able to hold more in-flight requests than the gate
  // has slots — a fixed pool smaller than MaxConcurrent would cap
  // concurrency below the 20 the engine contract promises, and queued
  // queries could never saturate the gate. But goroutines are cheap
  // and platform threads are not: an UNBOUNDED pool under the
  // never-reject admission model lets a connection flood grow one
  // pinned thread per queued query without limit. The pool is
  // therefore BOUNDED well above the gate (PoolThreads = 256 ≫ 20;
  // excess arrivals queue as tiny runnables, not threads), and the
  // request-pinning handlers shed load at MaxInflight with a 503 so
  // threads stay available — /metrics and /debug/pprof are exempt,
  // observability must survive the very overload it reports.
  private val pool = {
    val p = new java.util.concurrent.ThreadPoolExecutor(
      HttpApi.PoolThreads, HttpApi.PoolThreads, 60L,
      java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable]())
    p.allowCoreThreadTimeOut(true)
    p
  }
  server.setExecutor(pool)
  server.createContext("/api/v1/query", handler(handleQuery))
  server.createContext("/api/v1/query_range", handler(handleQueryRange))
  server.createContext("/api/v1/series", handler(handleSeries))
  server.createContext("/api/v1/label/", handler(handleLabelValues))
  server.createContext("/api/v1/write", handler(handleWrite))
  server.createContext("/api/v1/export", streamingHandler(handleExport))
  server.createContext("/write", handler(handleWrite))
  server.createContext("/read", binaryHandler(handleRead))
  server.createContext("/metrics", textHandler(handleMetrics))
  server.createContext("/debug/pprof/", textHandler(handlePprof))
  server.createContext("/api/v1/rules", handler(handleRules))
  server.createContext("/api/v1/alerts", handler(handleAlerts))
  // catch-all: the reference's router answers OPTIONS on ANY path with
  // 204 + CORS (api_test.go:621-648); everything else unmatched is 404
  server.createContext("/", (ex: HttpExchange) => {
    if (!handleOptions(ex)) {
      setCors(ex)
      ex.sendResponseHeaders(404, -1)
      ex.close()
    }
  })

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = { stopHook(); server.stop(0); pool.shutdownNow() }
  def boundPort: Int = server.getAddress.getPort

  /** Extra teardown wired by [[HttpApi.forTable]] (shuts the
    * background-compaction executor down with the server). */
  private[api] var stopHook: () => Unit = () => ()

  /** Wait until every background compaction queued so far has finished
    * (true) or `timeoutMs` elapsed (false). Spec/tool surface — the
    * write path never waits on the compactor; that is the point of it
    * being background. No-op true on servers without a sink. */
  private[graft] var compactionDrain: Long => Boolean = _ => true
  def awaitCompactions(timeoutMs: Long = 120000L): Boolean =
    compactionDrain(timeoutMs)

  /** Background compactions that failed (rewrite or commit threw; the
    * staging dir is cleaned and the gate refires on a later write).
    * Surfaced on /metrics — a silently failing compactor would
    * otherwise look like a healthy-but-fragmenting table. */
  private[api] val compactionErrors =
    new java.util.concurrent.atomic.AtomicLong(0)
  def compactionErrorCount: Long = compactionErrors.get()

  /** Rollup-rung refresh passes the write path has run — one increment
    * per write (or [[flushTiers]] call) that actually refreshed, so a
    * debounced sink's refresh cadence is assertable ([[HttpApi.forTable]]
    * `refreshEveryWrites`). */
  private[api] val rollupRefreshes =
    new java.util.concurrent.atomic.AtomicLong(0)
  def rollupRefreshCount: Long = rollupRefreshes.get()

  /** Of those refreshes, how many ran as the ASSOCIATIVE batch merge
    * (`Ingest.refreshFoldPartialsIncremental` over the pending
    * batches' union) rather than the volume-coupled full date refold —
    * the r15 witness that the debounced flush, not just the per-write
    * path, stays O(pending) as a date accumulates
    * (`ForTableTiersSpec`). */
  private[api] val rollupIncrementalMerges =
    new java.util.concurrent.atomic.AtomicLong(0)
  def rollupIncrementalMergeCount: Long = rollupIncrementalMerges.get()

  /** Chunk compactions the write path ran / deferred because readers
    * would not drain (see [[quiesced]]); deferral is safe — the file
    * count stays over threshold, so the next write retries. */
  private[api] val chunkCompactions =
    new java.util.concurrent.atomic.AtomicLong(0)
  private[api] val chunkCompactionsDeferred =
    new java.util.concurrent.atomic.AtomicLong(0)
  def chunkCompactionCounts: (Long, Long) =
    (chunkCompactions.get(), chunkCompactionsDeferred.get())

  /** Samples-table date-partition compactions the write path ran
    * (r15: geometric gate + staged serve-through commit — see
    * `Ingest.compactStaged`). */
  private[api] val sampleCompactions =
    new java.util.concurrent.atomic.AtomicLong(0)
  def sampleCompactionCount: Long = sampleCompactions.get()

  /** Drain-and-hold barrier over the admission gate: acquire every
    * slot (waiting up to `drainTimeoutMs` for in-flight queries to
    * finish; arrivals meanwhile queue on the gate as usual, their
    * `?timeout=` budgets ticking), run `f` with zero readers admitted,
    * release. The chunk compactor runs under this because dynamic
    * partition overwrite is not atomic for concurrent readers — an
    * in-flight query that listed the pre-compaction files would fail
    * mid-scan with FileNotFoundException (r8 advice); the reference
    * TSDB blocks block-deletion on its readers the same way
    * (tsdb/db.go reloadBlocks waits on block pendingReaders). Returns
    * None (f NOT run) if the gate cannot drain in time. */
  private[api] def quiesced[A](drainTimeoutMs: Long)(f: => A): Option[A] =
    if (gate.tryAcquire(HttpApi.MaxConcurrent, drainTimeoutMs,
        TimeUnit.MILLISECONDS)) {
      try Some(f) finally gate.release(HttpApi.MaxConcurrent)
    } else None

  /** Deferred-tier flush (wired by [[HttpApi.forTable]] when
    * `refreshEveryWrites > 1`): run any pending rollup refresh NOW,
    * re-certify `_tiers_ok`, and swap in a fully-tiered engine. No-op
    * when nothing is deferred or the server has no sink. */
  private[api] var tierFlushHook: () => Unit = () => ()
  def flushTiers(): Unit = tierFlushHook()

  /** Free admission slots right now (20 = idle); the same figure
    * /metrics exports as `graft_api_gate_free_slots`. */
  def gateFreeSlots: Int = gate.availablePermits()

  /** Drive the write sink with an already-built edge frame
    * (labels, t, v, stale) — the bulk-ingest entry for cluster-sized
    * batches that the 10 MiB HTTP body guard exists to keep OFF the
    * public endpoint. Runs the identical sink sequence `/write` runs
    * (dedup → append → tier maintenance → engine swap, under the same
    * per-table write lock), so a soak driving it measures the real
    * write path at real batch sizes (`graft.tools.HttpBench`
    * rungsoak). Throws like `/write` when no sink is configured. */
  def writeDirect(df: DataFrame): Unit = {
    val sink = writeSink.getOrElse(
      throw HttpApi.ApiError(405, "bad_data", "write sink not configured"))
    // the sink reports the canonical rows it appended (an observation
    // riding its own write job) — metering the counter from that
    // return retires the SECOND full action this entry used to pay
    // (`df.count()` re-scanned the whole cluster-sized edge frame per
    // bulk batch, r15 verdict)
    samplesAppended.addAndGet(sink(df))
  }

  /** FAIR-pool slot ids currently free — MaxConcurrent when the gate
    * is idle; the spec invariant that slot pools recycle instead of
    * leaking (the pre-r14 per-request UUID pools grew the scheduler
    * registry by one Pool per query served, decaying a sustained
    * session 61.6 → 8.6 q/s over a 10-minute soak). */
  private[api] def poolSlotsFree: Int = poolSlots.size

  /** Per-(handler, status) HTTP request counts and the appended-sample
    * counter — the reference's promhttp per-handler counters and
    * `tsdb_head_samples_appended_total` family
    * (acceptance_test.go:52-82 asserts both on `/metrics`). */
  private val httpRequests = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), java.util.concurrent.atomic.AtomicLong]()
  private def countHttp(ex: HttpExchange, code: Int): Unit =
    httpRequests.computeIfAbsent((ex.getHttpContext.getPath, code),
      _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
  private val samplesAppended =
    new java.util.concurrent.atomic.AtomicLong(0)

  // ---- plumbing ----------------------------------------------------------

  import HttpApi.ApiError

  /** The reference sets these on every API response and answers
    * OPTIONS with 204 (`api.go:54-59`, `setCORS` at `api.go:79-82`). */
  private def setCors(ex: HttpExchange): Unit = {
    val h = ex.getResponseHeaders
    h.set("Access-Control-Allow-Headers",
      "Accept, Authorization, Content-Type, Origin")
    h.set("Access-Control-Allow-Methods", "GET, OPTIONS")
    h.set("Access-Control-Allow-Origin", "*")
    h.set("Access-Control-Expose-Headers", "Date")
  }

  /** Answer an OPTIONS preflight (204, no body, CORS headers) and
    * report whether the exchange was consumed. */
  private def handleOptions(ex: HttpExchange): Boolean =
    ex.getRequestMethod == "OPTIONS" && {
      setCors(ex)
      ex.sendResponseHeaders(204, -1)
      ex.close()
      true
    }

  /** Requests currently pinning a pool thread (queued queries
    * included). Past [[HttpApi.MaxInflight]] the request-pinning
    * handlers answer 503 immediately — the PoolThreads − MaxInflight
    * headroom guarantees the 503 path itself always finds a thread,
    * so a flood can neither exhaust threads nor starve the gate. */
  private val inflight = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run `f` under the in-flight cap, or answer 503 (the load-shed
    * path: a few header writes, microseconds per rejected request). */
  private def shedding(ex: HttpExchange)(f: => Unit): Unit = {
    if (inflight.incrementAndGet() > HttpApi.MaxInflight) {
      inflight.decrementAndGet()
      countHttp(ex, 503)
      setCors(ex)
      val b = """{"status":"error","errorType":"unavailable","error":"server overloaded"}"""
        .getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(503, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    } else try f finally inflight.decrementAndGet()
  }

  private def handler(f: HttpExchange => String): com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) => if (!handleOptions(ex)) shedding(ex) {
      val (code, body) =
        try (200, f(ex))
        catch {
          case ApiError(status, typ, msg) =>
            (status, s"""{"status":"error","errorType":"${esc(typ)}","error":"${esc(msg)}"}""")
          case e: Exception =>
            (422, s"""{"status":"error","errorType":"execution","error":"${esc(String.valueOf(e.getMessage))}"}""")
        }
      val bytes = body.getBytes(UTF_8)
      countHttp(ex, code)
      setCors(ex)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

  private def params(ex: HttpExchange): Map[String, Seq[String]] = {
    val fromUrl = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val fromBody =
      if (ex.getRequestMethod == "POST" &&
        Option(ex.getRequestHeaders.getFirst("Content-Type"))
          .exists(_.startsWith("application/x-www-form-urlencoded")))
        new String(readBody(ex), UTF_8)
      else ""
    (fromUrl + "&" + fromBody).split("&").toSeq.filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) (dec(kv), "")
        else (dec(kv.substring(0, i)), dec(kv.substring(i + 1)))
      }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
  }

  private def readBody(ex: HttpExchange): Array[Byte] = {
    val in = ex.getRequestBody
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var total = 0L
    var n = in.read(buf)
    while (n > 0) {
      total += n
      if (total > HttpApi.MaxBodyBytes)
        throw ApiError(413, "bad_data", "request body too large")
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    out.toByteArray
  }

  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, UTF_8)

  private def one(p: Map[String, Seq[String]], name: String): Option[String] =
    p.get(name).flatMap(_.headOption)

  /** Unix-seconds float or RFC3339 (`api.go:415-424`). */
  private def parseTime(s: String, what: String): Long =
    try {
      if (s.exists(c => c == 'T' || c == 'Z' || c == '+')
        && !s.forall(c => c.isDigit || c == '.' || c == '-' || c == '+' || c == 'e' || c == 'E'))
        // JDK 12+ Instant.parse accepts numeric zone offsets
        // ("2015-06-03T14:21:58.555+01:00", api_test.go:544-546) —
        // ApiConformanceSpec pins both the Z and the offset form
        java.time.Instant.parse(s).toEpochMilli
      else (s.toDouble * 1000).round
    } catch {
      case _: Exception =>
        // verbatim `api.go:423` — the vintage responds with the bare
        // parse error, no parameter-name wrapper
        throw ApiError(400, "bad_data",
          s"cannot parse \"$s\" to a valid timestamp")
    }

  private def parseDurationSec(s: String, what: String): Double = {
    val asFloat =
      try {
        val d = s.toDouble
        if (d.isNaN || d.isInfinite) throw new NumberFormatException
        // Go rejects float-second durations whose NANOSECOND count
        // overflows int64 (`api.go` parseDuration; api_test.go pins
        // ±148966367200.372 as failures) — without this guard a
        // ~4722-year step silently truncates downstream
        if (d * 1e9 > Long.MaxValue.toDouble ||
          d * 1e9 < Long.MinValue.toDouble)
          throw ApiError(400, "bad_data",
            s"cannot parse \"$s\" to a valid duration. It overflows int64")
        Some(d)
      } catch {
        case a: ApiError => throw a
        case _: Exception => None
      }
    asFloat.getOrElse(
      try graft.promql.Lexer.modelDuration(s).toDouble / 1000
      catch {
        case _: Exception => throw ApiError(400, "bad_data",
          s"cannot parse \"$s\" to a valid duration")
      })
  }

  /** Per-request evaluation budget: the optional `?timeout=` duration
    * (api.go:151-162,217-227) can only SHRINK the engine's 2-minute
    * ceiling — the reference nests its context timeout inside the
    * engine's own, so the smaller wins. */
  private def requestBudgetMs(p: Map[String, Seq[String]]): Long =
    one(p, "timeout") match {
      case Some(s) =>
        val ms = (parseDurationSec(s, "timeout") * 1000).round
        math.min(math.max(1L, ms), queryTimeoutMs)
      case None => queryTimeoutMs
    }

  /** Admission: 20-slot gate + 2-minute timeout with real job
    * cancellation, vintage-shaped (`engine.go:1474-1503`): ONE budget
    * covers queue wait AND execution (the reference arms the context
    * timeout before `gate.Start`), the 21st concurrent query QUEUES
    * rather than being rejected, and expiry surfaces as errorType
    * `timeout` with the contextDone environment in the message —
    * "query queue" if it never got a slot (`engine.go:1490`), "query
    * execution" if it did (`engine.go:336`). Each request evaluates
    * inside its own Spark job group; on timeout the group's running
    * jobs are cancelled so executors stop working on an abandoned
    * query. */
  private val queriesTotal = new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-instance override for specs; requests can only shrink their
    * own budget below this via `?timeout=` (api.go:217-227). */
  private[api] var queryTimeoutMs: Long = HttpApi.QueryTimeoutMs

  private def gated[T](f: => T): T = gatedBudget(queryTimeoutMs)(f)

  private def gatedBudget[T](budgetMs: Long)(f: => T): T = {
    val deadlineNs = System.nanoTime() + budgetMs * 1000000L
    def remainingMs = (deadlineNs - System.nanoTime()) / 1000000L
    if (!gate.tryAcquire(math.max(0L, remainingMs), TimeUnit.MILLISECONDS))
      throw ApiError(503, "timeout", "query timed out in query queue")
    // counted AFTER admission: /metrics documents this as "admitted",
    // so queue-expired requests must not inflate it
    queriesTotal.incrementAndGet()
    // job group stays per-request (it only keys cancellation); the
    // SCHEDULER POOL is the admitted slot's (bounded, see poolSlots)
    val group = s"graft-api-${java.util.UUID.randomUUID()}"
    val slot = poolSlots.poll()
    val worker = new java.util.concurrent.FutureTask[T](() => {
      spark.sparkContext.setJobGroup(group, "api query",
        interruptOnCancel = true)
      // per-query scheduler pool: inert under the default FIFO mode,
      // but with spark.scheduler.mode=FAIR on the serving session
      // (graft.tools.Serve sets it) each admitted query's jobs land
      // in their own on-demand pool (weight 1, minShare 0), so a
      // long-running range query shares task slots round-robin with
      // concurrent dashboard instants instead of monopolizing the
      // FIFO head — the standard multi-tenant recipe, and the same
      // fairness the reference gets from goroutine scheduling across
      // its 20 admitted queries.
      //
      // The pool name is the admitted SLOT's, not the request's
      // (r14): Spark's FAIR rootPool never forgets a pool, so
      // per-request UUID names accumulated one Pool object per query
      // served and the scheduler's per-offer sort decayed a sustained
      // session monotonically — the 10-minute HttpBench soak measured
      // 61.6 → 9.8 q/s over ~15k requests. At most one admitted query
      // holds a slot at a time, so slot-pools give the identical
      // one-pool-per-concurrent-query fairness with a registry
      // bounded at MaxConcurrent forever (soak re-run: flat).
      spark.sparkContext.setLocalProperty("spark.scheduler.pool",
        s"graft-api-slot-$slot")
      try f finally {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
        spark.sparkContext.clearJobGroup()
      }
    })
    val t = new Thread(worker, group)
    t.setDaemon(true)
    t.start()
    try worker.get(math.max(1L, remainingMs), TimeUnit.MILLISECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        spark.sparkContext.cancelJobGroup(group)
        worker.cancel(true)
        throw ApiError(503, "timeout", "query timed out in query execution")
      case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e)
    } finally {
      // On the TIMEOUT path the cancelled worker's Spark jobs may still
      // be winding down in this slot's pool when the next admitted
      // query reuses it — a transient sharing window, the same
      // semantics the gate.release below has always had (the slot/gate
      // pair is freed when the CLIENT's budget expires, not when the
      // abandoned jobs finish dying). Fairness degrades to 2 queries
      // in one pool for the cancellation window; it never leaks pools.
      if (slot != null) poolSlots.offer(slot)
      gate.release()
    }
  }

  /** The bounded FAIR-pool slot ids behind [[gatedBudget]]: at most
    * [[HttpApi.MaxConcurrent]] pools ever exist in the scheduler's
    * registry (Spark never evicts a pool once registered — see the
    * soak note at the pool assignment). */
  private val poolSlots = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    (0 until HttpApi.MaxConcurrent).foreach(i => q.offer(Integer.valueOf(i)))
    q
  }

  // ---- JSON rendering ----------------------------------------------------

  private def esc(s: String): String = HttpApi.esc(s)

  private def metricJson(labels: Map[String, String]): String =
    labels.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")

  private def pointJson(tMs: Long, v: Double): String = {
    // Go's json.Marshal renders whole floats without a fraction, and
    // fractional epoch seconds in PLAIN decimal ("1433337718.555") —
    // Scala's Double.toString would emit "1.433337718555E9" here
    val ts =
      if (tMs % 1000 == 0) (tMs / 1000).toString
      else {
        val sign = if (tMs < 0) "-" else ""
        val abs = math.abs(tMs)
        val frac = f"${abs % 1000}%03d".reverse.dropWhile(_ == '0').reverse
        s"$sign${abs / 1000}.$frac"
      }
    s"""[$ts,"${PromUdfs.goFormatFloat(v)}"]"""
  }

  private def envelope(resultType: String, result: String): String =
    s"""{"status":"success","data":{"resultType":"$resultType","result":$result}}"""

  private def collectRows(df: DataFrame): Seq[(Map[String, String], Long, Double)] =
    df.collect().toSeq.map { r =>
      (r.getMap[String, String](0).toMap, r.getLong(1), r.getDouble(2))
    }

  // ---- endpoints ---------------------------------------------------------

  private def handleQuery(ex: HttpExchange): String = {
    val p = params(ex)
    // missing query = empty query, rejected by the parser as "no
    // expression found in input" (Go FormValue semantics)
    val query = one(p, "query").getOrElse("")
    // a now()-defaulted time re-binds the query shape's plan template
    // like a pinned one (PromQLEngine.planTemplates)
    val ts = one(p, "time").map(parseTime(_, "time"))
      .getOrElse(System.currentTimeMillis())
    gatedBudget(requestBudgetMs(p)) {
      val expr = parseOr400(query)
      expr.typ match {
        case Ast.ValueType.Scalar =>
          val rows = collectRows(engine.instantCached(query, ts))
          envelope("scalar", rows.headOption
            .map { case (_, t, v) => pointJson(t, v) }.getOrElse("null"))
        case Ast.ValueType.Vector =>
          val rows = collectRows(engine.instantCached(query, ts))
            .sortBy { case (l, _, _) => l }(Samples.labelsOrdering)
          envelope("vector", rows.map { case (l, t, v) =>
            s"""{"metric":${metricJson(l)},"value":${pointJson(t, v)}}"""
          }.mkString("[", ",", "]"))
        case Ast.ValueType.Matrix => // raw range selector at an instant
          val rows = collectRows(engine.instantCached(query, ts))
          val series = rows.groupBy(_._1).toSeq
            .sortBy { case (l, _) => l }(Samples.labelsOrdering)
          envelope("matrix", series.map { case (l, pts) =>
            val vals = pts.sortBy(_._2)
              .map { case (_, t, v) => pointJson(t, v) }.mkString(",")
            s"""{"metric":${metricJson(l)},"values":[$vals]}"""
          }.mkString("[", ",", "]"))
        case t => throw ApiError(400, "bad_data",
          s"unsupported result type $t for instant query")
      }
    }
  }

  private def handleQueryRange(ex: HttpExchange): String = {
    val p = params(ex)
    // absent params surface as empty strings (Go's FormValue), so a
    // missing start/end/step fails in the parser with the same
    // diagnostic as a malformed one — `cannot parse "" to a valid
    // timestamp/duration` (api_test.go:145-172 pins all three)
    val query = one(p, "query").getOrElse("")
    val start = parseTime(one(p, "start").getOrElse(""), "start")
    val end = parseTime(one(p, "end").getOrElse(""), "end")
    if (end < start)
      throw ApiError(400, "bad_data",
        "end timestamp must not be before start time")
    val stepSec = parseDurationSec(one(p, "step").getOrElse(""), "step")
    // check AFTER rounding: a step in (0, 0.0005] rounds to 0 ms and
    // would otherwise divide by zero in the resolution-cap check below
    val stepMs = (stepSec * 1000).round
    if (stepMs <= 0)
      throw ApiError(400, "bad_data",
        "zero or negative query resolution step widths are not " +
          "accepted. Try a positive integer")
    // api.go:211-216 — 11,000 points per series cap
    if ((end - start) / stepMs > 11000)
      throw ApiError(400, "bad_data",
        "exceeded maximum resolution of 11,000 points per timeseries. " +
          "Try decreasing the query resolution (?step=XX)")
    gatedBudget(requestBudgetMs(p)) {
      val expr = parseOr400(query)
      // NewRangeQuery's type guard is a bad_data error, not an
      // execution failure (api.go:229-232 ← engine.go:269-273)
      expr.typ match {
        case graft.promql.Ast.ValueType.Vector |
            graft.promql.Ast.ValueType.Scalar => ()
        case t => throw ApiError(400, "bad_data",
          s"""invalid expression type "$t" for range query, """ +
            "must be Scalar or instant Vector")
      }
      val rows = collectRows(engine.rangeQueryCached(query, start, end, stepMs))
      // stitch per-series, final sort by canonical labels
      // (promql/engine.go:444-458,484-486)
      val series = rows.groupBy(_._1).toSeq
        .sortBy { case (l, _) => l }(Samples.labelsOrdering)
      envelope("matrix", series.map { case (l, pts) =>
        val vals = pts.sortBy(_._2)
          .map { case (_, t, v) => pointJson(t, v) }.mkString(",")
        s"""{"metric":${metricJson(l)},"values":[$vals]}"""
      }.mkString("[", ",", "]"))
    }
  }

  private def handleSeries(ex: HttpExchange): String = {
    val p = params(ex)
    val matchers = p.getOrElse("match[]", Seq.empty)
    if (matchers.isEmpty)
      throw ApiError(400, "bad_data", "no match[] parameter provided")
    // S9: DELETE /series validates match[] then fails like the
    // reference's `panic("disabled")` (api.go:343-371 — deletion is
    // temporarily disabled upstream; the Go HTTP stack turns the
    // panic into a 500)
    if (ex.getRequestMethod == "DELETE")
      throw ApiError(500, "internal", "disabled")
    val start = one(p, "start").map(parseTime(_, "start"))
    val end = one(p, "end").map(parseTime(_, "end"))
    val sets = matchers.map { m =>
      gated { engine.series(m, start, end) }
    }
    val all = sets.flatten.distinct.sorted(Samples.labelsOrdering)
    envelope0(all.map(metricJson).mkString("[", ",", "]"))
  }

  private def handleLabelValues(ex: HttpExchange): String = {
    val path = ex.getRequestURI.getPath
    val m = HttpApi.LabelValuesRe.findFirstMatchIn(path).getOrElse(
      throw ApiError(400, "bad_data", s"unknown path $path"))
    val name = m.group(1)
    if (!HttpApi.LabelNameRe.matches(name))
      throw ApiError(400, "bad_data", s"""invalid label name: "$name"""")
    val values = gated { engine.labelValues(name) }
    envelope0(values.sorted.map(v => s""""${esc(v)}"""").mkString("[", ",", "]"))
  }

  private def envelope0(result: String): String =
    s"""{"status":"success","data":$result}"""

  /** Currently-active alert elements: the recorded `ALERTS` /
    * `ALERTS_FOR_STATE` rows at the NEWEST recorded alert step (alerts
    * are event-time series here, so "now" is the latest evaluation the
    * data has reached). Returns (response labels, state, activeAt ms,
    * expr value) — the value re-evaluates the configured expr at that
    * step, since `ALERTS` itself stores 1. */
  private def currentAlerts()
      : Seq[(Map[String, String], String, Long, Double)] = {
    // Nothing configured ⇒ nothing active, without touching Spark:
    // /api/v1/rules calls this unconditionally, and a recording-only
    // group would otherwise pay a max-t scan + two instant queries
    // per dashboard poll for an always-empty answer.
    if (!rules.exists(_.alerts.nonEmpty)) return Seq.empty
    // The reference serves rule/alert state from the rule manager's
    // in-memory snapshot, refreshed once per evaluation interval —
    // a TTL cache keyed by the serving engine is the analogue here;
    // without it every poll of /api/v1/alerts re-runs 3+N collect()
    // jobs under the admission gate and can starve real queries.
    val now = System.currentTimeMillis()
    val ttlMs = rules.map(_.intervalMs).getOrElse(10000L)
    val cached = alertsCache.get()
    if (cached != null && (cached._1 eq engine) && now - cached._2 < ttlMs)
      return cached._3
    val computed = computeAlerts()
    alertsCache.set((engine, now, computed))
    computed
  }

  private val alertsCache = new java.util.concurrent.atomic.AtomicReference[
    (PromQLEngine, Long, Seq[(Map[String, String], String, Long, Double)])](null)

  private def computeAlerts()
      : Seq[(Map[String, String], String, Long, Double)] = {
    // event-time "now" = newest ALERTS step, staleness markers INCLUDED:
    // a resolved alert's final step is recorded only as its marker, and
    // a non-stale probe would freeze "now" at the last firing step and
    // report the resolved alert active forever. Evaluating AT the
    // marker step correctly yields no element (marker hides the series).
    val latest = gated { engine.latestSampleMs("ALERTS") }
    latest.toSeq.flatMap { mt =>
      // collect() runs INSIDE gated so it executes in the admission
      // gate's job group (cancellable, timed out) — a collect on the
      // handler thread would be unbounded and uncancellable
      val al = gated { collectRows(engine.instant("ALERTS", mt)) }
      val fs = gated { collectRows(engine.instant("ALERTS_FOR_STATE", mt)) }
      val activeAt = fs.map { case (l, _, v) =>
        (l - "__name__") -> v.toLong }.toMap
      // expr values keyed by the same identity surgery the rule
      // evaluator applies (element labels minus reserved keys, plus
      // alertname + rule labels)
      val values = rules.toSeq.flatMap(_.alerts).flatMap { a =>
        val fixed = ("alertname" -> a.alert) +: a.labels.toSeq
        val drop = Set("__name__", "alertstate") ++ fixed.map(_._1)
        gated { collectRows(engine.instant(a.expr, mt)) }.map {
          case (l, _, v) =>
            (l.view.filterKeys(!drop.contains(_)).toMap ++ fixed) -> v
        }
      }.toMap
      al.map { case (l, _, _) =>
        val ident = l - "__name__" - "alertstate"
        (ident, l.getOrElse("alertstate", "pending"),
          activeAt.getOrElse(ident, mt), values.getOrElse(ident, 1.0))
      }.sortBy(_._1)(Samples.labelsOrdering)
    }
  }

  /** GET /api/v1/alerts — public API shape: alert labels (alertname +
    * element + rule labels; the state travels as a FIELD, not a
    * label), RFC 3339 activeAt from the state series' value,
    * annotations expanded with the `$labels`/`$value` bindings. */
  private def handleAlerts(ex: HttpExchange): String = {
    val annByAlert = rules.toSeq.flatMap(_.alerts)
      .map(a => a.alert -> a.annotations).toMap
    envelope0(s"""{"alerts":${
      currentAlerts().map { case (l, state, at, value) =>
        val anns = annByAlert.getOrElse(l.getOrElse("alertname", ""),
            Map.empty[String, String])
          .map { case (k, tpl) =>
            k -> graft.streaming.RecordingRules.expandTemplate(tpl, l, value) }
        s"""{"labels":${metricJson(l)},"annotations":${metricJson(anns)},""" +
          s""""state":"${esc(state)}","activeAt":"${
            java.time.Instant.ofEpochMilli(at)}",""" +
          s""""value":"${esc(PromUdfs.goFormatFloat(value))}"}"""
      }.mkString("[", ",", "]")}}""")
  }

  /** GET /api/v1/rules — the configured rule group in the public API
    * shape (`type` recording/alerting, durations in seconds; an
    * alerting rule's `state` is the highest state among its current
    * elements, firing > pending > inactive). */
  private def handleRules(ex: HttpExchange): String = rules match {
    case None => envelope0("""{"groups":[]}""")
    case Some(g) =>
      val byAlert = currentAlerts().groupBy(_._1.getOrElse("alertname", ""))
      val rec = g.rules.map { r =>
        s"""{"type":"recording","name":"${esc(r.record)}",""" +
          s""""query":"${esc(r.expr)}","labels":${metricJson(r.labels)},""" +
          s""""health":"ok"}"""
      }
      val alr = g.alerts.map { a =>
        val states = byAlert.getOrElse(a.alert, Seq.empty).map(_._2)
        val st = if (states.contains("firing")) "firing"
          else if (states.contains("pending")) "pending" else "inactive"
        s"""{"type":"alerting","name":"${esc(a.alert)}",""" +
          s""""query":"${esc(a.expr)}","duration":${a.forMs / 1000.0},""" +
          s""""labels":${metricJson(a.labels)},"state":"$st",""" +
          s""""health":"ok"}"""
      }
      envelope0(s"""{"groups":[{"name":"group",""" +
        s""""interval":${g.intervalMs / 1000.0},""" +
        s""""rules":${(rec ++ alr).mkString("[", ",", "]")}}]}""")
  }

  /** Ingest. Wire format is the reference's snappy+protobuf prompb
    * (`write.go:53-83`) when the request says so (Content-Type
    * application/x-protobuf or Content-Encoding snappy); JSON lines
    * (`{"labels":{...},"t":ms,"v":x}`, "stale":true for markers)
    * otherwise. Staleness is detected from the RAW double bits, which
    * the proto fixed64 preserves end-to-end. */
  private def handleWrite(ex: HttpExchange): String = {
    val sink = writeSink.getOrElse(
      throw ApiError(405, "bad_data", "write sink not configured"))
    val h = ex.getRequestHeaders
    val isProto =
      Option(h.getFirst("Content-Type"))
        .exists(_.startsWith("application/x-protobuf")) ||
      Option(h.getFirst("Content-Encoding"))
        .exists(_.equalsIgnoreCase("snappy"))
    val rows =
      if (isProto) {
        val req =
          try Prompb.decodeWriteRequest(Prompb.snappyUncompress(readBody(ex)))
          catch {
            case e: ApiError => throw e
            case e: Exception => throw ApiError(400, "bad_data",
              s"cannot decode write request: ${e.getMessage}")
          }
        if (req.timeseries.isEmpty)
          throw ApiError(400, "bad_data",
            "received empty request containing zero timeseries")
        req.timeseries.flatMap { ts =>
          val labels = ts.labels.map(l => l.name -> l.value).toMap
          ts.samples.map(s => (labels, s.timestamp, s.value,
            java.lang.Double.doubleToRawLongBits(s.value) ==
              Samples.StaleNaNBits))
        }
      } else {
        val body = new String(readBody(ex), UTF_8)
        body.split('\n').toSeq.filter(_.trim.nonEmpty).map(parseWriteLine)
      }
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      rows.map { case (l, t, v, stale) =>
        org.apache.spark.sql.Row(l, t, v, stale)
      }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("labels",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType), nullable = false),
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("stale",
          org.apache.spark.sql.types.BooleanType, nullable = false))))
    sink(df)
    // counted only after the sink committed — a failed append must
    // not inflate the appended-samples family
    samplesAppended.addAndGet(rows.size.toLong)
    """{"status":"success","data":null}"""
  }

  /** Parser for the write line format. Uses a real JSON parser (Jackson,
    * already on Spark's classpath) so escaped quotes and braces inside
    * label values round-trip exactly with the export endpoint's
    * serialization; malformed lines are rejected with 400, never
    * silently truncated. */
  private def parseWriteLine(line: String): (Map[String, String], Long, Double, Boolean) =
    try {
      import scala.jdk.CollectionConverters._
      val node = HttpApi.jsonMapper.readTree(line)
      require(node != null && node.isObject, "line is not a JSON object")
      val labelsNode = node.get("labels")
      require(labelsNode != null && labelsNode.isObject, "missing labels object")
      val labels = labelsNode.properties().asScala.map { e =>
        require(e.getValue.isTextual, s"label ${e.getKey} is not a string")
        e.getKey -> e.getValue.asText()
      }.toMap
      val tn = node.get("t")
      require(tn != null && tn.canConvertToLong && tn.isIntegralNumber,
        "t is not an integer timestamp")
      val vn = node.get("v")
      require(vn != null, "missing v")
      val v =
        if (vn.isNumber) vn.asDouble()
        else if (vn.isTextual) vn.asText() match {
          case "NaN" => Double.NaN
          case "+Inf" | "Inf" => Double.PositiveInfinity
          case "-Inf" => Double.NegativeInfinity
          case s => s.toDouble // "1.5" — Go clients marshal floats as strings
        }
        else throw new IllegalArgumentException("v is neither number nor string")
      val sn = node.get("stale")
      require(sn == null || sn.isBoolean, "stale is not a boolean")
      (labels, tn.asLong(), v, sn != null && sn.asBoolean())
    } catch {
      case _: Exception =>
        throw ApiError(400, "bad_data", s"cannot parse write line: $line")
    }

  /** Streaming responses (chunked) for endpoints whose result must not
    * be materialized on the driver. `prepare` runs BEFORE the response
    * headers go out, so parameter-validation and engine failures still
    * return a proper error envelope (400/422/...); only once the writer
    * starts (first byte committed to a 200 chunked response) do we
    * switch to the swallow-and-close path. */
  private def streamingHandler(prepare: HttpExchange => java.io.OutputStream => Unit)
      : com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) => if (!handleOptions(ex)) shedding(ex) {
      val writerOrError =
        try Right(prepare(ex))
        catch {
          case ApiError(status, typ, msg) => Left((status,
            s"""{"status":"error","errorType":"${esc(typ)}","error":"${esc(msg)}"}"""))
          case e: Exception => Left((422,
            s"""{"status":"error","errorType":"execution","error":"${esc(String.valueOf(e.getMessage))}"}"""))
        }
      setCors(ex)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      writerOrError match {
        case Left((code, body)) =>
          countHttp(ex, code)
          val bytes = body.getBytes(UTF_8)
          ex.sendResponseHeaders(code, bytes.length)
          ex.getResponseBody.write(bytes)
          ex.close()
        case Right(write) =>
          try {
            countHttp(ex, 200)
            ex.sendResponseHeaders(200, 0) // chunked
            write(ex.getResponseBody)
          } catch {
            case _: Exception => // headers already sent; close the stream
          } finally ex.close()
      }
    }

  /** Raw-sample egress, the remote-read stand-in (S5,
    * `internal/read/read.go:45-126`; JSON lines instead of
    * snappy+protobuf — offline-reproducible wire format). Rows stream
    * through `toLocalIterator`, so the driver never holds the result.
    * Validation, planning, and the first-partition fetch run inside the
    * admission gate (and its job group); the remaining partition fetches
    * stream ungated — they are driver-paced single-partition jobs. */
  private def handleExport(ex: HttpExchange): java.io.OutputStream => Unit = {
    val p = params(ex)
    val matcher = one(p, "match[]").getOrElse(
      throw ApiError(400, "bad_data", "no match[] parameter provided"))
    parseOr400(matcher) // invalid selectors are bad_data, not execution
    val start = one(p, "start").map(parseTime(_, "start"))
    val end = one(p, "end").map(parseTime(_, "end"))
    val it = gated {
      val i = engine.rawSamples(matcher, start, end).toLocalIterator()
      i.hasNext // force plan + first partition inside the gate
      i
    }
    out => {
      while (it.hasNext) {
        val r = it.next()
        val labels = r.getMap[String, String](0).toMap
        val line = s"""{"labels":${metricJson(labels)},"t":${r.getLong(1)},""" +
          s""""v":"${PromUdfs.goFormatFloat(r.getDouble(2))}"}""" + "\n"
        out.write(line.getBytes(UTF_8))
      }
    }
  }

  /** Self-telemetry in the Prometheus text exposition format — the
    * `/metrics` endpoint the reference serves via promhttp
    * (`cmd/timbala/main.go:216`); ours exposes the engine-level
    * counters an operator actually watches here. */
  private def handleMetrics(ex: HttpExchange): String = {
    val sb = new StringBuilder
    def m(name: String, help: String, typ: String, v: Long): Unit = sb
      .append(s"# HELP $name $help\n# TYPE $name $typ\n$name $v\n")
    // the reference's /metrics carries five families the acceptance
    // suite asserts (acceptance_test.go:52-82): build info, engine
    // counters, per-handler HTTP counters, runtime info, and ingest
    // (samples-appended) counters — mirrored here
    sb.append("# HELP graft_build_info Build information.\n")
    sb.append("# TYPE graft_build_info gauge\n")
    sb.append("graft_build_info{version=\"" + HttpApi.BuildVersion +
      "\",spark=\"" + spark.version + "\"} 1\n")
    sb.append("# HELP graft_jvm_info JVM runtime information.\n")
    sb.append("# TYPE graft_jvm_info gauge\n")
    sb.append("graft_jvm_info{version=\"" +
      System.getProperty("java.version") + "\"} 1\n")
    m("graft_api_queries_total",
      "Queries admitted to the evaluation gate.", "counter",
      queriesTotal.get())
    m("graft_ingest_samples_appended_total",
      "Samples committed through the write sink.", "counter",
      samplesAppended.get())
    if (!httpRequests.isEmpty) {
      sb.append("# HELP graft_http_requests_total HTTP requests " +
        "served, by handler context and status code.\n")
      sb.append("# TYPE graft_http_requests_total counter\n")
      import scala.jdk.CollectionConverters._
      httpRequests.asScala.toSeq.sortBy(_._1).foreach {
        case ((path, code), n) =>
          sb.append("graft_http_requests_total{handler=\"" + path +
            "\",code=\"" + code + "\"} " + n.get() + "\n")
      }
    }
    m("graft_api_gate_free_slots",
      "Admission-gate slots currently free (of 20).", "gauge",
      gate.availablePermits().toLong)
    m("graft_engine_reagg_hits_total",
      "Aggregations served by re-aggregating a finer partial.", "counter",
      engine.reaggHits.get())
    // compile churn without a profiler: a query whose plan template
    // re-binds reuses its whole-stage classes, so compilations grow
    // only with new query shapes (and codegen-cache evictions)
    m("graft_codegen_compilations_total",
      "Generated classes compiled by Janino in this JVM.", "counter",
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    m("graft_plan_template_hits_total",
      "Queries served by re-binding their shape's plan template.", "counter",
      engine.templateHits.get())
    m("graft_plan_template_misses_total",
      "Queries that built a new plan template.", "counter",
      engine.templateMisses.get())
    m("graft_chunk_compactions_total",
      "Chunk-store date partitions compacted by the write path.",
      "counter", chunkCompactions.get())
    m("graft_chunk_compactions_deferred_total",
      "Chunk compactions deferred because readers would not drain.",
      "counter", chunkCompactionsDeferred.get())
    m("graft_sample_compactions_total",
      "Samples-table date partitions compacted in the background.",
      "counter", sampleCompactions.get())
    m("graft_compaction_errors_total",
      "Background compactions abandoned on error (gate refires later).",
      "counter", compactionErrors.get())
    // which acceleration tier served each range-function evaluation —
    // routing is silent by design (results are bit-identical either
    // way), so this counter is how an operator verifies dashboards
    // actually hit the materialized rungs
    // single_task counts queries planned as one Spark task (small
    // tables), beside the routes that served their selectors
    import scala.jdk.CollectionConverters._
    val singleTask = engine.singleTaskQueries.get()
    val routes = engine.routeHits.asScala.toSeq.map { case (k, n) => k -> n.get() } ++
      (if (singleTask > 0) Seq("single_task" -> singleTask) else Nil)
    if (routes.nonEmpty) {
      sb.append("# HELP graft_engine_route_total Range-function " +
        "evaluations served per acceleration route; single_task counts " +
        "queries planned as one Spark task.\n")
      sb.append("# TYPE graft_engine_route_total counter\n")
      routes.sortBy(_._1).foreach { case (key, n) =>
        val (route, bucket) = key.split(':') match {
          case Array(r, b) => (r, b)
          case _ => (key, "")
        }
        val lbl = if (bucket.nonEmpty)
          s"""{route="$route",bucket_ms="$bucket"}"""
        else s"""{route="$route"}"""
        sb.append(s"graft_engine_route_total$lbl $n\n")
      }
    }
    // LLM-operator guard counters (r7 advice: a recall-affecting drop
    // logged on an executor is not operator-visible — this is):
    // lsh_buckets_dropped, lsh_band_cap_hits from Similarity.diag,
    // process-lifetime like the JVM gauges above
    val guards = graft.llm.Similarity.diag
    if (!guards.isEmpty) {
      sb.append("# HELP graft_llm_guard_total Adaptive-LSH guard " +
        "engagements (dropped over-wide buckets, band-cap hits).\n")
      sb.append("# TYPE graft_llm_guard_total counter\n")
      import scala.jdk.CollectionConverters._
      guards.asScala.toSeq.sortBy(_._1).foreach { case (k, n) =>
        sb.append(s"""graft_llm_guard_total{guard="$k"} ${n.get()}\n""")
      }
    }
    sb.toString
  }

  /** Live-profiling surface, the JVM analogue of Go's
    * `/debug/pprof/` index the reference mounts via net/http/pprof
    * (acceptance_test.go:32-50 asserts the index answers with
    * "profiles:"): an index page plus thread-stack and heap-summary
    * profiles — what an operator actually reaches for on a stuck or
    * ballooning JVM. */
  private def handlePprof(ex: HttpExchange): String = {
    val path = ex.getRequestURI.getPath
    if (path.endsWith("/threads")) {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.asScala.toSeq
        .sortBy(_._1.getName)
        .map { case (t, frames) =>
          s"${t.getName} (${t.getState})\n" +
            frames.map(f => s"\tat $f").mkString("\n")
        }.mkString("\n\n") + "\n"
    } else if (path.endsWith("/heap")) {
      val rt = Runtime.getRuntime
      val mb = java.lang.management.ManagementFactory.getMemoryMXBean
      val h = mb.getHeapMemoryUsage
      s"""heap:
         |used ${h.getUsed} committed ${h.getCommitted} max ${h.getMax}
         |runtime total ${rt.totalMemory} free ${rt.freeMemory} max ${rt.maxMemory}
         |""".stripMargin
    } else {
      val n = Thread.activeCount()
      s"""profiles:
         |$n\tthreads (full stack dump at /debug/pprof/threads)
         |1\theap (usage summary at /debug/pprof/heap)
         |""".stripMargin
    }
  }

  private def textHandler(f: HttpExchange => String)
      : com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) => if (!handleOptions(ex)) {
      val (code, body) =
        try (200, f(ex))
        catch { case e: Exception => (500, String.valueOf(e.getMessage)) }
      countHttp(ex, code)
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type",
        "text/plain; version=0.0.4; charset=utf-8")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

  /** Binary (protobuf) responses; errors degrade to the same plain
    * text + status Go's `http.Error` produces (`read.go:48-66`). */
  private def binaryHandler(f: HttpExchange => Array[Byte])
      : com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) => if (!handleOptions(ex)) shedding(ex) {
      try {
        val body = f(ex)
        countHttp(ex, 200)
        ex.getResponseHeaders.set("Content-Type", "application/x-protobuf")
        ex.getResponseHeaders.set("Content-Encoding", "snappy")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
      } catch {
        case ApiError(status, _, msg) =>
          countHttp(ex, status)
          val b = (msg + "\n").getBytes(UTF_8)
          ex.getResponseHeaders.set("Content-Type",
            "text/plain; charset=utf-8")
          ex.sendResponseHeaders(status, b.length)
          ex.getResponseBody.write(b)
        case e: Exception =>
          countHttp(ex, 500)
          val b = (String.valueOf(e.getMessage) + "\n").getBytes(UTF_8)
          ex.getResponseHeaders.set("Content-Type",
            "text/plain; charset=utf-8")
          ex.sendResponseHeaders(500, b.length)
          ex.getResponseBody.write(b)
      } finally ex.close()
    }

  /** Remote read (S5, `internal/read/read.go:45-126`): snappy+protobuf
    * ReadRequest in, one QueryResult per query out, series sorted by
    * `labels.Compare`, samples by timestamp, labels name-sorted —
    * matching `remote.ToQueryResult` over a sorted series set. */
  private def handleRead(ex: HttpExchange): Array[Byte] = {
    val req =
      try Prompb.decodeReadRequest(Prompb.snappyUncompress(readBody(ex)))
      catch {
        case e: ApiError => throw e
        case e: Exception => throw ApiError(400, "bad_data",
          s"cannot decode read request: ${e.getMessage}")
      }
    val results = req.queries.map { q =>
      gated { HttpApi.readQueryResult(engine, q) }
    }
    Prompb.snappyCompress(
      Prompb.encodeReadResponse(Prompb.ReadResponse(results)))
  }

  private def parseOr400(query: String): Ast.Expr =
    try Parser.parse(query)
    catch {
      case e: Exception => throw ApiError(400, "bad_data",
        s"invalid parameter 'query': ${e.getMessage}")
    }
}

object HttpApi {
  private[api] case class ApiError(status: Int, errorType: String,
      msg: String) extends RuntimeException(msg)

  /** A server over an [[graft.storage.Ingest]] table where `/write`
    * appends land in the SAME table the queries read: after each
    * write the sink rebuilds the engine over a fresh file listing and
    * swaps it in (see [[HttpApi.swapEngine]]), releasing the old
    * engine's cached series dimension so a long-running writer never
    * accumulates stale caches. This is the reference's single-node
    * write → query round trip (`acceptance_test.go:124-161`) as a
    * deployment shape.
    *
    * The live-write deployment gets the SAME acceleration tiers as
    * the read-only `Serve` modes — the reference's TSDB head keeps
    * its inverted index live during appends (`tsdb/head.go`,
    * `tsdb/index/postings.go:267-418`), and this is the analogue:
    *   - a series index at `path/_index`, incrementally upserted per
    *     write ([[graft.storage.Ingest.appendSeriesIndex]] — only the
    *     batch's NOVEL sigs are appended), which serves as the
    *     engine's series dimension (label rejoins, metadata);
    *   - optional `rollups` fold-partials rungs at `path/_rollup_<ms>`,
    *     incrementally refreshed per write for exactly the UTC dates
    *     the batch touched ([[graft.storage.Ingest.refreshFoldPartials]]),
    *     so aligned dashboard queries route to partials immediately
    *     after the write that fed them;
    *   - an optional Gorilla `chunks` tier at `path/_chunks`: each
    *     write batch cuts its own chunks ([[graft.storage.ChunkStore]],
    *     the per-batch shape of `ChunkStore.stream` — the reference's
    *     head cutting chunks live as samples arrive, vendor
    *     `tsdb/head.go`), the serving engine binds the tier so
    *     selector scans read per-chunk rows with envelope pruning
    *     before decode.
    * Fragmentation on the samples table and the chunk tier is bounded
    * by a TRUE background compactor (r16): the sink schedules a gate
    * check for just the dates each batch touched, a daemon thread
    * rewrites due partitions from a file snapshot while writes and
    * reads keep flowing, and only the metadata-op commit takes the
    * write lock (under a brief reader quiesce) — the reference's
    * background compaction loop (`tsdb/db.go:54-70`,
    * `compact.go:128-332`) rather than the r15 inline sweep whose
    * per-write listing cost grew with table age. Per-date doubling
    * watermarks persist in `_compact_watermarks`, so a restart
    * resumes the geometric cadence instead of mass-compacting.
    * The tier dirs are underscore-prefixed, so the table's own file
    * index never picks them up as data. On a pre-existing table the
    * missing tiers are bootstrapped once at startup. The `_tiers_ok`
    * marker records the tier CONFIGURATION it certifies (rollups +
    * chunks): a server started with a different configuration heals
    * once at boot instead of trusting tiers another configuration
    * kept fresh — without this, reopening a chunk-less table with
    * `chunks = true` would serve a stale store the previous server
    * never appended to. */
  def forTable(spark: SparkSession, path: String, port: Int = 0,
      rules: Option[graft.streaming.RecordingRules.Group] = None,
      rollups: Seq[Long] = Nil,
      indexCompactThreshold: Int = 4 * graft.storage.Ingest.SeriesBuckets,
      refreshEveryWrites: Int = 1,
      chunks: Boolean = false,
      chunkCompactThreshold: Int = 4 * graft.storage.Ingest.SeriesBuckets,
      sampleCompactThreshold: Int = 8 * graft.storage.Ingest.SeriesBuckets)
      : HttpApi = {
    import graft.storage.{ChunkStore, Ingest}
    import org.apache.spark.sql.functions._
    // fail at construction, not on the first /write: a rung that does
    // not divide a day would otherwise surface as a 500 to the writer
    rollups.foreach(Ingest.requireDayDivisible)
    require(refreshEveryWrites >= 1, "refreshEveryWrites must be >= 1")
    // a crash inside a samples-table compaction's three-op commit
    // leaves the original partition moved aside — restore it before
    // anything reads the table (r15)
    graft.storage.Ingest.recoverStagedCompaction(spark, path)
    val indexPath = new org.apache.hadoop.fs.Path(path, "_index").toString
    // optional Gorilla chunk tier at path/_chunks (r7): each write
    // batch cuts its own chunks — the per-batch shape of
    // [[graft.storage.ChunkStore.stream]], with the _tiers_ok marker
    // playing the role of its replay-safe batch commit (a crash
    // between the table append and the chunk append leaves the marker
    // absent, and heal rebuilds the store from the table). Like the
    // streaming twin, per-batch chunks are short; the background
    // compactor (ChunkStore.stageCompaction) restores full chunks.
    val chunksPath = new org.apache.hadoop.fs.Path(path, "_chunks").toString
    def rollupPath(b: Long) = Ingest.rollupPath(path, b)
    // tier-freshness marker: the sink DELETES it before the append
    // and re-creates it only after the index upsert + rung refresh
    // complete, so a crash anywhere in that window leaves the marker
    // absent and the next startup HEALS the tiers from the table
    // (existence checks alone cannot see a stale tier — an index that
    // exists but missed the last batch would silently hide the new
    // series from every matcher, diverging from raw forever)
    val tableFs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tiersOk = new org.apache.hadoop.fs.Path(path, "_tiers_ok")
    // the marker CONTENT pins the tier configuration it certifies: a
    // marker written by a server with different tiers (e.g. chunks
    // off) must not be trusted by one with more (its extra tiers were
    // never kept fresh) — mismatch forces one boot-time heal
    val tiersConfig =
      s"rollups=${rollups.sorted.mkString(",")};chunks=$chunks\n"
    def certifyTiers(): Unit = {
      tableFs.mkdirs(tiersOk.getParent)
      val out = tableFs.create(tiersOk, true)
      out.write(tiersConfig.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      out.close()
    }
    def tiersCertified(): Boolean =
      tableFs.exists(tiersOk) && {
        val in = tableFs.open(tiersOk)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) == tiersConfig
        finally in.close()
      }
    // a crash inside a background CHUNK compaction's commit leaves the
    // chunk partition half-swapped with the `_tiers_ok` marker still
    // present (the background compactor runs outside the sink's
    // marker discipline — compaction never changes logical content, so
    // deleting the marker would force a needless full heal per
    // compaction); roll the swap back or forward before anything reads
    // the store (r16)
    graft.storage.StagedSwap.recover(tableFs,
      new org.apache.hadoop.fs.Path(chunksPath))
    def healTiers(): Unit = {
      if (Ingest.hasParquetData(spark, path)) {
        spark.catalog.refreshByPath(path)
        spark.catalog.refreshByPath(indexPath)
        // full-table upsert is idempotent (left_anti keeps only novel
        // sigs) and the rung refresh rebuilds every date — heal cost
        // is one pass over the table, paid only after a crash or on
        // first boot over a pre-existing table
        Ingest.appendSeriesIndex(Ingest.readTable(spark, path), indexPath)
        if (chunks) {
          // full rebuild: collapse cross-batch duplicate (sig, t) rows
          // exactly like ChunkStore.stageCompaction (the encoder's
          // strictly-increasing contract; smallest value wins, stale
          // beats plain at one timestamp), then re-cut the whole store
          val collapsed = ChunkStore.collapseDupSamples(
            Ingest.readTable(spark, path))
          ChunkStore.write(collapsed, chunksPath, overwrite = true)
          spark.catalog.refreshByPath(chunksPath)
        }
        rollups.foreach { b =>
          Ingest.refreshFoldPartials(spark, path, rollupPath(b), b)
          // the session FileStatusCache may hold the pre-heal listing
          // (mid-session heal after a failed write, or a test session
          // that served this path before) — invalidate like the sink's
          // incremental path does
          spark.catalog.refreshByPath(rollupPath(b))
        }
        spark.catalog.refreshByPath(indexPath)
      }
      certifyTiers()
    }
    // bootstrap: heal when the marker is missing or certifies a
    // DIFFERENT tier configuration (first boot, a crash mid-write, a
    // pre-existing table served for the first time, or a server
    // restarted with more tiers than the last one kept fresh), or
    // when a tier was removed out-of-band
    if (!tiersCertified() ||
        (Ingest.hasParquetData(spark, path) &&
          (!Ingest.hasParquetData(spark, indexPath) ||
            (chunks && !Ingest.hasParquetData(spark, chunksPath)) ||
            rollups.exists(b => !Ingest.hasParquetData(spark, rollupPath(b))))))
      healTiers()
    def freshEngine(bindRungs: Boolean = true) = {
      val idx =
        if (Ingest.hasParquetData(spark, indexPath))
          Some(spark.read.parquet(indexPath))
        else None
      // bindRungs=false while a debounced refresh is outstanding: the
      // rungs on disk lag the table, and routing an aligned query to a
      // stale rung would silently return pre-deferral results — the
      // engine falls back to the (correct, slower) raw path until the
      // deferred refresh lands and a fully-tiered engine swaps in
      val ladder = if (!bindRungs) Nil else rollups.flatMap { b =>
        val p = rollupPath(b)
        if (Ingest.hasParquetData(spark, p))
          // drop the partition key the refresh writes by — the engine
          // consumes the exact foldPartials schema
          Some((spark.read.parquet(p).drop("date"), b))
        else None
      }
      // chunk tier: fresh after every successful write (the sink cuts
      // the batch's chunks before re-certifying the marker; a failed
      // or crashed write heals before the next engine swap), so bind
      // it whenever the store exists — selector scans then serve from
      // per-chunk rows with envelope pruning before decode
      val chunkT =
        if (chunks && Ingest.hasParquetData(spark, chunksPath))
          Some(ChunkStore.read(spark, chunksPath))
        else None
      new PromQLEngine(spark, Ingest.readTable(spark, path),
        partialsLadder = ladder, seriesIndex = idx, chunkTier = chunkT)
    }
    var api: HttpApi = null
    // one writer at a time: the HTTP pool is multi-threaded, and two
    // concurrent Spark appends to ONE parquet path race on the shared
    // `_temporary` staging dir — whichever job commits first deletes
    // the other's in-flight task files, silently losing acknowledged
    // writes. The reference's TSDB head serializes appends per series
    // under its own locks; a coarse per-table lock is the analogue
    // (writes stay concurrent WITH queries, which read committed
    // listings only).
    val writeLock = new Object
    // debounce/dirty state, all guarded by writeLock:
    //  - pendingDates: dates whose rung partitions lag the table
    //    because their refresh was deferred (refreshEveryWrites > 1);
    //    nonempty ⇔ the marker is absent FOR A KNOWN, HEALTHY reason
    //  - writesSinceRefresh: the debounce trigger
    //  - failedDirty: a sink invocation threw mid-write in this
    //    process (handler() answers 500 and keeps serving), so the
    //    failed batch's rows are in the table but its novel sigs and
    //    dates never reached the tiers — the NEXT write must heal
    //    everything, not just its own batch, or the marker it
    //    re-creates would certify tiers that permanently hide the
    //    failed batch's series from every matcher
    // ---- background date-partition compactor (r16) ---------------------
    // The r15 compaction sweeps listed EVERY date= dir of both tables
    // on EVERY write (per-write metadata cost growing with table AGE,
    // not batch size — the one 100×-scale defect of that round) and
    // ran the O(date) rewrite inline under the write lock (13–25 s
    // write stalls at 2M-sample scale in the serving-day soak). r16
    // moves the whole pipeline off the write path: the sink only
    // SCHEDULES a check for the dates its batch touched; a single
    // daemon thread lists just those partitions, applies the geometric
    // doubling gate, rewrites from a file SNAPSHOT while writes and
    // reads keep flowing (StagedSwap — appends landing mid-rewrite are
    // not in the snapshot and survive the commit untouched), and takes
    // the write lock only for the metadata-op commit, held under a
    // brief reader quiesce so no query plans against the half-swapped
    // listing (the r15 advisor's silent-miss window). The reference
    // runs its compactor the same way — a background loop off the
    // write path (`tsdb/db.go:54-70` driving `compact.go:128-332`).
    //
    // The per-date doubling watermarks (compact only once a partition
    // has DOUBLED since its last compaction — bounds a day's total
    // rewrite work at ~2× its final volume, the LSM size-tiered
    // argument) are PERSISTED per tier root (`_compact_watermarks`):
    // the r15 in-memory maps meant a restarted server saw `2 × 0` and
    // mass-compacted every over-threshold date on its first write.
    val tableRoot = new org.apache.hadoop.fs.Path(path)
    val chunkRoot = new org.apache.hadoop.fs.Path(chunksPath)
    val sampleWatermarks = graft.storage.CompactionWatermarks
      .load(tableFs, tableRoot)
    val chunkWatermarks = graft.storage.CompactionWatermarks
      .load(tableFs, chunkRoot)
    val compactExec = java.util.concurrent.Executors
      .newSingleThreadExecutor(r => {
        val t = new Thread(r, "graft-compactor"); t.setDaemon(true); t
      })
    // dates with a check queued or a compaction in flight, keyed
    // "s:<date>" / "c:<date>" — dedups the sink's repeated schedules
    // for a hot date (the executor is single-threaded, so compactions
    // themselves never overlap)
    val compactPending =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    var pendingDates = Set.empty[String]
    // the raw frames of the deferred writes, in arrival order — the
    // debounced flush folds the union of their PER-BATCH canonical
    // rows (exactly what was appended; cross-batch dups stay separate
    // rows in the table, so a union-level dedup would diverge from a
    // refold) and merges it associatively. Holding the frames pins
    // their driver-side source rows for ≤ refreshEveryWrites batches —
    // bounded by the debounce window, freed at every flush/heal.
    var pendingBatches = Vector.empty[DataFrame]
    var writesSinceRefresh = 0
    var failedDirty = false
    // r14: the non-debounced common path merges just THIS write's
    // partials into the touched rungs (associative, O(batch +
    // rung-slice)) instead of refolding each touched date's
    // accumulated volume. r15: the DEBOUNCED flush takes the same
    // path — the pending batches' per-batch canonical rows union into
    // ONE "new" side (foldPartials over the union is order-free, so
    // batches that interleave EACH OTHER are exact; the rung-vs-union
    // interleave probe inside refreshFoldPartialsIncremental guards
    // the old-side junction and falls back to the full refold), so
    // `refreshEveryWrites > 1` — the recommended bursty config — no
    // longer pays the accumulated-date refold. The pending set is
    // always exactly the buffered batches (the incremental contract:
    // all appended, none merged — the sink grows both together under
    // writeLock and every reset clears both); every heal keeps the
    // idempotent full refold. Crash safety is unchanged — the tiersOk
    // marker is already deleted, so a crash mid-merge heals fully at
    // boot. The dedup pass re-derives the appended canonical rows;
    // pending-bounded, and far below the refold it replaces once a
    // date has accumulated a few batches (SCALE.md §6 r14/r15 A/B).
    def refreshRungsIncremental(batchesRaw: Seq[DataFrame],
        canonSingle: Option[DataFrame] = None): Unit = {
      // r15: the non-debounced chunks path already HOLDS this batch's
      // canonical rows checkpointed (the sink computes them for the
      // table + chunk appends) — reuse them instead of re-running the
      // batch's dominant dedup shuffle a second time; the union path
      // (and the chunk-less config) derives as before
      val (canon, derived) = canonSingle match {
        case Some(c) if batchesRaw.size == 1 => (c, false)
        case _ => (batchesRaw.map(Ingest.dedup(_, strict = false))
          .reduce(_.unionByName(_)).persist(), true)
      }
      try {
        rollups.foreach { b =>
          Ingest.refreshFoldPartialsIncremental(spark, path,
            rollupPath(b), b, canon)
          spark.catalog.refreshByPath(rollupPath(b))
        }
      } finally if (derived) canon.unpersist(false)
      api.rollupRefreshes.incrementAndGet()
      api.rollupIncrementalMerges.incrementAndGet()
      pendingDates = Set.empty
      pendingBatches = Vector.empty
      writesSinceRefresh = 0
    }
    // One background-compactor check for (tier, date): list THAT
    // partition, apply the tier's gate, and if it fires run the
    // snapshot-staged rewrite + locked commit. Runs only on the
    // compactor thread (see scheduleCompactionChecks).
    def checkAndCompact(samplesTier: Boolean, date: String): Unit = {
      val root = if (samplesTier) tableRoot else chunkRoot
      val wm = if (samplesTier) sampleWatermarks else chunkWatermarks
      val threshold =
        if (samplesTier) sampleCompactThreshold else chunkCompactThreshold
      val part = graft.storage.StagedSwap.livePartition(root, date)
      if (!tableFs.exists(part)) return
      val parts = tableFs.listStatus(part)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      val bytes = parts.map(_.getLen).sum
      // geometric gate (r15): fragmentation alone is not worth an
      // O(date) re-encode — require the partition to have DOUBLED
      // since its last compaction, bounding a day's total rewrite work
      // at ~2× its final volume; the samples tier adds a 4× hard file
      // cap bounding the degradation window inside a long doubling
      // interval (the r15 confirm soak measured the per-query task
      // floor climbing with file count between late-day compactions)
      val fire = parts.length > threshold &&
        (bytes >= 2 * wm.getOrElse(date, 0L) ||
          (samplesTier && parts.length > 4 * threshold))
      if (!fire) return
      val snapshot = parts.map(_.getPath).toSeq
      // the heavy rewrite runs OUTSIDE every lock, reading only the
      // snapshot files: appends keep landing (their files are not in
      // the snapshot, so the commit never touches them) and queries
      // keep serving the live listing
      if (samplesTier) Ingest.stageCompaction(spark, path, date, snapshot)
      else ChunkStore.stageCompaction(spark, chunksPath, date, snapshot)
      val swappedOut = writeLock.synchronized {
        // the commit is metadata-only; hold it under a short reader
        // quiesce so no query plans against the half-swapped listing
        // (the r15 advisor's silent-miss window), falling back to an
        // unquiesced commit if readers will not drain — the same
        // bounded exposure every staged commit had before, now only
        // on the drain-timeout path
        def commit() = graft.storage.StagedSwap
          .commit(tableFs, root, date, snapshot)
        val committed = api.quiesced(HttpApi.CommitDrainTimeoutMs)(commit())
          .getOrElse(commit())
        if (committed) {
          spark.catalog.refreshByPath(if (samplesTier) path else chunksPath)
          // watermark = the bytes the GATE measured (r15 semantics:
          // next compaction once the partition doubles past this
          // trigger point) — the post-commit size would be smaller
          // (re-encoding merges pages) and make the cadence fire
          // faster than the 2×-total-work bound the gate promises
          wm(date) = bytes
          graft.storage.CompactionWatermarks.save(tableFs, root, wm)
          (if (samplesTier) api.sampleCompactions else api.chunkCompactions)
            .incrementAndGet()
          Some(api.swapEngine(freshEngine(bindRungs = pendingDates.isEmpty)))
        } else None
      }
      // release OUTSIDE the write lock: unpersisting the swapped-out
      // engine's caches synchronizes on their builders, and a query
      // mid-materialization would otherwise hold this thread — and
      // with it the write lock — for its whole run (the r16 soak
      // caught exactly that: a 128 s write stall behind a release)
      swappedOut.foreach(_.releaseSeriesDim())
    }
    def scheduleCompactionChecks(samplesTier: Boolean,
        dates: Iterable[String]): Unit =
      dates.foreach { date =>
        val key = (if (samplesTier) "s:" else "c:") + date
        if (compactPending.add(key)) {
          // execute, not submit: a Future nobody reads would capture
          // and drop a fatal error the task rethrows
          try compactExec.execute(new Runnable {
            def run(): Unit =
              try checkAndCompact(samplesTier, date)
              catch {
                case scala.util.control.NonFatal(t) =>
                  // abandon: clean the staging dir, count it, let the
                  // gate refire on a later write — a compaction must
                  // never take the serving path down with it (a fatal
                  // error still propagates to the thread's handler)
                  api.compactionErrors.incrementAndGet()
                  graft.storage.StagedSwap.abort(tableFs,
                    if (samplesTier) tableRoot else chunkRoot, date)
                  System.err.println(
                    s"background compaction $key abandoned: $t")
              } finally compactPending.remove(key)
          })
          catch { // server stopping — executor already shut down
            case _: java.util.concurrent.RejectedExecutionException =>
              compactPending.remove(key)
          }
        }
      }
    val sink = (df: DataFrame) => writeLock.synchronized {
      // dirty until the tiers catch up with this batch (see healTiers).
      // delete() returning false means the marker was ALREADY absent:
      // with no deferral outstanding that is a prior write's failure
      // (or an out-of-band deletion) — its batch is in the table but
      // not the tiers, so take the full-heal path below
      val markerWasAbsent = !tableFs.delete(tiersOk, false)
      val needHeal = failedDirty || (markerWasAbsent && pendingDates.isEmpty)
      // canonical rows this batch appended, observed on the append's
      // own write job — returned so callers metering ingest
      // (writeDirect) never re-scan the edge frame to count it
      var appended = 0L
      // the chunks path's checkpointed canonical frame, kept alive for
      // the WHOLE sink call so the rung refresh can reuse it (r15);
      // freed in the outermost finally on every path
      var sharedCanon: Option[DataFrame] = None
      def freeCheckpoint(c: DataFrame): Unit =
        c.queryExecution.analyzed.foreach {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking = false)
          case _ =>
        }
      try {
        if (chunks) {
          // dedup ONCE, materialize, feed both stores: the chunk
          // encoder needs exactly dedup's canonical per-(series, t)
          // output, and re-deriving it would re-run the batch's
          // dominant shuffle for the second append. The checkpoint
          // blocks are freed explicitly once both appends committed
          // (r8 advice: leaving them to GC accumulates executor
          // storage across a long-running writer's batches).
          val canon = Ingest.dedup(df, strict = false).localCheckpoint(true)
          sharedCanon = Some(canon)
          appended = Ingest.appendCanonical(canon, path)
          if (!needHeal) {
            // per-batch chunk cut — the batch shape of
            // ChunkStore.stream; skipped when a full heal is about to
            // rebuild the store from the committed table anyway.
            // Fragmentation control moved OFF this path in r16: the
            // background compactor (checkAndCompact) re-encodes the
            // touched dates' partitions once their geometric gate
            // fires — scheduled below with the samples tier's checks.
            ChunkStore.write(canon, chunksPath)
            spark.catalog.refreshByPath(chunksPath)
          }
        } else appended = Ingest.append(df, path)
        // the UTC dates this batch touched — one small distinct job on
        // the batch (over the checkpointed canonical frame when the
        // chunk path holds one). This is the r16 sweep-scope fix: the
        // compaction gates below check only THESE partitions, where
        // the r15 sweeps listed every date= dir of both tables per
        // write — a per-write metadata term that grew with table AGE
        // (a year of serving ≈ 730 listings per batch)
        val touched = Ingest.datesOf(sharedCanon.getOrElse(df))
        if (needHeal) {
          // full-table index upsert + all-dates rung refresh: covers
          // this batch AND whatever the failed/unknown batch left out.
          // Heal's chunk rebuild OVERWRITES the whole store, so drain
          // readers first like the compactor — but heal is MANDATORY
          // (the tiers are wrong until it runs), so if the gate will
          // not drain, heal anyway: a possible FileNotFoundException
          // on an in-flight query beats serving stale tiers forever.
          val drained = api.quiesced(HttpApi.CompactDrainTimeoutMs) {
            healTiers()
          }
          if (drained.isEmpty) healTiers()
          if (rollups.nonEmpty) api.rollupRefreshes.incrementAndGet()
          // heal's chunk rebuild overwrote the whole store, taking the
          // persisted chunk watermarks with it — drop the in-memory
          // copy too (the rebuilt partitions are fully compacted, so
          // the next gate decision needs real re-fragmentation first)
          if (chunks) chunkWatermarks.clear()
          failedDirty = false
          pendingDates = Set.empty
          pendingBatches = Vector.empty
          writesSinceRefresh = 0
        } else {
          // invalidate the index listing BEFORE the upsert's left_anti
          // probe: a stale cached listing would miss recently appended
          // sigs and re-append them as duplicates
          spark.catalog.refreshByPath(indexPath)
          Ingest.appendSeriesIndex(df, indexPath)
          // two layers of staleness: the session-shared FileStatusCache
          // (refreshByPath clears it — without this even a brand-new
          // read reuses the old listing) and the analyzed plan's own
          // index snapshot (which only the engine swap can replace)
          spark.catalog.refreshByPath(path)
          if (rollups.nonEmpty) {
            // refresh the rungs AFTER the append so they read the
            // committed listing — but compute the affected dates from
            // the batch (one Spark job), so a write touching one day
            // rewrites one partials partition. With
            // refreshEveryWrites > 1 the refresh is DEBOUNCED: the
            // touched dates accumulate and the rungs are rewritten
            // once per k writes, amortizing the ~per-write rewrite
            // cost across a burst; until then the marker stays
            // deleted and the swapped
            // engine skips the stale rungs (raw-path correctness)
            pendingDates ++= touched
            pendingBatches :+= df
            writesSinceRefresh += 1
            // r15: the flush is the associative pending-union merge
            if (writesSinceRefresh >= refreshEveryWrites)
              refreshRungsIncremental(pendingBatches, sharedCanon)
          }
          spark.catalog.refreshByPath(indexPath)
          // tiers are consistent with the committed table again —
          // unless a rung refresh is still deferred, in which case the
          // marker stays absent (a crash now heals at next startup,
          // exactly as if this write had failed). certifyTiers, not a
          // bare create: the marker must carry the tier-config string
          // or the next boot's tiersCertified() reads an empty marker,
          // fails the config match, and heals the whole table on EVERY
          // restart (r8 advice)
          if (pendingDates.isEmpty) certifyTiers()
        }
        // bound fragmentation on BOTH date-partitioned tiers (r15
        // found the collapse: a serving day accumulates ~32 files per
        // append and dies at ~2600; r16 moved the cure off the write
        // path): schedule a background gate check for exactly the
        // dates this batch touched — the write's own cost is two
        // queue-insertions, the listing and any rewrite happen on the
        // compactor thread
        if (chunks) scheduleCompactionChecks(samplesTier = false, touched)
        scheduleCompactionChecks(samplesTier = true, touched)
        // bound index fragmentation: every batch with novel sigs
        // appends a file, so a long-running writer would accumulate
        // thousands of tiny files on the dimension table every matcher
        // scans — when the listing crosses the threshold (default 4×
        // the compacted width), rewrite it in place (cheap fs listing
        // per write; the compaction itself runs rarely and inside the
        // same write lock)
        val idxDir = new org.apache.hadoop.fs.Path(indexPath)
        if (tableFs.exists(idxDir) &&
            tableFs.listStatus(idxDir).count(
              _.getPath.getName.endsWith(".parquet")) > indexCompactThreshold) {
          graft.storage.Ingest.compactSeriesIndex(spark, indexPath)
        }
      } catch {
        case e: Throwable => failedDirty = true; throw e
      } finally sharedCanon.foreach { c =>
        // free the localCheckpoint's blocks now, not at GC time (r8
        // advice) — after the rung refresh that reuses them (r15)
        freeCheckpoint(c)
      }
      api.swapEngine(freshEngine(bindRungs = pendingDates.isEmpty))
        .releaseSeriesDim()
      appended
    }
    api = new HttpApi(spark, freshEngine(), Some(sink), port, rules)
    api.tierFlushHook = () => writeLock.synchronized {
      if (pendingDates.nonEmpty && !failedDirty) {
        refreshRungsIncremental(pendingBatches)
        certifyTiers()
        api.swapEngine(freshEngine()).releaseSeriesDim()
      }
    }
    api.stopHook = () => compactExec.shutdownNow()
    api.compactionDrain = timeoutMs =>
      try {
        // FIFO executor: a no-op queued now completes only after every
        // previously scheduled check/compaction has
        compactExec.submit(new Runnable { def run(): Unit = () })
          .get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
        true
      } catch { case _: java.util.concurrent.TimeoutException |
                     _: java.util.concurrent.RejectedExecutionException =>
        false }
    // boot sweep, IN THE BACKGROUND: a server restarted mid-day picks
    // its compaction cadence back up without the caller writing first
    // — one full listing per tier root, then the ordinary per-date
    // gate checks against the PERSISTED watermarks (so a restart pays
    // zero redundant compactions, the r15 verdict's restart hole).
    // This is also the only remaining full-table listing, and it runs
    // once per process on the compactor thread, never per write.
    def bootDates(root: org.apache.hadoop.fs.Path): Seq[String] =
      if (!tableFs.exists(root)) Nil
      else tableFs.listStatus(root)
        .filter(_.getPath.getName.startsWith("date="))
        .map(_.getPath.getName.stripPrefix("date=")).toSeq
    if (chunks) scheduleCompactionChecks(samplesTier = false,
      bootDates(chunkRoot))
    scheduleCompactionChecks(samplesTier = true, bootDates(tableRoot))
    api
  }

  /** One remote-read query's egress (S5, `internal/read/read.go:45-126`
    * + `storage/remote/codec.go:111-139` ToQueryResult): matchers become
    * a selector the engine scans with the time bounds pushed down;
    * series sorted by `labels.Compare`, labels name-sorted, samples by
    * timestamp. Markers INCLUDED: the reference's remote read serves
    * stored samples, staleness markers among them — a federating reader
    * that never receives a series' end marker resurrects its last value
    * for a full lookback window. The stale flag travels as a column
    * (Tungsten normalizes NaN bits) and the StaleNaN payload is
    * reconstituted driver-side; prompb's fixed64 carries the exact bits
    * over the wire. Shared by the live `/read` handler and the
    * `s5_read_roundtrip` oracle witness so the witness exercises the
    * production egress path. */
  def readQueryResult(engine: PromQLEngine, q: Prompb.Query)
      : Prompb.QueryResult = {
    val selector = selectorFor(q.matchers)
    val rows = engine
      .rawSamplesWithMarkers(selector, Some(q.startMs), Some(q.endMs))
      .collect().toSeq.map { r =>
        val v = if (r.getBoolean(3)) Samples.StaleNaN else r.getDouble(2)
        (r.getMap[String, String](0).toMap, r.getLong(1), v)
      }
    val series = rows.groupBy(_._1).toSeq
      .sortBy { case (l, _) => l }(Samples.labelsOrdering)
      .map { case (l, pts) =>
        Prompb.TimeSeries(
          l.toSeq.sortBy(_._1).map { case (k, v) => Prompb.Label(k, v) },
          pts.sortBy(_._2).map { case (_, t, v) => Prompb.Sample(v, t) })
      }
    Prompb.QueryResult(series)
  }

  /** prompb matchers → a PromQL selector the engine evaluates
    * (`read.go:127-152`'s fromLabelMatchers, inverted through our
    * parser — the lexer's Go-style escapes make any label value
    * representable). */
  private[api] def selectorFor(ms: Seq[Prompb.LabelMatcher]): String = {
    if (ms.isEmpty)
      throw ApiError(400, "bad_data", "read query has no matchers")
    val parts = ms.map { m =>
      val op = m.typ match {
        case 0 => "="
        case 1 => "!="
        case 2 => "=~"
        case 3 => "!~"
        case t => throw ApiError(400, "bad_data", s"unknown matcher type $t")
      }
      if (!Samples.isValidLabelName(m.name))
        throw ApiError(400, "bad_data", s"invalid matcher name: ${m.name}")
      s"""${m.name}$op"${esc(m.value)}""""
    }
    s"{${parts.mkString(",")}}"
  }

  private[api] def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Version label for the build-info metric (the reference's
    * `timbala_build_info`, `cmd/timbala/main.go` via
    * `version.NewCollector`). */
  val BuildVersion = "0.1.0"

  /** HTTP pool bound: request-per-thread up to this many platform
    * threads (idle ones time out after 60 s). Sized well above the
    * [[MaxConcurrent]] gate so queued queries can pin threads without
    * capping admission, yet bounded so a connection flood cannot grow
    * threads without limit the way the old cached pool could. */
  val PoolThreads = 256

  /** Load-shed threshold for request-pinning handlers: past this many
    * in-flight requests new ones get an immediate 503. The
    * PoolThreads − MaxInflight headroom keeps threads free for the
    * 503 path itself and for the exempt observability endpoints.
    * A var so specs can shrink the flood needed to drive the shed
    * path; production value 224. */
  @volatile private[graft] var MaxInflight = 224

  /** Engine defaults (`cmd/timbala/main.go:218-223`). */
  val MaxConcurrent = 20
  val QueueTimeoutMs: Long = 120000L
  val QueryTimeoutMs: Long = 120000L
  val MaxBodyBytes: Long = 10L * 1024 * 1024 // main.go:44

  /** How long a write waits for in-flight queries to drain before
    * deferring a chunk compaction (see HttpApi#quiesced). Well under
    * the query budget, so queries queued behind the barrier keep most
    * of theirs. */
  val CompactDrainTimeoutMs: Long = 10000L

  /** Drain budget for a background compaction's COMMIT (r16): the
    * commit is a handful of filesystem metadata ops, so the quiesce
    * that closes the silent-miss window only needs in-flight queries
    * to finish, not a long barrier; if they will not drain in this
    * budget the commit proceeds unquiesced (the pre-r16 exposure,
    * bounded to the drain-timeout path). */
  val CommitDrainTimeoutMs: Long = 2000L

  private val LabelValuesRe = "^/api/v1/label/([^/]+)/values$".r
  private val LabelNameRe = "^[a-zA-Z_][a-zA-Z0-9_]*$".r
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()
}
