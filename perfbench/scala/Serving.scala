package graft.perfbench

import java.net.{URI, URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{HttpApi, Prompb}
import graft.exec.PromQLEngine
import graft.promql.Parser
import graft.storage.{ChunkStore, Ingest}

/** The two serving workloads over `HttpApi.forTable(rollups = 1h + 1d,
  * chunks = true)`:
  *
  *   - `dash_read`: a read-only dashboard, whole refreshes back to back
  *     from one closed-loop client;
  *   - `ingest_mixed`: two remote-write shards under a low-rate reader.
  *
  * Untraced (`serve`): set up, write the request schedule and the write
  * bodies to the run directory, print `@@READY`, and wait while the
  * separate load generator drives HTTP. On `verify` from stdin,
  * re-answer every read with an untiered engine on the same table,
  * check every acknowledged sample is stored, print `@@VERIFIED`.
  *
  * Traced (`trace`): set up the same seeded inputs, replay the schedule
  * serially over HTTP (untraced wall per request), then in process
  * through the layers' public functions with spans, print `@@TRACE`. */
object Serving {
  val T0 = 1704132000000L // 2024-01-01T18:00Z
  val StepMs = 60000L
  val HistoryPoints = 18 * 60 // 18 h at 60 s, over two UTC dates
  val TEnd: Long = T0 + (HistoryPoints - 1) * StepMs
  val Rollups = Seq(3600000L, 86400000L)
  val Instances = 16
  val Jobs = 4
  val Codes = Seq("200", "404", "500")
  val ReaderRate = 1.0 // ingest_mixed reader, requests/s
  val WritesPerShard = 64
  val RefreshSize = 10 // requests in one dashboard refresh (Mix.cycle)

  final case class Series(labels: Map[String, String], counter: Boolean,
      rate: Double, period: Int, phase: Int) {
    def zone: String = labels("zone")
    def value(k: Int): Double =
      if (counter) rate * ((k + phase) % period)
      else 10.0 + rate * ((k * 7 + phase) % 13)
  }

  /** The seeded series set: counters per (instance, code) and one
    * capacity gauge per instance, with three extra labels whose names
    * and values are random `[a-z]` strings. */
  def seriesSet(seed: Long): Seq[Series] = {
    val rnd = new scala.util.Random(seed)
    def word(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val extraNames = Seq.fill(3)("x" + word(5))
    val extraValues = extraNames.map(_ => Seq.fill(6)(word(4)))
    (0 until Instances).flatMap { i =>
      val base = Map("job" -> s"job-${i % Jobs}", "instance" -> f"inst-$i%03d",
        "zone" -> (if (i % 2 == 0) "a" else "b")) ++
        extraNames.zip(extraValues).map { case (n, vs) =>
          n -> vs(rnd.nextInt(vs.size)) }
      Codes.map { c =>
        Series(base + ("__name__" -> "bench_requests_total") + ("code" -> c),
          counter = true, rate = 0.5 + rnd.nextInt(400) / 8.0,
          period = 300 + rnd.nextInt(1500), phase = rnd.nextInt(3000))
      } :+ Series(base + ("__name__" -> "bench_capacity"), counter = false,
        rate = 1.0 + rnd.nextInt(40) / 4.0, period = 1, phase = rnd.nextInt(13))
    }
  }

  def extraLabelNames(series: Seq[Series]): Seq[String] =
    series.head.labels.keys.filter(_.startsWith("x")).toSeq.sorted

  val edgeSchema: StructType = StructType(Seq(
    StructField("labels", MapType(StringType, StringType), nullable = false),
    StructField("t", LongType, nullable = false),
    StructField("v", DoubleType, nullable = false),
    StructField("stale", BooleanType, nullable = false)))

  /** The history as an edge frame, built distributed from the
    * seeded series parameters. */
  def history(spark: SparkSession, series: Seq[Series]): DataFrame = {
    val params = spark.createDataFrame(series.map(s => Row(s.labels,
      s.counter, s.rate, s.period, s.phase)).asJava,
      StructType(Seq(StructField("labels", MapType(StringType, StringType)),
        StructField("counter", BooleanType), StructField("rate", DoubleType),
        StructField("period", IntegerType), StructField("phase", IntegerType))))
    val k = col("id")
    broadcast(params).crossJoin(spark.range(HistoryPoints)).select(
      col("labels"),
      (lit(T0) + k * StepMs).as("t"),
      when(col("counter"),
        col("rate") * ((k + col("phase")) % col("period")))
        .otherwise(lit(10.0) + col("rate") * ((k * 7 + col("phase")) % 13))
        .as("v"),
      lit(false).as("stale"))
  }

  /** The history is a pure function of these bytes: its hash. */
  def historyBytes(series: Seq[Series]): Array[Byte] =
    (s"$T0 $StepMs $HistoryPoints\n" + series.map(x =>
      s"${x.labels.toSeq.sorted} ${x.counter} ${x.rate} ${x.period} ${x.phase}")
      .mkString("\n")).getBytes(UTF_8)

  // ---- request schedule ------------------------------------------------

  /** One request. `params` are the Prometheus API form parameters;
    * `headRel` requests (ingest_mixed reader) get their times filled in
    * at dispatch from the acknowledged head. */
  final case class Req(id: Int, phase: String, due: Double, cls: String,
      path: String, params: Seq[(String, String)], headRel: String = "",
      body: String = "", zone: String = "", headMs: Long = 0L,
      samples: Int = 0) {
    def toJson: String = Common.json(Map("id" -> id, "phase" -> phase,
      "due" -> due, "cls" -> cls, "path" -> path,
      "params" -> params.map { case (k, v) => Seq(k, v) },
      "head_rel" -> headRel, "body" -> body, "zone" -> zone,
      "head_ms" -> headMs, "samples" -> samples))
  }

  def secs(ms: Long): String =
    if (ms % 1000 == 0) (ms / 1000).toString
    else BigDecimal(ms).bigDecimal.movePointLeft(3).toPlainString

  type Call = (String, String, Seq[(String, String)]) // (class, path, params)

  /** The dashboard query mix. Every slot has a fixed query shape; the
    * seed draws only label values, evaluation times and metadata
    * targets, so runs on different seeds do the same kinds of work. */
  final class Mix(seed: Long, series: Seq[Series]) {
    private val rnd = new scala.util.Random(seed * 31 + 7)
    private val extras = extraLabelNames(series)
    private def job = s"job-${rnd.nextInt(Jobs)}"
    private def code = Codes(rnd.nextInt(Codes.size))
    private def at: Long =
      T0 + 2 * 3600000L + (rnd.nextDouble() * (TEnd - T0 - 2 * 3600000L)).toLong / 1000 * 1000
    def selector: String = s"""bench_requests_total{job="$job",code="$code"}"""
    def aggregation: String = "sum by (job) (rate(bench_requests_total[5m]))"
    def topk: String = s"""topk(3, rate(bench_requests_total{code="$code"}[5m]))"""
    def ratio: String =
      s"""sum by (job, instance) (rate(bench_requests_total{code="$code"}[5m]))""" +
        " / on (job, instance) group_left bench_capacity"
    def instant(q: String, t: Long): Call =
      ("instant", "/api/v1/query", Seq("query" -> q, "time" -> secs(t)))
    def range(q: String, s: Long, e: Long, step: Long): Call =
      ("range", "/api/v1/query_range", Seq("query" -> q, "start" -> secs(s),
        "end" -> secs(e), "step" -> secs(step)))
    /** A sliding 1 h window ending at an unaligned second: a plan-cache
      * miss every time. */
    def sliding(stepMs: Long): Call = {
      val end = T0 + 3600000L + (rnd.nextDouble() * (TEnd - T0 - 3600000L)).toLong / 1000 * 1000
      range(aggregation, end - 3600000L, end, stepMs)
    }
    /** 12 h at a 1 h step ending on an hour: served from the rungs. */
    def aligned: Call = {
      val end = T0 + (12 + rnd.nextInt(6)) * 3600000L
      range("sum by (code) (increase(bench_requests_total[1h]))", end - 12 * 3600000L,
        end, 3600000L)
    }
    def labels: Call = ("instant", s"/api/v1/label/${(Seq("job", "code", "zone") ++
      extras)(rnd.nextInt(3 + extras.size))}/values", Seq.empty)
    def seriesMeta: Call = ("instant", "/api/v1/series",
      Seq("match[]" -> s"""bench_capacity{job="$job"}"""))

    /** One dashboard refresh, ten slots in a fixed order: six instant or
      * metadata, two sliding ranges, one rung-aligned range, and an
      * exact repeat of the refresh's aggregation (a plan-cache hit). */
    def cycle: Seq[Call] = {
      val agg = instant(aggregation, at)
      Seq(instant(selector, at), agg, labels, sliding(15000L), instant(ratio, at),
        instant(topk, at), seriesMeta, aligned, sliding(60000L), agg)
    }
  }

  /** dash_read: the cycle repeated, far more requests than the
    * closed-loop clients can finish in the measured time. */
  def dashSchedule(seed: Long, series: Seq[Series], seconds: Double): Seq[Req] = {
    val mix = new Mix(seed, series)
    Iterator.continually(mix.cycle).flatten.take(60 * math.max(1, seconds.toInt))
      .zipWithIndex.map { case ((cls, path, params), i) =>
        Req(i, "refresh", 0.0, cls, path, params) }.toSeq
  }

  /** One scrape of a zone's series at `t`, as a snappy+prompb body. */
  def writeBody(series: Seq[Series], zone: String, k: Int): Array[Byte] = {
    val t = T0 + k.toLong * StepMs
    val ts = series.filter(_.zone == zone).map { s =>
      Prompb.TimeSeries(s.labels.toSeq.sorted.map { case (n, v) => Prompb.Label(n, v) },
        Seq(Prompb.Sample(s.value(k), t)))
    }
    Prompb.snappyCompress(Prompb.encodeWriteRequest(Prompb.WriteRequest(ts)))
  }

  def ingestSchedule(seed: Long, series: Seq[Series], seconds: Double,
      runDir: String): (Seq[Req], Seq[Array[Byte]]) = {
    val mix = new Mix(seed, series)
    Files.createDirectories(Paths.get(runDir, "writes"))
    val bodies = mutable.ArrayBuffer.empty[Array[Byte]]
    val writes = for (k <- 0 until WritesPerShard; zone <- Seq("a", "b")) yield {
      val idx = HistoryPoints + k
      val b = writeBody(series, zone, idx)
      bodies += b
      val file = s"writes/$zone-$k.bin"
      Files.write(Paths.get(runDir, file), b)
      Req(0, "write", 0.0, "write", "/api/v1/write", Nil, body = file,
        zone = zone, headMs = T0 + idx * StepMs,
        samples = series.count(_.zone == zone))
    }
    val readN = math.max(1, (seconds * ReaderRate).round.toInt) + 4
    val reads = (0 until readN).map { i =>
      val (cls, path, params, rel) = i % 4 match {
        case 0 => ("instant", "/api/v1/query", Seq("query" -> mix.selector), "instant")
        case 1 => ("instant", "/api/v1/query", Seq("query" -> mix.aggregation), "instant")
        case 2 => ("instant", "/api/v1/query", Seq("query" -> mix.ratio), "instant")
        case _ => ("range", "/api/v1/query_range",
          Seq("query" -> "sum by (job) (rate(bench_requests_total[5m]))"), "range")
      }
      Req(0, "read", i / ReaderRate, cls, path, params, headRel = rel)
    }
    ((writes ++ reads).zipWithIndex.map { case (r, i) => r.copy(id = i) }, bodies.toSeq)
  }

  /** Head-relative parameters: instant at the head, ranges over the
    * hour ending at it. */
  def headParams(r: Req, headMs: Long): Seq[(String, String)] = r.headRel match {
    case "instant" => r.params :+ ("time" -> secs(headMs))
    case "range" => r.params ++ Seq("start" -> secs(headMs - 3600000L),
      "end" -> secs(headMs), "step" -> "60")
    case _ => r.params
  }

  def url(path: String, params: Seq[(String, String)]): String =
    if (params.isEmpty) path
    else path + "?" + params.map { case (k, v) =>
      URLEncoder.encode(k, UTF_8) + "=" + URLEncoder.encode(v, UTF_8)
    }.mkString("&")

  // ---- set-up ------------------------------------------------------------

  /** Build the tiered engine the way the table-backed server does after
    * a write: the series index, both rollup rungs and the chunk tier
    * over a fresh file listing. */
  def tieredEngine(spark: SparkSession, path: String): PromQLEngine = {
    val indexPath = s"$path/_index"
    val chunksPath = s"$path/_chunks"
    val idx = if (Ingest.hasParquetData(spark, indexPath))
      Some(spark.read.parquet(indexPath)) else None
    val ladder = Rollups.flatMap { b =>
      val p = Ingest.rollupPath(path, b)
      if (Ingest.hasParquetData(spark, p)) Some((spark.read.parquet(p).drop("date"), b))
      else None
    }
    val chunkT = if (Ingest.hasParquetData(spark, chunksPath))
      Some(ChunkStore.read(spark, chunksPath)) else None
    new PromQLEngine(spark, Ingest.readTable(spark, path),
      partialsLadder = ladder, seriesIndex = idx, chunkTier = chunkT)
  }

  final class Setup(val api: HttpApi, val port: Int, val path: String)

  /** History ingest through the production sink plus server open. */
  def setUp(spark: SparkSession, series: Seq[Series], path: String): (Setup, Double) = {
    Common.deleteTree(path)
    Common.timed {
      val api = HttpApi.forTable(spark, path, rollups = Rollups, chunks = true)
      api.writeDirect(history(spark, series))
      new Setup(api, api.start(), path)
    }
  }

  private val http = java.net.http.HttpClient.newBuilder()
    .version(java.net.http.HttpClient.Version.HTTP_1_1).build()

  /** One request over loopback HTTP: (status, body, seconds). */
  def httpCall(port: Int, method: String, u: String,
      body: Array[Byte] = null): (Int, String, Double) = {
    val b = java.net.http.HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$u"))
    val req =
      if (method == "POST") b.header("Content-Type", "application/x-protobuf")
        .header("Content-Encoding", "snappy")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body)).build()
      else b.GET().build()
    val (resp, sec) = Common.timed(
      http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString()))
    (resp.statusCode(), resp.body(), sec)
  }

  /** JIT warm-up: one whole refresh over HTTP, drawn from another seed
    * so no warm-up request is in the timed schedule. */
  def warmUp(port: Int, seed: Long, series: Seq[Series]): Double =
    Common.timed {
      new Mix(seed ^ 0x5eed5eedL, series).cycle.foreach { case (_, path, params) =>
        val (st, body, _) = httpCall(port, "GET", url(path, params))
        require(st == 200, s"warm-up request failed ($st): $body")
      }
    }._2

  // ---- verification --------------------------------------------------------

  private val mapper = new ObjectMapper()

  def parseQuery(u: String): (String, Map[String, String]) = {
    val uri = URI.create(u)
    val ps = Option(uri.getRawQuery).toSeq.flatMap(_.split('&')).map { kv =>
      val i = kv.indexOf('=')
      URLDecoder.decode(kv.take(i), UTF_8) -> URLDecoder.decode(kv.drop(i + 1), UTF_8)
    }.toMap
    (uri.getPath, ps)
  }

  def ms(sec: String): Long = (BigDecimal(sec) * 1000).setScale(0,
    BigDecimal.RoundingMode.HALF_UP).toLong

  def parseValue(s: String): Double = s match {
    case "NaN" => Double.NaN
    case "+Inf" | "Inf" => Double.PositiveInfinity
    case "-Inf" => Double.NegativeInfinity
    case x => x.toDouble
  }

  def closeEnough(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b ||
      math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  private def labelsOf(n: JsonNode): Map[String, String] =
    n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  /** Response points keyed by (labels, t ms). */
  def responsePoints(data: JsonNode): Map[(Map[String, String], Long), Double] = {
    val typ = data.get("resultType").asText()
    val res = data.get("result")
    def pt(p: JsonNode) = (ms(p.get(0).asText()), parseValue(p.get(1).asText()))
    typ match {
      case "scalar" =>
        if (res.isNull) Map.empty else { val (t, v) = pt(res); Map((Map.empty[String, String], t) -> v) }
      case "vector" => res.elements().asScala.map { e =>
        val (t, v) = pt(e.get("value")); (labelsOf(e.get("metric")), t) -> v
      }.toMap
      case "matrix" => res.elements().asScala.flatMap { e =>
        val l = labelsOf(e.get("metric"))
        e.get("values").elements().asScala.map { p => val (t, v) = pt(p); (l, t) -> v }
      }.toMap
    }
  }

  def enginePoints(df: DataFrame): Map[(Map[String, String], Long), Double] =
    df.collect().map(r => (r.getMap[String, String](0).toMap, r.getLong(1)) ->
      r.getDouble(2)).toMap

  /** Re-answer one read with the reference engine; None when it
    * matches, Some(reason) when it does not. */
  def check(ref: PromQLEngine, u: String, body: String): Option[String] = {
    val (path, p) = parseQuery(u)
    val root = mapper.readTree(body)
    if (root.get("status").asText() != "success") return Some("status " + body.take(200))
    val data = root.get("data")
    def samePoints(want: Map[(Map[String, String], Long), Double]) = {
      val got = responsePoints(data)
      if (got.keySet != want.keySet)
        Some(s"series/timestamps differ: got ${got.size} points, want ${want.size}")
      else got.collectFirst { case (k, v) if !closeEnough(v, want(k)) =>
        s"value at $k: got $v want ${want(k)}" }
    }
    path match {
      case "/api/v1/query" =>
        samePoints(enginePoints(ref.instant(p("query"), ms(p("time")))))
      case "/api/v1/query_range" =>
        samePoints(enginePoints(ref.rangeQuery(p("query"), ms(p("start")),
          ms(p("end")), ms(p("step")))))
      case "/api/v1/series" =>
        val got = data.elements().asScala.map(labelsOf).toSet
        val want = ref.series(p("match[]")).toSet
        if (got == want) None else Some(s"series sets differ: ${got.size} vs ${want.size}")
      case lv if lv.startsWith("/api/v1/label/") =>
        val name = lv.stripPrefix("/api/v1/label/").stripSuffix("/values")
        val got = data.elements().asScala.map(_.asText()).toSet
        if (got == ref.labelValues(name).toSet) None else Some("label values differ")
      case other => Some(s"unexpected path $other")
    }
  }

  /** Every acknowledged write's samples are in the table (one row per
    * series of its zone at its head timestamp). */
  def checkAcked(spark: SparkSession, path: String,
      acked: Seq[(String, Long, Int)]): Seq[String] = {
    val stored = Ingest.readTable(spark, path).filter(col("t") > TEnd)
      .groupBy(col("labels").getItem("zone").as("zone"), col("t")).count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    acked.flatMap { case (zone, t, n) =>
      val got = stored.getOrElse((zone, t), 0L)
      if (got == n) None else Some(s"zone $zone t=$t: stored $got of $n acked samples")
    }
  }

  // ---- untraced run --------------------------------------------------------

  def serve(workload: String, seed: Long, seconds: Double, runDir: String,
      nproc: Int): Unit = {
    val t0 = Common.now()
    val spark = Common.session(nproc, runDir)
    val tSession = Common.now() - t0
    val probes = new Probes
    val series = seriesSet(seed)
    // one set-up per run: it costs ~20 s cold and ~8 s warm on 4 cores,
    // and a full evaluation (48 runs) must fit in 57 minutes
    val (setup, setupSec) = setUp(spark, series, s"$runDir/table")
    val warm = warmUp(setup.port, seed, series)
    val (schedule, bodies) = workload match {
      case "dash_read" => (dashSchedule(seed, series, seconds), Nil)
      case "ingest_mixed" => ingestSchedule(seed, series, seconds, runDir)
    }
    val scheduleJson = schedule.map(_.toJson).mkString("", "\n", "\n")
    Common.writeFile(s"$runDir/schedule.jsonl", scheduleJson)
    val inputHash = Common.sha256(Seq(historyBytes(series),
      scheduleJson.getBytes(UTF_8)) ++ bodies)
    probes.take()
    Common.emit("READY", Map("port" -> setup.port,
      "setup_s" -> (setupSec + warm),
      "setup_runs_s" -> Seq(setupSec), "warmup_s" -> warm,
      "input_hash" -> inputHash, "t_end_ms" -> TEnd,
      "session_s" -> tSession, "ready_at_s" -> (Common.now() - t0)))

    val cmd = scala.io.StdIn.readLine()
    require(cmd != null && cmd.trim == "verify", s"unexpected command: $cmd")
    val tVerify = Common.now()
    probes.take()
    setup.api.awaitCompactions()
    val ref = new PromQLEngine(spark, Ingest.readTable(spark, setup.path))
    val lines = scala.io.Source.fromFile(s"$runDir/responses.jsonl", "UTF-8")
      .getLines().filter(_.nonEmpty).map(l => mapper.readTree(l)).toSeq
    val reads = lines.filter(n => n.get("kind").asText() == "read" &&
      n.get("status").asInt() == 200)
    // identical (url, body) pairs are re-answered once
    val distinct = reads.map(n => (n.get("url").asText(), n.get("body").asText())).distinct
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc)
    val mismatches =
      try distinct.map { case (u, body) =>
        pool.submit(() => {
          try check(ref, u, body).map(r => s"$u: $r")
          catch { case e: Exception => Some(s"$u: re-answer failed: $e") }
        })
      }.flatMap(_.get())
      finally pool.shutdown()
    val acked = lines.filter(n => n.get("kind").asText() == "write" &&
      n.get("status").asInt() == 200).map(n =>
      (n.get("zone").asText(), n.get("head_ms").asLong(), n.get("samples").asInt()))
    val ackMismatches = checkAcked(spark, setup.path, acked)
    probes.take()
    Common.emit("VERIFIED", Map("checked" -> reads.size,
      "mismatches" -> mismatches.size, "mismatched_ids" -> reads.zip(
        reads.map(n => n.get("url").asText())).collect {
          case (n, u) if mismatches.exists(_.startsWith(u + ":")) => n.get("id").asInt() },
      "details" -> (mismatches ++ ackMismatches).take(5),
      "acked_writes" -> acked.size, "ack_mismatches" -> ackMismatches.size,
      "probe_ratio" -> probes.ratio, "peak_rss_mb" -> Common.peakRssMb(),
      "verify_s" -> (Common.now() - tVerify)))
    setup.api.stop()
    spark.stop()
  }

  // ---- traced run ------------------------------------------------------------

  val Routes = Seq("raw_general", "index_semi", "index_semi_declined",
    "chunk_tier", "fold_partials", "fold_partials_declined", "rate_partials",
    "instant_partials", "select_partials", "sliding_fold", "bucketed_query_time")

  /** In-process replay state: the engine the table would serve now and
    * the plan-cache bookkeeping. */
  final class Replay(spark: SparkSession, val path: String, tracer: Tracer) {
    var engine: PromQLEngine = tieredEngine(spark, path)
    val routeTotals = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var cacheLookups = 0L
    var cacheHits = 0L
    val seen = mutable.Map.empty[(String, Long, Long, Long), DataFrame]
    var resultRows = 0L

    private def group[A](req: Int, layer: String)(f: => A): A = {
      spark.sparkContext.setJobGroup(s"pb-$layer-$req", "perfbench", false)
      try f finally spark.sparkContext.clearJobGroup()
    }
    private def layer[A](name: String, req: Int)(f: => A): A =
      tracer.span(name, req)(group(req, name)(f))

    private def harvestRoutes(): Unit = {
      engine.routeHits.asScala.foreach { case (k, v) =>
        routeTotals(k.takeWhile(_ != ':')) += v.get() }
      engine.routeHits.clear()
    }

    def read(req: Int, u: String): Unit = tracer.span("request", req) {
      val (path, p) = parseQuery(u)
      def query(build: => DataFrame, key: (String, Long, Long, Long)): Unit = {
        layer("promql.parse", req) { Parser.parse(p("query")).typ }
        val df = layer("exec.build", req)(build)
        cacheLookups += 1
        if (seen.get(key).exists(_ eq df)) cacheHits += 1
        seen(key) = df
        layer("plans.optimize", req)(df.queryExecution.optimizedPlan)
        layer("plans.physical", req)(df.queryExecution.executedPlan)
        resultRows += layer("exec.execute", req)(df.collect()).length
        harvestRoutes()
      }
      path match {
        case "/api/v1/query" =>
          val t = ms(p("time"))
          query(engine.instantCached(p("query"), t), (p("query"), t, t, -1L))
        case "/api/v1/query_range" =>
          val (s, e, st) = (ms(p("start")), ms(p("end")), ms(p("step")))
          query(engine.rangeQueryCached(p("query"), s, e, st), (p("query"), s, e, st))
        case "/api/v1/series" =>
          resultRows += layer("exec.execute", req)(engine.series(p("match[]"))).size
        case lv =>
          val name = lv.stripPrefix("/api/v1/label/").stripSuffix("/values")
          resultRows += layer("exec.execute", req)(engine.labelValues(name)).size
      }
    }

    /** The forTable sink's calls in the sink's order (as
      * `IngestBench --tiers` replays them). */
    def write(req: Int, body: Array[Byte]): Unit = tracer.span("write", req) {
      val df = layer("api.prompb_decode", req) {
        val wr = Prompb.decodeWriteRequest(Prompb.snappyUncompress(body))
        spark.createDataFrame(wr.timeseries.flatMap { ts =>
          val l = ts.labels.map(x => x.name -> x.value).toMap
          ts.samples.map(s => Row(l, s.timestamp, s.value, false))
        }.asJava, edgeSchema)
      }
      sink(req, df)
    }

    def sink(req: Int, df: DataFrame): Unit = {
      val canon = layer("storage.dedup", req) {
        Ingest.dedup(df, strict = false).localCheckpoint(true)
      }
      try {
        layer("storage.append", req) {
          Ingest.appendCanonical(canon, path)
          Ingest.datesOf(canon)
        }
        layer("storage.chunk_cut", req) {
          ChunkStore.write(canon, s"$path/_chunks")
          spark.catalog.refreshByPath(s"$path/_chunks")
        }
        layer("storage.index_upsert", req) {
          spark.catalog.refreshByPath(s"$path/_index")
          Ingest.appendSeriesIndex(df, s"$path/_index")
          spark.catalog.refreshByPath(path)
        }
        layer("storage.rung_merge", req) {
          Rollups.foreach { b =>
            Ingest.refreshFoldPartialsIncremental(spark, path,
              Ingest.rollupPath(path, b), b, canon)
            spark.catalog.refreshByPath(Ingest.rollupPath(path, b))
          }
          spark.catalog.refreshByPath(s"$path/_index")
        }
      } finally canon.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ =>
      }
      layer("storage.engine_swap", req) {
        val old = engine
        engine = tieredEngine(spark, path)
        old.releaseSeriesDim()
      }
    }
  }

  def trace(workload: String, seed: Long, seconds: Double, runDir: String,
      nproc: Int): Unit = {
    val spark = Common.session(nproc, runDir)
    val stats = new JobStats
    spark.sparkContext.addSparkListener(stats)
    val probes = new Probes
    val series = seriesSet(seed)
    val (setup, _) = setUp(spark, series, s"$runDir/table-http")
    warmUp(setup.port, seed, series)
    val (schedule, bodies) = workload match {
      case "dash_read" => (dashSchedule(seed, series, seconds), Nil)
      case "ingest_mixed" => ingestSchedule(seed, series, seconds, runDir)
    }
    // serial replay order: dash_read replays one whole refresh;
    // ingest_mixed interleaves one read after every two writes (one per
    // shard), as the live run roughly does, for half the window
    val order: Seq[Req] = workload match {
      case "dash_read" => schedule.take(RefreshSize)
      case _ =>
        val ws = schedule.filter(_.phase == "write")
        val rs = schedule.filter(_.phase == "read")
        ws.grouped(2).toSeq.zipAll(rs.map(Seq(_)), Nil, Nil)
          .flatMap { case (w, r) => w ++ r }
    }
    val budget = if (workload == "dash_read") Double.MaxValue else seconds / 2
    var head = TEnd
    def urlOf(r: Req): String = url(r.path, headParams(r, head))

    // 1) untraced serial HTTP replay (the api layer's outer wall)
    probes.take()
    val httpWall = mutable.Map.empty[Int, Double]
    val httpBodies = mutable.ArrayBuffer.empty[(String, String)]
    val acked = mutable.ArrayBuffer.empty[(String, Long, Int)]
    val respBytes = mutable.ArrayBuffer.empty[Long]
    val httpStart = Common.now()
    val it = order.iterator
    while (it.hasNext && Common.now() - httpStart < budget) {
      val r = it.next()
      if (r.phase == "write") {
        val (st, body, sec) = httpCall(setup.port, "POST", r.path,
          Files.readAllBytes(Paths.get(runDir, r.body)))
        require(st == 200, s"write failed ($st): $body")
        httpWall(r.id) = sec
        head = math.max(head, r.headMs)
        acked += ((r.zone, r.headMs, r.samples))
      } else {
        val u = urlOf(r)
        val (st, body, sec) = httpCall(setup.port, "GET", u)
        require(st == 200, s"read failed ($st): $body")
        httpWall(r.id) = sec
        httpBodies += ((u, body))
        respBytes += body.getBytes(UTF_8).length
      }
    }
    val replayed = order.filter(r => httpWall.contains(r.id))
    setup.api.awaitCompactions()
    val ref = new PromQLEngine(spark, Ingest.readTable(spark, setup.path))
    val mismatches = httpBodies.flatMap { case (u, b) => check(ref, u, b).map(x => s"$u: $x") } ++
      checkAcked(spark, setup.path, acked.toSeq)
    val compactions = setup.api.sampleCompactionCount +
      setup.api.chunkCompactionCounts._1
    val (tableBytes, _) = Common.diskUsage(setup.path)
    val tableSamples = Ingest.readTable(spark, setup.path).count()
    val filesPerDate = {
      val all = Files.list(Paths.get(setup.path)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("date=")).toSeq
      all.map(d => Common.diskUsage(d.toString)._2).sum.toDouble / math.max(1, all.size)
    }
    setup.api.stop()

    // 2) traced in-process replay of the same requests on an
    //    identically set-up table (writes mutate it, so not the HTTP one)
    val tracer = new Tracer
    if (workload == "dash_read") {
      // dash_read's storage layer is its history ingest: replay it
      // through the sink's calls into a table of its own
      val ingest = new Replay(spark, s"$runDir/table-ingest", tracer)
      tracer.span("write", -1)(ingest.sink(-1, history(spark, series)))
    }
    val tracedPath =
      if (workload == "dash_read") setup.path
      else { setUp(spark, series, s"$runDir/table-trace")._1.api.stop(); s"$runDir/table-trace" }
    val replay = new Replay(spark, tracedPath, tracer)
    head = TEnd
    val tracedWall = mutable.Map.empty[Int, Double]
    val bodyOf = schedule.filter(_.phase == "write").zip(bodies).map {
      case (r, b) => r.id -> b }.toMap
    replayed.foreach { r =>
      val (_, sec) = Common.timed {
        if (r.phase == "write") { replay.write(r.id, bodyOf(r.id)); head = math.max(head, r.headMs) }
        else replay.read(r.id, urlOf(r))
      }
      tracedWall(r.id) = sec
    }
    probes.take()
    org.apache.spark.PerfbenchListenerDrain(spark.sparkContext)
    tracer.dump(s"$runDir/spans.jsonl")

    // ---- per-layer metrics --------------------------------------------------
    val selfs = tracer.selfTimes
    def selfByReq(name: String): Seq[Double] =
      selfs.filter(_._1.name == name).groupBy(_._1.req).values
        .map(_.map(_._2).sum).toSeq
    def p50(name: String) = Common.median(selfByReq(name))
    val reads = replayed.filter(_.phase != "write")
    def overhead(rs: Seq[Req]) =
      if (rs.isEmpty) 0.0
      else Common.median(rs.map(r => httpWall(r.id))) -
        Common.median(rs.map(r => tracedWall(r.id)))
    val exec = stats.sum(_.startsWith("pb-exec.execute-"))
    val nReads = math.max(1, reads.size).toDouble
    val writeJobs = stats.sum(g => g.startsWith("pb-storage.") || g.startsWith("pb-api.prompb"))
    val roots = selfs.filter(s => s._1.parent < 0)
    val rootDur = roots.map(s => (s._1.endNs - s._1.startNs) / 1e9).sum
    val routeSum = math.max(1L, replay.routeTotals.values.sum).toDouble
    val decode = bodies.take(32).map(b => Common.timed(
      Prompb.decodeWriteRequest(Prompb.snappyUncompress(b)))._2)
    val metrics = mutable.LinkedHashMap[String, (Double, String)](
      "promql.parse_s" -> (p50("promql.parse"), "s"),
      "exec.build_s" -> (p50("exec.build"), "s"),
      "exec.plan_cache_hit_ratio" -> (
        replay.cacheHits.toDouble / math.max(1L, replay.cacheLookups), "ratio"),
      "plans.optimize_s" -> (p50("plans.optimize"), "s"),
      "plans.physical_s" -> (p50("plans.physical"), "s"),
      "exec.execute_s" -> (p50("exec.execute"), "s"),
      "exec.jobs" -> (exec.jobs / nReads, "count"),
      "exec.stages" -> (exec.stages / nReads, "count"),
      "exec.task_cpu_s" -> (exec.cpuNs / 1e9 / nReads, "s"),
      "exec.shuffle_bytes" -> (exec.shuffleBytes / nReads, "bytes"),
      "exec.spill_bytes" -> (exec.spillBytes / nReads, "bytes"),
      "exec.rows_scanned_per_result" -> (
        exec.recordsRead.toDouble / math.max(1L, replay.resultRows), "ratio"),
      "api.overhead_s" -> (overhead(reads), "s"),
      "api.overhead_instant_s" -> (overhead(reads.filter(_.cls == "instant")), "s"),
      "api.overhead_range_s" -> (overhead(reads.filter(_.cls == "range")), "s"),
      "api.response_bytes" -> (
        if (respBytes.isEmpty) 0.0 else respBytes.sum.toDouble / respBytes.size, "bytes"),
      "api.prompb_decode_s" -> (Common.median(decode), "s"),
      "storage.dedup_s" -> (p50("storage.dedup"), "s"),
      "storage.append_s" -> (p50("storage.append"), "s"),
      "storage.chunk_cut_s" -> (p50("storage.chunk_cut"), "s"),
      "storage.index_upsert_s" -> (p50("storage.index_upsert"), "s"),
      "storage.rung_merge_s" -> (p50("storage.rung_merge"), "s"),
      "storage.engine_swap_s" -> (p50("storage.engine_swap"), "s"),
      "storage.jobs_per_write" -> (
        writeJobs.jobs.toDouble / math.max(1, tracer.all.count(_.name == "write")), "count"),
      "storage.bytes_per_sample" -> (tableBytes.toDouble / math.max(1L, tableSamples), "bytes"),
      "storage.files_per_date" -> (filesPerDate, "count"),
      "storage.compactions" -> (compactions.toDouble, "count"),
      "host.probe_ratio" -> (probes.ratio, "ratio"),
      "host.peak_rss_mb" -> (Common.peakRssMb(), "MB"),
      "trace.overhead_ratio" -> (
        Common.median(replayed.map(r => tracedWall(r.id))) /
          math.max(1e-9, Common.median(replayed.map(r => httpWall(r.id)))), "ratio"),
      "trace.unattributed_ratio" -> (
        roots.map(_._2).sum / math.max(1e-9, rootDur), "ratio"))
    Routes.foreach { r =>
      metrics(s"exec.route_share.$r") = (replay.routeTotals(r) / routeSum, "ratio")
    }
    Common.emit("TRACE", Map("correct" -> mismatches.isEmpty,
      "attempted" -> replayed.size, "failed" -> mismatches.size,
      "details" -> mismatches.take(5),
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))
    spark.stop()
  }
}
