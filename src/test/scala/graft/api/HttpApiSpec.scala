package graft.api

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkTestBase
import graft.exec.PromQLEngine
import graft.model.Samples
import graft.storage.Ingest

/** Acceptance-style black-box tests over the HTTP API, mirroring the
  * reference's `internal/test/acceptance/acceptance_test.go:84-268`
  * (1+1 scalar query, write-then-query-back round trip, guard cases)
  * and the API golden tests (`internal/api/v1/api_test.go:36-439`). */
class HttpApiSpec extends SparkTestBase {

  private val m = 60000L

  private lazy val fixture = samplesDF(
    Map("__name__" -> "test_metric1", "foo" -> "bar") -> seriesAt(m, 0, 100, 100),
    Map("__name__" -> "test_metric1", "foo" -> "boo") -> seriesAt(m, 1, 0, 100),
    Map("__name__" -> "test_metric2", "foo" -> "boo") -> seriesAt(m, 1, 0, 100))

  private lazy val tablePath =
    Files.createTempDirectory("api-ingest").toString

  private lazy val api = {
    val a = new HttpApi(spark, new PromQLEngine(spark, fixture),
      writeSink = Some(df => Ingest.append(df, tablePath)))
    a.start()
    a
  }

  private def get(path: String): (Int, String) = {
    val url = new URI(s"http://127.0.0.1:${api.boundPort}$path").toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(stream.readAllBytes(), UTF_8)
    (code, body)
  }

  private def post(path: String, body: String): (Int, String) = {
    val url = new URI(s"http://127.0.0.1:${api.boundPort}$path").toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.getOutputStream.write(body.getBytes(UTF_8))
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    (code, new String(stream.readAllBytes(), UTF_8))
  }

  private def delete(path: String): (Int, String) = {
    val url = new URI(s"http://127.0.0.1:${api.boundPort}$path").toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("DELETE")
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    (code, new String(stream.readAllBytes(), UTF_8))
  }

  test("OPTIONS answers 204 with the CORS headers on any path " +
      "(api_test.go:621-648); API responses carry them too") {
    def options(path: String): HttpURLConnection = {
      val url = new URI(s"http://127.0.0.1:${api.boundPort}$path").toURL
      val conn = url.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("OPTIONS")
      conn
    }
    // every handler family: JSON, streaming (/api/v1/export), binary
    // (/read), text (/metrics), and the unmatched-path catch-all
    for (p <- Seq("/api/v1/query", "/api/v1/export", "/read", "/metrics",
        "/any_path")) {
      val conn = options(p)
      assert(conn.getResponseCode == 204, s"OPTIONS $p")
      // getHeaderField is case-insensitive (the server normalizes names)
      assert(conn.getHeaderField("Access-Control-Allow-Origin") == "*")
      assert(conn.getHeaderField("Access-Control-Allow-Methods") ==
        "GET, OPTIONS")
      assert(conn.getHeaderField("Access-Control-Allow-Headers") ==
        "Accept, Authorization, Content-Type, Origin")
      assert(conn.getHeaderField("Access-Control-Expose-Headers") == "Date")
    }
    val url = new URI(
      s"http://127.0.0.1:${api.boundPort}/api/v1/query?query=1%2B1&time=2").toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    assert(conn.getResponseCode == 200)
    assert(conn.getHeaderField("Access-Control-Allow-Origin") == "*")
  }

  test("duration params reject int64-nanosecond overflow " +
      "(api_test.go:567-619); RFC3339 offsets parse (api_test.go:516-565)") {
    // ±148966367200.372 s * 1e9 ns overflows int64 — Go rejects both
    for (s <- Seq("148966367200.372", "-148966367200.372")) {
      val (c, b) = get("/api/v1/query_range?query=test_metric1" +
        s"&start=0&end=60&step=$s")
      assert(c == 400 && b.contains("duration"), s"step=$s: $c $b")
    }
    // plain float seconds still parse ("123.333" → 123.333 s)
    val (okC, _) = get("/api/v1/query_range?query=test_metric1" +
      "&start=0&end=600&step=123.333")
    assert(okC == 200)
    // RFC3339 with a numeric offset is a valid time parameter
    // ("2015-06-03T14:21:58.555+01:00" == ...13:21:58.555Z)
    val (tc, tb) = get("/api/v1/query?query=1%2B1" +
      "&time=2015-06-03T14:21:58.555%2B01:00")
    assert(tc == 200, s"$tc $tb")
    assert(tb.contains("1433337718.555"), tb)
  }

  test("/metrics exports the LLM guard counters after a skewed LSH " +
      "run (graft_llm_guard_total, r7 verdict ask 5)") {
    import spark.implicits._
    // 40 identical vectors: every band key collides, the single bucket
    // is wider than maxBucket=8, so the skew guard MUST drop it and
    // count the drop — no flood, no large corpus needed
    val v = Array.fill(64)(1.0f)
    val skew = (1L to 40L).map(i => (i, v)).toDF("vec_id", "embedding")
    val before = Option(graft.llm.Similarity.diag.get("lsh_buckets_dropped"))
      .map(_.get()).getOrElse(0L)
    graft.llm.Similarity.lshCosinePairs(skew, 0.9, dim = 64,
      nBits = 16, bands = 2, targetBucket = 4, maxBucket = 8).count()
    val after = Option(graft.llm.Similarity.diag.get("lsh_buckets_dropped"))
      .map(_.get()).getOrElse(0L)
    assert(after > before, "skew guard did not count its drops")
    val (code, body) = get("/metrics")
    assert(code == 200)
    assert(body.contains("# TYPE graft_llm_guard_total counter"), body)
    val n = """graft_llm_guard_total\{guard="lsh_buckets_dropped"\} ([0-9]+)""".r
      .findFirstMatchIn(body).map(_.group(1).toLong)
    assert(n.exists(_ >= after), s"guard counter missing or stale: $body")
  }

  test("S9 drop-series: match[] validated, then disabled like the reference") {
    // api.go:343-371 — dropSeries checks match[] (400) then
    // panic("disabled") (500 through the Go HTTP stack)
    val (c1, b1) = delete("/api/v1/series")
    assert(c1 == 400 && b1.contains("no match[] parameter provided"))
    val (c2, b2) = delete("/api/v1/series?match[]=test_metric1")
    assert(c2 == 500, s"got $c2: $b2")
    assert(b2.contains("disabled"))
  }

  test("/metrics serves engine counters in exposition format") {
    get("/api/v1/query?query=1%2B1&time=120") // ensure >= 1 gated query
    val (code, body) = get("/metrics")
    assert(code == 200)
    assert(body.contains("# TYPE graft_api_queries_total counter"))
    val n = "graft_api_queries_total ([0-9]+)".r
      .findFirstMatchIn(body).map(_.group(1).toLong)
    assert(n.exists(_ >= 1), s"body: $body")
    assert(body.contains("graft_api_gate_free_slots 20"))
    assert(body.contains("graft_engine_reagg_hits_total"))
    assert(body.contains("graft_chunk_compactions_total"))
    assert(body.contains("graft_chunk_compactions_deferred_total"))
  }

  test("/metrics exports the codegen-compilation and plan-template " +
      "counters") {
    def counters(): Map[String, Long] = {
      val (code, body) = get("/metrics")
      assert(code == 200)
      Seq("graft_codegen_compilations_total", "graft_plan_template_hits_total",
        "graft_plan_template_misses_total").map { n =>
        assert(body.contains(s"# TYPE $n counter"), body)
        n -> s"(?m)^$n ([0-9]+)$$".r.findFirstMatchIn(body)
          .map(_.group(1).toLong).getOrElse(fail(s"$n missing:\n$body"))
      }.toMap
    }
    val q = "/api/v1/query?query=" +
      java.net.URLEncoder.encode("count_over_time(test_metric1[7m])", UTF_8)
    val before = counters()
    assert(get(s"$q&time=3000")._1 == 200) // a new shape: one miss
    val built = counters()
    assert(built("graft_plan_template_misses_total") ==
      before("graft_plan_template_misses_total") + 1)
    assert(built("graft_codegen_compilations_total") >=
      before("graft_codegen_compilations_total"))
    // the same shape at a new time, then with time defaulted to now():
    // both re-bind the template
    assert(get(s"$q&time=3060")._1 == 200)
    assert(get(q)._1 == 200)
    val after = counters()
    assert(after("graft_plan_template_misses_total") ==
      built("graft_plan_template_misses_total"))
    assert(after("graft_plan_template_hits_total") ==
      built("graft_plan_template_hits_total") + 2)
  }

  test("quiesced drains the admission gate, runs, restores every slot; " +
      "an undrainable gate defers (returns None)") {
    // outer quiesced holds all 20 slots -> the nested barrier cannot
    // drain within its timeout and must return None (the compactor
    // treats that as "defer to the next write")
    val r = api.quiesced(30000L) { api.quiesced(100L) { 1 } }
    assert(r == Some(None))
    // every slot restored afterwards — queries admit again
    val (code, body) = get("/metrics")
    assert(code == 200 && body.contains("graft_api_gate_free_slots 20"))
  }

  test("/metrics carries the five families the reference acceptance " +
      "suite asserts (acceptance_test.go:52-82)") {
    // build info ~ timbala_build_info; engine counters ~
    // prometheus_engine_*; per-handler HTTP counters ~ http_request_*;
    // runtime info ~ go_info; ingest ~ tsdb_head_samples_appended_total
    get("/api/v1/query?query=1%2B1&time=120")
    val before = {
      val (_, b) = get("/metrics")
      "graft_ingest_samples_appended_total ([0-9]+)".r
        .findFirstMatchIn(b).map(_.group(1).toLong).getOrElse(0L)
    }
    val (wc, _) = post("/api/v1/write",
      """{"labels":{"__name__":"mm"},"t":0,"v":1}""" + "\n" +
        """{"labels":{"__name__":"mm"},"t":60000,"v":2}""")
    assert(wc == 200)
    val (code, body) = get("/metrics")
    assert(code == 200)
    assert(body.contains("graft_build_info{version=\"0.1.0\""), body)
    assert(body.contains("graft_jvm_info{version=\""))
    assert(body.contains("graft_api_queries_total"))
    // per-handler counters label by context path and status
    assert("""graft_http_requests_total\{handler="/api/v1/query",code="200"\} [0-9]+""".r
      .findFirstIn(body).nonEmpty, body)
    // the two-sample write moved the appended counter by exactly 2
    val after = "graft_ingest_samples_appended_total ([0-9]+)".r
      .findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(-1L)
    assert(after == before + 2,
      s"appended counter moved $before -> $after, expected +2")
  }

  test("/debug/pprof/ answers like the reference's pprof index " +
      "(acceptance_test.go:32-50); thread and heap profiles serve") {
    val (c1, b1) = get("/debug/pprof/")
    assert(c1 == 200 && b1.contains("profiles:"), s"$c1 $b1")
    val (c2, b2) = get("/debug/pprof/threads")
    assert(c2 == 200 && b2.contains("(RUNNABLE)"), s"$c2 ${b2.take(200)}")
    val (c3, b3) = get("/debug/pprof/heap")
    assert(c3 == 200 && b3.contains("heap:") && b3.contains("used "),
      s"$c3 $b3")
  }

  test("scalar query: 1+1 at t=2m is 2 (acceptance_test.go:84-100)") {
    val (code, body) = get("/api/v1/query?query=1%2B1&time=120")
    assert(code == 200)
    assert(body ==
      """{"status":"success","data":{"resultType":"scalar","result":[120,"2"]}}""")
  }

  test("instant vector query with matcher") {
    val (code, body) = get(
      "/api/v1/query?query=test_metric1%7Bfoo%3D%22bar%22%7D&time=120")
    assert(code == 200)
    assert(body == """{"status":"success","data":{"resultType":"vector","result":""" +
      """[{"metric":{"__name__":"test_metric1","foo":"bar"},"value":[120,"200"]}]}}""")
  }

  test("query_range envelope: matrix sorted by labels, stitched values") {
    val (code, body) = get(
      "/api/v1/query_range?query=test_metric1&start=60&end=180&step=60")
    assert(code == 200)
    assert(body.startsWith("""{"status":"success","data":{"resultType":"matrix","result":["""))
    // foo="bar" sorts before foo="boo"; three steps each
    val bar = """{"metric":{"__name__":"test_metric1","foo":"bar"},"values":[[60,"100"],[120,"200"],[180,"300"]]}"""
    val boo = """{"metric":{"__name__":"test_metric1","foo":"boo"},"values":[[60,"1"],[120,"1"],[180,"1"]]}"""
    assert(body.contains(bar) && body.contains(boo))
    assert(body.indexOf(bar) < body.indexOf(boo))
  }

  test("guards: bad step, reversed range, resolution cap, parse error (api.go:187-216)") {
    val (c1, b1) = get("/api/v1/query_range?query=x&start=0&end=100&step=0")
    assert(c1 == 400 && b1.contains("zero or negative query resolution step"))
    val (c2, b2) = get("/api/v1/query_range?query=x&start=100&end=0&step=60")
    assert(c2 == 400 && b2.contains("end timestamp must not be before start"))
    val (c3, b3) = get("/api/v1/query_range?query=x&start=0&end=1000000&step=0.01")
    assert(c3 == 400 && b3.contains("11,000 points"))
    val (c4, b4) = get("/api/v1/query?query=sum%28")
    assert(c4 == 400 && b4.contains("\"errorType\":\"bad_data\""))
  }

  test("series and label values endpoints (api.go:252-341)") {
    val (c1, b1) = get("/api/v1/series?match[]=test_metric1")
    assert(c1 == 200, s"body: $b1")
    assert(b1 == """{"status":"success","data":[""" +
      """{"__name__":"test_metric1","foo":"bar"},""" +
      """{"__name__":"test_metric1","foo":"boo"}]}""")
    val (c2, b2) = get("/api/v1/label/foo/values")
    assert(c2 == 200)
    assert(b2 == """{"status":"success","data":["bar","boo"]}""")
    val (c3, _) = get("/api/v1/series")
    assert(c3 == 400)
  }

  test("matrix-typed instant query returns raw range samples") {
    val (code, body) = get(
      "/api/v1/query?query=test_metric1%7Bfoo%3D%22bar%22%7D%5B2m%5D&time=120")
    assert(code == 200)
    assert(body == """{"status":"success","data":{"resultType":"matrix","result":""" +
      """[{"metric":{"__name__":"test_metric1","foo":"bar"},""" +
      """"values":[[0,"0"],[60,"100"],[120,"200"]]}]}}""")
  }

  test("export streams raw samples (remote-read stand-in, read.go:45-126)") {
    val (code, body) = get(
      "/api/v1/export?match[]=test_metric1%7Bfoo%3D%22bar%22%7D&start=0&end=120")
    assert(code == 200)
    val lines = body.trim.split('\n')
    assert(lines.length == 3) // t = 0, 60s, 120s
    assert(lines(0) ==
      """{"labels":{"__name__":"test_metric1","foo":"bar"},"t":0,"v":"0"}""")
    assert(lines(2).contains(""""t":120000,"v":"200""""))
  }

  test("result ordering is labels.Compare, not the length-prefixed encoding") {
    // value lengths differ (bar=3, boo=3... use metric names instead):
    // test_metric1 < test_metric2 lexicographically, and within
    // test_metric1 foo=bar < foo=boo — plain string order. The
    // length-prefixed canonical() encoding would sort any SHORTER value
    // first regardless of content; metric-name compare catches that.
    val (code, body) = get(
      "/api/v1/query?query=%7B__name__%3D~%22test_metric.%22%7D&time=120")
    assert(code == 200)
    val order = "\"__name__\":\"([a-z0-9_]+)\",\"foo\":\"([a-z]+)\"".r
      .findAllMatchIn(body).map(m => (m.group(1), m.group(2))).toSeq
    assert(order == Seq(("test_metric1", "bar"), ("test_metric1", "boo"),
      ("test_metric2", "boo")), s"body: $body")
    assert(Samples.labelsCompare(
      Map("a" -> "view"), Map("a" -> "click")) > 0) // 4:view vs 5:click
  }

  test("guards: sub-millisecond step rounds to 0 and is rejected as bad_data") {
    val (c, b) = get("/api/v1/query_range?query=x&start=0&end=100&step=0.0004")
    assert(c == 400 && b.contains("zero or negative query resolution step"))
  }

  test("export guard failures return a 400 envelope, not an empty 200") {
    val (c1, b1) = get("/api/v1/export")
    assert(c1 == 400, s"body: $b1")
    assert(b1.contains("\"errorType\":\"bad_data\"") &&
      b1.contains("no match[] parameter provided"))
    val (c2, b2) = get("/api/v1/export?match[]=sum%28")
    assert(c2 == 400, s"body: $b2")
    assert(b2.contains("\"status\":\"error\""))
  }

  test("write lines with escaped quotes and braces in label values round-trip") {
    val line =
      """{"labels":{"__name__":"esc_metric","q":"say \"hi\"","b":"a}b"},"t":0,"v":7}"""
    val (code, body) = post("/api/v1/write", line)
    assert(code == 200, s"body: $body")
    val table = Ingest.readTable(spark, tablePath)
    val engine2 = new PromQLEngine(spark, table)
    val rows = engine2.instant("esc_metric", 0L).collect()
    assert(rows.length == 1)
    val labels = rows(0).getMap[String, String](0)
    assert(labels("q") == "say \"hi\"" && labels("b") == "a}b")
    assert(rows(0).getDouble(2) == 7.0)
  }

  test("malformed write lines are rejected with 400, never silently mangled") {
    val (c1, _) = post("/api/v1/write", """{"labels":{"a":1},"t":0,"v":1}""")
    assert(c1 == 400) // non-string label value
    val (c2, _) = post("/api/v1/write", """{"labels":{"a":"b"},"t":1.5,"v":1}""")
    assert(c2 == 400) // non-integral timestamp
    val (c3, _) = post("/api/v1/write", """not json at all""")
    assert(c3 == 400)
    val (c4, _) = post("/api/v1/write", """{"labels":{"a":"b"},"t":0}""")
    assert(c4 == 400) // missing v
  }

  test("write-then-query-back round trip (acceptance_test.go:124-161)") {
    val lines =
      """{"labels":{"__name__":"wr_metric","src":"api"},"t":0,"v":41.5}
        |{"labels":{"__name__":"wr_metric","src":"api"},"t":60000,"v":42.5}""".stripMargin
    val (code, body) = post("/api/v1/write", lines)
    assert(code == 200 && body.contains("success"))
    val table = Ingest.readTable(spark, tablePath)
    val engine2 = new PromQLEngine(spark, table)
    val r = resultMap(engine2.instant("wr_metric", 60000L))
    assert(r(("__name__=wr_metric,src=api", 60000L)) == 42.5)
  }

  test("oversized write bodies get HTTP 413 (acceptance_test.go:270-292)") {
    val line = """{"labels":{"__name__":"big"},"t":0,"v":1}""" + "\n"
    val repeats = (HttpApi.MaxBodyBytes / line.length + 2).toInt
    val (code, body) = post("/api/v1/write", line * repeats)
    assert(code == 413, s"expected 413, got $code: ${body.take(200)}")
    assert(body.contains("bad_data"))
  }

  test("table-backed server sees its own writes (engine swap on append)") {
    // a DataFrame snapshots the parquet file listing at read time, so
    // without the swap the startup engine would NEVER see appended
    // files (refreshByPath does not reach the analyzed plan's index)
    // the table starts EMPTY — a fresh deployment has no parquet to
    // infer a schema from, and the first write must still land
    val path = Files.createTempDirectory("api-table").toString
    import spark.implicits._
    val tApi = HttpApi.forTable(spark, path)
    tApi.start()
    try {
      def getT(p: String): String = {
        val url = new URI(s"http://127.0.0.1:${tApi.boundPort}$p").toURL
        new String(url.openStream().readAllBytes(), UTF_8)
      }
      def postT(p: String, body: String): Int = {
        val url = new URI(s"http://127.0.0.1:${tApi.boundPort}$p").toURL
        val conn = url.openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes(UTF_8))
        conn.getResponseCode
      }
      assert(getT("/api/v1/query?query=tbl_m&time=0")
        .contains(""""result":[]"""))
      assert(postT("/api/v1/write",
        """{"labels":{"__name__":"tbl_m"},"t":0,"v":1}""") == 200)
      assert(getT("/api/v1/query?query=tbl_m&time=0").contains(""""1""""))
      assert(postT("/api/v1/write",
        """{"labels":{"__name__":"tbl_m"},"t":60000,"v":7.5}""") == 200)
      // the write landed in new part files; the swapped engine serves
      // it (API time params are SECONDS, like the reference)
      val fresh = getT("/api/v1/query?query=tbl_m&time=60")
      assert(fresh.contains(""""7.5""""), fresh)
    } finally tApi.stop()
  }

  test("serving plan cache: an exact-repeat (query, time) key returns " +
      "byte-identical bodies, and a different time is a fresh evaluation") {
    // the r13 serving cache memoizes the BOUND PLAN per exact key
    // (HttpBench measured per-request Catalyst planning as the serving
    // cost, 0.65s vs 0.03s evaluation at sf0.1); repeats must be
    // bit-stable and near-keys must not collide. Invalidation on write
    // is witnessed by the engine-swap test above (same key queried
    // before and after a write serves the fresh data).
    val q = "/api/v1/query?query=sum(test_metric1)&time=120"
    val (c1, b1) = get(q)
    val (c2, b2) = get(q)
    assert(c1 == 200 && c2 == 200 && b1 == b2, s"$b1 vs $b2")
    val (c3, b3) = get("/api/v1/query?query=sum(test_metric1)&time=121")
    assert(c3 == 200 && b3.contains(""""value":[121,"""), b3)
  }

  test("rules and alerts endpoints expose the configured group and " +
      "the active alerts at the newest evaluation") {
    import graft.streaming.RecordingRules
    import graft.streaming.RecordingRules.{AlertRule, Group, Rule}
    // a store where one alert element is firing at the latest step and
    // another has resolved (see RecordingRulesSpec for the timeline)
    val path = Files.createTempDirectory("api-rules").toString
    val group = Group(5 * m,
      Seq(Rule("k:rsum", "sum by (k) (sum_over_time(rmtr[5m]))")),
      alerts = Seq(AlertRule("RSumHigh",
        "sum by (k) (sum_over_time(rmtr[5m])) > 50",
        forMs = 10 * m, labels = Map("severity" -> "page"),
        annotations = Map(
          "summary" -> "k={{ $labels.k }} crossed: {{ $value }}"))))
    val edge = (0 to 30).map(i =>
      Ingest.WriteSample(Map("__name__" -> "rmtr", "k" -> "a"),
        i * m, i.toDouble)) ++ (0 to 14).map(i =>
      Ingest.WriteSample(Map("__name__" -> "rmtr", "k" -> "b"),
        i * m, 2.0 * i))
    import spark.implicits._
    Ingest.append(Ingest.canonicalize(edge.toDS()), path)
    RecordingRules.evalGroup(spark, path, group)

    val rulesApi = new HttpApi(spark,
      new PromQLEngine(spark, Ingest.readTable(spark, path)),
      rules = Some(group))
    rulesApi.start()
    try {
      def getR(p: String): String = {
        val url = new URI(
          s"http://127.0.0.1:${rulesApi.boundPort}$p").toURL
        new String(url.openStream().readAllBytes(), UTF_8)
      }
      val r = getR("/api/v1/rules")
      assert(r.contains(""""type":"recording","name":"k:rsum""""))
      assert(r.contains(""""type":"alerting","name":"RSumHigh""""))
      assert(r.contains(""""duration":600.0""") && r.contains(""""interval":300.0"""))
      assert(r.contains(""""state":"firing"""")) // a is firing at 30m
      val a = getR("/api/v1/alerts")
      // a: firing since 15m; b resolved at 20m — absent from the list
      assert(a.contains(""""state":"firing""""))
      assert(a.contains(""""activeAt":"1970-01-01T00:15:00Z""""))
      assert(a.contains(""""alertname":"RSumHigh"""") &&
        a.contains(""""severity":"page"""") && a.contains(""""k":"a""""))
      assert(!a.contains(""""k":"b""""))
      assert(!a.contains("alertstate"), "state must be a field, not a label")
      // annotations expand $labels/$value; value re-evaluates the expr
      // at the latest step (a's closed 5m sum at 30m = 25+...+30 = 165)
      assert(a.contains(""""summary":"k=a crossed: 165""""))
      assert(a.contains(""""value":"165""""))
    } finally rulesApi.stop()
  }

  test("a fully resolved alert clears from /api/v1/alerts: the newest-" +
      "step probe must see the resolution marker") {
    import graft.streaming.RecordingRules
    import graft.streaming.RecordingRules.{AlertRule, Group}
    // ONE alerting element that fires and then resolves while an
    // unrelated series keeps the evaluation clock running: after
    // resolution the only ALERTS row at the newest step is the
    // staleness marker. A probe over non-stale rows would freeze
    // event-time "now" at the last firing step and report the alert
    // active forever.
    val path = Files.createTempDirectory("api-resolved").toString
    val group = Group(5 * m, Seq.empty,
      alerts = Seq(AlertRule("GoneHigh",
        "sum by (k) (sum_over_time(rmtr3[5m])) > 50", forMs = 0L)))
    val edge = (0 to 14).map(i =>
      Ingest.WriteSample(Map("__name__" -> "rmtr3", "k" -> "b"),
        i * m, 2.0 * i)) ++ (0 to 30).map(i =>
      Ingest.WriteSample(Map("__name__" -> "clockmtr", "k" -> "z"),
        i * m, 1.0))
    import spark.implicits._
    Ingest.append(Ingest.canonicalize(edge.toDS()), path)
    RecordingRules.evalGroup(spark, path, group)

    val resolvedApi = new HttpApi(spark,
      new PromQLEngine(spark, Ingest.readTable(spark, path)),
      rules = Some(group))
    resolvedApi.start()
    try {
      def getR(p: String): String = {
        val url = new URI(
          s"http://127.0.0.1:${resolvedApi.boundPort}$p").toURL
        new String(url.openStream().readAllBytes(), UTF_8)
      }
      val a = getR("/api/v1/alerts")
      assert(a.contains(""""alerts":[]"""), a)
      val r = getR("/api/v1/rules")
      assert(r.contains(""""name":"GoneHigh"""") &&
        !r.contains(""""state":"firing""""), r)
    } finally resolvedApi.stop()
  }
}
