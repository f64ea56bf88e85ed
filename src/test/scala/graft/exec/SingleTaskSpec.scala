package graft.exec

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.api.HttpApi
import graft.storage.{ChunkStore, Ingest}

/** The one-task plan of small tables (`PromQLEngine.singleTask`) and
  * its series catalog: every dashboard shape answers like the parallel
  * plan (bit for bit, or within the documented last-ulp bound of a
  * floating-point sum over more than two members), plans no shuffle,
  * and the catalog is dropped with the engine serving it. */
class SingleTaskSpec extends SparkTestBase {
  import SingleTaskSpec.withBound

  private val m = 60000L
  private val h = 60 * m

  /** A tiered engine over a forTable directory, built the way the
    * table server builds one after a write. */
  private def tiered(path: String): PromQLEngine =
    new PromQLEngine(spark, Ingest.readTable(spark, path),
      partialsLadder = Seq((spark.read.parquet(Ingest.rollupPath(path, h))
        .drop("date"), h)),
      seriesIndex = Some(spark.read.parquet(s"$path/_index")),
      chunkTier = Some(ChunkStore.read(spark, s"$path/_chunks")))

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** A dashboard request: step 0 is an instant query. `ulps` bounds
    * the per-point difference between the plans: Spark merges a
    * group's partial sums in partition order, so a floating-point sum
    * over more than two members may differ in its last bit. */
  private case class Shape(name: String, q: String, start: Long, end: Long,
      step: Long, vectorMatching: Boolean = false, ulps: Long = 0)

  test("seeded dashboard shapes: the one-task plan equals the parallel " +
      "plan (bit for bit up to two-member sums, within 1 ulp beyond), " +
      "and plans no shuffle Exchange") {
    val rnd = new scala.util.Random(7)
    val t0 = 18 * h
    val points = 14 * 60 // 14 h at a 60 s cadence
    // counters per (job, instance, code) with resets, ~10 % gaps and a
    // trailing staleness marker; one integer gauge per instance.
    // Integer values keep the rung merge's floating-point
    // reassociation (last-ulp sums) out of the comparison, and every
    // `sum by` group has two members: rates are not integers, and a
    // Spark sum fixes no order across partitions, but a two-term IEEE
    // sum is the same in either order. One shape sums all four
    // counters, where the order may show in the last bit (`ulps = 1`).
    val rows = for {
      i <- 0 until 2
      name <- Seq("dash_requests_total", "dash_capacity")
      code <- if (name == "dash_capacity") Seq("") else Seq("200", "500")
    } yield {
      val labels = Map("__name__" -> name, "job" -> s"job-$i",
        "instance" -> s"inst-$i") ++ (if (code.isEmpty) Nil else Seq("code" -> code))
      var v = rnd.nextInt(50).toLong
      val pts = (0 until points).flatMap { k =>
        if (rnd.nextInt(10) == 0) None
        else {
          v = if (name == "dash_capacity") 5 + rnd.nextInt(20)
            else if (rnd.nextInt(120) == 0) rnd.nextInt(5).toLong
            else v + rnd.nextInt(9)
          Some(Row(labels, t0 + k * m, v.toDouble, false))
        }
      }
      pts :+ Row(labels, pts.last.getLong(1) + m, graft.model.Samples.StaleNaN, true)
    }
    val schema = StructType(Seq(
      StructField("labels", MapType(StringType, StringType), nullable = false),
      StructField("t", LongType, nullable = false),
      StructField("v", DoubleType, nullable = false),
      StructField("stale", BooleanType, nullable = false)))
    val history = spark.createDataFrame(rows.flatten.asJava, schema)
    val path = Files.createTempDirectory("single-task").toString
    val api = HttpApi.forTable(spark, path, rollups = Seq(h), chunks = true)
    api.writeDirect(history)

    val at = t0 + 6 * h + 17 * 1000
    val slide = t0 + 9 * h + 33 * 1000
    val agg = "sum by (job) (rate(dash_requests_total[5m]))"
    val shapes = Seq(
      Shape("instant selector", """dash_requests_total{job="job-1",code="500"}""", at, at, 0L),
      Shape("sum by (rate)", agg, at, at, 0L),
      Shape("sliding 1 h @ 15 s", agg, slide - h, slide, 15000L),
      Shape("group_left ratio", """sum by (job, instance) (rate(dash_requests_total{code="200"}[5m]))""" +
        " / on (job, instance) group_left dash_capacity", at, at, 0L, vectorMatching = true),
      Shape("topk", """topk(3, rate(dash_requests_total{code="500"}[5m]))""", at, at, 0L),
      Shape("rung-aligned increase", "sum by (code) (increase(dash_requests_total[1h]))",
        t0 + h, t0 + 13 * h, h),
      Shape("sliding 1 h @ 60 s", agg, slide - h, slide, 60000L),
      Shape("sum of four members", "sum(rate(dash_requests_total[5m]))",
        slide - h, slide, 15000L, ulps = 1))

    def bits(df: DataFrame): Map[(Map[String, String], Long), Long] =
      df.collect().map(r => (r.getMap[String, String](0).toMap, r.getLong(1)) ->
        java.lang.Double.doubleToLongBits(r.getDouble(2))).toMap
    def evalAll(e: PromQLEngine) = shapes.map { case Shape(_, q, s, end, step, _, _) =>
      val df = if (step == 0) e.instantCached(q, s) else e.rangeQueryCached(q, s, end, step)
      val out = bits(df)
      // the repeat: a plan-cache hit re-collects the same plan
      val again = if (step == 0) e.instantCached(q, s) else e.rangeQueryCached(q, s, end, step)
      assert(again eq df)
      (out, bits(again), formatted(df))
    }
    def metadata(e: PromQLEngine) = (
      Seq("job", "code", "instance", "__name__", "absent").map(e.labelValues(_).toSet),
      Seq("""dash_capacity{job="job-1"}""", """dash_requests_total{code=~"5.."}""")
        .map(e.series(_).toSet))

    try {
      val one = tiered(path)
      val par = tiered(path)
      val (oneOut, oneMeta) = withBound(Long.MaxValue)((evalAll(one), metadata(one)))
      val (parOut, parMeta) = withBound(0L)((evalAll(par), metadata(par)))

      assert(one.singleTaskQueries.get() == shapes.size,
        "the forced-high engine did not plan every shape as one task")
      assert(par.singleTaskQueries.get() == 0L)
      // the gate changes plans, never the route a selector takes
      def routes(e: PromQLEngine) = e.routeHits.asScala.map { case (k, v) => k -> v.get() }.toMap
      assert(routes(one) == routes(par))
      assert(routes(one).contains(s"rate_partials:$h"), "no shape read the rung")

      shapes.zip(oneOut.zip(parOut)).foreach {
        case (Shape(name, _, _, _, _, vectorMatching, ulps), ((o, o2, plan), (p, p2, _))) =>
          assert(o.nonEmpty, s"$name: empty result")
          assert(o.keySet == p.keySet, s"$name: one-task and parallel series or steps differ")
          // same-sign doubles: the distance of their bit patterns is
          // their distance in ulps
          val worst = o.map { case (k, b) => math.abs(b - p(k)) }.max
          assert(worst <= ulps,
            s"$name: one-task and parallel results differ by $worst ulp (bound $ulps)")
          assert(o2 == o && p2 == p, s"$name: the repeat differs")
          val shuffles = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
          assert(shuffles == 0, s"$name: the one-task plan shuffles:\n$plan")
          if (!vectorMatching)
            assert(!plan.contains("BroadcastExchange"),
              s"$name: a broadcast outside vector matching:\n$plan")
      }
      assert(oneMeta == parMeta, "label values or series differ")
      assert(oneMeta._1.head == Set("job-0", "job-1"))
      assert(oneMeta._2.head.size == 1 && oneMeta._2(1).size == 2)
      one.releaseSeriesDim()
      par.releaseSeriesDim()
    } finally api.stop()
  }

  test("catalog lifecycle: releaseSeriesDim drops the engine's catalog, " +
      "and a write's new series is visible to label values, series and " +
      "queries") {
    val path = Files.createTempDirectory("single-task-catalog").toString
    val api = HttpApi.forTable(spark, path, chunks = true)
    api.start()
    def call(method: String, p: String, body: String = ""): String = {
      val url = new URI(s"http://127.0.0.1:${api.boundPort}$p").toURL
      val conn = url.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod(method)
      if (method == "POST") {
        conn.setDoOutput(true); conn.getOutputStream.write(body.getBytes(UTF_8))
      }
      assert(conn.getResponseCode == 200, s"$method $p")
      new String(conn.getInputStream.readAllBytes(), UTF_8)
    }
    def write(k: String): String = call("POST", "/api/v1/write", (0 to 30).map(i =>
      s"""{"labels":{"__name__":"cat_m","k":"$k"},"t":${i * m},"v":$i}""").mkString("\n"))
    try {
      write("a")
      val e1 = api.servingEngine
      assert(call("GET", "/api/v1/label/k/values").contains("\"a\""))
      val bc = e1.catalogBroadcast.getOrElse(fail("no catalog was built"))
      assert(bc.value != null)

      // a write adding series k="b" swaps e1 out and releases it: the
      // released engine drops its catalog (Spark's ContextCleaner
      // reclaims the broadcast once no plan holds it), and the
      // swapped-in engine's catalog sees the new series in label
      // values, series and an instant query
      write("b")
      val e2 = api.servingEngine
      assert(e2 ne e1)
      assert(e1.catalogBroadcast.isEmpty, "the released engine kept its catalog")
      assert(call("GET", "/api/v1/label/k/values").contains("\"b\""))
      assert(call("GET", "/api/v1/series?match[]=cat_m").contains("\"k\":\"b\""))
      val q = call("GET", "/api/v1/query?query=" +
        java.net.URLEncoder.encode("""cat_m{k="b"}""", UTF_8) + "&time=1800")
      assert(q.contains("\"k\":\"b\""), q)
      assert(e2.catalogBroadcast.exists(_ ne bc))
      assert(e2.singleTaskQueries.get() > 0)
    } finally api.stop()
  }
}

object SingleTaskSpec {
  /** Run `f` with the one-task bound pinned to `samples`: 0 keeps a
    * small fixture on the parallel plan, for specs that assert its
    * multi-stage shape. */
  def withBound[A](samples: Long)(f: => A): A = {
    val prev = PromQLEngine.singleTaskMaxSamples
    PromQLEngine.singleTaskMaxSamples = samples
    try f finally PromQLEngine.singleTaskMaxSamples = prev
  }
}
