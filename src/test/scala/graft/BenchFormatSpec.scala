package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver captures only the last ~2000 chars of Bench stdout; the
  * one JSON line must survive that window WITH the trailing sbt
  * `[success]` line (~80 chars) still fitting behind it. Rounds 2 and
  * 3 shipped lines that overran it — the driver recorded
  * `parsed: null` both times. This pins the renderer so adding a
  * query can never silently re-break the contract.
  */
class BenchFormatSpec extends AnyFunSuite {
  private val names = SparkEntry.queries.keys.toSeq.sorted

  test("bench stdout line stays under the 1800-char budget at worst-case widths") {
    // worst case: every query reads 99.99s, totals/qps at max width
    val results = names.map(n => (n, 99.999, 99.999))
    val line = BenchFormat.line(results, 9999.999, 99.999, 99.999, "0.1",
      qpsStormed = true)
    assert(line.length < 1800, s"line is ${line.length} chars")
    assert(line.startsWith("{\"metric\":\"total\""))
    assert(line.endsWith("\"sf\":0.1}"))
    // the stdout headline mirrors the artifact's storm stamp (r16)…
    assert(line.contains("\"qps_stormed\":true"))
    // …and a clean run's line carries no flag
    assert(!BenchFormat.line(results, 9999.999, 99.999, 99.999, "0.1")
      .contains("qps_stormed"))
  }

  test("short keys are unique and prefix-faithful") {
    val short = BenchFormat.shortKeys(names)
    assert(short.size == names.size)
    assert(short.values.toSet.size == names.size, "abbreviations collide")
    names.foreach { n =>
      assert(n == short(n) || n.startsWith(short(n) + "_"),
        s"$n -> ${short(n)} is not a token prefix")
    }
  }

  test("full json carries every query under its full name with all draws") {
    val recs = names.map(n =>
      BenchFormat.Rec(n, 1.0, 0.5, Seq(0.6, 0.5, 0.4), 1.12, 0,
        memoized = SparkEntry.memoizedEntries.contains(n)))
    val full = BenchFormat.fullJson(recs, 1.0, 2.0, 3.0, "0.01", 0.041,
      qpsWindows = Seq(
        BenchFormat.QpsWindow(40.0, 30.0, 1.05, 1.10),
        BenchFormat.QpsWindow(42.5, 31.0, 1.20, 2.45, 1, 2,
          lightStormed = false, mixedStormed = true)))
    names.foreach(n => assert(full.contains("\"" + n + "\":{")))
    // every individual draw is adjudicable from the artifact (the r4
    // bench's contaminated medians could not be diagnosed without this)
    assert(full.contains("\"draws\":[0.600,0.500,0.400]"))
    assert(full.contains("\"probe_ratio\":1.12"))
    assert(full.contains("\"retries\":0"))
    assert(full.contains("\"probe_baseline_ms\":41.000"))
    // each window half carries its accepted probe ratio + retry count
    // (r14: the r13 qps collapse was unadjudicable from the artifact)
    // and a 0/1 stormed flag (r15: redraws exhausted while still hot)
    assert(full.contains("\"qps_windows\":[[40.00,30.00,1.05,1.10,0,0,0,0,0,0]," +
      "[42.50,31.00,1.20,2.45,1,2,0,1,0,0]]"))
    // r16: any stormed half ⇒ the TOP-LEVEL throughput maxima carry
    // the flag too (the headline figures are maxima over the windows,
    // so one hot half can be the shipped number)
    assert(full.contains("\"mixed_qps\":3.000,\"qps_stormed\":true"))
    // memo-serving rows are flagged so near-identical draws are
    // adjudicable as memoization, not plan stability; live rows carry
    // no flag
    SparkEntry.memoizedEntries.foreach(n =>
      assert(names.contains(n), s"memoizedEntries names unknown query $n"))
    assert(full.contains(
      "\"r1_recording_rule\":{\"warm\":0.500,\"cold\":1.000," +
        "\"draws\":[0.600,0.500,0.400],\"probe_ratio\":1.12," +
        "\"retries\":0,\"memoized\":true}"))
    assert(full.contains(
      "\"f1_rate\":{\"warm\":0.500,\"cold\":1.000," +
        "\"draws\":[0.600,0.500,0.400],\"probe_ratio\":1.12," +
        "\"retries\":0}"))
  }

  test("a serial row that exhausted its redraws still hot carries " +
      "stormed:true; clean rows carry no flag (r15)") {
    val recs = Seq(
      BenchFormat.Rec("m8_image_incremental", 0.2, 1.11,
        Seq(1.2, 1.11, 1.0, 1.3, 1.11, 1.05, 1.2, 1.11, 1.0),
        probeRatio = 2.73, retries = 2, stormed = true),
      BenchFormat.Rec("c5_semdedup_apply", 1.2, 1.22, Seq(1.3, 1.22, 1.2),
        probeRatio = 1.07, retries = 0))
    val full = BenchFormat.fullJson(recs, 1.4, 2.0, 3.0, "0.1", 0.041)
    // no windows / no stormed half ⇒ no top-level flag (r16)
    assert(!full.contains("qps_stormed"),
      "clean artifact must not carry qps_stormed")
    assert(full.contains(
      "\"m8_image_incremental\":{\"warm\":1.110,\"cold\":0.200," +
        "\"draws\":[1.200,1.110,1.000,1.300,1.110,1.050,1.200,1.110," +
        "1.000],\"probe_ratio\":2.73,\"retries\":2,\"stormed\":true}"))
    assert(!full.contains("\"c5_semdedup_apply\":{\"warm\":1.220," +
      "\"cold\":1.200,\"draws\":[1.300,1.220,1.200],\"probe_ratio\":" +
      "1.07,\"retries\":0,\"stormed\""),
      "clean row must not carry the stormed flag")
    assert(full.contains("\"c5_semdedup_apply\":{\"warm\":1.220"))
  }

  test("a row whose draw threw carries failed:true in the full json; " +
      "the stdout line keeps its shape") {
    val recs = Seq(
      BenchFormat.Rec("d7_embed_lsh", 0.01, 0.01, Seq(0.01, 0.01, 0.01),
        probeRatio = 1.02, retries = 0, failed = true),
      BenchFormat.Rec("f1_rate", 0.9, 0.5, Seq(0.6, 0.5, 0.4),
        probeRatio = 1.02, retries = 0))
    val full = BenchFormat.fullJson(recs, 0.91, 2.0, 3.0, "0.1", 0.041)
    assert(full.contains(
      "\"d7_embed_lsh\":{\"warm\":0.010,\"cold\":0.010," +
        "\"draws\":[0.010,0.010,0.010],\"probe_ratio\":1.02," +
        "\"retries\":0,\"failed\":true}"))
    assert(full.contains(
      "\"f1_rate\":{\"warm\":0.500,\"cold\":0.900," +
        "\"draws\":[0.600,0.500,0.400],\"probe_ratio\":1.02," +
        "\"retries\":0}"), "a clean row must not carry the failed flag")
    val line = BenchFormat.line(recs.map(r => (r.name, r.cold, r.warm)),
      0.91, 2.0, 3.0, "0.1")
    assert(!line.contains("failed"))
    assert(line.startsWith("{\"metric\":\"total\",\"value\":0.51,"))
  }

  test("a qps window whose queries threw carries its light- and " +
      "heavy-thread failure counts; the stdout line keeps its shape") {
    // a heavy query that throws at once frees its slots: the mixed
    // figure then reads as light-only throughput, and only the failure
    // count tells the two apart
    val full = BenchFormat.fullJson(Nil, 0.0, 41.0, 38.5, "0.1", 0.041,
      qpsWindows = Seq(
        BenchFormat.QpsWindow(40.0, 38.5, 1.05, 1.10, heavyFailed = 412),
        BenchFormat.QpsWindow(41.0, 30.0, 1.02, 1.04, lightFailed = 3)))
    assert(full.contains("\"qps_windows\":[[40.00,38.50,1.05,1.10,0,0,0,0," +
      "0,412],[41.00,30.00,1.02,1.04,0,0,0,0,3,0]]"))
    val line = BenchFormat.line(Seq(("f1_rate", 0.9, 0.5)), 0.9, 41.0,
      38.5, "0.1")
    assert(line == "{\"metric\":\"total\",\"value\":0.50,\"unit\":" +
      "\"sec\",\"queries\":{\"f1\":0.50},\"cold_sec\":0.90," +
      "\"instant_qps\":41.00,\"mixed_qps\":38.50,\"sf\":0.1}")
  }

  test("calibration probe does fixed work in bounded time") {
    val t = Bench.probeOnce()
    assert(t > 0.0 && t < 2.0, s"probe took ${t}s — not a usable probe")
  }
}
