#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload dash_read --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program from
source (scalac from the Spark distribution, no sbt) into `.bench_build`.
Workloads:

  dash_read     dashboard reads: open loop at a fixed rate, then a
                closed-loop capacity phase
  ingest_mixed  two remote-write shards under a low-rate reader
  llm_batch     one cold pass of the graft.llm dedup pipeline, repeated

`--trace 0` measures the end-to-end metrics with tracing off; the load
generator is this process, the server is a separate JVM. `--trace 1`
replays the same seeded inputs in process with spans and prints the
per-layer metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; a fuller report for the
run is printed on the line before it and kept under `.bench_out/`.
"""
import argparse
import hashlib
import http.client
import json
import os
import queue
import re
import shutil
import signal
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("dash_read", "ingest_mixed", "llm_batch")
# dash_read closed-loop clients: one, so each request is timed alone
DASH_CLIENTS = 1
# requests in one dashboard refresh (the schedule's repeating cycle)
DASH_REFRESH = 10
# per-class latency limits for query_slo_ratio, seconds
SLO_S = {"instant": 1.0, "range": 3.0}
METRIC_NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- statistics -----------------------------------------------------------

def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile). With fewer than eleven samples, the maximum."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0
    i = n - 11 if n >= 11 else n - 1
    return s[i], 100.0 * (i + 1) / n


# ---- build ----------------------------------------------------------------

def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"Spark jars not found under {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    out = []
    for d in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for dp, _, fs in os.walk(d):
            out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir):
    """Compile the program and the benchmark with scalac; skipped when
    the sources hash matches the last build."""
    main_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail("no program sources (src/main/scala): run from the repository root")
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    os.makedirs(build_dir, exist_ok=True)
    stamp = os.path.join(build_dir, "stamp")
    classes = os.path.join(build_dir, "classes")
    bench = os.path.join(build_dir, "bench-classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes, bench, jars
    for d in (classes, bench):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cp = os.path.join(jars, "*")

    def scalac(out, extra_cp, files):
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", out, "-classpath", extra_cp + cp] + files,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail(f"build failed ({out})")

    scalac(classes, "", [f for f in srcs if f.startswith(main_src)])
    scalac(bench, classes + os.pathsep,
           [f for f in srcs if not f.startswith(main_src)])
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes, bench, jars


def jvm_command(classes, bench, jars, run_dir, args):
    mem_kb = 8 << 20
    try:
        with open("/proc/meminfo") as fh:
            mem_kb = int(fh.readline().split()[1])
    except OSError:
        pass
    heap_gb = max(2, min(6, mem_kb // (4 << 20)))
    opens = []
    for p in JVM_OPENS:
        opens += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: HotSpot would otherwise write its perf-data file
    # to the system temp directory, outside the checkout
    return (["java", "-XX:-UsePerfData"] + opens +
            [f"-Xmx{heap_gb}g", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
             "-cp", os.pathsep.join([bench, classes, os.path.join(jars, "*")]),
             "graft.perfbench.Main"] + args)


# ---- the benchmark JVM ----------------------------------------------------

class Jvm:
    """The program under test in its own process; protocol lines on its
    stdout start with `@@`."""

    def __init__(self, cmd, log_path):
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True, bufsize=1)
        self.lines = queue.Queue()
        self.reader = threading.Thread(target=self._pump, daemon=True)
        self.reader.start()

    def _pump(self):
        for line in self.proc.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def expect(self, tag, timeout):
        deadline = time.monotonic() + timeout
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise RuntimeError(f"timed out waiting for @@{tag}")
            try:
                line = self.lines.get(timeout=left)
            except queue.Empty:
                continue
            if line is None:
                raise RuntimeError(f"benchmark JVM exited before @@{tag} "
                                   f"(see {self.log.name})")
            if line.startswith(f"@@{tag} "):
                return json.loads(line[len(tag) + 3:])

    def send(self, text):
        self.proc.stdin.write(text + "\n")
        self.proc.stdin.flush()

    def close(self, timeout=60):
        try:
            if self.proc.stdin:
                self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.log.close()
        return self.proc.returncode


# ---- load generation --------------------------------------------------------

class Client:
    """One keep-alive HTTP connection to the server."""

    def __init__(self, port):
        self.port = port
        self.conn = None

    def call(self, method, url, body=None):
        headers = {}
        if body is not None:
            headers = {"Content-Type": "application/x-protobuf",
                       "Content-Encoding": "snappy"}
        for attempt in (0, 1):
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=150)
            try:
                self.conn.request(method, url, body=body, headers=headers)
                r = self.conn.getresponse()
                return r.status, r.read().decode("utf-8", "replace")
            except (http.client.HTTPException, OSError):
                self.conn.close()
                self.conn = None
                if attempt:
                    return 599, ""

    def close(self):
        if self.conn is not None:
            self.conn.close()


def url_of(req, params=None):
    ps = req["params"] if params is None else params
    return req["path"] + ("?" + urllib.parse.urlencode([tuple(p) for p in ps]) if ps else "")


def open_loop(reqs, workers, send, clock=time.monotonic, sleep=time.sleep,
              prepare=None):
    """Send each request at its due time (`due` seconds after the
    start) through at most `workers` concurrent senders. A request that
    finds every sender busy waits, and its latency still counts from
    its due time, so a stalled server is charged for the requests
    queued behind it. `send(req, url) -> (status, body)`."""
    q = queue.Queue()
    out = []
    lock = threading.Lock()

    def worker():
        while True:
            item = q.get()
            if item is None:
                return
            req, url, due_abs, put_at = item
            sent = clock()
            status, body = send(req, url)
            done = clock()
            with lock:
                out.append({"id": req["id"], "cls": req["cls"], "url": url,
                            "kind": "read", "status": status, "body": body,
                            "due": due_abs, "dispatched": put_at, "sent": sent,
                            "done": done, "latency": done - due_abs,
                            "late": put_at - due_abs})

    ts = [threading.Thread(target=worker, daemon=True) for _ in range(workers)]
    for t in ts:
        t.start()
    start = clock()
    for req in reqs:
        due_abs = start + req["due"]
        wait = due_abs - clock()
        if wait > 0:
            sleep(wait)
        url = prepare(req) if prepare else url_of(req)
        q.put((req, url, due_abs, clock()))
    for _ in ts:
        q.put(None)
    for t in ts:
        t.join()
    return sorted(out, key=lambda r: r["id"])


def closed_loop(reqs, clients, send, seconds, whole=1, clock=time.monotonic):
    """`clients` senders each issue the next request as soon as their
    previous one completes, for `seconds`, and then until the number
    issued is a multiple of `whole` (so a run covers whole dashboard
    refreshes). Returns the results and the time from the start to the
    last completion."""
    it = iter(reqs)
    lock = threading.Lock()
    out = []
    issued = [0]
    start = clock()
    deadline = start + seconds

    def client():
        while True:
            with lock:
                if clock() >= deadline and issued[0] % whole == 0:
                    return
                req = next(it, None)
                issued[0] += 1
            if req is None:
                return
            url = url_of(req)
            sent = clock()
            status, body = send(req, url)
            done = clock()
            with lock:
                out.append({"id": req["id"], "cls": req["cls"], "url": url,
                            "kind": "read", "status": status, "body": body,
                            "sent": sent, "done": done, "latency": done - sent})

    ts = [threading.Thread(target=client, daemon=True) for _ in range(clients)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    span = max((r["done"] for r in out), default=clock()) - start
    return sorted(out, key=lambda r: r["id"]), span


def pooled_send(port):
    """A `send` that gives each sender thread its own connection."""
    local = threading.local()
    clients = []

    def send(req, url):
        c = getattr(local, "c", None)
        if c is None:
            c = local.c = Client(port)
            clients.append(c)
        return c.call("GET", url)

    def close():
        for c in clients:
            c.close()
    return send, close


def run_dash(port, schedule, seconds, clients):
    """`clients` closed-loop dashboard clients for the whole window,
    finishing the refresh under way when it ends."""
    send, close = pooled_send(port)
    try:
        res, span = closed_loop(schedule, clients, send, seconds, whole=DASH_REFRESH)
    finally:
        close()
    return res, {"span_s": span}


def run_ingest(port, schedule, seconds, nproc, run_dir, t_end_ms):
    """Two closed-loop writer shards (one connection each) and an
    open-loop reader at the acknowledged head."""
    writes = {z: [r for r in schedule if r["phase"] == "write" and r["zone"] == z]
              for z in ("a", "b")}
    reads = [r for r in schedule if r["phase"] == "read" and r["due"] < seconds]
    head = {"a": t_end_ms, "b": t_end_ms}
    lock = threading.Lock()
    results = []
    start = time.monotonic()
    deadline = start + seconds

    def writer(zone):
        c = Client(port)
        try:
            for r in writes[zone]:
                if time.monotonic() >= deadline:
                    return
                with open(os.path.join(run_dir, r["body"]), "rb") as fh:
                    body = fh.read()
                sent = time.monotonic()
                status, text = c.call("POST", r["path"], body)
                acked = time.monotonic()
                rec = {"id": r["id"], "kind": "write", "zone": zone, "url": r["path"],
                       "head_ms": r["head_ms"], "samples": r["samples"],
                       "status": status, "sent": sent, "done": acked,
                       "latency": acked - sent, "body": "" if status == 200 else text}
                visible = None
                if status == 200:
                    q = urllib.parse.urlencode({"query": r["visibility"],
                                                "time": r["head_ms"] / 1000})
                    for _ in range(60):
                        st, txt = c.call("GET", "/api/v1/query?" + q)
                        if st == 200 and visible_at(txt, r["head_ms"]):
                            visible = time.monotonic() - sent
                            break
                        time.sleep(0.05)
                    with lock:
                        head[zone] = r["head_ms"]
                rec["visible"] = visible
                with lock:
                    results.append(rec)
        finally:
            c.close()

    def prepare(r):
        with lock:
            h = min(head.values())
        ps = list(r["params"])
        if r["head_rel"] == "instant":
            ps.append(["time", fmt_s(h)])
        else:
            ps += [["start", fmt_s(h - 3600000)], ["end", fmt_s(h)], ["step", "60"]]
        return url_of(r, ps)

    ws = [threading.Thread(target=writer, args=(z,), daemon=True) for z in ("a", "b")]
    for t in ws:
        t.start()
    send, close = pooled_send(port)
    try:
        read_res = open_loop(reads, max(1, nproc - 2), send, prepare=prepare)
    finally:
        close()
    for t in ws:
        t.join()
    for r in read_res:
        r["phase"] = "read"
    return sorted(results, key=lambda r: r["id"]) + read_res, {"start": start}


def fmt_s(ms):
    return str(ms // 1000) if ms % 1000 == 0 else f"{ms / 1000:.3f}"


def visible_at(body, head_ms):
    try:
        res = json.loads(body)["data"]["result"]
        return bool(res) and round(float(res[0]["value"][1]) * 1000) == head_ms
    except (ValueError, KeyError, IndexError, TypeError):
        return False


# ---- metrics ----------------------------------------------------------------

def metric(value, unit):
    return {"value": float(value), "unit": unit}


def read_metrics(res, verified_bad):
    """Latency figures of one set of reads; a read that failed or was
    wrong counts as missing its limit."""
    lat = [r["latency"] for r in res]
    ok = [r for r in res if r["status"] == 200 and r["id"] not in verified_bad]
    within = [r for r in ok if r["latency"] <= SLO_S[r["cls"]]]
    tv, tp = tail(lat)
    return {
        "query_p50_s": metric(median(lat), "s"),
        "query_tail_s": metric(tv, "s"),
        "query_tail_percentile": metric(tp, "%"),
        "query_samples": metric(len(lat), "count"),
        "instant_p50_s": metric(median([r["latency"] for r in res if r["cls"] == "instant"]), "s"),
        "range_p50_s": metric(median([r["latency"] for r in res if r["cls"] == "range"]), "s"),
        "query_slo_ratio": metric(len(within) / max(1, len(res)), "fraction"),
    }


def refresh_times(reads, size):
    """Time from the first send to the last answer of each whole
    dashboard refresh (`size` consecutive request ids)."""
    by = {}
    for r in reads:
        by.setdefault(r["id"] // size, []).append(r)
    return [max(r["done"] for r in g) - min(r["sent"] for r in g)
            for g in by.values() if len(g) == size]


def contract_line(correct, attempted, failed, metrics, names):
    """The final line: exactly the named metrics, each with a unit."""
    missing = [n for n in names if n not in metrics]
    if missing:
        raise ValueError(f"metrics missing from the run: {missing}")
    for n in names:
        if not METRIC_NAME.match(n) or not metrics[n].get("unit"):
            raise ValueError(f"bad metric {n}: {metrics[n]}")
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed),
                       "metrics": {n: metrics[n] for n in names}})


def benchmark_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return json.load(fh)


# ---- one run ----------------------------------------------------------------

def serving_run(jvm, workload, seconds, nproc, run_dir):
    ready = jvm.expect("READY", 170)
    with open(os.path.join(run_dir, "schedule.jsonl")) as fh:
        schedule = [json.loads(l) for l in fh if l.strip()]
    port = ready["port"]
    if workload == "dash_read":
        res, info = run_dash(port, schedule, seconds, DASH_CLIENTS)
    else:
        for r in schedule:
            if r["phase"] == "write":
                r["visibility"] = 'min(timestamp(bench_requests_total{zone="%s"}))' % r["zone"]
        res, info = run_ingest(port, schedule, seconds, nproc, run_dir, ready["t_end_ms"])
    with open(os.path.join(run_dir, "responses.jsonl"), "w") as fh:
        for r in res:
            fh.write(json.dumps(r) + "\n")
    jvm.send("verify")
    ver = jvm.expect("VERIFIED", 170)
    bad = set(ver["mismatched_ids"])
    reads = [r for r in res if r["kind"] == "read"]
    failed_reads = [r for r in reads if r["status"] != 200 or r["id"] in bad]
    report = {"setup_s": metric(ready["setup_s"], "s"),
              "warmup_s": metric(ready["warmup_s"], "s"),
              "host.probe_ratio": metric(ver["probe_ratio"], "ratio"),
              "host.peak_rss_mb": metric(ver["peak_rss_mb"], "MB")}
    failed = len(failed_reads)
    attempted = len(res)
    if workload == "dash_read":
        report.update(read_metrics(reads, bad))
        good = [r for r in reads if r["status"] == 200 and r["id"] not in bad]
        report["requests_per_s"] = metric(len(good) / info["span_s"], "1/s")
        refreshes = refresh_times(reads, DASH_REFRESH)
        report["refresh_p50_s"] = metric(median(refreshes), "s")
        report["refreshes"] = metric(len(refreshes), "count")
        report["op_p50_s"] = report["refresh_p50_s"]
        report["work_per_s"] = report["requests_per_s"]
    else:
        writes = [r for r in res if r["kind"] == "write"]
        acked = [r for r in writes if r["status"] == 200]
        unseen = [r for r in acked if r["visible"] is None]
        failed += len(writes) - len(acked) + len(unseen) + ver["ack_mismatches"]
        span = (max(r["done"] for r in acked) - info["start"]) if acked else 1.0
        report.update(read_metrics(reads, bad))
        report["ingest_samples_per_s"] = metric(sum(r["samples"] for r in acked) / span, "1/s")
        report["write_ack_p50_s"] = metric(median([r["latency"] for r in acked]), "s")
        report["write_visible_p50_s"] = metric(
            median([r["visible"] for r in acked if r["visible"] is not None]), "s")
        report["writes_acked"] = metric(len(acked), "count")
        report["loadgen.late_tail_s"] = metric(tail([r["late"] for r in reads])[0], "s")
        report["op_p50_s"] = report["write_ack_p50_s"]
        report["work_per_s"] = report["ingest_samples_per_s"]
    report["failed_ratio"] = metric(failed / max(1, attempted), "fraction")
    correct = failed == 0 and ver["checked"] == len([r for r in reads if r["status"] == 200])
    extra = {"input_hash": ready["input_hash"], "setup_runs_s": ready["setup_runs_s"],
             "timeline_s": {k: ready[k] for k in ("session_s", "ready_at_s")} |
             {"verify_s": ver["verify_s"]},
             "verify_details": ver["details"], "checked_reads": ver["checked"],
             "latencies_s": [[r["id"], r.get("cls", r["kind"]), round(r["latency"], 4)] for r in res]}
    return correct, attempted, failed, report, extra


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    spec = benchmark_spec()
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    classes, bench, jars = build(root, os.path.join(root, ".bench_build"))
    nproc = os.cpu_count() or 4
    out_dir = os.path.join(root, ".bench_out")
    run_dir = os.path.join(out_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    mode = "trace" if args.trace else "serve"
    cmd = jvm_command(classes, bench, jars, run_dir,
                      [mode, args.workload, str(args.seed), str(args.seconds), run_dir, str(nproc)])
    jvm = Jvm(cmd, os.path.join(run_dir, "jvm.log"))
    ok = False
    try:
        if args.workload == "llm_batch" or args.trace:
            tag = "TRACE" if args.trace else "LLM"
            out = jvm.expect(tag, 175)
            report, extra = out["metrics"], {k: v for k, v in out.items() if k != "metrics"}
            correct, attempted, failed = out["correct"], out["attempted"], out["failed"]
        else:
            correct, attempted, failed, report, extra = serving_run(
                jvm, args.workload, args.seconds, nproc, run_dir)
        ok = True
    finally:
        if not ok:
            jvm.proc.kill()
        code = jvm.close()
        if ok and code != 0:
            fail(f"benchmark JVM exited with {code} (log kept in {run_dir})")
    if args.trace:
        # layers this workload bypasses did no work in it
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        extra["bypassed"] = [n for n in names if n not in report]
        for n in extra["bypassed"]:
            report[n] = metric(0, units[n])
    elif args.workload == "llm_batch":
        report["op_p50_s"] = report["pipeline_s"]
        report["work_per_s"] = metric(extra["docs"] / report["pipeline_s"]["value"], "1/s")
    full = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": report, **extra}
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(full, fh, indent=1)
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, stem + "-spans.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"report": full}))
    print(contract_line(correct, attempted, failed, report, names))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
