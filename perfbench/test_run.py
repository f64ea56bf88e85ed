"""Tests for the benchmark's own logic (no JVM, no Spark):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import threading
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def req(i, due, cls="instant"):
    return {"id": i, "due": due, "cls": cls, "path": "/q", "params": [["i", str(i)]]}


class DueTimeLatency(unittest.TestCase):
    def test_stall_is_charged_to_requests_queued_behind_it(self):
        # one sender; the first request stalls the server for 0.3 s, so
        # the two due during the stall wait, and their latency counts
        # from when they were due, not from when they were sent
        stall = 0.3
        lock = threading.Lock()
        calls = []

        def send(r, url):
            with lock:
                calls.append(r["id"])
            time.sleep(stall if r["id"] == 0 else 0.01)
            return 200, "{}"

        res = run.open_loop([req(0, 0.0), req(1, 0.05), req(2, 0.1)], 1, send)
        self.assertEqual(calls, [0, 1, 2])
        for r in res:
            self.assertAlmostEqual(r["latency"], r["done"] - r["due"], places=9)
            self.assertGreaterEqual(r["sent"], r["dispatched"])
        by = {r["id"]: r for r in res}
        self.assertGreaterEqual(by[1]["latency"], stall - 0.05)
        self.assertGreaterEqual(by[2]["latency"], stall - 0.1)
        # the generator itself dispatched on time
        self.assertLess(max(r["late"] for r in res), 0.05)

    def test_closed_loop_finishes_whole_refreshes(self):
        reqs = [req(i, 0.0) for i in range(100)]
        res, span = run.closed_loop(reqs, 2, lambda r, u: (200, ""), 0.01, whole=10)
        self.assertEqual(len(res) % 10, 0)
        self.assertGreater(len(res), 0)
        self.assertGreater(span, 0)

    def test_refresh_times_use_whole_refreshes_only(self):
        reads = [{"id": i, "sent": float(i), "done": i + 0.5} for i in range(15)]
        self.assertEqual(run.refresh_times(reads, 10), [9.5])


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond_the_tail(self):
        xs = [float(i) for i in range(100)]
        v, p = run.tail(xs)
        self.assertEqual(v, 89.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(p, 90.0)

    def test_eleven_samples_is_the_minimum(self):
        v, p = run.tail([5.0] + [float(i) for i in range(10, 20)])
        self.assertEqual(v, 5.0)

    def test_fewer_samples_give_the_maximum(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (3.0, 100.0))
        self.assertEqual(run.tail([]), (0.0, 0.0))


class MetricContract(unittest.TestCase):
    def setUp(self):
        self.spec = run.benchmark_spec()

    def test_names_and_units(self):
        names = set()
        for kind in ("end_to_end", "per_layer"):
            for m in self.spec[kind]:
                self.assertRegex(m["name"], run.METRIC_NAME)
                self.assertTrue(m["unit"])
                self.assertNotIn(m["name"], names)
                names.add(m["name"])

    def test_final_line_carries_exactly_the_named_metrics(self):
        names = [m["name"] for m in self.spec["end_to_end"]]
        metrics = {n: run.metric(1.5, "s") for n in names}
        metrics["extra"] = run.metric(2, "count")
        line = json.loads(run.contract_line(True, 3, 0, metrics, names))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(line["metrics"]), set(names))
        for v in line["metrics"].values():
            self.assertTrue(v["unit"])

    def test_missing_or_unitless_metric_is_refused(self):
        with self.assertRaises(ValueError):
            run.contract_line(True, 1, 0, {}, ["setup_s"])
        with self.assertRaises(ValueError):
            run.contract_line(True, 1, 0, {"setup_s": {"value": 1.0, "unit": ""}}, ["setup_s"])
        with self.assertRaises(ValueError):
            run.contract_line(True, 1, 0, {"bad name": run.metric(1, "s")}, ["bad name"])


if __name__ == "__main__":
    unittest.main()
