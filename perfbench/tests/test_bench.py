"""Unit tests for the benchmark's own rules; no JVM needed.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import random
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import bench_lib  # noqa: E402


def fake_raw(workload, seed=0, n=200, bad=(), check_failures=()):
    """A raw result shaped like the harness's output, with n HTTP samples."""
    r = random.Random(seed)
    ops = ["search"] if workload == "serve_read" else ["create", "update", "delete", "get", "search"]
    samples = []
    for i in range(n):
        op = ops[i % len(ops)]
        kind = bench_lib.INDEX_TYPES[i % 6] if workload == "serve_read" else "exact"
        server = r.uniform(50, 500)
        ok = i not in bad
        # a client timeout carries no server time and is not ok
        samples.append([op, kind, i * 10.0, server + 48.0 if ok else 30000.0,
                        server if ok else None, ok, 1000])
    reqs = []
    for i in range(n):
        op = ops[i % len(ops)]
        reqs.append({"req": i, "op": op, "kind": samples[i][1], "start_ms": i * 10.0,
                     "wall_ms": r.uniform(40, 400), "ok": True, "bytes": 900,
                     "spans": {"embed": 0.02, "search.service": r.uniform(30, 300),
                               "catalog.view": 4.0, "api.encode": 0.3, "index.driver": 0.1},
                     "jobs": 1, "stages": 2, "tasks": 8, "cpu_ms": 30.0, "plan_ms": 10.0,
                     "job_ms": 120.0, "recall": 0.9})
    raw = {
        "workload": workload, "seed": seed, "session_s": 8.0, "setup_s": [12.0, 7.0, 7.5],
        "http": {"elapsed_s": 12.0, "samples": samples},
        "checks": {"attempted": 8, "failures": list(check_failures)},
        "traced": {"elapsed_s": 12.0, "requests": reqs, "base_partitions_end": 8,
                   "candidates_per_result": {"exact": 300.0}, "reopen_lost_writes": 0},
        "jobs_by_site": {"localCheckpoint at VectorCatalog.scala:727": {"count": 2, "ms": 180}},
    }
    if workload == "serve_read":
        raw["index_build_s"] = {t: 0.5 for t in bench_lib.INDEX_TYPES}
    else:
        raw["catalog"] = {"writes": 100, "wal_files_per_write": 1.0,
                          "wal_bytes_per_write": 800.0, "recover_s": 1.2}
    return raw


class MetricNames(unittest.TestCase):
    def test_names_in_benchmark_json(self):
        spec = bench_lib.load_spec()
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        names += [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, bench_lib.NAME_RE)

    def test_names_the_runs_produce(self):
        for wl in ("serve_read", "serve_mixed"):
            e2e, _, _, _ = bench_lib.end_to_end(fake_raw(wl))
            for n in list(e2e) + list(bench_lib.per_layer(fake_raw(wl), e2e)):
                self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")

    def test_every_listed_metric_is_produced_on_every_workload(self):
        spec = bench_lib.load_spec()
        for wl in (w["name"] for w in spec["workloads"]):
            raw = fake_raw(wl)
            e2e, _, _, _ = bench_lib.end_to_end(raw)
            layers = bench_lib.per_layer(raw, e2e)
            for m in spec["end_to_end"]:
                self.assertIn(m["name"], e2e, wl)
            for m in spec["per_layer"]:
                self.assertIn(m["name"], layers, wl)


class TailRule(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        prefs = sorted(set(bench_lib.TAIL_LADDER) | set(bench_lib.TAIL_PCT.values()))
        for n in range(1, 3000):
            for pref in prefs:
                p = bench_lib.tail_percentile(n, pref)
                if p is None:
                    # too few samples for any tail: only when even p50 leaves < 10
                    self.assertLess(bench_lib.beyond(n, min(bench_lib.TAIL_LADDER)), 10)
                    continue
                self.assertLessEqual(p, pref)
                self.assertGreaterEqual(bench_lib.beyond(n, p), bench_lib.TAIL_MIN_BEYOND)

    def test_beyond_counts_real_samples(self):
        r = random.Random(7)
        for n in (20, 37, 48, 96, 100, 101, 250, 1000):
            xs = [r.random() for _ in range(n)]
            for pref in (75.0, 80.0, 90.0, 99.0):
                value, p = bench_lib.tail(xs, pref)
                if p < 100.0:
                    self.assertGreaterEqual(sum(1 for x in xs if x > value), bench_lib.TAIL_MIN_BEYOND)
                    self.assertEqual(sum(1 for x in xs if x > value), bench_lib.beyond(n, p))

    def test_fixed_percentiles_hold_at_the_expected_counts(self):
        # the fixed percentiles assume at least these many samples per run
        expected = {("serve_read", "search"): 60, ("serve_mixed", "search"): 40,
                    ("serve_mixed", "write"): 100}
        for key, n in expected.items():
            self.assertEqual(bench_lib.tail_percentile(n, bench_lib.TAIL_PCT[key]),
                             bench_lib.TAIL_PCT[key], key)

    def test_percentile_matches_statistics(self):
        import statistics
        xs = [random.Random(3).random() for _ in range(101)]
        q = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(bench_lib.percentile(xs, 25), q[0])
        self.assertAlmostEqual(bench_lib.percentile(xs, 75), q[2])


class FailedFrac(unittest.TestCase):
    def test_counts_timeouts_and_check_failures(self):
        raw = fake_raw("serve_mixed", n=100, bad=(3, 50), check_failures=("recovery: 1 missing",))
        e2e, attempted, failed, _ = bench_lib.end_to_end(raw)
        self.assertEqual(attempted, 100 + 8)
        self.assertEqual(failed, 3)
        self.assertAlmostEqual(e2e["failed_frac"][0], 3 / 108)

    def test_clean_run(self):
        e2e, attempted, failed, _ = bench_lib.end_to_end(fake_raw("serve_read"))
        self.assertEqual(failed, 0)
        self.assertEqual(e2e["failed_frac"][0], 0.0)

    def test_failed_ops_do_not_count_as_throughput(self):
        clean, _, _, _ = bench_lib.end_to_end(fake_raw("serve_read", n=120))
        some_bad, _, _, _ = bench_lib.end_to_end(fake_raw("serve_read", n=120, bad=range(10)))
        self.assertLess(some_bad["ops_s"][0], clean["ops_s"][0])


class LayerMapping(unittest.TestCase):
    def test_every_per_layer_metric_names_what_it_should_move(self):
        spec = bench_lib.load_spec()
        layers = bench_lib.load_layers()["metrics"]
        workloads = {w["name"] for w in spec["workloads"]}
        known = set()
        for wl in workloads:
            e2e, _, _, _ = bench_lib.end_to_end(fake_raw(wl))
            known |= set(e2e)
        for m in spec["per_layer"]:
            entry = layers.get(m["name"])
            self.assertIsNotNone(entry, m["name"])
            self.assertFalse(entry.get("report_only", False), m["name"])
            self.assertTrue(entry["moves"], m["name"])
            for metric, wl in entry["moves"]:
                self.assertIn(wl, workloads, m["name"])
                self.assertIn(metric, known, m["name"])


class Contract(unittest.TestCase):
    def test_benchmark_json_shape(self):
        spec = bench_lib.load_spec()
        self.assertEqual(set(spec), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        self.assertIn("setup_s", bounds)
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        for m in spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        self.assertTrue(2 <= len(spec["workloads"]) <= 8)
        for w in spec["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)


if __name__ == "__main__":
    unittest.main()
