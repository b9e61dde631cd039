"""Turns the harness's raw measurements into the benchmark's metrics.

Pure functions only, so that the statistics rules (percentiles, the tail
rule, what counts as failed) are unit-tested in perfbench/tests.
"""

import json
import math
import os
import re
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

INDEX_TYPES = ("exact", "lsh", "ivf", "hnsw", "ivfpq", "binary")
OPS = ("search", "create", "update", "delete", "get")
WRITES = ("create", "update", "delete")

# A tail needs at least this many samples beyond it.
TAIL_MIN_BEYOND = 10
TAIL_LADDER = (99.9, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)
# The percentile each *_tail_ms metric reports: the highest with at
# least TAIL_MIN_BEYOND samples beyond it at the fixed run length
# (run_seconds in BENCHMARK.json) on a 4-core machine. Fixed, so that
# a faster program is not charged a higher percentile.
TAIL_PCT = {
    ("serve_read", "search"): 80.0,
    ("serve_mixed", "search"): 75.0,
    ("serve_mixed", "write"): 90.0,
}


def percentile(values, p):
    """Linear-interpolated percentile, as numpy's default and
    statistics.quantiles(method='inclusive') compute it."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n, p):
    """Samples ranked above the p-th percentile of n samples (the
    interpolation position is (n - 1) * p / 100)."""
    return n - 1 - math.floor((n - 1) * p / 100.0)


def tail_percentile(n, preferred=TAIL_LADDER[0]):
    """`preferred`, or the highest lower ladder percentile, that leaves
    at least TAIL_MIN_BEYOND of n samples beyond it; None when n is too
    small for any."""
    for p in (preferred,) + tuple(q for q in TAIL_LADDER if q < preferred):
        if beyond(n, p) >= TAIL_MIN_BEYOND:
            return p
    return None


def tail(values, preferred=TAIL_LADDER[0]):
    """(value, percentile) of the tail rule; the maximum with
    percentile 100 when there are too few samples for any tail."""
    p = tail_percentile(len(values), preferred)
    if p is None:
        return max(values), 100.0
    return percentile(values, p), p


def failed_count(samples, check_failures):
    """Operations that failed: non-2xx replies, client timeouts
    (status -1, so not ok) and failed output checks."""
    return sum(1 for s in samples if not s["ok"]) + len(check_failures)


def failed_frac(failed, attempted):
    return failed / attempted if attempted else 1.0


def samples_of(raw):
    keys = ("op", "kind", "start_ms", "client_ms", "server_ms", "ok", "bytes")
    return [dict(zip(keys, s)) for s in raw["http"]["samples"]]


def setup_seconds(raw):
    """Session start plus the median of the repeated set-ups."""
    return raw["session_s"] + statistics.median(raw["setup_s"])


def end_to_end(raw):
    """Every end-to-end metric the run measured, {name: (value, unit, n)},
    with the attempted and failed counts and the tail percentiles used."""
    wl = raw["workload"]
    samples = samples_of(raw)
    checks = raw["checks"]
    attempted = len(samples) + checks["attempted"]
    failed = failed_count(samples, checks["failures"])
    m = {
        "setup_s": (setup_seconds(raw), "s", len(raw["setup_s"])),
        "ops_s": (sum(1 for s in samples if s["ok"]) / raw["http"]["elapsed_s"], "ops/s", len(samples)),
        "failed_frac": (failed_frac(failed, attempted), "ratio", attempted),
    }
    tails = {}

    def put(name, pred, tail_key=None):
        xs = [s["client_ms"] for s in samples if pred(s)]
        if not xs:
            return
        m[name.replace("*", "p50")] = (statistics.median(xs), "ms", len(xs))
        if tail_key:
            t, p = tail(xs, TAIL_PCT[tail_key])
            m[name.replace("*", "tail")] = (t, "ms", len(xs))
            tails[name.replace("*", "tail")] = p

    put("search_*_ms", lambda s: s["op"] == "search", (wl, "search"))
    if wl == "serve_read":
        for ty in INDEX_TYPES:
            put("search_*_ms." + ty, lambda s, ty=ty: s["op"] == "search" and s["kind"] == ty)
        builds = raw.get("index_build_s", {})
        m["index_build_s"] = (sum(builds.values()), "s", len(builds))
    if wl == "serve_mixed":
        put("write_*_ms", lambda s: s["op"] in WRITES, (wl, "write"))
        put("get_*_ms", lambda s: s["op"] == "get")
    return m, attempted, failed, tails


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def per_layer(raw, e2e):
    """Every per-layer metric of a traced run: {name: (value, unit, n)}."""
    tr = raw["traced"]
    reqs = tr["requests"]
    samples = samples_of(raw)
    m = {}

    # api: the handler's own X-Process-Time, and what the client sees beyond it
    for op in OPS:
        ss = [s for s in samples if s["op"] == op and s["server_ms"] is not None]
        if ss:
            m["api.server_ms." + op] = (_p50([s["server_ms"] for s in ss]), "ms", len(ss))
            m["api.gap_ms." + op] = (_p50([s["client_ms"] - s["server_ms"] for s in ss]), "ms", len(ss))
    searches = [r for r in reqs if r["op"] == "search"]
    enc = [r["spans"]["api.encode"] for r in searches if "api.encode" in r["spans"]]
    m["api.encode_ms"] = (_p50(enc), "ms", len(enc))
    m["api.response_bytes"] = (_p50([r["bytes"] for r in searches]), "B", len(searches))

    emb = [r["spans"]["embed"] for r in reqs if "embed" in r["spans"]]
    m["functions.embed_ms"] = (_p50(emb), "ms", len(emb))

    kinds = sorted({r["kind"] for r in searches})
    for ty in kinds:
        rs = [r for r in searches if r["kind"] == ty]
        svc = [r["spans"]["search.service"] for r in rs]
        m["search.service_ms." + ty] = (_p50(svc), "ms", len(svc))
        if ty != "exact":
            drv = [r["spans"].get("index.driver", 0.0) for r in rs]
            m["index.driver_ms." + ty] = (_p50(drv), "ms", len(drv))
        if "recall" in rs[0]:
            m["index.recall_at_10." + ty] = (_mean([r["recall"] for r in rs]), "ratio", len(rs))
    svc_all = [r["spans"]["search.service"] for r in searches]
    m["search.service_ms"] = (_p50(svc_all), "ms", len(svc_all))
    for ty, v in tr.get("candidates_per_result", {}).items():
        m["index.candidates_per_result." + ty] = (v, "rows", 2)
    for ty, v in raw.get("index_build_s", {}).items():
        m["index.build_s." + ty] = (v, "s", 1)

    # catalog
    view = [r["spans"]["catalog.view"] for r in searches if "catalog.view" in r["spans"]]
    m["catalog.view_ms"] = (_p50(view), "ms", len(view))
    m["catalog.base_partitions"] = (tr["base_partitions_end"], "count", 1)
    compactions = [v for site, v in raw.get("jobs_by_site", {}).items()
                   if site.startswith("localCheckpoint at VectorCatalog")]
    n_comp = sum(v["count"] for v in compactions)
    m["catalog.compactions"] = (n_comp, "count", 1)
    m["catalog.compaction_ms"] = (sum(v["ms"] for v in compactions) / n_comp if n_comp else 0.0, "ms", n_comp)
    gets = [r for r in reqs if r["op"] == "get"]
    m["catalog.get_scan_frac"] = (sum(1 for r in gets if r["jobs"] > 0) / len(gets) if gets else 0.0,
                                  "ratio", len(gets))
    cat = raw.get("catalog", {})
    m["catalog.wal_files_per_write"] = (cat.get("wal_files_per_write", 0.0), "files", int(cat.get("writes", 0)))
    m["catalog.wal_bytes_per_write"] = (cat.get("wal_bytes_per_write", 0.0), "B", int(cat.get("writes", 0)))
    m["catalog.recover_s"] = (cat.get("recover_s", 0.0), "s", 1)
    m["catalog.reopen_lost_writes"] = (tr.get("reopen_lost_writes", 0), "count", 1)

    # Spark work per request, by op
    for op in sorted({r["op"] for r in reqs}):
        rs = [r for r in reqs if r["op"] == op]
        n = len(rs)
        m["spark.jobs_per_op." + op] = (_mean([r["jobs"] for r in rs]), "jobs", n)
        m["spark.stages_per_op." + op] = (_mean([r["stages"] for r in rs]), "stages", n)
        m["spark.tasks_per_op." + op] = (_mean([r["tasks"] for r in rs]), "tasks", n)
        m["spark.exec_cpu_ms_per_op." + op] = (_mean([r["cpu_ms"] for r in rs]), "ms", n)
        m["spark.plan_ms_per_op." + op] = (_mean([r["plan_ms"] for r in rs]), "ms", n)
        m["spark.driver_residual_ms." + op] = (_mean([r["wall_ms"] - r["job_ms"] for r in rs]), "ms", n)

    # tracing overhead: the traced in-process phase against the HTTP phase
    ok = sum(1 for r in reqs if r["ok"])
    traced_ops = ok / tr["elapsed_s"]
    m["tracing.ops_s"] = (traced_ops, "ops/s", len(reqs))
    m["tracing.overhead.ops_s"] = (traced_ops - e2e["ops_s"][0], "ops/s", len(reqs))
    walls = [r["wall_ms"] for r in searches]
    if walls and "search_p50_ms" in e2e:
        m["tracing.overhead.search_p50_ms"] = (_p50(walls) - e2e["search_p50_ms"][0], "ms", len(walls))
    return m


def load_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def load_layers():
    with open(os.path.join(HERE, "layers.json")) as f:
        return json.load(f)
