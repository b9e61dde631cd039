#!/usr/bin/env python3
"""Serving benchmark: builds the engine with the harness, runs one
workload, checks its outputs and prints its metrics.

    python3 perfbench/run.py --workload serve_read|serve_mixed \\
        [--seed N] [--seconds S] [--trace 0|1]

Run from the repository root. The first run compiles the engine sources
and the harness with sbt (offline) into perfbench/target; later runs
reuse the classes while the sources are unchanged. Each run starts one
JVM holding Spark, the HTTP server and the closed-loop clients.

Standard output: one line `{"report": ...}` with every metric of the
run (units, sample counts, tail percentiles, environment), then, as the
last line, the result object whose metrics are exactly the end-to-end
metrics of BENCHMARK.json (--trace 0) or its per-layer metrics
(--trace 1). The exit code is 0 when every output check passed.

The default seed is 1; seed 7919 is held out for confirming claims.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import bench_lib  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_DIR = os.path.join(ROOT, ".bench_work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ("serve_read", "serve_mixed")
HEAP = "3g"
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jars the root build compiles against (its unmanagedBase),
    else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")
    return jars


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness unless the classes match the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) not found; "
                         "run from a full checkout")
    digest = sources_digest()
    stamp = os.path.join(BUILD_DIR, "classes.sha256")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log("building engine + harness with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS_DIR=spark_jars())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true",
           f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
           f"-Dsbt.global.base={os.path.join(BUILD_DIR, 'sbt-global')}",
           f"-J-Djava.io.tmpdir={tmp}", "-J-Xmx2g", "compile"]
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        rc = subprocess.call(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=850)
    if rc != 0:
        raise SystemExit(f"perfbench: build failed (see {BUILD_DIR}/build.log)")
    with open(stamp, "w") as f:
        f.write(digest)


def run_jvm(workload, seed, seconds, trace, work, out_path):
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           ["--add-modules=jdk.incubator.vector", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")]),
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--out", out_path])
    log_path = os.path.join(WORK_DIR, f"jvm-{workload}.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: JVM timed out after {JVM_TIMEOUT_S}s (see {log_path})")
    if rc != 0:
        raise SystemExit(f"perfbench: JVM exited with {rc} (see {log_path})")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    spec = bench_lib.load_spec()
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]

    load_start = os.getloadavg()[0]
    build()
    os.makedirs(WORK_DIR, exist_ok=True)
    work = os.path.join(WORK_DIR, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out_path = os.path.join(WORK_DIR, f"raw-{a.workload}-{a.seed}-{a.trace}.json")
    t0 = time.time()
    try:
        run_jvm(a.workload, a.seed, seconds, a.trace, work, out_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(out_path) as f:
        raw = json.load(f)

    e2e, attempted, failed, tails = bench_lib.end_to_end(raw)
    layers = bench_lib.per_layer(raw, e2e) if a.trace else {}
    failures = raw["checks"]["failures"]
    correct = not failures and failed == 0
    env = dict(raw["env"], nproc=os.cpu_count(), loadavg_1m_start=load_start,
               loadavg_1m_end=os.getloadavg()[0], wall_s=time.time() - t0)
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": seconds, "trace": a.trace,
        "env": env,
        "end_to_end": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in e2e.items()},
        "tail_percentiles": tails,
        "setup_s_runs": raw["setup_s"], "session_s": raw["session_s"],
        "per_layer": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in layers.items()},
        "catalog": raw.get("catalog", {}),
        "check_failures": failures[:20],
    }
    print(json.dumps({"report": report}))

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    have = layers if a.trace else e2e
    metrics = {}
    for m in wanted:
        if m["name"] not in have:
            raise SystemExit(f"perfbench: metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": have[m["name"]][0], "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
