#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload reconcile --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

A run builds graft and the benchmark program if needed (perfbench/build.py), starts
one JVM with a local[<cores>] Spark session, generates the workload's
inputs from the seed, warms up, then runs jobs back to back for
--seconds and checks every job's output. It prints every metric by name
with its unit, then, as the last line, one JSON object whose metrics are
the end-to-end ones (--trace 0) or the per-layer ones (--trace 1).
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

# `batch` runs the reconcile job and then the curate job; `reconcile`
# and `curate` run one of them alone, for profiling a single layer.
WORKLOADS = ("batch", "ingest", "reconcile", "curate")
JVM_TIMEOUT_S = 170
SETUP_REPS = 3
# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# Every metric the benchmark reports, in print order: (name, unit, workloads).
END_TO_END = [
    ("setup_s", "s", WORKLOADS),
    ("job_s", "s", WORKLOADS),
    ("rows_per_s", "rows/s", WORKLOADS),
    ("commit_p50_ms", "ms", ("ingest",)),
    ("commit_tail_ms", "ms", ("ingest",)),
    ("scan_p50_ms", "ms", ("ingest",)),
    ("scan_tail_ms", "ms", ("ingest",)),
    ("stored_bytes_per_row", "bytes/row", ("ingest",)),
    ("heap_live_mb", "MB", WORKLOADS),
    ("fail_ratio", "ratio", WORKLOADS),
]
# Ingest-only user-facing figures; BENCHMARK.json lists them per-layer
# as ingest.<name>, since every listed metric is printed for every workload.
INGEST_ONLY = [n for n, _, w in END_TO_END if w == ("ingest",)]


def bench_config():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(workload, seed, seconds, trace, smoke):
    """Run the benchmark JVM once; returns its result dict."""
    classpath = build.build()
    deadline = time.time() + JVM_TIMEOUT_S
    work = os.path.join(build.BUILD_ROOT, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log_dir = os.path.join(build.BUILD_ROOT, "logs")
    os.makedirs(log_dir, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:+UseG1GC",
           f"-XX:ActiveProcessorCount={cores}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Duser.timezone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--smoke", "1" if smoke else "0",
            "--setup-reps", "1" if smoke else str(SETUP_REPS),
            "--work", work, "--out", out]
    log_path = os.path.join(log_dir, f"{workload}.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                 start_new_session=True)
            try:
                rc = p.wait(timeout=max(30.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                raise RuntimeError(f"{workload}: benchmark JVM timed out (log: {log_path})")
        if rc != 0 or not os.path.exists(out):
            with open(log_path) as f:
                tail = f.read()[-3000:]
            raise RuntimeError(f"{workload}: benchmark JVM exited {rc}\n{tail}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def fmt(v):
    return "n/a" if v is None else repr(v)


def report(res, trace, show=True):
    """Print every metric with its unit; return the JSON result line."""
    wl = res["workload"]
    e2e = {m["name"]: m for m in res["end_to_end"]}
    layer = {m["name"]: m for m in res["per_layer"]}
    if show:
        show_all(res, e2e)

    cfg = bench_config()
    wanted = cfg["per_layer"] if trace else cfg["end_to_end"]
    source = dict(layer) if trace else dict(e2e)
    if trace:
        for name in INGEST_ONLY:
            if name in e2e:
                source["ingest." + name] = e2e[name]
    metrics = {}
    for m in wanted:
        got = source.get(m["name"])
        v = got["value"] if got else None
        # a layer a workload never enters is reported as 0
        metrics[m["name"]] = {"value": 0 if v is None else v, "unit": m["unit"]}
    failed = int(res["failed"])
    return {"correct": failed == 0, "attempted": int(res["attempted"]),
            "failed": failed, "metrics": metrics}


def show_all(res, e2e):
    wl = res["workload"]
    print(f"# workload {wl}: {res['jobs']} jobs, {res['rows_per_job']} input rows per job, "
          f"1 closed-loop client, local[{res['cores']}]")
    print(f"# set-up: session {res['session_s']:.2f} s, inputs "
          + ", ".join(f"{x:.2f}" for x in res["prepare_s"]) + " s, warm-up "
          + ", ".join(f"{x:.2f}" for x in res["warm_s"]) + " s; jobs "
          + ", ".join(f"{x:.3f}{'*' if t else ''}" for x, t in zip(res["job_times_s"], res["traced"]))
          + " s (* traced)")
    for name, unit, where in END_TO_END:
        m = e2e.get(name)
        v = m["value"] if (m and wl in where) else None
        extra = ""
        if name.endswith("_tail_ms") and v is not None:
            label = name[:-len("_tail_ms")]
            extra = (f"  (p{e2e[label + '_tail_pct']['value']:g} of "
                     f"{e2e[label + '_samples']['value']:g} samples)")
        print(f"metric {name} = {fmt(v)} {unit}{extra}")
    for m in res["per_layer"]:
        print(f"layer {m['name']} = {fmt(m['value'])} {m['unit']}")
    for f in res["failures"]:
        print(f"FAILED {f}")


def smoke():
    """Each workload once at the smallest size; every named metric must
    print with its unit, and no operation may fail."""
    cfg = bench_config()
    problems = []
    for wl in [w["name"] for w in cfg["workloads"]]:
        res = run_jvm(wl, 1, 0, True, True)
        for trace in (False, True):
            line = report(res, trace, show=trace)
            names = cfg["per_layer"] if trace else cfg["end_to_end"]
            for m in names:
                got = line["metrics"].get(m["name"])
                if not got or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                    problems.append(f"{wl}: {m['name']} missing or without unit {m['unit']}")
            if not line["correct"]:
                problems.append(f"{wl}: {line['failed']} of {line['attempted']} operations failed")
        names = {m["name"] for m in res["end_to_end"]} | {m["name"] for m in res["per_layer"]}
        for name, _, where in END_TO_END:
            if wl in where and name not in names:
                problems.append(f"{wl}: {name} not reported")
    for p in problems:
        print("SMOKE", p)
    print("SMOKE", "FAILED" if problems else "OK")
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    try:
        if a.smoke:
            return smoke()
        if not a.workload:
            ap.error("--workload is required")
        seconds = a.seconds if a.seconds is not None else bench_config()["run_seconds"]
        res = run_jvm(a.workload, a.seed, seconds, bool(a.trace), False)
    except (build.BuildError, RuntimeError, OSError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 2
    line = report(res, bool(a.trace))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
