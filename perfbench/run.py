#!/usr/bin/env python3
"""The graft benchmark: one workload, measured, checked and reported.

    python3 perfbench/run.py --workload index_lifecycle|cdc_feed \
        --seed N --seconds S --trace 0|1 [--smoke]

Run it from the repository root. It builds the repository and the
benchmark's JVM (`perfbench/build.sbt`) when their sources changed, makes the
seeded input tables (`datagen.py`), runs the workload in one JVM at
local[min(4, nproc)], checks every output, and prints as its last line one
JSON object: `correct`, `attempted`, `failed` and `metrics` — the end-to-end
metrics of BENCHMARK.json with `--trace 0`, the per-layer ones with
`--trace 1`; a run fails when the workload does not produce one of them.
The workloads are defined in `workloads.json`; `--smoke` runs them small
(sf0.001, a short feed) for the benchmark's own tests.

Everything it writes goes under `.perfbench/` in the repository root: the
build record, the cached input tables, one private directory per run
(warehouse, temp files, verification dumps; removed at exit) and, for
traced runs, the span file `traces/<workload>-<seed>.jsonl`.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 165  # leaves time for the oracle check inside the 180 s a run may take
BUILD_TIMEOUT_S = 850
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import datagen  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, cwd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} did not finish within {timeout:.0f} s")
    return p.returncode, out, err


def sources_stamp():
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    for r in roots:
        base = os.path.join(ROOT, r)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """The JVM classpath, compiling first if any source changed."""
    record = os.path.join(WORK, "build.json")
    stamp = sources_stamp()
    if os.path.exists(record):
        with open(record) as f:
            b = json.load(f)
        if b["stamp"] == stamp:
            return b["classpath"]
    code, out, _ = run_group(
        ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        HERE, BUILD_TIMEOUT_S, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(record, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def oracle_failures(verify_dir, data_dir):
    """Entries whose verification dump differs from the DuckDB oracle, by
    the comparison rules of scripts/check.py."""
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "scripts", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(verify_dir, data_dir)
    lines = buf.getvalue().splitlines()
    failed = {l.split()[1].rstrip(":") for l in lines if l.startswith("FAIL ")}
    passed = {l.split()[1].rstrip(":") for l in lines if l.startswith("PASS ")}
    return failed, passed, [l for l in lines if l.startswith("FAIL ")]


def quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a Beta(q(n+1), (1-q)(n+1))-
    weighted mean of all order statistics. Unlike the sample quantile, it
    does not jump between neighbouring values when few samples change."""
    xs = np.sort(np.asarray(xs, dtype=float))
    n = len(xs)
    if n < 2:
        return float(xs[0]) if n else 0.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    # the Beta mass of each interval [(i-1)/n, i/n], by the midpoint rule
    x = (np.arange(1000 * n) + 0.5) / (1000 * n)
    logpdf = (a - 1) * np.log(x) + (b - 1) * np.log1p(-x)
    w = np.exp(logpdf - logpdf.max()).reshape(n, -1).sum(axis=1)
    return float(np.dot(w / w.sum(), xs))


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def query_result(rec, wl, cores, verify_dir, data_dir, traced):
    bad_oracle, passed, notes = oracle_failures(verify_dir, data_dir)
    notes += [f"VERIFY-ERROR {e}: {err}" for e, err in rec["verify_errors"].items()]
    no_oracle = [e for e in wl["entries"] if e not in passed and e not in bad_oracle]
    notes += [f"NO-ORACLE {e}: output unchecked" for e in no_oracle]
    bad = bad_oracle | set(rec["verify_errors"]) | set(no_oracle)
    ops = [o for o in rec["ops"] if not o["traced"]]
    ok = [o for o in ops if o["outcome"] == "ok" and o["entry"] not in bad]
    failed = len(rec["ops"]) - sum(1 for o in rec["ops"] if o["outcome"] == "ok" and o["entry"] not in bad)
    for o in rec["ops"]:
        if o["outcome"] != "ok":
            notes.append(f"{o['entry']} pass {o['pass']}: {o['outcome']}")
    passes = [p["wall_s"] for p in rec["passes"] if not p["traced"]]
    walls = [o["wall_s"] for o in ok]
    e2e = {
        "setup_s": rec["session_s"] + rec["cold_s"] + rec["warm_s"],
        "latency_p50_s": quantile(walls, 0.5),
        "latency_p90_s": quantile(walls, 0.9),
        "throughput_per_s": len(ok) / sum(passes) if passes else 0.0,
        "mem_live_mb": max(rec["live_mb"]),
    }
    layers = {}
    if traced:
        lp = rec["layer_passes"]
        layers = {k: mean([p.get(k, 0.0) for p in lp]) for k in set().union(*lp)} if lp else {}
        traced_walls = [p["wall_s"] for p in rec["passes"] if p["traced"]]
        layers["exec.busy_frac"] = layers.get("exec.run_s", 0.0) / (mean(traced_walls) * cores)
        layers["trace.overhead_frac"] = statistics.median(traced_walls) / statistics.median(passes) - 1
    per_entry = {e: statistics.median([o["wall_s"] for o in ok if o["entry"] == e] or [0.0])
                 for e in wl["entries"]}
    info = {"entries": len(wl["entries"]), "oracle_passed": len(passed),
            "entry_median_s": dict(sorted(per_entry.items(), key=lambda kv: -kv[1])),
            "timed_passes": len(passes), "samples": len(walls), "live_mb": rec["live_mb"], "notes": notes,
            "phases_s": {"session": rec["session_s"], "cold": rec["cold_s"],
                         "warm": rec["warm_s"], "timed": rec["timed_s"]}}
    return len(rec["ops"]), failed, not bad and failed == 0, e2e, layers, info


def cdc_result(rec, wl, cores, traced):
    lat = rec["latencies_s"]
    notes = [f"check mismatch: {m}" for m in rec["check_mismatches"]]
    if rec["stream_error"]:
        notes.append(f"stream failed: {rec['stream_error']}")
    missing = rec["steady_files"] - len(lat)
    if not rec["drained"] or missing:
        notes.append(f"{missing} offered change files never committed")
    attempted = rec["offered_files"] + 1
    failed = (missing if missing > 0 else 0) + (1 if rec["check_mismatches"] or rec["stream_error"] else 0)
    e2e = {
        "setup_s": rec["session_s"] + statistics.median(rec["setup_reps_s"]) + rec["warmup_s"],
        "latency_p50_s": quantile(lat, 0.5),
        "latency_p90_s": quantile(lat, 0.9),
        "throughput_per_s": rec["backlog_changes"] / rec["backlog_drain_s"],
        "mem_live_mb": max(rec["live_mb"]),
    }
    layers = dict(rec["layers"])
    if traced:
        layers["exec.busy_frac"] = layers.get("exec.run_s", 0.0) / (rec["traced_s"] * cores)
        untraced, traced_ms = rec["trigger_ms_untraced"], rec["trigger_ms_traced"]
        layers["trace.overhead_frac"] = (statistics.median(traced_ms) / statistics.median(untraced) - 1
                                         if untraced and traced_ms else 0.0)
    info = {"backlog_changes": rec["backlog_changes"], "steady_files": rec["steady_files"],
            "phases_s": {"session": rec["session_s"], "setup": sum(rec["setup_reps_s"]),
                         "warmup": rec["warmup_s"], "stream": rec["stream_s"], "settle": rec["settle_s"],
                         "probe": rec["probe_s"], "check": rec["check_s"]},
            "samples": len(lat), "batches": len(rec["batches"]), "live_mb": rec["live_mb"], "notes": notes}
    return attempted, failed, failed == 0, e2e, layers, info


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")) and
            os.path.isfile(os.path.join(ROOT, "scripts/check.py"))):
        fail(f"no graft sources next to {HERE}; run from a checkout of the repository")
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if args.workload not in workloads["workloads"]:
        fail(f"unknown workload {args.workload}")
    wl = dict(workloads["workloads"][args.workload])
    if args.smoke:
        wl.update(workloads["smoke"].get(args.workload, {}))
        wl["sf"] = workloads["smoke"]["sf"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    classpath = build()
    t_start = time.monotonic()  # the first build has its own, longer limit
    data_dir = datagen.generate(
        os.path.join(WORK, "data", f"sf{wl['sf']}-v{datagen.VERSION}"), wl["sf"])
    cores = min(4, os.cpu_count() or 1)
    run_dir = os.path.join(WORK, "runs", uuid.uuid4().hex)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "record.json")
    # a fixed heap: the collector's pace does not depend on how far it grew;
    # no perf-data file in the system temp directory: a run writes only here
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data_dir, "--work", run_dir, "--out", out, "--cores", str(cores)]
    if args.workload == "cdc_feed":
        cmd += ["--setup-reps", str(wl["setup_reps"]), "--backlog-files", str(wl["backlog_files"]),
                "--rate", str(wl["rate_files_per_s"])]
    else:
        cmd += ["--entries", ",".join(wl["entries"]), "--min-passes", str(wl["min_passes"])]
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        cmd += ["--spans", os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.jsonl")]
    try:
        code, _, _ = run_group(cmd, ROOT, DEADLINE_S - (time.monotonic() - t_start),
                               stdout=sys.stderr)
        if code != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with code {code}")
        with open(out) as f:
            rec = json.load(f)
        if args.workload == "cdc_feed":
            result = cdc_result(rec, wl, cores, args.trace)
        else:
            result = query_result(rec, wl, cores, os.path.join(run_dir, "verify"), data_dir, args.trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted, failed, correct, e2e, layers, info = result

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = layers if args.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"{args.workload} produced no {', '.join(missing)}")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    info["wall_s"] = time.monotonic() - t_start
    print(json.dumps({"workload": args.workload, "seed": args.seed, "sf": wl["sf"], **info}),
          file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
