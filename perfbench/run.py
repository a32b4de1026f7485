#!/usr/bin/env python3
"""graft's benchmark of record.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload catalog_curation --seed 42 \
        --seconds 10 --trace 0

It builds graft and the harness from source (once per source state, into
.bench_build/), generates the workload's inputs from the seed, runs the
harness JVM (one client, closed loop, local[nproc]), checks every call's
result against its DuckDB oracle, and prints each metric with its unit
and sample count. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1, the per-layer ones.
Every artifact of a run lives under .bench_build/ in the checkout.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402
from workloads import MODULES, WORKLOADS  # noqa: E402

SF = 0.02
BUILD_DIR = ".bench_build"
# JVM and session start, the warm pass and the result writes, on top of
# the measured --seconds
HARNESS_ALLOWANCE_S = 150


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_digest(root, rels):
    """sha1 over the paths and bytes of every file under `rels`."""
    h = hashlib.sha1()
    for rel in rels:
        top = os.path.join(root, rel)
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def launch_spec(root):
    """Builds graft and the harness when their sources changed; returns the
    harness's runtime classpath and the JVM options its build gives."""
    harness = os.path.join(HERE, "harness")
    sources = ["build.sbt", "project/build.properties", "src/main",
               os.path.relpath(os.path.join(harness, "build.sbt"), root),
               os.path.relpath(os.path.join(harness, "src/main"), root)]
    digest = tree_digest(root, [s for s in sources if os.path.exists(os.path.join(root, s))])
    spec = os.path.join(harness, "target", "launch.txt")
    stamp = os.path.join(root, BUILD_DIR, "launch.sha1")
    fresh = os.path.exists(spec) and os.path.exists(stamp)
    if fresh:
        with open(stamp) as fh:
            fresh = fh.read() == digest
    if not fresh:
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
            cwd=harness, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=600)
        if proc.returncode != 0 or not os.path.exists(spec):
            sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
            die("build failed")
        os.makedirs(os.path.dirname(stamp), exist_ok=True)
        with open(stamp, "w") as fh:
            fh.write(digest)
    with open(spec) as fh:
        cp, *jvm_opts = fh.read().splitlines()
    return cp, jvm_opts


def run_harness(launch, run_dir, data_dir, workload, args):
    """Runs the harness JVM; returns (launch time, parsed harness.json)."""
    out = os.path.join(run_dir, "out")
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse")}
    for d in [out, *dirs.values()]:
        os.makedirs(d)
    calls_file = os.path.join(run_dir, "calls.txt")
    with open(calls_file, "w") as fh:
        fh.writelines(f"{q} {m}\n" for q, m in workload["calls"])
    cpus = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cp, jvm_opts = launch
    cmd = [java, *jvm_opts,
           f"-Djava.io.tmpdir={dirs['tmp']}",
           f"-Dspark.local.dir={dirs['local']}",
           f"-Dspark.sql.warehouse.dir={dirs['warehouse']}",
           f"-Dderby.system.home={run_dir}",
           "-cp", cp, "perfbench.Harness",
           "--data", data_dir, "--out", out, "--calls", calls_file,
           "--seconds", str(args.seconds), "--min-passes", str(workload["passes"]),
           "--trace", str(args.trace),
           "--seed", str(args.seed), "--cpus", str(cpus)]
    # graft reads SPARK_GRAFT_* tuning variables and Spark prefers
    # SPARK_LOCAL_DIRS over spark.local.dir: pin both to this run
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = dirs["local"]
    log_path = os.path.join(run_dir, "harness.log")
    launched = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=args.seconds + HARNESS_ALLOWANCE_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM or Ctrl-C: never leave the JVM running
            proc.kill()
            proc.wait()
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        die(f"harness exited with {rc}")
    with open(os.path.join(out, "harness.json")) as fh:
        return launched, json.load(fh)


def oracle_check(root, out, data_dir, queries):
    """Compares each query's written result with its DuckDB oracle over the
    same inputs, by tools/check.py. Returns {query: reason} for every query
    that failed."""
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check.py"), out, data_dir, *queries],
        cwd=out, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=60)
    verdicts = {}
    for line in proc.stdout.splitlines():
        word, name = (line.split() + ["", ""])[:2]
        if word in ("PASS", "FAIL", "ERR"):
            verdicts[name.rstrip(":")] = "" if word == "PASS" else line
    bad = {}
    for q in queries:
        why = verdicts.get(q, f"no verdict from tools/check.py (exit {proc.returncode})")
        if why:
            bad[q] = why
    return bad


def end_to_end(h, setup_s):
    """End-to-end metrics from the untraced passes, as (value, samples)."""
    passes = [p for p in h["passes"] if not p["traced"]]
    lat = [c["call_s"] + c["action_s"] for p in passes for c in p["calls"] if not c["failed"]]
    if not lat:
        die("no call succeeded")
    return {
        "setup_s": (setup_s, 1),
        "pass_s": (statistics.median([p["pass_s"] for p in passes]), len(passes)),
        "call_geomean_s": (stats.geomean(lat), len(lat)),
        "call_p90_s": (stats.percentile(lat, 90), len(lat)),
    }


def pass_layers(p):
    """Per-layer totals of one traced pass."""
    calls = p["calls"]
    tot = lambda k: sum(c[k] for c in calls)  # noqa: E731
    b = p["batches"]
    dur = lambda k: sum(x["duration_ms"].get(k, 0) for x in b)  # noqa: E731
    trig = [x["duration_ms"].get("triggerExecution", 0) for x in b]
    m = {}
    for mod in MODULES:
        m[f"mod.{mod}.call_s"] = sum(c["call_s"] for c in calls if c["module"] == mod)
        m[f"mod.{mod}.action_s"] = sum(c["action_s"] for c in calls if c["module"] == mod)
    m.update({
        "sched.jobs": tot("jobs"),
        "sched.stages": tot("stages"),
        "sched.tasks": tot("tasks"),
        "sched.delay_s": tot("sched_delay_ms") / 1e3,
        "sched.useful_task_ratio": stats.ratio(tot("useful_tasks"), tot("tasks")),
        "driver.gap_s": tot("driver_gap_ms") / 1e3,
        "exec.run_s": tot("run_ms") / 1e3,
        "exec.cpu_s": tot("cpu_ns") / 1e9,
        "exec.gc_s": tot("gc_ms") / 1e3,
        "shuffle.read_mb": tot("shuffle_read_bytes") / 1e6,
        "shuffle.write_mb": tot("shuffle_write_bytes") / 1e6,
        "shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1e3,
        "spill.mb": tot("spill_bytes") / 1e6,
        "io.input_mb": tot("input_bytes") / 1e6,
        "io.output_mb": tot("output_bytes") / 1e6,
        "io.files_written": tot("files_written"),
        "io.tmp_mb_end": p["tmp_mb_end"],
        "cache.blocks_end": p["cache_blocks_end"],
        "cache.mb_end": p["cache_mb_end"],
        "stream.batches": len(b),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.planning_ms": dur("queryPlanning"),
        "stream.get_batch_ms": dur("getBatch"),
        "stream.offset_ms": dur("latestOffset"),
        "stream.commit_ms": dur("walCommit") + dur("commitOffsets"),
        "stream.tasks_per_batch": stats.ratio(tot("stream_tasks"), len(b)),
        "stream.batch_p50_ms": stats.percentile(trig, 50) if trig else 0.0,
        "stream.batch_p90_ms": stats.percentile(trig, 90) if trig else 0.0,
        "stream.rows_per_s": stats.ratio(sum(x["input_rows"] for x in b), sum(trig) / 1e3),
    })
    return m


def per_layer(h):
    """Per-layer metrics, medians over the traced passes, as (value, samples)."""
    traced = [p for p in h["passes"] if p["traced"]]
    plain = [p for p in h["passes"] if not p["traced"]]
    per_pass = [pass_layers(p) for p in traced]
    out = {k: (statistics.median([pp[k] for pp in per_pass]), len(per_pass)) for k in per_pass[0]}
    out["trace.untagged_tasks"] = (h["untagged_tasks"], len(traced))
    out["trace.overhead"] = (statistics.median([p["pass_s"] for p in traced]) /
                             statistics.median([p["pass_s"] for p in plain]) - 1, len(traced))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C, so the harness JVM and the run's
    # directory are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        die("run from the root of a graft checkout (build.sbt and src/main/scala)")
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    launch = launch_spec(root)
    workload = WORKLOADS[args.workload]
    calls = workload["calls"]
    run_dir = os.path.join(root, BUILD_DIR, "runs",
                           f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data_dir = os.path.join(run_dir, "data")
        t0 = time.time()
        input_bytes = gen.generate(data_dir, args.seed, SF)
        gen_s = time.time() - t0
        launched, h = run_harness(launch, run_dir, data_dir, workload, args)
        setup_s = gen_s + h["warm_end_ms"] / 1e3 - launched
        harness_s = time.time() - launched
        t0 = time.time()
        queries = list(dict.fromkeys(q for q, _ in calls))
        bad = oracle_check(root, os.path.join(run_dir, "out"), data_dir, queries)
        oracle_s = time.time() - t0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    executions = [c for p in [h["warm"]] + h["passes"] for c in p["calls"]]
    failed = sum(1 for c in executions if c["failed"] or c["query"] in bad)
    attempted = len(executions)
    for q, why in sorted(bad.items()):
        print(f"FAIL {q}: {why}")
    for p in [h["warm"]] + h["passes"]:
        for e in p["errors"]:
            print(f"ERROR {e['query']}: {e['error']}")
    print(f"workload {args.workload} seed {args.seed}: {len(h['passes'])} passes, "
          f"{attempted} calls, inputs {input_bytes / 1e6:.1f} MB, "
          f"local[{len(os.sched_getaffinity(0))}]")
    print(f"phases: generate {gen_s:.1f} s, harness {harness_s:.1f} s (session "
          f"{h['session_s']:.1f}, warm pass {h['warm']['pass_s']:.1f}, measured {h['measure_s']:.1f}, "
          f"result writes {h['results_s']:.1f}), oracle check {oracle_s:.1f} s")
    print("pass_s per pass:", " ".join(f"{p['pass_s']:.2f}" for p in h["passes"]))
    print(f"fail_ratio {stats.ratio(failed, attempted):.4f} ratio (n={attempted})")

    if args.trace:
        values = per_layer(h)
        names = spec["per_layer"]
    else:
        values = end_to_end(h, setup_s)
        names = spec["end_to_end"]
    metrics = {}
    for m in names:
        value, n = values[m["name"]]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{m['name']} {value:.6g} {m['unit']} (n={n})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
