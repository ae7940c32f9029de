#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine together with the runner (sbt, offline) on first use,
generates the tables once, generates the seeded workload, runs it in one
JVM, checks every result against DuckDB, and prints one summary line per
metric followed by the result object as the last line of stdout. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Exits non-zero on a wrong answer, and
without a result when the checkout has no engine to build.
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
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen_data  # noqa: E402
import workloads  # noqa: E402

SCALE = 0.1
# a run without a build must end within 180 s; the JVM gets this much
JVM_DEADLINE_S = 165.0
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _digest(paths):
    """SHA-256 over the names and contents of files and directory trees."""
    files = []
    for base in paths:
        if os.path.isfile(base):
            files.append(base)
        for d, dirs, names in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(names)]
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + runner once per source state; return the classpath."""
    engine_src = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(engine_src, "scala", "graft")):
        fail(f"no engine sources under {engine_src}; run from a repository checkout")
    stamp = _digest([engine_src, os.path.join(HERE, "src"),
                     os.path.join(HERE, "project", "build.properties"),
                     os.path.join(HERE, "build.sbt"),
                     os.path.join(ROOT, "build.sbt")])
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
        "-Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories")))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"writeClasspath {cp_file}"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read()


def data_dir():
    """The generated tables, written once per generator version."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, f"data-sf{SCALE}-{tag}")
    if not os.path.isdir(d):
        tmp = tempfile.mkdtemp(dir=BUILD, prefix="data-tmp-")
        gen_data.write(tmp, SCALE)
        os.rename(tmp, d)
    return d


def run_jvm(cp, plan, data, work, trace, deadline):
    plan_file = os.path.join(work, "plan.json")
    out_file = os.path.join(work, "out.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    # a fixed, pre-touched heap: with a growing heap, G1's sizing moved
    # VmHWM by a third between runs of one seed, and the latencies with it
    cmd = ["java", *JAVA_OPENS, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
           *plan["jvm_opts"],
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.sql.streaming.numRecentProgressUpdates=1000",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Runner", plan_file, data, work, out_file,
           str(trace)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not os.path.exists(out_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"runner failed ({rc})")
    with open(out_file) as f:
        return json.load(f)


def quantile(xs, q):
    """statistics.quantiles' default (exclusive) method at fraction q."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100)[int(round(q * 100)) - 1]


def summarize(workload, plan, res, failed_ids, trace):
    """End-to-end (trace 0) or per-layer (trace 1) metrics of one run, over
    the window's ops (the ramp before it is not measured), and the
    window's committed input rows per second (stream_replay, else 0)."""
    start = res["t0_ms"] + plan["ramp_s"] * 1000.0
    rows = dict(zip((o["id"] for o in res["ops"]), res.get("op_rows", [])))
    ok = [o for o in res["ops"]
          if o["due_ms"] >= start and o["id"] not in failed_ids]
    # adhoc_sql counts from when a statement was due, stream_replay from
    # when its chunk landed
    base = "start_ms" if workload == "stream_replay" else "due_ms"
    lat = [(o["end_ms"] - o[base]) / 1000.0 for o in ok] or [0.0]
    last = max((o["end_ms"] for o in ok), default=start)
    events = (sum(rows.get(o["id"], 0) for o in ok) /
              max(1e-3, (last - start) / 1000.0))
    e2e = {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "ops_per_s": (len(ok) / max(1e-3, (last - start) / 1000.0), "1/s"),
        "latency_p50_s": (quantile(lat, 0.5), "s"),
        "latency_p90_s": (quantile(lat, 0.9), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
    }
    if not trace:
        return e2e, len(ok), events
    late = res.get("late_s") or [0.0]
    layers = {k: (v, _unit(k)) for k, v in res["layers"].items()}
    layers["loadgen.late_p90_s"] = (quantile(late, 0.9), "s")
    layers["loadgen.busy_threads_max"] = (
        float(res.get("busy_threads_max", 1)), "count")
    layers["stream.events_per_s"] = (events, "1/s")
    layers["setup.cold_s"] = (res["setup_cold_s"], "s")
    for k in ("ops_per_s", "latency_p50_s", "latency_p90_s"):
        layers[f"traced.{k}"] = e2e[k]
    return layers, len(ok), events


def _unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("frac"):
        return "fraction"
    return "count"


def wrong_answers(workload, plan, res, data):
    """Return ({window op id: reason} for ops that threw or answered wrong,
    [failures of untimed statements])."""
    if workload == "adhoc_sql":
        return check.check_adhoc(check.connect(data), plan, res)
    bad = {c["name"]: c["detail"] for c in res["checks"] if not c["ok"]}
    failed = {o["id"]: o["error"] or bad[o["name"]]
              for o in res["ops"] if o["error"] or o["name"] in bad}
    return failed, []


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    cp = build()
    data = data_dir()
    plan = workloads.plan(args.workload, args.seed, args.seconds)
    work = tempfile.mkdtemp(dir=BUILD, prefix="run-")
    try:
        t_jvm = time.time()
        res = run_jvm(cp, plan, data, work, args.trace,
                      t_jvm + JVM_DEADLINE_S)
        t_check = time.time()
        failed, other = wrong_answers(args.workload, plan, res, data)
        phases = {"prepare": t_jvm - t_start, "jvm": t_check - t_jvm,
                  "jvm_setups": res["runner_s"]["setup"],
                  "jvm_run": res["runner_s"]["run"],
                  "check": time.time() - t_check}
        metrics, samples, events = summarize(args.workload, plan, res,
                                             failed, args.trace)
        if args.trace:
            spans = os.path.join(BUILD, "traces",
                                 f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"), spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = outcome(res, failed, other, metrics)
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"inputs_sha256={plan['digest']} samples={samples} "
          f"error_rate={result['failed'] / result['attempted']:.4f}" +
          (f" events_per_s={events:.6g}" if args.workload == "stream_replay"
           else ""))
    print("  phases_s: " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
    for why in list(failed.values())[:5] + other[:5]:
        print(f"  wrong: {why}")
    if args.trace:
        print(f"  spans: {os.path.relpath(spans, ROOT)}")
    for k, (v, unit) in metrics.items():
        print(f"  {k} {v:.6g} {unit}")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def outcome(res, failed, other, metrics):
    """The result object: every window op is attempted; an op fails if it
    threw or its answer was wrong; a failed check outside the window (the
    warm-up statements) counts as one more failed attempt."""
    attempted = len(res["ops"]) + len(other)
    n_failed = len(failed) + len(other)
    return {"correct": n_failed == 0, "attempted": attempted,
            "failed": n_failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


if __name__ == "__main__":
    main()
