#!/usr/bin/env python3
"""Production-path benchmark of the engine.

    python3 perfbench/run.py --workload ingest|analytics \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the engine and the
benchmark (see build.py). Each run starts one JVM with one Spark session
at local[<cores>], sets up the workload from --seed (ingest and analytics
three times; the median counts), warms up untimed on another seed,
measures for --seconds with one client thread and checks the outputs. It
prints a report, then one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (END_TO_END), with
--trace 1 the per-layer ones of a second, traced measurement. A traced
run then measures once more untraced; the traced headline against the
mean of the two untraced ones is the tracing overhead it reports.

A run works under <build dir>/runs/<pid>, deleted at its end; its result
and spans are kept under <build dir>/results.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import oracle  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest", "analytics")
RUN_LIMIT_S = 170

# End-to-end metrics common to every workload, each filled from the
# workload's own named metric: (result metric, scale).
END_TO_END = {
    "setup_s": ("s", {w: ("setup_s", 1.0) for w in WORKLOADS}),
    "throughput_per_s": ("1/s", {
        "ingest": ("ingest.turns_per_s", 1.0),
        "analytics": ("analytics.calls_per_s", 1.0)}),
    "latency_ms": ("ms", {
        "ingest": ("ingest.batch_median_s", 1000.0),
        "analytics": ("analytics.wall_s", 1000.0)}),
    "peak_rss_mb": ("MB", {w: ("peak_rss_mb", 1.0) for w in WORKLOADS}),
}

# JDK 17 module openings Spark needs outside spark-submit.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jvm(classpath, work, args, timeout):
    """Run perfbench.Main; stderr goes to work/jvm.log. Returns the exit code."""
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
           "-cp", classpath, "perfbench.Main", "--work", work, *args]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log if "--selftest" not in args else None,
                             stderr=log, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(1)
        signal.signal(signal.SIGTERM, stop)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.stderr.write("perfbench: run exceeded its time limit\n")
            return 124


def tail(path, n=40):
    try:
        with open(path) as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def report(res, checks):
    s = res["stamps"]
    print(f"perfbench {res['workload']}  seed={s['seed']} (warm-up seed {s['warmup_seed']})  "
          f"nproc={s['nproc']}  load1 {s['load1_start']} -> {s['load1_end']}  "
          f"spark {s['spark_version']}  jdk {s['jdk_version']}")
    print("  inputs: " + "  ".join(f"{k}={s[k]}" for k in s if k not in (
        "seed", "warmup_seed", "nproc", "load1_start", "load1_end", "spark_version",
        "jdk_version", "traced", "seconds")))
    st = res["setup"]
    print(f"  setup: session {st['session_s']:.3f} s, warm-up {st['warmup_s']:.3f} s, "
          f"set-ups {', '.join(f'{x:.3f}' for x in st['setups_s'])} s")
    print("end-to-end (untraced run):")
    for k, m in res["metrics"].items():
        print(f"  {k:34s} {fmt(m['value']):>12s} {m['unit']:6s} n={m['n']}")
    if res["layers"]:
        print("per layer (traced run):")
        for k, m in res["layers"].items():
            print(f"  {k:34s} {fmt(m['value']):>12s} {m['unit']:6s} n={m['n']}")
        a = res["attribution"]
        print(f"stage attribution (first graft. frame of the call site): {a['stages']} stages, "
              f"{a['unattributed']} unattributed")
        for mod, n in a["stages_by_module"].items():
            print(f"  {mod:34s} {n}")
        o = res["tracing_overhead"]
        print(f"tracing overhead on {o['metric']}: untraced {fmt(o['untraced'])} "
              f"(mean of {fmt(o['untraced_before'])} before and {fmt(o['untraced_after'])} "
              f"after), traced {fmt(o['traced'])}, difference {fmt(o['difference'])}, "
              f"share {fmt(o['share'])}")
    print("checks:")
    for name, reason in checks:
        print(f"  {'PASS' if reason is None else 'FAIL'} {name}" +
              ("" if reason is None else f": {reason}"))
    for e in res["errors"]:
        print(f"  error: {e}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    classpath = build.build(root)
    # the time limit counts from here: only a run that compiles may take longer
    t0 = time.time()
    work = os.path.join(build.build_dir(root), "runs", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            import selftest
            selftest.python_tests()
            rc = jvm(classpath, work, ["--selftest"], RUN_LIMIT_S * 3)
            sys.exit(rc)
        if not a.workload:
            ap.error("--workload is required")
        result = os.path.join(work, "result.json")
        rc = jvm(classpath, work, ["--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                                   "--result", result],
                 RUN_LIMIT_S - (time.time() - t0))
        if rc != 0 or not os.path.exists(result):
            sys.stderr.write(tail(os.path.join(work, "jvm.log")))
            sys.stderr.write(f"perfbench: run failed (exit {rc})\n")
            sys.exit(1)
        with open(result) as fh:
            res = json.load(fh)
        # keep the result and the spans of every run
        kept = os.path.join(build.build_dir(root), "results",
                            f"{a.workload}-seed{a.seed}-trace{a.trace}")
        os.makedirs(os.path.dirname(kept), exist_ok=True)
        shutil.copy(result, kept + ".json")
        if os.path.exists(result + ".spans.jsonl"):
            shutil.copy(result + ".spans.jsonl", kept + ".spans.jsonl")
        checks = [(c["name"], None if c["ok"] else c["detail"]) for c in res["checks"]]
        checks += [(f"oracle: {n}", r) for n, r in oracle.check(res["oracle"])]
        report(res, checks)
        print(json.dumps(final_line(res, checks, a.workload, a.trace)))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def final_line(res, checks, workload, trace):
    if trace:
        metrics = {k: {"value": m["value"] if m["value"] is not None else 0.0,
                       "unit": m["unit"]} for k, m in res["layers"].items()}
    else:
        metrics = {}
        for name, (unit, by_workload) in END_TO_END.items():
            src, scale = by_workload[workload]
            v = res["metrics"][src]["value"]
            metrics[name] = {"value": None if v is None else v * scale, "unit": unit}
    correct = all(r is None for _, r in checks) and all(
        m["value"] is not None for m in metrics.values())
    return {"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
            "metrics": metrics}


if __name__ == "__main__":
    main()
