#!/usr/bin/env python3
"""Feature-store benchmark: one workload per run, on a local Spark session.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

Workloads (sizes and reasons in perfbench/README.md and BENCHMARK.json):
ingest, pipeline. The first run builds the engine and the
benchmark from source (see build.py). Each run starts one JVM that generates
the seeded inputs, sets up the store, measures, checks every output, and
reports; this script adds a CPython host-speed probe before and after, prints
every end-to-end metric of the workload by name and unit, and prints as its
last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list (a layer the workload never calls reads 0).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, HERE)
import build  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def probe_s():
    """CPython host-speed probe in a fresh interpreter: the 20M-iteration
    module-level loop whose clean (2.0-2.1 s) and throttled (2.4-5.4 s)
    readings BASELINE.md records, cut to 1M iterations and timed inside the
    interpreter, not counting its start; the result is scaled by 20 so it
    reads on that same scale."""
    loop = ("import time\nt0 = time.perf_counter()\ns = 0\n"
            "for i in range(1000000): s += i\nprint(time.perf_counter() - t0)")
    out = subprocess.run([sys.executable, "-c", loop], check=True, stdout=subprocess.PIPE, text=True)
    return float(out.stdout) * 20


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    bench = spec()
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        raise SystemExit(f"unknown workload {a.workload}")

    classpath = build.build()
    work = os.path.join(build.build_dir(), "work-" + a.workload)
    probe_before = probe_s()
    # -XX:-UsePerfData: no hsperfdata file under the system temp dir
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", classpath, "graft.perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cpus", str(cpus()), "--work", work, "--bench-dir", HERE])
    t0 = time.perf_counter()
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    run_s = time.perf_counter() - t0
    probe_after = probe_s()
    lines = [l for l in proc.stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"benchmark JVM failed (exit {proc.returncode})")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])

    e2e = res["end_to_end"]
    attempted, failed = res["attempted"], res["failed"]
    print(f"# workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"cpus={cpus()} jvm_run_s={run_s:.1f}")
    print(f"# host probe (CPython loop, 20M-iteration scale, 2.0-2.1 s clean): "
          f"before={probe_before:.3f} s after={probe_after:.3f} s")
    for name, m in e2e.items():
        print(f"{a.workload:9s} {name:22s} {m['value']:>16.6g} {m['unit']}")
    print(f"{a.workload:9s} {'failed_ratio':22s} {failed / max(1, attempted):>16.6g} ratio")
    if a.trace:
        for name, m in res["per_layer"].items():
            print(f"{a.workload:9s} {name:40s} {m['value']:>16.6g} {m['unit']}")
    for f in res["failures"]:
        print(f"# FAILED: {f}")
    print("# recorded: " + json.dumps(dict(res["recorded"], probe_before_s=probe_before,
                                            probe_after_s=probe_after)))

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = res["per_layer"] if a.trace else e2e
    metrics, missing = {}, []
    for m in wanted:
        if m["name"] in source:
            metrics[m["name"]] = {"value": source[m["name"]]["value"], "unit": m["unit"]}
        elif a.trace:  # a layer this workload does not call did no work
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    if missing:
        raise SystemExit(f"workload {a.workload} did not report {missing}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
