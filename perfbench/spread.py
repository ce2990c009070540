#!/usr/bin/env python3
"""Run the benchmark over several seeds and report, per workload and metric,
the median and the quartile spread (IQR / median), as the acceptance rule
computes them with statistics.quantiles(values, n=4).

    python3 perfbench/spread.py --seeds 1-10 [--workloads serve,ingest] [--trace 0]
                                [--out runs.jsonl]

Each run's final JSON line is appended to --out (default: none), one line per
run with the workload and seed added.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    for w in names:
        runs = []
        for s in seeds(a.seeds):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(s),
                 "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if out.returncode != 0:
                print(f"{w} seed {s}: exit {out.returncode}", file=sys.stderr)
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            runs.append(res)
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps(dict(res, workload=w, seed=s)) + "\n")
            probe = next((l for l in out.stdout.splitlines() if l.startswith("# host probe")), "")
            print(f"{w} seed {s}: {probe[probe.find('before'):]}", file=sys.stderr)
            print(f"{w} seed {s}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
                  + " ".join(f"{k}={v['value']:.6g}" for k, v in res["metrics"].items()),
                  file=sys.stderr)
        if len(runs) < 2:
            continue
        for m in runs[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"{w:9s} {m:40s} median={med:<14.6g} spread={spread:.4f} n={len(vals)}")


if __name__ == "__main__":
    main()
