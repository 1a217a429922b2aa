#!/usr/bin/env python3
"""Run the benchmark once per seed and summarize each metric's spread.

    python3 perfbench/repeat.py --workload NAME --seeds 1-10
                                [--trace 0|1] [--cores N] [--out FILE]

Each run uses run_seconds of BENCHMARK.json.

Runs are serial. For every metric it prints the median, the quartiles and
the spread (distance between the quartiles as a share of the median), the
figure BENCHMARK.json's bounds are held against. --out keeps every run's
result line and environment line as JSON.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--cores")
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for seed in seeds(a.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--trace", a.trace]
        if a.cores:
            cmd += ["--cores", a.cores]
        r = subprocess.run(cmd, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or len(lines) < 2:
            sys.stderr.write(r.stderr[-3000:])
            raise SystemExit(f"seed {seed}: exit {r.returncode}")
        result, env = json.loads(lines[-1]), json.loads(lines[-2])["env"]
        runs.append({"seed": seed, "result": result, "env": env})
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
        print(f"seed {seed} correct={result['correct']} failed={result['failed']} {vals}",
              flush=True)
    summary = {}
    for name in runs[0]["result"]["metrics"] if len(runs) > 1 else []:
        xs = [r["result"]["metrics"][name]["value"] for r in runs]
        q1, med, q3 = metrics.quantiles(xs)
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": metrics.spread(xs)}
        sp = summary[name]["spread"]
        print(f"{name:28s} median {med:10.4g}  q1 {q1:10.4g}  q3 {q3:10.4g}  "
              f"spread {'-' if sp is None else f'{sp:.4f}'}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "trace": a.trace, "cores": a.cores,
                       "summary": summary, "runs": runs}, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
