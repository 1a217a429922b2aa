#!/usr/bin/env python3
"""Compare two sets of runs of one workload against BENCHMARK.json's bounds.

    python3 perfbench/compare.py BASE.json NEW.json

Both files are written by repeat.py --out. For every end-to-end metric it
prints each set's median and spread, and the change of the median as a
share of the base median. A metric fails when its change is worse than its
bound, or when either set's spread exceeds the bound (setup_s's spread is
not held to its bound). The exit code is 1 when any metric fails.
"""
import json
import sys


def main():
    base_path, new_path = sys.argv[1:3]
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    with open(base_path) as f:
        base = json.load(f)["summary"]
    with open(new_path) as f:
        new = json.load(f)["summary"]
    ok = True
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        b, n = base[name], new[name]
        change = (n["median"] - b["median"]) / b["median"]
        worse = change if m["better"] == "lower" else -change
        spreads = [b["spread"], n["spread"]] if name != "setup_s" else []
        good = worse <= bound and all(s <= bound for s in spreads)
        ok &= good
        print(f"{name:18s} base {b['median']:10.4g} (spread {b['spread']:.3f})  "
              f"new {n['median']:10.4g} (spread {n['spread']:.3f})  "
              f"change {change:+.3f}  bound {bound}  {'ok' if good else 'FAIL'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
