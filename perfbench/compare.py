#!/usr/bin/env python3
"""Compares two sets of benchmark runs, such as a parent commit and a change.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are directories (or single files) of the per-run results that
perfbench/run.py writes to .bench_out/. Runs are paired per workload and
trace mode. The comparison is refused (exit 2) when the two sides ran
under different settings: core count, Spark parallelism, JVM heap
limit, Spark or Java version, or run length. For every metric it prints
each side's median and quartiles and the change against the metric's
bound from BENCHMARK.json. A change worse than the bound is a regression
(exit 1); when the base's own spread is wider than the bound the metric
is reported as unresolved.
"""

import glob
import json
import os
import statistics
import sys

SETTINGS = ["cpus", "parallelism", "xmx_mb", "spark_version", "java_version", "seconds"]


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        key = (r["meta"]["workload"], bool(r["meta"]["trace"]))
        runs.setdefault(key, []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def settings(runs):
    return {tuple((k, r["meta"].get(k)) for k in SETTINGS) for r in runs}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    specs = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    base, new = load(sys.argv[1]), load(sys.argv[2])
    regressed = False
    for key in sorted(set(base) & set(new)):
        sb, sn = settings(base[key]), settings(new[key])
        if len(sb | sn) != 1:
            print(f"refused: {key[0]} runs differ in settings: {sorted(sb | sn)}", file=sys.stderr)
            sys.exit(2)
        print(f"{key[0]} (trace={int(key[1])}): base {len(base[key])} runs, "
              f"new {len(new[key])} runs; seeds base "
              f"{sorted(r['meta']['seed'] for r in base[key])}, new "
              f"{sorted(r['meta']['seed'] for r in new[key])}")
        names = base[key][0]["result"]["metrics"].keys()
        for name in names:
            b = [r["result"]["metrics"][name]["value"] for r in base[key]]
            n = [r["result"]["metrics"][name]["value"] for r in new[key]]
            bq, nq = quartiles(b), quartiles(n)
            line = (f"  {name:<36} base {bq[1]:.6g} [{bq[0]:.4g}, {bq[2]:.4g}]  "
                    f"new {nq[1]:.6g} [{nq[0]:.4g}, {nq[2]:.4g}]")
            spec = specs[name]
            if "bound" in spec and bq[1]:
                worse = (nq[1] - bq[1]) / bq[1]
                if spec["better"] == "higher":
                    worse = -worse
                spread = (bq[2] - bq[0]) / bq[1]
                if worse > spec["bound"]:
                    verdict = "REGRESSION"
                    regressed = True
                elif spread > spec["bound"]:
                    verdict = "unresolved (base spread above bound)"
                else:
                    verdict = "within bound"
                line += f"  worse by {worse:+.1%} (bound {spec['bound']:.0%}): {verdict}"
            print(line)
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
