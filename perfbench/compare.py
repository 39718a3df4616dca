#!/usr/bin/env python3
"""Compares two sets of benchmark samples, workload by workload.

Usage: python3 perfbench/compare.py <before.json>... -- <after.json>...

Each file is a run summary that run.py writes under perfbench/.work/results/.
Prints, per workload and metric, the median and quartile spread of each
side and the change of the medians. Refuses (exit code 2) when the
samples were taken at different core counts: timings taken at different
parallelism are not comparable.
"""
import json
import statistics
import sys


def load(paths):
    return [json.load(open(p)) for p in paths]


def quartiles(v):
    return statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3


def main(argv):
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    i = argv.index("--")
    before, after = load(argv[:i]), load(argv[i + 1:])
    cores = {(s["host"]["cpus"], s["host"]["nproc"]) for s in before + after}
    if len(cores) != 1:
        print(f"refusing to compare samples taken at different core counts "
              f"(cpus, nproc): {sorted(cores)}", file=sys.stderr)
        return 2
    keys = sorted({(s["workload"], m) for s in before + after
                   for m in s["metrics"]})
    for w, m in keys:
        a = [s["metrics"][m]["value"] for s in before
             if s["workload"] == w and m in s["metrics"]]
        b = [s["metrics"][m]["value"] for s in after
             if s["workload"] == w and m in s["metrics"]]
        if not a or not b:
            continue
        ma, mb = statistics.median(a), statistics.median(b)
        qa, qb = quartiles(a), quartiles(b)
        change = f"{(mb - ma) / ma:+.1%}" if ma else "n/a"
        print(f"{w:22} {m:34} {ma:12.4f} [{qa[0]:.4f}, {qa[2]:.4f}] n={len(a)}"
              f"  ->  {mb:12.4f} [{qb[0]:.4f}, {qb[2]:.4f}] n={len(b)}  {change}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
