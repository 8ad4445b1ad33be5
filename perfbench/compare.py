#!/usr/bin/env python3
"""Compare two sets of benchmark results, metric by metric.

    python3 perfbench/compare.py <base.json>... -- <change.json>...

Each file is a result `run.py` kept in `perfbench/results/`. Every file
must come from the same workload, trace mode, run length, cores, heap,
scale factor, state-store provider and Spark and JVM versions; a
comparison across different run records is refused (exit 2). Commit,
source digest and seed may differ. Prints each side's median and
quartiles per metric and the change's median as a share of the base's.
"""
import json
import statistics
import sys

SAME = ("workload", "trace", "seconds", "cores", "heap_mb", "scale",
        "state_store", "spark", "java")


def load(paths):
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def main(argv):
    if "--" not in argv:
        print(__doc__)
        return 2
    i = argv.index("--")
    base, change = load(argv[:i]), load(argv[i + 1:])
    if not base or not change:
        print(__doc__)
        return 2
    ref = base[0]["record"]
    for r in base + change:
        diff = [k for k in SAME if r["record"].get(k) != ref.get(k)]
        if diff:
            print("refused: run records differ in " + ", ".join(
                f"{k} ({ref.get(k)} vs {r['record'].get(k)})" for k in diff))
            return 2
    for name in base[0]["result"]["metrics"]:
        def q(rs):
            v = [r["result"]["metrics"][name]["value"] for r in rs]
            return (statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3)
        b, c = q(base), q(change)
        share = c[1] / b[1] if b[1] else float("nan")
        print(f"{name:34s} base {b[1]:.4g} [{b[0]:.4g}, {b[2]:.4g}]  "
              f"change {c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}]  x{share:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
