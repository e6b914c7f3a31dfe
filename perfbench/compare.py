#!/usr/bin/env python3
"""Compare two sets of run records written by perfbench/run.py.

    python3 perfbench/compare.py BASE_RECORD... -- NEW_RECORD...

Groups the records by (workload, trace) and prints, per metric, each side's
median and quartiles and the change of the median. It refuses to compare
records whose cpus or corpus differ: those numbers measure different things.
"""
import json
import statistics
import sys


def load(paths):
    return [json.load(open(p)) for p in paths]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    cut = argv.index("--")
    base, new = load(argv[:cut]), load(argv[cut + 1:])
    if not base or not new:
        sys.exit(__doc__)
    keys = {(r["cpus"], r["corpus"]["sha256"]) for r in base + new}
    if len(keys) != 1:
        sys.exit("refusing to compare: records differ in cpus or corpus: "
                 + ", ".join(f"cpus={c} corpus={s[:12]}" for c, s in sorted(keys)))
    groups = sorted({(r["workload"], r["trace"]) for r in base + new})
    for workload, trace in groups:
        b = [r for r in base if (r["workload"], r["trace"]) == (workload, trace)]
        n = [r for r in new if (r["workload"], r["trace"]) == (workload, trace)]
        if not b or not n:
            continue
        print(f"{workload} trace={trace}  runs {len(b)} vs {len(n)}")
        for metric in b[0]["metrics"]:
            xs = [r["metrics"][metric]["value"] for r in b if metric in r["metrics"]]
            ys = [r["metrics"][metric]["value"] for r in n if metric in r["metrics"]]
            if not xs or not ys:
                continue
            unit = b[0]["metrics"][metric]["unit"]
            qb, qn = quartiles(xs), quartiles(ys)
            change = (qn[1] - qb[1]) / qb[1] if qb[1] else float("nan")
            print(f"  {metric:24s} {unit:6s} base {qb[1]:12.4f} [{qb[0]:.4f}, {qb[2]:.4f}]"
                  f"  new {qn[1]:12.4f} [{qn[0]:.4f}, {qn[2]:.4f}]  {change:+.1%}")


if __name__ == "__main__":
    main(sys.argv[1:])
