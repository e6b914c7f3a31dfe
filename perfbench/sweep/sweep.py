#!/usr/bin/env python3
"""One-off sweep: every registered query timed with count() and with a full
materialization (a noop write of every output column).

    python3 perfbench/sweep/sweep.py CORPUS_DIR WARM_CORPUS_DIR OUT.jsonl
    python3 perfbench/sweep/sweep.py --summarize OUT.jsonl > SWEEP.md

The first form appends one JSON line per query to OUT.jsonl (wall time,
task CPU, spill and jobs of each action; the query build is inside both).
The second prints a markdown table of the queries that are more than
FLAG_S slower when fully materialized, so count()-based totals such as
graft.Bench are not read as the engine's cost.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

FLAG_S = 0.3
GB = 1 << 30


def sweep(corpus, warm, out):
    os.makedirs(run.OUT, exist_ok=True)
    run.build()
    work = os.path.join(run.OUT, "work", "sweep")
    subprocess.run(run.java(work, "sweep", "--corpus", os.path.abspath(corpus),
                            "--warm", os.path.abspath(warm), "--work", work,
                            "--out", os.path.abspath(out)), check=True)


def summarize(path):
    rows = [json.loads(line) for line in open(path)]
    delta = lambda r: r["full"]["wall_s"] - r["count"]["wall_s"]
    flagged = sorted((r for r in rows if delta(r) > FLAG_S), key=delta, reverse=True)
    tot = lambda mode, k: sum(r[mode][k] for r in rows)
    errors = [r["name"] for r in rows if r["count"]["error"] or r["full"]["error"]]
    print(f"# count() vs full materialization, {len(rows)} queries\n")
    print("Each query was warmed once with both actions on a small corpus, then timed")
    print("once with count() and once with a noop write; both times include the build.\n")
    print("| | count() | noop write of every column |\n|---|---:|---:|")
    print(f"| wall s | {tot('count', 'wall_s'):.1f} | {tot('full', 'wall_s'):.1f} |")
    print(f"| task CPU s | {tot('count', 'task_cpu_s'):.1f} | {tot('full', 'task_cpu_s'):.1f} |")
    print(f"| spill GB | {tot('count', 'spill_bytes') / GB:.2f} | {tot('full', 'spill_bytes') / GB:.2f} |")
    print(f"| jobs | {tot('count', 'jobs')} | {tot('full', 'jobs')} |")
    print(f"\nQueries with an error in either mode: {', '.join(errors) or 'none'}.\n")
    print(f"## {len(flagged)} queries more than {FLAG_S} s slower when fully materialized\n")
    print("| query | count() s | full s | count() CPU s | full CPU s | full spill GB |")
    print("|---|---:|---:|---:|---:|---:|")
    for r in flagged:
        c, f = r["count"], r["full"]
        print(f"| {r['name']} | {c['wall_s']:.2f} | {f['wall_s']:.2f} | {c['task_cpu_s']:.1f}"
              f" | {f['task_cpu_s']:.1f} | {f['spill_bytes'] / GB:.2f} |")


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--summarize":
        summarize(sys.argv[2])
    elif len(sys.argv) == 4:
        sweep(*sys.argv[1:])
    else:
        sys.exit(__doc__)
