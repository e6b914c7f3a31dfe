#!/usr/bin/env python3
"""Record the expected result digests of every workload query on a corpus.

    python3 perfbench/make_digests.py CORPUS_DIR [LABEL]

Runs each query once, dumps its result beside the digest, and checks each
dump on its own against the DuckDB oracle (tools/check_oracle.py). The
digests are written to perfbench/expected/digests.json under the corpus
hash unless an oracle check fails. Queries without oracle SQL are marked
rows-only; an oracle that runs past ORACLE_TIMEOUT_S is marked timeout.
"""
import json
import os
import subprocess
import sys
import tempfile

import run

ORACLE_TIMEOUT_S = 600


def dump_and_digest(corpus_dir, work):
    dump = os.path.join(work, "dump")
    out = os.path.join(work, "digests.json")
    subprocess.run(run.java(work, "digest", "--corpus", corpus_dir, "--work", work,
                            "--out", out, "--dump", dump), check=True)
    with open(out) as fh:
        return json.load(fh), dump


def oracle_status(corpus_dir, dump, queries, work):
    """query -> OK, FAIL, rows-only or timeout, one checker run per query so
    one slow oracle cannot hold up the rest."""
    with open(os.path.join(dump, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    status = {}
    for q in queries:
        with tempfile.TemporaryDirectory(dir=work) as d:
            os.symlink(os.path.join(dump, q), os.path.join(d, q))
            with open(os.path.join(d, "oracle_sql.json"), "w") as fh:
                json.dump({q: oracle[q]} if q in oracle else {}, fh)
            try:
                check = subprocess.run(
                    [sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
                     corpus_dir, d], capture_output=True, text=True, timeout=ORACLE_TIMEOUT_S)
                line = next(x for x in check.stdout.splitlines() if x.split()[:1] == [q])
                status[q] = line.split()[1].rstrip(":")
            except subprocess.TimeoutExpired:
                status[q] = "timeout"
        print(f"{q:32s} {status[q]}", flush=True)
    return status


def record(corpus_dir, label, digests, status):
    path = os.path.join(run.HERE, "expected", "digests.json")
    table = json.load(open(path)) if os.path.exists(path) else {}
    table[run.corpus_record(corpus_dir)["sha256"]] = {
        "corpus": label,
        "oracle": {q: status[q] for q in sorted(digests)},
        "digests": dict(sorted(digests.items())),
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main():
    corpus_dir = os.path.abspath(sys.argv[1])
    label = sys.argv[2] if len(sys.argv) > 2 else os.path.basename(corpus_dir)
    os.makedirs(run.OUT, exist_ok=True)
    run.build()
    work = os.path.join(run.OUT, "work", "digest")
    digests, dump = dump_and_digest(corpus_dir, work)
    status = oracle_status(corpus_dir, dump, sorted(digests), work)
    failed = [q for q, s in status.items() if s not in ("OK", "rows-only", "timeout")]
    if failed:
        sys.exit(f"oracle check failed on {label} for {', '.join(failed)}; digests not recorded")
    record(corpus_dir, label, digests, status)
    print(f"recorded {len(digests)} digests for {label}")


if __name__ == "__main__":
    main()
