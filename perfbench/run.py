#!/usr/bin/env python3
"""Benchmark for graft: one named workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload geo_refresh --seed 1 --seconds 20 --trace 0

Builds the harness (perfbench/harness, which compiles the engine's own
sources) when the sources changed, then runs it in one JVM:

  set-up   clear the sink outputs, start the session, run one untimed pass
           that checks every query's result digest (perfbench/expected);
  timed    passes over the workload's queries in the seed's order until
           --seconds are spent. Each query is built (SparkEntry.queries),
           planned (executedPlan) and fully materialized (a noop write).

--trace 0 prints the end-to-end metrics; --trace 1 alternates untraced and
traced passes, starting and ending untraced, and prints the per-layer
metrics of the traced ones. The
last line of stdout is one JSON object: correct, attempted, failed, metrics.
A run record (cpus, heap, corpus, versions, seed, order, metrics) is written
under .bench_build/perfbench/records; compare.py diffs two of them.

--smoke runs each query once on the sf0.001 corpus (harness self-test).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CORPUS = {"bench": os.path.join(HERE, "corpus", "sf0.01"),
          "smoke": os.path.join(HERE, "corpus", "sf0.001")}
WORKLOADS = ("geo_refresh", "dedup_ingest", "spatial_join")
# On the committed corpora the harness JVM is killed this long after it starts.
DEADLINE_S = 165

# Spark 4 on JDK 17 needs these outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

# name -> unit. END_TO_END come from untraced passes, PER_LAYER from traced.
# INFO is printed but not bounded: on a shared 4-vCPU host, wall time per
# pass spread 11-32 % between runs (host steal time reached 25 %) where the
# JVM's CPU time per pass spread 7-15 %; the median query moves 15-45 %.
END_TO_END = {"pass_cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}
INFO = {"pass_s": "s", "query_p50_s": "s"}
PER_LAYER = {
    "ops.build_s": "s", "ops.build_jobs": "count", "ops.build_share": "ratio",
    "ops.stored_mb": "MB",
    "streaming.build_s": "s", "streaming.microbatches": "count",
    "streaming.state_rows": "count", "streaming.trigger_s": "s",
    "plans.plan_s": "s", "plans.nodes": "count",
    "plans.rtree_joins": "count", "plans.nl_joins": "count",
    "exec.exec_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.max_task_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.idle_core_s": "s", "exec.cpu_util": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.input_rows": "count",
    "sources.output_mb": "MB", "sources.output_rows": "count",
    "sources.write_task_s": "s", "sources.input_mb": "MB",
    "trace.overhead_s": "s",
}
MB = 1 << 20


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths, base=ROOT):
    """SHA-256 over the names (relative to base) and contents of every file
    under paths."""
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, base).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile harness + engine with sbt unless the stamped sources match."""
    sources = [ENGINE_SRC, os.path.join(HARNESS, "src"),
               os.path.join(HARNESS, "build.sbt"),
               os.path.join(HARNESS, "project", "build.properties")]
    stamp_file = os.path.join(OUT, "build.stamp")
    stamp = tree_hash(sources)
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return stamp
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "-J-XX:-UsePerfData", "compile"],
                             cwd=HARNESS, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        die(f"build failed (exit {rc}), see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return stamp


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        die("set SPARK_HOME to a Spark 4.1 installation")
    return jars


def heap():
    return os.environ.get("SPARK_DRIVER_MEM") or "4g"


def java(work, *args):
    """Command line of the harness JVM. The heap is fixed (-Xms = -Xmx), so
    peak RSS does not swing with the collector's resizing decisions."""
    return ["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:-UsePerfData", *ADD_OPENS,
            f"-Djava.io.tmpdir={work}",
            "-cp", os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")]),
            "graftbench.Main", *args]


def corpus_record(path):
    """Per-table file size and row count, and one hash of the whole corpus."""
    tables = {}
    for f in sorted(os.listdir(path)):
        if f.endswith(".parquet"):
            p = os.path.join(path, f)
            tables[f[:-len(".parquet")]] = {"bytes": os.path.getsize(p), "rows": parquet_rows(p)}
    return {"path": path, "sha256": tree_hash([path], base=path), "tables": tables}


def parquet_rows(path):
    try:
        import pyarrow.parquet as pq
        return pq.ParquetFile(path).metadata.num_rows
    except ImportError:
        return None


def expected_digests(corpus):
    with open(os.path.join(HERE, "expected", "digests.json")) as fh:
        table = json.load(fh)
    entry = table.get(corpus["sha256"])
    return entry["digests"] if entry else {}


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(raw):
    passes = [p for p in raw["passes"] if not p["traced"]]
    runs = [q for p in passes for q in p["queries"]]
    totals = [q["build_s"] + q["plan_s"] + q["exec_s"] for q in runs]
    return {
        "pass_cpu_s": (median([p["cpu_s"] for p in passes]), len(passes)),
        "peak_rss_mb": (raw["peak_rss_kb"] / 1024, 1),
        "pass_s": (median([p["pass_s"] for p in passes]), len(passes)),
        "setup_s": (raw["setup_s"], 1),
        "query_p50_s": (median(totals), len(totals)),
    }


def layers(p, cores):
    """Per-layer numbers of one traced pass (spans keyed pass|query|phase)."""
    spans = p["layers"]["spans"]
    qs = p["queries"]
    is_stream = lambda q: q.startswith("q_stream_")

    def acc(pred):
        rows = [v for k, v in spans.items() if k.count("|") == 2 and pred(*k.split("|"))]
        out = {}
        for r in rows:
            for k, v in r.items():
                out[k] = max(out.get(k, 0), v) if k == "max_task_s" else out.get(k, 0) + v
        return out

    build = acc(lambda _, q, ph: ph == "build" and not is_stream(q))
    writes = acc(lambda _, q, ph: ph == "build")
    ex = acc(lambda _, q, ph: ph == "exec")
    every = acc(lambda *_: True)
    exec_s = sum(q["exec_s"] for q in qs)
    build_s = sum(q["build_s"] for q in qs)
    g = lambda d, k: d.get(k, 0)
    return {
        "ops.build_s": sum(q["build_s"] for q in qs if not is_stream(q["name"])),
        "ops.build_jobs": g(build, "jobs"),
        "ops.build_share": build_s / p["pass_s"],
        "ops.stored_mb": p["layers"]["stored_peak_bytes"] / MB,
        "streaming.build_s": sum(q["build_s"] for q in qs if is_stream(q["name"])),
        "streaming.microbatches": p["layers"]["microbatches"],
        "streaming.state_rows": p["layers"]["state_rows"],
        "streaming.trigger_s": p["layers"]["trigger_s"],
        "plans.plan_s": sum(q["plan_s"] for q in qs),
        "plans.nodes": sum(q.get("plan_nodes", 0) for q in qs),
        "plans.rtree_joins": sum(q.get("rtree_joins", 0) for q in qs),
        "plans.nl_joins": sum(q.get("nl_joins", 0) for q in qs),
        "exec.exec_s": exec_s,
        "exec.task_cpu_s": g(ex, "task_cpu_s"),
        "exec.gc_s": g(ex, "gc_s"),
        "exec.max_task_s": g(ex, "max_task_s"),
        "exec.jobs": g(ex, "jobs"),
        "exec.stages": g(ex, "stages"),
        "exec.tasks": g(ex, "tasks"),
        "exec.idle_core_s": cores * exec_s - g(ex, "task_run_s"),
        "exec.cpu_util": g(ex, "task_cpu_s") / (cores * exec_s) if exec_s else 0.0,
        "exec.shuffle_write_mb": g(ex, "shuffle_write_bytes") / MB,
        "exec.shuffle_read_mb": g(ex, "shuffle_read_bytes") / MB,
        "exec.spill_mb": g(ex, "spill_bytes") / MB,
        "exec.input_rows": g(ex, "input_rows"),
        # writes of the engine's sinks; the timed noop write reports none
        "sources.output_mb": g(writes, "output_bytes") / MB,
        "sources.output_rows": g(writes, "output_rows"),
        "sources.write_task_s": g(writes, "write_task_s"),
        "sources.input_mb": g(every, "input_bytes") / MB,
    }


def per_layer(raw):
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    per_pass = [layers(p, raw["cores"]) for p in traced]
    out = {k: (median([lp[k] for lp in per_pass]), len(per_pass)) for k in per_pass[0]}
    out["trace.overhead_s"] = (median([p["pass_s"] for p in traced])
                               - median([p["pass_s"] for p in untraced]), len(traced))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corpus", help="corpus directory (default: perfbench/corpus/sf0.01)")
    ap.add_argument("--smoke", action="store_true", help="sf0.001, one pass")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
            "run from a full checkout of the repository")
    corpus_dir = os.path.abspath(args.corpus or CORPUS["smoke" if args.smoke else "bench"])
    if not os.path.isdir(corpus_dir):
        die(f"no corpus at {corpus_dir}")
    os.makedirs(OUT, exist_ok=True)
    source_sha = build()

    corpus = corpus_record(corpus_dir)
    digests = expected_digests(corpus)
    work = os.path.join(OUT, "work", args.workload)
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    expected = os.path.join(work, "expected.txt")
    with open(expected, "w") as fh:
        fh.writelines(f"{q} {d}\n" for q, d in sorted(digests.items()))
    raw_file = os.path.join(work, "raw.json")
    seconds = 0 if args.smoke else args.seconds

    cmd = java(work, "run", "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(seconds), "--trace", str(args.trace), "--corpus", corpus_dir,
               "--work", work, "--out", raw_file, "--expected", expected)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keeps spark.local.dir inside the work dir
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # local[N], N = nproc
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=None if args.corpus else DEADLINE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"harness exceeded {DEADLINE_S} s, see {log}")
    if rc != 0 or not os.path.exists(raw_file):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        die(f"harness failed (exit {rc}), see {log}")
    with open(raw_file) as fh:
        raw = json.load(fh)

    timed = [q for p in raw["passes"] for q in p["queries"]]
    errors = [f"{q['name']}: {q['error']}" for q in timed if not q["ok"]]
    problems = raw["mismatches"] + errors
    attempted = raw["checks_attempted"] + len(timed)
    failed = len(problems)
    metrics = end_to_end(raw) if args.trace == 0 else per_layer(raw)
    units = {**END_TO_END, **INFO} if args.trace == 0 else PER_LAYER
    reported = END_TO_END if args.trace == 0 else PER_LAYER

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": seconds, "order": raw["order"], "cpus": raw["cores"],
        "heap": heap(), "heap_max_mb": raw["heap_max_mb"], "corpus": corpus,
        "spark": raw["spark_version"], "scala": raw["scala_version"],
        "jdk": raw["java_version"], "git_commit": git_commit(), "source_sha256": source_sha,
        "attempted": attempted, "failed": failed, "failed_frac": failed / attempted,
        "problems": problems,
        "metrics": {k: {"value": v, "unit": units[k], "samples": n}
                    for k, (v, n) in metrics.items()},
        "raw": raw,
    }
    rec_dir = os.path.join(OUT, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_file = os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_file, "w") as fh:
        json.dump(record, fh, indent=1)

    for p in problems:
        print(f"FAILED {p}")
    print(f"{'metric':24s} {'value':>14s} {'unit':6s} samples")
    print(f"{'failed_frac':24s} {failed / attempted:14.4f} {'ratio':6s} {attempted}")
    for k, (v, n) in metrics.items():
        print(f"{k:24s} {v:14.4f} {units[k]:6s} {n}")
    print(f"record: {os.path.relpath(rec_file, ROOT)}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, (v, _) in metrics.items() if k in reported},
    }))


if __name__ == "__main__":
    main()
