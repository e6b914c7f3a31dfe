#!/usr/bin/env python3
"""Inclusive and self sample shares per frame of a JFR recording.

    python3 tools/jfr_top.py FILE.jfr [--filter graft,jts] [--top 40]

Reads the jdk.ExecutionSample events through `jfr print --stack-depth 80`
(plain `jfr print` truncates every stack to 5 frames, which hides all but
the leaf calls). A frame is `package.Class.method`, argument lists and line
numbers dropped. Its inclusive share is the fraction of samples whose stack
contains it (counted once per sample, so recursion does not inflate it);
its self share is the fraction of samples it is the top frame of. Shares are
over all samples; --filter only limits which frames are printed to those
whose name contains one of the comma-separated substrings.
"""
import argparse
import collections
import re
import shutil
import subprocess
import sys

FRAME = re.compile(r"^\s+(\S.*?)(?:\(.*\))?(?:\s+line:\s*\d+)?\s*$")


def samples(path, depth):
    """Yield (frames top-first, truncated) for each jdk.ExecutionSample."""
    cmd = ["jfr", "print", "--events", "jdk.ExecutionSample",
           "--stack-depth", str(depth), path]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    frames, in_stack, truncated = [], False, False
    for line in proc.stdout:
        if line.strip() == "stackTrace = [":
            frames, in_stack, truncated = [], True, False
        elif in_stack and line.strip() == "]":
            in_stack = False
            yield frames, truncated
        elif in_stack:
            if line.strip() == "...":
                truncated = True
            else:
                m = FRAME.match(line)
                if m:
                    frames.append(m.group(1))
    if proc.wait() != 0:
        sys.exit(f"jfr_top: `{' '.join(cmd)}` failed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("file", help="JFR recording")
    ap.add_argument("--filter", default="",
                    help="comma-separated substrings; print only frames containing one")
    ap.add_argument("--top", type=int, default=40, help="frames to print (default 40)")
    ap.add_argument("--stack-depth", type=int, default=80)
    args = ap.parse_args()
    if shutil.which("jfr") is None:
        sys.exit("jfr_top: the JDK's `jfr` tool is not on PATH")

    incl, self_ = collections.Counter(), collections.Counter()
    n = cut = 0
    for frames, truncated in samples(args.file, args.stack_depth):
        n += 1
        cut += truncated
        if frames:
            self_[frames[0]] += 1
            incl.update(set(frames))
    if n == 0:
        sys.exit("jfr_top: no jdk.ExecutionSample events in the recording")

    keep = [s for s in args.filter.split(",") if s]
    rows = [f for f, _ in incl.most_common() if not keep or any(s in f for s in keep)]
    print(f"{n} samples, {cut} truncated at depth {args.stack_depth}")
    print(f"{'incl%':>6s} {'self%':>6s}  frame")
    for f in rows[:args.top]:
        print(f"{100 * incl[f] / n:6.1f} {100 * self_[f] / n:6.1f}  {f}")


if __name__ == "__main__":
    main()
