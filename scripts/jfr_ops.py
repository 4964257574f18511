#!/usr/bin/env python3
"""Attribute JFR execution samples of one thread to the perfbench op running.

Usage:
    jfr print --events jdk.ExecutionSample --stack-depth 1024 rec.jfr > samples.txt
    python3 scripts/jfr_ops.py samples.txt                  # samples per op lambda
    python3 scripts/jfr_ops.py samples.txt --op 'run$1' --top 25 [--frames '^graft\.']

A sample belongs to the op whose lambda (a frame matching --group, by
default a `graft.perfbench.<Workload>$.$anonfun$run$N` frame) is on its
stack. With --op, prints that op's sample count, then two tables over the
frames matching --frames: how many of the op's samples had each frame
anywhere on the stack ("inside this method"), and how many had it as the
innermost matching frame (where the time went, at the level --frames
picks).
"""
import argparse
import collections
import re


def samples(path, thread):
    """Stacks (innermost frame first) of the samples taken on `thread`."""
    stack, on_thread, in_stack = [], False, False
    with open(path) as f:
        for line in f:
            s = line.strip()
            if s.startswith("jdk.ExecutionSample"):
                stack, on_thread, in_stack = [], False, False
            elif s.startswith("sampledThread"):
                on_thread = s.split("=", 1)[1].strip().startswith(f'"{thread}"')
            elif s.startswith("stackTrace = ["):
                in_stack = True
            elif in_stack and s == "]":
                in_stack = False
                if on_thread:
                    yield stack
            elif in_stack and s != "...":
                stack.append(re.sub(r"\(.*", "", s))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("samples")
    ap.add_argument("--thread", default="main")
    ap.add_argument("--group", default=r"graft\.perfbench\.\w+\$\.\$anonfun\$run\$\d+")
    ap.add_argument("--op", help="suffix of the op's lambda frame, e.g. run$1")
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--frames", default="", help="print only frames matching this regex")
    args = ap.parse_args()
    group = re.compile(args.group)
    per_op = collections.Counter()
    inside, innermost = collections.Counter(), collections.Counter()
    shown = re.compile(args.frames)
    for stack in samples(args.samples, args.thread):
        op = next((fr for fr in stack if group.fullmatch(fr)), None)
        if op is None:
            continue
        per_op[op] += 1
        if args.op and op.endswith(args.op):
            matching = [fr for fr in stack if shown.search(fr)]
            inside.update(set(matching))
            innermost.update(matching[:1])
    if not args.op:
        for op, n in per_op.most_common():
            print(f"{n:6d}  {op}")
        return
    total = sum(n for op, n in per_op.items() if op.endswith(args.op))
    print(f"{total} samples on thread {args.thread} in an op ending {args.op}")
    for title, counts in [("inside", inside), ("innermost", innermost)]:
        print(f"\n{title}:")
        for fr, n in counts.most_common(args.top):
            print(f"{n:6d}  {fr}")


if __name__ == "__main__":
    main()
