#!/usr/bin/env python3
"""Benchmark runner for the engine in this checkout.

    python3 perfbench/run.py --workload NAME|all --seed N --seconds S --trace 0|1

The checkout is the directory holding perfbench/. The first run builds
the engine and the harness from source with sbt (perfbench/build.sbt);
later runs reuse the build while the sources are unchanged. Each run
launches one JVM for one
workload, deletes the benchmark's work directory before and after, and
prints every metric as a plain `metric NAME VALUE UNIT` line followed by
one JSON result line. `--workload all` runs every workload in turn.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ["commit_loop", "snapshot_replay", "large_log"]
HERE = os.path.dirname(os.path.abspath(__file__))
# a first run builds and measures; both together stay under 900 s
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every input of the build, in a stable order."""
    out = []
    for rel in ["build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"]:
        if os.path.isfile(os.path.join(root, rel)):
            out.append(rel)
    for top in ["src/main", "perfbench/src/main"]:
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.relpath(os.path.join(d, f), root) for f in files]
    return sorted(out)


def stamp(root):
    h = hashlib.sha256()
    for rel in source_files(root):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    env.update(LC_ALL="C.UTF-8", LANG="C.UTF-8")
    return env


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(root, build_dir):
    """Returns the launch spec (JVM options + classpath), building first
    when the sources changed since the last build in this checkout."""
    spec = os.path.join(root, "perfbench", "target", "launch.txt")
    stamp_file = os.path.join(build_dir, "stamp")
    want = stamp(root)
    have = open(stamp_file).read() if os.path.isfile(stamp_file) else None
    if have != want or not os.path.isfile(spec):
        if shutil.which("sbt") is None:
            fail("sbt not found on PATH")
        t0 = time.time()
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchSpec"],
            BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"), env=sbt_env(),
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if code != 0 or not os.path.isfile(spec):
            sys.stderr.write(out or "")
            fail("build failed" if code is not None else "build timed out", 1)
        os.makedirs(build_dir, exist_ok=True)
        with open(stamp_file, "w") as f:
            f.write(want)
        print(f"build took {time.time() - t0:.1f} s")
    with open(spec) as f:
        return [line.rstrip("\n") for line in f if line.strip()], want


def git_commit(root):
    """HEAD of the checkout, or "none" when the checkout is not itself a
    git work tree (a copy inside another repository reports "none" too)."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
        lines = out.stdout.split()
        if out.returncode == 0 and len(lines) == 2 and os.path.samefile(lines[0], root):
            return lines[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return "none"


def run_one(root, build_dir, launch, args, workload):
    work = os.path.join(build_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_file = os.path.join(build_dir, "traces", f"{workload}-seed{args.seed}.jsonl")
    cmd = (["java"] + launch[:-2] +
           [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"] +
           launch[-2:] + ["graft.perfbench.Main",
                          "--workload", workload, "--seed", str(args.seed),
                          "--seconds", str(args.seconds), "--trace", str(args.trace),
                          "--root", work, "--trace-file", trace_file])
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=root, stdout=subprocess.PIPE,
                                env=dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8"),
                                text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"{workload}: run exceeded {RUN_TIMEOUT_S} s", 1)
    metrics, verdict = {}, None
    for line in (out or "").splitlines():
        print(line)
        parts = line.split()
        if len(parts) >= 4 and parts[0] == "metric":
            metrics[parts[1]] = (float(parts[2]), parts[3])
        elif parts[:1] == ["verdict"]:
            verdict = dict(p.split("=", 1) for p in parts[1:])
    if code != 0 or verdict is None:
        fail(f"{workload}: harness exited with {code}", 1)
    return verdict, metrics


def result_line(spec, verdict, metrics, traced):
    """The JSON result: the metrics BENCHMARK.json names for this mode."""
    names = [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]
    missing = [n for n in names if n not in metrics]
    if missing:
        fail(f"metrics not reported: {', '.join(missing)}", 1)
    return {
        "correct": verdict["correct"] == "true",
        "attempted": int(verdict["attempted"]),
        "failed": int(verdict["failed"]),
        "metrics": {n: {"value": metrics[n][0], "unit": metrics[n][1]} for n in names},
    }


def trace_overhead(build_dir, workload, metrics, traced):
    """Traced-minus-untraced per shared timing, against the last untraced
    run of the same workload in this checkout."""
    path = os.path.join(build_dir, f"untraced-{workload}.json")
    if not traced:
        with open(path, "w") as f:
            json.dump(metrics, f)
        return
    if not os.path.isfile(path):
        print(f"trace_overhead {workload}: no untraced run of this workload yet")
        return
    with open(path) as f:
        base = json.load(f)
    for name, value in sorted(metrics.items()):
        if name.endswith("_ms") and name in base:
            print(f"trace_overhead {workload} {name} {value[0] - base[name][0]:+.4f} ms")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    root = os.path.dirname(HERE)
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail(f"{root} holds no engine to build (build.sbt and src/main/scala)")
    if shutil.which("java") is None:
        fail("java not found on PATH")
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    launch, src_stamp = build(root, build_dir)
    print(f"env git_commit={git_commit(root)} source_sha256={src_stamp}")

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    results = {}
    for w in workloads:
        t0 = time.time()
        verdict, metrics = run_one(root, build_dir, launch, args, w)
        trace_overhead(build_dir, w, metrics, args.trace == 1)
        results[w] = result_line(spec, verdict, metrics, args.trace == 1)
        print(f"run {w} wall {time.time() - t0:.1f} s")
    if len(workloads) == 1:
        print(json.dumps(results[workloads[0]], separators=(",", ":")))
        return
    for w, r in results.items():
        print(f"result {w} " + json.dumps(r, separators=(",", ":")))
    # one line for the whole set: metrics keyed workload.metric
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
