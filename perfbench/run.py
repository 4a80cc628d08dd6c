#!/usr/bin/env python3
"""Benchmark of the graft CDC engine, one workload per invocation.

    python3 perfbench/run.py --tail-files-per-s R --scan-every-ms M \\
        --workload backfill|tail_serve --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the benchmark
from source (see build.py), runs the workload in one JVM on
local[min(4, nproc)] with fresh scratch under `.bench_scratch/` (deleted
afterwards), and prints one JSON object as the last line of stdout:
the end-to-end metrics of BENCHMARK.json with `--trace 0`, the
per-layer metrics with `--trace 1`. A traced run also writes its spans
to `.bench_trace/<workload>-seed<N>.json`. Exits non-zero, after
printing the result, when the engine's output does not match the
oracle; exits non-zero without a result when the run cannot complete.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fs_type(path):
    """Filesystem type of the mount holding `path` (tmpfs or a disk fs)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    try:
        with open("/proc/self/mounts") as fh:
            for line in fh:
                parts = line.split()
                if len(parts) >= 3 and (path == parts[1] or path.startswith(parts[1].rstrip("/") + "/")):
                    if len(parts[1]) > len(best):
                        best, kind = parts[1], parts[2]
    except OSError:
        pass
    return kind


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["backfill", "tail_serve"])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    p.add_argument("--tail-files-per-s", required=True, type=float)
    p.add_argument("--scan-every-ms", required=True, type=int)
    a = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    try:
        classpath, key = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    cores = min(4, nproc)
    scratch = os.path.join(ROOT, ".bench_scratch", f"{a.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    trace_dir = os.path.join(ROOT, ".bench_trace")
    os.makedirs(trace_dir, exist_ok=True)
    trace_out = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
    result_file = os.path.join(scratch, "result.json")
    # Class-data sharing: the first run of a build dumps the classes it
    # loaded into an archive when its JVM exits; later runs map it, which
    # saves several seconds of class loading per run.
    archive = os.path.join(build.OUT, f"classes-{key}.jsa")
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={archive}.tmp")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", cds, "-Xlog:cds=off",
            # one maintainer trigger holds ~140 live generated classes; the
            # engine's build runs with this cache size (a static SQL conf)
            "-Dspark.sql.codegen.cache.maxEntries=4000",
            f"-Djava.io.tmpdir={scratch}/tmp"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--scratch", scratch, "--out", result_file,
              "--trace-out", trace_out, "--cores", str(cores),
              "--tail-files-per-s", str(a.tail_files_per_s),
              "--scan-every-ms", str(a.scan_every_ms)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
               GRAFT_TMPDIR=os.path.join(scratch, "graft-tmp"))
    print(f"# workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"cores={cores} nproc={nproc} heap={HEAP} "
          f"scratch_fs={fs_type(scratch)} offered_files_per_s={a.tail_files_per_s} "
          f"scan_every_ms={a.scan_every_ms}")
    proc = None

    def stop(*_):
        # the JVM runs in its own session: stop it with us
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        sys.exit(4)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
            return 3
        if code != 0 or not os.path.exists(result_file):
            print(f"benchmark JVM exited with {code}", file=sys.stderr)
            return 3
        if os.path.exists(archive + ".tmp"):
            os.replace(archive + ".tmp", archive)
        with open(result_file) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    known = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    unknown = sorted(set(res["values"]) - known)
    if unknown:
        print(f"metrics not declared in BENCHMARK.json: {unknown}", file=sys.stderr)
        return 3
    metrics = {}
    for m in wanted:
        v = res["values"].get(m["name"])
        if v is None:
            if not a.trace:
                print(f"end-to-end metric {m['name']} was not measured", file=sys.stderr)
                return 3
            v = 0.0  # a layer this workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for name, mv in metrics.items():
        n = res["samples"].get(name)
        print(f"# {name} = {mv['value']:.6g} {mv['unit']}" + (f" (n={n})" if n else ""))
    if a.trace:
        print(f"# spans: {os.path.relpath(trace_out, ROOT)}; tracing overhead ratio "
              f"{metrics.get('trace.overhead_ratio', {}).get('value')}")
    print(f"# wall {res['wall_s']:.1f} s; attempted {res['attempted']}, failed {res['failed']}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
