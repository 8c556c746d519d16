#!/usr/bin/env python3
"""Runs one benchmark workload from the repository root:

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark (perfbench/build.py) if their sources
changed, then runs the workload in a fresh JVM with a fixed heap. The last
line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}} -- the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1
(preceded by a "LAYERS {...}" line). All files go under .bench_build/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("lookup", "dedup")
# Fixed heap (-Xms = -Xmx) with the throughput collector: the heap never
# resizes during a run, and the JVM ignores build.sbt's SPARK_DRIVER_MEM.
# 2 GiB holds the largest workload with room to spare on a 15 GiB host.
HEAP = "2g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def java_command(classpath, work, args):
    here = os.path.dirname(os.path.abspath(__file__))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"] + opens + [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--cores", str(len(os.sched_getaffinity(0)))])


def run(args):
    """Runs the workload JVM; returns (exit code, stdout lines)."""
    classpath = build.build()
    os.makedirs(os.path.join(build.OUT, "work"), exist_ok=True)
    work = os.path.abspath(tempfile.mkdtemp(
        prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(build.OUT, "work")))
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(java_command(classpath, work, args), stdout=subprocess.PIPE,
                            env=env, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        return proc.returncode, out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"run: workload exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 1, []
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            traces = os.path.join(build.OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            os.replace(spans, os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)


def main():
    # a terminated runner still runs run()'s cleanup, which kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args()
    code, lines = run(args)
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        print(f"run: no result (exit code {code})", file=sys.stderr)
        sys.exit(code or 1)
    for line in lines:
        if line.startswith("LAYERS "):
            print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
