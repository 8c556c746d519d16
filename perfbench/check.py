#!/usr/bin/env python3
"""Self-checks of the benchmark, run from the repository root.

    python3 perfbench/check.py guards [--seed 7]
        Two traced runs of every workload with the same seed: the exact
        counts below must repeat exactly, and every run must print exactly
        the metrics and units BENCHMARK.json lists. Exit code 1 otherwise.

    python3 perfbench/check.py spread [--seeds 10] [--workloads lookup,dedup]
        One untraced run per seed and workload. Prints, per end-to-end
        metric, the median and the interquartile range as a share of the
        median next to the metric's bound, and the wall time per run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

# Counts that depend only on the seed; a change between two same-seed
# runs means a workload is not deterministic. index.bytes_per_input_byte
# is not one of them: tables written straight after a shuffle get their
# rows in fetch order, so their Parquet files differ by a few bytes.
EXACT_GUARDS = ("query.jobs_per_query", "query.blocks_decoded_frac",
                "index.bytes_per_posting", "streaming.compactions", "ops.pairs")


def spec():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {p.returncode}")
    return json.loads(p.stdout.splitlines()[-1]), wall


def check_shape(result, metrics, where):
    """Problems with `result` against the metric list of BENCHMARK.json."""
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in metrics}
    problems = [] if got == want else [f"{where}: metrics/units differ from BENCHMARK.json"]
    if not result["correct"] or result["failed"]:
        problems.append(f"{where}: correct={result['correct']} failed={result['failed']}")
    return problems


def guards(args):
    s = spec()
    problems = []
    for w in (x["name"] for x in s["workloads"]):
        a, _ = run(w, args.seed, s["run_seconds"], 1)
        b, _ = run(w, args.seed, s["run_seconds"], 1)
        for r in (a, b):
            problems += check_shape(r, s["per_layer"], f"{w} traced")
        for g in EXACT_GUARDS:
            va, vb = a["metrics"][g]["value"], b["metrics"][g]["value"]
            print(f"{w:8s} {g:32s} {va!r:>22s} {vb!r:>22s} {'ok' if va == vb else 'DIFFERS'}")
            if va != vb:
                problems.append(f"{w}: {g} differs between same-seed runs")
    e2e, _ = run(s["workloads"][0]["name"], args.seed, s["run_seconds"], 0)
    problems += check_shape(e2e, s["end_to_end"], "untraced")
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


def spread(args):
    s = spec()
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in s["workloads"]]
    for w in names:
        values, walls = {}, []
        for seed in range(1, args.seeds + 1):
            r, wall = run(w, seed, s["run_seconds"], 0)
            walls.append(wall)
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: wall {wall:.1f} s, failed {r['failed']}/{r['attempted']}, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        for m in s["end_to_end"]:
            xs = values[m["name"]]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            rel = (q3 - q1) / med
            print(f"{w:8s} {m['name']:14s} median {med:10.4f}  iqr/median {rel:.4f}  "
                  f"bound {m['bound']}  {'ok' if rel < m['bound'] / 3 else 'WIDE'}")
        print(f"{w:8s} wall per run: median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s", flush=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    g = sub.add_parser("guards")
    g.add_argument("--seed", type=int, default=7)
    sp = sub.add_parser("spread")
    sp.add_argument("--seeds", type=int, default=10)
    sp.add_argument("--workloads", default="")
    args = p.parse_args()
    if not os.path.exists("BENCHMARK.json"):
        raise SystemExit("run from the repository root")
    (guards if args.cmd == "guards" else spread)(args)


if __name__ == "__main__":
    main()
