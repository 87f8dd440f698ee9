#!/usr/bin/env python3
"""Per-layer view of one workload: an untraced and a traced run of one seed.

    python3 perfbench/trace.py --workload etl_batch --seed 1 [--seconds 6]

Runs perfbench/run.py with --trace 0, then with --trace 1, and prints every
per-layer metric, each traced span's total and self time, and the tracing
overhead: the traced run's end-to-end and wall-clock numbers minus the
untraced run's.
Both records stay in perfbench/out/.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(r.returncode)
    with open(os.path.join(HERE, "out", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return json.loads(r.stdout.strip().splitlines()[-1]), json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]

    _, plain = run(args.workload, args.seed, args.seconds, 0)
    traced_line, traced = run(args.workload, args.seed, args.seconds, 1)

    print(f"{args.workload} seed {args.seed}: correct={traced_line['correct']} "
          f"attempted={traced_line['attempted']} failed={traced_line['failed']}")
    print("\nper-layer metrics (traced run)")
    for name, m in traced_line["metrics"].items():
        print(f"  {name:32s} {m['value']:14.3f} {m['unit']}")
    print("\nspans: total / self ms (traced run)")
    for name, t in sorted(traced.get("self_ms", {}).items()):
        print(f"  {name:32s} {t['total']:12.1f} {t['self']:12.1f}")
    print("\ntracing overhead: traced - untraced")
    for part in ("end_to_end", "wall"):
        for name, v in plain[part].items():
            print(f"  {name:32s} {traced[part][name] - v:+14.3f}  (untraced {v:.3f})")


if __name__ == "__main__":
    main()
