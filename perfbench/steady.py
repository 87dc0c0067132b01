#!/usr/bin/env python3
"""Steadiness check: run one workload with several seeds and report, for each
end-to-end metric, the median, the quartiles and the spread (quartile
distance over the median) against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload sqlite_session --runs 10 [--first-seed 1]

Run from the repository root. A metric passes when its spread is within its
bound, and is steady when within a third of it. Exits 1 if any run fails or
any metric's spread exceeds its bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, walls, ok = {}, [], True
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.time()
        p = subprocess.run(bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                               "--seconds", str(bench["run_seconds"]),
                                               "--trace", str(args.trace)],
                           capture_output=True, text=True)
        walls.append(time.time() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            ok = False
            continue
        res = json.loads(lines[-1])
        ok &= res["correct"]
        print(f"seed {seed}: {walls[-1]:.1f} s, correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"\n{args.workload}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    print(f"{'metric':28s} {'q1':>12s} {'median':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, q2, q3, s = spread(vs)
        b = bounds.get(k)
        verdict = ""
        if b is not None:
            verdict = "steady" if s <= b / 3 else "ok" if s <= b else "UNSTEADY"
            ok &= s <= b
        print(f"{k:28s} {q1:12.4f} {q2:12.4f} {q3:12.4f} {s:8.3f} {b if b else '':>6} {verdict}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
