"""Run-to-run steadiness of the end-to-end metrics.

    python3 perfbench/steadiness.py --workload similarity --seeds 1-10 [--out runs.jsonl]

From the root of a checkout: runs the benchmark once per seed (sequentially,
untraced, BENCHMARK.json's run_seconds) and prints, per end-to-end metric,
the median, the quartiles (statistics.quantiles(n=4)), the spread
(Q3 - Q1) / median, and the metric's bound from BENCHMARK.json. A metric is
steady when its spread stays under its bound; setup_s is judged by its median
alone. Each run's result line is appended to --out when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=CHECKOUT, capture_output=True, text=True, timeout=600,
        )
        wall = time.perf_counter() - t0
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            raise SystemExit(f"seed {seed}: exit code {p.returncode}")
        result = json.loads(p.stdout.strip().splitlines()[-1])
        if args.out:
            with open(args.out, "a") as f:
                notes = [ln for ln in p.stderr.splitlines() if any(k in ln for k in ("] setup ", "walls", "canary"))]
                f.write(json.dumps({"workload": args.workload, "seed": seed, "process_s": wall,
                                    "notes": notes, **result}) + "\n")
        for k in values:
            values[k].append(result["metrics"][k]["value"])
        print(f"seed {seed:3d} {wall:5.1f}s correct={result['correct']} attempted={result['attempted']} "
              + " ".join(f"{k}={result['metrics'][k]['value']:.4g}" for k in values), flush=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    print(f"{'metric':14s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>7s} {'bound':>6s}")
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{k:14s} {med:10.4g} {q1:10.4g} {q3:10.4g} {(q3 - q1) / med:7.3f} {bounds[k]:6.2f}")


if __name__ == "__main__":
    main()
