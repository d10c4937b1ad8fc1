"""Run the benchmark over a range of seeds and summarize each end-to-end metric.

    python3 perfbench/baseline.py --workload rollup_uniform --seeds 1001-1010 --out runs.jsonl

Each run's result and environment lines are appended to ``--out``. The summary
gives each metric's median, first and third quartiles
(``statistics.quantiles(n=4)``) and the spread (Q3 - Q1) / median.
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
ROOT = os.path.dirname(HERE)


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(results: list[dict]) -> dict:
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(values, n=4)
        med = statistics.median(values)
        out[name] = {
            "unit": results[0]["metrics"][name]["unit"],
            "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
        }
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1001-1010")
    p.add_argument("--out", required=True)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    results = []
    for seed in seed_range(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        res.update(json.loads(lines[-2]), seed=seed, wall_s=time.time() - t0)
        results.append(res)
        with open(args.out, "a") as f:
            f.write(json.dumps(res) + "\n")
    summary = summarize(results)
    for name, s in summary.items():
        print(f"{args.workload} {name}: median {s['median']:.6g} {s['unit']}, "
              f"spread {s['spread']:.3f}")
    print(json.dumps({"workload": args.workload, "seeds": args.seeds,
                      "correct": all(r["correct"] for r in results), "metrics": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
