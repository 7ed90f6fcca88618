"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workload pages --seeds 1-10 [--seconds 10] [--trace 0]

For every metric: the median and quartiles over the runs (as
``statistics.quantiles(values, n=4)`` gives them) and the quartile
distance as a share of the median. Prints one JSON object per workload.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summarize(results: list[dict]) -> dict:
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(values, n=4)
        out[name] = {
            "unit": results[0]["metrics"][name]["unit"], "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    results = []
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900,
        )
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        r = json.loads(proc.stdout.strip().splitlines()[-1])
        results.append(r)
        print(f"seed {seed}: " + json.dumps({k: round(v["value"], 3) for k, v in r["metrics"].items()}),
              file=sys.stderr, flush=True)
    print(json.dumps({
        "workload": args.workload, "runs": len(results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": summarize(results),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
