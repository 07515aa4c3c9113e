#!/usr/bin/env python3
"""Run the benchmark once per seed and summarize each metric's spread.

    python3 perfbench/spread.py --workload spans_extract --seeds 0-9 \
        --seconds 10 --trace 0 --out perfbench/results/some-name.json

Runs are sequential. For every metric the summary holds the values, their
median, quartiles (``statistics.quantiles(values, n=4)``) and the spread:
the distance between the quartiles as a share of the median. It also holds
each run's wall time and host context.
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


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 0-9")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", required=True)
    ap.add_argument("extra", nargs="*", help="more arguments for run.py")
    args = ap.parse_args()
    lo, hi = map(int, args.seeds.split("-"))
    runs = []
    for seed in range(lo, hi + 1):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace, *args.extra]
        t0 = time.time()
        p = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        # run.py exits 1 with a result line when a check failed
        if p.returncode not in (0, 1) or len(lines) < 2:
            print(p.stderr[-3000:], file=sys.stderr)
            raise SystemExit(f"seed {seed}: exit {p.returncode}")
        result, ctx = json.loads(lines[-1]), json.loads(lines[-2])["context"]
        runs.append({"seed": seed, "wall_s": wall, "result": result, "context": ctx})
        print(f"seed {seed}: {wall:.1f}s correct={result['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
            if "." not in k or k.startswith("trace.")), flush=True)
    names = runs[0]["result"]["metrics"]
    summary = {
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
        "all_correct": all(r["result"]["correct"] for r in runs),
        "wall_s": summarize([r["wall_s"] for r in runs]),
        "metrics": {k: {"unit": names[k]["unit"],
                        **summarize([r["result"]["metrics"][k]["value"] for r in runs])}
                    for k in names},
        "runs": runs,
    }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(summary, fh, indent=1)
        fh.write("\n")
    for k, m in summary["metrics"].items():
        if "." not in k:
            print(f"{k:>14}: median {m['median']:.4g} {m['unit']}  spread {m['spread']:.3f}")
    print(f"{'wall_s':>14}: median {summary['wall_s']['median']:.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
