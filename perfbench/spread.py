"""Run one workload on several seeds and print, per metric, the median
and the spread (interquartile range over median, as
``statistics.quantiles(values, n=4)`` gives the quartiles).

    python3 perfbench/spread.py --workload query --seeds 1-10 --seconds 15

Runs are sequential, each through ``perfbench/run.py``.  With ``--out``
the per-run results and the summary are also written as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", default="15")
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for seed in seeds(args.seeds):
        t = time.time()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed",
             str(seed), "--seconds", args.seconds, "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.time() - t
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", flush=True)
            return 1
        lines = p.stdout.strip().splitlines()
        report = json.loads(lines[-2].removeprefix("report "))
        result = json.loads(lines[-1])
        runs.append({"seed": seed, "wall_s": wall, "result": result, "report": report["metrics"]})
        shown = {k: round(v["value"], 3) for k, v in report["metrics"].items()}
        print(f"seed {seed} wall {wall:.1f}s correct {result['correct']} {shown}", flush=True)
    summary = {"wall_s_max": max(r["wall_s"] for r in runs)}
    print(f"wall median {statistics.median(r['wall_s'] for r in runs):.1f}s max {summary['wall_s_max']:.1f}s")
    for name in runs[0]["report"]:
        xs = [r["report"][name]["value"] for r in runs]
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        gated = name in runs[0]["result"]["metrics"]
        summary[name] = {"median": med, "spread": spread, "gated": gated}
        print(f"{'*' if gated else ' '} {name:30s} median {med:12.3f}  spread {spread:6.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds, "runs": runs,
                       "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
