"""Run one workload on several seeds and report each metric's median,
quartiles and spread (quartile distance as a share of the median).

    python3 perfbench/spread.py --workload zipf --seeds 1-10 --seconds 20 [--trace 1]

Runs are sequential, from the repository root.  Quartiles are
``statistics.quantiles(values, n=4)``.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--seconds", default="20")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for seed in args.seeds:
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds,
             "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            continue
        rec = json.loads(lines[-1])
        print(f"seed {seed}: wall {wall:.1f}s correct {rec['correct']} "
              f"attempted {rec['attempted']} failed {rec['failed']}",
              flush=True)
        for name, m in rec["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
    print(f"{'metric':26s} {'unit':>9s} {'median':>12s} {'q1':>12s} "
          f"{'q3':>12s} {'spread':>7s}  n")
    for name, v in values.items():
        if len(v) < 2:
            continue
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        print(f"{name:26s} {units[name]:>9s} {med:12.4f} {q1:12.4f} "
              f"{q3:12.4f} {(q3 - q1) / med:7.3f}  {len(v)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
