"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload catalog --seeds 1-10 [--seconds 8]

Runs the benchmark once per seed (untraced, one after another) and
prints, per printed metric, the median and the interquartile range as
a share of the median (``statistics.quantiles(values, n=4)``), next
to the metric's bound when BENCHMARK.json declares one. Also prints the wall
time of each run. Each run's JSON line is appended to
``.perfbench/spread-<workload>.jsonl``, and its whole output to
``.perfbench/spread-<workload>-<seed>.txt``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    lo, hi = (int(x) for x in args.seeds.split("-"))
    values: dict[str, list[float]] = {}
    log = os.path.join(ROOT, ".perfbench", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for seed in range(lo, hi + 1):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, *spec["command"][1:], "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, **result}) + "\n")
        with open(log.replace(".jsonl", f"-{seed}.txt"), "w") as f:
            f.write(proc.stdout + proc.stderr)
        host = next((ln for ln in proc.stdout.splitlines() if ln.startswith("host ")), "")
        print(f"seed {seed}: wall {wall:.1f}s correct={result['correct']} "
              f"failed={result['failed']} | {host}", flush=True)
        for line in proc.stdout.splitlines():
            if m := re.match(r"metric (\S+) = (\S+) (\S+)", line):
                values.setdefault(m[1], []).append(float(m[2]))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        bound = f"bound {bounds[name]:.0%}" if name in bounds else "printed only"
        print(f"{name:<22} median {med:10.4g} spread {spread:6.1%}  {bound:<12}"
              f" values {[round(v, 3) for v in vs]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
