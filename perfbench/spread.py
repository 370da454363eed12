"""Run one workload under several seeds and print each end-to-end
metric's median and quartile spread (IQR / median), the statistic
the benchmark's bounds are checked against, and the same for the
wall-clock figures the environment record holds.

    python3 perfbench/spread.py --workload catalog_session --seeds 1 2 3 4 5
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
RECORDED = ("latency_p50_ms", "latency_p90_ms", "ops_per_s")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=25)
    args = ap.parse_args()
    runs = []
    for seed in args.seeds:
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()
        result = json.loads(out[-1])
        env = json.loads(out[-2])["env"]
        runs.append({**result["metrics"], **{k: {"value": env[k]} for k in RECORDED}})
        print(
            f"seed {seed}: {time.monotonic() - t0:.1f}s wall, correct={result['correct']} "
            f"failed={result['failed']}/{result['attempted']} steal={env['steal_pct']:.2f}% "
            + " ".join(f"{k}={v['value']:.4g}" for k, v in runs[-1].items()),
            flush=True,
        )
    print(f"{'metric':40s} {'median':>12s} {'iqr/median':>10s}")
    for name in runs[0]:
        values = [r[name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        print(f"{name:40s} {med:12.5g} {(q3 - q1) / med if med else 0.0:10.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
