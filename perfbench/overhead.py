"""Tracing overhead of one workload: runs ``run.py`` untraced and then
traced with the same seed, prints the difference and then the traced
run's per-layer metrics.

    python3 perfbench/overhead.py --workload dashboard_hot --seed 1 \\
        --seconds 18
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def metrics(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    args = parser.parse_args()
    plain = metrics(args.workload, args.seed, args.seconds, 0)
    traced = metrics(args.workload, args.seed, args.seconds, 1)
    for name in ("latency_p50_ms", "throughput_rps"):
        off, on = plain[name], traced[f"trace.{name}"]
        print(f"tracing overhead {args.workload} {name}: "
              f"{off:.4g} untraced, {on:.4g} traced "
              f"({on - off:+.4g}, {100.0 * (on - off) / off:+.1f}%)")
    for name, value in traced.items():
        print(f"  {name:28s} {value:.4g}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
