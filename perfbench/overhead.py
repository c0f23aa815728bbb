"""Tracing overhead per workload: traced minus untraced CPU time of the timed region.

    python3 perfbench/overhead.py --seeds 1 2 3 --seconds 10 [--workload cdc_trickle ...]

For every workload and seed it runs the benchmark once with tracing off and
once with it on, one run at a time, and prints one JSON line per workload
with the medians of both and their difference (``run_cpu_s`` untraced,
``trace.run_cpu_s`` traced: CPU time, because wall time on a shared host
moves more from run to run than tracing costs).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOAD_NAMES  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", nargs="*", default=list(WORKLOAD_NAMES), choices=WORKLOAD_NAMES)
    p.add_argument("--seeds", nargs="+", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    args = p.parse_args(argv)
    for workload in args.workload:
        plain, traced = [], []
        for seed in args.seeds:
            plain.append(run_once(workload, seed, args.seconds, 0)["metrics"]["run_cpu_s"]["value"])
            traced.append(run_once(workload, seed, args.seconds, 1)["metrics"]["trace.run_cpu_s"]["value"])
        p50, t50 = statistics.median(plain), statistics.median(traced)
        print(json.dumps({"workload": workload, "runs": len(args.seeds), "run_cpu_s": p50,
                          "traced_run_cpu_s": t50, "overhead_s": t50 - p50,
                          "overhead_frac": (t50 - p50) / p50}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
