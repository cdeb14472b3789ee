"""Tracing overhead: the traced run's end-to-end numbers minus the untraced run's.

    python3 benchmark/overhead.py --workload <name> --seed <n> [--seconds <s>]

Runs the benchmark twice on the same seed, once with ``--trace 0`` and
once with ``--trace 1``, and prints, per end-to-end metric, the untraced
value, the traced value (reported by the traced run as ``traced.<name>``)
and their difference.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys


def result(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain = result(args.workload, args.seed, args.seconds, 0)["metrics"]
    traced = result(args.workload, args.seed, args.seconds, 1)["metrics"]
    print(f"{'metric':30s} {'untraced':>12s} {'traced':>12s} {'overhead':>12s}")
    for name, m in plain.items():
        t = traced[f"traced.{name}"]["value"]
        print(f"{name:30s} {m['value']:12.4g} {t:12.4g} {t - m['value']:+12.4g} {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
