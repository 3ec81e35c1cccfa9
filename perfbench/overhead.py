"""Tracing overhead: the same workload and seed, untraced then traced.

    python3 perfbench/overhead.py --workload candle_ingest --seed 1 --seconds 10

Prints each end-to-end metric from both runs and the traced run's
excess over the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _end_to_end(args: argparse.Namespace, trace: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    ).stdout
    report = next(json.loads(line) for line in out.splitlines() if line.startswith("{"))
    return report["end_to_end"]


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    args = p.parse_args()
    plain, traced = _end_to_end(args, 0), _end_to_end(args, 1)
    for name, base in plain.items():
        extra = traced[name] - base
        print(f"{name:14s} untraced={base:.6g} traced={traced[name]:.6g} "
              f"overhead={extra:+.6g} ({extra / base:+.1%})")


if __name__ == "__main__":
    main()
