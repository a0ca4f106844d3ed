"""Tracing overhead: run one workload untraced and traced on the same seed
and print the traced run's end-to-end metrics minus the untraced run's,
with the traced run's per-layer metrics and baseline counts.

    python3 perfbench/overhead.py --workload served-interactive --seed 1 --seconds 25
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(args, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, check=True)
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    _, plain = _run(args, 0)
    traced_detail, per_layer = _run(args, 1)
    traced = traced_detail["end_to_end"]
    rows = {}
    for name, m in plain["metrics"].items():
        base = m["value"]
        rows[name] = {"untraced": base, "traced": traced[name],
                      "overhead": traced[name] - base,
                      "overhead_share": (traced[name] - base) / base if base else None}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "overhead": rows, "per_layer": per_layer["metrics"],
                      "baseline": traced_detail["baseline"]}, indent=1))


if __name__ == "__main__":
    main()
