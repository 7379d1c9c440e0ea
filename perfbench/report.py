"""Every workload, untraced then traced, for one seed; prints each named
metric with its unit and the tracing overhead. Run from the repository
root:

    python3 perfbench/report.py --seed 1
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys

from run import WORKLOADS


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(named metrics printed by the run, its final JSON result)."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.splitlines()
    named = {}
    for line in out[:-1]:
        parts = line.split()
        if len(parts) == 5 and parts[0] == workload and parts[2] == "=":
            named[parts[1]] = (float(parts[3]), parts[4])
        elif line.startswith(workload):
            print(line)
    return named, json.loads(out[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    for w in WORKLOADS:
        plain, _ = run_once(w, args.seed, args.seconds, 0)
        traced, result = run_once(w, args.seed, args.seconds, 1)
        for name, (v, unit) in {**traced, **plain}.items():
            src = "untraced" if name in plain else "traced"
            print(f"{w:18s} {name:36s} {v:14.6g} {unit:6s} ({src})")
        for name in ("setup_s", "pass_s", "peak_rss_mb"):
            ratio = traced[name][0] / plain[name][0]
            print(f"{w:18s} tracing overhead {name:19s} {ratio - 1:+14.2%}")
        print(f"{w:18s} per-layer metrics written: {len(result['metrics'])}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
