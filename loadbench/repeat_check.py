"""Count repeatability check: two traced runs of one seed must report
identical counts.

    python3 loadbench/repeat_check.py --workload cdc_merge --seed 1 --seconds 8

Runs ``run.py --trace 1`` twice and compares the counts in
``tracing.REPEATABLE``. Prints each count from both runs and names every
count that does not repeat; exits non-zero when one does not.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

from tracing import REPEATABLE

HERE = Path(__file__).resolve().parent


def traced_counts(workload: str, seed: int, seconds: float) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        check=True, capture_output=True, text=True,
    ).stdout
    metrics = json.loads(out.strip().splitlines()[-1])["metrics"]
    return {name: metrics[name]["value"] for name in REPEATABLE}


def main() -> int:
    ap = argparse.ArgumentParser(description="two traced runs must report identical counts")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    args = ap.parse_args()
    first = traced_counts(args.workload, args.seed, args.seconds)
    second = traced_counts(args.workload, args.seed, args.seconds)
    differ = [n for n in REPEATABLE if first[n] != second[n]]
    for name in REPEATABLE:
        print(f"{name}: {first[name]} / {second[name]}")
    print("counts not repeating: " + (", ".join(differ) if differ else "none"))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
