"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload olap --seeds 1 2 3 4 5

Runs ``run.py`` once per seed, one run at a time, untraced, and prints
for every end-to-end metric its median and its quartile spread (the distance
between the first and third quartile as a share of the median), next
to a third of the metric's bound, which is the steadiness target.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

import spec
from stats import quartile_spread

RUN = Path(__file__).resolve().parent / "run.py"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args(argv)

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t = time.perf_counter()
        out = subprocess.run(
            [
                sys.executable,
                str(RUN),
                "--workload", args.workload,
                "--seed", str(seed),
                "--seconds", str(spec.RUN_SECONDS),
                "--trace", "0",
            ],
            capture_output=True,
            text=True,
            check=True,
        )
        result = json.loads(out.stdout.strip().splitlines()[-1])
        elapsed = time.perf_counter() - t
        print(json.dumps({"seed": seed, "elapsed_s": elapsed, **result}), flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        spread = quartile_spread(vals) if len(vals) > 1 else float("nan")
        print(
            f"{name:<16} median {statistics.median(vals):10.6g}  spread "
            f"{spread:.3f}  target < {spec.END_TO_END[name][2] / 3:.3f}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
