"""Pinned 1 -> 4 core scaling of bulk_replay (a diagnostic, not one of
the benchmark's metrics).

    python3 perfbench/scaling.py --seed 1

Runs bulk_replay in two fresh processes: pinned to CPU 0 with
``local[1]``, and pinned to CPUs 0-3 with ``local[4]``. Prints
``scaling.eff_1to4`` = (events/s on 4 cores) / (4 x events/s on 1
core), the per-core efficiency the engine's north-star rule bounds
below by 0.8. Needs at least four usable CPUs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def events_per_s(cpus: str, cores: int, seed: int, seconds: float) -> float:
    proc = subprocess.run(
        ["taskset", "-c", cpus, sys.executable, "perfbench/run.py", "--workload", "bulk_replay",
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0", "--cores", str(cores)],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=True,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError(f"bulk_replay on {cores} core(s) failed its oracle gate")
    return result["metrics"]["events_per_s"]["value"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=8.0)
    args = p.parse_args()
    if len(os.sched_getaffinity(0)) < 4:
        print("perfbench: the 1 -> 4 scaling pair needs 4 usable CPUs", file=sys.stderr)
        return 2
    one = events_per_s("0", 1, args.seed, args.seconds)
    four = events_per_s("0-3", 4, args.seed, args.seconds)
    print(json.dumps({
        "events_per_s_1": one,
        "events_per_s_4": four,
        "scaling.eff_1to4": four / (4 * one),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
