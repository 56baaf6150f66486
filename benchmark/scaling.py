"""Scaling mode: one workload at local[1] and at local[N] on the same input.

    python3 benchmark/scaling.py --workload corpus_ops --seed 1

Runs ``benchmark/run.py --trace 1`` once per core count, in fresh processes
(a Spark master cannot change inside one JVM), with the same seed and so the
same input, and prints one JSON line with both pass times
(``trace.wall_s``) and the scaling efficiency
``(wall_s at 1 core / wall_s at N cores) / N``. This is
separate from the default runs: their metrics always come from all cores.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def wall_s(workload: str, seed: int, seconds: float, cores: int) -> float:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1",
         "--cores", str(cores)],
        capture_output=True, text=True, timeout=900, cwd=os.path.dirname(HERE),
    )
    if out.returncode != 0:
        raise RuntimeError(f"run.py at {cores} cores failed:\n{out.stderr[-2000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError(f"run.py at {cores} cores produced wrong output")
    return result["metrics"]["trace.wall_s"]["value"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 1)
    args = ap.parse_args()
    low = wall_s(args.workload, args.seed, args.seconds, 1)
    high = wall_s(args.workload, args.seed, args.seconds, args.cores)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": [1, args.cores],
        "wall_s": [low, high], "efficiency": (low / high) / args.cores,
    }))


if __name__ == "__main__":
    main()
