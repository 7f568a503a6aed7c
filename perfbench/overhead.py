"""Tracing overhead: the same workload and seed untraced, then traced.

    python3 perfbench/overhead.py --workload corpus_takedown --seed 1 \
        --seconds 1

Prints one JSON object: for every end-to-end metric the untraced value,
the traced value and their difference (traced minus untraced). The traced
run reports its end-to-end figures in its context line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True,
        check=True).stdout.strip().splitlines()
    return json.loads(out[-2])["context"]["end_to_end"]


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=1)
    a = p.parse_args()
    plain = run(a.workload, a.seed, a.seconds, 0)
    traced = run(a.workload, a.seed, a.seconds, 1)
    print(json.dumps({k: {"untraced": plain[k], "traced": traced[k],
                          "overhead": traced[k] - plain[k]}
                      for k in plain if k in traced}))


if __name__ == "__main__":
    main()
