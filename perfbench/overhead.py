"""Tracing overhead of one workload at one seed: run it untraced and
traced, and print each end-to-end metric of both runs and their difference.

    python3 perfbench/overhead.py --workload ingest --seed 1 --seconds 15
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], cwd=ROOT, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    a = p.parse_args()
    plain = run(a.workload, a.seed, a.seconds, 0)["metrics"]
    run(a.workload, a.seed, a.seconds, 1)
    with open(os.path.join(ROOT, ".perfbench_work", "traces",
                           f"{a.workload}-s{a.seed}.json"),
              encoding="utf-8") as f:
        traced = json.load(f)["e2e_traced"]
    for name, m in plain.items():
        t, u = traced[name], m["value"]
        print(f"{name:14s} untraced {u:12.4f}  traced {t:12.4f}  "
              f"overhead {t - u:+.4f} {m['unit']} ({(t - u) / u:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
