"""Sensitivity self-check: a slowed theta update must show where predicted.

    python3 perfbench/selfcheck.py [--pairs 3] [--seconds 8]

Runs ``build_wide`` untraced in pairs of adjacent runs, normal and with
``--slow-theta`` (alternating which goes first), and once traced each
way.  The prediction: the slowed run has the lower ``build_wide``
``rows_per_s`` in every pair (the two runs of a pair share the host's
state; runs minutes apart may not), ``sketches.theta.update_ns_per_row``
more than doubles, and the summed wall of the sf0.1 heads
(``op.<head>.wall_s``) stays within the benchmark's 0.25 bound.  Prints
one JSON object and exits 1 when the prediction fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEADS_BOUND = 0.25


def run(workload: str, seed: int, seconds: float, trace: int, slow: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if slow:
        cmd.append("--slow-theta")
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"incorrect answers in {cmd}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    rows = {False: [], True: []}
    for i in range(args.pairs):
        order = (False, True) if i % 2 == 0 else (True, False)
        for slow in order:
            rows[slow].append(run("build_wide", args.seed, args.seconds, 0, slow)["rows_per_s"])
    traced = {slow: run("build_wide", args.seed, args.seconds, 1, slow) for slow in (False, True)}
    heads = {
        slow: sum(v for k, v in m.items() if k.startswith("op.") and k.endswith(".wall_s"))
        for slow, m in traced.items()
    }
    theta = {slow: m["sketches.theta.update_ns_per_row"] for slow, m in traced.items()}
    moved = {
        k[3:-7]: round(traced[True][k] - traced[False][k], 3)
        for k in traced[False]
        if k.startswith("op.") and k.endswith(".wall_s")
        and abs(traced[True][k] - traced[False][k]) > 0.1
    }
    report = {
        "rows_per_s": {"normal": rows[False], "slow_theta": rows[True]},
        "sketches.theta.update_ns_per_row": {"normal": theta[False], "slow_theta": theta[True]},
        "heads_wall_s": {"normal": heads[False], "slow_theta": heads[True]},
        "heads_moved_over_0.1s": moved,
    }
    report["moved_as_predicted"] = (
        all(slow < normal for slow, normal in zip(rows[True], rows[False]))
        and theta[True] > 2 * theta[False]
        and abs(heads[True] / heads[False] - 1.0) <= HEADS_BOUND
    )
    print(json.dumps(report))
    return 0 if report["moved_as_predicted"] else 1


if __name__ == "__main__":
    sys.exit(main())
