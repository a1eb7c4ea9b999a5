"""The benchmark's one command.

    python3 perfbench/run.py --workload build_wide --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository.  It generates the
workload's inputs from the seed (under ``perfbench/.work``, reused for a
seed already generated), starts a ``local[n]`` session with ``bench.py``'s
confs (n = the cores this process may use), and then, as one driver
issuing ops in a closed loop:

1. sets up ``SETUPS`` times: session (re)start, ``register()`` and one
   cold execution of each op; ``setup_s`` is their median;
2. runs passes of the workload's ops until ``--seconds`` have passed,
   checking every answer against the generator's truth;
3. checks that the rollup equals a direct coarse-key build.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and the metrics.  With ``--trace 0`` they are the end-to-end
metrics; with ``--trace 1`` the run is repeated with tracing on and the
per-layer metrics are reported instead (see ``layers.py``).  Any other
exit code than 0 means the benchmark could not run.
"""

from __future__ import annotations

import argparse
import json
import os
import runpy
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SLOW_THETA_DIR = os.path.join(HERE, "slow_theta")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--slow-theta", action="store_true",
        help="sensitivity self-check: slow theta updates through slow_theta/",
    )
    args = ap.parse_args(argv)

    if not (
        os.path.isfile(os.path.join(ROOT, "bench.py"))
        and os.path.isdir(os.path.join(ROOT, "datasketches_spark"))
    ):
        print(f"no repository checkout around {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # Spark's scratch space and the launcher's temp files stay in the checkout
    tmp = os.path.join(HERE, ".work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    import session

    pypath = [ROOT]
    if args.slow_theta:
        pypath.insert(0, SLOW_THETA_DIR)
        # workers import the shim at start-up; the driver runs it here
        runpy.run_path(os.path.join(SLOW_THETA_DIR, "sitecustomize.py"))
    session.prepend_pythonpath(*pypath)

    import runner
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    n_cpus = session.cpus()
    steal0 = session.steal_ticks()
    try:
        if args.trace:
            import layers

            metrics, tally = layers.traced_run(args, n_cpus)
        else:
            metrics, tally = runner.untraced_run(args, n_cpus)
    finally:
        session.shutdown_jvm()
    steal1 = session.steal_ticks()
    print(
        json.dumps({"cpus": n_cpus, "steal_ticks_delta": (steal1 or 0) - (steal0 or 0),
                    "problems": tally.reasons}),
        flush=True,
    )
    print(
        json.dumps(
            {
                "correct": tally.total_failed == 0,
                "attempted": tally.total_attempted,
                "failed": tally.total_failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
