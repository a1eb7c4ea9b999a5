"""One workload in one session: set-ups, timed passes and checks."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import checks
import session
import workloads
from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUPS = 3
MIN_PASSES = 2


def tail(xs):
    """(value, percentile, samples beyond) for the highest whole percentile
    that leaves at least ten samples beyond it."""
    xs = sorted(xs)
    for p in range(99, 0, -1):
        idx = min(len(xs) - 1, int(p / 100 * len(xs)))
        if len(xs) - 1 - idx >= 10:
            return xs[idx], p, len(xs) - 1 - idx
    return xs[-1], 100, 0


class Runner:
    """One workload in one session: set-ups, timed passes, checks."""

    def __init__(self, workload, seed: int, n_cpus: int, tracer, event_log_dir=None,
                 tally: checks.Tally | None = None):
        self.w = workloads.WORKLOADS[workload]
        self.seed = seed
        self.n = n_cpus
        self.tracer = tracer
        self.event_log_dir = event_log_dir
        self.tally = tally or checks.Tally()
        self.out_dir = os.path.join(WORK, "out", tracer.run_id)
        self.gen_s = time.perf_counter()
        self.data_dir = self.w.generate(os.path.join(WORK, "data"), seed)
        self.gen_s = time.perf_counter() - self.gen_s
        self.spark = None
        self.ctx = None
        self.setups: list[float] = []
        self.walls: dict[str, list[float]] = {}
        self.pass_walls: list[float] = []
        self.passes: list[dict] = []

    def start(self) -> float:
        if self.spark is not None:
            self.spark.stop()
        self.spark, secs = session.start(ROOT, self.data_dir, self.n, self.event_log_dir)
        self.tracer.spark = self.spark
        if self.ctx is None:
            self.ctx = workloads.prepare(
                self.spark, self.w, self.data_dir, self.out_dir, self.seed
            )
        else:
            workloads.rebind(self.ctx, self.spark)
        return secs

    def run_op(self, name: str) -> float:
        with self.tracer.span("op", name):
            t0 = time.perf_counter()
            check = workloads.OPS[name](self.ctx)
            dt = time.perf_counter() - t0
        self.tally.record(name, check())
        return dt

    def setup(self, times: int) -> None:
        """(Re)start the session and run each op once, cold."""
        for _ in range(times):
            secs = self.start()
            with self.tracer.span("pass", "setup"):
                for op in dict.fromkeys(workloads.pass_plan(self.w)):
                    secs += self.run_op(op)
            self.setups.append(secs)

    def measure(self, seconds: float) -> None:
        """Whole passes until ``seconds`` have passed (at least MIN_PASSES)."""
        deadline = time.perf_counter() + seconds
        while len(self.pass_walls) < MIN_PASSES or time.perf_counter() < deadline:
            with self.tracer.span("pass", f"pass{len(self.pass_walls)}") as sp:
                wall = 0.0
                for op in workloads.pass_plan(self.w):
                    dt = self.run_op(op)
                    self.walls.setdefault(op, []).append(dt)
                    wall += dt
            self.pass_walls.append(wall)
            self.passes.append(sp)

    def final_checks(self) -> None:
        self.tally.record("rollup_vs_direct", workloads.check_rollup_equals_direct(self.ctx))

    def end_to_end(self) -> dict:
        rows = int(self.ctx.truth["rows"])
        q, pct, beyond = tail(self.walls["query"])
        print(
            f"query_tail_s is p{pct} of {len(self.walls['query'])} queries "
            f"({beyond} beyond it); {len(self.pass_walls)} passes",
            flush=True,
        )
        print(json.dumps({
            "setup_s": self.setups, "pass_s": self.pass_walls,
            "store_s": self.walls["store"], "rollup_s": self.walls["rollup"],
        }), flush=True)
        return {
            "setup_s": (statistics.median(self.setups), "s"),
            "rows_per_s": (rows / statistics.median(self.walls["store"]), "1/s"),
            "rollup_s": (statistics.median(self.walls["rollup"]), "s"),
            "query_p50_s": (statistics.median(self.walls["query"]), "s"),
            "query_tail_s": (q, "s"),
            "stored_bytes_per_sketch": (workloads.stored_bytes_per_sketch(self.ctx), "B"),
            "distinct_rel_err": (self.ctx.distinct_rel_err, "ratio"),
            "wall_s": (statistics.median(self.pass_walls), "s"),
        }

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        shutil.rmtree(self.out_dir, ignore_errors=True)


def untraced_run(args, n_cpus: int):
    runner = Runner(args.workload, args.seed, n_cpus, Tracer(False))
    print(f"generated inputs in {runner.gen_s:.2f} s", flush=True)
    try:
        runner.setup(SETUPS)
        runner.measure(args.seconds)
        runner.final_checks()
        metrics = runner.end_to_end()
    finally:
        runner.stop()
    return metrics, runner.tally
