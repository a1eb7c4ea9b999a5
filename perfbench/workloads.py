"""The two timed workloads and the ops each pass runs.

Both workloads run the same three ops per pass, over inputs of opposite
shape, so a layer an optimisation targets does most of the work in one
workload and little in the other:

- ``store``: a grouped ``sketch_agg_multi`` build written with
  ``io.write_sketch_table``;
- ``rollup``: the stored table read back with ``io.read_sketch_table``
  and its blobs merged to coarse keys (``g >> coarse_shift``);
- ``query``: short scalar estimate / quantile queries over seeded
  random slices of the stored table.

``build_wide`` has 128 groups of 8192 rows and 8 families, so ``store``
is sketch updates plus Arrow transfer.  ``stored_sketches`` has 512
groups of 256 rows and 3 families, so ``store`` is per-group dispatch,
serialize, blob shuffle and parquet I/O with little update work.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datasketches_spark import io as dio
from datasketches_spark.aggregation import sketch_agg_multi
from datasketches_spark.families import (
    FAMILY_CLASSES,
    build_params,
    create_sketch,
    update_sketch,
)

import checks
import gen

DISTINCT_FAMILIES = ("theta", "hll", "cpc")
QUANTILE_FAMILIES = ("kll", "quantiles", "req", "tdigest")


@dataclass(frozen=True)
class Workload:
    name: str
    generate: object
    specs: tuple  # (input_col, family, k, output_col)
    coarse_shift: int
    slice_groups: int
    queries_per_pass: int
    # where distinct_rel_err is taken: "store" (fine) or "rollup" (coarse)
    error_level: str

    def family_k(self, family: str) -> int:
        return next(k for _c, f, k, _o in self.specs if f == family)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="build_wide",
            generate=gen.wide_facts,
            specs=(
                ("key", "theta", 12, "theta"),
                ("key", "hll", 12, "hll"),
                ("key", "cpc", 12, "cpc"),
                ("x", "kll", 200, "kll"),
                ("x", "quantiles", 128, "quantiles"),
                ("x", "req", 12, "req"),
                ("x", "tdigest", 100, "tdigest"),
                ("s", "frequent_items", 10, "frequent_items"),
            ),
            coarse_shift=gen.WIDE["coarse_shift"],
            slice_groups=16,
            queries_per_pass=12,
            error_level="store",
        ),
        Workload(
            name="stored_sketches",
            generate=gen.stored_facts,
            specs=(
                ("key", "theta", 9, "theta"),
                ("key", "hll", 9, "hll"),
                ("x", "kll", 200, "kll"),
            ),
            coarse_shift=gen.STORED["coarse_shift"],
            slice_groups=64,
            queries_per_pass=12,
            error_level="rollup",
        ),
    )
}


@dataclass
class Ctx:
    """Everything one run's ops share."""

    spark: object
    workload: Workload
    data_dir: str
    out_dir: str
    truth: dict = field(default_factory=dict)
    facts: object = None
    stored: object = None
    query_rng: random.Random = None
    query_no: int = 0
    distinct_rel_err: float | None = None
    last_rollup: list | None = None

    @property
    def table_path(self) -> str:
        return os.path.join(self.out_dir, "stored")

    @property
    def sketch_cols(self) -> list[str]:
        return [s[3] for s in self.workload.specs]

    @property
    def groups(self) -> int:
        return self.truth["distinct"].size


def prepare(spark, workload: Workload, data_dir: str, out_dir: str, seed: int) -> Ctx:
    with np.load(os.path.join(data_dir, "truth.npz")) as z:
        truth = {k: z[k] for k in z.files}
    ctx = Ctx(spark, workload, data_dir, out_dir, truth)
    ctx.facts = spark.read.parquet(os.path.join(data_dir, "facts.parquet"))
    ctx.query_rng = random.Random(seed)
    return ctx


def rebind(ctx: Ctx, spark) -> None:
    """Point the context at a restarted session."""
    ctx.spark = spark
    ctx.facts = spark.read.parquet(os.path.join(ctx.data_dir, "facts.parquet"))
    ctx.stored = None


# ---------------------------------------------------------------- ops


def build_df(ctx: Ctx):
    return sketch_agg_multi(ctx.facts, list(ctx.workload.specs), group_cols=["g"])


# Each op runs its Spark work and returns a zero-argument check, which
# the caller runs outside the op's timing; the check returns a problem
# description, or None when every answer is right.


def op_store(ctx: Ctx):
    built = build_df(ctx)
    first, *rest = ctx.workload.specs
    for _col, fam, k, out in rest:
        built = dio.with_sketch_metadata(built, out, fam, k)
    dio.write_sketch_table(built, ctx.table_path, first[3], first[1], first[2])
    return lambda: check_store(ctx)


def _rollup_df(ctx: Ctx):
    ctx.stored = dio.read_sketch_table(ctx.spark, ctx.table_path, ctx.workload.specs[0][3])
    coarse = ctx.stored.withColumn("c", F.shiftright("g", ctx.workload.coarse_shift))
    specs = [(out, fam, k, out) for _c, fam, k, out in ctx.workload.specs]
    return sketch_agg_multi(coarse.drop("g"), specs, group_cols=["c"])


def op_rollup(ctx: Ctx):
    rows = _rollup_df(ctx).collect()
    ctx.last_rollup = rows
    return lambda: check_rollup(ctx, rows)


def op_query(ctx: Ctx):
    w = ctx.workload
    n = ctx.groups
    lo = ctx.query_rng.randrange(n - w.slice_groups + 1)
    hi = lo + w.slice_groups - 1
    sl = ctx.stored.where(F.col("g").between(lo, hi))
    ctx.query_no += 1
    if ctx.query_no % 2:
        fams = [f for f in DISTINCT_FAMILIES if f in ctx.sketch_cols]
        rows = sl.select(
            "g", *[F.expr(f"datasketch_{f}_estimate({f})").alias(f) for f in fams]
        ).collect()
        return lambda: check_query_estimates(ctx, rows, fams, lo, hi)
    rank = ctx.query_rng.choice([0.1, 0.5, 0.9])
    rows = sl.select("g", F.expr(f"datasketch_kll_quantile(kll, {rank})").alias("q")).collect()
    return lambda: check_query_quantiles(ctx, rows, rank, lo, hi)


OPS = {"store": op_store, "rollup": op_rollup, "query": op_query}


ROLLUPS_PER_PASS = 3


def pass_plan(workload: Workload) -> list[str]:
    """store, then rounds of one rollup and a share of the queries: a
    short op needs several samples per pass for a steady median."""
    share = ["query"] * (workload.queries_per_pass // ROLLUPS_PER_PASS)
    return ["store"] + ["rollup", *share] * ROLLUPS_PER_PASS


# ---------------------------------------------------------------- checks


def _deser(family: str, blob) -> object:
    return FAMILY_CLASSES[family].deserialize(bytes(blob))


def _group_x(ctx: Ctx, g: int) -> np.ndarray:
    off = ctx.truth["offsets"]
    return ctx.truth["x_sorted"][off[g] : off[g + 1]]


def _distinct_problem(ctx, ests: dict, exact: np.ndarray, errs: list) -> str | None:
    for fam, est in ests.items():
        est = np.asarray(est, dtype=float)
        misses = checks.distinct_misses(est, exact, fam, ctx.workload.family_k(fam))
        errs.append(checks.rel_err_rms(est, exact))
        if misses > checks.allowed_misses(est.size, checks.P_OUTSIDE_3SE):
            return f"{fam}: {misses}/{est.size} estimates outside 3 SE"
    return None


def check_store(ctx: Ctx) -> str | None:
    """Read the written table Spark-free and check every sketch."""
    table = pq.read_table(ctx.table_path).to_pydict()
    if sorted(table["g"]) != list(range(ctx.groups)):
        return "stored table does not hold one row per group"
    order = np.argsort(table["g"])
    ests: dict[str, list] = {}
    rank_misses, rank_checks = 0, 0
    for i in order:
        g = int(table["g"][i])
        for _c, fam, _k, col in ctx.workload.specs:
            sk = _deser(fam, table[col][i])
            if fam in DISTINCT_FAMILIES:
                ests.setdefault(fam, []).append(sk.get_estimate())
            elif fam in QUANTILE_FAMILIES:
                rank_misses += checks.rank_misses(sk, fam, _group_x(ctx, g), gen.RANKS)
                rank_checks += gen.RANKS.size
            elif fam == "frequent_items":
                if not checks.heavy_hitters_ok(
                    sk, ctx.truth["top_items"][g], ctx.truth["top_counts"][g]
                ):
                    return f"group {g}: a true heavy hitter is missing"
    if rank_misses > checks.allowed_misses(rank_checks, checks.P_RANK_MISS):
        return f"{rank_misses}/{rank_checks} quantile ranks outside their band"
    errs: list[float] = []
    problem = _distinct_problem(ctx, ests, ctx.truth["distinct"], errs)
    if ctx.workload.error_level == "store":
        ctx.distinct_rel_err = max(errs)
    return problem


def check_rollup(ctx: Ctx, rows) -> str | None:
    n_coarse = ctx.groups >> ctx.workload.coarse_shift
    if sorted(r["c"] for r in rows) != list(range(n_coarse)):
        return "rollup does not hold one row per coarse key"
    rows = sorted(rows, key=lambda r: r["c"])
    ests = {
        fam: [_deser(fam, r[fam]).get_estimate() for r in rows]
        for fam in DISTINCT_FAMILIES
        if fam in ctx.sketch_cols
    }
    errs: list[float] = []
    problem = _distinct_problem(ctx, ests, ctx.truth["coarse_distinct"], errs)
    if ctx.workload.error_level == "rollup":
        ctx.distinct_rel_err = max(errs)
    return problem


def check_rollup_equals_direct(ctx: Ctx) -> str | None:
    """The theta/HLL merge of stored blobs must equal a direct build of
    the raw rows at the coarse key (both merges are exact).  The direct
    build runs in this process, on the same sketch cores, without Spark."""
    facts = pq.read_table(os.path.join(ctx.data_dir, "facts.parquet"), columns=["g", "key"])
    coarse = facts["g"].to_numpy() >> ctx.workload.coarse_shift
    keys = facts["key"].to_numpy()
    for r in ctx.last_rollup:
        vals = pd.Series(keys[coarse == r["c"]])
        for fam in ("theta", "hll"):
            direct = create_sketch(fam, build_params(fam, ctx.workload.family_k(fam), vals))
            update_sketch(fam, direct, vals)
            a, b = _deser(fam, r[fam]).get_estimate(), direct.get_estimate()
            if a != b:
                return f"coarse key {r['c']}: {fam} rollup {a} != direct build {b}"
    return None


def check_query_estimates(ctx: Ctx, rows, fams, lo: int, hi: int) -> str | None:
    if sorted(r["g"] for r in rows) != list(range(lo, hi + 1)):
        return f"slice [{lo}, {hi}] returned the wrong groups"
    rows = sorted(rows, key=lambda r: r["g"])
    exact = ctx.truth["distinct"][lo : hi + 1]
    return _distinct_problem(ctx, {f: [r[f] for r in rows] for f in fams}, exact, [])


def check_query_quantiles(ctx: Ctx, rows, rank: float, lo: int, hi: int) -> str | None:
    if sorted(r["g"] for r in rows) != list(range(lo, hi + 1)):
        return f"slice [{lo}, {hi}] returned the wrong groups"
    k = ctx.workload.family_k("kll")
    band = 2.0 * FAMILY_CLASSES["kll"](k).normalized_rank_error(True)
    misses = sum(
        abs(checks.true_rank(_group_x(ctx, r["g"]), r["q"]) - rank) > band for r in rows
    )
    if misses > checks.allowed_misses(len(rows), checks.P_RANK_MISS):
        return f"{misses}/{len(rows)} kll quantiles outside their rank band"
    return None


def stored_bytes_per_sketch(ctx: Ctx) -> float:
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _d, files in os.walk(ctx.table_path)
        for f in files
        if f.endswith(".parquet")
    )
    return total / (ctx.groups * len(ctx.sketch_cols))
