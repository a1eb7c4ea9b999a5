"""The traced run: per-layer metrics for one workload.

``--trace 1`` first runs the workload untraced (the timed passes in a
restarted session), then again in a fresh session with the event log on
and spans around every op, and then probes each layer through its public
functions:

- ``sketches.<family>.*``: the 8 reference cores, Spark-free, on batches
  cut from the workload's own input (one batch per group);
- ``functions.scalar_ns_per_sketch``: the scalar query UDF bodies,
  Spark-free, over the stored table;
- ``aggregation.*``: ``sketch_partial`` timed into a noop sink, then
  ``sketch_merge`` timed over the cached partials (first family);
- ``io.*``: ``write_sketch_table`` of a cached build, ``read_sketch_table``
  read back in full;
- ``op.<head>.*``: the sf0.1 heads (see ``heads.py``);
- ``spark.*`` and ``python.*``: from the event log, summed over the ops
  of the timed passes and divided by the number of passes;
- ``trace.*``: traced minus untraced ``wall_s`` and ``rows_per_s``.
"""

from __future__ import annotations

import os
import statistics
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen
import heads
import tracing
import workloads
from datasketches_spark import io as dio
from datasketches_spark.aggregation import sketch_merge, sketch_partial
from datasketches_spark.families import (
    FAMILY_CLASSES,
    build_params,
    create_sketch,
    update_sketch,
)
from runner import ROOT, WORK, Runner
from tracing import Tracer

# (family, input column, k when the workload does not build the family)
REFERENCE_FAMILIES = (
    ("theta", "key", 12),
    ("hll", "key", 12),
    ("cpc", "key", 12),
    ("kll", "x", 200),
    ("quantiles", "x", 128),
    ("req", "x", 12),
    ("tdigest", "x", 100),
    ("frequent_items", "s", 10),
)
REPS = 3
SPARK_METRICS = (
    "jobs", "stages", "tasks", "python_nodes", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
)


def _unit(name: str) -> str:
    return "s" if name.endswith("_s") else ("B" if name.endswith("bytes") else "count")


def _best(fn, reps: int = REPS) -> float:
    """Median wall of ``reps`` calls."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def sketch_layer(workload, data_dir: str, batch_rows: int) -> dict:
    facts = pq.read_table(os.path.join(data_dir, "facts.parquet")).to_pandas()
    facts = facts.sort_values("g", kind="stable")
    # one batch per group, as the grouped build sees them, ~64k rows in all
    n_groups = max(1, (1 << 16) // batch_rows)
    subs = [sub for _g, sub in facts[facts["g"] < n_groups].groupby("g")]
    out = {}
    built = {f: k for _c, f, k, _o in workload.specs}
    for fam, col, k in REFERENCE_FAMILIES:
        col = col if col in facts else "key"
        k = built.get(fam, k)
        batches = [sub[col].reset_index(drop=True) for sub in subs]
        rows = sum(len(b) for b in batches)
        sks: list = []

        def build():
            sks.clear()
            for b in batches:
                sk = create_sketch(fam, build_params(fam, k, b))
                update_sketch(fam, sk, b)
                sks.append(sk)

        update_s = _best(build)
        blobs = [sk.serialize() for sk in sks]
        ser_s = _best(lambda: [sk.serialize() for sk in sks])
        cls = FAMILY_CLASSES[fam]
        de_s = _best(lambda: [cls.deserialize(b) for b in blobs])

        def merge_all():
            parts = [cls.deserialize(b) for b in blobs]
            u = create_sketch(fam, build_params(fam, k, batches[0]))
            t0 = time.perf_counter()
            for p in parts:
                u.merge(p)
            return time.perf_counter() - t0

        merge_s = statistics.median(merge_all() for _ in range(REPS))
        p = f"sketches.{fam}."
        out[p + "update_ns_per_row"] = (update_s / rows * 1e9, "ns")
        out[p + "merge_us"] = (merge_s / len(blobs) * 1e6, "us")
        out[p + "serialize_us"] = (ser_s / len(blobs) * 1e6, "us")
        out[p + "deserialize_us"] = (de_s / len(blobs) * 1e6, "us")
        out[p + "bytes"] = (sum(map(len, blobs)) / len(blobs), "B")
    return out


def functions_layer(ctx) -> dict:
    from datasketches_spark.functions.scalars import build_scalar_registry

    reg = build_scalar_registry()
    table = pq.read_table(ctx.table_path).to_pandas()
    calls = [
        (reg[f"datasketch_{f}_estimate"].func, (table[f],))
        for f in workloads.DISTINCT_FAMILIES
        if f in table
    ]
    calls.append(
        (reg["datasketch_kll_quantile"].func, (table["kll"], pd.Series([0.5] * len(table))))
    )
    wall = _best(lambda: [fn(*a) for fn, a in calls])
    return {"functions.scalar_ns_per_sketch": (wall / (len(calls) * len(table)) * 1e9, "ns")}


def aggregation_layer(spark, ctx, tracer: Tracer) -> dict:
    col, fam, k, _out = ctx.workload.specs[0]
    partial = sketch_partial(ctx.facts, col, fam, ["g"], k)
    with tracer.span("op", "aggregation.partial"):
        t0 = time.perf_counter()
        partial.write.format("noop").mode("overwrite").save()
        partial_s = time.perf_counter() - t0
    cached = partial.cache()
    blobs, nbytes = cached.agg(F.count("*"), F.sum(F.length("sketch"))).first()
    with tracer.span("op", "aggregation.merge"):
        t0 = time.perf_counter()
        sketch_merge(cached, fam, ["g"], k).write.format("noop").mode("overwrite").save()
        merge_s = time.perf_counter() - t0
    cached.unpersist()
    return {
        "aggregation.partial_s": (partial_s, "s"),
        "aggregation.merge_s": (merge_s, "s"),
        "aggregation.partial_blobs": (blobs, "count"),
        "aggregation.partial_bytes": (nbytes, "B"),
    }


def io_layer(spark, ctx, tracer: Tracer) -> dict:
    built = workloads.build_df(ctx).cache()
    built.count()
    first, *rest = ctx.workload.specs
    for _c, fam, k, out in rest:
        built = dio.with_sketch_metadata(built, out, fam, k)
    path = os.path.join(ctx.out_dir, "io_layer")
    with tracer.span("op", "io.write"):
        t0 = time.perf_counter()
        dio.write_sketch_table(built, path, first[3], first[1], first[2])
        write_s = time.perf_counter() - t0
    table_bytes = sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )
    with tracer.span("op", "io.read"):
        t0 = time.perf_counter()
        df = dio.read_sketch_table(spark, path, first[3])
        df.agg(*[F.sum(F.length(c)) for c in ctx.sketch_cols]).collect()
        read_s = time.perf_counter() - t0
    built.unpersist()
    return {
        "io.write_s": (write_s, "s"),
        "io.read_s": (read_s, "s"),
        "io.table_bytes": (table_bytes, "B"),
    }


def heads_layer(spark, tracer: Tracer, tally: checks.Tally, seed: int, n_cpus: int):
    """Cold pass, then the timed pass; returns {head: (wall, op span id)}."""
    sf_dir = gen.tpch_like(os.path.join(WORK, "data"), seed)
    h = heads.Heads(ROOT, spark, sf_dir, n_cpus)
    warmup = {}
    with tracer.span("pass", "heads-cold"):
        for name in heads.ALL_HEADS:
            with tracer.span("op", f"cold:{name}"):
                warmup[name] = heads.run_head(spark, name, sf_dir, h.queries)[1]
    out = {}
    with tracer.span("pass", "heads"):
        for name in heads.ALL_HEADS:
            with tracer.span("op", name) as sp:
                wall, answer = heads.run_head(spark, name, sf_dir, h.queries)
            out[name] = (wall, sp["id"])
            tally.record(f"head:{name}", h.check(name, warmup[name], answer))
    return out


def traced_run(args, n_cpus: int):
    tally = checks.Tally()
    base = Runner(args.workload, args.seed, n_cpus, Tracer(False), tally=tally)
    try:
        # two set-ups, so the untraced passes run in a restarted session of a
        # warmed JVM, like the traced passes below
        base.setup(2)
        base.measure(args.seconds)
        untraced = base.end_to_end()
    finally:
        base.stop()

    tracer = Tracer(True)
    trace_dir = os.path.join(WORK, "trace", tracer.run_id)
    log_dir = os.path.join(trace_dir, "eventlog")
    r = Runner(args.workload, args.seed, n_cpus, tracer, log_dir, tally=tally)
    metrics: dict = {}
    try:
        with tracer.span("workload", args.workload):
            r.setup(1)
            r.measure(args.seconds)
            traced = r.end_to_end()
            r.final_checks()
            metrics.update(
                sketch_layer(r.w, r.data_dir, r.ctx.truth["rows"] // r.ctx.groups)
            )
            metrics.update(functions_layer(r.ctx))
            with tracer.span("pass", "layers"):
                metrics.update(aggregation_layer(r.spark, r.ctx, tracer))
                metrics.update(io_layer(r.spark, r.ctx, tracer))
            head_ops = heads_layer(r.spark, tracer, tally, args.seed, n_cpus)
    finally:
        r.stop()  # flushes the event log

    ops = tracing.read_event_log(log_dir, tracer)
    empty = tracing.op_totals_template()
    pass_ids = {p["id"] for p in r.passes}
    op_spans = [s for s in tracer.spans if s["kind"] == "op" and s["parent"] in pass_ids]
    n = len(r.passes)
    for name in SPARK_METRICS:
        total = sum(ops.get(s["id"], empty)[name] for s in op_spans)
        metrics[f"spark.{name}"] = (total / n, _unit(name))
    wait = sum(
        tracing.uncovered(s["start"], s["end"], ops.get(s["id"], empty)["intervals"])
        for s in op_spans
    )
    metrics["spark.driver_wait_s"] = (wait / n, "s")
    for name, _scale in tracing.PYTHON_METRICS.values():
        total = sum(ops.get(s["id"], empty)[name] for s in op_spans)
        metrics[f"python.{name}"] = (total / n, _unit(name))
    for name, (wall, sid) in head_ops.items():
        metrics[f"op.{name}.wall_s"] = (wall, "s")
        metrics[f"op.{name}.stages"] = (ops.get(sid, empty)["stages"], "count")
    metrics["trace.overhead_wall_s"] = (traced["wall_s"][0] - untraced["wall_s"][0], "s")
    metrics["trace.overhead_rows_per_s"] = (
        traced["rows_per_s"][0] - untraced["rows_per_s"][0], "1/s"
    )
    tracer.write(os.path.join(trace_dir, "spans.json"))
    print(f"spans: {os.path.join(trace_dir, 'spans.json')} ({len(tracer.spans)})", flush=True)
    return metrics, tally
